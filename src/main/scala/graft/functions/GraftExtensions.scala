package graft.functions

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** Session extension entry point: binds the library's native SQL functions.
  * Register with
  * `.config("spark.sql.extensions", "graft.functions.GraftExtensions")`
  * (set by `graft.GraftSession`; works identically under spark-submit on a
  * cluster).
  *
  *   - `canon_url(x)`, `surt(x)` and `resolve_link(b, h)` build the native
  *     URL kernels through [[CanonExpressions]], the same builders the
  *     Column API uses, so `canon_url(resolve_link(b, h))` analyzes to one
  *     fused `resolve_canon_surt(b, h).url` call;
  *   - `extract_links_gen(html)` is X1 as a table-generating function:
  *     `LATERAL VIEW extract_links_gen(html) l AS href, anchor`.
  *
  * A session-registered UDF of the same name would shadow any of these, so
  * `UrlFunctions.register` registers none of them; the array-returning
  * `extract_links` stays a UDF, hence the generator's own identifier.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  private def inject(ext: SparkSessionExtensions, name: String, cls: Class[_], arity: Int)(
      build: Seq[Expression] => Expression): Unit =
    ext.injectFunction((
      FunctionIdentifier(name),
      new ExpressionInfo(cls.getName, name),
      (args: Seq[Expression]) => {
        require(args.length == arity, s"$name takes $arity argument(s), got ${args.length}")
        build(args)
      }))

  override def apply(ext: SparkSessionExtensions): Unit = {
    inject(ext, "canon_url", classOf[CanonUrl], 1)(a => CanonExpressions.canon(a.head))
    inject(ext, "surt", classOf[SurtOf], 1)(a => CanonExpressions.surt(a.head))
    inject(ext, "resolve_link", classOf[ResolveLink], 2)(a => ResolveLink(a(0), a(1)))
    inject(ext, "extract_links_gen", classOf[ExtractLinksGen], 1)(a => ExtractLinksGen(a.head))
  }
}
