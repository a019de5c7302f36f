package graft.functions

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, GetStructField, ScalaUDF}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule

/** Catalyst optimizer rule: rewrite the library's registered URL ScalaUDFs
  * into their native codegen expressions, and FUSE the `canon ∘ resolve`
  * composition into the single-kernel [[ResolveCanonSurt]].
  *
  * Why a rule and not just exposing the native Columns: the engine's own
  * plans already call [[CanonExpressions]] directly, but a user driving the
  * library through `spark.sql(...)` (or composing the public UDFs with the
  * Column API) writes `canon_url(resolve_link(base, href))` — which executes
  * as two ScalaUDF closure dispatches with an intermediate resolved-URL
  * string, outside whole-stage codegen. This rule makes the declarative form
  * compile to the same fused static-call kernel the engine uses:
  *
  *   - `canon_url(resolve_link(b, h))` → `resolve_canon_surt(b, h).url`
  *     (one kernel call: resolve + canonicalize in a single pass, no
  *     intermediate string column)
  *   - `surt(resolve_link(b, h))`      → `resolve_canon_surt(b, h).surt`
  *   - `canon_url(x)` → native [[CanonUrl]]; `surt(x)` → native [[SurtOf]]
  *
  * Equivalence: `UrlCanon.canonParts(raw).url == canonicalize(raw)` and
  * `.surt == surt(raw)` by construction (UrlCanon.scala — canonParts runs
  * the identical canonicalize/parse pipeline), and [[ResolveCanonSurt]]
  * passes nulls through the same total kernel the UDF composition uses, so
  * the rewrite is exact on every input including nulls. Pinned by
  * ExtensionsSpec (plan assertion + value equality incl. null edges).
  *
  * Matching is by registered UDF NAME (`udfName`), which both
  * `UrlFunctions.register` and the `.withName`-tagged Column-API vals carry;
  * a user who registers an unrelated function under these names opts out of
  * the library's semantics and is out of scope (documented contract).
  *
  * Runs in the operator-optimization batch (fixpoint), injected via
  * [[GraftExtensions]] — `spark.sql.extensions=graft.functions.GraftExtensions`,
  * set by `graft.GraftSession` and usable verbatim in spark-submit.
  */
object NativeUrlRewrite extends Rule[LogicalPlan] {

  private object Named {
    def unapply(e: Expression): Option[(String, Seq[Expression])] = e match {
      case u: ScalaUDF if u.udfName.isDefined => Some((u.udfName.get, u.children))
      case _ => None
    }
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformAllExpressions {
    // fusion first (transform is top-down, so the composed form is seen
    // before its children are rewritten individually)
    case Named("canon_url", Seq(Named("resolve_link", Seq(b, h)))) =>
      GetStructField(ResolveCanonSurt(b, h), 0, Some("url"))
    case Named("surt", Seq(Named("resolve_link", Seq(b, h)))) =>
      GetStructField(ResolveCanonSurt(b, h), 3, Some("surt"))
    // mixed form: one side already native (the batch runs to fixpoint)
    case CanonUrl(Named("resolve_link", Seq(b, h))) =>
      GetStructField(ResolveCanonSurt(b, h), 0, Some("url"))
    case SurtOf(Named("resolve_link", Seq(b, h))) =>
      GetStructField(ResolveCanonSurt(b, h), 3, Some("surt"))
    // standalone scalar rewrites
    case Named("canon_url", Seq(x)) => CanonUrl(x)
    case Named("surt", Seq(x)) => SurtOf(x)
  }
}

/** Session extension entry point. Register with
  * `.config("spark.sql.extensions", "graft.functions.GraftExtensions")`
  * (works identically under spark-submit on a cluster).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectOptimizerRule(_ => NativeUrlRewrite)
    // X1 as a SQL table-generating function:
    //   LATERAL VIEW extract_links_gen(html) l AS href, anchor
    // (`extract_links` stays the array-returning scalar UDF registered by
    // UrlFunctions.register — session-registered UDFs shadow injected
    // builtins of the same name, so the generator gets its own identifier)
    ext.injectFunction((
      FunctionIdentifier("extract_links_gen"),
      new ExpressionInfo(classOf[ExtractLinksGen].getName, "extract_links_gen"),
      (args: Seq[Expression]) => {
        require(args.length == 1, s"extract_links_gen takes 1 argument, got ${args.length}")
        ExtractLinksGen(args.head)
      }))
  }
}
