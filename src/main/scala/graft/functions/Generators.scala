package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.Generator
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** X1 as a native Catalyst `Generator` (SURVEY.md §2.3 v2 stretch / M12):
  * `extract_links(html)` generates one (href, anchor) row per `<a href>` in
  * document order, straight from the byte kernel.
  *
  * Versus the v1 path (`explode(extractLinksUdf(html))`), this skips two
  * materializations per page: the ScalaUDF's catalyst conversion of the
  * full `Array[Link]` into an `ArrayData` of structs, and the `explode`
  * loop's per-element re-copy of those structs. The generator hands
  * `GenerateExec` an iterator that builds each output row exactly once.
  * Rows are yielded lazily, so a page with 10^4 links never holds more
  * than one output row at a time beyond the kernel's own link array.
  *
  * `CodegenFallback` is deliberate: `GenerateExec` only codegens
  * collection generators (`explode` family) whose input is already an
  * `ArrayData` — exactly the materialization this node exists to avoid.
  * The fallback path still runs INSIDE the surrounding WholeStageCodegen
  * via `InputAdapter`, and the kernel call dominates either way.
  *
  * SQL surface (registered by [[GraftExtensions]]; `extract_links` itself
  * stays the array-returning scalar UDF, which session registration shadows):
  * `SELECT url, l.href, l.anchor FROM pages
  *    LATERAL VIEW extract_links_gen(html) l AS href, anchor`.
  *
  * Oracle: ExtensionsSpec pins generator ≡ v1 UDF+explode row-for-row on
  * the synthetic web corpus, plus document-order and empty/null-html edges.
  */
case class ExtractLinksGen(child: Expression)
    extends UnaryExpression with Generator with CodegenFallback {

  override def elementSchema: StructType = StructType(Seq(
    StructField("href", StringType, nullable = false),
    StructField("anchor", StringType, nullable = false)))

  // the SQL registration name — NOT "extract_links", which names the
  // coexisting array-returning scalar UDF; plans and type errors must point
  // at the function the user actually called
  override def prettyName: String = "extract_links_gen"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case BinaryType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"extract_links needs html BYTES, got ${other.catalogString}")
  }

  // a null html scans as an empty page: no rows
  override def eval(input: InternalRow): IterableOnce[InternalRow] =
    Html.extractLinks(child.eval(input).asInstanceOf[Array[Byte]]).iterator.map { l =>
      new GenericInternalRow(Array[Any](
        UTF8String.fromString(l.href), UTF8String.fromString(l.anchor)))
    }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
