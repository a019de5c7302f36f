package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression, GenericInternalRow, GetStructField, ImplicitCastInputTypes, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expressions for the URL kernels and the crawl's page scan
  * (SURVEY.md §4.3 / M12, U2/U9): resolve, canon and SURT as expressions with
  * `doGenCode`, so a pipeline stays inside one whole-stage codegen span with
  * a direct static call per row — no ScalaUDF closure dispatch, no
  * CatalystTypeConverter boxing of the struct/array results (the kernels
  * build `InternalRow`/`GenericArrayData` directly).
  *
  * The SQL names `canon_url`, `surt` and `resolve_link` and the Column-API
  * functions in [[UrlFunctions]] are bound to these nodes by the builders in
  * [[CanonExpressions]]; the kernels are UrlCanon/Html, whose golden vectors
  * UrlCanonSpec/HtmlSpec pin.
  */
object CanonKernel {

  /** `canonParts(resolve(b, h))` on every input, nulls included: the kernel
    * is total over null inputs because `UrlCanon.resolve(null, absoluteHref)`
    * is a defined case (the RFC short-circuit uses the href's own scheme
    * without touching the base), so a null-safe wrapper would differ.
    */
  def resolveCanon(base: UTF8String, href: UTF8String): InternalRow = {
    val cp = UrlCanon.canonParts(UrlCanon.resolve(
      if (base == null) null else base.toString,
      if (href == null) null else href.toString))
    if (cp == null) null
    else new GenericInternalRow(Array[Any](
      UTF8String.fromString(cp.url), UTF8String.fromString(cp.host),
      UTF8String.fromString(cp.path), UTF8String.fromString(cp.surt)))
  }

  /** Total over nulls for the same reason as [[resolveCanon]]. */
  def resolve(base: UTF8String, href: UTF8String): UTF8String = {
    val r = UrlCanon.resolve(
      if (base == null) null else base.toString,
      if (href == null) null else href.toString)
    if (r == null) null else UTF8String.fromString(r)
  }

  def canon(raw: UTF8String): UTF8String = {
    val c = UrlCanon.canonicalize(raw.toString)
    if (c == null) null else UTF8String.fromString(c)
  }

  def surt(raw: UTF8String): UTF8String = {
    val s = UrlCanon.surt(raw.toString)
    if (s == null) null else UTF8String.fromString(s)
  }

  val canonPartsType: StructType = StructType(Seq(
    StructField("url", StringType), StructField("host", StringType),
    StructField("path", StringType), StructField("surt", StringType)))

  /** The crawl's page scan as Catalyst values: hrefs only (no anchors) +
    * text hash — the fetch/candidate pipeline never reads anchors (see
    * Html.scanPageHrefs).
    */
  def pageScanHrefs(html: Array[Byte]): InternalRow = {
    val ps = Html.scanPageHrefs(html)
    val links = new Array[Any](ps.hrefs.length)
    var i = 0
    while (i < ps.hrefs.length) {
      links(i) = UTF8String.fromString(ps.hrefs(i))
      i += 1
    }
    new GenericInternalRow(Array[Any](
      new GenericArrayData(links), java.lang.Long.valueOf(ps.textXxh64)))
  }

  val pageScanHrefsType: StructType = StructType(Seq(
    StructField("links", ArrayType(StringType)),
    StructField("text_xxh64", LongType)))
}

/** resolve(base, href) → canonicalize → (url, host, path, surt) struct;
  * `canon_url(resolve_link(b, h))` and `surt(resolve_link(b, h))` build
  * fields of this node (see [[CanonExpressions.canon]]).
  *
  * NOT null-safe-wrapped: a null base with an absolute href is a DEFINED
  * input (RFC 3986 §5.2.1's short-circuit never reads the base), so
  * eval/codegen pass possibly-null children into the total kernel instead of
  * short-circuiting, exactly as [[ResolveLink]] does.
  */
case class ResolveCanonSurt(left: Expression, right: Expression)
    extends BinaryExpression with ImplicitCastInputTypes {
  // atomic inputs are cast to STRING as a ScalaUDF's were; anything else
  // fails at ANALYSIS, not with a mid-job executor ClassCastException after
  // real work is done (same fast-fail discipline as
  // ExtractLinksGen.checkInputDataTypes)
  override def inputTypes: Seq[DataType] = Seq(StringType, StringType)
  override def dataType: DataType = CanonKernel.canonPartsType
  override def nullable: Boolean = true
  override def prettyName: String = "resolve_canon_surt"
  override def eval(input: InternalRow): Any =
    CanonKernel.resolveCanon(
      left.eval(input).asInstanceOf[UTF8String],
      right.eval(input).asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val bEv = left.genCode(ctx)
    val hEv = right.genCode(ctx)
    ev.copy(code =
      code"""
        ${bEv.code}
        ${hEv.code}
        InternalRow ${ev.value} = graft.functions.CanonKernel.resolveCanon(
          ${bEv.isNull} ? null : ${bEv.value},
          ${hEv.isNull} ? null : ${hEv.value});
        boolean ${ev.isNull} = ${ev.value} == null;
      """)
  }
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** `resolve_link(base, href)`: RFC 3986 §5 resolution (null if either side
  * is malformed). Not null-safe-wrapped, for the reason given on
  * [[ResolveCanonSurt]]: a null base with an absolute href resolves.
  */
case class ResolveLink(left: Expression, right: Expression)
    extends BinaryExpression with ImplicitCastInputTypes {
  override def inputTypes: Seq[DataType] = Seq(StringType, StringType)
  override def dataType: DataType = StringType
  override def nullable: Boolean = true
  override def prettyName: String = "resolve_link"
  override def eval(input: InternalRow): Any =
    CanonKernel.resolve(
      left.eval(input).asInstanceOf[UTF8String],
      right.eval(input).asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val bEv = left.genCode(ctx)
    val hEv = right.genCode(ctx)
    ev.copy(code =
      code"""
        ${bEv.code}
        ${hEv.code}
        UTF8String ${ev.value} = graft.functions.CanonKernel.resolve(
          ${bEv.isNull} ? null : ${bEv.value},
          ${hEv.isNull} ? null : ${hEv.value});
        boolean ${ev.isNull} = ${ev.value} == null;
      """)
  }
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** RFC 3986 canonical form of a raw URL (null if unparseable). */
case class CanonUrl(child: Expression) extends UnaryExpression with ImplicitCastInputTypes {
  override def inputTypes: Seq[DataType] = Seq(StringType)
  override def dataType: DataType = StringType
  override def nullable: Boolean = true
  override def prettyName: String = "canon_url"
  override protected def nullSafeEval(raw: Any): Any =
    CanonKernel.canon(raw.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, raw =>
      s"""
         |${ev.value} = graft.functions.CanonKernel.canon($raw);
         |${ev.isNull} = ${ev.value} == null;
       """.stripMargin)
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** SURT form of a raw URL (null if unparseable). */
case class SurtOf(child: Expression) extends UnaryExpression with ImplicitCastInputTypes {
  override def inputTypes: Seq[DataType] = Seq(StringType)
  override def dataType: DataType = StringType
  override def nullable: Boolean = true
  override def prettyName: String = "surt"
  override protected def nullSafeEval(raw: Any): Any =
    CanonKernel.surt(raw.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, raw =>
      s"""
         |${ev.value} = graft.functions.CanonKernel.surt($raw);
         |${ev.isNull} = ${ev.value} == null;
       """.stripMargin)
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Fused page scan, crawl hot path (round 6): hrefs array + xxhash64(text),
  * no anchor extraction — anchors are never consumed on the crawl/candidate
  * path, and their per-link sub-scan + entity decode + String cost ~30-40%
  * of the scan kernel (round-6 kernel timing; hrefs ≡ links.href pinned in
  * CanonExprSpec).
  */
case class PageScanHrefsHash(child: Expression) extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[DataType] = Seq(BinaryType)
  override def dataType: DataType = CanonKernel.pageScanHrefsType
  override def nullable: Boolean = true
  override def prettyName: String = "page_scan_hrefs_hash"
  override protected def nullSafeEval(html: Any): Any =
    CanonKernel.pageScanHrefs(html.asInstanceOf[Array[Byte]])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, html =>
      s"""
         |${ev.value} = graft.functions.CanonKernel.pageScanHrefs($html);
         |${ev.isNull} = ${ev.value} == null;
       """.stripMargin)
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Fused explode+resolve+canon generator (round 6, guide §1.2 step 2 after
  * the §1.1 ablation): one output row per href in `links` whose
  * resolve→canonicalize succeeds, as FLAT columns (url, host, path, surt).
  *
  * Replaces `explode(links)` + `resolveCanonCol(base, href)` + an
  * `isNotNull` filter on the crawl/candidate path. Two measured costs
  * disappear: (1) Catalyst pushes the candidate filters below the
  * projection that computes the `cp` struct, so the resolve+canon kernel
  * ran ≥2× per link (the guide-§4.4 duplication, here with a native
  * expression); a Generator's output columns are plain attributes, which
  * filters reference without re-evaluating anything. (2) the per-link
  * intermediate (href struct row from explode, then a 4-field `cp` struct
  * copied through two more projections) never materializes — the row the
  * generator yields IS the final shape. Dropped-null semantics are exactly
  * the old `cp.isNotNull` filter (pinned ≡ explode + UrlCanon in CanonExprSpec).
  */
case class ResolveLinksGen(left: Expression, right: Expression)
    extends BinaryExpression
    with org.apache.spark.sql.catalyst.expressions.Generator
    with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {

  override def elementSchema: StructType = StructType(Seq(
    StructField("url", StringType, nullable = false),
    StructField("host", StringType, nullable = false),
    StructField("path", StringType, nullable = false),
    StructField("surt", StringType, nullable = false)))

  override def prettyName: String = "resolve_links_gen"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (StringType, ArrayType(StringType, _)) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case (l, r) => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"resolve_links_gen needs (base STRING, links ARRAY<STRING>), got (${l.catalogString}, ${r.catalogString})")
    }

  override def eval(input: InternalRow): IterableOnce[InternalRow] = {
    val linksV = right.eval(input)
    if (linksV == null) return Iterator.empty
    val arr = linksV.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    val baseV = left.eval(input).asInstanceOf[UTF8String]
    // null base with an absolute href is a DEFINED resolve input (RFC 3986
    // §5.2.1 short-circuit) — same non-null-safe contract as ResolveCanonSurt
    val base = if (baseV == null) null else baseV.toString
    val n = arr.numElements()
    (0 until n).iterator.flatMap { i =>
      val hrefV = arr.getUTF8String(i)
      val cp = UrlCanon.canonParts(UrlCanon.resolve(
        base, if (hrefV == null) null else hrefV.toString))
      if (cp == null) Iterator.empty
      else Iterator.single(new GenericInternalRow(Array[Any](
        UTF8String.fromString(cp.url), UTF8String.fromString(cp.host),
        UTF8String.fromString(cp.path), UTF8String.fromString(cp.surt))))
    }
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** The one binding of each URL kernel name to its native node: the SQL
  * functions (injected by [[GraftExtensions]]) and the Column API
  * ([[UrlFunctions]]) both build through `canon`, `surt` and the [[ResolveLink]] constructor.
  *
  * `canon`/`surt` of a [[ResolveLink]] fuse into one [[ResolveCanonSurt]]
  * call (resolve + canonicalize in a single pass, no intermediate
  * resolved-URL string): `canonParts(raw).url == canonicalize(raw)` and
  * `.surt == surt(raw)` by construction, and both nodes pass nulls through
  * the same total kernels, so the fusion is exact on every input. Spark's
  * analyzer resolves a function's arguments before calling its builder, so
  * the SQL form `canon_url(resolve_link(b, h))` fuses here too.
  */
object CanonExpressions {
  import org.apache.spark.sql.graft.ColumnBridge.{column, expression}

  def canon(raw: Expression): Expression = raw match {
    case ResolveLink(b, h) => GetStructField(ResolveCanonSurt(b, h), 0, Some("url"))
    case _ => CanonUrl(raw)
  }
  def surt(raw: Expression): Expression = raw match {
    case ResolveLink(b, h) => GetStructField(ResolveCanonSurt(b, h), 3, Some("surt"))
    case _ => SurtOf(raw)
  }

  def resolveCanonCol(base: Column, href: Column): Column =
    column(ResolveCanonSurt(expression(base), expression(href)))
  def pageScanHrefsCol(html: Column): Column = column(PageScanHrefsHash(expression(html)))
  /** Fused explode+resolve+canon: use in a select; the analyzer lifts it into
    * a `Generate` node yielding (url, host, path, surt) per resolvable link. */
  def resolveLinksGenCol(base: Column, links: Column): Column =
    column(ResolveLinksGen(expression(base), expression(links)))
  /** X1 generator: one (href, anchor) row per link — use in a select; the
    * analyzer lifts it into a `Generate` node (see [[ExtractLinksGen]]). */
  def extractLinksGenCol(html: Column): Column = column(ExtractLinksGen(expression(html)))
}
