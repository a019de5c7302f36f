package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ColumnBridge.{column, expression}

/** Spark Column/UDF surface over the pure URL + HTML cores (SURVEY.md §2.2-2.3).
  *
  * `canonUdf`, `surtUdf` and `resolveUdf` build the native codegen
  * expressions through [[CanonExpressions]] — the same builders as the SQL
  * names `canon_url`, `surt` and `resolve_link` that [[GraftExtensions]]
  * injects — so `canonUdf(resolveUdf(b, h))` is one fused kernel call in
  * any session. The hash/bucket helpers are builtin compositions. The other
  * URL and HTML kernels are Scala UDFs, registered under stable SQL names by
  * [[register]].
  */
object UrlFunctions {

  // --- codegen'd builtin compositions (no UDF) ---

  /** U5: 64-bit key of a (surt) string — builtin xxhash64, seed 42. */
  def urlHash(c: Column): Column = xxhash64(c)

  /** Host bucket: pmod(xxhash64(host), B) — the partitioning key (§4.2). */
  def hostBucket(host: Column, buckets: Int): Column =
    pmod(xxhash64(host), lit(buckets.toLong)).cast("int")

  /** U3 as a pure builtin composition (demo path; engine uses the UDF). */
  def hostReverseCol(host: Column): Column =
    concat_ws(".", reverse(split(host, "\\.")))

  // --- native expressions ---

  def canonUdf(raw: Column): Column = column(CanonExpressions.canon(expression(raw)))
  def surtUdf(raw: Column): Column = column(CanonExpressions.surt(expression(raw)))
  def resolveUdf(base: Column, href: Column): Column =
    column(ResolveLink(expression(base), expression(href)))

  // --- UDFs over the pure core ---

  val hostOfUdf = udf((raw: String) => Option(UrlCanon.hostOf(raw)))
  val regHostUdf = udf((h: String) => Option(UrlCanon.regHost(h)))
  val hostReverseUdf = udf((h: String) => Option(UrlCanon.hostReverse(h)))
  val pathOfUdf = udf((raw: String) => Option(UrlCanon.parse(raw)).filter(_ != null).map(_.path))

  val extractLinksUdf = udf((html: Array[Byte]) => Html.extractLinks(html))
  val extractTextUdf = udf((html: Array[Byte]) => Html.extractText(html))

  /** Register every UDF for SQL use. Idempotent. With [[GraftExtensions]]
    * (which binds `canon_url`, `surt` and `resolve_link`, and which a
    * same-named UDF would shadow) a user driving the engine through
    * `spark.sql` gets the whole scalar surface: URL/HTML kernels plus the
    * text-analysis, dedup-sketch, and similarity UDFs.
    */
  def register(spark: SparkSession): Unit = {
    spark.udf.register("host_of", hostOfUdf)
    spark.udf.register("reg_host", regHostUdf)
    spark.udf.register("host_reverse", hostReverseUdf)
    spark.udf.register("url_path", pathOfUdf)
    spark.udf.register("extract_links", extractLinksUdf)
    spark.udf.register("extract_text", extractTextUdf)
    spark.udf.register("lang_id", graft.operators.TextAnalysis.langIdUdf)
    spark.udf.register("doc_fingerprint", graft.operators.TextAnalysis.fingerprintUdf)
    spark.udf.register("shingles64", graft.operators.TextDedup.shinglesUdf)
    spark.udf.register("minhash_sig", graft.operators.TextDedup.minhashUdf)
    spark.udf.register("minhash_bands", graft.operators.TextDedup.bandsUdf)
    spark.udf.register("jaccard64", graft.operators.TextDedup.jaccardUdf)
    spark.udf.register("simhash64", graft.operators.TextDedup.simhashUdf)
    spark.udf.register("hamming64", graft.operators.TextDedup.hammingUdf)
    spark.udf.register("cosine_sim", graft.operators.Similarity.cosineUdf)
    spark.udf.register("lsh_bucket", graft.operators.Similarity.lshBucketUdf)
  }
}
