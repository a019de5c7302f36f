package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._

/** Spark Column/UDF surface over the pure URL + HTML cores (SURVEY.md §2.2-2.3).
  *
  * v1 ships Scala UDFs (correct, fusion-breaking at the UDF boundary);
  * the hash/bucket helpers are pure builtin compositions and stay inside
  * whole-stage codegen. All UDFs are registered under stable SQL names so
  * `spark.sql` plans can use them too.
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

  // --- UDFs over the pure core ---

  // canon/surt/resolve carry their SQL names on the Column-API vals too, so
  // NativeUrlRewrite can match either usage form by `udfName`
  val canonUdf = udf((raw: String) => Option(UrlCanon.canonicalize(raw))).withName("canon_url")
  val surtUdf = udf((raw: String) => Option(UrlCanon.surt(raw))).withName("surt")
  val hostOfUdf = udf((raw: String) => Option(UrlCanon.hostOf(raw)))
  val regHostUdf = udf((h: String) => Option(UrlCanon.regHost(h)))
  val hostReverseUdf = udf((h: String) => Option(UrlCanon.hostReverse(h)))
  val resolveUdf = udf((base: String, ref: String) => Option(UrlCanon.resolve(base, ref))).withName("resolve_link")
  val pathOfUdf = udf((raw: String) => Option(UrlCanon.parse(raw)).filter(_ != null).map(_.path))

  val extractLinksUdf = udf((html: Array[Byte]) => Html.extractLinks(html))
  val extractTextUdf = udf((html: Array[Byte]) => Html.extractText(html))

  val resolveCanonUdf = udf((base: String, href: String) =>
    Option(UrlCanon.canonParts(UrlCanon.resolve(base, href))))

  /** Register every function for SQL use. Idempotent. A user driving the
    * engine through `spark.sql` gets the whole scalar surface: URL/HTML
    * kernels plus the text-analysis, dedup-sketch, and similarity UDFs.
    */
  def register(spark: SparkSession): Unit = {
    spark.udf.register("canon_url", canonUdf)
    spark.udf.register("surt", surtUdf)
    spark.udf.register("host_of", hostOfUdf)
    spark.udf.register("reg_host", regHostUdf)
    spark.udf.register("host_reverse", hostReverseUdf)
    spark.udf.register("resolve_link", resolveUdf)
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
