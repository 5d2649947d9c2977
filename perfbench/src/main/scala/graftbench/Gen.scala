package graftbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The benchmark's own input generators, seeded by the run's `--seed`.
  * They start as copies of the library's `PageGen.clean/corrupt` and
  * `CleaningScalabilityBench.voters`, so a later change to those
  * objects never silently changes what the benchmark measures.
  * Everything is a pure Catalyst expression over `spark.range`, so a
  * seed gives byte-identical tables at any parallelism.
  */
object Gen {

  val Langs: Seq[String] = Seq("en", "de", "fr", "es", "it", "nl")

  /** Epoch second of 2024-01-01T00:00:00Z. */
  val BaseEpoch: Long = 1704067200L

  val SpanDays: Int = 35
  val SpanSeconds: Long = SpanDays.toLong * 86400

  /** Clean page table `(url, warc_ts, html, text, lang)` plus
    * `true_offset`, the crawl second since `BaseEpoch` that the html
    * header carries (drop it before handing pages to the program).
    * Zipf-ish domain skew, lang determined by domain, hour-shaped gaps
    * in time — the shape `PageGen.clean` documents.
    */
  def pages(spark: SparkSession, nPages: Long, nDomains: Int, seed: Int): DataFrame = {
    val h = xxhash64(col("id"), lit(seed))
    val u01 = pmod(h, lit(1000000L)).cast("double") / lit(1000000.0)
    val domainIdx = floor(pow(u01, 3.0) * nDomains).cast("int")
    val lang = element_at(array(Langs.map(lit): _*), pmod(domainIdx, lit(Langs.size)).cast("int") + 1)
    val rawOffset = pmod(xxhash64(col("id"), lit(seed + 7)), lit(SpanSeconds))
    val hourIdx = floor(rawOffset / 3600).cast("long")
    // hours where hash(hour) % 5 == 0 receive no pages; the last hour
    // of the span wraps to the first so every page stays in the span
    val offset = pmod(
      when(pmod(xxhash64(hourIdx, lit(seed + 1)), lit(5)) === 0, rawOffset + 3600).otherwise(rawOffset),
      lit(SpanSeconds)
    )
    val url = concat(lit("https://site"), domainIdx, lit(".example/p/"), col("id"))
    val text = concat(
      lit("tok"), pmod(h, lit(997L)),
      lit(" word"), pmod(h, lit(131L)),
      lit(" page content "), col("id"),
      lit(" tail"), pmod(h, lit(17L))
    )
    val html = concat(
      lit("<html><head><!--warc_ts:"),
      (lit(BaseEpoch) + offset).cast("string"),
      lit("--></head><body>"),
      text,
      lit("</body></html>")
    )
    spark
      .range(nPages)
      .select(
        url.as("url"),
        timestamp_seconds(lit(BaseEpoch) + offset).as("warc_ts"),
        encode(html, "UTF-8").as("html"),
        text.as("text"),
        lang.as("lang"),
        offset.as("true_offset")
      )
  }

  /** MCAR corruption, `fraction` of rows per class, chosen by
    * `xxhash64(url, classSeed)`: lang rotated to the next code,
    * timestamp reset to epoch 0, text emptied. Each class is
    * recoverable by the pages repair (domain majority, html header,
    * html body).
    */
  def corrupt(clean: DataFrame, fraction: Double, seed: Int): DataFrame = {
    def hit(classSeed: Int) =
      pmod(xxhash64(col("url"), lit(seed * 1000 + classSeed)), lit(10000L)) < lit((fraction * 10000).toLong)
    val langIdx = expr(s"array_position(array(${Langs.map(l => s"'$l'").mkString(",")}), lang)")
    val rotated = element_at(array(Langs.map(lit): _*), (pmod(langIdx, lit(Langs.size.toLong)) + 1).cast("int"))
    clean
      .withColumn("lang", when(hit(1), rotated).otherwise(col("lang")))
      .withColumn("warc_ts", when(hit(2), timestamp_seconds(lit(0L))).otherwise(col("warc_ts")))
      .withColumn("text", when(hit(3), lit("")).otherwise(col("text")))
  }

  val VoterCols: Seq[String] =
    Seq("first_name", "last_name", "age", "gender", "party", "zip_code", "city", "state")

  /** ncvoters-shaped table, 8 string columns, zip_code -> city/state
    * FDs (the dependencies the corrector ensemble exploits).
    */
  def voters(spark: SparkSession, n: Long, seed: Int): DataFrame = {
    val h = xxhash64(col("id"), lit(seed))
    def pick(salt: Int, vals: Seq[String]) =
      element_at(
        array(vals.map(lit): _*),
        (pmod(xxhash64(col("id"), lit(seed * 31 + salt)), lit(vals.size.toLong)) + 1).cast("int")
      )
    val zip = concat(lit("2"), pmod(h, lit(70L)) + 100)
    spark
      .range(n)
      .select(
        col("id").as("row_id"),
        concat(lit("fn"), pmod(h, lit(997L))).as("first_name"),
        concat(lit("ln"), pmod(h, lit(797L))).as("last_name"),
        (pmod(h, lit(70L)) + 18).cast("string").as("age"),
        pick(11, Seq("m", "f", "u")).as("gender"),
        pick(13, Seq("dem", "rep", "una", "lib")).as("party"),
        zip.as("zip_code"),
        concat(lit("city"), zip).as("city"),
        concat(lit("st"), pmod(zip.cast("long"), lit(5L))).as("state")
      )
  }

  /** simple_mcar: blank `percent`% of the cells of every column. */
  def blank(clean: DataFrame, cols: Seq[String], percent: Int, seed: Int): DataFrame =
    cols.foldLeft(clean) { (df, c) =>
      df.withColumn(
        c,
        when(pmod(xxhash64(col("row_id"), lit(c), lit(seed)), lit(100L)) < percent, lit("")).otherwise(col(c))
      )
    }
}
