package graft.pages

import graft.rollup.Rollup
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The north-rule pipeline: rule-based error detection -> corrector
  * ensemble repair -> tiered rollup, over the `(url, warc_ts, html,
  * text, lang)` page table.
  *
  * Repair is Mimir's per-cell correction recast as partition-parallel
  * typed DataFrame jobs (SURVEY.md §7 determinism policy):
  *  - `text`: restored byte-identically from the html body
  *    (whole-cell replacement with an observed value only — the
  *    per-url byte-identity invariant holds by construction);
  *  - `warc_ts`: re-parsed from the html header comment;
  *  - `lang`: Mimir's FD corrector over domain -> lang. Its count
  *    model is masked like `Pdep.fdCounts`, and detection masks
  *    exactly the non-majority rows, so each domain keeps ONE
  *    candidate, the majority lang; the A13 argmax of a single
  *    candidate ignores its gpdep score. A score, if ever needed, is a
  *    column in the same plan — never an eager action at build time.
  *
  * Scan discipline (the property that matters at 10^12 rows): the big
  * table is scanned exactly TWICE end to end —
  *   1. one domain->lang count model (a single hash aggregate, tiny
  *      result); the per-domain majority is a one-task aggregate over
  *      that tiny relation, no second scan and no shuffle;
  *   2. the single output pass that flags + repairs every cell with
  *      pure expressions and one broadcast join (the majority model).
  * With an external count model (`repairWithCounts`) the output pass
  * is the only scan. Building the repaired frame runs no Spark job and
  * caches nothing: the model is read once, as the broadcast side.
  */
object PagePipeline {

  /** The page columns repair reads and rewrites, in output order. */
  val PageCols: Seq[String] = Seq("url", "warc_ts", "html", "text", "lang")

  private def flagCols(majorityJoined: DataFrame): DataFrame =
    majorityJoined
      .withColumn("__ts_bad", col("warc_ts") <= timestamp_seconds(lit(0L)))
      .withColumn("__text_bad", col("text") === "" && length(col("html")) > 0)
      .withColumn("__lang_bad", col("lang") =!= col("__majority_lang"))

  /** Domain-majority lang of a (domain, lang, cnt) count model:
    * per-domain argmax, the highest count first, then the smallest
    * lang (a null lang sorts first). The model is tiny and broadcast
    * by callers, so the argmax runs as ONE task: over a single
    * partition the grouping plans no exchange, and the aggregate
    * computes inside the broadcast's own job.
    */
  private def majorityOf(counts: DataFrame): DataFrame =
    counts
      .coalesce(1)
      .groupBy("domain")
      .agg(min(struct((-col("cnt")).as("neg_cnt"), col("lang"))).as("top"))
      .select(col("domain"), col("top.lang").as("__majority_lang"))

  private def withIdDomain(pages: DataFrame): DataFrame =
    PageGen.withRowId(pages).withColumn("domain", PageGen.domainOf("url"))

  /** Rule-based detection (SURVEY.md §2.1 S7): returns the standard
    * error-cell relation `(row_id, col, error_value)` in a single pass
    * over the flagged table (conditional-array explode, no unions of
    * separate scans).
    *  - warc_ts at/before epoch -> mangled timestamp;
    *  - empty text with non-empty html -> nulled text;
    *  - lang differing from its domain's majority lang -> mislabel.
    */
  def detectErrors(pages: DataFrame): DataFrame = {
    val withId = withIdDomain(pages)
    val flagged = flagCols(withId.join(broadcast(majorityOf(langCounts(pages))), "domain"))
    flagged
      .select(
        col("row_id"),
        explode(
          expr(
            """filter(array(
                 if(__ts_bad,   struct('warc_ts' as col, cast(warc_ts as string) as error_value), null),
                 if(__text_bad, struct('text'    as col, text                    as error_value), null),
                 if(__lang_bad, struct('lang'    as col, lang                    as error_value), null)
               ), x -> x is not null)"""
          )
        ).as("e")
      )
      .select(col("row_id"), col("e.col").as("col"), col("e.error_value").as("error_value"))
  }

  /** The (domain, lang) count model over RAW rows — the single model
    * scan every repair derives from. Sum-mergeable: counts over a
    * union of batches = summed per-batch counts, which is what makes
    * the model incrementally maintainable (`PageModel.update`) with
    * NO full-table rescan per continuous-rollup update.
    */
  def langCounts(pages: DataFrame): DataFrame =
    withIdDomain(pages).groupBy("domain", "lang").agg(count(lit(1)).as("cnt"))

  /** Repair all detected errors; returns the corrected page table (see
    * `repairWithCounts` for its columns). Computes the count model
    * from `pages` itself — for partition-pruned incremental repair pass
    * a full-table model to `repairWithCounts` instead.
    */
  def repair(pages: DataFrame): DataFrame =
    repairWithCounts(pages, langCounts(pages))

  /** Repair with an externally supplied (domain, lang, cnt) count
    * model. Lang decisions depend only on the model, so repairing a
    * pruned subset of the table equals restricting a full-table repair
    * to that subset — the exactness contract incremental tier updates
    * rely on.
    *
    * Output: one row per input row — the repaired `PageCols`, then
    * every other input column unchanged (`ContinuousRollup.update`
    * requires its stored-day column back, for the exact guard). The
    * model is joined on the left: a page whose domain the model lacks,
    * or whose url is null, keeps its lang, like a domain with a null
    * majority lang; its timestamp and text are still repaired. A query
    * that reads only the repaired timestamp (the rollup's touched days)
    * therefore plans no model join at all.
    */
  def repairWithCounts(pages: DataFrame, counts: DataFrame): DataFrame = {
    val majority = broadcast(majorityOf(counts).withColumnRenamed("domain", "__domain"))
    val flagged =
      flagCols(pages.withColumn("__domain", PageGen.domainOf("url")).join(majority, Seq("__domain"), "left"))
    val passThrough = pages.columns.filterNot(PageCols.contains).map(c => col(s"`$c`"))

    // single output pass: pure-expression repairs + one broadcast join
    val htmlStr = decode(col("html"), "UTF-8")
    flagged.select(
      Seq(
        col("url"),
        when(
          col("__ts_bad"),
          timestamp_seconds(regexp_extract(htmlStr, "<!--warc_ts:(\\d+)-->", 1).cast("long"))
        ).otherwise(col("warc_ts")).as("warc_ts"),
        col("html"),
        when(col("__text_bad"), regexp_extract(htmlStr, "(?s)<body>(.*)</body>", 1))
          .otherwise(col("text")).as("text"),
        when(col("__lang_bad"), col("__majority_lang")).otherwise(col("lang")).as("lang")
      ) ++ passThrough: _*
    )
  }

  /** Corrected pages -> hourly tier keyed by domain, with point count,
    * byte size, and lang histogram.
    */
  def hourlyRollup(pages: DataFrame): DataFrame = {
    val repaired = repair(pages)
    Rollup.fromRaw(
      repaired.withColumn("domain", PageGen.domainOf("url")),
      Seq("domain"),
      "warc_ts",
      "1h",
      length(col("html")).cast("long"),
      langCol = Some("lang")
    )
  }

  /** Fixed-size smoke entry used by `SparkEntry.entry` / q25. */
  def hourlyRollupFixed(spark: SparkSession, nPages: Long): DataFrame = {
    val dirty = PageGen.corrupt(PageGen.clean(spark, nPages))
    hourlyRollup(dirty).drop("lang_hist")
  }
}
