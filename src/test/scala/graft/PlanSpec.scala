package graft

import graft.pages.{PageGen, PagePipeline}
import org.apache.spark.sql.{DataFrame, GraftTestHooks}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener
import scala.jdk.CollectionConverters._

/** Physical-plan shape assertions: the properties that keep the engine
  * fast at scale must be visible in the plan, not just hoped for —
  * filter/column pushdown into the parquet scan, broadcast joins for
  * model-sized relations, two-phase (partial+final) hash aggregation,
  * and whole-stage codegen over the hot expressions.
  */
class PlanSpec extends SparkSpec {
  import spark.implicits._

  private def physical(df: DataFrame): String =
    df.queryExecution.executedPlan.toString

  /** AQE only shows WholeStageCodegen spans in the FINAL plan — run
    * THIS queryExecution (collect, small fixtures) first, then render.
    */
  private def executedPhysical(df: DataFrame): String = {
    df.collect()
    df.queryExecution.executedPlan.toString
  }

  /** Runs `build` and returns the executed plan of every query that ran
    * while it built (seen by a QueryExecutionListener), followed by the
    * plan of the DataFrame it returned.
    */
  private def plansWhileBuilding(build: => DataFrame): Seq[String] = {
    val captured = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        captured.add(qe.executedPlan.toString)
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val df = build
      GraftTestHooks.drain(spark.sparkContext)
      captured.asScala.toSeq :+ physical(df)
    } finally spark.listenerManager.unregister(listener)
  }

  private lazy val pagesPath = {
    val p = "/tmp/graft_test_plan_pages"
    if (!java.nio.file.Files.exists(java.nio.file.Paths.get(p)))
      PageGen.corrupt(PageGen.clean(spark, 5000)).write.mode("overwrite").parquet(p)
    p
  }

  test("parquet scan prunes columns and pushes filters") {
    val df = spark.read.parquet(pagesPath).filter(col("lang") === "en").select("url", "lang")
    val plan = physical(df)
    assert(plan.contains("PushedFilters: [IsNotNull(lang), EqualTo(lang,en)]"), plan)
    // html/text/warc_ts must not be read for a url+lang projection
    assert(plan.contains("ReadSchema: struct<url:string,lang:string>"), plan)
  }

  test("repair pipeline broadcasts the model-sized relations") {
    val plan = physical(PagePipeline.repair(spark.read.parquet(pagesPath)))
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
  }

  test("tier rollup is a two-phase hash aggregate (map-side partial)") {
    val df = graft.rollup.Rollup.fromRaw(
      spark.read.parquet(pagesPath).withColumn("domain", PageGen.domainOf("url")),
      Seq("domain"),
      "warc_ts",
      "1h",
      length(col("html")).cast("long")
    )
    val plan = physical(df)
    // partial + final HashAggregate pair around the exchange
    assert("HashAggregate".r.findAllIn(plan).length >= 2, plan)
    assert(executedPhysical(df).contains("*("))
  }

  test("pruned incremental update opens only the pruned snapshot files") {
    import graft.snapshot.{ContinuousRollup, SnapshotStore}
    val root = java.nio.file.Files.createTempDirectory("plan_prune").toString + "/src"
    val ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    SnapshotStore.append(root, ev, tsCol = Some("ts"))
    // a reader restricted to two days must list exactly those leaf dirs
    val dirs = SnapshotStore.resolveDirs(root, 0L, 1L, Some(Set("2024-01-05", "2024-01-06")))
    assert(dirs.size == 2 && dirs.forall(_.contains("part_day=2024-01-0")))
    val scan = spark.read.parquet(dirs: _*)
    // every file the scan would open lives in a wanted leaf dir
    assert(scan.inputFiles.nonEmpty)
    assert(scan.inputFiles.forall(f => f.contains("part_day=2024-01-05") || f.contains("part_day=2024-01-06")))
  }

  test("no driver query degrades to a cartesian product; NLJ/SMJ only where intended") {
    // correct-layer queries whose DataFrame CONSTRUCTION runs driver-
    // side collects: every plan executed while they build is checked too
    val checkedWhileBuilding = Set("q44_baran_sample", "q53_detection_mask", "q54_label_noise")
    // queries whose construction executes heavy work (snapshot updates,
    // writes) are audited by their own specs — the sweep covers the
    // rest cheaply
    val skip = Set(
      "q25_pages_pipeline", "q37_continuous_rollup",
      // construction runs the lifecycle or a meta-learner; plans it
      // executes hold the imputer's literal-column nested loop (q31's
      // shape) and the full-outer label overlay (q32's shape)
      "q45_meta_learner", "q48_cleaning", "q52_cleaning_synth", "q62_meta_learner_cv",
      "q182_meta_learner_cv_precision",
      // construction runs a CSV write / snapshot update + compaction
      // — audited by their own oracles + specs
      "q56_csv_roundtrip", "q57_compaction",
      "q61_experiment_grid",
      // construction writes a snapshot store twice (q57-style side
      // effects) — audited by their oracles + SnapshotSpec
      "q137_time_travel", "q138_incremental_read", "q141_schema_evolution", "q144_row_deletes",
      // construction runs a snapshot update + archival retention
      "q146_retention_archive",
      // construction writes/vacuums/stages/rolls back a snapshot store
      "q147_vacuum", "q148_wap_publish", "q149_rollback",
      // construction forks/tags/appends snapshot stores (q166, q175)
      "q166_branch_refs", "q175_branch_diff",
      // construction appends data + delete snapshots (q177)
      "q177_changelog"
    )
    // broadcast-model or tiny-side joins where a nested-loop is the
    // right plan: literal-column broadcast model lookups, single-row
    // evaluation
    // q100: the as-of anchor is a 1-row broadcast cross join — a
    // nested loop against one row IS the right plan
    // q117/q123: the staleness/midpoint anchor is a 1-row broadcast
    // cross join, same shape as q100
    val allowNlj = Set(
      "q31_imputer", "q33_evaluate", "q100_decayed_topk",
      "q117_staleness", "q123_top_movers"
    )
    // row_id-keyed apply/overlay joins: both sides scale with the
    // table, so a shuffle join IS the 100-TB plan (full-outer overlay
    // cannot broadcast at all)
    // q59: the token-df join and the token->trusted-cell join both have
    // data-sized sides (tokens scale with the corpus) — shuffle joins
    // ARE the 100-TB plan there; the reduced conditional model joins
    // back to error cells via AQE-chosen sides
    // q119: FULL OUTER bucket alignment cannot broadcast by definition;
    // both sides are tier-sized (pre-aggregated), so the sort-merge is
    // over bucket-count rows, not raw data
    // q134: FULL OUTER reconciliation join — cannot broadcast; both
    // sides are tier-sized aggregates
    // q170: FULL OUTER digest reconciliation — cannot broadcast; both
    // sides are partition-count-sized digest relations (q134's shape)
    val allowSmj = Set(
      "q07_correct_fd", "q32_user_overlay", "q59_entity_corrector",
      "q119_series_ratio", "q134_tier_reconcile", "q170_replica_diff"
    )
    // a stale id would silently grant its exemption to any later query
    // registered under the same name
    val stale = (checkedWhileBuilding ++ skip ++ allowNlj ++ allowSmj) -- SparkEntry.queries.keySet
    assert(stale.isEmpty, s"exemptions name unregistered queries: ${stale.toSeq.sorted.mkString(", ")}")
    val dir = "/root/testdata/sf0.001"
    for ((name, fn) <- SparkEntry.queries.toSeq.sortBy(_._1) if !skip.contains(name)) {
      val plans =
        if (checkedWhileBuilding.contains(name)) plansWhileBuilding(fn(spark, dir))
        else Seq(physical(fn(spark, dir)))
      for (plan <- plans) {
        assert(!plan.contains("CartesianProduct"), s"$name degraded to a cartesian product")
        if (plan.contains("BroadcastNestedLoopJoin"))
          assert(allowNlj.contains(name), s"$name grew an unexpected nested-loop join")
        if (plan.contains("SortMergeJoin"))
          assert(allowSmj.contains(name), s"$name grew an unexpected sort-merge join")
      }
    }
  }

  test("correction decision stays whole-stage codegen'd") {
    val base = Seq((1L, "a", "x"), (2L, "a", "y")).toDF("row_id", "nation", "segment")
    val sugg = graft.correct.Correctors.vicinityCorrectorOrder1(
      base,
      Seq(graft.correct.ErrorCell(2L, "segment", "y")).toDF(),
      "row_id",
      Seq("nation", "segment")
    )
    assert(executedPhysical(sugg).contains("*("))
  }
}
