package graft.dedup

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Quality gates for the shingle-based dedup paths: the DF cap on hot
  * shingles, incremental MinHash-LSH against the batch run, containment
  * against Jaccard, and MinHash-LSH recall against exact n-gram Jaccard
  * on the deterministic test corpus.
  */
class DedupSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  test("hot-shingle DF cap stops the quadratic boilerplate explosion, keeps real pairs") {
    import spark.implicits._
    // 1000 docs sharing ONE boilerplate 3-gram (each with a unique
    // tail) would make ~500k candidate pairs in the uncapped join;
    // docs 2000/2001 share 10 rare shingles and must survive the cap
    val boiler = (0 until 1000).map(i => (i.toLong, s"click here now tail$i"))
    val realA = (2000L, (0 until 12).map(j => s"tok$j").mkString(" "))
    val realB = (2001L, (0 until 12).map(j => s"tok$j").mkString(" ") + " extra")
    val docs = (boiler :+ realA :+ realB).toDF("doc_id", "text")
    val capped = Dedup
      .ngramJaccardPairs(docs, "doc_id", "text", n = 3, threshold = 0.5, maxShingleDf = 100L)
      .cache()
    assert(capped.count() == 1)
    val r = capped.head()
    assert(r.getLong(0) == 2000L && r.getLong(1) == 2001L)
    assert(capped.filter(col("id_a") < 1000 && col("id_b") < 1000).isEmpty,
      "pairs connected only by the hot boilerplate shingle must not be emitted")
    capped.unpersist()
  }

  test("incremental MinHash-LSH over 3 batches equals the batch run, each pair emitted once") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val batch = Dedup.minHashLsh(docs, "doc_id", "text").cache()
    var idx: Option[DataFrame] = None
    var out: Option[DataFrame] = None
    (0 to 2).foreach { i =>
      val b = docs.filter(pmod(col("doc_id"), lit(3)) === i)
      val (pairs, newIdx) = Dedup.minHashLshIncrement(idx, b, "doc_id", "text")
      val cached = newIdx.cache()
      idx = Some(idx.map(_.unionByName(cached)).getOrElse(cached))
      out = Some(out.map(_.unionByName(pairs)).getOrElse(pairs))
    }
    val inc = out.get.cache()
    // set equality AND multiplicity: every pair exactly once
    assert(inc.count() == inc.select("id_a", "id_b").distinct().count(), "a pair was emitted twice")
    assert(inc.count() == batch.count())
    assert(inc.except(batch).isEmpty && batch.except(inc).isEmpty)
    inc.unpersist(); batch.unpersist(); idx.foreach(_.unpersist())
  }

  test("containment: a quoted short doc scores ~1 into its wrapper while Jaccard misses it") {
    import spark.implicits._
    val quote = "alpha beta gamma delta epsilon zeta"
    val wrapper = ("header one two three four five six seven eight nine ten " +
      quote + " footer eleven twelve thirteen fourteen fifteen sixteen seventeen")
    val docs = Seq((1L, quote), (2L, wrapper), (3L, "totally unrelated words here now")).toDF("doc_id", "text")
    val cont = Dedup
      .containmentPairs(docs, "doc_id", "text", n = 3, threshold = 0.8)
      .select("id_a", "id_b", "containment")
      .as[(Long, Long, Double)]
      .collect()
      .toSeq
    assert(cont.exists { case (a, b, c) => a == 1L && b == 2L && c == 1.0 }, cont) // fully contained
    assert(!cont.exists { case (a, b, _) => a == 2L && b == 1L }, cont) // wrapper NOT contained in quote
    // the same pair is invisible to symmetric Jaccard at any useful threshold
    val jac = Dedup.ngramJaccardPairs(docs, "doc_id", "text", n = 3, threshold = 0.5)
    assert(jac.filter("id_a = 1 AND id_b = 2").isEmpty)
  }

  test("MinHash-LSH at est>=0.5 finds exactly the true jaccard>=0.5 pairs on this corpus") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val exact = Dedup
      .ngramJaccardPairs(docs, "doc_id", "text", n = 3, threshold = 0.5)
      .select("id_a", "id_b")
    val approx = Dedup.minHashLsh(docs, "doc_id", "text").select("id_a", "id_b")
    assert(exact.except(approx).isEmpty && approx.except(exact).isEmpty)
  }
}
