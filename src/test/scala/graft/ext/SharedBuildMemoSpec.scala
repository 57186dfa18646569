package graft.ext

import graft.SparkSuite
import graft.core.SessionScope

/** Contract of the round-19 shared-build memos — the frames several
  * catalog queries derive from one (session, dataset):
  *   - `Graph.coPairs` / `Graph.coNc` / `Graph.custSupp` (g03/g04/g06/
  *     g07/g08/g09 + the mutual-top-6 construction),
  *   - `TextAnalysis.bpeRound5` / `bpeWinner` (t12/t14/t25),
  *   - `TextAnalysis.kmvDistinctHashes` (t09/t21),
  *   - `Similarity.exactTop5` (the ten recall queries),
  *   - `Dedup.verifiedPairs` (d07/d09).
  *
  * Two properties the r19 optimization round learned the hard way:
  *   1. build-once instance identity — every caller gets the SAME
  *      DataFrame (the `SessionScope.memo` contract);
  *   2. cache-sweep survival — these memos are
  *      `SessionScope.Checkpointed` (RDD-backed), so a sweep-side
  *      clearCache() cannot strip them. A persist registered once and
  *      never again was measured as g05's shuffle ceiling tripping
  *      1.38 → 3.5 MB (every loop round re-ran the repartition exchange);
  *      `SessionScope.Persisted` frames register again on their next read.
  */
class SharedBuildMemoSpec extends SparkSuite {
  private val sf = "/root/testdata/sf0.001"

  test("graph pair strengths: one build per session, RDD-backed, sweep-proof") {
    SessionScope.evict(spark)
    val a = Graph.coPairs(spark, sf)
    val b = Graph.coPairs(spark, sf)
    assert(a eq b, "second caller must receive the memoized frame")
    assert(a.queryExecution.analyzed.getClass.getSimpleName == "LogicalRDD",
      "pair strengths must be checkpoint-backed (plan truncated, " +
        "clearCache-proof) — a persist here regresses the g05 ceiling")
    val n0 = a.count()
    spark.sharedState.cacheManager.clearCache()
    assert(Graph.coPairs(spark, sf).count() == n0,
      "pair strengths must survive a cache sweep unchanged")
    // the nc census both lift denominators ride
    assert(Graph.coNc(spark, sf).collect().head.getLong(0) > 0)
    SessionScope.evict(spark)
  }

  test("bpe rounds + winners: one training per session; winner is the round's rank-1 pair") {
    SessionScope.evict(spark)
    val r1a = TextAnalysis.bpeRound5(spark, sf, 1)
    val r1b = TextAnalysis.bpeRound5(spark, sf, 1)
    assert(r1a eq r1b, "round table must be memoized")
    assert(r1a.queryExecution.analyzed.getClass.getSimpleName == "LogicalRDD")
    // winner identity: the 1-row winner frame t14/t25 broadcast must be
    // exactly the rank-1 row of the same round's top-5 table — the value
    // the old per-query `orderBy(cnt desc, pair).limit(1)` replay produced
    for (i <- 1 to 3) {
      val win = TextAnalysis.bpeWinner(spark, sf, i).collect()
      val top = TextAnalysis.bpeRound5(spark, sf, i)
        .filter(org.apache.spark.sql.functions.col("rnk") === 1)
        .select("pair").collect()
      assert(win.length == 1 && win.sameElements(top),
        s"round-$i winner must equal the round table's rank-1 pair")
    }
    SessionScope.evict(spark)
  }

  test("exact top-5 ground truth: memoized, RDD-backed, equals s01's slate") {
    SessionScope.evict(spark)
    val a = Similarity.exactTop5(spark, sf)
    assert(a eq Similarity.exactTop5(spark, sf))
    assert(a.queryExecution.analyzed.getClass.getSimpleName == "LogicalRDD")
    val expected = graft.SparkEntry.queries("s01_cosine_topk")(spark, sf)
      .filter(org.apache.spark.sql.functions.col("rn") <= 5)
      .select("query_id", "neighbor_id").collect().map(_.toSeq).toSet
    assert(a.collect().map(_.toSeq).toSet == expected,
      "memoized slate must equal the live s01 ranking cut to 5")
    SessionScope.evict(spark)
  }

  test("verified near-dup pairs: memoized and shared by d07/d09") {
    SessionScope.evict(spark)
    val d07 = graft.SparkEntry.queries("d07_dedup_pipeline")(spark, sf)
      .select("doc_a", "doc_b").collect().map(_.toSeq).toSet
    spark.sharedState.cacheManager.clearCache()
    // d09's clusters must be formed over the SAME (sweep-surviving) pair
    // set: every cluster edge endpoint appears in d07's pairs
    val reps = graft.SparkEntry.queries("d09_dedup_clusters")(spark, sf)
    val clustered = reps.filter("doc_id <> cluster_rep").count()
    assert(clustered > 0, "fixture must contain at least one near-dup pair")
    assert(d07.nonEmpty)
    SessionScope.evict(spark)
  }
}
