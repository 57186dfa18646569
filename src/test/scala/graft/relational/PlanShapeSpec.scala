package graft.relational

import graft.SparkSuite
import graft.SparkEntry

/** Plan-shape regression tests: the scale-critical physical properties the
  * queries rely on (pushdown, broadcast, top-k operator, no cartesian
  * products) must not silently regress. */
class PlanShapeSpec extends SparkSuite {

  private val sf = "/root/testdata/sf0.001"

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sf).queryExecution
      .explainString(org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))

  test("q06: every predicate reaches the parquet scan") {
    val p = plan("q06_revenue_delta")
    assert(p.contains("PushedFilters:"))
    assert(p.contains("GreaterThanOrEqual(l_shipdate"))
    assert(p.contains("LessThan(l_quantity,24.0)"))
  }

  test("q03: dimension joins broadcast, no shuffle of the fact for them") {
    val p = plan("q03_shipping_priority")
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("CartesianProduct"))
  }

  test("q08: global top-k plans as TakeOrderedAndProject, not a full sort") {
    val p = plan("q08_topk_orders")
    assert(p.contains("TakeOrderedAndProject"))
  }

  test("q16: scan reads only the three needed event columns") {
    val p = plan("q16_route_count")
    assert(p.contains("ReadSchema: struct<event_type:string,value:double,props:string>"))
  }

  test("q48: no buffered exact-percentile aggregate anywhere in the plan") {
    // the exact median must come from the mergeable cents-histogram rank
    // selection — `percentile()` buffers every group value and is the one
    // memory-unbounded aggregate shape banned from the scale path (q35 is
    // the labeled small-data baseline; q48 is the scale-true form)
    val p = plan("q48_sketch_quantile")
    val exactPercentiles =
      "percentile\\(".r.findAllIn(p).size - "approx_percentile\\(".r.findAllIn(p).size
    assert(exactPercentiles == 0,
      s"q48 plan contains $exactPercentiles buffered percentile() aggregate(s)")
    assert(p.contains("approx_percentile"), "the GK sketch arm must remain")
  }

  test("g06: pair build, mutuality, wedge and closing joins all plan as equi-joins") {
    // the canonical cold plan: cached frames left by sibling suites
    // (g03/g04 share the sets build) splice InMemoryRelations whose
    // stored subtrees carry their own join nodes and skew the counts
    spark.sharedState.cacheManager.clearCache()
    val p = plan("g06_triangle_census")
    // sanctioned non-equi plans: exactly ONE CartesianProduct — the
    // dimension-sized pair quadratic (sp < sp over per-supplier sets,
    // g03's documented baseline; |suppliers|², never corpus-sided) —
    // plus the one-row census assembly's nested-loop broadcasts. The
    // mutuality join and both triangle joins must keep real equi keys:
    // a second cartesian or a fifth BNLJ means one of them degraded
    val cartNodes = raw"\((\d+)\) CartesianProduct".r
      .findAllMatchIn(p).map(_.group(1)).toSet
    assert(cartNodes.size <= 1, s"extra cartesian joins ($cartNodes):\n$p")
    val bnljNodes = raw"\((\d+)\) BroadcastNestedLoopJoin".r
      .findAllMatchIn(p).map(_.group(1)).toSet
    assert(bnljNodes.size <= 4, s"unexpected nested-loop joins ($bnljNodes):\n$p")
    assert(p.contains("SortMergeJoin") || p.contains("BroadcastHashJoin"),
      "triangle joins must plan as hash/merge equi-joins")
  }

  test("d03: LSH candidate generation is an equi-join (no cartesian/BNLJ)") {
    val p = plan("d03_dedup_minhash_lsh")
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("BroadcastNestedLoopJoin"))
  }

  test("d04: value-space Hamming pairing never plans a cartesian product") {
    val p = plan("d04_dedup_simhash")
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("BroadcastNestedLoopJoin"))
    assert(p.contains("simhash_md5_16"),
      "signatures must come from the codegen'd expression, not a word explode")
  }

  test("q36: as-of join is a keyed join + window, no cartesian/BNLJ") {
    val p = plan("q36_asof_attribution")
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("BroadcastNestedLoopJoin"))
    assert(p.contains("Window"))
  }

  test("q37: range join broadcasts the bracket side (fact never shuffles)") {
    val p = plan("q37_range_join")
    assert(p.contains("BroadcastNestedLoopJoin"))
    assert(!p.contains("CartesianProduct"))
  }

  test("c01: sampling scan reads only (doc_id, lang), never the text") {
    val p = plan("c01_stratified_sample")
    assert(p.contains("ReadSchema: struct<doc_id:bigint,lang:string>"))
  }

  test("c03: decontamination joins broadcast the eval shingle set") {
    val p = plan("c03_decontaminate")
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("CartesianProduct"))
  }

  test("s04: centroid assignment broadcasts the centroid set") {
    val p = plan("s04_kmeans_refine")
    assert(p.contains("Broadcast"))
    assert(!p.contains("CartesianProduct"))
  }

  test("s01/s02: query sets broadcast to the vector scan") {
    assert(plan("s01_cosine_topk").contains("Broadcast"))
    assert(plan("s02_ann_buckets").contains("BroadcastHashJoin"))
  }

  test("q01: aggregation is two-phase (partial before the shuffle)") {
    val p = plan("q01_pricing_summary")
    assert(p.contains("HashAggregate"))
    // partial + final pair means map-side combine happened
    assert("HashAggregate".r.findAllIn(p).size >= 2)
  }

  test("d10: dedup accounting is a window, never a self-join") {
    val p = plan("d10_dedup_savings")
    assert(p.contains("Window"))
    assert(!p.contains("Join"), "marking duplicates must not re-join the corpus")
  }

  test("t07: vocab tops via per-partition heaps and broadcasts to the census scan") {
    val p = plan("t07_oov_rate")
    assert(p.contains("TakeOrderedAndProject"), "top-K vocab must not globally sort")
    assert(p.contains("BroadcastHashJoin"), "census must join the broadcast vocab")
    assert(!p.contains("SortMergeJoin"), "token stream must never shuffle for the join")
  }

  test("d11: multi-index block pairing is an equi-join on block keys, signatures codegen'd") {
    val p = plan("d11_dedup_simhash_blocks")
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("BroadcastNestedLoopJoin"))
    assert(p.contains("simhash_md5"), "signatures must come from the codegen'd expression")
  }

  test("c07: weighted sampling is one scan — no join, no self-read") {
    val p = plan("c07_weighted_sample")
    assert(!p.contains("Join"), "the gate is per-row; joining would mean a second corpus pass")
    assert(p.contains("partial"), "census aggregation must be two-phase (map-side partial)")
  }

  test("s08: map-side Lloyd step never collects a member list") {
    val p = plan("s08_kmeans_mapside")
    assert(!p.contains("collect_list"), "scale path must not materialize cell members")
    assert(!p.contains("sort_array"))
    assert(p.contains("Broadcast"), "centroids must broadcast")
    assert(p.contains("partial"), "per-(cell,dim) sums must partial-aggregate map-side")
    assert(!p.contains("CartesianProduct"))
  }

  test("s07: multi-probe expands the broadcast query side only (equi-join on bucket)") {
    val p = plan("s07_ann_multiprobe")
    assert(p.contains("BroadcastHashJoin"), "probes must broadcast to the corpus scan")
    assert(!p.contains("CartesianProduct"))
  }

  test("c05: the big window is bucket-partitioned; serial window sees only bucket totals") {
    val p = plan("c05_token_shards")
    val winArgs = """Arguments: ([^\n]*windowspecdefinition[^\n]*)""".r
      .findAllMatchIn(p).map(_.group(1)).toList
    assert(winArgs.size == 2, s"expected exactly two windows, got:\n${winArgs.mkString("\n")}")
    // the full-corpus per-doc prefix sum must carry the bucket partition key
    val (partitioned, serial) = winArgs.partition(
      _.matches(""".*windowspecdefinition\(bucket#\d+L, doc_id#.*"""))
    assert(partitioned.size == 1, "per-doc prefix sum must be partitioned by bucket")
    // the only single-partition window may see per-bucket TOTALS (btk),
    // never per-document rows — n/K tiny rows through the serial task
    assert(serial.size == 1 && serial.head.contains("sum(btk#"),
      s"the single-partition window must run over bucket totals only, got: $serial")
  }

  test("d12: semantic dedup pairs within a cell via equi-join, centroids broadcast") {
    val p = plan("d12_semantic_dedup")
    assert(!p.contains("CartesianProduct"), "within-cell pairing must equi-join on cell")
    // the only nested-loop joins are the broadcast-of-8-centroids scoring
    // passes (s03's shape); the PAIR join must be keyed on cell — any
    // hash/merge equi-join qualifies (with the assignment persisted, AQE
    // broadcasts the small cached side at test scale)
    assert(p.contains("SortMergeJoin") || p.contains("HashJoin"),
      "pair generation must be an equi-join on cell, not a nested loop")
    assert(p.contains("Broadcast"), "centroid set must broadcast to the assignment scan")
  }

  test("d13: chunk dedup census never joins — chunking is narrow, census is window+agg") {
    val p = plan("d13_chunk_dedup")
    assert(!p.contains("Join"), "per-hash doc counts must come from partial agg + window, not a self-join")
    assert(p.contains("partial"), "the (hash, source) rollup must partial-aggregate map-side")
    assert(p.contains("Window"))
  }

  test("s09: multiprobe IVF broadcasts the probe list; corpus side equi-joins on cell") {
    val p = plan("s09_ivf_multiprobe")
    assert(p.contains("BroadcastHashJoin"), "probes must broadcast to the corpus scan")
    assert(!p.contains("CartesianProduct"))
  }

  test("c08: contamination report broadcasts eval shingles; training side never shuffles for the join") {
    val p = plan("c08_contamination_report")
    assert(p.contains("BroadcastHashJoin"), "eval shingle set must broadcast")
    assert(!p.contains("CartesianProduct"))
  }

  test("d14: calibration verifies candidates only — sigs codegen'd, no cartesian") {
    val p = plan("d14_minhash_calibration")
    assert(p.contains("minhash_sigs"), "signatures must come from the codegen'd expression")
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("BroadcastNestedLoopJoin"))
  }

  test("d15: overlap matrix self-joins the reduced (hash, source) table, never raw chunks") {
    val p = plan("d15_source_overlap")
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("BroadcastNestedLoopJoin"))
    assert(p.contains("partial"), "the (hash, source) rollup must partial-aggregate map-side")
  }

  test("s10: PQ encode broadcasts the codebook and partial-aggregates the argmin") {
    val p = plan("s10_product_quantization")
    assert(p.contains("Broadcast"), "codebook must broadcast")
    assert(p.contains("partial"), "per-subspace min_by must partial-aggregate map-side")
    assert(!p.contains("CartesianProduct"))
  }

  test("s11: ADC search broadcasts tables; corpus side is scan-bound, no decode join") {
    val p = plan("s11_pq_adc_search")
    assert(p.contains("Broadcast"), "codebook + query tables must broadcast")
    assert(!p.contains("CartesianProduct"))
    // the corpus is never shuffle-joined: PQ encode is a pure per-row map
    // over the scan and every join keeps the corpus side streamed against
    // a broadcast; a SortMergeJoin would mean codes were decode-joined
    // back to vectors or the corpus was exchanged
    assert(!p.contains("SortMergeJoin"))
  }

  test("s12: 3-round Lloyd never shuffle-joins the vector table; rounds reuse cached cells") {
    val p = plan("s12_kmeans_lloyd3")
    // assignment is a per-row map against the one-row broadcast codebook —
    // a SortMergeJoin anywhere would mean the corpus got exchanged for a
    // join; the only exchanges allowed carry (cell, dim) fixed-point
    // partials (hence the partial-aggregate marker)
    assert(!p.contains("SortMergeJoin"))
    assert(!p.contains("CartesianProduct"))
    assert(p.contains("partial"), "fixed-point sums must partial-aggregate map-side")
    // the 8-row per-cell tables are persisted between rounds — that cache
    // is what holds the composed plan to one corpus scan per round
    assert(p.contains("InMemoryTableScan"), "per-round cell tables must be cached")
    assert(!p.contains("collect_list(v"), "member vectors must never be collected")
  }

  test("s13: IVF-PQ search is broadcast-only — corpus never exchanged for a join") {
    val p = plan("s13_ivfpq_search")
    assert(p.contains("Broadcast"), "codebook, probes and ADC tables must broadcast")
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("SortMergeJoin"))
  }

  test("s18: ingest screens increment-vs-base on the cell key, increment broadcast") {
    val p = plan("s18_incremental_ingest")
    // the screen must be a cell-keyed equi-join with the increment side
    // broadcast against streamed base codes — a SortMergeJoin would mean
    // the base ledger got exchanged; assignment is the per-row broadcast
    // argmax, so no exchange carries vectors at all
    assert(p.contains("BroadcastHashJoin"), "cell-keyed screen must broadcast the increment")
    assert(!p.contains("SortMergeJoin"))
    assert(!p.contains("CartesianProduct"))
    // the increment's ADC tables are persisted (they feed the broadcast
    // side and the output spine from one computation)
    assert(p.contains("InMemoryTableScan"), "increment tables must be cached")
  }

  test("s14: rerank stage broadcasts the candidate-id set — no corpus exchange") {
    val p = plan("s14_pq_rerank")
    assert(p.contains("Broadcast"), "candidate ids + query vectors must broadcast")
    assert(!p.contains("CartesianProduct"))
    // stage 2 must probe the vector scan with the broadcast top-20 set; a
    // SortMergeJoin would mean the corpus was exchanged to fetch vectors
    assert(!p.contains("SortMergeJoin"))
  }

  test("d17: incremental dedup joins are equi-joins; signatures codegen'd") {
    val p = plan("d17_incremental_dedup")
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("BroadcastNestedLoopJoin"))
    assert(p.contains("minhash_sigs"),
      "near stage must reuse the codegen'd signature expression")
  }

  test("c10: temperature mix is two scans — stats agg partials + broadcast-rate gate") {
    val p = plan("c10_temperature_mix")
    assert(p.contains("partial"), "per-source token sums must partial-aggregate")
    assert(!p.contains("SortMergeJoin"),
      "the rates table must broadcast to the gate scan, never shuffle-join")
    // (the 1-row totals table legitimately joins as a broadcast NLJ —
    // same documented shape as c04's)
    assert(!p.contains("CartesianProduct"))
  }

  test("c12: fixed-size sample plans as TakeOrderedAndProject, no global sort") {
    val p = plan("c12_fixed_sample")
    assert(p.contains("TakeOrderedAndProject"))
  }

  test("s17: the metadata predicate reaches the parquet scan of the vector table") {
    val p = plan("s17_ann_filtered")
    assert(p.contains("LessThan(label,3)"),
      "label filter must push into the parquet scan, not post-filter rows")
    assert(!p.contains("CartesianProduct"))
  }

  test("m03: phash pairing is value-space — no cartesian, signature pass narrow") {
    val p = plan("m03_media_phash_dedup")
    assert(!p.contains("CartesianProduct"))
    // the only non-equi comparison runs over the distinct (kind, phash)
    // values (a BNLJ over the tiny value set is acceptable, like d04's);
    // media rows must only ever equi-join back on (kind, phash)
    assert(p.contains("BroadcastHashJoin"),
      "media rows must equi-join back on (kind, phash) via broadcast")
    assert(!p.contains("SortMergeJoin"),
      "media rows must never sort-merge-join")
  }

  test("c11: incremental build never moves base text — ledger joins are hash-keyed") {
    val p = plan("c11_incremental_build")
    assert(!p.contains("CartesianProduct"))
    // the span-ledger exclusion must be an anti join on the 16-byte hash
    assert(p.contains("LeftAnti"), "base chunk ledger must anti-join")
  }

  test("t08: bigram scoring shingles via ShingleArr and two-phases the df count") {
    val p = plan("t08_bigram_fluency")
    assert(p.contains("shingle_arr"), "bigrams must come from the codegen'd expression")
    assert(!p.contains("CartesianProduct"))
    assert(p.contains("partial"), "df wordcount must partial-aggregate map-side")
  }

  test("t12: the query reads the memoized checkpointed round tables — no training replay in its plan") {
    // r19: the 3-round training is the memoized shared build
    // (TextAnalysis.bpeRound5 — localCheckpoint'd per session+dataset,
    // shared with t14/t25); t12's own plan must be the union of the
    // three 5-row RDD-backed tables, with the training's joins and
    // corpus scans nowhere in it
    val p = plan("t12_bpe_merge_train")
    assert(!p.contains("SortMergeJoin"))
    assert(!p.contains("CartesianProduct"))
    assert(p.contains("Scan ExistingRDD"),
      "round tables must be the memoized checkpointed frames")
    assert(!p.contains("shingle_arr"),
      "the pair census must not replay inside the query plan — it lives in the memoized build")
  }

  test("bpe training build: merge rounds broadcast the winner back — the corpus is never exchanged") {
    // the training-shape assertions that used to sit on t12's plan, now
    // on the memo build's UNCHECKPOINTED plan (the plan the first
    // toucher actually executes once per session): applying a merge is
    // a 1-row broadcast against the corpus scan; a SortMergeJoin
    // anywhere would mean word sequences rode a shuffle
    val p = {
      val qe = graft.ext.TextAnalysis.bpeRound5Build(spark, sf, 3).queryExecution
      qe.explainString(org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    }
    assert(!p.contains("SortMergeJoin"))
    assert(!p.contains("CartesianProduct"))
    assert(p.contains("BroadcastNestedLoopJoin"), "winner pair must broadcast")
    assert(p.contains("partial"), "pair counts must partial-aggregate map-side")
    assert(p.contains("TakeOrderedAndProject"), "argmax via per-partition heaps")
    assert(p.contains("shingle_arr"), "pairs must come from the codegen'd expression")
  }

  test("t14: encode pass is narrow — merges broadcast, text never sort-merge-joins") {
    val p = plan("t14_bpe_encode")
    // same discipline as the training side, now also on the apply side:
    // the three merge applications are 1-row broadcasts into the doc
    // scan. r19: the winners are the memoized 1-row checkpointed frames
    // (TextAnalysis.bpeWinner), so the training lineage must be GONE
    // from the encode plan entirely
    assert(!p.contains("SortMergeJoin"))
    assert(!p.contains("CartesianProduct"))
    assert(p.contains("BroadcastNestedLoopJoin"), "merge winners must broadcast")
    assert(p.contains("Scan ExistingRDD"),
      "winners must be the memoized checkpointed 1-row frames")
    assert(p.contains("partial"), "per-doc census must partial-aggregate map-side")
  }

  test("t16: probe terms broadcast into the postings — train side never sort-merge-joins them") {
    val p = plan("t16_bm25_retrieval")
    assert(p.contains("BroadcastHashJoin"), "probe lookups must broadcast")
    assert(!p.contains("CartesianProduct"))
    assert(p.contains("InMemoryTableScan"), "scored frame must be persisted, not re-scanned")
    assert(p.contains("partial"), "per-(eval, doc) sums must partial-aggregate map-side")
    // r20: the impacts index is the memoized checkpointed frame — the
    // tokenization lineage must be GONE from the query plan (the build's
    // doc-local shape is guarded on the build plan below)
    assert(p.contains("Scan ExistingRDD"),
      "postings must be the memoized checkpointed impacts frame")
    assert(!p.contains("word_counts"),
      "the tokenization build must not replay inside the query plan")
    assert(!p.contains("SortMergeJoin"), "no posting-side sort-merge join")
  }

  test("bm25 impacts build: doc-local postings — no per-posting exchange, df/stats broadcast") {
    // the UNMEMOIZED build composition (what bm25ImpactsMemo checkpoints
    // once per session): the t16 guard above used to inspect this shape
    // through the query plan; the memo truncates that plan, so the
    // discipline is pinned on the build itself (the bpeRound5Build
    // precedent)
    val docs = graft.core.Tables.documents(spark, sf)
    // bm25Tf persists its frame: release it so the entry cannot
    // plan-alias into later tests' cache censuses
    val tf = graft.ext.TextAnalysis.bm25Tf(spark, docs)
    try {
      val p = graft.ext.TextAnalysis.bm25ImpactsFromTf(
        tf, graft.ext.TextAnalysis.bitLenIdf).queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      assert(p.contains("word_counts"),
        "postings must come from the doc-local codegen'd wordcount, not a groupBy exchange")
      assert(p.contains("BroadcastHashJoin"), "df lookup must broadcast")
      assert(!p.contains("SortMergeJoin"), "no posting-side sort-merge join")
      assert(!p.contains("CartesianProduct"))
    } finally { tf.unpersist(false); () }
  }

  test("t26: candidates broadcast into the embeddings scan — the corpus side never sort-merge-joins") {
    // the rerank's scale contract: stage 2 touches only the n_eval × 10
    // candidate slate, so BOTH embedding fetches (candidate vectors and
    // eval vectors) must plan as broadcast joins against the embeddings
    // scan — a lost broadcast silently exchanges the corpus embedding
    // table, which at 100 TB is the difference between a slate-sized
    // rerank and a full-corpus shuffle (ShuffleCeilingSpec bounds the
    // bytes at sf0.01; this names the failing join shape)
    val p = plan("t26_hybrid_rerank")
    assert(p.contains("BroadcastHashJoin"),
      "candidate/eval/min-max lookups must broadcast")
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("SortMergeJoin"),
      "no embedding-side sort-merge join — the corpus must never exchange")
    // r20: stage 1 is the memoized checkpointed probe scoring — the
    // tokenization/scoring lineage must be GONE from the query plan
    // (the build shape is guarded by the "bm25 impacts build" test)
    assert(p.contains("Scan ExistingRDD"),
      "stage 1 must be the memoized checkpointed probe scoring")
    assert(!p.contains("word_counts"),
      "the tokenization build must not replay inside the query plan")
    assert(p.contains("partial"),
      "per-candidate stats must partial-aggregate map-side")
  }

  test("m04: pair curation has no quadratic stage — gates are aggs, alignment equi-joins") {
    val p = plan("m04_pair_curation")
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("BroadcastNestedLoopJoin"))
    assert(p.contains("partial"), "rep rules and census must partial-aggregate")
  }

  test("s20: outlier census broadcasts centroids/means — vectors never sort-merge-join") {
    val p = plan("s20_outlier_census")
    assert(p.contains("BroadcastHashJoin"), "means table must broadcast to the scan")
    assert(!p.contains("SortMergeJoin"))
    assert(!p.contains("CartesianProduct"))
    assert(p.contains("partial"), "fixed-point means must partial-aggregate map-side")
  }

  test("c14: sequence packing uses the two-level scan — bucket offsets broadcast") {
    val p = plan("c14_sequence_pack")
    // the only window over an unpartitioned ordering must be the tiny
    // per-bucket totals table, never the doc rows: doc rows join the
    // broadcast offsets and window within their bucket
    assert(p.contains("BroadcastHashJoin"), "bucket offsets must broadcast")
    assert(!p.contains("SortMergeJoin"))
    assert(!p.contains("CartesianProduct"))
    assert(p.contains("partial"), "seq census must partial-aggregate map-side")
  }

  test("d18: window hashing fuses into the scan — exchanges carry 8-byte hashes, never text") {
    val p = plan("d18_substring_spans")
    assert(p.contains("shingle_hashes"),
      "window hashes must come from the codegen'd expression, not a HOF/md5 post-explode")
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("BroadcastNestedLoopJoin"))
    assert(p.contains("partial_count"),
      "the corpus-wide duplicate census must partial-aggregate map-side")
    // the duplicated-window filter joins back on the hash key — an
    // equi-join on h, not anything carrying the words array
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin")
      || p.contains("BroadcastHashJoin"))
  }

  test("d05: all-pairs baseline fail-fasts above the row bound, runs below it") {
    import graft.ext.Dedup
    // oversized input → loud refusal, naming the scale-shaped alternative
    val big = spark.range(Dedup.AllPairsMaxRows + 1).toDF("vec_id")
    val err = intercept[IllegalArgumentException] {
      Dedup.guardAllPairs(big, "d05_dedup_embedding_cosine")
    }
    assert(err.getMessage.contains("d12_semantic_dedup"))
    // the guarded query itself still runs at harness scale
    assert(SparkEntry.queries("d05_dedup_embedding_cosine")(spark, sf).count() > 0)
  }

  test("d11: hot-block cap is on by default — bands gate through the broadcast cool-bucket join") {
    val p = plan("d11_dedup_simhash_blocks")
    // the census gate is a broadcast equi-join on (bi, bv); its census
    // aggregates map-side
    assert(p.contains("BroadcastHashJoin"), "cool-bucket gate must broadcast")
    assert(!p.contains("CartesianProduct"))
    assert(p.contains("partial_count"), "block census must partial-aggregate")
  }

  test("c15: both LM table sets broadcast onto one pool pass; top-100 is TakeOrderedAndProject") {
    val p = plan("c15_dsir_selection")
    assert(p.contains("BroadcastHashJoin"), "LM count lookups must broadcast")
    assert(!p.contains("SortMergeJoin"))
    assert(!p.contains("CartesianProduct"))
    assert(p.contains("TakeOrderedAndProject"),
      "the top-100 cut must not plan a full global sort")
    assert(p.contains("partial"), "LM counts and per-doc sums must partial-aggregate")
  }

  test("q45: funnel windows + per-user reduce share ONE data exchange; census gather is the only other") {
    val p = plan("q45_funnel_conversion")
    // 2 exchanges total: hash by user_id (windows + groupBy reuse it),
    // then the 1-row-per-partition global census gather
    val exchanges = "\\(\\d+\\) Exchange".r.findAllIn(p).length
    assert(exchanges == 2, s"expected 2 exchanges, plan has $exchanges:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      "funnel must not plan any join")
  }

  test("s13: every fused stage compiles under the codegen method limit; the encode pass IS fused") {
    // The former wide ADC form (64 distance columns in one stage) exceeded
    // janino's 64 KB generated-method budget: Spark logged one "Failed to
    // compile" and silently ran the corpus pass with per-operator codegen.
    // This guard makes that failure mode a red test: compile every
    // WholeStageCodegen subtree the way WholeStageCodegenExec would, and
    // require the DotProduct-bearing encode projections to live INSIDE a
    // fused stage (not between stages as bare per-operator projections).
    import org.apache.spark.sql.execution.WholeStageCodegenExec
    import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
    // AQE wraps the plan in AdaptiveSparkPlanExec (a leaf until executed),
    // hiding the codegen stages from collect — plan without it
    val aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val exec = SparkEntry.queries("s13_ivfpq_search")(spark, sf)
        .queryExecution.executedPlan
      val stages = exec.collect { case w: WholeStageCodegenExec => w }
      assert(stages.nonEmpty, "plan must contain fused stages")
      val limit = spark.conf.get("spark.sql.codegen.hugeMethodLimit").toInt
      stages.foreach { w =>
        val (_, code) = w.doCodeGen()
        val (_, stats) = CodeGenerator.compile(code) // throws if janino rejects
        assert(stats.maxMethodCodeSize <= limit,
          s"generated method ${stats.maxMethodCodeSize} bytes exceeds the " +
            s"$limit fallback threshold — stage would run unfused:\n" +
            w.treeString.linesIterator.take(20).mkString("\n"))
      }
      // the subspace-distance encode projection must sit inside a fused
      // stage: if it fell out, dot_product would appear in the plan only
      // OUTSIDE the collected WholeStageCodegen subtrees
      assert(stages.exists(_.treeString.contains("dot_product")),
        "the DotProduct encode projections must be inside a fused stage")
    } finally spark.conf.set("spark.sql.adaptive.enabled", aqe)
  }

  // The same silent-fallback failure mode threatens every query whose
  // fused stages carry many codegen'd expressions — compile each one's
  // stages the way WholeStageCodegenExec would, so a refactor that blows
  // the 64 KB method budget anywhere in this risk set turns red instead
  // of quietly running the stage unfused (grep-the-logs was the only
  // detection before the s13 guard; this extends it to the family).
  for (name <- Seq("s15_pq_trained", "s12_kmeans_lloyd3", "s25_maxsim_late_interaction",
                   "s11_pq_adc_search", "t26_hybrid_rerank", "d08_simhash64_signatures",
                   "g04_cooccurrence_bitmap", "t16_bm25_retrieval"))
    test(s"$name: every fused stage compiles under the codegen method limit") {
      import org.apache.spark.sql.execution.WholeStageCodegenExec
      import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
      val aqe = spark.conf.get("spark.sql.adaptive.enabled")
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      try {
        val exec = SparkEntry.queries(name)(spark, sf)
          .queryExecution.executedPlan
        val stages = exec.collect { case w: WholeStageCodegenExec => w }
        assert(stages.nonEmpty, "plan must contain fused stages")
        val limit = spark.conf.get("spark.sql.codegen.hugeMethodLimit").toInt
        stages.foreach { w =>
          val (_, code) = w.doCodeGen()
          val (_, stats) = CodeGenerator.compile(code)
          assert(stats.maxMethodCodeSize <= limit,
            s"generated method ${stats.maxMethodCodeSize} bytes exceeds the " +
              s"$limit fallback threshold — stage would run unfused:\n" +
              w.treeString.linesIterator.take(20).mkString("\n"))
        }
      } finally spark.conf.set("spark.sql.adaptive.enabled", aqe)
    }

  test("t15: LM tables broadcast to the scoring scan — the corpus never shuffles for the lookup") {
    val p = plan("t15_lm_bits")
    assert(!p.contains("SortMergeJoin"),
      "bigram/context count lookups must be broadcast hash joins")
    assert(!p.contains("CartesianProduct"))
    assert(p.contains("BroadcastHashJoin"), "LM count tables must broadcast")
    assert(p.contains("partial"), "LM counts and the per-doc sum must partial-aggregate")
  }

  test("q50: correlated subqueries decorrelate to aggregate-joins + a semi join") {
    val p = plan("q50_correlated_subquery")
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("BroadcastNestedLoopJoin"),
      "correlated scalars must rewrite to joins, not per-row nested loops")
    assert(p.contains("LeftSemi"), "the correlated EXISTS must become a semi join")
  }

  test("q56: EXISTS + NOT EXISTS self-correlation decorrelates to semi + anti hash joins") {
    // TPC-H Q21's shape: both subqueries correlate to the SAME fact
    // table on the fact key with a ≠-key residual — naive execution is
    // a per-row rescan of lineitem, twice. The plan must show one
    // LeftSemi and one LeftAnti equi-join on l_orderkey (the residual
    // rides as a join condition), and no nested loop anywhere.
    val p = plan("q56_waiting_suppliers")
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("BroadcastNestedLoopJoin"),
      "self-correlated EXISTS/NOT EXISTS must rewrite to hash joins")
    assert(p.contains("LeftSemi"), "EXISTS must become a semi join")
    assert(p.contains("LeftAnti"), "NOT EXISTS must become an anti join")
  }

  test("q53: LATERAL top-N decorrelates to a ranking join, not per-row re-execution") {
    val p = plan("q53_lateral_topn")
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("BroadcastNestedLoopJoin"),
      "the correlated LATERAL must rewrite to a join, not a nested loop")
    // the LIMIT-per-group becomes a ranking (window/rank or per-key
    // limit) over the correlation key — i.e. the same plan family the
    // hand-written window form produces
    assert(p.contains("Window") || p.contains("rank") || p.contains("row_number"),
      "per-group LIMIT must plan as a ranking, proving decorrelation")
  }

  test("q47: derived-interval range join is an equi-join on the bin, never a nested loop") {
    val p = plan("q47_spike_census")
    assert(!p.contains("CartesianProduct"))
    // the interval containment join must meet on the bin id (hash or
    // sort-merge — Catalyst's choice), with BETWEEN as a residual
    assert((p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin")
        || p.contains("ShuffledHashJoin")) && p.contains("__graft_bin_"),
      "the point-in-interval join must be an equi-join on the bin column")
    // the ONLY nested loop allowed is the documented one-row global-stats
    // broadcast (hot-minute threshold), never the interval join itself.
    // Formatted mode prints each operator in the tree AND as a "(n) Op"
    // detail header — count the detail headers to count operators once.
    assert("(?m)^\\(\\d+\\) BroadcastNestedLoopJoin".r.findAllIn(p).size <= 1,
      "unexpected extra nested-loop join")
  }

  test("s25: MaxSim broadcasts queries; max-reduce partial-aggregates before the exchange") {
    val p = plan("s25_maxsim_late_interaction")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      "the 5-query side must broadcast to the token scan")
    assert(!p.contains("CartesianProduct"), "never a shuffled cartesian")
    // long-narrow form: Generate (the 8-token posexplode) feeds dots; the
    // per-(query,vec) max-reduce is two-phase so token rows collapse
    // map-side before the exchange
    assert(p.contains("Generate"))
    assert("HashAggregate".r.findAllIn(p).size >= 2)
  }

  test("q55: gap fill is window+explode — no spine join ever reaches the plan") {
    val p = plan("q55_gapfill_spine")
    // the lead+sequence form emits filled months from the gap-opening row
    // itself; a regression back to the textbook spine-left-join form (or
    // any join at all) is a plan change, not just a perf change
    assert(!p.contains("Join"), "gap fill must not join a spine")
    assert(p.contains("Window") && p.contains("Generate"),
      "expected the lead() window and the sequence() explode")
    // monthly spend partials combine map-side before the (ck,midx) shuffle
    assert("HashAggregate".r.findAllIn(p).size >= 2)
  }
}
