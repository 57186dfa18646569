package graft

import java.util.concurrent.atomic.LongAdder

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.GraftShims

/** The engine's 100 TB argument, as a RED TEST.
  *
  * SCALE.md's measured shuffle table is what backs every "signatures move,
  * text never does" claim — but a plan regression (a lost `broadcast()`
  * hint, a join reorder that exchanges the corpus, a window that sorts the
  * world) used to show up only if someone re-ran the shuffle audit and
  * re-read the doc. This spec executes the scale-critical queries at
  * sf0.01 under the noop sink (the audit-honest action — `count()` lets
  * Catalyst prune whole arms, see CLAUDE.md) with a task-metrics listener,
  * and asserts a per-query ceiling on SHUFFLE WRITE BYTES (each exchanged
  * byte counted once at its producer).
  *
  * Ceilings are 2× the values measured at spec-authoring time (round 12,
  * sf0.01, the suite's local[4]/4-partition config — map-side combine only
  * gets BETTER with more rows per partition, so the audit-config numbers
  * are an upper bound), with a 64 KB floor for the effectively-zero
  * queries: at sf0.01 even the small corpus is ~100s of KB, so any
  * regression that starts exchanging corpus-sized data blows through the
  * floor.
  *
  * Validated red (round 12): rewriting d01 to group on RAW TEXT instead
  * of md5 fails its test (105.8 KB lz4-compressed vs the 88 KB ceiling).
  * Caveat this validation surfaced: simply deleting a `broadcast()` hint
  * on a genuinely small side (q19's 25-row stats, c03's eval set) does
  * NOT trip at sf0.01 — Catalyst's auto-broadcast threshold rescues the
  * plan, locally AND at scale for sides that stay under it. What this
  * spec guards is the regression class that cannot be rescued: a plan
  * that starts moving corpus-sized data (text in an exchange, a lost
  * co-partitioning, an un-combined partial).
  *
  * A legitimate change that moves a ceiling (new testdata scale, an
  * intentionally different plan) should re-run `graft.examples
  * .QueryTimer` under `SPARK_GRAFT_SINK=noop` (its per-rep shuffle
  * write MB) and update BOTH this table and SCALE.md — that pairing is
  * the point.
  */
class ShuffleCeilingSpec extends SparkSuite {

  private val sf = "/root/testdata/sf0.01"

  /** query -> shuffle-write ceiling in KB (measured sf0.01 value ×2,
    * floored at 64 KB). */
  private val ceilingsKb: Seq[(String, Long)] = Seq(
    // dedup: signatures + band keys exchange, never text. The d01 ceiling
    // is the validated red case: grouping on raw text instead of md5
    // measured 110 KB even lz4-compressed — over this ceiling.
    "d01_dedup_exact" -> 88,           // measured 40 KB (16-byte md5 keys)
    "d03_dedup_minhash_lsh" -> 64,     // ~0: signature index build only
    "d11_dedup_simhash_blocks" -> 64,  // measured 20 KB (block keys)
    "d19_minhash_wide" -> 64,          // ~0: 128 perms stay narrow
    "d25_containment_dedup" -> 64,     // ~0: signatures + band keys + (pair, count) partials only — text never exchanges (the d14 profile)
    "d18_substring_spans" -> 960,      // measured 470 KB (window hashes)
    "d20_boilerplate_removal" -> 320,  // measured 150 KB (hash partials)
    // curation: eval shingles broadcast; gates fuse into the scan
    "c03_decontaminate" -> 64,         // ~0: broadcast eval side
    "c16_decontaminate_13g" -> 64,     // ~0: broadcast eval side
    "c13_shard_materialize" -> 384,    // measured 180 KB (the inherent text move)
    // text analysis: integer partials only
    "t09_kmv_distinct" -> 1600,        // measured 790 KB (60-bit key distinct)
    "t15_lm_bits" -> 96,               // measured 40 KB (bigram partials)
    "t16_bm25_retrieval" -> 256,       // measured r20 120 KB incl. the session tf/scored builds (df + score partials; ceiling kept)
    "t26_hybrid_rerank" -> 384,        // measured r20 60 KB riding the memoized scored frame, was ~170 KB (t16's retrieval exchanges + the 10·n_eval-row candidate TopK; embeddings never exchange — candidates broadcast into their scan)
    "t27_rerank_recall" -> 512,        // measured r20 30 KB riding the memoized scored/brute arms, was ~440 KB (t26's stages ranked twice + the brute-force exact arm: probes broadcast into ONE embedded-train scan, per-probe top-5 TopK partials — corpus never exchanges)
    "t28_rrf_fusion" -> 448,           // measured r20 20 KB riding the memoized lex/brute arms, was ~370 KB (t16's lexical retrieval exchanges + the s01-shape vector arm's TopK partials; the fusion full-outer join touches two <=10-rows-per-probe frames)
    // similarity: codebooks/queries broadcast, corpus never exchanges
    "s02_ann_buckets" -> 64,           // ~0: bucket equi-join, queries broadcast
    "s12_kmeans_lloyd3" -> 160,        // measured 70 KB (3 rounds of fixed-point partials)
    "s13_ivfpq_search" -> 128,         // measured 60 KB (cell partials + ADC tables)
    "s22_ivfpq_saved_index" -> 144,    // measured 70 KB (build partials; serve ~0, write is file I/O)
    "s23_ivfpq_index_maintenance" -> 144, // measured 70 KB (same — append is file I/O)
    "s24_ivfpq_delete_compact" -> 128, // measured 60 KB (build partials; compaction swap is file I/O)
    "c20_format_roundtrip" -> 64,      // ~0: format writes are I/O, census partials only
    // graph: node/edge ids only
    "g01_pagerank" -> 2900,            // measured r19 1.37 MB cold / 0.96 MB memo-warm (custSupp build attribution follows the first toucher; + 3 rounds)
    "g05_labelprop_converged" -> 2800, // measured r19 880 KB (ed2 re-materialization + convergence rounds; the custSupp build lands on the first g toucher)
    "g03_cooccurrence" -> 416,         // measured r19 160 KB (the memoized coPairs build when this runs first; near-0 when a sibling built it)
    "g04_cooccurrence_bitmap" -> 1100, // measured r19 104 KB, was 540 (the three custSupp derivations now read the memoized frame; segment bitmaps + pair partials remain)
    "g06_triangle_census" -> 416,      // measured r19 39 KB, was 190 (rides the memoized coPairs/mutual frames; triangle join adds ~0)
    // relational: dimension broadcasts, two-phase aggs
    "q03_shipping_priority" -> 64,     // measured 20 KB (dims broadcast)
    "q19_above_nation_avg" -> 64,      // ~0: 25-row stats broadcast back
    "q48_sketch_quantile" -> 2300,     // measured 1.12 MB (cents histogram + sketch)
    "q56_waiting_suppliers" -> 64,     // measured 10 KB (semi+anti hash joins on l_orderkey; the residual rides the join — no nested loop, no fact rescan)
    // incremental / production-nightly family (round 13): the shapes a
    // nightly pipeline reruns forever — their asymmetry (increment moves,
    // base ledger keys only, base text NEVER) is the whole scale story
    "d17_incremental_dedup" -> 64,     // ~0: increment fp/band keys only
    "d22_ledger_dedup" -> 104,         // measured 50 KB (ledger build distincts + census)
    "s18_incremental_ingest" -> 64,    // measured 10 KB (increment cell partials)
    "c11_incremental_build" -> 128,    // measured 60 KB (ledger keys + chunk hashes)
    "c21_rollup_maintenance" -> 64,    // measured 20 KB (day-type state partials; swap is file I/O)
    "c14_sequence_pack" -> 64,         // measured 10 KB (prefix-sum partials)
    "t12_bpe_merge_train" -> 64,       // measured r19 5 KB ((pair,count) partials/round, build-once via the memo)
    "t14_bpe_encode" -> 88,            // measured r19 30 KB (per-doc checksum partials; training rides the memoized winners)
    "t25_bpe_roundtrip" -> 104,        // measured r19 28 KB (per-doc identity partials; training rides the memoized winners; the vocab rides as one broadcast map row, decode never exchanges tokens)
    // codecs: encode/decode live scan-side; only the output sort exchanges
    "m12_gif_decode" -> 64,            // ~0: LZW round-trip never shuffles
    "m13_qoi_decode" -> 64,            // ~0: QOI round-trip never shuffles
    // round-13 additions
    "t20_countmin_heavyhitters" -> 64, // ~0: vocab partials then a ≤64-group grid
    "q55_gapfill_spine" -> 1100,       // measured 532 KB ((ck,midx) partials + ck window)
    "s25_maxsim_late_interaction" -> 416, // measured 195 KB (one (query,vec) max-reduce row per pair)
    "c22_zorder_layout" -> 2600,       // measured 1.25 MB (the inherent layout co-location move)
    "g07_kcore_peel" -> 416,           // measured r19 8 KB, was 195 (rides the memoized mutual frame; peels add node-sized semi-joins)
    // round-13 back half
    "s27_binary_hamming" -> 64,        // measured 20 KB (16-byte codes; queries broadcast)
    "s26_mmr_rerank" -> 88,            // measured 40 KB (narrow (query,vec,rel) rank rows; vectors re-fetched by broadcast probe — 0.72 MB with vectors riding the rank shuffle, the red case)
    "d23_bloom_dedup_gate" -> 64,      // measured 20 KB (bloom partials; verify join broadcasts)
    "m14_tga_decode" -> 64,            // ~0: RLE round-trip never shuffles
    "t21_kmv_overlap" -> 2400,         // measured 1.17 MB (the t09 60-bit distincts + the 8-byte-key exact-calibration join; sketch set-ops themselves are k-sized)
    "s28_graph_beam_search" -> 1300,   // measured 610 KB (s21's cell-bounded graph build dominates; the 3-hop beam serve itself adds ~0 — frontiers broadcast)
    // round-14 additions
    "t22_kn_trigram_bits" -> 1200,     // measured 570 KB (the trigram-type table build — vocab-bounded (w1,w2,w3,count) partials; scoring side exchanges only per-doc integer partials, tables broadcast)
    "s29_layered_beam_entry" -> 1400,  // measured 660 KB (both graph builds — layer-0 cell-bounded + the 64×-smaller sampled upper layer; the two-layer beam serve itself adds ~0 — frontiers broadcast)
    "g08_bfs_hops" -> 416,             // r20: rides the memoized adjacency, which the test builds before measuring (build-inclusive 620 KB in an isolated audit, marginal ~20 KB); r19 21 KB, was 200 (rides the memoized mutual frame; the 4 BFS rounds exchange node-sized frontier/reached keys only)
    "c23_schema_evolution" -> 64,      // ~0: generation writes are file I/O, the merged read is one scan, census is per-gen integer partials
    "s30_beam_width_sweep" -> 1400,    // measured r19 39 KB, was 670 (one shared graph build via the memo; the single width-tagged loop adds only broadcast frontiers)
    "g09_sssp_relax" -> 640,           // measured r20 20 KB riding the memoized adjacency; r19 22 KB, was 310 (rides the memoized mutual frame; 4 relaxation rounds of node-sized (n, dist) candidate/min partials — weights ride the same rows)
    "c24_scd2_merge" -> 1500,          // measured 710 KB (the per-key event exchange feeding the two windows + the full merged history crossing the output sort — history-sized because the query DUMPS the table; the merge's own joins move affected-key rows only)
    "t23_chunk_windows" -> 64,         // measured 30 KB (ONE census row per doc — chunk text never moves; hashes computed scan-side, partials collapse map-side)
    "c25_scd2_pointintime" -> 600,     // measured 280 KB (the fact side's one key exchange into the versioned-dimension equi-join — the inherent move; census partials are (tier, year) groups)
    "g10_personalized_pagerank" -> 4400, // measured 2.17 MB (g01's edge build + 3 rounds with the rst column riding each node row — personalization adds a fourth long per row, zero extra exchanges)
    "m15_format_dispatch" -> 64,       // measured 20 KB (sniff + decode are scan-side batch work; only the 8-integer feature rows cross for the output sort)
    "m16_y4m_frames" -> 64,            // measured 30 KB (encode+parse+feature scan-side; only the 13-column feature rows cross for the output sort)
    "c26_semantic_decontamination" -> 464, // measured 230 KB (the shared knnAssigned cell-assignment partials — same exchange d12 pays; the eval side broadcasts and the in-cell screen adds only per-eval census partials)
    "c27_snapshot_diff" -> 112,        // measured 50 KB ((id, source, 16-byte md5) rows cross for the full-outer diff — never text; census partials are (source, class) integers)
    "s31_hard_negative_mining" -> 64,  // measured 10 KB (anchors broadcast, corpus scored in one narrow pass; the exchange is the salted top-3 partials + 5 positive argmax rows)
    "d24_winnow_fingerprint" -> 200,   // measured 80 KB (the exploded (fp, doc) pair exchange — winnowing's ~2/(W+1) density bound; selection itself is scan-side array work)
    "t24_keyword_extraction" -> 200,   // measured 10 KB at sf0.01 / 1.08 MB at sf0.1 (the (doc, word, tf) rows crossing once for the per-doc rank window; df broadcasts; headroom for partition-count variance on the tiny-SF exchange)
    "t29_rrf_served" -> 420,           // measured r20 60 KB riding the memoized lex arm (index build exchanges remain), r19 283 KB (r18: 210 — run-context scatter, see the NOTE below; t16's lexical retrieval exchanges + the once-per-session saved-index BUILD's encode groupBy and file write — the SERVE adds ~0: probes broadcast into the cell-equi-joined coded corpus, the fusion joins touch two <=10-rows-per-probe frames. Less than t28's 448: the served arm replaces the brute-force corpus-scan TopK partials with cell-local candidates)
    "t30_served_fusion_recall" -> 470,  // measured r20 40 KB riding the memoized arms/slate, r19 268 KB (r18: 233; the shared lexical arm built once, t28's exact-arm TopK partials; rides t29's memoized index since r19; both fusions and all intersections touch <=10-rows-per-probe frames — the census adds ~0 beyond its two arms)
    "t31_ranking_metrics" -> 470)      // measured r20 30 KB riding the memoized arms/slate, r19 233 KB (t30's arm profile — shared lexical arm, exact-arm TopK partials, memoized index; the grading tail joins/aggregates <=5-rows-per-probe slates, adding ~0)

  private lazy val written = {
    val w = new LongAdder
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
        val m = t.taskMetrics
        if (m != null) w.add(m.shuffleWriteMetrics.bytesWritten)
      }
    })
    w
  }

  private def shuffleWriteKb(name: String): Double = {
    // g08 rides the named adjacency memos: build them first, so its
    // ceiling is its marginal cost whichever test ran before it
    if (name == "g08_bfs_hops") {
      graft.ext.Graph.mutualAdj(spark, sf); graft.ext.Graph.mutualNodes(spark, sf)
    }
    // isolate the query: cached frames from sibling tests would hide (or
    // donate) exchanges; the noop sink keeps output-only plan arms alive
    spark.sharedState.cacheManager.clearCache()
    GraftShims.drainListeners(spark.sparkContext)
    written.reset()
    SparkEntry.queries(name)(spark, sf)
      .write.format("noop").mode("overwrite").save()
    GraftShims.drainListeners(spark.sparkContext)
    written.sum / 1024.0
  }

  test("ceiling count matches SCALE.md's coverage footnote") {
    // SCALE.md's "Ceiling-coverage note" cites this number; the footnote
    // went stale twice (r13: 48→49 uncounted, r14: 49 while the spec
    // grew to 61) — pin it so adding a guard forces the doc update
    assert(ceilingsKb.size == 74,
      s"ShuffleCeilingSpec now guards ${ceilingsKb.size} queries — " +
        "update SCALE.md's ceiling-coverage note (and this assertion)")
    // ...and check the footnote TEXT itself, so the doc can never drift
    // from the spec again (the r14 verdict's ask #3, made mechanical):
    // both the guarded count and the catalog size must appear verbatim
    val scale = scala.io.Source.fromFile("SCALE.md", "UTF-8")
    val txt = try scale.mkString finally scale.close()
    val expected =
      s"${ceilingsKb.size} of the ${SparkEntry.queries.size} queries " +
        "carry a CI-enforced byte ceiling"
    assert(txt.contains(expected),
      s"SCALE.md's ceiling-coverage note must say '$expected' — " +
        "it went stale against the spec/catalog")
    assert(txt.contains(s"re-measures ${ceilingsKb.size} queries"),
      s"SCALE.md's red-test paragraph must say 're-measures " +
        s"${ceilingsKb.size} queries'")
  }

  for ((name, kb) <- ceilingsKb) test(s"shuffle ceiling: $name <= $kb KB") {
    // environmental guard, same contract as SchemaCanarySpec: the ceilings
    // are meaningless without the driver-generated testdata
    assume(new java.io.File(s"$sf/lineitem.parquet").exists(),
      s"$sf testdata absent — ceilings only apply to driver-generated data")
    val got = shuffleWriteKb(name)
    // always-visible headroom (r19): a silent pass hides a query creeping
    // toward its ceiling — the margin only becomes inspectable on failure
    info(f"measured $got%.1f KB (ceiling $kb KB)")
    assert(got <= kb,
      f"$name shuffled $got%.1f KB (ceiling $kb KB) — a broadcast was " +
        "lost or a join/window started exchanging the corpus; run " +
        "graft.examples.QueryTimer (SPARK_GRAFT_SINK=noop) to localize, " +
        "and update SCALE.md + this table only for an INTENTIONAL plan " +
        "change. NOTE: ceilings are absolute bytes tied to this suite's " +
        "local[4]/4-shuffle-partition config and lz4 block compression — " +
        "if MANY ceilings trip at once after a Spark/codec/partition-config " +
        "change, suspect the environment, not dozens of simultaneous plan regressions")
  }
}
