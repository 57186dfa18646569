package graft.ext

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{SessionScope, Tables}
import graft.core.SessionScope.{Checkpointed, Persisted}

/** Graph analytics over the relationship implicit in the fact tables: the
  * customer↔supplier bipartite graph (an edge where a customer's order
  * contains a supplier's lineitem). Completes the graph family d09's
  * connected components opened: degree census + PageRank.
  *
  * == Cross-engine determinism ==
  * Classic PageRank iterates `0.15 + 0.85 · Σ s(u)/deg(u)` in doubles —
  * the sum's order is engine- and partition-dependent, so it can never
  * hash-match. Here every quantity is a FIXED-POINT integer (SCALE=1e6):
  * each edge's contribution is floored independently
  * (`s(u) DIV deg(u)`), the per-node sum is exact integer addition
  * (order-free), and the damping is one more floored integer op
  * (`85·Σ DIV 100`). DuckDB replays the identical arithmetic, so three
  * rounds are bit-equal across engines AND under any partitioning — the
  * same trick as s08's fixed-point k-means partials.
  *
  * == Scale shape (100 TB) ==
  * The per-round cost is the Pregel cost: one edges⋈scores join + a
  * map-side-combinable contribution sum keyed by the destination. Edge
  * rows are two longs; score rows are (node, score, deg) — text/facts
  * never enter the loop (edges are distilled once from the order join).
  * At scale, bucket edges and scores on the node id so every round's
  * join is co-partitioned (zero exchange for the join; only the
  * contribution partials move). The score frame is persisted per round —
  * exactly s12's fixed-point-rounds pattern.
  */
object Graph {

  private val Scale = 1000000L

  /** Distinct (customer, supplier) relationships — the graph's raw
    * bipartite edge set, shared by the node-encoded PageRank edges and
    * the co-occurrence projection. MEMOIZED per (session, dataset) and
    * localCheckpoint'd (r19, guide §2.4 "remove shuffles outright"):
    * before the memo, every graph query re-ran the orders⋈lineitem
    * distillation join per invocation — g04 alone derived it THREE
    * times (bitmap build + per-supplier counts + the nc census are
    * three independent consumers of one unpersisted frame), and the
    * g01/g02/g05/g10 sharing relied on CacheManager plan-matching, the
    * mechanism the r14 incident showed breaks silently (CLAUDE.md).
    * One ~|relationships|-row (c, sp) long-pair frame (9 MB at sf0.1)
    * now materializes once per session; the checkpoint also truncates
    * every downstream loop's analyzed plan to a LogicalRDD base. The
    * distinct's row ORDER is nondeterministic but every consumer is
    * order-insensitive (aggregates, joins, ranked windows with total
    * tie-breaks), so results are unchanged. */
  private def custSupp(s: SparkSession, d: String): DataFrame =
    SessionScope.frame(s, d, "g_cs", Checkpointed) {
      import s.implicits._
      Tables.orders(s, d).select($"o_orderkey", $"o_custkey")
        .join(Tables.lineitem(s, d).select($"l_orderkey", $"l_suppkey"),
          $"o_orderkey" === $"l_orderkey")
        .select($"o_custkey".as("c"), $"l_suppkey".as("sp"))
        .distinct()
    }

  /** The supplier co-occurrence PAIR STRENGTHS (sa, sb, shared, ca, cb)
    * — the 500k-pair sorted-set intersection quadratic that is the
    * documented cost center of g03, g06, g07, g08 and g09 (SCALE.md).
    * MEMOIZED per (session, dataset) (r19): before, g03 ran its own
    * intersection pass and [[mutualTopEdges]] ran a SECOND one whose
    * pair stage differed only in the ca/cb size columns — the two plans
    * could not CacheManager-match, so a Bench session paid the
    * quadratic twice. One localCheckpoint'd frame (≤ |suppliers|²/2
    * rows of five longs) now feeds both; the build-side `sets` cache
    * is released as soon as the checkpoint materializes. */
  private[ext] def coPairs(s: SparkSession, d: String): DataFrame =
    SessionScope.frame(s, d, "g_pairs", Checkpointed) {
      import s.implicits._
      val sets = SessionScope.cache(custSupp(s, d).groupBy($"sp")
        .agg(sort_array(collect_set($"c")).as("cs")))
      sets.as("a").join(sets.as("b"), col("a.sp") < col("b.sp"))
        .select(col("a.sp").as("sa"), col("b.sp").as("sb"),
          // codegen'd linear merge over the sorted sets —
          // size(array_intersect(...)) hash-builds per row and was
          // measured 3.5× slower on this stage (g03's bake-off)
          graft.functions.SortedIntersectCount(col("a.cs"), col("b.cs"))
            .as("shared"),
          size(col("a.cs")).cast("long").as("ca"),
          size(col("b.cs")).cast("long").as("cb"))
        .filter($"shared" > 0)
    }

  /** The graph's 1-row distinct-customer census, shared by g03/g04's
    * lift denominators — memoized so neither pays a custSupp pass. */
  private[graft] def coNc(s: SparkSession, d: String): DataFrame =
    SessionScope.frame(s, d, "g_nc", Checkpointed) {
      import s.implicits._
      custSupp(s, d).agg(countDistinct($"c").as("nc"))
    }

  /** Undirected bipartite edge list, both directions: node id = 2·custkey
    * for customers, 2·suppkey+1 for suppliers (disjoint id spaces). */
  private def edges(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val ed0 = custSupp(s, d)
      .select(($"c" * 2).as("c"), ($"sp" * 2 + 1).as("s"))
    ed0.select($"c".as("u"), $"s".as("v"))
      .union(ed0.select($"s".as("u"), $"c".as("v")))
  }

  /** g06/g07's shared unipartite graph: the supplier co-occurrence
    * projection sparsified to each node's MUTUAL top-6 partners —
    * bounded-degree (≤ 6) by construction, which is what makes the
    * wedge join skew-proof and the peel loop's per-round state
    * node-sized. The ranked `top` frame is cached for the mutuality
    * join's x/y arms (measured on g06: caching the intermediates is the
    * difference between 8.9 and ~2 s steady at sf0.1) until the
    * checkpoint materializes. */
  private def mutualTopEdges(s: SparkSession, d: String): DataFrame =
    SessionScope.frame(s, d, "g_mutual", Checkpointed) {
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val pairs = coPairs(s, d)
      val dir = pairs.select($"sa".as("n"), $"sb".as("p"), $"shared")
        .union(pairs.select($"sb".as("n"), $"sa".as("p"), $"shared"))
      // w carries the edge's INTEGER traversal cost for g09 (inverse
      // co-occurrence strength, floored — strong ties are cheap to cross);
      // shared is pair-symmetric so the x-side value is THE pair's value.
      // Callers that only need topology select (u, v) off the one shared
      // memoized frame — the extra long does not change the build.
      val top = SessionScope.cache(dir.withColumn("rk", row_number().over(
          Window.partitionBy($"n").orderBy($"shared".desc, $"p")))
        .filter($"rk" <= 6)
        .select($"n", $"p", expr("1000000 DIV shared").as("w")))
      // mutual sparsification: keep (u,v) iff u ranks v AND v ranks u.
      // localCheckpoint'd (r19, was a lazy persist shared only by
      // CacheManager plan-matching): the ≤6-degree edge frame is tiny,
      // the memo makes g06/g07/g08/g09 share one build by construction,
      // and the checkpoint base collapsed g06's analyzed plan from
      // ~340 KB (five InMemoryRelation splices of the whole build tree,
      // re-walked by Catalyst per invocation) to round-local size.
      top.as("x").join(top.as("y"),
          col("x.n") === col("y.p") && col("x.p") === col("y.n") &&
            col("x.n") < col("x.p"))
        .select(col("x.n").as("u"), col("x.p").as("v"), col("x.w").as("w"))
    }

  /** g07's peel loop over any undirected `(u, v)` edge frame (u < v
    * canonical): `rounds` bounded peels of nodes with degree < `k`,
    * returning the per-round census. Factored so `GraphSpec` can drive
    * it on hand-computed fixtures. Each round: one degree aggregation
    * (map-side partials over a shrinking edge frame) + two semi-joins
    * against the node-sized survivor set; round frames localCheckpoint
    * (lineage truncation — see the in-loop comment), released by the
    * ContextCleaner when the query's frames go out of scope. */
  private[ext] def kcorePeel(edges0: DataFrame, k: Int, rounds: Int): DataFrame = {
    val s = edges0.sparkSession
    import s.implicits._
    // Lineage TRUNCATION per round frame, not just caching — the
    // iterative-loop lesson that supersedes round 12's eager-count one.
    // Each round references deg twice (the two semi-joins) plus the
    // census arm, and deg embeds the whole prior round, so the LOGICAL
    // plan grows ~2^rounds copies of the upstream build; a cache
    // dedupes execution but Catalyst still re-analyzes the full tree
    // (measured: 287 CPU-s at sf0.1 — and the final union's plan STRING
    // alone OOMed an 8 GB driver). localCheckpoint (eager) rebases each
    // round on a LogicalRDD: the analyzed plan stays round-local, the
    // blocks live on executors like any cached frame, and the census
    // arms read materialized data so the broadcast-future recompute
    // race cannot happen either. Same pattern as
    // ConnectedComponents' contraction loop; a cluster job that must
    // survive executor loss swaps in reliable checkpoint() — the
    // plan-size argument is identical.
    var ed = edges0.localCheckpoint()
    val out = Seq.newBuilder[DataFrame]
    for (r <- 0 to rounds) {
      val deg = ed.select(explode(array($"u", $"v")).as("n"))
        .groupBy($"n").agg(count(lit(1)).as("dg"))
        .localCheckpoint()
      out += deg.agg(
        count(lit(1)).as("n_nodes"),
        expr("CAST(coalesce(sum(dg), 0) DIV 2 AS BIGINT)").as("n_edges"),
        count(when($"dg" < k, 1)).as("n_peeled"))
        .select(lit(r).as("round"), $"n_nodes", $"n_edges", $"n_peeled")
      if (r < rounds) {
        val keep = deg.filter($"dg" >= k).select($"n")
        ed = ed
          .join(keep.select($"n".as("u")), Seq("u"), "leftsemi")
          .join(keep.select($"n".as("v")), Seq("v"), "leftsemi")
          .select($"u", $"v")
          .localCheckpoint()
      }
    }
    out.result().reduceLeft(_.unionByName(_)).orderBy($"round")
  }

  /** The SHARED bidirectional adjacency `(a, b, w)` over the mutual
    * top-6 graph plus its node universe — g08's BFS and g09's SSSP each
    * rebuilt this identical frame pair per invocation (a union +
    * localCheckpoint job and a distinct), the exact per-invocation
    * duplication the custSupp memo removed for the census family (r20,
    * guide §2.4; the r19 verdict's named candidate for the g08/g09
    * in-catalog drift). One checkpointed build per (session, dataset)
    * now serves both loops; layout-free by construction (every consumer
    * join broadcasts the node-sized frontier/dist side), so the
    * ed2 checkpoint-loses-partitioning hazard does not apply. */
  private[graft] def mutualAdj(s: SparkSession, d: String): DataFrame =
    SessionScope.frame(s, d, "g_adj", Checkpointed) {
      val ed = mutualTopEdges(s, d)
      ed.select(col("u").as("a"), col("v").as("b"), col("w"))
        .unionByName(ed.select(col("v").as("a"), col("u").as("b"), col("w")))
    }

  /** The mutual graph's node universe `(n)` — bfs seeds/strands and
    * sssp seeds both derive from it; memoized beside [[mutualAdj]]. */
  private[graft] def mutualNodes(s: SparkSession, d: String): DataFrame =
    SessionScope.frame(s, d, "g_adjn", Checkpointed) {
      mutualAdj(s, d).select(col("a").as("n")).distinct()
    }

  /** g08's multi-source BFS over any undirected `(u, v)` edge frame:
    * `rounds` depth-capped frontier expansions from the nodes matching
    * `sourcePred` (applied to the node column `n`), returning one
    * `(n, hop)` row per node — hop −1 for nodes never reached. Factored
    * so `GraphSpec` drives it on hand-computed fixtures; the catalog
    * query rides [[bfsHopsOn]] with the memoized adjacency instead. */
  private[ext] def bfsHops(edges0: DataFrame, sourcePred: Column,
      rounds: Int): DataFrame = {
    val s = edges0.sparkSession
    import s.implicits._
    val adj = edges0.select(col("u").as("a"), col("v").as("b"))
      .unionByName(edges0.select(col("v").as("a"), col("u").as("b")))
      .localCheckpoint()
    val nodes = adj.select($"a".as("n")).distinct().localCheckpoint()
    bfsHopsOn(adj, nodes, sourcePred, rounds)
  }

  /** The BFS loop over PRE-BUILT `(a, b, …)` adjacency and `(n)` node
    * frames (both expected materialized — the per-round plans stay
    * round-local). Each round is frontier⋈edges + distinct + anti-join
    * against the reached set — node-bounded exchanges; round frames
    * localCheckpoint (the loop references `reached` twice per round —
    * the g07 lineage lesson). */
  private def bfsHopsOn(adj: DataFrame, nodes: DataFrame,
      sourcePred: Column, rounds: Int): DataFrame = {
    val s = adj.sparkSession
    import s.implicits._
    var reached = nodes.filter(sourcePred)
      .select($"n", lit(0).as("hop")).localCheckpoint()
    var frontier = reached.select($"n")
    for (h <- 1 to rounds) {
      val nxt = frontier.join(adj, $"n" === $"a")
        .select($"b".as("n")).distinct()
        .join(reached.select($"n"), Seq("n"), "left_anti")
        .localCheckpoint()
      reached = reached
        .unionByName(nxt.select($"n", lit(h).as("hop")))
        .localCheckpoint()
      frontier = nxt
    }
    reached.unionByName(nodes
      .join(reached.select($"n"), Seq("n"), "left_anti")
      .select($"n", lit(-1).as("hop")))
  }

  /** g09's weighted relaxation loop (bounded-round Bellman–Ford) over any
    * undirected `(u, v, w)` edge frame with INTEGER weights: `rounds`
    * tentative-distance relaxations from the nodes matching `sourcePred`,
    * returning one `(round, n, dist)` row per node per round (round 0 =
    * the seed set at distance 0) so a census can pin every intermediate
    * distance map, not just the fixpoint. Integer weights make every
    * tentative distance an exact sum — order-free, hashable cross-engine
    * (the g01 fixed-point discipline). Factored so `GraphSpec` drives it
    * on hand-computed fixtures (a longer-but-cheaper path must win).
    * Each round is dist⋈edges (bounded degree ⇒ ≤ deg·|reached| candidate
    * rows) + one map-side-combinable min agg — node-bounded exchanges;
    * round frames localCheckpoint (the loop references `dist` twice per
    * round: candidates + the min-merge union — the g07 lineage lesson). */
  private[ext] def ssspRounds(edges0: DataFrame, sourcePred: Column,
      rounds: Int): DataFrame = {
    val s = edges0.sparkSession
    import s.implicits._
    val adj = edges0.select(col("u").as("a"), col("v").as("b"), col("w"))
      .unionByName(edges0.select(col("v").as("a"), col("u").as("b"), col("w")))
      .localCheckpoint()
    ssspRoundsOn(adj, adj.select($"a".as("n")).distinct(), sourcePred, rounds)
  }

  /** The relaxation loop over PRE-BUILT `(a, b, w)` adjacency and `(n)`
    * node frames — the catalog query rides the memoized [[mutualAdj]]/
    * [[mutualNodes]] pair; the fixture-driven [[ssspRounds]] builds its
    * own. Per-round shape documented on [[ssspRounds]]. */
  private def ssspRoundsOn(adj: DataFrame, nodes: DataFrame,
      sourcePred: Column, rounds: Int): DataFrame = {
    val s = adj.sparkSession
    import s.implicits._
    var dist = nodes.filter(sourcePred)
      .select($"n", lit(0L).as("dist")).localCheckpoint()
    val out = Seq.newBuilder[DataFrame]
    out += dist.select(lit(0).as("round"), $"n", $"dist")
    for (r <- 1 to rounds) {
      val cand = dist.join(adj, $"n" === $"a")
        .select($"b".as("n"), ($"dist" + $"w").as("dist"))
      dist = dist.unionByName(cand)
        .groupBy($"n").agg(min($"dist").as("dist"))
        .localCheckpoint()
      out += dist.select(lit(r).as("round"), $"n", $"dist")
    }
    out.result().reduceLeft(_.unionByName(_))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Degree census per graph side — the first question asked of any
    // production graph (skew detection before any iterative algorithm):
    // log2-bucketed degree histogram (t11's integer bin trick) per node
    // kind. A hot node shows as a high-bucket outlier — the signal to
    // salt or cap before running g01 at scale.
    "g02_degree_census" -> { (s, d) =>
      import s.implicits._
      // the same memoized degree frame as g01/g10, so a session running
      // them distills, lays out and counts the edge list ONCE
      nodeDeg(s, d)
        .select(when($"u" % 2 === 0, lit("customer")).otherwise(lit("supplier"))
          .as("kind"),
          (length(conv($"deg", 10, 2)) - 1).cast("int").as("bucket"),
          $"deg")
        .groupBy($"kind", $"bucket")
        .agg(count(lit(1)).as("n_nodes"), sum($"deg").as("sum_deg"),
          min($"deg").as("min_deg"), max($"deg").as("max_deg"))
        .orderBy($"kind", $"bucket")
    },

    // Co-occurrence / market-basket analysis — the bipartite PROJECTION:
    // top-20 supplier pairs by distinct shared customers, with the lift
    // (observed co-occurrence over the independence expectation). The
    // association-mining workload every commerce warehouse runs.
    //
    // Scale shape — measured lesson: the naive per-customer pair
    // explode + groupBy(sa, sb) exchanged 113 MB at sf0.1 (the ~8M pair
    // partials barely combine when the |suppliers|² key space exceeds a
    // partition's row budget). This form instead collapses the fact
    // side FIRST: one exchange builds each supplier's distinct sorted
    // customer array (d14's array_intersect pattern), and the pair
    // quadratic runs on the DIMENSION-sized 100-row-by-100-row self
    // join with shared = |intersection| — zero further shuffle
    // (measured 4.4 MB total, 25× less — what remains is the one
    // set-building exchange of (supplier, customer) ids). At a scale where per-
    // supplier customer sets outgrow arrays, g04 IS the documented swap:
    // the same projection through 64-customer segment bitmaps (the OLAP
    // intersect-count standard), row-bounded instead of array-bounded;
    // the pair matrix itself stays |suppliers|²-bounded either way.
    // Lift = shared·n_cust / (cnt_a·cnt_b): exact integers until one
    // identical double division, rounded to 6 dp.
    "g03_cooccurrence" -> { (s, d) =>
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      // r19: the pair-strength build and the nc census are the memoized
      // shared frames (see coPairs — before the memo this query ran its
      // own intersection quadratic and mutualTopEdges ran a second one;
      // values, ordering and schema are unchanged: nc over the exploded
      // per-supplier sets equals nc over the distinct (c, sp) pairs, and
      // ca/cb are the same size(cs) longs, now carried on the pair row)
      coPairs(s, d)
        .crossJoin(broadcast(coNc(s, d)))
        .select($"sa", $"sb", $"shared",
          round(($"shared".cast("double") * $"nc") / ($"ca" * $"cb"), 6)
            .as("lift"))
        .withColumn("rank", row_number().over(
          Window.orderBy($"shared".desc, $"sa", $"sb")))
        .filter($"rank" <= 20)
        .select($"rank", $"sa", $"sb", $"shared", $"lift")
        .orderBy($"rank")
    },

    // g03's documented growth path made real: the SAME co-occurrence
    // projection through SEGMENT BITMAPS — the form that survives
    // per-supplier customer sets outgrowing a collect_set array.
    // Customers are bucketed into 1024-wide segments; per
    // (supplier, segment) a row of 16 longs is built with bit_or
    // partials (map-side-combinable — the exchange carries 16 words per
    // supplier per touched segment per input partition, never id lists);
    // supplier pairs meet per-segment on an EQUI-join and
    // Σ bit_count(a.wk & b.wk) over the 16 unrolled word pairs (explicit
    // codegen'd columns, not a HOF — the s12 lesson) is the exact
    // intersection size. Everything is ROW-bounded: no row holds more
    // than 16 words, so a supplier with 10^8 customers is ~100k bitmap
    // rows, not one unbuildable array. Same output, same oracle as g03;
    // GraphSpec proves the two queries row-identical at both SFs.
    //
    // Measured crossover (sf0.1, 1000 suppliers × 15k customers,
    // uniform): the pair-join output is segments × pairs-present — with
    // synthetic UNIFORM sets (~500 customers spread over every segment)
    // every supplier touches every segment, so the join emits
    // segments × |pairs| rows and the (sa,sb) partial agg barely
    // combines against the 500k-pair key space (the same lesson g03's
    // 113 MB naive-explode bake-off recorded). Word width is the lever:
    // 64-customer single-long segments measured 99.5M join rows / 19.9 s;
    // these 1024-customer 16-word rows cut that 13×/3.2× (same load).
    // g03's array form stays the default while sets FIT (one codegen'd
    // merge per pair, no segment fan-out); g04 is the shape you switch
    // to when they don't — and on real (non-uniform, locality-clustered)
    // data, pairs-present-per-segment is sparse and the join output
    // approaches the information-theoretic floor.
    // Skew note: the per-segment join hash-partitions on seg, and a
    // segment caps at 1024 customers by construction — skew-proof.
    "g04_cooccurrence_bitmap" -> { (s, d) =>
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val words = 16
      val cs = custSupp(s, d)
      // cached for the self-join's two arms (rows are 16 longs — bounded)
      val bm = SessionScope.cache(cs
        .select($"sp", expr("c DIV 1024").as("seg"),
          expr("CAST((c % 1024) DIV 64 AS INT)").as("sub"),
          expr("shiftleft(CAST(1 AS BIGINT), CAST(c % 64 AS INT))").as("m"))
        .groupBy($"sp", $"seg")
        .agg(
          coalesce(expr("bit_or(CASE WHEN sub = 0 THEN m END)"), lit(0L)).as("w0"),
          (1 until words).map(k =>
            coalesce(expr(s"bit_or(CASE WHEN sub = $k THEN m END)"), lit(0L))
              .as(s"w$k")): _*))
      val cnt = cs.groupBy($"sp").agg(count(lit(1)).as("cnt"))
      val n = coNc(s, d)
      val sharedExpr = (0 until words).map(k =>
        bit_count(col(s"a.w$k").bitwiseAND(col(s"b.w$k"))).cast("long"))
        .reduce(_ + _)
      bm.as("a").join(bm.as("b"),
          col("a.seg") === col("b.seg") && col("a.sp") < col("b.sp"))
        .groupBy(col("a.sp").as("sa"), col("b.sp").as("sb"))
        .agg(sum(sharedExpr).as("shared"))
        .filter($"shared" > 0)
        .join(broadcast(cnt.select($"sp".as("sa"), $"cnt".as("ca"))), "sa")
        .join(broadcast(cnt.select($"sp".as("sb"), $"cnt".as("cb"))), "sb")
        .crossJoin(broadcast(n))
        .select($"sa", $"sb", $"shared",
          round(($"shared".cast("double") * $"nc") / ($"ca" * $"cb"), 6)
            .as("lift"))
        .withColumn("rank", row_number().over(
          Window.orderBy($"shared".desc, $"sa", $"sb")))
        .filter($"rank" <= 20)
        .select($"rank", $"sa", $"sb", $"shared", $"lift")
        .orderBy($"rank")
    },

    // The ITERATE-TO-CONVERGENCE loop g01's cache-policy scaladoc
    // defers to, made real: min-label propagation over the bipartite
    // graph, looping until NO label changes. Min-label is MONOTONE
    // (labels only decrease, to a unique fixpoint), so the convergence
    // round count and every per-round changed-count are deterministic —
    // which is what lets a hash oracle check a dynamic loop: the oracle
    // unrolls the recurrence and emits rows up to the first zero-change
    // round. Here the per-round EAGER count() is architecturally
    // CORRECT (it IS the convergence check — the loop cannot be
    // expressed lazily), and superseded round frames are released the
    // moment the check completes — the exact pattern whose misuse on
    // fixed-horizon g01 cost 6× (round 12). Output: the per-round
    // convergence trace + the fixpoint census (component count, label
    // checksum).
    //
    // Scale shape: per round, one equi-join of labels against the
    // persisted hash-partitioned edge frame (co-partitioned at scale —
    // bucket both on u) + a map-side-combinable min agg; driver state
    // is one Long per round. For pure CC at scale prefer d09's
    // multi-level contraction (O(log n) rounds inside ONE job); this is
    // the round-per-job Pregel form every iterate-until-stable
    // algorithm (LPA, SSSP, diffusion) actually uses.
    "g05_labelprop_converged" -> { (s, d) =>
      import s.implicits._
      val ed = ed2(s, d)
      var lbl = SessionScope.cache(ed.select($"u").distinct().select($"u", $"u".as("lbl")))
      val hist = scala.collection.mutable.ArrayBuffer.empty[(Int, Long)]
      var round = 1
      var changed = -1L
      while (changed != 0L && round <= 50) {
        // g01's per-round plan shape: each node SENDS its label along
        // its out-edges (the join is co-partitioned with the persisted
        // u-partitioned edge frame — the big side never re-exchanges),
        // min partials combine map-side, and the node-sized update join
        // carries (old, new) so the convergence count needs no extra
        // join. The first-draft lbl⋈ed⋈lbl form re-exchanged the edge
        // frame by v every round — measured 35 s vs ~3 s at sf0.1.
        val contrib = ed.join(lbl, "u")
          .groupBy($"v").agg(min($"lbl").as("ml"))
        // localCheckpoint, not persist: stage references lbl twice, so a
        // plain cached plan doubles per round — by convergence (~10+
        // rounds at sf0.1) Catalyst re-analyzes ~2^rounds copies of the
        // edge build per round (kcorePeel's measured disease). The
        // eager checkpoint materializes the round AND truncates the
        // analyzed plan to a LogicalRDD; the convergence count below
        // then reads checkpointed blocks. Superseded round blocks are
        // node-sized and freed by the ContextCleaner once unreferenced
        // (no explicit unpersist bookkeeping to get wrong — the g01
        // round-12 lesson).
        val stage = lbl.join(contrib, lbl("u") === contrib("v"))
          .select(lbl("u").as("u"), $"lbl".as("olbl"),
            least($"lbl", $"ml").as("nl"))
          .localCheckpoint()
        // the convergence check over the materialized round frame
        changed = stage.filter($"nl" =!= $"olbl").count()
        hist += ((round, changed))
        lbl = stage.select($"u", $"nl".as("lbl"))
        round += 1
      }
      val census = lbl.agg(
        countDistinct($"lbl").as("n_components"),
        sum(conv(substring(md5(concat_ws(",", $"u", $"lbl").cast("binary")),
          1, 10), 16, 10).cast("long")).as("label_checksum"))
      s.createDataFrame(hist.toSeq).toDF("round", "n_changed")
        .crossJoin(broadcast(census))
        .orderBy($"round")
    },

    // Triangle census + clustering coefficients — the classic graph
    // operator the family still lacked (the bipartite graph itself has
    // NO odd cycles, so triangles only exist on a unipartite
    // projection). Graph construction: the supplier co-occurrence
    // strengths (g03's sorted-set intersection), sparsified to each
    // node's MUTUAL top-6 partners by (shared DESC, partner ASC) —
    // the mutual-kNN sparsification every similarity-graph pipeline
    // uses before community detection, and it makes the graph
    // BOUNDED-DEGREE (≤ 6) by construction (k=6 is the smallest k
    // whose mutual graph closes triangles at every harness SF —
    // measured 24/9 triangles at sf0.001/sf0.01; k=3 gave 1/0). Output: top-20 nodes by
    // triangle count with local clustering coefficients
    // 2·t(v)/(deg·(deg−1)), plus the global census (nodes, edges,
    // triangles, transitivity 3·Δ/wedges) broadcast onto every row.
    //
    // Scale shape (100 TB): the heavy stage is the pair-strength build,
    // which is exactly g03/g04's documented story (array form while
    // sets fit, segment bitmaps when they don't). The triangle join
    // itself is the node-iterator form (two equi-joins on canonical
    // u<v edges: wedges e1=(a,b)⋈e2=(b,c) closed by e3=(a,c)) over a
    // degree-≤6 edge set — wedge fan-out is capped at C(6,2)=15 per
    // node, so the join cannot skew REGARDLESS of data. On graphs
    // without a construction-time degree bound, orient edges by
    // (degree, id) instead of raw id before the wedge join (the
    // MapReduce triangle-counting standard) — same output, same
    // number of closed wedges, hub fan-out bounded by rank.
    "g06_triangle_census" -> { (s, d) =>
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val ed = mutualTopEdges(s, d)
      val (deg, tri) = triangleCore(s, ed)
      val triN = tri.select(explode(array($"a", $"b", $"c")).as("n"))
        .groupBy($"n").agg(count(lit(1)).as("tri"))
      val census = deg.agg(count(lit(1)).as("n_nodes"),
          sum(expr("deg * (deg - 1) DIV 2")).as("wedges"))
        .crossJoin(ed.agg(count(lit(1)).as("n_edges")))
        .crossJoin(tri.agg(count(lit(1)).as("n_triangles")))
        .select($"n_nodes", $"n_edges", $"n_triangles",
          round($"n_triangles".cast("double") * 3 / $"wedges", 6)
            .as("global_cc"))
      deg.join(triN, Seq("n"), "left").na.fill(0L, Seq("tri"))
        .filter($"deg" >= 2)
        .withColumn("rank", row_number().over(
          Window.orderBy($"tri".desc, $"deg".asc, $"n".asc)))
        .filter($"rank" <= 20)
        .select($"rank", $"n".as("s_suppkey"), $"deg", $"tri",
          round($"tri".cast("double") * 2 / ($"deg" * ($"deg" - 1)), 6)
            .as("lcc"))
        .crossJoin(broadcast(census))
        .orderBy($"rank")
    },

    // K-CORE PEELING (k=3, three bounded rounds) over g06's mutual
    // top-6 graph — the density-pruning operator between one-shot
    // degree filters (g02) and full iterate-to-convergence loops (g05):
    // repeatedly drop nodes of degree < 3 and the edges they anchor.
    // The output is the per-round census (nodes, edges, peel count) —
    // the curve itself is the diagnostic (how fast a graph sheds its
    // tendrils says how core-heavy it is), and the hash pins every
    // intermediate graph, not just the final core. Three rounds is the
    // bounded, oracle-unrollable horizon (the full fixpoint belongs to
    // g05's dynamic-loop pattern; the scaladoc'd production form peels
    // until no change with the round count as the convergence check).
    // Scale shape: each round is one degree aggregation (map-side
    // partials over an edge frame that only SHRINKS) + two semi-joins
    // against the node-sized survivor set; every round frame
    // localCheckpoints (lineage truncation — see kcorePeel's in-loop
    // comment for the measured plan-blowup this prevents).
    "g07_kcore_peel" -> { (s, d) =>
      kcorePeel(mutualTopEdges(s, d), k = 3, rounds = 3)
    },

    // Multi-source BFS hop distances — the traversal primitive the
    // family still lacked (g05 propagates labels to convergence; this
    // answers "how FAR is everything from a seed set", the reachability
    // radius / influence-frontier query). Sources = suppliers with
    // sp % 7 = 3 on the mutual-top-6 graph; 4 DEPTH-CAPPED rounds
    // (q52's corpus-scale discipline — a production BFS always caps
    // depth; unreached nodes report hop −1). Per-hop census output:
    // node count + id-sum checksum + min/max, so the oracle pins the
    // exact reached SET each round, not just its size.
    //
    // Scale shape: each round is frontier⋈edges (bounded degree ≤ 6,
    // so the expansion is ≤ 6·|frontier| rows) + a distinct + an
    // anti-join against the reached set — ALL node-bounded exchanges;
    // the edge frame is built once and reused checkpointed; round
    // frames localCheckpoint (the g07 lineage lesson — the loop
    // references `reached` twice per round). At 100 TB bucket edges by
    // node (g07's note) and every per-round join co-locates.
    "g08_bfs_hops" -> { (s, d) =>
      import s.implicits._
      // rides the memoized adjacency/node pair (r20): the per-invocation
      // union+checkpoint+distinct rebuild was the r19 verdict's named
      // in-catalog drift candidate — one build per session now serves
      // g08 and g09; the loop itself is unchanged (hash-pinned output)
      bfsHopsOn(mutualAdj(s, d), mutualNodes(s, d), col("n") % 7 === 3,
          rounds = 4)
        .groupBy($"hop".cast("int").as("hop"))
        .agg(count(lit(1)).as("n_nodes"),
          sum($"n").cast("long").as("node_checksum"),
          min($"n").cast("long").as("min_node"),
          max($"n").cast("long").as("max_node"))
        .orderBy($"hop")
    },

    // WEIGHTED shortest paths (bounded-round Bellman–Ford) — g08 asks
    // "how many hops", this asks "how CHEAP is the cheapest route" over
    // the same mutual-top-6 graph, with edge cost = 1e6 DIV shared (an
    // exact integer — strong co-occurrence ties are cheap to cross, so a
    // two-hop route through strong ties can beat a direct weak tie, which
    // is precisely what hop-count BFS cannot see). Same seed set as g08
    // (sp % 7 = 3), 4 depth-capped relaxation rounds. Output: per-round
    // census over the tentative-distance map — reached count, node-set
    // checksum, exact distance sum, max distance — so the oracle pins
    // every intermediate relaxation state, not just the final map.
    //
    // Scale shape: identical to g08's — per round one dist⋈edges join
    // (co-partitioned when edges are bucketed by node) + one
    // map-side-combinable min agg; all exchanges node-bounded; round
    // frames localCheckpoint. Integer weights keep the min-merge
    // order-free, so the result is partitioning-invariant by arithmetic,
    // not by luck.
    "g09_sssp_relax" -> { (s, d) =>
      import s.implicits._
      // same memoized adjacency/node pair as g08 (see there)
      ssspRoundsOn(mutualAdj(s, d), mutualNodes(s, d), col("n") % 7 === 3,
          rounds = 4)
        .groupBy($"round")
        .agg(count(lit(1)).as("n_reached"),
          sum($"n").cast("long").as("node_checksum"),
          sum($"dist").cast("long").as("dist_checksum"),
          max($"dist").cast("long").as("max_dist"))
        .orderBy($"round")
    },

    // PERSONALIZED PageRank (random-walk-with-restart) — g01 ranks
    // global centrality; this ranks proximity TO A SEED SET (the
    // recommendation / influence-attribution primitive: "what's
    // important *near these accounts*"). Same fixed-point integer
    // discipline as g01, two differences: scores START on the seeds
    // (1e6 each, 0 elsewhere) and the 15% teleport mass returns ONLY to
    // seeds (150000·N DIV |S| each — exact floored integers, so three
    // rounds are bit-equal cross-engine and under any partitioning).
    // Seeds: suppliers sp % 7 = 3, the same seed set g08/g09 probe.
    // Output: top-20 suppliers by proximity score.
    //
    // Scale shape: identical to g01's — per round one co-partitioned
    // edges⋈scores join + map-side-combinable contribution sums; the
    // seed restart mass rides each node row as a precomputed column, so
    // personalization adds ZERO exchanges over global PR (contrast with
    // push-style PPR, whose frontier sparsity only pays off at very low
    // seed counts — at a fixed small round budget the Pregel form wins).
    "g10_personalized_pagerank" -> { (s, d) =>
      import s.implicits._
      val ed = ed2(s, d)
      val deg = nodeDeg(s, d)
      val seedPred = "u % 2 = 1 AND (u - 1) DIV 2 % 7 = 3"
      val counts = deg.agg(count(lit(1)).as("nn"),
        count(when(expr(seedPred), 1)).as("ns"))
      var sc = SessionScope.cache(deg.crossJoin(broadcast(counts))
        .select($"u",
          when(expr(seedPred), lit(1000000L)).otherwise(lit(0L)).as("sc"),
          $"deg",
          expr(s"CASE WHEN $seedPred THEN 150000 * nn DIV ns ELSE 0 END")
            .as("rst")))
      // g01's lazy-cache loop policy verbatim (fixed horizon, tiny
      // node-sized frames, released at the drain)
      for (_ <- 1 to 3) {
        val contrib = ed.join(sc, "u")
          .groupBy($"v").agg(sum(expr("sc DIV deg")).as("m"))
        sc = SessionScope.cache(contrib.select($"v".as("u"), $"m")
          .join(sc.select($"u", $"deg", $"rst"), "u")
          .select($"u", ($"rst" + expr("85 * m DIV 100")).as("sc"),
            $"deg", $"rst"))
      }
      import org.apache.spark.sql.expressions.Window
      sc.filter($"u" % 2 === 1)
        .select(expr("(u - 1) DIV 2").as("s_suppkey"),
          $"deg".as("n_partners"), $"sc".as("ppr_score"))
        .withColumn("rank", row_number().over(
          Window.orderBy($"ppr_score".desc, $"s_suppkey")))
        .filter($"rank" <= 20)
        .select($"rank", $"s_suppkey", $"n_partners", $"ppr_score")
        .orderBy($"rank")
    },

    // Fixed-point integer PageRank, 3 rounds, over the undirected
    // bipartite graph; output = top-20 suppliers by final score. Every
    // node appears as a destination (undirected edges), so no
    // isolated-node leak and no left-join repair.
    "g01_pagerank" -> { (s, d) =>
      import s.implicits._
      val ed = ed2(s, d)
      val deg = nodeDeg(s, d)
      var sc = deg.select($"u", lit(Scale).as("sc"), $"deg")
      // Iterative-loop cache policy, measured (rounds 11→13): caches are
      // LAZY and nothing is unpersisted inside the fixed-3-round loop. The
      // round-12 form forced an eager count() per round to release round
      // n−1 immediately; that traded a 6× steady-state regression (0.28 →
      // 1.72 s — each count() is an extra blocking job, and later reps
      // recompute rounds 1–2 because their frames are gone) for hygiene
      // that the runner's drain already provides: the superseded frames
      // are node-sized (three (long,long,long) rows per node), they spill
      // rather than OOM, and every round frame is released once the query
      // has materialized. An eager count IS correct in an iterate-to-
      // convergence loop, where it doubles as the convergence check — this
      // fixed-horizon query is not that loop. deg and ed are the memoized
      // frames g02/g05/g10 share (real per-round reuse).
      for (_ <- 1 to 3) {
        val contrib = ed.join(sc, "u")
          .groupBy($"v").agg(sum(expr("sc DIV deg")).as("m"))
        sc = SessionScope.cache(contrib
          .select($"v".as("u"), (lit(150000L) + expr("85 * m DIV 100")).as("sc"))
          .join(deg, "u")
          .select($"u", $"sc", $"deg"))
      }
      val suppliers = sc.filter($"u" % 2 === 1)
        .select(expr("(u - 1) DIV 2").as("s_suppkey"), $"deg".as("n_partners"),
          $"sc".as("pr_score"))
      import org.apache.spark.sql.expressions.Window
      // 100-supplier frame — the global rank window is over the reduced
      // side, and the top-20 cut keeps the output fixed-size
      suppliers
        .withColumn("rank", row_number().over(
          Window.orderBy($"pr_score".desc, $"s_suppkey")))
        .filter($"rank" <= 20)
        .select($"rank", $"s_suppkey", $"n_partners", $"pr_score")
        .orderBy($"rank")
    }
  )

  /** Node-iterator triangle enumeration over a CANONICAL (u < v)
    * undirected edge list: wedges (a,b)⋈(b,c) closed by the (a,c)
    * edge — each triangle a<b<c enumerated exactly once. Returns
    * (degree frame (n, deg), triangle frame (a, b, c)). Id-orientation
    * is safe exactly when the edge set is bounded-degree (g06's mutual
    * top-3 construction guarantees it); see g06's scaladoc for the
    * degree-ordered variant on unbounded graphs. Factored out so the
    * spec can drive it with known fixtures (K4, C5). */
  private[ext] def triangleCore(s: SparkSession, ed: DataFrame)
      : (DataFrame, DataFrame) = {
    import s.implicits._
    val deg = ed.select($"u".as("n")).union(ed.select($"v".as("n")))
      .groupBy($"n").agg(count(lit(1)).as("deg"))
    val tri = ed.as("e1").join(ed.as("e2"), col("e2.u") === col("e1.v"))
      .join(ed.as("e3"),
        col("e3.u") === col("e1.u") && col("e3.v") === col("e2.v"))
      .select(col("e1.u").as("a"), col("e1.v").as("b"), col("e2.v").as("c"))
    (deg, tri)
  }

  // The loop's edge list: hash-partitioned on the join key ONCE and
  // persisted in that layout, so each round's edges⋈scores join reuses
  // the partitioning instead of re-exchanging the (big) edge side every
  // round — measured 44 → 26 MB total at sf0.1 (what remains is the
  // inherent one-off edge distillation: the orderkey co-shuffle + this
  // layout exchange — plus the per-round contribution partials, which
  // ARE the Pregel cost). This is the local stand-in for bucketing both
  // tables on the node id at scale.
  // Memoized as a Persisted frame, not a Checkpointed one (r19,
  // measured): a localCheckpoint loses the advertised hashpartitioning(u)
  // layout — this Spark build's LogicalRDD does not carry the
  // checkpointed plan's output partitioning, so EVERY round's
  // edges⋈scores join re-exchanged the full edge frame (g01's ceiling
  // tripped 1.40 → 3.7 MB, plan showed `Exchange hashpartitioning(u)`
  // over `Scan ExistingRDD` per round). A Persisted memo keeps the layout
  // and registers again after a sweep-side clearCache() (Verify per
  // query, ShuffleCeilingSpec per test), so the loop rounds never re-run
  // the repartition exchange (g05's ceiling once tripped 1.38 → 3.5 MB
  // on a memo that did not).
  private def ed2(s: SparkSession, d: String): DataFrame =
    SessionScope.frame(s, d, "g_ed2", Persisted) {
      import s.implicits._
      edges(s, d).repartition($"u")
    }

  /** Each node's degree `(u, deg)` over [[ed2]] — g01's and g10's score
    * denominator and g02's census input, one lazy build per session. */
  private def nodeDeg(s: SparkSession, d: String): DataFrame =
    SessionScope.frame(s, d, "g_deg", Persisted) {
      import s.implicits._
      ed2(s, d).groupBy($"u").agg(count(lit(1)).as("deg"))
    }

  val oracle: Map[String, String] = {
    // MATERIALIZED: DuckDB inlines plain CTEs per reference — g05's
    // unrolled rounds reference ed once per round and each l(k-1) three
    // times, so the inlined chain recomputed the edge build ~3^rounds
    // times (measured: an 80 GB spill-to-disk failure at sf0.1; the
    // g06 oracle documents the same DuckDB-only hint)
    val edgeCtes =
      """ed0 AS MATERIALIZED (SELECT DISTINCT 2 * o_custkey AS c, 2 * l_suppkey + 1 AS s
        |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
        |ed AS MATERIALIZED (SELECT c AS u, s AS v FROM ed0 UNION ALL SELECT s, c FROM ed0),
        |deg AS (SELECT u, COUNT(*) AS deg FROM ed GROUP BY u)""".stripMargin

    Map(
      // identical double expression order: (shared_as_double · nc) /
      // (exact integer product), rounded 6 dp
      "g03_cooccurrence" ->
        raw"""WITH cs AS (SELECT DISTINCT o_custkey AS c, l_suppkey AS sp
             |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
             |sc AS (SELECT sp, COUNT(*) AS cnt FROM cs GROUP BY sp),
             |n AS (SELECT COUNT(DISTINCT c) AS nc FROM cs),
             |p AS (SELECT a.sp AS sa, b.sp AS sb, COUNT(*) AS shared
             |  FROM cs a JOIN cs b ON a.c = b.c AND a.sp < b.sp GROUP BY 1, 2),
             |r AS (SELECT sa, sb, shared,
             |    round(CAST(shared AS DOUBLE) * nc / (x.cnt * y.cnt), 6) AS lift,
             |    CAST(ROW_NUMBER() OVER (ORDER BY shared DESC, sa, sb) AS INTEGER) AS rank
             |  FROM p JOIN sc x ON sa = x.sp JOIN sc y ON sb = y.sp CROSS JOIN n)
             |SELECT rank, sa, sb, CAST(shared AS BIGINT) AS shared, lift
             |FROM r WHERE rank <= 20 ORDER BY rank""".stripMargin,

      // the 16-word bitmap form replayed bit-for-bit: DuckDB's signed <<
      // traps on bit 63, so the oracle shifts in UBIGINT — same 64-bit
      // patterns as Spark's wrapping signed shiftleft, and only
      // bit_count(a & b) (bit-pattern-invariant) ever reaches the output
      "g04_cooccurrence_bitmap" -> {
        val wordCols = (0 until 16).map(k =>
          s"coalesce(bit_or(CASE WHEN (c % 1024) // 64 = $k THEN CAST(1 AS UBIGINT) << CAST(c % 64 AS INT) END), 0::UBIGINT) AS w$k")
          .mkString(",\n             |    ")
        // DuckDB bit_count returns INT8 (TINYINT) — 16 terms overflow at
        // 127 without widening each to INTEGER first
        val sharedSum = (0 until 16)
          .map(k => s"CAST(bit_count(a.w$k & b.w$k) AS INTEGER)")
          .mkString(" + ")
        raw"""WITH cs AS (SELECT DISTINCT o_custkey AS c, l_suppkey AS sp
             |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
             |bm AS (SELECT sp, c // 1024 AS seg,
             |    $wordCols
             |  FROM cs GROUP BY 1, 2),
             |sc AS (SELECT sp, COUNT(*) AS cnt FROM cs GROUP BY sp),
             |n AS (SELECT COUNT(DISTINCT c) AS nc FROM cs),
             |p AS (SELECT a.sp AS sa, b.sp AS sb, SUM($sharedSum) AS shared
             |  FROM bm a JOIN bm b ON a.seg = b.seg AND a.sp < b.sp GROUP BY 1, 2),
             |r AS (SELECT sa, sb, shared,
             |    round(CAST(shared AS DOUBLE) * nc / (x.cnt * y.cnt), 6) AS lift,
             |    CAST(ROW_NUMBER() OVER (ORDER BY shared DESC, sa, sb) AS INTEGER) AS rank
             |  FROM p JOIN sc x ON sa = x.sp JOIN sc y ON sb = y.sp CROSS JOIN n
             |  WHERE shared > 0)
             |SELECT rank, sa, sb, CAST(shared AS BIGINT) AS shared, lift
             |FROM r WHERE rank <= 20 ORDER BY rank""".stripMargin
      },

      // the dynamic loop replayed by unrolling: min-label propagation is
      // monotone with a unique fixpoint, so per-round changed-counts are
      // deterministic; 6 unrolled rounds cover sf0.01's convergence at
      // round 4 (measured 1594/1554/56/0 — the oracle gate only ever
      // runs at sf0.01), and rows are emitted up to the first zero round
      // so the hash also PINS the convergence round count
      "g05_labelprop_converged" -> {
        val rounds = 6
        val roundCtes = (1 to rounds).map { k =>
          // MATERIALIZED per round: l(k-1) is referenced three times (the
          // n and p arms plus d(k)'s diff) — inlining recomputes the whole
          // prior chain per reference, ~3^rounds edge builds by l6
          raw"""l$k AS MATERIALIZED (SELECT n.u, LEAST(n.lbl, MIN(p.lbl)) AS lbl
               |  FROM l${k - 1} n JOIN ed e ON e.u = n.u JOIN l${k - 1} p ON p.u = e.v
               |  GROUP BY n.u, n.lbl),
               |d$k AS (SELECT $k AS r, COUNT(*) AS ch
               |  FROM l$k a JOIN l${k - 1} b USING (u) WHERE a.lbl <> b.lbl)""".stripMargin
        }.mkString(",\n")
        val unionD = (1 to rounds).map(k => s"SELECT r, ch FROM d$k")
          .mkString(" UNION ALL ")
        raw"""WITH $edgeCtes,
             |nodes AS (SELECT DISTINCT u FROM ed),
             |l0 AS (SELECT u, u AS lbl FROM nodes),
             |$roundCtes,
             |rr AS ($unionD),
             |cr AS (SELECT MIN(r) AS cr FROM rr WHERE ch = 0),
             |census AS (SELECT COUNT(DISTINCT lbl) AS n_components,
             |    CAST(SUM(('0x' || substr(md5(u::VARCHAR || ',' || lbl::VARCHAR), 1, 10))::BIGINT) AS BIGINT) AS label_checksum
             |  FROM l$rounds)
             |SELECT CAST(r AS INTEGER) AS round, CAST(ch AS BIGINT) AS n_changed,
             |  n_components, label_checksum
             |FROM rr CROSS JOIN census
             |WHERE r <= (SELECT cr FROM cr)
             |ORDER BY round""".stripMargin
      },

      // the same mutual-top-3 sparsification and node-iterator wedge
      // join, exact-integer throughout; the two rounded doubles (lcc,
      // global transitivity) use the identical operand order
      "g06_triangle_census" ->
        // MATERIALIZED hints (DuckDB-only syntax — the oracle never runs
        // in Spark): DuckDB inlines plain CTEs, so the 12M-row pair join
        // would otherwise recompute once per downstream reference
        raw"""WITH cs AS MATERIALIZED (SELECT DISTINCT o_custkey AS c, l_suppkey AS sp
             |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
             |p AS MATERIALIZED (SELECT a.sp AS sa, b.sp AS sb, COUNT(*) AS shared
             |  FROM cs a JOIN cs b ON a.c = b.c AND a.sp < b.sp GROUP BY 1, 2),
             |dir AS (SELECT sa AS n, sb AS p, shared FROM p
             |  UNION ALL SELECT sb, sa, shared FROM p),
             |top6 AS (SELECT n, p FROM (SELECT n, p,
             |    ROW_NUMBER() OVER (PARTITION BY n ORDER BY shared DESC, p) AS rk
             |  FROM dir) WHERE rk <= 6),
             |ed AS MATERIALIZED (SELECT x.n AS u, x.p AS v FROM top6 x
             |  JOIN top6 y ON x.n = y.p AND x.p = y.n WHERE x.n < x.p),
             |deg AS (SELECT n, COUNT(*) AS deg
             |  FROM (SELECT u AS n FROM ed UNION ALL SELECT v FROM ed) GROUP BY n),
             |tr AS MATERIALIZED (SELECT e1.u AS a, e1.v AS b, e2.v AS c
             |  FROM ed e1 JOIN ed e2 ON e2.u = e1.v
             |  JOIN ed e3 ON e3.u = e1.u AND e3.v = e2.v),
             |tn AS (SELECT n, COUNT(*) AS tri FROM (SELECT a AS n FROM tr
             |  UNION ALL SELECT b FROM tr UNION ALL SELECT c FROM tr) GROUP BY n),
             |census AS (SELECT (SELECT COUNT(*) FROM deg) AS n_nodes,
             |    (SELECT COUNT(*) FROM ed) AS n_edges,
             |    (SELECT COUNT(*) FROM tr) AS n_triangles,
             |    (SELECT SUM(deg * (deg - 1) // 2) FROM deg) AS wedges),
             |pn AS (SELECT n, deg, COALESCE(tri, 0) AS tri,
             |    CAST(ROW_NUMBER() OVER (ORDER BY COALESCE(tri, 0) DESC, deg ASC, n ASC)
             |      AS INTEGER) AS rank
             |  FROM deg LEFT JOIN tn USING (n) WHERE deg >= 2)
             |SELECT rank, n AS s_suppkey, CAST(deg AS BIGINT) AS deg,
             |  CAST(tri AS BIGINT) AS tri,
             |  round(CAST(tri AS DOUBLE) * 2 / (deg * (deg - 1)), 6) AS lcc,
             |  CAST(n_nodes AS BIGINT) AS n_nodes, CAST(n_edges AS BIGINT) AS n_edges,
             |  CAST(n_triangles AS BIGINT) AS n_triangles,
             |  round(CAST(n_triangles AS DOUBLE) * 3 / wedges, 6) AS global_cc
             |FROM pn CROSS JOIN census WHERE rank <= 20 ORDER BY rank""".stripMargin,

      // g06's edge CTEs + 3 unrolled peels; each round's census row pins
      // the intermediate graph, not just the final core
      "g07_kcore_peel" -> {
        def peel(r: Int): String =
          s"""k$r AS (SELECT n FROM d$r WHERE dg >= 3),
             |e${r + 1} AS MATERIALIZED (SELECT u, v FROM e$r
             |  WHERE u IN (SELECT n FROM k$r) AND v IN (SELECT n FROM k$r)),
             |d${r + 1} AS (SELECT n, COUNT(*) AS dg
             |  FROM (SELECT u AS n FROM e${r + 1} UNION ALL SELECT v FROM e${r + 1}) GROUP BY n)""".stripMargin
        def row(r: Int): String =
          s"""SELECT $r AS round, COUNT(*) AS n_nodes,
             |  CAST(COALESCE(SUM(dg), 0) // 2 AS BIGINT) AS n_edges,
             |  COUNT(*) FILTER (dg < 3) AS n_peeled FROM d$r""".stripMargin
        raw"""WITH cs AS MATERIALIZED (SELECT DISTINCT o_custkey AS c, l_suppkey AS sp
             |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
             |p AS MATERIALIZED (SELECT a.sp AS sa, b.sp AS sb, COUNT(*) AS shared
             |  FROM cs a JOIN cs b ON a.c = b.c AND a.sp < b.sp GROUP BY 1, 2),
             |dir AS (SELECT sa AS n, sb AS p, shared FROM p
             |  UNION ALL SELECT sb, sa, shared FROM p),
             |top6 AS (SELECT n, p FROM (SELECT n, p,
             |    ROW_NUMBER() OVER (PARTITION BY n ORDER BY shared DESC, p) AS rk
             |  FROM dir) WHERE rk <= 6),
             |e0 AS MATERIALIZED (SELECT x.n AS u, x.p AS v FROM top6 x
             |  JOIN top6 y ON x.n = y.p AND x.p = y.n WHERE x.n < x.p),
             |d0 AS (SELECT n, COUNT(*) AS dg
             |  FROM (SELECT u AS n FROM e0 UNION ALL SELECT v FROM e0) GROUP BY n),
             |${peel(0)},
             |${peel(1)},
             |${peel(2)}
             |${row(0)} UNION ALL ${row(1)} UNION ALL ${row(2)} UNION ALL ${row(3)}
             |ORDER BY round""".stripMargin
      },

      // same mutual-top-6 construction as g06/g07, then 4 unrolled BFS
      // rounds: each frontier = distinct neighbors of the previous one
      // not yet reached; −1 collects the never-reached tail
      "g08_bfs_hops" -> {
        def round(r: Int): String =
          s"""f$r AS (SELECT DISTINCT adj.b AS n FROM adj
             |  JOIN f${r - 1} ON adj.a = f${r - 1}.n
             |  WHERE adj.b NOT IN (SELECT n FROM d${r - 1})),
             |d$r AS (SELECT * FROM d${r - 1} UNION ALL SELECT n, $r FROM f$r)""".stripMargin
        raw"""WITH cs AS MATERIALIZED (SELECT DISTINCT o_custkey AS c, l_suppkey AS sp
             |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
             |p AS MATERIALIZED (SELECT a.sp AS sa, b.sp AS sb, COUNT(*) AS shared
             |  FROM cs a JOIN cs b ON a.c = b.c AND a.sp < b.sp GROUP BY 1, 2),
             |dir AS (SELECT sa AS n, sb AS p, shared FROM p
             |  UNION ALL SELECT sb, sa, shared FROM p),
             |top6 AS (SELECT n, p FROM (SELECT n, p,
             |    ROW_NUMBER() OVER (PARTITION BY n ORDER BY shared DESC, p) AS rk
             |  FROM dir) WHERE rk <= 6),
             |e0 AS MATERIALIZED (SELECT x.n AS u, x.p AS v FROM top6 x
             |  JOIN top6 y ON x.n = y.p AND x.p = y.n WHERE x.n < x.p),
             |adj AS MATERIALIZED (SELECT u AS a, v AS b FROM e0
             |  UNION ALL SELECT v, u FROM e0),
             |nodes AS MATERIALIZED (SELECT DISTINCT a AS n FROM adj),
             |d0 AS (SELECT n, 0 AS hop FROM nodes WHERE n % 7 = 3),
             |f0 AS (SELECT n FROM d0),
             |${round(1)},
             |${round(2)},
             |${round(3)},
             |${round(4)},
             |alln AS (SELECT * FROM d4 UNION ALL
             |  SELECT n, -1 FROM nodes WHERE n NOT IN (SELECT n FROM d4))
             |SELECT CAST(hop AS INTEGER) AS hop, COUNT(*) AS n_nodes,
             |  CAST(SUM(n) AS BIGINT) AS node_checksum,
             |  CAST(MIN(n) AS BIGINT) AS min_node,
             |  CAST(MAX(n) AS BIGINT) AS max_node
             |FROM alln GROUP BY hop ORDER BY hop""".stripMargin
      },

      // g08's construction with the integer edge cost carried through,
      // then 4 unrolled relaxations: each round's map = MIN over the old
      // map unioned with every one-edge extension; one census row per
      // round pins each intermediate distance map exactly
      "g09_sssp_relax" -> {
        def relax(r: Int): String =
          s"""d$r AS (SELECT n, MIN(dist) AS dist FROM (
             |  SELECT * FROM d${r - 1} UNION ALL
             |  SELECT adj.b, d.dist + adj.w FROM adj
             |    JOIN d${r - 1} d ON adj.a = d.n) GROUP BY n)""".stripMargin
        def row(r: Int): String =
          s"""SELECT $r AS round, COUNT(*) AS n_reached,
             |  CAST(SUM(n) AS BIGINT) AS node_checksum,
             |  CAST(SUM(dist) AS BIGINT) AS dist_checksum,
             |  CAST(MAX(dist) AS BIGINT) AS max_dist FROM d$r""".stripMargin
        raw"""WITH cs AS MATERIALIZED (SELECT DISTINCT o_custkey AS c, l_suppkey AS sp
             |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
             |p AS MATERIALIZED (SELECT a.sp AS sa, b.sp AS sb, COUNT(*) AS shared
             |  FROM cs a JOIN cs b ON a.c = b.c AND a.sp < b.sp GROUP BY 1, 2),
             |dir AS (SELECT sa AS n, sb AS p, shared FROM p
             |  UNION ALL SELECT sb, sa, shared FROM p),
             |top6 AS (SELECT n, p, 1000000 // shared AS w FROM (SELECT n, p, shared,
             |    ROW_NUMBER() OVER (PARTITION BY n ORDER BY shared DESC, p) AS rk
             |  FROM dir) WHERE rk <= 6),
             |e0 AS MATERIALIZED (SELECT x.n AS u, x.p AS v, x.w AS w FROM top6 x
             |  JOIN top6 y ON x.n = y.p AND x.p = y.n WHERE x.n < x.p),
             |adj AS MATERIALIZED (SELECT u AS a, v AS b, w FROM e0
             |  UNION ALL SELECT v, u, w FROM e0),
             |d0 AS (SELECT n, CAST(0 AS BIGINT) AS dist
             |  FROM (SELECT DISTINCT a AS n FROM adj) WHERE n % 7 = 3),
             |${relax(1)},
             |${relax(2)},
             |${relax(3)},
             |${relax(4)}
             |SELECT CAST(round AS INTEGER) AS round, n_reached, node_checksum,
             |  dist_checksum, max_dist
             |FROM (${row(0)} UNION ALL ${row(1)} UNION ALL ${row(2)}
             |  UNION ALL ${row(3)} UNION ALL ${row(4)})
             |ORDER BY round""".stripMargin
      },

      "g02_degree_census" ->
        raw"""WITH $edgeCtes
             |SELECT CASE WHEN u % 2 = 0 THEN 'customer' ELSE 'supplier' END AS kind,
             |  CAST(length(bin(deg)) - 1 AS INTEGER) AS bucket,
             |  COUNT(*) AS n_nodes, CAST(SUM(deg) AS BIGINT) AS sum_deg,
             |  CAST(MIN(deg) AS BIGINT) AS min_deg, CAST(MAX(deg) AS BIGINT) AS max_deg
             |FROM deg GROUP BY 1, 2 ORDER BY kind, bucket""".stripMargin,

      // g01's unrolled scaffolding with seed-only init and seed-only
      // floored restart mass — the identical integer arithmetic
      "g10_personalized_pagerank" ->
        raw"""WITH $edgeCtes,
             |cnt AS (SELECT COUNT(*) AS nn,
             |    COUNT(*) FILTER (u % 2 = 1 AND (u - 1) // 2 % 7 = 3) AS ns
             |  FROM deg),
             |n0 AS (SELECT u,
             |    CASE WHEN u % 2 = 1 AND (u - 1) // 2 % 7 = 3
             |      THEN 1000000 ELSE 0 END AS sc, deg,
             |    CASE WHEN u % 2 = 1 AND (u - 1) // 2 % 7 = 3
             |      THEN 150000 * nn // ns ELSE 0 END AS rst
             |  FROM deg CROSS JOIN cnt),
             |r1 AS (SELECT v AS u, SUM(sc // deg) AS m
             |  FROM ed JOIN n0 USING (u) GROUP BY v),
             |n1 AS (SELECT u, rst + 85 * m // 100 AS sc, deg, rst
             |  FROM r1 JOIN n0 USING (u)),
             |r2 AS (SELECT v AS u, SUM(sc // deg) AS m
             |  FROM ed JOIN n1 USING (u) GROUP BY v),
             |n2 AS (SELECT u, rst + 85 * m // 100 AS sc, deg, rst
             |  FROM r2 JOIN n1 USING (u)),
             |r3 AS (SELECT v AS u, SUM(sc // deg) AS m
             |  FROM ed JOIN n2 USING (u) GROUP BY v),
             |n3 AS (SELECT u, rst + 85 * m // 100 AS sc, deg, rst
             |  FROM r3 JOIN n2 USING (u)),
             |sup AS (SELECT (u - 1) // 2 AS s_suppkey, deg AS n_partners,
             |    sc AS ppr_score,
             |    CAST(ROW_NUMBER() OVER (ORDER BY sc DESC, (u - 1) // 2)
             |      AS INTEGER) AS rank
             |  FROM n3 WHERE u % 2 = 1)
             |SELECT rank, s_suppkey, n_partners,
             |  CAST(ppr_score AS BIGINT) AS ppr_score
             |FROM sup WHERE rank <= 20 ORDER BY rank""".stripMargin,

      // per-edge floored contributions + exact integer sums — the
      // identical arithmetic, unrolled three rounds
      "g01_pagerank" ->
        raw"""WITH $edgeCtes,
             |n0 AS (SELECT u, 1000000 AS sc, deg FROM deg),
             |r1 AS (SELECT v AS u, 150000 + 85 * SUM(sc // deg) // 100 AS sc
             |  FROM ed JOIN n0 USING (u) GROUP BY v),
             |n1 AS (SELECT u, sc, deg FROM r1 JOIN deg USING (u)),
             |r2 AS (SELECT v AS u, 150000 + 85 * SUM(sc // deg) // 100 AS sc
             |  FROM ed JOIN n1 USING (u) GROUP BY v),
             |n2 AS (SELECT u, sc, deg FROM r2 JOIN deg USING (u)),
             |r3 AS (SELECT v AS u, 150000 + 85 * SUM(sc // deg) // 100 AS sc
             |  FROM ed JOIN n2 USING (u) GROUP BY v),
             |n3 AS (SELECT u, sc, deg FROM r3 JOIN deg USING (u)),
             |sup AS (SELECT (u - 1) // 2 AS s_suppkey, deg AS n_partners, sc AS pr_score,
             |    CAST(ROW_NUMBER() OVER (ORDER BY sc DESC, (u - 1) // 2) AS INTEGER) AS rank
             |  FROM n3 WHERE u % 2 = 1)
             |SELECT rank, s_suppkey, n_partners, CAST(pr_score AS BIGINT) AS pr_score
             |FROM sup WHERE rank <= 20 ORDER BY rank""".stripMargin
    )
  }
}
