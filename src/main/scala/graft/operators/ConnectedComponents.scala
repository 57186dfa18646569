package graft.operators

import scala.collection.mutable

import org.apache.spark.sql.DataFrame

/** Distributed connected components over an undirected edge list, labeling
  * every node with the MINIMUM node id reachable from it (the "keep the
  * smallest doc_id as the cluster representative" rule of dedup cluster
  * formation).
  *
  * Algorithm: multi-level local contraction — the two-phase shape
  * production systems use for trillion-edge graphs (partition-local
  * union-find, then solve the contracted remainder), generalized to as
  * many levels as the data needs:
  *
  *  1. Each partition runs an in-memory union-find over its edges and
  *     emits STAR EDGES `(node, localRoot)` — one row per distinct node
  *     in the partition. The union of all partitions' stars has exactly
  *     the original graph's components (a node seen by two partitions
  *     links its two local roots through its own row), and is at most
  *     2·|E| rows but typically near |V|.
  *  2. If the star set fits one task (`singleTaskThreshold`), shuffle it
  *     to a single partition and run one final union-find — the global
  *     labels fall out directly. Otherwise repartition to `1/fanIn` of
  *     the current parallelism and contract again; each level merges
  *     `fanIn` partitions' views, so the loop reaches one partition in
  *     `log_fanIn(P)` levels no matter what the data looks like.
  *
  * Contrast with min-label propagation (join + groupBy-min per round,
  * pointer doubling): that costs O(diameter → log d) driver-synchronized
  * shuffle rounds over the FULL edge set. Contraction does `log_fanIn(P)`
  * narrow `mapPartitions` passes whose input shrinks toward |V| after the
  * first level, with one row-count check per level as the only driver
  * sync. Union-by-min-root makes every level deterministic (the root of a
  * component is its min id regardless of edge order), so the final labels
  * are exactly "min reachable id" — the same answer as a transitive
  * closure (DuckDB `WITH RECURSIVE` oracle, d09).
  *
  * The reference has no graph/cluster operator (SURVEY.md §2.2 — absent);
  * this is engine-plan capability for the dedup extension
  * (`/root/reference` routes messages, consumer/legacy-consumer.ts:89-115,
  * and never groups them).
  *
  * @param singleTaskThreshold max star-edge rows to finish in ONE task;
  *        size it to executor memory (a (Long,Long) row is ~16 bytes in
  *        the union-find, so the 50M default is ~1.6 GB peak)
  * @param fanIn how many partitions each contraction level merges
  */
object ConnectedComponents {

  /** Partition-local union-find: consumes edges, emits `(node, root)` star
    * edges with root = min id of the node's LOCAL component. Union by min
    * root + full path compression; output order follows insertion order of
    * first sight, which downstream treats as a set. */
  private[operators] def contract(edges: Iterator[(Long, Long)]): Iterator[(Long, Long)] = {
    val parent = mutable.LongMap.empty[Long]
    def find(x: Long): Long = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var c = x
      while (c != r) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    // insertion order recorded so the emit below never iterates the map
    // while find() mutates it
    val seen = mutable.ArrayBuffer.empty[Long]
    def add(x: Long): Unit =
      if (!parent.contains(x)) { parent(x) = x; seen += x }
    edges.foreach { case (a, b) =>
      add(a); add(b)
      val ra = find(a); val rb = find(b)
      if (ra < rb) parent(rb) = ra
      else if (rb < ra) parent(ra) = rb
    }
    seen.iterator.map(n => (n, find(n)))
  }

  /** Label every node of `edges` (columns `src`, `dst`, both LONG; each
    * undirected edge once in either orientation) with its component's min
    * node id. Returns `(node, lbl)`, one row per distinct node, lineage
    * cut (safe to reuse in iterative callers). */
  def labels(
      edges: DataFrame,
      src: String,
      dst: String,
      singleTaskThreshold: Long = 50L * 1000 * 1000,
      fanIn: Int = 8): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    require(fanIn >= 2, s"fanIn must be >= 2, got $fanIn")

    var cur = edges.select(edges(src).cast("long"), edges(dst).cast("long"))
      .as[(Long, Long)]
    var prev: Option[org.apache.spark.sql.Dataset[(Long, Long)]] = None
    var done: org.apache.spark.sql.Dataset[(Long, Long)] = null
    while (done == null) {
      // level 1 runs at the input's own parallelism: mapPartitions fuses
      // into the producing stage, no pre-probe of the raw plan (which
      // under AQE would execute its stages just to count partitions)
      val stars = graft.core.SessionScope.cache(cur.mapPartitions(contract))
      val n = stars.count() // materializes the level; the only driver sync
      // exact post-materialization partition count (cheap on the cached
      // plan) — drives the fan-in schedule instead of a parallelism guess
      val parts = stars.rdd.getNumPartitions
      if (parts <= 1) {
        // a single partition saw every star edge, so this contraction IS
        // the global labeling (each node exactly once). Reaching here with
        // n above the threshold means the graph refused to shrink — the
        // single task was unavoidable; the threshold merely exits earlier.
        done = stars.localCheckpoint()
      } else if (n <= singleTaskThreshold) {
        done = stars.repartition(1).mapPartitions(contract).localCheckpoint()
      } else {
        cur = stars.repartition(math.max(1, parts / fanIn))
      }
      prev.foreach(graft.core.SessionScope.release)
      prev = Some(stars)
    }
    prev.foreach(graft.core.SessionScope.release)
    done.toDF("node", "lbl")
  }
}
