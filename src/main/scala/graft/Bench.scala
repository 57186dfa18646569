package graft
import org.apache.spark.sql.SparkSession
/** The benchmark main: `runMain graft.Bench [q1,q2,...]`. No names sweeps
  * the sorted catalog (the recorded invocation); names replay that list
  * in the given order under the same rules — warm-up, per-query reps,
  * drain after each query's reps, no clear — so a replay reproduces a
  * record's cache-subsidy context by construction. */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val queries = Runner.resolveOrExit(args.toSeq)
    // 1-minute load average sampled BEFORE this JVM ramps up: residual
    // machine load inflates bench numbers ~1.5x (see CLAUDE.md), so the
    // artifact must carry the evidence needed to judge its own validity
    // all three horizons: the r14 incident proved 1-min alone is not
    // enough — a capture at 1-min 0.69 but 15-min 1.75 (the decaying
    // tail of a just-finished test-suite run) inflated shared queries
    // +19% while passing the 1-min gate; accept_bench_record.py gates
    // on the 15-min figure, so the record must carry it
    val loadFields =
      try scala.io.Source.fromFile("/proc/loadavg").mkString.split("\\s+")
      catch { case _: Throwable => Array("-1", "-1", "-1") }
    def loadAt(i: Int): Double =
      try loadFields(i).toDouble catch { case _: Throwable => -1.0 }
    val spark = Runner.session()
    Runner.warmUp(spark, sfDir)
    // reps > 1 takes the MIN per query across repetitions: the min is the
    // least-polluted observation (first-run codegen/IO and stolen-CPU noise
    // only ever ADD time), so committed artifacts become comparable across
    // rounds. Default 1 keeps the driver's invocation unchanged.
    val reps = math.max(1, sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "1").toInt)
    val (json, summary) = run(spark, sfDir, queries, reps, loadAt(0), loadAt(1), loadAt(2))
    // durable full copy: the printed line competes with sbt noise for the
    // harness's tail capture; the file never does
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "/tmp/bench.json")
    try {
      val w = new java.io.PrintWriter(outPath); try w.println(json) finally w.close()
    } catch { case _: Throwable => () }
    spark.stop()
    // printed after spark.stop(), so shutdown logging can't land between
    // the JSON and end-of-output and eat the tail budget
    println(json)
    println(summary)
  }

  /** The timed sweep over `queries` and its two record lines (full,
    * summary). The caller owns the session: this never stops it. */
  def run(spark: SparkSession, sfDir: String, queries: Seq[(String, Runner.Query)],
          reps: Int, loadAvg: Double, loadAvg5: Double,
          loadAvg15: Double): (String, String) = {
    val steal0 = stealSeconds()
    val cpu0 = Runner.cpuNanos()
    val wall0 = System.nanoTime()
    val results = queries.map { case (name, fn) =>
      // a failed query records -1, NOT its time-to-failure: a breakage
      // must stand out in the JSON, never read as a speedup. Any failed
      // rep fails the query — partial success must not read as a min.
      // Each rep records (wall, process-CPU): per-query CPU seconds stay
      // meaningful even when another process steals the machine (wall
      // stretches, our CPU doesn't), so a starved run still RANKS queries
      // usably — rounds 8–10 all ran under external load.
      val times = (1 to reps).map(_ => Runner.measure(spark, sfDir, fn))
      // No cache clearing between queries, and a drain after each query's
      // reps. Cross-query reuse goes only through named memos
      // (SessionScope.frame: the MinHash signatures, the k-means
      // assignments, the graph edge frames), built once per session as a
      // production pipeline materializes a signature index once; a
      // query's per-call caches are released by the drain, so none
      // outlives its query into the rest of the sweep. Within-
      // query reps still reuse their cached frames (identical plans
      // plan-match, preserving rep comparability with earlier records).
      // Verify clears per query (correctness runs feed no timing); for
      // subsidy-free per-query cost, QueryTimer clears between reps.
      // Untimed: the unpersist is non-blocking bookkeeping.
      graft.core.SessionScope.drain(spark)
      // wall-min and cpu-min may come from different reps: each is the
      // least-polluted observation of its own metric (noise only adds)
      val wall = if (times.exists(_._1 < 0)) -1.0 else times.map(_._1).min
      val cpu = if (times.exists(_._2 < 0)) -1.0 else times.map(_._2).min
      (name, wall, cpu)
    }
    val wallSec = (System.nanoTime() - wall0) / 1e9
    val cpu1 = Runner.cpuNanos()
    val steal1 = stealSeconds()
    val stealS = if (steal0 < 0 || steal1 < 0) -1.0 else steal1 - steal0
    // cpu_wall_ratio in "effective cores": ~cpus when we own the machine,
    // lower when descheduled. -1 when the platform bean is unavailable.
    val cpuWallRatio =
      if (cpu0 < 0 || cpu1 < 0 || wallSec <= 0) -1.0
      else (cpu1 - cpu0) / 1e9 / wallSec
    // ratio_vs_idle closes the taint loop the cpu_wall_ratio comment
    // promises: no absolute ratio threshold separates clean from starved
    // (planning/codegen is single-threaded), but the ratio vs a committed
    // KNOWN-IDLE run of the same config is directly interpretable —
    // ~1.0 when this run owned the machine, well below 1 when another
    // process stole cycles (wall stretches, our cpu doesn't). The
    // reference lives in-repo (tools/bench_idle_ref.txt; SCALE.md records
    // its provenance — committed calibration 4.923 at load 0.34 on this
    // 32-cpu box at the driver's sf0.1/32-cpu/1-rep config); -1 when the
    // file is absent or this run's bean failed. See idleRef.
    val idleRef = Bench.idleRef(reps)
    val ratioVsIdle =
      if (idleRef > 0 && cpuWallRatio > 0) cpuWallRatio / idleRef else -1.0
    // per-query seconds rounded to 1 ms: full-precision doubles made the
    // line ~4.5 KB and the driver's 4 KB tail capture truncated it every
    // round ("parsed": null in BENCH_r01..r04) — 3 dp keeps it ~2.4 KB
    def r3(v: Double): String =
      if (v < 0) "-1" else BigDecimal(v).setScale(3, BigDecimal.RoundingMode.HALF_UP).toString
    val qs = results.map { case (k, w, _) => "\"" + k + "\":" + r3(w) }
      .mkString("{", ",", "}")
    // per-query process-CPU seconds, as a SEPARATE map after "queries" so
    // existing tooling keyed on "queries" (wall) compares across rounds
    // unchanged; the durable file carries both in full even when the
    // driver's tail capture truncates the printed line
    val cpuQs = results.map { case (k, _, c) => "\"" + k + "\":" + r3(c) }
      .mkString("{", ",", "}")
    val failed = results.count(_._2 < 0)
    // a breakage must never read as a speedup: "failed" is explicit, and the
    // headline total is -1 whenever any query failed
    val total = if (failed > 0) -1.0 else results.map(_._2).sum
    val json = s"""{"metric":"total","value":${r3(total)},"unit":"sec","failed":$failed,"load_avg":$loadAvg,"load_avg_5":$loadAvg5,"load_avg_15":$loadAvg15,"reps":$reps,"cpu_wall_ratio":${r3(cpuWallRatio)},"ratio_vs_idle":${r3(ratioVsIdle)},"queries":$qs,"cpu_queries":$cpuQs,"sf":"$sfDir","steal_s":${r3(stealS)}}"""
    // The driver's tail capture keeps only the END of output and has
    // truncated the ~2.4 KB full line's head in every round so far
    // ("parsed": null in BENCH_r01..r06). A second, ~100-byte summary —
    // headline fields only, no per-query map — printed LAST survives any
    // tail budget; the durable file above still carries the full detail.
    // "tainted" marks a pre-run 1-min load average high enough (> 1.5 on
    // this 32-cpu box) that residual load inflates the total ~1.5x, so
    // polluted driver snapshots are machine-detectable.
    // cpu_wall_ratio is RECORDED, not used for taint: planning/codegen is
    // single-threaded, so the clean-run ratio sits far below the requested
    // core count and no absolute threshold separates clean from starved.
    // Judges compare the ratio across rounds instead (it only drops when
    // another process steals the machine).
    val tainted = loadAvg > 1.5
    val summary = s"""{"metric":"total","value":${r3(total)},"unit":"sec","failed":$failed,"load_avg":$loadAvg,"load_avg_15":$loadAvg15,"reps":$reps,"cpu_wall_ratio":${r3(cpuWallRatio)},"ratio_vs_idle":${r3(ratioVsIdle)},"tainted":$tainted,"sf":"$sfDir"}"""
    (json, summary)
  }

  /** The committed known-idle cpu/wall ratio for a run of `reps` reps:
    * the file `SPARK_GRAFT_IDLE_REF` names, else `tools/bench_idle_ref_reps3.txt`
    * (reps > 1) or `tools/bench_idle_ref.txt` under `root`, the working
    * tree the run starts in; -1 when absent or unreadable. Per-MODE refs:
    * reps>1 re-reads cached inputs and duplicates less parallel work, so
    * its clean-run cpu_wall profile sits legitimately below reps=1's — one
    * shared ref mis-flagged a clean reps3 run as starved (0.93).
    * Calibration provenance lives in SCALE.md next to each number. */
  private[graft] def idleRef(reps: Int, root: java.io.File = new java.io.File("."),
      refFile: Option[String] = sys.env.get("SPARK_GRAFT_IDLE_REF")): Double = {
    def readRef(f: java.io.File): Double =
      try {
        val src = scala.io.Source.fromFile(f)
        try src.mkString.trim.toDouble finally src.close()
      } catch { case _: Throwable => -1.0 }
    refFile.map(p => readRef(new java.io.File(p))).getOrElse {
      val modeRef = if (reps > 1) readRef(new java.io.File(root, "tools/bench_idle_ref_reps3.txt")) else -1.0
      if (modeRef > 0) modeRef else readRef(new java.io.File(root, "tools/bench_idle_ref.txt"))
    }
  }

  /** Host steal of all CPUs in seconds since boot: field 8 of /proc/stat's
    * `cpu` line in USER_HZ (1/100 s) ticks; -1 when unreadable. Steal is
    * invisible to this cgroup's loadavg, so the sweep's diff goes in the
    * record (`steal_s`). */
  private def stealSeconds(): Double =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try src.getLines().next().trim.split("\\s+")(8).toDouble / 100 finally src.close()
    } catch { case _: Throwable => -1.0 }
}
