package graft.examples

import org.apache.spark.sql.SparkSession

/** Ad-hoc single-query timer: `runMain graft.examples.QueryTimer <name>
  * [sfDir] [reps]` — times one SparkEntry query end-to-end (count action)
  * after a warm-up rep, printing each rep. For hotspot work where the full
  * Bench sweep is too coarse.
  *
  * `SPARK_GRAFT_SINK=noop` materializes EVERY column through the noop
  * writer instead (mirrors Bench's knob). count() lets Catalyst prune
  * whatever the row count doesn't need — in particular a query whose
  * expensive arm feeds a row-preserving LEFT JOIN (d18: the entire span
  * pipeline) gets join-eliminated and the timing measures a husk. Use
  * noop when auditing cost, count when comparing against Bench. */
object QueryTimer {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val reps = if (args.length > 2) args(2).toInt else 3
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val fn = graft.SparkEntry.queries(name)
    // process CPU per rep alongside wall (Bench's osBean trick): isolated
    // idle adjudications of a bench-record CPU drift need the subsidy-free
    // cpu-seconds, not just wall — wall hides scheduling/JIT effects that
    // only show up as burned CPU at equal wall
    val osBean = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    def cpuNanos(): Long = osBean match {
      case b: com.sun.management.OperatingSystemMXBean => b.getProcessCpuTime
      case _ => -1L
    }
    (0 to reps).foreach { i =>
      // fresh plan each rep; persisted intermediates are cleared so every
      // rep pays the full cost
      val c0 = cpuNanos()
      val t0 = System.nanoTime()
      val df = fn(spark, sfDir)
      val n =
        if (sys.env.get("SPARK_GRAFT_SINK").contains("noop")) {
          df.write.format("noop").mode("overwrite").save(); -1L
        } else df.count()
      val dt = (System.nanoTime() - t0) / 1e9
      val dc = if (c0 < 0) -1.0 else (cpuNanos() - c0) / 1e9
      println(f"rep=$i rows=$n time=$dt%.3f s cpu=$dc%.3f s" +
        (if (i == 0) " (warmup)" else ""))
      // managed queries defer cleanup handles per invocation
      // (SessionScope): the drain unpersists this rep's frames and keeps
      // the pending list from growing; clearCache drops everything else
      graft.core.SessionScope.drain(spark)
      spark.sharedState.cacheManager.clearCache()
    }
    spark.stop()
  }
}
