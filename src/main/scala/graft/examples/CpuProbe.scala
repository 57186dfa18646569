package graft.examples

import org.apache.spark.sql.SparkSession

/** Bench-context replay for drift adjudication: run a comma-separated
  * list of SparkEntry queries IN ORDER with Bench's semantics — no cache
  * clearing between queries, count() action, per-query wall and process
  * CPU — so a committed record's per-query number can be reproduced with
  * exactly the cache-subsidy context it had in the catalog sweep (a
  * query after siblings that persist shared frames runs subsidized;
  * QueryTimer's cleared reps measure the subsidy-FREE cost — the r15/r16
  * g07 adjudication needed both).
  *
  * `runMain graft.examples.CpuProbe q1,q2,... [sfDir] [reps]` — reps
  * repeats the WHOLE sequence (min per query per metric, Bench's rule);
  * caches persist across reps exactly as they do across a catalog rep.
  */
object CpuProbe {
  def main(args: Array[String]): Unit = {
    if (args.isEmpty || args(0).split(",").forall(_.trim.isEmpty)) {
      System.err.println(
        "usage: runMain graft.examples.CpuProbe q1,q2,... [sfDir] [reps]")
      sys.exit(2)
    }
    val names = args(0).split(",").map(_.trim).filter(_.nonEmpty)
    val unknown = names.filterNot(graft.SparkEntry.queries.contains)
    if (unknown.nonEmpty) {
      System.err.println(
        s"unknown query name(s): ${unknown.mkString(", ")} — names are " +
          "SparkEntry.queries keys (e.g. t16_bm25_retrieval)")
      sys.exit(2)
    }
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val reps = if (args.length > 2) args(2).toInt else 1
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val osBean = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    def cpuNanos(): Long = osBean match {
      case b: com.sun.management.OperatingSystemMXBean => b.getProcessCpuTime
      case _ => -1L
    }
    // session warmup (Bench's): pay codegen/scheduler init up front
    spark.range(1000000).selectExpr("sum(id)").collect()
    val acc = scala.collection.mutable.Map[String, (Double, Double)]()
    (1 to reps).foreach { rep =>
      names.foreach { name =>
        val c0 = cpuNanos()
        val t0 = System.nanoTime()
        val n = graft.SparkEntry.queries(name)(spark, sfDir).count()
        val dt = (System.nanoTime() - t0) / 1e9
        val dc = if (c0 < 0) -1.0 else (cpuNanos() - c0) / 1e9
        println(f"rep=$rep $name%-28s rows=$n%-8d wall=$dt%7.3f s cpu=$dc%8.3f s")
        val (w0, p0) = acc.getOrElse(name, (Double.MaxValue, Double.MaxValue))
        // a -1 cpu sentinel (no com.sun bean) must not win the min fold
        acc(name) = (math.min(w0, dt), if (dc < 0) p0 else math.min(p0, dc))
        // mirror Bench's post-query drain of deferred cleanup handles
        // (SessionScope) so replayed context matches the record's
        graft.core.SessionScope.drain(spark)
      }
    }
    println("--- min per query (Bench's rule) ---")
    names.foreach { n =>
      val (w, c) = acc(n)
      val cpuTxt = if (c == Double.MaxValue) "     n/a" else f"$c%8.3f s"
      println(f"$n%-28s wall=$w%7.3f s cpu=$cpuTxt")
    }
    spark.stop()
  }
}
