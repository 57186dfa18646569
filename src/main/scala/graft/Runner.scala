package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The one runner core the mains (Bench, Verify, QueryTimer, ExplainAudit)
  * parse their arguments over: one session, one warm-up, one query-name
  * resolver, one process-CPU clock and one measured action. A main that
  * builds its own session or clock drifts from the record it replays. */
object Runner {
  type Query = (SparkSession, String) => DataFrame

  /** `local[SPARK_GRAFT_CPUS]` (default 4), shuffle partitions = cpus,
    * UTC, UI off, log level WARN. */
  def session(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Bench's warm-up, run before any timed query. */
  def warmUp(spark: SparkSession, sfDir: String): Unit = {
    // session warmup: pay scheduler/codegen/IO init before the first timed
    // query instead of inside it; touch every input table so no timed query
    // pays first-footer/metadata reads (events via Tables' adaptive ts read)
    spark.range(1000000).selectExpr("sum(id)").collect()
    Seq("lineitem", "orders", "customer", "supplier", "part", "nation",
        "region", "documents", "embeddings").foreach { t =>
      // best-effort: a missing table must not abort the whole bench —
      // queries over it will individually report -1
      try spark.read.parquet(s"$sfDir/$t.parquet").limit(1).count()
      catch { case _: Throwable => () }
    }
    try graft.core.Tables.events(spark, sfDir).limit(1).count()
    catch { case _: Throwable => () }
    // warm the heavyweight exec paths (window, shuffle agg, broadcast join)
    // so their one-time codegen/exchange init doesn't land on whichever
    // query happens to run first
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    val t = spark.range(10000).select(col("id"), pmod(col("id"), lit(7)).as("k"))
    t.withColumn("rn", row_number().over(Window.partitionBy(col("k")).orderBy(col("id"))))
      .groupBy(col("k")).agg(sum(col("rn")))
      .join(broadcast(t.limit(5).withColumnRenamed("k", "k2")), col("k") === col("k2"))
      .count()
  }

  /** The named queries in the given order; no names means the whole
    * catalog in sorted name order (deterministic execution order keeps
    * per-query numbers comparable across rounds — Map order shifts as
    * keys are added). Throws listing every unknown name. */
  def resolve(names: Seq[String],
              queries: Map[String, Query] = SparkEntry.queries): Seq[(String, Query)] =
    if (names.isEmpty) queries.toSeq.sortBy(_._1)
    else {
      val unknown = names.filterNot(queries.contains)
      if (unknown.nonEmpty) throw new IllegalArgumentException(
        s"unknown query name(s): ${unknown.mkString(", ")}; names are " +
          "SparkEntry.queries keys (e.g. t16_bm25_retrieval)")
      names.map(n => n -> queries(n))
    }

  /** [[resolve]] over comma- or space-separated names from a main's
    * command line: an unknown name is a usage error, exit 2. */
  def resolveOrExit(args: Seq[String]): Seq[(String, Query)] =
    try resolve(args.flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty))
    catch { case e: IllegalArgumentException =>
      System.err.println(e.getMessage); sys.exit(2)
    }

  // process CPU time alongside wall time: cpu/wall per query exposes runs
  // polluted by OTHER processes (wall stretches, our cpu doesn't) even
  // when the pre-run load average looked clean — load_avg alone mis-
  // flagged a fast run in round 7
  private val osBean = java.lang.management.ManagementFactory.getOperatingSystemMXBean

  /** This process's CPU time in ns, -1 when the platform bean lacks it. */
  def cpuNanos(): Long = osBean match {
    case b: com.sun.management.OperatingSystemMXBean => b.getProcessCpuTime
    case _ => -1L
  }

  /** One measured run: the lambda, then the action — `count()` by default,
    * comparable with every prior round's recorded bench.
    * `SPARK_GRAFT_SINK=noop` instead writes to the noop sink, which keeps
    * each query's final sort and output-only projections in the measured
    * plan (count() lets Catalyst drop them, and join-eliminates a row-
    * preserving LEFT JOIN arm) — the honest absolute cost.
    *
    * Returns (wall s, process-CPU s), cpu -1 without the bean. A failed
    * run returns (-1, -1), NOT its time-to-failure: a breakage must stand
    * out, never read as a speedup. */
  def measure(spark: SparkSession, sfDir: String, fn: Query): (Double, Double) = {
    val c0 = cpuNanos()
    val t0 = System.nanoTime()
    try {
      val df = fn(spark, sfDir)
      if (sys.env.get("SPARK_GRAFT_SINK").contains("noop"))
        df.write.format("noop").mode("overwrite").save()
      else df.count()
      ((System.nanoTime() - t0) / 1e9, if (c0 < 0) -1.0 else (cpuNanos() - c0) / 1e9)
    } catch { case _: Throwable => (-1.0, -1.0) }
  }
}
