package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Table access for the harness parquet tables (TESTDATA.md).
  *
  * At 100 TB these reads are partitioned parquet scans; all queries built on
  * top rely on Catalyst pushing filters/projections into the scan
  * (`PushedFilters` / `ReadSchema`), so nothing here materializes data.
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Analyzed-DataFrame handle per (session, path), memoized in
    * [[SessionScope]]: the local analog of a catalog/metastore caching
    * file indexes and schemas. Without it every query re-lists the
    * directory and re-reads parquet footers — tens of redundant driver
    * round-trips per Bench/Verify sweep, and at scale a listing storm
    * against the object store. DataFrames are immutable, so reuse within
    * a session is safe; harness tables are static, and a caller that
    * rewrites a table path mid-session evicts the session's scope. */
  def table(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    // Once-per-session engine invariants, set before the first footer
    // read (the first `table` call necessarily precedes any read):
    //  - nanosAsLong lets the vectorized reader accept TIMESTAMP(NANOS)
    //    encodings of events.ts (see `events` below);
    //  - session TZ pinned to UTC makes the TimestampNTZ→Timestamp cast
    //    in `events` value-preserving REGARDLESS of which entry point
    //    built the session (Bench historically didn't pin it) — the
    //    cross-engine parity contract (CLAUDE.md) assumes UTC
    //    throughout, so it is enforced here, where the cast lives.
    SessionScope.memo(spark, "", "tables.conf") {
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      spark.conf.set("spark.sql.session.timeZone", "UTC")
    }
    SessionScope.memo(spark, sfDir, "table." + name)(
      spark.read.parquet(s"$sfDir/$name.parquet"))
  }

  def region(spark: SparkSession, d: String): DataFrame    = table(spark, d, "region")
  def nation(spark: SparkSession, d: String): DataFrame    = table(spark, d, "nation")
  def customer(spark: SparkSession, d: String): DataFrame  = table(spark, d, "customer")
  def supplier(spark: SparkSession, d: String): DataFrame  = table(spark, d, "supplier")
  def part(spark: SparkSession, d: String): DataFrame      = table(spark, d, "part")
  def orders(spark: SparkSession, d: String): DataFrame    = table(spark, d, "orders")
  def lineitem(spark: SparkSession, d: String): DataFrame  = table(spark, d, "lineitem")
  /** Schema-adaptive read of `events.ts` — the harness has regenerated this
    * file across rounds with different physical timestamp encodings, so the
    * read dispatches on the dtype Spark actually infers:
    *
    *  - TIMESTAMP(NANOS): Spark's vectorized reader rejects it; with the
    *    legacy nanos-as-long conf it arrives as LongType → floor-convert to
    *    microseconds (the truncation DuckDB applies to the same file).
    *  - TIMESTAMP(MICROS, isAdjustedToUTC=false): arrives as
    *    TimestampNTZType → cast to TimestampType. The session TZ is pinned
    *    to UTC by `table`'s per-session init above (not merely assumed from
    *    the caller's builder), so the cast is value-preserving and downstream code
    *    (`unix_micros`, `window`, NTZ output casts) is identical either way;
    *    DuckDB reads the same file natively, so oracle parity holds.
    *  - TimestampType: pass through.
    */
  def events(spark: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
    import org.apache.spark.sql.types.{LongType, TimestampNTZType}
    val raw = table(spark, d, "events")
    raw.schema("ts").dataType match {
      case LongType =>
        raw.withColumn("ts", timestamp_micros(expr("CAST(ts AS BIGINT) DIV 1000")))
      case TimestampNTZType =>
        raw.withColumn("ts", col("ts").cast("timestamp"))
      case _ => raw
    }
  }
  def documents(spark: SparkSession, d: String): DataFrame = table(spark, d, "documents")
  def embeddings(spark: SparkSession, d: String): DataFrame = table(spark, d, "embeddings")

  /** Spread a scan to cluster parallelism ONLY when it arrives narrower —
    * the local test corpus is a single parquet row group, so every
    * per-row-expensive map (md5 window hashing, wordcounts) downstream of
    * a bare scan would otherwise run in ONE task. The check is runtime:
    * on a real deployment the scan already has thousands of splits, the
    * branch is not taken, and the plan contains NO exchange — unlike an
    * unconditional repartition, which at 100 TB would shuffle the full
    * corpus text to fix a problem that only exists at toy scale. */
  def spread(spark: SparkSession, df: DataFrame): DataFrame = {
    val par = spark.sparkContext.defaultParallelism
    if (probePartitions(spark, df) < par) df.repartition(par) else df
  }

  /** Partition count of `df`'s scan, memoized per (session, canonical plan).
    * The probe (`df.rdd`) builds a physical plan on the driver — no job, but
    * repeated per-call planning showed up as avoidable driver work when the
    * same spread() input recurs across a 118-query sweep. Canonical-plan
    * keying makes structurally identical inputs (e.g. the same filter over a
    * cached table handle, rebuilt each call) hit the memo; harness inputs
    * are static files, so a memoized count stays valid for the session. */
  private def probePartitions(spark: SparkSession, df: DataFrame): Int =
    SessionScope.memo(spark, "", df.queryExecution.logical.canonicalized)(
      df.rdd.getNumPartitions)
}
