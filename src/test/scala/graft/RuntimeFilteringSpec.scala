package graft

import org.apache.spark.sql.functions._

/** The two runtime scan-reduction mechanisms a 100 TB deployment lives
  * on, proven to ENGAGE on this engine's plan shapes (BucketedJoinSpec's
  * companion — claims as tests, not prose):
  *
  *  - DYNAMIC PARTITION PRUNING: a fact table partitioned on the join
  *    key scans only the partitions the filtered dimension side selects
  *    — at 100 TB this is the difference between reading 30 days and
  *    reading one. Asserted two ways: the scan's partition filters carry
  *    the injected dynamic-pruning subquery, AND the post-execution scan
  *    metrics show fewer files read than the full layout holds.
  *
  *  - RUNTIME BLOOM FILTER: for joins on NON-partition columns, Catalyst
  *    injects a bloom_filter_might_contain probe built from the small
  *    (creation) side into the big (application) side's scan stage,
  *    discarding non-joining rows before the shuffle. Local tables sit
  *    under the size thresholds a real cluster would trip, so the
  *    thresholds are lowered explicitly — the assertion is that the
  *    rewrite fires on this plan SHAPE, which is size-independent.
  */
class RuntimeFilteringSpec extends SparkSuite {
  import spark.implicits._

  private def withSQLConf[A](pairs: (String, String)*)(f: => A): A = {
    val conf = spark.conf
    val olds = pairs.map { case (k, _) => k -> conf.getOption(k) }
    pairs.foreach { case (k, v) => conf.set(k, v) }
    try f
    finally olds.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None) => conf.unset(k)
    }
  }

  test("dynamic partition pruning: the fact scan reads only the dimension-selected days") {
    val sf = "/root/testdata/sf0.001"
    assume(new java.io.File(s"$sf/events.parquet").exists())
    // spec-owned fixture, but the same session-unique convention as the
    // query artifacts: a fixed tmpdir name would let a concurrent
    // session overwrite the layout between this write and the pruned read
    val path = graft.core.SessionScope.artifactPath(spark, "spec_dpp_events", sf)
    val ev = graft.core.Tables.events(spark, sf)
      .select(to_date($"ts").cast("string").as("day"), $"event_id", $"value")
    ev.write.mode("overwrite").partitionBy("day").parquet(path)
    val nDays = new java.io.File(path).listFiles()
      .count(_.getName.startsWith("day="))
    assert(nDays > 5, s"need a multi-day layout, got $nDays")
    // dimension side: a 2-day calendar slice with a selective filter
    val wanted = ev.select($"day").distinct().orderBy($"day").limit(2)
      .withColumn("flag", lit(1))
    wanted.write.mode("overwrite").parquet(path + "_dim")
    withSQLConf(
      "spark.sql.adaptive.enabled" -> "false",
      "spark.sql.optimizer.dynamicPartitionPruning.enabled" -> "true",
      // force the non-broadcast-reuse DPP path decision to still prune
      "spark.sql.optimizer.dynamicPartitionPruning.reuseBroadcastOnly" -> "false") {
      val fact = spark.read.parquet(path)
      val dim = spark.read.parquet(path + "_dim").filter($"flag" === 1)
      val q = fact.join(dim, Seq("day")).agg(count(lit(1)).as("n"))
      val planStr = q.queryExecution.executedPlan.toString()
      assert(planStr.contains("dynamicpruning"),
        s"no dynamic-pruning filter injected into the fact scan:\n$planStr")
      // and it actually pruned: the scan reports files for 2 days only
      q.collect()
      val scan = q.queryExecution.executedPlan.collectLeaves()
        .find(_.nodeName.contains("Scan parquet")).get
      val filesRead = scan.metrics("numFiles").value
      val totalFiles = new java.io.File(path).listFiles()
        .filter(_.getName.startsWith("day=")).map(_.listFiles()
          .count(_.getName.startsWith("part-"))).sum
      assert(filesRead < totalFiles,
        s"scan read all $totalFiles files — DPP did not prune")
    }
  }

  test("runtime bloom filter: a selective dim join injects a bloom probe into the fact scan") {
    val sf = "/root/testdata/sf0.001"
    assume(new java.io.File(s"$sf/lineitem.parquet").exists())
    withSQLConf(
      "spark.sql.adaptive.enabled" -> "false",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1", // force a shuffle join
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      // local tables are tiny; drop the size gates so the rewrite's
      // SHAPE test (selective creation side, join on non-partition col)
      // is what decides — at 100 TB the defaults pass on their own
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" -> "100MB") {
      val li = graft.core.Tables.lineitem(spark, sf)
        .select($"l_orderkey", $"l_quantity")
      val sel = graft.core.Tables.orders(spark, sf)
        .filter($"o_totalprice" > 300000) // selective creation side
        .select($"o_orderkey")
      val q = li.join(sel, $"l_orderkey" === $"o_orderkey")
        .agg(count(lit(1)).as("n"))
      val planStr = q.queryExecution.executedPlan.toString()
      // the injected probe prints as might_contain(<subquery>) over the
      // application scan, built by bloom_filter_agg on the creation side
      assert(planStr.contains("might_contain") &&
          planStr.contains("bloom_filter_agg"),
        s"no runtime bloom filter injected:\n$planStr")
      // the probe must not change the answer
      val withF = q.collect().head.getLong(0)
      val without = withSQLConf(
        "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "false") {
        li.join(sel, $"l_orderkey" === $"o_orderkey")
          .agg(count(lit(1))).collect().head.getLong(0)
      }
      assert(withF == without, s"bloom-filtered count $withF != $without")
    }
  }
}
