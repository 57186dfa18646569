package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSuite

/** The Z-order layout's claims as measurements: the Morton interleave is
  * the bijection it must be, and the written z-clustered files actually
  * SKIP row groups under a two-sided predicate where a single-column
  * layout cannot — asserted from the parquet scan's own numOutputRows
  * metric, not from plan text. */
class ZOrderSpec extends SparkSuite {
  import spark.implicits._

  test("interleave: hand-computed Morton codes, bijective on the 16x16 grid") {
    val df = spark.range(256)
      .select(($"id" % 16).cast("int").as("x"), ($"id" / 16).cast("int").as("y"))
      .withColumn("z", ZOrder.interleave($"x", $"y", 4))
    val rows = df.collect().map(r => (r.getInt(0), r.getInt(1), r.getInt(2)))
    // x=3 (0011), y=5 (0101): z bits = x0 + y0<<1 + x1<<2 + y1<<3 + x2<<4
    //   + y2<<5 + ... = 1 + 2 + 4 + 0 + 0 + 32 = 39
    assert(rows.find(r => r._1 == 3 && r._2 == 5).get._3 == 39)
    // x=15, y=0 → even bits set: 1+4+16+64 = 85; y=15, x=0 → odd: 170
    assert(rows.find(r => r._1 == 15 && r._2 == 0).get._3 == 85)
    assert(rows.find(r => r._1 == 0 && r._2 == 15).get._3 == 170)
    // a space-filling curve is a bijection onto [0, 256)
    assert(rows.map(_._3).distinct.length == 256)
    assert(rows.forall(r => r._3 >= 0 && r._3 < 256))
  }

  test("z-clustered files skip row groups on a two-sided filter; an x-sorted layout reads everything for y") {
    val sf = "/root/testdata/sf0.01"
    assume(new java.io.File(s"$sf/lineitem.parquet").exists())
    // (re)write the z-clustered files exactly as c22 lays them out
    graft.ext.Curation.queries("c22_zorder_layout")(spark, sf).collect()
    val zpath = graft.core.SessionScope.artifactPath(spark, "c22_zorder", sf)
    val total = spark.read.parquet(zpath).count()
    // post-execution scan metric: rows SURVIVING parquet row-group
    // pruning (pushed min/max stats), before Spark's residual Filter
    def scannedRows(df: DataFrame): Long = {
      df.collect()
      df.queryExecution.executedPlan.collectLeaves()
        .filter(_.nodeName.contains("Scan parquet"))
        .map(_.metrics("numOutputRows").value).sum
    }
    // two-sided box predicate: only the (x<64, y<64) corner cell's file
    // has min/max stats overlapping it — everything else must be skipped
    val zrows = scannedRows(
      spark.read.parquet(zpath).filter($"x" < 16 && $"y" < 16))
    assert(zrows < total / 4,
      s"z-layout scanned $zrows of $total rows — row-group skipping did not engage")
    // the single-column contrast: the same rows laid out as x-stripes;
    // every stripe spans the full y range, so a y-only filter can skip
    // nothing and the scan reads (essentially) the whole table
    val lpath = zpath + "_linear"
    spark.read.parquet(zpath)
      .select($"l_orderkey", $"l_linenumber", $"x", $"y")
      .withColumn("stripe", expr("CAST(x div 16 AS INT)"))
      .repartition(col("stripe")).sortWithinPartitions($"x")
      .write.mode("overwrite").partitionBy("stripe").parquet(lpath)
    val lrows = scannedRows(
      spark.read.parquet(lpath).filter($"y" < 16))
    assert(lrows > (total * 3) / 4,
      s"x-striped layout unexpectedly skipped for a y filter ($lrows of $total)")
  }
}
