package graft.examples

import java.util.concurrent.atomic.LongAdder

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.GraftShims

import graft.Runner

/** Isolated per-query cost: `runMain graft.examples.QueryTimer
  * <q1,q2,...> [sfDir] [reps]` times each named query (the runner core's
  * measured action) once as a warm-up rep and then `reps` more times,
  * printing each rep. For hotspot work where the full Bench sweep is too
  * coarse.
  *
  * The cache is cleared after EVERY rep, so each rep pays the full,
  * subsidy-free cost — except the Checkpointed memo frames
  * (`SessionScope.frame`), which survive the clear by design: rep 0 of
  * the first listed query that needs them carries the shared builds,
  * later reps price the query's marginal cost on top of them.
  * Each rep line also prints the rep's shuffle write and read MB, summed
  * by one task-end listener that is drained after the rep, outside its
  * timing. Shuffle WRITE counts each exchanged byte once at its producer,
  * so it is the cleanest "how much data crossed the cluster" measure;
  * read can exceed write when an exchange feeds several consumers
  * (reuse) or retries.
  *
  * `SPARK_GRAFT_SINK=noop` materializes EVERY column through the noop
  * writer instead (mirrors Bench's knob). count() lets Catalyst prune
  * whatever the row count doesn't need — in particular a query whose
  * expensive arm feeds a row-preserving LEFT JOIN (d18: the entire span
  * pipeline) gets join-eliminated and the timing measures a husk. Use
  * noop when auditing cost or shuffle bytes, count when comparing against
  * Bench. */
object QueryTimer {
  def main(args: Array[String]): Unit = {
    val queries = Runner.resolveOrExit(args.take(1).toSeq)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val reps = if (args.length > 2) args(2).toInt else 3
    val spark = Runner.session()
    val read = new LongAdder; val written = new LongAdder
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
        val m = t.taskMetrics
        if (m != null) {
          read.add(m.shuffleReadMetrics.totalBytesRead)
          written.add(m.shuffleWriteMetrics.bytesWritten)
        }
      }
    })
    for ((name, fn) <- queries; i <- 0 to reps) {
      read.reset(); written.reset()
      val (dt, dc) = Runner.measure(spark, sfDir, fn)
      GraftShims.drainListeners(spark.sparkContext)
      println(f"$name%-28s rep=$i time=$dt%.3f s cpu=$dc%.3f s " +
        f"shuffle_w=${written.sum / 1e6}%.2f MB shuffle_r=${read.sum / 1e6}%.2f MB" +
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
