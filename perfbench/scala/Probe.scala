package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Per-layer counters and spans. With `tracing` off it records nothing but
  * the query windows the workloads always time, and registers no listener,
  * so an untraced run pays none of the cost it measures.
  *
  * Listener events carry their own epoch-millisecond timestamps; each is
  * attributed to the query window (or the timed phase) its timestamp falls
  * in, so asynchronous delivery cannot misattribute it. */
final class Probe(spark: SparkSession, val tracing: Boolean) {
  private val sc = spark.sparkContext
  private def now(): Long = System.currentTimeMillis()

  /** A catalyst phase of one planned query, from `QueryPlanningTracker`. */
  private final case class PhaseEv(phase: String, startMs: Long, endMs: Long)
  private final case class JobEv(id: Int, startMs: Long, var endMs: Long)
  private final case class TaskEv(endMs: Long, cpuNs: Long, runMs: Long,
      shWrite: Long, shRead: Long, spill: Long)

  private val phases = new ConcurrentLinkedQueue[PhaseEv]()
  private val jobs = new java.util.concurrent.ConcurrentHashMap[Int, JobEv]()
  private val tasks = new ConcurrentLinkedQueue[TaskEv]()
  private val stages = new ConcurrentLinkedQueue[java.lang.Long]()
  val spans = new ConcurrentLinkedQueue[Map[String, Any]]()

  if (tracing) {
    spark.listenerManager.register(new QueryExecutionListener {
      private def record(qe: QueryExecution): Unit =
        qe.tracker.phases.foreach { case (name, s) =>
          phases.add(PhaseEv(name, s.startTimeMs, s.endTimeMs))
        }
      override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit = record(qe)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = record(qe)
    })
    sc.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.put(e.jobId, JobEv(e.jobId, e.time, -1L))
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        stages.add(java.lang.Long.valueOf(e.stageInfo.completionTime.getOrElse(now())))
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Option(e.taskMetrics).foreach { m =>
        tasks.add(TaskEv(e.taskInfo.finishTime, m.executorCpuTime, m.executorRunTime,
          m.shuffleWriteMetrics.bytesWritten, m.shuffleReadMetrics.totalBytesRead,
          m.diskBytesSpilled))
      }
    })
  }

  // ------------------------------------------------------------ catalog

  private final class Q(val id: Int, val name: String, val module: String) {
    var startMs, lambdaEndMs, endMs = 0L
    var startNs, lambdaEndNs, endNs = 0L
    var compile0, compile1, compile2 = 0L
    var compiles0, compiles2 = 0L
    var newPersisted = 0
    var persisted0: Set[Int] = Set.empty
  }
  private val queries = mutable.ArrayBuffer.empty[Q]
  private var phaseStartMs, phaseEndMs = 0L
  private var compilePhase0, compilesPhase0, compilePhase1, compilesPhase1 = 0L
  private var storageMemMb = 0.0

  private def compileNs(): Long = CodeGenerator.compileTime
  private def compiles(): Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  def phaseBegin(): Unit = {
    phaseStartMs = now()
    compilePhase0 = compileNs(); compilesPhase0 = compiles()
  }
  def phaseEnd(): Unit = {
    phaseEndMs = now()
    compilePhase1 = compileNs(); compilesPhase1 = compiles()
    if (tracing) storageMemMb = sc.getRDDStorageInfo.map(_.memSize).sum / 1048576.0
  }

  def queryBegin(name: String, module: String): Int = {
    val q = new Q(queries.size, name, module)
    if (tracing) {
      q.persisted0 = sc.getPersistentRDDs.keySet.toSet
      q.compile0 = compileNs(); q.compiles0 = compiles()
    }
    q.startMs = now(); q.startNs = System.nanoTime()
    queries += q
    q.id
  }
  def lambdaEnd(id: Int): Unit = {
    val q = queries(id)
    q.lambdaEndNs = System.nanoTime(); q.lambdaEndMs = now()
    if (tracing) q.compile1 = compileNs()
  }
  def queryEnd(id: Int): Unit = {
    val q = queries(id)
    q.endNs = System.nanoTime(); q.endMs = now()
    if (q.lambdaEndNs == 0L) { q.lambdaEndNs = q.endNs; q.lambdaEndMs = q.endMs; q.compile1 = compileNs() }
    if (tracing) {
      q.compile2 = compileNs(); q.compiles2 = compiles()
      q.newPersisted = (sc.getPersistentRDDs.keySet.toSet -- q.persisted0).size
    }
  }

  // ------------------------------------------------------------ streaming

  /** Record a span: `kind` names the layer boundary, `id` groups the spans
    * of one batch or query, `parent` names the span that caused it. */
  def span(kind: String, id: Long, parent: String, startNs: Long, endNs: Long,
      attrs: Map[String, Any] = Map.empty): Unit =
    if (tracing) spans.add(Map("kind" -> kind, "id" -> id, "parent" -> parent,
      "start_ns" -> startNs, "end_ns" -> endNs, "dur_ms" -> (endNs - startNs) / 1e6) ++ attrs)

  // ------------------------------------------------------------ results

  private def within(t: Long, a: Long, b: Long): Boolean = t >= a && t <= b

  /** Total length of the union of `[s, e]` intervals clipped to `[a, b]`. */
  private def unionMs(iv: Seq[(Long, Long)], a: Long, b: Long): Long = {
    val clipped = iv.map { case (s, e) => (s.max(a), e.min(b)) }.filter(x => x._2 > x._1).sortBy(_._1)
    var total, curS, curE = 0L
    var open = false
    clipped.foreach { case (s, e) =>
      if (!open) { curS = s; curE = e; open = true }
      else if (s <= curE) curE = curE.max(e)
      else { total += curE - curS; curS = s; curE = e }
    }
    if (open) total += curE - curS
    total
  }

  private def phaseSum(name: String, a: Long, b: Long): Double =
    phases.asScala.filter(p => p.phase == name && within(p.startMs, a, b))
      .map(p => p.endMs - p.startMs).sum / 1e3

  /** Per-layer totals over the timed phase plus, per query, the split of
    * its wall into lambda + action and of the action into catalyst +
    * compile + job + residual. */
  def finish(): Map[String, Any] = {
    if (!tracing) return Map.empty
    org.apache.spark.sql.GraftShims.drainListeners(sc)
    val (a, b) = (phaseStartMs, if (phaseEndMs > 0) phaseEndMs else now())
    val jobIv = jobs.values.asScala.toSeq.map(j => (j.startMs, if (j.endMs < 0) b else j.endMs))
    val inPhaseTasks = tasks.asScala.filter(t => within(t.endMs, a, b)).toSeq
    val perQuery = queries.toSeq.map { q =>
      val cat = Seq("analysis", "optimization", "planning")
        .map(p => p -> phaseSum(p, q.lambdaEndMs, q.endMs)).toMap
      val lambdaS = (q.lambdaEndNs - q.startNs) / 1e9
      val actionS = (q.endNs - q.lambdaEndNs) / 1e9
      val compileS = (q.compile2 - q.compile1) / 1e9
      val jobS = unionMs(jobIv, q.lambdaEndMs, q.endMs) / 1e3
      val qt = inPhaseTasks.filter(t => within(t.endMs, q.startMs, q.endMs))
      Map(
        "id" -> q.id, "name" -> q.name, "module" -> q.module,
        "wall_s" -> (lambdaS + actionS), "lambda_s" -> lambdaS, "action_s" -> actionS,
        "lambda_compile_s" -> (q.compile1 - q.compile0) / 1e9,
        "lambda_catalyst_s" -> Seq("analysis", "optimization", "planning")
          .map(p => phaseSum(p, q.startMs, q.lambdaEndMs)).sum,
        "action_catalyst_s" -> cat.values.sum, "action_compile_s" -> compileS,
        "action_job_s" -> jobS,
        "action_residual_s" -> (actionS - cat.values.sum - compileS - jobS),
        "compile_s" -> (q.compile2 - q.compile0) / 1e9,
        "compiles" -> (q.compiles2 - q.compiles0),
        "jobs" -> jobIv.count(j => within(j._1, q.startMs, q.endMs)),
        "tasks" -> qt.size,
        "shuffle_write_mb" -> qt.map(_.shWrite).sum / 1048576.0,
        "new_persisted_rdds" -> q.newPersisted)
    }
    val layers = Map[String, Any](
      "spark.catalyst.analysis_s" -> phaseSum("analysis", a, b),
      "spark.catalyst.optimization_s" -> phaseSum("optimization", a, b),
      "spark.catalyst.planning_s" -> phaseSum("planning", a, b),
      "spark.codegen.compile_s" -> (compilePhase1 - compilePhase0) / 1e9,
      "spark.codegen.compiles" -> (compilesPhase1 - compilesPhase0),
      "spark.exec.jobs" -> jobIv.count(j => within(j._1, a, b)),
      "spark.exec.stages" -> stages.asScala.count(t => within(t, a, b)),
      "spark.exec.tasks" -> inPhaseTasks.size,
      "spark.exec.job_s" -> unionMs(jobIv, a, b) / 1e3,
      "spark.exec.task_cpu_s" -> inPhaseTasks.map(_.cpuNs).sum / 1e9,
      "spark.exec.task_run_s" -> inPhaseTasks.map(_.runMs).sum / 1e3,
      "spark.shuffle.write_mb" -> inPhaseTasks.map(_.shWrite).sum / 1048576.0,
      "spark.shuffle.read_mb" -> inPhaseTasks.map(_.shRead).sum / 1048576.0,
      "spark.spill.disk_mb" -> inPhaseTasks.map(_.spill).sum / 1048576.0,
      "spark.storage.new_persisted_rdds" -> queries.map(_.newPersisted).sum,
      "spark.storage.mem_mb" -> storageMemMb)
    queries.foreach { q =>
      span("lambda", q.id, "query", q.startNs, q.lambdaEndNs, Map("name" -> q.name))
      span("action", q.id, "query", q.lambdaEndNs, q.endNs, Map("name" -> q.name))
    }
    perQuery.foreach(q => spans.add(q ++ Map("kind" -> "query")))
    Map("layers" -> layers, "trace_queries" -> perQuery)
  }
}
