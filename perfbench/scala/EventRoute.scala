package perfbench

import java.time.Instant
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.locks.LockSupport

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.types._

import graft.core.{EngineConfig, EventSchemaRegistry}
import graft.produce.Emitter
import graft.route.RouteRegistry

/** The reference's consume -> route -> transform -> produce loop on a
  * `MemoryStream`: enveloped JSON events routed by `(topic, code)` through
  * `RouteRegistry.start`, each handler re-emitting through `Emitter.emit`
  * in `onlyTesting` mode, malformed values going to a DLQ topic.
  *
  * Phase 1 offers events open-loop at a fixed rate and times each event
  * from its due send time to the end of the micro-batch that covered it.
  * Phase 2 offers a fixed backlog at once and times its drain. */
object EventRoute {
  final case class Ev(id: Long, topic: String, code: String, value: String, malformed: Boolean)

  /** A route under test: topics, event codes (empty = global listener) and
    * the projection its handler emits. */
  final case class R(idx: Int, topics: Seq[String], codes: Seq[String], project: DataFrame => DataFrame) {
    def outTopic: String = s"out.r$idx"
    def matches(e: Ev): Boolean =
      !e.malformed && topics.contains(e.topic) && (codes.isEmpty || codes.contains(e.code))
  }

  val Dlq = "perfbench.dlq"
  /** The reference's load test sends to four topics, topic-a..topic-d; the
    * three codes per topic are this benchmark's own. */
  val Codes: Map[String, Seq[String]] = Map(
    "topic-a" -> Seq("UserCreated", "UserUpdated", "UserDeleted"),
    "topic-b" -> Seq("FriendAdded", "FriendRemoved", "FriendInvited"),
    "topic-c" -> Seq("BalanceCredited", "BalanceDebited", "BalanceFrozen"),
    "topic-d" -> Seq("TagAdded", "TagRemoved", "TagRenamed"))
  /** Codes no schema and no code-specific route knows. */
  val Unknown: Map[String, String] = Map("topic-a" -> "UserMerged",
    "topic-b" -> "FriendBlocked", "topic-c" -> "BalanceAudited", "topic-d" -> "TagArchived")
  val Topics: Seq[String] = Seq("topic-a", "topic-b", "topic-c", "topic-d")

  val Routes: Seq[R] = Seq(
    R(0, Seq("topic-a"), Seq("UserCreated"), _.select(col("id"), size(col("data")).as("records"))),
    R(1, Seq("topic-a"), Seq("UserUpdated", "UserDeleted"),
      _.select(col("id"), size(flatten(col("data.friends"))).as("friends"))),
    R(2, Seq("topic-b"), Nil, _.select(col("id"), array_max(col("data.age")).as("max_age"))),
    R(3, Seq("topic-c"), Seq("BalanceCredited"),
      _.select(col("id"), round(aggregate(col("data"), lit(0.0),
        (acc, p) => acc + regexp_replace(p("balance"), "[$,]", "").cast("double")), 2).as("total"))),
    R(4, Seq("topic-c", "topic-d"), Nil,
      _.select(col("id"), element_at(col("data"), 1)("name").as("first_name"),
        size(filter(col("data"), p => p("isActive"))).as("active"))),
    R(5, Seq("topic-d"), Seq("TagAdded", "TagRenamed"),
      _.select(col("id"), size(array_distinct(flatten(col("data.tags")))).as("distinct_tags"))))

  /** The reference load test's message: `{id, last, data: [person]}` with
    * the person record of its fixture (FIXTURES.md section 4). */
  val Message: StructType = StructType(Seq(
    StructField("id", LongType), StructField("last", BooleanType),
    StructField("data", ArrayType(StructType(Seq(
      StructField("_id", StringType), StructField("index", LongType),
      StructField("guid", StringType), StructField("isActive", BooleanType),
      StructField("balance", StringType), StructField("picture", StringType),
      StructField("age", LongType), StructField("eyeColor", StringType),
      StructField("name", StringType), StructField("gender", StringType),
      StructField("company", StringType), StructField("email", StringType),
      StructField("phone", StringType), StructField("address", StringType),
      StructField("about", StringType), StructField("registered", StringType),
      StructField("latitude", DoubleType), StructField("longitude", DoubleType),
      StructField("tags", ArrayType(StringType)),
      StructField("friends", ArrayType(StructType(Seq(
        StructField("id", LongType), StructField("name", StringType))))),
      StructField("greeting", StringType), StructField("favoriteFruit", StringType)))))))

  def schemas: EventSchemaRegistry = {
    val reg = new EventSchemaRegistry
    Codes.values.flatten.foreach(reg.register(_, Message))
    reg
  }

  private val Lorem = ("lorem ipsum dolor sit amet consectetur adipiscing elit sed do eiusmod tempor " +
    "incididunt ut labore et dolore magna aliqua enim ad minim veniam quis nostrud exercitation " +
    "ullamco laboris nisi aliquip ex ea commodo consequat duis aute irure in reprehenderit").split(' ')
  private val First = "Mae Leon Rita Hugo Alma Ezra Nina Otis Cora Ivan Lena Seth".split(' ')
  private val Last = "Vega Holt Park Reyes Nash Cole Ford Wade Lowe Snow Moss Kirk".split(' ')
  private val Fruits = Array("apple", "banana", "strawberry")
  private val Eyes = Array("blue", "brown", "green")

  /** Seeded event generator. Each message is the reference load test's
    * `{id, last, data: [person]}` plus the envelope fields, cut from its
    * ~200 records to 1-32 (1 to about 37 KB). The seed sets the topic mix,
    * how unevenly the codes occur, and the shares of unknown codes and of
    * malformed values, and draws each message's size; perfbench/NOTE.md gives the
    * source of each parameter, or says it is assumed. */
  final class Gen(seed: Long) {
    private val rnd = new scala.util.Random(seed)
    private val topicW = {
      val w = Topics.map(_ => 0.75 + 0.5 * rnd.nextDouble())
      w.map(_ / w.sum)
    }
    private val skew = 0.6 + 0.8 * rnd.nextDouble()
    private val codeW: Map[String, Seq[(String, Double)]] = Codes.map { case (t, cs) =>
      val ranked = rnd.shuffle(cs)
      val w = ranked.indices.map(i => 1.0 / math.pow(i + 1, skew))
      t -> ranked.zip(w.map(_ / w.sum))
    }
    val unknownShare: Double = 0.01 + 0.04 * rnd.nextDouble()
    val malformedShare: Double = 0.01 + 0.04 * rnd.nextDouble()
    val mix: Map[String, Any] = Map("topic_weights" -> topicW, "code_skew" -> skew,
      "unknown_share" -> unknownShare, "malformed_share" -> malformedShare)

    private def pick[T](ws: Seq[(T, Double)]): T = {
      var u = rnd.nextDouble()
      ws.find { case (_, w) => u -= w; u < 0 }.getOrElse(ws.last)._1
    }
    private def hex(sb: StringBuilder, n: Int): Unit =
      (0 until n).foreach(_ => sb.append(Character.forDigit(rnd.nextInt(16), 16)))
    private def words(sb: StringBuilder, n: Int): Unit =
      (0 until n).foreach { i => if (i > 0) sb.append(' '); sb.append(Lorem(rnd.nextInt(Lorem.length))) }
    /** `n` zero-padded to `width` digits. */
    private def pad(sb: StringBuilder, n: Int, width: Int): Unit = {
      val d = n.toString
      (d.length until width).foreach(_ => sb.append('0'))
      sb.append(d)
    }
    private def str(sb: StringBuilder, k: String)(v: => Unit): Unit = {
      sb.append("\"").append(k).append("\":\""); v; sb.append("\",")
    }

    /** One person record in the field order of the reference's fixture. */
    private def person(sb: StringBuilder, index: Int): Unit = {
      val name = s"${First(rnd.nextInt(First.length))} ${Last(rnd.nextInt(Last.length))}"
      val company = Lorem(rnd.nextInt(Lorem.length)).toUpperCase
      sb.append('{')
      str(sb, "_id")(hex(sb, 24))
      sb.append("\"index\":").append(index).append(',')
      str(sb, "guid") { hex(sb, 8); sb.append('-'); hex(sb, 4); sb.append('-'); hex(sb, 4)
        sb.append('-'); hex(sb, 4); sb.append('-'); hex(sb, 12) }
      sb.append("\"isActive\":").append(rnd.nextBoolean()).append(',')
      val cents = 100000 + rnd.nextInt(300000)
      str(sb, "balance") { sb.append('$').append(cents / 100000).append(',')
        pad(sb, cents / 100 % 1000, 3); sb.append('.'); pad(sb, cents % 100, 2) }
      str(sb, "picture")(sb.append("http://placehold.it/32x32"))
      sb.append("\"age\":").append(20 + rnd.nextInt(21)).append(',')
      str(sb, "eyeColor")(sb.append(Eyes(rnd.nextInt(3))))
      str(sb, "name")(sb.append(name))
      str(sb, "gender")(sb.append(if (rnd.nextBoolean()) "female" else "male"))
      str(sb, "company")(sb.append(company))
      str(sb, "email")(sb.append(name.replace(' ', '.').toLowerCase).append('@')
        .append(company.toLowerCase).append(".com"))
      str(sb, "phone") { sb.append("+1 (").append(800 + rnd.nextInt(200)).append(") ")
        .append(100 + rnd.nextInt(900)).append('-'); pad(sb, rnd.nextInt(10000), 4) }
      str(sb, "address")(sb.append(100 + rnd.nextInt(900)).append(' ').append(Last(rnd.nextInt(Last.length)))
        .append(" Street, ").append(Lorem(rnd.nextInt(Lorem.length))).append(", Ohio, ").append(1000 + rnd.nextInt(9000)))
      str(sb, "about")(words(sb, 40 + rnd.nextInt(41)))
      str(sb, "registered") { sb.append("20").append(14 + rnd.nextInt(8)).append('-'); pad(sb, 1 + rnd.nextInt(12), 2)
        sb.append('-'); pad(sb, 1 + rnd.nextInt(28), 2); sb.append('T'); pad(sb, rnd.nextInt(24), 2)
        sb.append(':'); pad(sb, rnd.nextInt(60), 2); sb.append(':'); pad(sb, rnd.nextInt(60), 2); sb.append(" +03:00") }
      sb.append("\"latitude\":").append(rnd.nextInt(180000000) / 1e6 - 90).append(',')
      sb.append("\"longitude\":").append(rnd.nextInt(360000000) / 1e6 - 180).append(',')
      sb.append("\"tags\":[")
      (0 until 7).foreach { i => if (i > 0) sb.append(','); sb.append('"').append(Lorem(rnd.nextInt(Lorem.length))).append('"') }
      sb.append("],\"friends\":[")
      (0 until 3).foreach { i =>
        if (i > 0) sb.append(',')
        sb.append("{\"id\":").append(i).append(",\"name\":\"")
          .append(First(rnd.nextInt(First.length))).append(' ').append(Last(rnd.nextInt(Last.length))).append("\"}")
      }
      sb.append("],")
      str(sb, "greeting")(sb.append(s"Hello, $name! You have ${1 + rnd.nextInt(10)} unread messages."))
      sb.append("\"favoriteFruit\":\"").append(Fruits(rnd.nextInt(3))).append("\"}")
    }

    /** Records in one message: 1 + the floor of an exponential draw of mean
      * 1.25; 2 % of messages 8-32 records. The distribution is the same for
      * every seed: a seeded mean spread phase-2 throughput by about 20 %
      * between seeds. */
    private def records(): Int =
      if (rnd.nextDouble() < 0.02) 8 + rnd.nextInt(25)
      else math.min(32, 1 + (-math.log(1 - rnd.nextDouble()) * 1.25).toInt)

    def next(id: Long): Ev = {
      val topic = pick(Topics.zip(topicW))
      val code = if (rnd.nextDouble() < unknownShare) Unknown(topic) else pick(codeW(topic))
      val sb = new StringBuilder(2048)
      sb.append("{\"id\":").append(id).append(",\"last\":false,\"data\":[")
      (0 until records()).foreach { i => if (i > 0) sb.append(','); person(sb, i) }
      sb.append("],\"createdAt\":\"2022-12-08 00:00:00Z\",\"appName\":\"event-streamer\",\"code\":\"")
        .append(code).append("\"}")
      val json = sb.toString
      if (rnd.nextDouble() < malformedShare) {
        // the reference's malformed test input, or a truncated message
        val bad = if (rnd.nextBoolean()) "invalid JSON" else json.take(1 + rnd.nextInt(json.length - 2))
        Ev(id, topic, code, bad, malformed = true)
      } else Ev(id, topic, code, json, malformed = false)
    }
  }

  private final case class Batch(id: Long, startMs: Long, triggerMs: Long, addBatchMs: Long,
      planningMs: Long, rows: Long, endOffset: Long) {
    def endMs: Long = startMs + triggerMs
  }

  val WarmBatches = 12

  private def pct(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      s(math.min(s.size - 1, math.max(0, math.ceil(p * s.size).toInt - 1)))
    }

  def run(ctx: Ctx, rate: Double, backlog: Int): Map[String, Any] = {
    val spark = ctx.spark
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val probe = ctx.probe
    val batches = new ConcurrentLinkedQueue[Batch]()
    spark.streams.addListener(new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val p = e.progress
        val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.withDefaultValue(0L)
        val end = p.sources.headOption.flatMap(s => Option(s.endOffset)).map(_.trim.toLong).getOrElse(-1L)
        batches.add(Batch(p.batchId, Instant.parse(p.timestamp).toEpochMilli, d("triggerExecution"),
          d("addBatch"), d("queryPlanning"), p.numInputRows, end))
      }
    })

    // handler and emit timings, per micro-batch id
    val handlerMs = new java.util.concurrent.ConcurrentHashMap[Long, Double]()
    val emitNs = new java.util.concurrent.atomic.AtomicLong()
    val config = EngineConfig(appName = Some("perfbench"), groupId = Some("perfbench"),
      onlyTesting = true, dlqTopic = Some(Dlq))
    val emitter = new Emitter(config)
    val registry = new RouteRegistry(config, emitter, schemas)
    Routes.foreach { r =>
      val handler: (DataFrame, Emitter) => Unit = (df, em) => {
        val t0 = System.nanoTime()
        val batchId = Option(spark.sparkContext.getLocalProperty("streaming.sql.batchId"))
          .map(_.toLong).getOrElse(-1L)
        val out = r.project(df)
        val e0 = System.nanoTime()
        em.emit(out, r.outTopic)
        val e1 = System.nanoTime()
        emitNs.addAndGet(e1 - e0)
        handlerMs.merge(batchId, (e1 - t0) / 1e6, (a: Double, b: Double) => a + b)
        probe.span("emit", batchId, s"handler.r${r.idx}", e0, e1, Map("topic" -> r.outTopic))
        probe.span("handler", batchId, "batch", t0, e1, Map("route" -> r.idx))
      }
      if (r.codes.isEmpty) registry.add(r.topics, handler)
      else registry.add(r.topics, r.codes, handler)
    }

    val gen = new Gen(ctx.seed)

    // one partition per core, like a topic with that many partitions; by
    // default every addData call would become its own partition
    val mem = MemoryStream[(String, String)](spark.sparkContext.defaultParallelism)
    val query = registry.start(mem.toDF().toDF("topic", "value"))
    def offer(evs: Seq[Ev]): Long =
      mem.addData(evs.map(e => (e.topic, e.value))).json().trim.toLong
    // set-up: WarmBatches closed-loop batches of one second of phase-1
    // traffic each. Batch time falls by about half over the first ten
    // batches as the JIT compiles the planner, so without this warm-up
    // phase-1 latency measured how far the JIT had got. All events are
    // generated here, and the time spent generating them is left out of
    // setup_s: it is the benchmark's work, not the program's.
    val gen0 = System.nanoTime()
    val perBatch = math.max(1, rate.toInt)
    val warm = (0 until WarmBatches).map(b => (0 until perBatch).map(i => gen.next(-1L - b.toLong * perBatch - i)))
    val n1 = math.max(1, math.round(rate * ctx.seconds * 0.5).toInt)
    val p1 = (0 until n1).map(i => gen.next(i.toLong))
    val p2 = (0 until backlog).map(i => gen.next(n1.toLong + i))
    val genS = (System.nanoTime() - gen0) / 1e9
    warm.foreach { evs =>
      offer(evs)
      query.processAllAvailable()
    }
    emitter.clearEmittedEvents()
    val warmTriggerMs = batches.asScala.toSeq.sortBy(_.id).map(_.triggerMs)
    batches.clear()
    handlerMs.clear()
    emitNs.set(0L)
    val setupS = ctx.sinceLaunch() - genS

    probe.phaseBegin()
    val (c0, g0) = (Proc.cpuNanos(), Proc.gcMillis())
    // phase 1: open loop; event i is due at start + i / rate
    val offsetOf = new Array[Long](n1)
    val late = new Array[Double](n1)
    val startNs = System.nanoTime()
    val startMs = System.currentTimeMillis().toDouble
    def dueNs(i: Int): Long = startNs + (i * 1e9 / rate).toLong
    var i = 0
    while (i < n1) {
      val wait = dueNs(i) - System.nanoTime()
      if (wait > 0) LockSupport.parkNanos(wait)
      val now = System.nanoTime()
      var j = i
      while (j < n1 && dueNs(j) <= now) j += 1
      val off = offer(p1.slice(i, j))
      (i until j).foreach { k => offsetOf(k) = off; late(k) = (now - dueNs(k)) / 1e6 }
      i = j
    }
    val sentEndMs = System.currentTimeMillis()
    val lastOffset1 = offsetOf.last
    query.processAllAvailable()
    val phase1Batches = batches.asScala.toSeq.sortBy(_.id)
    val doneAtSendEnd = phase1Batches.filter(_.endMs <= sentEndMs).map(_.endOffset).maxOption.getOrElse(-1L)
    val backlogEnd = offsetOf.count(_ > doneAtSendEnd)
    val latencies = (0 until n1).map { k =>
      phase1Batches.find(_.endOffset >= offsetOf(k))
        .map(b => b.endMs - (startMs + k * 1e3 / rate)).getOrElse(Double.NaN)
    }
    val p1Ids = phase1Batches.map(_.id).toSet

    // phase 2: the whole backlog offered at once, then drained
    val t2 = System.nanoTime()
    offer(p2)
    query.processAllAvailable()
    val drainS = (System.nanoTime() - t2) / 1e9
    val cpuS = (Proc.cpuNanos() - c0) / 1e9
    val gcS = (Proc.gcMillis() - g0) / 1e3
    val rss = Proc.peakRssMb()
    probe.phaseEnd()
    org.apache.spark.sql.GraftShims.drainListeners(spark.sparkContext)
    val allBatches = batches.asScala.toSeq.sortBy(_.id)
    // batch times are epoch ms; shift them onto the nanoTime clock of the
    // handler and emit spans
    val clockNs = System.nanoTime() - System.currentTimeMillis() * 1000000L
    allBatches.foreach { b =>
      probe.span("batch", b.id, "stream", b.startMs * 1000000L + clockNs, b.endMs * 1000000L + clockNs,
        Map("rows" -> b.rows, "add_batch_ms" -> b.addBatchMs, "planning_ms" -> b.planningMs))
    }
    registry.stop()

    val l0 = System.nanoTime()
    // ledger check: every well-formed event reaches each matching route
    // exactly once; every malformed value reaches the DLQ exactly once
    val emitted = emitter.getEmittedEvents
    val idRe = "\"id\":(-?\\d+)".r
    val timed = p1 ++ p2
    val failedIds = mutable.Set.empty[Long]
    val routeResults = Routes.map { r =>
      val got = emitted.filter(_.topic == r.outTopic).flatMap(_.values)
        .flatMap(v => idRe.findFirstMatchIn(v).map(_.group(1).toLong))
      val gotCount = got.groupBy(identity).view.mapValues(_.size).toMap
      val want = timed.filter(r.matches).map(_.id).toSet
      val bad = (want.filter(e => gotCount.getOrElse(e, 0) != 1) ++ gotCount.keySet.filterNot(want)).toSet
      failedIds ++= bad
      Map("route" -> r.idx, "expected" -> want.size, "delivered" -> got.size, "wrong" -> bad.size)
    }
    val dlqGot = emitted.filter(_.topic == Dlq).flatMap(_.values).groupBy(identity).view.mapValues(_.size).toMap
    val malformed = timed.filter(_.malformed)
    val dlqWant = malformed.groupBy(_.value).view.mapValues(_.size).toMap
    malformed.filter(e => dlqGot.getOrElse(e.value, 0) != dlqWant(e.value)).foreach(failedIds += _.id)
    val unexpectedDlq = dlqGot.keySet.filterNot(dlqWant.contains).size
    val failedClasses = timed.filter(e => failedIds(e.id))
      .map(e => if (e.malformed) "malformed" else s"${e.topic}/${e.code}").distinct.sorted
    val expectedDeliveries = routeResults.map(_("expected").asInstanceOf[Int]).sum
    val deliveries = routeResults.map(_("delivered").asInstanceOf[Int]).sum

    val ledgerS = (System.nanoTime() - l0) / 1e9
    val b1 = allBatches.filter(b => p1Ids(b.id) && b.rows > 0)
    Map(
      "workload" -> "event_route", "setup_s" -> setupS, "untimed_s" -> Map("generate" -> genS, "ledger" -> ledgerS), "cpu_s" -> cpuS, "gc_s" -> gcS,
      "peak_rss_mb" -> rss, "sweep_s" -> drainS, "backlog" -> backlog,
      "events_per_s" -> backlog / drainS, "rate" -> rate, "phase1_events" -> n1, "phase1_trigger_ms" -> b1.map(_.triggerMs), "warmup_trigger_ms" -> warmTriggerMs,
      "event_latency_ms" -> latencies,
      "mix" -> (gen.mix ++ Map("value_bytes_mean" -> timed.map(_.value.length.toDouble).sum / timed.size,
        "value_bytes_max" -> timed.map(_.value.length).max)),
      "attempted" -> timed.size, "failed" -> (failedIds.size + unexpectedDlq),
      "failed_classes" -> failedClasses, "routes" -> routeResults,
      "stream" -> Map(
        "spark.streaming.batches" -> allBatches.count(_.rows > 0),
        "spark.streaming.rows_per_batch" -> (if (b1.isEmpty) 0.0 else b1.map(_.rows).sum.toDouble / b1.size),
        "spark.streaming.trigger_ms_p50" -> pct(b1.map(_.triggerMs.toDouble), 0.5),
        "spark.streaming.planning_ms_p50" -> pct(b1.map(_.planningMs.toDouble), 0.5),
        "spark.streaming.backlog_end" -> backlogEnd,
        "RouteRegistry.process_ms_p50" -> pct(b1.map(_.addBatchMs.toDouble), 0.5),
        "RouteRegistry.overhead_ms_p50" ->
          pct(b1.map(b => b.addBatchMs - handlerMs.getOrDefault(b.id, 0.0)), 0.5),
        "RouteRegistry.routed_ratio" ->
          (if (expectedDeliveries == 0) 1.0 else deliveries.toDouble / expectedDeliveries),
        "RouteRegistry.dlq_events" -> dlqGot.values.sum,
        "Emitter.emit_ms" -> emitNs.get / 1e6,
        "Emitter.emitted" -> emitted.map(_.values.size).sum,
        "gen.late_p99_ms" -> pct(late.toSeq, 0.99)))
  }
}
