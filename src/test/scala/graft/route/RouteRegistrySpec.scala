package graft.route

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskStart}
import org.apache.spark.sql.{DataFrame, GraftShims}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkSuite
import graft.core.{EngineConfig, ErrorPolicy, EventSchemaRegistry, Strategy}
import graft.produce.{EmittedBatch, Emitter}
import graft.testkit.TestHarness

/** Routing semantics, mirroring the reference's consumer suite and the
  * README golden I/O table (README.md:287-345). */
class RouteRegistrySpec extends SparkSuite {

  /** Build the README's six routes; returns (harness, firedLog). A route
    * "fires" when its branch contains rows — message-level parity with the
    * reference's per-message handler invocation. */
  private def goldenHarness(): (TestHarness, mutable.Buffer[Int]) = {
    val h = new TestHarness(spark, EngineConfig(groupId = Some("g")))
    val fired = mutable.Buffer.empty[Int]
    def handler(id: Int): (DataFrame, Emitter) => Unit =
      (df, _) => { val n = df.count(); (1L to n).foreach(_ => fired += id) }
    h.consumer
      .add("topic-a", handler(1))
      .add("topic-b", "event-name-b", handler(2))
      .add("topic-c", Seq("event-name-c-1", "event-name-c-2"), handler(3))
      .add(Seq("topic-d", "topic-e"), handler(4))
      .add(Seq("topic-e", "topic-f"), "my-event-name", handler(5))
      .add(Seq("topic-g", "topic-h"), Seq("my-event-name-1", "my-event-name-2"), handler(6))
    (h, fired)
  }

  test("golden routing table from the reference README") {
    val (h, fired) = goldenHarness()
    // (topic, raw code or null) -> expected handler ids
    val table: Seq[(String, Option[String], Set[Int])] = Seq(
      ("topic-a", None, Set(1)),
      ("topic-a", Some("TopicA"), Set(1)),
      ("topic-a", Some("MyEventName"), Set(1)),
      ("topic-b", Some("EventNameA"), Set()),
      ("topic-b", Some("EventNameB"), Set(2)),
      ("topic-b", Some("TopicB"), Set()),
      ("topic-c", Some("EventNameC1"), Set(3)),
      ("topic-c", Some("EventNameC2"), Set(3)),
      ("topic-c", Some("EventNameC3"), Set()),
      ("topic-d", None, Set(4)),
      ("topic-d", Some("TopicD"), Set(4)),
      ("topic-e", None, Set(4)),
      ("topic-e", Some("TopicE"), Set(4)),
      ("topic-e", Some("MyEventName"), Set(4, 5)),
      ("topic-f", None, Set()),
      ("topic-f", Some("TopicF"), Set()),
      ("topic-f", Some("MyEventName"), Set(5)),
      ("topic-g", None, Set()),
      ("topic-g", Some("MyEventName1"), Set(6)),
      ("topic-g", Some("MyEventName2"), Set(6)),
      ("topic-h", Some("MyEventName1"), Set(6)),
      ("topic-h", Some("MyEventName2"), Set(6)))
    table.foreach { case (topic, code, want) =>
      fired.clear()
      code match {
        case Some(c) => h.inputRaw(topic, s"""{"code":"$c"}""")
        case None => h.inputRaw(topic, """{"prop":"a"}""")
      }
      assert(fired.toSet == want, s"input ($topic, ${code.getOrElse("<none>")})")
    }
  }

  test("overload expansion: cross-product yields the expected route rows") {
    val h = new TestHarness(spark)
    val noop: (DataFrame, Emitter) => Unit = (_, _) => ()
    h.consumer
      .add("t1", noop)                                      // 1
      .add("t2", "e1", noop)                                // 1
      .add("t3", Seq("e1", "e2", "e3"), noop)               // 3
      .add(Seq("t4", "t5"), noop)                           // 2
      .add(Seq("t6", "t7"), "e1", noop)                     // 2
      .add(Seq("t8", "t9"), Seq("e1", "e2"), noop)          // 4
      .add(Route("t10", Some("e9"), noop))                  // 1
    assert(h.consumer.routeCount == 14)
    assert(h.consumer.topics == Seq("t1", "t2", "t3", "t4", "t5", "t6", "t7", "t8", "t9", "t10"))
  }

  test("event names are UpperCamelCase-normalized at registration") {
    val (h, fired) = goldenHarness()
    // registered as 'event-name-b' but matches code 'EventNameB' — already
    // covered above; also verify the raw form does NOT match
    fired.clear()
    h.inputRaw("topic-b", """{"code":"event-name-b"}""")
    assert(fired.isEmpty)
  }

  test("malformed JSON and null values are skipped, not fatal") {
    val (h, fired) = goldenHarness()
    fired.clear()
    h.inputRaw("topic-a", "invalid JSON")
    h.inputRaw("topic-a", null)
    assert(fired.isEmpty)
  }

  test("input() computes code from eventName ?? topic like the reference") {
    val (h, fired) = goldenHarness()
    fired.clear()
    h.input("topic-b", """{"prop":"a"}""", Some("event-name-b"))
    assert(fired.toSet == Set(2))
    fired.clear()
    h.input("topic-e", """{"prop":"a"}""", Some("my-event-name"))
    assert(fired.toSet == Set(4, 5))
  }

  test("handler receives parsed payload columns via the schema registry") {
    val schemas = new EventSchemaRegistry()
      .register("UserSignup", StructType(Seq(
        StructField("userId", LongType), StructField("name", StringType))))
    val h = new TestHarness(spark, EngineConfig(), schemas = schemas)
    var seen: Seq[(Long, String)] = Nil
    h.consumer.add("users", "user-signup", (df, _) => {
      seen = df.select("userId", "name").collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    })
    h.input("users", """{"userId": 7, "name": "ada"}""", Some("user-signup"))
    assert(seen == Seq((7L, "ada")))
  }

  test("consume-transform-produce: handler re-emits through the emitter (O14)") {
    val h = new TestHarness(spark, EngineConfig(appName = Some("pipeline")),
      clock = fixedClock("2022-12-08T00:00:00Z"))
    h.consumer.add("in-topic", "ev", (df, emit) => {
      if (!df.isEmpty) {
        val out = df.selectExpr("upper(code) AS shout")
        emit.emit(out, "out-topic", Some("shouted"))
      }
    })
    graft.functions.GraftFunctions.register(spark)
    h.input("in-topic", """{"x":1}""", Some("ev"))
    val got = h.emitter.getParsedEmittedEvents
    assert(got.size == 1)
    assert(got.head._1 == "out-topic")
    assert(got.head._2("shout") == "EV")
    assert(got.head._2("code") == "Shouted")
  }

  test("error policy: LogAndContinue swallows handler errors, FailFast rethrows") {
    val h = new TestHarness(spark, EngineConfig(errorPolicy = ErrorPolicy.LogAndContinue))
    var after = false
    h.consumer.add("t", (_, _) => throw new RuntimeException("boom"))
    h.consumer.add("t", (_, _) => { after = true })
    h.inputRaw("t", """{"a":1}""")
    assert(after, "second handler still ran")

    val hf = new TestHarness(spark, EngineConfig(errorPolicy = ErrorPolicy.FailFast))
    hf.consumer.add("t", (_, _) => throw new RuntimeException("boom"))
    intercept[RuntimeException] { hf.inputRaw("t", """{"a":1}""") }
  }

  test("start validation: routes and groupId required") {
    import spark.implicits._
    val em = new Emitter(EngineConfig())
    val r = new RouteRegistry(EngineConfig(), em)
    val dummy = Seq(("t", "{}")).toDF("topic", "value")
    intercept[IllegalArgumentException] {
      r.start(dummy)  // no routes
    }
    r.add("t", (_: DataFrame, _: Emitter) => ())
    intercept[IllegalArgumentException] {
      r.start(dummy)  // no groupId, not onlyTesting
    }
  }

  test("DLQ extension: malformed values are emitted raw to the dead-letter topic") {
    val h = new TestHarness(spark, EngineConfig(dlqTopic = Some("dlq")))
    var good = 0L
    h.consumer.add("t", (df, _) => { good += df.count() })
    h.inputRaw("t", """{"a":1}""")
    h.inputRaw("t", "garbage {{{")
    assert(good == 1)
    val dlq = h.emitter.getEmittedEvents.filter(_.topic == "dlq")
    assert(dlq.flatMap(_.values) == Seq("garbage {{{"))
  }

  test("DLQ extension: tombstones (null values) and empty values reach the DLQ") {
    val h = new TestHarness(spark, EngineConfig(dlqTopic = Some("dlq")))
    var good = 0L
    h.consumer.add("t", (df, _) => { good += df.count() })
    h.inputRaw("t", null)          // Kafka tombstone
    h.inputRaw("t", "")            // empty value: from_json yields null struct
    h.inputRaw("t", """{"a":1}""")
    assert(good == 1, "unparseable values must not reach handlers")
    val dlq = h.emitter.getEmittedEvents.filter(_.topic == "dlq").flatMap(_.values)
    assert(dlq.size == 2, s"tombstone + empty value both DLQ'd, got $dlq")
    assert(dlq.contains(null) && dlq.contains(""),
      "tombstone replays as a null-valued record, empty value as-is")
  }

  test("schema-conflict messages still route by code (two-tier parse fallback)") {
    // code A registers k as Long; a message for code B carries k as a string.
    // The merged-schema parse rejects it, but the minimal-envelope fallback
    // must still route it — the reference parses each message independently.
    val schemas = new EventSchemaRegistry()
      .register("A", StructType(Seq(StructField("k", LongType))))
    val h = new TestHarness(spark, EngineConfig(dlqTopic = Some("dlq")), schemas = schemas)
    var bFired = 0L
    var aSawK: Option[Long] = None
    h.consumer.add("t", "b", (df, _) => { bFired += df.count() })
    h.consumer.add("t", "a", (df, _) => {
      val rows = df.select("k").collect()
      if (rows.nonEmpty) aSawK = Some(rows.head.getLong(0))
    })
    h.inputRaw("t", """{"k":"not-a-number","code":"B"}""")
    h.inputRaw("t", """{"k":7,"code":"A"}""")
    assert(bFired == 1, "type-conflicting message must still reach its route")
    assert(aSawK.contains(7L), "well-typed message keeps its parsed payload")
    assert(h.emitter.getEmittedEvents.forall(_.topic != "dlq"),
      "schema conflicts are not DLQ material - only unparseable JSON is")
  }

  // ------------------------------------------------- one job per batch

  /** Envelopes over four topics: every route of [[oneJobRoutes]] gets rows
    * except the `t-b`/`other` and `t-e` ones, and two values are
    * malformed for the DLQ. */
  private val mixed: Seq[(String, String)] = Seq(
    ("t-a", """{"n":1,"code":"Created"}"""),
    ("t-b", """{"n":2,"code":"Moved"}"""),
    ("t-a", """{"n":3,"code":"Deleted"}"""),
    ("t-c", "not json"),
    ("t-c", """{"n":4}"""),
    ("t-a", """{"n":5,"code":"Created"}"""),
    ("t-b", """{"n":6}"""),
    ("t-d", """{"n":7,"code":"Any"}"""),
    ("t-a", """{"n":8"""))

  private def reemit(idx: Int): (DataFrame, Emitter) => Unit =
    (df, em) => em.emit(df.select(col("n"), lit(idx).as("route")), s"out-$idx")

  /** Eight pure-transform routes in registration order: code-specific,
    * global, two with an empty branch, and one that calls `emitJson`
    * between two `emit`s. */
  private val oneJobRoutes: Seq[Route] = Seq(
    Route("t-a", Some("Created"), reemit(1)),
    Route("t-a", None, reemit(2)),
    Route("t-b", Some("Moved"), reemit(3)),
    Route("t-b", Some("Other"), reemit(4)),
    Route("t-c", None, reemit(5)),
    Route("t-d", None, reemit(6)),
    Route("t-e", None, reemit(7)),
    Route("t-b", None, (df, em) => {
      em.emit(df.select(col("n")), "out-8a")
      em.emitJson("out-8j", Seq("""{"k":1}"""))
      em.emit(df.select((col("n") * 10).as("n")), "out-8b")
    }))

  private def oneJobConfig(policy: ErrorPolicy = ErrorPolicy.LogAndContinue) =
    EngineConfig(appName = Some("one-job"), dlqTopic = Some("dlq"), errorPolicy = policy)

  private def registry(config: EngineConfig, routes: Seq[Route]): RouteRegistry = {
    val schemas = new EventSchemaRegistry()
      .register("Created", StructType(Seq(StructField("n", LongType))))
    val r = new RouteRegistry(config.copy(onlyTesting = true),
      new Emitter(config.copy(onlyTesting = true), fixedClock("2022-12-08T00:00:00Z")), schemas)
    routes.foreach(r.add)
    r
  }

  /** The per-route sequence: each handler on its own branch, in
    * registration order, with a second emitter outside any scope (every
    * emit written when called), each handler under its own try/catch, then
    * the batch's malformed values as one DLQ batch. */
  private def perRoute(reg: RouteRegistry, routes: Seq[Route], batch: Seq[(String, String)]): Seq[EmittedBatch] = {
    import spark.implicits._
    val ref = new Emitter(reg.emitter.config, fixedClock("2022-12-08T00:00:00Z"))
    val parsed = reg.parse(batch.toDF("topic", "value"))
    routes.foreach { r =>
      try r.handler(parsed.filter(reg.predicate(r)).drop("topic", "value"), ref)
      catch { case _: Exception => () }
    }
    val malformed = batch.map(_._2).filter(v => !v.startsWith("{") || !v.endsWith("}"))
    ref.getEmittedEvents ++ (if (malformed.isEmpty) Nil else Seq(EmittedBatch("dlq", malformed)))
  }

  test("one Spark job per batch: every route's emits and the DLQ flush as one union") {
    import spark.implicits._
    val reg = registry(oneJobConfig(), oneJobRoutes)
    assert(reg.routeCount >= 6)
    val batch = mixed.toDF("topic", "value")
    val group = "route-one-job"
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          jobs.incrementAndGet()
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "one routed batch")
      try reg.process(batch) finally sc.clearJobGroup()
      GraftShims.drainListeners(sc)
    } finally sc.removeSparkListener(listener)
    assert(jobs.get == 1, s"${reg.routeCount} routes + DLQ ran ${jobs.get} jobs")
    assert(reg.emitter.getEmittedEvents.nonEmpty)
  }

  test("one task per source partition: the routes' emits and the DLQ of a batch over P partitions run P tasks") {
    import spark.implicits._
    val reg = registry(oneJobConfig(), oneJobRoutes)
    val sources = 3
    val batch = spark.sparkContext.parallelize(mixed, sources).toDF("topic", "value")
    val group = "route-one-task-per-partition"
    val stages = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val taskStages = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          e.stageIds.foreach(stages.add)
      override def onTaskStart(e: SparkListenerTaskStart): Unit = taskStages.add(e.stageId)
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "one routed batch")
      try reg.process(batch) finally sc.clearJobGroup()
      GraftShims.drainListeners(sc)
    } finally sc.removeSparkListener(listener)
    val tasks = taskStages.asScala.count(stages.contains)
    assert(tasks == sources, s"${reg.routeCount} routes + DLQ over $sources partitions ran $tasks tasks")
    assert(reg.emitter.getEmittedEvents == perRoute(reg, oneJobRoutes, mixed))
  }

  test("a route whose handler shuffles captures what the per-route sequence gives, and loses only its own rows when the shuffle fails") {
    import spark.implicits._
    val routes = oneJobRoutes :+ Route("t-a", None, (df, em) =>
      em.emit(df.groupBy(col("code").as("c")).count().orderBy("c"), "out-g"))
    val reg = registry(oneJobConfig(), routes)
    reg.process(mixed.toDF("topic", "value"))
    val got = reg.emitter.getEmittedEvents
    assert(got.filter(_.topic == "out-g").flatMap(_.values).size == 2)
    assert(got == perRoute(reg, routes, mixed))

    // an adaptive plan runs its shuffle stage while the flush frame is
    // built: a failure there still loses only the failing route's rows
    val failing = oneJobRoutes :+ Route("t-a", None, (df, em) => em.emit(
      df.select(coalesce(when(col("n") === 5, raise_error(lit("bad row"))), col("n")).as("n"))
        .groupBy("n").count(), "out-g"))
    val lenient = registry(oneJobConfig(), failing)
    lenient.process(mixed.toDF("topic", "value"))
    val want = perRoute(lenient, failing, mixed)
    assert(!want.exists(_.topic == "out-g"))
    assert(lenient.emitter.getEmittedEvents == want)
  }

  test("one-job flush keeps the per-route emit sequence: topics, batch boundaries, value order") {
    import spark.implicits._
    val reg = registry(oneJobConfig(), oneJobRoutes)
    reg.process(mixed.toDF("topic", "value"))
    val got = reg.emitter.getEmittedEvents
    assert(got == perRoute(reg, oneJobRoutes, mixed))
    // empty branches (routes 4 and 7) capture nothing; emitJson keeps its
    // place between route 8's two emits
    assert(got.map(_.topic) ==
      Seq("out-1", "out-2", "out-3", "out-5", "out-6", "out-8a", "out-8j", "out-8b", "dlq"))
    assert(got.head.values.map(v => v.take(v.indexOf(','))) == Seq("""{"n":1""", """{"n":5"""))
    assert(got.last.values == Seq("not json", """{"n":8"""))
  }

  test("one-by-one strategy keeps the per-message, per-route emit sequence") {
    import spark.implicits._
    val reg = registry(oneJobConfig().copy(strategy = Strategy.OneByOne), oneJobRoutes)
    reg.process(mixed.toDF("topic", "value"))
    val want = mixed.flatMap(m => perRoute(reg, oneJobRoutes, Seq(m)))
    assert(reg.emitter.getEmittedEvents == want)
    assert(want.count(_.topic == "dlq") == 2)
  }

  test("a route whose frame fails at run time: LogAndContinue keeps the rest, FailFast throws, no cache leak") {
    import spark.implicits._
    // route 2's frame fails only when a job evaluates row n = 5
    val failing = oneJobRoutes.updated(1, Route("t-a", None, (df, em) => em.emit(
      df.select(coalesce(when(col("n") === 5, raise_error(lit("bad row"))), col("n")).as("n")),
      "out-2")))
    val batch = mixed.toDF("topic", "value")
    val sc = spark.sparkContext

    val lenient = registry(oneJobConfig(), failing)
    lenient.process(batch)
    val before = sc.getPersistentRDDs.size
    (1 to 3).foreach(_ => lenient.process(batch))
    assert(sc.getPersistentRDDs.size <= before, "persisted RDDs grew over repeated batches")
    val want = perRoute(lenient, failing, mixed)
    assert(!want.exists(_.topic == "out-2"))
    assert(lenient.emitter.getEmittedEvents == Seq.fill(4)(want).flatten)

    val strict = registry(oneJobConfig(ErrorPolicy.FailFast), failing)
    intercept[Exception] { strict.process(batch) }
    val before2 = sc.getPersistentRDDs.size
    (1 to 3).foreach(_ => intercept[Exception] { strict.process(batch) })
    assert(sc.getPersistentRDDs.size <= before2, "persisted RDDs grew over repeated failing batches")
    assert(strict.emitter.getEmittedEvents.isEmpty)
  }

  test("a routed batch is cached under one plan leaf: handlers see no CacheManager entry") {
    import spark.implicits._
    val cm = spark.sharedState.cacheManager
    cm.clearCache()
    val seen = mutable.Buffer.empty[Boolean]
    val routes = oneJobRoutes :+ Route("t-a", None, (df, em) => {
      seen += cm.isEmpty
      reemit(9)(df, em)
    })
    val reg = registry(oneJobConfig(), routes)
    val before = spark.sparkContext.getPersistentRDDs.size
    reg.process(mixed.toDF("topic", "value"))
    assert(seen == Seq(true), "the routed batch registered a CacheManager entry")
    assert(spark.sparkContext.getPersistentRDDs.size == before, "the batch's rows were not released")
    assert(reg.emitter.getEmittedEvents == perRoute(reg, routes, mixed))
  }

  /** A registry that writes to hosts (not `onlyTesting`) through a
    * recording sink: every write that succeeds is logged as
    * `host -> (topic, value)` rows; a write to a host in `down` throws.
    * `onWrite` runs as each write starts. */
  private def hostRegistry(
      config: EngineConfig,
      routes: Seq[Route],
      down: Set[String],
      onWrite: () => Unit = () => ()): (RouteRegistry, mutable.Buffer[(String, Seq[(String, String)])]) = {
    val writes = mutable.Buffer.empty[(String, Seq[(String, String)])]
    val sink = (df: DataFrame, _: EngineConfig, host: String) => {
      onWrite()
      if (down(host)) throw new RuntimeException(s"$host is down")
      val rows = df.select("topic", "value").collect().toSeq.map(r => (r.getString(0), r.getString(1)))
      writes.synchronized { writes += host -> rows }
      ()
    }
    val schemas = new EventSchemaRegistry()
      .register("Created", StructType(Seq(StructField("n", LongType))))
    val r = new RouteRegistry(config,
      new Emitter(config, fixedClock("2022-12-08T00:00:00Z"), sink), schemas)
    routes.foreach(r.add)
    (r, writes)
  }

  /** Every `(topic, value)` the `onlyTesting` capture of `routes` holds. */
  private def capturedRows(routes: Seq[Route]): Seq[(String, String)] = {
    import spark.implicits._
    val reg = registry(oneJobConfig(), routes)
    reg.process(mixed.toDF("topic", "value"))
    reg.emitter.getEmittedEvents.flatMap(b => b.values.map(b.topic -> _))
  }

  private def written(writes: Seq[(String, Seq[(String, String)])], host: String) =
    writes.filter(_._1 == host).flatMap(_._2)

  // emitJson needs onlyTesting; these routes write only frames
  private val frameRoutes = oneJobRoutes.take(7)

  test("a down replica host: LogAndContinue writes each record to the healthy host once") {
    import spark.implicits._
    val cfg = oneJobConfig().copy(host = "up:9092", additionalHosts = Seq("down:9092"))
    val (reg, writes) = hostRegistry(cfg, frameRoutes, down = Set("down:9092"))
    reg.process(mixed.toDF("topic", "value"))
    val want = capturedRows(frameRoutes)
    assert(want.nonEmpty)
    assert(writes.map(_._1) == Seq("up:9092"), "the healthy host is written in one job")
    assert(written(writes.toSeq, "up:9092").sorted == want.sorted)

    val (strict, _) = hostRegistry(cfg.copy(errorPolicy = ErrorPolicy.FailFast), frameRoutes,
      down = Set("down:9092"))
    intercept[RuntimeException] { strict.process(mixed.toDF("topic", "value")) }
  }

  test("a failing host set does not re-write another host set") {
    import spark.implicits._
    // the last route overrides its hosts; that second host set is down
    val routes = frameRoutes :+ Route("t-a", None, (df, em) =>
      em.emit(df.select(col("n")), "out-c", overwriteHosts = Some(Seq("other:9092"))))
    val (reg, writes) = hostRegistry(oneJobConfig().copy(host = "up:9092"), routes,
      down = Set("other:9092"))
    reg.process(mixed.toDF("topic", "value"))
    assert(writes.map(_._1) == Seq("up:9092"))
    assert(written(writes.toSeq, "up:9092").sorted == capturedRows(frameRoutes).sorted)
  }

  test("a route whose frame fails at run time loses only its own rows on every host") {
    import spark.implicits._
    val failing = frameRoutes.updated(1, Route("t-a", None, (df, em) => em.emit(
      df.select(coalesce(when(col("n") === 5, raise_error(lit("bad row"))), col("n")).as("n")),
      "out-2")))
    val cfg = oneJobConfig().copy(host = "a:9092", additionalHosts = Seq("b:9092"))
    val (reg, writes) = hostRegistry(cfg, failing, down = Set.empty)
    reg.process(mixed.toDF("topic", "value"))
    val want = capturedRows(failing)
    assert(!want.exists(_._1 == "out-2"))
    Seq("a:9092", "b:9092").foreach(h => assert(written(writes.toSeq, h).sorted == want.sorted, h))
  }

  test("a two-host flush writes both hosts without a CacheManager entry") {
    import spark.implicits._
    val cm = spark.sharedState.cacheManager
    cm.clearCache()
    val seen = mutable.Buffer.empty[Boolean]
    val cfg = oneJobConfig().copy(host = "a:9092", additionalHosts = Seq("b:9092"))
    val (reg, writes) = hostRegistry(cfg, frameRoutes, down = Set.empty, onWrite = () => seen += cm.isEmpty)
    val before = spark.sparkContext.getPersistentRDDs.size
    reg.process(mixed.toDF("topic", "value"))
    assert(seen == Seq(true, true), "a host write saw a CacheManager entry")
    assert(spark.sparkContext.getPersistentRDDs.size == before, "the flush's rows were not released")
    val want = capturedRows(frameRoutes)
    Seq("a:9092", "b:9092").foreach(h => assert(written(writes.toSeq, h).sorted == want.sorted, h))
  }
}
