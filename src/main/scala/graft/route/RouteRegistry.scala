package graft.route

import scala.collection.mutable

import org.apache.spark.internal.Logging
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, GraftShims}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.core.{EngineConfig, Envelope, EventSchemaRegistry, Strategy, ErrorPolicy}
import graft.produce.Emitter

/** One routing rule: `(topic, optional event code)` → handler.
  * `eventName == None` is a global listener — it matches every message of
  * the topic, including ones with no `code` (reference README.md:103;
  * predicate at consumer/legacy-consumer.ts:92). */
final case class Route(
    topic: String,
    eventName: Option[String],
    handler: (DataFrame, Emitter) => Unit)

/** The consume/route path (reference operators O1, O8–O14, O21 —
  * SURVEY.md §2.1), re-expressed on Structured Streaming.
  *
  * The reference dispatches per message on one Node event loop; here the
  * router builds a **declarative plan** instead:
  *
  *   Kafka/memory source → `from_json` against the merged registry schema
  *   and the minimal envelope, parsed in full once per batch and cached as
  *   rows → malformed-drop filter (O8) → per-route boolean `Column` predicate
  *   (O10) → handler via `foreachBatch`.
  *
  * Handlers receive a DataFrame of the parsed payload plus the [[Emitter]],
  * so consume→transform→produce pipelines (O14) are just DataFrame
  * transforms ending in `emitter.emit(...)` — exactly Structured Streaming's
  * model.
  *
  * Scale notes:
  *  - One micro-batch is parsed once and its rows are cached
  *    (`MEMORY_AND_DISK`) under one `LogicalRDD` plan leaf, released when
  *    the batch ends; N route branches filter that leaf without re-reading
  *    Kafka. Multicast without N consumers, and without a CacheManager
  *    entry: each branch plans `LogicalRDD → Filter → handler` rather than
  *    re-analyzing the parse. The cached parse is the full one: Catalyst
  *    cannot prune a route's unused fields out of it. Its raw `value` is
  *    kept only on corrupt rows, where the DLQ reads it.
  *  - One Spark job per micro-batch: the batch runs in one
  *    [[Emitter.scoped]] block, so handlers' emits and the DLQ only plan
  *    their frames, and the scope flushes every route's output as one
  *    union when dispatch ends. The per-batch cost is one job however
  *    many routes are registered (jobs the handlers run themselves, such
  *    as a `count()`, come on top).
  *  - One task per source partition per batch: the flush runs partition j
  *    of every route's output and of the DLQ in one task, so a batch
  *    over P source partitions runs P tasks however many routes are
  *    registered.
  *  - Route predicates are codegen'd; the reference's O(routes)
  *    interpreted linear scan per message becomes a vectorized filter.
  *  - Source pruning (O11): only routed topics are subscribed.
  *  - Backpressure (O12): `maxOffsetsPerTrigger` + the micro-batch barrier;
  *    no pause/resume. `Strategy.OneByOne` (O13) is a documented
  *    driver-serial parity mode — non-scalable by construction.
  */
final class RouteRegistry(
    val config: EngineConfig,
    val emitter: Emitter,
    val schemas: EventSchemaRegistry = new EventSchemaRegistry)
  extends Logging {

  private val routes = mutable.ArrayBuffer.empty[Route]
  @volatile private var active: Option[StreamingQuery] = None

  // ------------------------------------------------------ route registration
  // The reference's 7 `add` overloads (consumer/legacy-consumer.ts:39-71):
  // topic|topics × (nothing | eventName | eventNames) × handler, plus a
  // Route object. Multi-forms expand to the cross product of routes.

  def add(topic: String, handler: (DataFrame, Emitter) => Unit): this.type =
    addRoutes(Seq(topic), Seq(None), handler)

  def add(topic: String, eventName: String, handler: (DataFrame, Emitter) => Unit): this.type =
    addRoutes(Seq(topic), Seq(Some(eventName)), handler)

  def add(topic: String, eventNames: Seq[String], handler: (DataFrame, Emitter) => Unit): this.type =
    addRoutes(Seq(topic), eventNames.map(Some(_)), handler)

  def add(topics: Seq[String], handler: (DataFrame, Emitter) => Unit)(implicit d: DummyImplicit): this.type =
    addRoutes(topics, Seq(None), handler)

  def add(topics: Seq[String], eventName: String, handler: (DataFrame, Emitter) => Unit)(implicit d: DummyImplicit): this.type =
    addRoutes(topics, Seq(Some(eventName)), handler)

  def add(topics: Seq[String], eventNames: Seq[String], handler: (DataFrame, Emitter) => Unit)(implicit d1: DummyImplicit, d2: DummyImplicit): this.type =
    addRoutes(topics, eventNames.map(Some(_)), handler)

  def add(route: Route): this.type = synchronized {
    routes += route.copy(eventName = route.eventName.map(Emitter.upperCamel))
    this
  }

  private def addRoutes(
      topics: Seq[String],
      eventNames: Seq[Option[String]],
      handler: (DataFrame, Emitter) => Unit): this.type = synchronized {
    for (t <- topics; e <- eventNames)
      routes += Route(t, e.map(Emitter.upperCamel), handler)
    this
  }

  def routeCount: Int = synchronized(routes.size)

  /** Distinct routed topics — subscribe to these only (source pruning, O11:
    * the analog of partition pruning, done at plan-build time). */
  def topics: Seq[String] = synchronized(routes.map(_.topic).distinct.toSeq)

  // ------------------------------------------------------------- dispatch

  /** Parse an envelope batch `(topic: string, value: string)`; malformed
    * JSON is dropped but the row is still consumed (O7/O8 — same
    * skip-and-commit semantics as the reference,
    * consumer/legacy-consumer.ts:163-198). */
  private val Corrupt = "_corrupt_record"

  /** Parse with the corrupt-record marker retained — internal; the marker
    * column drives both malformed-drop and DLQ routing.
    *
    * Two-tier parse: the merged registry schema first; rows it rejects
    * (e.g. a payload field whose JSON type conflicts with another code's
    * registered type) get a second chance against the minimal envelope
    * schema, so they still route by `code`, with null payload fields.
    * Handlers do not get the raw `value` to re-parse: [[dispatch]] drops it
    * from every branch. Only messages that fail BOTH parses are marked
    * corrupt. This matches the reference, which JSON.parses every message
    * independently and routes anything parseable. Both `from_json` passes
    * run on every row.
    *
    * Null values (Kafka tombstones) and empty/whitespace-only values —
    * where `from_json` returns a null STRUCT instead of a corrupt-marked
    * one — are marked corrupt too, so the DLQ contract ("every
    * unparseable value is emitted raw for replay") holds for them rather
    * than silently skipping. A DLQ'd tombstone re-emits as a null-valued
    * record, which Kafka accepts.
    */
  private def parseAll(envelopes: DataFrame): DataFrame = {
    import org.apache.spark.sql.types.StringType
    // PERMISSIVE from_json yields an all-null struct (not null) for corrupt
    // input, so malformed-drop needs an explicit corrupt-record marker.
    val opts = Map("columnNameOfCorruptRecord" -> Corrupt)
    val full = schemas.mergedSchema.add(Corrupt, StringType)
    val minimal = org.apache.spark.sql.types.StructType(
      Envelope.metaSchema.fields).add(Corrupt, StringType)
    val parsed = envelopes
      .withColumn("__p", from_json(col("value").cast("string"), full, opts))
      .withColumn("__m", from_json(col("value").cast("string"), minimal, opts))
    val fullOk = col("__p").isNotNull && col(s"__p.$Corrupt").isNull
    val payloadFields = schemas.mergedSchema.fields
      .filterNot(f => Envelope.MetaFields.contains(f.name))
    val cols =
      payloadFields.map(f => when(fullOk, col(s"__p.${f.name}")).as(f.name)) ++
        Envelope.MetaFields.map(m =>
          when(fullOk, col(s"__p.$m")).otherwise(col(s"__m.$m")).as(m)) :+
        // corrupt marker: null value (tombstone) / null parse result (empty
        // input) / both-parse failure; null marker = successfully parsed
        when(col("value").isNull, lit("<null value>"))
          .when(col("__m").isNull, coalesce(col("value").cast("string"), lit("")))
          .when(fullOk, lit(null).cast(StringType))
          .otherwise(col(s"__m.$Corrupt")).as(Corrupt)
    parsed.select(col("topic") +: col("value") +: cols.toSeq: _*)
  }

  def parse(envelopes: DataFrame): DataFrame =
    parseAll(envelopes).filter(col(Corrupt).isNull).drop(Corrupt)

  /** Route predicate (O10): `topic = r.topic AND (r.eventName IS NULL OR
    * code = r.eventName)` — null-tolerant: a missing `code` only matches
    * global listeners. */
  def predicate(r: Route): Column =
    col("topic") === lit(r.topic) &&
      r.eventName.map(e => col(Envelope.CodeField) === lit(e)).getOrElse(lit(true))

  /** Dispatch one parsed batch through every matching route. Handler errors
    * follow the configured [[ErrorPolicy]] — the reference swallows + logs
    * (LogAndContinue); FailFast lets the micro-batch retry. Outside
    * [[process]]'s scope each emit is written when it is called. */
  def dispatch(parsed: DataFrame): Unit = {
    val current = synchronized(routes.toSeq)
    current.foreach { r =>
      val branch = parsed.filter(predicate(r)).drop("topic", "value")
      try r.handler(branch, emitter)
      catch {
        case e: Exception if config.errorPolicy == ErrorPolicy.LogAndContinue =>
          logError(s"Handler for (${r.topic}, ${r.eventName.getOrElse("*")}) failed", e)
      }
    }
  }

  /** Batch entry: parse + dispatch a static envelope DataFrame (the batch
    * twin of `start`, also the testkit path). */
  def process(envelopes: DataFrame): Unit = {
    if (config.strategy == Strategy.OneByOne) processOneByOne(envelopes)
    else {
      // Only the DLQ reads the raw value, and only for corrupt rows.
      val batch = parseAll(envelopes)
        .withColumn("value", when(col(Corrupt).isNotNull, col("value")))
      var rows: RDD[InternalRow] = null
      try route(GraftShims.reshapedRows(batch) { r => rows = Emitter.cachedRows(r); rows })
      finally if (rows != null) rows.unpersist(blocking = false)
    }
  }

  /** Dispatch and DLQ for one parsed batch in one emit scope, flushed as
    * one Spark job. Under LogAndContinue a write that fails at run time
    * is retried emit by emit against the same host and the failures are
    * logged — the output of a per-route try/catch; FailFast rethrows. */
  private def route(all: DataFrame): Unit =
    emitter.scoped(isolate = config.errorPolicy == ErrorPolicy.LogAndContinue) {
      dispatch(all.filter(col(Corrupt).isNull).drop(Corrupt))
      // DLQ extension: malformed values are emitted raw for replay
      // (reference parity = silent skip; both commit the offset).
      config.dlqTopic.foreach { t =>
        emitter.emitRaw(all.filter(col(Corrupt).isNotNull).select(col("value")), t)
      }
    }

  /** Strict serial parity mode (O13): every message individually, in order.
    * Driver-side by construction — the reference only achieves global order
    * because Node is single-threaded; document and use only for compat. */
  private def processOneByOne(envelopes: DataFrame): Unit = {
    val spark = envelopes.sparkSession
    import spark.implicits._
    envelopes.select(col("topic").cast("string"), col("value").cast("string"))
      .as[(String, String)].collect()
      .foreach { case (t, v) => route(parseAll(Seq((t, v)).toDF("topic", "value"))) }
  }

  /** Start routing a streaming envelope source `(topic, value)` — one
    * `foreachBatch` that caches each parsed micro-batch and multicasts it over
    * the route branches. Batch N+1 is not fetched until N completes: that
    * barrier IS the backpressure (O12). */
  def start(
      stream: DataFrame,
      trigger: Trigger = Trigger.ProcessingTime(0),
      queryName: String = "graft-router"): StreamingQuery = synchronized {
    require(routes.nonEmpty, "Cannot start the consumer without routes")
    require(config.onlyTesting || config.groupId.exists(_.trim.nonEmpty),
      "Cannot start the consumer without a groupId")
    val writer = stream.writeStream
      .queryName(queryName)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, _: Long) => process(batch) }
    config.checkpointLocation.foreach(writer.option("checkpointLocation", _))
    val q = writer.start()
    active = Some(q)
    q
  }

  /** Stop the active streaming query (O21). */
  def stop(): Unit = { active.foreach(_.stop()); active = None }
}
