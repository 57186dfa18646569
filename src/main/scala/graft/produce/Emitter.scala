package graft.produce

import java.time.format.DateTimeFormatter
import java.time.{Instant, ZoneOffset}
import scala.annotation.tailrec
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode

import org.apache.spark.{NarrowDependency, RangeDependency}
import org.apache.spark.internal.Logging
import org.apache.spark.rdd.{PartitionCoalescer, PartitionGroup, RDD}
import org.apache.spark.sql.{Column, DataFrame, GraftShims, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.core.{EngineConfig, Envelope}
import graft.functions.ToUpperCamelCase
import graft.streaming.KafkaBridge
import org.apache.spark.unsafe.types.UTF8String

/** One emitted batch: every message of one `emit` call for one topic —
  * the analog of the reference's `Payload {topic, messages:[{value}]}`
  * (producer/legacy-producer.ts:23-28). */
final case class EmittedBatch(topic: String, values: Seq[String])

/** The produce path (reference operators O2–O5, O15, O22 — SURVEY.md §2.1).
  *
  * Responsibilities, each mapped Spark-first:
  *  - **Envelope enrichment** (O4): a pure `Column` projection — payload
  *    fields first, then `createdAt`, `appName`, `code` in exactly the
  *    reference's serialized field order (its tests assert the JSON
  *    byte-exact, producer/__tests__/index.test.ts:58-71).
  *  - **Fan-out** (O5): `data: array<struct>` → `explode`, one message per
  *    element.
  *  - **Validation** (O22): analysis-time failures before any job runs —
  *    reserved `code` column, blank eventName.
  *  - **Emit scope** (one job per flush): [[scoped]] defers every emit
  *    of the calling thread — enriched and validated eagerly, so analysis
  *    errors still surface at the call — and flushes them at the end as
  *    ONE union of slot-tagged `(slot, topic, value)` frames. The router
  *    scopes each micro-batch, so all its routes' emits and its DLQ run as
  *    one Spark job instead of one job per call; an emit outside any
  *    scope is simply a one-slot flush. The flush runs one task per
  *    child-partition index: task j runs partition j of every slot frame,
  *    in call order. The router's frames all read one cached batch, so
  *    a batch over P source partitions runs P tasks, and each source
  *    partition is shipped to the executors once per flush rather than
  *    once per emit. That is the gain where the source partitions carry
  *    the rows (a memory stream, a local frame); a Kafka source partition
  *    carries only an offset range, so there it saves task launches only.
  *  - **Kafka sink** (O2) + **multi-cluster replication** (O3): a flush
  *    writes its frame once per host, each row to its own `topic` column
  *    (the sink options set no `topic`). With more than one host the frame
  *    is computed once: its rows are cached under its plan leaf, not as a
  *    CacheManager entry, and released after the last host. The Kafka
  *    connector pools producers per executor — the reference's
  *    hand-rolled connection pool + TTL (O17) is engine-managed
  *    (`spark.kafka.producer.cache.timeout`).
  *    Write order: within one source partition, one task writes the emits
  *    in call order; across source partitions there is no order. A failed
  *    write under isolation is retried emit by emit against that host
  *    only; rows of the failed job's tasks that had already finished reach
  *    that host twice (at-least-once).
  *  - **In-memory test sink** (O15): `onlyTesting` collects the flush
  *    once and splits it back per slot, in call order, so each emit still
  *    captures its own [[EmittedBatch]]; `getParsedEmittedEvents` can
  *    replicate the reference's per-batch `.reverse()` quirk behind
  *    `parsedEventsReverseCompat`.
  *
  * The clock is injectable (the reference's tests freeze time with
  * MockDate; ours pass a fixed `() => Instant`), and so is `sink`, the
  * write of one frame to one host, so tests can observe per-host writes
  * without a broker.
  */
final class Emitter(
    val config: EngineConfig,
    clock: () => Instant = Emitter.WallClock,
    sink: (DataFrame, EngineConfig, String) => Unit = KafkaBridge.sink)
  extends Logging {

  import Emitter._

  private val captured = mutable.ArrayBuffer.empty[EmittedBatch]
  /** The calling thread's open scope: its deferred emits in call order,
    * or null outside [[scoped]]. */
  private val open = new ThreadLocal[mutable.ArrayBuffer[Slot]]

  // ---------------------------------------------------------------- enrich

  /** Envelope-enrich a payload DataFrame for `topic`. Pure projection —
    * stays inside whole-stage codegen; `ToUpperCamelCase` is applied
    * driver-side because `code` derives from the emit call's
    * eventName/topic, not from data (producer/legacy-producer.ts:44). */
  def enrich(df: DataFrame, topic: String, eventName: Option[String] = None): DataFrame = {
    validate(df, topic, eventName)
    val code = upperCamel(eventName.getOrElse(topic))
    // With the default wall clock the stamp is a current_timestamp()
    // EXPRESSION, re-evaluated per batch query / per micro-batch — a
    // literal would freeze stream-start time into a long-running
    // writeStream plan. An injected clock (tests) becomes a literal.
    // Rendering goes through to_utc_timestamp so the string is UTC wall
    // time in ANY session timezone (the reference's toISOString semantics).
    val nowStamp: Column =
      if (clock eq Emitter.WallClock)
        date_format(
          to_utc_timestamp(current_timestamp(), current_timezone()),
          Envelope.CreatedAtPattern)
      else lit(formatCreatedAt(clock()))
    val createdAt: Column =
      if (df.columns.contains(Envelope.CreatedAtField))
        coalesce(col(Envelope.CreatedAtField), nowStamp)
      else nowStamp
    val appName: Column =
      if (df.columns.contains(Envelope.AppNameField))
        coalesce(col(Envelope.AppNameField), lit(config.resolveAppName()))
      else lit(config.resolveAppName())
    // Field order parity with `{...payload, createdAt: ..., appName, code}`:
    // JS object spread keeps a re-assigned key at its ORIGINAL position, so
    // payload-supplied createdAt/appName stay in place; only meta fields the
    // payload lacks are appended (createdAt, appName), and `code` (reserved,
    // never in payloads) is always last.
    val inPlace = df.columns.map {
      case Envelope.CreatedAtField => createdAt.as(Envelope.CreatedAtField)
      case Envelope.AppNameField => appName.as(Envelope.AppNameField)
      case c => col(c)
    }
    val appended =
      (if (df.columns.contains(Envelope.CreatedAtField)) Nil
       else Seq(createdAt.as(Envelope.CreatedAtField))) ++
        (if (df.columns.contains(Envelope.AppNameField)) Nil
         else Seq(appName.as(Envelope.AppNameField))) :+
        lit(code).as(Envelope.CodeField)
    df.select(
      lit(topic).as("topic"),
      to_json(struct(inPlace ++ appended: _*)).as("value"))
  }

  /** Fan-out (O5): one message per element of an array column. */
  def fanOut(df: DataFrame, arrayCol: String = "data"): DataFrame = {
    val others = df.columns.filterNot(_ == arrayCol).map(col)
    df.select(explode(col(arrayCol)).as("__el") +: others: _*)
      .select(col("__el.*") +: others: _*)
      .drop(arrayCol)
  }

  // ------------------------------------------------------------------ emit

  /** Emit a payload DataFrame to `topic` on every configured host (batch).
    * `overwriteHosts` replaces the configured host set for this call only
    * (reference emit overload p3, producer/legacy-producer.ts:194).
    *
    * A 0-row DataFrame emits nothing and records no captured batch —
    * consistent with [[emitStream]]'s per-micro-batch capture. The
    * reference instead REJECTS an empty `data` array eagerly
    * (producer/legacy-producer.ts:180 "Data array can't be empty"); that
    * validation is not reproducible here because a DataFrame's row count
    * is unknown until the job runs — documented deviation.
    *
    * Inside a [[scoped]] block the frame is enriched and validated here
    * but written when the scope flushes.
    *
    * Returns `Unit`, not per-record acks: the reference resolves each send
    * to `RecordMetadata[][]` (one array per host,
    * producer/legacy-producer.ts:196-209, resolved at 199-206). Spark's
    * Kafka sink acks at job granularity — the flush's `save()` returning
    * IS the all-partitions-acked signal; per-record topic/partition/offset
    * metadata never reaches the driver (and collecting it for billions of
    * rows would be an anti-pattern). Callers who branched on RecordMetadata
    * in the reference should branch on the flush's success/exception
    * instead — documented deviation (SURVEY.md §7.4.8). */
  def emit(
      df: DataFrame,
      topic: String,
      eventName: Option[String] = None,
      overwriteHosts: Option[Seq[String]] = None): Unit =
    record(Slot(topic, resolveHosts(overwriteHosts),
      Some(enrich(df, topic, eventName).select("value")), Nil))

  /** Driver-side convenience emit of literal JSON documents — the analog of
    * the reference's `emit({topic, data})` with plain objects. Object key
    * order is preserved; enrichment appends the meta fields exactly like
    * `JSON.stringify({...data, createdAt, appName, code})`. */
  def emitJson(
      topic: String,
      docs: Seq[String],
      eventName: Option[String] = None): Unit = {
    require(docs.nonEmpty, "The data attribute must not be an empty array")
    eventName.foreach(e =>
      require(e.trim.nonEmpty, "The eventName attribute cannot be an empty string"))
    val code = upperCamel(eventName.getOrElse(topic))
    val values = docs.map { doc =>
      val node = mapper.readTree(doc) match {
        case o: ObjectNode => o
        case _ => throw new IllegalArgumentException(
          "The data attribute must be an object or a non-empty array of objects")
      }
      require(!node.has(Envelope.CodeField),
        s"The payload is using a reserved property (${Envelope.CodeField})")
      if (!node.has(Envelope.CreatedAtField))
        node.put(Envelope.CreatedAtField, formatCreatedAt(clock()))
      if (!node.has(Envelope.AppNameField))
        node.put(Envelope.AppNameField, config.resolveAppName())
      node.put(Envelope.CodeField, code)
      mapper.writeValueAsString(node)
    }
    if (!config.onlyTesting) throw new IllegalStateException(
      "emitJson outside onlyTesting requires a Kafka cluster; use emit(df, ...)")
    record(Slot(topic, Nil, None, values))
  }

  /** Streaming emit: enrich + Kafka sink for every configured host via
    * foreachBatch (replicated sinks can't be a single writeStream). In
    * `onlyTesting` mode each micro-batch is captured in memory, like the
    * batch emit path. */
  def emitStream(
      df: DataFrame,
      topic: String,
      eventName: Option[String] = None,
      checkpoint: Option[String] = None): org.apache.spark.sql.streaming.StreamingQuery = {
    val enriched = enrich(df, topic, eventName)
    val hosts = resolveHosts(None)
    val writer = enriched.writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        write(Seq(Slot(topic, hosts, Some(batch.select("value")), Nil)), isolate = false)
      }
    checkpoint.orElse(config.checkpointLocation)
      .foreach(writer.option("checkpointLocation", _))
    writer.start()
  }

  /** Raw passthrough emit (no envelope, no validation) — dead-letter
    * routing of unparseable message values. */
  private[graft] def emitRaw(df: DataFrame, topic: String): Unit =
    record(Slot(topic, resolveHosts(None),
      Some(df.select(col("value").cast("string").as("value"))), Nil))

  // ----------------------------------------------------------------- scope

  /** Run `body` with every emit of the calling thread deferred, then flush
    * them all at once: one Spark job in `onlyTesting` mode, one write per
    * host otherwise. Deferred emits keep their call order, batch
    * boundaries and value order. If `body` throws, nothing is flushed.
    * With `isolate`, a write that fails is retried with each emit on its
    * own, against the same host only, and the emits that fail alone are
    * logged, so one bad frame or one down host loses only its own rows
    * (the router's LogAndContinue). A nested scope joins the open one. */
  private[graft] def scoped(isolate: Boolean)(body: => Unit): Unit =
    if (open.get != null) body
    else {
      val slots = mutable.ArrayBuffer.empty[Slot]
      open.set(slots)
      try body finally open.remove()
      write(slots.toSeq, isolate)
    }

  private def record(slot: Slot): Unit = open.get match {
    case null => write(Seq(slot), isolate = false)
    case slots => slots += slot
  }

  /** Tag each slot's frame with its index and run all of them as one
    * [[flush]] frame: one `collect` in `onlyTesting` mode, otherwise one
    * write per host. Capture splits the collected rows back per slot: the
    * flush keeps each slot's rows in their own order. */
  private def write(slots: Seq[Slot], isolate: Boolean): Unit = {
    val parts = slots.zipWithIndex.flatMap { case (s, i) =>
      s.frame.map(f => s -> f.select(lit(i).as("slot"), lit(s.topic).as("topic"), col("value")))
    }
    if (config.onlyTesting) {
      val rows = mutable.ArrayBuffer.empty[Row]
      if (parts.nonEmpty) attempt(parts, flush(parts), isolate)(rows ++= _.collect())
      val bySlot = rows.toSeq.groupMap(_.getInt(0))(_.getString(2))
      val batches = slots.zipWithIndex.flatMap { case (s, i) =>
        val values = if (s.frame.isEmpty) s.docs else bySlot.getOrElse(i, Nil)
        if (values.isEmpty) None else Some(EmittedBatch(s.topic, values))
      }
      synchronized { captured ++= batches }
    } else parts.map(_._1.hosts).distinct.foreach { hosts =>
      val mine = parts.filter(_._1.hosts == hosts)
      // Multi-cluster replication (O3): compute once, write per host.
      // Exactly-once across clusters is impossible; like the reference these
      // are independent at-least-once sends (SURVEY.md §7.4.7). Each host
      // is isolated on its own, so a failing host never re-writes another.
      // The frame is built inside the first attempt: building it can fail.
      // With more than one host its rows are cached under its plan leaf.
      var kept: RDD[InternalRow] = null
      var all: Option[DataFrame] = None
      def once(): DataFrame = all.getOrElse {
        val keep = (rows: RDD[InternalRow]) => { kept = cachedRows(rows); kept }
        val f = flush(mine, if (hosts.size > 1) Some(keep) else None)
        all = Some(f)
        f
      }
      try hosts.foreach(host =>
        attempt(mine, once(), isolate)(f => sink(f.select("value", "topic"), config, host)))
      finally if (kept != null) kept.unpersist(blocking = false)
    }
  }

  /** Run `job` on `whole`, the flush of `parts`. With `isolate`, if
    * building or running it fails, run `job` on each part alone and log
    * the parts that fail. */
  private def attempt(parts: Seq[(Slot, DataFrame)], whole: => DataFrame, isolate: Boolean)(
      job: DataFrame => Unit): Unit =
    try job(whole) catch {
      case _: Exception if isolate && parts.size > 1 =>
        parts.foreach(p => attempt(Seq(p), p._2, isolate)(job))
      case e: Exception if isolate => logError(s"Emit to ${parts.head._1.topic} failed", e)
    }

  /** The union of `parts` with one task per child-partition index: task j
    * runs partition j of every part, in part order ([[BySourcePartition]]).
    * The router's parts all read one cached batch, so each of its
    * source partitions is serialized into one task per flush instead of
    * one per part. `keep` wraps the grouped rows (the multi-host write
    * caches them there); a lone part with nothing to keep is its own
    * frame. */
  private def flush(
      parts: Seq[(Slot, DataFrame)],
      keep: Option[RDD[InternalRow] => RDD[InternalRow]] = None): DataFrame =
    if (parts.size == 1 && keep.isEmpty) parts.head._2
    else GraftShims.reshapedRows(parts.map(_._2).reduce(_ union _)) { rows =>
      val grouped = rows.coalesce(rows.getNumPartitions, partitionCoalescer = Some(BySourcePartition))
      keep.fold(grouped)(_(grouped))
    }

  private def resolveHosts(overwrite: Option[Seq[String]]): Seq[String] =
    overwrite.filter(_.nonEmpty).getOrElse(config.host +: config.additionalHosts)

  private def validate(df: DataFrame, topic: String, eventName: Option[String]): Unit = {
    require(topic.trim.nonEmpty, "The topic attribute cannot be an empty string")
    eventName.foreach(e =>
      require(e.trim.nonEmpty, "The eventName attribute cannot be an empty string"))
    require(!df.columns.contains(Envelope.CodeField),
      s"The payload is using a reserved property (${Envelope.CodeField})")
  }

  // ------------------------------------------------------- test accessors

  /** Raw captured batches (reference `getEmittedEvents`). */
  def getEmittedEvents: Seq[EmittedBatch] = synchronized(captured.toSeq)

  /** Parsed captured events as (topic, fieldMap). With
    * `parsedEventsReverseCompat` each batch's messages are reversed, exactly
    * replicating producer/legacy-producer.ts:77 (which looks like a bug —
    * deviation documented, default off). */
  def getParsedEmittedEvents: Seq[(String, Map[String, Any])] = synchronized {
    captured.toSeq.flatMap { b =>
      val vs = if (config.parsedEventsReverseCompat) b.values.reverse else b.values
      vs.map(v => b.topic -> jsonToMap(v))
    }
  }

  def clearEmittedEvents(): Unit = synchronized(captured.clear())
}

object Emitter {
  /** Sentinel default clock: identity-compared in [[Emitter.enrich]] to
    * decide between a per-batch `current_timestamp()` expression (wall
    * clock) and a frozen literal (injected test clock). */
  val WallClock: () => Instant = () => Instant.now()

  /** `rows` cached for reuse within one batch, released by the caller with
    * `unpersist`: the per-batch owners (the router's parsed batch, the
    * multi-host flush) cache rows under a plan leaf this way, never as a
    * CacheManager entry. `toRdd` reuses its row buffers, hence the copy. */
  private[graft] def cachedRows(rows: RDD[InternalRow]): RDD[InternalRow] =
    rows.map(_.copy()).persist(StorageLevel.MEMORY_AND_DISK)

  /** One deferred emit: its topic and hosts, and either its `value` frame
    * or, for [[Emitter.emitJson]], its literal documents. */
  private final case class Slot(
      topic: String, hosts: Seq[String], frame: Option[DataFrame], docs: Seq[String])

  /** Groups a union's partitions by their index within their own child,
    * in union order, so group j holds every child's partition j. The key
    * walks down one-to-one wrappers (`toRdd` wraps the union in a
    * `SQLExecutionRDD`) to the union's `RangeDependency`s; partitions of
    * any other lineage keep a group each. Children with fewer partitions
    * are simply absent from the higher groups. */
  private object BySourcePartition extends PartitionCoalescer with Serializable {
    def coalesce(maxPartitions: Int, parent: RDD[_]): Array[PartitionGroup] =
      parent.partitions.groupBy(p => childIndex(parent, p.index)).toArray.sortBy(_._1).map {
        case (_, ps) =>
          val g = new PartitionGroup(parent.preferredLocations(ps.head).headOption)
          g.partitions ++= ps
          g
      }

    @tailrec private def childIndex(rdd: RDD[_], p: Int): Int = rdd.dependencies match {
      case Seq(d: NarrowDependency[_]) if !d.isInstanceOf[RangeDependency[_]] &&
          d.getParents(p).size == 1 =>
        childIndex(d.rdd, d.getParents(p).head)
      case deps =>
        deps.iterator.collect { case r: RangeDependency[_] => r.getParents(p) }
          .collectFirst { case Seq(q) => q }.getOrElse(p)
    }
  }

  private val mapper = new ObjectMapper()

  private val createdAtFmt =
    DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss'Z'").withZone(ZoneOffset.UTC)

  /** Second-precision, space-separated, UTC — the reference's non-standard
    * ISO variant (producer/legacy-producer.ts:42). */
  def formatCreatedAt(i: Instant): String = createdAtFmt.format(i)

  /** Driver-side twin of the [[graft.functions.ToUpperCamelCase]] expression. */
  def upperCamel(s: String): String =
    ToUpperCamelCase.transform(UTF8String.fromString(s)).toString

  private def jsonToMap(json: String): Map[String, Any] = {
    def conv(n: com.fasterxml.jackson.databind.JsonNode): Any = n match {
      case o: ObjectNode =>
        o.properties().asScala.map(e => e.getKey -> conv(e.getValue)).toMap
      case a if a.isArray => a.asScala.map(conv).toSeq
      case v if v.isTextual => v.asText()
      case v if v.isIntegralNumber => v.asLong()
      case v if v.isNumber => v.asDouble()
      case v if v.isBoolean => v.asBoolean()
      case v if v.isNull => null
      case v => v.asText()
    }
    conv(mapper.readTree(json)).asInstanceOf[Map[String, Any]]
  }
}
