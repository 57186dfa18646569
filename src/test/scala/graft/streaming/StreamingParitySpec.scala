package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.DecimalType

import graft.SparkSuite
import graft.SparkEntry
import graft.core.{SessionScope, Tables}

/** Streaming↔batch parity over the REAL harness events data: the same
  * aggregation expressed as a streaming query over a file source must
  * produce exactly the batch query's rows. This is the engine's core
  * promise — one declarative plan, batch and incremental execution
  * interchangeable. */
class StreamingParitySpec extends SparkSuite {

  private val sf = "/root/testdata/sf0.001"

  /** Events staged through [[Tables.events]]'s normalized read (the raw
    * table's ts encoding drifts across regenerations; staging pins the
    * streaming file source to the normalized TimestampType schema). */
  private lazy val stagedEvents: String = {
    val dir = Files.createTempDirectory("graft-events-staged").toString + "/ev"
    Tables.events(spark, sf).write.mode("overwrite").parquet(dir)
    dir
  }

  /** Run `agg` (built from a streaming scan of the staged events) to
    * completion in complete mode and return the memory sink's rows.
    * Asserts the query actually terminated — a timeout must fail loudly,
    * not leak into a confusing partial-result comparison. */
  private def runComplete(sinkName: String)(agg: DataFrame => DataFrame): Set[Seq[Any]] = {
    val schema = spark.read.parquet(stagedEvents).schema
    val q = agg(spark.readStream.schema(schema).parquet(stagedEvents))
      .writeStream.outputMode("complete")
      .format("memory").queryName(sinkName)
      .trigger(Trigger.AvailableNow()).start()
    assert(q.awaitTermination(120000), s"$sinkName did not finish within 120 s")
    spark.table(sinkName).collect().map(_.toSeq).toSet
  }

  /** The shared event-time window aggregation: tumbling when `slide` is
    * empty, sliding otherwise — must equal its batch twin exactly. */
  private def windowedParity(batchName: String, sinkName: String, slide: Option[String]): Unit = {
    val batch = SparkEntry.queries(batchName)(spark, sf)
      .collect().map(_.toSeq).toSet
    val streamed = runComplete(sinkName) { events =>
      val win = slide.fold(window(col("ts"), "1 hour"))(s => window(col("ts"), "1 hour", s))
      events
        .groupBy(win, col("event_type"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("value").cast(DecimalType(14, 2))), 2)
            .cast("double").as("total_value"))
        .select(col("window.start").cast("timestamp_ntz").as("window_start"),
          col("event_type"), col("n"), col("total_value"))
    }
    assert(streamed == batch,
      s"streaming rows ${streamed.size} vs batch rows ${batch.size}")
  }

  test("streaming hourly window aggregation equals batch q17") {
    windowedParity("q17_hourly_events", "parity_win", slide = None)
  }

  test("streaming sliding windows equal batch q41 (overlap expansion)") {
    windowedParity("q41_sliding_windows", "parity_slide", slide = Some("15 minutes"))
  }

  test("streaming session_window matches batch gap-based sessionization") {
    // batch q18 sessions: (user_id, session_start, n_events)
    val batch = SparkEntry.queries("q18_sessionize")(spark, sf)
      .select("user_id", "session_start", "n_events")
      .collect().map(_.toSeq).toSet
    val streamed = runComplete("parity_sess") { events =>
      events
        .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
        .agg(count(lit(1)).as("n_events"))
        .select(col("user_id"),
          col("session_window.start").cast("timestamp_ntz").as("session_start"),
          col("n_events"))
    }
    assert(streamed == batch,
      s"streaming sessions ${streamed.size} vs batch sessions ${batch.size}")
  }

  test("streaming incremental exact dedup admits one representative per batch-d01 group") {
    // the arriving-corpus form of d01: dropDuplicates on the 16-byte text
    // fingerprint keyed state — the distinct-fingerprint SET must equal
    // the batch census exactly, with exactly one surviving row per group
    // (which doc survives is arrival-order-dependent, unlike batch d01's
    // deterministic min-id representative — the documented delta)
    val batch = graft.ext.Dedup.queries("d01_dedup_exact")(spark, sf)
      .select("fp").collect().map(_.getString(0)).toSet
    val docsDir = {
      val dir = Files.createTempDirectory("graft-docs-dedup").toString + "/docs"
      Tables.documents(spark, sf).write.mode("overwrite").parquet(dir)
      dir
    }
    val schema = spark.read.parquet(docsDir).schema
    val deduped = spark.readStream.schema(schema).parquet(docsDir)
      .select(md5(col("text").cast("binary")).as("fp"))
      .dropDuplicates("fp")
    val q = deduped.writeStream.outputMode("append")
      .format("memory").queryName("parity_dedup")
      .trigger(Trigger.AvailableNow()).start()
    assert(q.awaitTermination(120000), "parity_dedup did not finish within 120 s")
    val streamed = spark.table("parity_dedup").collect().map(_.getString(0))
    assert(streamed.length == streamed.toSet.size, "a fingerprint surfaced twice")
    assert(streamed.toSet == batch,
      s"streaming kept ${streamed.length} fingerprints vs batch ${batch.size}")
  }

  test("streaming span dedup admits one row per batch chunk hash (d13's unit)") {
    // the arriving-corpus form of the d13/d16 span family: the SAME narrow
    // chunking transform over a streaming scan, deduped by
    // dropDuplicatesWithinWatermark on the 16-byte chunk hash — the
    // surviving hash SET must equal the batch distinct set, with exactly
    // one surviving row per hash (which instance survives is
    // arrival-order-dependent, like the d01 streaming twin above)
    val batch = graft.ext.Dedup.chunkHashesOf(Tables.documents(spark, sf))
      .select("h").distinct().collect().map(_.getString(0)).toSet
    val docsDir = {
      val dir = Files.createTempDirectory("graft-docs-chunks").toString + "/docs"
      Tables.documents(spark, sf).write.mode("overwrite").parquet(dir)
      dir
    }
    val schema = spark.read.parquet(docsDir).schema
    val deduped = graft.ext.Dedup.chunkHashesOf(
        spark.readStream.schema(schema).parquet(docsDir))
      // synthesized arrival time (docs carry none): doc_id seconds past a
      // fixed epoch — spread ≪ the 1 h horizon, so no state evicts and the
      // stream dedups globally, making batch equality exact
      .withColumn("ts", expr(
        "timestampadd(SECOND, CAST(doc_id AS INT), TIMESTAMP'2026-01-01 00:00:00')"))
      .withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark("h")
      .select(col("h"))
    val q = deduped.writeStream.outputMode("append")
      .format("memory").queryName("parity_chunks")
      .trigger(Trigger.AvailableNow()).start()
    assert(q.awaitTermination(120000), "parity_chunks did not finish within 120 s")
    val streamed = spark.table("parity_chunks").collect().map(_.getString(0))
    assert(streamed.length == streamed.toSet.size, "a chunk hash surfaced twice")
    assert(streamed.toSet == batch,
      s"streaming kept ${streamed.length} chunk hashes vs batch ${batch.size}")
  }

  test("streaming corpus build ships exactly the batch c09 span set") {
    // the FULL pipeline as one stream: quality gate + language-agreement
    // gate (narrow, stateless) → exact-dup dropDuplicates on the text
    // fingerprint → chunking → span dropDuplicatesWithinWatermark. The
    // set of shipped chunk hashes must equal the batch build's kept set
    // (batch keeps exactly one instance per hash, so kept = distinct)
    import graft.ext.{Dedup, TextAnalysis}
    val gates = { df: DataFrame =>
      df.withColumn("w", split(trim(col("text")), graft.core.Tok.Ws))
        .withColumn("n_tokens", size(col("w")))
        .withColumn("punct_cnt", TextAnalysis.punctCol(col("text")))
        .withColumn("en_hits", TextAnalysis.hitsCol(col("w"), "en"))
        .withColumn("de_hits", TextAnalysis.hitsCol(col("w"), "de"))
        .withColumn("es_hits", TextAnalysis.hitsCol(col("w"), "es"))
        .withColumn("fr_hits", TextAnalysis.hitsCol(col("w"), "fr"))
        .filter(TextAnalysis.qualityCol(col("text"), col("n_tokens"),
            col("punct_cnt"), col("en_hits")) >= 0.5
          && TextAnalysis.predictedCol(col("en_hits"), col("de_hits"),
            col("es_hits"), col("fr_hits")) === col("lang"))
        .select(col("doc_id"), col("source"), col("text"))
    }
    val batch = Dedup.chunkHashesOf(gates(Tables.documents(spark, sf)))
      .select("h").distinct().collect().map(_.getString(0)).toSet
    assert(batch.nonEmpty, "gates filtered out the whole sf0.001 corpus")
    val docsDir = {
      val dir = Files.createTempDirectory("graft-docs-build").toString + "/docs"
      Tables.documents(spark, sf).write.mode("overwrite").parquet(dir)
      dir
    }
    val schema = spark.read.parquet(docsDir).schema
    val shipped = Dedup.chunkHashesOf(
        gates(spark.readStream.schema(schema).parquet(docsDir))
          .withColumn("fp", md5(col("text").cast("binary")))
          .dropDuplicates("fp"))
      .withColumn("ts", expr(
        "timestampadd(SECOND, CAST(doc_id AS INT), TIMESTAMP'2026-01-01 00:00:00')"))
      .withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark("h")
      .select(col("h"))
    val q = shipped.writeStream.outputMode("append")
      .format("memory").queryName("parity_build")
      .trigger(Trigger.AvailableNow()).start()
    assert(q.awaitTermination(120000), "parity_build did not finish within 120 s")
    val streamed = spark.table("parity_build").collect().map(_.getString(0))
    assert(streamed.length == streamed.toSet.size, "a span shipped twice")
    assert(streamed.toSet == batch,
      s"streaming shipped ${streamed.length} spans vs batch ${batch.size}")
  }

  test("incremental dedup runs as a stream: static-base hits reproduce batch d17") {
    // d17's production mode is CONTINUOUS ingest: the increment arrives as
    // a stream and joins the STATIC base ledger (fingerprints + LSH
    // bands + signatures) — both stages are stream-static equi-joins, so
    // the plan is append-mode with zero streaming state. The streamed hit
    // set, reduced by d17's verdict rules (exact > near, min base match),
    // must reproduce the batch operator's verdict for every increment doc.
    import graft.ext.Dedup
    val batch = Dedup.queries("d17_incremental_dedup")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(2),
        if (r.isNullAt(3)) None else Some(r.getLong(3)))).toSet
    val isNew = col("doc_id") % 10 === 7
    val docs = Tables.documents(spark, sf)
    val P = Dedup.MinhashP
    def bandsOf(sigs: DataFrame, idAs: String) = {
      val bandCols = (0 until 4).map(b => struct(
        lit(b).as("bi"), (col(s"s${2 * b}") * P + col(s"s${2 * b + 1}")).as("bk")))
      sigs.filter(col("s0") =!= Long.MaxValue)
        .select((col("doc_id").as(idAs) +: explode(array(bandCols: _*)).as("band") +:
          (0 until 8).map(j => col(s"s$j"))): _*)
        .select((col(idAs) +: col("band.bi") +: col("band.bk") +:
          (0 until 8).map(j => col(s"s$j"))): _*)
    }
    // the static base ledger a real pipeline maintains between ingests
    val baseFp = docs.filter(!isNew)
      .select(md5(col("text").cast("binary")).as("fp"), col("doc_id").as("oid"))
    val baseBands = bandsOf(Dedup.sigsOf(docs.filter(!isNew)), "oid")
      .withColumnsRenamed((0 until 8).map(j => s"s$j" -> s"t$j").toMap)
    val docsDir = {
      val dir = Files.createTempDirectory("graft-docs-incr").toString + "/docs"
      docs.write.mode("overwrite").parquet(dir)
      dir
    }
    val schema = spark.read.parquet(docsDir).schema
    val inc = spark.readStream.schema(schema).parquet(docsDir).filter(isNew)
    val exactHits = inc
      .select(col("doc_id").as("nid"), md5(col("text").cast("binary")).as("fp"))
      .join(baseFp, "fp")
      .select(col("nid"), col("oid"), lit("exact").as("kind"))
    val agree = (0 until 8)
      .map(j => when(col(s"s$j") === col(s"t$j"), 1).otherwise(0)).reduce(_ + _)
    val nearHits = bandsOf(Dedup.sigsOf(inc), "nid")
      .join(baseBands, Seq("bi", "bk"))
      .filter(agree >= 4)
      .select(col("nid"), col("oid"), lit("near").as("kind"))
    val q = exactHits.union(nearHits).writeStream.outputMode("append")
      .format("memory").queryName("parity_incr")
      .trigger(Trigger.AvailableNow()).start()
    assert(q.awaitTermination(120000), "parity_incr did not finish within 120 s")
    // batch epilogue (in production a foreachBatch upsert into the ledger):
    // reduce hits to d17's per-doc verdict
    val hits = spark.table("parity_incr").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    val byDoc = hits.groupBy(_._1)
    val streamedVerdicts = docs.filter(isNew).select("doc_id").collect()
      .map(_.getLong(0)).map { id =>
        byDoc.get(id) match {
          case Some(hs) if hs.exists(_._3 == "exact") =>
            (id, "exact_dup", Some(hs.filter(_._3 == "exact").map(_._2).min))
          case Some(hs) => (id, "near_dup", Some(hs.map(_._2).min))
          case None => (id, "kept", None)
        }
      }.toSet
    assert(streamedVerdicts == batch,
      s"stream ${streamedVerdicts.size} verdicts != batch ${batch.size}")
  }

  test("incremental corpus build runs as a stream: shipped spans equal batch c11") {
    // c11's production mode: the increment streams through (1) a
    // stream-static LEFT SEMI join against the dedup-verdict table (the
    // d17 stage — its own streaming parity is proven above, and real
    // pipelines gate ingest against exactly such a maintained table),
    // (2) the narrow quality + language gates, (3) chunking, (4) a
    // stream-static LEFT ANTI join against the base chunk ledger, and
    // (5) within-increment span dedup via dropDuplicatesWithinWatermark.
    // The shipped chunk-hash SET must equal the batch build's kept set
    // (batch keeps exactly one instance per never-seen hash; which
    // instance is arrival-order-dependent, as in the other span twins).
    import graft.ext.{Curation, Dedup}
    val isNew = col("doc_id") % 10 === 7
    val docs = Tables.documents(spark, sf)
    // batch reference: md5 every kept chunk of c11's cleaned output
    val batch = Curation.queries("c11_incremental_build")(spark, sf)
      .filter(col("kept_chunks") > 0)
      .select(col("doc_id"), split(col("cleaned_text"), " ").as("ws"))
      .select(explode(expr(
        """transform(sequence(0, CAST(ceil(size(ws) / 20.0) AS INT) - 1),
          |  i -> md5(CAST(concat_ws(' ', slice(ws, i * 20 + 1, 20)) AS BINARY)))"""
          .stripMargin)).as("h"))
      .collect().map(_.getString(0)).toSet
    assert(batch.nonEmpty, "batch c11 shipped nothing at sf0.001")
    val verdictTable = Dedup.queries("d17_incremental_dedup")(spark, sf)
      .filter(col("verdict") === "kept").select("doc_id")
    val ledger = Dedup.chunkHashesOf(docs.filter(!isNew)).select("h").distinct()
    val docsDir = {
      val dir = Files.createTempDirectory("graft-docs-c11").toString + "/docs"
      docs.write.mode("overwrite").parquet(dir)
      dir
    }
    val schema = spark.read.parquet(docsDir).schema
    val inc = spark.readStream.schema(schema).parquet(docsDir).filter(isNew)
      .join(verdictTable, Seq("doc_id"), "leftsemi")
    val shipped = Dedup.chunkHashesOf(Curation.gateStage(inc))
      .join(ledger, Seq("h"), "leftanti")
      .withColumn("ts", expr(
        "timestampadd(SECOND, CAST(doc_id AS INT), TIMESTAMP'2026-01-01 00:00:00')"))
      .withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark("h")
      .select(col("h"))
    val q = shipped.writeStream.outputMode("append")
      .format("memory").queryName("parity_c11")
      .trigger(Trigger.AvailableNow()).start()
    assert(q.awaitTermination(120000), "parity_c11 did not finish within 120 s")
    val streamed = spark.table("parity_c11").collect().map(_.getString(0))
    assert(streamed.length == streamed.toSet.size, "a span shipped twice")
    assert(streamed.toSet == batch,
      s"streaming shipped ${streamed.length} spans vs batch ${batch.size}")
  }

  test("curation hash gates are streaming-safe: c01 selection equals batch") {
    // narrow per-row hash gates (sampling, split assignment) run unchanged
    // on a stream — no state, no watermark, selection identical to batch
    val batch = graft.ext.Curation.queries("c01_stratified_sample")(spark, sf)
      .collect().map(_.getLong(0)).toSet

    val docsDir = {
      val dir = Files.createTempDirectory("graft-docs-staged").toString + "/docs"
      Tables.documents(spark, sf).write.mode("overwrite").parquet(dir)
      dir
    }
    val schema = spark.read.parquet(docsDir).schema
    val gated = spark.readStream.schema(schema).parquet(docsDir)
      .filter(graft.ext.Curation.sampleGate(col("doc_id"), col("lang")))
      .select(col("doc_id"))
    val q = gated.writeStream.outputMode("append")
      .format("memory").queryName("parity_gate")
      .trigger(Trigger.AvailableNow()).start()
    assert(q.awaitTermination(120000), "parity_gate did not finish within 120 s")
    val streamed = spark.table("parity_gate").collect().map(_.getLong(0)).toSet
    assert(streamed == batch,
      s"streaming gate selected ${streamed.size} vs batch ${batch.size}")
  }

  test("PII scrubbing runs unchanged on a document stream (t17's per-row stage)") {
    // the canonical ingest-time transform: stateless planting + regex
    // detect/redact — identical per-doc verdicts batch vs stream
    val batch = graft.ext.TextAnalysis.piiScrubbed(Tables.documents(spark, sf))
      .select(col("doc_id"), col("emails"), col("phones"), col("ips"),
        md5(col("st").cast("binary")).as("sh"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getString(4))).toSet

    val docsDir = {
      val dir = Files.createTempDirectory("graft-docs-pii").toString + "/docs"
      Tables.documents(spark, sf).write.mode("overwrite").parquet(dir)
      dir
    }
    val schema = spark.read.parquet(docsDir).schema
    val scrubbed = graft.ext.TextAnalysis.piiScrubbed(
        spark.readStream.schema(schema).parquet(docsDir))
      .select(col("doc_id"), col("emails"), col("phones"), col("ips"),
        md5(col("st").cast("binary")).as("sh"))
    val q = scrubbed.writeStream.outputMode("append")
      .format("memory").queryName("parity_pii")
      .trigger(Trigger.AvailableNow()).start()
    assert(q.awaitTermination(120000), "parity_pii did not finish within 120 s")
    val streamed = spark.table("parity_pii").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getString(4))).toSet
    assert(streamed == batch,
      s"streaming scrub produced ${streamed.size} verdicts vs batch ${batch.size}")
  }

  test("LM quality scoring runs as a stream against frozen batch-trained tables (t15)") {
    // the serving shape of the perplexity filter: LM tables trained in
    // batch (the c02 train split), a LIVE document stream scored against
    // the frozen broadcast tables — same lmPrep/lmScored definitions as
    // the batch query, so the gate cannot drift between modes
    import graft.ext.TextAnalysis
    val batch = SparkEntry.queries("t15_lm_bits")(spark, sf)
      .collect().map(_.toSeq).toSet

    val docsDir = {
      val dir = Files.createTempDirectory("graft-docs-lm").toString + "/docs"
      Tables.documents(spark, sf).write.mode("overwrite").parquet(dir)
      dir
    }
    val (tb, tc, vv) = TextAnalysis.lmTables(
      TextAnalysis.lmPrep(Tables.documents(spark, sf)))
    val schema = spark.read.parquet(docsDir).schema
    val scored = TextAnalysis.lmScored(
      TextAnalysis.lmPrep(spark.readStream.schema(schema).parquet(docsDir)),
      tb, tc, vv)
    val q = scored.writeStream.outputMode("complete")
      .format("memory").queryName("parity_lm")
      .trigger(Trigger.AvailableNow()).start()
    assert(q.awaitTermination(120000), "parity_lm did not finish within 120 s")
    val streamed = spark.table("parity_lm").collect().map(_.toSeq).toSet
    assert(streamed == batch,
      s"streaming scored ${streamed.size} docs vs batch ${batch.size}")
  }

  test("KN trigram scoring runs as a stream against frozen batch-trained tables (t22)") {
    // the serving shape of the Kneser–Ney quality gate, same discipline
    // as t15's twin: the five KN count tables are trained in batch from
    // the c02 train split and FROZEN; a live document stream is scored
    // against the broadcast tables by the identical knPrep/knScored
    // definitions, so the gate cannot drift between batch and serving.
    import graft.ext.TextAnalysis
    val batch = SparkEntry.queries("t22_kn_trigram_bits")(spark, sf)
      .collect().map(_.toSeq).toSet
    val docsDir = {
      val dir = Files.createTempDirectory("graft-docs-kn").toString + "/docs"
      Tables.documents(spark, sf).write.mode("overwrite").parquet(dir)
      dir
    }
    val tables = TextAnalysis.knTables(
      TextAnalysis.knPrep(Tables.documents(spark, sf)))
    val schema = spark.read.parquet(docsDir).schema
    val scored = TextAnalysis.knScored(
      TextAnalysis.knPrep(spark.readStream.schema(schema).parquet(docsDir)),
      tables)
    val q = scored.writeStream.outputMode("complete")
      .format("memory").queryName("parity_kn")
      .trigger(Trigger.AvailableNow()).start()
    assert(q.awaitTermination(120000), "parity_kn did not finish within 120 s")
    val streamed = spark.table("parity_kn").collect().map(_.toSeq).toSet
    assert(streamed == batch,
      s"streaming scored ${streamed.size} docs vs batch ${batch.size}")
  }

  test("cohort retention runs as a stream against frozen first-seen weeks (q44)") {
    // the live-retention-dashboard shape: per-user first-seen weeks are
    // the frozen index (batch-built — inherently historical), the event
    // feed streams against it, and the per-(cohort, offset, user)
    // activity aggregates in complete mode. Distinct-user reduction runs
    // on the bounded sink table (≤ weeks² × users rows) — the dashboard
    // read — and must reproduce the batch lattice exactly.
    val batch = SparkEntry.queries("q44_cohort_retention")(spark, sf)
      .collect().map(_.toSeq).toSet

    val wk = date_trunc("week", col("ts")).cast("date")
    val frozen = Tables.events(spark, sf)
      .select(col("user_id"), wk.as("wk"))
      .groupBy(col("user_id")).agg(min(col("wk")).as("cohort_week"))
    val schema = spark.read.parquet(stagedEvents).schema
    val live = spark.readStream.schema(schema).parquet(stagedEvents)
      .select(col("user_id"), wk.as("wk"))
      .join(frozen, "user_id")
      .withColumn("week_offset", expr("CAST(datediff(wk, cohort_week) DIV 7 AS INT)"))
      .groupBy(col("cohort_week"), col("week_offset"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
    val q = live.writeStream.outputMode("complete")
      .format("memory").queryName("parity_cohort")
      .trigger(Trigger.AvailableNow()).start()
    assert(q.awaitTermination(120000), "parity_cohort did not finish within 120 s")
    val streamed = spark.table("parity_cohort")
      .groupBy(col("cohort_week").cast("timestamp_ntz").as("cohort_week"),
        col("week_offset"))
      .agg(count(lit(1)).as("n_users"))
      .collect().map(_.toSeq).toSet
    assert(streamed == batch,
      s"streaming lattice ${streamed.size} cells vs batch ${batch.size}")
  }

  test("funnel conversion runs as a stream: per-user stage times and census equal batch q45") {
    // the stateful-streaming form of the funnel: one fixed-size state row
    // per user (transformWithState + RocksDB provider), real events
    // delivered in event-time order across three triggers — the live-feed
    // contract FunnelProcessor documents. Parity is checked at BOTH
    // levels: every user's (t1, t2, t3) against the engine's own batch
    // window pass, and the derived census against the q45 catalog row.
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    val prevProvider = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      // batch per-user stage times via the engine's q45 window machinery
      val w = Window.partitionBy($"user_id")
      val batchPerUser = Tables.events(spark, sf)
        .select($"user_id", $"event_type", $"ts")
        .withColumn("t1", min(when($"event_type" === "view", $"ts")).over(w))
        .withColumn("t2", min(when($"event_type" === "click" && $"ts" > $"t1", $"ts")).over(w))
        .withColumn("t3", min(when($"event_type" === "purchase" && $"ts" > $"t2", $"ts")).over(w))
        .groupBy($"user_id")
        .agg(max($"t1").as("t1"), max($"t2").as("t2"), max($"t3").as("t3"))
        .select($"user_id",
          coalesce(unix_micros($"t1"), lit(-1L)).as("t1"),
          coalesce(unix_micros($"t2"), lit(-1L)).as("t2"),
          coalesce(unix_micros($"t3"), lit(-1L)).as("t3"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet

      val ev = Tables.events(spark, sf)
        .select($"user_id", $"event_type", unix_micros($"ts").as("us"))
        .orderBy($"us", $"event_type", $"user_id")
        .as[(Long, String, Long)].collect()
      val mem = MemoryStream[(Long, String, Long)]
      val out = mem.toDS()
        .groupByKey(_._1)
        .transformWithState(new StatefulOps.FunnelProcessor(),
          TimeMode.None(), OutputMode.Update())
      val q = out.toDF("user_id", "seen", "t1", "t2", "t3")
        .writeStream.outputMode("update")
        .format("memory").queryName("parity_funnel").start()
      // three chronological triggers: the funnel must be INCREMENTALLY
      // correct across state checkpoints, not just on one big batch
      ev.grouped(math.max(1, ev.length / 3 + 1)).foreach { chunk =>
        mem.addData(chunk.toIndexedSeq)
        q.processAllAvailable()
      }
      val finalRows = spark.table("parity_funnel")
        .withColumn("rn", row_number().over(
          Window.partitionBy($"user_id").orderBy($"seen".desc)))
        .filter($"rn" === 1)
        .select($"user_id", $"t1", $"t2", $"t3")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      q.stop()
      assert(finalRows.map(_._1).toSet.size == finalRows.length, "duplicate final state rows")
      assert(finalRows.toSet == batchPerUser,
        s"streaming per-user stages ${finalRows.length} vs batch ${batchPerUser.size}")

      // census derived from the streamed states == the q45 catalog row
      val batchCensus = SparkEntry.queries("q45_funnel_conversion")(spark, sf)
        .collect().head
      def cnt(f: ((Long, Long, Long, Long)) => Long) = finalRows.count(f(_) >= 0).toLong
      val (nUsers, viewed, clicked, purchased) =
        (finalRows.length.toLong, cnt(_._2), cnt(_._3), cnt(_._4))
      def rate(num: Long, den: Long): Any =
        if (den == 0) null
        else BigDecimal(num.toDouble / den.toDouble)
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      val total = finalRows.filter(_._4 >= 0).map(r => r._4 - r._2).sum
      assert(batchCensus.getLong(0) == nUsers && batchCensus.getLong(1) == viewed
        && batchCensus.getLong(2) == clicked && batchCensus.getLong(3) == purchased,
        s"census counts drifted: $batchCensus vs ($nUsers, $viewed, $clicked, $purchased)")
      assert(batchCensus.get(4) == rate(clicked, viewed)
        && batchCensus.get(5) == rate(purchased, clicked),
        s"census rates drifted: $batchCensus")
      assert(batchCensus.getLong(6) == total, s"total_view_to_purchase_us drifted")
    } finally {
      prevProvider match {
        case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("watermark drops exactly the predicted late tail under q46's planted arrival order (late-data accounting)") {
    // q46's census quantifies row-granular lateness under a deterministic
    // adversarial arrival order; this twin REPLAYS that arrival order
    // (one ingest shard) against Spark's real watermark machinery — a
    // 1 h-delay watermark over 1 h tumbling windows, update mode — and
    // asserts the engine admits EXACTLY the trigger-granular subset the
    // documented semantics predict: a row is dropped iff its window end
    // ≤ the watermark computed from PREVIOUS triggers' max event time
    // minus the delay. Every dropped row must also be late in q46's
    // row-granular log (the census is the upper-bound accounting).
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.expressions.Window

    // shard 0 of q46's deterministic md5 shuffle, in arrival order
    val arrival = Tables.events(spark, sf)
      .filter(pmod($"event_id", lit(8)) === 0)
      .select($"event_id",
        conv(substring(md5(concat(lit("q46:"), $"event_id".cast("string"))
          .cast("binary")), 1, 15), 16, 10).cast("long").as("ak"),
        unix_micros($"ts").as("us"))
      .orderBy($"ak", $"event_id")
      .as[(Long, Long, Long)].collect().map(r => (r._1, r._3))
    assert(arrival.length > 50, "shard 0 must carry a real arrival log")

    val HourUs = 3600L * 1000 * 1000
    def winStart(us: Long): Long = Math.floorDiv(us, HourUs) * HourUs
    // trigger-granular prediction of the admitted set
    val chunks = arrival.grouped(25).toSeq
    var wm = 0L
    val admitted = Seq.newBuilder[(Long, Long)]
    chunks.foreach { c =>
      c.foreach { case (id, us) =>
        if (winStart(us) + HourUs > wm) admitted += ((id, us))
      }
      wm = math.max(wm, c.map(_._2).max - HourUs)
    }
    val admittedRows = admitted.result()
    val dropped = arrival.toSet -- admittedRows.toSet
    assert(dropped.nonEmpty, "the planted shuffle must produce real drops")
    // every dropped row is late in q46's row-granular census log
    val rowLate = {
      var hw = Long.MinValue
      arrival.map { case (id, us) =>
        val late = if (hw == Long.MinValue) 0L else math.max(hw - us, 0L)
        hw = math.max(hw, us)
        (id, us) -> late
      }.toMap
    }
    dropped.foreach { r =>
      assert(rowLate(r) > 0, s"dropped row $r was not late in the census log")
    }
    val expected = admittedRows.groupBy(r => winStart(r._2))
      .map { case (ws, rs) => (ws, rs.length.toLong, rs.map(_._1).sum) }.toSet

    val mem = MemoryStream[(Long, Long)]
    val windows = mem.toDF().toDF("event_id", "us")
      .select($"event_id", timestamp_micros($"us").as("ts"))
      .withWatermark("ts", "1 hour")
      .groupBy(window($"ts", "1 hour"))
      .agg(count(lit(1)).as("n"), sum($"event_id").as("sum_ids"))
      .select(unix_micros($"window.start").as("ws"), $"n", $"sum_ids")
    val q = windows.writeStream.outputMode("update")
      .format("memory").queryName("parity_late").start()
    chunks.foreach { c => mem.addData(c.toIndexedSeq); q.processAllAvailable() }
    // update mode re-emits a window each time it changes; counts are
    // monotone, so the max-n row per window is its final state
    val streamed = spark.table("parity_late")
      .withColumn("rn", row_number().over(
        Window.partitionBy($"ws").orderBy($"n".desc, $"sum_ids".desc)))
      .filter($"rn" === 1).select($"ws", $"n", $"sum_ids")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    q.stop()
    assert(streamed == expected,
      s"windowed census over ${streamed.size} windows vs predicted ${expected.size} " +
        s"(admitted ${admittedRows.length}/${arrival.length}, dropped ${dropped.size})")
  }

  test("BM25 retrieval scores a probe stream against the frozen postings index (t16)") {
    // the serving shape of retrieval-based decontamination/attribution:
    // the impact-scored postings index is built in batch over the train
    // corpus, then LIVE probe documents are scored against the frozen
    // index — same bm25Impacts/bm25ProbeTerms/bm25Scores definitions as
    // the batch query, so ranking cannot drift between modes. Scores are
    // fixed-point integer sums, so parity is exact, not approximate.
    import graft.ext.TextAnalysis
    val docs = Tables.documents(spark, sf)
    val post = TextAnalysis.bm25Impacts(spark, docs)
    val batch = TextAnalysis.bm25Scores(post, TextAnalysis.bm25ProbeTerms(docs))
      .collect().map(_.toSeq).toSet
    assert(batch.nonEmpty, "batch scored no probe items at sf0.001")

    val docsDir = {
      val dir = Files.createTempDirectory("graft-docs-bm25").toString + "/docs"
      docs.write.mode("overwrite").parquet(dir)
      dir
    }
    val schema = spark.read.parquet(docsDir).schema
    val scored = TextAnalysis.bm25Scores(post,
      TextAnalysis.bm25ProbeTerms(spark.readStream.schema(schema).parquet(docsDir)))
    val q = scored.writeStream.outputMode("complete")
      .format("memory").queryName("parity_bm25")
      .trigger(Trigger.AvailableNow()).start()
    assert(q.awaitTermination(120000), "parity_bm25 did not finish within 120 s")
    val streamed = spark.table("parity_bm25").collect().map(_.toSeq).toSet
    assert(streamed == batch,
      s"streaming scored ${streamed.size} (eval, train) pairs vs batch ${batch.size}")
  }

  test("IVF-PQ ANN serving scores a probe stream against the SAVED index (s13/s22)") {
    // the serving shape of vector search: the coarse codebook + PQ-coded
    // corpus are built in batch, MATERIALIZED to parquet, and re-read
    // (s22's ivfpqSaveIndex — production serving opens the index files,
    // never the build plan); LIVE probe vectors then stream against the
    // file-backed frames — the same ivfpqServeTop5 definition in both
    // modes, so stream top-5 == batch top-5 exactly (identical ADC
    // doubles; parquet round-trips them bit-exactly). The serve path is
    // streaming-safe by construction: no ranking windows (per-query
    // top-k is a sorted collected list), corpus joins are stream-static
    // equi-joins.
    import graft.ext.Similarity
    val (cb0, enc0) = Similarity.ivfpqSaveIndex(spark, sf)
    val cb = cb0.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val enc = enc0.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val probesBatch = Tables.embeddings(spark, sf)
      .filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"),
        col("embedding").cast("array<double>").as("v"))
    val batch = Similarity.ivfpqServeTop5(cb, enc, probesBatch)
      .collect().map(_.toSeq).toSet
    assert(batch.size == 5, s"batch served ${batch.size} probes, expected 5")

    val probeDir = {
      val dir = Files.createTempDirectory("graft-ann-probes").toString + "/probes"
      probesBatch.write.mode("overwrite").parquet(dir)
      dir
    }
    val schema = spark.read.parquet(probeDir).schema
    val served = Similarity.ivfpqServeTop5(cb, enc,
      spark.readStream.schema(schema).parquet(probeDir))
    val q = served.writeStream.outputMode("complete")
      .format("memory").queryName("parity_ann")
      .trigger(Trigger.AvailableNow()).start()
    assert(q.awaitTermination(120000), "parity_ann did not finish within 120 s")
    val streamed = spark.table("parity_ann").collect().map(_.toSeq).toSet
    assert(streamed == batch,
      s"stream top-5 != batch top-5 (stream ${streamed.size}, batch ${batch.size})")
    cb.unpersist(); enc.unpersist()
  }

  test("PNG encode/decode features a media stream (m10)") {
    // the multimodal family's twin: codec batches are PER-ROW work
    // (mapPartitions over a typed Dataset — no state, no aggregation),
    // so the SAME pngMedia/pngFeatures definitions run on a document
    // STREAM unchanged, append-mode, and must feature each arriving blob
    // exactly as the batch query does. This is how media actually lands
    // in a pipeline: blobs arrive on a stream and are decoded in the
    // micro-batch that receives them — the blob never outlives its batch.
    import graft.ext.Multimodal
    val docs = Tables.documents(spark, sf)
    val batch = Multimodal.pngFeatures(spark, Multimodal.pngMedia(docs),
        Multimodal.PngW)
      .collect().map(_.toSeq).toSet
    assert(batch.nonEmpty, "batch side featured no media")

    val docsDir = {
      val dir = Files.createTempDirectory("graft-docs-png").toString + "/docs"
      docs.write.mode("overwrite").parquet(dir)
      dir
    }
    val schema = spark.read.parquet(docsDir).schema
    val served = Multimodal.pngFeatures(spark,
      Multimodal.pngMedia(spark.readStream.schema(schema).parquet(docsDir)),
      Multimodal.PngW)
    val q = served.writeStream.outputMode("append")
      .format("memory").queryName("parity_png")
      .trigger(Trigger.AvailableNow()).start()
    assert(q.awaitTermination(120000), "parity_png did not finish within 120 s")
    val streamed = spark.table("parity_png").collect().map(_.toSeq).toSet
    assert(streamed == batch,
      s"stream featured ${streamed.size} media vs batch ${batch.size}")
  }

  test("Y4M video featuring of a media stream equals batch m16") {
    // m16's twin, the m10 argument applied to video: the Y4M
    // encode+parse+feature batch is PER-ROW work, so the same
    // y4mMedia/y4mFeatures definitions run on a document stream
    // unchanged, append-mode — each arriving blob's frames are decoded
    // in the micro-batch that receives them and never outlive it.
    import graft.ext.Multimodal
    val docs = Tables.documents(spark, sf)
    val batch = Multimodal.y4mFeatures(spark, Multimodal.y4mMedia(docs))
      .collect().map(_.toSeq).toSet
    assert(batch.nonEmpty, "batch side featured no media")
    val docsDir = {
      val dir = Files.createTempDirectory("graft-docs-y4m").toString + "/docs"
      docs.write.mode("overwrite").parquet(dir)
      dir
    }
    val schema = spark.read.parquet(docsDir).schema
    val q = Multimodal.y4mFeatures(spark,
        Multimodal.y4mMedia(spark.readStream.schema(schema).parquet(docsDir)))
      .writeStream.outputMode("append")
      .format("memory").queryName("parity_y4m")
      .trigger(Trigger.AvailableNow()).start()
    assert(q.awaitTermination(120000), "parity_y4m did not finish within 120 s")
    val streamed = spark.table("parity_y4m").collect().map(_.toSeq).toSet
    assert(streamed == batch,
      s"stream featured ${streamed.size} media vs batch ${batch.size}")
  }

  test("semantic decontamination screens an eval-vector stream against the frozen corpus cells (c26)") {
    // c26's ONLINE form — how a new benchmark actually gets screened:
    // eval vectors ARRIVE (a stream), the train corpus's cell assignment
    // is the frozen static side (the session-memoized IVF layout, here
    // staged to parquet as production writes it), and each arriving
    // eval vector joins only its own cell, aggregates its census row in
    // the micro-batch, and must report exactly what the batch c26 query
    // reports. Complete-mode aggregation because the census groups by
    // eval id; the static side never rescans the corpus per batch.
    import spark.implicits._
    val root = Files.createTempDirectory("graft-c26-stream").toString
    val batch = SparkEntry.queries("c26_semantic_decontamination")(spark, sf)
      .collect().map(_.toSeq).toSet
    assert(batch.nonEmpty)
    // stage the frozen layout (vec_id, v, nrm, cell) and the eval feed
    val assigned = graft.ext.Similarity.knnAssigned(spark, sf)
    assigned.filter(col("vec_id") % 100 =!= 0)
      .write.mode("overwrite").parquet(root + "/train")
    assigned.filter(col("vec_id") % 100 === 0)
      .repartition(3).write.mode("overwrite").parquet(root + "/eval")
    val schema = spark.read.parquet(root + "/eval").schema
    val tr = spark.read.parquet(root + "/train")
      .select(col("vec_id").as("train_id"), col("v").as("tv"),
        col("nrm").as("tnrm"), col("cell"))
    val cos = graft.ext.Similarity.cosineWithNorms(
      col("ev"), col("tv"), col("enrm"), col("tnrm"))
    val evs = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(root + "/eval")
      .select(col("vec_id").as("eval_id"), col("v").as("ev"),
        col("nrm").as("enrm"), col("cell"))
    val hits = evs.join(tr, Seq("cell"), "left")
      .select(col("eval_id"), col("cell"), col("train_id"), cos.as("cos"))
      .groupBy(col("eval_id"), col("cell"))
      .agg(sum(when(col("train_id").isNotNull, 1L).otherwise(0L))
          .as("n_train_cell"),
        sum(when(col("cos") > 0.25, 1L).otherwise(0L)).as("n_contaminated"),
        coalesce(round(max(col("cos")), 6), lit(-1.0)).as("max_cos"),
        coalesce(max_by(col("train_id"),
          struct(col("cos"), (-col("train_id")).as("tb"))), lit(-1L))
          .as("nearest_train_id"))
      .select(col("eval_id"), col("cell"), col("n_train_cell"),
        col("n_contaminated"), col("max_cos"), col("nearest_train_id"))
    val q = hits.writeStream.outputMode("complete")
      .format("memory").queryName("parity_c26")
      .trigger(Trigger.AvailableNow()).start()
    assert(q.awaitTermination(120000), "parity_c26 did not finish within 120 s")
    val streamed = spark.table("parity_c26").collect().map(_.toSeq).toSet
    assert(streamed == batch,
      s"online screen ${streamed.size} rows != batch census ${batch.size}")
  }

  test("hard-negative mining serves a stream of arriving anchors against the static corpus (s31)") {
    // s31's serving form — how mining actually runs in a training-data
    // service: anchor vectors ARRIVE (new queries to build triplets
    // for), the corpus is static, and each micro-batch mines with the
    // IDENTICAL mineHardNegatives definition. Per-anchor ranking makes
    // batches independent, so the union over any batching must equal
    // the one-shot batch run — the foreachBatch twin pattern (c21/c24)
    // at the similarity layer.
    import spark.implicits._
    import graft.ext.Similarity
    val root = Files.createTempDirectory("graft-s31-stream").toString
    val corpus = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id"), col("label"),
        col("embedding").cast("array<double>").as("v"))
      .withColumn("nrm", Similarity.dot(col("v"), col("v")))
    val batch = Similarity.mineHardNegatives(
      corpus.filter(col("vec_id") < 5), corpus)
      .collect().map(_.toSeq).toSet
    assert(batch.nonEmpty)
    corpus.filter(col("vec_id") < 5).repartition(3)
      .write.mode("overwrite").parquet(root + "/anchors")
    val schema = spark.read.parquet(root + "/anchors").schema
    val mined = scala.collection.mutable.Set[Seq[Any]]()
    var batches = 0
    val q = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(root + "/anchors")
      .writeStream.trigger(Trigger.AvailableNow())
      .option("checkpointLocation", root + "/ckpt")
      .foreachBatch { (b: DataFrame, _: Long) =>
        if (!b.isEmpty) {
          batches += 1
          val out = Similarity.mineHardNegatives(b, corpus).collect()
          mined.synchronized { mined ++= out.map(_.toSeq) }
        }
        ()
      }.start()
    assert(q.awaitTermination(180000), "s31 twin did not finish within 180 s")
    assert(batches > 1, s"need multiple micro-batches, got $batches")
    assert(mined.toSet == batch,
      s"served triplets ${mined.size} != batch ${batch.size}")
  }

  test("s31 adversarial: slicing-invariance holds for the real miner and FAILS for a deliberately batch-dependent one") {
    // The s31 twin above asserts streamed == batch under ONE slicing of
    // the anchors — a happy path a batch-DEPENDENT refactor could
    // survive by luck. Two hardening arms:
    //  1. the same anchor set sliced two DIFFERENT ways (the first
    //     anchor arriving alone vs inside a bigger micro-batch) must
    //     both union to the one-shot run;
    //  2. teeth: a plausibly-broken miner (per-batch negative dedup —
    //     "each corpus vector serves at most one anchor per batch", a
    //     real triplet-mining variant someone might graft on) VIOLATES
    //     slicing-invariance on a corpus constructed so the best
    //     cross-label negative is shared. If that counterfactual ever
    //     stops diverging, the parity assertion has lost its teeth.
    import spark.implicits._
    import graft.ext.Similarity
    val corpus = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id"), col("label"),
        col("embedding").cast("array<double>").as("v"))
      .withColumn("nrm", Similarity.dot(col("v"), col("v")))
    val anchors = corpus.filter(col("vec_id") < 5)
    val oneShot = Similarity.mineHardNegatives(anchors, corpus)
      .collect().map(_.toSeq).toSet
    assert(oneShot.nonEmpty)
    val slicings = Seq(
      Seq(Seq(0L), Seq(1L, 2L, 3L, 4L)),
      Seq(Seq(0L, 1L, 2L), Seq(3L, 4L)))
    slicings.zipWithIndex.foreach { case (slices, i) =>
      val union = slices.map { ids =>
        Similarity.mineHardNegatives(
          anchors.filter(col("vec_id").isin(ids: _*)), corpus)
          .collect().map(_.toSeq).toSet
      }.reduce(_ ++ _)
      assert(union == oneShot,
        s"slicing #$i diverged from the one-shot mine — per-anchor " +
          "independence is broken")
    }

    // counterfactual corpus: two label-0 anchors whose top cross-label
    // negatives are the SAME four label-1 vectors, so a per-batch
    // negative dedup must steal rows from one anchor when they share a
    // micro-batch but not when they arrive alone
    val synth = Seq(
      (0L, 0, Array(1.0, 0.0)), (1L, 0, Array(0.98, 0.199)),
      (2L, 0, Array(0.9, -0.1)), // same-label positive for both anchors
      (10L, 1, Array(0.995, 0.0999)), (11L, 1, Array(-1.0, 0.0)),
      (12L, 1, Array(0.0, 1.0)), (13L, 1, Array(-0.5, -0.5)))
      .toDF("vec_id", "label", "v")
      .withColumn("nrm", Similarity.dot(col("v"), col("v")))
    val synthAnchors = synth.filter(col("vec_id") < 2)
    def brokenMine(b: DataFrame): Set[Seq[Any]] = {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("neg_id"))
        .orderBy(col("neg_cos").desc, col("anchor_id"))
      Similarity.mineHardNegatives(b, synth)
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") === 1).drop("rk")
        .collect().map(_.toSeq).toSet
    }
    val brokenJoint = brokenMine(synthAnchors)
    val brokenSingles = Seq(0L, 1L).map(id =>
      brokenMine(synthAnchors.filter(col("vec_id") === id))).reduce(_ ++ _)
    assert(brokenJoint != brokenSingles,
      "the deliberately batch-dependent miner did NOT diverge across " +
        "slicings — the invariance assertion above has no teeth")
    // and per-anchor slicing of the broken miner equals the REAL miner
    // (dedup within a single-anchor batch is a no-op), pinning that the
    // divergence comes from cross-anchor batch state alone
    assert(brokenSingles == Similarity.mineHardNegatives(synthAnchors, synth)
      .collect().map(_.toSeq).toSet)
  }

  test("hybrid rerank serves arriving probe docs per micro-batch against the frozen index + embeddings (t26)") {
    // t26's serving form: the sqrt-idf impacts index and the embedding
    // table are FROZEN (built in batch, as in production retrieval);
    // probe DOCUMENTS arrive live and each micro-batch runs the
    // identical hybridRerank definition. Every per-probe quantity
    // (slate, min-max normalizer, blend) derives only from the probe's
    // own rows, so the union over any batching equals the one-shot run.
    import graft.ext.TextAnalysis
    val docs = Tables.documents(spark, sf)
    val post = TextAnalysis.bm25ImpactsIdf(spark, docs, TextAnalysis.sqrtIdf)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val emb = TextAnalysis.embWithNorms(spark, sf)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val batch = {
      val df = TextAnalysis.hybridRerank(
        TextAnalysis.probeScored(post, TextAnalysis.bm25ProbeTerms(docs)), emb)
      try df.collect().map(_.toSeq).toSet finally SessionScope.drain(spark)
    }
    assert(batch.nonEmpty, "batch reranked no probes at sf0.001")
    val root = Files.createTempDirectory("graft-t26-stream").toString
    docs.filter(col("doc_id") % 100 === 0).repartition(3)
      .write.mode("overwrite").parquet(root + "/probes")
    val schema = spark.read.parquet(root + "/probes").schema
    val served = scala.collection.mutable.Set[Seq[Any]]()
    var batches = 0
    // no-leak census (the assertion the r17 verdict asked for — it is
    // what catches the next persist-without-a-handle regression). The
    // leak SIGNATURE is ids still persisted after a batch's cleanup
    // that were not there after batch 1: per-batch plans differ by
    // probe file, so an unmanaged persist adds a NEW id every batch.
    // Comparing against the post-batch-1 census (not a pre-stream
    // baseline) makes the check immune to session-level lazy
    // materialization — in full-suite context CacheManager plan-matching
    // can serve the one-shot run from an EARLIER test's cached identical
    // plan, so this twin's own static frames first register mid-stream
    // (observed: one constant id across all batches) — and RDD-ID SET
    // difference is immune to the async ContextCleaner shrinking the
    // census concurrently.
    def persisted: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet
    val censusPerBatch = scala.collection.mutable.ArrayBuffer[Set[Int]]()
    val q = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(root + "/probes")
      .writeStream.trigger(Trigger.AvailableNow())
      .option("checkpointLocation", root + "/ckpt")
      .foreachBatch { (b: DataFrame, _: Long) =>
        if (!b.isEmpty) {
          batches += 1
          // a long-running serving loop must drain the per-call cached
          // frames once the batch is materialized, or they accumulate
          // across micro-batches (r16 ADVICE)
          val df = TextAnalysis.hybridRerank(
            TextAnalysis.probeScored(post, TextAnalysis.bm25ProbeTerms(b)), emb)
          val out = df.collect()
          SessionScope.drain(spark)
          served.synchronized { served ++= out.map(_.toSeq) }
          censusPerBatch.synchronized { censusPerBatch += persisted }
        }
        ()
      }.start()
    assert(q.awaitTermination(180000), "t26 twin did not finish within 180 s")
    assert(batches > 1, s"need multiple micro-batches, got $batches")
    assert(served.toSet == batch,
      s"served rerank rows ${served.size} != batch ${batch.size}")
    val afterFirst = censusPerBatch.head
    censusPerBatch.zipWithIndex.drop(1).foreach { case (c, i) =>
      assert((c -- afterFirst).isEmpty,
        s"batch ${i + 1} left NEW persistent RDDs ${c -- afterFirst} " +
          "beyond the post-batch-1 census — a per-call persist lost its " +
          "cleanup and is accumulating per micro-batch")
    }
  }

  test("t26 adversarial: slicing-invariance holds for the real rerank and FAILS for a batch-pooled normalizer") {
    // The twin above asserts streamed == batch under ONE slicing — a
    // batch-DEPENDENT refactor could survive it by luck. Two arms:
    //  1. the same probe set sliced two different ways must both union
    //     to the one-shot run;
    //  2. teeth: a plausibly-broken rerank that min-max-normalizes over
    //     the BATCH's pooled candidate scores (instead of per-probe —
    //     the classic leakage bug in rerank normalization) DIVERGES
    //     across slicings, and degenerates to the real rerank when each
    //     probe arrives alone — pinning that the divergence comes from
    //     cross-probe batch state alone. If the counterfactual stops
    //     diverging, the invariance assertion has lost its teeth.
    import graft.ext.{Similarity, TextAnalysis}
    import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val docs = Tables.documents(spark, sf)
    val post = TextAnalysis.bm25ImpactsIdf(spark, docs, TextAnalysis.sqrtIdf)
      .persist(MEMORY_AND_DISK)
    val emb = TextAnalysis.embWithNorms(spark, sf).persist(MEMORY_AND_DISK)
    val probes = docs.filter(col("doc_id") % 100 === 0)
    def rerank(p: DataFrame): Set[Seq[Any]] = {
      val df = TextAnalysis.hybridRerank(
        TextAnalysis.probeScored(post, TextAnalysis.bm25ProbeTerms(p)), emb)
      try df.collect().map(_.toSeq).toSet finally SessionScope.drain(spark)
    }
    val oneShot = rerank(probes)
    assert(oneShot.nonEmpty)
    val evalIds = probes.select("doc_id").collect().map(_.getLong(0)).sorted
    assert(evalIds.length >= 3, s"need >= 3 probes, got ${evalIds.toSeq}")
    val slicings = Seq(
      Seq(Seq(evalIds.head), evalIds.tail.toSeq),
      Seq(evalIds.take(2).toSeq, evalIds.drop(2).toSeq))
    slicings.zipWithIndex.foreach { case (slices, i) =>
      val union = slices.map(ids =>
        rerank(probes.filter(col("doc_id").isin(ids: _*)))).reduce(_ ++ _)
      assert(union == oneShot,
        s"slicing #$i diverged from the one-shot rerank — per-probe " +
          "independence is broken")
    }

    // the counterfactual: pool the min-max over every candidate in the
    // batch — same stages otherwise (same slate, same cosine arm)
    def brokenRerank(p: DataFrame): Set[Seq[Any]] = {
      val scored = TextAnalysis.bm25Scores(post, TextAnalysis.bm25ProbeTerms(p))
      val cand = graft.operators.TopK.perKey(
          scored, col("eval_id"), Seq(col("sfx").desc, col("train_id")), 10,
          saltFrom = col("train_id"))
        .select(col("eval_id"), col("train_id"), col("sfx"))
        .persist(MEMORY_AND_DISK)
      val mm = cand.agg(min(col("sfx")).as("mn"), max(col("sfx")).as("mx"))
      val ev = emb.join(broadcast(cand.select(col("eval_id")).distinct()),
          col("vec_id") === col("eval_id"))
        .select(col("eval_id"), col("v").as("ev"), col("nrm").as("enrm"))
      val te = emb.join(broadcast(cand), col("vec_id") === col("train_id"))
        .select(col("eval_id"), col("train_id"), col("sfx"),
          col("v").as("tv"), col("nrm").as("tnrm"))
      val cfx = round(Similarity.cosineWithNorms(
        col("tv"), col("ev"), col("tnrm"), col("enrm")) * lit(1e6)).cast("long")
      val nbFx = when(col("mx") > col("mn"),
          round((col("sfx") - col("mn")).cast("double") /
            (col("mx") - col("mn")).cast("double") * lit(1e6)).cast("long"))
        .otherwise(lit(500000L))
      val blended = te.join(broadcast(ev), Seq("eval_id"))
        .select(col("eval_id"), col("train_id"), col("sfx"), cfx.as("cfx"))
        .crossJoin(broadcast(mm))
        .select(col("eval_id"), col("train_id"), col("sfx"), col("cfx"),
          (nbFx + col("cfx")).as("bfx"))
      val out = graft.operators.TopK.perKey(
          blended, col("eval_id"), Seq(col("bfx").desc, col("train_id")), 5,
          saltFrom = col("train_id"))
        .select(col("eval_id"), col("rn").as("rank"), col("train_id"),
          round(col("sfx").cast("double") / lit(1e6), 6).as("bm25"),
          round(col("cfx").cast("double") / lit(1e6), 6).as("cos_sim"),
          round(col("bfx").cast("double") / lit(1e6), 6).as("blend"))
        .collect().map(_.toSeq).toSet
      cand.unpersist()
      out
    }
    val brokenJoint = brokenRerank(probes)
    val brokenSingles = evalIds.map(id =>
      brokenRerank(probes.filter(col("doc_id") === id))).reduce(_ ++ _)
    assert(brokenJoint != brokenSingles,
      "the batch-pooled normalizer did NOT diverge across slicings — " +
        "the invariance assertion above has no teeth")
    // alone, the pooled normalizer degenerates to per-probe min-max, so
    // the broken rerank on single-probe batches equals the REAL rerank
    assert(brokenSingles == oneShot,
      "single-probe broken rerank should equal the real rerank — the " +
        "divergence must come from cross-probe batch state alone")
  }

  test("RRF fusion serves arriving probe docs per micro-batch against the frozen index + embeddings (t28)") {
    // t28's serving form, same frame as the t26 twin: the sqrt-idf
    // impacts index and embedding table are FROZEN; probe documents
    // arrive live and each micro-batch runs the identical rrfFuseRanks
    // definition. Both rank arms partition by eval_id — rank-space
    // fusion carries no cross-probe state at all (not even a
    // normalizer), so the union over any batching equals the one-shot
    // batch run.
    import graft.ext.{Similarity, TextAnalysis}
    import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val docs = Tables.documents(spark, sf)
    val post = TextAnalysis.bm25ImpactsIdf(spark, docs, TextAnalysis.sqrtIdf)
      .persist(MEMORY_AND_DISK)
    val emb = TextAnalysis.embWithNorms(spark, sf).persist(MEMORY_AND_DISK)
    def fusion(p: DataFrame): DataFrame = TextAnalysis.rrfFuseRanks(
      TextAnalysis.probeLexArm(post, p), TextAnalysis.rrfVecArmBrute(p, emb))
    def fuse(p: DataFrame): Set[Seq[Any]] = {
      // drain everywhere a caller materializes-then-moves-on: the
      // serving loop below runs one fusion per micro-batch and MUST
      // reclaim the per-call cached frame (the r17 verdict's hygiene
      // defect — the fusion used to persist with no handle)
      val out = fusion(p).collect().map(_.toSeq).toSet
      SessionScope.drain(spark)
      out
    }
    // census by RDD-ID SET, not size: earlier suites leave abandoned
    // persistent RDDs that the async ContextCleaner may drop at any
    // moment, so a size comparison is racy in full-suite context — set
    // difference against a baseline is immune to concurrent shrink
    def persisted: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet
    // warm the STATIC frames (post, emb, the shared tf build) into the
    // census once — they register lazily on first materialization and
    // belong to the session, not to a fusion call
    fuse(docs.filter(col("doc_id") % 100 === 0))
    val baseIds = persisted
    // teeth for the no-growth census below: a materialized fusion MUST
    // visibly occupy the census until its cleanup runs — otherwise
    // "census never grew" would be vacuously true
    val oneShot = fusion(docs.filter(col("doc_id") % 100 === 0))
      .collect().map(_.toSeq).toSet
    val teethNew = persisted -- baseIds
    assert(teethNew.nonEmpty,
      "materialized fusion did not register a persistent RDD — the " +
        "no-growth census below has no teeth")
    SessionScope.drain(spark)
    assert((persisted & teethNew).isEmpty,
      s"cleanup handle left fusion RDDs persisted: ${persisted & teethNew}")
    assert(oneShot.nonEmpty, "one-shot fusion produced no rows")
    val root = Files.createTempDirectory("graft-t28-stream").toString
    docs.filter(col("doc_id") % 100 === 0).repartition(3)
      .write.mode("overwrite").parquet(root + "/probes")
    val schema = spark.read.parquet(root + "/probes").schema
    val served = scala.collection.mutable.Set[Seq[Any]]()
    var batches = 0
    // the assertion that prevents the leak's third recurrence: no NEW
    // persistent RDD may appear after a batch's cleanup beyond the
    // post-batch-1 census — per-batch plans differ by probe file, so an
    // unmanaged persist adds a new id EVERY batch (the accumulation
    // signature), while session-level statics that first materialize
    // mid-stream (CacheManager plan-matching can serve earlier runs
    // from an alien cached plan in full-suite context) register once in
    // batch 1 and are tolerated
    val censusPerBatch = scala.collection.mutable.ArrayBuffer[Set[Int]]()
    val q = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(root + "/probes")
      .writeStream.trigger(Trigger.AvailableNow())
      .option("checkpointLocation", root + "/ckpt")
      .foreachBatch { (b: DataFrame, _: Long) =>
        if (!b.isEmpty) {
          batches += 1
          val out = fuse(b)
          served.synchronized { served ++= out }
          censusPerBatch.synchronized { censusPerBatch += persisted }
        }
        ()
      }.start()
    assert(q.awaitTermination(180000), "t28 twin did not finish within 180 s")
    assert(batches > 1, s"need multiple micro-batches, got $batches")
    assert(served.toSet == oneShot,
      s"served fusion rows ${served.size} != batch ${oneShot.size}")
    val afterFirst = censusPerBatch.head
    censusPerBatch.zipWithIndex.drop(1).foreach { case (c, i) =>
      assert((c -- afterFirst).isEmpty,
        s"batch ${i + 1} left NEW persistent RDDs ${c -- afterFirst} " +
          "beyond the post-batch-1 census — a per-call persist lost its " +
          "cleanup and is accumulating per micro-batch")
    }

    // adversarial teeth: the classic RRF implementation bug — ranking
    // an arm over the POOLED batch (a lost PARTITION BY eval_id) —
    // diverges across slicings, and degenerates to the real fusion
    // when each probe arrives alone, pinning that the divergence comes
    // from cross-probe batch state alone
    def brokenFuse(p: DataFrame): Set[Seq[Any]] = {
      val probeTerms = TextAnalysis.bm25ProbeTerms(p)
      val scored = TextAnalysis.bm25Scores(post, probeTerms)
        .persist(MEMORY_AND_DISK)
      val lex = graft.operators.TopK.perKey(
          scored, col("eval_id"), Seq(col("sfx").desc, col("train_id")), 10,
          saltFrom = col("train_id"))
        .select(col("eval_id"), col("train_id"),
          col("rn").cast("long").as("lex_rank"))
      val evV = emb.join(
          broadcast(probeTerms.select(col("eval_id")).distinct()),
          col("vec_id") === col("eval_id"))
        .select(col("eval_id"), col("v").as("ev"), col("nrm").as("enrm"))
      val trV = emb.filter(col("vec_id") % 10 =!= 0)
        .select(col("vec_id").as("train_id"), col("v").as("tv"),
          col("nrm").as("tnrm"))
      val pooled = org.apache.spark.sql.expressions.Window
        .orderBy(col("cfx").desc, col("eval_id"), col("train_id"))
      val vec = trV.crossJoin(broadcast(evV))
        .select(col("eval_id"), col("train_id"),
          round(Similarity.cosineWithNorms(col("tv"), col("ev"),
            col("tnrm"), col("enrm")) * lit(1e6)).cast("long").as("cfx"))
        .withColumn("vec_rank", row_number().over(pooled).cast("long"))
        .filter(col("vec_rank") <= 10)
        .select(col("eval_id"), col("train_id"), col("vec_rank"))
      val fused = lex.join(vec, Seq("eval_id", "train_id"), "full_outer")
        .select(col("eval_id"), col("train_id"),
          coalesce(col("lex_rank"), lit(0L)).as("lex_rank"),
          coalesce(col("vec_rank"), lit(0L)).as("vec_rank"),
          (when(col("lex_rank").isNull, lit(0L))
            .otherwise(expr("1000000000 div (60 + lex_rank)")) +
           when(col("vec_rank").isNull, lit(0L))
            .otherwise(expr("1000000000 div (60 + vec_rank)"))).as("rrf_fx"))
      val out = graft.operators.TopK.perKey(
          fused, col("eval_id"), Seq(col("rrf_fx").desc, col("train_id")), 5,
          saltFrom = col("train_id"))
        .select(col("eval_id"), col("rn").as("rank"), col("train_id"),
          col("lex_rank"), col("vec_rank"), col("rrf_fx"))
        .collect().map(_.toSeq).toSet
      scored.unpersist()
      out
    }
    val probes = docs.filter(col("doc_id") % 100 === 0)
    val evalIds = probes.select("doc_id").collect().map(_.getLong(0)).sorted
    val brokenJoint = brokenFuse(probes)
    val brokenSingles = evalIds.map(id =>
      brokenFuse(probes.filter(col("doc_id") === id))).reduce(_ ++ _)
    assert(brokenJoint != brokenSingles,
      "the pooled-rank fusion did NOT diverge across slicings — the " +
        "invariance assertion above has no teeth")
    assert(brokenSingles == oneShot,
      "single-probe broken fusion should equal the real fusion — the " +
        "divergence must come from cross-probe batch state alone")
    post.unpersist(); emb.unpersist()
  }

  test("served-index RRF fusion serves arriving probe docs per micro-batch against the SAVED IVF-PQ index files (t29)") {
    // The PRODUCTION hybrid-search serving shape end to end: the
    // impacts index, the embedding table, and the saved IVF-PQ index
    // FILES are all static (built once, as a nightly job would); probe
    // documents arrive live and each micro-batch runs the identical
    // rrfFuseRanks definition with the vector arm SERVED from
    // the files for exactly that batch's probes. Both arms rank per
    // probe and the serve is pure per-probe work against static files,
    // so the union over any probe batching equals the one-shot run —
    // and the one-shot run must equal the t29 batch query itself (the
    // twin serves the oracle-checked definition, not a lookalike).
    import graft.ext.{Similarity, TextAnalysis}
    import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val docs = Tables.documents(spark, sf)
    val post = TextAnalysis.bm25ImpactsIdf(spark, docs, TextAnalysis.sqrtIdf)
      .persist(MEMORY_AND_DISK)
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .persist(MEMORY_AND_DISK)
    val q29 = graft.SparkEntry.queries("t29_rrf_served")(spark, sf)
      .collect().map(_.toSeq).toSet
    graft.core.SessionScope.drain(spark)
    // nightly build, MEMOIZED per (session, dataset) since r19: these
    // are the very frames/files the oracle-checked query above served
    // from — no rebuild, so the pre-r19 ordering hazard (an overwrite
    // invalidating file-backed frames captured earlier) is gone by
    // construction, not by sequencing
    val (cbR, encR) = Similarity.ivfpqSaveTrainIndex(spark, sf)
    def fuse(p: DataFrame): Set[Seq[Any]] = {
      // the batch's probe VECTORS — ids joined to the embedding table
      // (the same id-not-terms discipline as the brute-force arm); a
      // probe without an embedding simply has no vector arm
      val probesVec = emb.join(broadcast(p.select(col("doc_id"))),
          col("vec_id") === col("doc_id"))
        .select(col("vec_id").as("query_id"), col("v"))
      val df = TextAnalysis.rrfFuseRanks(TextAnalysis.probeLexArm(post, p),
        Similarity.ivfpqServedRanksFor(cbR, encR, probesVec, 10))
      val out = df.collect().map(_.toSeq).toSet
      SessionScope.drain(spark)
      out
    }
    val probes = docs.filter(col("doc_id") % 100 === 0)
    val oneShot = fuse(probes)
    assert(oneShot.nonEmpty, "one-shot served fusion produced no rows")
    // wiring: the twin's composition IS the oracle-checked t29 query
    assert(oneShot == q29,
      s"twin composition (${oneShot.size} rows) != the t29 batch query " +
        s"(${q29.size} rows) — the twin is not serving the checked definition")
    val root = Files.createTempDirectory("graft-t29-stream").toString
    probes.repartition(3).write.mode("overwrite").parquet(root + "/probes")
    val schema = spark.read.parquet(root + "/probes").schema
    val served = scala.collection.mutable.Set[Seq[Any]]()
    var batches = 0
    // per-batch no-growth census, same assertion as the t26/t28 twins
    // (r18 verdict ask #2): the newest serving path is exactly where the
    // next persist-without-a-handle regression would land — no NEW
    // persistent RDD may survive a batch's cleanup beyond the
    // post-batch-1 census (per-batch plans differ by probe file, so an
    // unmanaged persist adds a new id EVERY batch; statics that first
    // materialize in batch 1 are tolerated; set difference is immune to
    // the async ContextCleaner shrinking the census concurrently)
    def persisted: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet
    val censusPerBatch = scala.collection.mutable.ArrayBuffer[Set[Int]]()
    val q = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(root + "/probes")
      .writeStream.trigger(Trigger.AvailableNow())
      .option("checkpointLocation", root + "/ckpt")
      .foreachBatch { (b: DataFrame, _: Long) =>
        if (!b.isEmpty) {
          batches += 1
          val out = fuse(b)
          served.synchronized { served ++= out }
          censusPerBatch.synchronized { censusPerBatch += persisted }
        }
        ()
      }.start()
    assert(q.awaitTermination(180000), "t29 twin did not finish within 180 s")
    assert(batches > 1, s"need multiple micro-batches, got $batches")
    assert(served.toSet == oneShot,
      s"served fusion rows ${served.size} != one-shot ${oneShot.size}")
    val afterFirst = censusPerBatch.head
    censusPerBatch.zipWithIndex.drop(1).foreach { case (c, i) =>
      assert((c -- afterFirst).isEmpty,
        s"batch ${i + 1} left NEW persistent RDDs ${c -- afterFirst} " +
          "beyond the post-batch-1 census — a per-call persist lost its " +
          "cleanup and is accumulating per micro-batch")
    }
    post.unpersist(); emb.unpersist()
  }

  test("t26 rerank served through ExactlyOnceSink: crash-mid-batch replay converges to the once-applied slate ledger") {
    // The flagship serving composition (r16 verdict ask #4): the t26
    // twin proves slicing-invariance to a MEMORY sink; ExactlyOnceSink
    // proves replay idempotence on aggregate partials. This arm composes
    // them — probe documents arrive live, each micro-batch reranks
    // against the frozen index + embeddings and lands its verdict slate
    // in the partitioned ledger through ExactlyOnceSink, and an injected
    // crash in the post-sink/pre-offset-commit window must leave the
    // ledger equal to the once-applied one-shot batch slate — the
    // consume-transform-produce contract (reference
    // src/interfaces/index.ts:65) effectively-once end to end.
    import graft.ext.TextAnalysis
    import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val docs = Tables.documents(spark, sf)
    val post = TextAnalysis.bm25ImpactsIdf(spark, docs, TextAnalysis.sqrtIdf)
      .persist(MEMORY_AND_DISK)
    val emb = TextAnalysis.embWithNorms(spark, sf).persist(MEMORY_AND_DISK)
    def norm(df: DataFrame): Set[Seq[Any]] = df
      .select(col("eval_id").cast("long"), col("rank"), col("train_id"),
        col("bm25"), col("cos_sim"), col("blend"))
      .collect().map(_.toSeq).toSet
    val oneShot = {
      val df = TextAnalysis.hybridRerank(
        TextAnalysis.probeScored(post, TextAnalysis.bm25ProbeTerms(docs)), emb)
      try norm(df) finally SessionScope.drain(spark)
    }
    assert(oneShot.nonEmpty, "one-shot rerank produced no slate rows")
    // a probe's slate is immutable once served: the remerge just
    // deduplicates identical (eval, rank) rows a replay re-presents
    def remerge(df: DataFrame): DataFrame = df.distinct()

    val root = Files.createTempDirectory("graft-t26-e1").toString
    docs.filter(col("doc_id") % 100 === 0).repartition(3)
      .write.mode("overwrite").parquet(root + "/probes")
    val schema = spark.read.parquet(root + "/probes").schema
    @volatile var armed = true
    val outcomes = scala.collection.mutable.ArrayBuffer[(Long, String)]()
    def run(): org.apache.spark.sql.streaming.StreamingQuery =
      spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(root + "/probes")
        .writeStream.trigger(Trigger.AvailableNow())
        .option("checkpointLocation", root + "/ckpt")
        .foreachBatch { (b: DataFrame, id: Long) =>
          if (!b.isEmpty) {
            ExactlyOnceSink.pruneStages(root, id, b)
            val slate = TextAnalysis.hybridRerank(
              TextAnalysis.probeScored(post, TextAnalysis.bm25ProbeTerms(b)),
              emb)
            // capture batch 0's slate so the counterfactual below can
            // re-derive the naive replay without touching WAL internals
            if (id == 0 && armed)
              slate.write.mode("overwrite").parquet(root + "/b0_capture")
            val out = ExactlyOnceSink.applyBatch(
              root, id, slate, remerge, "eval_id")
            SessionScope.drain(spark)
            outcomes.synchronized { outcomes += ((id, out.toString)) }
            if (id == 0 && armed)
              throw new RuntimeException(
                "injected crash: slate applied, offsets not yet committed")
          }
          ()
        }.start()

    // run 1: batch 0's slate lands in the ledger, then dies pre-commit
    val q1 = run()
    val failed =
      try { q1.awaitTermination(180000); false }
      catch { case _: org.apache.spark.sql.streaming.StreamingQueryException => true }
    assert(failed, "run 1 must fail from the injected pre-commit crash")
    assert(outcomes.toList == List((0L, "Merged")),
      s"run 1 must have fully applied exactly batch 0, got $outcomes")
    val afterCrash = norm(spark.read.parquet(root + "/roll"))
    val b0 = norm(spark.read.parquet(root + "/b0_capture"))
    assert(afterCrash == b0 && b0.nonEmpty && b0.subsetOf(oneShot),
      "the crashed run's ledger must already hold exactly batch 0's slate")

    // counterfactual teeth: the crash provably landed in the dangerous
    // window (the ledger ALREADY holds batch 0's rows), so a naive
    // append-on-replay would double them — while the sink's remerge
    // collapses the same union back to the once-applied state
    val cols = Seq("eval_id", "rank", "train_id", "bm25", "cos_sim", "blend")
    val ledgerDf = spark.read.parquet(root + "/roll")
      .select(col("eval_id").cast("long"), col("rank"), col("train_id"),
        col("bm25"), col("cos_sim"), col("blend"))
    val b0Df = spark.read.parquet(root + "/b0_capture")
      .select(cols.map(col): _*)
    val naiveReplay = ledgerDf.unionByName(b0Df)
    assert(naiveReplay.count() == 2 * ledgerDf.count() && ledgerDf.count() > 0,
      "naive append-on-replay must double the already-applied slate rows")
    assert(norm(remerge(naiveReplay)) == afterCrash,
      "the sink's remerge must collapse the replayed union to once-applied")

    // run 2: same checkpoint, crash disarmed — batch 0 replays through
    // the idempotent path, the remaining probes merge normally
    armed = false
    val q2 = run()
    assert(q2.awaitTermination(180000), "restart did not finish within 180 s")
    val byRun2 = outcomes.toList.drop(1)
    assert(byRun2.headOption.contains((0L, "Replayed")),
      s"batch 0 must replay through the idempotent path, got $byRun2")
    assert(byRun2.tail.nonEmpty && byRun2.tail.forall(_._2 == "Merged"),
      s"later batches must merge normally, got $byRun2")

    // the ledger equals the once-applied one-shot batch rerank: nothing
    // doubled by the replay, nothing lost by the crash
    assert(norm(spark.read.parquet(root + "/roll")) == oneShot,
      "slate ledger after crash-replay must equal the one-shot rerank")
    post.unpersist(); emb.unpersist()
  }

  test("t28 RRF fusion served through ExactlyOnceSink: crash-mid-batch replay converges to the once-applied slate ledger") {
    // The r17 verdict's optional ask #6: with t26-through-ExactlyOnceSink
    // proven, the SECOND standard hybrid combiner gets the same
    // end-to-end treatment — per micro-batch of arriving probe docs, the
    // managed rank fusion lands its slate in the partitioned ledger
    // through ExactlyOnceSink; an injected crash in the post-sink/
    // pre-offset-commit window must leave the ledger equal to the
    // once-applied one-shot fusion. Rank-fusion slates are immutable per
    // probe (no cross-probe state at all), so the same remerge-dedup
    // applies. Both hybrid combiners are now effectively-once end to end.
    import graft.ext.TextAnalysis
    import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val docs = Tables.documents(spark, sf)
    val post = TextAnalysis.bm25ImpactsIdf(spark, docs, TextAnalysis.sqrtIdf)
      .persist(MEMORY_AND_DISK)
    val emb = TextAnalysis.embWithNorms(spark, sf).persist(MEMORY_AND_DISK)
    def norm(df: DataFrame): Set[Seq[Any]] = df
      .select(col("eval_id").cast("long"), col("rank"), col("train_id"),
        col("lex_rank"), col("vec_rank"), col("rrf_fx"))
      .collect().map(_.toSeq).toSet
    def fusion(p: DataFrame): DataFrame = TextAnalysis.rrfFuseRanks(
      TextAnalysis.probeLexArm(post, p), TextAnalysis.rrfVecArmBrute(p, emb))
    val oneShot = norm(fusion(docs.filter(col("doc_id") % 100 === 0)))
    SessionScope.drain(spark)
    assert(oneShot.nonEmpty, "one-shot fusion produced no slate rows")
    // a probe's fused slate is immutable once served: the remerge just
    // deduplicates identical rows a replay re-presents
    def remerge(df: DataFrame): DataFrame = df.distinct()

    val root = Files.createTempDirectory("graft-t28-e1").toString
    docs.filter(col("doc_id") % 100 === 0).repartition(3)
      .write.mode("overwrite").parquet(root + "/probes")
    val schema = spark.read.parquet(root + "/probes").schema
    @volatile var armed = true
    val outcomes = scala.collection.mutable.ArrayBuffer[(Long, String)]()
    def run(): org.apache.spark.sql.streaming.StreamingQuery =
      spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(root + "/probes")
        .writeStream.trigger(Trigger.AvailableNow())
        .option("checkpointLocation", root + "/ckpt")
        .foreachBatch { (b: DataFrame, id: Long) =>
          if (!b.isEmpty) {
            ExactlyOnceSink.pruneStages(root, id, b)
            val slate = fusion(b)
            if (id == 0 && armed)
              slate.write.mode("overwrite").parquet(root + "/b0_capture")
            val out = ExactlyOnceSink.applyBatch(
              root, id, slate, remerge, "eval_id")
            SessionScope.drain(spark)
            outcomes.synchronized { outcomes += ((id, out.toString)) }
            if (id == 0 && armed)
              throw new RuntimeException(
                "injected crash: slate applied, offsets not yet committed")
          }
          ()
        }.start()

    // run 1: batch 0's slate lands in the ledger, then dies pre-commit
    val q1 = run()
    val failed =
      try { q1.awaitTermination(180000); false }
      catch { case _: org.apache.spark.sql.streaming.StreamingQueryException => true }
    assert(failed, "run 1 must fail from the injected pre-commit crash")
    assert(outcomes.toList == List((0L, "Merged")),
      s"run 1 must have fully applied exactly batch 0, got $outcomes")
    val afterCrash = norm(spark.read.parquet(root + "/roll"))
    val b0 = norm(spark.read.parquet(root + "/b0_capture"))
    assert(afterCrash == b0 && b0.nonEmpty && b0.subsetOf(oneShot),
      "the crashed run's ledger must already hold exactly batch 0's slate")

    // counterfactual teeth: the crash provably landed in the dangerous
    // window, so a naive append-on-replay would double the rows — while
    // the sink's remerge collapses the same union back to once-applied
    val cols = Seq("eval_id", "rank", "train_id", "lex_rank", "vec_rank",
      "rrf_fx")
    val ledgerDf = spark.read.parquet(root + "/roll")
      .select(col("eval_id").cast("long") +: cols.tail.map(col): _*)
    val b0Df = spark.read.parquet(root + "/b0_capture")
      .select(col("eval_id").cast("long") +: cols.tail.map(col): _*)
    val naiveReplay = ledgerDf.unionByName(b0Df)
    assert(naiveReplay.count() == 2 * ledgerDf.count() && ledgerDf.count() > 0,
      "naive append-on-replay must double the already-applied slate rows")
    assert(norm(remerge(naiveReplay)) == afterCrash,
      "the sink's remerge must collapse the replayed union to once-applied")

    // run 2: same checkpoint, crash disarmed — batch 0 replays through
    // the idempotent path, the remaining probes merge normally
    armed = false
    val q2 = run()
    assert(q2.awaitTermination(180000), "restart did not finish within 180 s")
    val byRun2 = outcomes.toList.drop(1)
    assert(byRun2.headOption.contains((0L, "Replayed")),
      s"batch 0 must replay through the idempotent path, got $byRun2")
    assert(byRun2.tail.nonEmpty && byRun2.tail.forall(_._2 == "Merged"),
      s"later batches must merge normally, got $byRun2")

    // the ledger equals the once-applied one-shot fusion: nothing
    // doubled by the replay, nothing lost by the crash
    assert(norm(spark.read.parquet(root + "/roll")) == oneShot,
      "slate ledger after crash-replay must equal the one-shot fusion")
    post.unpersist(); emb.unpersist()
  }

  test("t29 SERVED fusion through ExactlyOnceSink: crash-mid-batch replay converges to the once-applied slate ledger") {
    // The r18 verdict's optional ask #3, completing the triptych: t26
    // (rerank) and t28 (brute-force fusion) are crash-replay-proven —
    // t29 is the composition a real deployment actually runs (the
    // vector arm served from the SAVED IVF-PQ index files), and its
    // slates are equally immutable per probe, so the same remerge-dedup
    // applies. Per micro-batch of arriving probe docs, the managed
    // served fusion lands its slate in the partitioned ledger through
    // ExactlyOnceSink; an injected crash in the post-sink/pre-offset-
    // commit window must leave the ledger equal to the once-applied
    // one-shot run. With this, the PRODUCTION serving shape — not just
    // its brute-force stand-in — is effectively-once end to end.
    import graft.ext.{Similarity, TextAnalysis}
    import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val docs = Tables.documents(spark, sf)
    val post = TextAnalysis.bm25ImpactsIdf(spark, docs, TextAnalysis.sqrtIdf)
      .persist(MEMORY_AND_DISK)
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .persist(MEMORY_AND_DISK)
    // nightly build, memoized per (session, dataset): the same frames/
    // files every other t29 consumer in this session serves from
    val (cbR, encR) = Similarity.ivfpqSaveTrainIndex(spark, sf)
    def servedFusion(p: DataFrame): DataFrame = {
      val probesVec = emb.join(broadcast(p.select(col("doc_id"))),
          col("vec_id") === col("doc_id"))
        .select(col("vec_id").as("query_id"), col("v"))
      TextAnalysis.rrfFuseRanks(TextAnalysis.probeLexArm(post, p),
        Similarity.ivfpqServedRanksFor(cbR, encR, probesVec, 10))
    }
    def norm(df: DataFrame): Set[Seq[Any]] = df
      .select(col("eval_id").cast("long"), col("rank"), col("train_id"),
        col("lex_rank"), col("vec_rank"), col("rrf_fx"))
      .collect().map(_.toSeq).toSet
    val probes = docs.filter(col("doc_id") % 100 === 0)
    val oneShot = norm(servedFusion(probes))
    SessionScope.drain(spark)
    assert(oneShot.nonEmpty, "one-shot served fusion produced no slate rows")
    // a probe's served slate is immutable once fused: the remerge just
    // deduplicates identical rows a replay re-presents
    def remerge(df: DataFrame): DataFrame = df.distinct()

    val root = Files.createTempDirectory("graft-t29-e1").toString
    probes.repartition(3).write.mode("overwrite").parquet(root + "/probes")
    val schema = spark.read.parquet(root + "/probes").schema
    @volatile var armed = true
    val outcomes = scala.collection.mutable.ArrayBuffer[(Long, String)]()
    def run(): org.apache.spark.sql.streaming.StreamingQuery =
      spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(root + "/probes")
        .writeStream.trigger(Trigger.AvailableNow())
        .option("checkpointLocation", root + "/ckpt")
        .foreachBatch { (b: DataFrame, id: Long) =>
          if (!b.isEmpty) {
            ExactlyOnceSink.pruneStages(root, id, b)
            val slate = servedFusion(b)
            if (id == 0 && armed)
              slate.write.mode("overwrite").parquet(root + "/b0_capture")
            val out = ExactlyOnceSink.applyBatch(
              root, id, slate, remerge, "eval_id")
            SessionScope.drain(spark)
            outcomes.synchronized { outcomes += ((id, out.toString)) }
            if (id == 0 && armed)
              throw new RuntimeException(
                "injected crash: slate applied, offsets not yet committed")
          }
          ()
        }.start()

    // run 1: batch 0's slate lands in the ledger, then dies pre-commit
    val q1 = run()
    val failed =
      try { q1.awaitTermination(180000); false }
      catch { case _: org.apache.spark.sql.streaming.StreamingQueryException => true }
    assert(failed, "run 1 must fail from the injected pre-commit crash")
    assert(outcomes.toList == List((0L, "Merged")),
      s"run 1 must have fully applied exactly batch 0, got $outcomes")
    val afterCrash = norm(spark.read.parquet(root + "/roll"))
    val b0 = norm(spark.read.parquet(root + "/b0_capture"))
    assert(afterCrash == b0 && b0.nonEmpty && b0.subsetOf(oneShot),
      "the crashed run's ledger must already hold exactly batch 0's slate")

    // counterfactual teeth: the crash provably landed in the dangerous
    // window, so a naive append-on-replay would double the rows — while
    // the sink's remerge collapses the same union back to once-applied
    val cols = Seq("eval_id", "rank", "train_id", "lex_rank", "vec_rank",
      "rrf_fx")
    val ledgerDf = spark.read.parquet(root + "/roll")
      .select(col("eval_id").cast("long") +: cols.tail.map(col): _*)
    val b0Df = spark.read.parquet(root + "/b0_capture")
      .select(col("eval_id").cast("long") +: cols.tail.map(col): _*)
    val naiveReplay = ledgerDf.unionByName(b0Df)
    assert(naiveReplay.count() == 2 * ledgerDf.count() && ledgerDf.count() > 0,
      "naive append-on-replay must double the already-applied slate rows")
    assert(norm(remerge(naiveReplay)) == afterCrash,
      "the sink's remerge must collapse the replayed union to once-applied")

    // run 2: same checkpoint, crash disarmed — batch 0 replays through
    // the idempotent path, the remaining probes merge normally
    armed = false
    val q2 = run()
    assert(q2.awaitTermination(180000), "restart did not finish within 180 s")
    val byRun2 = outcomes.toList.drop(1)
    assert(byRun2.headOption.contains((0L, "Replayed")),
      s"batch 0 must replay through the idempotent path, got $byRun2")
    assert(byRun2.tail.nonEmpty && byRun2.tail.forall(_._2 == "Merged"),
      s"later batches must merge normally, got $byRun2")

    // the ledger equals the once-applied one-shot served fusion: nothing
    // doubled by the replay, nothing lost by the crash
    assert(norm(spark.read.parquet(root + "/roll")) == oneShot,
      "slate ledger after crash-replay must equal the one-shot served fusion")
    post.unpersist(); emb.unpersist()
  }

  test("c26 adversarial: an eval vector landing in a corpus-EMPTY cell gets a sentinel census row, online == batch") {
    // The c26 twin screens against the full harness layout, where every
    // cell happens to hold train vectors — so a left→inner join refactor
    // (dropping unmatched evals) would pass it silently. Here one cell is
    // emptied of ALL train vectors while its eval vector remains: the
    // screen must still emit that eval's census row with the documented
    // sentinels (n_train_cell=0, max_cos=-1, nearest_train_id=-1) — a
    // vanished row would read as "screened clean" for a vector that was
    // never screened — and the online run must equal the batch
    // `Curation.semanticScreen` on the same constructed layout.
    import graft.ext.{Curation, Similarity}
    val root = Files.createTempDirectory("graft-c26-adv").toString
    val assigned = Similarity.knnAssigned(spark, sf)
    val evAll = assigned.filter(col("vec_id") % 100 === 0)
    val emptiedCell = evAll.orderBy(col("vec_id")).select(col("cell"))
      .head().getLong(0)
    val ev = evAll
      .select(col("vec_id").as("eval_id"), col("v").as("ev"),
        col("nrm").as("enrm"), col("cell"))
    val tr = assigned
      .filter(col("vec_id") % 100 =!= 0 && col("cell") =!= emptiedCell)
      .select(col("vec_id").as("train_id"), col("v").as("tv"),
        col("nrm").as("tnrm"), col("cell"))
    val batch = Curation.semanticScreen(ev, tr)
      .collect().map(_.toSeq).toSet
    val sentinelRows = batch.filter(r =>
      r(1) == emptiedCell && r(2) == 0L && r(4) == -1.0 && r(5) == -1L)
    assert(sentinelRows.nonEmpty,
      s"no sentinel census row for emptied cell $emptiedCell — the arm " +
        "constructed no empty-cell eval, or the screen dropped it")

    // online form: identical stream-side derivation to the c26 twin,
    // over the constructed layout staged to parquet
    ev.repartition(3).write.mode("overwrite").parquet(root + "/eval")
    tr.write.mode("overwrite").parquet(root + "/train")
    val trS = spark.read.parquet(root + "/train")
    val schema = spark.read.parquet(root + "/eval").schema
    val cos = Similarity.cosineWithNorms(
      col("ev"), col("tv"), col("enrm"), col("tnrm"))
    val evs = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(root + "/eval")
    val hits = evs.join(trS, Seq("cell"), "left")
      .select(col("eval_id"), col("cell"), col("train_id"), cos.as("cos"))
      .groupBy(col("eval_id"), col("cell"))
      .agg(sum(when(col("train_id").isNotNull, 1L).otherwise(0L))
          .as("n_train_cell"),
        sum(when(col("cos") > 0.25, 1L).otherwise(0L)).as("n_contaminated"),
        coalesce(round(max(col("cos")), 6), lit(-1.0)).as("max_cos"),
        coalesce(max_by(col("train_id"),
          struct(col("cos"), (-col("train_id")).as("tb"))), lit(-1L))
          .as("nearest_train_id"))
      .select(col("eval_id"), col("cell"), col("n_train_cell"),
        col("n_contaminated"), col("max_cos"), col("nearest_train_id"))
    val q = hits.writeStream.outputMode("complete")
      .format("memory").queryName("parity_c26_adv")
      .trigger(Trigger.AvailableNow()).start()
    assert(q.awaitTermination(120000), "parity_c26_adv did not finish")
    val streamed = spark.table("parity_c26_adv").collect().map(_.toSeq).toSet
    assert(streamed == batch,
      s"online screen ${streamed.size} rows != batch ${batch.size} on the " +
        "empty-cell layout")
  }

  test("sequence packing censuses a doc stream against frozen token offsets (c14)") {
    // the serving shape of the pretraining packer: the global-prefix-sum
    // offset assignment is the frozen "index" (built in batch — it is
    // inherently stateful), and the per-doc sequence explosion + census
    // runs on a LIVE document stream against it — same tokenOffsets/
    // seqCensus definitions as the batch query, all-integer, so the
    // census matches exactly.
    import graft.ext.Curation
    val docs = Tables.documents(spark, sf)
    val frozen = Curation.tokenOffsets(docs)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val batch = SparkEntry.queries("c14_sequence_pack")(spark, sf)
      .collect().map(_.toSeq).toSet

    val docsDir = {
      val dir = Files.createTempDirectory("graft-docs-pack").toString + "/docs"
      docs.write.mode("overwrite").parquet(dir)
      dir
    }
    val schema = spark.read.parquet(docsDir).schema
    // the stream carries the doc bodies; the frozen assignment supplies
    // (tk, cum0) via a stream-static equi-join on doc_id
    val census = Curation.seqCensus(
      spark.readStream.schema(schema).parquet(docsDir)
        .select(col("doc_id")).join(frozen, "doc_id"),
      L = 256L)
    val q = census.writeStream.outputMode("complete")
      .format("memory").queryName("parity_pack")
      .trigger(Trigger.AvailableNow()).start()
    assert(q.awaitTermination(120000), "parity_pack did not finish within 120 s")
    val streamed = spark.table("parity_pack").collect().map(_.toSeq).toSet
    assert(streamed == batch,
      s"streaming censused ${streamed.size} sequences vs batch ${batch.size}")
    frozen.unpersist()
  }

  test("rollup ledger maintained per micro-batch by foreachBatch equals a full recompute (c21)") {
    // the STREAMING form of c21's materialized-view maintenance: the
    // increment arrives as a stream, and EVERY micro-batch runs the
    // same merge c21 runs nightly — partial states of the batch's rows,
    // union with the touched days' ledger rows, sum/min/max re-merge,
    // stage, dynamic-partition-overwrite swap. Forced through multiple
    // micro-batches (maxFilesPerTrigger=1 over 4 staged files) so the
    // merge is proven REPEATABLE: additivity of the mergeable states
    // means the final ledger equals the from-scratch rollup no matter
    // how the increment was sliced — the foreachBatch upsert pattern
    // every production streaming-ingest MV uses.
    import spark.implicits._
    import org.apache.spark.sql.SparkSession
    val ev = Tables.events(spark, sf)
      .select(to_date(col("ts")).as("day"), col("event_type"),
        col("event_id"), col("value"))
    def state(df: DataFrame): DataFrame = df
      .groupBy(col("day"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast(DecimalType(14, 2))).as("value_sum"),
        min(col("value")).as("vmin"), max(col("value")).as("vmax"),
        sum(conv(substring(md5(col("event_id").cast("string").cast("binary")),
          1, 10), 16, 10).cast("long")).as("id_checksum"))
    val maxDay = ev.agg(max(col("day"))).head().getDate(0)
    val lateDay = java.sql.Date.valueOf(maxDay.toLocalDate.minusDays(1))
    val isInc = col("day") === lit(maxDay) ||
      (col("day") === lit(lateDay) && col("event_id") % 7 === 3)
    val root = Files.createTempDirectory("graft-c21-stream").toString
    state(ev.filter(!isInc))
      .write.mode("overwrite").partitionBy("day").parquet(root + "/roll")
    ev.filter(isInc).repartition(4).write.mode("overwrite")
      .parquet(root + "/inc")
    val schema = spark.read.parquet(root + "/inc").schema
    var batches = 0
    val q = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(root + "/inc")
      .writeStream.trigger(Trigger.AvailableNow())
      .option("checkpointLocation", root + "/ckpt")
      .foreachBatch { (b: DataFrame, id: Long) =>
        val s: SparkSession = b.sparkSession
        if (!b.isEmpty) {
          batches += 1
          val partials = state(b)
          val touched = partials.select(col("day").cast("string"))
            .distinct().collect().map(_.getString(0))
          s.read.parquet(root + "/roll")
            .filter(col("day").cast("string").isin(touched.toSeq: _*))
            .unionByName(partials)
            .groupBy(col("day"), col("event_type"))
            .agg(sum(col("n_events")).cast("long").as("n_events"),
              sum(col("value_sum")).cast(DecimalType(24, 2)).as("value_sum"),
              min(col("vmin")).as("vmin"), max(col("vmax")).as("vmax"),
              sum(col("id_checksum")).cast("long").as("id_checksum"))
            .write.mode("overwrite").parquet(root + s"/stage_$id")
          s.read.parquet(root + s"/stage_$id")
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("day").parquet(root + "/roll")
          s.catalog.refreshByPath(root + "/roll")
        }
        ()
      }.start()
    assert(q.awaitTermination(180000), "c21 stream did not finish within 180 s")
    assert(batches > 1, s"need multiple micro-batches to prove repeated merge, got $batches")
    def norm(df: DataFrame): Set[Seq[Any]] = df
      .select(col("day").cast("string"), col("event_type"),
        col("n_events").cast("long"),
        round(col("value_sum"), 2).cast("double").as("value_sum"),
        col("vmin"), col("vmax"), col("id_checksum"))
      .collect().map(_.toSeq).toSet
    val ledger = norm(spark.read.parquet(root + "/roll"))
    val full = norm(state(ev))
    assert(ledger == full,
      s"streamed ledger ${ledger.size} rows != full recompute ${full.size}")
  }

  test("streaming chunk census equals batch on a live document stream (t23)") {
    // the RAG-ingest serving shape: documents arrive as a stream and the
    // IDENTICAL chunkCensus definition (narrow per-row chunking + one
    // per-doc partial agg) runs over the streaming scan in complete
    // mode — per-doc rows must equal the batch query's exactly, chunk
    // checksums included (chunking is per-doc, so arrival order and
    // batch slicing cannot change anything; this twin pins that)
    val batch = graft.ext.TextAnalysis.queries("t23_chunk_windows")(spark, sf)
      .collect().map(_.toSeq).toSet
    val docsDir = {
      val dir = Files.createTempDirectory("graft-docs-chunk").toString + "/docs"
      Tables.documents(spark, sf).write.mode("overwrite").parquet(dir)
      dir
    }
    val schema = spark.read.parquet(docsDir).schema
    val q = graft.ext.TextAnalysis.chunkCensus(
        spark.readStream.schema(schema).parquet(docsDir))
      .writeStream.outputMode("complete")
      .format("memory").queryName("parity_chunks")
      .trigger(Trigger.AvailableNow()).start()
    assert(q.awaitTermination(120000), "parity_chunks did not finish within 120 s")
    val streamed = spark.table("parity_chunks").collect().map(_.toSeq).toSet
    assert(streamed == batch,
      s"streamed census ${streamed.size} rows != batch ${batch.size}")
  }

  test("SCD2 history maintained per micro-batch by foreachBatch equals a full-log rebuild (c24)") {
    // the STREAMING CDC-APPLY form of c24: tier-change events arrive as
    // a stream and every micro-batch runs the SAME scd2Merge the batch
    // query runs — affected keys' version boundaries replayed with the
    // batch's events, untouched keys untouched, the history table
    // swapped via dynamic partition overwrite on a key-bucket layout
    // (only buckets holding affected keys are rewritten — c21's
    // machinery pointed at versioned state instead of additive state).
    // Boundary replay is exact only under the in-order-per-key CDC
    // contract (scd2Merge's scaladoc), so the increment is staged as
    // time-sliced files with strictly increasing modification times —
    // the file source's oldest-first order IS the per-key ordering
    // guarantee a Kafka CDC feed provides. Multiple micro-batches prove
    // the merge REPEATABLE: after any number of in-order applications
    // the table equals the one-shot full-log rebuild.
    import spark.implicits._
    import org.apache.spark.sql.SparkSession
    val ev = graft.ext.Curation.tierEvents(spark, sf)
    val cutoff = lit("1999-01-01").cast("timestamp")
    val root = Files.createTempDirectory("graft-c24-stream").toString
    // base history, bucket-partitioned by key (the 100 TB layout)
    graft.ext.Curation.scd2Build(ev.filter($"ts" < cutoff))
      .withColumn("bucket", pmod($"ck", lit(8L)))
      .write.mode("overwrite").partitionBy("bucket")
      .parquet(root + "/hist")
    // increment: one file per calendar year, mod-times forcing
    // oldest-first processing (1999 -> 2000 -> 2001)
    Files.createDirectories(java.nio.file.Paths.get(root + "/inc"))
    val t0 = System.currentTimeMillis() - 60000
    for ((y, i) <- Seq(1999, 2000, 2001).zipWithIndex) {
      val tmp = root + s"/slice_$y"
      ev.filter($"ts" >= cutoff && year($"ts") === y)
        .coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      val dst = new java.io.File(root + s"/inc/slice_$y.parquet")
      java.nio.file.Files.copy(part.toPath, dst.toPath)
      assert(dst.setLastModified(t0 + i * 10000))
    }
    val schema = spark.read.parquet(root + "/inc").schema
    var batches = 0
    val q = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(root + "/inc")
      .writeStream.trigger(Trigger.AvailableNow())
      .option("checkpointLocation", root + "/ckpt")
      .foreachBatch { (b: DataFrame, id: Long) =>
        val s: SparkSession = b.sparkSession
        if (!b.isEmpty) {
          batches += 1
          val touched = b.select(pmod(col("ck"), lit(8L)).cast("string"))
            .distinct().collect().map(_.getString(0))
          val tb = s.read.parquet(root + "/hist")
            .filter(col("bucket").cast("string").isin(touched.toSeq: _*))
          graft.ext.Curation.scd2Merge(tb.drop("bucket"), b)
            .write.mode("overwrite").parquet(root + s"/stage_$id")
          s.read.parquet(root + s"/stage_$id")
            .withColumn("bucket", pmod(col("ck"), lit(8L)))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("bucket").parquet(root + "/hist")
          s.catalog.refreshByPath(root + "/hist")
        }
        ()
      }.start()
    assert(q.awaitTermination(180000), "c24 stream did not finish within 180 s")
    assert(batches > 1, s"need multiple micro-batches, got $batches")
    def norm(df: DataFrame): Set[Seq[Any]] = df
      .select(col("ck"), col("version"), col("valid_from").cast("string"),
        col("valid_to").cast("string"), col("tier"), col("is_current"))
      .collect().map(_.toSeq).toSet
    val streamed = norm(spark.read.parquet(root + "/hist"))
    val rebuilt = norm(graft.ext.Curation.scd2Build(ev))
    assert(streamed == rebuilt,
      s"streamed history ${streamed.size} rows != rebuild ${rebuilt.size}")
  }

  test("point-in-time enrichment of a fact stream against static SCD2 history equals batch c25") {
    // the ONLINE form of c25 — the enrichment join every production CDC
    // pipeline runs as it serves: FACTS STREAM in, the SCD2 history is
    // the static side (maintained by c24's streaming apply, stored in
    // its bucket-partitioned layout), each fact resolves its key's
    // version at the fact's own timestamp (equi-join on key + half-open
    // range residual — never an interval cross), pre-history facts land
    // in tier −1, and the running census must equal the batch c25 query
    // row for row. This is the reference's consume-enrich-produce
    // pattern (O14) at the temporal layer: the stream-static join plans
    // the static side as a per-micro-batch lookup, so the serving query
    // is the SAME declarative plan as the nightly batch — one
    // definition, two execution modes, which is the engine's core
    // promise.
    import spark.implicits._
    val root = Files.createTempDirectory("graft-c25-stream").toString
    // static side: the full tier history in c24's bucket-partitioned
    // layout (what the c24 streaming-apply twin proves equal to this
    // very build after any number of in-order merges)
    graft.ext.Curation.scd2Build(graft.ext.Curation.tierEvents(spark, sf))
      .withColumn("bucket", pmod(col("ck"), lit(8L)))
      .write.mode("overwrite").partitionBy("bucket").parquet(root + "/hist")
    // fact stream: raw lineitem facts arrive; custkey enrichment (the
    // orders dimension) and the temporal resolution both happen online
    graft.core.Tables.lineitem(spark, sf)
      .select(col("l_orderkey"), col("l_linenumber"),
        col("l_shipdate").as("ts"))
      .repartition(4)
      .write.mode("overwrite").parquet(root + "/facts")
    val schema = spark.read.parquet(root + "/facts").schema
    val orders = graft.core.Tables.orders(spark, sf)
      .select(col("o_orderkey"), col("o_custkey").as("fck"))
    val hist = spark.read.parquet(root + "/hist").drop("bucket").as("h")
    val q = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "2").parquet(root + "/facts")
      .join(broadcast(orders), col("l_orderkey") === col("o_orderkey"))
      .as("f")
      .join(hist,
        col("fck") === col("h.ck") &&
          col("ts") >= col("h.valid_from") && col("ts") < col("h.valid_to"),
        "left")
      .groupBy(coalesce(col("h.tier"), lit(-1)).as("tier"),
        year(col("ts")).as("yr"))
      .agg(count(lit(1)).as("n_items"),
        sum(coalesce(col("h.version"), lit(0))).cast("long")
          .as("version_checksum"),
        sum(col("fck")).cast("long").as("cust_checksum"),
        sum(col("l_orderkey") * col("l_linenumber")).cast("long")
          .as("line_checksum"))
      .writeStream.outputMode("complete")
      .format("memory").queryName("c25_twin")
      .trigger(Trigger.AvailableNow()).start()
    assert(q.awaitTermination(180000), "c25 twin did not finish within 180 s")
    val streamed = spark.table("c25_twin").collect().map(_.toSeq).toSet
    val batch = SparkEntry.queries("c25_scd2_pointintime")(spark, sf)
      .collect().map(_.toSeq).toSet
    assert(streamed == batch,
      s"stream-static census ${streamed.size} rows != batch ${batch.size}")
    // count preservation survived the streaming mode too: every fact is
    // in exactly one census cell
    val total = spark.table("c25_twin")
      .agg(sum(col("n_items"))).head().getLong(0)
    assert(total == graft.core.Tables.lineitem(spark, sf).count(),
      "online enrichment must neither drop nor fan out facts")
  }

  test("count-min sketch maintained per micro-batch merges to the batch grid (t20)") {
    // the STREAMING form of t20: CMS grids merge by ADDITION, so a
    // sketch maintained incrementally — each micro-batch's partial grid
    // summed into the running grid — must equal the from-scratch batch
    // grid no matter how the corpus was sliced into batches. That
    // additivity is exactly why CMS is the production streaming
    // frequency sketch (fixed 4×W state, no replay). Final check: the
    // streamed grid answers t20's heavy-hitter probes with the very
    // estimates the oracle-checked batch query reports.
    import spark.implicits._
    import org.apache.spark.sql.SparkSession
    val cmsW = 16
    def colR(r: Int) =
      conv(substring(md5(col("word").cast("binary")), 1 + 7 * r, 7), 16, 10)
        .cast("long") % cmsW
    def grid(docs: DataFrame): DataFrame = docs
      .select(explode(split(trim(col("text")), graft.core.Tok.Ws)).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("cnt"))
      .select(col("cnt"),
        posexplode(array((0 until 4).map(colR): _*)).as(Seq("r", "c")))
      .groupBy(col("r"), col("c")).agg(sum(col("cnt")).as("v"))
    val root = Files.createTempDirectory("graft-t20-stream").toString
    val docs = Tables.documents(spark, sf)
    docs.repartition(4).write.mode("overwrite").parquet(root + "/docs")
    // running grid starts empty (zero rows == all-zero counters)
    grid(docs.limit(0)).write.mode("overwrite").parquet(root + "/grid")
    val schema = spark.read.parquet(root + "/docs").schema
    var batches = 0
    val q = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(root + "/docs")
      .writeStream.trigger(Trigger.AvailableNow())
      .option("checkpointLocation", root + "/ckpt")
      .foreachBatch { (b: DataFrame, id: Long) =>
        val s: SparkSession = b.sparkSession
        if (!b.isEmpty) {
          batches += 1
          s.read.parquet(root + "/grid").unionByName(grid(b))
            .groupBy(col("r"), col("c"))
            .agg(sum(col("v")).cast("long").as("v"))
            .write.mode("overwrite").parquet(root + s"/stage_$id")
          s.read.parquet(root + s"/stage_$id")
            .write.mode("overwrite").parquet(root + "/grid")
          s.catalog.refreshByPath(root + "/grid")
        }
        ()
      }.start()
    assert(q.awaitTermination(180000), "t20 stream did not finish within 180 s")
    assert(batches > 1, s"need multiple micro-batches to prove repeated merge, got $batches")
    def gridSet(df: DataFrame): Set[(Int, Int, Long)] = df
      .select(col("r").cast("int"), col("c").cast("int"), col("v").cast("long"))
      .collect().map(x => (x.getInt(0), x.getInt(1), x.getLong(2))).toSet
    val streamed = gridSet(spark.read.parquet(root + "/grid"))
    assert(streamed == gridSet(grid(docs)),
      "incrementally merged grid != from-scratch batch grid")
    // serve the batch query's probes from the STREAMED grid
    val t20 = SparkEntry.queries("t20_countmin_heavyhitters")(spark, sf)
      .collect().map(r => (r.getString(0), r.getLong(2))).toMap
    val served = spark.read.parquet(root + "/grid")
      .join(Tables.documents(spark, sf)
          .select(explode(split(trim(col("text")), graft.core.Tok.Ws)).as("word"))
          .distinct()
          .filter(col("word").isin(t20.keys.toSeq: _*))
          .select(col("word"),
            posexplode(array((0 until 4).map(colR): _*)).as(Seq("r", "c"))),
        Seq("r", "c"))
      .groupBy(col("word")).agg(min(col("v")).as("est"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(served == t20,
      s"streamed-grid estimates diverge from the batch query: $served vs $t20")
  }

  test("bloom-gated dedup verdicts an increment stream against the frozen base (d23)") {
    // the STREAMING form of d23's nightly gate: increment documents
    // arrive as a stream and each micro-batch runs the SAME
    // bloomGatedVerdicts definition the batch query runs — base bloom
    // (scalar-subquery blob), might_contain pre-gate, broadcast exact
    // verify. Bloom has no false negatives and verdicts are per-row, so
    // the union of micro-batch verdicts must equal the batch query's
    // verdict set no matter how the increment was sliced (forced through
    // multiple micro-batches via maxFilesPerTrigger=1). foreachBatch is
    // the right harness: each micro-batch is a batch frame, so the
    // scalar subquery executes exactly as in the nightly run.
    import graft.ext.Dedup
    val docs = Tables.documents(spark, sf)
    val isNew = col("doc_id") % 10 === 7
    val fps = docs.select(col("doc_id"), col("source"),
      md5(col("text").cast("binary")).as("fp"))
    val base = fps.filter(!isNew).select(col("doc_id").as("base_id"), col("fp"))
    val batch = Dedup.queries("d23_bloom_dedup_gate")(spark, sf)
      .collect().map(_.toSeq).toSet
    assert(batch.nonEmpty, "batch produced no verdicts at sf0.001")

    val root = Files.createTempDirectory("graft-d23-stream").toString
    fps.filter(isNew).repartition(4).write.mode("overwrite")
      .parquet(root + "/inc")
    val schema = spark.read.parquet(root + "/inc").schema
    var batches = 0
    val acc = scala.collection.mutable.Set[Seq[Any]]()
    val q = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(root + "/inc")
      .writeStream.trigger(Trigger.AvailableNow())
      .option("checkpointLocation", root + "/ckpt")
      .foreachBatch { (b: DataFrame, _: Long) =>
        if (!b.isEmpty) {
          batches += 1
          acc ++= Dedup.bloomGatedVerdicts(base, b).collect().map(_.toSeq)
        }
        ()
      }.start()
    assert(q.awaitTermination(180000), "d23 stream did not finish within 180 s")
    assert(batches > 1, s"need multiple micro-batches, got $batches")
    assert(acc.toSet == batch,
      s"streamed verdicts ${acc.size} != batch verdicts ${batch.size}")
  }

  test("crash-mid-batch replay does not double-apply: exactly-once ledger sink (ExactlyOnceSink)") {
    // THE delivery-semantics cell checkpoint-restart alone can't reach:
    // foreachBatch commits offsets only AFTER the user function returns,
    // so a crash in the window between the sink write and the commit
    // replays the whole micro-batch (same batchId, same rows) on
    // restart. A naive read-merge-overwrite upsert double-applies there.
    // This test drives graft.streaming.ExactlyOnceSink through that
    // exact window: batch 0 is fully applied to the ledger, the query is
    // then killed BEFORE its offsets commit (an exception after
    // applyBatch returns — the engine fails the batch pre-commit),
    // restart replays batch 0 from the WAL, and the final ledger must
    // equal the once-applied full recompute. The counterfactual (that a
    // naive re-merge WOULD have corrupted the ledger) is asserted too,
    // so the crash injection provably lands in the dangerous window
    // rather than vacuously passing.
    import org.apache.spark.sql.SparkSession
    val ev = Tables.events(spark, sf)
      .select(to_date(col("ts")).as("day"), col("event_type"),
        col("event_id"), col("value"))
    def state(df: DataFrame): DataFrame = df
      .groupBy(col("day"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast(DecimalType(14, 2))).as("value_sum"),
        sum(conv(substring(md5(col("event_id").cast("string").cast("binary")),
          1, 10), 16, 10).cast("long")).as("id_checksum"))
    def remerge(df: DataFrame): DataFrame = df
      .groupBy(col("day"), col("event_type"))
      .agg(sum(col("n_events")).cast("long").as("n_events"),
        sum(col("value_sum")).cast(DecimalType(24, 2)).as("value_sum"),
        sum(col("id_checksum")).cast("long").as("id_checksum"))
    val maxDay = ev.agg(max(col("day"))).head().getDate(0)
    val isInc = col("day") === lit(maxDay)
    val root = Files.createTempDirectory("graft-e1-sink").toString
    state(ev.filter(!isInc))
      .write.mode("overwrite").partitionBy("day").parquet(root + "/roll")
    ev.filter(isInc).repartition(4).write.mode("overwrite")
      .parquet(root + "/inc")
    val schema = spark.read.parquet(root + "/inc").schema

    @volatile var armed = true
    val outcomes = scala.collection.mutable.ArrayBuffer[(Long, String)]()
    def run(): org.apache.spark.sql.streaming.StreamingQuery =
      spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(root + "/inc")
        .writeStream.trigger(Trigger.AvailableNow())
        .option("checkpointLocation", root + "/ckpt")
        .foreachBatch { (b: DataFrame, id: Long) =>
          if (!b.isEmpty) {
            // capture batch 0's raw rows so the counterfactual below can
            // re-derive its partials without touching the WAL internals
            if (id == 0 && armed)
              b.write.mode("overwrite").parquet(root + "/b0_capture")
            ExactlyOnceSink.pruneStages(root, id, b)
            val out = ExactlyOnceSink.applyBatch(
              root, id, state(b), remerge, "day")
            outcomes.synchronized { outcomes += ((id, out.toString)) }
            if (id == 0 && armed)
              throw new RuntimeException(
                "injected crash: sink applied, offsets not yet committed")
          }
          ()
        }.start()

    // run 1: batch 0 applies, then dies pre-commit
    val q1 = run()
    val failed =
      try { q1.awaitTermination(180000); false }
      catch { case _: org.apache.spark.sql.streaming.StreamingQueryException => true }
    assert(failed, "run 1 must fail from the injected pre-commit crash")
    assert(outcomes.toList == List((0L, "Merged")),
      s"run 1 must have fully applied exactly batch 0, got $outcomes")

    // counterfactual: naively re-merging batch 0's partials into the
    // post-crash ledger (what a non-idempotent sink does on replay)
    // diverges from the truth — the crash landed in the window where
    // idempotence is the only defense
    val b0 = spark.read.parquet(root + "/b0_capture")
    val touched = state(b0).select(col("day").cast("string"))
      .distinct().collect().map(_.getString(0)).toSeq
    def norm(df: DataFrame): Set[Seq[Any]] = df
      .select(col("day").cast("string"), col("event_type"),
        col("n_events").cast("long"),
        round(col("value_sum"), 2).cast("double").as("value_sum"),
        col("id_checksum"))
      .collect().map(_.toSeq).toSet
    val naiveReplay = norm(remerge(
      spark.read.parquet(root + "/roll")
        .filter(col("day").cast("string").isin(touched: _*))
        .unionByName(state(b0))))
    val appliedTouched = norm(spark.read.parquet(root + "/roll")
      .filter(col("day").cast("string").isin(touched: _*)))
    assert(naiveReplay != appliedTouched,
      "naive re-merge must double-apply (change the already-correct " +
        "ledger), else the test has no teeth")

    // run 2: same checkpoint, crash disarmed — the WAL replays batch 0,
    // the sink recognizes its staged transaction and skips the merge
    armed = false
    val q2 = run()
    assert(q2.awaitTermination(180000), "restart did not finish within 180 s")
    val byRun2 = outcomes.toList.drop(1)
    assert(byRun2.headOption.contains((0L, "Replayed")),
      s"batch 0 must replay through the idempotent path, got $byRun2")
    assert(byRun2.tail.forall(_._2 == "Merged") && byRun2.size >= 3,
      s"later batches must merge normally, got $byRun2")

    // the observable sink state equals the once-applied full recompute
    assert(norm(spark.read.parquet(root + "/roll")) == norm(state(ev)),
      "ledger after crash-replay must equal the once-applied state")
    // stage hygiene: pruneStages reclaimed every stage older than the
    // last batch that ran
    val stages = new java.io.File(root).listFiles()
      .map(_.getName).filter(_.startsWith("stage_")).sorted.toList
    assert(stages.size == 1 && stages.head == s"stage_${byRun2.last._1}",
      s"expected only the final batch's stage dir, got $stages")
  }

  test("ExactlyOnceSink bootstraps a fresh root and rejects null partition keys") {
    // the first-ever batch arrives before root/roll exists — the sink
    // must merge against an empty ledger, not throw PATH_NOT_FOUND;
    // and a replay of that very first batch must still take the
    // idempotent path. A null partition value must fail loudly (it
    // cannot name a partition directory), never NPE or silently drop.
    import spark.implicits._
    val root = Files.createTempDirectory("graft-e1-fresh").toString + "/sink"
    def remerge(df: DataFrame): DataFrame = df
      .groupBy(col("day")).agg(sum(col("n")).cast("long").as("n"))
    val partials = Seq(("2024-01-01", 3L), ("2024-01-02", 4L))
      .toDF("day", "n")
    assert(ExactlyOnceSink.applyBatch(root, 0L, partials, remerge, "day")
      == ExactlyOnceSink.Merged)
    val once = spark.read.parquet(root + "/roll")
      .select(col("day").cast("string"), col("n"))
      .collect().map(_.toSeq).toSet
    assert(once == Set(Seq("2024-01-01", 3L), Seq("2024-01-02", 4L)),
      s"bootstrap merge must equal the partials, got $once")
    // crash-replay of the bootstrap batch: marker exists, merge skipped
    assert(ExactlyOnceSink.applyBatch(root, 0L, partials, remerge, "day")
      == ExactlyOnceSink.Replayed)
    assert(spark.read.parquet(root + "/roll")
      .select(col("day").cast("string"), col("n"))
      .collect().map(_.toSeq).toSet == once,
      "replaying the bootstrap batch must not change the ledger")
    // null partition key → fast, named failure
    val nullKey = Seq((Option.empty[String], 1L), (Some("2024-01-03"), 2L))
      .toDF("day", "n")
    val ex = intercept[IllegalArgumentException] {
      ExactlyOnceSink.applyBatch(root, 1L, nullKey, remerge, "day")
    }
    assert(ex.getMessage.contains("non-null"),
      s"null-key failure must name the contract, got: ${ex.getMessage}")
  }

  test("ExactlyOnceSink: crash mid-FIRST-batch on a fresh root converges from every crash point") {
    // The bootstrap test above replays the first batch only AFTER a
    // clean apply. This arm combines fresh-root bootstrap with the
    // crash-mid-batch window for the FIRST batch ever — the one case
    // where the replay must bootstrap AND recognize partial transaction
    // state at once. Three on-disk crash points, each followed by a
    // replay of batch 0 that must converge to the once-applied ledger:
    //   1. mid-merge (remerge throws): nothing staged, no marker, no
    //      ledger — replay remerges from scratch (Merged);
    //   2. post-stage / pre-marker: stage dir exists, marker missing,
    //      ledger missing — replay recomputes the stage over the still-
    //      absent ledger (Merged), never trusts an unmarked stage;
    //   3. post-marker / pre-swap: marker exists, ledger missing —
    //      replay skips the merge (Replayed) and materializes the
    //      ledger purely from the frozen stage.
    import spark.implicits._
    val base = Files.createTempDirectory("graft-e1-first").toString
    val partials = Seq(("2024-02-01", 5L), ("2024-02-02", 7L))
      .toDF("day", "n")
    val expected = Set(Seq("2024-02-01", 5L), Seq("2024-02-02", 7L))
    def ledgerRows(root: String): Set[Seq[Any]] =
      spark.read.parquet(root + "/roll")
        .select(col("day").cast("string"), col("n"))
        .collect().map(_.toSeq).toSet
    val fs = new org.apache.hadoop.fs.Path(base).getFileSystem(
      spark.sparkContext.hadoopConfiguration)

    // crash point 1: the merge itself dies on the first-ever batch
    @volatile var armed = true
    def remerge(df: DataFrame): DataFrame = {
      if (armed) throw new RuntimeException("injected crash mid-merge")
      df.groupBy(col("day")).agg(sum(col("n")).cast("long").as("n"))
    }
    val r1 = base + "/cp1"
    intercept[RuntimeException] {
      ExactlyOnceSink.applyBatch(r1, 0L, partials, remerge, "day")
    }
    assert(!fs.exists(new org.apache.hadoop.fs.Path(r1 + "/roll")) &&
      !fs.exists(new org.apache.hadoop.fs.Path(r1 + "/stage_0/_GRAFT_STAGED")),
      "mid-merge crash must leave no ledger and no committed stage")
    armed = false
    assert(ExactlyOnceSink.applyBatch(r1, 0L, partials, remerge, "day")
      == ExactlyOnceSink.Merged)
    assert(ledgerRows(r1) == expected)

    // crash point 2: stage written, marker and swap lost (on-disk state
    // identical to a crash between the stage write and the marker
    // create on a fresh root)
    val r2 = base + "/cp2"
    ExactlyOnceSink.applyBatch(r2, 0L, partials, remerge, "day")
    fs.delete(new org.apache.hadoop.fs.Path(r2 + "/stage_0/_GRAFT_STAGED"), false)
    fs.delete(new org.apache.hadoop.fs.Path(r2 + "/roll"), true)
    assert(ExactlyOnceSink.applyBatch(r2, 0L, partials, remerge, "day")
      == ExactlyOnceSink.Merged,
      "an unmarked stage must be recomputed, never trusted")
    assert(ledgerRows(r2) == expected)

    // crash point 3: merge committed (marker present), swap lost
    val r3 = base + "/cp3"
    ExactlyOnceSink.applyBatch(r3, 0L, partials, remerge, "day")
    fs.delete(new org.apache.hadoop.fs.Path(r3 + "/roll"), true)
    assert(ExactlyOnceSink.applyBatch(r3, 0L, partials, remerge, "day")
      == ExactlyOnceSink.Replayed,
      "a marked stage must replay through the idempotent swap")
    assert(ledgerRows(r3) == expected)
  }

  test("ExactlyOnceSink refuses a remerge that empties a touched partition — before the commit point") {
    // The must-emit contract: phase 2's dynamic overwrite can only
    // rewrite partitions PRESENT in the stage, so a remerge with
    // tombstone semantics (dropping a touched day outright) would leave
    // that day's stale rows in the ledger forever — silently. The sink
    // must fail loudly INSTEAD of committing, the failure must land
    // before the marker (so the batch stays replayable), and a
    // corrected remerge of the same batchId must then succeed.
    import spark.implicits._
    val root = Files.createTempDirectory("graft-e1-mustemit").toString + "/s"
    def goodMerge(df: DataFrame): DataFrame =
      df.groupBy(col("day")).agg(sum(col("n")).cast("long").as("n"))
    ExactlyOnceSink.applyBatch(root, 0L,
      Seq(("2024-03-01", 1L), ("2024-03-02", 2L)).toDF("day", "n"),
      goodMerge, "day")
    val before = spark.read.parquet(root + "/roll")
      .select(col("day").cast("string"), col("n"))
      .collect().map(_.toSeq).toSet

    // batch 1 touches 2024-03-01 but its remerge deletes the day
    val b1 = Seq(("2024-03-01", 10L)).toDF("day", "n")
    def deletingMerge(df: DataFrame): DataFrame =
      goodMerge(df).filter(col("day") =!= "2024-03-01")
    val ex = intercept[IllegalArgumentException] {
      ExactlyOnceSink.applyBatch(root, 1L, b1, deletingMerge, "day")
    }
    assert(ex.getMessage.contains("2024-03-01") &&
      ex.getMessage.contains("touched partition"),
      s"refusal must name the dropped partition, got: ${ex.getMessage}")
    val fs = new org.apache.hadoop.fs.Path(root).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(
      new org.apache.hadoop.fs.Path(root + "/stage_1/_GRAFT_STAGED")),
      "the refusal must land BEFORE the merge's commit point")
    assert(spark.read.parquet(root + "/roll")
      .select(col("day").cast("string"), col("n"))
      .collect().map(_.toSeq).toSet == before,
      "a refused batch must leave the ledger untouched")

    // the same batchId replays cleanly once the remerge honors the
    // contract — the failure was recoverable, not a poisoned state
    assert(ExactlyOnceSink.applyBatch(root, 1L, b1, goodMerge, "day")
      == ExactlyOnceSink.Merged)
    assert(spark.read.parquet(root + "/roll")
      .select(col("day").cast("string"), col("n"))
      .collect().map(_.toSeq).toSet ==
      Set(Seq("2024-03-01", 11L), Seq("2024-03-02", 2L)))
  }
}
