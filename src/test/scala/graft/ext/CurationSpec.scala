package graft.ext

import graft.SparkSuite

/** Hash-based sampling/splitting must be deterministic, rate-accurate, and
  * consistent between the two queries (same u28 unit). */
class CurationSpec extends SparkSuite {

  private val sf = "/root/testdata/sf0.001"

  test("c01: sampling is deterministic and respects per-stratum rates") {
    val q = Curation.queries("c01_stratified_sample")
    val a = q(spark, sf).collect().map(_.getLong(0)).toSeq
    val b = q(spark, sf).collect().map(_.getLong(0)).toSeq
    assert(a == b, "same input must select identical rows")
    // rate sanity at the larger sf where strata have enough mass
    val docs = graft.core.Tables.documents(spark, "/root/testdata/sf0.01")
    val kept = q(spark, "/root/testdata/sf0.01")
    val total = docs.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val keptBy = kept.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    total.foreach { case (lang, n) =>
      val rate = keptBy.getOrElse(lang, 0L).toDouble / n
      val want = if (lang == "en") 0.25 else 0.75
      assert(math.abs(rate - want) < 0.15, s"$lang rate $rate !~ $want (n=$n)")
    }
  }

  test("c08: short eval docs stay in the report with zero shingles and rate 0") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("graft-c08").toString
    // doc 10: eval, 3 words — below the 5-gram width, zero shingles;
    // doc 20: eval, contaminated verbatim by train doc 21;
    // doc 30: eval, clean
    val evalText = "alpha beta gamma delta epsilon zeta eta theta"
    Seq(
      (10L, "too few words", "en", "s"),
      (20L, evalText, "en", "s"),
      (21L, evalText, "en", "s"),
      (30L, "iota kappa lambda mu nu xi omicron pi rho", "en", "s"))
      .toDF("doc_id", "text", "lang", "source")
      .withColumn("n_chars", length(col("text")).cast("long"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val rows = Curation.queries("c08_contamination_report")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))
      .toList
    assert(rows == List(
      (10L, 0L, 0L, 0L, 0.0),          // zero-shingle doc is a ROW, not absent
      (20L, 4L, 1L, 4L, 1.0),          // fully contaminated: every 5-gram hit
      (30L, 5L, 0L, 0L, 0.0)), s"got $rows")
  }

  test("c09: the corpus build is consistent with the report queries it composes") {
    val sf01 = "/root/testdata/sf0.01"
    val c09 = Curation.queries("c09_corpus_build")(spark, sf01).collect()
      .map(r => r.getLong(0) -> r).toMap
    // every shipped doc passed the quality gate it claims
    c09.values.foreach(r => assert(r.getDouble(3) >= 0.5, s"doc ${r.getLong(0)}"))
    // language gate: the shipped lang equals t03's prediction for that doc
    val predicted = TextAnalysis.queries("t03_text_langid")(spark, sf01)
      .select("doc_id", "predicted").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    c09.values.foreach { r =>
      assert(predicted(r.getLong(0)) == r.getString(2),
        s"doc ${r.getLong(0)} shipped with lang ${r.getString(2)} but predicted ${predicted(r.getLong(0))}")
    }
    // span-dedup pool monotonicity: d16 dedups over ALL reps, c09 only
    // over the gated survivors — a smaller competition pool can only keep
    // MORE of a doc's chunks, never fewer
    val d16 = Dedup.queries("d16_cleaned_corpus")(spark, sf01).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    c09.values.foreach { r =>
      val (n16, k16) = d16(r.getLong(0))
      assert(r.getLong(4) == n16, s"doc ${r.getLong(0)} chunk count differs from d16")
      assert(r.getLong(5) >= k16,
        s"doc ${r.getLong(0)} kept ${r.getLong(5)} < d16's $k16 despite the smaller pool")
    }
  }

  test("c02: split census covers every doc exactly once, ~80/10/10") {
    val docs = graft.core.Tables.documents(spark, "/root/testdata/sf0.01")
    val census = Curation.queries("c02_hash_split")(spark, "/root/testdata/sf0.01")
      .collect().map(r => (r.getString(1), r.getLong(2)))
    val bySplit = census.groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
    assert(bySplit.values.sum == docs.count(), "partition of the corpus")
    val n = bySplit.values.sum.toDouble
    assert(math.abs(bySplit("train") / n - 0.8) < 0.06)
    assert(math.abs(bySplit("val") / n - 0.1) < 0.05)
    assert(math.abs(bySplit("test") / n - 0.1) < 0.05)
  }

  test("c10: temperature flattens the mixture — rate falls as source size grows") {
    val sf01 = "/root/testdata/sf0.01"
    val rows = Curation.queries("c10_temperature_mix")(spark, sf01).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getLong(3), r.getLong(4)))
    assert(rows.nonEmpty)
    rows.foreach { case (src, toks, rate, kept, keptToks) =>
      assert(rate > 0.0 && rate <= 1.0, s"$src rate $rate")
      assert(keptToks <= toks, s"$src kept $keptToks of $toks")
      assert(kept >= 0)
    }
    // p ∝ sqrt(tokens) ⇒ uncapped rate ∝ 1/sqrt(tokens): strictly larger
    // sources never get a strictly larger rate (ties only via the cap)
    rows.sortBy(_._2).sliding(2).foreach {
      case Array((sa, ta, ra, _, _), (sb, tb, rb, _, _)) if ta < tb =>
        assert(rb <= ra + 1e-9, s"$sb ($tb toks, rate $rb) > $sa ($ta toks, rate $ra)")
      case _ =>
    }
    // τ = 0.5 sits between proportional (τ=1: all rates equal) and c04's
    // equal-share (τ=0): the small/large rate ratio under temperature is
    // sqrt of the equal-share ratio, so it must be COMPRESSED vs c04
    val c04 = Curation.queries("c04_token_budget_mix")(spark, sf01).collect()
      .map(r => r.getString(0) -> r.getDouble(3)).toMap
    val smallest = rows.minBy(_._2)
    val largest = rows.maxBy(_._2)
    if (smallest._3 < 1.0 && largest._3 < 1.0) {
      val tempRatio = smallest._3 / largest._3
      val eqRatio = c04(smallest._1) / c04(largest._1)
      assert(tempRatio <= eqRatio + 1e-9,
        s"temperature should compress the small/large rate ratio: $tempRatio vs $eqRatio")
    }
  }

  test("c12: fixed-size samples are exact-size and NEST as k grows") {
    val docs = graft.core.Tables.documents(spark, "/root/testdata/sf0.01")
    def ids(k: Int) = Curation.fixedSample(docs, k)
      .collect().map(_.getLong(0)).toSet
    val s50 = ids(50); val s100 = ids(100)
    assert(s50.size == 50 && s100.size == 100)
    assert(s50.subsetOf(s100), "growing k must only ADD documents")
  }

  test("c11: planted increment — exact dup drops, shared span drops, novel span ships") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // 20-word chunks; 'the' every other word keeps the docs past the
    // quality + language gates (en_hits/tokens = 0.5)
    def c20(tag: String) =
      (1 to 20).map(i => if (i % 2 == 0) "the" else s"$tag$i").mkString(" ")
    val shared = c20("s"); val tailA = c20("a"); val novel = c20("n")
    val dir = java.nio.file.Files.createTempDirectory("graft-incr-build").toString
    Seq(
      (2L, s"$shared $tailA", "en", "web"),  // base: owns the shared span
      (7L, s"$shared $novel", "en", "web"),  // increment: 1 seen + 1 novel span
      (17L, s"$shared $tailA", "en", "web")) // increment: exact dup of base 2
      .toDF("doc_id", "text", "lang", "source")
      .withColumn("n_chars", length(col("text")).cast("long"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    // precondition: doc 7 must clear d17 (sharing ONE of two spans is
    // below the near-dup signature-agreement bar) — assert, don't assume
    val verdicts = Dedup.queries("d17_incremental_dedup")(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(verdicts(17L) == "exact_dup", s"got $verdicts")
    assert(verdicts(7L) == "kept", s"got $verdicts")
    val rows = Curation.queries("c11_incremental_build")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(4), r.getLong(5), r.getString(6))).toList
    // only doc 7 ships; the base's span is excluded by the ledger, the
    // novel span survives as the cleaned text
    assert(rows == List((7L, 2L, 1L, novel)), s"got $rows")
  }

  test("c13: shards land one-file-per-shard, doc-sorted, reconciling with c05") {
    import org.apache.spark.sql.functions._
    val census = Curation.queries("c13_shard_materialize")(spark, sf).collect()
    // the re-read census must agree with c05's pure-assignment census on
    // the shared columns (shard, n_docs, total_tokens, first/last doc)
    val c05 = Curation.queries("c05_token_shards")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSeq
    val c13 = census
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSeq
    assert(c13 == c05, "re-read census must equal the assignment census")
    // write-layout invariants: exactly one data file per shard, rows
    // inside each file in ascending doc_id order (deterministic layout a
    // trainer can stream without sorting)
    val path = graft.core.SessionScope.artifactPath(spark, "c13_shards", sf)
    val rows = spark.read.parquet(path)
      .select(col("shard").cast("long").as("shard"), col("doc_id"),
        input_file_name().as("f"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    assert(rows.map(_._3).distinct.length == c05.length, "one file per shard")
    assert(rows.groupBy(_._3).values.forall(_.map(_._1).distinct.length == 1),
      "a file never mixes shards")
    rows.groupBy(_._3).values.foreach { fr =>
      val ids = fr.map(_._2).toSeq
      assert(ids == ids.sorted, "rows within a shard file must be doc-sorted")
    }
  }

  test("s04: refined means are finite and cells partition the vectors") {
    val rows = Similarity.queries("s04_kmeans_refine")(spark, sf).collect()
    assert(rows.nonEmpty && rows.length <= 8)
    val members = rows.map(_.getLong(1)).sum
    assert(members == graft.core.Tables.embeddings(spark, sf).count())
    rows.foreach { r =>
      (2 until 6).foreach(i => assert(!r.getDouble(i).isNaN && !r.getDouble(i).isInfinite))
    }
  }

  test("c05: two-level prefix sum equals the naive global window") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    // the scalable bucketed scan must assign the identical shard to
    // every doc as a single global running sum would
    val sfd = "/root/testdata/sf0.01"
    val twoLevel = Curation.queries("c05_token_shards")(spark, sfd)
      .collect().map(_.toSeq).toSeq
    val w = Window.orderBy($"doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val naive = graft.core.Tables.documents(spark, sfd)
      .select($"doc_id", size(split(trim($"text"), graft.core.Tok.Ws)).cast("long").as("tk"))
      .withColumn("cum0", sum($"tk").over(w) - $"tk")
      .withColumn("shard", expr("cum0 div 2000"))
      .groupBy($"shard")
      .agg(count(lit(1)).as("n_docs"), sum($"tk").as("total_tokens"),
        min($"doc_id").as("first_doc"), max($"doc_id").as("last_doc"))
      .orderBy($"shard")
      .collect().map(_.toSeq).toSeq
    assert(twoLevel == naive)
  }

  test("c15: planted target-like doc wins the DSIR ranking; scores are exact integers") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("graft-c15").toString
    // target domain (en): one distinctive phrase, repeated so its bigrams
    // dominate the target LM; pool (de): doc 99 plants the SAME phrase —
    // cheap under the target LM, expensive under the raw LM (its bigrams
    // are rare in the pool) — and must take rank 1 by the largest
    // nll_raw − nll_target gap
    val phrase = "the quick brown fox jumps over the lazy dog"
    val en = (0L until 10L).map(i => (i * 2 + 1, phrase, "en", "s0"))
    val de = Seq(
      (10L, "der hund laeuft schnell durch den dunklen wald heute", "de", "s1"),
      (12L, "die katze schlaeft gern unter dem alten baum dort", "de", "s1"),
      (14L, "der hund schlaeft unter dem baum im wald", "de", "s1"),
      (99L, phrase, "de", "s1"))
    (en ++ de).toDF("doc_id", "text", "lang", "source")
      .withColumn("n_chars", length(col("text")).cast("long"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val rows = Curation.queries("c15_dsir_selection")(spark, dir).collect()
    // only pool docs are ranked, every pool doc fits in the top-100 cut
    assert(rows.length == de.length, s"expected ${de.length} ranked pool docs")
    val top = rows.head
    assert(top.getInt(0) == 1 && top.getLong(1) == 99L,
      s"planted doc must rank 1, got ${top.mkString(",")}")
    // the ranking is by exact integer score, descending with doc_id tie-break
    val scores = rows.map(r => (r.getInt(0), r.getLong(7), r.getLong(1)))
    assert(scores.sortBy { case (_, s, id) => (-s, id) }.map(_._1).toSeq
      == scores.map(_._1).toSeq.sorted, s"rank order broken: ${scores.toList}")
    // the gap is recomputable from the two nll columns
    rows.foreach { r =>
      assert(r.getLong(7) == r.getLong(6) - r.getLong(5), s"score drifted: $r")
    }
  }

  test("m02: frame summaries agree with a direct stub computation") {
    import spark.implicits._
    val media = Seq((1L, "k", "abcdefgh" * 10), (2L, "k", "xy"))
      .toDF("media_id", "kind", "text")
      .selectExpr("media_id", "kind", "CAST(text AS BINARY) AS content")
    val got = Multimodal.sampleFrames(spark, media).orderBy("media_id").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getInt(3), r.getLong(4)))
    // blob 1: 80 bytes -> resize keeps 64 -> frames at 0,4,...,60 (16)
    val s1 = "abcdefgh" * 10
    val frames1 = (0 until 64 by 4).map(s1.charAt)
    assert(got(0) == ((1L, 16, frames1.head.toInt, frames1.last.toInt,
      frames1.map(_.toLong).sum)))
    // blob 2: 2 bytes -> 1 frame ('x')
    assert(got(1) == ((2L, 1, 'x'.toInt, 'x'.toInt, 'x'.toLong)))
  }

  test("c18: each epoch partitions the corpus; epochs decorrelate; epoch 0 never sticky") {
    val sf = "/root/testdata/sf0.01"
    val rows = Curation.queries("c18_epoch_shuffle")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    val n = graft.core.Tables.documents(spark, sf).count()
    (0L to 1L).foreach { e =>
      val ep = rows.filter(_._1 == e)
      assert(ep.map(_._2).sorted.toSeq == (0L to 7L), s"epoch $e shards")
      assert(ep.map(_._3).sum == n, s"epoch $e must partition the corpus")
    }
    // epoch 0 has no previous epoch — sticky is identically 0
    assert(rows.filter(_._1 == 0L).forall(_._6 == 0L))
    // fresh salt: stickiness is the ~1/8 random-agreement rate, nowhere
    // near a broken-salt 100% (allow wide slack: under half the docs)
    val sticky = rows.filter(_._1 == 1L).map(_._6).sum
    assert(sticky > 0 && sticky < n / 2, s"sticky $sticky of $n")
    // the within-shard leaders reshuffle between epochs (decorrelation
    // smoke: at least one of the 8 leads changes)
    val lead0 = rows.filter(_._1 == 0L).sortBy(_._2).map(_._5).toSeq
    val lead1 = rows.filter(_._1 == 1L).sortBy(_._2).map(_._5).toSeq
    assert(lead0 != lead1, "epoch leads identical — salt not applied")
  }

  test("c21: maintenance rewrites ONLY the touched day partitions") {
    import spark.implicits._
    val rows = Curation.queries("c21_rollup_maintenance")(
      spark, "/root/testdata/sf0.001").collect()
    assert(rows.nonEmpty)
    // the parquet part-file names carry the WRITE JOB's UUID, so the base
    // build and the maintenance swap are distinguishable on disk: exactly
    // two jobs must have written the ledger, and the second one must have
    // touched exactly the two maintained day partitions — a full rewrite
    // (one uuid everywhere) or an over-eager swap both fail here
    val root = new java.io.File(graft.core.SessionScope.artifactPath(
      spark, "c21_rollup", "/root/testdata/sf0.001") + "/roll")
    val dayDirs = root.listFiles().filter(_.getName.startsWith("day="))
    assert(dayDirs.length >= 3, s"need >2 day partitions, got ${dayDirs.length}")
    val uuidByDay = dayDirs.map { dir =>
      val uuids = dir.listFiles().filter(_.getName.startsWith("part-"))
        .map(_.getName.replaceAll("^part-\\d+-", "").take(36)).toSet
      assert(uuids.size == 1, s"${dir.getName}: mixed write jobs $uuids")
      dir.getName.stripPrefix("day=") -> uuids.head
    }.toMap
    val byUuid = uuidByDay.groupBy(_._2).map { case (u, m) => u -> m.keys.toSet }
    assert(byUuid.size == 2, s"expected base+merge write jobs, got $byUuid")
    val touched = byUuid.values.minBy(_.size)
    val days = uuidByDay.keys.toSeq.sorted
    assert(touched == Set(days.last, days(days.length - 2)),
      s"maintenance touched $touched, expected the last two days of $days")
    // census columns agree with the layout
    assert(rows.head.getAs[Long]("n_days") == dayDirs.length.toLong)
    assert(rows.head.getAs[Long]("n_days_touched") == 2L)
  }

  test("c23: merged read sees every generation's columns; the single-footer read cannot") {
    import org.apache.spark.sql.functions.col
    // run the query (materializes the three generations) and check the
    // null pattern the union-by-name semantics dictate per generation
    val rows = Curation.queries("c23_schema_evolution")(spark, sf).collect()
    assert(rows.map(_.getInt(0)).toSeq == Seq(1, 2, 3))
    rows.foreach { r =>
      val (gen, n) = (r.getInt(0), r.getLong(1))
      val (nl, nq, nt) = (r.getLong(2), r.getLong(3), r.getLong(4))
      gen match {
        case 1 => assert(nl == 0 && nq == n && nt == n,
          s"gen 1 nulls wrong: lang $nl quality $nq tags $nt of $n")
        case 2 => assert(nl == 0 && nq == 0 && nt == n,
          s"gen 2 nulls wrong: lang $nl quality $nq tags $nt of $n")
        case 3 => assert(nl == n && nq == n && nt == 0,
          s"gen 3 nulls wrong: lang $nl quality $nq tags $nt of $n")
      }
    }
    // the merged schema carries the union of all generations' columns
    val root = graft.core.SessionScope.artifactPath(spark, "c23_evo", sf)
    val gens = Seq(1, 2, 3).map(g => s"$root/gen=$g")
    val merged = spark.read.option("mergeSchema", "true")
      .option("basePath", root).parquet(gens: _*)
    assert(merged.columns.toSet == Set("doc_id", "text", "lang", "source",
      "n_chars", "quality", "tags", "gen"), merged.columns.mkString(","))
    // counterfactual teeth: without mergeSchema the schema comes from
    // ONE footer, and no single generation carries lang AND quality AND
    // tags — so at least one column is invisible, whatever file wins
    val naive = spark.read.option("basePath", root).parquet(gens: _*)
    val cols = naive.columns.toSet
    assert(!(cols.contains("lang") && cols.contains("quality")
        && cols.contains("tags")),
      s"single-footer read claims all evolved columns: $cols")
    // and absent columns read as null, never as dropped rows
    assert(merged.filter(col("gen") === 1 && col("quality").isNotNull)
      .count() == 0L)
  }

  test("c24 scd2Build: change collapse, versioning, sentinel, same-ts tie-break") {
    import spark.implicits._
    def ts(s: String) = java.sql.Timestamp.valueOf(s + " 00:00:00")
    val sentinel = ts("2099-12-31")
    // key 1: tiers 3,3,1,1,3 -> versions (3,1,3); key 2: two events at the
    // SAME timestamp, okey breaks the tie (5 then 7 -> two versions)
    val ev = Seq(
      (1L, ts("1995-01-01"), 10L, 3), (1L, ts("1995-02-01"), 11L, 3),
      (1L, ts("1995-03-01"), 12L, 1), (1L, ts("1995-04-01"), 13L, 1),
      (1L, ts("1995-05-01"), 14L, 3),
      (2L, ts("1995-06-01"), 20L, 5), (2L, ts("1995-06-01"), 21L, 7))
      .toDF("ck", "ts", "okey", "tier")
    val got = Curation.scd2Build(ev).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getTimestamp(2), r.getLong(3),
        r.getInt(4), r.getTimestamp(5), r.getBoolean(6))).toList.sorted
    assert(got == List(
      (1L, 1, ts("1995-01-01"), 10L, 3, ts("1995-03-01"), false),
      (1L, 2, ts("1995-03-01"), 12L, 1, ts("1995-05-01"), false),
      (1L, 3, ts("1995-05-01"), 14L, 3, sentinel, true),
      (2L, 1, ts("1995-06-01"), 20L, 5, ts("1995-06-01"), false),
      (2L, 2, ts("1995-06-01"), 21L, 7, sentinel, true)), s"got $got")
  }

  test("c24 merge path == one-pass rebuild, incl. cross-cutoff collapse, new keys, untouched keys") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, floor}
    def ts(s: String) = java.sql.Timestamp.valueOf(s + " 00:00:00")
    // staged orders crafted so the increment (>= 1999-01-01) exercises:
    //  ck 1 — first increment event REPEATS the base current tier (must
    //         collapse across the cutoff: no new version, row stays open)
    //  ck 2 — increment changes the tier (close the base current row)
    //  ck 3 — key seen ONLY in the increment (fresh history)
    //  ck 4 — key untouched by the increment (anti-join passthrough)
    val orders = Seq(
      (10L, 1L, 60000.0, ts("1995-01-01")), (11L, 1L, 110000.0, ts("1996-01-01")),
      (12L, 1L, 120000.0, ts("1999-02-01")), (13L, 1L, 260000.0, ts("1999-03-01")),
      (20L, 2L, 60000.0, ts("1995-01-01")), (21L, 2L, 310000.0, ts("1999-02-01")),
      (30L, 3L, 60000.0, ts("1999-06-01")),
      (40L, 4L, 410000.0, ts("1995-06-01")))
      .toDF("o_orderkey", "o_custkey", "o_totalprice", "o_orderdate")
    val dir = java.nio.file.Files.createTempDirectory("graft-c24").toString
    orders.write.mode("overwrite").parquet(s"$dir/orders.parquet")
    val merged = Curation.queries("c24_scd2_merge")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getTimestamp(2),
        r.getTimestamp(3), r.getInt(4), r.getBoolean(5))).toList
    val sentinel = ts("2099-12-31")
    assert(merged == List(
      // ck 1: 1@95 -> 2@96 (held across the repeat at 99-02) -> 5@99-03
      (1L, 1, ts("1995-01-01"), ts("1996-01-01"), 1, false),
      (1L, 2, ts("1996-01-01"), ts("1999-03-01"), 2, false),
      (1L, 3, ts("1999-03-01"), sentinel, 5, true),
      (2L, 1, ts("1995-01-01"), ts("1999-02-01"), 1, false),
      (2L, 2, ts("1999-02-01"), sentinel, 6, true),
      (3L, 1, ts("1999-06-01"), sentinel, 1, true),
      (4L, 1, ts("1995-06-01"), sentinel, 8, true)), s"got $merged")
    // and on real data at both SFs: the merge path equals a one-pass
    // rebuild of the full event log (the oracle re-proves this cross-
    // engine; this makes the invariant a local red test too)
    for (sf <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01")) {
      val viaMerge = Curation.queries("c24_scd2_merge")(spark, sf)
      val ev = graft.core.Tables.orders(spark, sf).select(
        col("o_custkey").as("ck"), col("o_orderdate").as("ts"),
        col("o_orderkey").as("okey"),
        floor(col("o_totalprice") / 50000).cast("int").as("tier"))
      val rebuilt = Curation.scd2Build(ev)
        .select(col("ck").as("c_custkey"), col("version"), col("valid_from"),
          col("valid_to"), col("tier"), col("is_current"))
        .orderBy(col("c_custkey"), col("version"))
      assert(viaMerge.collect().toSeq == rebuilt.collect().toSeq,
        s"merge != rebuild at $sf")
    }
  }

  test("c25 point-in-time join: count-preserving (pre-history bucket), version-at-ship-time fixture, equi-join plan") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    def ts(s: String) = java.sql.Timestamp.valueOf(s + " 00:00:00")
    // ck 1 changes tier at 1996-01-01 (order 11); order 10's SECOND
    // lineitem ships AFTER that change, so it must match version 2 even
    // though its own order created version 1 — the lookup is by SHIP
    // time, not order membership
    val dir = java.nio.file.Files.createTempDirectory("graft-c25").toString
    Seq((10L, 1L, 60000.0, ts("1995-01-01")),
        (11L, 1L, 110000.0, ts("1996-01-01")))
      .toDF("o_orderkey", "o_custkey", "o_totalprice", "o_orderdate")
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    Seq((10L, 1, ts("1995-06-01")), (10L, 2, ts("1996-06-01")),
        (11L, 1, ts("1996-02-01")), (11L, 2, ts("1994-06-01")))
      .toDF("l_orderkey", "l_linenumber", "l_shipdate")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    val rows = Curation.queries("c25_scd2_pointintime")(spark, dir).collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getLong(2), r.getLong(3)))
      .toList
    // (tier, yr, n_items, version_checksum): the 1994 ship PRECEDES the
    // customer's first version -> tier -1 pre-history bucket, version 0;
    // 1995 ship under tier 1/v1; both 1996 ships under tier 2/v2
    assert(rows == List((-1, 1994, 1L, 0L), (1, 1995, 1L, 1L),
      (2, 1996, 2L, 4L)), s"got $rows")
    // count-preservation on real data: at most one version matches by
    // interval disjointness, pre-history facts land in tier -1, so the
    // census total must equal the fact count exactly
    for (sf <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01")) {
      val matched = Curation.queries("c25_scd2_pointintime")(spark, sf)
        .agg(org.apache.spark.sql.functions.sum(col("n_items")))
        .collect().head.getLong(0)
      val facts = graft.core.Tables.lineitem(spark, sf).count()
      assert(matched == facts, s"$sf: matched $matched != lineitems $facts")
    }
    // plan: the range residual must ride an EQUI join on the key, never
    // a nested-loop interval cross
    val plan = Curation.queries("c25_scd2_pointintime")(
      spark, "/root/testdata/sf0.001").queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin"), "interval cross-join regression")
  }

  test("c24 scd2Merge is idempotent under exact-batch replay (at-least-once -> effectively-once)") {
    // a REPLAYED batch re-presents events that are now version
    // boundaries: each duplicate sorts adjacent to its boundary twin,
    // sees prev == tier, and collapses away — so at-least-once delivery
    // + this merge = effectively-once, no ledger or batchId fencing
    // needed (ExactlyOnceSink covers sinks whose payload is NOT
    // naturally idempotent; this proves versioned state IS)
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val sf = "/root/testdata/sf0.001"
    val ev = Curation.tierEvents(spark, sf)
    val cutoff = org.apache.spark.sql.functions.lit("1999-01-01").cast("timestamp")
    val base = Curation.scd2Build(ev.filter(col("ts") < cutoff))
      .localCheckpoint()
    val inc = ev.filter(col("ts") >= cutoff).localCheckpoint()
    def norm(df: org.apache.spark.sql.DataFrame): Set[Seq[Any]] =
      df.select(col("ck"), col("version"), col("valid_from").cast("string"),
        col("valid_to").cast("string"), col("tier"), col("is_current"))
        .collect().map(_.toSeq).toSet
    val once = Curation.scd2Merge(base, inc).localCheckpoint()
    val twice = Curation.scd2Merge(once, inc)
    assert(norm(once) == norm(twice), "replaying the same batch changed the history")
    // and a batch containing internal duplicates applies like its dedup
    val dupes = Curation.scd2Merge(base, inc.unionByName(inc))
    assert(norm(once) == norm(dupes), "duplicated events changed the history")
  }
}
