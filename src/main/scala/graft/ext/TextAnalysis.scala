package graft.ext

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{SessionScope, Tables, Tok}
import graft.core.SessionScope.{Checkpointed, Persisted}

/** Text-analysis operators for a large-scale training-data pipeline, over
  * the `documents` table: token counting, quality scoring, language ID,
  * document fingerprinting. All are single-pass narrow transforms (no
  * shuffle except final ORDER BY) — they scale linearly with input and stay
  * inside whole-stage codegen; at 100 TB they are scan-bound.
  *
  * Every query has a DuckDB oracle; the only functions used are ones with
  * identical semantics in both engines (md5 hex, regexp splits, list
  * filters, integer arithmetic, deterministic double division).
  */
object TextAnalysis {

  private[ext] val Stop = Map(
    "en" -> Seq("the", "and", "of", "to", "a"),
    "de" -> Seq("der", "die", "und", "das", "ist"),
    "es" -> Seq("el", "los", "de", "y", "que"),
    "fr" -> Seq("le", "les", "et", "des", "une"))

  private[ext] def sqlList(ws: Seq[String]) = ws.map(w => s"'$w'").mkString(", ")

  // ---- shared formula helpers (t02 / t03 / c09 use ONE definition so the
  // quality and language gates can never drift between queries) ----

  /** Marker-stopword hit count for `lang` over a token-array column. */
  private[graft] def hitsCol(w: Column, lang: String): Column =
    size(filter(w, x => x.isin(Stop(lang): _*)))

  /** Punctuation-mark count over the raw text. */
  /** t23's chunk census over any `documents(doc_id, text)` frame —
    * narrow per-row ops + one per-doc partial agg, so the SAME
    * definition runs on a batch table or a streaming scan (the
    * StreamingParitySpec twin proves it). See the t23 entry's scaladoc
    * for the window/stride semantics and the scale shape. */
  private[graft] def chunkCensus(docs: DataFrame): DataFrame = {
    val W = 64
    val S = 48
    val base = docs
      .select(col("doc_id"), split(trim(col("text")), Tok.Ws).as("toks"))
      .withColumn("n", size(col("toks")).cast("long"))
      .withColumn("nc",
        expr(s"CAST(1 + (GREATEST(n - $W, 0) + ${S - 1}) DIV $S AS INT)"))
    base.select(col("doc_id"), col("n"), col("nc"), col("toks"),
        explode(sequence(lit(0), col("nc") - 1)).as("i"))
      .select(col("doc_id"), col("n"), col("nc"), col("i"),
        conv(substring(md5(array_join(
          slice(col("toks"), (col("i") * S + 1).cast("int"),
            least(lit(W), col("n") - col("i") * S).cast("int")), " ")
          .cast("binary")), 1, 10), 16, 10).cast("long").as("h"))
      .groupBy(col("doc_id"))
      .agg(max(col("n")).as("n_toks"),
        count(lit(1)).as("n_chunks"),
        least(lit(W.toLong), max(col("n")) - (max(col("nc")) - 1) * S)
          .cast("long").as("tail_len"),
        sum(col("h") * (col("i") + 1)).cast("long").as("chunk_checksum"))
  }

  private[graft] def punctCol(text: Column): Column =
    size(regexp_extract_all(text, lit("[.,!?;:]"), lit(0)))

  /** t02's heuristic quality score from its integer ingredients. */
  private[graft] def qualityCol(
      text: Column, nTokens: Column, punctCnt: Column, stopCnt: Column): Column =
    (stopCnt.cast("double") / nTokens) * 0.4 +
      (lit(1.0) - punctCnt.cast("double") / length(text)) * 0.3 +
      least(lit(1.0), nTokens.cast("double") / 100.0) * 0.3

  /** t03's argmax language with its fixed preference order. */
  private[graft] def predictedCol(en: Column, de: Column, es: Column, fr: Column): Column =
    when(en >= de && en >= es && en >= fr, "en")
      .when(de >= es && de >= fr, "de")
      .when(es >= fr, "es")
      .otherwise("fr")

  // ---- t15's stage definitions, factored so the streaming twin scores
  // a LIVE stream against the SAME frozen LM tables (StreamingParitySpec)
  // — the production serving shape: tables trained in batch, scoring
  // narrow enough to run unchanged on a streaming scan ----

  /** t17's per-row stage: deterministic PII planting (from doc_id) +
    * detection counts + placeholder redaction. NARROW — no state, no
    * aggregation — so the identical definition runs on the batch table
    * and on a live document stream (`StreamingParitySpec`): PII
    * scrubbing is the canonical ingest-time transform. Regexes stay in
    * the Java-regex/RE2 shared subset (classes, counted repeats, no
    * lookaround); scrub order is fixed (email, phone, ip) and the
    * placeholders contain no digits/@, so later passes cannot re-match
    * earlier replacements. */
  private[graft] def piiScrubbed(docs: DataFrame): DataFrame = {
    val emailRe = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
    val phoneRe = "555-[0-9]{4}"
    val ipRe = "([0-9]{1,3}\\.){3}[0-9]{1,3}"
    val planted = docs.select(col("doc_id"), col("source"), concat(col("text"),
      when(col("doc_id") % 3 === 0, concat(lit(" contact user"),
        col("doc_id").cast("string"), lit("@example.com now"))).otherwise(lit("")),
      when(col("doc_id") % 4 === 0, concat(lit(" call 555-"),
        lpad((col("doc_id") % 10000).cast("string"), 4, "0"), lit(" today")))
        .otherwise(lit("")),
      when(col("doc_id") % 5 === 0, concat(lit(" from 10.0."),
        (col("doc_id") % 256).cast("string"), lit("."),
        ((col("doc_id") * 7) % 256).cast("string"), lit(" logged")))
        .otherwise(lit(""))).as("pt"))
    planted.select(col("doc_id"), col("source"), col("pt"),
      regexp_count(col("pt"), lit(emailRe)).cast("long").as("emails"),
      regexp_count(col("pt"), lit(phoneRe)).cast("long").as("phones"),
      regexp_count(col("pt"), lit(ipRe)).cast("long").as("ips"),
      regexp_replace(regexp_replace(regexp_replace(col("pt"),
        lit(emailRe), lit("<EMAIL>")),
        lit(phoneRe), lit("<PHONE>")),
        lit(ipRe), lit("<IP>")).as("st"))
  }

  /** Tokenized + split-labeled view of a documents-shaped DF. All narrow
    * per-row ops — runs unchanged on a streaming scan. */
  private[graft] def lmPrep(docs: DataFrame): DataFrame =
    docs.withColumn("w", split(trim(col("text")), Tok.Ws))
      .filter(size(col("w")) >= 2)
      .withColumn("split", Curation.splitCol(col("doc_id")))

  /** The LM count tables from [[lmPrep]]'s TRAIN split: (bigram counts,
    * context counts, vocab-size scalar keyed on `one` for the stream-safe
    * constant-key equi-join). Occurrence semantics (bag counts), like
    * t13's features — NOT the doc-locally-distinct ShingleArr. */
  private[graft] def lmTables(dv: DataFrame): (DataFrame, DataFrame, DataFrame) =
    lmTablesOf(dv.filter(col("split") === "train"))

  /** [[lmTables]] over an ALREADY-SELECTED training corpus (rows carrying
    * a `w` token-array column) — factored out so c15's DSIR pass can
    * train two LMs (target domain vs raw pool) from the same definition
    * the t15 gate uses. */
  private[graft] def lmTablesOf(tr: DataFrame): (DataFrame, DataFrame, DataFrame) = {
    val tb = tr.select(explode(expr(
        """transform(sequence(1, size(w) - 1),
          |  i -> concat_ws(' ', element_at(w, i), element_at(w, i + 1)))""".stripMargin)).as("bg"))
      .groupBy(col("bg")).agg(count(lit(1)).as("c12"))
    val tc = tr.select(explode(slice(col("w"), lit(1), size(col("w")) - 1)).as("w1"))
      .groupBy(col("w1")).agg(count(lit(1)).as("c1"))
    val vv = tr.select(explode(col("w")).as("wd"))
      .agg(countDistinct(col("wd")).as("v")).withColumn("one", lit(1))
    (tb, tc, vv)
  }

  /** Score [[lmPrep]] rows against frozen LM tables: per-bigram integer
    * bit cost, per-doc sum + gate. Explode + broadcast joins + one
    * stateful agg — every op is streaming-legal, so the same definition
    * is the batch query AND the live-scoring stream. No ORDER BY here
    * (callers add it; a streaming sink must not). */
  private[graft] def lmScored(
      dv: DataFrame, tb: DataFrame, tc: DataFrame, vv: DataFrame): DataFrame = {
    val db = dv.select(col("doc_id"), col("split"), explode(expr(
        """transform(sequence(1, size(w) - 1),
          |  i -> named_struct('w1', element_at(w, i),
          |    'bg', concat_ws(' ', element_at(w, i), element_at(w, i + 1))))""".stripMargin)).as("z"))
      .select(col("doc_id"), col("split"),
        col("z.w1").as("w1"), col("z.bg").as("bg"))
    val bits = (length(conv(coalesce(col("c1"), lit(0L)) + col("v"), 10, 2))
      - length(conv(coalesce(col("c12"), lit(0L)) + 1, 10, 2))).cast("long")
    db.join(broadcast(tb), Seq("bg"), "left")
      .join(broadcast(tc), Seq("w1"), "left")
      .withColumn("one", lit(1))
      .join(broadcast(vv), Seq("one"))
      .select(col("doc_id"), col("split"), bits.as("bits"))
      .groupBy(col("doc_id"), col("split"))
      .agg(count(lit(1)).as("n_bigrams"), sum(col("bits")).as("nll_bits"))
      .select(col("doc_id"), col("split"), col("n_bigrams"), col("nll_bits"),
        round(col("nll_bits").cast("double") / col("n_bigrams").cast("double"), 6)
          .as("bits_per_bigram"),
        when(col("nll_bits") * 20 <= col("n_bigrams") * 99, lit("keep"))
          .otherwise(lit("drop")).as("label"))
  }

  /** Tokenized + split-labeled trigram-ready view (≥ 3 tokens) of a
    * documents-shaped DF — t22's [[lmPrep]] analog. Narrow per-row ops;
    * runs unchanged on a streaming scan. */
  private[graft] def knPrep(docs: DataFrame): DataFrame =
    docs.withColumn("w", split(trim(col("text")), Tok.Ws))
      .filter(size(col("w")) >= 3)
      .withColumn("split", Curation.splitCol(col("doc_id")))

  /** The five Kneser–Ney count tables (see t22's scaladoc), frozen from
    * [[knPrep]]'s TRAIN split. All vocab-bounded map-side-combinable
    * partials; every table derives from the trigram-count frame or the
    * bigram-type frame rather than re-scanning the corpus. */
  private[graft] final case class KnTables(t3: DataFrame, ctx: DataFrame,
      n23: DataFrame, n2: DataFrame, n3: DataFrame, nall: DataFrame)

  private def triExplode(df: DataFrame, keep: Column*): DataFrame = df
    .select(keep :+ explode(expr(
      """transform(sequence(1, size(w) - 2),
        |  i -> named_struct('w1', element_at(w, i),
        |    'w2', element_at(w, i + 1),
        |    'w3', element_at(w, i + 2)))""".stripMargin)).as("z"): _*)
    .select(keep :+ col("z.w1").as("w1") :+ col("z.w2").as("w2")
      :+ col("z.w3").as("w3"): _*)

  private[graft] def knTables(dv: DataFrame): KnTables = {
    val tr = dv.filter(col("split") === "train")
    val t3 = SessionScope.cache(triExplode(tr)
      .groupBy(col("w1"), col("w2"), col("w3")).agg(count(lit(1)).as("c123")))
    val ctx = t3.groupBy(col("w1"), col("w2"))
      .agg(sum(col("c123")).as("ctx_tot"), count(lit(1)).as("ctx_types"))
    val n23 = SessionScope.cache(
      t3.groupBy(col("w2"), col("w3")).agg(count(lit(1)).as("n1p_23")))
    val n2 = n23.groupBy(col("w2"))
      .agg(sum(col("n1p_23")).as("n2_tot"), count(lit(1)).as("n2_types"))
    val bt = SessionScope.cache(tr.select(explode(expr(
        """transform(sequence(1, size(w) - 1),
          |  i -> named_struct('b1', element_at(w, i),
          |    'b2', element_at(w, i + 1)))""".stripMargin)).as("z"))
      .select(col("z.b1").as("b1"), col("z.b2").as("b2")).distinct())
    val n3 = bt.groupBy(col("b2")).agg(count(lit(1)).as("n1p_3"))
      .select(col("b2").as("w3"), col("n1p_3"))
    val nall = bt.agg(count(lit(1)).as("n1p_all")).withColumn("one", lit(1))
    KnTables(t3, ctx, n23, n2, n3, nall)
  }

  /** Score [[knPrep]] rows against frozen KN tables: the integer
    * probability ladder (see t22's scaladoc), per-doc sum + gate.
    * Explode + broadcast joins + one stateful agg — streaming-legal, so
    * the same definition is the batch query AND the live-scoring stream
    * (t15's serving discipline). No ORDER BY (callers add it). */
  private[graft] def knScored(dv: DataFrame, t: KnTables): DataFrame = {
    val S = 1000000L
    val db = triExplode(dv, col("doc_id"), col("split"))
    db.join(broadcast(t.t3), Seq("w1", "w2", "w3"), "left")
      .join(broadcast(t.ctx), Seq("w1", "w2"), "left")
      .join(broadcast(t.n23), Seq("w2", "w3"), "left")
      .join(broadcast(t.n2), Seq("w2"), "left")
      .join(broadcast(t.n3), Seq("w3"), "left")
      .withColumn("one", lit(1)).join(broadcast(t.nall), Seq("one"))
      .withColumn("pcont",
        greatest(expr(s"($S * coalesce(n1p_3, 0L)) div n1p_all"), lit(1L)))
      .withColumn("plow",
        when(coalesce(col("n2_tot"), lit(0L)) > 0, greatest(expr(
          s"($S * greatest(4 * coalesce(n1p_23, 0L) - 3, 0L)" +
            s" + 3 * n2_types * pcont) div (4 * n2_tot)"), lit(1L)))
          .otherwise(col("pcont")))
      .withColumn("p",
        when(coalesce(col("ctx_tot"), lit(0L)) > 0, greatest(expr(
          s"($S * greatest(4 * coalesce(c123, 0L) - 3, 0L)" +
            s" + 3 * ctx_types * plow) div (4 * ctx_tot)"), lit(1L)))
          .otherwise(col("plow")))
      .select(col("doc_id"), col("split"),
        (length(conv(lit(S), 10, 2)) - length(conv(col("p"), 10, 2)))
          .cast("long").as("bits"))
      .groupBy(col("doc_id"), col("split"))
      .agg(count(lit(1)).as("n_trigrams"), sum(col("bits")).as("nll_bits"))
      .select(col("doc_id"), col("split"), col("n_trigrams"), col("nll_bits"),
        round(col("nll_bits").cast("double") / col("n_trigrams").cast("double"), 6)
          .as("bits_per_trigram"),
        when(col("nll_bits") <= col("n_trigrams") * 4, lit("keep"))
          .otherwise(lit("drop")).as("label"))
  }

  /** The BM25 impact-scored postings index over `docs`' TRAIN side
    * (everything [[Curation.isEvalDoc]] excludes): one row per posting
    * `(t, train_id, fx)` where `fx` is the fixed-point 1e-6 per-term
    * impact — idf (integer bit-length form) × tf-normalization — fully
    * precomputed so probe-time work is an equi-join plus an integer sum.
    *
    * Built DOC-LOCALLY by the codegen'd WordCounts pass (a
    * groupBy(train_id, t) would exchange one (id, term, count) row per
    * posting: measured 36 MB at sf0.1, all of it provably row-local),
    * with dl = size(w) riding the same row instead of a re-aggregation
    * join. The tf table persists once; df and the corpus stats derive
    * from it instead of re-scanning the corpus per statistic (measured:
    * 4 scans → 1, ~1.5 s off the sf0.1 time). Tables.spread: without it
    * every downstream stage would run at the local single-row-group
    * scan's one-task parallelism; at scale the branch is not taken and
    * the plan has NO exchange at all. This is the precompute
    * impact-ordered retrieval indexes bake in; measured here 5.8 s →
    * 1.3 s at sf0.1. */
  private[graft] def bm25Impacts(s: SparkSession, docs: DataFrame): DataFrame =
    bm25ImpactsIdf(s, docs, bitLenIdf)

  /** t16's integer bit-length idf — bitlen(N) − bitlen(df), t15's
    * floor-log2 quantization (no float log enters the ranking). */
  private[graft] val bitLenIdf: (Column, Column) => Column =
    (nTrain, df) =>
      (length(conv(nTrain, 10, 2)) - length(conv(df, 10, 2))).cast("double")

  /** [[bm25Impacts]] generalized over the idf form — t16 keeps the integer
    * bit-length idf; t26's sqrt-compressed idf rides the SAME postings/df/
    * stats build (one definition of the index shape, two weighting
    * schemes). The idf builder receives the `n_train` and `df` columns. */
  private[graft] def bm25ImpactsIdf(s: SparkSession, docs: DataFrame,
                                    idf: (Column, Column) => Column): DataFrame =
    bm25ImpactsFromTf(bm25Tf(s, docs), idf)

  /** The tokenized train-side term-frequency frame `(train_id, dl, t, tf)`
    * every BM25-shaped index derives from — the one WordCounts corpus
    * scan, cached because df/dl/stats all fold over it. */
  private[graft] def bm25Tf(s: SparkSession, docs: DataFrame): DataFrame =
    SessionScope.cache(bm25TfPlan(s, docs))

  /** [[bm25Tf]]'s un-persisted plan. */
  private def bm25TfPlan(s: SparkSession, docs: DataFrame): DataFrame = {
    import s.implicits._
    Tables.spread(s, docs.filter(!Curation.isEvalDoc($"doc_id")))
      .select($"doc_id".as("train_id"), split(trim($"text"), Tok.Ws).as("w"))
      .select($"train_id", size($"w").cast("long").as("dl"),
        explode(graft.functions.WordCounts($"w")).as("wc"))
      .select($"train_id", $"dl", $"wc.t".as("t"), $"wc.tf".as("tf"))
  }

  /** [[bm25Tf]] MEMOIZED per (session, dataset) — t16 and t26 derive
    * their postings indexes (same tf/df/stats build, different idf) from
    * the identical corpus scan, so a session running both (a bench sweep,
    * a serving process hosting both retrievers) should tokenize the
    * train corpus ONCE. Rides [[SessionScope.frame]] — the generic
    * per-(session, dataset, key) memo — rather than CacheManager
    * plan-matching, which silently breaks the moment any caller
    * unpersists or reshapes the shared subplan (the r14 kNN lesson).
    * localCheckpoint'd, not persist-only (r20): the memoized persist
    * registered in the CacheManager exactly once, so the first
    * sweep-side `clearCache()` stripped it permanently — after which
    * every impacts build re-ran the WordCounts tokenization THREE times
    * per action (tf feeds the postings row, the df fold and the stats
    * fold of one plan; measured 30–58 process-cpu-s per cache-cleared
    * t16 rep at sf0.1) — the exact ed2/bpeRound5 storage lesson. The
    * checkpoint reads the un-persisted plan: a persist in front of it
    * would only write a cache copy the checkpoint then copies again. */
  private[graft] def bm25TfMemo(s: SparkSession, d: String): DataFrame =
    SessionScope.frame(s, d, "bm25tf", Checkpointed)(bm25TfPlan(s, Tables.documents(s, d)))

  /** The impacts index for one idf form over the MEMOIZED tf frame —
    * the df fold and idf×tfn projection stay LAZY (r20, measured): each
    * idf form has exactly one consumer chain (t16's scored frame; the
    * sqrt family's [[probeScoredMemo]]), so a separate checkpointed
    * impacts memo added a full extra materialization pass to the first
    * toucher's cold time (+0.6 s on t26 in the first r20 capture) and
    * bought nothing downstream — the shared consumable is the SCORED
    * frame, not the index. The tf checkpoint already bounds the build
    * at one tokenization per session. */
  private[graft] def bm25ImpactsIdfMemoTf(s: SparkSession, d: String,
      idf: (Column, Column) => Column): DataFrame =
    bm25ImpactsFromTf(bm25TfMemo(s, d), idf)

  /** The impacts index `(t, train_id, fx)` from a prebuilt [[bm25Tf]]
    * frame — the df/stats folds and the fixed-point idf×tfn projection. */
  private[graft] def bm25ImpactsFromTf(tf: DataFrame,
                                       idf: (Column, Column) => Column): DataFrame = {
    val s = tf.sparkSession
    import s.implicits._
    val dls = tf.groupBy($"train_id").agg(max($"dl").as("dl"))
    val stats = dls.agg(count(lit(1)).as("n_train"), sum($"dl").as("sum_dl"))
    val dft = tf.groupBy($"t").agg(count(lit(1)).as("df"))
    val avgdl = $"sum_dl".cast("double") / $"n_train".cast("double")
    val tfn = ($"tf".cast("double") * lit(2.2)) /
      ($"tf".cast("double") + lit(1.2) *
        (lit(0.25) + lit(0.75) * $"dl".cast("double") / avgdl))
    tf.join(broadcast(dft), "t")
      .crossJoin(broadcast(stats))
      .select($"t", $"train_id",
        round(idf($"n_train", $"df") * tfn * lit(1e6)).cast("long").as("fx"))
  }

  /** Distinct query terms of an ALREADY-SELECTED probe frame (ShingleArr
    * width 1): `(eval_id, t)`. Narrow per-row ops only, so the same
    * definition runs on a batch table or a live probe micro-batch. A
    * null-text probe tokenizes to zero rows (both engines agree:
    * `explode(null)` and `unnest(NULL)` drop the row) — which is why the
    * VECTOR-arm probe universe in [[rrfVecArmBrute]] must come from
    * probe IDS, never from this frame. */
  private[graft] def probeTermsOf(probes: DataFrame): DataFrame =
    probes.select(col("doc_id").as("eval_id"),
      explode(graft.functions.ShingleArr(split(trim(col("text")), Tok.Ws), 1)).as("t"))

  /** [[probeTermsOf]] over the harness's probe universe (the %100 eval
    * subset). */
  private[graft] def bm25ProbeTerms(docs: DataFrame): DataFrame =
    probeTermsOf(docs.filter(col("doc_id") % 100 === 0))

  /** Score probe terms against a frozen [[bm25Impacts]] index:
    * `(eval_id, train_id, sfx)` integer sums — exact and order-free, so
    * batch and streaming runs agree bitwise. Batch probes broadcast into
    * the posting fan-out (the probe set is small by construction); a
    * STREAMING probe side instead stream-static-joins the frozen index
    * (a stream cannot be broadcast), then sums in complete mode — same
    * rows either way. No ORDER BY / top-k here: callers rank (a
    * streaming sink must not sort). */
  private[graft] def bm25Scores(post: DataFrame, probe: DataFrame): DataFrame = {
    val joined =
      if (probe.isStreaming) probe.join(post, "t")
      else post.join(broadcast(probe), "t")
    joined.groupBy(col("eval_id"), col("train_id"))
      .agg(sum(col("fx")).as("sfx"))
  }

  /** t26's sqrt-compressed idf — sqrt(N/df), ONE definition shared by the
    * query and its serving twin. IEEE sqrt is correctly rounded in both
    * engines (the guarantee every cosine here leans on), so no float log
    * enters; unlike t16's bit-length bucket — degenerate when every df
    * shares n_train's bit length — it discriminates at any corpus size. */
  private[graft] val sqrtIdf: (Column, Column) => Column =
    (nTrain, df) => sqrt(nTrain.cast("double") / df.cast("double"))

  /** Probe terms `(eval_id, t)` scored against a frozen impacts index,
    * [[SessionScope.cache]]d until the session's next drain: the scored
    * input of the pipelines below when the probes are not the session
    * constant (a serving micro-batch, a spec's constructed corpus). The
    * catalog lambdas pass [[probeScoredMemo]] instead. Persisted for
    * t16's reason: TopK's range-partitioner sampling replays its input
    * once more than you'd expect. */
  private[graft] def probeScored(post: DataFrame, probeTerms: DataFrame): DataFrame =
    SessionScope.cache(bm25Scores(post, probeTerms))

  /** [[rrfLexArm]] over the [[probeScored]] terms of a frame of probe
    * DOCUMENTS (`doc_id`, `text`) — the per-call lexical arm of the
    * fusion twins and specs; the catalog lambdas pass [[rrfLexArmMemo]]. */
  private[graft] def probeLexArm(post: DataFrame, probes: DataFrame): DataFrame =
    rrfLexArm(probeScored(post, probeTermsOf(probes)))

  /** t26's rerank over a scored frame `(eval_id, train_id, sfx)` and
    * `emb` as `(vec_id, v, nrm)`. The catalog lambda passes
    * [[probeScoredMemo]]; the serving twin passes [[probeScored]] of each
    * micro-batch of ARRIVING probe documents against the static index +
    * embedding table. Every per-probe quantity (slate, min-max
    * normalizer, blend) derives only from that probe's own rows, so the
    * union over any probe batching equals the one-shot batch run.
    *
    * Per-call persists go through [[SessionScope.cache]]: the runner
    * materializes the frame after the lambda returns, then drains (r18
    * ADVICE: Bench's no-clear reps mode otherwise accumulated them); a
    * serving loop drains after materializing each batch. Unpersist is
    * non-blocking: the frames are dead by then, eviction can lag the
    * next batch safely. */
  private[graft] def hybridRerank(scored: DataFrame, emb: DataFrame): DataFrame = {
    val s = scored.sparkSession
    import s.implicits._
    graft.operators.TopK.perKey(
        rerankJointScores(scored, emb), $"eval_id",
        Seq($"bfx".desc, $"train_id"), 5, saltFrom = $"train_id")
      .select($"eval_id", $"rn".as("rank"), $"train_id",
        round($"sfx".cast("double") / lit(1e6), 6).as("bm25"),
        round($"cfx".cast("double") / lit(1e6), 6).as("cos_sim"),
        round($"bfx".cast("double") / lit(1e6), 6).as("blend"))
      .orderBy($"eval_id", $"rank")
  }

  /** The per-candidate joint-scoring frame both t26 and t27 rank over:
    * `(eval_id, train_id, sfx, cfx, bfx)` for each of the ≤10 stage-1
    * candidates per probe — lexical fixed-point sum, cosine fixed-point,
    * and the min-max-normalized integer blend. Factored out of
    * [[hybridRerank]] so the recall census can rank the SAME rows
    * two ways (by blend = the slate, by cosine alone = the in-slate
    * ground truth) without duplicating the scoring definition. Only the
    * candidate slate is cached per call. */
  private[graft] def rerankJointScores(scored: DataFrame, emb: DataFrame): DataFrame = {
    val s = scored.sparkSession
    import s.implicits._
    // stage-1 cut: top-10 lexical candidates per probe — referenced
    // three times below (embedding fetch, eval-id set, min-max stats),
    // so cache the 10·n_eval-row frame rather than replay retrieval
    val cand = SessionScope.cache(graft.operators.TopK.perKey(
        scored, $"eval_id", Seq($"sfx".desc, $"train_id"), 10,
        saltFrom = $"train_id")
      .select($"eval_id", $"train_id", $"sfx"))
    // candidate-local min-max PER PROBE (not the corpus, not the batch:
    // rerank normalizers must come from the slate actually shown — a
    // batch-pooled normalizer would make output depend on which probes
    // happen to arrive together; the twin's adversarial arm proves it)
    val mm = cand.groupBy($"eval_id")
      .agg(min($"sfx").as("mn"), max($"sfx").as("mx"))
    val ev = emb.join(broadcast(cand.select($"eval_id").distinct()),
        $"vec_id" === $"eval_id")
      .select($"eval_id", $"v".as("ev"), $"nrm".as("enrm"))
    val te = emb.join(broadcast(cand), $"vec_id" === $"train_id")
      .select($"eval_id", $"train_id", $"sfx", $"v".as("tv"),
        $"nrm".as("tnrm"))
    val cfx = round(
        Similarity.cosineWithNorms($"tv", $"ev", $"tnrm", $"enrm") *
          lit(1e6)).cast("long")
    val nbFx = when($"mx" > $"mn",
        round(($"sfx" - $"mn").cast("double") /
          ($"mx" - $"mn").cast("double") * lit(1e6)).cast("long"))
      .otherwise(lit(500000L))
    te.join(broadcast(ev), Seq("eval_id"))
      .select($"eval_id", $"train_id", $"sfx", cfx.as("cfx"))
      .join(broadcast(mm), Seq("eval_id"))
      .select($"eval_id", $"train_id", $"sfx", $"cfx",
        (nbFx + $"cfx").as("bfx"))
  }

  /** t27's recall census for the hybrid pipeline — the standard ablation
    * t26 was missing: how much of the exact cosine ranking does the
    * blended slate recover? Two arms per embedded eval probe:
    *
    *  - `corpus_recall`: recall@5 of t26's slate vs the BRUTE-FORCE
    *    cosine top-5 over every embedded train vector — the corpus-wide
    *    ground truth (s06's recall discipline applied to the hybrid).
    *    On the harness's random synthetic embeddings this is honestly
    *    ~0: a lexically-anchored slate almost never intersects the
    *    global cosine top-5 of 1800 random vectors.
    *  - `cand_recall`: recall@5 of the slate vs the cosine-only top-5 of
    *    the SAME candidate set — what the rerank stage itself does to
    *    the cosine order (nonzero and varied here, so the hash check on
    *    the hits machinery has teeth that the corpus arm's all-zero
    *    column cannot provide).
    *
    * Probe universe: embedded eval probes (`vec_id % 100 = 0`; the
    * vec_id == doc_id convention is canary-pinned, embeddings ⊆
    * documents) — LEFT-joined so a probe whose candidates all lack
    * embeddings still gets its `n_slate=0, recall=0` row (c26's
    * sentinel-row lesson: a vanished row reads as "not measured").
    *
    * Scale shape: the slate arms touch only the ≤10-rows-per-probe joint
    * frame (persisted once, ranked twice). The exact arm is s01's proven
    * brute-force shape — the n_eval probe vectors broadcast into ONE
    * scan of the embedded train corpus, per-probe top-5 via the salted
    * TopK; the corpus never shuffles and nothing here is quadratic in
    * corpus size (probes × corpus is the irreducible exact-ground-truth
    * cost, embarrassingly scan-parallel).
    *
    * Runs downstream of a PRE-BUILT joint frame and exact top-5 arm —
    * the t27 catalog lambda passes the memoized joint inputs and the
    * top-5 PREFIX of the memoized brute top-10 rank list (the salted
    * TopK at k=5 is exactly the first 5 rows of the same total order at
    * k=10, so the set is identical). Caches the per-call joint/slate
    * pair (ranked twice). */
  private[graft] def rerankRecall(
      jointRaw: DataFrame, exact: DataFrame, emb: DataFrame): DataFrame = {
    val s = jointRaw.sparkSession
    import s.implicits._
    // ≤10 rows per probe, ranked twice below — cache the tiny frame
    // rather than replay stage-1 retrieval per ranking
    val joint = SessionScope.cache(jointRaw)
    val slate = SessionScope.cache(graft.operators.TopK.perKey(
        joint, $"eval_id", Seq($"bfx".desc, $"train_id"), 5,
        saltFrom = $"train_id")
      .select($"eval_id", $"train_id"))
    val candTop = graft.operators.TopK.perKey(
        joint, $"eval_id", Seq($"cfx".desc, $"train_id"), 5,
        saltFrom = $"train_id")
      .select($"eval_id", $"train_id")
    val evV = emb.filter($"vec_id" % 100 === 0)
      .select($"vec_id".as("eval_id"))
    val ns = slate.groupBy($"eval_id").agg(count(lit(1)).as("n_slate"))
    val hc = slate.join(exact, Seq("eval_id", "train_id"))
      .groupBy($"eval_id").agg(count(lit(1)).as("corpus_hits"))
    val hk = slate.join(candTop, Seq("eval_id", "train_id"))
      .groupBy($"eval_id").agg(count(lit(1)).as("cand_hits"))
    evV.distinct()
      .join(ns, Seq("eval_id"), "left")
      .join(hc, Seq("eval_id"), "left")
      .join(hk, Seq("eval_id"), "left")
      .select($"eval_id",
        coalesce($"n_slate", lit(0L)).as("n_slate"),
        coalesce($"corpus_hits", lit(0L)).as("corpus_hits"),
        round(coalesce($"corpus_hits", lit(0L)).cast("double") / lit(5.0), 6)
          .as("corpus_recall"),
        coalesce($"cand_hits", lit(0L)).as("cand_hits"),
        round(coalesce($"cand_hits", lit(0L)).cast("double") / lit(5.0), 6)
          .as("cand_recall"))
      .orderBy($"eval_id")
  }

  /** The rank-space fusion CORE shared by t28 (brute-force vector arm)
    * and t29 (vector arm SERVED from the saved IVF-PQ index): FULL OUTER
    * join of two per-probe rank lists `(eval_id, train_id, lex_rank)` /
    * `(eval_id, train_id, vec_rank)`, RRF score = Σ_arms 1e9 div
    * (60 + rank) as an INTEGER sum (a doc absent from an arm contributes
    * 0 — nothing vanishes), salted top-5 per probe with the train_id
    * total tie-break. ONE definition: the served composition and the
    * oracle-checked brute-force t28 run the same fusion operator, so
    * proving one proves the other's combiner. The join touches two
    * ≤rank-depth-rows-per-probe frames — nothing here scales with the
    * corpus.
    *
    * The catalog lambdas pass the memoized arms; a serving twin passes
    * [[probeLexArm]] and [[rrfVecArmBrute]] (or the served arm) of each
    * micro-batch of arriving probe documents. Both arms rank PER PROBE,
    * so the union over any probe batching equals the one-shot batch run
    * — rank-space fusion has no cross-probe state at all, not even a
    * normalizer. */
  private[graft] def rrfFuseRanks(lex: DataFrame, vec: DataFrame): DataFrame = {
    val s = lex.sparkSession
    import s.implicits._
    val fused = lex.join(vec, Seq("eval_id", "train_id"), "full_outer")
      .select($"eval_id", $"train_id",
        coalesce($"lex_rank", lit(0L)).as("lex_rank"),
        coalesce($"vec_rank", lit(0L)).as("vec_rank"),
        (when($"lex_rank".isNull, lit(0L))
          .otherwise(expr("1000000000 div (60 + lex_rank)")) +
         when($"vec_rank".isNull, lit(0L))
          .otherwise(expr("1000000000 div (60 + vec_rank)"))).as("rrf_fx"))
    graft.operators.TopK.perKey(
        fused, $"eval_id", Seq($"rrf_fx".desc, $"train_id"), 5,
        saltFrom = $"train_id")
      .select($"eval_id", $"rn".as("rank"), $"train_id",
        $"lex_rank", $"vec_rank", $"rrf_fx")
      .orderBy($"eval_id", $"rank")
  }

  /** The lexical RRF arm: top-10 BM25 retrieval ranks per probe over a
    * scored `(eval_id, train_id, sfx)` frame (from [[bm25Scores]]) —
    * `(eval_id, train_id, lex_rank)`. Shared by t28 and t29 so both
    * fusions rank the identical retrieval. */
  private[graft] def rrfLexArm(scored: DataFrame): DataFrame = {
    val s = scored.sparkSession
    import s.implicits._
    graft.operators.TopK.perKey(
        scored, $"eval_id", Seq($"sfx".desc, $"train_id"), 10,
        saltFrom = $"train_id")
      .select($"eval_id", $"train_id", $"rn".cast("long").as("lex_rank"))
  }

  /** t28's BRUTE-FORCE vector arm: per-probe top-10 exact-cosine rank
    * list over the embedded train corpus — `(eval_id, train_id,
    * vec_rank)`, s01's broadcast-probes-into-one-scan shape. t29 swaps
    * this arm for the SAVED-index serve
    * ([[Similarity.ivfpqServedTrainRanks]]) — same frame shape, same
    * fusion core.
    *
    * It takes the probe DOCS, not pre-tokenized terms (the r17 ADVICE):
    * the probe universe is the probe IDS joined to the embedding table,
    * structurally matching the oracle's `vec_id % 100 = 0` under the
    * canary-pinned embeddings ⊆ documents invariant, so a probe whose
    * text tokenizes to NOTHING (null text) still fuses its vector arm
    * instead of silently vanishing. */
  private[graft] def rrfVecArmBrute(probes: DataFrame,
                                    emb: DataFrame): DataFrame = {
    val s = emb.sparkSession
    import s.implicits._
    val evV = emb.join(
        broadcast(probes.select($"doc_id".as("eval_id")).distinct()),
        $"vec_id" === $"eval_id")
      .select($"eval_id", $"v".as("ev"), $"nrm".as("enrm"))
    val trV = emb.filter($"vec_id" % 10 =!= 0)
      .select($"vec_id".as("train_id"), $"v".as("tv"), $"nrm".as("tnrm"))
    graft.operators.TopK.perKey(
        trV.crossJoin(broadcast(evV))
          .select($"eval_id", $"train_id",
            round(Similarity.cosineWithNorms($"tv", $"ev", $"tnrm", $"enrm")
              * lit(1e6)).cast("long").as("cfx")),
        $"eval_id", Seq($"cfx".desc, $"train_id"), 10,
        saltFrom = $"train_id")
      .select($"eval_id", $"train_id", $"rn".cast("long").as("vec_rank"))
  }

  /** The six sqrt-idf retrieval queries' SHARED per-(session, dataset)
    * builds (r20, guide §2.4). Each is a constant of the (corpus, probe
    * set) pair — exactly what a hybrid-search serving process
    * materializes once per session — and each was previously rebuilt
    * per invocation by every consumer:
    *  - [[probeScoredMemo]]: the dense probe-term×postings scoring
    *    `(eval_id, train_id, sfx)` — the family's cost center (the
    *    synthetic tiny-vocab corpus makes the term match near-dense),
    *    re-run by t26/t27/t28/t29/t30/t31;
    *  - [[rrfLexArmMemo]]: the top-10 lexical rank lists, re-run by
    *    t28/t29/t30/t31;
    *  - [[rrfVecExactMemo]]: the brute-force exact cosine top-10 rank
    *    lists (one full embedded-corpus pass), re-run by t28/t30/t31;
    *  - [[rrfExactSlateMemo]]: the exact fusion slate, re-run by
    *    t30/t31.
    * All localCheckpoint'd (the ed2 storage lesson). The checkpoint
    * drops the frames' layout, which costs little here: the scoring
    * consumers broadcast the probe-sized side, and [[rrfFuseRanks]]'s
    * full-outer join (which cannot broadcast) exchanges two tiny
    * frames of at most rank-depth rows per probe. The
    * serving twins build the same inputs per call ([[probeScored]],
    * [[probeLexArm]]) — a micro-batch's probes are not the session
    * constant. */
  private[graft] def probeScoredMemo(s: SparkSession, d: String): DataFrame =
    SessionScope.frame(s, d, "bm25sc_sq", Checkpointed) {
      bm25Scores(bm25ImpactsIdfMemoTf(s, d, sqrtIdf),
          bm25ProbeTerms(Tables.documents(s, d)))
    }

  /** t16's scored frame: [[probeScoredMemo]]'s scoring under t16's
    * integer bit-length idf. Cached because the final orderBy's range
    * partitioner runs a SAMPLING job over its input, which would
    * otherwise recompute the whole fan-out aggregation a second time
    * (measured ~2× the query); memoized because a session's later t16
    * calls re-read the same constant. Persisted, so t16's plan keeps
    * its shape. */
  private[graft] def bm25ScoredMemo(s: SparkSession, d: String): DataFrame =
    SessionScope.frame(s, d, "bm25sc_bl", Persisted)(
      bm25Scores(bm25ImpactsIdfMemoTf(s, d, bitLenIdf), bm25ProbeTerms(Tables.documents(s, d))))

  /** See [[probeScoredMemo]]. */
  private[graft] def rrfLexArmMemo(s: SparkSession, d: String): DataFrame =
    SessionScope.frame(s, d, "rrf_lex", Checkpointed)(rrfLexArm(probeScoredMemo(s, d)))

  /** The embedding frame `(vec_id, v, nrm)` the retrieval family scores
    * against — one definition for the memo builds and the catalog
    * lambdas (pure projection, never materialized on its own). */
  private[graft] def embWithNorms(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.embeddings(s, d)
      .select($"vec_id", $"embedding".cast("array<double>").as("v"))
      .withColumn("nrm", Similarity.dot($"v", $"v"))
  }

  /** See [[probeScoredMemo]]. */
  private[graft] def rrfVecExactMemo(s: SparkSession, d: String): DataFrame =
    SessionScope.frame(s, d, "rrf_vecx", Checkpointed) {
      import s.implicits._
      rrfVecArmBrute(
          Tables.documents(s, d).filter($"doc_id" % 100 === 0),
          embWithNorms(s, d))
    }

  /** See [[probeScoredMemo]]. t30 reads the slate's (eval_id, train_id)
    * set; t31 additionally grades by its rank column. */
  private[graft] def rrfExactSlateMemo(s: SparkSession, d: String): DataFrame =
    SessionScope.frame(s, d, "rrf_exsl", Checkpointed)(
      rrfFuseRanks(rrfLexArmMemo(s, d), rrfVecExactMemo(s, d)))

  /** t30's recall census for the SERVED fusion — t27's ablation
    * discipline applied to the index swap: per embedded eval probe,
    *  - `fusion_recall`: overlap@5 of t29's served-fusion slate with
    *    t28's exact-fusion slate — the END-TO-END price of serving the
    *    vector arm from the compressed index instead of brute force;
    *  - `arm_recall`: overlap@10 of the served rank list with the exact
    *    cosine rank list — the ARM-level recall (s06's discipline on
    *    the IVF-PQ serve) that explains the slate divergence.
    * The lexical arm and the [[rrfFuseRanks]] core are SHARED between
    * the two fusions, so any divergence is attributable to the vector
    * arm alone. Universe: embedded eval probes, LEFT-joined with
    * sentinel zeros (c26's vanished-row lesson). Scale shape: one
    * lexical retrieval, one brute-force rank pass (the irreducible
    * exact-ground-truth cost, s01's scan-parallel shape), one served
    * rank pass (cell-local), and intersections over ≤10-rows-per-probe
    * frames.
    *
    * Runs downstream of PRE-BUILT lexical arm / exact slate `(eval_id,
    * train_id)` / exact rank arm: the t30 catalog lambda passes the
    * per-(session, dataset) memos, a spec its per-call cached arms.
    * Caches only the genuinely per-call frames — the served arm and the
    * served slate. */
  private[graft] def servedFusionRecall(
      lex: DataFrame, exactSlate: DataFrame, vecExact: DataFrame,
      vecServed: DataFrame, emb: DataFrame): DataFrame = {
    val s = lex.sparkSession
    import s.implicits._
    val vecSrv = SessionScope.cache(vecServed)
    val servedSlate = SessionScope.cache(rrfFuseRanks(lex, vecSrv)
      .select($"eval_id", $"train_id"))
    val evU = emb.filter($"vec_id" % 100 === 0)
      .select($"vec_id".as("eval_id"))
    val ns = servedSlate.groupBy($"eval_id").agg(count(lit(1)).as("n_served"))
    val fh = servedSlate.join(exactSlate, Seq("eval_id", "train_id"))
      .groupBy($"eval_id").agg(count(lit(1)).as("fusion_hits"))
    val ah = vecSrv.select($"eval_id", $"train_id")
      .join(vecExact.select($"eval_id", $"train_id"),
        Seq("eval_id", "train_id"))
      .groupBy($"eval_id").agg(count(lit(1)).as("arm_hits"))
    evU
      .join(ns, Seq("eval_id"), "left")
      .join(fh, Seq("eval_id"), "left")
      .join(ah, Seq("eval_id"), "left")
      .select($"eval_id",
        coalesce($"n_served", lit(0L)).as("n_served"),
        coalesce($"fusion_hits", lit(0L)).as("fusion_hits"),
        round(coalesce($"fusion_hits", lit(0L)).cast("double") / lit(5.0), 6)
          .as("fusion_recall"),
        coalesce($"arm_hits", lit(0L)).as("arm_hits"),
        round(coalesce($"arm_hits", lit(0L)).cast("double") / lit(10.0), 6)
          .as("arm_recall"))
      .orderBy($"eval_id")
  }

  /** NDCG@5 discount weights as INTEGER fixed-point millionths —
    * `round(1e6 / log2(rank + 1))` precomputed as literals so BOTH
    * engines do exact integer arithmetic instead of each taking its own
    * `log` (cross-engine doubles from transcendental functions are not
    * bitwise-comparable; the quantization error vs the real discount is
    * < 1e-6 relative, far below the 6-dp output rounding). */
  private def ndcgW(rank: Column): Column =
    when(rank === 1, lit(1000000L)).when(rank === 2, lit(630930L))
      .when(rank === 3, lit(500000L)).when(rank === 4, lit(430677L))
      .otherwise(lit(386853L))

  /** t31's RANK-AWARE grading of the index swap — t30's recall census
    * says whether the served fusion keeps the exact fusion's documents;
    * this says whether it keeps their ORDER (the metric pair every
    * retrieval-stack swap actually ships: set overlap alone calls a
    * slate with the top-1 demoted to 5th "perfect"). Ground truth per
    * embedded eval probe is the EXACT fusion's slate with graded
    * relevance `rel = 6 - exact_rank` (top-1 grades 5 … 5th grades 1,
    * off-slate grades 0); the served slate is scored by
    *  - `ndcg`: DCG@5 / IDCG@5 with the [[ndcgW]] integer discounts —
    *    both numerator and denominator are exact BIGINT sums, so the
    *    only doubles are the final guarded division rounded to 6 dp;
    *  - `mrr`: 1 / first served rank that hits the exact slate at all
    *    (binary relevance — the companion number for "how deep does a
    *    user dig before the first right answer"), 6-dp-rounded exact
    *    reciprocal; sentinel 0 when no served row hits.
    * The arms and both fusions are SHARED with t30's construction (one
    * lexical retrieval, rrfFuseRanks core both sides) so the metrics
    * grade exactly the slates t30 counts. Universe: embedded eval
    * probes LEFT-joined with sentinel zeros (c26's vanished-row
    * lesson). Scale shape: identical to t30 — one lexical retrieval,
    * one exact rank pass (the irreducible ground-truth cost), one
    * served rank pass (cell-local), then grading joins over
    * ≤5-rows-per-probe slates; nothing downstream of the arms scales
    * with the corpus.
    *
    * Runs downstream of PRE-BUILT lexical arm / graded exact slate
    * `(eval_id, train_id, exact_rank)`: the t31 catalog lambda passes the
    * memos; a spec passes its per-call cached arms, and caches the exact
    * slate too, since it feeds BOTH the IDCG aggregate and the graded
    * join. Only the served arm is cached here. */
  private[graft] def servedRankingMetrics(
      lex: DataFrame, exactSlate: DataFrame, vecServed: DataFrame,
      emb: DataFrame): DataFrame = {
    val s = lex.sparkSession
    import s.implicits._
    val vecSrv = SessionScope.cache(vecServed)
    val servedSlate = rrfFuseRanks(lex, vecSrv)
      .select($"eval_id", $"train_id", $"rank".cast("long").as("srv_rank"))
    val graded = servedSlate
      .join(exactSlate, Seq("eval_id", "train_id"), "left")
      .select($"eval_id", $"srv_rank",
        when($"exact_rank".isNull, lit(0L))
          .otherwise(lit(6L) - $"exact_rank").as("rel"))
    val dcg = graded.groupBy($"eval_id").agg(
      sum($"rel" * ndcgW($"srv_rank")).as("dcg"),
      min(when($"rel" > 0, $"srv_rank")).as("first_hit"))
    val idcg = exactSlate.groupBy($"eval_id").agg(
      count(lit(1)).as("n_exact"),
      sum((lit(6L) - $"exact_rank") * ndcgW($"exact_rank")).as("idcg"))
    val evU = emb.filter($"vec_id" % 100 === 0)
      .select($"vec_id".as("eval_id"))
    evU
      .join(idcg, Seq("eval_id"), "left")
      .join(dcg, Seq("eval_id"), "left")
      .select($"eval_id",
        coalesce($"n_exact", lit(0L)).as("n_exact"),
        coalesce($"dcg", lit(0L)).as("dcg"),
        coalesce($"idcg", lit(0L)).as("idcg"),
        when(coalesce($"idcg", lit(0L)) > 0,
          round(coalesce($"dcg", lit(0L)).cast("double") /
            $"idcg".cast("double"), 6))
          .otherwise(lit(0.0)).as("ndcg"),
        coalesce($"first_hit", lit(0L)).as("first_hit"),
        when(coalesce($"first_hit", lit(0L)) > 0,
          round(lit(1.0) / $"first_hit".cast("double"), 6))
          .otherwise(lit(0.0)).as("mrr"))
      .orderBy($"eval_id")
  }

  /** t12/t14/t25's shared BPE training (r19, guide §2.4): the round-`i`
    * top-5 pair table (pair, cnt, rnk), MEMOIZED per (session, dataset).
    * Before the memo each of the three queries replayed the identical
    * 3-round training from scratch — t12's top-5 form and t14/t25's
    * top-1 form could not even CacheManager-match each other (different
    * limits), so a reps-1 bench session paid the 3-scan training twice
    * (t25 plan-matched t14's persisted winners). The build is t12's
    * exact construction (same persists, same plan — t12's plan-shape
    * guard is unchanged); t14/t25 derive their 1-row winners from these
    * tables via [[bpeWinner]]. Winner identity: rnk=1 of the round's
    * top-5 is the round's argmax pair, the same row the old
    * `orderBy(cnt desc, pair).limit(1)` produced. */
  private[graft] def bpeRound5(s: SparkSession, d: String, i: Int): DataFrame =
    // Checkpointed: each round's 5-row table is an RDD-backed LogicalRDD
    // that keeps every consumer plan round-local
    SessionScope.frame(s, d, s"bpe_t5_$i", Checkpointed)(bpeRound5Build(s, d, i))

  /** The UNCHECKPOINTED round-`i` top-5 build — the plan
    * `PlanShapeSpec`'s training-shape guard inspects (the query plans
    * themselves now only show the checkpointed tables). Rounds ≥ 2
    * reference the PRIOR rounds' memoized tables, so each round's pair
    * census executes at most once per session. */
  private[graft] def bpeRound5Build(s: SparkSession, d: String, i: Int): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val words = Tables.documents(s, d)
      .select(explode(split(trim($"text"), Tok.Ws)).as("word"))
      // single-symbol words produce no pairs and can never merge —
      // dropping them changes no count (same filter in the oracle)
      .filter(length($"word") >= 2)
      .select(regexp_replace($"word", "(.)", " $1 ").as("seq"))
    def top5(w: DataFrame): DataFrame = {
      val counts = w
        .select(explode(graft.functions.ShingleArr(split(trim($"seq"), "  "), 2)).as("pair"))
        .groupBy($"pair").agg(count(lit(1)).as("cnt"))
      counts.orderBy($"cnt".desc, $"pair").limit(5)
        .withColumn("rnk", row_number().over(Window.orderBy($"cnt".desc, $"pair")))
    }
    // apply the rank-1 merge: 1-row broadcast against the corpus scan
    // (BroadcastNestedLoopJoin — the documented small-stage shape), then
    // one literal replace() per word
    def merge(w: DataFrame, t5: DataFrame): DataFrame =
      w.crossJoin(broadcast(t5.filter($"rnk" === 1).select($"pair".as("bp"))))
        .select(expr(
          "replace(seq, ' ' || replace(bp, ' ', '  ') || ' ', ' ' || replace(bp, ' ', '') || ' ')")
          .as("seq"))
    i match {
      case 1 => top5(words)
      case 2 => top5(merge(words, bpeRound5(s, d, 1)))
      case _ => top5(merge(merge(words, bpeRound5(s, d, 1)), bpeRound5(s, d, 2)))
    }
  }

  /** Round-`i` BPE merge WINNER as a 1-row localCheckpoint'd frame —
    * what t14/t25's encode passes broadcast. The eager checkpoint means
    * their analyzed plans carry a 1-row LogicalRDD where the whole
    * training lineage used to sit (t25's plan was 60 KB), and the
    * training executes at most once per session (a cache read when t12
    * has already run, the full 3-scan replay otherwise). */
  private[graft] def bpeWinner(s: SparkSession, d: String, i: Int): DataFrame =
    SessionScope.frame(s, d, s"bpe_w$i", Checkpointed)(
      bpeRound5(s, d, i).filter(col("rnk") === 1).select(col("pair")))

  /** t09/t21's shared sketch input: the distinct (source, 60-bit shingle
    * hash) set, hashed IN THE SCAN STAGE so the one corpus-wide distinct
    * exchanges fixed 8-byte keys, never shingle text (t09's scaladoc has
    * the full 100 TB framing). Persisted: t09 feeds both its exact census
    * and its sketch from it; t21 feeds sketches AND the exact pairwise
    * overlap. */
  private def kmvDistinctHashes(s: SparkSession, d: String): DataFrame =
    SessionScope.frame(s, d, "kmv_dm", Checkpointed) {
      // r19: memoized localCheckpoint instead of a per-invocation persist
      // — t09 and t21 previously shared the corpus-wide distinct only via
      // CacheManager plan-matching (and re-ran it whenever a sweep
      // cleared the cache between them); the checkpointed frame is built
      // once per session, which is how a production sketch pipeline
      // treats a per-(corpus, day) hash universe. Distinct row ORDER is
      // nondeterministic but both consumers aggregate/join over it.
      import s.implicits._
      Tables.documents(s, d)
        .select($"source",
          explode(graft.functions.ShingleArr(split(trim($"text"), Tok.Ws), 3)).as("sg"))
        .select($"source",
          conv(substring(md5($"sg".cast("binary")), 1, 15), 16, 10).cast("long").as("m"))
        .distinct()
    }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // BPE vocabulary induction, step one: corpus-wide adjacent character
    // pair counts within words — the statistic each byte-pair merge round
    // maximizes. One explode + one groupBy (map-side combinable): at
    // 100 TB the pair space is tiny (≤ alphabet²) so the shuffle moves
    // partial counts, never text; further merge rounds re-run the same
    // shape over re-segmented words.
    // KMV (k-minimum-values / bottom-k) distinct sketch WITH its own
    // calibration row: estimate each source's distinct 3-gram shingle
    // count from only the k=64 smallest 28-bit md5 shingle hashes —
    // est = (k-1) * 2^28 / h_k. Unlike q20's HLL (engine-specific binary
    // sketch, rows-only check), KMV is DETERMINISTIC and exactly
    // oracle-checkable: both engines pick the same k-th order statistic
    // of the same integer hashes and divide the same doubles. Scale
    // shape: the sketch is the two-phase salted bottom-k (TopK.perKey
    // ascending) over DISTINCT (source, hash) — per-source state is k
    // values no matter the corpus, the mergeable-sketch property that
    // makes KMV a distributed-systems staple. The exact countDistinct
    // rides along per source to report the realized relative error.
    "t09_kmv_distinct" -> { (s, d) =>
      import s.implicits._
      val k = 64
      // ShingleArr's doc-local distinct arrays shrink the explode BEFORE
      // the cross-doc distinct shuffle — and the shingle is hashed to a
      // 60-bit integer (top 15 hex chars of md5) IN THE SCAN STAGE, so the
      // one corpus-wide distinct exchanges fixed 8-byte keys, never raw
      // 3-gram text (real-corpus shingles run 20+ UTF-8 bytes; at 100 TB
      // the difference between an int shuffle and a text shuffle is the
      // whole game). 60 bits keeps distinct-count fidelity (collision odds
      // ~n²/2^61) and parity is by construction: DuckDB distincts the SAME
      // truncated integer. The distinct (source, m) set feeds BOTH the
      // exact census and the sketch, persisted so neither side replays the
      // corpus scan; the sketch's 28-bit prefix is just m >> 32 (top 7 hex
      // chars), so its distinct runs over the already-deduped set
      // (|distinct shingles| rows, not |corpus|) with no second hash pass.
      val dm = kmvDistinctHashes(s, d)
      val dh = dm
        .select($"source", shiftright($"m", 32).as("h"))
        .distinct()
      val kth = graft.operators.TopK.perKey(dh, $"source", Seq($"h"), k, saltFrom = $"h")
        .groupBy($"source").agg(max($"h").as("hk"), count(lit(1)).as("n_obs"))
      val exact = dm.groupBy($"source").agg(count(lit(1)).as("n_exact"))
      val est = when($"n_obs" < k, $"n_obs".cast("double"))
        .otherwise(lit((k - 1).toDouble * (1L << 28).toDouble) / $"hk".cast("double"))
      exact.join(kth, "source")
        .select($"source", $"n_exact", $"n_obs",
          round(est, 4).as("kmv_estimate"),
          round(abs(est - $"n_exact".cast("double")) / $"n_exact".cast("double"), 6)
            .as("rel_error"))
        .orderBy($"source")
    },

    // KMV sketch SET OPERATIONS — the reason to pick KMV over HLL when
    // you need more than cardinalities: two sources' bottom-k sketches
    // MERGE into the union's bottom-k (re-rank the union of the two
    // 64-hash sets, keep 64), the union estimate falls out of the same
    // (k−1)·2^28/h_k estimator, and the intersection follows by
    // inclusion–exclusion — the cheap cross-source overlap report that
    // tells a dedup planner WHERE to spend its LSH budget. At 100 TB the
    // pairwise stage touches only k-sized sketch state (64 ints per
    // source — |sources|²·k work, corpus-size-independent); the exact
    // pairwise overlap rides along as calibration (t09/d14's
    // realized-error pattern) and is itself an 8-byte-key equi-join,
    // never a text move. Everything is md5-derived integers — the
    // estimates are deterministic and the oracle replays them exactly.
    "t21_kmv_overlap" -> { (s, d) =>
      import s.implicits._
      val k = 64
      val dm = kmvDistinctHashes(s, d)
      val dh = dm.select($"source", shiftright($"m", 32).as("h")).distinct()
      val bk = SessionScope.cache(graft.operators.TopK.perKey(dh, $"source", Seq($"h"), k, saltFrom = $"h")
        .select($"source", $"h"))
      def estCol(nObs: Column, hk: Column): Column =
        when(nObs < k, nObs.cast("double"))
          .otherwise(lit((k - 1).toDouble * (1L << 28).toDouble) / hk.cast("double"))
      val est = bk.groupBy($"source").agg(max($"h").as("hk"), count(lit(1)).as("n_obs"))
        .select($"source", estCol($"n_obs", $"hk").as("est"))
      val pairs = est.as("a").join(est.as("b"), col("a.source") < col("b.source"))
        .select(col("a.source").as("sa"), col("b.source").as("sb"),
          col("a.est").as("est_a"), col("b.est").as("est_b"))
      val pu = pairs.select($"sa", $"sb").join(bk, $"sa" === $"source")
          .select($"sa", $"sb", $"h")
        .unionByName(pairs.select($"sa", $"sb").join(bk, $"sb" === $"source")
          .select($"sa", $"sb", $"h"))
        .distinct()
      val ku = graft.operators.TopK.perKey(
          pu, struct($"sa", $"sb"), Seq($"h"), k, saltFrom = $"h")
        .groupBy($"sa", $"sb").agg(max($"h").as("hku"), count(lit(1)).as("n_obs_u"))
      val ei = dm.as("x").join(dm.as("y"),
          col("x.m") === col("y.m") && col("x.source") < col("y.source"))
        .groupBy(col("x.source").as("sa"), col("y.source").as("sb"))
        .agg(count(lit(1)).as("exact_inter"))
      val estU = estCol($"n_obs_u", $"hku")
      val estI = greatest($"est_a" + $"est_b" - estU, lit(0.0))
      val exD = coalesce($"exact_inter", lit(0L)).cast("double")
      pairs.join(ku, Seq("sa", "sb"))
        .join(ei, Seq("sa", "sb"), "left")
        .select($"sa", $"sb",
          round($"est_a", 4).as("est_a"), round($"est_b", 4).as("est_b"),
          round(estU, 4).as("est_union"), round(estI, 4).as("est_inter"),
          coalesce($"exact_inter", lit(0L)).as("exact_inter"),
          round(abs(estI - exD) / greatest(exD, lit(1.0)), 6).as("rel_error"))
        .orderBy($"sa", $"sb")
    },

    // Trigram Kneser–Ney LM quality gate — t15's CCNet-style perplexity
    // filter upgraded to the higher-order smoothed LM the published
    // filters (CCNet/Gopher via KenLM) actually use. Interpolated KN
    // with fixed discount D=3/4, made ENGINE-EXACT by doing the whole
    // probability ladder in integers: D rides as the exact rational 3/4
    // (every term scaled by 4), each distribution lands as a FIXED-POINT
    // 1e-6 integer via floor division (identical `div`/`//` semantics on
    // positive longs in both engines), floored at 1 fx so log never sees
    // zero, and the per-trigram cost is the integer BIT LENGTH
    // bitlen(1e6) − bitlen(p_fx) — t15's floor-log2 quantization. The
    // ladder is textbook KN: continuation-unigram P_cont = N1+(·w3)/N1+(··)
    // from bigram TYPES; lower-order P(w3|w2) discounts the continuation
    // counts N1+(·w2w3) over N1+(·w2·) with back-off mass 3·N1+(w2·)/4·N1+(·w2·);
    // top level discounts raw trigram counts over Σc(w1w2·) with mass
    // 3·N1+(w1w2·)/4·c(w1w2·); unseen contexts fall through to the next
    // rung (the CASE arms). Counts come from the c02 TRAIN split only;
    // every split is scored (t15's train/score discipline). Gate:
    // keep iff nll_bits ≤ 4·n_trigrams (≤4.0 bits/trigram) — integer
    // cross-product, no division at the gate.
    //
    // Scale shape: all five LM tables are VOCAB-BOUNDED ((w1w2w3),
    // (w1w2), (w2w3), (w2), (w3) keyed counts — map-side-combinable
    // partials over the train scan) and BROADCAST against the scoring
    // scan, so the corpus side never shuffles for the lookups; the one
    // corpus exchange is the per-doc integer-partial agg. A 100 TB run
    // prunes the trigram table to top-K with the back-off rungs as the
    // OOV default first — same plan, smaller broadcasts. pcont/plow/p
    // land in SEPARATE projections (the round-7 lesson: multi-referenced
    // non-cheap aliases inline per reference if CollapseProject merges
    // them; the split keeps each computed once and codegen'd).
    "t22_kn_trigram_bits" -> { (s, d) =>
      import s.implicits._
      val dv = knPrep(Tables.documents(s, d))
      knScored(dv, knTables(dv)).orderBy($"doc_id")
    },

    // SLIDING-WINDOW DOCUMENT CHUNKER — the RAG/embedding-ingest
    // primitive c14 deliberately is not: c14 PACKS whole docs into
    // budget-bounded training sequences; this SPLITS each doc into
    // overlapping retrieval chunks (64-token windows, stride 48 → 16
    // tokens of overlap so no sentence straddles a boundary unseen),
    // the shape every embedding pipeline feeds to its encoder. Chunk i
    // covers tokens [i·48, i·48+64); the tail chunk is short, never
    // dropped; a ≤64-token doc is exactly one chunk. Output: per-doc
    // census with a POSITION-WEIGHTED content checksum — Σ (i+1) ·
    // md5₄₀(chunk_text) — which pins every chunk's exact text AND its
    // index (a same-bytes different-order regression flips the sum),
    // plus the tail length (the off-by-one magnet: n − (nc−1)·48).
    //
    // Scale shape: one narrow corpus pass; the explode's fan-out is
    // ceil(tokens/stride) rows per doc, all landing in the producing
    // partition, and the per-doc partial agg collapses them map-side —
    // the one exchange carries ONE census row per document (no chunk
    // text ever moves; the hash is computed scan-side). nc arithmetic
    // stays in GREATEST-guarded non-negative integer division so both
    // engines floor identically.
    "t23_chunk_windows" -> { (s, d) =>
      import s.implicits._
      chunkCensus(Tables.documents(s, d)).orderBy($"doc_id")
    },

    // PER-DOC KEYWORD EXTRACTION (TF-IDF top-5) — ranks WORDS within a
    // document (topic tagging / domain labeling, the curation op that
    // feeds c04/c10's source mixing), where t16's BM25 ranks DOCUMENTS
    // for a query. Entirely integer-exact: score = tf · idfB with idfB =
    // bitlen(N) − bitlen(df) (t16's established integer idf); ubiquitous
    // words (df in N's bit-range) score 0 and drop — the stopword filter
    // falls out of the arithmetic instead of a word list. Deterministic
    // top-5 per doc by (score DESC, word).
    //
    // Scale shape: per-doc tf counts come out of the scan via the
    // codegen'd WordCounts expression (no raw-word explode+groupBy —
    // counts collapse per document before anything moves); df is one
    // vocab-bounded agg BROADCAST back (t16's pattern), so the corpus
    // exchanges only its (doc, word, tf) rows once for the per-doc
    // window. At 100 TB prune df to the doc-frequency band that can
    // score > 0 before broadcasting.
    "t24_keyword_extraction" -> { (s, d) =>
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val docs = Tables.documents(s, d)
      val tf = SessionScope.cache(docs.select($"doc_id",
          explode(graft.functions.WordCounts(split(trim($"text"), Tok.Ws)))
            .as("wc"))
        .select($"doc_id", $"wc.t".as("word"), $"wc.tf".as("tf")))
      val df = tf.groupBy($"word").agg(count(lit(1)).as("df"))
      val n = docs.agg(count(lit(1)).as("n_docs"))
      tf.join(broadcast(df), "word")
        .crossJoin(broadcast(n))
        .select($"doc_id", $"word", $"tf".cast("long").as("tf"),
          $"df",
          ($"tf" * (length(conv($"n_docs", 10, 2)) -
            length(conv($"df", 10, 2)))).cast("long").as("score"))
        .filter($"score" > 0)
        .withColumn("rank", row_number().over(
          Window.partitionBy($"doc_id").orderBy($"score".desc, $"word")))
        .filter($"rank" <= 5)
        .select($"doc_id", $"rank", $"word", $"tf", $"df", $"score")
        .orderBy($"doc_id", $"rank")
    },

    "t05_bpe_pair_counts" -> { (s, d) =>
      import s.implicits._
      Tables.documents(s, d)
        .select(explode(split(trim($"text"), Tok.Ws)).as("word"))
        .filter(length($"word") >= 2)
        .select(explode(expr(
          "transform(sequence(1, length(word) - 1), i -> substr(word, i, 2))")).as("pair"))
        .groupBy($"pair").agg(count(lit(1)).as("cnt"))
        .orderBy($"cnt".desc, $"pair")
        .limit(20)
    },

    // BPE merge TRAINING, the step t05 stops short of: three merge rounds,
    // each counting adjacent symbol pairs, merging the argmax pair
    // corpus-wide (left-to-right, non-overlapping — real BPE semantics),
    // and recounting over the re-segmented words. Output is the training
    // trace a tokenizer build logs: per round the top-5 pairs with the
    // rank-1 winner that got merged — round 2's counts only come out
    // right if round 1's merge was actually APPLIED (e.g. "m er" enters
    // the top-5 only after "e r" fuses).
    //
    // Segmentation rides IN THE STRING, not in an array: a word is its
    // symbols each wrapped in single spaces (" h  e  r  e " — double space
    // between symbols, single at the ends), so one codegen'd replace() of
    // " a  b " with " ab " performs the exact left-to-right non-overlap
    // merge — the shared boundary space consumed by a match is re-supplied
    // by the replacement's trailing space, so back-to-back pairs
    // ("abab" -> ab|ab) still merge while "aaa" correctly yields aa|a.
    // DuckDB's replace() has identical forward-scan semantics, making the
    // whole 3-round trace exactly replayable (parity by construction).
    //
    // Scale shape mirrors s12's Lloyd rounds: the corpus is scanned once
    // per round (narrow map + pair explode), the only shuffle carries
    // map-side-combined (pair, count) partials (pair space ≤ vocab², tiny),
    // the argmax is TakeOrderedAndProject (per-partition heaps), and the
    // 5-row winner tables are persisted and broadcast back — the corpus
    // itself is never exchanged and never cached. At 100 TB each round is
    // one scan-bound pass; real trainers run this exact loop to ~30k
    // merges with the same per-round plan.
    "t12_bpe_merge_train" -> { (s, d) =>
      import s.implicits._
      // r19: the per-round 5-row (pair, cnt, rnk) tables are the memoized
      // shared training (see bpeRound5 — the single-symbol filter, the
      // rank-1 broadcast merge pattern, and the per-round checkpoints
      // live there); t14/t25 now derive their winners from the SAME
      // tables instead of replaying the 3-scan training per query.
      val t1 = bpeRound5(s, d, 1)
      val t2 = bpeRound5(s, d, 2)
      val t3 = bpeRound5(s, d, 3)
      t1.withColumn("round", lit(1))
        .union(t2.withColumn("round", lit(2)))
        .union(t3.withColumn("round", lit(3)))
        .select($"round", $"rnk", $"pair", $"cnt",
          expr("replace(pair, ' ', '')").as("merged"))
        .orderBy($"round", $"rnk")
    },

    // Learned-filter scoring — the fastText/CCNet quality-classifier
    // SHAPE: hashed word n-gram features (unigrams + bigrams, disjoint by
    // construction — unigrams never contain a space) looked up in a
    // 64-bucket weight vector, mean weight as the per-doc logit, a
    // threshold as the keep/drop gate. The weight table here is a small
    // deterministic literal ((j*37+11) % 101 - 50, scaled /100) standing
    // in for trained parameters — the PLUMBING is the operator: feature
    // hashing, the broadcast-literal lookup, and the exact-integer
    // accumulation are what a real classifier sweep runs at 100 TB.
    // Weights stay INTEGER until one final division (order-free exact sum
    // — no float accumulation to drift between engines); the sigmoid is
    // monotone so the gate compares the logit directly and no
    // transcendental ever reaches the hash check. One scan, explode,
    // map-side-combinable (doc_id, count, sum) partials — text never
    // rides the shuffle. Zero UDFs: md5/conv/element_at are codegen'd.
    "t13_quality_classifier" -> { (s, d) =>
      import s.implicits._
      val warr = array((0 until 64).map(j => lit((j * 37 + 11) % 101 - 50)): _*)
      val logit = $"sum_w".cast("double") / (lit(100.0) * $"n_feats")
      Tables.documents(s, d)
        .withColumn("w", split(trim($"text"), Tok.Ws))
        // bag-of-features semantics: every bigram OCCURRENCE counts, so
        // this uses the t06-style transform, NOT ShingleArr (which
        // dedupes doc-locally by design)
        .withColumn("bg", when(size($"w") >= 2, expr(
          """transform(sequence(1, size(w) - 1),
            |  i -> concat_ws(' ', element_at(w, i), element_at(w, i + 1)))""".stripMargin))
          .otherwise(array().cast("array<string>")))
        .select($"doc_id", explode(concat($"w", $"bg")).as("feat"))
        .select($"doc_id",
          element_at(warr,
            (conv(substring(md5($"feat".cast("binary")), 1, 7), 16, 10)
              .cast("long") % 64 + 1).cast("int")).as("wi"))
        .groupBy($"doc_id")
        .agg(count(lit(1)).as("n_feats"), sum($"wi").cast("long").as("sum_w"))
        .select($"doc_id", $"n_feats", $"sum_w",
          round(logit, 6).as("logit"),
          when(logit >= 0.02, lit("keep")).otherwise(lit("drop")).as("label"))
        .orderBy($"doc_id")
    },

    // Tokenizer APPLICATION — the most-run operator in LLM data prep
    // (every corpus pass re-encodes with the frozen tokenizer): replay
    // t12's 3-round merge training to get the winner list, then encode
    // EVERY word of EVERY document with those merges in training order.
    // Output per doc: word/symbol/token counts, chars-per-token (the
    // fertility number tokenizer evals report), and a position-salted
    // 40-bit checksum over the encoded words — the checksum proves the
    // exact token SEQUENCE cross-engine without the encoded text ever
    // riding a shuffle (c13's file-checksum idea applied to a derived
    // column). Segmentation rides in the space-wrapped string exactly as
    // in t12 (one codegen'd replace() per merge — see t12's comment for
    // why that is exact left-to-right non-overlap BPE in both engines).
    //
    // Scale shape: training is t12's loop (scan per round, (pair, count)
    // partials, 1-row winner tables persisted + broadcast); application
    // is a NARROW per-word map — three broadcast-literal replaces fused
    // into the scan — and the per-doc agg is map-side-combinable integer
    // partials (count/sum/sum/sum). At 100 TB the encode pass is
    // scan-bound, which is the property that makes re-tokenizing a
    // corpus with a revised vocab routine rather than a project.
    "t14_bpe_encode" -> { (s, d) =>
      import s.implicits._
      // training winners from the memoized shared tables (r19 — was an
      // identical-statistics top-1 replay that re-scanned the corpus
      // three times per invocation and could not CacheManager-match
      // t12's top-5 form; see bpeRound5/bpeWinner for the identity
      // argument). Each winner is a 1-row LogicalRDD the encode pass
      // broadcasts, exactly as before.
      def applyMerge(w: DataFrame, win: DataFrame): DataFrame =
        w.crossJoin(broadcast(win.select($"pair".as("bp"))))
          .withColumn("seq", expr(
            "replace(seq, ' ' || replace(bp, ' ', '  ') || ' ', ' ' || replace(bp, ' ', '') || ' ')"))
          .drop("bp")
      val m1 = bpeWinner(s, d, 1)
      val m2 = bpeWinner(s, d, 2)
      val m3 = bpeWinner(s, d, 3)
      // application: every word of every doc (single-symbol words too —
      // they encode to themselves), position-indexed for the checksum
      val dw = Tables.documents(s, d)
        .select($"doc_id", posexplode(split(trim($"text"), Tok.Ws)).as(Seq("idx", "word")))
        .select($"doc_id", $"idx", $"word",
          regexp_replace($"word", "(.)", " $1 ").as("seq"))
      applyMerge(applyMerge(applyMerge(dw, m1), m2), m3)
        .select($"doc_id",
          length($"word").cast("long").as("n_sym"),
          size(split(trim($"seq"), "  ")).cast("long").as("n_tok"),
          conv(substring(md5(concat($"idx".cast("string"), lit(":"),
            expr("replace(trim(seq), '  ', '|')")).cast("binary")), 1, 10), 16, 10)
            .cast("long").as("h"))
        .groupBy($"doc_id")
        .agg(count(lit(1)).as("n_words"),
          sum($"n_sym").as("n_chars"),
          sum($"n_tok").as("n_tokens"),
          sum($"h").as("enc_checksum"))
        .select($"doc_id", $"n_words", $"n_chars", $"n_tokens",
          round($"n_chars".cast("double") / $"n_tokens".cast("double"), 6)
            .as("chars_per_token"),
          $"enc_checksum")
        .orderBy($"doc_id")
    },

    // Tokenizer ROUND-TRIP proof — the property a pipeline actually
    // relies on before training: decode(encode(x)) == x, driven through
    // a REAL id vocabulary rather than string surgery. t14 encodes;
    // nothing there proves the encoded ids can be decoded back. Here:
    // t12's 3-round training replay produces the frozen merge table; the
    // vocab assigns ids deterministically (base symbols sorted, then
    // merged tokens in training order, cross-round-collision-deduped by
    // min round); every word of every doc is encoded to an ID SEQUENCE
    // through the token→id map and decoded back through the id→token
    // map + concat. The oracle's sharpness comes from the identity
    // itself: n_exact must equal n_words and the decoded-text checksum
    // must equal the checksum of the ORIGINAL words — predictions DuckDB
    // makes without ever seeing the ids, which Spark can only reproduce
    // if the whole encode→id→decode chain is lossless (a vocab miss
    // yields a null id, array_join drops it, and the shortened decode
    // hash-mismatches loudly). vocab_size and n_tokens pin the vocab
    // construction and the merge application to the training replay.
    //
    // Scale shape: training is t12's loop; the vocab is tiny
    // (|distinct symbols| + |merges|) and rides as ONE broadcast map
    // row, so encode+decode are scan-side per-word map work (the
    // transform/element_at lambdas evaluate interpreted — fine here:
    // per-word arrays are short and the alternative, exploding tokens
    // to join the vocab, would put a corpus-sized exchange where a
    // dictionary lookup belongs); the only exchange is the per-doc
    // integer partials. At 100 TB a re-tokenize + integrity sweep stays
    // scan-bound, which is why decode-verify can run on every corpus
    // build rather than on samples.
    "t25_bpe_roundtrip" -> { (s, d) =>
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      // training winners from the memoized shared tables (r19 — t14's
      // comment has the identity argument; t25 previously plan-matched
      // t14's persisted winners, a sharing the memo now guarantees)
      def applyMerge(w: DataFrame, win: DataFrame): DataFrame =
        w.crossJoin(broadcast(win.select($"pair".as("bp"))))
          .withColumn("seq", expr(
            "replace(seq, ' ' || replace(bp, ' ', '  ') || ' ', ' ' || replace(bp, ' ', '') || ' ')"))
          .drop("bp")
      val m1 = bpeWinner(s, d, 1)
      val m2 = bpeWinner(s, d, 2)
      val m3 = bpeWinner(s, d, 3)
      // every word of every doc, position-indexed (single-symbol words
      // too — they encode to themselves)
      val dw = Tables.documents(s, d)
        .select($"doc_id", posexplode(split(trim($"text"), Tok.Ws)).as(Seq("idx", "word")))
        .select($"doc_id", $"idx", $"word",
          regexp_replace($"word", "(.)", " $1 ").as("seq"))
      // vocab: base symbols (the pre-merge segmentation's distinct
      // tokens) sorted get ids 1..K; merged tokens follow in training
      // order. Merged strings are >= 2 chars so they never collide with
      // base symbols; two ROUNDS producing the same merged string
      // dedupe to the earlier round. The row_number window is global
      // but over a |symbols|+3-row frame — dictionary-sized by nature.
      val base = dw.select(explode(split(trim($"seq"), "  ")).as("tok"))
        .distinct().select($"tok", lit(0).as("r"))
      def mergedTok(m: DataFrame, round: Int): DataFrame =
        m.select(expr("replace(pair, ' ', '')").as("tok"), lit(round).as("r"))
      val merged = mergedTok(m1, 1).unionByName(mergedTok(m2, 2))
        .unionByName(mergedTok(m3, 3))
        .groupBy($"tok").agg(min($"r").as("r"))
      val vocab = base.unionByName(merged)
        .withColumn("id", row_number().over(
          Window.orderBy($"r", $"tok")).cast("long"))
      val fmap = vocab.agg(map_from_entries(
        collect_list(struct($"tok", $"id"))).as("fm"),
        count(lit(1)).as("vsz"))
      val rmap = vocab.agg(map_from_entries(
        collect_list(struct($"id", $"tok"))).as("rm"))
      applyMerge(applyMerge(applyMerge(dw, m1), m2), m3)
        .crossJoin(broadcast(fmap)).crossJoin(broadcast(rmap))
        .withColumn("toks", split(trim($"seq"), "  "))
        .withColumn("ids", expr("transform(toks, t -> element_at(fm, t))"))
        .withColumn("dec", expr(
          "array_join(transform(ids, i -> element_at(rm, i)), '')"))
        .select($"doc_id", $"vsz",
          size($"toks").cast("long").as("n_tok"),
          when($"dec" === $"word", lit(1L)).otherwise(lit(0L)).as("ok"),
          conv(substring(md5(concat($"idx".cast("string"), lit(":"),
            $"dec").cast("binary")), 1, 10), 16, 10)
            .cast("long").as("h"))
        .groupBy($"doc_id")
        .agg(count(lit(1)).as("n_words"),
          sum($"n_tok").as("n_tokens"),
          max($"vsz").as("vocab_size"),
          sum($"ok").as("n_exact"),
          sum($"h").as("dec_checksum"))
        .orderBy($"doc_id")
    },

    // Bigram-LM scoring with a train/score discipline — the CCNet-style
    // perplexity quality gate, made engine-exact: counts (bigram and
    // context) come from the c02 TRAIN split only, every doc in every
    // split is scored against them with add-one smoothing, and the
    // per-bigram cost is the integer BIT LENGTH of the smoothed ratio —
    // bits = bitlen(c(w1)+V) - bitlen(c(w1 w2)+1), t08's binary-length
    // trick extended to conditional probabilities. That floor-log2
    // quantization is the documented trade that keeps the score exactly
    // replayable cross-engine (a float log2 would differ in final ulps
    // and break the hash gate); the keep/drop gate compares the exact
    // rational nll_bits/n_bigrams <= 4.95 as the integer cross-product
    // 20*nll_bits <= 99*n_bigrams, so no division reaches the gate.
    //
    // Scale shape: the LM tables are vocab-bounded ((context, count) and
    // (bigram, count) map-side-combinable partials; 31 unigrams / 931
    // bigrams on this corpus) and BROADCAST against the scoring scan —
    // the corpus side never shuffles for the lookup, mirroring t07/t08's
    // at-scale note; a real 100 TB run prunes the bigram table to top-K
    // with an OOV default first (same plan). V is one broadcast scalar.
    "t15_lm_bits" -> { (s, d) =>
      import s.implicits._
      val dv = lmPrep(Tables.documents(s, d))
      val (tb, tc, vv) = lmTables(dv)
      lmScored(dv, tb, tc, vv).orderBy($"doc_id")
    },

    // BM25 retrieval scoring — the ranking-based retrieval operator the
    // n-gram decontamination family (c03/c08) stops short of: for each
    // eval probe item (doc_id % 100 = 0, a subset of c03's benchmark
    // stand-in), the top-3 training documents by BM25 — the
    // retrieval-based attribution/decontamination pass labs run when
    // verbatim n-grams miss paraphrased leakage. Engine-exact by two
    // established tricks: idf is the integer BIT LENGTH difference
    // bitlen(N) − bitlen(df) (t15's floor-log2 quantization — no float
    // log), and each per-term score lands as a FIXED-POINT 1e-6 integer
    // (s08's trick) so the per-(eval, doc) sum is exact and order-free;
    // the tf normalization's doubles are bit-identical cross-engine
    // because both engines evaluate the same literals in the same order.
    //
    // Scale shape: postings = the (train_id, term, tf, dl) table built
    // DOC-LOCALLY by the codegen'd WordCounts expression — the train
    // side shuffles NOTHING to build the index; df is vocab-bounded
    // and BROADCAST; the probe terms are c03's broadcast-eval-side shape
    // — the training side never shuffles for the match; the dense
    // match fan-out on this tiny-vocab corpus (every term hits most
    // docs) is the synthetic-data worst case, which is why the probe
    // set is the %100 subset; the final agg exchanges (eval, doc,
    // integer-sum) partials and top-3 is the salted TopK.
    "t16_bm25_retrieval" -> { (s, d) =>
      import s.implicits._
      graft.operators.TopK.perKey(
          bm25ScoredMemo(s, d), $"eval_id", Seq($"sfx".desc, $"train_id"), 3, saltFrom = $"train_id")
        .select($"eval_id", $"rn".as("rank"), $"train_id",
          round($"sfx".cast("double") / lit(1e6), 6).as("bm25"))
        .orderBy($"eval_id", $"rank")
    },

    // Hybrid retrieve-then-rerank — the stage the retrieval family was
    // missing: t16 retrieves lexically, s31 mines by embedding; the
    // standard pipeline ends with a RERANK of the top-k lexical
    // candidates by a joint score (the cheap cross-encoder stand-in:
    // min-max-normalized lexical score blended 1:1 with embedding
    // cosine). Per eval probe: top-10 candidates by BM25-with-sqrt-idf,
    // then top-5 of those by `blend = norm(bm25) + cos`. The sqrt idf —
    // sqrt(N/df) instead of t16's bit-length quantization — matters at
    // harness scale: with n_train=450 every df lands in n_train's
    // bit-length bucket, so t16's idf degenerates to 0 and ranks by
    // tie-break; sqrt(N/df) discriminates at ANY corpus size and stays
    // engine-exact because IEEE sqrt is correctly rounded in both
    // engines (the same guarantee every cosine here already leans on) —
    // no float log enters. Parity discipline: the lexical arm is t16's
    // fixed-point 1e-6 integer sum; the cosine arm is the in-order
    // DotProduct fold rounded to a 1e-6 fixed-point integer; min-max
    // normalization divides exact integer differences (identical
    // doubles both engines); the blend is an INTEGER sum of the two
    // fixed-point arms, so ranking compares longs, never accumulated
    // doubles. Candidates are linked to vectors by the harness
    // convention vec_id == doc_id; the join is INNER — a candidate
    // without an embedding cannot be cross-encoded and drops from the
    // rerank (at sf0.1 the embeddings table covers only doc_id < 2000;
    // both engines agree by the same join).
    //
    // Scale shape: stage 1 is exactly t16's (doc-local postings via the
    // codegen'd WordCounts scan expression, broadcast vocab-bounded df,
    // broadcast probe terms, salted TopK — the corpus never shuffles);
    // stage 2 touches ONLY n_eval × 10 candidate rows — the whole point
    // of retrieve-then-rerank is that the expensive joint scoring runs
    // on a candidate set ~6 orders of magnitude smaller than the
    // corpus. The candidate list broadcasts INTO the embeddings scan
    // (corpus embeddings never exchange), the eval vectors and
    // candidate-local min-max stats broadcast likewise, and the final
    // top-5 is the salted TopK over ≤10 rows per key.
    "t26_hybrid_rerank" -> { (s, d) =>
      // the dense probe scoring is the memoized session constant (r20);
      // only the per-call candidate slate is cached, until the runner's
      // drain after it materializes the frame
      hybridRerank(probeScoredMemo(s, d), embWithNorms(s, d))
    },

    // Recall census for the hybrid retrieve-then-rerank pipeline — the
    // quality ablation every two-stage retriever ships with: per
    // embedded eval probe, recall@5 of t26's blended slate vs (a) the
    // corpus-wide brute-force cosine top-5 and (b) the cosine-only
    // top-5 of the slate's own candidate set. See [[rerankRecall]] for
    // the full framing (why the corpus arm is honestly ~0 on random
    // synthetic embeddings and the candidate arm carries the hash
    // teeth).
    "t27_rerank_recall" -> { (s, d) =>
      import s.implicits._
      val emb = embWithNorms(s, d)
      // memoized joint inputs + the exact arm as the top-5 prefix of the
      // memoized brute top-10 (identical set — same total order);
      // per-call caches drained by the runner (see t26)
      val joint = rerankJointScores(probeScoredMemo(s, d), emb)
      val exact = rrfVecExactMemo(s, d).filter($"vec_rank" <= 5)
        .select($"eval_id", $"train_id")
      rerankRecall(joint, exact, emb)
    },

    // Reciprocal-rank fusion — the OTHER standard hybrid-search
    // combiner (the default in the big hybrid-search engines): where
    // t26 blends SCORES (min-max lexical + cosine), RRF fuses RANKS —
    // score = Σ_arms 1/(k + rank_arm), k = 60, over the lexical top-10
    // (t16's sqrt-idf retrieval) and the vector top-10 (brute-force
    // cosine over the embedded train corpus; at 100 TB this arm is the
    // served ANN index — PROVEN as t29, which fuses the saved-IVF-PQ
    // serve's rank list through the identical rrfFuseRanks core).
    // Rank-space fusion needs no score normalization at all, which is
    // why it wins operationally: arms with incomparable score scales
    // fuse without a calibration step. Engine-exact trivially: ranks
    // are integers with the (score DESC, train_id) total tie-break, and
    // 1/(60+r) lands as the INTEGER quotient 1e9 div (60+r) (Spark
    // `div` == DuckDB `//` on positive BIGINTs), so the fused score is
    // an integer sum — no float division reaches the ranking. A doc
    // present in only one arm contributes only that arm (FULL OUTER
    // fusion, rank sentinel 0 = absent); probes without an embedding
    // still fuse their lexical arm alone — nothing vanishes.
    //
    // Scale shape: the lexical arm is t16's (corpus never shuffles);
    // the vector arm is s01's broadcast-probes-into-one-scan; the
    // fusion full-outer join touches two ≤10-rows-per-probe frames and
    // the final top-5 is the salted TopK over ≤20 rows per key.
    "t28_rrf_fusion" -> { (s, d) =>
      // both arms are the memoized session constants (r20): the fusion
      // itself is a full-outer join of two ≤10-rows-per-probe
      // checkpointed frames + the salted top-5 — no per-call persists,
      // so nothing to cache
      rrfFuseRanks(rrfLexArmMemo(s, d), rrfVecExactMemo(s, d))
    },

    // The PRODUCTION hybrid-search shape, end to end: t28's scaladoc
    // says the vector arm "at 100 TB is the served ANN index" — this
    // query PROVES that composition instead of claiming it. The lexical
    // arm is t28's exact retrieval ranks; the vector arm is the top-10
    // rank list SERVED from a saved train-only IVF-PQ index (s22's
    // file-round-trip discipline: codebook written + re-read, train
    // corpus encoded against the re-read file, probes served from the
    // files); both fuse through the IDENTICAL rrfFuseRanks definition
    // the oracle checks on t28 — per-probe integer-quotient rank
    // fusion, FULL OUTER arms, (rrf_fx DESC, train_id) total tie-break.
    // The oracle replays the ENTIRE served pipeline (assignment, PQ
    // codes, multiprobe ADC, rank list) plus the fusion from the raw
    // tables, so an index-build or serve regression hash-mismatches.
    //
    // Scale shape: the lexical arm never shuffles the corpus (t16);
    // the served arm is s22's serve (probes broadcast into the
    // cell-equi-joined coded corpus — the POINT of the composition:
    // unlike t28's brute-force arm, nothing here scans the full
    // embedding set per probe); the fusion join touches two
    // ≤10-rows-per-probe frames.
    "t29_rrf_served" -> { (s, d) =>
      // the lexical arm is the memoized session constant; the served arm
      // rides the MEMOIZED train index (one build per session serves
      // t29, t30, t31 and the twins — r18 verdict ask #1) and persists
      // per call (the fusion's TopK + final sort replay their input)
      // until the runner's drain (see t26)
      val vecSrv = SessionScope.cache(Similarity.ivfpqServedTrainRanks(s, d, 10))
      rrfFuseRanks(rrfLexArmMemo(s, d), vecSrv)
    },

    // The served composition's RECALL CENSUS — the ablation every index
    // swap ships with (t27 graded the rerank; this grades the t29 index
    // swap): per embedded eval probe, how much of the exact fusion's
    // slate does the SERVED fusion keep (fusion_recall, overlap@5), and
    // how much of the exact cosine rank list does the IVF-PQ serve
    // recover (arm_recall, overlap@10 — s06's discipline on the served
    // arm, the number that explains the slate divergence). The lexical
    // arm and the rrfFuseRanks core are built ONCE and shared by both
    // fusions, so divergence is attributable to the vector arm alone.
    // Engine-exact: both slates and both rank lists are integer-ranked
    // with total tie-breaks, so the intersections are exact set counts.
    "t30_served_fusion_recall" -> { (s, d) =>
      import s.implicits._
      // lexical arm, exact slate and exact rank arm are the memoized
      // session constants; shares t29's memoized index build; the served
      // arm + served slate are cached until the runner's drain
      servedFusionRecall(
        rrfLexArmMemo(s, d),
        rrfExactSlateMemo(s, d).select($"eval_id", $"train_id"),
        rrfVecExactMemo(s, d),
        Similarity.ivfpqServedTrainRanks(s, d, 10),
        embWithNorms(s, d))
    },

    // The served composition's RANK-AWARE grading — the companion t30's
    // recall census needs before an index swap ships: NDCG@5 of the
    // served slate against the exact fusion's graded slate (does the
    // served index keep the ORDER, not just the set) and MRR (how deep
    // is the first hit). Engine-exact by construction: graded relevance
    // and both rank lists are integers, the NDCG discounts are
    // precomputed integer millionths (ndcgW — no cross-engine log), so
    // DCG and IDCG are exact BIGINT sums and the only doubles are two
    // guarded 6-dp-rounded divisions. Shares t29/t30's memoized index
    // build and the one-per-session BM25 tokenization; the served arm is
    // cached until the runner's drain (see t26).
    "t31_ranking_metrics" -> { (s, d) =>
      import s.implicits._
      // memoized lexical arm + graded exact slate; shares t29's memoized
      // index build
      servedRankingMetrics(
        rrfLexArmMemo(s, d),
        rrfExactSlateMemo(s, d)
          .select($"eval_id", $"train_id",
            $"rank".cast("long").as("exact_rank")),
        Similarity.ivfpqServedTrainRanks(s, d, 10),
        embWithNorms(s, d))
    },

    // PII detection + redaction census — the scrubbing pass every
    // public-web training pipeline runs before anything else (emails,
    // phone numbers, IP addresses → typed placeholder tokens). The
    // harness corpus carries no real PII, so the query PLANTS
    // deterministic PII derived from doc_id (m05's oracle-gated pattern:
    // the oracle replays the planting from the raw table and computes
    // the same counts/redacted-text checksum directly, so a regex or
    // replacement-order regression hash-mismatches loudly). The regexes
    // stay inside the Java-regex/RE2 shared subset (classes, counted
    // repeats, no lookaround/backrefs) — leftmost, non-overlapping
    // matching is identical in both engines.
    //
    // Scale shape: everything up to the census is NARROW per-row work
    // fused into the scan (regexp_count/regexp_replace are codegen'd
    // expressions); the one exchange carries per-source integer partials.
    // The 40-bit md5-prefix checksum of each redacted doc rides the agg
    // as an integer sum, so redacted text itself never moves — c13's
    // file-checksum idea applied to an in-flight transform.
    "t17_pii_scrub" -> { (s, d) =>
      import s.implicits._
      piiScrubbed(Tables.documents(s, d)).groupBy($"source")
        .agg(count(lit(1)).as("n_docs"),
          sum(when($"emails" + $"phones" + $"ips" > 0, 1L).otherwise(0L))
            .as("docs_with_pii"),
          sum($"emails").as("emails"), sum($"phones").as("phones"),
          sum($"ips").as("ips"),
          sum(length($"pt") - length($"st")).cast("long").as("chars_redacted"),
          sum(conv(substring(md5($"st".cast("binary")), 1, 10), 16, 10)
            .cast("long")).as("scrub_check"))
        .orderBy($"source")
    },

    // Token/char statistics per document.
    "t01_text_stats" -> { (s, d) =>
      import s.implicits._
      Tables.documents(s, d)
        .withColumn("w", split(trim($"text"), Tok.Ws))
        .select(
          $"doc_id",
          size($"w").as("n_tokens"),
          // BPE-ish pre-tokenization: letter runs, digit runs, and single
          // punctuation marks each count as a subtoken (the usual byte-pair
          // pre-split shape)
          size(regexp_extract_all($"text", lit(s"[A-Za-z]+|[0-9]+|[^A-Za-z0-9${Tok.WsChars}]"), lit(0)))
            .as("n_subtokens"),
          length($"text").cast("long").as("n_chars"),
          expr("CAST(aggregate(transform(w, x -> length(x)), 0, (a, x) -> a + x) AS DOUBLE)")
            .divide(size($"w")).as("avg_token_len"),
          expr("CAST(size(array_distinct(w)) AS DOUBLE) / size(w)").as("ttr"))
        .orderBy($"doc_id")
    },

    // Heuristic quality score: stopword density, punctuation, length.
    "t02_text_quality" -> { (s, d) =>
      import s.implicits._
      Tables.documents(s, d)
        .withColumn("w", split(trim($"text"), Tok.Ws))
        .withColumn("n_tokens", size($"w"))
        .withColumn("punct_cnt", punctCol($"text"))
        .withColumn("stop_cnt", hitsCol($"w", "en"))
        .select(
          $"doc_id", $"n_tokens", $"punct_cnt", $"stop_cnt",
          ($"stop_cnt".cast("double") / $"n_tokens").as("stop_ratio"),
          ($"punct_cnt".cast("double") / length($"text")).as("punct_ratio"),
          qualityCol($"text", $"n_tokens", $"punct_cnt", $"stop_cnt").as("quality"))
        .orderBy($"doc_id")
    },

    // N-gram-profile language ID: count marker-stopword hits per language,
    // argmax with a fixed preference order for determinism.
    "t03_text_langid" -> { (s, d) =>
      import s.implicits._
      val df = Tables.documents(s, d)
        .withColumn("w", split(trim($"text"), Tok.Ws))
      val withHits = Stop.keys.toSeq.sorted.foldLeft(df) { (acc, lang) =>
        acc.withColumn(s"${lang}_hits", hitsCol($"w", lang))
      }
      withHits.select(
          $"doc_id", $"lang",
          $"en_hits", $"de_hits", $"es_hits", $"fr_hits",
          predictedCol($"en_hits", $"de_hits", $"es_hits", $"fr_hits").as("predicted"))
        .orderBy($"doc_id")
    },

    // Fingerprints: whole-document md5 prefix plus the minimum 5-gram
    // shingle hash (a winnowing-style rolling fingerprint).
    "t04_doc_fingerprint" -> { (s, d) =>
      import s.implicits._
      Tables.documents(s, d)
        .withColumn("w", split(trim($"text"), Tok.Ws))
        .filter(size($"w") >= 5)
        .withColumn("sh", expr(
          """transform(sequence(1, size(w) - 4),
            |  i -> concat_ws(' ', element_at(w, i), element_at(w, i + 1),
            |    element_at(w, i + 2), element_at(w, i + 3), element_at(w, i + 4)))""".stripMargin))
        .select(
          $"doc_id",
          substring(md5($"text".cast("binary")), 1, 16).as("fp"),
          expr("array_min(transform(sh, x -> substr(md5(CAST(x AS BINARY)), 1, 16)))")
            .as("min_shingle_fp"))
        .orderBy($"doc_id")
    },

    // Gopher-style repetition filters: top-unigram mass fraction (needs
    // the per-(doc, word) count — one shuffle, map-side combined) and
    // duplicate-trigram fraction (pure per-row array algebra — no shuffle
    // at all). Integer counts + one final division keep both metrics
    // bit-identical across engines.
    "t06_repetition_quality" -> { (s, d) =>
      import s.implicits._
      val w = Tables.documents(s, d)
        .withColumn("w", split(trim($"text"), Tok.Ws))
      val ustat = w.select($"doc_id", explode($"w").as("word"))
        .groupBy($"doc_id", $"word").agg(count(lit(1)).as("c"))
        .groupBy($"doc_id")
        .agg(sum($"c").as("n_words"), max($"c").as("top_word"))
      val tri = w.select($"doc_id",
        when(size($"w") >= 3, expr(
          """transform(sequence(1, size(w) - 2),
            |  i -> concat_ws(' ', element_at(w, i), element_at(w, i + 1),
            |    element_at(w, i + 2)))""".stripMargin))
          .otherwise(array().cast("array<string>")).as("t"))
      ustat.join(tri, "doc_id")
        .select($"doc_id", $"n_words", $"top_word",
          round($"top_word".cast("double") / $"n_words", 6).as("top_unigram_frac"),
          size($"t").cast("long").as("n_trigrams"),
          when(size($"t") === 0, lit(null).cast("double"))
            .otherwise(round(
              lit(1.0) - size(array_distinct($"t")).cast("double") / size($"t"), 6))
            .as("dup_trigram_frac"))
        .orderBy($"doc_id")
    },

    // Vocabulary induction + out-of-vocabulary census: the top-500
    // corpus-frequency vocabulary (deterministic tie-break on the token),
    // then per-source token counts split in-vocab vs OOV. Scale shape:
    // the vocab is a wordcount (map-side combinable partial counts — the
    // shuffle moves (token, count), never text) topped by
    // TakeOrderedAndProject per-partition heaps; the census side joins
    // the BROADCAST 500-row vocab, so the corpus pass is narrow. This is
    // how a fixed-size tokenizer vocab is derived from and applied to
    // 100 TB without ever shuffling the token stream twice.
    "t07_oov_rate" -> { (s, d) =>
      import s.implicits._
      val toks = Tables.documents(s, d)
        .select($"source", explode(split(trim($"text"), Tok.Ws)).as("tok"))
      val vocab = toks.groupBy($"tok").agg(count(lit(1)).as("cnt"))
        .orderBy($"cnt".desc, $"tok").limit(500)
        .select($"tok".as("vtok"))
      toks.join(broadcast(vocab), $"tok" === $"vtok", "left")
        .groupBy($"source")
        .agg(count(lit(1)).as("n_tokens"),
          count(when($"vtok".isNull, 1)).as("n_oov"))
        .withColumn("oov_rate",
          round($"n_oov".cast("double") / $"n_tokens".cast("double"), 6))
        .orderBy($"source")
    },

    // Statistical fluency scoring against the corpus's own bigram model —
    // the LM-style quality gate of a data pipeline, made engine-exact:
    // per doc, the mean FLOOR(log2(document frequency)) of its distinct
    // word bigrams. A doc of corpus-common bigrams scores high; rare or
    // garbled text scores near 0. floor(log2(df)) is computed as
    // length(df in binary) - 1 — pure integer arithmetic, so both
    // engines sum exact integers and divide once (no float log, whose
    // last-bit differences would break the hash gate).
    //
    // Scale shape: bigrams come from the codegen'd ShingleArr (narrow),
    // the df table is a map-side-combinable wordcount keyed on the
    // bigram, and the score join is bigram-keyed equi-join → per-doc
    // agg. At 100 TB you'd broadcast a top-K df table instead of
    // joining the full one (the t07 vocab pattern) and score against
    // that — same plan with the big side never shuffled.
    "t08_bigram_fluency" -> { (s, d) =>
      import s.implicits._
      val sh2 = Tables.documents(s, d)
        .select($"doc_id",
          explode(graft.functions.ShingleArr(split(trim($"text"), Tok.Ws), 2)).as("s"))
      val df2 = sh2.groupBy($"s").agg(count(lit(1)).as("df"))
      sh2.join(df2, "s")
        .withColumn("lg", (length(conv($"df", 10, 2)) - 1).cast("long"))
        .groupBy($"doc_id")
        .agg(count(lit(1)).as("n_bigrams"),
          round(sum($"lg").cast("double") / count(lit(1)).cast("double"), 6)
            .as("mean_log2_df"))
        .orderBy($"doc_id")
    },

    // Log-bucketed document-length histogram per source — the length
    // DISTRIBUTION view every corpus dashboard has (truncation shows up
    // as a hole in the high buckets; boilerplate as a spike in one
    // bucket). Bucket = floor(log2(n_tokens)) via t08's binary-length
    // trick, so the whole histogram is exact integer arithmetic — no
    // float log whose last bit could differ between engines. One scan,
    // map-side-combinable (source, bucket) partials; at 100 TB this is
    // a free rider on any other per-doc pass.
    "t11_length_histogram" -> { (s, d) =>
      import s.implicits._
      Tables.documents(s, d)
        .select($"source", size(split(trim($"text"), Tok.Ws)).cast("long").as("n"))
        .withColumn("bucket", (length(conv($"n", 10, 2)) - 1).cast("long"))
        .groupBy($"source", $"bucket")
        .agg(count(lit(1)).as("n_docs"), sum($"n").as("n_tokens"),
          min($"n").as("min_tokens"), max($"n").as("max_tokens"))
        .orderBy($"source", $"bucket")
    },

    // Per-source lexical-diversity census — the corpus-health dashboard
    // numbers (Heaps-law style): total tokens, vocabulary size, hapax
    // legomena (words seen exactly once), type-token ratio and hapax
    // fraction. A boilerplate-flooded source shows a collapsing TTR; an
    // OCR-noisy one shows a hapax fraction spiking toward 1 — the two
    // cheap tripwires a data-quality monitor watches per ingest. All
    // aggregates are exact integers until the two final divisions
    // (engine-exact); the shuffle is the (source, word) wordcount —
    // map-side combinable, keyed on the word like t07's vocab pass, so
    // corpus text never moves and per-key width is bounded by the
    // source count.
    "t10_lexical_census" -> { (s, d) =>
      import s.implicits._
      val c = Tables.documents(s, d)
        .select($"source", explode(split(trim($"text"), Tok.Ws)).as("wd"))
        .groupBy($"source", $"wd").agg(count(lit(1)).as("f"))
      c.groupBy($"source")
        .agg(sum($"f").as("n_tokens"), count(lit(1)).as("vocab"),
          sum(when($"f" === 1, 1L).otherwise(0L)).as("hapax"))
        .select($"source", $"n_tokens", $"vocab", $"hapax",
          round($"vocab".cast("double") / $"n_tokens".cast("double"), 6).as("ttr"),
          round($"hapax".cast("double") / $"vocab".cast("double"), 6).as("hapax_frac"))
        .orderBy($"source")
    },

    // Source-drift census — the domain-shift detector run before mixing
    // corpora (is src X distributed like the rest of the pool?): per
    // source, its tokens' add-one-smoothed unigram cost in QUANTIZED
    // BITS (t15's integer bit-length trick) under the CORPUS-wide
    // distribution (cross_bits) and under the source's OWN distribution
    // (self_bits); drift = cross − self, the quantized-bits analog of
    // the KL divergence D(src ‖ corpus) — ~0 for in-distribution
    // sources, large for off-domain ones (the harness's non-English
    // sources surface immediately). Every term is an exact integer
    // (count × bit-length difference), so the per-source sums are
    // order-free and engine-exact; ONE final double division.
    // Scale shape: (source, word) wordcount partials (vocab-bounded),
    // corpus table derived from them by a second partial agg, the tiny
    // global stats row broadcast — the corpus never re-scans.
    "t19_source_drift" -> { (s, d) =>
      import s.implicits._
      val sc = SessionScope.cache(Tables.documents(s, d)
        .select($"source", explode(split(trim($"text"), Tok.Ws)).as("wd"))
        .groupBy($"source", $"wd").agg(count(lit(1)).as("c")))
      val cc = sc.groupBy($"wd").agg(sum($"c").as("cg"))
      val st = cc.agg(count(lit(1)).as("v"), sum($"cg").as("n"))
      val ss = sc.groupBy($"source")
        .agg(sum($"c").as("ns"), count(lit(1)).as("vs"))
      def bitlen(c: Column): Column = length(conv(c, 10, 2)).cast("long")
      sc.join(cc, "wd").join(ss, "source").crossJoin(broadcast(st))
        .select($"source", $"c",
          (bitlen($"n" + $"v") - bitlen($"cg" + 1)).as("cross_b"),
          (bitlen($"ns" + $"vs") - bitlen($"c" + 1)).as("self_b"))
        .groupBy($"source")
        .agg(sum($"c").as("n_tokens"),
          sum($"c" * $"cross_b").as("cross_bits"),
          sum($"c" * $"self_b").as("self_bits"),
          sum($"c" * ($"cross_b" - $"self_b")).as("drift_bits"))
        .select($"source", $"n_tokens", $"cross_bits", $"self_bits",
          $"drift_bits",
          round($"drift_bits".cast("double") / $"n_tokens".cast("double"), 6)
            .as("drift_per_token"))
        .orderBy($"source")
    },

    // Zipf-slope census per source: the least-squares slope (and r²) of
    // log2(frequency) against log2(rank) over the source's vocabulary —
    // the distribution-fit corpus diagnostic (natural text runs slope
    // ≈ −1; a flat slope flags synthetic/boilerplate floods, a cliff
    // flags truncated vocab). Determinism: both logs are the INTEGER
    // bit-length quantization (t08's trick), the regression runs on
    // q40's exact-moment pattern — six integer sums, then one identical
    // double formula — so the fit is engine- and partition-order-exact.
    // Scale shape: (source, word) wordcount partials (vocab-bounded,
    // t10's exchange), a per-source rank window over the vocab rows
    // only (never token instances), and integer moment partials.
    "t18_zipf_slope" -> { (s, d) =>
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val wc = Tables.documents(s, d)
        .select($"source", explode(split(trim($"text"), Tok.Ws)).as("wd"))
        .groupBy($"source", $"wd").agg(count(lit(1)).as("c"))
      val xy = wc
        .withColumn("rnk", row_number().over(
          Window.partitionBy($"source").orderBy($"c".desc, $"wd")))
        .select($"source",
          (length(conv($"rnk", 10, 2)) - 1).cast("long").as("x"),
          (length(conv($"c", 10, 2)) - 1).cast("long").as("y"))
      val m = xy.groupBy($"source").agg(count(lit(1)).as("n"),
        sum($"x").as("sx"), sum($"y").as("sy"),
        sum($"x" * $"x").as("sxx"), sum($"y" * $"y").as("syy"),
        sum($"x" * $"y").as("sxy"))
      m.select($"source", $"n".as("n_types"),
          when($"n" * $"sxx" - $"sx" * $"sx" > 0,
            round(($"n" * $"sxy" - $"sx" * $"sy").cast("double")
              / ($"n" * $"sxx" - $"sx" * $"sx").cast("double"), 6))
            .as("slope"),
          when(($"n" * $"sxx" - $"sx" * $"sx") * ($"n" * $"syy" - $"sy" * $"sy") > 0,
            round((($"n" * $"sxy" - $"sx" * $"sy") * ($"n" * $"sxy" - $"sx" * $"sy"))
              .cast("double")
              / (($"n" * $"sxx" - $"sx" * $"sx") * ($"n" * $"syy" - $"sy" * $"sy"))
                .cast("double"), 6))
            .as("r2"))
        .orderBy($"source")
    },

    // Count-min sketch heavy-hitter census — the FREQUENCY member of the
    // mergeable-sketch trio (q20 = HLL distinct, q48 = GK quantile, t20 =
    // CMS frequency): a depth-4 × width-16 counter grid built from
    // md5-slice hashes, probed for the exact top-10 words; estimate =
    // min over the 4 rows, overcount = estimate − exact (CMS never
    // undercounts — the one-sided error is part of the hashed output, so
    // a broken min or a row/col mixup hash-mismatches). Width 16 is the
    // DEMO width chosen so the harness vocab actually collides and the
    // min-over-depth logic is exercised (at 31 vocab words, W=256 is
    // collision-free and the estimate column would prove nothing);
    // production width is 2^14+ — same plan, still 4 bounded rows.
    // Determinism: every counter is an exact integer sum; hashes are
    // 28-bit md5 hex slices (non-overlapping 7-char windows per row), so
    // both engines compute identical grids.
    // Scale shape: tokens fold to vocab-bounded (word, cnt) partials
    // FIRST (t10's exchange), then 4 sketch rows per word — the (r, c)
    // exchange has ≤ 64 groups and combines almost entirely map-side;
    // sketch + probes are O(1)-sized and broadcast. This is exactly why
    // CMS is the production heavy-hitter operator: per-executor state is
    // a 4×W grid regardless of corpus size, and grids MERGE by addition.
    "t20_countmin_heavyhitters" -> { (s, d) =>
      import s.implicits._
      val cmsW = 16
      val wc = SessionScope.cache(Tables.documents(s, d)
        .select(explode(split(trim($"text"), Tok.Ws)).as("word"))
        .groupBy($"word").agg(count(lit(1)).as("cnt")))
      // row-r column index: 28-bit slice of md5(word), rows use disjoint
      // hex windows → 4 independent-enough hash functions, engine-exact
      def colR(r: Int): Column =
        conv(substring(md5($"word".cast("binary")), 1 + 7 * r, 7), 16, 10)
          .cast("long") % cmsW
      val hashed = wc.select($"word", $"cnt",
        posexplode(array((0 until 4).map(colR): _*)).as(Seq("r", "c")))
      val sketch = hashed.groupBy($"r", $"c").agg(sum($"cnt").as("v"))
      val probes = wc.orderBy($"cnt".desc, $"word").limit(10)
      probes.select($"word", $"cnt",
          posexplode(array((0 until 4).map(colR): _*)).as(Seq("r", "c")))
        .join(broadcast(sketch), Seq("r", "c"))
        .groupBy($"word", $"cnt").agg(min($"v").as("cms_estimate"))
        .select($"word", $"cnt".as("n_exact"), $"cms_estimate",
          ($"cms_estimate" - $"cnt").as("overcount"))
        .orderBy($"n_exact".desc, $"word")
    }
  )

  val oracle: Map[String, String] = Map(
    // exact integer count × bit-length terms; one final double division
    "t19_source_drift" ->
      raw"""WITH w AS (SELECT source,
           |    unnest(string_split_regex(trim(text), '[ \t\n\x0B\f\r]+')) AS wd
           |  FROM documents),
           |sc AS (SELECT source, wd, COUNT(*) AS c FROM w GROUP BY 1, 2),
           |cc AS (SELECT wd, CAST(SUM(c) AS BIGINT) AS cg FROM sc GROUP BY wd),
           |st AS (SELECT CAST(COUNT(*) AS BIGINT) AS v, CAST(SUM(cg) AS BIGINT) AS n FROM cc),
           |ss AS (SELECT source, CAST(SUM(c) AS BIGINT) AS ns,
           |    CAST(COUNT(*) AS BIGINT) AS vs FROM sc GROUP BY source),
           |terms AS (SELECT sc.source, sc.c,
           |    length(bin(n + v)) - length(bin(cg + 1)) AS cross_b,
           |    length(bin(ns + vs)) - length(bin(sc.c + 1)) AS self_b
           |  FROM sc JOIN cc USING (wd) JOIN ss USING (source) CROSS JOIN st)
           |SELECT source, CAST(SUM(c) AS BIGINT) AS n_tokens,
           |  CAST(SUM(c * cross_b) AS BIGINT) AS cross_bits,
           |  CAST(SUM(c * self_b) AS BIGINT) AS self_bits,
           |  CAST(SUM(c * (cross_b - self_b)) AS BIGINT) AS drift_bits,
           |  round(CAST(SUM(c * (cross_b - self_b)) AS DOUBLE) / SUM(c), 6)
           |    AS drift_per_token
           |FROM terms GROUP BY source ORDER BY source""".stripMargin,

    // integer bit-length logs + exact integer moments, one final double
    // formula — identical in both engines; degenerate denominators → NULL
    "t18_zipf_slope" ->
      raw"""WITH w AS (SELECT source,
           |    unnest(string_split_regex(trim(text), '[ \t\n\x0B\f\r]+')) AS wd
           |  FROM documents),
           |wc AS (SELECT source, wd, COUNT(*) AS c FROM w GROUP BY 1, 2),
           |r AS (SELECT source, c,
           |    ROW_NUMBER() OVER (PARTITION BY source ORDER BY c DESC, wd) AS rnk
           |  FROM wc),
           |xy AS (SELECT source, CAST(length(bin(rnk)) - 1 AS BIGINT) AS x,
           |    CAST(length(bin(c)) - 1 AS BIGINT) AS y FROM r),
           |m AS (SELECT source, COUNT(*) AS n, SUM(x) AS sx, SUM(y) AS sy,
           |    SUM(x*x) AS sxx, SUM(y*y) AS syy, SUM(x*y) AS sxy
           |  FROM xy GROUP BY source)
           |SELECT source, CAST(n AS BIGINT) AS n_types,
           |  CASE WHEN n*sxx - sx*sx > 0 THEN
           |    round(CAST(n*sxy - sx*sy AS DOUBLE) / CAST(n*sxx - sx*sx AS DOUBLE), 6)
           |  END AS slope,
           |  CASE WHEN (n*sxx - sx*sx) * (n*syy - sy*sy) > 0 THEN
           |    round(CAST((n*sxy - sx*sy) * (n*sxy - sx*sy) AS DOUBLE)
           |      / CAST((n*sxx - sx*sx) * (n*syy - sy*sy) AS DOUBLE), 6)
           |  END AS r2
           |FROM m ORDER BY source""".stripMargin,

    "t08_bigram_fluency" ->
      raw"""WITH words AS (SELECT doc_id, string_split_regex(trim(text), '[ \t\n\x0B\f\r]+') AS w FROM documents),
           |sh AS (SELECT DISTINCT doc_id,
           |    unnest(list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i+1])) AS s
           |  FROM words WHERE len(w) >= 2),
           |df AS (SELECT s, COUNT(*) AS df FROM sh GROUP BY s)
           |SELECT doc_id, COUNT(*) AS n_bigrams,
           |  round(CAST(SUM(length(bin(df)) - 1) AS DOUBLE) / COUNT(*), 6) AS mean_log2_df
           |FROM sh JOIN df USING (s)
           |GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "t11_length_histogram" ->
      raw"""WITH t AS (SELECT source,
           |    CAST(len(string_split_regex(trim(text), '[ \t\n\x0B\f\r]+')) AS BIGINT) AS n
           |  FROM documents)
           |SELECT source, CAST(length(bin(n)) - 1 AS BIGINT) AS bucket,
           |  COUNT(*) AS n_docs, CAST(SUM(n) AS BIGINT) AS n_tokens,
           |  min(n) AS min_tokens, max(n) AS max_tokens
           |FROM t GROUP BY source, bucket ORDER BY source, bucket""".stripMargin,

    "t10_lexical_census" ->
      raw"""WITH w AS (SELECT source,
           |    unnest(string_split_regex(trim(text), '[ \t\n\x0B\f\r]+')) AS wd
           |  FROM documents),
           |c AS (SELECT source, wd, COUNT(*) AS f FROM w GROUP BY source, wd)
           |SELECT source, CAST(SUM(f) AS BIGINT) AS n_tokens,
           |  COUNT(*) AS vocab,
           |  CAST(SUM(CASE WHEN f = 1 THEN 1 ELSE 0 END) AS BIGINT) AS hapax,
           |  round(CAST(COUNT(*) AS DOUBLE) / CAST(SUM(f) AS DOUBLE), 6) AS ttr,
           |  round(CAST(SUM(CASE WHEN f = 1 THEN 1 ELSE 0 END) AS DOUBLE)
           |    / CAST(COUNT(*) AS DOUBLE), 6) AS hapax_frac
           |FROM c GROUP BY source ORDER BY source""".stripMargin,

    "t07_oov_rate" ->
      raw"""WITH toks AS (SELECT source,
           |    unnest(string_split_regex(trim(text), '[ \t\n\x0B\f\r]+')) AS tok
           |  FROM documents),
           |vocab AS (SELECT tok FROM (
           |    SELECT tok, COUNT(*) AS cnt FROM toks GROUP BY tok
           |    ORDER BY cnt DESC, tok LIMIT 500)),
           |j AS (SELECT source, (tok IN (SELECT tok FROM vocab)) AS inv FROM toks)
           |SELECT source, COUNT(*) AS n_tokens,
           |  COUNT(*) FILTER (NOT inv) AS n_oov,
           |  round(CAST(COUNT(*) FILTER (NOT inv) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6) AS oov_rate
           |FROM j GROUP BY source ORDER BY source""".stripMargin,

    "t09_kmv_distinct" ->
      raw"""WITH w AS (SELECT source, string_split_regex(trim(text), '[ \t\n\x0B\f\r]+') AS w FROM documents),
           |sg AS (SELECT source,
           |    unnest(list_transform(range(1, len(w) - 1),
           |      i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS sg
           |  FROM w WHERE len(w) >= 3),
           |dm AS (SELECT DISTINCT source, ('0x' || substr(md5(sg), 1, 15))::BIGINT AS m FROM sg),
           |dh AS (SELECT DISTINCT source, m >> 32 AS h FROM dm),
           |r AS (SELECT source, h, ROW_NUMBER() OVER (PARTITION BY source ORDER BY h) AS rn FROM dh),
           |kth AS (SELECT source, MAX(h) AS hk, COUNT(*) AS n_obs FROM r WHERE rn <= 64 GROUP BY source),
           |ex AS (SELECT source, COUNT(*) AS n_exact FROM dm GROUP BY source),
           |j AS (SELECT ex.source, n_exact, n_obs,
           |    CASE WHEN n_obs < 64 THEN CAST(n_obs AS DOUBLE)
           |         ELSE 63.0 * 268435456.0 / CAST(hk AS DOUBLE) END AS est
           |  FROM ex JOIN kth ON ex.source = kth.source)
           |SELECT source, n_exact, n_obs, round(est, 4) AS kmv_estimate,
           |  round(abs(est - CAST(n_exact AS DOUBLE)) / CAST(n_exact AS DOUBLE), 6) AS rel_error
           |FROM j ORDER BY source""".stripMargin,

    // same md5-derived integers as t09, so the sketch merge, both
    // estimators and the inclusion-exclusion intersection replay exactly;
    // the exact pairwise overlap joins the 60-bit hash sets
    "t21_kmv_overlap" ->
      raw"""WITH w AS (SELECT source, string_split_regex(trim(text), '[ \t\n\x0B\f\r]+') AS w FROM documents),
           |sg AS (SELECT source,
           |    unnest(list_transform(range(1, len(w) - 1),
           |      i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS sg
           |  FROM w WHERE len(w) >= 3),
           |dm AS (SELECT DISTINCT source, ('0x' || substr(md5(sg), 1, 15))::BIGINT AS m FROM sg),
           |dh AS (SELECT DISTINCT source, m >> 32 AS h FROM dm),
           |r AS (SELECT source, h, ROW_NUMBER() OVER (PARTITION BY source ORDER BY h) AS rn FROM dh),
           |bk AS (SELECT source, h FROM r WHERE rn <= 64),
           |est AS (SELECT source,
           |    CASE WHEN COUNT(*) < 64 THEN CAST(COUNT(*) AS DOUBLE)
           |         ELSE 63.0 * 268435456.0 / CAST(MAX(h) AS DOUBLE) END AS est
           |  FROM bk GROUP BY source),
           |pairs AS (SELECT a.source AS sa, b.source AS sb, a.est AS est_a, b.est AS est_b
           |  FROM est a JOIN est b ON a.source < b.source),
           |pu AS (SELECT DISTINCT sa, sb, h FROM (
           |  SELECT p.sa, p.sb, k.h FROM pairs p JOIN bk k ON k.source = p.sa
           |  UNION ALL
           |  SELECT p.sa, p.sb, k.h FROM pairs p JOIN bk k ON k.source = p.sb)),
           |ru AS (SELECT sa, sb, h,
           |    ROW_NUMBER() OVER (PARTITION BY sa, sb ORDER BY h) AS rn FROM pu),
           |ku AS (SELECT sa, sb,
           |    CASE WHEN COUNT(*) < 64 THEN CAST(COUNT(*) AS DOUBLE)
           |         ELSE 63.0 * 268435456.0 / CAST(MAX(h) AS DOUBLE) END AS est_u
           |  FROM ru WHERE rn <= 64 GROUP BY sa, sb),
           |ei AS (SELECT x.source AS sa, y.source AS sb, COUNT(*) AS exact_inter
           |  FROM dm x JOIN dm y ON x.m = y.m AND x.source < y.source GROUP BY 1, 2),
           |f AS (SELECT p.sa, p.sb, p.est_a, p.est_b, k.est_u,
           |    GREATEST(p.est_a + p.est_b - k.est_u, 0.0) AS est_i,
           |    CAST(COALESCE(e.exact_inter, 0) AS BIGINT) AS exact_inter
           |  FROM pairs p JOIN ku k ON p.sa = k.sa AND p.sb = k.sb
           |  LEFT JOIN ei e ON p.sa = e.sa AND p.sb = e.sb)
           |SELECT sa, sb, round(est_a, 4) AS est_a, round(est_b, 4) AS est_b,
           |  round(est_u, 4) AS est_union, round(est_i, 4) AS est_inter, exact_inter,
           |  round(abs(est_i - CAST(exact_inter AS DOUBLE))
           |    / GREATEST(CAST(exact_inter AS DOUBLE), 1.0), 6) AS rel_error
           |FROM f ORDER BY sa, sb""".stripMargin,

    // the whole KN ladder replays in integers: `//` here == `div` there
    // on positive BIGINTs, GREATEST floors match, bin() bit lengths
    // match conv(x,10,2); nll SUM cast from HUGEINT back to BIGINT
    // the identical integer arithmetic: bitlen via length(bin(x)),
    // score 0 rows excluded BEFORE ranking on both sides
    "t24_keyword_extraction" ->
      raw"""WITH w AS (SELECT doc_id,
           |    unnest(string_split_regex(trim(text), '[ \t\n\x0B\f\r]+')) AS word
           |  FROM documents),
           |tf AS (SELECT doc_id, word, COUNT(*) AS tf FROM w GROUP BY 1, 2),
           |df AS (SELECT word, COUNT(*) AS df FROM tf GROUP BY 1),
           |n AS (SELECT COUNT(*) AS n_docs FROM documents),
           |sc AS (SELECT doc_id, word, tf, df,
           |    tf * (length(bin(n_docs)) - length(bin(df))) AS score
           |  FROM tf JOIN df USING (word) CROSS JOIN n),
           |r AS (SELECT doc_id, word, tf, df, score,
           |    CAST(ROW_NUMBER() OVER (PARTITION BY doc_id
           |      ORDER BY score DESC, word) AS INTEGER) AS rank
           |  FROM sc WHERE score > 0)
           |SELECT doc_id, rank, word, CAST(tf AS BIGINT) AS tf,
           |  CAST(df AS BIGINT) AS df, CAST(score AS BIGINT) AS score
           |FROM r WHERE rank <= 5 ORDER BY doc_id, rank""".stripMargin,

    // DuckDB 1-based inclusive list slicing toks[a:b] mirrors Spark's
    // slice(toks, a, len) with b = a + len - 1; the nc arithmetic is the
    // identical GREATEST-guarded non-negative floor division
    "t23_chunk_windows" ->
      raw"""WITH w AS (SELECT doc_id,
           |    string_split_regex(trim(text), '[ \t\n\x0B\f\r]+') AS toks
           |  FROM documents),
           |n AS (SELECT doc_id, toks, CAST(len(toks) AS BIGINT) AS n,
           |    CAST(1 + (GREATEST(n - 64, 0) + 47) // 48 AS INTEGER) AS nc
           |  FROM w),
           |c AS (SELECT doc_id, n, nc, i,
           |    ('0x' || substr(md5(array_to_string(
           |      toks[CAST(i * 48 + 1 AS INT) :
           |           CAST(i * 48 + LEAST(64, n - i * 48) AS INT)], ' ')),
           |      1, 10))::BIGINT AS h
           |  FROM n, UNNEST(generate_series(0, CAST(nc - 1 AS BIGINT))) AS t(i))
           |SELECT doc_id, MAX(n) AS n_toks, COUNT(*) AS n_chunks,
           |  CAST(LEAST(64, MAX(n) - (MAX(nc) - 1) * 48) AS BIGINT) AS tail_len,
           |  CAST(SUM(h * (i + 1)) AS BIGINT) AS chunk_checksum
           |FROM c GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "t22_kn_trigram_bits" ->
      raw"""WITH dv AS (SELECT doc_id, w,
           |    CASE WHEN u < 0.8 THEN 'train' WHEN u < 0.9 THEN 'val' ELSE 'test' END AS split
           |  FROM (SELECT doc_id, string_split_regex(trim(text), '[ \t\n\x0B\f\r]+') AS w,
           |      ('0x' || substr(md5(doc_id::VARCHAR), 1, 7))::BIGINT / 268435456.0 AS u
           |    FROM documents) WHERE len(w) >= 3),
           |tr AS (SELECT w FROM dv WHERE split = 'train'),
           |t3 AS (SELECT z.w1 AS w1, z.w2 AS w2, z.w3 AS w3, CAST(COUNT(*) AS BIGINT) AS c123 FROM (
           |    SELECT unnest(list_transform(range(1, len(w)-1),
           |      i -> {'w1': w[i], 'w2': w[i+1], 'w3': w[i+2]})) AS z FROM tr) GROUP BY 1,2,3),
           |ctx AS (SELECT w1, w2, CAST(SUM(c123) AS BIGINT) AS ctx_tot,
           |    CAST(COUNT(*) AS BIGINT) AS ctx_types FROM t3 GROUP BY 1,2),
           |n23 AS (SELECT w2, w3, CAST(COUNT(*) AS BIGINT) AS n1p_23 FROM t3 GROUP BY 1,2),
           |n2 AS (SELECT w2, CAST(SUM(n1p_23) AS BIGINT) AS n2_tot,
           |    CAST(COUNT(*) AS BIGINT) AS n2_types FROM n23 GROUP BY 1),
           |bt AS (SELECT DISTINCT z.b1 AS b1, z.b2 AS b2 FROM (
           |    SELECT unnest(list_transform(range(1, len(w)),
           |      i -> {'b1': w[i], 'b2': w[i+1]})) AS z FROM tr)),
           |n3 AS (SELECT b2 AS w3, CAST(COUNT(*) AS BIGINT) AS n1p_3 FROM bt GROUP BY 1),
           |nall AS (SELECT CAST(COUNT(*) AS BIGINT) AS n1p_all FROM bt),
           |db AS (SELECT doc_id, split, z.w1 AS w1, z.w2 AS w2, z.w3 AS w3 FROM (
           |    SELECT doc_id, split, unnest(list_transform(range(1, len(w)-1),
           |      i -> {'w1': w[i], 'w2': w[i+1], 'w3': w[i+2]})) AS z FROM dv)),
           |sc AS (SELECT doc_id, split, c123, ctx_tot, ctx_types, n1p_23, n2_tot, n2_types,
           |    GREATEST((1000000 * coalesce(n1p_3, 0)) // n1p_all, 1) AS pcont
           |  FROM db LEFT JOIN t3 USING (w1, w2, w3) LEFT JOIN ctx USING (w1, w2)
           |    LEFT JOIN n23 USING (w2, w3) LEFT JOIN n2 USING (w2)
           |    LEFT JOIN n3 USING (w3) CROSS JOIN nall),
           |lo AS (SELECT doc_id, split, c123, ctx_tot, ctx_types,
           |    CASE WHEN coalesce(n2_tot, 0) > 0
           |      THEN GREATEST((1000000 * GREATEST(4 * coalesce(n1p_23, 0) - 3, 0)
           |           + 3 * n2_types * pcont) // (4 * n2_tot), 1)
           |      ELSE pcont END AS plow FROM sc),
           |pf AS (SELECT doc_id, split,
           |    CASE WHEN coalesce(ctx_tot, 0) > 0
           |      THEN GREATEST((1000000 * GREATEST(4 * coalesce(c123, 0) - 3, 0)
           |           + 3 * ctx_types * plow) // (4 * ctx_tot), 1)
           |      ELSE plow END AS p FROM lo),
           |agg AS (SELECT doc_id, split, COUNT(*) AS n_trigrams,
           |    CAST(SUM(CAST(length(bin(1000000)) - length(bin(p)) AS BIGINT)) AS BIGINT) AS nll_bits
           |  FROM pf GROUP BY 1, 2)
           |SELECT doc_id, split, n_trigrams, nll_bits,
           |  round(CAST(nll_bits AS DOUBLE) / n_trigrams, 6) AS bits_per_trigram,
           |  CASE WHEN nll_bits <= n_trigrams * 4 THEN 'keep' ELSE 'drop' END AS label
           |FROM agg ORDER BY doc_id""".stripMargin,

    "t12_bpe_merge_train" ->
      raw"""WITH w0 AS (
           |  SELECT regexp_replace(word, '(.)', ' \1 ', 'g') AS seq
           |  FROM (SELECT unnest(string_split_regex(trim(text), '[ \t\n\x0B\f\r]+')) AS word FROM documents)
           |  WHERE length(word) >= 2),
           |c1 AS (SELECT pair, COUNT(*) AS cnt FROM (
           |    SELECT unnest(list_transform(range(1, len(s)), i -> s[i] || ' ' || s[i+1])) AS pair
           |    FROM (SELECT string_split(trim(seq), '  ') AS s FROM w0) WHERE len(s) >= 2) GROUP BY pair),
           |t1 AS (SELECT pair, cnt, CAST(row_number() OVER (ORDER BY cnt DESC, pair) AS INTEGER) AS rnk
           |       FROM c1 ORDER BY cnt DESC, pair LIMIT 5),
           |w1 AS (SELECT replace(seq,
           |         ' ' || replace((SELECT pair FROM t1 WHERE rnk = 1), ' ', '  ') || ' ',
           |         ' ' || replace((SELECT pair FROM t1 WHERE rnk = 1), ' ', '') || ' ') AS seq FROM w0),
           |c2 AS (SELECT pair, COUNT(*) AS cnt FROM (
           |    SELECT unnest(list_transform(range(1, len(s)), i -> s[i] || ' ' || s[i+1])) AS pair
           |    FROM (SELECT string_split(trim(seq), '  ') AS s FROM w1) WHERE len(s) >= 2) GROUP BY pair),
           |t2 AS (SELECT pair, cnt, CAST(row_number() OVER (ORDER BY cnt DESC, pair) AS INTEGER) AS rnk
           |       FROM c2 ORDER BY cnt DESC, pair LIMIT 5),
           |w2 AS (SELECT replace(seq,
           |         ' ' || replace((SELECT pair FROM t2 WHERE rnk = 1), ' ', '  ') || ' ',
           |         ' ' || replace((SELECT pair FROM t2 WHERE rnk = 1), ' ', '') || ' ') AS seq FROM w1),
           |c3 AS (SELECT pair, COUNT(*) AS cnt FROM (
           |    SELECT unnest(list_transform(range(1, len(s)), i -> s[i] || ' ' || s[i+1])) AS pair
           |    FROM (SELECT string_split(trim(seq), '  ') AS s FROM w2) WHERE len(s) >= 2) GROUP BY pair),
           |t3 AS (SELECT pair, cnt, CAST(row_number() OVER (ORDER BY cnt DESC, pair) AS INTEGER) AS rnk
           |       FROM c3 ORDER BY cnt DESC, pair LIMIT 5),
           |u AS (SELECT 1 AS round, * FROM t1 UNION ALL SELECT 2, * FROM t2 UNION ALL SELECT 3, * FROM t3)
           |SELECT round, rnk, pair, cnt, replace(pair, ' ', '') AS merged
           |FROM u ORDER BY round, rnk""".stripMargin,

    // t12's training CTE chain reduced to winners, then the encode replay
    // over position-indexed words; checksum = 40-bit md5 prefix of
    // "idx:encoded", summed exactly (HUGEINT) and cast back
    "t14_bpe_encode" -> {
      def cnt(src: String, out: String) =
        raw"""$out AS (SELECT pair, COUNT(*) AS cnt FROM (
             |    SELECT unnest(list_transform(range(1, len(s)), i -> s[i] || ' ' || s[i+1])) AS pair
             |    FROM (SELECT string_split(trim(seq), '  ') AS s FROM $src) WHERE len(s) >= 2) GROUP BY pair)""".stripMargin
      def win(src: String, out: String) =
        s"$out AS (SELECT pair FROM $src ORDER BY cnt DESC, pair LIMIT 1)"
      def mrg(src: String, t: String, out: String, cols: String) =
        raw"""$out AS (SELECT $cols replace(seq,
             |         ' ' || replace((SELECT pair FROM $t), ' ', '  ') || ' ',
             |         ' ' || replace((SELECT pair FROM $t), ' ', '') || ' ') AS seq FROM $src)""".stripMargin
      raw"""WITH w0 AS (
           |  SELECT regexp_replace(word, '(.)', ' \1 ', 'g') AS seq
           |  FROM (SELECT unnest(string_split_regex(trim(text), '[ \t\n\x0B\f\r]+')) AS word FROM documents)
           |  WHERE length(word) >= 2),
           |${cnt("w0", "c1")},
           |${win("c1", "t1")},
           |${mrg("w0", "t1", "w1", "")},
           |${cnt("w1", "c2")},
           |${win("c2", "t2")},
           |${mrg("w1", "t2", "w2", "")},
           |${cnt("w2", "c3")},
           |${win("c3", "t3")},
           |dw AS (SELECT doc_id, unnest(list_transform(range(len(w)), i -> {'idx': i, 'word': w[i+1]})) AS z
           |  FROM (SELECT doc_id, string_split_regex(trim(text), '[ \t\n\x0B\f\r]+') AS w FROM documents)),
           |e0 AS (SELECT doc_id, z.idx AS idx, z.word AS word,
           |    regexp_replace(z.word, '(.)', ' \1 ', 'g') AS seq FROM dw),
           |${mrg("e0", "t1", "e1", "doc_id, idx, word,")},
           |${mrg("e1", "t2", "e2", "doc_id, idx, word,")},
           |${mrg("e2", "t3", "e3", "doc_id, idx, word,")},
           |pw AS (SELECT doc_id,
           |    CAST(length(word) AS BIGINT) AS n_sym,
           |    CAST(len(string_split(trim(seq), '  ')) AS BIGINT) AS n_tok,
           |    ('0x' || substr(md5(idx::VARCHAR || ':' || replace(trim(seq), '  ', '|')), 1, 10))::BIGINT AS h
           |  FROM e3),
           |agg AS (SELECT doc_id, COUNT(*) AS n_words, CAST(SUM(n_sym) AS BIGINT) AS n_chars,
           |    CAST(SUM(n_tok) AS BIGINT) AS n_tokens, CAST(SUM(h) AS BIGINT) AS enc_checksum
           |  FROM pw GROUP BY doc_id)
           |SELECT doc_id, n_words, n_chars, n_tokens,
           |  round(CAST(n_chars AS DOUBLE) / CAST(n_tokens AS DOUBLE), 6) AS chars_per_token,
           |  enc_checksum
           |FROM agg ORDER BY doc_id""".stripMargin
    },

    // the identity IS the oracle: n_exact = n_words and dec_checksum
    // over the ORIGINAL words — DuckDB never sees the ids; Spark can
    // only reproduce these through a lossless encode→id→decode chain.
    // n_tokens replays the merge application (t14's CTEs), vocab_size
    // replays the vocab construction (distinct base symbols + merges
    // deduped by min round)
    "t25_bpe_roundtrip" -> {
      def cnt(src: String, out: String) =
        raw"""$out AS (SELECT pair, COUNT(*) AS cnt FROM (
             |    SELECT unnest(list_transform(range(1, len(s)), i -> s[i] || ' ' || s[i+1])) AS pair
             |    FROM (SELECT string_split(trim(seq), '  ') AS s FROM $src) WHERE len(s) >= 2) GROUP BY pair)""".stripMargin
      def win(src: String, out: String) =
        s"$out AS (SELECT pair FROM $src ORDER BY cnt DESC, pair LIMIT 1)"
      def mrg(src: String, t: String, out: String, cols: String) =
        raw"""$out AS (SELECT $cols replace(seq,
             |         ' ' || replace((SELECT pair FROM $t), ' ', '  ') || ' ',
             |         ' ' || replace((SELECT pair FROM $t), ' ', '') || ' ') AS seq FROM $src)""".stripMargin
      raw"""WITH w0 AS (
           |  SELECT regexp_replace(word, '(.)', ' \1 ', 'g') AS seq
           |  FROM (SELECT unnest(string_split_regex(trim(text), '[ \t\n\x0B\f\r]+')) AS word FROM documents)
           |  WHERE length(word) >= 2),
           |${cnt("w0", "c1")},
           |${win("c1", "t1")},
           |${mrg("w0", "t1", "w1", "")},
           |${cnt("w1", "c2")},
           |${win("c2", "t2")},
           |${mrg("w1", "t2", "w2", "")},
           |${cnt("w2", "c3")},
           |${win("c3", "t3")},
           |dw AS (SELECT doc_id, unnest(list_transform(range(len(w)), i -> {'idx': i, 'word': w[i+1]})) AS z
           |  FROM (SELECT doc_id, string_split_regex(trim(text), '[ \t\n\x0B\f\r]+') AS w FROM documents)),
           |e0 AS (SELECT doc_id, z.idx AS idx, z.word AS word,
           |    regexp_replace(z.word, '(.)', ' \1 ', 'g') AS seq FROM dw),
           |${mrg("e0", "t1", "e1", "doc_id, idx, word,")},
           |${mrg("e1", "t2", "e2", "doc_id, idx, word,")},
           |${mrg("e2", "t3", "e3", "doc_id, idx, word,")},
           |base AS (SELECT DISTINCT unnest(string_split(trim(seq), '  ')) AS tok FROM e0),
           |mrgtok AS (SELECT tok, MIN(r) AS r FROM (
           |    SELECT replace((SELECT pair FROM t1), ' ', '') AS tok, 1 AS r
           |    UNION ALL SELECT replace((SELECT pair FROM t2), ' ', ''), 2
           |    UNION ALL SELECT replace((SELECT pair FROM t3), ' ', ''), 3) GROUP BY tok),
           |vsz AS (SELECT CAST(COUNT(*) AS BIGINT) AS v FROM
           |    (SELECT tok FROM base UNION ALL SELECT tok FROM mrgtok)),
           |pw AS (SELECT doc_id,
           |    CAST(len(string_split(trim(seq), '  ')) AS BIGINT) AS n_tok,
           |    ('0x' || substr(md5(idx::VARCHAR || ':' || word), 1, 10))::BIGINT AS h
           |  FROM e3),
           |agg AS (SELECT doc_id, COUNT(*) AS n_words,
           |    CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
           |    CAST(COUNT(*) AS BIGINT) AS n_exact,
           |    CAST(SUM(h) AS BIGINT) AS dec_checksum
           |  FROM pw GROUP BY doc_id)
           |SELECT doc_id, n_words, n_tokens, (SELECT v FROM vsz) AS vocab_size,
           |  n_exact, dec_checksum
           |FROM agg ORDER BY doc_id""".stripMargin
    },

    "t15_lm_bits" ->
      raw"""WITH dv AS (SELECT doc_id, w,
           |    CASE WHEN u < 0.8 THEN 'train' WHEN u < 0.9 THEN 'val' ELSE 'test' END AS split
           |  FROM (SELECT doc_id, string_split_regex(trim(text), '[ \t\n\x0B\f\r]+') AS w,
           |      ('0x' || substr(md5(doc_id::VARCHAR), 1, 7))::BIGINT / 268435456.0 AS u
           |    FROM documents) WHERE len(w) >= 2),
           |tr AS (SELECT w FROM dv WHERE split = 'train'),
           |tb AS (SELECT bg, COUNT(*) AS c12 FROM (
           |    SELECT unnest(list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i+1])) AS bg FROM tr) GROUP BY bg),
           |tc AS (SELECT w1, COUNT(*) AS c1 FROM (
           |    SELECT unnest(list_transform(range(1, len(w)), i -> w[i])) AS w1 FROM tr) GROUP BY w1),
           |vv AS (SELECT COUNT(DISTINCT wd) AS v FROM (SELECT unnest(w) AS wd FROM tr)),
           |db AS (SELECT doc_id, split, unnest(list_transform(range(1, len(w)),
           |    i -> {'w1': w[i], 'bg': w[i] || ' ' || w[i+1]})) AS z FROM dv),
           |sc AS (SELECT doc_id, split,
           |    CAST(length(bin(coalesce(c1, 0) + v)) - length(bin(coalesce(c12, 0) + 1)) AS BIGINT) AS bits
           |  FROM db LEFT JOIN tb ON db.z.bg = tb.bg LEFT JOIN tc ON db.z.w1 = tc.w1 CROSS JOIN vv),
           |agg AS (SELECT doc_id, split, COUNT(*) AS n_bigrams, CAST(SUM(bits) AS BIGINT) AS nll_bits
           |  FROM sc GROUP BY doc_id, split)
           |SELECT doc_id, split, n_bigrams, nll_bits,
           |  round(CAST(nll_bits AS DOUBLE) / n_bigrams, 6) AS bits_per_bigram,
           |  CASE WHEN nll_bits * 20 <= n_bigrams * 99 THEN 'keep' ELSE 'drop' END AS label
           |FROM agg ORDER BY doc_id""".stripMargin,

    // identical literals in identical order keep every double bit-equal;
    // the per-term fixed-point round + integer sum does the rest
    "t16_bm25_retrieval" ->
      raw"""WITH dw AS (SELECT doc_id, string_split_regex(trim(text), '[ \t\n\x0B\f\r]+') AS w FROM documents),
           |trainw AS (SELECT doc_id AS train_id, unnest(w) AS t FROM dw WHERE doc_id % 10 <> 0),
           |tf AS (SELECT train_id, t, CAST(COUNT(*) AS BIGINT) AS tf FROM trainw GROUP BY train_id, t),
           |dl AS (SELECT train_id, CAST(COUNT(*) AS BIGINT) AS dl FROM trainw GROUP BY train_id),
           |stats AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_train, CAST(SUM(dl) AS BIGINT) AS sum_dl FROM dl),
           |dft AS (SELECT t, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY t),
           |q AS (SELECT DISTINCT doc_id AS eval_id, unnest(w) AS t FROM dw WHERE doc_id % 100 = 0),
           |sc AS (SELECT eval_id, train_id,
           |    CAST(round(CAST(length(bin(n_train)) - length(bin(df)) AS DOUBLE)
           |      * ((CAST(tf AS DOUBLE) * 2.2) / (CAST(tf AS DOUBLE) + 1.2
           |          * (0.25 + 0.75 * CAST(dl AS DOUBLE) / (CAST(sum_dl AS DOUBLE) / CAST(n_train AS DOUBLE)))))
           |      * 1000000.0) AS BIGINT) AS fx
           |  FROM tf JOIN q USING (t) JOIN dft USING (t) JOIN dl USING (train_id) CROSS JOIN stats),
           |agg AS (SELECT eval_id, train_id, CAST(SUM(fx) AS BIGINT) AS sfx
           |  FROM sc GROUP BY eval_id, train_id),
           |r AS (SELECT eval_id, train_id, sfx,
           |    CAST(ROW_NUMBER() OVER (PARTITION BY eval_id ORDER BY sfx DESC, train_id) AS INTEGER) AS rank
           |  FROM agg)
           |SELECT eval_id, rank, train_id, round(CAST(sfx AS DOUBLE) / 1000000.0, 6) AS bm25
           |FROM r WHERE rank <= 3 ORDER BY eval_id, rank""".stripMargin,

    // t16's lexical pipeline with the sqrt(N/df) idf (IEEE sqrt is
    // correctly rounded in both engines), then the rerank arms: cosine
    // as a 1e-6 fixed-point integer, min-max normalization over exact
    // integer differences, and an integer blend — every ranking
    // comparison is on BIGINTs, never accumulated doubles
    "t26_hybrid_rerank" ->
      raw"""WITH dw AS (SELECT doc_id, string_split_regex(trim(text), '[ \t\n\x0B\f\r]+') AS w FROM documents),
           |trainw AS (SELECT doc_id AS train_id, unnest(w) AS t FROM dw WHERE doc_id % 10 <> 0),
           |tf AS (SELECT train_id, t, CAST(COUNT(*) AS BIGINT) AS tf FROM trainw GROUP BY train_id, t),
           |dl AS (SELECT train_id, CAST(COUNT(*) AS BIGINT) AS dl FROM trainw GROUP BY train_id),
           |stats AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_train, CAST(SUM(dl) AS BIGINT) AS sum_dl FROM dl),
           |dft AS (SELECT t, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY t),
           |q AS (SELECT DISTINCT doc_id AS eval_id, unnest(w) AS t FROM dw WHERE doc_id % 100 = 0),
           |sc AS (SELECT eval_id, train_id,
           |    CAST(round(sqrt(CAST(n_train AS DOUBLE) / CAST(df AS DOUBLE))
           |      * ((CAST(tf AS DOUBLE) * 2.2) / (CAST(tf AS DOUBLE) + 1.2
           |          * (0.25 + 0.75 * CAST(dl AS DOUBLE) / (CAST(sum_dl AS DOUBLE) / CAST(n_train AS DOUBLE)))))
           |      * 1000000.0) AS BIGINT) AS fx
           |  FROM tf JOIN q USING (t) JOIN dft USING (t) JOIN dl USING (train_id) CROSS JOIN stats),
           |agg AS (SELECT eval_id, train_id, CAST(SUM(fx) AS BIGINT) AS sfx
           |  FROM sc GROUP BY eval_id, train_id),
           |r AS (SELECT eval_id, train_id, sfx,
           |    ROW_NUMBER() OVER (PARTITION BY eval_id ORDER BY sfx DESC, train_id) AS rrank
           |  FROM agg),
           |cand AS (SELECT eval_id, train_id, sfx FROM r WHERE rrank <= 10),
           |mm AS (SELECT eval_id, MIN(sfx) AS mn, MAX(sfx) AS mx FROM cand GROUP BY eval_id),
           |e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
           |sc2 AS (SELECT c.eval_id, c.train_id, c.sfx, mm.mn, mm.mx,
           |    CAST(round(list_dot_product(te.v, ee.v)
           |      / sqrt(list_dot_product(te.v, te.v) * list_dot_product(ee.v, ee.v))
           |      * 1000000.0) AS BIGINT) AS cfx
           |  FROM cand c JOIN e te ON te.vec_id = c.train_id
           |              JOIN e ee ON ee.vec_id = c.eval_id
           |              JOIN mm ON mm.eval_id = c.eval_id),
           |bl AS (SELECT eval_id, train_id, sfx, cfx,
           |    (CASE WHEN mx > mn THEN CAST(round(CAST(sfx - mn AS DOUBLE) / CAST(mx - mn AS DOUBLE) * 1000000.0) AS BIGINT)
           |          ELSE 500000 END) + cfx AS bfx
           |  FROM sc2),
           |rk AS (SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY eval_id ORDER BY bfx DESC, train_id) AS INTEGER) AS rank FROM bl)
           |SELECT eval_id, rank, train_id,
           |  round(CAST(sfx AS DOUBLE) / 1000000.0, 6) AS bm25,
           |  round(CAST(cfx AS DOUBLE) / 1000000.0, 6) AS cos_sim,
           |  round(CAST(bfx AS DOUBLE) / 1000000.0, 6) AS blend
           |FROM rk WHERE rank <= 5 ORDER BY eval_id, rank""".stripMargin,

    // t26's CTE chain replayed, then both recall arms: MATERIALIZED on
    // the reused heavy CTEs (cand/e/sc2/slate) — DuckDB inlines plain
    // CTEs per reference (the g05 lesson), and slate/sc2 are each read
    // twice here
    "t27_rerank_recall" ->
      raw"""WITH dw AS (SELECT doc_id, string_split_regex(trim(text), '[ \t\n\x0B\f\r]+') AS w FROM documents),
           |trainw AS (SELECT doc_id AS train_id, unnest(w) AS t FROM dw WHERE doc_id % 10 <> 0),
           |tf AS (SELECT train_id, t, CAST(COUNT(*) AS BIGINT) AS tf FROM trainw GROUP BY train_id, t),
           |dl AS (SELECT train_id, CAST(COUNT(*) AS BIGINT) AS dl FROM trainw GROUP BY train_id),
           |stats AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_train, CAST(SUM(dl) AS BIGINT) AS sum_dl FROM dl),
           |dft AS (SELECT t, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY t),
           |q AS (SELECT DISTINCT doc_id AS eval_id, unnest(w) AS t FROM dw WHERE doc_id % 100 = 0),
           |sc AS (SELECT eval_id, train_id,
           |    CAST(round(sqrt(CAST(n_train AS DOUBLE) / CAST(df AS DOUBLE))
           |      * ((CAST(tf AS DOUBLE) * 2.2) / (CAST(tf AS DOUBLE) + 1.2
           |          * (0.25 + 0.75 * CAST(dl AS DOUBLE) / (CAST(sum_dl AS DOUBLE) / CAST(n_train AS DOUBLE)))))
           |      * 1000000.0) AS BIGINT) AS fx
           |  FROM tf JOIN q USING (t) JOIN dft USING (t) JOIN dl USING (train_id) CROSS JOIN stats),
           |agg AS (SELECT eval_id, train_id, CAST(SUM(fx) AS BIGINT) AS sfx
           |  FROM sc GROUP BY eval_id, train_id),
           |r AS (SELECT eval_id, train_id, sfx,
           |    ROW_NUMBER() OVER (PARTITION BY eval_id ORDER BY sfx DESC, train_id) AS rrank
           |  FROM agg),
           |cand AS MATERIALIZED (SELECT eval_id, train_id, sfx FROM r WHERE rrank <= 10),
           |mm AS (SELECT eval_id, MIN(sfx) AS mn, MAX(sfx) AS mx FROM cand GROUP BY eval_id),
           |e AS MATERIALIZED (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
           |sc2 AS MATERIALIZED (SELECT c.eval_id, c.train_id, c.sfx, mm.mn, mm.mx,
           |    CAST(round(list_dot_product(te.v, ee.v)
           |      / sqrt(list_dot_product(te.v, te.v) * list_dot_product(ee.v, ee.v))
           |      * 1000000.0) AS BIGINT) AS cfx
           |  FROM cand c JOIN e te ON te.vec_id = c.train_id
           |              JOIN e ee ON ee.vec_id = c.eval_id
           |              JOIN mm ON mm.eval_id = c.eval_id),
           |bl AS (SELECT eval_id, train_id, sfx, cfx,
           |    (CASE WHEN mx > mn THEN CAST(round(CAST(sfx - mn AS DOUBLE) / CAST(mx - mn AS DOUBLE) * 1000000.0) AS BIGINT)
           |          ELSE 500000 END) + cfx AS bfx
           |  FROM sc2),
           |rk AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY eval_id ORDER BY bfx DESC, train_id) AS rank FROM bl),
           |slate AS MATERIALIZED (SELECT eval_id, train_id FROM rk WHERE rank <= 5),
           |extc AS (SELECT eval_id, train_id FROM
           |  (SELECT eval_id, train_id, ROW_NUMBER() OVER (PARTITION BY eval_id ORDER BY cfx DESC, train_id) AS r2 FROM sc2)
           |  WHERE r2 <= 5),
           |ev AS (SELECT vec_id AS eval_id, v FROM e WHERE vec_id % 100 = 0),
           |tr AS (SELECT vec_id AS train_id, v FROM e WHERE vec_id % 10 <> 0),
           |ex AS (SELECT ev.eval_id, tr.train_id,
           |    CAST(round(list_dot_product(tr.v, ev.v)
           |      / sqrt(list_dot_product(tr.v, tr.v) * list_dot_product(ev.v, ev.v))
           |      * 1000000.0) AS BIGINT) AS cfx
           |  FROM ev CROSS JOIN tr),
           |exact AS (SELECT eval_id, train_id FROM
           |  (SELECT eval_id, train_id, ROW_NUMBER() OVER (PARTITION BY eval_id ORDER BY cfx DESC, train_id) AS r3 FROM ex)
           |  WHERE r3 <= 5),
           |ns AS (SELECT eval_id, COUNT(*) AS n_slate FROM slate GROUP BY 1),
           |hc AS (SELECT s.eval_id, COUNT(*) AS corpus_hits FROM slate s JOIN exact USING (eval_id, train_id) GROUP BY 1),
           |hk AS (SELECT s.eval_id, COUNT(*) AS cand_hits FROM slate s JOIN extc USING (eval_id, train_id) GROUP BY 1)
           |SELECT u.eval_id,
           |  CAST(COALESCE(ns.n_slate, 0) AS BIGINT) AS n_slate,
           |  CAST(COALESCE(hc.corpus_hits, 0) AS BIGINT) AS corpus_hits,
           |  round(CAST(COALESCE(hc.corpus_hits, 0) AS DOUBLE) / 5.0, 6) AS corpus_recall,
           |  CAST(COALESCE(hk.cand_hits, 0) AS BIGINT) AS cand_hits,
           |  round(CAST(COALESCE(hk.cand_hits, 0) AS DOUBLE) / 5.0, 6) AS cand_recall
           |FROM (SELECT DISTINCT eval_id FROM ev) u
           |LEFT JOIN ns USING (eval_id) LEFT JOIN hc USING (eval_id) LEFT JOIN hk USING (eval_id)
           |ORDER BY eval_id""".stripMargin,

    // rank-space fusion is integer-exact by construction: ranks carry
    // the (score DESC, train_id) total tie-break and 1/(60+r) lands as
    // the integer quotient (DuckDB // == Spark div on positive BIGINTs)
    "t28_rrf_fusion" ->
      raw"""WITH dw AS (SELECT doc_id, string_split_regex(trim(text), '[ \t\n\x0B\f\r]+') AS w FROM documents),
           |trainw AS (SELECT doc_id AS train_id, unnest(w) AS t FROM dw WHERE doc_id % 10 <> 0),
           |tf AS (SELECT train_id, t, CAST(COUNT(*) AS BIGINT) AS tf FROM trainw GROUP BY train_id, t),
           |dl AS (SELECT train_id, CAST(COUNT(*) AS BIGINT) AS dl FROM trainw GROUP BY train_id),
           |stats AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_train, CAST(SUM(dl) AS BIGINT) AS sum_dl FROM dl),
           |dft AS (SELECT t, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY t),
           |q AS (SELECT DISTINCT doc_id AS eval_id, unnest(w) AS t FROM dw WHERE doc_id % 100 = 0),
           |sc AS (SELECT eval_id, train_id,
           |    CAST(round(sqrt(CAST(n_train AS DOUBLE) / CAST(df AS DOUBLE))
           |      * ((CAST(tf AS DOUBLE) * 2.2) / (CAST(tf AS DOUBLE) + 1.2
           |          * (0.25 + 0.75 * CAST(dl AS DOUBLE) / (CAST(sum_dl AS DOUBLE) / CAST(n_train AS DOUBLE)))))
           |      * 1000000.0) AS BIGINT) AS fx
           |  FROM tf JOIN q USING (t) JOIN dft USING (t) JOIN dl USING (train_id) CROSS JOIN stats),
           |agg AS (SELECT eval_id, train_id, CAST(SUM(fx) AS BIGINT) AS sfx FROM sc GROUP BY eval_id, train_id),
           |lex AS MATERIALIZED (SELECT eval_id, train_id, rrank AS lex_rank FROM
           |  (SELECT eval_id, train_id, ROW_NUMBER() OVER (PARTITION BY eval_id ORDER BY sfx DESC, train_id) AS rrank FROM agg)
           |  WHERE rrank <= 10),
           |e AS MATERIALIZED (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
           |ev AS (SELECT vec_id AS eval_id, v FROM e WHERE vec_id % 100 = 0),
           |tr AS (SELECT vec_id AS train_id, v FROM e WHERE vec_id % 10 <> 0),
           |ex AS (SELECT ev.eval_id, tr.train_id,
           |    CAST(round(list_dot_product(tr.v, ev.v)
           |      / sqrt(list_dot_product(tr.v, tr.v) * list_dot_product(ev.v, ev.v))
           |      * 1000000.0) AS BIGINT) AS cfx
           |  FROM ev CROSS JOIN tr),
           |vec AS MATERIALIZED (SELECT eval_id, train_id, r2 AS vec_rank FROM
           |  (SELECT eval_id, train_id, ROW_NUMBER() OVER (PARTITION BY eval_id ORDER BY cfx DESC, train_id) AS r2 FROM ex)
           |  WHERE r2 <= 10),
           |fused AS (SELECT COALESCE(l.eval_id, v.eval_id) AS eval_id,
           |    COALESCE(l.train_id, v.train_id) AS train_id,
           |    CAST(COALESCE(l.lex_rank, 0) AS BIGINT) AS lex_rank,
           |    CAST(COALESCE(v.vec_rank, 0) AS BIGINT) AS vec_rank,
           |    (CASE WHEN l.lex_rank IS NULL THEN 0 ELSE 1000000000 // (60 + l.lex_rank) END)
           |    + (CASE WHEN v.vec_rank IS NULL THEN 0 ELSE 1000000000 // (60 + v.vec_rank) END) AS rrf_fx
           |  FROM lex l FULL OUTER JOIN vec v ON l.eval_id = v.eval_id AND l.train_id = v.train_id),
           |rk AS (SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY eval_id ORDER BY rrf_fx DESC, train_id) AS INTEGER) AS rank FROM fused)
           |SELECT eval_id, rank, train_id, lex_rank, vec_rank, CAST(rrf_fx AS BIGINT) AS rrf_fx
           |FROM rk WHERE rank <= 5 ORDER BY eval_id, rank""".stripMargin,

    // t28's lexical CTEs fused with a FULL REPLAY of the served IVF-PQ
    // pipeline (s22's oracle CTEs: 8-seed assignment, per-subspace PQ
    // codes via the norm-expansion d2, multiprobe crn <= 4, flat
    // 64-entry ADC tables) — probes are the %100 evals, candidates the
    // train corpus only, rank = (adc ASC, vec_id), depth 10 both arms.
    // A match proves the saved-index build, the file serve, AND the
    // fusion in one hash.
    "t29_rrf_served" -> {
      val d2 =
        "list_dot_product(v[(m*8+1)::INT:(m*8+8)::INT], v[(m*8+1)::INT:(m*8+8)::INT])" +
          " - 2*list_dot_product(v[(m*8+1)::INT:(m*8+8)::INT], cv[(m*8+1)::INT:(m*8+8)::INT])" +
          " + list_dot_product(cv[(m*8+1)::INT:(m*8+8)::INT], cv[(m*8+1)::INT:(m*8+8)::INT])"
      val adcSum = (0 until 8)
        .map(m => s"tq[($m*8 + code[${m + 1}] + 1)::INT]").mkString(" + ")
      raw"""WITH dw AS (SELECT doc_id, string_split_regex(trim(text), '[ \t\n\x0B\f\r]+') AS w FROM documents),
           |trainw AS (SELECT doc_id AS train_id, unnest(w) AS t FROM dw WHERE doc_id % 10 <> 0),
           |tf AS (SELECT train_id, t, CAST(COUNT(*) AS BIGINT) AS tf FROM trainw GROUP BY train_id, t),
           |dl AS (SELECT train_id, CAST(COUNT(*) AS BIGINT) AS dl FROM trainw GROUP BY train_id),
           |stats AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_train, CAST(SUM(dl) AS BIGINT) AS sum_dl FROM dl),
           |dft AS (SELECT t, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY t),
           |q AS (SELECT DISTINCT doc_id AS eval_id, unnest(w) AS t FROM dw WHERE doc_id % 100 = 0),
           |sc AS (SELECT eval_id, train_id,
           |    CAST(round(sqrt(CAST(n_train AS DOUBLE) / CAST(df AS DOUBLE))
           |      * ((CAST(tf AS DOUBLE) * 2.2) / (CAST(tf AS DOUBLE) + 1.2
           |          * (0.25 + 0.75 * CAST(dl AS DOUBLE) / (CAST(sum_dl AS DOUBLE) / CAST(n_train AS DOUBLE)))))
           |      * 1000000.0) AS BIGINT) AS fx
           |  FROM tf JOIN q USING (t) JOIN dft USING (t) JOIN dl USING (train_id) CROSS JOIN stats),
           |agg AS (SELECT eval_id, train_id, CAST(SUM(fx) AS BIGINT) AS sfx FROM sc GROUP BY eval_id, train_id),
           |lex AS MATERIALIZED (SELECT eval_id, train_id, rrank AS lex_rank FROM
           |  (SELECT eval_id, train_id, ROW_NUMBER() OVER (PARTITION BY eval_id ORDER BY sfx DESC, train_id) AS rrank FROM agg)
           |  WHERE rrank <= 10),
           |e AS MATERIALIZED (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
           |cents AS (SELECT vec_id AS cent_id, v AS cv FROM e WHERE vec_id < 8),
           |ac AS (SELECT vec_id, v, cent_id, ${Similarity.sqlCosine("v", "cv")} AS ccos
           |  FROM e CROSS JOIN cents),
           |ranked AS MATERIALIZED (SELECT vec_id, cent_id, ccos,
           |    ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cent_id) AS crn
           |  FROM ac),
           |assigned AS (SELECT vec_id, cent_id AS cell FROM ranked WHERE crn = 1),
           |sub AS MATERIALIZED (SELECT e.vec_id, cent_id, m, $d2 AS d2
           |  FROM e CROSS JOIN cents
           |  CROSS JOIN (SELECT unnest(range(0, 8)) AS m) ms),
           |cr AS (SELECT vec_id, m, cent_id, d2,
           |    ROW_NUMBER() OVER (PARTITION BY vec_id, m ORDER BY d2, cent_id) AS rn
           |  FROM sub),
           |codes AS (SELECT vec_id, list(cent_id ORDER BY m) AS code
           |  FROM cr WHERE rn = 1 GROUP BY vec_id),
           |probes AS (SELECT vec_id AS query_id, cent_id AS probe
           |  FROM ranked WHERE crn <= 4 AND vec_id % 100 = 0),
           |tqf AS (SELECT vec_id AS query_id, list(d2 ORDER BY m, cent_id) AS tq
           |  FROM sub WHERE vec_id % 100 = 0 GROUP BY vec_id),
           |scv AS (SELECT query_id, vec_id, $adcSum AS adc
           |  FROM (SELECT p.query_id, a.vec_id, t.tq, c.code
           |        FROM assigned a JOIN probes p ON a.cell = p.probe AND a.vec_id <> p.query_id
           |        JOIN codes c ON c.vec_id = a.vec_id
           |        JOIN tqf t ON t.query_id = p.query_id
           |        WHERE a.vec_id % 10 <> 0)),
           |vec AS MATERIALIZED (SELECT query_id AS eval_id, vec_id AS train_id, r2 AS vec_rank FROM
           |  (SELECT query_id, vec_id, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY adc, vec_id) AS r2 FROM scv)
           |  WHERE r2 <= 10),
           |fused AS (SELECT COALESCE(l.eval_id, v.eval_id) AS eval_id,
           |    COALESCE(l.train_id, v.train_id) AS train_id,
           |    CAST(COALESCE(l.lex_rank, 0) AS BIGINT) AS lex_rank,
           |    CAST(COALESCE(v.vec_rank, 0) AS BIGINT) AS vec_rank,
           |    (CASE WHEN l.lex_rank IS NULL THEN 0 ELSE 1000000000 // (60 + l.lex_rank) END)
           |    + (CASE WHEN v.vec_rank IS NULL THEN 0 ELSE 1000000000 // (60 + v.vec_rank) END) AS rrf_fx
           |  FROM lex l FULL OUTER JOIN vec v ON l.eval_id = v.eval_id AND l.train_id = v.train_id),
           |rk AS (SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY eval_id ORDER BY rrf_fx DESC, train_id) AS INTEGER) AS rank FROM fused)
           |SELECT eval_id, rank, train_id, lex_rank, vec_rank, CAST(rrf_fx AS BIGINT) AS rrf_fx
           |FROM rk WHERE rank <= 5 ORDER BY eval_id, rank""".stripMargin
    },

    // BOTH fusion chains replayed from the raw tables — the shared
    // lexical arm, t28's exact-cosine vector arm, t29's full served
    // IVF-PQ pipeline — then the two top-5 slates and two rank lists
    // intersected per probe. Integer-ranked everywhere, so the recall
    // counts are exact set arithmetic in both engines.
    "t30_served_fusion_recall" -> {
      val d2 =
        "list_dot_product(v[(m*8+1)::INT:(m*8+8)::INT], v[(m*8+1)::INT:(m*8+8)::INT])" +
          " - 2*list_dot_product(v[(m*8+1)::INT:(m*8+8)::INT], cv[(m*8+1)::INT:(m*8+8)::INT])" +
          " + list_dot_product(cv[(m*8+1)::INT:(m*8+8)::INT], cv[(m*8+1)::INT:(m*8+8)::INT])"
      val adcSum = (0 until 8)
        .map(m => s"tq[($m*8 + code[${m + 1}] + 1)::INT]").mkString(" + ")
      val rrf = (l: String, v: String) =>
        s"""SELECT COALESCE(l.eval_id, v.eval_id) AS eval_id,
           |    COALESCE(l.train_id, v.train_id) AS train_id,
           |    (CASE WHEN l.lex_rank IS NULL THEN 0 ELSE 1000000000 // (60 + l.lex_rank) END)
           |    + (CASE WHEN v.vec_rank IS NULL THEN 0 ELSE 1000000000 // (60 + v.vec_rank) END) AS rrf_fx
           |  FROM $l l FULL OUTER JOIN $v v ON l.eval_id = v.eval_id AND l.train_id = v.train_id""".stripMargin
      raw"""WITH dw AS (SELECT doc_id, string_split_regex(trim(text), '[ \t\n\x0B\f\r]+') AS w FROM documents),
           |trainw AS (SELECT doc_id AS train_id, unnest(w) AS t FROM dw WHERE doc_id % 10 <> 0),
           |tf AS (SELECT train_id, t, CAST(COUNT(*) AS BIGINT) AS tf FROM trainw GROUP BY train_id, t),
           |dl AS (SELECT train_id, CAST(COUNT(*) AS BIGINT) AS dl FROM trainw GROUP BY train_id),
           |stats AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_train, CAST(SUM(dl) AS BIGINT) AS sum_dl FROM dl),
           |dft AS (SELECT t, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY t),
           |q AS (SELECT DISTINCT doc_id AS eval_id, unnest(w) AS t FROM dw WHERE doc_id % 100 = 0),
           |sc AS (SELECT eval_id, train_id,
           |    CAST(round(sqrt(CAST(n_train AS DOUBLE) / CAST(df AS DOUBLE))
           |      * ((CAST(tf AS DOUBLE) * 2.2) / (CAST(tf AS DOUBLE) + 1.2
           |          * (0.25 + 0.75 * CAST(dl AS DOUBLE) / (CAST(sum_dl AS DOUBLE) / CAST(n_train AS DOUBLE)))))
           |      * 1000000.0) AS BIGINT) AS fx
           |  FROM tf JOIN q USING (t) JOIN dft USING (t) JOIN dl USING (train_id) CROSS JOIN stats),
           |agg AS (SELECT eval_id, train_id, CAST(SUM(fx) AS BIGINT) AS sfx FROM sc GROUP BY eval_id, train_id),
           |lex AS MATERIALIZED (SELECT eval_id, train_id, rrank AS lex_rank FROM
           |  (SELECT eval_id, train_id, ROW_NUMBER() OVER (PARTITION BY eval_id ORDER BY sfx DESC, train_id) AS rrank FROM agg)
           |  WHERE rrank <= 10),
           |e AS MATERIALIZED (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
           |ev AS (SELECT vec_id AS eval_id, v FROM e WHERE vec_id % 100 = 0),
           |tr AS (SELECT vec_id AS train_id, v FROM e WHERE vec_id % 10 <> 0),
           |ex AS (SELECT ev.eval_id, tr.train_id,
           |    CAST(round(list_dot_product(tr.v, ev.v)
           |      / sqrt(list_dot_product(tr.v, tr.v) * list_dot_product(ev.v, ev.v))
           |      * 1000000.0) AS BIGINT) AS cfx
           |  FROM ev CROSS JOIN tr),
           |vecx AS MATERIALIZED (SELECT eval_id, train_id, r2 AS vec_rank FROM
           |  (SELECT eval_id, train_id, ROW_NUMBER() OVER (PARTITION BY eval_id ORDER BY cfx DESC, train_id) AS r2 FROM ex)
           |  WHERE r2 <= 10),
           |cents AS (SELECT vec_id AS cent_id, v AS cv FROM e WHERE vec_id < 8),
           |ac AS (SELECT vec_id, v, cent_id, ${Similarity.sqlCosine("v", "cv")} AS ccos
           |  FROM e CROSS JOIN cents),
           |ranked AS MATERIALIZED (SELECT vec_id, cent_id, ccos,
           |    ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cent_id) AS crn
           |  FROM ac),
           |assigned AS (SELECT vec_id, cent_id AS cell FROM ranked WHERE crn = 1),
           |sub AS MATERIALIZED (SELECT e.vec_id, cent_id, m, $d2 AS d2
           |  FROM e CROSS JOIN cents
           |  CROSS JOIN (SELECT unnest(range(0, 8)) AS m) ms),
           |cr AS (SELECT vec_id, m, cent_id, d2,
           |    ROW_NUMBER() OVER (PARTITION BY vec_id, m ORDER BY d2, cent_id) AS rn
           |  FROM sub),
           |codes AS (SELECT vec_id, list(cent_id ORDER BY m) AS code
           |  FROM cr WHERE rn = 1 GROUP BY vec_id),
           |probes AS (SELECT vec_id AS query_id, cent_id AS probe
           |  FROM ranked WHERE crn <= 4 AND vec_id % 100 = 0),
           |tqf AS (SELECT vec_id AS query_id, list(d2 ORDER BY m, cent_id) AS tq
           |  FROM sub WHERE vec_id % 100 = 0 GROUP BY vec_id),
           |scv AS (SELECT query_id, vec_id, $adcSum AS adc
           |  FROM (SELECT p.query_id, a.vec_id, t.tq, c.code
           |        FROM assigned a JOIN probes p ON a.cell = p.probe AND a.vec_id <> p.query_id
           |        JOIN codes c ON c.vec_id = a.vec_id
           |        JOIN tqf t ON t.query_id = p.query_id
           |        WHERE a.vec_id % 10 <> 0)),
           |vecs AS MATERIALIZED (SELECT query_id AS eval_id, vec_id AS train_id, r2 AS vec_rank FROM
           |  (SELECT query_id, vec_id, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY adc, vec_id) AS r2 FROM scv)
           |  WHERE r2 <= 10),
           |fusedx AS (${rrf("lex", "vecx")}),
           |exact_slate AS MATERIALIZED (SELECT eval_id, train_id FROM
           |  (SELECT *, ROW_NUMBER() OVER (PARTITION BY eval_id ORDER BY rrf_fx DESC, train_id) AS rank FROM fusedx)
           |  WHERE rank <= 5),
           |fuseds AS (${rrf("lex", "vecs")}),
           |served_slate AS MATERIALIZED (SELECT eval_id, train_id FROM
           |  (SELECT *, ROW_NUMBER() OVER (PARTITION BY eval_id ORDER BY rrf_fx DESC, train_id) AS rank FROM fuseds)
           |  WHERE rank <= 5),
           |evu AS (SELECT vec_id AS eval_id FROM e WHERE vec_id % 100 = 0),
           |ns AS (SELECT eval_id, COUNT(*) AS n_served FROM served_slate GROUP BY 1),
           |fh AS (SELECT s2.eval_id, COUNT(*) AS fusion_hits FROM served_slate s2 JOIN exact_slate USING (eval_id, train_id) GROUP BY 1),
           |ah AS (SELECT v1.eval_id, COUNT(*) AS arm_hits FROM vecs v1 JOIN vecx USING (eval_id, train_id) GROUP BY 1)
           |SELECT u.eval_id,
           |  CAST(COALESCE(ns.n_served, 0) AS BIGINT) AS n_served,
           |  CAST(COALESCE(fh.fusion_hits, 0) AS BIGINT) AS fusion_hits,
           |  round(CAST(COALESCE(fh.fusion_hits, 0) AS DOUBLE) / 5.0, 6) AS fusion_recall,
           |  CAST(COALESCE(ah.arm_hits, 0) AS BIGINT) AS arm_hits,
           |  round(CAST(COALESCE(ah.arm_hits, 0) AS DOUBLE) / 10.0, 6) AS arm_recall
           |FROM evu u
           |LEFT JOIN ns USING (eval_id) LEFT JOIN fh USING (eval_id) LEFT JOIN ah USING (eval_id)
           |ORDER BY eval_id""".stripMargin
    },

    // t30's two fusion chains replayed with RANKS kept on both slates,
    // then the NDCG@5 / MRR grading tail. The discount weights are the
    // same integer millionths the Spark ndcgW chain hardcodes
    // (round(1e6/log2(r+1))) — no engine takes a log, so DCG/IDCG are
    // exact BIGINT sums (cast from DuckDB's HUGEINT SUM) and the only
    // doubles are the two guarded divisions rounded to 6 dp.
    "t31_ranking_metrics" -> {
      val d2 =
        "list_dot_product(v[(m*8+1)::INT:(m*8+8)::INT], v[(m*8+1)::INT:(m*8+8)::INT])" +
          " - 2*list_dot_product(v[(m*8+1)::INT:(m*8+8)::INT], cv[(m*8+1)::INT:(m*8+8)::INT])" +
          " + list_dot_product(cv[(m*8+1)::INT:(m*8+8)::INT], cv[(m*8+1)::INT:(m*8+8)::INT])"
      val adcSum = (0 until 8)
        .map(m => s"tq[($m*8 + code[${m + 1}] + 1)::INT]").mkString(" + ")
      val rrf = (l: String, v: String) =>
        s"""SELECT COALESCE(l.eval_id, v.eval_id) AS eval_id,
           |    COALESCE(l.train_id, v.train_id) AS train_id,
           |    (CASE WHEN l.lex_rank IS NULL THEN 0 ELSE 1000000000 // (60 + l.lex_rank) END)
           |    + (CASE WHEN v.vec_rank IS NULL THEN 0 ELSE 1000000000 // (60 + v.vec_rank) END) AS rrf_fx
           |  FROM $l l FULL OUTER JOIN $v v ON l.eval_id = v.eval_id AND l.train_id = v.train_id""".stripMargin
      val w = (r: String) =>
        s"(CASE $r WHEN 1 THEN 1000000 WHEN 2 THEN 630930 WHEN 3 THEN 500000 WHEN 4 THEN 430677 ELSE 386853 END)"
      raw"""WITH dw AS (SELECT doc_id, string_split_regex(trim(text), '[ \t\n\x0B\f\r]+') AS w FROM documents),
           |trainw AS (SELECT doc_id AS train_id, unnest(w) AS t FROM dw WHERE doc_id % 10 <> 0),
           |tf AS (SELECT train_id, t, CAST(COUNT(*) AS BIGINT) AS tf FROM trainw GROUP BY train_id, t),
           |dl AS (SELECT train_id, CAST(COUNT(*) AS BIGINT) AS dl FROM trainw GROUP BY train_id),
           |stats AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_train, CAST(SUM(dl) AS BIGINT) AS sum_dl FROM dl),
           |dft AS (SELECT t, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY t),
           |q AS (SELECT DISTINCT doc_id AS eval_id, unnest(w) AS t FROM dw WHERE doc_id % 100 = 0),
           |sc AS (SELECT eval_id, train_id,
           |    CAST(round(sqrt(CAST(n_train AS DOUBLE) / CAST(df AS DOUBLE))
           |      * ((CAST(tf AS DOUBLE) * 2.2) / (CAST(tf AS DOUBLE) + 1.2
           |          * (0.25 + 0.75 * CAST(dl AS DOUBLE) / (CAST(sum_dl AS DOUBLE) / CAST(n_train AS DOUBLE)))))
           |      * 1000000.0) AS BIGINT) AS fx
           |  FROM tf JOIN q USING (t) JOIN dft USING (t) JOIN dl USING (train_id) CROSS JOIN stats),
           |agg AS (SELECT eval_id, train_id, CAST(SUM(fx) AS BIGINT) AS sfx FROM sc GROUP BY eval_id, train_id),
           |lex AS MATERIALIZED (SELECT eval_id, train_id, rrank AS lex_rank FROM
           |  (SELECT eval_id, train_id, ROW_NUMBER() OVER (PARTITION BY eval_id ORDER BY sfx DESC, train_id) AS rrank FROM agg)
           |  WHERE rrank <= 10),
           |e AS MATERIALIZED (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
           |ev AS (SELECT vec_id AS eval_id, v FROM e WHERE vec_id % 100 = 0),
           |tr AS (SELECT vec_id AS train_id, v FROM e WHERE vec_id % 10 <> 0),
           |ex AS (SELECT ev.eval_id, tr.train_id,
           |    CAST(round(list_dot_product(tr.v, ev.v)
           |      / sqrt(list_dot_product(tr.v, tr.v) * list_dot_product(ev.v, ev.v))
           |      * 1000000.0) AS BIGINT) AS cfx
           |  FROM ev CROSS JOIN tr),
           |vecx AS MATERIALIZED (SELECT eval_id, train_id, r2 AS vec_rank FROM
           |  (SELECT eval_id, train_id, ROW_NUMBER() OVER (PARTITION BY eval_id ORDER BY cfx DESC, train_id) AS r2 FROM ex)
           |  WHERE r2 <= 10),
           |cents AS (SELECT vec_id AS cent_id, v AS cv FROM e WHERE vec_id < 8),
           |ac AS (SELECT vec_id, v, cent_id, ${Similarity.sqlCosine("v", "cv")} AS ccos
           |  FROM e CROSS JOIN cents),
           |ranked AS MATERIALIZED (SELECT vec_id, cent_id, ccos,
           |    ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cent_id) AS crn
           |  FROM ac),
           |assigned AS (SELECT vec_id, cent_id AS cell FROM ranked WHERE crn = 1),
           |sub AS MATERIALIZED (SELECT e.vec_id, cent_id, m, $d2 AS d2
           |  FROM e CROSS JOIN cents
           |  CROSS JOIN (SELECT unnest(range(0, 8)) AS m) ms),
           |cr AS (SELECT vec_id, m, cent_id, d2,
           |    ROW_NUMBER() OVER (PARTITION BY vec_id, m ORDER BY d2, cent_id) AS rn
           |  FROM sub),
           |codes AS (SELECT vec_id, list(cent_id ORDER BY m) AS code
           |  FROM cr WHERE rn = 1 GROUP BY vec_id),
           |probes AS (SELECT vec_id AS query_id, cent_id AS probe
           |  FROM ranked WHERE crn <= 4 AND vec_id % 100 = 0),
           |tqf AS (SELECT vec_id AS query_id, list(d2 ORDER BY m, cent_id) AS tq
           |  FROM sub WHERE vec_id % 100 = 0 GROUP BY vec_id),
           |scv AS (SELECT query_id, vec_id, $adcSum AS adc
           |  FROM (SELECT p.query_id, a.vec_id, t.tq, c.code
           |        FROM assigned a JOIN probes p ON a.cell = p.probe AND a.vec_id <> p.query_id
           |        JOIN codes c ON c.vec_id = a.vec_id
           |        JOIN tqf t ON t.query_id = p.query_id
           |        WHERE a.vec_id % 10 <> 0)),
           |vecs AS MATERIALIZED (SELECT query_id AS eval_id, vec_id AS train_id, r2 AS vec_rank FROM
           |  (SELECT query_id, vec_id, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY adc, vec_id) AS r2 FROM scv)
           |  WHERE r2 <= 10),
           |fusedx AS (${rrf("lex", "vecx")}),
           |exact_slate AS MATERIALIZED (SELECT eval_id, train_id, CAST(rrank AS BIGINT) AS exact_rank FROM
           |  (SELECT *, ROW_NUMBER() OVER (PARTITION BY eval_id ORDER BY rrf_fx DESC, train_id) AS rrank FROM fusedx)
           |  WHERE rrank <= 5),
           |fuseds AS (${rrf("lex", "vecs")}),
           |served_slate AS MATERIALIZED (SELECT eval_id, train_id, CAST(rrank AS BIGINT) AS srv_rank FROM
           |  (SELECT *, ROW_NUMBER() OVER (PARTITION BY eval_id ORDER BY rrf_fx DESC, train_id) AS rrank FROM fuseds)
           |  WHERE rrank <= 5),
           |graded AS (SELECT s2.eval_id, s2.srv_rank,
           |    CASE WHEN x.exact_rank IS NULL THEN 0 ELSE 6 - x.exact_rank END AS rel
           |  FROM served_slate s2 LEFT JOIN exact_slate x USING (eval_id, train_id)),
           |dcg AS (SELECT eval_id, CAST(SUM(rel * ${w("srv_rank")}) AS BIGINT) AS dcg,
           |    MIN(CASE WHEN rel > 0 THEN srv_rank END) AS first_hit
           |  FROM graded GROUP BY eval_id),
           |idcg AS (SELECT eval_id, CAST(COUNT(*) AS BIGINT) AS n_exact,
           |    CAST(SUM((6 - exact_rank) * ${w("exact_rank")}) AS BIGINT) AS idcg
           |  FROM exact_slate GROUP BY eval_id),
           |evu AS (SELECT vec_id AS eval_id FROM e WHERE vec_id % 100 = 0)
           |SELECT u.eval_id,
           |  CAST(COALESCE(i.n_exact, 0) AS BIGINT) AS n_exact,
           |  CAST(COALESCE(d.dcg, 0) AS BIGINT) AS dcg,
           |  CAST(COALESCE(i.idcg, 0) AS BIGINT) AS idcg,
           |  CASE WHEN COALESCE(i.idcg, 0) > 0
           |    THEN round(CAST(COALESCE(d.dcg, 0) AS DOUBLE) / CAST(i.idcg AS DOUBLE), 6)
           |    ELSE 0.0 END AS ndcg,
           |  CAST(COALESCE(d.first_hit, 0) AS BIGINT) AS first_hit,
           |  CASE WHEN COALESCE(d.first_hit, 0) > 0
           |    THEN round(1.0 / CAST(d.first_hit AS DOUBLE), 6)
           |    ELSE 0.0 END AS mrr
           |FROM evu u
           |LEFT JOIN idcg i USING (eval_id) LEFT JOIN dcg d USING (eval_id)
           |ORDER BY eval_id""".stripMargin
    },

    // same planting, same regexes (RE2 == Java regex on this subset),
    // same scrub order; regexp_replace needs the 'g' flag (DuckDB
    // replaces only the first match by default, Spark replaces all)
    "t17_pii_scrub" ->
      raw"""WITH planted AS (SELECT doc_id, source, text ||
           |  (CASE WHEN doc_id % 3 = 0 THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com now' ELSE '' END) ||
           |  (CASE WHEN doc_id % 4 = 0 THEN ' call 555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || ' today' ELSE '' END) ||
           |  (CASE WHEN doc_id % 5 = 0 THEN ' from 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.' || CAST((doc_id * 7) % 256 AS VARCHAR) || ' logged' ELSE '' END)
           |  AS pt FROM documents),
           |scrub AS (SELECT source, pt,
           |  len(regexp_extract_all(pt, '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}')) AS emails,
           |  len(regexp_extract_all(pt, '555-[0-9]{4}')) AS phones,
           |  len(regexp_extract_all(pt, '([0-9]{1,3}\.){3}[0-9]{1,3}')) AS ips,
           |  regexp_replace(regexp_replace(regexp_replace(pt,
           |    '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}', '<EMAIL>', 'g'),
           |    '555-[0-9]{4}', '<PHONE>', 'g'),
           |    '([0-9]{1,3}\.){3}[0-9]{1,3}', '<IP>', 'g') AS st FROM planted)
           |SELECT source, COUNT(*) AS n_docs,
           |  CAST(SUM(CASE WHEN emails + phones + ips > 0 THEN 1 ELSE 0 END) AS BIGINT) AS docs_with_pii,
           |  CAST(SUM(emails) AS BIGINT) AS emails,
           |  CAST(SUM(phones) AS BIGINT) AS phones,
           |  CAST(SUM(ips) AS BIGINT) AS ips,
           |  CAST(SUM(len(pt) - len(st)) AS BIGINT) AS chars_redacted,
           |  CAST(SUM(('0x' || substr(md5(st), 1, 10))::BIGINT) AS BIGINT) AS scrub_check
           |FROM scrub GROUP BY source ORDER BY source""".stripMargin,

    "t05_bpe_pair_counts" ->
      raw"""WITH words AS (SELECT unnest(string_split_regex(trim(text), '[ \t\n\x0B\f\r]+')) AS word
           |  FROM documents),
           |p AS (SELECT unnest(list_transform(range(1, length(word)), i -> substr(word, i, 2))) AS pair
           |  FROM words WHERE length(word) >= 2)
           |SELECT pair, COUNT(*) AS cnt FROM p
           |GROUP BY pair ORDER BY cnt DESC, pair LIMIT 20""".stripMargin,

    "t13_quality_classifier" ->
      raw"""WITH w AS (SELECT doc_id, string_split_regex(trim(text), '[ \t\n\x0B\f\r]+') AS w FROM documents),
           |feats AS (SELECT doc_id, unnest(list_concat(w,
           |    CASE WHEN len(w) >= 2 THEN list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i+1])
           |         ELSE CAST([] AS VARCHAR[]) END)) AS feat FROM w),
           |h AS (SELECT doc_id, ('0x' || substr(md5(feat), 1, 7))::BIGINT % 64 AS j FROM feats),
           |sc AS (SELECT doc_id, COUNT(*) AS n_feats,
           |    CAST(SUM((j * 37 + 11) % 101 - 50) AS BIGINT) AS sum_w FROM h GROUP BY doc_id)
           |SELECT doc_id, n_feats, sum_w,
           |  round(CAST(sum_w AS DOUBLE) / (100.0 * n_feats), 6) AS logit,
           |  CASE WHEN CAST(sum_w AS DOUBLE) / (100.0 * n_feats) >= 0.02
           |       THEN 'keep' ELSE 'drop' END AS label
           |FROM sc ORDER BY doc_id""".stripMargin,

    "t01_text_stats" ->
      raw"""WITH t AS (SELECT doc_id, text, string_split_regex(trim(text), '[ \t\n\x0B\f\r]+') AS w FROM documents)
           |SELECT doc_id,
           |  CAST(len(w) AS INTEGER) AS n_tokens,
           |  CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9${Tok.WsChars}]')) AS INTEGER) AS n_subtokens,
           |  CAST(length(text) AS BIGINT) AS n_chars,
           |  CAST(list_sum(list_transform(w, x -> length(x))) AS DOUBLE) / CAST(len(w) AS INTEGER) AS avg_token_len,
           |  CAST(len(list_distinct(w)) AS DOUBLE) / CAST(len(w) AS INTEGER) AS ttr
           |FROM t ORDER BY doc_id""".stripMargin,

    "t02_text_quality" ->
      raw"""WITH t AS (
           |  SELECT doc_id, text, string_split_regex(trim(text), '[ \t\n\x0B\f\r]+') AS w FROM documents
           |), c AS (
           |  SELECT doc_id, text,
           |    CAST(len(w) AS INTEGER) AS n_tokens,
           |    CAST(len(regexp_extract_all(text, '[.,!?;:]')) AS INTEGER) AS punct_cnt,
           |    CAST(len(list_filter(w, x -> x IN (${sqlList(Stop("en"))}))) AS INTEGER) AS stop_cnt
           |  FROM t)
           |SELECT doc_id, n_tokens, punct_cnt, stop_cnt,
           |  CAST(stop_cnt AS DOUBLE) / n_tokens AS stop_ratio,
           |  CAST(punct_cnt AS DOUBLE) / length(text) AS punct_ratio,
           |  (CAST(stop_cnt AS DOUBLE) / n_tokens) * 0.4
           |    + (1.0 - CAST(punct_cnt AS DOUBLE) / length(text)) * 0.3
           |    + least(1.0, CAST(n_tokens AS DOUBLE) / 100.0) * 0.3 AS quality
           |FROM c ORDER BY doc_id""".stripMargin,

    "t03_text_langid" -> {
      val hits = Stop.keys.toSeq.sorted.map(l =>
        s"CAST(len(list_filter(w, x -> x IN (${sqlList(Stop(l))}))) AS INTEGER) AS ${l}_hits").mkString(",\n    ")
      raw"""WITH t AS (SELECT doc_id, lang, string_split_regex(trim(text), '[ \t\n\x0B\f\r]+') AS w FROM documents),
           |h AS (SELECT doc_id, lang,
           |    $hits
           |  FROM t)
           |SELECT doc_id, lang, en_hits, de_hits, es_hits, fr_hits,
           |  CASE WHEN en_hits >= de_hits AND en_hits >= es_hits AND en_hits >= fr_hits THEN 'en'
           |       WHEN de_hits >= es_hits AND de_hits >= fr_hits THEN 'de'
           |       WHEN es_hits >= fr_hits THEN 'es'
           |       ELSE 'fr' END AS predicted
           |FROM h ORDER BY doc_id""".stripMargin
    },

    "t04_doc_fingerprint" ->
      raw"""WITH t AS (SELECT doc_id, text, string_split_regex(trim(text), '[ \t\n\x0B\f\r]+') AS w FROM documents),
           |s AS (SELECT doc_id, text,
           |    list_transform(range(1, len(w) - 3),
           |      i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] || ' ' || w[i+4]) AS sh
           |  FROM t WHERE len(w) >= 5)
           |SELECT doc_id,
           |  substr(md5(text), 1, 16) AS fp,
           |  list_min(list_transform(sh, x -> substr(md5(x), 1, 16))) AS min_shingle_fp
           |FROM s ORDER BY doc_id""".stripMargin,

    "t06_repetition_quality" ->
      raw"""WITH words AS (SELECT doc_id, string_split_regex(trim(text), '[ \t\n\x0B\f\r]+') AS w FROM documents),
           |uni AS (SELECT doc_id, unnest(w) AS word FROM words),
           |ucnt AS (SELECT doc_id, word, COUNT(*) AS c FROM uni GROUP BY 1, 2),
           |ustat AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_words,
           |    CAST(MAX(c) AS BIGINT) AS top_word FROM ucnt GROUP BY 1),
           |tri AS (SELECT doc_id,
           |    CASE WHEN len(w) >= 3
           |         THEN list_transform(range(1, len(w) - 1), i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])
           |         ELSE CAST([] AS VARCHAR[]) END AS t
           |  FROM words)
           |SELECT u.doc_id, n_words, top_word,
           |  round(CAST(top_word AS DOUBLE) / n_words, 6) AS top_unigram_frac,
           |  CAST(len(t.t) AS BIGINT) AS n_trigrams,
           |  CASE WHEN len(t.t) = 0 THEN NULL
           |       ELSE round(1.0 - CAST(len(list_distinct(t.t)) AS DOUBLE) / len(t.t), 6) END AS dup_trigram_frac
           |FROM ustat u JOIN tri t ON u.doc_id = t.doc_id
           |ORDER BY u.doc_id""".stripMargin,

    // exact integer grid both engines; '0x'-cast md5 slices per CLAUDE.md
    "t20_countmin_heavyhitters" ->
      raw"""WITH toks AS (SELECT unnest(string_split_regex(trim(text), '[ \t\n\x0B\f\r]+')) AS word FROM documents),
           |wc AS (SELECT word, COUNT(*) AS cnt FROM toks GROUP BY word),
           |h AS (SELECT word, cnt, r, (('0x' || substr(md5(word), 1 + 7*r, 7))::BIGINT) % 16 AS c
           |      FROM wc, range(4) t(r)),
           |sk AS (SELECT r, c, CAST(SUM(cnt) AS BIGINT) AS v FROM h GROUP BY r, c),
           |probes AS (SELECT word, cnt FROM wc ORDER BY cnt DESC, word LIMIT 10),
           |pe AS (SELECT p.word, p.cnt, MIN(v) AS cms_estimate
           |       FROM probes p JOIN h ON h.word = p.word JOIN sk ON sk.r = h.r AND sk.c = h.c
           |       GROUP BY p.word, p.cnt)
           |SELECT word, cnt AS n_exact, cms_estimate, cms_estimate - cnt AS overcount
           |FROM pe ORDER BY n_exact DESC, word""".stripMargin
  )
}
