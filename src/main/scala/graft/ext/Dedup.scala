package graft.ext

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{SessionScope, Tables, Tok}
import graft.core.SessionScope.{Checkpointed, Persisted}

/** Deduplication operators for a training-data pipeline, over `documents`
  * and `embeddings`: exact, n-gram Jaccard, MinHash+LSH, SimHash, and
  * embedding-cosine near-dup.
  *
  * Scale design (100 TB):
  *  - **Exact** is a hash groupBy — one shuffle on the text hash, partial
  *    agg map-side. Group on `md5(text)`, never the full text, so shuffle
  *    rows are 16 bytes + ids.
  *  - **MinHash+LSH** is the scalable near-dup path: per-doc signatures are
  *    a narrow map; candidate generation is a *band-bucket equi-join*
  *    (shuffle keyed on (band, hash)) instead of an O(n²) cross join.
  *    Verification runs only on candidates.
  *  - **n-gram Jaccard** here is the exact verifier: an equi-join on
  *    (source, shingle). At full scale you run it only on LSH candidates;
  *    the per-source partition keeps the join bounded here.
  *  - **SimHash** pairs are blocked by `lang`; at scale you'd block by
  *    simhash prefix bands (same equi-join trick).
  *  - **Embedding cosine** self-join is O(n²)/partition — it's the exact
  *    baseline; the scalable variant is `Similarity.s02_ann_buckets`.
  *
  * Hash parity: every pseudo-hash derives from `md5` (identical hex in
  * Spark/DuckDB); MinHash permutations are exact 64-bit integer arithmetic
  * over a 28-bit md5 prefix — engine-neutral and overflow-free.
  */
object Dedup {

  /** MinHash permutation constants: `perm_j(h) = (A_j*h + B_j) mod P` over
    * the 28-bit md5-prefix shingle hash. Products stay < 2^55 — exact in
    * 64-bit integers in both engines. */
  private[graft] val MinhashP = 2147483647L
  private[graft] val MinhashA = Seq(
    15485863L, 32452843L, 49979687L, 67867967L,
    86028121L, 104395301L, 122949823L, 141650939L)
  private[graft] val MinhashB = Seq(
    12582917L, 23456789L, 37139213L, 49632323L,
    57885161L, 74207281L, 82589933L, 99990001L)

  /** Production-width MinHash (d19): 128 permutations / 16 bands × 8 rows
    * — the width published dedup pipelines actually run (d03's 8/4×2 is
    * the demo form kept for the candidate-pipeline oracles). A/B are
    * md5-derived 28-bit integers: deterministic, engine-neutral (the
    * literal values are embedded in the oracle SQL), `A | 1` keeps every
    * multiplier odd hence nonzero mod P. Products stay < 2^56 — exact in
    * 64-bit integers in both engines. */
  private[graft] val WideNumPerms = 128
  private[graft] val WideBands = 16
  private[graft] val WideRowsPerBand = WideNumPerms / WideBands
  private def md5Prefix28(seed: String): Long = {
    val dg = java.security.MessageDigest.getInstance("MD5")
      .digest(seed.getBytes("UTF-8"))
    ((dg(0) & 0xffL) << 20) | ((dg(1) & 0xffL) << 12) |
      ((dg(2) & 0xffL) << 4) | ((dg(3) & 0xffL) >>> 4)
  }
  private[graft] val WideA: IndexedSeq[Long] =
    (0 until WideNumPerms).map(j => md5Prefix28(s"graft-minhash-A:$j") | 1L)
  private[graft] val WideB: IndexedSeq[Long] =
    (0 until WideNumPerms).map(j => md5Prefix28(s"graft-minhash-B:$j"))

  /** Distinct word-3-gram shingle ARRAYS per doc: (doc_id, source, sarr).
    * Distinctness is DOCUMENT-local ((doc_id, source) is unique per doc),
    * so `array_distinct` deduplicates per-row — no shuffle, unlike
    * `.distinct()` which would exchange every shingle. Consumers explode
    * for joins, or take `size(sarr)` for per-doc counts (also narrow —
    * never a groupBy over exploded rows).
    *
    * Computed by the codegen'd TOTAL [[graft.functions.ShingleArr]]
    * expression (short docs → empty array, never an ANSI element_at
    * error even under a generator — see its Scaladoc). The equivalent
    * HOF chain (`array_distinct(transform(...))`) is interpreted and
    * gets duplicated up to ~12× per doc once the array feeds `explode`
    * (InferFiltersFromGenerate + un-reused plan subtrees), which made
    * d02/d07 quadratic-interpreted hot; the expression keeps shingling
    * a cheap narrow map regardless of how often Catalyst replays it. */
  private def shingleArrays(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, d)
      .select($"doc_id", $"source",
        graft.functions.ShingleArr(split(trim($"text"), Tok.Ws), 3).as("sarr"))
  }

  /** Exploded form of [[shingleArrays]]: (doc_id, source, s). */
  private def shingles(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    shingleArrays(s, d).select($"doc_id", $"source", explode($"sarr").as("s"))
  }

  /** MinHash signatures per doc: (doc_id, s0..s7) — computed by the
    * codegen'd [[graft.functions.MinHashSigs]] expression in ONE narrow
    * per-row pass (no shingle explode, no groupBy shuffle; value-identical
    * to the relational form, see its Scaladoc). A Persisted memo — every
    * consumer joins it at least twice, nothing upstream is cacheable since
    * the whole computation fused into the scan, and d03/d07/d09/d14/d17/
    * d25 (and c11 through d17) read this one session build. */
  private def minhashSigs(s: SparkSession, d: String): DataFrame =
    SessionScope.frame(s, d, "d_sigs", Persisted)(sigsOf(Tables.documents(s, d)))

  /** The signature derivation itself, on an arbitrary `documents`-shaped
    * DataFrame: (doc_id, s0..s7) via the codegen'd expression. All narrow
    * per-row ops, so it runs UNCHANGED on a streaming scan —
    * `StreamingParitySpec`'s d17 twin runs the increment side of the
    * incremental dedup as a stream against the static base. (The batch
    * path adds a persist, which a streaming plan must not.) */
  private[graft] def sigsOf(docs: DataFrame): DataFrame = {
    val sig = docs
      .select(col("doc_id"), split(trim(col("text")), Tok.Ws).as("w"))
      .filter(size(col("w")) >= 3)
      .select(col("doc_id"), graft.functions.MinHashSigs(col("w")).as("sig"))
    sig.select((col("doc_id") +:
      (0 until 8).map(j => element_at(col("sig"), j + 1).as(s"s$j"))): _*)
  }

  /** Jaccard-verified near-dup pairs (doc_a, doc_b, jaccard >= 0.2),
    * UNSORTED — shared by d07 (which adds the output ORDER BY) and d09
    * (which only needs the pair set, so it must not pay a discarded
    * global sort). */
  private def verifiedPairs(s: SparkSession, d: String): DataFrame =
    SessionScope.frame(s, d, "d_verified", Checkpointed) {
      // r19: memoized localCheckpoint — d07 and d09 each rebuilt the
      // candidate generation + Jaccard verification per invocation (the
      // persisted sub-frames plan-matched, the join work did not); the
      // verified pair set for a fixed corpus is a constant a dedup
      // pipeline computes once and feeds to both reporting and
      // clustering. The build-scoped shingle cache is released once
      // the checkpoint materializes.
      import s.implicits._
      val cand = lshCandidates(minhashSigs(s, d))
      // exact verification over candidates only
      val shd = SessionScope.cache(shingles(s, d).select($"doc_id", $"s"))
      // per-doc distinct-shingle count is the ARRAY size — a narrow map,
      // not a groupBy over the exploded rows
      val cnt = shingleArrays(s, d)
        .select($"doc_id", size($"sarr").cast("long").as("n"))
      val common = cand
        .join(shd.as("x"), $"doc_a" === col("x.doc_id"))
        .join(shd.as("y"), $"doc_b" === col("y.doc_id") && col("x.s") === col("y.s"))
        .groupBy($"doc_a", $"doc_b").agg(count(lit(1)).as("c"))
      common
        .join(cnt.as("cx"), $"doc_a" === col("cx.doc_id"))
        .join(cnt.as("cy"), $"doc_b" === col("cy.doc_id"))
        .select($"doc_a", $"doc_b",
          ($"c".cast("double") / (col("cx.n") + col("cy.n") - $"c")).as("jaccard"))
        .filter($"jaccard" >= 0.2)
    }

  /** md5 hashes of fixed 20-word chunks per doc: (doc_id, source, h).
    * NARROW — `slice` over the per-row token array, no
    * groupBy-over-exploded-words; the span unit of d13's dedup census and
    * d15's cross-source overlap matrix (the corpus has no paragraph
    * breaks, so the fixed chunk stands in for the paragraph). */
  private def chunkHashes(s: SparkSession, d: String): DataFrame =
    chunkHashesOf(Tables.documents(s, d))

  /** The chunking transform itself, on an arbitrary `documents`-shaped
    * DataFrame. Narrow per-row ops only, so it runs UNCHANGED on a
    * streaming scan — `StreamingParitySpec` composes it with
    * `dropDuplicatesWithinWatermark` to extend the streaming==batch proof
    * to the span-dedup family. */
  private[graft] def chunkHashesOf(docs: DataFrame): DataFrame = {
    val chunkWords = 20
    docs
      .select(col("doc_id"), col("source"), split(trim(col("text")), Tok.Ws).as("ws"))
      .filter(size(col("ws")) > 0)
      .select(col("doc_id"), col("source"),
        explode(transform(
          sequence(lit(0L), ceil(size(col("ws")) / lit(chunkWords.toDouble)).cast("long") - 1),
          i => md5(concat_ws(" ",
            slice(col("ws"), (i * chunkWords + 1).cast("int"), lit(chunkWords))))))
          .as("h"))
  }

  /** Materialize the three nightly dedup-ledger SIDECARS (base side,
    * `doc_id % 10 <> 7`) to parquet and hand back the RE-READ frames —
    * the lifecycle d17/c11's scaladocs promise ("the base contributes
    * its fingerprint / band / chunk-hash ledgers — maintained sidecars")
    * made real, s22/c13's prove-the-files pattern applied to dedup:
    *  - `fp`:     (doc_id, md5 fingerprint) — the exact-dup ledger
    *  - `sigs`:   (doc_id, s0..s7)          — the MinHash signature
    *               ledger (band keys derive from it on read, so one file
    *               serves both the LSH join and the agreement check)
    *  - `chunks`: distinct chunk hashes     — c11's span-dedup ledger
    * Per-sfDir path: a nightly run must never join another scale's
    * ledger. At 100 TB these are the files an ingest run APPENDS to;
    * bucket fp/sigs by doc_id and chunks by hash so tonight's increment
    * joins co-partitioned. */
  def ledgerSidecars(s: SparkSession, d: String): (DataFrame, DataFrame, DataFrame) = {
    val base = Tables.documents(s, d).filter(col("doc_id") % 10 =!= 7)
    // session-unique artifact root since r19 (SessionScope.artifactPath):
    // the fixed per-sfDir path risked cross-session overwrites under
    // open lazily-read ledger frames
    val path = SessionScope.artifactPath(s, "d22_ledgers", d)
    base.select(col("doc_id"), md5(col("text").cast("binary")).as("fp"))
      .write.mode("overwrite").parquet(path + "/fp")
    sigsOf(base).write.mode("overwrite").parquet(path + "/sigs")
    chunkHashesOf(base).select(col("h")).distinct()
      .write.mode("overwrite").parquet(path + "/chunks")
    (s.read.parquet(path + "/fp"), s.read.parquet(path + "/sigs"),
      s.read.parquet(path + "/chunks"))
  }

  /** d01's representative convention as a corpus filter: only each
    * md5(text) group's min-doc_id row survives. Map-side-combinable
    * (fp → min id) agg, semi-joined back on doc_id. */
  private[ext] def repsOnly(docs: DataFrame): DataFrame = {
    val reps = docs
      .groupBy(md5(col("text").cast("binary")).as("fp"))
      .agg(min(col("doc_id")).as("rep_id"))
    docs.join(reps, col("doc_id") === col("rep_id"), "leftsemi")
  }

  /** The span-dedup + rebuild core shared by d16 and c09: chunk `text`
    * into 20-word spans, keep only each chunk hash's lexicographic-first
    * (doc_id, idx) occurrence corpus-wide, and rebuild the cleaned text
    * from the surviving chunks. All non-`text` input columns pass
    * through; adds n_chunks / kept_chunks / n_dropped_chunks /
    * cleaned_text. The winner set is a map-side-combinable
    * min(struct(doc_id, idx)) agg over 16-byte hashes — text never rides
    * a dedup shuffle; the only text exchange is the final doc_id-keyed
    * join that re-slices kept chunks. */
  private[ext] def spanCleaned(
      docs: DataFrame, excludeHashes: Option[DataFrame] = None): DataFrame = {
    val cw = 20
    val kept = docs
      .withColumn("ws", split(trim(col("text")), Tok.Ws))
      .filter(size(col("ws")) > 0)
      .withColumn("chunks", transform(
        sequence(lit(0L), ceil(size(col("ws")) / lit(cw.toDouble)).cast("long") - 1),
        i => concat_ws(" ", slice(col("ws"), (i * cw + 1).cast("int"), lit(cw)))))
      .drop("ws", "text")
    val inst0 = kept
      .select(col("doc_id"), posexplode(col("chunks")).as(Seq("idx", "ctext")))
      .select(col("doc_id"), col("idx"), md5(col("ctext").cast("binary")).as("h"))
    // optional external ledger (a `h` column of already-shipped chunk
    // hashes): instances whose span the ledger already holds can never
    // win — c11's incremental build anti-joins the BASE corpus's chunk
    // ledger here, so only never-seen spans ship. 16-byte-key anti-join;
    // the text never rides it.
    val inst = excludeHashes.fold(inst0)(ex =>
      inst0.join(ex.select(col("h")), Seq("h"), "left_anti"))
    val winners = inst.groupBy(col("h"))
      .agg(min(struct(col("doc_id"), col("idx"))).as("w"))
      .select(col("w.doc_id").as("wdoc"), col("w.idx").as("widx"))
    val keptIdx = winners.groupBy(col("wdoc"))
      .agg(sort_array(collect_list(col("widx"))).as("ki0"))
    kept.join(keptIdx, col("doc_id") === col("wdoc"), "left")
      .withColumn("ki", coalesce(col("ki0"), array().cast("array<int>")))
      .withColumn("n_chunks", size(col("chunks")).cast("long"))
      .withColumn("kept_chunks", size(col("ki")).cast("long"))
      .withColumn("n_dropped_chunks",
        (size(col("chunks")) - size(col("ki"))).cast("long"))
      .withColumn("cleaned_text",
        concat_ws(" ", transform(col("ki"), i => element_at(col("chunks"), i + 1))))
      .drop("chunks", "ki0", "ki", "wdoc", "widx")
  }

  /** Multi-index SimHash block pairing (d11's candidate join): 4×8-bit
    * block keys → multi-index equi-join (pigeonhole: a Hamming ≤ 3 pair
    * agrees exactly on ≥1 of the 4 blocks) → popcount verify → pair
    * dedup. `maxBlockMembers` is the HOT-BLOCK CIRCUIT BREAKER for
    * boilerplate-heavy corpora: a (block, value) bucket whose member
    * count exceeds the cap is excluded from pairing — its members still
    * pair through their other three blocks, so only pairs that agree on
    * NOTHING but the hot block lose recall (the documented trade; the
    * structural fix remains wider blocks over a wider signature, d08's
    * 4×16 over 64 bits). The census is ≤ 4×256 rows, so the gate is a
    * broadcast equi-join — the default `None` keeps d11's exact
    * oracle-checked plan with zero extra operators. */
  /** Default hot-block cap for [[simhashBlockPairs]]: bounds any single
    * (block, value) bucket's pairing to cap²/2 comparisons regardless of
    * corpus size, which is what makes the multi-index join safe on
    * boilerplate-heavy corpora at 100 TB. Measured harness bucket maxima:
    * 128 at sf0.01 (the oracle gate — cap never bites, result identical)
    * and 1338 at sf0.1, where the one over-cap bucket is real boilerplate
    * skew (893k pairs from a single 8-bit bucket) — precisely the
    * quadratic this cap is for. Mirrored in the d11 oracle SQL so the
    * exclusion is engine-independent. */
  private[graft] val DefaultBlockCap = 1000L

  /** Fail-fast row bound for exact all-pairs baselines (d05): 100k rows is
    * already 5×10⁹ pair comparisons — the largest input where the O(n²)
    * scan is defensible as a recall-calibration baseline. */
  private[graft] val AllPairsMaxRows = 100000L

  /** Scale guard for the exact all-pairs baseline: counting the input and
    * refusing above [[AllPairsMaxRows]] turns "someone pointed the
    * calibration baseline at the production corpus" from a cluster-melting
    * silent quadratic into an immediate error naming the scale-shaped
    * alternative. The count is cheap for the current caller (a bare parquet
    * scan — metadata-only, no data pages) but would be a data scan for a
    * filtered/derived input, so it is MEMOIZED per (canonical plan): one
    * guard job per distinct input per JVM, not one per invocation, keeping
    * repeated timed runs (Bench reps, Verify) guard-cost-free after the
    * first. */
  private val guardCounts =
    scala.collection.concurrent.TrieMap
      .empty[org.apache.spark.sql.catalyst.plans.logical.LogicalPlan, Long]
  private[graft] def guardAllPairs(df: DataFrame, what: String): DataFrame = {
    val n = guardCounts.getOrElseUpdate(
      df.queryExecution.logical.canonicalized, df.count())
    require(n <= AllPairsMaxRows,
      s"$what: exact all-pairs baseline over $n rows (> $AllPairsMaxRows). " +
        "This O(n²) scan exists for recall calibration only; at scale use " +
        "the IVF-cell-bounded d12_semantic_dedup (SemDeDup) form.")
    df
  }

  private[graft] def simhashBlockPairs(
      sh: DataFrame, maxBlockMembers: Option[Long] = None): DataFrame = {
    val bandCols = (0 until 4).map(b => struct(
      lit(b).as("bi"), shiftright(col("sh"), 8 * b).bitwiseAND(255).as("bv")))
    val bands1 = sh.select(col("doc_id"), col("sh"), explode(array(bandCols: _*)).as("band"))
      .select(col("doc_id"), col("sh"), col("band.bi"), col("band.bv"))
    val bands = maxBlockMembers.fold(bands1) { cap =>
      // cached: the census, then BOTH sides of the pair self-join,
      // would otherwise each re-scan the corpus and re-hash signatures
      // (4 scans for 1); the cached frame is 4 narrow rows/doc — the
      // materialized signature index a production pipeline stores anyway
      val bands0 = SessionScope.cache(bands1)
      val cool = bands0.groupBy(col("bi"), col("bv")).agg(count(lit(1)).as("bn"))
        .filter(col("bn") <= cap).select(col("bi"), col("bv"))
      bands0.join(broadcast(cool), Seq("bi", "bv"))
    }
    bands.as("a").join(bands.as("b"),
        col("a.bi") === col("b.bi") && col("a.bv") === col("b.bv")
          && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        bit_count(col("a.sh").bitwiseXOR(col("b.sh"))).as("hamming"))
      .filter(col("hamming") <= 3)
      .distinct()
  }

  /** (doc_id, band_idx, band_key) LSH band rows from signatures — the
    * bucket-key half of [[lshCandidates]], factored out so d17 can build
    * an ASYMMETRIC (increment→base) band join instead of the self-join.
    * Sentinel signatures are dropped here (see [[lshCandidates]]'s note). */
  private def bandKeys(sigs: DataFrame): DataFrame = {
    val bandCols = (0 until 4).map(b => struct(
      lit(b).as("band_idx"),
      (col(s"s${2 * b}") * MinhashP + col(s"s${2 * b + 1}")).as("band_key")))
    sigs.filter(col("s0") =!= Long.MaxValue)
      .select(col("doc_id"), explode(array(bandCols: _*)).as("band"))
      .select(col("doc_id"), col("band.band_idx"), col("band.band_key"))
  }

  /** LSH band-bucket candidate pairs (doc_a < doc_b) from signatures:
    * 4 bands × 2 rows, integer band keys, equi-join. Sentinel signatures
    * (all Long.MaxValue — docs with no shingles, see [[graft.functions
    * .MinHashSigs]]) are dropped defensively: without this, every
    * shingle-less doc would share one bucket (O(k²) bogus pairs) and the
    * band-key product would overflow. Current producers filter
    * `size(w) >= 3` already, so this changes nothing for them. */
  /** d25's core on an arbitrary `documents`-shaped frame + its
    * signatures: LSH candidates verified by exact DIRECTIONAL
    * containment (|A∩B|/|A| and /|B|, document-local array_intersect —
    * no shingle explode), verdict via the integer cross-product gate
    * 10·common ≥ 8·n (containment ≥ 0.8, no float threshold). Factored
    * so DedupSpec can plant the asymmetric case the harness corpus
    * lacks (its dups are near-exact copies → 'mutual'); the d25 query
    * passes the shared persisted [[minhashSigs]]. */
  private[graft] def containmentReport(docs: DataFrame,
                                       sigs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    val cand = lshCandidates(sigs)
    val arrs = docs.select($"doc_id",
      graft.functions.ShingleArr(split(trim($"text"), Tok.Ws), 3).as("sarr"))
    val inter = size(array_intersect(col("xa.sarr"), col("xb.sarr")))
      .cast("long")
    cand.join(arrs.as("xa"), $"doc_a" === col("xa.doc_id"))
      .join(arrs.as("xb"), $"doc_b" === col("xb.doc_id"))
      .select($"doc_a", $"doc_b",
        size(col("xa.sarr")).cast("long").as("n_a"),
        size(col("xb.sarr")).cast("long").as("n_b"),
        inter.as("common"))
      .select($"doc_a", $"doc_b", $"n_a", $"n_b", $"common",
        round($"common".cast("double") / $"n_a", 6).as("containment_a"),
        round($"common".cast("double") / $"n_b", 6).as("containment_b"),
        when($"common" * 10 >= $"n_a" * 8 && $"common" * 10 >= $"n_b" * 8,
          lit("mutual"))
          .when($"common" * 10 >= $"n_a" * 8, lit("a_in_b"))
          .when($"common" * 10 >= $"n_b" * 8, lit("b_in_a"))
          .otherwise(lit("none")).as("verdict"))
      .orderBy($"doc_a", $"doc_b")
  }

  private def lshCandidates(sigs: DataFrame): DataFrame = {
    val bands = bandKeys(sigs)
    bands.as("a").join(bands.as("b"),
        col("a.band_idx") === col("b.band_idx")
          && col("a.band_key") === col("b.band_key")
          && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
  }

  /** Shared oracle CTEs: words → raw shingles → hashes → signatures →
    * bands → candidate pairs (the SQL twin of minhashSigs + lshCandidates). */
  private[graft] def sqlMinhashCtes: String = {
    val sigCols = (0 until 8).map(j =>
      s"min((${MinhashA(j)} * h + ${MinhashB(j)}) % $MinhashP) AS s$j").mkString(",\n    ")
    val bandSelects = (0 until 4).map(b =>
      s"SELECT doc_id, $b AS band_idx, s${2 * b} * $MinhashP + s${2 * b + 1} AS band_key FROM sigs")
      .mkString("\n  UNION ALL ")
    raw"""words AS (SELECT doc_id, string_split_regex(trim(text), '[ \t\n\x0B\f\r]+') AS w FROM documents),
         |shr AS (SELECT doc_id,
         |    unnest(list_transform(range(1, len(w) - 1),
         |      i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS s
         |  FROM words WHERE len(w) >= 3),
         |hs AS (SELECT doc_id, ('0x' || substr(md5(s), 1, 7))::BIGINT AS h FROM shr),
         |sigs AS (SELECT doc_id,
         |    $sigCols
         |  FROM hs GROUP BY doc_id),
         |bands AS ($bandSelects),
         |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM bands a JOIN bands b ON a.band_idx = b.band_idx
         |    AND a.band_key = b.band_key AND a.doc_id < b.doc_id)""".stripMargin
  }

  /** SQL twin of [[verifiedPairs]] — the ONE definition of the Jaccard
    * verification (threshold included) shared by the d07 and d09 oracles,
    * so the two can never drift apart. */
  private def sqlVerifiedCtes: String =
    raw"""$sqlMinhashCtes,
         |shd AS (SELECT DISTINCT doc_id, s FROM shr),
         |cntd AS (SELECT doc_id, COUNT(*) AS n FROM shd GROUP BY doc_id),
         |common AS (SELECT doc_a, doc_b, COUNT(*) AS c
         |  FROM cand
         |  JOIN shd x ON doc_a = x.doc_id
         |  JOIN shd y ON doc_b = y.doc_id AND x.s = y.s
         |  GROUP BY doc_a, doc_b),
         |verified AS (SELECT doc_a, doc_b,
         |    CAST(c AS DOUBLE) / (cx.n + cy.n - c) AS jaccard
         |  FROM common JOIN cntd cx ON doc_a = cx.doc_id JOIN cntd cy ON doc_b = cy.doc_id
         |  WHERE CAST(c AS DOUBLE) / (cx.n + cy.n - c) >= 0.2)""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Exact dedup: representative id + copy count per distinct text.
    "d01_dedup_exact" -> { (s, d) =>
      import s.implicits._
      Tables.documents(s, d)
        .groupBy(md5($"text".cast("binary")).as("fp"))
        .agg(min($"doc_id").as("rep_id"), count(lit(1)).as("n_copies"))
        .select($"rep_id", $"n_copies", $"fp")
        .orderBy($"rep_id")
    },

    // Exact n-gram Jaccard near-dup pairs (same-source blocking).
    "d02_dedup_ngram_jaccard" -> { (s, d) =>
      import s.implicits._
      // NOT persisted: the shingle subtree appears up to 4× in the plan
      // (both self-join sides + both count branches; broadcast joins
      // don't reuse exchanges), but each copy is a narrow scan + the
      // codegen'd ShingleArr map — recomputing beats a cache
      // materialization barrier (measured: 1.3 s at sf0.1, vs 28 s when
      // the same shape carried the interpreted HOF shingle expression).
      // join key: one 64-bit xxhash of (source, shingle) instead of the
      // two-column string key — narrower shuffle rows, long-vs-long
      // equality. Internal only (outputs never see it); a collision would
      // be caught by the oracle gate, and at 2^-64 rates it's the same
      // trade every large-scale shuffle-by-hash makes.
      val sh = shingles(s, d)
        .withColumn("k", xxhash64($"source", $"s"))
        .select($"doc_id", $"k")
      val cnt = sh.groupBy($"doc_id").agg(count(lit(1)).as("n"))
      val com = sh.as("a").join(sh.as("b"),
          col("a.k") === col("b.k") && col("a.doc_id") < col("b.doc_id"))
        .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
        .agg(count(lit(1)).as("c"))
      com
        .join(cnt.as("x"), $"doc_a" === col("x.doc_id"))
        .join(cnt.as("y"), $"doc_b" === col("y.doc_id"))
        .select($"doc_a", $"doc_b",
          ($"c".cast("double") / (col("x.n") + col("y.n") - $"c")).as("jaccard"))
        .filter($"jaccard" >= 0.2)
        .orderBy($"doc_a", $"doc_b")
    },

    // MinHash (8 permutations) + LSH (4 bands × 2 rows): candidate pairs
    // with estimated similarity = matching signature fraction.
    //
    // Signatures come from the codegen'd MinHashSigs expression — one md5
    // per shingle, 8 integer permutations `(A_j * h + B_j) mod P` over the
    // 28-bit md5 prefix, all minima folded per ROW inside the scan stage
    // (no shingle explode, no groupBy shuffle). Band keys are exact 63-bit
    // integers (s_even * P + s_odd), so the LSH bucket join shuffles
    // 16-byte keys. This is the shape that scales: signatures are one
    // narrow row per document computed in a narrow map, candidates come
    // from an equi-join, and only candidates are ever paired.
    "d03_dedup_minhash_lsh" -> { (s, d) =>
      import s.implicits._
      val sigs = minhashSigs(s, d)
      val cand = lshCandidates(sigs)
      val matches: Column = (0 until 8)
        .map(j => when(col(s"x.s$j") === col(s"y.s$j"), 1).otherwise(0))
        .reduce(_ + _)
      cand
        .join(sigs.as("x"), $"doc_a" === col("x.doc_id"))
        .join(sigs.as("y"), $"doc_b" === col("y.doc_id"))
        .select($"doc_a", $"doc_b", (matches.cast("double") / 8.0).as("est_sim"))
        .orderBy($"doc_a", $"doc_b")
    },

    // SimHash (16-bit, md5-derived) near-dup pairs with Hamming <= 2,
    // blocked by lang.
    "d04_dedup_simhash" -> { (s, d) =>
      import s.implicits._
      // one codegen'd narrow pass per doc (graft.functions.SimHashMd516)
      // — value-identical to the former explode → 16 conditional sums →
      // bit-recombine pipeline (and to the unchanged DuckDB oracle), but
      // the signature fuses into the scan: no word explode, no 16-sum
      // groupBy shuffle (the d08/d11 treatment applied at 16-bit width)
      val sh = Tables.documents(s, d)
        .select($"doc_id", $"lang",
          graft.functions.SimHashMd516(split(trim($"text"), Tok.Ws)).as("simhash"))
      // Value-space Hamming search: a 16-bit simhash has at most 2^16
      // distinct values, and in practice far fewer than there are docs —
      // so pair up the distinct (lang, value)s first (tiny quadratic,
      // lang-partitioned) and expand the qualifying value pairs back to
      // doc pairs with two equi-joins. EXACTLY the naive O(n²) pair set
      // (the value space is exhaustive — no pigeonhole argument needed),
      // but the quadratic step never touches per-doc rows. For signatures
      // too wide to enumerate (64-bit), the multi-index block equi-join of
      // d08 is the scale path instead.
      val vals = sh.select($"lang", $"simhash").distinct()
      // Each unordered value pair appears in both orientations, and the
      // doc-level `doc_a < doc_b` keeps exactly one expansion of each —
      // including same-value (Hamming 0) buckets.
      val vp = vals.as("va").join(vals.as("vb"),
          col("va.lang") === col("vb.lang") &&
            bit_count(col("va.simhash").bitwiseXOR(col("vb.simhash"))) <= 2)
        .select(col("va.lang").as("vl"),
          col("va.simhash").as("ha"), col("vb.simhash").as("hb"))
      vp
        .join(sh.as("x"), $"vl" === col("x.lang") && $"ha" === col("x.simhash"))
        .join(sh.as("y"), $"vl" === col("y.lang") && $"hb" === col("y.simhash")
          && col("x.doc_id") < col("y.doc_id"))
        .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
          bit_count($"ha".bitwiseXOR($"hb")).as("hamming"))
        .orderBy($"doc_a", $"doc_b")
    },

    // Capstone: the full scalable near-dup pipeline in one query —
    // MinHash signatures -> LSH band candidates -> exact Jaccard verify
    // restricted to candidates. This is the production shape at 100 TB:
    // the O(n²) verifier only ever sees the (tiny) candidate set.
    "d07_dedup_pipeline" -> { (s, d) =>
      verifiedPairs(s, d).orderBy(col("doc_a"), col("doc_b"))
    },

    // Dedup cluster formation — the step after pair discovery: connected
    // components over the verified near-dup pairs (d07), each doc labeled
    // with its component's minimum doc_id as the kept representative.
    // Multi-level local contraction (graft.operators.ConnectedComponents):
    // partition-local union-find passes, single-task finish once the
    // contracted star set fits one executor — log_fanIn(P) narrow passes
    // instead of O(diameter) join+aggregate shuffle rounds. Oracle =
    // DuckDB recursive CTE transitive closure (min reachable id).
    "d09_dedup_clusters" -> { (s, d) =>
      import s.implicits._
      // No staging needed before the contraction: ConnectedComponents
      // persists its first level's star output, so the MinHash pipeline
      // runs exactly once (the level-1 mapPartitions fuses into the
      // pipeline's final stage) and later levels never re-touch it.
      val pairs = verifiedPairs(s, d).select($"doc_a", $"doc_b")
      graft.operators.ConnectedComponents.labels(pairs, "doc_a", "doc_b")
        .select($"node".as("doc_id"), $"lbl".as("cluster_rep"))
        .orderBy($"doc_id")
    },

    // Edit-distance near-dup: Levenshtein over document prefixes, blocked
    // on (source, first word). Edit distance is O(m*n) per pair — at scale
    // it's strictly a verifier over blocked/LSH candidates, never a primary
    // scan; the first-word block is the standard record-linkage multi-pass
    // blocking (pairs differing in their first word are d03/d07's job).
    "d06_dedup_levenshtein" -> { (s, d) =>
      import s.implicits._
      val pre = Tables.documents(s, d)
        .select($"doc_id", $"source",
          element_at(split(trim($"text"), Tok.Ws), 1).as("w1"),
          substring($"text", 1, 40).as("p"))
      pre.as("a").join(pre.as("b"),
          col("a.source") === col("b.source") && col("a.w1") === col("b.w1")
            && col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
          levenshtein(col("a.p"), col("b.p")).as("edit_dist"))
        .filter($"edit_dist" <= 12)
        .orderBy($"doc_a", $"doc_b")
    },

    // Production-width 64-bit SimHash signatures with 4×16-bit multi-index
    // block keys for the scale-path equi-join. The word hash is md5-derived
    // (codegen'd SimHashMd564) so DuckDB can replicate the signature
    // bit-for-bit — the oracle rebuilds each 64-bit word hash from two
    // 32-bit md5-prefix halves. The xxHash64 variant (SimHash64, faster
    // per token, no cross-engine oracle possible) stays the drop-in hash
    // plug: identical signature layout and downstream join shape,
    // cross-checked against a Scala reference in SimHash64Spec.
    "d08_simhash64_signatures" -> { (s, d) =>
      import s.implicits._
      val sig = graft.functions.SimHashMd564(split(trim($"text"), Tok.Ws))
      Tables.documents(s, d)
        .select($"doc_id", sig.as("simhash64"))
        .select($"doc_id", $"simhash64",
          ($"simhash64".bitwiseAND(0xffffL)).as("block0"),
          (shiftright($"simhash64", 16).bitwiseAND(0xffffL)).as("block1"),
          (shiftright($"simhash64", 32).bitwiseAND(0xffffL)).as("block2"),
          (shiftright($"simhash64", 48).bitwiseAND(0xffffL)).as("block3"))
        .orderBy($"doc_id")
    },

    // Dedup savings accounting — the report every dedup run ends with:
    // per source, how many documents/tokens exact dedup removes when each
    // duplicate group keeps its min-doc_id representative.
    //
    // Skew-immune two-level shape: docs first reduce to one row per
    // (fingerprint, source) — a map-side-combinable aggregation, so a
    // boilerplate text duplicated 10^9 times costs partial counts, never
    // 10^9 rows on one reducer. The representative then comes from a
    // window over fingerprint on the REDUCED set, whose per-group width
    // is at most the source count. Docs within a fingerprint group have
    // identical text, hence identical token counts, so the group's
    // per-doc tokens are recovered exactly as `tk_fs div n_fs`. Removal
    // fraction is integer-derived, rounded in double.
    "d10_dedup_savings" -> { (s, d) =>
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val docs = Tables.documents(s, d)
        .select($"doc_id", $"source",
          md5($"text".cast("binary")).as("fp"),
          size(split(trim($"text"), Tok.Ws)).cast("long").as("tk"))
      val grp = docs.groupBy($"fp", $"source")
        .agg(count(lit(1)).as("n_fs"), sum($"tk").as("tk_fs"),
          min($"doc_id").as("min_fs"))
        .withColumn("rep_fp", min($"min_fs").over(Window.partitionBy($"fp")))
      val repHere = $"min_fs" === $"rep_fp"
      grp.groupBy($"source")
        .agg(sum($"n_fs").as("docs_total"),
          sum(when(repHere, $"n_fs" - 1).otherwise($"n_fs")).as("dup_docs"),
          sum($"tk_fs").as("toks_total"),
          sum(when(repHere, $"tk_fs" - expr("tk_fs div n_fs"))
            .otherwise($"tk_fs")).as("dup_toks"))
        .withColumn("dup_tok_frac",
          round($"dup_toks".cast("double") / $"toks_total".cast("double"), 6))
        .orderBy($"source")
    },

    // The multi-index SimHash pair search END-TO-END, oracle-checked:
    // 32-bit md5-derived signatures (codegen'd SimHashMd5, one narrow
    // pass — no word explode, no 32-sum shuffle) → 4×8-bit block keys →
    // multi-index equi-join (pigeonhole: a Hamming ≤ 3 pair must agree
    // exactly on ≥1 of the 4 blocks) → popcount verify → pair dedup.
    // This is the production near-dup JOIN shape at 100 TB (d08 emits
    // the same layout at 64/16-bit width, where no DuckDB oracle
    // exists): candidates come from an equi-join keyed on 2-byte block
    // values, never an all-pairs comparison; only the verified pairs —
    // already Hamming-filtered — pay the distinct. On skewed corpora a
    // hot block (boilerplate-heavy text) widens: the fix is wider
    // blocks over a wider signature (d08's 4×16 over 64 bits), same
    // plan shape; [[simhashBlockPairs]]'s maxBlockMembers cap is the
    // runtime circuit breaker (adversarially tested in DedupSpec) and is
    // ON by default here ([[DefaultBlockCap]], mirrored in the oracle) so
    // the 8-bit demo width cannot go quadratic on a hot block.
    "d11_dedup_simhash_blocks" -> { (s, d) =>
      import s.implicits._
      val sh = Tables.documents(s, d)
        .select($"doc_id",
          graft.functions.SimHashMd5(split(trim($"text"), Tok.Ws)).as("sh"))
      simhashBlockPairs(sh, Some(DefaultBlockCap)).orderBy($"doc_a", $"doc_b")
    },

    // Cross-source duplicated-span overlap matrix — the PROVENANCE report
    // a multi-source corpus build ends with: which pairs of sources carry
    // the same verbatim 20-word spans, how many distinct spans, and how
    // many cross-source doc pairs that implies (mirror sites, syndicated
    // boilerplate, double-licensed dumps). Work rides on the REDUCED
    // (chunk-hash, source) table — one partial-aggregated shuffle of
    // 16-byte hashes — and the self-join is an equi-join on the hash
    // whose per-key width is bounded by the SOURCE count, never the
    // corpus: a span duplicated a billion times still contributes one
    // row per source. Exact integer doc counts make doc_pairs exact.
    "d15_source_overlap" -> { (s, d) =>
      import s.implicits._
      val fs = chunkHashes(s, d)
        .groupBy($"h", $"source").agg(countDistinct($"doc_id").as("nd"))
      fs.as("a").join(fs.as("b"),
          col("a.h") === col("b.h") && col("a.source") < col("b.source"))
        .select(col("a.source").as("source_a"), col("b.source").as("source_b"),
          (col("a.nd") * col("b.nd")).as("dp"))
        .groupBy($"source_a", $"source_b")
        .agg(count(lit(1)).as("shared_chunks"), sum($"dp").as("doc_pairs"))
        .orderBy($"source_a", $"source_b")
    },

    // Embedding-cosine near-dup pairs (exact O(n^2) baseline), guarded:
    // [[guardAllPairs]] fail-fasts above [[AllPairsMaxRows]] so the
    // baseline cannot silently run its quadratic at corpus scale.
    "d05_dedup_embedding_cosine" -> { (s, d) =>
      import s.implicits._
      val e = guardAllPairs(Tables.embeddings(s, d), "d05_dedup_embedding_cosine")
        .select($"vec_id", $"embedding".cast("array<double>").as("v"))
        .withColumn("nrm", Similarity.dot($"v", $"v"))
      val cos = Similarity.cosineWithNorms(
        col("a.v"), col("b.v"), col("a.nrm"), col("b.nrm"))
      // spread the streamed side of the pair loop across all cores — the
      // broadcast-NLJ parallelism equals the streamed side's partitions
      val par = s.sparkContext.defaultParallelism
      e.repartition(par).as("a").join(e.as("b"), col("a.vec_id") < col("b.vec_id"))
        .select(col("a.vec_id").as("id_a"), col("b.vec_id").as("id_b"), cos.as("cos"))
        .filter($"cos" > 0.35)
        .select($"id_a", $"id_b", round($"cos", 6).as("cos_sim"))
        .orderBy($"id_a", $"id_b")
    },

    // Semantic dedup (SemDeDup, Abbas et al. 2023): cluster the embedding
    // space coarsely (the s03 IVF assignment — nearest of 8 deterministic
    // centroids, map-side-combinable argmax), then search for near-dup
    // pairs ONLY within a cluster. This is d05's exact O(n²) cosine scan
    // made scale-shaped: the quadratic is bounded to a cell, and at 100 TB
    // the cell count grows with the corpus (k ~ sqrt(n) in the paper's
    // setup), so per-cell work stays flat while cells parallelize across
    // executors — an equi-join on `cell`, never a cross join. A vector is
    // dropped when some LOWER-id member of its cell exceeds the cosine
    // threshold (min-id representative, d01's convention): one pass, no
    // iterative greedy, deterministic in both engines.
    "d12_semantic_dedup" -> { (s, d) =>
      import s.implicits._
      val e = Tables.embeddings(s, d)
        .select($"vec_id", $"embedding".cast("array<double>").as("v"))
        .withColumn("nrm", Similarity.dot($"v", $"v"))
      val cents = e.filter($"vec_id" < 8)
        .select($"vec_id".as("cent_id"), $"v".as("cv"), $"nrm".as("cnrm"))
      // same map-side-combinable argmax assignment as s03 (see there)
      // cached: both sides of the pair self-join consume it, and the
      // plan otherwise re-scores the full corpus twice (no ReusedExchange
      // across the differently-projected join sides) — the production
      // layout writes the cell assignment once, then pairs against it
      val assigned = SessionScope.cache(e.join(broadcast(cents))
        .select($"vec_id", $"v", $"nrm", $"cent_id",
          Similarity.cosineWithNorms($"v", $"cv", $"nrm", $"cnrm").as("ccos"))
        .groupBy($"vec_id")
        .agg(max_by(struct($"v", $"nrm", $"cent_id"),
          struct($"ccos", (-$"cent_id").as("tb"))).as("b"))
        .select($"vec_id", $"b.v".as("v"), $"b.nrm".as("nrm"),
          $"b.cent_id".as("cell")))
      val cos = Similarity.cosineWithNorms(
        col("a.v"), col("b.v"), col("a.nrm"), col("b.nrm"))
      assigned.as("a").join(assigned.as("b"),
          col("a.cell") === col("b.cell") && col("a.vec_id") < col("b.vec_id"))
        .select(col("b.cell").as("cell"), col("b.vec_id").as("drop_id"),
          col("a.vec_id").as("cand_keep"), cos.as("cos"))
        .filter($"cos" > 0.35)
        .groupBy($"cell", $"drop_id")
        .agg(min($"cand_keep").as("keep_id"), round(max($"cos"), 6).as("max_cos"))
        .orderBy($"cell", $"drop_id")
    },

    // Estimator-quality evaluation for the MinHash index: for every LSH
    // candidate pair, the signature-estimated Jaccard (matching components
    // / 8) against the exact shingle Jaccard, with the absolute error.
    // This is the calibration report that justifies a production
    // signature width / band layout — run it on a sample before fixing
    // the dedup threshold. Exact verification happens on CANDIDATES ONLY
    // (d07's discipline): the corpus-wide work is the narrow signature
    // pass; the exact Jaccard comes from per-doc distinct shingle ARRAYS
    // (array_intersect — document-local, no shingle explode or shuffle),
    // joined to the tiny candidate list by doc id. est is k/8 and exact
    // is an integer ratio, so both engines compute identical doubles.
    "d14_minhash_calibration" -> { (s, d) =>
      import s.implicits._
      val sigs = minhashSigs(s, d)
      val cand = lshCandidates(sigs)
      val sigArr = sigs.select($"doc_id",
        array((0 until 8).map(j => col(s"s$j")): _*).as("sig"))
      val arrs = shingleArrays(s, d).select($"doc_id", $"sarr")
      val est = (size(filter(zip_with(col("sa.sig"), col("sb.sig"),
        (x, y) => x === y), b => b)).cast("double") / 8.0)
      val inter = size(array_intersect(col("xa.sarr"), col("xb.sarr"))).cast("long")
      cand
        .join(sigArr.as("sa"), $"doc_a" === col("sa.doc_id"))
        .join(sigArr.as("sb"), $"doc_b" === col("sb.doc_id"))
        .join(arrs.as("xa"), $"doc_a" === col("xa.doc_id"))
        .join(arrs.as("xb"), $"doc_b" === col("xb.doc_id"))
        .select($"doc_a", $"doc_b", est.as("est_j"), inter.as("c"),
          size(col("xa.sarr")).cast("long").as("na"),
          size(col("xb.sarr")).cast("long").as("nb"))
        .select($"doc_a", $"doc_b", round($"est_j", 6).as("est_jaccard"),
          round($"c".cast("double") / ($"na" + $"nb" - $"c"), 6)
            .as("exact_jaccard"),
          round(abs($"est_j" - $"c".cast("double") / ($"na" + $"nb" - $"c")), 6)
            .as("abs_err"))
        .orderBy($"doc_a", $"doc_b")
    },

    // CONTAINMENT dedup — the MassiveText/Gopher overlap rule symmetric
    // Jaccard cannot express: a short doc EMBEDDED in a longer one has
    // low Jaccard (the union is big) but containment |A∩B|/|A| ≈ 1 —
    // the subset-duplicate that survives d02/d07 and is exactly what
    // boilerplate-wrapped re-posts look like. Candidates come from the
    // SAME LSH index every verifier here reuses (d07's discipline:
    // corpus-wide work is the narrow signature pass, exact set math
    // runs on candidates only, document-local via array_intersect — no
    // shingle explode). Both directional containments are reported, and
    // the verdict gate is the INTEGER cross-product 10·common ≥ 8·n
    // (containment ≥ 0.8 with no float threshold to disagree on):
    // 'a_in_b' / 'b_in_a' name the absorbed side, 'mutual' is the
    // near-exact-dup both-ways case, 'none' is an LSH candidate the
    // exact check rejects.
    //
    // Scale shape: identical to d14 — signature pass + band-key
    // equi-join + per-candidate document-local set arithmetic; shuffle
    // carries signatures, band keys, and (pair, counts), never text.
    "d25_containment_dedup" -> { (s, d) =>
      containmentReport(Tables.documents(s, d), minhashSigs(s, d))
    },

    // Cleaned-corpus MATERIALIZATION — the step every report-producing
    // dedup operator here feeds: actually emit the transformed corpus.
    // Two rules compose: (1) d01's exact-doc convention — only the
    // min-doc_id representative of each md5(text) group survives; (2)
    // span dedup over d13's 20-word chunk unit — a chunk INSTANCE
    // survives iff it is the lexicographic-first (doc_id, idx) occurrence
    // of its hash corpus-wide (Dolma's duplicated-paragraph removal,
    // keep-first). Output per surviving doc: chunk census + the cleaned
    // text rebuilt from its surviving chunks.
    //
    // Scale shape: the rep set is a map-side-combinable (fp → min doc_id)
    // agg (16+8-byte partials) semi-joined back on doc_id; the span
    // winner set is a map-side-combinable min(struct(doc_id, idx)) agg
    // keyed on the 16-byte chunk hash — text NEVER rides a dedup
    // shuffle; the only exchange that carries text is the final
    // doc_id-keyed join that re-slices the kept chunks out of the kept
    // docs (at 100 TB: one text pass, co-partitioned by doc_id, vs the
    // instance stream's 28-byte rows).
    "d16_cleaned_corpus" -> { (s, d) =>
      import s.implicits._
      val docs = Tables.documents(s, d)
      spanCleaned(repsOnly(docs).select($"doc_id", $"text"))
        .select($"doc_id", $"n_chunks", $"kept_chunks", $"n_dropped_chunks",
          $"cleaned_text")
        .orderBy($"doc_id")
    },

    // Incremental (batch-vs-base) dedup — the production shape for a
    // corpus that GROWS: tonight's increment must be deduped against
    // everything already ingested WITHOUT re-deduping the base against
    // itself. The increment here is the deterministic ~10% slice
    // doc_id % 10 = 7; the base is everyone else. Stage 1 (exact):
    // md5 fingerprints, increment fp's equi-joined against the base fp
    // set — at 100 TB the base fingerprints are the bucketed dedup
    // "ledger" sidecar every ingest run maintains, and the join shuffles
    // 16-byte keys for the increment only. Stage 2 (near): the codegen'd
    // MinHash signatures (one narrow row per doc, d03's constants), LSH
    // band keys, and an ASYMMETRIC band join increment→base — the base
    // side is never self-paired, so nightly near-dup cost is driven by
    // the increment's band buckets, not O(corpus²). A candidate is a
    // near-dup when ≥ 4 of 8 signature components agree (d03's
    // est_sim ≥ 0.5). Verdict precedence exact > near > kept; match_id
    // is the smallest matching base doc (deterministic).
    "d17_incremental_dedup" -> { (s, d) =>
      import s.implicits._
      val docs = Tables.documents(s, d)
      val isNew = col("doc_id") % 10 === 7
      val fps = docs.select($"doc_id", md5($"text".cast("binary")).as("fp"))
      val exact = fps.filter(isNew).as("n")
        .join(fps.filter(!isNew).as("o"), col("n.fp") === col("o.fp"))
        .groupBy(col("n.doc_id").as("doc_id"))
        .agg(min(col("o.doc_id")).as("exact_match"))
      val sigs = minhashSigs(s, d)
      val cand = bandKeys(sigs.filter(isNew)).as("a")
        .join(bandKeys(sigs.filter(!isNew)).as("b"),
          col("a.band_idx") === col("b.band_idx")
            && col("a.band_key") === col("b.band_key"))
        .select(col("a.doc_id").as("nid"), col("b.doc_id").as("oid"))
        .distinct()
      val agree: Column = (0 until 8)
        .map(j => when(col(s"x.s$j") === col(s"y.s$j"), 1).otherwise(0))
        .reduce(_ + _)
      val near = cand
        .join(sigs.as("x"), $"nid" === col("x.doc_id"))
        .join(sigs.as("y"), $"oid" === col("y.doc_id"))
        .filter(agree >= 4)
        .groupBy($"nid".as("doc_id"))
        .agg(min($"oid").as("near_match"))
      docs.filter(isNew).select($"doc_id", $"source")
        .join(exact, Seq("doc_id"), "left")
        .join(near, Seq("doc_id"), "left")
        .select($"doc_id", $"source",
          when($"exact_match".isNotNull, lit("exact_dup"))
            .when($"near_match".isNotNull, lit("near_dup"))
            .otherwise(lit("kept")).as("verdict"),
          coalesce($"exact_match", $"near_match").as("match_id"))
        .orderBy($"doc_id")
    },

    // d17 served from the MATERIALIZED ledger files — the nightly run as
    // it actually deploys: the base side contributes NOTHING but its
    // three re-read parquet sidecars ([[ledgerSidecars]] — fingerprints,
    // MinHash signatures, chunk hashes); base text is never re-scanned
    // by the exact/near stages (only the one-off ledger build touches
    // it, the job that in production ran on PREVIOUS nights). Verdicts
    // are d17's exactly; the appended census columns checksum every
    // re-read ledger row (40-bit md5 prefixes, c13's convention), so the
    // oracle — which rebuilds fingerprints, signatures, and chunk hashes
    // from the raw base docs — proves the files carry exactly the
    // ledgers the definitions produce, byte-for-byte through the parquet
    // round-trip. Scale shape: tonight's cost follows the increment
    // (its fp keys and band keys are the only exchange); the ledger
    // joins are equi-joins a bucketed layout co-partitions.
    "d22_ledger_dedup" -> { (s, d) =>
      import s.implicits._
      val (fpL, sigL, chunkL) = ledgerSidecars(s, d)
      val inc = Tables.documents(s, d).filter(col("doc_id") % 10 === 7)
      val exact = inc.select($"doc_id", md5($"text".cast("binary")).as("fp")).as("n")
        .join(fpL.as("o"), col("n.fp") === col("o.fp"))
        .groupBy(col("n.doc_id").as("doc_id"))
        .agg(min(col("o.doc_id")).as("exact_match"))
      val incSigs = sigsOf(inc)
      val cand = bandKeys(incSigs).as("a")
        .join(bandKeys(sigL).as("b"),
          col("a.band_idx") === col("b.band_idx")
            && col("a.band_key") === col("b.band_key"))
        .select(col("a.doc_id").as("nid"), col("b.doc_id").as("oid"))
        .distinct()
      val agree: Column = (0 until 8)
        .map(j => when(col(s"x.s$j") === col(s"y.s$j"), 1).otherwise(0))
        .reduce(_ + _)
      val near = cand
        .join(incSigs.as("x"), $"nid" === col("x.doc_id"))
        .join(sigL.as("y"), $"oid" === col("y.doc_id"))
        .filter(agree >= 4)
        .groupBy($"nid".as("doc_id"))
        .agg(min($"oid").as("near_match"))
      val sigCat = concat_ws(",",
        (col("doc_id") +: (0 until 8).map(j => col(s"s$j"))): _*)
      val census = fpL.agg(count(lit(1)).as("n_fp_ledger"),
          sum(conv(substring(md5(concat_ws(",", $"doc_id", $"fp")
            .cast("binary")), 1, 10), 16, 10).cast("long")).as("fp_checksum"))
        .crossJoin(sigL.agg(count(lit(1)).as("n_sig_ledger"),
          sum(conv(substring(md5(sigCat.cast("binary")), 1, 10), 16, 10)
            .cast("long")).as("sig_checksum")))
        .crossJoin(chunkL.agg(count(lit(1)).as("n_chunk_ledger"),
          sum(conv(substring($"h", 1, 10), 16, 10).cast("long"))
            .as("chunk_checksum")))
      inc.select($"doc_id", $"source")
        .join(exact, Seq("doc_id"), "left")
        .join(near, Seq("doc_id"), "left")
        .select($"doc_id", $"source",
          when($"exact_match".isNotNull, lit("exact_dup"))
            .when($"near_match".isNotNull, lit("near_dup"))
            .otherwise(lit("kept")).as("verdict"),
          coalesce($"exact_match", $"near_match").as("match_id"))
        .crossJoin(broadcast(census))
        .orderBy($"doc_id")
    },

    // Exact-substring maximal-span dedup census — the EVERY-OFFSET form
    // of span dedup (the ExactSubstr shape of Lee et al. 2022,
    // "Deduplicating Training Data Makes Language Models Better"): d13/
    // d16's chunk unit only sees duplicates aligned to 20-word chunk
    // boundaries; here EVERY 20-word window is hashed, duplicated
    // windows are detected corpus-wide, and a doc's overlapping/adjacent
    // duplicated windows merge (gaps-and-islands) into MAXIMAL spans —
    // what a suffix-array pass would report, without building one.
    // Output: per-source census (docs hit, span count, duplicated words,
    // longest span, duplicated-word fraction).
    //
    // Scale shape: window hashing is fused into the scan (codegen'd
    // shingle_hashes — the array lands as a real column before the
    // explode so InferFiltersFromGenerate's duplicates stay cheap), so
    // the corpus-wide duplicate count — the one big exchange, and the
    // same global-sort cost center a suffix array has — carries 8-byte
    // window hashes with map-side partial counts, never window text.
    // The span-merge windows run only over DUPLICATED positions (a small
    // fraction of the corpus), and the per-doc stats are a broadcast-
    // sized join back to the doc table.
    "d18_substring_spans" -> { (s, d) =>
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val K = 20
      // spread: the md5 window hashing is the dominant per-row cost and
      // must not run at a single row group's parallelism (no-op at scale)
      val docs = Tables.spread(s, Tables.documents(s, d))
        .select($"doc_id", $"source", split(trim($"text"), Tok.Ws).as("w"))
      val pos = docs
        .select($"doc_id", graft.functions.ShingleHashes($"w", K).as("hs"))
        .select($"doc_id", posexplode($"hs").as(Seq("p0", "h")))
        .select($"doc_id", ($"p0" + 1).cast("long").as("pos"), $"h")
      val dupH = pos.groupBy($"h").agg(count(lit(1)).as("c"))
        .filter($"c" > 1).select($"h")
      val dp = pos.join(dupH, "h").select($"doc_id", $"pos")
      val wPrev = Window.partitionBy($"doc_id").orderBy($"pos")
        .rowsBetween(Window.unboundedPreceding, -1)
      val wRun = Window.partitionBy($"doc_id").orderBy($"pos")
      val spans = dp
        .withColumn("ni",
          when($"pos" > coalesce(max($"pos" + lit(K - 1)).over(wPrev), lit(-1L)) + 1,
            1L).otherwise(0L))
        .withColumn("island", sum($"ni").over(wRun))
        .groupBy($"doc_id", $"island")
        .agg(min($"pos").as("s0"), (max($"pos") + lit(K - 1)).as("e0"))
      val docstat = spans.groupBy($"doc_id")
        .agg(count(lit(1)).as("n_spans"),
          sum($"e0" - $"s0" + 1).as("dup_words"),
          max($"e0" - $"s0" + 1).as("max_span"))
      val src = docs.groupBy($"source")
        .agg(count(lit(1)).as("n_docs"),
          sum(size($"w").cast("long")).as("total_words"))
      val hit = docstat.join(docs.select($"doc_id", $"source"), "doc_id")
        .groupBy($"source")
        .agg(count(lit(1)).as("docs_hit"), sum($"n_spans").as("n_spans"),
          sum($"dup_words").as("dup_words"), max($"max_span").as("max_span"))
      src.join(hit, Seq("source"), "left")
        .select($"source", $"n_docs",
          coalesce($"docs_hit", lit(0L)).as("docs_hit"),
          coalesce($"n_spans", lit(0L)).as("n_spans"),
          coalesce($"dup_words", lit(0L)).as("dup_words"),
          $"total_words",
          coalesce($"max_span", lit(0L)).as("max_span"),
          round(coalesce($"dup_words", lit(0L)).cast("double") /
            $"total_words".cast("double"), 6).as("dup_frac"))
        .orderBy($"source")
    },

    // Production-width MinHash+LSH — d03 at the width published dedup
    // pipelines actually run: 128 permutations, 16 bands × 8 rows.
    // Signatures still come from ONE narrow codegen'd per-row pass
    // (MinHashSigs at width 128; the md5 per shingle is shared, so the
    // widening costs 120 extra multiply-mods per shingle, not 16× the
    // hashing). Each 8-row band collapses to a single 60-bit integer key
    // (md5 over the joined row values — engine-neutral), so the LSH
    // bucket join shuffles 16 integer rows per doc: signature-bounded,
    // never text, never all-pairs. At this width the S-curve is sharp —
    // P(candidate) = 1-(1-j^8)^16 ≈ 0.998 at jaccard 0.9 vs ~1e-5 at
    // 0.3, which is why 8 perms / 4×2 bands (threshold-mushy) is the
    // demo and this is the production form. est_sim = matching fraction
    // over all 128 perms (exact 1/128 multiples — bitwise in double).
    "d19_minhash_wide" -> { (s, d) =>
      import s.implicits._
      // cached: bands self-join + both est_sim sides = 4 consumers of
      // a frame whose whole computation fused into the scan (same trade
      // as minhashSigs; released at the drain, so nothing accumulates
      // across a sweep)
      val sigs = SessionScope.cache(Tables.documents(s, d)
        .select($"doc_id", split(trim($"text"), Tok.Ws).as("w"))
        .filter(size($"w") >= 3)
        .select($"doc_id",
          graft.functions.MinHashSigs($"w", WideNumPerms).as("sig")))
      def bkey(b: Int): Column = conv(substring(md5(concat_ws(",",
        (0 until WideRowsPerBand).map(r =>
          element_at($"sig", b * WideRowsPerBand + r + 1).cast("string")): _*)
        .cast("binary")), 1, 15), 16, 10).cast("long")
      val bandCols = (0 until WideBands).map(b =>
        struct(lit(b).as("band_idx"), bkey(b).as("band_key")))
      val bands = sigs.filter(element_at($"sig", 1) =!= Long.MaxValue)
        .select($"doc_id", explode(array(bandCols: _*)).as("band"))
        .select($"doc_id", $"band.band_idx", $"band.band_key")
      val cand = bands.as("a").join(bands.as("b"),
          col("a.band_idx") === col("b.band_idx")
            && col("a.band_key") === col("b.band_key")
            && col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
        .distinct()
      val matches: Column = (0 until WideNumPerms)
        .map(j => when(element_at(col("x.sig"), j + 1)
          === element_at(col("y.sig"), j + 1), 1).otherwise(0))
        .reduce(_ + _)
      cand
        .join(sigs.as("x"), $"doc_a" === col("x.doc_id"))
        .join(sigs.as("y"), $"doc_b" === col("y.doc_id"))
        .select($"doc_a", $"doc_b",
          (matches.cast("double") / lit(WideNumPerms.toDouble)).as("est_sim"))
        .orderBy($"doc_a", $"doc_b")
    },

    // Span-level (paragraph) dedup census, Dolma-style: the corpus has no
    // paragraph breaks, so the span unit is the fixed 20-word chunk — the
    // same technique as duplicated-paragraph removal, keyed on md5(chunk).
    // Chunking is NARROW (slice over the per-row token array — no
    // groupBy-over-exploded-words); duplicate detection shuffles 16-byte
    // chunk hashes, never text. The duplicated-doc count per hash comes
    // from per-(hash, source) partials summed by a window over `h` (high
    // cardinality, no skew: a hash's row count is bounded by the source
    // count), so the corpus-size instance table is never self-joined.
    "d13_chunk_dedup" -> { (s, d) =>
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val ch = chunkHashes(s, d)
      // doc_id is unique across sources, so the per-hash distinct-doc count
      // is the SUM of per-(hash, source) distinct counts — lets the heavy
      // first shuffle carry pre-aggregated rows instead of every instance
      val g1 = ch.groupBy($"h", $"source")
        .agg(count(lit(1)).as("c"), countDistinct($"doc_id").as("ndl"))
      val withNd = g1.withColumn("nd", sum($"ndl").over(Window.partitionBy($"h")))
      withNd.groupBy($"source")
        .agg(sum($"c").as("n_chunks"),
          sum(when($"nd" > 1, $"c").otherwise(0L)).as("n_dup_chunks"))
        .select($"source", $"n_chunks", $"n_dup_chunks",
          round($"n_dup_chunks".cast("double") / $"n_chunks".cast("double"), 6)
            .as("dup_fraction"))
        .orderBy($"source")
    },

    // Boilerplate removal census (RefinedWeb/CCNet line-dedup rule): a
    // span appearing in >= 3 DISTINCT documents corpus-wide is boilerplate
    // (nav bars, footers, license headers) and EVERY occurrence is removed
    // — unlike d16's near-dup rule, which keeps the first occurrence. The
    // span unit is d13's fixed 20-word chunk (the corpus has no line
    // breaks). Scale shape: chunking stays narrow in the scan; the heavy
    // exchange groups per-(hash, doc) partials on the 16-byte hash —
    // map-side combinable, text never moves; the per-hash distinct-doc
    // count is a window COUNT over those per-doc rows (bounded per hash
    // by the doc count of a genuinely shared span — and a mega-shared
    // span concentrates at most its own instance rows, which this very
    // rule then deletes). docs_affected needs doc-grain verdicts, so the
    // census aggregates straight off the windowed per-(hash, doc) frame.
    "d20_boilerplate_removal" -> { (s, d) =>
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val cw = 20
      val inst = Tables.documents(s, d)
        .select($"doc_id", $"source", split(trim($"text"), Tok.Ws).as("ws"))
        .filter(size($"ws") > 0)
        .select($"doc_id", $"source",
          explode(transform(
            sequence(lit(0L), ceil(size($"ws") / lit(cw.toDouble)).cast("long") - 1),
            i => {
              val chunk = slice($"ws", (i * cw + 1).cast("int"), lit(cw))
              struct(md5(concat_ws(" ", chunk)).as("h"),
                size(chunk).cast("long").as("nw"))
            })).as("ck"))
        .select($"doc_id", $"source", $"ck.h".as("h"), $"ck.nw".as("nw"))
      val perDoc = inst.groupBy($"h", $"doc_id", $"source")
        .agg(count(lit(1)).as("c"), sum($"nw").as("wsum"))
      val withNd = perDoc
        .withColumn("nd", count(lit(1)).over(Window.partitionBy($"h")))
      withNd.groupBy($"source")
        .agg(sum($"c").as("n_chunks"),
          sum(when($"nd" >= 3, $"c").otherwise(0L)).as("bp_chunks"),
          countDistinct(when($"nd" >= 3, $"doc_id")).as("docs_affected"),
          sum(when($"nd" >= 3, $"wsum").otherwise(0L)).as("words_removed"))
        .select($"source", $"n_chunks", $"bp_chunks", $"docs_affected",
          $"words_removed",
          round($"bp_chunks".cast("double") / $"n_chunks".cast("double"), 6)
            .as("bp_fraction"))
        .orderBy($"source")
    },

    // Exact-substring REMOVAL materialization — the operation d18's
    // census reports on (Lee et al. 2022's actual cleanup): every-offset
    // 20-word windows; a window hash occurring ≥ 2 times corpus-wide is
    // duplicated; its lexicographically-first occurrence (min (doc, pos))
    // is the protected WINNER. A word is removed iff some duplicated
    // window covers it and NO winner occurrence covers it — so the first
    // copy of a shared run survives intact and every other copy drops,
    // at word granularity (catches the boundary-straddling duplicates
    // d16's chunk grid misses). Emits the per-source removal census +
    // a 40-bit checksum of each rebuilt doc (kept words, one-space
    // joined) so the oracle pins the exact cleaned text.
    //
    // Scale shape: window hashing is fused into the scan (codegen'd
    // ShingleHashes); the per-hash (count, min-winner) partials exchange
    // 8-byte hashes; coverage explodes DUPLICATED window instances only
    // (20 integer rows each, map-side combined to (doc, word-index)
    // verdicts — the corpus-wide duplicated fraction, not the corpus);
    // the rebuild joins each doc's removed-index SET back by doc_id, so
    // text moves once, co-partitioned at scale. At extreme duplication
    // the 20× explode could interval-merge per doc instead (d18's span
    // islands) — documented trade, not needed while dup coverage ≪ 1.
    "d21_substring_removal" -> { (s, d) =>
      import s.implicits._
      val K = 20
      val docs = SessionScope.cache(Tables.spread(s, Tables.documents(s, d))
        .select($"doc_id", $"source", split(trim($"text"), Tok.Ws).as("w")))
      val pos = docs
        .select($"doc_id", graft.functions.ShingleHashes($"w", K).as("hs"))
        .select($"doc_id", posexplode($"hs").as(Seq("p0", "h")))
        .select($"doc_id", ($"p0" + 1).cast("long").as("pos"), $"h")
      val dupW = pos.groupBy($"h")
        .agg(count(lit(1)).as("c"), min(struct($"doc_id", $"pos")).as("win"))
        .filter($"c" >= 2)
        .select($"h", $"win.doc_id".as("wdoc"), $"win.pos".as("wpos"))
      val removed = pos.join(dupW, "h")
        .select($"doc_id",
          explode(sequence($"pos", $"pos" + lit(K - 1).cast("long"))).as("i"),
          ($"doc_id" === $"wdoc" && $"pos" === $"wpos").as("iswin"))
        .groupBy($"doc_id", $"i")
        .agg(max(when($"iswin", 1).otherwise(0)).as("anywin"))
        .filter($"anywin" === 0)
      val remSets = removed.groupBy($"doc_id")
        .agg(collect_set($"i").as("rem"), count(lit(1)).as("nrem"))
      docs.join(remSets, Seq("doc_id"), "left")
        .select($"source", size($"w").cast("long").as("nw"),
          coalesce($"nrem", lit(0L)).as("nrem"),
          concat_ws(" ", filter($"w", (_, idx) =>
            !coalesce(array_contains($"rem", (idx + 1).cast("long")), lit(false))))
            .as("cleaned"))
        .groupBy($"source")
        .agg(count(lit(1)).as("n_docs"),
          sum(when($"nrem" > 0, 1L).otherwise(0L)).as("docs_touched"),
          sum($"nw").as("total_words"),
          sum($"nrem").as("words_removed"),
          sum(conv(substring(md5($"cleaned".cast("binary")), 1, 10), 16, 10)
            .cast("long")).as("cleaned_check"))
        .orderBy($"source")
    },

    // Bloom-gated incremental exact dedup — d17's exact stage re-shaped
    // around the runtime-filter primitive Spark itself injects for
    // shuffle pruning (`BloomFilterAggregate` / `BloomFilterMightContain`,
    // the codegen'd blocked-bloom pair behind
    // spark.sql.optimizer.runtime.bloomFilter): the base corpus folds
    // ONCE into a fixed-size mergeable bloom blob (sized by Spark from
    // estimatedNumItems=65536 at the sketch's default ~3% FPP;
    // text never moves), delivered to the increment scan as a SCALAR
    // SUBQUERY — the exact mechanism InjectRuntimeFilter uses, so the
    // blob rides the plan without any driver collect. Only bloom-POSITIVE
    // increment rows (true dups + the default-FPP ~3% FP tail; other
    // scales re-derive bits from their own estimatedNumItems) reach the verify join,
    // and that join BROADCASTS the surviving handful against one base
    // scan — at 100 TB the nightly cost is one base pass + a
    // bloom-filter-sized exchange, with NO base-fingerprint shuffle (the
    // d17 exact stage's asymptotic cost). Bloom has no false negatives,
    // so the output is bit-identical to the ungated exact join — the
    // oracle replays exactly that, and `DedupSpec` asserts both the
    // invariant (gated == ungated) and the measured pruning.
    "d23_bloom_dedup_gate" -> { (s, d) =>
      import s.implicits._
      val docs = Tables.documents(s, d)
      val isNew = col("doc_id") % 10 === 7
      val fps = docs.select($"doc_id", $"source", md5($"text".cast("binary")).as("fp"))
      val base = fps.filter(!isNew).select($"doc_id".as("base_id"), $"fp")
      bloomGatedVerdicts(base, fps.filter(isNew)).orderBy($"doc_id")
    },

    // WINNOWING fingerprints (Schleimer/Wilkerson/Aiken 2003 — the MOSS
    // algorithm): per sliding window of W=8 consecutive 4-gram hashes,
    // select the window MINIMUM; the distinct selected hashes are the
    // document's fingerprint set. The theorem the spec fixture proves:
    // any shared token run of length ≥ k+W−1 = 11 GUARANTEES a shared
    // fingerprint — position-robust overlap detection at a density the
    // fixed ~2/(W+1) bound caps, which is what distinguishes winnowing
    // from d03's MinHash (whole-doc similarity, no locality) and d13's
    // fixed chunking (boundary-alignment-fragile). Output per doc:
    // k-gram/window/fingerprint counts, the exact fingerprint-set
    // checksum, and n_partners — how many OTHER docs share ≥1
    // fingerprint (the plagiarism-candidate fan-in).
    //
    // Scale shape: selection is per-doc array work inside the scan
    // (O(n·W) codegen'd-comparable ops; the arrays never leave the
    // partition); the ONLY cross-doc exchange is the exploded
    // (fingerprint, doc) pairs — winnowing bounds them to ~2n/(W+1) per
    // doc, the same signature-bounded story as d03's bands. The pair
    // join is an equi-join on the 40-bit hash; a pathological hot
    // fingerprint (boilerplate) gets the d11 hot-block cap at scale.
    "d24_winnow_fingerprint" -> { (s, d) =>
      import s.implicits._
      val fps = SessionScope.cache(winnowFingerprints(Tables.documents(s, d), k = 4, w = 8))
      val pairs = fps.select($"doc_id", explode($"fps").as("fp"))
      val partners = pairs.as("a").join(pairs.as("b"),
          col("a.fp") === col("b.fp") && col("a.doc_id") =!= col("b.doc_id"))
        .select(col("a.doc_id").as("doc_id"), col("b.doc_id").as("other"))
        .distinct()
        .groupBy($"doc_id").agg(count(lit(1)).as("n_partners"))
      fps.join(partners, Seq("doc_id"), "left")
        .na.fill(0L, Seq("n_partners"))
        .select($"doc_id", $"n_kgrams", $"n_windows",
          size($"fps").cast("long").as("n_fp"),
          aggregate($"fps", lit(0L), (acc, x) => acc + x).as("fp_checksum"),
          $"n_partners")
        .orderBy($"doc_id")
    }
  )

  /** d24's winnowing core over `documents(doc_id, text)`: tokenize,
    * hash each k-gram to 40 bits (md5 prefix — the cross-engine
    * pseudo-hash), take the minimum of every W-consecutive-hash window,
    * and keep the DISTINCT selected values as `fps` (winnowing selects
    * the same hash from overlapping windows; the set is the
    * fingerprint). Docs shorter than k+W−1 tokens have no window and
    * are excluded — they have no fingerprint to match on. Factored so
    * DedupSpec can prove the guarantee (shared run ≥ k+W−1 ⇒ shared
    * fingerprint) on planted fixtures. */
  private[graft] def winnowFingerprints(docs: DataFrame, k: Int, w: Int): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    docs
      .withColumn("tok", split(trim($"text"), graft.core.Tok.Ws))
      .filter(size($"tok") >= k + w - 1)
      .withColumn("hh", expr(
        s"""transform(sequence(1, size(tok) - ${k - 1}),
           |  i -> CAST(conv(substr(md5(CAST(concat_ws(' ',
           |    ${(0 until k).map(j => s"element_at(tok, i + $j)").mkString(", ")}
           |  ) AS BINARY)), 1, 10), 16, 10) AS BIGINT))""".stripMargin))
      .select($"doc_id",
        (size($"hh")).cast("long").as("n_kgrams"),
        (size($"hh") - (w - 1)).cast("long").as("n_windows"),
        array_distinct(expr(
          s"transform(sequence(1, size(hh) - ${w - 1}), i -> array_min(slice(hh, i, $w)))"))
          .as("fps"))
  }

  /** d23's shared stages, factored so the streaming twin runs the SAME
    * definition per micro-batch: build the base bloom (one
    * `BloomFilterAggregate` blob delivered as a scalar subquery — the
    * InjectRuntimeFilter mechanism, no driver collect), gate the
    * increment scan on `might_contain`, exact-verify only the
    * bloom-positive survivors via a BROADCAST join against one base
    * pass, and emit per-doc verdicts. `baseFps` must be `(base_id, fp)`;
    * `inc` must carry `(doc_id, source, fp)`. A production server
    * materializes the blob once per base generation (runtime-filter
    * reuse); rebuilding it per call changes cost, never verdicts. */
  private[graft] def bloomGatedVerdicts(baseFps: DataFrame, inc: DataFrame): DataFrame = {
    import org.apache.spark.sql.GraftShims
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, ScalarSubquery}
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    val bloomDf = baseFps.select(GraftShims.column(
      new BloomFilterAggregate(GraftShims.expression(xxhash64(col("fp"))), 65536L)
        .toAggregateExpression()).as("bloom"))
    val gate = GraftShims.column(BloomFilterMightContain(
      ScalarSubquery(bloomDf.queryExecution.analyzed),
      GraftShims.expression(xxhash64(col("fp")))))
    val candidates = inc.filter(gate)
    val verified = broadcast(candidates.select(col("doc_id"), col("fp")))
      .join(baseFps, Seq("fp"))
      .groupBy(col("doc_id")).agg(min(col("base_id")).as("match_id"))
    inc.select(col("doc_id"), col("source"))
      .join(broadcast(verified), Seq("doc_id"), "left")
      .select(col("doc_id"), col("source"),
        when(col("match_id").isNotNull, lit("exact_dup")).otherwise(lit("new"))
          .as("verdict"),
        col("match_id"))
  }

  val oracle: Map[String, String] = {
    val shingleCte =
      raw"""words AS (SELECT doc_id, source, string_split_regex(trim(text), '[ \t\n\x0B\f\r]+') AS w FROM documents),
           |sh AS (SELECT DISTINCT doc_id, source,
           |    unnest(list_transform(range(1, len(w) - 1),
           |      i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS s
           |  FROM words WHERE len(w) >= 3)""".stripMargin

    Map(
      "d01_dedup_exact" ->
        """SELECT min(doc_id) AS rep_id, COUNT(*) AS n_copies, md5(text) AS fp
          |FROM documents GROUP BY md5(text) ORDER BY rep_id""".stripMargin,

      "d02_dedup_ngram_jaccard" ->
        raw"""WITH $shingleCte,
             |cnt AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
             |com AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS c
             |  FROM sh a JOIN sh b ON a.source = b.source AND a.s = b.s AND a.doc_id < b.doc_id
             |  GROUP BY 1, 2)
             |SELECT doc_a, doc_b, CAST(c AS DOUBLE) / (x.n + y.n - c) AS jaccard
             |FROM com JOIN cnt x ON doc_a = x.doc_id JOIN cnt y ON doc_b = y.doc_id
             |WHERE CAST(c AS DOUBLE) / (x.n + y.n - c) >= 0.2
             |ORDER BY doc_a, doc_b""".stripMargin,

      "d03_dedup_minhash_lsh" -> {
        val matches = (0 until 8).map(j =>
          s"(CASE WHEN x.s$j = y.s$j THEN 1 ELSE 0 END)").mkString(" + ")
        raw"""WITH $sqlMinhashCtes
             |SELECT doc_a, doc_b, CAST($matches AS DOUBLE) / 8.0 AS est_sim
             |FROM cand JOIN sigs x ON doc_a = x.doc_id JOIN sigs y ON doc_b = y.doc_id
             |ORDER BY doc_a, doc_b""".stripMargin
      },

      "d04_dedup_simhash" -> {
        val vCols = (0 until 16).map(dd =>
          s"SUM(CASE WHEN strpos('89abcdef', substr(hx, ${dd + 1}, 1)) > 0 THEN 1 ELSE -1 END) AS v$dd")
          .mkString(",\n    ")
        val bits = (0 until 16).map(dd =>
          s"(CASE WHEN v$dd > 0 THEN CAST(${1L << dd} AS BIGINT) ELSE 0 END)").mkString(" + ")
        raw"""WITH words AS (SELECT doc_id, lang, unnest(string_split_regex(trim(text), '[ \t\n\x0B\f\r]+')) AS w FROM documents),
             |hx AS (SELECT doc_id, lang, substr(md5(w), 1, 16) AS hx FROM words),
             |v AS (SELECT doc_id, lang,
             |    $vCols
             |  FROM hx GROUP BY doc_id, lang),
             |sh AS (SELECT doc_id, lang, CAST($bits AS BIGINT) AS simhash FROM v)
             |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             |  CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
             |FROM sh a JOIN sh b ON a.lang = b.lang AND a.doc_id < b.doc_id
             |WHERE CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) <= 2
             |ORDER BY doc_a, doc_b""".stripMargin
      },

      "d07_dedup_pipeline" ->
        raw"""WITH $sqlVerifiedCtes
             |SELECT doc_a, doc_b, jaccard FROM verified
             |ORDER BY doc_a, doc_b""".stripMargin,

      "d09_dedup_clusters" ->
        raw"""WITH RECURSIVE $sqlVerifiedCtes,
             |edges AS (SELECT doc_a AS a, doc_b AS b FROM verified
             |  UNION ALL SELECT doc_b, doc_a FROM verified),
             |reach(node, root) AS (
             |  SELECT a, a FROM edges
             |  UNION
             |  SELECT e.b, r.root FROM reach r JOIN edges e ON e.a = r.node)
             |SELECT node AS doc_id, min(root) AS cluster_rep
             |FROM reach GROUP BY node ORDER BY doc_id""".stripMargin,

      "d06_dedup_levenshtein" ->
        raw"""WITH pre AS (SELECT doc_id, source,
             |    string_split_regex(trim(text), '[ \t\n\x0B\f\r]+')[1] AS w1,
             |    substr(text, 1, 40) AS p FROM documents)
             |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             |  CAST(levenshtein(a.p, b.p) AS INTEGER) AS edit_dist
             |FROM pre a JOIN pre b ON a.source = b.source AND a.w1 = b.w1
             |  AND a.doc_id < b.doc_id
             |WHERE levenshtein(a.p, b.p) <= 12
             |ORDER BY doc_a, doc_b""".stripMargin,

      "d10_dedup_savings" ->
        raw"""WITH t AS (SELECT doc_id, source, md5(text) AS fp,
             |    CAST(len(string_split_regex(trim(text), '[ \t\n\x0B\f\r]+')) AS BIGINT) AS tk
             |  FROM documents),
             |m AS (SELECT *, (doc_id <> MIN(doc_id) OVER (PARTITION BY fp)) AS dup FROM t)
             |SELECT source, COUNT(*) AS docs_total,
             |  COUNT(*) FILTER (dup) AS dup_docs,
             |  CAST(SUM(tk) AS BIGINT) AS toks_total,
             |  CAST(COALESCE(SUM(tk) FILTER (dup), 0) AS BIGINT) AS dup_toks,
             |  round(CAST(COALESCE(SUM(tk) FILTER (dup), 0) AS DOUBLE) / CAST(SUM(tk) AS DOUBLE), 6) AS dup_tok_frac
             |FROM m GROUP BY source ORDER BY source""".stripMargin,

      "d08_simhash64_signatures" -> {
        // 64-bit word hash from two 32-bit md5-prefix halves (a single
        // 16-hex-char parse would need HUGEINT; halves stay in BIGINT).
        // Bit 63 of the signature is added as -2^63 — two's complement.
        val vCols = ((0 until 32).map(d =>
          s"SUM(CASE WHEN (lo >> $d) & 1 = 1 THEN 1 ELSE -1 END) AS v$d") ++
          (32 until 64).map(d =>
            s"SUM(CASE WHEN (hi >> ${d - 32}) & 1 = 1 THEN 1 ELSE -1 END) AS v$d"))
          .mkString(",\n    ")
        val bits = ((0 until 63).map(d =>
          s"(CASE WHEN v$d > 0 THEN CAST(${1L << d} AS HUGEINT) ELSE 0 END)") :+
          s"(CASE WHEN v63 > 0 THEN CAST(${Long.MinValue} AS HUGEINT) ELSE 0 END)")
          .mkString(" + ")
        raw"""WITH words AS (SELECT doc_id, unnest(string_split_regex(trim(text), '[ \t\n\x0B\f\r]+')) AS w FROM documents),
             |h AS (SELECT doc_id, ('0x' || substr(md5(w), 1, 8))::BIGINT AS hi,
             |    ('0x' || substr(md5(w), 9, 8))::BIGINT AS lo FROM words),
             |v AS (SELECT doc_id,
             |    $vCols
             |  FROM h GROUP BY doc_id)
             |SELECT doc_id, CAST($bits AS BIGINT) AS simhash64,
             |  CAST((simhash64 >> 0) & 65535 AS BIGINT) AS block0,
             |  CAST((simhash64 >> 16) & 65535 AS BIGINT) AS block1,
             |  CAST((simhash64 >> 32) & 65535 AS BIGINT) AS block2,
             |  CAST((simhash64 >> 48) & 65535 AS BIGINT) AS block3
             |FROM v ORDER BY doc_id""".stripMargin
      },

      "d11_dedup_simhash_blocks" -> {
        val vCols = (0 until 32).map(d =>
          s"SUM(CASE WHEN (h >> $d) & 1 = 1 THEN 1 ELSE -1 END) AS v$d")
          .mkString(",\n    ")
        val bits = (0 until 32).map(d =>
          s"(CASE WHEN v$d > 0 THEN CAST(${1L << d} AS BIGINT) ELSE 0 END)").mkString(" + ")
        val bandSelects = (0 until 4).map(b =>
          s"SELECT doc_id, $b AS bi, (sh >> ${8 * b}) & 255 AS bv, sh FROM sh")
          .mkString("\n  UNION ALL ")
        raw"""WITH words AS (SELECT doc_id, unnest(string_split_regex(trim(text), '[ \t\n\x0B\f\r]+')) AS w FROM documents),
             |h AS (SELECT doc_id, ('0x' || substr(md5(w), 1, 8))::BIGINT AS h FROM words),
             |v AS (SELECT doc_id,
             |    $vCols
             |  FROM h GROUP BY doc_id),
             |sh AS (SELECT doc_id, CAST($bits AS BIGINT) AS sh FROM v),
             |bands0 AS ($bandSelects),
             |cool AS (SELECT bi, bv FROM bands0 GROUP BY bi, bv
             |  HAVING COUNT(*) <= $DefaultBlockCap),
             |bands AS (SELECT bands0.* FROM bands0 JOIN cool USING (bi, bv))
             |SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
             |  CAST(bit_count(xor(a.sh, b.sh)) AS INTEGER) AS hamming
             |FROM bands a JOIN bands b ON a.bi = b.bi AND a.bv = b.bv
             |  AND a.doc_id < b.doc_id
             |WHERE bit_count(xor(a.sh, b.sh)) <= 3
             |ORDER BY doc_a, doc_b""".stripMargin
      },

      "d05_dedup_embedding_cosine" ->
        raw"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)
             |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
             |  round(${Similarity.sqlCosine("a.v", "b.v")}, 6) AS cos_sim
             |FROM e a JOIN e b ON a.vec_id < b.vec_id
             |WHERE ${Similarity.sqlCosine("a.v", "b.v")} > 0.35
             |ORDER BY id_a, id_b""".stripMargin,

      "d12_semantic_dedup" ->
        raw"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
             |cents AS (SELECT vec_id AS cent_id, v AS cv FROM e WHERE vec_id < 8),
             |ac AS (SELECT vec_id, v, cent_id, ${Similarity.sqlCosine("v", "cv")} AS ccos
             |  FROM e CROSS JOIN cents),
             |assigned AS (SELECT vec_id, v, cent_id AS cell FROM (
             |  SELECT vec_id, v, cent_id, ccos,
             |    ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cent_id) AS crn
             |  FROM ac) t WHERE crn = 1),
             |pairs AS (SELECT a.cell, a.vec_id AS id_a, b.vec_id AS id_b,
             |    ${Similarity.sqlCosine("a.v", "b.v")} AS cos
             |  FROM assigned a JOIN assigned b
             |    ON a.cell = b.cell AND a.vec_id < b.vec_id),
             |hits AS (SELECT * FROM pairs WHERE cos > 0.35)
             |SELECT cell, id_b AS drop_id, MIN(id_a) AS keep_id,
             |  round(MAX(cos), 6) AS max_cos
             |FROM hits GROUP BY cell, id_b ORDER BY cell, drop_id""".stripMargin,

      "d14_minhash_calibration" -> {
        val matchSum = (0 until 8)
          .map(j => s"(CASE WHEN sa.s$j = sb.s$j THEN 1 ELSE 0 END)").mkString(" + ")
        raw"""WITH $sqlMinhashCtes,
             |shd AS (SELECT DISTINCT doc_id, s FROM shr),
             |cntd AS (SELECT doc_id, COUNT(*) AS n FROM shd GROUP BY doc_id),
             |common AS (SELECT doc_a, doc_b, COUNT(*) AS c
             |  FROM cand
             |  JOIN shd x ON doc_a = x.doc_id
             |  JOIN shd y ON doc_b = y.doc_id AND x.s = y.s
             |  GROUP BY doc_a, doc_b),
             |pairs AS (SELECT cand.doc_a, cand.doc_b,
             |    CAST($matchSum AS DOUBLE) / 8.0 AS est_j,
             |    CAST(COALESCE(cm.c, 0) AS DOUBLE)
             |      / (cx.n + cy.n - COALESCE(cm.c, 0)) AS exact_j
             |  FROM cand
             |  JOIN sigs sa ON cand.doc_a = sa.doc_id
             |  JOIN sigs sb ON cand.doc_b = sb.doc_id
             |  JOIN cntd cx ON cand.doc_a = cx.doc_id
             |  JOIN cntd cy ON cand.doc_b = cy.doc_id
             |  LEFT JOIN common cm ON cand.doc_a = cm.doc_a AND cand.doc_b = cm.doc_b)
             |SELECT doc_a, doc_b, round(est_j, 6) AS est_jaccard,
             |  round(exact_j, 6) AS exact_jaccard,
             |  round(abs(est_j - exact_j), 6) AS abs_err
             |FROM pairs ORDER BY doc_a, doc_b""".stripMargin
      },

      // the d14 exact-set CTEs with BOTH directional containments; the
      // verdict replays the integer cross-product gate, so no float
      // threshold exists to disagree on; LEFT JOIN keeps zero-overlap
      // LSH candidates as 'none' rows
      "d25_containment_dedup" ->
        raw"""WITH $sqlMinhashCtes,
             |shd AS (SELECT DISTINCT doc_id, s FROM shr),
             |cntd AS (SELECT doc_id, COUNT(*) AS n FROM shd GROUP BY doc_id),
             |common AS (SELECT doc_a, doc_b, COUNT(*) AS c
             |  FROM cand
             |  JOIN shd x ON doc_a = x.doc_id
             |  JOIN shd y ON doc_b = y.doc_id AND x.s = y.s
             |  GROUP BY doc_a, doc_b),
             |p AS (SELECT cand.doc_a, cand.doc_b,
             |    CAST(cx.n AS BIGINT) AS n_a, CAST(cy.n AS BIGINT) AS n_b,
             |    CAST(COALESCE(cm.c, 0) AS BIGINT) AS common
             |  FROM cand
             |  JOIN cntd cx ON cand.doc_a = cx.doc_id
             |  JOIN cntd cy ON cand.doc_b = cy.doc_id
             |  LEFT JOIN common cm ON cand.doc_a = cm.doc_a AND cand.doc_b = cm.doc_b)
             |SELECT doc_a, doc_b, n_a, n_b, common,
             |  round(CAST(common AS DOUBLE) / n_a, 6) AS containment_a,
             |  round(CAST(common AS DOUBLE) / n_b, 6) AS containment_b,
             |  CASE WHEN common * 10 >= n_a * 8 AND common * 10 >= n_b * 8 THEN 'mutual'
             |       WHEN common * 10 >= n_a * 8 THEN 'a_in_b'
             |       WHEN common * 10 >= n_b * 8 THEN 'b_in_a'
             |       ELSE 'none' END AS verdict
             |FROM p ORDER BY doc_a, doc_b""".stripMargin,

      "d15_source_overlap" ->
        raw"""WITH w AS (SELECT doc_id, source,
             |    string_split_regex(trim(text), '[${Tok.WsChars}]+') AS ws FROM documents),
             |ch AS (SELECT doc_id, source,
             |    unnest(list_transform(range(0, CAST(ceil(len(ws) / 20.0) AS BIGINT)),
             |      i -> md5(array_to_string(list_slice(ws, i*20 + 1, i*20 + 20), ' ')))) AS h
             |  FROM w WHERE len(ws) > 0),
             |fs AS (SELECT h, source, COUNT(DISTINCT doc_id) AS nd FROM ch GROUP BY h, source)
             |SELECT a.source AS source_a, b.source AS source_b,
             |  COUNT(*) AS shared_chunks,
             |  CAST(SUM(a.nd * b.nd) AS BIGINT) AS doc_pairs
             |FROM fs a JOIN fs b ON a.h = b.h AND a.source < b.source
             |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

      "d16_cleaned_corpus" ->
        raw"""WITH reps AS (SELECT md5(text) AS fp, min(doc_id) AS rep_id
             |  FROM documents GROUP BY md5(text)),
             |k2 AS (SELECT d.doc_id,
             |    string_split_regex(trim(d.text), '[ \t\n\x0B\f\r]+') AS ws
             |  FROM documents d JOIN reps r ON d.doc_id = r.rep_id
             |  WHERE len(string_split_regex(trim(d.text), '[ \t\n\x0B\f\r]+')) > 0),
             |ch AS (SELECT doc_id,
             |    unnest(list_transform(range(0, CAST(ceil(len(ws)/20.0) AS BIGINT)),
             |      i -> struct_pack(idx := i,
             |        ctext := array_to_string(list_slice(ws, (i*20 + 1)::INT, (i*20 + 20)::INT), ' ')))) AS c
             |  FROM k2),
             |ci AS (SELECT doc_id, CAST(c.idx AS INTEGER) AS idx, c.ctext AS ctext,
             |    md5(c.ctext) AS h FROM ch),
             |rn AS (SELECT doc_id, idx, ctext,
             |    ROW_NUMBER() OVER (PARTITION BY h ORDER BY doc_id, idx) AS rn FROM ci)
             |SELECT doc_id, COUNT(*) AS n_chunks,
             |  COUNT(*) FILTER (rn = 1) AS kept_chunks,
             |  COUNT(*) FILTER (rn > 1) AS n_dropped_chunks,
             |  coalesce(string_agg(ctext, ' ' ORDER BY idx) FILTER (rn = 1), '') AS cleaned_text
             |FROM rn GROUP BY doc_id ORDER BY doc_id""".stripMargin,

      "d17_incremental_dedup" -> {
        val agree = (0 until 8).map(j =>
          s"(CASE WHEN x.s$j = y.s$j THEN 1 ELSE 0 END)").mkString(" + ")
        raw"""WITH $sqlMinhashCtes,
             |fp AS (SELECT doc_id, md5(text) AS fp FROM documents),
             |ex AS (SELECT n.doc_id, MIN(o.doc_id) AS exact_match
             |  FROM fp n JOIN fp o ON n.fp = o.fp
             |  WHERE n.doc_id % 10 = 7 AND o.doc_id % 10 <> 7
             |  GROUP BY n.doc_id),
             |cio AS (SELECT DISTINCT a.doc_id AS nid, b.doc_id AS oid
             |  FROM bands a JOIN bands b ON a.band_idx = b.band_idx
             |    AND a.band_key = b.band_key
             |  WHERE a.doc_id % 10 = 7 AND b.doc_id % 10 <> 7),
             |nr AS (SELECT nid AS doc_id, MIN(oid) AS near_match
             |  FROM cio JOIN sigs x ON nid = x.doc_id JOIN sigs y ON oid = y.doc_id
             |  WHERE ($agree) >= 4
             |  GROUP BY nid)
             |SELECT d.doc_id, d.source,
             |  CASE WHEN ex.exact_match IS NOT NULL THEN 'exact_dup'
             |       WHEN nr.near_match IS NOT NULL THEN 'near_dup'
             |       ELSE 'kept' END AS verdict,
             |  CAST(coalesce(ex.exact_match, nr.near_match) AS BIGINT) AS match_id
             |FROM documents d
             |LEFT JOIN ex ON d.doc_id = ex.doc_id
             |LEFT JOIN nr ON d.doc_id = nr.doc_id
             |WHERE d.doc_id % 10 = 7
             |ORDER BY d.doc_id""".stripMargin
      },

      // d17's verdict logic plus the ledger-census replay: the oracle
      // rebuilds fingerprints, signatures, and distinct chunk hashes
      // from the raw base docs and checksums them exactly as the engine
      // checksums the RE-READ parquet sidecars — a match proves the
      // files' round-trip
      "d22_ledger_dedup" -> {
        val agree = (0 until 8).map(j =>
          s"(CASE WHEN x.s$j = y.s$j THEN 1 ELSE 0 END)").mkString(" + ")
        val sigCat = "doc_id::VARCHAR" +
          (0 until 8).map(j => s" || ',' || s$j::VARCHAR").mkString
        raw"""WITH $sqlMinhashCtes,
             |fp AS (SELECT doc_id, md5(text) AS fp FROM documents),
             |ex AS (SELECT n.doc_id, MIN(o.doc_id) AS exact_match
             |  FROM fp n JOIN fp o ON n.fp = o.fp
             |  WHERE n.doc_id % 10 = 7 AND o.doc_id % 10 <> 7
             |  GROUP BY n.doc_id),
             |cio AS (SELECT DISTINCT a.doc_id AS nid, b.doc_id AS oid
             |  FROM bands a JOIN bands b ON a.band_idx = b.band_idx
             |    AND a.band_key = b.band_key
             |  WHERE a.doc_id % 10 = 7 AND b.doc_id % 10 <> 7),
             |nr AS (SELECT nid AS doc_id, MIN(oid) AS near_match
             |  FROM cio JOIN sigs x ON nid = x.doc_id JOIN sigs y ON oid = y.doc_id
             |  WHERE ($agree) >= 4
             |  GROUP BY nid),
             |fpc AS (SELECT COUNT(*) AS n_fp_ledger,
             |    CAST(SUM(('0x' || substr(md5(doc_id::VARCHAR || ',' || fp), 1, 10))::BIGINT) AS BIGINT) AS fp_checksum
             |  FROM fp WHERE doc_id % 10 <> 7),
             |sgc AS (SELECT COUNT(*) AS n_sig_ledger,
             |    CAST(SUM(('0x' || substr(md5($sigCat), 1, 10))::BIGINT) AS BIGINT) AS sig_checksum
             |  FROM sigs WHERE doc_id % 10 <> 7),
             |ckl AS (SELECT DISTINCT md5(array_to_string(list_slice(w, i*20 + 1, i*20 + 20), ' ')) AS h
             |  FROM (SELECT doc_id, w, unnest(range(0, CAST(ceil(len(w) / 20.0) AS BIGINT))) AS i
             |        FROM words WHERE len(w) > 0 AND doc_id % 10 <> 7)),
             |ckc AS (SELECT COUNT(*) AS n_chunk_ledger,
             |    CAST(SUM(('0x' || substr(h, 1, 10))::BIGINT) AS BIGINT) AS chunk_checksum
             |  FROM ckl)
             |SELECT d.doc_id, d.source,
             |  CASE WHEN ex.exact_match IS NOT NULL THEN 'exact_dup'
             |       WHEN nr.near_match IS NOT NULL THEN 'near_dup'
             |       ELSE 'kept' END AS verdict,
             |  CAST(coalesce(ex.exact_match, nr.near_match) AS BIGINT) AS match_id,
             |  n_fp_ledger, fp_checksum, n_sig_ledger, sig_checksum,
             |  n_chunk_ledger, chunk_checksum
             |FROM documents d
             |LEFT JOIN ex ON d.doc_id = ex.doc_id
             |LEFT JOIN nr ON d.doc_id = nr.doc_id
             |CROSS JOIN fpc CROSS JOIN sgc CROSS JOIN ckc
             |WHERE d.doc_id % 10 = 7
             |ORDER BY d.doc_id""".stripMargin
      },

      // same gaps-and-islands integer logic; the 60-bit window hash is
      // the t09 md5-prefix parity trick
      "d18_substring_spans" ->
        raw"""WITH dw AS (SELECT doc_id, source,
             |    string_split_regex(trim(text), '[${Tok.WsChars}]+') AS w FROM documents),
             |pos AS (SELECT doc_id, i AS pos,
             |    ('0x' || substr(md5(array_to_string(w[i:i+19], ' ')), 1, 15))::BIGINT AS h
             |  FROM dw, unnest(generate_series(1, greatest(0, len(w) - 19))) t(i)),
             |dh AS (SELECT h FROM pos GROUP BY h HAVING COUNT(*) > 1),
             |dp AS (SELECT doc_id, pos FROM pos JOIN dh USING (h)),
             |isl AS (SELECT doc_id, pos,
             |    CASE WHEN pos > COALESCE(MAX(pos + 19) OVER (PARTITION BY doc_id ORDER BY pos
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1) + 1
             |    THEN 1 ELSE 0 END AS ni
             |  FROM dp),
             |isl2 AS (SELECT doc_id, pos, SUM(ni) OVER (PARTITION BY doc_id ORDER BY pos
             |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
             |  FROM isl),
             |spans AS (SELECT doc_id, island, MIN(pos) AS s0, MAX(pos) + 19 AS e0
             |  FROM isl2 GROUP BY doc_id, island),
             |docstat AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_spans,
             |    CAST(SUM(e0 - s0 + 1) AS BIGINT) AS dup_words,
             |    CAST(MAX(e0 - s0 + 1) AS BIGINT) AS max_span
             |  FROM spans GROUP BY doc_id),
             |src AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
             |    CAST(SUM(len(w)) AS BIGINT) AS total_words FROM dw GROUP BY source),
             |hit AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS docs_hit,
             |    CAST(SUM(n_spans) AS BIGINT) AS n_spans,
             |    CAST(SUM(dup_words) AS BIGINT) AS dup_words,
             |    CAST(MAX(max_span) AS BIGINT) AS max_span
             |  FROM docstat JOIN dw USING (doc_id) GROUP BY source)
             |SELECT source, n_docs, COALESCE(docs_hit, 0) AS docs_hit,
             |  COALESCE(h.n_spans, 0) AS n_spans, COALESCE(h.dup_words, 0) AS dup_words,
             |  total_words, COALESCE(h.max_span, 0) AS max_span,
             |  round(CAST(COALESCE(h.dup_words, 0) AS DOUBLE) / CAST(total_words AS DOUBLE), 6)
             |    AS dup_frac
             |FROM src LEFT JOIN hit h USING (source) ORDER BY source""".stripMargin,

      // the wide twin of d03's oracle: 128 generated permutation-min
      // columns (literal md5-derived A/B constants — exact 64-bit integer
      // arithmetic in both engines), 16 band keys via the same
      // ('0x'||md5-prefix)::BIGINT trick over the joined row values
      "d19_minhash_wide" -> {
        val sigCols = (0 until WideNumPerms).map(j =>
          s"min((${WideA(j)} * h + ${WideB(j)}) % $MinhashP) AS s$j").mkString(",\n    ")
        val bandSelects = (0 until WideBands).map { b =>
          val cat = (0 until WideRowsPerBand)
            .map(r => s"s${WideRowsPerBand * b + r}::VARCHAR").mkString(" || ',' || ")
          s"SELECT doc_id, $b AS band_idx, ('0x' || substr(md5($cat), 1, 15))::BIGINT AS band_key FROM sigs"
        }.mkString("\n  UNION ALL ")
        // parenthesized groups of 16: a flat 128-term `+` chain parses
        // left-deep and trips DuckDB's 128-deep binder recursion limit
        val matches = (0 until WideNumPerms).map(j =>
          s"(CASE WHEN x.s$j = y.s$j THEN 1 ELSE 0 END)")
          .grouped(16).map(_.mkString("(", " + ", ")")).mkString(" + ")
        raw"""WITH words AS (SELECT doc_id, string_split_regex(trim(text), '[ \t\n\x0B\f\r]+') AS w FROM documents),
             |shr AS (SELECT doc_id,
             |    unnest(list_transform(range(1, len(w) - 1),
             |      i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS s
             |  FROM words WHERE len(w) >= 3),
             |hs AS (SELECT doc_id, ('0x' || substr(md5(s), 1, 7))::BIGINT AS h FROM shr),
             |sigs AS (SELECT doc_id,
             |    $sigCols
             |  FROM hs GROUP BY doc_id),
             |bands AS ($bandSelects),
             |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
             |  FROM bands a JOIN bands b ON a.band_idx = b.band_idx
             |    AND a.band_key = b.band_key AND a.doc_id < b.doc_id)
             |SELECT doc_a, doc_b, CAST($matches AS DOUBLE) / $WideNumPerms.0 AS est_sim
             |FROM cand JOIN sigs x ON doc_a = x.doc_id JOIN sigs y ON doc_b = y.doc_id
             |ORDER BY doc_a, doc_b""".stripMargin
      },

      "d13_chunk_dedup" ->
        raw"""WITH w AS (SELECT doc_id, source,
             |    string_split_regex(trim(text), '[${Tok.WsChars}]+') AS ws FROM documents),
             |ch AS (SELECT doc_id, source,
             |    unnest(list_transform(range(0, CAST(ceil(len(ws) / 20.0) AS BIGINT)),
             |      i -> md5(array_to_string(list_slice(ws, i*20 + 1, i*20 + 20), ' ')))) AS h
             |  FROM w WHERE len(ws) > 0),
             |ph AS (SELECT h, COUNT(DISTINCT doc_id) AS nd FROM ch GROUP BY h)
             |SELECT source, COUNT(*) AS n_chunks,
             |  CAST(SUM(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_chunks,
             |  round(CAST(SUM(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*), 6)
             |    AS dup_fraction
             |FROM ch JOIN ph USING (h) GROUP BY source ORDER BY source""".stripMargin,

      // nd counts rows of the per-(hash, doc) frame per hash == distinct
      // docs (doc_id is globally unique); list_slice is 1-based inclusive
      // clamped at the tail, matching Spark's slice()
      "d20_boilerplate_removal" ->
        raw"""WITH w AS (SELECT doc_id, source,
             |    string_split_regex(trim(text), '[${Tok.WsChars}]+') AS ws FROM documents),
             |ch AS (SELECT doc_id, source,
             |    md5(array_to_string(list_slice(ws, i*20 + 1, i*20 + 20), ' ')) AS h,
             |    len(list_slice(ws, i*20 + 1, i*20 + 20)) AS nw
             |  FROM (SELECT doc_id, source, ws,
             |          unnest(range(0, CAST(ceil(len(ws) / 20.0) AS BIGINT))) AS i
             |        FROM w WHERE len(ws) > 0)),
             |pd AS (SELECT h, doc_id, source, COUNT(*) AS c, SUM(nw) AS wsum
             |  FROM ch GROUP BY 1, 2, 3),
             |nd AS (SELECT *, COUNT(*) OVER (PARTITION BY h) AS nd FROM pd)
             |SELECT source, CAST(SUM(c) AS BIGINT) AS n_chunks,
             |  CAST(SUM(CASE WHEN nd >= 3 THEN c ELSE 0 END) AS BIGINT) AS bp_chunks,
             |  CAST(COUNT(DISTINCT CASE WHEN nd >= 3 THEN doc_id END) AS BIGINT)
             |    AS docs_affected,
             |  CAST(SUM(CASE WHEN nd >= 3 THEN wsum ELSE 0 END) AS BIGINT)
             |    AS words_removed,
             |  round(CAST(SUM(CASE WHEN nd >= 3 THEN c ELSE 0 END) AS DOUBLE) / SUM(c), 6)
             |    AS bp_fraction
             |FROM nd GROUP BY source ORDER BY source""".stripMargin,

      // d18's positional window hashes + winner protection at word
      // granularity; the rebuild replays the index filter with 1-based
      // range positions, so the cleaned-text checksums pin exact output
      "d21_substring_removal" ->
        raw"""WITH dw AS (SELECT doc_id, source,
             |    string_split_regex(trim(text), '[${Tok.WsChars}]+') AS w FROM documents),
             |pos AS (SELECT doc_id, i AS pos,
             |    ('0x' || substr(md5(array_to_string(w[i:i+19], ' ')), 1, 15))::BIGINT AS h
             |  FROM dw, unnest(generate_series(1, greatest(0, len(w) - 19))) t(i)),
             |inst AS (SELECT doc_id, pos,
             |    COUNT(*) OVER (PARTITION BY h) AS c,
             |    ROW_NUMBER() OVER (PARTITION BY h ORDER BY doc_id, pos) AS rn
             |  FROM pos),
             |di AS (SELECT doc_id, pos, (rn = 1) AS iswin FROM inst WHERE c >= 2),
             |rw AS (SELECT doc_id, pos + k AS i, iswin
             |  FROM di, unnest(range(0, 20)) t(k)),
             |rem AS (SELECT doc_id, i FROM rw GROUP BY doc_id, i
             |  HAVING MAX(CASE WHEN iswin THEN 1 ELSE 0 END) = 0),
             |rs AS (SELECT doc_id, list(i) AS rem, COUNT(*) AS nrem
             |  FROM rem GROUP BY doc_id),
             |rb AS (SELECT dw.doc_id, source, len(w) AS nw,
             |    COALESCE(nrem, 0) AS nrem,
             |    -- coalesce: array_to_string of an EMPTY list is NULL in
             |    -- DuckDB, while Spark's concat_ws yields '' for a fully
             |    -- removed doc — both must checksum md5('')
             |    COALESCE(array_to_string(list_filter(list_transform(range(1, len(w) + 1),
             |      k -> CASE WHEN rs.rem IS NOT NULL AND list_contains(rs.rem, k)
             |           THEN NULL ELSE w[k] END), x -> x IS NOT NULL), ' '), '') AS cleaned
             |  FROM dw LEFT JOIN rs USING (doc_id))
             |SELECT source, COUNT(*) AS n_docs,
             |  CAST(SUM(CASE WHEN nrem > 0 THEN 1 ELSE 0 END) AS BIGINT) AS docs_touched,
             |  CAST(SUM(nw) AS BIGINT) AS total_words,
             |  CAST(SUM(nrem) AS BIGINT) AS words_removed,
             |  CAST(SUM(('0x' || substr(md5(cleaned), 1, 10))::BIGINT) AS BIGINT)
             |    AS cleaned_check
             |FROM rb GROUP BY source ORDER BY source""".stripMargin,

      // bloom-invariant: the gate has no false negatives, so the oracle
      // is the UNGATED exact join — any bloom slip that drops a true
      // dup (or a verify join that admits an FP without verification)
      // hash-mismatches here
      "d23_bloom_dedup_gate" ->
        raw"""WITH fp AS (SELECT doc_id, source, md5(text) AS fp FROM documents),
             |m AS (SELECT n.doc_id, MIN(o.doc_id) AS match_id
             |  FROM fp n JOIN fp o ON n.fp = o.fp
             |  WHERE n.doc_id % 10 = 7 AND o.doc_id % 10 <> 7
             |  GROUP BY n.doc_id)
             |SELECT d.doc_id, d.source,
             |  CASE WHEN m.match_id IS NOT NULL THEN 'exact_dup' ELSE 'new' END AS verdict,
             |  m.match_id
             |FROM fp d LEFT JOIN m ON d.doc_id = m.doc_id
             |WHERE d.doc_id % 10 = 7
             |ORDER BY d.doc_id""".stripMargin,

      // the identical k=4 / W=8 winnowing selection in list form; the
      // 40-bit md5-prefix k-gram hash is the house pseudo-hash
      "d24_winnow_fingerprint" ->
        raw"""WITH t AS (SELECT doc_id,
             |    string_split_regex(trim(text), '[ \t\n\x0B\f\r]+') AS tok
             |  FROM documents),
             |f AS (SELECT doc_id, CAST(len(tok) - 3 AS BIGINT) AS n_kgrams,
             |    list_transform(range(1, len(tok) - 2), i ->
             |      ('0x' || substr(md5(tok[i] || ' ' || tok[i+1] || ' ' ||
             |        tok[i+2] || ' ' || tok[i+3]), 1, 10))::BIGINT) AS hh
             |  FROM t WHERE len(tok) >= 11),
             |s AS (SELECT doc_id, n_kgrams,
             |    CAST(len(hh) - 7 AS BIGINT) AS n_windows,
             |    list_distinct(list_transform(range(1, len(hh) - 6),
             |      i -> list_min(hh[i : i + 7]))) AS fps
             |  FROM f),
             |p AS (SELECT doc_id, unnest(fps) AS fp FROM s),
             |pa AS (SELECT DISTINCT a.doc_id AS doc_id, b.doc_id AS other
             |  FROM p a JOIN p b ON a.fp = b.fp AND a.doc_id <> b.doc_id),
             |pc AS (SELECT doc_id, COUNT(*) AS n_partners FROM pa GROUP BY doc_id)
             |SELECT s.doc_id, n_kgrams, n_windows,
             |  CAST(len(fps) AS BIGINT) AS n_fp,
             |  CAST(list_sum(fps) AS BIGINT) AS fp_checksum,
             |  CAST(COALESCE(pc.n_partners, 0) AS BIGINT) AS n_partners
             |FROM s LEFT JOIN pc USING (doc_id) ORDER BY s.doc_id""".stripMargin
    )
  }
}
