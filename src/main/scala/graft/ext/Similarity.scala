package graft.ext

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{SessionScope, Tables}
import graft.core.SessionScope.{Checkpointed, Persisted}

/** Approximate-nearest-neighbor search over the `embeddings` table
  * (`embedding: array<float>`, 64-dim).
  *
  *  - `s01_cosine_topk` — brute-force exact top-k: broadcast the (small)
  *    query set against the full vector table, then the two-phase salted
  *    `TopK.perKey` ranking. At 100 TB the vector table is the fact side
  *    and is only scanned, never shuffled; the few-key rank never funnels
  *    candidates into one reducer per query (s02/s03 rank the same way).
  *  - `s02_ann_buckets` — the scale path: a sign-bit LSH bucket (one bucket
  *    id per vector from the signs of the leading dims) turns the cross
  *    product into an equi-join on bucket. Recall trades off with bucket
  *    bits; `s07_ann_multiprobe` is the production fix — probe the query
  *    bucket plus its Hamming-1 neighbors and measure the recall@5 gain.
  *
  * The dot product is the codegen'd [[graft.functions.DotProduct]]
  * expression — an in-order sequential double summation matching DuckDB's
  * `list_dot_product` bit-for-bit, so the oracle compares identical doubles
  * (outputs additionally rounded to 6 dp as insurance). Squared norms are
  * precomputed per vector so the pair loop does one dot, not three.
  */
object Similarity {

  /** In-order dot product — the codegen'd native expression. */
  def dot(a: Column, b: Column): Column = graft.functions.DotProduct(a, b)

  /** Sequential-fold cosine similarity between two array<double> columns. */
  def cosine(a: Column, b: Column): Column =
    dot(a, b) / sqrt(dot(a, a) * dot(b, b))

  /** Cosine from a precomputed squared-norm per side: same arithmetic (and
    * bit-identical result), but the O(n²) pair loop does one dot product
    * instead of three. */
  def cosineWithNorms(a: Column, b: Column, na: Column, nb: Column): Column =
    dot(a, b) / sqrt(na * nb)

  /** Per-vector absmax for int8 quantization. */
  def absmax(v: Column): Column = array_max(transform(v, x => abs(x)))

  /** Symmetric absmax int8 quantization of an `array<double>` column:
    * `q_i = round(v_i * 127 / absmax)` (half-away-from-zero in Spark AND
    * DuckDB), all-zero vectors quantize to zeros. Narrow expression —
    * safe in any scan-bound pass. */
  def quantizeInt8(v: Column, am: Column): Column =
    when(am === 0.0, transform(v, _ => lit(0).cast("tinyint")))
      .otherwise(transform(v, x => round(x * lit(127.0) / am).cast("tinyint")))

  /** Mean absolute reconstruction error of [[quantizeInt8]] — an IN-ORDER
    * fold (cross-engine bit parity like every dot product here). */
  def dequantMae(v: Column, qv: Column, am: Column): Column =
    aggregate(
      zip_with(v, qv, (x, q) => abs(x - q.cast("double") * am / lit(127.0))),
      lit(0.0), _ + _) / size(v)

  /** DuckDB twin of [[cosine]]. */
  def sqlCosine(a: String, b: String): String =
    s"list_dot_product($a, $b) / sqrt(list_dot_product($a, $a) * list_dot_product($b, $b))"

  /** The ONE definition of the ANN query set (`vec_id < 5`), the ranking
    * tie-break, and the s02 sign-bit bucket formula, shared by the
    * s01/s02/s03 oracles AND the composed s06 recall oracle — so the
    * evaluation can never measure a ranking the production queries no
    * longer use. */
  private val SqlQueryPred = "vec_id < 5"
  private val SqlRankOrder = "ORDER BY cos DESC, vec_id"
  private def sqlBucketSum: String = (0 until 8)
    .map(i => s"(CASE WHEN v[${i + 1}] > 0.0 THEN ${1 << i} ELSE 0 END)").mkString(" + ")

  /** s27's 32-bit sign-pack half (same `> 0.0` sign convention as the s02
    * bucket) — DuckDB twin of the Spark `half(off)` fold. */
  private def sqlSignHalf(off: Int): String = (0 until 32)
    .map(i => s"(CASE WHEN v[${off + i + 1}] > 0.0 THEN ${1L << i} ELSE 0 END)")
    .mkString(" + ")

  private def vectors(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.embeddings(s, d)
      .select($"vec_id", $"label", $"embedding".cast("array<double>").as("v"))
  }

  /** [[vectors]] with each vector's squared norm `nrm`, the corpus side the
    * graph-serving queries (s28/s29/s30) and s31's miner score against —
    * one lazy build per session. */
  private def vectorNorms(s: SparkSession, d: String): DataFrame =
    SessionScope.frame(s, d, "vec_nrm", Persisted)(
      vectors(s, d).withColumn("nrm", dot(col("v"), col("v"))))

  /** Stage shared by s11 (ADC top-5) and s14 (ADC top-20 → exact rerank):
    * PQ-encode the corpus against the one-row broadcast codebook of the 8
    * seed centroids (pure per-row map, zero shuffle), build each query's
    * flat 64-entry distance table from the same codebook, and ADC-score
    * every (query, candidate) pair — 8 table lookups + 7 adds per
    * candidate. Returns (query_id, vec_id, adc). See s11's scaladoc for
    * the full scale framing. */
  private def pqAdcCandidates(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val e = vectors(s, d)
    // one-row broadcast codebook: the 8 seed centroids ordered by id
    val cb = e.filter($"vec_id" < 8)
      .agg(transform(
        sort_array(collect_list(struct($"vec_id".as("cent_id"), $"v".as("cv")))),
        c => c("cv")).as("cb"))
    def subv(v: Column, m: Column): Column = slice(v, m * lit(8) + lit(1), lit(8))
    def d2(a: Column, b: Column): Column =
      aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)), lit(0.0), _ + _)
    // distances from v's m-th subvector to each of the 8 codebook
    // entries — in-order folds, bit-identical to the s10/DuckDB pattern
    def dists(v: Column, m: Column): Column =
      transform(sequence(lit(0), lit(7)),
        c => d2(subv(v, m), subv(element_at($"cb", c + 1), m)))
    val enc = e.crossJoin(broadcast(cb))
      .select($"vec_id", transform(sequence(lit(0), lit(7)), m => {
        val ds = dists($"v", m)
        (array_position(ds, array_min(ds)) - 1).cast("int")
      }).as("code"))
    val qt = e.filter($"vec_id" < 5).crossJoin(broadcast(cb))
      .select($"vec_id".as("query_id"),
        flatten(transform(sequence(lit(0), lit(7)), m => dists($"v", m))).as("tq"))
    // ADC: in-order fold over subspaces of table lookups on the code
    enc.join(broadcast(qt), $"vec_id" =!= $"query_id")
      .select($"query_id", $"vec_id",
        aggregate(sequence(lit(0), lit(7)), lit(0.0),
          (acc, m) => acc + element_at($"tq", m * 8 + element_at($"code", m + 1) + 1))
          .as("adc"))
  }

  /** s11's stage generalized over the per-subspace codebook size: seeds
    * are the `kSeed` lowest vec_ids, and every fan-out is driven by the
    * RUNTIME codebook size (`size(cb)`), so the same plan serves K=8 and
    * K=256 — and a scale factor with fewer than kSeed vectors degrades
    * gracefully instead of indexing past the array. Codes stay one byte
    * per subspace up to K=256; the per-query table grows to 8×K entries
    * (16 KB of doubles at K=256 — still broadcast change). */
  private def pqAdcCandidatesK(s: SparkSession, d: String, kSeed: Int): DataFrame = {
    import s.implicits._
    val e = vectors(s, d)
    val cb = e.filter($"vec_id" < kSeed)
      .agg(transform(
        sort_array(collect_list(struct($"vec_id".as("cent_id"), $"v".as("cv")))),
        c => c("cv")).as("cb"))
    def subv(v: Column, m: Column): Column = slice(v, m * lit(8) + lit(1), lit(8))
    def d2(a: Column, b: Column): Column =
      aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)), lit(0.0), _ + _)
    def dists(v: Column, m: Column): Column =
      transform(sequence(lit(0), size($"cb") - 1),
        c => d2(subv(v, m), subv(element_at($"cb", c + 1), m)))
    val enc = e.crossJoin(broadcast(cb))
      .select($"vec_id", size($"cb").as("k"),
        transform(sequence(lit(0), lit(7)), m => {
          val ds = dists($"v", m)
          (array_position(ds, array_min(ds)) - 1).cast("int")
        }).as("code"))
    val qt = e.filter($"vec_id" < 5).crossJoin(broadcast(cb))
      .select($"vec_id".as("query_id"),
        flatten(transform(sequence(lit(0), lit(7)), m => dists($"v", m))).as("tq"))
    enc.join(broadcast(qt), $"vec_id" =!= $"query_id")
      .select($"query_id", $"vec_id",
        aggregate(sequence(lit(0), lit(7)), lit(0.0),
          (acc, m) => acc + element_at($"tq", m * $"k" + element_at($"code", m + 1) + 1))
          .as("adc"))
  }

  // ---- IVF-PQ frozen-index components (s13's build, factored so the
  // ---- streaming serving twin scores probes against the SAME definitions)

  private def subv8(v: Column, m: Int): Column = slice(v, m * 8 + 1, 8)

  /** One-row coarse codebook over the 8 seed vectors: (cell, cv, cnrm,
    * csn[8]) sorted by cell — s13's cb. */
  private def ivfpqCoarseCb(e: DataFrame): DataFrame =
    e.filter(col("vec_id") < 8)
      .select(col("vec_id"), col("v"), dot(col("v"), col("v")).as("cnrm"),
        array((0 until 8).map(m =>
          dot(subv8(col("v"), m), subv8(col("v"), m))): _*).as("csn"))
      .agg(sort_array(collect_list(struct(
        col("vec_id").cast("int").as("cell"), col("v").as("cv"),
        col("cnrm"), col("csn")))).as("cb"))

  /** Subspace codebook in s15's 8-row long form: (m, ents by cell asc);
    * csn is the same in-order self-dot the oracle's norm expansion uses. */
  private def ivfpqSubCb(e: DataFrame): DataFrame =
    e.filter(col("vec_id") < 8)
      .select(col("vec_id").cast("int").as("cell"),
        explode(array((0 until 8).map(m =>
          struct(lit(m).as("m"), subv8(col("v"), m).as("cv"))): _*)).as("a"))
      .select(col("cell"), col("a.m").as("m"), col("a.cv").as("cv"))
      .withColumn("csn", dot(col("cv"), col("cv")))
      .groupBy(col("m"))
      .agg(sort_array(collect_list(struct(col("cell"), col("cv"), col("csn"))))
        .as("ents"))

  /** Coarse cell assignment: cosines as real columns, then best, then the
    * argmax chain (s12's staging — multi-referenced non-trivial aliases
    * live in their own projection so CollapseProject can't copy them). */
  private def ivfpqAssign(e: DataFrame, cb: DataFrame): DataFrame = {
    def cbe(i: Int): Column = element_at(col("cb"), i + 1)
    val pc0 = e.crossJoin(broadcast(cb))
      .select(col("vec_id"), col("v"), col("cb"), dot(col("v"), col("v")).as("nrm"))
    val ccCols = (0 until 8).map { i =>
      cosineWithNorms(col("v"), cbe(i).getField("cv"), col("nrm"),
        cbe(i).getField("cnrm")).as(s"cc$i")
    }
    val pc1 = pc0.select(Seq(col("vec_id"), col("v"), col("cb")) ++ ccCols: _*)
    val ccs = (0 until 8).map(i => col(s"cc$i"))
    val pc2 = pc1.select(
      Seq(col("vec_id"), col("v"), col("cb"), greatest(ccs: _*).as("bc")) ++ ccs: _*)
    // coalesce keeps the chain non-nullable (element_at is type-nullable
    // even though i < 8 can never miss an 8-entry list) — same values,
    // and no inferred isnotnull(chain) can be pushed into a join
    val cellCol = coalesce((0 until 8).foldRight(lit(-1)) { (i, els) =>
      when(ccs(i) === col("bc"), cbe(i).getField("cell")).otherwise(els)
    }, lit(-1))
    pc2.select(col("vec_id"), col("v"), cellCol.as("cell"))
  }

  /** PQ codes from the assigned corpus: per-(vec, m) argmin against the
    * subspace codebook in the long narrow form (stays inside the 64 KB
    * fused-codegen budget — the round-11 s13 rewrite), collapsed to one
    * (vec_id, cell, code[8]) row map-side. Ties go to the lowest
    * position = lowest cell (the sort order), the wide form's (and the
    * oracle's) rule. */
  private def ivfpqEncode(assigned: DataFrame, cbSub: DataFrame): DataFrame = {
    val eSub = assigned.select(col("vec_id"), col("cell"),
        explode(array((0 until 8).map(m =>
          struct(lit(m).as("m"), subv8(col("v"), m).as("sv"))): _*)).as("a"))
      .select(col("vec_id"), col("cell"), col("a.m").as("m"), col("a.sv").as("sv"))
    val p0 = eSub.join(broadcast(cbSub), Seq("m"))
      .withColumn("xsn", dot(col("sv"), col("sv")))
    val dCols = (0 until 8).map { k =>
      val ent = element_at(col("ents"), k + 1)
      (col("xsn") - lit(2.0) * dot(col("sv"), ent.getField("cv"))
        + ent.getField("csn")).as(s"d$k")
    }
    val p1 = p0.select(
      Seq(col("vec_id"), col("cell"), col("m"), col("ents")) ++ dCols: _*)
    val ds = (0 until 8).map(k => col(s"d$k"))
    val p2 = p1.select(
      Seq(col("vec_id"), col("cell"), col("m"), col("ents"),
        least(ds: _*).as("bm")) ++ ds: _*)
    val codeCol = (0 until 8).foldRight(lit(-1)) { (k, els) =>
      when(ds(k) === col("bm"), element_at(col("ents"), k + 1).getField("cell"))
        .otherwise(els)
    }
    p2.select(col("vec_id"), col("cell"), col("m"), codeCol.as("mc"))
      .groupBy(col("vec_id"))
      .agg(min(col("cell")).as("cell"),
        transform(sort_array(collect_list(struct(col("m"), col("mc")))),
          x => x.getField("mc")).as("code"))
  }

  /** The frozen IVF-PQ SERVING index: (coarse codebook, PQ-coded corpus)
    * — the artifact a batch job materializes and a serving layer scores
    * live probes against. Same definitions s13 executes, so batch and
    * stream rankings cannot drift. */
  def ivfpqFrozenIndex(s: SparkSession, d: String): (DataFrame, DataFrame) = {
    val e = vectors(s, d)
    val cb = ivfpqCoarseCb(e)
    (cb, ivfpqEncode(ivfpqAssign(e, cb), ivfpqSubCb(e)))
  }

  /** Score a probe frame — batch OR stream — against the frozen index:
    * rank the 8 coarse cells per probe, visit the top 4 (s13's
    * multiprobe width), ADC-score the candidates in those cells, return
    * each query's top-5 neighbors as an ordered (adc, vec_id) array.
    *
    * STREAMING-SAFE by construction, which dictates two shapes: per-query
    * top-k is a `sort_array`+`slice` over a collected candidate list (a
    * ranking window is unsupported on streams — and with a handful of
    * live probes per micro-batch the collected list is the candidate set
    * of ONE query, not a corpus structure); the cell ranking is an
    * in-array sort per probe row (8 entries — the serving side is where
    * s13 already accepts interpreted HOFs, it touches probes, never the
    * corpus). The corpus-side joins stay stream-static equi-joins against
    * the frozen `enc`; `cb` rides in as a one-row broadcast. */
  def ivfpqServeTop5(cb: DataFrame, enc: DataFrame, probes: DataFrame): DataFrame =
    ivfpqServeTopK(cb, enc, probes, 5)

  /** [[ivfpqServeTop5]] at arbitrary depth k (the rank-list depth an RRF
    * arm wants is 10, not the s22 family's 5) — the output column stays
    * named `top5` so the three saved-index queries and their oracles are
    * untouched; it holds k entries. */
  def ivfpqServeTopK(cb: DataFrame, enc: DataFrame, probes: DataFrame,
                     k: Int): DataFrame = {
    val qs = probes.crossJoin(broadcast(cb))
      .withColumn("nrm", dot(col("v"), col("v")))
    val scored = qs.withColumn("pcells",
      slice(transform(sort_array(transform(col("cb"), ce =>
        struct((lit(0.0) - cosineWithNorms(col("v"), ce.getField("cv"),
          col("nrm"), ce.getField("cnrm"))).as("negc"),
          ce.getField("cell").as("cell")))),
        x => x.getField("cell")), 1, 4))
    val tqf = scored.withColumn("tq",
      flatten(transform(sequence(lit(0), lit(7)), m =>
        transform(sequence(lit(0), lit(7)), c => {
          val xm = slice(col("v"), m * lit(8) + lit(1), lit(8))
          val ce = element_at(col("cb"), c + 1)
          val cm = slice(ce.getField("cv"), m * lit(8) + lit(1), lit(8))
          dot(xm, xm) - lit(2.0) * dot(xm, cm) +
            element_at(ce.getField("csn"), m + 1)
        }))))
      .select(col("query_id"), explode(col("pcells")).as("probe"), col("tq"))
    enc.join(tqf,
        col("cell") === col("probe") && col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        aggregate(sequence(lit(0), lit(7)), lit(0.0),
          (acc, m) => acc +
            element_at(col("tq"), m * 8 + element_at(col("code"), m + 1) + 1))
          .as("adc"))
      .groupBy(col("query_id"))
      .agg(slice(sort_array(collect_list(struct(col("adc"), col("vec_id")))),
        1, k).as("top5"))
  }

  /** t29's SERVED vector arm: per-probe `(eval_id, train_id, vec_rank)`
    * rank lists for the embedded %100 eval probes, served from a SAVED
    * train-only IVF-PQ index — the composition t28's scaladoc claims
    * ("at 100 TB this arm is the served ANN index"). The build follows
    * s23's honest-file discipline: the coarse codebook (the 8 seed
    * centroids — codebooks are trained on a sample, so eval vectors in
    * the seed range stay eligible) is written and RE-READ, the TRAIN
    * corpus (`vec_id % 10 <> 0` — the same universe as t28's brute-force
    * arm) is encoded against the re-read file via [[subCbFromSaved]],
    * and serving opens the files, never the build plan. Rank = position
    * in the ADC-ascending (adc, vec_id) order — the same total tie-break
    * the s22 family's oracle replays.
    *
    * Scale shape: identical to s22's serve (probes broadcast into the
    * cell-equi-joined coded corpus; the corpus never shuffles); the rank
    * list handed to the fusion is ≤k rows per probe. */
  private[graft] def ivfpqServedTrainRanks(s: SparkSession, d: String,
                                           k: Int): DataFrame = {
    import s.implicits._
    val (cbR, encR) = ivfpqSaveTrainIndex(s, d)
    val probes = vectors(s, d).filter($"vec_id" % 100 === 0)
      .select($"vec_id".as("query_id"), $"v")
    ivfpqServedRanksFor(cbR, encR, probes, k)
  }

  /** The t29 index's BUILD half, MEMOIZED per (session, dataset) over a
    * session-unique artifact path (the r18 verdict's ask: the previous
    * fixed per-sfDir tmpdir path let any two concurrent callers
    * overwrite part files under each other's open serves — the t29
    * twin had to sequence its own steps around exactly that hazard —
    * and t29, t30, and their specs each paid a duplicated build).
    * One build per session now serves every caller via
    * [[SessionScope.memo]]: the memoized value is the pair of RE-READ
    * file-backed frames, which survive `clearCache` (they are parquet
    * reads, not CacheManager entries), so Verify's per-query hygiene
    * cannot force a rebuild either. A production rebuild loop that
    * WANTS fresh builds calls [[ivfpqSaveTrainIndexAt]] with its own
    * versioned path, exactly like a nightly job writing dated
    * artifacts. */
  private[graft] def ivfpqSaveTrainIndex(
      s: SparkSession, d: String): (DataFrame, DataFrame) = {
    SessionScope.memo(s, d, "t29_index")(
      ivfpqSaveTrainIndexAt(s, d, SessionScope.artifactPath(s, "t29", d)))
  }

  /** The raw (non-memoized) build at an EXPLICIT path: write + re-read
    * the coarse codebook, encode the TRAIN corpus against the re-read
    * file, write + re-read the coded corpus — s23's honest-file
    * discipline. Callers own the path's lifecycle; the catalog goes
    * through the memoized [[ivfpqSaveTrainIndex]] instead. */
  private[graft] def ivfpqSaveTrainIndexAt(
      s: SparkSession, d: String, path: String): (DataFrame, DataFrame) = {
    import s.implicits._
    val e = vectors(s, d)
    val cb = ivfpqCoarseCb(e)
    cb.coalesce(1).write.mode("overwrite").parquet(path + "/cb")
    val cbR = s.read.parquet(path + "/cb")
    ivfpqEncode(ivfpqAssign(e.filter($"vec_id" % 10 =!= 0), cbR),
        subCbFromSaved(cbR))
      .write.mode("overwrite").parquet(path + "/enc")
    (cbR, s.read.parquet(path + "/enc"))
  }

  /** The t29 index's SERVE half: rank lists `(eval_id, train_id,
    * vec_rank)` for an arbitrary probe frame `(query_id, v)` — batch or
    * per-micro-batch — against the re-read index files. Pure per-probe
    * work over the stream-safe [[ivfpqServeTopK]], so the union over
    * any probe batching equals the one-shot run. */
  private[graft] def ivfpqServedRanksFor(cbR: DataFrame, encR: DataFrame,
                                         probes: DataFrame, k: Int): DataFrame =
    ivfpqServeTopK(cbR, encR, probes, k)
      .select(col("query_id").as("eval_id"), posexplode(col("top5")))
      .select(col("eval_id"), col("col.vec_id").as("train_id"),
        (col("pos") + 1).cast("long").as("vec_rank"))

  /** The index's PERSISTED form: write the frozen IVF-PQ artifact (coarse
    * codebook + PQ-coded corpus) as parquet files and hand back the
    * RE-READ frames — the lifecycle a production vector store actually
    * has (a nightly build job materializes the index; serving processes
    * open the files, never the build plan). Doubles round-trip parquet
    * bit-exactly, so serving from the files is value-identical to
    * serving from the in-session frames — which s22's oracle proves by
    * replaying the saved-code ADC from the raw tables. Path is per
    * (session, sfDir) via [[SessionScope.artifactPath]]: per-sfDir
    * because a serving layer must never open another scale's index,
    * per-session because a fixed shared path let concurrent sessions
    * overwrite part files under each other's open serves (r18
    * verdict). */
  def ivfpqSaveIndex(s: SparkSession, d: String): (DataFrame, DataFrame) = {
    val (cb, enc) = ivfpqFrozenIndex(s, d)
    val path = SessionScope.artifactPath(s, "s22", d)
    cb.coalesce(1).write.mode("overwrite").parquet(path + "/cb")
    enc.write.mode("overwrite").parquet(path + "/enc")
    (s.read.parquet(path + "/cb"), s.read.parquet(path + "/enc"))
  }

  /** The subspace codebook DERIVED from a saved coarse-codebook file:
    * per (cell, m), the 8-dim slice of the saved centroid and its saved
    * per-subspace self-dot — value-identical to [[ivfpqSubCb]] (same
    * slices, same in-order dots, parquet round-trips doubles exactly),
    * so an increment encoded against the FILES gets byte-identical
    * codes. This is what makes s23's maintenance honest: nothing about
    * the codebook is recomputed from vectors at maintenance time. */
  /** The exact brute-force top-5 ground-truth slate (query_id,
    * neighbor_id) — s01's ranking cut to 5, the recall denominator of
    * TEN catalog queries (s06/s07/s09/s11/s13/s14/s16/s17/s19/s27).
    * MEMOIZED per (session, dataset) and localCheckpoint'd (r19, guide
    * §2.4): each consumer previously re-ran the full corpus-scan
    * brute-force pass per invocation — ten identical executions of the
    * catalog's most-repeated subplan per bench sweep. The slate is
    * 25 rows; ground truth for a fixed (corpus, query set) is a
    * constant, which is exactly what a production recall harness
    * computes once and reuses across every index evaluation. */
  private[graft] def exactTop5(s: SparkSession, d: String): DataFrame =
    SessionScope.frame(s, d, "s01_top5", Checkpointed) {
      queries("s01_cosine_topk")(s, d)
        .filter(col("rn") <= 5).select(col("query_id"), col("neighbor_id"))
    }

  /** Memoized [[knnDirEdges]] over the memoized assignment. */
  private[graft] def knnEdges(s: SparkSession, d: String): DataFrame =
    SessionScope.frame(s, d, "dir", Persisted)(knnDirEdges(knnAssigned(s, d)))

  /** The serving loops' bare `(i, j)` edge list, localCheckpoint'd so
    * every hop plan stays round-local (the g07 lineage lesson) and built
    * once per session+dataset. */
  private[graft] def knnG(s: SparkSession, d: String): DataFrame =
    SessionScope.frame(s, d, "g", Checkpointed)(knnEdges(s, d).select(col("i"), col("j")))

  /** The kNN-graph build stages shared by s21/s28/s29/s30, MEMOIZED per
    * (session, dataset): four queries consume the identical
    * assigned/edge frames, and pre-memoization each either re-persisted
    * them (the r13 ADVICE double-persist) or — after the unpersist fix —
    * re-BUILT them per query (measured +1.4 s on each of s28/s29/s30 in
    * the r14 bench). One build per session now serves all four, exactly
    * how a production session materializes an index once. The
    * checkpointed edge list ([[knnG]]) survives `clearCache`; the
    * Persisted helper frames register again and recompute once after a
    * clear, which is Verify's per-query hygiene working as intended.
    *
    * `knnAssigned`: every vector assigned to its best of the 8
    * seed-centroid cells (per-row broadcast argmax — corpus never
    * exchanged), persisted because the pair join consumes it twice.
    * `knnDirEdges`: the DIRECTED top-3 kNN edge list, cell-bounded (the
    * equi-join on cell is what keeps pair generation off O(n²)),
    * persisted because s21's mutual join reads it twice and the serving
    * loops probe it every hop. */
  private[graft] def knnAssigned(s: SparkSession, d: String): DataFrame =
    SessionScope.frame(s, d, "assigned", Persisted)(knnAssignedImpl(s, d))

  /** s31's core on arbitrary anchor/corpus frames (both in
    * `(vec_id, label, v, nrm)` shape): per anchor, the top-3
    * most-similar CROSS-LABEL corpus vectors, the best same-label
    * positive, and the triplet margin. Factored so the serving twin can
    * run the identical definition per micro-batch of ARRIVING anchors
    * against the static corpus — each batch's anchors are independent
    * (per-anchor ranking only), so the union over any batching equals
    * the one-shot batch run. */
  private[graft] def mineHardNegatives(anchors: DataFrame,
                                       corpus: DataFrame): DataFrame = {
    val s = corpus.sparkSession
    import s.implicits._
    val q = anchors.select($"vec_id".as("anchor_id"), $"label".as("albl"),
      $"v".as("qv"), $"nrm".as("qnrm"))
    val scored = corpus.join(broadcast(q), $"vec_id" =!= $"anchor_id")
      .select($"anchor_id", $"albl", $"vec_id", $"label",
        cosineWithNorms($"qv", $"v", $"qnrm", $"nrm").as("cos"))
    val negs = graft.operators.TopK.perKey(
      scored.filter($"label" =!= $"albl"),
      $"anchor_id", Seq($"cos".desc, $"vec_id"), 3, saltFrom = $"vec_id")
    val pos = scored.filter($"label" === $"albl")
      .groupBy($"anchor_id")
      .agg(max_by(struct($"vec_id".as("pid"), $"cos".as("pcos")),
        struct($"cos", (-$"vec_id").as("tb"))).as("p"))
      .select($"anchor_id", $"p.pid".as("pid"), $"p.pcos".as("pcos"))
    negs.join(broadcast(pos), Seq("anchor_id"))
      .select($"anchor_id", $"rn".as("rank"), $"vec_id".as("neg_id"),
        $"label".as("neg_label"), round($"cos", 6).as("neg_cos"),
        $"pid".as("pos_id"), round($"pcos", 6).as("pos_cos"),
        round($"pcos" - $"cos", 6).as("margin"))
      .orderBy($"anchor_id", $"rank")
  }

  private def knnAssignedImpl(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val e = vectors(s, d).withColumn("nrm", dot($"v", $"v"))
    val cents = e.filter($"vec_id" < 8)
      .select($"vec_id".as("cent_id"), $"v".as("cv"), $"nrm".as("cnrm"))
    e.join(broadcast(cents))
      .select($"vec_id", $"v", $"nrm", $"cent_id",
        cosineWithNorms($"v", $"cv", $"nrm", $"cnrm").as("ccos"))
      .groupBy($"vec_id")
      .agg(max_by(struct($"v", $"nrm", $"cent_id"),
        struct($"ccos", (-$"cent_id").as("tb"))).as("b"))
      .select($"vec_id", $"b.v".as("v"), $"b.nrm".as("nrm"),
        $"b.cent_id".as("cell"))
  }

  private[graft] def knnDirEdges(assigned: DataFrame): DataFrame = {
    val pairs = assigned.as("a").join(assigned.as("b"),
        col("a.cell") === col("b.cell") && col("a.vec_id") =!= col("b.vec_id"))
      .select(col("a.cell").as("cell"), col("a.vec_id").as("i"),
        col("b.vec_id").as("j"),
        cosineWithNorms(col("a.v"), col("b.v"), col("a.nrm"), col("b.nrm"))
          .as("cos"))
    graft.operators.TopK.perKey(
        pairs, col("i"), Seq(col("cos").desc, col("j")), 3, saltFrom = col("j"))
      .select(col("cell"), col("i"), col("j"),
        round(col("cos") * 1000000.0).cast("long").as("fx"))
  }

  private def subCbFromSaved(cbR: DataFrame): DataFrame =
    cbR.select(explode(col("cb")).as("e"))
      .select(explode(array((0 until 8).map(m => struct(
        lit(m).as("m"),
        struct(col("e.cell").as("cell"),
          slice(col("e.cv"), m * 8 + 1, 8).as("cv"),
          element_at(col("e.csn"), m + 1).as("csn")).as("ent"))): _*)).as("x"))
      .select(col("x.m").as("m"), col("x.ent").as("ent"))
      .groupBy(col("m"))
      .agg(sort_array(collect_list(col("ent"))).as("ents"))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Nightly INDEX MAINTENANCE — the operation between s22's one-off
    // build and its serving: the saved index holds the BASE corpus's
    // codes (vec_id % 10 <> 7, the harness increment convention); the
    // arriving increment is PQ-encoded against the RE-READ codebook file
    // (frozen — the FAISS add() path: no retraining, the sub-codebook is
    // derived from the saved coarse file's slices) and APPENDED to the
    // coded-corpus files; probes then serve from the merged files.
    // Because encoding is deterministic given the codebook, the merged
    // code set equals a from-scratch full-corpus encode — which is
    // exactly what the oracle replays, plus base/increment counts
    // proving the merge really was incremental (not a rebuild). Scale
    // shape: maintenance cost follows the INCREMENT (one narrow encode
    // pass + a file append — base codes are never read, never moved);
    // serving is s22's stream-safe path.
    "s23_ivfpq_index_maintenance" -> { (s, d) =>
      import s.implicits._
      val e = vectors(s, d)
      val isNew = col("vec_id") % 10 === 7
      // session-unique artifact path (see ivfpqSaveIndex): the rebuild
      // per invocation is the point of this query, the path is not
      val path = SessionScope.artifactPath(s, "s23", d)
      // the saved base index (in production: last night's artifact)
      val cb = ivfpqCoarseCb(e)
      cb.coalesce(1).write.mode("overwrite").parquet(path + "/cb")
      val cbR = s.read.parquet(path + "/cb")
      ivfpqEncode(ivfpqAssign(e.filter(!isNew), cbR), subCbFromSaved(cbR))
        .write.mode("overwrite").parquet(path + "/enc")
      // tonight: encode the increment against the FILES, append
      ivfpqEncode(ivfpqAssign(e.filter(isNew), cbR), subCbFromSaved(cbR))
        .write.mode("append").parquet(path + "/enc")
      val merged = s.read.parquet(path + "/enc")
      val probes = e.filter($"vec_id" < 5).select($"vec_id".as("query_id"), $"v")
      val census = merged.agg(
        count(when(col("vec_id") % 10 =!= 7, 1)).as("n_base"),
        count(when(col("vec_id") % 10 === 7, 1)).as("n_increment"),
        sum(conv(substring(md5(concat_ws(",", $"vec_id", $"cell",
            concat_ws(",", $"code".cast("array<string>"))).cast("binary")),
          1, 10), 16, 10).cast("long")).as("code_checksum"))
      ivfpqServeTop5(cbR, merged, probes)
        .select($"query_id", posexplode($"top5"))
        .select($"query_id", ($"pos" + 1).cast("int").as("rank"),
          $"col.vec_id".as("neighbor_id"), round($"col.adc", 6).as("adc"))
        .crossJoin(broadcast(census))
        .orderBy($"query_id", $"rank")
    },

    // The lifecycle's third act — DELETES + COMPACTION (s22 built the
    // index, s23 appended to it): the saved coded corpus is laid out
    // PARTITIONED BY CELL (the layout that makes serving open only
    // probed cells and maintenance touch only affected ones); a
    // tombstone set arrives (vec_id % 10 == 3, the harness delete
    // convention); compaction writes the surviving rows of the TOUCHED
    // cells to a staging path and swaps them in with DYNAMIC partition
    // overwrite — untouched cell partitions are never rewritten (their
    // survival is oracle-proven: the full-coverage checksum over the
    // re-read files spans every live row, so a wiped or stale
    // partition hash-mismatches). Output: probes served from the
    // compacted files (neighbors can no longer include deleted ids) +
    // the compaction census (n_live, n_ghosts — oracle pins it to 0,
    // n_cells_compacted, checksum). Scale shape: maintenance cost
    // follows the TOMBSTONED CELLS (read + rewrite only those
    // partitions; here uniform deletes touch all 8 local cells, but
    // production deletes cluster by recency/tenant so most partitions
    // sleep); the staging-then-swap is exactly how production
    // compactors avoid read-overwrite races.
    "s24_ivfpq_delete_compact" -> { (s, d) =>
      import s.implicits._
      val e = vectors(s, d)
      val isDel = col("vec_id") % 10 === 3
      val path = SessionScope.artifactPath(s, "s24", d)
      val cb = ivfpqCoarseCb(e)
      cb.coalesce(1).write.mode("overwrite").parquet(path + "/cb")
      val cbR = s.read.parquet(path + "/cb")
      // last night's artifact: the FULL corpus coded, laid out by cell
      ivfpqEncode(ivfpqAssign(e, cbR), subCbFromSaved(cbR))
        .write.mode("overwrite").partitionBy("cell").parquet(path + "/enc")
      val encR0 = s.read.parquet(path + "/enc")
      // the touched-partition list is a DRIVER-side compaction decision
      // (≤ cell-count values — exactly what a production compactor
      // lists before planning its rewrite), and it must materialize
      // BEFORE the swap: any plan still reading the pre-swap files
      // would evaluate after they are gone
      val touchedCells = encR0.filter(isDel)
        .select($"cell".cast("long")).distinct().as[Long].collect().sorted
      // stage the touched cells' survivors (a separate path — Spark
      // rightly refuses to overwrite a path it is reading), then swap
      // them in; only the staged partitions are replaced
      encR0.filter($"cell".isin(touchedCells: _*) && !isDel)
        .write.mode("overwrite").parquet(path + "/compact_stage")
      s.read.parquet(path + "/compact_stage")
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("cell").parquet(path + "/enc")
      // the swap replaced files under a path this session already
      // listed — drop the cached file index before re-reading
      s.catalog.refreshByPath(path + "/enc")
      val live = s.read.parquet(path + "/enc")
      val census = live.agg(
          count(lit(1)).as("n_live"),
          count(when(isDel, 1)).as("n_ghosts"),
          sum(conv(substring(md5(concat_ws(",", $"vec_id", $"cell",
              concat_ws(",", $"code".cast("array<string>"))).cast("binary")),
            1, 10), 16, 10).cast("long")).as("code_checksum"))
        .withColumn("n_cells_compacted", lit(touchedCells.length.toLong))
      val probes = e.filter($"vec_id" < 5).select($"vec_id".as("query_id"), $"v")
      ivfpqServeTop5(cbR, live, probes)
        .select($"query_id", posexplode($"top5"))
        .select($"query_id", ($"pos" + 1).cast("int").as("rank"),
          $"col.vec_id".as("neighbor_id"), round($"col.adc", 6).as("adc"))
        .crossJoin(broadcast(census))
        .orderBy($"query_id", $"rank")
    },

    // Materialized-index serving — the s-family analog of c13's "prove
    // the FILES, not the plan": the frozen IVF-PQ index is written to
    // parquet, re-read, and the probes are served strictly from the
    // round-tripped files (ivfpqSaveIndex). Output = each query's top-5
    // (rank, neighbor, ADC distance) from the SAVED index, plus a
    // corpus-coverage census over the re-read coded corpus: n_coded and
    // a 40-bit md5 checksum over every (vec_id, cell, code) row — rows
    // in cells no probe visits still have to round-trip byte-intact for
    // the hash to match. The DuckDB oracle recomputes assignment, codes,
    // multiprobe ADC, and the checksum from the raw embeddings table, so
    // a hash match proves the files carry exactly the index the build
    // defines. Scale shape: the build is s13's (one narrow coded row per
    // vector); the write adds no exchange beyond the files themselves
    // (codes are written in scan partitioning — at 100 TB you'd bucket
    // the enc files BY CELL so a serving process opens only probed
    // cells: same plan, partitioned layout); serving is the stream-safe
    // ivfpqServeTop5 (probes broadcast, corpus-side equi-join on cell).
    "s22_ivfpq_saved_index" -> { (s, d) =>
      import s.implicits._
      val (cbR, encR) = ivfpqSaveIndex(s, d)
      val probes = vectors(s, d).filter($"vec_id" < 5)
        .select($"vec_id".as("query_id"), $"v")
      val served = ivfpqServeTop5(cbR, encR, probes)
      // full-coverage round-trip proof: every re-read coded row lands in
      // the checksum (40-bit md5 prefixes summed exactly — CLAUDE.md's
      // cross-engine pseudo-hash), not just the rows serving touched
      val census = encR.agg(
        count(lit(1)).as("n_coded"),
        sum(conv(substring(md5(concat_ws(",", $"vec_id", $"cell",
            concat_ws(",", $"code".cast("array<string>"))).cast("binary")),
          1, 10), 16, 10).cast("long")).as("code_checksum"))
      served
        .select($"query_id", posexplode($"top5"))
        .select($"query_id", ($"pos" + 1).cast("int").as("rank"),
          $"col.vec_id".as("neighbor_id"), round($"col.adc", 6).as("adc"))
        .crossJoin(broadcast(census))
        .orderBy($"query_id", $"rank")
    },

    // LATE-INTERACTION retrieval (the ColBERT MaxSim scoring shape,
    // Khattab & Zaharia 2020): each document is a BAG of token vectors,
    // each query likewise; score(q, doc) = Σ_i max_j <q_i, doc_j> — per
    // query token, the best-matching document token. The harness
    // embeddings are single 64-dim vectors, so the 8 non-overlapping
    // 8-dim slices stand in for 8 token vectors (deterministic, oracle-
    // replayable) — the Spark-side plumbing (multi-vector layout, the
    // max-reduce over doc tokens, fixed-order sum over query tokens) is
    // the real operator; swap the slicer for a real token-embedding
    // column and nothing else changes.
    // Determinism: every dot is the in-order DotProduct fold (bitwise ==
    // list_dot_product); max over identical double sets is exact; the
    // final 8-term sum is written in ONE fixed left-assoc order in both
    // engines. Exposed score rounded to 6 dp.
    // Scale shape: the s13 long-narrow codegen lesson applied — docs
    // explode to 8 token rows with 8 query dots per row (the flat form
    // would put 64 dots + 8 greatest-chains in one stage and flirt with
    // the 64 KB method budget); the max-reduce is a map-side-combinable
    // (query, vec) aggregate (doc-token rows are scan-local, so partials
    // fully collapse before the exchange — one narrow row per pair
    // moves); queries broadcast; ranking is the two-phase salted top-k.
    // At production scale the explode rides the existing token dimension
    // and the same plan serves from an s22-style saved multi-vector
    // index.
    "s25_maxsim_late_interaction" -> { (s, d) =>
      import s.implicits._
      val e = vectors(s, d)
      def tok(v: Column, j: Int): Column = slice(v, 8 * j + 1, 8)
      val q = e.filter($"vec_id" < 5)
        .select($"vec_id".as("query_id") +:
          (0 until 8).map(i => tok($"v", i).as(s"q$i")): _*)
      val dtok = e.select($"vec_id",
        posexplode(array((0 until 8).map(j => tok($"v", j)): _*)).as(Seq("j", "dv")))
      val dots = dtok.join(broadcast(q), $"vec_id" =!= $"query_id")
        .select($"query_id" +: $"vec_id" +:
          (0 until 8).map(i => dot(col(s"q$i"), $"dv").as(s"d$i")): _*)
      val m = dots.groupBy($"query_id", $"vec_id")
        .agg(max($"d0").as("m0"), (1 until 8).map(i =>
          max(col(s"d$i")).as(s"m$i")): _*)
      val sc = m.select($"query_id", $"vec_id",
        (0 until 8).map(i => col(s"m$i")).reduceLeft(_ + _).as("score"))
      graft.operators.TopK.perKey(
          sc, $"query_id", Seq($"score".desc, $"vec_id"), 5, saltFrom = $"vec_id")
        .select($"query_id", $"rn".as("rank"), $"vec_id".as("neighbor_id"),
          round($"score", 6).as("maxsim"))
        .orderBy($"query_id", $"rank")
    },

    // Brute-force exact cosine top-10 for queries vec_id < 5. Ranking uses
    // the two-phase salted top-k: with only 5 query keys, a naive window
    // would shuffle every candidate to 5 reducers — the two-phase variant
    // first shrinks each (query, salt) slice to its local top 10, so the
    // final per-query rank sees ≤ buckets×10 rows per key at any scale.
    "s01_cosine_topk" -> { (s, d) =>
      import s.implicits._
      val e = vectors(s, d).withColumn("nrm", dot($"v", $"v"))
      val q = e.filter($"vec_id" < 5)
        .select($"vec_id".as("query_id"), $"v".as("qv"), $"nrm".as("qnrm"))
      val cand = e.join(broadcast(q), $"vec_id" =!= $"query_id")
        .select($"query_id", $"vec_id",
          cosineWithNorms($"qv", $"v", $"qnrm", $"nrm").as("cos"))
      graft.operators.TopK.perKey(
          cand, $"query_id", Seq($"cos".desc, $"vec_id"), 10, saltFrom = $"vec_id")
        .select($"query_id", $"vec_id".as("neighbor_id"), round($"cos", 6).as("cos_sim"), $"rn")
        .orderBy($"query_id", $"rn")
    },

    // HARD-NEGATIVE MINING — the contrastive-retrieval training-prep
    // step (DPR/SBERT/FlagEmbedding pipelines): for each anchor, the
    // top-3 most-similar corpus vectors whose LABEL DIFFERS (the
    // negatives a random sampler would never find, and the ones that
    // actually move a contrastive loss), alongside the anchor's best
    // same-label positive and the TRIPLET MARGIN pos_cos − neg_cos —
    // the number that decides whether the mined negative is hard
    // (margin ≈ 0) or trivial. Anchors without any same-label positive
    // mine no triplet (there is nothing to contrast against) — that is
    // the semantics of triplet construction, not a dropped row.
    //
    // Scale shape: s01's discipline with a per-anchor DYNAMIC exclusion
    // (label ≠ anchor's label — not a static predicate, so it rides the
    // broadcast anchor row, not the scan filter): anchors broadcast,
    // the corpus is scored in one narrow pass and never exchanged, the
    // per-anchor top-3 goes through the salted two-phase TopK (5 anchor
    // keys would otherwise funnel every candidate into 5 reducers), and
    // the positives collapse map-side via the max_by argmax. At 100 TB
    // this is exactly how a mining pass over a billion-vector corpus
    // stays scan-bound.
    "s31_hard_negative_mining" -> { (s, d) =>
      import s.implicits._
      val e = vectorNorms(s, d)
      mineHardNegatives(e.filter($"vec_id" < 5), e)
    },

    // IVF-style ANN: assign every vector to its nearest of 8 deterministic
    // seed centroids (one coarse-quantization pass), then search only the
    // query's inverted list (cell). At 100 TB this is the standard
    // billion-vector layout: cells are partitions, the query probes
    // nprobe cells instead of the full table. Centroids here are the first
    // 8 vectors (deterministic for the oracle); production would k-means.
    "s03_ann_ivf" -> { (s, d) =>
      import s.implicits._
      // nearest-centroid assignment as a map-side-combinable argmax
      // (max_by over the total order (ccos, -cent_id)) — NOT a ranking
      // window, which would shuffle AND sort the 8x-expanded join output;
      // the partial aggregate collapses each vector's 8 scored rows inside
      // the scan stage, so the exchange moves one row per vector. The
      // session's memoized assignment (knnAssigned), shared with s09/s20/
      // s21/c26.
      val assigned = knnAssigned(s, d)
      val q = assigned.filter($"vec_id" < 5)
        .select($"vec_id".as("query_id"), $"v".as("qv"), $"nrm".as("qnrm"),
          $"cell".as("qcell"))
      // two-phase salted top-k, like s01: 5 query keys over a cell's
      // candidates would otherwise funnel into 5 reducers
      val cand = assigned
        .join(broadcast(q), $"cell" === $"qcell" && $"vec_id" =!= $"query_id")
        .select($"query_id", $"cell", $"vec_id",
          cosineWithNorms($"qv", $"v", $"qnrm", $"nrm").as("cos"))
      graft.operators.TopK.perKey(
          cand, $"query_id", Seq($"cos".desc, $"vec_id"), 5, saltFrom = $"vec_id")
        .select($"query_id", $"cell", $"vec_id".as("neighbor_id"),
          round($"cos", 6).as("cos_sim"), $"rn")
        .orderBy($"query_id", $"rn")
    },

    // One Lloyd (k-means) refinement step from the s03 seed centroids:
    // assign every vector to its nearest centroid, then recompute each
    // cell's mean. The sum is an IN-ORDER elementwise fold over the cell's
    // members sorted by vec_id (`aggregate` over a sorted collect_list),
    // so both engines add the same doubles in the same order —
    // bit-identical means despite double non-associativity. This is the
    // exact-parity BASELINE; s08_kmeans_mapside is the 100 TB shape (map-
    // side fixed-point partial sums, no member list ever collected).
    "s04_kmeans_refine" -> { (s, d) =>
      import s.implicits._
      val e = vectors(s, d).withColumn("nrm", dot($"v", $"v"))
      val cents = e.filter($"vec_id" < 8)
        .select($"vec_id".as("cent_id"), $"v".as("cv"), $"nrm".as("cnrm"))
      // same map-side-combinable argmax assignment as s03 (see there)
      val assigned = e.join(broadcast(cents))
        .select($"vec_id", $"v",
          $"cent_id", cosineWithNorms($"v", $"cv", $"nrm", $"cnrm").as("ccos"))
        .groupBy($"vec_id")
        .agg(max_by(struct($"v", $"cent_id"),
          struct($"ccos", (-$"cent_id").as("tb"))).as("b"))
        .select($"vec_id", $"b.v".as("v"), $"b.cent_id".as("cell"))
      val meanCols = (0 until 4).map(i =>
        round(element_at($"sv", i + 1) / $"n_members", 6).as(s"m$i"))
      assigned.groupBy($"cell")
        .agg(count(lit(1)).as("n_members"),
          sort_array(collect_list(struct($"vec_id", $"v"))).as("vs"))
        .withColumn("sv", expr(
          """aggregate(vs, array_repeat(CAST(0.0 AS DOUBLE), 64),
            |  (acc, x) -> zip_with(acc, x.v, (p, q) -> p + q))""".stripMargin))
        .select($"cell" +: $"n_members" +: meanCols: _*)
        .orderBy($"cell")
    },

    // The SCALE-PATH Lloyd step promised by s04's scaladoc: identical
    // nearest-centroid assignment, but each cell's mean comes from
    // map-side-combinable partial sums instead of an in-order fold over a
    // collected member list. Cross-engine (and cross-partitioning!)
    // determinism comes from FIXED-POINT accumulation: every element
    // rounds to an integer count of 1e-6 units (round is
    // half-away-from-zero in both engines) and integer sums are exact and
    // order-independent — the means are bit-identical no matter how many
    // partitions contribute, which a double sum cannot promise. That also
    // makes this the REPRODUCIBLE variant a training pipeline wants
    // (quantization error ≤ 5e-7 per element, invisible at the exposed
    // 6 dp). posexplode turns each vector into (dim, x) rows and the
    // per-(cell, dim) sum partial-aggregates inside the scan stage, so
    // the exchange moves 64 longs per cell per input partition — never a
    // member list (s04's sort_array(collect_list) would make a cell with
    // billions of vectors a hot reducer; this shape cannot).
    "s08_kmeans_mapside" -> { (s, d) =>
      import s.implicits._
      val e = vectors(s, d).withColumn("nrm", dot($"v", $"v"))
      val cents = e.filter($"vec_id" < 8)
        .select($"vec_id".as("cent_id"), $"v".as("cv"), $"nrm".as("cnrm"))
      // same map-side-combinable argmax assignment as s03/s04 (see s03)
      val assigned = e.join(broadcast(cents))
        .select($"vec_id", $"v",
          $"cent_id", cosineWithNorms($"v", $"cv", $"nrm", $"cnrm").as("ccos"))
        .groupBy($"vec_id")
        .agg(max_by(struct($"v", $"cent_id"),
          struct($"ccos", (-$"cent_id").as("tb"))).as("b"))
        .select($"b.v".as("v"), $"b.cent_id".as("cell"))
      val sums = assigned
        .select($"cell", posexplode($"v").as(Seq("dim", "x")))
        .select($"cell", $"dim", round($"x" * lit(1e6)).cast("long").as("fx"))
        .groupBy($"cell", $"dim")
        .agg(count(lit(1)).as("n"), sum($"fx").as("sfx"))
        .withColumn("m", round($"sfx".cast("double") / ($"n" * lit(1e6)), 6))
      sums.filter($"dim" < 4)
        .groupBy($"cell")
        .agg(max($"n").as("n_members"),
          (0 until 4).map(i => max(when($"dim" === i, $"m")).as(s"m$i")): _*)
        .orderBy($"cell")
    },

    // Multi-round Lloyd — the iteration s08's single step promised
    // (SCALE.md's k-means story): 3 rounds, each re-broadcasting the
    // freshly-computed 8×64 centroid table and re-assigning the corpus.
    // Per round: (1) assignment is a PURE PER-ROW MAP against the one-row
    // broadcast codebook (argmax cosine via first-match position, ties to
    // the lowest cell — no join, no groupBy, the corpus is never
    // exchanged); (2) means are s08's fixed-point (cell, dim) partial
    // sums — exact integer accumulation, bit-reproducible under any
    // partitioning, and the only thing shuffled is 64 longs per cell per
    // input partition. The per-cell tables between rounds are 8-row
    // DataFrames, persisted so the composed lazy plan scans the vector
    // table exactly once per round (3 total). Output: per (round, cell)
    // the member count, leading centroid dims, and the L1 centroid
    // movement — the convergence trace a training pipeline monitors
    // (measured at sf0.01: mean shift 5.2 → 0.50 → 0.34). Centroids are
    // carried as (cell, cv) structs, so an emptied cell vanishes
    // consistently in both engines instead of shifting array indexes.
    "s12_kmeans_lloyd3" -> { (s, d) =>
      import s.implicits._
      val e = vectors(s, d)
      // codebook entries carry their squared norm so the per-row pass does
      // ONE dot product per centroid (cosineWithNorms, like s01/s03)
      val seeds = SessionScope.cache(e.filter($"vec_id" < 8)
        .select($"vec_id", $"v", dot($"v", $"v").as("cnrm"))
        .agg(sort_array(collect_list(
          struct($"vec_id".cast("int").as("cell"), $"v".as("cv"), $"cnrm"))).as("cb")))
      // one Lloyd round → 8-row (cell, n_members, marr) table
      def step(cb: DataFrame): DataFrame = {
        // UNROLLED argmax, not a transform() over the codebook: lambdas in
        // higher-order functions evaluate interpreted (boxed, no codegen),
        // which measured 3x slower here — 8 explicit codegen'd DotProducts
        // + a first-match when-chain keep the whole corpus pass inside
        // whole-stage codegen. Entries beyond the live cell count score
        // -inf (and their element_at never evaluates — CaseWhen branches
        // are lazy), so an emptied cell still vanishes consistently.
        // The scores MUST land as real columns in their own projection:
        // inlining them into the argmax would copy each cosine into every
        // when-branch and into greatest() (~72 evaluations/row — measured
        // 25x slower); CollapseProject keeps the split because non-cheap
        // aliases referenced more than once are not collapsed.
        val scored = e.crossJoin(broadcast(cb))
          .withColumn("nrm", dot($"v", $"v"))
          .select($"v" +: $"cb" +: (0 until 8).map { i =>
            when(lit(i) < size($"cb"),
              cosineWithNorms($"v", element_at($"cb", i + 1).getField("cv"),
                $"nrm", element_at($"cb", i + 1).getField("cnrm")))
              .otherwise(lit(Double.NegativeInfinity)).as(s"c$i")
          }: _*)
        val cs = (0 until 8).map(i => col(s"c$i"))
        val best = greatest(cs: _*)
        val cellCol = (0 until 8).foldRight(lit(-1)) { (i, els) =>
          when(cs(i) === best, element_at($"cb", i + 1).getField("cell"))
            .otherwise(els)
        }
        // 8 rows; cached so the next round's codebook AND this
        // round's report line both reuse ONE corpus scan
        SessionScope.cache(scored
          .select(cellCol.as("cell"), posexplode($"v").as(Seq("dim", "x")))
          .select($"cell", $"dim", round($"x" * lit(1e6)).cast("long").as("fx"))
          .groupBy($"cell", $"dim")
          .agg(count(lit(1)).as("n"), sum($"fx").as("sfx"))
          .select($"cell", $"dim", $"n",
            round($"sfx".cast("double") / ($"n" * lit(1e6)), 6).as("m"))
          .groupBy($"cell")
          .agg(max($"n").as("n_members"),
            transform(sort_array(collect_list(struct($"dim", $"m"))),
              x => x.getField("m")).as("marr")))
      }
      def toCb(pc: DataFrame): DataFrame =
        pc.agg(sort_array(collect_list(struct($"cell", $"marr".as("cv"),
          dot($"marr", $"marr").as("cnrm")))).as("cb"))
      def report(r: Int, pc: DataFrame, oldCb: DataFrame): DataFrame =
        pc.crossJoin(broadcast(oldCb))
          .withColumn("oldcv",
            element_at(filter($"cb", x => x.getField("cell") === $"cell"), 1)
              .getField("cv"))
          .select(lit(r).as("round"), $"cell", $"n_members",
            element_at($"marr", 1).as("m0"), element_at($"marr", 2).as("m1"),
            element_at($"marr", 3).as("m2"), element_at($"marr", 4).as("m3"),
            round(aggregate(zip_with($"marr", $"oldcv", (a, b) => abs(a - b)),
              lit(0.0), _ + _), 6).as("shift"))
      val pc1 = step(seeds); val cb1 = toCb(pc1)
      val pc2 = step(cb1); val cb2 = toCb(pc2)
      val pc3 = step(cb2)
      report(1, pc1, seeds).union(report(2, pc2, cb1)).union(report(3, pc3, cb2))
        .orderBy($"round", $"cell")
    },

    // Multi-probe LSH ANN + its recall@5 report in one query: the
    // production fix for s02's single-bucket recall loss. Each query
    // probes its own bucket plus the 8 Hamming-1 neighbor buckets (one
    // sign bit flipped) — 9 of 256 buckets ≈ 3.5% of the corpus scanned
    // instead of 0.4%, for a 9× candidate pool (measured at sf0.01:
    // mean recall@5 0.00 single-bucket → 0.20 multi-probe — the synthetic
    // embeddings are near-uniform, the hardest case for LSH; QUERIES.md).
    // The probe fan-out EXPANDS THE BROADCAST QUERY SIDE ONLY (5 queries
    // → 45 probe rows); the corpus side still sees one equi-join on its
    // precomputed bucket — same candidate-join shape, no extra corpus
    // pass, each candidate matches exactly one probe (buckets partition
    // the space) so no dedup is needed. Recall composition mirrors s06.
    "s07_ann_multiprobe" -> { (s, d) =>
      import s.implicits._
      val bucket: Column = (0 until 8)
        .map(i => when(element_at($"v", i + 1) > 0.0, lit(1 << i)).otherwise(lit(0)))
        .reduce(_ + _)
      val e = vectors(s, d).withColumn("bucket", bucket)
        .withColumn("nrm", dot($"v", $"v"))
      val probes = e.filter($"vec_id" < 5)
        .select($"vec_id".as("query_id"), $"v".as("qv"),
          $"bucket".as("qbucket"), $"nrm".as("qnrm"))
        .withColumn("probe", explode(array(
          $"qbucket" +: (0 until 8).map(i => $"qbucket".bitwiseXOR(lit(1 << i))): _*)))
      val cand = e
        .join(broadcast(probes), $"bucket" === $"probe" && $"vec_id" =!= $"query_id")
        .select($"query_id", $"vec_id",
          cosineWithNorms($"qv", $"v", $"qnrm", $"nrm").as("cos"))
      val approx = graft.operators.TopK.perKey(
          cand, $"query_id", Seq($"cos".desc, $"vec_id"), 5, saltFrom = $"vec_id")
        .select($"query_id".as("aq"), $"vec_id".as("an"))
      val exact = exactTop5(s, d)
      exact.join(approx, $"query_id" === $"aq" && $"neighbor_id" === $"an", "left")
        .groupBy($"query_id")
        .agg(count(lit(1)).as("k"), count($"an").as("n_hits"))
        .select($"query_id", $"n_hits",
          round($"n_hits".cast("double") / $"k".cast("double"), 6).as("recall_at_5"))
        .orderBy($"query_id")
    },

    // IVF with nprobe > 1 — the true production knob of an inverted-file
    // index: instead of searching only the query's own cell (s03), each
    // query probes its TOP-4 cells by centroid similarity. The probe list
    // is ranked by a window over the tiny query×centroid table (5 queries
    // × 8 centroids = 40 rows, broadcast side only); the corpus side keeps
    // the same single-cell argmax assignment and the same equi-join on
    // `cell` — no extra corpus pass, and a corpus vector matches at most
    // one probe (cells partition the space), so no candidate dedup.
    // Measured at sf0.01: recall@5 0.92 (s03, nprobe=1) → 0.96 (nprobe=4)
    // — query 2's 4th-ranked cell holds one of its exact neighbors. The
    // recall report composes s01's exact ranking like s06/s07.
    "s09_ivf_multiprobe" -> { (s, d) =>
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val nprobe = 4
      val e = vectors(s, d).withColumn("nrm", dot($"v", $"v"))
      val cents = e.filter($"vec_id" < 8)
        .select($"vec_id".as("cent_id"), $"v".as("cv"), $"nrm".as("cnrm"))
      // corpus: s03's memoized argmax assignment (see there)
      val assigned = knnAssigned(s, d)
      val probes = e.filter($"vec_id" < 5).join(broadcast(cents))
        .select($"vec_id".as("query_id"), $"v".as("qv"), $"nrm".as("qnrm"),
          $"cent_id", cosineWithNorms($"v", $"cv", $"nrm", $"cnrm").as("ccos"))
        .withColumn("crn", row_number().over(
          Window.partitionBy($"query_id").orderBy($"ccos".desc, $"cent_id")))
        .filter($"crn" <= nprobe)
        .select($"query_id", $"qv", $"qnrm", $"cent_id".as("probe"))
      val cand = assigned
        .join(broadcast(probes), $"cell" === $"probe" && $"vec_id" =!= $"query_id")
        .select($"query_id", $"vec_id",
          cosineWithNorms($"qv", $"v", $"qnrm", $"nrm").as("cos"))
      val approx = graft.operators.TopK.perKey(
          cand, $"query_id", Seq($"cos".desc, $"vec_id"), 5, saltFrom = $"vec_id")
        .select($"query_id".as("aq"), $"vec_id".as("an"))
      val exact = exactTop5(s, d)
      exact.join(approx, $"query_id" === $"aq" && $"neighbor_id" === $"an", "left")
        .groupBy($"query_id")
        .agg(count(lit(1)).as("k"), count($"an").as("n_hits"))
        .select($"query_id", $"n_hits",
          round($"n_hits".cast("double") / $"k".cast("double"), 6).as("recall_at_5"))
        .orderBy($"query_id")
    },

    // LSH-bucketed ANN: sign bits of dims 0..7 → 256 buckets; neighbors
    // searched within the query's bucket only.
    "s02_ann_buckets" -> { (s, d) =>
      import s.implicits._
      val bucket: Column = (0 until 8)
        .map(i => when(element_at($"v", i + 1) > 0.0, lit(1 << i)).otherwise(lit(0)))
        .reduce(_ + _)
      val e = vectors(s, d).withColumn("bucket", bucket)
        .withColumn("nrm", dot($"v", $"v"))
      val q = e.filter($"vec_id" < 5)
        .select($"vec_id".as("query_id"), $"v".as("qv"),
          $"bucket".as("qbucket"), $"nrm".as("qnrm"))
      // two-phase salted top-k, like s01 (see there)
      val cand = e
        .join(broadcast(q), $"bucket" === $"qbucket" && $"vec_id" =!= $"query_id")
        .select($"query_id", $"bucket", $"vec_id",
          cosineWithNorms($"qv", $"v", $"qnrm", $"nrm").as("cos"))
      graft.operators.TopK.perKey(
          cand, $"query_id", Seq($"cos".desc, $"vec_id"), 5, saltFrom = $"vec_id")
        .select($"query_id", $"bucket", $"vec_id".as("neighbor_id"),
          round($"cos", 6).as("cos_sim"), $"rn")
        .orderBy($"query_id", $"rn")
    },

    // Per-vector absmax int8 scalar quantization — the embedding
    // compression step of a vector store build (4x smaller than float32,
    // 8x than the double working type). Narrow per-row map, no shuffle:
    // quantize 100 TB of vectors in a single scan-bound pass. The mean
    // absolute reconstruction error rides along as the quality metric;
    // its sum is an IN-ORDER fold (engine parity like every dot product
    // here), exposed rounded to 6 dp.
    "s05_quantize_int8" -> { (s, d) =>
      import s.implicits._
      // qvec is emitted as a CSV STRING (q28's convention,
      // RelationalQueries.scala): the driver's checker sorts result rows
      // in pandas, and a raw array<tinyint> column is unsortable there.
      // In-order array_join — no element reorder, bitwise the same list.
      vectors(s, d)
        .withColumn("absmax", absmax($"v"))
        .withColumn("qvec", quantizeInt8($"v", $"absmax"))
        .select($"vec_id",
          array_join($"qvec".cast("array<string>"), ",").as("qvec_csv"),
          round($"absmax" / lit(127.0), 6).as("scale"),
          round(dequantMae($"v", $"qvec", $"absmax"), 6).as("mae"))
        .orderBy($"vec_id")
    },

    // Product quantization (the FAISS PQ compression step): split the
    // 64-dim vector into M=8 subspaces of 8 dims; per subspace, encode
    // the nearest of 8 codebook entries (the seed centroids' subvectors —
    // deterministic for the oracle; production trains per-subspace
    // k-means with s08's map-side Lloyd shape). Output is the 8-byte PQ
    // code per vector (64 bytes of doubles → 8 bytes, 64× smaller than
    // the working type) + reconstruction MSE, where each subspace's
    // squared error IS its argmin distance — no decode join needed.
    // Shape: one broadcast of 8 codebook rows, per-(vector, centroid)
    // subspace distances as in-order folds (engine parity), then a
    // map-side-combinable min_by per subspace (ties to the lower id) —
    // a single narrow pass + one 1-row-per-vector aggregation; encodes
    // 100 TB of vectors scan-bound, like s05.
    "s10_product_quantization" -> { (s, d) =>
      import s.implicits._
      val e = vectors(s, d)
      val cents = e.filter($"vec_id" < 8)
        .select($"vec_id".as("cent_id"), $"v".as("cv"))
      def d2(m: Int): Column = aggregate(
        zip_with(slice($"v", m * 8 + 1, 8), slice($"cv", m * 8 + 1, 8),
          (a, b) => (a - b) * (a - b)),
        lit(0.0), _ + _)
      val scored = e.join(broadcast(cents))
        .select($"vec_id" +: $"cent_id" +:
          (0 until 8).map(m => d2(m).as(s"d$m")): _*)
      val aggs = (0 until 8).flatMap { m =>
        Seq(min_by($"cent_id", struct(col(s"d$m"), $"cent_id")).as(s"c$m"),
          min(col(s"d$m")).as(s"e$m"))
      }
      scored.groupBy($"vec_id")
        .agg(aggs.head, aggs.tail: _*)
        .select($"vec_id",
          concat_ws(",", (0 until 8).map(m => col(s"c$m").cast("string")): _*)
            .as("code_csv"),
          round((0 until 8).map(m => col(s"e$m")).reduce(_ + _) / 64.0, 6)
            .as("mse"))
        .orderBy($"vec_id")
    },

    // IVF-PQ asymmetric-distance (ADC) search — the step that makes s10's
    // codes USEFUL (FAISS's IndexPQ search): the query stays uncompressed,
    // and its distance to any corpus vector is approximated from the PQ
    // code alone by summing, per subspace, a PRECOMPUTED distance-table
    // entry — 8 array lookups + 7 adds per candidate instead of a 64-dim
    // dot product, and the corpus vectors themselves are never read after
    // encoding. Shape: the codebook is ONE broadcast row (8 centroids), so
    // corpus PQ encoding is a pure per-row map (argmin by first-match
    // position — s10's (d2, cent_id) tie rule — ZERO shuffle); each of the
    // 5 queries carries its flat 64-entry table (index m*8+c, built from
    // the same broadcast codebook); scoring joins the broadcast query side
    // only; ranking is the two-phase salted top-k. At 100 TB the table
    // build costs queries×64 entries (trivial), the corpus pass reads
    // 8-byte codes instead of 512-byte vectors — the 64× scan shrink IS
    // the ADC payoff — and nothing ever decode-joins codes back to
    // vectors. Recall@5 vs s01's exact ranking rides along like s07/s09
    // (measured at sf0.01: mean 0.32 — 8 subspaces × 8 centroids is a
    // deliberately tiny codebook on near-uniform synthetic vectors;
    // production uses 256-entry codebooks trained with s08's Lloyd shape).
    // This is the ADC-only baseline over the FULL corpus; s13 is the
    // production composition (cells restrict the scan, fully codegen'd
    // encode) and measures the same recall at half the codes scanned.
    "s11_pq_adc_search" -> { (s, d) =>
      import s.implicits._
      val cand = pqAdcCandidates(s, d)
      val approx = graft.operators.TopK.perKey(
          cand, $"query_id", Seq($"adc", $"vec_id"), 5, saltFrom = $"vec_id")
        .select($"query_id".as("aq"), $"vec_id".as("an"))
      val exact = exactTop5(s, d)
      // approx is ≤ queries×5 rows — broadcast it so the recall join never
      // plans a sort-merge exchange of the exact side
      exact.join(broadcast(approx),
          $"query_id" === $"aq" && $"neighbor_id" === $"an", "left")
        .groupBy($"query_id")
        .agg(count(lit(1)).as("k"), count($"an").as("n_hits"))
        .select($"query_id", $"n_hits",
          round($"n_hits".cast("double") / $"k".cast("double"), 6).as("recall_at_5"))
        .orderBy($"query_id")
    },

    // PQ with LEARNED codebooks — the training step s11's scaladoc
    // defers to ("production uses codebooks trained with the Lloyd
    // shape"): per SUBSPACE, 3 rounds of k-means over the corpus's 8-dim
    // subvectors, then s11's ADC search with the TRAINED codebook and
    // recall@5 vs s01. This is FAISS's IndexPQ train()+search(): k-means
    // in each subspace independently, codes = per-subspace argmin cells.
    //
    // Shape: the corpus rides in the LONG subspace form — 8 NARROW rows
    // per vector (vec_id, m, 8-dim slice) from one generator — and joins
    // the 8-row broadcast codebook on `m`, so each row scores only its
    // own subspace's 8 entries: 8 materialized distance columns + one
    // argmin when-chain, all inside whole-stage codegen. (The wide form —
    // 64 distance columns over 8 codebook arrays in one fused stage —
    // blew janino's 64 KB method limit and silently fell back to
    // interpreted; the long form is both compiled AND narrower in
    // flight.) Training rounds never aggregate per vector: the argmin
    // rows posexplode straight into s12's fixed-point (m, cell, dim)
    // partial sums — per round ONE corpus scan whose only exchange is
    // 512 integer partials per input partition, with the 64-row cell
    // table persisted between rounds. The final encode is the one place
    // a per-vector row is rebuilt: codes collapse map-side via
    // collect_list to a single 8-struct row per vector before the
    // exchange. Search side is s11's: dense 64-entry per-query tables
    // broadcast (vanished cells hold +inf and are unreachable by any
    // code), in-order ADC fold, salted top-5, recall@5 vs s01.
    //
    // Measured at sf0.01, honestly: mean recall@5 0.20 vs 0.32 from the
    // seed codebooks — on these NEAR-UNIFORM synthetic vectors, training
    // HURTS. K-means on structure-less data contracts every centroid
    // toward the subspace mean, shrinking the distance-table dynamic
    // range until ADC ranking is mostly quantization noise; the seed
    // codebook (real corpus vectors) keeps more spread. The operator
    // proves the train+encode+search machinery end-to-end; the measured
    // lesson is that codebook training pays off only when the data has
    // cluster structure — which real embedding corpora do and this
    // synthetic one deliberately does not.
    "s15_pq_trained" -> { (s, d) =>
      import s.implicits._
      val e = vectors(s, d)
      def subv(v: Column, m: Int): Column = slice(v, m * 8 + 1, 8)
      // long subspace form: (vec_id, m, sv[8]) — 8 narrow rows per vector
      val eSub = e.select($"vec_id", explode(array((0 until 8).map(m =>
          struct(lit(m).as("m"), subv($"v", m).as("sv"))): _*)).as("a"))
        .select($"vec_id", $"a.m".as("m"), $"a.sv".as("sv"))
      // codebook: 8-row table (m, ents: array<(cell, cv, csn)> by cell);
      // csn is the in-order self-dot both engines' norm-expansion reuses
      val cb0 = e.filter($"vec_id" < 8)
        .select($"vec_id".cast("int").as("cell"), explode(array((0 until 8).map(m =>
          struct(lit(m).as("m"), subv($"v", m).as("cv"))): _*)).as("a"))
        .select($"cell", $"a.m".as("m"), $"a.cv".as("cv"))
        .withColumn("csn", dot($"cv", $"cv"))
        .groupBy($"m")
        .agg(sort_array(collect_list(struct($"cell", $"cv", $"csn"))).as("ents"))
      // per-(vec, m) argmin against the row's own subspace entries: the 8
      // norm-expansion distances land as real columns (s12's lesson),
      // ties go to the lowest position = lowest cell (the sort order)
      def assignLong(cb: DataFrame): DataFrame = {
        val p0 = eSub.join(broadcast(cb), Seq("m"))
          .withColumn("xsn", dot($"sv", $"sv"))
        val dCols = (0 until 8).map { k =>
          val ent = element_at($"ents", k + 1)
          when(lit(k) < size($"ents"),
            $"xsn" - lit(2.0) * dot($"sv", ent.getField("cv")) + ent.getField("csn"))
            .otherwise(lit(Double.PositiveInfinity)).as(s"d$k")
        }
        val p1 = p0.select(Seq($"vec_id", $"m", $"sv", $"ents") ++ dCols: _*)
        val ds = (0 until 8).map(k => col(s"d$k"))
        val bm = least(ds: _*)
        val cellCol = (0 until 8).foldRight(lit(-1)) { (k, els) =>
          when(ds(k) === bm, element_at($"ents", k + 1).getField("cell")).otherwise(els)
        }
        p1.select($"vec_id", $"m", $"sv", cellCol.as("cell"))
      }
      // one Lloyd round: argmin rows → fixed-point per-(m, cell, dim)
      // partial sums → next 64-entry codebook (8 rows, cached)
      def step(cb: DataFrame): DataFrame = SessionScope.cache(assignLong(cb)
        .select($"m", $"cell", posexplode($"sv").as(Seq("dim", "x")))
        .select($"m", $"cell", $"dim", round($"x" * lit(1e6)).cast("long").as("fx"))
        .groupBy($"m", $"cell", $"dim")
        .agg(count(lit(1)).as("n"), sum($"fx").as("sfx"))
        .select($"m", $"cell", $"dim",
          round($"sfx".cast("double") / ($"n" * lit(1e6)), 6).as("mean"))
        .groupBy($"m", $"cell")
        .agg(transform(sort_array(collect_list(struct($"dim", $"mean"))),
          x => x.getField("mean")).as("cv"))
        .withColumn("csn", dot($"cv", $"cv"))
        .groupBy($"m")
        .agg(sort_array(collect_list(struct($"cell", $"cv", $"csn"))).as("ents")))
      val cb3 = step(step(step(cb0)))
      // encode with the trained codebook — the one per-vector collapse:
      // collect_list partial-aggregates map-side, so the exchange carries
      // one 8-struct row per vector, not 8 rows
      val enc = assignLong(cb3)
        .groupBy($"vec_id")
        .agg(transform(sort_array(collect_list(struct($"m", $"cell"))),
          x => x.getField("cell")).as("code"))
      // per-query dense 64-entry table, flat-indexed by m*8 + cell
      val qrows = e.filter($"vec_id" < 5)
        .select($"vec_id".as("query_id"), explode(array((0 until 8).map(m =>
          struct(lit(m).as("m"), subv($"v", m).as("qsv"))): _*)).as("a"))
        .select($"query_id", $"a.m".as("m"), $"a.qsv".as("qsv"))
      val qt = qrows.join(broadcast(cb3), Seq("m"))
        .select($"query_id", $"m", transform(sequence(lit(0), lit(7)), c => {
          // try_element_at: a Lloyd round can empty a cell, leaving the
          // filter empty; element_at would throw under ANSI mode before the
          // isNotNull guard ran. try_element_at yields null → +inf branch.
          val ent = try_element_at(filter($"ents", x => x.getField("cell") === c), lit(1))
          when(ent.isNotNull,
            dot($"qsv", $"qsv") - lit(2.0) * dot($"qsv", ent.getField("cv"))
              + ent.getField("csn"))
            .otherwise(lit(Double.PositiveInfinity))
        }).as("tqm"))
        .groupBy($"query_id")
        .agg(flatten(transform(sort_array(collect_list(struct($"m", $"tqm"))),
          x => x.getField("tqm"))).as("tq"))
      val cand = enc.join(broadcast(qt), $"vec_id" =!= $"query_id")
        .select($"query_id", $"vec_id",
          aggregate(sequence(lit(0), lit(7)), lit(0.0),
            (acc, m) => acc + element_at($"tq", m * 8 + element_at($"code", m + 1) + 1))
            .as("adc"))
      val approx = graft.operators.TopK.perKey(
          cand, $"query_id", Seq($"adc", $"vec_id"), 5, saltFrom = $"vec_id")
        .select($"query_id".as("aq"), $"vec_id".as("an"))
      val exact = exactTop5(s, d)
      exact.join(broadcast(approx),
          $"query_id" === $"aq" && $"neighbor_id" === $"an", "left")
        .groupBy($"query_id")
        .agg(count(lit(1)).as("k"), count($"an").as("n_hits"))
        .select($"query_id", $"n_hits",
          round($"n_hits".cast("double") / $"k".cast("double"), 6).as("recall_at_5"))
        .orderBy($"query_id")
    },

    // Filtered (metadata-predicate) ANN — the production query every
    // vector store names explicitly (FAISS IDSelector, pgvector WHERE,
    // "pre-filtered search"): exact top-5 among only the corpus vectors
    // whose metadata passes a predicate (label < 3 here). In an engine
    // whose vectors live in parquet the filter is FREE: it pushes into
    // the scan (PushedFilters, plan-guarded), so the search reads only
    // qualifying row groups — no post-filtering a larger candidate set,
    // no index-side selector plumbing. Ranking is s01's broadcast +
    // salted two-phase top-k over the pruned scan. Queries come from the
    // UNFILTERED table (a query needn't satisfy its own predicate).
    "s17_ann_filtered" -> { (s, d) =>
      import s.implicits._
      val all = vectors(s, d).withColumn("nrm", dot($"v", $"v"))
      val q = all.filter($"vec_id" < 5)
        .select($"vec_id".as("query_id"), $"v".as("qv"), $"nrm".as("qnrm"))
      val corpus = vectors(s, d).filter($"label" < 3)
        .withColumn("nrm", dot($"v", $"v"))
      val cand = corpus.join(broadcast(q), $"vec_id" =!= $"query_id")
        .select($"query_id", $"vec_id", $"label",
          cosineWithNorms($"qv", $"v", $"qnrm", $"nrm").as("cos"))
      graft.operators.TopK.perKey(
          cand, $"query_id", Seq($"cos".desc, $"vec_id"), 5, saltFrom = $"vec_id")
        .select($"query_id", $"vec_id".as("neighbor_id"), $"label",
          round($"cos", 6).as("cos_sim"), $"rn")
        .orderBy($"query_id", $"rn")
    },

    // Incremental vector ingest — d17's analog for embeddings, completing
    // the nightly-increment story (d17 text, c11 corpus, s18 vectors): new
    // vectors (the deterministic ~10% slice vec_id % 10 = 7, d17's
    // convention) are admitted against an EXISTING IVF-PQ index built from
    // the base slice, without the base ever being re-clustered or
    // re-scored against itself. The 8 coarse cells are seeded from the
    // lowest 8 base ids (0-6, 8) and double as the PQ codebook (s11's demo
    // config). Every vector gets its cell from a per-row codegen'd cosine
    // argmax against the one-row broadcast codebook (s12's unrolled
    // pattern — the corpus is NEVER exchanged for assignment); base
    // vectors are PQ-encoded in the same scan projection (8-byte codes,
    // s11's form). The screen is the asymmetric join d17 uses: increment
    // ADC tables are BROADCAST against the streamed base codes,
    // equi-joined on the cell key only — so nightly cost follows the
    // increment's cell occupancy, and base codes are read, never decoded
    // or re-encoded. Verdict per new vector: near-dup when the best ADC
    // distance to any same-cell base code is ≤ 1.2 (the observed
    // distribution at sf0.01 runs 0.98–1.43, so the gate splits it
    // meaningfully), novel otherwise; match_id is the argmin base vector
    // with a (adc, vec_id) total-order tie-break.
    "s18_incremental_ingest" -> { (s, d) =>
      import s.implicits._
      val e = vectors(s, d)
      val isNew = $"vec_id" % 10 === 7
      // one-row broadcast codebook: (cell, cv, cnrm) structs sorted by
      // cell id; cnrm feeds cosineWithNorms, cv the subspace distances
      val cb = e.filter(!isNew && $"vec_id" < 9)
        .select($"vec_id".cast("int").as("cell"), $"v",
          dot($"v", $"v").as("cnrm"))
        .agg(sort_array(collect_list(struct($"cell", $"v".as("cv"), $"cnrm")))
          .as("cb"))
      def subv(v: Column, m: Column): Column = slice(v, m * lit(8) + lit(1), lit(8))
      def d2(a: Column, b: Column): Column =
        aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)), lit(0.0), _ + _)
      def dists(v: Column, m: Column): Column =
        transform(sequence(lit(0), lit(7)),
          c => d2(subv(v, m), subv(element_at($"cb", c + 1).getField("cv"), m)))
      // per-row coarse assignment: 8 cosines as REAL COLUMNS (s12's
      // measured lesson), first-match argmax; the chain is wrapped in
      // coalesce because `cell` becomes a JOIN KEY and a nullable chain
      // would get the full chain substituted into an inferred isnotnull
      // (the s13 method-limit incident)
      def withCell(df: DataFrame): DataFrame = {
        val scored = df.crossJoin(broadcast(cb))
          .withColumn("nrm", dot($"v", $"v"))
          .select($"vec_id" +: $"v" +: $"cb" +: (0 until 8).map { i =>
            cosineWithNorms($"v", element_at($"cb", i + 1).getField("cv"),
              $"nrm", element_at($"cb", i + 1).getField("cnrm")).as(s"c$i")
          }: _*)
        val cs = (0 until 8).map(i => col(s"c$i"))
        val best = greatest(cs: _*)
        val cellCol = (0 until 8).foldRight(lit(-1)) { (i, els) =>
          when(cs(i) === best, element_at($"cb", i + 1).getField("cell"))
            .otherwise(els)
        }
        scored.select($"vec_id", $"v", $"cb", coalesce(cellCol, lit(-1)).as("cell"))
      }
      // base: cell + 8-byte PQ code in ONE scan projection — the stored
      // "ledger" sidecar a real ingest run maintains
      val baseCodes = withCell(e.filter(!isNew))
        .select($"vec_id", $"cell", transform(sequence(lit(0), lit(7)), m => {
          val ds = dists($"v", m)
          (array_position(ds, array_min(ds)) - 1).cast("int")
        }).as("code"))
      // increment: cell + flat 64-entry ADC distance table, cached —
      // it feeds both the broadcast screen side and the output spine
      val inc = SessionScope.cache(withCell(e.filter(isNew))
        .select($"vec_id".as("new_id"), $"cell".as("ncell"),
          flatten(transform(sequence(lit(0), lit(7)), m => dists($"v", m)))
            .as("tq")))
      val screened = baseCodes.join(broadcast(inc), $"cell" === $"ncell")
        .select($"new_id", $"vec_id",
          aggregate(sequence(lit(0), lit(7)), lit(0.0),
            (acc, m) => acc + element_at($"tq", m * 8 + element_at($"code", m + 1) + 1))
            .as("adc"))
        .groupBy($"new_id")
        .agg(count(lit(1)).as("n_cands"), min($"adc").as("best"),
          min_by($"vec_id", struct($"adc", $"vec_id")).as("arg"))
      inc.select($"new_id".as("vec_id"), $"ncell".as("cell"))
        .join(broadcast(screened), $"vec_id" === $"new_id", "left")
        .select($"vec_id", $"cell",
          coalesce($"n_cands", lit(0L)).as("n_cands"),
          round($"best", 6).as("best_adc"),
          when($"best" <= 1.2, $"arg").as("match_id"),
          when($"best".isNull, lit("empty_cell"))
            .when($"best" <= 1.2, lit("near_dup"))
            .otherwise(lit("novel")).as("verdict"))
        .orderBy($"vec_id")
    },

    // Codebook-size SWEEP — closes the documented demo-vs-production gap
    // (s11/s13 run 8-entry codebooks; production PQ uses 256): the same
    // ADC search at K=8 and K=256 seed codebooks, recall@5 vs s01 side by
    // side per query. Measured at sf0.01: mean recall 0.32 → 0.40 — it
    // RISES with codebook size, but modestly, because these synthetic
    // vectors are near-uniform (the same structure-less-data ceiling
    // s15's training negative documents; real embedding corpora gain
    // far more). Costs that move with K, stated: codes stay 8 bytes (one
    // byte per subspace up to K=256); the per-query distance table grows
    // 8K entries (16 KB doubles at K=256 — still broadcast change); the
    // encode pass scores K entries per subspace per vector, which is why
    // production trains codebooks offline on a sample (s15's loop) and
    // encodes once. Fan-outs are driven by the runtime codebook size, so
    // smaller scale factors (< 256 vectors) degrade gracefully.
    "s19_pq_codebook_sweep" -> { (s, d) =>
      import s.implicits._
      val exact = exactTop5(s, d)
      def recallArm(kSeed: Int, outCol: String): DataFrame = {
        val cand = pqAdcCandidatesK(s, d, kSeed)
        val approx = graft.operators.TopK.perKey(
            cand, $"query_id", Seq($"adc", $"vec_id"), 5, saltFrom = $"vec_id")
          .select($"query_id".as("aq"), $"vec_id".as("an"))
        exact.join(broadcast(approx),
            $"query_id" === $"aq" && $"neighbor_id" === $"an", "left")
          .groupBy($"query_id")
          .agg(round(count($"an").cast("double") / count(lit(1)).cast("double"), 6)
            .as(outCol))
      }
      recallArm(8, "recall_k8")
        .join(recallArm(256, "recall_k256"), "query_id")
        .orderBy($"query_id")
    },

    // Embedding OUTLIER census — SemDeDup's (d12's) complement from the
    // same paper family (prototypicality pruning): where d12 drops docs
    // TOO CLOSE to a neighbor, this flags docs FARTHEST from their
    // cluster's center — the "weird tail" (OCR garbage, off-distribution
    // scrapes) an embedding-based curation pass prunes. Per vector: its
    // s03 cell, cosine to the cell's REFRESHED centroid (one Lloyd mean,
    // s08's fixed-point machinery — exact cross-engine), rank-from-
    // farthest within the cell, and the integer-exact bottom-20% verdict
    // (rn*5 <= cell_n — no percentile float ever compared).
    //
    // Scale shape: assignment is s03's map-side-combinable argmax;
    // centroids are fixed-point (cell, dim) partials (64 longs per cell
    // per partition — bit-reproducible under any partitioning); the
    // scoring join broadcasts the 8-row means table into the corpus
    // scan; the only exchange of per-vector rows is the rank window on
    // `cell`, which carries (vec_id, cell, pcos) — 20 bytes, the
    // VECTORS never ride it. Cells parallelize the sort; a mega-cell at
    // 100 TB would switch to a two-scan approximate threshold + gate
    // (same verdict column, no rank) — the documented fallback.
    "s20_outlier_census" -> { (s, d) =>
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      // s03's map-side-combinable argmax assignment (see there): the
      // memoized frame s21/c26 read
      val assigned = knnAssigned(s, d)
      // refreshed centroids: s08's exact fixed-point means, as arrays
      val means = assigned
        .select($"cell", posexplode($"v").as(Seq("dim", "x")))
        .select($"cell", $"dim", round($"x" * lit(1e6)).cast("long").as("fx"))
        .groupBy($"cell", $"dim")
        .agg(count(lit(1)).as("n"), sum($"fx").as("sfx"))
        .select($"cell",  $"dim",
          round($"sfx".cast("double") / ($"n" * lit(1e6)), 6).as("m"))
        .groupBy($"cell")
        .agg(transform(sort_array(collect_list(struct($"dim", $"m"))),
          x => x.getField("m")).as("marr"))
        .select($"cell".as("mcell"), $"marr", dot($"marr", $"marr").as("mnrm"))
      val scored = assigned.join(broadcast(means), $"cell" === $"mcell")
        .select($"vec_id", $"cell",
          cosineWithNorms($"v", $"marr", $"nrm", $"mnrm").as("pcos"))
      val w = Window.partitionBy($"cell").orderBy($"pcos", $"vec_id")
      scored
        .withColumn("rn", row_number().over(w).cast("long"))
        .withColumn("cell_n",
          count(lit(1)).over(Window.partitionBy($"cell")).cast("long"))
        .select($"vec_id", $"cell", round($"pcos", 6).as("proto_cos"),
          $"rn", $"cell_n",
          when($"rn" * 5 <= $"cell_n", lit("prune")).otherwise(lit("keep"))
            .as("verdict"))
        .orderBy($"vec_id")
    },

    // Scalar-quantized (int8) search — FAISS's SQ8: s05 defined the
    // encoding, this searches with it, completing the quantization
    // family's accuracy/size ladder (raw 512 B → SQ8 64 B → PQ 8 B per
    // vector). Candidates are ranked by the cosine of the QUANTIZED
    // vectors — the per-vector absmax scales cancel in the ratio, so the
    // score is integer arithmetic (int8 dot products are exact in
    // doubles and ORDER-FREE, the rare score that is cross-engine-exact
    // with no fold-order discipline needed) divided once. The corpus
    // pass reads 64-byte codes instead of 512-byte vectors (the 8× scan
    // shrink), queries broadcast, top-5 via the salted two-phase rank,
    // recall@5 vs s01 rides along. Measured at sf0.01: mean recall@5
    // 0.96 (one neighbor of one query flips at the quantized-cosine
    // margin) while PQ's 8-byte codes (s11) sit at 0.32 — the ladder's
    // accuracy/size tradeoff, quantified.
    "s16_sq8_search" -> { (s, d) =>
      import s.implicits._
      val e = vectors(s, d)
      val q8 = e
        .withColumn("am", absmax($"v"))
        .select($"vec_id",
          quantizeInt8($"v", $"am").cast("array<double>").as("qd"))
        .withColumn("nq", dot($"qd", $"qd"))
      val qs = q8.filter($"vec_id" < 5)
        .select($"vec_id".as("query_id"), $"qd".as("qqd"), $"nq".as("qnq"))
      val cand = q8.join(broadcast(qs), $"vec_id" =!= $"query_id")
        .select($"query_id", $"vec_id",
          when($"nq" * $"qnq" === 0.0, lit(-1.0))
            .otherwise(cosineWithNorms($"qqd", $"qd", $"qnq", $"nq")).as("cos"))
      val approx = graft.operators.TopK.perKey(
          cand, $"query_id", Seq($"cos".desc, $"vec_id"), 5, saltFrom = $"vec_id")
        .select($"query_id".as("aq"), $"vec_id".as("an"))
      val exact = exactTop5(s, d)
      exact.join(broadcast(approx),
          $"query_id" === $"aq" && $"neighbor_id" === $"an", "left")
        .groupBy($"query_id")
        .agg(count(lit(1)).as("k"), count($"an").as("n_hits"))
        .select($"query_id", $"n_hits",
          round($"n_hits".cast("double") / $"k".cast("double"), 6).as("recall_at_5"))
        .orderBy($"query_id")
    },

    // Binary (1-bit) quantization + Hamming search — the quantization
    // ladder's floor (raw 512 B → SQ8 64 B → PQ 8 B → binary 8 B per
    // vector), and the form modern vector stores ship as the cheap
    // first pass because scoring is pure XOR + popcount (two codegen'd
    // `bit_count` calls — no table lookups, no float math, ~50×
    // cheaper per candidate than even ADC). The 64 sign bits pack as
    // TWO 32-bit halves held in BIGINTs: every value stays positive
    // and < 2^32, so the codes are exact integers on both engines with
    // no 1<<63 sign-wrap dialect hazard. Corpus pass reads 16-byte
    // codes (the 32× scan shrink vs raw), queries broadcast, top-5 by
    // (hamming asc, vec_id) via the salted two-phase rank; recall@5 vs
    // s01's exact top-5 and the exact integer sum of the winning
    // hamming distances ride along — the oracle pins the selected IDS
    // and their DISTANCES, not just membership. At 100 TB this is the
    // pre-filter stage: binary top-200 → SQ8/exact rerank (s14's
    // two-stage pattern composes directly).
    "s27_binary_hamming" -> { (s, d) =>
      import s.implicits._
      val e = vectors(s, d)
      def half(off: Int): Column = (0 until 32)
        .map(i => when(element_at($"v", off + i + 1) > 0.0, lit(1L << i))
          .otherwise(lit(0L)))
        .reduce(_ + _)
      val codes = e.select($"vec_id", half(0).as("lo"), half(32).as("hi"))
      val qs = codes.filter($"vec_id" < 5)
        .select($"vec_id".as("query_id"), $"lo".as("qlo"), $"hi".as("qhi"))
      val cand = codes.join(broadcast(qs), $"vec_id" =!= $"query_id")
        .select($"query_id", $"vec_id",
          (bit_count($"lo".bitwiseXOR($"qlo"))
            + bit_count($"hi".bitwiseXOR($"qhi"))).cast("int").as("ham"))
      val approx = graft.operators.TopK.perKey(
          cand, $"query_id", Seq($"ham", $"vec_id"), 5, saltFrom = $"vec_id")
        .select($"query_id".as("aq"), $"vec_id".as("an"), $"ham")
      val hsum = approx.groupBy($"aq".as("hq"))
        .agg(sum($"ham").cast("bigint").as("sum_ham"))
      val exact = exactTop5(s, d)
      exact.join(broadcast(approx),
          $"query_id" === $"aq" && $"neighbor_id" === $"an", "left")
        .groupBy($"query_id")
        .agg(count(lit(1)).as("k"), count($"an").as("n_hits"))
        .join(broadcast(hsum), $"query_id" === $"hq")
        .select($"query_id", $"n_hits",
          round($"n_hits".cast("double") / $"k".cast("double"), 6).as("recall_at_5"),
          $"sum_ham")
        .orderBy($"query_id")
    },

    // MMR (maximal marginal relevance) diversity rerank — the serving
    // stage after s14's exact rerank that RAG stacks actually ship:
    // from each query's exact top-20, greedily select 5 maximizing
    // λ·relevance − (1−λ)·max-similarity-to-already-selected (λ=0.7,
    // Carbonell & Goldstein 1998), so near-duplicate hits can't crowd
    // the context window. The greedy loop is inherently sequential in
    // k but each round is a TINY broadcast join: candidate sets are
    // ≤ 20 rows/query at ANY corpus size (the top-k bound is the scale
    // contract — 100 TB changes the candidate-generation stage, never
    // this one), so all 4 rounds compose into one lazy plan over
    // broadcast frames with zero shuffles after candidate generation.
    // Scores are in-order DotProduct folds (bitwise cross-engine);
    // ranks tie-break on vec_id; the oracle unrolls the same 5 rounds
    // as CTEs and must reproduce ids AND rounded scores.
    "s26_mmr_rerank" -> { (s, d) =>
      import s.implicits._
      val lam = lit(0.7); val oneMinusLam = lit(0.3)
      val e = vectors(s, d).withColumn("nrm", dot($"v", $"v"))
      val qs = e.filter($"vec_id" < 5)
        .select($"vec_id".as("query_id"), $"v".as("qv"), $"nrm".as("qn"))
      val scored = e.join(broadcast(qs), $"vec_id" =!= $"query_id")
        .select($"query_id", $"vec_id",
          cosineWithNorms($"qv", $"v", $"qn", $"nrm").as("rel"))
      // rank on NARROW (query, vec, rel) rows — vectors never ride the
      // rank shuffle (s20's rule); the ≤ 20/query winners then re-fetch
      // their vectors by broadcasting the id set against one corpus scan
      // (s14's candidate-probe shape)
      val candIds = graft.operators.TopK.perKey(
          scored, $"query_id", Seq($"rel".desc, $"vec_id"), 20, saltFrom = $"vec_id")
        .select($"query_id", $"vec_id", $"rel")
      // candidate frames TRUNCATE lineage (localCheckpoint), not just
      // cache: cand is re-read by sims plus every greedy round, and
      // each round's `next` references `selected` three times — left as
      // plain plans the analyzed tree grows ~3^rounds copies of the
      // TopK build (measured 28.6 CPU-s / 13.9 s wall at sf0.1; with
      // round-local LogicalRDD bases the loop is sub-second). Both
      // frames are candidate-sized (≤ 20 rows/query and its ≤ 20×19
      // pair square) at ANY corpus scale, so the checkpoint blocks are
      // trivially small.
      val cand = e.select($"vec_id", $"v", $"nrm")
        .join(broadcast(candIds), Seq("vec_id"))
        .select($"query_id", $"vec_id", $"rel", $"v", $"nrm")
        .localCheckpoint()
      val sims = cand.as("a").join(broadcast(cand.as("b")),
          col("a.query_id") === col("b.query_id")
            && col("a.vec_id") =!= col("b.vec_id"))
        .select(col("a.query_id").as("query_id"),
          col("a.vec_id").as("ci"), col("b.vec_id").as("cj"),
          cosineWithNorms(col("a.v"), col("b.v"),
            col("a.nrm"), col("b.nrm")).as("sim"))
        .localCheckpoint()
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy($"query_id").orderBy($"score".desc, $"vec_id")
      var selected = cand
        .select($"query_id", $"vec_id", (lam * $"rel").as("score"))
        .withColumn("rn", row_number().over(w)).filter($"rn" === 1)
        .select($"query_id", $"vec_id", lit(1).as("rank"), $"score")
      for (k <- 2 to 5) {
        val selIds = selected.select($"query_id".as("sq"), $"vec_id".as("sv"))
        val pen = sims.join(broadcast(selIds),
            $"query_id" === $"sq" && $"cj" === $"sv")
          .groupBy($"query_id".as("pq"), $"ci".as("pv"))
          .agg(max($"sim").as("pen"))
        val next = cand
          .join(broadcast(selIds), $"query_id" === $"sq" && $"vec_id" === $"sv",
            "left_anti")
          .join(broadcast(pen), $"query_id" === $"pq" && $"vec_id" === $"pv")
          .select($"query_id", $"vec_id",
            (lam * $"rel" - oneMinusLam * $"pen").as("score"))
          .withColumn("rn", row_number().over(w)).filter($"rn" === 1)
          .select($"query_id", $"vec_id", lit(k).as("rank"), $"score")
        selected = selected.unionByName(next).localCheckpoint()
      }
      selected
        .select($"query_id", $"rank", $"vec_id",
          round($"score", 6).as("mmr_score"))
        .orderBy($"query_id", $"rank")
    },

    // Two-stage retrieval (candidate generation → exact rerank) — the
    // production serving pattern that closes the recall gap quantization
    // opens: stage 1 scans only the 8-byte PQ codes (s11's ADC, shared
    // pqAdcCandidates stage) but keeps a GENEROUS top-20 per query instead
    // of the final top-5; stage 2 re-reads the full vectors for those
    // ≤ queries×20 survivors and re-ranks them with the exact cosine. At
    // 100 TB the exact stage is constant work regardless of corpus size —
    // the candidate-id set is broadcast, so the vector table sees one
    // scan-with-broadcast-hash-join (a semi-join by shape: only candidate
    // rows survive the probe), never a shuffle, and the expensive 64-dim
    // math runs on a few hundred rows. Measured at sf0.01: mean recall@5
    // rises from s11's 0.32 to 0.52 at identical code-scan cost (the rest
    // of the gap is candidates the tiny 8×8 codebook never surfaces into
    // the top-20 — production widens the codebook, not the rerank).
    "s14_pq_rerank" -> { (s, d) =>
      import s.implicits._
      val e = vectors(s, d).withColumn("nrm", dot($"v", $"v"))
      val cand20 = graft.operators.TopK.perKey(
          pqAdcCandidates(s, d), $"query_id", Seq($"adc", $"vec_id"), 20,
          saltFrom = $"vec_id")
        .select($"query_id", $"vec_id")
      val q = e.filter($"vec_id" < 5)
        .select($"vec_id".as("query_id"), $"v".as("qv"), $"nrm".as("qnrm"))
      // exact stage: one scan of the vector table, probed by the broadcast
      // candidate ids; query vectors join in as a second broadcast
      val rr = e.join(broadcast(cand20), Seq("vec_id"))
        .join(broadcast(q), Seq("query_id"))
        .select($"query_id", $"vec_id",
          cosineWithNorms($"qv", $"v", $"qnrm", $"nrm").as("cos"))
      val approx = graft.operators.TopK.perKey(
          rr, $"query_id", Seq($"cos".desc, $"vec_id"), 5, saltFrom = $"vec_id")
        .select($"query_id".as("aq"), $"vec_id".as("an"))
      val exact = exactTop5(s, d)
      exact.join(broadcast(approx),
          $"query_id" === $"aq" && $"neighbor_id" === $"an", "left")
        .groupBy($"query_id")
        .agg(count(lit(1)).as("k"), count($"an").as("n_hits"))
        .select($"query_id", $"n_hits",
          round($"n_hits".cast("double") / $"k".cast("double"), 6).as("recall_at_5"))
        .orderBy($"query_id")
    },

    // IVF-PQ — the full FAISS IndexIVFPQ composition, closing the vector
    // story: s03's coarse cells bound WHERE to look (only the query's
    // top-nprobe cells are scored), s11's ADC bounds HOW each candidate is
    // scored (8 table lookups over its 8-byte code). At 100 TB this is the
    // billion-vector serving layout: the corpus pass reads nprobe/#cells
    // of the codes — here 4/8, production 1-5% — and never touches a raw
    // vector after encoding.
    //
    // Encode shape — s15's LONG SUBSPACE form, adopted after the wide form
    // (64 materialized distance columns + argmin chains in one stage)
    // exceeded whole-stage fusion's 64 KB generated-method budget and
    // silently ran per-operator: the coarse cell lands first as a real
    // column (8 cosines over the one-row broadcast codebook + one argmax
    // when-chain — s12's fused shape), then each vector explodes to 8
    // narrow (m, slice) rows carrying its cell, joins the 8-row broadcast
    // subspace codebook on `m`, and scores only its OWN subspace's 8
    // entries: 8 norm-expansion distances (xsn − 2·x·c + csn) as real
    // columns + one argmin chain, everything codegen'd DotProducts and
    // plain attributes — the whole corpus pass stays inside ONE fused
    // stage (spec-verified to compile under the method limit). The code
    // then collapses back to one row per vector via map-side collect_list
    // partials, so the ONE exchange this buys carries (vec_id, cell,
    // 8 small ints) — ~20 bytes/vector at any scale, the price of full
    // fusion vs the wide form's zero-exchange-but-interpreted pass; at
    // production codebook widths (256 entries) the long form is also the
    // only compilable option. Probe ranking and ADC tables live on the
    // 5-row query side. Measured at sf0.01: recall@5 identical to s11's
    // full-corpus ADC — the quantization error dominates, so probing 4 of
    // 8 cells loses nothing while scanning half the codes.
    "s13_ivfpq_search" -> { (s, d) =>
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val e = vectors(s, d)
      // frozen-index build factored into ivfpqCoarseCb / ivfpqSubCb /
      // ivfpqAssign / ivfpqEncode (round 12) so the STREAMING serving twin
      // scores live probes against the exact same index definitions —
      // plan-identical to the inline form (PlanShapeSpec's fused-budget
      // guard and ShuffleCeilingSpec's byte ceiling both still pin it)
      val cb = SessionScope.cache(ivfpqCoarseCb(e))
      val cbSub = ivfpqSubCb(e)
      val assigned = ivfpqAssign(e, cb)
      val enc = ivfpqEncode(assigned, cbSub)
      // query side: probe ranking + flat ADC tables (5 rows — HOFs fine)
      val qs = e.filter($"vec_id" < 5).crossJoin(broadcast(cb))
        .withColumn("nrm", dot($"v", $"v"))
      val probes = qs
        .select($"vec_id".as("query_id"), $"v", $"nrm", explode($"cb").as("ce"))
        .select($"query_id", col("ce").getField("cell").as("cent_id"),
          cosineWithNorms($"v", col("ce").getField("cv"),
            $"nrm", col("ce").getField("cnrm")).as("ccos"))
        .withColumn("crn", row_number().over(
          Window.partitionBy($"query_id").orderBy($"ccos".desc, $"cent_id")))
        .filter($"crn" <= 4)
        .select($"query_id", $"cent_id".as("probe"))
      val tqf = qs.select($"vec_id".as("query_id"),
        flatten(transform(sequence(lit(0), lit(7)), m =>
          transform(sequence(lit(0), lit(7)), c => {
            val xm = slice($"v", m * lit(8) + lit(1), lit(8))
            val ce = element_at($"cb", c + 1)
            val cm = slice(ce.getField("cv"), m * lit(8) + lit(1), lit(8))
            dot(xm, xm) - lit(2.0) * dot(xm, cm) + element_at(ce.getField("csn"), m + 1)
          }))).as("tq"))
      val cand = enc
        .join(broadcast(probes), $"cell" === $"probe" && $"vec_id" =!= $"query_id")
        .join(broadcast(tqf), Seq("query_id"))
        .select($"query_id", $"vec_id",
          aggregate(sequence(lit(0), lit(7)), lit(0.0),
            (acc, m) => acc + element_at($"tq", m * 8 + element_at($"code", m + 1) + 1))
            .as("adc"))
      val approx = graft.operators.TopK.perKey(
          cand, $"query_id", Seq($"adc", $"vec_id"), 5, saltFrom = $"vec_id")
        .select($"query_id".as("aq"), $"vec_id".as("an"))
      val exact = exactTop5(s, d)
      exact.join(broadcast(approx),
          $"query_id" === $"aq" && $"neighbor_id" === $"an", "left")
        .groupBy($"query_id")
        .agg(count(lit(1)).as("k"), count($"an").as("n_hits"))
        .select($"query_id", $"n_hits",
          round($"n_hits".cast("double") / $"k".cast("double"), 6).as("recall_at_5"))
        .orderBy($"query_id")
    },

    // ANN quality evaluation — the recall@5 report every approximate
    // index build ends with: per query, how much of the EXACT top-5
    // (s01's brute-force ranking, cut to 5) the bucketed s02 search
    // recovered. Pure composition of the two oracle-checked pipelines —
    // a left join from exact to approx and one tiny per-query count.
    // At scale the exact side runs on a sampled query set (recall is a
    // statistic, not per-corpus work), so the evaluation costs one
    // brute-force pass over queries × corpus — the same broadcast shape
    // as s01 — while the approx side reuses the production index.
    "s06_ann_recall" -> { (s, d) =>
      import s.implicits._
      val exact = exactTop5(s, d)
      val approx = queries("s02_ann_buckets")(s, d)
        .select($"query_id".as("aq"), $"neighbor_id".as("an"))
      exact.join(approx, $"query_id" === $"aq" && $"neighbor_id" === $"an", "left")
        .groupBy($"query_id")
        .agg(count(lit(1)).as("k"), count($"an").as("n_hits"))
        .select($"query_id", $"n_hits",
          round($"n_hits".cast("double") / $"k".cast("double"), 6).as("recall_at_5"))
        .orderBy($"query_id")
    },

    // kNN-GRAPH construction census — the build step under every
    // graph-ANN index (HNSW neighborhoods, NN-descent seeds) and under
    // dataset-cartography tools: each vector's top-3 cosine neighbors
    // WITHIN ITS IVF CELL (s03's cells bound the quadratic exactly like
    // d12 — cells parallelize, all-pairs never crosses a cell), then the
    // symmetrization census: mutual edges (i∈knn(j) ∧ j∈knn(i)) are the
    // high-confidence backbone graph-ANN actually keeps. Per-cell
    // output: members, directed edges, mutual pairs, mean mutual cosine.
    // Determinism: ranking ties break on neighbor id; the mean is an
    // integer sum of per-edge fixed-point (1e-6) rounded cosines (t16's
    // trick), so no double ever sums in engine order. Scale shape: pair
    // generation is an equi-join on cell; top-3 is the salted TopK; the
    // mutual join touches 3·n directed edges, not pairs; census partials
    // are per-cell integers.
    "s21_knn_graph" -> { (s, d) =>
      import s.implicits._
      val assigned = knnAssigned(s, d)
      val dir = knnEdges(s, d)
      val mutual = dir.as("x").join(dir.as("y"),
          col("x.i") === col("y.j") && col("x.j") === col("y.i")
            && col("x.i") < col("x.j"))
        .select(col("x.cell").as("cell"), col("x.fx").as("fx"))
      val cellStats = assigned.groupBy($"cell").agg(count(lit(1)).as("n_vectors"))
      val edgeStats = dir.groupBy($"cell").agg(count(lit(1)).as("ne"))
      val mutualStats = mutual.groupBy($"cell")
        .agg(count(lit(1)).as("nm"), sum($"fx").as("sfx"))
      cellStats
        .join(edgeStats, Seq("cell"), "left")
        .join(mutualStats, Seq("cell"), "left")
        .select($"cell", $"n_vectors",
          coalesce($"ne", lit(0L)).as("n_edges"),
          coalesce($"nm", lit(0L)).as("n_mutual"),
          round($"sfx".cast("double") / ($"nm".cast("double") * 1000000.0), 6)
            .as("mean_mutual_cos"))
        .orderBy($"cell")
    },

    // Graph-ANN SERVING — beam search over s21's kNN graph, the
    // HNSW-family navigation step and the one ANN paradigm the
    // exact/LSH/IVF/PQ/SQ/binary ladder doesn't cover: start from the 8
    // cell-seed entry points, then 3 hops of expand-neighbors → score →
    // keep beam-4 (cos desc, vec_id ties). Each hop is a candidate-probe
    // shape: the ≤ (4 + 12)-id-per-query frontier BROADCASTS against the
    // edge list and one vector fetch — in production the fetch is a
    // point lookup into the id-keyed vector store; here it is the
    // columnar analog, a broadcast-hash probe of one corpus scan, and
    // the beam frames never shuffle. The beam always re-includes its
    // current members, so beam quality is monotone per hop (spec-
    // asserted); the oracle replays entry + 3 hops as unrolled CTEs
    // over the SAME knnDirEdges definition and must reproduce ids AND
    // rounded scores.
    "s28_graph_beam_search" -> { (s, d) =>
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val e = vectorNorms(s, d)
      // lineage truncation (the g07/s26/g05 lesson): the hop loop below
      // references `beam` twice per hop and every hop plan would embed
      // the full 8-copy graph-build tree — measured as 16 MB broadcast
      // task binaries and 2.95 s steady; with round-local LogicalRDD
      // bases the serve loop is the sub-second probe it should be
      val g = knnG(s, d)
      val qs = e.filter($"vec_id" < 5)
        .select($"vec_id".as("query_id"), $"v".as("qv"), $"nrm".as("qn"))
      val w = Window.partitionBy($"query_id").orderBy($"cos".desc, $"vec_id")
      def scoreIds(ids: DataFrame): DataFrame = e
        .join(broadcast(ids), Seq("vec_id"))
        .join(broadcast(qs), Seq("query_id"))
        .filter($"vec_id" =!= $"query_id")
        .select($"query_id", $"vec_id",
          cosineWithNorms($"qv", $"v", $"qn", $"nrm").as("cos"))
        .withColumn("rn", row_number().over(w)).filter($"rn" <= 4)
      var beam = scoreIds(
        e.filter($"vec_id" < 8).crossJoin(broadcast(qs.select($"query_id")))
          .select($"query_id", $"vec_id"))
      for (_ <- 1 to 3) {
        val base = beam.select($"query_id", $"vec_id").localCheckpoint()
        val exp = base.select($"query_id", $"vec_id".as("i"))
          .join(g, Seq("i")).select($"query_id", $"j".as("vec_id"))
        beam = scoreIds(base.unionByName(exp).distinct())
      }
      beam.select($"query_id", $"rn".cast("int").as("rank"),
          $"vec_id".as("neighbor_id"), round($"cos", 6).as("cos"))
        .orderBy($"query_id", $"rank")
    },

    // LAYERED graph-ANN entry — the "H" in HNSW, completing the
    // s21 (build) → s28 (serve) story: a sparser UPPER layer over a
    // deterministic 1/8 node sample (vec_id % 8 = 0), same cell-bounded
    // kNN construction at coarser degree (top-2 vs layer-0's top-3),
    // beam-searched first (8 fixed entry points, 2 hops); its top-4
    // result per query then SEEDS the layer-0 beam (2 hops) instead of
    // s28's blind cell seeds — the navigate-coarse-then-descend step
    // that makes HNSW entry cost logarithmic. Recall is measured IN the
    // query against the exact brute-force top-4 (s06's discipline):
    // each emitted neighbor carries an in_exact4 flag and the per-query
    // recall_at_4, so the layered entry's quality is an oracle-checked
    // OUTPUT, not a claim. Expansion budget ≈ s28's (8+12+12+12 scored
    // ids vs 8 + 2×8 upper on the 1/8 layer + 4+12+12 lower) with one
    // fewer layer-0 hop — the point of entering closer.
    //
    // Scale shape: identical to s28 — every frontier (≤16 ids/query)
    // BROADCASTS against the edge lists and one vector fetch; the upper
    // layer's build quadratic is (cell ∩ sample)²-bounded, 64× smaller
    // than layer-0's; hop frames localCheckpoint (the g07 lesson); at
    // 100 TB both graphs are saved artifacts and serving cost is
    // hops × beam × degree, corpus-size-independent. The exact-recall
    // arm is the s01 broadcast brute-force — evaluation harness, not
    // the serving path (drop it in production).
    "s29_layered_beam_entry" -> { (s, d) =>
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val e = vectorNorms(s, d)
      val g0 = knnG(s, d)
      // upper layer: same construction, sampled nodes, degree 2
      val up = knnAssigned(s, d).filter($"vec_id" % 8 === 0)
      val upPairs = up.as("a").join(up.as("b"),
          col("a.cell") === col("b.cell") && col("a.vec_id") =!= col("b.vec_id"))
        .select(col("a.vec_id").as("i"), col("b.vec_id").as("j"),
          cosineWithNorms(col("a.v"), col("b.v"), col("a.nrm"), col("b.nrm"))
            .as("cos"))
      val g1 = graft.operators.TopK.perKey(
          upPairs, col("i"), Seq(col("cos").desc, col("j")), 2, saltFrom = col("j"))
        .select(col("i"), col("j")).localCheckpoint()
      val qs = e.filter($"vec_id" < 5)
        .select($"vec_id".as("query_id"), $"v".as("qv"), $"nrm".as("qn"))
      val w = Window.partitionBy($"query_id").orderBy($"cos".desc, $"vec_id")
      def scoreIds(ids: DataFrame): DataFrame = e
        .join(broadcast(ids), Seq("vec_id"))
        .join(broadcast(qs), Seq("query_id"))
        .filter($"vec_id" =!= $"query_id")
        .select($"query_id", $"vec_id",
          cosineWithNorms($"qv", $"v", $"qn", $"nrm").as("cos"))
        .withColumn("rn", row_number().over(w)).filter($"rn" <= 4)
      def hops(init: DataFrame, g: DataFrame, n: Int): DataFrame = {
        var beam = init
        for (_ <- 1 to n) {
          val base = beam.select($"query_id", $"vec_id").localCheckpoint()
          val exp = base.select($"query_id", $"vec_id".as("i"))
            .join(g, Seq("i")).select($"query_id", $"j".as("vec_id"))
          beam = scoreIds(base.unionByName(exp).distinct())
        }
        beam
      }
      // upper-layer descent: fixed entries (sampled ids < 64), 2 hops
      val upper = hops(scoreIds(
        e.filter($"vec_id" % 8 === 0 && $"vec_id" < 64)
          .crossJoin(broadcast(qs.select($"query_id")))
          .select($"query_id", $"vec_id")), g1, 2)
      // layer-0 descent seeded by the upper result
      val beam = hops(scoreIds(upper.select($"query_id", $"vec_id")), g0, 2)
      // evaluation arm: exact top-4 via the s01 broadcast brute-force
      val exact = e.crossJoin(broadcast(qs))
        .filter($"vec_id" =!= $"query_id")
        .select($"query_id", $"vec_id",
          cosineWithNorms($"qv", $"v", $"qn", $"nrm").as("cos"))
        .withColumn("xrn", row_number().over(w)).filter($"xrn" <= 4)
        .select($"query_id", $"vec_id", lit(1).as("in_exact4"))
      val ww = Window.partitionBy($"query_id")
      beam.join(exact, Seq("query_id", "vec_id"), "left")
        .select($"query_id", $"rn".cast("int").as("rank"),
          $"vec_id".as("neighbor_id"), round($"cos", 6).as("cos"),
          coalesce($"in_exact4", lit(0)).as("in_exact4"))
        .withColumn("recall_at_4",
          round(sum($"in_exact4").over(ww).cast("double") / 4.0, 6))
        .orderBy($"query_id", $"rank")
    },

    // Beam-WIDTH recall sweep — the graph-ANN analog of s19's PQ
    // codebook sweep, closing the measured-ladder story for the serving
    // family: the SAME s28 search (8 cell seeds, 3 hops) run at beam
    // widths 2 / 4 / 8 over one shared graph, each width's found set
    // scored against the exact brute-force top-4. Output is one row per
    // width: found count, hits, recall@4, and the mean found cosine as
    // a FIXED-POINT 1e-6 integer sum divided once at the end (t16's
    // trick — order-free, engine-exact), so "wider beam = better recall
    // at linearly more scoring work" is an oracle-checked measurement,
    // not prose. Uniform random vectors floor strict recall (s29's
    // note), so the mean-cos column carries the discriminating signal.
    //
    // Scale shape: identical to s28 per width — frontiers broadcast,
    // the graph builds once (shared, checkpointed), cost scales as
    // Σ widths × hops × degree, corpus-size-independent at serve time.
    //
    // r19 (guide §2.6 — overlap independent work): the three width arms
    // used to run as THREE sequential hop loops, 9 in-loop eager
    // localCheckpoint jobs + 3 plan arms for frames of a few dozen rows
    // — pure scheduling cost (measured 2.60 s steady, 7.4 cpu-s, almost
    // none of it data). The widths never interact, so the sweep now
    // rides ONE loop over a width-TAGGED beam: every frame carries `bw`,
    // the rank window partitions by (bw, query_id), and the keep-filter
    // compares rn ≤ bw — per (bw, query) the row set evolves exactly as
    // the separate loops evolved it, so each width's found set, hits and
    // fixed-point cosine sum are value-identical; 3 checkpoints instead
    // of 9, one plan instead of three.
    "s30_beam_width_sweep" -> { (s, d) =>
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val e = vectorNorms(s, d)
      val g = knnG(s, d)
      val qs = e.filter($"vec_id" < 5)
        .select($"vec_id".as("query_id"), $"v".as("qv"), $"nrm".as("qn"))
      val w = Window.partitionBy($"bw", $"query_id")
        .orderBy($"cos".desc, $"vec_id")
      def scoreIds(ids: DataFrame): DataFrame = e
        .join(broadcast(ids), Seq("vec_id"))
        .join(broadcast(qs), Seq("query_id"))
        .filter($"vec_id" =!= $"query_id")
        .select($"bw", $"query_id", $"vec_id",
          cosineWithNorms($"qv", $"v", $"qn", $"nrm").as("cos"))
        .withColumn("rn", row_number().over(w)).filter($"rn" <= $"bw")
      val exact = e.crossJoin(broadcast(qs))
        .filter($"vec_id" =!= $"query_id")
        .select($"query_id", $"vec_id",
          cosineWithNorms($"qv", $"v", $"qn", $"nrm").as("cos"))
        .withColumn("xrn", row_number().over(
          Window.partitionBy($"query_id").orderBy($"cos".desc, $"vec_id")))
        .filter($"xrn" <= 4)
        .select($"query_id", $"vec_id", lit(1).as("hit"))
        .localCheckpoint()
      val seeds = e.filter($"vec_id" < 8)
        .crossJoin(broadcast(qs.select($"query_id")))
        .crossJoin(broadcast(Seq(2, 4, 8).toDF("bw")))
        .select($"bw", $"query_id", $"vec_id").localCheckpoint()
      var beam = scoreIds(seeds)
      for (_ <- 1 to 3) {
        val base = beam.select($"bw", $"query_id", $"vec_id").localCheckpoint()
        val exp = base.select($"bw", $"query_id", $"vec_id".as("i"))
          .join(g, Seq("i")).select($"bw", $"query_id", $"j".as("vec_id"))
        beam = scoreIds(base.unionByName(exp).distinct())
      }
      // degenerate-corpus note (r19 ADVICE, accepted + documented): a
      // width whose beam ends EMPTY would emit no row here, where the
      // pre-r19 per-width global agg emitted a zero row. Unreachable on
      // any corpus this query accepts: the seed frame cross-joins every
      // width with the 8 seed vectors, scoreIds only drops the probe
      // itself, and the keep-filter is rn <= bw (>= 2) — so every
      // (bw, query) beam holds >= 1 row whenever the corpus has >= 2
      // vectors, which the <256-vector degradation path already assumes.
      beam.join(exact, Seq("query_id", "vec_id"), "left")
        .groupBy($"bw")
        .agg(count(lit(1)).as("n_found"),
          sum(coalesce($"hit", lit(0))).cast("long").as("n_hits4"),
          sum(round($"cos" * 1000000.0).cast("long")).as("sfx"))
        .select($"bw".as("beam_width"), $"n_found", $"n_hits4",
          round($"n_hits4".cast("double") / 20.0, 6).as("recall_at_4"),
          round($"sfx".cast("double")
            / ($"n_found".cast("double") * 1000000.0), 6)
            .as("mean_found_cos"))
        .orderBy($"beam_width")
    }
  )

  val oracle: Map[String, String] = Map(
    // same slices, same in-order dots, same fixed-order 8-term sum
    "s25_maxsim_late_interaction" -> {
      val qcols = (0 until 8)
        .map(i => s"MAX(CASE WHEN j = $i THEN dv END) AS q$i").mkString(", ")
      val mcols = (0 until 8)
        .map(i => s"MAX(list_dot_product(q$i, dv)) AS m$i").mkString(", ")
      val ssum = (0 until 8).map(i => s"m$i").mkString(" + ")
      raw"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
           |dt AS (SELECT vec_id, j, v[8*j+1:8*j+8] AS dv FROM e, range(8) t(j)),
           |qs AS (SELECT vec_id AS query_id, $qcols FROM dt WHERE vec_id < 5 GROUP BY 1),
           |m AS (SELECT query_id, d.vec_id, $mcols
           |  FROM dt d JOIN qs q ON d.vec_id <> q.query_id GROUP BY 1, 2),
           |sc AS (SELECT query_id, vec_id, $ssum AS score FROM m),
           |r AS (SELECT query_id, vec_id, score,
           |    CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY score DESC, vec_id) AS INTEGER) AS rn
           |  FROM sc)
           |SELECT query_id, rn AS rank, vec_id AS neighbor_id, round(score, 6) AS maxsim
           |FROM r WHERE rn <= 5 ORDER BY query_id, rn""".stripMargin
    },

    "s01_cosine_topk" ->
      raw"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
           |q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE $SqlQueryPred),
           |c AS (SELECT query_id, vec_id, ${sqlCosine("qv", "v")} AS cos
           |  FROM e JOIN q ON vec_id <> query_id),
           |r AS (SELECT query_id, vec_id, cos,
           |    CAST(ROW_NUMBER() OVER (PARTITION BY query_id $SqlRankOrder) AS INTEGER) AS rn
           |  FROM c)
           |SELECT query_id, vec_id AS neighbor_id, round(cos, 6) AS cos_sim, rn
           |FROM r WHERE rn <= 10 ORDER BY query_id, rn""".stripMargin,

    // identical in-order dot products keep every cosine double bit-equal,
    // so the (cos DESC, id) rankings on both arms and the margin
    // arithmetic replay exactly; the positive JOIN (not LEFT) mirrors
    // the query's no-positive-no-triplet semantics
    "s31_hard_negative_mining" ->
      raw"""WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
           |q AS (SELECT vec_id AS anchor_id, label AS albl, v AS qv
           |  FROM e WHERE $SqlQueryPred),
           |sc AS (SELECT anchor_id, albl, vec_id, label, ${sqlCosine("qv", "v")} AS cos
           |  FROM e JOIN q ON vec_id <> anchor_id),
           |negs AS (SELECT anchor_id, vec_id, label, cos,
           |    CAST(ROW_NUMBER() OVER (PARTITION BY anchor_id
           |      ORDER BY cos DESC, vec_id) AS INTEGER) AS rn
           |  FROM sc WHERE label <> albl),
           |pos AS (SELECT anchor_id, vec_id AS pos_id, cos AS pcos FROM (
           |    SELECT anchor_id, vec_id, cos,
           |      ROW_NUMBER() OVER (PARTITION BY anchor_id
           |        ORDER BY cos DESC, vec_id) AS prn
           |    FROM sc WHERE label = albl) t WHERE prn = 1)
           |SELECT n.anchor_id, n.rn AS rank, n.vec_id AS neg_id,
           |  CAST(n.label AS INTEGER) AS neg_label,
           |  round(n.cos, 6) AS neg_cos, p.pos_id, round(p.pcos, 6) AS pos_cos,
           |  round(p.pcos - n.cos, 6) AS margin
           |FROM negs n JOIN pos p ON n.anchor_id = p.anchor_id
           |WHERE n.rn <= 3 ORDER BY n.anchor_id, n.rn""".stripMargin,

    "s03_ann_ivf" ->
      raw"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
           |cents AS (SELECT vec_id AS cent_id, v AS cv FROM e WHERE vec_id < 8),
           |ac AS (SELECT vec_id, v, cent_id, ${sqlCosine("v", "cv")} AS ccos
           |  FROM e CROSS JOIN cents),
           |assigned AS (SELECT vec_id, v, cent_id AS cell FROM (
           |  SELECT vec_id, v, cent_id, ccos,
           |    ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cent_id) AS crn
           |  FROM ac) t WHERE crn = 1),
           |q AS (SELECT vec_id AS query_id, v AS qv, cell AS qcell
           |  FROM assigned WHERE $SqlQueryPred),
           |c AS (SELECT query_id, cell, vec_id, ${sqlCosine("qv", "v")} AS cos
           |  FROM assigned JOIN q ON cell = qcell AND vec_id <> query_id),
           |r AS (SELECT query_id, cell, vec_id, cos,
           |    CAST(ROW_NUMBER() OVER (PARTITION BY query_id $SqlRankOrder) AS INTEGER) AS rn
           |  FROM c)
           |SELECT query_id, cell, vec_id AS neighbor_id, round(cos, 6) AS cos_sim, rn
           |FROM r WHERE rn <= 5 ORDER BY query_id, rn""".stripMargin,

    "s04_kmeans_refine" -> {
      val ms = (0 until 4)
        .map(i => s"round(sv[${i + 1}] / n_members, 6) AS m$i").mkString(", ")
      raw"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
           |cents AS (SELECT vec_id AS cent_id, v AS cv FROM e WHERE vec_id < 8),
           |ac AS (SELECT vec_id, v, cent_id, ${sqlCosine("v", "cv")} AS ccos
           |  FROM e CROSS JOIN cents),
           |assigned AS (SELECT vec_id, v, cent_id AS cell FROM (
           |  SELECT vec_id, v, cent_id, ccos,
           |    ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cent_id) AS crn
           |  FROM ac) t WHERE crn = 1),
           |g AS (SELECT cell, COUNT(*) AS n_members, list(v ORDER BY vec_id) AS vs
           |  FROM assigned GROUP BY cell),
           |sm AS (SELECT cell, n_members,
           |    list_reduce(list_prepend(list_transform(range(1, 65), i -> 0.0), vs),
           |      (acc, x) -> list_transform(range(1, 65), i -> acc[i] + x[i])) AS sv
           |  FROM g)
           |SELECT cell, n_members, $ms FROM sm ORDER BY cell""".stripMargin
    },

    "s02_ann_buckets" -> {
      raw"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v,
           |    CAST($sqlBucketSum AS INTEGER) AS bucket FROM embeddings),
           |q AS (SELECT vec_id AS query_id, v AS qv, bucket AS qbucket FROM e WHERE $SqlQueryPred),
           |c AS (SELECT query_id, e.bucket, vec_id, ${sqlCosine("qv", "v")} AS cos
           |  FROM e JOIN q ON e.bucket = qbucket AND vec_id <> query_id),
           |r AS (SELECT query_id, bucket, vec_id, cos,
           |    CAST(ROW_NUMBER() OVER (PARTITION BY query_id $SqlRankOrder) AS INTEGER) AS rn
           |  FROM c)
           |SELECT query_id, bucket, vec_id AS neighbor_id, round(cos, 6) AS cos_sim, rn
           |FROM r WHERE rn <= 5 ORDER BY query_id, rn""".stripMargin
    },

    "s06_ann_recall" -> {
      raw"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v,
           |    CAST($sqlBucketSum AS INTEGER) AS bucket FROM embeddings),
           |q AS (SELECT vec_id AS query_id, v AS qv, bucket AS qbucket FROM e WHERE $SqlQueryPred),
           |xc AS (SELECT query_id, vec_id, ${sqlCosine("qv", "v")} AS cos
           |  FROM e JOIN q ON vec_id <> query_id),
           |xr AS (SELECT query_id, vec_id,
           |    ROW_NUMBER() OVER (PARTITION BY query_id $SqlRankOrder) AS rn
           |  FROM xc),
           |exact AS (SELECT query_id, vec_id FROM xr WHERE rn <= 5),
           |ac AS (SELECT query_id, vec_id, ${sqlCosine("qv", "v")} AS cos
           |  FROM e JOIN q ON e.bucket = qbucket AND vec_id <> query_id),
           |ar AS (SELECT query_id, vec_id,
           |    ROW_NUMBER() OVER (PARTITION BY query_id $SqlRankOrder) AS rn
           |  FROM ac),
           |approx AS (SELECT query_id, vec_id FROM ar WHERE rn <= 5)
           |SELECT x.query_id, COUNT(a.vec_id) AS n_hits,
           |  round(CAST(COUNT(a.vec_id) AS DOUBLE) / COUNT(*), 6) AS recall_at_5
           |FROM exact x LEFT JOIN approx a
           |  ON x.query_id = a.query_id AND x.vec_id = a.vec_id
           |GROUP BY x.query_id ORDER BY x.query_id""".stripMargin
    },

    "s08_kmeans_mapside" ->
      raw"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
           |cents AS (SELECT vec_id AS cent_id, v AS cv FROM e WHERE vec_id < 8),
           |ac AS (SELECT vec_id, v, cent_id, ${sqlCosine("v", "cv")} AS ccos
           |  FROM e CROSS JOIN cents),
           |assigned AS (SELECT v, cent_id AS cell FROM (
           |  SELECT vec_id, v, cent_id, ccos,
           |    ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cent_id) AS crn
           |  FROM ac) t WHERE crn = 1),
           |fx AS (SELECT cell, t.dim - 1 AS dim,
           |    CAST(round(v[t.dim] * 1000000.0) AS BIGINT) AS fx
           |  FROM assigned CROSS JOIN (SELECT unnest(range(1, 65)) AS dim) t),
           |g AS (SELECT cell, dim, COUNT(*) AS n, SUM(fx) AS sfx FROM fx GROUP BY cell, dim),
           |m AS (SELECT cell, dim, n, round(CAST(sfx AS DOUBLE) / (n * 1000000.0), 6) AS m FROM g)
           |SELECT cell, CAST(MAX(n) AS BIGINT) AS n_members,
           |  MAX(CASE WHEN dim = 0 THEN m END) AS m0,
           |  MAX(CASE WHEN dim = 1 THEN m END) AS m1,
           |  MAX(CASE WHEN dim = 2 THEN m END) AS m2,
           |  MAX(CASE WHEN dim = 3 THEN m END) AS m3
           |FROM m WHERE dim < 4 GROUP BY cell ORDER BY cell""".stripMargin,

    "s09_ivf_multiprobe" ->
      raw"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
           |cents AS (SELECT vec_id AS cent_id, v AS cv FROM e WHERE vec_id < 8),
           |ac AS (SELECT vec_id, v, cent_id, ${sqlCosine("v", "cv")} AS ccos
           |  FROM e CROSS JOIN cents),
           |ranked AS (SELECT vec_id, v, cent_id, ccos,
           |    ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cent_id) AS crn
           |  FROM ac),
           |assigned AS (SELECT vec_id, v, cent_id AS cell FROM ranked WHERE crn = 1),
           |probes AS (SELECT vec_id AS query_id, v AS qv, cent_id AS probe
           |  FROM ranked WHERE crn <= 4 AND $SqlQueryPred),
           |q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE $SqlQueryPred),
           |xc AS (SELECT query_id, vec_id, ${sqlCosine("qv", "v")} AS cos
           |  FROM e JOIN q ON vec_id <> query_id),
           |xr AS (SELECT query_id, vec_id,
           |    ROW_NUMBER() OVER (PARTITION BY query_id $SqlRankOrder) AS rn
           |  FROM xc),
           |exact AS (SELECT query_id, vec_id FROM xr WHERE rn <= 5),
           |acand AS (SELECT p.query_id, a.vec_id, ${sqlCosine("p.qv", "a.v")} AS cos
           |  FROM assigned a JOIN probes p
           |    ON a.cell = p.probe AND a.vec_id <> p.query_id),
           |ar AS (SELECT query_id, vec_id,
           |    ROW_NUMBER() OVER (PARTITION BY query_id $SqlRankOrder) AS rn
           |  FROM acand),
           |approx AS (SELECT query_id, vec_id FROM ar WHERE rn <= 5)
           |SELECT x.query_id, COUNT(a.vec_id) AS n_hits,
           |  round(CAST(COUNT(a.vec_id) AS DOUBLE) / COUNT(*), 6) AS recall_at_5
           |FROM exact x LEFT JOIN approx a
           |  ON x.query_id = a.query_id AND x.vec_id = a.vec_id
           |GROUP BY x.query_id ORDER BY x.query_id""".stripMargin,

    "s07_ann_multiprobe" ->
      raw"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v,
           |    CAST($sqlBucketSum AS INTEGER) AS bucket FROM embeddings),
           |q AS (SELECT vec_id AS query_id, v AS qv, bucket AS qbucket FROM e WHERE $SqlQueryPred),
           |xc AS (SELECT query_id, vec_id, ${sqlCosine("qv", "v")} AS cos
           |  FROM e JOIN q ON vec_id <> query_id),
           |xr AS (SELECT query_id, vec_id,
           |    ROW_NUMBER() OVER (PARTITION BY query_id $SqlRankOrder) AS rn
           |  FROM xc),
           |exact AS (SELECT query_id, vec_id FROM xr WHERE rn <= 5),
           |probes AS (SELECT query_id, qv, CAST(xor(qbucket, f.f) AS INTEGER) AS probe
           |  FROM q CROSS JOIN (SELECT unnest([0, 1, 2, 4, 8, 16, 32, 64, 128]) AS f) f),
           |ac AS (SELECT query_id, vec_id, ${sqlCosine("qv", "v")} AS cos
           |  FROM e JOIN probes ON e.bucket = probe AND vec_id <> query_id),
           |ar AS (SELECT query_id, vec_id,
           |    ROW_NUMBER() OVER (PARTITION BY query_id $SqlRankOrder) AS rn
           |  FROM ac),
           |approx AS (SELECT query_id, vec_id FROM ar WHERE rn <= 5)
           |SELECT x.query_id, COUNT(a.vec_id) AS n_hits,
           |  round(CAST(COUNT(a.vec_id) AS DOUBLE) / COUNT(*), 6) AS recall_at_5
           |FROM exact x LEFT JOIN approx a
           |  ON x.query_id = a.query_id AND x.vec_id = a.vec_id
           |GROUP BY x.query_id ORDER BY x.query_id""".stripMargin,

    "s10_product_quantization" -> {
      val cs = (0 until 8).map(m => s"MAX(CASE WHEN m = $m THEN cent_id END) AS c$m").mkString(", ")
      val es = (0 until 8).map(m => s"MAX(CASE WHEN m = $m THEN d2 END) AS e$m").mkString(", ")
      val codeList = (0 until 8).map(m => s"c$m").mkString(", ")
      val errSum = (0 until 8).map(m => s"e$m").mkString(" + ")
      raw"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
           |cents AS (SELECT vec_id AS cent_id, v AS cv FROM e WHERE vec_id < 8),
           |sub AS (SELECT vec_id, cent_id, m,
           |    list_sum(list_transform(range(1, 9),
           |      i -> (v[m*8+i] - cv[m*8+i]) * (v[m*8+i] - cv[m*8+i]))) AS d2
           |  FROM e CROSS JOIN cents
           |  CROSS JOIN (SELECT unnest(range(0, 8)) AS m) ms),
           |r AS (SELECT vec_id, m, cent_id, d2,
           |    ROW_NUMBER() OVER (PARTITION BY vec_id, m ORDER BY d2, cent_id) AS rn
           |  FROM sub),
           |w AS (SELECT vec_id, $cs, $es FROM r WHERE rn = 1 GROUP BY vec_id)
           |SELECT vec_id, array_to_string([$codeList], ',') AS code_csv,
           |  round(($errSum) / 64.0, 6) AS mse
           |FROM w ORDER BY vec_id""".stripMargin
    },

    "s12_kmeans_lloyd3" -> {
      // one Lloyd round as CTEs: assignment (argmax cosine over the
      // struct list — first match = lowest cell, Spark's tie rule), s08's
      // fixed-point means, per-cell table, next codebook, report line
      def roundCtes(r: Int, prev: String): String =
        raw"""a$r AS (SELECT v, cb[list_position(ds, list_max(ds))].cell AS cell FROM (
             |    SELECT e.v, c.cb AS cb,
             |      list_transform(c.cb, x -> ${sqlCosine("e.v", "x.cv")}) AS ds
             |    FROM e CROSS JOIN $prev c)),
             |f$r AS (SELECT cell, t.dim - 1 AS dim,
             |    CAST(round(v[t.dim] * 1000000.0) AS BIGINT) AS fx
             |  FROM a$r CROSS JOIN (SELECT unnest(range(1, 65)) AS dim) t),
             |g$r AS (SELECT cell, dim, COUNT(*) AS n, SUM(fx) AS sfx FROM f$r GROUP BY cell, dim),
             |m$r AS (SELECT cell, dim, n, round(CAST(sfx AS DOUBLE) / (n * 1000000.0), 6) AS m FROM g$r),
             |pc$r AS (SELECT cell, CAST(MAX(n) AS BIGINT) AS n_members, list(m ORDER BY dim) AS marr
             |  FROM m$r GROUP BY cell),
             |cb$r AS (SELECT list(struct_pack(cell := cell, cv := marr) ORDER BY cell) AS cb FROM pc$r),
             |r$r AS (SELECT $r AS round, cell, n_members,
             |    marr[1] AS m0, marr[2] AS m1, marr[3] AS m2, marr[4] AS m3,
             |    round(list_sum(list_transform(range(1, 65),
             |      i -> abs(marr[i::INT] - oldcv[i::INT]))), 6) AS shift
             |  FROM (SELECT p.cell, p.n_members, p.marr,
             |      (list_filter(o.cb, x -> x.cell = p.cell))[1].cv AS oldcv
             |    FROM pc$r p CROSS JOIN $prev o))""".stripMargin
      raw"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
           |cb0 AS (SELECT list(struct_pack(cell := vec_id::INT, cv := v) ORDER BY vec_id) AS cb
           |  FROM e WHERE vec_id < 8),
           |${roundCtes(1, "cb0")},
           |${roundCtes(2, "cb1")},
           |${roundCtes(3, "cb2")}
           |SELECT * FROM r1 UNION ALL SELECT * FROM r2 UNION ALL SELECT * FROM r3
           |ORDER BY round, cell""".stripMargin
    },

    "s13_ivfpq_search" -> {
      // subspace squared distance via the same norm expansion the Spark
      // side computes: x·x − 2·x·c + c·c over the 8-dim slices
      val d2 =
        "list_dot_product(v[(m*8+1)::INT:(m*8+8)::INT], v[(m*8+1)::INT:(m*8+8)::INT])" +
          " - 2*list_dot_product(v[(m*8+1)::INT:(m*8+8)::INT], cv[(m*8+1)::INT:(m*8+8)::INT])" +
          " + list_dot_product(cv[(m*8+1)::INT:(m*8+8)::INT], cv[(m*8+1)::INT:(m*8+8)::INT])"
      raw"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
           |cents AS (SELECT vec_id AS cent_id, v AS cv FROM e WHERE vec_id < 8),
           |ac AS (SELECT vec_id, v, cent_id, ${sqlCosine("v", "cv")} AS ccos
           |  FROM e CROSS JOIN cents),
           |ranked AS (SELECT vec_id, v, cent_id, ccos,
           |    ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cent_id) AS crn
           |  FROM ac),
           |assigned AS (SELECT vec_id, cent_id AS cell FROM ranked WHERE crn = 1),
           |sub AS (SELECT e.vec_id, cent_id, m, $d2 AS d2
           |  FROM e CROSS JOIN cents
           |  CROSS JOIN (SELECT unnest(range(0, 8)) AS m) ms),
           |cr AS (SELECT vec_id, m, cent_id, d2,
           |    ROW_NUMBER() OVER (PARTITION BY vec_id, m ORDER BY d2, cent_id) AS rn
           |  FROM sub),
           |codes AS (SELECT vec_id, list(cent_id ORDER BY m) AS code
           |  FROM cr WHERE rn = 1 GROUP BY vec_id),
           |probes AS (SELECT vec_id AS query_id, cent_id AS probe
           |  FROM ranked WHERE crn <= 4 AND $SqlQueryPred),
           |tqf AS (SELECT vec_id AS query_id, list(d2 ORDER BY m, cent_id) AS tq
           |  FROM sub WHERE $SqlQueryPred GROUP BY vec_id),
           |sc AS (SELECT query_id, vec_id,
           |    list_sum(list_transform(range(0, 8),
           |      m -> tq[(m*8 + code[m+1] + 1)::INT])) AS adc
           |  FROM (SELECT p.query_id, a.vec_id, t.tq, c.code
           |        FROM assigned a JOIN probes p ON a.cell = p.probe AND a.vec_id <> p.query_id
           |        JOIN codes c ON c.vec_id = a.vec_id
           |        JOIN tqf t ON t.query_id = p.query_id)),
           |ar AS (SELECT query_id, vec_id,
           |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY adc, vec_id) AS rn
           |  FROM sc),
           |approx AS (SELECT query_id, vec_id FROM ar WHERE rn <= 5),
           |q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE $SqlQueryPred),
           |xc AS (SELECT query_id, vec_id, ${sqlCosine("qv", "v")} AS cos
           |  FROM e JOIN q ON vec_id <> query_id),
           |xr AS (SELECT query_id, vec_id,
           |    ROW_NUMBER() OVER (PARTITION BY query_id $SqlRankOrder) AS rn
           |  FROM xc),
           |exact AS (SELECT query_id, vec_id FROM xr WHERE rn <= 5)
           |SELECT x.query_id, COUNT(a.vec_id) AS n_hits,
           |  round(CAST(COUNT(a.vec_id) AS DOUBLE) / COUNT(*), 6) AS recall_at_5
           |FROM exact x LEFT JOIN approx a
           |  ON x.query_id = a.query_id AND x.vec_id = a.vec_id
           |GROUP BY x.query_id ORDER BY x.query_id""".stripMargin
    },

    // s22's replay with the maintenance census: merged codes equal the
    // from-scratch full-corpus encode (deterministic per codebook), and
    // the base/increment split proves the merge was incremental
    "s23_ivfpq_index_maintenance" -> {
      val d2 =
        "list_dot_product(v[(m*8+1)::INT:(m*8+8)::INT], v[(m*8+1)::INT:(m*8+8)::INT])" +
          " - 2*list_dot_product(v[(m*8+1)::INT:(m*8+8)::INT], cv[(m*8+1)::INT:(m*8+8)::INT])" +
          " + list_dot_product(cv[(m*8+1)::INT:(m*8+8)::INT], cv[(m*8+1)::INT:(m*8+8)::INT])"
      val adcSum = (0 until 8)
        .map(m => s"tq[($m*8 + code[${m + 1}] + 1)::INT]").mkString(" + ")
      raw"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
           |cents AS (SELECT vec_id AS cent_id, v AS cv FROM e WHERE vec_id < 8),
           |ac AS (SELECT vec_id, v, cent_id, ${sqlCosine("v", "cv")} AS ccos
           |  FROM e CROSS JOIN cents),
           |ranked AS (SELECT vec_id, v, cent_id, ccos,
           |    ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cent_id) AS crn
           |  FROM ac),
           |assigned AS (SELECT vec_id, cent_id AS cell FROM ranked WHERE crn = 1),
           |sub AS (SELECT e.vec_id, cent_id, m, $d2 AS d2
           |  FROM e CROSS JOIN cents
           |  CROSS JOIN (SELECT unnest(range(0, 8)) AS m) ms),
           |cr AS (SELECT vec_id, m, cent_id, d2,
           |    ROW_NUMBER() OVER (PARTITION BY vec_id, m ORDER BY d2, cent_id) AS rn
           |  FROM sub),
           |codes AS (SELECT vec_id, list(cent_id ORDER BY m) AS code
           |  FROM cr WHERE rn = 1 GROUP BY vec_id),
           |probes AS (SELECT vec_id AS query_id, cent_id AS probe
           |  FROM ranked WHERE crn <= 4 AND $SqlQueryPred),
           |tqf AS (SELECT vec_id AS query_id, list(d2 ORDER BY m, cent_id) AS tq
           |  FROM sub WHERE $SqlQueryPred GROUP BY vec_id),
           |sc AS (SELECT query_id, vec_id, $adcSum AS adc
           |  FROM (SELECT p.query_id, a.vec_id, t.tq, c.code
           |        FROM assigned a JOIN probes p ON a.cell = p.probe AND a.vec_id <> p.query_id
           |        JOIN codes c ON c.vec_id = a.vec_id
           |        JOIN tqf t ON t.query_id = p.query_id)),
           |ar AS (SELECT query_id, vec_id, adc,
           |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY adc, vec_id) AS rn
           |  FROM sc),
           |census AS (SELECT
           |    CAST(COUNT(CASE WHEN a.vec_id % 10 <> 7 THEN 1 END) AS BIGINT) AS n_base,
           |    CAST(COUNT(CASE WHEN a.vec_id % 10 = 7 THEN 1 END) AS BIGINT) AS n_increment,
           |    CAST(SUM(('0x' || substr(md5(a.vec_id::VARCHAR || ',' ||
           |      a.cell::VARCHAR || ',' || array_to_string(c.code, ',')),
           |      1, 10))::BIGINT) AS BIGINT) AS code_checksum
           |  FROM assigned a JOIN codes c ON c.vec_id = a.vec_id)
           |SELECT query_id, CAST(rn AS INTEGER) AS rank, vec_id AS neighbor_id,
           |  round(adc, 6) AS adc, n_base, n_increment, code_checksum
           |FROM ar CROSS JOIN census
           |WHERE rn <= 5 ORDER BY query_id, rank""".stripMargin
    },

    // s22's replay over the LIVE set only: candidates and the
    // full-coverage checksum exclude vec_id % 10 = 3 (the tombstones);
    // n_ghosts is the literal 0 — if compaction left any tombstoned row
    // in the files, or dynamic overwrite wiped an untouched partition,
    // the engine's census diverges and the hash mismatches
    "s24_ivfpq_delete_compact" -> {
      val d2 =
        "list_dot_product(v[(m*8+1)::INT:(m*8+8)::INT], v[(m*8+1)::INT:(m*8+8)::INT])" +
          " - 2*list_dot_product(v[(m*8+1)::INT:(m*8+8)::INT], cv[(m*8+1)::INT:(m*8+8)::INT])" +
          " + list_dot_product(cv[(m*8+1)::INT:(m*8+8)::INT], cv[(m*8+1)::INT:(m*8+8)::INT])"
      val adcSum = (0 until 8)
        .map(m => s"tq[($m*8 + code[${m + 1}] + 1)::INT]").mkString(" + ")
      raw"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
           |cents AS (SELECT vec_id AS cent_id, v AS cv FROM e WHERE vec_id < 8),
           |ac AS (SELECT vec_id, v, cent_id, ${sqlCosine("v", "cv")} AS ccos
           |  FROM e CROSS JOIN cents),
           |ranked AS (SELECT vec_id, v, cent_id, ccos,
           |    ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cent_id) AS crn
           |  FROM ac),
           |assigned AS (SELECT vec_id, cent_id AS cell FROM ranked WHERE crn = 1),
           |sub AS (SELECT e.vec_id, cent_id, m, $d2 AS d2
           |  FROM e CROSS JOIN cents
           |  CROSS JOIN (SELECT unnest(range(0, 8)) AS m) ms),
           |cr AS (SELECT vec_id, m, cent_id, d2,
           |    ROW_NUMBER() OVER (PARTITION BY vec_id, m ORDER BY d2, cent_id) AS rn
           |  FROM sub),
           |codes AS (SELECT vec_id, list(cent_id ORDER BY m) AS code
           |  FROM cr WHERE rn = 1 GROUP BY vec_id),
           |probes AS (SELECT vec_id AS query_id, cent_id AS probe
           |  FROM ranked WHERE crn <= 4 AND $SqlQueryPred),
           |tqf AS (SELECT vec_id AS query_id, list(d2 ORDER BY m, cent_id) AS tq
           |  FROM sub WHERE $SqlQueryPred GROUP BY vec_id),
           |sc AS (SELECT query_id, vec_id, $adcSum AS adc
           |  FROM (SELECT p.query_id, a.vec_id, t.tq, c.code
           |        FROM assigned a JOIN probes p ON a.cell = p.probe AND a.vec_id <> p.query_id
           |        JOIN codes c ON c.vec_id = a.vec_id
           |        JOIN tqf t ON t.query_id = p.query_id
           |        WHERE a.vec_id % 10 <> 3)),
           |ar AS (SELECT query_id, vec_id, adc,
           |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY adc, vec_id) AS rn
           |  FROM sc),
           |census AS (SELECT
           |    CAST(COUNT(CASE WHEN a.vec_id % 10 <> 3 THEN 1 END) AS BIGINT) AS n_live,
           |    CAST(0 AS BIGINT) AS n_ghosts,
           |    CAST(SUM(CASE WHEN a.vec_id % 10 <> 3 THEN
           |      ('0x' || substr(md5(a.vec_id::VARCHAR || ',' ||
           |        a.cell::VARCHAR || ',' || array_to_string(c.code, ',')),
           |        1, 10))::BIGINT END) AS BIGINT) AS code_checksum,
           |    CAST(COUNT(DISTINCT CASE WHEN a.vec_id % 10 = 3 THEN a.cell END)
           |      AS BIGINT) AS n_cells_compacted
           |  FROM assigned a JOIN codes c ON c.vec_id = a.vec_id)
           |SELECT query_id, CAST(rn AS INTEGER) AS rank, vec_id AS neighbor_id,
           |  round(adc, 6) AS adc, n_live, n_ghosts, code_checksum,
           |  n_cells_compacted
           |FROM ar CROSS JOIN census
           |WHERE rn <= 5 ORDER BY query_id, rank""".stripMargin
    },

    // replay of the SAVED index: assignment + codes + multiprobe ADC are
    // s13's CTEs; adc is exposed (8-term left-assoc sum == Spark's
    // in-order fold, rounded 6 dp) and the checksum replays the exact
    // (vec_id, cell, code) canonical string the engine hashes from the
    // re-read files — a match proves the parquet round-trip
    "s22_ivfpq_saved_index" -> {
      val d2 =
        "list_dot_product(v[(m*8+1)::INT:(m*8+8)::INT], v[(m*8+1)::INT:(m*8+8)::INT])" +
          " - 2*list_dot_product(v[(m*8+1)::INT:(m*8+8)::INT], cv[(m*8+1)::INT:(m*8+8)::INT])" +
          " + list_dot_product(cv[(m*8+1)::INT:(m*8+8)::INT], cv[(m*8+1)::INT:(m*8+8)::INT])"
      val adcSum = (0 until 8)
        .map(m => s"tq[($m*8 + code[${m + 1}] + 1)::INT]").mkString(" + ")
      raw"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
           |cents AS (SELECT vec_id AS cent_id, v AS cv FROM e WHERE vec_id < 8),
           |ac AS (SELECT vec_id, v, cent_id, ${sqlCosine("v", "cv")} AS ccos
           |  FROM e CROSS JOIN cents),
           |ranked AS (SELECT vec_id, v, cent_id, ccos,
           |    ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cent_id) AS crn
           |  FROM ac),
           |assigned AS (SELECT vec_id, cent_id AS cell FROM ranked WHERE crn = 1),
           |sub AS (SELECT e.vec_id, cent_id, m, $d2 AS d2
           |  FROM e CROSS JOIN cents
           |  CROSS JOIN (SELECT unnest(range(0, 8)) AS m) ms),
           |cr AS (SELECT vec_id, m, cent_id, d2,
           |    ROW_NUMBER() OVER (PARTITION BY vec_id, m ORDER BY d2, cent_id) AS rn
           |  FROM sub),
           |codes AS (SELECT vec_id, list(cent_id ORDER BY m) AS code
           |  FROM cr WHERE rn = 1 GROUP BY vec_id),
           |probes AS (SELECT vec_id AS query_id, cent_id AS probe
           |  FROM ranked WHERE crn <= 4 AND $SqlQueryPred),
           |tqf AS (SELECT vec_id AS query_id, list(d2 ORDER BY m, cent_id) AS tq
           |  FROM sub WHERE $SqlQueryPred GROUP BY vec_id),
           |sc AS (SELECT query_id, vec_id, $adcSum AS adc
           |  FROM (SELECT p.query_id, a.vec_id, t.tq, c.code
           |        FROM assigned a JOIN probes p ON a.cell = p.probe AND a.vec_id <> p.query_id
           |        JOIN codes c ON c.vec_id = a.vec_id
           |        JOIN tqf t ON t.query_id = p.query_id)),
           |ar AS (SELECT query_id, vec_id, adc,
           |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY adc, vec_id) AS rn
           |  FROM sc),
           |census AS (SELECT COUNT(*) AS n_coded,
           |    CAST(SUM(('0x' || substr(md5(a.vec_id::VARCHAR || ',' ||
           |      a.cell::VARCHAR || ',' || array_to_string(c.code, ',')),
           |      1, 10))::BIGINT) AS BIGINT) AS code_checksum
           |  FROM assigned a JOIN codes c ON c.vec_id = a.vec_id)
           |SELECT query_id, CAST(rn AS INTEGER) AS rank, vec_id AS neighbor_id,
           |  round(adc, 6) AS adc, n_coded, code_checksum
           |FROM ar CROSS JOIN census
           |WHERE rn <= 5 ORDER BY query_id, rank""".stripMargin
    },

    "s11_pq_adc_search" ->
      raw"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
           |cents AS (SELECT vec_id AS cent_id, v AS cv FROM e WHERE vec_id < 8),
           |sub AS (SELECT vec_id, cent_id, m,
           |    list_sum(list_transform(range(1, 9),
           |      i -> (v[m*8+i] - cv[m*8+i]) * (v[m*8+i] - cv[m*8+i]))) AS d2
           |  FROM e CROSS JOIN cents
           |  CROSS JOIN (SELECT unnest(range(0, 8)) AS m) ms),
           |r AS (SELECT vec_id, m, cent_id, d2,
           |    ROW_NUMBER() OVER (PARTITION BY vec_id, m ORDER BY d2, cent_id) AS rn
           |  FROM sub),
           |codes AS (SELECT vec_id, list(cent_id ORDER BY m) AS code
           |  FROM r WHERE rn = 1 GROUP BY vec_id),
           |tqf AS (SELECT vec_id AS query_id, list(d2 ORDER BY m, cent_id) AS tq
           |  FROM sub WHERE $SqlQueryPred GROUP BY vec_id),
           |sc AS (SELECT query_id, vec_id,
           |    list_sum(list_transform(range(0, 8),
           |      m -> tq[(m*8 + code[m+1] + 1)::INT])) AS adc
           |  FROM (SELECT t.query_id, c.vec_id, t.tq, c.code
           |        FROM codes c CROSS JOIN tqf t WHERE c.vec_id <> t.query_id)),
           |ar AS (SELECT query_id, vec_id,
           |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY adc, vec_id) AS rn
           |  FROM sc),
           |approx AS (SELECT query_id, vec_id FROM ar WHERE rn <= 5),
           |q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE $SqlQueryPred),
           |xc AS (SELECT query_id, vec_id, ${sqlCosine("qv", "v")} AS cos
           |  FROM e JOIN q ON vec_id <> query_id),
           |xr AS (SELECT query_id, vec_id,
           |    ROW_NUMBER() OVER (PARTITION BY query_id $SqlRankOrder) AS rn
           |  FROM xc),
           |exact AS (SELECT query_id, vec_id FROM xr WHERE rn <= 5)
           |SELECT x.query_id, COUNT(a.vec_id) AS n_hits,
           |  round(CAST(COUNT(a.vec_id) AS DOUBLE) / COUNT(*), 6) AS recall_at_5
           |FROM exact x LEFT JOIN approx a
           |  ON x.query_id = a.query_id AND x.vec_id = a.vec_id
           |GROUP BY x.query_id ORDER BY x.query_id""".stripMargin,

    // s11's pipeline cut at top-20, then exact-cosine rerank of those
    // candidates (same cosine form as s01's oracle) before the recall tail
    "s14_pq_rerank" ->
      raw"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
           |cents AS (SELECT vec_id AS cent_id, v AS cv FROM e WHERE vec_id < 8),
           |sub AS (SELECT vec_id, cent_id, m,
           |    list_sum(list_transform(range(1, 9),
           |      i -> (v[m*8+i] - cv[m*8+i]) * (v[m*8+i] - cv[m*8+i]))) AS d2
           |  FROM e CROSS JOIN cents
           |  CROSS JOIN (SELECT unnest(range(0, 8)) AS m) ms),
           |r AS (SELECT vec_id, m, cent_id, d2,
           |    ROW_NUMBER() OVER (PARTITION BY vec_id, m ORDER BY d2, cent_id) AS rn
           |  FROM sub),
           |codes AS (SELECT vec_id, list(cent_id ORDER BY m) AS code
           |  FROM r WHERE rn = 1 GROUP BY vec_id),
           |tqf AS (SELECT vec_id AS query_id, list(d2 ORDER BY m, cent_id) AS tq
           |  FROM sub WHERE $SqlQueryPred GROUP BY vec_id),
           |sc AS (SELECT query_id, vec_id,
           |    list_sum(list_transform(range(0, 8),
           |      m -> tq[(m*8 + code[m+1] + 1)::INT])) AS adc
           |  FROM (SELECT t.query_id, c.vec_id, t.tq, c.code
           |        FROM codes c CROSS JOIN tqf t WHERE c.vec_id <> t.query_id)),
           |ar AS (SELECT query_id, vec_id,
           |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY adc, vec_id) AS rn
           |  FROM sc),
           |cand AS (SELECT query_id, vec_id FROM ar WHERE rn <= 20),
           |q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE $SqlQueryPred),
           |rr AS (SELECT c.query_id, c.vec_id, ${sqlCosine("qv", "v")} AS cos
           |  FROM cand c JOIN e ON e.vec_id = c.vec_id
           |  JOIN q ON q.query_id = c.query_id),
           |rrk AS (SELECT query_id, vec_id,
           |    ROW_NUMBER() OVER (PARTITION BY query_id $SqlRankOrder) AS rn
           |  FROM rr),
           |approx AS (SELECT query_id, vec_id FROM rrk WHERE rn <= 5),
           |xc AS (SELECT query_id, vec_id, ${sqlCosine("qv", "v")} AS cos
           |  FROM e JOIN q ON vec_id <> query_id),
           |xr AS (SELECT query_id, vec_id,
           |    ROW_NUMBER() OVER (PARTITION BY query_id $SqlRankOrder) AS rn
           |  FROM xc),
           |exact AS (SELECT query_id, vec_id FROM xr WHERE rn <= 5)
           |SELECT x.query_id, COUNT(a.vec_id) AS n_hits,
           |  round(CAST(COUNT(a.vec_id) AS DOUBLE) / COUNT(*), 6) AS recall_at_5
           |FROM exact x LEFT JOIN approx a
           |  ON x.query_id = a.query_id AND x.vec_id = a.vec_id
           |GROUP BY x.query_id ORDER BY x.query_id""".stripMargin,

    // per-subspace 3-round Lloyd as CTE rounds (s12's replay pattern with
    // an extra m dimension; codebook as a (m, cell, cv) TABLE), then
    // s11's ADC tail over a dense (m, cell) distance grid — vanished
    // cells hold +inf and are unreachable by any code
    "s15_pq_trained" -> {
      def d2q(v: String, cv: String, m: String) = {
        val sv = s"$v[($m*8+1)::INT:($m*8+8)::INT]"
        s"list_dot_product($sv, $sv) - 2*list_dot_product($sv, $cv) + list_dot_product($cv, $cv)"
      }
      def roundCtes(r: Int, prev: String): String =
        raw"""a$r AS (SELECT vec_id, m, cell FROM (
             |    SELECT e.vec_id, c.m, c.cell,
             |      ROW_NUMBER() OVER (PARTITION BY e.vec_id, c.m
             |        ORDER BY ${d2q("e.v", "c.cv", "c.m")}, c.cell) AS rn
             |    FROM e CROSS JOIN $prev c) s WHERE rn = 1),
             |f$r AS (SELECT a.m, a.cell, t.dim,
             |    CAST(round(e.v[(a.m*8 + t.dim)::INT] * 1000000.0) AS BIGINT) AS fx
             |  FROM a$r a JOIN e USING (vec_id) CROSS JOIN dims t),
             |g$r AS (SELECT m, cell, dim, COUNT(*) AS n, SUM(fx) AS sfx
             |  FROM f$r GROUP BY m, cell, dim),
             |cb$r AS (SELECT m, cell,
             |    list(round(CAST(sfx AS DOUBLE) / (n * 1000000.0), 6) ORDER BY dim) AS cv
             |  FROM g$r GROUP BY m, cell)""".stripMargin
      raw"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
           |ms AS (SELECT unnest(range(0, 8)) AS m),
           |dims AS (SELECT unnest(range(1, 9)) AS dim),
           |cb0 AS (SELECT m, CAST(vec_id AS INT) AS cell,
           |    v[(m*8+1)::INT:(m*8+8)::INT] AS cv
           |  FROM e CROSS JOIN ms WHERE vec_id < 8),
           |${roundCtes(1, "cb0")},
           |${roundCtes(2, "cb1")},
           |${roundCtes(3, "cb2")},
           |codes AS (SELECT vec_id, list(cell ORDER BY m) AS code FROM (
           |    SELECT e.vec_id, c.m, c.cell,
           |      ROW_NUMBER() OVER (PARTITION BY e.vec_id, c.m
           |        ORDER BY ${d2q("e.v", "c.cv", "c.m")}, c.cell) AS rn
           |    FROM e CROSS JOIN cb3 c) s WHERE rn = 1 GROUP BY vec_id),
           |grid AS (SELECT m.m, c.cell FROM ms m
           |  CROSS JOIN (SELECT unnest(range(0, 8)) AS cell) c),
           |tqd AS (SELECT q.vec_id AS query_id, g.m, g.cell,
           |    CASE WHEN c.cell IS NOT NULL THEN ${d2q("q.v", "c.cv", "g.m")}
           |         ELSE 'infinity'::DOUBLE END AS d2
           |  FROM (SELECT vec_id, v FROM e WHERE $SqlQueryPred) q
           |  CROSS JOIN grid g
           |  LEFT JOIN cb3 c ON c.m = g.m AND c.cell = g.cell),
           |tqf AS (SELECT query_id, list(d2 ORDER BY m, cell) AS tq
           |  FROM tqd GROUP BY query_id),
           |sc AS (SELECT query_id, vec_id,
           |    list_sum(list_transform(range(0, 8),
           |      m -> tq[(m*8 + code[m+1] + 1)::INT])) AS adc
           |  FROM (SELECT t.query_id, c.vec_id, t.tq, c.code
           |        FROM codes c CROSS JOIN tqf t WHERE c.vec_id <> t.query_id)),
           |ar AS (SELECT query_id, vec_id,
           |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY adc, vec_id) AS rn
           |  FROM sc),
           |approx AS (SELECT query_id, vec_id FROM ar WHERE rn <= 5),
           |q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE $SqlQueryPred),
           |xc AS (SELECT query_id, vec_id, ${sqlCosine("qv", "v")} AS cos
           |  FROM e JOIN q ON vec_id <> query_id),
           |xr AS (SELECT query_id, vec_id,
           |    ROW_NUMBER() OVER (PARTITION BY query_id $SqlRankOrder) AS rn
           |  FROM xc),
           |exact AS (SELECT query_id, vec_id FROM xr WHERE rn <= 5)
           |SELECT x.query_id, COUNT(a.vec_id) AS n_hits,
           |  round(CAST(COUNT(a.vec_id) AS DOUBLE) / COUNT(*), 6) AS recall_at_5
           |FROM exact x LEFT JOIN approx a
           |  ON x.query_id = a.query_id AND x.vec_id = a.vec_id
           |GROUP BY x.query_id ORDER BY x.query_id""".stripMargin
    },

    "s17_ann_filtered" ->
      raw"""WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
           |q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE $SqlQueryPred),
           |c AS (SELECT query_id, vec_id, label, ${sqlCosine("qv", "v")} AS cos
           |  FROM e JOIN q ON vec_id <> query_id
           |  WHERE label < 3),
           |r AS (SELECT query_id, vec_id, label, cos,
           |    CAST(ROW_NUMBER() OVER (PARTITION BY query_id $SqlRankOrder) AS INTEGER) AS rn
           |  FROM c)
           |SELECT query_id, vec_id AS neighbor_id, label, round(cos, 6) AS cos_sim, rn
           |FROM r WHERE rn <= 5 ORDER BY query_id, rn""".stripMargin,

    // full replay of the incremental ingest: cells by cosine argmax (tie
    // to the lowest cell), PQ codes by per-subspace argmin over the SAME
    // per-dim squared-diff folds the Spark side computes (s11's pairing),
    // cidx = position in the cell-sorted codebook so ADC table indexing
    // matches Spark's array positions even though cell ids skip 7
    "s18_incremental_ingest" ->
      raw"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
           |cents AS (SELECT vec_id AS cell, v AS cv,
           |    CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cidx
           |  FROM e WHERE vec_id < 9 AND vec_id % 10 <> 7),
           |ac AS (SELECT vec_id, cell, ${sqlCosine("v", "cv")} AS ccos
           |  FROM e CROSS JOIN cents),
           |ranked AS (SELECT vec_id, cell, ccos,
           |    ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cell) AS crn
           |  FROM ac),
           |assigned AS (SELECT vec_id, CAST(cell AS INT) AS cell FROM ranked WHERE crn = 1),
           |sub AS (SELECT e.vec_id, cidx, m,
           |    list_sum(list_transform(range(1, 9),
           |      i -> (v[m*8+i] - cv[m*8+i]) * (v[m*8+i] - cv[m*8+i]))) AS d2
           |  FROM e CROSS JOIN cents
           |  CROSS JOIN (SELECT unnest(range(0, 8)) AS m) ms),
           |r AS (SELECT vec_id, m, cidx, d2,
           |    ROW_NUMBER() OVER (PARTITION BY vec_id, m ORDER BY d2, cidx) AS rn FROM sub),
           |codes AS (SELECT vec_id, list(cidx ORDER BY m) AS code
           |  FROM r WHERE rn = 1 GROUP BY vec_id),
           |tqf AS (SELECT vec_id, list(d2 ORDER BY m, cidx) AS tq
           |  FROM sub WHERE vec_id % 10 = 7 GROUP BY vec_id),
           |binc AS (SELECT a.vec_id, a.cell, t.tq FROM assigned a JOIN tqf t USING (vec_id)),
           |bbase AS (SELECT a.vec_id, a.cell, c.code
           |  FROM assigned a JOIN codes c USING (vec_id) WHERE a.vec_id % 10 <> 7),
           |sc AS (SELECT i.vec_id, b.vec_id AS bid,
           |    list_sum(list_transform(range(0, 8),
           |      m -> tq[(m*8 + code[m+1] + 1)::INT])) AS adc
           |  FROM binc i JOIN bbase b ON i.cell = b.cell),
           |scr AS (SELECT vec_id, adc, bid,
           |    ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY adc, bid) AS rn FROM sc),
           |agg AS (SELECT vec_id, COUNT(*) AS n_cands, MIN(adc) AS best,
           |    MIN(CASE WHEN rn = 1 THEN bid END) AS arg
           |  FROM scr GROUP BY vec_id)
           |SELECT i.vec_id, i.cell, COALESCE(n_cands, 0) AS n_cands,
           |  round(best, 6) AS best_adc,
           |  CASE WHEN best <= 1.2 THEN arg END AS match_id,
           |  CASE WHEN best IS NULL THEN 'empty_cell'
           |       WHEN best <= 1.2 THEN 'near_dup' ELSE 'novel' END AS verdict
           |FROM binc i LEFT JOIN agg USING (vec_id)
           |ORDER BY i.vec_id""".stripMargin,

    // two replays of s11's ADC pipeline at K=8 and K=256 joined per
    // query; code = cent_id works because seed vec_ids are contiguous
    // from 0, matching Spark's cb array positions
    "s19_pq_codebook_sweep" -> {
      def arm(k: Int, sfx: String) =
        raw"""cents$sfx AS (SELECT vec_id AS cent_id, v AS cv FROM e WHERE vec_id < $k),
             |sub$sfx AS (SELECT e.vec_id, cent_id, m,
             |    list_sum(list_transform(range(1, 9),
             |      i -> (v[m*8+i] - cv[m*8+i]) * (v[m*8+i] - cv[m*8+i]))) AS d2
             |  FROM e CROSS JOIN cents$sfx
             |  CROSS JOIN (SELECT unnest(range(0, 8)) AS m) ms),
             |r$sfx AS (SELECT vec_id, m, cent_id, d2,
             |    ROW_NUMBER() OVER (PARTITION BY vec_id, m ORDER BY d2, cent_id) AS rn
             |  FROM sub$sfx),
             |codes$sfx AS (SELECT vec_id, list(cent_id ORDER BY m) AS code
             |  FROM r$sfx WHERE rn = 1 GROUP BY vec_id),
             |tqf$sfx AS (SELECT vec_id AS query_id, list(d2 ORDER BY m, cent_id) AS tq
             |  FROM sub$sfx WHERE $SqlQueryPred GROUP BY vec_id),
             |sc$sfx AS (SELECT query_id, vec_id,
             |    list_sum(list_transform(range(0, 8),
             |      m -> tq[(m*(len(tq)//8) + code[m+1] + 1)::INT])) AS adc
             |  FROM (SELECT t.query_id, c.vec_id, t.tq, c.code
             |        FROM codes$sfx c CROSS JOIN tqf$sfx t WHERE c.vec_id <> t.query_id)),
             |ar$sfx AS (SELECT query_id, vec_id,
             |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY adc, vec_id) AS rn
             |  FROM sc$sfx),
             |approx$sfx AS (SELECT query_id, vec_id FROM ar$sfx WHERE rn <= 5),
             |rec$sfx AS (SELECT x.query_id,
             |    round(CAST(COUNT(a.vec_id) AS DOUBLE) / COUNT(*), 6) AS recall$sfx
             |  FROM exact x LEFT JOIN approx$sfx a
             |    ON x.query_id = a.query_id AND x.vec_id = a.vec_id
             |  GROUP BY x.query_id)""".stripMargin
      raw"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
           |q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE $SqlQueryPred),
           |xc AS (SELECT query_id, vec_id, ${sqlCosine("qv", "v")} AS cos
           |  FROM e JOIN q ON vec_id <> query_id),
           |xr AS (SELECT query_id, vec_id,
           |    ROW_NUMBER() OVER (PARTITION BY query_id $SqlRankOrder) AS rn FROM xc),
           |exact AS (SELECT query_id, vec_id FROM xr WHERE rn <= 5),
           |${arm(8, "_k8")},
           |${arm(256, "_k256")}
           |SELECT a.query_id, recall_k8, recall_k256
           |FROM rec_k8 a JOIN rec_k256 b ON a.query_id = b.query_id
           |ORDER BY a.query_id""".stripMargin
    },

    // s03's argmax assignment + s08's fixed-point means + a per-cell
    // farthest-first rank; the integer cross-product verdict needs no
    // percentile arithmetic in either engine
    "s20_outlier_census" ->
      raw"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
           |cents AS (SELECT vec_id AS cent_id, v AS cv FROM e WHERE vec_id < 8),
           |ac AS (SELECT vec_id, v, cent_id, ${sqlCosine("v", "cv")} AS ccos
           |  FROM e CROSS JOIN cents),
           |assigned AS (SELECT vec_id, v, cent_id AS cell FROM (
           |  SELECT vec_id, v, cent_id, ccos,
           |    ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cent_id) AS crn
           |  FROM ac) t WHERE crn = 1),
           |fx AS (SELECT cell, t.dim - 1 AS dim,
           |    CAST(round(v[t.dim] * 1000000.0) AS BIGINT) AS fx
           |  FROM assigned CROSS JOIN (SELECT unnest(range(1, 65)) AS dim) t),
           |g AS (SELECT cell, dim, COUNT(*) AS n, SUM(fx) AS sfx FROM fx GROUP BY cell, dim),
           |m AS (SELECT cell, dim, round(CAST(sfx AS DOUBLE) / (n * 1000000.0), 6) AS m FROM g),
           |means AS (SELECT cell, list(m ORDER BY dim) AS marr FROM m GROUP BY cell),
           |sc AS (SELECT a.vec_id, a.cell, ${sqlCosine("a.v", "marr")} AS pcos
           |  FROM assigned a JOIN means USING (cell)),
           |r AS (SELECT vec_id, cell, pcos,
           |    CAST(ROW_NUMBER() OVER (PARTITION BY cell ORDER BY pcos, vec_id) AS BIGINT) AS rn,
           |    CAST(COUNT(*) OVER (PARTITION BY cell) AS BIGINT) AS cell_n
           |  FROM sc)
           |SELECT vec_id, cell, round(pcos, 6) AS proto_cos, rn, cell_n,
           |  CASE WHEN rn * 5 <= cell_n THEN 'prune' ELSE 'keep' END AS verdict
           |FROM r ORDER BY vec_id""".stripMargin,

    // quantized-cosine ranking: int8 dots are exact integers in doubles,
    // so no fold-order discipline is needed anywhere in this oracle
    "s16_sq8_search" ->
      raw"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
           |s AS (SELECT vec_id, v,
           |    list_max(list_transform(v, x -> abs(x))) AS am FROM e),
           |q8 AS (SELECT vec_id,
           |    CASE WHEN am = 0 THEN list_transform(v, x -> 0.0)
           |         ELSE list_transform(v,
           |           x -> CAST(CAST(round(x * 127.0 / am) AS TINYINT) AS DOUBLE)) END AS qd
           |  FROM s),
           |n AS (SELECT vec_id, qd, list_dot_product(qd, qd) AS nq FROM q8),
           |qs AS (SELECT vec_id AS query_id, qd AS qqd, nq AS qnq
           |  FROM n WHERE $SqlQueryPred),
           |c AS (SELECT query_id, vec_id,
           |    CASE WHEN nq * qnq = 0 THEN -1.0
           |         ELSE list_dot_product(qqd, qd) / sqrt(qnq * nq) END AS cos
           |  FROM n JOIN qs ON vec_id <> query_id),
           |ar AS (SELECT query_id, vec_id,
           |    ROW_NUMBER() OVER (PARTITION BY query_id $SqlRankOrder) AS rn
           |  FROM c),
           |approx AS (SELECT query_id, vec_id FROM ar WHERE rn <= 5),
           |q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE $SqlQueryPred),
           |xc AS (SELECT query_id, vec_id, ${sqlCosine("qv", "v")} AS cos
           |  FROM e JOIN q ON vec_id <> query_id),
           |xr AS (SELECT query_id, vec_id,
           |    ROW_NUMBER() OVER (PARTITION BY query_id $SqlRankOrder) AS rn
           |  FROM xc),
           |exact AS (SELECT query_id, vec_id FROM xr WHERE rn <= 5)
           |SELECT x.query_id, COUNT(a.vec_id) AS n_hits,
           |  round(CAST(COUNT(a.vec_id) AS DOUBLE) / COUNT(*), 6) AS recall_at_5
           |FROM exact x LEFT JOIN approx a
           |  ON x.query_id = a.query_id AND x.vec_id = a.vec_id
           |GROUP BY x.query_id ORDER BY x.query_id""".stripMargin,

    // integer codes and integer hamming — exact on both engines with no
    // fold-order discipline; sum_ham pins the winners' DISTANCES, so a
    // sign-pack or popcount slip cannot hide behind a recall tie
    "s27_binary_hamming" ->
      raw"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
           |codes AS (SELECT vec_id, ${sqlSignHalf(0)} AS lo, ${sqlSignHalf(32)} AS hi
           |  FROM e),
           |qs AS (SELECT vec_id AS query_id, lo AS qlo, hi AS qhi
           |  FROM codes WHERE $SqlQueryPred),
           |c AS (SELECT query_id, vec_id,
           |    CAST(bit_count(xor(lo, qlo)) + bit_count(xor(hi, qhi)) AS INTEGER) AS ham
           |  FROM codes JOIN qs ON vec_id <> query_id),
           |ar AS (SELECT query_id, vec_id, ham,
           |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY ham, vec_id) AS rn
           |  FROM c),
           |approx AS (SELECT query_id, vec_id, ham FROM ar WHERE rn <= 5),
           |hs AS (SELECT query_id, CAST(SUM(ham) AS BIGINT) AS sum_ham
           |  FROM approx GROUP BY query_id),
           |q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE $SqlQueryPred),
           |xc AS (SELECT query_id, vec_id, ${sqlCosine("qv", "v")} AS cos
           |  FROM e JOIN q ON vec_id <> query_id),
           |xr AS (SELECT query_id, vec_id,
           |    ROW_NUMBER() OVER (PARTITION BY query_id $SqlRankOrder) AS rn
           |  FROM xc),
           |exact AS (SELECT query_id, vec_id FROM xr WHERE rn <= 5)
           |SELECT x.query_id, COUNT(a.vec_id) AS n_hits,
           |  round(CAST(COUNT(a.vec_id) AS DOUBLE) / COUNT(*), 6) AS recall_at_5,
           |  hs.sum_ham
           |FROM exact x LEFT JOIN approx a
           |  ON x.query_id = a.query_id AND x.vec_id = a.vec_id
           |JOIN hs ON x.query_id = hs.query_id
           |GROUP BY x.query_id, hs.sum_ham ORDER BY x.query_id""".stripMargin,

    // the greedy loop unrolled to five CTE rounds — every score is the
    // same in-order dot-product arithmetic as the Spark side, ordering
    // is on the SAME score expression with a vec_id tie-break, so ids
    // and rounded scores must both reproduce
    "s26_mmr_rerank" -> {
      val rounds = (2 to 5).map { k =>
        val prev = if (k == 2) "s1" else s"sel${k - 1}"
        raw"""p$k AS (SELECT s.query_id, s.ci, MAX(s.sim) AS pen
             |  FROM sims s JOIN $prev t ON s.query_id = t.query_id AND s.cj = t.vec_id
             |  GROUP BY s.query_id, s.ci),
             |r$k AS (SELECT query_id, vec_id, $k AS rank, score FROM (
             |  SELECT c.query_id, c.vec_id, 0.7 * c.rel - 0.3 * p.pen AS score,
             |    ROW_NUMBER() OVER (PARTITION BY c.query_id
             |      ORDER BY 0.7 * c.rel - 0.3 * p.pen DESC, c.vec_id) AS rn
             |  FROM cand c JOIN p$k p ON c.query_id = p.query_id AND c.vec_id = p.ci
             |  WHERE NOT EXISTS (SELECT 1 FROM $prev x
             |    WHERE x.query_id = c.query_id AND x.vec_id = c.vec_id)) t
             |  WHERE rn = 1),
             |sel$k AS (SELECT query_id, vec_id FROM $prev
             |  UNION ALL SELECT query_id, vec_id FROM r$k)""".stripMargin
      }.mkString(",\n")
      raw"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
           |n AS (SELECT vec_id, v, list_dot_product(v, v) AS nrm FROM e),
           |q AS (SELECT vec_id AS query_id, v AS qv, nrm AS qn FROM n
           |  WHERE $SqlQueryPred),
           |sc AS (SELECT query_id, n.vec_id, list_dot_product(qv, v) / sqrt(qn * nrm) AS rel
           |  FROM n JOIN q ON n.vec_id <> query_id),
           |cand AS (SELECT query_id, vec_id, rel FROM (
           |  SELECT query_id, vec_id, rel,
           |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY rel DESC, vec_id) AS rn
           |  FROM sc) t WHERE rn <= 20),
           |cv AS (SELECT c.query_id, c.vec_id, c.rel, n.v, n.nrm
           |  FROM cand c JOIN n USING (vec_id)),
           |sims AS (SELECT a.query_id, a.vec_id AS ci, b.vec_id AS cj,
           |    list_dot_product(a.v, b.v) / sqrt(a.nrm * b.nrm) AS sim
           |  FROM cv a JOIN cv b ON a.query_id = b.query_id AND a.vec_id <> b.vec_id),
           |s1 AS (SELECT query_id, vec_id, 1 AS rank, score FROM (
           |  SELECT query_id, vec_id, 0.7 * rel AS score,
           |    ROW_NUMBER() OVER (PARTITION BY query_id
           |      ORDER BY 0.7 * rel DESC, vec_id) AS rn
           |  FROM cand) t WHERE rn = 1),
           |$rounds
           |SELECT query_id, rank, vec_id, round(score, 6) AS mmr_score
           |FROM (SELECT * FROM s1 UNION ALL SELECT * FROM r2
           |  UNION ALL SELECT * FROM r3 UNION ALL SELECT * FROM r4
           |  UNION ALL SELECT * FROM r5)
           |ORDER BY query_id, rank""".stripMargin
    },

    "s05_quantize_int8" ->
      raw"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
           |s AS (SELECT vec_id, v,
           |    list_max(list_transform(v, x -> abs(x))) AS absmax FROM e),
           |q AS (SELECT vec_id, v, absmax,
           |    CASE WHEN absmax = 0 THEN list_transform(v, x -> CAST(0 AS TINYINT))
           |         ELSE list_transform(v, x -> CAST(round(x * 127.0 / absmax) AS TINYINT)) END AS qvec
           |  FROM s)
           |SELECT vec_id,
           |  array_to_string(qvec, ',') AS qvec_csv,
           |  round(absmax / 127.0, 6) AS scale,
           |  round(list_sum(list_transform(range(1, len(v) + 1),
           |      i -> abs(v[i] - CAST(qvec[i] AS DOUBLE) * absmax / 127.0))) / len(v), 6) AS mae
           |FROM q ORDER BY vec_id""".stripMargin,

    // within-cell top-3 by the identical cosine doubles (tie-break on
    // neighbor id), fixed-point mean over mutual edges — NULL when a
    // cell has no mutual pair, in both engines
    "s21_knn_graph" ->
      raw"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
           |cents AS (SELECT vec_id AS cent_id, v AS cv FROM e WHERE vec_id < 8),
           |ac AS (SELECT vec_id, v, cent_id, ${sqlCosine("v", "cv")} AS ccos
           |  FROM e CROSS JOIN cents),
           |assigned AS (SELECT vec_id, v, cent_id AS cell FROM (
           |  SELECT vec_id, v, cent_id, ccos,
           |    ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cent_id) AS crn
           |  FROM ac) t WHERE crn = 1),
           |p AS (SELECT a.cell, a.vec_id AS i, b.vec_id AS j,
           |    ${sqlCosine("a.v", "b.v")} AS cos
           |  FROM assigned a JOIN assigned b
           |    ON a.cell = b.cell AND a.vec_id <> b.vec_id),
           |r AS (SELECT cell, i, j, cos,
           |    ROW_NUMBER() OVER (PARTITION BY i ORDER BY cos DESC, j) AS rn FROM p),
           |dir AS (SELECT cell, i, j, CAST(round(cos * 1000000) AS BIGINT) AS fx
           |  FROM r WHERE rn <= 3),
           |m AS (SELECT x.cell, x.fx FROM dir x
           |  JOIN dir y ON x.i = y.j AND x.j = y.i AND x.i < x.j),
           |cs AS (SELECT cell, COUNT(*) AS n_vectors FROM assigned GROUP BY cell),
           |es AS (SELECT cell, COUNT(*) AS ne FROM dir GROUP BY cell),
           |ms AS (SELECT cell, COUNT(*) AS nm, CAST(SUM(fx) AS BIGINT) AS sfx
           |  FROM m GROUP BY cell)
           |SELECT cs.cell, cs.n_vectors,
           |  CAST(coalesce(ne, 0) AS BIGINT) AS n_edges,
           |  CAST(coalesce(nm, 0) AS BIGINT) AS n_mutual,
           |  round(CAST(sfx AS DOUBLE) / (CAST(nm AS DOUBLE) * 1000000.0), 6)
           |    AS mean_mutual_cos
           |FROM cs LEFT JOIN es USING (cell) LEFT JOIN ms USING (cell)
           |ORDER BY cell""".stripMargin,

    // the s21 graph CTEs verbatim, then entry + 3 hops unrolled — the
    // beam re-ranks (current beam ∪ out-neighbors) each hop with the
    // identical cosine doubles and vec_id tie-break
    "s28_graph_beam_search" -> {
      val hops = (1 to 3).map { k =>
        val prev = if (k == 1) "b0" else s"b${k - 1}"
        raw"""c$k AS (SELECT DISTINCT query_id, vec_id FROM (
             |  SELECT query_id, vec_id FROM $prev
             |  UNION ALL
             |  SELECT b.query_id, d.j AS vec_id FROM $prev b
             |    JOIN dir d ON b.vec_id = d.i)),
             |b$k AS (SELECT query_id, vec_id, cos, rn FROM (
             |  SELECT c.query_id, c.vec_id, ${sqlCosine("qv", "v")} AS cos,
             |    ROW_NUMBER() OVER (PARTITION BY c.query_id
             |      ORDER BY ${sqlCosine("qv", "v")} DESC, c.vec_id) AS rn
             |  FROM c$k c JOIN e ON e.vec_id = c.vec_id
             |    JOIN q ON q.query_id = c.query_id
             |  WHERE c.vec_id <> c.query_id) t WHERE rn <= 4)""".stripMargin
      }.mkString(",\n")
      raw"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
           |cents AS (SELECT vec_id AS cent_id, v AS cv FROM e WHERE vec_id < 8),
           |ac AS (SELECT vec_id, v, cent_id, ${sqlCosine("v", "cv")} AS ccos
           |  FROM e CROSS JOIN cents),
           |assigned AS (SELECT vec_id, v, cent_id AS cell FROM (
           |  SELECT vec_id, v, cent_id, ccos,
           |    ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cent_id) AS crn
           |  FROM ac) t WHERE crn = 1),
           |p AS (SELECT a.cell, a.vec_id AS i, b.vec_id AS j,
           |    ${sqlCosine("a.v", "b.v")} AS cos
           |  FROM assigned a JOIN assigned b
           |    ON a.cell = b.cell AND a.vec_id <> b.vec_id),
           |r AS (SELECT i, j,
           |    ROW_NUMBER() OVER (PARTITION BY i ORDER BY cos DESC, j) AS rn FROM p),
           |dir AS (SELECT i, j FROM r WHERE rn <= 3),
           |q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE $SqlQueryPred),
           |b0 AS (SELECT query_id, vec_id, cos, rn FROM (
           |  SELECT q.query_id, e.vec_id, ${sqlCosine("qv", "v")} AS cos,
           |    ROW_NUMBER() OVER (PARTITION BY q.query_id
           |      ORDER BY ${sqlCosine("qv", "v")} DESC, e.vec_id) AS rn
           |  FROM e JOIN q ON e.vec_id < 8 AND e.vec_id <> q.query_id) t
           |  WHERE rn <= 4),
           |$hops
           |SELECT query_id, CAST(rn AS INTEGER) AS rank, vec_id AS neighbor_id,
           |  round(cos, 6) AS cos
           |FROM b3 ORDER BY query_id, rank""".stripMargin
    },

    // the layered replay: both graph builds (layer-0 top-3, sampled
    // upper top-2), the 2-hop upper descent, the seeded 2-hop layer-0
    // descent, and the exact-top-4 recall join — all as unrolled CTEs
    // over the SAME cosine/tie-break definitions as s28/s01
    "s29_layered_beam_entry" -> {
      def hop(prev: String, out: String, dirT: String) =
        raw"""c_$out AS (SELECT DISTINCT query_id, vec_id FROM (
             |  SELECT query_id, vec_id FROM $prev
             |  UNION ALL
             |  SELECT b.query_id, d.j AS vec_id FROM $prev b
             |    JOIN $dirT d ON b.vec_id = d.i)),
             |$out AS (SELECT query_id, vec_id, cos, rn FROM (
             |  SELECT c.query_id, c.vec_id, ${sqlCosine("qv", "v")} AS cos,
             |    ROW_NUMBER() OVER (PARTITION BY c.query_id
             |      ORDER BY ${sqlCosine("qv", "v")} DESC, c.vec_id) AS rn
             |  FROM c_$out c JOIN e ON e.vec_id = c.vec_id
             |    JOIN q ON q.query_id = c.query_id
             |  WHERE c.vec_id <> c.query_id) t WHERE rn <= 4)""".stripMargin
      val laddered = Seq(
        hop("u0", "u1", "dir1"), hop("u1", "u2", "dir1"),
        hop("u2", "h1", "dir"), hop("h1", "h2", "dir")).mkString(",\n")
      raw"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
           |cents AS (SELECT vec_id AS cent_id, v AS cv FROM e WHERE vec_id < 8),
           |ac AS (SELECT vec_id, v, cent_id, ${sqlCosine("v", "cv")} AS ccos
           |  FROM e CROSS JOIN cents),
           |assigned AS (SELECT vec_id, v, cent_id AS cell FROM (
           |  SELECT vec_id, v, cent_id, ccos,
           |    ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cent_id) AS crn
           |  FROM ac) t WHERE crn = 1),
           |p AS (SELECT a.cell, a.vec_id AS i, b.vec_id AS j,
           |    ${sqlCosine("a.v", "b.v")} AS cos
           |  FROM assigned a JOIN assigned b
           |    ON a.cell = b.cell AND a.vec_id <> b.vec_id),
           |r AS (SELECT i, j,
           |    ROW_NUMBER() OVER (PARTITION BY i ORDER BY cos DESC, j) AS rn FROM p),
           |dir AS (SELECT i, j FROM r WHERE rn <= 3),
           |up AS (SELECT vec_id, v, cell FROM assigned WHERE vec_id % 8 = 0),
           |p1 AS (SELECT a.vec_id AS i, b.vec_id AS j,
           |    ${sqlCosine("a.v", "b.v")} AS cos
           |  FROM up a JOIN up b
           |    ON a.cell = b.cell AND a.vec_id <> b.vec_id),
           |r1 AS (SELECT i, j,
           |    ROW_NUMBER() OVER (PARTITION BY i ORDER BY cos DESC, j) AS rn FROM p1),
           |dir1 AS (SELECT i, j FROM r1 WHERE rn <= 2),
           |q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE $SqlQueryPred),
           |u0 AS (SELECT query_id, vec_id, cos, rn FROM (
           |  SELECT q.query_id, e.vec_id, ${sqlCosine("qv", "v")} AS cos,
           |    ROW_NUMBER() OVER (PARTITION BY q.query_id
           |      ORDER BY ${sqlCosine("qv", "v")} DESC, e.vec_id) AS rn
           |  FROM e JOIN q ON e.vec_id % 8 = 0 AND e.vec_id < 64
           |    AND e.vec_id <> q.query_id) t
           |  WHERE rn <= 4),
           |$laddered,
           |x AS (SELECT query_id, vec_id, 1 AS in_exact4 FROM (
           |  SELECT q.query_id, e.vec_id,
           |    ROW_NUMBER() OVER (PARTITION BY q.query_id
           |      ORDER BY ${sqlCosine("qv", "v")} DESC, e.vec_id) AS xrn
           |  FROM e JOIN q ON e.vec_id <> q.query_id) t WHERE xrn <= 4),
           |f AS (SELECT b.query_id, CAST(b.rn AS INTEGER) AS rank,
           |    b.vec_id AS neighbor_id, round(b.cos, 6) AS cos,
           |    CAST(coalesce(x.in_exact4, 0) AS INTEGER) AS in_exact4
           |  FROM h2 b LEFT JOIN x
           |    ON b.query_id = x.query_id AND b.vec_id = x.vec_id)
           |SELECT query_id, rank, neighbor_id, cos, in_exact4,
           |  round(CAST(SUM(in_exact4) OVER (PARTITION BY query_id) AS DOUBLE) / 4.0, 6)
           |    AS recall_at_4
           |FROM f ORDER BY query_id, rank""".stripMargin
    },

    // three width-suffixed unrolled searches over ONE shared graph
    // build, each aggregated against the same exact-top-4 CTE; the
    // fixed-point mean makes the found-quality column order-free
    "s30_beam_width_sweep" -> {
      def search(wd: Int): String = {
        val hops = (1 to 3).map { k =>
          val prev = if (k == 1) s"b0_$wd" else s"b${k - 1}_$wd"
          raw"""c${k}_$wd AS (SELECT DISTINCT query_id, vec_id FROM (
               |  SELECT query_id, vec_id FROM $prev
               |  UNION ALL
               |  SELECT b.query_id, d.j AS vec_id FROM $prev b
               |    JOIN dir d ON b.vec_id = d.i)),
               |b${k}_$wd AS (SELECT query_id, vec_id, cos, rn FROM (
               |  SELECT c.query_id, c.vec_id, ${sqlCosine("qv", "v")} AS cos,
               |    ROW_NUMBER() OVER (PARTITION BY c.query_id
               |      ORDER BY ${sqlCosine("qv", "v")} DESC, c.vec_id) AS rn
               |  FROM c${k}_$wd c JOIN e ON e.vec_id = c.vec_id
               |    JOIN q ON q.query_id = c.query_id
               |  WHERE c.vec_id <> c.query_id) t WHERE rn <= $wd)""".stripMargin
        }.mkString(",\n")
        raw"""b0_$wd AS (SELECT query_id, vec_id, cos, rn FROM (
             |  SELECT q.query_id, e.vec_id, ${sqlCosine("qv", "v")} AS cos,
             |    ROW_NUMBER() OVER (PARTITION BY q.query_id
             |      ORDER BY ${sqlCosine("qv", "v")} DESC, e.vec_id) AS rn
             |  FROM e JOIN q ON e.vec_id < 8 AND e.vec_id <> q.query_id) t
             |  WHERE rn <= $wd),
             |$hops""".stripMargin
      }
      def aggRow(wd: Int): String =
        raw"""SELECT $wd AS beam_width, COUNT(*) AS n_found,
             |  CAST(COALESCE(SUM(hit), 0) AS BIGINT) AS n_hits4,
             |  round(CAST(COALESCE(SUM(hit), 0) AS DOUBLE) / 20.0, 6) AS recall_at_4,
             |  round(CAST(SUM(CAST(round(cos * 1000000) AS BIGINT)) AS DOUBLE)
             |    / (COUNT(*) * 1000000.0), 6) AS mean_found_cos
             |FROM b3_$wd b LEFT JOIN x
             |  ON b.query_id = x.query_id AND b.vec_id = x.vec_id""".stripMargin
      raw"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
           |cents AS (SELECT vec_id AS cent_id, v AS cv FROM e WHERE vec_id < 8),
           |ac AS (SELECT vec_id, v, cent_id, ${sqlCosine("v", "cv")} AS ccos
           |  FROM e CROSS JOIN cents),
           |assigned AS (SELECT vec_id, v, cent_id AS cell FROM (
           |  SELECT vec_id, v, cent_id, ccos,
           |    ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cent_id) AS crn
           |  FROM ac) t WHERE crn = 1),
           |p AS (SELECT a.cell, a.vec_id AS i, b.vec_id AS j,
           |    ${sqlCosine("a.v", "b.v")} AS cos
           |  FROM assigned a JOIN assigned b
           |    ON a.cell = b.cell AND a.vec_id <> b.vec_id),
           |r AS (SELECT i, j,
           |    ROW_NUMBER() OVER (PARTITION BY i ORDER BY cos DESC, j) AS rn FROM p),
           |dir AS (SELECT i, j FROM r WHERE rn <= 3),
           |q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE $SqlQueryPred),
           |x AS (SELECT query_id, vec_id, 1 AS hit FROM (
           |  SELECT q.query_id, e.vec_id,
           |    ROW_NUMBER() OVER (PARTITION BY q.query_id
           |      ORDER BY ${sqlCosine("qv", "v")} DESC, e.vec_id) AS xrn
           |  FROM e JOIN q ON e.vec_id <> q.query_id) t WHERE xrn <= 4),
           |${search(2)},
           |${search(4)},
           |${search(8)}
           |${aggRow(2)} UNION ALL ${aggRow(4)} UNION ALL ${aggRow(8)}
           |ORDER BY beam_width""".stripMargin
    }
  )
}
