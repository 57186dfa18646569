package graft.ext

import org.apache.spark.sql.functions._

import graft.SparkSuite

class SimilaritySpec extends SparkSuite {

  test("quantizeInt8: values land in [-127, 127], extremes map to ±127") {
    import spark.implicits._
    val df = Seq(
      (1L, Array(0.5, -0.25, 0.125, -0.5)),
      (2L, Array(3.0, -1.5, 0.0, 1.5))).toDF("id", "v")
      .withColumn("am", Similarity.absmax($"v"))
      .withColumn("q", Similarity.quantizeInt8($"v", $"am"))
    val rows = df.select($"id", $"q").collect()
      .map(r => r.getLong(0) -> r.getSeq[Byte](1)).toMap
    assert(rows(1L) === Seq[Byte](127, -64, 32, -127))
    assert(rows(2L) === Seq[Byte](127, -64, 0, 64))
  }

  test("quantizeInt8: all-zero vector quantizes to zeros with zero error") {
    import spark.implicits._
    val df = Seq((1L, Array(0.0, 0.0, 0.0))).toDF("id", "v")
      .withColumn("am", Similarity.absmax($"v"))
      .withColumn("q", Similarity.quantizeInt8($"v", $"am"))
      .withColumn("mae", Similarity.dequantMae($"v", $"q", $"am"))
    val r = df.select($"q", $"mae").head()
    assert(r.getSeq[Byte](0) === Seq[Byte](0, 0, 0))
    assert(r.getDouble(1) === 0.0)
  }

  test("s09: probing more IVF cells never loses recall vs the single cell (s03)") {
    // at sf0.01 the nprobe=1 recall@5 is [1, 1, .6, 1, 1] (s03's cell
    // misses two of query 2's true neighbors); probing the top-4 cells
    // recovers the one sitting in query 2's 4th-ranked cell
    val sf = "/root/testdata/sf0.01"
    val r = Similarity.queries("s09_ivf_multiprobe")(spark, sf).collect()
      .map(x => (x.getLong(0), x.getDouble(2))).toList
    assert(r == List((0L, 1.0), (1L, 1.0), (2L, 0.8), (3L, 1.0), (4L, 1.0)),
      s"got $r")
  }

  test("s11: ADC ranking is internally consistent — hits are a subset of exact top-5") {
    // recall@5 per query is n_hits/5 with n_hits in [0, 5]; the composed
    // report must cover every query exactly once
    val sf = "/root/testdata/sf0.01"
    val r = Similarity.queries("s11_pq_adc_search")(spark, sf).collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getDouble(2))).toList
    assert(r.map(_._1) == List(0L, 1L, 2L, 3L, 4L))
    r.foreach { case (q, h, rec) =>
      assert(h >= 0 && h <= 5, s"query $q n_hits $h out of range")
      assert(math.abs(rec - h / 5.0) < 1e-9, s"query $q recall $rec != $h/5")
    }
    // the 8x8 codebook is tiny, but ADC must still find SOMETHING overall
    // on 500 vectors — an all-zero recall would mean the table lookup or
    // code indexing is broken
    assert(r.map(_._2).sum > 0, s"ADC found no exact neighbors at all: $r")
  }

  test("s14: exact rerank never loses recall vs the raw ADC ranking (s11)") {
    // the rerank picks the best-5-by-TRUE-cosine out of the ADC top-20;
    // since the ADC top-5 is a subset of that candidate set and every
    // exact-top-5 member in the candidates outranks every non-member in
    // true cosine, per-query rerank recall >= ADC recall — an invariant,
    // not a tuning accident
    val sf = "/root/testdata/sf0.01"
    val adc = Similarity.queries("s11_pq_adc_search")(spark, sf).collect()
      .map(x => x.getLong(0) -> x.getDouble(2)).toMap
    val rr = Similarity.queries("s14_pq_rerank")(spark, sf).collect()
      .map(x => (x.getLong(0), x.getDouble(2))).toList
    assert(rr.map(_._1) == List(0L, 1L, 2L, 3L, 4L))
    rr.foreach { case (q, rec) =>
      assert(rec >= adc(q) - 1e-9, s"query $q rerank $rec < ADC ${adc(q)}")
    }
    // and the rerank must actually add recall somewhere on this data —
    // equality everywhere would mean the top-20 cut is not recovering
    // anything the top-5 ADC cut lost
    assert(rr.map(_._2).sum > adc.values.sum + 1e-9,
      s"rerank added nothing: rr=$rr adc=$adc")
  }

  test("s16: SQ8's 64-byte codes beat PQ's 8-byte codes on recall — the ladder") {
    val sf = "/root/testdata/sf0.01"
    val sq8 = Similarity.queries("s16_sq8_search")(spark, sf).collect()
      .map(x => (x.getLong(0), x.getDouble(2))).toList
    assert(sq8.map(_._1) == List(0L, 1L, 2L, 3L, 4L))
    val pq = Similarity.queries("s11_pq_adc_search")(spark, sf).collect()
      .map(x => x.getDouble(2))
    // 8x the code budget must not lose to the coarser quantizer in the
    // aggregate (per-query ties are fine)
    assert(sq8.map(_._2).sum >= pq.sum - 1e-9,
      s"SQ8 ${sq8.map(_._2).sum} < PQ ${pq.sum}")
    // and int8 should stay near-exact on this data
    assert(sq8.map(_._2).sum / 5 >= 0.8, s"SQ8 mean recall collapsed: $sq8")
  }

  test("s15: trained-codebook ADC report is well-formed; codes stay in range") {
    // the recall VALUE is the oracle's job (and is a measured negative
    // result on this synthetic data — see the scaladoc); here we pin the
    // report structure: every query exactly once, recall consistent with
    // its own hit count
    val sf = "/root/testdata/sf0.01"
    val r = Similarity.queries("s15_pq_trained")(spark, sf).collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getDouble(2))).toList
    assert(r.map(_._1) == List(0L, 1L, 2L, 3L, 4L))
    r.foreach { case (q, h, rec) =>
      assert(h >= 0 && h <= 5, s"query $q n_hits $h out of range")
      assert(math.abs(rec - h / 5.0) < 1e-9, s"query $q recall $rec != $h/5")
    }
  }

  test("s12: Lloyd rounds converge — centroid movement shrinks every round") {
    val sf = "/root/testdata/sf0.01"
    val rows = Similarity.queries("s12_kmeans_lloyd3")(spark, sf).collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getLong(2), r.getDouble(7)))
    assert(rows.length == 24, s"expected 3 rounds x 8 cells, got ${rows.length}")
    // every round keeps all 500 vectors assigned somewhere
    (1 to 3).foreach { r =>
      assert(rows.filter(_._1 == r).map(_._3).sum == 500L, s"round $r lost vectors")
    }
    // mean L1 centroid movement strictly decreases round over round
    val mean = (1 to 3).map(r => rows.filter(_._1 == r).map(_._4).sum / 8.0)
    assert(mean(0) > mean(1) && mean(1) > mean(2), s"no convergence: $mean")
  }

  test("dequantMae is bounded by half a quantization step") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val vecs = Seq.tabulate(50)(i => (i.toLong, Array.fill(64)(rnd.nextDouble() * 2 - 1)))
    val rows = vecs.toDF("id", "v")
      .withColumn("am", Similarity.absmax($"v"))
      .withColumn("q", Similarity.quantizeInt8($"v", $"am"))
      .select($"am", Similarity.dequantMae($"v", $"q", $"am").as("mae"))
      .collect()
    rows.foreach { r =>
      val step = r.getDouble(0) / 127.0
      assert(r.getDouble(1) <= step / 2 + 1e-12,
        s"mae ${r.getDouble(1)} exceeds half-step ${step / 2}")
    }
  }

  test("s21: kNN-graph census invariants — edge bounds, mutual subset, cosine range") {
    val rows = Similarity.queries("s21_knn_graph")(spark, "/root/testdata/sf0.001")
      .collect()
    assert(rows.nonEmpty)
    var totVec = 0L
    rows.foreach { r =>
      val (n, ne, nm) = (r.getLong(1), r.getLong(2), r.getLong(3))
      totVec += n
      // each vector emits at most 3 directed edges (fewer in tiny cells)
      assert(ne <= 3 * n && ne >= 0, s"cell ${r.getLong(0)}: $ne edges for $n vectors")
      // a mutual pair consumes two directed edges
      assert(2 * nm <= ne, s"cell ${r.getLong(0)}: $nm mutual > ${ne / 2}")
      if (nm > 0) {
        val m = r.getDouble(4)
        assert(m >= -1.0 - 1e-9 && m <= 1.0 + 1e-9, s"mean cos $m out of range")
      } else assert(r.isNullAt(4), "mean must be NULL when no mutual pair exists")
    }
    // cells partition the corpus
    val corpus = graft.core.Tables.embeddings(spark, "/root/testdata/sf0.001").count()
    assert(totVec == corpus, s"$totVec != $corpus")
  }

  test("s24: compaction leaves no ghost — tombstoned ids vanish from files and neighbors") {
    import spark.implicits._
    val rows = Similarity.queries("s24_ivfpq_delete_compact")(
      spark, "/root/testdata/sf0.001").collect()
    assert(rows.nonEmpty)
    // served neighbors can never be tombstoned ids (they are gone from
    // the compacted files, not merely filtered at query time)
    assert(rows.forall(_.getAs[Long]("neighbor_id") % 10 != 3))
    // the census agrees: zero ghosts, live count excludes every deleted id
    assert(rows.forall(_.getAs[Long]("n_ghosts") == 0L))
    val nLive = rows.head.getAs[Long]("n_live")
    val e = graft.core.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val expected = e.filter($"vec_id" % 10 =!= 3).count()
    assert(nLive == expected, s"n_live $nLive != surviving corpus $expected")
    // and the files themselves are clean: re-read the compacted index
    // from the query's session-unique artifact path (resolving via
    // SessionScope.artifactPath is the r19 contract — reconstructing the pre-r19
    // fixed tmpdir string here silently read stale pre-migration files)
    val path = graft.core.SessionScope.artifactPath(
      spark, "s24", "/root/testdata/sf0.001")
    val ghosts = spark.read.parquet(path + "/enc")
      .filter(col("vec_id") % 10 === 3).count()
    assert(ghosts == 0L, s"$ghosts tombstoned rows survive in the files")
  }

  test("s25: MaxSim dominates the full-vector dot (per-token max ≥ diagonal term)") {
    import spark.implicits._
    val sf = "/root/testdata/sf0.001"
    // Σ_i max_j <q_i, d_j> ≥ Σ_i <q_i, d_i> = <q, d>: late interaction can
    // only beat the aligned-slice sum, for EVERY (query, doc) pair — so
    // every returned top-5 row must dominate that pair's full 64-dim dot
    val rows = Similarity.queries("s25_maxsim_late_interaction")(spark, sf)
      .select($"query_id", $"neighbor_id", $"maxsim").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(rows.length == 25, s"expected 5 queries x top-5, got ${rows.length}")
    val e = graft.core.Tables.embeddings(spark, sf)
      .select($"vec_id", $"embedding".cast("array<double>").as("v"))
    val q = e.filter($"vec_id" < 5).select($"vec_id".as("qid"), $"v".as("qv"))
    val full = e.join(q, $"vec_id" =!= $"qid")
      .select($"qid", $"vec_id",
        graft.ext.Similarity.dot($"qv", $"v").as("fd")).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    rows.foreach { case (qid, nid, ms) =>
      val fd = full((qid, nid))
      assert(ms >= fd - 1e-9, s"($qid,$nid): maxsim $ms < full dot $fd")
    }
    // ranks are 1..5 per query
    val byQ = Similarity.queries("s25_maxsim_late_interaction")(spark, sf)
      .select($"query_id", $"rank").collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getInt(1)).sorted.toSeq)
    assert(byQ.values.forall(_ == Seq(1, 2, 3, 4, 5)))
  }

  test("s26: MMR greedy invariants — monotone scores, rank-1 = top-rel, diversity acts") {
    import spark.implicits._
    val sf = "/root/testdata/sf0.01"
    val rows = Similarity.queries("s26_mmr_rerank")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    assert(rows.length == 25, s"expected 5 queries x 5 picks, got ${rows.length}")
    // greedy max over a shrinking candidate set with growing penalties is
    // non-increasing in k
    rows.groupBy(_._1).values.foreach { picks =>
      val scores = picks.sortBy(_._2).map(_._4)
      assert(scores.zip(scores.tail).forall { case (a, b) => b <= a + 1e-12 },
        s"MMR scores increased across rounds: ${scores.toList}")
    }
    // rank 1 maximizes lambda*rel, i.e. rel: must equal s01's top-1
    val top1 = Similarity.queries("s01_cosine_topk")(spark, sf)
      .filter($"rn" === 1).select($"query_id", $"neighbor_id").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    rows.filter(_._2 == 1).foreach { case (q, _, v, _) =>
      assert(v == top1(q), s"query $q: MMR rank-1 $v != exact top-1 ${top1(q)}")
    }
    // and the diversity penalty actually changes the selection vs pure
    // relevance for at least one query at sf0.01
    val rel5 = Similarity.queries("s01_cosine_topk")(spark, sf)
      .filter($"rn" <= 5).select($"query_id", $"neighbor_id").collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    val mmr5 = rows.groupBy(_._1).view.mapValues(_.map(_._3).toSet).toMap
    assert(mmr5.exists { case (q, s) => s != rel5(q) },
      "MMR top-5 identical to relevance top-5 for every query — penalty inert")
  }

  test("s28: beam search improves pointwise on the entry beam and never returns self") {
    import spark.implicits._
    val sf = "/root/testdata/sf0.01"
    val rows = Similarity.queries("s28_graph_beam_search")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    assert(rows.length == 20, s"expected 5 queries x beam-4, got ${rows.length}")
    rows.foreach { case (q, _, n, _) => assert(n != q, s"query $q returned itself") }
    val byQ = rows.groupBy(_._1).view
      .mapValues(_.sortBy(_._2).map(_._4).toList).toMap
    assert(byQ.keySet == Set(0L, 1L, 2L, 3L, 4L))
    // entry beam replay: exact cosines of the 8 seed entry points, top-4
    val e = graft.core.Tables.embeddings(spark, sf)
      .select($"vec_id", $"embedding".cast("array<double>").as("v"))
    val entry = e.filter($"vec_id" < 8).as("c")
      .crossJoin(e.filter($"vec_id" < 5).select($"vec_id".as("qid"), $"v".as("qv")))
      .filter(col("c.vec_id") =!= $"qid")
      .select($"qid", col("c.vec_id").as("nid"),
        Similarity.cosine($"qv", col("c.v")).as("cos")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .groupBy(_._1).view
      .mapValues(_.sortBy(t => (-t._3, t._2)).take(4).map(_._3).toList).toMap
    // the beam re-includes its members each hop, so hop-3 scores dominate
    // the entry scores at every rank
    for (q <- 0L to 4L) {
      byQ(q).zip(entry(q)).zipWithIndex.foreach { case ((fin, ent), i) =>
        assert(fin >= ent - 1e-6,
          s"query $q rank ${i + 1}: final $fin below entry $ent — beam lost ground")
      }
      assert(byQ(q).zip(byQ(q).tail).forall { case (a, b) => b <= a + 1e-12 },
        s"query $q: beam not rank-sorted: ${byQ(q)}")
    }
  }

  test("s29: layered entry is internally consistent and beats s28's blind entry on found quality") {
    import spark.implicits._
    val sf = "/root/testdata/sf0.01"
    val rows = Similarity.queries("s29_layered_beam_entry")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3),
        r.getInt(4), r.getDouble(5)))
    assert(rows.length == 20, s"expected 5 queries x beam-4, got ${rows.length}")
    rows.foreach { case (q, _, n, _, flag, _) =>
      assert(n != q, s"query $q returned itself")
      assert(flag == 0 || flag == 1, s"in_exact4 flag $flag not boolean")
    }
    val byQ = rows.groupBy(_._1)
    assert(byQ.keySet == Set(0L, 1L, 2L, 3L, 4L))
    byQ.foreach { case (q, rs) =>
      val sorted = rs.sortBy(_._2)
      // rank-sorted beam, and recall_at_4 is exactly the flag mean
      assert(sorted.map(_._4).zip(sorted.map(_._4).tail)
        .forall { case (a, b) => b <= a + 1e-12 }, s"query $q beam unsorted")
      val recall = rs.map(_._5).sum / 4.0
      rs.foreach { case (_, _, _, _, _, r) =>
        assert(math.abs(r - recall) < 1e-9,
          s"query $q recall_at_4 $r != flag mean $recall") }
    }
    // the measured point of the layer: at EQUAL expansion budget (one
    // fewer layer-0 hop), entering from the coarse layer's beam finds
    // strictly better neighbors on this corpus than s28's blind cell
    // seeds (0.2095 vs 0.1696 mean cosine at sf0.01 when authored).
    // Uniform random vectors are graph-ANN's adversarial case (no
    // navigable small-world structure — strict recall@4 sits at the
    // random baseline for BOTH, recorded in SCALE.md), so mean found
    // cosine is the discriminating signal.
    val s28mean = Similarity.queries("s28_graph_beam_search")(spark, sf)
      .agg(avg($"cos")).head().getDouble(0)
    val s29mean = rows.map(_._4).sum / rows.length
    assert(s29mean > s28mean,
      f"layered entry mean cos $s29mean%.4f not above blind entry $s28mean%.4f")
  }

  test("s30: width sweep is shape-exact and hits never decrease with a wider beam") {
    val sf = "/root/testdata/sf0.01"
    val rows = Similarity.queries("s30_beam_width_sweep")(spark, sf).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getDouble(3),
        r.getDouble(4))).toList
    assert(rows.map(_._1) == List(2, 4, 8), s"widths wrong: $rows")
    rows.foreach { case (w, nf, nh, rec, mc) =>
      // 5 queries × beam-W survivors, recall consistent with hits
      assert(nf == 5L * w, s"width $w found $nf, expected ${5 * w}")
      assert(rec == nh / 20.0, s"width $w recall $rec != $nh/20")
      assert(nh <= math.min(nf, 20L), s"width $w hits $nh out of range")
      assert(mc > -1.0 && mc < 1.0)
    }
    // a wider beam keeps a superset-quality frontier at every hop
    // (top-k of a candidate superset pointwise dominates), so hits@4
    // can only grow with width
    assert(rows.map(_._3) == rows.map(_._3).sorted,
      s"hits not monotone in width: $rows")
  }

  test("s27: binary hamming report is well-formed; sum_ham matches a Scala replay") {
    import spark.implicits._
    val sf = "/root/testdata/sf0.001"
    val rows = Similarity.queries("s27_binary_hamming")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
    assert(rows.map(_._1).toList == List(0L, 1L, 2L, 3L, 4L))
    rows.foreach { case (_, nh, rc, sh) =>
      assert(nh >= 0 && nh <= 5); assert(rc == nh / 5.0)
      assert(sh >= 0 && sh <= 5 * 64, s"sum_ham $sh outside [0, 320]")
    }
    // independent Scala replay of the sign-pack + hamming top-5
    val vecs = graft.core.Tables.embeddings(spark, sf)
      .select($"vec_id", $"embedding".cast("array<double>").as("v")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    def code(v: Array[Double]): Long =
      v.zipWithIndex.map { case (x, i) => if (x > 0.0) 1L << i else 0L }.reduce(_ | _)
    val codes = vecs.view.mapValues(code).toMap
    val expected = (0L until 5L).map { q =>
      q -> codes.toSeq.filter(_._1 != q)
        .map { case (id, c) => (java.lang.Long.bitCount(c ^ codes(q)), id) }
        .sorted.take(5).map(_._1.toLong).sum
    }.toMap
    rows.foreach { case (q, _, _, sh) =>
      assert(sh == expected(q), s"query $q: sum_ham $sh != replay ${expected(q)}")
    }
  }

  test("s31: mined triplets are well-formed — cross-label negatives, same-label positive, exact margins") {
    import spark.implicits._
    val sf = "/root/testdata/sf0.01"
    val labels = spark.read.parquet(s"$sf/embeddings.parquet")
      .select($"vec_id", $"label").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val rows = Similarity.queries("s31_hard_negative_mining")(spark, sf)
      .collect()
    assert(rows.nonEmpty)
    rows.groupBy(_.getLong(0)).foreach { case (a, rs) =>
      val byRank = rs.sortBy(_.getInt(1))
      assert(byRank.map(_.getInt(1)).toList == List(1, 2, 3),
        s"anchor $a must mine exactly ranks 1..3")
      // negatives are genuinely cross-label; the positive is same-label
      byRank.foreach { r =>
        assert(r.getInt(3) != labels(a),
          s"anchor $a (label ${labels(a)}): negative ${r.getLong(2)} " +
            s"shares the label — not a negative")
        assert(labels(r.getLong(5)) == labels(a),
          s"anchor $a: positive ${r.getLong(5)} has a different label")
        assert(r.getLong(5) != a, "the anchor cannot be its own positive")
      }
      // hardness ordering: rank-1 is the most similar negative, and the
      // margin is exactly pos_cos - neg_cos at 6dp (so it SHRINKS as
      // negatives get harder)
      val negCos = byRank.map(_.getDouble(4))
      assert(negCos.zip(negCos.tail).forall { case (x, y) => x >= y },
        s"anchor $a: neg_cos must be non-increasing in rank, got ${negCos.toList}")
      byRank.foreach { r =>
        val m = BigDecimal(r.getDouble(6) - r.getDouble(4))
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
        assert(math.abs(r.getDouble(7) - m) <= 2e-6,
          s"anchor $a rank ${r.getInt(1)}: margin ${r.getDouble(7)} != " +
            s"pos_cos - neg_cos = $m")
      }
    }
  }
}
