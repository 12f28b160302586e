package graft

import org.apache.spark.sql.functions._
import graft.operators.{Dedup, Similarity, TextOps, Multimodal, Relational, TrainingPipeline}

/** Specs for the LLM-pipeline operators at sf0.001 — each checks the Spark
  * result against an independent in-memory computation (not the DuckDB
  * oracle, which the driver runs separately).
  */
class PipelineSpec extends SparkSpec {

  private def docs = Tables(spark, sfDir, "documents")
    .select("doc_id", "text").collect()
    .map(r => r.getLong(0) -> r.getString(1)).toMap

  private def bigramSet(text: String): Set[String] =
    text.split(" ").sliding(2).map(_.mkString(" ")).toSet

  test("minhash-LSH near-dup equals exact Jaccard >= 0.85 (no false negatives)") {
    val exact = for {
      (a, ta) <- docs.toSeq; (b, tb) <- docs.toSeq if a < b
      sa = bigramSet(ta); sb = bigramSet(tb)
      j = sa.intersect(sb).size.toDouble / sa.union(sb).size
      if j >= 0.85
    } yield (a, b)
    val lsh = Dedup.queries("q_dedup_minhash")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh == exact.toSet)
    assert(exact.nonEmpty, "fixture should contain planted near-dups")
  }

  test("ppjoin exact self-join equals the LSH pair set (same threshold)") {
    // the r13 cross-validation promise: the prefix+length+positional
    // filtered EXACT join and the banded-LSH path must agree pair-for-
    // pair at the shared J >= 0.85 threshold
    val pp = Dedup.queries("q_dedup_ppjoin")(spark, sfDir)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    val lsh = Dedup.queries("q_dedup_minhash")(spark, sfDir)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(pp == lsh)
    assert(pp.nonEmpty, "fixture should contain planted near-dups")
  }

  test("exact ngram Jaccard values are correct") {
    val got = Dedup.queries("q_dedup_ngram")(spark, sfDir)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    for (((a, b), j) <- got) {
      val sa = bigramSet(docs(a)); val sb = bigramSet(docs(b))
      val expect = sa.intersect(sb).size.toDouble / sa.union(sb).size
      assert(math.abs(j - expect) < 5e-5, s"pair ($a,$b)")
    }
  }

  test("simhash: near-dup pairs have smaller hamming distance than random pairs") {
    val sh = Dedup.queries("q_dedup_simhash")(spark, sfDir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val near = Dedup.queries("q_dedup_minhash")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    val nearAvg = near.map { case (a, b) => ham(sh(a), sh(b)) }.sum.toDouble / near.length
    val ids = sh.keys.toSeq.sorted.take(40)
    val randPairs = for (a <- ids; b <- ids if a < b) yield (a, b)
    val randAvg = randPairs.map { case (a, b) => ham(sh(a), sh(b)) }.sum.toDouble / randPairs.length
    assert(nearAvg < randAvg / 2, s"near=$nearAvg rand=$randAvg")
  }

  test("brute-force cosine top-k matches in-memory computation") {
    val vecs = Tables(spark, sfDir, "embeddings").select("vec_id", "embedding")
      .collect().map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0
      for (i <- a.indices) {
        d += a(i).toDouble * b(i).toDouble
        na += a(i).toDouble * a(i).toDouble; nb += b(i).toDouble * b(i).toDouble
      }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    val got = Similarity.queries("q_sim_topk")(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getInt(3)) -> r.getLong(1)).toMap
    for (q <- 0L until 10L) {
      val expected = vecs.toSeq.filter(_._1 != q)
        .map { case (id, v) =>
          (id, BigDecimal(cos(vecs(q), v)).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble) }
        .sortBy { case (id, c) => (-c, id) }.take(5).map(_._1)
      val gotK = (1 to 5).map(rn => got((q, rn)))
      assert(gotK == expected, s"query $q")
    }
  }

  test("text wordcount matches in-memory token count") {
    val expected = Tables(spark, sfDir, "documents").select("lang", "text").collect()
      .groupBy(_.getString(0))
      .map { case (lang, rows) =>
        lang -> rows.map(_.getString(1).split(" ").length.toLong).sum }
    val got = TextOps.queries("q_text_wordcount")(spark, sfDir)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == expected)
  }

  test("repetition signals match in-memory computation") {
    val expected = docs.collect { case (id, text) if text.split(" ").length >= 2 =>
      val tk = text.split(" ")
      val bg = tk.sliding(2).map(a => (a(0), a(1))).toSeq
      val permille = bg.groupBy(identity).map(_._2.size).max.toLong * 1000 / bg.size
      var maxRun = 1L; var run = 1L
      for (i <- 1 until tk.length) {
        run = if (tk(i) == tk(i - 1)) run + 1 else 1L
        maxRun = math.max(maxRun, run)
      }
      id -> ((permille, maxRun, permille >= 60 || maxRun >= 3))
    }
    val got = TextOps.queries("q_text_repetition")(spark, sfDir)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getBoolean(3)))).toMap
    assert(got == expected)
  }

  test("commonness: corpus bigram LM scoring matches in-memory computation") {
    val allBg = docs.toSeq.flatMap { case (id, text) =>
      val tk = text.split(" ")
      if (tk.length < 2) Nil else tk.sliding(2).map(a => (id, (a(0), a(1)))).toSeq
    }
    val lm = allBg.groupBy(_._2).map { case (k, v) => k -> v.size.toLong }
    val expected = allBg.groupBy(_._1).map { case (id, bgs) =>
      val cs = bgs.map(b => lm(b._2))
      id -> ((cs.size.toLong, cs.sum * 100 / cs.size, cs.min))
    }
    val got = TextOps.queries("q_text_commonness")(spark, sfDir)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got == expected)
  }

  test("co-occurrence mining matches in-memory Apriori 2-itemsets") {
    val docToks = docs.map { case (id, text) => id -> text.split(" ").distinct.toSet }
    val thr = docs.size / 10
    val freq = docToks.values.flatten.groupBy(identity)
      .collect { case (t, occ) if occ.size >= thr => t }.toSet
    val pairCounts = docToks.values.toSeq.flatMap { tks =>
      val f = tks.intersect(freq).toSeq.sorted
      for (i <- f.indices; j <- (i + 1) until f.size) yield (f(i), f(j))
    }.groupBy(identity).map { case (p, v) => p -> v.size.toLong }
    val expected = pairCounts.toSeq
      .sortBy { case ((a, b), n) => (-n, a, b) }.take(20)
    val got = TextOps.queries("q_text_cooccur")(spark, sfDir)
      .collect().map(r => ((r.getString(0), r.getString(1)), r.getLong(2))).toSeq
    assert(got == expected)
    assert(got.nonEmpty)
  }

  test("silhouette audit conserves the corpus and bounds separation counts") {
    val rows = Similarity.queries("q_sim_silhouette")(spark, sfDir).collect()
    val nVecs = Tables(spark, sfDir, "embeddings").count()
    assert(rows.map(_.getLong(1)).sum == nVecs, "every vector audited exactly once")
    assert(rows.forall(r => r.getLong(2) <= r.getLong(1)), "separated <= members")
    assert(rows.nonEmpty)
  }

  test("multimodal decode stub is deterministic and schema-stable") {
    val df = Multimodal.queries("q_mm_decode")(spark, sfDir)
    assert(df.columns.toSeq == Seq("doc_id", "width", "height", "f0"))
    val a = df.collect(); val b = Multimodal.queries("q_mm_decode")(spark, sfDir).collect()
    assert(a.sameElements(b))
    assert(a.length == docs.size)
  }

  test("native CosineSimilarity expression == HOF formulation (q_sim_expr == q_sim_topk)") {
    val hof = graft.operators.Similarity.queries("q_sim_topk")(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    val expr = graft.functions.Extensibility.queries("q_sim_expr")(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    assert(expr == hof)
  }

  test("SortedIntersectCount == size(array_intersect) on sorted distinct arrays") {
    // the PPJoin verify's merge-count expression (r14) must agree with
    // the array_intersect spelling it replaced, incl. empty/disjoint/
    // null cases, under both codegen and interpreted eval
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val rows = (0 until 200).map { i =>
      def arr() = rnd.shuffle((0L until 50L).toList)
        .take(rnd.nextInt(20)).distinct.sorted.toArray
      (i.toLong, arr(), arr())
    } :+ ((200L, Array.empty[Long], Array(1L, 2L))) :+
      ((201L, Array(5L, 9L), Array.empty[Long]))
    val df = rows.toDF("id", "la", "lb")
    val got = df.select(col("id"),
        graft.functions.SortedIntersectCount(col("la"), col("lb")).as("c"),
        size(array_intersect(col("la"), col("lb"))).cast("long").as("ref"))
      .collect()
    got.foreach(r => assert(r.getLong(1) == r.getLong(2),
      s"row ${r.getLong(0)}: merge-count ${r.getLong(1)} != array_intersect ${r.getLong(2)}"))
    // null array propagates null, matching size(array_intersect) semantics
    val nullRow = df.limit(1)
      .select(graft.functions.SortedIntersectCount(
        lit(null).cast("array<long>"), col("lb")).as("c")).collect()
    assert(nullRow.head.isNullAt(0))
  }

  test("ppjoin+ probing prefix: candidates cover every qualifying pair and subset the symmetric spelling") {
    // r15: the batch collision join probes with the SHORTER PPJoin+
    // prefix (n - ceil(2t/(1+t) n) + 1 on the smaller side) and filters
    // positionally at the sum bound alpha = ceil(t/(1+t) (na+nb)). Both
    // are theorem applications: the candidate set must (a) stay a subset
    // of the r14 symmetric spelling's (pure pruning, no new pairs) and
    // (b) still contain EVERY pair with true J >= t (no lost recall —
    // the correctness half of the theorem).
    import org.apache.spark.sql.expressions.Window
    val t = 0.85
    val sh = Dedup.shingles(Tables(spark, sfDir, "documents")).localCheckpoint(true)
    val w = Window.partitionBy("doc_id").orderBy(col("dfreq"), col("s"))
    val pfx = sh
      .withColumn("dfreq", count(lit(1)).over(Window.partitionBy("s")))
      .withColumn("n", count(lit(1)).over(Window.partitionBy("doc_id")))
      .withColumn("r", row_number().over(w))
      .filter(col("r") <= col("n") - ceil(lit(t) * col("n") - lit(1e-6)) + 1)
      .select("doc_id", "s", "r", "n").localCheckpoint(true)
    val symmetric = pfx.select(col("doc_id").as("da"), col("s"), col("r").as("ra"), col("n").as("na"))
      .join(pfx.select(col("doc_id").as("db"), col("s"), col("r").as("rb"), col("n").as("nb")), Seq("s"))
      .filter(col("da") < col("db") &&
        col("nb") >= ceil(lit(t) * col("na") - lit(1e-6)) &&
        col("na") >= ceil(lit(t) * col("nb") - lit(1e-6)) &&
        least(col("na") - col("ra"), col("nb") - col("rb")) + 1 >=
          ceil(lit(t) * greatest(col("na"), col("nb")) - lit(1e-6)))
      .select("da", "db").distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val probe = pfx
      .filter(col("r") <= col("n") -
        ceil(lit(2 * t / (1 + t)) * col("n") - lit(1e-6)) + 1)
      .select(col("doc_id").as("xa"), col("s"), col("r").as("ra"), col("n").as("na"))
    val plus = probe
      .join(pfx.select(col("doc_id").as("xb"), col("s"), col("r").as("rb"), col("n").as("nb")), Seq("s"))
      .filter((col("na") < col("nb") ||
          (col("na") === col("nb") && col("xa") < col("xb"))) &&
        col("na") >= ceil(lit(t) * col("nb") - lit(1e-6)) &&
        least(col("na") - col("ra"), col("nb") - col("rb")) + 1 >=
          ceil(lit(t / (1 + t)) * (col("na") + col("nb")) - lit(1e-6)))
      .select(least(col("xa"), col("xb")).as("da"),
        greatest(col("xa"), col("xb")).as("db")).distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(plus.subsetOf(symmetric),
      s"ppjoin+ produced pairs outside the symmetric candidate set: ${(plus -- symmetric).take(5)}")
    // recall: every TRUE qualifying pair is still a candidate
    val truth = {
      val d = docs
      for {
        (a, ta) <- d.toSeq; (b, tb) <- d.toSeq if a < b
        sa = bigramSet(ta); sb = bigramSet(tb)
        if sa.nonEmpty && sb.nonEmpty
        j = sa.intersect(sb).size.toDouble / sa.union(sb).size if j >= t
      } yield (a, b)
    }.toSet
    assert(truth.subsetOf(plus),
      s"ppjoin+ LOST qualifying pairs: ${(truth -- plus).take(5)}")
    assert(truth.nonEmpty, "fixture should contain planted near-dups")
  }

  test("grid list attach == per-pair join spelling (forced-gate equality)") {
    // the r14 §8 rewrite: past GridIntersectPairLimit the exact verify
    // attaches id lists per (bucket, bucket) cell via cogroup instead of
    // per pair via two joins — forced on (gridPairLimit = 0) it must
    // produce the identical verified pair set
    import graft.operators.Dedup
    val docs = Tables(spark, sfDir, "documents")
    val sh = Dedup.shingles(docs).localCheckpoint(true)
    def rows(limit: Long) =
      Dedup.jaccardPairs(sh, 0.85, preMaterialized = true, gridPairLimit = limit)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sorted.toSeq
    val viaJoin = rows(Long.MaxValue)
    val viaGrid = rows(0L)
    assert(viaGrid == viaJoin,
      s"grid attach diverged: ${viaGrid.size} vs ${viaJoin.size} pairs")
    assert(viaJoin.nonEmpty, "fixture produced no pairs - test is vacuous")
  }

  test("gridQ override: a positive int is honored, a malformed value names the key") {
    import spark.implicits._
    val lists = Seq((1L, Seq(1L, 2L))).toDF("doc_id", "ls")
    try {
      spark.conf.set(Dedup.GridQKey, "24")
      assert(Dedup.gridQFor(spark, lists) == 24)
      for (bad <- Seq("sixteen", "0", "-3", "2.5", "")) {
        spark.conf.set(Dedup.GridQKey, bad)
        val e = intercept[IllegalArgumentException](Dedup.gridQFor(spark, lists))
        assert(e.getMessage.contains(Dedup.GridQKey), s"'$bad': ${e.getMessage}")
      }
    } finally spark.conf.unset(Dedup.GridQKey)
    // no override: derived from the measured list bytes (floor 16)
    assert(Dedup.gridQFor(spark, lists) == 16)
  }

  test("custom generator UDTF: == HOF trigrams, and SQL/LATERAL VIEW callable") {
    import graft.functions.NGramsGen
    val docs = Tables(spark, sfDir, "documents").filter(col("doc_id") < 50)
    val viaGen = docs
      .select(col("doc_id"), NGramsGen.ngrams(split(col("text"), " "), 3).as("ngram"))
      .collect().map(r => (r.getLong(0), r.getString(1))).sorted
    val viaHof = docs
      .withColumn("tk", split(col("text"), " "))
      .select(col("doc_id"), explode(expr(
        "transform(sequence(1, size(tk)-2), i -> concat_ws(' ', tk[i-1], tk[i], tk[i+1]))")).as("ngram"))
      .collect().map(r => (r.getLong(0), r.getString(1))).sorted
    assert(viaGen.nonEmpty && viaGen.sameElements(viaHof))
    NGramsGen.registerSql(spark)
    docs.createOrReplaceTempView("docs_gen")
    val viaSql = spark.sql(
      """SELECT doc_id, ngram FROM docs_gen
         LATERAL VIEW ngrams_gen(split(text, ' '), 3) t AS ngram""")
      .collect().map(r => (r.getLong(0), r.getString(1))).sorted
    assert(viaSql.sameElements(viaGen))
  }

  test("random projection: matches in-memory sign-matrix multiply and bounds distortion") {
    val emb = Tables(spark, sfDir, "embeddings")
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray)
    val qv = emb.map { case (id, e) =>
      id -> e.map(x => math.floor(x.toDouble * 32768.0).toLong)
    }.toMap
    val signs = Similarity.rpSigns
    val got = Similarity.queries("q_sim_rp")(spark, sfDir).collect()
    assert(got.length == qv.size)
    got.foreach { r =>
      val q = qv(r.getLong(0))
      (0 until 8).foreach { j =>
        val exp = (0 until 64).map(i => signs(j)(i) * q(i)).sum
        assert(r.getLong(j + 1) == exp, s"vec ${r.getLong(0)} p$j")
      }
    }
    // JL sanity: mean of E[p_j^2]/||q||^2 across dims concentrates near 1
    val ratios = got.map { r =>
      val q = qv(r.getLong(0))
      val n2 = q.map(x => x.toDouble * x).sum
      (0 until 8).map(j => r.getLong(j + 1).toDouble).map(p => p * p).sum / (8 * n2)
    }
    val mean = ratios.sum / ratios.length
    assert(mean > 0.5 && mean < 2.0, s"JL energy ratio off: $mean")
  }

  test("int8-quantized cosine stays close to exact (top-1 preserved mostly)") {
    val exact = graft.operators.Similarity.queries("q_sim_topk")(spark, sfDir).collect()
      .filter(_.getInt(3) == 1).map(r => r.getLong(0) -> r.getLong(1)).toMap
    val quant = graft.operators.Similarity.queries("q_sim_quantized")(spark, sfDir).collect()
      .filter(_.getInt(3) == 1).map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(quant.size == exact.size)
    // 255 quantization levels perturb cosines by ~1e-3 — the top-1 should
    // survive for nearly all probes.
    val hits = exact.count { case (q, nn) => quant.get(q).contains(nn) }
    assert(hits >= exact.size - 1, s"quantized top-1 preserved for $hits/${exact.size}")
  }

  test("cosine_sim is callable from SQL after registry injection") {
    graft.functions.CosineSimilarity.registerSql(spark)
    Tables(spark, sfDir, "embeddings").createOrReplaceTempView("emb_sql")
    val r = spark.sql(
      "SELECT round(cosine_sim(embedding, embedding), 6) AS self FROM emb_sql LIMIT 5")
      .collect().map(_.getDouble(0))
    assert(r.length == 5 && r.forall(_ == 1.0))
  }

  test("BPE apply: tokens never exceed chars; corpus total equals the trainer's count") {
    import graft.operators.TextOps
    val rows = TextOps.queries("q_text_bpe_apply")(spark, sfDir).collect()
    assert(rows.nonEmpty)
    assert(rows.forall(r => r.getLong(3) <= r.getLong(2)),
      "a word can never tokenize to MORE tokens than characters")
    assert(rows.exists(r => r.getLong(3) < r.getLong(2)),
      "the learned merges never fired on the corpus")
    // conservation: sum of per-doc BPE tokens == the trainer's
    // corpus_symbols_after for the last round (same merges, same corpus)
    val train = TextOps.queries("q_text_bpe_train")(spark, sfDir).collect()
    val afterLast = train.maxBy(_.getInt(0)).getLong(4)
    assert(rows.map(_.getLong(3)).sum == afterLast,
      "apply totals diverge from the trainer's corpus symbol count")
  }

  test("LSH ANN recall self-check: probes overlap the exact top-3") {
    // q_sim_ann now outputs the ANN top-3 itself (the oracle replicates the
    // full LSH); recall vs the exact top-3 is pinned here instead.
    val ann = Similarity.queries("q_sim_ann")(spark, sfDir).collect()
      .map(r => r.getLong(0) -> r.getLong(1))
      .groupBy(_._1).map { case (q, vs) => q -> vs.map(_._2).toSet }
    val emb = Tables(spark, sfDir, "embeddings").select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray).toMap
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var dp = 0.0; var na = 0.0; var nb = 0.0
      for (i <- a.indices) { dp += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i) }
      dp / (math.sqrt(na) * math.sqrt(nb))
    }
    val hits = (0L until 10L).count { q =>
      val top3 = emb.keys.filter(_ != q).toSeq
        .sortBy(v => (-cos(emb(q), emb(v)), v)).take(3).toSet
      ann.getOrElse(q, Set.empty).intersect(top3).nonEmpty
    }
    // sf0.001's corpus is 10× sparser than the oracled sf0.01 — allow one
    // bucket-miss probe.
    assert(hits >= 9, s"ANN top-3 overlaps exact top-3 for $hits/10 probes")
  }

  test("embedding near-dup: non-empty, precision 1, recall vs exact within-cell pinned") {
    // r5 shipped a 0.95 threshold that could never fire (max same-label
    // cosine ~0.47), so the oracle passed on a 0-row vs 0-row compare and
    // the pair/threshold logic was never checked; the 0.35 threshold is
    // calibrated to the fixture. r7 banded the within-cell candidates
    // (the r6 scale defect), so the query is now LSH-approximate: this
    // test pins (a) non-emptiness, (b) banded ⊆ exact (precision 1 — the
    // exact cosine verify can't invent pairs), and (c) recall vs the
    // exact within-cell compare.
    val rows = Similarity.queries("q_sim_neardup")(spark, sfDir).collect()
    assert(rows.nonEmpty, "near-dup threshold no longer matches the fixture's cosine distribution")
    assert(rows.forall(_.getDouble(2) >= 0.35))
    val banded = rows.map(r => (r.getLong(0), r.getLong(1))).toSet
    val emb = Tables(spark, sfDir, "embeddings")
      .select("vec_id", "embedding", "label").collect()
      .filter(r => !r.isNullAt(1) && !r.isNullAt(2))
      .map(r => (r.getLong(0), r.getSeq[Float](1).map(_.toDouble).toArray, r.get(2)))
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var dp = 0.0; var na = 0.0; var nb = 0.0
      for (i <- a.indices) { dp += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i) }
      dp / (math.sqrt(na) * math.sqrt(nb))
    }
    val exact = (for {
      (va, ea, la) <- emb; (vb, eb, lb) <- emb
      if va < vb && la == lb &&
        BigDecimal(cos(ea, eb)).setScale(4, BigDecimal.RoundingMode.HALF_UP) >= 0.35
    } yield (va, vb)).toSet
    assert(banded.subsetOf(exact),
      s"banded pairs must verify exactly: extras ${banded.diff(exact)}")
    val recall = banded.size.toDouble / exact.size
    // 8 tables x 3 bits: P[miss] at the 0.35 threshold is ~0.12 per pair
    // and falls fast with similarity; measured fixture recall prints below
    // and is pinned with margin against a broken banding.
    info(s"near-dup LSH recall: ${banded.size}/${exact.size} = $recall")
    assert(recall >= 0.6, s"near-dup LSH recall $recall below pin 0.6")
  }

  test("IVF (nprobe=2) recall vs brute-force top-3 pinned") {
    // Measured recall@3: 0.75 at sf0.001, 0.65 at sf0.01, with 19/20
    // probes overlapping the exact top-3 at both scales — pinned with
    // margin (a broken probe set collapses recall toward the 2/8-cells
    // random baseline ~0.25).
    val ivf = Similarity.queries("q_sim_ivf")(spark, sfDir).collect()
      .map(r => r.getLong(0) -> r.getLong(1))
      .groupBy(_._1).map { case (q, vs) => q -> vs.map(_._2).toSet }
    val emb = Tables(spark, sfDir, "embeddings").select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray).toMap
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var dp = 0.0; var na = 0.0; var nb = 0.0
      for (i <- a.indices) { dp += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i) }
      dp / (math.sqrt(na) * math.sqrt(nb))
    }
    val perQuery = (0L until 20L).map { q =>
      val top3 = emb.keys.filter(_ != q).toSeq
        .sortBy(v => (-cos(emb(q), emb(v)), v)).take(3).toSet
      ivf.getOrElse(q, Set.empty).intersect(top3).size
    }
    val recall = perQuery.sum.toDouble / (3 * perQuery.size)
    assert(recall >= 0.5, s"IVF recall@3 $recall below pin 0.5")
    assert(perQuery.count(_ >= 1) >= 17,
      s"only ${perQuery.count(_ >= 1)}/20 probes overlap the exact top-3")
  }

  test("approx_percentile within 2% of exact percentiles") {
    val rows = Relational.queries("q_agg_approx_pct")(spark, sfDir).collect()
    assert(rows.forall(_.getBoolean(3)), "in-query apx_ok must hold")
    val apx = rows.map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    val exact = Tables(spark, sfDir, "lineitem").groupBy("l_returnflag")
      .agg(org.apache.spark.sql.functions.expr("percentile(l_extendedprice, 0.5)").as("m"),
        org.apache.spark.sql.functions.expr("percentile(l_extendedprice, 0.9)").as("p"))
      .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    for ((k, (m, p)) <- exact) {
      assert(math.abs(apx(k)._1 - m) / m < 0.02, s"$k median")
      assert(math.abs(apx(k)._2 - p) / p < 0.02, s"$k p90")
    }
  }

  test("unionByName aligns by column name, not position") {
    import spark.implicits._
    val a = Seq((1L, "x")).toDF("id", "tag")
    val b = Seq(("y", 2L)).toDF("tag", "id")
    val u = a.unionByName(b).orderBy("id")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(u == Seq((1L, "x"), (2L, "y")))
    val c = Seq((3L)).toDF("id")
    val m = a.unionByName(c, allowMissingColumns = true)
      .filter(col("id") === 3).collect()(0)
    assert(m.isNullAt(1))
  }

  test("e2e curation funnel is monotone and its stage rules match the standalone operators") {
    val funnel = TrainingPipeline.queries("q_pipeline_e2e")(spark, sfDir)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val stages = Seq("0_raw", "1_lang", "2_quality", "3_exact", "4_neardup")
    assert(funnel.keySet == stages.toSet)
    val nDocs = stages.map(funnel(_)._1)
    val nToks = stages.map(funnel(_)._2)
    assert(nDocs.zip(nDocs.tail).forall { case (a, b) => b <= a }, s"docs not monotone: $nDocs")
    assert(nToks.zip(nToks.tail).forall { case (a, b) => b <= a }, s"tokens not monotone: $nToks")
    assert(funnel("0_raw")._1 == docs.size)
    // stage-1 count must equal the standalone langid query's predicted-en count
    val en = TextOps.queries("q_text_langid")(spark, sfDir)
      .filter(col("predicted") === "en").count()
    assert(funnel("1_lang")._1 == en)
  }

  test("mixture sampling: sqrt-token quotas, capped, smallest-hash membership") {
    val rows = Tables(spark, sfDir, "documents")
      .select(col("doc_id"), col("source"),
        size(split(col("text"), " ")).cast("long").as("n_tok"),
        graft.functions.PortableHash.hash60(col("doc_id").cast("string")).as("h"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    val bySrc = rows.groupBy(_._2)
    val isq = bySrc.view.mapValues(ds => math.sqrt(ds.map(_._3).sum.toDouble).toLong).toMap
    val (dtot, sumisq) = (rows.length.toLong, isq.values.sum)
    val quota = bySrc.map { case (src, ds) =>
      src -> math.min(ds.length.toLong, (dtot / 2) * isq(src) / sumisq)
    }
    val expected = bySrc.toSeq.flatMap { case (src, ds) =>
      ds.sortBy(d => (d._4, d._1)).toSeq.take(quota(src).toInt).map(d => (src, d._1))
    }.toSet
    val got = TrainingPipeline.queries("q_sample_mixture")(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    assert(got == expected)
    assert(got.size < rows.length, "quotas should actually downsample")
  }

  test("stratified sample cuts every class to exactly the min class size") {
    val byLang = Tables(spark, sfDir, "documents").groupBy("lang").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val mn = byLang.values.min
    val got = TrainingPipeline.queries("q_sample_stratified")(spark, sfDir)
      .groupBy("lang").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got.keySet == byLang.keySet)
    assert(got.values.forall(_ == mn), s"expected $mn per class, got $got")
  }

  test("temperature mixture: targets hit exactly, upsampling AND trimming both exercised") {
    val rows = TrainingPipeline.queries("q_sample_temperature")(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6)))
    // (lang, n_docs, weight_e6, target, n_out, n_kept, max_copies)
    assert(rows.nonEmpty)
    // repeat-and-trim materialization must hit the integer target exactly
    rows.foreach { case (lang, _, _, target, nOut, _, _) =>
      assert(nOut == target, s"$lang: n_out $nOut != target $target") }
    // flattened weights are a (sub-)distribution summing to ≤ 1e6
    assert(rows.map(_._3).sum <= 1000000L)
    // α=0.25 flattening must flatten: the largest class's share of the
    // mixture is strictly below its raw corpus share
    val total = rows.map(_._2).sum
    val big = rows.maxBy(_._2)
    assert(big._3 < big._2 * 1000000L / total,
      s"head class ${big._1} not flattened: ${big._3} vs raw share")
    // BOTH halves of repeat-and-trim must actually occur on this corpus
    assert(rows.exists(_._7 >= 2), "no class was upsampled (max_copies all 1)")
    assert(rows.exists(r => r._6 < r._2), "no class was trimmed")
  }

  test("lm surprisal score matches an in-memory bigram model") {
    val docs = Tables(spark, sfDir, "documents")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1).split(" ").toSeq)
      .filter(_._2.length >= 2)
    val bigrams = docs.flatMap { case (id, tk) =>
      tk.zip(tk.tail).map(b => (id, b)) }
    val counts = bigrams.groupBy(_._2).view.mapValues(_.size.toLong).toMap
    def bits(c: Long): Long = 63 - java.lang.Long.numberOfLeadingZeros(c)
    val expect = bigrams.groupBy(_._1).map { case (id, bs) =>
      val cs = bs.map(b => counts(b._2))
      id -> (cs.size.toLong, cs.map(bits).sum,
        cs.count(_ <= 2).toLong * 1000000L / cs.size)
    }
    val got = TextOps.queries("q_text_lm_score")(spark, sfDir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(got == expect)
  }

  test("substring-dedup coverage matches in-memory 5-gram accounting and flags planted dups") {
    val docs = Tables(spark, sfDir, "documents")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1).split(" ").toSeq)
      .filter(_._2.length >= 5)
    val sh = docs.flatMap { case (id, tk) =>
      tk.sliding(5).map(w => (id, w.mkString(" "))) }
    val docsPerShingle = sh.distinct.groupBy(_._2).view.mapValues(_.size).toMap
    val expect = sh.groupBy(_._1).map { case (id, ss) =>
      val nDup = ss.count(s => docsPerShingle(s._2) >= 2).toLong
      id -> (ss.size.toLong, nDup, nDup * 1000000L / ss.size)
    }
    val got = graft.operators.Dedup.queries("q_dedup_substr")(spark, sfDir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(got == expect)
    // non-triviality pin: the corpus's planted near-dups must surface as
    // covered docs (a fixture regen that zeroes this should fail loudly)
    assert(got.values.exists(_._3 >= 500000), "no doc crossed the 50% drop bar")
    assert(got.values.exists(_._3 == 0), "every doc covered — filter is degenerate")
  }

  test("holdout split: matches per-doc hash buckets, covers all splits, ~80/10/10") {
    val rows = Tables(spark, sfDir, "documents")
      .select(col("doc_id"), col("lang"),
        size(split(col("text"), " ")).cast("long").as("n_tok"),
        pmod(graft.functions.PortableHash.hash60(col("doc_id").cast("string")),
          lit(10L)).as("b"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    def splitOf(b: Long) = if (b <= 7) "train" else if (b == 8) "val" else "test"
    val expect = rows.groupBy(r => (r._2, splitOf(r._4))).map { case (k, ds) =>
      k -> (ds.length.toLong, ds.map(_._3).sum) }
    val got = TrainingPipeline.queries("q_sample_holdout")(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getString(1)) -> (r.getLong(2), r.getLong(3))).toMap
    assert(got == expect)
    val bySplit = rows.groupBy(r => splitOf(r._4)).view.mapValues(_.length).toMap
    assert(bySplit.keySet == Set("train", "val", "test"), "a split bucket is empty")
    assert(bySplit("train").toDouble / rows.length > 0.6, "train share collapsed")
  }

  test("BPE training matches a sequential reference trainer (greedy merges)") {
    // reference implementation: textbook sequential BPE on in-memory word
    // frequencies — greedy left-to-right merge application per word
    val wf = Tables(spark, sfDir, "documents").select("text").collect()
      .flatMap(_.getString(0).split(" ")).groupBy(identity)
      .view.mapValues(_.length.toLong).toMap
    var dict: Map[Vector[String], Long] =
      wf.map { case (w, f) => w.split("").toVector -> f }
    def mergeWord(syms: Vector[String], a: String, b: String): Vector[String] = {
      val out = Vector.newBuilder[String]
      var i = 0
      while (i < syms.length) {
        if (i + 1 < syms.length && syms(i) == a && syms(i + 1) == b) {
          out += (a + b); i += 2
        } else { out += syms(i); i += 1 }
      }
      out.result()
    }
    val expect = (1 to 3).map { r =>
      val pairs = scala.collection.mutable.Map.empty[(String, String), Long]
      for ((syms, f) <- dict; i <- 0 until syms.length - 1)
        pairs((syms(i), syms(i + 1))) = pairs.getOrElse((syms(i), syms(i + 1)), 0L) + f
      val ((a, b), c) = pairs.minBy { case ((x, y), n) => (-n, x, y) }
      dict = dict.groupBy { case (syms, _) => mergeWord(syms, a, b) }
        .map { case (k, vs) => k -> vs.values.sum }
      val total = dict.map { case (syms, f) => syms.length * f }.sum
      (r, a, b, c, total)
    }
    val got = TextOps.queries("q_text_bpe_train")(spark, sfDir).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3), r.getLong(4)))
      .sortBy(_._1).toSeq
    assert(got == expect)
  }

  test("length bucketing strictly beats one global batch on padding waste") {
    val rows = TextOps.queries("q_text_lenbucket")(spark, sfDir).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(rows.length == 8)
    val (nDocs, real) = (rows.map(_._2).sum, rows.map(_._4).sum)
    val padded = rows.map(_._5).sum
    val globalPadded = nDocs * rows.map(_._3).max
    assert(real == Tables(spark, sfDir, "documents")
      .select(size(split(col("text"), " ")).cast("long")).collect().map(_.getLong(0)).sum)
    assert(padded < globalPadded,
      s"bucketing must reduce padded tokens: $padded vs global $globalPadded")
    // buckets are length-ordered: max_len strictly increases
    assert(rows.sortBy(_._1).map(_._3).sliding(2).forall {
      case Array(a, b) => a <= b; case _ => true })
  }

  test("fixture pin: documents text is pure ASCII (byte==char oracles depend on it)") {
    // q_mm_audio's oracle indexes CHARACTERS while the Spark side frames
    // UTF-8 BYTES, and q_src_binary equates strlen with file size — both
    // exact only for ASCII. A regenerated non-ASCII fixture must fail
    // HERE, loudly, not as a silent oracle divergence.
    for (dir <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01")) {
      val bad = spark.read.parquet(s"$dir/documents.parquet")
        .filter(not(col("text").rlike("^[\\x00-\\x7F]*$"))).count()
      assert(bad == 0, s"$bad non-ASCII documents at $dir")
    }
  }

  test("approx_count_distinct within rsd of exact") {
    val arows = Relational.queries("q_agg_approx_distinct")(spark, sfDir).collect()
    assert(arows.forall(_.getBoolean(2)), "in-query apx_ok must hold")
    val approx = arows.map(r => r.getString(0) -> r.getLong(1)).toMap
    val exact = Tables(spark, sfDir, "lineitem")
      .groupBy("l_returnflag").agg(countDistinct("l_partkey").as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    for ((k, e) <- exact)
      assert(math.abs(approx(k) - e).toDouble / e < 0.1, s"flag $k: ${approx(k)} vs $e")
  }
}
