package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import graft.plans.{GraphOps, SkewJoin}

/** Property tests promised by SURVEY §5: BFS level structure, dedup
  * idempotence, set-op cardinalities, salted-join equivalence — over
  * ScalaCheck-generated random inputs (fixed seeds: deterministic CI).
  */
class PropertySpec extends SparkSpec {

  /** Deterministic sample stream from a Gen. */
  private def samples[A](g: Gen[A], n: Int): Seq[A] =
    (0 until n).flatMap(i => g.apply(Gen.Parameters.default, Seed(42L + i)))

  private val graphGen: Gen[Seq[(Long, Long)]] = for {
    n <- Gen.choose(2, 25)
    nEdges <- Gen.choose(1, 60)
    edges <- Gen.listOfN(nEdges, for {
      s <- Gen.choose(0L, n - 1L); d <- Gen.choose(0L, n - 1L)
    } yield (s, d))
  } yield edges

  test("HyperplaneBands: codegen and interpreted eval agree; nulls pass through") {
    import spark.implicits._
    import graft.functions.HyperplaneBands
    val vecGen: Gen[Seq[Float]] =
      Gen.listOfN(64, Gen.choose(-1.0f, 1.0f))
    val vecs = samples(vecGen, 40).map(_.toArray) :+ Array.fill(64)(0.0f)
    val df = vecs.zipWithIndex.map { case (v, i) => (i.toLong, v) }
      .toDF("id", "embedding")
    // Codegen path: normal DataFrame execution (whole-stage codegen on).
    val viaCodegen = df.select(col("id"),
        HyperplaneBands.bands(col("embedding"), 8, 3).as("b"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    // Interpreted path: nullSafeEval directly on the same data.
    val expr = HyperplaneBands(
      org.apache.spark.sql.catalyst.expressions.Literal.create(
        null, org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.FloatType)), 8, 3)
    for ((v, i) <- vecs.zipWithIndex) {
      val interp = expr.nullSafeEval(
        org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(v))
        .asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData].toIntArray()
      assert(interp.toSeq == viaCodegen(i.toLong),
        s"codegen/interpreted divergence for vector $i")
    }
    // null input → null output (posexplode upstream then drops the row)
    val withNull = Seq((0L, Array(0.1f, -0.2f)), (1L, null))
      .toDF("id", "embedding")
      .select(col("id"), HyperplaneBands.bands(col("embedding"), 4, 2).as("b"))
      .collect().map(r => r.getLong(0) -> (if (r.isNullAt(1)) null else r.getSeq[Int](1)))
      .toMap
    assert(withNull(1L) == null && withNull(0L).size == 4)
  }

  test("count-min sketch: row sums equal N across partition merges; estimates dominate exact") {
    import spark.implicits._
    import graft.functions.CountMinSketch
    val keys = samples(Gen.oneOf("a", "b", "c", "dd", "ee", "ff", "g", "hh"), 400)
    val (d, w) = (4, 16) // narrow width → collisions exercised
    val sk = keys.toDF("k").repartition(7) // multi-partition → partial-sketch merges
      .select(CountMinSketch.buckets(col("k"), d, w).as("bk"))
      .agg(CountMinSketch.sketch(col("bk"), d, w))
      .collect()(0).getSeq[Long](0)
    // every row of a merged CMS must sum to the total item count
    for (r <- 0 until d)
      assert(sk.slice(r * w, (r + 1) * w).sum == keys.size,
        s"row $r sums to ${sk.slice(r * w, (r + 1) * w).sum}, want ${keys.size}")
    // same bucket math as CountMinSketch.buckets, in plain Scala
    def h(r: Int, k: String): Int = {
      val md5 = java.security.MessageDigest.getInstance("MD5")
      val hex = md5.digest(s"cms:$r:$k".getBytes("UTF-8")).map(b => f"$b%02x").mkString
      (java.lang.Long.parseLong(hex.substring(0, 15), 16) % w).toInt
    }
    val exact = keys.groupBy(identity).view.mapValues(_.size.toLong).toMap
    for ((k, n) <- exact) {
      val est = (0 until d).map(r => sk(r * w + h(r, k))).min
      assert(est >= n, s"CMS under-counted '$k': est=$est exact=$n")
    }
  }

  test("bottom-k quantile sketch: merge == full, order-free, matches plain-Scala bottom-k") {
    import spark.implicits._
    import graft.functions.QuantileSketch
    // adversarial values: heavy duplicates, negatives, a huge outlier
    val vals = samples(Gen.oneOf(-5L, 0L, 0L, 7L, 7L, 7L, 42L, 1000000007L), 300)
    val rows = vals.zipWithIndex.map { case (v, i) => (i.toLong, v) }
    val k = 16 // << n → eviction path exercised
    def sample(df: org.apache.spark.sql.DataFrame): Seq[Seq[Long]] =
      df.select(QuantileSketch.pair(col("uid"), col("v")).as("hv"))
        .agg(QuantileSketch.sketch(col("hv"), k))
        .collect()(0).getSeq[scala.collection.Seq[Long]](0).map(_.toSeq.toList)
    val full = sample(rows.toDF("uid", "v").repartition(7))
    // order independence: reversed input, different partitioning
    val rev = sample(rows.reverse.toDF("uid", "v").repartition(3))
    assert(full == rev, "sketch must be a pure function of the input multiset")
    // closure: re-sketching the union of two partial samples == full
    val (a, b) = rows.partition(_._1 % 2 == 0)
    val partials = (sample(a.toDF("uid", "v")) ++ sample(b.toDF("uid", "v")))
      .map { case Seq(h, v) => (h, v) }
    val remerged = partials.toDF("h", "v")
      .select(array(col("h"), col("v")).as("hv"))
      .agg(QuantileSketch.sketch(col("hv"), k))
      .collect()(0).getSeq[scala.collection.Seq[Long]](0).map(_.toSeq.toList)
    assert(remerged == full, "KMV closure: bottom-k of partial unions must equal full")
    // plain-Scala reference: same portable hash, same (h, v) order
    def h60(uid: Long): Long = {
      val md5 = java.security.MessageDigest.getInstance("MD5")
      val hex = md5.digest(s"qsk:$uid".getBytes("UTF-8")).map(b => f"$b%02x").mkString
      java.lang.Long.parseLong(hex.substring(0, 15), 16)
    }
    val expect = rows.map { case (uid, v) => Seq(h60(uid), v) }
      .sortBy { case Seq(h, v) => (h, v) }.take(k)
    assert(full == expect, "sketch sample must equal the exact bottom-k by portable hash")
  }

  test("BFS property: every edge between reachable vertices spans <= 1 level") {
    import spark.implicits._
    for (edges <- samples(graphGen, 8)) {
      val lv = GraphOps.bfsLevels(spark, edges.toDF("src", "dst"), 0L)
        .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
      assert(lv(0L) == 0)
      for ((u, v) <- edges if lv.contains(u)) {
        assert(lv.contains(v) && lv(v) <= lv(u) + 1,
          s"edge ($u->$v) violates level structure in $edges: $lv")
      }
      val max = lv.values.max
      assert((0 to max).forall(l => lv.values.exists(_ == l)), "levels contiguous")
    }
  }

  test("coloring property: driver gate == forced BSP, rows with multiplicity") {
    import spark.implicits._
    // random graphs with duplicate edges, both directions of some, self-
    // loops, and a hub whose degree passes the old 63-color ceiling
    val gen = for {
      es <- graphGen
      hub <- Gen.choose(0L, 24L)
      spokes <- Gen.choose(64, 90)
      loops <- Gen.listOfN(3, Gen.choose(0L, 24L))
    } yield es ++ es.take(5).map(_.swap) ++ es.take(3) ++ loops.map(v => (v, v)) ++
      (1 to spokes).map(i => (hub, 100L + i))
    val ops = Seq[(String, (org.apache.spark.sql.DataFrame, Long) => org.apache.spark.sql.DataFrame)](
      "maximalIndependentSet" -> ((e, limit) =>
        GraphOps.maximalIndependentSet(spark, e, driverSolveLimit = limit)),
      "jonesPlassmannColoring" -> ((e, limit) =>
        GraphOps.jonesPlassmannColoring(spark, e, driverSolveLimit = limit)),
      "speculativeColoring" -> ((e, limit) =>
        GraphOps.speculativeColoring(spark, e, driverSolveLimit = limit)))
    for ((edges, i) <- samples(gen, 6).zipWithIndex; (op, run) <- ops) {
      // whole rows, every column, with multiplicity
      def rows(limit: Long) = run(edges.toDF("src", "dst"), limit).collect()
        .map(_.toSeq).toSeq.sortBy(_.mkString(","))
      val gate = rows(GraphOps.DriverSolveEdgeLimit)
      assert(gate.nonEmpty && gate == rows(0L), s"$op, sample $i: gate and BSP rows differ")
    }
  }

  test("incremental maintenance == full recompute on random graph/delta splits") {
    import spark.implicits._
    // the whole-family property: for a random graph randomly split into
    // (base, delta-inserts), maintenance from the base state must equal
    // the full recompute on the union — for CC (symmetrized), BFS levels,
    // and the triangle counter. This generalizes the hand-picked fixture
    // cases in GraphSpec to arbitrary cascade shapes.
    val splitGen = for {
      edges <- graphGen
      mask <- Gen.listOfN(edges.length, Gen.prob(0.7))
    } yield (edges, mask)
    for (((edges, mask), i) <- samples(splitGen, 6).zipWithIndex) {
      val base = edges.zip(mask).collect { case (e, true) => e }
      val delta = edges.zip(mask).collect { case (e, false) => e }
      if (delta.nonEmpty) {
        val all = edges.toDF("src", "dst")
        val deltaDf = delta.toDF("src", "dst")
        // CC over the symmetrized split
        def sym(e: Seq[(Long, Long)]) = (e ++ e.map(_.swap)).toDF("src", "dst")
        if (base.nonEmpty) {
          val prevCc = GraphOps.connectedComponents(spark, sym(base))
          val inc = GraphOps.incrementalConnectedComponents(spark, prevCc, sym(delta))
            .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
          val full = GraphOps.connectedComponents(spark, sym(edges))
            .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
          assert(inc == full, s"CC sample $i: $base + $delta")
        }
        // BFS levels from 0 (directed)
        val prevLv = GraphOps.bfsLevels(spark, base.toDF("src", "dst"), 0L)
        val incLv = GraphOps.incrementalBfsLevels(spark, all, prevLv, deltaDf)
          .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
        val fullLv = GraphOps.bfsLevels(spark, all, 0L)
          .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
        assert(incLv == fullLv, s"BFS sample $i: $base + $delta")
        // weighted SSSP from 0 (deterministic 1..5 weights)
        def w(e: Seq[(Long, Long)]) =
          e.map { case (s, d) => (s, d, 1L + (s + d) % 5) }.toDF("src", "dst", "w")
        val prevD = GraphOps.sssp(spark, w(base), 0L)
        val incD = GraphOps.incrementalSssp(spark, w(edges), prevD, w(delta))
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        val fullD = GraphOps.sssp(spark, w(edges), 0L)
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        assert(incD == fullD, s"SSSP sample $i: $base + $delta")
        // DAG layers over the src<dst orientation (always acyclic)
        val dagAll = edges.filter(p => p._1 < p._2).distinct
        val dagBase = base.filter(p => p._1 < p._2).distinct
        val dagDelta = dagAll.diff(dagBase)
        if (dagAll.nonEmpty && dagDelta.nonEmpty) {
          val prevL = GraphOps.dagLayers(spark, dagBase.toDF("src", "dst"))
          val incL = GraphOps.incrementalDagLayers(spark,
              dagAll.toDF("src", "dst"), prevL, dagDelta.toDF("src", "dst"))
            .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
          val fullL = GraphOps.dagLayers(spark, dagAll.toDF("src", "dst"))
            .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
          assert(incL == fullL, s"DAG sample $i: $dagBase + $dagDelta")
        }
        // MIS membership (the symmetry-breaking family member): the
        // cone-scoped replay must equal the full min-priority fixpoint
        if (base.nonEmpty) {
          val prevMis = GraphOps.maximalIndependentSet(spark, base.toDF("src", "dst"))
          val incM = GraphOps.incrementalMaximalIndependentSet(spark, all,
              base.toDF("src", "dst"), prevMis, deltaDf)
            .collect().map(_.getLong(0)).toSet
          val fullM = GraphOps.maximalIndependentSet(spark, all)
            .collect().map(_.getLong(0)).toSet
          assert(incM == fullM, s"MIS sample $i: $base + $delta")
          // coloring twin over the same cone
          val prevCol = GraphOps.jonesPlassmannColoring(spark, base.toDF("src", "dst"))
          val incC = GraphOps.incrementalColoring(spark, all,
              base.toDF("src", "dst"), prevCol, deltaDf)
            .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
          val fullC = GraphOps.jonesPlassmannColoring(spark, all)
            .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
          assert(incC == fullC, s"coloring sample $i: $base + $delta")
        }
        // triangle counter over the canonical undirected sets
        def canon(e: Seq[(Long, Long)]) = e.filter(p => p._1 != p._2)
          .map(p => (math.min(p._1, p._2), math.max(p._1, p._2))).distinct
        val undPrev = canon(base)
        val undFull = canon(edges)
        val inserted = undFull.diff(undPrev)
        if (inserted.nonEmpty && undFull.nonEmpty) {
          def tris(und: Seq[(Long, Long)]): Set[(Long, Long, Long)] = {
            val es = und.toSet
            (for {
              (a, b) <- und; (c, d) <- und if c == b
              if es.contains((a, d)) || es.contains((d, a))
            } yield (a, b, d)).toSet
          }
          val deltaTris = GraphOps.triangleDelta(
              undFull.toDF("a", "b"), inserted.toDF("a", "b"))
            .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
          assert(tris(undPrev).size + deltaTris.size == tris(undFull).size,
            s"triangles sample $i: prev=${tris(undPrev)} delta=$deltaTris full=${tris(undFull)}")
        }
      }
    }
  }

  test("degeneracy/forest maintainers == full recompute on random two-sided diffs") {
    import spark.implicits._
    // The r12 hardening for the bug class the ktruss Kahn fix exposed:
    // hand-built fixtures masked an eviction-order defect because their
    // cascades collapsed whole blocks. Random graphs with random
    // TWO-SIDED diffs (independent 0.8-keep masks for v1 and v2 ⇒ both
    // inserts and deletes in one diff) exercise arbitrary seed
    // adjacency: the maintainers must equal the full recompute of v2 on
    // the gated driver path, and on one sample per family the forced
    // BSP path too.
    val splitGen = for {
      edges <- graphGen
      m1 <- Gen.listOfN(edges.length, Gen.prob(0.8))
      m2 <- Gen.listOfN(edges.length, Gen.prob(0.8))
    } yield (edges, m1, m2)
    def canon(e: Seq[(Long, Long)]) = e.filter(p => p._1 != p._2)
      .map(p => (math.min(p._1, p._2), math.max(p._1, p._2))).distinct
    for (((edges, m1, m2), i) <- samples(splitGen, 5).zipWithIndex) {
      val v1 = edges.zip(m1).collect { case (e, true) => e }
      val v2 = edges.zip(m2).collect { case (e, true) => e }
      val u1 = canon(v1); val u2 = canon(v2)
      if (u1.nonEmpty && u2.nonEmpty && u1 != u2) {
        val bsp = i == 0 // forced-BSP once per family (wave loops are slow)
        def gates = if (bsp) Seq(Long.MaxValue, 0L) else Seq(Long.MaxValue)
        // k-core (k=3): maintainer vs converged peel of v2
        val prevCore = GraphOps.kcorePeel(spark, v1.toDF("src", "dst"), 3, 20)
        val fullCore = GraphOps.kcorePeel(spark, v2.toDF("src", "dst"), 3, 20)
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        for (g <- gates) {
          val inc = GraphOps.incrementalKCore(spark, v1.toDF("src", "dst"),
              v2.toDF("src", "dst"), prevCore, 3, driverSolveLimit = g)
            .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
          assert(inc == fullCore, s"kcore sample $i gate=$g: v1=$u1 v2=$u2")
        }
        // k-truss (k=4): edge-granular maintainer vs converged peel
        val prevTruss = GraphOps.ktrussPeel(spark, u1.toDF("a", "b"), 4, 20)
        val fullTruss = GraphOps.ktrussPeel(spark, u2.toDF("a", "b"), 4, 20)
          .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
        for (g <- gates) {
          val inc = GraphOps.incrementalKTruss(spark, u1.toDF("a", "b"),
              u2.toDF("a", "b"), prevTruss, 4, driverSolveLimit = g)
            .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
          assert(inc == fullTruss, s"ktruss sample $i gate=$g: v1=$u1 v2=$u2")
        }
        // MSF (deterministic (a*3+b)%7+1 weights): maintainer vs
        // converged Borůvka of v2 (the unique lexicographic forest)
        def wdf(e: Seq[(Long, Long)]) =
          e.map { case (a, b) => (a, b, 1L + (a * 3 + b) % 7) }.toDF("a", "b", "w")
        val insU = u2.diff(u1); val delU = u1.diff(u2)
        val prevF = GraphOps.boruvka(spark, wdf(u1), 10)._2.select("a", "b", "w")
        val fullF = GraphOps.boruvka(spark, wdf(u2), 10)._2.select("a", "b", "w")
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
        for (g <- gates) {
          val inc = GraphOps.incrementalMsf(spark, wdf(u2), prevF,
              wdf(insU), wdf(delU), driverSolveLimit = g)
            .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
          assert(inc == fullF, s"msf sample $i gate=$g: v1=$u1 v2=$u2")
        }
        // the traversal delete twins over the directed diff: BFS levels
        // from 0, SSSP with weights 1 + (s + d) % 5, DAG layers over the
        // src < dst orientation — each vs the full recompute of v2
        def ssspW(e: Seq[(Long, Long)]) =
          e.map { case (s, d) => (s, d, 1L + (s + d) % 5) }.toDF("src", "dst", "w")
        def twoSided(orient: Seq[(Long, Long)] => Seq[(Long, Long)],
            frame: Seq[(Long, Long)] => org.apache.spark.sql.DataFrame) = {
          val (d1, d2) = (orient(v1).distinct, orient(v2).distinct)
          (frame(d1), frame(d2), frame(d2.diff(d1)), frame(d1.diff(d2)))
        }
        def labels(df: org.apache.spark.sql.DataFrame) =
          df.collect().map(r => r.getLong(0) -> r.get(1)).toMap
        val plain = (e: Seq[(Long, Long)]) => e.toDF("src", "dst")
        val (b1, b2, bIns, bDel) = twoSided(identity, plain)
        val (s1, s2, sIns, sDel) = twoSided(identity, ssspW)
        val (d1, d2, dIns, dDel) = twoSided(_.filter(p => p._1 < p._2), plain)
        val prevLv = GraphOps.bfsLevels(spark, b1, 0L)
        val fullLv = labels(GraphOps.bfsLevels(spark, b2, 0L))
        val prevD = GraphOps.sssp(spark, s1, 0L)
        val fullD = labels(GraphOps.sssp(spark, s2, 0L))
        val prevL = GraphOps.dagLayers(spark, d1)
        val fullL = labels(GraphOps.dagLayers(spark, d2))
        for (g <- gates) {
          val lv = labels(GraphOps.incrementalBfsLevelsDelete(spark, b2, prevLv,
            bIns, bDel, cascadeDriverLimit = g))
          assert(lv == fullLv, s"BFS-delete sample $i gate=$g: v1=$v1 v2=$v2")
          val d = labels(GraphOps.incrementalSsspDelete(spark, s2, prevD,
            sIns, sDel, cascadeDriverLimit = g))
          assert(d == fullD, s"SSSP-delete sample $i gate=$g: v1=$v1 v2=$v2")
          val l = labels(GraphOps.incrementalDagLayersDelete(spark, d2, prevL,
            dIns, dDel, cascadeDriverLimit = g))
          assert(l == fullL, s"DAG-delete sample $i gate=$g: v1=$v1 v2=$v2")
        }
      }
    }
  }

  test("adjacency format round-trip: codec format → V2 parse == edge set (random graphs)") {
    // ties the driver-side writer grammar to the DSv2 reader grammar on
    // random matrices — the two parsers must never drift
    for (edges <- samples(graphGen, 30)) {
      val n = (edges.flatMap(e => Seq(e._1, e._2)).max + 1).toInt
      val body = graft.sources.AdjacencyCodec.format(edges, n)
      val parsed = graft.sources.AdjacencyV2.parseEdges(body).toSet
      assert(parsed == edges.toSet, s"n=$n")
    }
  }

  test("dedup idempotence: dropDuplicates twice == once") {
    val docs = Tables(spark, sfDir, "documents")
    // localCheckpoint severs the plan: exceptAll(X, dropDuplicates(X)) on a
    // shared lazy plan hits Spark's attribute-binding internal error
    val once = docs.dropDuplicates("lang", "source").localCheckpoint(true)
    val twice = once.dropDuplicates("lang", "source")
    assert(once.count() == twice.count())
    assert(once.exceptAll(twice).isEmpty)
  }

  test("prefix-filter exact join equals brute force on adversarial random corpora") {
    // Guards the r13 PPJoin exactness chain (prefix + length + positional
    // filters AND the ceil(t·n − ε) arithmetic) where it is weakest:
    // tiny vocabularies (every shingle collides), short docs (prefix
    // length 1), duplicate docs (J = 1 ties), and thresholds whose t·n
    // lands on/near integers. Brute force is computed in memory.
    import spark.implicits._
    import graft.operators.Dedup
    val vocab = Vector("a", "b", "c", "d", "e", "f", "g", "h")
    val docGen: Gen[String] = for {
      len <- Gen.choose(2, 12)
      toks <- Gen.listOfN(len, Gen.oneOf(vocab))
    } yield toks.mkString(" ")
    val corpusGen: Gen[Seq[String]] = for {
      n <- Gen.choose(4, 18)
      docs <- Gen.listOfN(n, docGen)
      dupFrom <- Gen.choose(0, math.max(0, n - 1))
    } yield docs :+ docs(dupFrom) // always plant one exact duplicate
    def bigrams(t: String): Set[String] = {
      val tk = t.split(" ")
      tk.zip(tk.drop(1)).map { case (a, b) => s"$a $b" }.toSet
    }
    for ((docs, ci) <- samples(corpusGen, 6).zipWithIndex;
         t <- Seq(0.5, 0.75, 0.85, 1.0)) {
      val df = docs.zipWithIndex
        .map { case (txt, i) => (i.toLong, txt) }.toDF("doc_id", "text")
      val got = Dedup.jaccardPairs(Dedup.shingles(df), t)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val sets = docs.map(bigrams)
      val want = (for {
        a <- sets.indices; b <- sets.indices if a < b
        sa = sets(a); sb = sets(b) if sa.nonEmpty && sb.nonEmpty
        j = sa.intersect(sb).size.toDouble / sa.union(sb).size if j >= t
      } yield (a.toLong, b.toLong)).toSet
      assert(got == want, s"corpus $ci t=$t: got ${got.size}, want ${want.size}")
    }
  }

  test("set-op cardinalities: |A| = |A intersectAll B| + |A exceptAll B|") {
    import spark.implicits._
    val listGen = Gen.listOf(Gen.choose(0, 20))
    for ((xs, ys) <- samples(listGen, 6).zip(samples(listGen, 6).reverse)
         if xs.nonEmpty || ys.nonEmpty) {
      val a = xs.toDF("x"); val b = ys.toDF("x")
      val inter = a.intersectAll(b).count()
      val diff = a.exceptAll(b).count()
      assert(inter + diff == xs.size.toLong, s"xs=$xs ys=$ys")
    }
  }

  test("salted join equals plain join for random salt counts") {
    import spark.implicits._
    for (salts <- samples(Gen.choose(1, 12), 4)) {
      val probe = spark.range(500).select((col("id") % 13).as("k"), col("id").as("p"))
      val build = spark.range(13).select(col("id").as("k"), (col("id") + 100).as("d"))
      val plain = probe.join(build, "k").agg(sum("p"), sum("d"), count(lit(1))).collect()(0)
      val salted = SkewJoin.saltedJoin(probe, build, "k", salts)
        .agg(sum("p"), sum("d"), count(lit(1))).collect()(0)
      assert(plain == salted, s"salts=$salts")
    }
  }

  test("BlockFuzzyJoin rewrite equals brute force on random string sets and bounds") {
    import spark.implicits._
    graft.plans.GraftRules.install(spark)
    val wordGen = for {
      len <- Gen.choose(0, 6)
      cs <- Gen.listOfN(len, Gen.oneOf('a', 'b', 'c'))
    } yield cs.mkString
    for (k <- 0 to 3) {
      val words = samples(wordGen, 40).distinct
      val a = words.toDF("x")
      val b = words.toDF("y")
      val joined = a.join(b, levenshtein(col("x"), col("y")) <= k)
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
        s"k=$k should rewrite to a banded equi join:\n$plan")
      val got = joined.collect().map(r => (r.getString(0), r.getString(1))).toSet
      val brute = (for { x <- words; y <- words if TestLev.lev(x, y) <= k }
        yield (x, y)).toSet
      assert(got == brute, s"k=$k: rewrite must be loss-free and exact")
    }
  }

  test("Morton interleave is a bijection on random 8-bit pairs") {
    import spark.implicits._
    val pairGen = for {
      x <- Gen.choose(0L, 255L); y <- Gen.choose(0L, 255L)
    } yield (x, y)
    val pairs = samples(pairGen, 200).distinct
    val df = pairs.toDF("xq", "yq")
    val z = (0 until 8).map { i =>
      shiftleft(shiftright(col("xq"), i).bitwiseAND(1), 2 * i) +
        shiftleft(shiftright(col("yq"), i).bitwiseAND(1), 2 * i + 1)
    }.reduce(_ + _)
    val got = df.select(col("xq"), col("yq"), z.as("zv"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // reference interleave in plain Scala; injective over the sample
    def ref(x: Long, y: Long): Long =
      (0 until 8).map(i => (((x >> i) & 1) << (2 * i)) | (((y >> i) & 1) << (2 * i + 1))).sum
    got.foreach { case (x, y, zv) => assert(zv == ref(x, y), s"($x,$y)") }
    assert(got.map(_._3).distinct.length == pairs.length, "interleave must be injective")
  }

  test("snapshot diff partitions the key universe (counts are complete and disjoint)") {
    // empty classes are omitted from the output (both engines) — default
    // them to 0 so a sparser fixture fails the asserts, not Map.apply
    val rows = SparkEntry.queries("q_snapshot_diff")(spark, sfDir)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      .withDefaultValue(0L)
    val keys = Tables(spark, sfDir, "orders").select("o_orderkey")
      .collect().map(_.getLong(0))
    val nA = keys.count(_ % 4 != 0); val nB = keys.count(_ % 4 != 1)
    assert(rows("insert") == keys.count(_ % 4 == 0))
    assert(rows("delete") == keys.count(_ % 4 == 1))
    assert(rows("update") == keys.count(k => k % 4 != 0 && k % 4 != 1 && k % 10 == 2))
    // every key of A ∪ B is classified exactly once
    assert(rows.values.sum == keys.length)
    assert(rows("delete") + rows("update") + rows("unchanged") == nA)
    assert(rows("insert") + rows("update") + rows("unchanged") == nB)
  }

  test("SCD2 history chains: versions contiguous, intervals abut, one open version per user") {
    val rows = SparkEntry.queries("q_scd2")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getInt(1),
        r.getTimestamp(3), r.getTimestamp(4), r.getBoolean(5)))
    rows.groupBy(_._1).foreach { case (user, hist) =>
      val sorted = hist.sortBy(_._2).toSeq
      assert(sorted.map(_._2).toSeq == (1 to sorted.length), s"user $user versions")
      sorted.sliding(2).foreach {
        case Seq(a, b) => assert(a._4 == b._3, s"user $user: intervals must abut")
        case _ =>
      }
      assert(sorted.count(_._5) == 1 && sorted.last._5, s"user $user current flag")
    }
  }

  test("driver contract: entry() flagship returns rows on sf0.001") {
    val rows = SparkEntry.entry(spark).collect()
    assert(rows.length == 6) // one per (returnflag, linestatus)
    assert(SparkEntry.oracleSql.keySet.subsetOf(SparkEntry.queries.keySet))
  }

  test("format round-trip: csv and json sinks preserve data (B2)") {
    val src = Tables(spark, sfDir, "orders")
      .select("o_orderkey", "o_orderstatus", "o_totalprice").limit(200)
    for (fmt <- Seq("csv", "json")) {
      val dir = s"/tmp/graft-roundtrip-$fmt"
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
      src.write.format(fmt).option("header", "true").mode("overwrite").save(dir)
      val back = spark.read.format(fmt).option("header", "true")
        .schema(src.schema).load(dir)
      assert(back.count() == 200, fmt)
      assert(src.exceptAll(back).isEmpty && back.exceptAll(src).isEmpty, fmt)
    }
  }
}
