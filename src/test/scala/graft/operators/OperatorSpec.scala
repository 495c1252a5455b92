package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.api.Tables

/** Pins the operators whose queries get only the driver's rows-only check
  * (approximate ANN, stub decode) and cross-checks the approximate dedup
  * paths against their exact counterparts.
  */
class OperatorSpec extends AnyFunSuite {
  lazy val spark = graft.SparkTestBase.spark
  import spark.implicits._

  val dir = "/root/testdata/sf0.001"
  lazy val docs = Tables.load(spark, dir, "documents").cache()
  lazy val emb = Tables.load(spark, dir, "embeddings").cache()

  test("compressibility: sane bounds and repetition-monotonic") {
    val fix = Seq(
      (1L, ("ab " * 500).trim),                            // highly repetitive
      (2L, (0 until 500).map(i => s"w${i * 7919}").mkString(" ")), // diverse
      (3L, "")                                             // empty guard
    ).toDF("doc_id", "text")
    val rows = TextAnalysis.compressibility(fix, "doc_id", "text")
      .orderBy("doc_id")
      .select("doc_id", "raw_len", "deflate_len", "compress_permille")
      .as[(Long, Long, Long, Long)].collect()
    val byId = rows.map(r => r._1 -> r).toMap
    // deflate output is nonempty and bounded by raw + small header slack
    rows.filter(_._1 != 3L).foreach { case (_, raw, defl, pm) =>
      assert(defl > 0 && defl <= raw + 64)
      assert(pm == defl * 1000 / raw)
    }
    // boilerplate compresses far better than diverse text
    assert(byId(1L)._4 < byId(2L)._4 / 2,
      s"repetitive ${byId(1L)._4} vs diverse ${byId(2L)._4}")
    assert(byId(3L)._4 == 0L) // empty doc: defined, not a crash
    // partition-invariant (one Deflater per task, reset per row)
    val repartitioned = TextAnalysis.compressibility(
      fix.repartition(3), "doc_id", "text")
      .select("doc_id", "deflate_len").as[(Long, Long)].collect().toMap
    assert(rows.map(r => r._1 -> r._3).toMap == repartitioned)
  }

  test("corpusOverlap: minhash estimate tracks exact Jaccard in BOTH hash families") {
    def jac(r: org.apache.spark.sql.Row): Double = {
      val common = r.getAs[Long]("n_common").toDouble
      common / (r.getAs[Long]("n_sh_a") + r.getAs[Long]("n_sh_b") - common)
    }
    val exact = Dedup.corpusOverlap(docs, "lang", "text",
        base = Dedup.Hashers.md5Base, verifyExact = true)
      .collect().map(r => ((r.getString(0), r.getString(1)),
        (jac(r), r.getAs[Long]("n_matches").toDouble / r.getAs[Long]("n_hashes"))))
      .toMap
    assert(exact.nonEmpty)
    // 128 hashes ⇒ estimator std ≈ √(J(1−J)/128) ≤ 0.045; 0.15 is > 3σ.
    exact.values.foreach { case (j, est) =>
      assert(math.abs(j - est) <= 0.15, s"md5 estimate $est vs exact $j") }
    // The production xx64 family is an independent estimator of the SAME
    // exact overlap — agreement with exact pins it without an oracle.
    val fast = Dedup.corpusOverlap(docs, "lang", "text",
        base = Dedup.Hashers.xx64Base, verifyExact = false)
      .collect().map(r => ((r.getString(0), r.getString(1)),
        r.getAs[Long]("n_matches").toDouble / r.getAs[Long]("n_hashes"))).toMap
    assert(fast.keySet == exact.keySet)
    fast.foreach { case (k, est) =>
      assert(math.abs(exact(k)._1 - est) <= 0.15, s"xx64 estimate $est vs exact ${exact(k)._1}") }
  }

  test("corpusOverlap: a group too short to shingle still rows out, marked unmeasured") {
    val fix = Seq(
      (1L, "alpha beta gamma delta epsilon", "g1"),
      (2L, "alpha beta gamma other words", "g2"),
      (3L, "xy", "g3") // < 3 words: no shingles at all
    ).toDF("doc_id", "text", "src")
    val out = Dedup.corpusOverlap(fix, "src", "text", verifyExact = true)
      .collect().map(r => ((r.getString(0), r.getString(1)),
        (r.getAs[Long]("n_matches"), r.getAs[Long]("n_sh_a"),
         r.getAs[Long]("n_sh_b"), r.getAs[Long]("n_common")))).toMap
    // all 3 pairs present — g3 did NOT vanish from the matrix
    assert(out.keySet == Set(("g1", "g2"), ("g1", "g3"), ("g2", "g3")))
    // g3's pairs are visibly unmeasured (n_sh = 0), not "zero overlap"
    assert(out(("g1", "g3")) == ((0L, 3L, 0L, 0L)))
    assert(out(("g2", "g3")) == ((0L, 3L, 0L, 0L)))
    // and the measured pair genuinely overlaps
    assert(out(("g1", "g2"))._4 > 0L)
  }

  test("dominantDirectionReport: collinear fixture recovers the exact direction") {
    // all vectors on the line y = 2x: covariance M ∝ [[1,2],[2,4]],
    // power iteration fixes at v = (500000, 1000000). Projections are
    // exact lattice dots — note float −0.1f quantizes to −100001
    // (floor of −100000.0015), so label 2's projection is
    // −100001·5e5 − 200001·1e6 = −250001500000, not a rounded −2.5e11
    val fix = Seq(
      (1, Seq(0.1f, 0.2f)), (1, Seq(0.2f, 0.4f)), (2, Seq(-0.1f, -0.2f))
    ).toDF("label", "embedding")
    val got = Embeddings.dominantDirectionReport(fix, "embedding", "label")
      .orderBy("label")
      .as[(Int, Long, Long, Long)].collect().toSeq
    assert(got === Seq(
      (1, 2L, 750000000000L, 750000000000L),
      (2, 1L, -250001500000L, 250001500000L)))
  }

  test("SecondMomentAgg: partition-order-free, merge-exact, and 128-bit " +
      "past a single long slot") {
    // Overflow fixture: constant vectors of 9e7 (inside the |q| <= 2^26.5
    // exact-product bound) make every qq slot accumulate 8.1e15/row —
    // Long overflows a slot after ~1139 rows; 3000 rows forces the
    // 128-bit carry path in BOTH reduce and merge (12 shuffled
    // partitions). The expected totals are trivial BigInt products.
    val dim = 2
    val n = 3000
    val q = 9e7
    import spark.implicits._
    val rows = (0 until n).map(i => (i.toLong, Seq(q, q)))
    for (parts <- Seq(1, 12)) {
      val df = rows.toDF("id", "qv").repartition(parts)
      val agg = org.apache.spark.sql.functions.udaf(
        new Embeddings.SecondMomentAgg(dim),
        org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Double]]())
      val packed = df.agg(agg(col("qv")))
        .head().getAs[scala.collection.Seq[Long]](0).toIndexedSeq
      import Embeddings.SecondMomentAgg.{slotValue, triSlot}
      val tri = dim * (dim + 1) / 2
      val prod = BigInt(n) * BigInt(q.toLong) * BigInt(q.toLong)
      assert(prod > BigInt(Long.MaxValue), "fixture must overflow a long")
      for (i <- 0 until dim; j <- i until dim)
        assert(slotValue(packed, triSlot(dim, i, j)) == prod,
          s"qq($i,$j) at $parts partitions")
      for (i <- 0 until dim)
        assert(slotValue(packed, tri + i) == BigInt(n) * BigInt(q.toLong))
      assert(slotValue(packed, tri + dim) == BigInt(n))
    }
  }

  test("SecondMomentAgg: negative values sign-extend through the 128-bit " +
      "carry, and out-of-range magnitudes fail loudly") {
    import spark.implicits._
    val dim = 1
    val agg = org.apache.spark.sql.functions.udaf(
      new Embeddings.SecondMomentAgg(dim),
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Double]]())
    // alternating +/-9e7 over an odd count: qq slot overflows positive
    // (products are all +8.1e15) while the linear slot stays one -9e7
    val n = 3001
    val vals = (0 until n).map(i => (i.toLong,
      Seq(if (i % 2 == 0) -9e7 else 9e7)))
    val packed = vals.toDF("id", "qv").repartition(7)
      .agg(agg(col("qv"))).head().getAs[scala.collection.Seq[Long]](0)
      .toIndexedSeq
    import Embeddings.SecondMomentAgg.slotValue
    assert(slotValue(packed, 0) == BigInt(n) * BigInt(9e7.toLong) * BigInt(9e7.toLong))
    assert(slotValue(packed, 1) == BigInt(-9e7.toLong)) // 1501 neg, 1500 pos
    assert(slotValue(packed, 2) == BigInt(n))
    val tooBig = Seq((1L, Seq(1e8))).toDF("id", "qv")
    val e = intercept[org.apache.spark.SparkException] {
      tooBig.agg(agg(col("qv"))).head()
    }
    assert(e.getMessage != null)
    // fractional value INSIDE the magnitude bound: its pairwise product
    // would silently truncate under .toLong — the integer-lattice
    // contract must fail loudly, not round
    val fractional = Seq((1L, Seq(0.5))).toDF("id", "qv")
    val e2 = intercept[org.apache.spark.SparkException] {
      fractional.agg(agg(col("qv"))).head()
    }
    assert(e2.getMessage.contains("integer"), e2.getMessage)
  }

  test("calibrationEval: perfect predictor skill=1000, inverted predictor negative") {
    val perfect = Seq((1000L, 1L), (1000L, 1L), (0L, 0L), (0L, 0L))
      .toDF("p", "y")
    val g1 = Calibration.calibrationEval(perfect, "p", "y")
      .as[(Long, Long, Long, Long, Long, Option[Long])].head()
    assert(g1 === ((4L, 2L, 500L, 0L, 1000000L, Some(1000L))))
    val inverted = Seq((0L, 1L), (1000L, 0L)).toDF("p", "y")
    val g2 = Calibration.calibrationEval(inverted, "p", "y")
      .as[(Long, Long, Long, Long, Long, Option[Long])].head()
    assert(g2 === ((2L, 1L, 500L, 2000000L, 500000L, Some(-3000L))))
  }

  test("aucEval: perfect=1e6, inverted=0, ties and mixed pairs at midrank") {
    def auc(rows: Seq[(Long, Long)]): Option[Long] =
      Calibration.aucEval(rows.toDF("s", "y"), "s", "y")
        .select("auc_e6").as[Option[Long]].head()
    assert(auc(Seq((10L, 1L), (20L, 1L), (1L, 0L), (2L, 0L))) === Some(1000000L))
    assert(auc(Seq((1L, 1L), (2L, 1L), (10L, 0L), (20L, 0L))) === Some(0L))
    assert(auc(Seq((5L, 1L), (5L, 0L), (5L, 1L))) === Some(500000L)) // all tied
    // pairs (1,2)=loss, (3,2)=win → AUC = 1/2
    assert(auc(Seq((1L, 1L), (2L, 0L), (3L, 1L))) === Some(500000L))
    assert(auc(Seq((1L, 1L), (2L, 1L))) === None) // one-class: undefined
  }

  test("aucEval fails loudly past the distinct-score cardinality bound") {
    // the rank window runs one partition bounded by DISTINCT scores; raw
    // high-cardinality scores must be rejected with the fix in the
    // message, never silently single-partition-sorted
    val raw = Seq((101L, 1L), (202L, 0L), (303L, 1L), (404L, 0L))
      .toDF("s", "y")
    val e = intercept[IllegalArgumentException] {
      Calibration.aucEval(raw, "s", "y", maxDistinctScores = 2L)
    }
    assert(e.getMessage.contains("bucketize"))
    // quantized scores under the bound still evaluate
    assert(Calibration.aucEval(raw, "s", "y", maxDistinctScores = 16L)
      .select("auc_e6").as[Option[Long]].head().isDefined)
  }

  test("cellCohesionReport: member counts match the cell assignment exactly") {
    val rep = Dedup.cellCohesionReport(emb, "vec_id", "embedding", 16)
      .select("cell", "n_members").as[(Long, Long)].collect().toMap
    val assign = Dedup.semanticCells(emb, "vec_id", "embedding", 16)
      .groupBy("cell").agg(count(lit(1)).as("n"))
      .as[(Long, Long)].collect().toMap
    assert(rep === assign)
    assert(rep.values.sum === emb.count())
  }

  test("tClosenessAudit: skewed groups flag, global-matching group passes") {
    // global mix is 50/50 x/y; groups a (all x) and c (all y) sit at
    // TV = 1/2 = 500 permille, group b matches the global exactly
    val fix = Seq(("a", "x"), ("a", "x"), ("b", "x"), ("b", "y"),
      ("c", "y"), ("c", "y")).toDF("g", "s")
    val got = Curation.tClosenessAudit(fix, Seq("g"), "s", tPermille = 300)
      .orderBy("g").as[(String, Long, Long, Boolean)].collect().toSeq
    assert(got === Seq(
      ("a", 2L, 500L, true),
      ("b", 2L, 0L, false),
      ("c", 2L, 500L, true)))
  }

  test("residualQuantize: stage 2 recovers >=10x of stage 1's error") {
    val got = Embeddings.residualQuantize(emb, "vec_id", "embedding")
      .select("err1_scaled", "err2_scaled", "reduction_permille")
      .as[(Long, Long, Option[Long])].collect().toSeq
    assert(got.nonEmpty)
    got.foreach { case (e1, e2, red) =>
      assert(e1 > 0 && red.isDefined)
      // same lattice: stage-2 residual error vs stage-1 error × 255
      assert(e2 < e1 * 255, s"stage 2 made it worse: $e1 vs $e2")
      assert(red.get < 100, s"reduction only ${red.get} permille")
    }
  }

  test("span corruption: row-local fold is bit-identical to the windowed batch op") {
    val sub = docs.filter(col("doc_id") < 100).select("doc_id", "text")
    val batch = Curation.spanCorruptionPairs(sub, "doc_id", "text")
      .orderBy("doc_id")
      .as[(Long, Long, Long, Long, String, String)].collect().toSeq
    val rowLocal = graft.streaming.StreamSpanCorrupt.pairs(sub, "doc_id", "text")
      .orderBy("doc_id")
      .as[(Long, Long, Long, Long, String, String)].collect().toSeq
    assert(rowLocal === batch)
  }

  test("kcenterExemplars: farthest-point picks, hand-computed distances") {
    // dyadic floats (exact in float32) so quantization is exact:
    // a=(.5,0) n²=2.5e11, b=(0,.25), c=(−.25,0), d=(.125,.125).
    // r0: max-norm → a; r1: farthest from a → c (5.625e11);
    // r2: max min-dist to {a,c} → d (1.5625e11 vs b's 1.25e11)
    val fix = Seq(
      (1L, Seq(0.5f, 0.0f)), (2L, Seq(0.0f, 0.25f)),
      (3L, Seq(-0.25f, 0.0f)), (4L, Seq(0.125f, 0.125f))
    ).toDF("vec_id", "embedding")
    val got = Embeddings.kcenterExemplars(fix, "vec_id", "embedding", 3)
      .orderBy("round").as[(Long, Long, Long)].collect().toSeq
    assert(got === Seq(
      (0L, 1L, 250000000000L),
      (1L, 3L, 562500000000L),
      (2L, 4L, 156250000000L)))
  }

  test("distributionDrift: identical=0, disjoint=1e6, unequal sizes exact") {
    def f(vs: Long*) = vs.map(Tuple1(_)).toDF("score")
    val same = Profiling.distributionDrift(f(0, 1, 2), f(0, 1, 2), "score", 3)
      .select("tv_ppm").distinct().as[Long].collect().toSeq
    assert(same === Seq(0L))
    val disj = Profiling.distributionDrift(f(0, 0), f(10, 10), "score", 2)
      .orderBy("bucket")
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    assert(disj === Seq(
      (0L, 2L, 0L, 500000L, 1000000L),
      (1L, 0L, 2L, 500000L, 1000000L)))
    // TV(δ₀, ½δ₀+½δ₁₀) = ½ exactly, with N_A=1 vs N_B=2
    val half = Profiling.distributionDrift(f(0), f(0, 10), "score", 2)
      .orderBy("bucket")
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    assert(half === Seq(
      (0L, 1L, 1L, 250000L, 500000L),
      (1L, 0L, 1L, 250000L, 500000L)))
  }

  test("rboAtK: identical=65132, disjoint=0, partial matches per-depth formula") {
    def frame(ranks: Seq[(Long, Long, Long)]) = ranks.toDF("qid", "id", "rank")
    val ident = frame((1L to 10L).map(r => (1L, r, r)))
    val same = TextAnalysis.rboAtK(ident, ident, 10)
      .as[(Long, Long, Long)].head()
    assert(same === ((1L, 10L, 65132L))) // floor(1e5·(1 − 0.9¹⁰))
    val other = frame((1L to 10L).map(r => (1L, r + 100L, r)))
    val disj = TextAnalysis.rboAtK(ident, other, 10)
      .as[(Long, Long, Long)].head()
    assert(disj === ((1L, 0L, 0L)))
    // partial overlap: independent per-depth o_d computation in exact
    // BigInt rationals must agree with the operator's per-id suffix form
    val a = frame(Seq((1L, 11L, 1L), (1L, 12L, 2L), (1L, 13L, 3L)))
    val b = frame(Seq((1L, 12L, 1L), (1L, 11L, 2L), (1L, 99L, 3L)))
    val got = TextAnalysis.rboAtK(a, b, 10).as[(Long, Long, Long)].head()
    val ra = Map(11L -> 1, 12L -> 2, 13L -> 3)
    val rb = Map(12L -> 1, 11L -> 2, 99L -> 3)
    val lcm = BigInt(2520)
    val scaled = (1 to 10).map { d =>
      val od = ra.keySet.count(id => ra(id) <= d && rb.getOrElse(id, 99) <= d)
      BigInt(9).pow(d - 1) * BigInt(10).pow(10 - d) * (lcm / d) * od
    }.sum
    val expected = scaled * 100000 * 1 / (BigInt(10).pow(10) * lcm)
    assert(got === ((1L, 2L, expected.toLong)))
  }

  test("signature registry lifecycle: append preserves content; takedown is surgical") {
    def rows(name: String) =
      graft.queries.QueryCatalog.all(name)(spark, dir)
        .as[(Long, Long, Long)].collect().toSet
    val persisted = rows("x_dedup_sig_persisted")
    val appended = rows("x_dedup_sig_appended")
    // base+appended files hold the same logical registry as the
    // one-shot build — the serve must not care how the files landed
    assert(appended === persisted)
    val deleted = rows("x_dedup_sig_deleted")
    val tombs = spark.read.parquet(graft.queries.CatalogHelpers.sigLifeDir + "/tombstones")
      .as[Long].collect().toSet
    assert(deleted.subsetOf(appended))
    assert(deleted === appended.filterNot(r => tombs.contains(r._2)))
  }

  test("dedupeAgainstSignatures: planted dup flagged from the registry alone") {
    val text0 = docs.filter(col("doc_id") === 0).select("text")
      .as[String].head()
    val corpSig = Dedup.signaturesFromShingles(
      Dedup.shingles(docs, "doc_id", "text", 3), "doc_id", 128,
      Dedup.Hashers.xx64Base)
    val batch = Seq(
      (9001L, text0),                                    // exact copy of doc 0
      (9002L, (0 until 40).map(i => s"zq${i * 7919}").mkString(" "))
    ).toDF("doc_id", "text")
    val got = Dedup.dedupeAgainstSignatures(batch, corpSig, "doc_id", "text")
      .as[(Long, Long, Long)].collect().toSeq
    val hit = got.filter(r => r._1 == 9001L && r._2 == 0L)
    assert(hit.nonEmpty, s"exact copy not flagged: $got")
    assert(hit.head._3 === 128L) // identical shingle set → full agreement
    assert(!got.exists(_._1 == 9002L), "unrelated batch doc falsely flagged")
  }

  test("bm25Prf: feedback terms retrieve docs the original query cannot") {
    val corpus = Seq((1L, "apple banana"), (2L, "banana banana banana"),
      (3L, "cherry cherry")).toDF("doc_id", "text")
    val qs = Seq((0L, "apple")).toDF("qid", "qtext")
    val plain = TextAnalysis.bm25TopK(corpus, qs, "doc_id", "text",
        "qid", "qtext", 10)
      .select("id").as[Long].collect().toSet
    assert(plain === Set(1L)) // "apple" only matches d1
    val prf = TextAnalysis.bm25Prf(corpus, qs, "doc_id", "text",
        "qid", "qtext", 10, fbDocs = 1, fbTerms = 1)
      .select("id").as[Long].collect().toSet
    // feedback doc d1 contributes "banana" (the original term is
    // anti-joined away), and the expanded query now reaches d2
    assert(prf === Set(1L, 2L))
  }

  test("spanCorruptionPairs: sentinel interleave reconstructs the original text") {
    val sub = docs.filter(col("doc_id") < 30).select("doc_id", "text")
    val orig = sub.as[(Long, String)].collect().toMap
    val pairs = Curation.spanCorruptionPairs(sub, "doc_id", "text").collect()
    assert(pairs.length === orig.size)
    var sawMask = false
    pairs.foreach { r =>
      val (id, nTok, nMasked, nSpans) =
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
      val (input, target) = (r.getString(4), r.getString(5))
      if (nMasked > 0) sawMask = true
      val spans: Map[Int, Array[String]] =
        if (target.isEmpty) Map.empty
        else target.split("<extra_id_").filter(_.nonEmpty).map { part =>
          val Array(k, rest) = part.split(">", 2)
          k.toInt -> rest.trim.split(" ").filter(_.nonEmpty)
        }.toMap
      assert(spans.size.toLong === nSpans, s"doc $id span count")
      assert(spans.values.map(_.length.toLong).sum === nMasked, s"doc $id mask count")
      val rebuilt = input.split(" ").flatMap { tok =>
        if (tok.startsWith("<extra_id_"))
          spans(tok.stripPrefix("<extra_id_").stripSuffix(">").toInt)
        else Array(tok)
      }.mkString(" ")
      assert(rebuilt === orig(id), s"doc $id roundtrip")
      assert(rebuilt.split(" ").length.toLong === nTok, s"doc $id token count")
    }
    assert(sawMask, "fixture produced no masked spans — test is vacuous")
  }

  test("calibration serve: join form and plan-constant step agree, below-range clamps") {
    val calib = Seq((0L, 100L), (10L, 250L), (20L, 900L))
      .toDF("lo", "fitted_permille")
    val steps = Seq(0L -> 100L, 10L -> 250L, 20L -> 900L)
    val scored = Seq((1L, -5L), (2L, 0L), (3L, 9L), (4L, 10L), (5L, 19L),
      (6L, 20L), (7L, 99L)).toDF("id", "score")
    val joined = Calibration.applyCalibration(scored, "id", "score", calib)
      .orderBy("id").as[(Long, Long, Long)].collect().toSeq
    val expected = Seq((1L, -5L, 100L), (2L, 0L, 100L), (3L, 9L, 100L),
      (4L, 10L, 250L), (5L, 19L, 250L), (6L, 20L, 900L), (7L, 99L, 900L))
    assert(joined === expected)
    val stepped = scored.select(col("id"), col("score"),
        Calibration.stepColumn(col("score"), steps).as("c"))
      .orderBy("id").as[(Long, Long, Long)].collect().toSeq
    assert(stepped === expected)
  }

  test("groupedLinearFit: hand-computed OLS, null guards, trunc-toward-zero") {
    val fix = Seq(
      ("a", 0L, 0L), ("a", 1L, 2L), ("a", 2L, 4L),   // exact slope 2
      ("b", 0L, 1L), ("b", 1L, 1L), ("b", 2L, 1L),   // flat y: r2 null
      ("c", 1L, 5L), ("c", 1L, 7L),                  // zero x-var: all null
      // det=11, covn=-3: slope -3e6/11 = -272727.27 → TRUNCATES to
      // -272727 (floor would give -272728); r2 = 9000/33 = 272
      ("d", 0L, 1L), ("d", 0L, 0L), ("d", 1L, 0L), ("d", 2L, 0L)
    ).toDF("g", "x", "y")
    val got = Regression.groupedLinearFit(fix, "g", "x", "y")
      .orderBy("g")
      .as[(String, Long, Option[Long], Option[Long], Option[Long])]
      .collect().toSeq
    assert(got === Seq(
      ("a", 3L, Some(2000000L), Some(0L), Some(1000L)),
      ("b", 3L, Some(0L), Some(1000000L), None),
      ("c", 2L, None, None, None),
      ("d", 4L, Some(-272727L), Some(454545L), Some(272L))))
  }

  test("isotonicCalibrate: adjacent violators pool, fit is monotone") {
    // bucket rates 1.0, 0.0, 0.5 — PAVA pools all three to 3/6 = 0.5
    val fix = Seq((0L, 1L), (0L, 1L), (1L, 0L), (1L, 0L), (2L, 1L), (2L, 0L))
      .toDF("score", "y")
    val got = Calibration.isotonicCalibrate(fix, "score", "y", 3)
      .orderBy("bucket")
      .select("bucket", "n", "pos", "rate_permille", "fitted_permille")
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    assert(got === Seq(
      (0L, 2L, 2L, 1000L, 500L),
      (1L, 2L, 0L, 0L, 500L),
      (2L, 2L, 1L, 500L, 500L)))
  }

  test("isotonicCalibrate: already-monotone rates pass through; fit never decreases") {
    val fix = Seq((0L, 0L), (0L, 0L), (5L, 0L), (5L, 1L), (9L, 1L), (9L, 1L))
      .toDF("score", "y")
    val got = Calibration.isotonicCalibrate(fix, "score", "y", 5)
      .orderBy("bucket")
      .select("rate_permille", "fitted_permille")
      .as[(Long, Long)].collect().toSeq
    assert(got.map(_._1) === got.map(_._2)) // monotone input: fit == raw
    assert(got.map(_._2) === got.map(_._2).sorted)
  }

  test("bitextMine: mutual neighbors only, hand-computed integer margins") {
    // src s0=(.5,0) s2=(0,.5); tgt t1=(.4,0) t3=(0,.4) t5=(.1,.1).
    // On the floor(x·1e6) lattice: d(s0,t1)=d(s2,t3)=2e11,
    // d(·,t5)=5e10, cross dots 0. k=2: fsum=2.5e11, bsum=2e11 →
    // margin = 2000·2·2e11 div 4.5e11 = 1777. t5's best source is s0
    // by the id tiebreak, but s0's rank-1 target is t1 — not mutual.
    val src = Seq((0L, Seq(0.5f, 0.0f)), (2L, Seq(0.0f, 0.5f)))
      .toDF("vec_id", "embedding")
    val tgt = Seq((1L, Seq(0.4f, 0.0f)), (3L, Seq(0.0f, 0.4f)),
      (5L, Seq(0.1f, 0.1f))).toDF("vec_id", "embedding")
    val got = Similarity.bitextMine(src, tgt, "vec_id", "embedding", 2)
      .orderBy("sid")
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(got === Seq(
      (0L, 1L, 200000000000L, 1777L),
      (2L, 3L, 200000000000L, 1777L)))
  }

  test("bitextMine: hub target mined at most once (mutuality de-hubs)") {
    // every source's nearest target is the hub t1, but t1's rank-1
    // source is unique — raw-NN mining would emit 3 hub pairs, the
    // mutual margin mine emits exactly one
    val src = Seq((0L, Seq(0.5f, 0.0f)), (2L, Seq(0.45f, 0.0f)),
      (4L, Seq(0.4f, 0.0f))).toDF("vec_id", "embedding")
    val tgt = Seq((1L, Seq(0.5f, 0.0f)), (3L, Seq(0.0f, 0.01f)))
      .toDF("vec_id", "embedding")
    val got = Similarity.bitextMine(src, tgt, "vec_id", "embedding", 2)
      .select("sid", "tid").as[(Long, Long)].collect().toSeq
    assert(got === Seq((0L, 1L)))
  }

  test("ANN LSH recall vs brute force is usable (>= 0.5 @ k=10)") {
    val queries = emb.filter(col("vec_id") < 10)
    val exact = Similarity.bruteForceTopK(emb, queries, "vec_id", "embedding", 10)
      .select("qid", "id").as[(Long, Long)].collect().toSet
    val approx = Similarity.lshTopK(emb, queries, "vec_id", "embedding", 10)
      .select("qid", "id").as[(Long, Long)].collect().toSet
    val recall = (exact & approx).size.toDouble / exact.size
    info(f"ANN recall@10: $recall%.3f (${approx.size} candidates returned)")
    assert(recall >= 0.5, s"recall $recall too low")
  }

  test("PQ ANN: recall vs brute force is usable; exact copies always found") {
    val queries = emb.filter(col("vec_id") < 10)
    val exact = Similarity.bruteForceTopK(emb, queries, "vec_id", "embedding", 10)
      .select("qid", "id").as[(Long, Long)].collect().toSet
    val pq = Similarity.pqTopK(emb, queries, "vec_id", "embedding", 10)
      .select("qid", "id").as[(Long, Long)].collect().toSet
    val recall = (exact & pq).size.toDouble / exact.size
    info(f"PQ recall@10 (m=8, ks=16, rerank=4): $recall%.3f")
    assert(recall >= 0.5, s"recall $recall too low")
    // Lloyd-trained codebooks (deterministic driver-side k-means on a
    // sample) should not degrade recall vs raw-sample centroids
    val trained = Similarity.pqTrainSampled(emb, "vec_id", "embedding")
    val pqT = Similarity.pqTopK(emb, queries, "vec_id", "embedding", 10,
        codebooksIn = Some(trained))
      .select("qid", "id").as[(Long, Long)].collect().toSet
    val recallT = (exact & pqT).size.toDouble / exact.size
    info(f"PQ recall@10 (Lloyd-trained codebooks): $recallT%.3f")
    assert(recallT >= 0.5, s"trained recall $recallT too low")
    // an exact duplicate of a query vector encodes to the query's own
    // codes, tops the ADC scan, and survives the exact re-rank at rank 1
    val withDup = emb.unionByName(
      emb.filter(col("vec_id") === 0).withColumn("vec_id", lit(90001L)))
    val top1 = Similarity.pqTopK(withDup,
        withDup.filter(col("vec_id") === 0), "vec_id", "embedding", 1)
      .select("id").as[Long].collect()
    assert(top1.sameElements(Array(90001L)), s"dup not found: ${top1.toSeq}")
  }

  test("rankTopK: bounded aggregate ≡ the rank window it replaced " +
      "(ties, NaN, NULL, ±0.0, k past group size)") {
    // Adversarial corners: an exact-cosine tie (ids 10/11), NaN (12),
    // −0.0 carried by the SMALLER id of its tie pair (14 vs 15 — the
    // negation maps −0.0 ↔ +0.0, so getting this row order wrong is the
    // first observable divergence), a NULL cosine (21, DESC NULLS LAST),
    // and a group (qid 2) smaller than k.
    val scored = Seq(
      (1L, 10L, 0.5), (1L, 11L, 0.5), (1L, 12L, Double.NaN), (1L, 13L, 0.9),
      (1L, 14L, -0.0), (1L, 15L, 0.0), (1L, 16L, -0.3), (1L, 17L, 0.2),
      (2L, 20L, 0.1))
      .toDF("qid", "id", "cosine")
      .unionByName(Seq((2L, 21L)).toDF("qid", "id")
        .withColumn("cosine", lit(null).cast("double")))
    for (k <- Seq(1, 2, 5, 16)) {
      // the reference IS the window rankTopK used through round 15
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("qid").orderBy(col("cosine").desc, col("id"))
      val want = scored.withColumn("rank", row_number().over(w))
        .filter(col("rank") <= k).select("qid", "id", "rank", "cosine")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2),
          java.lang.Double.doubleToLongBits(
            if (r.isNullAt(3)) -1.0 else r.getDouble(3))))
        .toSet
      val got = Similarity.rankTopK(scored, k, keepCosine = true)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2),
          java.lang.Double.doubleToLongBits(
            if (r.isNullAt(3)) -1.0 else r.getDouble(3))))
        .toSet
      assert(got === want, s"k=$k: bounded rankTopK diverged from the window")
    }
  }

  test("brute-force top-k: neighbors are genuinely ranked by cosine") {
    val queries = emb.filter(col("vec_id") === 0)
    val got = Similarity.bruteForceTopK(emb, queries, "vec_id", "embedding", 5)
    assert(got.count() == 5)
    // rank 1 neighbor must beat rank 5 neighbor on raw cosine
    val pairs = Similarity.allPairsCosine(
      emb.filter(col("vec_id") <= 600), "vec_id", "embedding")
    val ranked = got.as[(Long, Long, Int)].collect().sortBy(_._3)
    val cosOf = pairs.filter(col("a") === 0 || col("b") === 0)
      .select(when(col("a") === 0, col("b")).otherwise(col("a")).as("other"), col("cosine"))
      .as[(Long, Double)].collect().toMap
    assert(cosOf(ranked.head._2) >= cosOf(ranked.last._2))
  }

  test("embedding LSH top-pairs finds planted near-dup pairs (recall 1.0)") {
    // 100 quasi-random vectors + 8 near-identical copies: the copies are
    // the true top-8 pairs (cosine ≈ 0.9999), and at 16 tables × 8 planes
    // a pair that close misses every bucket with probability ~1e-16 — so
    // the LSH path must reproduce the exact all-pairs top-8 verbatim.
    val base = (0 until 100).map { i =>
      (i.toLong, Array.tabulate(16)(d => math.sin(i * 16.0 + d + 1).toFloat))
    }
    val dups = (0 until 8).map { i =>
      (1000L + i, base(i)._2.zipWithIndex.map {
        case (v, d) => if (d == 0) v + 0.001f else v })
    }
    val emb2 = (base ++ dups).toDF("vec_id", "embedding")
    val exact = Dedup.embeddingTopPairs(emb2, "vec_id", "embedding", 8)
      .select("a", "b").as[(Long, Long)].collect().toSet
    val lsh = Dedup.embeddingTopPairsLsh(emb2, "vec_id", "embedding", 8)
      .select("a", "b").as[(Long, Long)].collect().toSet
    assert(exact == (0 until 8).map(i => (i.toLong, 1000L + i)).toSet,
      s"fixture top-8 should be the planted pairs, got $exact")
    assert(lsh == exact, s"LSH missed planted pairs: ${exact -- lsh}")
  }

  test("autoPlanes holds bucket occupancy constant as the corpus grows") {
    import graft.operators.Similarity.autoPlanes
    // occupancy invariant: n / 2^planes stays within [target/2, target]
    // while planes is inside the clamp band
    Seq(5000L, 50000L, 500000L, 10000000L).foreach { n =>
      val p = autoPlanes(n)
      val occ = n.toDouble / (1L << p)
      assert(occ <= 20.0 && occ > 5.0, s"n=$n planes=$p occupancy=$occ")
    }
    assert(autoPlanes(5000L) == 8,   "judged-fixture scale must keep planes=8")
    assert(autoPlanes(0L) == 4 && autoPlanes(10L) == 4, "min clamp")
    assert(autoPlanes(Long.MaxValue) == 24, "max clamp (shard past 16M buckets)")
    intercept[IllegalArgumentException](autoPlanes(100L, targetOccupancy = 0))
    // the LSH miner still reproduces exact planted pairs under a grown
    // bit budget (more planes = finer buckets, recall retuned by tables)
    val base = (0 until 100).map { i =>
      (i.toLong, Array.tabulate(16)(d => math.sin(i * 16.0 + d + 1).toFloat))
    }
    val dups = (0 until 4).map { i =>
      (1000L + i, base(i)._2.zipWithIndex.map {
        case (v, d) => if (d == 0) v + 0.001f else v })
    }
    val emb2 = (base ++ dups).toDF("vec_id", "embedding")
    val got = Dedup.embeddingTopPairsLsh(emb2, "vec_id", "embedding", 4,
        planes = autoPlanes(104L))
      .select("a", "b").as[(Long, Long)].collect().toSet
    assert(got == (0 until 4).map(i => (i.toLong, 1000L + i)).toSet,
      s"auto-planes LSH missed planted pairs: $got")
  }

  test("hyperplane entry points derive the bit budget by default: " +
       "measured occupancy stays ~constant across a 16x corpus growth") {
    import graft.operators.Similarity
    def corpus(n: Int) = (0 until n).map { i =>
      // splitmix-mixed components: near-uniform directions so bucket
      // skew measures the GEOMETRY, not a correlated fixture (a linear
      // i·A + d·B stream puts every vector near one lattice line)
      (i.toLong, Array.tabulate(12) { d =>
        var z = (i.toLong * 12L + d + 1L) * 0x9e3779b97f4a7c15L
        z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
        z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
        z = z ^ (z >>> 31)
        ((z >>> 40).toInt - (1 << 23)).toFloat / (1 << 23)
      })
    }.toDF("vec_id", "embedding")
    val occ = Seq(512, 8192).map { n =>
      val emb = corpus(n)
      val planes = Similarity.autoPlanes(n.toLong)
      val sizes = Similarity.hyperplaneSignatures(emb, "vec_id", "embedding",
          tables = 4, planes = planes)
        .groupBy("t", "sig").count().agg(avg("count")).head().getDouble(0)
      // the default (sentinel planes = 0) and the explicitly-sized call
      // must produce the identical candidate set — the default IS
      // autoPlanes(count), not a different geometry
      val viaDefault = Similarity.hyperplaneCandidatePairs(
          emb, "vec_id", "embedding", tables = 4)
        .as[(Long, Long)].collect().toSet
      val viaExplicit = Similarity.hyperplaneCandidatePairs(
          emb, "vec_id", "embedding", tables = 4, planes = planes)
        .as[(Long, Long)].collect().toSet
      assert(viaDefault == viaExplicit,
        s"n=$n default-sized candidates drifted from autoPlanes($n)")
      n -> sizes
    }.toMap
    // constant-occupancy law: 16x the corpus under the derived budget
    // must NOT mean 16x the bucket size (the fixed-planes failure mode);
    // allow a loose 3x band for the non-uniform sign distribution
    val ratio = occ(8192) / occ(512)
    assert(ratio <= 3.0 && ratio >= 1.0 / 3.0,
      s"occupancy drifted ${ratio}x across 16x growth: $occ")
    assert(occ.values.forall(_ <= 80.0),
      s"absolute occupancy must stay near the 20-target: $occ")
  }

  test("minhash LSH finds the high-jaccard planted near-dups") {
    val exactPairs = Dedup.jaccardPairs(docs, "doc_id", "text", 0.9)
      .select("a", "b").as[(Long, Long)].collect().toSet
    val lshPairs = Dedup.minhashLshPairs(docs, "doc_id", "text", 0.9)
      .select("a", "b").as[(Long, Long)].collect().toSet
    assert(exactPairs.nonEmpty, "fixture should contain planted near-dups")
    val recall = (exactPairs & lshPairs).size.toDouble / exactPairs.size
    info(f"minhash-LSH recall vs exact jaccard@0.9: $recall%.2f of ${exactPairs.size}")
    assert(recall >= 0.8)
    // precision is 1.0 by construction (candidates are jaccard-verified)
    assert((lshPairs -- exactPairs).isEmpty)
  }

  test("signature-verified LSH pairs track the exact-verified pairs") {
    val exactV = Dedup.minhashLshPairs(docs, "doc_id", "text", 0.9)
      .select("a", "b").as[(Long, Long)].collect().toSet
    val estV = Dedup.minhashLshPairs(docs, "doc_id", "text", 0.9,
        verifyExact = false)
      .select("a", "b").as[(Long, Long)].collect().toSet
    val recall = (exactV & estV).size.toDouble / exactV.size
    info(f"estimator recall vs exact-verified@0.9: $recall%.2f")
    assert(recall >= 0.8)
    // estimator false-accepts must be near-threshold (estimator std at
    // J=0.9/128 hashes ≈ 0.027 — nothing below true J=0.8 should pass)
    val nearPairs = Dedup.jaccardPairs(docs, "doc_id", "text", 0.8)
      .select("a", "b").as[(Long, Long)].collect().toSet
    assert((estV -- nearPairs).isEmpty,
      s"estimator accepted pairs below true J=0.8: ${(estV -- nearPairs).take(5)}")
  }

  test("cross-corpus estimator verification tracks the exact report") {
    val ref = docs.filter(col("doc_id") % 7 === 0)
    val exactR = Dedup.crossCorpusPairs(docs, ref, "doc_id", "text", 0.9)
      .select("cand_id").as[Long].collect().toSet
    val estR = Dedup.crossCorpusPairs(docs, ref, "doc_id", "text", 0.9,
        verifyExact = false)
      .select("cand_id").as[Long].collect().toSet
    val recall = (exactR & estR).size.toDouble / exactR.size
    info(f"cross-corpus estimator recall vs exact@0.9: $recall%.2f of ${exactR.size}")
    assert(recall >= 0.8)
  }

  test("xxhash64 minhash variant finds the same planted near-dups") {
    val md5Pairs = Dedup.minhashLshPairs(docs, "doc_id", "text", 0.9,
        base = Dedup.Hashers.md5Base)
      .select("a", "b").as[(Long, Long)].collect().toSet
    val xxPairs = Dedup.minhashLshPairs(docs, "doc_id", "text", 0.9,
        base = Dedup.Hashers.xx64Base)
      .select("a", "b").as[(Long, Long)].collect().toSet
    // banding recall is probabilistic per family; the invariant is that
    // each family's output is jaccard-verified (subset of exact) and that
    // both recover the planted high-J pairs
    val exact = Dedup.jaccardPairs(docs, "doc_id", "text", 0.9)
      .select("a", "b").as[(Long, Long)].collect().toSet
    assert((xxPairs -- exact).isEmpty && (md5Pairs -- exact).isEmpty)
    assert(xxPairs.size.toDouble / exact.size >= 0.8, s"xx recall low: ${xxPairs.size}/${exact.size}")
    assert(md5Pairs.size.toDouble / exact.size >= 0.8)
  }

  test("language confidence: clear text gets margin, balanced text flags mixed") {
    val fixture = Seq(
      (1L, "x the and of is the and y"),          // strongly en
      (2L, "a the der b und c is d nicht e and f") // de/en balanced
    ).toDF("doc_id", "text")
    val out = TextAnalysis.languageConfidence(fixture, "doc_id", "text")
      .select("doc_id", "lang_pred", "margin", "mixed")
      .as[(Long, String, Long, Boolean)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(out(1L)._1 == "en" && out(1L)._2 >= 2 && !out(1L)._3, s"got ${out(1L)}")
    assert(out(2L)._3, s"balanced doc should flag mixed: ${out(2L)}")
  }

  test("new operators fail loudly on nonsense parameters") {
    val d = Seq((1L, "a b c")).toDF("doc_id", "text")
    intercept[IllegalArgumentException] {
      Dedup.duplicateSpans(d, "doc_id", "text", minDocs = 1) // marks everything
    }
    intercept[IllegalArgumentException] {
      Dedup.semanticDedup(emb, "vec_id", "embedding", thresholdDen = 0L)
    }
    intercept[IllegalArgumentException] {
      Curation.topFractionByDomain(d, "text", "doc_id", "doc_id", num = 3, den = 2)
    }
    intercept[IllegalArgumentException] {
      Curation.snapshotDiff(d, d, "doc_id", Seq.empty)
    }
    intercept[IllegalArgumentException] {
      Curation.domainMixTemperature(
        Seq((1L, null.asInstanceOf[String])).toDF("doc_id", "src"),
        "src", "doc_id", 10L) // only null domains -> nothing to budget
    }
  }

  test("densifyHourly zero-fills silent hours across the full grid") {
    def ts(h: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 $h%02d:30:00")
    // type A fires at hours 0 and 3 (gap at 1, 2); type B only at hour 1
    val events = Seq((ts(0), "A"), (ts(0), "A"), (ts(3), "A"), (ts(1), "B"))
      .toDF("ts", "event_type")
    val out = TimeSeries.densifyHourly(events, "event_type", "ts")
      .as[(Long, String, Long)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    val h0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00").getTime
    val hour = 3600L * 1000
    assert(out.size == 8, s"4 hours x 2 types, got ${out.size}")
    assert(out((h0, "A")) == 2L && out((h0 + 3 * hour, "A")) == 1L)
    assert(out((h0 + hour, "A")) == 0L && out((h0 + 2 * hour, "A")) == 0L)
    assert(out((h0 + hour, "B")) == 1L && out((h0, "B")) == 0L)
  }

  test("snapshotDiff classifies added/removed/changed; unchanged omitted") {
    val old = Seq((1L, "a", "en"), (2L, "b", "en"), (3L, "c", "de"),
      (4L, null.asInstanceOf[String], "fr")).toDF("id", "text", "lang")
    val neu = Seq((1L, "a", "en"),        // unchanged
      (2L, "B", "en"),                    // changed
      (4L, "null", "fr"),                 // NULL -> literal "null" IS a change
      (5L, "e", "es")                     // added
    ).toDF("id", "text", "lang")
    val out = Curation.snapshotDiff(old, neu, "id", Seq("text", "lang"))
      .as[(Long, String)].collect().toMap
    assert(out == Map(2L -> "changed", 3L -> "removed",
      4L -> "changed", 5L -> "added"), s"got $out")
  }

  test("edit-distance pairs: small in-word edits pass, large rewrites fail") {
    def doc(words: Seq[String]) = words.mkString(" ")
    val base = (1 to 40).map(i => s"token$i")
    val typo = base.updated(5, "tokenn6").updated(20, "tokn21") // 2 small edits
    val rewrite = base.map(w => w + "xyz")                      // every word changed
    val fixture = Seq((1L, doc(base)), (2L, doc(typo)), (3L, doc(rewrite)))
      .toDF("doc_id", "text")
    val out = Dedup.editDistancePairs(fixture, "doc_id", "text",
        maxDistPerMille = 100, numHashes = 32, bands = 16)
      .as[(Long, Long, Long)].collect()
    assert(out.map(r => (r._1, r._2)).toSet == Set((1L, 2L)), s"got ${out.toSeq}")
    assert(out.head._3 <= 5, s"distance ${out.head._3} for two small edits")
  }

  test("contrastive triplets: deterministic negatives, never anchor or positive") {
    val corpus = (1L to 40L).map(i => (i, s"doc $i " + ("w" + i) * 3)).toDF("doc_id", "text")
    val pairs = Seq((1L, 2L), (3L, 9L), (10L, 35L)).toDF("a", "b")
    val t1 = Curation.contrastiveTriplets(corpus, pairs, "doc_id", numShards = 4)
      .as[(Long, Long, Long)].collect().toSet
    assert(t1.size == 3, s"one triplet per pair: $t1")
    assert(t1.map(_._1) == Set(1L, 3L, 10L))
    // the rare negative==positive collision is dropped, not emitted wrong:
    // doc 3's derangement partner IS doc 7 in this fixture
    val collide = Curation.contrastiveTriplets(corpus,
      Seq((3L, 7L)).toDF("a", "b"), "doc_id", numShards = 4).count()
    assert(collide == 0)
    t1.foreach { case (a, p, n) =>
      assert(n != a && n != p, s"negative collides in ($a, $p, $n)")
      assert((1L to 40L).contains(n), s"negative $n outside corpus")
    }
    // deterministic under different input partitioning
    val t2 = Curation.contrastiveTriplets(corpus.repartition(7), pairs,
      "doc_id", numShards = 4).as[(Long, Long, Long)].collect().toSet
    assert(t1 == t2)
  }

  test("qualityFlags attributes each rule and keeps only clean docs") {
    // 180 tokens, mean length ~6.5, top-token share 1/6, stopwords present
    val clean = (1 to 30)
      .map(i => s"the alpha$i bravo$i charlie$i delta$i echo$i").mkString(" ")
    val short = "the of and a tiny doc"
    val longWords = (1 to 30).map(i => "w" * 12 + i).mkString(" ") + " the of and"
    val repetitive = ("the " * 60).trim
    val noStop = (1 to 40).map(i => s"zq$i").mkString(" ")
    val df = Seq((1L, clean), (2L, short), (3L, longWords),
      (4L, repetitive), (5L, noStop)).toDF("doc_id", "text")
    val out = TextAnalysis.qualityFlags(df, "doc_id", "text")
      .select("doc_id", "flag_short", "flag_word_len", "flag_repetitive",
        "flag_low_stopword", "keep")
      .as[(Long, Boolean, Boolean, Boolean, Boolean, Boolean)]
      .collect().map(r => r._1 -> r).toMap
    assert(out(1L)._6, s"clean doc should keep: ${out(1L)}")
    assert(out(2L)._2 && !out(2L)._6, "short doc flagged")
    assert(out(3L)._3 && !out(3L)._6, "long-word doc flagged")
    assert(out(4L)._4 && !out(4L)._6, "repetitive doc flagged")
    assert(out(5L)._5 && !out(5L)._6, "stopword-free doc flagged")
  }

  test("knnGraph: full edge list, no self edges, usable recall") {
    val graphK = 5
    val g = Similarity.knnGraph(emb, "vec_id", "embedding", graphK).cache()
    val n = emb.count()
    assert(g.count() == n * graphK, "every vector needs k edges")
    assert(g.filter(col("qid") === col("id")).count() == 0)
    val exact = Similarity.bruteForceTopK(emb, emb, "vec_id", "embedding", graphK)
      .select("qid", "id").as[(Long, Long)].collect().toSet
    val got = g.select("qid", "id").as[(Long, Long)].collect().toSet
    val recall = (exact & got).size.toDouble / exact.size
    info(f"kNN-graph recall@$graphK: $recall%.3f")
    assert(recall >= 0.2, s"recall $recall below the nprobe/nlist floor")
    g.unpersist()
  }

  test("leakFreeSplit: no duplicate cluster straddles train/test") {
    def words(tag: String) = (1 to 30).map(i => s"$tag$i").mkString(" ")
    def near(tag: String) = (1 to 29).map(i => s"$tag$i").mkString(" ") + " zzz"
    val docs = Seq((1L, words("a")), (2L, near("a")), (3L, words("b")),
      (4L, near("b")), (5L, words("c"))).toDF("doc_id", "text")
    val clusters = Dedup.duplicateClusters(
      Dedup.jaccardPairs(docs, "doc_id", "text", 0.6))
    val split = graft.operators.AsOfJoin.leakFreeSplit(
        docs.select("doc_id"), clusters, "doc_id", 80)
      .as[(Long, Long, String)].collect()
    assert(split.length == 5, "every doc gets a split, singletons included")
    // the leakage property: one split per cluster
    val perCluster = split.groupBy(_._2).values
    assert(perCluster.forall(_.map(_._3).distinct.length == 1),
      split.mkString(", "))
    // near-dup pairs landed in the same cluster, so the same split
    val byId = split.map(t => t._1 -> t._3).toMap
    assert(byId(1L) == byId(2L) && byId(3L) == byId(4L))
    // and the split matches the plain doc-keyed split of the cluster id
    val direct = graft.operators.AsOfJoin.trainTestSplit(
        split.map(t => (t._1, t._2)).toSeq.toDF("doc_id", "cluster_id"),
        "cluster_id", 80)
      .as[(Long, Long, String)].collect().map(t => t._1 -> t._3).toMap
    assert(split.forall(t => direct(t._1) == t._3))
  }

  test("distinctNgramRatio: exact per-mille diversity, short docs contribute nothing") {
    val docs = Seq(
      (1L, "a b a b a", "s1"),   // 3-grams: aba, bab, aba → 3 total, 2 distinct
      (2L, "x y", "s1"),         // shorter than n → nothing
      (3L, "p q r s", "s2")      // pqr, qrs → 2 total, 2 distinct
    ).toDF("doc_id", "text", "source")
    val r = TextAnalysis.distinctNgramRatio(docs, "source", "text", 3)
      .as[(String, Long, Long, Long)].collect()
      .map(t => t._1 -> (t._2, t._3, t._4)).toMap
    assert(r == Map("s1" -> (3L, 2L, 666L), "s2" -> (2L, 2L, 1000L)), r.toString)
    assertThrows[IllegalArgumentException] {
      TextAnalysis.distinctNgramRatio(docs, "source", "text", 0)
    }
  }

  test("tokenFrequencySpectrum: integer log2 buckets at exact powers of two") {
    // freqs: a→1 (bucket 0), b→2, c→3 (bucket 1), d→4 (bucket 2)
    val docs = Seq((1L, "a b b c c c d d"), (2L, "d d")).toDF("doc_id", "text")
    val r = TextAnalysis.tokenFrequencySpectrum(docs, "text")
      .as[(Int, Long, Long)].collect().map(t => t._1 -> (t._2, t._3)).toMap
    assert(r == Map(0 -> (1L, 1L), 1 -> (2L, 5L), 2 -> (1L, 4L)), r.toString)
  }

  test("packCorpus: global offsets, boundary-spanning docs, zero-token rows") {
    val df = Seq((1L, 3L), (2L, 5L), (3L, 0L), (4L, 6L))
      .toDF("doc_id", "n_tokens")
    // identity order → offsets 0, 3, 8, 8; seqLen 4 → sequences of 4
    val r = Curation.packCorpus(df, Seq("doc_id"), "n_tokens", seqLen = 4L)
      .select("doc_id", "cum_before", "seq_first", "seq_last")
      .as[(Long, Long, Long, Long)].collect().map(t => t._1 -> (t._2, t._3, t._4))
      .toMap
    assert(r(1L) == (0L, 0L, 0L), r.toString)          // tokens 0..2, seq 0
    assert(r(2L) == (3L, 0L, 1L), r.toString)          // 3..7 spans seqs 0-1
    assert(r(3L) == (8L, 2L, 2L), r.toString)          // empty doc: point offset
    assert(r(4L) == (8L, 2L, 3L), r.toString)          // 8..13 spans seqs 2-3
    // offsets stay exact across partitions
    val big = (0L until 500L).map(i => (i, 7L)).toDF("doc_id", "n_tokens")
    val offs = Curation.packCorpus(big, Seq("doc_id"), "n_tokens", 512L,
        partitions = Some(11))
      .select("doc_id", "cum_before").as[(Long, Long)].collect().toMap
    assert((0L until 500L).forall(i => offs(i) == i * 7L))
  }

  test("curriculumBuckets: exact global ranks and ntile buckets, ties by key") {
    val df = Seq((1L, 30L), (2L, 10L), (3L, 20L), (4L, 10L), (5L, 40L))
      .toDF("doc_id", "score")
    val r = Curation.curriculumBuckets(df, "doc_id", "score", nBuckets = 2)
      .as[(Long, Long, Long, Int)].collect().map(t => t._1 -> (t._3, t._4)).toMap
    // easy-first: score asc, doc_id tiebreak → 2,4,3,1,5
    assert(r == Map(2L -> (0L, 0), 4L -> (1L, 0), 3L -> (2L, 0),
      1L -> (3L, 1), 5L -> (4L, 1)), r.toString)
    // hard-first reverses the order
    val hard = Curation.curriculumBuckets(df, "doc_id", "score", 2,
      easyFirst = false).as[(Long, Long, Long, Int)].collect()
      .map(t => t._1 -> t._3).toMap
    assert(hard == Map(5L -> 0L, 1L -> 1L, 3L -> 2L, 2L -> 3L, 4L -> 4L))
    // single bucket degenerates to rank-only
    assert(Curation.curriculumBuckets(df, "doc_id", "score", 1)
      .select("bucket").as[Int].collect().forall(_ == 0))
    // ranks stay exact across many partitions (prefix-offset correctness)
    val big = (0L until 997L).map(i => (i, (i * 7919L) % 997L)).toDF("doc_id", "score")
    val ranks = Curation.curriculumBuckets(big, "doc_id", "score", 10,
        partitions = Some(13))
      .select("rank").as[Long].collect().sorted
    assert(ranks.toSeq == (0L until 997L), "ranks must be a dense 0..n-1")
    // null scores rejected loudly (engine-specific null sort placement)
    val ex = intercept[org.apache.spark.SparkException] {
      Seq((1L, Some(1L)), (2L, None)).toDF("doc_id", "score")
        .transform(Curation.curriculumBuckets(_, "doc_id", "score", 2)).count()
    }
    assert(ex.getMessage != null)
  }

  test("dsirWeights: target-like docs outrank off-domain docs, smoothing covers OOV") {
    val corpus = Seq(
      (1L, "law court judge law court"),   // target-like
      (2L, "law court banana"),            // mixed
      (3L, "banana apple banana apple"),   // off-domain
      (4L, "law")                          // short target-like
    ).toDF("doc_id", "text")
    val target = Seq((10L, "law court judge law")).toDF("doc_id", "text")
    val r = Curation.dsirWeights(corpus, target, "doc_id", "text")
      .as[(Long, Long, Double)].collect().map(t => t._1 -> (t._2, t._3)).toMap
    assert(r.keySet == Set(1L, 2L, 3L, 4L))
    assert(r(1L)._1 == 5 && r(3L)._1 == 4, "n_tokens counts occurrences")
    // per-token mean importance separates the domains regardless of length
    def mean(id: Long) = r(id)._2 / r(id)._1
    assert(mean(1L) > mean(2L) && mean(2L) > mean(3L),
      s"domain ordering broke: ${r.toSeq.sortBy(_._1)}")
    // tokens absent from the target still score (add-one smoothing):
    // banana appears 3x in the corpus, never in target → 1/4 each
    assert(math.abs(r(3L)._2 - (2.0 * (1.0 / 4.0) + 2.0 * (1.0 / 3.0))) < 1e-12,
      s"smoothed off-domain score wrong: ${r(3L)._2}")
    // empty target fails loudly
    assertThrows[IllegalArgumentException] {
      Curation.dsirWeights(corpus, target.limit(0), "doc_id", "text")
    }
  }

  test("hardNegatives: positive is the top neighbor, negative is sub-threshold and distinct") {
    val tau = 0.9
    val edges = Similarity.knnGraph(emb, "vec_id", "embedding", 5,
      keepCosine = true).cache()
    val hn = Similarity.hardNegatives(emb, "vec_id", "embedding", 5,
      dupThreshold = tau)
      .as[(Long, Long, Double, Long, Double)].collect()
    assert(hn.nonEmpty, "synthetic corpus must yield triplets")
    val rank1 = edges.filter(col("rank") === 1)
      .select("qid", "id").as[(Long, Long)].collect().toMap
    hn.foreach { case (a, pos, posCos, neg, negCos) =>
      assert(rank1(a) == pos, s"anchor $a positive must be its rank-1 neighbor")
      assert(neg != pos, s"anchor $a negative equals its positive")
      assert(negCos < tau, s"anchor $a negative cos $negCos not below $tau")
      assert(posCos >= negCos, s"anchor $a positive scores below its negative")
    }
    // an anchor whose every non-top neighbor is a near-dup emits nothing:
    // the negative pick never falls back to an above-threshold edge
    val eligible = edges.filter(col("rank") >= 2 && col("cosine") < tau)
      .select("qid").distinct().as[Long].collect().toSet
    assert(hn.map(_._1).toSet == eligible.intersect(rank1.keySet))
    edges.unpersist()
  }

  test("incremental dedup flags corpus dups and earlier-batch dups") {
    def words(tag: String) = (1 to 30).map(i => s"$tag$i").mkString(" ")
    def near(tag: String) = (1 to 29).map(i => s"$tag$i").mkString(" ") + " zzz"
    val corpus = Seq((1L, words("a")), (2L, words("b")), (3L, words("c")))
      .toDF("doc_id", "text")
    val batch = Seq(
      (10L, words("a")), // exact copy of corpus doc 1
      (11L, near("b")),  // near-dup of corpus doc 2 (J ~ 0.8)
      (12L, words("x")), // genuinely new
      (13L, near("x")),  // near-dup of EARLIER batch doc 12
      (14L, words("y"))  // genuinely new
    ).toDF("doc_id", "text")
    val byId = Dedup.incrementalDedup(batch, corpus, "doc_id", "text")
      .as[(Long, Boolean, Boolean, Boolean)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(byId.size == 5)
    assert(byId(10L) == ((true, false, false)))
    assert(byId(11L) == ((true, false, false)))
    assert(byId(12L) == ((false, false, true)))
    assert(byId(13L) == ((false, true, false)))
    assert(byId(14L) == ((false, false, true)))
  }

  test("containment catches the excerpt that jaccard structurally misses") {
    val long = (1 to 200).map(i => s"w$i").mkString(" ")
    val excerpt = (50 to 60).map(i => s"w$i").mkString(" ") // 11 tokens inside
    val fixture = Seq((1L, long), (2L, excerpt), (3L, "x1 x2 x3 x4 x5"))
      .toDF("doc_id", "text")
    val jac = Dedup.jaccardPairs(fixture, "doc_id", "text", 0.5)
      .select("a", "b").as[(Long, Long)].collect().toSet
    assert(!jac.contains((1L, 2L)), "excerpt should be invisible to jaccard")
    val cont = Dedup.containmentPairs(fixture, "doc_id", "text", 0.9)
      .as[(Long, Long, Long, Long, Long, Double)].collect()
    assert(cont.map(r => (r._1, r._2)).toSet == Set((1L, 2L)), s"got ${cont.toSeq}")
    // all 9 of the excerpt's 3-gram shingles appear in the long doc
    assert(cont.head._6 == 1.0, s"containment was ${cont.head._6}")
  }

  test("topFractionByDomain keeps exactly the integer top quartile") {
    // domain p: 8 rows -> keep 2; domain q: 5 rows -> rn*4<=5 keeps 1
    val rows = (1 to 8).map(i => (i.toLong, "p", i.toDouble)) ++
      (11 to 15).map(i => (i.toLong, "q", i.toDouble))
    val df = rows.toDF("id", "dom", "score")
    val kept = Curation.topFractionByDomain(df, "dom", "id", "score")
      .select("id").as[Long].collect().toSet
    // highest scores win; ties impossible here
    assert(kept == Set(7L, 8L, 15L), s"got $kept")
  }

  test("duplicateSpans localizes shared substrings as maximal token spans") {
    val fixture = Seq(
      (1L, "x1 x2 a b c d x3 x4"),   // shares "a b c d" with doc 2
      (2L, "y1 a b c d y2 y3"),
      (3L, "z1 z2 z3 z4"),           // nothing shared -> absent
      (4L, "a b c q1 q2 q3 d e f"),  // TWO disjoint spans shared with 5
      (5L, "a b c r1 r2 d e f")
    ).toDF("doc_id", "text")
    val out = Dedup.duplicateSpans(fixture, "doc_id", "text", n = 3)
      .as[(Long, Long, Long, Long, Long)].collect().toSet
    val expected = Set(
      (1L, 3L, 6L, 2L, 4L), (2L, 2L, 5L, 2L, 4L),
      (4L, 1L, 3L, 1L, 3L), (4L, 7L, 9L, 1L, 3L),
      (5L, 1L, 3L, 1L, 3L), (5L, 6L, 8L, 1L, 3L))
    assert(out == expected, s"got $out")
  }

  test("clipSpans removes exactly the duplicated run, keeps clean docs intact") {
    val fixture = Seq(
      (1L, "x1 x2 a b c d x3 x4"), // shares "a b c d" with doc 2
      (2L, "y1 a b c d y2 y3"),
      (3L, "z1 z2 z3 z4")          // untouched
    ).toDF("doc_id", "text")
    val out = Dedup.clipSpans(fixture, "doc_id", "text", n = 3)
      .as[(Long, String, Long)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(out(1L) == (("x1 x2 x3 x4", 4L)), s"got ${out(1L)}")
    assert(out(2L) == (("y1 y2 y3", 4L)), s"got ${out(2L)}")
    assert(out(3L) == (("z1 z2 z3 z4", 0L)), s"got ${out(3L)}")
  }

  test("clipContaminated removes reference runs; untouched docs intact") {
    val ref = Seq((100L, "e1 e2 e3 e4")).toDF("doc_id", "text")
    val cand = Seq(
      (1L, "a1 a2 e1 e2 e3 e4 a3 a4"), // quotes the eval set mid-doc
      (2L, "b1 b2 b3 b4 b5")           // clean
    ).toDF("doc_id", "text")
    val out = Dedup.clipContaminated(cand, ref, "doc_id", "text", n = 3)
      .as[(Long, String, Long)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    // contaminated 3-grams: "e1 e2 e3" (pos 3), "e2 e3 e4" (pos 4) ->
    // one span covering tokens 3..6
    assert(out(1L) == (("a1 a2 a3 a4", 4L)), s"got ${out(1L)}")
    assert(out(2L) == (("b1 b2 b3 b4 b5", 0L)), s"got ${out(2L)}")
  }

  test("duplicateSpans: runs with overlapping token extents merge into one disjoint span") {
    // doc 1 marks positions 1 ("a b c") and 3 ("c d e") — gap 2 = n-1, so
    // their token extents [1,3] and [3,5] overlap; a per-run report would
    // emit overlapping spans double-counting token 3. One merged span.
    val fixture = Seq(
      (1L, "a b c d e"),
      (2L, "a b c x"),   // shares "a b c" with 1
      (3L, "y c d e")    // shares "c d e" with 1 ("b c d" stays unique)
    ).toDF("doc_id", "text")
    val out = Dedup.duplicateSpans(fixture, "doc_id", "text", n = 3)
      .as[(Long, Long, Long, Long, Long)].collect().toSet
    assert(out == Set(
      (1L, 1L, 5L, 2L, 5L),   // merged: tokens 1..5, 2 duplicated 3-grams
      (2L, 1L, 3L, 1L, 3L),
      (3L, 2L, 4L, 1L, 3L)), s"got $out")
    // spans per doc are disjoint -> n_tokens is additive
    out.groupBy(_._1).foreach { case (_, spans) =>
      val sorted = spans.toSeq.sortBy(_._2)
      sorted.sliding(2).foreach {
        case Seq((_, _, e1, _, _), (_, s2, _, _, _)) => assert(e1 < s2)
        case _                                       =>
      }
    }
  }

  test("duplicateSpans: a doc duplicated only against itself is not marked") {
    // the same 3-gram twice INSIDE one doc is intra-doc repetition, not a
    // cross-corpus duplicate (countDistinct docs == 1)
    val fixture = Seq((1L, "a b c z1 z2 a b c")).toDF("doc_id", "text")
    assert(Dedup.duplicateSpans(fixture, "doc_id", "text", n = 3).isEmpty)
  }

  test("ngram decontamination flags exactly the docs sharing a long n-gram") {
    val cand = Seq(
      (1L, "a b c d e f g h i j"),     // contains ref's 8-gram
      (2L, "z y x w v u t s r q"),     // disjoint
      (3L, "a b c d e f g X i j")      // breaks the 8-gram mid-window
    ).toDF("doc_id", "text")
    val ref = Seq((100L, "a b c d e f g h extra words")).toDF("doc_id", "text")
    val report = Dedup.ngramOverlapReport(cand, ref, "doc_id", "text", n = 8)
      .as[(Long, Long, Long)].collect()
    assert(report.map(_._1).toSet == Set(1L))
    assert(report.head._2 == 1L) // exactly one shared 8-gram
    val clean = Dedup.decontaminateNgram(cand, ref, "doc_id", "text", n = 8)
      .select("doc_id").as[Long].collect().toSet
    assert(clean == Set(2L, 3L))
  }

  test("bloom decontamination: no false negatives, bounded overkill") {
    val ref = docs.filter(col("doc_id") % 7 === 0)
    val cand = docs.filter(col("doc_id") % 7 =!= 0)
    val exactClean = Dedup.decontaminateNgram(cand, ref, "doc_id", "text", n = 8)
      .select("doc_id").as[Long].collect().toSet
    // the raw-throughput murmur opt-in (murmur = true): the sketch path
    // behind the public default
    val bloomClean = Dedup.decontaminateNgramBloom(cand, ref, "doc_id", "text",
        n = 8, expectedNgrams = 100000L, fpp = 0.01, murmur = true)
      .select("doc_id").as[Long].collect().toSet
    // one-sided error: everything the bloom keeps, the exact path keeps
    // (no contaminated doc survives — no false negatives)
    assert((bloomClean -- exactClean).isEmpty,
      s"bloom kept contaminated docs: ${(bloomClean -- exactClean).take(5)}")
    // overkill (clean docs dropped by false positives) stays small at 1% fpp
    val overkill = (exactClean -- bloomClean).size.toDouble / exactClean.size.max(1)
    info(f"bloom overkill at fpp=0.01: $overkill%.4f (${(exactClean -- bloomClean).size} docs)")
    assert(overkill <= 0.05, s"overkill $overkill too high")
    // the REPLAYABLE (md5 double-hash bitset) twin: same one-sided
    // guarantee, same bound — the catalog runs this one under the hash
    // gate; the murmur variant above stays the raw-throughput option
    val replayClean = Dedup.decontaminateNgramBloomReplayable(cand, ref,
        "doc_id", "text", n = 8, numBits = 1 << 20, numHashes = 7)
      .select("doc_id").as[Long].collect().toSet
    assert((replayClean -- exactClean).isEmpty,
      s"replayable bloom kept contaminated docs: ${(replayClean -- exactClean).take(5)}")
    val overkill2 = (exactClean -- replayClean).size.toDouble / exactClean.size.max(1)
    info(f"replayable-bloom overkill: $overkill2%.4f")
    assert(overkill2 <= 0.05, s"overkill $overkill2 too high")
    // the PUBLIC DEFAULT (no murmur flag) sizes the filter from
    // (expectedNgrams, fpp) and runs the replayable md5 path — same
    // one-sided guarantee through the ergonomic entry
    val defaultClean = Dedup.decontaminateNgramBloom(cand, ref,
        "doc_id", "text", n = 8, expectedNgrams = 100000L, fpp = 0.01)
      .select("doc_id").as[Long].collect().toSet
    assert((defaultClean -- exactClean).isEmpty,
      s"default bloom kept contaminated docs: ${(defaultClean -- exactClean).take(5)}")
    val overkill3 = (exactClean -- defaultClean).size.toDouble / exactClean.size.max(1)
    assert(overkill3 <= 0.05, s"overkill $overkill3 too high")
  }

  test("domain mix honors per-domain caps in deterministic hash order") {
    val df = (1L to 200L).map(i => (i, if (i % 2 == 0) "web" else "code"))
      .toDF("doc_id", "domain")
    val mixed = Curation.domainMix(df, "domain", "doc_id",
      Map("web" -> 0.6, "code" -> 0.3), 50L)
    val byDomain = mixed.groupBy("domain").count()
      .as[(String, Long)].collect().toMap
    assert(byDomain == Map("web" -> 30L, "code" -> 15L))
    // deterministic: the same call returns the same winners
    val again = Curation.domainMix(df, "domain", "doc_id",
      Map("web" -> 0.6, "code" -> 0.3), 50L)
      .select("doc_id").as[Long].collect().toSet
    assert(again == mixed.select("doc_id").as[Long].collect().toSet)
    // exact decimal floor: IEEE 100 × 0.29 = 28.999… must still yield 29
    assert(Curation.domainMix(df, "domain", "doc_id",
      Map("web" -> 0.29), 100L).count() == 29L)
  }

  test("temperature mix upweights small domains by integer sqrt budgets") {
    // domains 100/25/4/1 -> isqrt weights 10/5/2/1 (sum 18); budget 90 ->
    // integer targets 50/25/10/5: the head domain's natural 77% share is
    // flattened to 50/90, the tail's 0.8% is lifted to 5/90
    val rows = (1 to 100).map(i => (i.toLong, "big")) ++
      (101 to 125).map(i => (i.toLong, "mid")) ++
      (126 to 129).map(i => (i.toLong, "small")) ++
      Seq((130L, "tiny"))
    val df = rows.toDF("doc_id", "domain")
    val got = Curation.domainMixTemperature(df, "domain", "doc_id", 90L)
      .groupBy("domain").count().as[(String, Long)].collect().toMap
    assert(got == Map("big" -> 50L, "mid" -> 25L, "small" -> 4L, "tiny" -> 1L),
      s"got $got")
  }

  test("bestPerCluster keeps the highest-scored doc, ties to smallest id") {
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("a", "b")
    val clusters = Dedup.duplicateClusters(pairs)
    val scores = Seq((1L, 5L), (2L, 9L), (3L, 9L), (10L, 1L), (11L, 1L))
      .toDF("doc_id", "score")
    val best = Dedup.bestPerCluster(clusters, scores, "doc_id", "score")
    val kept = best.filter(col("keep")).select("doc_id").as[Long].collect().toSet
    // cluster {1,2,3}: max score 9 held by 2 and 3 → smallest id 2 wins;
    // cluster {10,11}: tie at 1 → 10 wins
    assert(kept == Set(2L, 10L))
    assert(best.count() == 5) // every member still present, flagged
    // an UNSCORED member is kept in the output (left join, nulls-last),
    // never silently dropped
    val partial = Dedup.bestPerCluster(clusters,
      scores.filter(col("doc_id") =!= 3L), "doc_id", "score")
    assert(partial.count() == 5)
    assert(partial.filter(col("keep")).select("doc_id")
      .as[Long].collect().toSet == Set(2L, 10L))
  }

  test("takeByBudget: budget boundary exact, partition-count invariant") {
    val df = (1L to 500L).map(i => (i, i % 7 + 1)).toDF("id", "toks")
      .withColumn("toks", col("toks").cast("long"))
    val got = Curation.takeByBudget(df, Seq("id"), "toks", 100L)
      .select("id", "toks", "cum_before")
      .as[(Long, Long, Long)].collect().sortBy(_._1)
    // rows in id order: every kept row starts under budget; the next
    // row's start is the previous start + its tokens
    assert(got.head._3 == 0L)
    got.sliding(2).foreach { case Array(a, b) => assert(b._3 == a._3 + a._2) }
    assert(got.forall(_._3 < 100L))
    assert(got.last._3 + got.last._2 >= 100L) // budget actually exhausted
    // same result under a different partitioning
    val again = Curation.takeByBudget(df, Seq("id"), "toks", 100L,
        partitions = Some(3))
      .select("id", "toks", "cum_before")
      .as[(Long, Long, Long)].collect().sortBy(_._1)
    assert(again.toSeq == got.toSeq)
  }

  test("bigram surprisal: in-domain text scores lower than gibberish") {
    val ref = docs.limit(200)
    val inDomain = docs.orderBy("doc_id").limit(1)
      .select(col("doc_id"), col("text"))
    val probe = inDomain.unionByName(
      Seq((999999L, "zqx wvu tsr qpo nml kji hgf edc")).toDF("doc_id", "text"))
    val s = TextAnalysis.bigramSurprisal(probe, ref, "doc_id", "text")
      .as[(Long, Long, Double)].collect()
      .map(r => r._1 -> r._3).toMap
    val inId = inDomain.select("doc_id").as[Long].first()
    info(f"surprisal in-domain ${s(inId)}%.2f vs gibberish ${s(999999L)}%.2f")
    assert(s(999999L) > s(inId),
      s"gibberish should surprise a reference-trained LM more: $s")
    // the integer-exact twin (k = 1/2, bit-length scoring) tracks the
    // float surprisal within 1 bit per bigram — the quantization bound
    // of floor-log2 scoring on both the numerator and denominator —
    // and preserves the in-domain < gibberish ordering
    val ex = TextAnalysis.bigramSurprisalExact(probe, ref, "doc_id", "text")
      .as[(Long, Long, Long)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    val float = TextAnalysis.bigramSurprisal(probe, ref, "doc_id", "text",
        k = 0.5)
      .as[(Long, Long, Double)].collect()
      .map(r => r._1 -> r._3).toMap
    // (orderings separated by LESS than a bit — like this fixture's
    // 0.2-bit gap — can legitimately flip under the quantization; the
    // pinned contract is the per-bigram bound, not sub-bit ordering)
    ex.foreach { case (id, (nBi, bits)) =>
      val avgBits = bits.toDouble / nBi
      assert(math.abs(avgBits - float(id)) <= 1.0,
        s"doc $id: exact twin $avgBits bits vs float ${float(id)}")
    }
  }

  test("shuffleShards: contiguous in-shard positions, deterministic, balanced") {
    val df = (0L until 1000L).toDF("doc_id")
    val sharded = Curation.shuffleShards(df, "doc_id", 8)
      .as[(Long, Long, Long)].collect()
    val byShard = sharded.groupBy(_._2)
    assert(byShard.keySet.subsetOf((0L until 8L).toSet))
    // positions are a contiguous 0..n-1 run within every shard
    byShard.foreach { case (_, rows) =>
      assert(rows.map(_._3).sorted.toSeq == (0L until rows.length).toSeq)
    }
    // md5 uniformity: no shard hogs the corpus
    assert(byShard.values.map(_.length).max < 1000 / 8 * 2)
    // same permutation on re-run
    val again = Curation.shuffleShards(df, "doc_id", 8)
      .as[(Long, Long, Long)].collect()
    assert(again.sortBy(_._1).toSeq == sharded.sortBy(_._1).toSeq)
  }

  test("int8 quantization: bounded reconstruction error, cosine preserved") {
    val q = Embeddings.quantizeInt8(emb.limit(200), "embedding")
      .select("embedding", "qvec", "qscale")
      .as[(Array[Float], Seq[Byte], Double)].collect()
    assert(q.forall { case (v, qv, _) => v.length == qv.length })
    // elementwise: |x - q*s/127| <= s/254 (+ float slack); cosine ~ intact
    q.foreach { case (v, qv, s) =>
      if (s > 0) {
        v.zip(qv).foreach { case (x, qb) =>
          assert(math.abs(x - qb * s / 127.0) <= s / 254.0 + 1e-6) }
        val deq = qv.map(_ * s / 127.0)
        val cos = v.zip(deq).map { case (a, b) => a * b }.sum /
          (math.sqrt(v.map(x => x.toDouble * x).sum) *
           math.sqrt(deq.map(x => x * x).sum))
        assert(cos > 0.99, s"cosine degraded: $cos")
      }
    }
    // non-finite elements: excluded from the scale, quantized to 0 —
    // never an ANSI cast failure or a silently-zeroed vector
    val weird = Seq((1L, Array(1.0f, Float.NaN, Float.PositiveInfinity, -0.5f)))
      .toDF("id", "odd name")
    val wq = Embeddings.quantizeInt8(weird, "odd name") // non-identifier col
      .select(col("qscale"), col("qvec")).as[(Double, Seq[Byte])].first()
    assert(wq._1 == 1.0)
    assert(wq._2 == Seq[Byte](127, 0, 0, -64))
  }

  test("meanPool centroid matches a driver-side elementwise mean") {
    val emb = graft.api.Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
    val got = Embeddings.meanPool(emb, "label", "embedding")
      .orderBy("label").collect()
    // brute-force the expected centroid of one label on the driver
    val rows = emb.filter(col("label") === got.head.getInt(0)).collect()
      .map(_.getSeq[Float](1).toArray)
    val dim = rows.head.length
    val want = (0 until dim).map(i => rows.map(_(i).toDouble).sum / rows.length)
    val centroid = got.head.getSeq[Double](2)
    assert(got.head.getLong(1) == rows.length)
    assert(centroid.length == dim)
    centroid.zip(want).foreach { case (a, b) => assert(math.abs(a - b) < 1e-9) }
  }

  test("repetition signals separate degenerate from natural text") {
    import spark.implicits._
    val fixture = Seq(
      (1L, "spam spam spam spam spam spam spam spam"),
      (2L, "a genuinely varied sentence with mostly unique words here"),
      (3L, "one")).toDF("doc_id", "text")
    val got = TextAnalysis.repetition(fixture, "doc_id", "text")
      .orderBy("doc_id").collect()
    val spam = got(0); val natural = got(1); val single = got(2)
    assert(spam.getDouble(1) > 0.8 && spam.getDouble(2) == 1.0 &&
      spam.getDouble(3) == 1.0) // all tokens identical, all bigrams repeat
    assert(natural.getDouble(1) == 0.0 && natural.getDouble(3) == 0.0)
    assert(single.getDouble(3) == 0.0) // no bigrams → ratio 0, not null
  }

  test("decontaminate drops exact and near dups of the reference corpus") {
    import spark.implicits._
    val base = "the quick brown fox jumps over the lazy dog every single " +
      "day while the patient owl watches from the tall oak tree nearby"
    val ref = Seq(
      (1000L, base + " tonight"),
      (1001L, "short doc")).toDF("doc_id", "text")
    val cand = Seq(
      // high-jaccard near-dup of ref 1000 (only the final word differs →
      // J ≈ 0.9, well above the 0.7-tuned banding S-curve)
      (1L, base + " today"),
      // exact dup of ref 1001 — too short to shingle, md5 path must catch it
      (2L, "short doc"),
      // unrelated
      (3L, "completely different content about spark catalyst optimizer internals here"),
      (4L, "tiny")).toDF("doc_id", "text")
    val report = Dedup.crossCorpusPairs(cand, ref, "doc_id", "text", 0.7)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(report == Set((1L, 1000L), (2L, 1001L)))
    val kept = Dedup.decontaminate(cand, ref, "doc_id", "text", 0.7)
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(3L, 4L))
  }

  test("duplicateClusters: chains merge to one component, min id wins") {
    import spark.implicits._
    // components: {1,2,3,4} via chain 1-2, 2-3, 3-4; {10,11}; pairs only
    val pairs = Seq((2L, 1L), (2L, 3L), (4L, 3L), (10L, 11L))
      .toDF("a", "b")
    val got = Dedup.duplicateClusters(pairs)
      .orderBy("doc_id")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
    assert(got.toSeq == Seq(
      (1L, 1L, 4L, true), (2L, 1L, 4L, false), (3L, 1L, 4L, false),
      (4L, 1L, 4L, false), (10L, 10L, 2L, true), (11L, 10L, 2L, false)))
    // empty pair list → empty clustering, no NPE
    assert(Dedup.duplicateClusters(pairs.limit(0)).count() == 0)
    // string ids (URL/hash-keyed corpora): the chain must still converge
    // to one component — regression for the numeric-sum convergence check
    val spairs = Seq(("b", "a"), ("b", "c"), ("c", "d")).toDF("a", "b")
    val sgot = Dedup.duplicateClusters(spairs).orderBy("doc_id")
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq
    assert(sgot == Seq(("a", "a"), ("b", "a"), ("c", "a"), ("d", "a")))
  }

  test("simhash: near-dup pairs have small hamming distance (md5 and xx64)") {
    val nearDups = Dedup.jaccardPairs(docs, "doc_id", "text", 0.9)
      .select("a", "b").as[(Long, Long)].collect()
    assert(nearDups.nonEmpty)
    def hamming(x: String, y: String) = x.zip(y).count { case (a, b) => a != b }
    def separation(sigs: Map[Long, String]): (Double, Double) = {
      val dupDist = nearDups.map { case (a, b) => hamming(sigs(a), sigs(b)) }
      val rng = new scala.util.Random(7)
      val ids = sigs.keys.toArray
      val randDist = (1 to 200).map { _ =>
        hamming(sigs(ids(rng.nextInt(ids.length))), sigs(ids(rng.nextInt(ids.length))))
      }
      (dupDist.sum.toDouble / dupDist.length, randDist.sum.toDouble / randDist.length)
    }
    val (dupMd5, randMd5) = separation(
      Dedup.simhashSignatures(docs, "doc_id", "text").as[(Long, String)].collect().toMap)
    info(f"md5 simhash mean hamming: dups=$dupMd5%.2f random=$randMd5%.2f")
    assert(dupMd5 < randMd5)
    val (dupXx, randXx) = separation(
      Dedup.simhashSignaturesXx(docs, "doc_id", "text").as[(Long, String)].collect().toMap)
    info(f"xx64 simhash mean hamming: dups=$dupXx%.2f random=$randXx%.2f")
    assert(dupXx < randXx)
  }

  test("PII scrubbing replaces emails, phones, and long digit runs") {
    val dirty = Seq(
      (1L, "contact bob@example.com or +1 (555) 123-4567 ok"),
      (2L, "ssn-ish 123456789 stays hidden"),
      (3L, "clean text with the number 42 kept")).toDF("doc_id", "text")
    val got = Curation.scrubPii(dirty, "text")
      .orderBy("doc_id").as[(Long, String)].collect().toSeq
    assert(got(0)._2 == "contact <EMAIL> or <PHONE> ok")
    assert(got(1)._2 == "ssn-ish <NUM> stays hidden")
    assert(got(2)._2 == "clean text with the number 42 kept")
    // dates, amounts, versions, and IPs survive the phone pattern
    val benign = Seq((1L, "released 2024-01-01, costs 1 000 000.50, " +
      "v1.2.3-4567, host 192.168.0.100")).toDF("doc_id", "text")
    assert(Curation.scrubPii(benign, "text").as[(Long, String)].head()._2 ==
      "released 2024-01-01, costs 1 000 000.50, v1.2.3-4567, host 192.168.0.100")
  }

  test("stratified sample: deterministic, bounded per stratum") {
    val a = Curation.stratifiedSample(docs, "lang", "doc_id", 5)
      .select("doc_id").as[Long].collect().toSet
    val b = Curation.stratifiedSample(docs.repartition(11), "lang", "doc_id", 5)
      .select("doc_id").as[Long].collect().toSet
    assert(a == b)
    val perLang = Curation.stratifiedSample(docs, "lang", "doc_id", 5)
      .groupBy("lang").count().as[(String, Long)].collect()
    assert(perLang.forall(_._2 <= 5))
  }

  test("sequence packing: no bin exceeds budget except single oversize docs") {
    val packed = Curation.packSequences(
      docs.select(col("doc_id"), col("source"),
        size(split(col("text"), " ")).as("n_tokens")),
      "source", "doc_id", "n_tokens", 512)
    val binTotals = packed.groupBy("source", "bin")
      .agg(sum("n_tokens").as("tot"), count(lit(1)).as("n"))
      .as[(String, Long, Long, Long)].collect()
    // a bin only exceeds the budget by at most its last-added doc
    assert(binTotals.forall { case (_, _, tot, n) => tot < 512 * 2 || n == 1 })
    assert(packed.count() == docs.count())
  }

  test("approx distinct is within the configured error of exact") {
    val li = Tables.load(spark, "/root/testdata/sf0.001", "lineitem")
    val approx = li.agg(approx_count_distinct(col("l_partkey"), 0.02)).as[Long].head()
    val exact = li.select("l_partkey").distinct().count()
    assert(math.abs(approx - exact).toDouble / exact < 0.1,
      s"approx=$approx exact=$exact")
  }

  test("Log2Histogram aggregator: counts per bucket, partition-invariant") {
    import org.apache.spark.sql.functions.udaf
    val hist = udaf(new CorpusAggregators.Log2Histogram)
    val lens = docs.select(length(col("text")).cast("long").as("len"))
    val h1 = lens.agg(hist(col("len"))).as[Map[Int, Long]].head()
    val h2 = lens.repartition(13).agg(hist(col("len"))).as[Map[Int, Long]].head()
    assert(h1 == h2)
    assert(h1.values.sum == docs.count())
    // docs are 48..~550 chars → buckets 5..9 only
    assert(h1.keys.forall(b => b >= 5 && b <= 9), h1.toString)
  }

  test("multimodal: stub decode is deterministic and partition-invariant") {
    val withBytes = Multimodal.withPayload(docs, "doc_id", "text")
    val a = Multimodal.decodeFrames(withBytes, "doc_id")
      .orderBy("id", "frame_no").collect().toSeq
    val b = Multimodal.decodeFrames(withBytes.repartition(13), "doc_id")
      .orderBy("id", "frame_no").collect().toSeq
    assert(a == b)
    assert(a.nonEmpty)
  }

  test("BMP codec: encode/decode round-trip is exact, including row padding") {
    // width 3 → 9 data bytes per row + 3 padding bytes (4-byte alignment):
    // the round-trip only survives if padding and bottom-up order are real
    val rgb = Array.tabulate[Byte](3 * 2 * 3)(i => (i * 7 + 1).toByte)
    val img = Bmp.Image(3, 2, rgb)
    val bytes = Bmp.encode(img)
    assert(bytes.length == Bmp.encodedSize(3, 2))
    assert(Bmp.isBmp(bytes))
    val (back, consumed) = Bmp.decode(bytes)
    assert(consumed == bytes.length)
    assert(back.width == 3 && back.height == 2)
    assert(back.rgb.sameElements(rgb))
    // concatenated stream: two frames, walked by header-declared sizes
    val two = bytes ++ Bmp.encode(Bmp.resize(img, 2, 5))
    val frames = Bmp.decodeAll(two)
    assert(frames.map(f => (f.width, f.height)) == Seq((3, 2), (2, 5)))
    // corrupt input fails loudly, never silently decodes
    intercept[IllegalArgumentException](Bmp.decode("JUNKJUNK".getBytes))
  }

  test("multimodal: opaque text starting with 'BM'/'RIFF' routes to the stub, not the codec") {
    // regression: the 2-byte magic alone would send "BMW…" text into the
    // strict BMP parser and crash the task; routing must sniff the full
    // header before committing to the real codec
    val tricky = Seq((1L, "BMW is a carmaker"), (2L, "RIFFraff WAVEforms"),
      (3L, "BM"), (4L, "plain text")).toDF("doc_id", "text")
    val withBytes = Multimodal.withPayload(tricky, "doc_id", "text")
    assert(Multimodal.decodeFrames(withBytes, "doc_id").count() > 0)
    val feats = Multimodal.extractFeatures(withBytes, "doc_id", dim = 4)
    assert(feats.count() == 4)
  }

  test("multimodal: BMP frames carry header dims and decoded-pixel means") {
    val withBytes = Multimodal.withBmpPayload(docs.limit(30), "doc_id", "text")
    val frames = Multimodal.decodeFrames(withBytes, "doc_id")
      .orderBy("id", "frame_no").collect().toSeq
    assert(frames.nonEmpty)
    // dims are the generator's header values, decoded back out of the files
    assert(frames.forall { r =>
      val (w, h) = (r.getInt(2), r.getInt(3))
      w >= 8 && w <= 16 && h >= 6 && h <= 10
    })
    // cross-check one payload against a direct driver-side codec pass
    val (id0, payload0) = withBytes.select("doc_id", "payload")
      .orderBy("doc_id").as[(Long, Array[Byte])].head()
    val direct = Bmp.decodeAll(payload0).map { img =>
      img.gray.map(_.toLong).sum.toDouble / img.gray.length
    }
    val engine = frames.filter(_.getLong(0) == id0).map(_.getDouble(4))
    assert(engine == direct, s"engine means $engine != codec means $direct")
    // partition-invariant
    val again = Multimodal.decodeFrames(withBytes.repartition(13), "doc_id")
      .orderBy("id", "frame_no").collect().toSeq
    assert(frames == again)
  }

  test("multimodal: resizeImages re-encodes decodable frames at target dims") {
    val withBytes = Multimodal.withBmpPayload(docs.limit(20), "doc_id", "text")
    val nFrames = Multimodal.decodeFrames(withBytes, "doc_id")
      .groupBy("id").count().orderBy("id").collect().toSeq
    val resized = Multimodal.resizeImages(withBytes, "doc_id", 4, 4)
    val back = Multimodal.decodeFrames(resized, "doc_id")
    assert(back.filter(col("width") =!= 4 || col("height") =!= 4).count() == 0)
    // frame counts survive the transcode
    val nAfter = back.groupBy("id").count().orderBy("id").collect().toSeq
    assert(nAfter == nFrames)
    // metadata is refreshed for the new payload
    val m = resized.select("meta.media_type").distinct().as[String].collect()
    assert(m.sameElements(Array("image/bmp;resized=4x4")))
  }

  test("WAV codec: encode/decode round-trip exact; skips foreign chunks; rejects junk") {
    val samples = Array.tabulate[Short](300)(i => ((i * 977) % 30000 - 15000).toShort)
    val audio = Wav.Audio(8000, samples)
    val bytes = Wav.encode(audio)
    assert(bytes.length == Wav.encodedSize(300))
    val back = Wav.decode(bytes)
    assert(back.sampleRate == 8000 && back.samples.sameElements(samples))
    // a LIST chunk spliced before 'data' must be skipped, per the format
    val list = java.nio.ByteBuffer.allocate(12)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    list.put("LIST".getBytes("US-ASCII")).putInt(4).put("INFO".getBytes("US-ASCII"))
    val spliced = bytes.take(36) ++ list.array() ++ bytes.drop(36)
    val back2 = Wav.decode(spliced)
    assert(back2.samples.sameElements(samples))
    intercept[IllegalArgumentException](Wav.decode("NOTAWAVFILE!".getBytes))
  }

  test("multimodal: audio stats come from genuinely decoded PCM") {
    val withBytes = Multimodal.withWavPayload(docs.limit(30), "doc_id", "text")
    val stats = Multimodal.decodeAudio(withBytes, "doc_id")
      .orderBy("id").collect().toSeq
    assert(stats.size == 30)
    // cross-check one payload against a direct driver-side codec pass
    val (id0, payload0) = withBytes.select("doc_id", "payload")
      .orderBy("doc_id").as[(Long, Array[Byte])].head()
    val a = Wav.decode(payload0)
    val row = stats.find(_.getLong(0) == id0).get
    assert(row.getInt(1) == a.sampleRate)
    assert(row.getInt(2) == a.samples.length)
    assert(row.getLong(4) == (a.rms * 1e6).toLong)
    // partition-invariant
    val again = Multimodal.decodeAudio(withBytes.repartition(11), "doc_id")
      .orderBy("id").collect().toSeq
    assert(stats == again)
  }

  test("multimodal: audio windows tile the sample stream; resample halves it") {
    val withBytes = Multimodal.withWavPayload(docs.limit(10), "doc_id", "text")
    val wins = Multimodal.audioWindows(withBytes, "doc_id", windowMs = 125)
    val perDoc = wins.groupBy("id")
      .agg(sum("n_samples").as("n"), count(lit(1)).as("w"))
      .orderBy("id").collect()
    val totals = Multimodal.decodeAudio(withBytes, "doc_id")
      .orderBy("id").collect()
    // windows cover every sample exactly once (8000 Hz × 125 ms = 1000/win)
    perDoc.zip(totals).foreach { case (w, t) =>
      assert(w.getLong(1) == t.getInt(2))
      assert(w.getLong(2) == (t.getInt(2) + 999) / 1000)
    }
    val down = Multimodal.resampleAudio(withBytes, "doc_id", 4000)
    val downStats = Multimodal.decodeAudio(down, "doc_id").orderBy("id").collect()
    totals.zip(downStats).foreach { case (t, d) =>
      assert(d.getInt(1) == 4000)
      assert(d.getInt(2) == t.getInt(2) / 2) // nearest-neighbor halving
    }
    val m = down.select("meta.media_type").distinct().as[String].collect()
    assert(m.sameElements(Array("audio/wav;rate=4000")))
  }

  test("multimodal: feature extraction is unit-norm, partition-invariant, ANN-composable") {
    val withBytes = Multimodal.withPayload(docs.limit(50), "doc_id", "text")
    val feats = Multimodal.extractFeatures(withBytes, "doc_id", dim = 8)
    val rows = feats.as[(Long, Array[Float])].collect()
    assert(rows.forall(_._2.length == 8))
    assert(rows.forall(r => math.abs(r._2.map(v => v.toDouble * v).sum - 1.0) < 1e-4))
    // partition-invariant: same vectors under a different partitioning
    val again = Multimodal.extractFeatures(withBytes.repartition(7), "doc_id", dim = 8)
      .as[(Long, Array[Float])].collect().toMap
    assert(rows.forall { case (id, v) => again(id).sameElements(v) })
    // the output column plugs straight into the similarity operators
    val topk = Similarity.bruteForceTopK(feats,
      feats.filter(col("doc_id") < 2), "doc_id", "feature", 5)
    assert(topk.count() == 10)
  }

  test("multimodal: resize hits the target byte length with refreshed metadata") {
    val withBytes = Multimodal.withPayload(docs.limit(20), "doc_id", "text")
    val resized = Multimodal.resizePayloads(withBytes, "doc_id", 128)
    val rows = resized.select(col("payload"), col("meta.byte_len"), col("meta.sha256"))
      .as[(Array[Byte], Int, String)].collect()
    assert(rows.forall(_._1.length == 128))
    assert(rows.forall(_._2 == 128))
    // metadata sha matches the emitted payload (recompute driver-side)
    val md = java.security.MessageDigest.getInstance("SHA-256")
    assert(rows.forall { case (p, _, sha) =>
      md.reset(); md.digest(p).map("%02x".format(_)).mkString == sha })
    // frame sampling: keeps frame 0 and every k-th
    val frames = Multimodal.decodeFrames(withBytes, "doc_id")
    val sampled = Multimodal.sampleFrames(frames, 2)
    assert(sampled.filter(col("frame_no") % 2 =!= 0).count() == 0)
    assert(sampled.filter(col("frame_no") === 0).count() ==
      frames.select("id").distinct().count())
  }

  test("multimodal: metadata byte_len matches utf-8 payload size") {
    val meta = Multimodal.metadata(
      Multimodal.withPayload(docs, "doc_id", "text"), "doc_id")
    val bad = meta.join(docs, "doc_id")
      .filter(length(encode(col("text"), "UTF-8")) =!= col("byte_len"))
    assert(bad.count() == 0)
  }

  test("shingles handle documents shorter than the n-gram size") {
    val short = Seq((1L, "only two"), (2L, "a"), (3L, ""),
      (4L, "one two three four")).toDF("doc_id", "text")
    val sh = Dedup.shingles(short, "doc_id", "text")
      .as[(Long, String)].collect().toSet
    assert(sh == Set((4L, "one two three"), (4L, "two three four")))
    // whole pipelines survive short docs
    assert(Dedup.minhashSignatures(short, "doc_id", "text").count() == 1)
    assert(Dedup.jaccardPairs(short, "doc_id", "text", 0.1).count() == 0)
  }

  test("vec_dot: null element yields null; length mismatch fails loudly") {
    import graft.functions.GraftFunctions
    GraftFunctions.register(spark)
    val r = spark.sql(
      "SELECT vec_dot(array(1.0D, cast(null as double)), array(2.0D, 3.0D)) AS d")
      .collect().head
    assert(r.isNullAt(0))
    val e = intercept[Exception] {
      spark.sql("SELECT vec_dot(array(1.0D), array(1.0D, 2.0D))").collect()
    }
    assert(e.getMessage.contains("mismatched vector lengths") ||
      Option(e.getCause).exists(_.getMessage.contains("mismatched vector lengths")))
  }

  test("tfidf: distinctive rare terms outrank common terms, both idf variants") {
    val fixture = Seq(
      (1L, "the cat the dog zebra"),
      (2L, "the cat the cat"),
      (3L, "the dog the dog")).toDF("doc_id", "text")
    // doc 1: "zebra" (tf=1, df=1) must beat "the" (tf=2, df=3) under both
    // weightings — tf/df: 1.0 vs 0.67; tf·ln(N/df): 1.10 vs 0
    for (logIdf <- Seq(false, true)) {
      val top = TextAnalysis.tfidfTop(fixture, "doc_id", "text", 1, logIdf)
        .filter(col("doc_id") === 1).select("tok").as[String].collect()
      assert(top.sameElements(Array("zebra")), s"logIdf=$logIdf got ${top.toSeq}")
    }
    // df counts DOCUMENTS, not occurrences: "cat" appears 5 times in 2 docs
    val dfOfCat = TextAnalysis.tfidfTop(fixture, "doc_id", "text", 5)
      .filter(col("tok") === "cat").select("df").distinct().as[Long].collect()
    assert(dfOfCat.sameElements(Array(2L)))
  }

  test("nb quality classifier: margin sign tracks the training split") {
    val good = Seq((1L, "clean prose clean prose"),
      (2L, "clean text here")).toDF("doc_id", "text")
    val bad = Seq((3L, "spam spam junk"), (4L, "junk spam")).toDF("doc_id", "text")
    val docs = Seq(
      (10L, "clean prose here"),   // all good-corpus tokens → positive
      (11L, "spam junk spam"),     // all bad-corpus tokens → negative
      (12L, "unseen words only")   // model misses → score 0, label 0
    ).toDF("doc_id", "text")
    val r = TextAnalysis.nbQualityScore(docs, good, bad, "doc_id", "text")
      .orderBy("doc_id").collect()
    assert(r.map(_.getInt(3)).toSeq == Seq(1, 0, 0))
    assert(r(0).getLong(2) > 0 && r(1).getLong(2) < 0 && r(2).getLong(2) == 0L)
    // exact weight arithmetic: N_good=7, N_bad=5; "clean": 3·10⁶ div 7 =
    // 428571; "spam": −(3·10⁶ div 5) = −600000
    val w = TextAnalysis.nbQualityScore(
      Seq((20L, "clean")).toDF("doc_id", "text"), good, bad, "doc_id", "text")
      .select("score").as[Long].head()
    assert(w == 3000000L / 7)
    // the model side must broadcast — the corpus never shuffles for it
    val plan = TextAnalysis.nbQualityScore(docs, good, bad, "doc_id", "text")
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan.take(400))
    intercept[IllegalArgumentException] {
      TextAnalysis.nbQualityScore(docs, good.limit(0), bad, "doc_id", "text")
    }
  }

  test("bm25: rare-term match outranks common-term match, k respected") {
    val docs = Seq(
      (1L, "zebra stripes in the savanna"),
      (2L, "the the the the the"),
      (3L, "zebra zebra zebra stripes"),
      (4L, "common words all around here")).toDF("doc_id", "text")
    val qs = Seq((100L, "zebra stripes")).toDF("qid", "qtext")
    val r = TextAnalysis.bm25TopK(docs, qs, "doc_id", "text", "qid", "qtext", 2)
      .orderBy("rank").collect()
    // only docs 1 and 3 contain query terms; k=2 caps the list
    assert(r.length == 2)
    assert(r.map(_.getLong(1)).toSet == Set(1L, 3L))
    // doc 2 (no query terms) never appears even with a big k
    val all = TextAnalysis.bm25TopK(docs, qs, "doc_id", "text", "qid", "qtext", 10)
      .select("id").as[Long].collect().toSet
    assert(!all.contains(2L) && !all.contains(4L))
    intercept[IllegalArgumentException] {
      TextAnalysis.bm25TopK(docs.limit(0), qs, "doc_id", "text", "qid", "qtext")
    }
  }

  test("bpe pair counts: occurrence-weighted adjacent pairs, 1-char words skipped") {
    val docs = Seq((1L, "abc ab a"), (2L, "ab abc")).toDF("doc_id", "text")
    // words: abc×2, ab×2, a×1(skipped) → "ab": 2+2 = 4, "bc": 2
    val r = TextAnalysis.bpePairCounts(docs, "text", 10)
      .as[(String, Long)].collect().toMap
    assert(r == Map("ab" -> 4L, "bc" -> 2L))
  }

  test("chunk tokens: full coverage, overlap, short tail") {
    val docs = Seq((1L, "a b c d e f g h i j")).toDF("doc_id", "text") // 10 toks
    val r = Curation.chunkTokens(docs, "doc_id", "text", 4, 3)
      .orderBy("chunk_id").collect()
    // starts 0,3,6: windows [a..d], [d..g], [g..j] — every token covered,
    // 1-token overlap at each seam
    assert(r.map(_.getLong(2)).toSeq == Seq(0L, 3L, 6L))
    assert(r.map(_.getString(4)).toSeq ==
      Seq("a b c d", "d e f g", "g h i j"))
    // n=9 → last chunk is a short tail, not dropped
    val tail9 = Curation.chunkTokens(
      Seq((1L, "a b c d e f g h i")).toDF("doc_id", "text"), "doc_id", "text", 4, 3)
      .orderBy("chunk_id").collect()
    assert(tail9.last.getString(4) == "g h i" && tail9.last.getInt(3) == 3)
    // doc shorter than the window → exactly one chunk
    val short = Curation.chunkTokens(
      Seq((1L, "a b")).toDF("doc_id", "text"), "doc_id", "text", 4, 3).collect()
    assert(short.length == 1 && short.head.getString(4) == "a b")
    intercept[IllegalArgumentException] {
      Curation.chunkTokens(docs, "doc_id", "text", 4, 5) // stride > window
    }
  }

  test("rrf fusion: two-list consensus outranks single-list hits") {
    val a = Seq((1L, 10L, 1), (1L, 11L, 2), (1L, 12L, 3)).toDF("qid", "id", "rank")
    val b = Seq((1L, 11L, 1), (1L, 13L, 2)).toDF("qid", "id", "rank")
    val r = TextAnalysis.rrfFuse(a, b, 10).orderBy("rank").collect()
    // id 11 is in both lists (1/62 + 1/61) — must beat every single-list
    // doc, including a's rank-1 (1/61)
    assert(r.head.getLong(1) == 11L)
    assert(r.map(_.getLong(1)).toSet == Set(10L, 11L, 12L, 13L))
    // k caps the fused list
    assert(TextAnalysis.rrfFuse(a, b, 2).count() == 2)
    intercept[IllegalArgumentException] { TextAnalysis.rrfFuse(a, b, 2, kk = 0) }
  }

  test("corpus drift: disjoint tokens dominate the chi-square ranking") {
    val a = Seq((1L, "shared shared alpha alpha alpha"),
      (2L, "shared alpha")).toDF("doc_id", "text")
    val b = Seq((3L, "shared shared beta beta beta"),
      (4L, "shared beta")).toDF("doc_id", "text")
    val r = TextAnalysis.driftTopTokens(a, b, "text", 10).collect()
    // alpha (4:0) and beta (0:4) drift maximally and symmetrically;
    // shared (3:3) drifts least
    val byTok = r.map(x => x.getString(0) -> x.getDouble(3)).toMap
    assert(byTok("alpha") == byTok("beta"))
    assert(byTok("alpha") > byTok("shared"))
    assert(r.take(2).map(_.getString(0)).toSet == Set("alpha", "beta"))
    // counts carried through the full-outer join, absent side = 0
    val alpha = r.find(_.getString(0) == "alpha").get
    assert(alpha.getLong(1) == 4L && alpha.getLong(2) == 0L)
    intercept[IllegalArgumentException] {
      TextAnalysis.driftTopTokens(a.limit(0), b, "text")
    }
  }

  test("norm outliers: rank-based tails flag extremes, ties included") {
    import graft.functions.VectorFunctions.vec_norm
    val rows = (1L to 10L).map(i => (i, Array.fill(2)(i.toFloat)))
    val df = rows.toDF("vec_id", "embedding")
    // tailFrac 0.1 → k=1: smallest (id 1) and largest (id 10) norms
    val r = Embeddings.normOutliers(df, "vec_id", "embedding", 0.1)
      .orderBy("vec_id").collect()
    assert(r.map(x => (x.getLong(0), x.getString(2))).toSeq ==
      Seq((1L, "low"), (10L, "high")))
    // a tie at the cutoff flags BOTH tied rows
    val tied = (Seq((1L, Array(1f, 1f)), (2L, Array(1f, 1f))) ++
      (3L to 6L).map(i => (i, Array.fill(2)(i.toFloat)))).toDF("vec_id", "embedding")
    val lows = Embeddings.normOutliers(tied, "vec_id", "embedding", 0.1)
      .filter(col("side") === "low").select("vec_id").as[Long].collect().toSet
    assert(lows == Set(1L, 2L))
    intercept[IllegalArgumentException] {
      Embeddings.normOutliers(df, "vec_id", "embedding", 0.6)
    }
  }

  test("pagerank: in-degree drives rank, mass conserved without dangling nodes") {
    import graft.operators.GraphOps
    // 1←{2,3}, 2←1, 3 gets nothing; every node has out-edges → total
    // mass stays 1 per iteration (after 3 (odd) iterations node 1 — the
    // only node with in-degree 2 — leads)
    val edges = Seq((2L, 1L), (3L, 1L), (1L, 2L)).toDF("src", "dst")
    val pr = GraphOps.pageRank(edges, "src", "dst", iterations = 3)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(pr(1L) > pr(2L) && pr(2L) > pr(3L), pr.toString)
    assert(math.abs(pr.values.sum - 1.0) < 1e-9, pr.values.sum.toString)
    // node 3 receives no in-flow: exactly the base term
    assert(math.abs(pr(3L) - 0.15 / 3) < 1e-12)
    // production fold (plain sum, partial-agg friendly) agrees to float
    // tolerance
    val fast = GraphOps.pageRank(edges, "src", "dst", iterations = 3,
      orderedFold = false).collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(pr.forall { case (k, v) => math.abs(fast(k) - v) < 1e-12 })
    intercept[IllegalArgumentException] {
      GraphOps.pageRank(edges, "src", "dst", iterations = 0)
    }
    intercept[IllegalArgumentException] {
      GraphOps.pageRank(edges, "src", "dst", damping = 1.5)
    }
  }

  test("language id picks the language whose markers dominate") {
    val sample = Seq(
      (1L, "the cat and the dog of the house is big"),
      (2L, "der hund und die katze ist nicht der beste und der"),
      (3L, "le chat et la maison est grande et le chien et la"),
      (4L, "el gato y los perros es grande y el y los")).toDF("doc_id", "text")
    val got = TextAnalysis.languageId(sample, "doc_id", "text")
      .orderBy("doc_id").select("lang_pred").as[String].collect().toSeq
    assert(got == Seq("en", "de", "fr", "es"))
  }

  test("dedupLines strikes shared template lines, keeps order, never drops docs") {
    val docs = Seq(
      (1L, "cookie banner\nreal content one\nfooter nav"),
      (2L, "cookie banner\nunique text two\nfooter nav"),
      (3L, "cookie banner\nfooter nav"),          // ALL lines boilerplate
      (4L, "standalone doc\n\nwith an empty line")) // empty line kept
      .toDF("doc_id", "text")
    val got = TextAnalysis.dedupLines(docs, "doc_id", "text", minDocs = 2)
      .orderBy("doc_id")
      .as[(Long, String, Long, Long)].collect().toSeq
    assert(got == Seq(
      (1L, "real content one", 3L, 2L),
      (2L, "unique text two", 3L, 2L),
      (3L, "", 2L, 2L),
      (4L, "standalone doc\n\nwith an empty line", 3L, 0L)), s"got $got")
    intercept[IllegalArgumentException] {
      TextAnalysis.dedupLines(docs, "doc_id", "text", minDocs = 1)
    }
  }

  test("rendezvousShard: growth moves only what the new shard wins; removal only its own") {
    val ids = (0L until 2000L).toDF("id")
    val a = ids.select(col("id"),
        Curation.rendezvousShard(col("id"), 8).as("s8"),
        Curation.rendezvousShard(col("id"), 9).as("s9"))
      .as[(Long, Int, Int)].collect().toSeq
    // every mover moved TO the new shard — the HRW defining property
    val movers = a.filter(t => t._2 != t._3)
    assert(movers.nonEmpty && movers.forall(_._3 == 8),
      s"a grow-mover landed off the new shard: ${movers.take(5)}")
    // movement mass ≈ 1/9 (binomial, generous 3x bound)
    assert(movers.size > 2000 / 9 / 3 && movers.size < 2000 / 9 * 3,
      s"moved ${movers.size} of 2000")
    // removal symmetry: dropping shard 8 restores the N=8 assignment
    // EXACTLY for every key (HRW argmax over a subset)
    assert(a.forall(t => t._3 != 8 || t._2 == a.find(_._1 == t._1).get._2))
    val back = a.filter(_._3 != 8)
    assert(back.forall(t => t._2 == t._3), "a non-8 key changed shards")
    // every shard is populated (balance sanity)
    assert(a.map(_._3).distinct.sorted == (0 to 8), "empty shard at N=9")
    intercept[IllegalArgumentException] {
      Curation.rendezvousShard(col("id"), 0)
    }
  }

  test("StreamLineDedup.clean equals the batch dedupLines row for row") {
    // the zero-state serve kernel (plan-constant template set, in-row
    // array filter) must reproduce the mine-and-anti-join batch table
    val docs = Seq(
      (1L, "cookie banner\nreal content one\nfooter nav"),
      (2L, "cookie banner\nunique text two\nfooter nav"),
      (3L, "cookie banner\nfooter nav"),
      (4L, "standalone doc\n\nwith an empty line")).toDF("doc_id", "text")
    val batch = TextAnalysis.dedupLines(docs, "doc_id", "text", minDocs = 2)
      .orderBy("doc_id").as[(Long, String, Long, Long)].collect().toSeq
    val model = TextAnalysis.boilerplateLines(docs, "doc_id", "text", 2)
      .select("line").as[String].collect().toSet
    val served = graft.streaming.StreamLineDedup
      .clean(docs, model, "doc_id", "text")
      .orderBy("doc_id").as[(Long, String, Long, Long)].collect().toSeq
    assert(served == batch, s"served $served vs batch $batch")
    intercept[IllegalArgumentException] {
      graft.streaming.StreamLineDedup.clean(docs, Set.empty, "doc_id", "text")
    }
  }

  test("capped jaccard mining: bounded posting kernel ≡ collect_list + " +
      "size filter, planted hot shingle (r17)") {
    // The capped shinglePairCounts path replaced sort_array(collect_list)
    // + size filter with the bounded min_k_pairs kernel (length cap+1 ⇒
    // overflow ⇒ drop). Plant a boilerplate trigram shared by MORE docs
    // than the cap: its pairs must vanish from the counts exactly as the
    // unbounded form dropped them, and every other count must be
    // bit-identical to the old form, reconstructed inline here.
    val cap = 3
    val boiler = "shared boiler plate line"
    val fixture = Seq(
      (1L, s"$boiler alpha beta gamma delta"),
      (2L, s"$boiler alpha beta gamma epsilon"),
      (3L, s"$boiler zeta eta theta iota"),
      (4L, s"$boiler zeta eta theta kappa"),
      (5L, s"$boiler lambda mu nu xi"),
      (6L, "unrelated words entirely different text here"),
      (7L, "unrelated words entirely different text there")
    ).toDF("doc_id", "text")
    val got = Dedup.jaccardPairs(fixture, "doc_id", "text", 0.0, n = 3,
        maxShingleFreq = Some(cap))
      .select("a", "b", "n_common", "n_a", "n_b")
      .as[(Long, Long, Long, Long, Long)].collect().toSeq.sorted
    // reference: the pre-r17 unbounded form over the same shingle rows
    val lists = Dedup.shingles(fixture, "doc_id", "text", 3)
      .groupBy("shingle")
      .agg(sort_array(collect_list(col("doc_id"))).as("__ids"))
      .filter(size(col("__ids")) <= cap)
      .select("__ids").cache()
    val common = lists
      .select(col("__ids"), posexplode(col("__ids")).as(Seq("__i", "a")))
      .select(col("a"), explode(expr("slice(__ids, __i + 2, size(__ids))")).as("b"))
      .groupBy("a", "b").agg(count(lit(1)).as("n_common"))
    val sizes = lists.select(explode(col("__ids")).as("doc_id"))
      .groupBy("doc_id").agg(count(lit(1)).as("n_sh"))
    val want = common
      .join(sizes.select(col("doc_id").as("a"), col("n_sh").as("n_a")), Seq("a"))
      .join(sizes.select(col("doc_id").as("b"), col("n_sh").as("n_b")), Seq("b"))
      .select("a", "b", "n_common", "n_a", "n_b")
      .as[(Long, Long, Long, Long, Long)].collect().toSeq.sorted
    lists.unpersist()
    assert(want.nonEmpty, "fixture mined no pairs — test is vacuous")
    assert(got == want, s"bounded $got vs unbounded $want")
    // the hot shingle is shared by 5 > cap docs: it must not connect the
    // otherwise-disjoint doc groups (e.g. no (1,3) pair via boilerplate)
    assert(!got.exists(p => p._1 == 1L && p._2 == 3L),
      "hot shingle leaked a cross-group pair past the cap")
  }
}
