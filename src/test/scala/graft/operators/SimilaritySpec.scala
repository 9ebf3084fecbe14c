package graft.operators

import graft.{Tables, TestSpark}
import org.scalatest.funsuite.AnyFunSuite

class SimilaritySpec extends AnyFunSuite {

  private val dir = "/root/testdata/sf0.001"

  test("ivfTopK with probe-all equals brute-force cosineTopK exactly") {
    val spark = TestSpark.spark
    val e = Similarity.prepared(Tables.t(spark, dir, "embeddings"))
    // Probing every centroid list makes IVF exhaustive — the result must
    // be bit-identical to the brute-force top-k (same tie-break).
    val ivf = Similarity.ivfTopK(e, 5, 8, nProbe = 8, k = 5)
      .orderBy("q_id", "rn").collect()
    val brute = Similarity.cosineTopK(e, 5, 5)
      .orderBy("q_id", "rn").collect()
    assert(ivf.length == 25)
    assert(ivf.toSeq == brute.toSeq)
  }

  test("ivfPqRerank with probe-all and corpus-wide candidates equals " +
    "brute-force cosineTopK exactly; bounded candidates stay a subset " +
    "ranked by true cosine") {
    val spark = TestSpark.spark
    val e = Similarity.prepared(Tables.t(spark, dir, "embeddings"))
    val n = e.count().toInt
    // Probe every cell and keep every scored row as a candidate: the
    // exact re-rank then sees the full corpus and must reproduce the
    // brute-force top-k bit-for-bit (same cos arithmetic, same
    // (cos desc, n_id) tie-break) — the rerank tail provably adds no
    // approximation of its own.
    val full = Similarity.ivfPqRerank(e, 5, 8, nProbe = 8, nSub = 4,
      nCode = 16, nCand = n, k = 5).orderBy("q_id", "rn").collect()
    val brute = Similarity.cosineTopK(e, 5, 5)
      .orderBy("q_id", "rn").collect()
    assert(full.length == 25 && full.toSeq == brute.toSeq)
    // Bounded candidates at a partial probe: k rows per query, cos
    // strictly ordered per query, and every (q, n) pair must come from
    // the ADC candidate set (never a corpus-wide exact scan).
    val part = Similarity.ivfPqRerank(e, 5, 8, nProbe = 2, nSub = 4,
      nCode = 16, nCand = 12, k = 5).collect()
    assert(part.groupBy(_.getLong(0)).values.forall(_.length == 5))
    val cand = Similarity.ivfPqTopK(e, 5, 8, nProbe = 2, nSub = 4,
      nCode = 16, k = 12).select("q_id", "n_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(part.forall(r => cand((r.getLong(0), r.getLong(1)))))
  }

  test("matryoshkaTopK with a full-width prefix and corpus-wide " +
    "candidates equals brute force; narrow prefixes return k ranked " +
    "candidates from the coarse set") {
    val spark = TestSpark.spark
    val e = Similarity.prepared(Tables.t(spark, dir, "embeddings"))
    val n = e.count().toInt
    // prefix = all 64 dims and candidates = the whole corpus ⇒ the
    // funnel is exhaustive at both stages ⇒ bit-identical to brute.
    val full = Similarity.matryoshkaTopK(e, 5, prefixDims = 64,
      nCand = n, k = 5).orderBy("q_id", "rn").collect()
    val brute = Similarity.cosineTopK(e, 5, 5)
      .orderBy("q_id", "rn").collect()
    assert(full.length == 25 && full.toSeq == brute.toSeq)
    // 16-dim funnel: k per query, all pairs from the coarse top-nCand.
    val part = Similarity.matryoshkaTopK(e, 5, prefixDims = 16,
      nCand = 12, k = 5).collect()
    assert(part.groupBy(_.getLong(0)).values.forall(_.length == 5))
  }

  test("SQ8 quantization: every dequantized component is within half a " +
    "step of the original, and quantized cosine top-k stays close to " +
    "exact") {
    val spark = TestSpark.spark
    val e = Similarity.prepared(Tables.t(spark, dir, "embeddings"))
    val stats = Similarity.sq8Stats(e, 5).collect()
    assert(stats.length == 64 &&
      stats.forall(r => r.getDouble(3) >= 0))
    val rngByPos = stats.map(r => r.getInt(0) -> r.getDouble(3)).toMap
    val mnByPos = stats.map(r => r.getInt(0) -> r.getDouble(1)).toMap
    // Reconstruct the dequantization driver-side and bound the error:
    // round-to-nearest code ⇒ |x − deq(x)| ≤ rng/255/2 (+ fp slop).
    val rows = e.filter(org.apache.spark.sql.functions.col("vec_id")
      >= 5).select("v").limit(50).collect()
    rows.foreach { r =>
      val v = r.getSeq[Double](0)
      v.zipWithIndex.foreach { case (x, i) =>
        val (mn, rng) = (mnByPos(i + 1), rngByPos(i + 1))
        val code = if (rng == 0) 0
          else math.round((x - mn) / rng * 255).toInt
        val deq = mn + code / 255.0 * rng
        assert(math.abs(x - deq) <= rng / 255.0 / 2 + 1e-12,
          s"dim ${i + 1}: $x -> $deq exceeds half a quantization step")
      }
    }
    // Ranking fidelity: 8-bit quantization perturbs cosines by ~1e-3,
    // so the quantized top-5 keeps most of the exact top-5.
    val exact = Similarity.cosineTopK(e, 5, 5).select("q_id", "n_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val sq = Similarity.sq8TopK(e, 5, 5).select("q_id", "n_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val overlap = sq.count(exact).toDouble / exact.size
    assert(overlap >= 0.8,
      s"SQ8 top-5 overlap vs exact collapsed to $overlap")
  }

  test("SQ8: a vector that dequantizes to all-zero scores -2, never " +
    "NaN-poisons the ranking") {
    val spark = TestSpark.spark
    import spark.implicits._
    // Per-dim mn = -1, mx = 254 (rng = 255, one quantization level per
    // unit). x = 0.1 rounds to code 1 -> dequantizes to -1 + 1 = 0 on
    // EVERY dim: a legal nonzero raw vector (passes prepared()) whose
    // SQ8 form is the zero vector.
    def vec(x: Double) = Seq.fill(64)(x)
    val tiny = Seq(
      (0L, vec(1.0)),    // the query
      (1L, vec(0.1)),    // dequantizes to exactly zero
      (2L, vec(-1.0)),   // pins the mins
      (3L, vec(254.0))   // pins the maxes
    ).toDF("vec_id", "embedding")
    val out = Similarity.sq8TopK(Similarity.prepared(tiny), 1, k = 3)
      .orderBy("rn").collect()
    assert(out.length == 3)
    assert(out.forall(r => !r.getDouble(3).isNaN),
      "no NaN may reach the ranking")
    val zeroRow = out.find(_.getLong(1) == 1L).get
    assert(zeroRow.getDouble(3) == -2.0 && zeroRow.getInt(2) == 3,
      s"the zero-dequantized vector must score -2 and rank last: " +
        s"${out.mkString(", ")}")
  }

  test("ivfCellStats partitions the whole corpus and shares sum to ~1e6") {
    val spark = TestSpark.spark
    val e = Similarity.prepared(Tables.t(spark, dir, "embeddings"))
    val corpusN = e.filter(org.apache.spark.sql.functions
      .col("vec_id") >= 5).count()
    val rows = Similarity.ivfCellStats(e, 5, 8).collect()
    assert(rows.map(_.getLong(1)).sum == corpusN,
      "every corpus vector must land in exactly one cell")
    assert(rows.map(_.getInt(0)).toSet.subsetOf((5 until 13).toSet))
    val shareSum = rows.map(_.getLong(2)).sum
    // Integer floor division loses < 1 micro per cell.
    assert(shareSum > 1000000L - rows.length && shareSum <= 1000000L,
      s"shares must sum to 1e6 up to floor loss, got $shareSum")
    // Quantization error vs the cell's OWN centroid is ~0 for the
    // centroid vector itself and bounded by 2e6 (cos >= -1) always.
    assert(rows.forall(r => r.getLong(3) >= -1 && r.getLong(3) <= 2000000L))
    // Store-side drift report equals the in-memory computation exactly:
    // the store's cid column was written by the same assignment, so
    // ivfStoreDriftSnapshot must reproduce every (cid, n, share, err)
    // row.
    val store = java.nio.file.Files
      .createTempDirectory("graft-drift-store").toString
    try {
      Similarity.writeIvfStore(e, Similarity.firstNCodebook(e, 5, 8),
        5, store)
      val drift = Similarity.ivfStoreDriftSnapshot(spark, store).collect()
      assert(drift.map(_.toSeq).toSeq == rows.map(_.toSeq).toSeq,
        "store drift report diverged from ivfCellStats")
    } finally {
      org.apache.commons.io.FileUtils
        .deleteQuietly(new java.io.File(store)): Unit
    }
  }

  test("multi-probe lshTopK recall vs brute is a superset of " +
    "single-probe's") {
    val spark = TestSpark.spark
    val e = Similarity.prepared(Tables.t(spark, dir, "embeddings"))
    val brute = Similarity.cosineTopK(e, 5, 5).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    def hits(multi: Boolean) =
      Similarity.lshTopK(e, 5, 5, multiProbe = multi).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val single = hits(multi = false) intersect brute
    val multi = hits(multi = true) intersect brute
    // Multi-probe candidates are a strict superset (bucket + 8
    // Hamming-1 neighbors), and a true-top-k item among candidates
    // always survives the window, so its brute hits can only grow.
    assert(single.subsetOf(multi),
      s"multi-probe lost brute hits: ${single diff multi}")
  }

  test("lloydRefine is run-to-run deterministic and probe-all search " +
    "over the refined codebook stays exact") {
    val spark = TestSpark.spark
    val e = Similarity.prepared(Tables.t(spark, dir, "embeddings"))
    val cb0 = Similarity.firstNCodebook(e, 5, 8)
    val cb1 = Similarity.lloydRefine(e, cb0, 5, iters = 2)
      .orderBy("cid").collect().toSeq
    val cb2 = Similarity.lloydRefine(e, cb0, 5, iters = 2)
      .orderBy("cid").collect().toSeq
    assert(cb1 == cb2, "quantized-sum means must be order-independent")
    assert(cb1 != cb0.orderBy("cid").collect().toSeq,
      "refinement should actually move the first-N centroids")
    // Probing every list is exhaustive regardless of codebook quality —
    // exactness is codebook-independent, only recall at nProbe <
    // nCentroids varies (Soak reports that).
    val cbDf = Similarity.lloydRefine(e, cb0, 5, iters = 2)
    val ivf = Similarity.ivfTopKWith(e, cbDf, 5, nProbe = 8, k = 5)
      .orderBy("q_id", "rn").collect()
    val brute = Similarity.cosineTopK(e, 5, 5)
      .orderBy("q_id", "rn").collect()
    assert(ivf.toSeq == brute.toSeq)
  }

  test("ivfTopK with nProbe < nCentroids returns k candidates per query " +
    "whose cosines are exact (subset of the brute-force ranking)") {
    val spark = TestSpark.spark
    val e = Similarity.prepared(Tables.t(spark, dir, "embeddings"))
    val ivf = Similarity.ivfTopK(e, 5, 8, nProbe = 2, k = 5).collect()
    assert(ivf.length == 25)
    val brute = Similarity.cosineTopK(e, 5, 500)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(3)).toMap
    // Every returned (q, n) pair carries the same exact cosine the
    // brute-force scan computes — IVF narrows candidates, never alters
    // the metric.
    ivf.foreach { r =>
      assert(brute((r.getLong(0), r.getLong(1))) == r.getDouble(3))
    }
  }

  /** Recall floors — the quality gate for every ANN family (VERDICT r8
    * directive: Soak REPORTS recall but nothing failed if a codebook
    * change tanked it; now `sbt test` does). Ground truths and floors:
    * cosine families vs brute cosineTopK; PQ-ADC vs its own exact-L2
    * metric (judging it against cosine truth would conflate metric
    * disagreement with quantization error — the Soak rationale).
    * Every operator is deterministic on the fixed sf0.01 fixture, so
    * observed recalls are reproducible constants (lsh multi 0.18, IVF
    * Lloyd 0.496, PQ 8×64 untrained 0.24); floors sit ~25% under
    * observation to absorb a driver-side fixture regeneration, while
    * still failing on any real quality regression (a broken codebook
    * or LUT craters recall toward the random-candidate baseline, far
    * below any floor).
    */
  test("ANN recall@10 floors: multi-probe LSH, IVF (Lloyd >= first-N), " +
    "and PQ-ADC hold their fixture recall") {
    val spark = TestSpark.spark
    val NQ = 50
    val e = Similarity.prepared(
      Tables.t(spark, "/root/testdata/sf0.01", "embeddings")).persist()
    try {
      val brute = Similarity.cosineTopK(e, NQ, 10).persist()
      val nTruth = brute.count().toDouble
      def recallOf(approx: org.apache.spark.sql.DataFrame): Double =
        approx.select("q_id", "n_id")
          .join(brute.select("q_id", "n_id"), Seq("q_id", "n_id"))
          .count() / nTruth
      val rSingle = recallOf(Similarity.lshTopK(e, NQ, 10))
      val rMulti =
        recallOf(Similarity.lshTopK(e, NQ, 10, multiProbe = true))
      info(s"lsh single=$rSingle multi=$rMulti")
      assert(rMulti >= rSingle,
        "multi-probe must not lose single-probe recall")
      assert(rMulti >= 0.12, s"multi-probe LSH recall@10 $rMulti")
      val cb0 = Similarity.firstNCodebook(e, NQ, 8)
      val cbL = Similarity.lloydRefine(e, cb0, NQ, iters = 2)
      val rIvf0 = recallOf(Similarity.ivfTopKWith(e, cb0, NQ, 2, 10))
      val rIvfL = recallOf(Similarity.ivfTopKWith(e, cbL, NQ, 2, 10))
      info(s"ivf firstN=$rIvf0 lloyd=$rIvfL")
      assert(rIvfL >= rIvf0,
        "Lloyd-refined codebook must not lose first-N recall at equal " +
          "nProbe")
      assert(rIvfL >= 0.42, s"IVF(Lloyd, 2/8) recall@10 $rIvfL")
      // PQ vs its own exact-L2 ground truth.
      val l2Truth = Similarity.l2TopK(e, NQ, 10).persist()
      val nL2 = l2Truth.count().toDouble
      val rPq = Similarity.pqTopK(e, NQ, 8, 64, 10)
        .select("q_id", "n_id")
        .join(l2Truth.select("q_id", "n_id"), Seq("q_id", "n_id"))
        .count() / nL2
      info(s"pq(8x64)=$rPq")
      assert(rPq >= 0.18, s"PQ-ADC(8x64) recall@10 $rPq")
      l2Truth.unpersist()
      brute.unpersist()
    } finally e.unpersist(): Unit
  }

  test("semDedup: kept set is pairwise below threshold within clusters " +
    "and every dropped vector has a lower-id near neighbor") {
    val spark = TestSpark.spark
    import spark.implicits._
    val raw = Tables.t(spark, dir, "embeddings")
    val out = Similarity.semDedup(raw, 8, 0.35)
    val plan = out.queryExecution.executedPlan.toString
    // Codebook assignment broadcasts; the only pairing join is keyed on
    // the cluster id (blocked quadratic), never a corpus-wide cartesian.
    assert(plan.contains("BroadcastHashJoin") ||
      plan.contains("BroadcastNestedLoopJoin"))
    assert(!plan.contains("CartesianProduct"))
    val rows = out.select("vec_id", "cid", "kept")
      .as[(Long, Long, Boolean)].collect()
    assert(rows.length == raw.count().toInt,
      "one output row per input vector")
    assert(rows.exists(!_._3) && rows.count(_._3) > 8,
      "threshold must be non-vacuous: some dropped, most kept")
    val e = Similarity.prepared(raw)
      .select("vec_id", "v").as[(Long, Seq[Double])].collect().toMap
    def cos(a: Long, b: Long): Double = {
      val (x, y) = (e(a), e(b))
      val d = x.zip(y).map { case (p, q) => p * q }.sum
      d / (math.sqrt(x.map(p => p * p).sum) *
        math.sqrt(y.map(p => p * p).sum))
    }
    val byCluster = rows.groupBy(_._2)
    byCluster.values.foreach { members =>
      val kept = members.filter(_._3).map(_._1).sorted
      for (i <- kept.indices; j <- i + 1 until kept.length)
        assert(cos(kept(i), kept(j)) < 0.35 + 1e-12,
          s"kept pair ${kept(i)},${kept(j)} above threshold")
      members.filterNot(_._3).foreach { case (v, _, _) =>
        assert(members.map(_._1).filter(_ < v).exists(a =>
          cos(a, v) >= 0.35),
          s"dropped $v has no lower-id near neighbor in its cluster")
      }
    }
  }

  test("pqTopK: shuffle-free literal-codebook encode, codebook vectors " +
    "encode to themselves, and their ADC distance is the exact squared " +
    "L2") {
    val spark = TestSpark.spark
    import spark.implicits._
    val e = Similarity.prepared(Tables.t(spark, dir, "embeddings"))
    val out = Similarity.pqTopK(e, 5, 4, 16, k = 2000)
    val plan = out.queryExecution.executedPlan.toString
    // r17 shape: the codebook is embedded as literals, so there is NO
    // codebook join left — the only join is the broadcast LUT cross,
    // the corpus never sort-merge-joins, and the encode is ZERO-shuffle
    // (the r17 scan-width repartition is gone with its rationale) —
    // the final top-k window's hash exchange is the plan's ONLY
    // shuffle (ADVICE r17: `<= 2` would mask a reintroduced encode
    // exchange).
    assert(!plan.contains("SortMergeJoin") &&
      !plan.contains("CartesianProduct"))
    assert(!plan.contains("BroadcastHashJoin"),
      "encode/LUT must not join the codebook — it is embedded as " +
        "literals")
    val shuffles = graft.ChainSoak.planNodes(out.queryExecution.executedPlan)
      .collect {
        case s: org.apache.spark.sql.execution.exchange
          .ShuffleExchangeLike => s.outputPartitioning
      }
    assert(shuffles.size == 1,
      s"pqTopK should shuffle ONLY for the final top-k window, " +
        s"got: $shuffles\n$plan")
    // A codebook vector (vec_id NQ..NQ+15) is its own nearest codeword
    // in every subspace (self-distance 0), so its PQ reconstruction is
    // exact and its ADC distance to any query equals the true squared
    // L2 — up to 4 × the 1e-6 micro rounding.
    val vecs = e.select("vec_id", "v").as[(Long, Seq[Double])]
      .collect().toMap
    val adist = out.filter($"n_id" >= 5 && $"n_id" < 21)
      .select("q_id", "n_id", "adist").as[(Long, Long, Double)]
      .collect()
    assert(adist.map(_._2).distinct.length == 16,
      "all 16 codebook vectors must appear in a full-k result")
    adist.foreach { case (q, n, d) =>
      val exact = vecs(q).zip(vecs(n))
        .map { case (a, b) => (a - b) * (a - b) }.sum
      assert(math.abs(d - exact) < 1e-5,
        s"q=$q n=$n adist=$d exact=$exact")
    }
  }
}
