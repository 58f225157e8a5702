package graft

import org.apache.spark.sql.functions._

import graft.operators.Similarity
import graft.plans.SessionArtifacts

/** Library-level contracts of the similarity API beyond the oracle-checked
  * queries: k-means training determinism and the Lloyd improvement
  * invariant. */
class SimilaritySpec extends SparkSpec {

  private def vecs = spark.read
    .parquet("/root/testdata/sf0.001/embeddings.parquet")
    .select(col("vec_id"), expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v"))

  private def sse(assigned: org.apache.spark.sql.DataFrame, cents: org.apache.spark.sql.DataFrame): Double =
    assigned.join(cents, "cid")
      .withColumn("d2", expr(
        "aggregate(zip_with(v, cen, (a, b) -> (a - b) * (a - b)), 0D, (acc, x) -> acc + x)"))
      .agg(sum(col("d2"))).head().getDouble(0)

  test("trainIvf is deterministic run-to-run and covers the corpus") {
    val a1 = Similarity.assignToCentroids(vecs, Similarity.trainIvf(vecs, k = 4, iters = 2))
      .select("vec_id", "cid").collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val a2 = Similarity.assignToCentroids(vecs, Similarity.trainIvf(vecs, k = 4, iters = 2))
      .select("vec_id", "cid").collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(a1 == a2, "two identical trainings must assign identically")
    assert(a1.size == vecs.count(), "every vector must get a cluster")
    assert(a1.values.toSet.size <= 4 && a1.values.toSet.nonEmpty)
  }

  test("trainIvf plan depth is constant in iteration count, nothing persisted") {
    // each iteration collects the k-row centroid frame and folds it into
    // literals, so the returned frame's lineage holds exactly ONE
    // iteration's operators no matter how many ran — no checkpoint knob,
    // no growing analysis cost, and zero persisted blocks to leak.
    graft.plans.Checkpoints.releaseAll(spark)
    def planSize(iters: Int): Int =
      Similarity.trainIvf(vecs, k = 4, iters = iters)
        .queryExecution.optimizedPlan.collect { case p => p }.size
    assert(planSize(10) == planSize(2),
      "plan must not deepen with iteration count")
    assert(spark.sparkContext.getPersistentRDDs.isEmpty,
      "training must not leave persisted blocks")
  }

  test("argmin expression tree matches the exchange-based window assignment") {
    // the shuffle-free least(struct(dist, cid)...) form must pick exactly
    // the row the rank-1 window picked: min distance, ties to min cid
    val cents = Similarity.trainIvf(vecs, k = 4, iters = 1)
    val tree = Similarity.assignToCentroids(vecs, cents)
      .select("vec_id", "cid").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val cj = vecs.crossJoin(org.apache.spark.sql.functions.broadcast(cents))
      .withColumn("dist", graft.functions.VecSqDiff.vec_sqdiff(col("v"), col("cen")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("vec_id")).orderBy(col("dist"), col("cid"))
    val win = cj.withColumn("rn", org.apache.spark.sql.functions.row_number().over(w))
      .filter(col("rn") === 1)
      .select("vec_id", "cid").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(tree == win, "argmin forms diverge")
    // and the fast path really is exchange-free
    val p = Similarity.assignToCentroids(vecs, cents)
      .queryExecution.executedPlan.toString
    assert(!p.contains("Exchange"), s"tree assignment must not shuffle:\n${p.take(400)}")
  }

  test("chunked argmin tournament (k > ArgminTreeMaxK) is exact and exchange-free") {
    // 1024 synthetic centroids force the ≤256-wide chunk tournament
    // (4 chunk winners meeting in a final least) — assert it still
    // computes exact argmin-with-cid-tiebreak against an independent
    // in-memory replay AND that the plan has no Exchange: the point of
    // retiring the old window fallback was that it pushed the whole
    // corpus through a hash exchange per assignment.
    import spark.implicits._
    val dim = 64
    val cs = (0 until 1024).map(i =>
      (i.toLong, Seq.tabulate(dim)(d => ((i * 31 + d * 7) % 17).toDouble)))
    val cents = cs.toDF("cid", "cen")
    assert(cs.length > Similarity.ArgminTreeMaxK,
      "fixture must exceed the chunk width")
    val assigned = Similarity.assignToCentroids(vecs, cents)
    val p = assigned.queryExecution.executedPlan.toString
    assert(!p.contains("Exchange"),
      s"chunked assignment must not shuffle at k=1024:\n${p.take(400)}")
    val got = assigned
      .select("vec_id", "cid").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val vs = vecs.collect().map(r => (r.getLong(0), r.getSeq[Double](1)))
    val expect = vs.map { case (id, v) =>
      id -> cs.map { case (cid, cen) =>
        var d = 0.0
        var i = 0
        while (i < v.length) { val x = v(i) - cen(i); d += x * x; i += 1 }
        (d, cid)
      }.min._2
    }.toMap
    assert(got == expect, "chunked tournament diverges from exact argmin")
  }

  test("IVF probing: nprobe=all cells equals brute force; recall grows with nprobe") {
    import org.apache.spark.sql.functions.col
    val cents = Similarity.trainIvf(vecs, k = 4, iters = 2)
    val assigned = Similarity.assignToCentroids(vecs, cents)
    def res(df: org.apache.spark.sql.DataFrame): Map[(Long, Int), Long] =
      df.collect().map(r => (r.getLong(0), r.getInt(3)) -> r.getLong(1)).toMap
    val exact = res(Similarity.knn(vecs, col("vec_id") < 5, k = 3))
    val full = res(Similarity.knnIvfProbed(assigned, cents, col("vec_id") < 5, k = 3, nprobe = 4))
    assert(full == exact, "probing every cell must reproduce the exact top-k")
    // recall against exact neighbors is monotone in nprobe
    def recall(np: Int): Double = {
      val got = res(Similarity.knnIvfProbed(assigned, cents, col("vec_id") < 5, k = 3, nprobe = np))
        .toSet
      exact.toSet.intersect(got).size.toDouble / exact.size
    }
    val (r1, r2) = (recall(1), recall(2))
    assert(r1 <= r2 + 1e-9 && r2 <= 1.0 + 1e-9, s"recall must grow: $r1 -> $r2")
  }

  test("cosinePairs maxBucket drops oversized sketch buckets, keeps healthy ones") {
    // constant bucket expression = every vector in ONE bucket: with the cap
    // below the corpus size the bucket is dropped whole (collection
    // memory-bounded at the cap); without it, pairs flow. A second run
    // buckets by vec_id parity so one bucket stays under the cap.
    val pairsAll = Similarity.cosinePairs(vecs, threshold = -1.0,
      bucket = Some(lit(0L)), maxBucket = 10)
    assert(pairsAll.count() == 0, "over-cap bucket must be dropped whole")
    val n = vecs.count()
    val uncapped = Similarity.cosinePairs(vecs, threshold = -1.0, bucket = Some(lit(0L)))
    assert(uncapped.count() == n * (n - 1) / 2, "uncapped single bucket pairs all")
    val parity = Similarity.cosinePairs(vecs, threshold = -1.0,
      bucket = Some(pmod(col("vec_id"), lit(2))), maxBucket = n.toInt)
    assert(parity.count() > 0 && parity.count() < n * (n - 1) / 2)
  }

  test("each Lloyd iteration does not increase within-cluster SSE") {
    val seeds = vecs.orderBy("vec_id").limit(4)
      .select(col("vec_id").as("cid"), col("v").as("cen"))
    val c1 = Similarity.trainIvf(vecs, k = 4, iters = 1)
    val c2 = Similarity.trainIvf(vecs, k = 4, iters = 2)
    def total(c: org.apache.spark.sql.DataFrame): Double =
      sse(Similarity.assignToCentroids(vecs, c), c)
    val (s0, s1, s2) = (total(seeds), total(c1), total(c2))
    assert(s1 <= s0 + 1e-9 && s2 <= s1 + 1e-9, s"SSE went up: $s0 -> $s1 -> $s2")
  }

  test("encodePq: m dense codes per vector, shuffle-free encode plan") {
    val cb = Similarity.trainPq(vecs, m = 4, ksub = 8, iters = 1)
    val enc = Similarity.encodePq(vecs, cb)
    val p = enc.queryExecution.executedPlan.toString
    assert(!p.contains("Exchange"), s"encode must not shuffle:\n${p.take(400)}")
    val rows = enc.select(col("vec_id"), col("codes")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Int](1))
    assert(rows.length == vecs.count(), "every vector must encode")
    assert(rows.forall(_._2.length == 4), "m codes per vector")
    assert(rows.forall(_._2.forall(c => c >= 0 && c < 8)),
      "codes must be dense 0-based indexes below ksub")
  }

  test("ADC is EXACT on codebook-representable vectors") {
    // the PQ contract in its sharpest form: when every corpus slice
    // equals some centroid (here: the corpus IS the m=1 codebook's
    // centroid set), quantization loses nothing and the asymmetric
    // distance equals the true squared distance (up to the grouping of
    // the per-slice partial sums, hence the 1e-9 tolerance)
    import spark.implicits._
    val cb = Similarity.trainPq(vecs, m = 4, ksub = 8, iters = 2)
    // reconstruct a corpus from the codebooks: vector i = concat of the
    // i-th centroid of each subspace
    val cents = cb.collect().map(r => (r.getInt(0), r.getInt(1), r.getSeq[Double](2)))
    val byJ = cents.groupBy(_._1).toSeq.sortBy(_._1)
      .map(_._2.sortBy(_._2).map(_._3))
    val nRep = byJ.map(_.length).min
    val rep = (0 until nRep).map(i =>
      (1000L + i, byJ.flatMap(cs => cs(i)).toSeq)).toDF("vec_id", "v")
    val adc = Similarity.knnPqAdc(rep, cb, col("vec_id") === 1000L, k = nRep - 1)
      .collect().map(r => r.getLong(1) -> r.getDouble(2)).toMap
    val vs = rep.collect().map(r => (r.getLong(0), r.getSeq[Double](1))).toMap
    val qv = vs(1000L)
    for ((id, got) <- adc) {
      val xv = vs(id)
      val exact = qv.zip(xv).map { case (a, b) => (a - b) * (a - b) }.sum
      assert(math.abs(got - BigDecimal(exact).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble) < 1e-9,
        s"adist must be exact on representable vectors: $got vs $exact (id $id)")
    }
  }

  test("ADC ranking tracks exact-distance ranking with usable recall") {
    // lossy-compression sanity on the real corpus: ADC top-5 must share
    // a meaningful fraction of the exact squared-distance top-5. The
    // synthetic test embeddings are near-uniform random — PQ's
    // adversarial case (no cluster structure for the codebooks to
    // exploit; measured 0.22 here) — so the floor is set well above
    // chance (5/499 ≈ 0.01) rather than at production-corpus levels.
    val cb = Similarity.trainPq(vecs, m = 4, ksub = 8, iters = 2)
    val adc = Similarity.knnPqAdc(vecs, cb, col("vec_id") < 10, k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).groupBy(_._1)
      .view.mapValues(_.map(_._2).toSet).toMap
    val vs = vecs.collect().map(r => (r.getLong(0), r.getSeq[Double](1)))
    val queries = vs.filter(_._1 < 10)
    val recall = queries.map { case (qid, qv) =>
      val exact = vs.filter(_._1 != qid).map { case (id, xv) =>
        (xv.zip(qv).map { case (a, b) => (a - b) * (a - b) }.sum, id)
      }.sorted.take(5).map(_._2).toSet
      (adc(qid) intersect exact).size / 5.0
    }
    val mean = recall.sum / recall.length
    assert(mean >= 0.15, f"mean ADC recall@5 $mean%.2f fell below the sanity floor")
  }

  test("knnIvfPq with nprobe = all cells equals the unpruned ADC search") {
    // the composition contract: the coarse stage only PRUNES candidates,
    // so probing every cell must reproduce knnPqAdc exactly; and recall
    // against the unpruned result is monotone in nprobe
    val cents = Similarity.trainIvf(vecs, k = 4, iters = 2).localCheckpoint(true)
    val cb = Similarity.trainPq(vecs, m = 4, ksub = 8, iters = 2)
    def res(df: org.apache.spark.sql.DataFrame): Map[(Long, Int), Long] =
      df.collect().map(r => (r.getLong(0), r.getInt(3)) -> r.getLong(1)).toMap
    val full = res(Similarity.knnPqAdc(vecs, cb, col("vec_id") < 5, k = 3))
    val all = res(Similarity.knnIvfPq(vecs, cents, cb, col("vec_id") < 5, k = 3, nprobe = 4))
    assert(all == full, "probing every cell must reproduce the unpruned ADC top-k")
    def recall(np: Int): Double = {
      val got = res(Similarity.knnIvfPq(vecs, cents, cb, col("vec_id") < 5, k = 3, nprobe = np)).toSet
      full.toSet.intersect(got).size.toDouble / full.size
    }
    val (r1, r2) = (recall(1), recall(2))
    assert(r1 <= r2 + 1e-9 && r2 <= 1.0 + 1e-9, s"recall must grow with nprobe: $r1 -> $r2")
    graft.plans.Checkpoints.release(cents)
  }

  test("residuals: codegen'd vec_sub matches the interpreted zip_with bit-for-bit") {
    val cents = Similarity.trainIvf(vecs, k = 8, iters = 2).localCheckpoint(true)
    val res = Similarity.residuals(vecs, cents)
    // both forms compute fl(v[d] - cen[d]) — one codegen'd loop, one
    // interpreted lambda — so equality must be EXACT (the oracle's list
    // comprehension is the same fl(a - b)). Note (a-b)+b is NOT a valid
    // check: double subtraction doesn't round-trip (Sterbenz only holds
    // for nearby operands).
    val bad = res.join(cents, "cid").join(vecs.withColumnRenamed("v", "orig"), "vec_id")
      .withColumn("ref", expr("zip_with(orig, cen, (a, b) -> a - b)"))
      .filter(not(expr("forall(zip_with(v, ref, (a, b) -> a = b), x -> x)")))
      .count()
    assert(bad == 0, s"$bad vectors disagree between vec_sub and zip_with")
    graft.plans.Checkpoints.release(cents)
  }

  test("exact re-rank recovers recall ADC loses; k-prefix comes from the candidate cut") {
    // IVFADC-R's refine contract on this deterministic fixture: (a) the
    // refined top-k recall against the exact top-k is >= plain ADC's
    // (re-ordering candidates by TRUE distance can only fix inversions
    // inside the cut), and (b) every refined neighbor is one of the
    // query's rerank best ADC candidates by construction.
    val cb = Similarity.trainPq(vecs, m = 4, ksub = 8, iters = 2)
    def topk(df: org.apache.spark.sql.DataFrame): Map[Long, Set[Long]] =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).groupBy(_._1)
        .view.mapValues(_.map(_._2).toSet).toMap
    val adc = topk(Similarity.knnPqAdc(vecs, cb, col("vec_id") < 10, k = 5))
    val refined = topk(Similarity.knnPqAdcRefined(vecs, cb, col("vec_id") < 10, k = 5, rerank = 20))
    val candidates = topk(Similarity.knnPqAdc(vecs, cb, col("vec_id") < 10, k = 20))
    val vs = vecs.collect().map(r => (r.getLong(0), r.getSeq[Double](1)))
    def meanRecall(got: Map[Long, Set[Long]]): Double = {
      val per = vs.filter(_._1 < 10).map { case (qid, qv) =>
        val exact = vs.filter(_._1 != qid).map { case (id, xv) =>
          (xv.zip(qv).map { case (a, b) => (a - b) * (a - b) }.sum, id)
        }.sorted.take(5).map(_._2).toSet
        (got.getOrElse(qid, Set.empty) intersect exact).size / 5.0
      }
      per.sum / per.length
    }
    val (rAdc, rRef) = (meanRecall(adc), meanRecall(refined))
    assert(rRef >= rAdc - 1e-9,
      f"re-ranking must not lose recall: refined $rRef%.3f vs ADC $rAdc%.3f")
    refined.foreach { case (q, ns) =>
      assert(ns.subsetOf(candidates(q)),
        s"query $q: refined neighbors $ns escaped the rerank-candidate cut")
    }
  }

  test("residual IVFADC recall is >= the raw-vector variant at equal budget") {
    // canonical-IVFADC claim (Jégou et al. §IV): quantizing residuals
    // concentrates the codebooks' dynamic range, so at the SAME coarse
    // cells, probes and m x ksub budget, recall@k against the exact
    // top-k must not fall below the raw-vector composition's. The
    // near-uniform synthetic embeddings are PQ's adversarial case, so
    // assert non-inferiority (>=), not strict improvement.
    val cents = Similarity.trainIvf(vecs, k = 8, iters = 2).localCheckpoint(true)
    val cbRaw = Similarity.trainPq(vecs, m = 4, ksub = 8, iters = 2)
    val resFrame = Similarity.residuals(vecs, cents).localCheckpoint(true)
    val cbRes = Similarity.trainPq(resFrame, m = 4, ksub = 8, iters = 2)
    graft.plans.Checkpoints.release(resFrame)
    def topk(df: org.apache.spark.sql.DataFrame): Map[Long, Set[Long]] =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).groupBy(_._1)
        .view.mapValues(_.map(_._2).toSet).toMap
    val raw = topk(Similarity.knnIvfPq(vecs, cents, cbRaw, col("vec_id") < 10, k = 5, nprobe = 2))
    val rsd = topk(Similarity.knnIvfPqResidual(vecs, cents, cbRes, col("vec_id") < 10, k = 5, nprobe = 2))
    val vs = vecs.collect().map(r => (r.getLong(0), r.getSeq[Double](1)))
    def meanRecall(got: Map[Long, Set[Long]]): Double = {
      val per = vs.filter(_._1 < 10).map { case (qid, qv) =>
        val exact = vs.filter(_._1 != qid).map { case (id, xv) =>
          (xv.zip(qv).map { case (a, b) => (a - b) * (a - b) }.sum, id)
        }.sorted.take(5).map(_._2).toSet
        (got.getOrElse(qid, Set.empty) intersect exact).size / 5.0
      }
      per.sum / per.length
    }
    val (rRaw, rRes) = (meanRecall(raw), meanRecall(rsd))
    assert(rRes >= rRaw - 1e-9,
      f"residual encoding must not lose recall: residual $rRes%.3f vs raw $rRaw%.3f")
    graft.plans.Checkpoints.release(cents)
  }

  test("full IVFPQR stack: re-rank stays inside the residual-ADC cut, recall not below it") {
    // the three-knob composition: its candidates are exactly the
    // residual variant's top-rerank, so (a) the refined top-k is a
    // subset of knnIvfPqResidual(k = rerank), and (b) exact re-ordering
    // cannot drop recall below the residual estimate's top-k.
    val cents = Similarity.trainIvf(vecs, k = 8, iters = 2).localCheckpoint(true)
    val resFrame = Similarity.residuals(vecs, cents).localCheckpoint(true)
    val cb = Similarity.trainPq(resFrame, m = 4, ksub = 8, iters = 2)
    graft.plans.Checkpoints.release(resFrame)
    def topk(df: org.apache.spark.sql.DataFrame): Map[Long, Set[Long]] =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).groupBy(_._1)
        .view.mapValues(_.map(_._2).toSet).toMap
    val estimate = topk(Similarity.knnIvfPqResidual(vecs, cents, cb, col("vec_id") < 10, k = 5, nprobe = 2))
    val cut = topk(Similarity.knnIvfPqResidual(vecs, cents, cb, col("vec_id") < 10, k = 20, nprobe = 2))
    val full = topk(Similarity.knnIvfPqResidualRefined(vecs, cents, cb, col("vec_id") < 10, k = 5, nprobe = 2, rerank = 20))
    full.foreach { case (q, ns) =>
      assert(ns.subsetOf(cut(q)), s"query $q: refined neighbors escaped the ADC cut")
    }
    val vs = vecs.collect().map(r => (r.getLong(0), r.getSeq[Double](1)))
    def meanRecall(got: Map[Long, Set[Long]]): Double = {
      val per = vs.filter(_._1 < 10).map { case (qid, qv) =>
        val exact = vs.filter(_._1 != qid).map { case (id, xv) =>
          (xv.zip(qv).map { case (a, b) => (a - b) * (a - b) }.sum, id)
        }.sorted.take(5).map(_._2).toSet
        (got.getOrElse(qid, Set.empty) intersect exact).size / 5.0
      }
      per.sum / per.length
    }
    val (rEst, rFull) = (meanRecall(estimate), meanRecall(full))
    assert(rFull >= rEst - 1e-9,
      f"exact re-rank must not lose recall: full $rFull%.3f vs estimate $rEst%.3f")
    graft.plans.Checkpoints.release(cents)
  }

  test("semDedup keeps the least-prototypical member per component") {
    import spark.implicits._
    graft.plans.Checkpoints.releaseAll(spark)
    // two direction-families; within each, the (0.9, 0.1)-style member has
    // the largest angle to the cell centroid and must be the keeper
    // (keep-farthest-from-centroid); ids 0/1 seed the two cells.
    val vs = Seq(
      (0L, Seq(1.0, 0.0)), (1L, Seq(0.0, 1.0)),
      (2L, Seq(0.9, 0.1)), (3L, Seq(0.1, 0.9)),
      (4L, Seq(2.0, 0.0)), (5L, Seq(0.0, 2.0))).toDF("vec_id", "v")
    val res = Similarity.semDedup(vs, k = 2, iters = 1, threshold = 0.99)
    // persist-lifecycle contract: exactly the one returned frame stays
    assert(spark.sparkContext.getPersistentRDDs.size == 1,
      "semDedup must release every internal block before returning")
    val out = res.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(3))).toSet
    assert(out == Set((0L, 2L, 3L), (1L, 3L, 3L)), s"got $out")
    graft.plans.Checkpoints.releaseAll(spark)
  }

  test("knnSq8 ranks by the exact integer code-space L2 of uint8 codes") {
    import spark.implicits._
    // 1-D grid: codes are fully determined (mn=0 -> 0, mx=3 -> 255,
    // 1 -> floor(85)=85, 2 -> floor(170)=170); integer distances exact
    val vs = Seq(
      (0L, Seq(0.0)), (1L, Seq(1.0)), (2L, Seq(2.0)), (3L, Seq(3.0)))
      .toDF("vec_id", "v")
    val out = Similarity.knnSq8(vs, col("vec_id") === 3, k = 3)
      .orderBy("rk").collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getInt(3)))
    // query code 255: d2 = (255-170)^2=7225, (255-85)^2=28900, 255^2=65025
    assert(out.toSeq == Seq((2L, 7225L, 1), (1L, 28900L, 2), (0L, 65025L, 3)),
      s"got ${out.toSeq}")
  }

  test("knnSq8 neighbor ranking tracks exact float L2 on real embeddings") {
    val raw = vecs.collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    def l2(a: Array[Double], b: Array[Double]) =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    val sq = Similarity.knnSq8(vecs, col("vec_id") < 5, k = 1).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    val hits = sq.count { case (q, n) =>
      val exact5 = raw.keys.filter(_ != q).toSeq
        .sortBy(id => (l2(raw(q), raw(id)), id)).take(5).toSet
      exact5.contains(n)
    }
    assert(hits >= 4, s"SQ8 top-1 in exact-L2 top-5 for only $hits/5 queries")
  }

  test("knnMrl with candidates covering the corpus equals brute-force knn") {
    val n = vecs.count().toInt
    val mrl = Similarity.knnMrl(vecs, col("vec_id") < 3, prefixDims = 16,
        candidates = n, k = 5).collect()
      .map(r => (r.getLong(0), r.getInt(3)) -> r.getLong(1)).toMap
    val exact = Similarity.knn(vecs, col("vec_id") < 3, k = 5).collect()
      .map(r => (r.getLong(0), r.getInt(3)) -> r.getLong(1)).toMap
    assert(mrl == exact, "uncut refine must reproduce the exact top-k")
  }

  test("knnMrl refine recall is at least the prefix-only estimate's") {
    def recall(df: org.apache.spark.sql.DataFrame): Double = {
      val got = df.collect().groupBy(_.getLong(0))
        .map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }
      val exact = Similarity.knn(vecs, col("vec_id") < 5, k = 5).collect()
        .groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }
      val per = got.map { case (q, s) => (s intersect exact(q)).size / 5.0 }
      per.sum / per.size
    }
    val refined = recall(Similarity.knnMrl(vecs, col("vec_id") < 5,
      prefixDims = 16, candidates = 20, k = 5))
    // prefix-only = cut to 5 directly on prefix cosine (candidates = k)
    val prefixOnly = recall(Similarity.knnMrl(vecs, col("vec_id") < 5,
      prefixDims = 16, candidates = 5, k = 5))
    assert(refined >= prefixOnly - 1e-9,
      f"refine must not lose recall: $refined%.3f vs $prefixOnly%.3f")
  }

  test("pcaComponent: unit norm, memo-replayed bit-identically, and the " +
    "projection is centered (projections sum to ~0)") {
    val dim = vecs.head().getSeq[Double](1).length
    val pc1 = Similarity.pcaComponent(vecs, dim, iters = 3)
      .head().getSeq[Double](0)
    val norm = math.sqrt(pc1.map(x => x * x).sum)
    assert(math.abs(norm - 1.0) < 1e-4,
      f"trained component must be unit-norm (got $norm%.6f)")
    val hits0 = SessionArtifacts.hits.get
    val pc2 = Similarity.pcaComponent(vecs, dim, iters = 3)
      .head().getSeq[Double](0)
    assert(pc2 == pc1 && SessionArtifacts.hits.get > hits0,
      "second identical training must replay the memoized component")
    // projections of MEAN-CENTERED data onto any fixed vector sum to ~0
    // (up to the 6-decimal rounding of means and projections)
    val s = Similarity.pcaProject(vecs, dim, iters = 3)
      .agg(sum(col("proj"))).head().getDouble(0)
    val n = vecs.count()
    assert(math.abs(s) < 1e-3 * n,
      f"centered projections must sum to ~0 (got $s%.6f over $n rows)")
  }

  test("quantizer memo: repeat training hits the cache with identical rows") {
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getSeq[Double](1))).toSet
    val c1 = rows(Similarity.trainIvf(vecs, k = 4, iters = 2))
    val hits0 = SessionArtifacts.hits.get
    val c2 = rows(Similarity.trainIvf(vecs, k = 4, iters = 2))
    assert(c2 == c1, "memo replay must be bit-identical")
    assert(SessionArtifacts.hits.get > hits0,
      "second identical training must hit the memo, not re-train")
    // ground truth: an IN-MEMORY copy of the same vectors has no input
    // files, so it trains UNCACHED — the memoized result must match it
    val localRows = java.util.Arrays.asList(vecs.collect(): _*)
    val local = spark.createDataFrame(localRows, vecs.schema)
    assert(local.inputFiles.isEmpty, "local twin must be memo-exempt")
    val misses0 = SessionArtifacts.misses.get
    val hits1 = SessionArtifacts.hits.get
    val c3 = rows(Similarity.trainIvf(local, k = 4, iters = 2))
    assert(SessionArtifacts.misses.get == misses0 && SessionArtifacts.hits.get == hits1,
      "in-memory frames must bypass the memo entirely")
    assert(c3 == c1, "uncached training must equal the memoized result")
  }

  test("quantizer memo: LRU cap evicts the eldest entry, hits refresh") {
    val oldCap = SessionArtifacts.maxEntries
    SessionArtifacts.clear()
    SessionArtifacts.maxEntries = 4
    try {
      // tiny file-backed frame: iters=0 training is one trivial job, so
      // six distinct keys (distinct k => distinct knob tag) stay cheap
      val dir = java.nio.file.Files.createTempDirectory("graft_memo_cap").toString
      spark.range(0, 8).selectExpr("id AS vec_id",
        "array(cast(id AS double), 1.0D) AS v")
        .coalesce(1).write.mode("overwrite").parquet(dir)
      val tiny = spark.read.parquet(dir)
      (1 to 6).foreach(k => Similarity.trainIvf(tiny, k = k, iters = 0).collect())
      assert(SessionArtifacts.size <= 4,
        s"cap 4 exceeded: size = ${SessionArtifacts.size}")
      // k=1 and k=2 were evicted (eldest-first): re-training k=1 must MISS
      val misses0 = SessionArtifacts.misses.get
      Similarity.trainIvf(tiny, k = 1, iters = 0).collect()
      assert(SessionArtifacts.misses.get > misses0,
        "evicted entry must re-train (miss), not silently hit")
      // the most recent entry (k=6) survived: HIT
      val hits0 = SessionArtifacts.hits.get
      Similarity.trainIvf(tiny, k = 6, iters = 0).collect()
      assert(SessionArtifacts.hits.get > hits0,
        "recent entry must still be cached after evictions")
    } finally {
      SessionArtifacts.maxEntries = oldCap
      SessionArtifacts.clear()
    }
  }

  test("quantizer memo fingerprints LocalRelation leaves: residual " +
    "codebooks memoize, distinct literal centroids never alias") {
    def codebook(df: org.apache.spark.sql.DataFrame) =
      Similarity.trainPq(df, m = 2, ksub = 2, iters = 1).collect()
        .map(_.toString).sorted.toSeq
    // cents is literal-backed (memo replay of file-backed training), so
    // residuals = file scan ⋈ LocalRelation — fingerprintable
    val cents = Similarity.trainIvf(vecs, k = 4, iters = 1)
    val cb1 = codebook(Similarity.residuals(vecs, cents))
    val hits0 = SessionArtifacts.hits.get
    val cb2 = codebook(Similarity.residuals(vecs, cents))
    assert(cb2 == cb1, "memoized residual codebook must replay identically")
    assert(SessionArtifacts.hits.get > hits0,
      "repeat residual training must hit the memo")
    // same schema, same corpus files, DIFFERENT literal centroid DATA
    // (identical canonicalized plans — only the leaf content digest can
    // separate these keys): must train fresh, not alias cb1's entry
    val shiftedRows = cents.collect().map(r => org.apache.spark.sql.Row(
      r.getLong(0), r.getSeq[Double](1).map(_ + 7.5)))
    val shifted = spark.createDataFrame(
      java.util.Arrays.asList(shiftedRows: _*), cents.schema)
    val misses0 = SessionArtifacts.misses.get
    val cbShift = codebook(Similarity.residuals(vecs, shifted))
    assert(SessionArtifacts.misses.get > misses0,
      "shifted centroids must miss (distinct key), not bypass or alias")
    assert(cbShift != cb1,
      "distinct literal centroid frames must not alias one memo key")
  }

  test("quantizer memo keys file CONTENT, not paths: an in-place rewrite " +
    "at the IDENTICAL path must re-train, not replay stale centroids") {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getSeq[Double](1))).toSet
    val dir = Files.createTempDirectory("graft_memo_rewrite").toString
    // rewrite the SAME file path (dir/data.parquet) with shifted content —
    // the exact scenario path-only keying replays stale centroids on. The
    // refreshByPath is what any real pipeline rewriting files in place
    // must do anyway (Spark's own FileStatusCache would otherwise serve a
    // stale listing to the scan itself, not just to the memo).
    def writeShift(shift: Double): Unit = {
      val tmp = Files.createTempDirectory("graft_memo_tmp").toString
      spark.range(0, 8).selectExpr("id AS vec_id",
        s"array(cast(id AS double) + $shift, 1.0D) AS v")
        .coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      Thread.sleep(20) // ms-granularity modtime must tick between writes
      Files.copy(part.toPath, Paths.get(dir, "data.parquet"),
        StandardCopyOption.REPLACE_EXISTING)
      spark.catalog.refreshByPath(dir)
    }
    writeShift(0.0)
    val first = spark.read.parquet(dir)
    assert(first.inputFiles.toSeq.map(_.replace("file:///", "file:/")) ==
      Seq(s"file:$dir/data.parquet"))
    val c1 = rows(Similarity.trainIvf(first, k = 2, iters = 1))
    writeShift(100.0) // same path, new bytes — data regenerated in place
    val misses0 = SessionArtifacts.misses.get
    val c2 = rows(Similarity.trainIvf(spark.read.parquet(dir), k = 2, iters = 1))
    assert(SessionArtifacts.misses.get > misses0,
      "rewritten input at the same path must be a memo MISS")
    assert(c2 != c1, "replaying stale centroids after an in-place rewrite")
  }

  test("bitextMine: reciprocal margin-best survives; hub pairs and " +
    "non-reciprocal forward-bests are rejected") {
    import spark.implicits._
    // 2-D unit vectors by angle. Pool A: a1 = 0deg (id 1), a2 = 10deg
    // (id 2). Pool B: b1 = 5deg (id 11), b2 = 90deg (id 12), hub = 45deg
    // (id 13). Hand-computed margins (k = 2): a1-b1 1.078 (reciprocal
    // best both ways), a2-b1 1.046 (forward best but b1 prefers a1 ->
    // dropped), a2-hub 0.98 — raw cosine 0.819 would PASS a 0.8 cosine
    // threshold, but the hub's high neighborhood average pushes the
    // margin under 1.0: the exact failure mode the ratio margin exists
    // to reject.
    def v(deg: Double) = Seq(math.cos(math.toRadians(deg)), math.sin(math.toRadians(deg)))
    val vecs = Seq(
      (1L, v(0)), (2L, v(10)),
      (11L, v(5)), (12L, v(90)), (13L, v(45))
    ).toDF("vec_id", "v")
    val got = Similarity.bitextMine(vecs, col("vec_id") <= 2, k = 2, minMargin = 1.0)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
    assert(got.map(p => (p._1, p._2)).toSet == Set((1L, 11L)),
      s"only the reciprocal margin-best pair may survive: ${got.toSeq}")
    val (_, _, cos, margin) = got.head
    assert(cos == 0.9962 && margin > 1.07 && margin < 1.09,
      s"hand-computed cos/margin for (a1, b1): cos=$cos margin=$margin")
    // (a2, b1) is dropped by RECIPROCITY, not by the threshold: its
    // margin (1.046) clears minMargin = 0, yet the pair still vanishes
    // because b1's backward best is a1
    val all = Similarity.bitextMine(vecs, col("vec_id") <= 2, k = 2, minMargin = 0.0)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(all == Set((1L, 11L)),
      s"reciprocal filter must drop (a2, b1) even with no threshold: $all")
  }
}
