package graft

import org.apache.spark.sql.functions._

import graft.operators.VectorOps

/** Unit tests for embedding similarity search on injected fixtures. */
class VectorOpsSpec extends SparkSpec {

  /** Deterministic 64-dim unit-ish vectors: basis vector for the label
    * plus a small per-id perturbation in a second dimension.
    */
  private def vec(label: Int, wobble: Float): Array[Float] = {
    val a = Array.fill(VectorOps.Dim)(0.0f)
    a(label) = 1.0f
    a(label + 32) = wobble
    a
  }

  private def embDir(rows: Seq[(Long, Array[Float], Int)]): String = {
    val s = spark; import s.implicits._
    tempTableDir("embeddings",
      rows.map { case (id, v, l) => (id, v.toSeq, l) }
        .toDF("vec_id", "embedding", "label"))
  }

  // vec_id 0 and 100 are queries (QueryMod); two clusters at labels 0, 1
  private val fixture = Seq(
    (0L, vec(0, 0.00f), 0), (1L, vec(0, 0.01f), 0), (2L, vec(0, 0.02f), 0),
    (3L, vec(0, 0.90f), 0),
    (100L, vec(1, 0.00f), 1), (101L, vec(1, 0.01f), 1), (102L, vec(1, 0.80f), 1))

  test("planeWeight is deterministic ±1 and not constant") {
    val flat = VectorOps.planes.flatten
    assert(flat.forall(w => w == 1 || w == -1))
    assert(flat.distinct.size === 2)
    assert(VectorOps.planes === IndexedSeq.tabulate(
      VectorOps.NumPlanes, VectorOps.Dim)(VectorOps.planeWeight))
  }

  test("knnExact: ranks by cosine, excludes self, caps at K") {
    val out = VectorOps.knnExact(spark, embDir(fixture))
    val rows = out.collect()
    assert(rows.forall(_.getLong(2) <= VectorOps.K))
    assert(rows.forall(r => r.getLong(0) != r.getLong(1))) // no self-match
    assert(rows.forall(r => math.abs(r.getDouble(3)) <= 1.0 + 1e-12))
    // nearest neighbor of query 0 is the closest same-cluster vector
    val top0 = rows.filter(r => r.getLong(0) == 0L && r.getLong(2) == 1L).head
    assert(top0.getLong(1) === 1L)
    // ranks are 1..n contiguous per query
    val ranks0 = rows.filter(_.getLong(0) == 0L).map(_.getLong(2)).sorted
    assert(ranks0 === (1L to ranks0.length).toArray.toSeq)
  }

  test("knnLsh candidates find the same top-1 as exact search on separated clusters") {
    val dir = embDir(fixture)
    val exact = VectorOps.knnExact(spark, dir)
      .where(col("rank") === 1).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val ann = VectorOps.knnLsh(spark, dir)
      .where(col("rank") === 1).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // ANN is approximate in general; on well-separated clusters the
    // sign codes agree within a cluster, so top-1 must match exact.
    assert(ann === exact)
  }

  test("centroids: exact mean for dyadic values, 64 rows per label") {
    val dir = embDir(Seq(
      (0L, vec(0, 0.25f), 0), (1L, vec(0, 0.75f), 0)))
    val cent = VectorOps.centroids(spark, dir)
    assert(cent.count() === 64)
    val means = cent.collect()
      .map(r => r.getLong(1) -> r.getDouble(4)).toMap
    assert(means(0L) === 1.0)   // both vectors have 1.0 at dim 0
    assert(means(32L) === 0.5)  // (0.25 + 0.75) / 2
    assert(means(5L) === 0.0)
    assert(cent.select("n").distinct().head().getLong(0) === 2L)
  }

  test("knnIvf with nprobe=2 over 2 clusters recovers exact results") {
    val dir = embDir(fixture)
    val exact = VectorOps.knnExact(spark, dir).collect().toSet
    val ivf = VectorOps.knnIvf(spark, dir).collect().toSet
    // both clusters probed → candidate set is the whole corpus → exact
    assert(ivf === exact)
  }

  test("ivfAssign maps every vector to its own cluster's centroid") {
    val out = VectorOps.ivfAssign(spark, embDir(fixture)).collect()
    assert(out.length === fixture.length)
    assert(out.forall(r => r.getInt(1) === r.getInt(2)))
    assert(out.forall(r => r.getDouble(3) > 0.5))
  }

  test("knnIvf/centroids honor an explicit nlist: 1 bucket is exhaustive, default keeps label buckets") {
    val dir = embDir(fixture)
    // nlist=1: a single coarse bucket — every probe scans the whole
    // corpus, so IVF must coincide with the exact baseline
    val exact = VectorOps.knnExact(spark, dir).collect().toSet
    val ivf1 = VectorOps.knnIvf(spark, dir, nlist = 1).collect().toSet
    assert(ivf1 === exact)
    val c1 = VectorOps.centroids(spark, dir, nlist = 1)
    assert(c1.select("label").distinct().collect().map(_.getInt(0)).toSeq === Seq(0))
    assert(c1.select("n").head().getLong(0) === fixture.length.toLong)
    // default nlist: bucket == label — one centroid per fixture cluster
    assert(VectorOps.centroids(spark, dir).select("label").distinct().count() === 2)
  }

  test("auto-sized IVF: √ dial rules, full-corpus assignment, recall holds vs pinned") {
    // the sizing rules themselves (pure integer/IEEE arithmetic)
    assert(VectorOps.autoDials(10000L) === ((100, 1L, 10)))
    assert(VectorOps.autoDials(1000000L) === ((1000, 15L, 32)))
    // the floor: tiny corpora keep the pinned defaults
    assert(VectorOps.autoDials(50L) ===
      ((VectorOps.NList, 1L, math.max(VectorOps.NProbe,
        math.round(math.sqrt(VectorOps.NList.toDouble)).toInt))))
    // engine side on the fixture dir: the dial gauge matches autoDials
    val d = VectorOps.ivfAutoDial(spark, sfDir).head()
    val (nlist, m, nprobe) = VectorOps.autoDials(d.getLong(0))
    assert(d.getLong(1) === nlist.toLong)
    assert(d.getLong(2) === m)
    assert(d.getLong(3) === nprobe.toLong)
    // every vector lands in exactly one inverted list, lists ≤ nlist
    val assign = VectorOps.ivfAssignAuto(spark, sfDir)
    assert(assign.count() === d.getLong(0))
    assert(assign.select("assigned_label").distinct().count() <= nlist.toLong)
    // recall: sane per query, and the auto index does not lose to the
    // pinned index despite the smaller candidate budget
    val auto = VectorOps.ivfAutoRecall(spark, sfDir)
      .agg(avg(col("recall_at_k"))).head().getDouble(0)
    val pinned = VectorOps.ivfRecall(spark, sfDir)
      .agg(avg(col("recall_at_k"))).head().getDouble(0)
    assert(auto > 0.0 && auto <= 1.0)
    assert(auto >= pinned - 0.1,
      s"auto recall $auto collapsed vs pinned $pinned")
  }

  test("auto-banded LSH: bit-length dial rule, recall does not lose to the pinned band") {
    // ⌈log2(N·nBands/c)⌉ via bit-length, clamped — pure integer math
    assert(VectorOps.autoBandBits(500L) === VectorOps.BandBits) // floor
    assert(VectorOps.autoBandBits(20000L) === 14) // ceil(log2(10000))
    assert(VectorOps.autoBandBits(1L << 50) === VectorOps.MaxAutoBandBits)
    val d = VectorOps.lshAutoDial(spark, sfDir).head()
    assert(d.getLong(2) === VectorOps.NumBands.toLong * d.getLong(1))
    // with multi-probe on, the auto dial must not lose to the pinned
    // single-probe band at the same corpus
    val auto = VectorOps.lshAutoRecall(spark, sfDir)
      .agg(avg(col("recall_at_k"))).head().getDouble(0)
    val pinned = VectorOps.lshRecall(spark, sfDir)
      .agg(avg(col("recall_at_k"))).head().getDouble(0)
    assert(auto > 0.0 && auto <= 1.0)
    assert(auto >= pinned - 0.1, s"auto $auto collapsed vs pinned $pinned")
  }

  test("multi-probe candidates are a superset of exact-bucket candidates") {
    // Hamming-1 probing only ADDS probe keys, so per query the probed
    // neighbor set must contain the exact-bucket one — recall can only
    // go up (the fixture measures 0.20 -> 0.48 mean recall at sf0.01)
    val dir = embDir(fixture)
    def hits(probeBits: Int): Set[(Long, Long)] =
      VectorOps.knnLsh(spark, dir, probeBits = probeBits).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exactBuckets = hits(0)
    val probed = hits(1)
    // the fixture has < K vectors, so the top-k cut never drops a
    // candidate and the superset property is visible on the output
    assert(exactBuckets.subsetOf(probed),
      s"probing lost pairs: ${exactBuckets -- probed}")
    intercept[IllegalArgumentException](
      VectorOps.knnLsh(spark, dir, probeBits = 2))
  }

  test("dedupEmbedding finds near-identical pairs via LSH buckets, thresholds the rest") {
    val dir = embDir(fixture)
    val out = VectorOps.dedupEmbedding(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // canonical orientation and threshold honored on every emitted pair
    assert(out.nonEmpty)
    out.foreach { case (a, b, s) =>
      assert(a < b)
      assert(s >= VectorOps.DupThreshold)
    }
    // near-identical same-cluster vectors (0,1): sim ≈ 1 — identical
    // sign codes share every band, so LSH cannot miss them
    assert(out.exists { case (a, b, s) => a == 0L && b == 1L && s > 0.99 })
    // cross-cluster orthogonal pairs (sim ≈ 0) never appear
    assert(!out.exists { case (a, b, _) => a < 100L && b >= 100L })
  }

  test("embDecontaminate flags near-eval vectors, keeps the rest, covers the corpus") {
    val dir = embDir(fixture)
    // EvalMod = 13 puts exactly id 0 in the eval set here
    val evalVec = fixture.find(_._1 == 0L).get._2
    val corpus = fixture.map(_._1).filter(_ % VectorOps.EvalMod != 0)
    val out = VectorOps.embDecontaminate(spark, dir).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), if (r.isNullAt(2)) None else Some(r.getDouble(2)), r.getBoolean(3))))
      .toMap
    // exactly the corpus ids, once each
    assert(out.keySet === corpus.toSet)
    out.foreach { case (id, (hits, maxSim, keep)) =>
      assert(keep === (hits == 0L), s"id $id keep flag")
      val trueSim = cosRef(fixture.find(_._1 == id).get._2, evalVec)
      if (hits > 0L) {
        // one eval vector -> max_sim IS the exact cosine to it
        assert(maxSim === Some(trueSim), s"id $id max_sim")
        assert(trueSim >= VectorOps.DupThreshold)
      } else {
        assert(maxSim === None)
      }
    }
    // identical sign code to the eval vector: LSH cannot miss id 1
    assert(out(1L)._1 === 1L && out(1L)._2.get > 0.99)
    // orthogonal cluster stays clean
    Seq(100L, 101L, 102L).foreach(id => assert(out(id)._3, s"id $id should keep"))
  }

  test("knnSq8 recovers the exact ranking on separated clusters") {
    val dir = embDir(fixture)
    val exact = VectorOps.knnExact(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(2)) -> r.getLong(1)).toMap
    val sq8 = VectorOps.knnSq8(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(2)) -> r.getLong(1)).toMap
    // 8-bit midpoint decode keeps this fixture's cosine gaps (≥ ~0.01
    // in sim) far above the quantization error — full ranking agreement
    assert(sq8 === exact)
    // and the re-ranked sims are the EXACT cosine, not the approximate
    // one: rank-1 of query 0 is its near-identical neighbor
    val sims = VectorOps.knnSq8(spark, dir).collect()
      .filter(r => r.getLong(0) == 0L && r.getLong(2) == 1L)
    assert(sims.head.getLong(1) === 1L)
    assert(sims.head.getDouble(3) > 0.99)
  }

  test("knnBq: exhaustive shortlist on the small fixture equals exact search") {
    // BqReRank·K exceeds the corpus, so Hamming pruning drops nothing
    // and the exact re-rank must reproduce knnExact verbatim — the
    // shortlist-correctness half of the binary index (recall under
    // real pruning is the gauge's job)
    val dir = embDir(fixture)
    def asMap(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(2)) -> (r.getLong(1), r.getDouble(3))).toMap
    assert(asMap(VectorOps.knnBq(spark, dir)) === asMap(VectorOps.knnExact(spark, dir)))
    val recall = VectorOps.bqRecall(spark, dir).collect()
    recall.foreach { r =>
      val hits = math.round(r.getDouble(1) * VectorOps.K)
      assert(hits === r.getLong(2), s"query ${r.getLong(0)} missed neighbors")
    }
  }

  test("sq8Recall recovers every exact neighbor on separated clusters") {
    val rows = VectorOps.sq8Recall(spark, embDir(fixture)).collect()
    assert(rows.map(_.getLong(0)).sorted === Seq(0L, 100L))
    rows.foreach { r =>
      // recall is hits/K; the fixture has fewer than K true neighbors,
      // so "perfect" means hits == n_exact
      val hits = math.round(r.getDouble(1) * VectorOps.K)
      assert(hits === r.getLong(2), s"query ${r.getLong(0)} missed neighbors")
    }
  }

  test("knnPq recovers the exact neighbor set on separated clusters") {
    val dir = embDir(fixture)
    // cluster separation (orthogonal basis vectors) dwarfs PQ
    // quantization error: the top-k SETS agree, and the re-ranked sims
    // are the exact cosine (rank order within a cluster is exact too)
    val exact = VectorOps.knnExact(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(2)) -> r.getLong(1)).toMap
    val pq = VectorOps.knnPq(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(2)) -> r.getLong(1)).toMap
    assert(pq === exact)
    val rows = VectorOps.pqRecall(spark, dir).collect()
    rows.foreach { r =>
      val hits = math.round(r.getDouble(1) * VectorOps.K)
      assert(hits === r.getLong(2), s"query ${r.getLong(0)} missed neighbors")
    }
  }

  test("knnMrl recovers the exact neighbor set when the prefix carries the signal") {
    // the fixture's basis dimension (label 0/1) and wobble dimension
    // (label+32) both sit inside the 32-dim prefix, so truncation loses
    // nothing here — top-k sets and exact re-ranked sims agree
    val dir = embDir(fixture)
    val exact = VectorOps.knnExact(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(2)) -> r.getLong(1)).toMap
    val mrl = VectorOps.knnMrl(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(2)) -> r.getLong(1)).toMap
    assert(mrl === exact)
    VectorOps.mrlRecall(spark, dir).collect().foreach { r =>
      val hits = math.round(r.getDouble(1) * VectorOps.K)
      assert(hits === r.getLong(2), s"query ${r.getLong(0)} missed neighbors")
    }
  }

  test("knnMrl drops a neighbor whose difference hides beyond the prefix") {
    // two candidates for query 0: id 1 differs from the query ONLY in a
    // dim outside the 32-dim prefix (invisible to the approximate pass),
    // id 2 differs in an in-prefix dim by more. With a shortlist capped
    // below the candidate count the truncated pass can't see that id 1
    // is the true nearest — but the exact re-rank still orders whatever
    // enters the shortlist by full-width cosine, so id 1 ranks first
    // among survivors if it gets in (it does here: candidates ≪ 4K).
    val a0 = Array.fill(VectorOps.Dim)(0.0f); a0(0) = 1.0f
    val a1 = a0.clone(); a1(63) = 0.05f // out-of-prefix wobble
    val a2 = a0.clone(); a2(1) = 0.10f  // in-prefix wobble, farther
    val dir = embDir(Seq((0L, a0, 0), (1L, a1, 0), (2L, a2, 0)))
    val out = VectorOps.knnMrl(spark, dir).collect()
      .filter(_.getLong(0) == 0L).sortBy(_.getLong(2))
    // full-width cosine says id 1 (tiny out-of-prefix wobble) is nearer
    assert(out.head.getLong(1) === 1L)
    assert(out.map(_.getLong(1)).toSeq === Seq(1L, 2L))
  }

  test("knnIvfPq recovers exact results when one bucket makes pruning exhaustive") {
    val dir = embDir(fixture)
    // nlist=1: every vector in the single bucket, so IVF prunes nothing
    // and the shortlist (PqReRank·K ≫ fixture size) admits every
    // candidate — the exact re-rank must reproduce the exact baseline.
    // (Residual coding means the ADC scores differ from plain PQ's, so
    // code-level equality with knnPq no longer holds by construction;
    // set-level equality with exact is the invariant that survives.)
    val exact = VectorOps.knnExact(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(2)) -> (r.getLong(1), r.getDouble(3))).toMap
    val ivfpq = VectorOps.knnIvfPq(spark, dir, nlist = 1).collect()
      .map(r => (r.getLong(0), r.getLong(2)) -> (r.getLong(1), r.getDouble(3))).toMap
    assert(ivfpq === exact)
    // and with the default per-label buckets the separated clusters
    // still recover every exact neighbor
    VectorOps.ivfPqRecall(spark, dir).collect().foreach { r =>
      val hits = math.round(r.getDouble(1) * VectorOps.K)
      assert(hits === r.getLong(2), s"query ${r.getLong(0)} missed neighbors")
    }
  }

  test("residual coding reconstructs strictly better than raw PQ at the same budget") {
    // the point of residuals: subtracting the assigned coarse centroid
    // shrinks the distribution the 48-bit codes must cover, so the
    // corpus-wide reconstruction MSE must drop (this is the sfDir
    // synthetic corpus, not the 7-row fixture — MSE needs populated
    // cells to be meaningful)
    val mse = VectorOps.pqMse(spark, sfDir).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(mse.keySet === Set("pq_raw", "ivfpq_residual"))
    assert(mse("ivfpq_residual") < mse("pq_raw"),
      s"residual MSE ${mse("ivfpq_residual")} !< raw MSE ${mse("pq_raw")}")
    assert(mse.values.forall(_ > 0.0))
  }

  test("PQ codes are bounded by the live codebook and cover every vector") {
    val dir = embDir(fixture)
    // white-box on the index building blocks: the codebook's dense slot
    // contract and the per-vector code arrays the ADC scan relies on
    val cb = VectorOps.pqCodebook(spark, dir)
    val nSlots = cb.count()
    assert(nSlots > 0 && nSlots <= VectorOps.PqM.toLong * VectorOps.PqCells)
    // slots are dense 0..n-1 in (m, cell) order
    val slots = cb.select("slot").collect().map(_.getLong(0)).sorted
    assert(slots === (0L until nSlots).toArray)
    val codes = VectorOps.pqCodes(spark, dir)
    assert(codes.count() === fixture.size.toLong)
    codes.collect().foreach { r =>
      val cs = r.getAs[scala.collection.Seq[Long]]("codes")
      assert(cs.size === VectorOps.PqM)
      assert(cs.forall(c => c >= 0 && c < nSlots))
    }
  }

  /** In-order double cosine — the same sequential fold both engines run. */
  private def cosRef(a: Array[Float], b: Array[Float]): Double = {
    var d = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < a.length) {
      d += a(i).toDouble * b(i).toDouble
      na += a(i).toDouble * a(i).toDouble
      nb += b(i).toDouble * b(i).toDouble
      i += 1
    }
    d / (math.sqrt(na) * math.sqrt(nb))
  }

  test("semDedup: flag = exists smaller-id same-cluster neighbor over threshold") {
    val assign = VectorOps.ivfAssign(spark, sfDir)
      .select(col("vec_id"), col("assigned_label")).collect()
      .map(r => r.getLong(0) -> r.getAs[Number]("assigned_label").longValue).toMap
    val emb = graft.sources.Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => r.getLong(0) -> r.getAs[scala.collection.Seq[Float]]("embedding").toArray)
      .toMap
    val out = VectorOps.semDedup(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getAs[Number]("cluster").longValue,
        r.getLong(2)))
    assert(out.length === assign.size, "one row per vector")
    assert(out.exists(_._3 == 1L), "fixture should contain semantic dups")
    assert(out.exists(_._3 == 0L), "fixture should contain non-dups")
    out.foreach { case (id, cl, flag) =>
      assert(cl === assign(id), s"cluster drift for vec $id")
      val expected = assign.exists { case (other, ocl) =>
        ocl == cl && other < id &&
          cosRef(emb(other), emb(id)) >= VectorOps.DupThreshold
      }
      assert(flag === (if (expected) 1L else 0L), s"is_dup wrong for vec $id")
    }
  }

  test("clusterSample: per-cluster quota, members only, md5-rank deterministic") {
    val assign = VectorOps.ivfAssign(spark, sfDir)
      .select(col("vec_id"), col("assigned_label")).collect()
      .map(r => r.getLong(0) -> r.getAs[Number]("assigned_label").longValue).toMap
    val got = VectorOps.clusterSample(spark, sfDir).collect()
      .map(r => (r.getAs[Number]("cluster").longValue, r.getLong(1), r.getLong(2)))
    got.groupBy(_._1).foreach { case (cl, rows) =>
      assert(rows.length <= VectorOps.ClusterSampleN, s"cluster $cl over quota")
      assert(rows.map(_._3).sorted === (1L to rows.length).toArray, s"ranks $cl")
    }
    got.foreach { case (cl, id, _) => assert(assign(id) === cl) }
    // every cluster with members is represented
    assert(got.map(_._1).distinct.sorted === assign.values.toSeq.distinct.sorted)
    // the kept set is exactly the md5-of-id order head of each cluster
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
    val expected = assign.toSeq.groupBy(_._2).toSeq.flatMap { case (cl, members) =>
      members.map(_._1).sortBy(id => (md5hex(id.toString), id))
        .take(VectorOps.ClusterSampleN).map(cl -> _)
    }.toSet
    assert(got.map(t => (t._1, t._2)).toSet === expected)
  }

  test("knnIvfFiltered: label gate holds; results are the filtered rank of IVF candidates") {
    val emb = graft.sources.Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("label")).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val out = VectorOps.knnIvfFiltered(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(out.nonEmpty)
    // every neighbor shares its query's label, ranks dense from 1
    out.foreach { case (q, n, _) => assert(emb(q) === emb(n), s"$q -> $n") }
    out.groupBy(_._1).values.foreach { rs =>
      assert(rs.map(_._3).sorted === (1L to rs.length)) }
    // consistency with the unfiltered IVF pass: the filtered result is
    // exactly the same-label subset of the candidate ranking, so any
    // same-label neighbor the UNFILTERED IVF ranked must reappear
    val unf = VectorOps.knnIvf(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val got = out.map(t => (t._1, t._2)).toSet
    unf.filter { case (q, n) => emb(q) == emb(n) }
      .foreach { p => assert(got.contains(p), s"missing $p") }
  }

  test("knnFiltered: label gate holds, full k returned, post-filtering would fall short") {
    val emb = graft.sources.Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("label")).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val out = VectorOps.knnFiltered(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // every neighbor shares its query's label (the pre-filter semantics)
    out.foreach { case (q, n, _) => assert(emb(q) === emb(n), s"$q -> $n") }
    // each query still gets the FULL k (labels have > K members at every sf)
    val perQuery = out.groupBy(_._1).map { case (q, rs) => q -> rs.map(_._3).sorted }
    perQuery.values.foreach(rs => assert(rs === (1L to VectorOps.K)))
    // the recall cliff this operator avoids: post-filtering the
    // UNFILTERED top-k leaves fewer than k same-label hits for at
    // least one query (10 balanced labels ⇒ ~1 survivor per query)
    val unfiltered = VectorOps.knnExact(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val survivors = unfiltered.groupBy(_._1).map { case (q, rs) =>
      rs.count { case (_, n) => emb(n) == emb(q) }
    }
    assert(survivors.exists(_ < VectorOps.K))
  }

  test("knnLabelPartitioned: full k per query, label gate, recall ≥ stream-filter variant") {
    val emb = graft.sources.Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("label")).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val part = VectorOps.knnLabelPartitioned(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // the fix the stream-filter variant documents: every query gets the
    // FULL k (partitions hold ≥ k+1 members at every sf), and every
    // neighbor is a true filtered hit
    part.foreach { case (q, n, _) => assert(emb(q) === emb(n), s"$q -> $n") }
    val perQuery = part.groupBy(_._1).map { case (q, rs) => q -> rs.map(_._3).sorted }
    assert(perQuery.nonEmpty)
    perQuery.values.foreach(rs => assert(rs === (1L to VectorOps.K)))
    // recall against the exact filtered ground truth, vs the label-blind
    // candidate-stream-filter variant: partition-local probing must not
    // lose to it (at this fixture the stream variant visibly drops rows)
    val exact = VectorOps.knnFiltered(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val stream = VectorOps.knnIvfFiltered(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    def recall(hits: Iterable[(Long, Long)]): Double =
      hits.count(exact.contains).toDouble / exact.size
    val rPart = recall(part.map(t => (t._1, t._2)))
    val rStream = recall(stream)
    assert(rPart >= rStream,
      s"label-partitioned recall $rPart < stream-filter recall $rStream")
    assert(stream.size < exact.size, "fixture no longer shows the <k cliff")
    assert(part.size === exact.size)
  }

  test("knnRp: an exhaustive shortlist reproduces exact KNN row-for-row") {
    // with reRank·K >= corpus the JL pass only ORDERS the shortlist;
    // the exact re-rank then sees every candidate, so the output must
    // equal the exact baseline exactly — the BQ/SQ8 differential
    val exact = VectorOps.knnExact(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val rp = VectorOps.knnRp(spark, sfDir, VectorOps.RpDim, reRank = 1000)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(rp === exact)
    // and the default-tier output is well-formed: K dense ranks per query
    val deft = VectorOps.knnRp(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(2)))
    deft.groupBy(_._1).foreach { case (q, rs) =>
      assert(rs.map(_._2).sorted === (1L to VectorOps.K.toLong), s"query $q")
    }
  }

  test("embCuration: kept = first-N survivors per cluster, dups never kept") {
    val rows = VectorOps.embCuration(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getAs[Number](1).longValue(),
        r.getLong(2), r.getLong(3), r.getLong(4)))
    // decision row for EVERY vector
    assert(rows.length === graft.sources.Tables.embeddings(spark, sfDir).count())
    // dups are never kept and carry no sample rank
    rows.filter(_._3 === 1L).foreach { r =>
      assert(r._5 === 0L && r._4 === 0L, s"dup ${r._1} kept/ranked")
    }
    // per cluster: survivor ranks are dense 1..m, kept = rank <= N
    rows.filter(_._3 === 0L).groupBy(_._2).foreach { case (c, rs) =>
      assert(rs.map(_._4).sorted === (1L to rs.length.toLong), s"cluster $c ranks")
      rs.foreach { r =>
        assert((r._5 === 1L) === (r._4 <= VectorOps.ClusterSampleN),
          s"cluster $c vec ${r._1}")
      }
      assert(rs.count(_._5 === 1L) ===
        math.min(VectorOps.ClusterSampleN, rs.length), s"cluster $c quota")
    }
  }

  test("kCenter: picks replay the exact greedy farthest-point trace") {
    val rows = graft.sources.Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray)
    val ids = rows.map(_._1).sorted
    val emb = rows.toMap
    // same in-order double fold as the operator's aggregate(zip_with)
    def dot(a: Array[Float], b: Array[Float]): Double = {
      var acc = 0.0; var i = 0
      while (i < a.length) { acc += a(i).toDouble * b(i).toDouble; i += 1 }
      acc
    }
    val nrm = emb.map { case (k, v) => k -> dot(v, v) }
    val d = scala.collection.mutable.Map(ids.map(_ -> 2.0): _*)
    val expected = Seq.newBuilder[(Long, Long, Double)]
    for (t <- 1 to VectorOps.KcK) {
      val pick = ids.reduceLeft { (a, b) =>
        if (d(b) > d(a) || (d(b) == d(a) && b < a)) b else a
      }
      expected += ((t.toLong, pick, d(pick)))
      for (id <- ids) {
        val dist = 1.0 -
          dot(emb(id), emb(pick)) / (math.sqrt(nrm(id)) * math.sqrt(nrm(pick)))
        if (dist < d(id)) d(id) = dist
      }
    }
    val got = VectorOps.kCenter(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sortBy(_._1).toSeq
    assert(got === expected.result())
    // the covering radius is non-increasing (the FPS invariant); the
    // sentinel-2.0 first pick is the minimum vec_id
    assert(got.head._2 === ids.min)
    val radii = got.map(_._3).drop(1)
    assert(radii.zip(radii.drop(1)).forall { case (a, b) => a >= b },
      s"covering radius increased: $radii")
  }

  test("knnGraph: bounded out-degree, dense ranks, sims descend, no self-edges") {
    graft.sources.IndexStore.release(spark)
    val rows = VectorOps.knnGraph(spark, sfDir).collect()
    val bySrc = rows.groupBy(_.getAs[Long]("vec_id"))
    assert(bySrc.values.forall(_.length <= VectorOps.GraphK))
    bySrc.foreach { case (src, es) =>
      val sorted = es.sortBy(_.getAs[Long]("rank"))
      assert(sorted.map(_.getAs[Long]("rank")).toSeq === (1L to es.length))
      val sims = sorted.map(_.getAs[Double]("sim"))
      assert(sims.zip(sims.drop(1)).forall { case (a, b) => a >= b })
      assert(es.forall(_.getAs[Long]("neighbor_id") != src))
    }
    graft.sources.IndexStore.release(spark)
  }

  test("graphRecall: one-hop expansion never loses to bare seeds, and buys recall here") {
    graft.sources.IndexStore.release(spark)
    val rows = VectorOps.graphRecall(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Double]("recall_at_k") >= r.getAs[Double]("seed_recall_at_k"),
        s"expansion lost recall for query ${r.getAs[Long]("query_id")}")
    }
    // on the sf0.001 corpus the hop genuinely recovers neighbors
    assert(rows.map(_.getAs[Double]("recall_at_k")).sum >
      rows.map(_.getAs[Double]("seed_recall_at_k")).sum)
    graft.sources.IndexStore.release(spark)
  }

  test("beamRecall: multi-hop beam never loses to the one-hop expansion (superset invariant)") {
    graft.sources.IndexStore.release(spark)
    val rows = VectorOps.beamRecall(spark, sfDir).collect()
    assert(rows.nonEmpty)
    // the exhaustive first hop makes the beam's candidate pool a
    // SUPERSET of the one-hop expansion's; with the shared
    // (sim DESC, id ASC) cut, recall@k is monotone in the pool — so ≥
    // holds per query on ANY fixture, not just this one
    rows.foreach { r =>
      assert(r.getAs[Double]("recall_at_k") >= r.getAs[Double]("expand_recall_at_k"),
        s"beam lost recall for query ${r.getAs[Long]("query_id")}")
    }
    // and the beam result itself is a well-formed ranked list
    val beam = VectorOps.knnGraphBeam(spark, sfDir).collect()
      .groupBy(_.getAs[Long]("query_id"))
    beam.values.foreach { es =>
      val sorted = es.sortBy(_.getAs[Long]("rank"))
      assert(sorted.map(_.getAs[Long]("rank")).toSeq === (1L to es.length))
      val sims = sorted.map(_.getAs[Double]("sim"))
      assert(sims.zip(sims.drop(1)).forall { case (a, b) => a >= b })
    }
    graft.sources.IndexStore.release(spark)
  }

  test("bitextMine: parity sides, dense rank, and an exact margin recompute") {
    graft.sources.IndexStore.release(spark)
    val rows = VectorOps.bitextMine(spark, sfDir).collect()
      .sortBy(_.getAs[Long]("rank"))
    assert(rows.length === VectorOps.BitextTopN)
    assert(rows.map(_.getAs[Long]("rank")).toSeq ===
      (1L to VectorOps.BitextTopN))
    assert(rows.forall(r => r.getAs[Long]("a_id") % 2 == 0 &&
      r.getAs[Long]("b_id") % 2 == 1))
    val margins = rows.map(_.getAs[Double]("margin"))
    assert(margins.zip(margins.drop(1)).forall { case (a, b) => a >= b })
    // driver recompute of the top pair's margin from its penalty sets:
    // rebuild the candidate sims of both endpoints from the banded
    // pair stream the operator itself scores
    val top = rows.head
    val (aId, bId) = (top.getAs[Long]("a_id"), top.getAs[Long]("b_id"))
    graft.plans.GraftExtensions.register(spark)
    val emb = graft.sources.Tables.embeddings(spark, sfDir)
    val bands = emb.select(col("vec_id"),
      posexplode(expr(s"sign_bands(embedding, ${VectorOps.NumPlanes}, ${VectorOps.BandBits})"))
        .as(Seq("band_idx", "band_key")))
    val cands = bands.where(col("vec_id") % 2 === 0)
      .select(col("vec_id").as("a_id"), col("band_idx"), col("band_key"))
      .join(bands.where(col("vec_id") % 2 === 1)
        .select(col("vec_id").as("b_id"), col("band_idx"), col("band_key")),
        Seq("band_idx", "band_key"))
      .select(col("a_id"), col("b_id")).distinct()
      .where(col("a_id") === aId || col("b_id") === bId)
    val sims = cands
      .join(emb.select(col("vec_id").as("a_id"), col("embedding").as("ea")), Seq("a_id"))
      .join(emb.select(col("vec_id").as("b_id"), col("embedding").as("eb")), Seq("b_id"))
      .select(col("a_id"), col("b_id"), expr("cosine_sim(ea, eb)").as("sim"))
      .collect().map(r => (r.getAs[Long]("a_id"), r.getAs[Long]("b_id"),
        r.getAs[Double]("sim")))
    def pen(side: Seq[(Long, Double)]): (Long, Long) = {
      val topk = side.sortBy { case (id, s) => (-s, id) }.take(VectorOps.BitextK)
      (topk.map { case (_, s) =>
        math.floor((1.0 + s) * 1099511627776.0).toLong }.sum, topk.length.toLong)
    }
    val (pa, ca) = pen(sims.filter(_._1 == aId).map(t => (t._2, t._3)).toSeq)
    val (pb, cb) = pen(sims.filter(_._2 == bId).map(t => (t._1, t._3)).toSeq)
    val simTop = sims.find(t => t._1 == aId && t._2 == bId).get._3
    val expected = ((1.0 + simTop) * (2199023255552L * ca * cb).toDouble) /
      (pa * cb + pb * ca).toDouble
    assert(top.getAs[Double]("margin") === expected)
    graft.sources.IndexStore.release(spark)
  }

  test("hardNegatives: labels differ, pos_sim is the true positive max, semi-hard replays") {
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet").collect()
      .map(r => (r.getLong(0),
        r.getSeq[Float](1).toArray, r.getInt(2)))
    val labelOf = emb.map(e => e._1 -> e._3).toMap
    def cos(a: Array[Float], b: Array[Float]): Double = {
      def fold(x: Array[Float], y: Array[Float]) =
        x.indices.foldLeft(0.0)((acc, i) => acc + x(i).toDouble * y(i).toDouble)
      fold(a, b) / (math.sqrt(fold(a, a)) * math.sqrt(fold(b, b)))
    }
    val byId = emb.map(e => e._1 -> e._2).toMap
    val rows = VectorOps.hardNegatives(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (q, nb) = (r.getLong(0), r.getLong(1))
      assert(labelOf(nb) !== labelOf(q), s"($q,$nb) shares the label")
      val posMax = emb.filter(e => e._1 != q && e._3 == labelOf(q))
        .map(e => cos(byId(q), e._2)).max
      assert(r.getDouble(4) === posMax, s"query $q pos_sim")
      val semi = r.getDouble(3) < posMax && r.getDouble(3) + 0.05 > posMax
      assert(r.getLong(5) === (if (semi) 1L else 0L), s"($q,$nb) semi_hard")
    }
    // dense ranks ordered by (sim DESC, id ASC); both flag values occur
    rows.groupBy(_.getLong(0)).foreach { case (q, rs) =>
      val sorted = rs.sortBy(_.getLong(2))
      assert(sorted.map(_.getLong(2)).toSeq === (1L to rs.length).toSeq)
      val key = sorted.map(r => (-r.getDouble(3), r.getLong(1))).toSeq
      assert(key === key.sorted, s"query $q order")
    }
    assert(rows.map(_.getLong(5)).distinct.sorted.toSeq === Seq(0L, 1L))
  }

  test("silhouette: separated synthetic clusters score high; degenerate mixing scores low") {
    // two tight orthogonal clusters, labels 0/1 → nlist=2 trains onto them
    val tight = embDir(Seq(
      (0L, vec(0, 0.00f), 0), (1L, vec(0, 0.01f), 0), (2L, vec(0, 0.02f), 0),
      (10L, vec(1, 0.00f), 1), (11L, vec(1, 0.01f), 1), (12L, vec(1, 0.02f), 1)))
    val hi = VectorOps.silhouette(spark, tight, nlist = 2).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3))))
    graft.sources.IndexStore.release(spark)
    assert(hi.map(_._2._1).sum === 6L)       // every vector scored once
    hi.foreach { case (c, (_, _, s)) => assert(s > 0.8, s"cluster $c low s=$s") }
    // real fixture: conservation + the emitted mean IS sum/(n·grid)
    val rows = VectorOps.silhouette(spark, sfDir).collect()
    val n = spark.read.parquet(s"$sfDir/embeddings.parquet").count()
    assert(rows.map(_.getLong(1)).sum === n)
    rows.foreach { r =>
      val want = r.getLong(2).toDouble / (r.getLong(1).toDouble * VectorOps.SilGrid.toDouble)
      assert(r.getDouble(3) === want)
      assert(r.getDouble(3) >= -1.0 && r.getDouble(3) <= 1.0)
    }
  }

  test("ivf_recall_curve: monotone non-decreasing in nprobe per query") {
    val rows = VectorOps.ivfRecallCurve(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val probes = VectorOps.RecallCurveProbes.map(_.toLong)
    assert(rows.map(_._1).distinct.sorted.toSeq === probes.sorted)
    rows.groupBy(_._2).foreach { case (q, qs) =>
      val byProbe = qs.sortBy(_._1).map(_._3)
      assert(byProbe.zip(byProbe.tail).forall { case (a, b) => a <= b },
        s"query $q curve ${byProbe.mkString(",")}")
    }
    // each sweep point matches its standalone gauge
    VectorOps.RecallCurveProbes.foreach { np =>
      val single = VectorOps.ivfRecall(spark, sfDir, nprobe = np).collect()
        .map(r => r.getLong(0) -> r.getDouble(1)).toMap
      rows.filter(_._1 == np.toLong).foreach { case (_, q, rec) =>
        assert(rec === single(q), s"query $q at nprobe $np")
      }
    }
  }

  test("emb_dedup_eval: truth replay; the verified generator has precision 1") {
    val row = VectorOps.embDedupEval(spark, sfDir).head()
    // precision 1.0 by construction: dedupEmbedding post-verifies
    assert(row.getLong(1) === row.getLong(2), "pred within truth")
    if (row.getLong(1) > 0) assert(row.getDouble(3) === 1.0)
    // truth replay: exact cosine over the sampled pairs
    val sample = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .where(col("vec_id") % VectorOps.DedupEvalMod === 0)
      .select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0
      for (i <- a.indices) {
        d += a(i).toDouble * b(i).toDouble
        na += a(i).toDouble * a(i).toDouble
        nb += b(i).toDouble * b(i).toDouble
      }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    val nTrue = (for {
      i <- sample.indices; j <- (i + 1) until sample.length
      if cos(sample(i)._2, sample(j)._2) >= VectorOps.DupThreshold
    } yield 1).length.toLong
    assert(row.getLong(0) === nTrue, "truth pair count")
    assert(row.getLong(2) <= nTrue)
  }
}
