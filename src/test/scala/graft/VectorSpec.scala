package graft

import org.apache.spark.sql.functions._
import graft.llm.{AnnIvf, AnnLsh, Similarity}
import graft.multimodal.Multimodal
import graft.plans.VectorFunctions

/** Custom vector kernel + ANN scale path + multimodal stub plumbing. */
class VectorSpec extends SparkSpec {

  test("codegen DotProduct is bit-identical to the HOF fold formulation") {
    VectorFunctions.register(spark)
    val e = Tables.embeddings(spark, sfDir)
    val both = e.select(
      Similarity.dotHof(col("embedding"), col("embedding")).as("hof"),
      VectorFunctions.dot(col("embedding"), col("embedding")).as("native"))
    val mismatches = both.where(col("hof") =!= col("native")).count()
    assert(mismatches == 0)
  }

  test("DotProduct matches the HOF on nulls: length mismatch and null elements") {
    VectorFunctions.register(spark)
    import spark.implicits._
    // (a, b) pairs: equal clean, unequal lengths, null element, both empty
    val df = Seq(
      (Seq[java.lang.Float](1.0f, 2.0f), Seq[java.lang.Float](3.0f, 4.0f)),
      (Seq[java.lang.Float](1.0f, 2.0f, 5.0f), Seq[java.lang.Float](3.0f, 4.0f)),
      (Seq[java.lang.Float](1.0f, null), Seq[java.lang.Float](3.0f, 4.0f)),
      (Seq.empty[java.lang.Float], Seq.empty[java.lang.Float]))
      .toDF("a", "b")
      .select(col("a").cast("array<float>").as("a"), col("b").cast("array<float>").as("b"))
    val both = df.select(
      Similarity.dotHof(col("a"), col("b")).as("hof"),
      VectorFunctions.dot(col("a"), col("b")).as("native")).collect()
    both.foreach { r =>
      assert(r.isNullAt(0) == r.isNullAt(1),
        s"null disagreement: hof=${r.get(0)} native=${r.get(1)}")
      if (!r.isNullAt(0)) assert(r.getDouble(0) == r.getDouble(1))
    }
    // the expected shape: row 0 = 11.0, rows 1-2 = null, row 3 = 0.0
    assert(!both(0).isNullAt(1) && both(0).getDouble(1) == 11.0)
    assert(both(1).isNullAt(1) && both(2).isNullAt(1))
    assert(!both(3).isNullAt(1) && both(3).getDouble(1) == 0.0)
  }

  test("blocked simsearch topk == broadcast theta spelling, row for row") {
    // the registered blocked-kernel path must reproduce the declared
    // broadcast |Q|·n spelling exactly: per-block exact top-5 is a superset
    // of the global top-5, the merge window applies the same
    // score-desc/id-asc order, and kernel scores are the same fold
    // registered sort-free (round 15): impose the compare order in-test
    val blocked = Similarity.simsearchTopk(spark, sfDir)
      .orderBy("q_id", "rk").collect().map(_.toSeq).toSeq
    val exact = Similarity.simsearchTopkExact(spark, sfDir)
      .collect().map(_.toSeq).toSeq
    assert(blocked == exact)
  }

  test("blocked topk spellings == theta spellings on random corpora with tied scores") {
    // end-to-end randomized pin THROUGH the registered query paths: random
    // corpora drawn from a small vector pool, so exact duplicates produce
    // equal cosines and the block-local top-k cut + global merge window must
    // break ties identically (score desc, c_id asc) to the theta spellings —
    // the case a fixture with distinct vectors can never exercise
    import spark.implicits._
    val rnd = new scala.util.Random(660068L)
    for (trial <- 1 to 4) {
      val n = 30 + rnd.nextInt(120)
      val dim = 4 + rnd.nextInt(12)
      val pool = Vector.fill(6 + rnd.nextInt(6))(
        Seq.fill(dim)((rnd.nextDouble() * 2 - 1).toFloat))
      val rows = (0 until n).map { i =>
        (i.toLong, pool(rnd.nextInt(pool.size)), rnd.nextInt(4)) }
      val dir = java.nio.file.Files.createTempDirectory("graft_vec").toString
      try {
        rows.toDF("vec_id", "embedding", "label")
          .select(col("vec_id"),
                  col("embedding").cast("array<float>").as("embedding"),
                  col("label"))
          .coalesce(2).write.mode("overwrite")
          .parquet(dir + "/embeddings.parquet")
        val topkB = Similarity.simsearchTopk(spark, dir).orderBy("q_id", "rk").collect().map(_.toSeq).toSeq
        val topkE = Similarity.simsearchTopkExact(spark, dir).collect().map(_.toSeq).toSeq
        assert(topkB == topkE, s"topk trial $trial n=$n dim=$dim")
        val qB = SparkEntry.queries("llm_simsearch_quantized")(spark, dir)
          .orderBy("q_id", "rk").collect().map(_.toSeq).toSeq
        val qE = graft.llm.AnnQuantized.simsearchQuantizedExact(spark, dir)
          .collect().map(_.toSeq).toSeq
        assert(qB == qE, s"quantized trial $trial n=$n dim=$dim")
      } finally {
        import scala.jdk.CollectionConverters._
        java.nio.file.Files.walk(java.nio.file.Paths.get(dir)).iterator().asScala
          .toSeq.reverse.foreach(p => java.nio.file.Files.deleteIfExists(p))
      }
    }
  }

  test("blocked kernel results are invariant to the block count conf") {
    // the block count only sets the parallelism/memory trade — the kernels
    // are exhaustive over blocks, so any B must produce the identical result
    // (the 100 TB deployment grows B with the corpus: vectorBlocksFor)
    // registered sort-free (round 15): impose the compare order in-test
    def rows(df: org.apache.spark.sql.DataFrame, by: String*) =
      df.orderBy(by.map(col): _*).collect().map(_.toSeq).toSeq
    val ref = rows(Similarity.simsearchTopk(spark, sfDir), "q_id", "rk")
    val refQuant = rows(SparkEntry.queries("llm_simsearch_quantized")(spark, sfDir),
      "q_id", "rk")
    VectorFunctions.register(spark)
    def normed(sub: org.apache.spark.sql.Column) = Tables.embeddings(spark, sfDir).where(sub)
      .select(col("vec_id"), col("embedding"),
              sqrt(VectorFunctions.dot(col("embedding"), col("embedding"))).as("nrm"))
    // the registered simjoin's %5 subset and the kNN graph's even-id half
    val joinSub = normed(col("vec_id") % 5 === 0)
    val knnSub = normed(col("vec_id") % 2 === 0)
    def pairsAt(b: Int) =
      rows(Similarity.blockedThresholdPairs(joinSub, Similarity.SimjoinTau, b), "a_id", "b_id")
    val refJoin = rows(Similarity.simjoinThreshold(spark, sfDir)
      .select(col("a_id"), col("b_id")), "a_id", "b_id")
    assert(pairsAt(Similarity.KnnBlocks).map(_.take(2)) == refJoin)
    // blocked kNN candidates are a superset of the exact top-K edges at any B
    val exactEdges = Similarity.knnGraphExact(spark, sfDir)
      .select("src", "dst").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    for (b <- Seq(1, 3, 97)) {
      assert(rows(Similarity.simsearchTopkAt(spark, sfDir, b), "q_id", "rk") == ref, s"topk B=$b")
      assert(pairsAt(b) == pairsAt(Similarity.KnnBlocks), s"simjoin B=$b")
      assert(rows(graft.llm.AnnQuantized.simsearchQuantizedAt(spark, sfDir, b), "q_id", "rk") ==
        refQuant, s"quantized B=$b")
      val cands = Similarity.blockedCandidates(knnSub, b)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(exactEdges.subsetOf(cands),
        s"kNN candidates B=$b miss ${(exactEdges -- cands).take(3)}")
    }
  }

  test("LSH ANN finds a usable share of the exact top-5 (recall)") {
    val exact = Similarity.simsearchTopk(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val ann = AnnLsh.annTopk(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    // random-hyperplane buckets on near-random vectors: expect modest but
    // real recall; and everything ANN returns must be a valid neighbor pair
    val recall = ann.intersect(exact).size.toDouble / exact.size
    assert(recall > 0.05, s"recall=$recall")
    ann.foreach { case (q, c) => assert(q != c) }
    // the registered row's surfaced recall_at_k column agrees EXACTLY with
    // the set-computed per-query recall (the driver-visible audit signal)
    val emitted = SparkEntry.queries("llm_simsearch_lsh")(spark, sfDir)
      .select("q_id", "recall_at_k").distinct().collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    emitted.foreach { case (q, rc) =>
      val expected = ann.count { case (aq, c) => aq == q && exact((q, c)) } / 5.0
      assert(rc == expected, s"q=$q emitted=$rc expected=$expected")
    }
  }

  test("query-directed multi-probe raises LSH recall monotonically in m") {
    val exact = Similarity.simsearchTopk(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    def recallAt(m: Int): Double = {
      val ann = AnnLsh.annTopkAt(spark, sfDir, m)
        .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
      ann.intersect(exact).size.toDouble / exact.size
    }
    val r0 = recallAt(0); val r2 = recallAt(2); val r4 = recallAt(4)
    // probes for m are a prefix of probes for m' > m (margin-sorted flip
    // order), so the candidate set only grows: a true neighbor in the
    // approximate top-k can only be displaced by a candidate scoring above
    // it, which (being scored by EXACT cosine) is at least as true —
    // recall is monotone non-decreasing in m, and on this near-random
    // fixture the extra buckets must find strictly more of the exact top-5
    assert(r2 >= r0, s"recall m=2 ($r2) < m=0 ($r0)")
    assert(r4 >= r2, s"recall m=4 ($r4) < m=2 ($r2)")
    assert(r4 > r0, s"4 extra probes found nothing new (r0=$r0 r4=$r4)")
  }

  test("LSH bucket join examines far fewer pairs than brute force") {
    val sig = AnnLsh.signatures(spark, sfDir)
    val total = sig.count()
    val bucketPairs = sig.groupBy("bucket").count()
      .agg(sum(col("count") * col("count"))).head.getLong(0)
    assert(bucketPairs < total * total / 4,
      s"bucketed pair volume $bucketPairs vs all-pairs ${total * total}")
  }

  test("IVF ANN: well-formed, fewer candidates than brute force, real recall") {
    val exact = Similarity.simsearchTopk(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val ivf = AnnIvf.ivfTopk(spark, sfDir).collect()
    // well-formed: no self-pairs, <=5 per query, scores descending per query
    ivf.groupBy(_.getLong(0)).foreach { case (q, rows) =>
      assert(rows.length <= 5)
      rows.foreach(r => assert(r.getLong(2) != q))
      val scores = rows.sortBy(_.getInt(1)).map(_.getDouble(3))
      assert(scores.sliding(2).forall(p => p.length < 2 || p(0) >= p(1) - 1e-9))
    }
    val recall = ivf.map(r => (r.getLong(0), r.getLong(2))).toSet
      .intersect(exact).size.toDouble / exact.size
    assert(recall > 0.05, s"recall=$recall")
    // surfaced recall column agrees with the set-computed per-query recall
    val ivfPairs = ivf.map(r => (r.getLong(0), r.getLong(2))).toSet
    val emitted = SparkEntry.queries("llm_simsearch_ivf")(spark, sfDir)
      .select("q_id", "recall_at_k").distinct().collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    emitted.foreach { case (q, rc) =>
      val expected = ivfPairs.count { case (aq, c) => aq == q && exact((q, c)) } / 5.0
      assert(rc == expected, s"q=$q emitted=$rc expected=$expected")
    }
    // candidate volume: NumProbe cells per query, not the whole corpus
    val cells = AnnIvf.cellAssignments(spark, sfDir)
    val total = cells.count()
    val maxCell = cells.groupBy("cell").count()
      .agg(max("count")).head.getLong(0)
    assert(AnnIvf.NumProbe * maxCell < total,
      s"probing ${AnnIvf.NumProbe}x$maxCell of $total is not sublinear")
  }

  test("IVF derived probe count: fixture floor np=2, grows with the codebook, clamped to cells") {
    // round 16 (verdict item 2): the default was a FIXED np=2 while the
    // codebook grows ~√n, so the probed-cell fraction shrank with scale
    // (structureless recall 0.201→0.102→0.094 at 2k→128k→256k). The derived
    // default now holds the fixture ratio np/cells ≈ 1/22.
    val n = graft.Tables.countOf(spark, sfDir, "embeddings")
    val fixtureStride = AnnIvf.strideFor(spark, sfDir)
    // the sf0.01 test fixture (200 vectors → 7 cells) keeps the historical
    // np=2 (sf0.1's 45-cell codebook already derives np=3)
    assert(AnnIvf.numProbeFor(spark, sfDir, fixtureStride) == AnnIvf.NumProbe)
    def derivedAt(stride: Long): Int = AnnIvf.numProbeFor(spark, sfDir, stride)
    // shrinking the stride = growing the codebook: the derived default must
    // be non-decreasing in the cell count and strictly larger once cells
    // grow well past the fixture (the scale-aware move)
    val cellsAt = (s: Long) => (n + s - 1) / s
    val strides = Seq(n / 10, n / 50, n / 200).map(math.max(1L, _))
    val nps = strides.map(derivedAt)
    assert(nps.zip(nps.tail).forall { case (a, b) => a <= b },
      s"derived np not monotone in cells: strides=$strides nps=$nps")
    assert(nps.last > AnnIvf.NumProbe,
      s"${cellsAt(strides.last)} cells should derive np > ${AnnIvf.NumProbe}, got ${nps.last}")
    // ratio holds: np ≈ cells/22 (within ceil rounding)
    strides.foreach { s =>
      val want = math.max(AnnIvf.NumProbe.toLong,
        (cellsAt(s) + AnnIvf.ProbeCellDivisor - 1) / AnnIvf.ProbeCellDivisor)
      assert(derivedAt(s).toLong == math.min(cellsAt(s), want))
    }
    // clamp: a one-cell codebook probes exactly one cell
    assert(derivedAt(n * 2) == 1)
  }

  test("IVF recall is monotone non-decreasing in the probed-cell count") {
    // top-np centroids are prefix-ordered (cosine desc, cent_id asc), so the
    // candidate set only grows with np; candidates are ranked by EXACT
    // cosine, so a displaced top-k member is displaced by a truer neighbor
    val exact = Similarity.simsearchTopk(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val stride = AnnIvf.strideFor(spark, sfDir)
    val cells = AnnIvf.cellAssignments(spark, sfDir)
    def recallAt(np: Int): Double = {
      val ann = AnnIvf.probeTopk(spark, sfDir, stride, cells,
          AnnIvf.probeSet(spark, sfDir, cells), np, 5)
        .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
      ann.intersect(exact).size.toDouble / exact.size
    }
    val r1 = recallAt(1); val r2 = recallAt(2); val r8 = recallAt(8)
    assert(r2 >= r1, s"recall np=2 ($r2) < np=1 ($r1)")
    assert(r8 >= r2, s"recall np=8 ($r8) < np=2 ($r2)")
    assert(r8 > r1, s"7 extra probed cells found nothing new (r1=$r1 r8=$r8)")
  }

  test("IVF at np >= 4: no Spark job to build; probe agreement 1.0 local, < 0.95 random") {
    // Two synthetic 4800-vector corpora sized so strideFor derives a
    // 70-cell codebook and np=4:
    // STRUCTURED = 70 tight clusters aligned with the seedless stride
    // codebook (each cluster holds its own centroid, so np=2 already sees
    // every true neighbor → sampled agreement 1.0);
    // RANDOM = per-id seeded noise (candidates from 2 of the 4 probed
    // cells can't reproduce the 4-cell top-k → agreement ~0.5).
    import spark.implicits._
    VectorFunctions.register(spark)
    val n = 4800
    val dim = 24
    val stride = math.max(AnnIvf.CentroidStride.toLong,
      math.round(math.sqrt(n.toDouble)))
    def clusterDir(c: Long): Array[Double] = {
      val rnd = new scala.util.Random(c * 7919L + 13L)
      Array.fill(dim)(rnd.nextDouble() * 2 - 1)
    }
    def corpus(structured: Boolean): Seq[(Long, Seq[Float], Int)] =
      (0L until n).map { id =>
        val rnd = new scala.util.Random(id * 131L + 3L)
        val emb: Seq[Float] =
          if (structured)
            clusterDir(id / stride)
              .map(v => (v + 0.01 * (rnd.nextDouble() * 2 - 1)).toFloat).toSeq
          else Seq.fill(dim)((rnd.nextDouble() * 2 - 1).toFloat)
        (id, emb, if (id % 97 == 0) 0 else 1) // ~50 label-0 queries
      }
    val tmp = java.nio.file.Files.createTempDirectory("graft_ivf_loc").toString
    try {
      for ((name, structured) <- Seq("structured" -> true, "random" -> false)) {
        val d = s"$tmp/$name"
        corpus(structured).toDF("vec_id", "embedding", "label")
          .select(col("vec_id"),
                  col("embedding").cast("array<float>").as("embedding"),
                  col("label").cast("int").as("label"))
          .coalesce(1).write.parquet(s"$d/embeddings.parquet")
        assert(AnnIvf.strideFor(spark, d) == stride)
        assert(AnnIvf.numProbeFor(spark, d, stride) >= 4,
          "both corpora must derive np >= 4")
      }
      val sDir = s"$tmp/structured"; val rDir = s"$tmp/random"
      // the scan resolves first (its schema inference is a job of its own);
      // sizing then reads parquet footers and the index is only marked for
      // caching, so the first build of the query executes nothing
      Tables.load(spark, sDir, "embeddings")
      val (_, jobs) = jobsDuring(AnnIvf.ivfTopk(spark, sDir))
      assert(jobs == 0, s"building ivfTopk ran $jobs Spark job(s)")
      def agreement(d: String): Double = {
        val stride = AnnIvf.strideFor(spark, d)
        AnnIvf.sampledProbeAgreement(spark, d, stride, AnnIvf.cellAssignments(spark, d),
          AnnIvf.numProbeFor(spark, d, stride), 5, 24)
      }
      val local = agreement(sDir)
      assert(local == 1.0, s"cluster-local corpus: np=2 must reproduce the derived top-k, got $local")
      val noise = agreement(rDir)
      assert(noise < 0.95, s"structureless corpus: the extra probes must earn recall, got $noise")
    } finally deleteDir(tmp)
  }

  test("embedding near-dup: is_dup iff a smaller-id vector within tau exists") {
    val flagged = Similarity.neardupEmbedding(spark, sfDir)
      .where(col("is_dup")).collect().map(_.getLong(0)).toSet
    // brute-force expectation via the independent HOF cosine formulation
    val e = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) {
        d += a(i).toDouble * b(i).toDouble
        na += a(i).toDouble * a(i).toDouble
        nb += b(i).toDouble * b(i).toDouble
        i += 1
      }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    val expected = (for {
      (v, ev) <- e
      (u, eu) <- e
      if u < v && cos(eu, ev) >= Similarity.NeardupEmbeddingTau
    } yield v).toSet
    assert(flagged == expected)
  }

  test("blocked threshold pairs equal the theta-join spelling (simjoin + neardup)") {
    // the registered operators generate pairs from the blocked exact kernel;
    // the a_id < b_id theta join is the specification they must reproduce —
    // structurally guaranteed (exhaustive ordered block pairs, identical
    // fold arithmetic), pinned here against implementation bugs
    val sj = Similarity.simjoinThreshold(spark, sfDir).orderBy("a_id", "b_id").collect().toSeq
    val sjExact = Similarity.simjoinThresholdExact(spark, sfDir).collect().toSeq
    assert(sj == sjExact)
    val nd = Similarity.neardupEmbedding(spark, sfDir).orderBy("vec_id").collect().toSeq
    val ndExact = Similarity.neardupEmbeddingExact(spark, sfDir).collect().toSeq
    assert(nd == ndExact)
  }

  test("threshold kernel reproduces theta-join null-poisoning on degenerate vectors") {
    // zero norm → NaN >= tau = false; length mismatch → graft_dot null →
    // excluded; null element → every pair with that vector excluded. The
    // fixtures never exercise these, so build them directly.
    import spark.implicits._
    graft.plans.VectorFunctions.register(spark)
    val rows: Seq[(Long, Seq[java.lang.Float])] = Seq(
      (1L, Seq[java.lang.Float](1.0f, 0.0f)),
      (2L, Seq[java.lang.Float](1.0f, 0.1f)),        // cos(1,2) ≈ 0.995 → pair
      (3L, Seq[java.lang.Float](0.0f, 0.0f)),        // zero norm → no pairs
      (4L, Seq[java.lang.Float](1.0f, 0.0f, 0.0f)),  // len 3 → mismatch vs all
      (5L, Seq[java.lang.Float](1.0f, null)))        // null element → no pairs
    val e = rows.toDF("vec_id", "embedding")
      .select(col("vec_id"), col("embedding").cast("array<float>").as("embedding"))
      .withColumn("nrm",
        sqrt(coalesce(graft.plans.VectorFunctions.dot(col("embedding"), col("embedding")),
                      lit(0.0))))
    val blk = e.select(lit(0L).as("blk"), col("vec_id"), col("embedding"), col("nrm"))
    val qb = blk.groupBy("blk")
      .agg(collect_list(struct(col("vec_id"), col("embedding"), col("nrm"))).as("amem"))
    val pairs = qb.crossJoin(qb.select(col("amem").as("bmem")))
      .select(explode(graft.plans.VectorFunctions.cosThreshPairs(
        col("amem"), col("bmem"), lit(0.5))).as("pr"))
      .select(col("pr.a_id"), col("pr.b_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // the theta spelling admits exactly the (1,2) pair; every degenerate
    // vector's pairs null-poison out
    assert(pairs == Set((1L, 2L)), pairs.toString)
  }

  test("threshold kernel == scala brute force on 30 seeded random corpora") {
    // randomized property pin (fixed seed → reproducible): random corpus
    // sizes, dims, values, plus injected degenerates (zero vectors, ragged
    // lengths) — the kernel must emit exactly the brute-force pair set with
    // bit-identical scores under every blocking of the corpus
    import spark.implicits._
    graft.plans.VectorFunctions.register(spark)
    val rnd = new scala.util.Random(660066L)
    for (trial <- 1 to 30) {
      val n = 2 + rnd.nextInt(40)
      val dim = 1 + rnd.nextInt(8)
      val tau = rnd.nextDouble() * 2 - 1 // [-1, 1)
      val vecs: Seq[(Long, Seq[Float])] = (0 until n).map { i =>
        val d = rnd.nextInt(10) match {
          case 0 => dim + 1 + rnd.nextInt(3) // ragged length
          case _ => dim
        }
        val v = rnd.nextInt(10) match {
          case 0 => Seq.fill(d)(0.0f) // zero vector
          case _ => Seq.fill(d)((rnd.nextDouble() * 2 - 1).toFloat)
        }
        (i.toLong, v)
      }
      val nBlocks = 1 + rnd.nextInt(5)
      val e = vecs.toDF("vec_id", "embedding")
        .select(col("vec_id"), col("embedding").cast("array<float>").as("embedding"))
        .withColumn("nrm",
          sqrt(graft.plans.VectorFunctions.dot(col("embedding"), col("embedding"))))
      val blk = e.select(pmod(xxhash64(col("vec_id")), lit(nBlocks)).as("blk"),
                         col("vec_id"), col("embedding"), col("nrm"))
      val qb = blk.groupBy("blk")
        .agg(collect_list(struct(col("vec_id"), col("embedding"), col("nrm"))).as("amem"))
      val got = qb.crossJoin(qb.select(col("amem").as("bmem")))
        .select(explode(graft.plans.VectorFunctions.cosThreshPairs(
          col("amem"), col("bmem"), lit(tau))).as("pr"))
        .select(col("pr.a_id"), col("pr.b_id"), col("pr.score")).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      // brute force with the same sequential fold
      val expected = (for {
        (i, vi) <- vecs; (j, vj) <- vecs
        if i < j && vi.length == vj.length
        ni = math.sqrt(vi.foldLeft(0.0)((acc, x) => acc + x.toDouble * x.toDouble))
        nj = math.sqrt(vj.foldLeft(0.0)((acc, x) => acc + x.toDouble * x.toDouble))
        if ni * nj != 0.0
        s = vi.lazyZip(vj).foldLeft(0.0) { case (acc, (x, y)) =>
              acc + x.toDouble * y.toDouble } / (ni * nj)
        if s >= tau
      } yield (i, j, s)).toSet
      assert(got == expected, s"trial $trial (n=$n dim=$dim tau=$tau blocks=$nBlocks)")
    }
  }

  test("knn block kernel == scala brute force top-k on 30 seeded random block pairs") {
    // randomized pin for graft_knn_block_cands: per query, the kernel's
    // candidates must be exactly the brute-force top-k of the candidate
    // block (score desc, id asc ties; self excluded; zero-norm/ragged/null
    // handled via the -1 sentinel), for random sizes, dims, and k
    import spark.implicits._
    graft.plans.VectorFunctions.register(spark)
    val rnd = new scala.util.Random(660067L)
    for (trial <- 1 to 30) {
      val nq = 1 + rnd.nextInt(12)
      val ncand = 1 + rnd.nextInt(20)
      val dim = 1 + rnd.nextInt(6)
      val k = 1 + rnd.nextInt(6)
      def mk(ids: Range): Seq[(Long, Seq[Float])] = ids.map { i =>
        val d = if (rnd.nextInt(8) == 0) dim + 1 else dim
        val v = if (rnd.nextInt(8) == 0) Seq.fill(d)(0.0f)
                else Seq.fill(d)((rnd.nextDouble() * 2 - 1).toFloat)
        (i.toLong, v)
      }
      // overlapping id ranges so self-exclusion triggers
      val qs = mk(0 until nq)
      val cs = mk(nq / 2 until (nq / 2 + ncand))
      def block(vs: Seq[(Long, Seq[Float])]) = vs.toDF("vec_id", "embedding")
        .select(col("vec_id"), col("embedding").cast("array<float>").as("embedding"))
        .withColumn("nrm",
          sqrt(graft.plans.VectorFunctions.dot(col("embedding"), col("embedding"))))
        .agg(collect_list(struct(col("vec_id"), col("embedding"), col("nrm"))).as("m"))
      val got = block(qs).crossJoin(block(cs).select(col("m").as("cm")))
        .select(explode(graft.plans.VectorFunctions.knnBlockCands(
          col("m"), col("cm"), lit(k))).as("cd"))
        .select(col("cd.src"), col("cd.dst"), col("cd.score")).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      // brute force: same fold, -1 sentinel for zero-norm/ragged pairs;
      // the emitted score must be bit-equal to the sequential fold
      def nrm(v: Seq[Float]) =
        math.sqrt(v.foldLeft(0.0)((a, x) => a + x.toDouble * x.toDouble))
      val expected = qs.flatMap { case (qid, qv) =>
        val scored = cs.filter(_._1 != qid).map { case (cid, cv) =>
          val denom = nrm(qv) * nrm(cv)
          val s = if (denom != 0.0 && qv.length == cv.length)
            qv.lazyZip(cv).foldLeft(0.0) { case (a, (x, y)) =>
              a + x.toDouble * y.toDouble } / denom
          else -1.0
          (cid, s)
        }
        scored.sortBy { case (cid, s) => (-s, cid) }.take(k)
          .map { case (cid, s) => (qid, cid, s) }
      }
      assert(got.toSet == expected.toSet,
        s"trial $trial (nq=$nq ncand=$ncand dim=$dim k=$k)")
      assert(got.length == expected.length, s"trial $trial cardinality")
    }
  }

  test("top-k merge window: a zero-norm vector never floats NaN through simsearch") {
    // the registered blocked top-k path must keep the -1 sentinel semantics
    // end-to-end through the |Q|·B·k merge window: no NaN ever leaks (the
    // declared theta spelling would rank NaN first — the documented
    // intentional divergence), the zero-norm QUERY still gets exactly k
    // neighbors all at the sentinel with deterministic id tiebreaks, and the
    // zero-norm CANDIDATE never outranks a real neighbor in anyone's top-k
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft_zn_topk").toString
    try {
      val dim = Tables.embeddings(spark, sfDir)
        .select(org.apache.spark.sql.functions.size(col("embedding")))
        .head.getInt(0)
      val zeroId = 2000000L
      val zero = Seq((zeroId, Array.fill(dim)(0.0f), 0)) // label 0 → query AND candidate
        .toDF("vec_id", "embedding", "label")
      Tables.embeddings(spark, sfDir).unionByName(zero)
        .write.mode("overwrite").parquet(s"$tmp/embeddings.parquet")
      val rows = Similarity.simsearchTopk(spark, tmp).collect()
      assert(rows.forall(r => !r.getDouble(3).isNaN), "NaN score leaked")
      val zq = rows.filter(_.getLong(0) == zeroId)
      assert(zq.length == 5, zq.mkString(","))
      assert(zq.forall(_.getDouble(3) == -1.0), zq.mkString(","))
      // sentinel ties break by c_id asc: the zero query's 5 neighbors are the
      // 5 smallest candidate ids
      val expectIds = Tables.embeddings(spark, tmp)
        .where(col("vec_id") =!= zeroId).select("vec_id")
        .collect().map(_.getLong(0)).sorted.take(5).toSeq
      assert(zq.sortBy(_.getInt(1)).map(_.getLong(2)).toSeq == expectIds)
      val asCand = rows.filter(r => r.getLong(0) != zeroId && r.getLong(2) == zeroId)
      assert(asCand.forall(_.getDouble(3) == -1.0),
        s"zero vector outranked real neighbors: ${asCand.mkString(",")}")
    } finally deleteDir(tmp)
  }

  test("knn block kernel rejects non-positive k at analysis time") {
    import spark.implicits._
    VectorFunctions.register(spark)
    val one = Seq((1L, Seq(1.0f), 1.0)).toDF("vec_id", "embedding", "nrm")
      .select(col("vec_id"), col("embedding").cast("array<float>").as("embedding"),
              col("nrm"))
      .agg(collect_list(struct(col("vec_id"), col("embedding"), col("nrm"))).as("m"))
    Seq(0, -3).foreach { k =>
      val ex = intercept[Exception] {
        one.select(VectorFunctions.knnBlockCands(col("m"), col("m"), lit(k))).collect()
      }
      assert(ex.getMessage.contains("k must be >= 1"), s"k=$k: ${ex.getMessage}")
    }
  }

  test("threshold self-joins plan no n²-row pair join (blocked kernel only)") {
    // the only cross join allowed is the B×B block-pair cross (bounded rows);
    // the n-row corpus must never theta-join itself on vector ids
    Seq(Similarity.simjoinThreshold(spark, sfDir),
        Similarity.neardupEmbedding(spark, sfDir)).foreach { df =>
      val p = df.queryExecution.executedPlan.toString
      assert(p.contains("graft_cos_thresh_pairs"), p)
      assert(p.contains("collect_list"), p)
      assert(!p.contains("< b_id"), p) // the theta condition `a_id < b_id` is gone
    }
  }

  test("frame sampling keeps every FrameStride-th frame of each payload") {
    val rows = SparkEntry.queries("mm_frame_sample")(spark, sfDir).collect()
    // expected fan-out computed independently from the UTF-8 payload sizes
    val expected = Tables.documents(spark, sfDir).select("doc_id", "text")
      .collect().map { r =>
        val n = r.getString(1).getBytes("UTF-8").length
        val nFrames = (n + Multimodal.FrameBytes - 1) / Multimodal.FrameBytes
        r.getLong(0) -> (0 until nFrames by Multimodal.FrameStride).size
      }.toMap
    val got = rows.groupBy(_.getLong(0)).view.mapValues(_.length).toMap
    assert(got == expected)
    // sampled indices respect the stride; full frames carry FrameBytes bytes
    rows.foreach { r =>
      assert(r.getInt(1) % Multimodal.FrameStride == 0)
      assert(r.getInt(2) > 0 && r.getInt(2) <= Multimodal.FrameBytes)
    }
  }

  test("multimodal decode stub is deterministic and preserves cardinality") {
    val a = SparkEntry.queries("mm_decode_stub")(spark, sfDir).collect()
    val b = SparkEntry.queries("mm_decode_stub")(spark, sfDir).collect()
    assert(a.sameElements(b))
    assert(a.length == Tables.documents(spark, sfDir).count())
    // identical payloads → identical checksums (exact-dup docs exist)
    val byChecksum = a.groupBy(_.getString(5)).view.mapValues(_.length)
    assert(byChecksum.values.sum == a.length)
  }
}
