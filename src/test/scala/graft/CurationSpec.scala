package graft

import org.apache.spark.sql.functions._
import graft.llm.{Curation, Dedup}

/** Unit coverage for the corpus-curation operators (connected-component
  * dedup clusters, deterministic shuffle/shard, sequence packing, mixture
  * rebalancing, inverted index). */
class CurationSpec extends SparkSpec {

  test("dedup clusters: edges closed, label = min member, survivors = clusters") {
    val pairs = Dedup.neardupPairs(spark, sfDir)
      .select("d1", "d2").collect().map(r => (r.getLong(0), r.getLong(1)))
    val rows = Curation.dedupClusters(spark, sfDir).collect()
    val label = rows.map(r => r.getLong(0) -> r.getLong(1)).toMap
    // every near-dup edge connects members of the same cluster (transitivity
    // is real at this SF: {8,12,120,360} forms a 4-node component)
    pairs.foreach { case (a, b) => assert(label(a) == label(b), s"($a,$b)") }
    // the label is the minimum doc_id of the component
    label.groupBy(_._2).foreach { case (lbl, members) =>
      assert(members.keys.min == lbl)
    }
    // survivor flags mark exactly one representative per cluster
    val survivors = rows.filter(_.getInt(3) == 1).map(_.getLong(0)).toSet
    assert(survivors == label.values.toSet)
    // reported sizes agree with actual membership
    rows.foreach { r =>
      assert(r.getLong(2) == label.count(_._2 == r.getLong(1)))
    }
  }

  test("alternating-star CC equals the one-task union-find clustering") {
    val oneTask = Curation.dedupClusters(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3))).toSet
    val star = Curation.dedupClustersStar(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3))).toSet
    assert(star == oneTask)
  }

  /** (doc_id, cluster_id, cluster_size, is_survivor) rows of a finish, one per doc_id. */
  private def ccRows(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Long, Int)] = {
    val rows = df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3)))
    assert(rows.map(_._1).distinct.length == rows.length, "a doc_id has two rows")
    rows.toSet
  }

  test("connected components on a 100-node path: both finishes label every node 0") {
    // diameter 99: a per-round label propagation would need 99 rounds; the
    // one-task union-find needs none and the alternating star O(log n)
    import spark.implicits._
    val path = (0L until 99L).map(i => (i, i + 1)).toDF("d1", "d2")
    val want = (0L until 100L).map(id => (id, 0L, 100L, if (id == 0L) 1 else 0)).toSet
    assert(ccRows(Curation.connectedComponents(path, 100L)) == want)
    assert(ccRows(Curation.connectedComponents(path, Long.MaxValue)) == want)
  }

  test("connected components: one-task == star == driver closure on 240 generated frames") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    import spark.implicits._
    // component shapes over local node indices 0..n-1
    val clique = Gen.choose(2, 8).map(c => for (i <- 0 until c; j <- i + 1 until c) yield (i, j))
    val path100 = Gen.const((0 until 99).map(i => (i, i + 1)))
    val bothWays = Gen.const(Seq((0, 1), (1, 0)))
    val isolated = Gen.const(Seq((0, 1)))
    val sparse = Gen.choose(3, 20).flatMap(n =>
      Gen.listOfN(n, Gen.zip(Gen.choose(0, n - 1), Gen.choose(0, n - 1)))) // self-loops too
    val component = Gen.frequency(3 -> clique, 1 -> path100, 2 -> bothWays,
                                  2 -> isolated, 2 -> sparse)
    // a frame: a few components on disjoint random ids (so a component's
    // minimum sits anywhere in it), each edge in a random orientation, some
    // edges repeated, rows shuffled
    val frame: Gen[Seq[(Long, Long)]] = for {
      comps <- Gen.choose(1, 5).flatMap(Gen.listOfN(_, component))
      shuffleSeed <- Gen.long
    } yield {
      val rnd = new scala.util.Random(shuffleSeed)
      val sizes = comps.map(_.flatMap { case (a, b) => Seq(a, b) }.max + 1)
      val ids = rnd.shuffle(Vector.range(0L, 1000L)).take(sizes.sum)
      val edges = comps.zip(sizes.scanLeft(0)(_ + _)).flatMap { case (c, o) =>
        c.map { case (a, b) =>
          if (rnd.nextBoolean()) (ids(o + a), ids(o + b)) else (ids(o + b), ids(o + a)) }
      }
      rnd.shuffle(edges ++ edges.filter(_ => rnd.nextInt(4) == 0))
    }
    // the driver closure: label = component minimum, by graph search
    def closure(edges: Seq[(Long, Long)]): Set[(Long, Long, Long, Int)] = {
      val adj = edges.flatMap { case (a, b) => Seq(a -> b, b -> a) }.groupMap(_._1)(_._2)
      val label = scala.collection.mutable.Map.empty[Long, Long]
      adj.keys.foreach { start =>
        if (!label.contains(start)) {
          val seen = scala.collection.mutable.Set(start)
          var frontier = List(start)
          while (frontier.nonEmpty) {
            frontier = frontier.flatMap(adj(_)).filter(seen.add)
          }
          seen.foreach(label(_) = seen.min)
        }
      }
      val size = label.values.groupBy(identity).view.mapValues(_.size.toLong).toMap
      label.map { case (id, l) => (id, l, size(l), if (id == l) 1 else 0) }.toSet
    }
    // 12 batches of 20 frames, each batch one Spark frame: frame f of a
    // batch sits on ids f·1000 + [0, 1000), so no component spans two
    // frames, the batch closure is the union of the frame closures, and a
    // differing row names its frame. Every batch runs the one-task finish
    // under three partitionings and the star finish under one.
    val frames = (1 to 240).map(seed => frame.pureApply(Gen.Parameters.default, Seed(seed.toLong)))
    frames.grouped(20).zipWithIndex.foreach { case (batch, b) =>
      val edges = batch.zipWithIndex.flatMap { case (fr, f) =>
        fr.map { case (x, y) => (x + f * 1000L, y + f * 1000L) } }
      val want = closure(edges)
      def check(got: Set[(Long, Long, Long, Int)], what: String): Unit = {
        val seeds = ((got diff want) ++ (want diff got)).map(r => b * 20 + r._1 / 1000 + 1)
        assert(seeds.isEmpty, s"$what differs from the closure on seeds ${seeds.toSeq.sorted}")
      }
      val df = edges.toDF("d1", "d2")
      Seq(1, 3, 7).foreach { parts =>
        check(ccRows(Curation.connectedComponents(df.repartition(parts), want.size.toLong)),
              s"one-task finish over $parts partitions")
      }
      check(ccRows(Curation.connectedComponents(df.repartition(1 + b % 5), Long.MaxValue)),
            s"star finish over ${1 + b % 5} partitions")
    }
    spark.catalog.clearCache() // the star finish caches each batch's pairs
  }

  test("building llm_dedup_clusters starts no more Spark jobs than building its pair frame") {
    spark.catalog.clearCache()
    val (_, pairJobs) = jobsDuring(Dedup.neardupPairs(spark, sfDir))
    spark.catalog.clearCache()
    val (_, ccJobs) = jobsDuring(Curation.dedupClusters(spark, sfDir))
    assert(ccJobs <= pairJobs, s"connected components added ${ccJobs - pairJobs} job(s)")
  }

  test("llm_dedup_clusters under the one-task bound executes no localCheckpoint scan") {
    assert(Tables.countOf(spark, sfDir, "documents") <= Curation.OneTaskCcMaxNodes)
    val df = Curation.dedupClusters(spark, sfDir)
    df.collect()
    // a localCheckpoint'ed frame plans as a scan of its checkpointed RDD
    val rddScans = flattenPlan(df.queryExecution.executedPlan)
      .collect { case r: org.apache.spark.sql.execution.RDDScanExec => r.nodeName }
    assert(rddScans.isEmpty, rddScans.mkString(", "))
  }

  test("corpus shuffle is a deterministic partition into dense shards") {
    val a = Curation.corpusShuffle(spark, sfDir).collect()
    val b = Curation.corpusShuffle(spark, sfDir).collect()
    assert(a.toSeq == b.toSeq) // reruns produce the identical permutation
    val nDocs = Tables.documents(spark, sfDir).count()
    assert(a.length == nDocs)
    assert(a.map(_.getLong(2)).distinct.length == nDocs) // every doc once
    // positions are dense 1..size within each shard
    a.groupBy(_.getInt(0)).foreach { case (_, rows) =>
      assert(rows.map(_.getLong(1)).sorted.toSeq == (1L to rows.length).toSeq)
    }
  }

  test("sequence packing conserves tokens and numbers chunks densely") {
    val chunks = Curation.seqPack(spark, sfDir).collect()
    val totals = Tables.documents(spark, sfDir)
      .select(col("lang"),
        size(filter(split(lower(col("text")), "\\s+"), x => x =!= ""))
          .cast("bigint").as("n"))
      .groupBy("lang").agg(sum("n").as("total"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    chunks.groupBy(_.getString(0)).foreach { case (lang, rows) =>
      assert(rows.map(_.getLong(3)).sum == totals(lang)) // no token lost
      val ids = rows.map(_.getLong(1)).sorted.toSeq
      assert(ids == (0L until rows.length).toSeq) // dense from 0
    }
  }

  test("mix rebalancing emits exactly tier copies per document") {
    val rows = Curation.mixRebalance(spark, sfDir).collect()
    val byDoc = rows.groupBy(_.getLong(0))
    assert(byDoc.size == Tables.documents(spark, sfDir).count())
    byDoc.foreach { case (_, copies) =>
      val tier = copies.head.getInt(2)
      assert(copies.map(_.getInt(3)).sorted.toSeq == (1 to tier).toSeq)
    }
  }

  test("decontamination flags exactly the cross-set near-dup pairs") {
    val rows = Curation.decontaminate(spark, sfDir).collect()
    val src = Tables.documents(spark, sfDir)
      .select("doc_id", "source").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    // ground truth recomputed independently in memory: token 5-gram Jaccard
    val sets = Tables.documents(spark, sfDir)
      .select("doc_id", "text").collect().map { r =>
        val t = r.getString(1).toLowerCase.split("\\s+").filter(_.nonEmpty)
        r.getLong(0) -> t.sliding(5).filter(_.length == 5).map(_.mkString(" ")).toSet
      }.toMap
    rows.foreach { r =>
      val (train, bench) = (r.getLong(0), r.getLong(1))
      assert(src(train) != Curation.BenchmarkSource)
      assert(src(bench) == Curation.BenchmarkSource)
      val (a, b) = (sets(train), sets(bench))
      val jac = a.intersect(b).size.toDouble / a.union(b).size
      assert(jac >= Dedup.JaccardThreshold, s"($train,$bench) jac=$jac")
      assert(math.abs(jac - r.getDouble(2)) < 1e-4)
    }
    // completeness: every qualifying cross-set pair is reported
    val expected = for {
      (t, ts) <- sets.toSeq; if src(t) != Curation.BenchmarkSource && ts.nonEmpty
      (bch, bs) <- sets.toSeq; if src(bch) == Curation.BenchmarkSource && bs.nonEmpty
      if ts.intersect(bs).size.toDouble / ts.union(bs).size >= Dedup.JaccardThreshold
    } yield (t, bch)
    assert(rows.map(r => (r.getLong(0), r.getLong(1))).toSet == expected.toSet)
  }

  test("ngram decontamination matches a brute-force 13-gram collision recompute") {
    val n = Curation.DecontamNgramN
    val src = Tables.documents(spark, sfDir)
      .select("doc_id", "source").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    // ground truth: distinct word 13-grams per doc (short docs → whole doc)
    val grams = Tables.documents(spark, sfDir)
      .select("doc_id", "text").collect().map { r =>
        val t = r.getString(1).toLowerCase.split("\\s+").filter(_.nonEmpty).toSeq
        val g = if (t.isEmpty) Set.empty[String]
                else if (t.length < n) Set(t.mkString(" "))
                else t.sliding(n).map(_.mkString(" ")).toSet
        r.getLong(0) -> g
      }.toMap
    val benchGrams = grams.toSeq
      .filter { case (id, _) => src(id) == Curation.BenchmarkSource }
    val rows = Curation.decontaminateNgram(spark, sfDir).collect()
    rows.foreach { r =>
      val (train, nHit, nGrams) = (r.getLong(0), r.getLong(1), r.getLong(2))
      assert(src(train) != Curation.BenchmarkSource)
      val g = grams(train)
      val benchAll = benchGrams.flatMap(_._2).toSet
      val hits = g.intersect(benchAll)
      assert(hits.nonEmpty, s"$train flagged with no colliding gram")
      assert(nHit == hits.size.toLong, s"$train n_hit")
      assert(nGrams == g.size.toLong, s"$train n_grams")
      assert(math.abs(r.getDouble(3) - hits.size.toDouble / g.size) < 1e-4)
      val firstBench = benchGrams
        .filter { case (_, bg) => bg.intersect(g).nonEmpty }.map(_._1).min
      assert(r.getLong(4) == firstBench, s"$train first_bench_id")
    }
    // completeness: every train doc sharing any gram with the eval set is in
    val benchAll = benchGrams.flatMap(_._2).toSet
    val expected = grams.toSeq.collect {
      case (id, g) if src(id) != Curation.BenchmarkSource &&
                      g.intersect(benchAll).nonEmpty => id
    }.toSet
    assert(rows.map(_.getLong(0)).toSet == expected)
  }

  test("ngram decontamination broadcasts the eval gram side (corpus never self-pairs)") {
    val p = Curation.decontaminateNgram(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"),
      "the small eval-set gram side must broadcast into the corpus pass")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("curation e2e: survivors exclude every doc an upstream stage drops") {
    import org.apache.spark.sql.functions._
    val shards = SparkEntry.queries("llm_curation_e2e")(spark, sfDir).collect()
    val nTotal = Tables.documents(spark, sfDir).count()
    val nKept = shards.map(_.getLong(1)).sum
    assert(shards.length <= Curation.NumShards)
    assert(nKept > 0 && nKept < nTotal) // the gates actually drop something
    // no near-dup cluster non-survivor can be counted: per-shard doc ranges
    // must exclude each dropped id
    val dropped = Curation.dedupClusters(spark, sfDir)
      .where(col("is_survivor") === 0).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    val keptTotal = nKept + dropped.size
    assert(keptTotal <= nTotal) // dropped and kept are disjoint populations
  }

  test("inverted index: df equals posting length and covers the corpus") {
    val rows = Curation.invertedIndex(spark, sfDir).collect()
    rows.foreach { r =>
      assert(r.getLong(1) == r.getString(2).split('|').length.toLong)
    }
    val allDocs = rows.flatMap(_.getString(2).split('|')).map(_.toLong).toSet
    // the fixture vocabulary is shared, so every doc appears in some posting
    assert(allDocs == Tables.documents(spark, sfDir)
      .select("doc_id").collect().map(_.getLong(0)).toSet)
  }

  test("mix temperature: weights normalize and flatten toward the mean") {
    val rows = Curation.mixTemperature(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4)))
    assert(rows.nonEmpty)
    val wsum = rows.map(_._4).sum
    assert(math.abs(wsum - 1.0) < 1e-4, s"weights sum to $wsum")
    // temperature < 1 flattens: below-mean sources upsample, above-mean downsample
    val meanShare = 1.0 / rows.length
    rows.foreach { case (src, _, share, _, upsample) =>
      if (share < meanShare * 0.95) assert(upsample > 1.0, s"$src should upsample")
      if (share > meanShare * 1.05) assert(upsample < 1.0, s"$src should downsample")
    }
  }

  test("ingest dedup: verdicts match an independent cross-set recompute") {
    // registered sort-free (round 15): impose the compare order in-test
    val rows = Curation.ingestDedup(spark, sfDir).orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val docs = Tables.documents(spark, sfDir).select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val (batch, corpus) = docs.keys.toSeq.sorted.partition(_ % 10 == 7)
    assert(rows.map(_._1).toSeq == batch)
    def shingles(t: String): Set[Seq[String]] = {
      val tk = t.toLowerCase.split("\\s+").filter(_.nonEmpty).toSeq
      tk.sliding(5).filter(_.size == 5).toSet
    }
    val corpusSh = corpus.map(id => id -> shingles(docs(id)))
    for ((id, verdict, matchId) <- rows) {
      val exact = corpus.filter(c => docs(c) == docs(id))
      val near = corpusSh.filter { case (_, cs) =>
        val ns = shingles(docs(id))
        val inter = (ns & cs).size
        inter.toDouble / (ns.size + cs.size - inter) >= 0.8
      }.map(_._1)
      if (exact.nonEmpty) {
        assert(verdict == "exact_dup" && matchId == exact.min)
      } else if (near.nonEmpty) {
        assert(verdict == "near_dup" && matchId == near.min)
      } else {
        assert(verdict == "new" && matchId == -1L)
      }
    }
    assert(rows.exists(_._2 != "new"), "fixture has no cross-set dup — vacuous")
  }
}
