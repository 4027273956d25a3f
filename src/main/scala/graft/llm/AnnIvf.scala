package graft.llm

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{NoOracle, Op, Tables}

/** Approximate nearest neighbor via an IVF (inverted-file) coarse quantizer —
  * the second scale path for §2.11 similarity search, complementing the
  * random-hyperplane LSH in [[AnnLsh]].
  *
  * Build: a deterministic centroid set (every `CentroidStride`-th vec_id —
  * seedless, so the index is reproducible without storing state); every
  * vector is assigned to its nearest centroid by cosine → a "cell" id.
  * Query: probe the `NumProbe` nearest cells and rank their members by exact
  * cosine.
  *
  * 100 TB shape: the centroid table is tiny and broadcast; assignment is a
  * map-side broadcast join (no shuffle of the big side beyond the one
  * repartition-by-cell that also serves the probe join). Candidate volume
  * drops from |Q|·|C| to |Q|·NumProbe·E[cell size] ≈ |Q|·|C|·NumProbe/K,
  * and cells are the unit of physical data placement (a real deployment
  * would partition the vector corpus by cell id on disk, making a probe a
  * partition-pruned scan). Recall vs the exact baseline is pinned in
  * ScalaTest; registered rows-only (approximate output has no SQL oracle).
  */
object AnnIvf {
  val CentroidStride = 32
  val NumProbe = 2

  /** The derived default's probed-cell ratio: [[NumProbe]] probes of the
    * ~44-cell sf0.1 fixture codebook ≈ 1/22 of the cells. */
  val ProbeCellDivisor = 22L

  /** Scale-aware default probe count (round 16 — the round-15 verdict's
    * item 2): hold the probed-cell FRACTION roughly at the fixture
    * default's ratio instead of letting the probed corpus fraction shrink
    * as the codebook grows ~√n. Round 15 measured exactly that decay on the
    * structureless corpus — recall 0.201→0.102→0.094 (2k→128k→256k
    * vectors) at a FIXED np=2 while np=8 read 0.254: the knob worked, the
    * default didn't move with the cell count the way `planesFor`/multi-probe
    * already adapt LSH. np = max(NumProbe, ⌈cells/22⌉) keeps the small test
    * fixtures (sf0.01: 7 cells) on the historical np=2 and grows the probe
    * count with the codebook — the sf0.1 fixture's 45-cell codebook already
    * derives np=3 (measured structureless recall 0.246 vs np=2's 0.201), and
    * the 64×/128×/256× probe corpora derive 17/23/33 (recall 0.39/0.43/0.47,
    * RISING where the fixed default decayed — BASELINE.md round-16 table). Per-query probe cost becomes np·stride ≈ n/22
    * — deliberately the recall end of the recall/throughput trade for the
    * regime where no sublinear probe can hold recall (no locality exists).
    * A cluster-local corpus keeps its recall at np=[[NumProbe]]; that is
    * measured by [[sampledProbeAgreement]] (`graft.Dev ivf`), not decided
    * here. The derived default is clamped to the cell count. */
  def numProbeFor(s: SparkSession, d: String, stride: Long): Int =
    probesFor((Tables.countOf(s, d, "embeddings") + stride - 1) / stride)

  /** [[numProbeFor]]'s rule for a `cells`-cell codebook — also the streaming
    * semdedup's probe width over its collected codebook. */
  def probesFor(cells: Long): Int = {
    val c = math.max(1L, cells)
    math.min(c, math.max(NumProbe.toLong, (c + ProbeCellDivisor - 1) / ProbeCellDivisor)).toInt
  }

  import graft.plans.VectorFunctions.dot

  /** (vec_id, embedding, nrm) with precomputed L2 norm. */
  private def normed(s: SparkSession, d: String): DataFrame =
    Tables.embeddings(s, d)
      .select(col("vec_id"), col("embedding"),
              sqrt(dot(col("embedding"), col("embedding"))).as("nrm"))

  /** Adaptive codebook size — the textbook IVF balance nlist ≈ √n, i.e.
    * stride ≈ √n: assignment compute O(n·√n), probe O(|Q|·nprobe·√n), cell
    * size ≈ √n. The round-12 128× ScaleProbe showed why a FIXED stride is
    * a scale bug: nlist = n/32 grows linearly with the corpus, so
    * assignment materializes n·n/32 ranking rows — 2 billion at 256k
    * vectors — and OOMs the executors. Floor = [[CentroidStride]] keeps the
    * small fixtures on their historical codebook (√n < 32 up to ~1k
    * vectors). */
  def strideFor(s: SparkSession, d: String): Long = {
    val n = Tables.countOf(s, d, "embeddings") // parquet footer row counts
    math.max(CentroidStride.toLong, math.round(math.sqrt(n.toDouble)))
  }

  /** The deterministic coarse-quantizer codebook (every stride-th vec_id —
    * seedless, so the index is reproducible without storing state; ≈ √n
    * rows, always broadcast). */
  def centroids(s: SparkSession, d: String): DataFrame =
    centroidsAt(s, d, strideFor(s, d))

  private def centroidsAt(s: SparkSession, d: String, stride: Long): DataFrame =
    normed(s, d).where(col("vec_id") % stride === 0)
      .select(col("vec_id").as("cent_id"), col("embedding").as("centv"),
              col("nrm").as("centn"))

  /** Rank all centroids per vector by cosine; keep the top `take`.
    *
    * Ranking runs on SLIM rows: the n×|C| cross product projects only
    * (vec_id, cent_id, cscore) — the embedding array never rides a shuffle
    * or sort buffer — and the arrays rejoin 1:1 on vec_id afterwards.
    * take=1 (the index-build path, the big side) is an argmax HASH AGG,
    * not a window: the map-side partial `max_by` collapses each task's |C|
    * rows per vector to one before anything shuffles, so shuffle volume is
    * O(n), not O(n·|C|). take>1 (the probe path, the small query side)
    * keeps the row_number window over the slim rows. */
  private def nearestCells(vecs: DataFrame, cents: DataFrame, take: Int): DataFrame = {
    val slim = vecs
      .crossJoin(broadcast(cents))
      .select(col("vec_id"), col("cent_id"),
              (dot(col("embedding"), col("centv")) / (col("nrm") * col("centn")))
                .as("cscore"))
    val picked =
      if (take == 1)
        // maximize (cscore, -cent_id): score ties go to the smallest
        // cent_id, matching the window ordering (cscore desc, cent_id asc)
        slim.groupBy("vec_id")
          .agg(max_by(col("cent_id"),
                      struct(col("cscore"), (-col("cent_id")).as("nid")))
                 .as("cent_id"))
      else {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("vec_id"))
          .orderBy(col("cscore").desc, col("cent_id"))
        slim.withColumn("crk", row_number().over(w))
          .where(col("crk") <= take)
          .select(col("vec_id"), col("cent_id"))
      }
    picked.join(vecs, "vec_id")
      .select(col("vec_id"), col("embedding"), col("nrm"), col("cent_id"))
  }

  /** Inverted file: every vector labeled with its cell (nearest centroid). */
  def cellAssignments(s: SparkSession, d: String): DataFrame =
    cellAssignmentsAt(s, d, strideFor(s, d))

  private def cellAssignmentsAt(s: SparkSession, d: String, stride: Long): DataFrame = {
    graft.plans.VectorFunctions.register(s)
    nearestCells(normed(s, d), centroidsAt(s, d, stride), 1)
      .select(col("vec_id"), col("embedding"), col("nrm"),
              col("cent_id").as("cell"))
  }

  /** The probe-and-rank stage against a prepared (q_id, qv, qn) query set
    * at `np` probed cells — shared by the registered query (at
    * [[numProbeFor]]), [[sampledProbeAgreement]] (twice, at different np,
    * on a query sample) and the specs and `graft.Dev ivf`, which vary np. */
  private[graft] def probeTopk(s: SparkSession, d: String, stride: Long,
                        cells: DataFrame, probes: DataFrame,
                        np: Int, k: Int): DataFrame = {
    val probed = nearestCells(
      probes.select(col("q_id").as("vec_id"), col("qv").as("embedding"),
                    col("qn").as("nrm")),
      centroidsAt(s, d, stride), np)
      .select(col("vec_id").as("q_id"), col("embedding").as("qv"),
              col("nrm").as("qn"), col("cent_id").as("cell"))
    val cands = cells.select(col("vec_id").as("c_id"), col("embedding").as("cv"),
                             col("nrm").as("cn"), col("cell"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("q_id"))
      .orderBy(col("score").desc, col("c_id"))
    probed.join(cands, Seq("cell"))
      .where(col("q_id") =!= col("c_id"))
      .select(col("q_id"), col("c_id"),
              (dot(col("qv"), col("cv")) / (col("qn") * col("cn"))).as("score"))
      .distinct() // a candidate reachable via both probed cells counts once
      .withColumn("rk", row_number().over(w))
      .where(col("rk") <= k)
      .select(col("q_id"), col("rk"), col("c_id"), round(col("score"), 6).as("score6"))
  }

  /** The (q_id, qv, qn) query set: label=0 vectors, reusing the index's
    * precomputed norms. */
  private[graft] def probeSet(s: SparkSession, d: String, cells: DataFrame): DataFrame =
    Tables.embeddings(s, d).where(col("label") === 0)
      .select(col("vec_id"))
      .join(cells, "vec_id") // reuse the index's vectors+norms for queries
      .select(col("vec_id").as("q_id"), col("embedding").as("qv"),
              col("nrm").as("qn"))

  /** Cluster-locality measurement: probe a deterministic md5-ordered
    * sample of the query set at np=[[NumProbe]] and at the derived np, and
    * return |topk_low ∩ topk_high| / |topk_high| — 1.0 means the extra
    * probes changed nothing (a cluster-local corpus, where np=[[NumProbe]]
    * would keep recall at a fraction of the probe cost). Deterministic (md5
    * order with a q_id tiebreak, seedless codebook). Runs Spark jobs, so
    * the registered query never calls it; `graft.Dev ivf` prints it. */
  def sampledProbeAgreement(s: SparkSession, d: String, stride: Long,
                            cells: DataFrame, derivedNp: Int, k: Int,
                            sampleN: Int): Double = {
    val sample = probeSet(s, d, cells)
      .orderBy(md5(col("q_id").cast("string")), col("q_id")).limit(sampleN)
      .transform(graft.Caching.cachedOnce) // two probe consumers below
    val lo = probeTopk(s, d, stride, cells, sample, NumProbe, k)
      .select(col("q_id"), col("c_id"))
    val hi = probeTopk(s, d, stride, cells, sample, derivedNp, k)
      .select(col("q_id"), col("c_id"))
    val total = hi.count()
    if (total == 0L) 1.0
    else lo.intersect(hi).count().toDouble / total
  }

  /** IVF approximate top-k for the label=0 query set (same output shape as
    * the exact operator and [[AnnLsh.annTopk]]). */
  def ivfTopk(s: SparkSession, d: String, k: Int = 5): DataFrame = {
    graft.plans.VectorFunctions.register(s)
    val stride = strideFor(s, d) // one sizing count serves build AND probe
    val cells = cellAssignmentsAt(s, d, stride).transform(graft.Caching.cachedOnce) // index feeds probe + candidates
    probeTopk(s, d, stride, cells, probeSet(s, d, cells), numProbeFor(s, d, stride), k)
      .orderBy("q_id", "rk")
  }

  val ops: Seq[Op] = Seq(
    Op("llm_simsearch_ivf", (s, d) => Similarity.maybeWithRecall(ivfTopk(s, d), s, d),
      NoOracle("graft.VectorSpec", "approximate top-k, bounded by recall, not equality")),
  )
}
