package graft.llm

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{NoOracle, Op, Tables}

/** Approximate nearest neighbor via random-hyperplane LSH (SURVEY.md §2.11
  * scale path; brute force in [[Similarity]] is the declared baseline).
  *
  * Signature: `NumPlanes` pseudo-random ±1 hyperplanes (components derived
  * from a fixed LCG — deterministic, seedless at runtime); each vector hashes
  * to a bucket = the sign-bit string of its projections. Query probes its own
  * bucket plus [[MultiProbe]] Hamming-1 neighbors chosen QUERY-DIRECTED —
  * the flipped planes are those with the smallest |projection| (the bits the
  * query was least confident about, the buckets most likely to hide a true
  * neighbor: the classic multi-probe LSH refinement) — and ranks candidates
  * by exact cosine. Each candidate lives in exactly one bucket and the
  * probed bucket ids are pairwise distinct, so the probe join needs no
  * post-dedup.
  *
  * 100 TB shape: bucketing replaces the all-pairs cross join with an
  * equi-join on bucket id — candidate volume drops from |Q|·|C| to
  * (1+m)·|Q|·E[bucket size], and both sides shuffle-partition on the bucket
  * key. Recall is tuned by NumPlanes (fewer planes → bigger buckets → higher
  * recall, more compute) and the multi-probe count m (more probes →
  * higher recall at linearly more candidate compute — what a structureless
  * corpus needs where √n own-bucket probing alone decays; recall vs m
  * measured at 64× in BASELINE.md). Recall vs the exact baseline, and its
  * monotonicity in m ([[annTopkAt]]), are pinned by unit tests.
  */
object AnnLsh {
  val NumPlanes = 6
  val Dim = 64

  /** Extra Hamming-1 probes per query (own bucket + 2); below the
    * [[NumPlanes]] floor, so every signature has that many bits to flip. */
  val MultiProbe = 2

  /** Adaptive plane count: buckets ≈ √n (planes = ⌈log₂√n⌉), the same
    * balance as [[AnnIvf]]'s √n codebook — bucket size and bucket count
    * both grow as √n, so candidate volume is O(|Q|·√n) instead of the
    * O(|Q|·n/2^planes) = quadratic blowup a FIXED plane count gives when
    * the corpus scales (found by the round-12 128× ScaleProbe alongside
    * the IVF stride bug). Floor = [[NumPlanes]] keeps every fixture
    * ≤ ~4k vectors on the historical 64-bucket signature; recall at scale
    * is then tuned by multi-probing, not by letting buckets balloon. */
  def planesFor(s: SparkSession, d: String): Int = {
    val n = Tables.countOf(s, d, "embeddings") // parquet footer row counts
    math.max(NumPlanes,
      math.ceil(math.log(math.sqrt(n.toDouble)) / math.log(2.0)).toInt)
  }

  /** Deterministic ±1 hyperplane components (plane p, dimension i). */
  private def planeSign(p: Int, i: Int): Double = {
    var x = p.toLong * 2654435761L + i.toLong * 40503L + 12345L
    x ^= (x << 13); x ^= (x >>> 7); x ^= (x << 17) // xorshift, public-domain
    if ((x & 1L) == 0L) 1.0 else -1.0
  }

  /** Projection of `embedding` onto plane p as a Column (sum of ±element). */
  private def projection(p: Int) =
    (0 until Dim).map { i =>
      element_at(col("embedding"), i + 1).cast("double") * lit(planeSign(p, i))
    }.reduce(_ + _)

  /** Sign-bit bucket from per-plane projection expressions — the ONE
    * formula both join sides derive from: the candidate side feeds raw
    * projections, the query side feeds its materialized `projs` array.
    * Any drift between the two sides (threshold, bit encoding) would make
    * the probe equi-join silently stop finding own-bucket candidates. */
  private def bucketFromSigns(projExprs: Seq[org.apache.spark.sql.Column]) =
    projExprs.zipWithIndex.map { case (e, p) =>
      when(e >= 0, lit(1L << p)).otherwise(lit(0L))
    }.reduce(_.bitwiseOR(_))

  private def bucketCol(planes: Int) =
    bucketFromSigns((0 until planes).map(projection)).as("bucket")

  def signatures(s: SparkSession, d: String): DataFrame =
    Tables.embeddings(s, d)
      .select(col("vec_id"), col("embedding"), bucketCol(planesFor(s, d)))

  /** Bucketed approximate top-k: exact cosine rank inside the probed
    * buckets (own + m query-directed Hamming-1 flips). The query side
    * recomputes its projections rather than reusing the cached signature —
    * multi-probe needs the per-plane MARGINS, not just the sign bits, and
    * the label=0 query set is the small side (~10% of the corpus), so the
    * extra planes·Dim multiply-adds never touch the big side. */
  def annTopk(s: SparkSession, d: String, k: Int = 5): DataFrame =
    annTopkAt(s, d, MultiProbe, k)

  /** [[annTopk]] with `m` query-directed flips (at most one per plane). */
  private[graft] def annTopkAt(s: SparkSession, d: String, m: Int,
                               k: Int = 5): DataFrame = {
    graft.plans.VectorFunctions.register(s)
    import graft.plans.VectorFunctions.dot
    val planes = planesFor(s, d)
    val sig = signatures(s, d).transform(graft.Caching.cachedOnce) // candidate side
    // (|proj|, 1<<plane) per plane; array_sort orders by margin asc (bit asc
    // on ties) — the flip order of query-directed multi-probe.
    val flips = array((0 until planes).map { p =>
      struct(abs(element_at(col("projs"), p + 1)).as("margin"),
             lit(1L << p).as("bit"))
    }: _*)
    val bucketFromProjs = bucketFromSigns(
      (0 until planes).map(p => element_at(col("projs"), p + 1)))
    val probes =
      if (m == 0) array(col("bucket"))
      else concat(array(col("bucket")),
        transform(slice(array_sort(flips), 1, m),
          x => col("bucket").bitwiseXOR(x.getField("bit"))))
    val queries = Tables.embeddings(s, d).where(col("label") === 0)
      .select(col("vec_id").as("q_id"), col("embedding"),
              array((0 until planes).map(projection): _*).as("projs"))
      .withColumn("bucket", bucketFromProjs)
      .select(col("q_id"), col("embedding").as("qv"),
              sqrt(dot(col("embedding"), col("embedding"))).as("qn"),
              explode(probes).as("bucket"))
    val cands = sig
      .select(col("vec_id").as("c_id"), col("embedding").as("cv"), col("bucket"),
              sqrt(dot(col("embedding"), col("embedding"))).as("cn"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("q_id"))
      .orderBy(col("score").desc, col("c_id"))
    queries.join(cands, Seq("bucket"))
      .where(col("q_id") =!= col("c_id"))
      .select(col("q_id"), col("c_id"),
              (dot(col("qv"), col("cv")) / (col("qn") * col("cn"))).as("score"))
      .withColumn("rk", row_number().over(w))
      .where(col("rk") <= k)
      .select(col("q_id"), col("rk"), col("c_id"), round(col("score"), 6).as("score6"))
      .orderBy("q_id", "rk")
  }

  /** Registered rows-only query: ANN results for the same query set as the
    * exact operator, with per-query `recall_at_k` vs brute force surfaced as
    * a column ([[Similarity.withRecall]]) so the driver's row dump sees a
    * recall regression; the hard bound is additionally asserted in
    * ScalaTest. */
  val ops: Seq[Op] = Seq(
    Op("llm_simsearch_lsh", (s, d) => Similarity.maybeWithRecall(annTopk(s, d), s, d),
      NoOracle("graft.VectorSpec", "approximate top-k, bounded by recall, not equality")),
  )
}
