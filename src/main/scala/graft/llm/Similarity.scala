package graft.llm

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{Op, Q, Sql, Tables}

/** §2.11 similarity search over embedding vectors (SURVEY.md; distributed
  * top-k similarity search per the public literature in PAPERS.md:5-6).
  *
  * Exact brute-force cosine is the declared (oracle-checkable) semantics;
  * [[graft.llm.AnnLsh]] is the 100 TB-scale physical path (random-hyperplane
  * LSH bucketing), unit-tested for recall against this baseline.
  *
  * Determinism: the dot product is a sequential left fold in double over
  * float inputs — the same arithmetic expressed to DuckDB via
  * list_reduce/list_transform — so scores are bit-identical across engines
  * and no rounding is load-bearing.
  */
object Similarity {
  /** Sequential-fold dot product via built-in higher-order functions — the
    * pure-DataFrame reference formulation. [[graft.plans.DotProduct]] is the
    * codegen'd twin used in the hot paths; a unit test pins them bit-equal. */
  def dotHof(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
              lit(0.0), (acc, v) => acc + v)

  /** Hot-path dot product: the native codegen expression (same values). */
  def dot(a: Column, b: Column): Column = graft.plans.VectorFunctions.dot(a, b)

  def cosine(a: Column, b: Column): Column =
    dot(a, b) / (sqrt(dot(a, a)) * sqrt(dot(b, b)))

  /** DuckDB twin of [[dot]]: identical fold order, identical widening. */
  def dotSql(a: String, b: String): String =
    s"list_reduce(list_transform(range(1, len($a) + 1), " +
      s"i -> cast($a[i] as double) * cast($b[i] as double)), (x, y) -> x + y)"

  def cosineSql(a: String, b: String): String =
    s"${dotSql(a, b)} / (sqrt(${dotSql(a, a)}) * sqrt(${dotSql(b, b)}))"

  /** k-NN: for each query vector (label=0), the top-5 cosine neighbors.
    *
    * Scale path (round 6): the blocked exact pass — queries and candidates
    * hash into [[KnnBlocks]] groups, the B×B block-pair cross join carries
    * B² bounded rows, and the `graft_knn_block_cands` kernel emits the
    * exact per-(query, block) top-5 with scores (a guaranteed superset of
    * the global top-5); one |Q|·B·5-row window merges blocks with the same
    * score-desc/id-asc order. Exact kNN stays O(|Q|·n) COMPUTE, but only
    * |Q|·B·5 rows ever exist — the former broadcast q =!= c spelling pushed
    * all |Q|·n scored pairs through BNLJ row machinery and one window.
    * That spelling survives as [[simsearchTopkExact]], the unit-pinned
    * specification; kernel scores are the same sequential fold, so the
    * emitted score6 is bit-identical. */
  /** Exact-kNN boundary advisory (round-12 verdict #7). The 128× probe
    * measured where brute force stops being the right operator: exact
    * top-k is O(|Q|·n) compute, and with both sides scaling it crossed
    * linear at 153.8× on 128× data, while IVF answered the same corpus
    * 7.6× faster absolute (BASELINE.md round-12). Exact means exact — no
    * silent semantic switch — but past the measured boundary the operator
    * says so: a warning names the ANN rows, the same pattern as the
    * near-dup mega-clique guardrail. The trigger is a corpus size in
    * vectors. */
  val SimsearchAdviseAnnAbove = 100000L

  /** Some(advisory) when an n-vector corpus is past the measured
    * brute-force boundary, None inside it. Pure — asserted in ScaleSpec. */
  def exactKnnAdvisory(n: Long, threshold: Long): Option[String] =
    if (threshold <= 0 || n < threshold) None
    else Some(
      s"exact top-k similarity is O(|Q|·n) compute; at n=$n vectors " +
      s"(>= $threshold) the brute-force kernel is past its measured scale " +
      s"boundary (crossed linear at the 128x probe). Prefer " +
      s"llm_simsearch_ivf / llm_simsearch_lsh (IVF measured 7.6x faster " +
      s"absolute at that depth) unless exact semantics are required.")

  val simsearchTopk: Q = (s, d) => {
    exactKnnAdvisory(Tables.countOf(s, d, "embeddings"), SimsearchAdviseAnnAbove)
      .foreach(org.slf4j.LoggerFactory.getLogger(getClass).warn(_))
    simsearchTopkAt(s, d, vectorBlocksFor(s, d, KnnBlocks))
  }

  /** [[simsearchTopk]]'s blocked pass at `blocks` blocks (results are
    * B-invariant; VectorSpec varies B through this). */
  private[graft] def simsearchTopkAt(s: SparkSession, d: String, blocks: Int): DataFrame = {
    graft.plans.VectorFunctions.register(s)
    val e = Tables.embeddings(s, d)
      .select(col("vec_id"), col("label"), col("embedding"),
              sqrt(dot(col("embedding"), col("embedding"))).as("nrm"))
    val blk = e.select(
      pmod(xxhash64(col("vec_id")), lit(blocks)).as("blk"),
      col("vec_id"), col("label"), col("embedding"), col("nrm"))
    val mem = struct(col("vec_id"), col("embedding"), col("nrm"))
    val qb = blk.where(col("label") === 0).groupBy("blk")
      .agg(collect_list(mem).as("qmem"))
    val cb = blk.groupBy("blk").agg(collect_list(mem).as("cmem"))
      .select(col("blk").as("cblk"), col("cmem"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("q_id"))
      .orderBy(col("score").desc, col("c_id"))
    qb.crossJoin(cb)
      .select(explode(graft.plans.VectorFunctions.knnBlockCands(
        col("qmem"), col("cmem"), lit(5))).as("cd"))
      .select(col("cd.src").as("q_id"), col("cd.dst").as("c_id"),
              col("cd.score").as("score"))
      .withColumn("rk", row_number().over(w))
      .where(col("rk") <= 5)
      .select(col("q_id"), col("rk"), col("c_id"), round(col("score"), 6).as("score6"))
  }

  /** The declared all-pairs spelling — broadcast the query set, stream
    * candidates through a non-equi join, rank globally. Kept as the
    * specification the blocked path must reproduce (VectorSpec pin); not
    * registered.
    *
    * Intentional divergence on DEGENERATE corpora: this spelling scores a
    * zero-norm pair 0/0 = NaN, which Spark's descending sort ranks ABOVE
    * every real double, and sorts a null score (null element / ragged
    * length) last — whereas the registered blocked path scores every such
    * pair the -1 sentinel (never NaN, never null). The fixtures contain no
    * degenerate vectors, so the equality pin holds on them; on corpora WITH
    * degenerates the blocked path's sentinel ordering is the deliberate
    * semantics (a broken vector must not outrank real neighbors) and this
    * spelling's NaN-first ordering is the bug it guards against. The
    * degenerate behavior of the registered path is pinned directly
    * (VectorSpec "top-k merge window" zero-norm test). */
  def simsearchTopkExact(s: SparkSession, d: String): DataFrame = {
    graft.plans.VectorFunctions.register(s)
    val e = Tables.embeddings(s, d)
    // norms are computed ONCE per vector before the pair join (each pair then
    // costs a single fold, not three) — bit-identical to folding per pair.
    val q = e.where(col("label") === 0)
      .select(col("vec_id").as("q_id"), col("embedding").as("qv"),
              sqrt(dot(col("embedding"), col("embedding"))).as("qn"))
    val c = e.select(col("vec_id").as("c_id"), col("embedding").as("cv"),
                     sqrt(dot(col("embedding"), col("embedding"))).as("cn"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("q_id"))
      .orderBy(col("score").desc, col("c_id"))
    broadcast(q).join(c, col("q_id") =!= col("c_id"))
      .select(col("q_id"), col("c_id"),
              (dot(col("qv"), col("cv")) / (col("qn") * col("cn"))).as("score"))
      .withColumn("rk", row_number().over(w))
      .where(col("rk") <= 5)
      .select(col("q_id"), col("rk"), col("c_id"), round(col("score"), 6).as("score6"))
      .orderBy("q_id", "rk")
  }

  val simsearchTopkSql: String =
    s"""WITH q AS (SELECT vec_id AS q_id, embedding AS qv FROM embeddings WHERE label = 0),
       |c AS (SELECT vec_id AS c_id, embedding AS cv FROM embeddings),
       |scored AS (
       |  SELECT q_id, c_id, ${cosineSql("qv", "cv")} AS score
       |  FROM q CROSS JOIN c WHERE q_id <> c_id),
       |ranked AS (
       |  SELECT q_id, c_id, score,
       |    row_number() OVER (PARTITION BY q_id ORDER BY score DESC, c_id) AS rk
       |  FROM scored)
       |SELECT q_id, rk, c_id, round(score, 6) AS score6
       |FROM ranked WHERE rk <= 5""".stripMargin

  /** Auto block-size bound: ~4096 members × (64 floats + id + norm) ≈ 1.1 MB
    * per collected block — comfortably inside a task even with B² block
    * pairs in flight. */
  val BlockTargetRows = 4096

  /** Block count for the B×B blocked exact kernels (round 12 — the
    * IVF-stride lesson applied to the exact kernels): B grows as
    * ⌈n / [[BlockTargetRows]]⌉ so a block's `collect_list` stays bounded
    * instead of growing linearly with the corpus (a fixed B means block size
    * n/B → task OOM at scale). Results are B-INVARIANT (pinned in VectorSpec
    * — the kernels are exhaustive over blocks), so this is purely a
    * memory/parallelism schedule; fixtures (n ≤ 2k) keep their historical
    * B via the per-kernel floor `default`. */
  def vectorBlocksFor(s: SparkSession, d: String, default: Int,
                      fraction: Double = 1.0): Int = {
    // `fraction` = the share of the table the kernel actually blocks
    // (e.g. the %5 simjoin subset, the even-id kNN-graph half) — sizing
    // from the full count would make B ~1/fraction× the per-block target
    val n = Tables.countOf(s, d, "embeddings") * fraction // footer row counts
    math.max(default, math.ceil(n / BlockTargetRows).toInt)
  }

  /** Blocked exact threshold pairs — the shared 100 TB shape for the exact
    * similarity self-joins below. The declared semantics is the all-pairs
    * `a_id < b_id` theta join; this computes the IDENTICAL pair set (same
    * sequential-fold cosine, same ordering rule, exhaustive over blocks —
    * nothing probabilistic) while keeping the n²-row join out of the plan:
    * the corpus is hashed into `blocks` groups ([[vectorBlocksFor]]), the B×B
    * ordered block-pair cross join carries B² bounded rows, and the
    * `graft_cos_thresh_pairs` kernel emits only the qualifying pairs.
    * Pinned equal to the theta-join spelling in VectorSpec. */
  private[graft] def blockedThresholdPairs(e: DataFrame, tau: Double, blocks: Int): DataFrame = {
    val blk = e.select(
      pmod(xxhash64(col("vec_id")), lit(blocks)).as("blk"),
      col("vec_id"), col("embedding"), col("nrm"))
    val qb = blk.groupBy("blk")
      .agg(collect_list(struct(col("vec_id"), col("embedding"), col("nrm")))
             .as("amem"))
    val cb = qb.select(col("blk").as("cblk"), col("amem").as("bmem"))
    qb.crossJoin(cb)
      .select(explode(graft.plans.VectorFunctions.cosThreshPairs(
        col("amem"), col("bmem"), lit(tau))).as("pr"))
      .select(col("pr.a_id").as("a_id"), col("pr.b_id").as("b_id"),
              col("pr.score").as("score"))
  }

  /** Similarity join: all pairs with cosine >= 0.35 on a deterministic
    * subset (vec_id % 5 = 0). Embedding-cosine near-dup detection shape. */
  val SimjoinTau = 0.35

  val simjoinThreshold: Q = (s, d) => {
    graft.plans.VectorFunctions.register(s)
    val e = Tables.embeddings(s, d).where(col("vec_id") % 5 === 0)
      .select(col("vec_id"), col("embedding"),
              sqrt(dot(col("embedding"), col("embedding"))).as("nrm"))
    blockedThresholdPairs(e, SimjoinTau,
      vectorBlocksFor(s, d, KnnBlocks, fraction = 0.2)) // the %5 subset
      .select(col("a_id"), col("b_id"), round(col("score"), 6).as("score6"))
  }

  /** The declared theta-join spelling — kept as the specification the
    * blocked kernel must reproduce (VectorSpec pin); not registered. */
  def simjoinThresholdExact(s: SparkSession, d: String): DataFrame = {
    graft.plans.VectorFunctions.register(s)
    val e = Tables.embeddings(s, d).where(col("vec_id") % 5 === 0)
      .select(col("vec_id"), col("embedding"),
              sqrt(dot(col("embedding"), col("embedding"))).as("nrm"))
    val a = e.select(col("vec_id").as("a_id"), col("embedding").as("av"),
                     col("nrm").as("an"))
    val b = e.select(col("vec_id").as("b_id"), col("embedding").as("bv"),
                     col("nrm").as("bn"))
    a.join(b, col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"),
              (dot(col("av"), col("bv")) / (col("an") * col("bn"))).as("score"))
      .where(col("score") >= SimjoinTau)
      .select(col("a_id"), col("b_id"), round(col("score"), 6).as("score6"))
      .orderBy("a_id", "b_id")
  }

  val simjoinThresholdSql: String =
    s"""WITH sub AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id % 5 = 0),
       |pairs AS (
       |  SELECT a.vec_id AS a_id, b.vec_id AS b_id,
       |    ${cosineSql("a.embedding", "b.embedding")} AS score
       |  FROM sub a JOIN sub b ON a.vec_id < b.vec_id)
       |SELECT a_id, b_id, round(score, 6) AS score6
       |FROM pairs WHERE score >= 0.35""".stripMargin

  /** Embedding-cosine near-duplicate dedup (SemDeDup-style leader rule,
    * min-id variant): drop a vector when ANY smaller-id vector lies within
    * cosine tau of it; survivors are the leaders. tau is corpus-calibrated
    * (the synthetic fixture has no true embedding duplicates — 0.4 marks its
    * "suspiciously similar" tail; a production corpus would use ~0.95+).
    * Shape: blocked exact threshold pairs ([[blockedThresholdPairs]] — no
    * n²-row join anywhere in the plan) + a left join resolving drops. A
    * deployment trading exactness for throughput swaps the candidate source
    * for LSH/IVF buckets ([[AnnLsh]]/[[AnnIvf]]) feeding the SAME
    * resolution join — the dedup step is scale-invariant either way. */
  val NeardupEmbeddingTau = 0.4

  val neardupEmbedding: Q = (s, d) => {
    graft.plans.VectorFunctions.register(s)
    val e = Tables.embeddings(s, d)
      .select(col("vec_id"), col("embedding"),
              sqrt(dot(col("embedding"), col("embedding"))).as("nrm"))
    // every vector similar to a smaller-id one is a drop; survivors lead.
    // Candidates come from the blocked exact kernel (no n²-row pair join);
    // the min-id-leader resolution below is untouched — at 100 TB the same
    // anti-join accepts LSH/IVF candidates instead.
    val drops = blockedThresholdPairs(e, NeardupEmbeddingTau, vectorBlocksFor(s, d, KnnBlocks))
      .select(col("b_id").as("vec_id")).distinct()
    Tables.embeddings(s, d)
      .join(drops.withColumn("dropped", lit(true)), Seq("vec_id"), "left")
      .select(col("vec_id"), col("label"),
              coalesce(col("dropped"), lit(false)).as("is_dup"))
  }

  /** The declared theta-join spelling of the drop set — the specification
    * the blocked kernel must reproduce (VectorSpec pin); not registered. */
  def neardupEmbeddingExact(s: SparkSession, d: String): DataFrame = {
    graft.plans.VectorFunctions.register(s)
    val e = Tables.embeddings(s, d)
      .select(col("vec_id"), col("embedding"),
              sqrt(dot(col("embedding"), col("embedding"))).as("nrm"))
    val a = e.select(col("vec_id").as("a_id"), col("embedding").as("av"),
                     col("nrm").as("an"))
    val b = e.select(col("vec_id").as("b_id"), col("embedding").as("bv"),
                     col("nrm").as("bn"))
    val drops = a.join(b, col("a_id") < col("b_id"))
      .where(dot(col("av"), col("bv")) / (col("an") * col("bn"))
               >= NeardupEmbeddingTau)
      .select(col("b_id").as("vec_id")).distinct()
    Tables.embeddings(s, d)
      .join(drops.withColumn("dropped", lit(true)), Seq("vec_id"), "left")
      .select(col("vec_id"), col("label"),
              coalesce(col("dropped"), lit(false)).as("is_dup"))
      .orderBy("vec_id")
  }

  val neardupEmbeddingSql: String =
    s"""WITH drops AS (
       |  SELECT DISTINCT b.vec_id
       |  FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
       |  WHERE ${cosineSql("a.embedding", "b.embedding")} >= $NeardupEmbeddingTau)
       |SELECT e.vec_id, e.label, (d.vec_id IS NOT NULL) AS is_dup
       |FROM embeddings e LEFT JOIN drops d ON e.vec_id = d.vec_id""".stripMargin

  /** k-NN graph (K=3) with mutuality flags — the clustering / SemDeDup
    * primitive: every vector's 3 nearest neighbors by cosine, and whether
    * each directed edge is reciprocated (mutual-kNN edges are the usual
    * graph-clustering input). Built on the even-id half of the corpus (a
    * deterministic subset, matching the simjoin convention).
    *
    * Candidate generation is the blocked exact pass ([[blockedCandidates]]):
    * per-(node, block) exact top-`KnnPerBlock` over a B×B block cross join,
    * so no n²-row pair join exists anywhere in the plan — candidate volume
    * through the shuffle is n·B·KnnPerBlock, never n². Downstream (exact
    * re-rank + top-K window + reverse-edge mutuality join) is IDENTICAL to
    * the exact formulation — graph assembly is scale-invariant.
    * [[knnGraphExact]] keeps the declared all-pairs semantics as the
    * specification; ClusteringSpec pins the two equal on the fixtures, and
    * the oracle SQL states the exact semantics. */
  val KnnGraphK = 3
  /** Default corpus blocks in the blocked exact passes: the unit of the
    * B×B block cross join. Sized to the executor count at fixture scale;
    * [[vectorBlocksFor]] grows B with the corpus so one block's vectors fit
    * a task's cache. */
  val KnnBlocks = 32
  /** Exact per-(node, block) top taken as candidates — K plus margin so a
    * score tie at the block-local cut can never drop a global top-K edge. */
  val KnnPerBlock = 5

  /** Shared graph assembly: exact cosine re-rank of candidate (src, dst)
    * pairs via equi joins, top-K window, then the mutuality flag.
    * Zero-norm guard: a vector with ‖v‖=0 has no defined cosine — score it
    * -1 (below every real cosine) instead of letting NaN float to the top
    * of the descending window (Spark orders NaN above all doubles).
    *
    * Mutuality is ONE count window over the unordered pair key: a directed
    * edge is mutual iff its unordered pair appears twice among the top-K
    * edges (once per direction — (src, dst) is unique, so the count is 1 or
    * 2). The former reverse-edge self-join evaluated the edge pipeline —
    * candidate kernel included — twice per query (Catalyst does not dedupe
    * shared subplans and no exchange reuse fired); the window costs one
    * n·K-row shuffle instead. */
  private def assembleGraph(e: DataFrame, cands: DataFrame): DataFrame = {
    val av = e.select(col("vec_id").as("src"), col("embedding").as("av"),
                      col("nrm").as("an"))
    val bv = e.select(col("vec_id").as("dst"), col("embedding").as("bv"),
                      col("nrm").as("bn"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("src")).orderBy(col("score").desc, col("dst"))
    val pw = org.apache.spark.sql.expressions.Window
      .partitionBy(least(col("src"), col("dst")),
                   greatest(col("src"), col("dst")))
    cands.join(av, "src").join(bv, "dst")
      .select(col("src"), col("dst"),
              when(col("an") * col("bn") === 0, lit(-1.0))
                .otherwise(dot(col("av"), col("bv")) / (col("an") * col("bn")))
                .as("score"))
      .withColumn("rk", row_number().over(w))
      .where(col("rk") <= KnnGraphK)
      .withColumn("mutual", count(lit(1)).over(pw) === 2)
      .select(col("src"), col("rk"), col("dst"),
              round(col("score"), 6).as("score6"), col("mutual"))
  }

  private def knnBase(s: SparkSession, d: String): DataFrame = {
    graft.plans.VectorFunctions.register(s)
    Tables.embeddings(s, d).where(col("vec_id") % 2 === 0)
      .select(col("vec_id"), col("embedding"),
              sqrt(dot(col("embedding"), col("embedding"))).as("nrm"))
  }

  /** Blocked exact candidate generation — the 100 TB shape for EXACT kNN.
    *
    * Why not IVF/LSH buckets: bucketed candidates are the right ANN path
    * ([[AnnIvf]]/[[AnnLsh]]), but they cannot reproduce the EXACT graph on
    * an isotropic corpus — measured on these fixtures, every (stride,
    * probes) setting up to probing half the cells leaves 92-94% of nodes
    * missing a true top-3 neighbor (near-random 64-dim embeddings have no
    * cluster structure for an inverted file to exploit; this is the curse
    * of dimensionality, not a tuning failure). Exact kNN is inherently
    * O(n²) COMPUTE; what a scalable engine eliminates is the O(n²) ROWS
    * through the shuffle. So: block the corpus into B groups
    * (`collect_list` per block), cross-join the B×B block pairs (B² rows,
    * each carrying two bounded arrays — the blocked-GEMM shape), score
    * each in-block pair with the codegen'd dot kernel inside a HOF, and
    * emit only the exact per-(node, block) top-`KnnPerBlock` — a
    * guaranteed superset of the global top-K. Only n·B·KnnPerBlock
    * candidate rows ever materialize or shuffle; the exact re-rank then
    * reaches the float vectors through plain equi joins. Equality with
    * [[knnGraphExact]] is structural (per-block exact top ⊇ global top),
    * pinned in ClusteringSpec, and stated by the oracle SQL. */
  private[graft] def blockedCandidates(e: DataFrame, blocks: Int): DataFrame = {
    val blk = e.select(
      pmod(xxhash64(col("vec_id")), lit(blocks)).as("blk"),
      col("vec_id"), col("embedding"), col("nrm"))
    val qb = blk.groupBy("blk")
      .agg(collect_list(struct(col("vec_id"), col("embedding"), col("nrm")))
             .as("qmem"))
    val cb = qb.select(col("blk").as("cblk"), col("qmem").as("cmem"))
    qb.crossJoin(cb)
      .select(explode(graft.plans.VectorFunctions.knnBlockCands(
        col("qmem"), col("cmem"), lit(KnnPerBlock))).as("cand"))
      .select(col("cand.src").as("src"), col("cand.dst").as("dst"))
  }

  val knnGraph: Q = (s, d) => {
    val e = knnBase(s, d)
    assembleGraph(e,
      blockedCandidates(e, vectorBlocksFor(s, d, KnnBlocks, fraction = 0.5))) // even-id half
  }

  /** The declared exact semantics: all-pairs float cosine candidates.
    * Kept as the specification the shortlist path must reproduce
    * (ClusteringSpec) — not registered. */
  def knnGraphExact(s: SparkSession, d: String): DataFrame = {
    val e = knnBase(s, d)
    val cands = e.select(col("vec_id").as("src"))
      .join(e.select(col("vec_id").as("dst")), col("src") =!= col("dst"))
    assembleGraph(e, cands)
  }

  val knnGraphSql: String =
    s"""WITH sub AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id % 2 = 0),
       |scored AS (
       |  SELECT a.vec_id AS src, b.vec_id AS dst,
       |    ${cosineSql("a.embedding", "b.embedding")} AS score
       |  FROM sub a JOIN sub b ON a.vec_id <> b.vec_id),
       |edges AS (
       |  SELECT src, dst, score,
       |    row_number() OVER (PARTITION BY src ORDER BY score DESC, dst) AS rk
       |  FROM scored QUALIFY rk <= $KnnGraphK)
       |SELECT e.src, e.rk, e.dst, round(e.score, 6) AS score6,
       |  (r.src IS NOT NULL) AS mutual
       |FROM edges e LEFT JOIN edges r ON r.src = e.dst AND r.dst = e.src""".stripMargin

  /** Triangle counting + clustering coefficient over the MUTUAL kNN edges —
    * the classic MapReduce-era graph analytic (Cohen's MR triangles), the
    * community-structure diagnostic run on similarity graphs before
    * clustering-based dedup. The ordered-triple join (a<b<c, each edge kept
    * once as lo<hi) counts every triangle exactly once.
    *
    * Scale: the standard trick IS the ordering — joining ordered edges
    * bounds the candidate wedges by the lower-degree endpoint, and each
    * stage is a hash-partitioned equi join on a node id. Per-node counts
    * come from one explode + agg. */
  val knnTriangles: Q = (s, d) => {
    // the undirected edge set feeds FOUR scans (degree + the three-way
    // triangle join) — localCheckpoint materializes the kNN-graph pipeline
    // once per query instead of re-running the candidate kernel per scan
    // (lazy: computed on first action; n·K rows, trivially small)
    val mutual = knnGraph(s, d).where(col("mutual"))
      .select(least(col("src"), col("dst")).as("lo"),
              greatest(col("src"), col("dst")).as("hi"))
      .distinct()
      .localCheckpoint(false)
    val deg = mutual.select(explode(array(col("lo"), col("hi"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("degree"))
    val tri = mutual.as("e1")
      .join(mutual.as("e2"), col("e1.hi") === col("e2.lo"))
      .join(mutual.as("e3"),
            col("e1.lo") === col("e3.lo") && col("e2.hi") === col("e3.hi"))
      .select(col("e1.lo").as("a"), col("e1.hi").as("b"), col("e2.hi").as("c"))
    val perNode = tri
      .select(explode(array(col("a"), col("b"), col("c"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("triangles"))
    deg.join(perNode, Seq("node"), "left")
      .select(col("node"), col("degree"),
        coalesce(col("triangles"), lit(0L)).as("triangles"),
        graft.Dsl.round6(when(col("degree") < 2, lit(0.0))
          .otherwise(coalesce(col("triangles"), lit(0L)).cast("double") * 2 /
                     (col("degree") * (col("degree") - 1))))
          .as("clustering_coeff"))
  }

  val knnTrianglesSql: String =
    s"""WITH sub AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id % 2 = 0),
       |scored AS (
       |  SELECT a.vec_id AS src, b.vec_id AS dst,
       |    ${cosineSql("a.embedding", "b.embedding")} AS score
       |  FROM sub a JOIN sub b ON a.vec_id <> b.vec_id),
       |edges AS (
       |  SELECT src, dst,
       |    row_number() OVER (PARTITION BY src ORDER BY score DESC, dst) AS rk
       |  FROM scored QUALIFY rk <= $KnnGraphK),
       |und AS (
       |  SELECT least(e.src, e.dst) AS lo, greatest(e.src, e.dst) AS hi
       |  FROM edges e JOIN edges r ON r.src = e.dst AND r.dst = e.src
       |  GROUP BY 1, 2),
       |deg AS (
       |  SELECT node, count(*) AS degree FROM (
       |    SELECT lo AS node FROM und UNION ALL SELECT hi FROM und)
       |  GROUP BY node),
       |tri AS (
       |  SELECT e1.lo AS a, e1.hi AS b, e2.hi AS c
       |  FROM und e1
       |  JOIN und e2 ON e1.hi = e2.lo
       |  JOIN und e3 ON e1.lo = e3.lo AND e2.hi = e3.hi),
       |per_node AS (
       |  SELECT node, count(*) AS triangles FROM (
       |    SELECT a AS node FROM tri
       |    UNION ALL SELECT b FROM tri
       |    UNION ALL SELECT c FROM tri)
       |  GROUP BY node)
       |SELECT d.node, d.degree,
       |  coalesce(t.triangles, 0) AS triangles,
       |  ${graft.Dsl.round6Sql(
            """CASE WHEN d.degree < 2 THEN 0.0
              |       ELSE cast(coalesce(t.triangles, 0) as double) * 2
              |            / (d.degree * (d.degree - 1)) END""".stripMargin)} AS clustering_coeff
       |FROM deg d LEFT JOIN per_node t ON d.node = t.node""".stripMargin

  /** Recall audit for the ANN paths: per-query recall@k vs the exact
    * brute-force top-k, emitted as a COLUMN of the registered ANN rows so a
    * recall regression is visible to the driver's row dump, not only to the
    * unit bound. At 100 TB this is the standard index-QA job — run on a
    * query SAMPLE (here the fixture's whole query set), never the corpus:
    * the exact pass costs what one brute-force scan costs, amortized over
    * every index rebuild. */
  /** [[withRecall]] unless disabled (`graft.ann.recall=0` system property):
    * the audit runs by default (it is the §2 contract for the ANN rows and
    * what Verify's row dump holds), but a timing run disables it so the
    * ANN operators' measured cost is the ANN path alone, not ANN + the
    * brute-force scan the index exists to avoid. Bench sets the system
    * property in-process; Verify never does. */
  def maybeWithRecall(ann: DataFrame, s: SparkSession, d: String, k: Int = 5): DataFrame =
    if (sys.props.get("graft.ann.recall").contains("0")) ann else withRecall(ann, s, d, k)

  def withRecall(ann: DataFrame, s: SparkSession, d: String, k: Int = 5): DataFrame = {
    val exact = simsearchTopk(s, d)
      .select(col("q_id"), col("c_id"), lit(1L).as("hit"))
    val perQuery = ann.select("q_id", "c_id")
      .join(exact, Seq("q_id", "c_id"), "left")
      .groupBy("q_id")
      .agg((sum(coalesce(col("hit"), lit(0L))) / lit(k.toDouble)).as("recall_at_k"))
    ann.join(perQuery, "q_id").orderBy("q_id", "rk")
  }

  /** Registered SORT-FREE (round 15, tranche 3): similarity outputs are keyed
    * (q_id, rk) ranks / (a_id, b_id) canonical pairs / per-node or per-vector
    * rollups — the trailing ORDER BY was comparator-only. The declared
    * theta/all-pairs spellings keep their sorts (spec-only, not timed).
    * Verify sorts the dump by these keys and the oracle's ORDER BY is derived
    * from them. */
  val ops: Seq[Op] = Seq(
    Op("llm_simsearch_topk", simsearchTopk, Sql(simsearchTopkSql), Seq("q_id", "rk")),
    Op("llm_simjoin_threshold", simjoinThreshold, Sql(simjoinThresholdSql), Seq("a_id", "b_id")),
    Op("llm_neardup_embedding", neardupEmbedding, Sql(neardupEmbeddingSql), Seq("e.vec_id")),
    Op("llm_knn_graph", knnGraph, Sql(knnGraphSql), Seq("e.src", "e.rk")),
    Op("llm_knn_triangles", knnTriangles, Sql(knnTrianglesSql), Seq("d.node")),
  )
}
