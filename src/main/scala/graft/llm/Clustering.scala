package graft.llm

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{Op, Q, Sql, Tables}

/** §2.11 embedding clustering: deterministic Lloyd's k-means over the
  * embedding table — the centroid machinery behind IVF index build
  * ([[AnnIvf]]) and SemDeDup-style cluster-then-dedup pipelines, here as a
  * first-class, fully-oracled operator.
  *
  * Everything that makes textbook k-means nondeterministic is pinned down:
  * init is the K lowest vec_ids (no RNG), iteration count is fixed (2 Lloyd
  * steps), assignment ties break by centroid id, and centroid updates are
  * computed from EXACT integer sums — each float coordinate is integerized
  * to micro units (round(x·1e6) as bigint) before the per-dimension mean, so
  * the aggregation is order-independent under any partitioning and the only
  * float ops are IEEE divisions + the same sequential-fold distance both
  * engines express identically (list_reduce / functions.aggregate).
  *
  * Scale: each iteration is one broadcast of K centroid rows against the
  * vector table (map-side assignment, no pair shuffle), then one
  * (cid, dim)-keyed aggregation whose cardinality is K·dim — constants —
  * so the shuffle volume per iteration is O(K·dim), not O(n). That is the
  * plan shape that survives 100 TB; only K and the iteration count grow. */
object Clustering {
  val K = 4
  val Iters = 2

  /** Squared L2 between a float-array column and a double-array centroid,
    * as the same sequential left fold [[Similarity.dotHof]] uses. */
  def sqDist(a: Column, c: Column): Column =
    aggregate(zip_with(a, c, (x, y) => (x.cast("double") - y) * (x.cast("double") - y)),
              lit(0.0), (acc, v) => acc + v)

  private def sqDistSql(a: String, c: String): String =
    s"list_reduce(list_transform(range(1, len($a) + 1), " +
      s"i -> (cast($a[i] as double) - $c[i]) * (cast($a[i] as double) - $c[i])), " +
      "(x, y) -> x + y)"

  /** Assign each vector to its nearest centroid (ties → lowest cid).
    * `cents` is K rows of (cid, c: array<double>) — broadcast side. */
  private def assign(vecs: DataFrame, cents: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("vec_id")).orderBy(col("d2"), col("cid"))
    vecs.crossJoin(broadcast(cents))
      .withColumn("d2", sqDist(col("embedding"), col("c")))
      .withColumn("rk", row_number().over(w))
      .where(col("rk") === 1)
      .select(col("vec_id"), col("embedding"), col("cid"), col("d2"))
  }

  /** Recompute centroids as per-dimension means via exact micro-int sums. */
  private def update(assigned: DataFrame): DataFrame =
    assigned
      .select(col("cid"), posexplode(col("embedding")).as(Seq("pos", "x")))
      .withColumn("micro", round(col("x").cast("double") * 1e6, 0).cast("bigint"))
      .groupBy("cid", "pos")
      .agg(sum(col("micro")).as("m"), count(lit(1)).as("n"))
      .withColumn("cval", col("m").cast("double") / col("n") / 1e6)
      .groupBy("cid")
      .agg(transform(sort_array(collect_list(struct(col("pos"), col("cval")))),
                     s => s.getField("cval")).as("c"))

  /** Final (vec_id, embedding, cid, d2) assignment after the pinned Lloyd
    * iterations — shared by [[kmeans]] and [[semdedup]]. */
  def finalAssignment(s: SparkSession, d: String): DataFrame = {
    val e = Tables.embeddings(s, d).select("vec_id", "embedding")
    val seeds = e.orderBy("vec_id").limit(K)
      .withColumn("cid", row_number().over(Window.orderBy(col("vec_id"))) - 1)
      .select(col("cid"), transform(col("embedding"), _.cast("double")).as("c"))
    val cents = (1 until Iters).foldLeft(seeds) { (cs, _) =>
      update(assign(e, cs))
    }
    assign(e, cents)
  }

  /** Two pinned Lloyd iterations; output is the per-cluster summary an
    * index build keys on: size, exact integerized inertia, mean distance. */
  val kmeans: Q = (s, d) => {
    finalAssignment(s, d)
      .withColumn("d2_micro", round(col("d2") * 1e6, 0).cast("bigint"))
      .groupBy("cid")
      .agg(count(lit(1)).as("size"), sum(col("d2_micro")).as("inertia_micro"))
      .withColumn("mean_d2",
        graft.Dsl.round6(col("inertia_micro").cast("double") / col("size") / 1e6))
      .select("cid", "size", "inertia_micro", "mean_d2")
  }

  /** DuckDB twin of [[finalAssignment]], as a CTE chain ending in `a2`
    * (vec_id, embedding, cid, d2) — shared by kmeansSql and semdedupSql. */
  private val assignCte: String =
    s"""e AS (SELECT vec_id, embedding FROM embeddings),
       |seeds AS (
       |  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid,
       |         list_transform(embedding, x -> cast(x as double)) AS c
       |  FROM e ORDER BY vec_id LIMIT $K),
       |a1 AS (
       |  SELECT vec_id, embedding, cid
       |  FROM (
       |    SELECT e.vec_id, e.embedding, s.cid,
       |      row_number() OVER (PARTITION BY e.vec_id
       |        ORDER BY ${sqDistSql("e.embedding", "s.c")}, s.cid) AS rk
       |    FROM e CROSS JOIN seeds s)
       |  WHERE rk = 1),
       |ex1 AS (
       |  SELECT cid, g.i AS pos,
       |    cast(round(cast(embedding[g.i] as double) * 1e6, 0) as bigint) AS micro
       |  FROM a1, unnest(generate_series(1, len(embedding))) AS g(i)),
       |c1 AS (
       |  SELECT cid, list(cval ORDER BY pos) AS c
       |  FROM (SELECT cid, pos, cast(sum(micro) as double) / count(*) / 1e6 AS cval
       |        FROM ex1 GROUP BY cid, pos)
       |  GROUP BY cid),
       |a2 AS (
       |  SELECT vec_id, embedding, cid, d2
       |  FROM (
       |    SELECT e.vec_id, e.embedding, c1.cid, ${sqDistSql("e.embedding", "c1.c")} AS d2,
       |      row_number() OVER (PARTITION BY e.vec_id
       |        ORDER BY ${sqDistSql("e.embedding", "c1.c")}, c1.cid) AS rk
       |    FROM e CROSS JOIN c1)
       |  WHERE rk = 1)""".stripMargin

  val kmeansSql: String =
    s"""WITH $assignCte
       |SELECT cid, count(*) AS size,
       |  cast(sum(cast(round(d2 * 1e6, 0) as bigint)) as bigint) AS inertia_micro,
       |  ${graft.Dsl.round6Sql(
            "cast(sum(cast(round(d2 * 1e6, 0) as bigint)) as double) / count(*) / 1e6")} AS mean_d2
       |FROM a2 GROUP BY cid""".stripMargin

  /** PageRank over the k-NN graph ([[Similarity.knnGraph]]'s edge set) —
    * the classic iterative-dataflow workload of the MapReduce era, pinned
    * deterministic: 3 unrolled power iterations, damping 0.85, ranks held
    * as micro-units (bigint). Every node has out-degree exactly K, so the
    * per-edge contribution is one double division + round — identical IEEE
    * ops in both engines — and the per-node accumulation is an exact
    * integer sum, order-independent under any partitioning.
    *
    * Scale: each iteration is edges ⋈ ranks (both partitioned by the join
    * key) + one groupBy(dst) — the rank table never leaves the cluster and
    * the plan is iteration-count × (one shuffle join + one shuffle agg),
    * the same shape GraphX/Pregel lowers to. */
  val PrIters = 3
  val Damping = 0.85

  val pagerank: Q = (s, d) => {
    // Edge cache clustered on src (the per-iteration join's probe key) and
    // the node set materialized once (distinct already leaves it clustered
    // on vec_id): each iteration then shuffles ONLY the contribution
    // aggregation — the rank table rides its vec_id clustering through the
    // edges join and the left join back onto nodes, with no re-shuffle of
    // the static graph. Same co-located iterative-join layout as the CC
    // operators; at cluster scale this is the bucketed-graph layout.
    val edges = graft.llm.Similarity.knnGraph(s, d)
      .select(col("src"), col("dst")).repartition(col("src"))
      .transform(graft.Caching.cachedOnce)
    val nodes = edges.select(col("src").as("vec_id")).distinct()
      .transform(graft.Caching.cachedOnce)
    val init = nodes.withColumn("r", lit(1000000L))
    val k = graft.llm.Similarity.KnnGraphK
    val fin = (1 to PrIters).foldLeft(init) { (r, _) =>
      val contribs = edges.join(r, col("src") === col("vec_id"))
        .select(col("dst"),
                round(col("r").cast("double") / k, 0).cast("bigint").as("c"))
        .groupBy("dst").agg(sum(col("c")).as("in_mass"))
      nodes.join(contribs, col("vec_id") === col("dst"), "left")
        .select(col("vec_id"),
                (lit(150000L) +
                 round(lit(Damping) *
                       coalesce(col("in_mass"), lit(0L)).cast("double"), 0)
                   .cast("bigint")).as("r"))
    }
    fin.select(col("vec_id"), col("r").as("rank_micro"))
      .orderBy(col("rank_micro").desc, col("vec_id"))
      .limit(50)
  }

  val pagerankSql: String = {
    val k = graft.llm.Similarity.KnnGraphK
    def iter(prev: String, cur: String): String =
      s"""$cur AS (
         |  SELECT n.vec_id,
         |    150000 + cast(round($Damping * cast(coalesce(m.in_mass, 0) as double), 0)
         |                  as bigint) AS r
         |  FROM nodes n LEFT JOIN (
         |    SELECT e.dst, cast(sum(cast(round(cast(p.r as double) / $k, 0) as bigint))
         |                       as bigint) AS in_mass
         |    FROM edges e JOIN $prev p ON e.src = p.vec_id
         |    GROUP BY e.dst) m ON n.vec_id = m.dst)""".stripMargin
    s"""WITH sub AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id % 2 = 0),
       |scored AS (
       |  SELECT a.vec_id AS src, b.vec_id AS dst,
       |    ${Similarity.cosineSql("a.embedding", "b.embedding")} AS score
       |  FROM sub a JOIN sub b ON a.vec_id <> b.vec_id),
       |edges AS (
       |  SELECT src, dst FROM (
       |    SELECT src, dst,
       |      row_number() OVER (PARTITION BY src ORDER BY score DESC, dst) AS rk
       |    FROM scored) WHERE rk <= $k),
       |nodes AS (SELECT DISTINCT src AS vec_id FROM edges),
       |r0 AS (SELECT vec_id, cast(1000000 as bigint) AS r FROM nodes),
       |${iter("r0", "r1")},
       |${iter("r1", "r2")},
       |${iter("r2", "r3")}
       |SELECT vec_id, r AS rank_micro FROM r3
       |ORDER BY rank_micro DESC, vec_id LIMIT 50""".stripMargin
  }

  /** SemDeDup proper (Abbas et al. 2023): k-means-cluster the embeddings,
    * then near-duplicate-dedup WITHIN each cluster only — the pair join is
    * keyed on (cid) so its cost is Σ|cluster|², not n². Leader rule matches
    * [[Similarity.neardupEmbedding]] (drop b when a smaller-id a in the
    * same cluster is within cosine tau); cross-cluster near-dups surviving
    * is SemDeDup's documented recall trade for the quadratic→clustered
    * cost drop. At 100 TB: K grows with n so clusters stay bounded, the
    * pair join shuffles on cid, and the centroid machinery is the O(K·dim)
    * plan of [[kmeans]] — every stage is bounded-shuffle. */
  val semdedup: Q = (s, d) => {
    graft.plans.VectorFunctions.register(s)
    import graft.llm.Similarity.{dot, NeardupEmbeddingTau}
    val a2 = finalAssignment(s, d)
      .select(col("vec_id"), col("embedding"), col("cid"),
              sqrt(dot(col("embedding"), col("embedding"))).as("nrm"))
      .transform(graft.Caching.cachedOnce)
    val a = a2.select(col("cid"), col("vec_id").as("a_id"),
                      col("embedding").as("av"), col("nrm").as("an"))
    val b = a2.select(col("cid"), col("vec_id").as("b_id"),
                      col("embedding").as("bv"), col("nrm").as("bn"))
    val drops = a.join(b, Seq("cid"))
      .where(col("a_id") < col("b_id") &&
             dot(col("av"), col("bv")) / (col("an") * col("bn"))
               >= NeardupEmbeddingTau)
      .select(col("b_id").as("vec_id")).distinct()
      .withColumn("dropped", lit(true))
    a2.join(drops, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cid"),
              coalesce(col("dropped"), lit(false)).as("is_dup"))
  }

  val semdedupSql: String =
    s"""WITH $assignCte,
       |drops AS (
       |  SELECT DISTINCT b.vec_id
       |  FROM a2 a JOIN a2 b ON a.cid = b.cid AND a.vec_id < b.vec_id
       |  WHERE ${Similarity.cosineSql("a.embedding", "b.embedding")}
       |          >= ${Similarity.NeardupEmbeddingTau})
       |SELECT a.vec_id, a.cid, (d.vec_id IS NOT NULL) AS is_dup
       |FROM a2 a LEFT JOIN drops d ON a.vec_id = d.vec_id""".stripMargin

  /** Registered SORT-FREE (round 15, tranche 3): per-cluster / per-vector
    * outputs with unique keys — trailing ORDER BY was comparator-only. */
  val ops: Seq[Op] = Seq(
    Op("llm_kmeans", kmeans, Sql(kmeansSql), Seq("cid")),
    Op("llm_pagerank", pagerank, Sql(pagerankSql)),
    Op("llm_semdedup", semdedup, Sql(semdedupSql), Seq("a.vec_id")),
  )
}
