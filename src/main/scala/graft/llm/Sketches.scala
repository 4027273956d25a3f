package graft.llm

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{Op, Q, Sql, Tables}

/** §2.11 sketch structures for corpus statistics at scale.
  *
  * Count-Min Sketch heavy hitters: the counter matrix is d=4 rows × w=251
  * buckets; every token increments one bucket per row, and a token's
  * estimate is the MIN over its d buckets — an upper bound on the true
  * count (never under), within εN with high probability. The point at
  * 100 TB: the shuffled state is the 4×251 counter matrix — constants —
  * no matter how large the corpus; only candidate estimation touches
  * per-token data again.
  *
  * Unlike library CMS implementations (random seeds, driver-side merge),
  * the hash rows here are md5-prefix slices — the cross-engine
  * deterministic hash — so the whole sketch, estimates included, is
  * DuckDB-oracle-checkable bit-for-bit.
  */
object Sketches {
  val CmsDepth = 4   // hash rows
  val CmsWidth = 251 // buckets per row (prime, so the %-fold spreads)

  /** Hex-nibble value of char at `pos` (1-based) of md5(w) — identical
    * SQL text evaluates in both engines. */
  private def nib(pos: Int): String =
    s"(instr('0123456789abcdef', substr(md5(w), $pos, 1)) - 1)"

  /** Bucket for hash row j (0-based): four md5 nibbles folded mod width. */
  private def bucketSql(j: Int): String = {
    val p = j * 4
    s"((${nib(p + 1)} * 4096 + ${nib(p + 2)} * 256 + " +
      s"${nib(p + 3)} * 16 + ${nib(p + 4)}) % $CmsWidth)"
  }

  /** Same bucket arithmetic over a pre-computed digest column `h`: the hot
    * path projects md5(w) ONCE per token and takes the hex value of the
    * j-th 4-char slice in one `conv` (the nibble fold nib1·4096 + nib2·256 +
    * nib3·16 + nib4 IS that value), rather than re-evaluating md5 inside
    * all 16 nibble expressions. The SQL-text twin above is kept for the
    * oracle, where DuckDB's optimizer does its own CSE. */
  private def bucketCol(j: Int, h: Column): Column =
    conv(substring(h, j * 4 + 1, 4), 16, 10).cast("int") % CmsWidth

  private def toks(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(explode(Text.words(col("text"))).as("w"))

  private val toksSqlCte: String =
    """toks AS (
      |  SELECT unnest(list_filter(string_split_regex(lower(text), '\s+'), t -> t <> '')) AS w
      |  FROM documents)""".stripMargin

  /** Heavy hitters: exact top-20 tokens with their CMS estimates and the
    * sketch's overestimate — the validation view a pipeline uses before
    * trusting the sketch for the long tail. */
  val heavyHittersCms: Q = (s, d) => {
    // Round 19: the old spelling evaluated the corpus tokenize TWICE (the
    // sketch branch and the exact-top branch — Catalyst does not dedupe
    // shared subtrees) and computed md5 PER TOKEN. One word-count
    // aggregation now feeds both branches, and every downstream expression
    // runs per DISTINCT word weighted by its count: counter values are
    // identical by algebra (count of token rows per (j,bucket) ≡ sum of
    // per-word counts, since the bucket depends only on w), and at 100 TB
    // the md5+fold cost drops from O(tokens) to O(vocabulary). The oracle
    // SQL is unchanged and re-proves equality.
    val wc = toks(s, d).groupBy("w").agg(count(lit(1)).as("cnt"))
      .transform(graft.Caching.cachedOnce)
    def jbRows(h: Column) = (0 until CmsDepth).map { j =>
      struct(lit(j).as("j"), bucketCol(j, h).as("bucket"))
    }
    val sketch = wc.withColumn("h", md5(col("w")))
      .select(col("cnt"), explode(array(jbRows(col("h")): _*)).as("jb"))
      .groupBy(col("jb.j").as("j"), col("jb.bucket").as("bucket"))
      .agg(sum("cnt").as("c"))
    // candidates: exact top-20 (the oracle-checkable ground truth)
    val top = wc.select(col("w"), col("cnt").as("exact_cnt"))
      .orderBy(col("exact_cnt").desc, col("w")).limit(20)
    // estimate = min over the candidate's d buckets
    val cand = top.withColumn("h", md5(col("w")))
      .select(col("w"), col("exact_cnt"),
        explode(array(jbRows(col("h")): _*)).as("jb"))
      .select(col("w"), col("exact_cnt"),
              col("jb.j").as("j"), col("jb.bucket").as("bucket"))
    cand.join(broadcast(sketch), Seq("j", "bucket"))
      .groupBy("w", "exact_cnt")
      .agg(min(col("c")).as("cms_est"))
      .withColumn("overestimate", col("cms_est") - col("exact_cnt"))
      .select("w", "exact_cnt", "cms_est", "overestimate")
      .orderBy(col("exact_cnt").desc, col("w"))
  }

  val heavyHittersCmsSql: String = {
    val bucketRows = (0 until CmsDepth).map { j =>
      s"SELECT w, $j AS j, ${bucketSql(j)} AS bucket FROM toks"
    }.mkString("\nUNION ALL\n")
    s"""WITH $toksSqlCte,
       |jb AS (
       |$bucketRows),
       |sketch AS (SELECT j, bucket, count(*) AS c FROM jb GROUP BY j, bucket),
       |top AS (
       |  SELECT w, count(*) AS exact_cnt FROM toks GROUP BY w
       |  ORDER BY exact_cnt DESC, w LIMIT 20),
       |cand AS (
       |  SELECT t.w, t.exact_cnt, g.j,
       |    ${bucketSql(0).replace("md5(w)", "md5(t.w)")} AS b0,
       |    ${bucketSql(1).replace("md5(w)", "md5(t.w)")} AS b1,
       |    ${bucketSql(2).replace("md5(w)", "md5(t.w)")} AS b2,
       |    ${bucketSql(3).replace("md5(w)", "md5(t.w)")} AS b3
       |  FROM top t, unnest(generate_series(0, ${CmsDepth - 1})) AS g(j)),
       |est AS (
       |  SELECT c.w, c.exact_cnt, min(s.c) AS cms_est
       |  FROM cand c JOIN sketch s
       |    ON s.j = c.j AND s.bucket = CASE c.j
       |         WHEN 0 THEN c.b0 WHEN 1 THEN c.b1
       |         WHEN 2 THEN c.b2 ELSE c.b3 END
       |  GROUP BY c.w, c.exact_cnt)
       |SELECT w, exact_cnt, cms_est, cms_est - exact_cnt AS overestimate
       |FROM est ORDER BY exact_cnt DESC, w""".stripMargin
  }

  val ops: Seq[Op] = Seq(
    Op("llm_heavy_hitters_cms", heavyHittersCms, Sql(heavyHittersCmsSql)),
  )
}
