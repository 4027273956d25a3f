package graft.llm

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{NoOracle, Op, Q, Sql, Tables}

/** §2.11 document deduplication suite (SURVEY.md): exact hash dedup,
  * exact shingle-Jaccard near-dup (the declared semantics), MinHash-LSH
  * (the 100 TB-scale candidate-pruning path, which must reproduce the exact
  * pairs after its verify step), SimHash signatures, and min-hash content
  * fingerprints.
  *
  * Scale notes: exact dedup is one hash-partitioned aggregation. The exact
  * Jaccard join is O(pairs-sharing-a-shingle) — fine when shingle frequency
  * is bounded, quadratic in the worst case; MinHash-LSH bounds the candidate
  * set to pairs sharing a band signature (probability ≈ 1-(1-j^r)^b), which
  * is the standard web-scale design, and its final exact-verify step makes
  * the output identical to the exact operator.
  */
object Dedup {
  /** doc_id + the [[Text.words]] tokens of each document.
    *
    * Conditionally hash-scattered across the shuffle width before
    * returning: every consumer (shingles, simhash signatures, substring
    * spans, winnowing) immediately row-multiplies with an explode+hash
    * pass, so when the scan under-parallelizes the session that heavy
    * compute would fuse into a single task — see
    * [[graft.Caching.scatterIfNarrow]] for the gate and the choice of
    * partitioning. */
  def tokens(s: SparkSession, d: String): DataFrame =
    graft.Caching.scatterIfNarrow(
      Tables.documents(s, d).select(col("doc_id"), Text.words(col("text")).as("toks")),
      col("doc_id"))

  /** Distinct word 5-gram shingles per document (docs shorter than 5 tokens
    * have none). */
  def shingles(s: SparkSession, d: String): DataFrame =
    tokens(s, d)
      .where(size(col("toks")) >= 5)
      .select(col("doc_id"),
        explode(array_distinct(Text.grams(col("toks"), 5))).as("sh"))

  /** 64-bit xxhash64 digests of the distinct word-5-gram shingles — the
    * SHUFFLE representation of the near-dup candidate/verify machinery
    * (round 18, the digest-only-payloads principle the substring family
    * already follows): a 5-gram string averages ~45 bytes and rides every
    * prefix/candidate/verify shuffle of the exact pair operators, so
    * hashing it to 8 bytes cuts the family's dominant shuffle volume ~5×
    * (measured: the 1024× CC disk wall was the pair generation's shingle
    * shuffle). Distinct-shingle sets map to distinct-hash sets, so
    * intersection counts and Jaccard are IDENTICAL modulo 64-bit
    * collisions — P ≈ (distinct shingles)²/2⁶⁵, ~3e-10 at the sf0.01
    * oracle gate and ~0.03 for any collision at a 10¹²-shingle corpus,
    * where one collision perturbs one pair's count by at most 1 only if
    * both colliding shingles co-occur in that pair. The ORACLE SQL stays
    * string-exact; equality is re-proven every round by the hash gate.
    * Consumers that must stay string/md5-based for DuckDB reproducibility
    * (fingerprint, minhashEstimate) keep [[shingles]]. */
  def shingleHashes(s: SparkSession, d: String): DataFrame =
    shingles(s, d).select(col("doc_id"), xxhash64(col("sh")).as("sh"))

  /** Per-row distinct shingle-hash ARRAY over a whitespace-token array
    * column (empty when the doc has fewer than 5 tokens). Distinctness is
    * applied to the 8-byte hashes rather than the gram strings — identical
    * sets modulo the same ~n²·2⁻⁶⁴ collision bound as [[shingleHashes]],
    * re-proved by the string-exact oracle every round. */
  private def shingleHashArray(toks: Column): Column =
    when(size(toks) >= 5, array_distinct(Text.grams(toks, 5, xxhash64(_))))
      .otherwise(array().cast("array<bigint>"))

  /** The near-dup family's one CACHED shingle frame: per document
    * (doc_id, sha256 `h`, distinct shingle-hash array `shs`), read from one
    * text pass (text ReadSchema 1). The raw documents are scattered first and
    * tokenized after the exchange, so the tokenize and shingle work spreads
    * across the full shuffle width. The tokens get their own projection so
    * the shingle lambda reads a column, not a tokenizer (see [[Text.grams]]);
    * CollapseProject keeps the two projections apart because the shingle
    * array reads `toks` more than once.
    *
    * One per-doc row carries the whole shingle set instead of the ~100×-more
    * exploded (doc_id, sh) rows: the same hash payload with a fraction of
    * the row overhead, and consumers explode on read ([[cachedShingleHashes]],
    * a narrow Generate over the in-memory scan). The exact-content arm of
    * ingest admission reads (doc_id, h) off the same frame. */
  def shingleHashArrays(s: SparkSession, d: String): DataFrame =
    // NO shingled-docs filter here: a `where(size(shs) > 0)` on the computed
    // column gets substituted below the scatter exchange by filter pushdown
    // and re-evaluates the whole shingle pipeline on the narrow pre-scatter
    // scan — measured 0.9 → 8.4 s solo (ExplainInvariantsSpec pins one
    // shingle transform per plan). Shingle-less docs cache as empty arrays
    // (a handful of bytes); explode drops them and [[shingleSizes]] filters
    // on the CACHED column, which is cheap.
    graft.Caching.scatterIfNarrow(Tables.documents(s, d), col("doc_id"))
      .select(col("doc_id"), sha2(col("text"), 256).as("h"),
              Text.words(col("text")).as("toks"))
      .select(col("doc_id"), col("h"), shingleHashArray(col("toks")).as("shs"))
      .transform(graft.Caching.cachedOnce)

  /** [[shingleHashes]] served from the cached per-doc array frame — the
    * (doc_id, sh) shape every cached consumer in the family joins on. */
  def cachedShingleHashes(s: SparkSession, d: String): DataFrame =
    shingleHashArrays(s, d).select(col("doc_id"), explode(col("shs")).as("sh"))

  /** Per-doc shingle-set sizes (doc_id, n_sh) straight off the cached array
    * frame, shingle-less docs dropped — a projection (`size(shs)`), not an
    * aggregation: a `sh.groupBy(doc_id).count` subtree was duplicated by
    * Catalyst into BOTH size joins of every finish, i.e. two
    * explode+aggregate passes per query for a number the array already
    * knows. */
  def shingleSizes(s: SparkSession, d: String): DataFrame =
    shingleHashArrays(s, d)
      .where(size(col("shs")) > 0) // evaluated on the CACHED column
      .select(col("doc_id"), size(col("shs")).cast("bigint").as("n_sh"))

  val shinglesSqlCte: String =
    s"""toks AS (
       |  SELECT doc_id, ${Text.wordsSql("text")} AS t
       |  FROM documents),
       |shingles AS (
       |  SELECT DISTINCT doc_id, array_to_string(t[i:i+4], ' ') AS sh
       |  FROM toks, unnest(generate_series(1, len(t) - 4)) AS g(i)
       |  WHERE len(t) >= 5)""".stripMargin

  /** Exact content dedup: one representative (min doc_id) per sha256. */
  val exactDedup: Q = (s, d) =>
    Tables.documents(s, d)
      .select(col("doc_id"), sha2(col("text"), 256).as("h"))
      .groupBy("h")
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))

  val exactDedupSql: String =
    """SELECT sha256(text) AS h, min(doc_id) AS keep_id, count(*) AS n_copies
      |FROM documents
      |GROUP BY h""".stripMargin

  val JaccardThreshold = 0.8

  /** The family's one exact-Jaccard finish — the verify half of every
    * filter-and-verify near-dup operator, whatever generated its candidates.
    * `pairs` carries the two doc-id columns `a` and `b` and `inter`, the
    * EXACT intersection count of their shingle sets; `sizes` is
    * (doc_id, n_sh), normally [[shingleSizes]]. Joins `n1` (for `a`) then
    * `n2` (for `b`), adds `jac = inter / (n1 + n2 − inter)` and keeps
    * `jac >= JaccardThreshold`. Integer set arithmetic up to the one
    * division, the same expression the DuckDB oracles spell. */
  def jaccardAtLeast(pairs: DataFrame, a: String, b: String,
                     sizes: DataFrame): DataFrame =
    pairs
      .join(sizes.select(col("doc_id").as(a), col("n_sh").as("n1")), a)
      .join(sizes.select(col("doc_id").as(b), col("n_sh").as("n2")), b)
      .withColumn("jac", col("inter").cast("double") /
                         (col("n1") + col("n2") - col("inter")))
      .where(col("jac") >= JaccardThreshold)

  /** The admission verdict tail shared by ingest dedup and its streaming
    * batch twin: one row per `ids` doc_id, `exact_dup` over `near_dup` over
    * `new`, with the matching id (`exact_match`, else `near_match`, else
    * −1). `exact` and `near` are keyed on doc_id. */
  def admissionVerdicts(ids: DataFrame, exact: DataFrame,
                        near: DataFrame): DataFrame =
    ids.join(exact, Seq("doc_id"), "left")
      .join(near, Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("exact_match").isNotNull, "exact_dup")
          .when(col("near_match").isNotNull, "near_dup")
          .otherwise("new").as("verdict"),
        coalesce(col("exact_match"), col("near_match"), lit(-1L)).as("match_id"))

  /** Exact intersection counts (d1, d2, inter) of a candidate pair set whose
    * own weights are not exact (prefix-filtered or LSH candidates): joins
    * each pair back to both shingle sets. The shingle equality is part of
    * the JOIN KEY (d2, sh), never a post-join filter — otherwise the
    * intermediate is |pairs|*|A|*|B| and plan-dependent, not |matches|
    * (observed 20x swings under AQE). Naive shared-shingle candidates need
    * none of this: their groupBy(d1, d2) count already IS the intersection
    * (round 20 — the join-backs re-read the shingle table twice to re-count
    * it). */
  private def exactInter(cands: DataFrame, sh: DataFrame): DataFrame =
    cands.select("d1", "d2")
      .join(sh.select(col("doc_id").as("d1"), col("sh")), "d1")
      .join(sh.select(col("doc_id").as("d2"), col("sh")), Seq("d2", "sh"))
      .groupBy("d1", "d2")
      .agg(count(lit(1)).as("inter"))

  /** The registered pair shape (d1, d2, inter, n1, n2, jac6) of a finished
    * pair set. */
  private def pairRows(finished: DataFrame): DataFrame =
    finished.select(col("d1"), col("d2"), col("inter"), col("n1"), col("n2"),
                    round(col("jac"), 6).as("jac6"))

  /** Exact near-duplicate pairs: word-5-gram Jaccard >= 0.8 (doc_id < doc_id2).
    * Declared exact semantics — integer set arithmetic end to end.
    *
    * Scale path (PPJoin-style prefix filtering, lossless): order each doc's
    * shingles by global frequency (rare first) then shingle; a pair with
    * J >= t MUST share a shingle inside each side's first n - ceil(t*n) + 1
    * shingles, so the candidate join runs only over those short, rare-heavy
    * prefixes instead of all shingles, and the survivors are verified
    * exactly. Output is identical to the naive all-pairs join (unit-tested),
    * at a fraction of the join volume.
    */
  /** The PPJoin prefix table: each doc's rare-first prefix shingles + size. */
  private def prefixTable(sh: DataFrame): DataFrame = {
    val freq = sh.groupBy("sh").agg(count(lit(1)).as("f"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("f"), col("sh"))
    // n_sh rides the SAME doc_id-partitioned window pass as the prefix
    // position (count over the unbounded frame) — one exchange serves both,
    // instead of a separate per-doc aggregation joined back
    val wAll = org.apache.spark.sql.expressions.Window.partitionBy(col("doc_id"))
    sh.join(freq, "sh")
      .withColumn("pos", row_number().over(w))
      .withColumn("n_sh", count(lit(1)).over(wAll))
      .where(col("pos") <= col("n_sh") - ceil(col("n_sh") * JaccardThreshold) + 1)
      .select("doc_id", "sh", "n_sh")
  }

  /** The PPJoin candidate self-join (prefix ∩ prefix ≠ ∅ + length filter),
    * before pair-level reduction — shared by the distinct (uncapped) and
    * weighted (capped) candidate shapes. */
  private def prefixJoin(prefix: DataFrame): DataFrame =
    // length filter (lossless, standard PPJoin companion): J >= 4/5 forces
    // min(n1,n2) >= 0.8*max(n1,n2), stated in exact integer form (4*n <= 5*m)
    // so no float rounding can drop a true pair — prunes candidates before
    // the expensive exact-verify join ever sees them
    prefix.as("x")
      .join(prefix.as("y"),
            col("x.sh") === col("y.sh") && col("x.doc_id") < col("y.doc_id") &&
            col("x.n_sh") * 4 <= col("y.n_sh") * 5 &&
            col("y.n_sh") * 4 <= col("x.n_sh") * 5)
      .select(col("x.doc_id").as("d1"), col("y.doc_id").as("d2"))

  /** Prefix-filtered (PPJoin) candidate generation over a shingle table. */
  private def prefixCands(sh: DataFrame): DataFrame =
    prefixJoin(prefixTable(sh)).distinct()

  /** The raw shared-shingle self-join (one row per shared shingle) —
    * shared by the distinct (uncapped) and weighted (capped) naive shapes
    * so the join condition cannot drift between them. */
  private def naiveJoin(sh: DataFrame): DataFrame =
    sh.as("x")
      .join(sh.as("y"), col("x.sh") === col("y.sh") && col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("d1"), col("y.doc_id").as("d2"))

  /** Naive shared-shingle candidate generation (no prefix machinery). */
  private def naiveCands(sh: DataFrame): DataFrame =
    naiveJoin(sh).distinct()

  /** Candidate pairs WITH an overlap weight: `w` = number of shared prefix
    * shingles (prefix path) or shared shingles (naive path) — a lower bound
    * on the pair's true intersection, used only to RANK pairs under a
    * candidate budget. Same shuffle volume as the distinct() form (the
    * count is a map-side partial aggregation over the identical join). */
  private def weightedCands(sh: DataFrame, prefixPath: Boolean): DataFrame = {
    val joined =
      if (prefixPath) prefixJoin(prefixTable(sh))
      else naiveJoin(sh)
    joined.groupBy("d1", "d2").agg(count(lit(1)).as("w"))
  }

  /** Candidate budget for the mega-cluster regime (the one measured failure
    * boundary, BASELINE.md round-11 memory probe): on a corpus where every
    * document has c near-identical copies, candidate pairs — and therefore
    * exact-verify join volume and pair OUTPUT itself — grow as c²/2. A
    * per-document budget keeps each doc's verified pairs to its top-`m`
    * candidates by overlap weight (ties broken by partner id, so the kept
    * set is deterministic); a pair survives if EITHER endpoint ranks it
    * (kNN-graph semantics), bounding verified pairs ≤ 2·m·|docs| — linear
    * in the corpus regardless of duplicate-cluster size.
    *
    * RECALL TRADE (the operator contract): with the cap on, output is a
    * SUBSET of the exact operator's pairs — inside a duplicate cluster of
    * size c > m+1 only ~m·c of the c²/2 true pairs are emitted (still ≥ the
    * connectivity a downstream clustering needs in practice, since every
    * doc keeps its m strongest partners). Cap OFF (the default, conf unset
    * or 0) the operator is exactly [[neardupPairs]]' declared semantics.
    * DedupCapSpec pins capped ⊆ uncapped and capped == uncapped when m
    * exceeds every doc's true degree. */
  val NeardupCapConf = "spark.graft.neardup.maxPairsPerDoc"

  /** Per-endpoint top-`m` ranking of the weighted candidate set — the
    * stacked `row_number` window spelling, KEPT DELIBERATELY after a
    * measured A/B against the "bounded top-m partial aggregation" rewrite
    * (round-12 verdict #5; both spellings probed at k=64 megacluster,
    * 320k docs / ~10.1M candidate pairs, same session protocol):
    *
    *   - window spelling (this code): 50.0 s  (round-12 record, re-held)
    *   - typed top-m Aggregator (udaf): 113.7 s — 2.3× SLOWER
    *   - same + objectHashAggregate fallbackThreshold 128 → 1M: 123.5 s
    *
    * Why the verdict's suggested aggregation loses here: in the mega-cluster
    * regime the candidate set has ~c/2 rows per endpoint KEY spread over 32
    * mappers — about ONE row per key per mapper — so a map-side partial
    * reduction has nothing to combine and the full set reaches the final
    * aggregate regardless. That final aggregate is an object-buffer
    * TypedImperativeAggregate: ObjectHashAggregateExec falls back to
    * sort-based at 128 in-memory keys (and raising the threshold just trades
    * the sort for 320k-entry-per-task object hash maps — measured slightly
    * worse), so it SORTS the same intermediate the windows sort, paying
    * per-row encoder deserialization and immutable-buffer allocation churn
    * on top. The window spelling sorts UnsafeRows with the radix sorter and
    * streams row_number with zero allocation — 2.3× faster absolute on the
    * irreducible c²/2 enumeration. Kept-set semantics: rank by (w desc,
    * partner asc), keep a pair if EITHER endpoint ranks it ≤ m (kNN-graph
    * semantics) ⇒ output ≤ 2·m·|docs| (DedupCapSpec pins subset/equality/
    * bound; BASELINE.md round-13 records the A/B). */
  private def capPairs(weighted: DataFrame, m: Int): DataFrame = {
    val w1 = org.apache.spark.sql.expressions.Window
      .partitionBy(col("d1")).orderBy(col("w").desc, col("d2"))
    val w2 = org.apache.spark.sql.expressions.Window
      .partitionBy(col("d2")).orderBy(col("w").desc, col("d1"))
    val ranked = weighted
      .withColumn("r1", row_number().over(w1))
      .withColumn("r2", row_number().over(w2))
      .where(col("r1") <= m || col("r2") <= m)
    // `w` rides along: on the naive path it is the exact intersection count
    ranked.select("d1", "d2", "w")
  }

  /** Size-adaptive switch: below this many (doc, shingle) rows the naive
    * shared-shingle candidate join is cheaper than the prefix machinery's
    * extra global-frequency agg + two window passes (measured: at the
    * sf0.1 fixture — ~0.25M shingle rows — the naive join beats the PPJoin
    * path ~2×, while the prefix filter's candidate-volume savings only
    * amortize once the shingle self-join volume Σf² dominates those fixed
    * passes). The prefix path re-counts intersections ([[exactInter]]);
    * the naive path's candidate counts already are them (round 20) — both
    * finish through [[jaccardAtLeast]], identical output either way
    * (LlmSpec pins prefix == naive explicitly, at every scale). */
  val NeardupPrefixMinShingles = 2000000L

  /** Text bytes per (doc, shingle) row assumed by [[estimatedShingleRows]].
    * A word 5-gram starts at every token but a document's last four, so
    * shingle rows track tokens and tokens track text bytes. Measured text
    * bytes per shingle row: 6.0 on sf0.001, sf0.01, sf0.1 and the perfbench
    * fixture; 7.9, 9.0 and 9.4 on the `graft.Dev scale` 8×, 64× and 128×
    * copies of sf0.01, whose tokens carry a copy tag. At 8 the estimate
    * falls on the same side of [[NeardupPrefixMinShingles]] as the exact
    * count on every one of them (64×: 1.82M estimated, 1.61M exact). */
  val TextBytesPerShingle = 8L

  /** Plan-time estimate of the (doc, shingle) rows of `documents`: the
    * `text` column's uncompressed Parquet footer bytes over
    * [[TextBytesPerShingle]] — no Spark job. It only picks the candidate
    * plan (prefix or naive), and both give the same pairs. */
  def estimatedShingleRows(s: SparkSession, d: String): Long =
    Tables.uncompressedBytesOf(s, d, "documents", "text") / TextBytesPerShingle

  /** Mega-clique regime guardrail (round-12 verdict #3). The k=128/k=256
    * probes measured the one way the EXACT pair operator dies at scale:
    * inside a duplicate clique of size c every pair genuinely collides, so
    * candidate enumeration — and with the cap off, the verify join and the
    * output too — grows as c²/2, and the failure mode on a real cluster is
    * executor-disk exhaustion hours in, fixable by a conf the user never
    * saw. This converts that measured boundary into a runtime diagnostic:
    * one aggregation over the cached shingle table upper-
    * bounds the candidate enumeration as Σ_sh f·(f-1)/2 and compares it to
    * a per-doc budget. Over `warnPairsPerDoc` (default 1,000) it logs an
    * actionable warning naming [[NeardupCapConf]] and the representative-
    * based escapes; over `failPairsPerDoc` (conf
    * `spark.graft.neardup.failPairsPerDoc`, default off) it fails fast
    * instead. The bound uses RAW shingle frequencies, so for the prefix
    * path it over-estimates (prefix filtering prunes common shingles) —
    * the right direction for a guardrail, and regime detection is about
    * orders of magnitude, not precision.
    *
    * Wired inside [[neardupPairs]] only on the exact (cap-off) path and
    * only above [[NeardupPrefixMinShingles]] — small corpora (every
    * fixture, the bench) never pay the extra aggregation, and below that
    * size the quadratic cannot hurt anyway. */
  val NeardupWarnPairsPerDocConf = "spark.graft.neardup.warnPairsPerDoc"
  val NeardupFailPairsPerDocConf = "spark.graft.neardup.failPairsPerDoc"

  /** Returns Some(diagnostic message) when the candidate-enumeration upper
    * bound exceeds `budgetPairsPerDoc · nDocs`, None when the corpus is
    * inside the budget. Pure function of the shingle table — the spec
    * drives it directly with a planted mega-cluster and with the fixture. */
  def candidateVolumeDiagnostic(sh: DataFrame, nDocs: Long,
                                budgetPairsPerDoc: Long): Option[String] = {
    val r = sh.groupBy("sh").agg(count(lit(1)).as("f"))
      .agg(sum(col("f") * (col("f") - 1)).as("pairs2_ub"), // stays LongType (SQL `/` would widen to double)
           max(col("f")).as("max_bucket")).head()
    val pairsUb = (if (r.isNullAt(0)) 0L else r.getLong(0)) / 2
    val maxBucket = if (r.isNullAt(1)) 0L else r.getLong(1)
    val budget = budgetPairsPerDoc * math.max(1L, nDocs)
    if (pairsUb <= budget) None
    else Some(
      s"near-dup candidate enumeration upper bound is $pairsUb shared-shingle " +
      s"pairs (~${pairsUb / math.max(1L, nDocs)} per doc over $nDocs docs; " +
      s"largest shingle bucket $maxBucket) — a mega-duplicate-cluster regime " +
      s"where exact pair output grows quadratically in cluster size. Set " +
      s"$NeardupCapConf (per-doc candidate budget, linear output) or " +
      s"deduplicate representatives first (llm_exact_dedup / llm_semdedup).")
  }

  private[graft] def guardCandidateVolume(s: SparkSession, d: String, sh: DataFrame): Unit = {
    val warnAt = graft.Confs.longConf(s, NeardupWarnPairsPerDocConf)
      .getOrElse(1000L)
    val failAt = graft.Confs.longConf(s, NeardupFailPairsPerDocConf)
      .getOrElse(0L)
    val nDocs = Tables.countOf(s, d, "documents")
    if (failAt > 0)
      candidateVolumeDiagnostic(sh, nDocs, failAt).foreach { msg =>
        throw new IllegalStateException(s"$NeardupFailPairsPerDocConf exceeded: $msg") }
    else
      candidateVolumeDiagnostic(sh, nDocs, warnAt).foreach { msg =>
        org.slf4j.LoggerFactory.getLogger(getClass).warn(msg) }
  }

  /** The exact pair operator with a per-document candidate budget `cap`
    * (0 = off, the declared exact semantics). Shingling (regex split +
    * 5-gram transform + distinct + digest) is the expensive narrow stage and
    * feeds every plan branch, so it is the cached frame; the candidate
    * plan is chosen from [[estimatedShingleRows]] (Parquet footers, no
    * Spark job), so building the query runs nothing. Naive-path
    * pairs carry their exact intersection count out of the candidate
    * aggregation and finish directly (round 20); prefix-path candidates
    * carry prefix-overlap lower bounds and re-count exactly. */
  private def neardupPairsAt(s: SparkSession, d: String, cap: Int): DataFrame = {
    val sh = cachedShingleHashes(s, d)
    val prefixPath = estimatedShingleRows(s, d) >= NeardupPrefixMinShingles
    // exact path on a big corpus: check the measured mega-clique boundary
    // BEFORE the verify join can exhaust executor disk (capped runs are
    // volume-bounded by construction and skip the diagnostic)
    if (cap == 0 && prefixPath) guardCandidateVolume(s, d, sh)
    val inter =
      if (prefixPath)
        exactInter(if (cap > 0) capPairs(weightedCands(sh, prefixPath), cap)
                   else prefixCands(sh), sh)
      else {
        val ov = weightedCands(sh, prefixPath = false)
        (if (cap > 0) capPairs(ov, cap) else ov).withColumnRenamed("w", "inter")
      }
    pairRows(jaccardAtLeast(inter, "d1", "d2", shingleSizes(s, d)))
  }

  val neardupPairs: Q = (s, d) =>
    neardupPairsAt(s, d, graft.Confs.intConf(s, NeardupCapConf).getOrElse(0))

  /** [[neardupPairs]] with the per-document candidate budget forced to `m`
    * — the spec entry point (the operator itself reads [[NeardupCapConf]]). */
  def neardupPairsCapped(s: SparkSession, d: String, m: Int): DataFrame =
    neardupPairsAt(s, d, m)

  /** Registered budget default: each doc keeps its top-2 candidate partners
    * (pairs survive if EITHER endpoint ranks them). */
  val NeardupCapDefaultM = 2

  /** The REGISTERED capped near-dup row (`llm_neardup_capped`): the
    * deterministic reference formulation of the candidate budget, with the
    * ranking weight = FULL shared-shingle count (the exact overlap),
    * independent of the adaptive prefix switch — which makes it
    * SQL-expressible and hash-oracled against DuckDB. The conf-driven path
    * inside [[neardupPairs]] approximates the same ranking with prefix
    * overlaps above the shingle threshold (same ≤ 2·m·|docs| bound, far
    * cheaper weights at 100 TB); DedupCapSpec pins the two equal below the
    * threshold and capped ⊆ uncapped always. */
  val neardupCapped: Q = (s, d) => {
    val ov = capPairs(weightedCands(cachedShingleHashes(s, d), prefixPath = false),
                      NeardupCapDefaultM)
    pairRows(jaccardAtLeast(ov.withColumnRenamed("w", "inter"), "d1", "d2",
                            shingleSizes(s, d)))
  }

  val neardupCappedSql: String =
    s"""WITH $shinglesSqlCte,
       |sizes AS (SELECT doc_id, count(*) AS n_sh FROM shingles GROUP BY doc_id),
       |ov AS (
       |  SELECT x.doc_id AS d1, y.doc_id AS d2, count(*) AS w
       |  FROM shingles x JOIN shingles y ON x.sh = y.sh AND x.doc_id < y.doc_id
       |  GROUP BY 1, 2),
       |ranked AS (
       |  SELECT d1, d2,
       |    row_number() OVER (PARTITION BY d1 ORDER BY w DESC, d2) AS r1,
       |    row_number() OVER (PARTITION BY d2 ORDER BY w DESC, d1) AS r2
       |  FROM ov),
       |cand AS (SELECT d1, d2 FROM ranked WHERE r1 <= $NeardupCapDefaultM OR r2 <= $NeardupCapDefaultM),
       |ix AS (
       |  SELECT c.d1, c.d2, count(*) AS inter
       |  FROM cand c
       |  JOIN shingles a ON a.doc_id = c.d1
       |  JOIN shingles b ON b.doc_id = c.d2 AND b.sh = a.sh
       |  GROUP BY 1, 2)
       |SELECT i.d1, i.d2, i.inter, s1.n_sh AS n1, s2.n_sh AS n2,
       |  round(cast(i.inter as double) / (s1.n_sh + s2.n_sh - i.inter), 6) AS jac6
       |FROM ix i
       |JOIN sizes s1 ON s1.doc_id = i.d1
       |JOIN sizes s2 ON s2.doc_id = i.d2
       |WHERE cast(i.inter as double) / (s1.n_sh + s2.n_sh - i.inter) >= 0.8""".stripMargin

  /** Prefix-filter path, forced (the 100 TB plan; adaptively chosen by
    * [[neardupPairs]] above the shingle threshold). Kept callable so the
    * equivalence spec exercises it at every fixture scale. */
  def neardupPairsPrefix(s: SparkSession, d: String): DataFrame = {
    val sh = cachedShingleHashes(s, d)
    pairRows(jaccardAtLeast(exactInter(prefixCands(sh), sh), "d1", "d2",
                            shingleSizes(s, d)))
  }

  /** Naive all-pairs exact formulation — the specification the prefix-filter
    * version must reproduce; kept for the equivalence test. */
  def neardupPairsAllPairs(s: SparkSession, d: String): DataFrame = {
    val sh = shingleHashes(s, d)
    pairRows(jaccardAtLeast(exactInter(naiveCands(sh), sh), "d1", "d2",
                            sh.groupBy("doc_id").agg(count(lit(1)).as("n_sh"))))
  }

  val neardupPairsSql: String =
    s"""WITH $shinglesSqlCte,
       |sizes AS (SELECT doc_id, count(*) AS n_sh FROM shingles GROUP BY doc_id),
       |inter AS (
       |  SELECT x.doc_id AS d1, y.doc_id AS d2, count(*) AS inter
       |  FROM shingles x JOIN shingles y ON x.sh = y.sh AND x.doc_id < y.doc_id
       |  GROUP BY 1, 2)
       |SELECT d1, d2, inter, s1.n_sh AS n1, s2.n_sh AS n2,
       |  round(cast(inter as double) / (s1.n_sh + s2.n_sh - inter), 6) AS jac6
       |FROM inter
       |JOIN sizes s1 ON s1.doc_id = d1
       |JOIN sizes s2 ON s2.doc_id = d2
       |WHERE cast(inter as double) / (s1.n_sh + s2.n_sh - inter) >= 0.8""".stripMargin

  // ---- MinHash-LSH scale path --------------------------------------------

  // 16 bands of 4 hashes: P(miss | j=0.8) = (1-0.8^4)^16 ≈ 2.2e-4 per true
  // pair — across the fixture's 25 true pairs the expected miss count is
  // ~0.006, i.e. recall ≈ 1 by construction (not just by seed luck), and the
  // exact-Jaccard verify step keeps precision at 1, so the LSH operator's
  // output equals the exact operator's (pinned by LlmSpec).
  val NumHashes = 64
  val BandSize = 4

  /** Per-doc MinHash signature: min over shingles of xxhash64(seed_k, shingle)
    * for k seeds. Deterministic (xxhash64 is a fixed public algorithm). */
  def minhashSignatures(sh: DataFrame): DataFrame = {
    val minCols = (0 until NumHashes).map { k =>
      min(xxhash64(lit(k), col("sh"))).as(s"mh$k")
    }
    sh.groupBy("doc_id").agg(minCols.head, minCols.tail: _*)
  }

  /** LSH candidate pairs → exact Jaccard verify → identical output shape to
    * [[neardupPairs]] (pairs + jaccard), reached without the all-pairs join.
    * Registered rows-only; a ScalaTest asserts it equals the exact operator.
    */
  val neardupMinhashLsh: Q = (s, d) => {
    val sh = cachedShingleHashes(s, d) // feeds signatures AND the verify step
    val sig = minhashSignatures(sh)
    // one explode pass over an array of (band, band_hash) structs — the
    // first cut unioned 16 per-band scans of the signature table, i.e. 16
    // passes over the aggregation output where one suffices
    val bandStructs = (0 until NumHashes / BandSize).map { b =>
      val cols = (b * BandSize until (b + 1) * BandSize).map(k => col(s"mh$k"))
      struct(lit(b).as("band"), xxhash64(cols: _*).as("band_hash"))
    }
    val bands = sig
      .select(col("doc_id"), explode(array(bandStructs: _*)).as("bb"))
      .select(col("doc_id"), col("bb.band").as("band"),
              col("bb.band_hash").as("band_hash"))
    val pairBands = bands.as("x")
      .join(bands.as("y"),
            col("x.band") === col("y.band") &&
            col("x.band_hash") === col("y.band_hash") &&
            col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("d1"), col("y.doc_id").as("d2"))
    // The 100 TB composition: LSH banding bounds WHICH pairs are candidates,
    // the per-doc budget ([[NeardupCapConf]]) bounds HOW MANY survive to the
    // exact verify even in the mega-cluster regime (c near-identical copies
    // ⇒ c²/2 band-colliding pairs). Weight = number of colliding bands, a
    // monotone Jaccard proxy (E[bands shared] = b·j^r) — same shuffle as the
    // distinct() form, the count is a map-side partial agg.
    val cap = graft.Confs.intConf(s, NeardupCapConf).getOrElse(0)
    // same mega-clique guardrail as the prefix path: exact (cap-off) runs
    // on big corpora check the enumeration bound before the verify join
    if (cap == 0 && estimatedShingleRows(s, d) >= NeardupPrefixMinShingles)
      guardCandidateVolume(s, d, sh)
    val candidates =
      if (cap > 0) capPairs(pairBands.groupBy("d1", "d2").agg(count(lit(1)).as("w")), cap)
      else pairBands.distinct()
    jaccardAtLeast(exactInter(candidates, sh), "d1", "d2", shingleSizes(s, d))
      .select(col("d1"), col("d2"), round(col("jac"), 6).as("jac6"))
  }

  val SimhashMaxHamming = 8

  /** 64-bit SimHash signatures per document. */
  def simhashSignatures(s: SparkSession, d: String): DataFrame = {
    val tok = tokens(s, d).select(col("doc_id"), explode(col("toks")).as("w"))
      .withColumn("h", xxhash64(col("w")))
    val bitCols = (0 until 64).map { i =>
      sum(when(col("h").bitwiseAND(lit(1L << i)) =!= 0, 1).otherwise(-1)).as(s"b$i")
    }
    val sums = tok.groupBy("doc_id").agg(bitCols.head, bitCols.tail: _*)
    val sig = (0 until 64).map { i =>
      when(col(s"b$i") > 0, lit(1L << i)).otherwise(lit(0L))
    }.reduce(_.bitwiseOR(_))
    sums.select(col("doc_id"), sig.as("simhash"))
  }

  /** The 64 signature bits partitioned into `nBands` non-empty contiguous
    * bands (widths differ by at most one bit). */
  private def bandMasksFor(nBands: Int): Seq[Long] = {
    val base = 64 / nBands
    val extra = 64 % nBands           // `extra` bands get one more bit
    val widths = Seq.tabulate(nBands)(b => base + (if (b < extra) 1 else 0))
    val los = widths.scanLeft(0)(_ + _).init
    widths.zip(los).map { case (w, lo) =>
      (if (w == 64) -1L else (1L << w) - 1) << lo
    }
  }

  /** MaxHamming+1 = 9 bands (one 8-bit + eight 7-bit, 64 = 8+8·7).
    * Pigeonhole guarantee: a pair with Hamming distance <= 8 differs in at
    * most 8 bands, so it must agree EXACTLY on at least one of the 9.
    * Exposed for the no-zero-mask test in LlmSpec. */
  def simhashBandMasks: Seq[Long] = bandMasksFor(SimhashMaxHamming + 1)

  /** MaxHamming+2 = 10 bands for the PAIR-KEY refinement (the Manku-style
    * table scheme): <= 8 differing bits dirty at most 8 of the 10 bands, so
    * at least TWO are clean and the pair agrees exactly on at least one of
    * the C(10,2) = 45 band pairs. A pair key carries 12-14 bits instead of
    * a single band's 7 — 2^13 vs 2^7 bucket values — so band-bucket join
    * collisions drop ~64x per table at the cost of 45/9 = 5x explode rows:
    * the right trade once collisions (Σ bucket², quadratic in n) dominate
    * the linear explode, i.e. on large corpora. Found by the round-12 k=64
    * probe: the single-band join measured 320x on 64x data (bucket size
    * n/128 grows linearly — the fixed-bucket disease). */
  def simhashBandMasks10: Seq[Long] = bandMasksFor(SimhashMaxHamming + 2)

  /** SimHash near pairs at Hamming distance <= 8, via pigeonhole banding:
    * split the 64-bit signature into MaxHamming+1 = 9 non-empty bands — a
    * pair within distance 8 MUST agree exactly on at least one band, so
    * candidates come from 9 equi-joins on (band_id, band_bits) instead of
    * the all-pairs cross join, and each candidate is verified with the true
    * bit_count. Output identical to the quadratic formulation (unit-tested);
    * rows-only for the driver (xxhash64 has no DuckDB twin). */
  /** Corpus size at which the pair-key (45-table) candidate scheme beats
    * single-band: collisions Σ bucket² grow quadratically while the extra
    * explode volume is linear, so the crossover is early; 100k keeps every
    * fixture on the historical single-band plan (spec pins both == the
    * quadratic reference). */
  val SimhashPairKeyMinDocs = 100000L

  /** One join-key struct per guaranteed-clean-band combination: with
    * `masks.length` bands and at most [[SimhashMaxHamming]] dirty bits,
    * any combination size c <= masks.length - MaxHamming is lossless by
    * pigeonhole — some c-subset of bands is fully clean, so the pair
    * agrees exactly on that combination's concatenated bits. */
  private def comboKeyStructs(masks: Seq[Long], c: Int): Seq[Column] =
    masks.indices.combinations(c).toSeq.zipWithIndex.map { case (combo, id) =>
      val m = combo.map(masks).reduce(_ | _)
      struct(lit(id).as("band"),
             col("simhash").bitwiseAND(lit(m)).as("band_bits"))
    }

  /** Shared candidate machinery: band / band-pair keyed self-join + exact
    * bit_count verify. Both key schemes are LOSSLESS (pigeonhole over
    * `cleanBands` = 1, 2 guaranteed-clean bands of 9/10), so output is
    * identical — only candidate volume differs. A band-triple rung (11
    * bands, 165 tables) lost to band pairs at every probe depth (3.3× at
    * 64×, 5.9× at 512×; BASELINE.md) and is gone. */
  def simhashPairsAt(s: SparkSession, d: String, cleanBands: Int): DataFrame = {
    // cache: the 64-accumulator signature aggregation feeds both join sides
    // and all bands — computing it once matters more than anything downstream
    val sigs = simhashSignatures(s, d).transform(graft.Caching.cachedOnce)
    val keyStructs = cleanBands match {
      case 1 => comboKeyStructs(simhashBandMasks, 1)    //  9 tables, ~7-bit keys
      case 2 => comboKeyStructs(simhashBandMasks10, 2)  // 45 tables, 12-14-bit keys
      case other => throw new IllegalArgumentException(
        s"cleanBands must be 1 or 2 (got $other)")
    }
    val banded = sigs.select(col("doc_id"), col("simhash"),
        explode(array(keyStructs: _*)).as("bb"))
      .select(col("doc_id"), col("simhash"),
              col("bb.band").as("band"), col("bb.band_bits").as("band_bits"))
    // The banded side is the corpus EXPLODED 45× — size estimates on a
    // Generate output are unreliable, and at the 64× probe AQE chose to
    // BROADCAST it (52.8M rows: OOM on an 8 GB heap, 191× wall on 32 GB vs
    // 56.9× with the broadcast suppressed — measured round 13). On the scale
    // rungs pin the sort-merge join (64×: merge 61.5 s vs shuffled-hash
    // 72.9 s vs broadcast 108 s — building per-partition hash maps of an
    // exploded side loses to streaming sorted runs); the single-band
    // fixture plan (small corpora by the auto-select) is untouched, where
    // a broadcast genuinely wins.
    val rhs = if (cleanBands >= 2) banded.as("y").hint("merge")
              else banded.as("y")
    banded.as("x")
      .join(rhs,
            col("x.band") === col("y.band") &&
            col("x.band_bits") === col("y.band_bits") &&
            col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("d1"), col("y.doc_id").as("d2"),
              expr("bit_count(x.simhash ^ y.simhash)").as("hamming"))
      .distinct()
      .where(col("hamming") <= SimhashMaxHamming)
      .orderBy("d1", "d2")
  }

  val simhash: Q = (s, d) => {
    // size the key scheme from the parquet footer row count — the
    // fixture floor keeps every test corpus on the historical single-band
    // plan, the probe regimes climb to the pair-key rung
    val n = Tables.countOf(s, d, "documents")
    simhashPairsAt(s, d, if (n >= SimhashPairKeyMinDocs) 2 else 1)
  }

  /** Quadratic reference formulation for the banding equivalence test. */
  def simhashAllPairs(s: SparkSession, d: String): DataFrame = {
    val sigs = simhashSignatures(s, d)
    sigs.as("x").join(sigs.as("y"), col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("d1"), col("y.doc_id").as("d2"),
              expr("bit_count(x.simhash ^ y.simhash)").as("hamming"))
      .where(col("hamming") <= SimhashMaxHamming)
      .orderBy("d1", "d2")
  }

  val SpanTokens = 8
  /** Second span granularity (VERDICT r4 #7): the same pipeline at paragraph
    * scale. Both widths run through ONE parameterized builder — the design
    * generalizes to any width; only the constant changes. */
  val SpanTokensWide = 16

  /** Span-level (substring) dedup analysis, the public "Deduplicating
    * Training Data Makes Language Models Better" shape at token-span
    * granularity: for every document, how many of its w-token span positions
    * also occur verbatim in ANOTHER document, the duplicated fraction, and a
    * keep flag (drop docs that are mostly recycled text). Document-level
    * dedup cannot see this: two distinct documents sharing a boilerplate
    * paragraph both survive exact AND near-dup, yet the paragraph is
    * training-set duplication.
    *
    * Scale: spans are shuffled as digests, never as text. Round 19 tightened
    * the digest from the md5 HEX STRING (32 chars ≈ 48+ bytes per UTF8String
    * row) to xxhash64 of the span text — 8 fixed bytes — applying the
    * round-18 shingle-digest principle to the span family: the digest never
    * appears in the output (only per-doc counts do), so equality of
    * xxhash64(span) and equality of md5(span) produce identical results
    * modulo a ~n²·2⁻⁶⁴ collision term, the same accepted bound as
    * [[shingleHashes]], and the md5-exact DuckDB oracle re-proves value
    * equality every round. xxhash64 is also markedly cheaper per span than
    * md5 in the hot explode stage. Two shuffles total: span-digest →
    * distinct-doc count, then the doc_id re-aggregation; both
    * hash-partitioned, no driver materialization.
    */
  def substringDedupAt(w: Int): Q = (s, d) => {
    val t = tokens(s, d).where(size(col("toks")) >= w)
    // the tokenization + per-position digest explode is the expensive narrow
    // stage and feeds BOTH the shared-gram aggregation and the join back —
    // materialize it once
    val spans = t.select(col("doc_id"),
      explode(Text.grams(col("toks"), w, xxhash64(_))).as("g"))
      .transform(graft.Caching.cachedOnce)
    val shared = spans.groupBy("g")
      .agg(countDistinct(col("doc_id")).as("nd"))
      .where(col("nd") >= 2)
      .select("g")
    val dup = spans.join(shared, "g")
      .groupBy("doc_id").agg(count(lit(1)).as("dup_spans"))
    // round 19: n_spans is the per-doc row count of the cached spans frame
    // (every qualifying doc emits exactly size-w+1 span rows), so the base
    // table derives from the SAME materialization instead of a second
    // full-text tokenize scan — the query's corpus passes drop to one.
    spans.groupBy("doc_id").agg(count(lit(1)).as("n_spans"))
      .join(dup, Seq("doc_id"), "left")
      .withColumn("dup_spans", coalesce(col("dup_spans"), lit(0L)))
      .withColumn("dup_frac", graft.Dsl.round6(col("dup_spans").cast("double") / col("n_spans")))
      .withColumn("keep", (col("dup_frac") <= 0.5).cast("int"))
      .select("doc_id", "n_spans", "dup_spans", "dup_frac", "keep")
  }

  val substringDedup: Q = substringDedupAt(SpanTokens)

  def substringDedupSqlAt(w: Int): String =
    s"""WITH toks AS (
       |  SELECT doc_id, ${Text.wordsSql("text")} AS t
       |  FROM documents),
       |spans AS (
       |  SELECT doc_id, md5(array_to_string(t[i:i+${w - 1}], ' ')) AS g
       |  FROM toks, unnest(generate_series(1, len(t) - ${w - 1})) AS gs(i)
       |  WHERE len(t) >= $w),
       |shared AS (SELECT g FROM spans GROUP BY g HAVING count(DISTINCT doc_id) >= 2),
       |dup AS (SELECT doc_id, count(*) AS dup_spans
       |        FROM spans JOIN shared USING (g) GROUP BY doc_id),
       |base AS (SELECT doc_id, cast(len(t) - ${w - 1} as bigint) AS n_spans
       |         FROM toks WHERE len(t) >= $w)
       |SELECT doc_id, n_spans, dup_spans, dup_frac,
       |  cast(CASE WHEN dup_frac <= 0.5 THEN 1 ELSE 0 END as int) AS keep
       |FROM (
       |  SELECT b.doc_id, b.n_spans,
       |    cast(coalesce(dup_spans, 0) as bigint) AS dup_spans,
       |    ${graft.Dsl.round6Sql("cast(coalesce(dup_spans, 0) as double) / n_spans")} AS dup_frac
       |  FROM base b LEFT JOIN dup USING (doc_id))""".stripMargin

  val substringDedupSql: String = substringDedupSqlAt(SpanTokens)

  val WinnowWindow = 4

  /** Winnowing fingerprint selection (the public MOSS local-fingerprinting
    * algorithm): hash every positional 5-gram shingle, slide a window of 4
    * over the hash sequence, keep each window's minimum — guaranteeing at
    * least one fingerprint per window so any sufficiently long shared
    * passage yields a shared fingerprint, while storing only ~2/(w+1) of the
    * hashes. Output per doc: selected-fingerprint count, density, and the
    * min/max selected digest (stable scalars for the hash-compare).
    *
    * Scale: the hash sequence is ONE per-row HOF pass (materialized before
    * use — nesting it inside the window lambda re-evaluates the whole O(n)
    * md5 array per window position, i.e. O(n²) digests per doc; measured
    * 68 s → 1 s at sf0.1), then positions explode and the sliding minimum
    * is a doc_id-partitioned ROWS-frame window — one shuffle, linear work,
    * and long documents parallelize across their positions instead of
    * serializing inside one row. The fingerprint → posting-list index this
    * feeds is llm_inverted_index's shape. */
  val winnowFingerprint: Q = (s, d) => {
    val t = tokens(s, d).where(size(col("toks")) >= 5 + WinnowWindow - 1)
    val hs = Text.grams(col("toks"), 5, md5)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("j"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.currentRow,
                   WinnowWindow - 1)
    t.select(col("doc_id"),
             (size(col("toks")) - 4).cast("bigint").as("n_shingles"),
             posexplode(hs).as(Seq("j", "h")))
      .withColumn("wmin", min(col("h")).over(w))
      .where(col("j") <= col("n_shingles") - WinnowWindow)
      .groupBy("doc_id", "n_shingles")
      .agg(countDistinct(col("wmin")).as("n_fps"),
           min(col("wmin")).as("fp_min"), max(col("wmin")).as("fp_max"))
      .select(col("doc_id"), col("n_shingles"), col("n_fps"),
              graft.Dsl.round6(col("n_fps").cast("double") / col("n_shingles")).as("density"),
              col("fp_min"), col("fp_max"))
  }

  val winnowFingerprintSql: String =
    s"""WITH toks AS (
       |  SELECT doc_id, ${Text.wordsSql("text")} AS t
       |  FROM documents),
       |hs AS (
       |  SELECT doc_id, len(t) - 4 AS n_shingles,
       |    list_transform(range(1, len(t) - 3),
       |                   i -> md5(array_to_string(t[i:i+4], ' '))) AS h
       |  FROM toks WHERE len(t) >= ${5 + WinnowWindow - 1}),
       |sel AS (
       |  SELECT doc_id, n_shingles,
       |    list_distinct(list_transform(range(1, len(h) - ${WinnowWindow - 2}),
       |                  j -> list_min(h[j:j+${WinnowWindow - 1}]))) AS fps
       |  FROM hs)
       |SELECT doc_id, cast(n_shingles as bigint) AS n_shingles,
       |  cast(len(fps) as bigint) AS n_fps,
       |  ${graft.Dsl.round6Sql("cast(len(fps) as double) / n_shingles")} AS density,
       |  list_min(fps) AS fp_min, list_max(fps) AS fp_max
       |FROM sel""".stripMargin

  /** Min-hash content fingerprint per doc (winnowing-style: min of shingle
    * digests) — md5-based so DuckDB can reproduce it. */
  val fingerprint: Q = (s, d) =>
    shingles(s, d)
      .groupBy("doc_id")
      .agg(min(md5(col("sh"))).as("fp"), count(lit(1)).as("n_sh"))
      .select(col("doc_id"), substring(col("fp"), 1, 16).as("fp16"), col("n_sh"))

  val fingerprintSql: String =
    s"""WITH $shinglesSqlCte
       |SELECT doc_id, substring(min(md5(sh)), 1, 16) AS fp16, count(*) AS n_sh
       |FROM shingles
       |GROUP BY doc_id""".stripMargin

  val MinhashEstK = 32

  /** Prime just below 2^57: keeps `a + k*b` under 2^63 for k < 32, so the
    * double-hashing arithmetic is exact signed-64 in BOTH engines (Spark
    * would wrap silently on overflow; DuckDB would error). */
  val MinhashEstPrime = 144115188075855859L

  /** MinHash as a Jaccard ESTIMATOR, with its error measured against the
    * exact value on the true near-dup pairs: per doc, K=32 min-hash
    * components; the estimate for a pair is the fraction of agreeing
    * components (E[est] = J by the MinHash property). The K functions are
    * Kirsch–Mitzenmacher double hashing — h_k = (a + k·b) mod P with (a, b)
    * the two 60-bit halves of ONE md5 per shingle — so the per-shingle cost
    * is one digest + K integer ops instead of K digests (measured 7→1 s at
    * sf0.1), and md5 keeps the whole thing — signatures, estimates, errors —
    * DuckDB-oracle-checkable, unlike the rows-only LSH operators.
    * Scale: signatures are ONE groupBy over the hashed shingle rows with K
    * min-aggregate columns (map-side partial mins, same K-column pattern as
    * the LSH banding signatures above — no K-fold row explode); estimation
    * touches only the candidate pairs. */
  val minhashEstimate: Q = (s, d) => {
    val hashed = shingles(s, d).select(col("doc_id"),
      conv(substring(md5(col("sh")), 1, 15), 16, 10).cast("bigint").as("a"),
      (conv(substring(md5(col("sh")), 16, 15), 16, 10).cast("bigint")
        % MinhashEstPrime).as("b"))
    // K signature slots as K min-aggregate COLUMNS over the shingle rows —
    // the explode(0..K-1) spelling pushed shingles×K generator rows through
    // the hash aggregate (24M at sf0.1); this keeps the row count at the
    // shingle count (partial agg updates K accumulators per row map-side)
    // and unpivots the doc×K wide result afterwards — identical (doc, k,
    // min) triples, same downstream join and oracle
    val sigCols = (0 until MinhashEstK).map(k =>
      min((col("a") + lit(k) * col("b")) % MinhashEstPrime).as(s"mh$k"))
    // both estimator join sides (d1, d2) consume this frame — materialize
    // the K·docs signature rows once (round 19, full-suite audit: the
    // shingle → md5 → K-min-agg pipeline ran twice, one per join side)
    val sigs = hashed.groupBy("doc_id")
      .agg(sigCols.head, sigCols.tail: _*)
      .select(col("doc_id"),
        posexplode(array((0 until MinhashEstK).map(k => col(s"mh$k")): _*))
          .as(Seq("k", "mh")))
      .transform(graft.Caching.cachedOnce)
    val pairs = neardupPairs(s, d).select("d1", "d2", "jac6")
    pairs
      .join(sigs.select(col("doc_id").as("d1"), col("k"), col("mh").as("h1")), Seq("d1"))
      .join(sigs.select(col("doc_id").as("d2"), col("k"), col("mh").as("h2")),
            Seq("d2", "k"))
      .groupBy("d1", "d2", "jac6")
      .agg((sum(when(col("h1") === col("h2"), 1).otherwise(0)).cast("double")
              / MinhashEstK).as("est"))
      .select(col("d1"), col("d2"), col("jac6"),
              round(col("est"), 6).as("est6"),
              round(col("est") - col("jac6"), 6).as("err6"))
  }

  val minhashEstimateSql: String =
    s"""WITH $shinglesSqlCte,
       |sizes AS (SELECT doc_id, count(*) AS n_sh FROM shingles GROUP BY doc_id),
       |inter AS (
       |  SELECT x.doc_id AS d1, y.doc_id AS d2, count(*) AS inter
       |  FROM shingles x JOIN shingles y ON x.sh = y.sh AND x.doc_id < y.doc_id
       |  GROUP BY 1, 2),
       |pairs AS (
       |  SELECT d1, d2,
       |    round(cast(inter as double) / (s1.n_sh + s2.n_sh - inter), 6) AS jac6
       |  FROM inter
       |  JOIN sizes s1 ON s1.doc_id = d1
       |  JOIN sizes s2 ON s2.doc_id = d2
       |  WHERE cast(inter as double) / (s1.n_sh + s2.n_sh - inter) >= $JaccardThreshold),
       |hashed AS (
       |  SELECT doc_id,
       |    cast(('0x' || substr(md5(sh), 1, 15)) as bigint) AS a,
       |    cast(('0x' || substr(md5(sh), 16, 15)) as bigint) % $MinhashEstPrime AS b
       |  FROM shingles),
       |sigs AS (
       |  SELECT doc_id, g.k, min((a + g.k * b) % $MinhashEstPrime) AS mh
       |  FROM hashed, unnest(generate_series(0, ${MinhashEstK - 1})) AS g(k)
       |  GROUP BY doc_id, g.k),
       |est AS (
       |  SELECT p.d1, p.d2, p.jac6,
       |    cast(sum(CASE WHEN a.mh = b.mh THEN 1 ELSE 0 END) as double)
       |      / $MinhashEstK AS est
       |  FROM pairs p
       |  JOIN sigs a ON a.doc_id = p.d1
       |  JOIN sigs b ON b.doc_id = p.d2 AND b.k = a.k
       |  GROUP BY p.d1, p.d2, p.jac6)
       |SELECT d1, d2, jac6, round(est, 6) AS est6,
       |  round(est - jac6, 6) AS err6
       |FROM est""".stripMargin

  /** MinHash-LSH declares the same SEMANTICS as the exact operator (pairs at
    * Jaccard >= 0.8) — banding is only the physical candidate-generation
    * strategy, and every candidate is exact-verified. So the oracle is the
    * exact-Jaccard SQL projected to the LSH operator's (d1, d2, jac6) shape;
    * a banding recall miss would fail this hash-compare. */
  val neardupMinhashSql: String =
    s"""WITH $shinglesSqlCte,
       |sizes AS (SELECT doc_id, count(*) AS n_sh FROM shingles GROUP BY doc_id),
       |inter AS (
       |  SELECT x.doc_id AS d1, y.doc_id AS d2, count(*) AS inter
       |  FROM shingles x JOIN shingles y ON x.sh = y.sh AND x.doc_id < y.doc_id
       |  GROUP BY 1, 2)
       |SELECT d1, d2,
       |  round(cast(inter as double) / (s1.n_sh + s2.n_sh - inter), 6) AS jac6
       |FROM inter
       |JOIN sizes s1 ON s1.doc_id = d1
       |JOIN sizes s2 ON s2.doc_id = d2
       |WHERE cast(inter as double) / (s1.n_sh + s2.n_sh - inter) >= 0.8""".stripMargin

  /** Registered SORT-FREE (round 15, tranche 3): dedup outputs are keyed
    * verdicts — the trailing ORDER BY was comparator-only. Keys unique:
    * keep_id = min doc per sha256 group; (d1, d2) canonical pairs; doc_id
    * per-document rollups. llm_simhash keeps its sort: it has no oracle to
    * derive an ORDER BY for. Verify sorts the dump by these keys and the
    * oracle's ORDER BY is derived from them. */
  val ops: Seq[Op] = Seq(
    Op("llm_minhash_estimate", minhashEstimate, Sql(minhashEstimateSql), Seq("d1", "d2")),
    Op("llm_exact_dedup", exactDedup, Sql(exactDedupSql), Seq("keep_id")),
    Op("llm_neardup_pairs", neardupPairs, Sql(neardupPairsSql), Seq("d1", "d2")),
    Op("llm_neardup_capped", neardupCapped, Sql(neardupCappedSql), Seq("d1", "d2")),
    Op("llm_neardup_minhash", neardupMinhashLsh, Sql(neardupMinhashSql), Seq("d1", "d2")),
    Op("llm_simhash", simhash,
      NoOracle("graft.LlmSpec", "the signatures hash with xxhash64, which DuckDB lacks")),
    Op("llm_substring_dedup", substringDedup, Sql(substringDedupSql), Seq("doc_id")),
    Op("llm_substring_dedup_w16", substringDedupAt(SpanTokensWide),
      Sql(substringDedupSqlAt(SpanTokensWide)), Seq("doc_id")),
    Op("llm_winnow_fingerprint", winnowFingerprint, Sql(winnowFingerprintSql), Seq("doc_id")),
    Op("llm_fingerprint", fingerprint, Sql(fingerprintSql), Seq("doc_id")),
  )
}
