package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The k×-scaled fixture corpora every `graft.Dev` probe runs over
  * (`Dev scale`, `recall`, `ivf`, `bytes`, `stream`).
  *
  * Scaling preserves workload SHAPE instead of degenerating it:
  * - every id column is remapped per copy (id + copy·stride) so keys stay
  *   distinct and join fan-outs stay 1:1 with the original;
  * - document text gets a per-copy bijective token remap (copy tag on every
  *   token) so exact/near-dup structure replicates per copy with DISJOINT
  *   cross-copy shingles — a mere per-doc suffix token keeps ~all shingles
  *   shared across copies and manufactures k-member cross-copy near-dup
  *   clusters whose pair output grows quadratically (a DIFFERENT workload,
  *   not a bigger one; measured and recorded round 11);
  * - embeddings get a tiny per-copy deterministic rotation-free perturbation
  *   on one coordinate (cosine structure within a copy preserved).
  * - events/orders/lineitem timestamps are kept verbatim (density grows k×,
  *   the realistic shape for a busier system over the same wall-clock span).
  */
object ScaleProbe {
  private val idCols: Map[String, Seq[String]] = Map(
    "region" -> Seq("r_regionkey"),
    "nation" -> Seq("n_nationkey"),          // keep n_regionkey: dims replicate
    "customer" -> Seq("c_custkey"),
    "supplier" -> Seq("s_suppkey"),
    "part" -> Seq("p_partkey"),
    "orders" -> Seq("o_orderkey", "o_custkey"),
    "lineitem" -> Seq("l_orderkey", "l_partkey", "l_suppkey"),
    "events" -> Seq("event_id", "user_id"),
    "documents" -> Seq("doc_id"),
    "embeddings" -> Seq("vec_id")
  )
  // Dimension tables small enough that replicating them k× would change join
  // SEMANTICS (nation keys are foreign keys from customer/supplier); keep the
  // dims verbatim and scale only fact/corpus tables. Facts reference dims by
  // the ORIGINAL keys, so every copy joins exactly like the original.
  private val dims = Set("region", "nation")

  def scaleTable(spark: SparkSession, base: String, name: String, k: Int,
                 outDir: String, regime: String): Unit = {
    val df = Tables.table(spark, base, name)
    val out =
      // k == 1 goes through the SAME copy loop (one copy, i = 0): the
      // default per-copy perturbations are identity at i = 0, and the
      // REGIME transforms (randvec, hotkey) are copy-independent — so the
      // 1x anchor corpus sits in the same regime as the kx corpus instead
      // of silently keeping the untransformed fixture (round-15 review:
      // the randvec 1x recall rows had measured the STRUCTURED corpus).
      if (dims.contains(name)) df
      else {
        val stride = 1000000000L
        val copies = (0 until k).map { i =>
          val shifted = idCols(name).foldLeft(df) { (d, c) =>
            d.withColumn(c, col(c) + lit(i.toLong * stride))
          }
          val perturbed = name match {
            case "documents" =>
              // Per-copy BIJECTIVE token remap (append a copy tag to every
              // token): within-copy Jaccard/dup structure is preserved
              // exactly, and shingles are DISJOINT across copies. Round-11
              // fix — the previous spelling appended ONE suffix token per
              // doc, which left ~all word 5-gram shingles shared across
              // copies: every doc formed a k-member cross-copy near-dup
              // cluster (J ≈ 0.95), so candidate pairs and the exact-verify
              // shuffle grew QUADRATICALLY in k. That measured a degenerate
              // workload, not a bigger one (k=64: neardup 255.9×, minhash
              // 95.9×, 37 GB spill at k=128) — recorded in BASELINE.md as
              // the mega-cluster stress curve.
              // SPARK_GRAFT_SCALE_TRANSFORM=megacluster resurrects the OLD
              // degenerate transform (one suffix token per doc → every doc
              // becomes a k-member cross-copy near-dup cluster, pair output
              // quadratic in k) ON PURPOSE: it is the reproducible stress
              // corpus for the neardup candidate budget
              // (graft.llm.Dedup.NeardupCapConf). Default stays the
              // round-11 bijective remap that preserves workload shape.
              if (regime == "megacluster")
                shifted.withColumn("text",
                  if (i == 0) col("text")
                  else concat(col("text"), lit(s" graftcopytag$i")))
              else shifted.withColumn("text",
                if (i == 0) col("text")
                else regexp_replace(col("text"), "(\\S+)", "$1z" + i))
            case "embeddings" =>
              // SPARK_GRAFT_SCALE_TRANSFORM=randvec (round-15 recall audit):
              // replace every vector with a deterministic hash-derived
              // pseudo-random one — a corpus with NO neighborhood structure,
              // the known-hard ANN regime that brackets the default
              // transform's near-dup-heavy (easy-recall) regime from below.
              if (regime == "randvec")
                shifted.withColumn("embedding",
                  transform(col("embedding"), (v, j) =>
                    ((pmod(xxhash64(col("vec_id") * lit(64L) + j.cast("long")),
                           lit(2000001L)).cast("double") / lit(1000000.0)) - lit(1.0))
                      .cast("float")))
              else shifted.withColumn("embedding",
                transform(col("embedding"),
                  (v, j) => when(j === 0, v + lit(i.toFloat * 1e-4f)).otherwise(v)))
            case "events" if regime == "hotkey" =>
              // SPARK_GRAFT_SCALE_TRANSFORM=hotkey (round-15 validation item
              // 3): collapse every even event_id onto ONE global user —
              // ~50% of the scaled stream lands on a single key, the
              // worst-case skew for keyed-state operators (stream_asof_*
              // keyed by user_id funnel that half through one task and one
              // state partition). Evenness survives the copy-stride shift
              // (stride is even), so the hot share stays ~50% at every k.
              shifted.withColumn("user_id",
                when(col("event_id") % 2 === 0, lit(0L)).otherwise(col("user_id")))
            case _ => shifted
          }
          perturbed
        }
        copies.reduce(_ unionByName _)
      }
    out.write.mode("overwrite").parquet(s"$outDir/$name.parquet")
  }

  /** Build (or reuse) the 1× and k× corpora under `scratch`; returns
    * (oneDir, kDir).
    *
    * 1× goes through the same write path so both sides read identically
    * laid-out parquet (file counts, encoders) — the comparison then isolates
    * data volume, not storage layout.
    *
    * Env: SPARK_GRAFT_SCALE_TABLES (comma list; only these get the k×
    * treatment, rest land 1×), SPARK_GRAFT_SCALE_TRANSFORM (documents
    * transform selector), SPARK_GRAFT_SCALE_REUSE=1 skips tables whose
    * output dir already has a parquet _SUCCESS marker — at k≥64 the fixture
    * rewrite dominates probe wall-clock, and back-to-back probes of
    * different QUERIES on the same (k, tables, transform) corpus shouldn't
    * each pay it. Cache coherence is enforced by a manifest next to the
    * data (round-13 advisor: the dir name encodes only k, so a reuse with a
    * DIFFERENT scaled-table set or transform would silently probe a stale
    * corpus): the manifest records (base, scaled tables, transform) and a
    * mismatch under reuse forces a rewrite of that dir rather than a
    * wrong-looking ratio. */
  /** Same-JVM memoization of built corpus dirs (dir -> manifest): a multi-k
    * probe (`Dev recall 64,128`) otherwise rewrites the identical x1 dir
    * once per k even without SPARK_GRAFT_SCALE_REUSE. */
  private val builtInJvm = scala.collection.concurrent.TrieMap.empty[String, String]

  def buildCorpus(spark: SparkSession, base: String, k: Int, scratch: String,
                  env: Map[String, String] = sys.env): (String, String) = {
    val oneDir = s"$scratch/x1"
    val kDir = s"$scratch/x$k"
    val scaleOnly: Set[String] = env.get("SPARK_GRAFT_SCALE_TABLES")
      .map(_.split(",").map(_.trim).toSet).getOrElse(Tables.names.toSet)
    val reuse = env.get("SPARK_GRAFT_SCALE_REUSE").exists(_ == "1")
    val transform = env.getOrElse("SPARK_GRAFT_SCALE_TRANSFORM", "default")
    val manifest =
      s"base=$base\ntables=${scaleOnly.toSeq.sorted.mkString(",")}\ntransform=$transform\n"
    def manifestPath(dir: String) = java.nio.file.Paths.get(s"$dir/_graft_manifest")
    def manifestMatches(dir: String): Boolean =
      java.nio.file.Files.exists(manifestPath(dir)) &&
        java.nio.file.Files.readString(manifestPath(dir)) == manifest
    def written(dir: String, n: String): Boolean =
      java.nio.file.Files.exists(java.nio.file.Paths.get(s"$dir/$n.parquet/_SUCCESS"))
    Seq(oneDir, kDir).foreach { dir =>
      if (reuse && written(dir, Tables.names.head) && !manifestMatches(dir))
        System.err.println(s"[scaleprobe] $dir manifest mismatch — rewriting " +
          s"(existing corpus was built with different tables/transform)")
    }
    def reusable(dir: String, n: String): Boolean =
      (reuse && manifestMatches(dir) && written(dir, n)) ||
        (builtInJvm.get(dir).contains(manifest) && written(dir, n))
    Tables.names.foreach(n =>
      if (!reusable(oneDir, n)) scaleTable(spark, base, n, 1, oneDir, transform))
    // k = 1: kDir is oneDir, already written
    if (k > 1) Tables.names.foreach(n =>
      if (!reusable(kDir, n))
        scaleTable(spark, base, n, if (scaleOnly(n)) k else 1, kDir, transform))
    Seq(oneDir, kDir).foreach { dir =>
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
      java.nio.file.Files.writeString(manifestPath(dir), manifest)
      builtInJvm.put(dir, manifest)
    }
    (oneDir, kDir)
  }
}
