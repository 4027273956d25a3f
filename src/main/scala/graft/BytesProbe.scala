package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Dev-only shuffle-byte probe (round 20 — round-19 verdict item 4): the
  * round-19 digest rewrites of `llm_decontaminate_ngram` and
  * `llm_substring_dedup_w16` claimed their win in SHUFFLE BYTES (gram/span
  * strings → 8-byte xxhash64 digests), but the claim was arithmetic at
  * fixture scale, not measurement. This probe measures it: it runs the
  * CURRENT registered operator and the pre-round-19 LEGACY spelling
  * (reconstructed verbatim from the history) on k×-scaled document corpora
  * ([[ScaleProbe.buildCorpus]]), tallies `shuffleWriteMetrics` per run, and
  * checksums both outputs (row count and exact sum of row hashes) so the
  * before/after binaries are proven output-equal at every probed scale.
  *
  * Usage: `runMain graft.BytesProbe [k,k,...]` (default `8,64`).
  * Env: SPARK_GRAFT_SF_DIR (base fixtures), SPARK_GRAFT_SCALE_DIR (scratch),
  * SPARK_GRAFT_SCALE_TABLES should be `documents` (these queries read only
  * the corpus; scaling the other tables buys nothing but write time).
  * NOT part of the shipped library surface.
  */
object BytesProbe {
  private[graft] class ShuffleTally extends org.apache.spark.scheduler.SparkListener {
    val bytes = new java.util.concurrent.atomic.AtomicLong
    val recs = new java.util.concurrent.atomic.AtomicLong
    override def onTaskEnd(
        te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
      val m = te.taskMetrics
      if (m != null) {
        bytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        recs.addAndGet(m.shuffleWriteMetrics.recordsWritten)
      }
    }
    def reset(): Unit = { bytes.set(0); recs.set(0) }
  }

  /** Order-independent output digest: (row count, sum of row hashes) —
    * the combiner of `perfbench/Checksum`. The sum is exact in
    * decimal(38,0) (2^63 summed over 10^19 rows fits); an XOR would cancel
    * duplicate rows in pairs. Columns in sorted-name order. */
  private def checksum(df: DataFrame): (Long, java.math.BigDecimal) = {
    val cols = df.columns.sorted.map(c => col(c).cast("string"))
    val r = df.select(xxhash64(cols: _*).cast("decimal(38,0)").as("h"))
      .agg(count(lit(1)).as("n"),
           coalesce(sum(col("h")), lit(0).cast("decimal(38,0)")).as("x")).head()
    (r.getLong(0), r.getDecimal(1))
  }

  // ---- LEGACY spellings, verbatim from the pre-round-19 tree (df408bc^) ----

  /** Identical in both revisions ([[graft.llm.Curation]] keeps it private). */
  private def wordGrams(docs: DataFrame): DataFrame = {
    val n = graft.llm.Curation.DecontamNgramN
    graft.Caching.scatterIfNarrow(docs, col("doc_id"))
      .select(col("doc_id"), col("source"),
              filter(split(lower(col("text")), "\\s+"), t => t =!= "").as("t"))
      .where(size(col("t")) > 0)
      .select(col("doc_id"), col("source"),
        explode(when(size(col("t")) >= n,
            transform(sequence(lit(1), size(col("t")) - (n - 1)),
              i => concat_ws(" ", slice(col("t"), i, lit(n)))))
          .otherwise(array(concat_ws(" ", col("t"))))).as("g"))
  }

  /** Pre-round-19 `llm_decontaminate_ngram`: three gram-explode evaluations,
    * gram-TEXT join/agg keys. */
  private def legacyDecontaminateNgram(s: SparkSession, d: String): DataFrame = {
    val g = wordGrams(Tables.documents(s, d))
    val bench = g.where(col("source") === graft.llm.Curation.BenchmarkSource)
      .select(col("doc_id").as("bench_id"), col("g")).distinct()
    val train = g.where(col("source") =!= graft.llm.Curation.BenchmarkSource)
      .select(col("doc_id").as("train_id"), col("g"))
    val sizes = train.groupBy("train_id")
      .agg(countDistinct(col("g")).as("n_grams"))
    train.join(broadcast(bench), Seq("g"))
      .groupBy("train_id")
      .agg(countDistinct(col("g")).as("n_hit"),
           min(col("bench_id")).as("first_bench_id"))
      .join(sizes, "train_id")
      .withColumn("frac6",
        round(col("n_hit").cast("double") / col("n_grams"), 6))
      .select(col("train_id"), col("n_hit"), col("n_grams"), col("frac6"),
              col("first_bench_id"))
  }

  /** Pre-round-19 `llm_substring_dedup_w16`: md5 HEX-STRING span keys in the
    * cache and both shuffles, plus a second full-text tokenize for the base
    * table. */
  private def legacySubstringDedupAt(w: Int)(s: SparkSession, d: String): DataFrame = {
    val t = graft.llm.Dedup.tokens(s, d).where(size(col("toks")) >= w)
    val spans = t.select(col("doc_id"),
      explode(transform(sequence(lit(1), size(col("toks")) - (w - 1)),
        i => md5(concat_ws(" ", slice(col("toks"), i, lit(w)))))).as("g"))
      .transform(graft.Caching.cachedOnce)
    val shared = spans.groupBy("g")
      .agg(countDistinct(col("doc_id")).as("nd"))
      .where(col("nd") >= 2)
      .select("g")
    val dup = spans.join(shared, "g")
      .groupBy("doc_id").agg(count(lit(1)).as("dup_spans"))
    t.select(col("doc_id"),
        (size(col("toks")) - (w - 1)).cast("bigint").as("n_spans"))
      .join(dup, Seq("doc_id"), "left")
      .withColumn("dup_spans", coalesce(col("dup_spans"), lit(0L)))
      .withColumn("dup_frac", graft.Dsl.round6(col("dup_spans").cast("double") / col("n_spans")))
      .withColumn("keep", (col("dup_frac") <= 0.5).cast("int"))
      .select("doc_id", "n_spans", "dup_spans", "dup_frac", "keep")
  }

  def main(args: Array[String]): Unit = {
    val ks = args.headOption.getOrElse("8,64").split(",").map(_.trim.toInt).toSeq
    val base = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val scratch = sys.env.getOrElse("SPARK_GRAFT_SCALE_DIR", "/tmp/graft_bytesprobe")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "256k")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val tally = new ShuffleTally
    spark.sparkContext.addSparkListener(tally)

    val probes: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
      "decontam_ngram:current" -> graft.llm.Curation.decontaminateNgram,
      "decontam_ngram:legacy" -> legacyDecontaminateNgram,
      "substring_w16:current" -> graft.llm.Dedup.substringDedupAt(graft.llm.Dedup.SpanTokensWide),
      "substring_w16:legacy" -> legacySubstringDedupAt(graft.llm.Dedup.SpanTokensWide))

    for (k <- ks) {
      val (_, kDir) = ScaleProbe.buildCorpus(spark, base, k, scratch)
      for ((label, fn) <- probes) {
        spark.catalog.clearCache()
        System.gc(); Thread.sleep(1500) // release dead shuffle files
        tally.reset()
        val t0 = System.nanoTime()
        fn(spark, kDir).write.format("noop").mode("overwrite").save()
        val wall = (System.nanoTime() - t0) / 1e9
        val (b, r) = (tally.bytes.get, tally.recs.get)
        val (n, cs) = checksum(fn(spark, kDir))
        println(f"[bytesprobe] k=$k%-4d $label%-24s wall=$wall%8.2fs " +
          f"shufMB=${b / 1e6}%10.1f shufRows=$r%12d rows=$n%9d checksum=$cs%22s")
      }
    }
    spark.stop()
  }
}
