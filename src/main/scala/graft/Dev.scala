package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.scheduler._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import scala.collection.mutable
import graft.streaming.{AsofStreamRow, EpochAsof, StreamNeardup, StreamSemdedup, Streams}

/** The dev harness: one main for the measurement tools behind BASELINE.md's
  * probe cells. NOT part of the shipped library surface.
  *
  * {{{
  * scale   [k] [name,...]             t(k×)/t(1×) per registered query, spill, peak task memory
  * recall  [k,...] [name,...]         ANN recall_at_k over the full k× query set (audit ON)
  * ivf     <dir>... | --k K [--time]  IVF locality advisory per corpus; --time: advise vs apply
  * stream  asof [k] [config,...] [widthSec]
  * stream  neardup [k]
  * stream  neardup-hot [c] [cap] [off,cap]
  * stream  semdedup [k] [exact,default]
  * plans   <sfDir>                    regenerate the plans of PLANS.md's curated sections
  * plans   <sfDir> <outDir> <suffix> [name,...|ALL]  one raw plan file per query
  * profile <name> [passes]            per-job / per-stage wall time of one query
  * bytes   [k,...]                    shuffle bytes of the digest-keyed text queries
  * }}}
  *
  * Env: SPARK_GRAFT_SF_DIR (base fixtures, required),
  * SPARK_GRAFT_SCALE_DIR (scratch, default /tmp/graft_scaleprobe), the corpus
  * selectors of [[ScaleProbe.buildCorpus]] (SPARK_GRAFT_SCALE_TABLES,
  * SPARK_GRAFT_SCALE_TRANSFORM, SPARK_GRAFT_SCALE_REUSE),
  * SPARK_GRAFT_SCALE_PASSES (scale, default 3), SPARK_GRAFT_STREAM_SLICES
  * (default 8; asof 16), SPARK_GRAFT_STREAM_SPARSEDIMS and
  * SPARK_GRAFT_STREAM_WM_DELAY (asof). The session is [[Sessions.builder]]'s,
  * so SPARK_GRAFT_CPUS and SPARK_GRAFT_EXTRA_CONF apply (e.g.
  * `spark.graft.neardup.maxPairsPerDoc=m` for the mega-cluster containment
  * run). */
object Dev {
  def main(args: Array[String]): Unit = {
    val spark = Sessions.builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try run(spark, args.toSeq) finally spark.stop()
  }

  def run(spark: SparkSession, args: Seq[String],
          env: Map[String, String] = sys.env): Unit = {
    val rest = args.drop(1)
    args.headOption match {
      case Some("scale") => withCtx(spark, env)(scale(_, rest))
      case Some("recall") => withCtx(spark, env)(recall(_, rest))
      case Some("ivf") => withCtx(spark, env)(ivf(_, rest))
      case Some("stream") => stream(spark, rest, env); ()
      case Some("plans") => plans(spark, rest)
      case Some("profile") => withCtx(spark, env)(profile(_, rest))
      case Some("bytes") => withCtx(spark, env)(bytes(_, rest))
      case other => sys.error(s"unknown subcommand ${other.getOrElse("(none)")}: " +
        "expected scale|recall|ivf|stream|plans|profile|bytes (see graft.Dev)")
    }
  }

  private final case class Job(id: Int, start: Long, var end: Long = 0L,
                               stages: mutable.Buffer[String] = mutable.Buffer())

  /** One dev listener for every subcommand: task-level shuffle-write bytes
    * and records, spill to disk and memory, and peak task execution memory
    * since the last reset, plus per-job and per-stage wall time. */
  final class DevListener extends SparkListener {
    val shuffleBytes, shuffleRecords, spillDisk, spillMem, peakMem =
      new java.util.concurrent.atomic.AtomicLong
    private val jobs = mutable.LinkedHashMap.empty[Int, Job]
    private val stageJob = mutable.Map.empty[Int, Int]

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(e.taskMetrics).foreach { m =>
        shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        shuffleRecords.addAndGet(m.shuffleWriteMetrics.recordsWritten)
        spillDisk.addAndGet(m.diskBytesSpilled)
        spillMem.addAndGet(m.memoryBytesSpilled)
        peakMem.getAndUpdate(p => math.max(p, m.peakExecutionMemory))
      }
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      jobs(e.jobId) = Job(e.jobId, e.time)
      e.stageIds.foreach(stageJob(_) = e.jobId)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobs.get(e.jobId).foreach(_.end = e.time)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      val si = e.stageInfo
      val dur = for (a <- si.submissionTime; b <- si.completionTime) yield b - a
      jobs.get(stageJob.getOrElse(si.stageId, -1)).foreach(_.stages +=
        f"    stage ${si.stageId}%3d ${dur.getOrElse(-1L)}%5d ms " +
        f"tasks=${si.numTasks}%3d  ${si.name.take(90)}")
    }

    def reset(): Unit = synchronized {
      Seq(shuffleBytes, shuffleRecords, spillDisk, spillMem, peakMem).foreach(_.set(0))
      jobs.clear(); stageJob.clear()
    }
    /** Report lines per job with its stages, and the summed job wall time. */
    def jobReport: (Seq[String], Long) = synchronized {
      val lines = jobs.values.toSeq.flatMap(j => f"  job ${j.id}%3d  ${j.end - j.start}%5d ms" +: j.stages.toSeq)
      (lines, jobs.values.map(j => j.end - j.start).sum)
    }
    def memReport: String =
      f"spill disk=${spillDisk.get / 1e6}%.0f MB mem=${spillMem.get / 1e6}%.0f MB " +
      f"peakTask=${peakMem.get / 1e6}%.1f MB"
  }

  /** Order-independent output digest: (row count, exact sum of each row's
    * xxhash64 over `cols`) — the combiner of `perfbench/Checksum`. The sum
    * is a decimal(38,0), exact for 2^63 summed over 10^19 rows; an XOR
    * would cancel duplicate rows in pairs. */
  def checksum(df: DataFrame, cols: Seq[String]): (Long, java.math.BigDecimal) = {
    val r = df.agg(count(lit(1)), coalesce(
      sum(xxhash64(cols.map(col): _*).cast("decimal(38,0)")),
      lit(0).cast("decimal(38,0)"))).head()
    (r.getLong(0), r.getDecimal(1))
  }

  /** Per-run settings: the env the subcommand reads and the listener it reports from. */
  private final class Ctx(val spark: SparkSession, val env: Map[String, String]) {
    val tally = new DevListener
    lazy val base: String = env.getOrElse("SPARK_GRAFT_SF_DIR",
      sys.error("set SPARK_GRAFT_SF_DIR to the base fixtures dir"))
    val scratch: String = env.getOrElse("SPARK_GRAFT_SCALE_DIR", "/tmp/graft_scaleprobe")
    def int(key: String, default: Int): Int = env.get(key).map(_.toInt).getOrElse(default)
    def corpus(k: Int): (String, String) = ScaleProbe.buildCorpus(spark, base, k, scratch, env)
  }

  private def withCtx[A](spark: SparkSession, env: Map[String, String])(body: Ctx => A): A = {
    val ctx = new Ctx(spark, env)
    spark.sparkContext.addSparkListener(ctx.tally)
    try body(ctx) finally spark.sparkContext.removeSparkListener(ctx.tally)
  }

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
  private def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9
  private def csv(s: String): Seq[String] = s.split(",").map(_.trim).filter(_.nonEmpty).toSeq

  // ---- scale: t(k×)/t(1×) per registered query ---------------------------

  /** Near-linear ratios are the empirical check behind SURVEY §7.5's "every
    * plan shuffles on its keys and scales out" claim; a super-linear ratio is
    * a scale bug, measured rather than argued. The B×B vector kernels are
    * O(n²/B) by declared spec with B a session conf that grows with the
    * corpus, so B ∝ k here (the documented scale path). */
  private def scale(ctx: Ctx, args: Seq[String]): Unit = {
    val spark = ctx.spark
    val k = args.headOption.map(_.toInt).getOrElse(8)
    val names = args.lift(1).map(csv).getOrElse(Seq(
      "agg_hash_group", "join_inner_hash", "sort_global", "mr_wordcount",
      "window_ranking", "topk_per_group", "llm_exact_dedup",
      "llm_neardup_pairs", "llm_dedup_clusters", "llm_minhash_estimate",
      "llm_simsearch_topk", "llm_tfidf", "llm_bm25", "llm_pipeline_e2e",
      "stream_session"))
    sys.props("graft.ann.recall") = "0"
    val (oneDir, kDir) = ctx.corpus(k)
    // SPARK_GRAFT_SCALE_PASSES trims the per-query sample count for probes
    // whose single run is minutes long (k=512 simhash crossover).
    val passes = ctx.int("SPARK_GRAFT_SCALE_PASSES", 3)
    def bestOf(body: => Unit): Double =
      (1 to passes).map { _ => val t0 = System.nanoTime(); body; secs(t0) }.min
    // Shuffle-file reclamation BETWEEN timing phases (round 15): a probe JVM
    // with a 48-80 GiB heap almost never GCs, so the weak-ref ContextCleaner
    // never releases finished-pass shuffle files — at k=512 they filled the
    // DISK mid-probe. periodicGC.interval was REJECTED: a timer-driven full
    // GC of a mega-heap lands inside timed passes (measured 1.25 s → 16.7 s).
    // The sleep lets the cleaner's async deletion drain.
    def reclaimShuffles(): Unit = { System.gc(); Thread.sleep(2000) }
    println(f"== Dev scale k=$k base=${ctx.base} ==")
    println(f"${"query"}%-22s ${"t(1x)"}%8s ${"t(kx)"}%8s ${"ratio"}%7s  (linear = $k.0)")
    names.filter(SparkEntry.queries.contains).foreach { name =>
      val fn = SparkEntry.queries(name)
      // rounds-at-depth for the iterative CC variants (the star variant's
      // reason to exist is its O(log n) round bound)
      def ccRounds(): Option[Int] = name match {
        case "llm_dedup_clusters" => Some(graft.llm.Curation.lastPropagationRounds)
        case "llm_dedup_clusters_star" => Some(graft.llm.Curation.lastStarRounds)
        case _ => None
      }
      def timeAt(dir: String, blocks: Int): Double = {
        spark.conf.set("spark.graft.vector.blocks", blocks.toString)
        try noop(fn(spark, dir)) catch { case _: Throwable => () } // warmup
        reclaimShuffles()
        ctx.tally.reset() // tally the timed passes only
        val t = bestOf(noop(fn(spark, dir)))
        reclaimShuffles()
        t
      }
      val t1 = timeAt(oneDir, 8)
      val rounds1 = ccRounds()
      val tk = timeAt(kDir, 8 * k)
      // row printed immediately: a later crash (an OOM on a heavier query)
      // must not lose the measurements already taken
      println(f"$name%-22s $t1%8.3f $tk%8.3f ${tk / t1}%7.2f  ${k}x ${ctx.tally.memReport}")
      for (r1 <- rounds1; rk <- ccRounds())
        println(s"  $name rounds: $r1 at 1x -> $rk at ${k}x")
      // cachedOnce entries hold strong refs to their full shuffle lineage via
      // the CacheManager, so GC alone can never release those files between
      // queries (at 512× the two CC variants' pinned pair chains exceeded the
      // disk); never dropped between a query's own phases.
      spark.catalog.clearCache()
      reclaimShuffles()
    }
  }

  // ---- recall: ANN recall_at_k at scale ----------------------------------

  /** `scale` times the ANN operators with the recall audit OFF; this is the
    * other half: the √n sizing (LSH planes = ⌈log₂√n⌉, IVF stride ≈ √n)
    * keeps runtime linear but shrinks the probed fraction as the corpus
    * grows, so recall is read over the full scaled query set (label=0). */
  private def recall(ctx: Ctx, args: Seq[String]): Unit = {
    val spark = ctx.spark
    val ks = args.headOption.map(csv(_).map(_.toInt)).getOrElse(Seq(64, 128))
    val names = args.lift(1).map(csv).getOrElse(Seq("llm_simsearch_lsh", "llm_simsearch_ivf"))
    if (!ctx.env.contains("SPARK_GRAFT_SCALE_TABLES"))
      sys.error("set SPARK_GRAFT_SCALE_TABLES (normally =embeddings): " +
        "building every table k× for an embeddings-only probe wastes minutes")
    // an inherited audit-off switch would otherwise surface as an opaque
    // missing-column AnalysisException deep in the first query
    if (sys.props.get("graft.ann.recall").orElse(
          ctx.env.get("SPARK_GRAFT_ANN_RECALL")).contains("0"))
      sys.error("the recall audit is disabled (graft.ann.recall=0 / " +
        "SPARK_GRAFT_ANN_RECALL=0) — unset it: `Dev recall` reads recall_at_k")
    println(f"== Dev recall base=${ctx.base} ==")
    println(f"${"query"}%-22s ${"k"}%5s ${"n"}%9s ${"queries"}%8s ${"lost"}%5s " +
      f"${"mean"}%7s ${"p10"}%7s ${"min"}%7s ${"secs"}%7s")
    def audit(name: String, dir: String, scale: Int): Unit = {
      val t0 = System.nanoTime()
      // one recall value per query, RIGHT-joined onto the full query set: a
      // query whose bucket/cells hold no other member emits ZERO result
      // rows, and dropping it would hide exactly the worst-recall queries
      val allQ = Tables.embeddings(spark, dir).where(col("label") === 0)
        .select(col("vec_id").as("q_id"))
      val r = SparkEntry.queries(name)(spark, dir)
        .select(col("q_id"), col("recall_at_k")).distinct()
        .join(allQ, Seq("q_id"), "right")
        .select(coalesce(col("recall_at_k"), lit(0.0)).as("r"),
                col("recall_at_k").isNull.cast("long").as("lostq"))
        .agg(count(lit(1)), sum("lostq"), avg("r"),
             expr("percentile(r, 0.10)"), min("r"))
        .head()
      val n = Tables.countOf(spark, dir, "embeddings")
      println(f"$name%-22s $scale%5d $n%9d ${r.getLong(0)}%8d ${r.getLong(1)}%5d " +
        f"${r.getDouble(2)}%7.4f ${r.getDouble(3)}%7.4f ${r.getDouble(4)}%7.4f ${secs(t0)}%7.1f")
    }
    ks.zipWithIndex.foreach { case (k, i) =>
      val (oneDir, kDir) = ctx.corpus(k)
      if (i == 0) names.foreach(audit(_, oneDir, 1))
      names.foreach(audit(_, kDir, k))
    }
  }

  // ---- ivf: the IVF locality advisory on real corpora --------------------

  /** Prints the derived probe count and the advisory outcome per corpus dir
    * (the synthetic fire/silent regimes are pinned in VectorSpec). `--k K`
    * builds or reuses the k× corpus first and checks its dir; `--time` adds
    * the apply-mode end-to-end measurement: the registered probe timed
    * under advise (derived np) vs apply (np=2 when sampled agreement is 1.0). */
  private def ivf(ctx: Ctx, args: Seq[String]): Unit = {
    import graft.llm.AnnIvf
    val spark = ctx.spark
    val time = args.contains("--time")
    val dirs = args.indexOf("--k") match {
      case -1 => args.filterNot(_ == "--time")
      case i => Seq(ctx.corpus(args(i + 1).toInt)._2)
    }
    sys.props("graft.ann.recall") = "0"
    dirs.foreach { d =>
      val stride = AnnIvf.strideFor(spark, d)
      val np = AnnIvf.numProbeFor(spark, d, stride)
      val n = Tables.countOf(spark, d, "embeddings")
      val t0 = System.nanoTime()
      val res = AnnIvf.adviseLocality(spark, d)
      println(f"[ivf] dir=$d n=$n stride=$stride derivedNp=$np wall=${secs(t0)}%.1fs -> " +
        res.fold("SILENT (derived np earning its cost)")(m => s"FIRES: $m"))
      if (time) {
        def timed(mode: Seq[(String, String)]): Double =
          Confs.withConf(spark, mode: _*) {
            val t = System.nanoTime(); noop(AnnIvf.ivfTopk(spark, d)); secs(t)
          }
        val apply = Seq(AnnIvf.AutoProbeConf -> "apply")
        timed(Nil) // warmup (JIT + page cache + advisory memo)
        val adv = math.min(timed(Nil), timed(Nil))
        val app = math.min(timed(apply), timed(apply))
        val effNp = Confs.withConf(spark, apply: _*)(AnnIvf.effectiveNumProbe(spark, d, stride, 5))
        println(f"[ivf] timed (best-of-2) advise=$adv%.2fs apply=$app%.2fs " +
          f"applyNp=$effNp (derived $np)")
      }
    }
  }

  // ---- stream: checkpointed RocksDB replays against their batch twins ----

  /** One streaming config: its tag, the session confs it runs under, and the
    * streaming operator over the replayed source. */
  private final case class Config(tag: String, conf: Seq[(String, String)],
                                  op: DataFrame => DataFrame)

  /** A streaming probe: the corpus dir its slices and outputs live under, its
    * batch twin over the same input, its configs, the checksum columns, and
    * the rows both checksums see. */
  private final case class Probe(name: String, dir: String, twin: () => DataFrame,
                                 configs: Seq[Config], cols: Seq[String],
                                 view: DataFrame => DataFrame = identity)

  /** A replayed config's checksum against its batch twin's. */
  final case class Cell(tag: String, got: (Long, java.math.BigDecimal),
                        ref: (Long, java.math.BigDecimal)) {
    def equal: Boolean = got == ref
  }

  private val TsBase = 1600000000000L

  /** `stream <probe> [args]`: replays a sliced corpus as a REAL checkpointed
    * RocksDB streaming query (file source, `maxFilesPerTrigger=1`) per
    * config, folds its `recentProgress` into state-size figures, and
    * checksums its output against the probe's batch twin computed on the
    * same input. */
  def stream(spark: SparkSession, args: Seq[String],
             env: Map[String, String] = sys.env): Seq[Cell] = withCtx(spark, env) { ctx =>
    def arg(i: Int, default: Int): Int = args.lift(i).map(_.toInt).getOrElse(default)
    val slices = ctx.int("SPARK_GRAFT_STREAM_SLICES", if (args.headOption.contains("asof")) 16 else 8)
    val probe = args.headOption match {
      case Some("asof") => asofProbe(ctx, arg(1, 64), args.lift(2).map(csv), arg(3, 3600), slices)
      case Some("neardup") => neardupProbe(ctx, arg(1, 64), slices)
      case Some("neardup-hot") => hotProbe(ctx, arg(1, 2000), arg(2, 16),
        args.lift(3).map(csv).getOrElse(Seq("off", "cap")), slices)
      case Some("semdedup") => semdedupProbe(ctx, arg(1, 64),
        args.lift(2).map(csv).getOrElse(Seq("exact", "default")), slices)
      case other => sys.error(s"unknown stream probe ${other.getOrElse("(none)")}: " +
        "expected asof|neardup|neardup-hot|semdedup")
    }
    replay(ctx, probe, slices)
  }

  private def replay(ctx: Ctx, p: Probe, slices: Int): Seq[Cell] = {
    val spark = ctx.spark
    val streamDir = s"${p.dir}/stream_s$slices"
    def digest(df: DataFrame) = checksum(p.view(df), p.cols)
    val t0 = System.nanoTime()
    // materialized inside the batch state-store scope (the as-of twin is a
    // batch transformWithState; for the others the scope is inert)
    val ref = Streams.scopedBatchTws(spark)(p.twin().localCheckpoint())
    val refChk = digest(ref)
    println(f"[stream ${p.name}] batch twin rows=${refChk._1} wall=${secs(t0)}%.1fs")
    val schema = spark.read.parquet(streamDir).schema
    p.configs.map { c =>
      val out = s"${p.dir}/out_s${slices}_${c.tag}"
      val ckpt = s"${p.dir}/ckpt_s${slices}_${c.tag}"
      Seq(out, ckpt).foreach(d => Util.deleteRecursively(new java.io.File(d)))
      val src = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).parquet(streamDir)
      val conf = c.conf ++ Seq(
        // the production state store the specs pin — not the default HDFS one
        "spark.sql.streaming.stateStore.providerClass" ->
          "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
        // the fold below reads q.recentProgress, which Spark caps at this
        // count (default 100): size the retention to the run
        "spark.sql.streaming.numRecentProgressUpdates" -> math.max(256, slices * 2 + 16).toString)
      val (wall, progress) = Confs.withConf(spark, conf: _*) {
        ctx.tally.reset()
        val t1 = System.nanoTime()
        val q = c.op(src).writeStream.format("parquet")
          .option("path", out).option("checkpointLocation", ckpt)
          .outputMode(org.apache.spark.sql.streaming.OutputMode.Append()).start()
        try { q.processAllAvailable(); (secs(t1), q.recentProgress) } finally q.stop()
      }
      // max over batches of the sum across the chained stateful operators;
      // RocksDB memoryUsedBytes is dominated by configured caches, so the
      // SST file size is the stored-payload figure — report both
      def peak(f: org.apache.spark.sql.streaming.StateOperatorProgress => Long): Long =
        progress.map(_.stateOperators.map(f).sum).foldLeft(0L)(math.max)
      val sst = peak(so => Option(so.customMetrics.get("rocksdbSstFileSize")).map(_.longValue).getOrElse(0L))
      // read BEFORE the checksum jobs, whose tasks would fold into the figures
      val mem = ctx.tally.memReport
      val got = spark.read.parquet(out)
      val cell = Cell(c.tag, digest(got), refChk)
      val agree = p.view(got).select(p.cols.map(col): _*)
        .intersectAll(p.view(ref).select(p.cols.map(col): _*)).count()
      println(f"[stream ${p.name}] ${c.tag}%-13s slices=$slices wall=$wall%7.1fs " +
        f"batches=${progress.length}%3d stateRows=${peak(_.numRowsTotal)}%9d " +
        f"stateMem=${peak(_.memoryUsedBytes) / 1e6}%8.1fMB sst=${sst / 1e6}%8.1fMB $mem " +
        f"rows=${cell.got._1} agree=$agree/${refChk._1} equal=${cell.equal}")
      cell
    }
  }

  /** Write `rows` as `slices` single-file parquet slices over equal ranges
    * of `key` in [lo, hi), then `tail` as one last slice, with sortable
    * names and increasing mtimes, so a `maxFilesPerTrigger=1` file source
    * replays them in key (= event-time) order. A complete dir is reused. */
  private def writeSlices(rows: DataFrame, key: Column, lo: Long, hi: Long,
                          slices: Int, dir: String, tail: Option[DataFrame] = None): Unit = {
    val parts = (0 until slices).map { i =>
      rows.where(key >= lo + (hi - lo) * i / slices && key < lo + (hi - lo) * (i + 1) / slices)
    } ++ tail
    if (Files.exists(Paths.get(f"$dir/slice_${parts.size}%04d.parquet"))) {
      System.err.println(s"[stream] reusing $dir")
      return
    }
    Util.deleteRecursively(new java.io.File(dir))
    val tmp = s"$dir/_build"
    parts.zipWithIndex.foreach { case (df, i) =>
      df.coalesce(1).write.mode("overwrite").parquet(tmp)
      val listing = Files.list(Paths.get(tmp)) // holds a DirectoryStream: close it
      val part =
        try listing.filter(_.getFileName.toString.startsWith("part-")).findFirst().get()
        finally listing.close()
      val dest = Paths.get(f"$dir/slice_${i + 1}%04d.parquet")
      Files.move(part, dest, java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      Files.setLastModifiedTime(dest,
        java.nio.file.attribute.FileTime.fromMillis(1000000000000L + (i + 1) * 2000L))
      Util.deleteRecursively(new java.io.File(tmp))
    }
  }

  /** Slice `dir/table.parquet`, whose `id` is dense in 0..n-1, at ts = id
    * minutes: the batch twins' id-distance horizon and the stream's
    * event-time horizon are then the same contract. */
  private def rankSlices(ctx: Ctx, dir: String, table: String, id: String,
                         payload: Seq[Column], slices: Int): Unit = {
    val n = Tables.countOf(ctx.spark, dir, table)
    writeSlices(ctx.spark.read.parquet(s"$dir/$table.parquet").select(
      (timestamp_millis(lit(TsBase) + col(id) * 60000L).as("ts") +: col(id) +: payload): _*),
      col(id), 0L, n, slices, s"$dir/stream_s$slices")
  }

  /** Re-rank the k× corpus's copy-strided ids to dense 0..n-1 in id order
    * (one window pass, written once) under `$scratch/<tag>_x<k>`. */
  private def denseCorpus(ctx: Ctx, k: Int, tag: String, table: String, id: String,
                          cols: Seq[String]): String = {
    val (_, kDir) = ctx.corpus(k)
    val dir = s"${ctx.scratch}/${tag}_x$k"
    val path = s"$dir/$table.parquet"
    if (!Files.exists(Paths.get(s"$path/_SUCCESS"))) {
      val w = org.apache.spark.sql.expressions.Window.orderBy(col(id))
      Tables.load(ctx.spark, kDir, table)
        .select(((row_number().over(w) - 1).cast("long").as(id) +: cols.map(col)): _*)
        .write.mode("overwrite").parquet(path)
    }
    dir
  }

  /** `stream_neardup` admission verdicts over the dense-ranked k× documents
    * against [[StreamNeardup.admitNeardupBatch]]. */
  private def neardupProbe(ctx: Ctx, k: Int, slices: Int): Probe = {
    val dir = denseCorpus(ctx, k, "snd", "documents", "doc_id",
      Seq("text", "lang", "source", "n_chars"))
    rankSlices(ctx, dir, "documents", "doc_id", Seq(col("text")), slices)
    val horizon = StreamNeardup.HorizonDocsDefault
    Probe("neardup", dir, () => StreamNeardup.admitNeardupBatch(ctx.spark, dir, horizon),
      Seq(Config("stream", Nil, src =>
        StreamNeardup.streamNeardup(src.withWatermark("ts", "1 minute"), horizon * 60000L))),
      Seq("doc_id", "verdict", "match_id"))
  }

  /** The mega-duplicate (hot-band) cell for `stream_neardup`'s band cap: 2c
    * docs where every ODD doc is the same hot text (c copies sharing the
    * exact-band key and all 16 MinHash band keys) and every even doc is
    * unique, with the horizon spanning the whole stream — the regime where
    * uncapped candidate volume is 16·c²/2 rows and the cap bounds it at
    * O(cap·c). Capped output equals uncapped here (the clique's min-id copy
    * never expires, and every later copy's answer IS that copy), so the
    * cell measures pure guard cost at checksum parity; the recall trade
    * where the kept copy expires is pinned in StreamingSpec. */
  private def hotProbe(ctx: Ctx, c: Int, cap: Int, modes: Seq[String], slices: Int): Probe = {
    val n = 2L * c
    val dir = s"${ctx.scratch}/hot_c$c"
    val docs = s"$dir/documents.parquet"
    val hotText = (1 to 20).map(i => s"hot$i").mkString(" ")
    if (!Files.exists(Paths.get(s"$docs/_SUCCESS")))
      ctx.spark.range(n)
        .select(col("id").as("doc_id"),
          when(col("id") % 2 === 1, hotText)
            .otherwise(concat_ws(" ", (1 to 20).map(i => concat(lit(s"u${i}_"), col("id"))): _*))
            .as("text"),
          lit("en").as("lang"), lit("hot").as("source"))
        .withColumn("n_chars", length(col("text")))
        .write.mode("overwrite").parquet(docs)
    rankSlices(ctx, dir, "documents", "doc_id", Seq(col("text")), slices)
    val horizon = n + 1 // nothing evicts: the hot clique reaches c in-horizon
    Probe("neardup-hot", dir, () => StreamNeardup.admitNeardupBatch(ctx.spark, dir, horizon),
      modes.map { m =>
        val capRun = if (m == "off") 0 else cap // the default is ON: off is an explicit 0
        Config(if (capRun == 0) "off" else s"cap$capRun",
          Seq(StreamNeardup.StreamBandCapConf -> capRun.toString), src =>
            StreamNeardup.streamNeardup(src.withWatermark("ts", "1 minute"), horizon * 60000L))
      },
      Seq("doc_id", "verdict", "match_id"))
  }

  /** `stream_semdedup` over the dense-ranked k× embeddings against
    * [[StreamSemdedup.semdedupBatch]]: `exact` probes every codebook cell
    * (numProbe = |codebook|), so its checksum must equal the twin's;
    * `default` runs the derived numProbe, and its `agree` count is the
    * quantified IVF miss rate of the production-shaped path. */
  private def semdedupProbe(ctx: Ctx, k: Int, modes: Seq[String], slices: Int): Probe = {
    val dir = denseCorpus(ctx, k, "ssd", "embeddings", "vec_id", Seq("embedding", "label"))
    rankSlices(ctx, dir, "embeddings", "vec_id",
      Seq(col("embedding").cast("array<float>").as("embedding")), slices)
    val horizon = StreamSemdedup.HorizonVecsDefault
    val cb = StreamSemdedup.codebook(ctx.spark, dir)
    val npDefault = StreamSemdedup.numProbeFor(ctx.spark, cb.length)
    println(s"[stream semdedup] codebook cells=${cb.length} derived np=$npDefault")
    Probe("semdedup", dir, () => StreamSemdedup.semdedupBatch(ctx.spark, dir, horizon),
      modes.map { m =>
        val np = if (m == "exact") cb.length else npDefault
        Config(s"${m}_np$np", Nil, src =>
          StreamSemdedup.streamSemdedup(src.withWatermark("ts", "1 minute"), horizon * 60000L, cb, np))
      },
      Seq("vec_id", "verdict", "match_id"))
  }

  private val MoverUser = -424242L

  /** The stateful as-of family as real streams: the k× events corpus (the
    * skewed regime via SPARK_GRAFT_SCALE_TABLES=events
    * SPARK_GRAFT_SCALE_TRANSFORM=hotkey) in event-time-range slices, plus a
    * far-future one-row mover slice that drains the buffered spellings'
    * tails — a valid instance of BOTH family contracts (in-order for the
    * state spellings, within-horizon for the buffered ones). The twin is the
    * buffered exact as-of over the same input, mover excluded on both sides.
    * SPARK_GRAFT_STREAM_SPARSEDIMS=N keeps only every N-th of the hot user's
    * dims, the regime where the epoch escape's win shrinks;
    * SPARK_GRAFT_STREAM_WM_DELAY (default 60 seconds) is the buffered
    * spellings' watermark delay — longer than the corpus span, it is the
    * catch-up regime. */
  private def asofProbe(ctx: Ctx, k: Int, configs: Option[Seq[String]], widthSec: Int,
                        slices: Int): Probe = {
    val spark = ctx.spark
    import spark.implicits._
    val sparseDims = ctx.env.get("SPARK_GRAFT_STREAM_SPARSEDIMS").map(_.toLong).getOrElse(0L)
    val wmDelay = ctx.env.getOrElse("SPARK_GRAFT_STREAM_WM_DELAY", "60 seconds")
    val (_, kDir) = ctx.corpus(k)
    val dir = s"${ctx.scratch}/asof_x${k}_sp$sparseDims"
    val rows = Tables.events(spark, kDir)
      .select(col("ts"), col("user_id"), col("event_id"),
              (col("event_type") === "purchase").as("is_dim"), col("event_type"))
    val filtered =
      if (sparseDims > 0)
        rows.where(!(col("user_id") === 0L && col("is_dim") &&
                     pmod(col("event_id"), lit(sparseDims)) =!= 0))
      else rows
    val (loUs, hiUs) = filtered
      .agg(min(unix_micros(col("ts"))), max(unix_micros(col("ts"))))
      .as[(Long, Long)].head()
    val mover = Seq((new java.sql.Timestamp(hiUs / 1000L + 90L * 24 * 3600 * 1000),
                     MoverUser, -1L, false, "view"))
      .toDF("ts", "user_id", "event_id", "is_dim", "event_type")
    writeSlices(filtered, unix_micros(col("ts")), loUs, hiUs + 1, slices,
      s"$dir/stream_s$slices", Some(mover))
    def rowsOf(df: DataFrame) = df.as[AsofStreamRow]
    val ops: Seq[(String, DataFrame => DataFrame)] = Seq(
      "state_single" -> (src => Streams.latestPurchaseAsof(rowsOf(src))),
      "state_epoch" -> (src => EpochAsof.latestPurchaseAsofEpoch(rowsOf(src), widthSec,
        streaming = true)),
      "buf_single" -> (src => Streams.latestPurchaseAsofBuffered(
        rowsOf(src).withWatermark("ts", wmDelay), streaming = true)),
      "buf_epoch" -> (src => EpochAsof.latestPurchaseAsofBufferedEpoch(
        rowsOf(src).withWatermark("ts", wmDelay), widthSec)))
    val picked = configs.fold(ops)(cs => cs.map(c => c -> ops.toMap.getOrElse(c,
      sys.error(s"unknown asof config $c: expected ${ops.map(_._1).mkString(",")}"))))
    Probe("asof", dir,
      () => Streams.latestPurchaseAsofBuffered(rowsOf(spark.read.parquet(s"$dir/stream_s$slices"))),
      picked.map { case (tag, op) => Config(tag, Nil, op) },
      Seq("event_id", "last_purchase_id"), _.where(col("user_id") =!= MoverUser))
  }

  // ---- plans: formatted physical plans -----------------------------------

  /** With only `sfDir`: regenerate PLANS.md, keeping each `## name` section's
    * curated prose and replacing its plan. With `outDir suffix [names|ALL]`:
    * one raw `<outDir>/<name>_<suffix>.txt` per query (default the Bench
    * headline), so plan claims are checkable against committed artifacts.
    * The recall audit is off, as in Bench: the plans are the ones it times. */
  private def plans(spark: SparkSession, args: Seq[String]): Unit = {
    val sfDir = args.headOption.getOrElse(sys.error(
      "usage: plans <sfDir> | plans <sfDir> <outDir> <suffix> [names...|ALL]"))
    sys.props("graft.ann.recall") = "0"
    def explain(n: String): String = SparkEntry.queries(n)(spark, sfDir)
      .queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode)
    args.drop(1) match {
      case Seq() =>
        val path = Paths.get("PLANS.md")
        val sections = Files.readString(path).split("\n## ").toSeq.tail.map { sec =>
          val name = sec.takeWhile(_ != '\n')
          val why = sec.drop(name.length).split("\n```\n", 2)(0).trim
          s"\n## $name\n\n$why\n\n```\n${explain(name)}```\n"
        }
        Files.writeString(path, "# PLANS — formatted physical plans for headline operators\n\n" +
          s"Generated by `graft.Dev plans` at `$sfDir`. Regenerate after plan-affecting changes.\n" +
          sections.mkString)
        println(s"[plans] wrote PLANS.md (${sections.size} plans)")
      case Seq(outDir, suffix, names @ _*) =>
        val picked =
          if (names == Seq("ALL")) SparkEntry.queries.keys.toSeq.sorted
          else if (names.nonEmpty) names.flatMap(csv)
          else Bench.headline
        Files.createDirectories(Paths.get(outDir))
        picked.foreach { n =>
          try {
            Files.writeString(Paths.get(s"$outDir/${n}_$suffix.txt"), explain(n))
            println(s"[plans] wrote $outDir/${n}_$suffix.txt")
          } catch { case e: Throwable => println(s"[plans] $n FAILED: ${e.getMessage}") }
        }
      case _ => sys.error("usage: plans <sfDir> | plans <sfDir> <outDir> <suffix> [names...|ALL]")
    }
  }

  // ---- profile: where inside one query the time goes ---------------------

  /** The bench totals say WHICH query is slow; this says WHERE inside it —
    * scheduling floor vs shuffle vs compute — over a few warm passes. */
  private def profile(ctx: Ctx, args: Seq[String]): Unit = {
    val name = args.headOption.getOrElse(sys.error("usage: profile <name> [passes]"))
    val passes = args.lift(1).map(_.toInt).getOrElse(3)
    sys.props("graft.ann.recall") = "0"
    val fn = SparkEntry.queries(name)
    for (p <- 1 to passes) {
      ctx.tally.reset()
      val t0 = System.nanoTime()
      noop(fn(ctx.spark, ctx.base))
      val wall = secs(t0) * 1e3
      Thread.sleep(300) // let the async listener bus drain
      val (lines, covered) = ctx.tally.jobReport
      println(f"== $name pass $p: $wall%.0f ms ==")
      lines.foreach(println)
      println(f"  [job-covered $covered ms; gaps (analysis/planning/scheduling) ${wall - covered}%.0f ms]")
    }
  }

  // ---- bytes: shuffle bytes of the digest-keyed text queries -------------

  /** Shuffle-write bytes and records of `llm_decontaminate_ngram` and
    * `llm_substring_dedup_w16` on k× documents corpora, with an output
    * checksum per run. Their string-keyed spellings, measured against these
    * in BASELINE.md, are in the history at `eea3320`. */
  private def bytes(ctx: Ctx, args: Seq[String]): Unit = {
    val spark = ctx.spark
    val ks = args.headOption.map(csv(_).map(_.toInt)).getOrElse(Seq(8, 64))
    val probes: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
      "decontam_ngram" -> graft.llm.Curation.decontaminateNgram,
      "substring_w16" -> graft.llm.Dedup.substringDedupAt(graft.llm.Dedup.SpanTokensWide))
    for (k <- ks; (label, fn) <- probes) {
      val (_, kDir) = ctx.corpus(k)
      spark.catalog.clearCache()
      System.gc(); Thread.sleep(1500) // release dead shuffle files
      ctx.tally.reset()
      val t0 = System.nanoTime()
      noop(fn(spark, kDir))
      val wall = secs(t0)
      val (b, r) = (ctx.tally.shuffleBytes.get, ctx.tally.shuffleRecords.get)
      val out = fn(spark, kDir)
      val (n, cs) = checksum(out, out.columns.sorted.toSeq)
      println(f"[bytes] k=$k%-4d $label%-16s wall=$wall%8.2fs " +
        f"shufMB=${b / 1e6}%10.1f shufRows=$r%12d rows=$n%9d checksum=$cs%22s")
    }
  }
}
