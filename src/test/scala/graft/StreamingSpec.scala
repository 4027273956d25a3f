package graft

import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import graft.streaming.Streams

/** SURVEY.md §2.10 — the streaming semantics that batch oracles can't check:
  * watermark late-data drops, incremental window emission, stateful
  * processing, dedup state, and sink output modes, all via MemoryStream.
  */
case class Ev(ts: Timestamp, event_type: String, user_id: Long, event_id: Long)

/** Input row for the stream_neardup MemoryStream specs. */
case class NdDoc(ts: Timestamp, doc_id: Long, text: String)

/** Input row for the stream_semdedup MemoryStream specs. */
case class SdVec(ts: Timestamp, vec_id: Long, embedding: Array[Float])

class StreamingSpec extends SparkSpec {
  import spark.implicits._

  /** transformWithState needs the RocksDB state store provider when it runs
    * as a real stream (the batch-mode registrations scope their own). */
  private val RocksDbProvider = "spark.sql.streaming.stateStore.providerClass" ->
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  // the per-run flush counters this suite delta-asserts are OFF by default
  // (round-18: production flush paths no longer touch the shared maps) —
  // opt in for the whole suite; harmless to leave on for the JVM's lifetime
  graft.streaming.StreamDiag.enabled = true

  private def ts(s: String): Timestamp = Timestamp.valueOf(s)

  test("tumbling window aggregation runs incrementally over a stream") {
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[Ev]
    val q = Streams.tumblingCounts(mem.toDF())
      .writeStream.format("memory").queryName("tumbling_t")
      .outputMode(OutputMode.Update()).start()
    try {
      mem.addData(
        Ev(ts("2024-01-01 10:05:00"), "click", 1, 1),
        Ev(ts("2024-01-01 10:55:00"), "click", 1, 2),
        Ev(ts("2024-01-01 11:05:00"), "view", 2, 3))
      q.processAllAvailable()
      val rows = spark.table("tumbling_t")
        .select("w_start", "event_type", "cnt").collect()
      assert(rows.exists(r => r.getTimestamp(0) == ts("2024-01-01 10:00:00")
        && r.getString(1) == "click" && r.getLong(2) == 2))
      assert(rows.exists(r => r.getTimestamp(0) == ts("2024-01-01 11:00:00")
        && r.getString(1) == "view" && r.getLong(2) == 1))
    } finally q.stop()
  }

  test("watermark drops data later than the horizon (append mode)") {
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[Ev]
    val q = Streams.tumblingCounts(mem.toDF())
      .writeStream.format("memory").queryName("late_t")
      .outputMode(OutputMode.Append()).start()
    try {
      mem.addData(Ev(ts("2024-01-01 10:05:00"), "click", 1, 1))
      q.processAllAvailable()
      // advance event time far past the 10:00 window + 10 min watermark
      mem.addData(Ev(ts("2024-01-01 12:00:00"), "click", 1, 2))
      q.processAllAvailable()
      // this event is *behind* the watermark now — must be dropped
      mem.addData(Ev(ts("2024-01-01 10:07:00"), "click", 1, 3))
      q.processAllAvailable()
      mem.addData(Ev(ts("2024-01-01 14:00:00"), "click", 1, 4))
      q.processAllAvailable()
      val closed10 = spark.table("late_t")
        .where(col("w_start") === ts("2024-01-01 10:00:00")).collect()
      assert(closed10.length == 1 && closed10(0).getAs[Long]("cnt") == 1,
        s"late row must not re-open the 10:00 window: ${closed10.mkString}")
    } finally q.stop()
  }

  test("session windows merge events within the 30-minute gap") {
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[Ev]
    val q = Streams.sessionStats(mem.toDF())
      .writeStream.format("memory").queryName("sess_t")
      .outputMode(OutputMode.Complete()).start()
    try {
      mem.addData(
        Ev(ts("2024-01-01 10:00:00"), "click", 7, 1),
        Ev(ts("2024-01-01 10:20:00"), "click", 7, 2), // same session (gap 20m)
        Ev(ts("2024-01-01 11:30:00"), "click", 7, 3)) // new session (gap 70m)
      q.processAllAvailable()
      val rows = spark.table("sess_t").where(col("user_id") === 7)
        .orderBy("s_start").collect()
      assert(rows.length == 2)
      assert(rows(0).getAs[Long]("cnt") == 2)
      assert(rows(0).getAs[Timestamp]("s_end") == ts("2024-01-01 10:50:00"))
      assert(rows(1).getAs[Long]("cnt") == 1)
    } finally q.stop()
  }

  test("streaming dropDuplicates suppresses replayed event ids") {
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[Ev]
    val q = mem.toDF()
      .withWatermark("ts", "10 minutes")
      .dropDuplicates("event_id")
      .writeStream.format("memory").queryName("dedup_t")
      .outputMode(OutputMode.Append()).start()
    try {
      mem.addData(
        Ev(ts("2024-01-01 10:00:00"), "click", 1, 100),
        Ev(ts("2024-01-01 10:01:00"), "click", 1, 100), // duplicate id
        Ev(ts("2024-01-01 10:02:00"), "view", 1, 101))
      q.processAllAvailable()
      assert(spark.table("dedup_t").count() == 2)
    } finally q.stop()
  }

  test("flatMapGroupsWithState maintains per-user running state (library op)") {
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[graft.streaming.GraftEvent]
    val q = graft.streaming.Streams.runningUserStats(mem.toDS())
      .writeStream.format("memory").queryName("state_t")
      .outputMode(OutputMode.Update()).start()
    try {
      mem.addData(
        graft.streaming.GraftEvent(ts("2024-01-01 10:00:00"), "click", 1, 1),
        graft.streaming.GraftEvent(ts("2024-01-01 10:01:00"), "view", 1, 2))
      q.processAllAvailable()
      mem.addData(graft.streaming.GraftEvent(ts("2024-01-01 10:02:00"), "purchase", 1, 3))
      q.processAllAvailable()
      val latest = spark.table("state_t")
        .orderBy(col("n_events").desc).where(col("user_id") === 1).head
      assert(latest.getAs[Long]("n_events") == 3)
      assert(latest.getAs[String]("last_type") == "purchase")
    } finally q.stop()
  }

  test("transformWithState accumulates ValueState across micro-batches") {
    implicit val sq = spark.sqlContext
    // transformWithState requires the RocksDB state store provider when
    // running as a real stream (batch mode, used by the oracle-checked
    // registration, does not)
    withConf(RocksDbProvider) {
      val mem = MemoryStream[graft.streaming.GraftEvent]
      val q = graft.streaming.Streams.userTotalsTws(mem.toDS())
        .writeStream.format("memory").queryName("tws_t")
        .outputMode(OutputMode.Update()).start()
      try {
        mem.addData(
          graft.streaming.GraftEvent(ts("2024-01-01 10:00:00"), "click", 1, 10),
          graft.streaming.GraftEvent(ts("2024-01-01 10:01:00"), "view", 1, 7))
        q.processAllAvailable()
        mem.addData(graft.streaming.GraftEvent(ts("2024-01-01 10:02:00"), "view", 1, 9))
        q.processAllAvailable()
        val latest = spark.table("tws_t")
          .orderBy(col("n_events").desc).where(col("user_id") === 1).head
        // state carried across batches: 3 events total, max id from batch 1
        assert(latest.getAs[Long]("n_events") == 3)
        assert(latest.getAs[Long]("max_event_id") == 10)
      } finally q.stop()
    }
  }

  test("restart recovery: transformWithState state survives stop + restart from checkpoint") {
    implicit val sq = spark.sqlContext
    // the property a 100 TB streaming job actually relies on: kill the query
    // mid-stream, restart from the same checkpointLocation, and the state
    // store (and source offsets) resume where the last commit left off
    withConf(RocksDbProvider) {
      val ckpt = java.nio.file.Files.createTempDirectory("graft_ckpt_tws").toString
      val mem = MemoryStream[graft.streaming.GraftEvent]
      // foreachBatch sink: the memory sink refuses checkpoint recovery in
      // Update mode (it cannot rebuild dropped batches); foreachBatch is the
      // restartable sink a production job uses
      val seen = new scala.collection.mutable.ArrayBuffer[(Long, Long, Long)]
      def start() = graft.streaming.Streams.userTotalsTws(mem.toDS())
        .writeStream
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
          seen.synchronized {
            seen ++= df.collect().map(r =>
              (r.getLong(0), r.getLong(1), r.getLong(2)))
          }; ()
        }
        .option("checkpointLocation", ckpt)
        .outputMode(OutputMode.Update()).start()
      val q1 = start()
      try {
        mem.addData(
          graft.streaming.GraftEvent(ts("2024-01-01 10:00:00"), "click", 1, 10),
          graft.streaming.GraftEvent(ts("2024-01-01 10:01:00"), "view", 1, 7))
        q1.processAllAvailable()
      } finally q1.stop()
      q1.awaitTermination()
      // data arriving while the query is DOWN...
      mem.addData(graft.streaming.GraftEvent(ts("2024-01-01 10:02:00"), "view", 1, 9))
      val q2 = start()
      try {
        q2.processAllAvailable()
        val latest = seen.synchronized { seen.filter(_._1 == 1L).maxBy(_._2) }
        // ...is merged into the RECOVERED ValueState: 3 events total and the
        // pre-restart max id prove both state and offsets survived the restart
        assert(latest._2 == 3, s"n_events=${latest._2}, seen=$seen")
        assert(latest._3 == 10, s"max_event_id=${latest._3}")
      } finally q2.stop()
    }
  }

  test("restart recovery: windowed aggregation resumes from committed offsets") {
    implicit val sq = spark.sqlContext
    // default (HDFS-backed) state store provider this time; complete mode so
    // the post-restart table must contain PRE-restart windows without the
    // source re-adding them — counts merging across the restart proves the
    // window state recovered, not just the offsets
    val ckpt = java.nio.file.Files.createTempDirectory("graft_ckpt_win").toString
    val mem = MemoryStream[Ev]
    def start(name: String) = Streams.tumblingCounts(mem.toDF())
      .writeStream.format("memory").queryName(name)
      .option("checkpointLocation", ckpt)
      .outputMode(OutputMode.Complete()).start()
    val q1 = start("win_r1")
    try {
      mem.addData(
        Ev(ts("2024-01-01 10:05:00"), "click", 1, 1),
        Ev(ts("2024-01-01 10:20:00"), "click", 1, 2))
      q1.processAllAvailable()
    } finally q1.stop()
    q1.awaitTermination()
    mem.addData(Ev(ts("2024-01-01 10:40:00"), "click", 2, 3))
    val q2 = start("win_r2")
    try {
      q2.processAllAvailable()
      val rows = spark.table("win_r2")
        .select("w_start", "event_type", "cnt").collect()
      // the 10:00 window now counts 3 clicks: 2 from before the restart
      // (recovered state) + 1 delivered after it
      assert(rows.exists(r => r.getTimestamp(0) == ts("2024-01-01 10:00:00")
        && r.getString(1) == "click" && r.getLong(2) == 3), rows.mkString(","))
    } finally q2.stop()
  }

  test("transformWithState batch twin equals the per-user aggregate") {
    // registered sort-free (round 15): impose the compare order here
    val tws = graft.streaming.Streams.streamTransformState(spark, sfDir)
      .orderBy("user_id").collect()
    val agg = Tables.events(spark, sfDir)
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_events"), max(col("event_id")).as("max_event_id"))
      .orderBy("user_id").collect()
    assert(tws.nonEmpty)
    assert(tws.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq ==
           agg.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq)
  }

  test("append vs complete sink modes deliver expected shapes") {
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[Ev]
    val agg = mem.toDF().groupBy("event_type").agg(count(lit(1)).as("cnt"))
    val q = agg.writeStream.format("memory").queryName("modes_t")
      .outputMode(OutputMode.Complete()).start()
    try {
      mem.addData(Ev(ts("2024-01-01 10:00:00"), "click", 1, 1))
      q.processAllAvailable()
      mem.addData(Ev(ts("2024-01-01 10:01:00"), "click", 2, 2))
      q.processAllAvailable()
      val cnt = spark.table("modes_t")
        .where(col("event_type") === "click").head.getAs[Long]("cnt")
      assert(cnt == 2) // complete mode re-emits the full updated result
    } finally q.stop()
  }

  test("stream-static join enriches an unbounded stream with a broadcast dim") {
    implicit val sq = spark.sqlContext
    val statics = Seq((1L, "BUILDING"), (2L, "MACHINERY"))
      .toDF("c_custkey", "c_mktsegment")
    val mem = MemoryStream[Ev]
    val q = Streams.enrichWithCustomer(mem.toDF(), statics)
      .writeStream.format("memory").queryName("enrich_t")
      .outputMode(OutputMode.Complete()).start()
    try {
      mem.addData(
        Ev(ts("2024-01-01 10:00:00"), "click", 1, 1),
        Ev(ts("2024-01-01 10:01:00"), "click", 1, 2),
        Ev(ts("2024-01-01 10:02:00"), "view", 2, 3))
      q.processAllAvailable()
      val rows = spark.table("enrich_t").collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
      assert(rows == Set(("BUILDING", "click", 2L), ("MACHINERY", "view", 1L)))
    } finally q.stop()
  }

  test("stream-stream interval join buffers both sides and bounds state") {
    implicit val sq = spark.sqlContext
    val views = MemoryStream[Ev]
    val purchases = MemoryStream[Ev]
    // watermarks on BOTH sides + the 30-min bound let Spark evict buffered
    // rows — the state-boundedness contract of a stream-stream join
    val joined = Streams.viewToPurchase(
      views.toDF().withWatermark("ts", "1 hour"),
      purchases.toDF().withWatermark("ts", "1 hour"))
    val q = joined.writeStream.format("memory").queryName("funnel_t")
      .outputMode(OutputMode.Append()).start()
    try {
      views.addData(Ev(ts("2024-01-01 10:00:00"), "view", 1, 1))
      purchases.addData(
        Ev(ts("2024-01-01 10:10:00"), "purchase", 1, 2), // within 30 min → joins
        Ev(ts("2024-01-01 11:10:00"), "purchase", 1, 3)) // outside → must not
      q.processAllAvailable()
      // advance both watermarks so the matched pair is emitted in append mode
      views.addData(Ev(ts("2024-01-01 14:00:00"), "view", 9, 8))
      purchases.addData(Ev(ts("2024-01-01 14:00:00"), "purchase", 9, 9))
      q.processAllAvailable()
      val pairs = spark.table("funnel_t")
        .where(col("user_id") === 1)
        .collect().map(r => (r.getAs[Long]("v_id"), r.getAs[Long]("p_id"))).toSet
      assert(pairs == Set((1L, 2L)), s"got $pairs")
    } finally q.stop()
  }

  test("foreachBatch sink receives each micro-batch exactly once with its id") {
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[Ev]
    // foreachBatch is the escape hatch to arbitrary batch sinks (upserts,
    // multi-table writes); the contract is (batchDF, batchId) per micro-batch
    val seen = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    val q = mem.toDF().writeStream
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, id: Long) =>
        seen.synchronized { seen += ((id, df.count())) }; ()
      }
      .start()
    try {
      mem.addData(Ev(ts("2024-01-01 10:00:00"), "click", 1, 1),
                  Ev(ts("2024-01-01 10:01:00"), "click", 1, 2))
      q.processAllAvailable()
      mem.addData(Ev(ts("2024-01-01 10:02:00"), "view", 2, 3))
      q.processAllAvailable()
      val byId = seen.synchronized(seen.toList).toMap
      assert(byId(0L) == 2L && byId(1L) == 1L, s"got $byId")
    } finally q.stop()
  }

  test("file-directory source: incremental batch over a growing parquet dir") {
    // the reference's actual streaming idiom (SURVEY §1.1.4): a directory
    // that accumulates files, processed incrementally — `readStream` over a
    // parquet dir with files landing MID-stream, folded into the same
    // watermarked windowed aggregation the MemoryStream tests exercise
    val dir = java.nio.file.Files.createTempDirectory("graft_fdir").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_fdir_ck").toString
    Seq(Ev(ts("2024-01-01 10:05:00"), "click", 1, 1)).toDF()
      .write.mode("append").parquet(dir)
    val src = spark.readStream
      .schema(org.apache.spark.sql.Encoders.product[Ev].schema)
      .parquet(dir)
    val q = Streams.tumblingCounts(src)
      .writeStream.format("memory").queryName("fdir_t")
      .option("checkpointLocation", ckpt)
      .outputMode(OutputMode.Update()).start()
    try {
      q.processAllAvailable()
      // two more files land while the query runs — the directory listing
      // must pick them up and fold them into already-open windows
      Seq(Ev(ts("2024-01-01 10:20:00"), "click", 2, 2)).toDF()
        .write.mode("append").parquet(dir)
      Seq(Ev(ts("2024-01-01 11:05:00"), "view", 3, 3)).toDF()
        .write.mode("append").parquet(dir)
      q.processAllAvailable()
      val rows = spark.table("fdir_t")
        .select("w_start", "event_type", "cnt").collect()
      assert(rows.exists(r => r.getTimestamp(0) == ts("2024-01-01 10:00:00")
        && r.getString(1) == "click" && r.getLong(2) == 2), rows.mkString("; "))
      assert(rows.exists(r => r.getTimestamp(0) == ts("2024-01-01 11:00:00")
        && r.getString(1) == "view" && r.getLong(2) == 1), rows.mkString("; "))
    } finally q.stop()
  }

  test("stateful streaming as-of: ValueState enriches facts across micro-batches (unbounded dim)") {
    implicit val sq = spark.sqlContext
    import graft.streaming.AsofStreamRow
    withConf(RocksDbProvider) {
      val mem = MemoryStream[AsofStreamRow]
      val q = Streams.latestPurchaseAsof(mem.toDS())
        .writeStream.format("memory").queryName("asof_tws_t")
        .outputMode(OutputMode.Append()).start()
      def dim(t: String, u: Long, id: Long) =
        AsofStreamRow(ts(t), u, id, is_dim = true, "purchase")
      def fact(t: String, u: Long, id: Long, et: String = "view") =
        AsofStreamRow(ts(t), u, id, is_dim = false, et)
      try {
        // batch 1: user 1 buys then views; user 2 views with NO purchase yet;
        // user 3 buys and views at the SAME timestamp (inclusive boundary)
        mem.addData(
          dim("2024-01-01 10:00:00", 1, 100), fact("2024-01-01 10:05:00", 1, 1),
          fact("2024-01-01 10:01:00", 2, 10),
          dim("2024-01-01 11:00:00", 3, 120), fact("2024-01-01 11:00:00", 3, 20))
        q.processAllAvailable()
        // batch 2: user 1's dim UPDATES mid-stream (the unbounded-dim case);
        // user 2's first purchase arrives
        mem.addData(
          dim("2024-01-01 10:10:00", 1, 101), fact("2024-01-01 10:12:00", 1, 2, "click"),
          dim("2024-01-01 10:20:00", 2, 110))
        q.processAllAvailable()
        // batch 3: state must have CARRIED (user 2's fact sees batch-2's dim);
        // a LATE dim older than user 1's state must not regress enrichment
        mem.addData(
          fact("2024-01-01 10:25:00", 2, 11),
          dim("2024-01-01 10:01:00", 1, 99), fact("2024-01-01 10:30:00", 1, 3))
        q.processAllAvailable()
        val got = spark.table("asof_tws_t").collect()
          .map(r => r.getLong(0) -> (if (r.isNullAt(3)) None else Some(r.getLong(3))))
          .toMap
        assert(got === Map(
          1L -> Some(100L),  // first purchase visible in-batch
          10L -> None,       // fact before any purchase → NULL (left semantics)
          20L -> Some(120L), // purchase at the SAME ts counts (inclusive as-of)
          2L -> Some(101L),  // mid-stream dim update wins over batch-1 state
          11L -> Some(110L), // state carried across micro-batches
          3L -> Some(101L))) // late out-of-order dim ignored: state is monotone
      } finally q.stop()
    }
  }

  test("buffered as-of: out-of-order rows ACROSS micro-batches still get the exact as-of match") {
    implicit val sq = spark.sqlContext
    import graft.streaming.AsofStreamRow
    withConf(RocksDbProvider) {
      val mem = MemoryStream[AsofStreamRow]
      // 30-minute watermark = the out-of-order tolerance horizon; rows may
      // arrive in ANY order across batches as long as they're inside it
      val q = Streams.latestPurchaseAsofBuffered(
          mem.toDS().withWatermark("ts", "30 minutes"), streaming = true)
        .writeStream.format("memory").queryName("asof_buf_t")
        .outputMode(OutputMode.Append()).start()
      def dim(t: String, u: Long, id: Long) =
        AsofStreamRow(ts(t), u, id, is_dim = true, "purchase")
      def fact(t: String, u: Long, id: Long) =
        AsofStreamRow(ts(t), u, id, is_dim = false, "view")
      def table() = spark.table("asof_buf_t").collect()
        .map(r => r.getLong(0) -> (if (r.isNullAt(3)) None else Some(r.getLong(3))))
        .toMap
      try {
        // batch 1: user 1's dim + a LATER fact; user 9 is the watermark mover.
        // wm after batch 1 = 10:20 - 30m = 09:50 → nothing finalizes.
        mem.addData(
          dim("2024-01-01 10:00:00", 1, 100), fact("2024-01-01 10:15:00", 1, 1),
          fact("2024-01-01 10:20:00", 9, 90))
        q.processAllAvailable()
        // the fact is INSIDE the watermark horizon → buffered, not emitted:
        // the in-order processor would already have (wrongly, if more dims
        // come) finalized it here
        assert(!table().contains(1L), s"fact 1 must still be buffered: ${table()}")
        // batch 2: an OUT-OF-ORDER dim (10:10) arrives AFTER the 10:15 fact
        // — the exact case the in-order contract forbids — plus an
        // out-of-order fact (10:12) and the mover. handleInputRows sees the
        // late-events watermark (09:50) so it can't finalize user 1's rows;
        // the drain is TIMER-driven — either at this batch's end (timers
        // check against the eviction watermark, 10:20) or in the next batch.
        mem.addData(
          dim("2024-01-01 10:10:00", 1, 101), fact("2024-01-01 10:12:00", 1, 2),
          fact("2024-01-01 10:50:00", 9, 91))
        q.processAllAvailable()
        // batch 3: only the mover — user 1 gets NO input, so whatever is
        // still buffered for it drains purely on timers. wm ≥ 10:20: user
        // 1's 10:00/10:10/10:12/10:15 finalize in EVENT-TIME order — fact 2
        // and fact 1 both see the late dim 101 (the in-order processor
        // would have answered 100 for fact 1).
        mem.addData(fact("2024-01-01 11:30:00", 9, 92))
        q.processAllAvailable()
        val got = table()
        assert(got.get(1L) === Some(Some(101L)),
          s"fact 1 must see the out-of-order dim 101: $got")
        assert(got.get(2L) === Some(Some(101L)),
          s"fact 2 (itself out-of-order) must see dim 101: $got")
        // user 9's 10:20 fact also finalized by now (wm ≥ 10:20 in batch 3's
        // timer pass or batch 4) — it saw no dim ever
        mem.addData(fact("2024-01-01 12:00:00", 9, 93))
        q.processAllAvailable()
        assert(table().get(90L) === Some(None), s"fact 90 has no dim: ${table()}")
      } finally q.stop()
    }
  }

  test("epoch-buffered as-of: out-of-order rows across micro-batches resolve in-epoch AND via the boundary prefix") {
    // The streaming spelling of the epoch escape for the OUT-OF-ORDER
    // family (SURVEY open edge (a)): EpochBufferedAsofProcessor buffers per
    // (user, epoch) until the watermark passes, then chains into the same
    // BoundaryResolveProcessor. Width 600 s splits the fixture below into
    // epoch A (10:00-10:10, holds dim 100) and epoch B (10:10-10:20):
    // fact 2 @10:10:30 precedes epoch B's first dim → must resolve via the
    // cross-epoch PREFIX (dim 100); fact 1 @10:15 follows the OUT-OF-ORDER
    // dim 101 @10:11 → must resolve in-epoch — the in-order epoch spelling
    // would have answered 100 for it.
    implicit val sq = spark.sqlContext
    import graft.streaming.{AsofStreamRow, EpochAsof}
    withConf(RocksDbProvider) {
      val mem = MemoryStream[AsofStreamRow]
      val q = EpochAsof.latestPurchaseAsofBufferedEpoch(
          mem.toDS().withWatermark("ts", "30 minutes"), widthSec = 600L)
        .writeStream.format("memory").queryName("asof_buf_epoch_t")
        .outputMode(OutputMode.Append()).start()
      def dim(t: String, u: Long, id: Long) =
        AsofStreamRow(ts(t), u, id, is_dim = true, "purchase")
      def fact(t: String, u: Long, id: Long) =
        AsofStreamRow(ts(t), u, id, is_dim = false, "view")
      def table() = spark.table("asof_buf_epoch_t").collect()
        .map(r => r.getLong(0) -> (if (r.isNullAt(3)) None else Some(r.getLong(3))))
        .toMap
      try {
        // batch 1: epoch-A dim + a LATER epoch-B fact; user 9 moves the
        // watermark. wm after batch 1 = 09:50 → nothing finalizes.
        mem.addData(
          dim("2024-01-01 10:00:00", 1, 100), fact("2024-01-01 10:15:00", 1, 1),
          fact("2024-01-01 10:20:00", 9, 90))
        q.processAllAvailable()
        assert(!table().contains(1L), s"fact 1 must still be buffered: ${table()}")
        // batch 2: the OUT-OF-ORDER epoch-B dim (10:11) and the pre-dim
        // epoch-B fact (10:10:30), plus the mover. Eviction wm reaches 10:20.
        mem.addData(
          dim("2024-01-01 10:11:00", 1, 101), fact("2024-01-01 10:10:30", 1, 2),
          fact("2024-01-01 10:50:00", 9, 91))
        q.processAllAvailable()
        // batch 3: mover only — remaining epoch-B rows drain on timers.
        mem.addData(fact("2024-01-01 11:30:00", 9, 92))
        q.processAllAvailable()
        val got = table()
        assert(got.get(1L) === Some(Some(101L)),
          s"fact 1 must see the out-of-order in-epoch dim 101: $got")
        assert(got.get(2L) === Some(Some(100L)),
          s"fact 2 precedes epoch B's dims — boundary prefix must answer 100: $got")
        mem.addData(fact("2024-01-01 12:00:00", 9, 93))
        q.processAllAvailable()
        assert(table().get(90L) === Some(None), s"fact 90 has no dim: ${table()}")
      } finally q.stop()
    }
  }

  test("epoch-buffered as-of batch registration (conf-selected) equals the default") {
    // stream_asof_buffered under epochKey reuses the epoch batch twin —
    // batch mode flushes everything, so both spellings are the exact as-of
    val base = Streams.streamAsofBuffered(spark, sfDir).collect().toSeq
      .sortBy(_.getLong(0))
    spark.conf.set(graft.streaming.EpochAsof.EpochKeyConf, "3600")
    try {
      val epoch = Streams.streamAsofBuffered(spark, sfDir).collect().toSeq
        .sortBy(_.getLong(0))
      assert(base.nonEmpty && base == epoch)
    } finally spark.conf.unset(graft.streaming.EpochAsof.EpochKeyConf)
  }

  test("buffered as-of: a batch that flushes nothing performs NO buffer rewrite (write amplification)") {
    // Round-15 fix (r14 verdict finding #1): flush() used to re-put the
    // whole ListState buffer every micro-batch even when the watermark
    // passed nothing — O(batches × horizon) write amplification on a key
    // inside a long horizon. Pin the fix mechanically: across several
    // batches where the watermark never reaches key 1's buffered rows, THIS
    // RUN's rewrite counter must not move. (Round 17, verdict #4: the
    // counter is scoped per runId — no single-writer assumption; the
    // concurrent-queries case below pins the scoping itself.)
    implicit val sq = spark.sqlContext
    import graft.streaming.{AsofStreamRow, BufferedAsofProcessor}
    withConf(RocksDbProvider) {
      val mem = MemoryStream[AsofStreamRow]
      val q = Streams.latestPurchaseAsofBuffered(
          mem.toDS().withWatermark("ts", "30 minutes"), streaming = true)
        .writeStream.format("memory").queryName("asof_buf_noamp")
        .outputMode(OutputMode.Append()).start()
      def dim(t: String, u: Long, id: Long) =
        AsofStreamRow(ts(t), u, id, is_dim = true, "purchase")
      def fact(t: String, u: Long, id: Long) =
        AsofStreamRow(ts(t), u, id, is_dim = false, "view")
      def table() = spark.table("asof_buf_noamp").collect()
        .map(r => r.getLong(0) -> (if (r.isNullAt(3)) None else Some(r.getLong(3))))
        .toMap
      try {
        // key 1 buffers a dim + facts; mover key 9 keeps the watermark ~30
        // minutes behind them, so NOTHING finalizes for several batches
        mem.addData(
          dim("2024-01-01 10:00:00", 1, 100), fact("2024-01-01 10:05:00", 1, 1),
          fact("2024-01-01 10:15:00", 9, 90))
        q.processAllAvailable()
        // first batch: each key's first input has no armed timer yet, so the
        // buffer is read once per key — the baseline for the READ-skip pin
        val baseReads = BufferedAsofProcessor.bufferReads(q.runId)
        mem.addData(fact("2024-01-01 10:10:00", 1, 2),
                    fact("2024-01-01 10:16:00", 9, 91))
        q.processAllAvailable()
        mem.addData(fact("2024-01-01 10:17:00", 9, 92))
        q.processAllAvailable()
        mem.addData(fact("2024-01-01 10:18:00", 9, 93))
        q.processAllAvailable()
        assert(!table().contains(1L) && !table().contains(2L),
          s"key 1 must still be fully buffered: ${table()}")
        assert(BufferedAsofProcessor.stateRewrites(q.runId) === 0L,
          "no-flush batches must not rewrite the ListState buffer")
        // round-17 READ-skip pin (the rewrite-skip's sibling): those same
        // no-flush batches must not re-MATERIALIZE the buffer either — the
        // armed drain timer proves nothing is ready, so input appends blind
        assert(BufferedAsofProcessor.bufferReads(q.runId) === baseReads,
          "no-flush batches must not re-read the O(horizon) ListState buffer")
        // now drain: the mover pushes the watermark past everything — key 1's
        // rows finalize in event-time order (partial flushes past this point
        // MAY legitimately rewrite the remaining buffer)
        mem.addData(fact("2024-01-01 12:00:00", 9, 94))
        q.processAllAvailable()
        mem.addData(fact("2024-01-01 13:00:00", 9, 95))
        q.processAllAvailable()
        val got = table()
        assert(got.get(1L) === Some(Some(100L)), s"fact 1 sees dim 100: $got")
        assert(got.get(2L) === Some(Some(100L)), s"fact 2 sees dim 100: $got")
      } finally q.stop()
    }
  }

  test("buffered as-of: rewrite counter is scoped per run — two concurrent queries in one JVM count separately") {
    // Round-17 (r16 verdict #4): the write-amplification pin above used to
    // rest on a documented single-writer assumption over a JVM-global
    // counter. The counter is now keyed by runId; pin the scoping itself by
    // running TWO BufferedAsofProcessor queries CONCURRENTLY: query A holds
    // a no-flush buffer (must stay 0) while query B performs a partial
    // flush (ready and rest both non-empty → exactly the rewrite path).
    implicit val sq = spark.sqlContext
    import graft.streaming.{AsofStreamRow, BufferedAsofProcessor}
    withConf(RocksDbProvider) {
      def dim(t: String, u: Long, id: Long) =
        AsofStreamRow(ts(t), u, id, is_dim = true, "purchase")
      def fact(t: String, u: Long, id: Long) =
        AsofStreamRow(ts(t), u, id, is_dim = false, "view")
      val memA = MemoryStream[AsofStreamRow]
      val memB = MemoryStream[AsofStreamRow]
      def start(mem: MemoryStream[AsofStreamRow], name: String) =
        Streams.latestPurchaseAsofBuffered(
            mem.toDS().withWatermark("ts", "30 minutes"), streaming = true)
          .writeStream.format("memory").queryName(name)
          .outputMode(OutputMode.Append()).start()
      val qA = start(memA, "asof_buf_scope_a")
      val qB = start(memB, "asof_buf_scope_b")
      try {
        assert(qA.runId !== qB.runId)
        // A: key 1 buffers, mover keeps the watermark behind it — no flush
        memA.addData(
          dim("2024-01-01 10:00:00", 1, 100), fact("2024-01-01 10:05:00", 1, 1),
          fact("2024-01-01 10:15:00", 9, 90))
        // B: key 1 holds an early row AND a late row; the mover lifts the
        // eviction watermark between them → partial flush → one rewrite
        memB.addData(
          dim("2024-01-01 10:00:00", 1, 200), fact("2024-01-01 10:01:00", 1, 51),
          fact("2024-01-01 12:00:00", 1, 52))
        qA.processAllAvailable(); qB.processAllAvailable()
        memA.addData(fact("2024-01-01 10:16:00", 9, 91))
        memB.addData(fact("2024-01-01 11:00:00", 9, 53))
        qA.processAllAvailable(); qB.processAllAvailable()
        assert(BufferedAsofProcessor.stateRewrites(qB.runId) >= 1L,
          "query B's partial flush must count against B's run")
        assert(BufferedAsofProcessor.stateRewrites(qA.runId) === 0L,
          "query A never flushed — B's concurrent rewrites must not bleed into A")
      } finally { qA.stop(); qB.stop() }
    }
  }

  test("epoch-buffered as-of: a watermark past the epoch end CLEARS the epochDim state (cleanup timer)") {
    // Round-17 (r16 ADVICE, medium): the (user, epoch) key space grows with
    // elapsed time and TTL is structurally unavailable under EventTime, so
    // each key arms a cleanup timer at its epoch's end + 1 ms that drains
    // the buffer and drops the epochDim cell. Pin mechanically (per-run
    // cleanup counter) AND behaviorally (output still exact).
    implicit val sq = spark.sqlContext
    import graft.streaming.{AsofStreamRow, EpochAsof, EpochBufferedAsofProcessor}
    withConf(RocksDbProvider) {
      val mem = MemoryStream[AsofStreamRow]
      val q = EpochAsof.latestPurchaseAsofBufferedEpoch(
          mem.toDS().withWatermark("ts", "10 minutes"), widthSec = 600L)
        .writeStream.format("memory").queryName("asof_buf_epoch_gc")
        .outputMode(OutputMode.Append()).start()
      def dim(t: String, u: Long, id: Long) =
        AsofStreamRow(ts(t), u, id, is_dim = true, "purchase")
      def fact(t: String, u: Long, id: Long) =
        AsofStreamRow(ts(t), u, id, is_dim = false, "view")
      def table() = spark.table("asof_buf_epoch_gc").collect()
        .map(r => r.getLong(0) -> (if (r.isNullAt(3)) None else Some(r.getLong(3))))
        .toMap
      try {
        // epoch A (10:00-10:10) gets a dim + a fact; user 9 keeps moving the
        // watermark. Cleanup for (1, epochA) is armed at 10:10:00.001.
        mem.addData(
          dim("2024-01-01 10:00:00", 1, 100), fact("2024-01-01 10:05:00", 1, 1),
          fact("2024-01-01 10:15:00", 9, 90))
        q.processAllAvailable()
        assert(EpochBufferedAsofProcessor.stateCleanups(q.runId) === 0L,
          "watermark has not reached epoch A's end yet")
        // movers push the eviction watermark past 10:10:00.001 → epoch A's
        // rows drain and its epochDim cell is CLEARED by the fired timer
        mem.addData(fact("2024-01-01 10:25:00", 9, 91))
        q.processAllAvailable()
        mem.addData(fact("2024-01-01 10:40:00", 9, 92))
        q.processAllAvailable()
        assert(EpochBufferedAsofProcessor.stateCleanups(q.runId) >= 1L,
          "epoch A's epochDim cell must be cleared once the watermark passes its end")
        val got = table()
        assert(got.get(1L) === Some(Some(100L)),
          s"fact 1 must have drained with its in-epoch dim before cleanup: $got")
        // a LATER epoch for the same user still works after the cleanup: the
        // boundary prefix lives in pass 2 (per-user), untouched by pass-1 GC
        mem.addData(fact("2024-01-01 10:31:00", 1, 2))
        q.processAllAvailable()
        mem.addData(fact("2024-01-01 11:30:00", 9, 93))
        q.processAllAvailable()
        mem.addData(fact("2024-01-01 12:30:00", 9, 94))
        q.processAllAvailable()
        assert(table().get(2L) === Some(Some(100L)),
          s"epoch-C fact must still resolve via the per-user boundary prefix: ${table()}")
      } finally q.stop()
    }
  }

  test("epoch-buffered as-of: restart recovery — BOTH chained state stores resume from the checkpoint") {
    // Round-17 (r16 verdict #5): the single-operator buffered as-of has
    // restart coverage; the epoch escape is TWO chained transformWithState
    // operators whose stores must recover together — pass 1's per-(user,
    // epoch) buffer/epochDim/timers AND pass 2's per-user boundary prefix.
    // The pin: a fact that arrives AFTER the restart and precedes its
    // epoch's dims must resolve via a prefix value written to pass-2 state
    // BEFORE the restart.
    implicit val sq = spark.sqlContext
    import graft.streaming.{AsofStreamRow, EpochAsof}
    withConf(RocksDbProvider) {
      val ckpt = java.nio.file.Files.createTempDirectory("graft_ckpt_epochasof").toString
      val mem = MemoryStream[AsofStreamRow]
      def dim(t: String, u: Long, id: Long) =
        AsofStreamRow(ts(t), u, id, is_dim = true, "purchase")
      def fact(t: String, u: Long, id: Long) =
        AsofStreamRow(ts(t), u, id, is_dim = false, "view")
      val seen = new scala.collection.mutable.ArrayBuffer[(Long, Option[Long])]
      def start() = EpochAsof.latestPurchaseAsofBufferedEpoch(
          mem.toDS().withWatermark("ts", "30 minutes"), widthSec = 600L)
        .writeStream
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
          seen.synchronized {
            seen ++= df.collect().map(r =>
              (r.getLong(0), if (r.isNullAt(3)) None else Some(r.getLong(3))))
          }; ()
        }
        .option("checkpointLocation", ckpt)
        .outputMode(OutputMode.Append()).start()
      val q1 = start()
      try {
        // epoch A (10:00-10:10) fully drains BEFORE the restart: the mover
        // lifts the eviction watermark to 10:15 > epoch A's end, so fact 11
        // emits (dim 100), epoch A's summary merges into the PASS-2 prefix —
        // the state the post-restart assert depends on — its cleanup timer
        // fires (the round-17 GC path runs pre-checkpoint too), and the
        // epoch-B fact 12 drains via the prefix; the epoch-C fact 13 stays
        // BUFFERED in pass-1 state across the restart
        mem.addData(
          dim("2024-01-01 10:00:00", 1, 100), fact("2024-01-01 10:05:00", 1, 11),
          fact("2024-01-01 10:12:00", 1, 12), fact("2024-01-01 10:25:00", 1, 13),
          fact("2024-01-01 10:45:00", 9, 90))
        q1.processAllAvailable()
      } finally q1.stop()
      q1.awaitTermination()
      val pre = seen.synchronized(seen.toMap)
      assert(pre.get(11L) === Some(Some(100L)), s"epoch-A fact pre-restart: $pre")
      assert(pre.get(12L) === Some(Some(100L)), s"epoch-B prefix fact pre-restart: $pre")
      assert(!pre.contains(13L), s"epoch-C fact must still be buffered: $pre")
      // while the query is DOWN: an out-of-order epoch-C dim OLDER than the
      // buffered fact 13, a pre-dim epoch-C fact 15, and a watermark mover
      mem.addData(
        dim("2024-01-01 10:21:00", 1, 102), fact("2024-01-01 10:20:30", 1, 15),
        fact("2024-01-01 11:30:00", 9, 91))
      val q2 = start()
      try {
        q2.processAllAvailable()
        mem.addData(fact("2024-01-01 12:30:00", 9, 92))
        q2.processAllAvailable()
        val got = seen.synchronized(seen.toMap)
        // recovered pass-1 buffer + post-restart dim: fact 13 (ts 10:25) must
        // see dim 102 (ts 10:21) that arrived across the restart
        assert(got.get(13L) === Some(Some(102L)),
          s"buffered fact must see the post-restart in-epoch dim: $got")
        // THE recovery pin: fact 15 precedes every epoch-C dim, so it resolves
        // from the per-user boundary prefix — dim 100, written to pass-2
        // state before the restart and recovered from the checkpoint
        assert(got.get(15L) === Some(Some(100L)),
          s"pre-dim fact must resolve via the RECOVERED boundary prefix: $got")
      } finally {
        q2.stop()
        deleteDir(ckpt)
      }
    }
  }

  test("buffered as-of: restart recovery — buffered rows and timers survive the checkpoint") {
    implicit val sq = spark.sqlContext
    import graft.streaming.AsofStreamRow
    withConf(RocksDbProvider) {
      val ckpt = java.nio.file.Files.createTempDirectory("graft_ckpt_asofbuf").toString
      val mem = MemoryStream[AsofStreamRow]
      def dim(t: String, u: Long, id: Long) =
        AsofStreamRow(ts(t), u, id, is_dim = true, "purchase")
      def fact(t: String, u: Long, id: Long) =
        AsofStreamRow(ts(t), u, id, is_dim = false, "view")
      val seen = new scala.collection.mutable.ArrayBuffer[(Long, Option[Long])]
      def start() = Streams.latestPurchaseAsofBuffered(
          mem.toDS().withWatermark("ts", "30 minutes"), streaming = true)
        .writeStream
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
          seen.synchronized {
            seen ++= df.collect().map(r =>
              (r.getLong(0), if (r.isNullAt(3)) None else Some(r.getLong(3))))
          }; ()
        }
        .option("checkpointLocation", ckpt)
        .outputMode(OutputMode.Append()).start()
      val q1 = start()
      try {
        // fact 1 lands in the ListState BUFFER (wm after batch 1 = 09:50,
        // nothing finalizes) — then the query dies
        mem.addData(
          dim("2024-01-01 10:00:00", 1, 100), fact("2024-01-01 10:15:00", 1, 1),
          fact("2024-01-01 10:20:00", 9, 90))
        q1.processAllAvailable()
      } finally q1.stop()
      q1.awaitTermination()
      assert(seen.synchronized(seen.isEmpty), s"nothing must emit pre-restart: $seen")
      // data arriving while the query is DOWN: an out-of-order dim OLDER
      // than the buffered fact, plus a watermark mover
      mem.addData(
        dim("2024-01-01 10:10:00", 1, 101), fact("2024-01-01 10:50:00", 9, 91))
      val q2 = start()
      try {
        q2.processAllAvailable()
        // the RECOVERED buffer still holds fact 1; the post-restart dim 101
        // (ts before fact 1, arrival after AND across a restart) must win —
        // this exercises recovery of the ListState buffer, the lastDim
        // ValueState, and the event-time timers together
        val got = seen.synchronized(seen.toMap)
        assert(got.get(1L) === Some(Some(101L)),
          s"buffered fact must see the post-restart out-of-order dim: $got")
      } finally q2.stop()
    }
  }

  /** Seeded random fixture for the shuffled-stream equality pins: 5 users ×
    * 60 rows over one day, ~25% dims, ms-precision random times. */
  private def randomAsofRows(seed: Long): Vector[graft.streaming.AsofStreamRow] = {
    import graft.streaming.AsofStreamRow
    val rnd = new scala.util.Random(seed)
    val base = ts("2024-01-01 00:00:00").getTime
    (for (u <- 1L to 5L; i <- 1 to 60) yield {
      val t = new Timestamp(base + rnd.nextInt(24 * 3600) * 1000L + rnd.nextInt(1000))
      val isDim = rnd.nextInt(4) == 0
      AsofStreamRow(t, u, u * 1000 + i, isDim, if (isDim) "purchase" else "view")
    }).toVector
  }

  /** Independent plain-Scala reference: per user, event-time order (dims
    * before facts at equal ts), monotone latest-(ts,id) dim cell. */
  private def exactAsof(rs: Seq[graft.streaming.AsofStreamRow]): Map[Long, Option[Long]] =
    rs.groupBy(_.user_id).values.flatMap { users =>
      var cur: Option[(Long, Long)] = None
      users.sortBy(r => (r.ts.getTime, if (r.is_dim) 0 else 1, r.event_id))
        .flatMap { r =>
          if (r.is_dim) {
            if (cur.forall(c => c._1 < r.ts.getTime ||
                                (c._1 == r.ts.getTime && c._2 < r.event_id)))
              cur = Some((r.ts.getTime, r.event_id))
            None
          } else Some(r.event_id -> cur.map(_._2))
        }
    }.toMap

  test("buffered as-of: randomized fully-shuffled stream equals the exact as-of") {
    implicit val sq = spark.sqlContext
    import graft.streaming.AsofStreamRow
    withConf(RocksDbProvider) {
      val rnd = new scala.util.Random(20260815L)
      val base = ts("2024-01-01 00:00:00").getTime
      val rows = randomAsofRows(20260815L)
      val expected = exactAsof(rows)
      assert(expected.values.exists(_.isDefined) && expected.values.exists(_.isEmpty),
        "fixture must exercise both matched and before-first-dim facts")
      // the 2-day watermark delay exceeds the 1-day data span, so NO arrival
      // order can make a row late — a full shuffle is within the out-of-order
      // tolerance by construction; a far-future mover then drains everything
      val shuffled = rnd.shuffle(rows)
      val mover = AsofStreamRow(new Timestamp(base + 6L * 24 * 3600 * 1000L),
        999L, 999999L, is_dim = false, "view")
      val mem = MemoryStream[AsofStreamRow]
      val q = Streams.latestPurchaseAsofBuffered(
          mem.toDS().withWatermark("ts", "2 days"), streaming = true)
        .writeStream.format("memory").queryName("asof_rand_t")
        .outputMode(OutputMode.Append()).start()
      try {
        shuffled.grouped(45).foreach { b => mem.addData(b: _*); q.processAllAvailable() }
        mem.addData(mover)
        q.processAllAvailable()
        val got = spark.table("asof_rand_t").where(col("user_id") =!= 999L)
          .collect()
          .map(r => r.getLong(0) -> (if (r.isNullAt(3)) None else Some(r.getLong(3))))
          .toMap
        assert(got == expected,
          s"diff: ${(got.toSet diff expected.toSet) ++ (expected.toSet diff got.toSet)}")
      } finally q.stop()
    }
  }

  test("epoch-buffered as-of: randomized fully-shuffled stream equals the exact as-of") {
    // the same fully-shuffled torture fixture, through the EPOCH-keyed
    // buffered spelling with hourly epochs (24 epochs/user over the one-day
    // span — both the in-epoch and the boundary-prefix path carry real
    // rows under arbitrary arrival order). A different seed than the
    // single-level test so the two pins don't share a fixture.
    implicit val sq = spark.sqlContext
    import graft.streaming.{AsofStreamRow, EpochAsof}
    withConf(RocksDbProvider) {
      val rows = randomAsofRows(20260816L)
      val expected = exactAsof(rows)
      assert(expected.values.exists(_.isDefined) && expected.values.exists(_.isEmpty),
        "fixture must exercise both matched and before-first-dim facts")
      val rnd = new scala.util.Random(20260816L)
      val shuffled = rnd.shuffle(rows)
      val mover = AsofStreamRow(new Timestamp(
        ts("2024-01-01 00:00:00").getTime + 6L * 24 * 3600 * 1000L),
        999L, 999999L, is_dim = false, "view")
      val mem = MemoryStream[AsofStreamRow]
      val q = EpochAsof.latestPurchaseAsofBufferedEpoch(
          mem.toDS().withWatermark("ts", "2 days"), widthSec = 3600L)
        .writeStream.format("memory").queryName("asof_rand_epoch_t")
        .outputMode(OutputMode.Append()).start()
      try {
        shuffled.grouped(45).foreach { b => mem.addData(b: _*); q.processAllAvailable() }
        mem.addData(mover)
        q.processAllAvailable()
        val got = spark.table("asof_rand_epoch_t").where(col("user_id") =!= 999L)
          .collect()
          .map(r => r.getLong(0) -> (if (r.isNullAt(3)) None else Some(r.getLong(3))))
          .toMap
        assert(got == expected,
          s"diff: ${(got.toSet diff expected.toSet) ++ (expected.toSet diff got.toSet)}")
      } finally q.stop()
    }
  }

  test("buffered as-of batch twin equals the in-order batch twin (same oracle)") {
    // both registrations compute the exact event-time as-of in batch mode;
    // row-for-row equality here plus stream_asof_state's DuckDB hash pass
    // means the buffered variant matches the batch oracle row-for-row
    val a = Streams.streamAsofState(spark, sfDir).collect().toSeq
    val b = Streams.streamAsofBuffered(spark, sfDir).collect().toSeq
    assert(a.nonEmpty && a == b)
  }

  test("epoch-keyed as-of: skewed in-order stream equals the single-level spelling and the exact as-of") {
    // round 16 (verdict item 1): the two-level-key skew escape must compute
    // EXACTLY the single-level as-of on the workload it exists for — one hot
    // key owning ~50% of the stream — across micro-batch boundaries that cut
    // through epochs mid-flight
    implicit val sq = spark.sqlContext
    import graft.streaming.{AsofStreamRow, EpochAsof}
    withConf(RocksDbProvider) {
      val rnd = new scala.util.Random(20260816L)
      val base = ts("2024-01-01 00:00:00").getTime
      def mk(u: Long, i: Int) = {
        val t = new Timestamp(base + rnd.nextInt(24 * 3600) * 1000L + rnd.nextInt(1000))
        val isDim = rnd.nextInt(4) == 0
        AsofStreamRow(t, u, u * 100000 + i, isDim, if (isDim) "purchase" else "view")
      }
      // hot user 1 = 300 of 450 rows (~67%); five cold users share the rest
      val rows = ((1 to 300).map(mk(1L, _)) ++
        (for (u <- 2L to 6L; i <- 1 to 30) yield mk(u, i))).toVector
      def exactAsof(rs: Seq[AsofStreamRow]): Map[Long, Option[Long]] =
        rs.groupBy(_.user_id).values.flatMap { users =>
          var cur: Option[(Long, Long)] = None
          users.sortBy(r => (r.ts.getTime, if (r.is_dim) 0 else 1, r.event_id))
            .flatMap { r =>
              if (r.is_dim) {
                if (cur.forall(c => c._1 < r.ts.getTime ||
                                    (c._1 == r.ts.getTime && c._2 < r.event_id)))
                  cur = Some((r.ts.getTime, r.event_id))
                None
              } else Some(r.event_id -> cur.map(_._2))
            }
        }.toMap
      val expected = exactAsof(rows)
      assert(expected.values.exists(_.isDefined) && expected.values.exists(_.isEmpty),
        "fixture must exercise both matched and before-first-dim facts")
      // the in-order contract both spellings share: arrival order = event-time
      // order; batches of 60 cut through the hourly epochs mid-flight, so
      // cross-batch epoch state AND cross-epoch boundary state both carry
      val inOrder = rows.sortBy(r => (r.ts.getTime, if (r.is_dim) 0 else 1, r.event_id))
      def run(name: String)(mkQuery: org.apache.spark.sql.Dataset[AsofStreamRow] => org.apache.spark.sql.DataFrame): Map[Long, Option[Long]] = {
        val mem = MemoryStream[AsofStreamRow]
        val q = mkQuery(mem.toDS())
          .writeStream.format("memory").queryName(name)
          .outputMode(OutputMode.Append()).start()
        try {
          inOrder.grouped(60).foreach { b => mem.addData(b: _*); q.processAllAvailable() }
          spark.table(name).collect()
            .map(r => r.getLong(0) -> (if (r.isNullAt(3)) None else Some(r.getLong(3))))
            .toMap
        } finally q.stop()
      }
      val single = run("asof_skew_single")(ds => Streams.latestPurchaseAsof(ds))
      val epoch = run("asof_skew_epoch")(ds =>
        EpochAsof.latestPurchaseAsofEpoch(ds, widthSec = 3600L, streaming = true))
      assert(single == expected, "single-level spelling must be the exact as-of")
      assert(epoch == expected,
        s"epoch spelling diverged: ${(epoch.toSet diff expected.toSet) ++ (expected.toSet diff epoch.toSet)}")
    }
  }

  test("epoch-keyed as-of: boundary resolution, inclusive ties, and late dims match the single-level spelling") {
    implicit val sq = spark.sqlContext
    import graft.streaming.{AsofStreamRow, EpochAsof}
    withConf(RocksDbProvider) {
      def dim(t: String, id: Long) = AsofStreamRow(ts(t), 1, id, is_dim = true, "purchase")
      def fact(t: String, id: Long) = AsofStreamRow(ts(t), 1, id, is_dim = false, "view")
      // batch 1: fact before any dim (null); a dim; batch 2: a fact two
      // epochs later (60 s epochs — crosses empty epochs, pure boundary
      // resolve); same-ts dim+fact (inclusive); batch 3: a LATE dim that
      // advances the monotone state and one that doesn't, then facts reading
      // the result — the monotone-ignore contract both spellings share
      val batches = Vector(
        Vector(fact("2024-01-01 09:00:00", 1), dim("2024-01-01 10:00:00", 100)),
        Vector(fact("2024-01-01 11:30:05", 2),
               dim("2024-01-01 12:00:00", 110), fact("2024-01-01 12:00:00", 3)),
        Vector(fact("2024-01-01 13:00:00", 4),
               dim("2024-01-01 12:30:00", 105), fact("2024-01-01 14:00:00", 5)),
        Vector(dim("2024-01-01 11:00:00", 90), fact("2024-01-01 15:00:00", 6)))
      // fact 4 (13:00) sees 105: the dim(12:30) arrives in the SAME batch and
      // both spellings sort a batch by event time before applying it
      val expected = Map(1L -> None, 2L -> Some(100L), 3L -> Some(110L),
        4L -> Some(105L), 5L -> Some(105L), 6L -> Some(105L))
      def run(name: String)(mkQuery: org.apache.spark.sql.Dataset[AsofStreamRow] => org.apache.spark.sql.DataFrame): Map[Long, Option[Long]] = {
        val mem = MemoryStream[AsofStreamRow]
        val q = mkQuery(mem.toDS())
          .writeStream.format("memory").queryName(name)
          .outputMode(OutputMode.Append()).start()
        try {
          batches.foreach { b => mem.addData(b: _*); q.processAllAvailable() }
          spark.table(name).collect()
            .map(r => r.getLong(0) -> (if (r.isNullAt(3)) None else Some(r.getLong(3))))
            .toMap
        } finally q.stop()
      }
      val single = run("asof_edge_single")(ds => Streams.latestPurchaseAsof(ds))
      val epoch = run("asof_edge_epoch")(ds =>
        EpochAsof.latestPurchaseAsofEpoch(ds, widthSec = 60L, streaming = true))
      assert(single == expected, s"single: $single")
      assert(epoch == expected, s"epoch: $epoch")
    }
  }

  test("epoch-keyed as-of: relational batch boundary equals the chained-tws spelling") {
    // the batch twin resolves boundaries with a window over summaries
    // (resolved facts bypass the second pass); the streaming spelling keeps
    // the chained stateful processors — both must compute identical rows
    // from the same pass-1 output (run here in batch, where both work)
    import graft.streaming.{AsofStreamRow, EpochAsof}
    import spark.implicits._
    val rows = graft.Tables.events(spark, sfDir)
      .select(col("ts"), col("user_id"), col("event_id"),
              (col("event_type") === "purchase").as("is_dim"), col("event_type"))
      .as[AsofStreamRow]
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getString(2), if (r.isNullAt(3)) None else Some(r.getLong(3))))
        .toMap
    val viaWindow = canon(withBatchTwsForTest(
      EpochAsof.latestPurchaseAsofEpoch(rows, widthSec = 3600L)))
    val viaTws = canon(withBatchTwsForTest(
      EpochAsof.latestPurchaseAsofEpoch(rows, widthSec = 3600L, streaming = true)))
    assert(viaWindow.nonEmpty && viaWindow == viaTws)
  }

  /** Batch tws needs the RocksDB provider + state-store coordinator — reuse
    * the registrations' scoped bootstrap (round-16 review: this was the
    * third verbatim copy of the save/bootstrap/restore block). */
  private def withBatchTwsForTest(body: => org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    Streams.scopedBatchTws(spark)(body.localCheckpoint())

  test("epoch as-of STREAMING spellings over the fixture equal the batch twin (probe protocol in miniature)") {
    // Round-17 (r16 verdict #1): `graft.Dev stream asof` measures the chained
    // streaming spellings at 64× as ts-ordered micro-batch replays whose
    // output checksum must equal the batch-twin exact as-of; this is the
    // same protocol at spec scale on the REAL fixture — sf0.001 events
    // replayed in ts-ordered chunks through both chained spellings,
    // equality-pinned against the relational batch twin the registrations
    // ship (itself oracle-checked at sf0.01).
    implicit val sq = spark.sqlContext
    import graft.streaming.{AsofStreamRow, EpochAsof}
    withConf(RocksDbProvider) {
      // ORDER BY MICROSECONDS (round-17 review): the fixture carries sub-ms
      // timestamps and the processors' state ordering is µs-precision — a
      // ms-granular sort could place a same-ms dim before an earlier-by-µs
      // fact across a chunk boundary, a replay-order artifact
      val rows = Tables.events(spark, sfDir)
        .select(col("ts"), col("user_id"), col("event_id"),
                (col("event_type") === "purchase").as("is_dim"), col("event_type"))
        .as[AsofStreamRow].collect().toVector
        .sortBy(r => (graft.streaming.LastDimState.micros(r.ts),
                      if (r.is_dim) 0 else 1, r.event_id))
      assert(rows.size >= 500, "fixture must be non-trivial")
      val expected = withBatchTwsForTest(
          EpochAsof.latestPurchaseAsofEpoch(spark.createDataset(rows), 3600L))
        .collect()
        .map(r => r.getLong(0) -> (if (r.isNullAt(3)) None else Some(r.getLong(3))))
        .toMap
      def run(name: String, chunks: Seq[Seq[AsofStreamRow]])(
          mkQuery: org.apache.spark.sql.Dataset[AsofStreamRow] => org.apache.spark.sql.DataFrame)
          : Map[Long, Option[Long]] = {
        val mem = MemoryStream[AsofStreamRow]
        val q = mkQuery(mem.toDS())
          .writeStream.format("memory").queryName(name)
          .outputMode(OutputMode.Append()).start()
        try {
          chunks.foreach { b => mem.addData(b: _*); q.processAllAvailable() }
          spark.table(name).collect()
            .map(r => r.getLong(0) -> (if (r.isNullAt(3)) None else Some(r.getLong(3))))
            .toMap
        } finally q.stop()
      }
      val chunks = rows.grouped(200).map(_.toSeq).toSeq
      // far-future mover fact drains the buffered spelling's watermark tail
      val mover = AsofStreamRow(
        new Timestamp(rows.last.ts.getTime + 90L * 24 * 3600 * 1000),
        -424242L, -1L, is_dim = false, "view")
      val inOrder = run("fix_epoch_state", chunks)(ds =>
        EpochAsof.latestPurchaseAsofEpoch(ds, widthSec = 3600L, streaming = true))
      assert(inOrder == expected,
        s"chained in-order spelling diverged on ${(inOrder.toSet diff expected.toSet).take(3)}")
      val buffered = run("fix_epoch_buf", chunks :+ Seq(mover))(ds =>
        EpochAsof.latestPurchaseAsofBufferedEpoch(
          ds.withWatermark("ts", "60 seconds"), widthSec = 3600L))
      assert((buffered - mover.event_id) == expected,
        s"chained buffered spelling diverged on ${((buffered - mover.event_id).toSet diff expected.toSet).take(3)}")
      // round-18 STREAMING hybrid (r17 verdict #2): threshold 1 forces every
      // unresolved fact through the marker + pass-2b join path — the
      // three-operator chain must still equal the batch twin for BOTH
      // spellings (the conf is read at build time inside run's mkQuery)
      spark.conf.set(EpochAsof.StreamJoinMinGroupConf, "1")
      try {
        val inOrderH = run("fix_epoch_state_h", chunks)(ds =>
          EpochAsof.latestPurchaseAsofEpoch(ds, widthSec = 3600L, streaming = true))
        assert(inOrderH == expected,
          s"hybrid in-order spelling diverged on ${(inOrderH.toSet diff expected.toSet).take(3)}")
        val bufferedH = run("fix_epoch_buf_h", chunks :+ Seq(mover))(ds =>
          EpochAsof.latestPurchaseAsofBufferedEpoch(
            ds.withWatermark("ts", "60 seconds"), widthSec = 3600L))
        assert((bufferedH - mover.event_id) == expected,
          s"hybrid buffered spelling diverged on ${((bufferedH - mover.event_id).toSet diff expected.toSet).take(3)}")
      } finally spark.conf.unset(EpochAsof.StreamJoinMinGroupConf)
    }
  }

  test("epoch-keyed as-of batch twin (conf-selected) equals the default registration") {
    // the registered stream_asof_state switches spelling on
    // spark.graft.asof.epochKey; both must compute the same oracle rows
    val base = Streams.streamAsofState(spark, sfDir).collect().toSeq
      .sortBy(_.getLong(0))
    spark.conf.set(graft.streaming.EpochAsof.EpochKeyConf, "3600")
    try {
      val epoch = Streams.streamAsofState(spark, sfDir).collect().toSeq
        .sortBy(_.getLong(0))
      assert(base.nonEmpty && base == epoch)
    } finally spark.conf.unset(graft.streaming.EpochAsof.EpochKeyConf)
  }

  test("epoch-keyed as-of batch twin: both hybrid boundary routes compute the same rows") {
    // the hybrid resolve routes unresolved (user, epoch) groups by size —
    // inline-window below the threshold, marker+join at or above it. The
    // threshold is cost-only: forcing EVERYTHING through the join path
    // (threshold 1) must produce exactly the default's rows. A narrow epoch
    // width (60 s) maximizes unresolved groups so both routes carry real
    // rows.
    import spark.implicits._
    import graft.streaming.{AsofStreamRow, EpochAsof}
    val rows = graft.Tables.events(spark, sfDir)
      .select(col("ts"), col("user_id"), col("event_id"),
              (col("event_type") === "purchase").as("is_dim"), col("event_type"))
      .as[AsofStreamRow]
    // rowsOut is asserted alongside the map: the map keys by event_id, so a
    // fact emitted through BOTH the inline and joined branches would dedup
    // silently — the count catches duplicate emission (round-16 review)
    def canon(df: org.apache.spark.sql.DataFrame) = {
      val rows = df.collect()
      rows.length -> rows.map(r => r.getLong(0) ->
        (r.getLong(1), r.getString(2), if (r.isNullAt(3)) None else Some(r.getLong(3))))
        .toMap
    }
    def atThreshold(t: Option[String]) = {
      t.foreach(spark.conf.set(graft.streaming.EpochAsof.JoinMinGroupConf, _))
      try canon(withBatchTwsForTest(
        EpochAsof.latestPurchaseAsofEpoch(rows, widthSec = 60L)))
      finally if (t.isDefined)
        spark.conf.unset(graft.streaming.EpochAsof.JoinMinGroupConf)
    }
    val (nDefault, viaDefault) = atThreshold(None)
    assert(nDefault == viaDefault.size, "duplicate event_id in default route")
    // threshold 1 = every group through the marker+join path; threshold 2 =
    // MIXED regime (singleton groups inline, multi-fact groups joined) — the
    // production hot-key shape where one user's window holds both markers
    // and inline facts across epochs
    Seq("1", "2").foreach { t =>
      val (n, via) = atThreshold(Some(t))
      assert(n == nDefault && via == viaDefault,
        s"hybrid route at threshold $t diverges (rows $n vs $nDefault)")
    }
    // and all match the single-level exact as-of
    val (nExact, exact) = canon(withBatchTwsForTest(Streams.latestPurchaseAsof(rows)))
    assert(nExact == nDefault && viaDefault == exact)
  }

  test("state TTL: a conf-driven TTL expires idle per-user state (processing time)") {
    implicit val sq = spark.sqlContext
    withConf(RocksDbProvider) {
      val mem = MemoryStream[graft.streaming.GraftEvent]
      // 150 ms TTL — at 100 TB this is how an unbounded user-id space stops
      // accumulating state forever (Streams.StateTtlConf plumbs the same
      // Option into the registered queries)
      val q = graft.streaming.Streams.userTotalsTws(mem.toDS(), ttlMs = Some(150L))
        .writeStream.format("memory").queryName("ttl_t")
        .outputMode(OutputMode.Update()).start()
      // A ProcessingTime-mode tws stream NEVER quiesces: Spark keeps running
      // no-data batches to advance processing time for TTL eviction, so
      // processAllAvailable would block forever. Poll the sink instead.
      def awaitOutput(cond: => Boolean): Unit = {
        val t0 = System.currentTimeMillis()
        while (!cond) {
          q.exception.foreach(throw _)
          assert(System.currentTimeMillis() - t0 < 120000,
            "timed out waiting for streaming output")
          Thread.sleep(50)
        }
      }
      def rows() = spark.table("ttl_t").where(col("user_id") === 1)
        .collect().map(r => (r.getAs[Long]("n_events"), r.getAs[Long]("max_event_id")))
      try {
        mem.addData(
          graft.streaming.GraftEvent(ts("2024-01-01 10:00:00"), "click", 1, 1),
          graft.streaming.GraftEvent(ts("2024-01-01 10:01:00"), "view", 1, 2))
        awaitOutput(rows().exists(_._1 == 2))
        // 13x the TTL (round-14 ADVICE widened 600→2000 ms): the expiry
        // direction can't flake — wall clock only moves forward — but a wide
        // margin keeps the intent unambiguous on a loaded machine
        Thread.sleep(2000)
        mem.addData(graft.streaming.GraftEvent(ts("2024-01-01 10:30:00"), "view", 1, 3))
        // the post-TTL event arrives on EXPIRED (absent) state: the update it
        // emits restarts at n_events = 1 — carrying event 3's id — instead of
        // extending to 3
        awaitOutput(rows().exists(_._2 == 3))
        val got = rows()
        assert(got.exists(r => r == ((1L, 3L))),
          s"post-TTL state must restart at 1 event: ${got.mkString(",")}")
        assert(!got.exists(_._1 == 3),
          s"expired state must not extend to 3 events: ${got.mkString(",")}")
      } finally q.stop()
    }
  }

  /** RocksDB-scoped runner for the stream_neardup MemoryStream specs:
    * replays `chunks` through [[graft.streaming.StreamNeardup.streamNeardup]]
    * and returns (verdict rows, peak state rows, final state rows). */
  private def runNeardupStream(name: String, chunks: Seq[Seq[NdDoc]],
                               horizonMs: Long, wmDelay: String)
      : (Map[Long, (String, Long)], Long, Long) = {
    implicit val sq = spark.sqlContext
    withConf(RocksDbProvider) {
      val mem = MemoryStream[NdDoc]
      val q = graft.streaming.StreamNeardup.streamNeardup(
          mem.toDF().withWatermark("ts", wmDelay), horizonMs)
        .writeStream.format("memory").queryName(name)
        .outputMode(OutputMode.Append()).start()
      try {
        var peak = 0L
        var fin = 0L
        chunks.foreach { b =>
          mem.addData(b: _*)
          q.processAllAvailable()
          fin = Option(q.lastProgress)
            .map(_.stateOperators.map(_.numRowsTotal).sum).getOrElse(0L)
          peak = math.max(peak, fin)
        }
        val rows = spark.table(name).collect()
          .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2)))).toMap
        (rows, peak, fin)
      } finally q.stop()
    }
  }

  /** RocksDB-scoped runner for the stream_semdedup MemoryStream specs —
    * [[runNeardupStream]]'s shape over
    * [[graft.streaming.StreamSemdedup.streamSemdedup]]. */
  private def runSemdedupStream(name: String, chunks: Seq[Seq[SdVec]],
                                horizonMs: Long, wmDelay: String,
                                cb: Array[graft.streaming.StreamSemdedup.Centroid],
                                numProbe: Int)
      : (Map[Long, (String, Long)], Long, Long) = {
    implicit val sq = spark.sqlContext
    withConf(RocksDbProvider) {
      val mem = MemoryStream[SdVec]
      val q = graft.streaming.StreamSemdedup.streamSemdedup(
          mem.toDF().withWatermark("ts", wmDelay), horizonMs, cb, numProbe)
        .writeStream.format("memory").queryName(name)
        .outputMode(OutputMode.Append()).start()
      try {
        var peak = 0L
        var fin = 0L
        chunks.foreach { b =>
          mem.addData(b: _*)
          q.processAllAvailable()
          fin = Option(q.lastProgress)
            .map(_.stateOperators.map(_.numRowsTotal).sum).getOrElse(0L)
          peak = math.max(peak, fin)
        }
        val rows = spark.table(name).collect()
          .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2)))).toMap
        (rows, peak, fin)
      } finally q.stop()
    }
  }

  test("stream_semdedup: exact-mode fixture replay equals the registered batch twin") {
    // the round-19 admission operator's probe-protocol-in-miniature: the
    // embeddings fixture with ts = vec_id minutes, replayed as multi-vector
    // micro-batches under numProbe = |codebook| (exhaustive candidate
    // generation — the mode where IVF blocking provably loses nothing), must
    // reproduce the relational batch twin (itself DuckDB-oracled at sf0.01),
    // including dup matches whose two vectors arrive in different batches
    import graft.streaming.StreamSemdedup
    val cb = StreamSemdedup.codebook(spark, sfDir)
    assert(cb.length >= 2, "fixture codebook must be non-trivial")
    val vecs = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding").cast("array<float>")).collect()
      .map(r => SdVec(new Timestamp(1600000000000L + r.getLong(0) * 60000L),
        r.getLong(0), r.getSeq[Float](1).toArray))
      .sortBy(_.vec_id)
    assert(vecs.length >= 40, "fixture must be non-trivial")
    val horizonMs = StreamSemdedup.HorizonVecsDefault * 60000L
    val expected = StreamSemdedup.semdedupBatch(spark, sfDir).collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2)))).toMap
    val (got, _, _) = runSemdedupStream("sd_fixture",
      vecs.grouped(25).map(_.toSeq).toSeq, horizonMs, "1 minute",
      cb, cb.length)
    assert(got.size == expected.size, s"${got.size} vs ${expected.size} verdicts")
    val diff = got.toSet diff expected.toSet
    assert(diff.isEmpty, s"streaming diverged from batch twin on ${diff.take(5)}")
    assert(expected.values.exists(_._1 == "dup"),
      "fixture must exercise the dup arm")
  }

  test("stream_semdedup: dup carry across batches, horizon eviction, state cleanup") {
    import graft.streaming.StreamSemdedup
    def t(min: Long) = new Timestamp(1700000000000L + min * 60000L)
    val e1 = Array(1f, 0f, 0f)   // unit x
    val e1b = Array(2f, 0f, 0f)  // same direction, cos = 1
    val e2 = Array(0f, 1f, 0f)   // orthogonal, cos = 0
    val m4 = Array(0f, 0.1f, 1f) // home = z cell
    val m5 = Array(0f, 0.2f, 1f) // home = z cell; cos(m4, m5) ≈ 0.995
    val horizonMs = 60L * 60000L // 60 minutes
    // axis-aligned 3-cell codebook: vectors 0-3 land in the x/y cells, the
    // movers in the z cell — numRowsTotal counts state KEYS, so the
    // watermark sweep is visible as whole cells clearing, not as members
    // shrinking inside one key
    val cb = Array(
      StreamSemdedup.Centroid(0L, Array(1f, 0f, 0f), 1.0),
      StreamSemdedup.Centroid(1L, Array(0f, 1f, 0f), 1.0),
      StreamSemdedup.Centroid(2L, Array(0f, 0f, 1f), 1.0))
    val chunks = Seq(
      Seq(SdVec(t(0), 0L, e1)),
      // cross-batch: colinear copy (cos 1 ≥ τ) and an orthogonal vector
      Seq(SdVec(t(10), 1L, e1b), SdVec(t(20), 2L, e2)),
      // colinear with 0/1 but every earlier copy is beyond the horizon
      // (100−10 = 90 > 60 min): the admission gate must say new
      Seq(SdVec(t(100), 3L, e1)),
      // far-future movers: watermark sails past everything + horizon, the
      // x/y cell sweep timers fire and clear those keys outright
      Seq(SdVec(t(5000), 4L, m4)),
      Seq(SdVec(t(5001), 5L, m5)))
    val (got, peak, fin) = runSemdedupStream("sd_evict", chunks, horizonMs,
      "1 minute", cb, 1)
    assert(got(0L) == (("new", -1L)), s"first vector is new: $got")
    assert(got(1L) == (("dup", 0L)), s"colinear cross-batch copy: $got")
    assert(got(2L) == (("new", -1L)), s"orthogonal vector: $got")
    assert(got(3L) == (("new", -1L)),
      s"copy arriving after the horizon passed must be admitted as new: $got")
    assert(got(4L) == (("new", -1L)) && got(5L) == (("dup", 4L)),
      s"movers share the z cell within horizon at cos ≈ 0.995: $got")
    assert(peak > fin,
      s"swept cells must clear once the watermark passes the horizon (peak=$peak final=$fin)")
  }

  test("stream_neardup: fixture replay equals the registered batch twin") {
    // the probe-protocol-in-miniature pin for the round-18 admission
    // operator: sf0.001 documents with the synthetic ts = doc_id minutes
    // event time, replayed as multi-doc micro-batches — the streaming
    // MinHash-band spelling must reproduce the relational batch twin
    // (itself DuckDB-oracled at sf0.01), INCLUDING matches whose two docs
    // arrive in different micro-batches (cross-batch state carry: fixture
    // near pairs sit 4..429 ids apart, chunks are 10 docs)
    import graft.streaming.StreamNeardup
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text")).collect()
      // timebase off epoch 0: a ts-0 row is indistinguishable from the
      // initial watermark and the streaming machinery drops it silently
      .map(r => NdDoc(new Timestamp(1600000000000L + r.getLong(0) * 60000L),
        r.getLong(0), r.getString(1)))
      .sortBy(_.doc_id)
    assert(docs.length >= 40, "fixture must be non-trivial")
    val horizonMs = StreamNeardup.HorizonDocsDefault * 60000L
    val expected = StreamNeardup.admitNeardupBatch(spark, sfDir).collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2)))).toMap
    val (got, _, _) = runNeardupStream("nd_fixture",
      docs.grouped(10).map(_.toSeq).toSeq, horizonMs, "1 minute")
    assert(got.size == expected.size, s"${got.size} vs ${expected.size} verdicts")
    val diff = got.toSet diff expected.toSet
    assert(diff.isEmpty, s"streaming diverged from batch twin on ${diff.take(5)}")
    assert(expected.values.exists(_._1 == "near_dup"),
      "fixture must exercise the near_dup arm")
  }

  test("stream_neardup: band cap above occupancy reproduces the uncapped verdicts") {
    // the mega-cluster guard must be invisible on a non-hot stream: with
    // the cap comfortably above every band key's horizon occupancy, the
    // capped replay equals the registered batch twin exactly
    import graft.streaming.StreamNeardup
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text")).collect()
      .map(r => NdDoc(new Timestamp(1600000000000L + r.getLong(0) * 60000L),
        r.getLong(0), r.getString(1)))
      .sortBy(_.doc_id)
    val horizonMs = StreamNeardup.HorizonDocsDefault * 60000L
    val expected = StreamNeardup.admitNeardupBatch(spark, sfDir).collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2)))).toMap
    spark.conf.set(StreamNeardup.StreamBandCapConf, "1000")
    try {
      val (got, _, _) = runNeardupStream("nd_cap_wide",
        docs.grouped(50).map(_.toSeq).toSeq, horizonMs, "1 minute")
      assert((got.toSet diff expected.toSet).isEmpty,
        s"high-cap replay diverged from the batch twin")
    } finally spark.conf.unset(StreamNeardup.StreamBandCapConf)
  }

  test("stream_neardup: band cap pins the capped-subset trade (lost match after the kept copy expires)") {
    // cap=1 keeps only the EARLIEST copy per band key: the second identical
    // doc still matches (the kept copy is the min-id match anyway), but a
    // third copy arriving after the kept one expired — while the CAPPED-OUT
    // second copy is still in horizon — reads `new` where the uncapped
    // operator answers exact_dup(second copy). This is the documented
    // recall trade of the guard, not a bug.
    import graft.streaming.StreamNeardup
    def t(min: Long) = new Timestamp(1700000000000L + min * 60000L)
    val base = (1 to 20).map(i => s"cap$i").mkString(" ")
    val horizonMs = 60L * 60000L
    val chunks = Seq(
      Seq(NdDoc(t(0), 0L, base)),
      Seq(NdDoc(t(10), 1L, base)),
      // doc 0 expired (100 > 60), doc 1 in horizon (90... no: 100-10=90>60):
      // push doc 2 to t(65): 65-0=65>60 expired, 65-10=55<=60 in horizon
      Seq(NdDoc(t(65), 2L, base)),
      Seq(NdDoc(t(5000), 3L, "far mover keeps the final batch non-empty")))
    val uncapped = runNeardupStream("nd_cap_off", chunks, horizonMs, "1 minute")._1
    assert(uncapped(2L) == (("exact_dup", 1L)),
      s"uncapped: doc 2 matches the surviving copy: $uncapped")
    spark.conf.set(StreamNeardup.StreamBandCapConf, "1")
    try {
      val capped = runNeardupStream("nd_cap_on", chunks, horizonMs, "1 minute")._1
      assert(capped(0L) == (("new", -1L)) && capped(1L) == (("exact_dup", 0L)),
        s"capped: kept earliest copy still answers the min-id match: $capped")
      assert(capped(2L) == (("new", -1L)),
        s"capped: doc 1 was capped out, so after doc 0 expires the match is lost: $capped")
      // subset property: capping never invents a match
      capped.foreach { case (id, (v, m)) =>
        assert(v == uncapped(id)._1 || v == "new",
          s"capped verdict must be the uncapped one or a downgrade to new: $id")
      }
    } finally spark.conf.unset(StreamNeardup.StreamBandCapConf)
  }

  test("stream_neardup: exact dups across batches, horizon eviction, state cleanup") {
    import graft.streaming.StreamNeardup
    def t(min: Long) = new Timestamp(1700000000000L + min * 60000L)
    val base = (1 to 20).map(i => s"tok$i").mkString(" ") // 16 shingles
    val near = base + " tok21" // 17 shingles, inter 16 → J = 16/17 ≈ 0.94
    val far = (1 to 20).map(i => s"other$i").mkString(" ")
    val horizonMs = 60L * 60000L // 60 minutes
    val chunks = Seq(
      Seq(NdDoc(t(0), 0L, base)),
      // cross-batch: exact (identical text) and near (one appended token)
      Seq(NdDoc(t(10), 1L, base), NdDoc(t(20), 2L, near)),
      // unrelated doc keeps the stream moving
      Seq(NdDoc(t(30), 3L, far)),
      // identical to doc 0/1 but EVERY earlier copy is beyond the horizon
      // (100−10 = 90 > 60 min): the admission gate must say new
      Seq(NdDoc(t(100), 4L, base)),
      // far-future mover: watermark sails past everything + horizon, so
      // the band sweep timers fire and evict the dead members
      Seq(NdDoc(t(5000), 5L, "mover doc with six tokens")),
      Seq(NdDoc(t(5001), 6L, "second mover keeps the final batch non-empty")))
    val (got, peak, fin) = runNeardupStream("nd_evict", chunks, horizonMs, "1 minute")
    assert(got(0L) == (("new", -1L)), s"first copy is new: $got")
    assert(got(1L) == (("exact_dup", 0L)), s"identical cross-batch copy: $got")
    assert(got(2L) == (("near_dup", 0L)), s"J=16/17 appended-token copy: $got")
    assert(got(3L) == (("new", -1L)), s"unrelated doc: $got")
    assert(got(4L) == (("new", -1L)),
      s"copy arriving after the horizon passed must be admitted as new: $got")
    // watermark eviction is real state removal, not just comparison
    // filtering: after the movers push the watermark past every earlier
    // doc's ts + horizon, the band members of docs 0-4 are swept
    assert(peak > fin,
      s"state must shrink once the watermark passes the horizon (peak=$peak final=$fin)")
  }
}
