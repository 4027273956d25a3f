package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.{OutputMode, TimeMode, TimerValues, ValueState}

/** Two-level-key skew escape for the stateful streaming as-of family
  * (round 16 — the round-15 verdict's one unbuilt item, later extended to
  * the out-of-order member): the same enrichment contract as
  * [[LatestDimAsofProcessor]] (each fact gets the user's most recent dim
  * at-or-before its event time, dim side unbounded; in-order stream for
  * the [[EpochLocalAsofProcessor]] spelling, watermark-bounded disorder
  * for [[EpochBufferedAsofProcessor]]), but keyed so that ONE hot user no
  * longer serializes its whole stream through a single task.
  *
  * Why: keyed-state operators process each key in one task. The round-15
  * hot-key probe measured a 50%-hot key costing 2.6× (`stream_asof_state`) /
  * 3.8× (`stream_asof_buffered`) at 64× events — one task sorting and
  * scanning 19M rows while 31 cores idle. No salting can apply, because the
  * state IS per-key. The escape (BASELINE.md hot-key section) exploits the
  * one structural property of as-of state: the cross-epoch dependency is
  * only the latest-dim PREFIX at each epoch boundary.
  *
  * Pass 1 — keyed by (user_id, epoch(ts)), epoch = floor(ts / width): the
  * hot user's rows split across epochs and sort/scan IN PARALLEL. Per-key
  * state is the epoch-local monotone latest-dim. Facts with a dim
  * at-or-before them in their OWN epoch resolve here (the common case —
  * emitted as kind=[[AsofEpochMid.Resolved]]); facts before their epoch's
  * first dim emit kind=Unresolved; whenever the epoch-local latest-dim
  * advances, a kind=Summary row (epoch, ts_us, pid) is emitted — at most
  * one per key per micro-batch, O(#epochs) rows total.
  *
  * Pass 2 — keyed by a split key: Resolved facts key by a pass-through
  * bucket of their event_id (hash-parallel, never touches state — see
  * [[BoundaryResolveProcessor]] for the bucket rationale);
  * Unresolved facts and Summaries key by user_id. Per-user state is ONE
  * monotone [[LastDimState]] — the running max over epoch summaries, i.e.
  * the boundary prefix. A batch's rows process in (epoch, kind) order:
  * facts of epoch e resolve against the prefix BEFORE summaries of epoch e
  * merge into it, so a fact never sees its own epoch's dims twice (pass 1
  * already proved none precede it).
  *
  * Correctness under the in-order contract (same as the single-level
  * variant): a fact arrives after every dim at-or-before its timestamp, so
  * when an Unresolved fact of epoch e reaches pass 2, every dim of epochs
  * < e has already arrived, pass 1 has emitted its epoch's summary in the
  * same or an earlier micro-batch, and epoch-ascending processing merges it
  * into the prefix first. Summaries of epochs ≥ e can never have merged
  * early: a dim of a later epoch has a later timestamp than the fact, so it
  * arrives after it (same batch at most — where the epoch sort defers it);
  * a dim of epoch e at-or-before the fact would have resolved it in pass 1.
  * Late dims degrade exactly like the single-level monotone state: applied
  * iff they advance the epoch-local state and then the prefix, both
  * max-by-(ts_us, pid).
  *
  * Cost: one extra shuffle (pass-2 regroup) and a second stateful operator
  * that EVERY workload pays — which is why this is a library a caller
  * invokes directly (with the epoch width in seconds), not the registered
  * spelling: the measured skew penalty (2.6-3.8× on a 50%-hot stream) is
  * survivable, and a production job reaches for the two-level spelling
  * when its key histogram says so.
  * Width tuning: #epochs per hot key should comfortably exceed the core
  * count; each epoch's rows must fit a task (the same bound the watermark
  * horizon already imposes on the buffered variant). One more density
  * precondition for the STREAMING spelling: the parallel pass-1 win
  * requires dims at least as frequent as the epoch width for the hot key —
  * with dims much rarer (daily purchases, hourly epochs) most facts emit
  * Unresolved and pass 2 processes them per-user again, serially WITHIN
  * each micro-batch (cross-batch state stays O(1); the per-batch sort is
  * bounded by the micro-batch size, not the key's history — a real bound,
  * but a smaller win). The BATCH twin does not share this precondition:
  * its HYBRID boundary resolve routes each unresolved (user, epoch) group
  * by size (stamped free by pass 1) — big groups (the hot-key sparse-dim
  * cliff) contribute one marker to the per-user prefix window and
  * hash-join their facts back in parallel; small groups (the
  * measured-dominant singleton regime) resolve inline in the window at
  * the original cost. See the `joinMinGroup` argument of
  * [[EpochAsof.latestPurchaseAsofEpoch]].
  */
object AsofEpochMid {
  val Resolved = 0
  val Unresolved = 1
  val Summary = 2
  /** Streaming-hybrid routing rows (round 18 — the batch twin's hybrid
    * ported to the streaming pass 2, SURVEY open edge (a)): a pass-1 group
    * whose per-batch unresolved count reaches the threshold re-tags
    * its unresolved facts [[UnresolvedBig]] (they bypass the per-user
    * pass-2a group via the pass-through buckets) and emits ONE [[Marker]]
    * (user, epoch) row; pass 2a resolves the marker against the boundary
    * prefix exactly like a fact, and the stateless pass 2b re-unites the
    * big facts with their marker's prefix keyed by (user, epoch) —
    * parallel across epochs, which is the whole point. */
  val Marker = 3
  val UnresolvedBig = 4

  /** Pass-1 exit routing for the streaming hybrid: count this batch's
    * unresolved facts; at/above the threshold re-tag them UnresolvedBig and
    * append the epoch's marker. Below it (or threshold 0 = hybrid off) the
    * rows pass unchanged — the measured-dominant small-group regime pays
    * nothing. */
  private[streaming] def routeBig(built: Vector[AsofEpochMid], user: Long,
                                  epoch: Long, threshold: Long): Iterator[AsofEpochMid] =
    if (threshold <= 0 ||
        built.count(_.kind == Unresolved) < threshold) built.iterator
    else built.iterator.map(r =>
      if (r.kind == Unresolved) r.copy(kind = UnresolvedBig) else r) ++
      Iterator.single(AsofEpochMid(Marker, user, epoch, 0L, "", 0L, None))
}

/** Pass-1 output / pass-2 input row. kind: 0 = fact resolved in-epoch (pid
  * set), 1 = fact needing the boundary prefix (pid empty), 2 = epoch
  * summary (ts_us + pid of the epoch-local latest dim). `gn` is stamped on
  * Unresolved rows only: the number of unresolved facts in this row's
  * (user, epoch) group — pass 1 knows it for free, and the batch twin's
  * hybrid boundary resolve routes on it without any extra shuffle (small
  * groups resolve inline in the prefix window, big groups go the parallel
  * marker+join path). In streaming it is the per-micro-batch group count
  * and is ignored. */
case class AsofEpochMid(kind: Int, user_id: Long, epoch: Long, event_id: Long,
                        event_type: String, ts_us: Long, pid: Option[Long],
                        gn: Long = 0L)

/** Pass 1: epoch-local as-of, keyed by (user_id, epoch). State is one
  * monotone O(1) [[LastDimState]] per (user, epoch).
  *
  * `batchMode = true` (the batch twin) skips the state store
  * entirely: in batch every key arrives in ONE call, so the state cell can
  * never be read back — yet paying a RocksDB read+write per (user, epoch)
  * group is the twin's dominant cost at scale (6.4M groups at the 64×
  * events probe). Same finalize-directly precedent as
  * [[BufferedAsofProcessor]]'s batch path (measured 5.3× there). */
class EpochLocalAsofProcessor(batchMode: Boolean, ttlMs: Option[Long] = None,
                              streamBigGroup: Long = 0L)
    extends org.apache.spark.sql.streaming.StatefulProcessor[(Long, Long), AsofStreamRow, AsofEpochMid] {
  @transient private var last: ValueState[LastDimState] = _

  // TTL matters MORE here than in the single-level spelling: state is
  // per-(user, epoch), so a long-running stream accretes keys linearly with
  // elapsed time (users × epochs) and an epoch's state is dead weight the
  // moment its facts stop arriving — honor the same ttlMs the single-level
  // path does (round-16 review: it was silently dropped)
  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    last = getHandle.getValueState[LastDimState]("epochDim",
      org.apache.spark.sql.Encoders.product[LastDimState], StateTtl.config(ttlMs))

  import LastDimState.{micros, advances}

  override def handleInputRows(key: (Long, Long), rows: Iterator[AsofStreamRow],
                               tv: TimerValues): Iterator[AsofEpochMid] = {
    val (user, epoch) = key
    val sorted = rows.toSeq.sortBy(r => (micros(r.ts), if (r.is_dim) 0 else 1, r.event_id))
    val before = if (!batchMode && last.exists()) Some(last.get()) else None
    var cur = before
    val out = Vector.newBuilder[AsofEpochMid]
    sorted.foreach { r =>
      if (r.is_dim) {
        val c = LastDimState(micros(r.ts), r.event_id)
        if (advances(cur, c)) cur = Some(c)
      } else cur match {
        case Some(c) => out += AsofEpochMid(AsofEpochMid.Resolved, user, epoch,
          r.event_id, r.event_type, 0L, Some(c.pid))
        case None => out += AsofEpochMid(AsofEpochMid.Unresolved, user, epoch,
          r.event_id, r.event_type, 0L, None)
      }
    }
    if (cur != before) {
      if (!batchMode) cur.foreach(last.update)
      cur.foreach(c => out += AsofEpochMid(AsofEpochMid.Summary, user, epoch,
        0L, "", c.ts_us, Some(c.pid)))
    }
    // stamp each Unresolved row with its group's unresolved count — the
    // routing signal for the batch twin's hybrid boundary resolve (free
    // here; an extra aggregation+join downstream would cost a shuffle).
    // Batch only: the streaming pass 2 ignores gn, so don't pay the
    // count+copy traversal per micro-batch group there (round-16 review)
    val built = out.result()
    if (batchMode) {
      val nUnres = built.count(_.kind == AsofEpochMid.Unresolved).toLong
      (if (nUnres == 0) built
       else built.map(r =>
         if (r.kind == AsofEpochMid.Unresolved) r.copy(gn = nUnres) else r)).iterator
    } else AsofEpochMid.routeBig(built, user, epoch, streamBigGroup)
  }
}

/** Watermark-buffered pass 1 for OUT-OF-ORDER streams (round 16, SURVEY
  * open edge (a)): the epoch-keyed twin of [[BufferedAsofProcessor]] —
  * rows buffer per (user, epoch) until the event-time watermark passes
  * them, then finalize against the epoch-local monotone latest-dim exactly
  * like [[EpochLocalAsofProcessor]], emitting Resolved / Unresolved /
  * Summary mid rows for [[BoundaryResolveProcessor]].
  *
  * Cross-epoch ordering holds WITHOUT an in-order input contract: a fact
  * of epoch e finalizes only once the watermark passes its timestamp, and
  * every prefix dim (epochs < e) has a strictly smaller timestamp, so its
  * Summary finalizes in the same or an earlier micro-batch — and pass 2
  * merges a batch's rows in (epoch, kind) order, so same-batch arrivals
  * resolve correctly too. A dim later than the watermark horizon degrades
  * exactly like the single-level monotone state: applied iff it still
  * advances (epoch-local, then prefix).
  *
  * The buffering mechanics (partition-by-watermark, rewrite-skip on
  * no-flush batches, single armed timer per key, the max(wm, expiry) fired-
  * timer proof) copy [[BufferedAsofProcessor]] — see its docs for why each
  * exists; they are measured/pinned there.
  *
  * State lifecycle (round-17, the round-16 ADVICE item): unlike the
  * single-level spelling — whose `lastDim` key space is bounded by #users —
  * this processor's keys are (user, epoch), a space that grows linearly
  * with ELAPSED TIME. TTL can't bound it (Spark allows state TTL only
  * under ProcessingTime; the buffered flush needs EventTime), so the bound
  * is an event-time CLEANUP TIMER per key at the epoch's upper bound + 1 ms:
  * it fires once the eviction watermark passes the epoch's end — the
  * moment after which any further row for this epoch is by definition late
  * (its timestamp lies inside the epoch, hence behind the watermark) and
  * already degrades by the documented late-row contract — drains whatever
  * the horizon still buffers, and clears the `epochDim` cell, removing the
  * key entirely. Live state is therefore O(users × epochs-inside-the-
  * watermark-horizon), not O(users × elapsed epochs). One explicit delta
  * vs the pre-cleanup-timer version (round-17 ADVICE): after a key's
  * cleanup fires and clears `epochDim`, a late fact for that epoch
  * resolves via the pass-2 BOUNDARY PREFIX (the cross-epoch monotone max)
  * instead of the epoch-local dim the retained cell would have supplied —
  * still inside the documented late-row degradation contract (both are
  * max-by-(ts_us, pid) prefixes of the same stream), but behind-watermark
  * rows can now see a LATER dim through the prefix where the old version
  * pinned them to their own epoch's retained state. The cleanup expiry
  * can never collide with a row-drain timer: drain timers are
  * (min buffered ts ms + 1) ≤ epoch-end ms (rows live inside their epoch
  * by key construction), strictly below epoch-end + 1.
  *
  * Upgrade caveat (round-17 review): a checkpoint written by the
  * PRE-cleanup-timer version can hold already-drained keys (epochDim set,
  * no buffer, no timers); after restart those keys are unreachable — no
  * future input (their epoch is behind the watermark) and no timer — so
  * the O(horizon) bound applies to keys touched under THIS version, while
  * pre-upgrade drained keys keep their one small cell. A fresh checkpoint
  * (the normal operational posture for a processor change) has no such
  * residue. */
class EpochBufferedAsofProcessor(widthSec: Long, streamBigGroup: Long = 0L)
    extends org.apache.spark.sql.streaming.StatefulProcessor[(Long, Long), AsofStreamRow, AsofEpochMid] {
  import org.apache.spark.sql.streaming.{ExpiredTimerInfo, ListState, TTLConfig}
  @transient private var last: ValueState[LastDimState] = _
  @transient private var buf: ListState[AsofStreamRow] = _
  @transient private var runId: java.util.UUID = _

  // TTL-less like BufferedAsofProcessor (TTL needs ProcessingTime, the
  // buffered flush needs EventTime); the state bound is the cleanup timer
  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
    last = getHandle.getValueState[LastDimState]("epochDim",
      org.apache.spark.sql.Encoders.product[LastDimState], TTLConfig.NONE)
    buf = getHandle.getListState[AsofStreamRow]("buffer",
      org.apache.spark.sql.Encoders.product[AsofStreamRow], TTLConfig.NONE)
    runId = BufferedAsofProcessor.runIdOf(getHandle)
  }

  /** First ms at which this key's state-cleanup timer may fire: strictly
    * after the last possible row-drain timer of the epoch (see class doc). */
  private def cleanupAt(epoch: Long): Long = (epoch + 1L) * widthSec * 1000L + 1L

  import LastDimState.{micros, advances}

  private def finalizeRows(key: (Long, Long),
                           ready: Vector[AsofStreamRow]): Iterator[AsofEpochMid] =
    if (ready.isEmpty) Iterator.empty
    else {
      val (user, epoch) = key
      val before = if (last.exists()) Some(last.get()) else None
      var cur = before
      val out = Vector.newBuilder[AsofEpochMid]
      ready.sortBy(r => (micros(r.ts), if (r.is_dim) 0 else 1, r.event_id))
        .foreach { r =>
          if (r.is_dim) {
            val c = LastDimState(micros(r.ts), r.event_id)
            if (advances(cur, c)) cur = Some(c)
          } else cur match {
            case Some(c) => out += AsofEpochMid(AsofEpochMid.Resolved, user,
              epoch, r.event_id, r.event_type, 0L, Some(c.pid))
            case None => out += AsofEpochMid(AsofEpochMid.Unresolved, user,
              epoch, r.event_id, r.event_type, 0L, None)
          }
        }
      if (cur != before) {
        cur.foreach(last.update)
        cur.foreach(c => out += AsofEpochMid(AsofEpochMid.Summary, user, epoch,
          0L, "", c.ts_us, Some(c.pid)))
      }
      AsofEpochMid.routeBig(out.result(), user, epoch, streamBigGroup)
    }

  /** Like [[BufferedAsofProcessor.flush]] with the MERGED single-timer
    * scheme (round 18, round-17 verdict item 3 — the A/B on buf_epoch's
    * per-key mechanics): instead of keeping a cleanup timer armed per key
    * ALONGSIDE the drain timer — two timer-CF entries and up to two
    * register/delete round trips per transition on every one of the
    * horizon's live (user, epoch) keys — each key holds exactly ONE armed
    * timer: the drain want (buffer-min + 1) while the buffer is nonempty,
    * the cleanup expiry (epoch-end + 1) once it drains. Sound because
    * drain wants are ≤ epoch-end < cleanup (rows live inside their epoch
    * by key construction), so the drain timer always fires first, and the
    * flush that empties the buffer re-arms at cleanup. A flush that drains
    * everything AFTER the watermark already passed the epoch's end
    * (wm > cleanup — the big-jump and late-row paths) finishes the cleanup
    * INLINE (clears `epochDim`, leaves no timers) instead of registering
    * an already-expired timer. `armCleanup = false` only on the cleanup
    * fire itself — Spark auto-removes a fired timer, and re-arming there
    * would leak an eternal timer for a key whose state is gone. */
  private def flush(key: (Long, Long), wmMs: Long,
                    armCleanup: Boolean = true,
                    armedPre: Option[Set[Long]] = None): Iterator[AsofEpochMid] = {
    val cleanup = cleanupAt(key._2)
    val (ready, rest) = buf.get().toVector.partition(_.ts.getTime < wmMs)
    val armed = armedPre.getOrElse(
      getHandle.listTimers().map(_.asInstanceOf[Long]).toSet)
    // finalize FIRST: it may advance `epochDim`, and the inline-cleanup
    // path below must clear the cell AFTER that advance, not before
    val out = finalizeRows(key, ready)
    if (rest.isEmpty) {
      buf.clear()
      if (armCleanup && wmMs < cleanup) {
        armed.iterator.filter(_ != cleanup).foreach(getHandle.deleteTimer)
        if (!armed.contains(cleanup)) getHandle.registerTimer(cleanup)
      } else {
        // cleanup fire, or the watermark already at/past the epoch's end:
        // the key's state ends here — no buffer, no dim cell, no timers.
        // On the fire path the fired expiry is auto-removed by Spark, so
        // it is excluded from the explicit deletes.
        val autoRemoved = if (armCleanup) Set.empty[Long] else Set(cleanup)
        armed.iterator.filterNot(autoRemoved).foreach(getHandle.deleteTimer)
        if (armCleanup && last.exists()) {
          last.clear()
          EpochBufferedAsofProcessor.bumpCleanup(runId)
        }
      }
    } else {
      if (ready.nonEmpty) buf.put(rest.toArray)
      val want = rest.iterator.map(_.ts.getTime).min + 1L
      // the filter also deletes a legacy armed cleanup (pre-merge
      // checkpoints) — under the single-timer invariant there is nothing
      // else to delete
      armed.iterator.filter(_ != want).foreach(getHandle.deleteTimer)
      if (!armed.contains(want)) getHandle.registerTimer(want)
    }
    out
  }

  override def handleInputRows(key: (Long, Long), rows: Iterator[AsofStreamRow],
                               tv: TimerValues): Iterator[AsofEpochMid] = {
    val incoming = rows.toArray
    val wm = tv.getCurrentWatermarkInMs()
    // READ-skip, same invariant as [[BufferedAsofProcessor]]: drain timers
    // sit at the buffer's min-ts + 1, so wm below them AND below every
    // incoming row means nothing can finalize — append without the
    // O(horizon) buffer read. The CLEANUP expiry is excluded from the
    // drain-min (it marks the epoch's end, not the buffer front); a
    // wm past the epoch's end can never skip, because any incoming row
    // then lies behind the watermark (its ts is inside the epoch).
    val cleanup = cleanupAt(key._2)
    val armed = getHandle.listTimers().map(_.asInstanceOf[Long]).toSet
    val drains = armed - cleanup
    val skip = drains.nonEmpty && wm < drains.min &&
      incoming.forall(_.ts.getTime >= wm)
    buf.appendList(incoming)
    if (skip) {
      val want =
        if (incoming.isEmpty) drains.min
        else math.min(drains.min, incoming.iterator.map(_.ts.getTime).min + 1L)
      if (want != drains.min) {
        drains.foreach(getHandle.deleteTimer)
        getHandle.registerTimer(want)
      }
      // single-timer scheme: a nonempty buffer holds the drain timer only —
      // a legacy cleanup (pre-merge checkpoint) is dropped on first touch
      if (armed.contains(cleanup) && drains.nonEmpty)
        getHandle.deleteTimer(cleanup)
      Iterator.empty
    } else flush(key, wm, armedPre = Some(armed))
  }

  override def handleExpiredTimer(key: (Long, Long), tv: TimerValues,
                                  info: ExpiredTimerInfo): Iterator[AsofEpochMid] = {
    val wm = math.max(tv.getCurrentWatermarkInMs(), info.getExpiryTimeInMs())
    // exclude the FIRING timer from the armed view: listTimers still
    // reports it mid-fire but Spark auto-removes it after the callback,
    // and deleting it again WARNs once per fired timer per key (measured
    // 6.1M log lines / ~800 MB log I/O in one 64× buffered probe run)
    val armed = getHandle.listTimers().map(_.asInstanceOf[Long]).toSet -
      info.getExpiryTimeInMs()
    if (info.getExpiryTimeInMs() == cleanupAt(key._2)) {
      // the watermark passed the epoch's end: drain everything (wm ≥
      // epoch-end + 1 covers every row of this epoch) and drop the
      // epochDim cell — the key's state is now empty and it holds no
      // timers, so it is fully removed from the store
      val out = flush(key, wm, armCleanup = false, armedPre = Some(armed))
      if (last.exists()) {
        last.clear()
        EpochBufferedAsofProcessor.bumpCleanup(runId)
      }
      out
    } else flush(key, wm, armedPre = Some(armed))
  }
}

object EpochBufferedAsofProcessor {
  /** Dev diagnostic mirroring [[BufferedAsofProcessor.stateRewrites]]
    * (per-run scoped for the same verdict-#4 reason): `epochDim` cells
    * cleared by fired cleanup timers — the StreamingSpec state-lifecycle
    * case pins that a watermark passing an epoch's end actually removes
    * its state. Not part of the library surface. */
  private val cleanups =
    new java.util.concurrent.ConcurrentHashMap[java.util.UUID, java.util.concurrent.atomic.AtomicLong]

  private[streaming] def bumpCleanup(runId: java.util.UUID): Unit =
    if (StreamDiag.enabled)
      cleanups.computeIfAbsent(runId, _ => new java.util.concurrent.atomic.AtomicLong)
        .incrementAndGet()

  /** Epoch-dim cells cleared by the run with this id (0 if none yet). */
  def stateCleanups(runId: java.util.UUID): Long =
    Option(cleanups.get(runId)).fold(0L)(_.get())
}

/** Pass 2: boundary resolution. Split key: (true, bucket) rows are
  * resolved facts passing through stateless and parallel; (false, user_id)
  * rows are the user's summaries + unresolved facts, resolved against the
  * per-user monotone boundary prefix in (epoch, kind) order.
  *
  * The pass-through bucket (round 17): resolved facts — the BULK of the
  * stream — need a key only to ride the keyed-state operator; keying each
  * by its own event_id made every fact a one-row state-op group (5.1M
  * groups per 64× probe run, each paying the per-group iterator/dispatch
  * overhead even though the branch never touches state). Keying by
  * event_id % [[EpochAsof.PassThroughBuckets]] keeps the same shuffle
  * volume and full partition parallelism (buckets ≫ cores, hash-spread)
  * while collapsing group count ~5000×; emitted rows are identical (the
  * branch is a map). */
class BoundaryResolveProcessor(ttlMs: Option[Long] = None)
    extends org.apache.spark.sql.streaming.StatefulProcessor[(Boolean, Long), AsofEpochMid, (Long, Long, String, Option[Long])] {
  @transient private var prefix: ValueState[LastDimState] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    prefix = getHandle.getValueState[LastDimState]("boundaryPrefix",
      org.apache.spark.sql.Encoders.product[LastDimState], StateTtl.config(ttlMs))

  import LastDimState.advances

  override def handleInputRows(key: (Boolean, Long), rows: Iterator[AsofEpochMid],
                               tv: TimerValues): Iterator[(Long, Long, String, Option[Long])] =
    if (key._1) // pass-through: never reads or writes state
      rows.map(r => (r.event_id, r.user_id, r.event_type, r.pid))
    else {
      // facts of epoch e (kind 1) sort before summaries of epoch e (kind 2):
      // the prefix a fact sees is exactly the epochs strictly before its own
      val sorted = rows.toSeq.sortBy(r => (r.epoch, r.kind, r.event_id))
      val before = if (prefix.exists()) Some(prefix.get()) else None
      var cur = before
      val out = Vector.newBuilder[(Long, Long, String, Option[Long])]
      sorted.foreach { r =>
        if (r.kind == AsofEpochMid.Unresolved)
          out += ((r.event_id, r.user_id, r.event_type, cur.map(_.pid)))
        else {
          val c = LastDimState(r.ts_us, r.pid.get)
          if (advances(cur, c)) cur = Some(c)
        }
      }
      if (cur != before) cur.foreach(prefix.update)
      out.result().iterator
    }
}

/** Hybrid pass 2a (round 18 — the batch twin's small-group-inline /
  * big-group-parallel routing ported to STREAMING, round-17 verdict item 2):
  * same split key and per-user boundary-prefix state as
  * [[BoundaryResolveProcessor]], but emitting [[AsofEpochMid]] so a third
  * stateless operator ([[EpochJoinResolveProcessor]]) can finish the big
  * groups. Branches:
  *   - pass-through (true, bucket): Resolved facts (already final) and
  *     UnresolvedBig facts (awaiting their marker) flow untouched — the
  *     sparse-dim hot key's bulk rides the hash-parallel buckets instead
  *     of re-serializing through its (false, user) group;
  *   - (false, user): small Unresolved facts resolve inline against the
  *     prefix (emitted as kind=Resolved — possibly with an empty pid, the
  *     legitimate no-dim-yet answer); each [[AsofEpochMid.Marker]] is
  *     resolved EXACTLY like a fact of its epoch (prefix of epochs
  *     strictly before it — markers rank with facts, before their own
  *     epoch's summary) and re-emitted carrying the prefix; Summaries
  *     advance the monotone state as before.
  * The per-user group under a sparse-dim hot key thus holds only
  * summaries + markers + whatever stayed small — O(#epochs per batch),
  * not O(hot facts per batch). */
class BoundaryResolveMidProcessor(ttlMs: Option[Long] = None)
    extends org.apache.spark.sql.streaming.StatefulProcessor[(Boolean, Long), AsofEpochMid, AsofEpochMid] {
  @transient private var prefix: ValueState[LastDimState] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    prefix = getHandle.getValueState[LastDimState]("boundaryPrefix",
      org.apache.spark.sql.Encoders.product[LastDimState], StateTtl.config(ttlMs))

  import LastDimState.advances

  override def handleInputRows(key: (Boolean, Long), rows: Iterator[AsofEpochMid],
                               tv: TimerValues): Iterator[AsofEpochMid] =
    if (key._1) rows // pass-through: never reads or writes state
    else {
      // consumers (facts AND markers) of epoch e sort before e's summary:
      // the prefix either sees is exactly the epochs strictly before its own
      val sorted = rows.toSeq.sortBy(r =>
        (r.epoch, if (r.kind == AsofEpochMid.Summary) 1 else 0, r.event_id))
      val before = if (prefix.exists()) Some(prefix.get()) else None
      var cur = before
      val out = Vector.newBuilder[AsofEpochMid]
      sorted.foreach { r =>
        if (r.kind == AsofEpochMid.Unresolved)
          out += r.copy(kind = AsofEpochMid.Resolved, pid = cur.map(_.pid))
        else if (r.kind == AsofEpochMid.Marker)
          out += r.copy(pid = cur.map(_.pid))
        else {
          val c = LastDimState(r.ts_us, r.pid.get)
          if (advances(cur, c)) cur = Some(c)
        }
      }
      if (cur != before) cur.foreach(prefix.update)
      out.result().iterator
    }
}

/** Hybrid pass 2b: the stateless re-unite. Split key: (true, bucket, 0)
  * rows are final (kind=Resolved from pass 1 or 2a) and map straight to the
  * output tuple; (false, user, epoch) groups hold one prefix-resolved
  * [[AsofEpochMid.Marker]] plus the epoch's UnresolvedBig facts — always
  * co-batched, because pass 1 emits a group's marker and its big facts from
  * the same per-batch call and the chained operators run synchronously
  * within a micro-batch — so no state is needed: facts buffer only until
  * the marker is seen in the group iterator, then stream out with the
  * marker's prefix. This is what makes the hot key PARALLEL again: its
  * facts split across (user, epoch) groups instead of one (user) group.
  * Defensive: a markerless group (impossible under the construction above)
  * degrades to the no-prefix answer rather than throwing. */
class EpochJoinResolveProcessor
    extends org.apache.spark.sql.streaming.StatefulProcessor[(Boolean, Long, Long), AsofEpochMid, (Long, Long, String, Option[Long])] {
  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = ()

  override def handleInputRows(key: (Boolean, Long, Long), rows: Iterator[AsofEpochMid],
                               tv: TimerValues): Iterator[(Long, Long, String, Option[Long])] =
    if (key._1) rows.map(r => (r.event_id, r.user_id, r.event_type, r.pid))
    else {
      var marker: Option[Option[Long]] = None
      val held = scala.collection.mutable.ArrayBuffer.empty[AsofEpochMid]
      while (rows.hasNext && marker.isEmpty) {
        val r = rows.next()
        if (r.kind == AsofEpochMid.Marker) marker = Some(r.pid) else held += r
      }
      val pfx = marker.getOrElse(None)
      (held.iterator ++ rows.filter(_.kind != AsofEpochMid.Marker))
        .map(r => (r.event_id, r.user_id, r.event_type, pfx))
    }
}

/** The two-level spelling of the stateful as-of family, called directly
  * with the epoch width in SECONDS (e.g. 3600 = hourly epochs). Two
  * cost-only routing thresholds are arguments; any value produces the same
  * rows (StreamingSpec pins each route at threshold 1, which forces
  * everything through the join path):
  *
  *  - `joinMinGroup` (batch twin, default 32): an unresolved (user, epoch)
  *    group with at least this many facts resolves via the parallel
  *    marker+join path; smaller groups resolve inline in the prefix window
  *    (the cheaper plan — the join path costs an extra shuffle of the
  *    routed rows).
  *  - `streamJoinMinGroup` (streaming, round 18 — round-17 verdict item 2;
  *    default 0 = off): a pass-1 group whose PER-BATCH unresolved count
  *    reaches this value routes through the marker+join pass-2b path
  *    ([[AsofEpochMid.routeBig]], [[BoundaryResolveMidProcessor]],
  *    [[EpochJoinResolveProcessor]]) instead of re-serializing through its
  *    user's pass-2 group. Off keeps the two-operator chain — the hybrid
  *    adds a third shuffle + operator hop that EVERY row pays, which the
  *    dense-dim regime (where pass 1 resolves nearly everything) should not
  *    buy; reach for it when the dim stream is sparse relative to the epoch
  *    width AND a hot key exists (the measured regime: hotkey-s2 dims/4096,
  *    where the two-op chain's pass 2 re-serializes 1.6M facts through one
  *    task at a 167.8 MB peak). */
object EpochAsof {
  /** Pass-2 pass-through bucket count (see [[BoundaryResolveProcessor]]):
    * well above any core count for full parallelism, small enough that a
    * micro-batch's resolved facts land in a few thousand groups instead of
    * one group per row. Unsigned modulo keeps synthetic negative ids in
    * range. */
  val PassThroughBuckets = 4096L

  /** Out-of-order STREAMING spelling of the epoch escape (SURVEY open edge
    * (a), built same round): watermark-buffered epoch-local pass 1
    * ([[EpochBufferedAsofProcessor]]) chained into the boundary resolve.
    * The stream must carry a watermark on `ts` (EventTime mode). Streaming
    * only by construction — the BATCH twin of the buffered escape is
    * [[latestPurchaseAsofEpoch]] itself: batch mode flushes everything, the
    * exact as-of for both family members. */
  def latestPurchaseAsofBufferedEpoch(rows: org.apache.spark.sql.Dataset[AsofStreamRow],
                                      widthSec: Long,
                                      streamJoinMinGroup: Long = 0L): DataFrame = {
    import rows.sparkSession.implicits._
    val widthUs = widthSec * 1000000L
    // no TTL parameter ON PURPOSE: Spark allows state TTL only under
    // ProcessingTime, and the buffered spelling NEEDS EventTime (the
    // watermark drives the flush) — same structural constraint as
    // BufferedAsofProcessor, which also runs TTL-less. The (user, epoch)
    // key space is instead bounded by the per-key cleanup timer (see the
    // processor's state-lifecycle doc): each key self-destructs once the
    // watermark passes its epoch's end
    val big = streamJoinMinGroup
    val mid = rows.groupByKey(r =>
        (r.user_id, Math.floorDiv(LastDimState.micros(r.ts), widthUs)))
      .transformWithState(new EpochBufferedAsofProcessor(widthSec, big),
        TimeMode.EventTime(), OutputMode.Append())
    if (big > 0)
      hybridPass2(mid, TimeMode.None(), None)
    else mid
      .groupByKey(r =>
        if (r.kind == AsofEpochMid.Resolved)
          (true, java.lang.Long.remainderUnsigned(r.event_id, EpochAsof.PassThroughBuckets))
        else (false, r.user_id))
      .transformWithState(new BoundaryResolveProcessor(), TimeMode.None(),
        OutputMode.Append())
      .toDF("event_id", "user_id", "event_type", "last_purchase_id")
  }

  /** The three-operator hybrid tail shared by both streaming spellings:
    * pass 2a (per-user prefix; markers + small facts) chained into the
    * stateless pass 2b re-unite. Final/pass-through rows ride the
    * hash-parallel buckets through both hops. */
  private def hybridPass2(mid: org.apache.spark.sql.Dataset[AsofEpochMid],
                          mode: TimeMode, ttlMs: Option[Long]): DataFrame = {
    import mid.sparkSession.implicits._
    mid.groupByKey(r =>
        if (r.kind == AsofEpochMid.Resolved || r.kind == AsofEpochMid.UnresolvedBig)
          (true, java.lang.Long.remainderUnsigned(r.event_id, EpochAsof.PassThroughBuckets))
        else (false, r.user_id))
      .transformWithState(new BoundaryResolveMidProcessor(ttlMs), mode,
        OutputMode.Append())
      .groupByKey(r =>
        if (r.kind == AsofEpochMid.Resolved)
          (true, java.lang.Long.remainderUnsigned(r.event_id, EpochAsof.PassThroughBuckets), 0L)
        else (false, r.user_id, r.epoch))
      .transformWithState(new EpochJoinResolveProcessor(), mode,
        OutputMode.Append())
      .toDF("event_id", "user_id", "event_type", "last_purchase_id")
  }

  /** The two-pass epoch-keyed as-of; same output contract as
    * [[Streams.latestPurchaseAsof]].
    *
    * `streaming = true` (the MemoryStream spec path) chains the two
    * stateful processors — boundary state must persist across micro-batches,
    * which only a state store can do.
    *
    * `streaming = false` (the batch twin StreamingSpec pins) keeps
    * the stateful pass 1 — that IS the parallel heavy lift — but resolves
    * boundaries RELATIONALLY: in batch every key arrives in one call, so
    * pass 1 emits exactly one summary per (user, epoch), and because a
    * summary's dim timestamp lies inside its epoch's bounds, summaries are
    * ts-monotone across epochs — the boundary prefix for a fact is simply
    * the LAST summary before its epoch, one `last(ignoreNulls)` window
    * whose input is the HYBRID routing described in the class doc: small
    * unresolved groups inline, big groups as one marker + a parallel
    * (user_id, epoch) hash-join back. Resolved facts (the bulk)
    * bypass the second pass entirely instead of paying a per-row shuffle +
    * state-store group visit — the same batch-twin directness precedent as
    * [[BufferedAsofProcessor]]'s finalize-directly path (measured 5.3×
    * there; here the chained-tws batch twin measured 3.3× the single-level
    * spelling on uniform 64× events, the relational one is what ships).
    * The two spellings are equality-pinned in StreamingSpec, and both
    * hybrid routes against each other (threshold forced to 1). */
  def latestPurchaseAsofEpoch(rows: org.apache.spark.sql.Dataset[AsofStreamRow],
                              widthSec: Long,
                              streaming: Boolean = false,
                              ttlMs: Option[Long] = None,
                              joinMinGroup: Long = 32L,
                              streamJoinMinGroup: Long = 0L): DataFrame = {
    import rows.sparkSession.implicits._
    val widthUs = widthSec * 1000000L
    // same TTL/time-mode contract as the single-level latestPurchaseAsof:
    // Spark only allows state TTL under ProcessingTime (see StateTtl)
    val mode = if (ttlMs.isDefined) TimeMode.ProcessingTime() else TimeMode.None()
    val big = if (streaming) streamJoinMinGroup else 0L
    val mid = rows.groupByKey(r =>
        (r.user_id, Math.floorDiv(LastDimState.micros(r.ts), widthUs)))
      .transformWithState(
        new EpochLocalAsofProcessor(batchMode = !streaming, ttlMs, big),
        mode, OutputMode.Append())
    if (streaming && big > 0)
      hybridPass2(mid, mode, ttlMs)
    else if (streaming)
      mid.groupByKey(r =>
          if (r.kind == AsofEpochMid.Resolved)
          (true, java.lang.Long.remainderUnsigned(r.event_id, EpochAsof.PassThroughBuckets))
        else (false, r.user_id))
        .transformWithState(new BoundaryResolveProcessor(ttlMs), mode,
          OutputMode.Append())
        .toDF("event_id", "user_id", "event_type", "last_purchase_id")
    else {
      import org.apache.spark.sql.functions._
      // materialize pass 1 once — it feeds every branch below
      val m = mid.toDF("kind", "user_id", "epoch", "event_id", "event_type",
          "ts_us", "pid", "gn").localCheckpoint()
      val resolved = m.where(col("kind") === AsofEpochMid.Resolved)
        .select(col("event_id"), col("user_id"), col("event_type"),
                col("pid").as("last_purchase_id"))
      // HYBRID boundary resolution (round-16 review + the paired re-probe):
      // the prefix a fact needs is constant WITHIN an epoch ("summaries of
      // epochs strictly before e"), so a BIG unresolved group — the hot-key
      // sparse-dim regime where the pure window spelling re-serialized the
      // hot user's facts through one task — contributes ONE marker row to
      // the per-user prefix window and hash-joins its facts back on
      // (user_id, epoch), parallel across epochs. A SMALL group (the
      // measured-dominant regime: uniform keys spread over many epochs →
      // singleton groups) flows inline through the window exactly like the
      // original spelling — the marker+join path there costs a full extra
      // shuffle of the unresolved set for nothing (measured +0.7-1.0 s at
      // 64× uniform when applied unconditionally). Routing is free: pass 1
      // stamps gn on each Unresolved row.
      val unresolved = m.where(col("kind") === AsofEpochMid.Unresolved)
      val big = unresolved.where(col("gn") >= joinMinGroup)
      val small = unresolved.where(col("gn") < joinMinGroup)
      // a group is entirely big or entirely small (gn is per-group), so an
      // epoch contributes either inline facts or one marker, never both.
      // rank 0 = prefix consumers (inline facts + markers), rank 1 = the
      // epoch's summary: ordering (epoch, rank) makes a consumer at epoch e
      // see summaries of epochs < e only — same merge order as
      // BoundaryResolveProcessor. Ties inside rank 0 are harmless (all
      // carry NULL sum_pid).
      val winIn = small.select(col("user_id"), col("epoch"), lit(0).as("rank"),
          lit(null).cast("long").as("sum_pid"), col("event_id"),
          col("event_type"), lit(false).as("mark"))
        .unionByName(big.select(col("user_id"), col("epoch")).distinct()
          .select(col("user_id"), col("epoch"), lit(0).as("rank"),
            lit(null).cast("long").as("sum_pid"),
            lit(null).cast("long").as("event_id"),
            lit(null).cast("string").as("event_type"), lit(true).as("mark")))
        .unionByName(m.where(col("kind") === AsofEpochMid.Summary)
          .select(col("user_id"), col("epoch"), lit(1).as("rank"),
            col("pid").as("sum_pid"), lit(null).cast("long").as("event_id"),
            lit(null).cast("string").as("event_type"), lit(false).as("mark")))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id"))
        .orderBy(col("epoch"), col("rank"))
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
                     org.apache.spark.sql.expressions.Window.currentRow)
      // batch pass 1 emits ≤1 summary per (user, epoch) with ts inside the
      // epoch's bounds, so summaries are ts-monotone in epoch order and the
      // LAST preceding summary IS the max-by-(ts_us, pid) prefix
      val withPrefix = winIn.withColumn("prefix_pid",
        last(col("sum_pid"), ignoreNulls = true).over(w))
      val inline = withPrefix.where(col("rank") === 0 && !col("mark"))
        .select(col("event_id"), col("user_id"), col("event_type"),
                col("prefix_pid").as("last_purchase_id"))
      val joined = big.join(
          withPrefix.where(col("mark"))
            .select(col("user_id"), col("epoch"), col("prefix_pid")),
          Seq("user_id", "epoch"), "left")
        .select(col("event_id"), col("user_id"), col("event_type"),
                col("prefix_pid").as("last_purchase_id"))
      resolved.unionByName(inline).unionByName(joined)
    }
  }
}
