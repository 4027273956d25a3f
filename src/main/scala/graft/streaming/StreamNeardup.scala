package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{ExpiredTimerInfo, ListState, OutputMode,
  TimeMode, TimerValues, TTLConfig}

/** `stream_neardup` (round 18 — round-17 verdict item 4): streaming
  * MinHash-LSH near-duplicate ADMISSION. A document stream is checked, doc
  * by doc, against the corpus of documents seen within the event-time
  * watermark horizon; each doc emits one verdict row
  * `(doc_id, verdict ∈ {exact_dup, near_dup, new}, match_id)` — the
  * training-ingest gate ("should this crawled page enter the corpus?") that
  * `llm_ingest_dedup` answers in daily batches, as a live stream.
  *
  * CONTRACT (deterministic, SQL-expressible — the registered batch twin and
  * the DuckDB oracle compute exactly this): doc `i` is compared against
  * every doc `j` with strictly earlier (ts, doc_id) whose event time lies
  * within the horizon (`ts_i − ts_j ≤ horizon`) — the corpus is everything
  * SEEN in the horizon, admitted or not, which keeps verdicts independent
  * of other verdicts (an "admitted-only" corpus would make each verdict
  * depend on the chain of prior verdicts — still deterministic, but no
  * longer one SQL query, and a single borderline doc would flip every
  * verdict downstream of it). `exact_dup` = an earlier in-horizon doc with
  * the same sha256 (match = smallest such doc_id); else `near_dup` = an
  * earlier in-horizon doc with shingle Jaccard ≥ [[graft.llm.Dedup.JaccardThreshold]]
  * (match = smallest such doc_id); else `new`. Docs with fewer than 5
  * tokens have no shingles and can only exact-match — same rule as every
  * other §2.11 dedup row.
  *
  * The STREAMING spelling realizes this contract with high probability, not
  * exactly (round-19 doc fix — the divergence bound belongs here, on the
  * contract, not only in the shape paragraph below): LSH banding means a
  * true near-pair sharing none of the 16 bands is reported `new`
  * (P(miss) = (1 − J⁴)^16 ≈ 2.2e-4 per pair at J = 0.8, worst just above
  * the threshold), and `match_id` can exceed the contract's smallest-id
  * match when the minimal candidate shares no band with the arriving doc.
  * Exact duplicates are never missed (the exact band is keyed by the text
  * hash and verified on full sha256). The spec/probe equalities pinning
  * stream ≡ batch twin are corpus-specific observations, not a guarantee;
  * downstream consumers of the admission gate should treat the streaming
  * output as a 1-in-~4500-pairs-lossy realization of the registered
  * contract. The registered/oracled row is the batch twin, which computes
  * the contract exactly.
  *
  * STREAMING SHAPE (the 100 TB path): no doc ever compares against the
  * whole horizon corpus. Each doc explodes to its 16 MinHash band keys
  * (bands of 4 of the 64 per-shingle xxhash64 minima — the same 16×4
  * banding as `llm_neardup_minhash`, P(miss | J=0.8) ≈ 2.2e-4 per true
  * pair) plus one EXACT band keyed by the text hash, and meets only docs
  * sharing a band. THREE chained keyed operators (round 19 restructure —
  * the round-18 design stored each doc's full shingle-hash array in EVERY
  * band it collided on, ~17 copies, and a sha256 string besides; the
  * probe read 322 MB of band state at 320k docs and the per-family
  * payload split recovered almost none of it, so the array moved to a
  * doc-keyed store kept ONCE):
  *
  *   1. BAND stage, keyed (band, band_hash), holds only the horizon's
  *      member IDS — (doc_id, ts) for MinHash bands, (doc_id, ts, sha256)
  *      for the exact band. The exact band emits one SELF row per doc
  *      (its exact verdict + the doc's shingle-hash array riding through,
  *      never stored here); each MinHash band emits one CANDIDATE row per
  *      (arriving doc, earlier in-horizon member) collision, carrying the
  *      ARRIVING doc's array. Emitted rows re-declare the arriving doc's
  *      event time (`transformWithState(_, "act_ts", Append)`) so the
  *      watermark flows to stage 2.
  *   2. VERIFY stage, keyed by doc id: the self row REGISTERS the doc's
  *      sorted shingle-hash array (the single stored copy) and forwards
  *      the exact verdict; candidate rows (keyed by the EARLIER doc)
  *      verify EXACT Jaccard between the stored array and the arriving
  *      doc's carried array (LSH bounds who is compared; the threshold
  *      decision is never probabilistic) and emit a near-match row on
  *      success. In-order delivery makes registration-before-candidate a
  *      sort on (event time, doc id) within each batch.
  *   3. A stateless per-doc fold (co-batched — stages 1-2 emit all of a
  *      doc's rows in its arrival batch) produces the admission row.
  *
  * State is evicted by the watermark: once it passes `ts_j + horizon` no
  * future doc can match `j` (future rows are at/after the watermark), so
  * band keys drop dead members on access with an event-time sweep timer
  * at (oldest member + horizon + 1 ms) for keys the stream went quiet on,
  * and each doc key's stored array is cleared by its own timer at
  * (ts + horizon + 1 ms). The exact-band key space is one entry per
  * distinct in-horizon text — the usual LSH-bucket skew caveat applies to
  * pathological mega-duplicate streams (one band key holding c
  * near-identical docs costs O(c) comparisons per arrival, the streaming
  * mirror of the batch family's capped/guarded mega-cluster regime).
  * Candidate rows duplicate the arriving doc's array once per SHARED band
  * (a true near-pair shares many bands); the per-batch dedup in stage 2
  * collapses the comparisons, and the duplication is shuffle-transient —
  * the steady-state cost, state, is what scales with the horizon. A
  * behind-watermark straggler's emitted event time is re-based to the
  * current watermark at the stage-1 boundary (Spark's chained-operator
  * validation requires emitted times at/after the watermark), which can
  * only delay its array's eviction, never lose a verdict.
  *
  * IN-ORDER CONTRACT (same as `stream_asof_state`): a doc arrives after
  * every doc with an earlier (ts, doc_id). Within a micro-batch, rows are
  * processed in (ts, doc_id) order per band key, so same-batch pairs
  * resolve exactly; a behind-watermark straggler degrades by missing
  * comparisons against docs that were processed before it arrived (it is
  * still checked against the state present on arrival). The
  * watermark-buffered spelling of this operator would reuse
  * [[BufferedAsofProcessor]]'s buffering mechanics verbatim; not built —
  * admission gates want immediate verdicts.
  *
  * Registered as the batch twin (Verify/DuckDB-oracled at sf0.01); the
  * streaming spelling is pinned equal to the batch twin on the fixture in
  * StreamingSpec (cross-batch state carry + watermark eviction included).
  */
object StreamNeardup {
  /** Horizon in MINUTES of synthetic event time for the REGISTERED row; the
    * fixture assigns doc i the event time `epoch + i minutes`, so this is
    * also the doc-id distance bound. 200 splits the sf0.01 fixture's 25
    * true near pairs (id distances 4–429) roughly in half — both the
    * match and the evicted regime are exercised by the oracle. */
  val HorizonDocsDefault = 200L

  /** Streaming mega-cluster guard (round 19 — round-18 verdict item 3, the
    * streaming mirror of [[graft.llm.Dedup.NeardupCapConf]]): cap > 0
    * bounds each band key's stored members to the cap EARLIEST in-horizon
    * arrivals — an arrival at a full key is compared (so its own verdict
    * still sees the stored corpus) but not stored, so on a stream where c
    * near-identical docs share a band key, per-arrival comparisons and
    * candidate emissions drop from O(c) to O(cap) and the key's state is
    * bounded. RECALL TRADE (the capped-subset contract, pinned in
    * StreamingSpec): verdicts are computed against the kept subset — a
    * doc's match is missed only when every shared-band partner was capped
    * out, and keep-earliest biases the kept set toward exactly the
    * smallest-id docs the min-id contract would pick, so on non-hot
    * streams (band occupancy ≤ cap) output is IDENTICAL to the uncapped
    * operator. A doc that arrived while its key was full is never stored,
    * even after the watermark frees capacity.
    *
    * DEFAULT ON at [[StreamBandCapDefault]] (round 20 — round-19 verdict
    * item 3): with the cap unset, a single viral document used to melt a
    * deployment — the uncapped hot regime emits 16·c²/2 candidate rows
    * (measured ~8e8 at c = 10⁴, "not affordable", BASELINE.md round-19) —
    * and the exact semantics it bought are only OBSERVABLE on streams
    * where some band's in-horizon occupancy exceeds the cap, i.e. ≥ 64
    * near-identical in-horizon docs sharing a band. Below that occupancy
    * (every fixture, every non-pathological stream) capped output is
    * bit-identical to uncapped, so the default trades nothing except in
    * the regime that previously melted. Opt out with an explicit 0 (or
    * any non-positive value) to accept O(c²) for exact mega-cluster
    * verdicts. */
  val StreamBandCapConf = "spark.graft.neardup.streamBandCap"
  val StreamBandCapDefault = 64

  val NumBands: Int = graft.llm.Dedup.NumHashes / graft.llm.Dedup.BandSize
  /** The exact-match band: every doc (shingled or not) carries it, keyed by
    * the 64-bit text hash; membership comparison is full-sha256 equality. */
  val ExactBand: Int = NumBands

  /** One stored exact-band member: id, event time, and the full sha256
    * (the band key is a 64-bit text hash; equality is decided on the
    * stored digest, never the key). */
  case class ExactMember(doc_id: Long, ts_us: Long, h: String)

  /** One stored MinHash-band member — IDS ONLY (round 19, Tier-2 state
    * split): the shingle-hash array lives once in the verify stage's
    * doc-keyed store, not in each of the ~16 band lists the doc collides
    * on. */
  case class BandMember(doc_id: Long, ts_us: Long)

  /** Stage-1 input: one row per (doc, band). The exact band's row carries
    * `h` (sha256 equality is its whole comparison); every row carries the
    * doc's SORTED distinct shingle-hash array `shs` — the exact-band row
    * forwards it to the verify stage for registration, MinHash rows attach
    * it to candidate emissions. Neither band family STORES it (round 19):
    * the array's single stored copy is the verify stage's. */
  case class BandRow(band: Int, band_hash: Long, doc_id: Long, ts_us: Long,
                     h: String, shs: Array[Long], ts: java.sql.Timestamp)

  /** Stage-1 output / stage-2 input, keyed by `key_id`. Two kinds:
    * `cand = false` — the arriving doc's SELF row (key = its own id):
    * registers its array in the verify store and forwards the exact-band
    * verdict `exact_id`. `cand = true` — a band-collision CANDIDATE row
    * (key = the EARLIER member's id): `act_id` is the arriving doc and
    * `shs` its array; the verify stage decides Jaccard against the key
    * doc's stored array. `act_ts` re-declares the arriving doc's event
    * time (clamped to the current watermark — Spark's chained-operator
    * validation rejects emitted times behind it) so the watermark flows
    * into stage 2's timers. */
  case class VerifyRow(key_id: Long, cand: Boolean, act_id: Long,
                       act_ts_us: Long, exact_id: Long, shs: Array[Long],
                       act_ts: java.sql.Timestamp)

  /** Stage-2 output: one doc's exact verdict (self rows, near_id = −1) or
    * a verified near match (candidate rows, exact_id = −1). The stateless
    * verdict fold still sees at least one row per doc — every doc emits a
    * self row. */
  case class BandVerdict(doc_id: Long, exact_id: Long, near_id: Long)

  /** The verify store's value: one doc's registration. */
  case class StoredShingles(ts_us: Long, shs: Array[Long])

  /** Exact Jaccard of two sorted Long arrays (linear merge). */
  private[streaming] def jaccardSorted(a: Array[Long], b: Array[Long]): Double = {
    if (a.isEmpty || b.isEmpty) return 0.0
    var i = 0; var j = 0; var inter = 0
    while (i < a.length && j < b.length) {
      if (a(i) == b(j)) { inter += 1; i += 1; j += 1 }
      else if (a(i) < b(j)) i += 1
      else j += 1
    }
    inter.toDouble / (a.length + b.length - inter)
  }

  /** Stage 1: per-band horizon membership. Keyed by (band, band_hash);
    * EventTime mode (the watermark drives eviction only — emission is
    * immediate). The exact band decides its verdict in-band (sha256
    * equality against stored digests) and emits each doc's SELF row; the
    * MinHash bands emit CANDIDATE rows only — verification happens in the
    * doc-keyed stage 2 where the shingle array is stored once. */
  class BandNeardupProcessor(horizonMs: Long, bandCap: Int = 0)
      extends org.apache.spark.sql.streaming.StatefulProcessor[(Int, Long), BandRow, VerifyRow] {
    private def underCap(size: Int): Boolean = bandCap <= 0 || size < bandCap

    @transient private var exactMembers: ListState[ExactMember] = _
    @transient private var bandMembers: ListState[BandMember] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      exactMembers = getHandle.getListState[ExactMember]("exactMembers",
        org.apache.spark.sql.Encoders.product[ExactMember], TTLConfig.NONE)
      bandMembers = getHandle.getListState[BandMember]("bandMembers",
        org.apache.spark.sql.Encoders.product[BandMember], TTLConfig.NONE)
    }

    private def horizonUs = horizonMs * 1000L

    /** Drop (ts_us-carrying) members no future row can match (watermark ≥
      * ts + horizon) and keep exactly one armed sweep timer while members
      * remain. One implementation serves both member families via the
      * extracted timestamps + a writeback. */
    private def evictAndArm[M](kept: Vector[M], tsUs: M => Long,
                               put: Array[M] => Unit, clear: () => Unit,
                               wmMs: Long, firedMs: Long = -1L)
                              (implicit ct: scala.reflect.ClassTag[M]): Unit = {
      val live = kept.filter(m => tsUs(m) / 1000L + horizonMs >= wmMs)
      if (live.isEmpty) clear()
      else {
        put(live.toArray)
        val want = live.iterator.map(tsUs(_) / 1000L).min + horizonMs + 1L
        // the firing timer is auto-removed by Spark but still listed
        // mid-fire — deleting it again WARNs per fire (see the as-of
        // processors' identical exclusion)
        val armed = getHandle.listTimers().map(_.asInstanceOf[Long]).toSet - firedMs
        armed.iterator.filter(_ != want).foreach(getHandle.deleteTimer)
        if (!armed.contains(want) && want != firedMs) getHandle.registerTimer(want)
      }
    }

    override def handleInputRows(key: (Int, Long), rows: Iterator[BandRow],
                                 tv: TimerValues): Iterator[VerifyRow] = {
      val wm = tv.getCurrentWatermarkInMs()
      val incoming = rows.toVector.sortBy(r => (r.ts_us, r.doc_id))
      // emitted event times must be at/after the watermark (chained-operator
      // validation); clamping a straggler forward only delays eviction
      def actTs(r: BandRow): (Long, java.sql.Timestamp) =
        if (wm > 0 && r.ts_us < wm * 1000L)
          (wm * 1000L, new java.sql.Timestamp(wm))
        else (r.ts_us, r.ts)
      val out = Vector.newBuilder[VerifyRow]
      if (key._1 == ExactBand) {
        val live = scala.collection.mutable.ArrayBuffer.empty[ExactMember]
        live ++= exactMembers.get().toVector
          .filter(m => m.ts_us / 1000L + horizonMs >= wm)
        incoming.foreach { r =>
          var exactId = -1L
          live.foreach { m =>
            val earlier = m.ts_us < r.ts_us ||
              (m.ts_us == r.ts_us && m.doc_id < r.doc_id)
            if (earlier && r.ts_us - m.ts_us <= horizonUs &&
                m.h == r.h && (exactId < 0 || m.doc_id < exactId))
              exactId = m.doc_id
          }
          if (underCap(live.size)) live += ExactMember(r.doc_id, r.ts_us, r.h)
          val (tsUs, ts) = actTs(r)
          out += VerifyRow(r.doc_id, cand = false, r.doc_id, tsUs, exactId,
            r.shs, ts)
        }
        evictAndArm[ExactMember](live.toVector, _.ts_us,
          exactMembers.put, () => exactMembers.clear(), wm)
      } else {
        val live = scala.collection.mutable.ArrayBuffer.empty[BandMember]
        live ++= bandMembers.get().toVector
          .filter(m => m.ts_us / 1000L + horizonMs >= wm)
        incoming.foreach { r =>
          val (tsUs, ts) = actTs(r)
          live.foreach { m =>
            val earlier = m.ts_us < r.ts_us ||
              (m.ts_us == r.ts_us && m.doc_id < r.doc_id)
            if (earlier && r.ts_us - m.ts_us <= horizonUs)
              out += VerifyRow(m.doc_id, cand = true, r.doc_id, tsUs, -1L,
                r.shs, ts)
          }
          if (underCap(live.size)) live += BandMember(r.doc_id, r.ts_us)
        }
        evictAndArm[BandMember](live.toVector, _.ts_us,
          bandMembers.put, () => bandMembers.clear(), wm)
      }
      out.result().iterator
    }

    override def handleExpiredTimer(key: (Int, Long), tv: TimerValues,
                                    info: ExpiredTimerInfo): Iterator[VerifyRow] = {
      val wm = math.max(tv.getCurrentWatermarkInMs(), info.getExpiryTimeInMs())
      // the fired timer is auto-removed; evictAndArm re-arms iff members remain
      if (key._1 == ExactBand)
        evictAndArm[ExactMember](exactMembers.get().toVector, _.ts_us,
          exactMembers.put, () => exactMembers.clear(), wm,
          firedMs = info.getExpiryTimeInMs())
      else
        evictAndArm[BandMember](bandMembers.get().toVector, _.ts_us,
          bandMembers.put, () => bandMembers.clear(), wm,
          firedMs = info.getExpiryTimeInMs())
      Iterator.empty
    }
  }

  /** Stage 2: the doc-keyed shingle store + exact-Jaccard verification.
    * Keyed by [[VerifyRow.key_id]]; EventTime mode. Each doc's sorted
    * shingle-hash array is stored ONCE here (registered by its self row,
    * cleared by a timer at ts + horizon + 1 ms); candidate rows compare
    * the arriving doc's carried array against the key doc's stored one.
    * Same-batch registration-before-candidate is the (event time, doc id)
    * sort — the pair contract guarantees the earlier doc sorts first. A
    * candidate whose key doc has no stored array (horizon-evicted, or a
    * straggler raced the sweep) is skipped: a missed comparison, the
    * documented straggler degradation, never a wrong one. */
  class ShingleVerifyProcessor(horizonMs: Long)
      extends org.apache.spark.sql.streaming.StatefulProcessor[Long, VerifyRow, BandVerdict] {
    @transient private var stored: org.apache.spark.sql.streaming.ValueState[StoredShingles] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      stored = getHandle.getValueState[StoredShingles]("shingles",
        org.apache.spark.sql.Encoders.product[StoredShingles], TTLConfig.NONE)

    override def handleInputRows(key: Long, rows: Iterator[VerifyRow],
                                 tv: TimerValues): Iterator[BandVerdict] = {
      val incoming = rows.toVector.sortBy(r => (r.act_ts_us, r.act_id))
      val out = Vector.newBuilder[BandVerdict]
      val seenCands = scala.collection.mutable.HashSet.empty[Long]
      incoming.foreach { r =>
        if (!r.cand) {
          out += BandVerdict(r.act_id, r.exact_id, -1L)
          if (r.shs.nonEmpty) {
            stored.update(StoredShingles(r.act_ts_us, r.shs))
            getHandle.registerTimer(r.act_ts_us / 1000L + horizonMs + 1L)
          }
        } else if (seenCands.add(r.act_id)) {
          // several shared bands emit the same (doc, key) candidate — one
          // comparison per batch suffices
          val s = stored.get()
          if (s != null &&
              graft.llm.Dedup.JaccardThreshold <= jaccardSorted(s.shs, r.shs))
            out += BandVerdict(r.act_id, -1L, key)
        }
      }
      out.result().iterator
    }

    override def handleExpiredTimer(key: Long, tv: TimerValues,
                                    info: ExpiredTimerInfo): Iterator[BandVerdict] = {
      // armed at exactly ts + horizon + 1: firing means no future row can
      // match this doc
      stored.clear()
      Iterator.empty
    }
  }

  /** Pass 2: stateless fold of a doc's band verdicts (all co-batched —
    * pass 1 emits them from one per-batch call each) into the admission
    * row. Exact beats near; match is the minimum across bands, which is
    * the global minimum because an exact pair collides on the exact band
    * by construction and a Jaccard-≥t pair shares a MinHash band with
    * probability 1 − (1−t^4)^16. */
  class NeardupVerdictProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[Long, BandVerdict, (Long, String, Long)] {
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = ()

    override def handleInputRows(doc: Long, rows: Iterator[BandVerdict],
                                 tv: TimerValues): Iterator[(Long, String, Long)] = {
      var exactId = -1L
      var nearId = -1L
      rows.foreach { v =>
        if (v.exact_id >= 0 && (exactId < 0 || v.exact_id < exactId)) exactId = v.exact_id
        if (v.near_id >= 0 && (nearId < 0 || v.near_id < nearId)) nearId = v.near_id
      }
      val (verdict, m) =
        if (exactId >= 0) ("exact_dup", exactId)
        else if (nearId >= 0) ("near_dup", nearId)
        else ("new", -1L)
      Iterator.single((doc, verdict, m))
    }
  }

  /** Per-row band derivation — shingles, 64 MinHash minima, 16 band hashes,
    * plus the exact band — as pure column expressions (NO aggregation: the
    * streaming query stays stateless until the keyed band operator).
    * Input columns: ts (timestamp), doc_id (long), text (string). */
  private def bandRows(docs: DataFrame): DataFrame = {
    import graft.llm.Dedup.{NumHashes, BandSize}
    val toks = filter(split(lower(col("text")), "\\s+"), t => t =!= "")
    val shsStr = when(size(col("toks")) >= 5,
      array_distinct(transform(sequence(lit(1), size(col("toks")) - 4),
        i => concat_ws(" ", slice(col("toks"), i, lit(5))))))
      .otherwise(array().cast("array<string>"))
    val mhs = (0 until NumHashes).map { k =>
      array_min(transform(col("shset"), sh => xxhash64(lit(k), sh)))
    }
    val bandStructs = (0 until NumHashes / BandSize).map { b =>
      val cols = (b * BandSize until (b + 1) * BandSize).map(k => col(s"mh$k"))
      struct(lit(b).as("band"), xxhash64(cols: _*).as("band_hash"))
    }
    val exactStruct = struct(lit(ExactBand).as("band"),
      xxhash64(col("text")).as("band_hash"))
    // MinHash bands exist only for shingled docs — Spark's hash functions
    // SKIP null inputs instead of returning null, so an isNotNull filter on
    // the band hash would not drop the dead bands (every shingle-less doc
    // would otherwise share one degenerate band bucket); gate on the
    // shingle count instead. Every doc carries the exact band.
    val minhashBands = when(size(col("shset")) > 0, array(bandStructs: _*))
      .otherwise(array().cast(s"array<struct<band:int,band_hash:bigint>>"))
    docs
      .withColumn("toks", toks)
      .withColumn("shset", shsStr)
      .withColumn("h", sha2(col("text"), 256))
      .withColumn("shs", array_sort(transform(col("shset"), sh => xxhash64(sh))))
      .withColumns((0 until NumHashes).map(k => s"mh$k").zip(mhs).toMap)
      .select(explode(concat(minhashBands, array(exactStruct))).as("bb"),
        col("doc_id"), col("ts"), col("h"), col("shs"))
      .select(col("bb.band").as("band"), col("bb.band_hash").as("band_hash"),
        col("doc_id"), unix_micros(col("ts")).as("ts_us"),
        // only the exact band compares sha256 — MinHash rows carry the
        // empty string. shs rides EVERY row (registration on the exact
        // row, candidate attachment on MinHash rows) but is never stored
        // in band state — see the Tier-2 shape in the class doc.
        when(col("bb.band") === ExactBand, col("h")).otherwise("").as("h"),
        col("shs"), col("ts"))
  }

  /** The streaming spelling: `docs` must be a streaming DataFrame with
    * columns (ts, doc_id, text) and a watermark on `ts`. */
  def streamNeardup(docs: DataFrame, horizonMs: Long): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    val bandCap = graft.Confs.intConf(s, StreamBandCapConf)
      .getOrElse(StreamBandCapDefault)
    bandRows(docs).as[BandRow]
      .groupByKey(r => (r.band, r.band_hash))
      // the String overload re-declares `act_ts` as the output's event-time
      // column (EventTime mode implied) so stage 2's watermark timers work
      .transformWithState(new BandNeardupProcessor(horizonMs, bandCap),
        "act_ts", OutputMode.Append())
      .groupByKey(_.key_id)
      .transformWithState(new ShingleVerifyProcessor(horizonMs),
        TimeMode.EventTime(), OutputMode.Append())
      .groupByKey(_.doc_id)
      .transformWithState(new NeardupVerdictProcessor(), TimeMode.None(),
        OutputMode.Append())
      .toDF("doc_id", "verdict", "match_id")
  }

  /** The registered BATCH twin: the identical contract computed
    * relationally over `documents` with the synthetic `ts = doc_id minutes`
    * event time, i.e. the horizon becomes a doc-id distance bound. The
    * exact arm is a sha256 self-join; the near arm is the same
    * shared-shingle self-join as `llm_neardup_pairs` with the horizon
    * predicate cutting the pair space (at production scale the streaming
    * spelling IS the scale path — the batch twin exists as the oracle
    * contract, and a horizon-bounded batch backfill would reuse the LSH
    * banding exactly like `llm_neardup_minhash`). */
  def admitNeardupBatch(s: SparkSession, d: String,
                        horizonDocs: Long = HorizonDocsDefault): DataFrame = {
    val docs = graft.Tables.documents(s, d)
    // The same fused scan as [[graft.llm.Curation.ingestDedup]], tokens
    // projected once per document before the shingle lambda: (doc_id,
    // sha256, distinct shingle-hash array) is the operator's only cached
    // frame. The exact self-join reads (doc_id, h) from it, the near arm
    // explodes the arrays, sizes are size(shs).
    val base = graft.Caching.scatterIfNarrow(docs, col("doc_id"))
      .select(col("doc_id"), sha2(col("text"), 256).as("h"),
        filter(split(lower(col("text")), "\\s+"), t => t =!= "").as("toks"))
      .select(col("doc_id"), col("h"), graft.llm.Dedup.shingleHashArray(col("toks")).as("shs"))
      .transform(graft.Caching.cachedOnce)
    val hashed = base.select(col("doc_id"), col("h"))
    val exact = hashed.as("x")
      .join(hashed.as("y"), col("y.h") === col("x.h") &&
        col("y.doc_id") < col("x.doc_id") &&
        col("x.doc_id") - col("y.doc_id") <= horizonDocs)
      .groupBy(col("x.doc_id").as("doc_id"))
      .agg(min(col("y.doc_id")).as("exact_match"))
    // round 19 (r18 verdict item 2): join on 8-byte shingle DIGESTS, not the
    // ~45-byte 5-gram strings — the same swap the rest of the near-dup family
    // made in round 18 (see [[graft.llm.Dedup.shingleHashes]] for the
    // collision bound); the string-exact oracle re-proves equality each round.
    val sh = base.select(col("doc_id"), explode(col("shs")).as("sh"))
    val sizes = base.where(size(col("shs")) > 0)
      .select(col("doc_id"), size(col("shs")).cast("bigint").as("n_sh"))
    val near = sh.as("x")
      .join(sh.as("y"), col("y.sh") === col("x.sh") &&
        col("y.doc_id") < col("x.doc_id") &&
        col("x.doc_id") - col("y.doc_id") <= horizonDocs)
      .groupBy(col("x.doc_id").as("doc_id"), col("y.doc_id").as("cand_id"))
      .agg(count(lit(1)).as("inter"))
      .join(sizes.select(col("doc_id"), col("n_sh").as("n1")), "doc_id")
      .join(sizes.select(col("doc_id").as("cand_id"), col("n_sh").as("n2")), "cand_id")
      .where(col("inter").cast("double") /
             (col("n1") + col("n2") - col("inter")) >= graft.llm.Dedup.JaccardThreshold)
      .groupBy("doc_id")
      .agg(min(col("cand_id")).as("near_match"))
    hashed.select("doc_id")
      .join(exact, Seq("doc_id"), "left")
      .join(near, Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("exact_match").isNotNull, "exact_dup")
          .when(col("near_match").isNotNull, "near_dup")
          .otherwise("new").as("verdict"),
        coalesce(col("exact_match"), col("near_match"), lit(-1L)).as("match_id"))
  }

  val streamNeardupSql: String =
    s"""WITH ${graft.llm.Dedup.shinglesSqlCte},
       |hashed AS (SELECT doc_id, sha256(text) AS h FROM documents),
       |exact AS (
       |  SELECT x.doc_id, min(y.doc_id) AS exact_match
       |  FROM hashed x JOIN hashed y ON y.h = x.h
       |   AND y.doc_id < x.doc_id AND x.doc_id - y.doc_id <= $HorizonDocsDefault
       |  GROUP BY x.doc_id),
       |sizes AS (SELECT doc_id, count(*) AS n_sh FROM shingles GROUP BY doc_id),
       |inter AS (
       |  SELECT x.doc_id, y.doc_id AS cand_id, count(*) AS inter
       |  FROM shingles x JOIN shingles y ON y.sh = x.sh
       |   AND y.doc_id < x.doc_id AND x.doc_id - y.doc_id <= $HorizonDocsDefault
       |  GROUP BY 1, 2),
       |near AS (
       |  SELECT i.doc_id, min(i.cand_id) AS near_match
       |  FROM inter i
       |  JOIN sizes s1 ON s1.doc_id = i.doc_id
       |  JOIN sizes s2 ON s2.doc_id = i.cand_id
       |  WHERE cast(i.inter AS double) / (s1.n_sh + s2.n_sh - i.inter)
       |        >= ${graft.llm.Dedup.JaccardThreshold}
       |  GROUP BY i.doc_id)
       |SELECT d.doc_id,
       |  CASE WHEN e.exact_match IS NOT NULL THEN 'exact_dup'
       |       WHEN n.near_match IS NOT NULL THEN 'near_dup'
       |       ELSE 'new' END AS verdict,
       |  coalesce(e.exact_match, n.near_match, -1) AS match_id
       |FROM documents d
       |LEFT JOIN exact e ON d.doc_id = e.doc_id
       |LEFT JOIN near n ON d.doc_id = n.doc_id
       |ORDER BY d.doc_id""".stripMargin
}
