package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{ExpiredTimerInfo, ListState, OutputMode,
  TimeMode, TimerValues, TTLConfig}

/** `stream_semdedup` (round 19 — round-18 verdict item 4): streaming
  * embedding-cosine near-duplicate ADMISSION. A vector stream is checked,
  * vector by vector, against the corpus of vectors seen within the
  * event-time watermark horizon; each vector emits one verdict row
  * `(vec_id, verdict ∈ {dup, new}, match_id)` — the SemDeDup-style
  * semantic-dedup gate ("is this embedding a near-copy of something
  * recently ingested?") that [[graft.llm.Similarity.neardupEmbedding]]
  * answers retrospectively over the whole corpus, as a live stream. The
  * streaming composition is exactly [[StreamNeardup]]'s two-operator
  * discipline with IVF cells ([[graft.llm.AnnIvf]]) replacing LSH bands as
  * the blocking structure.
  *
  * CONTRACT (deterministic, SQL-expressible — the registered batch twin and
  * the DuckDB oracle compute exactly this): vector `i` is compared against
  * every vector `j` with strictly earlier (ts, vec_id) whose event time
  * lies within the horizon (`ts_i − ts_j ≤ horizon`) — the corpus is
  * everything SEEN in the horizon, admitted or not, for the same
  * verdict-independence reason as [[StreamNeardup]]. `dup` = an earlier
  * in-horizon vector with cosine ≥ [[Tau]] exists (match = smallest such
  * vec_id, computed in the [[graft.plans.VectorFunctions.dot]] fold order
  * the whole vector family shares with its DuckDB twin); else `new`.
  *
  * The STREAMING spelling realizes this contract with high probability,
  * not exactly (same divergence-bound discipline as [[StreamNeardup]]'s
  * CONTRACT paragraph): candidates are generated by IVF cell collision —
  * vector `j` is stored only in its HOME cell (nearest centroid), and `i`
  * meets it only when that cell is among `i`'s `numProbe` nearest — so a
  * true τ-pair whose members quantize far apart is reported `new`, and
  * `match_id` can exceed the contract's smallest-id match when the minimal
  * candidate's home cell goes unprobed. The miss probability is
  * corpus-geometry-dependent (unlike LSH banding it has no clean
  * per-pair bound; SemDeDup itself accepts exactly this cluster-local
  * approximation), rises as τ falls toward the cell diameter, and is ZERO
  * when `numProbe ≥ |codebook|` — the spec and the at-scale probe pin
  * stream ≡ batch twin under that exact mode, then record default-mode
  * agreement separately. The registered/oracled row is the batch twin,
  * which computes the contract exactly.
  *
  * STREAMING SHAPE (the 100 TB path): the coarse-quantizer codebook is
  * OFFLINE state — tiny (≈√n), broadcast in the task closure, exactly how
  * a production semantic-dedup gate ships a pretrained quantizer to the
  * ingest fleet. Each arriving vector computes its cosine to every
  * centroid map-side (a |C|-dot-product scan, the IVF assignment cost),
  * explodes to its `numProbe` nearest cells (home = nearest), and meets
  * only vectors stored in those cells: keyed state (per cell) holds the
  * horizon's members as (vec_id, ts, embedding, norm), candidates are
  * verified by EXACT cosine on the stored arrays (the cell bounds who is
  * compared; the threshold decision is never approximate), and the same
  * stateless per-vector fold as [[StreamNeardup]] (co-batched by
  * construction) emits the verdict. State is one member row per in-horizon
  * vector — IVF's storage advantage over the 17-way LSH band replication —
  * evicted by the watermark with the identical drop-on-access +
  * event-time-sweep-timer discipline. Cell skew mirrors IVF cell skew: a
  * pathological stream concentrating in one cell costs O(cell) comparisons
  * per arrival, the streaming mirror of the batch family's blocked-kernel
  * regime.
  *
  * IN-ORDER CONTRACT: identical to [[StreamNeardup]] — rows are processed
  * in (ts, vec_id) order per cell within a micro-batch, so same-batch
  * pairs resolve exactly; a behind-watermark straggler degrades by missing
  * comparisons against vectors processed before it arrived.
  */
object StreamSemdedup {
  /** Horizon in MINUTES of synthetic event time for the REGISTERED row; the
    * fixture assigns vector i the event time `epoch + i minutes`, so this
    * is also the vec-id distance bound. 200 splits the sf0.01 fixture's 59
    * τ-pairs (id distances 1..497, median 150) into 34 in-horizon and the
    * rest evicted — both regimes exercised by the oracle, matching
    * [[StreamNeardup.HorizonDocsDefault]]'s convention. */
  val HorizonVecsDefault = 200L

  /** Cosine threshold — [[graft.llm.Similarity.NeardupEmbeddingTau]], the
    * corpus-calibrated "suspiciously similar" tail of the synthetic fixture
    * (a production corpus would use ~0.95+). */
  val Tau: Double = graft.llm.Similarity.NeardupEmbeddingTau

  /** One offline-codebook centroid: (cent_id, vector, precomputed norm). */
  case class Centroid(cent_id: Long, v: Array[Float], nrm: Double)

  /** One stored horizon-corpus member inside a cell's state. */
  case class SemMember(vec_id: Long, ts_us: Long, emb: Array[Float], nrm: Double)

  /** Pass-1 input: one row per (vector, probed cell); `home` marks the
    * single nearest-centroid copy — the only one stored. */
  case class CellRow(cell: Long, home: Boolean, vec_id: Long, ts_us: Long,
                     emb: Array[Float], nrm: Double, ts: java.sql.Timestamp)

  /** Pass-1 output: this cell's best earlier match for one vector (−1 =
    * none). Every (vector, cell) input emits exactly one — the stateless
    * verdict fold needs a row even from silent cells. */
  case class CellVerdict(vec_id: Long, match_id: Long)

  /** Dot product in the family's canonical fold order (left-to-right,
    * per-element float→double widening) — MUST match
    * [[graft.plans.VectorFunctions.dot]] / [[graft.llm.Similarity.dotSql]]
    * bit-for-bit so the threshold decision agrees with the batch twin and
    * the DuckDB oracle on boundary values. */
  private[streaming] def dotD(a: Array[Float], b: Array[Float]): Double = {
    var acc = 0.0; var i = 0
    val n = math.min(a.length, b.length)
    while (i < n) { acc += a(i).toDouble * b(i).toDouble; i += 1 }
    acc
  }

  /** The deterministic offline codebook: every stride-th vec_id of the
    * corpus at `d`, with precomputed norms — [[graft.llm.AnnIvf.centroids]]'
    * seedless construction, collected (≈√n rows) for closure broadcast. */
  def codebook(s: SparkSession, d: String): Array[Centroid] = {
    graft.plans.VectorFunctions.register(s)
    import graft.plans.VectorFunctions.dot
    val stride = graft.llm.AnnIvf.strideFor(s, d)
    graft.Tables.embeddings(s, d).where(col("vec_id") % stride === 0)
      .select(col("vec_id"),
              col("embedding").cast("array<float>").as("embedding"),
              sqrt(dot(col("embedding"), col("embedding"))).as("nrm"))
      .collect()
      .map(r => Centroid(r.getLong(0),
        r.getSeq[Float](1).toArray, r.getDouble(2)))
      .sortBy(_.cent_id)
  }

  /** Pass 1: per-cell horizon state + exact-cosine verification. Keyed by
    * cell; EventTime mode (the watermark drives eviction only — emission
    * is immediate). Mechanics mirror [[StreamNeardup.BandNeardupProcessor]]
    * (drop-on-access + one armed sweep timer per live key). */
  class CellSemdedupProcessor(horizonMs: Long, tau: Double)
      extends org.apache.spark.sql.streaming.StatefulProcessor[Long, CellRow, CellVerdict] {
    @transient private var members: ListState[SemMember] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      members = getHandle.getListState[SemMember]("members",
        org.apache.spark.sql.Encoders.product[SemMember], TTLConfig.NONE)

    private def horizonUs = horizonMs * 1000L

    private def evictAndArm(kept: Vector[SemMember], wmMs: Long,
                            firedMs: Long = -1L): Unit = {
      val live = kept.filter(m => m.ts_us / 1000L + horizonMs >= wmMs)
      if (live.isEmpty) members.clear()
      else {
        members.put(live.toArray)
        val want = live.iterator.map(_.ts_us / 1000L).min + horizonMs + 1L
        // the firing timer is auto-removed by Spark but still listed
        // mid-fire — deleting it again WARNs per fire (the as-of/band
        // processors' identical exclusion)
        val armed = getHandle.listTimers().map(_.asInstanceOf[Long]).toSet - firedMs
        armed.iterator.filter(_ != want).foreach(getHandle.deleteTimer)
        if (!armed.contains(want) && want != firedMs) getHandle.registerTimer(want)
      }
    }

    override def handleInputRows(cell: Long, rows: Iterator[CellRow],
                                 tv: TimerValues): Iterator[CellVerdict] = {
      val wm = tv.getCurrentWatermarkInMs()
      val incoming = rows.toVector.sortBy(r => (r.ts_us, r.vec_id))
      val live = scala.collection.mutable.ArrayBuffer.empty[SemMember]
      live ++= members.get().toVector
        .filter(m => m.ts_us / 1000L + horizonMs >= wm)
      val out = incoming.map { r =>
        var matchId = -1L
        live.foreach { m =>
          val earlier = m.ts_us < r.ts_us ||
            (m.ts_us == r.ts_us && m.vec_id < r.vec_id)
          if (earlier && r.ts_us - m.ts_us <= horizonUs &&
              (matchId < 0 || m.vec_id < matchId) &&
              dotD(m.emb, r.emb) / (m.nrm * r.nrm) >= tau)
            matchId = m.vec_id
        }
        if (r.home) live += SemMember(r.vec_id, r.ts_us, r.emb, r.nrm)
        CellVerdict(r.vec_id, matchId)
      }
      evictAndArm(live.toVector, wm)
      out.iterator
    }

    override def handleExpiredTimer(cell: Long, tv: TimerValues,
                                    info: ExpiredTimerInfo): Iterator[CellVerdict] = {
      val wm = math.max(tv.getCurrentWatermarkInMs(), info.getExpiryTimeInMs())
      evictAndArm(members.get().toVector, wm,
        firedMs = info.getExpiryTimeInMs())
      Iterator.empty
    }
  }

  /** Pass 2: stateless fold of a vector's cell verdicts (all co-batched —
    * pass 1 emits them from one per-batch call each) into the admission
    * row. */
  class SemVerdictProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[Long, CellVerdict, (Long, String, Long)] {
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = ()

    override def handleInputRows(vec: Long, rows: Iterator[CellVerdict],
                                 tv: TimerValues): Iterator[(Long, String, Long)] = {
      var matchId = -1L
      rows.foreach { v =>
        if (v.match_id >= 0 && (matchId < 0 || v.match_id < matchId))
          matchId = v.match_id
      }
      Iterator.single((vec,
        if (matchId >= 0) "dup" else "new", matchId))
    }
  }

  /** The streaming spelling: `vecs` must be a streaming DataFrame with
    * columns (ts, vec_id, embedding: array<float>) and a watermark on `ts`.
    * `cb` is the offline codebook ([[codebook]]); `numProbe ≥ cb.length`
    * makes candidate generation exhaustive (exact mode), and
    * [[graft.llm.AnnIvf.probesFor]] derives the production width (~1/22 of
    * the codebook, as the batch IVF probes). */
  def streamSemdedup(vecs: DataFrame, horizonMs: Long, cb: Array[Centroid],
                     numProbe: Int, tau: Double = Tau): DataFrame = {
    val s = vecs.sparkSession
    import s.implicits._
    require(cb.nonEmpty, "empty codebook")
    val np = math.max(1, math.min(cb.length, numProbe))
    // map-side IVF assignment: cosine to every centroid, top-np cells by
    // (cosine desc, cent_id asc) — the codebook rides the task closure
    // (≈√n rows, the IVF broadcast shape). A UDF (not a typed flatMap)
    // keeps the watermarked ts attribute intact through the explode.
    val probeCells = udf { (emb: Seq[Float]) =>
      val a = emb.toArray
      val nrm = math.sqrt(dotD(a, a))
      cb.map(c => (c.cent_id, dotD(a, c.v) / (nrm * c.nrm)))
        .sortBy { case (id, cos) => (-cos, id) }
        .take(np).zipWithIndex
        .map { case ((id, _), rank) => (id, rank == 0) }.toSeq
    }
    graft.plans.VectorFunctions.register(s)
    import graft.plans.VectorFunctions.dot
    vecs
      .withColumn("nrm", sqrt(dot(col("embedding"), col("embedding"))))
      .select(explode(probeCells(col("embedding"))).as("pc"),
        col("vec_id"), unix_micros(col("ts")).as("ts_us"),
        col("embedding"), col("nrm"), col("ts"))
      .select(col("pc._1").as("cell"), col("pc._2").as("home"),
        col("vec_id"), col("ts_us"),
        col("embedding").as("emb"), col("nrm"), col("ts"))
      .as[CellRow]
      .groupByKey(_.cell)
      .transformWithState(new CellSemdedupProcessor(horizonMs, tau),
        TimeMode.EventTime(), OutputMode.Append())
      .groupByKey(_.vec_id)
      .transformWithState(new SemVerdictProcessor(), TimeMode.None(),
        OutputMode.Append())
      .toDF("vec_id", "verdict", "match_id")
  }

  /** The registered BATCH twin: the identical contract computed
    * relationally over `embeddings` with the synthetic `ts = vec_id
    * minutes` event time, i.e. the horizon becomes a vec-id distance
    * bound. NOT a theta self-join (that plans as a cartesian): ids bucket
    * by `vec_id div horizon`, and every in-horizon earlier partner lives
    * in the same or previous bucket, so the pair space is an EQUI-join on
    * the probed bucket (2 rows per vector on the probe side) with the
    * distance/cosine predicates as filters — candidate volume O(n·horizon)
    * by construction, shuffle keyed on a dense bucket id. At production
    * scale the streaming spelling IS the scale path; this relational
    * twin is the oracle contract and the horizon-bounded backfill shape. */
  def semdedupBatch(s: SparkSession, d: String,
                    horizonVecs: Long = HorizonVecsDefault,
                    tau: Double = Tau): DataFrame = {
    graft.plans.VectorFunctions.register(s)
    import graft.plans.VectorFunctions.dot
    val e = graft.Tables.embeddings(s, d)
      .select(col("vec_id"), col("embedding"),
              sqrt(dot(col("embedding"), col("embedding"))).as("nrm"))
    val stored = e.select((col("vec_id") / lit(horizonVecs)).cast("long").as("bucket"),
      col("vec_id").as("j_id"), col("embedding").as("jv"), col("nrm").as("jn"))
    val probed = e.select(col("vec_id"), col("embedding"), col("nrm"),
        explode(array((col("vec_id") / lit(horizonVecs)).cast("long"),
                      (col("vec_id") / lit(horizonVecs)).cast("long") - 1))
          .as("bucket"))
    val matches = probed.join(stored, "bucket")
      .where(col("j_id") < col("vec_id") &&
             col("vec_id") - col("j_id") <= horizonVecs &&
             dot(col("jv"), col("embedding")) / (col("jn") * col("nrm")) >= tau)
      .groupBy("vec_id")
      .agg(min(col("j_id")).as("m_id"))
    graft.Tables.embeddings(s, d).select("vec_id")
      .join(matches, Seq("vec_id"), "left")
      .select(col("vec_id"),
        when(col("m_id").isNotNull, "dup").otherwise("new").as("verdict"),
        coalesce(col("m_id"), lit(-1L)).as("match_id"))
  }

  val semdedupSql: String = {
    val cos = graft.llm.Similarity.cosineSql("j.embedding", "i.embedding")
    s"""WITH matches AS (
       |  SELECT i.vec_id, min(j.vec_id) AS m_id
       |  FROM embeddings i JOIN embeddings j
       |    ON j.vec_id < i.vec_id AND i.vec_id - j.vec_id <= $HorizonVecsDefault
       |  WHERE $cos >= $Tau
       |  GROUP BY i.vec_id)
       |SELECT e.vec_id,
       |  CASE WHEN m.m_id IS NOT NULL THEN 'dup' ELSE 'new' END AS verdict,
       |  coalesce(m.m_id, -1) AS match_id
       |FROM embeddings e LEFT JOIN matches m ON e.vec_id = m.vec_id""".stripMargin
  }
}
