package graft.multimodal

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.{Op, Sql, Tables}

/** Multimodal columns as opaque binary + typed metadata (SURVEY.md §2.11 /
  * builder prompt): image/audio/video payloads ride through the engine as
  * `binary` columns next to a metadata struct; decode / feature-extract /
  * resize run batch-at-a-time inside `mapPartitions` so a real decoder
  * would amortize model/codec initialization once per partition — the
  * Scala-side equivalent of a batched pandas-style UDF (the MessageDigest
  * below IS that per-partition init, exercised for real).
  *
  * The decode step itself is a clearly-marked STUB (no image/audio codecs in
  * this environment): [[StubDecoder]] derives deterministic fake features
  * from the bytes — md5 digests, chosen over a custom hash so the WHOLE
  * stage is DuckDB-oracle-checkable (the fixture text is pure ASCII, so
  * Spark's bytes and DuckDB's characters agree). The Spark-side plumbing —
  * schema, partitioning, batch iteration, typed Encoders — is real and
  * tested; swapping in a true codec touches only [[StubDecoder]].
  *
  * 100 TB: media rows are large and skewed → repartition by record id before
  * the decode stage so one straggler file cannot serialize a whole partition,
  * and features (small) flow on while payloads are dropped right after
  * decode (projection cuts the shuffle width).
  */
object Multimodal {

  /** One media record: payload + the metadata a real ingest would carry. */
  case class MediaRecord(doc_id: Long, media: Array[Byte], format: String,
                         width: Int, height: Int)

  /** Extracted features (what a decoder/embedder would emit). */
  case class MediaFeatures(doc_id: Long, n_bytes: Int, format: String,
                           out_width: Int, out_height: Int, checksum: String)

  /** STUB decoder — deterministic fake standing in for image/audio codecs
    * that are not available in this container. A production build replaces
    * only this object. The digest instance is created once per partition
    * (see [[decodeFeatures]]) — the codec/model-init amortization slot. */
  object StubDecoder {
    val TargetSize = 224 // "resize" target, as an image pipeline would use

    def newDigest(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")

    def hex(d: Array[Byte]): String = d.map("%02x".format(_)).mkString

    def decode(md: java.security.MessageDigest, r: MediaRecord): MediaFeatures = {
      md.reset()
      MediaFeatures(r.doc_id, r.media.length, r.format,
        math.min(r.width, TargetSize), math.min(r.height, TargetSize),
        hex(md.digest(r.media)))
    }
  }

  /** Build the media table from the documents fixture: text bytes stand in
    * for an encoded payload; metadata is derived deterministically. */
  def mediaTable(s: SparkSession, d: String): Dataset[MediaRecord] = {
    import s.implicits._
    Tables.documents(s, d)
      .select(col("doc_id"),
        col("text").cast("binary").as("media"),
        when(col("doc_id") % 3 === 0, "png")
          .when(col("doc_id") % 3 === 1, "jpeg").otherwise("wav").as("format"),
        (col("n_chars") % 1000 + 32).cast("int").as("width"),
        (col("n_chars") % 500 + 32).cast("int").as("height"))
      .as[MediaRecord]
  }

  /** The decode stage: partition-batched feature extraction. */
  def decodeFeatures(media: Dataset[MediaRecord]): Dataset[MediaFeatures] = {
    import media.sparkSession.implicits._
    media
      .repartition(col("doc_id")) // spread large payloads before decode
      .mapPartitions { batch =>
        val md = StubDecoder.newDigest() // per-partition init, once
        batch.map(r => StubDecoder.decode(md, r))
      }
  }

  /** One sampled frame: which frame of which record, and its stub features. */
  case class FrameSample(doc_id: Long, frame_idx: Int, frame_bytes: Int,
                         frame_checksum: String)

  val FrameBytes = 64   // fixed-size "frame" chunk of the payload
  val FrameStride = 4   // keep every 4th frame (video frame-sampling idiom)

  /** Frame sampling: the one→many decode shape (a video record explodes into
    * its sampled frames). Chunking + striding happen inside the same
    * partition-batched stage as decode, so the payload is read once and only
    * small per-frame features leave the stage — at 100 TB the frame fan-out
    * (can be 1000x rows) must never materialize raw frame bytes into a
    * shuffle. Frame features are md5 digests of the frame's bytes (stub). */
  def sampleFrames(media: Dataset[MediaRecord]): Dataset[FrameSample] = {
    import media.sparkSession.implicits._
    media
      .repartition(col("doc_id"))
      .mapPartitions { batch =>
        val md = StubDecoder.newDigest() // per-partition init, once
        batch.flatMap { r =>
          val nFrames = (r.media.length + FrameBytes - 1) / FrameBytes
          (0 until nFrames by FrameStride).iterator.map { f =>
            val lo = f * FrameBytes
            val hi = math.min(lo + FrameBytes, r.media.length)
            md.reset()
            md.update(r.media, lo, hi - lo)
            FrameSample(r.doc_id, f, hi - lo, StubDecoder.hex(md.digest()))
          }
        }
      }
  }

  /** A "resized" record: the payload-TRANSFORM stage (binary in → binary
    * out), unlike decode which only extracts features. */
  case class ResizedRecord(doc_id: Long, out_width: Int, out_height: Int,
                           out_bytes: Int, out_checksum: String)

  /** Resize stage: the one→one payload transform. The stub scales the byte
    * budget with the clamped output dims (out_w·out_h/64, never more than
    * the input) and "re-encodes" by truncation; a real build swaps the
    * truncation for a codec call. What the oracle checks: the byte-budget
    * arithmetic (pure ints), the transform running per partition batch, and
    * the digest of the TRANSFORMED payload — i.e. the new binary really was
    * produced, not just described. Payloads are dropped from the output
    * row, so only small features leave the stage (the shuffle-width rule
    * every media pipeline lives by at 100 TB). */
  def resizePayloads(media: Dataset[MediaRecord]): Dataset[ResizedRecord] = {
    import media.sparkSession.implicits._
    media
      .repartition(col("doc_id"))
      .mapPartitions { batch =>
        val md = StubDecoder.newDigest() // per-partition init, once
        batch.map { r =>
          val ow = math.min(r.width, StubDecoder.TargetSize)
          val oh = math.min(r.height, StubDecoder.TargetSize)
          val budget = math.min(r.media.length, ow * oh / 64)
          val out = java.util.Arrays.copyOfRange(r.media, 0, budget)
          md.reset()
          ResizedRecord(r.doc_id, ow, oh, budget, StubDecoder.hex(md.digest(out)))
        }
      }
  }

  /** One analysis window of an audio payload: exact integer energy (sum of
    * byte values — order-free, oracle-exact) + stub fingerprint. */
  case class AudioWindow(doc_id: Long, win_idx: Int, win_bytes: Int,
                         energy: Long, win_checksum: String)

  val AudioWinBytes = 32 // window size
  val AudioWinHop = 16   // 50% overlap — the STFT framing idiom

  /** Audio windowing: overlapping fixed-size windows over the `wav` records
    * only (format pushdown BEFORE the heavy stage), per-window byte-energy
    * and digest. Same fan-out discipline as frame sampling: the payload is
    * read once per partition batch and only small per-window rows leave. */
  def audioWindows(media: Dataset[MediaRecord]): Dataset[AudioWindow] = {
    import media.sparkSession.implicits._
    media
      .filter(col("format") === "wav")
      .repartition(col("doc_id"))
      .mapPartitions { batch =>
        val md = StubDecoder.newDigest() // per-partition init, once
        batch.flatMap { r =>
          val starts = 0 to math.max(0, r.media.length - 1) by AudioWinHop
          starts.iterator.zipWithIndex.map { case (lo, idx) =>
            val hi = math.min(lo + AudioWinBytes, r.media.length)
            var energy = 0L
            var i = lo
            while (i < hi) { energy += r.media(i) & 0xff; i += 1 }
            md.reset()
            md.update(r.media, lo, hi - lo)
            AudioWindow(r.doc_id, idx, hi - lo, energy, StubDecoder.hex(md.digest()))
          }
        }
      }
  }

  /** All stages registered with full DuckDB oracles: md5 exists in both
    * engines and the payload is ASCII text bytes, so the fake features are
    * cross-checkable end-to-end — schema, metadata derivation, resize
    * clamping, chunking and striding all verified, not just row counts.
    * Registered SORT-FREE (round 15): per-row outputs of mapPartitions
    * kernels have no semantic global order, so the dump sorts by the row
    * key — doc_id, plus the window or frame index where a doc has many. */
  val ops: Seq[Op] = Seq(
    Op("mm_resize_stub", (s, d) => resizePayloads(mediaTable(s, d)).toDF(),
      Sql(s"""WITH dims AS (
         |  SELECT doc_id, strlen(text) AS n, text,
         |    cast(least(n_chars % 1000 + 32, ${StubDecoder.TargetSize}) as int) AS out_width,
         |    cast(least(n_chars % 500 + 32, ${StubDecoder.TargetSize}) as int) AS out_height
         |  FROM documents)
         |SELECT doc_id, out_width, out_height,
         |  cast(least(n, (out_width * out_height) // 64) as int) AS out_bytes,
         |  md5(substr(text, 1, cast(least(n, (out_width * out_height) // 64) as int)))
         |    AS out_checksum
         |FROM dims""".stripMargin), Seq("doc_id")),
    Op("mm_audio_window", (s, d) => audioWindows(mediaTable(s, d)).toDF(),
      Sql(s"""WITH wav AS (
         |  SELECT doc_id, text, strlen(text) AS n FROM documents
         |  WHERE doc_id % 3 = 2),
         |win AS (
         |  SELECT doc_id, text, n, g.lo,
         |    cast((g.lo / $AudioWinHop) as int) AS win_idx,
         |    cast(least(g.lo + $AudioWinBytes, n) - g.lo as int) AS win_bytes
         |  FROM wav, unnest(generate_series(0, greatest(0, n - 1), $AudioWinHop)) AS g(lo))
         |SELECT doc_id, win_idx, win_bytes,
         |  cast(coalesce(list_sum(list_transform(range(1, win_bytes + 1),
         |    i -> ord(substr(text, cast(lo + i as int), 1)))), 0) as bigint) AS energy,
         |  md5(substr(text, cast(lo + 1 as int), $AudioWinBytes)) AS win_checksum
         |FROM win""".stripMargin), Seq("doc_id", "win_idx")),
    Op("mm_decode_stub", (s, d) => decodeFeatures(mediaTable(s, d)).toDF()
        .select("doc_id", "n_bytes", "format", "out_width", "out_height", "checksum"),
      Sql(s"""SELECT doc_id, cast(strlen(text) as int) AS n_bytes,
         |  CASE WHEN doc_id % 3 = 0 THEN 'png'
         |       WHEN doc_id % 3 = 1 THEN 'jpeg' ELSE 'wav' END AS format,
         |  cast(least(n_chars % 1000 + 32, ${StubDecoder.TargetSize}) as int) AS out_width,
         |  cast(least(n_chars % 500 + 32, ${StubDecoder.TargetSize}) as int) AS out_height,
         |  md5(text) AS checksum
         |FROM documents""".stripMargin), Seq("doc_id")),
    Op("mm_frame_sample", (s, d) => sampleFrames(mediaTable(s, d)).toDF(),
      Sql(s"""WITH f AS (
         |  SELECT doc_id, text, strlen(text) AS n,
         |    unnest(range(0, cast(ceil(strlen(text) / ${FrameBytes}.0) as bigint), $FrameStride)) AS fi
         |  FROM documents)
         |SELECT doc_id, cast(fi as int) AS frame_idx,
         |  cast(least($FrameBytes, n - fi * $FrameBytes) as int) AS frame_bytes,
         |  md5(substr(text, cast(fi * $FrameBytes + 1 as int), $FrameBytes)) AS frame_checksum
         |FROM f""".stripMargin), Seq("doc_id", "frame_idx")),
  )
}
