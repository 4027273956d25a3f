package graft

import org.apache.spark.sql.SparkSession

/** Typed readers for the `spark.graft.*` session-conf knobs. A key exists
  * only where it bounds a failure regime the input causes: the near-dup
  * mega-clique guard (`neardup.maxPairsPerDoc`, `neardup.warnPairsPerDoc`,
  * `neardup.failPairsPerDoc`), the streaming band cap for a viral document
  * (`neardup.streamBandCap`), and the vocab broadcast ceiling
  * (`vocab.broadcastMaxRows`, until the vocab join decides in the plan).
  * Every other sizing is a constant or derived from the data; a spec or
  * `graft.Dev` that needs another value passes it as an argument (ConfsSpec
  * pins the key set). A malformed value must fail with an error NAMING the
  * conf and the value (round-16 hardening), not a bare
  * NumberFormatException thrown from deep inside query planning. */
object Confs {
  private def parse[T](s: SparkSession, key: String, kind: String,
                       cvt: String => T): Option[T] =
    s.conf.getOption(key).map { v =>
      try cvt(v.trim)
      catch { case _: NumberFormatException =>
        throw new IllegalArgumentException(
          s"$key: expected $kind, got '$v'")
      }
    }

  def intConf(s: SparkSession, key: String): Option[Int] =
    parse(s, key, "an integer", _.toInt)

  def longConf(s: SparkSession, key: String): Option[Long] =
    parse(s, key, "an integer", _.toLong)

  /** The SPARK_GRAFT_EXTRA_CONF dev hook ("k=v,k=v" conf overrides for
    * cross-process A/Bs and conf-selected variants), parsed once here and
    * applied by [[Sessions.builder]].
    * Key and value are trimmed INDIVIDUALLY: "key = value" used to set a
    * conf key with a trailing space, which no reader ever matches — the
    * intended variant silently didn't run in the tool whose job was to run
    * it (round-16 review). Commas inside values are not representable. */
  def extraConfPairs(raw: Option[String] = sys.env.get("SPARK_GRAFT_EXTRA_CONF"))
      : Seq[(String, String)] =
    raw.filter(_.nonEmpty).toSeq.flatMap {
      _.split(',').iterator.map(_.trim).filter(_.nonEmpty).map { kv =>
        kv.split("=", 2) match {
          case Array(k, v) if k.trim.nonEmpty => (k.trim, v.trim)
          case _ => sys.error(
            s"SPARK_GRAFT_EXTRA_CONF: malformed entry '$kv' (expected key=value)")
        }
      }.toSeq
    }

  /** Run `body` with the session confs `kv` set, then restore each key to
    * its previous value (or unset it) — for callers sharing one session. */
  def withConf[A](s: SparkSession, kv: (String, String)*)(body: => A): A = {
    val prev = kv.map { case (k, _) => k -> s.conf.getOption(k) }
    kv.foreach { case (k, v) => s.conf.set(k, v) }
    try body
    finally prev.foreach {
      case (k, Some(v)) => s.conf.set(k, v)
      case (k, None) => s.conf.unset(k)
    }
  }
}
