package graft

import org.apache.spark.sql.SparkSession

/** The one session factory. Bench, Verify, the dev harness ([[Dev]]), the
  * catalog round trip and the test suite all build their session here, so
  * numbers from different tools come from the same engine settings.
  *
  * `local[n]` with `n` shuffle partitions, where `n` is `SPARK_GRAFT_CPUS`
  * or else the JVM's available processors; UI off; UTC session time zone.
  * Caller pairs come next, and the `SPARK_GRAFT_EXTRA_CONF` pairs last:
  * they are builder settings, so core SparkConf keys (which must exist when
  * the SparkContext starts) work as well as session confs. */
object Sessions {
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").flatMap(_.trim.toIntOption)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  def builder(conf: (String, String)*): SparkSession.Builder =
    settings(conf).foldLeft(SparkSession.builder().master(s"local[$cpus]").appName("graft")) {
      case (b, (k, v)) => b.config(k, v)
    }

  /** The session settings in application order (a later key wins). */
  def settings(conf: Seq[(String, String)],
               extra: Seq[(String, String)] = Confs.extraConfPairs()): Seq[(String, String)] =
    Seq(
      "spark.sql.shuffle.partitions" -> cpus.toString,
      "spark.ui.enabled" -> "false",
      "spark.sql.session.timeZone" -> "UTC",
      // The generated-code cache holds 100 compiled units by default; a full
      // headline pass generates more than that, so round-robin passes would
      // re-run janino on every query. Plenty of heap — keep them all.
      "spark.sql.codegen.cache.maxEntries" -> "5000",
      // AQE's coalescer floors partitions at minPartitionSize (1 MB default)
      // even with parallelismFirst=true, so a ~3 MB shuffle collapses to 2-3
      // tasks and a CPU-heavy stage behind it (window sort, range sort)
      // serializes on 2 of 32 idle cores (measured: llm_tfidf's window+sort
      // stages ran 2-task at ~1 s combined). 256 KB keeps small-but-hot
      // stages parallel; at 100 TB every real shuffle dwarfs either floor,
      // so this only affects the small-data regime it is meant for.
      "spark.sql.adaptive.coalescePartitions.minPartitionSize" -> "256k") ++
      conf ++ extra
}
