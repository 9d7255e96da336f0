package graft

import org.apache.spark.sql.SparkSession

/** The engine's one SparkSession factory: every main (Bench, Verify, Cli,
  * ScaleProbe, ExplainAudit) and the shared test session build through it,
  * so their settings cannot drift apart. `local[cpus]` with as many
  * shuffle partitions, cpus from `SPARK_GRAFT_CPUS` (default: the host's
  * processors); a deployment `master` (default `SPARK_GRAFT_MASTER`)
  * replaces the local master. UTC session time, nanosecond parquet
  * timestamps read as longs (see `Tables.normalizeTs`), AQE on, UI off,
  * round-robin repartition sorted first (which `Tables.fanOut` requires).
  * Under a deployment master the UI stays off too and the shuffle
  * partitions still follow cpus, i.e. the driver host's processors unless
  * `SPARK_GRAFT_CPUS` is set to the cluster's core count. Two builders
  * stay outside it: `GraftExtensionsSpec`, whose session must be built
  * `withExtensions`, and `perfbench`, which keeps its own fixed session so
  * that it measures every engine checkout the same way. */
object GraftSession {
  def defaultCpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  def apply(cpus: Int = defaultCpus,
      master: Option[String] = sys.env.get("SPARK_GRAFT_MASTER"))
      : SparkSession = {
    val s = SparkSession.builder()
      .master(master.getOrElse(s"local[$cpus]"))
      .appName("graft")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config(Tables.SortBeforeRepartition, "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    // after setLogLevel, which resets every logger's level
    tools.LogQuiet.quietNoise()
    s
  }
}
