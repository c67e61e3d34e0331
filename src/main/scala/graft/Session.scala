package graft

import org.apache.spark.sql.SparkSession

/** The one SparkSession factory: Bench, Verify, Perf, `pipeline.Cli` and
  * the test suite all build their session here, so they run the same
  * semantics. `SPARK_GRAFT_CPUS` (default: the machine's core count) sizes
  * both the local master and the shuffle partitions.
  */
object Session {
  private val cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS",
    Runtime.getRuntime.availableProcessors.toString)

  def apply(master: String = s"local[$cpus]"): SparkSession =
    SparkSession.builder()
      .master(master)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      // EventQueries.tsMicros requires a UTC session
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      // events.ts has shipped as parquet TIMESTAMP(NANOS), which Spark has
      // no type for; read it as an exact nanos-since-epoch long (oracle:
      // epoch_ns(ts)).
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .getOrCreate()
}
