package e2ebench

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession
import org.json4s.{DefaultFormats, Formats}
import org.json4s.jackson.Serialization

/** JVM side of the benchmark; `run.py` builds it, launches it directly and
  * turns its report into metrics.
  *
  * {{{
  * e2ebench.Main oracle <out.json>
  * e2ebench.Main run    <workload> <seed> <seconds> <trace 0|1> <dataDir> <warmDir> <workDir>
  * }}}
  * `oracle` writes the oracle SQL of every query. `run` warms up (on
  * `warmDir` where a workload reads tables), runs the workload's op
  * closed-loop (one client, the next op starts when the previous one ends)
  * for `seconds` over the tables in `dataDir`, and prints one JSON report
  * as the last line of stdout.
  */
object Main {

  private implicit val formats: Formats = DefaultFormats

  def session(workDir: String): SparkSession = {
    val cpus = Runtime.getRuntime.availableProcessors()
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.sql.warehouse.dir", s"$workDir/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def main(args: Array[String]): Unit = args.toList match {
    case "oracle" :: out :: Nil =>
      Files.writeString(Paths.get(out), Serialization.write(graft.SparkEntry.oracleSql))
    case "run" :: workload :: seed :: seconds :: trace :: dataDir :: warmDir :: workDir :: Nil =>
      val spark = session(workDir)
      System.err.println(s"[e2ebench] jvm args: " +
        java.lang.management.ManagementFactory.getRuntimeMXBean.getInputArguments)
      val blas = try dev.ludovic.netlib.blas.BLAS.getInstance().getClass.getName
      catch { case e: Throwable => s"unavailable (${e.getMessage})" }
      val w = new Workloads(spark, seed.toLong, seconds.toDouble, trace == "1",
        dataDir, warmDir, workDir)
      val report = workload match {
        case "topic_etl"     => w.topicEtl()
        case "corpus_wizard" => w.corpusWizard()
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      }
      println(Serialization.write(report ++ Map("blas" -> blas,
        "cores" -> Runtime.getRuntime.availableProcessors())))
      spark.stop()
    case _ =>
      System.err.println("usage: oracle <out.json> | " +
        "run <workload> <seed> <seconds> <trace> <dataDir> <warmDir> <workDir>")
      sys.exit(2)
  }
}
