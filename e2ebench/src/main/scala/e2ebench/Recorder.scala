package e2ebench

import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

/** Spans around the benchmark's own calls into the program, plus the Spark
  * jobs, task metrics and SQL executions seen while they ran.
  *
  * Jobs are attributed to spans later, by submission time: the innermost
  * span open when a job was submitted owns it. Job groups are not used for
  * this because the program sets its own group in the silhouette scan's
  * pool threads. Span and job times share one clock
  * (`System.currentTimeMillis`); span durations use `nanoTime`.
  */
final class Recorder(spark: SparkSession) extends SparkListener {

  private final case class Span(id: Int, name: String, parent: Int, op: Int,
                                startMs: Long, var endMs: Long = -1L, var durS: Double = 0.0)
  private final class JobRec(val id: Int, val submitMs: Long) {
    var tasks = 0L; var cpuNs = 0L; var gcMs = 0L
    var shuffleBytes = 0L; var spillBytes = 0L
  }

  private val spans = ArrayBuffer.empty[Span]
  private var open = List.empty[Span]
  private val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stageJob = new ConcurrentHashMap[Int, JobRec]()
  private val writes = new ConcurrentHashMap[Long, Array[Long]]() // id -> [start, end]

  spark.sparkContext.addSparkListener(this)

  /** Run `f` inside a span named `name`, a child of the innermost open span.
    * `op` tags the span with the workload op it belongs to.
    */
  def span[T](name: String, op: Int = -1)(f: => T): T = {
    val s = Span(spans.size, name, open.headOption.map(_.id).getOrElse(-1),
      if (op >= 0) op else open.headOption.map(_.op).getOrElse(-1),
      System.currentTimeMillis())
    spans += s
    open = s :: open
    val t0 = System.nanoTime()
    try f finally {
      s.durS = (System.nanoTime() - t0) / 1e9
      s.endMs = System.currentTimeMillis()
      open = open.tail
    }
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val j = new JobRec(e.jobId, e.time)
    jobs.put(e.jobId, j)
    e.stageIds.foreach(stageJob.put(_, j))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageJob.get(e.stageId)).foreach { j =>
      val m = e.taskMetrics
      j.synchronized {
        j.tasks += 1
        if (m != null) {
          j.cpuNs += m.executorCpuTime
          j.gcMs += m.jvmGCTime
          j.shuffleBytes += m.shuffleWriteMetrics.bytesWritten +
            m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead
          j.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        }
      }
    }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart
        if s.physicalPlanDescription.contains("InsertIntoHadoopFsRelationCommand") =>
      writes.put(s.executionId, Array(s.time, -1L))
    case s: SparkListenerSQLExecutionEnd =>
      Option(writes.get(s.executionId)).foreach(_(1) = s.time)
    case _ => ()
  }

  /** Spans, jobs and zone writes as JSON-ready values. Drains the listener
    * bus first so every event of a finished job has been seen.
    */
  def dump(): Map[String, Any] = {
    org.apache.spark.E2eBus.drain(spark.sparkContext)
    Map(
      "spans" -> spans.toSeq.map(s => Map("id" -> s.id, "name" -> s.name,
        "parent" -> s.parent, "op" -> s.op, "start_ms" -> s.startMs,
        "end_ms" -> s.endMs, "dur_s" -> s.durS)),
      "jobs" -> jobs.values.asScala.toSeq.sortBy(_.id).map(j => j.synchronized {
        Map("id" -> j.id, "submit_ms" -> j.submitMs, "tasks" -> j.tasks,
          "cpu_s" -> j.cpuNs / 1e9, "gc_s" -> j.gcMs / 1e3,
          "shuffle_bytes" -> j.shuffleBytes, "spill_bytes" -> j.spillBytes)
      }),
      "writes" -> writes.values.asScala.toSeq.filter(_(1) >= 0).sortBy(_(0))
        .map(w => Map("start_ms" -> w(0), "end_ms" -> w(1))))
  }
}
