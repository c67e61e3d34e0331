package e2ebench

import java.nio.file.{Files, Paths}
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{SparkEntry, Tables}
import graft.clean.Cleaner
import graft.dedup.Dedup
import graft.ingest.{Content, LinkExtractor}
import graft.pipeline.PipelineExecutor
import graft.util.Ids
import graft.wizard.WordWizard

/** The two timed workloads. Each warms up on inputs disjoint from the timed
  * ones, then runs its op closed-loop until `seconds` have passed. Ops are
  * reported raw (latency, process CPU, output rows and what the launcher
  * needs to check the output); the launcher computes the metrics.
  *
  * A traced run (`traced`) runs a fixed number of untraced ops and then the
  * same number of traced ops, wrapping the benchmark's calls into each
  * module's public functions in [[Recorder]] spans. Lazy stages are forced
  * with a `noop` write inside their span, so a traced op recomputes work
  * that an untraced op shares; the launcher reports that cost as
  * `trace.overhead_frac`. The traced run of topic_etl also runs one traced
  * pass of the 44-query suite, which has no timed workload of its own.
  */
final class Workloads(spark: SparkSession, seed: Long, seconds: Double,
                      traced: Boolean, dataDir: String, warmDir: String, workDir: String) {

  private val rec = if (traced) Some(new Recorder(spark)) else None

  // Spark jobs started, counted in every run: at this scale an op's cost
  // follows its job count, so the count explains latency differences.
  private val jobsStarted = new java.util.concurrent.atomic.AtomicLong()
  spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
    override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
      jobsStarted.incrementAndGet()
  })
  private def span[T](name: String, op: Int = -1)(f: => T): T =
    rec.fold(f)(_.span(name, op)(f))
  private def force(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** Process CPU seconds (user + system) from /proc/self/stat. */
  private def procCpuS(): Double = {
    val s = new String(Files.readAllBytes(Paths.get("/proc/self/stat")))
    val f = s.substring(s.lastIndexOf(')') + 2).split(" ")
    (f(11).toLong + f(12).toLong) / 100.0
  }

  private def nowEpochS(): Double = {
    val i = java.time.Instant.now()
    i.getEpochSecond + i.getNano / 1e9
  }

  private var firstOpEpochS = -1.0
  private val ops = ArrayBuffer.empty[Map[String, Any]]
  private val sessionEpochS = nowEpochS()
  private val warmupS = ArrayBuffer.empty[Double]

  /** Run one untimed warm-up step, recording its wall time as a diagnostic. */
  private def warmup[T](f: => T): T = {
    val t0 = System.nanoTime()
    try f finally warmupS += (System.nanoTime() - t0) / 1e9
  }

  /** Time one op. `f` returns (output rows, details for the checks); an
    * exception marks the op failed and is kept out of every latency figure.
    */
  private def timeOp(kind: String, tracedOp: Boolean = false)(
      f: Int => (Long, Map[String, Any])): Unit = {
    val idx = ops.size
    org.apache.spark.E2eBus.drain(spark.sparkContext)
    val j0 = jobsStarted.get()
    if (firstOpEpochS < 0) firstOpEpochS = nowEpochS()
    val c0 = procCpuS()
    val t0 = System.nanoTime()
    val res = try Right(f(idx)) catch { case e: Throwable => Left(e) }
    val dur = (System.nanoTime() - t0) / 1e9
    val cpu = procCpuS() - c0
    org.apache.spark.E2eBus.drain(spark.sparkContext)
    val base = Map[String, Any]("kind" -> kind, "dur_s" -> dur, "cpu_s" -> cpu,
      "traced" -> tracedOp, "jobs" -> (jobsStarted.get() - j0))
    ops += (res match {
      case Right((rows, detail)) => base ++ detail ++ Map("ok" -> true, "rows" -> rows)
      case Left(e) =>
        System.err.println(s"[e2ebench] op $idx ($kind) failed: $e")
        base ++ Map("ok" -> false, "rows" -> 0L, "error" -> e.toString)
    })
    spark.catalog.clearCache()
  }

  /** Run `op(i)` for i = 0, 1, … until `seconds` have passed since the
    * first and the ops run are a whole number of `cycle`s, so every run has
    * the same mix of request kinds.
    */
  private def closedLoop(op: Int => Unit, cycle: Int = 1): Unit = {
    val t0 = System.nanoTime()
    var i = 0
    while ((System.nanoTime() - t0) / 1e9 < seconds || i % cycle != 0) { op(i); i += 1 }
  }

  private def report(extra: Map[String, Any]): Map[String, Any] =
    Map("session_epoch_s" -> sessionEpochS, "warmup_s" -> warmupS.toSeq,
      "first_op_epoch_s" -> firstOpEpochS, "ops" -> ops.toSeq,
      "trace" -> rec.map(_.dump())) ++ extra

  // ---- topic_etl: PipelineExecutor.execute(topic, 100) ------------------

  private val TopicWords = Seq("solar", "harbor", "election", "vaccine", "river",
    "bridge", "tariff", "drought", "satellite", "orchestra", "glacier", "railway",
    "festival", "wildfire", "copper", "startup", "museum", "pension", "airline",
    "harvest", "tunnel", "reactor", "forest", "stadium", "ferry", "coffee",
    "volcano", "library", "telescope", "vineyard", "highway", "lithium")

  /** Distinct topic names of three words, drawn with `rnd`. Warm-up names
    * start with "warmup", which no timed name does.
    */
  private def topicNames(rnd: scala.util.Random, prefix: Option[String]): Iterator[String] = {
    val seen = scala.collection.mutable.Set.empty[String]
    Iterator.continually {
      val w = Seq.fill(3)(TopicWords(rnd.nextInt(TopicWords.size)))
      (prefix.toSeq ++ w).mkString(" ")
    }.filter(seen.add)
  }

  /** Row count and an order-independent checksum of every column. */
  private def countAndSum(df: DataFrame): (Long, Long) = {
    val h = pmod(xxhash64(df.columns.map(col).toIndexedSeq: _*), lit(1L << 31))
    val r = df.agg(count(lit(1)), sum(h))
      .head()
    (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
  }

  def topicEtl(): Map[String, Any] = {
    val pe = new PipelineExecutor(s"$workDir/zone")
    val rnd = new scala.util.Random(seed)
    val names = topicNames(rnd, None)
    val cold = ArrayBuffer.empty[String]

    // every third request repeats an earlier cold topic (a clean-zone hit)
    def request(i: Int, pick: () => String, pool: ArrayBuffer[String],
                r: scala.util.Random = rnd): (String, Boolean) =
      if (i % 3 == 2) (pool(r.nextInt(pool.size)), true)
      else { val t = pick(); pool += t; (t, false) }

    def op(topic: String, hit: Boolean, traceIt: Boolean): Unit =
      timeOp(if (hit) "hit" else "cold", traceIt) { idx =>
        val (n, sum) = span(if (hit) "pipeline.hit" else "pipeline.cold", idx) {
          countAndSum(pe.execute(spark, topic, 100))
        }
        val layers = if (traceIt && !hit) span("layers", idx)(traceLayers(pe, topic))
          else Map.empty[String, Any]
        (n, layers ++ Map("topic" -> topic, "checksum" -> sum))
      }

    val warm = ArrayBuffer.empty[String]
    val warmRnd = new scala.util.Random(~seed)
    val warmNames = topicNames(warmRnd, Some("warmup"))
    // 30 requests (20 cold): cold latency keeps falling for ~25 requests (JIT)
    (0 until 30).foreach { i =>
      val (t, _) = request(i, () => warmNames.next(), warm, warmRnd)
      warmup(countAndSum(pe.execute(spark, t, 100)))
    }
    if (traced) {
      (0 until 6).foreach { i => val (t, h) = request(i, () => names.next(), cold); op(t, h, false) }
      (6 until 12).foreach { i => val (t, h) = request(i, () => names.next(), cold); op(t, h, true) }
      traceQuerySuite()
    } else closedLoop({ i => val (t, h) = request(i, () => names.next(), cold); op(t, h, false) },
      cycle = 3)
    report(Map.empty)
  }

  /** Re-run the ETL stages one module call at a time, each in its span. */
  private def traceLayers(pe: PipelineExecutor, topic: String): Map[String, Any] = {
    // eager localCheckpoint: forces the links once and reuses them below
    val links = span("ingest.links") {
      LinkExtractor.allLinks(spark, topic, 100).filter(col("se_link").isNotNull)
        .localCheckpoint()
    }
    val (ok, failed) = span("ingest.fetch") {
      val r = Content.fetch(links, keepErrors = true)
        .agg(count(when(col("error").isNull, 1)), count(col("error"))).head()
      (r.getLong(0), r.getLong(1))
    }
    val merged = broadcast(links)
      .join(Content.fetch(links), links("se_link") === col("bs_link"), "inner")
      .localCheckpoint()
    span("util.dense_index")(force(Ids.denseIndex(merged, "article_index", "se_link")))
    val raw = spark.read.parquet(pe.rawPath(topic, 100))
    val rowsIn = raw.count()
    val rowsOut = span("clean")(Cleaner.cleanArticles(raw).count())
    Map("pages_ok" -> ok, "pages_failed" -> failed, "rows_in" -> rowsIn, "rows_out" -> rowsOut)
  }

  // ---- corpus_wizard: the full WordWizard chain -------------------------

  /** Suffix columns the full chain must add (word_wizard.py's contract). */
  private val WizardColumns = Seq("sentences", "paragraph_sentence_embeddings",
    "paragraph_sentence_embeddings_clusters", "paragraph_sentence_embeddings_clusters_medoids",
    "paragraph_clusters_NER", "paragraph_sentence_embeddings_clusters_medoids_summaries",
    "paragraph_sentiment", "topics", "paragraph_reduced_dimensions_word_embeddings")

  /** A `frac` share of `documents`, chosen by a hash of (doc_id, shard seed). */
  private def shard(shardSeed: Long, frac: Double = 0.8): DataFrame =
    Tables(spark, dataDir, "documents")
      .filter(pmod(xxhash64(col("doc_id"), lit(shardSeed)), lit(1000000L)) < (frac * 1e6).toLong)
      .select(col("doc_id"), col("text").as("paragraph"),
        substring(col("text"), 1, 40).as("title"))

  /** The full chain; `kMax` bounds the silhouette scan (15, the default, scans k = 5..14). */
  private def chain(docs: DataFrame, traceIt: Boolean, kMax: Int = 15): (Long, Map[String, Any]) = {
    def stage(name: String)(w: => WordWizard): WordWizard =
      if (traceIt) span(name) { val r = w; force(r.df); r } else w
    val embedded = stage("wizard.embed")(WordWizard(docs, "paragraph").createSentenceEmbeddings())
    val clustered = stage("wizard.cluster")(embedded.clusterEmbeddings(kMax = kMax))
    val ner = stage("wizard.ner")(clustered.entityRecognition())
    val summarized = stage("wizard.summarize")(ner.summarizeMedoids())
    val sentiment = stage("wizard.sentiment")(summarized.findSentiment())
    val topics = stage("wizard.topics")(sentiment.topicModelling())
    val out = stage("wizard.reduce")(topics.reduceDimensionality())
    val clusterCol = "paragraph_sentence_embeddings_clusters"
    val r = span("wizard.materialize") {
      out.df.agg(count(lit(1)), countDistinct(col(clusterCol)),
        countDistinct(when(col(clusterCol + WordWizard.MedoidSuffix), col(clusterCol))),
        count(when(col(clusterCol + WordWizard.MedoidSuffix), 1))).head()
    }
    (r.getLong(0), Map("clusters" -> r.getLong(1), "medoid_clusters" -> r.getLong(2),
      "medoids" -> r.getLong(3),
      "missing_columns" -> WizardColumns.filterNot(out.df.columns.contains)))
  }

  def corpusWizard(): Map[String, Any] = {
    val timed = shard(seed)
    val shardRows = timed.count()
    // warm-up: one chain on a 20% shard of another shard seed, its scan cut
    // to one wave of the pool (k = 5..7). The first chain in a JVM costs
    // about twice a later one whatever its rows; a full scan here would
    // make the timed chain 5-9% faster for 11 s more set-up, which the run
    // budget (NOTES.md) does not have.
    warmup(chain(shard(seed ^ 0x5deece66dL, 0.2), traceIt = false, kMax = 8))
    spark.catalog.clearCache()
    def op(traceIt: Boolean): Unit = timeOp("chain", traceIt) { idx =>
      span("chain", idx)(chain(timed, traceIt))
    }
    if (traced) { op(false); op(true) } else closedLoop(_ => op(false))
    report(Map("shard_rows" -> shardRows))
  }

  // ---- the 44-query suite (traced runs of topic_etl only) --------------

  /** One pass over every SparkEntry query in a seeded order, each query in
    * its span, after a warm-up pass over the small warm-up tables (four
    * queries at a time); then the dedup counts. Reported as one op.
    */
  private def traceQuerySuite(): Unit = {
    val order = new scala.util.Random(seed).shuffle(SparkEntry.queries.keys.toSeq.sorted)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutorService(pool)
    try warmup {
      order.map(q => scala.concurrent.Future(SparkEntry.queries(q)(spark, warmDir).count()))
        .foreach(f => scala.concurrent.Await.result(f, scala.concurrent.duration.Duration.Inf))
    } finally pool.shutdown()
    spark.catalog.clearCache()
    timeOp("pass", tracedOp = true) { idx =>
      val counts = order.map { q =>
        val n = span("queries." + q, idx)(SparkEntry.queries(q)(spark, dataDir).count())
        spark.catalog.clearCache()
        q -> n
      }.toMap
      (counts.values.sum, Map("counts" -> counts) ++ span("dedup", idx)(dedupCounts()))
    }
  }

  /** LSH candidate pairs over the documents and how many verify. */
  private def dedupCounts(): Map[String, Any] = {
    val docs = Tables.balanced(spark, dataDir, "documents")
    val sig = Dedup.minHashWide(docs, "doc_id", "text", 3, 8)
    val pairs = Dedup.lshCandidatePairs(sig, "doc_id", bandRows = 2).localCheckpoint()
    val candidates = pairs.count()
    val verified = Dedup.verifyPairs(pairs, docs, "doc_id", "text")
      .filter(col("jaccard") >= 0.5).count()
    Map("candidate_pairs" -> candidates, "verified_pairs" -> verified)
  }
}
