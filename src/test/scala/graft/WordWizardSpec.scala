package graft

import org.apache.spark.sql.functions._
import graft.wizard.{Cluster, WordWizard}

class WordWizardSpec extends SparkSpec {
  import spark.implicits._

  // two separable "topics" so KMeans(k=2) is stable
  private def corpus = {
    val a = (0 until 12).map(i =>
      (s"spark shuffle partition executor task stage job " * 3) + s"run$i")
    val b = (0 until 12).map(i =>
      (s"recipe butter flour sugar oven bake cake " * 3) + s"dish$i")
    (a ++ b).toDF("paragraph")
  }

  test("full chain produces the reference's suffix-column schema") {
    val w = WordWizard(corpus, "paragraph")
      .createSentenceEmbeddings()
      .clusterEmbeddings(k = Some(2))
      .entityRecognition(minLen = 4)
      .summarizeMedoids()
      .findSentiment()
      .topicModelling(nWords = 5)
      .reduceDimensionality()
    val cols = w.df.columns.toSet
    val emb = "paragraph_sentence_embeddings"
    assert(cols.contains("sentences"))
    assert(cols.contains(emb))
    assert(cols.contains(s"${emb}_clusters"))
    assert(cols.contains(s"${emb}_clusters_medoids"))
    assert(cols.contains(s"${emb}_clusters_medoids_summaries"))
    assert(cols.contains("paragraph_clusters_NER"))
    assert(cols.contains("paragraph_sentiment"))
    assert(cols.contains("topics"))
    assert(cols.contains("paragraph_reduced_dimensions_word_embeddings"))

    val out = w.df.cache()
    assert(out.count() == 24)
    // 2 clusters x 2 medoids
    assert(out.filter(col(s"${emb}_clusters_medoids")).count() == 4)
    // summaries exactly on medoid rows
    assert(out.filter(col(s"${emb}_clusters_medoids_summaries").isNotNull)
      .count() == 4)
    // clusters separate the two topics
    val purity = out.groupBy(col(s"${emb}_clusters"))
      .agg(sum(when(col("paragraph").contains("spark"), 1).otherwise(0)).as("sp"),
           count(lit(1)).as("n"))
      .collect.map(r => math.max(r.getLong(1), r.getLong(2) - r.getLong(1)).toDouble / r.getLong(2))
    assert(purity.forall(_ == 1.0))
    // reduced dims are 2-d
    assert(out.select(size(col("paragraph_reduced_dimensions_word_embeddings")))
      .head.getInt(0) == 2)
    // topics constant within cluster, 5 terms
    assert(out.select(size(col("topics"))).head.getInt(0) == 5)
    out.unpersist()
  }

  test("BatchedEmbedder drives the full chain through the mapPartitions seam") {
    // the default wizard never exercises the batched-inference path; this
    // pins the end-to-end contract a real ONNX/DJL kernel would plug into
    val w = WordWizard(corpus, "paragraph")
      .copy(embedder = new graft.nlp.kernels.BatchedEmbedder(dim = 32, batchSize = 4))
      .createSentenceEmbeddings()
      .clusterEmbeddings(k = Some(2))
      .topicModelling(nWords = 3)
    val emb = "paragraph_sentence_embeddings"
    val out = w.df.cache()
    assert(out.count() == 24)
    // every row embedded (left join found its md5-keyed vector), right dim
    assert(out.filter(col(emb).isNull).count() == 0)
    assert(out.select(size(col(emb))).head.getInt(0) == 32)
    // duplicate texts get identical vectors (distinct→embed→join-back)
    val dup = (corpus union corpus)
    val dw = WordWizard(dup, "paragraph")
      .copy(embedder = new graft.nlp.kernels.BatchedEmbedder(dim = 16, batchSize = 4))
      .createWordEmbeddings()
    assert(dw.df.select(col("paragraph"), col("paragraph_word_embeddings"))
      .distinct().count() == 24)
    out.unpersist()
  }

  test("body mode dedups to article grain") {
    val df = Seq(
      (0L, "body one text", "para a"),
      (0L, "body one text", "para b"),
      (1L, "body two text", "para c")
    ).toDF("article_index", "body", "paragraph")
    val w = WordWizard(df, "body")
    assert(w.df.count() == 2)
    assert(!w.df.columns.contains("paragraph"))
  }

  test("prerequisite checks raise without embeddings/clusters") {
    val w = WordWizard(corpus, "paragraph")
    assertThrows[IllegalArgumentException](w.clusterEmbeddings(k = Some(2)))
    assertThrows[IllegalArgumentException](w.topicModelling())
  }

  test("silhouette scan picks a k and labels rows") {
    val w = WordWizard(corpus, "paragraph")
      .createSentenceEmbeddings()
      .clusterEmbeddings(k = None, kMin = 2, kMax = 5)
    val cl = "paragraph_sentence_embeddings_clusters"
    val ks = w.df.select(col(cl)).distinct().count()
    assert(ks >= 2 && ks <= 4)
  }

  test("silhouette scan: a failed fit rethrows, leaves no job running, releases its frame") {
    val sc = spark.sparkContext
    // vectors of mixed length make every KMeans fit throw
    val ragged = (0 until 40).map(i => Array.fill(2 + i % 2)(i.toFloat)).toDF("v")
    val e = intercept[Exception] {
      Cluster.kmeansSilhouette(ragged, "v", "cl", kMin = 2, kMax = 8)
    }
    assert(!e.isInstanceOf[java.util.concurrent.ExecutionException])
    // cancellation is asynchronous in the scheduler: allow it a moment
    val deadline = System.nanoTime() + 30e9.toLong
    while (sc.statusTracker.getActiveJobIds.nonEmpty && System.nanoTime() < deadline)
      Thread.sleep(50)
    assert(sc.statusTracker.getActiveJobIds.isEmpty)
    // the scan's cached frame is named after its plan, which projects v_mlvec
    assert(!sc.getPersistentRDDs.values.exists(r => Option(r.name).exists(_.contains("v_mlvec"))))
  }
}
