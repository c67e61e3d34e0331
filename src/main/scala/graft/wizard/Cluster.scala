package graft.wizard

import org.apache.spark.sql.{DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.ml.clustering.{BisectingKMeans, KMeans, KMeansModel}
import org.apache.spark.ml.evaluation.ClusteringEvaluator
import org.apache.spark.ml.param.ParamMap
import org.apache.spark.ml.feature.PCA
import org.apache.spark.ml.linalg.{Vector => MlVector, Vectors}
import org.apache.spark.storage.StorageLevel
import java.util.UUID
import java.util.concurrent.{ExecutionException, ExecutorCompletionService, Executors, TimeUnit}

/** Clustering + dimensionality reduction (reference word_wizard.py:233-296,
  * 513-559, 675-717 — operators B3/B7).
  *
  * MLlib KMeans with a fixed seed replaces sklearn KMeans; the silhouette
  * scan over candidate k is the reference's `_k_search` (word_wizard.py:
  * 675-717) with the interactive elbow input dropped (not reproducible —
  * SURVEY.md §2.10 B3). The vector frame is persisted once and every
  * candidate fit reuses it — the reference refits on the same matrix 13
  * times; here that costs one cache materialization + k driver-side fits
  * over executors.
  *
  * PCA stands in for UMAP (documented deviation, SURVEY.md §7.3): UMAP is
  * stochastic and has no Spark-native equivalent; downstream consumers need
  * only the (n, 2) shape and grain.
  */
object Cluster {

  private def toVec = udf((a: Seq[Float]) =>
    Vectors.dense(a.map(_.toDouble).toArray))
  private def toArr = udf((v: MlVector) => v.toArray.map(_.toFloat))

  /** One KMeans fit. solver=row: the 4.1 block solver crashes with an
    * ArrayIndexOutOfBounds when kmeans|| init finds fewer distinct centers
    * than k (near-duplicate-heavy corpora hit this); the row solver pads
    * duplicate centers and proceeds.
    */
  private def fitKMeans(withVec: DataFrame, tmp: String, outCol: String,
                        k: Int, seed: Long): KMeansModel = {
    val km = new KMeans().setK(k).setSeed(seed)
      .setFeaturesCol(tmp).setPredictionCol(outCol)
    km.fit(withVec, ParamMap(km.solver -> "row"))
  }

  /** KMeans labels for `vecCol` (array<float>) as `outCol: int`. */
  def kmeans(df: DataFrame, vecCol: String, outCol: String, k: Int,
             seed: Long = 42L): DataFrame = {
    val tmp = vecCol + "_mlvec"
    val withVec = df.withColumn(tmp, toVec(col(vecCol)))
    fitKMeans(withVec, tmp, outCol, k, seed).transform(withVec).drop(tmp)
  }

  /** Density-flavored alternative (reference `algorithm="hdbscan"`,
    * word_wizard.py:281-288): HDBSCAN has no MLlib implementation, so the
    * documented substitute is BisectingKMeans — hierarchical, divisive,
    * deterministic under a fixed seed (SURVEY.md §7.3). Same column
    * contract as [[kmeans]]; no noise label (HDBSCAN's −1) is produced.
    */
  def bisecting(df: DataFrame, vecCol: String, outCol: String, k: Int,
                seed: Long = 42L): DataFrame = {
    val tmp = vecCol + "_mlvec"
    val withVec = df.withColumn(tmp, toVec(col(vecCol)))
    val model = new BisectingKMeans().setK(k).setSeed(seed)
      .setFeaturesCol(tmp).setPredictionCol(outCol).fit(withVec)
    model.transform(withVec).drop(tmp)
  }

  /** Silhouette scan: fit k ∈ [kMin, kMax), keep the best-silhouette model
    * (reference scans k∈[2,15) then floors at k≥5; pass the floor as kMin).
    * Returns (bestK, labeled df). The input is persisted for the scan and
    * unpersisted before return.
    *
    * Candidate fits are independent jobs over the SAME persisted frame, so
    * they run from a small driver thread pool (guide-standard overlap): the
    * tail tasks of one k's fit no longer leave the cluster idle while the
    * next k waits. Three fits in flight are enough to fill stragglers
    * without thrashing executors (r22: 14.10 s → 6.01 s against one); each
    * (k, seed) fit is deterministic, so completion order cannot change
    * which model wins.
    *
    * Failure path: the FIRST failed fit, whatever its k, cancels the scan's
    * job group (current and future jobs) and shuts the pool down hard
    * before the frame is unpersisted — otherwise queued/in-flight sibling
    * fits keep running against an unpersisted frame and recompute it from
    * its source as leaked jobs.
    */
  def kmeansSilhouette(df: DataFrame, vecCol: String, outCol: String,
                       kMin: Int = 2, kMax: Int = 15,
                       seed: Long = 42L): (Int, DataFrame) = {
    require(kMax > kMin && kMin >= 2, s"need 2 <= kMin < kMax, got [$kMin,$kMax)")
    val tmp = vecCol + "_mlvec"
    val withVec = df.withColumn(tmp, toVec(col(vecCol)))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val sc = df.sparkSession.sparkContext
    val group = s"kmeansSilhouette-${UUID.randomUUID}"
    val pool = Executors.newFixedThreadPool(3)
    try {
      withVec.count() // materialize ONCE before concurrent fits race to fill it
      val fits = new ExecutorCompletionService[(Int, Double, KMeansModel)](pool)
      (kMin until kMax).foreach { k =>
        fits.submit { () =>
          // job group is thread-local: set it in the pool thread so a
          // failure can cancel every sibling fit's in-flight jobs
          sc.setJobGroup(group, s"silhouette fit k=$k", interruptOnCancel = true)
          val m = fitKMeans(withVec, tmp, outCol, k, seed)
          // evaluator constructed per fit: ClusteringEvaluator carries
          // mutable Param state and is not documented thread-safe
          val s = new ClusteringEvaluator()
            .setFeaturesCol(tmp).setPredictionCol(outCol)
            .evaluate(m.transform(withVec))
          (k, s, m)
        }
      }
      // take() hands fits back in completion order, so the first fit to
      // fail surfaces at once instead of behind slower, smaller k
      val scored =
        try (kMin until kMax).map(_ => fits.take().get())
        catch { case e: Throwable =>
          sc.cancelJobGroupAndFutureJobs(group)
          throw (e match {
            case x: ExecutionException if x.getCause != null => x.getCause
            case x => x
          })
        }
      val (bestK, _, bestM) = scored.maxBy(t => (t._2, -t._1))
      (bestK, bestM.transform(withVec).drop(tmp))
    } finally {
      // shutdownNow, not shutdown: on the failure path plain shutdown()
      // leaves queued fits to start AFTER the unpersist below. Waiting for
      // the interrupted fits to return keeps any of them from touching the
      // frame after it is dropped (on the success path the pool is idle).
      pool.shutdownNow()
      pool.awaitTermination(1, TimeUnit.MINUTES)
      withVec.unpersist()
    }
  }

  /** Add a boolean medoid flag (`outCol`): the n rows closest to their
    * cluster centroid (reference word_wizard.py:719-735, W1).
    */
  def medoidFlag(df: DataFrame, idCol: String, clusterCol: String,
                 vecCol: String, outCol: String, n: Int = 2): DataFrame = {
    val ranked = Medoids.byCentroid(df, idCol, clusterCol, vecCol, n)
      .select(col(idCol), lit(true).as(outCol))
    // ranked is bounded at clusters × n rows at any corpus size — broadcast
    // so flagging never shuffles the corpus by id (r21).
    df.join(broadcast(ranked), Seq(idCol), "left")
      .withColumn(outCol, coalesce(col(outCol), lit(false)))
  }

  /** PCA to `nComponents` dims: `vecCol` → `outCol: array<float>`. */
  def reduce(df: DataFrame, vecCol: String, outCol: String,
             nComponents: Int = 2): DataFrame = {
    val tmp = vecCol + "_mlvec"
    val withVec = df.withColumn(tmp, toVec(col(vecCol)))
    val model = new PCA().setK(nComponents)
      .setInputCol(tmp).setOutputCol(outCol + "_mlvec")
      .fit(withVec)
    model.transform(withVec)
      .withColumn(outCol, toArr(col(outCol + "_mlvec")))
      .drop(tmp, outCol + "_mlvec")
  }
}
