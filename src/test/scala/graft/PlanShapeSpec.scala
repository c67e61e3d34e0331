package graft

/** Plan invariants the headline queries rely on, checked on the finalized
  * (post-AQE) plan that `Perf` prints, so a lost pushdown, broadcast, typed
  * aggregate or exchange reuse fails here instead of only slowing the
  * bench. Reads the sf0.001 fixture tables the checkout carries for its
  * benchmark (byte copies, listed in e2ebench/data/SHA256SUMS).
  */
class PlanShapeSpec extends SparkSpec {
  private val sfDir = "e2ebench/data/sf0.001"

  private def assertPlan(name: String, wants: String*): Unit = {
    val plan =
      try Perf.finalPlan(SparkEntry.queries(name)(spark, sfDir))
      finally spark.catalog.clearCache()
    wants.foreach(w => assert(plan.contains(w), s"$name plan lacks $w:\n$plan"))
  }

  // "*(n)" is the WholeStageCodegen stage marker in plan toString

  test("q3: filters reach the parquet scan, inside a codegen stage") {
    assertPlan("q3_filter_revenue", "PushedFilters: [IsNotNull(l_shipdate)", "*(1)")
  }

  test("q2: dimension joins broadcast, inside a codegen stage") {
    assertPlan("q2_join_revenue", "BroadcastHashJoin", "*(1)")
  }

  test("q19: centroids come from the typed aggregate and broadcast back") {
    assertPlan("q19_medoids", "BroadcastHashJoin", "ObjectHashAggregate")
  }

  test("q12: the scan reads only the two columns it uses") {
    assertPlan("q12_md5", "ReadSchema: struct<doc_id:bigint,text:string>")
  }

  test("q38: AQE reuses the docs-embeddings exchange of the bucket self-join") {
    assertPlan("q38_embed_dedup", "ReusedExchange")
  }
}
