package graft.ingest

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Link ingestion (reference etl_pipeline/link_extractor.py — operators
  * S3–S6, J3, U1, O1).
  *
  * The reference scrapes Google/Bing/Yahoo news result pages. This
  * environment is zero-egress, so sources are a trait with deterministic
  * fixture implementations that reproduce each engine's *shape*: Yahoo
  * links arrive URL-encoded inside a `RU=…/RK` wrapper
  * (link_extractor.py:449-450), some results carry null links
  * (filtered by P1), and the same URL can surface from several engines
  * (keep-LAST dedup J3, link_extractor.py:558). A real HTTP source
  * implements the same trait with a DSv2 connector or a driver-side pager.
  *
  * Scale: each source emits a lazily-generated `spark.range`-backed frame —
  * no driver-side collections — and the per-engine `max_articles` cap (O1)
  * is a `limit` Catalyst pushes into the range scan.
  */
trait LinkSource extends Serializable {
  def name: String
  /** Columns: engine, se_link, se_title, se_description, se_source. */
  def links(spark: SparkSession, query: String, maxArticles: Int): DataFrame
}

/** Deterministic fixture engine: link universe derived from md5(query,i).
  * `overlap` controls how many of its URLs collide with other engines'
  * (same canonical URL space) to exercise the keep-last dedup.
  */
final class FixtureLinkSource(val name: String, dropEvery: Int = 17,
                              encodeYahoo: Boolean = false) extends LinkSource {
  def links(spark: SparkSession, query: String, maxArticles: Int): DataFrame = {
    val q = query.toLowerCase.replaceAll("\\s+", "-")
    // canonical URL space shared across engines -> cross-engine duplicates
    val canonical = concat(lit(s"https://news.example.com/$q/article-"),
      (col("id") % 50).cast("string"))
    val link = if (encodeYahoo)
      concat(lit("https://r.search.yahoo.com/_ylt="),
        substring(md5(canonical), 1, 8), lit("/RU="),
        url_encode(canonical), lit("/RK=2"))
    else canonical
    spark.range(maxArticles)
      .withColumn("engine", lit(name))
      .withColumn("se_link",
        when(col("id") % dropEvery === lit(dropEvery - 1), lit(null))
          .otherwise(link))
      .withColumn("se_title",
        concat(lit(s"$name result about $query #"), col("id").cast("string")))
      .withColumn("se_description",
        concat(lit(s"Search description from $name for query '$query', item "),
          col("id").cast("string"),
          lit(". Deterministic fixture snippet long enough to survive the description length rule of the cleaner stage.")))
      .withColumn("se_source", concat(lit("source-"), (col("id") % 7).cast("string")))
      .drop("id")
  }
}

object LinkExtractor {

  /** The three reference engines as fixtures (Yahoo link-encoded). */
  def defaultSources: Seq[LinkSource] = Seq(
    new FixtureLinkSource("Google"),
    new FixtureLinkSource("Bing"),
    new FixtureLinkSource("Yahoo", encodeYahoo = true))

  /** F4+F5: decode Yahoo's `RU=<urlencoded>/RK` wrapper, pass others through. */
  def decodeLink(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val ru = regexp_extract(c, "RU=(.+?)/RK", 1)
    when(ru =!= "", url_decode(ru)).otherwise(c)
  }

  /** S6/U1/J3/O1: fan out all engines, cap each at `maxArticles`, decode
    * links, union, and dedup by URL keeping the LAST record, as the
    * reference's dict-overwrite does at link_extractor.py:558: the last
    * engine (arrival order = source position) and, when one engine lists a
    * URL twice, its later result. The result position is the engine
    * frame's row order, which `monotonically_increasing_id` follows.
    */
  def allLinks(spark: SparkSession, query: String, maxArticles: Int,
               sources: Seq[LinkSource] = defaultSources): DataFrame = {
    val perEngine = sources.zipWithIndex.map { case (s, i) =>
      s.links(spark, query, maxArticles)
        .limit(maxArticles)
        .withColumn("se_link", decodeLink(col("se_link")))
        .withColumn("arrival", lit(i))
        .withColumn("position", monotonically_increasing_id())
    }
    val all = perEngine.reduce(_ unionByName _)
    val w = Window.partitionBy(col("se_link"))
      .orderBy(col("arrival").desc, col("position").desc)
    all.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1).drop("rn", "arrival", "position")
  }
}
