package graft

import org.apache.spark.sql.functions._
import graft.clean.Cleaner

class CleanerSpec extends SparkSpec {
  import spark.implicits._

  test("normalize collapses whitespace and strips tags") {
    val got = Seq("a\tb   c\n<b>d</b>").toDF("t")
      .select(Cleaner.normalize($"t")).head.getString(0)
    assert(got == "a b c d")
  }

  /** Rows of a one-column frame that survive `Cleaner.clean` on it. */
  private def survivors(column: String, rows: String*): Seq[String] =
    Cleaner.clean(rows.toDF(column), Seq(column)).collect.map(_.getString(0)).toSeq

  test("clean drops a cell with a blacklist phrase, case-insensitively") {
    assert(survivors("t", "Please SUBSCRIBE now", "fine text") == Seq("fine text"))
  }

  test("clean drops cells with urls/emails/phones; tags are stripped, not flagged") {
    // normalize removes tags before the flag runs, so the tag row survives
    // as plain text
    val got = survivors("t", "see https://x.io/a", "mail a.b@x.io ok",
      "call +1 (415) 555-0199 now", "has <div> tag", "clean prose")
    assert(got == Seq("has tag", "clean prose"))
  }

  test("clean drops cells shorter than the column minimum") {
    assert(survivors("title", "short", "long enough indeed!!") == Seq("long enough indeed!!"))
  }

  test("body is exempt from blacklist and boilerplate nulling (content_cleaner.py:81-85,121-122)") {
    val title = "A perfectly fine headline"
    val bodyWithUrl =
      ("Read the full statement at https://example.com/ir and please subscribe " +
        "for cookie updates. ") + "x" * 400
    val df = Seq(
      (title, bodyWithUrl),                  // URL + blacklist words in body -> must survive
      (title, "too short body")              // body min-length still applies -> dropped
    ).toDF("title", "body")
    val got = Cleaner.clean(df, Seq("title", "body"))
    assert(got.count() == 1)
    assert(got.head.getString(1).contains("https://example.com/ir"))
  }

  test("cleanArticles compiles under whole-stage codegen (no janino 64KB fallback)") {
    val raw = Seq.tabulate(8) { i =>
      (i.toLong, "google", s"https://news.example/a$i", "example",
        "A perfectly long search headline " + i,
        "d" * 120 + i,
        "An equally fine n3k headline " + i, "b" * 450 + i,
        "A shorter bs headline " + i, "c" * 460 + i,
        "p" * 180 + i)
    }.toDF("article_index", "engine", "se_link", "se_source", "se_title",
      "se_description", "n3k_title", "n3k_body", "bs_title", "bs_body",
      "paragraph")
      // keep the input out of ConvertToLocalRelation so the clean chain
      // actually codegens instead of constant-folding at optimization time
      .repartition(2)
    // With fallback disabled, any "Code grows beyond 64 KB" janino error
    // in the clean chain surfaces as an exception instead of a silent
    // interpreted-mode downgrade.
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try {
      val out = Cleaner.cleanArticles(raw)
      assert(out.collect().length == 8) // materializes the AQE final plan
      // WholeStageCodegen prints as "*(n)" in the AQE final-plan string
      val planStr = out.queryExecution.executedPlan.toString
      assert(planStr.contains("WholeStageCodegen") ||
        "\\*\\(\\d+\\)".r.findFirstIn(planStr).isDefined)
    } finally spark.conf.unset("spark.sql.codegen.fallback")
  }

  test("clean drops rows with any flagged required column and is idempotent") {
    val ok = "x" * 25
    val df = Seq(
      (ok, "javascript " + "y" * 100),    // description blacklisted -> dropped
      (ok, "z" * 120),                    // survives
      ("tiny", "w" * 120)                 // title too short -> dropped
    ).toDF("title", "description")
    val once = Cleaner.clean(df, Seq("title", "description"))
    assert(once.count() == 1)
    val twice = Cleaner.clean(once, Seq("title", "description"))
    assert(twice.collect().toSeq == once.collect().toSeq)
  }
}
