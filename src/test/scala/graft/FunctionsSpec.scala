package graft

import graft.functions.TextMetrics
import graft.textstats.TextStats

class FunctionsSpec extends SparkTestBase {
  import org.apache.spark.sql.functions._

  lazy val df = {
    import spark.implicits._
    Seq(
      (1L, "hello world foo"),
      (2L, "  spaced   out \t tabs  "),
      (3L, "sym!@# bols?"),
      (4L, ""),
      (5L, null.asInstanceOf[String]),
      (6L, "我们 数据 处理")
    ).toDF("id", "t")
  }

  test("custom expressions match plain-Scala semantics (interpreted + codegen paths)") {
    val rows = df.select(col("id"),
        TextMetrics.word_count(col("t")).as("wc"),
        TextMetrics.symbol_ratio(col("t")).as("sr"),
        TextMetrics.fingerprint(col("t")).as("fp"))
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) -1 else r.getInt(1),
          if (r.isNullAt(2)) -1.0 else r.getDouble(2),
          if (r.isNullAt(3)) -1L else r.getLong(3)))
      .toMap
    assert(rows(1L) == ((3, 0.0, TextStats.fingerprint("hello world foo"))))
    assert(rows(2L)._1 == 3)
    assert(rows(3L)._1 == 2)
    assert(math.abs(rows(3L)._2 - 4.0 / 12.0) < 1e-9)
    assert(rows(4L) == ((0, 0.0, TextStats.fingerprint(""))))
    assert(rows(5L) == ((-1, -1.0, -1L))) // null in → null out (nullIntolerant)
    assert(rows(6L)._1 == 3)
  }

  test("distinct_ratio expression == built-in chain on fixtures + documents corpus") {
    import spark.implicits._
    val fixtures = Seq("a b a b", "x", "A a B b", "dup dup dup",
      "tab\tsep\nlines", " lead and trail ", "我们 我们 数据").toDF("t")
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("text").as("t"))
    Seq(fixtures, docs).foreach { df =>
      val rows = df.select(
          TextMetrics.distinct_ratio(col("t")).as("expr"),
          graft.rules.QualityRules.distinctRatioColBuiltins(col("t")).as("chain"))
        .collect()
      rows.foreach { r =>
        val (e, c) = (r.getDouble(0), r.getDouble(1))
        assert(math.abs(e - c) < 1e-12, s"$e vs $c")
      }
    }
    // token-less input: the ANSI built-in chain THROWS (divide by zero);
    // the expression degrades to NaN — strictly safer, and unreachable
    // in the pipeline (repetition rule gated on wc >= repMinWords)
    val nan = Seq("  ", "").toDF("t")
      .select(TextMetrics.distinct_ratio(col("t"))).collect()
    assert(nan.forall(_.getDouble(0).isNaN))
  }

  test("distinct_ratio lowercases without the default locale") {
    import spark.implicits._
    val saved = java.util.Locale.getDefault
    java.util.Locale.setDefault(java.util.Locale.forLanguageTag("tr"))
    try {
      // under tr, "I".toLowerCase is a dotless ı, distinct from "i"
      val r = Seq("I i é").toDF("t").select(TextMetrics.distinct_ratio(col("t"))).head().getDouble(0)
      assert(math.abs(r - 2.0 / 3.0) < 1e-12, s"$r")
      assert(r == graft.rules.QualityRules.distinctRatio("I i é"))
    } finally java.util.Locale.setDefault(saved)
  }

  test("SQL registration works (graft_word_count in spark.sql)") {
    TextMetrics.register(spark)
    df.createOrReplaceTempView("fdocs")
    val got = spark.sql(
      "SELECT id, graft_word_count(t) AS wc FROM fdocs WHERE t IS NOT NULL ORDER BY id")
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(got(1L) == 3 && got(2L) == 3)
  }

  test("expressions participate in whole-stage codegen (no UDF boundary in plan)") {
    // parquet scan source (a local Seq relation gets constant-folded)
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val q = docs.select(TextMetrics.word_count(col("text")).as("wc"))
    val plan = q.queryExecution.executedPlan.toString
    // "*(n)" prefixes mark WholeStageCodegen stages in the plan string
    assert(plan.contains("*(1) Project [graft_word_count"), plan)
    assert(!plan.toLowerCase.contains("scalaudf"), plan)
    // and the codegen path computes the right thing
    assert(q.agg(sum(col("wc"))).head().getLong(0) > 0)
  }
}
