package graft

import java.nio.file.Paths

import graft.pipeline.Curate
import graft.synth.Transcripts
import graft.tableio.TableIO

/** S4/S5 (SURVEY.md §2.1): JSON sink + schema'd JSON scan roundtrip —
  * the reference persists every inter-stage IR as JSON
  * (web_scraper.py:238-284); the engine's primary format is parquet,
  * but the JSON path must work for interop.
  */
class TableIOJsonSpec extends SparkTestBase {

  test("curated rows survive a JSON write/read roundtrip with explicit schema") {
    import org.apache.spark.sql.functions._
    val dir = s"/tmp/graft-json-${System.nanoTime()}"
    try {
      val curated = Curate.curateDf(spark, Transcripts.dataset(spark, 10L).toDF())
        .drop("ts") // JSON timestamp formats round-trip lossily; engine IR is parquet
      curated.write.mode("overwrite").json(dir)
      val back = spark.read.schema(curated.schema).json(dir)
      def norm(df: org.apache.spark.sql.DataFrame) = df
        .withColumn("ppl", when(isnan(col("ppl")), -1.0).otherwise(round(col("ppl"), 6)))
        .select("conv_id", "turn_idx", "lang", "keep", "drop_reason",
          "scrubbed_text", "scrub_hits", "rule_hits", "ppl")
        .collect().map(_.toSeq.map(String.valueOf)).sortBy(_.toString).toSeq
      assert(norm(back) == norm(curated))
    } finally TableIO.deleteRecursive(Paths.get(dir))
  }

  test("GraftExtensions injector registers cleanly; SQL functions usable end-to-end") {
    // a second SparkContext can't exist in one JVM, so the
    // conf-driven path (spark.sql.extensions=graft.GraftExtensions)
    // is exercised as: injector applies without error to a fresh
    // SparkSessionExtensions, and the identical builders work via the
    // session registry end-to-end in SQL.
    new GraftExtensions().apply(new org.apache.spark.sql.SparkSessionExtensions)
    val s2 = spark.newSession()
    graft.functions.TextMetrics.register(s2)
    import s2.implicits._
    Seq(("a b c", 1)).toDF("t", "i").createOrReplaceTempView("x")
    assert(s2.sql("SELECT graft_word_count(t) AS wc FROM x").head().getInt(0) == 3)
    assert(s2.sql("SELECT graft_fingerprint(t) AS fp FROM x").head().getLong(0) ==
      graft.textstats.TextStats.fingerprint("a b c"))
  }

  test("GraftExtensions alone makes all four SQL functions resolve in a new session") {
    import org.apache.spark.sql.functions.col
    import graft.functions.TextMetrics
    assert(!spark.newSession().catalog.functionExists("graft_word_count"),
      "a new session starts without the graft functions")
    val s2 = org.apache.spark.sql.ExtensionsBridge.sessionWith(spark, new GraftExtensions)
    import s2.implicits._
    val x = Seq("a b a !?", "I i é").toDF("t")
    x.createOrReplaceTempView("x")
    val sql = s2.sql("SELECT t, graft_word_count(t), graft_symbol_ratio(t), " +
      "graft_fingerprint(t), graft_distinct_ratio(t) FROM x ORDER BY t")
    val api = x.select(col("t"), TextMetrics.word_count(col("t")), TextMetrics.symbol_ratio(col("t")),
      TextMetrics.fingerprint(col("t")), TextMetrics.distinct_ratio(col("t"))).orderBy(col("t"))
    assert(sql.collect().map(_.toSeq).toSeq == api.collect().map(_.toSeq).toSeq)
  }
}
