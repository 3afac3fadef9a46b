package graft

import org.apache.spark.sql.{functions => F}

import graft.search.Bm25

class Bm25Spec extends SparkTestBase {
  import spark.implicits._

  private val corpus = Seq(
    (1L, "data quality matters for every data pipeline handling data"),
    (2L, "the model trains on a large corpus of text"),
    (3L, "quality filters remove low quality model output"),
    (4L, "an unrelated sentence about weather and cooking"),
    (5L, "data model quality data model quality training corpus"),
    (6L, ""))

  /** Independent naive reference (no shared fold code beyond the
    * formula itself).
    */
  private def naive(query: String, k1: Double, b: Double): Map[Long, Double] = {
    import graft.dedup.Dedup.tokens
    val terms = tokens(query).distinct
    val docs = corpus.map { case (id, t) => id -> tokens(t) }
    val n = docs.size.toDouble
    val avgdl = docs.map(_._2.length).sum.toDouble / n
    val idf = terms.map { t =>
      val df = docs.count(_._2.contains(t)).toDouble
      t -> math.log(1.0 + (n - df + 0.5) / (df + 0.5))
    }.toMap
    docs.map { case (id, ws) =>
      val dl = ws.length.toDouble
      var s = 0.0
      terms.foreach { t =>
        val tf = ws.count(_ == t)
        if (tf > 0)
          s = s + idf(t) * (tf * (k1 + 1.0)) / (tf + k1 * (1.0 - b + b * dl / avgdl))
      }
      id -> s
    }.toMap
  }

  test("scores match the naive reference bit for bit; zero-score docs excluded") {
    val q = "data model quality"
    val got = Bm25.topK(corpus.toDF("doc_id", "text"), "doc_id", "text", q, k = 10)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val exp = naive(q, 1.2, 0.75).filter(_._2 > 0.0)
    assert(got == exp)
    assert(!got.contains(4L) && !got.contains(6L))
  }

  test("ranking: term-dense doc first; rare terms outweigh common ones") {
    val q = "data model quality training corpus"
    val top = Bm25.topK(corpus.toDF("doc_id", "text"), "doc_id", "text", q, k = 10)
      .collect().map(_.getLong(0))
    assert(top.head == 5L, s"expected the all-terms doc first, got ${top.toSeq}")
    // absent query term changes nothing (idf of df=0 applies to no doc)
    val top2 = Bm25.topK(corpus.toDF("doc_id", "text"), "doc_id", "text",
      q + " zzzabsent", k = 10).collect().map(_.getLong(0))
    assert(top2.toSeq == top.toSeq)
  }

  test("top-k is a TakeOrdered plan (no global sort), k respected") {
    val df = Bm25.topK(corpus.toDF("doc_id", "text"), "doc_id", "text",
      "data quality", k = 2)
    assert(df.queryExecution.executedPlan.toString.contains("TakeOrderedAndProject"))
    assert(df.count() == 2)
  }

  test("stats is ONE aggregation job; df matches the distinct-id definition") {
    // r6: the fold of (n, totTok, per-term df) into one conditional
    // aggregation must submit exactly one Spark job (the old shape ran
    // a corpus agg + an explode/distinct df agg), and df must still
    // count DOCUMENTS containing the term, not occurrences (doc 1/5
    // repeat "data"; doc 6 is empty)
    val group = s"bm25-stats-${System.nanoTime()}"
    spark.sparkContext.setJobGroup(group, "bm25 stats fold")
    val st = Bm25.stats(corpus.toDF("doc_id", "text"), "text",
      "data model quality zzzabsent")
    spark.sparkContext.clearJobGroup()
    // ONE action = at most 2 AQE stage-jobs (partial + final of the
    // two-phase aggregate); the old shape ran TWO actions (corpus agg
    // + explode/distinct df agg) = 4-5 jobs
    assert(spark.sparkContext.statusTracker.getJobIdsForGroup(group).length <= 2,
      "stats must be a single aggregation action")
    assert(st.n == 6L)
    import graft.dedup.Dedup.tokens
    val docs = corpus.map { case (_, t) => tokens(t) }
    st.terms.zip(st.idf).foreach { case (t, idf) =>
      val df = docs.count(_.contains(t)).toDouble
      assert(idf == math.log(1.0 + (st.n - df + 0.5) / (df + 0.5)),
        s"idf for '$t' must reflect distinct-doc df=$df")
    }
  }

  test("partition-invariant") {
    val q = "data model quality"
    val a = Bm25.topK(corpus.toDF("doc_id", "text"), "doc_id", "text", q, 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val bRes = Bm25.topK(corpus.toDF("doc_id", "text").repartition(5),
      "doc_id", "text", q, 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(a == bRes)
  }
}
