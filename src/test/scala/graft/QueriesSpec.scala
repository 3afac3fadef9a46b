package graft

/** Driver-contract smoke: every SparkEntry query runs on sf0.001 and
  * the oracled ones return rows; the DuckDB value comparison itself is
  * driver-side (and replicated in CI by scripts/compare — see
  * COVERAGE.md).
  */
class QueriesSpec extends SparkTestBase {

  val dir = "/root/testdata/sf0.001"

  test("entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every oracled query has a queries entry with matching name") {
    assert(SparkEntry.oracleSql.keySet.subsetOf(SparkEntry.queries.keySet))
  }

  test("every declared query has an oracle or a reasoned exemption") {
    val names = SparkEntry.declared.map(_.name)
    assert(names.distinct.size == names.size, s"duplicate names in $names")
    val exempt = SparkEntry.declared.collect { case SparkEntry.Declared(name, _, Left(reason)) => name -> reason }
    exempt.foreach { case (name, reason) => assert(reason.trim.nonEmpty, s"$name: empty exemption reason") }
    assert(exempt.map(_._1).toSet == Set("ann_ivf", "curate_metrics"))
  }

  test("curate_transcripts (product config) exercises keep, lang AND ppl branches (non-vacuous oracle)") {
    val rows = SparkEntry.queries("curate_transcripts")(spark, dir)
      .select("drop_reason").distinct().collect().map(_.getString(0)).toSet
    assert(Set("none", "lang", "ppl", "too_short", "repetition").subsetOf(rows),
      s"got $rows")
  }

  test("curate_cheap exercises every planted cheap-rule branch (non-vacuous oracle)") {
    val reasons = SparkEntry.queries("curate_cheap")(spark, dir)
      .select("drop_reason").distinct().collect().map(_.getString(0)).toSet
    assert(Set("none", "too_short", "repetition", "symbol_ratio", "boilerplate")
      .subsetOf(reasons), s"got $reasons")
  }

  test("curate_cheap keep/drop agrees with the independent plain-Scala rule oracle") {
    // the DuckDB compare is driver-side; this pins the same decision
    // against the test-scope KernelReference chain (no Spark, no SQL,
    // not the kernel's QualityRules.cheapVerdict)
    val cfg = graft.rules.QualityRules.cheapConfig
    val models = graft.pipeline.Curate.defaultModels
    val rows = SparkEntry.queries("curate_cheap")(spark, dir)
      .collect()
    assert(rows.length > 0)
    def reason(text: String) =
      Option(KernelReference.process(models.langId, models.lm, cfg, text).drop_reason).getOrElse("none")
    // rebuild the planted text exactly as cheapTurns does, keyed the same way
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .selectExpr("source", "doc_id", "text").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2)))
      .sortBy(t => (t._1, t._2))
    val expected: Map[(String, Int), String] = docs.groupBy(_._1).toSeq.flatMap { case (src, ds) =>
      ds.sortBy(_._2).zipWithIndex.map { case ((_, docId, text), i) =>
        val base =
          if (docId % 13 == 2) Seq.fill(60)("spam").mkString(" ")
          else if (docId % 13 == 3) (1 to 60).map(j => s"w$j###").mkString(" ")
          else if (docId % 13 == 4) (1 to 60).map(j => s"word$j").mkString(" ") + " Subscribe to our newsletter"
          else if (docId % 13 == 5) SparkEntry.plantedKeep
          else if (docId % 13 == 6) (1 to 60).map(j => (j * 101).toString).mkString(" ")
          else text
        val planted = if (docId % 5 == 0) base + " contact bob@example.com or https://ex.co/a now !!" else base
        (src, i + 1) -> reason(planted)
      }
    }.toMap ++ SparkEntry.plantedWs.zipWithIndex.map { case (t, i) => ("ws", i + 1) -> reason(t) }
    rows.foreach { r =>
      val key = (r.getString(0), r.getInt(1))
      assert(expected(key) == r.getString(3),
        s"$key: engine=${r.getString(3)} oracle=${expected(key)}")
      assert(r.getBoolean(2) == (expected(key) == "none"))
    }
  }

  SparkEntry.declared.foreach { d =>
    test(s"query ${d.name} runs on sf0.001") {
      val df = d.build(spark, dir)
      val n = df.count()
      if (d.oracle.isRight) assert(n > 0, s"${d.name} returned 0 rows")
      // rows-only queries may legitimately be small but not error
      assert(n >= 0)
    }
  }
}
