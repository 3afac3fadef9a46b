package graft

/** Plan-shape regression guards: the physical plans the scale story
  * depends on (SCALE.md) must not silently regress — broadcast joins
  * for dims, TakeOrderedAndProject for top-k, column-pruned scans,
  * no shuffle in the curate projection.
  */
class PlanShapeSpec extends SparkTestBase {

  val dir = "/root/testdata/sf0.001"

  private def plan(q: String): String =
    SparkEntry.queries(q)(spark, dir).queryExecution.executedPlan.toString

  test("q2: dimension join is a BroadcastHashJoin") {
    assert(plan("q2_join_topk").contains("BroadcastHashJoin"))
  }

  test("q12 knn: top-k is TakeOrderedAndProject (no global sort)") {
    assert(plan("q12_knn").contains("TakeOrderedAndProject"))
  }

  test("q7 scrub: scan reads only (doc_id, text) — column pruning") {
    val p = plan("q7_scrub")
    assert(p.contains("ReadSchema: struct<doc_id:bigint,text:string>"), p)
  }

  test("curate projection has NO shuffle (map-only hot path)") {
    val df = graft.pipeline.Curate.curateDf(spark,
      graft.synth.Transcripts.dataset(spark, 5L).toDF())
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("Exchange"), p)
  }

  test("minhash/embedding pair paths: per-candidate exchanges are id-only (no sketch payload)") {
    // regression guard for the de-payloaded LSH shape: the band join
    // (any exchange carrying the bucket key "bh") and the pair dedup
    // must shuffle bare ids; only the single post-dedup verify join may
    // move a sketch, one column per exchange. The old shape carried the
    // full shingle arrays through the band join AND the pair-dedup
    // exchange (sh_a+sh_b per candidate).
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.types.ArrayType
    val conf = spark.conf
    val aqe = conf.get("spark.sql.adaptive.enabled", "true")
    val bcast = conf.get("spark.sql.autoBroadcastJoinThreshold", "10MB")
    conf.set("spark.sql.adaptive.enabled", "false")
    conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force shuffle joins
    try {
      import spark.implicits._
      val docs = Seq((1L, "a b c d e f g"), (2L, "a b c d e f h")).toDF("id", "text")
      val embs = Seq((1L, Array(1f, 0f)), (2L, Array(0.9f, 0.1f))).toDF("id", "emb")
      val turns = Seq(("c1", "a b c d e f g"), ("c2", "a b c d e f h"))
        .toDF("conv_id", "text")
      Seq(
        graft.dedup.Dedup.minhashNearDups(docs, "id", "text"),
        graft.dedup.Dedup.embeddingNearDups(embs, "id", "emb"),
        graft.dedup.Dedup.convNearDups(turns), // de-payloaded in r6
        graft.knn.Similarity.topKBatchLsh(embs, "id", "emb", embs, "id", "emb")
      ).foreach { df =>
        val exchanges = df.queryExecution.executedPlan.collect {
          case e: ShuffleExchangeExec => e
        }
        assert(exchanges.nonEmpty)
        exchanges.foreach { e =>
          val arrays = e.output.filter(_.dataType.isInstanceOf[ArrayType])
          assert(arrays.size <= 1,
            s"exchange shuffles ${arrays.map(_.name)} together:\n$e")
          if (e.output.exists(_.name == "bh"))
            assert(arrays.isEmpty,
              s"band-join exchange carries sketch ${arrays.map(_.name)}:\n$e")
        }
      }
    } finally {
      conf.set("spark.sql.adaptive.enabled", aqe)
      conf.set("spark.sql.autoBroadcastJoinThreshold", bcast)
    }
  }

  test("ngramJaccardPrefix: prefix-join exchanges move scalars only (sketch re-joined by id)") {
    // the prefix self-join (any exchange carrying the gram key "g")
    // must shuffle (g, id, sz) — never the shingle arrays; only the
    // verify joins may move a sketch, one column per exchange
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.types.ArrayType
    val conf = spark.conf
    val aqe = conf.get("spark.sql.adaptive.enabled", "true")
    val bcast = conf.get("spark.sql.autoBroadcastJoinThreshold", "10MB")
    conf.set("spark.sql.adaptive.enabled", "false")
    conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      import spark.implicits._
      val docs = Seq((1L, "a b c d e f g"), (2L, "a b c d e f h")).toDF("id", "text")
      val df = graft.dedup.Dedup.ngramJaccardPrefix(docs, "id", "text", n = 3,
        threshold = 0.5)
      val exchanges = df.queryExecution.executedPlan.collect {
        case e: ShuffleExchangeExec => e
      }
      assert(exchanges.nonEmpty)
      exchanges.foreach { e =>
        val arrays = e.output.filter(_.dataType.isInstanceOf[ArrayType])
        assert(arrays.size <= 1,
          s"exchange shuffles ${arrays.map(_.name)} together:\n$e")
        if (e.output.exists(_.name == "g"))
          assert(arrays.isEmpty,
            s"prefix-join exchange carries sketch ${arrays.map(_.name)}:\n$e")
      }
    } finally {
      conf.set("spark.sql.adaptive.enabled", aqe)
      conf.set("spark.sql.autoBroadcastJoinThreshold", bcast)
    }
  }

  test("ngramJaccardPrefix gram-df stage: partial aggregate, never a per-gram window") {
    // the r3 formulation counted gram document-frequency with
    // count(*) over (partition by g): every occurrence row of a
    // corpus-wide stop-gram shuffled to ONE task and sorted there —
    // a single-reducer sort at 100×. The fix must stay a two-phase
    // aggregate (map-side partial_count on g) and the only Window in
    // the plan may partition by id (the per-doc rank), never by g.
    import org.apache.spark.sql.execution.window.WindowExec
    import org.apache.spark.sql.execution.aggregate.HashAggregateExec
    import org.apache.spark.sql.catalyst.expressions.aggregate.{Complete, Partial}
    val conf = spark.conf
    val aqe = conf.get("spark.sql.adaptive.enabled", "true")
    conf.set("spark.sql.adaptive.enabled", "false")
    try {
      import spark.implicits._
      // planted stop-gram: every doc shares the same leading trigram
      val docs = (0L until 16L).map(i => (i, s"common stop gram tail$i x$i y$i"))
        .toDF("id", "text")
      val df = graft.dedup.Dedup.ngramJaccardPrefix(docs, "id", "text",
        n = 3, threshold = 0.3)
      val plan = df.queryExecution.executedPlan
      plan.foreach {
        case w: WindowExec =>
          val keys = w.partitionSpec.flatMap(_.references.map(_.name)).toSet
          assert(keys.forall(_.startsWith("id")),
            s"window partitions by $keys — per-gram window is back:\n$w")
        case _ =>
      }
      val dfAggModes = plan.collect {
        case a: HashAggregateExec
            if a.groupingExpressions.exists(_.references.exists(_.name == "g")) &&
              a.aggregateExpressions.exists(_.aggregateFunction.toString.contains("count")) =>
          a.aggregateExpressions.map(_.mode)
      }.flatten
      assert(dfAggModes.contains(Partial) && !dfAggModes.contains(Complete),
        s"gram-df count is not a two-phase (map-side partial) aggregate: $dfAggModes")
    } finally conf.set("spark.sql.adaptive.enabled", aqe)
  }

  test("html_extract scan reads only (doc_id, text) — column pruning through the UDF") {
    val p = plan("html_extract")
    assert(p.contains("ReadSchema: struct<doc_id:bigint,text:string>"), p)
  }

  test("q9 distinct_ratio runs as the inline codegen expression (no array chain, no UDF)") {
    val p = plan("q9_quality")
    assert(p.contains("graft_distinct_ratio"), p)
    assert(!p.contains("array_distinct"), p)
    assert(!p.toLowerCase.contains("scalaudf"), p)
  }

  test("q16 custom expressions are inline in the Project (no UDF wrapper)") {
    // (whole-stage-codegen participation itself is asserted in
    // FunctionsSpec on a non-AQE plan; AQE plans don't render "*(n)"
    // markers before execution)
    val p = plan("q16_custom_expr")
    assert(p.contains("graft_word_count"), p)
    assert(!p.toLowerCase.contains("scalaudf") && !p.contains("BatchEval"), p)
  }
}
