package graft.pipeline

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Column, DataFrame, GraftBridge, SparkSession, functions => F}

import graft.functions.PartMetricsAgg
import graft.langid.{LangId, LangIdModel}
import graft.lm.NGramLM
import graft.rules.QualityRules
import graft.scrub.Scrubber
import graft.synth.Transcripts
import graft.tableio.TableIO

/** The curation DAG (SURVEY.md §3 "Spark rebuild of this lifecycle"):
  *
  *   transcripts → langid → cheap quality rules → (gated) grammar rules
  *   → (gated) perplexity → keep/drop decision → scrub → curated
  *
  * One lazily-built DataFrame plan, map-only (the per-turn pipeline is
  * embarrassingly parallel; the metrics are one global aggregate, or
  * observed on the write job). `Resume` runs it after the one shuffle
  * of its write, [[saltedForWrite]].
  *
  * Expensive-operator gating is STRUCTURAL, mirroring the reference's
  * "only error chunks reach the LLM" short-circuit
  * (smart_corrector.py:114-128, SURVEY.md §4): grammar-rule extraction
  * and perplexity scoring are wrapped in `when(<cheap rules passed>)`
  * so rows already dropped by a cheap column-expression rule never pay
  * for a UDF call.
  *
  * Model state (langid weights, n-gram table) is broadcast explicitly
  * (SURVEY.md §4.2) — one compact block per executor, not per task.
  */
object Curate {

  /** Broadcast-able model bundle; trained deterministically from the
    * seeded synth corpus (SURVEY.md §7.4: no external data).
    */
  final case class Models(langId: LangIdModel, lm: NGramLM) extends Serializable

  /** One deterministic default bundle per JVM. */
  lazy val defaultModels: Models = {
    val corpus = Transcripts.trainingCorpus()
    Models(LangId.train(corpus), NGramLM.train(corpus.map(_._1)))
  }

  val dropWhenPplMissing: Double = Double.NaN

  /** Add lang/lang_conf/ppl/rule_hits/keep/drop_reason/scrubbed_text/
    * scrub_hits columns to a transcripts DataFrame. Pure projection —
    * preserves partitioning, no shuffle; schema =
    * [[graft.model.CuratedTurn]]. Uses the fused [[CurateCore]] kernel
    * (one string conversion + one scan per row — see CurateCore doc for
    * why this beats an unfused column chain). The unfused column
    * pipeline lives in test scope as the reference implementation and
    * is asserted semantically identical by GoldenPipelineSpec and
    * ReviewRegressionSpec.
    */
  def curateDf(
      spark: SparkSession,
      turns: DataFrame,
      cfg: QualityRules.Config = QualityRules.defaultConfig,
      models: Models = defaultModels
  ): DataFrame =
    curateWith(turns, spark.sparkContext.broadcast(new CurateCore(models.langId, models.lm, cfg)))

  /** [[curateDf]] with the kernel already broadcast: a caller that
    * curates many DataFrames with one kernel (`Resume.run` per wave of
    * partitions, `StreamingCurate` per micro-batch) ships it once and
    * destroys the broadcast when done. A `part_id` column of `turns` is
    * kept, after the curated columns.
    */
  private[graft] def curateWith(turns: DataFrame, core: Broadcast[CurateCore]): DataFrame = {
    val coreU = F.udf((t: String) => core.value.process(t))
    val partCol = turns.columns.filter(_ == TableIO.PART_COL).map(F.col).toSeq
    turns
      .withColumn("__c", coreU(F.col("text")))
      .select(Seq(
        F.col("conv_id"), F.col("turn_idx"), F.col("role"), F.col("text"),
        F.col("tool"), F.col("ts"),
        F.col("__c.lang").as("lang"), F.col("__c.lang_conf").as("lang_conf"),
        F.col("__c.ppl").as("ppl"), F.col("__c.rule_hits").as("rule_hits"),
        F.col("__c.keep").as("keep"), F.col("__c.drop_reason").as("drop_reason"),
        F.col("__c.scrubbed_text").as("scrubbed_text"),
        F.col("__c.scrub_hits").as("scrub_hits")) ++ partCol: _*)
  }

  /** Drop-reason and scrub-pattern vocabularies the metrics count, in
    * manifest key order.
    */
  val metricRules: Seq[String] = QualityRules.ruleOrder.sorted
  val metricScrubs: Seq[String] = Scrubber.patternSpecs.map(_._1).sorted

  /** The counts of every `part_id` of a curated frame as ONE aggregate,
    * named `part_metrics` ([[PartMetricsAgg]]): a map from each partition
    * id present to its [[metricWidth]] counts, laid out as
    * [[metricSlots]] splits them. It is the one counter of curated turns:
    * `Resume.commitCurated` observes it on a wave's write job for the
    * manifests, and [[metrics]] aggregates it.
    */
  val partMetrics: Column = GraftBridge.column(PartMetricsAgg(
      GraftBridge.expression(F.col(TableIO.PART_COL)), GraftBridge.expression(F.col("keep")),
      GraftBridge.expression(F.col("drop_reason")), GraftBridge.expression(F.col("scrub_hits")),
      metricRules, metricScrubs).toAggregateExpression())
    .as("part_metrics")

  /** One partition's [[partMetrics]] counts, split by slot: the totals
    * (turns seen, kept, dropped), then one drop count per [[metricRules]]
    * entry, then one hit sum per [[metricScrubs]] entry.
    */
  private[graft] val metricWidth: Int = 3 + metricRules.length + metricScrubs.length
  private[graft] def metricSlots[A](counts: Seq[A]): (Seq[A], Seq[A], Seq[A]) =
    (counts.take(3), counts.slice(3, 3 + metricRules.length), counts.drop(3 + metricRules.length))

  /** Per-run metrics — rebuild of the reference's summary aggregates
    * (smart_corrector.py:229-260, SURVEY.md §2.9 A2): [[partMetrics]]
    * over every row of `curated` as partition `partId` (zeros when it
    * has none), its counts folded into sorted-key maps without zero
    * entries. Fails when the per-rule counts do not sum to
    * `turns_dropped`, i.e. on a drop reason outside
    * `QualityRules.ruleOrder`.
    */
  def metrics(curated: DataFrame, partId: Int = 0): DataFrame = {
    val (Seq(seen, kept, dropped), rules, scrubs) =
      metricSlots((0 until metricWidth).map(i => F.col("c").getItem(i)))
    def countMap(keys: Seq[String], counts: Seq[Column]) =
      F.map_filter(F.map(keys.zip(counts).flatMap { case (k, n) => Seq(F.lit(k), n) }: _*),
        (_, v) => v > 0)
    curated.withColumn(TableIO.PART_COL, F.lit(partId)).agg(partMetrics)
      .select(F.coalesce(F.element_at(F.col("part_metrics"), F.lit(partId)),
        F.array(Seq.fill(metricWidth)(F.lit(0L)): _*)).as("c"))
      .filter(F.when(rules.reduce(_ + _) === dropped, F.lit(true))
        .otherwise(F.raise_error(F.lit("Curate.metrics: per-rule drop counts do not " +
          "sum to turns_dropped (a drop_reason outside QualityRules.ruleOrder)"))))
      .select(F.lit(partId).as("part_id"), seen.as("turns_seen"), kept.as("turns_kept"),
        dropped.as("turns_dropped"),
        countMap(metricRules, rules).as("dropped_by_rule"),
        countMap(metricScrubs, scrubs).as("scrub_hit_counts"))
  }

  /** Two-phase ordered per-conversation reassembly (SURVEY.md §2.7 R3
    * at scale): a 10^5-turn conversation would make a naive
    * groupBy(conv_id).collect_list a single hot reducer holding the
    * whole conversation. Phase 1 groups by (conv_id, turn_idx/blockSize)
    * — bounded state per group regardless of conversation length —
    * and concatenates each block in turn order; phase 2 concatenates
    * the (few) block strings per conversation in block order. Result
    * is byte-identical to the naive reassembly (asserted in tests).
    */
  def reassembleTwoPhase(curated: DataFrame, blockSize: Int = 1024): DataFrame = {
    val block = (F.col("turn_idx") / blockSize).cast("int").as("block")
    val partial = curated
      .filter(F.col("keep"))
      .groupBy(F.col("conv_id"), block)
      .agg(
        F.count(F.lit(1)).as("n_turns"),
        F.concat_ws(" ",
          F.transform(
            F.array_sort(F.collect_list(F.struct(F.col("turn_idx"), F.col("scrubbed_text")))),
            x => x.getField("scrubbed_text"))).as("part"))
    partial
      .groupBy("conv_id")
      .agg(
        F.sum("n_turns").as("n_turns"),
        F.concat_ws(" ",
          F.transform(
            F.array_sort(F.collect_list(F.struct(F.col("block"), F.col("part")))),
            x => x.getField("part"))).as("reassembled"))
  }

  /** Salted two-phase per-conversation aggregation (SURVEY.md §4.1):
    * partial aggregates per (conv_id, salt) spread a hot conversation
    * over `salt` reducers, the final per-conv step combines `salt`
    * tiny rows. (Spark's hash aggregate already does partial+final
    * map-side combine for these; the explicit salt additionally bounds
    * REDUCER-side group size for pathological keys, and is the pattern
    * a conv-level heavy aggregation must follow at 10^12 turns.)
    */
  def convStatsSalted(curated: DataFrame, salt: Int = 16): DataFrame = {
    val partial = curated
      .groupBy(F.col("conv_id"), F.pmod(F.hash(F.col("turn_idx")), F.lit(salt)).as("__salt"))
      .agg(
        F.count(F.lit(1)).as("n"),
        F.sum(F.when(F.col("keep"), 1L).otherwise(0L)).as("kept"),
        F.sum(F.length(F.col("scrubbed_text")).cast("long")).as("chars"))
    partial
      .groupBy("conv_id")
      .agg(
        F.sum("n").as("n_turns"),
        F.sum("kept").as("n_kept"),
        (F.sum("chars") / F.sum("n")).as("avg_chars"))
  }

  /** Skew-safe repartition for the WRITE path (SURVEY.md §4.1): spread
    * a hot conv_id over `salt` buckets while keeping (conv_id,
    * turn_idx) runs sorted within each output file — each file holds the
    * same rows in the same order run-to-run (the parquet bytes may still
    * differ: see `TableIO`'s commit-protocol note). A frame carrying
    * `part_id` (the partitions of a `Resume` wave) is sorted by it
    * first, the order a partitionBy(part_id) write needs; the salt does
    * not read it, so each partition's rows land in the same tasks, in
    * the same order, as when the partition is written alone.
    */
  def saltedForWrite(df: DataFrame, numPartitions: Int, salt: Int = 16): DataFrame =
    df.repartition(numPartitions, F.col("conv_id"),
        F.pmod(F.hash(F.col("turn_idx")), F.lit(salt)))
      .sortWithinPartitions(
        (df.columns.filter(_ == TableIO.PART_COL).toSeq ++ Seq("conv_id", "turn_idx")).map(F.col): _*)
}
