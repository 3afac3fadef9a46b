package graft.pipeline

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession, functions => F}

import graft.langid.{LangId, LangIdModel}
import graft.lm.NGramLM
import graft.model.Turn
import graft.rules.QualityRules
import graft.scrub.Scrubber
import graft.synth.Transcripts

/** The curation DAG (SURVEY.md §3 "Spark rebuild of this lifecycle"):
  *
  *   transcripts → langid → cheap quality rules → (gated) grammar rules
  *   → (gated) perplexity → keep/drop decision → scrub → curated
  *
  * One lazily-built DataFrame plan, map-only (NO shuffle on the hot
  * path — the per-turn pipeline is embarrassingly parallel; the
  * metrics are one global aggregate, or observed on the write job).
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
    * curates many DataFrames with one kernel (`Resume.run` per partition,
    * `StreamingCurate` per micro-batch) ships it once and destroys the
    * broadcast when done.
    */
  private[graft] def curateWith(turns: DataFrame, core: Broadcast[CurateCore]): DataFrame = {
    val coreU = F.udf((t: String) => core.value.process(t))
    turns
      .withColumn("__c", coreU(F.col("text")))
      .select(
        F.col("conv_id"), F.col("turn_idx"), F.col("role"), F.col("text"),
        F.col("tool"), F.col("ts"),
        F.col("__c.lang").as("lang"), F.col("__c.lang_conf").as("lang_conf"),
        F.col("__c.ppl").as("ppl"), F.col("__c.rule_hits").as("rule_hits"),
        F.col("__c.keep").as("keep"), F.col("__c.drop_reason").as("drop_reason"),
        F.col("__c.scrubbed_text").as("scrubbed_text"),
        F.col("__c.scrub_hits").as("scrub_hits"))
  }

  def curate(
      spark: SparkSession,
      turns: Dataset[Turn],
      cfg: QualityRules.Config = QualityRules.defaultConfig,
      models: Models = defaultModels
  ): Dataset[graft.model.CuratedTurn] = {
    import spark.implicits._
    curateDf(spark, turns.toDF(), cfg, models).as[graft.model.CuratedTurn]
  }

  /** Drop-reason and scrub-pattern vocabularies the metrics count, in
    * manifest key order.
    */
  val metricRules: Seq[String] = QualityRules.ruleOrder.sorted
  val metricScrubs: Seq[String] = Scrubber.patternSpecs.map(_._1).sorted
  def ruleCount(rule: String): String = s"dropped_$rule"
  def scrubCount(pattern: String): String = s"scrub_$pattern"

  /** The per-run metrics as ONE aggregate list: turn count, kept and
    * dropped sums, one count per drop reason and one hit sum per scrub
    * pattern. [[metrics]] aggregates it; `Resume` observes it on the
    * partition's write job.
    */
  val metricAggs: Seq[Column] = Seq(
    F.count(F.lit(1)).as("turns_seen"),
    F.sum(F.when(F.col("keep"), 1L).otherwise(0L)).as("turns_kept"),
    F.sum(F.when(F.col("keep"), 0L).otherwise(1L)).as("turns_dropped")) ++
    metricRules.map(r =>
      F.count(F.when(F.col("drop_reason") === r, 1)).as(ruleCount(r))) ++
    metricScrubs.map(k =>
      F.coalesce(F.sum(F.col("scrub_hits").getItem(k).cast("long")), F.lit(0L))
        .as(scrubCount(k)))

  /** Per-run metrics — rebuild of the reference's summary aggregates
    * (smart_corrector.py:229-260, SURVEY.md §2.9 A2): one aggregate of
    * [[metricAggs]], its counts folded into sorted-key maps without
    * zero entries. Fails when the per-rule counts do not sum to
    * `turns_dropped`, i.e. on a drop reason outside
    * `QualityRules.ruleOrder`.
    */
  def metrics(curated: DataFrame, partId: Int = 0): DataFrame = {
    def countMap(keys: Seq[String], col: String => String) =
      F.map_filter(F.map(keys.flatMap(k => Seq(F.lit(k), F.col(col(k)))): _*), (_, v) => v > 0)
    val ruleSum = metricRules.map(r => F.col(ruleCount(r))).reduce(_ + _)
    curated.agg(metricAggs.head, metricAggs.tail: _*)
      .filter(F.when(ruleSum === F.col("turns_dropped"), F.lit(true))
        .otherwise(F.raise_error(F.lit("Curate.metrics: per-rule drop counts do not " +
          "sum to turns_dropped (a drop_reason outside QualityRules.ruleOrder)"))))
      .select(F.lit(partId).as("part_id"), F.col("turns_seen"), F.col("turns_kept"),
        F.col("turns_dropped"),
        countMap(metricRules, ruleCount).as("dropped_by_rule"),
        countMap(metricScrubs, scrubCount).as("scrub_hit_counts"))
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
    * differ: see `TableIO`'s commit-protocol note).
    */
  def saltedForWrite(df: DataFrame, numPartitions: Int, salt: Int = 16): DataFrame =
    df.repartition(numPartitions, F.col("conv_id"),
        F.pmod(F.hash(F.col("turn_idx")), F.lit(salt)))
      .sortWithinPartitions("conv_id", "turn_idx")
}
