package graft

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Column, DataFrame, SparkSession, functions => F}

import graft.pipeline.Curate
import graft.rules.{GrammarRules, QualityRules}
import graft.scrub.Scrubber

/** Test-scope reference for the curation DAG: the same decisions as
  * [[Curate.curateDf]] built from column expressions and per-stage
  * UDFs instead of the fused `CurateCore` kernel.
  */
object CurateUnfused {

  /** The original unfused column pipeline — the test reference
    * implementation (declarative column expressions, per-stage UDFs,
    * structural gating); semantics identical to [[Curate.curateDf]].
    */
  def curateDfUnfused(
      spark: SparkSession,
      turns: DataFrame,
      cfg: QualityRules.Config = QualityRules.defaultConfig,
      models: Curate.Models = Curate.defaultModels
  ): DataFrame = {
    val bModels: Broadcast[Curate.Models] = spark.sparkContext.broadcast(models)

    val langU = F.udf((t: String) => bModels.value.langId.predict(t))
    val pplU = F.udf((t: String) => bModels.value.lm.perplexity(t))
    val hitsU = F.udf((t: String) =>
      GrammarRules.ruleHits(t, withContext = false).map(_.rule_id))
    val cykU = F.udf((t: String) => GrammarRules.cykInvalidCount(t, cfg.cykMaxWords))
    val scrubU = F.udf((t: String) => Scrubber.scrub(t))

    val text = F.col("text")
    // custom codegen expressions whose whitespace/symbol semantics are
    // bit-identical to CurateCore's (Character.isWhitespace /
    // isLetterOrDigit) — the generic built-ins (trim strips only
    // spaces, \s is ASCII-only) diverge on tab/newline-only and
    // unicode-whitespace rows
    val wc = graft.functions.TextMetrics.word_count(text)

    // cheap scalar rules — pure codegen'd column expressions, evaluated
    // in the fixed QualityRules.ruleOrder (drop_reason = FIRST failure)
    val cheapDrop: Column =
      F.when(text.isNull || wc === 0, "empty")
        .when(wc < cfg.minWords, "too_short")
        .when(wc > cfg.maxWords || F.length(text) > cfg.maxChars, "too_long")
        .when(wc >= cfg.repMinWords &&
          QualityRules.distinctRatioCol(text) < cfg.minDistinctRatio, "repetition")
        .when(graft.functions.TextMetrics.symbol_ratio(text) > cfg.maxSymbolRatio, "symbol_ratio")
        .when(QualityRules.boilerplateCol(text), "boilerplate")

    val withCheap = turns.withColumn("__cheap", cheapDrop)

    // gated grammar hits (empty for already-dropped rows)
    val withHits = withCheap.withColumn(
      "rule_hits",
      if (!cfg.grammarEnabled) F.typedlit(Seq.empty[String])
      else F.when(F.col("__cheap").isNotNull, F.typedlit(Seq.empty[String]))
        .otherwise(hitsU(text)))

    val afterGrammar =
      if (!cfg.grammarEnabled) F.col("__cheap")
      else F.coalesce(
        F.col("__cheap"),
        F.when(F.size(F.col("rule_hits")) >= cfg.maxRuleHits, "grammar"))

    val afterCyk =
      if (cfg.cykEnabled)
        F.coalesce(afterGrammar,
          F.when(cykU(text) >= cfg.cykMaxInvalid, "cyk"))
      else afterGrammar

    // langid gated behind the cheap/grammar/cyk rules (verdict #6):
    // already-dropped rows carry the ("und", 0.0) sentinel
    val withLang = withHits
      .withColumn("__pre_lang", afterCyk)
      .withColumn("__lang",
        if (!cfg.langIdEnabled)
          F.struct(F.lit("und").as("_1"), F.lit(0.0).as("_2"))
        else F.when(F.col("__pre_lang").isNotNull,
          F.struct(F.lit("und").as("_1"), F.lit(0.0).as("_2")))
          .otherwise(langU(text)))
      .withColumn("lang", F.col("__lang._1"))
      .withColumn("lang_conf", F.col("__lang._2"))

    val langOk = F.col("lang").isInCollection(cfg.allowedLangs) &&
      F.col("lang_conf") >= cfg.minLangConf
    val afterLang =
      if (!cfg.langIdEnabled) F.col("__pre_lang")
      else F.coalesce(F.col("__pre_lang"), F.when(!langOk, "lang"))

    val withPpl = withLang
      .withColumn("__pre_ppl", afterLang)
      .withColumn(
        "ppl",
        if (cfg.pplEnabled)
          F.when(F.col("__pre_ppl").isNotNull, F.lit(Curate.dropWhenPplMissing))
            .otherwise(pplU(text))
        else F.lit(Curate.dropWhenPplMissing))

    val dropReason =
      if (cfg.pplEnabled)
        F.coalesce(F.col("__pre_ppl"), F.when(F.col("ppl") > cfg.maxPpl, "ppl"))
      else F.col("__pre_ppl")

    withPpl
      .withColumn("drop_reason", dropReason)
      .withColumn("keep", F.col("drop_reason").isNull)
      .withColumn("__scrub", scrubU(text))
      .withColumn("scrubbed_text", F.col("__scrub.scrubbed"))
      .withColumn("scrub_hits", F.col("__scrub.hits"))
      .select(
        "conv_id", "turn_idx", "role", "text", "tool", "ts",
        "lang", "lang_conf", "ppl", "rule_hits", "keep", "drop_reason",
        "scrubbed_text", "scrub_hits")
  }
}
