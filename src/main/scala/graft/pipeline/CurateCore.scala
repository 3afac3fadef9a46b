package graft.pipeline

import graft.langid.LangIdModel
import graft.lm.NGramLM
import graft.rules.{GrammarRules, QualityRules}
import graft.scrub.Scrubber

/** Fused per-turn kernel: computes langid, scalar rules, (gated)
  * grammar hits, (gated) perplexity, decision, and scrub in ONE pass
  * per row. Semantically IDENTICAL to the unfused column pipeline
  * (the independent golden oracle in GoldenPipelineSpec asserts exact
  * agreement); it exists because per-stage timing showed the generic
  * column-expression chain (split + array_distinct + regexp_replace
  * per rule) and four separate UDF string conversions dominating the
  * per-turn cost — one UTF8String→String conversion and the plain
  * cheap-rule chain (`QualityRules.cheapVerdict`, hand-rolled loops)
  * is ~2× cheaper at 10^12-turn scale.
  *
  * Rule evaluation order is QualityRules.ruleOrder; expensive stages
  * stay structurally gated exactly as before (grammar hits only when
  * cheap rules pass; perplexity only when everything else passes —
  * the reference's "only error chunks reach the LLM" analog,
  * smart_corrector.py:114-128).
  *
  * A row that passes the length gates is lowercased ONCE, under
  * `Locale.ROOT`, by the cheap chain, and that copy feeds the
  * repetition rule, the boilerplate guard and the grammar guards. Each
  * guard skips a regex scan only where the regex cannot match, so no
  * decision depends on them:
  *  - boilerplate: every alternative starts with an ASCII word that
  *    `(?i)` matches only in ASCII letters, which lowercase to that
  *    word under `Locale.ROOT` — so the regex runs only when the copy
  *    contains one (`QualityRules.isBoilerplate`);
  *  - grammar: a rule runs only when the copy contains one of its
  *    literals (lowercasing maps ASCII letters and `\s` chars one to
  *    one, so `He  ARE` shows in the copy as `he  are`), and for the
  *    subject-verb, article and POS rules only when a scan of the text
  *    finds the literal words in the order, case and spacing the
  *    pattern requires. A scan rejects a `\b` only next to an ASCII
  *    word char, where Java's `\b` certainly fails
  *    (`GrammarRules.pairCandidate` and the scans beside it);
  *  - repetition: not a guard but the same tokens — the copy is split
  *    on exactly the chars of regex `\s`, as `split("\\s+")` did.
  */
final case class CurateResult(
    lang: String,
    lang_conf: Double,
    ppl: Double,
    rule_hits: Seq[String],
    keep: Boolean,
    drop_reason: String,
    scrubbed_text: String,
    scrub_hits: Map[String, Int]
)

final class CurateCore(
    langId: LangIdModel,
    lm: NGramLM,
    cfg: QualityRules.Config
) extends Serializable {
  type Result = CurateResult

  def process(text: String): Result = {
    val scrub = Scrubber.scrub(text)
    val cheap = QualityRules.cheapVerdict(text, cfg)
    var reason = cheap.reason

    var hits: Seq[String] = Nil
    if (reason == null && cfg.grammarEnabled) {
      val rh = GrammarRules.ruleHitsOfLower(text, cheap.lower, includePos = true, withContext = false)
      hits = rh.map(_.rule_id)
      if (rh.size >= cfg.maxRuleHits) reason = "grammar"
      else if (cfg.cykEnabled &&
        GrammarRules.cykInvalidCount(text, cfg.cykMaxWords) >= cfg.cykMaxInvalid)
        reason = "cyk"
    }
    // langid is GATED like every expensive stage (round-1 verdict #6):
    // rows already dropped by cheap/grammar/cyk rules never pay the
    // n-gram model scan and carry the sentinel ("und", 0.0)
    var lang = "und"
    var langConf = 0.0
    if (reason == null && cfg.langIdEnabled) {
      val p = langId.predict(text)
      lang = p._1
      langConf = p._2
      if (!cfg.allowedLangs.contains(lang) || langConf < cfg.minLangConf)
        reason = "lang"
    }

    var ppl = Curate.dropWhenPplMissing
    if (reason == null && cfg.pplEnabled) {
      ppl = lm.perplexity(text)
      if (ppl > cfg.maxPpl) reason = "ppl"
    }

    CurateResult(lang, langConf, ppl, hits, reason == null, reason,
      scrub.scrubbed, scrub.hits)
  }
}
