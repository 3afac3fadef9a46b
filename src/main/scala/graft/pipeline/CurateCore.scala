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
  * per-turn cost — one UTF8String→String conversion and a single
  * hand-rolled scan is ~2× cheaper at 10^12-turn scale.
  *
  * Rule evaluation order is QualityRules.ruleOrder; expensive stages
  * stay structurally gated exactly as before (grammar hits only when
  * cheap rules pass; perplexity only when everything else passes —
  * the reference's "only error chunks reach the LLM" analog,
  * smart_corrector.py:114-128).
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

    // one-pass scalar stats: word count, distinct-word ratio inputs,
    // symbol count (same definitions as QualityRules.*Col)
    var reason: String = null
    if (text == null || isBlank(text)) reason = "empty"
    else {
      var wc = 0
      var sym = 0
      var inWord = false
      var i = 0
      val len = text.length
      while (i < len) {
        val c = text.charAt(i)
        val ws = Character.isWhitespace(c)
        if (!ws && !inWord) { wc += 1; inWord = true }
        else if (ws) inWord = false
        if (!ws && !Character.isLetterOrDigit(c)) sym += 1
        i += 1
      }
      // length gate counts CODE POINTS — the unfused pipeline's
      // F.length is code points, and UTF-16 units would flip keep/drop
      // for supplementary-char rows near maxChars (ADVICE r1)
      val cpLen = text.codePointCount(0, len)
      if (wc < cfg.minWords) reason = "too_short"
      else if (wc > cfg.maxWords || cpLen > cfg.maxChars) reason = "too_long"
      else if (wc >= cfg.repMinWords && distinctRatio(text, wc) < cfg.minDistinctRatio)
        reason = "repetition"
      else if (sym.toDouble / len > cfg.maxSymbolRatio) reason = "symbol_ratio"
      else if (QualityRules.isBoilerplate(text)) reason = "boilerplate"
    }

    var hits: Seq[String] = Nil
    if (reason == null && cfg.grammarEnabled) {
      val rh = GrammarRules.ruleHits(text, withContext = false)
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

  @inline private def isBlank(s: String): Boolean = {
    var i = 0
    while (i < s.length) {
      if (!Character.isWhitespace(s.charAt(i))) return false
      i += 1
    }
    true
  }

  /** distinct lowercased whitespace-token ratio — EXACTLY matches
    * QualityRules.distinctRatioCol
    * (array_remove(split(lower(text), "\\s+"), "")): same regex split,
    * same empty-token filter, no Java trim (which strips \t/\n that
    * the column form's space-only trim kept — ADVICE r1), so fused and
    * unfused pipelines agree on every input.
    */
  private def distinctRatio(text: String, wc: Int): Double = {
    val words = text.toLowerCase.split("\\s+")
    var n = 0
    val set = new java.util.HashSet[String](wc * 2)
    var i = 0
    while (i < words.length) {
      if (words(i).nonEmpty) { set.add(words(i)); n += 1 }
      i += 1
    }
    if (n == 0) 1.0 else set.size.toDouble / n
  }
}
