package graft

import java.util.Locale
import java.util.regex.Pattern

import scala.collection.mutable.ArrayBuffer

import graft.grammar.Cyk
import graft.langid.{LangId, LangIdModel}
import graft.lm.NGramLM
import graft.pipeline.{Curate, CurateResult}
import graft.rules.{GrammarRules, QualityRules}
import graft.rules.GrammarRules.RuleHit
import graft.scrub.Scrubber

/** Test-scope references for the fast paths of the fused curate kernel,
  * kept in the plain form each fast path replaced (as [[CurateUnfused]]
  * keeps the column pipeline): the boilerplate regex alone, the regex
  * split of the repetition rule, the per-gram langid iterator, and the
  * grammar rules with every regex run on every text (no guard at all,
  * which is stricter than the substring guards the old form had), and
  * the scrub as regex passes with no guard and no hand scan.
  * KernelEquivalenceSpec asserts each fast path equal to its reference.
  */
object KernelReference {

  private val boilerplateP = Pattern.compile(QualityRules.boilerplateRegex)

  def isBoilerplate(text: String): Boolean =
    text != null && boilerplateP.matcher(text).find()

  /** The repetition rule's ratio: regex split of the lowercased text. */
  def distinctRatio(text: String): Double = {
    val words = text.toLowerCase.split("\\s+")
    var n = 0
    val set = new java.util.HashSet[String]()
    words.foreach { w => if (w.nonEmpty) { set.add(w); n += 1 } }
    if (n == 0) 1.0 else set.size.toDouble / n
  }

  // ---- langid ----

  /** Char 1..3-gram buckets, each gram hashed and tested from scratch. */
  def foreachGramBucket(text: String, nBuckets: Int)(f: Int => Unit): Unit = {
    if (text == null || text.isEmpty) return
    val len = math.min(text.length, LangId.maxChars)
    val buf = new StringBuilder(len + 2)
    buf.append(' ')
    var i = 0
    var prevSpace = true
    while (i < len) {
      val c0 = text.charAt(i)
      val c = if (Character.isWhitespace(c0)) ' ' else Character.toLowerCase(c0)
      if (c != ' ' || !prevSpace) buf.append(c)
      prevSpace = c == ' '
      i += 1
    }
    if (!prevSpace) buf.append(' ')
    val n = buf.length
    var j = 0
    while (j < n) {
      var g = 1
      while (g <= 3 && g <= j + 1) {
        var hasLetter = false
        var h = 0x811c9dc5
        var k = j - g + 1
        while (k <= j) {
          val ch = buf.charAt(k)
          if (Character.isLetter(ch)) hasLetter = true
          h = (h ^ ch) * 0x01000193
          k += 1
        }
        if (hasLetter) f((h & 0x7fffffff) % nBuckets)
        g += 1
      }
      j += 1
    }
  }

  def predict(m: LangIdModel, text: String): (String, Double) = {
    val nL = m.langs.length
    val scores = new Array[Double](nL)
    var nGrams = 0
    foreachGramBucket(text, m.nBuckets) { b =>
      var l = 0
      while (l < nL) { scores(l) += m.weights(b * nL + l); l += 1 }
      nGrams += 1
    }
    if (nGrams == 0) return ("und", 0.0)
    var best = 0
    var l = 1
    while (l < nL) { if (scores(l) > scores(best)) best = l; l += 1 }
    var denom = 0.0
    l = 0
    while (l < nL) { denom += math.exp((scores(l) - scores(best)) / nGrams); l += 1 }
    (m.langs(best), 1.0 / denom)
  }

  /** The per-bucket (count, total) sums `LangId.train` builds its
    * weights from, over this iterator.
    */
  def trainWeights(samples: Seq[(String, String)], nBuckets: Int): Array[Float] = {
    val langs = samples.map(_._2).distinct.sorted.toArray
    val nL = langs.length
    val idx = langs.zipWithIndex.toMap
    val counts = new Array[Double](nBuckets * nL)
    val totals = new Array[Double](nL)
    samples.foreach { case (text, lang) =>
      val li = idx(lang)
      foreachGramBucket(text, nBuckets) { b =>
        counts(b * nL + li) += 1.0
        totals(li) += 1.0
      }
    }
    Array.tabulate(nBuckets * nL) { i =>
      math.log((counts(i) + 0.5) / (totals(i % nL) + 0.5 * nBuckets)).toFloat
    }
  }

  // ---- grammar ----

  private def ci(p: String) = Pattern.compile(p, Pattern.CASE_INSENSITIVE)

  private val specs: Seq[(String, String, Pattern, Double)] = Seq(
    ("BASIC_SUBJ_VERB", "Basic Subject-Verb Agreement", ci("\\b(he|she|it)\\s+are\\b"), 0.8),
    ("BASIC_SUBJ_VERB", "Basic Subject-Verb Agreement", ci("\\b(they|we|you)\\s+is\\b"), 0.8),
    ("BASIC_SUBJ_VERB", "Basic Subject-Verb Agreement", ci("\\b(I)\\s+are\\b"), 0.8),
    ("BASIC_SUBJ_VERB", "Basic Subject-Verb Agreement", ci("\\b(was)\\s+(they|we|you)\\b"), 0.8),
    ("BASIC_ARTICLES", "Basic Article Usage", Pattern.compile("\\b(is|was)\\s+([A-Z][a-z]+)\\b"), 0.6),
    ("BASIC_ARTICLES", "Basic Article Usage", Pattern.compile("\\bwent\\s+to\\s+([a-z]+)\\b"), 0.6),
    ("BASIC_COMMON", "Common Grammar Mistakes", ci("\\bthere\\s+is\\s+many\\b"), 0.7),
    ("BASIC_COMMON", "Common Grammar Mistakes", ci("\\bincludes\\b(?=\\s+[a-z])"), 0.7),
    ("BASIC_COMMON", "Common Grammar Mistakes", ci("\\bfocus\\s+on\\b"), 0.7),
    ("BASIC_COMMON", "Common Grammar Mistakes", ci("\\bmachine\\s+to\\s+understand\\b"), 0.7),
    ("BASIC_001", "subject_verb_disagreement", ci("\\b(he|she|it)\\s+are\\b"), 0.9),
    ("BASIC_002", "double_negative",
      ci("\\b(don't|doesn't|didn't|won't|can't|couldn't|shouldn't|wouldn't)\\s+\\w*n't\\b"), 0.8),
    ("BASIC_003", "incomplete_sentence", ci("^\\s*[A-Z][^.!?]*[a-z]\\s*$"), 0.7))

  private val areP = Pattern.compile("\\bare\\b", Pattern.CASE_INSENSITIVE)

  private def isWordChar(c: Char): Boolean =
    (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z') || (c >= '0' && c <= '9') || c == '_'

  private def posHits(text: String, out: ArrayBuffer[RuleHit], withContext: Boolean): Unit = {
    val m = areP.matcher(text)
    while (m.find()) {
      var i = m.start() - 1
      var sentEnd = false
      while (i >= 0 && !isWordChar(text.charAt(i))) {
        val c = text.charAt(i)
        if (c == '.' || c == '!' || c == '?') sentEnd = true
        i -= 1
      }
      if (i >= 0 && !sentEnd) {
        val prevEnd = i + 1
        while (i >= 0 && isWordChar(text.charAt(i))) i -= 1
        val prevWord = text.substring(i + 1, prevEnd)
        val lower = prevWord.toLowerCase(Locale.ROOT)
        val tags = Cyk.lexicon.getOrElse(lower, Set(Cyk.guessPosFallback(lower)))
        if (tags.contains("N") && !tags.contains("AUX") && !tags.contains("PRP") &&
            !tags.contains("DET"))
          out += RuleHit("POS_SUBJ_VERB", "POS Subject-Verb Agreement",
            i + 1, m.end(), s"$prevWord ${m.group()}", 0.75,
            if (withContext) GrammarRules.context(text, i + 1, m.end()) else "")
      }
    }
  }

  def ruleHits(text: String, includePos: Boolean = true,
      withContext: Boolean = true): Seq[RuleHit] = {
    if (text == null || text.isEmpty) return Nil
    val all = new ArrayBuffer[RuleHit]()
    specs.foreach { case (id, name, p, conf) =>
      val m = p.matcher(text)
      while (m.find())
        all += RuleHit(id, name, m.start(), m.end(), m.group(), conf,
          if (withContext) GrammarRules.context(text, m.start(), m.end()) else "")
    }
    if (includePos) posHits(text, all, withContext)
    // overlap dedup keeping the max confidence (cfg_checker.py:317-343)
    val unique = new ArrayBuffer[RuleHit]()
    all.sortBy(_.start).foreach { e =>
      val j = unique.indexWhere(ex => e.start < ex.end && e.end > ex.start)
      if (j < 0) unique += e
      else if (e.confidence > unique(j).confidence) { unique.remove(j); unique += e }
    }
    unique.sortBy(_.start).toSeq
  }

  // ---- scrub ----

  private val wsRunP = Pattern.compile(QualityRules.regexSpaceClass + "+")

  /** Each whitespace run → " ", then a leading and a trailing space cut. */
  private def normalizeWs(t: String): String =
    wsRunP.matcher(t).replaceAll(" ").stripPrefix(" ").stripSuffix(" ")

  private val scrubPs = Scrubber.patternSpecs.map { case (n, p) => (n, Pattern.compile(p)) }

  /** `Scrubber.scrub` with every pattern counted and replaced on every
    * text: normalize, the patterns in order, the punctuation collapse,
    * normalize.
    */
  def scrub(text: String): Scrubber.ScrubResult = {
    if (text == null) return Scrubber.ScrubResult("", Map.empty)
    var t = normalizeWs(text)
    val hits = scrubPs.flatMap { case (name, p) =>
      val n = p.matcher(t).results().count().toInt
      t = p.matcher(t).replaceAll("")
      if (n > 0) Some(name -> n) else None
    }.toMap
    t = t.replaceAll("[.]{3,}", "...").replaceAll("[!]{2,}", "!").replaceAll("[?]{2,}", "?")
    Scrubber.ScrubResult(normalizeWs(t), hits)
  }

  // ---- the whole kernel ----

  /** `CurateCore.process` built from the references above. */
  def process(langId: LangIdModel, lm: NGramLM, cfg: QualityRules.Config,
      text: String): CurateResult = {
    val scrub = this.scrub(text)
    var reason: String = null
    if (text == null || text.forall(Character.isWhitespace)) reason = "empty"
    else {
      val wc = QualityRules.wordCount(text)
      val sym = text.count(c => !Character.isWhitespace(c) && !Character.isLetterOrDigit(c))
      if (wc < cfg.minWords) reason = "too_short"
      else if (wc > cfg.maxWords || text.codePointCount(0, text.length) > cfg.maxChars)
        reason = "too_long"
      else if (wc >= cfg.repMinWords && distinctRatio(text) < cfg.minDistinctRatio)
        reason = "repetition"
      else if (sym.toDouble / text.length > cfg.maxSymbolRatio) reason = "symbol_ratio"
      else if (isBoilerplate(text)) reason = "boilerplate"
    }
    var hits: Seq[String] = Nil
    if (reason == null && cfg.grammarEnabled) {
      val rh = ruleHits(text, withContext = false)
      hits = rh.map(_.rule_id)
      if (rh.size >= cfg.maxRuleHits) reason = "grammar"
      else if (cfg.cykEnabled &&
        GrammarRules.cykInvalidCount(text, cfg.cykMaxWords) >= cfg.cykMaxInvalid)
        reason = "cyk"
    }
    var (lang, langConf) = ("und", 0.0)
    if (reason == null && cfg.langIdEnabled) {
      val p = predict(langId, text)
      lang = p._1
      langConf = p._2
      if (!cfg.allowedLangs.contains(lang) || langConf < cfg.minLangConf) reason = "lang"
    }
    var ppl = Curate.dropWhenPplMissing
    if (reason == null && cfg.pplEnabled) {
      ppl = lm.perplexity(text)
      if (ppl > cfg.maxPpl) reason = "ppl"
    }
    CurateResult(lang, langConf, ppl, hits, reason == null, reason, scrub.scrubbed, scrub.hits)
  }
}
