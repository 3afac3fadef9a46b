package graft.rules

import java.util.Locale
import java.util.regex.Pattern

import scala.collection.mutable.ArrayBuffer

import graft.grammar.Cyk

/** Grammar-error detection — rebuild of the reference's
  * `CFGGrammarChecker` (cfg_checker.py): the hardcoded basic rules
  * (G1, cfg_checker.py:136-210), the rule-bank sweep (G2,
  * cfg_checker.py:212-242 over the 3 basic `GrammarRule`s at
  * cfg_checker.py:77-114), the POS-bigram rule (G3,
  * cfg_checker.py:244-281, lexicon+suffix tagger instead of NLTK), and
  * the overlap-dedup that keeps max confidence (G5,
  * cfg_checker.py:317-343).
  *
  * All patterns compiled ONCE per JVM (the reference recompiles per
  * call, cfg_checker.py:222 — SURVEY.md §4 "regex precompilation").
  *
  * Flag faithfulness: the basic subject-verb and common-mistake
  * patterns run IGNORECASE (cfg_checker.py:149,195), the article
  * patterns run case-SENSITIVE (cfg_checker.py:171 — they rely on
  * `[A-Z]`), and the bank rules run IGNORECASE (cfg_checker.py:222).
  */
object GrammarRules extends Serializable {

  final case class RuleHit(
      rule_id: String,
      rule_name: String,
      start: Int,
      end: Int,
      snippet: String,
      confidence: Double,
      context: String
  )

  /** ±`contextWindow` window around an error with the match
    * `**`-highlighted — G4, exact port of _get_context
    * (cfg_checker.py:116-134; window size = config
    * `grammar.context_window` default 100, cfg_checker.py:50).
    * The window is measured in CODE POINTS like Python slicing (a
    * UTF-16 window would shift on supplementary chars and could split
    * a surrogate pair at the edge); `start`/`end` args stay UTF-16
    * (the unit of RuleHit/matcher offsets). Final strip is Python's.
    */
  val contextWindow: Int = 100

  def context(text: String, start: Int, end: Int): String = {
    val cs = text.offsetByCodePoints(start,
      -math.min(contextWindow, text.codePointCount(0, start)))
    val ce = text.offsetByCodePoints(end,
      math.min(contextWindow, text.codePointCount(end, text.length)))
    val window = text.substring(cs, ce)
    val es = start - cs
    val ee = end - cs
    val marked =
      if (es >= 0 && ee <= window.length)
        window.substring(0, es) + "**" + window.substring(es, ee) + "**" +
          window.substring(ee)
      else window
    graft.util.PyStr.pyStrip(marked)
  }

  /** @param guards lowercase literal substrings, at least one of which
    *   MUST appear in the text lowercased under `Locale.ROOT` for the
    *   pattern to possibly match (conservative pre-filter —
    *   `String.contains` is far cheaper than a regex scan, and on clean
    *   text most rules are skipped entirely). Empty = always run.
    * @param candidate when set, a test of (text, lowercased text) that is
    *   true whenever the pattern can match; run after a guard passed,
    *   and the regex runs only when it holds. Each one is exact in that
    *   sense (see [[pairCandidate]], [[articleCandidate]]), so the hits
    *   never change: the regex still decides.
    * @param noSentPunctOnly the pattern can only match a text with NO
    *   sentence punctuation anywhere (every char is consumed by a piece
    *   that excludes [.!?]) — one indexOf beats an anchored regex scan
    *   on the common punctuated text.
    * @param sameAs index of an earlier spec with the same pattern,
    *   guards and candidate: its matches are reused, not scanned for
    *   again.
    */
  private final case class Spec(
      ruleId: String,
      ruleName: String,
      pattern: Pattern,
      confidence: Double,
      guards: Array[String],
      candidate: (String, String) => Boolean = null,
      noSentPunctOnly: Boolean = false,
      sameAs: Int = -1
  )

  private def ci(p: String) = Pattern.compile(p, Pattern.CASE_INSENSITIVE)
  // the literal words of the subject-verb patterns, for their candidate scans
  private val heSheIt = Array("he", "she", "it")
  private val theyWeYou = Array("they", "we", "you")
  private val iWord = Array("i")
  private val areWord = Array("are")
  private val isWord = Array("is")
  private val wasWord = Array("was")
  private def cs(p: String) = Pattern.compile(p)

  /** Evaluation order = reference check_text order (cfg_checker.py:283-308):
    * basic subj-verb → articles → common mistakes → bank rules.
    */
  private val specs: Array[Spec] = Array(
    // Rule 1: subject-verb disagreement (cfg_checker.py:141-146, conf 0.8)
    Spec("BASIC_SUBJ_VERB", "Basic Subject-Verb Agreement", ci("\\b(he|she|it)\\s+are\\b"), 0.8, Array("are"),
      (t, l) => spaceThen(l, "are") && pairCandidate(t, heSheIt, areWord)),
    Spec("BASIC_SUBJ_VERB", "Basic Subject-Verb Agreement", ci("\\b(they|we|you)\\s+is\\b"), 0.8, Array("is"),
      (t, l) => spaceThen(l, "is") && pairCandidate(t, theyWeYou, isWord)),
    Spec("BASIC_SUBJ_VERB", "Basic Subject-Verb Agreement", ci("\\b(I)\\s+are\\b"), 0.8, Array("are"),
      (t, l) => spaceThen(l, "are") && pairCandidate(t, iWord, areWord)),
    Spec("BASIC_SUBJ_VERB", "Basic Subject-Verb Agreement", ci("\\b(was)\\s+(they|we|you)\\b"), 0.8, Array("was"),
      (t, _) => pairCandidate(t, wasWord, theyWeYou)),
    // Rule 2: missing articles (cfg_checker.py:165-168, conf 0.6, case-sensitive)
    Spec("BASIC_ARTICLES", "Basic Article Usage", cs("\\b(is|was)\\s+([A-Z][a-z]+)\\b"), 0.6, Array("is", "was"),
      (t, _) => articleCandidate(t)),
    Spec("BASIC_ARTICLES", "Basic Article Usage", cs("\\bwent\\s+to\\s+([a-z]+)\\b"), 0.6, Array("went")),
    // Rule 3: common mistakes (cfg_checker.py:187-192, conf 0.7)
    Spec("BASIC_COMMON", "Common Grammar Mistakes", ci("\\bthere\\s+is\\s+many\\b"), 0.7, Array("there")),
    Spec("BASIC_COMMON", "Common Grammar Mistakes", ci("\\bincludes\\b(?=\\s+[a-z])"), 0.7, Array("includes")),
    Spec("BASIC_COMMON", "Common Grammar Mistakes", ci("\\bfocus\\s+on\\b"), 0.7, Array("focus")),
    Spec("BASIC_COMMON", "Common Grammar Mistakes", ci("\\bmachine\\s+to\\s+understand\\b"), 0.7, Array("machine")),
    // Bank rules (cfg_checker.py:81-111 via :212-242, IGNORECASE)
    // the pattern of the first BASIC_SUBJ_VERB spec, scanned once for both
    Spec("BASIC_001", "subject_verb_disagreement", ci("\\b(he|she|it)\\s+are\\b"), 0.9, Array("are"),
      sameAs = 0),
    Spec("BASIC_002", "double_negative",
      ci("\\b(don't|doesn't|didn't|won't|can't|couldn't|shouldn't|wouldn't)\\s+\\w*n't\\b"), 0.8, Array("n't", "n’t")),
    Spec("BASIC_003", "incomplete_sentence", ci("^\\s*[A-Z][^.!?]*[a-z]\\s*$"), 0.7,
      Array.empty, noSentPunctOnly = true)
  )

  /** The RE2-compatible (rule_id, pattern, confidence) subset of the
    * rule bank, for the DRIVER-ORACLED relational rule-count query
    * (`grammar_hits_summary`): DuckDB's regexp engine is RE2, which has
    * no lookahead, so BASIC_COMMON's `(?=\s+[a-z])` is rewritten as a
    * consuming `\s+[a-z]` (same matches except pathological abutting
    * repeats), and BASIC_003 is excluded (`$` before a trailing newline
    * differs between Java and RE2). Raw non-overlapping match counts —
    * the overlap-dedup semantics of [[ruleHits]] are pinned separately
    * by the reference-parity harness (scripts/reference_parity.py).
    */
  val re2Specs: Seq[(String, String, Double)] = Seq(
    ("BASIC_SUBJ_VERB", "(?i)\\b(he|she|it)\\s+are\\b", 0.8),
    ("BASIC_SUBJ_VERB", "(?i)\\b(they|we|you)\\s+is\\b", 0.8),
    ("BASIC_SUBJ_VERB", "(?i)\\b(I)\\s+are\\b", 0.8),
    ("BASIC_SUBJ_VERB", "(?i)\\b(was)\\s+(they|we|you)\\b", 0.8),
    ("BASIC_ARTICLES", "\\b(is|was)\\s+([A-Z][a-z]+)\\b", 0.6),
    ("BASIC_ARTICLES", "\\bwent\\s+to\\s+([a-z]+)\\b", 0.6),
    ("BASIC_COMMON", "(?i)\\bthere\\s+is\\s+many\\b", 0.7),
    ("BASIC_COMMON", "(?i)\\bincludes\\s+[a-z]", 0.7),
    ("BASIC_COMMON", "(?i)\\bfocus\\s+on\\b", 0.7),
    ("BASIC_COMMON", "(?i)\\bmachine\\s+to\\s+understand\\b", 0.7),
    ("BASIC_001", "(?i)\\b(he|she|it)\\s+are\\b", 0.9),
    ("BASIC_002",
      "(?i)\\b(don't|doesn't|didn't|won't|can't|couldn't|shouldn't|wouldn't)\\s+\\w*n't\\b", 0.8)
  )

  private val areP = Pattern.compile("\\bare\\b", Pattern.CASE_INSENSITIVE)

  // the ASCII \w class of tokenP's \b\w+\b (no UNICODE_CHARACTER_CLASS)
  @inline private def isWordChar(c: Char): Boolean =
    (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z') ||
      (c >= '0' && c <= '9') || c == '_'

  // ---- exact candidate scans (Spec.candidate) ----
  //
  // Each is true whenever its regex can match. A scan that looks at
  // neighbours reads `text`, not the lowercased copy, since lowercasing
  // may change the length (`İ` becomes two chars). Java's `\b` (JDK 17)
  // counts every `Character.isLetterOrDigit` char as a word char, and a
  // non-spacing mark after one, so a scan may rule out a boundary only
  // where the neighbour is an ASCII `[A-Za-z0-9_]`: next to an ASCII
  // letter of the match there is then certainly none.

  @inline private def wordCharAt(text: String, i: Int): Boolean =
    i >= 0 && i < text.length && isWordChar(text.charAt(i))

  /** `word` (lowercase ASCII letters) at `i` the way CASE_INSENSITIVE
    * without UNICODE_CASE matches it: each char in either ASCII case.
    */
  @inline private def asciiCiAt(text: String, i: Int, word: String): Boolean = {
    if (i < 0 || i + word.length > text.length) return false
    var k = 0
    while (k < word.length) {
      if ((text.charAt(i + k) | 0x20) != word.charAt(k)) return false
      k += 1
    }
    true
  }

  /** Whether `lower` holds `word` (lowercase ASCII) right after a `\s`
    * char. It does whenever the text holds `word` ASCII-case-insensitively
    * right after one: lowercasing maps each of those chars to one char,
    * the ASCII letters to lowercase and the `\s` chars to themselves. A
    * cheap pre-filter for [[pairCandidate]], on the fast `indexOf`.
    */
  private def spaceThen(lower: String, word: String): Boolean = {
    var k = lower.indexOf(word, 1)
    while (k > 0) {
      if (QualityRules.isRegexSpace(lower.charAt(k - 1))) return true
      k = lower.indexOf(word, k + 1)
    }
    false
  }

  /** True whenever `(?i)\b(firsts)\s+(seconds)\b` can match: some
    * second word with no ASCII word char after it, then going back at
    * least one `\s` (`QualityRules.isRegexSpace`), and then a first
    * word ending there with no ASCII word char before it. The `\s+`
    * takes every space between the two words, so the first word must
    * end exactly where the backward walk stops.
    */
  private def pairCandidate(text: String, firsts: Array[String],
      seconds: Array[String]): Boolean = {
    var p = 1
    while (p < text.length) {
      val c = text.charAt(p) | 0x20
      var s = 0
      while (s < seconds.length) {
        val w = seconds(s)
        if (c == w.charAt(0) && asciiCiAt(text, p, w) && !wordCharAt(text, p + w.length)) {
          var q = p - 1
          while (q >= 0 && QualityRules.isRegexSpace(text.charAt(q))) q -= 1
          if (q < p - 1) {
            var f = 0
            while (f < firsts.length) {
              val st = q + 1 - firsts(f).length
              if (asciiCiAt(text, st, firsts(f)) && !wordCharAt(text, st - 1)) return true
              f += 1
            }
          }
        }
        s += 1
      }
      p += 1
    }
    false
  }

  /** True whenever `(?i)\bword\b` can match: `word` with no ASCII word
    * char on either side.
    */
  private def wordCandidate(text: String, word: String): Boolean = {
    val c0 = word.charAt(0)
    var p = 0
    while (p < text.length) {
      if ((text.charAt(p) | 0x20) == c0 && asciiCiAt(text, p, word) && !wordCharAt(text, p - 1) &&
          !wordCharAt(text, p + word.length)) return true
      p += 1
    }
    false
  }

  /** True whenever the case-sensitive `\b(is|was)\s+([A-Z][a-z]+)\b`
    * can match: a literal `is` or `was` with no ASCII word char before
    * it, then at least one `\s`, then an ASCII capital and an ASCII
    * lowercase letter.
    */
  private def articleCandidate(text: String): Boolean = {
    var p = 0
    while (p < text.length) {
      val c = text.charAt(p)
      val n =
        if (c == 'i' && text.startsWith("is", p)) 2
        else if (c == 'w' && text.startsWith("was", p)) 3
        else 0
      if (n > 0 && !wordCharAt(text, p - 1)) {
        var q = p + n
        while (q < text.length && QualityRules.isRegexSpace(text.charAt(q))) q += 1
        if (q > p + n && q + 1 < text.length) {
          val c0 = text.charAt(q)
          val c1 = text.charAt(q + 1)
          if (c0 >= 'A' && c0 <= 'Z' && c1 >= 'a' && c1 <= 'z') return true
        }
      }
      p += 1
    }
    false
  }

  /** POS-bigram rule (cfg_checker.py:256-277): noun followed by "are",
    * conf 0.75. Tagger = lexicon lookup + suffix fallback
    * (cfg_generator.py:407-421 — the de-facto semantics, since the
    * reference's LLM tagger path always throws, SURVEY.md §7.4).
    * Sentence boundary approximated as "no [.!?] between the tokens".
    *
    * r6 hot-path shape: the old implementation walked EVERY `\b\w+\b`
    * token of the text (one String allocation per token via
    * `m.group()`) just to find the pairs ending in "are". Now only the
    * `\bare\b` occurrences are matched and the preceding token is
    * recovered with an allocation-free backward scan over the same
    * ASCII word class — identical pairs, identical offsets (the
    * reference-parity harness pins the semantics).
    */
  private def posHits(text: String, out: ArrayBuffer[RuleHit],
      withContext: Boolean = true): Unit = {
    val m = areP.matcher(text)
    while (m.find()) {
      val areStart = m.start()
      // backward over the inter-token gap; a sentence end [.!?] there
      // breaks the bigram (the old `sentEndP.find(between)` check)
      var i = areStart - 1
      var sentEnd = false
      while (i >= 0 && !isWordChar(text.charAt(i))) {
        val c = text.charAt(i)
        if (c == '.' || c == '!' || c == '?') sentEnd = true
        i -= 1
      }
      if (i >= 0 && !sentEnd) {
        val prevEnd = i + 1
        while (i >= 0 && isWordChar(text.charAt(i))) i -= 1
        val prevStart = i + 1
        val prevWord = text.substring(prevStart, prevEnd)
        val lower = prevWord.toLowerCase(Locale.ROOT)
        val tags = Cyk.lexicon.getOrElse(lower, Set(Cyk.guessPosFallback(lower)))
        if (tags.contains("N") && !tags.contains("AUX") && !tags.contains("PRP") &&
            !tags.contains("DET")) {
          out += RuleHit("POS_SUBJ_VERB", "POS Subject-Verb Agreement",
            prevStart, m.end(), s"$prevWord ${m.group()}", 0.75,
            if (withContext) context(text, prevStart, m.end()) else "")
        }
      }
    }
  }

  /** All rule hits on a text, deduped (overlap → keep max confidence,
    * port of cfg_checker.py:317-343) and sorted by start position
    * (cfg_checker.py:312). Null-safe.
    *
    * @param includePos include the POS-bigram rule (G3). The
    *   reference's POS path is NLTK-based; pass false when comparing
    *   against the reference's regex-only subset (reference-parity
    *   harness, scripts/reference_parity.py).
    * @param withContext build the G4 ±100-char highlighted context per
    *   hit. The curate hot path consumes only rule ids and passes
    *   false — no context substrings allocated for the keep/drop gate.
    */
  def ruleHits(
      text: String,
      includePos: Boolean = true,
      withContext: Boolean = true
  ): Seq[RuleHit] =
    if (text == null || text.isEmpty) Nil
    else ruleHitsOfLower(text, text.toLowerCase(Locale.ROOT), includePos, withContext)

  /** [[ruleHits]] of a non-empty `text` given `lower`,
    * `text.toLowerCase(Locale.ROOT)`, which the guards read.
    */
  private[graft] def ruleHitsOfLower(
      text: String,
      lower: String,
      includePos: Boolean,
      withContext: Boolean
  ): Seq[RuleHit] = {
    val hasSentPunct = {
      var j = 0
      var found = false
      while (!found && j < text.length) {
        val c = text.charAt(j)
        found = c == '.' || c == '!' || c == '?'
        j += 1
      }
      found
    }
    val all = new ArrayBuffer[RuleHit](8)
    // spec i's hits are all(from(i) until from(i + 1))
    val from = new Array[Int](specs.length + 1)
    var i = 0
    while (i < specs.length) {
      val s = specs(i)
      from(i) = all.length
      if (s.sameAs >= 0) {
        var h = from(s.sameAs)
        while (h < from(s.sameAs + 1)) {
          all += all(h).copy(rule_id = s.ruleId, rule_name = s.ruleName,
            confidence = s.confidence)
          h += 1
        }
      } else {
        var run = s.guards.isEmpty
        var g = 0
        while (!run && g < s.guards.length) {
          if (lower.contains(s.guards(g))) run = true
          g += 1
        }
        if (run && s.noSentPunctOnly && hasSentPunct) run = false
        if (run && s.candidate != null) run = s.candidate(text, lower)
        if (run) {
          val m = s.pattern.matcher(text)
          while (m.find()) {
            val ctx = if (withContext) context(text, m.start(), m.end()) else ""
            all += RuleHit(s.ruleId, s.ruleName, m.start(), m.end(), m.group(),
              s.confidence, ctx)
          }
        }
      }
      i += 1
    }
    from(specs.length) = all.length
    if (includePos && lower.contains("are") && wordCandidate(text, "are"))
      posHits(text, all, withContext)
    dedup(all)
  }

  /** Port of _deduplicate_errors (cfg_checker.py:317-343): stable sort
    * by start; for each error, scan kept list in ITS CURRENT ORDER for
    * the first overlap; replace if strictly higher confidence (remove +
    * append, preserving the reference's list mutation order).
    */
  private def dedup(errors: ArrayBuffer[RuleHit]): Seq[RuleHit] = {
    if (errors.isEmpty) return Nil
    val sorted = errors.sortBy(_.start) // stable
    val unique = new ArrayBuffer[RuleHit](sorted.length)
    sorted.foreach { e =>
      var isDup = false
      var j = 0
      while (!isDup && j < unique.length) {
        val ex = unique(j)
        if (e.start < ex.end && e.end > ex.start) {
          if (e.confidence > ex.confidence) {
            unique.remove(j)
            unique += e
          }
          isDup = true
        }
        j += 1
      }
      if (!isDup) unique += e
    }
    unique.sortBy(_.start).toSeq
  }

  /** CYK structural check over a turn's sentences (G6/G7,
    * cfg_checker.py:345-376): returns per-sentence validity; capped at
    * `maxWords` per sentence (O(n³) guard, SURVEY.md §7.4 — reference
    * analog `max_sentence_length`, config.yaml:17). Over-cap sentences
    * are treated as valid (not parseable ≠ invalid).
    */
  def cykInvalidCount(text: String, maxWords: Int = 12): Int = {
    if (text == null || text.isEmpty) return 0
    var invalid = 0
    Cyk.splitSentences(text).foreach { s =>
      val n = s.split("\\s+").count(_.nonEmpty)
      if (n <= maxWords && !Cyk.parseSentence(s).valid) invalid += 1
    }
    invalid
  }
}
