package graft.rules

import java.util.Locale
import java.util.regex.Pattern

import org.apache.spark.sql.{Column, functions => F}

/** Heuristic quality rules — the rebuild's keep/drop gate (SURVEY.md
  * §2.6). Each rule is a pure predicate; the DECISION evaluates rules
  * in the fixed order of [[ruleOrder]] and `drop_reason` is the FIRST
  * failing rule (deterministic labels, SURVEY.md §7.4 — reference
  * analog: position-sorted error list, cfg_checker.py:310-313).
  *
  * Reference seeds: length gate (web_scraper.py:191-194),
  * boilerplate patterns (web_scraper.py:77-84), repetition = the
  * content-dedup idea applied intra-text (web_scraper.py:186-189),
  * symbol ratio = punctuation-noise cleanup (web_scraper.py:95-98),
  * grammar gate = "chunk has ≥1 detected error" (smart_corrector.py:114-128).
  *
  * Every scalar rule has BOTH a `Column` form (codegen'd built-ins,
  * DuckDB-expressible for the driver oracle) and a plain-Scala form.
  * The plain forms make up the one cheap-rule chain, [[cheapVerdict]]:
  * the fused curate kernel (`CurateCore.process`) runs it on every row,
  * [[firstScalarFailure]] returns its reason, and the codegen'd
  * `graft.functions.TextMetrics` expressions call its per-row loops.
  */
object QualityRules extends Serializable {

  /** Thresholds — one place, serializable, shipped by closure. */
  final case class Config(
      minWords: Int = 5,            // turn-level analog of the 50-word doc gate (web_scraper.py:192)
      maxWords: Int = 2000,
      maxChars: Int = 8000,         // analog of max_sentence_length (config.yaml:17)
      repMinWords: Int = 20,        // repetition rule only fires on ≥20-word turns
      minDistinctRatio: Double = 0.3,
      maxSymbolRatio: Double = 0.3,
      maxRuleHits: Int = 3,         // drop when grammar rule hits ≥ 3
      allowedLangs: Set[String] = Set("en", "fr", "es", "de", "zh"),
      minLangConf: Double = 0.25, // uniform-over-5 ties (0.2) fall below

      maxPpl: Double = 1e4,
      pplEnabled: Boolean = true,
      cykEnabled: Boolean = false,  // optional for scale (SURVEY.md §7.4)
      cykMaxWords: Int = 12,
      cykMaxInvalid: Int = 2,
      grammarEnabled: Boolean = true,
      langIdEnabled: Boolean = true
  )
  val defaultConfig: Config = Config()

  /** Cheap-rules-only gate: every remaining rule (empty / length bounds /
    * repetition / symbol ratio / boilerplate + the scrub) is a pure
    * deterministic string function, so the COMPOSED keep/drop decision —
    * not just its components — is DuckDB-expressible and sits under the
    * driver oracle (`curate_cheap`). minWords = 50 is the reference's
    * document gate (web_scraper.py:191-194) rather than the turn-level
    * default, making the gate discriminative on the documents corpus.
    */
  val cheapConfig: Config = Config(
    minWords = 50,
    grammarEnabled = false, cykEnabled = false,
    langIdEnabled = false, pplEnabled = false)

  /** PRODUCT gate: the cheap rules PLUS the real models — langid and
    * perplexity enabled (the reference's full "is this worth keeping"
    * decision, smart_corrector.py:114-128, with the model stages the
    * north_star adds). Grammar/CYK stay off here: their contribution is
    * separately driver-oracled (`grammar_hits_summary`) and
    * parity-pinned, while their overlap-dedup + POS-tagger semantics
    * are the one genuinely non-relational residue. With this config the
    * ENTIRE decision — cheap chain → langid argmax+softmax → stupid-
    * backoff perplexity — is DuckDB-expressible (the models are dumped
    * as relations and re-scored in SQL, [[graft.OracleSql]]), so
    * `curate_transcripts` sits under the hard driver oracle.
    */
  val productConfig: Config = cheapConfig.copy(
    langIdEnabled = true, pplEnabled = true)

  /** A char of Java regex `\s`, `[ \t\n\x0B\f\r]`: the scrub's whitespace rule. */
  @inline private[graft] def isRegexSpace(c: Char): Boolean =
    c == ' ' || (c >= '\t' && c <= '\r')

  /** [[isRegexSpace]] as a regex class for Spark and DuckDB (RE2's `\s` lacks `\x0B`). */
  val regexSpaceClass = "[ \\t\\n\\x0B\\f\\r]"

  /** Boilerplate noise patterns (web_scraper.py:78-83). Detection-only
    * in the rebuild — flag, don't mutate (SURVEY.md §2.2 P2). The
    * reference's `.*?(?=\n|$)` tails matter only for removal, not
    * detection, so the combined detector keys on the pattern heads.
    */
  val boilerplateRegex: String =
    "(?i)(Cookie\\s+Policy|Privacy\\s+Policy|Terms\\s+of\\s+Service|" +
      "Subscribe\\s+to.*newsletter|Follow\\s+us\\s+on|Share\\s+this)"
  private val boilerplateP = Pattern.compile(boilerplateRegex)
  /** The DuckDB (RE2) form: each `\s` spelled as [[regexSpaceClass]], as RE2's `\s` lacks `\x0B`. */
  val boilerplateRegexRe2: String = boilerplateRegex.replace("\\s", regexSpaceClass)

  // ---- plain-Scala rule forms (UDF core + golden-oracle parity) ----

  def wordCount(text: String): Int = {
    if (text == null) return 0
    var n = 0; var inWord = false; var i = 0
    while (i < text.length) {
      val ws = Character.isWhitespace(text.charAt(i))
      if (!ws && !inWord) { n += 1; inWord = true }
      else if (ws) inWord = false
      i += 1
    }
    n
  }

  /** Distinct lowercased whitespace-token ratio. Empty tokens (from
    * leading whitespace) are dropped in BOTH the Scala and Column
    * forms so the fused kernel and the column pipeline agree on
    * whitespace-degenerate input (ADVICE r1).
    */
  def distinctRatio(text: String): Double = distinctRatioOfLower(text.toLowerCase(Locale.ROOT))

  /** Fraction of non-letter/digit/whitespace chars. */
  def symbolRatio(text: String): Double = {
    if (text == null || text.isEmpty) return 0.0
    var sym = 0; var i = 0
    while (i < text.length) {
      val c = text.charAt(i)
      if (!Character.isLetterOrDigit(c) && !Character.isWhitespace(c)) sym += 1
      i += 1
    }
    sym.toDouble / text.length
  }

  def isBoilerplate(text: String): Boolean =
    text != null && isBoilerplate(text, text.toLowerCase(Locale.ROOT))

  /** [[isBoilerplate]] given `lower`, `text.toLowerCase(Locale.ROOT)`.
    * Every alternative of [[boilerplateRegex]] starts with an ASCII word
    * that `(?i)` matches only in ASCII letters of either case, which
    * lowercase to that word under `Locale.ROOT` (a Turkish default
    * locale would lowercase `I` to `ı`). So `lower` holds one of the
    * words whenever the regex can match, and the regex runs only then.
    */
  private[graft] def isBoilerplate(text: String, lower: String): Boolean =
    boilerplateHeads.exists(lower.contains) && boilerplateP.matcher(text).find()

  private val boilerplateHeads =
    Array("cookie", "privacy", "terms", "subscribe", "follow", "share")

  /** [[distinctRatio]] given `lower`, the text lowercased: its tokens
    * are the non-empty runs between [[isRegexSpace]] chars (not
    * `Character.isWhitespace`'s), split by hand.
    */
  private[graft] def distinctRatioOfLower(lower: String): Double = {
    // sized for the usual ≥ 3 chars per token, so it rarely rehashes
    val set = new java.util.HashSet[String](math.max(16, lower.length / 3))
    var n = 0
    var start = -1
    var i = 0
    while (i <= lower.length) {
      if (i == lower.length || isRegexSpace(lower.charAt(i))) {
        if (start >= 0) { set.add(lower.substring(start, i)); n += 1; start = -1 }
      } else if (start < 0) start = i
      i += 1
    }
    if (n == 0) 1.0 else set.size.toDouble / n
  }

  /** Deterministic rule evaluation order — drop_reason vocabulary. */
  val ruleOrder: Seq[String] = Seq(
    "empty", "too_short", "too_long", "repetition", "symbol_ratio",
    "boilerplate", "grammar", "cyk", "lang", "ppl")

  /** The cheap chain's verdict on one row: `reason`, the first failing
    * rule of `empty` … `boilerplate` in [[ruleOrder]] (null if all
    * pass), and `lower`, the row lowercased under `Locale.ROOT` once it
    * has passed the length gates (null before), for the grammar guards
    * after the chain to reuse.
    */
  private[graft] final case class CheapVerdict(reason: String, lower: String)

  private val emptyVerdict = CheapVerdict("empty", null)
  private val tooShortVerdict = CheapVerdict("too_short", null)
  private val tooLongVerdict = CheapVerdict("too_long", null)

  /** THE cheap-rule chain, cheapest test first:
    *  - `empty` is "no word": every char is `Character.isWhitespace`
    *    (or there is none), decided by [[wordCount]];
    *  - the length gate counts CODE POINTS, as the column pipeline's
    *    `F.length` does (UTF-16 units would flip keep/drop for
    *    supplementary-char rows near `maxChars`, ADVICE r1); there are
    *    no more code points than units, so only a row longer than
    *    `maxChars` units is counted;
    *  - a row past the length gates is lowercased once, and that copy
    *    feeds the repetition rule and the boilerplate guard;
    *  - [[symbolRatio]] runs only on rows that reach the symbol rule.
    */
  private[graft] def cheapVerdict(text: String, cfg: Config): CheapVerdict = {
    val wc = wordCount(text)
    if (wc == 0) return emptyVerdict
    if (wc < cfg.minWords) return tooShortVerdict
    val len = text.length
    if (wc > cfg.maxWords || (len > cfg.maxChars && text.codePointCount(0, len) > cfg.maxChars))
      return tooLongVerdict
    val lower = text.toLowerCase(Locale.ROOT)
    val reason =
      if (wc >= cfg.repMinWords && distinctRatioOfLower(lower) < cfg.minDistinctRatio)
        "repetition"
      else if (symbolRatio(text) > cfg.maxSymbolRatio) "symbol_ratio"
      else if (isBoilerplate(text, lower)) "boilerplate"
      else null
    CheapVerdict(reason, lower)
  }

  /** First failing cheap rule on raw text (grammar/cyk/lang/ppl are
    * decided by the pipeline with their computed inputs); null if all
    * pass. The reason of [[cheapVerdict]].
    */
  def firstScalarFailure(text: String, cfg: Config = defaultConfig): String =
    cheapVerdict(text, cfg).reason

  // ---- Column forms (built-ins only; oracle-checkable in DuckDB) ----

  /** Custom codegen expression (single pass, no array allocation) —
    * value-identical to the built-in chain it replaced, which stays
    * available as [[distinctRatioColBuiltins]] and is asserted equal
    * in FunctionsSpec (and via the q9 DuckDB oracle).
    */
  def distinctRatioCol(c: Column): Column =
    graft.functions.TextMetrics.distinct_ratio(c)

  /** The built-ins formulation (split + array_remove + array_distinct). */
  def distinctRatioColBuiltins(c: Column): Column = {
    val words = F.array_remove(F.split(F.lower(c), "\\s+"), "")
    F.size(F.array_distinct(words)).cast("double") / F.size(words)
  }

  def symbolRatioCol(c: Column): Column =
    F.length(F.regexp_replace(c, "[\\p{L}\\p{N}\\s]", "")).cast("double") /
      F.length(c)

  def boilerplateCol(c: Column): Column = c.rlike(boilerplateRegex)
}
