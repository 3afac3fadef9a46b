package graft.scrub

import java.util.Locale
import java.util.regex.{MatchResult, Pattern}

import org.apache.spark.sql.{Column, functions => F}

import graft.rules.QualityRules.{isRegexSpace, regexSpaceClass}

/** PII / toxicity scrubber (SURVEY.md §2.7 R1).
  *
  * Rebuild of the reference's `_clean_text` scrub steps
  * (web_scraper.py:67-103): whitespace normalize → URL removal
  * (web_scraper.py:90) → email removal (web_scraper.py:93) → punctuation
  * collapse (web_scraper.py:96-98) → final whitespace normalize; extended
  * per the north_star with phone numbers, API keys and a denylisted-token
  * bank ("slurs" — shipped bank uses synthetic placeholder expletives,
  * injectable for production denylists).
  *
  * Determinism spec (the "byte-identical scrubbed text" contract,
  * SURVEY.md §7.4): patterns are applied in the FIXED order of
  * `patterns` below, each replacing ALL matches with "" left-to-right
  * (Java `Matcher.replaceAll` = Python `re.sub` semantics for these
  * patterns), hit counts taken on the text as it stands when that
  * pattern runs. The whole scrub is idempotent (property-tested).
  *
  * Whitespace is Java regex `\s`, `[ \t\n\x0B\f\r]`, defined once in
  * `QualityRules` (`isRegexSpace`, `regexSpaceClass`): each normalize
  * collapses every run to one space and drops a leading or trailing one.
  * Every other char, control chars and Unicode spaces included, is text.
  *
  * All patterns are compiled once per JVM (object init) and shipped to
  * executors via closure — the reference recompiles per call
  * (cfg_checker.py:222); we do not.
  */
object Scrubber extends Serializable {

  /** Default denylist: intentionally-fake sci-fi expletives standing in
    * for a real toxicity denylist (do NOT ship real slurs in source).
    */
  val defaultDenylist: Seq[String] =
    Seq("frak", "frakking", "smeghead", "gorram", "shazbot", "felgercarb")

  val URL_RE   = "https?://\\S+"                                // web_scraper.py:90
  val EMAIL_RE = "\\S+@\\S+\\.\\S+"                             // web_scraper.py:93
  val PHONE_RE = "\\+?\\d{1,3}[-. ]?\\(?\\d{3}\\)?[-. ]?\\d{3}[-. ]?\\d{4}"
  val KEY_RE   = "\\b(?:sk|pk|api|key|ghp|xoxb|xoxp)[-_][A-Za-z0-9_-]{16,}\\b"
  def slurRe(denylist: Seq[String]): String =
    denylist.mkString("(?i)\\b(?:", "|", ")\\b")

  /** Ordered scrub bank: (name, java pattern). Order IS the spec. */
  val patternSpecs: Seq[(String, String)] = Seq(
    "url"   -> URL_RE,
    "email" -> EMAIL_RE,
    "phone" -> PHONE_RE,
    "key"   -> KEY_RE,
    "slur"  -> slurRe(defaultDenylist)
  )

  private val compiled: Array[(String, Pattern)] =
    patternSpecs.map { case (n, p) => (n, Pattern.compile(p)) }.toArray

  /** Conservative pre-filters: pattern i can only match when its guard
    * holds (cheap substring/char checks beat a regex scan; on clean
    * text every scrub pattern is skipped).
    */
  private def guard(name: String, t: String): Boolean = name match {
    case "url"   => t.contains("http")
    case "email" => t.indexOf('@') >= 0
    case "phone" => t.exists(c => Character.isDigit(c))
    case "key" =>
      (t.contains("sk") || t.contains("pk") || t.contains("api") ||
        t.contains("key") || t.contains("ghp") || t.contains("xox")) &&
        (t.indexOf('-') >= 0 || t.indexOf('_') >= 0)
    case "slur"  => defaultDenylist.exists(t.toLowerCase(Locale.ROOT).contains)
    case _ => true
  }

  private val dots3P  = Pattern.compile("[.]{3,}") // web_scraper.py:96
  private val bangsP  = Pattern.compile("[!]{2,}") // web_scraper.py:97
  private val qmarksP = Pattern.compile("[?]{2,}") // web_scraper.py:98

  final case class ScrubResult(scrubbed: String, hits: Map[String, Int])

  /** `t` with each whitespace run collapsed to one space and a leading
    * or trailing one dropped, by hand; `t` itself when that changes
    * nothing (the common case: one scan, no copy).
    */
  private def normalizeWs(t: String): String = {
    val n = t.length
    var i = 0 // up to the first whitespace char the normalize changes
    while (i < n && !(isRegexSpace(t.charAt(i)) &&
        (i == 0 || i == n - 1 || t.charAt(i) != ' ' || isRegexSpace(t.charAt(i + 1))))) i += 1
    if (i == n) return t
    val sb = new java.lang.StringBuilder(n)
    var gap = false
    i = 0
    while (i < n) {
      val c = t.charAt(i)
      if (isRegexSpace(c)) gap = sb.length > 0
      else { if (gap) sb.append(' '); gap = false; sb.append(c) }
      i += 1
    }
    sb.toString
  }

  /** Pure per-row scrub. Null-safe (null → empty result). */
  def scrub(text: String): ScrubResult = {
    if (text == null || text.isEmpty) return ScrubResult("", Map.empty)
    // whitespace normalize first (web_scraper.py:73-74)
    var t = normalizeWs(text)
    val hits = Map.newBuilder[String, Int]
    compiled.foreach { case (name, p) =>
      if (guard(name, t)) {
        var n = 0 // single pass: count while replacing
        val out = p.matcher(t).replaceAll((_: MatchResult) => { n += 1; "" })
        if (n > 0) { hits += name -> n; t = out }
      }
    }
    // punctuation collapse (web_scraper.py:96-98), guarded: a run of
    // 3+ dots / 2+ bangs / 2+ qmarks implies these substrings
    if (t.contains("...")) t = dots3P.matcher(t).replaceAll("...")
    if (t.contains("!!")) t = bangsP.matcher(t).replaceAll("!")
    if (t.contains("??")) t = qmarksP.matcher(t).replaceAll("?")
    // final cleanup (web_scraper.py:101)
    ScrubResult(normalizeWs(t), hits.result())
  }

  private val wsRun = s"$regexSpaceClass+"

  /** The scrub over `patterns` as ordered regex steps folded from `t`:
    * normalize, each pattern → "", the punctuation collapse, normalize.
    * `replace(t, regex, replacement)` runs a step, and `trim` ends each
    * normalize: after a collapse only a space can lead or trail, so the
    * space-only trim of Spark and DuckDB is exact.
    */
  private def steps[T](t: T, patterns: Seq[String])(replace: (T, String, String) => T,
      trim: T => T): T = {
    def normalize(x: T) = trim(replace(x, wsRun, " "))
    val cut = patterns.foldLeft(normalize(t))(replace(_, _, ""))
    normalize(Seq(dots3P -> "...", bangsP -> "!", qmarksP -> "?")
      .foldLeft(cut) { case (x, (p, r)) => replace(x, p.pattern, r) })
  }

  private val referencePatterns = Seq(URL_RE, EMAIL_RE)

  /** Column-only scrub of the REFERENCE subset (url+email+punct+ws) —
    * pure `regexp_replace` chain, codegen'd end to end and expressible
    * 1:1 in DuckDB SQL for the driver oracle. No hits map.
    */
  def scrubColReference(c: Column): Column =
    steps(c, referencePatterns)(F.regexp_replace(_, _, _), F.trim)

  /** [[steps]] as DuckDB SQL over a column name (RE2-safe: no scrub
    * pattern uses lookaround or backreferences; the 'g' flag replaces
    * all matches, as Spark's regexp_replace does by default).
    */
  private def scrubSql(col: String, patterns: Seq[String]): String =
    steps(col, patterns)((t, p, r) => s"regexp_replace($t, '$p', '$r', 'g')", t => s"trim($t)")

  /** The FULL scrub bank as SQL, so the pipeline's actual
    * `scrubbed_text` is oracle-checked (`curate_cheap`): [[scrub]]'s
    * [[guard]]s only skip patterns that cannot match.
    */
  def scrubSqlFull(col: String): String = scrubSql(col, patternSpecs.map(_._2))

  /** [[scrubColReference]] as SQL. */
  def scrubSqlReference(col: String): String = scrubSql(col, referencePatterns)

  /** EXACT port of the reference's full `_clean_text`
    * (web_scraper.py:67-103) INCLUDING noise-pattern removal (the
    * pipeline's scrub keeps boilerplate as a detection-only rule per
    * SURVEY §2.2 P2; this faithful variant mutates, for S3-style
    * cleaning and the reference-parity harness). Order: ws-normalize →
    * 6 noise patterns (IGNORECASE, `.*?(?=\n|$)` tails) → URL → email
    * → punctuation collapse → ws-normalize.
    */
  private val noisePatterns: Array[Pattern] = Array(
    "Cookie\\s+Policy.*?(?=\\n|$)",
    "Privacy\\s+Policy.*?(?=\\n|$)",
    "Terms\\s+of\\s+Service.*?(?=\\n|$)",
    "Subscribe\\s+to.*?newsletter.*?(?=\\n|$)",
    "Follow\\s+us\\s+on.*?(?=\\n|$)",
    "Share\\s+this.*?(?=\\n|$)"
  ).map(p => Pattern.compile(p, Pattern.CASE_INSENSITIVE))

  // compiled once, like every other pattern in this object
  private val urlP = Pattern.compile(URL_RE)
  private val emailP = Pattern.compile(EMAIL_RE)

  // the reference's own normalize, pinned by scripts/reference_parity.py
  private val wsP = Pattern.compile("\\s+")

  def cleanTextReference(text: String): String = {
    if (text == null || text.isEmpty) return ""
    var t = wsP.matcher(text).replaceAll(" ").trim
    noisePatterns.foreach(p => t = p.matcher(t).replaceAll(""))
    t = urlP.matcher(t).replaceAll("")
    t = emailP.matcher(t).replaceAll("")
    t = dots3P.matcher(t).replaceAll("...")
    t = bangsP.matcher(t).replaceAll("!")
    t = qmarksP.matcher(t).replaceAll("?")
    wsP.matcher(t).replaceAll(" ").trim
  }
}
