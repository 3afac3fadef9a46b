package graft.scrub

import java.util.regex.Pattern

import org.apache.spark.sql.{Column, functions => F}

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
    case "phone" =>
      var i = 0; var d = false
      while (!d && i < t.length) { d = Character.isDigit(t.charAt(i)); i += 1 }
      d
    case "key" =>
      (t.contains("sk") || t.contains("pk") || t.contains("api") ||
        t.contains("key") || t.contains("ghp") || t.contains("xox")) &&
        (t.indexOf('-') >= 0 || t.indexOf('_') >= 0)
    case "slur" =>
      val lower = t.toLowerCase
      defaultDenylist.exists(lower.contains)
    case _ => true
  }

  private val wsP     = Pattern.compile("\\s+")
  private val dots3P  = Pattern.compile("[.]{3,}") // web_scraper.py:96
  private val bangsP  = Pattern.compile("[!]{2,}") // web_scraper.py:97
  private val qmarksP = Pattern.compile("[?]{2,}") // web_scraper.py:98

  final case class ScrubResult(scrubbed: String, hits: Map[String, Int])

  /** True when the \s+→" " + trim pass would change the string —
    * already-normalized text (the common case) skips the regex pass.
    */
  private def needsWsNormalize(t: String): Boolean = {
    if (t.isEmpty) return false
    if (Character.isWhitespace(t.charAt(0)) ||
      Character.isWhitespace(t.charAt(t.length - 1))) return true
    var i = 0
    var prevSpace = false
    while (i < t.length) {
      val c = t.charAt(i)
      if (Character.isWhitespace(c)) {
        if (prevSpace || c != ' ') return true
        prevSpace = true
      } else prevSpace = false
      i += 1
    }
    false
  }

  /** Pure per-row scrub. Null-safe (null → empty result). */
  def scrub(text: String): ScrubResult = {
    if (text == null || text.isEmpty) return ScrubResult("", Map.empty)
    // whitespace normalize first (web_scraper.py:73-74)
    var t = if (needsWsNormalize(text)) wsP.matcher(text).replaceAll(" ").trim
            else text
    val hits = Map.newBuilder[String, Int]
    var i = 0
    while (i < compiled.length) {
      val (name, p) = compiled(i)
      if (guard(name, t)) {
        // single pass: count while replacing (vs count-scan + replaceAll)
        val m = p.matcher(t)
        var n = 0
        var sb: java.lang.StringBuilder = null
        while (m.find()) {
          if (n == 0) sb = new java.lang.StringBuilder(t.length)
          n += 1
          m.appendReplacement(sb, "")
        }
        if (n > 0) {
          m.appendTail(sb)
          hits += name -> n
          t = sb.toString
        }
      }
      i += 1
    }
    // punctuation collapse (web_scraper.py:96-98), guarded: a run of
    // 3+ dots / 2+ bangs / 2+ qmarks implies these substrings
    if (t.contains("...")) t = dots3P.matcher(t).replaceAll("...")
    if (t.contains("!!")) t = bangsP.matcher(t).replaceAll("!")
    if (t.contains("??")) t = qmarksP.matcher(t).replaceAll("?")
    // final cleanup (web_scraper.py:101)
    if (needsWsNormalize(t)) t = wsP.matcher(t).replaceAll(" ").trim
    ScrubResult(t, hits.result())
  }

  /** Spark UDF: text → struct<scrubbed string, hits map<string,int>>. */
  val scrubUdf: org.apache.spark.sql.expressions.UserDefinedFunction =
    F.udf((text: String) => scrub(text))

  /** Column-only scrub of the REFERENCE subset (url+email+punct+ws) —
    * pure `regexp_replace` chain, codegen'd end to end and expressible
    * 1:1 in DuckDB SQL for the driver oracle. No hits map.
    */
  def scrubColReference(c: Column): Column = {
    var t = F.trim(F.regexp_replace(c, "\\s+", " "))
    t = F.regexp_replace(t, URL_RE, "")
    t = F.regexp_replace(t, EMAIL_RE, "")
    t = F.regexp_replace(t, "[.]{3,}", "...")
    t = F.regexp_replace(t, "[!]{2,}", "!")
    t = F.regexp_replace(t, "[?]{2,}", "?")
    F.trim(F.regexp_replace(t, "\\s+", " "))
  }

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

  // compiled once like every other pattern in this object (r6: these
  // two were recompiled on every call — ~2×100µs per row on the
  // html_extract hot path, the exact per-call-compile cost this
  // object's scaladoc calls out in the reference)
  private val urlP = Pattern.compile(URL_RE)
  private val emailP = Pattern.compile(EMAIL_RE)

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

  /** FULL scrub bank as ANSI SQL (DuckDB/RE2-safe: no pattern in
    * `patternSpecs` uses lookaround or backreferences) — the same
    * fixed-order ws-normalize → url → email → phone → key → slur →
    * punctuation-collapse → ws-normalize sequence as [[scrub]], so the
    * pipeline's actual `scrubbed_text` is driver-oracle-checkable
    * (`curate_cheap`). The conservative [[guard]] prefilters only skip
    * patterns that cannot match, so they don't change the result.
    */
  def scrubSqlFull(col: String): String = {
    var t = s"trim(regexp_replace($col, '\\s+', ' ', 'g'))"
    patternSpecs.foreach { case (_, p) =>
      t = s"regexp_replace($t, '$p', '', 'g')"
    }
    t = s"regexp_replace($t, '[.]{3,}', '...', 'g')"
    t = s"regexp_replace($t, '[!]{2,}', '!', 'g')"
    t = s"regexp_replace($t, '[?]{2,}', '?', 'g')"
    s"trim(regexp_replace($t, '\\s+', ' ', 'g'))"
  }

  /** The same reference-subset scrub as ANSI SQL over a column name, for
    * DuckDB (regexp_replace needs the 'g' flag there; Spark replaces all
    * matches by default).
    */
  def scrubSqlReference(col: String): String =
    s"trim(regexp_replace(regexp_replace(regexp_replace(regexp_replace(" +
      s"regexp_replace(regexp_replace(trim(regexp_replace($col, '\\s+', ' ', 'g'))," +
      s" 'https?://\\S+', '', 'g'), '\\S+@\\S+\\.\\S+', '', 'g')," +
      s" '[.]{3,}', '...', 'g'), '[!]{2,}', '!', 'g'), '[?]{2,}', '?', 'g')," +
      s" '\\s+', ' ', 'g'))"
}
