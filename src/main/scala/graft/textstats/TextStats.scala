package graft.textstats

import org.apache.spark.sql.{Column, functions => F}

/** Text-analysis operator family (quality scoring, token counting,
  * fingerprinting) — all pure column expressions over built-ins where
  * possible (codegen'd, DuckDB-expressible), Scala only for the
  * rolling-hash fingerprint.
  *
  * Reference seeds: min-length gate (web_scraper.py:191-194),
  * punctuation-noise handling (web_scraper.py:95-98), content-hash
  * fingerprint (web_scraper.py:154).
  */
object TextStats extends Serializable {

  /** BPE-ish token count: word pieces + standalone punctuation —
    * `\w+` runs and single non-space symbols each count as one token
    * (a cheap proxy for byte-pair tokenizers' "words + punctuation"
    * granularity).
    */
  val bpeTokenRegex: String = "\\w+|[^\\w\\s]"
  def bpeTokenCount(c: Column): Column =
    F.size(F.regexp_extract_all(c, F.lit(bpeTokenRegex), F.lit(0)))
  def bpeTokenCountScala(text: String): Int = {
    if (text == null) return 0
    val m = java.util.regex.Pattern.compile(bpeTokenRegex).matcher(text)
    var n = 0
    while (m.find()) n += 1
    n
  }

  val enStopwords: Seq[String] = Seq(
    "the", "a", "an", "and", "or", "of", "to", "in", "on", "is", "are",
    "was", "were", "it", "that", "this", "with", "for", "as", "we")

  /** Composite quality score in [0,1]: length band + low symbol ratio +
    * healthy stopword presence + word-length sanity. Weights are fixed
    * constants (deterministic, documented).
    */
  def qualityScore(c: Column): Column = {
    val words = F.split(F.lower(F.trim(c)), "\\s+")
    val wc = F.size(words).cast("double")
    val lenScore = F.least(wc / 50.0, F.lit(1.0)) // saturates at 50 words
    val symRatio =
      F.length(F.regexp_replace(c, "[\\p{L}\\p{N}\\s]", "")).cast("double") /
        F.greatest(F.length(c), F.lit(1)).cast("double")
    val symScore = F.greatest(F.lit(0.0), F.lit(1.0) - symRatio * 3.0)
    val stopRatio =
      F.size(F.filter(words, w => w.isInCollection(enStopwords))).cast("double") /
        F.greatest(wc, F.lit(1.0))
    val stopScore = F.least(stopRatio * 4.0, F.lit(1.0))
    val avgWordLen = F.length(F.regexp_replace(c, "\\s+", "")).cast("double") /
      F.greatest(wc, F.lit(1.0))
    val wlScore = F.when(avgWordLen.between(3.0, 10.0), 1.0).otherwise(0.3)
    F.round(lenScore * 0.3 + symScore * 0.3 + stopScore * 0.2 + wlScore * 0.2, 6)
  }

  /** 64-bit polynomial rolling-hash fingerprint of the
    * whitespace-normalized lowercased text — stable document identity
    * under whitespace jitter (reference analog: md5 content hash,
    * web_scraper.py:154).
    */
  def fingerprint(text: String): Long = {
    if (text == null) return 0L
    var h = 1125899906842597L
    var i = 0
    var prevSpace = true
    while (i < text.length) {
      val c0 = text.charAt(i)
      val ws = Character.isWhitespace(c0)
      if (!ws) {
        h = h * 31 + Character.toLowerCase(c0)
        prevSpace = false
      } else if (!prevSpace) {
        h = h * 31 + ' '
        prevSpace = true
      }
      i += 1
    }
    h
  }

  val fingerprintUdf: org.apache.spark.sql.expressions.UserDefinedFunction =
    F.udf((t: String) => fingerprint(t))
}
