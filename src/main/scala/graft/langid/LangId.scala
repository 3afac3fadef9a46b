package graft.langid

/** fastText-style character n-gram language identifier (SURVEY.md §2.4;
  * hashed-n-gram linear model after Joulin et al., "Bag of Tricks for
  * Efficient Text Classification", EACL 2017).
  *
  * The reference implicitly assumes English (NLTK English tokenizers,
  * cfg_checker.py:17-25; English-only lexicon cfg_generator.py:138-193);
  * the north_star promotes this to an explicit langid operator: hashed
  * char 1..3-gram features → per-language log-probability weights →
  * argmax + softmax confidence.
  *
  * The model is a dense `Array[Float]` of shape (nBuckets × nLangs)
  * (hashed feature rows, like fastText's hashed n-gram input matrix) —
  * flat primitive array so the broadcast is one compact block and the
  * per-row scoring loop is allocation-free. Training is multinomial
  * Naive Bayes with add-k smoothing over the same hashed features:
  * deterministic, no external data (trained on the seeded synth corpus,
  * SURVEY.md §7.4).
  */
final class LangIdModel(
    val langs: Array[String],
    val nBuckets: Int,
    val weights: Array[Float] // row-major: bucket * nLangs + langIdx
) extends Serializable {

  /** (lang, confidence). "und" with conf 0 when the text yields no
    * features (e.g. digits/punctuation only).
    */
  def predict(text: String): (String, Double) = {
    val nL = langs.length
    val buckets = new Array[Int](LangId.maxGrams(text))
    val nGrams = LangId.gramBuckets(text, nBuckets, buckets)
    if (nGrams == 0) return ("und", 0.0)
    // each language's score sums its weights in gram order, so the sum
    // is the same double however the languages interleave. One pass over
    // the grams sums up to four languages, each in its own register
    val scores = new Array[Double](nL)
    var l = 0
    while (l < nL) {
      val k = math.min(4, nL - l)
      var s0, s1, s2, s3 = 0.0
      var g = 0
      while (g < nGrams) {
        val w = buckets(g) * nL + l
        s0 += weights(w)
        if (k > 1) s1 += weights(w + 1)
        if (k > 2) s2 += weights(w + 2)
        if (k > 3) s3 += weights(w + 3)
        g += 1
      }
      scores(l) = s0
      if (k > 1) scores(l + 1) = s1
      if (k > 2) scores(l + 2) = s2
      if (k > 3) scores(l + 3) = s3
      l += 4
    }
    // average log-prob → softmax over languages
    var best = 0
    l = 1
    while (l < nL) { if (scores(l) > scores(best)) best = l; l += 1 }
    var denom = 0.0
    l = 0
    while (l < nL) {
      denom += math.exp((scores(l) - scores(best)) / nGrams)
      l += 1
    }
    (langs(best), 1.0 / denom)
  }
}

object LangId extends Serializable {

  /** Cap on chars scored per row — langid saturates long before this;
    * keeps the operator O(1) per row at 10^12-turn scale.
    */
  val maxChars = 512

  /** Hashed buckets of char 1..3-grams over the lowercased,
    * space-normalized, boundary-marked text, in a fixed order: by end
    * position, then 1-, 2-, 3-gram. FNV-1a over the gram chars;
    * deterministic across JVMs (no String.hashCode dependence needed,
    * but FNV keeps it explicit). The order keeps the float sums of
    * [[LangIdModel.predict]] reproducible; [[train]] counts the same
    * buckets.
    *
    * One pass over the text: each char is normalized and tested with
    * `Character.isLetter` once, the 2- and 3-gram hashes ending at a
    * char extend the 1- and 2-gram hashes that ended at the char before
    * it, and a power-of-two `nBuckets` reduces a hash with a mask, which
    * equals the `%` of the non-negative hash.
    *
    * @param out receives the buckets; at least [[maxGrams]]`(text)` long
    * @return the number of buckets written
    */
  def gramBuckets(text: String, nBuckets: Int, out: Array[Int]): Int = {
    if (text == null || text.isEmpty) return 0
    val len = math.min(text.length, maxChars)
    var n = 0
    val mask = if (Integer.bitCount(nBuckets) == 1) nBuckets - 1 else -1
    var h1Prev, h2Prev = 0 // hashes of the 1- and 2-gram ending one char back
    var letter1Prev, letter2Prev = false // whether the chars one and two back are letters
    var j = 0 // position in the normalized stream
    var prevSpace = true
    var i = -1 // text index; -1 is the leading boundary space, len the trailing one
    while (i <= len) {
      var c = ' '
      val emit =
        if (i < 0) true
        else if (i == len) !prevSpace
        else {
          val c0 = text.charAt(i)
          if (c0 < 0x80) { // ASCII: the Character methods' answers, inline
            if (!(c0 == ' ' || (c0 >= '\t' && c0 <= '\r') || (c0 >= 0x1c && c0 <= 0x1f)))
              c = if (c0 >= 'A' && c0 <= 'Z') (c0 | 0x20).toChar else c0
          } else if (!Character.isWhitespace(c0)) c = Character.toLowerCase(c0)
          val e = c != ' ' || !prevSpace
          prevSpace = c == ' '
          e
        }
      if (emit) {
        // grams with no letter carry no language signal (digits,
        // punctuation, the boundary spaces) — skipped in BOTH train and
        // predict, so letter-free text yields zero features → "und"
        val letter = if (c < 0x80) c >= 'a' && c <= 'z' else Character.isLetter(c) // c is lowercased
        val h1 = (0x811c9dc5 ^ c) * 0x01000193 // FNV offset, FNV prime
        val h2 = (h1Prev ^ c) * 0x01000193
        val h3 = (h2Prev ^ c) * 0x01000193
        if (letter) { out(n) = bucket(h1, nBuckets, mask); n += 1 }
        if (j >= 1 && (letter || letter1Prev)) { out(n) = bucket(h2, nBuckets, mask); n += 1 }
        if (j >= 2 && (letter || letter1Prev || letter2Prev)) {
          out(n) = bucket(h3, nBuckets, mask); n += 1
        }
        h2Prev = h2; h1Prev = h1
        letter2Prev = letter1Prev; letter1Prev = letter
        j += 1
      }
      i += 1
    }
    n
  }

  /** An upper bound on the buckets [[gramBuckets]] writes: 3 grams per
    * char of the normalized stream, the scored chars plus the two
    * boundary spaces.
    */
  def maxGrams(text: String): Int =
    if (text == null || text.isEmpty) 0 else 3 * (math.min(text.length, maxChars) + 2)

  @inline private def bucket(h: Int, nBuckets: Int, mask: Int): Int =
    if (mask >= 0) h & 0x7fffffff & mask else (h & 0x7fffffff) % nBuckets

  /** Train from (text, lang) samples. Add-k smoothing (k=0.5). */
  def train(samples: Seq[(String, String)], nBuckets: Int = 1 << 15): LangIdModel = {
    val langs = samples.map(_._2).distinct.sorted.toArray
    val nL = langs.length
    val idx = langs.zipWithIndex.toMap
    val counts = new Array[Double](nBuckets * nL)
    val totals = new Array[Double](nL)
    samples.foreach { case (text, lang) =>
      val li = idx(lang)
      val buckets = new Array[Int](maxGrams(text))
      val n = gramBuckets(text, nBuckets, buckets)
      var g = 0
      while (g < n) { counts(buckets(g) * nL + li) += 1.0; g += 1 }
      totals(li) += n
    }
    val k = 0.5
    val weights = new Array[Float](nBuckets * nL)
    var b = 0
    while (b < nBuckets) {
      var l = 0
      while (l < nL) {
        val c = counts(b * nL + l)
        weights(b * nL + l) =
          math.log((c + k) / (totals(l) + k * nBuckets)).toFloat
        l += 1
      }
      b += 1
    }
    new LangIdModel(langs, nBuckets, weights)
  }
}
