package graft

import graft.grammar.Cyk
import graft.lm.NGramLM
import graft.pipeline.Curate
import graft.rules.QualityRules

/** DuckDB SQL generators for the REAL-model oracle queries: the
  * trained langid weight matrix and the LM n-gram count table are
  * exported as inline relations (VALUES), and the exact scoring
  * arithmetic — FNV-1a char-gram hashing, splitmix64 token/window
  * hashing mod 2^64 (HUGEINT split multiply), stupid-backoff log-prob
  * chain, softmax confidence — is replicated in SQL. This moves the
  * hashed-model operators (§2.4 langid, §2.5 perplexity, and the
  * composed product keep/drop gate) from rows-only driver checks to
  * full value compares: DuckDB scores the SAME model the engine
  * broadcasts.
  *
  * Float discipline: weights/counts are dumped via Float.toString
  * (shortest round-trip decimal) and CAST to REAL, so every SQL addend
  * equals the engine's Float bit-for-bit; divisions that the engine
  * performs in Float stay REAL/REAL in SQL; Java-computed transcendental
  * constants (log 0.4, exp 30) are embedded as 17-digit literals rather
  * than recomputed by DuckDB's libm. Float aggregates are ORDER-FORCED
  * left-folds (`list_reduce(list(x ORDER BY pos), ...)`), never bare
  * `sum()`: DuckDB's unordered sum can drift a ulp across builds /
  * thread counts, which `exp` amplifies and a downstream `round` flips
  * at a half-ulp boundary — exactly the CORRECTNESS_r04 red row.
  */
object OracleSql {

  private val P64 = "CAST('18446744073709551616' AS HUGEINT)"
  private val GOLDH = "CAST('11400714819323198485' AS HUGEINT)" // 0x9e3779b97f4a7c15

  private def u(l: Long): String = java.lang.Long.toUnsignedString(l)
  private def d17(x: Double): String = f"$x%.17g"

  /** (a * c) mod 2^64 for HUGEINT column/expr `a` in [0,2^64) and a
    * 64-bit constant, via 32-bit split — a full 128-bit product would
    * overflow HUGEINT.
    */
  private def mulmod(a: String, c: Long): String = {
    val lo = u(c & 0xffffffffL)
    val hi = u(c >>> 32)
    s"((($a % 4294967296) * $lo + ((($a % 4294967296) * $hi + " +
      s"($a // 4294967296) * $lo) % 4294967296) * 4294967296) % $P64)"
  }

  /** splitmix64 finalizer (util.Hash.mix) as SIX chained CTE stages —
    * one column per projection, so every intermediate is computed ONCE
    * per row. (Lateral aliases are textual substitution in DuckDB: a
    * chained mix written as aliases expands combinatorially — ~70
    * copies of the input expression — which turned the 6.4M-row
    * minhash permutation stage into minutes of CPU.) `carry` columns
    * ride through; result CTE exposes carry + `out`.
    */
  private def mixCtes(
      src: String, carry: Seq[String], in: String, out: String, p: String
  ): (String, String) = {
    val k = if (carry.isEmpty) "" else carry.mkString("", ", ", ", ")
    val block =
      s"${p}1 AS (SELECT $k(($in + $GOLDH) % $P64) AS m1 FROM $src), " +
        s"${p}2 AS (SELECT ${k}xor(m1, m1 // 1073741824) AS m2 FROM ${p}1), " +
        s"${p}3 AS (SELECT $k${mulmod("m2", 0xbf58476d1ce4e5b9L)} AS m3 FROM ${p}2), " +
        s"${p}4 AS (SELECT ${k}xor(m3, m3 // 134217728) AS m4 FROM ${p}3), " +
        s"${p}5 AS (SELECT $k${mulmod("m4", 0x94d049bb133111ebL)} AS m5 FROM ${p}4), " +
        s"${p}6 AS (SELECT ${k}xor(m5, m5 // 2147483648) AS $out FROM ${p}5)"
    (block, s"${p}6")
  }

  /** splitmix64 finalizer (util.Hash.mix) as lateral-aliased SELECT
    * columns; `in` is a HUGEINT expr in [0,2^64), result lands in `out`.
    * ONLY for low-row-count stages — see [[mixCtes]] for the hot path.
    */
  private def mixCols(p: String, in: String, out: String): String =
    s"(($in + $GOLDH) % $P64) AS ${p}a, " +
      s"xor(${p}a, ${p}a // 1073741824) AS ${p}b, " +
      s"${mulmod(s"${p}b", 0xbf58476d1ce4e5b9L)} AS ${p}c, " +
      s"xor(${p}c, ${p}c // 134217728) AS ${p}d, " +
      s"${mulmod(s"${p}d", 0x94d049bb133111ebL)} AS ${p}e, " +
      s"xor(${p}e, ${p}e // 2147483648) AS $out"

  /** LangId scoring CTE chain over CTE `src` (must expose `keys` and a
    * `text` column). Returns (cteBlock, resultCte); the result CTE has
    * (keys..., lang, conf, n) for every row with ≥1 letter-gram —
    * callers LEFT JOIN and default to ('und', 0.0).
    *
    * Replicates LangIdModel.predict exactly: 512-char cap, whitespace
    * collapse + sentinel boundaries, char 1..3-grams ending at each
    * position, letter-gram filter, FNV-1a 32-bit bucket (corpus is
    * ASCII, so Java UTF-16 units == SQL code points), per-lang weight
    * sum with the untouched-bucket default, first-index argmax
    * (ORDER: CASE arms in lang-array order), softmax confidence.
    */
  def langidCtes(src: String, keys: Seq[String], p: String): (String, String) = {
    val m = Curate.defaultModels.langId
    val nL = m.langs.length
    val nB = m.nBuckets
    // bucket = (h & 0x7fffffff) % nB collapses to h % nB when nB | 2^31
    require(nB > 0 && (0x80000000L % nB) == 0, s"nBuckets=$nB must divide 2^31")
    // untouched-bucket weight per lang = the MINIMUM weight (weights
    // are strictly increasing in the bucket count, and untouched
    // buckets always exist at this corpus/bucket ratio)
    val defaults = Array.tabulate(nL) { l =>
      var mn = Float.MaxValue
      var b = 0
      while (b < nB) { val w = m.weights(b * nL + l); if (w < mn) mn = w; b += 1 }
      mn
    }
    val rows = new StringBuilder
    var b = 0
    while (b < nB) {
      var diff = false
      var l = 0
      while (l < nL && !diff) { if (m.weights(b * nL + l) != defaults(l)) diff = true; l += 1 }
      if (diff) {
        if (rows.nonEmpty) rows += ','
        rows ++= s"($b"
        l = 0
        // weights as QUOTED strings: a bare decimal literal becomes
        // DECIMAL, and DuckDB's DECIMAL→REAL conversion is not
        // correctly rounded (observed one-ulp misses on near-ties,
        // e.g. -11.950754 → -11.9507532 instead of -11.9507542);
        // VARCHAR→REAL goes through strtof and round-trips exactly
        while (l < nL) { rows ++= ",'" + m.weights(b * nL + l).toString + "'"; l += 1 }
        rows += ')'
      }
      b += 1
    }
    val k = keys.mkString(", ")
    val wcols = (0 until nL).map(l => s"CAST(c${l + 1} AS REAL) AS w$l").mkString(", ")
    val vcols = (0 to nL).map(i => s"c$i").mkString(", ")
    // ORDER-FORCED left-fold, not sum(): the engine adds per-gram
    // weights in gram-emission order (position ascending, gram length
    // 1→3 within a position, LangId.gramBuckets); unordered
    // float sum() has the same build/threading last-ulp exposure that
    // flipped perplexity_turns in CORRECTNESS_r04.
    val sums = (0 until nL).map { l =>
      s"list_reduce(list(coalesce(CAST(w.w$l AS DOUBLE), " +
        s"CAST(CAST('${defaults(l)}' AS REAL) AS DOUBLE)) ORDER BY f.j, f.g), " +
        s"(a, b) -> a + b) AS s$l"
    }.mkString(", ")
    val scols = (0 until nL).map(l => s"s$l").mkString(", ")
    val argmax = (0 until nL - 1)
      .map(l => s"WHEN s$l = mx THEN '${m.langs(l)}'")
      .mkString("CASE ", " ", s" ELSE '${m.langs(nL - 1)}' END")
    val softmax = (0 until nL).map(l => s"exp((s$l - mx) / n)").mkString(" + ")
    val block =
      s"${p}n0 AS (SELECT $k, trim(regexp_replace(lower(substr(text, 1, 512)), '\\s+', ' ', 'g'), ' ') AS c0 FROM $src), " +
        s"${p}n1 AS (SELECT $k, CASE WHEN c0 = '' THEN ' ' ELSE ' ' || c0 || ' ' END AS s FROM ${p}n0), " +
        s"${p}p AS (SELECT $k, s, unnest(range(1, length(s) + 1)) AS j FROM ${p}n1), " +
        s"${p}g AS (SELECT $k, j, 1 AS g, unicode(s[j]) AS c1, CAST(NULL AS BIGINT) AS c2, CAST(NULL AS BIGINT) AS c3 FROM ${p}p " +
        s"UNION ALL SELECT $k, j, 2, unicode(s[j-1]), unicode(s[j]), NULL FROM ${p}p WHERE j >= 2 " +
        s"UNION ALL SELECT $k, j, 3, unicode(s[j-2]), unicode(s[j-1]), unicode(s[j]) FROM ${p}p WHERE j >= 3), " +
        s"${p}f AS (SELECT $k, j, g, " +
        "(xor(2166136261, c1) * 16777619) % 4294967296 AS f1, " +
        "CASE WHEN c2 IS NULL THEN f1 ELSE (xor(f1, c2) * 16777619) % 4294967296 END AS f2, " +
        "CASE WHEN c3 IS NULL THEN f2 ELSE (xor(f2, c3) * 16777619) % 4294967296 END AS f3, " +
        s"f3 % $nB AS b FROM ${p}g " +
        "WHERE (c1 BETWEEN 97 AND 122) OR (c2 BETWEEN 97 AND 122) OR (c3 BETWEEN 97 AND 122)), " +
        s"${p}w AS (SELECT c0 AS b, $wcols FROM (VALUES $rows) v($vcols)), " +
        s"${p}sc AS (SELECT $k, count(*) AS n, $sums FROM ${p}f f LEFT JOIN ${p}w w ON w.b = f.b GROUP BY $k), " +
        s"${p}r AS (SELECT $k, n, $scols, greatest($scols) AS mx, " +
        s"$argmax AS lang, 1.0 / ($softmax) AS conf FROM ${p}sc)"
    (block, s"${p}r")
  }

  /** Stupid-backoff perplexity CTE chain over CTE `src` (keys + `text`).
    * Returns (cteBlock, resultCte); result has (keys..., ppl) for rows
    * with ≥1 token — callers LEFT JOIN and default to exp(30).
    *
    * Replicates NGramLM exactly: \\w+ lowercased tokens, h*31+c rolling
    * char hash mod 2^64, splitmix64 token mix, window hashes chained
    * via lag (h2_i = mix(h1_{i-1} ^ t_i), h3_i = mix(h2_{i-1} ^ t_i)),
    * the put/get zero-key remap, the TOTAL_KEY row kept verbatim (a
    * window hash colliding with -1 reads the token total in BOTH
    * engines), longest-match backoff with (startN - n) penalties, and
    * the engine's Float division for seen n-grams (REAL / REAL).
    *
    * @param exactLn replace every data-dependent `ln(num / den)` with a
    *   JOIN against a dumped Java-computed log table over the model's
    *   bounded count universe (the HllAgg discrete-ln technique) and the
    *   unseen-unigram `ln` with a Java literal, so NO DuckDB `ln` ever
    *   runs on the per-token path — cross-build libm/division agreement
    *   stops being load-bearing (CORRECTNESS_r04/r05's red row: the
    *   driver's DuckDB build disagreed with the JVM by an ulp per token,
    *   which `exp` amplified past the round(ppl,4) quantum). Default
    *   false keeps the r5 SQL byte-identical for the green callers
    *   (curate_transcripts family), whose ppl only feeds a threshold
    *   gate that absorbs last-ulp noise.
    */
  def pplCtes(src: String, keys: Seq[String], p: String,
      exactLn: Boolean = false): (String, String) = {
    val lm = Curate.defaultModels.lm
    require(lm.order == 3, s"pplCtes is unrolled for order 3, got ${lm.order}")
    val rows = new StringBuilder
    lm.table.foreach { (key, c) =>
      if (rows.nonEmpty) rows += ','
      rows ++= s"($key,${c.toString})"
    }
    val denF: Float = lm.table.get(NGramLM.TOTAL_KEY, 1f) + lm.vocabSize
    val den1f = s"CAST('${denF.toString}' AS REAL)"
    val den1d = s"CAST($den1f AS DOUBLE)"
    val lb = d17(NGramLM.LOG_BACKOFF)
    val k = keys.mkString(", ")
    val seed = s"CAST('${u(0x2545f4914f6cdd1dL)}' AS HUGEINT)"
    def z(h: String, out: String) = s"CASE WHEN $h = 0 THEN $GOLDH ELSE $h END AS $out"
    // exactLn: Java-computed log table over the bounded count universe.
    // Every seen-n-gram branch computes math.log((num / den).toFloat
    // widened) where num and den are INTEGER-valued Float counts from
    // the dumped table (den for the unigram branch is the constant
    // denF) — so the full set of reachable (num, den) operand pairs is
    // the cross product of the distinct count values (num <= den in any
    // real lookup: a window's count never exceeds its context's), plus
    // (c, denF). Dump fdiv-then-log for each pair via shortest
    // round-trip strings (strtof/strtod are correctly rounded; a bare
    // decimal literal would go through DECIMAL and DuckDB's
    // DECIMAL→REAL conversion is NOT correctly rounded — the langid
    // weight lesson).
    val lnJoin: Option[String] = if (!exactLn) None else {
      val cnts = scala.collection.mutable.TreeSet.empty[Float]
      lm.table.foreach((_, c) => cnts += c)
      val nums = cnts.toArray
      val lnRows = new StringBuilder
      var nPairs = 0
      def addPair(a: Float, b: Float): Unit = {
        val q: Float = a / b
        if (lnRows.nonEmpty) lnRows += ','
        lnRows ++= s"('${a.toString}','${b.toString}','${math.log(q.toDouble).toString}')"
        nPairs += 1
      }
      for (a <- nums; b <- nums if a <= b) addPair(a, b)
      nums.foreach(a => addPair(a, denF))
      require(nPairs <= 300000, s"ln pair table too large: $nPairs")
      val lt =
        s"${p}lt AS (SELECT CAST(c0 AS REAL) AS num, CAST(c1 AS REAL) AS den, " +
          s"CAST(c2 AS DOUBLE) AS lv FROM (VALUES ${lnRows.toString}) v(c0, c1, c2)), "
      Some(lt)
    }
    val lpCte = lnJoin match {
      case None =>
        s"${p}lp AS (SELECT $k, ntok, pos, CASE " +
          "WHEN pos >= 3 AND c3n IS NOT NULL THEN ln(c3n / cd3) " +
          s"WHEN pos >= 2 AND c2n IS NOT NULL THEN (CASE WHEN pos >= 3 THEN $lb ELSE 0.0 END) + ln(c2n / cd2) " +
          s"WHEN c1n IS NOT NULL THEN (least(3, pos) - 1) * $lb + ln(c1n / $den1f) " +
          s"ELSE (least(3, pos) - 1) * $lb + ln(1.0 / $den1d) END AS logp FROM ${p}j), "
      case Some(lt) =>
        // backoff constant via strtod (quoted), never a bare DECIMAL
        // literal; multipliers 0/1/2 are exact in IEEE (0·x, 1·x, 2·x)
        val lbq = s"CAST('${NGramLM.LOG_BACKOFF.toString}' AS DOUBLE)"
        // unseen-unigram constants computed STEPWISE exactly as the
        // engine does (NGramLM.logProb: backoff += lb per missed level,
        // then backoff - lb + log(1.0/denF)) — no algebraic identity
        // (3·lb vs lb+lb+lb) is assumed across the compare boundary
        val logUnseen = math.log(1.0 / denF)
        def unseenConst(levels: Int): Double = {
          var backoff = 0.0
          var n = 0
          while (n < levels) { backoff += NGramLM.LOG_BACKOFF; n += 1 }
          backoff - NGramLM.LOG_BACKOFF + logUnseen
        }
        val unseenCase = s"CASE least(3, pos) " +
          s"WHEN 1 THEN CAST('${unseenConst(1).toString}' AS DOUBLE) " +
          s"WHEN 2 THEN CAST('${unseenConst(2).toString}' AS DOUBLE) " +
          s"ELSE CAST('${unseenConst(3).toString}' AS DOUBLE) END"
        lt +
          s"${p}lp AS (SELECT $k, ntok, pos, CASE " +
          "WHEN pos >= 3 AND c3n IS NOT NULL THEN l3.lv " +
          s"WHEN pos >= 2 AND c2n IS NOT NULL THEN (CASE WHEN pos >= 3 THEN $lbq ELSE 0.0 END) + l2.lv " +
          s"WHEN c1n IS NOT NULL THEN (least(3, pos) - 1) * $lbq + l1.lv " +
          s"ELSE $unseenCase END AS logp " +
          s"FROM ${p}j j " +
          s"LEFT JOIN ${p}lt l3 ON l3.num = j.c3n AND l3.den = j.cd3 " +
          s"LEFT JOIN ${p}lt l2 ON l2.num = j.c2n AND l2.den = j.cd2 " +
          s"LEFT JOIN ${p}lt l1 ON l1.num = j.c1n AND l1.den = $den1f), "
    }
    val block =
      s"${p}tk AS (SELECT $k, regexp_extract_all(lower(text), '[a-z0-9_]+') AS ws FROM $src), " +
        s"${p}tp AS (SELECT $k, len(ws) AS ntok, unnest(ws) AS w, unnest(range(1, len(ws) + 1)) AS pos " +
        s"FROM ${p}tk WHERE len(ws) > 0), " +
        s"${p}h0 AS (SELECT $k, ntok, pos, list_reduce(list_prepend(CAST(0 AS HUGEINT), " +
        "list_transform(range(1, length(w) + 1), i -> CAST(unicode(w[i]) AS HUGEINT))), " +
        s"(h, c) -> (h * 31 + c) % $P64) AS rawh FROM ${p}tp), " +
        s"${p}m0 AS (SELECT $k, ntok, pos, ${mixCols(s"${p}xa", "rawh", "tkh")} FROM ${p}h0), " +
        s"${p}m1 AS (SELECT $k, ntok, pos, tkh, ${mixCols(s"${p}xb", s"xor($seed, tkh)", "h1")} FROM ${p}m0), " +
        s"${p}w1 AS (SELECT $k, ntok, pos, tkh, h1, lag(h1) OVER (PARTITION BY $k ORDER BY pos) AS p1 FROM ${p}m1), " +
        s"${p}m2 AS (SELECT $k, ntok, pos, tkh, h1, p1, ${mixCols(s"${p}xc", "xor(p1, tkh)", "h2")} FROM ${p}w1), " +
        s"${p}w2 AS (SELECT $k, ntok, pos, tkh, h1, p1, h2, lag(h2) OVER (PARTITION BY $k ORDER BY pos) AS p2 FROM ${p}m2), " +
        s"${p}m3 AS (SELECT $k, ntok, pos, h1, p1, h2, p2, ${mixCols(s"${p}xd", "xor(p2, tkh)", "h3")} FROM ${p}w2), " +
        s"${p}lm AS (SELECT CASE WHEN c0 < 0 THEN CAST(c0 AS HUGEINT) + $P64 ELSE CAST(c0 AS HUGEINT) END AS kk, " +
        s"CAST(c1 AS REAL) AS c FROM (VALUES $rows) v(c0, c1)), " +
        s"${p}lk AS (SELECT $k, ntok, pos, ${z("h1", "k1")}, ${z("h2", "k2")}, ${z("h3", "k3")}, " +
        s"${z("p1", "kd2")}, ${z("p2", "kd3")} FROM ${p}m3), " +
        s"${p}j AS (SELECT $k, ntok, pos, n1.c AS c1n, n2.c AS c2n, n3.c AS c3n, d2.c AS cd2, d3.c AS cd3 " +
        s"FROM ${p}lk q LEFT JOIN ${p}lm n1 ON n1.kk = q.k1 LEFT JOIN ${p}lm n2 ON n2.kk = q.k2 " +
        s"LEFT JOIN ${p}lm n3 ON n3.kk = q.k3 LEFT JOIN ${p}lm d2 ON d2.kk = q.kd2 " +
        s"LEFT JOIN ${p}lm d3 ON d3.kk = q.kd3), " +
        lpCte +
        // ORDER-FORCED left-fold, not sum(): the engine accumulates
        // log-probs sequentially by position (NGramLM.perplexity), and
        // DuckDB's unordered float sum() can differ in the last ulp
        // depending on build/threading — which exp() amplifies and a
        // downstream round() can flip at a half-ulp boundary (the one
        // red row in CORRECTNESS_r04). list_reduce over a pos-ordered
        // list reproduces the engine's left-fold ulp-for-ulp.
        s"${p}pp AS (SELECT $k, exp(least(30.0, greatest(0.0, " +
        s"-list_reduce(list(logp ORDER BY pos), (a, b) -> a + b) / max(ntok)))) AS ppl " +
        s"FROM ${p}lp GROUP BY $k)"
    (block, s"${p}pp")
  }

  /** Java-computed exp(30) (NGramLM.PPL_MAX) as a literal — not
    * DuckDB's exp, which may differ in the last ulp.
    */
  val pplMaxLit: String = d17(NGramLM.PPL_MAX)

  /** The engine's `round(PPL_MAX, 4)` — Spark Round on DoubleType is
    * `BigDecimal(Double.toString(x)).setScale(4, HALF_UP).toDouble`,
    * replicated here and shipped as a strtod literal. DuckDB's own
    * `round(DOUBLE, 4)` computes x·1e4 → rint → /1e4, which at 1.07e13
    * exceeds 2^53/1e4 and can land on a neighboring double — the exact
    * disagreement behind the r4/r5 `perplexity_turns` red row.
    */
  val pplMaxRound4Lit: String = {
    val r = new java.math.BigDecimal(java.lang.Double.toString(NGramLM.PPL_MAX))
      .setScale(4, java.math.RoundingMode.HALF_UP).doubleValue
    s"CAST('${r.toString}' AS DOUBLE)"
  }

  private def toU(x: String) =
    s"(CASE WHEN $x < 0 THEN CAST($x AS HUGEINT) + $P64 ELSE CAST($x AS HUGEINT) END)"
  private def toSigned(x: String) =
    s"CAST(CASE WHEN $x >= CAST('9223372036854775808' AS HUGEINT) THEN $x - $P64 ELSE $x END AS BIGINT)"

  /** Dedup.wordHash64 (FNV-1a 64 over chars, then splitmix64) as a CTE
    * chain over `src` (must expose `carry` columns + a token column
    * `w`). xor(h,c)·0x100000001b3 < 2^104 fits HUGEINT directly — no
    * split multiply needed for the FNV stage.
    */
  private def wordHashCtes(src: String, carry: Seq[String], p: String): (String, String) = {
    val k = carry.mkString(", ")
    val fnv = "list_reduce(list_prepend(CAST('14695981039346656037' AS HUGEINT), " +
      "list_transform(range(1, length(w) + 1), i -> CAST(unicode(w[i]) AS HUGEINT))), " +
      s"(h, c) -> (xor(h, c) * 1099511628211) % $P64)"
    val block = s"${p}f AS (SELECT $k, $fnv AS fh FROM $src), " +
      s"${p}m AS (SELECT $k, ${mixCols(s"${p}z", "fh", "wh")} FROM ${p}f)"
    (block, s"${p}m")
  }

  private val tokenRegex = "[\\pL\\pN_]+" // Dedup.tokens word class (RE2 form)

  /** Generic word n-gram shingle CTE chain over `src` (must expose
    * id, text): replicates [[graft.dedup.Dedup.shingles]](text, n) —
    * lag-chained splitmix64 window folds for docs with ≥ n words, bare
    * word hashes otherwise, DISTINCT per id. The n=3 instance is the
    * same chain [[minhashSketchCtes]] unrolls by hand. Returns
    * (block, cte); cte exposes (id, sh).
    */
  private def shingleCtes(src: String, n: Int, p: String): (String, String) = {
    require(n >= 1)
    val seed = s"CAST('${u(0x2545f4914f6cdd1dL)}' AS HUGEINT)"
    val (whBlock, whCte) = wordHashCtes(s"${p}tk", Seq("id", "nw", "pos"), s"${p}W")
    val sb = new StringBuilder
    sb ++= s"${p}t0 AS (SELECT id, regexp_extract_all(lower(text), '$tokenRegex') AS ws FROM $src), "
    sb ++= s"${p}tk AS (SELECT id, len(ws) AS nw, unnest(ws) AS w, " +
      s"unnest(range(1, len(ws) + 1)) AS pos FROM ${p}t0 WHERE len(ws) > 0), "
    sb ++= whBlock
    var prev = whCte
    (1 to n).foreach { j =>
      val in = if (j == 1) s"xor($seed, wh)" else s"xor(${p}p${j - 1}, wh)"
      sb ++= s", ${p}g$j AS (SELECT id, nw, pos, wh, ${mixCols(s"${p}x$j", in, s"${p}c$j")} FROM $prev)"
      if (j < n) {
        sb ++= s", ${p}l$j AS (SELECT id, nw, pos, wh, " +
          s"lag(${p}c$j) OVER (PARTITION BY id ORDER BY pos) AS ${p}p$j FROM ${p}g$j)"
        prev = s"${p}l$j"
      } else prev = s"${p}g$j"
    }
    sb ++= s", ${p}sh AS (SELECT DISTINCT id, CASE WHEN nw >= $n THEN ${p}c$n ELSE wh END AS sh " +
      s"FROM $prev WHERE (nw >= $n AND pos >= $n) OR nw < $n)"
    (sb.toString, s"${p}sh")
  }

  /** Full SQL replication of [[graft.dedup.Dedup.decontaminate]] over
    * `documents` with the deterministic held-out benchmark
    * doc_id % benchMod = 0: per-doc distinct word n-gram hashes,
    * semi-joined against the benchmark's distinct gram set, counted.
    */
  def decontaminateSql(n: Int = 8, benchMod: Int = 97, minHits: Int = 1): String = {
    val (cBlock, cSh) = shingleCtes("(SELECT doc_id AS id, text FROM documents)", n, "DC")
    val (bBlock, bSh) = shingleCtes(
      s"(SELECT doc_id AS id, text FROM documents WHERE doc_id % $benchMod = 0)", n, "DB")
    s"WITH $cBlock, $bBlock, " +
      s"DCbg AS (SELECT DISTINCT sh FROM $bSh), " +
      s"DChits AS (SELECT c.id, count(*) AS contaminated_grams FROM $cSh c " +
      "JOIN DCbg USING (sh) GROUP BY c.id) " +
      "SELECT d.doc_id AS id, COALESCE(h.contaminated_grams, 0) AS contaminated_grams, " +
      s"COALESCE(h.contaminated_grams, 0) >= $minHits AS is_contaminated " +
      "FROM documents d LEFT JOIN DChits h ON h.id = d.doc_id ORDER BY d.doc_id"
  }

  /** Full SQL replication of [[graft.sample.Sampling.packGreedy]]
    * over `documents` (strata = source, order = doc_id, tokens =
    * word-class token count, same class the engine's Dedup.tokens
    * splits on): the greedy close-when-exceeding fold replays as a
    * string-encoded list_reduce per stratum — state "i|a|p|payload"
    * (shard idx, tokens in shard, pos in shard, emitted rows), the
    * same technique as [[chunkSql]].
    */
  def packShardsSql(budget: Long): String = {
    def st(i: Int) = s"split_part(s, '|', $i)"
    val iV = s"CAST(${st(1)} AS BIGINT)"
    val aV = s"CAST(${st(2)} AS BIGINT)"
    val pV = s"CAST(${st(3)} AS BIGINT)"
    val xo = "split_part(x, ',', 1)" // ord (kept as text)
    val xt = s"CAST(split_part(x, ',', 2) AS BIGINT)"
    val newShard =
      s"CAST($iV + 1 AS VARCHAR) || '|' || CAST($xt AS VARCHAR) || '|0|' || ${st(4)} || " +
        s"$xo || ':' || CAST($iV + 1 AS VARCHAR) || ':0;'"
    val sameShard =
      s"${st(1)} || '|' || CAST($aV + $xt AS VARCHAR) || '|' || CAST($pV + 1 AS VARCHAR) || '|' || " +
        s"${st(4)} || $xo || ':' || ${st(1)} || ':' || CAST($pV + 1 AS VARCHAR) || ';'"
    val lambda = s"CASE WHEN $aV > 0 AND $aV + $xt > $budget THEN $newShard ELSE $sameShard END"
    "WITH pk0 AS (SELECT source AS strata, doc_id AS o, " +
      s"CAST(len(regexp_extract_all(lower(text), '$tokenRegex')) AS BIGINT) AS t FROM documents), " +
      "pkl AS (SELECT strata, list(CAST(o AS VARCHAR) || ',' || CAST(t AS VARCHAR) ORDER BY o) AS xs " +
      "FROM pk0 GROUP BY strata), " +
      s"pkf AS (SELECT strata, list_reduce(list_prepend('0|0|-1|', xs), (s, x) -> $lambda) AS fin FROM pkl), " +
      "pke AS (SELECT strata, unnest(list_filter(string_split(split_part(fin, '|', 4), ';'), e -> e <> '')) AS e FROM pkf) " +
      "SELECT CAST(split_part(e, ':', 1) AS BIGINT) AS doc_id, strata AS source, " +
      "CAST(split_part(e, ':', 2) AS BIGINT) AS shard_idx, " +
      "CAST(split_part(e, ':', 3) AS INTEGER) AS shard_pos " +
      "FROM pke ORDER BY source, doc_id"
  }

  /** Full SQL replication of [[graft.functions.HllAgg]] over
    * `documents` grouped by source: every token's register index and
    * rank recomputed in HUGEINT (top-10-bit split, leading zeros via
    * 65 - length(bin(rest)) — integer-exact), registers as grouped
    * MAX over a full source×1024 grid, the Σ2^-reg fold ORDER-FORCED
    * over register index with the engine's exact dyadic addends
    * dumped as literals, and the linear-counting branch replayed from
    * a dumped (V → m·ln(m/V)) table — V is discrete, so even the
    * transcendental branch is bit-exact.
    */
  def hllVocabSql(): String = {
    import graft.functions.HllAgg
    val m = HllAgg.M
    val twoP = 1L << (64 - HllAgg.P) // 2^54
    val invVals = HllAgg.INV_POW2.zipWithIndex
      .map { case (v, r) => s"($r, CAST('${d17(v)}' AS DOUBLE))" }.mkString(", ")
    val lcVals = (1 to m)
      .map(v => s"($v, CAST('${d17(m.toDouble * math.log(m.toDouble / v))}' AS DOUBLE))")
      .mkString(", ")
    val alpha = s"CAST('${d17(HllAgg.ALPHA_M2)}' AS DOUBLE)"
    val sb = new StringBuilder
    sb ++= "WITH hlt0 AS (SELECT source, " +
      s"regexp_extract_all(lower(text), '$tokenRegex') AS ws FROM documents), "
    sb ++= "hltk AS (SELECT source, unnest(ws) AS w FROM hlt0 WHERE len(ws) > 0), "
    val (whBlock, whCte) = wordHashCtes("hltk", Seq("source"), "hlW")
    sb ++= whBlock
    sb ++= s", hlr AS (SELECT source, CAST(wh // $twoP AS BIGINT) AS idx, " +
      s"(wh % $twoP) * ${1 << HllAgg.P} AS rest FROM $whCte), "
    sb ++= s"hlrank AS (SELECT source, idx, CASE WHEN rest = 0 THEN ${64 - HllAgg.P + 1} " +
      "ELSE 65 - length(bin(rest)) END AS rnk FROM hlr), "
    sb ++= "hlreg0 AS (SELECT source, idx, max(rnk) AS reg FROM hlrank GROUP BY source, idx), "
    sb ++= "hlsrc AS (SELECT DISTINCT source FROM documents), "
    sb ++= s"hlgrid AS (SELECT s.source, g.i AS idx FROM hlsrc s CROSS JOIN " +
      s"(SELECT unnest(range(0, $m)) AS i) g), "
    sb ++= "hlreg AS (SELECT g.source, g.idx, coalesce(r.reg, 0) AS reg FROM hlgrid g " +
      "LEFT JOIN hlreg0 r ON g.source = r.source AND g.idx = r.idx), "
    sb ++= s"hlinv(r, inv) AS (VALUES $invVals), "
    sb ++= "hlsum AS (SELECT e.source, " +
      "list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list(v.inv ORDER BY e.idx)), " +
      "(a, x) -> a + x) AS s, " +
      "sum(CASE WHEN e.reg = 0 THEN 1 ELSE 0 END) AS zeros " +
      "FROM hlreg e JOIN hlinv v ON e.reg = v.r GROUP BY e.source), "
    sb ++= s"hllc(v, est) AS (VALUES $lcVals), "
    sb ++= s"hlest AS (SELECT u.source, CASE WHEN ($alpha / u.s) <= ${2.5 * m} AND u.zeros > 0 " +
      s"THEN lc.est ELSE ($alpha / u.s) END AS hll_estimate " +
      "FROM hlsum u LEFT JOIN hllc lc ON u.zeros = lc.v), "
    sb ++= "hlex AS (SELECT source, count(DISTINCT w) AS exact_distinct FROM hltk GROUP BY source) "
    sb ++= "SELECT e.source, e.hll_estimate, coalesce(x.exact_distinct, 0) AS exact_distinct " +
      "FROM hlest e LEFT JOIN hlex x ON e.source = x.source ORDER BY e.source"
    sb.toString
  }

  /** Full SQL replication of [[graft.search.Bm25.topK]] over
    * `documents`: query-term df via count(DISTINCT id), avgdl as an
    * exact integer ratio, idf through DuckDB's ln on the identical
    * double chain (cross-engine ln equality is the same exposure the
    * ppl oracle's exp already validates), per-term contributions in
    * explicit-paren engine order with the inexact constants (k1,
    * k1+1) embedded as 17-digit literals, and the score as an
    * ORDER-FORCED left fold over query-term index — the perplexity
    * doctrine, so parallelism/plan cannot reorder the sum.
    */
  def bm25Sql(query: String, k: Int, k1: Double, b: Double): String = {
    val terms = graft.dedup.Dedup.tokens(query).distinct
    require(terms.nonEmpty)
    val tvals = terms.zipWithIndex
      .map { case (t, j) => s"($j, '${t.replace("'", "''")}')" }.mkString(", ")
    val inList = terms.map(t => s"'${t.replace("'", "''")}'").mkString(", ")
    val K1 = s"CAST('${d17(k1)}' AS DOUBLE)"
    val K1P1 = s"CAST('${d17(k1 + 1.0)}' AS DOUBLE)"
    val B = s"CAST('${d17(b)}' AS DOUBLE)"
    val B1 = s"CAST('${d17(1.0 - b)}' AS DOUBLE)"
    s"WITH bmt0 AS (SELECT doc_id AS id, " +
      s"regexp_extract_all(lower(text), '$tokenRegex') AS ws FROM documents), " +
      "bmn AS (SELECT count(*) AS n, " +
      "CAST(coalesce(sum(len(ws)), 0) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avgdl " +
      "FROM bmt0), " +
      s"bmterms(j, term) AS (VALUES $tvals), " +
      "bmtk AS (SELECT id, unnest(ws) AS w FROM bmt0 WHERE len(ws) > 0), " +
      s"bmdfr AS (SELECT w, count(DISTINCT id) AS df FROM bmtk WHERE w IN ($inList) GROUP BY w), " +
      "bmidf AS (SELECT t.j, t.term, " +
      "ln(1.0 + ((CAST(n.n AS DOUBLE) - CAST(coalesce(d.df, 0) AS DOUBLE)) + 0.5) / " +
      "(CAST(coalesce(d.df, 0) AS DOUBLE) + 0.5)) AS idf " +
      "FROM bmterms t LEFT JOIN bmdfr d ON t.term = d.w CROSS JOIN bmn n), " +
      "bmdl AS (SELECT id, len(ws) AS dl FROM bmt0), " +
      "bmtf AS (SELECT k.id, i.j, i.idf, count(*) AS tf " +
      "FROM bmtk k JOIN bmidf i ON k.w = i.term GROUP BY k.id, i.j, i.idf), " +
      "bmc AS (SELECT f.id, f.j, " +
      s"f.idf * (f.tf * $K1P1) / (CAST(f.tf AS DOUBLE) + $K1 * ($B1 + ($B * CAST(l.dl AS DOUBLE)) / n.avgdl)) AS contrib " +
      "FROM bmtf f JOIN bmdl l ON f.id = l.id CROSS JOIN bmn n), " +
      "bmsc AS (SELECT id, list_reduce(list_prepend(CAST(0.0 AS DOUBLE), " +
      "list(contrib ORDER BY j)), (a, x) -> a + x) AS score FROM bmc GROUP BY id) " +
      s"SELECT id, score FROM bmsc WHERE score > 0.0 ORDER BY score DESC, id LIMIT $k"
  }

  /** Full SQL replication of [[graft.functions.CountMinAgg]] over
    * `documents` grouped by source, probed for `probes`: every token
    * occurrence's four sketch buckets recomputed in HUGEINT
    * (wordHash64 + per-row seeded splitmix64), per-(source, row,
    * bucket) counters as plain integer counts, estimate = least over
    * rows. The probes' own buckets are precomputed in Scala and
    * embedded as VALUES — integer arithmetic end to end, no ordering
    * sensitivity anywhere.
    */
  def cmsWordCountsSql(probes: Seq[String]): String = {
    import graft.functions.CountMinAgg
    val d = CountMinAgg.DEPTH
    val w = CountMinAgg.WIDTH
    val pvals = probes.map { p =>
      val bs = (0 until d).map(j => CountMinAgg.bucket(p, j, w)).mkString(", ")
      s"('${p.replace("'", "''")}', $bs)"
    }.mkString(", ")
    val bcols = (0 until d).map(j => s"b$j").mkString(", ")
    val sb = new StringBuilder
    sb ++= s"WITH cmsp(word, $bcols) AS (VALUES $pvals), "
    sb ++= "cmt0 AS (SELECT source, " +
      s"regexp_extract_all(lower(text), '$tokenRegex') AS ws FROM documents), "
    sb ++= "cmtk AS (SELECT source, unnest(ws) AS w FROM cmt0 WHERE len(ws) > 0), "
    val (whBlock, whCte) = wordHashCtes("cmtk", Seq("source"), "cmW")
    sb ++= whBlock
    var prev = whCte
    var carry = Seq("source", "wh")
    (0 until d).foreach { j =>
      val (mb, mc) = mixCtes(prev, carry,
        s"xor(wh, CAST('${u(CountMinAgg.seed(j))}' AS HUGEINT))", s"h$j", s"cmM$j")
      sb ++= s", $mb"
      prev = mc
      carry = carry :+ s"h$j"
    }
    val bsel = (0 until d).map(j => s"(h$j % $w) AS b$j").mkString(", ")
    sb ++= s", cmb AS (SELECT source, $bsel FROM $prev), "
    sb ++= (0 until d).map(j =>
      s"cmc$j AS (SELECT source, b$j AS b, count(*) AS c FROM cmb GROUP BY source, b$j)"
    ).mkString(", ")
    sb ++= ", cmsrc AS (SELECT DISTINCT source FROM documents), "
    sb ++= "cmgrid AS (SELECT s.source, p.word, " +
      (0 until d).map(j => s"p.b$j").mkString(", ") + " FROM cmsrc s CROSS JOIN cmsp p), "
    sb ++= "cmgj AS (" +
      (0 until d).map(j =>
        s"SELECT source, word, $j AS j, b$j AS b FROM cmgrid").mkString(" UNION ALL ") + "), "
    sb ++= "cmest AS (SELECT g.source, g.word, min(coalesce(c.c, 0)) AS cms_estimate " +
      "FROM cmgj g LEFT JOIN (" +
      (0 until d).map(j => s"SELECT source, $j AS j, b, c FROM cmc$j").mkString(" UNION ALL ") +
      ") c ON g.source = c.source AND g.j = c.j AND g.b = c.b " +
      "GROUP BY g.source, g.word), "
    val inList = probes.map(p => s"'${p.replace("'", "''")}'").mkString(", ")
    sb ++= s"cmex AS (SELECT source, w AS word, count(*) AS exact_count FROM cmtk " +
      s"WHERE w IN ($inList) GROUP BY source, w) "
    sb ++= "SELECT e.source, e.word, e.cms_estimate, coalesce(x.exact_count, 0) AS exact_count " +
      "FROM cmest e LEFT JOIN cmex x ON e.source = x.source AND e.word = x.word " +
      "ORDER BY e.source, e.word"
    sb.toString
  }

  /** Full SQL replication of sqrt-temperature mixing
    * ([[graft.sample.Sampling.sqrtTemperatureRates]] +
    * [[graft.sample.Sampling.sampleByRates]]) over `documents`:
    * per-source counts, Σ sqrt(n) as an ORDER-FORCED fold in sorted-
    * source order (sqrt is IEEE-correctly-rounded — bit-equal across
    * engines by the standard, unlike exp/ln which are merely observed
    * equal), the rate chain in explicit engine paren order, and the
    * keep decision as a pure double compare of the key's exact dyadic
    * [0,1) fraction against the rate.
    */
  def sampleTemperatureSql(totalFraction: Double): String = {
    val tf = s"CAST('${d17(totalFraction)}' AS DOUBLE)"
    val p53 = s"CAST('${d17(graft.sample.Sampling.P53INV)}' AS DOUBLE)"
    val sb = new StringBuilder
    sb ++= "WITH tmc AS (SELECT CAST(source AS VARCHAR) AS s, count(*) AS n " +
      "FROM documents GROUP BY source), "
    sb ++= "tmt AS (SELECT sum(n) AS total, " +
      "list_reduce(list_prepend(CAST(0.0 AS DOUBLE), " +
      "list(sqrt(CAST(n AS DOUBLE)) ORDER BY s)), (a, x) -> a + x) AS sumw FROM tmc), "
    sb ++= s"tmr AS (SELECT s, n, CASE WHEN r0 < 1.0 THEN r0 ELSE 1.0 END AS rate FROM " +
      s"(SELECT s, n, (($tf * CAST(t.total AS DOUBLE)) * sqrt(CAST(n AS DOUBLE))) / " +
      "(t.sumw * CAST(n AS DOUBLE)) AS r0 FROM tmc CROSS JOIN tmt t)), "
    sb ++= "tmk0 AS (SELECT CAST(source AS VARCHAR) AS s, " +
      "CAST(doc_id AS VARCHAR) AS w FROM documents), "
    val (whBlock, whCte) = wordHashCtes("tmk0", Seq("s"), "tmW")
    sb ++= whBlock
    sb ++= s", tmkf AS (SELECT s, CAST(wh // 2048 AS DOUBLE) * $p53 AS kf FROM $whCte), "
    sb ++= "tmkept AS (SELECT k.s, count(*) AS kept FROM tmkf k JOIN tmr r ON k.s = r.s " +
      "WHERE k.kf < r.rate GROUP BY k.s) "
    sb ++= "SELECT r.s AS source, r.n AS n_docs, r.rate, coalesce(t.kept, 0) AS kept " +
      "FROM tmr r LEFT JOIN tmkept t ON r.s = t.s ORDER BY r.s"
    sb.toString
  }

  /** Full SQL replication of [[graft.dedup.Dedup.spanDedup]] over the
    * derived docs the `dedup_spans` query constructs (natural text
    * plus planted shared/unique tails): per-position w-token window
    * hashes via the proven lag-chained splitmix fold (same chain as
    * [[shingleCtes]], positions kept), first occurrence per hash by
    * (id, start), token kept iff SOME covering window is the first
    * occurrence, token-normalized reassembly. Docs under w tokens
    * pass through untouched.
    */
  def spanDedupSql(w: Int): String = {
    val seed = s"CAST('${u(0x2545f4914f6cdd1dL)}' AS HUGEINT)"
    val sb = new StringBuilder
    sb ++= "WITH sd0 AS (SELECT doc_id AS id, text || " +
      "CASE WHEN doc_id % 4 IN (1, 2) THEN ' the quick brown fox jumps over the lazy dog again and again' " +
      "WHEN doc_id % 4 = 3 THEN ' closing marker ' || CAST(doc_id AS VARCHAR) " +
      "ELSE '' END AS text FROM documents), "
    sb ++= "sdt AS (SELECT id, " +
      s"regexp_extract_all(lower(text), '$tokenRegex') AS ws FROM sd0), "
    sb ++= "sdtk AS (SELECT id, len(ws) AS nw, unnest(ws) AS w, " +
      "unnest(range(1, len(ws) + 1)) AS pos FROM sdt WHERE len(ws) > 0), "
    val (whBlock, whCte) = wordHashCtes("sdtk", Seq("id", "nw", "pos"), "sdW")
    sb ++= whBlock
    var prev = whCte
    (1 to w).foreach { j =>
      val in = if (j == 1) s"xor($seed, wh)" else s"xor(sdp${j - 1}, wh)"
      sb ++= s", sdg$j AS (SELECT id, nw, pos, wh, ${mixCols(s"sdx$j", in, s"sdc$j")} FROM $prev)"
      if (j < w) {
        sb ++= s", sdl$j AS (SELECT id, nw, pos, wh, " +
          s"lag(sdc$j) OVER (PARTITION BY id ORDER BY pos) AS sdp$j FROM sdg$j)"
        prev = s"sdl$j"
      } else prev = s"sdg$j"
    }
    sb ++= s", sdwin AS (SELECT id, pos - $w AS s, sdc$w AS h FROM $prev " +
      s"WHERE nw >= $w AND pos >= $w), "
    sb ++= "sdrn AS (SELECT id, s, h, " +
      "row_number() OVER (PARTITION BY h ORDER BY id, s) AS rn FROM sdwin), "
    sb ++= s"sdkeep AS (SELECT t.id, t.pos, t.w, bool_or(r.rn = 1) AS kept " +
      "FROM sdtk t JOIN sdrn r ON t.id = r.id AND " +
      s"r.s BETWEEN greatest(0, (t.pos - 1) - ${w - 1}) AND least(t.pos - 1, t.nw - $w) " +
      s"WHERE t.nw >= $w GROUP BY t.id, t.pos, t.w), "
    sb ++= "sdka AS (SELECT id, string_agg(w, ' ' ORDER BY pos) AS text, " +
      "count(*) AS n_kept FROM sdkeep WHERE kept GROUP BY id " +
      "UNION ALL SELECT id, string_agg(w, ' ' ORDER BY pos) AS text, count(*) AS n_kept " +
      s"FROM sdtk WHERE nw < $w GROUP BY id), "
    sb ++= "sdnt AS (SELECT id, len(ws) AS n_tokens FROM sdt) "
    sb ++= "SELECT b.id, coalesce(a.text, '') AS text, b.n_tokens, " +
      "coalesce(a.n_kept, 0) AS n_kept " +
      "FROM sdnt b LEFT JOIN sdka a USING (id) ORDER BY b.id"
    sb.toString
  }

  /** Full SQL replication of [[graft.dedup.Dedup.lineDedup]] over the
    * derived multi-line docs the `dedup_lines` query constructs from
    * `documents`: line split with positions, lower(trim) matching,
    * per-line corpus df + first occurrence (window here — the oracle
    * runs at small scale; the ENGINE uses the two-phase min), the
    * keep decision (unique / first-wins / boilerplate df >= minDf),
    * blank structural lines kept, ordered reassembly.
    */
  def lineDedupSql(minDf: Long): String = {
    "WITH ld0 AS (SELECT doc_id AS id, " +
      "'title ' || CAST(doc_id % 40 AS VARCHAR) || chr(10) || " +
      "replace(text, chr(10), ' ') || chr(10) || " +
      "(CASE WHEN doc_id % 5 = 0 THEN '' ELSE 'footer ' || CAST(doc_id % 7 AS VARCHAR) END) || chr(10) || " +
      "'shared ' || CAST(doc_id % 200 AS VARCHAR) || chr(10) || " +
      "'unique line ' || CAST(doc_id AS VARCHAR) AS t FROM documents), " +
      "ldl AS (SELECT id, string_split(t, chr(10)) AS ls FROM ld0), " +
      "ll AS (SELECT id, unnest(range(0, len(ls))) AS pos, unnest(ls) AS line FROM ldl), " +
      "ln AS (SELECT id, pos, line, lower(trim(line)) AS norm FROM ll), " +
      "lc AS (SELECT id, pos, line, " +
      "count(*) OVER (PARTITION BY norm) AS df, " +
      "row_number() OVER (PARTITION BY norm ORDER BY id, pos) AS rn " +
      "FROM ln WHERE norm <> ''), " +
      s"lk AS (SELECT id, pos, line FROM lc WHERE df < $minDf AND (df = 1 OR rn = 1) " +
      "UNION ALL SELECT id, pos, line FROM ln WHERE norm = ''), " +
      "lagg AS (SELECT id, string_agg(line, chr(10) ORDER BY pos) AS text, " +
      "count(*) AS n_kept FROM lk GROUP BY id), " +
      "ltot AS (SELECT id, count(*) AS n_lines FROM ll GROUP BY id) " +
      "SELECT t.id, coalesce(a.text, '') AS text, t.n_lines, " +
      "coalesce(a.n_kept, 0) AS n_kept " +
      "FROM ltot t LEFT JOIN lagg a USING (id) ORDER BY t.id"
  }

  /** Full SQL replication of
    * [[graft.ml.QualityClassifier.scoreDf]] over `documents`: the five
    * rational features recomputed from the text, the trained weights
    * embedded as exact 17-digit double literals (same dyadic-parse
    * technique as [[embPlanesCtes]]), the logit as the engine's exact
    * left-to-right fixed-order dot — bit-identical doubles, decision
    * logit &gt; 0 with no transcendental anywhere.
    */
  def qualityClassifierSql(model: graft.ml.QualityClassifier.Model): String = {
    val w = model.weights.map(x => s"CAST('${d17(x)}' AS DOUBLE)")
    val dot = s"(((((0.0 + ${w(0)} * 1.0) + ${w(1)} * f1) + ${w(2)} * f2) + " +
      s"${w(3)} * f3) + ${w(4)} * f4)"
    s"WITH qc0 AS (SELECT doc_id AS id, " +
      s"regexp_extract_all(lower(text), '$tokenRegex') AS toks, " +
      "length(text) AS cp, " + // code points — matches codePointCount
      """len(regexp_extract_all(text, '[^\pL\pN\s]')) AS sym FROM documents), """ +
      "qcf AS (SELECT id, " +
      "CAST(least(len(toks), 256) AS DOUBLE) / 256.0 AS f1, " +
      "CASE WHEN cp = 0 THEN 0.0 ELSE CAST(sym AS DOUBLE) / cp END AS f2, " +
      "CASE WHEN len(toks) = 0 THEN 0.0 ELSE CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks) END AS f3, " +
      "CASE WHEN len(toks) = 0 THEN 0.0 ELSE least(CAST(list_sum(list_transform(toks, t -> length(t))) AS DOUBLE) / len(toks), 16.0) / 16.0 END AS f4 " +
      "FROM qc0) " +
      s"SELECT id, $dot AS logit, $dot > 0.0 AS predicted_keep FROM qcf ORDER BY id"
  }

  /** Full SQL replication of [[graft.sample.Sampling.stratifiedQuota]]
    * over `documents` (strata = source, key = mix(fnv(doc_id text))).
    */
  def sampleStratifiedSql(quota: Int): String = {
    val (whBlock, whCte) = wordHashCtes("SQsrc", Seq("id", "strata"), "SQ")
    s"WITH SQsrc AS (SELECT doc_id AS id, source AS strata, " +
      "CAST(doc_id AS VARCHAR) AS w FROM documents), " +
      s"$whBlock, " +
      s"SQrk AS (SELECT id, strata, row_number() OVER (PARTITION BY strata " +
      s"ORDER BY ${toSigned("wh")}, id) AS rnk FROM $whCte) " +
      "SELECT id AS doc_id, strata AS source, CAST(rnk AS INTEGER) AS sample_rank " +
      s"FROM SQrk WHERE rnk <= $quota ORDER BY source, sample_rank"
  }

  /** Full SQL replication of
    * [[graft.sample.Sampling.stratifiedFraction]]: keep iff the
    * unsigned sampling key &lt; fraction · 2^64 (exact HUGEINT compare).
    */
  def sampleFractionSql(fractions: Map[String, Double], default: Double): String = {
    val vals = fractions.map { case (s, f) =>
      s"('${s.replace("'", "''")}', CAST('${graft.sample.Sampling.thresholdSqlOf(f)}' AS HUGEINT))"
    }.mkString(", ")
    val dflt = s"CAST('${graft.sample.Sampling.thresholdSqlOf(default)}' AS HUGEINT)"
    val frTable = if (fractions.isEmpty) "" else
      s"SFfr AS (SELECT c0 AS strata, c1 AS thr FROM (VALUES $vals) v(c0, c1)), "
    val (whBlock, whCte) = wordHashCtes("SFsrc", Seq("id", "strata"), "SF")
    s"WITH SFsrc AS (SELECT doc_id AS id, source AS strata, " +
      "CAST(doc_id AS VARCHAR) AS w FROM documents), " +
      s"$whBlock, $frTable" +
      s"SFkeep AS (SELECT t.id, t.strata FROM $whCte t " +
      (if (fractions.isEmpty) "" else "LEFT JOIN SFfr f ON f.strata = t.strata ") +
      s"WHERE ${toU("wh")} < ${if (fractions.isEmpty) dflt else s"COALESCE(f.thr, $dflt)"}) " +
      "SELECT id AS doc_id, strata AS source FROM SFkeep ORDER BY doc_id"
  }

  /** Full SQL replication of [[graft.dedup.Dedup.simhashNearDups]]
    * over `documents` — the LSH BUCKET STRUCTURE itself under the
    * oracle (not a jaccard-threshold proxy): 64-bit SimHash from
    * per-occurrence token-hash bit votes, identical-signature
    * rep-collapse (window min), 4×16-bit band equi-join, Hamming ≤
    * maxHamming verify via bit_count(xor). Pure integer arithmetic —
    * bit-exact, no float tolerance anywhere.
    */
  def simhashSql(maxHamming: Int = 3): String = {
    val (whBlock, whCte) = wordHashCtes("toks", Seq("id"), "W")
    val pows = (0 until 64).map(b =>
      s"($b,'${java.math.BigInteger.ONE.shiftLeft(b)}')").mkString(",")
    val bandDiv = (0 until 4).map(b =>
      s"($b,'${java.math.BigInteger.ONE.shiftLeft(16 * b)}')").mkString(",")
    s"WITH toks AS (SELECT doc_id AS id, unnest(regexp_extract_all(lower(text), '$tokenRegex')) AS w FROM documents), " +
      s"$whBlock, " +
      s"pows AS (SELECT c0 AS b, CAST(c1 AS HUGEINT) AS p2 FROM (VALUES $pows) v(c0, c1)), " +
      s"bits AS (SELECT id, b, sum(CASE WHEN (wh // p2) % 2 = 1 THEN 1 ELSE -1 END) AS cnt " +
      s"FROM $whCte CROSS JOIN pows GROUP BY id, b), " +
      "sigu AS (SELECT id, sum(CASE WHEN cnt > 0 THEN p2 ELSE CAST(0 AS HUGEINT) END) AS su " +
      "FROM bits JOIN pows USING (b) GROUP BY id), " +
      s"sigs AS (SELECT id, ${toSigned("su")} AS sig FROM sigu), " +
      "wr AS (SELECT id, sig, min(id) OVER (PARTITION BY sig) AS rep FROM sigs), " +
      "intra AS (SELECT rep AS id_a, id AS id_b, 0 AS hamming FROM wr WHERE id <> rep), " +
      "grp AS (SELECT rep, sig FROM wr WHERE id = rep), " +
      s"bdiv AS (SELECT c0 AS b, CAST(c1 AS HUGEINT) AS d FROM (VALUES $bandDiv) v(c0, c1)), " +
      s"banded AS (SELECT rep, sig, b, CAST((${toU("sig")} // d) % 65536 AS BIGINT) AS bh " +
      "FROM grp CROSS JOIN bdiv), " +
      "inter AS (SELECT DISTINCT l.rep AS id_a, r.rep AS id_b, " +
      "CAST(bit_count(xor(l.sig, r.sig)) AS INTEGER) AS hamming " +
      "FROM banded l JOIN banded r ON l.b = r.b AND l.bh = r.bh AND l.rep < r.rep " +
      s"WHERE bit_count(xor(l.sig, r.sig)) <= $maxHamming) " +
      "SELECT id_a, id_b, hamming FROM (SELECT * FROM intra UNION ALL SELECT * FROM inter) " +
      "ORDER BY id_a, id_b"
  }

  /** Full SQL replication of [[graft.dedup.Dedup.minhashClusters]]
    * over `documents`: word-hash chain → 3-gram shingle fold (lag-
    * chained splitmix64, LM-window style), 64 seeded permutations
    * h_f(x) = mix(x ^ mix(f + 0x100001b3)) with SIGNED min per f (the
    * engine compares Longs), 16-band × 4-row banded fold from the
    * golden-ratio seed, per-bucket window min, per-id min across
    * bands. Bucket membership — including any chance band collision —
    * is reproduced exactly, so the one-pass cluster approximation is
    * value-compared, not approximated.
    */
  def minhashClustersSql(numHashes: Int = 64, bands: Int = 16): String = {
    val (block, _, banded) = minhashSketchCtes(
      "(SELECT doc_id AS id, doc_id AS tid, text FROM documents)", numHashes, bands)
    s"WITH $block, " +
      s"bmin AS (SELECT id, band, min(id) OVER (PARTITION BY band, bhv) AS bucket_rep FROM $banded), " +
      "rep AS (SELECT id, min(bucket_rep) AS rep_id FROM bmin GROUP BY id) " +
      "SELECT id, rep_id FROM rep WHERE rep_id <> id ORDER BY id"
  }

  /** Shared MinHash sketch CTE chain over `srcCte` (a parenthesized
    * subquery exposing id, tid, text): per-(id, tid) word tokens →
    * 3-gram shingle fold (lag-chained splitmix64) → DISTINCT (id, sh)
    * union shingle set → `numHashes` seeded permutations with SIGNED
    * min (sigs: id, f, sv) → band×row folded bucket hashes (banded:
    * id, band, bhv). Element-wise min across a group's members equals
    * the MinHash of the UNION shingle set, so the one chain serves
    * both doc-level sketches (tid = id) and conversation-level
    * [[graft.functions.MinHashAgg]] union sketches (tid = turn).
    * Returns (cteBlock, sigsCte, bandedCte).
    */
  private def minhashSketchCtes(
      srcCte: String, numHashes: Int, bands: Int): (String, String, String) = {
    val rows = numHashes / bands
    require(rows == 4, "fold below is unrolled for 4 rows per band")
    val seed3 = s"CAST('${u(0x2545f4914f6cdd1dL)}' AS HUGEINT)"
    val seeds = (0 until numHashes).map(f =>
      s"($f,${graft.util.Hash.mix(f.toLong + 0x100001b3L)})").mkString(",")
    val (whBlock, whCte) = wordHashCtes("tk", Seq("id", "tid", "nw", "pos"), "W")
    // hot stage: |shingles| × 64 rows — staged CTE mix, never lateral
    val hxBlock = mixCtes("hx0", Seq("id", "f"), "shx", "hv", "hs")
    // band fold h = mix(h ^ s_r) chained over the 4 rows — each mix a
    // staged CTE chain (4 laterally-chained mixes in one SELECT expand
    // exponentially under alias substitution)
    val fold = {
      var src = "piv"
      val sb = new StringBuilder
      (0 until rows).foreach { r =>
        val carry = Seq("id", "band") ++ ((r + 1) until rows).map(x => s"s$x")
        val in = if (r == 0) s"xor($GOLDH, ${toU("s0")})"
        else s"xor(f${r - 1}, ${toU(s"s$r")})"
        val out = if (r == rows - 1) "bhv" else s"f$r"
        val (block, last) = mixCtes(src, carry, in, out, s"bf$r")
        if (sb.nonEmpty) sb ++= ", "
        sb ++= block
        src = last
      }
      (sb.toString, src)
    }
    val block = s"t0 AS (SELECT id, tid, regexp_extract_all(lower(text), '$tokenRegex') AS ws FROM $srcCte), " +
      "tk AS (SELECT id, tid, len(ws) AS nw, unnest(ws) AS w, unnest(range(1, len(ws) + 1)) AS pos FROM t0 WHERE len(ws) > 0), " +
      s"$whBlock, " +
      s"g1 AS (SELECT id, tid, nw, pos, wh, ${mixCols("xa", s"xor($seed3, wh)", "c1")} FROM $whCte), " +
      "l1 AS (SELECT id, tid, nw, pos, wh, c1, lag(c1) OVER (PARTITION BY id, tid ORDER BY pos) AS p1 FROM g1), " +
      s"g2 AS (SELECT id, tid, nw, pos, wh, ${mixCols("xb", "xor(p1, wh)", "c2")} FROM l1), " +
      "l2 AS (SELECT id, tid, nw, pos, wh, c2, lag(c2) OVER (PARTITION BY id, tid ORDER BY pos) AS p2 FROM g2), " +
      s"g3 AS (SELECT id, tid, nw, pos, wh, ${mixCols("xc", "xor(p2, wh)", "h3")} FROM l2), " +
      "shd AS (SELECT DISTINCT id, CASE WHEN nw >= 3 THEN h3 ELSE wh END AS sh FROM g3 " +
      "WHERE (nw >= 3 AND pos >= 3) OR nw < 3), " +
      s"seeds AS (SELECT c0 AS f, ${toU("c1")} AS sd FROM (VALUES $seeds) v(c0, c1)), " +
      s"hx0 AS (SELECT id, f, xor(sh, sd) AS shx FROM shd CROSS JOIN seeds), " +
      s"${hxBlock._1}, " +
      // materialized: DuckDB inlines a CTE at each reference, and every
      // reader of sigs would rerun the permutation stage
      s"sigs AS MATERIALIZED (SELECT id, f, min(${toSigned("hv")}) AS sv FROM ${hxBlock._2} GROUP BY id, f), " +
      s"piv AS (SELECT id, f // $rows AS band, " +
      (0 until rows).map(r => s"max(CASE WHEN f % $rows = $r THEN sv END) AS s$r")
        .mkString(", ") +
      s" FROM sigs GROUP BY id, f // $rows), " +
      s"${fold._1}"
    (block, "sigs", fold._2)
  }

  /** Full SQL replication of [[graft.dedup.Dedup.convNearDups]] over
    * doc-derived conversations (conv = source, turn = doc) plus the
    * min-source conversation planted again under 'dup::<source>': the
    * custom MinHashAgg union sketch is the element-wise min across
    * turns, which equals the MinHash of the union shingle set — so the
    * shared sketch chain keyed (conv, doc) replays it exactly. Pairs
    * come from the same banded-fold equi-join; the signature-agreement
    * estimate eq/numHashes is compared as an integer count (k/64 has
    * ≤ 6 decimal digits, so round(·, 6) is exact on both engines).
    */
  def convDedupSql(
      threshold: Double = 0.7, numHashes: Int = 64, bands: Int = 16): String = {
    val src = "(SELECT source AS id, doc_id AS tid, text FROM documents " +
      "UNION ALL SELECT 'dup::' || source, doc_id, text FROM documents " +
      "WHERE source = (SELECT min(source) FROM documents))"
    val (block, sigs, banded) = minhashSketchCtes(src, numHashes, bands)
    // est >= threshold ⟺ integer agreement count >= ceil(t·n)
    val minEq = math.ceil(threshold * numHashes).toInt
    s"WITH $block, " +
      s"cpairs AS (SELECT DISTINCT l.id AS id_a, r.id AS id_b FROM $banded l " +
      s"JOIN $banded r ON l.band = r.band AND l.bhv = r.bhv AND l.id < r.id), " +
      s"cagree AS (SELECT p.id_a, p.id_b, sum(CASE WHEN a.sv = b.sv THEN 1 ELSE 0 END) AS neq " +
      s"FROM cpairs p JOIN $sigs a ON a.id = p.id_a " +
      s"JOIN $sigs b ON b.id = p.id_b AND b.f = a.f GROUP BY p.id_a, p.id_b) " +
      s"SELECT id_a, id_b, round(CAST(neq AS DOUBLE) / $numHashes, 6) AS est_jaccard " +
      s"FROM cagree WHERE neq >= $minEq ORDER BY id_a, id_b"
  }

  /** Full SQL replication of [[graft.grammar.Cyk.parseSentence]] over a
    * fixed sentence list: CYK is bottom-up span filling, so the table
    * unrolls as one CTE per span length — cum1 is the diagonal (lexicon
    * tags, or the unknown-word POS guess; the unary closure is a no-op
    * on the diagonal because lexicon tags map only to themselves and
    * PP never appears there), and each cum_l joins every (x, y) split
    * with the binary grammar. Lexicon, grammar and sentences ship as
    * VALUES — the same dump technique as the langid weight matrix.
    * Pure string/set logic, no float anywhere. Reference:
    * cfg_generator.py:423-500.
    */
  def cykSql(sentences: Seq[String]): String = {
    def esc(s: String) = s.replace("'", "''")
    require(sentences.nonEmpty, "cykSql needs at least one sentence")
    val sent = sentences.zipWithIndex
      .map { case (s, i) => s"($i, '${esc(s)}')" }.mkString(", ")
    val lex = Cyk.lexicon.toSeq.sortBy(_._1)
      .flatMap { case (w, ts) => ts.toSeq.sorted.map(t => s"('${esc(w)}', '$t')") }
      .mkString(", ")
    val gram = Cyk.binaryGrammar.toSeq.sortBy(x => (x._1._1, x._1._2))
      .flatMap { case ((l, r), ps) => ps.map(p => s"('$l', '$r', '$p')") }
      .mkString(", ")
    val maxN = sentences.map(_.split("\\s+").count(_.nonEmpty)).max
    // Python word.lower().strip('.,!?";') — strip both ends after lower
    val cleaned = "regexp_replace(regexp_replace(lower(raw), " +
      "'^[.,!?\";]+', ''), '[.,!?\";]+$', '')"
    val sb = new StringBuilder
    sb ++= s"WITH sent AS (SELECT c0 AS sid, c1 AS s FROM (VALUES $sent) v(c0, c1)), "
    sb ++= "wl AS (SELECT sid, list_filter(regexp_split_to_array(s, '\\s+'), x -> x <> '') AS ws FROM sent), "
    sb ++= "w AS (SELECT sid, unnest(range(1, len(ws) + 1)) AS i, unnest(ws) AS raw FROM wl WHERE len(ws) > 0), "
    sb ++= s"cw AS (SELECT sid, i, raw, $cleaned AS cleaned FROM w), "
    sb ++= s"lex AS (SELECT c0 AS word, c1 AS tag FROM (VALUES $lex) v(c0, c1)), "
    sb ++= s"gram AS (SELECT c0 AS gl, c1 AS gr, c2 AS gp FROM (VALUES $gram) v(c0, c1, c2)), "
    // diagonal: lexicon tags, else guessPosCyk (the uppercase branch
    // and the default branch both yield N, so only the suffixes matter)
    sb ++= "known AS (SELECT cw.sid, cw.i AS a, cw.i AS j, lex.tag AS sym FROM cw JOIN lex ON lex.word = cw.cleaned), "
    sb ++= "unk AS (SELECT sid, i, raw, cleaned FROM cw WHERE cleaned NOT IN (SELECT word FROM lex)), "
    sb ++= "guess AS (SELECT sid, i AS a, i AS j, CASE WHEN ends_with(cleaned, 'ly') THEN 'ADV' " +
      "WHEN ends_with(cleaned, 'ing') OR ends_with(cleaned, 'ed') THEN 'V' ELSE 'N' END AS sym FROM unk), "
    // MATERIALIZED is load-bearing: DuckDB inlines CTEs by default and
    // each cum_l references cum_{l-1} TWICE (the x/y split sides) — an
    // inlined chain expands 2^maxN copies of the diagonal
    sb ++= "cum1 AS MATERIALIZED (SELECT * FROM known UNION SELECT * FROM guess)"
    (2 to maxN).foreach { l =>
      val prev = s"cum${l - 1}"
      sb ++= s", c$l AS (SELECT DISTINCT x.sid, x.a, y.j, g.gp AS sym " +
        s"FROM $prev x JOIN $prev y ON y.sid = x.sid AND y.a = x.j + 1 AND y.j = x.a + ${l - 1} " +
        "JOIN gram g ON g.gl = x.sym AND g.gr = y.sym)"
      sb ++= s", cum$l AS MATERIALIZED (SELECT * FROM $prev UNION ALL SELECT * FROM c$l)"
    }
    val top = s"cum$maxN"
    sb ++= s", n AS (SELECT sid, max(i) AS n FROM w GROUP BY sid)"
    sb ++= s", sval AS (SELECT DISTINCT sid, j FROM $top WHERE sym = 'S' AND a = 1)"
    sb ++= ", unkagg AS (SELECT sid, string_agg(raw, ', ' ORDER BY i) AS uw FROM unk GROUP BY sid) "
    sb ++= "SELECT s.s AS sentence, " +
      "CASE WHEN n.n IS NULL THEN false ELSE sv.sid IS NOT NULL END AS valid, " +
      "CASE WHEN n.n IS NULL THEN 'Empty sentence' " +
      "WHEN sv.sid IS NOT NULL THEN 'Grammatically correct' " +
      "WHEN u.uw IS NOT NULL THEN 'Unknown words: ' || u.uw " +
      "ELSE 'Invalid sentence structure' END AS reason " +
      "FROM sent s LEFT JOIN n ON n.sid = s.sid " +
      "LEFT JOIN sval sv ON sv.sid = s.sid AND sv.j = n.n " +
      "LEFT JOIN unkagg u ON u.sid = s.sid ORDER BY sentence"
    sb.toString
  }

  /** A media row's bytes as one lowercase hex literal: two digits per
    * UNSIGNED byte. A signed byte rendered negative would shift every
    * header read and the FNV hash over them.
    */
  private[graft] def hexLiteral(bytes: Array[Byte]): String =
    java.util.HexFormat.of().formatHex(bytes)

  /** FNV-1a 64 over a byte-list expr, replicating
    * Multimodal.MediaCodec.hashBytes: the engine XORs the SIGNED byte
    * (sign-extended to 64 bits), so a byte v >= 0x80 contributes
    * 2^64 - 256 + v, not v. Result is unsigned HUGEINT in [0, 2^64).
    */
  private def fnvBytes(listExpr: String): String =
    s"list_reduce(list_prepend(CAST('14695981039346656037' AS HUGEINT), " +
      s"list_transform($listExpr, x -> CASE WHEN x >= 128 THEN $P64 - 256 + CAST(x AS HUGEINT) " +
      "ELSE CAST(x AS HUGEINT) END)), " +
      s"(h, c) -> (xor(h, c) * 1099511628211) % $P64)"

  /** How a media row's bytes reach DuckDB, for all three multimodal
    * oracles: each row ships as one [[hexLiteral]] in VALUES and is
    * decoded to its 0..255 byte list in one linear pass over the
    * literal's two-digit pairs (indexing the whole string per byte would
    * cost O(bytes²) per row). CTE `media` exposes (mid, kind, bl,
    * byte_len, hu), hu being the unsigned [[fnvBytes]] content hash; it
    * is materialized, so its several readers decode and hash once.
    */
  private def mediaCtes(rows: Seq[(Long, String, Array[Byte])]): String = {
    val vals = rows.map { case (id, kind, bytes) => s"($id, '$kind', '${hexLiteral(bytes)}')" }
      .mkString(", ")
    def digit(x: String) = s"(strpos('0123456789abcdef', $x) - 1)"
    "msrc AS (SELECT c0 AS mid, c1 AS kind, list_transform(regexp_extract_all(c2, '..'), " +
      s"x -> ${digit("x[1]")} * 16 + ${digit("x[2]")}) AS bl FROM (VALUES $vals) v(c0, c1, c2)), " +
      s"media AS MATERIALIZED (SELECT mid, kind, bl, len(bl) AS byte_len, ${fnvBytes("bl")} AS hu FROM msrc)"
  }

  /** 0-based byte readers over `bl`, the byte list of [[mediaCtes]]
    * (DuckDB lists are 1-based); `o` is any SQL integer expression.
    */
  private def u8(o: String, k: Int = 0): String = s"bl[$o + ${k + 1}]"
  private def le16(o: String): String = s"(${u8(o)} + 256 * ${u8(o, 1)})"
  private def le32(o: String): String = s"(${le16(o)} + 65536 * ${le16(s"$o + 2")})"
  private def be16(o: String): String = s"(256 * ${u8(o)} + ${u8(o, 1)})"
  private def be32(o: String): String = s"(65536 * ${be16(o)} + ${be16(s"$o + 2")})"
  private def magic(o: Int, bytes: Int*): String =
    bytes.zipWithIndex.map { case (v, k) => s"${u8(o.toString, k)} = $v" }.mkString(" AND ")

  /** The multimodal METADATA rule over [[mediaCtes]]: dims are read
    * FROM THE BYTES at each container's published offsets (PNG IHDR
    * big-endian, BMP/GIF little-endian, WAV fmt/data; JPEG SOF0 sits at
    * the fixed offset our baseline encoder emits — segment order SOI,
    * APP0(16), DQT(67)x2 puts the marker at byte 158), AVI rows at the
    * canonical writer's header offsets, and opaque video rows replay
    * the hash-derived stub (mix-chained dims and duration) exactly. CTE
    * `mdims` exposes (mid, kind, byte_len, hu, width, height,
    * duration_ms).
    */
  private def mediaMetaCtes(rows: Seq[(Long, String, Array[Byte])]): String =
    s"${mediaCtes(rows)}, " +
      // format classification from magic bytes (synth images are real
      // containers; fake-video bytes matching a magic AND a coherent
      // header is out of the deterministic fixture's value space)
      "mfmt AS (SELECT mid, kind, byte_len, bl, hu, CASE " +
      s"WHEN kind = 'image' AND ${magic(0, 66, 77)} THEN 'bmp' " +
      s"WHEN kind = 'image' AND ${magic(0, 137, 80)} THEN 'png' " +
      s"WHEN kind = 'image' AND ${magic(0, 71, 73)} THEN 'gif' " +
      s"WHEN kind = 'image' AND ${magic(0, 255, 216)} THEN 'jpeg' " +
      "WHEN kind = 'audio' THEN 'wav' " +
      s"WHEN kind = 'video' AND ${magic(0, 82, 73, 70, 70)} AND ${magic(8, 65, 86, 73)} THEN 'avi' " +
      "ELSE 'stub' END AS fmt FROM media), " +
      // stub dims/duration: w = 64 + (mix(h) & 0x3ff), h' = 64 +
      // (mix(h+1) & 0x3ff), dur = 1000 + (mix(h+2) & 0xffff)
      s"mst0 AS (SELECT mid, ${mixCols("sa", "hu", "m0")}, " +
      s"${mixCols("sb", s"(hu + 1) % $P64", "m1")}, " +
      s"${mixCols("sc", s"(hu + 2) % $P64", "m2")} FROM mfmt WHERE fmt = 'stub'), " +
      "mstub AS (SELECT mid, CAST(64 + m0 % 1024 AS INTEGER) AS width, " +
      "CAST(64 + m1 % 1024 AS INTEGER) AS height, " +
      "CAST(1000 + m2 % 65536 AS BIGINT) AS duration_ms FROM mst0), " +
      // AVI fields at the canonical writer's fixed offsets
      // (AviCodec.aviMjpegBytes: usPerFrame @32, nFrames @48, width
      // @64, height @68, all u32 LE)
      "mdims AS (SELECT f.mid, f.kind, f.byte_len, f.hu, CASE f.fmt " +
      s"WHEN 'bmp' THEN ${le32("18")} WHEN 'png' THEN ${be32("16")} " +
      s"WHEN 'gif' THEN ${le16("6")} WHEN 'jpeg' THEN ${be16("165")} " +
      s"WHEN 'avi' THEN ${le32("64")} " +
      "WHEN 'wav' THEN 0 ELSE st.width END AS width, " +
      s"CASE f.fmt WHEN 'bmp' THEN ${le32("22")} WHEN 'png' THEN ${be32("20")} " +
      s"WHEN 'gif' THEN ${le16("8")} WHEN 'jpeg' THEN ${be16("163")} " +
      s"WHEN 'avi' THEN ${le32("68")} " +
      "WHEN 'wav' THEN 0 ELSE st.height END AS height, " +
      s"CASE f.fmt WHEN 'wav' THEN least(${le32("40")}, f.byte_len - 44) * 1000 // " +
      s"(${le32("24")} * ${le16("22")} * (${le16("34")} // 8)) " +
      s"WHEN 'avi' THEN ${le32("32")} * ${le32("48")} // 1000 " +
      "WHEN 'stub' THEN st.duration_ms ELSE 0 END AS duration_ms " +
      "FROM mfmt f LEFT JOIN mstub st ON st.mid = f.mid)"

  /** The multimodal_features columns of [[mediaMetaCtes]]' `mdims`. */
  private val metaCols = s"mid AS media_id, kind, byte_len, ${toSigned("hu")} AS content_hash, " +
    "CAST(width AS INTEGER) AS width, CAST(height AS INTEGER) AS height, " +
    "CAST(duration_ms AS BIGINT) AS duration_ms"

  /** Full SQL replication of the multimodal METADATA path
    * (multimodal_features: byte_len, content_hash, width, height,
    * duration_ms — the query projects no feature vector) over the
    * synthMedia set: [[mediaMetaCtes]]. The one path not re-derivable
    * in SQL is nothing: this query's outputs are all integer metadata.
    */
  def multimodalMetaSql(rows: Seq[(Long, String, Array[Byte])]): String =
    s"WITH ${mediaMetaCtes(rows)} SELECT $metaCols FROM mdims ORDER BY media_id"

  /** Frame sampling for the VIDEO rows of `rows`: the duration is
    * [[multimodalMetaSql]]'s (AVI header or hash stub), and offsets are
    * 0, 1000, ... &lt; duration — Multimodal.sampleFrames at its
    * default 1000 ms.
    */
  def multimodalFramesSql(rows: Seq[(Long, String, Array[Byte])]): String =
    s"WITH ${mediaMetaCtes(rows.filter(_._2 == "video"))} " +
      "SELECT mid AS media_id, unnest(range(0, CAST(duration_ms AS BIGINT), 1000)) AS frame_offset_ms " +
      "FROM mdims ORDER BY media_id, frame_offset_ms"

  /** Full SQL replication of the BMP/WAV feature extraction
    * ([[graft.multimodal.Multimodal.MediaCodec.decode]] on its REAL
    * payload paths) over a fixed media set, with the metadata columns
    * of [[multimodalMetaSql]]: raw 24-bpp bottom-up BGR pixels and
    * PCM16 LE samples are pure integer indexing into the
    * [[mediaCtes]] byte list, and the feature floats replay the
    * engine's exact Float chain (REAL/REAL stays FLOAT in DuckDB,
    * verified bit-equal to the float32 chain). Header fields (dims,
    * data offset, data length) are READ FROM THE BYTES, not assumed.
    * Audio sum-of-squares addends are integers < 2^53 total, so
    * unordered sum() is exact — no order forcing needed (unlike the
    * log-prob folds).
    */
  def multimodalRawSql(rows: Seq[(Long, String, Array[Byte])]): String = {
    val px = "off + (h - 1 - p // w) * stride + 3 * (p % w)" // pixel p's BGR triple
    s"WITH ${mediaMetaCtes(rows)}, " +
      // ---- BMP: header fields then pixel indexing (bottom-up BGR) ----
      s"bh AS (SELECT mid, bl, ${le32("18")} AS w, ${le32("22")} AS h, ${le32("10")} AS off, " +
      s"(${le32("18")} * 3 + 3) // 4 * 4 AS stride FROM media WHERE kind = 'image'), " +
      "bp AS (SELECT mid, w, h, unnest(range(0, w*h)) AS p, bl, off, stride FROM bh), " +
      s"rgb AS (SELECT mid, w, h, ${u8(px, 2)} AS r, ${u8(px, 1)} AS g, ${u8(px)} AS b FROM bp), " +
      "iagg AS (SELECT mid, w*h AS n, sum(r) AS sr, sum(g) AS sg, sum(b) AS sb " +
      "FROM rgb GROUP BY mid, w*h), " +
      "ihist AS (SELECT mid, least(11, (r*299 + g*587 + b*114) // 1000 * 12 // 256) AS bin, " +
      "count(*) AS c FROM rgb GROUP BY 1, 2), " +
      "ifeat AS (" +
      "SELECT mid, 0 AS j, CAST(sr AS REAL)/CAST(n AS REAL)/CAST(255 AS REAL) AS v FROM iagg " +
      "UNION ALL SELECT mid, 1, CAST(sg AS REAL)/CAST(n AS REAL)/CAST(255 AS REAL) FROM iagg " +
      "UNION ALL SELECT mid, 2, CAST(sb AS REAL)/CAST(n AS REAL)/CAST(255 AS REAL) FROM iagg " +
      "UNION ALL SELECT a.mid, 3 + k, " +
      "CAST(coalesce(ih.c, 0) AS REAL)/CAST(a.n AS REAL) " +
      "FROM iagg a CROSS JOIN (SELECT unnest(range(0, 12)) AS k) ks " +
      "LEFT JOIN ihist ih ON ih.mid = a.mid AND ih.bin = k " +
      "UNION ALL SELECT mid, 15, CAST(1 AS REAL) FROM iagg), " +
      // ---- WAV: data length then PCM16 LE sample indexing ----
      s"wn AS (SELECT mid, bl, least(${le32("40")}, byte_len - 44) // 2 AS n " +
      "FROM media WHERE kind = 'audio'), " +
      "smi AS (SELECT mid, n, bl, unnest(range(0, n)) AS i FROM wn), " +
      s"sm0 AS (SELECT mid, n, i, ${le16("44 + 2 * i")} AS uv FROM smi), " +
      "sm AS (SELECT mid, n, i, CASE WHEN uv >= 32768 THEN uv - 65536 ELSE uv END AS s FROM sm0), " +
      "sml AS (SELECT mid, n, i, s, lag(s) OVER (PARTITION BY mid ORDER BY i) AS ps FROM sm), " +
      "wagg AS (SELECT mid, max(n) AS n, sum(s*s) AS sq, max(abs(s)) AS peak, " +
      "sum(CASE WHEN i > 0 AND ((s >= 0) <> (ps >= 0)) THEN 1 ELSE 0 END) AS zc " +
      "FROM sml GROUP BY mid), " +
      "whist AS (SELECT mid, least(10, abs(s) * 11 // 32768) AS bin, count(*) AS c " +
      "FROM sm GROUP BY 1, 2), " +
      "wfeat AS (" +
      "SELECT mid, 0 AS j, CAST(sqrt(CAST(sq AS DOUBLE) / n) / 32768.0 AS REAL) AS v FROM wagg " +
      "UNION ALL SELECT mid, 1, CAST(peak AS REAL)/CAST(32768 AS REAL) FROM wagg " +
      "UNION ALL SELECT mid, 2, CASE WHEN n > 1 THEN CAST(zc AS REAL)/CAST(n - 1 AS REAL) ELSE CAST(0 AS REAL) END FROM wagg " +
      "UNION ALL SELECT a.mid, 3 + k, CAST(coalesce(wth.c, 0) AS REAL)/CAST(a.n AS REAL) " +
      "FROM wagg a CROSS JOIN (SELECT unnest(range(0, 11)) AS k) ks " +
      "LEFT JOIN whist wth ON wth.mid = a.mid AND wth.bin = k " +
      "UNION ALL SELECT mid, 14, CAST(0 AS REAL) FROM wagg " +
      "UNION ALL SELECT mid, 15, CAST(1 AS REAL) FROM wagg), " +
      "feat AS (SELECT * FROM ifeat UNION ALL SELECT * FROM wfeat) " +
      s"SELECT $metaCols, j AS feat_idx, v AS feat_val " +
      "FROM mdims JOIN feat USING (mid) ORDER BY media_id, feat_idx"
  }

  /** Hyperplane signature CTEs over `embeddings` (dim 64): the seeded
    * plane components ship as 17-digit double literals (exact dyadic
    * values, parse back bit-identical), and each bit's dot product is
    * an ORDER-FORCED left-fold in dimension order — ulp-for-ulp the
    * engine's accumulation (Similarity.hyperplaneSig), so the SIGN of
    * every bit (and therefore bucket membership) is reproduced
    * exactly, never approximated with a tolerance.
    */
  private def embPlanesCtes(nBits: Int, dim: Int = 64): String = {
    val vals = (0 until nBits).flatMap(b => (0 until dim).map(d =>
      s"($b,$d,'${graft.knn.Similarity.planeComponent(b, d)}')")).mkString(",")
    s"pl AS (SELECT c0 AS pb, c1 AS pd, CAST(c2 AS DOUBLE) AS pc FROM (VALUES $vals) v(c0, c1, c2)), " +
      "ev AS (SELECT vec_id AS id, embedding AS v FROM embeddings), " +
      "edt AS (SELECT id, pb, list_reduce(list_prepend(0.0, " +
      "list(CAST(v[pd + 1] AS DOUBLE) * pc ORDER BY pd)), (a, x) -> a + x) AS dot " +
      "FROM ev CROSS JOIN pl GROUP BY id, pb), " +
      "sg AS (SELECT id, sum(CASE WHEN dot >= 0 THEN CAST(1 AS BIGINT) << pb ELSE CAST(0 AS BIGINT) END) AS sig " +
      "FROM edt GROUP BY id)"
  }

  /** Exact cosine over a pair CTE exposing (keys..., va, vb): the
    * dot/na/nb accumulators are ORDER-FORCED folds in dimension order
    * (Similarity.cosine adds in index order), so sim is bit-exact.
    */
  private def cosineCtes(src: String, keys: Seq[String], p: String, dim: Int = 64): (String, String) = {
    val k = keys.mkString(", ")
    val block =
      s"${p}tm AS (SELECT $k, unnest(range(1, ${dim + 1})) AS d, va, vb FROM $src), " +
        s"${p}tt AS (SELECT $k, d, CAST(va[d] AS DOUBLE) AS x, CAST(vb[d] AS DOUBLE) AS y FROM ${p}tm), " +
        s"${p}cs AS (SELECT $k, " +
        "list_reduce(list_prepend(0.0, list(x * y ORDER BY d)), (a, t) -> a + t) AS dot, " +
        "list_reduce(list_prepend(0.0, list(x * x ORDER BY d)), (a, t) -> a + t) AS na, " +
        "list_reduce(list_prepend(0.0, list(y * y ORDER BY d)), (a, t) -> a + t) AS nb " +
        s"FROM ${p}tt GROUP BY $k), " +
        s"${p}sim AS (SELECT $k, CASE WHEN na = 0 OR nb = 0 THEN 0.0 ELSE dot / sqrt(na * nb) END AS sim FROM ${p}cs)"
    (block, s"${p}sim")
  }

  /** Full SQL replication of [[graft.dedup.Dedup.embeddingNearDups]]
    * over `embeddings`: 8-bit hyperplane signatures, 4×2-bit band
    * equi-join, exact cosine verify ≥ threshold.
    */
  def embeddingDedupSql(threshold: Double = 0.25, nBits: Int = 8, nBands: Int = 4): String = {
    val bits = nBits / nBands
    val mask = (1L << bits) - 1
    val (cosBlock, simCte) = cosineCtes("pv", Seq("id_a", "id_b"), "D")
    s"WITH ${embPlanesCtes(nBits)}, " +
      s"bd AS (SELECT id, band, (sig >> (band * $bits)) & $mask AS bh FROM sg " +
      s"CROSS JOIN (SELECT unnest(range(0, $nBands)) AS band) bs), " +
      "prs AS (SELECT DISTINCT l.id AS id_a, r.id AS id_b FROM bd l " +
      "JOIN bd r ON l.band = r.band AND l.bh = r.bh AND l.id < r.id), " +
      "pv AS (SELECT p.id_a, p.id_b, a.v AS va, b.v AS vb FROM prs p " +
      "JOIN ev a ON a.id = p.id_a JOIN ev b ON b.id = p.id_b), " +
      s"$cosBlock " +
      s"SELECT id_a, id_b, round(sim, 6) AS sim FROM $simCte WHERE sim >= $threshold ORDER BY id_a, id_b"
  }

  /** Full SQL replication of [[graft.knn.Similarity.topKLsh]] for the
    * vec_id = 0 query: candidates share ≥1 of the 4×4-bit bands with
    * the query signature; exact cosine; top-k by (sim DESC, id).
    */
  def annLshSql(k: Int = 5, nBits: Int = 16, nBands: Int = 4): String = {
    val bits = nBits / nBands
    val mask = (1L << bits) - 1
    val bandCond = (0 until nBands).map(b =>
      s"((s.sig >> ${b * bits}) & $mask) = ((q.qsig >> ${b * bits}) & $mask)").mkString(" OR ")
    val (cosBlock, simCte) = cosineCtes("pv", Seq("id"), "A")
    s"WITH ${embPlanesCtes(nBits)}, " +
      "q AS (SELECT sig AS qsig FROM sg WHERE id = 0), " +
      "qv AS (SELECT v AS qvec FROM ev WHERE id = 0), " +
      s"cand AS (SELECT s.id FROM sg s, q WHERE $bandCond), " +
      "pv AS (SELECT c.id, e.v AS va, qq.qvec AS vb FROM cand c " +
      "JOIN ev e ON e.id = c.id CROSS JOIN qv qq), " +
      s"$cosBlock " +
      "SELECT id AS vec_id, round(sim, 6) AS sim FROM " +
      s"(SELECT id, sim FROM $simCte ORDER BY sim DESC, id LIMIT $k)"
  }

  /** Full SQL replication of [[graft.knn.Similarity.topKBatchLsh]] for
    * the vec_id &lt; 4 query set: both sides banded, candidate = any
    * shared band, exact cosine, per-query rank ≤ k.
    */
  def annBatchLshSql(k: Int = 3, nBits: Int = 16, nBands: Int = 4): String = {
    val bits = nBits / nBands
    val mask = (1L << bits) - 1
    val (cosBlock, simCte) = cosineCtes("pv", Seq("qid", "cid"), "B")
    s"WITH ${embPlanesCtes(nBits)}, " +
      s"bd AS (SELECT id, band, (sig >> (band * $bits)) & $mask AS bh FROM sg " +
      s"CROSS JOIN (SELECT unnest(range(0, $nBands)) AS band) bs), " +
      "cnd AS (SELECT DISTINCT q.id AS qid, c.id AS cid FROM bd c " +
      "JOIN bd q ON q.band = c.band AND q.bh = c.bh WHERE q.id < 4), " +
      "pv AS (SELECT cnd.qid, cnd.cid, ec.v AS va, eq.v AS vb FROM cnd " +
      "JOIN ev ec ON ec.id = cnd.cid JOIN ev eq ON eq.id = cnd.qid), " +
      s"$cosBlock, " +
      s"rk AS (SELECT qid, cid, sim, row_number() OVER (PARTITION BY qid ORDER BY sim DESC, cid) AS rank FROM $simCte) " +
      s"SELECT qid, cid, round(sim, 6) AS sim, rank FROM rk WHERE rank <= $k ORDER BY qid, rank"
  }

  /** Full SQL replication of [[graft.chunk.Chunker.chunkText]] over
    * the sentencified documents corpus (the chunk_documents query):
    * the sequential greedy-packing fold runs as a list_reduce whose
    * VARCHAR accumulator encodes (chunks ++ chr(1)) chr(2) current —
    * DuckDB 1.0 folds require accumulator type == element type, so
    * the state machine is string-encoded. Sentence split replays the
    * reference's quirky re-add-punctuation pass (first containing
    * original part, Python for/else), and the overlap tail advances
    * past the FIRST `[.!?]\s+` break (non-greedy `^.*?` prefix) or
    * else past the first whitespace-split word. Corpus precondition
    * (asserted true for the driver tables): space-only whitespace and
    * ASCII text, so SQL trim == Python str.strip and length() ==
    * code-point pyLen. Reference: text_chunker.py:60-107.
    */
  def chunkSql(chunkSize: Int = 200, overlap: Int = 20): String = {
    val cur = "substr(s, strpos(s, chr(2)) + 1)"
    val head = "substr(s, 1, strpos(s, chr(2)) - 1)"
    val tailN = s"substr($cur, length($cur) - ${overlap - 1})"
    val tail =
      s"CASE WHEN length($cur) <= $overlap THEN $cur " +
        s"WHEN regexp_matches($tailN, '[.!?]\\s+') THEN regexp_replace($tailN, '^.*?[.!?]\\s+', '') " +
        s"WHEN len(list_filter(regexp_split_to_array($tailN, '\\s+'), w -> w <> '')) > 1 " +
        s"THEN regexp_replace($tailN, '^\\s*\\S+\\s+', '') " +
        s"ELSE $tailN END"
    val newHead = s"CASE WHEN $head = '' THEN trim($cur) ELSE $head || chr(1) || trim($cur) END"
    val newCur = s"CASE WHEN ($tail) = '' THEN x ELSE ($tail) || ' ' || x END"
    val lambda =
      s"CASE WHEN length($cur) + length(x) > $chunkSize AND $cur <> '' " +
        s"THEN $newHead || chr(2) || $newCur " +
        s"ELSE $head || chr(2) || (CASE WHEN $cur = '' THEN x ELSE $cur || ' ' || x END) END"
    "WITH ck0 AS (SELECT doc_id, " +
      "regexp_replace(text, '((\\S+\\s+){9}\\S+)\\s+', '\\1. ', 'g') AS text FROM documents), " +
      "cksp AS (SELECT doc_id, text, " +
      "list_filter(list_transform(regexp_split_to_array(text, '[.!?]+(\\s+|$)'), p -> trim(p)), p -> p <> '') AS pieces, " +
      "regexp_extract_all(text, '[^.!?]*[.!?]+') AS parts FROM ck0), " +
      "cks0 AS (SELECT doc_id, text, parts, unnest(range(1, len(pieces) + 1)) AS i, unnest(pieces) AS piece FROM cksp), " +
      "cksen AS (SELECT doc_id, text, i, CASE WHEN i <= len(parts) " +
      "THEN coalesce(trim(list_filter(parts, p -> strpos(p, piece) > 0)[1]), piece) " +
      "ELSE piece END AS sentence FROM cks0), " +
      "ckagg AS (SELECT doc_id, max(text) AS text, list(sentence ORDER BY i) AS sentences FROM cksen GROUP BY doc_id), " +
      s"ckfold AS (SELECT doc_id, text, list_reduce(list_prepend(chr(2), sentences), (s, x) -> $lambda) AS st FROM ckagg), " +
      "ckch AS (SELECT doc_id, " +
      s"CASE WHEN length(text) <= $chunkSize THEN [text] " +
      "ELSE list_filter(list_append(" +
      "list_filter(string_split(substr(st, 1, strpos(st, chr(2)) - 1), chr(1)), c -> c <> ''), " +
      "trim(substr(st, strpos(st, chr(2)) + 1))), c -> c <> '') END AS chunks FROM ckfold) " +
      "SELECT doc_id, unnest(range(1, len(chunks) + 1)) - 1 AS idx, unnest(chunks) AS chunk " +
      "FROM ckch ORDER BY doc_id, idx"
  }

  /** The product-config decision tail: lang gate + ppl gate after the
    * cheap chain, given joined raw columns (cheap, plang, pconf, pppl).
    */
  def productDecision(cfg: QualityRules.Config = QualityRules.productConfig): String = {
    val allowed = cfg.allowedLangs.toSeq.sorted.map(l => s"'$l'").mkString(", ")
    s"CASE WHEN cheap <> 'none' THEN cheap " +
      s"WHEN plang IS NULL OR plang NOT IN ($allowed) OR pconf < ${cfg.minLangConf} THEN 'lang' " +
      s"WHEN coalesce(pppl, $pplMaxLit) > ${cfg.maxPpl} THEN 'ppl' " +
      "ELSE 'none' END"
  }
}
