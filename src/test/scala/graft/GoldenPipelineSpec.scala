package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.model.Turn
import graft.pipeline.Curate
import graft.rules.{GrammarRules, QualityRules}
import graft.synth.Transcripts

/** Independent plain-Scala (non-Spark) oracle implementing the SAME
  * published rule definitions as the engine (FIXTURES.md F2): the
  * scrub chain and scalar rules are REIMPLEMENTED here from the spec
  * (not calls into the production column/UDF path), so the golden
  * comparison catches Spark integration bugs — wiring, gating,
  * column-expression vs Scala semantic drift. Shared components: the
  * trained langid/LM models and the grammar-rule bank (these ARE the
  * model — a second training would define a different spec).
  */
object GoldenOracle {
  private val cfg = QualityRules.defaultConfig
  private val models = Curate.defaultModels

  // scrub spec, reimplemented: ws → url → email → phone → key → slur
  // → punct collapse → ws (Scrubber.scala order; seeds web_scraper.py:67-103)
  private val ordered = Seq(
    "url" -> "https?://\\S+",
    "email" -> "\\S+@\\S+\\.\\S+",
    "phone" -> "\\+?\\d{1,3}[-. ]?\\(?\\d{3}\\)?[-. ]?\\d{3}[-. ]?\\d{4}",
    "key" -> "\\b(?:sk|pk|api|key|ghp|xoxb|xoxp)[-_][A-Za-z0-9_-]{16,}\\b",
    "slur" -> ("(?i)\\b(?:" + graft.scrub.Scrubber.defaultDenylist.mkString("|") + ")\\b"))

  def scrub(text0: String): (String, Map[String, Int]) = {
    var t = text0.replaceAll("\\s+", " ").trim
    var hits = Map.empty[String, Int]
    ordered.foreach { case (name, re) =>
      val n = re.r.findAllMatchIn(t).size
      if (n > 0) { hits += name -> n; t = t.replaceAll(re, "") }
    }
    t = t.replaceAll("[.]{3,}", "...").replaceAll("[!]{2,}", "!")
      .replaceAll("[?]{2,}", "?")
    (t.replaceAll("\\s+", " ").trim, hits)
  }

  final case class Expected(lang: String, keep: Boolean, dropReason: String,
      scrubbed: String, scrubHits: Map[String, Int])

  def expected(text: String): Expected = {
    val words = text.trim.split("\\s+").filter(_.nonEmpty)
    val wc = words.length
    val symbols = text.count(c =>
      !Character.isLetterOrDigit(c) && !Character.isWhitespace(c))
    val boiler = ("(?i)(Cookie\\s+Policy|Privacy\\s+Policy|Terms\\s+of\\s+Service|" +
      "Subscribe\\s+to.*newsletter|Follow\\s+us\\s+on|Share\\s+this)").r
      .findFirstIn(text).isDefined

    // rules BEFORE the langid stage, in ruleOrder
    val preLang: String =
      if (text == null || text.trim.isEmpty) "empty"
      else if (wc < cfg.minWords) "too_short"
      else if (wc > cfg.maxWords ||
        text.codePointCount(0, text.length) > cfg.maxChars) "too_long"
      else if (wc >= cfg.repMinWords &&
        words.map(_.toLowerCase).distinct.length.toDouble / wc < cfg.minDistinctRatio)
        "repetition"
      else if (symbols.toDouble / text.length > cfg.maxSymbolRatio) "symbol_ratio"
      else if (boiler) "boilerplate"
      else if (GrammarRules.ruleHits(text).size >= cfg.maxRuleHits) "grammar"
      else null

    // langid gated behind the earlier rules: dropped rows carry the
    // ("und", 0.0) sentinel and never hit the model
    val lang = if (preLang == null) models.langId.predict(text) else ("und", 0.0)
    val reason: String =
      if (preLang != null) preLang
      else if (!cfg.allowedLangs.contains(lang._1) || lang._2 < cfg.minLangConf) "lang"
      else if (models.lm.perplexity(text) > cfg.maxPpl) "ppl"
      else null

    val (scrubbed, hits) = scrub(text)
    Expected(lang._1, reason == null, reason, scrubbed, hits)
  }
}

class GoldenPipelineSpec extends SparkTestBase {

  val nConvs = 120L

  lazy val engineRows: Map[(String, Int), org.apache.spark.sql.Row] = {
    val ds = Transcripts.dataset(spark, nConvs)
    Curate.curateDf(spark, ds.toDF()).collect()
      .map(r => (r.getAs[String]("conv_id"), r.getAs[Int]("turn_idx")) -> r)
      .toMap
  }

  lazy val inputTurns: Seq[Turn] =
    (0L until nConvs).flatMap(c => Transcripts.conversation(42L, c).map(_._1))

  test("golden keep/drop: engine == independent oracle per turn (F1 target ≥ 0.99; exact match asserted)") {
    var agree = 0
    var total = 0
    inputTurns.foreach { t =>
      val exp = GoldenOracle.expected(t.text)
      val got = engineRows((t.conv_id, t.turn_idx))
      total += 1
      val gotKeep = got.getAs[Boolean]("keep")
      val gotReason = got.getAs[String]("drop_reason")
      assert(gotKeep == exp.keep && gotReason == exp.dropReason,
        s"turn ${t.conv_id}/${t.turn_idx}: engine=($gotKeep,$gotReason) " +
          s"oracle=(${exp.keep},${exp.dropReason}) text='${t.text.take(120)}'")
      agree += 1
    }
    assert(total > 1500)
    assert(agree == total) // F1 = 1.0 ≥ 0.99
  }

  test("golden scrubbed text: byte-identical per turn (north_rule)") {
    inputTurns.foreach { t =>
      val exp = GoldenOracle.expected(t.text)
      val got = engineRows((t.conv_id, t.turn_idx))
      assert(got.getAs[String]("scrubbed_text") == exp.scrubbed,
        s"turn ${t.conv_id}/${t.turn_idx}")
      assert(got.getAs[Map[String, Int]]("scrub_hits") == exp.scrubHits,
        s"turn ${t.conv_id}/${t.turn_idx} hits")
    }
  }

  test("golden lang matches oracle; true-lang F1 ≥ 0.99 on clean turns") {
    val labels = (0L until nConvs)
      .flatMap(c => Transcripts.conversation(42L, c).map(_._2))
      .map(l => (l.conv_id, l.turn_idx) -> l).toMap
    val cleanResults = inputTurns.flatMap { t =>
      val lab = labels((t.conv_id, t.turn_idx))
      if (lab.planted == Seq("clean"))
        Some((lab.true_lang, engineRows((t.conv_id, t.turn_idx)).getAs[String]("lang")))
      else None
    }
    assert(cleanResults.size > 800)
    Transcripts.langs.foreach { lang =>
      val tp = cleanResults.count { case (t, p) => t == lang && p == lang }.toDouble
      val fp = cleanResults.count { case (t, p) => t != lang && p == lang }.toDouble
      val fn = cleanResults.count { case (t, p) => t == lang && p != lang }.toDouble
      val f1 = 2 * tp / (2 * tp + fp + fn)
      assert(f1 >= 0.99, s"pipeline langid F1($lang)=$f1")
    }
  }

  test("metrics row tallies == per-turn oracle tallies (A2 contract)") {
    val m = Curate.metrics(Curate.curateDf(spark,
      Transcripts.dataset(spark, 60L).toDF())).head()
    val oracle = (0L until 60L)
      .flatMap(c => Transcripts.conversation(42L, c).map(_._1))
      .map(t => GoldenOracle.expected(t.text))
    assert(m.getAs[Long]("turns_seen") == oracle.size)
    assert(m.getAs[Long]("turns_kept") == oracle.count(_.keep))
    val byRule = m.getAs[Map[String, Long]]("dropped_by_rule")
    oracle.filter(!_.keep).groupBy(_.dropReason).foreach { case (r, xs) =>
      assert(byRule.getOrElse(r, 0L) == xs.size, s"rule $r")
    }
    val scrubTot = m.getAs[Map[String, Long]]("scrub_hit_counts")
    val oracleScrub = oracle.flatMap(_.scrubHits.toSeq)
      .groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2.toLong).sum }
    assert(scrubTot == oracleScrub)
  }

  test("all drop-reason labels occur in the corpus (rule coverage)") {
    val reasons = engineRows.values
      .flatMap(r => Option(r.getAs[String]("drop_reason"))).toSet
    val expected = Set("too_short", "too_long", "repetition", "symbol_ratio",
      "boilerplate", "grammar", "lang", "ppl")
    assert(expected.subsetOf(reasons), s"missing: ${expected -- reasons}")
  }

  test("optional CYK rule drops structurally-invalid short sentences when enabled") {
    import graft.pipeline.CurateCore
    val cfg = graft.rules.QualityRules.defaultConfig.copy(cykEnabled = true)
    val core = new CurateCore(Curate.defaultModels.langId, Curate.defaultModels.lm, cfg)
    // ≤12-word sentences, grammar-clean, but invalid under the effective
    // CNF grammar (intransitives can't form VP — CykSpec)
    val invalid = "the dog runs. the cat sleeps. the man walks."
    assert(core.process(invalid).drop_reason == "cyk")
    // transitive sentences parse → no cyk drop
    // verbs must come from the base lexicon ('takes'/'makes' would be
    // POS-guessed as N and fail the parse — cfg_generator.py:454-462)
    val valid = "the dog sees the cat. the man sees the book. the woman eats the food."
    assert(core.process(valid).drop_reason != "cyk")
    // default config leaves CYK off
    val coreOff = new CurateCore(Curate.defaultModels.langId, Curate.defaultModels.lm,
      graft.rules.QualityRules.defaultConfig)
    assert(coreOff.process(invalid).drop_reason != "cyk")
  }

  test("fused CurateCore kernel == unfused column pipeline (all columns)") {
    import org.apache.spark.sql.functions._
    val ds = Transcripts.dataset(spark, 50L).toDF()
    def norm(df: org.apache.spark.sql.DataFrame) = df
      .withColumn("ppl", when(isnan(col("ppl")), -1.0).otherwise(round(col("ppl"), 9)))
      .select("conv_id", "turn_idx", "lang", "lang_conf", "ppl", "rule_hits",
        "keep", "drop_reason", "scrubbed_text", "scrub_hits")
      .collect().map(_.toSeq.map(String.valueOf)).sortBy(_.toString)
    assert(norm(Curate.curateDf(spark, ds)).toSeq ==
      norm(CurateUnfused.curateDfUnfused(spark, ds)).toSeq)
  }

  test("fused == unfused under the cheap-rules-only config (grammar/cyk/langid/ppl toggles)") {
    import org.apache.spark.sql.functions._
    val cfg = graft.rules.QualityRules.cheapConfig
    val ds = Transcripts.dataset(spark, 50L).toDF()
    def norm(df: org.apache.spark.sql.DataFrame) = df
      .withColumn("ppl", when(isnan(col("ppl")), -1.0).otherwise(round(col("ppl"), 9)))
      .select("conv_id", "turn_idx", "lang", "lang_conf", "ppl", "rule_hits",
        "keep", "drop_reason", "scrubbed_text", "scrub_hits")
      .collect().map(_.toSeq.map(String.valueOf)).sortBy(_.toString)
    val fused = norm(Curate.curateDf(spark, ds, cfg))
    assert(fused.toSeq == norm(CurateUnfused.curateDfUnfused(spark, ds, cfg)).toSeq)
    // disabled stages really are disabled: sentinel lang, NaN ppl (→ -1
    // after norm), no grammar hits anywhere
    assert(fused.forall(r => r(2) == "und" && r(4) == "-1.0"))
  }

  test("fused == unfused on non-BMP length boundary and whitespace-degenerate repetition (ADVICE r1)") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val cfg = QualityRules.defaultConfig
    // emoji are 2 UTF-16 units / 1 code point: between maxChars code
    // points and maxChars UTF-16 units a UTF-16 gate flips the decision
    val emojiBody = ("😀" * (cfg.maxChars - 30)) + " plain tail words here"
    val justOver = ("😀" * (cfg.maxChars + 1)) + " plain tail words here"
    // tab-prefixed repetitive rows near the 0.3 distinct-ratio
    // threshold: a counted empty token flips "repetition"
    val rep = "\t" + (Seq.fill(18)("dup dup dup") :+ "uniq1 uniq2 uniq3 uniq4 uniq5")
      .mkString(" ")
    val texts = Seq(emojiBody, justOver, rep, "\t\n  \t", "  word  word word")
    val rows = texts.zipWithIndex.map { case (t, i) =>
      ("conv-x", i, "user", t, "none", new java.sql.Timestamp(0L))
    }.toDF("conv_id", "turn_idx", "role", "text", "tool", "ts")
    def norm(df: org.apache.spark.sql.DataFrame) = df
      .withColumn("ppl", when(isnan(col("ppl")), -1.0).otherwise(round(col("ppl"), 9)))
      .select("turn_idx", "lang", "keep", "drop_reason", "scrubbed_text")
      .collect().map(_.toSeq.map(String.valueOf)).sortBy(_.toString)
    val fused = norm(Curate.curateDf(spark, rows))
    val unfused = norm(CurateUnfused.curateDfUnfused(spark, rows))
    assert(fused.toSeq == unfused.toSeq)
    // and the code-point gate actually distinguishes the two emoji rows
    val byIdx = Curate.curateDf(spark, rows).collect()
      .map(r => r.getAs[Int]("turn_idx") -> r.getAs[String]("drop_reason")).toMap
    assert(byIdx(0) != "too_long", "maxChars-20 code points must pass the length gate")
    assert(byIdx(1) == "too_long")
  }

  test("fused == unfused on 300 seeded random unicode strings (fuzz)") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val rnd = new scala.util.Random(20260816L)
    val fragments = Array(
      "the", "dog", "Cookie Policy", "he are", "focus on", "https://x.io/a",
      "bob@ex.com", "+1 555 123 4567", "frak", "!!", "...", "??", "\t", "\n",
      " ", " ", "😀", "🎉", "是的", "同意", "naïve", "Ünïcode",
      "dup dup dup dup dup", "x", "", "   ", "sk-abcdefghijklmnop1234",
      "WORD", "ing", "ly", ".", "?", "a b c d e f g h i j")
    val texts = (0 until 300).map { _ =>
      val n = 1 + rnd.nextInt(40)
      (0 until n).map(_ => fragments(rnd.nextInt(fragments.length)))
        .mkString(if (rnd.nextBoolean()) " " else "  ")
    }
    val rows = texts.zipWithIndex.map { case (t, i) =>
      ("conv-f", i, "user", t, "none", new java.sql.Timestamp(0L))
    }.toDF("conv_id", "turn_idx", "role", "text", "tool", "ts")
    def norm(df: org.apache.spark.sql.DataFrame) = df
      .withColumn("ppl", when(isnan(col("ppl")), -1.0).otherwise(round(col("ppl"), 9)))
      .select("turn_idx", "lang", "lang_conf", "ppl", "keep", "drop_reason",
        "scrubbed_text", "scrub_hits", "rule_hits")
      .collect().map(_.toSeq.map(String.valueOf)).sortBy(_.toString)
    assert(norm(Curate.curateDf(spark, rows)).toSeq ==
      norm(CurateUnfused.curateDfUnfused(spark, rows)).toSeq)
  }

  test("order invariance: decisions identical under repartition + shuffled input (SURVEY.md §5 property)") {
    import org.apache.spark.sql.functions._
    val ds = Transcripts.dataset(spark, 40L).toDF()
    val base = Curate.curateDf(spark, ds)
      .select("conv_id", "turn_idx", "keep", "drop_reason", "scrubbed_text")
      .collect().map(_.toSeq).sortBy(_.toString)
    val shuffled = Curate.curateDf(spark,
        ds.orderBy(rand(123)).repartition(7))
      .select("conv_id", "turn_idx", "keep", "drop_reason", "scrubbed_text")
      .collect().map(_.toSeq).sortBy(_.toString)
    assert(base.toSeq == shuffled.toSeq)
  }

  test("two-phase reassembly == naive reassembly, incl. a skewed 5k-turn conversation") {
    import org.apache.spark.sql.functions._
    val ds = Transcripts.dataset(spark, 15L, skew = true, skewTurns = 5000).toDF()
    val cur = Curate.curateDf(spark, ds).persist()
    val naive = cur.filter(col("keep"))
      .groupBy("conv_id")
      .agg(concat_ws(" ",
        transform(array_sort(collect_list(struct(col("turn_idx"), col("scrubbed_text")))),
          x => x.getField("scrubbed_text"))).as("reassembled"))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    val twoPhase = Curate.reassembleTwoPhase(cur, blockSize = 128)
      .collect().map(r => r.getAs[String]("conv_id") -> r.getAs[String]("reassembled")).toMap
    assert(twoPhase.keySet == naive.keySet)
    naive.foreach { case (c, text) =>
      assert(twoPhase(c) == text, s"conv $c reassembly differs")
    }
    // salted conv stats agree with direct aggregation
    val direct = cur.groupBy("conv_id")
      .agg(count(lit(1)).as("n"), sum(when(col("keep"), 1L).otherwise(0L)).as("k"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val salted = Curate.convStatsSalted(cur)
      .collect().map(r => r.getAs[String]("conv_id") ->
        (r.getAs[Long]("n_turns"), r.getAs[Long]("n_kept"))).toMap
    assert(salted == direct)
    cur.unpersist()
  }

  test("salted write repartition preserves (conv_id, turn_idx) sorted runs per partition") {
    import org.apache.spark.sql.functions._
    val ds = Transcripts.dataset(spark, 20L, skew = true, skewTurns = 2000).toDF()
    val out = Curate.saltedForWrite(Curate.curateDf(spark, ds), 6, salt = 4)
    val perPart = out.select("conv_id", "turn_idx")
      .rdd.mapPartitions { it =>
        val rows = it.map(r => (r.getString(0), r.getInt(1))).toSeq
        Iterator.single(rows == rows.sorted)
      }.collect()
    assert(perPart.forall(identity))
    // skewed conversation actually spread across >1 partition
    val spread = out.select("conv_id")
      .rdd.mapPartitionsWithIndex { (i, it) =>
        it.collect { case r if r.getString(0) == "conv-00000000" => i }.toSet.iterator
      }.collect().toSet
    assert(spread.size > 1, s"skewed conv landed on $spread")
  }
}
