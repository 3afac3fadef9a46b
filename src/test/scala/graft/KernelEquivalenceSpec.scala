package graft

import java.util.Locale

import org.scalatest.funsuite.AnyFunSuite

import graft.langid.LangId
import graft.pipeline.{Curate, CurateCore, CurateResult}
import graft.rules.{GrammarRules, QualityRules}
import graft.scrub.Scrubber
import graft.synth.Transcripts

/** Each fast path of the fused curate kernel against the plain form it
  * replaced ([[KernelReference]]): the boilerplate guard, the hand
  * split of the repetition rule, the langid iterator (predict and
  * training), the grammar guards, the scrub and the whole
  * `CurateCore.process`;
  * and `QualityRules.firstScalarFailure` against the kernel's cheap
  * verdict. Doubles are compared bit for bit.
  */
class KernelEquivalenceSpec extends AnyFunSuite {

  private val cfg = QualityRules.defaultConfig
  private lazy val models = Curate.defaultModels
  private lazy val core = new CurateCore(models.langId, models.lm, cfg)

  /** The turns of perfbench's curate_job at seed 7: 800 conversations,
    * conversation 0 the 8,000-turn hot one.
    */
  private lazy val jobCorpus: Seq[String] =
    (0L until 800L).flatMap(c => Transcripts.conversation(7L, c, if (c == 0L) 8000 else 0))
      .map(_._1.text)

  /** GoldenPipelineSpec's 300 seeded random unicode strings. */
  private lazy val fuzz: Seq[String] = {
    val rnd = new scala.util.Random(20260816L)
    val fragments = Array(
      "the", "dog", "Cookie Policy", "he are", "focus on", "https://x.io/a",
      "bob@ex.com", "+1 555 123 4567", "frak", "!!", "...", "??", "\t", "\n",
      " ", " ", "😀", "🎉", "是的", "同意", "naïve", "Ünïcode",
      "dup dup dup dup dup", "x", "", "   ", "sk-abcdefghijklmnop1234",
      "WORD", "ing", "ly", ".", "?", "a b c d e f g h i j")
    (0 until 300).map { _ =>
      val n = 1 + rnd.nextInt(40)
      (0 until n).map(_ => fragments(rnd.nextInt(fragments.length)))
        .mkString(if (rnd.nextBoolean()) " " else "  ")
    }
  }

  /** Inputs where a guard or the hand split could go wrong: locale- and
    * length-changing case maps, separators inside and outside regex
    * `\s`, word-boundary neighbours and supplementary chars.
    */
  private val planted: Seq[String] = {
    val seps = Seq(" ", "\t", "\u000B", "\f", "\r\n", "\u001C", "\u001F", "\u00A0", "\u2003")
    val heads = Seq(
      "PRIVACY POLICY", "Privacy  Policy", "prıvacy policy", "İ privacy policy",
      "CooKie Policy", "COOKIE\tPOLICY", "SUBSCRIBE to our NEWSLETTER",
      "please FOLLOW US ON it", "Share\u00A0this", "terms of\u000Bservice",
      "she\tare", "It  ARE", "i ARE", "I\u000Bare", "he aré", "she are_x",
      "x_are", "éare", "the are", "he\u00A0are", "they\fis", "You IS", "we is2",
      "is Paris", "was  London", "is\u2003Paris", "this Paris", "is PARIS", "isParis",
      "é is Paris", "was they", "WAS\tYOU", "wasthey", "the dog are big", "the dogs are big",
      "dog,are", "dog. are", "care", "𝔘 he are 𝔘", "ΣΑΣ ΟΔΟΣ Σ", "ΣΑΣ\u001CΣΑΣ",
      "Coo\u212Aie Policy", "\u212Aelvin are", "he \u212Are", "(he are)", "\"It are\"",
      "-they is-", "x:is Paris", "Cookie\u0301 Policy", "he\u0301 are")
    val words = Seq("alpha", "ALPHA", "Alpha", "beta", "İstanbul", "istanbul", "ΟΔΟΣ",
      "οδος", "Kelvin", "kelvin", "𝔘nit", "x", "y")
    heads ++ seps.flatMap { sep =>
      // ≥ 20 words, so the repetition rule runs, with a head in the middle
      val body = (0 until 24).map(i => words(i % words.length)).mkString(sep)
      heads.take(12).map(h => body + sep + h + sep + body) :+ body :+ (sep + body + sep)
    }
  }

  private def inputs = Seq("seed-7 curate_job" -> jobCorpus, "unicode fuzz" -> fuzz,
    "planted" -> planted)

  private def sameDouble(a: Double, b: Double) =
    java.lang.Double.doubleToRawLongBits(a) == java.lang.Double.doubleToRawLongBits(b)

  private def sameResult(a: CurateResult, b: CurateResult) =
    a.lang == b.lang && sameDouble(a.lang_conf, b.lang_conf) && sameDouble(a.ppl, b.ppl) &&
      a.rule_hits == b.rule_hits && a.keep == b.keep && a.drop_reason == b.drop_reason &&
      a.scrubbed_text == b.scrubbed_text && a.scrub_hits == b.scrub_hits

  /** Fails with the first texts where `fast` and `ref` disagree. */
  private def assertSame[A](what: String, texts: Seq[String])(fast: String => A,
      ref: String => A)(same: (A, A) => Boolean = (a: A, b: A) => a == b): Unit = {
    val bad = texts.filterNot(t => same(fast(t), ref(t)))
    assert(bad.isEmpty, s"$what: ${bad.size} of ${texts.size} differ, e.g. " +
      bad.take(3).map(t => s"${t.take(80)} -> ${fast(t)} vs ${ref(t)}").mkString("; "))
  }

  test("the seed-7 curate_job corpus holds the hot conversation") {
    assert(jobCorpus.size > 20000)
  }

  test("boilerplate guard == the regex alone") {
    inputs.foreach { case (name, texts) =>
      assertSame(s"isBoilerplate on $name", texts)(QualityRules.isBoilerplate,
        KernelReference.isBoilerplate)()
    }
  }

  test("hand-split distinct ratio == the regex split") {
    inputs.foreach { case (name, texts) =>
      assertSame(s"distinctRatio on $name", texts)(QualityRules.distinctRatio,
        KernelReference.distinctRatio)(sameDouble)
    }
  }

  test("langid predict == the per-gram iterator, bit for bit") {
    val m = models.langId
    assert(Integer.bitCount(m.nBuckets) == 1, "the model's buckets take the mask path")
    inputs.foreach { case (name, texts) =>
      assertSame(s"predict on $name", texts)(m.predict, KernelReference.predict(m, _)) {
        (a, b) => a._1 == b._1 && sameDouble(a._2, b._2)
      }
    }
    // a bucket count that is not a power of two takes the % path
    val odd = LangId.train(Transcripts.trainingCorpus(perLang = 40), nBuckets = 1000)
    assertSame("predict with 1000 buckets", fuzz ++ planted)(odd.predict,
      KernelReference.predict(odd, _)) { (a, b) => a._1 == b._1 && sameDouble(a._2, b._2) }
  }

  test("langid training gives bit-identical weights") {
    val corpus = Transcripts.trainingCorpus()
    val trained = LangId.train(corpus)
    val ref = KernelReference.trainWeights(corpus, trained.nBuckets)
    assert(trained.weights.length == ref.length)
    assert(trained.weights.indices.forall(i =>
      java.lang.Float.floatToRawIntBits(trained.weights(i)) ==
        java.lang.Float.floatToRawIntBits(ref(i))))
  }

  test("guarded grammar rule hits == every regex on every text") {
    inputs.foreach { case (name, texts) =>
      assertSame(s"ruleHits on $name", texts)(GrammarRules.ruleHits(_),
        KernelReference.ruleHits(_))()
      assertSame(s"ruleHits without POS on $name", texts)(
        GrammarRules.ruleHits(_, includePos = false, withContext = false),
        KernelReference.ruleHits(_, includePos = false, withContext = false))()
    }
  }

  test("Scrubber.scrub == the regex scrub, on the seed-7 corpus and the planted rows") {
    (inputs :+ ("planted whitespace" -> SparkEntry.plantedWs)).foreach { case (name, texts) =>
      assertSame(s"scrub on $name", texts)(Scrubber.scrub, KernelReference.scrub)()
    }
  }

  test("CurateCore.process == the kernel built from the references, all 8 fields") {
    inputs.foreach { case (name, texts) =>
      assertSame(s"process on $name", texts)(core.process,
        KernelReference.process(models.langId, models.lm, cfg, _))(sameResult)
    }
  }

  test("firstScalarFailure == the kernel's cheap verdict, under the default and cheap configs") {
    val cheapReasons = QualityRules.ruleOrder.take(6).toSet
    assert(cheapReasons == Set("empty", "too_short", "too_long", "repetition", "symbol_ratio",
      "boilerplate"))
    // whitespace beyond `trim`'s ≤ U+0020, and control chars inside it
    val edge = Seq("\u2003\u2003", "\u3000", "\u0001", " \u0001 ")
    Seq(QualityRules.defaultConfig, QualityRules.cheapConfig).foreach { c =>
      val kernel = new CurateCore(models.langId, models.lm, c)
      def cheapVerdict(t: String) =
        Option(kernel.process(t).drop_reason).filter(cheapReasons).orNull
      assert(edge.map(cheapVerdict) == Seq("empty", "empty", "too_short", "too_short"))
      (inputs :+ ("edge" -> edge)).foreach { case (name, texts) =>
        assertSame(s"firstScalarFailure on $name", texts)(QualityRules.firstScalarFailure(_, c),
          cheapVerdict)()
      }
    }
  }

  test("the guards and the repetition split do not depend on a Turkish default locale") {
    val texts = planted ++ Seq("THEY IS here", "PRIVACY POLICY", "I ARE", "THIS IS Paris")
    val ratios = texts.map(QualityRules.distinctRatio)
    val saved = Locale.getDefault
    try {
      Locale.setDefault(Locale.forLanguageTag("tr"))
      assert("I".toLowerCase == "\u0131", "the Turkish default locale is in effect")
      assert(QualityRules.isBoilerplate("PRIVACY POLICY"))
      assertSame("isBoilerplate under tr", texts)(QualityRules.isBoilerplate,
        KernelReference.isBoilerplate)()
      assertSame("ruleHits under tr", texts)(GrammarRules.ruleHits(_),
        KernelReference.ruleHits(_))()
      assert(texts.map(QualityRules.distinctRatio).zip(ratios).forall { case (a, b) =>
        sameDouble(a, b) })
    } finally Locale.setDefault(saved)
  }
}
