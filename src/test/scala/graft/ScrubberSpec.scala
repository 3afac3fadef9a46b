package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.scrub.Scrubber

class ScrubberSpec extends AnyFunSuite {

  test("removes URLs (web_scraper.py:90 semantics)") {
    val r = Scrubber.scrub("see https://example.com/x?a=1 for info")
    assert(r.scrubbed == "see for info")
    assert(r.hits == Map("url" -> 1))
  }

  test("removes emails (web_scraper.py:93 semantics)") {
    val r = Scrubber.scrub("mail bob.smith@example.org now")
    assert(r.scrubbed == "mail now")
    assert(r.hits == Map("email" -> 1))
  }

  test("removes phones, keys, denylist tokens") {
    val r = Scrubber.scrub(
      "call +1 555 123 4567 or use sk-abcdefghij0123456789ABCD you frakking bot")
    assert(r.hits("phone") == 1)
    assert(r.hits("key") == 1)
    assert(r.hits("slur") == 1)
    assert(!r.scrubbed.contains("555"))
    assert(!r.scrubbed.contains("sk-"))
    assert(!r.scrubbed.toLowerCase.contains("frakking"))
  }

  test("punctuation collapse (web_scraper.py:96-98)") {
    assert(Scrubber.scrub("wait..... what!!! really???").scrubbed ==
      "wait... what! really?")
  }

  test("whitespace normalization applied before and after (web_scraper.py:73,101)") {
    assert(Scrubber.scrub("  a \t b\n\nc  ").scrubbed == "a b c")
  }

  test("null / empty safe") {
    assert(Scrubber.scrub(null).scrubbed == "")
    assert(Scrubber.scrub("").hits.isEmpty)
  }

  test("multiple hits counted per pattern") {
    val r = Scrubber.scrub("a@b.cc d@e.ff and http://x.io http://y.io http://z.io")
    assert(r.hits("email") == 2)
    assert(r.hits("url") == 3)
  }

  private def samples(n: Int): Seq[String] = {
    val r = new java.util.SplittableRandom(99L)
    val piis = Array("", " u@v.ww", " https://q.r/s", " +1 555 123 4567",
      " sk-0123456789abcdefghijklmn", " frak", " !!!", "   x  ", " ......")
    (0 until n).map { _ =>
      val base = (0 until 8)
        .map(_ => graft.synth.Transcripts.vocabEn(
          r.nextInt(graft.synth.Transcripts.vocabEn.length)))
        .mkString(" ")
      base + piis(r.nextInt(piis.length)) + piis(r.nextInt(piis.length))
    }
  }

  test("whitespace is Java regex \\s alone: other control chars are text, at the ends too") {
    assert(SparkEntry.plantedWs.map(Scrubber.scrub(_).scrubbed) ==
      Seq("\u0001abc", "\u0001a b", "\u001cab", "a b", "a b", "a \u001f"))
    assert(Scrubber.scrub("a\u2003 b").scrubbed == "a\u2003 b")
  }

  test("property: scrub is idempotent (SURVEY.md §7.4 byte-identical contract)") {
    (samples(500) ++ SparkEntry.plantedWs).foreach { t =>
      val once = Scrubber.scrub(t).scrubbed
      assert(Scrubber.scrub(once).scrubbed == once, s"not idempotent on: '$t'")
    }
  }

  test("property: scrubbed text never still matches a scrub pattern") {
    samples(500).foreach { t =>
      val s = Scrubber.scrub(t).scrubbed
      Scrubber.patternSpecs.foreach { case (name, p) =>
        assert(!java.util.regex.Pattern.compile(p).matcher(s).find(),
          s"pattern $name still matches: '$s' (from '$t')")
      }
    }
  }
}
