package graft

import java.util.Locale

import org.scalatest.funsuite.AnyFunSuite

import graft.chunk.Chunker
import graft.dedup.Dedup
import graft.grammar.Cyk
import graft.rules.GrammarRules
import graft.scrub.Scrubber

/** The lowercasing text paths give under a Turkish default locale what
  * they give under `Locale.ROOT` (Python's `lower()` and DuckDB's
  * `lower` are locale-free): under tr, "I" lowercases to a dotless ı.
  */
class LocaleIndependenceSpec extends AnyFunSuite {

  private val tr = Locale.forLanguageTag("tr")

  /** `f()` computed with `locale` as the default locale. */
  private def under[T](locale: Locale)(f: => T): T = {
    val saved = Locale.getDefault
    Locale.setDefault(locale)
    try {
      if (locale == tr) assert("I".toLowerCase == "ı", "the Turkish default locale is in effect")
      f
    } finally Locale.setDefault(saved)
  }

  private def sameUnderTr[T](f: => T): T = {
    val root = under(Locale.ROOT)(f)
    assert(under(tr)(f) == root)
    root
  }

  test("Dedup.tokens lowercases without the default locale") {
    assert(sameUnderTr(Dedup.tokens("TITLE IS LIST").toSeq) == Seq("title", "is", "list"))
  }

  test("Cyk.cleanWord lowercases without the default locale") {
    assert(sameUnderTr(Cyk.cleanWord("\"IS,")) == "is")
    assert(Cyk.lexicon.contains(under(tr)(Cyk.cleanWord("IS"))))
  }

  test("the POS rule's previous word lowercases without the default locale, in the kernel and its reference") {
    // "him" is a pronoun, so "HIM are" is no POS hit; a dotless "hım"
    // would miss the lexicon and fall back to a noun
    val text = "Then HIM are gone."
    val hits = sameUnderTr(GrammarRules.ruleHits(text).map(_.rule_id))
    assert(!hits.contains("POS_SUBJ_VERB"), hits)
    assert(sameUnderTr(KernelReference.ruleHits(text).map(_.rule_id)) == hits)
  }

  test("Chunker.words lowercases without the default locale") {
    assert(sameUnderTr(Chunker.words("THIS IS IT").toSeq) == Seq("this", "is", "it"))
  }

  test("the scrub's slur guard lowercases without the default locale") {
    // under tr "FRAKKING" lowercases to "frakkıng", which no denylist word is in
    val r = sameUnderTr(Scrubber.scrub("you FRAKKING bot"))
    assert(r.scrubbed == "you bot" && r.hits == Map("slur" -> 1), r)
  }
}
