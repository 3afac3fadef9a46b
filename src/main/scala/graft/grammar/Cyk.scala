package graft.grammar

import java.util.Locale

/** CYK sentence-validity parser — rebuild of the reference's
  * `AdvancedCFGSystem.parse_sentence_cyk` (cfg_generator.py:423-500)
  * over its base lexicon (cfg_generator.py:138-193) and base CNF
  * grammar (cfg_generator.py:195-252).
  *
  * FAITHFULNESS NOTE — the reference's grammar/lexicon are Python dict
  * literals with duplicate keys, and Python keeps the LAST value. The
  * de-facto semantics therefore differ from the (apparent) intent:
  *  - lexicon 'her': DET (line 143) then PRP (line 156) → PRP;
  *    'so': ADV (line 175) then CC (line 187) → CC.
  *  - grammar ('N',)→['NP'] (line 206) is overwritten by ('N',)→['N']
  *    (line 248); likewise ('PRP',)→['NP'], ('V',)→['VP'],
  *    ('ADJ',)→['ADJP'] all become self-productions, and
  *    ('NP','CC')→['NP_COORD'] (line 240) becomes ['NP'] (line 245).
  * We ship the EFFECTIVE maps (what the Python actually executes), not
  * the apparent ones — matching reference behavior, per SURVEY.md §2.3.
  *
  * All state is immutable and JVM-singleton; UDFs reference it via
  * closure (equivalent cost to an explicit broadcast in local and
  * cluster mode alike, since the object re-initializes per executor).
  */
object Cyk extends Serializable {

  /** Base lexicon, cfg_generator.py:140-192 (effective — dup keys resolved). */
  val lexicon: Map[String, Set[String]] = Map(
    // Determiners (her → PRP via line-156 overwrite)
    "the" -> Set("DET"), "a" -> Set("DET"), "an" -> Set("DET"),
    "this" -> Set("DET"), "that" -> Set("DET"), "my" -> Set("DET"),
    "your" -> Set("DET"), "his" -> Set("DET"), "its" -> Set("DET"),
    "our" -> Set("DET"), "their" -> Set("DET"), "some" -> Set("DET"),
    "many" -> Set("DET"), "few" -> Set("DET"), "all" -> Set("DET"),
    "every" -> Set("DET"), "each" -> Set("DET"), "any" -> Set("DET"),
    "no" -> Set("DET"),
    // Nouns
    "dog" -> Set("N"), "cat" -> Set("N"), "man" -> Set("N"),
    "woman" -> Set("N"), "child" -> Set("N"), "book" -> Set("N"),
    "table" -> Set("N"), "chair" -> Set("N"), "house" -> Set("N"),
    "car" -> Set("N"), "computer" -> Set("N"), "phone" -> Set("N"),
    "school" -> Set("N"), "work" -> Set("N"), "home" -> Set("N"),
    "time" -> Set("N"), "day" -> Set("N"), "year" -> Set("N"),
    "water" -> Set("N"), "food" -> Set("N"), "apple" -> Set("N"),
    "city" -> Set("N"), "teacher" -> Set("N"), "student" -> Set("N"),
    "friend" -> Set("N"),
    // Pronouns
    "i" -> Set("PRP"), "you" -> Set("PRP"), "he" -> Set("PRP"),
    "she" -> Set("PRP"), "it" -> Set("PRP"), "we" -> Set("PRP"),
    "they" -> Set("PRP"), "me" -> Set("PRP"), "him" -> Set("PRP"),
    "her" -> Set("PRP"), "us" -> Set("PRP"), "them" -> Set("PRP"),
    "who" -> Set("PRP"), "what" -> Set("PRP"), "which" -> Set("PRP"),
    // Verbs / auxiliaries
    "be" -> Set("V", "AUX"), "is" -> Set("AUX"), "are" -> Set("AUX"),
    "am" -> Set("AUX"), "was" -> Set("AUX"), "were" -> Set("AUX"),
    "have" -> Set("V", "AUX"), "has" -> Set("AUX"), "had" -> Set("AUX"),
    "do" -> Set("V", "AUX"), "does" -> Set("AUX"), "did" -> Set("AUX"),
    "will" -> Set("AUX"), "would" -> Set("AUX"), "can" -> Set("AUX"),
    "could" -> Set("AUX"), "should" -> Set("AUX"), "may" -> Set("AUX"),
    "might" -> Set("AUX"), "must" -> Set("AUX"),
    "go" -> Set("V"), "come" -> Set("V"), "see" -> Set("V"),
    "know" -> Set("V"), "think" -> Set("V"), "say" -> Set("V"),
    "get" -> Set("V"), "make" -> Set("V"), "take" -> Set("V"),
    "give" -> Set("V"), "run" -> Set("V"), "walk" -> Set("V"),
    "eat" -> Set("V"), "drink" -> Set("V"), "sleep" -> Set("V"),
    "runs" -> Set("V"), "goes" -> Set("V"), "sees" -> Set("V"),
    "eats" -> Set("V"), "going" -> Set("V"), "eating" -> Set("V"),
    // Adjectives
    "good" -> Set("ADJ"), "bad" -> Set("ADJ"), "big" -> Set("ADJ"),
    "small" -> Set("ADJ"), "new" -> Set("ADJ"), "old" -> Set("ADJ"),
    "young" -> Set("ADJ"), "happy" -> Set("ADJ"), "sad" -> Set("ADJ"),
    "beautiful" -> Set("ADJ"), "red" -> Set("ADJ"), "blue" -> Set("ADJ"),
    "green" -> Set("ADJ"), "black" -> Set("ADJ"), "white" -> Set("ADJ"),
    // Adverbs (so → CC via line-187 overwrite)
    "very" -> Set("ADV"), "really" -> Set("ADV"), "quite" -> Set("ADV"),
    "too" -> Set("ADV"), "quickly" -> Set("ADV"), "slowly" -> Set("ADV"),
    "carefully" -> Set("ADV"), "well" -> Set("ADV"), "badly" -> Set("ADV"),
    "always" -> Set("ADV"), "never" -> Set("ADV"), "sometimes" -> Set("ADV"),
    "often" -> Set("ADV"), "usually" -> Set("ADV"), "today" -> Set("ADV"),
    "yesterday" -> Set("ADV"), "tomorrow" -> Set("ADV"), "now" -> Set("ADV"),
    "then" -> Set("ADV"), "please" -> Set("ADV"),
    // Prepositions
    "in" -> Set("P"), "on" -> Set("P"), "at" -> Set("P"), "to" -> Set("P"),
    "from" -> Set("P"), "with" -> Set("P"), "by" -> Set("P"),
    "for" -> Set("P"), "of" -> Set("P"), "about" -> Set("P"),
    "under" -> Set("P"), "over" -> Set("P"), "through" -> Set("P"),
    "during" -> Set("P"), "before" -> Set("P"), "after" -> Set("P"),
    "between" -> Set("P"),
    // Conjunctions
    "and" -> Set("CC"), "or" -> Set("CC"), "but" -> Set("CC"),
    "so" -> Set("CC"), "because" -> Set("CC"), "if" -> Set("CC"),
    "when" -> Set("CC"), "while" -> Set("CC"), "although" -> Set("CC"),
    "since" -> Set("CC"),
    // Additional words
    "thank" -> Set("V"), "thanks" -> Set("N")
  )

  /** Effective binary CNF productions, cfg_generator.py:197-251
    * (dup keys last-wins applied — see class doc).
    */
  val binaryGrammar: Map[(String, String), List[String]] = Map(
    ("NP", "VP") -> List("S"),
    ("DET", "N") -> List("NP"),
    ("ADJ", "N") -> List("NP"),
    ("DET", "ADJ") -> List("ADJP"),
    ("ADJP", "N") -> List("NP"),
    ("V", "NP") -> List("VP"),
    ("V", "ADV") -> List("VP"),
    ("ADV", "V") -> List("VP"),
    ("AUX", "V") -> List("VP"),
    ("AUX", "ADJ") -> List("VP"),
    ("AUX", "NP") -> List("VP"),
    ("AUX", "VP") -> List("VP"),
    ("VP", "ADV") -> List("VP"),
    ("ADV", "VP") -> List("VP"),
    ("AUX", "PP") -> List("VP"),
    ("V", "PP") -> List("VP"),
    ("VP", "PP") -> List("VP"),
    ("P", "NP") -> List("PP"),
    ("P", "N") -> List("PP"),
    ("ADV", "ADJ") -> List("ADJP"),
    ("NP", "PP") -> List("NP"),
    ("NP", "ADJP") -> List("NP"),
    ("N", "CC") -> List("N_COORD"),
    ("N_COORD", "N") -> List("NP"),
    ("NP", "CC") -> List("NP"), // line 245 overwrites ['NP_COORD'] (line 240)
    ("NP_COORD", "NP") -> List("NP"),
    ("VP", "CC") -> List("VP_COORD"),
    ("VP_COORD", "VP") -> List("VP"),
    ("CC", "NP") -> List("NP")
  )

  /** Effective unary productions, cfg_generator.py:248-250: the
    * self-productions are closure no-ops; only PP→VP is material.
    */
  val unaryGrammar: Map[String, List[String]] = Map(
    "DET" -> List("DET"), "N" -> List("N"), "V" -> List("V"),
    "ADJ" -> List("ADJ"), "ADV" -> List("ADV"), "P" -> List("P"),
    "CC" -> List("CC"), "PRP" -> List("PRP"), "AUX" -> List("AUX"),
    "PP" -> List("VP")
  )

  /** Python `word.lower().strip('.,!?";')` (cfg_generator.py:436). */
  def cleanWord(w: String): String = {
    val lower = w.toLowerCase(Locale.ROOT)
    val strip = ".,!?\";"
    var s = 0
    var e = lower.length
    while (s < e && strip.indexOf(lower.charAt(s)) >= 0) s += 1
    while (e > s && strip.indexOf(lower.charAt(e - 1)) >= 0) e -= 1
    lower.substring(s, e)
  }

  /** Unknown-word POS guess used INSIDE CYK (cfg_generator.py:454-462):
    * -ly → ADV; -ing/-ed → V; leading uppercase → N; default N.
    * (The lexicon-update fallback at cfg_generator.py:407-421 adds
    * -s → V and -er/-est → ADJ — that variant is in `guessPosFallback`.)
    */
  def guessPosCyk(rawWord: String, cleaned: String): String =
    if (cleaned.endsWith("ly")) "ADV"
    else if (cleaned.endsWith("ing") || cleaned.endsWith("ed")) "V"
    else if (rawWord.nonEmpty && rawWord.charAt(0).isUpper) "N"
    else "N"

  /** The richer fallback heuristic (cfg_generator.py:407-421) — the
    * de-facto lexicon-growth semantics (the LLM path always throws,
    * SURVEY.md §7.4).
    */
  def guessPosFallback(word: String): String =
    if (word.endsWith("ly")) "ADV"
    else if (word.endsWith("ing") || word.endsWith("ed") || word.endsWith("s")) "V"
    else if (word.endsWith("er") || word.endsWith("est")) "ADJ"
    else "N"

  final case class ParseResult(valid: Boolean, reason: String)

  /** Port of parse_sentence_cyk (cfg_generator.py:423-500). O(n³·|G|);
    * callers must cap sentence length (SURVEY.md §7.4) — see
    * `maxCykWords` in [[graft.rules.QualityRules]].
    */
  def parseSentence(sentence: String): ParseResult = {
    val words = sentence.split("\\s+").filter(_.nonEmpty)
    val n = words.length
    if (n == 0) return ParseResult(valid = false, "Empty sentence")

    val table = Array.fill(n, n)(collection.mutable.Set.empty[String])

    var i = 0
    while (i < n) {
      val cleaned = cleanWord(words(i))
      lexicon.get(cleaned) match {
        case Some(tags) =>
          table(i)(i) ++= tags
          // unary closure loop (cfg_generator.py:443-451)
          var changed = true
          while (changed) {
            changed = false
            val cur = table(i)(i).toList
            cur.foreach { tag =>
              unaryGrammar.get(tag).foreach { prods =>
                prods.foreach { p =>
                  if (!table(i)(i).contains(p)) { table(i)(i) += p; changed = true }
                }
              }
            }
          }
        case None =>
          table(i)(i) += guessPosCyk(words(i), cleaned)
          // single unary pass for guessed POS (cfg_generator.py:464-469)
          val cur = table(i)(i).toList
          cur.foreach { tag =>
            unaryGrammar.get(tag).foreach(prods => table(i)(i) ++= prods)
          }
      }
      i += 1
    }

    // binary fill (cfg_generator.py:471-485)
    var length = 2
    while (length <= n) {
      var a = 0
      while (a <= n - length) {
        val j = a + length - 1
        var k = a
        while (k < j) {
          val left = table(a)(k)
          val right = table(k + 1)(j)
          left.foreach { lt =>
            right.foreach { rt =>
              binaryGrammar.get((lt, rt)).foreach(prods => table(a)(j) ++= prods)
            }
          }
          k += 1
        }
        a += 1
      }
      length += 1
    }

    val valid = table(0)(n - 1).contains("S")
    val reason =
      if (valid) "Grammatically correct"
      else {
        val unknown = words.filter(w => !lexicon.contains(cleanWord(w)))
        if (unknown.nonEmpty) s"Unknown words: ${unknown.mkString(", ")}"
        else "Invalid sentence structure"
      }
    ParseResult(valid, reason)
  }

  /** Sentence split — the reference's regex fallback
    * (cfg_generator.py:332) + ≥2-word filter (cfg_generator.py:336-339).
    * NLTK parity not required (SURVEY.md §2.8 C1).
    */
  def splitSentences(text: String): Array[String] =
    text.trim
      .split("[.!?]+")
      .map(_.trim)
      .filter(s => s.nonEmpty && s.split("\\s+").count(_.nonEmpty) > 1)
}
