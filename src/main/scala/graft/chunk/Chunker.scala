package graft.chunk

import java.util.Locale

import scala.collection.mutable.ArrayBuffer

import graft.util.PyStr.{pyLen, pySplit, pyStrip}

/** Chunking / segmentation operators (SURVEY.md §2.8) — rebuilds of the
  * reference's `TextChunker` (text_chunker.py) and the RAG recursive
  * splitter (data_manager.py:87-95). In the rebuilt pipeline turns are
  * pre-chunked (transcript rows), so these survive as the operator
  * library's explode-shaped segmentation family + test fixtures.
  */
object Chunker extends Serializable {

  // Python-`re` semantics: \s in Python str patterns is Unicode-aware,
  // Java's is ASCII-only without UNICODE_CHARACTER_CLASS (text with
  // non-breaking spaces after sentence punctuation split in the
  // reference but not in a bare-\s port). Compiled once per JVM.
  private val UNI = java.util.regex.Pattern.UNICODE_CHARACTER_CLASS
  private val sentEndSplitP =
    java.util.regex.Pattern.compile("[.!?]+(?:\\s+|$)", UNI)
  private val punctPartP = java.util.regex.Pattern.compile("[^.!?]*[.!?]+")
  private val overlapBreakP = java.util.regex.Pattern.compile("[.!?]\\s+", UNI)

  /** Sentence split, EXACT port of TextChunker._split_into_sentences
    * (text_chunker.py:60-85) including its quirky "re-add punctuation"
    * pass: each delimiter-split piece AT INDEX < len(original_parts)
    * (text_chunker.py:74 index guard — pieces beyond it pass through
    * verbatim) is replaced by the FIRST punctuation-carrying original
    * part that CONTAINS it as a substring (Python for/else semantics).
    * `strip` is Unicode like Python's. Parity-checked against the
    * reference implementation.
    */
  def splitSentencesReference(text: String): Seq[String] = {
    // fast path: no sentence punctuation ⇒ one piece, no parts (the
    // reference's findall pattern backtracks O(n²) on punctuation-free
    // text; result is identical)
    val hasPunct = text.indexOf('.') >= 0 || text.indexOf('!') >= 0 ||
      text.indexOf('?') >= 0
    val pieces = sentEndSplitP.split(text, -1).toSeq.map(pyStrip).filter(_.nonEmpty)
    val originalParts = if (!hasPunct) Seq.empty[String] else {
      val m = punctPartP.matcher(text)
      val out = new ArrayBuffer[String]()
      while (m.find()) out += m.group()
      out.toSeq
    }
    pieces.zipWithIndex.map { case (sentence, i) =>
      if (i < originalParts.length)
        originalParts.find(_.contains(sentence)) match {
          case Some(part) => pyStrip(part)
          case None => sentence
        }
      else sentence
    }
  }

  /** Overlapping chunker (C2) — EXACT port of TextChunker.chunk_text
    * (text_chunker.py:22-58; config 500/50: config.yaml:14,
    * smart_corrector.py:40-43): greedy sentence packing with an
    * overlap tail carried from the previous chunk. Lengths are code
    * points and strips are Unicode, matching Python. Parity-checked
    * against the reference implementation (scripts/reference_parity.py).
    */
  def chunkText(text: String, chunkSize: Int = 500, overlap: Int = 50): Seq[String] = {
    if (text == null || text.isEmpty) return Nil
    if (pyLen(text) <= chunkSize) return Seq(text)
    val sentences = splitSentencesReference(text)
    val chunks = new ArrayBuffer[String]()
    var current = ""
    sentences.foreach { sentence =>
      if (pyLen(current) + pyLen(sentence) > chunkSize && current.nonEmpty) {
        chunks += pyStrip(current)
        val tail = overlapTail(current, overlap)
        current = if (tail.nonEmpty) tail + " " + sentence else sentence
      } else {
        current = if (current.nonEmpty) current + " " + sentence else sentence
      }
    }
    if (pyStrip(current).nonEmpty) chunks += pyStrip(current)
    chunks.toSeq
  }

  /** EXACT port of TextChunker._get_overlap_text (text_chunker.py:87-107):
    * last ≤`overlap` CODE POINTS, advanced past a sentence ending if
    * one is present, else past the first (partial) word (Python
    * no-arg `str.split()` = Unicode whitespace split).
    */
  def overlapTail(text: String, overlap: Int): String = {
    if (pyLen(text) <= overlap) return text
    val tail = text.substring(text.offsetByCodePoints(text.length, -overlap))
    val m = overlapBreakP.matcher(tail)
    if (m.find()) tail.substring(m.end())
    else {
      // python str.split() then ' '.join(words[1:]) when >1 word
      val pyWords = pySplit(tail)
      if (pyWords.length > 1) pyWords.drop(1).mkString(" ") else tail
    }
  }

  /** Recursive character splitter (C4) — deterministic port of the
    * LangChain splitter the reference uses for RAG chunks
    * (data_manager.py:87-95; seps ["\n\n","\n",". "," ",""],
    * size 1000 / overlap 200, config.yaml:29-30).
    */
  def recursiveSplit(
      text: String,
      chunkSize: Int = 1000,
      overlap: Int = 200,
      seps: List[String] = List("\n\n", "\n", ". ", " ", "")
  ): Seq[String] = {
    if (text == null || text.isEmpty) return Nil
    if (text.length <= chunkSize) return Seq(text)
    val sep = seps.find(s => s.isEmpty || text.contains(s)).getOrElse("")
    val parts: Seq[String] =
      if (sep.isEmpty) text.grouped(chunkSize).toSeq
      else text.split(java.util.regex.Pattern.quote(sep), -1).toSeq.filter(_.nonEmpty)
    val rest = seps.dropWhile(_ != sep).drop(1)
    val out = new ArrayBuffer[String]()
    val current = new StringBuilder
    def flush(): Unit = if (current.nonEmpty) {
      out += current.toString
      val tail =
        if (overlap > 0 && current.length > overlap)
          current.substring(current.length - overlap)
        else ""
      current.clear()
      current.append(tail)
    }
    parts.foreach { p0 =>
      val p = if (p0.length > chunkSize) {
        flush()
        // drop the carried overlap tail: the long part's sub-chunks are
        // emitted directly below, and emitting the tail later would
        // produce a stray out-of-order fragment
        current.clear()
        val sub = recursiveSplit(p0, chunkSize, overlap, if (rest.isEmpty) List("") else rest)
        out ++= sub.dropRight(1)
        sub.lastOption.getOrElse("")
      } else p0
      val addLen = p.length + (if (current.isEmpty) 0 else sep.length)
      if (current.length + addLen > chunkSize) flush()
      if (current.nonEmpty) current.append(sep)
      current.append(p)
    }
    if (current.nonEmpty) out += current.toString
    out.toSeq
  }

  /** Word tokenize + lowercase (C5, cfg_generator.py:346). */
  def words(text: String): Array[String] = {
    if (text == null) return Array.empty
    val m = java.util.regex.Pattern.compile("\\b\\w+\\b").matcher(text.toLowerCase(Locale.ROOT))
    val out = new ArrayBuffer[String]()
    while (m.find()) out += m.group()
    out.toArray
  }
}
