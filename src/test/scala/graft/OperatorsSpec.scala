package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.chunk.Chunker
import graft.multimodal.Multimodal
import graft.rules.QualityRules
import graft.textstats.TextStats

class ChunkerSpec extends AnyFunSuite {

  test("chunks respect size budget and carry word-aligned overlap (text_chunker.py:22-58)") {
    val sentences = (1 to 40).map(i => s"Sentence number $i has a few words").mkString(". ") + "."
    val chunks = Chunker.chunkText(sentences, chunkSize = 120, overlap = 30)
    assert(chunks.size > 3)
    chunks.foreach(c => assert(c.length <= 120 + 60, s"chunk too big: ${c.length}"))
    // consecutive chunks share overlap text
    chunks.sliding(2).foreach { case Seq(a, b) =>
      val tail = Chunker.overlapTail(a, 30)
      assert(tail.isEmpty || b.startsWith(tail))
    case _ => ()
    }
  }

  test("short text → single chunk") {
    assert(Chunker.chunkText("Tiny text. Nothing more.").size == 1)
    assert(Chunker.chunkText("").isEmpty)
    assert(Chunker.chunkText(null).isEmpty)
  }

  test("recursive splitter: pieces within size, all content covered (data_manager.py:87-95)") {
    val text = (1 to 50).map(i => s"paragraph $i content here").mkString("\n\n")
    val parts = Chunker.recursiveSplit(text, chunkSize = 100, overlap = 20)
    assert(parts.forall(_.length <= 100 + 20))
    // every paragraph appears in some chunk
    (1 to 50).foreach(i => assert(parts.exists(_.contains(s"paragraph $i ")) ||
      parts.exists(_.contains(s"paragraph $i"))))
  }

  test("word tokenize + lowercase (cfg_generator.py:346)") {
    assert(Chunker.words("Hello, World! It's 42.").toSeq ==
      Seq("hello", "world", "it", "s", "42"))
  }
}

class QualityRulesSpec extends AnyFunSuite {

  test("wordCount matches split semantics incl. unicode whitespace") {
    assert(QualityRules.wordCount("a b  c\t d\n") == 4)
    assert(QualityRules.wordCount("") == 0)
    assert(QualityRules.wordCount(null) == 0)
    assert(QualityRules.wordCount("我们 数据 处理") == 3)
  }

  test("first failing rule order is deterministic (ruleOrder contract)") {
    assert(QualityRules.firstScalarFailure("") == "empty")
    assert(QualityRules.firstScalarFailure("one two") == "too_short")
    val rep = Array.fill(30)("word").mkString(" ")
    assert(QualityRules.firstScalarFailure(rep) == "repetition")
    val sym = "ok @#$% @#$% @#$% @#$% @#$% end word here"
    assert(QualityRules.firstScalarFailure(sym) == "symbol_ratio")
    assert(QualityRules.firstScalarFailure(
      "Subscribe to our weekly newsletter for offers today") == "boilerplate")
    assert(QualityRules.firstScalarFailure(
      "this text is long enough and passes every scalar rule.") == null)
  }

  test("symbol ratio counts non-alnum non-space only") {
    assert(QualityRules.symbolRatio("abc") == 0.0)
    assert(math.abs(QualityRules.symbolRatio("a!b?") - 0.5) < 1e-9)
  }

  test("boilerplate patterns (web_scraper.py:78-83), case-insensitive") {
    assert(QualityRules.isBoilerplate("please read our COOKIE policy now"))
    assert(QualityRules.isBoilerplate("Follow us on the platform"))
    assert(!QualityRules.isBoilerplate("we discuss privacy concerns generally"))
  }

  test("the boilerplate regex's DuckDB form spells \\s as the one space class, U+000B included") {
    val re2 = QualityRules.boilerplateRegexRe2
    assert(!re2.contains("\\s"), re2)
    val p = java.util.regex.Pattern.compile(re2)
    for (text <- Seq("terms of\u000Bservice", "Share\u000B\tthis", "cookie \u000B policy",
        "follow us on", "privacy policy", "share this")) {
      assert(p.matcher(text).find() == QualityRules.isBoilerplate(text), text)
    }
    assert(QualityRules.isBoilerplate("terms of\u000Bservice"))
  }
}

class TextStatsSpec extends AnyFunSuite {

  test("fingerprint stable under whitespace jitter and case") {
    val a = TextStats.fingerprint("Hello   World\tfoo")
    val b = TextStats.fingerprint("hello world foo")
    assert(a == b)
    assert(TextStats.fingerprint("hello world bar") != a)
  }

  test("bpe-ish token count: words + punctuation") {
    assert(TextStats.bpeTokenCountScala("hello, world!") == 4)
    assert(TextStats.bpeTokenCountScala("") == 0)
  }
}

class MultimodalSpec extends SparkTestBase {

  test("feature extraction deterministic; schema + batch plumbing real") {
    val f1 = Multimodal.extractFeatures(spark, Multimodal.synthMedia(spark, 50))
      .collect().sortBy(_.media_id)
    val f2 = Multimodal.extractFeatures(spark, Multimodal.synthMedia(spark, 50))
      .collect().sortBy(_.media_id)
    assert(f1.map(_.content_hash).toSeq == f2.map(_.content_hash).toSeq)
    assert(f1.forall(_.feature.length == Multimodal.MediaCodec.featureDim))
    // images are REAL BMPs (synthMedia dims 1..64) decoded by the real
    // header parser; audio rows are REAL WAVs (duration 1..500 ms,
    // dims n/a); AVI video rows carry real header meta (8..32 px,
    // 1000..3000 ms by construction) while opaque fake-video rows stay
    // on the hash-derived fallback
    assert(f1.filter(_.kind == "image").forall(f =>
      f.width >= 1 && f.width <= 64 && f.height >= 1 && f.height <= 64 &&
        f.duration_ms == 0L))
    assert(f1.filter(_.kind == "audio").forall(f =>
      f.width == 0 && f.height == 0 && f.duration_ms >= 1L && f.duration_ms <= 500L))
    val mimeById = Multimodal.synthMedia(spark, 50).collect()
      .map(m => m.media_id -> m.mime).toMap
    assert(f1.filter(_.kind == "video").forall { f =>
      if (mimeById(f.media_id) == "video/avi")
        f.width >= 8 && f.width <= 32 && f.height >= 8 && f.height <= 32 &&
          f.duration_ms >= 1000L && f.duration_ms <= 3000L
      else
        f.width >= 64 && f.height >= 64 && f.duration_ms >= 1000L
    })
  }

  test("real header decode: BMP/PNG/GIF/JPEG/WAV round through synthMedia's real encoders") {
    import graft.multimodal.HeaderCodec
    val media = Multimodal.synthMedia(spark, 200).collect()
    val images = media.filter(_.kind == "image")
    val audio = media.filter(_.kind == "audio")
    assert(images.nonEmpty && audio.nonEmpty)
    // all four real image containers are exercised
    assert(images.map(_.mime).toSet ==
      Set("image/bmp", "image/png", "image/gif", "image/jpeg"))
    images.foreach { m =>
      m.mime match {
        case "image/bmp" =>
          assert(HeaderCodec.isBmp(m.media))
          val d = HeaderCodec.parseBmp(m.media).get
          // header-recorded size matches the actual byte count (24bpp
          // rows padded to 4 bytes) — the dims are real, not stubbed
          val rowSize = ((d.width * 3 + 3) / 4) * 4
          assert(m.media.length == 54 + rowSize * d.height)
        case "image/png" =>
          assert(HeaderCodec.isPng(m.media))
          val d = HeaderCodec.parsePng(m.media).get // incl. IHDR CRC check
          assert(d.width >= 1 && d.width <= 64 && d.height >= 1 && d.height <= 64)
          // signature + IHDR + IEND framing is structurally real
          assert(new String(m.media, 12, 4, "US-ASCII") == "IHDR")
          assert(new String(m.media, m.media.length - 8, 4, "US-ASCII") == "IEND")
        case "image/gif" =>
          assert(HeaderCodec.isGif(m.media))
          val d = HeaderCodec.parseGif(m.media).get
          assert(d.width >= 1 && d.width <= 64 && d.height >= 1 && d.height <= 64)
          assert(m.media.last == 0x3b) // trailer
          // the LZW payload is real: it round-trips to the exact pixels
          val img = HeaderCodec.decodePixels(m.media).get
          assert(img.width == d.width && img.height == d.height)
        case "image/jpeg" =>
          assert(HeaderCodec.isJpeg(m.media))
          val d = HeaderCodec.parseJpeg(m.media).get // real SOF0 marker walk
          assert(d.width >= 1 && d.width <= 64 && d.height >= 1 && d.height <= 64)
          assert(m.media(m.media.length - 2) == 0xff.toByte &&
            m.media.last == 0xd9.toByte) // EOI
      }
    }
    audio.foreach { m =>
      assert(m.mime == "audio/wav" && HeaderCodec.isWav(m.media))
      val a = HeaderCodec.parseWav(m.media).get
      assert(a.sampleRate == 8000 && (a.channels == 1 || a.channels == 2))
      assert(m.media.length == 44 + (8000L * a.durationMs / 1000L).toInt * a.channels * 2)
    }
  }

  test("resize: images get new deterministic bytes + meta dims; others pass through") {
    val media = Multimodal.synthMedia(spark, 40)
    val resized = Multimodal.resizeImages(spark, media, 256, 256)
      .collect().sortBy(_.media_id)
    val orig = media.collect().sortBy(_.media_id)
    resized.zip(orig).foreach { case (r, o) =>
      if (o.kind == "image") {
        assert(r.meta("resized_w") == "256")
        assert(!java.util.Arrays.equals(r.media, o.media))
      } else {
        assert(java.util.Arrays.equals(r.media, o.media))
        assert(!r.meta.contains("resized_w"))
      }
    }
    // deterministic
    val again = Multimodal.resizeImages(spark, media, 256, 256)
      .collect().sortBy(_.media_id)
    resized.zip(again).foreach { case (a, b) =>
      assert(java.util.Arrays.equals(a.media, b.media))
    }
    // the resize is REAL: output decodes as a BMP with the target dims
    resized.filter(_.kind == "image").foreach { r =>
      val img = graft.multimodal.HeaderCodec.decodeBmpPixels(r.media).get
      assert(img.width == 256 && img.height == 256)
    }
  }

  test("box resample: uniform color preserved exactly; 2x2 downscale averages") {
    import graft.multimodal.{HeaderCodec, Multimodal => M}
    val uni = HeaderCodec.RgbImage(5, 3, Array.fill(5 * 3 * 3)(77.toByte))
    val up = M.MediaCodec.resampleBox(uni, 11, 7)
    assert(up.rgb.forall(_ == 77.toByte))
    // 2x2 block of (0, 100, 200, 50) averages to 87 per channel
    val px = Array(0, 100, 200, 50).flatMap(v => Array(v, v, v)).map(_.toByte)
    val down = M.MediaCodec.resampleBox(HeaderCodec.RgbImage(2, 2, px), 1, 1)
    assert(down.rgb.toSeq == Seq[Byte](87, 87, 87))
    // round-trip through the BMP encoder is lossless
    val bmp = HeaderCodec.bmpBytesFromRgb(up)
    assert(HeaderCodec.decodeBmpPixels(bmp).get.rgb.toSeq == up.rgb.toSeq)
  }

  test("frame sampling explodes deterministic offsets for video rows only") {
    val feats = Multimodal.extractFeatures(spark, Multimodal.synthMedia(spark, 50)).toDF()
    val frames = Multimodal.sampleFrames(feats, everyMs = 500L).collect()
    assert(frames.nonEmpty)
    val vids = feats.filter(org.apache.spark.sql.functions.col("kind") === "video").count()
    assert(frames.map(_.getLong(0)).distinct.length == vids)
    assert(frames.forall(_.getLong(1) % 500L == 0L))
  }
}
