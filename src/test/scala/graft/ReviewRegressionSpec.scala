package graft

import graft.chunk.Chunker
import graft.dedup.Dedup
import graft.pipeline.Curate
import graft.synth.Transcripts

/** Regression tests for the round-1 code-review findings (each test
  * failed on the pre-fix code).
  */
class ReviewRegressionSpec extends SparkTestBase {
  import org.apache.spark.sql.functions._

  test("CJK text shingles correctly: different zh texts are NOT near-dups; identical ones are") {
    import spark.implicits._
    val zh = Seq(
      (1L, "我们 需要 处理 大量 数据 集群 分区 清洗 质量 过滤"),
      (2L, "模型 回答 问题 非常 快速 系统 文本 干净 结果 文件"),
      (3L, "我们 需要 处理 大量 数据 集群 分区 清洗 质量 过滤") // dup of 1
    ).toDF("id", "text")
    assert(Dedup.shingles("我们 需要 处理", 3).nonEmpty, "CJK must tokenize")
    val pairs = Dedup.minhashNearDups(zh, "id", "text", threshold = 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((1L, 3L)), s"got $pairs")
    val sims = Dedup.simhashNearDups(zh, "id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(sims.contains((1L, 3L)))
    assert(!sims.contains((1L, 2L)))
  }

  test("token-less rows never pair (empty sketch excluded; jaccard of empties = 0)") {
    import spark.implicits._
    assert(Dedup.jaccard(Array.emptyLongArray, Array.emptyLongArray) == 0.0)
    val junk = Seq((1L, "!!! ???"), (2L, "... ---"), (3L, ""), (4L, "real words here now"))
      .toDF("id", "text")
    assert(Dedup.minhashNearDups(junk, "id", "text", threshold = 0.0).count() == 0)
    assert(Dedup.simhashNearDups(junk, "id", "text").count() == 0)
    // clusters still return EVERY id (token-less rows self-represent)
    val reps = Dedup.minhashClusters(junk, "id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(reps.keySet == Set(1L, 2L, 3L, 4L))
    assert(reps(1L) == 1L && reps(2L) == 2L && reps(3L) == 3L)
  }

  test("short-text shingles sorted: word permutations of < n-word texts score jaccard 1.0") {
    val a = Dedup.shingles("beta alpha", 3)
    val b = Dedup.shingles("alpha beta", 3)
    assert(a.toSeq == a.toSeq.sorted)
    assert(Dedup.jaccard(a, b) == 1.0)
  }

  test("ngram jaccard: identical docs score 1.0 even with a frequency-capped shared gram") {
    import spark.implicits._
    // gram 'x y z' is a stop-gram shared by every doc (the gram a df
    // cap would drop); the two identical docs must still score 1.0
    val common = (10L to 20L).map(i => (i, s"x y z unique$i filler words"))
    val dups = Seq((1L, "x y z alpha beta gamma delta"), (2L, "x y z alpha beta gamma delta"))
    val df = (dups ++ common).toDF("id", "text")
    val out = Dedup.ngramJaccardPrefix(df, "id", "text", n = 3, threshold = 0.99)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(out.get((1L, 2L)).contains(1.0), s"got $out")
  }

  test("recursiveSplit: chunks stay in document order (no stray overlap-tail fragment)") {
    val a = "a" * 80
    val b = ("b" * 99 + " ") * 30 // long part, space-splittable
    val text = a + "\n\n" + b
    val chunks = Chunker.recursiveSplit(text, chunkSize = 100, overlap = 20)
    val lastA = chunks.lastIndexWhere(_.contains("a"))
    val firstB = chunks.indexWhere(_.contains("b"))
    assert(lastA >= 0 && firstB >= 0)
    assert(lastA < firstB,
      s"a-content chunk at $lastA appears after b-content chunk at $firstB: $chunks")
  }

  test("fused and unfused pipelines agree on whitespace-degenerate rows") {
    import spark.implicits._
    import java.sql.Timestamp
    val weird = Seq("\n", "\t\t", "   ", "\r\n \t", "ok", "")
      .zipWithIndex.map { case (t, i) =>
        graft.model.Turn(s"w$i", 0, "user", t, "", new Timestamp(0L))
      }.toDF()
    def decisions(df: org.apache.spark.sql.DataFrame) = df
      .select("conv_id", "keep", "drop_reason")
      .collect().map(r => r.getString(0) -> (r.getBoolean(1), r.getString(2))).toMap
    val fused = decisions(Curate.curateDf(spark, weird))
    val unfused = decisions(CurateUnfused.curateDfUnfused(spark, weird))
    assert(fused == unfused, s"fused=$fused unfused=$unfused")
    // and all whitespace-only rows are 'empty', not 'too_short'
    Seq("w0", "w1", "w2", "w3", "w5").foreach { c =>
      assert(fused(c)._2 == "empty", s"$c: ${fused(c)}")
    }
  }

  test("fuzz: fused == unfused on 400 adversarial strings (unicode ws, CJK, emoji, PII, punct)") {
    import spark.implicits._
    import java.sql.Timestamp
    val r = new java.util.SplittableRandom(4242L)
    val atoms = Array(
      "the", "data", "focus on", "he are", "there is many", "Cookie Policy",
      "我们", "数据", "naïve", "Schrödinger", "🙂", "…", "!!!", "???", "....",
      " ", " ", "\t", "\n", "a@b.cc", "https://x.io/y",
      "+1 555 123 4567", "sk-0123456789abcdefghijklmn", "frak", "x" * 50,
      "word", "includes", "Subscribe to our newsletter", "", " ", "123")
    val texts = (0 until 400).map { _ =>
      val n = r.nextInt(24)
      (0 until n).map(_ => atoms(r.nextInt(atoms.length)))
        .mkString(if (r.nextBoolean()) " " else "")
    } :+ "  " :+ "  " :+ "。。。"
    val df = texts.zipWithIndex.map { case (t, i) =>
      graft.model.Turn(s"f$i", 0, "user", t, "", new Timestamp(0L))
    }.toDF()
    def norm(d: org.apache.spark.sql.DataFrame) = d
      .withColumn("ppl", when(isnan(col("ppl")), -1.0).otherwise(round(col("ppl"), 9)))
      .select("conv_id", "lang", "lang_conf", "ppl", "rule_hits", "keep",
        "drop_reason", "scrubbed_text", "scrub_hits")
      .collect().map(_.toSeq.map(String.valueOf)).sortBy(_.toString).toSeq
    assert(norm(Curate.curateDf(spark, df)) == norm(CurateUnfused.curateDfUnfused(spark, df)))
  }

  test("labels() honors skew parameters (sidecar row count matches dataset)") {
    val d = Transcripts.dataset(spark, 5L, skew = true, skewTurns = 500).count()
    val l = Transcripts.labels(spark, 5L, skew = true, skewTurns = 500).count()
    assert(d == l)
  }

  test("TableIO.read on an empty table fails with a clear message, not a schema error") {
    val e = intercept[IllegalArgumentException] {
      graft.tableio.TableIO.read(spark, "/tmp/definitely-not-a-table")
    }
    assert(e.getMessage.contains("no committed partitions"))
  }
}
