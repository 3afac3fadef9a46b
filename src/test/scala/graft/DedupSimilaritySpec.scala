package graft

import graft.dedup.Dedup
import graft.knn.{IvfIndex, Similarity}

class DedupSimilaritySpec extends SparkTestBase with FixtureDirs {
  import org.apache.spark.sql.functions._

  lazy val docs = {
    import spark.implicits._
    Seq(
      (1L, "the quick brown fox jumps over the lazy dog near the river bank today"),
      (2L, "the quick brown fox jumps over the lazy dog near the river bank now"), // near-dup of 1
      (3L, "completely different content about spark catalyst optimizer internals and codegen"),
      (4L, "the quick brown fox jumps over the lazy dog near the river bank today"), // exact dup of 1
      (5L, "spark catalyst optimizer performs predicate pushdown and column pruning always")
    ).toDF("id", "text")
  }

  test("exact dedup keeps deterministic first row per hash (P9)") {
    val out = Dedup.exactDedup(docs, "text", "id").select("id").collect().map(_.getLong(0)).sorted
    assert(out.toSeq == Seq(1L, 2L, 3L, 5L)) // 4 dropped (dup of 1, higher id)
  }

  test("exact dedup: two-phase min, no window — hot content group exact (r6)") {
    // a boilerplate doc repeated 10^4 times: the old row_number()
    // window sorted the whole group on one task; the two-phase shape
    // must keep only the min-id row, values identical, zero WindowExec
    import spark.implicits._
    val docs = ((0L until 10000L).map(i => (i, "same boilerplate body")) :+
      (10000L, "one unique doc")).toDF("id", "text")
    val res = Dedup.exactDedup(docs, "text", "id")
    assert(res.select("id").collect().map(_.getLong(0)).sorted.toSeq == Seq(0L, 10000L))
    // the same hot group through every other first-occurrence join-back
    Seq(res, Dedup.minhashClusters(docs, "id", "text"),
      Dedup.spanDedup(docs, "id", "text", w = 2), Dedup.lineDedup(docs, "id", "text")
    ).foreach { df =>
      val p = df.queryExecution.executedPlan.toString
      assert(!p.contains("Window"), p)
      assert(p.contains("ShuffledHashJoin") || p.contains("BroadcastHashJoin"), p)
      assert(!p.contains("SortMergeJoin"), p)
    }
  }

  test("exact dedup fails on a NULL order column instead of silently dropping the row") {
    // min() skips NULL, so a NULL-ordered row can never equal its
    // group's first: the query must fail rather than drop it
    import spark.implicits._
    val docs = Seq((Some(1L), "a"), (None: Option[Long], "a"), (Some(3L), "b"))
      .toDF("id", "text")
    val e = intercept[Exception](Dedup.exactDedup(docs, "text", "id").collect())
    assert(e.getMessage.contains("NULL id"), e.getMessage)
  }

  test("exact dedup keeps one representative of the NULL-text group (r5 window semantics)") {
    // md5(NULL) is NULL and a bare equi-join would drop every NULL-text
    // row; the null-safe sentinel key must keep exactly the min-id one,
    // matching the old row_number() window's NULL-partition behavior.
    import spark.implicits._
    val docs = Seq((1L, "a"), (2L, null: String), (3L, null: String), (4L, "a"))
      .toDF("id", "text")
    val out = Dedup.exactDedup(docs, "text", "id")
      .select("id").collect().map(_.getLong(0)).sorted.toSeq
    assert(out == Seq(1L, 2L))
  }

  test("minhash LSH finds planted near-dups and exact dups, not unrelated pairs") {
    val pairs = Dedup.minhashNearDups(docs, "id", "text", threshold = 0.6)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 4L)))
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.exists { case (a, b) => Set(a, b) == Set(1L, 3L) })
  }

  test("minhashNearDups sketches each row ONCE (exchange reuse across the 4 DAG branches)") {
    // the (id, sh) projection sits behind one repartition(id) Exchange
    // that all four consumers (band-join sides + verify joins) share —
    // without it the shingle UDF re-runs per branch (4x shingling cost).
    // Input must be a real source (parquet), not a local Seq: a
    // LocalRelation gets its projections CONSTANT-FOLDED per logical
    // branch at optimization time (ConvertToLocalRelation), which would
    // count driver-side evaluations no real scan performs.
    val path = fixtureDir("/tmp/graft-dedup-sketch-once")
    docs.write.mode("overwrite").parquet(path)
    val input = spark.read.parquet(path)
    val acc = spark.sparkContext.longAccumulator("sketch-calls")
    val n = input.count()
    Dedup.minhashNearDups(input, "id", "text", threshold = 0.6,
      sketchCounter = Some(acc)).collect()
    assert(acc.value == n, s"sketch UDF ran ${acc.value} times for $n rows")
  }

  test("minhash clusters: every dup points to min id representative") {
    val reps = Dedup.minhashClusters(docs, "id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(reps(4L) == 1L)
    assert(reps(2L) == 1L)
    assert(reps(1L) == 1L)
    assert(reps(3L) == 3L || reps(3L) == 3L)
  }

  test("jaccard: exact on sorted shingle arrays") {
    val a = Dedup.shingles("a b c d e", 2)
    val b = Dedup.shingles("a b c d x", 2)
    // shingles: {ab,bc,cd,de} vs {ab,bc,cd,dx} → 3/5
    assert(math.abs(Dedup.jaccard(a, b) - 0.6) < 1e-9)
    assert(Dedup.jaccard(a, a) == 1.0)
  }

  test("simhash: identical text → distance 0; near text small; different text large") {
    val h1 = Dedup.simhash("the quick brown fox jumps over the lazy dog")
    val h2 = Dedup.simhash("the quick brown fox jumps over the lazy cat")
    val h3 = Dedup.simhash("catalyst codegen whole stage pipelines tungsten memory format")
    assert(java.lang.Long.bitCount(h1 ^ h1) == 0)
    assert(java.lang.Long.bitCount(h1 ^ h2) < java.lang.Long.bitCount(h1 ^ h3))
  }

  test("simhash near-dups via 4-band pigeonhole") {
    val out = Dedup.simhashNearDups(docs, "id", "text", maxHamming = 3)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(out.contains((1L, 4L))) // exact dup always hamming 0
  }

  test("ngram jaccard pairs relational path matches scala jaccard") {
    val out = Dedup.ngramJaccardPrefix(docs, "id", "text", n = 3, threshold = 0.5)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    val expected = Dedup.jaccard(Dedup.shingles(
      "the quick brown fox jumps over the lazy dog near the river bank today", 3),
      Dedup.shingles("the quick brown fox jumps over the lazy dog near the river bank now", 3))
    assert(out.contains((1L, 4L)) && math.abs(out((1L, 4L)) - 1.0) < 1e-9)
    assert(math.abs(out((1L, 2L)) - expected) < 1e-9)
  }

  test("minhashClusters == independent per-id bucket-min computation") {
    import spark.implicits._
    val fixture = (0 until 80).map { i =>
      val t =
        if (i % 4 == 0) "the quick brown fox jumps over the lazy dog today"
        else if (i % 4 == 1) "the quick brown fox jumps over the lazy dog now"
        else if (i % 4 == 2) s"unique content number $i about catalyst internals and codegen"
        else "???" // token-less → own representative
      (i.toLong, t)
    }
    val got = Dedup.minhashClusters(fixture.toDF("id", "text"), "id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // independent computation: bucket → min id; id → min over its buckets
    val banded = fixture.flatMap { case (id, t) =>
      val sh = Dedup.shingles(t, 3)
      if (sh.isEmpty) Seq.empty
      else Dedup.bandHashes(Dedup.minhashSignature(sh, 64).toIndexedSeq, 16, 4)
        .map(b => (b, id))
    }
    val bucketMin = banded.groupBy(_._1).map { case (b, xs) => b -> xs.map(_._2).min }
    val expected = fixture.map { case (id, t) =>
      val sh = Dedup.shingles(t, 3)
      id -> (if (sh.isEmpty) id
        else Dedup.bandHashes(Dedup.minhashSignature(sh, 64).toIndexedSeq, 16, 4)
          .map(bucketMin).min)
    }.toMap
    assert(got == expected)
    assert(got(4L) == 0L && got(79L) == 79L) // dup family collapses; token-less self
  }

  test("minhashClusters: two-phase bucket min — no Window, mega-group exact") {
    import spark.implicits._
    import org.apache.spark.sql.execution.window.WindowExec
    // a planted mega-duplicate group (identical text → identical
    // buckets) plus distinct rows: the r4 shape sorted all 5000
    // members of the hot bucket on one task; the two-phase aggregate
    // must produce the same VALUES with no WindowExec anywhere
    val fixture = (0 until 5050).map { i =>
      val t =
        if (i < 5000) "the same boilerplate sentence repeated at massive scale here"
        else s"distinct filler row number $i with its own words and content"
      (i.toLong, t)
    }
    val df = Dedup.minhashClusters(fixture.toDF("id", "text"), "id", "text")
    val windows = df.queryExecution.executedPlan.collect { case w: WindowExec => w }
    assert(windows.isEmpty, "bucket min must be a two-phase aggregate, not a window sort")
    val got = df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert((0 until 5000).forall(i => got(i.toLong) == 0L))
    assert(got.size == 5050)
  }

  test("topKLsh == brute force restricted to band-sharing candidates") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val vecs = emb.collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getSeq[Float](1).toArray)
    val q = vecs.find(_._1 == 3L).get._2
    val got = Similarity.topKLsh(emb, "vec_id", "embedding", q, k = 5)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    def bandsOf(v: Array[Float]) = {
      val sig = Similarity.hyperplaneSig(v, 16)
      (0 until 4).map(b => (b, (sig >>> (b * 4)) & 0xfL)).toSet
    }
    val qb = bandsOf(q)
    val expected = vecs
      .filter { case (_, v) => (bandsOf(v) intersect qb).nonEmpty }
      .map { case (id, v) => (id, Similarity.cosine(v, q)) }
      .sortBy { case (id, s) => (-s, id) }
      .take(5)
    assert(got.map(_._1).toSeq == expected.map(_._1).toSeq)
    got.zip(expected).foreach { case ((_, gs), (_, es)) =>
      assert(math.abs(gs - es) < 1e-12)
    }
  }

  test("simhashNearDups == exhaustive hamming enumeration with rep-collapse (120-doc fixture)") {
    import spark.implicits._
    // near-dup families: same base words with small perturbations,
    // plus exact duplicates (rep-collapse path) and unrelated docs
    val base = Seq("alpha beta gamma delta epsilon zeta eta theta",
      "iota kappa lambda mu nu xi omicron pi",
      "completely different content rho sigma tau upsilon")
    val docs = (0 until 120).map { i =>
      val t = base(i % 3) + (if (i % 5 == 0) "" else s" variant${i % 7}")
      (i.toLong, t)
    }
    val got = Dedup.simhashNearDups(docs.toDF("id", "text"), "id", "text", maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    // independent enumeration of the SAME semantics: collapse equal
    // signatures to min-id rep (intra at distance 0), then all rep
    // pairs within hamming 3
    val sigs = docs.map { case (id, t) => id -> Dedup.simhash(t) }
    val reps = sigs.groupBy(_._2).map { case (sig, xs) => sig -> xs.map(_._1).min }
    val intra = sigs.collect { case (id, sig) if reps(sig) != id => (reps(sig), id, 0) }
    val repList = reps.toSeq.map { case (sig, id) => (id, sig) }.sortBy(_._1)
    val inter = for {
      (a, sa) <- repList; (b, sb) <- repList if a < b
      h = java.lang.Long.bitCount(sa ^ sb) if h <= 3
    } yield (a, b, h)
    assert(got == (intra ++ inter).toSet)
    assert(intra.nonEmpty && inter.nonEmpty) // both paths exercised
  }

  test("embeddingNearDups == exhaustive band+cosine enumeration (embeddings fixture)") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val got = Dedup.embeddingNearDups(emb, "vec_id", "embedding",
        simThreshold = 0.25, nBits = 8, nBands = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val vecs = emb.collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getSeq[Float](1).toArray).sortBy(_._1)
    def bandsOf(sig: Long) = (0 until 4).map(b => (b, (sig >>> (b * 2)) & 0x3L)).toSet
    val sigs = vecs.map { case (id, v) => (id, bandsOf(Similarity.hyperplaneSig(v, 8)), v) }
    val expected = (for {
      (a, ba, va) <- sigs; (b, bb, vb) <- sigs
      if a < b && (ba intersect bb).nonEmpty &&
        Similarity.cosine(va, vb) >= 0.25
    } yield (a, b)).toSet
    assert(got == expected)
    assert(expected.nonEmpty)
  }

  test("ngramDroppedGrams quantifies the maxGramFreq coverage loss (pairs sharing only a hot gram are lost)") {
    import spark.implicits._
    // "alpha beta gamma" is shared by 3 docs (df=3 > cap 2); every
    // other 3-gram is unique to its doc
    val hot = Seq(
      (1L, "alpha beta gamma delta"),
      (2L, "alpha beta gamma epsilon"),
      (3L, "alpha beta gamma zeta"),
      (4L, "totally different words here")
    ).toDF("id", "text")
    val dropped = Dedup.ngramDroppedGrams(hot, "id", "text", n = 3, maxGramFreq = 2).collect()
    assert(dropped.length == 1 && dropped.head.getAs[Long]("gf") == 3L)
    // a cap of 2 would lose all 1-2/1-3/2-3 pairs; the exact path has
    // no cap and finds them
    val exact = Dedup.ngramJaccardPrefix(hot, "id", "text", n = 3, threshold = 0.01)
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact == Set((1L, 2L), (1L, 3L), (2L, 3L)))
  }

  test("ngramJaccardPrefix == exhaustive brute-force enumeration (exact, no cap)") {
    import spark.implicits._
    // deterministic 40-doc corpus with overlapping templates so pairs
    // exist at many jaccard levels, incl. repeated stop-gram runs
    val base = Array("alpha", "beta", "gamma", "delta", "epsilon", "zeta",
      "eta", "theta", "iota", "kappa")
    val corpus = (0 until 40).map { i =>
      val r = new scala.util.Random(i / 4) // groups of 4 share a seed → near-dups
      val words = Seq.fill(8 + (i % 5))(base(r.nextInt(base.length))) ++
        Seq(base(i % base.length), base((i * 3) % base.length))
      (i.toLong, words.mkString(" "))
    }
    for (t <- Seq(0.2, 0.3, 0.5, 0.8)) {
      val got = Dedup.ngramJaccardPrefix(corpus.toDF("id", "text"), "id", "text",
          n = 3, threshold = t)
        .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
      val sh = corpus.map { case (id, text) => id -> Dedup.shingles(text, 3) }.toMap
      val want = (for {
        a <- corpus.map(_._1); b <- corpus.map(_._1) if a < b
        j = Dedup.jaccard(sh(a), sh(b)) if j >= t
      } yield (a, b) -> j).toMap
      assert(got.keySet == want.keySet, s"pair set mismatch at t=$t")
      want.foreach { case (k, j) => assert(math.abs(got(k) - j) < 1e-9) }
    }
  }

  test("ngramJaccardPrefix finds the stop-gram-only pairs the capped path loses") {
    import spark.implicits._
    // same fixture as the ngramDroppedGrams test: the only shared gram
    // has df=3, so any cap < 3 silently loses all three pairs — the
    // prefix path has no cap and must find them
    val hot = Seq(
      (1L, "alpha beta gamma delta"),
      (2L, "alpha beta gamma epsilon"),
      (3L, "alpha beta gamma zeta"),
      (4L, "totally different words here")
    ).toDF("id", "text")
    val found = Dedup.ngramJaccardPrefix(hot, "id", "text", n = 3, threshold = 0.01)
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(found == Set((1L, 2L), (1L, 3L), (2L, 3L)))
    // exact dups score 1.0 through the prefix path too
    val dup = Seq((1L, "same exact text body"), (2L, "same exact text body"))
      .toDF("id", "text")
    val pd = Dedup.ngramJaccardPrefix(dup, "id", "text", n = 3, threshold = 0.9)
      .collect()
    assert(pd.length == 1 && math.abs(pd.head.getDouble(2) - 1.0) < 1e-9)
  }

  test("ngramJaccardPrefix sketches each row ONCE (checkpoint-pinned across DAG branches)") {
    // the (id, sh) projection is pinned by an eager localCheckpoint
    // shared by the prefix emission and both verify-join sides;
    // parquet-backed input so ConvertToLocalRelation can't fake the
    // count
    val path = fixtureDir("/tmp/graft-ngram-prefix-sketch-once")
    docs.write.mode("overwrite").parquet(path)
    val input = spark.read.parquet(path)
    val acc = spark.sparkContext.longAccumulator("prefix-sketch-calls")
    val n = input.count()
    Dedup.ngramJaccardPrefix(input, "id", "text", n = 3, threshold = 0.5,
      sketchCounter = Some(acc)).collect()
    assert(acc.value == n, s"sketch UDF ran ${acc.value} times for $n rows")
  }

  /** Union-find oracle: vertex → smallest id in its component. */
  private def unionFind(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    parent.keys.map(v => v -> find(v)).toMap
  }

  private def components(edges: Seq[(Long, Long)], maxIter: Int = 50): Map[Long, Long] = {
    import spark.implicits._
    Dedup.connectedComponents(edges.toDF("a", "b"), "a", "b", maxIter)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  test("connectedComponents == union-find oracle (random graph, chain, cliques)") {
    import spark.implicits._
    def check(edges: Seq[(Long, Long)]): Unit =
      assert(components(edges) == unionFind(edges), s"mismatch for $edges")
    // chain of 12: needs several contraction rounds (exercises the
    // iteration, not just one-hop min)
    check((0L until 11L).map(i => (i, i + 1)))
    // two cliques bridged by one edge + an isolated pair
    check(Seq((1L, 2L), (2L, 3L), (1L, 3L), (10L, 11L), (11L, 12L),
      (3L, 10L), (20L, 21L)))
    // deterministic random graph
    val rnd = new scala.util.Random(7)
    check(Seq.fill(60)((rnd.nextInt(30).toLong, rnd.nextInt(30).toLong))
      .filter { case (a, b) => a != b })
    // empty edge list → empty output, converges immediately
    assert(Dedup.connectedComponents(
      Seq.empty[(Long, Long)].toDF("a", "b"), "a", "b").count() == 0L)
  }

  test("connectedComponents star == label on every fixture; O(log n) rounds on a long chain") {
    val fixtures = Seq(
      (0L until 11L).map(i => (i, i + 1)),
      Seq((1L, 2L), (2L, 3L), (1L, 3L), (10L, 11L), (11L, 12L),
        (3L, 10L), (20L, 21L)),
      {
        val rnd = new scala.util.Random(11)
        Seq.fill(60)((rnd.nextInt(30).toLong, rnd.nextInt(30).toLong))
          .filter { case (a, b) => a != b }
      })
    fixtures.foreach { edges =>
      assert(components(edges) == unionFind(edges), s"mismatch for $edges")
    }
    // adversarial diameter: a 4096-node path. Label propagation would
    // need 4095 rounds; the star contraction must land within
    // ~2·log2(n) + slack (the maxIter below IS the assertion — the
    // require() inside fails the test if rounds exceed it).
    val n = 4096L
    val got = components((0L until n - 1).map(i => (i, i + 1)), maxIter = 2 * 12 + 4)
    assert(got.size == n && got.values.forall(_ == 0L))
  }

  test("MinHashAgg: group signature == signature of concatenated text; conv near-dups found") {
    import spark.implicits._
    import graft.functions.MinHashAgg
    // signature built distributively over turns == signature of the union shingle set
    val turns = Seq(
      ("c1", "the quick brown fox jumps over the lazy dog"),
      ("c1", "pack my box with five dozen liquor jugs today"),
      ("c2", "the quick brown fox jumps over the lazy dog"),   // c2 == c1 turn-for-turn
      ("c2", "pack my box with five dozen liquor jugs today"),
      ("c3", "completely unrelated catalyst whole stage codegen internals")
    ).toDF("conv_id", "text")
    val sigs = turns.groupBy("conv_id")
      .agg(MinHashAgg.minhash_agg(col("text")).as("sig"))
      .collect().map(r => r.getString(0) -> r.getSeq[Long](1)).toMap
    assert(sigs("c1") == sigs("c2")) // identical conversations → identical signatures
    assert(sigs("c1") != sigs("c3"))
    // direct check against the scala-side union signature
    val unionSig = Dedup.minhashSignature(
      (Dedup.shingles("the quick brown fox jumps over the lazy dog", 3) ++
        Dedup.shingles("pack my box with five dozen liquor jugs today", 3)).distinct, 64)
    assert(sigs("c1").toArray.toSeq == unionSig.toSeq)
    // operator end-to-end
    val pairs = Dedup.convNearDups(turns, threshold = 0.9)
      .collect().map(r => (r.getString(0), r.getString(1), r.getDouble(2)))
    assert(pairs.exists(p => p._1 == "c1" && p._2 == "c2" && p._3 == 1.0))
    assert(!pairs.exists(p => Set(p._1, p._2).contains("c3")))
    // merge path: same result under repartition (partial buffers merged)
    val sigs7 = turns.repartition(7).groupBy("conv_id")
      .agg(MinHashAgg.minhash_agg(col("text")).as("sig"))
      .collect().map(r => r.getString(0) -> r.getSeq[Long](1)).toMap
    assert(sigs7 == sigs)
  }

  test("convNearDups == exhaustive band+signature-agreement enumeration") {
    import spark.implicits._
    // 30 conversations: families of near-identical conversations (one
    // turn perturbed) + unrelated ones
    val convs = (0 until 30).map { c =>
      val base =
        if (c % 3 == 0) Seq("the quick brown fox jumps over the lazy dog",
          "pack my box with five dozen liquor jugs today")
        else if (c % 3 == 1) Seq("the quick brown fox jumps over the lazy dog",
          s"pack my box with five dozen liquor jugs variant${c % 6}")
        else Seq(s"entirely unrelated conversation number $c about codegen",
          s"with different content $c in every single turn")
      base.map(t => (f"c$c%03d", t))
    }
    val turns = convs.flatten.toDF("conv_id", "text")
    val threshold = 0.7
    val got = Dedup.convNearDups(turns, threshold = threshold)
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    // independent enumeration: per-conv union-shingle signature, band
    // on it, pairs sharing >= 1 band with signature agreement >= thr
    val sigs = convs.map { c =>
      val union = c.flatMap { case (_, t) => Dedup.shingles(t, 3) }.distinct.toArray
      c.head._1 -> Dedup.minhashSignature(union, 64)
    }.sortBy(_._1)
    def bands(sig: Array[Long]) =
      Dedup.bandHashes(sig.toIndexedSeq, 16, 4).toSet
    val expected = (for {
      (a, sa) <- sigs; (b, sb) <- sigs
      if a < b && (bands(sa) intersect bands(sb)).nonEmpty
      agree = sa.zip(sb).count { case (x, y) => x == y }.toDouble / sa.length
      if agree >= threshold
    } yield (a, b)).toSet
    assert(got == expected)
    assert(expected.nonEmpty)
    assert(!expected.exists { case (a, b) => // unrelated convs never pair
      a.stripPrefix("c").toInt % 3 == 2 || b.stripPrefix("c").toInt % 3 == 2 })
  }

  test("cosineCol column expression == scala cosine") {
    import spark.implicits._
    val vecs = Seq((1L, Array(1.0f, 2.0f, 3.0f)), (2L, Array(-1.0f, 0.5f, 0.0f)))
      .toDF("id", "emb")
    val q = Seq(0.5, -1.0, 2.0)
    val got = vecs.select($"id",
        Similarity.cosineCol($"emb".cast("array<double>"), q).as("sim"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    Seq((1L, Array(1.0f, 2.0f, 3.0f)), (2L, Array(-1.0f, 0.5f, 0.0f))).foreach {
      case (id, v) =>
        val exp = Similarity.cosine(v, q.map(_.toFloat).toArray)
        assert(math.abs(got(id) - exp) < 1e-9)
    }
  }

  test("brute-force topK and LSH topK agree on the obvious nearest neighbor") {
    import spark.implicits._
    val base = Array.tabulate(8)(i => math.sin(i + 1).toFloat)
    val near = base.clone(); near(0) = near(0) + 0.01f
    val far = Array.tabulate(8)(i => math.cos(3 * i + 2).toFloat)
    val df = Seq((0L, base), (1L, near), (2L, far)).toDF("id", "emb")
    val brute = Similarity.topK(df, "id", "emb", base.map(_.toDouble).toSeq, k = 2)
      .collect().map(_.getLong(0)).toSeq
    assert(brute == Seq(0L, 1L))
    val lsh = Similarity.topKLsh(df, "id", "emb", base, k = 2)
      .collect().map(_.getLong(0)).toSeq
    assert(lsh.headOption.contains(0L))
    assert(lsh.contains(1L)) // near vector shares buckets with base
  }

  test("topKLsh and topKBatchLsh reject nBands that do not divide nBits") {
    import spark.implicits._
    val df = Seq((0L, Array(1f, 0f)), (1L, Array(0f, 1f))).toDF("id", "emb")
    val e = intercept[IllegalArgumentException](
      Similarity.topKLsh(df, "id", "emb", Array(1f, 0f), nBits = 16, nBands = 3))
    assert(e.getMessage.contains("nBands 3 must divide nBits 16"), e.getMessage)
    intercept[IllegalArgumentException](
      Similarity.topKBatchLsh(df, "id", "emb", df, "id", "emb", nBits = 16, nBands = 3))
  }

  /** Builds an [[IvfIndex]] over `df` in a temp dir, hands it to `f`
    * and deletes the dir afterwards.
    */
  private def withIvf[T](df: org.apache.spark.sql.DataFrame, nCells: Int,
      nAssign: Int = 1)(f: IvfIndex => T): T = {
    val dir = java.nio.file.Files.createTempDirectory("graft-ivf-spec")
    try f(IvfIndex.build(spark, df, "vec_id", "embedding", dir.toString, nCells, nAssign))
    finally graft.tableio.TableIO.deleteRecursive(dir)
  }

  test("IVF: probing all cells == brute force; partial probe returns a subset") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val q = emb.filter(col("vec_id") === 7)
      .select("embedding").head().getSeq[Float](0).toArray
    val brute = Similarity.topK(emb, "vec_id", "embedding",
        q.map(_.toDouble).toSeq, k = 5)
      .collect().map(_.getLong(0)).toSeq
    withIvf(emb, nCells = 8) { idx =>
      val ivfAll = idx.query(q, k = 5, nprobe = 8)
        .collect().map(_.getLong(0)).toSeq
      assert(ivfAll == brute) // full probe degenerates to exact search
      val ivfPartial = idx.query(q, k = 5, nprobe = 2)
        .collect().map(r => (r.getLong(0), r.getDouble(1)))
      assert(ivfPartial.nonEmpty)
      // partial-probe results are genuine similarities from probed cells,
      // sorted descending
      assert(ivfPartial.map(_._2).toSeq == ivfPartial.map(_._2).sorted.reverse.toSeq)
    }
  }

  private def ivfRecallAt5(df: org.apache.spark.sql.DataFrame,
      queries: Seq[Array[Float]], nCells: Int, nprobe: Int,
      nAssign: Int = 1): Double = withIvf(df, nCells, nAssign) { idx =>
    val recalls = queries.map { q =>
      val brute = Similarity.topK(df, "vec_id", "embedding",
          q.map(_.toDouble).toSeq, k = 5)
        .collect().map(_.getLong(0)).toSet
      val ivf = idx.query(q, k = 5, nprobe = nprobe)
        .collect().map(_.getLong(0)).toSet
      (brute intersect ivf).size.toDouble / brute.size
    }
    recalls.sum / recalls.length
  }

  test("IVF k-means: recall@5 >= 0.9 at nprobe=4/nCells=10 on clustered embeddings") {
    // deterministic 10-cluster corpus (unit centers + 0.25 noise):
    // k-means recovers the real structure, so probing the 4 nearest
    // cells captures essentially all true neighbors
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    def unit(dim: Int) = {
      val v = Array.fill(dim)(rnd.nextGaussian().toFloat)
      val n = math.sqrt(v.map(x => x.toDouble * x).sum).toFloat
      v.map(_ / n)
    }
    val centers = Array.fill(10)(unit(32))
    val vecs = (0 until 500).map { i =>
      val c = centers(i % 10)
      val noise = unit(32)
      (i.toLong, c.zip(noise).map { case (a, b) => a + 0.25f * b })
    }
    val df = vecs.toDF("vec_id", "embedding").persist()
    val queries = vecs.take(20).map(_._2).toSeq
    val recall = ivfRecallAt5(df, queries, nCells = 10, nprobe = 4)
    df.unpersist()
    assert(recall >= 0.9, s"clustered recall@5 = $recall")
  }

  test("IVF k-means on the STRUCTURELESS driver fixture: recall tracks probed-cell fraction; multi-assign lifts it") {
    // /root/testdata embeddings are isotropic random (intra-label cosine
    // == inter-label ~= 0): neighbors spread across all Voronoi cells,
    // so ~nprobe/nCells recall is the data's ceiling for single-assign
    // IVF — asserted here so the limitation is explicit, not silent.
    // nAssign=2 (each vector indexed under its 2 nearest cells) buys
    // recall back at 2x index size — the standard structureless knob.
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").persist()
    val queries = emb.filter(col("vec_id") < 12)
      .select("embedding").collect().map(_.getSeq[Float](0).toArray).toSeq
    val single = ivfRecallAt5(emb, queries, nCells = 8, nprobe = 4, nAssign = 1)
    val multi = ivfRecallAt5(emb, queries, nCells = 8, nprobe = 4, nAssign = 2)
    emb.unpersist()
    assert(single >= 0.55, s"single-assign recall@5 = $single")
    assert(multi >= single, s"multi-assign $multi < single $single")
    assert(multi >= 0.8, s"multi-assign recall@5 = $multi")
  }

  test("topKBatchLsh: self is rank 1, candidates share a band, ranks descend") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val out = Similarity.topKBatchLsh(emb, "vec_id", "embedding",
        emb.filter(col("vec_id") < 4), "vec_id", "embedding", k = 3)
      .collect()
      .map(r => (r.getAs[Long]("qid"), r.getAs[Long]("cid"),
        r.getAs[Double]("sim"), r.getAs[Int]("rank")))
    // the query vector is in the corpus and shares all its own bands
    (0L until 4L).foreach { q =>
      val mine = out.filter(_._1 == q).sortBy(_._4)
      assert(mine.head._2 == q && math.abs(mine.head._3 - 1.0) < 1e-9, s"q=$q self not rank 1")
      assert(mine.map(_._3).toSeq == mine.map(_._3).sorted.reverse.toSeq)
    }
    // every candidate genuinely shares an LSH band with its query
    val sigs = emb.collect().map(r =>
      r.getAs[Long]("vec_id") ->
        Similarity.hyperplaneSig(r.getSeq[Float](1).toArray, 16)).toMap
    out.foreach { case (q, c, _, _) =>
      val shares = (0 until 4).exists(b =>
        ((sigs(q) >>> (b * 4)) & 0xfL) == ((sigs(c) >>> (b * 4)) & 0xfL))
      assert(shares, s"pair ($q,$c) shares no band")
    }
  }

  test("topKBatch ranks per query with deterministic tie-break") {
    import spark.implicits._
    val vs = Seq(
      (0L, Array(1f, 0f)), (1L, Array(0.9f, 0.1f)), (2L, Array(0f, 1f)))
      .toDF("id", "emb")
    val out = Similarity.topKBatch(vs, "id", "emb", vs.filter($"id" === 0), "id", "emb", k = 2)
      .collect().map(r => (r.getAs[Long]("qid"), r.getAs[Long]("cid"), r.getAs[Int]("rank")))
    assert(out.toSeq.sortBy(_._3) == Seq((0L, 0L, 1), (0L, 1L, 2)))
  }
}
