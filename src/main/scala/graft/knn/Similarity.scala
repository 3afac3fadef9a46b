package graft.knn

import org.apache.spark.sql.{Column, DataFrame, functions => F}
import org.apache.spark.sql.expressions.Window

/** Similarity search over an embedding column (SURVEY.md §2.10 J5 —
  * rebuild of the reference's k-NN retrieve, data_manager.py:210-248:
  * query embedding vs all stored embeddings, top-5 by distance,
  * similarity-threshold 0.7 filter, data_manager.py:241-247).
  *
  * Brute-force cosine top-k is the baseline (TakeOrderedAndProject —
  * no full sort, no extra shuffle); the random-hyperplane LSH variant
  * is the scale path: candidates come from bucket equi-joins, exact
  * cosine only on candidates.
  */
object Similarity extends Serializable {

  def cosine(a: Array[Float], b: Array[Float]): Double = {
    if (a == null || b == null || a.length != b.length || a.length == 0) return 0.0
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < a.length) {
      dot += a(i).toDouble * b(i); na += a(i).toDouble * a(i); nb += b(i).toDouble * b(i)
      i += 1
    }
    if (na == 0.0 || nb == 0.0) 0.0 else dot / math.sqrt(na * nb)
  }

  /** Column-expression cosine between an array column and a literal
    * query vector — built-ins only (zip_with + aggregate), codegen'd,
    * and 1:1 expressible in DuckDB (`list_cosine_similarity`).
    */
  def cosineCol(emb: Column, query: Seq[Double]): Column = {
    val q = F.typedlit(query)
    val dot = F.aggregate(F.zip_with(emb, q, (x, y) => x * y),
      F.lit(0.0), (acc, x) => acc + x)
    val na = F.aggregate(F.transform(emb, x => x * x), F.lit(0.0), (acc, x) => acc + x)
    val nb = F.lit(query.map(x => x * x).sum)
    dot / F.sqrt(na * nb)
  }

  /** Brute-force top-k by cosine against one query vector; physical
    * plan = map (score) + TakeOrderedAndProject(k).
    */
  def topK(
      df: DataFrame,
      idCol: String,
      embCol: String,
      query: Seq[Double],
      k: Int = 5,
      minSim: Double = Double.NegativeInfinity
  ): DataFrame =
    df.select(F.col(idCol), cosineCol(F.col(embCol).cast("array<double>"), query).as("sim"))
      .filter(F.col("sim") >= minSim)
      .orderBy(F.col("sim").desc, F.col(idCol))
      .limit(k)

  /** Batched top-k: every row of `queries` gets its k nearest corpus
    * rows. Broadcast the (small) query side; per-query top-k via
    * window rank over the scored cross — one shuffle on query_id.
    */
  def topKBatch(
      corpus: DataFrame, corpusId: String, corpusEmb: String,
      queries: DataFrame, queryId: String, queryEmb: String,
      k: Int = 5
  ): DataFrame = {
    val cosU = F.udf((a: Array[Float], b: Array[Float]) => cosine(a, b))
    val scored = corpus
      .select(F.col(corpusId).as("cid"), F.col(corpusEmb).as("cemb"))
      .crossJoin(F.broadcast(
        queries.select(F.col(queryId).as("qid"), F.col(queryEmb).as("qemb"))))
      .withColumn("sim", cosU(F.col("cemb"), F.col("qemb")))
    val w = Window.partitionBy("qid").orderBy(F.col("sim").desc, F.col("cid"))
    scored.withColumn("rank", F.row_number().over(w))
      .filter(F.col("rank") <= k)
      .select("qid", "cid", "sim", "rank")
  }

  /** Batched approximate top-k for LARGE query sets — [[topKBatch]]
    * broadcasts the query side (right only while queries fit in one
    * executor); this variant equi-joins corpus and queries on shared
    * random-hyperplane LSH buckets, so BOTH sides shuffle by bucket
    * key: the 10^12-corpus × 10^9-query shape. The bucket join and the
    * (qid, cid) dedup move bare ids; each embedding is re-attached by
    * id after the dedup, so a pair sharing several bands is scored
    * once (same de-payloading as Dedup's pair paths; ids are unique on
    * each side). Per-query top-k via window rank. Recall is governed
    * by nBits/nBands exactly as in [[topKLsh]].
    */
  def topKBatchLsh(
      corpus: DataFrame, corpusId: String, corpusEmb: String,
      queries: DataFrame, queryId: String, queryEmb: String,
      k: Int = 5,
      nBits: Int = 16,
      nBands: Int = 4
  ): DataFrame = {
    val cosU = F.udf((a: Array[Float], b: Array[Float]) => cosine(a, b))
    val scored = hyperplaneBanded(corpus, corpusId, corpusEmb, "cid", nBits, nBands)
      .join(hyperplaneBanded(queries, queryId, queryEmb, "qid", nBits, nBands),
        Seq("band", "bh"))
      .select("qid", "cid")
      .dropDuplicates("qid", "cid")
      .join(corpus.select(F.col(corpusId).as("cid"), F.col(corpusEmb).as("cemb")), "cid")
      .join(queries.select(F.col(queryId).as("qid"), F.col(queryEmb).as("qemb")), "qid")
      .select(F.col("qid"), F.col("cid"), cosU(F.col("cemb"), F.col("qemb")).as("sim"))
    val w = Window.partitionBy("qid").orderBy(F.col("sim").desc, F.col("cid"))
    scored.withColumn("rank", F.row_number().over(w))
      .filter(F.col("rank") <= k)
      .select("qid", "cid", "sim", "rank")
  }

  /** THE hyperplane-LSH bucket scheme, defined once: id-only
    * (idAlias, band, bh) rows — one per band — for any embedding
    * DataFrame, so nothing but ids enters the bucket shuffle. Shared
    * by [[topKBatchLsh]] and [[graft.dedup.Dedup.embeddingNearDups]] so
    * a change to band extraction cannot drift between them.
    */
  def hyperplaneBanded(
      df: DataFrame,
      idCol: String,
      embCol: String,
      idAlias: String,
      nBits: Int,
      nBands: Int
  ): DataFrame = {
    val bits = bandBits(nBits, nBands)
    val sigU = F.udf((v: Array[Float]) => hyperplaneSig(v, nBits))
    df.select(F.col(idCol).as(idAlias), sigU(F.col(embCol)).as("__sig"))
      .select(F.col(idAlias), explodeBitBands(F.col("__sig"), nBands, bits).as("b"))
      .select(F.col(idAlias), F.col("b.band"), F.col("b.bh"))
  }

  /** Bits per band: the one check that `nBands` divides `nBits`. */
  private[graft] def bandBits(nBits: Int, nBands: Int): Int = {
    require(nBits % nBands == 0, s"nBands $nBands must divide nBits $nBits")
    nBits / nBands
  }

  /** Band `b` of a bit-banded Long signature column: its bits
    * [b·bits, (b+1)·bits), as a Long. The one band split of the
    * hyperplane LSH ([[hyperplaneBanded]], [[topKLsh]]) and of
    * `Dedup.simhashNearDups`.
    */
  private[graft] def bitBand(sig: Column, b: Int, bits: Int): Column =
    F.shiftright(sig, b * bits).bitwiseAND(F.lit((1L << bits) - 1))

  /** One struct (band, bh = [[bitBand]]) per band of `sig`, exploded. */
  private[graft] def explodeBitBands(sig: Column, nBands: Int, bits: Int): Column =
    F.explode(F.array((0 until nBands).map(b =>
      F.struct(F.lit(b).as("band"), bitBand(sig, b, bits).as("bh"))): _*))

  /** Deterministic random hyperplane for LSH bit b (seeded hash — no
    * RNG state, identical on every executor).
    */
  @inline private[graft] def planeComponent(bit: Int, dim: Int): Double = {
    val x = graft.util.Hash.mix(bit.toLong << 32 | dim.toLong)
    // map to [-1, 1)
    (x >>> 11).toDouble / (1L << 52).toDouble * 2.0 - 1.0
  }

  /** nBits-bit random-hyperplane signature of a vector. */
  def hyperplaneSig(v: Array[Float], nBits: Int): Long = {
    if (v == null) return 0L
    var sig = 0L
    var b = 0
    while (b < nBits) {
      var dot = 0.0
      var d = 0
      while (d < v.length) { dot += v(d) * planeComponent(b, d); d += 1 }
      if (dot >= 0) sig |= (1L << b)
      b += 1
    }
    sig
  }

  /** Index of the centroid nearest `v` by cosine (the first on ties):
    * k-means assignment and the IVF cell of a vector.
    */
  def nearestCentroid(v: Array[Float], centroids: Array[Array[Float]]): Int = {
    var best = 0
    var bestSim = Double.NegativeInfinity
    var c = 0
    while (c < centroids.length) {
      val s = cosine(v, centroids(c))
      if (s > bestSim) { bestSim = s; best = c }
      c += 1
    }
    best
  }

  /** Deterministic spherical k-means centroids for the IVF index:
    * a bounded hash-ordered sample (O(sampleSize·dim) driver memory at
    * ANY corpus size), evenly-spaced init over the sample, `iters`
    * Lloyd rounds on the driver (assign by max cosine, recenter =
    * normalized mean, empty cluster keeps its centroid). Fully
    * deterministic — no RNG state, same result on every run and
    * partitioning. (Round-1 verdict #8: first-k-rows "centroids" are
    * deterministic but not a clustering; nprobe pruning silently hurt
    * recall on clustered data.)
    */
  def kmeansCentroids(
      df: DataFrame,
      idCol: String,
      embCol: String,
      k: Int,
      iters: Int = 3,
      sampleSize: Int = 2048
  ): Array[Array[Float]] = {
    // hash-order works on ANY orderable id type (string ids included —
    // a long cast here blew up on "doc-N" ids, IvfIndexSpec); for the
    // existing long-id callers hash(col) is unchanged
    val sample = df
      .select(F.col(idCol).as("__id"), F.col(embCol).as("__emb"))
      .orderBy(F.pmod(F.hash(F.col("__id")), F.lit(1000003)), F.col("__id"))
      .limit(sampleSize)
      .collect()
      .map(_.getSeq[Float](1).toArray)
    require(sample.nonEmpty, "kmeansCentroids: empty input")
    val dim = sample.head.length
    var centroids = Array.tabulate(math.min(k, sample.length)) { i =>
      sample((i.toLong * sample.length / k).toInt.min(sample.length - 1)).clone()
    }
    var it = 0
    while (it < iters) {
      val sums = Array.ofDim[Double](centroids.length, dim)
      val counts = new Array[Int](centroids.length)
      sample.foreach { v =>
        val best = nearestCentroid(v, centroids)
        counts(best) += 1
        var d = 0
        while (d < dim) { sums(best)(d) += v(d); d += 1 }
      }
      centroids = centroids.zipWithIndex.map { case (old, c) =>
        if (counts(c) == 0) old
        else {
          var norm = 0.0
          var d = 0
          while (d < dim) { val x = sums(c)(d) / counts(c); norm += x * x; d += 1 }
          val inv = if (norm == 0.0) 0.0 else 1.0 / math.sqrt(norm)
          Array.tabulate(dim)(d => (sums(c)(d) / counts(c) * inv).toFloat)
        }
      }
      it += 1
    }
    centroids
  }

  /** LSH-bucketed approximate top-k for one query: prune to rows whose
    * signature shares a band with the query's, then exact cosine top-k
    * on the candidates. At scale the signature is a precomputed table
    * column, so the probe is a partition-prunable equi-filter.
    */
  def topKLsh(
      df: DataFrame,
      idCol: String,
      embCol: String,
      query: Array[Float],
      k: Int = 5,
      nBits: Int = 16,
      nBands: Int = 4
  ): DataFrame = {
    val bits = bandBits(nBits, nBands)
    val qSig = hyperplaneSig(query, nBits)
    val sigU = F.udf((v: Array[Float]) => hyperplaneSig(v, nBits))
    val matchesBand = (0 until nBands)
      .map(b => bitBand(F.col("__sig"), b, bits) === F.lit((qSig >>> (b * bits)) & ((1L << bits) - 1)))
      .reduce(_ || _)
    val cosU = F.udf((a: Array[Float]) => cosine(a, query))
    df.withColumn("__sig", sigU(F.col(embCol)))
      .filter(matchesBand)
      .select(F.col(idCol), cosU(F.col(embCol)).as("sim"))
      .orderBy(F.col("sim").desc, F.col(idCol))
      .limit(k)
  }
}
