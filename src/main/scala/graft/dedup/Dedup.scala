package graft.dedup

import java.util.Locale

import org.apache.spark.sql.{Column, DataFrame, functions => F}
import org.apache.spark.sql.expressions.{UserDefinedFunction, Window}

import scala.collection.immutable.ArraySeq
import scala.reflect.runtime.universe.TypeTag

import graft.knn.Similarity
import graft.util.Hash.mix

/** Deduplication operator family for large-scale training-data
  * pipelines. Algorithms from the public literature: MinHash resemblance
  * sketches (Broder, "On the resemblance and containment of documents",
  * SEQUENCES 1997) with banded LSH (Leskovec/Rajaraman/Ullman, Mining of
  * Massive Datasets ch.3), SimHash (Charikar, "Similarity estimation
  * techniques from rounding algorithms", STOC 2002) with the Hamming
  * pigeonhole trick (Manku/Jain/Das Sarma, "Detecting near-duplicates
  * for web crawling", WWW 2007). The reference seeds only EXACT dedup
  * (md5 content hash + first-wins, web_scraper.py:154,186-196); the
  * near-dup operators (MinHash+LSH, SimHash, n-gram Jaccard, embedding
  * cosine) are the standard scale path (shingle → sketch → band →
  * bucket-join) so the candidate join is an equi-join on (band,
  * signature) — never an O(n²) cross product.
  *
  * Tokenization is Unicode-aware (`\p{L}\p{N}_` word chars) — CJK text
  * shingles correctly. Rows with NO tokens (symbol-only/empty text)
  * produce no sketch and are excluded from near-dup candidate
  * generation (they'd otherwise all collide on the empty sketch).
  *
  * All randomness is seeded constants — results are deterministic
  * across runs and partitionings.
  */
object Dedup extends Serializable {

  /** Unicode word tokens, lowercased. */
  def tokens(text: String): Array[String] = {
    if (text == null) return Array.empty
    text.toLowerCase(Locale.ROOT).split("[^\\p{L}\\p{N}_]+").filter(_.nonEmpty)
  }

  /** 64-bit word hash (FNV-1a over chars, then mixed). String.hashCode
    * is 32 bits — at web-scale vocabularies word collisions are
    * expected (birthday bound ~1 per 100k words) and would silently
    * merge distinct shingles; 64 bits pushes that out past 10^9.
    */
  @inline def wordHash64(w: String): Long = {
    var h = 0xcbf29ce484222325L
    var i = 0
    while (i < w.length) { h = (h ^ w.charAt(i)) * 0x100000001b3L; i += 1 }
    mix(h)
  }

  /** SQL predicate: row has at least one word token (sketchable). */
  def hasTokensCol(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    c.isNotNull && c.rlike("[\\p{L}\\p{N}_]")

  /** First occurrence per `keys` — the repo-wide shape for "keep the
    * minimum of each group": a map-side-partial `groupBy(keys).agg(aggs)`
    * (at most one row per distinct key and map task crosses the
    * exchange) joined back to `rows` with a shuffle-hash hint. Never a
    * window over the key: `row_number()` or `min() over (partition by
    * key)` sorts every member of a hot group (a boilerplate doc, line,
    * span or LSH bucket repeated 10^7 times at corpus scale) on ONE
    * task. The join-back still keys a hot group to one partition, but
    * its build side is one row per key (no sort, no group-sized state)
    * and AQE's skew-join split applies. `rows` feeds both sides, so a
    * caller whose rows are costly to recompute pins them first.
    */
  private def firstOccurrence(rows: DataFrame, keys: Seq[String], aggs: Column*): DataFrame =
    rows.join(rows.groupBy(keys.map(F.col): _*).agg(aggs.head, aggs.tail: _*)
      .hint("shuffle_hash"), keys)

  /** Exact dedup, deterministic first-wins (SURVEY.md §2.2 P9): the
    * reference keeps the FIRST doc per content hash (order-dependent
    * set check, web_scraper.py:186-196); Spark's dropDuplicates keeps
    * an arbitrary row, so we keep the row with the minimum `orderCol`
    * per content hash via [[firstOccurrence]]. `orderCol` must be
    * unique per row (a doc id) — that is also what makes "first"
    * well-defined at all. A NULL `orderCol` fails the query: `min()`
    * skips NULLs, so such a row could never be recognised as first and
    * would otherwise vanish silently.
    */
  def exactDedup(df: DataFrame, textCol: String, orderCol: String): DataFrame = {
    // NULL text hashes to a sentinel (not valid hex, so it cannot
    // collide with a real md5): the r5 window kept one representative
    // of the NULL-text group, and a plain equi-join on md5(NULL)=NULL
    // would silently drop ALL such rows instead.
    val withH = df.withColumn(
      "__h", F.coalesce(F.md5(F.col(textCol)), F.lit("__null_text__")))
    firstOccurrence(withH, Seq("__h"), F.min(F.col(orderCol)).as("__first"))
      .filter(F.coalesce(F.col(orderCol) === F.col("__first"),
        F.raise_error(F.lit(s"exactDedup: NULL $orderCol (the order column must be non-NULL)"))))
      .drop("__h", "__first")
  }

  /** Word n-gram shingle set: lowercased, distinct, hashed to Long,
    * SORTED ascending (jaccard's merge-intersection requires it).
    *
    * r6: each word's 64-bit hash is computed ONCE (the n-gram fold used
    * to call wordHash64 — an O(len) char walk — n times per word); the
    * fold over precomputed hashes is value-identical by construction.
    */
  def shingles(text: String, n: Int): Array[Long] = {
    val words = tokens(text)
    if (words.isEmpty) return Array.emptyLongArray
    val wh = new Array[Long](words.length)
    var p = 0
    while (p < words.length) { wh(p) = wordHash64(words(p)); p += 1 }
    if (words.length < n) {
      return wh.distinct.sorted
    }
    val out = new java.util.TreeSet[java.lang.Long]()
    var i = 0
    while (i + n <= words.length) {
      var h = 0x2545f4914f6cdd1dL
      var j = i
      while (j < i + n) { h = mix(h ^ wh(j)); j += 1 }
      out.add(h)
      i += 1
    }
    val arr = new Array[Long](out.size)
    val it = out.iterator(); var k = 0
    while (it.hasNext) { arr(k) = it.next(); k += 1 }
    arr
  }

  /** MinHash signature: numHashes permutations h_i(x) = mix(x ^ seed_i).
    * r6: the permutation seeds mix(f ^ const) depend only on f — hoisted
    * out of the |sh|×numHashes hot loop (one mix per cell instead of
    * two); values identical by construction.
    */
  def minhashSignature(sh: Array[Long], numHashes: Int): Array[Long] = {
    val seeds = permSeeds(numHashes)
    val sig = Array.fill(numHashes)(Long.MaxValue)
    var i = 0
    while (i < sh.length) {
      var f = 0
      while (f < numHashes) {
        val h = mix(sh(i) ^ seeds(f))
        if (h < sig(f)) sig(f) = h
        f += 1
      }
      i += 1
    }
    sig
  }

  // deterministic constants (NOT data/result caching): the f-th MinHash
  // permutation seed, shared across all rows of a task
  private val permSeedCache =
    new java.util.concurrent.ConcurrentHashMap[Int, Array[Long]]()
  private def permSeeds(numHashes: Int): Array[Long] =
    permSeedCache.computeIfAbsent(numHashes,
      n => Array.tabulate(n)(f => mix(f.toLong + 0x100001b3L)))

  /** Exact Jaccard over two SORTED hash arrays. Empty sets share no
    * content → 0.0 (dedup semantics: token-less rows never match).
    */
  def jaccard(a: Array[Long], b: Array[Long]): Double = {
    if (a.isEmpty || b.isEmpty) return 0.0
    var i = 0; var j = 0; var inter = 0
    while (i < a.length && j < b.length) {
      if (a(i) == b(j)) { inter += 1; i += 1; j += 1 }
      else if (a(i) < b(j)) i += 1
      else j += 1
    }
    inter.toDouble / (a.length + b.length - inter)
  }

  /** One band-hash fold — the SINGLE definition all banded variants
    * share (minhash pairs / clusters / conversation-level).
    */
  def bandHashes(sig: IndexedSeq[Long], bands: Int, rowsPerBand: Int): Seq[(Int, Long)] =
    (0 until bands).map { b =>
      var h = 0x9e3779b97f4a7c15L
      var r = 0
      while (r < rowsPerBand) { h = mix(h ^ sig(b * rowsPerBand + r)); r += 1 }
      (b, h)
    }

  /** Signature rows per LSH band; `bands` must divide `numHashes`. */
  private[graft] def rowsPerBand(numHashes: Int, bands: Int): Int = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    numHashes / bands
  }

  /** MinHash LSH banding as ONE UDF — the single definition the banded
    * MinHash operators share ([[minhashNearDups]], [[minhashClusters]],
    * `StreamingDedup.minhashBucketStream`): `sketch` of the input (a
    * sorted shingle set, [[shingles]]) → [[minhashSignature]] →
    * [[bandHashes]], one (band, band hash) per band; empty for an input
    * with no shingles, so a token-less row lands in no bucket.
    */
  private[graft] def minhashBandUdf[A: TypeTag](numHashes: Int, bands: Int)(
      sketch: A => Array[Long]): UserDefinedFunction = {
    val rows = rowsPerBand(numHashes, bands)
    F.udf { (a: A) =>
      val sh = sketch(a)
      if (sh.isEmpty) Seq.empty[(Int, Long)]
      else bandHashes(ArraySeq.unsafeWrapArray(minhashSignature(sh, numHashes)), bands, rows)
    }
  }

  /** Candidate pairs from an equi-join of `keyed` (columns `id`, `keys`
    * and `carry`) with itself on `keys` — an LSH band bucket or a
    * prefix gram, never an O(n²) cross product: ids a < b sharing a
    * key and passing `prune` (which sees the carry columns suffixed
    * _a/_b), as bare deduped (id_a, id_b). Only ids, keys and the
    * scalar carry columns reach the join exchange and the pair dedup —
    * never a sketch, signature or vector — so a hot bucket of size g
    * shuffles O(g²) id pairs, not O(g²) payloads, and bare pairs dedup
    * as a pure HashAggregate (an array payload would need first(), a
    * non-hashable buffer that forces a SortAggregate over every
    * candidate). Payloads re-attach afterwards in [[verifyPairs]].
    * Guarded by PlanShapeSpec ("no array column in any pair exchange").
    */
  private def keyedPairs(keyed: DataFrame, keys: Seq[String], carry: Seq[String] = Nil,
      prune: Column = F.lit(true)): DataFrame = {
    def side(s: String) = keyed.select(keys.map(F.col) ++
      (F.col("id").as(s"id_$s") +: carry.map(c => F.col(c).as(s"${c}_$s"))): _*)
    side("a").join(side("b"), keys)
      .filter(F.col("id_a") < F.col("id_b"))
      .filter(prune)
      .select("id_a", "id_b")
      .dropDuplicates("id_a", "id_b")
  }

  /** Verifies candidate pairs: re-attaches column `p` of `payload`
    * (keyed by `id`) to both sides BY ID as p_a/p_b and keeps
    * (id_a, id_b, `name` = score(p_a, p_b)) where the score reaches
    * `threshold`. Each payload crosses exactly one exchange per side —
    * O(n), not O(candidates) — and only surviving pairs are scored.
    */
  private def verifyPairs(pairs: DataFrame, payload: DataFrame, p: String,
      score: UserDefinedFunction, name: String, threshold: Double): DataFrame =
    pairs
      .join(payload.select(F.col("id").as("id_a"), F.col(p).as(s"${p}_a")), Seq("id_a"))
      .join(payload.select(F.col("id").as("id_b"), F.col(p).as(s"${p}_b")), Seq("id_b"))
      .withColumn(name, score(F.col(s"${p}_a"), F.col(s"${p}_b")))
      .filter(F.col(name) >= threshold)
      .select("id_a", "id_b", name)

  /** MinHash + LSH near-duplicate pairs (ids a < b, verified Jaccard ≥
    * threshold). Plan shape: per-row sketch (map-only) → explode into
    * `bands` ID-ONLY rows → [[keyedPairs]] on (band, band_hash) →
    * [[verifyPairs]] with the exact Jaccard of the two sketches.
    * Token-less rows are excluded (no sketch → no candidates).
    *
    * The lazy DAG references `sketched` from four branches (band
    * self-join sides + the two verify joins); a bare projection would
    * make Spark re-run the shingle UDF per branch (4× the shingling
    * cost — the dominant per-row work). The sketch is therefore pinned
    * behind one `repartition(id)` Exchange: all four branches share the
    * identical exchange subtree, Catalyst's ReuseExchange plans ONE
    * shuffle, and the UDF runs exactly once per row (asserted via
    * `sketchCounter` in DedupSpec). One extra O(n) shuffle of compact
    * (id, 64-long sketch) rows buys 3 fewer full-corpus shingling
    * passes — the right trade at any scale where text dominates.
    *
    * @param sketchCounter test hook: incremented once per shingle-UDF
    *   invocation when set (proves single evaluation).
    */
  def minhashNearDups(
      df: DataFrame,
      idCol: String,
      textCol: String,
      shingleSize: Int = 3,
      numHashes: Int = 64,
      bands: Int = 16,
      threshold: Double = 0.8,
      sketchCounter: Option[org.apache.spark.util.LongAccumulator] = None
  ): DataFrame = {
    val bandU = minhashBandUdf[Array[Long]](numHashes, bands)(identity)
    val shU = F.udf { (t: String) =>
      sketchCounter.foreach(_.add(1L))
      shingles(t, shingleSize)
    }
    val jacU = F.udf((a: Array[Long], b: Array[Long]) => jaccard(a, b))

    // token-less rows are filtered on the CHEAP column predicate BEFORE
    // the UDF (same condition — shingles() is empty iff no word char):
    // a filter on the aliased UDF output would be predicate-pushed
    // below the projection and evaluate the UDF twice per row
    val sketched = df
      .filter(hasTokensCol(F.col(textCol)))
      .select(F.col(idCol).as("id"), shU(F.col(textCol)).as("sh"))
      .repartition(F.col("id"))
    val banded = sketched
      .select(F.col("id"), F.explode(bandU(F.col("sh"))).as("b"))
      .select(F.col("id"), F.col("b._1").as("band"), F.col("b._2").as("bh"))
    verifyPairs(keyedPairs(banded, Seq("band", "bh")), sketched, "sh", jacU, "jaccard", threshold)
  }

  /** Scalable MinHash dedup: instead of emitting all O(group²)
    * candidate pairs, each row is assigned the MIN id over all its LSH
    * buckets as its cluster representative — per-bucket work is
    * O(group), the shape that survives 10^12 rows with large duplicate
    * groups (e.g. boilerplate repeated millions of times). Output:
    * (id, rep_id) for EVERY input row; token-less rows are their own
    * representative. Rows with id == rep_id are the survivors.
    * One-pass bucket-min approximation: transitive chains longer than
    * one hop keep their bucket-local representative (iterate to a fixed
    * point for full connected components — rarely needed for dedup).
    */
  def minhashClusters(
      df: DataFrame,
      idCol: String,
      textCol: String,
      shingleSize: Int = 3,
      numHashes: Int = 64,
      bands: Int = 16
  ): DataFrame = {
    // one UDF: shingle → signature → band hashes, with the empty-sketch
    // marker inline (an empty Seq) so token-less rows need no second
    // evaluation of the sketch over a separate DAG branch
    val bandU = minhashBandUdf[String](numHashes, bands)(shingles(_, shingleSize))
    // sketch computed ONCE: the pinned rows are (id, band, bh) —
    // ids + ints only, never text — so the bucket-min aggregate and
    // the join-back below are two cheap jobs over pinned rows, not two
    // sketch passes (same pin technique as ngramNearDupsPrefix)
    val banded = df
      .select(F.col(idCol).as("id"), bandU(F.col(textCol)).as("bs"))
      .select(F.col("id"), F.explode_outer(F.col("bs")).as("b"))
      .select(F.col("id"), F.col("b._1").as("band"), F.col("b._2").as("bh"))
      .localCheckpoint(true)
    // bucket min via [[firstOccurrence]], value-identical to the
    // bit-exact DuckDB oracle (OracleSql.minhashClustersSql). Token-less
    // rows (null band from explode_outer) fall into per-id singleton
    // buckets.
    val keyed = banded
      .withColumn("gband", F.coalesce(F.col("band"), F.lit(-1)))
      .withColumn("gkey",
        F.when(F.col("band").isNull, F.col("id").cast("string"))
          .otherwise(F.col("bh").cast("string")))
      .select("id", "gband", "gkey")
    firstOccurrence(keyed, Seq("gband", "gkey"), F.min("id").as("bucket_rep"))
      .groupBy("id").agg(F.min("bucket_rep").as("rep_id"))
  }

  /** CONVERSATION-level near-duplicates — the true analog of the
    * reference's document-level dedup (web_scraper.py:186-196; conv =
    * doc, SURVEY.md §1.2). The group signature comes from the custom
    * [[graft.functions.MinHashAgg]] TypedImperativeAggregate
    * (element-wise min across turns = MinHash of the union shingle
    * set), so the whole operator is: one hash aggregate on conv_id →
    * [[keyedPairs]] on the bands → [[verifyPairs]] with the
    * signature-agreement Jaccard estimate. No
    * conversation text is ever collected into one place. Conversations
    * with no sketchable turns are excluded.
    */
  def convNearDups(
      turns: DataFrame,
      idCol: String = "conv_id",
      textCol: String = "text",
      numHashes: Int = 64,
      bands: Int = 16,
      threshold: Double = 0.8
  ): DataFrame = {
    val rows = rowsPerBand(numHashes, bands)
    // pinned: the sketch table feeds the banding AND both sig
    // re-attach joins below; one row per conversation (id + 64 longs),
    // so the materialization is tiny while saving two re-aggregations
    // of every turn's shingles
    val sigs = turns.groupBy(F.col(idCol).as("id"))
      .agg(graft.functions.MinHashAgg.minhash_agg(F.col(textCol), numHashes).as("sig"))
      .filter(F.array_min(F.col("sig")) =!= Long.MaxValue) // some turn had tokens
      .localCheckpoint(true)
    val bandU = F.udf((sig: Seq[Long]) => bandHashes(sig.toIndexedSeq, bands, rows))
    // estimated Jaccard = fraction of agreeing signature components
    val estU = F.udf { (a: Seq[Long], b: Seq[Long]) =>
      var eq = 0
      var i = 0
      while (i < a.length) { if (a(i) == b(i)) eq += 1; i += 1 }
      eq.toDouble / a.length
    }
    val banded = sigs
      .select(F.col("id"), F.explode(bandU(F.col("sig"))).as("b"))
      .select(F.col("id"), F.col("b._1").as("band"), F.col("b._2").as("bh"))
    verifyPairs(keyedPairs(banded, Seq("band", "bh")), sigs, "sig", estU, "est_jaccard", threshold)
  }

  /** 64-bit SimHash over word unigrams (Unicode tokens). */
  def simhash(text: String): Long = {
    val counts = new Array[Int](64)
    tokens(text).foreach { w =>
      val h = wordHash64(w)
      var b = 0
      while (b < 64) {
        if (((h >>> b) & 1L) == 1L) counts(b) += 1 else counts(b) -= 1
        b += 1
      }
    }
    var out = 0L
    var b = 0
    while (b < 64) { if (counts(b) > 0) out |= (1L << b); b += 1 }
    out
  }

  /** SimHash near-dup pairs with Hamming distance ≤ maxHamming (< 4):
    * 4-band pigeonhole — any pair within Hamming 3 shares at least one
    * exact 16-bit band, so candidates come from 4 equi-join buckets.
    *
    * Scale guard: identical signatures (exact/near-exact duplicate
    * text, e.g. boilerplate repeated millions of times) are collapsed
    * to their min-id representative BEFORE banding — otherwise a group
    * of size g emits O(g²) candidate rows. Output: intra-group dups as
    * (rep, member, 0) plus inter-group pairs between representatives.
    * Token-less rows are excluded.
    */
  def simhashNearDups(
      df: DataFrame,
      idCol: String,
      textCol: String,
      maxHamming: Int = 3
  ): DataFrame = {
    val shU = F.udf((t: String) => simhash(t))
    val hamU = F.udf((a: Long, b: Long) => java.lang.Long.bitCount(a ^ b))
    // rep collapse: the [[firstOccurrence]] shape written out, because
    // `reps` also feeds the banding below. The eager pin of the (id,
    // sig) scalars runs the UDF exactly once per row for all consumers.
    // Rep VALUES match the bit-exact DuckDB oracle (OracleSql.simhashSql).
    val sigs = df
      .filter(hasTokensCol(F.col(textCol)))
      .select(F.col(idCol).as("id"), shU(F.col(textCol)).as("sig"))
      .localCheckpoint(true)
    val reps = sigs.groupBy("sig").agg(F.min("id").as("rep"))
    val withRep = sigs.join(reps.hint("shuffle_hash"), Seq("sig"))
    // intra-group: every non-rep member pairs with its rep at distance 0
    val intra = withRep.filter(F.col("id") =!= F.col("rep"))
      .select(F.col("rep").as("id_a"), F.col("id").as("id_b"),
        F.lit(0).as("hamming"))
    val groups = reps.select(F.col("rep"), F.col("sig"))
    val banded = groups.select(
      F.col("rep"), F.col("sig"), Similarity.explodeBitBands(F.col("sig"), 4, 16).as("b"))
      .select(F.col("rep"), F.col("sig"), F.col("b.band"), F.col("b.bh"))
    val l = banded.select(F.col("band"), F.col("bh"), F.col("rep").as("id_a"), F.col("sig").as("sig_a"))
    val r = banded.select(F.col("band"), F.col("bh"), F.col("rep").as("id_b"), F.col("sig").as("sig_b"))
    val inter = l.join(r, Seq("band", "bh"))
      .filter(F.col("id_a") < F.col("id_b"))
      // hamming filter BEFORE the dedup shuffle: far pairs (the vast
      // majority of band collisions) never reach the exchange
      .withColumn("hamming", hamU(F.col("sig_a"), F.col("sig_b")))
      .filter(F.col("hamming") <= maxHamming)
      .dropDuplicates("id_a", "id_b")
      .select("id_a", "id_b", "hamming")
    intra.unionByName(inter)
  }

  /** Exact n-gram Jaccard pairs via PREFIX FILTERING — the published
    * scale-safe answer to stop-gram blowup, with no frequency cap
    * (Bayardo et al., "Scaling Up All Pairs Similarity Search", WWW
    * 2007; the prefix+length filters of PPJoin, Xiao et al. 2008).
    * EXACT: no silent pair loss — every pair with Jaccard ≥ t is
    * found, including pairs whose only shared grams are corpus-wide
    * stop-grams (the pairs a df cap on the gram join would drop).
    *
    * Theorem (canonical prefix): order the gram universe by a global
    * total order (here: ascending document frequency, rarest first,
    * ties by gram value). For a set x take the first
    * p(x) = |x| − ⌈t·|x|⌉ + 1 grams. If J(x,y) ≥ t then the smallest
    * shared gram lies in BOTH prefixes — if it didn't, the whole
    * intersection would fit in one suffix of size ⌈t·|x|⌉ − 1 <
    * t·|x| ≤ |x∩y|. So an equi-join on prefix grams alone loses
    * nothing, and candidates concentrate on each document's RAREST
    * grams: a stop-gram enters a prefix only when a document has
    * almost nothing rarer, so the O(df²) hot-key blowup of the naive
    * gram join disappears for exactly the grams that caused it.
    *
    * Shape at scale: sketch once (pinned by an eager `localCheckpoint`
    * — ONE shingle evaluation by construction, not by Exchange
    * canonicalization; a cluster job would use a reliable checkpoint
    * dir, same plan), gram df via a PARTIAL-AGGREGATING groupBy (map-
    * side combine: a corpus-wide stop-gram contributes one partial
    * count per map partition, never one shuffled row per occurrence),
    * df joined back to the occurrences with a shuffle-hash hint (the
    * occurrence stream is never sorted by g, and AQE's skew-join split
    * can rebalance a hot gram — a window count could do neither: it
    * forces every occurrence of a gram to ONE task and sorts there),
    * per-doc rank window (one shuffle by id — bounded by doc size),
    * [[keyedPairs]] on the prefix gram carrying the set sizes, whose
    * length filter t·max ≤ min prunes before the pair dedup, then
    * [[verifyPairs]] with the exact Jaccard of the sorted sketches.
    * The 1e-9 slacks on the float ceil/length tests only ever widen
    * the candidate set (exactness is decided by the final verify).
    */
  def ngramJaccardPrefix(
      df: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 3,
      threshold: Double = 0.5,
      sketchCounter: Option[org.apache.spark.util.LongAccumulator] = None
  ): DataFrame = {
    val shU = F.udf { (t: String) =>
      sketchCounter.foreach(_.add(1L))
      shingles(t, n)
    }
    // cheap column predicates BEFORE the UDF (shingles() is empty iff
    // no word char) — a filter on the UDF output would be
    // predicate-pushed below the projection and evaluate the UDF twice
    // per row. The eager localCheckpoint pins ONE shingle evaluation
    // for all consuming branches (prefix-join left/right, both verify
    // joins) by construction — downstream plans read the materialized
    // blocks, so no optimizer rule (column-pruning asymmetry,
    // InferFiltersFromGenerate pushing UDF-substituted predicates into
    // the scan — both bit the r3 Exchange-reuse formulation) can ever
    // re-evaluate the UDF. Accumulator-asserted in DedupSimilaritySpec.
    val sketched = df
      .filter(hasTokensCol(F.col(textCol)) && F.col(idCol).isNotNull)
      .select(F.col(idCol).as("id"), shU(F.col(textCol)).as("sh"))
      .localCheckpoint()
    val grams = sketched
      .select(F.col("id"), F.size(F.col("sh")).as("sz"),
        F.explode(F.col("sh")).as("g"))
    // gram df as a PARTIAL-aggregating groupBy: a stop-gram present in
    // every document shuffles one partial count per map partition —
    // never one row per occurrence to a single task. (The r3 window
    // count was exactly that single-reducer sort, reintroducing one
    // stage earlier the hot-key blowup the prefix filter removes.)
    val gramDf = grams.groupBy("g").agg(F.count(F.lit(1)).as("df_g"))
    // shuffle-hash hint: build the (distinct-gram, df) map per
    // partition and STREAM the occurrences through it unsorted; a
    // sort-merge join would re-sort the occurrence stream by g — the
    // same hot-gram sort the groupBy just avoided. AQE skew-split can
    // further rebalance a hot gram's join partition.
    val wRank = Window.partitionBy("id").orderBy(F.col("df_g"), F.col("g"))
    // NOT pinned (r6 measured negative): prefix feeds both sides of the
    // candidate self-join, so an eager localCheckpoint here would run
    // the join+window pipeline once instead of twice — but the A/B
    // (8 reps on the Bench harness, spin ~80) read 1.23s unpinned vs
    // 1.72s pinned at sf0.1: the materialization costs more than the
    // duplicated window pass saves (the subtree below the window's
    // exchange is already shared via ReuseExchange; only the small
    // post-filter sort+window re-runs). At 100 TB the trade can flip —
    // a future round should gate a reliable checkpoint on input size.
    val prefix = grams
      .join(gramDf.hint("shuffle_hash"), Seq("g"))
      .withColumn("rn", F.row_number().over(wRank))
      .filter(F.col("rn") <=
        F.col("sz") - F.ceil(F.col("sz") * threshold - 1e-9) + 1)
      .select("g", "id", "sz")
    // length filter: J ≥ t forces t·max(|x|,|y|) ≤ min(|x|,|y|)
    val cand = keyedPairs(prefix, Seq("g"), carry = Seq("sz"),
      prune = F.least(F.col("sz_a"), F.col("sz_b")) >=
        F.greatest(F.col("sz_a"), F.col("sz_b")) * threshold - 1e-9)
    val jacU = F.udf((a: Array[Long], b: Array[Long]) => jaccard(a, b))
    verifyPairs(cand, sketched, "sh", jacU, "jaccard", threshold)
  }

  /** Stop-gram tally: every n-gram whose document frequency exceeds
    * `maxGramFreq`, with that frequency (`gf`). `count(*)` of this is
    * the number of corpus-wide stop-grams at the given cap — the grams
    * a capped gram join would skip and that [[ngramJaccardPrefix]]
    * keeps (they enter a prefix only when a document has nothing rarer).
    */
  def ngramDroppedGrams(
      df: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 3,
      maxGramFreq: Int = 1000
  ): DataFrame = {
    val shU = F.udf((t: String) => shingles(t, n))
    df.select(F.col(idCol).as("id"), F.explode(shU(F.col(textCol))).as("g"))
      .groupBy("g").agg(F.count(F.lit(1)).as("gf"))
      .filter(F.col("gf") > maxGramFreq)
  }

  /** Embedding cosine near-dup pairs via random-hyperplane LSH (bit
    * signature → ID-ONLY bands → [[keyedPairs]] → [[verifyPairs]] with
    * the exact cosine of the two embeddings).
    */
  def embeddingNearDups(
      df: DataFrame,
      idCol: String,
      embCol: String,
      simThreshold: Double = 0.95,
      nBits: Int = 16,
      nBands: Int = 4
  ): DataFrame = {
    val vecs = df.select(F.col(idCol).as("id"), F.col(embCol).as("emb"))
    // id-only banding (de-payloaded); the ONE bucket-scheme definition
    val banded = Similarity.hyperplaneBanded(vecs, "id", "emb", "id", nBits, nBands)
    val cosU = F.udf((a: Array[Float], b: Array[Float]) => Similarity.cosine(a, b))
    verifyPairs(keyedPairs(banded, Seq("band", "bh")), vecs, "emb", cosU, "sim", simThreshold)
  }

  /** Connected components over an undirected near-dup pair list —
    * the transitive-closure clustering step after ANY of the pair
    * operators above ("merge everything linked by any near-dup edge,
    * keep one representative per cluster"). Pair emission alone is not
    * a dedup policy: A~B and B~C must collapse to one cluster even
    * when A~C was never emitted.
    *
    * Algorithm: alternating large-star / small-star contraction
    * (Kiveris et al., "Connected Components in MapReduce and Beyond",
    * SoCC 2014): each round contracts toward the component minimum, so
    * the fixpoint lands in O(log n) rounds on ANY graph shape — a path
    * of near-dup pairs converges as fast as a clique. Deterministic
    * (min is order-insensitive) and exact.
    *
    * Both stars are expressed as grouped MIN + join-back (map-side
    * partial aggregation; no neighbor-list collect anywhere, so a
    * 10^8-degree hub never materializes its adjacency in one task):
    *   large-star: every neighbor v > u re-points to
    *     m(u) = min(Γ(u) ∪ u)  — computed over the SYMMETRIC edges;
    *   small-star: with edges canonical child→parent (big→small),
    *     every parent and u itself re-point to m(u) = min child-side.
    * Edges stay canonical (big, small); fixpoint = edge set unchanged
    * (two anti-join probes). The converged set is a star forest:
    * (child, root-min) pairs, from which labels read off directly.
    * `localCheckpoint` truncates the growing lineage per round (a
    * production cluster job would use a reliable checkpoint dir
    * instead — same plan).
    *
    * Returns (id, component) for every vertex appearing in a non-loop
    * edge, component = smallest reachable id.
    */
  def connectedComponents(
      edges: DataFrame,
      aCol: String,
      bCol: String,
      maxIter: Int = 50
  ): DataFrame = {
    val e0 = edges.select(F.col(aCol).as("u"), F.col(bCol).as("v"))
      .filter(F.col("u").isNotNull && F.col("v").isNotNull)
      .filter(F.col("u") =!= F.col("v"))
      .select(F.greatest(F.col("u"), F.col("v")).as("u"),
        F.least(F.col("u"), F.col("v")).as("v"))
      .distinct()
    var cur = e0.localCheckpoint()
    var iter = 0
    var converged = false
    while (!converged && iter < maxIter) {
      // large-star over the symmetric view
      val sym = cur.unionByName(cur.select(F.col("v").as("u"), F.col("u").as("v")))
      val lMin = sym.groupBy("u").agg(F.min("v").as("mn"))
        .select(F.col("u"), F.least(F.col("mn"), F.col("u")).as("m"))
      val large = sym.join(lMin, Seq("u"))
        .filter(F.col("v") > F.col("u"))
        .select(F.col("v").as("u"), F.col("m").as("v")) // (big, small)
        .filter(F.col("u") =!= F.col("v"))
        .distinct()
      // small-star on child→parent edges
      val sMin = large.groupBy("u").agg(F.min("v").as("m"))
      val small = large.join(sMin, Seq("u"))
        .select(F.col("v").as("a"), F.col("m").as("b"))
        .unionByName(sMin.select(F.col("u").as("a"), F.col("m").as("b")))
        .filter(F.col("a") =!= F.col("b"))
        .select(F.greatest(F.col("a"), F.col("b")).as("u"),
          F.least(F.col("a"), F.col("b")).as("v"))
        .distinct()
      val next = small.localCheckpoint()
      converged =
        next.join(cur, Seq("u", "v"), "left_anti").limit(1).count() == 0L &&
          cur.join(next, Seq("u", "v"), "left_anti").limit(1).count() == 0L
      cur.unpersist()
      cur = next
      iter += 1
    }
    require(converged, s"connectedComponents did not converge in $maxIter rounds")
    // star forest → labels; roots label themselves
    cur.select(F.col("u").as("id"), F.col("v").as("comp"))
      .unionByName(cur.select(F.col("v").as("id"), F.col("v").as("comp")))
      .groupBy("id").agg(F.min("comp").as("comp"))
  }

  /** Benchmark decontamination — the test-set overlap scrub every LLM
    * training pipeline runs before training (GPT-3 appendix C / The
    * Pile style): flag corpus docs sharing ≥ `minHits` word n-grams
    * with ANY benchmark document. Output has one row per corpus doc:
    * (id, contaminated_grams, is_contaminated).
    *
    * Plan shape: the benchmark's distinct gram-hash set is tiny next
    * to a 10^12-row corpus, so it BROADCASTS and the whole operator is
    * a map-side semi-join + one partial-aggregating groupBy on doc id
    * — the corpus text is sketched once and never shuffled (only
    * (id, gram) longs reach the exchange).
    */
  def decontaminate(
      corpus: DataFrame,
      idCol: String,
      textCol: String,
      bench: DataFrame,
      benchTextCol: String,
      shingleSize: Int = 8,
      minHits: Int = 1
  ): DataFrame = {
    val gramU = F.udf((t: String) => shingles(t, shingleSize))
    val benchGrams =
      F.broadcast(bench.select(F.explode(gramU(F.col(benchTextCol))).as("g")).distinct())
    // shingles() returns the DISTINCT gram set per doc, so the join
    // count is the distinct-contaminated-gram count directly
    val hits = corpus
      .filter(hasTokensCol(F.col(textCol)))
      .select(F.col(idCol).as("id"), F.explode(gramU(F.col(textCol))).as("g"))
      .join(benchGrams, Seq("g"))
      .groupBy("id")
      .agg(F.count(F.lit(1)).as("contaminated_grams"))
    corpus.select(F.col(idCol).as("id"))
      .join(hits, Seq("id"), "left")
      .na.fill(0L, Seq("contaminated_grams"))
      .withColumn("is_contaminated", F.col("contaminated_grams") >= minHits)
  }

  /** Per-start-position hashes of every w-token window — the SAME
    * seeded mix-chain fold as [[shingles]] (so the SQL oracle reuses
    * the proven chain template), but positions kept and nothing
    * deduplicated. Empty for docs shorter than w tokens.
    */
  def windowHashes(text: String, w: Int): Array[Long] = {
    val words = tokens(text)
    if (words.length < w) return Array.emptyLongArray
    // r6: hash each word once (the window fold used to re-walk every
    // word's chars w times); fold values identical by construction
    val wh = new Array[Long](words.length)
    var p = 0
    while (p < words.length) { wh(p) = wordHash64(words(p)); p += 1 }
    val out = new Array[Long](words.length - w + 1)
    var i = 0
    while (i + w <= words.length) {
      var h = 0x2545f4914f6cdd1dL
      var j = i
      while (j < i + w) { h = mix(h ^ wh(j)); j += 1 }
      out(i) = h
      i += 1
    }
    out
  }

  /** Span-level corpus dedup (the C4 three-sentence-span /
    * Lee et al. "Deduplicating Training Data Makes Language Models
    * Better" (ACL 2022) ExactSubstr family, on word-token windows):
    * training corpora repeat long SPANS inside otherwise-distinct
    * documents (quotes, licenses, syndicated paragraphs) that
    * doc-level and line-level dedup both miss. Every `w`-token sliding
    * window is hashed; of all instances of a duplicated window, only
    * the globally-first (id, start) occurrence is RETAINED. A token
    * survives iff at least one window covering it is retained (so
    * duplicated regions vanish except in the first-occurrence doc,
    * while boundary tokens shared with unique context survive — the
    * maximal-duplicated-region semantics). Docs with fewer than `w`
    * tokens are untouched.
    *
    * OUTPUT TEXT IS TOKEN-NORMALIZED (lowercased word tokens joined by
    * single spaces): span removal is defined over the token stream, so
    * the operator returns the retained token stream, not a spliced
    * original string. Output (id, text, n_tokens, n_kept).
    *
    * Plan shape at 10^12 rows: the window exchange ships (hash, id,
    * start) scalars only; first-occurrence is [[firstOccurrence]] over
    * the span hash (a license paragraph shared by 10^7 docs aggregates
    * map-side); only the DROPPED starts (the duplicate instances — the
    * small set in a mostly-unique corpus) are collected per doc, and
    * the rebuild is a map-only kernel whose state is one document's
    * tokens, the same bound as reassembly.
    */
  def spanDedup(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      w: Int = 8
  ): DataFrame = {
    require(w >= 2, "window must span at least 2 tokens")
    val whU = F.udf((t: String) => windowHashes(t, w))
    // sketch-once discipline (the minhash/ngram-prefix lesson): wins
    // feeds BOTH the first-occurrence aggregate and the join-back —
    // without pinning, each branch re-runs the O(n·w) hash UDF over
    // the whole corpus. Eager localCheckpoint materializes the
    // (id, s, h) scalars once (a production cluster job would use a
    // reliable checkpoint dir — same plan).
    val wins = docs
      .select(F.col(idCol).as("id"),
        F.posexplode(whU(F.col(textCol))).as(Seq("s", "h")))
      .localCheckpoint()
    // pair_min ≡ min(struct(id, s)) but hash-aggregable (r6): the
    // built-in struct min forces SortAggregate — a per-partition sort
    // of every window occurrence before the partial aggregate
    val dropped = firstOccurrence(wins, Seq("h"),
        graft.functions.PairMinAgg.pair_min(F.col("id"), F.col("s"), "id", "s").as("first"))
      .filter(!(F.col("first.id") === F.col("id") && F.col("first.s") === F.col("s")))
      .groupBy("id")
      .agg(F.sort_array(F.collect_list(F.col("s"))).as("drops"))
    val rebuildU = F.udf { (t: String, drops: Seq[Int]) =>
      val toks = tokens(t)
      val n = toks.length
      if (n < w) (toks.mkString(" "), n, n)
      else {
        val droppedSet = if (drops == null) Set.empty[Int] else drops.toSet
        val kept = (0 until n).filter { i =>
          (math.max(0, i - w + 1) to math.min(i, n - w))
            .exists(s => !droppedSet.contains(s))
        }
        (kept.map(toks).mkString(" "), n, kept.size)
      }
    }
    docs.select(F.col(idCol).as("id"), F.col(textCol).as("__t"))
      .join(dropped, Seq("id"), "left")
      .withColumn("__r", rebuildU(F.col("__t"), F.col("drops")))
      .select(F.col("id"), F.col("__r._1").as("text"),
        F.col("__r._2").as("n_tokens"), F.col("__r._3").as("n_kept"))
  }

  /** Line-level corpus dedup (CCNet / C4 style): web text repeats whole
    * LINES across documents (nav bars, cookie banners, footers) far
    * more than whole documents, so curation pipelines dedup at line
    * granularity BEFORE doc-level near-dup. Semantics per non-blank
    * line (matching on lower(trim(line))):
    *   - corpus line frequency == 1           → kept;
    *   - duplicated, df <  `boilerplateMinDf` → FIRST occurrence kept
    *     (global (id, pos) order — the repo-wide first-wins doctrine),
    *     the rest removed;
    *   - duplicated, df >= `boilerplateMinDf` → boilerplate: removed
    *     EVERYWHERE including the first occurrence (CCNet's repeated-
    *     line scrub).
    * Blank/whitespace-only lines are document structure, kept as-is.
    * Survivors reassemble in original order; a doc whose every content
    * line was removed survives with the blank skeleton (possibly "").
    *
    * Plan shape at 10^12 rows: per-line stats (first (id, pos) and
    * count) come from [[firstOccurrence]] over the line hash — a hot
    * boilerplate line ("subscribe to our newsletter") occurring 10^8
    * times aggregates map-side instead of sorting on one task.
    * Only (md5, id, pos) scalars reach the stats exchange; the line
    * text itself shuffles once into the per-doc reassembly (unavoidable
    * — it IS the output). Reassembly state is one document's lines
    * (same bound as conversation reassembly, R3).
    *
    * Output: (id, text, n_lines, n_kept).
    */
  def lineDedup(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      boilerplateMinDf: Long = Long.MaxValue
  ): DataFrame = {
    val lines = docs
      .select(F.col(idCol).as("id"),
        F.posexplode(F.split(F.coalesce(F.col(textCol), F.lit("")), "\n", -1))
          .as(Seq("pos", "line")))
      .withColumn("norm", F.lower(F.trim(F.col("line"))))
    val content = lines.filter(F.col("norm") =!= "")
      .withColumn("h", F.md5(F.col("norm")))
    // pair_min ≡ min(struct(id, pos)) but hash-aggregable (r6): with
    // the struct min this stage was a SortAggregate, sorting every
    // line occurrence per partition before the partial aggregate
    val keptContent = firstOccurrence(content, Seq("h"),
        graft.functions.PairMinAgg.pair_min(F.col("id"), F.col("pos"), "id", "pos").as("first"),
        F.count(F.lit(1)).as("df"))
      .filter(F.col("df") < boilerplateMinDf &&
        (F.col("df") === 1 ||
          (F.col("first.id") === F.col("id") && F.col("first.pos") === F.col("pos"))))
      .select("id", "pos", "line")
    val survivors = keptContent
      .unionByName(lines.filter(F.col("norm") === "").select("id", "pos", "line"))
    val reassembled = survivors.groupBy("id")
      .agg(
        F.array_join(
          F.transform(
            F.array_sort(F.collect_list(F.struct(F.col("pos"), F.col("line")))),
            x => x.getField("line")),
          "\n").as("text"),
        F.count(F.lit(1)).as("n_kept"))
    // n_lines = the split-array size, computed MAP-ONLY on the doc row
    // (r6): the count of posexplode rows per id equals the array length
    // by definition, so the old `lines.groupBy(id).count()` was a third
    // full explode of the corpus plus an exchange for a value already
    // known before exploding
    val totals = docs.select(F.col(idCol).as("id"),
      F.size(F.split(F.coalesce(F.col(textCol), F.lit("")), "\n", -1))
        .cast("long").as("n_lines"))
    totals.join(reassembled, Seq("id"), "left")
      .select(F.col("id"),
        F.coalesce(F.col("text"), F.lit("")).as("text"),
        F.col("n_lines"),
        F.coalesce(F.col("n_kept"), F.lit(0L)).as("n_kept"))
  }
}
