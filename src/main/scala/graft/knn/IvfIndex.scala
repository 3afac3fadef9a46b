package graft.knn

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession, functions => F}
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.BloomAgg
import graft.tableio.TableIO

/** Persisted IVF index, the engine's one IVF — the build-once /
  * query-many ANN lifecycle (the reference's Chroma store is
  * build-once, data_manager.py:97-150 add / :210-248 query).
  *
  * Layout under `base`:
  *   part_id=&lt;cell&gt;/...         (idCol, embCol) rows of one IVF cell
  *   _manifest/part-&lt;cell&gt;.json  per-cell [[IvfIndex.CellManifest]]:
  *                                rows, id range, id bloom (TableIO protocol)
  *   _ivf_meta.txt                idCol/embCol/nAssign + centroid rows,
  *                                written LAST = the build commit point
  *
  * Query cost is O(rows in the probed cells): the probe selects
  * `nprobe` cell directories and reads ONLY those (genuine partition
  * pruning — the 10^12-row analog is an Iceberg partition spec on the
  * cell id). No k-means, no full scan, no driver collect of vectors.
  * [[IvfIndex.topK]] runs the same assignment, probe and top-k for a
  * single query without writing an index.
  *
  * Mutations keep the index consistent WITHOUT re-clustering: centroids
  * are fixed at build time, so an added row's cell is a pure function
  * of its embedding — `add` stages every receiving cell in ONE
  * partitionBy job (job count independent of cell count), and
  * `deleteIdsDf` anti-joins ids only in cells whose manifest id range
  * and id bloom can contain them (the range covers the common
  * monotonic-id case, the bloom non-contiguous id sets), rewriting them
  * in one staged write too.
  */
final class IvfIndex private[knn] (
    spark: SparkSession,
    val base: String,
    val idCol: String,
    val embCol: String,
    val nAssign: Int,
    val centroids: Array[Array[Float]]
) extends Serializable {

  def nCells: Int = centroids.length

  /** Cells a query probes: `nprobe` nearest centroids by cosine. */
  def probeCells(q: Array[Float], nprobe: Int): Seq[Int] =
    IvfIndex.nearestCells(centroids, q, nprobe)

  private def withCells(df: DataFrame): DataFrame =
    IvfIndex.withCells(df, idCol, embCol, centroids, nAssign)

  /** Top-k by exact cosine over the probed cells only. The returned
    * plan's scan contains ONLY the probed partition directories
    * (asserted via inputFiles in IvfIndexSpec).
    */
  def query(q: Array[Float], k: Int = 5, nprobe: Int = 4): DataFrame = {
    val done = TableIO.donePartitions(base)
    val cells = probeCells(q, nprobe).filter(done.contains)
    require(cells.nonEmpty, s"no committed cells among probed $nprobe at $base")
    IvfIndex.topKOf(TableIO.readPartitions(spark, base, cells), idCol, embCol, nAssign, q, k)
  }

  /** Index new rows under the FIXED centroids: every receiving cell is
    * rewritten off ONE staged write ([[TableIO.appendPartitions]]), so
    * the job count does not grow with the number of cells, and the only
    * driver collect is the receiving CELL IDS (≤ nCells ints, never
    * rows). Id-idempotent: a batch carrying an id twice indexes it
    * once, and rows whose id a cell already holds are skipped, so a
    * crashed caller can redo the whole add safely.
    */
  def add(df: DataFrame): Unit = {
    val batch = withCells(df.dropDuplicates(idCol)).cache()
    try TableIO.appendPartitions(batch, base, idCol, cellStats: _*)(cellManifest)
    finally batch.unpersist()
  }

  /** Remove every id in `ids` (a one-column frame that may lazily read
    * OTHER tables — it is fully consumed here, before any caller-side
    * rewrite invalidates it). No driver collect of the ids: pruning is
    * (1) the min/max hull (one tiny agg) against each cell's manifest
    * range, then (2) ONE distributed pass testing every id against the
    * broadcast blooms of the hull-surviving cells — only the HIT CELL
    * IDS come back to the driver (≤ nCells ints, never ids). A
    * scattered delete set whose hull covers the whole index thus still
    * rewrites only the cells that can contain a target. A manifest
    * without range or bloom cannot prune: its cell is rewritten. The
    * cells to rewrite are read as one frame, anti-joined on the ids and
    * committed off ONE staged write ([[TableIO.commitPartitions]]; a
    * cell left empty is dropped), whatever their number.
    */
  def deleteIdsDf(ids: DataFrame): Unit = {
    val idsOnly = ids.toDF(idCol).cache()
    try {
      val hull = idsOnly.agg(F.min(idCol), F.max(idCol)).head()
      if (hull.isNullAt(0)) return
      val (hmn, hmx) = (idLit(hull.get(0)), idLit(hull.get(1)))
      val hullSurvivors = TableIO.donePartitions(base).toSeq.sorted
        .flatMap(c => TableIO.readManifest(base, c).map(IvfIndex.CellManifest.parse))
        .filterNot(_.idRange.exists(r => idCmp(r.max, hmn) < 0 || idCmp(hmx, r.min) < 0))
      // pre-decoded word arrays (ADVICE r5): the per-row UDF below
      // probes every cell's filter — decoding 8 KiB per (id, cell)
      // call allocated O(|ids|·|cells|) transient arrays; malformed
      // blooms decode to None and fall into the conservative rewrite
      // set exactly as manifests without a bloom do
      val blooms = hullSurvivors.flatMap(m =>
        m.idBloom.flatMap(BloomAgg.decode).map(w => (m.partId, w)))
      val noBloom = hullSurvivors.map(_.partId).toSet -- blooms.map(_._1)
      val numericIds = hullSurvivors.flatMap(_.idRange).headOption.exists(_.numeric)
      val bloomHits: Set[Int] =
        if (blooms.isEmpty) Set.empty
        else {
          val hitU = F.udf { (s: String) =>
            if (s == null) Seq.empty[Int]
            else {
              val canonical =
                if (numericIds)
                  scala.util.Try(BloomAgg.externalToCanonical(
                    new java.math.BigDecimal(s))).getOrElse(s)
                else s
              blooms.collect {
                case (c, w) if BloomAgg.mightContainWords(w, canonical) => c
              }
            }
          }
          idsOnly
            .select(F.explode(hitU(F.col(idCol).cast("string"))).as("cell"))
            .distinct()
            .collect().map(_.getInt(0)).toSet
        }
      val cells = (noBloom ++ bloomHits).toSeq.sorted
      if (cells.nonEmpty)
        TableIO.commitPartitions(
          TableIO.readPartitions(spark, base, cells).join(idsOnly, Seq(idCol), "left_anti"),
          base, cells, cellStats: _*)(cellManifest)
    } finally idsOnly.unpersist()
  }

  /** A cell's stats after its row count: id min, id max, id bloom. */
  private def cellStats: Seq[Column] =
    Seq(F.min(idCol), F.max(idCol), BloomAgg.bloom_agg(F.col(idCol)))

  private def cellManifest(cell: Int, st: Row): String = {
    val range = IvfIndex.IdRange(st.get(1).isInstanceOf[Number],
      st.get(1).toString, st.get(2).toString)
    IvfIndex.CellManifest(cell, st.getLong(0), Some(range),
      Some(st.getAs[Array[Byte]](3))).toJson
  }

  /** Orders a manifest range bound against a hull bound: exact
    * decimals for numeric ids, UTF-8 bytes unsigned for string ids
    * (Spark's own string ordering).
    */
  private def idCmp(a: Any, b: Any): Int = (a, b) match {
    case (x: java.math.BigDecimal, y: java.math.BigDecimal) => x.compareTo(y)
    case (x: String, y: String) => UTF8String.fromString(x).compareTo(UTF8String.fromString(y))
    case _ => throw new IllegalArgumentException(
      s"delete ids and the index's ids are of different kinds ($a vs $b)")
  }

  private def idLit(v: Any): Any = v match {
    case s: String => s
    case n => scala.util.Try(new java.math.BigDecimal(n.toString)).getOrElse(n.toString)
  }
}

object IvfIndex {

  private def metaPath(base: String) = Paths.get(base, "_ivf_meta.txt")

  /** The `n` centroids nearest `v` by cosine, nearest first (ties to
    * the lower cell).
    */
  private def nearestCells(centroids: Array[Array[Float]], v: Array[Float], n: Int): Seq[Int] =
    centroids.indices.map(i => (i, Similarity.cosine(v, centroids(i))))
      .sortBy { case (i, s) => (-s, i) }.take(n).map(_._1)

  /** (idCol, embCol, part_id) rows: each vector under its `nAssign`
    * nearest centroids (same metric as the probe, so probe and assign
    * stay consistent; one row per assignment).
    */
  private def withCells(
      df: DataFrame, idCol: String, embCol: String,
      centroids: Array[Array[Float]], nAssign: Int): DataFrame = {
    val emb = F.col(embCol)
    val cell =
      if (nAssign == 1) F.udf((v: Array[Float]) => Similarity.nearestCentroid(v, centroids)).apply(emb)
      else F.explode(F.udf((v: Array[Float]) => nearestCells(centroids, v, nAssign)).apply(emb))
    df.select(F.col(idCol), emb).withColumn(TableIO.PART_COL, cell)
  }

  /** Exact-cosine top-k of `rows` by (sim desc, id). */
  private def topKOf(
      rows: DataFrame, idCol: String, embCol: String, nAssign: Int,
      q: Array[Float], k: Int): DataFrame = {
    val cosU = F.udf((a: Array[Float]) => Similarity.cosine(a, q))
    val scored = rows.select(F.col(idCol), cosU(F.col(embCol)).as("sim"))
    // multi-assignment can surface one id via several probed cells
    (if (nAssign > 1) scored.dropDuplicates(idCol) else scored)
      .orderBy(F.col("sim").desc, F.col(idCol))
      .limit(k)
  }

  /** One-shot IVF top-k that writes nothing: the centroids, assignment,
    * probe and top-k of `build(...).query(q, k, nprobe)`, over `df`'s
    * assigned rows filtered to the probed cells instead of a persisted
    * index. For a single query, where building the index would cost
    * more than the query.
    */
  def topK(df: DataFrame, idCol: String, embCol: String, q: Array[Float],
      k: Int = 5, nCells: Int = 16, nprobe: Int = 4, nAssign: Int = 1): DataFrame = {
    val centroids = Similarity.kmeansCentroids(df, idCol, embCol, nCells)
    val cells = nearestCells(centroids, q, nprobe)
    val probed = withCells(df, idCol, embCol, centroids, nAssign)
      .filter(F.col(TableIO.PART_COL).isin(cells: _*))
    topKOf(probed, idCol, embCol, nAssign, q, k)
  }

  def exists(base: String): Boolean = Files.exists(metaPath(base))

  /** Build the index: deterministic k-means centroids (bounded driver
    * sample), one distributed assignment pass committed partition-per-
    * cell ([[TableIO.commitPartitions]]: one staged write, per-cell
    * manifests), meta file LAST (the commit point — a crashed build has
    * no meta and is rebuilt from scratch).
    */
  def build(
      spark: SparkSession,
      df: DataFrame,
      idCol: String,
      embCol: String,
      base: String,
      nCells: Int = 16,
      nAssign: Int = 1
  ): IvfIndex = {
    TableIO.deleteRecursive(Paths.get(base))
    val centroids = Similarity.kmeansCentroids(df, idCol, embCol, nCells)
    val idx = new IvfIndex(spark, base, idCol, embCol, nAssign, centroids)
    TableIO.commitPartitions(idx.withCells(df), base, 0 until idx.nCells, idx.cellStats: _*)(
      idx.cellManifest)
    writeMeta(base, idCol, embCol, nAssign, centroids)
    idx
  }

  /** A cell manifest's id range: the id kind ("num" ranges compare as
    * exact decimals — never Double, a >2^53 long would round and could
    * wrongly prune; "str" ranges as UTF-8 bytes unsigned, Spark's own
    * string ordering, where Java compareTo is UTF-16 and disagrees
    * above the BMP) and the bounds as written.
    */
  private[knn] final case class IdRange(numeric: Boolean, minText: String, maxText: String) {
    def min: Any = bound(minText)
    def max: Any = bound(maxText)
    private def bound(t: String): Any = if (numeric) new java.math.BigDecimal(t) else t
  }

  /** One cell's manifest: row count, the delete-pruning id range and a
    * fixed-size id Bloom filter (base64 in the JSON). The bloom prunes
    * NON-CONTIGUOUS delete sets the range can't (ids scattered across
    * the hull); false positives only disable pruning, never skip a real
    * id. A manifest without range or bloom parses to None there, and a
    * delete then rewrites that cell.
    */
  private[knn] final case class CellManifest(
      partId: Int,
      rows: Long,
      idRange: Option[IdRange],
      idBloom: Option[Array[Byte]]
  ) {
    def toJson: String = {
      val o = CellManifest.mapper.createObjectNode().put("part_id", partId).put("rows", rows)
      idRange.foreach { r =>
        o.put("id_kind", if (r.numeric) "num" else "str")
          .put("id_min", r.minText).put("id_max", r.maxText)
      }
      idBloom.foreach(b => o.put("id_bloom", java.util.Base64.getEncoder.encodeToString(b)))
      CellManifest.mapper.writeValueAsString(o)
    }
  }

  private[knn] object CellManifest {
    private val mapper = new ObjectMapper()

    def parse(json: String): CellManifest = {
      val j = mapper.readTree(json)
      def text(field: String) = Option(j.get(field)).map(_.asText)
      val range = for {
        kind <- text("id_kind") if kind == "num" || kind == "str"
        mn <- text("id_min")
        mx <- text("id_max")
      } yield IdRange(kind == "num", mn, mx)
      val bloom = text("id_bloom").flatMap(b =>
        scala.util.Try(java.util.Base64.getDecoder.decode(b)).toOption)
      CellManifest(j.get("part_id").asInt, j.get("rows").asLong, range, bloom)
    }
  }

  def load(spark: SparkSession, base: String): IvfIndex = {
    require(exists(base), s"no IVF index at $base")
    val lines = Files.readAllLines(metaPath(base), StandardCharsets.UTF_8).asScala
    val kv = lines.takeWhile(_.contains("=")).map { l =>
      val i = l.indexOf('='); l.substring(0, i) -> l.substring(i + 1)
    }.toMap
    val centroids = lines.dropWhile(_.contains("="))
      .filter(_.nonEmpty)
      .map(_.split(",").map(_.toFloat))
      .toArray
    new IvfIndex(spark, base, kv("idCol"), kv("embCol"), kv("nAssign").toInt,
      centroids)
  }

  private def writeMeta(
      base: String, idCol: String, embCol: String, nAssign: Int,
      centroids: Array[Array[Float]]): Unit = {
    val sb = new StringBuilder
    sb ++= s"idCol=$idCol\nembCol=$embCol\nnAssign=$nAssign\n"
    centroids.foreach { c => sb ++= c.map(_.toString).mkString(",") ++= "\n" }
    TableIO.writeAtomic(metaPath(base), sb.toString)
  }
}
