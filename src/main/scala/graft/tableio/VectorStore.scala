package graft.tableio

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{Column, DataFrame, SparkSession, functions => F}

/** Vector-store mutations (SURVEY.md §2.1 S7/S8) — rebuild of the
  * reference's ChromaDB collection lifecycle (data_manager.py):
  * add (:97-150), get/metadata-search (:296-319), delete by ids /
  * where-filter (:321-345), reset (:347-357), export (:359-390).
  *
  * Storage is the TableIO seam: rows hash-bucketed on `id` into
  * Hive-style partitions, every mutation a COPY-ON-WRITE rewrite of
  * ONLY the affected partitions, all of them off one staged write
  * ([[TableIO.commitPartitions]], atomic staging→move→manifest per
  * partition — the Iceberg overwrite-by-partition analog). A delete
  * whose filter matches nothing rewrites nothing; a delete touching 3
  * of 10^5 partitions rewrites 3 directories in one write — that is the
  * semantics that survives a 10^12-row store.
  *
  * Rows may have any schema with a string `id` column (the reference
  * stores chunk text + embedding + metadata; the store doesn't care).
  */
final class VectorStore(spark: SparkSession, base: String, nBuckets: Int = 16) {

  private def bucketOf(c: Column): Column =
    F.pmod(F.xxhash64(c), F.lit(nBuckets)).cast("int")

  // ---- attached ANN index (r3 verdict #3: build-once/query-many) ----

  private def ivfBase: String = s"$base/_ivf"

  /** Build (or rebuild) the persisted IVF index over the store's
    * current rows. After this, [[add]]/[[deleteWhere]]/[[deleteByIds]]
    * keep the index consistent incrementally (fixed centroids — no
    * re-clustering on mutation), and [[ivf]] serves queries that read
    * only the probed cell partitions.
    */
  def attachIvf(embCol: String, nCells: Int = 16, nAssign: Int = 1): graft.knn.IvfIndex =
    graft.knn.IvfIndex.build(spark, read(), "id", embCol, ivfBase, nCells, nAssign)

  /** The attached index, if one was built. */
  def ivf: Option[graft.knn.IvfIndex] =
    if (graft.knn.IvfIndex.exists(ivfBase)) Some(graft.knn.IvfIndex.load(spark, ivfBase))
    else None

  def isEmpty: Boolean = TableIO.donePartitions(base).isEmpty

  def read(): DataFrame = {
    require(!isEmpty, s"vector store at $base is empty")
    TableIO.read(spark, base).drop(TableIO.PART_COL)
  }

  def count(): Long = if (isEmpty) 0L else read().count()

  /** Append rows (id-keyed add, like collection.add — Chroma rejects
    * duplicate ids; here they are skipped): only the partitions
    * receiving new rows are rewritten, all of them off one staged write
    * ([[TableIO.appendPartitions]]), so the job count does not grow with
    * the number of receiving partitions.
    *
    * Idempotent resume (ADVICE r2): a crash between a partition's
    * directory move and its manifest leaves the merged rows live under
    * a stale manifest, and the job reruns the add. Incoming rows are
    * therefore anti-joined on `id` against the existing partition
    * before the union — re-applying a batch that already landed merges
    * zero new rows, so the rewrite converges instead of duplicating.
    * (First-commit crashes converge too: the redo is a deterministic
    * full overwrite of the same partition.)
    */
  def add(df: DataFrame): Unit = {
    require(df.columns.contains("id"), "VectorStore rows need a string `id` column")
    // within-batch dedup (ADVICE r3): the anti-join below only guards
    // against ids already in the store; a batch carrying the same id
    // twice would still land both. Which duplicate wins is arbitrary,
    // but resume stays convergent: a redo anti-joins on id, so the
    // surviving row never changes after first commit.
    val batch = df.dropDuplicates("id")
      .withColumn(TableIO.PART_COL, bucketOf(F.col("id"))).cache()
    try {
      // attached-IVF update FIRST, while the store still holds the
      // pre-add snapshot: the anti-join computes exactly the rows that
      // will land (skipped duplicate ids never reach the index), and
      // IvfIndex.add is itself id-idempotent per cell, so a crash
      // between index update and store rewrite converges on redo —
      // no driver-side id collect at any store size
      ivf.foreach { idx =>
        val rows = batch.drop(TableIO.PART_COL)
        idx.add(if (isEmpty) rows
          else rows.join(TableIO.read(spark, base).select("id"), Seq("id"), "left_anti"))
      }
      TableIO.appendPartitions(batch, base, "id")(TableIO.rowCountManifest)
    } finally batch.unpersist()
  }

  /** Delete rows matching `cond`; returns the deleted count. Only
    * partitions that actually contain a match are rewritten
    * (data_manager.py:321-345 delete-by-where), all of them off one
    * staged write ([[TableIO.commitPartitions]]), so the job count does
    * not grow with the number of partitions touched; a partition left
    * empty is dropped. A write that fails commits none of them.
    */
  def deleteWhere(cond: Column): Long = {
    if (isEmpty) return 0L
    val full = TableIO.read(spark, base)
    // SQL three-valued logic: NOT(NULL) is NULL, so a bare !cond would
    // silently drop rows where cond evaluates to NULL (e.g. a failed
    // cast) without counting them — only TRUE deletes
    val hit = F.coalesce(cond, F.lit(false))
    val affected = full.filter(hit).groupBy(TableIO.PART_COL)
      .agg(F.count(F.lit(1)).as("n"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toSeq
    if (affected.isEmpty) return 0L
    val parts = affected.map(_._1)
    // attached-IVF update FIRST, against the pre-delete snapshot (the
    // condition may reference metadata columns the index doesn't hold,
    // so the ids are resolved here and anti-joined per cell — fully
    // distributed). Crash between index and store rewrite converges:
    // the redo resolves the same ids, the index anti-join is a no-op.
    ivf.foreach(_.deleteIdsDf(full.filter(hit).select("id")))
    TableIO.commitPartitions(TableIO.readPartitions(spark, base, parts).filter(!hit),
      base, parts)(TableIO.rowCountManifest)
    affected.map(_._2).sum
  }

  /** Delete by explicit id list (data_manager.py:324-327). */
  def deleteByIds(ids: Seq[String]): Long =
    if (ids.isEmpty) 0L else deleteWhere(F.col("id").isInCollection(ids))

  /** Drop everything (reset_collection, data_manager.py:347-357). */
  def reset(): Unit = TableIO.deleteRecursive(Paths.get(base))

  /** Export to one JSON file (export_collection, data_manager.py:359-390:
    * {collection_name, total_documents, documents:[{id, document,
    * metadata}]}). Single-file semantics like the reference, but
    * STREAMED: rows arrive via `toLocalIterator` (one partition's rows
    * in driver memory at a time) and go straight to the file writer —
    * no whole-store `collect()`, so driver memory stays bounded by the
    * largest partition regardless of store size. For a sharded export
    * use [[exportDistributed]].
    */
  def exportJson(path: String, collectionName: String = "curated"): String = {
    val p = Paths.get(path)
    if (p.getParent != null) Files.createDirectories(p.getParent)
    val total = count()
    // Jackson escapes `"`, `\` and every control char of the name
    val name = new ObjectMapper().writeValueAsString(collectionName)
    val w = Files.newBufferedWriter(p, StandardCharsets.UTF_8)
    try {
      w.write(s"""{"collection_name": $name, "total_documents": $total, "documents": [""")
      w.write("\n")
      if (total > 0) {
        val it = read().toJSON.toLocalIterator()
        var first = true
        while (it.hasNext) {
          if (!first) w.write(",\n")
          w.write(it.next())
          first = false
        }
      }
      w.write("\n]}")
    } finally w.close()
    path
  }

  /** Distributed export: one JSON-lines directory, no driver collect. */
  def exportDistributed(path: String): Unit =
    read().write.mode("overwrite").json(path)
}
