package graft.index

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** The segment store: the one on-disk format every incremental writer
  * ([[Indexer]] commits and merges, [[CheckpointedBuild]] slices) commits
  * through.
  *
  * Layout under an index directory:
  *  - `docs/segment=N` and `postings/segment=N`: one segment's doc rows
  *    and posting blocks (partition directories, so a read of the live
  *    segments is a partition-pruned scan);
  *  - `segments`: the lineage table, one [[SegmentMeta]] row per publish.
  *
  * A segment exists once the lineage names it and its directory is on
  * disk: [[write]] fills the directories, and [[publish]] (one
  * `coalesce(1)` append, so one part-file) is the commit point, as Lucene's
  * `segments_N` is for its segments (reference indexers.py:603-611). A
  * crash between the two leaves an orphan directory that no reader serves
  * and the next writer of that id overwrites. A merge publishes its merged
  * row and the `superseded` markers of its sources in that one append.
  */
object Segments {

  /** One lineage row. `maxDocId` closes the segment's covering docId
    * interval [firstDocId, maxDocId]: dense `firstDocId + docsIndexed − 1`
    * for an appended segment, max of the sources' intervals for a merged one
    * (whose docIds keep their original values, with gaps where tombstoned
    * docs purged) — so tombstone→segment discovery is a metadata interval
    * lookup, never a corpus scan (see Indexer.forceMergeDeletes).
    */
  final case class SegmentMeta(segmentId: Int, firstDocId: Long, docsIndexed: Long,
      postingsWritten: Long, bytesCompressed: Long, buildSec: Double, status: String,
      maxDocId: Long)

  /** Lineage statuses: an appended segment, a merge's output, and the
    * marker that retires a segment (merged away or quarantined).
    */
  val Committed = "committed"
  val Merged = "merged"
  val Superseded = "superseded"

  def superseded(id: Int): SegmentMeta = SegmentMeta(id, 0L, 0L, 0L, 0L, 0.0, Superseded, 0L)

  /** The lineage table as read: every row, in no particular order. */
  final case class Lineage(rows: Seq[SegmentMeta]) {

    /** One meta per segment the committed view serves, ascending by id: ids
      * with a committed or merged row and no superseded marker (merged-away
      * directories stay on disk only for pinned commits). Repeated rows of
      * one id (a resumed checkpointed slice) fold to their widest values.
      */
    lazy val live: Seq[SegmentMeta] = {
      val dead = rows.filter(_.status == Superseded).map(_.segmentId).toSet
      rows.filterNot(r => dead(r.segmentId)).groupBy(_.segmentId).values.map(_.reduce { (a, b) =>
        a.copy(firstDocId = math.min(a.firstDocId, b.firstDocId),
          docsIndexed = math.max(a.docsIndexed, b.docsIndexed),
          postingsWritten = math.max(a.postingsWritten, b.postingsWritten),
          bytesCompressed = math.max(a.bytesCompressed, b.bytesCompressed),
          maxDocId = math.max(a.maxDocId, b.maxDocId))
      }).toSeq.sortBy(_.segmentId)
    }

    def liveIds: Seq[Long] = live.map(_.segmentId.toLong)

    /** Committed segments: segmentId → docs indexed. */
    def sizes: Map[Int, Long] = live.map(m => m.segmentId -> m.docsIndexed).toMap

    /** The id the next publish takes. */
    def nextId: Int = rows.map(_.segmentId).maxOption.fold(0)(_ + 1)

    /** The first docId of the next appended segment: past every appended
      * segment's docs, rounded up to a salt bucket so rebased blocks stay
      * bucket-aligned. Merged segments reuse their sources' docIds, so only
      * `committed` rows count.
      */
    def nextDocId: Long = IndexBuilder.nextBucketStart(rows.filter(_.status == Committed)
      .map(m => m.firstDocId + m.docsIndexed).maxOption.getOrElse(0L))

    /** Monotone version for cache validation (reference `version`): the
      * number of segment ids ever published.
      */
    def version: Long = rows.map(_.segmentId).distinct.size.toLong
  }

  private def fs(spark: SparkSession, dir: String) =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Whether anything was ever published to `dir`'s lineage. */
  def exists(spark: SparkSession, dir: String): Boolean =
    fs(spark, dir).exists(new Path(s"$dir/segments"))

  /** Read the lineage of `dir` (empty when nothing was ever published).
    * Rows written before `maxDocId` existed get the dense extent for an
    * appended segment and Long.MaxValue for a merged one (whose extent they
    * cannot reconstruct: always a discovery candidate).
    */
  def lineage(spark: SparkSession, dir: String): Lineage = {
    if (!exists(spark, dir)) return Lineage(Nil)
    import spark.implicits._
    val raw = spark.read.parquet(s"$dir/segments")
    val legacyMax = when(col("status") === Merged, lit(Long.MaxValue))
      .otherwise(col("firstDocId") + col("docsIndexed") - 1L)
    val withMax = raw.withColumn("maxDocId",
      if (raw.columns.contains("maxDocId")) coalesce(col("maxDocId"), legacyMax) else legacyMax)
    Lineage(withMax.as[SegmentMeta].collect().toSeq)
  }

  /** The commit point: append `rows` to the lineage as ONE part-file, so
    * readers see all of them or none.
    */
  def publish(spark: SparkSession, dir: String, rows: Seq[SegmentMeta]): Unit = {
    import spark.implicits._
    spark.createDataset(rows).coalesce(1).write.mode("append").parquet(s"$dir/segments")
  }

  /** Rows of `table` (`docs` or `postings`) in segments `ids`, with their
    * `segment` column: a schema-merged, partition-pruned scan.
    */
  def read(spark: SparkSession, dir: String, table: String, ids: Seq[Long]): DataFrame =
    spark.read.option("mergeSchema", "true").parquet(s"$dir/$table")
      .filter(col("segment").isin(ids: _*))

  /** Posting blocks of segments `ids` (blob columns a pre-payloads layout
    * lacks read empty, see [[IndexBuilder.withBlobDefaults]]).
    */
  def blocks(spark: SparkSession, dir: String, ids: Seq[Long]): Dataset[PostingBlock] =
    IndexBuilder.asBlocks(IndexBuilder.withBlobDefaults(read(spark, dir, "postings", ids)))

  /** count, min and max of `docId`: a segment's (docs, firstDocId, maxDocId). */
  def extentCols: Seq[Column] = Seq(count(lit(1)), min(col("docId")), max(col("docId")))

  /** Write segment `id`'s directories; nothing is visible until the
    * returned meta is published. `docs` (when given) is written to
    * `docs/segment=id` first; `blocksOf` then gets the segment's docs as
    * read back from disk and returns the blocks to write. The meta carries
    * the docs' (count, firstDocId, maxDocId), measured unless `extent`
    * gives it, and the blocks' metrics.
    */
  def write(spark: SparkSession, dir: String, id: Int, status: String, docs: Option[DataFrame],
      extent: Option[(Long, Long, Long)] = None)(blocksOf: DataFrame => Dataset[_]): SegmentMeta = {
    val t0 = System.nanoTime()
    val docsDir = s"$dir/docs/segment=$id"
    val postingsDir = s"$dir/postings/segment=$id"
    docs.foreach(_.write.mode("overwrite").parquet(docsDir))
    val written = spark.read.parquet(docsDir)
    blocksOf(written).write.mode("overwrite").parquet(postingsDir)
    val (n, first, last) = extent.getOrElse {
      val d = written.agg(extentCols.head, extentCols.tail: _*).collect()(0)
      (d.getLong(0), if (d.isNullAt(1)) 0L else d.getLong(1), if (d.isNullAt(2)) -1L else d.getLong(2))
    }
    val (nPostings, nBytes) = metrics(spark.read.parquet(postingsDir))
    SegmentMeta(id, first, n, nPostings, nBytes, (System.nanoTime() - t0) / 1e9, status, last)
  }

  /** (postingsWritten, bytesCompressed) of one written segment's blocks. */
  private def metrics(blocks: DataFrame): (Long, Long) = {
    val m = blocks.agg(
      sum(when(col("term") =!= "", col("numDocs")).otherwise(0L)),
      sum(length(col("docsBlob")) + length(col("freqsBlob")) +
        length(col("normsBlob")) + length(col("positionsBlob")) +
        length(col("payloadsBlob")) + length(col("offsetsBlob"))).cast("long"))
      .collect()(0)
    (if (m.isNullAt(0)) 0L else m.getLong(0), if (m.isNullAt(1)) 0L else m.getLong(1))
  }

  /** Append `batch` as the next segment and publish it: docIds start at
    * [[Lineage.nextDocId]], the id is [[Lineage.nextId]]. An empty batch
    * writes nothing.
    */
  def append(batch: DataFrame, schema: IndexSchema, dir: String): Unit = {
    if (batch.isEmpty) return
    val spark = batch.sparkSession
    val parts = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val l = lineage(spark, dir)
    val docs = IndexBuilder.prepareDocs(batch, schema, parts)
      .withColumn("docId", col("docId") + l.nextDocId)
    publish(spark, dir, Seq(write(spark, dir, l.nextId, Committed, Some(docs))(d =>
      IndexBuilder.blocksOf(IndexBuilder.tokensOf(d, schema), schema, parts))))
  }

  /** The committed view of `dir`: the live segments' docs and blocks, with
    * the term dictionary and field statistics derived from those blocks.
    * Call again to refresh (reference `reopen`).
    */
  def open(spark: SparkSession, dir: String, schema: IndexSchema): Index = {
    val live = lineage(spark, dir).liveIds
    val blocks = Segments.blocks(spark, dir, live)
    new Index(spark, schema, read(spark, dir, "docs", live).drop("segment"), blocks,
      IndexBuilder.termDictOf(blocks), IndexBuilder.fieldStatsOf(blocks))
  }
}
