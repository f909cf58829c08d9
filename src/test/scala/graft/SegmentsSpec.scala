package graft

import java.nio.file.Files

import org.apache.spark.sql.types._

import graft.index._

/** The segment lineage's docId allocation. */
class SegmentsSpec extends SparkTestBase {

  val srcSchema = StructType(Seq(
    StructField("repo", StringType), StructField("path", StringType),
    StructField("commit", StringType), StructField("content", StringType)))
  val idxSchema = IndexSchema(Seq("repo", "path", "commit"),
    Map("content" -> TextField("standard", positions = true)))

  private def commit10(w: Indexer, tag: String): Unit = {
    (0 until 10).foreach(i =>
      w.add("repo" -> "r", "path" -> s"$tag/$i", "commit" -> "c", "content" -> s"doc $tag $i"))
    w.commit()
  }

  test("a copy of a merged pin appends past the merged segment's docIds") {
    val dir = Files.createTempDirectory("graft-segments").toString
    val dst = Files.createTempDirectory("graft-segments-copy").toString
    val w = new Indexer(spark, dir, idxSchema, srcSchema)
    try {
      commit10(w, "a")
      commit10(w, "b")
      w.forceMerge(1)
      w.copy(w.snapshot(), dst)
    } finally w.close()
    val c = new Indexer(spark, dst, idxSchema, srcSchema)
    try {
      commit10(c, "c")
      val docs = c.searcher.index.docs
      assert(docs.count() === 30L)
      assert(docs.select("docId").distinct().count() === 30L)
    } finally c.close()
  }

  test("nextDocId counts merged rows, and a legacy merged row's extent without overflow") {
    def meta(id: Int, first: Long, docs: Long, status: String, max: Long) =
      Segments.SegmentMeta(id, first, docs, 1L, 1L, 0.0, status, max)
    val bucket = 1L << IndexBuilder.SaltShift
    assert(Segments.Lineage(Seq(meta(2, 0L, 20L, Segments.Merged, 8201L))).nextDocId === 2 * bucket)
    assert(Segments.Lineage(Seq(meta(2, 0L, 20L, Segments.Merged, Long.MaxValue))).nextDocId === bucket)
    assert(Segments.Lineage(Seq(meta(0, 0L, 10L, Segments.Committed, 9L),
      meta(1, bucket, 10L, Segments.Committed, bucket + 9L))).nextDocId === 2 * bucket)
  }
}
