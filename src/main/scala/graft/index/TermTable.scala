package graft.index

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Driver-resident term table of an [[Index]]: per (field, term) the
  * dictionary statistics (`docFreq`, `totalTermFreq`) and the salt buckets
  * the term's blocks lie in — the planner's whole view of the postings. It
  * plays the role of the terms index a Lucene reader loads once when it
  * opens: planning a query (idf weights, rarest-first order, the
  * salt buckets a route launches) reads it with no Spark job. Immutable; built by two collects on first use
  * (see [[TermTable.Lazy]]); never shipped to executors.
  */
final class TermTable private (
    byField: Map[String, java.util.HashMap[String, TermTable.Entry]],
    val salts: Array[Long]) {

  /** The entry of one dictionary term; None for a term not in the index. */
  def get(field: String, term: String): Option[TermTable.Entry] =
    byField.get(field).flatMap(m => Option(m.get(term)))

  /** Number of (field, term) entries — the dictionary's row count. */
  val size: Long = byField.valuesIterator.map(_.size.toLong).sum
}

object TermTable {

  /** One term: dictionary statistics and the distinct salt buckets
    * (`firstDocId >>> SaltShift`) of its blocks, ascending. A block never
    * spans a bucket, so the buckets cover every block of the term.
    */
  final class Entry(val docFreq: Long, val totalTermFreq: Long, bucketIds: Array[Long]) {
    def buckets: Seq[Long] = bucketIds.toSeq
  }

  /** Collect the table: the statistics from the index's own `termDict`
    * and the buckets from the `blocks` metadata columns, grouped here.
    * Grouping on the executors instead (`collect_list` + `sort_array` per
    * term) measured slower on a 55K-block index: 0.44-0.63 s per warm
    * build vs 0.36-0.53 s, of which the two narrow collects are ~0.2 s.
    * The norms sentinel `""` is not a dictionary term and has no entry.
    * The distinct salts of all terms' blocks, ascending, are kept too:
    * the [[BlockStore]]'s partitioner is derived from them without a job.
    */
  private def build(termDict: DataFrame, blocks: Dataset[PostingBlock]): TermTable = {
    val spark = blocks.sparkSession
    import spark.implicits._
    val buckets = blocks.filter(col("term") =!= "")
      .select(col("field"), col("term"),
        shiftrightunsigned(col("firstDocId"), IndexBuilder.SaltShift))
      .as[(String, String, Long)].collect()
      .groupMap(b => (b._1, b._2))(_._3)
    val byField = scala.collection.mutable.Map.empty[String, java.util.HashMap[String, Entry]]
    termDict.select("field", "term", "docFreq", "totalTermFreq").collect().foreach { r =>
      val (f, t) = (r.getString(0), r.getString(1))
      val bs = buckets.getOrElse((f, t), Array.empty[Long]).distinct.sorted
      byField.getOrElseUpdate(f, new java.util.HashMap[String, Entry]())
        .put(t, new Entry(r.getLong(2), r.getLong(3), bs))
    }
    new TermTable(byField.toMap, buckets.valuesIterator.flatten.toArray.distinct.sorted)
  }

  /** An index's table and [[BlockStore]], each built on first use and then
    * kept. Views that share their base's postings (`Index.withDeletes`)
    * share the holder, so each is built at most once per set of blocks.
    */
  final class Lazy private[index] (termDict: DataFrame, blocks: Dataset[PostingBlock]) {
    @transient lazy val get: TermTable = build(termDict, blocks)
    @transient lazy val store: BlockStore = new BlockStore(blocks, get.salts)
  }
}
