package graftbench

import org.apache.spark.sql.functions.col

import graft.exec.{Conjunction, PhraseMatcher, Wand}
import graft.index.{Index, IndexBuilder, PostingBlock, PostingCodec}

/** Driver-side kernel timings: the engine's executor-side kernels called
  * directly on blocks collected to the driver, one thread, no Spark
  * scheduling or exchange.
  */
object Kernels {
  private def timedMs(f: => Unit): Double = { val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e6 }

  /** The kernel of one query's class timed on that query's blocks, per salt
    * bucket as the engine partitions them: (metric name, ms).
    */
  def queryMs(idx: Index, o: SearchOracle, q: QuerySpec): Option[(String, Double)] = {
    val terms = q.terms.distinct
    val blocks = idx.blocks.filter(col("field") === "content" && col("term").isin(terms: _*)).collect()
    val byBucket = blocks.groupBy(_.firstDocId >>> IndexBuilder.SaltShift).values.toSeq
    val order = terms.sortBy(t => (o.docFreq(t), t)).toArray
    val weights = terms.map(t => t -> o.idf(t)).toMap
    q.cls match {
      case "term" | "or" => Some("exec.kernel_wand_ms" -> timedMs(byBucket.foreach { bs =>
          Wand.topkPartitionFull(terms.map(t => (weights(t), bs.filter(_.term == t))), o.avgdl, 10)
        }))
      case "and" => Some("exec.kernel_conj_ms" -> timedMs(byBucket.foreach { bs =>
          Conjunction.scorePartition(order, weights, o.avgdl, bs.iterator).size
        }))
      case "phrase" => Some("exec.kernel_phrase_ms" -> timedMs(byBucket.foreach { bs =>
          PhraseMatcher.intersectKeyed(order.map(("content", _)), Array.empty, "content", bs.iterator).size
        }))
      case _ => None
    }
  }

  /** Mean microseconds to decode one block (docIds, freqs, norms), after
    * one warm pass.
    */
  def decodeUsPerBlock(blocks: Array[PostingBlock]): Double = {
    if (blocks.isEmpty) return 0.0
    blocks.foreach(b => PostingCodec.decodeBlock(b, withPositions = false))
    val reps = 5
    val ms = timedMs((0 until reps).foreach(_ => blocks.foreach(b => PostingCodec.decodeBlock(b, withPositions = false))))
    ms * 1e3 / (reps * blocks.length)
  }

  /** Tokens per second of the code analyzer on one thread over up to 2,000
    * docs, after one warm pass.
    */
  def tokensPerS(docs: Array[Doc]): Double = {
    val analyzer = graft.analysis.Analyzers.byName("code")
    val texts = docs.take(2000).map(_.text)
    texts.foreach(analyzer.tokens)
    var n = 0L
    val ms = timedMs(texts.foreach(x => n += analyzer.tokens(x).length))
    n / (ms / 1e3)
  }
}
