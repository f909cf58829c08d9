package graft.exec

import scala.collection.mutable.ArrayBuffer

import graft.index.{Posting, PostingBlock, PostingCodec}

/** Doc-ordered cursor over one key's (bucket-local) posting blocks, the
  * executor-side iterator shared by WAND, term conjunction and positional
  * matching (Lucene's DocIdSetIterator over an impacts-aware postings
  * enum). Blocks sort by firstDocId and never overlap, so their
  * [firstDocId, lastDocId] skip pointers order them; one block is decoded
  * at a time, and only when a seek lands inside it. Nothing decodes at
  * construction: call [[next]] or [[advanceTo]] to position the cursor.
  * `curDoc == Long.MaxValue` ⇔ exhausted.
  */
class BlockCursor(blocksIn: Array[PostingBlock], withPositions: Boolean) {
  val blocks: Array[PostingBlock] = blocksIn.sortBy(_.firstDocId)
  private var bi = 0
  private var decoded: Array[Posting] = _ // postings of blocks(bi); null = undecoded
  private var pi = 0
  var curDoc: Long = -1L
  var decodedBlocks: Long = 0L

  /** Index of the block the cursor sits in (blocks.length once exhausted). */
  def blockIndex: Int = bi

  /** The posting at [[curDoc]]. */
  def posting: Posting = decoded(pi)

  private def decode(): Unit = {
    decoded = BlockCursor.decode(blocks(bi), withPositions)
    decodedBlocks += 1
    pi = 0
  }

  private def exhaust(): Unit = { curDoc = Long.MaxValue; decoded = null }

  def next(): Unit = {
    if (decoded == null) {
      if (bi >= blocks.length) { exhaust(); return }
      decode()
    } else pi += 1
    while (pi >= decoded.length) {
      bi += 1
      if (bi >= blocks.length) { exhaust(); return }
      decode()
    }
    curDoc = decoded(pi).docId
  }

  /** Lucene's advanceShallow: move to the first block whose lastDocId ≥
    * `target` WITHOUT decoding it; false once no block can hold `target`.
    */
  def skipTo(target: Long): Boolean = {
    while (bi < blocks.length && blocks(bi).lastDocId < target) { bi += 1; decoded = null }
    bi < blocks.length
  }

  /** First doc ≥ target; blocks ending before it are skipped undecoded. */
  def advanceTo(target: Long): Unit = {
    if (curDoc >= target) return
    if (!skipTo(target)) { exhaust(); return }
    if (decoded == null) decode()
    // the block's lastDocId ≥ target, so the scan stops inside it
    while (decoded(pi).docId < target) pi += 1
    curDoc = decoded(pi).docId
  }
}

object BlockCursor {

  /** Decode one block: with positions, or just (docId, tf, dlq). */
  def decode(b: PostingBlock, withPositions: Boolean): Array[Posting] =
    if (withPositions) PostingCodec.decodeBlock(b, withPositions = true)
    else PostingCodec.decodeScore(b.firstDocId, b.numDocs, b.docsBlob, b.freqsBlob, b.normsBlob)

  /** Skip-before-decode intersection of ascending candidate docIds with one
    * key's blocks: a block decodes only when its [firstDocId, lastDocId]
    * holds a candidate (the filter-then-verify rule), and `hit(j, posting)`
    * runs for every candidate index j the key contains.
    */
  def skipIntersect(candidates: Array[Long], blocks: Array[PostingBlock],
      withPositions: Boolean)(hit: (Int, Posting) => Unit): Unit = {
    val c = new BlockCursor(blocks, withPositions)
    var j = 0
    while (j < candidates.length && c.skipTo(candidates(j))) {
      val d = candidates(j)
      if (c.blocks(c.blockIndex).firstDocId <= d) {
        c.advanceTo(d)
        if (c.curDoc == d) hit(j, c.posting)
      }
      j += 1
    }
  }

  /** Rarest-first conjunction over `keyBlocks` (rarest key first): the
    * rarest key decodes in full, every later key only through
    * [[skipIntersect]] against the docs still alive. One row per doc holding
    * every key, in docId order: `row(k)` is key k's posting, and the row is
    * `width` wide so callers can attach further (optional) keys after them.
    */
  def intersect(keyBlocks: Array[Array[PostingBlock]], width: Int,
      withPositions: Boolean): Array[Array[Posting]] = {
    var rows = keyBlocks(0).sortBy(_.firstDocId).flatMap(decode(_, withPositions))
      .map { p => val row = new Array[Posting](width); row(0) = p; row }
    var k = 1
    while (k < keyBlocks.length && rows.nonEmpty) {
      val slot = k
      val kept = new ArrayBuffer[Array[Posting]](rows.length)
      val alive = rows
      skipIntersect(alive.map(_(0).docId), keyBlocks(k), withPositions) { (j, p) =>
        alive(j)(slot) = p
        kept += alive(j)
      }
      rows = kept.toArray
      k += 1
    }
    rows
  }
}
