package graft.exec

import scala.collection.mutable

import graft.index.PostingBlock

/** Block-max WAND (BMW) top-k evaluation over one partition's posting blocks
  * (north_rule perf layer; SURVEY.md §4.4).
  *
  * Exact: pivoting uses per-term GLOBAL upper bounds (max block bound), so a
  * doc is only skipped when it provably cannot beat the running k-th score;
  * the block-max refinement then skips whole undecoded blocks via their skip
  * pointers (firstDocId/lastDocId) and (maxTf, minDlq) score bounds. The
  * per-partition top-k is a superset of the partition's contribution to the
  * global top-k, so the global TakeOrdered merge is rank-identical to
  * exhaustive scoring.
  */
object Wand {

  /** Max BM25 contribution any doc in the block can receive from its term. */
  def blockUpperBound(b: PostingBlock, weight: Double, avgdl: Double): Double =
    Bm25.score(b.maxTf.toDouble, b.minDlq, weight, avgdl)

  /** One term's [[BlockCursor]] plus the BMW bounds over its blocks. */
  private final class Cursor(val weight: Double, avgdl: Double, bs: Array[PostingBlock])
      extends BlockCursor(bs, withPositions = false) {
    val termUb: Double = blocks.map(blockUpperBound(_, weight, avgdl)).max

    next()

    /** Upper bound of the block that would contain `target` (no decode);
      * also returns that block's lastDocId as the skip boundary.
      */
    def shallowBound(target: Long): (Double, Long) = {
      var j = blockIndex
      while (j < blocks.length && blocks(j).lastDocId < target) j += 1
      if (j >= blocks.length) (0.0, Long.MaxValue)
      else (blockUpperBound(blocks(j), weight, avgdl), blocks(j).lastDocId)
    }

    def currentScore: Double = {
      val p = posting
      Bm25.score(p.tf.toDouble, p.dlq, weight, avgdl)
    }
  }

  /** A partition's WAND outcome: top-k candidates, blocks decoded (pruning
    * evidence), docs fully SCORED, and whether any matching doc was skipped
    * unscored. Every scored doc is a genuine match, so `scoredDocs` is a
    * lower bound on the partition's match count — and the EXACT count when
    * `pruned` is false (Lucene TotalHits.Relation semantics, surfaced by
    * [[Searcher.searchHits]]).
    */
  final case class PartitionResult(top: Array[(Long, Double)], decodedBlocks: Long,
      scoredDocs: Long, pruned: Boolean)

  /** WAND over one partition's blocks for a weighted SHOULD-of-terms query.
    *
    * @param termBlocks per query term: (BM25 weight, its blocks here)
    * @param deleted liveDocs predicate (Lucene's deleted-docs filter,
    *        MultiBits.getLiveDocs surfaced by the reference at
    *        indexers.py:98-109): a doc for which this returns true is
    *        skipped UNSCORED — it never enters the heap and never counts in
    *        `scoredDocs`, so the result (and the TotalHits accounting) is
    *        identical to exhaustive scoring over the live view. Block
    *        upper bounds stay valid (they bound live docs' scores too), so
    *        pruning remains exact.
    */
  def topkPartitionFull(termBlocks: Seq[(Double, Array[PostingBlock])], avgdl: Double,
      k: Int, deleted: Long => Boolean = _ => false, tie: Double = 1.0): PartitionResult = {
    // k == 0 would make the heap "full" while empty and theta undefined;
    // all-hits queries take the exhaustive path (Searcher.search k <= 0)
    require(k > 0, s"WAND needs k > 0 (got $k) — use exhaustive scoring for all-hits")
    // tie < 1 is DisjunctionMax: doc score = max + tie·(sum − max) — the
    // same max/sum monotonicity BMW's sum bound relies on, so every bound
    // below combines as max(ubs) + tie·(Σubs − max(ubs)) ≥ any achievable
    // score of a doc matching a subset of those terms. tie = 1.0 keeps the
    // SHOULD-sum path BIT-identical (combine returns the raw sum untouched).
    require(tie >= 0.0 && tie <= 1.0, s"tie must be in [0, 1] (got $tie)")
    @inline def combine(mx: Double, sm: Double): Double =
      if (tie == 1.0) sm else mx + tie * (sm - mx)
    val cursors = termBlocks.filter(_._2.nonEmpty)
      .map { case (w, bs) => new Cursor(w, avgdl, bs) }.toArray
    if (cursors.isEmpty) return PartitionResult(Array.empty, 0L, 0L, pruned = false)
    var scoredDocs = 0L
    var pruned = false
    // head = worst kept entry: smallest score, then largest docId
    val heap = mutable.PriorityQueue.empty[(Double, Long)](
      Ordering.by((sd: (Double, Long)) => (-sd._1, sd._2)))
    def full: Boolean = heap.size >= k
    def theta: Double = if (full) heap.head._1 else -1.0

    var live = cursors.filter(_.curDoc != Long.MaxValue).sortBy(_.curDoc)
    while (live.nonEmpty) {
      // pivot by global term bounds (safe)
      var ubSum = 0.0
      var ubMax = Double.NegativeInfinity
      var pivotIdx = -1
      var i = 0
      while (i < live.length && pivotIdx < 0) {
        ubSum += live(i).termUb
        if (live(i).termUb > ubMax) ubMax = live(i).termUb
        if (combine(ubMax, ubSum) > theta) pivotIdx = i
        i += 1
      }
      if (pivotIdx < 0) // remaining (live) docs are provably non-competitive
        return PartitionResult(drain(heap), cursors.map(_.decodedBlocks).sum,
          scoredDocs, pruned = true)
      val pivotDoc = live(pivotIdx).curDoc
      // all cursors positioned at ≤ pivotDoc can contribute to it
      var endIdx = pivotIdx
      while (endIdx + 1 < live.length && live(endIdx + 1).curDoc <= pivotDoc) endIdx += 1

      // block-max refinement: bound the pivot doc by its ACTUAL blocks
      var blockSum = 0.0
      var blockMax = Double.NegativeInfinity
      var minBoundary = Long.MaxValue
      var j = 0
      while (j <= endIdx) {
        val (ub, boundary) = live(j).shallowBound(pivotDoc)
        blockSum += ub
        if (ub > blockMax) blockMax = ub
        if (boundary < minBoundary) minBoundary = boundary
        j += 1
      }
      if (full && combine(blockMax, blockSum) <= theta) {
        // no doc in [pivotDoc, min(minBoundary, nextCursor-1)] can win:
        // cursors beyond endIdx only contribute from their curDoc onward
        val nextDoc = if (endIdx + 1 < live.length) live(endIdx + 1).curDoc else Long.MaxValue
        val target = math.max(math.min(minBoundary + 1, nextDoc), pivotDoc + 1)
        var m = 0
        while (m <= endIdx) { live(m).advanceTo(target); m += 1 }
        pruned = true // matching docs in the skipped range go uncounted
      } else if (live.head.curDoc == pivotDoc) {
        if (deleted(pivotDoc)) {
          // tombstoned: hop over without scoring — not a match of the live
          // view, so neither `scoredDocs` nor `pruned` moves
          live.foreach { c => if (c.curDoc == pivotDoc) c.next() }
        } else {
          var sumS = 0.0
          var maxS = Double.NegativeInfinity
          live.foreach { c =>
            if (c.curDoc == pivotDoc) {
              val s = c.currentScore
              sumS += s
              if (s > maxS) maxS = s
              c.next()
            }
          }
          val score = combine(maxS, sumS)
          scoredDocs += 1
          if (!full) heap.enqueue((score, pivotDoc))
          else if (score > heap.head._1) { heap.dequeue(); heap.enqueue((score, pivotDoc)) }
        }
      } else {
        // cursors before the pivot hop over their sub-theta docs unscored;
        // pivotIdx > 0 requires a full heap (theta < 0 pivots at index 0)
        var m = 0
        while (m < pivotIdx) { live(m).advanceTo(pivotDoc); m += 1 }
        if (pivotIdx > 0) pruned = true
      }
      live = cursors.filter(_.curDoc != Long.MaxValue).sortBy(_.curDoc)
    }
    PartitionResult(drain(heap), cursors.map(_.decodedBlocks).sum, scoredDocs, pruned)
  }

  private def drain(heap: mutable.PriorityQueue[(Double, Long)]): Array[(Long, Double)] =
    heap.dequeueAll.toArray.map(sd => (sd._2, sd._1))
}
