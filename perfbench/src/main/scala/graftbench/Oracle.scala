package graftbench

/** Expected answers computed from the generator's own tokens with plain
  * Scala collections: no engine evaluator, analyzer or codec is called.
  *
  * Scoring follows the engine's documented contract (Lucene BM25 with
  * k1 = 1.2, b = 0.75, idf over the field's doc count, doc lengths quantized
  * to 5 significant bits); scores compare as floor(score * 1e4 + 0.5).
  */
final class SearchOracle(docs: Array[Doc]) {
  private val k1 = 1.2
  private val b = 0.75
  // docIds are the dense rank of the key column; generated paths sort by id
  private val byRank: Array[Doc] = docs.sortBy(_.path)
  val numDocs: Int = byRank.length
  private val dlq: Array[Int] = byRank.map(d => Oracle.quantize(d.toks.length))
  val avgdl: Double = byRank.map(_.toks.length.toLong).sum.toDouble / numDocs

  /** term -> (ascending docIds, term frequencies) */
  private val postings: Map[String, (Array[Int], Array[Int])] = {
    val m = scala.collection.mutable.HashMap.empty[String, (scala.collection.mutable.ArrayBuilder.ofInt, scala.collection.mutable.ArrayBuilder.ofInt)]
    var d = 0
    while (d < numDocs) {
      byRank(d).toks.groupBy(identity).foreach { case (t, occ) =>
        val e = m.getOrElseUpdate(t, (new scala.collection.mutable.ArrayBuilder.ofInt, new scala.collection.mutable.ArrayBuilder.ofInt))
        e._1 += d; e._2 += occ.length
      }
      d += 1
    }
    m.iterator.map { case (t, (ds, tfs)) => t -> (ds.result(), tfs.result()) }.toMap
  }

  def docFreq(t: String): Int = postings.get(t).map(_._1.length).getOrElse(0)

  def idf(t: String): Double = {
    val df = docFreq(t).toDouble
    math.log(1.0 + (numDocs - df + 0.5) / (df + 0.5))
  }

  private def bm25(tf: Double, d: Int, w: Double): Double =
    w * tf / (tf + k1 * (1.0 - b + b * dlq(d) / avgdl))

  private def docsWith(t: String): Set[Int] = postings.get(t).map(_._1.toSet).getOrElse(Set.empty)

  /** Every matching doc with its score. */
  def matches(q: QuerySpec): Map[Int, Double] = q.cls match {
    case "term" | "or" =>
      val acc = scala.collection.mutable.HashMap.empty[Int, Double]
      q.terms.distinct.foreach { t =>
        postings.get(t).foreach { case (ds, tfs) =>
          val w = idf(t)
          var i = 0
          while (i < ds.length) { acc(ds(i)) = acc.getOrElse(ds(i), 0.0) + bm25(tfs(i), ds(i), w); i += 1 }
        }
      }
      acc.toMap
    case "and" | "count" if q.terms.length > 1 || q.cls == "and" =>
      val must = q.terms.map(docsWith).reduce(_ intersect _) -- q.not.flatMap(docsWith)
      must.iterator.map { d =>
        d -> q.terms.map { t =>
          val (ds, tfs) = postings(t)
          bm25(tfs(java.util.Arrays.binarySearch(ds, d)), d, idf(t))
        }.sum
      }.toMap
    case "count" => matches(q.copy(cls = "term"))
    case "phrase" =>
      val w = q.terms.map(idf).sum
      q.terms.map(docsWith).reduce(_ intersect _).iterator.flatMap { d =>
        val toks = byRank(d).toks
        val n = q.terms.length
        val freq = (0 to toks.length - n).count(p => (0 until n).forall(k => toks(p + k) == q.terms(k)))
        if (freq == 0) None else Some(d -> bm25(freq, d, w))
      }.toMap
  }

  /** Posting blocks of a term: blocks hold at most 128 docs and never span
    * a 2^13-docId salt bucket.
    */
  def blocksOf(t: String): Long = postings.get(t) match {
    case None => 0L
    case Some((ds, _)) => ds.groupBy(_ >>> 13).valuesIterator.map(a => (a.length + 127) / 128L).sum
  }
}

object Oracle {

  /** Doc length with only its top 5 significant bits kept. */
  def quantize(len: Int): Int = {
    val nb = 32 - Integer.numberOfLeadingZeros(len)
    if (nb <= 5) len else (len >> (nb - 5)) << (nb - 5)
  }

  def q(score: Double): Long = math.floor(score * 1e4 + 0.5).toLong

  /** Top-k of (docId -> score) in collector order: score desc, docId asc. */
  def topk(all: Map[Int, Double], k: Int): Seq[(Long, Double)] =
    all.toSeq.sortBy { case (d, s) => (-s, d) }.take(k).map { case (d, s) => (d.toLong, s) }

  /** Whether an engine top-k matches the expected one under the quantized
    * score rule. Docs tied on their quantized score at the cut may appear in
    * either order or be swapped for another doc of that score; any other
    * difference is a wrong answer.
    */
  def sameTopk(got: Seq[(Long, Double)], want: Seq[(Long, Double)], all: Long => Option[Double]): Boolean = {
    if (got.length != want.length) return false
    val gq = got.map(x => (x._1, q(x._2)))
    val wq = want.map(x => (x._1, q(x._2)))
    if (gq == wq) return true
    // tolerate a ±1 rounding straddle and reordering among equal scores
    def close(a: Long, b: Long) = math.abs(a - b) <= 1
    val scoresOk = gq.map(_._2).zip(wq.map(_._2)).forall { case (a, b) => close(a, b) }
    val docsOk = got.forall { case (d, s) => all(d).exists(e => math.abs(e - s) <= 1e-9 * math.max(1.0, e)) }
    val cut = wq.last._2
    val aboveCut = gq.filter(_._2 > cut + 1).map(_._1).toSet == wq.filter(_._2 > cut + 1).map(_._1).toSet
    scoresOk && docsOk && aboveCut
  }

  // ------------------------------------------------------------- ops truth

  /** Tokens of the ops word regex ([a-z0-9_]+ runs): snake glue stays
    * inside one token, camel glue concatenates.
    */
  def wordTokens(d: Doc): Array[String] = joinTokens(d, g => g == Gen.Snake || g == Gen.Camel,
    g => if (g == Gen.Snake) "_" else "")

  /** Tokens of the window hashers ([a-z0-9]+ runs): camel glue
    * concatenates, every other separator splits.
    */
  def windowTokens(d: Doc): Array[String] = joinTokens(d, _ == Gen.Camel, _ => "")

  private def joinTokens(d: Doc, joins: Byte => Boolean, sep: Byte => String): Array[String] = {
    val out = Array.newBuilder[String]
    val cur = new StringBuilder(d.toks(0))
    var i = 1
    while (i < d.toks.length) {
      val g = d.glue(i - 1)
      if (joins(g)) cur.append(sep(g)).append(d.toks(i))
      else { out += cur.toString; cur.clear(); cur.append(d.toks(i)) }
      i += 1
    }
    out += cur.toString
    out.result()
  }

  def shingles(d: Doc, n: Int): Set[String] = wordTokens(d).sliding(n).filter(_.length == n).map(_.mkString(" ")).toSet

  def jaccard(a: Set[String], b: Set[String]): Double =
    (a intersect b).size.toDouble / (a union b).size.toDouble

  /** Near-duplicate pairs (id_a < id_b) with exact shingle Jaccard ≥ t among
    * the planted clusters (each planted copy with its source, and copies of
    * one source with each other).
    */
  def nearDupTruth(docs: Array[Doc], planted: Set[(Int, Int)], t: Double): Map[(Int, Int), Double] = {
    val byId = docs.map(d => d.id -> d).toMap
    val sh = scala.collection.mutable.HashMap.empty[Int, Set[String]]
    def s(id: Int) = sh.getOrElseUpdate(id, shingles(byId(id), 3))
    planted.groupBy(_._1).iterator.flatMap { case (src, ps) =>
      val members = (src +: ps.toSeq.map(_._2)).sorted
      for (i <- members.indices; j <- i + 1 until members.length) yield (members(i), members(j))
    }.map(p => p -> jaccard(s(p._1), s(p._2))).filter(_._2 >= t).toMap
  }

  /** Verified near-duplicate pairs (quantized Jaccard) against the truth:
    * every planted pair found with its exact Jaccard, and anything else
    * reported a true near-duplicate too.
    */
  def dedupOk(got: Map[(Int, Int), Long], truth: Map[(Int, Int), Long], byId: Map[Int, Doc]): Boolean =
    truth.forall { case (p, j) => got.get(p).contains(j) } &&
      (got.keySet -- truth.keySet).forall { p =>
        q(jaccard(shingles(byId(p._1), 3), shingles(byId(p._2), 3))) == got(p)
      }

  /** One (doc, (tokens removed, cleaned text)) per corpus doc, each as the
    * truth has it.
    */
  def exciseOk(got: Seq[(Int, (Int, String))], truth: Map[Int, (Int, String)]): Boolean =
    got.length == truth.size && got.map(_._1).distinct.length == got.length &&
      got.forall { case (id, r) => truth.get(id).contains(r) }

  private def windows(toks: Array[String], w: Int): Iterator[String] =
    if (toks.length < w) Iterator.empty else toks.sliding(w).map(_.mkString(" "))

  /** Per doc: (tokens removed, cleaned text) after excising every token
    * covered by a window that occurs in ≥ 2 distinct docs.
    */
  def excisionTruth(docs: Array[Doc], w: Int): Map[Int, (Int, String)] = {
    val toks = docs.map(windowTokens)
    val owners = scala.collection.mutable.HashMap.empty[String, Int]
    val dup = scala.collection.mutable.HashSet.empty[String]
    docs.indices.foreach { i =>
      windows(toks(i), w).foreach { h =>
        owners.get(h) match {
          case None => owners(h) = docs(i).id
          case Some(o) => if (o != docs(i).id) dup += h
        }
      }
    }
    docs.indices.map { i =>
      val t = toks(i)
      val cut = new Array[Boolean](t.length)
      windows(t, w).zipWithIndex.foreach { case (h, s) => if (dup(h)) (s until s + w).foreach(cut(_) = true) }
      docs(i).id -> (cut.count(identity), t.indices.filterNot(cut).map(t(_)).mkString(" "))
    }.toMap
  }

  /** Per contaminated doc: (window occurrences found in the bench, distinct
    * such windows).
    */
  def contaminationTruth(docs: Array[Doc], bench: Array[Doc], w: Int): Map[Int, (Long, Long)] = {
    val benchWins = bench.iterator.flatMap(b => windows(windowTokens(b), w)).toSet
    docs.iterator.flatMap { d =>
      val hits = windows(windowTokens(d), w).filter(benchWins).toSeq
      if (hits.isEmpty) None else Some(d.id -> (hits.length.toLong, hits.distinct.length.toLong))
    }.toMap
  }
}
