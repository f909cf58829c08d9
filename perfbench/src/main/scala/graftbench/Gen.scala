package graftbench

import java.util.SplittableRandom

/** One generated source file. `toks` are the terms the code analyzer must
  * produce (lowercase [a-z0-9]+, dense positions); `glue(i)` is the
  * separator rendered between toks(i) and toks(i + 1).
  */
final case class Doc(id: Int, path: String, lang: String, toks: Array[String], glue: Array[Byte]) {
  def text: String = Gen.render(toks, glue)
}

/** A search-stream entry: the engine-facing class, the cost-homogeneous
  * kind within it, the query string as a user types it, and the analyzed
  * terms the oracle scores (`terms` must all match for conjunctions and are
  * in order for phrases; `not` must not match).
  */
final case class QuerySpec(cls: String, kind: String, text: String, terms: Seq[String], not: Seq[String] = Nil)

/** Seeded input generator. Every input of every workload comes from here;
  * the engine sees only the rendered rows and query strings.
  *
  * The corpus mimics source code: a Zipf head of hot keywords, mid-frequency
  * identifier stems and a long Zipf tail of rare identifiers, glued into
  * snake_case / camelCase identifiers so the code analyzer has real
  * splitting to do.
  */
object Gen {
  val Space: Byte = 0
  val Snake: Byte = 1
  val Camel: Byte = 2
  val Line: Byte = 3

  val Keywords: Array[String] = Array(
    "def", "class", "import", "return", "val", "var", "if", "else", "for",
    "while", "match", "case", "new", "this", "the", "static", "public", "fn")
  val Stems: Array[String] = Array(
    "parse", "build", "merge", "scan", "index", "query", "score", "token",
    "block", "posting", "shard", "batch", "stream", "buffer", "codec", "hash",
    "reader", "writer", "cursor", "segment", "field", "term", "doc", "heap",
    "cache", "split", "join", "sort", "filter", "route", "plan", "stage")
  val TailSize = 40000

  /** Tail identifier of rank r: a letter-led token, never a keyword/stem. */
  def tail(r: Int): String = "q" + Integer.toString(r, 36)

  def render(toks: Array[String], glue: Array[Byte]): String = {
    val sb = new java.lang.StringBuilder(toks.length * 8)
    var i = 0
    while (i < toks.length) {
      if (i > 0) glue(i - 1) match {
        case Snake => sb.append('_'); sb.append(toks(i))
        case Camel => sb.append(Character.toUpperCase(toks(i).charAt(0))); sb.append(toks(i), 1, toks(i).length)
        case Line  => sb.append(";\n"); sb.append(toks(i))
        case _     => sb.append(' '); sb.append(toks(i))
      } else sb.append(toks(i))
      i += 1
    }
    sb.toString
  }

  /** Zipf(s) sampler over ranks [0, n) by inverse CDF. */
  final class Zipf(n: Int, s: Double) {
    private val cdf: Array[Double] = {
      val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1.0, s))
      val out = new Array[Double](n)
      var acc = 0.0
      var i = 0
      while (i < n) { acc += w(i); out(i) = acc; i += 1 }
      out.map(_ / acc)
    }
    def sample(r: SplittableRandom): Int = {
      val i = java.util.Arrays.binarySearch(cdf, r.nextDouble())
      math.min(n - 1, if (i >= 0) i else -i - 1)
    }
  }

  private val kwZipf = new Zipf(Keywords.length, 1.1)
  private val stemZipf = new Zipf(Stems.length, 0.8)
  private val tailZipf = new Zipf(TailSize, 1.0)

  def term(r: SplittableRandom): String = {
    val u = r.nextInt(100)
    if (u < 40) Keywords(kwZipf.sample(r))
    else if (u < 70) Stems(stemZipf.sample(r))
    else tail(tailZipf.sample(r))
  }

  private val Langs = Array("scala", "java", "py", "go", "rs")

  def doc(id: Int, r: SplittableRandom): Doc = {
    val n = 40 + r.nextInt(81)
    val toks = Array.fill(n)(term(r))
    val glue = Array.tabulate(math.max(0, n - 1)) { i =>
      val u = r.nextInt(100)
      if (u < 12) Snake
      else if (u < 22 && toks(i + 1).charAt(0).isLetter) Camel
      else if (u < 30) Line
      else Space
    }
    Doc(id, f"src/f$id%07d.${Langs(id % Langs.length)}", Langs(id % Langs.length), toks, glue)
  }

  /** `n` docs with ids [first, first + n), each from its own seeded stream so
    * a doc depends only on (seed, id).
    */
  def corpus(seed: Long, n: Int, first: Int = 0): Array[Doc] =
    Array.tabulate(n)(i => doc(first + i, new SplittableRandom(seed * 1000003L + first + i)))

  // ------------------------------------------------------------ query stream

  /** Query classes, as the engine routes them. */
  val Classes: Seq[String] = Seq("term", "or", "and", "phrase", "count")

  /** Kinds: each class split where its subtypes differ in cost, so a kind's
    * median comes from queries of one shape.
    */
  val Kinds: Seq[String] = Seq("term_hot", "term_rare", "or", "and", "and_not", "phrase", "count_term", "count_and")

  /** A pool of distinct queries per kind drawn from the corpus' own terms,
    * and a stream that cycles through the kinds and picks within a kind's
    * pool Zipf-skewed, so popular queries repeat.
    */
  def queryStream(seed: Long, docs: Array[Doc], poolPerKind: Int, length: Int): Array[QuerySpec] = {
    val r = new SplittableRandom(seed ^ 0x5eedL)
    val df = scala.collection.mutable.HashMap.empty[String, Int]
    docs.foreach(d => d.toks.distinct.foreach(t => df(t) = df.getOrElse(t, 0) + 1))
    val hot = (Keywords ++ Stems).filter(df.contains)
    val stems = Stems.filter(df.contains)
    val keywords = Keywords.filter(df.contains)
    val rare = df.iterator.filter { case (t, n) => n >= 2 && n <= 40 && t.startsWith("q") }
      .map(_._1).toArray.sorted
    // OR's rare term is selective but matches about 20-40 docs per 2^13-doc
    // salt bucket (WAND keeps one top-10 heap per bucket), so each heap fills
    // with docs the keywords alone cannot beat, and WAND skips keyword blocks
    val n = docs.length
    val orRare = df.iterator.filter { case (t, c) => c >= math.max(2, n / 400) && c <= math.max(10, n / 200) }
      .map(_._1).filter(_.startsWith("q")).toArray.sorted
    val mid = df.iterator.filter { case (t, n) => n > 40 && t.startsWith("q") }.map(_._1).toArray.sorted
    def pick(a: Array[String]): String = a(r.nextInt(a.length))
    def distinctPick(a: Array[String], k: Int, avoid: Set[String]): Seq[String] = {
      val out = scala.collection.mutable.LinkedHashSet.empty[String]
      while (out.size < k) { val t = pick(a); if (!avoid(t)) out += t }
      out.toSeq
    }
    def one(kind: String): QuerySpec = kind match {
      case "term_hot" => val t = pick(hot); QuerySpec("term", kind, t, Seq(t))
      case "term_rare" => val t = pick(rare); QuerySpec("term", kind, t, Seq(t))
      case "or" =>
        val rt = pick(orRare)
        val ts = rt +: distinctPick(keywords, 2 + r.nextInt(3), Set(rt))
        QuerySpec("or", kind, ts.mkString(" "), ts)
      case "and" | "and_not" =>
        val a = pick(stems)
        val b = if (mid.nonEmpty) pick(mid) else pick(rare)
        val not = if (kind == "and_not") Seq(pick(keywords)) else Nil
        QuerySpec("and", kind, (Seq(s"+$a", s"+$b") ++ not.map("-" + _)).mkString(" "), Seq(a, b), not)
      case "phrase" =>
        // an adjacent pair of distinct terms that occurs in the corpus
        var ts: Seq[String] = Nil
        while (ts.isEmpty) {
          val d = docs(r.nextInt(docs.length))
          val p = r.nextInt(d.toks.length - 1)
          if (d.toks(p) != d.toks(p + 1) && (d.toks(p).startsWith("q") || d.toks(p + 1).startsWith("q")))
            ts = Seq(d.toks(p), d.toks(p + 1))
        }
        QuerySpec("phrase", kind, "\"" + ts.mkString(" ") + "\"", ts)
      case "count_term" => val t = pick(hot); QuerySpec("count", kind, t, Seq(t))
      case "count_and" =>
        val a = pick(hot)
        val b = pick(rare)
        QuerySpec("count", kind, s"+$a +$b", Seq(a, b))
    }
    val pools: Map[String, Array[QuerySpec]] = Kinds.map(k => k -> Array.fill(poolPerKind)(one(k))).toMap
    val z = new Zipf(poolPerKind, 0.7)
    Array.tabulate(length)(i => pools(Kinds(i % Kinds.length))(z.sample(r)))
  }

  // ------------------------------------------------------- corpus-ops inputs

  /** Corpus with planted structure: `dupShare` of the docs are near-copies
    * of an earlier original doc (one token replaced), `passageShare` carry one of
    * a small pool of repeated 16-token passages, and `contamShare` contain a
    * 12-token span copied from one of the `nBench` evaluation docs.
    * Returns (corpus, bench, planted near-duplicate pairs).
    */
  def opsCorpus(seed: Long, n: Int, nBench: Int, dupShare: Double, passageShare: Double,
      contamShare: Double): (Array[Doc], Array[Doc], Set[(Int, Int)]) = {
    val r = new SplittableRandom(seed ^ 0x0b5L)
    val base = corpus(seed, n)
    val bench = corpus(seed ^ 0xbe7cL, nBench, 10000000)
    val passages = Array.fill(12)(Array.fill(16)(term(r)))
    val pairs = scala.collection.mutable.Set.empty[(Int, Int)]
    val out = base.clone()
    val originals = scala.collection.mutable.ArrayBuffer(0)
    var i = 1
    while (i < n) {
      val u = r.nextDouble()
      if (u < dupShare) {
        // a copy of an original doc (never of a copy) with one token replaced
        val src = out(originals(r.nextInt(originals.length)))
        val toks = src.toks.clone()
        toks(r.nextInt(toks.length)) = tail(30000 + r.nextInt(9000))
        out(i) = out(i).copy(toks = toks, glue = src.glue.clone())
        pairs += ((src.id, i))
      } else if (u < dupShare + passageShare) {
        out(i) = splice(out(i), passages(r.nextInt(passages.length)), r)
      } else if (u < dupShare + passageShare + contamShare) {
        val b = bench(r.nextInt(bench.length))
        val at = r.nextInt(b.toks.length - 12)
        out(i) = splice(out(i), b.toks.slice(at, at + 12), r)
      }
      if (!pairs.exists(_._2 == i)) originals += i
      i += 1
    }
    (out, bench, pairs.toSet)
  }

  /** Insert `span` (space-glued) at a random token boundary of `d`. */
  private def splice(d: Doc, span: Array[String], r: SplittableRandom): Doc = {
    val at = r.nextInt(d.toks.length)
    val toks = d.toks.take(at) ++ span ++ d.toks.drop(at)
    val glue = new Array[Byte](toks.length - 1)
    // keep the original glue around the splice; the span and its edges are spaces
    var j = 0
    while (j < glue.length) {
      glue(j) =
        if (j < at - 1) d.glue(j)
        else if (j >= at + span.length && j - span.length < d.glue.length) d.glue(j - span.length)
        else Space
      j += 1
    }
    d.copy(toks = toks, glue = glue)
  }
}
