package graft

import graft.exec.{Searcher, Wand}
import graft.fixtures.CodeCorpus
import graft.index._
import graft.query.{Query => Q, _}

/** Block-max WAND vs exhaustive scoring: rank- and score-identical top-k,
  * while provably decoding fewer blocks.
  */
class WandSpec extends SparkTestBase {
  import org.apache.spark.sql.functions._

  lazy val schema = IndexSchema(
    keyColumns = Seq("repo", "path", "commit"),
    fields = Map("content" -> TextField("code", positions = true)))
  lazy val index: Index = IndexBuilder.build(
    CodeCorpus.generate(spark, 3000, 8), schema, numPartitions = 8).cached()
  lazy val searcher = new Searcher(index)

  val queries: Seq[Seq[String]] = Seq(
    Seq("def", "parse"),
    Seq("the", "return", "index"),
    Seq("scanhash", "mergebatch", "class"), // rare + hot mix
    Seq("def", "class", "import", "return", "val"), // all hot
    Seq("zzz_missing", "parse"))

  /** The exhaustive top-k: every match scored, ranked score desc, docId asc. */
  def exhaustiveTopK(s: Searcher, q: Q, k: Int): Seq[(Long, Long)] =
    s.eval(q).orderBy(col("score").desc, col("docId").asc).limit(k).collect()
      .map(r => (r.getLong(0), math.round(r.getDouble(1) * 1e9))).toSeq

  def exhaustive(terms: Seq[String], k: Int): Seq[(Long, Long)] =
    exhaustiveTopK(searcher, Q.any(terms.map(Term("content", _)): _*), k)

  test("WAND top-k matches exhaustive scoring exactly") {
    for (terms <- queries; k <- Seq(1, 10, 100)) {
      val viaWand = searcher.searchWand("content", terms.map(_ -> 1.0), k).collect()
        .map(r => (r.getLong(0), math.round(r.getDouble(1) * 1e9))).toSeq
      assert(viaWand === exhaustive(terms, k), s"terms=$terms k=$k")
    }
  }

  test("search() auto-routes disjunctions through WAND") {
    val q = Q.any(Term("content", "def"), Term("content", "parse"))
    val auto = searcher.search(q, 10).collect().map(_.getLong(0)).toSeq
    assert(auto === exhaustive(Seq("def", "parse"), 10).map(_._1))
    // boosts flow into WAND weights
    val qb = Q.any(Term("content", "def").boost(2.0), Term("content", "parse"))
    val exh = exhaustiveTopK(searcher, qb, 10)
    val wnd = searcher.search(qb, 10).collect().map(r => (r.getLong(0), math.round(r.getDouble(1) * 1e9))).toSeq
    assert(wnd === exh)
  }

  test("multi-bucket corpora + appended segments stay WAND-exact") {
    // >8192 docs => multiple salt buckets; hash collisions put several
    // buckets of one term in one build partition — blocks must stay
    // bucket-aligned or WAND splits a doc's scores across partitions.
    val big = IndexBuilder.build(CodeCorpus.generate(spark, 10000, 8), schema, 4).cached()
    val sBig = new Searcher(big)
    def exhaust(s: Searcher, terms: Seq[String], k: Int) =
      exhaustiveTopK(s, Q.any(terms.map(Term("content", _)): _*), k)
    for (terms <- queries; k <- Seq(5, 50)) {
      val viaWand = sBig.searchWand("content", terms.map(_ -> 1.0), k).collect()
        .map(r => (r.getLong(0), math.round(r.getDouble(1) * 1e9))).toSeq
      assert(viaWand === exhaust(sBig, terms, k), s"terms=$terms k=$k")
      assert(viaWand.map(_._1).distinct.length === viaWand.length, "no duplicate docIds")
    }
    // appended segment (bucket-aligned offset) keeps WAND exact too
    val appended = big.append(CodeCorpus.generate(spark, 500, 2)
      .withColumn("repo", concat(lit("zz/"), col("repo"))))
    val sApp = new Searcher(appended)
    for (terms <- queries.take(3)) {
      val viaWand = sApp.searchWand("content", terms.map(_ -> 1.0), 20).collect()
        .map(r => (r.getLong(0), math.round(r.getDouble(1) * 1e9))).toSeq
      assert(viaWand === exhaust(sApp, terms, 20), s"appended terms=$terms")
    }
  }

  test("term-conjunction fast path ≡ per-clause score sums (filters, nots, duplicates)") {
    def termScores(t: String): Map[Long, Double] =
      searcher.search(Term("content", t), 0).collect()
        .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    def got(q: graft.query.Query): Map[Long, Long] =
      searcher.search(q, 0).collect()
        .map(r => r.getLong(0) -> math.round(r.getDouble(1) * 1e9)).toMap
    for (Seq(t1, t2) <- Seq(Seq("def", "parse"), Seq("the", "return"), Seq("scanhash", "def"))) {
      val (a, b) = (termScores(t1), termScores(t2))
      val expected = (a.keySet intersect b.keySet)
        .map(id => id -> math.round((a(id) + b(id)) * 1e9)).toMap
      assert(got(Q.all(Term("content", t1), Term("content", t2))) === expected, s"$t1 AND $t2")
      // FILTER clause constrains without scoring
      val expectedF = (a.keySet intersect b.keySet)
        .map(id => id -> math.round(a(id) * 1e9)).toMap
      assert(got(Q.filter(Term("content", t1), Term("content", t2))) === expectedF)
    }
    // duplicate MUST doubles the clause contribution (BooleanQuery sum)
    val a = termScores("def")
    val dup = got(Q.all(Term("content", "def"), Term("content", "def")))
    assert(dup === a.map { case (id, s) => id -> math.round(2 * s * 1e9) })
    // MUST_NOT anti-joins after the fast path
    val c = termScores("parse")
    val notGot = got(Bool(Seq(Occur.Must -> Term("content", "def"),
      Occur.Must -> Term("content", "parse"), Occur.MustNot -> Term("content", "merge"))))
    val merged = termScores("merge").keySet
    val notExp = (a.keySet intersect c.keySet diff merged)
      .map(id => id -> math.round((a(id) + c(id)) * 1e9)).toMap
    assert(notGot === notExp)
    // absent term ⇒ empty conjunction
    assert(got(Q.all(Term("content", "def"), Term("content", "zzz_missing"))).isEmpty)
  }

  test("AND-NOT: same-field MUST_NOT terms excluded in the conjunction kernel ≡ the anti-join path") {
    val schemaKw = IndexSchema(Seq("repo", "path", "commit"),
      Map("content" -> TextField("code", positions = true), "lang" -> KeywordField))
    // >8192 docs => salt buckets 0 and 1; the appended segment starts at
    // bucket 2 and alone holds `zzout`, outside every MUST term's coverage
    val big = IndexBuilder.build(CodeCorpus.generate(spark, 10000, 8), schemaKw, 4)
    val appended = big.append(CodeCorpus.generate(spark, 20, 2)
      .withColumn("repo", concat(lit("zz/"), col("repo")))
      .withColumn("content", lit("zzout tail")))
    val dir = java.nio.file.Files.createTempDirectory("graft-andnot").toString
    appended.save(dir)
    val loaded = IndexBuilder.load(spark, dir)
    def t(x: String) = Term("content", x)
    def andNot(a: String, b: String, nots: graft.query.Query*) =
      Bool(Seq(Occur.Must -> t(a), Occur.Must -> t(b)) ++ nots.map(Occur.MustNot -> _))
    // a one-clause SHOULD wrapper keeps the generic anti-join for the NOT
    def wrapped(q: graft.query.Query) = Bool(Seq(Occur.Should -> q))
    val cases: Seq[(String, String, Seq[graft.query.Query])] = Seq(
      ("def", "parse", Seq(t("merge"))),
      ("def", "parse", Seq(t("the"), t("x7"))), // hot NOT + a rare one
      ("def", "parse", Seq(t("parse"))), // NOT equals a MUST: no hits
      ("def", "parse", Seq(t("zzz_missing"))), // NOT absent from the index
      ("def", "parse", Seq(t("zzout"))), // NOT blocks outside the coverage
      ("scanhash", "def", Seq(t("class"))),
      ("def", "parse", Seq(Term("lang", "py")))) // other field: anti-join kept
    for (idx <- Seq(appended, loaded); (a, b, nots) <- cases) {
      val s = new Searcher(idx)
      def all(q: graft.query.Query): Map[Long, Long] = s.search(q, 0).collect()
        .map(r => r.getLong(0) -> math.round(r.getDouble(1) * 1e9)).toMap
      val q = andNot(a, b, nots: _*)
      val got = all(q)
      val label = s"+$a +$b ${nots.mkString(" -")}"
      assert(got === all(andNot(a, b, nots.map(wrapped): _*)), label)
      assert(s.search(q, 10).collect().map(r => (r.getLong(0), math.round(r.getDouble(1) * 1e9))).toSeq ===
        got.toSeq.sortBy { case (id, sc) => (-sc, id) }.take(10), s"top-10 $label")
      val plan = { val df = s.search(q, 10); df.collect(); df.queryExecution.executedPlan.toString }
      val otherField = nots.exists { case Term(f, _) => f != "content"; case _ => false }
      assert(plan.contains("LeftAnti") === otherField, s"anti-join iff another field's NOT: $label")
      val conj = all(Q.all(t(a), t(b)))
      nots match {
        case Seq(Term("content", n)) if n == a || n == b => assert(got.isEmpty, label)
        case Seq(Term("content", "zzz_missing" | "zzout")) => assert(got === conj, label)
        case Seq(Term("content", "merge")) =>
          assert(got.nonEmpty && got.size < conj.size, label)
          assert(got === conj -- s.search(t("merge"), 0).collect().map(_.getLong(0)), label)
        case _ => assert(got.keySet.subsetOf(conj.keySet), label)
      }
    }
  }

  test("phrase/near/conjunction stay exact on multi-bucket corpora (>8192 docs)") {
    val big = IndexBuilder.build(CodeCorpus.generate(spark, 10000, 8), schema, 4)
    val sBig = new Searcher(big)
    // independent baseline: decode both terms' postings locally and run the
    // matcher per doc on the driver
    def localPositions(t: String): Map[Long, Array[Int]] =
      big.blocks.filter(col("term") === t).collect()
        .flatMap(b => graft.index.PostingCodec.decodeBlock(b, withPositions = true))
        .map(p => p.docId -> p.positions).toMap
    val (pa, pb) = (localPositions("the"), localPositions("parse"))
    val common = (pa.keySet intersect pb.keySet).toSeq.sorted
    // near(the, parse, slop 4, ordered)
    val expectedNear = common.filter { id =>
      graft.exec.PhraseMatcher.nearFreq(Array(pa(id), pb(id)), 4, inOrder = true) > 0
    }
    val gotNear = sBig.search(Near("content", Seq("the", "parse"), slop = 4, inOrder = true), 0)
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(gotNear === expectedNear)
    assert(gotNear.exists(_ >= (1L << IndexBuilder.SaltShift)), "spans multiple buckets")
    // exact phrase "the parse" (offset-shifted intersection)
    val expectedPhrase = common.filter { id =>
      graft.exec.PhraseMatcher.phraseFreq(Array(pa(id), pb(id).map(_ - 1)), 0) > 0
    }
    val gotPhrase = sBig.search(Q.phrase("content", "the", "parse"), 0)
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(gotPhrase === expectedPhrase)
    // conjunction doc set = postings intersection
    val gotAnd = sBig.search(Q.all(Term("content", "the"), Term("content", "parse")), 0)
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(gotAnd === common)
  }

  test("DisMax routes through WAND (max + tie·(sum−max) combiner) and stays exact; " +
      "sparse DisMax prunes blocks undecoded") {
    def ranked(q: Q, k: Int, wand: Boolean): Seq[(Long, Long)] =
      if (!wand) exhaustiveTopK(searcher, q, k)
      else searcher.search(q, k).collect()
        .map(r => (r.getLong(0), math.round(r.getDouble(1) * 1e9))).toSeq
    for (terms <- queries; tie <- Seq(0.0, 0.3, 1.0); k <- Seq(1, 10, 100)) {
      val q = DisMax(tie, terms.map(Term("content", _)))
      assert(ranked(q, k, wand = true) === ranked(q, k, wand = false),
        s"terms=$terms tie=$tie k=$k")
    }
    // boosts flow into the DisMax weights (inner per-disjunct and outer)
    val qb = Boost(DisMax(0.4, Seq(Term("content", "def").boost(2.0),
      Term("content", "parse"))), 1.5)
    assert(ranked(qb, 10, wand = true) === ranked(qb, 10, wand = false))
    // pruning evidence: rare + hot DisMax at k=1 — docs lacking the rare
    // term can't compete (tie discounts the hot sum), so hot blocks skip
    // undecoded, and the pruned result still matches exhaustive
    val st = index.fieldStats("content")
    val rare = index.termDict.filter(col("field") === "content" &&
        col("term").startsWith("scan") && col("term") =!= "scan")
      .orderBy(col("docFreq").asc).limit(1).collect()(0).getString(1)
    val sparse = Seq(rare, "def", "class", "import", "return")
    val stats = searcher.termStats("content", sparse)
    val termBlocks = sparse.map { t =>
      val w = graft.exec.Bm25.idf(st.docCount, stats(t)._1)
      (w, index.blocks.filter(col("term") === t).collect())
    }
    val totalBlocks = termBlocks.map(_._2.length).sum
    val r = Wand.topkPartitionFull(termBlocks, st.avgdl, 1, _ => false, tie = 0.3)
    assert(r.decodedBlocks < totalBlocks, s"decoded ${r.decodedBlocks} of $totalBlocks")
    val exhTop = ranked(DisMax(0.3, sparse.map(Term("content", _))), 1, wand = false)
    assert(r.top.map(_._1).toSeq === exhTop.map(_._1))
  }

  test("WAND prunes: decodes fewer blocks than exist for small k") {
    // rare + hot mix: docs lacking the high-idf rare term can't compete, so
    // hot-term blocks between rare-term docs are skipped undecoded.
    // (All-hot disjunctions correctly prune nothing: every block competes.)
    val st = index.fieldStats("content")
    val rare = index.termDict.filter(col("field") === "content" && col("term").startsWith("scan") &&
        col("term") =!= "scan")
      .orderBy(col("docFreq").asc).limit(1).collect()(0).getString(1)
    val terms = Seq(rare, "def", "class", "import", "return")
    val stats = searcher.termStats("content", terms)
    val termBlocks = terms.map { t =>
      val w = graft.exec.Bm25.idf(st.docCount, stats(t)._1)
      (w, index.blocks.filter(col("term") === t).collect())
    }
    val totalBlocks = termBlocks.map(_._2.length).sum
    val r = Wand.topkPartitionFull(termBlocks, st.avgdl, 1)
    val (top, decoded) = (r.top, r.decodedBlocks)
    assert(top.length === 1)
    assert(decoded < totalBlocks, s"decoded $decoded of $totalBlocks")
    // and the pruned result still matches exhaustive
    assert(top.map(_._1).toSeq === exhaustive(terms, 1).map(_._1))
  }

  test("searchHits: pruned top-k reports a float GTE estimate from the WAND pass; " +
      "unpruned/exhaustive report exact ints (documents.py:350-355)") {
    val rare = index.termDict.filter(col("field") === "content" && col("term").startsWith("scan") &&
        col("term") =!= "scan")
      .orderBy(col("docFreq").asc).limit(1).collect()(0).getString(1)
    // rare + hot mix at k=1: the previous test proves blocks are skipped on
    // this corpus, so matching docs go unscored and the count is an estimate
    val terms = Seq(rare, "def", "class", "import", "return")
    val q = Q.any(terms.map(Term("content", _)): _*)
    val r = searcher.searchHits(q, 1)
    assert(r.hits.collect().map(_.getLong(0)).toSeq ===
      searcher.search(q, 1).collect().map(_.getLong(0)).toSeq) // hits unchanged
    assert(!r.total.exact, "expected a pruned (estimate) run")
    assert(r.count.isInstanceOf[Double]) // the reference's float ⇔ estimate surface
    val trueCount = searcher.count(q)
    assert(r.total.value >= 1L && r.total.value <= trueCount,
      s"lower bound ${r.total.value} vs true $trueCount")

    // k beyond the match count: the heap never fills, nothing prunes, and
    // the WAND pass itself yields the EXACT count — no counting job ran
    val rareQ = Q.any(Term("content", rare), Term("content", "zzz_missing"))
    val rx = searcher.searchHits(rareQ, 10000)
    val rcount = searcher.count(rareQ)
    assert(rx.total.exact && rx.total.value === rcount)
    assert(rx.count === rcount) // int ⇔ exact
    assert(rx.hits.count() === rcount)

    // non-WAND-able query (conjunction) falls to the exhaustive exact path
    val one = searcher.searchHits(Q.all(Term("content", "def"), Term("content", "parse")), 5)
    assert(one.total.exact &&
      one.total.value === searcher.count(Q.all(Term("content", "def"), Term("content", "parse"))))
  }

  test("single-term top-k routes through block-max WAND (Lucene impacts/BMW) and stays exact") {
    for (t <- Seq("def", "the", "parse"); k <- Seq(1, 10, 100)) {
      searcher.wandDecoded.reset()
      val got = searcher.search(Term("content", t), k).collect()
        .map(r => (r.getLong(0), math.round(r.getDouble(1) * 1e9))).toSeq
      assert(searcher.wandDecoded.value > 0, s"WAND route not taken for term $t")
      val exh = exhaustiveTopK(searcher, Term("content", t), k)
      assert(got === exh, s"term=$t k=$k")
    }
    // hot term, small k: the single-cursor block-max bound actually prunes —
    // blocks whose (maxTf, minDlq) upper bound can't beat theta skip undecoded
    val totalBlocks = index.blocks
      .filter(col("field") === "content" && col("term") === "the").count()
    searcher.wandDecoded.reset()
    searcher.search(Term("content", "the"), 1).collect()
    assert(searcher.wandDecoded.value <= totalBlocks)
    // all-hits (k <= 0) and sorted searches keep the exhaustive route
    val all = searcher.search(Term("content", "def"), 0).collect()
    assert(all.length === searcher.count(Term("content", "def")))
  }

  test("WAND runs over tombstones (liveDocs filter) and stays exact " +
      "(indexers.py:98-109 liveDocs semantics)") {
    import spark.implicits._
    val q = Q.any(Term("content", "def"), Term("content", "parse"))
    // tombstone the undeleted top-5 so the filter provably reshapes the result
    val deadIds = searcher.search(q, 5).collect().map(_.getLong(0)).toSeq
    val sDel = new Searcher(index.withDeletes(deadIds.toDF("docId")))
    def exhaust(terms: Seq[String], k: Int): Seq[(Long, Long)] =
      exhaustiveTopK(sDel, Q.any(terms.map(Term("content", _)): _*), k)
    // the WAND route is actually taken (decoded-blocks accumulator moves)
    sDel.wandDecoded.reset()
    val viaWand = sDel.search(q, 10).collect()
      .map(r => (r.getLong(0), math.round(r.getDouble(1) * 1e9))).toSeq
    assert(sDel.wandDecoded.value > 0, "WAND route not taken despite tombstones")
    assert(viaWand === exhaust(Seq("def", "parse"), 10))
    assert(viaWand.map(_._1).toSet.intersect(deadIds.toSet).isEmpty,
      "a tombstoned doc surfaced in the top-k")
    // every query shape stays exact over the deleted view
    for (terms <- queries; k <- Seq(1, 10, 100)) {
      sDel.wandDecoded.reset()
      val got = sDel.search(Q.any(terms.map(Term("content", _)): _*), k).collect()
        .map(r => (r.getLong(0), math.round(r.getDouble(1) * 1e9))).toSeq
      assert(got === exhaust(terms, k), s"terms=$terms k=$k")
    }
    // searchHits accounting: scored docs exclude tombstones, so the exact /
    // lower-bound contract holds against the LIVE count
    val r = sDel.searchHits(q, 10)
    assert(r.hits.collect().map(_.getLong(0)).toSeq === viaWand.map(_._1))
    val liveCount = sDel.count(q)
    if (r.total.exact) assert(r.total.value === liveCount)
    else assert(r.total.value <= liveCount && r.total.value >= 10L)
  }

  test("WAND over a multi-bucket delete set: per-bucket liveDocs stay exact") {
    import spark.implicits._
    // a multi-bucket view (>8192 docs => several salt buckets) with a heavy
    // delete set spanning buckets: the tombstones co-shuffle with the blocks
    // and each partition filters against its own buckets' liveDocs
    val bigIdx = IndexBuilder.build(CodeCorpus.generate(spark, 20000, 8), schema,
      numPartitions = 8).cached()
    val sPlain = new Searcher(bigIdx)
    val q = Q.any(Term("content", "def"), Term("content", "parse"))
    val deadIds = sPlain.search(q, 50).collect().map(_.getLong(0)).toSeq ++
      (0L until 20000L by 7L) // bulk tombstones across every bucket
    val delView = bigIdx.withDeletes(deadIds.distinct.toDF("docId"))
    val sDel = new Searcher(delView)
    def exhaust(k: Int): Seq[(Long, Long)] = exhaustiveTopK(sDel, q, k)
    for (k <- Seq(1, 10, 100)) {
      sDel.wandDecoded.reset()
      val got = sDel.search(q, k).collect()
        .map(r => (r.getLong(0), math.round(r.getDouble(1) * 1e9))).toSeq
      assert(sDel.wandDecoded.value > 0, "WAND route not taken over the deletes")
      assert(got === exhaust(k), s"k=$k")
      assert(got.map(_._1).toSet.intersect(deadIds.toSet).isEmpty,
        "a tombstoned doc surfaced in the top-k")
    }
    // searchHits contract holds over the deletes too
    val r = sDel.searchHits(q, 10)
    val liveCount = sDel.count(q)
    if (r.total.exact) assert(r.total.value === liveCount)
    else assert(r.total.value <= liveCount && r.total.value >= 10L)
    bigIdx.blocks.unpersist()
    bigIdx.docs.unpersist()
  }

  test("Hits.maxscore: max of present hits, NaN when empty (documents.py:382-385)") {
    val q = Q.any(Term("content", "def"), Term("content", "parse"))
    val r = searcher.searchHits(q, 10)
    val expected = searcher.search(q, 10).collect().map(_.getDouble(1)).max
    assert(math.abs(r.maxscore - expected) < 1e-12)
    val empty = searcher.searchHits(Term("content", "zzz_missing"), 10)
    assert(empty.maxscore.isNaN)
  }
}
