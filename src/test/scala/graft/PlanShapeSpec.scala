package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.functions.{col, concat, lit}

import graft.exec.{Searcher, SortSpec}
import graft.fixtures.CodeCorpus
import graft.index._
import graft.query.{Query => Q, _}

/** Physical-plan shapes of the key query routes over a saved (parquet)
  * index: exchange counts, parquet pushdown, the top-k operator, semi-joins
  * and broadcasts. The term, OR (WAND), AND (conjunction, incl. same-field
  * AND-NOT) and positional routes read the index's block store: NO exchange
  * and NO postings file scan, over a saved and over a built index alike,
  * and only the store partitions holding the rarest term's salt buckets
  * launch. Over a `withDeletes` view WAND zips the view's partitioned
  * tombstones with the store, still with no exchange. Queries execute first
  * so AQE's final plan is inspected. A second query of a shape, over a
  * saved or a built index, compiles no generated class: no value taken from
  * the index enters generated code as a literal.
  */
class PlanShapeSpec extends SparkTestBase with AdaptiveSparkPlanHelper {

  lazy val searcher: Searcher = {
    val dir = java.nio.file.Files.createTempDirectory("graft-planshape").toString
    built.save(dir)
    new Searcher(IndexBuilder.load(spark, dir))
  }

  private lazy val built: Index = IndexBuilder.build(CodeCorpus.generate(spark, 5000, 8),
    IndexSchema(Seq("repo", "path", "commit"),
      Map("content" -> TextField("code", true), "lang" -> KeywordField)), 8)

  /** (exchanges, pushed filters, TakeOrderedAndProject, semi-join, broadcast)
    * read off the final plan string, plus the plan itself.
    */
  private def shape(df: DataFrame): ((Int, Boolean, Boolean, Boolean, Boolean),
      org.apache.spark.sql.execution.SparkPlan) = {
    df.collect() // materialize so AQE finalizes the plan
    val plan = df.queryExecution.executedPlan
    val p = plan.toString
    (("Exchange".r.findAllIn(p).length, p.contains("PushedFilters: [IsNotNull"),
      p.contains("TakeOrderedAndProject"), p.contains("LeftSemi"),
      p.contains("BroadcastExchange") || p.contains("BroadcastHashJoin")), plan)
  }

  private def exchanges(plan: org.apache.spark.sql.execution.SparkPlan): Int =
    collect(plan) { case e: Exchange => e }.length

  private def postingsScans(plan: org.apache.spark.sql.execution.SparkPlan): Seq[FileSourceScanExec] =
    collect(plan) { case s: FileSourceScanExec => s }.filter(_.requiredSchema.fieldNames.contains("docsBlob"))

  private lazy val parse = Term("content", "parse")
  private lazy val merge = Term("content", "merge")
  private lazy val defKw = Term("content", "def")

  private val overDeletes = "bool_or (WAND) over deletes"
  private lazy val builtSearcher = new Searcher(built)
  private lazy val deletesViews: Map[Searcher, Searcher] = Seq(searcher, builtSearcher).map(s =>
    s -> new Searcher(s.index.withDeletes(spark.range(0, 5000, 3).toDF("docId")))).toMap

  // route -> (query over a searcher, expected string shape, block-store route);
  // a block-store route runs with no exchange and no postings scan over the
  // saved and the built index, launching the one store partition (all 5,000
  // docs lie in salt bucket 0)
  private lazy val routes: Seq[(String, Searcher => DataFrame, (Int, Boolean, Boolean, Boolean, Boolean),
      Boolean)] = Seq(
    ("term_topk", _.search(parse, 10), (0, false, true, false, false), true),
    ("bool_or (WAND)", _.search(Q.any(parse, merge), 10), (0, false, true, false, false), true),
    ("bool_and (conjunction intersect)", _.search(Q.all(parse, merge), 10),
      (0, false, true, false, false), true),
    ("bool_and_not (exclusion in the conjunction kernel)",
      _.search(Bool(Seq(Occur.Must -> parse, Occur.Must -> merge, Occur.MustNot -> defKw)), 10),
      (0, false, true, false, false), true),
    ("bool_and rare+hot", _.search(Q.all(Term("content", "scanhash"),
      Term("content", "def")), 10), (0, false, false, false, false), false),
    ("phrase (bucket intersect)", _.search(Q.phrase("content", "we", "the", "people"), 10),
      (0, false, true, false, false), true),
    ("span_containing", _.spans(
      SpanQ.near(Seq(Q.span("content", "parse"), Q.span("content", "merge")), slop = 5, inOrder = true)
        .containing(Q.span("content", "def"))), (0, false, false, false, false), true),
    ("facets", _.facets(parse, "lang"), (4, true, false, false, true), false),
    ("groupby (no global window)", _.groupBy("lang", parse, groups = 2),
      (4, true, true, false, true), false),
    ("sorted", _.search(parse, 10, sorts = Seq(SortSpec("lang"))),
      (2, true, true, false, true), false),
    (overDeletes, s => deletesViews(s).search(Q.any(parse, merge), 10),
      (0, false, true, false, false), true),
    ("fuzzy (dictionary scan expansion)", _.search(Fuzzy("content", "mergebatch", 1), 10),
      (1, false, true, false, false), false),
    ("facets_multi (one pass, N fields)", _.facetsMulti(parse, Seq("lang", "repo")),
      (4, true, false, false, true), false))

  routes.foreach { case (label, query, expected, storeRoute) =>
    test(s"plan shape: $label") {
      val (got, plan) = shape(query(searcher))
      assert(got === expected)
      if (storeRoute) {
        val (_, builtPlan) = shape(query(builtSearcher))
        Seq("saved" -> (searcher, plan), "built" -> (builtSearcher, builtPlan)).foreach {
          case (kind, (s, p)) =>
            assert(exchanges(p) === 0, s"$kind: exchanges")
            assert(postingsScans(p).isEmpty, s"$kind: postings scans")
            assert(StoreLineage.launched(s.index, p) === Seq((1, 1)), s"$kind: store partitions launched")
            if (label == overDeletes) { // the view's tombstones zip with the store partition
              val tombs = deletesViews(s).index.deletesByBucket.get
              // one RDD reads both the store's and the tombstones' launched partitions
              assert(StoreLineage.of(p).count(r => r.dependencies.length == 2 &&
                r.dependencies.exists(_.rdd.dependencies.exists(_.rdd eq tombs))) === 1,
                s"$kind: tombstones zipped with the store")
            }
        }
      }
    }
  }

  // ---------------------------------------------------------------------
  // Codegen reuse: a second query of a shape compiles no new Java class.
  // The grown index adds a segment (salt bucket 1) whose docs alone hold
  // "zebra crossing light", so each second query's rarest term differs
  // from the warm-up's in docFreq and in docId coverage: salt buckets {1}
  // against {0, 1}.

  private lazy val grown: Index = built.append(CodeCorpus.generate(spark, 400, 2)
    .withColumn("commit", lit("grown"))
    .withColumn("content", concat(col("content"), lit(" zebra crossing light"))))

  private lazy val grownSaved: Searcher = {
    val dir = java.nio.file.Files.createTempDirectory("graft-codegen").toString
    grown.save(dir)
    new Searcher(IndexBuilder.load(spark, dir))
  }

  private def t(term: String): Term = Term("content", term)
  private def sp(term: String): SpanQ = Q.span("content", term)

  /** shape -> (warm-up query, second query) */
  private lazy val shapes: Seq[(String, Q, Q)] = Seq(
    ("term", t("parse"), t("zebra")),
    ("or", Q.any(t("parse"), t("merge")), Q.any(t("zebra"), t("scan"))),
    ("and", Q.all(t("parse"), t("merge")), Q.all(t("zebra"), t("def"))),
    ("and_not", Bool(Seq(Occur.Must -> t("parse"), Occur.Must -> t("merge"), Occur.MustNot -> t("fn"))),
      Bool(Seq(Occur.Must -> t("zebra"), Occur.Must -> t("scan"), Occur.MustNot -> t("public")))),
    ("phrase", Q.phrase("content", "we", "the", "people"), Q.phrase("content", "zebra", "crossing", "light")),
    ("near", Q.near("content", Seq("block", "wand"), slop = 3, inOrder = false),
      Q.near("content", Seq("zebra", "light"), slop = 3, inOrder = false)),
    ("span", SpanWrap(SpanQ.near(Seq(sp("block"), sp("wand")), slop = 2).containing(sp("max"))),
      SpanWrap(SpanQ.near(Seq(sp("zebra"), sp("light")), slop = 2).containing(sp("crossing")))),
    ("count_term", t("parse"), t("zebra")),
    ("count_and", Q.all(t("parse"), t("merge")), Q.all(t("zebra"), t("def"))),
    ("mixed +a b", Bool(Seq(Occur.Must -> t("parse"), Occur.Should -> t("merge"))),
      Bool(Seq(Occur.Must -> t("zebra"), Occur.Should -> t("scan")))))

  private def compiles(): Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** Top-10 (docId, score) of a search, or the count of a count shape. */
  private def answer(s: Searcher, shape: String, q: Q): Either[Long, Seq[(Long, Double)]] =
    if (shape.startsWith("count")) Left(s.count(q))
    else Right(s.search(q, 10).collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq)

  private def exhaustive(s: Searcher, shape: String, q: Q): Either[Long, Seq[(Long, Double)]] = {
    val m = s.eval(q)
    if (shape.startsWith("count")) Left(m.collect().length.toLong)
    else Right(m.orderBy(col("score").desc, col("docId").asc).limit(10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq)
  }

  private def assertSameAnswer(label: String, got: Either[Long, Seq[(Long, Double)]],
      want: Either[Long, Seq[(Long, Double)]]): Unit = (got, want) match {
    case (Left(g), Left(w)) =>
      assert(g === w, label)
      assert(g > 0, s"$label: no matches")
    case (Right(g), Right(w)) =>
      assert(g.map(_._1) === w.map(_._1), label)
      g.zip(w).foreach { case (a, b) => assert(math.abs(a._2 - b._2) < 1e-9, s"$label: $a vs $b") }
      assert(g.nonEmpty, s"$label: no hits")
    case _ => fail(label)
  }

  Seq("saved" -> (() => grownSaved), "built" -> (() => new Searcher(grown))).foreach {
    case (kind, searcherOf) =>
      test(s"codegen reuse: a repeated query shape compiles no code ($kind index)") {
        val s = searcherOf()
        val compiled = shapes.map { case (shape, warm, second) =>
          val warmAnswer = answer(s, shape, warm)
          val before = compiles()
          val secondAnswer = answer(s, shape, second)
          val n = compiles() - before
          assertSameAnswer(s"$kind $shape warm-up", warmAnswer, exhaustive(s, shape, warm))
          assertSameAnswer(s"$kind $shape", secondAnswer, exhaustive(s, shape, second))
          shape -> n
        }
        assert(compiled.forall(_._2 == 0L),
          s"classes compiled by the second query of each shape: ${compiled.mkString(", ")}")
      }
  }

  test("codegen reuse: doc(id) of another id compiles no code (saved index with deletes)") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-docfetch").toString
    built.withDeletes(Seq(7L, 8L).toDF("docId")).save(dir)
    val s = new Searcher(IndexBuilder.load(spark, dir))
    def stored(id: Long) = s.index.docs.filter(col("docId") === id).collect().headOption
    val (want3, want11, want8) = (stored(3L), stored(11L), stored(8L))
    // warm-up: one live fetch (tombstone probe + doc read), one tombstoned
    assert(s.doc(3L) === want3 && want3.isDefined)
    assert(s.doc(7L) === None)
    val before = compiles()
    val got11 = s.doc(11L)
    val got8 = s.doc(8L)
    val n = compiles() - before
    assert(got11 === want11 && want11.isDefined)
    assert(got8 === None && want8.isDefined, "a tombstoned id reads None")
    assert(n === 0L, "classes compiled by doc() of new ids")
  }

  // the built index's plan string prints its cached build lineage, so the
  // exchanges are counted on the physical plan (the cache scan is a leaf)
  test("plan shape: bool_or (WAND) over a built, unsaved index") {
    val df = new Searcher(built).search(Q.any(parse, merge), 10)
    df.collect()
    val plan = df.queryExecution.executedPlan
    assert(exchanges(plan) === 0, "exchanges")
    assert(postingsScans(plan).isEmpty, "postings scans")
    assert(StoreLineage.launched(built, plan) === Seq((1, 1)), "store partitions launched")
    assert(plan.toString.contains("TakeOrderedAndProject"))
  }
}
