package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{FileSourceScanExec, UnionExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.{Exchange, ShuffleExchangeExec}

import graft.exec.{Searcher, SortSpec}
import graft.fixtures.CodeCorpus
import graft.index._
import graft.query.{Query => Q, _}

/** Physical-plan shapes of the key query routes over a saved (parquet)
  * index: exchange counts, parquet pushdown, the top-k operator, semi-joins
  * and broadcasts. A saved index stores its postings salt-bucketed, so the
  * term, OR (WAND), AND (conjunction, incl. same-field AND-NOT) and
  * positional routes run with NO exchange: every postings scan is a
  * bucketed scan that the salt-bucket grouping reads in place. A built,
  * unsaved index and a `withDeletes` view (its tombstones are not bucketed)
  * run exactly ONE hash exchange on the salt bucket; over the deletes view
  * the blocks and tombstones meet in it through a Union. The score-only
  * routes never read the positions blob. Queries execute first so AQE's
  * final plan is inspected.
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

  private def saltExchanges(plan: org.apache.spark.sql.execution.SparkPlan): Seq[ShuffleExchangeExec] =
    collect(plan) {
      case e: ShuffleExchangeExec
          if Seq("hashpartitioning(shiftrightunsigned(firstDocId", "hashpartitioning(salt")
            .exists(e.outputPartitioning.toString.startsWith) => e
    }

  private def postingsScans(plan: org.apache.spark.sql.execution.SparkPlan): Seq[FileSourceScanExec] =
    collect(plan) { case s: FileSourceScanExec => s }.filter(_.requiredSchema.fieldNames.contains("docsBlob"))

  private lazy val parse = Term("content", "parse")
  private lazy val merge = Term("content", "merge")
  private lazy val defKw = Term("content", "def")

  private val overDeletes = "bool_or (WAND) over deletes"
  private lazy val deletesView: Searcher =
    new Searcher(searcher.index.withDeletes(spark.range(0, 5000, 3).toDF("docId")))

  // route -> (query, expected string shape, salt exchanges, score-only);
  // routes with 0 salt exchanges must read every postings scan bucketed
  private lazy val routes: Seq[(String, () => DataFrame, (Int, Boolean, Boolean, Boolean, Boolean),
      Option[Int], Boolean)] = Seq(
    ("term_topk", () => searcher.search(parse, 10), (0, true, true, false, false), Some(0), true),
    ("bool_or (WAND)", () => searcher.search(Q.any(parse, merge), 10),
      (0, true, true, false, false), Some(0), true),
    ("bool_and (conjunction intersect)", () => searcher.search(Q.all(parse, merge), 10),
      (0, true, true, false, false), Some(0), true),
    ("bool_and_not (exclusion in the conjunction kernel)",
      () => searcher.search(Bool(Seq(Occur.Must -> parse, Occur.Must -> merge, Occur.MustNot -> defKw)), 10),
      (0, true, true, false, false), Some(0), true),
    ("bool_and rare+hot", () => searcher.search(Q.all(Term("content", "scanhash"),
      Term("content", "def")), 10), (0, false, false, false, false), None, false),
    ("phrase (bucket intersect)", () => searcher.search(Q.phrase("content", "we", "the", "people"), 10),
      (0, true, true, false, false), Some(0), false),
    ("span_containing", () => searcher.spans(
      SpanQ.near(Seq(Q.span("content", "parse"), Q.span("content", "merge")), slop = 5, inOrder = true)
        .containing(Q.span("content", "def"))), (0, true, false, false, false), Some(0), false),
    ("facets", () => searcher.facets(parse, "lang"), (4, true, false, false, true), None, false),
    ("groupby (no global window)", () => searcher.groupBy("lang", parse, groups = 2),
      (4, true, true, false, true), None, false),
    ("sorted", () => searcher.search(parse, 10, sorts = Seq(SortSpec("lang"))),
      (2, true, true, false, true), None, false),
    (overDeletes, () => deletesView.search(Q.any(parse, merge), 10),
      (2, true, true, false, false), Some(1), true),
    ("fuzzy (dictionary scan expansion)", () => searcher.search(Fuzzy("content", "mergebatch", 1), 10),
      (1, false, true, false, false), None, false),
    ("facets_multi (one pass, N fields)", () => searcher.facetsMulti(parse, Seq("lang", "repo")),
      (4, true, false, false, true), None, false))

  routes.foreach { case (label, df, expected, salt, scoreOnly) =>
    test(s"plan shape: $label") {
      val (got, plan) = shape(df())
      assert(got === expected)
      salt.foreach(n => assert(saltExchanges(plan).length === n, "salt-bucket hash exchanges"))
      if (label == overDeletes) // blocks + co-shuffled tombstones feed the one salt exchange
        assert(saltExchanges(plan).count(_.find(_.isInstanceOf[UnionExec]).isDefined) === 1,
          "tombstones ride the salt exchange")
      if (salt.contains(0)) {
        val scans = postingsScans(plan)
        assert(scans.nonEmpty, "postings scan expected")
        scans.foreach(s => assert(s.bucketedScan, s"postings scan not bucketed: ${s.simpleString(200)}"))
      }
      if (scoreOnly) {
        val schemas = postingsScans(plan).map(_.requiredSchema.fieldNames.toSeq)
        assert(schemas.nonEmpty, "postings scan expected")
        schemas.foreach(s => assert(!s.contains("positionsBlob"), s"ReadSchema $s"))
      }
    }
  }

  // the built index's plan string prints its cached build lineage, so the
  // exchanges are counted on the physical plan (the cache scan is a leaf)
  test("plan shape: bool_or (WAND) over a built, unsaved index") {
    val df = new Searcher(built).search(Q.any(parse, merge), 10)
    df.collect()
    val plan = df.queryExecution.executedPlan
    assert(collect(plan) { case e: Exchange => e }.length === 1, "exchanges")
    assert(saltExchanges(plan).length === 1, "salt-bucket hash exchanges")
    assert(plan.toString.contains("TakeOrderedAndProject"))
  }
}
