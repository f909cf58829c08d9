package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{FileSourceScanExec, UnionExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec

import graft.exec.{Searcher, SortSpec}
import graft.fixtures.CodeCorpus
import graft.index._
import graft.query.{Query => Q, _}

/** Physical-plan shapes of the key query routes over a saved (parquet)
  * index: exchange counts, parquet pushdown, the top-k operator, semi-joins
  * and broadcasts. The term, OR (WAND), AND (conjunction) and positional
  * routes each run exactly ONE hash exchange of compressed blocks on the
  * docId salt bucket (over a deletes view, WAND's tombstones ride that same
  * exchange), and the score-only routes never read the positions blob.
  * Queries execute first so AQE's final plan is inspected.
  */
class PlanShapeSpec extends SparkTestBase with AdaptiveSparkPlanHelper {

  lazy val searcher: Searcher = {
    val dir = java.nio.file.Files.createTempDirectory("graft-planshape").toString
    val schema = IndexSchema(Seq("repo", "path", "commit"),
      Map("content" -> TextField("code", true), "lang" -> KeywordField))
    IndexBuilder.build(CodeCorpus.generate(spark, 5000, 8), schema, 8).save(dir)
    new Searcher(IndexBuilder.load(spark, dir))
  }

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
          if e.outputPartitioning.toString.startsWith("hashpartitioning(shiftrightunsigned(firstDocId") => e
    }

  private def postingsReadSchemas(plan: org.apache.spark.sql.execution.SparkPlan): Seq[Seq[String]] =
    collect(plan) { case s: FileSourceScanExec => s.requiredSchema.fieldNames.toSeq }
      .filter(_.contains("docsBlob"))

  private lazy val parse = Term("content", "parse")
  private lazy val merge = Term("content", "merge")

  private val overDeletes = "bool_or (WAND) over deletes"
  private lazy val deletesView: Searcher =
    new Searcher(searcher.index.withDeletes(spark.range(0, 5000, 3).toDF("docId")))

  // route -> (query, expected string shape, salt exchanges, score-only)
  private lazy val routes: Seq[(String, () => DataFrame, (Int, Boolean, Boolean, Boolean, Boolean),
      Option[Int], Boolean)] = Seq(
    ("term_topk", () => searcher.search(parse, 10), (2, true, true, false, false), Some(1), true),
    ("bool_or (WAND)", () => searcher.search(Q.any(parse, merge), 10),
      (2, true, true, false, false), Some(1), true),
    ("bool_and (conjunction intersect)", () => searcher.search(Q.all(parse, merge), 10),
      (2, true, true, false, false), Some(1), true),
    ("bool_and rare+hot", () => searcher.search(Q.all(Term("content", "scanhash"),
      Term("content", "def")), 10), (0, false, false, false, false), None, false),
    ("phrase (bucket intersect)", () => searcher.search(Q.phrase("content", "we", "the", "people"), 10),
      (2, true, true, false, false), Some(1), false),
    ("span_containing", () => searcher.spans(
      SpanQ.near(Seq(Q.span("content", "parse"), Q.span("content", "merge")), slop = 5, inOrder = true)
        .containing(Q.span("content", "def"))), (2, true, false, false, false), Some(1), false),
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
      if (scoreOnly) {
        val schemas = postingsReadSchemas(plan)
        assert(schemas.nonEmpty, "postings scan expected")
        schemas.foreach(s => assert(!s.contains("positionsBlob"), s"ReadSchema $s"))
      }
    }
  }
}
