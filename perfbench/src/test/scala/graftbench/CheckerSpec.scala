package graftbench

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.exec.Searcher

/** The answer checker against the real engine on a small corpus: right
  * answers pass, corrupted ones are counted as failures.
  */
class CheckerSpec extends AnyFunSuite with BeforeAndAfterAll {
  private val workDir = java.nio.file.Files.createTempDirectory("perfbench-spec").toString
  private lazy val spark = Main.session(2, workDir)
  private lazy val ctx = new Ctx(spark, 3, 1.0, traced = false, workDir)
  private lazy val docs = Gen.corpus(3, 800)
  private lazy val oracle = new SearchOracle(docs)
  private lazy val searcher = new Searcher(
    QueryExec.buildSaveLoad(Tracer.Off, ctx, Main.sourceFrame(spark, docs, 2), ctx.freshDir("index")).idx)
  private lazy val queries = Gen.queryStream(3, docs, 6, 60).distinct

  override def afterAll(): Unit = {
    spark.stop()
    Main.deleteRecursively(new java.io.File(workDir))
  }

  private def answer(q: QuerySpec): QueryExec.Answer = QueryExec.run(Tracer.Off, searcher, q)._1

  test("engine answers of every query class match the oracle") {
    assert(Gen.Classes.forall(c => queries.exists(_.cls == c)))
    queries.foreach(q => assert(QueryExec.check(q, answer(q), oracle.matches(q)), q))
  }

  test("a corrupted answer is counted") {
    var corrupted = 0
    queries.foreach { q =>
      val all = oracle.matches(q)
      answer(q) match {
        case QueryExec.Count(n) =>
          assert(!QueryExec.check(q, QueryExec.Count(n + 1), all))
          corrupted += 1
        case QueryExec.Hits(h) if h.nonEmpty =>
          val scored = h.updated(0, (h.head._1, h.head._2 + 0.01))
          val other = docs.length + 5L // no such doc
          val swapped = h.updated(h.length - 1, (other, h.last._2))
          assert(!QueryExec.check(q, QueryExec.Hits(scored), all), q)
          assert(!QueryExec.check(q, QueryExec.Hits(swapped), all), q)
          assert(!QueryExec.check(q, QueryExec.Hits(h.init), all), q)
          corrupted += 3
        case _ =>
      }
    }
    assert(corrupted > 20)
  }

  test("a corrupted corpus-ops result is counted") {
    val (ops, bench, planted) = Gen.opsCorpus(3, 300, 10, 0.1, 0.1, 0.1)
    val byId = ops.map(d => d.id -> d).toMap
    val dups = Oracle.nearDupTruth(ops, planted, 0.5).map { case (p, j) => p -> Oracle.q(j) }
    assert(Oracle.dedupOk(dups, dups, byId))
    assert(!Oracle.dedupOk(dups - dups.head._1, dups, byId))
    assert(!Oracle.dedupOk(dups.updated(dups.head._1, dups.head._2 + 1), dups, byId))
    val excised = Oracle.excisionTruth(ops, 8)
    val got = excised.toSeq
    assert(Oracle.exciseOk(got, excised))
    assert(!Oracle.exciseOk(got.updated(0, (got.head._1, (got.head._2._1 + 1, got.head._2._2))), excised))
    assert(!Oracle.exciseOk(got.tail, excised))
    assert(Oracle.contaminationTruth(ops, bench, 8).nonEmpty)
  }
}
