package graft

import java.nio.file.Files

import scala.concurrent.{Await, Future}
import scala.concurrent.duration.Duration

import org.apache.spark.sql.functions.col

import graft.exec.Searcher
import graft.fixtures.CodeCorpus
import graft.index._
import graft.query.{Query => Q, _}

/** The executor-resident block store behind the scored routes: answers
  * survive the loss of its cached partitions, two first queries racing to
  * build it, and a tombstone view of a saved index.
  */
class BlockStoreSpec extends SparkTestBase {

  lazy val schema = IndexSchema(
    keyColumns = Seq("repo", "path", "commit"),
    fields = Map("content" -> TextField("code", positions = true)))

  // two salt buckets, so the store has two partitions
  lazy val dir: String = {
    val d = Files.createTempDirectory("graft-blockstore").toString
    IndexBuilder.build(CodeCorpus.generate(spark, 9000, 4), schema, numPartitions = 4).save(d)
    d
  }

  private def t(term: String): Term = Term("content", term)

  /** One query per block route: WAND term and OR, AND, AND-NOT, phrase. */
  private lazy val queries: Seq[(String, Q)] = Seq(
    "term" -> t("parse"),
    "or" -> Q.any(t("merge"), t("scan"), t("block")),
    "and" -> Q.all(t("parse"), t("merge")),
    "and_not" -> Bool(Seq(Occur.Must -> t("parse"), Occur.Must -> t("merge"), Occur.MustNot -> t("fn"))),
    "phrase" -> Q.phrase("content", "we", "the", "people"))

  private def top(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long)] =
    df.collect().map(r => (r.getLong(0), math.round(r.getDouble(1) * 1e9))).toSeq

  private def exhaustive(s: Searcher, q: Q, k: Int = 10): Seq[(Long, Long)] =
    top(s.eval(q).orderBy(col("score").desc, col("docId").asc).limit(k))

  test("answers survive the loss of the store's cached partitions") {
    val s = new Searcher(IndexBuilder.load(spark, dir))
    val before = queries.map { case (_, q) => top(s.search(q, 10)) }
    val store = s.index.blockStore.rdd
    assert(store.partitions.length === 2)
    def cached = spark.sparkContext.getRDDStorageInfo.filter(_.id == store.id).map(_.numCachedPartitions).sum
    assert(cached === 2)
    // evict every cached partition, keeping the storage level: the next
    // query recomputes them from lineage and caches them again
    store.unpersist(blocking = true)
    assert(cached === 0)
    store.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val after = queries.map { case (_, q) => top(s.search(q, 10)) }
    queries.map(_._1).zip(before.zip(after)).foreach { case (name, (b, a)) =>
      assert(a === b, name)
      assert(a.nonEmpty, name)
    }
    assert(cached === 2)
  }

  test("two threads issuing the first query of a fresh index both answer exactly") {
    val s = new Searcher(IndexBuilder.load(spark, dir))
    val latch = new java.util.concurrent.CountDownLatch(1)
    import scala.concurrent.ExecutionContext.Implicits.global
    val pairs = Seq(queries(1)._2, queries(4)._2)
    val answers = pairs.map(q => Future { latch.await(); top(s.search(q, 10)) })
    latch.countDown()
    val got = answers.map(Await.result(_, Duration(5, "min")))
    pairs.zip(got).foreach { case (q, a) =>
      assert(a.nonEmpty, q)
      assert(a === exhaustive(s, q), q)
    }
  }

  test("a tombstone view of a saved index answers like exhaustive scoring") {
    import spark.implicits._
    val base = IndexBuilder.load(spark, dir)
    val dead = (0L until 9000L by 3L) ++ Seq(8192L, 8193L)
    val view = new Searcher(base.withDeletes(dead.toDF("docId")))
    val deadSet = dead.toSet
    val full = new Searcher(base)
    queries.foreach { case (name, q) =>
      val got = top(view.search(q, 10))
      assert(got.nonEmpty, name)
      assert(got === exhaustive(view, q), name)
      assert(!got.exists(h => deadSet(h._1)), s"$name: a tombstoned doc answered")
      // ... the base's ranking with the tombstoned docs left out
      val live = top(full.eval(q).orderBy(col("score").desc, col("docId").asc))
        .filterNot(h => deadSet(h._1)).take(10)
      assert(got === live, name)
    }
  }
}
