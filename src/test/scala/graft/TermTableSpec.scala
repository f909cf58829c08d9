package graft

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._

import graft.exec.Searcher
import graft.fixtures.CodeCorpus
import graft.index._
import graft.query._

/** The driver-resident term table: it equals the term dictionary and the
  * blocks' metadata on every kind of index, and it lets the searcher plan
  * queries without starting a Spark job.
  */
class TermTableSpec extends SparkTestBase {

  lazy val corpus = CodeCorpus.generate(spark, 600, 4).cache()
  lazy val schema = IndexSchema(
    keyColumns = Seq("repo", "path", "commit"),
    fields = Map("content" -> TextField("code", positions = true), "lang" -> KeywordField))
  lazy val built: Index = IndexBuilder.build(corpus, schema, numPartitions = 4).cached()

  private def assertTableMatches(name: String, idx: Index): Unit = {
    val table = idx.termTable
    val dict = idx.termDict.select("field", "term", "docFreq", "totalTermFreq").collect()
    assert(dict.nonEmpty, name)
    assert(table.size === dict.length.toLong, name)
    dict.foreach { r =>
      val e = table.get(r.getString(0), r.getString(1))
      assert(e.isDefined, s"$name: ${r.getString(0)}:${r.getString(1)} missing")
      assert((e.get.docFreq, e.get.totalTermFreq) === ((r.getLong(2), r.getLong(3))),
        s"$name: ${r.getString(0)}:${r.getString(1)}")
    }
    assert(table.get("content", "zzz_absent_term").isEmpty, name)
    assert(table.get("content", "").isEmpty, s"$name: the norms sentinel is not a term")
    assert(table.get("no_such_field", "def").isEmpty, name)
    val blocks = idx.blocks.toDF().filter(col("term") =!= "")
      .select("field", "term", "firstDocId").collect()
      .groupBy(r => (r.getString(0), r.getString(1)))
    assert(blocks.size === dict.length, name)
    blocks.foreach { case ((f, t), rows) =>
      val salts = rows.map(_.getLong(2) >>> IndexBuilder.SaltShift).distinct.sorted.toSeq
      assert(table.get(f, t).get.buckets === salts, s"$name: $f:$t")
    }
  }

  test("term table equals the dictionary and block ranges: built, loaded, appended, delete view") {
    // the block ranges enter as their salt buckets: distinct firstDocId >>> SaltShift
    assertTableMatches("built", built)
    val dir = Files.createTempDirectory("graft-termtable").toString
    built.save(dir)
    assertTableMatches("loaded", IndexBuilder.load(spark, dir))
    // the appended segment starts at the next salt bucket, so terms of both
    // segments lie in two buckets
    val more = CodeCorpus.generate(spark, 50, 2).withColumn("commit", lit("appended"))
    val appended = built.append(more)
    assertTableMatches("appended", appended)
    assert(appended.termTable.get("content", "def").get.buckets === Seq(0L, 1L))
    // a delete view keeps the base's statistics: it shares the base's table
    val deleted = built.withDeletes(built.docs.filter(col("lang") === "py").select("docId"))
    assertTableMatches("withDeletes", deleted)
    assert(deleted.termTable eq built.termTable)
    assert(new Searcher(deleted).docFreq("content", "def") ===
      new Searcher(built).docFreq("content", "def"))
  }

  test("planning starts no Spark job once the term table is built; answers match exhaustive eval") {
    val s = new Searcher(built)
    s.search(Term("content", "def"), 10).collect() // builds the table
    val jobTimes = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = jobTimes.add(js.time)
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val queries: Seq[(String, Query)] = Seq(
        "fresh term" -> Term("content", "wand"),
        "or" -> Query.any(Term("content", "merge"), Term("content", "scan"), Term("content", "max")),
        "and" -> Query.all(Term("content", "block"), Term("content", "wand")),
        "and-not" -> Bool(Seq(
          Occur.Must -> Term("content", "block"),
          Occur.Must -> Term("content", "max"),
          Occur.MustNot -> Term("content", "parse"))),
        "phrase" -> Query.phrase("content", "we", "the", "people"))
      queries.foreach { case (name, q) =>
        val t0 = System.currentTimeMillis()
        val df = s.search(q, 10)
        val t1 = System.currentTimeMillis()
        Thread.sleep(500) // listener events post asynchronously
        val planning = jobTimes.asScala.count(t => t >= t0 && t <= t1)
        assert(planning === 0, s"$name: planning started $planning Spark jobs")
        val got = df.collect().map(r => (r.getLong(0), math.round(r.getDouble(1) * 1e9))).toSeq
        val exhaustive = s.eval(q).orderBy(col("score").desc, col("docId").asc).limit(10)
          .collect().map(r => (r.getLong(0), math.round(r.getDouble(1) * 1e9))).toSeq
        assert(got.nonEmpty, name)
        assert(got === exhaustive, name)
      }
    } finally spark.sparkContext.removeSparkListener(listener)
  }
}
