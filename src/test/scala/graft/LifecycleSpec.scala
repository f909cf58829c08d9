package graft

import graft.exec.Searcher
import graft.index._
import graft.query.{Query => Q, _}

/** Index lifecycle: tombstone deletes, segment append (add/update),
  * multi-index union with docId rebasing, integrity check.
  */
class LifecycleSpec extends SparkTestBase {
  import org.apache.spark.sql.functions._

  def corpus(rows: (String, String, String, String, String)*) = {
    val s = spark
    import s.implicits._
    rows.toSeq.toDF("repo", "path", "commit", "lang", "content")
  }

  val schema = IndexSchema(
    keyColumns = Seq("repo", "path", "commit"),
    fields = Map("content" -> TextField("standard", positions = true), "lang" -> KeywordField))

  lazy val base = IndexBuilder.build(corpus(
    ("r", "p0", "c", "en", "hello world"),
    ("r", "p1", "c", "en", "hello spark"),
    ("r", "p2", "c", "de", "goodbye world")), schema, 2)

  test("delete: tombstones hide docs from queries, stats stay pre-delete") {
    val s = new Searcher(base)
    val deleted = s.delete(Term("lang", "en"))
    assert(deleted.count(Term("content", "hello")) === 0)
    assert(deleted.count(Term("content", "world")) === 1)
    assert(deleted.index.numLiveDocs === 1 && deleted.index.numDocs === 3)
    // docFreq intentionally unchanged until expunge (Lucene pre-merge behavior)
    assert(deleted.docFreq("content", "hello") === 2)
    // expunge = filtered rebuild
    val expunged = new Searcher(deleted.copyIndex(AllDocs))
    assert(expunged.index.numDocs === 1)
    assert(expunged.docFreq("content", "hello") === 0)
  }

  test("append: new bucket-aligned segment, correct stats; update = delete+append") {
    val bucket = 1L << IndexBuilder.SaltShift
    val appended = base.append(corpus(("r", "p3", "c", "fr", "hello again world")))
    val s = new Searcher(appended)
    assert(appended.numDocs === 4)
    assert(s.docFreq("content", "hello") === 3)
    assert(s.docFreq("content", "world") === 3)
    val ids = appended.docs.select("docId").collect().map(_.getLong(0)).sorted
    // appended segments start at the next salt-bucket boundary (WAND-safe)
    assert(ids.toSeq === Seq(0L, 1L, 2L, bucket))
    assert(appended.fieldStats("content").sumTotalTermFreq === 2 + 2 + 2 + 3)
    // update p1: delete then re-add with new content
    val updated = new Searcher(appended).delete(Term("content", "spark"))
      .index.append(corpus(("r", "p1", "c2", "en", "updated text spark")))
    val su = new Searcher(updated)
    assert(su.search(Term("content", "spark"), 10).collect().map(_.getLong(0)).toSeq === Seq(2 * bucket))
  }

  test("multi-index union rebases docIds without re-encoding blocks") {
    val other = IndexBuilder.build(corpus(
      ("x", "q0", "c", "fr", "bonjour world"),
      ("x", "q1", "c", "fr", "hello monde")), schema, 2)
    val multi = MultiIndex.union(Seq(base, other))
    val s = new Searcher(multi)
    assert(multi.numDocs === 5)
    assert(s.docFreq("content", "world") === 3)
    assert(s.docFreq("content", "hello") === 3)
    val hits = s.search(Term("content", "bonjour"), 10).collect().map(_.getLong(0))
    assert(hits.toSeq === Seq(1L << IndexBuilder.SaltShift)) // rebased to the next bucket
    assert(multi.fieldStats("content").docCount === 5)
    // positions survive rebasing (phrase on the second index's doc)
    assert(s.count(Q.phrase("content", "hello", "monde")) === 1)
  }

  test("tombstones survive save/load; empty index append/union/query work") {
    val dir = java.nio.file.Files.createTempDirectory("graft-del-save").toString
    new Searcher(base).delete(Term("lang", "en")).index.save(dir)
    val reloaded = new Searcher(IndexBuilder.load(spark, dir))
    assert(reloaded.count(Term("content", "hello")) === 0) // deletes persisted
    assert(reloaded.index.numLiveDocs === 1)
    // re-saving a delete-free index over the same directory drops the old
    // tombstones instead of resurrecting them on load
    base.save(dir)
    assert(new Searcher(IndexBuilder.load(spark, dir)).count(Term("content", "hello")) === 2)

    // empty-index edges: append to empty, union with empty, query empty
    val empty = IndexBuilder.build(corpus().limit(0), schema, 2)
    assert(new Searcher(empty).count(Term("content", "hello")) === 0)
    val grown = empty.append(corpus(("r", "p9", "c", "en", "hello void")))
    assert(new Searcher(grown).count(Term("content", "void")) === 1)
    val u = MultiIndex.union(Seq(empty, base))
    assert(new Searcher(u).docFreq("content", "hello") === 2)
  }

  test("positional queries on a positions-less field fail with a clear error") {
    val noPos = IndexBuilder.build(corpus(("r", "p0", "c", "en", "hello world")),
      IndexSchema(Seq("repo", "path", "commit"),
        Map("content" -> TextField("standard", positions = false))), 2)
    val e = intercept[IllegalArgumentException] {
      new Searcher(noPos).count(Q.phrase("content", "hello", "world"))
    }
    assert(e.getMessage.contains("positions"))
  }

  test("TermSet ignores empty-string terms (norms sentinel)") {
    val s = new Searcher(base)
    assert(s.count(TermSet("content", Seq("", "hello"))) === 2)
    assert(s.count(TermSet("content", Seq(""))) === 0)
  }

  test("groupBy keeps the NULL-valued group (null-safe stats join)") {
    val idx = IndexBuilder.build(corpus(
      ("r", "q0", "c", null, "hello nulls"),
      ("r", "q1", "c", "en", "hello there"),
      ("r", "q2", "c", null, "hello again")), schema, 2)
    val s = new Searcher(idx)
    val all = s.groupBy("lang", Term("content", "hello"), groups = 0, docsPerGroup = 5).collect()
    val byLang = all.groupBy(r => Option(r.getString(0)))
    assert(byLang.keySet === Set(None, Some("en")))
    assert(byLang(None).length === 2 && byLang(None).head.getLong(1) === 2L) // count incl. nulls
    // and with a group limit covering both
    val top = s.groupBy("lang", Term("content", "hello"), groups = 2, docsPerGroup = 5).collect()
    assert(top.map(r => Option(r.getString(0))).toSet === Set(None, Some("en")))
  }

  test("groupBy on a binary docvalue groups by content, not array identity") {
    val s0 = spark
    import s0.implicits._
    val src = Seq(
      ("r", "b0", "c", "x", "hello one", Array[Byte](1, 2)),
      ("r", "b1", "c", "x", "hello two", Array[Byte](1, 2)), // equal CONTENT, distinct array
      ("r", "b2", "c", "x", "hello three", Array[Byte](9)))
      .toDF("repo", "path", "commit", "lang", "content", "blob")
    val g = new Searcher(IndexBuilder.build(src, schema, 2))
      .groupBy("blob", Term("content", "hello"), groups = 0, docsPerGroup = 3).collect()
    val counts = g.map(r => (r.getAs[Array[Byte]](0).toSeq, r.getLong(1))).distinct.toSet
    assert(counts === Set((Seq[Byte](1, 2), 2L), (Seq[Byte](9), 1L)))
  }

  test("facetsMulti: N fields in one pass, null groups kept, matches per-field facets") {
    val idx = IndexBuilder.build(corpus(
      ("r", "q0", "c", null, "hello nulls"),
      ("r", "q1", "c", "en", "hello there"),
      ("s", "q2", "c", "en", "hello again")), schema, 2)
    val s = new Searcher(idx)
    val multi = s.facetsMulti(Term("content", "hello"), Seq("lang", "repo")).collect()
      .map(r => (r.getString(0), Option(r.getString(1)), r.getLong(2))).toSet
    assert(multi === Set(
      ("lang", None, 1L), ("lang", Some("en"), 2L),
      ("repo", Some("r"), 2L), ("repo", Some("s"), 1L)))
    // agreement with the single-field form
    val perField = s.facets(Term("content", "hello"), "lang").collect()
      .map(r => Option(r.getString(0)) -> r.getLong(1)).toSet
    assert(perField === multi.collect { case ("lang", v, c) => v -> c })
    // one pass: a single shuffle aggregate over the exploded map, no union
    // of per-field evaluations
    val plan = s.facetsMulti(Term("content", "hello"), Seq("lang", "repo"))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Union"), plan.take(800))
  }

  test("groupBy returns whole groups when a top group is smaller than docsPerGroup") {
    // base: en docs {0,1} (hello...), de doc {2}; query 'world' matches 0 (en), 2 (de)
    val s = new Searcher(base)
    val g = s.groupBy("lang", Term("content", "world"), groups = 2, docsPerGroup = 2).collect()
    val byLang = g.groupBy(_.getString(0))
    assert(byLang.keySet === Set("en", "de")) // both groups complete, none truncated
    assert(g.length === 2) // one hit each
  }

  test("multi-index union carries each component's tombstones (offset-rebased)") {
    val other = IndexBuilder.build(corpus(
      ("x", "q0", "c", "fr", "bonjour world"),
      ("x", "q1", "c", "fr", "hello monde")), schema, 2)
    val delBase = new Searcher(base).delete(Term("lang", "en")).index // docs 0,1 gone
    val delOther = new Searcher(other).delete(Term("content", "monde")).index // q1 gone
    val multi = MultiIndex.union(Seq(delBase, delOther))
    val s = new Searcher(multi)
    assert(multi.numLiveDocs === 2) // p2 + q0
    assert(s.count(Term("content", "hello")) === 0) // deleted in BOTH components
    assert(s.count(Term("content", "bonjour")) === 1)
    assert(s.count(Term("content", "world")) === 2) // p2 + q0
  }

  test("integrity check passes on a healthy index and counts postings") {
    val (nBlocks, nPostings) = base.check()
    assert(nBlocks > 0)
    assert(nPostings === base.blocks.collect().map(_.numDocs.toLong).sum)
  }

  test("matchDoc: single-doc ad-hoc scoring (test_engine.py:129-134 shape)") {
    val s = new Searcher(base)
    val doc = Map("content" -> "congress shall make no law respecting congress")
    val scores = s.matchDoc(doc, Seq(
      Term("content", "absent"),
      Term("content", "law"),
      Term("content", "congress")))
    assert(scores(0) === 0.0)
    assert(scores(0) < scores(1) && scores(1) <= scores(2) && scores(2) < 1.0)
  }
}
