package graft

import graft.exec.Searcher
import graft.fixtures.CodeCorpus
import graft.index._
import graft.query.{Query => Q, _}

/** Index lifecycle: tombstone deletes, segment append (add/update),
  * multi-index union with docId rebasing, integrity check.
  */
class LifecycleSpec extends SparkTestBase
    with org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {
  import org.apache.spark.sql.functions._
  import org.apache.spark.sql.execution.exchange.Exchange

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

  test("save waits for every table write before rethrowing a failure") {
    val dir = java.nio.file.Files.createTempDirectory("graft-save-fail").toString
    // the docs write fails at once; the termdict write is still sleeping
    // in its UDF when that failure surfaces
    val failDocs = udf((d: Long) => {
      if (d >= 0) throw new IllegalStateException("docs write fails"); d
    })
    val slowTerms = udf((t: String) => { if (t == "hello") Thread.sleep(3000); t })
    val broken = new Index(spark, schema, base.docs.withColumn("docId", failDocs(col("docId"))),
      base.blocks, base.termDict.withColumn("term", slowTerms(col("term"))), base.fieldStats)
    intercept[Exception](broken.save(dir))
    // job-end events reach the status tracker through the async listener
    // bus, hence the short grace, well under the termdict write's sleep
    import org.scalatest.concurrent.Eventually._
    import org.scalatest.time.{Millis, Span}
    eventually(timeout(Span(500, Millis)), interval(Span(20, Millis))) {
      assert(spark.sparkContext.statusTracker.getActiveJobIds().isEmpty,
        "a table write outlived the failed save()")
    }
    assert(!new java.io.File(s"$dir/manifest").exists)
  }

  test("tombstones survive save/load; empty index append/union/query work") {
    val dir = java.nio.file.Files.createTempDirectory("graft-del-save").toString
    new Searcher(base).delete(Term("lang", "en")).index.save(dir)
    val reloaded = new Searcher(IndexBuilder.load(spark, dir))
    assert(reloaded.count(Term("content", "hello")) === 0) // deletes persisted
    assert(reloaded.index.numLiveDocs === 1)
    // WAND reads the block store and zips the view's tombstones with it: no
    // exchange
    val wand = reloaded.search(Q.any(Term("content", "hello"), Term("content", "world")), 10)
    assert(wand.collect().map(_.getLong(0)).toSeq === Seq(2L))
    assert(exchanges(wand).isEmpty, wand.queryExecution.executedPlan.toString)
    // re-saving a delete-free index over the same directory drops the old
    // tombstones instead of resurrecting them on load
    base.save(dir)
    assert(new Searcher(IndexBuilder.load(spark, dir)).count(Term("content", "hello")) === 2)

    // empty-index edges: append to empty, union with empty, query empty
    val empty = IndexBuilder.build(corpus().limit(0), schema, 2)
    assert(new Searcher(empty).count(Term("content", "hello")) === 0)
    // an empty index with an empty tombstone set saves and loads
    val emptyDir = java.nio.file.Files.createTempDirectory("graft-empty-save").toString
    new Searcher(empty).delete(Term("content", "hello")).index.save(emptyDir)
    val reEmpty = IndexBuilder.load(spark, emptyDir)
    assert(reEmpty.blocks.count() === 0 && reEmpty.deletes.map(_.count()) === Some(0L))
    assert(new Searcher(reEmpty).count(Term("content", "hello")) === 0)
    val grown = empty.append(corpus(("r", "p9", "c", "en", "hello void")))
    assert(new Searcher(grown).count(Term("content", "void")) === 1)
    val u = MultiIndex.union(Seq(empty, base))
    assert(new Searcher(u).docFreq("content", "hello") === 2)
  }

  private def exchanges(df: org.apache.spark.sql.DataFrame): Seq[Exchange] = {
    df.collect() // so AQE's final plan is inspected
    collect(df.queryExecution.executedPlan) { case e: Exchange => e }
  }

  private val codeSchema = IndexSchema(Seq("repo", "path", "commit"),
    Map("content" -> TextField("code", positions = true), "lang" -> KeywordField))

  private lazy val codeIndex = IndexBuilder.build(CodeCorpus.generate(spark, 3000, 4), codeSchema, 4)

  private lazy val probes: Seq[Q] = {
    def t(x: String) = Term("content", x)
    Seq(t("parse"), Q.any(t("parse"), t("merge")), Q.all(t("def"), t("parse")),
      Bool(Seq(Occur.Must -> t("def"), Occur.Must -> t("parse"), Occur.MustNot -> t("merge"))),
      Q.phrase("content", "we", "the", "people"))
  }

  private def top10(s: Searcher, q: Q): Seq[(Long, Long)] =
    s.search(q, 10).collect().map(r => (r.getLong(0), math.round(r.getDouble(1) * 1e9))).toSeq

  /** The exhaustive `eval` ordering: every match scored, then sorted. */
  private def evalTop10(s: Searcher, q: Q): Seq[(Long, Long)] =
    s.eval(q).orderBy(col("score").desc, col("docId").asc).limit(10).collect()
      .map(r => (r.getLong(0), math.round(r.getDouble(1) * 1e9))).toSeq

  /** Files of `dir`'s tree whose names carry a bucket id (`..._00001.c000...`),
    * the mark of a bucketed write.
    */
  private def bucketFiles(dir: String): Seq[String] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles.toSeq.flatMap(walk) else Seq(f)
    walk(new java.io.File(dir)).map(_.getName).filter(_.matches(".*_\\d{5}\\.c\\d{3}\\..*"))
  }

  /** The salt-bucketed layout earlier saves wrote: `postings/` and
    * `deletes/` bucketed on a stored `salt = id >>> SaltShift` column into
    * `buckets` files, and a manifest with a `buckets` line. Written with
    * Spark's own bucketed writer through a catalog table that is dropped
    * again (its files stay, as the table is external).
    */
  private def saveBucketed(idx: Index, dir: String, buckets: Int): Unit = {
    def bucketed(df: org.apache.spark.sql.DataFrame, id: String, table: String,
        sortBy: Seq[String]): Unit = {
      val t = s"graft_bucketed_${table}_${System.nanoTime}"
      df.withColumn("salt", shiftrightunsigned(col(id), IndexBuilder.SaltShift))
        .write.bucketBy(buckets, "salt").sortBy(sortBy.head, sortBy.tail: _*)
        .option("path", s"$dir/$table").saveAsTable(t)
      spark.sql(s"DROP TABLE $t")
    }
    bucketed(idx.blocks.toDF(), "firstDocId", "postings", Seq("field", "term", "firstDocId"))
    idx.deletes.foreach(bucketed(_, "docId", "deletes", Seq("docId")))
    idx.docs.write.parquet(s"$dir/docs")
    idx.termDict.write.parquet(s"$dir/termdict")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$dir/manifest"),
      IndexManifest(idx.schema, idx.fieldStats).serialize + s"buckets\t$buckets\n")
  }

  private def tempDir(name: String): String =
    java.nio.file.Files.createTempDirectory(name).toString

  /** The layout a save leaves: plain parquet, no stored salt column in any
    * footer, no bucket file, no `buckets` manifest line.
    */
  private def assertPlainLayout(dir: String): Unit = {
    assert(bucketFiles(dir).isEmpty, dir)
    for (t <- Seq("postings", "deletes") if new java.io.File(s"$dir/$t").exists)
      assert(!spark.read.option("mergeSchema", "true").parquet(s"$dir/$t").columns.contains("salt"),
        s"$dir/$t")
    assert(!new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(s"$dir/manifest")),
      "UTF-8").contains("buckets"), dir)
  }

  test("every saved layout loads alike: salt-bucketed, pre-bucketing and fresh") {
    val bucketedDir = tempDir("graft-bucketed-layout")
    val plainDir = tempDir("graft-plain-layout")
    val freshDir = tempDir("graft-fresh-layout")
    saveBucketed(codeIndex, bucketedDir, 2)
    // the fixture is the bucketed layout: bucket files, a stored salt column
    assert(bucketFiles(s"$bucketedDir/postings").nonEmpty)
    assert(spark.read.parquet(s"$bucketedDir/postings").columns.contains("salt"))
    // the layout before bucketing: plain parquet, a manifest with no bucket line
    codeIndex.blocks.write.parquet(s"$plainDir/postings")
    codeIndex.docs.write.parquet(s"$plainDir/docs")
    codeIndex.termDict.write.parquet(s"$plainDir/termdict")
    IndexManifest.write(spark, s"$plainDir/manifest", IndexManifest(codeSchema, codeIndex.fieldStats))
    codeIndex.save(freshDir)
    assertPlainLayout(freshDir)
    val loaded = Seq(bucketedDir, plainDir, freshDir).map(d => d -> IndexBuilder.load(spark, d))
    loaded.foreach { case (d, idx) => assert(!idx.blocks.columns.contains("salt"), d) }
    val want = probes.map(q => top10(new Searcher(codeIndex), q))
    for ((d, idx) <- loaded; (q, w) <- probes.zip(want)) {
      val s = new Searcher(idx)
      assert(w.nonEmpty, q.toString)
      assert(top10(s, q) === w, s"$d: $q")
      assert(evalTop10(s, q) === w, s"$d: $q")
      // every layout serves the query from the index's block store: no exchange
      assert(exchanges(s.search(q, 10)).length === 0, s"$d: $q")
    }
    // a bucketed write of no rows left a directory with no file to read a
    // schema from: an empty index with an empty tombstone set still loads
    val emptyDir = tempDir("graft-bucketed-empty")
    val empty = IndexBuilder.build(CodeCorpus.generate(spark, 10, 1).limit(0), codeSchema, 2)
    saveBucketed(new Searcher(empty).delete(Term("content", "parse")).index, emptyDir, 1)
    assert(new java.io.File(s"$emptyDir/deletes").listFiles.forall(!_.getName.endsWith(".parquet")))
    val reEmpty = IndexBuilder.load(spark, emptyDir)
    assert(reEmpty.blocks.count() === 0 && reEmpty.deletes.map(_.count()) === Some(0L))
    assert(new Searcher(reEmpty).count(Term("content", "parse")) === 0)
  }

  test("re-saving over or from a salt-bucketed directory leaves the plain layout") {
    import spark.implicits._
    val withDels = codeIndex.withDeletes(Seq(0L, 1L, 2L).toDF("docId"))
    // an index loaded from a bucketed directory, saved to a fresh one
    val oldDir = tempDir("graft-resave-from")
    saveBucketed(withDels, oldDir, 2)
    val fromOld = IndexBuilder.load(spark, oldDir)
    val newDir = tempDir("graft-resave-to")
    fromOld.save(newDir)
    assertPlainLayout(newDir)
    val reloaded = new Searcher(IndexBuilder.load(spark, newDir))
    assert(reloaded.index.numLiveDocs === 2997)
    // a fresh, delete-free index saved over a bucketed directory: the old
    // bucket files and tombstones go
    val overDir = tempDir("graft-resave-over")
    saveBucketed(withDels, overDir, 2)
    codeIndex.save(overDir)
    assertPlainLayout(overDir)
    assert(!new java.io.File(s"$overDir/deletes").exists)
    val over = new Searcher(IndexBuilder.load(spark, overDir))
    assert(over.index.numLiveDocs === 3000)
    for (q <- probes) {
      val want = top10(new Searcher(withDels), q)
      assert(want.nonEmpty, q.toString)
      assert(top10(new Searcher(fromOld), q) === want, s"loaded: $q")
      assert(top10(reloaded, q) === want, s"re-saved: $q")
      assert(top10(over, q) === top10(new Searcher(codeIndex), q), s"saved over: $q")
    }
  }

  test("manifest: an old buckets line is ignored, none is written, unknown lines throw") {
    val m = IndexManifest(codeSchema, codeIndex.fieldStats)
    val text = m.serialize
    assert(!text.contains("buckets"))
    assert(IndexManifest.parse(text) === m)
    val withBuckets = IndexManifest.parse(text + "buckets\t4\n")
    assert(withBuckets.schema === m.schema && withBuckets.fieldStats === m.fieldStats)
    assert(withBuckets.serialize === text)
    intercept[IllegalArgumentException](IndexManifest.parse(text + "shards\t4\n"))
  }

  test("append onto a loaded bucketed index, and its withDeletes view, match eval ordering") {
    import spark.implicits._
    // saved salt-bucketed with tombstones, so the loaded delete table is
    // bucketed too, and saved fresh
    val bucketedDir = tempDir("graft-append-bucketed")
    val freshDir = tempDir("graft-append-fresh")
    val withDels = codeIndex.withDeletes(Seq(0L, 1L, 2L).toDF("docId"))
    saveBucketed(withDels, bucketedDir, 2)
    withDels.save(freshDir)
    for (dir <- Seq(bucketedDir, freshDir)) {
      val loaded = IndexBuilder.load(spark, dir)
      val appended = loaded.append(CodeCorpus.generate(spark, 300, 2)
        .withColumn("repo", concat(lit("zz/"), col("repo"))))
      val sApp = new Searcher(appended)
      assert(appended.numLiveDocs === 3297, dir)
      assert(sApp.search(Term("content", "parse"), 0).collect()
        .exists(_.getLong(0) >= (1L << IndexBuilder.SaltShift)), s"appended segment unreachable: $dir")
      val dead = new Searcher(loaded).search(probes(1), 5).collect().map(_.getLong(0)).toSeq ++
        (0L until 3000L by 11L)
      val sDel = new Searcher(loaded.withDeletes(dead.toDF("docId")))
      for (q <- probes) {
        val got = top10(sApp, q)
        assert(got.nonEmpty && got === evalTop10(sApp, q), s"append: $dir: $q")
        assert(got.map(_._1).toSet.intersect(Set(0L, 1L, 2L)).isEmpty, s"tombstoned doc surfaced: $q")
        val gotDel = top10(sDel, q)
        assert(gotDel === evalTop10(sDel, q), s"withDeletes: $dir: $q")
        assert(gotDel.map(_._1).toSet.intersect(dead.toSet).isEmpty, s"tombstoned doc surfaced: $q")
      }
    }
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
