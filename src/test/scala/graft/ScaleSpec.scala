package graft

import java.nio.file.Files

import graft.exec.Searcher
import graft.fixtures.CodeCorpus
import graft.index._
import graft.query._

/** Scale-path behaviors: checkpointed resumable build with lineage,
  * partition-count invariance, and parquet filter pushdown on the saved
  * index layout.
  */
class ScaleSpec extends SparkTestBase
    with org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {
  import org.apache.spark.sql.functions._

  lazy val corpus = CodeCorpus.generate(spark, 200, 4).cache()
  lazy val schema = IndexSchema(
    keyColumns = Seq("repo", "path", "commit"),
    fields = Map("content" -> TextField("code", positions = true), "lang" -> KeywordField))

  private def topk(s: Searcher, q: Query, k: Int = 20): Seq[(Long, Double)] =
    s.search(q, k).collect().map(r => (r.getLong(0), BigDecimal(r.getDouble(1))
      .setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble)).toSeq

  val refQueries: Seq[Query] = Seq(
    Term("content", "def"),
    Term("content", "the"),
    Query.all(Term("content", "parse"), Term("content", "merge")),
    Query.any(Term("content", "index"), Term("content", "scan")),
    Query.phrase("content", "we", "the", "people"),
    Prefix("content", "tok"))

  test("checkpointed build: commits segments with lineage metrics, matches in-memory build") {
    val dir = Files.createTempDirectory("graft-ckpt").toString
    val idx = CheckpointedBuild.build(corpus, schema, dir, segments = 4, numPartitions = 4)
    val mem = IndexBuilder.build(corpus, schema, numPartitions = 4)
    val (sCk, sMem) = (new Searcher(idx), new Searcher(mem))
    refQueries.foreach { q => assert(topk(sCk, q) === topk(sMem, q), s"query $q") }

    val rows = Segments.lineage(spark, dir).rows
    assert(rows.length === 4)
    assert(rows.forall(_.status == "committed"))
    assert(rows.map(_.docsIndexed).sum === 200L)
    assert(rows.forall(_.postingsWritten > 0L))
    assert(rows.forall(_.bytesCompressed > 0L))
  }

  test("resume: a lost segment is rebuilt, committed segments are skipped") {
    val dir = Files.createTempDirectory("graft-resume").toString
    CheckpointedBuild.build(corpus, schema, dir, segments = 4, numPartitions = 4)
    val before = spark.read.parquet(s"$dir/postings").count()
    // simulate a failed/lost segment: remove its directory
    val seg2 = new java.io.File(s"$dir/postings/segment=2")
    assert(seg2.exists)
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles.foreach(rm)
      f.delete()
    }
    rm(seg2)
    val idx2 = CheckpointedBuild.build(corpus, schema, dir, segments = 4, numPartitions = 4)
    assert(spark.read.parquet(s"$dir/postings").count() === before)
    // lineage shows the re-commit (original 4 + 1 rebuild)
    assert(Segments.lineage(spark, dir).rows.length === 5)
    // and the resumed index answers identically to a fresh one
    val sMem = new Searcher(IndexBuilder.build(corpus, schema, numPartitions = 4))
    val s2 = new Searcher(idx2)
    refQueries.foreach { q => assert(topk(s2, q) === topk(sMem, q), s"query $q") }
  }

  test("commit rule: a segment written but never published is rebuilt on resume") {
    val dir = Files.createTempDirectory("graft-unpublished").toString
    CheckpointedBuild.build(corpus, schema, dir, segments = 4, numPartitions = 4)
    // the state a crash between a slice's write and its publish leaves:
    // postings/segment=3 on disk, no lineage row naming it
    val kept = Segments.lineage(spark, dir).rows.filter(_.segmentId != 3)
    val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(s"$dir/segments"), true)
    Segments.publish(spark, dir, kept)
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$dir/postings/segment=3")))
    assert(Segments.lineage(spark, dir).rows.map(_.docsIndexed).sum === 150L)

    val idx = CheckpointedBuild.build(corpus, schema, dir, segments = 4, numPartitions = 4)
    val lineage = Segments.lineage(spark, dir)
    assert(lineage.rows.map(_.docsIndexed).sum === 200L)
    assert(lineage.liveIds === Seq(0L, 1L, 2L, 3L))
    val sMem = new Searcher(IndexBuilder.build(corpus, schema, numPartitions = 4))
    refQueries.foreach { q => assert(topk(new Searcher(idx), q) === topk(sMem, q), s"query $q") }
  }

  test("one format: an Indexer opens a checkpointed directory and commits onto it") {
    val dir = Files.createTempDirectory("graft-ckpt-indexer").toString
    val idx = CheckpointedBuild.build(corpus, schema, dir, segments = 4, numPartitions = 4)
    val sCk = new Searcher(idx)
    val reader = new Indexer(spark, dir, schema, corpus.schema, readOnly = true)
    refQueries.foreach { q => assert(topk(reader.searcher, q) === topk(sCk, q), s"query $q") }

    val w = new Indexer(spark, dir, schema, corpus.schema)
    try {
      w.add("repo" -> "org0/new", "path" -> "src/New.scala", "commit" -> "c1",
        "lang" -> "scala", "content" -> "zebra crossing def")
      w.commit()
      assert(w.segments.size === 5)
      assert(w.searcher.index.numDocs === 201L)
      // the appended segment starts at the next salt bucket past the slices
      assert(w.search(Term("content", "zebra")).collect().map(_.getLong(0)).toSeq ===
        Seq(1L << IndexBuilder.SaltShift))
      assert(w.count(Term("content", "def")) === sCk.count(Term("content", "def")) + 1L)
    } finally w.close()
    reader.refresh()
    assert(reader.count(Term("content", "zebra")) === 1L)
  }

  test("checkpointed build of an empty corpus is an empty index") {
    val dir = Files.createTempDirectory("graft-ckpt-empty").toString
    val idx = CheckpointedBuild.build(corpus.limit(0), schema, dir, segments = 4, numPartitions = 4)
    assert(idx.numDocs === 0L)
    assert(new Searcher(idx).count(Term("content", "def")) === 0L)
  }

  test("salt-invariance: different salt shifts give identical postings semantics") {
    // FIXTURES.md §1 property: the salted build must be a pure parallelism
    // knob — decoded postings (and thus all query results) are independent
    // of the salt granularity.
    val docs = IndexBuilder.prepareDocs(corpus, schema, 4)
    def decodedPostings(shift: Int): Seq[(String, String, Long, Int)] =
      IndexBuilder.blocksOf(IndexBuilder.tokensOf(docs, schema), schema, 4, saltShift = shift)
        .collect()
        .flatMap(b => PostingCodec.decodeBlock(b, withPositions = false)
          .map(p => (b.field, b.term, p.docId, p.tf)))
        .sortBy(x => (x._1, x._2, x._3)).toSeq
    val a = decodedPostings(3) // 8-doc buckets: hot terms split across many blocks
    val b = decodedPostings(13)
    assert(a === b)
  }

  test("partition-count invariance: results identical at 2 vs 8 partitions") {
    val a = new Searcher(IndexBuilder.build(corpus, schema, numPartitions = 2))
    val b = new Searcher(IndexBuilder.build(corpus, schema, numPartitions = 8))
    refQueries.foreach { q => assert(topk(a, q) === topk(b, q), s"query $q") }
    assert(a.index.fieldStats === b.index.fieldStats)
  }

  test("saved layout: term filters push down to the parquet scan") {
    val dir = Files.createTempDirectory("graft-save").toString
    IndexBuilder.build(corpus, schema, numPartitions = 4).save(dir)
    val loaded = IndexBuilder.load(spark, dir)
    val s = new Searcher(loaded)
    // same results after save/load
    val mem = new Searcher(IndexBuilder.build(corpus, schema, numPartitions = 4))
    refQueries.foreach { q => assert(topk(s, q) === topk(mem, q), s"query $q") }
    // physical plan: EqualTo on field+term reaches PushedFilters
    val plan = loaded.blocks
      .filter(col("field") === "content" && col("term") === "def")
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters"), plan.take(2000))
    assert(plan.contains("EqualTo(term,def)"), plan.take(2000))
    // sha256 invariant present on the saved doc store
    val bad = loaded.docs
      .filter(sha2(col("content"), 256) =!= col("__sha256_content")).count()
    assert(bad === 0L)
  }

  test("saved layout: a one-term postings scan reads only its term's row groups") {
    // postings are range-laid-out by (field, term, firstDocId), so one
    // term's filter skips the other files' row groups by their min/max
    // stats: the scan's numOutputRows (the rows perfbench's scanWork counts)
    // stay below the table's. Measured: 900 of 1,772 rows for "parse" and
    // "def", 0 for a term no file's range holds
    val dir = Files.createTempDirectory("graft-prune").toString
    IndexBuilder.build(corpus, schema, numPartitions = 4).save(dir)
    val files = new java.io.File(s"$dir/postings").listFiles.count(_.getName.endsWith(".parquet"))
    assert(files >= 4, s"$files postings files")
    val total = spark.read.parquet(s"$dir/postings").count()
    val s = new Searcher(IndexBuilder.load(spark, dir))
    assert(total === 1772L)
    for ((t, bound) <- Seq("parse" -> 900L, "def" -> 900L, "zebra" -> 0L)) {
      val scan = s.postings("content", t)
      scan.collect()
      val rows = collect(scan.queryExecution.executedPlan) {
        case f: org.apache.spark.sql.execution.FileSourceScanExec => f.metrics("numOutputRows").value
      }
      assert(rows.length === 1 && rows.head <= bound, s"$t: $rows of $total")
    }
  }

  test("positional/conjunctive pruning: rarest-term store partitions only, no semi-join") {
    val s = new Searcher(IndexBuilder.build(corpus, schema, numPartitions = 4))
    def planOf(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.execution.SparkPlan = {
      df.collect()
      df.queryExecution.executedPlan
    }
    def postingsScans(p: org.apache.spark.sql.execution.SparkPlan) = p.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }.filter(_.requiredSchema.fieldNames.contains("docsBlob"))
    // phrase and pure term conjunction read the block store (all 200 docs lie
    // in salt bucket 0: one store partition), with no postings scan and no
    // semi-join, and never as a hash aggregate of unioned full postings
    Seq(planOf(s.search(Query.phrase("content", "we", "the", "people"), 10)),
        planOf(s.search(Query.all(Term("content", "parse"), Term("content", "merge")), 10))).foreach { p =>
      assert(!p.toString.contains("LeftSemi"), p.toString.take(1500))
      assert(!p.toString.contains("HashAggregate"), p.toString.take(1500))
      assert(postingsScans(p).isEmpty, p.toString.take(1500))
      assert(StoreLineage.launched(s.index, p) === Seq((1, 1)), p.toString.take(1500))
    }
    // saved: 8,200 docs (salts 0 and 1) and an appended segment at salt 2
    // that alone holds "rare": three salts, so three store partitions of one
    // salt each. A query led by "rare" launches the salt-2 partition only;
    // one led by "beta" (in both segments) launches all three.
    import spark.implicits._
    val wideSchema = IndexSchema(Seq("repo", "path", "commit"),
      Map("content" -> TextField("standard", positions = true)))
    def rows(n: Int, text: Int => String, commit: String) =
      (0 until n).map(i => ("r", f"p$i%05d", commit, text(i))).toDF("repo", "path", "commit", "content")
    val grown = IndexBuilder.build(rows(8200, i => if (i % 2 == 0) "alpha beta" else "alpha gamma", "a"),
      wideSchema, numPartitions = 4).append(rows(20, i => if (i % 2 == 0) "rare alpha beta" else "alpha rare", "b"))
    val dir = Files.createTempDirectory("graft-buckets").toString
    grown.save(dir)
    val saved = new Searcher(IndexBuilder.load(spark, dir))
    def savedLaunch(q: Query, hits: Int): Seq[(Int, Int)] = {
      val df = saved.search(q, 100)
      assert(df.collect().length === hits, q)
      val p = df.queryExecution.executedPlan
      assert(postingsScans(p).isEmpty, p.toString.take(1500))
      StoreLineage.launched(saved.index, p)
    }
    assert(savedLaunch(Query.all(Term("content", "rare"), Term("content", "alpha")), 20) === Seq((1, 3)))
    assert(savedLaunch(Query.phrase("content", "rare", "alpha"), 10) === Seq((1, 3)))
    assert(savedLaunch(Query.all(Term("content", "beta"), Term("content", "alpha")), 100) === Seq((3, 3)))
    // groupBy ranks groups without an unpartitioned window
    val gPlan = planOf(s.groupBy("lang", Term("content", "def"), groups = 2)).toString
    assert(!gPlan.contains("Window [dense_rank"), gPlan.take(1500))
  }

  test("wide rarest term (>256 block ranges): contiguous store partitions, no semi-join") {
    import spark.implicits._
    // one doc per salt bucket (docId = i << SaltShift, the gaps Index.append
    // leaves): each term gets one block per doc and no two block ranges
    // touch, so "rare" (300 docs) lies in 300 salt buckets
    val src = (0 until 600).map { i =>
      val text =
        if (i % 6 == 0) (if (i % 4 == 0) "rare alpha" else "alpha rare")
        else if (i % 4 == 0) "rare wide alpha"
        else if (i % 2 == 0) "wide alpha rare"
        else "wide alpha"
      ("r", f"p$i%04d", "c", text)
    }.toDF("repo", "path", "commit", "content")
    val wideSchema = IndexSchema(Seq("repo", "path", "commit"),
      Map("content" -> TextField("standard", positions = true)))
    val docs = IndexBuilder.prepareDocs(src, wideSchema, 4)
      .withColumn("docId", col("docId") * (1L << IndexBuilder.SaltShift)).cache()
    val blocks = IndexBuilder.blocksOf(IndexBuilder.tokensOf(docs, wideSchema), wideSchema, 4).cache()
    val idx = new Index(spark, wideSchema, docs, blocks, IndexBuilder.termDictOf(blocks),
      IndexBuilder.fieldStatsOf(blocks))
    val rareBuckets = idx.termTable.get("content", "rare").get.buckets
    assert(rareBuckets.length === 300)
    // ... exactly the distinct salts of the rare term's blocks
    assert(rareBuckets === blocks.filter(col("term") === "rare").select("firstDocId").as[Long]
      .collect().map(_ >>> IndexBuilder.SaltShift).distinct.sorted.toSeq)
    // 600 salts into min(600, shuffle partitions = 4) store partitions of
    // 150 contiguous salts each, not one partition per salt
    assert(idx.blockStore.partitioner.upper === Vector(149L, 299L, 449L, Long.MaxValue))
    // driver-side truth from the stored text
    val texts = docs.select("docId", "content").as[(Long, String)].collect()
    def truth(p: String => Boolean): Set[Long] = texts.collect { case (d, t) if p(t) => d }.toSet
    val s = new Searcher(idx)
    def hits(q: Query): (Set[Long], org.apache.spark.sql.execution.SparkPlan) = {
      val df = s.search(q, 1000)
      val ids = df.collect().map(_.getLong(0))
      assert(ids.distinct.length === ids.length, s"duplicate docIds for $q")
      (ids.toSet, df.queryExecution.executedPlan)
    }
    val (andIds, andPlan) = hits(Query.all(Term("content", "rare"), Term("content", "wide")))
    assert(andIds === truth(t => t.contains("rare") && t.contains("wide")))
    val (phraseIds, phrasePlan) = hits(Query.phrase("content", "rare", "wide"))
    assert(phraseIds === truth(_.contains("rare wide")))
    assert(andIds.size === 200 && phraseIds.size === 100)
    // "rare" lies in every store partition: all four launch, no semi-join
    Seq(andPlan, phrasePlan).foreach { p =>
      assert(StoreLineage.launched(idx, p) === Seq((4, 4)), p.toString.take(1500))
      assert(!p.toString.contains("LeftSemi"), p.toString.take(1500))
    }
    blocks.unpersist()
    docs.unpersist()
  }

  test("fuzzy terms equal a driver-side Damerau filter, before and after save/load") {
    val s = new Searcher(IndexBuilder.build(corpus, schema, numPartitions = 4))
    val dict = s.index.termDict
      .filter(col("field") === "content" && col("term") =!= "")
      .select("term").collect().map(_.getString(0))
    for (q <- Seq("scanhash", "mergebatch", "tokeniz"); k <- Seq(1, 2)) {
      // dictionary-scan expansion == the raw Damerau filter's expansion
      val got = s.terms("content", q, distance = k).collect().map(_.getString(0)).toSeq
      val raw = dict.filter(t => graft.util.EditDistance.damerau(t, q) <= k).sorted.toSeq
      assert(got === raw, s"q=$q k=$k")
    }
    // a saved-then-loaded index expands identically
    val dir = Files.createTempDirectory("graft-fuzzy").toString
    s.index.save(dir)
    val loaded = new Searcher(IndexBuilder.load(spark, dir))
    assert(loaded.terms("content", "mergebatch", distance = 1).collect().map(_.getString(0)).toSeq ===
      s.terms("content", "mergebatch", distance = 1).collect().map(_.getString(0)).toSeq)
  }

  test("hot-term spanOr: streaming k-way merge ≡ union of per-term positions") {
    // pure span disjunction over the corpus's hottest terms — the branch that
    // previously accumulated every decoded posting of every key in a LongMap
    // and now streams one block per key at a time
    val s = new Searcher(IndexBuilder.build(CodeCorpus.generate(spark, 1000, 8), schema, 8))
    val terms = Seq("def", "the", "class", "return")
    val sq = terms.map(t => Query.span("content", t): SpanQ).reduce(_ | _)
    val got = s.spans(sq).collect().map { r =>
      r.getLong(0) ->
        r.getSeq[org.apache.spark.sql.Row](1).map(x => (x.getInt(0), x.getInt(1))).toSeq
    }.toMap
    val exp = scala.collection.mutable.Map.empty[Long, Seq[(Int, Int)]]
    terms.foreach { t =>
      s.positions("content", t).collect().foreach { r =>
        val d = r.getLong(0)
        exp(d) = exp.getOrElse(d, Seq.empty) ++ r.getSeq[Int](1).map(p => (p, p + 1))
      }
    }
    val oracle = exp.map { case (d, ps) => d -> ps.distinct.sorted.toSeq }.toMap
    assert(got.keySet === oracle.keySet)
    oracle.foreach { case (d, ps) => assert(got(d) === ps, s"doc $d") }
  }

  test("hot-term skew: 'the'/'def' posting blocks stay block-aligned and decodable") {
    val idx = IndexBuilder.build(corpus, schema, numPartitions = 8)
    val hot = idx.blocks.filter(col("term") === "def").collect()
    assert(hot.map(_.numDocs).sum > 100) // hot term present in most docs
    assert(hot.forall(_.numDocs <= PostingCodec.BlockSize))
    // blocks are disjoint, ascending docId ranges
    val ranges = hot.map(b => (b.firstDocId, b.lastDocId)).sortBy(_._1)
    ranges.sliding(2).foreach {
      case Array((_, e1), (s2, _)) => assert(e1 < s2)
      case _ =>
    }
  }
}
