package graft

import java.nio.file.Files

import org.apache.spark.sql.types._

import graft.index._
import graft.query.{Query => Q, _}

/** The reference-style writer UX: add → commit → search, delete/update,
  * durable across reopen (test_engine.py:56-128 shape).
  */
class IndexerFacadeSpec extends SparkTestBase {

  val srcSchema = StructType(Seq(
    StructField("repo", StringType), StructField("path", StringType),
    StructField("commit", StringType), StructField("lang", StringType),
    StructField("content", StringType),
    StructField("note", StringType))) // pure docvalue: not indexed, not a key

  val idxSchema = IndexSchema(
    keyColumns = Seq("repo", "path", "commit"),
    fields = Map("content" -> TextField("standard", positions = true), "lang" -> KeywordField))

  test("add/commit/search/delete/update lifecycle, durable across reopen") {
    val dir = Files.createTempDirectory("graft-indexer").toString
    val w = new Indexer(spark, dir, idxSchema, srcSchema)
    w.add("repo" -> "r", "path" -> "p0", "commit" -> "c", "lang" -> "en",
      "content" -> "hello world")
    w.add("repo" -> "r", "path" -> "p1", "commit" -> "c", "lang" -> "en",
      "content" -> "hello spark")
    w.commit()
    assert(w.version === 1L)
    assert(w.count(Term("content", "hello")) === 2L)

    // second commit: new segment, ids continue
    w.add("repo" -> "r", "path" -> "p2", "commit" -> "c", "lang" -> "de",
      "content" -> "goodbye world")
    w.commit()
    assert(w.count(Term("content", "world")) === 2L)
    // each commit is a bucket-aligned segment (WAND-safe docId offsets)
    assert(w.search(Term("content", "goodbye")).collect().map(_.getLong(0)).toSeq ===
      Seq(1L << IndexBuilder.SaltShift))

    // update = delete + re-add
    w.update(Term("content", "spark"),
      "repo" -> "r", "path" -> "p1", "commit" -> "c2", "lang" -> "en",
      "content" -> "updated flink text")
    w.commit()
    assert(w.count(Term("content", "spark")) === 0L)
    assert(w.count(Term("content", "flink")) === 1L)
    assert(w.count(Term("content", "hello")) === 1L) // p0 only

    // durable: a fresh handle sees the same state
    val r = new Indexer(spark, dir, idxSchema, srcSchema, readOnly = true)
    assert(r.version === 3L)
    assert(r.count(Term("content", "hello")) === 1L)
    assert(r.count(Term("content", "flink")) === 1L)
    assert(r.searcher.index.numLiveDocs === 3L)
  }

  /** Every file under dir/postings with its length (byte-identity witness). */
  private def postingFiles(dir: String): Map[String, Long] = {
    val root = java.nio.file.Paths.get(dir, "postings")
    val out = Map.newBuilder[String, Long]
    java.nio.file.Files.walk(root).forEach { p =>
      if (java.nio.file.Files.isRegularFile(p))
        out += root.relativize(p).toString -> java.nio.file.Files.size(p)
    }
    out.result()
  }

  test("docvalues-only update: columns change, posting blocks byte-identical (indexers.py:563-576)") {
    val dir = Files.createTempDirectory("graft-dvup").toString
    val w = new Indexer(spark, dir, idxSchema, srcSchema)
    w.add("repo" -> "r", "path" -> "p0", "commit" -> "c", "lang" -> "en", "content" -> "alpha beta")
    w.add("repo" -> "r", "path" -> "p1", "commit" -> "c", "lang" -> "de", "content" -> "alpha gamma")
    w.commit()
    val before = postingFiles(dir)
    val segsBefore = Segments.lineage(spark, dir).rows.length

    // 'lang' rides in the doc store but is INDEXED → must be rejected
    intercept[IllegalArgumentException] {
      w.updateDocValues(Term("content", "beta"), "lang" -> "fr")
    }
    // key columns define docId identity → must be rejected too
    intercept[IllegalArgumentException] {
      w.updateDocValues(Term("content", "beta"), "commit" -> "c999")
    }
    // 'note' is a pure docvalue column → fast path
    w.updateDocValues(Term("content", "beta"), "note" -> "n999")
    assert(postingFiles(dir) === before) // no reindex, byte-identical postings
    assert(Segments.lineage(spark, dir).rows.length === segsBefore) // no new segment
    val vals = w.searcher.index.docs.orderBy("docId").select("note").collect().map(_.getString(0))
    assert(vals.toSeq === Seq("n999", null)) // p0 matched 'beta'
    // sort over the updated docvalue sees the new value
    val top = w.searcher.search(Term("content", "alpha"), 1,
      sorts = Seq(graft.exec.SortSpec("note", descending = true))).collect()(0)
    assert(top.getLong(0) === 0L)
    // later generations win
    w.updateDocValues(Term("content", "beta"), "note" -> "n42")
    assert(w.searcher.index.docs.filter(org.apache.spark.sql.functions.col("docId") === 0L)
      .select("note").collect()(0).getString(0) === "n42")
    // a NULL update genuinely clears the value (updateDocValues(field, null))
    w.updateDocValues(Term("content", "beta"), "note" -> null)
    assert(w.searcher.index.docs.filter(org.apache.spark.sql.functions.col("docId") === 0L)
      .select("note").collect()(0).isNullAt(0))
    w.updateDocValues(Term("content", "beta"), "note" -> "n42")
    // durable across a fresh handle
    val r = new Indexer(spark, dir, idxSchema, srcSchema, readOnly = true)
    assert(r.searcher.index.docs.orderBy("docId").select("note")
      .collect().map(_.getString(0)).toSeq === Seq("n42", null))
  }

  test("nrt=true: uncommitted adds/deletes visible after refresh(), never to a directory reader (test_engine.py:600-610)") {
    val dir = Files.createTempDirectory("graft-nrt").toString
    val w = new Indexer(spark, dir, idxSchema, srcSchema, nrt = true)
    w.add("repo" -> "r", "path" -> "p0", "commit" -> "c", "lang" -> "en", "content" -> "alpha beta")
    // point-in-time: an add alone is invisible until reopen (refresh)
    assert(w.count(AllDocs) === 0L && !w.current)
    w.refresh()
    assert(w.count(AllDocs) === 1L && w.current)
    assert(w.count(Term("content", "alpha")) === 1L) // searchable pre-commit
    // a plain directory reader only ever sees commits
    val r = new Indexer(spark, dir, idxSchema, srcSchema, readOnly = true)
    assert(r.count(AllDocs) === 0L && r.current)
    // uncommitted delete: tombstones the committed doc in the NRT view only
    w.add("repo" -> "r", "path" -> "p1", "commit" -> "c", "lang" -> "en", "content" -> "gamma")
    w.commit()
    assert(w.count(AllDocs) === 2L)
    w.delete(Term("content", "gamma"))
    assert(w.count(AllDocs) === 2L) // not yet refreshed
    w.refresh()
    assert(w.count(AllDocs) === 1L && w.current)
    r.refresh()
    assert(r.count(AllDocs) === 2L) // delete still uncommitted on disk
    // commit reconciles both views
    w.commit()
    r.refresh()
    assert(w.count(AllDocs) === 1L && r.count(AllDocs) === 1L)
    // NRT doc + committed docs score under the combined stats (union index)
    w.add("repo" -> "r", "path" -> "p2", "commit" -> "c", "lang" -> "en", "content" -> "alpha gamma")
    w.refresh()
    assert(w.count(Term("content", "alpha")) === 2L)
    assert(w.searcher.docFreq("content", "alpha") === 2L)
  }

  test("docvalues iterator + segments surface (test_engine.py:629-701 shape)") {
    val dir = Files.createTempDirectory("graft-dvsurf").toString
    val w = new Indexer(spark, dir, idxSchema, srcSchema)
    w.add("repo" -> "r", "path" -> "p0", "commit" -> "c", "lang" -> "en",
      "content" -> "zero", "note" -> "low")
    w.commit()
    val segs = w.segments
    assert(segs.values.sum === 1L)
    // docvalue-only update: values change, NO new segment (the reference's
    // `indexer.segments != segments` vs `==` distinction)
    w.updateDocValues(Term("content", "zero"), "note" -> "high")
    assert(w.segments === segs)
    assert(w.searcher.docvalues("note").collect().map(_.getString(1)).toSeq === Seq("high"))
    // a real update (delete + re-add) DOES advance the segments
    w.update(Term("content", "zero"), "repo" -> "r", "path" -> "p0", "commit" -> "c2",
      "lang" -> "en", "content" -> "one", "note" -> "mid")
    w.commit()
    assert(w.segments !== segs)
    // docvalues skip tombstoned docs and follow docId order
    val dv = w.searcher.docvalues("note").collect().map(r => (r.getLong(0), r.getString(1)))
    assert(dv.length === 1 && dv(0)._2 === "mid")
  }

  test("broad-match docvalues update stays distributed; generations fold latest-wins") {
    val dir = Files.createTempDirectory("graft-dvbroad").toString
    val w = new Indexer(spark, dir, idxSchema, srcSchema)
    (0 until 50).foreach(i => w.add("repo" -> "r", "path" -> f"p$i%03d", "commit" -> "c",
      "lang" -> "en", "content" -> (if (i % 2 == 0) "alpha even" else "alpha odd")))
    w.commit()
    // AllDocs-breadth update: the matched-id set never collects to the driver
    w.updateDocValues(AllDocs, "note" -> "bulk")
    assert(w.searcher.index.docs.filter(org.apache.spark.sql.functions.col("note") === "bulk")
      .count() === 50L)
    // a stack of generations folds into ONE aggregate at open, latest wins
    (1 to 5).foreach(i => w.updateDocValues(Term("content", "even"), "note" -> s"g$i"))
    val notes = w.searcher.index.docs.groupBy("note").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(notes === Map("g5" -> 25L, "bulk" -> 25L))
    // NULL-clear still wins over earlier generations after the fold
    w.updateDocValues(Term("content", "odd"), "note" -> null)
    assert(w.searcher.index.docs.filter(org.apache.spark.sql.functions.col("note").isNull)
      .count() === 25L)
  }

  test("unfinished compact (.compact-inflight marker) fails loudly on open") {
    val dir = Files.createTempDirectory("graft-inflight").toString
    val w = new Indexer(spark, dir, idxSchema, srcSchema)
    w.add("repo" -> "r", "path" -> "p0", "commit" -> "c", "lang" -> "en", "content" -> "alpha")
    w.commit()
    java.nio.file.Files.createFile(java.nio.file.Paths.get(dir, ".compact-inflight"))
    val r = new Indexer(spark, dir, idxSchema, srcSchema, readOnly = true)
    val e = intercept[java.io.IOException] { r.searcher }
    assert(e.getMessage.contains("compact"))
    java.nio.file.Files.delete(java.nio.file.Paths.get(dir, ".compact-inflight"))
    assert(r.count(Term("content", "alpha")) === 1L) // recovers once cleared
  }

  test("compact: segments merge to one, tombstones + dv updates baked in (commit(merge=1))") {
    val dir = Files.createTempDirectory("graft-compact").toString
    val w = new Indexer(spark, dir, idxSchema, srcSchema)
    w.add("repo" -> "r", "path" -> "p0", "commit" -> "c", "lang" -> "en", "content" -> "alpha beta")
    w.commit()
    w.add("repo" -> "r", "path" -> "p1", "commit" -> "c", "lang" -> "de", "content" -> "alpha gamma")
    w.add("repo" -> "r", "path" -> "p2", "commit" -> "c", "lang" -> "fr", "content" -> "delta beta")
    w.commit()
    w.delete(Term("content", "gamma"))
    w.commit()
    w.updateDocValues(Term("content", "delta"), "note" -> "n7")
    assert(w.version === 2L) // two segments (middle commit had only a delete)
    assert(w.searcher.index.numLiveDocs === 2L)

    w.compact()
    assert(w.version === 1L) // ONE segment now
    assert(w.searcher.index.numDocs === 2L) // tombstoned doc expunged
    assert(w.searcher.index.deletes.isEmpty)
    assert(w.count(Term("content", "gamma")) === 0L)
    assert(w.count(Term("content", "beta")) === 2L)
    // docFreq now reflects the merged view (pre-merge it counted deletes)
    assert(w.searcher.docFreq("content", "alpha") === 1L)
    // the docvalue update survives, baked into the doc store; sidecar gone
    val notes = w.searcher.index.docs.orderBy("docId").select("path", "note")
      .collect().map(r => r.getString(0) -> r.getString(1))
    assert(notes.toSeq === Seq("p0" -> null, "p2" -> "n7"))
    assert(!new java.io.File(s"$dir/dvupdates").exists)
    assert(!new java.io.File(s"$dir/deletes").exists)
  }

  test("snapshot pin + copy while the writer advances (indexers.py:594-601)") {
    val dir = Files.createTempDirectory("graft-pin").toString
    val w = new Indexer(spark, dir, idxSchema, srcSchema)
    w.add("repo" -> "r", "path" -> "p0", "commit" -> "c", "lang" -> "en", "content" -> "one two")
    w.commit()
    val pin = w.snapshot()
    assert(pin.segmentIds === Seq(0L))

    // writer advances past the pin
    w.add("repo" -> "r", "path" -> "p1", "commit" -> "c", "lang" -> "en", "content" -> "three four")
    w.commit()
    assert(w.searcher.index.numDocs === 2L)

    // the pinned commit copies to a standalone index with only segment 0
    val dst = Files.createTempDirectory("graft-pin-dst").toString
    w.copy(pin, dst)
    val r = new Indexer(spark, dst, idxSchema, srcSchema)
    assert(r.searcher.index.numDocs === 1L)
    assert(r.count(Term("content", "two")) === 1L)
    assert(r.count(Term("content", "three")) === 0L)
    // source unaffected
    assert(w.count(Term("content", "three")) === 1L)
  }

  test("pin survives compact() via the archive; vacuum() releases it (SnapshotDeletionPolicy)") {
    val dir = Files.createTempDirectory("graft-pin3").toString
    val w = new Indexer(spark, dir, idxSchema, srcSchema)
    w.add("repo" -> "r", "path" -> "p0", "commit" -> "c", "lang" -> "en", "content" -> "one two")
    w.add("repo" -> "r", "path" -> "p1", "commit" -> "c", "lang" -> "en", "content" -> "three four")
    w.commit()
    w.delete(Term("content", "three"))
    w.commit()
    val pin = w.snapshot()

    w.compact() // moves the pinned commit into archive/gen=000000
    assert(w.searcher.index.numDocs === 1L)

    // post-compact segment ids restart at 0 — the pin must resolve its OWN
    // segment 0 from the archive, not the shadowing live one
    val dst = Files.createTempDirectory("graft-pin3-dst").toString
    w.copy(pin, dst)
    val r = new Indexer(spark, dst, idxSchema, srcSchema)
    assert(r.searcher.index.numDocs === 2L)   // pre-compact docs
    assert(r.count(Term("content", "three")) === 0L) // with the pinned tombstone
    assert(r.count(Term("content", "one")) === 1L)

    // vacuum drops the archive; the pin is now genuinely unrecoverable — loud
    w.vacuum()
    val dst2 = Files.createTempDirectory("graft-pin3-dst2").toString
    intercept[java.io.IOException] { w.copy(pin, dst2) }
    // a pin taken AFTER the compact copies from the live tree
    val pin2 = w.snapshot()
    val dst3 = Files.createTempDirectory("graft-pin3-dst3").toString
    w.copy(pin2, dst3)
    assert(new Indexer(spark, dst3, idxSchema, srcSchema).searcher.index.numDocs === 1L)
  }

  test("pin carries its tombstones + dv updates; later ones stay out (commit-point semantics)") {
    val dir = Files.createTempDirectory("graft-pin2").toString
    val w = new Indexer(spark, dir, idxSchema, srcSchema)
    w.add("repo" -> "r", "path" -> "p0", "commit" -> "c", "lang" -> "en", "content" -> "one two")
    w.add("repo" -> "r", "path" -> "p1", "commit" -> "c", "lang" -> "en", "content" -> "three four")
    w.commit()
    w.delete(Term("content", "three"))
    w.commit()
    w.updateDocValues(Term("content", "one"), "note" -> "nPinned")
    val pin = w.snapshot()
    assert(pin.deleteFiles.nonEmpty && pin.dvGens.nonEmpty)

    // writer advances PAST the pin: another delete + another dv update
    w.delete(Term("content", "one"))
    w.commit()
    w.updateDocValues(Term("content", "one"), "note" -> "nAfter")

    val dst = Files.createTempDirectory("graft-pin2-dst").toString
    w.copy(pin, dst)
    val r = new Indexer(spark, dst, idxSchema, srcSchema)
    // pinned delete visible; post-pin delete not
    assert(r.count(Term("content", "three")) === 0L)
    assert(r.count(Term("content", "one")) === 1L)
    // pinned dv update visible; post-pin generation not
    assert(r.searcher.index.docs.filter(org.apache.spark.sql.functions.col("docId") === 0L)
      .select("note").collect()(0).getString(0) === "nPinned")
    // source sees everything
    assert(w.count(Term("content", "one")) === 0L)
  }

  test("nrt: update() + refresh() never tombstones its own re-add (updateDocument contract)") {
    val dir = Files.createTempDirectory("graft-nrtupd").toString
    val w = new Indexer(spark, dir, idxSchema, srcSchema, nrt = true)
    w.add("repo" -> "r", "path" -> "p0", "commit" -> "c", "lang" -> "en",
      "content" -> "alpha beta")
    w.commit()
    // the delete query ALSO matches the re-added doc: the NRT view must
    // resolve it against the committed view only (Lucene updateDocument
    // never deletes the doc it adds; commit() pins the same delete-then-add
    // order in LifecyclePropertySpec)
    w.update(Term("content", "alpha"),
      "repo" -> "r", "path" -> "p0", "commit" -> "c2", "lang" -> "en",
      "content" -> "alpha gamma")
    w.refresh()
    assert(w.count(Term("content", "alpha")) === 1L) // re-added doc, visible
    assert(w.count(Term("content", "beta")) === 0L) // old doc, tombstoned
    assert(w.count(Term("content", "gamma")) === 1L)
    assert(w.count(AllDocs) === 1L)
    // the NRT view matches the post-commit state exactly
    w.commit()
    assert(w.count(Term("content", "alpha")) === 1L)
    assert(w.count(Term("content", "beta")) === 0L)
    assert(w.count(Term("content", "gamma")) === 1L)
  }

  test("docvalues update accepts Seq values for array-typed columns") {
    val s2 = StructType(srcSchema.fields :+ StructField("tags", ArrayType(StringType)))
    val dir = Files.createTempDirectory("graft-dvarr").toString
    val w = new Indexer(spark, dir, idxSchema, s2)
    w.add("repo" -> "r", "path" -> "p0", "commit" -> "c", "lang" -> "en",
      "content" -> "alpha", "tags" -> Seq("orig"))
    w.commit()
    w.updateDocValues(Term("content", "alpha"), "tags" -> Seq("a", "b"))
    assert(w.searcher.index.docs.select("tags").collect()(0)
      .getSeq[String](0).toSeq === Seq("a", "b"))
    // empty Seq and null both round-trip
    w.updateDocValues(Term("content", "alpha"), "tags" -> Seq.empty[String])
    assert(w.searcher.index.docs.select("tags").collect()(0).getSeq[String](0).isEmpty)
    w.updateDocValues(Term("content", "alpha"), "tags" -> null)
    assert(w.searcher.index.docs.select("tags").collect()(0).isNullAt(0))
  }

  test("dv-update generations coalesce on disk past the threshold (bounded open-time plan)") {
    val dir = Files.createTempDirectory("graft-dvcoal").toString
    val w = new Indexer(spark, dir, idxSchema, srcSchema)
    w.dvCoalesceThreshold = 8
    w.add("repo" -> "r", "path" -> "p0", "commit" -> "c", "lang" -> "en", "content" -> "alpha")
    w.add("repo" -> "r", "path" -> "p1", "commit" -> "c", "lang" -> "de", "content" -> "beta")
    w.commit()
    w.updateDocValues(Term("content", "beta"), "note" -> "keep") // earlier gen must survive folds
    (1 to 50).foreach(i => w.updateDocValues(Term("content", "alpha"), "note" -> s"v$i"))
    // on-disk: generations past the last _COALESCED marker stay < threshold,
    // so the open-time plan is bounded no matter how many updates ran
    def genDirs = new java.io.File(s"$dir/dvupdates").listFiles.map(_.getName).sorted
    def liveAfterMarker = {
      val gens = genDirs
      val lastCoal = gens.lastIndexWhere(g =>
        new java.io.File(s"$dir/dvupdates/$g/_COALESCED").exists)
      gens.length - math.max(lastCoal, 0)
    }
    assert(liveAfterMarker <= w.dvCoalesceThreshold, s"live gens: $liveAfterMarker")
    // latest-wins survives the folds, including values set before the first fold
    val notes = w.searcher.index.docs.orderBy("docId").select("note")
      .collect().map(_.getString(0))
    assert(notes.toSeq === Seq("v50", "keep"))
    // a fresh handle (reads only the coalesced tail) agrees
    val r = new Indexer(spark, dir, idxSchema, srcSchema, readOnly = true)
    assert(r.searcher.index.docs.orderBy("docId").select("note")
      .collect().map(_.getString(0)).toSeq === Seq("v50", "keep"))
    // updates after a fold still win over it
    w.updateDocValues(Term("content", "alpha"), "note" -> "final")
    assert(w.searcher.index.docs.orderBy("docId").select("note")
      .collect().map(_.getString(0)).toSeq === Seq("final", "keep"))
  }

  test("timestamp: advances with every durable commit (indexers.py:117-126)") {
    val dir = Files.createTempDirectory("graft-ts").toString
    val w = new Indexer(spark, dir, idxSchema, srcSchema)
    assert(w.timestamp === 0.0) // never committed
    w.add("repo" -> "r", "path" -> "p0", "commit" -> "c", "lang" -> "en", "content" -> "alpha")
    w.commit()
    val t1 = w.timestamp
    assert(t1 > 0.0)
    Thread.sleep(20) // fs mtime granularity
    w.add("repo" -> "r", "path" -> "p1", "commit" -> "c", "lang" -> "en", "content" -> "beta")
    w.commit()
    val t2 = w.timestamp
    assert(t2 > t1)
    // docvalue-only updates are commits too (Lucene writes a new segments_N)
    Thread.sleep(20)
    w.updateDocValues(Term("content", "alpha"), "note" -> "n")
    assert(w.timestamp > t2)
  }
  test("write.lock: one writer per directory, readers lock-free, close/rollback/unlock (IndexWriter contract)") {
    val dir = Files.createTempDirectory("graft-lock").toString
    val w = new Indexer(spark, dir, idxSchema, srcSchema)
    w.add("repo" -> "r", "path" -> "p0", "commit" -> "c", "lang" -> "en", "content" -> "alpha")
    w.commit()
    // a second WRITER fails fast (Lucene LockObtainFailedException)
    val e = intercept[LockObtainFailedException] {
      new Indexer(spark, dir, idxSchema, srcSchema)
    }
    assert(e.getMessage.contains("write-locked"))
    assert(Indexer.isLocked(spark, dir))
    // readers never lock and never mutate
    val r = new Indexer(spark, dir, idxSchema, srcSchema, readOnly = true)
    assert(r.count(AllDocs) === 1L)
    intercept[IllegalStateException] {
      r.add("repo" -> "r", "path" -> "px", "commit" -> "c", "lang" -> "en", "content" -> "x")
    }
    // close() commits the pending buffer (reference __exit__) and releases
    w.add("repo" -> "r", "path" -> "p1", "commit" -> "c", "lang" -> "en", "content" -> "beta")
    w.close()
    assert(!Indexer.isLocked(spark, dir))
    intercept[IllegalStateException] { // AlreadyClosed
      w.add("repo" -> "r", "path" -> "p2", "commit" -> "c", "lang" -> "en", "content" -> "y")
    }
    val w2 = new Indexer(spark, dir, idxSchema, srcSchema)
    assert(w2.count(AllDocs) === 2L)
    // stale-lock recovery is an explicit operator action (Lucene unlock)
    intercept[LockObtainFailedException] { new Indexer(spark, dir, idxSchema, srcSchema) }
    assert(Indexer.unlock(spark, dir))
    val w3 = new Indexer(spark, dir, idxSchema, srcSchema) // simulating post-crash reopen
    // rollback() discards the buffer, keeps committed state, releases the lock
    w3.add("repo" -> "r", "path" -> "p3", "commit" -> "c", "lang" -> "en", "content" -> "gamma")
    w3.rollback()
    assert(!Indexer.isLocked(spark, dir))
    val check = new Indexer(spark, dir, idxSchema, srcSchema, readOnly = true)
    assert(check.count(AllDocs) === 2L) // gamma discarded
    w2.rollback() // release the leaked earlier handle's lock state (no-op on disk: already unlocked)
  }

  test("maxBufferedDocs: adds spill to intermediate segments without explicit commit() " +
      "(Lucene ramBufferSizeMB/setMaxBufferedDocs flush)") {
    val dir = Files.createTempDirectory("graft-autoflush").toString
    val w = new Indexer(spark, dir, idxSchema, srcSchema)
    w.maxBufferedDocs = 5
    for (i <- 0 until 12)
      w.add("repo" -> "r", "path" -> s"p$i", "commit" -> "c", "lang" -> "en",
        "content" -> s"alpha doc$i")
    // two spills landed (at 5 and 10) as real segments; 2 docs still buffered
    assert(w.segments.size === 2)
    assert(w.segments.values.toSeq.sorted === Seq(5L, 5L))
    assert(w.count(Term("content", "alpha")) === 10L)
    assert(!w.current) // the buffered tail is writer state the view lacks
    w.commit()
    assert(w.segments.size === 3)
    assert(w.count(Term("content", "alpha")) === 12L)
    w.close()
    // durable: a fresh reader serves all 12
    val r = new Indexer(spark, dir, idxSchema, srcSchema, readOnly = true)
    assert(r.count(Term("content", "alpha")) === 12L)

    // delete-then-add order survives a spill: a delete queued BEFORE the
    // spilling adds resolves against the pre-spill view, so it never
    // tombstones the adds it preceded (IndexWriter.updateDocument parity)
    val dir2 = Files.createTempDirectory("graft-autoflush2").toString
    val w2 = new Indexer(spark, dir2, idxSchema, srcSchema)
    w2.add("repo" -> "r", "path" -> "old", "commit" -> "c", "lang" -> "en",
      "content" -> "legacy stale")
    w2.commit()
    w2.maxBufferedDocs = 2
    w2.delete(Term("content", "legacy"))
    w2.add("repo" -> "r", "path" -> "n1", "commit" -> "c", "lang" -> "en",
      "content" -> "legacy fresh1")
    w2.add("repo" -> "r", "path" -> "n2", "commit" -> "c", "lang" -> "en",
      "content" -> "legacy fresh2") // second add trips the spill
    assert(w2.count(Term("content", "stale")) === 0L) // old doc tombstoned
    assert(w2.count(Term("content", "legacy")) === 2L) // the new docs survive
    w2.close()

    // NRT view across a spill: committed spills surface on the overlay's
    // refresh cadence; the still-buffered tail stays point-in-time invisible
    val dir3 = Files.createTempDirectory("graft-autoflush3").toString
    val w3 = new Indexer(spark, dir3, idxSchema, srcSchema, nrt = true)
    w3.maxBufferedDocs = 3
    for (i <- 0 until 7)
      w3.add("repo" -> "r", "path" -> s"q$i", "commit" -> "c", "lang" -> "en",
        "content" -> s"alpha q$i")
    assert(w3.count(Term("content", "alpha")) === 6L) // two spills committed
    w3.refresh()
    assert(w3.count(Term("content", "alpha")) === 7L) // + the buffered tail
    w3.close()
  }
}
