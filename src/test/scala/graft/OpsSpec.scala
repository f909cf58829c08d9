package graft

import graft.ops.{Ann, Dedup, TextOps}

/** Unit behaviors of the training-data ops (the engine↔DuckDB parity is
  * covered by the Verify/check_oracle gate; these pin semantics).
  */
class OpsSpec extends SparkTestBase {
  import org.apache.spark.sql.functions._

  lazy val docs = {
    val s = spark
    import s.implicits._
    Seq(
      (0L, "the quick brown fox jumps over the lazy dog in a field"),
      (1L, "the quick brown fox jumps over the lazy dog in a field"), // exact dup of 0
      (2L, "the quick brown fox jumps over the lazy cat in a field"), // near dup of 0
      (3L, "der hund und die katze sind nicht ein tier mit den"),
      (4L, "completely different words about spark engines and indexes")
    ).toDF("id", "text")
  }

  test("token count and shingles") {
    val r = docs.select(TextOps.tokenCount(col("text"))).collect().map(_.getInt(0))
    assert(r(0) === 12)
    val sh = docs.filter(col("id") === 0)
      .select(TextOps.shingles(col("text"), 3)).collect()(0).getSeq[String](0)
    assert(sh.length === 10)
    assert(sh.head === "the quick brown" && sh.last === "in a field")
  }

  test("language id picks stopword-dominant language") {
    val r = docs.select(col("id"), TextOps.languageId(col("text"))).collect()
      .map(x => x.getLong(0) -> x.getString(1)).toMap
    assert(r(0L) === "en")
    assert(r(3L) === "de")
  }

  test("exact dedup groups") {
    val g = Dedup.exactGroups(docs, "id", "text").collect()
    assert(g.length === 1)
    assert(g(0).getAs[Seq[Long]]("ids") === Seq(0L, 1L))
  }

  test("minhash-LSH finds exact and near dups; jaccard values correct") {
    val sh = docs.select(col("id"), TextOps.shingles(col("text"), 3).as("sh"))
      .withColumn("sig", Dedup.minhash(col("sh"), 8))
    val cand = Dedup.lshCandidates(sh, "id", "sig", bands = 4)
    val jac = Dedup.jaccard(cand, sh, "id", "sh").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(jac((0L, 1L)) === 1.0) // exact dup always collides
    // near dup (1 token changed out of 12): if LSH surfaced it, jaccard is 7/13
    jac.get((0L, 2L)).foreach(j => assert(math.abs(j - 7.0 / 13.0) < 1e-12))
    assert(!jac.contains((0L, 4L)) && !jac.contains((3L, 4L))) // dissimilar never collide
  }

  test("simhash: identical docs equal; dissimilar docs differ") {
    val r = docs.select(col("id"), Dedup.simhash(TextOps.tokens(col("text")), 16))
      .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert(r(0L) === r(1L))
    assert(r(0L) !== r(4L))
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(r(0L), r(2L)) < ham(r(0L), r(4L))) // near dup closer than random
  }

  test("XXH64 matches Spark's codegen'd xxhash64 expression bit-for-bit") {
    val s = spark
    import s.implicits._
    val samples = Seq("", "a", "abc", "the quick brown fox", "x" * 100,
      "unicode ✓ ünïcödé", "0123456789abcdef0123456789abcdef")
    val fromSpark = samples.toDF("s")
      .select(xxhash64(col("s"))).collect().map(_.getLong(0))
    val ours = samples.map(x => graft.util.XXH64.hash(x, 42L)) // Spark's default seed
    assert(ours === fromSpark.toSeq)
    // the range-hash is bit-identical to hashing a copied slice
    val buf = "zz the quick brown zz".getBytes("UTF-8")
    assert(graft.util.XXH64.hash(buf, 3, 15, 42L) ===
      graft.util.XXH64.hash(java.util.Arrays.copyOfRange(buf, 3, 18), 42L))
  }

  test("LSH hot-bucket cap drops oversized buckets, keeps pairs reachable via other bands") {
    val s = spark
    import s.implicits._
    // 30 identical docs (one mass-duplicate bucket in EVERY band) + the near pair
    val mass = (100L until 130L).map(i => (i, "boilerplate license header text repeated everywhere " +
      "do not modify this generated file at all ever"))
    val all = docs.select(col("id"), col("text"))
      .unionAll(mass.toDF("id", "text"))
    val sh = all.select(col("id"), TextOps.shingles(col("text"), 3).as("sh"))
      .withColumn("sig", Dedup.minhashXx(col("sh"), 8))
    val uncapped = Dedup.lshCandidates(sh, "id", "sig", bands = 4).count()
    // the guard is LAZY (advisor r6): building the capped frame runs ZERO
    // Spark jobs — the apply/skip decision lives in the plan, not frozen at
    // build time — and the drop is observed (counted) at execution
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    s.sparkContext.addSparkListener(listener)
    val capped =
      try {
        val c = Dedup.lshCandidates(sh, "id", "sig", bands = 4, maxBucketSize = 10)
        Thread.sleep(500) // listener events post asynchronously
        assert(jobs.get() === 0, s"capped builder ran ${jobs.get()} jobs at BUILD time")
        c
      } finally s.sparkContext.removeSparkListener(listener)
    val dropped0 = Dedup.lshCapDropped.get()
    val cappedPairs = capped.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // drop metrics surface at execution (the 30-doc bucket is over the cap
    // in all 4 bands); the listener delivery is async — poll briefly
    var spins = 0
    while (Dedup.lshCapDropped.get() === dropped0 && spins < 20) {
      Thread.sleep(250); spins += 1
    }
    assert(Dedup.lshCapDropped.get() > dropped0, "execution must report the drop")
    // the 30-doc cluster (435 pairs) is dropped; small-bucket pairs survive
    assert(uncapped >= 435L + 1L)
    assert(!cappedPairs.exists(p => p._1 >= 100L && p._2 >= 100L))
    assert(cappedPairs.contains((0L, 1L))) // exact dup in a size-2 bucket survives
  }

  test("minhashXx: exact dup identical signatures; near dup shares bands") {
    val sh = docs.select(col("id"), TextOps.shingles(col("text"), 3).as("sh"))
      .withColumn("sig", Dedup.minhashXx(col("sh"), 8))
    val cand = Dedup.lshCandidates(sh, "id", "sig", bands = 4)
    val jac = Dedup.jaccard(cand, sh, "id", "sh").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(jac((0L, 1L)) === 1.0)
    assert(!jac.contains((0L, 4L)) && !jac.contains((3L, 4L)))
  }

  test("ann: brute-force top-k order and self-similarity") {
    val s = spark
    import s.implicits._
    val emb = Seq(
      (0L, Seq(1.0f, 0.0f, 0.0f)),
      (1L, Seq(0.9f, 0.1f, 0.0f)),
      (2L, Seq(0.0f, 1.0f, 0.0f)),
      (3L, Seq(-1.0f, 0.0f, 0.0f))
    ).toDF("vec_id", "embedding")
    val top = Ann.topkBrute(emb, "vec_id", "embedding", Seq(1.0f, 0.0f, 0.0f), 3).collect()
    assert(top.map(_.getLong(0)).toSeq === Seq(0L, 1L, 2L))
    assert(math.abs(top(0).getDouble(1) - 1.0) < 1e-12)
    // LSH bucket: hyperplane [1,0,0] separates 3 from {0,1}
    val lsh = Ann.topkLsh(emb, "vec_id", "embedding", Seq(1.0f, 0.0f, 0.0f),
      Seq(Seq(1.0f, 0.0f, 0.0f)), 10).collect().map(_.getLong(0))
    assert(lsh.toSeq === Seq(0L, 1L)) // doc2 dot=0 -> other bucket, doc3 negative
  }

  test("ann: materialized LSH index prunes at the scan; multi-probe widens recall") {
    val s = spark
    import s.implicits._
    val emb = Seq(
      (0L, Seq(1.0f, 0.0f, 0.0f)),
      (1L, Seq(0.9f, 0.1f, 0.0f)),
      (2L, Seq(0.0f, 1.0f, 0.0f)),
      (3L, Seq(-1.0f, 0.0f, 0.0f))
    ).toDF("vec_id", "embedding")
    val planes = Seq(Seq(1.0f, 0.0f, 0.0f), Seq(0.0f, 1.0f, 0.0f))
    val dir = java.nio.file.Files.createTempDirectory("graft-annidx").toString
    Ann.buildLshIndex(emb, "vec_id", "embedding", planes, dir)
    // stored bucket column, filter pushed to the scan
    // query bucket: plane1 bit set, plane2 zero-dot → bucket 1 holds only vec0
    // (vec1's small plane2 component lands it in bucket 3)
    val q = Ann.topkLshIndexed(spark, dir, "vec_id", "embedding",
      Seq(1.0f, 0.0f, 0.0f), planes, 10)
    assert(q.collect().map(_.getLong(0)).toSeq === Seq(0L))
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("bucket"), plan.take(1500))
    // identical results to the scan-time variant
    val scanned = Ann.topkLsh(emb, "vec_id", "embedding", Seq(1.0f, 0.0f, 0.0f), planes, 10)
      .collect().map(_.getLong(0))
    assert(scanned.toSeq === Seq(0L))
    // multi-probe visits buckets by ascending flipped margin: the query sits
    // ON plane2 (margin 0), so bucket 3 (= qb ^ plane2 bit) probes FIRST and
    // recovers the near neighbor vec1; probe 3 flips plane1 → bucket 0
    val probed = Ann.topkLshIndexed(spark, dir, "vec_id", "embedding",
      Seq(1.0f, 0.0f, 0.0f), planes, 10, probes = 3)
    // buckets {1, 3, 0} → vec1 (bucket 3) recovered, vec3 (bucket 0) swept in
    // and ranked last by cosine; vec2 (bucket 2) not probed
    assert(probed.collect().map(_.getLong(0)).toSeq === Seq(0L, 1L, 3L))
  }

  test("ann: IVF index — deterministic spherical k-means, nprobe pruning, exact at nprobe=k") {
    val s = spark
    import s.implicits._
    // three well-separated direction clusters; ids 0/1/2 seed one per cluster
    val emb = Seq(
      (0L, Seq(1.0f, 0.0f, 0.0f)), (1L, Seq(0.0f, 1.0f, 0.0f)), (2L, Seq(0.0f, 0.0f, 1.0f)),
      (3L, Seq(0.9f, 0.1f, 0.0f)), (4L, Seq(0.95f, -0.05f, 0.0f)),
      (5L, Seq(0.1f, 0.9f, 0.0f)), (6L, Seq(-0.05f, 0.95f, 0.1f)),
      (7L, Seq(0.0f, 0.1f, 0.9f)), (8L, Seq(0.1f, 0.0f, 0.95f))
    ).toDF("vec_id", "embedding")
    val dir = java.nio.file.Files.createTempDirectory("graft-ivf").toString
    Ann.buildIvf(emb, "vec_id", "embedding", k = 3, iters = 3, dir)
    val q = Seq(1.0f, 0.05f, 0.0f)
    // nprobe=1 scans ONE centroid's list and still finds the true top-3
    // (they all live in the query's cluster)
    val probed = Ann.topkIvf(spark, dir, "vec_id", "embedding", q, topk = 3, nprobe = 1)
    val brute = Ann.topkBrute(emb, "vec_id", "embedding", q, 3)
      .collect().map(_.getLong(0)).toSeq
    assert(probed.collect().map(_.getLong(0)).toSeq === brute)
    // the centroid filter reaches the parquet scan
    val plan = probed.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("centroid"), plan.take(1200))
    // nprobe = k degrades gracefully to exact brute force for any k
    val all = Ann.topkIvf(spark, dir, "vec_id", "embedding", q, topk = 9, nprobe = 3)
      .collect().map(_.getLong(0)).toSeq
    assert(all === Ann.topkBrute(emb, "vec_id", "embedding", q, 9).collect().map(_.getLong(0)).toSeq)
    // deterministic: a rebuild yields identical assignments
    val dir2 = java.nio.file.Files.createTempDirectory("graft-ivf2").toString
    Ann.buildIvf(emb, "vec_id", "embedding", k = 3, iters = 3, dir2)
    val a1 = spark.read.parquet(s"$dir/vectors").select("vec_id", "centroid")
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val a2 = spark.read.parquet(s"$dir2/vectors").select("vec_id", "centroid")
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(a1 === a2)
    // the three clusters separate
    assert(Set(a1(0L), a1(3L), a1(4L)).size === 1)
    assert(Set(a1(1L), a1(5L), a1(6L)).size === 1)
    assert(Set(a1(2L), a1(7L), a1(8L)).size === 1)
    assert(Set(a1(0L), a1(1L), a1(2L)).size === 3)
  }

  test("dedup: embedding-cosine near-dup via sign-bucket LSH + exact verify") {
    val s = spark
    import s.implicits._
    val emb = Seq(
      (0L, Seq(1.0f, 0.1f, 0.0f)),
      (1L, Seq(2.0f, 0.2f, 0.0f)),   // ×2 of vec0 → cosine 1.0, same signs
      (2L, Seq(0.0f, 1.0f, 0.3f)),
      (3L, Seq(-1.0f, -0.1f, 0.0f)), // antipodal to vec0: different bucket
      (4L, Seq(0.0f, 2.0f, 0.6f))    // ×2 of vec2
    ).toDF("vec_id", "embedding")
    val planes = Seq(Seq(1.0f, 0.0f, 0.0f), Seq(0.0f, 1.0f, 0.0f))
    val got = graft.ops.Dedup.cosineNearDup(emb, "vec_id", "embedding", planes, 0.999)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    assert(got.toSeq === Seq((0L, 1L), (2L, 4L)))
    // the antipodal vector never becomes a candidate (bucket disagreement),
    // and near-but-not-duplicate pairs in one bucket fail the exact verify
    val loose = graft.ops.Dedup.cosineNearDup(emb, "vec_id", "embedding", planes, 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    assert(!loose.contains((0L, 3L)))
  }

  test("dedup: multi-table (OR-of-ANDs) cosine LSH keeps planted pairs a single AND drops") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(42) // fixed seed → fully deterministic
    val dim = 8
    def vec(): Array[Float] = Array.fill(dim)((rnd.nextDouble() * 2 - 1).toFloat)
    val base = (0 until 30).map(_ => vec())
    // 10 planted near-dup pairs: tiny perturbations, cosine ≈ 0.9999
    val rows = base.zipWithIndex.map { case (v, i) => (i.toLong, v.toSeq) } ++
      (0 until 10).map { i =>
        ((100 + i).toLong,
          base(i).map(x => x + (rnd.nextDouble() * 0.002 - 0.001).toFloat).toSeq)
      }
    val emb = rows.toDF("vec_id", "embedding")
    val planes = (0 until 16).map(_ => Seq.fill(dim)((rnd.nextDouble() * 2 - 1).toFloat))
    val planted = (0 until 10).map(i => (i.toLong, (100 + i).toLong)).toSet
    def found(tables: Int) =
      graft.ops.Dedup.cosineNearDup(emb, "vec_id", "embedding", planes, 0.999, tables)
        .collect().map(r => (r.getLong(0), r.getLong(1)))
    val single = found(1)
    val banded = found(4)
    // H=16 single-AND recall decays (miss prob 1−(1−θ/π)^16); 4 tables of 4
    // planes recover every planted pair here
    assert(planted.subsetOf(banded.toSet), s"missed: ${planted -- banded.toSet}")
    // all-16-signs agreement implies per-band agreement: OR-of-ANDs only adds
    assert(single.toSet.subsetOf(banded.toSet))
    // a pair agreeing in several bands still emits exactly once
    assert(banded.distinct.length === banded.length)
  }

  test("ann: multi-probe sequence is margin-ordered, supports multi-bit flips, caps at 2^H") {
    import graft.ops.Ann.probeSequence
    // margins: h0 far (0.9), h1 close (0.1), h2 middling (0.4); qb = 0b000
    val seq = probeSequence(0L, Seq(0.9, 0.1, 0.4), 8)
    // ascending flipped-margin order: {} , {h1}=.1, {h2}=.4, {h1,h2}=.5,
    // {h0}=.9, {h0,h1}=1.0, {h0,h2}=1.3, {h0,h1,h2}=1.4
    assert(seq === Seq(0L, 2L, 4L, 6L, 1L, 3L, 5L, 7L))
    // probes beyond the reachable 2^H bucket count cap loudly (not silently)
    assert(probeSequence(0L, Seq(0.9, 0.1, 0.4), 100) === Seq(0L, 2L, 4L, 6L, 1L, 3L, 5L, 7L))
    // single probe = the query bucket alone
    assert(probeSequence(5L, Seq(0.2, 0.3), 1) === Seq(5L))
  }

  test("dedup: connected components — chains close transitively, labels are canonical-min") {
    val s2 = spark
    import s2.implicits._
    // a 4-chain, a pair, a triangle, and a second pair — adjacent edges only
    val edges = Seq((1L, 0L), (1L, 2L), (2L, 3L), (10L, 11L),
      (20L, 21L), (21L, 22L), (20L, 22L), (31L, 30L)).toDF("id_a", "id_b")
    val cc = graft.ops.Dedup.connectedComponents(edges, "id_a", "id_b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cc === Map(0L -> 0L, 1L -> 0L, 2L -> 0L, 3L -> 0L,
      10L -> 10L, 11L -> 10L, 20L -> 20L, 21L -> 20L, 22L -> 20L, 30L -> 30L, 31L -> 30L))
    // pathological long chain: still converges (diameter-bounded rounds)
    val chain = (0 until 40).map(i => (i.toLong, (i + 1).toLong)).toDF("id_a", "id_b")
    val ccChain = graft.ops.Dedup.connectedComponents(chain, "id_a", "id_b")
      .collect().map(r => r.getLong(1)).distinct
    assert(ccChain.toSeq === Seq(0L))
  }

  test("connected components: per-round checkpoints are freed (no executor-storage leak) " +
      "and rounds stay O(log diameter)") {
    val s2 = spark
    import s2.implicits._
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val chain = (0 until 64).map(i => (i.toLong, (i + 1).toLong)).toDF("id_a", "id_b")
    val cc = graft.ops.Dedup.connectedComponents(chain, "id_a", "id_b")
    assert(cc.collect().map(_.getLong(1)).distinct.toSeq === Seq(0L))
    // pointer jumping halves chain depth per round: a 65-vertex path must
    // settle well inside log-bounded rounds, nowhere near the 50-iter cap
    assert(graft.ops.Dedup.lastCcRounds <= 10,
      s"CC took ${graft.ops.Dedup.lastCcRounds} rounds on a 65-vertex path")
    // storage hygiene: of the ~3 localCheckpoints per round, only the
    // RETURNED labels frame may remain persisted after the call
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(leaked.size <= 1, s"${leaked.size} checkpointed RDDs left persisted")
  }

  test("dedup: passage-level repeated token windows (Lee et al. ACL 2022) — exact cross-doc detection") {
    val s2 = spark
    import s2.implicits._
    val shared = "the quick brown fox jumps over the lazy dog tonight" // 10 tokens
    val docs = Seq(
      (1L, s"alpha beta $shared gamma"),
      (2L, s"unrelated words here $shared and more tail content okay"),
      (3L, "totally different text with no overlap at all whatsoever friend")
    ).toDF("doc_id", "text")
    val got = graft.ops.Dedup.passageDups(docs, "doc_id", "text", window = 8)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    // the 10-token shared passage yields exactly its 3 fully-contained
    // 8-token windows, each present in the 2 docs that embed it
    assert(got.length === 3)
    assert(got.forall { case (_, nd, occ) => nd == 2L && occ == 2L })
    // hash parity with an independent driver-side recomputation
    val toks = shared.split(" ")
    val expected = (0 to 2).map { i =>
      java.security.MessageDigest.getInstance("MD5")
        .digest(toks.slice(i, i + 8).mkString(" ").getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
    }.toSet
    assert(got.map(_._1).toSet === expected)
    // window longer than every doc ⇒ empty result, not an error
    assert(graft.ops.Dedup.passageDups(docs, "doc_id", "text", window = 50).count() === 0L)
    // the locate surface hex-encodes its binary keys to the same md5 values
    val locHashes = graft.ops.Dedup.passageDupLocations(docs, "doc_id", "text", 8)
      .select("h").as[String].collect().toSet
    assert(locHashes === expected)
  }

  test("passageHashes: md5 hex per token window; empty for null or short text") {
    val s2 = spark
    import s2.implicits._
    val docs = Seq(
      (1L, Some("The QUICK, brown fox -- jumps! Over the lazy_dog.")),
      (2L, Some("far too short")),
      (3L, None)
    ).toDF("doc_id", "text")
    val got = docs.select(col("doc_id"), graft.ops.Dedup.passageHashes(col("text"), 4))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    // lowercased [a-z0-9] runs: punctuation and '_' split tokens
    val toks = Seq("the", "quick", "brown", "fox", "jumps", "over", "the", "lazy", "dog")
    val expected = toks.sliding(4).map { w =>
      java.security.MessageDigest.getInstance("MD5")
        .digest(w.mkString(" ").getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
    }.toSeq
    assert(got(1L) === expected)
    assert(got(2L).isEmpty) // 3 tokens < window
    assert(got(3L).isEmpty) // null text
  }

  test("hash sampling: deterministic, partitioning-invariant, nesting subsets, stratified") {
    val s2 = spark
    import s2.implicits._
    val df = Seq.tabulate(2000)(i => (i.toLong, if (i % 3 == 0) "de" else "en"))
      .toDF("id", "lang")
    val s20 = graft.ops.Sampling.sampleByHash(df, "id", 0.2).select("id").as[Long].collect().toSet
    // deterministic across runs AND partitionings
    val again = graft.ops.Sampling.sampleByHash(df.repartition(7), "id", 0.2)
      .select("id").as[Long].collect().toSet
    assert(s20 === again)
    // fraction lands near target (md5 uniformity; 2000 rows, ±4 sigma)
    assert(math.abs(s20.size - 400) < 72, s"20% of 2000 drew ${s20.size}")
    // NESTING: the 10% sample is a strict subset of the 20% sample
    val s10 = graft.ops.Sampling.sampleByHash(df, "id", 0.1).select("id").as[Long].collect().toSet
    assert(s10.subsetOf(s20) && s10.size < s20.size)
    // edges: 0 keeps nothing, 1 keeps everything
    assert(graft.ops.Sampling.sampleByHash(df, "id", 0.0).count() === 0L)
    assert(graft.ops.Sampling.sampleByHash(df, "id", 1.0).count() === 2000L)
    // stratified: de at 100%, en at 0 — exactly the de rows survive
    val strat = graft.ops.Sampling.sampleByHashStratified(df, "id", "lang",
      Map("de" -> 1.0), default = 0.0)
    assert(strat.filter(col("lang") =!= "de").count() === 0L)
    assert(strat.count() === df.filter(col("lang") === "de").count())
    // per-stratum membership matches the flat sample at the same fraction
    val stratHalf = graft.ops.Sampling.sampleByHashStratified(df, "id", "lang",
      Map("de" -> 0.2), default = 0.2).select("id").as[Long].collect().toSet
    assert(stratHalf === s20)
  }

  test("PII redaction: emails/IPs/phones replaced and counted, order semantics pinned") {
    val s2 = spark
    import s2.implicits._
    val df = Seq(
      (1L, "mail bob.smith+tag@corp.example.org and carol@site.io now"),
      (2L, "hosts 192.168.1.10 and 10.0.0.7 up"),
      (3L, "call +1 555-0123 456 or +44 20-7946-0958 ok"),
      (4L, "mixed a@1.2.3.4.com then 8.8.8.8 then +7 999-123-4567 end"),
      (5L, "clean text with no personal identifiers at all"),
      (6L, null)
    ).toDF("id", "t")
    val r = graft.ops.TextOps.redactPii(col("t"))
    val rows = df.select(col("id"), r.getField("clean"), r.getField("n_emails"),
        r.getField("n_ips"), r.getField("n_phones"), r.isNull)
      .collect().map(x => x.getLong(0) -> x).toMap
    // null text: a non-null struct whose four fields are all null
    assert((1 to 5).map(rows(6L).get(_)) === Seq(null, null, null, null, false))
    val got = (rows - 6L).map { case (id, x) =>
      id -> ((x.getString(1), x.getInt(2), x.getInt(3), x.getInt(4)))
    }
    assert(got(1L) === (("mail <EMAIL> and <EMAIL> now", 2, 0, 0)))
    assert(got(2L) === (("hosts <IP> and <IP> up", 0, 2, 0)))
    assert(got(3L) === (("call <PHONE> or <PHONE> ok", 0, 0, 2)))
    // the order rule: the email's host part (1.2.3.4.com) would parse as an
    // IPv4 — emails redact FIRST, so it counts as 1 email + 1 ip, not 2 ips
    assert(got(4L) === (("mixed <EMAIL> then <IP> then <PHONE> end", 1, 1, 1)))
    assert(got(5L) === (("clean text with no personal identifiers at all", 0, 0, 0)))
  }

  test("property: excision leaves NO cross-doc duplicated window behind; decontaminate output is clean") {
    val s2 = spark
    import s2.implicits._
    // deterministic pseudo-random corpus with heavy planted overlap: docs
    // share 12-token runs drawn from a tiny phrase pool, so flagged windows
    // overlap and chain — the union-removal edge excision must get right
    val rnd = new scala.util.Random(42)
    val pool = Vector("alpha", "bravo", "charlie", "delta", "echo", "foxtrot",
      "golf", "hotel", "india", "juliet")
    val phrases = Vector.tabulate(4)(p =>
      Vector.tabulate(12)(i => pool(rnd.nextInt(pool.size)) + (p * 7 + i) % 5))
    val docs = Seq.tabulate(40) { d =>
      val parts = Vector.fill(3)(
        if (rnd.nextBoolean()) phrases(rnd.nextInt(phrases.size)).mkString(" ")
        else Vector.fill(10)(pool(rnd.nextInt(pool.size))).mkString(" "))
      (d.toLong, parts.mkString(" "))
    }.toDF("doc_id", "text")
    val w = 8
    val locs = Dedup.passageDupLocations(docs, "doc_id", "text", window = w)
    val cleaned = Dedup.excisePassages(docs, "doc_id", "text", locs, window = w)
    // invariant: re-running detection on the excised corpus finds nothing
    // (every cross-doc duplicated window was removed on all its occurrences)
    val residue = Dedup.passageDups(
      cleaned.select(col("doc_id"), col("clean").as("text")), "doc_id", "text", window = w)
    assert(residue.count() === 0L, "excised corpus still has cross-doc duplicate windows")
    // removed counts are consistent with the flagged positions
    val flagged = locs.select(col("doc_id"), explode(sequence(col("start"),
      col("start") + lit(w - 1))).as("p")).distinct()
      .groupBy("doc_id").agg(count(lit(1)).as("n"))
    val mism = cleaned.join(flagged, Seq("doc_id"), "left")
      .filter(coalesce(col("n"), lit(0L)) =!= col("removed").cast("long"))
    assert(mism.count() === 0L)
    // decontaminate invariant: the kept corpus shares no window with bench
    val bench = docs.filter(col("doc_id") % 7 === 0)
    val keptCorpus = Dedup.decontaminate(docs.filter(col("doc_id") % 7 =!= 0),
      "doc_id", "text", bench, "text", window = w)
    assert(Dedup.contamination(keptCorpus, "doc_id", "text", bench, "text", window = w)
      .count() === 0L)
  }

  test("passage excision: flagged windows removed at exact offsets, canonical rebuild") {
    val s2 = spark
    import s2.implicits._
    val shared = "the quick brown fox jumps over the lazy dog tonight" // 10 tokens
    val docs = Seq(
      (1L, s"alpha beta $shared gamma"),          // passage at tokens 3..12
      (2L, s"unrelated words here $shared tail"), // passage at tokens 4..13
      (3L, "totally different text with no overlap at all whatsoever friend")
    ).toDF("doc_id", "text")
    val locs = graft.ops.Dedup.passageDupLocations(docs, "doc_id", "text", window = 8)
    val got = graft.ops.Dedup.excisePassages(docs, "doc_id", "text", locs, window = 8)
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getInt(2))).toMap
    // union of the 3 overlapping flagged windows = exactly the 10 shared
    // tokens; surrounding context survives in canonical lowercase form
    assert(got(1L) === (("alpha beta gamma", 10)))
    assert(got(2L) === (("unrelated words here tail", 10)))
    // untouched doc passes through canonicalized with removed = 0
    assert(got(3L) ===
      (("totally different text with no overlap at all whatsoever friend", 0)))
    // empty locations table: everything passes through, removed = 0
    val none = graft.ops.Dedup.excisePassages(docs, "doc_id", "text",
      locs.filter(lit(false)), window = 8)
    assert(none.filter(col("removed") =!= 0).count() === 0L)
  }

  test("near-dup removal keeps one representative per cluster plus all unclustered docs") {
    val s2 = spark
    import s2.implicits._
    val docs = Seq.tabulate(8)(i => (i.toLong, s"doc number $i")).toDF("id", "t")
    // clusters {0,1,2} (a chain, needs transitivity) and {5,6}; 3,4,7 free
    val pairs = Seq((0L, 1L), (1L, 2L), (5L, 6L)).toDF("id_a", "id_b")
    val kept = graft.ops.Dedup.dropNearDuplicates(docs, "id", pairs)
      .select("id").as[Long].collect().sorted
    assert(kept.toSeq === Seq(0L, 3L, 4L, 5L, 7L))
    // all original columns pass through
    assert(graft.ops.Dedup.dropNearDuplicates(docs, "id", pairs).columns.toSeq
      === Seq("id", "t"))
  }

  test("c4 line/page cleaning (Raffel et al. 2020 §2.2) — hand-computed edges") {
    val s2 = spark
    import s2.implicits._
    val page = Seq(
      "one two three four five.",     // kept: 5 words, terminal '.'
      "short line.",                   // dropped: 2 words
      "no terminal punctuation here at all",  // dropped: no terminator
      "he said \"quoted ending counts fine\"", // kept: ends in '"'
      "   spaced out words everywhere really!   ", // kept after strip: '!'
      "",                              // dropped: empty
      "does a question mark pass too?" // kept: '?'
    ).mkString("\n")
    val df = Seq((1L, page)).toDF("id", "t")
    val c = graft.ops.TextOps.c4Lines(col("t"), minWordsPerLine = 5, minLines = 3)
    val r = df.select(c.getField("kept"), c.getField("dropped"),
      c.getField("keep_page"), c.getField("clean")).head()
    assert((r.getInt(0), r.getInt(1), r.getBoolean(2)) === ((4, 3, true)))
    // clean preserves original (unstripped) lines in order
    assert(r.getString(3).split("\n").length === 4)
    assert(r.getString(3).contains("   spaced out words everywhere really!   "))
    // page poisons: lorem ipsum (case-insensitive) and a curly brace
    val lorem = Seq((1L, page + "\nLoReM IpSuM filler text here now.")).toDF("id", "t")
    assert(!lorem.select(graft.ops.TextOps.c4Lines(col("t"), 5, 3)
      .getField("keep_page")).head().getBoolean(0))
    val brace = Seq((1L, page + "\nfunction f() { return one two three. }")).toDF("id", "t")
    assert(!brace.select(graft.ops.TextOps.c4Lines(col("t"), 5, 3)
      .getField("keep_page")).head().getBoolean(0))
    // a LONE closing brace (truncated code tail) also poisons the page
    val closer = Seq((1L, page + "\nend of config: } remainder of prose here.")).toDF("id", "t")
    assert(!closer.select(graft.ops.TextOps.c4Lines(col("t"), 5, 3)
      .getField("keep_page")).head().getBoolean(0))
    // minLines gate: same page needs 5 kept lines -> page dropped, lines kept
    val strict = df.select(graft.ops.TextOps.c4Lines(col("t"), 5, 5)
      .getField("keep_page")).head().getBoolean(0)
    assert(!strict)
  }

  test("cpuParallel: repartitions a narrow scan up to default parallelism, no-op otherwise") {
    val s2 = spark
    import s2.implicits._
    val target = spark.sparkContext.defaultParallelism
    val narrow = Seq.tabulate(100)(i => (i.toLong, s"text $i")).toDF("id", "t")
      .coalesce(1)
    assert(graft.ops.Dedup.cpuParallel(narrow).rdd.getNumPartitions === target)
    val wide = Seq.tabulate(100)(i => (i.toLong, s"text $i")).toDF("id", "t")
      .repartition(target + 4)
    // already at/above parallelism: returned UNCHANGED — no extra exchange
    assert(graft.ops.Dedup.cpuParallel(wide) eq wide)
    // row content is preserved either way
    assert(graft.ops.Dedup.cpuParallel(narrow).as[(Long, String)].collect().sorted
      === Seq.tabulate(100)(i => (i.toLong, s"text $i")).sorted)
  }

  test("cpuParallel: a non-scan-rooted frame is returned untouched with ZERO jobs at build " +
      "(advisor r7: Dataset.rdd under AQE materializes upstream exchanges eagerly)") {
    val s2 = spark
    import s2.implicits._
    // an aggregate forces an exchange above the scan — exactly the shape
    // whose .rdd probe used to run the whole upstream pipeline at build time
    val agg = Seq.tabulate(100)(i => (i.toLong % 7, s"text $i")).toDF("k", "t")
      .groupBy("k").agg(org.apache.spark.sql.functions.count(lit(1)).as("n"))
    val jobs = new java.util.concurrent.atomic.AtomicLong(0L)
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    spark.sparkContext.addSparkListener(l)
    try {
      val out = graft.ops.Dedup.cpuParallel(agg)
      assert(out eq agg) // no-op: exchanges already size to session parallelism
      // builder APIs must be lazy — give the bus a beat, then assert no jobs
      Thread.sleep(300)
      assert(jobs.get() === 0L, "cpuParallel ran jobs at build time on a non-scan input")
    } finally spark.sparkContext.removeSparkListener(l)
    // and the frame still computes the same rows
    assert(agg.collect().map(r => (r.getLong(0), r.getLong(1))).sorted
      === Seq.tabulate(100)(i => i.toLong % 7).groupBy(identity)
        .map { case (k, v) => (k, v.length.toLong) }.toSeq.sorted)
  }

  test("ann: buildIvf assignment is NATIVE — no ScalaUDF, null vector keeps the -1 sentinel") {
    val s2 = spark
    import s2.implicits._
    val cents = Array(Array(1.0, 0.0), Array(0.0, 1.0))
    // through a parquet scan so ConvertToLocalRelation can't fold the
    // expression away before the plan is inspected
    val dir = java.nio.file.Files.createTempDirectory("graft-ivfassign").toString
    Seq(
      (0L, Seq(0.9f, 0.1f)), (1L, Seq(0.1f, 0.9f)), (2L, null.asInstanceOf[Seq[Float]])
    ).toDF("id", "vec").write.mode("overwrite").parquet(dir)
    val df = spark.read.parquet(dir)
    val assigned = graft.ops.Ann.ivfAssign(df, "vec", cents)
    val plan = assigned.queryExecution.executedPlan.toString
    assert(!plan.contains("ScalaUDF"), plan.take(1200))
    assert(plan.contains("float_top_dot_cells"), plan.take(1200))
    val got = assigned.select("id", "centroid").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(got === Map(0L -> 0, 1L -> 1, 2L -> -1))
  }

  test("pq: ADC is LOUD on corrupt codes — null for length/codebook skew, not a partial score") {
    val s2 = spark
    import s2.implicits._
    // 2 subspaces, 2 centroids each
    val lut = Array(Array(1.0, 2.0), Array(10.0, 20.0))
    val df = Seq(
      (0L, Array[Byte](0, 1)),       // valid: 1.0 + 20.0
      (1L, Array[Byte](1)),          // truncated codes (index skew)
      (2L, Array[Byte](0, 1, 0)),    // over-long codes
      (3L, Array[Byte](0, 5))        // code byte outside its subspace table
    ).toDF("id", "codes")
    val got = df.select(col("id"),
        graft.functions.PqExpressions.adcDot(col("codes"), lut).as("adc"))
      .collect().map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getDouble(1))))
      .toMap
    assert(got === Map(0L -> Some(21.0), 1L -> None, 2L -> None, 3L -> None))
  }

  test("decontamination: exact window-overlap counts, drop form and threshold form") {
    val s2 = spark
    import s2.implicits._
    val leak = "what is the capital of france paris obviously right" // 9 tokens
    val corpus = Seq(
      (1L, s"intro words $leak closing remark"),          // embeds the eval passage
      (2L, s"other text then $leak and $leak again done"), // embeds it twice
      (3L, "completely clean document with zero overlap against any benchmark")
    ).toDF("doc_id", "text")
    val bench = Seq((100L, s"q: $leak")).toDF("bench_id", "text")
    val got = graft.ops.Dedup.contamination(corpus, "doc_id", "text", bench, "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
    // the 9-token passage has 2 contained 8-token windows; doc 2 holds each
    // twice (4 occurrences, 2 distinct grams), doc 3 is absent
    assert(got.toSeq === Seq((1L, 2L, 2L), (2L, 4L, 2L)))
    // drop form: any-collision rule removes docs 1 and 2, passes 3 through
    val kept = graft.ops.Dedup.decontaminate(corpus, "doc_id", "text", bench, "text")
      .select("doc_id").as[Long].collect().sorted
    assert(kept.toSeq === Seq(3L))
    // threshold form: minMatches = 3 keeps the single-occurrence doc 1
    val kept3 = graft.ops.Dedup.decontaminate(corpus, "doc_id", "text", bench, "text",
        minMatches = 3L).select("doc_id").as[Long].collect().sorted
    assert(kept3.toSeq === Seq(1L, 3L))
  }

  test("plan guard: banded cosine LSH is equi-join-shaped — no cartesian product") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(7)
    val dim = 8
    val rows = (0 until 40).map(i =>
      (i.toLong, Seq.fill(dim)((rnd.nextDouble() * 2 - 1).toFloat)))
    val emb = rows.toDF("vec_id", "embedding")
    val planes = (0 until 30).map(_ => Seq.fill(dim)((rnd.nextDouble() * 2 - 1).toFloat))
    val pairs = graft.ops.Dedup.cosineNearDup(emb, "vec_id", "embedding", planes, 0.9, tables = 3)
    pairs.collect()
    // a geometry regression (e.g. bands too small to discriminate) would
    // surface as a nested-loop/cartesian candidate join — fail loudly here,
    // not as a mysteriously slow bench
    val plan = pairs.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), plan.take(1500))
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(1500))
  }

  test("dedup: SemDeDup semantic cells — within-cell pairs found, boundary straddle documented-missed") {
    val s2 = spark
    import s2.implicits._
    val cents = Seq(Seq(1f, 0f, 0f, 0f), Seq(0f, 1f, 0f, 0f))
    val rows = Seq(
      (1L, Seq(0.9f, 0.1f, 0f, 0f)),   // cell 1
      (2L, Seq(1.8f, 0.2f, 0f, 0f)),   // ×2 duplicate of 1 — same cell, cos = 1
      (3L, Seq(0.51f, 0.49f, 0f, 0f)), // cell 1, cos(3,4) ≈ 0.9992 ≥ 0.999...
      (4L, Seq(0.49f, 0.51f, 0f, 0f)), // ...but cell 2: the straddle SemDeDup misses
      (5L, Seq(0.1f, 0.9f, 0f, 0f))    // cell 2, no near-dup partner in-cell
    ).toDF("id", "vec")
    val got = graft.ops.Dedup.semanticDedup(rows, "id", "vec", cents, 0.999)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    // the planted duplicate survives; the cross-cell near-dup (3,4) is the
    // method's documented recall trade (Abbas et al. §2) — absent by design
    assert(got === Set((1L, 2L)))
    // candidate generation is an equi-join on the cell id — never all-pairs
    val plan = graft.ops.Dedup.semanticDedup(rows, "id", "vec", cents, 0.999)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), plan.take(1500))
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(1500))
    // nprobe = 2 (the IVF multi-probe recall knob on the table overload):
    // vectors join candidates in their 2 nearest cells, so the straddle
    // pair (3,4) — each the other's 2nd-nearest cell's member — is FOUND;
    // nprobe = 1 on the same table stays identical to the Seq overload
    val tbl = cents.zipWithIndex.map { case (c, i) => ((i + 1).toLong, c) }
      .toDF("cell", "centroid")
    val p1 = graft.ops.Dedup.semanticDedup(rows, "id", "vec", tbl, 0.999, 0, 1)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(p1 === Set((1L, 2L)))
    val p2 = graft.ops.Dedup.semanticDedup(rows, "id", "vec", tbl, 0.999, 0, nprobe = 2)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(p2 === Set((1L, 2L), (3L, 4L)), s"got $p2")
  }

  test("native vector expressions: codegen'd dot/cosine/norm — pinned values, " +
      "null/length edges, runs inside WholeStageCodegen with no ScalaUDF") {
    val s2 = spark
    import s2.implicits._
    val rows = Seq(
      (1L, Seq(1f, 2f, 3f), Seq(4f, 5f, 6f)),
      (2L, Seq(0f, 0f), Seq(0f, 0f)),     // zero norms → NaN cosine (0/0)
      (3L, Seq(1f, 2f), Seq(3f, 4f, 5f)), // length mismatch → min-prefix fold
      (4L, null, Seq(1f, 2f))             // null input → null result
    ).toDF("id", "a", "b")
    val sel = rows.select($"id", graft.ops.Ann.dot($"a", $"b").as("d"),
      graft.ops.Ann.cosine($"a", $"b").as("c"), graft.ops.Ann.norm($"a").as("n"))
    val got = sel.collect().map(r => r.getLong(0) ->
      (if (r.isNullAt(1)) None else Some(r.getDouble(1)),
        if (r.isNullAt(2)) None else Some(r.getDouble(2)),
        if (r.isNullAt(3)) None else Some(r.getDouble(3)))).toMap
    assert(got(1L)._1 === Some(32.0))
    assert(got(1L)._2 === Some(32.0 / (math.sqrt(14.0) * math.sqrt(77.0))))
    assert(got(1L)._3 === Some(math.sqrt(14.0)))
    assert(got(2L)._1 === Some(0.0) && got(2L)._2.exists(_.isNaN) && got(2L)._3 === Some(0.0))
    assert(got(3L)._1 === Some(11.0)) // 1·3 + 2·4 over the common prefix
    assert(got(4L)._1 === None && got(4L)._2 === None && got(4L)._3 === None)
    // the point of the Expression form: the kernels run INSIDE whole-stage
    // codegen (primitive getFloat loop), not as a boxing ScalaUDF boundary.
    // A local Seq collapses to LocalTableScan (interpreted eval — which the
    // value checks above just exercised), so drive doGenCode through a
    // parquet scan and cross-check the two paths agree.
    val pq = java.nio.file.Files.createTempDirectory("graft-vexpr").toString
    rows.write.mode("overwrite").parquet(pq)
    val viaCodegen = s2.read.parquet(pq)
      .select($"id", graft.ops.Ann.dot($"a", $"b").as("d"),
        graft.ops.Ann.cosine($"a", $"b").as("c"), graft.ops.Ann.norm($"a").as("n"))
    val plan = viaCodegen.queryExecution.executedPlan.toString
    // "*(n)" is the executedPlan notation for a WholeStageCodegen stage; the
    // project carrying the kernels must sit inside one, with no UDF node
    assert(plan.contains("*(1) Project") && plan.contains("float_dot"), plan.take(1000))
    assert(!plan.contains("ScalaUDF") && !plan.toLowerCase.contains("batchevalpython"),
      plan.take(1000))
    val cg = viaCodegen.collect().map(r => r.getLong(0) ->
      (if (r.isNullAt(1)) None else Some(r.getDouble(1)),
        if (r.isNullAt(2)) None else Some(r.getDouble(2)),
        if (r.isNullAt(3)) None else Some(r.getDouble(3)))).toMap
    for (id <- Seq(1L, 3L, 4L)) assert(cg(id) === got(id), s"codegen vs eval for id=$id")
    assert(cg(2L)._1 === Some(0.0) && cg(2L)._2.exists(_.isNaN) && cg(2L)._3 === Some(0.0))
  }

  test("dedup: SemDeDup hot-cell cap drops mega-cells loudly, survivors still verify") {
    val s2 = spark
    import s2.implicits._
    // degenerate quantizer shape: one mega-cell (most mass on centroid 1)
    // plus a small healthy cell with its own planted duplicate
    val cents = Seq(Seq(1f, 0f, 0f, 0f), Seq(0f, 1f, 0f, 0f))
    val mega = (10L until 30L).map(i => (i, Seq(0.9f + 0.001f * i, 0.05f, 0f, 0f)))
    val rows = (mega ++ Seq(
      (1L, Seq(0.05f, 0.9f, 0f, 0f)),
      (2L, Seq(0.10f, 1.8f, 0f, 0f)) // ×2 dup of 1 in the small cell
    )).toDF("id", "vec")
    val uncapped = graft.ops.Dedup.semanticDedup(rows, "id", "vec", cents, 0.999)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(uncapped.contains((1L, 2L)) && uncapped.exists(_._1 >= 10L),
      s"fixture must have pairs in both cells, got $uncapped")
    // cap = 10 < the 20-vector mega-cell: its pairs drop (LOUDLY — the
    // drop is counted in semanticCapDropped and printed to stderr), the
    // small cell's planted duplicate still verifies
    val dropped0 = graft.ops.Dedup.semanticCapDropped.get()
    val capped = graft.ops.Dedup.semanticDedup(rows, "id", "vec", cents, 0.999,
        maxCellSize = 10)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(capped === Set((1L, 2L)), s"got $capped")
    // the listener delivery is async — poll briefly
    var spins = 0
    while (graft.ops.Dedup.semanticCapDropped.get() === dropped0 && spins < 20) {
      Thread.sleep(250); spins += 1
    }
    assert(graft.ops.Dedup.semanticCapDropped.get() > dropped0,
      "execution must report the drop")
    // an over-generous cap leaves the result untouched and drops nothing
    val dropped1 = graft.ops.Dedup.semanticCapDropped.get()
    val wide = graft.ops.Dedup.semanticDedup(rows, "id", "vec", cents, 0.999,
        maxCellSize = 1000)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(wide === uncapped)
    Thread.sleep(1000) // let any (wrongly) reported drop arrive
    assert(graft.ops.Dedup.semanticCapDropped.get() === dropped1)
  }

  test("dedup: SemDeDup centroids-as-table — kmeansCentroids end-to-end at k=256, " +
      "plan size O(1) in k, parity with the literal-column overload") {
    val s2 = spark
    import s2.implicits._
    val rnd = new scala.util.Random(11)
    val dim = 16
    val base = (0 until 300).map(i =>
      (i.toLong, Seq.fill(dim)((rnd.nextDouble() * 2 - 1).toFloat)))
    // ×2-scaled copies: exact in float, so argmax cell and cosine = 1 are
    // preserved under ANY quantizer — the pairs are partition-invariant
    val planted = base.take(10).map { case (i, v) => (i + 1000L, v.map(x => x * 2f)) }
    val emb = (base ++ planted).toDF("id", "vec")
    val centTbl = graft.ops.Ann.kmeansCentroids(emb, "id", "vec", k = 256, iters = 2)
    assert(centTbl.count() === 256)
    val pairs = graft.ops.Dedup.semanticDedup(emb, "id", "vec", centTbl, 0.999, 0, 1)
    val got = pairs.select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(base.take(10).map { case (i, _) => (i, i + 1000L) }.toSet.subsetOf(got),
      s"planted duplicates missing from $got")
    // plan-size guard: NO per-centroid literal array columns (the Seq
    // overload would carry 256 CreateArray literals and hit plan-size
    // limits at SemDeDup-realistic k) — the table form broadcasts the
    // centroids and assigns in one compiled UDF pass
    val creates = pairs.queryExecution.analyzed.collect {
      case p => p.expressions.flatMap(_.collect {
        case c: org.apache.spark.sql.catalyst.expressions.CreateArray => c
      })
    }.flatten.size
    assert(creates < 10, s"$creates literal arrays in the table-overload plan")
    // and the candidate join stays equi-shaped
    val plan = pairs.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      plan.take(1500))
    // parity with the oracle-gated literal overload at small k: same cells
    // (1-based, centroid order, first-max ties), same pairs. Both sides see
    // the SAME float-rounded centroids so the dot products are bit-identical.
    val cents8 = graft.ops.Ann.kmeansCentroids(emb, "id", "vec", k = 8, iters = 2)
      .orderBy("cell").collect()
      .map(_.getSeq[Double](1).map(_.toFloat).toSeq).toSeq
    val k8f = cents8.zipWithIndex.map { case (c, i) => ((i + 1).toLong, c) }
      .toDF("cell", "centroid")
    val viaSeq = graft.ops.Dedup.semanticDedup(emb, "id", "vec", cents8, 0.9)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val viaTbl = graft.ops.Dedup.semanticDedup(emb, "id", "vec", k8f, 0.9, 0, 1)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(viaSeq === viaTbl)
  }

  test("ann: sampled k-means fit — deterministic id-hash sample, fit is a pure " +
      "function of the sample, planted duplicates still verify end-to-end") {
    val s2 = spark
    import s2.implicits._
    val rnd = new scala.util.Random(23)
    val dim = 12
    val base = (0 until 240).map(i =>
      (i.toLong, Seq.fill(dim)((rnd.nextDouble() * 2 - 1).toFloat)))
    val planted = base.take(8).map { case (i, v) => (i + 5000L, v.map(_ * 2f)) }
    val emb = (base ++ planted).toDF("id", "vec")
    val fitA = graft.ops.Ann.kmeansCentroids(emb, "id", "vec", k = 16, iters = 3,
      sampleFraction = 0.5)
    val fitB = graft.ops.Ann.kmeansCentroids(emb, "id", "vec", k = 16, iters = 3,
      sampleFraction = 0.5)
    def mat(df: org.apache.spark.sql.DataFrame) = df.orderBy("cell").collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1)).toSeq
    // no RNG anywhere: two sampled fits are bit-identical
    assert(mat(fitA) === mat(fitB))
    assert(fitA.count() === 16)
    // the sample genuinely subsets the fit: a different fraction moves at
    // least one centroid (the full fit sees points the sample lacks)
    val full = graft.ops.Ann.kmeansCentroids(emb, "id", "vec", k = 16, iters = 3)
    assert(mat(fitA) !== mat(full), "0.5 sample fit should differ from the full fit")
    // end-to-end: assignment of the FULL corpus against sample-fit centroids
    // still verifies every planted pair (×2 duplicates share a cell under
    // ANY centroid set — and the verify is exact)
    val pairs = graft.ops.Dedup.semanticDedup(emb, "id", "vec", fitA, 0.999, 0, 1)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(base.take(8).map { case (i, _) => (i, i + 5000L) }.toSet.subsetOf(pairs),
      s"planted pairs missing from $pairs")
  }

  test("native matrix expressions: signBucket/bandBuckets/topDotCells match scalar " +
      "reimplementations, eval == codegen through a parquet scan, plan O(1) in H") {
    val s2 = spark
    import s2.implicits._
    val rnd = new scala.util.Random(7)
    val dim = 16
    val H = 30
    val planes = Array.fill(H)(Array.fill(dim)((rnd.nextDouble() * 2 - 1).toFloat))
    val cents = Array.fill(12)(Array.fill(dim)(rnd.nextDouble() * 2 - 1))
    val ids = Array.tabulate(12)(i => (i + 1).toLong)
    val rows = (0 until 64).map(i =>
        (i.toLong, Seq.fill(dim)((rnd.nextDouble() * 2 - 1).toFloat))) :+
      (99L, null.asInstanceOf[Seq[Float]])
    val df = rows.toDF("id", "vec")
    // scalar reference semantics: double fold in element order, strict > 0
    def refDot(v: Seq[Float], h: Array[Float]): Double =
      (0 until math.min(v.length, h.length)).foldLeft(0.0)((d, j) =>
        d + h(j).toDouble * v(j).toDouble)
    def refSign(v: Seq[Float]): Long =
      planes.indices.foldLeft(0L)((b, i) => if (refDot(v, planes(i)) > 0) b | (1L << i) else b)
    def refTop(v: Seq[Float], p: Int): Seq[Long] = {
      val dots = cents.map(c => (0 until math.min(v.length, c.length))
        .foldLeft(0.0)((d, j) => d + c(j) * v(j).toDouble))
      dots.zipWithIndex.sortBy { case (d, i) => (-d, i) }.take(p).map(x => ids(x._2)).toSeq
    }
    val bands = planes.grouped(10).toArray // 3 bands × 10 planes
    def refBands(v: Seq[Float]): Seq[Long] = bands.toSeq.map(hs =>
      hs.indices.foldLeft(0L)((b, i) => if (refDot(v, hs(i)) > 0) b | (1L << i) else b))
    import graft.functions.MatrixExpressions
    def run(src: org.apache.spark.sql.DataFrame) = src.select($"id",
      MatrixExpressions.signBucket($"vec", planes).as("sb"),
      MatrixExpressions.bandBuckets($"vec", bands).as("bb"),
      MatrixExpressions.topDotCells($"vec", cents, ids, 3).as("tc"))
    def grab(r: org.apache.spark.sql.DataFrame) = r.collect().map(x => x.getLong(0) ->
      (if (x.isNullAt(1)) None else Some(x.getLong(1)),
        if (x.isNullAt(2)) None else Some(x.getSeq[Long](2)),
        if (x.isNullAt(3)) None else Some(x.getSeq[Long](3)))).toMap
    val interp = grab(run(df)) // LocalTableScan → interpreted nullSafeEval
    for ((id, v) <- rows; if v != null) {
      assert(interp(id)._1 === Some(refSign(v)), s"signBucket id=$id")
      assert(interp(id)._2 === Some(refBands(v)), s"bandBuckets id=$id")
      assert(interp(id)._3 === Some(refTop(v, 3)), s"topDotCells id=$id")
    }
    assert(interp(99L) === ((None, None, None)), "null vector → null, never bucket 0")
    // codegen path (parquet scan): identical to interpreted, inside a
    // WholeStageCodegen span, with NO ScalaUDF and NO per-plane literal
    // arrays at H=30 (the k-literal plan disease this kernel family cures)
    val pq = java.nio.file.Files.createTempDirectory("graft-mexpr").toString
    df.write.mode("overwrite").parquet(pq)
    val viaCg = run(s2.read.parquet(pq))
    val plan = viaCg.queryExecution.executedPlan.toString
    assert(plan.contains("float_sign_bucket") && plan.contains("*(1) Project"),
      plan.take(1200))
    assert(!plan.contains("ScalaUDF"), plan.take(1200))
    val creates = viaCg.queryExecution.analyzed.expressions.flatMap(_.collect {
      case c: org.apache.spark.sql.catalyst.expressions.CreateArray => c
    }).size
    assert(creates === 0, s"$creates literal arrays leaked into the plan at H=$H")
    assert(grab(viaCg) === interp, "codegen vs interpreted")
  }

  test("dedup: passage locate surface - duplicated windows at exact token offsets") {
    val s2 = spark
    import s2.implicits._
    val shared = "the quick brown fox jumps over the lazy dog tonight" // 10 tokens
    val docs = Seq(
      (1L, s"alpha beta $shared gamma"),                               // shared at token 3
      (2L, s"unrelated words here $shared and more tail content okay"), // shared at token 4
      (3L, "totally different text with no overlap at all whatsoever friend")
    ).toDF("doc_id", "text")
    val loc = graft.ops.Dedup.passageDupLocations(docs, "doc_id", "text", window = 8)
      .select("doc_id", "start").as[(Long, Int)].collect().toSet
    // 10 shared tokens ⇒ 3 duplicated 8-token windows per doc, starting at
    // the passage offset (1-based): doc 1 at 3,4,5; doc 2 at 4,5,6
    assert(loc === Set((1L, 3), (1L, 4), (1L, 5), (2L, 4), (2L, 5), (2L, 6)), s"got $loc")
  }

  test("plan guard: contamination and excision stay equi-join-shaped — no cartesian, no doc self-blowup") {
    val s2 = spark
    import s2.implicits._
    val docs = (0 until 30).map(i => (i.toLong, s"token$i shared common words appear here $i tail end"))
      .toDF("doc_id", "text")
    val bench = docs.filter(col("doc_id") % 5 === 0).select(col("text"))
    val cont = graft.ops.Dedup.contamination(docs, "doc_id", "text", bench, "text", window = 3)
    cont.collect()
    val cplan = cont.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    // the gram join must be hash/broadcast equi on h — a nested-loop
    // product here would be quadratic in corpus windows
    assert(!cplan.contains("CartesianProduct") && !cplan.contains("BroadcastNestedLoop"),
      cplan.take(1500))
    val locs = graft.ops.Dedup.passageDupLocations(docs, "doc_id", "text", window = 3)
    val exc = graft.ops.Dedup.excisePassages(docs, "doc_id", "text", locs, window = 3)
    exc.collect()
    val eplan = exc.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    // one corpus-side equi-join against the per-doc start lists; the
    // rebuild is a per-row projection, never a product
    assert(!eplan.contains("CartesianProduct") && !eplan.contains("BroadcastNestedLoop"),
      eplan.take(1500))
  }

  test("plan guard: passage dedup is join-free — one equi-shuffle aggregation") {
    val s2 = spark
    import s2.implicits._
    val docs = (0 until 20).map(i => (i.toLong, s"token$i shared common words appear here $i tail"))
      .toDF("doc_id", "text")
    val dups = graft.ops.Dedup.passageDups(docs, "doc_id", "text", window = 3)
    dups.collect()
    // the operator is explode → groupBy(hash): any join (let alone a
    // nested-loop product) or a second data-shaped exchange appearing here
    // means the aggregation shape regressed — fail loudly, not slowly
    val plan = dups.queryExecution.executedPlan.toString
    assert(!plan.contains("Join"), plan.take(1500))
    assert(!plan.contains("CartesianProduct"), plan.take(1500))
    // AQE's toString repeats the tree under "== Initial Plan =="; count the
    // final plan only. Two exchanges = the distinct-count two-phase shape
    // (hash(h, doc_id) then hash(h)) — both narrow, both equi.
    val finalPlan = plan.split("== Initial Plan ==")(0)
    val exchanges = "Exchange".r.findAllIn(finalPlan).length
    assert(exchanges <= 2, s"$exchanges exchanges in:\n${finalPlan.take(1500)}")
  }

  test("plan guard: passageDupLocations runs the tokenize+hash pass ONCE — " +
      "both stages read the materialized window table") {
    val s2 = spark
    import s2.implicits._
    val shared = "one two three four five six seven eight nine ten"
    val docs = Seq(
      (1L, s"head $shared tail"),
      (2L, s"other prefix words $shared trailing stuff here"),
      (3L, "entirely different content with no repeats anywhere at all")
    ).toDF("doc_id", "text")
    val locs = graft.ops.Dedup.passageDupLocations(docs, "doc_id", "text", window = 8)
    // the consumer plan must contain NO Generate (posexplode) and NO UDF:
    // the window pass pre-executed into the checkpointed table, so seeing
    // either means the corpus's most expensive scan re-entered the plan —
    // and would run once per join side again (the round-6 double pass)
    val plan = locs.queryExecution.executedPlan.toString
    assert(!plan.contains("Generate"), plan.take(1500))
    assert(!plan.contains("UDF") && !plan.contains("ScalaUDF"), plan.take(1500))
    // both stages read the one RDD scan; the join stays equi-shaped
    assert(plan.contains("ExistingRDD") || plan.contains("Scan"), plan.take(1500))
    assert(!plan.contains("CartesianProduct"), plan.take(1500))
    // semantics unchanged: every occurrence of the cross-doc window located
    // the 10-token shared run holds three 8-token windows; it starts at
    // token 2 of doc 1 and token 4 of doc 2 (1-based)
    val got = locs.select("doc_id", "start").as[(Long, Long)].collect().toSet
    assert(got === Set((1L, 2L), (1L, 3L), (1L, 4L), (2L, 4L), (2L, 5L), (2L, 6L)),
      s"got $got")
  }

  test("pq: encode/adc native expressions match scalar reimplementations, " +
      "eval == codegen through a parquet scan, null-safe, plan UDF-free") {
    val s2 = spark
    import s2.implicits._
    val rnd = new scala.util.Random(11)
    val dim = 16
    val m = 4
    val dsub = dim / m
    val cbs = Array.fill(m, 5)(Array.fill(dsub)(rnd.nextDouble() * 2 - 1))
    val rows = (0 until 50).map(i =>
        (i.toLong, Seq.fill(dim)((rnd.nextDouble() * 2 - 1).toFloat))) ++
      Seq((98L, Seq.fill(dim - 3)((rnd.nextDouble() * 2 - 1).toFloat)), // short → zero-pad
        (99L, null.asInstanceOf[Seq[Float]]))
    val df = rows.toDF("id", "vec")
    val q = Seq.fill(dim)((rnd.nextDouble() * 2 - 1).toFloat)
    val lut = graft.ops.Ann.adcLut(q, cbs)
    // scalar reference: argmin L2 per subspace (first-min), Σ lut in s order
    def refEncode(v: Seq[Float]): Seq[Byte] = (0 until m).map { s =>
      val ds = (0 until 5).map { c =>
        (0 until dsub).foldLeft(0.0) { (d, j) =>
          val x = if (s * dsub + j < v.length) v(s * dsub + j).toDouble else 0.0
          val diff = x - cbs(s)(c)(j); d + diff * diff
        }
      }
      ds.zipWithIndex.minBy { case (d, c) => (d, c) }._2.toByte
    }
    def refAdc(codes: Seq[Byte]): Double =
      codes.zipWithIndex.map { case (c, s) => lut(s)(c & 0xFF) }.sum
    def run(src: org.apache.spark.sql.DataFrame) = src.select($"id",
      graft.ops.Ann.encodePq($"vec", cbs).as("codes"),
      graft.functions.PqExpressions.adcDot(
        graft.ops.Ann.encodePq($"vec", cbs), lut).as("adc"))
    def grab(r: org.apache.spark.sql.DataFrame) = r.collect().map(x => x.getLong(0) ->
      (if (x.isNullAt(1)) None else Some(x.getAs[Array[Byte]](1).toSeq),
        if (x.isNullAt(2)) None else Some(x.getDouble(2)))).toMap
    val interp = grab(run(df))
    for ((id, v) <- rows; if v != null) {
      val exp = refEncode(v)
      assert(interp(id)._1 === Some(exp), s"encode id=$id")
      assert(interp(id)._2 === Some(refAdc(exp)), s"adc id=$id")
    }
    assert(interp(99L) === ((None, None)), "null vector → null codes, null adc")
    val pq = java.nio.file.Files.createTempDirectory("graft-pqexpr").toString
    df.write.mode("overwrite").parquet(pq)
    val viaCg = run(s2.read.parquet(pq))
    val plan = viaCg.queryExecution.executedPlan.toString
    assert(plan.contains("pq_encode") && plan.contains("*(1) Project"), plan.take(1200))
    assert(!plan.contains("ScalaUDF"), plan.take(1200))
    assert(grab(viaCg) === interp, "codegen vs interpreted")
  }

  test("pq: codebook fit is deterministic and one-scan-per-iteration; exact " +
      "reconstruction data makes ADC equal the exact dot; rerank recovers " +
      "brute-force top-k; indexed layout round-trips") {
    val s2 = spark
    import s2.implicits._
    val rnd = new scala.util.Random(31)
    val dim = 16
    val m = 4
    val dsub = dim / m
    // 6 exact "prototype" subvector values per subspace; every vector is a
    // combination of prototypes. Ids 0..5 are the PURE combinations (vector
    // i uses prototype i in every subspace) so the deterministic seeds (the
    // ksub smallest ids) land exactly ON the prototypes — Lloyd then stays
    // there (each cluster's mean is its prototype) and reconstruction is
    // EXACT. Random seeds can merge prototypes into a local minimum — the
    // generic k-means caveat, not a kernel property this test pins.
    val protos = Array.fill(m, 6)(Seq.fill(dsub)((rnd.nextDouble() * 2 - 1).toFloat))
    val vecs = (0 until 200).map { i =>
      val pick = (s: Int) => if (i < 6) i else rnd.nextInt(6)
      (i.toLong, (0 until m).flatMap(s => protos(s)(pick(s))))
    }
    val df = vecs.toDF("id", "vec").localCheckpoint(true) // freeze the fixture plan
    // all m subspace fits share ONE treeAggregate per iteration: the whole
    // 8-iteration fit costs ≤ seeds + 8 jobs (+1 slack for the checkpoint
    // read) — a per-subspace loop would cost ~m× the iteration jobs
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    s2.sparkContext.addSparkListener(listener)
    val fitA =
      try {
        val f = graft.ops.Ann.pqCodebooks(df, "id", "vec", m, ksub = 6, iters = 8)
        // listener events post asynchronously — wait until the count settles
        var last = -1
        var spins = 0
        while (jobs.get() != last && spins < 20) {
          last = jobs.get(); Thread.sleep(250); spins += 1
        }
        f
      } finally s2.sparkContext.removeSparkListener(listener)
    assert(jobs.get() <= 10, s"${jobs.get()} jobs for an 8-iteration m=4 fit — " +
      "the subspace fits must share one scan per iteration")
    val fitB = graft.ops.Ann.pqCodebooks(df, "id", "vec", m, ksub = 6, iters = 8)
    assert(fitA.map(_.map(_.toSeq).toSeq).toSeq === fitB.map(_.map(_.toSeq).toSeq).toSeq,
      "fit must be deterministic")
    // converged codebooks are the prototypes (as sets, per subspace)
    for (s <- 0 until m) {
      val got = fitA(s).map(_.map(x => math.round(x * 1e6) / 1e6).toSeq).toSet
      val exp = protos(s).map(_.map(x => math.round(x.toDouble * 1e6) / 1e6).toSeq).toSet
      assert(got === exp, s"subspace $s codebook should converge onto the prototypes")
    }
    // exact reconstruction ⇒ ADC == exact dot (same element-order folds, to
    // double round-off across the per-subspace regrouping)
    val q = Seq.fill(dim)((rnd.nextDouble() * 2 - 1).toFloat)
    val codes = df.select($"id", graft.ops.Ann.encodePq($"vec", fitA).as("codes"))
    val adc = graft.ops.Ann.topkPqAdc(codes, "id", "codes", q, fitA, 200)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val exact = vecs.map { case (id, v) =>
      id -> v.zip(q).foldLeft(0.0) { case (d, (a, b)) => d + a.toDouble * b.toDouble }
    }.toMap
    for ((id, e) <- exact)
      assert(math.abs(adc(id) - e) < 1e-9, s"id=$id adc=${adc(id)} exact=$e")
    // two-stage rerank returns the exact brute-force top-k here (shortlist
    // big enough + exact reconstruction)
    val rr = graft.ops.Ann.topkPqRerank(df, "id", "vec", q, fitA, k = 10, shortlist = 40)
      .collect().map(_.getLong(0)).toSeq
    val brute = graft.ops.Ann.topkBrute(df, "id", "vec", q, 10)
      .collect().map(_.getLong(0)).toSeq
    assert(rr === brute)
    // indexed layout: build → query equals the direct ADC scan; codes are
    // m bytes (the 4·dim/m compression the layout exists for)
    val dir = java.nio.file.Files.createTempDirectory("graft-pqidx").toString
    graft.ops.Ann.buildPqIndex(df, "id", "vec", dir, m, ksub = 6, iters = 8)
    val viaIdx = graft.ops.Ann.topkPqIndexed(s2, dir, "id", q, 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val direct = graft.ops.Ann.topkPqAdc(codes, "id", "codes", q, fitA, 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(viaIdx === direct)
    val width = s2.read.parquet(s"$dir/codes")
      .select(length($"codes")).distinct().collect().map(_.getInt(0)).toSeq
    assert(width === Seq(m), s"codes must be exactly $m bytes (got $width)")
    // sampled fit stays a pure function of the sample (no RNG)
    val sA = graft.ops.Ann.pqCodebooks(df, "id", "vec", m, 6, 4, sampleFraction = 0.5)
    val sB = graft.ops.Ann.pqCodebooks(df, "id", "vec", m, 6, 4, sampleFraction = 0.5)
    assert(sA.map(_.map(_.toSeq).toSeq).toSeq === sB.map(_.map(_.toSeq).toSeq).toSeq)
  }

  test("repetition: Gopher metrics pinned on hand-computed docs (dup-token " +
      "fraction, top-n-gram char mass, ties, empty/short edges)") {
    val s2 = spark
    import s2.implicits._
    val df = Seq(
      // "spam spam spam eggs": 4 tokens, 2 distinct → dup 2/4; denom 4+4+4+4=16
      // top-2gram "spam spam" cnt 2, len 8 → 16/16 = 1.0
      // top-3gram "spam spam spam" cnt 1 (ties → lexicographic smallest:
      // "spam spam eggs" vs "spam spam spam" → "spam spam eggs" wins), len 12 → 12/16
      (1L, "spam spam spam eggs"),
      (2L, "all distinct tokens here"), // dup 0; every 2-gram cnt 1 → tie → "all distinct" len 11 / denom 21
      (3L, ""), // empty → all zeros
      (4L, "one")) // 1 token: dup 0, no n-grams → tops 0
      .toDF("id", "text")
    val r = graft.ops.TextOps.repetition(col("text"))
    val got = df.select(col("id"), r.getField("dup_token_frac").as("d"),
        r.getField("top2gram_char_frac").as("t2"),
        r.getField("top3gram_char_frac").as("t3"),
        r.getField("top4gram_char_frac").as("t4"))
      .collect().map(x => x.getLong(0) ->
        ((x.getDouble(1), x.getDouble(2), x.getDouble(3), x.getDouble(4)))).toMap
    assert(got(1L) === ((0.5, 1.0, 12.0 / 16.0, 16.0 / 16.0)))
    assert(got(2L) === ((0.0, 11.0 / 21.0, 17.0 / 21.0, 21.0 / 21.0)))
    assert(got(3L) === ((0.0, 0.0, 0.0, 0.0)))
    assert(got(4L) === ((0.0, 0.0, 0.0, 0.0)))
  }

  test("ivf-pq: nprobe=cells equals the full PQ scan; nprobe=1 finds the " +
      "query's own cluster; the cell filter is pushed to the parquet scan") {
    val s2 = spark
    import s2.implicits._
    val rnd = new scala.util.Random(47)
    val dim = 16
    // 4 tight clusters around well-separated anchors — the coarse quantizer
    // recovers them, and a query near one anchor finds its cluster at
    // nprobe=1
    val anchors = Array.fill(4)(Array.fill(dim)(rnd.nextDouble() * 2 - 1))
    val vecs = (0 until 160).map { i =>
      val a = anchors(i % 4)
      (i.toLong, a.map(x => (x + (rnd.nextDouble() - 0.5) * 0.05).toFloat).toSeq)
    }
    val df = vecs.toDF("id", "vec")
    val dir = java.nio.file.Files.createTempDirectory("graft-ivfpq").toString
    graft.ops.Ann.buildIvfPq(df, "id", "vec", dir, cells = 4, coarseIters = 4,
      m = 4, ksub = 8, pqIters = 4)
    val q = anchors(2).map(x => (x + 0.01).toFloat).toSeq
    // probing every cell == the cell-less full-code ADC scan (same scores)
    val allCells = graft.ops.Ann.topkIvfPq(s2, dir, "id", q, k = 10, nprobe = 4)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val fullScan = graft.ops.Ann.topkPqAdc(
        s2.read.parquet(s"$dir/codes"), "id", "codes", q,
        graft.ops.Ann.pqCodebooks(df, "id", "vec", 4, 8, 4), k = 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(allCells === fullScan)
    // nprobe=1 scans one cell and still returns cluster-2 members only
    val one = graft.ops.Ann.topkIvfPq(s2, dir, "id", q, k = 10, nprobe = 1)
    val plan = one.queryExecution.executedPlan.toString
    // the probe filter reaches the scan → file pruning (a 1-element isin
    // constant-folds to EqualTo; either form proves the pushdown)
    val pushed = plan.toLowerCase
    assert(pushed.contains("pushedfilters") &&
      (pushed.contains("equalto(cell") || pushed.contains("in(cell")), plan.take(1500))
    val ids = one.collect().map(_.getLong(0)).toSeq
    assert(ids.nonEmpty && ids.forall(_ % 4 === 2L),
      s"nprobe=1 should return only the query's cluster (got $ids)")
  }
}
