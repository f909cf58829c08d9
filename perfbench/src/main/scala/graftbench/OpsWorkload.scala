package graftbench

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.ops.{Dedup, TextOps}

/** `corpus_ops`: the training-data pipelines over a corpus with planted
  * near-duplicates, repeated passages and evaluation-set leaks — minhash-LSH
  * dedup, passage excision and contamination scoring — one pass after
  * another (closed loop, one client). No index is involved. Set-up
  * computes the corpus' shingle sets and minhash signatures, which the
  * dedup pipeline then reuses.
  */
object OpsWorkload {
  val Docs = 2000
  val BenchDocs = 60
  val DupShare = 0.08
  val PassageShare = 0.10
  val ContamShare = 0.05
  val Window = 8
  val Hashes = 32
  val Bands = 16
  val MinJaccard = 0.5
  val SetupReps = 3
  val WarmSeconds = 12.0
  val Pipelines: Seq[String] = Seq("dedup", "excise", "decontam")

  def run(ctx: Ctx): Result = {
    val spark = ctx.spark
    val t = ctx.tracer
    val (docs, bench, planted) = Gen.opsCorpus(ctx.seed, Docs, BenchDocs, DupShare, PassageShare, ContamShare)
    def frame(ds: Array[Doc]): DataFrame = spark.createDataFrame(
      spark.sparkContext.parallelize(ds.toSeq.map(d => Row(d.id.toLong, d.text)), ctx.cores), Main.opsSchema)
    val corpus = frame(docs).cache()
    val evalSet = frame(bench).cache()
    corpus.count()
    evalSet.count()
    def shingled: DataFrame = corpus.select(col("doc_id"), TextOps.shingles(col("text"), 3).as("sh"))
    def signed: DataFrame = shingled.withColumn("sig", Dedup.minhash(col("sh"), Hashes))
    def candidates(sig: DataFrame): DataFrame = Dedup.lshCandidates(sig, "doc_id", "sig", Bands)
    def verified(sig: DataFrame, cand: DataFrame): DataFrame =
      Dedup.jaccard(cand, sig, "doc_id", "sh").filter(col("jaccard") >= MinJaccard)
    // set-up, repeated: the shingle sets and minhash signatures of the
    // corpus, computed and pinned in Spark storage; dedup reuses them
    var sigs: DataFrame = null
    val setups = (1 to SetupReps).map { _ =>
      if (sigs != null) sigs.unpersist(blocking = true)
      ctx.time { sigs = signed.cache(); sigs.count() }._2
    }
    ctx.log(f"set-up ${setups.mkString(", ")} s")
    // planted truth, from the generator's tokens
    val dupTruth = Oracle.nearDupTruth(docs, planted, MinJaccard).map { case (p, j) => p -> Oracle.q(j) }
    val exciseTruth = Oracle.excisionTruth(docs, Window)
    val contamTruth = Oracle.contaminationTruth(docs, bench, Window)
    val byId = docs.map(d => d.id -> d).toMap

    // each pipeline: its timed part, returning the collected rows, and the
    // check of those rows against the planted truth (not timed)
    def dedup(tr: Tracer): Array[Row] = tr.span("ops.dedup")(verified(sigs, candidates(sigs)).collect())
    def dedupOk(rows: Array[Row]): Boolean = Oracle.dedupOk(
      rows.map(r => (r.getLong(0).toInt, r.getLong(1).toInt) -> Oracle.q(r.getDouble(2))).toMap, dupTruth, byId)

    def excise(tr: Tracer): Array[Row] = tr.span("ops.excise") {
      val locs = Dedup.passageDupLocations(corpus, "doc_id", "text", Window)
      Dedup.excisePassages(corpus, "doc_id", "text", locs, Window).collect()
    }
    def exciseOk(rows: Array[Row]): Boolean =
      Oracle.exciseOk(rows.toSeq.map(r => r.getLong(0).toInt -> (r.getInt(2), r.getString(1))), exciseTruth)

    def decontam(tr: Tracer): Array[Row] = tr.span("ops.contamination") {
      Dedup.contamination(corpus, "doc_id", "text", evalSet, "text", Window).collect()
    }
    def decontamOk(rows: Array[Row]): Boolean =
      rows.map(r => r.getLong(0).toInt -> (r.getLong(1), r.getLong(2))).toMap == contamTruth

    val run: Map[String, (Tracer => Array[Row], Array[Row] => Boolean)] = Map(
      "dedup" -> (dedup _, dedupOk _), "excise" -> (excise _, exciseOk _), "decontam" -> (decontam _, decontamOk _))
    // warm-up passes, at least two, until JIT and codegen of every pipeline
    // have settled
    val warmEnd = System.nanoTime() + (WarmSeconds * 1e9).toLong
    var warmPasses = 0
    while (warmPasses < 2 || System.nanoTime() < warmEnd) {
      Pipelines.foreach(p => run(p)._1(Tracer.Off))
      warmPasses += 1
    }
    ctx.log("warm")

    val recs = scala.collection.mutable.ArrayBuffer.empty[(String, Double, Boolean, Boolean)]
    val snap0 = ctx.counters.snap
    val start = System.nanoTime()
    val deadline = start + (ctx.seconds * 1e9).toLong
    var i = 0
    // whole passes only, at least two (a traced run alternates traced and
    // untraced passes)
    while (System.nanoTime() < deadline || i % Pipelines.length != 0 || i < 2 * Pipelines.length) {
      val p = Pipelines(i % Pipelines.length)
      val traced = ctx.traced && (i / Pipelines.length) % 2 == 0
      val tr = if (traced) t else Tracer.Off
      val (rows, s) = ctx.time {
        try Some(tr.op(p)(run(p)._1(tr)))
        catch { case e: Exception => ctx.log(s"$p failed: $e"); None }
      }
      recs += ((p, s, rows.exists(run(p)._2), traced))
      i += 1
    }
    val wall = (System.nanoTime() - start) / 1e9
    ctx.log("measured " + recs.map(r => f"${r._1}:${r._2}%.2f").mkString(" "))
    val snap1 = ctx.counters.snap
    def med(p: String, sel: ((String, Double, Boolean, Boolean)) => Boolean = _ => true) =
      Stats.median(recs.filter(r => r._1 == p && sel(r)).map(_._2).toSeq)
    val pass = Pipelines.map(med(_)).sum
    val docsPerS = Docs * recs.length / recs.map(_._2).sum
    val e2e = Map(
      "setup_s" -> (Stats.median(setups), "s"),
      "op_median_ms" -> (pass / Pipelines.length * 1e3, "ms"))
    val report = e2e ++ Map(
      "docs_per_s" -> (docsPerS, "1/s"),
      "dedup_docs_per_s" -> (Docs / med("dedup"), "1/s"),
      "excise_docs_per_s" -> (Docs / med("excise"), "1/s"),
      "decontam_docs_per_s" -> (Docs / med("decontam"), "1/s"),
      "passes" -> (recs.length.toDouble / Pipelines.length, "count"),
      "samples_min" -> (Pipelines.map(p => recs.count(_._1 == p)).min.toDouble, "count"),
      "planted_pairs" -> (dupTruth.size.toDouble, "count"))
    val layers =
      if (!ctx.traced) Map.empty[String, (Double, String)]
      else {
        // stage self times: cumulative prefixes of each pipeline, each run
        // into a noop sink (the pipelines are lazy until their collect); a
        // stage's self time is the difference of two prefix medians, at
        // least 0
        def noop(df: => DataFrame): Double =
          Stats.median((1 to 3).map(_ => ctx.time(df.write.format("noop").mode("overwrite").save())._2))
        def self(prefix: Double, before: Double): Double = math.max(0.0, prefix - before)
        val minhashS = noop(signed)
        val candS = noop(candidates(sigs))
        val verifyS = noop(verified(sigs, candidates(sigs)))
        val windowS = noop(corpus.select(explode(Dedup.passageHashes(col("text"), Window))))
        def locs = Dedup.passageDupLocations(corpus, "doc_id", "text", Window)
        val locS = noop(locs)
        val exciseS = noop(Dedup.excisePassages(corpus, "doc_id", "text", locs, Window))
        val cand = candidates(sigs).localCheckpoint()
        val nCand = cand.count()
        val nVer = verified(sigs, cand).count()
        Map(
          "ops.minhash_s" -> (minhashS, "s"),
          "ops.lsh_candidates_s" -> (candS, "s"),
          "ops.verify_s" -> (self(verifyS, candS), "s"),
          "ops.candidate_pairs" -> (nCand.toDouble, "count"),
          "ops.verified_pairs" -> (nVer.toDouble, "count"),
          "ops.lsh_precision" -> (if (nCand == 0) 0.0 else nVer.toDouble / nCand, "ratio"),
          "ops.window_hash_s" -> (windowS, "s"),
          "ops.dup_locations_s" -> (self(locS, windowS), "s"),
          "ops.excise_s" -> (self(exciseS, locS), "s"),
          "ops.contamination_s" -> (med("decontam", _._4), "s"),
          "analysis.kernel_tokens_per_s" -> (Kernels.tokensPerS(docs), "1/s"),
          "trace.coverage" -> (t.coverage(Pipelines), "ratio"),
          "trace.overhead" -> (Pipelines.map(med(_, _._4)).sum / Pipelines.map(med(_, !_._4)).sum - 1.0, "ratio")) ++
          Main.sparkLayer(ctx, snap0, snap1, recs.length, wall)
      }
    val failed = recs.count(!_._3).toLong
    Result(recs.length.toLong, failed, e2e, report, layers)
  }
}
