package graftbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions.col

import graft.exec.Searcher

/** `search`: set-up builds, saves and loads an index of a seeded code
  * corpus; then a read-only stream of query strings runs against it in a
  * closed loop with two clients.
  */
object SearchWorkload {
  // two salt buckets: WAND runs one partition, with its own top-10 heap, per
  // bucket; more docs would push a run's three set-ups past its time budget
  val Docs = 2 << graft.index.IndexBuilder.SaltShift
  val Clients = 2
  val PoolPerKind = 120
  val SetupReps = 3
  val WarmSeconds = 5.0

  final case class Rec(q: QuerySpec, ms: Double, ok: Boolean, first: Boolean, traced: Boolean,
      files: Long, rows: Long)

  /** Closed loop: each client thread issues the next stream entry as soon
    * as its previous one returns, until the deadline. Returns the count.
    */
  def closedLoop(stream: Array[QuerySpec], seconds: Double)(body: (Int, QuerySpec) => Unit): Int = {
    val next = new AtomicInteger(0)
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    val threads = (0 until Clients).map { _ =>
      val th = new Thread(() =>
        while (System.nanoTime() < deadline) {
          val i = next.getAndIncrement()
          body(i, stream(i % stream.length))
        })
      th.start()
      th
    }
    threads.foreach(_.join())
    next.get()
  }

  def run(ctx: Ctx): Result = {
    val spark = ctx.spark
    val t = ctx.tracer
    val docs = Gen.corpus(ctx.seed, Docs)
    val srcBytes = docs.map(_.text.length.toLong).sum
    val src = Main.sourceFrame(spark, docs, ctx.cores).cache()
    src.count()
    // set-up, repeated: build → save → load (in a traced run each is
    // preceded by the build's prefix stages, run on their own); the first
    // repetition also pays the JVM's JIT and codegen warm-up
    val prefixes = scala.collection.mutable.ArrayBuffer.empty[(Double, Double)]
    var setup: QueryExec.Setup = null
    val setupS = (1 to SetupReps).map { _ =>
      if (setup != null) setup.idx.termDict.unpersist()
      if (ctx.traced) prefixes += QueryExec.buildPrefixes(t, ctx, src)
      val (s, total) = ctx.time(t.op("setup")(QueryExec.buildSaveLoad(t, ctx, src, ctx.freshDir("index"))))
      setup = s
      (s, total)
    }
    src.unpersist()
    ctx.log(f"set-up ${setupS.map(_._2).mkString(", ")} s")
    val idx = setup.idx
    val cached = Main.cachedMb(spark)
    val searcher = new Searcher(idx)
    val oracle = new SearchOracle(docs)
    val stream = Gen.queryStream(ctx.seed, docs, PoolPerKind, 20000)
    val expect: Map[QuerySpec, Map[Int, Double]] = {
      import scala.concurrent.{Await, Future}
      import scala.concurrent.ExecutionContext.Implicits.global
      val all = Future.traverse(stream.distinct.toSeq)(q => Future(q -> oracle.matches(q)))
      Await.result(all, scala.concurrent.duration.Duration.Inf).toMap
    }
    ctx.log(s"oracle: ${expect.size} distinct queries")
    // the first answered query, then warm-up traffic from a stream of
    // another seed until JIT compilation has settled
    val warm = Gen.queryStream(ctx.seed + 7777, docs, PoolPerKind, 20000)
    val (_, firstS) = ctx.time(QueryExec.run(Tracer.Off, searcher, warm.head))
    closedLoop(warm, WarmSeconds)((_, q) => QueryExec.run(Tracer.Off, searcher, q))
    ctx.log("warm")

    val recs = new ConcurrentLinkedQueue[Rec]()
    val seen = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    val decoded0 = searcher.wandDecoded.value
    val snap0 = ctx.counters.snap
    val start = System.nanoTime()
    closedLoop(stream, ctx.seconds) { (i, q) =>
      // whole cycles through the kinds alternate traced and untraced: the
      // untraced half measures the tracing overhead on the same query mix
      val traced = ctx.traced && (i / Gen.Kinds.length) % 2 == 0
      val t0 = System.nanoTime()
      val r =
        try {
          val (ans, df) =
            if (traced) t.op(q.cls)(QueryExec.run(t, searcher, q)) else QueryExec.run(Tracer.Off, searcher, q)
          val ms = (System.nanoTime() - t0) / 1e6
          val (files, rows) = if (traced) Main.scanWork(df) else (0L, 0L)
          Rec(q, ms, QueryExec.check(q, ans, expect(q)), seen.add(q.text), traced, files, rows)
        } catch {
          case e: Exception =>
            ctx.log(s"query '${q.text}' failed: $e")
            Rec(q, (System.nanoTime() - t0) / 1e6, ok = false, seen.add(q.text), traced, 0L, 0L)
        }
      recs.add(r)
    }
    val wall = (System.nanoTime() - start) / 1e9
    ctx.log("measured")
    val snap1 = ctx.counters.snap
    val decoded = searcher.wandDecoded.value - decoded0
    val all = recs.asScala.toSeq
    val ms = all.map(_.ms)
    val qps = all.length / wall
    val kindMedians = Gen.Kinds.map(k => k -> Stats.median(all.filter(_.q.kind == k).map(_.ms))).toMap
    val setups = setupS.map(_._1)
    val e2e = Map(
      "setup_s" -> (Stats.median(setupS.map(_._2)), "s"),
      "op_median_ms" -> (Stats.mean(kindMedians.values.toSeq), "ms"))
    val report = e2e ++ Map(
      "query_p50_ms" -> (Stats.median(ms), "ms"),
      "query_qps" -> (qps, "1/s"),
      "queries" -> (all.length.toDouble, "count"),
      "samples_min" -> (Gen.Kinds.map(k => all.count(_.q.kind == k)).min.toDouble, "count"),
      "build_docs_per_s" -> (Docs / Stats.median(setups.map(s => s.buildS + s.saveS)), "1/s"),
      "open_s" -> (Stats.median(setups.map(_.loadS)) + firstS, "s"),
      "index_bytes_per_source_byte" -> (Main.du(setup.dir).toDouble / srcBytes, "ratio"),
      "cached_mb" -> (cached, "MB")) ++
      kindMedians.map { case (k, v) => s"query_${k}_p50_ms" -> (v, "ms") } ++
      Stats.tail(ms).map { case (p, v) => s"query_p${p}_ms" -> (v, "ms") }
    val layers =
      if (!ctx.traced) Map.empty[String, (Double, String)]
      else {
        val tr = all.filter(_.traced)
        val untr = all.filterNot(_.traced)
        val byCls = Gen.Classes.map(c => s"exec.${c}_ms" -> (Stats.median(tr.filter(_.q.cls == c).map(_.ms)), "ms"))
        // WAND-routed queries (term, or): blocks decoded vs every block of
        // their terms, the latter counted from the generator's postings
        val wandQs = all.filter(r => r.q.cls == "term" || r.q.cls == "or")
        val candidates = wandQs.map(_.q.terms.distinct.map(oracle.blocksOf).sum).sum
        val kernels = stream.distinct.take(60).flatMap(q => Kernels.queryMs(idx, oracle, q))
          .groupBy(_._1).map { case (k, v) => k -> (Stats.median(v.map(_._2)), "ms") }
        val sample = stream.distinct.flatMap(_.terms).distinct.take(50)
        val blocks = idx.blocks.filter(col("field") === "content" && col("term").isin(sample: _*)).collect()
        val d = setup.dir
        def per(n: Long) = n.toDouble / math.max(1, tr.length)
        Map(
          "index.prepare_docs_s" -> (Stats.median(prefixes.map(_._1).toSeq), "s"),
          "analysis.tokenize_s" -> (Stats.median(prefixes.map(p => p._2 - p._1).toSeq), "s"),
          "index.block_encode_s" -> (Stats.median(setups.zip(prefixes).map { case (s, p) => s.buildS - p._2 }), "s"),
          "index.save_s" -> (Stats.median(setups.map(_.saveS)), "s"),
          "index.load_s" -> (Stats.median(setups.map(_.loadS)), "s"),
          "index.tokens" -> (idx.fieldStats.values.map(_.sumTotalTermFreq).sum.toDouble, "count"),
          "index.blocks" -> (idx.blocks.count().toDouble, "count"),
          "index.terms" -> (idx.termDict.count().toDouble, "count"),
          "index.postings_bytes" -> (Main.du(s"$d/postings").toDouble, "bytes"),
          "index.docs_bytes" -> (Main.du(s"$d/docs").toDouble, "bytes"),
          "index.termdict_bytes" -> (Main.du(s"$d/termdict").toDouble, "bytes"),
          "index.termgrams_bytes" -> (Main.du(s"$d/termgrams").toDouble, "bytes"),
          "index.kernel_decode_us_per_block" -> (Kernels.decodeUsPerBlock(blocks), "us"),
          "analysis.kernel_tokens_per_s" -> (Kernels.tokensPerS(docs), "1/s"),
          "query.parse_us" -> (Stats.median(t.durationsMs("query.parse")) * 1e3, "us"),
          "exec.lookup_ms" -> (Stats.median(t.durationsMs("exec.lookup")), "ms"),
          "exec.execute_ms" -> (Stats.median(t.durationsMs("exec.execute")), "ms"),
          "exec.files_read" -> (per(tr.map(_.files).sum), "count"),
          "exec.rows_scanned" -> (per(tr.map(_.rows).sum), "count"),
          "exec.wand_decoded_blocks" -> (decoded.toDouble / math.max(1, wandQs.length), "count"),
          "exec.wand_candidate_blocks" -> (candidates.toDouble / math.max(1, wandQs.length), "count"),
          "exec.wand_decode_ratio" -> (if (candidates == 0) 0.0 else decoded.toDouble / candidates, "ratio"),
          "exec.first_ms" -> (Stats.median(tr.filter(_.first).map(_.ms)), "ms"),
          "exec.repeat_ms" -> (Stats.median(tr.filterNot(_.first).map(_.ms)), "ms"),
          "trace.coverage" -> (t.coverage(Gen.Classes), "ratio"),
          "trace.overhead" -> (Stats.median(tr.map(_.ms)) / Stats.median(untr.map(_.ms)) - 1.0, "ratio")) ++
          byCls ++ kernels ++ Main.sparkLayer(ctx, snap0, snap1, all.length, wall)
      }
    Result(all.length.toLong, all.count(!_.ok).toLong, e2e, report, layers)
  }
}
