package graftbench

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}

import graft.exec.Searcher

/** Seed-N fixed query list, one query at a time after 400 warm-up queries:
  * per query the Spark jobs and tasks it started, postings scan work,
  * latency and the oracle check. Args: seed workDir outTsv.
  */
object FixedList {
  def main(args: Array[String]): Unit = {
    val Array(seedS, work, out) = args
    val seed = seedS.toLong
    val spark = Main.session(4, work)
    val sc = spark.sparkContext
    val ctx = new Ctx(spark, seed, 0, false, work)
    val jobsBy = new ConcurrentHashMap[String, Integer]()
    val tasksBy = new ConcurrentHashMap[String, Integer]()
    val stageGroup = new ConcurrentHashMap[Integer, String]()
    sc.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
        g.foreach { g =>
          jobsBy.merge(g, 1, (a, b) => a + b)
          e.stageIds.foreach(s => stageGroup.put(s, g))
        }
      }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        Option(stageGroup.get(e.stageId)).foreach(g => tasksBy.merge(g, 1, (a, b) => a + b))
    })
    val docs = Gen.corpus(seed, SearchWorkload.Docs)
    val src = Main.sourceFrame(spark, docs, ctx.cores).cache()
    src.count()
    val setup = QueryExec.buildSaveLoad(Tracer.Off, ctx, src, ctx.freshDir("index"))
    src.unpersist()
    val cached0 = Main.cachedMb(spark)
    val s = new Searcher(setup.idx)
    val oracle = new SearchOracle(docs)
    val warm = Gen.queryStream(seed + 7777, docs, SearchWorkload.PoolPerKind, 20000)
    val (_, firstS) = ctx.time(QueryExec.run(Tracer.Off, s, warm.head))
    val cached1 = Main.cachedMb(spark)
    warm.slice(1, 401).foreach(q => QueryExec.run(Tracer.Off, s, q))
    val cached2 = Main.cachedMb(spark)
    val stream = Gen.queryStream(seed, docs, SearchWorkload.PoolPerKind, 20000).take(240)
    val recs = stream.zipWithIndex.map { case (q, i) =>
      sc.setJobGroup(s"q$i", q.text)
      val d0 = s.wandDecoded.value
      val t0 = System.nanoTime()
      val (ans, df) = QueryExec.run(Tracer.Off, s, q)
      val ms = (System.nanoTime() - t0) / 1e6
      sc.clearJobGroup()
      val (files, rows) = Main.scanWork(df)
      (i, q, ms, files, rows, QueryExec.check(q, ans, oracle.matches(q)), s.wandDecoded.value - d0)
    }
    Thread.sleep(3000)
    def n(m: ConcurrentHashMap[String, Integer], i: Int) = Option(m.get(s"q$i")).map(_.intValue).getOrElse(0)
    val sb = new StringBuilder
    sb ++= f"# seed $seed, first 240 queries one at a time after 400 warm-up queries; first query $firstS%.3f s; cached MB: after load $cached0%.2f, after first query $cached1%.2f, after warm-up $cached2%.2f\n"
    sb ++= "kind\tqueries\tjobs/query\ttasks/query\tfiles/query\trows/query\twand_decoded\tmedian_ms\tall_ok\n"
    def row(k: String, rs: Seq[(Int, QuerySpec, Double, Long, Long, Boolean, Long)]) = {
      val c = rs.length.toDouble
      sb ++= f"$k\t${rs.length}\t${rs.map(r => n(jobsBy, r._1)).sum / c}%.2f\t${rs.map(r => n(tasksBy, r._1)).sum / c}%.2f\t" +
        f"${rs.map(_._4).sum / c}%.2f\t${rs.map(_._5).sum / c}%.1f\t${rs.map(_._7).sum}\t${Stats.median(rs.map(_._3))}%.1f\t${rs.forall(_._6)}\n"
    }
    Gen.Kinds.foreach(k => row(k, recs.filter(_._2.kind == k).toSeq))
    row("ALL", recs.toSeq)
    sb ++= "\ni\tkind\ttext\tjobs\ttasks\tfiles\trows\tdecoded\tms\tok\n"
    recs.foreach { case (i, q, ms, f, r, ok, dec) =>
      sb ++= f"$i\t${q.kind}\t${q.text}\t${n(jobsBy, i)}\t${n(tasksBy, i)}\t$f\t$r\t$dec\t$ms%.1f\t$ok\n"
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(out), sb.toString)
    spark.stop()
  }
}
