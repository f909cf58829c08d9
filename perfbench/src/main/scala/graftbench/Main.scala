package graftbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

/** Shared state of one benchmark run. */
final class Ctx(val spark: SparkSession, val seed: Long, val seconds: Double, val traced: Boolean,
    val workDir: String) {
  val cores: Int = spark.sparkContext.defaultParallelism
  val tracer = new Tracer(traced)
  val counters = new SparkCounters
  if (traced) spark.sparkContext.addSparkListener(counters)
  private var dirs = 0

  /** A fresh directory under the run's work dir. */
  def freshDir(name: String): String = { dirs += 1; s"$workDir/$name-$dirs" }

  private val born = System.nanoTime()

  /** Progress line on stderr, stamped with seconds since the run began. */
  def log(msg: String): Unit = System.err.println(f"[perfbench ${(System.nanoTime() - born) / 1e9}%7.2fs] $msg")

  def time[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = f
    (a, (System.nanoTime() - t0) / 1e9)
  }
}

/** What a workload reports: the operation counts, end-to-end metrics
  * (value, unit), the workload's own named report and, in a traced run,
  * the per-layer metrics.
  */
final case class Result(attempted: Long, failed: Long, endToEnd: Map[String, (Double, String)],
    report: Map[String, (Double, String)], layers: Map[String, (Double, String)])

object Stats {
  def median(xs: Seq[Double]): Double = percentile(xs, 50)

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.length

  /** Linear-interpolated percentile; 0 for no samples. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    if (xs.isEmpty) return 0.0
    val s = xs.sorted
    val pos = p / 100.0 * (s.length - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  /** The highest of p99/p95/p90/p75 that has at least ten samples beyond
    * it, or None when there are too few samples for any of them.
    */
  def tail(xs: Seq[Double]): Option[(Int, Double)] =
    Seq(99, 95, 90, 75).find(p => xs.length * (100 - p) / 100.0 >= 10).map(p => (p, percentile(xs, p)))
}

object Main {
  /** The metric names and units of BENCHMARK.json, the one place that
    * lists them: (end-to-end, per-layer).
    */
  def spec(path: String): (Seq[(String, String)], Seq[(String, String)]) = {
    import scala.jdk.CollectionConverters._
    val root = new com.fasterxml.jackson.databind.ObjectMapper().readTree(new java.io.File(path))
    def names(key: String) = root.get(key).elements.asScala.map(m => m.get("name").asText -> m.get("unit").asText).toSeq
    (names("end_to_end"), names("per_layer"))
  }

  def session(cores: Int, workDir: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$workDir/spark-local")
      .config("spark.sql.warehouse.dir", s"$workDir/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val workload = opts.getOrElse("workload", "search")
    val seed = opts.getOrElse("seed", "1").toLong
    val seconds = opts.getOrElse("seconds", "10").toDouble
    val traced = opts.getOrElse("trace", "0") == "1"
    val (endToEnd, layers) = spec(opts.getOrElse("spec", "BENCHMARK.json"))
    val workDir = new java.io.File(opts.getOrElse("work-dir", ".bench_build/work")).getAbsolutePath +
      s"/$workload-${ProcessHandle.current().pid()}"
    val run: Ctx => Result = workload match {
      case "search"     => SearchWorkload.run
      case "corpus_ops" => OpsWorkload.run
      case other =>
        System.err.println(s"unknown workload '$other' (search, corpus_ops)")
        sys.exit(2)
    }
    val cores = Runtime.getRuntime.availableProcessors()
    val jiffies0 = Host.cpuJiffies
    val load0 = Host.loadavg1
    val probe0 = Host.speedProbe()
    def up = java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1e3
    System.err.println(f"[perfbench] jvm up $up%.2fs, starting Spark")
    val spark = session(cores, workDir)
    val ctx = new Ctx(spark, seed, seconds, traced, workDir)
    ctx.log(f"Spark up (jvm up $up%.2fs)")
    val r = try run(ctx) finally {
      spark.stop()
      deleteRecursively(new java.io.File(workDir))
    }
    System.err.println(f"[perfbench] stopped (jvm up $up%.2fs)")
    val probe1 = Host.speedProbe()
    val host = Map(
      "host.steal_share" -> (Host.stealShare(jiffies0, Host.cpuJiffies), "ratio"),
      "host.loadavg1" -> (math.max(load0, Host.loadavg1), "load"),
      "host.speed_probe_min" -> (math.min(probe0, probe1), "Msteps/s"),
      "host.speed_probe_max" -> (math.max(probe0, probe1), "Msteps/s"),
      "host.cores" -> (cores.toDouble, "count"))
    def metricMap(m: Map[String, (Double, String)]) =
      m.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) }
    // human-readable report first: every named metric of this workload,
    // the failure ratio and the host stamps
    val failRatio = if (r.attempted == 0) 1.0 else r.failed.toDouble / r.attempted
    println(Json(Map("workload" -> workload, "seed" -> seed, "traced" -> traced,
      "report" -> metricMap(r.report + ("fail_ratio" -> (failRatio, "ratio")) ++ host))))
    // every metric a workload computes must be listed, under the listed unit
    val listed = (endToEnd ++ layers).toMap
    (r.endToEnd ++ r.layers).foreach { case (k, (_, u)) =>
      require(listed.get(k).contains(u), s"metric $k [$u] is not listed in BENCHMARK.json")
    }
    val metrics: Map[String, (Double, String)] =
      if (traced) layers.map { case (k, u) => k -> (r.layers.get(k).map(_._1).getOrElse(0.0), u) }.toMap
      else endToEnd.map { case (k, _) => k -> r.endToEnd(k) }.toMap
    if (traced) {
      // the per-layer JSON of this workload: metrics, self time per span
      // name, and every span (times relative to the first)
      val dir = new java.io.File(opts.getOrElse("trace-dir", ".bench_build/traces"))
      dir.mkdirs()
      val spans = ctx.tracer.all.sortBy(_.start)
      val t0 = spans.headOption.map(_.start).getOrElse(0L)
      java.nio.file.Files.writeString(new java.io.File(dir, s"$workload-seed$seed.json").toPath,
        Json(Map("workload" -> workload, "seed" -> seed, "layers" -> metricMap(metrics),
          "self_s" -> ctx.tracer.selfSeconds,
          "spans" -> spans.map(s => Map("id" -> s.id, "parent" -> s.parent, "op" -> s.op, "name" -> s.name,
            "start_ms" -> (s.start - t0) / 1e6, "dur_ms" -> (s.end - s.start) / 1e6)))) + "\n")
    }
    println(Json(Map("correct" -> (r.failed == 0 && r.attempted > 0), "attempted" -> r.attempted,
      "failed" -> r.failed, "metrics" -> metricMap(metrics))))
    sys.exit(0)
  }

  def deleteRecursively(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(deleteRecursively))
    f.delete()
  }

  /** Bytes under a directory. */
  def du(path: String): Long = {
    val f = new java.io.File(path)
    if (f.isDirectory) Option(f.listFiles).map(_.map(x => du(x.getPath)).sum).getOrElse(0L)
    else f.length()
  }

  val docSchema: StructType = StructType(Seq(
    StructField("path", StringType), StructField("lang", StringType), StructField("content", StringType)))

  def docRows(docs: Array[Doc]): Seq[Row] = docs.toSeq.map(d => Row(d.path, d.lang, d.text))

  def sourceFrame(spark: SparkSession, docs: Array[Doc], parts: Int): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(docRows(docs), parts), docSchema)

  val opsSchema: StructType = StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType)))

  /** Scan work of an executed plan: (files read, rows output by scans). */
  def scanWork(df: DataFrame): (Long, Long) = {
    import org.apache.spark.sql.execution._
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    var files = 0L
    var rows = 0L
    def walk(p: SparkPlan): Unit = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case q: QueryStageExec => walk(q.plan)
      case s: FileSourceScanExec =>
        files += s.metrics.get("numFiles").map(_.value).getOrElse(0L)
        rows += s.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
      case other =>
        other.children.foreach(walk)
        other.subqueries.foreach(walk)
    }
    walk(df.queryExecution.executedPlan)
    (files, rows)
  }

  /** Spark counters over a measured window: per-op work counts and busy
    * times, plus core utilization = task time / (wall × cores).
    */
  def sparkLayer(ctx: Ctx, a: SparkSnap, b: SparkSnap, ops: Long,
      wallS: Double): Map[String, (Double, String)] = {
    val n = math.max(1L, ops).toDouble
    Map(
      "spark.jobs" -> ((b.jobs - a.jobs) / n, "count"),
      "spark.stages" -> ((b.stages - a.stages) / n, "count"),
      "spark.tasks" -> ((b.tasks - a.tasks) / n, "count"),
      "spark.task_cpu_s" -> ((b.cpuNs - a.cpuNs) / 1e9 / n, "s"),
      "spark.task_run_s" -> ((b.runMs - a.runMs) / 1e3 / n, "s"),
      "spark.gc_s" -> ((b.gcMs - a.gcMs) / 1e3 / n, "s"),
      "spark.shuffle_write_bytes" -> ((b.shuffleWriteBytes - a.shuffleWriteBytes) / n, "bytes"),
      "spark.fetch_wait_s" -> ((b.fetchWaitMs - a.fetchWaitMs) / 1e3 / n, "s"),
      "spark.core_utilization" -> ((b.runMs - a.runMs) / 1e3 / (wallS * ctx.cores), "ratio"))
  }

  /** Spark storage memory held right now, in MB. */
  def cachedMb(spark: SparkSession): Double =
    spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1048576.0
}
