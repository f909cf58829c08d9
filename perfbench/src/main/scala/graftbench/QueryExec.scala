package graftbench

import org.apache.spark.sql.DataFrame

import graft.exec.Searcher
import graft.index.{Index, IndexBuilder, IndexSchema, TextField}

/** Index set-up and query execution shared by the workloads. */
object QueryExec {
  val schema: IndexSchema = IndexSchema(Seq("path"), Map("content" -> TextField("code", positions = true)))

  sealed trait Answer
  final case class Hits(hits: Seq[(Long, Double)]) extends Answer
  final case class Count(n: Long) extends Answer

  /** Parse, plan (term-dict lookups happen here), then run the returned
    * DataFrame. Returns the answer and the DataFrame that ran.
    */
  def run(t: Tracer, s: Searcher, q: QuerySpec): (Answer, DataFrame) = {
    val parsed = t.span("query.parse")(s.parse(q.text, "content"))
    if (q.cls == "count") {
      val df = t.span("exec.lookup")(s.eval(parsed).groupBy().count())
      val n = t.span("exec.execute")(df.collect().head.getLong(0))
      (Count(n), df)
    } else {
      val df = t.span("exec.lookup")(s.search(parsed, 10).select("docId", "score"))
      val rows = t.span("exec.execute")(df.collect())
      (Hits(rows.toSeq.map(r => (r.getLong(0), r.getDouble(1)))), df)
    }
  }

  /** Whether an answer matches the oracle's. `all` holds every matching doc
    * of the query with its expected score.
    */
  def check(q: QuerySpec, a: Answer, all: Map[Int, Double]): Boolean = a match {
    case Count(n) => q.cls == "count" && n == all.size
    case Hits(h) =>
      q.cls != "count" && Oracle.sameTopk(h, Oracle.topk(all, 10), d => all.get(d.toInt))
  }

  final case class Setup(idx: Index, dir: String, buildS: Double, saveS: Double, loadS: Double)

  /** Build → save → load, the serving posture: postings read from parquet,
    * only the term dictionary pinned.
    */
  def buildSaveLoad(t: Tracer, ctx: Ctx, src: DataFrame, dir: String): Setup = {
    val (built, buildS) = ctx.time(t.span("index.build")(IndexBuilder.build(src, schema)))
    val (_, saveS) = ctx.time(t.span("index.save")(built.save(dir)))
    built.docs.unpersist()
    built.blocks.unpersist()
    val (idx, loadS) = ctx.time(t.span("index.load") {
      val idx = IndexBuilder.load(ctx.spark, dir)
      idx.termDict.cache().count()
      idx
    })
    Setup(idx, dir, buildS, saveS, loadS)
  }

  /** Seconds of the build's lazy prefixes, each run into a noop sink:
    * (docId assignment + doc store, that plus tokenization). The build's
    * remaining time is block encoding and the stats pass.
    */
  def buildPrefixes(t: Tracer, ctx: Ctx, src: DataFrame): (Double, Double) = {
    def noop(df: DataFrame): Double = ctx.time(df.write.format("noop").mode("overwrite").save())._2
    def docs = IndexBuilder.prepareDocs(src, schema, ctx.cores).repartition(ctx.cores)
    val prep = t.op("prefix")(t.span("index.prepare_docs")(noop(docs)))
    val tok = t.op("prefix")(t.span("analysis.tokenize")(noop(IndexBuilder.tokensOf(docs, schema).toDF())))
    (prep, tok)
  }
}
