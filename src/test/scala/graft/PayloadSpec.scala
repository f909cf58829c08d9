package graft

import graft.analysis.{Analyzers, ChainAnalyzer, TokenFilters}
import graft.exec.Searcher
import graft.index._
import graft.query.{Query => Q, _}

/** Payload plumbing + custom TokenFilter chain, mirroring the reference's
  * typeAsPayload test (/root/reference/tests/test_engine.py:15-21,34-52):
  * a stemming chain that stamps the token TYPE into the payload, then
  * `positions(field, term, payloads=true)` surfaces (position, payload)
  * pairs per doc.
  */
class PayloadSpec extends SparkTestBase {

  // Analyzer.standard(PorterStemFilter, typeAsPayload) analog
  val stemmerChain = new ChainAnalyzer("stem-paychain", Analyzers.standard,
    Seq(TokenFilters.porterStem, TokenFilters.typeAsPayload), producesPayloads = true)
  Analyzers.register(stemmerChain)

  lazy val searcher = {
    val s = spark
    import s.implicits._
    val src = Seq(("r", "p0", "c", "searches"), ("r", "p1", "c", "search engine searches"))
      .toDF("repo", "path", "commit", "text")
    val schema = IndexSchema(Seq("repo", "path", "commit"),
      Map("text" -> TextField("stem-paychain", positions = true)))
    new Searcher(IndexBuilder.build(src, schema, 2))
  }

  test("token filter chain: stem + typeAsPayload attributes") {
    val toks = stemmerChain.tokens("Search")
    assert(toks.map(_.term) === Seq("search"))
    assert(toks.head.typ === "<ALPHANUM>")
    assert(new String(toks.head.payload, "UTF-8") === "<ALPHANUM>")
    assert(toks.head.startOffset === 0 && toks.head.endOffset === 6)
  }

  test("positions(payloads=true): (0, [(0, '<ALPHANUM>')]) shape (test_engine.py:52)") {
    val rows = searcher.positions("text", "search", payloads = true).collect()
      .map(r => (r.getLong(0), r.getSeq[Int](1),
        r.getSeq[Array[Byte]](2).map(new String(_, "UTF-8"))))
      .sortBy(_._1)
    assert(rows(0) === ((0L, Seq(0), Seq("<ALPHANUM>"))))
    assert(rows(1) === ((1L, Seq(0, 2), Seq("<ALPHANUM>", "<ALPHANUM>"))))
  }

  test("payloads survive save/load; scoring path ignores them") {
    val dir = java.nio.file.Files.createTempDirectory("graft-pay").toString
    searcher.index.save(dir)
    val re = new Searcher(IndexBuilder.load(spark, dir))
    val rows = re.positions("text", "search", payloads = true).collect()
    assert(rows.length === 2)
    // stemmed term matches; payload blob never touches the score
    val hits = re.search(Term("text", "search"), 10).collect()
    assert(hits.length === 2)
    // and non-payload fields keep an empty payloadsBlob
    assert(searcher.index.blocks.collect().forall(_.payloadsBlob != null))
  }

  test("mixed-version postings dir: schema-merged read keeps new payloads, legacy rows read empty") {
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-mixed").toString
    val schema = IndexSchema(Seq("repo", "path", "commit"),
      Map("text" -> TextField("stem-paychain", positions = true)))
    Segments.append(
      Seq(("r", "a0", "c", "legacy searches")).toDF("repo", "path", "commit", "text"),
      schema, dir)
    // strip the blob columns from segment 0 — simulating a pre-payloads layout
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    spark.read.parquet(s"$dir/postings/segment=0").drop("payloadsBlob", "offsetsBlob")
      .write.mode("overwrite").parquet(s"$dir/legacy-tmp")
    fs.delete(new org.apache.hadoop.fs.Path(s"$dir/postings/segment=0"), true)
    fs.rename(new org.apache.hadoop.fs.Path(s"$dir/legacy-tmp"),
      new org.apache.hadoop.fs.Path(s"$dir/postings/segment=0"))
    Segments.append(
      Seq(("r", "a1", "c", "modern searches")).toDF("repo", "path", "commit", "text"),
      schema, dir)
    val re = new Searcher(Segments.open(spark, dir, schema))
    assert(re.index.numDocs === 2)
    assert(re.count(Term("text", "search")) === 2) // both segments visible
    val rows = re.positions("text", "search", payloads = true).collect()
      .map(r => r.getLong(0) ->
        (if (r.isNullAt(2)) null else r.getSeq[Array[Byte]](2).map(new String(_, "UTF-8"))))
      .toMap
    // the NEW segment's payloads survive the merge (footer-order-independent);
    // legacy rows coalesce to empty instead of reading null blobs
    assert(rows(rows.keys.max) === Seq("<ALPHANUM>"))
    assert(rows(rows.keys.min) == null)
  }

  test("phrase/near still work on a payload-carrying field") {
    // query text analyzes through the same chain: "engine" stems to "engin"
    val q = searcher.parse("\"searches engines\"", "text")
    assert(q === Phrase("text", Seq(Some("search"), Some("engin")), 0))
    assert(searcher.count(q) === 1)
    assert(searcher.spans(Q.span("text", "search")).count() === 2)
  }
}
