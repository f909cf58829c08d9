package graft

import graft.exec.Searcher
import graft.index._
import graft.query._

/** The searcher's query helpers for nested fields and multi-field parsing,
  * pinned against hand-built equivalent queries: `nestedRange` (reference
  * NestedField.range, documents.py:160-164) and `parseMultiField`
  * (reference Analyzer.parse with fields and boosts, analyzers.py:140-150).
  */
class NestedMultiFieldSpec extends SparkTestBase {

  private val place = "state.county.city"

  lazy val searcher: Searcher = {
    import spark.implicits._
    val rows = Seq(
      ("d0", "CA.Los Angeles.Pasadena", "Searching the web", "a running engine"),
      ("d1", "CA.Orange.Irvine", "Cooking", "searches for recipes"),
      ("d2", "CA.Alameda.Oakland", "Runner notes", "nothing here"),
      ("d3", "NY.Kings.Brooklyn", "misc", "searches running"),
      ("d4", "TX.Travis.Austin", "misc", "other words"))
    val schema = IndexSchema(Seq("id"), Map(
      place -> NestedField("."),
      "title" -> TextField("porter"),
      "body" -> TextField("standard")))
    new Searcher(IndexBuilder.build(rows.toDF("id", place, "title", "body"), schema, 2))
  }

  /** The ids of every hit of `q`. */
  private def ids(q: Query): Set[String] =
    searcher.search(q, 0, select = Seq("id")).collect().map(_.getAs[String]("id")).toSet

  /** Hits of `q` as (docId, score), in rank order. */
  private def ranked(q: Query): Seq[(Long, Double)] =
    searcher.search(q, 0).collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq

  test("nestedRange: the component as deep as the deeper bound, half-open") {
    val cases: Seq[(String, String, Query, Set[String])] = Seq(
      ("CA", "NY", TermRange("state", Some("CA"), Some("NY")), Set("d0", "d1", "d2")),
      ("CA.B", "CA.P", TermRange("state.county", Some("CA.B"), Some("CA.P")), Set("d0", "d1")),
      ("CA", "CA.M", TermRange("state.county", Some("CA"), Some("CA.M")), Set("d0", "d2")),
      ("CA.Orange.Irvine", null, TermRange(place, Some("CA.Orange.Irvine"), None), Set("d1", "d3", "d4")),
      (null, "CA.Orange", TermRange("state.county", None, Some("CA.Orange")), Set("d0", "d2")),
      // no bound: the full field, every doc
      (null, null, TermRange(place, None, None), Set("d0", "d1", "d2", "d3", "d4")))
    cases.foreach { case (lo, hi, want, hits) =>
      val q = searcher.nestedRange(place, lo, hi)
      assert(q === want, s"[$lo, $hi)")
      assert(ids(q) === hits, s"[$lo, $hi)")
      assert(ranked(q) === ranked(want), s"[$lo, $hi)")
    }
    // a field that is not nested ranges over itself
    assert(searcher.nestedRange("title", "a", "m") === TermRange("title", Some("a"), Some("m")))
  }

  test("parseMultiField: each clause a SHOULD across fields, each with its own analyzer and boost") {
    def across(body: String, title: String): Query =
      Bool(Seq(Occur.Should -> Term("body", body), Occur.Should -> Boost(Term("title", title), 2.0)))
    val boosts = Map("title" -> 2.0, "body" -> 1.0)
    // the porter-stemmed title field gets stems, the standard body field the
    // words as written
    val single = searcher.parseMultiField("searches", boosts)
    assert(single === across("searches", "search"))
    assert(ids(single) === Set("d0", "d1", "d3"))
    assert(ranked(single) === ranked(across("searches", "search")))
    // op = and: every clause must match in SOME field, not the whole query
    // in one field (d0 holds "searches" only in its title, "running" only
    // in its body)
    val both = searcher.parseMultiField("searches running", boosts, op = "and")
    val want = Bool(Seq(Occur.Must -> across("searches", "search"), Occur.Must -> across("running", "run")))
    assert(both === want)
    assert(ids(both) === Set("d0", "d3"))
    assert(ranked(both) === ranked(want))
  }
}
