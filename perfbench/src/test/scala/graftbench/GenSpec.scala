package graftbench

import org.scalatest.funsuite.AnyFunSuite

class GenSpec extends AnyFunSuite {
  private def flat(docs: Array[Doc]): Seq[(Int, String, String, Seq[String], Seq[Byte])] =
    docs.toSeq.map(d => (d.id, d.path, d.text, d.toks.toSeq, d.glue.toSeq))

  test("the same seed gives identical inputs") {
    assert(flat(Gen.corpus(7, 300)) == flat(Gen.corpus(7, 300)))
    val docs = Gen.corpus(7, 300)
    assert(Gen.queryStream(7, docs, 20, 500).toSeq == Gen.queryStream(7, Gen.corpus(7, 300), 20, 500).toSeq)
    val (a, b, p) = Gen.opsCorpus(7, 400, 10, 0.1, 0.1, 0.05)
    val (a2, b2, p2) = Gen.opsCorpus(7, 400, 10, 0.1, 0.1, 0.05)
    assert(flat(a) == flat(a2) && flat(b) == flat(b2) && p == p2)
  }

  test("another seed gives other inputs") {
    assert(flat(Gen.corpus(7, 50)) != flat(Gen.corpus(8, 50)))
    assert(Gen.queryStream(7, Gen.corpus(7, 300), 20, 100).toSeq !=
      Gen.queryStream(8, Gen.corpus(8, 300), 20, 100).toSeq)
  }

  test("a doc depends only on (seed, id)") {
    assert(flat(Gen.corpus(3, 100).drop(60)) == flat(Gen.corpus(3, 40, first = 60)))
  }

  test("rendered text tokenizes back to the generator's tokens") {
    Gen.corpus(5, 200).foreach { d =>
      // the code analyzer: camelCase and snake_case split, lowercase
      val code = d.text.replaceAll("([a-z0-9])([A-Z])", "$1 $2").replace('_', ' ')
        .split("[^A-Za-z0-9]+").filter(_.nonEmpty).map(_.toLowerCase).toSeq
      assert(code == d.toks.toSeq)
      // the passage window hashers: lowercase [a-z0-9]+ runs
      assert(Oracle.windowTokens(d).toSeq == d.text.toLowerCase.split("[^a-z0-9]+").filter(_.nonEmpty).toSeq)
      // the shingle tokenizer: lowercase [a-z0-9_]+ runs
      assert(Oracle.wordTokens(d).toSeq == "[a-z0-9_]+".r.findAllIn(d.text.toLowerCase).toSeq)
    }
  }

  test("planted near-duplicates are copies of original docs") {
    val (docs, _, planted) = Gen.opsCorpus(9, 500, 10, 0.1, 0.0, 0.0)
    assert(planted.nonEmpty)
    assert(planted.map(_._1).intersect(planted.map(_._2)).isEmpty)
    val truth = Oracle.nearDupTruth(docs, planted, 0.5)
    assert(planted.forall(truth.contains))
  }
}
