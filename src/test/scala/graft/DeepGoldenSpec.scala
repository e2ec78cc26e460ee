package graft

import graft.operators.{Extract, ScalarExtract}
import graft.sources.Corpus
import org.scalatest.funsuite.AnyFunSuite

/** Opt-in deep golden sweep: byte-identity (production == scalar oracle ==
  * windowed relational chain) over a much larger slice of the corpus space
  * than GoldenSpec's 600 docs, to shake out rare
  * template × charset × lang × page-count interactions. Off by default
  * (adds minutes); enable with:
  *
  *   GRAFT_DEEP=20000 sbt "testOnly graft.DeepGoldenSpec"
  */
class DeepGoldenSpec extends AnyFunSuite {
  private lazy val spark = SparkFixture.spark

  test("deep sweep: distributed == scalar oracle over GRAFT_DEEP docs") {
    val n = sys.env.get("GRAFT_DEEP").map(_.toLong).getOrElse(0L)
    assume(n > 0, "set GRAFT_DEEP=<nDocs> to run the deep sweep")
    val seed = Corpus.DEFAULT_SEED
    val pages = Corpus.pages(spark, n, seed)
    val docs = Extract.extract(pages).collect()
    assert(docs.length == n)
    var checked = 0
    docs.foreach { d =>
      // recompute the scalar truth lazily per url (id is the url suffix)
      val id = d.url.substring(d.url.lastIndexOf('-') + 1).toLong
      val g = ScalarExtract.extract(Corpus.page(seed, id))
      assert(g.url == d.url, s"id derivation broke for ${d.url}")
      assert(d.text == g.text, s"text mismatch ${d.url} (kind=${d.contentKind})")
      assert(d.spans == g.spans, s"spans mismatch ${d.url}")
      assert(d.nBlocks == g.nBlocks && d.nDropped == g.nDropped, s"counts ${d.url}")
      checked += 1
    }
    val bad = WindowedChain.mismatches(pages, docs.toSeq)
    assert(bad.isEmpty, s"${bad.size} windowed-chain mismatches, first: ${bad.take(5).mkString("; ")}")
    info(s"deep sweep: $checked docs byte-identical, windowed chain agrees")
  }
}
