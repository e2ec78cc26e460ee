package graft

import graft.operators.{Extract, ScalarExtract}
import graft.sources.Corpus
import org.scalatest.funsuite.AnyFunSuite

/** The engine's central invariant (BASELINE.json:14): production extraction
  * produces byte-identical text per url to the scalar oracle, and the
  * windowed relational chain ([[WindowedChain]]) reproduces it per url for
  * every template/charset/lang/payload combination, under any partitioning.
  */
class GoldenSpec extends AnyFunSuite {
  private val spark = SparkFixture.spark
  import spark.implicits._

  private val N = 600L
  private val seed = Corpus.DEFAULT_SEED

  private lazy val scalarByUrl: Map[String, ExtractedDoc] =
    (0L until N).map { i =>
      val p = Corpus.page(seed, i)
      p.url -> ScalarExtract.extract(p)
    }.toMap

  private def assertMatches(docs: Seq[ExtractedDoc]): Unit = {
    assert(docs.size == N, s"expected $N docs, got ${docs.size}")
    var mismatches = 0
    docs.foreach { d =>
      val g = scalarByUrl(d.url)
      if (d.text != g.text) {
        mismatches += 1
        if (mismatches <= 3) {
          info(s"TEXT MISMATCH url=${d.url} kind=${d.contentKind}")
          info(s"  mine: ${d.text.take(300).replace("\n", "\\n")}")
          info(s"  gold: ${g.text.take(300).replace("\n", "\\n")}")
        }
      }
      assert(d.contentKind == g.contentKind, s"kind mismatch ${d.url}")
      assert(d.spans == g.spans, s"spans mismatch ${d.url} mine=${d.spans.take(5)} gold=${g.spans.take(5)}")
      assert(d.nBlocks == g.nBlocks, s"nBlocks mismatch ${d.url}: ${d.nBlocks} vs ${g.nBlocks}")
      assert(d.nDropped == g.nDropped, s"nDropped mismatch ${d.url}: ${d.nDropped} vs ${g.nDropped}")
    }
    assert(mismatches == 0, s"$mismatches/${docs.size} docs with text mismatch")
  }

  test("distributed pipeline is byte-identical to the scalar oracle") {
    val docs = Extract.extract(Corpus.pages(spark, N, seed)).collect().toSeq
    // every contentKind is actually exercised by the corpus
    val kinds = docs.map(_.contentKind).toSet
    assert(Model.CONTENT_KINDS.toSet.subsetOf(kinds), s"kinds seen: $kinds")
    assertMatches(docs)
  }

  test("windowed relational chain equals production per url on the golden corpus") {
    val pages = Corpus.pages(spark, N, seed)
    val docs = Extract.extract(pages).collect().toSeq
    val bad = WindowedChain.mismatches(pages, docs)
    assert(bad.isEmpty, s"${bad.size} mismatches, first: ${bad.take(5).mkString("; ")}")
  }

  test("pages sharing a url extract one doc per page") {
    // two recrawls of one url: different payloads, different warc_ts
    val html = (0L until 50L).map(Corpus.page(seed, _))
      .filter(p => graft.functions.Charset.sniffKind(p.html) == "html")
    val url = html.head.url
    val a = html.head
    val b = html(1).copy(url = url,
      warc_ts = new java.sql.Timestamp(a.warc_ts.getTime + 86400000L))
    val docs = Extract.extract(Seq(a, b).toDS().repartition(1)).collect().toSeq
    assert(docs.size == 2)
    assert(docs.toSet == Set(ScalarExtract.extract(a), ScalarExtract.extract(b)))
    assert(docs.map(_.text).distinct.size == 2, "the two payloads must stay apart")
  }

  test("output invariant under repartitioning (1, 3, 16 partitions)") {
    for (p <- Seq(1, 3, 16)) {
      val pages = Corpus.pages(spark, 150L, seed).repartition(p)
      val docs = Extract.extract(pages).collect().toSeq
      docs.foreach { d =>
        assert(d.text == scalarByUrl(d.url).text, s"parts=$p url=${d.url}")
      }
      val bad = WindowedChain.mismatches(pages, docs)
      assert(bad.isEmpty, s"parts=$p windowed chain: ${bad.take(5).mkString("; ")}")
    }
  }

  test("output invariant under salted pages repartition") {
    for (salt <- Seq(0L, 7L, 12345L)) {
      val pages = Extract.saltedPages(Corpus.pages(spark, 150L, seed), 5, salt)
      val docs = Extract.extract(pages).collect().toSeq
      docs.foreach { d =>
        assert(d.text == scalarByUrl(d.url).text, s"salt=$salt url=${d.url}")
      }
      val bad = WindowedChain.mismatches(pages, docs)
      assert(bad.isEmpty, s"salt=$salt windowed chain: ${bad.take(5).mkString("; ")}")
    }
  }

  /** S6/J2: the COMMITTED golden files (not the in-memory oracle) compared
    * via an actual Spark full-outer join — catches accidental co-evolution
    * of the scalar oracle and the distributed pipeline, which the in-memory
    * comparison structurally cannot see.
    */
  test("committed golden files match via full-outer join") {
    import org.apache.spark.sql.functions._
    val golden = spark.read.format("binaryFile")
      .load(GoldenFiles.DIR)
      .select(
        regexp_extract(col("path"), "([0-9a-f]{32})\\.txt$", 1).as("urlhash"),
        col("content"))
    val mine = Extract.extract(Corpus.pages(spark, GoldenFiles.N, seed)).toDF
      .select(md5(col("url")).as("urlhash"), encode(col("text"), "UTF-8").as("mybytes"))
    val joined = mine.join(golden, Seq("urlhash"), "full_outer")
    assert(joined.count() == GoldenFiles.N)
    // empty texts have no committed file (binaryFile drops zero-byte files):
    // empty-mine + missing-golden matches; every other asymmetry is a failure
    val bad = joined.filter(
      (col("content").isNull && length(col("mybytes")) > 0) ||
        (col("content").isNotNull &&
          (col("mybytes").isNull || col("content") =!= col("mybytes")))).count()
    assert(bad == 0, s"$bad golden files differ (regenerate deliberately via Test/runMain graft.GoldenFiles)")
  }

  test("single exchange of block rows by url (plan shape)") {
    // the windowed chain's windows and aggregates all reuse one url-hash
    // exchange of the block rows (AQE on, as the suite runs it)
    val plan = WindowedChain.plan(Corpus.pages(spark, 10L, seed))
      .queryExecution.executedPlan.toString
    val nExchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(nExchanges == 1, s"expected one block-row exchange ($nExchanges):\n$plan")
  }
}
