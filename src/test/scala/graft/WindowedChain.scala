package graft

import graft.functions.Charset
import graft.operators.Extract
import org.apache.spark.sql.{DataFrame, Dataset}

/** The windowed relational chain (`toRows` → `classifiedBlocks` → `lines` →
  * `assembled`) as a second, independent implementation of extraction.
  * Production `Extract.extract` runs the per-page function, so the golden
  * specs check it against this chain: for every html/pdf page, the chain's
  * assembled row must carry the production doc's text, spans and kept-block
  * count. Inputs must have unique urls — the chain groups by url.
  */
object WindowedChain {

  case class Assembled(url: String, atext: String, aspans: Seq[Span], keptRows: Long)

  def plan(pages: Dataset[Page]): DataFrame = {
    import pages.sparkSession.implicits._
    Extract.assembled(Extract.lines(Extract.classifiedBlocks(pages.flatMap(Extract.toRows))))
  }

  /** Every disagreement between the chain over `pages` and the production
    * `docs` of the same pages (empty = they agree). A url with no assembled
    * row kept no block, so its production text must be empty.
    */
  def mismatches(pages: Dataset[Page], docs: Seq[ExtractedDoc]): Seq[String] = {
    import pages.sparkSession.implicits._
    val byUrl = plan(pages).as[Assembled].collect().map(a => a.url -> a).toMap
    val docKind = Set(Charset.KIND_HTML, Charset.KIND_PDF)
    val (blockDocs, otherDocs) = docs.partition(d => docKind(d.contentKind))
    val perDoc = blockDocs.flatMap { d =>
      byUrl.get(d.url) match {
        case Some(a) =>
          Seq(
            (a.atext != d.text) -> s"text ${d.url}",
            (a.aspans != d.spans) -> s"spans ${d.url}",
            (a.keptRows != d.nBlocks - d.nDropped) ->
              s"keptRows ${d.url}: ${a.keptRows} vs ${d.nBlocks} - ${d.nDropped}"
          ).collect { case (true, m) => m }
        case None =>
          if (d.text.isEmpty && d.nBlocks == d.nDropped) Nil
          else Seq(s"no assembled row for non-empty ${d.url}")
      }
    }
    val stray = otherDocs.map(_.url).filter(byUrl.contains).map(u => s"assembled row for $u")
    perDoc ++ stray
  }
}
