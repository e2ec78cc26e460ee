package graft.operators

import graft.{ExtractedDoc, Page, Span}
import graft.functions.Charset

/** Per-document extraction as one pure function: the normative semantics
  * (SURVEY.md §5.1) and the production per-page function, run partition-locally
  * by [[graft.operators.Extract.extract]]. The golden tests pin its bytes and
  * assert the windowed relational chain (`Extract.classifiedBlocks` →
  * `lines` → `assembled`) matches it per url under any partitioning / AQE
  * replan — that equality is the engine's central determinism invariant
  * (BASELINE.json:14).
  */
object ScalarExtract {

  def extract(p: Page): ExtractedDoc = {
    val kind = Charset.sniffKind(p.html)
    kind match {
      case Charset.KIND_EMPTY =>
        ExtractedDoc(p.url, p.warc_ts, p.lang, "", Vector.empty, 0, 0, kind)
      case Charset.KIND_TEXT =>
        val t = Charset.normalizeWs(Charset.decode(p.html))
        val spans =
          if (t.isEmpty) Vector.empty[Span]
          else Vector(Span(1, 0, t.codePointCount(0, t.length), 0))
        val nb = if (t.isEmpty) 0 else 1
        ExtractedDoc(p.url, p.warc_ts, p.lang, t, spans, nb, 0, kind)
      case Charset.KIND_HTML =>
        val blocks = HtmlBlocks.blocks(Charset.decode(p.html))
        val kept = Classify.classifyHtml(blocks)
        val (text, spans) = Classify.assemble(Classify.linesFromHtml(kept))
        ExtractedDoc(
          p.url, p.warc_ts, p.lang, text, spans,
          blocks.length, blocks.length - kept.length, kind)
      case Charset.KIND_PDF =>
        PdfRuns.parse(p.html) match {
          case Some(runs) =>
            val (text, spans) =
              Classify.assemble(Classify.linesFromPdfRuns(runs))
            ExtractedDoc(
              p.url, p.warc_ts, p.lang, text, spans,
              runs.length, runs.count(_.textLen == 0), Charset.KIND_PDF)
          case None =>
            ExtractedDoc(
              p.url, p.warc_ts, p.lang, "", Vector.empty, 0, 0,
              "pdf_unsupported")
        }
      case other =>
        ExtractedDoc(p.url, p.warc_ts, p.lang, "", Vector.empty, 0, 0, other)
    }
  }
}
