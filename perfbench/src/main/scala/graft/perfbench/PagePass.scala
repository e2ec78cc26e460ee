package graft.perfbench

import graft.Page
import graft.functions.Charset
import graft.operators.{Classify, HtmlBlocks, PdfRuns, Structured}
import org.apache.spark.TaskContext
import org.apache.spark.sql.Dataset

/** The benchmark-owned per-page pass: it calls each extraction layer's
  * public function in the order `ScalarExtract.extract` does, plus the curate
  * robots probe, and times every call with an executor-side span. A step a
  * page does not take (tokenizing a PDF, say) still runs its timer, so a
  * layer no page uses reads as timer overhead (about 0), never as a gap.
  */
object PagePass {

  val Names: Array[String] = Array("page", "Charset.sniff", "Charset.decode",
    "HtmlBlocks.tokenize", "PdfRuns.parse", "Classify.classify", "Classify.order",
    "Classify.assemble", "Structured.robots")

  /** Work counts at the same boundaries. */
  final case class Counts(pages: Long, html: Long, pdf: Long, unsupported: Long,
      blocks: Long, candidates: Long, kept: Long, runs: Long)

  private val Fields = 8

  def run(pages: Dataset[Page], parent: Long): (Seq[Span], Counts) = {
    import pages.sparkSession.implicits._
    val parts = pages.mapPartitions { it =>
      // five longs per span: id, parent, name index, start, end
      val buf = new scala.collection.mutable.ArrayBuilder.ofLong
      val c = new Array[Long](Fields)
      val base = (TaskContext.getPartitionId().toLong + 1) << 40
      var next = base
      it.foreach { p =>
        next += 1
        val pageId = next
        val p0 = System.nanoTime()
        def step[T](name: Int)(f: => T): T = {
          val t0 = System.nanoTime()
          val r = f
          next += 1
          buf += next; buf += pageId; buf += name; buf += t0; buf += System.nanoTime()
          r
        }
        val kind = step(1)(Charset.sniffKind(p.html))
        val isHtml = kind == Charset.KIND_HTML
        val isPdf = kind == Charset.KIND_PDF
        val decoded = step(2) {
          if (isHtml) Charset.decode(p.html)
          else if (kind == Charset.KIND_TEXT) Charset.normalizeWs(Charset.decode(p.html))
          else null
        }
        val blocks = step(3)(if (isHtml) HtmlBlocks.blocks(decoded) else Vector.empty)
        val runs = step(4)(if (isPdf) PdfRuns.parse(p.html) else None)
        val kept = step(5)(if (isHtml) Classify.classifyHtml(blocks) else Vector.empty)
        val lines = step(6) {
          if (isHtml) Classify.linesFromHtml(kept)
          else runs.map(Classify.linesFromPdfRuns).getOrElse(Vector.empty)
        }
        step(7)(Classify.assemble(lines))
        step(8)(if (isHtml) Structured.robotsMeta(Charset.decode(p.html)))
        buf += pageId; buf += parent; buf += 0; buf += p0; buf += System.nanoTime()
        c(0) += 1
        if (isHtml) {
          c(1) += 1; c(4) += blocks.length; c(5) += blocks.count(Classify.isCandidate)
          c(6) += kept.length
        }
        if (isPdf) {
          c(2) += 1
          runs.fold(c(3) += 1)(r => c(7) += r.length)
        }
      }
      Iterator((buf.result(), c))
    }.collect()
    val spans = parts.iterator.flatMap { case (b, _) =>
      b.grouped(5).map(s => Span(s(0), s(1), Names(s(2).toInt), s(3), s(4)))
    }.toVector
    val t = parts.map(_._2).foldLeft(new Array[Long](Fields))((a, b) => a.zip(b).map(x => x._1 + x._2))
    (spans, Counts(t(0), t(1), t(2), t(3), t(4), t(5), t(6), t(7)))
  }
}
