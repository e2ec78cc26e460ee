package graft.perfbench

import graft.{Model, Page}
import graft.functions.{Charset, Rng}
import graft.sources.{Corpus, OracleCorpus}
import java.io.File
import java.nio.file.{Files => NioFiles}
import java.sql.Timestamp
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions.{col, sha2}

/** Seeded inputs of the three workloads. Every page is a pure function of
  * (workload, seed, index), so the same seed stages the same bytes. A staged
  * table is cached under a key of workload, seed, size and code stamp, with
  * the `OracleCorpus.markerFresh` protocol: generation is never timed, and a
  * recompile of the generator or the program invalidates the cache.
  */
object Inputs {

  val Workloads: Seq[String] = Seq("extract-mix", "extract-pdf", "curate-funnel")

  /** Share (percent) of curate-funnel HTML pages that carry a planted
    * `<meta name="robots" content="noindex">`, so the robots gate has real
    * drops to count.
    */
  val RobotsNoindexPct = 3

  private val NoindexMeta = """<meta name="robots" content="noindex">"""

  /** Data files of a staged table, whatever the host: the scan is split the
    * same way everywhere and into more tasks than cores (at the product's
    * 16 MB split size Spark packs 16 small files into 6 splits).
    */
  val Files = 16

  private val hosts = (0 until 50).map(i => s"pdfhost$i.example.org").toArray
  private val langs = Array("en", "de", "es", "fr")

  /** The `extract-pdf` page: the Corpus PDF/text payloads without any HTML.
    * Kinds keep the mix's proportions among themselves: flate PDF 8, raw PDF
    * 2, unsupported-filter PDF 2, plain text 4 (out of 16).
    */
  def pdfPage(seed: Long, i: Long): Page = {
    val host = hosts(Rng.zipf(seed, 1L, i, hosts.length))
    val lang = langs(Rng.nextInt(seed, 2L, i, langs.length))
    val url = s"https://$host/d/${Rng.draw(seed, 3L, i) & 0xffffffL}-$i"
    val ts = new Timestamp(1735689600000L + (i * 37L % (180L * 86400)) * 1000L)
    val roll = Rng.nextInt(seed, 4L, i, 16)
    val html =
      if (roll < 12) {
        val nPdfPages = 1 + Rng.nextInt(seed, 9L, i, 3)
        val contents = (0 until nPdfPages).map(p => Corpus.pdfContent(seed, i, lang, p))
        if (roll < 8) Corpus.pdfBytes(contents, flate = true, badFilter = false)
        else if (roll < 10) Corpus.pdfBytes(contents, flate = false, badFilter = false)
        else Corpus.pdfBytes(contents, flate = true, badFilter = true)
      } else
        s"${Corpus.paragraph(seed, i, lang, 0)}\n\n${Corpus.paragraph(seed, i, lang, 1)}"
          .getBytes("UTF-8")
    Page(url, ts, html, null, lang)
  }

  /** The `curate-funnel` page: the default mix, with a planted noindex
    * directive on [[RobotsNoindexPct]] percent of its HTML pages.
    */
  def curatePage(seed: Long, i: Long): Page = {
    val p = Corpus.page(seed, i)
    if (Rng.nextInt(seed, 9100L, i, 100) >= RobotsNoindexPct ||
        Charset.sniffKind(p.html) != Charset.KIND_HTML) p
    else {
      val latin = new String(p.html, "ISO-8859-1")
      val at = latin.indexOf("<head>")
      if (at < 0) p
      else {
        val cut = at + "<head>".length
        p.copy(html = p.html.take(cut) ++ NoindexMeta.getBytes("US-ASCII") ++ p.html.drop(cut))
      }
    }
  }

  def page(workload: String, seed: Long, i: Long): Page = workload match {
    case "extract-mix"   => Corpus.page(seed, i)
    case "extract-pdf"   => pdfPage(seed, i)
    case "curate-funnel" => curatePage(seed, i)
  }

  /** Stage (or reuse) the parquet pages table for (workload, seed, n) under
    * `work`; returns its directory.
    */
  def stage(spark: SparkSession, work: File, workload: String, seed: Long, n: Long): String = {
    val dir = new File(work, s"inputs/$workload-s$seed-n$n")
    val marker = new File(dir, "_BENCH_STAMP")
    val stamp = s"$workload:$seed:$n:${OracleCorpus.codeStamp()}"
    if (!OracleCorpus.markerFresh(marker, stamp)) {
      import spark.implicits._
      spark.range(0, n, 1, Files).map(i => page(workload, seed, i))
        .write.mode("overwrite").parquet(dir.getPath)
      val staged = spark.read.parquet(dir.getPath)
      OracleCorpus.writeMarker(new File(dir, "_BENCH_DIGEST"),
        Check.digest(staged.withColumn("html", sha2(col("html"), 256))))
      OracleCorpus.writeMarker(marker, stamp)
    }
    dir.getPath
  }

  /** Whole-table digest of a staged input (its rows, the payload by its
    * SHA-256), taken when it was staged: parent and change runs that print
    * the same digest read identical pages.
    */
  def digest(dir: String): String =
    new String(NioFiles.readAllBytes(new File(dir, "_BENCH_DIGEST").toPath), "US-ASCII")

  def read(spark: SparkSession, dir: String): Dataset[Page] = {
    import spark.implicits._
    spark.read.schema(Model.PAGES).parquet(dir).as[Page]
  }
}
