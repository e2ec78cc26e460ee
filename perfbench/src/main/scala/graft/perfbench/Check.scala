package graft.perfbench

import graft.Page
import graft.functions.Charset
import graft.operators.{Curate, ScalarExtract, Structured}
import java.security.MessageDigest
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Untimed output checks: every output row per url against the sequential
  * oracle `ScalarExtract.extract` over the same input, and whole-output
  * digests against the ones recorded at the default seed.
  */
object Check {

  /** Fields compared per url on `extract-*` output. */
  val DocFields: Seq[String] = Seq("text", "spans", "nBlocks", "nDropped", "contentKind")

  /** Fields the curate extract artifact keeps. */
  val ArtifactFields: Seq[String] = Seq("text", "contentKind")

  /** The curate `robots-gate` rule, stated independently of `Curate.run`. */
  def passesRobotsGate(p: Page): Boolean =
    p.html == null || Charset.sniffKind(p.html) != Charset.KIND_HTML ||
      !Structured.robotsMeta(Charset.decode(p.html))._2.contains("noindex")

  private def rowHash(df: DataFrame, fields: Seq[String]): DataFrame =
    df.select(col("url"), sha2(to_json(struct(fields.map(col): _*)), 256).as("h"))

  /** (url, h): the oracle's per-url fingerprint over `pages`. */
  def reference(pages: Dataset[Page], fields: Seq[String]): DataFrame = {
    import pages.sparkSession.implicits._
    rowHash(pages.map(ScalarExtract.extract).toDF(), fields)
  }

  /** Urls whose output row is mismatched, missing, duplicated or extra. */
  def failures(out: DataFrame, ref: DataFrame, fields: Seq[String]): Long = {
    val o = rowHash(out, fields).groupBy("url")
      .agg(count(lit(1)).as("n"), min(col("h")).as("oh"))
    o.join(ref, Seq("url"), "full_outer")
      .filter(col("n").isNull || col("h").isNull || col("n") =!= 1 || col("oh") =!= col("h"))
      .count()
  }

  /** Order-free SHA-256 of a whole output: rows hashed, sorted, hashed. */
  def digest(df: DataFrame): String = {
    val rows = df.select(sha2(to_json(struct(df.columns.sorted.map(col): _*)), 256))
      .collect().map(_.getString(0)).sorted
    val md = MessageDigest.getInstance("SHA-256")
    rows.foreach(r => md.update(r.getBytes("US-ASCII")))
    md.digest().map("%02x".format(_)).mkString
  }

  /** Funnel checks of one `Curate.run`: counts in its report that must agree
    * with the checked extract artifact and with the written corpus. Returns
    * the violated conditions.
    */
  def funnel(rep: Curate.Report, artifact: DataFrame, corpus: DataFrame): Seq[String] = {
    val nonEmpty = artifact.filter(col("contentKind") =!= "empty" && length(col("text")) > 0).count()
    val splits = corpus.groupBy("split").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap.withDefaultValue(0L)
    val written = splits.values.sum
    val dupTexts = written - corpus.select(md5(col("text"))).distinct().count()
    val short = corpus.filter(col("n_tok") < Curate.MIN_TOKENS).count()
    Seq(
      s"extracted ${rep.extracted} != artifact rows ${artifact.count()}" -> (rep.extracted != artifact.count()),
      s"nonEmpty ${rep.nonEmpty} != $nonEmpty" -> (rep.nonEmpty != nonEmpty),
      s"uniqueKept ${rep.uniqueKept} != written $written" -> (rep.uniqueKept != written),
      s"train/val/test ${rep.train}/${rep.`val`}/${rep.test} != written $splits" ->
        (rep.train != splits("train") || rep.`val` != splits("val") || rep.test != splits("test")),
      s"qualityKept ${rep.qualityKept} < uniqueKept ${rep.uniqueKept}" -> (rep.qualityKept < rep.uniqueKept),
      s"$dupTexts duplicate texts written" -> (dupTexts != 0),
      s"$short docs under ${Curate.MIN_TOKENS} tokens written" -> (short != 0)
    ).collect { case (msg, true) => msg }
  }
}
