package graft.perfbench

import graft.operators.{Curate, Dedup, Extract, TextAnalysis}
import java.io.File
import org.apache.spark.sql.{DataFrame, Encoders, Observation, SparkSession}
import org.apache.spark.sql.functions._

/** The traced run: every per-layer metric of BENCHMARK.json, measured from
  * outside by timing calls into each layer's public functions, plus Spark's
  * own plan and task metrics through [[SparkProbe]]. Spans are written out
  * with a per-layer table when the run ends.
  */
object Layers {

  /** The curate layers run on 1/CurateShare of the workload's page count. */
  val CurateShare = 8

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  private def ratio(a: Double, b: Double): Double = if (b == 0) 0.0 else a / b

  /** @param rep   one untraced product pass (as the timed loop runs it)
    * @param pass  one product pass over the input, written to `out`
    * @param check failed docs of the output of a pass
    * @return (metric, value, unit) for every per-layer metric, the untraced
    *         passes, and the failed docs of the traced passes
    */
  def traced(spark: SparkSession, o: PerfBench.Opts, cores: Int, dir: String, out: String,
      attempted: Long, rep: () => PerfBench.Rep, pass: () => Option[Curate.Report],
      check: Option[Curate.Report] => Long): (Seq[(String, Double, String)], Seq[PerfBench.Rep], Long) = {
    import spark.implicits._
    val runId = s"${o.workload}-s${o.seed}-${System.currentTimeMillis()}"
    val tr = new Tracer(runId)
    val probe = new SparkProbe(spark)
    val tablePages = Inputs.read(spark, dir).count()
    val m = scala.collection.mutable.LinkedHashMap.empty[String, (Double, String)]
    def put(name: String, v: Double, unit: String): Unit = m(name) = (v, unit)

    // ---- the product path: a traced pass (span around it, listener on),
    // then an untraced one. The JIT still speeds up later passes, so this
    // order overstates the tracing overhead rather than hiding it
    val untraced = Seq.newBuilder[PerfBench.Rep]
    val cpu = Seq.newBuilder[Double]
    val gc = Seq.newBuilder[Double]
    var failed = 0L
    var lastTraced: Option[Option[Curate.Report]] = None
    val tracedWall = Seq(true, false).flatMap { traced =>
      if (!traced) { untraced += rep(); None }
      else {
        Jvm.resetPeak()
        val (c0, g0) = (Jvm.cpuNs, Jvm.gcMs)
        probe.start()
        lastTraced =
          try Some(tr.span("product")(pass()))
          catch { case e: Exception => System.err.println(s"[perfbench] product pass threw: $e"); None }
        probe.stop()
        cpu += (Jvm.cpuNs - c0) / 1e9
        gc += (Jvm.gcMs - g0) / 1e3
        if (lastTraced.isEmpty) failed += attempted
        Some(tr.lastS("product"))
      }
    }
    probe.stageLines.foreach(l => System.err.println(s"[perfbench] traced pass $l"))
    lastTraced.foreach(report => failed += Phase("check")(check(report)))
    val untracedWall = untraced.result().map(_.wallS)

    put("sources.scan_passes", probe.scanPasses(dir, tablePages), "count")
    tr.span("sources.scan") {
      Inputs.read(spark, dir).map(p => if (p.html == null) 0L else p.html.length.toLong)(Encoders.scalaLong)
        .reduce(_ + _)
    }
    put("sources.scan_s", tr.lastS("sources.scan"), "s")
    put("sources.input_mb", PerfBench.dirMb(dir)._1, "MB")

    // ---- per-page pass: the extraction layers and the robots probe
    val counts = tr.span("pass.per_page") {
      val (spans, c) = PagePass.run(PerfBench.productInput(spark, o.workload, dir), tr.current)
      tr.addAll(spans)
      c
    }
    val self = Phase("self times")(tr.selfTimes.withDefaultValue(0.0))
    put("Charset.sniff_s", self("Charset.sniff"), "s")
    put("Charset.decode_s", self("Charset.decode"), "s")
    put("HtmlBlocks.tokenize_s", self("HtmlBlocks.tokenize"), "s")
    put("HtmlBlocks.blocks_per_page", ratio(counts.blocks, counts.html), "count")
    put("PdfRuns.parse_s", self("PdfRuns.parse"), "s")
    put("PdfRuns.runs_per_page", ratio(counts.runs, counts.pdf - counts.unsupported), "count")
    put("PdfRuns.unsupported_frac", ratio(counts.unsupported, counts.pdf), "ratio")
    put("Classify.classify_s", self("Classify.classify"), "s")
    put("Classify.order_s", self("Classify.order"), "s")
    put("Classify.assemble_s", self("Classify.assemble"), "s")
    put("Classify.kept_frac", ratio(counts.kept, counts.candidates), "ratio")
    put("Structured.robots_s", self("Structured.robots"), "s")

    // ---- Extract prefix runs: each adds one stage to the previous one
    val pages = PerfBench.productInput(spark, o.workload, dir)
    val rowsObs = Observation("rows")
    tr.span("Extract.toRows")(noop(pages.flatMap(Extract.toRows).toDF().observe(rowsObs, count(lit(1)).as("n"))))
    tr.span("Extract.repartition")(noop(pages.flatMap(Extract.toRows).toDF().repartition(col("url"))))
    tr.span("Extract.classifiedBlocks")(noop(Extract.classifiedBlocks(pages.flatMap(Extract.toRows))))
    tr.span("Extract.lines")(noop(Extract.lines(Extract.classifiedBlocks(pages.flatMap(Extract.toRows)))))
    tr.span("Extract.assembled")(noop(Extract.assembled(
      Extract.lines(Extract.classifiedBlocks(pages.flatMap(Extract.toRows))))))
    tr.span("Extract.extract")(noop(Extract.extract(pages).toDF()))
    val sinkOut = new File(o.work, s"out/${o.workload}-sink").getPath
    tr.span("Extract.extract+sink")(Extract.extract(pages).write.mode("overwrite").parquet(sinkOut))
    def d(a: String, b: String) = tr.lastS(a) - tr.lastS(b)
    put("Extract.rows_s", d("Extract.toRows", "sources.scan"), "s")
    put("Extract.exchange_s", d("Extract.repartition", "Extract.toRows"), "s")
    put("Extract.classify_s", d("Extract.classifiedBlocks", "Extract.repartition"), "s")
    put("Extract.lines_s", d("Extract.lines", "Extract.classifiedBlocks"), "s")
    put("Extract.assemble_s", d("Extract.assembled", "Extract.lines"), "s")
    put("Extract.join_s", d("Extract.extract", "Extract.assembled"), "s")
    put("Extract.exchanges", probe.exchanges(dir).toDouble, "count")
    put("Extract.shuffle_write_mb", probe.shuffleWriteMb, "MB")
    put("Extract.spill_mb", probe.spillMb, "MB")
    put("Extract.rows_per_page", ratio(rowsObs.get("n").asInstanceOf[Long], attempted), "count")

    put("sink.write_s", d("Extract.extract+sink", "Extract.extract"), "s")
    val written = (if (o.workload == "curate-funnel") Seq(out, s"$out-extracted", s"$out-linededup") else Seq(out))
      .map(PerfBench.dirMb)
    put("sink.out_mb", written.map(_._1).sum, "MB")
    put("sink.files", written.map(_._2).sum.toDouble, "count")

    // ---- the curate funnel, whole and stage by stage, on the curate-funnel
    // input of the same seed (the mix with planted noindex pages) at an
    // eighth of the workload's size: its Gopher verdict pass alone costs
    // several extract passes
    val cdir = Phase("stage curate input")(Inputs.stage(spark, o.work, "curate-funnel", o.seed, o.pages / CurateShare))
    val cin = Inputs.read(spark, cdir)
    val cpages = cin.count()
    val cout = new File(o.work, s"out/${o.workload}-curate").getPath
    val report = tr.span("Curate.run")(Curate.run(spark, cin, cout, robotsGate = true))
    val exDir = s"$cout-stage-extracted"
    val ldDir = s"$cout-stage-linededup"
    tr.span("Curate.extract_write") {
      Extract.extract(cin.filter(Check.passesRobotsGate _)).toDF()
        .select(col("url"), col("warc_ts"), col("lang"), col("text"), col("contentKind"))
        .write.mode("overwrite").parquet(exDir)
    }
    tr.span("Dedup.lineDedupOver") {
      val nonEmpty = spark.read.parquet(exDir)
        .filter(col("contentKind") =!= "empty" && length(col("text")) > 0)
      val deduped = Dedup.lineDedupOver(nonEmpty.select(col("url"), col("text")))
        .select(col("url"), col("text_dedup"))
      nonEmpty.drop("text").join(deduped, Seq("url")).withColumnRenamed("text_dedup", "text")
        .write.mode("overwrite").parquet(ldDir)
    }
    tr.span("TextAnalysis.withGopherSignals")(noop(TextAnalysis.withGopherSignals(spark.read.parquet(ldDir))))
    put("Curate.extract_write_s", tr.lastS("Curate.extract_write"), "s")
    put("Dedup.linededup_s", tr.lastS("Dedup.lineDedupOver"), "s")
    put("TextAnalysis.gopher_s", tr.lastS("TextAnalysis.withGopherSignals"), "s")
    put("Curate.verdict_write_s",
      tr.lastS("Curate.run") - tr.lastS("Curate.extract_write") - tr.lastS("Dedup.lineDedupOver"), "s")
    put("Curate.kept_frac", ratio(report.uniqueKept, report.extracted), "ratio")
    put("Structured.robots_drop_frac", ratio(cpages - report.extracted, cpages), "ratio")

    put("jvm.gc_s", Stats.median(gc.result()), "s")
    put("jvm.cpu_s", Stats.median(cpu.result()), "s")
    put("tasks.n", probe.nTasks.toDouble, "count")
    put("tasks.skew", probe.skew, "ratio")
    put("trace.overhead_s", Stats.median(tracedWall) - Stats.median(untracedWall), "s")

    // ---- the paper's scaling figure: the same pass at local[1]
    Phase("stop session")(spark.stop())
    val one = Phase("local[1] session")(PerfBench.session(1, o.work))
    try tr.span("scaling.local1")(PerfBench.product(one, o.workload, dir, s"$out-local1"))
    finally one.stop()
    val dps1 = attempted / tr.lastS("scaling.local1")
    val dpsN = attempted / Stats.median(untracedWall)
    put("scaling.docs_per_s_local1", dps1, "1/s")
    put("scaling.docs_per_s_localN", dpsN, "1/s")
    put("scaling.efficiency", dpsN / dps1 / cores, "ratio")

    val traces = new File(o.work, "traces")
    val t0 = System.nanoTime()
    tr.write(new File(traces, s"$runId.spans.csv"))
    val layers = new java.io.PrintWriter(new File(traces, s"$runId.layers.tsv"), "UTF-8")
    try {
      layers.println("metric\tvalue\tunit")
      m.foreach { case (k, (v, u)) => layers.println(s"$k\t$v\t$u") }
      layers.println("# self time per span name (s)")
      tr.selfTimes.toSeq.sortBy(_._1).foreach { case (k, v) => layers.println(s"self:$k\t$v\ts") }
    } finally layers.close()
    System.err.println(f"[perfbench] spans and layer table written under $traces ($runId) in ${(System.nanoTime() - t0) / 1e9}%.2f s")
    (m.toSeq.map { case (k, (v, u)) => (k, v, u) }, untraced.result(), failed)
  }
}
