package graft.perfbench

import graft.Page
import graft.operators.{Curate, Extract}
import graft.sources.Corpus
import java.io.File
import org.apache.spark.sql.{Dataset, SparkSession}
import scala.collection.mutable

/** The repo's product-path benchmark (see perfbench/README.md).
  *
  * One JVM runs one workload as a closed loop at `local[nproc]`: each pass
  * of the product path starts only after the previous one ended. Untraced
  * runs report the end-to-end metrics; a traced run reports the per-layer
  * ones. Output is checked per url against `ScalarExtract`, untimed.
  */
object PerfBench {

  /** The seed the recorded output digests are taken at. */
  val DefaultSeed: Long = Corpus.DEFAULT_SEED

  /** Pages in each workload's measured input. */
  val Pages: Map[String, Long] =
    Map("extract-mix" -> 6000L, "extract-pdf" -> 6000L, "curate-funnel" -> 2000L)

  /** Pages in the fixed (default-seed) input of the cold first pass. */
  val WarmPages = 500L

  /** Untimed passes over the measured input before the timed ones. After the
    * cold pass the JIT keeps compiling for many passes: over the first eight
    * its time per pass falls from about 10 s to 2.5 s and the pass wall time
    * by 2x, so timing them would measure the compiler.
    */
  val WarmupPasses = 8

  /** Timed passes per untraced run: at least this many, however long. */
  val MinReps = 5

  final case class Opts(workload: String, seed: Long, seconds: Double, trace: Boolean,
      pages: Long, refSeed: Long, work: File, digests: Option[File], codeStamp: String,
      gitHead: String, mode: String)

  private def parse(args: Array[String]): Opts = {
    val kv = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val workload = kv("workload")
    require(Inputs.Workloads.contains(workload), s"unknown workload $workload")
    val seed = kv("seed").toLong
    Opts(workload, seed, kv.getOrElse("seconds", "10").toDouble, kv.getOrElse("trace", "0") == "1",
      kv.get("pages").map(_.toLong).getOrElse(Pages(workload)),
      kv.get("ref-seed").map(_.toLong).getOrElse(seed),
      new File(kv("work")).getAbsoluteFile, kv.get("digests").map(new File(_)),
      kv.getOrElse("code-stamp", "unknown"), kv.getOrElse("git-head", "none"),
      kv.getOrElse("mode", "run"))
  }

  /** The production session recipe of `graft.Main`, at `local[cores]`, with
    * every scratch directory inside the benchmark's work directory.
    */
  def session(cores: Int, work: File): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", (cores * 4).toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.local.dir", new File(work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
      .config("spark.sql.files.maxPartitionBytes", "16m")
      .config("spark.shuffle.sort.bypassMergeThreshold", "2")
      .config("spark.file.transferTo", "false")
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def isCurate(workload: String) = workload == "curate-funnel"

  /** Pages the product path reads: `extract-dir` applies `processable()`,
    * `curate-dir` reads the table as it is.
    */
  def productInput(spark: SparkSession, workload: String, dir: String): Dataset[Page] =
    if (isCurate(workload)) Inputs.read(spark, dir)
    else Inputs.read(spark, dir).filter(Extract.processable())

  /** One pass of the workload's product path over `dir`, written to `out`. */
  def product(spark: SparkSession, workload: String, dir: String, out: String): Option[Curate.Report] =
    if (isCurate(workload))
      Some(Curate.run(spark, productInput(spark, workload, dir), out, robotsGate = true))
    else {
      Extract.extract(productInput(spark, workload, dir)).write.mode("overwrite").parquet(out)
      None
    }

  /** The oracle's view of the same input: same `processable` filter or
    * robots gate, then `ScalarExtract.extract` per page.
    */
  def reference(spark: SparkSession, workload: String, dir: String): org.apache.spark.sql.DataFrame = {
    val pages = productInput(spark, workload, dir)
    if (isCurate(workload)) Check.reference(pages.filter(Check.passesRobotsGate _), Check.ArtifactFields)
    else Check.reference(pages, Check.DocFields)
  }

  /** Failed docs of one product pass: mismatched, missing or extra urls; for
    * curate-funnel also every doc when the funnel report disagrees.
    */
  def failedDocs(spark: SparkSession, workload: String, out: String, rep: Option[Curate.Report],
      ref: org.apache.spark.sql.DataFrame, attempted: Long): Long =
    if (!isCurate(workload)) Check.failures(spark.read.parquet(out), ref, Check.DocFields)
    else {
      val artifact = spark.read.parquet(s"$out-extracted")
      val bad = Check.failures(artifact, ref, Check.ArtifactFields)
      val funnel = Check.funnel(rep.get, artifact, spark.read.parquet(out))
      funnel.foreach(m => System.err.println(s"[perfbench] funnel check failed: $m"))
      if (funnel.nonEmpty) math.max(bad, attempted) else bad
    }

  def outputDigest(spark: SparkSession, out: String): String = Check.digest(spark.read.parquet(out))

  /** Recorded whole-output digests: `workload seed pages sha256` per line. */
  def recorded(o: Opts): Map[(String, Long, Long), String] =
    o.digests.filter(_.isFile).map { f =>
      val src = scala.io.Source.fromFile(f, "UTF-8")
      try src.getLines().map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#")).map { l =>
        val Array(w, s, n, d) = l.split("\\s+")
        (w, s.toLong, n.toLong) -> d
      }.toMap
      finally src.close()
    }.getOrElse(Map.empty)

  /** Data bytes (MB) and data files under `dir`, recursively. */
  def dirMb(dir: String): (Double, Int) = {
    val fs = Option(new File(dir).listFiles()).getOrElse(Array.empty[File])
    val sub = fs.filter(_.isDirectory).map(d => dirMb(d.getPath))
    val data = fs.filter(f => f.isFile && !f.getName.startsWith(".") && !f.getName.startsWith("_"))
    (data.map(_.length).sum / 1048576.0 + sub.map(_._1).sum, data.length + sub.map(_._2).sum)
  }

  /** One product pass: wall time, CPU time of its Spark tasks, peak old
    * generation and failed docs.
    */
  final case class Rep(wallS: Double, taskCpuS: Double, heapMb: Double, failed: Long)

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val cores = Runtime.getRuntime.availableProcessors()
    val spark = session(cores, o.work)
    val taskCpu = new TaskCpu(spark)
    val sessionS = Jvm.uptimeS
    System.err.println(f"[perfbench] session start          $sessionS%8.2f s")
    try {
      val known = recorded(o)
      var digestsOk = true
      def compare(what: String, key: (String, Long, Long), out: String): String = {
        val d = outputDigest(spark, out)
        known.get(key).filter(_ != d).foreach { r =>
          digestsOk = false
          System.err.println(s"[perfbench] $what output digest $d != recorded $r")
        }
        d
      }
      // ---- set-up: session start plus the first (cold) pass over a fixed
      // default-seed input; untraced runs only
      val warmKey = (o.workload, DefaultSeed, WarmPages)
      val setupS =
        if (o.trace) 0.0
        else {
          val warmDir = Inputs.stage(spark, o.work, o.workload, DefaultSeed, WarmPages)
          val warmOut = new File(o.work, s"out/${o.workload}-warm").getPath
          val t0 = System.nanoTime()
          Phase("cold pass")(product(spark, o.workload, warmDir, warmOut))
          val s = sessionS + (System.nanoTime() - t0) / 1e9
          val d = compare("default-seed warm", warmKey, warmOut)
          if (o.mode == "record") println(s"${o.workload} $DefaultSeed $WarmPages $d")
          s
        }

      // ---- inputs (untimed, cached) and the oracle reference
      val dir = Phase("stage input")(Inputs.stage(spark, o.work, o.workload, o.seed, o.pages))
      val refDir = Inputs.stage(spark, o.work, o.workload, o.refSeed, o.pages)
      val ref = reference(spark, o.workload, refDir).cache()
      Phase("reference")(ref.count())
      val attempted = productInput(spark, o.workload, dir).count()
      val out = new File(o.work, s"out/${o.workload}").getPath
      val pass = () => product(spark, o.workload, dir, out)
      val check = (report: Option[Curate.Report]) => failedDocs(spark, o.workload, out, report, ref, attempted)

      /** One timed pass; a pass that throws fails all of its docs. Passes
        * write the same output from the same plan, so an untraced run checks
        * the output of its last pass only.
        */
      var lastReport: Option[Option[Curate.Report]] = None
      def rep(checked: Boolean): Rep = {
        Jvm.resetPeak()
        val (j0, g0, n0, t0) = (Jvm.jitMs, Jvm.gcMs, Jvm.gcCount, taskCpu.totalNs)
        val (c0, w0) = (Jvm.cpuNs, System.nanoTime())
        lastReport =
          try Some(pass())
          catch { case e: Exception => System.err.println(s"[perfbench] product pass threw: $e"); None }
        val (w1, c1) = (System.nanoTime(), Jvm.cpuNs)
        val taskS = (taskCpu.totalNs - t0) / 1e9
        System.err.println(f"[perfbench] pass                   ${(w1 - w0) / 1e9}%8.2f s" +
          f"  cpu ${(c1 - c0) / 1e9}%6.2f s  task cpu $taskS%6.2f s  jit ${Jvm.jitMs - j0}%6d ms" +
          f"  gc ${Jvm.gcMs - g0}%5d ms in ${Jvm.gcCount - n0}%d")
        val failed = lastReport.fold(attempted)(report => if (checked) Phase("check")(check(report)) else 0L)
        Rep((w1 - w0) / 1e9, taskS, Jvm.peakOldMb, failed)
      }

      // ---- closed loop: untimed warm-up passes over the input (one, checked,
      // in a traced run), then timed passes for the budget
      val reps = mutable.ArrayBuffer.empty[Rep]
      if (o.trace || o.mode == "record") reps += rep(checked = true)
      else {
        for (_ <- 1 to WarmupPasses) rep(checked = false)
        while (reps.size < MinReps || reps.map(_.wallS).sum < o.seconds) reps += rep(checked = false)
        lastReport.foreach { report =>
          reps(reps.size - 1) = reps.last.copy(failed = Phase("check")(check(report)))
        }
      }
      val outKey = (o.workload, o.seed, o.pages)
      val outDigest = if (known.contains(outKey) || o.mode == "record") compare("whole", outKey, out) else ""
      if (o.mode == "record") {
        println(s"${o.workload} ${o.seed} ${o.pages} $outDigest")
        return
      }

      val (metrics, tracedFailed, tracedPasses) =
        if (!o.trace) (Seq(
          ("docs_per_s", attempted / Stats.median(reps.map(_.wallS).toSeq), "1/s"),
          ("cpu_s_per_kdoc", Stats.median(reps.map(_.taskCpuS).toSeq) / attempted * 1000, "s"),
          ("heap_peak_mb", Stats.median(reps.map(_.heapMb).toSeq), "MB"),
          ("setup_s", setupS, "s")), 0L, 0)
        else {
          val (ms, untraced, f) = Phase("traced layers")(
            Layers.traced(spark, o, cores, dir, out, attempted, () => rep(checked = false), pass, check))
          reps ++= untraced
          (ms, f, 1)
        }
      val walls = reps.map(_.wallS).toSeq
      val failed = reps.map(_.failed).sum + tracedFailed
      val attemptedAll = attempted * (reps.size + tracedPasses)
      val failedFrac = failed.toDouble / attemptedAll

      println(f"# perfbench ${o.workload} seed=${o.seed} input_pages=$attempted timed_passes=${reps.size} " +
        f"trace=${if (o.trace) 1 else 0} failed_frac=$failedFrac%.6f")
      metrics.foreach { case (n, v, u) => println(f"#   $n%-28s $v%16.6f $u") }
      val metricsJson = metrics.map { case (n, v, u) => n -> Json.Raw(Json.obj("value" -> v, "unit" -> u)) }
      println(Json.obj(
        "record" -> "perfbench", "workload" -> o.workload, "seed" -> o.seed, "trace" -> o.trace,
        "input_pages" -> attempted, "input_digest" -> Inputs.digest(dir),
        "timed_passes" -> reps.size, "pass_wall_s" -> walls, "failed_frac" -> failedFrac,
        "host" -> Host.fingerprint(spark, cores, o.codeStamp, o.gitHead),
        "metrics" -> metricsJson))
      println(Json.obj(
        "correct" -> (failed == 0 && digestsOk), "attempted" -> attemptedAll, "failed" -> failed,
        "metrics" -> metricsJson))
    } finally spark.stop()
  }
}
