package graft.perfbench

import org.apache.spark.sql.SparkSession

/** Minimal JSON writer for the result lines (numbers, strings, booleans,
  * sequences, and objects given as key/value pairs).
  */
object Json {
  def obj(kv: (String, Any)*): String = kv.map { case (k, v) => s"${str(k)}:${value(v)}" }.mkString("{", ",", "}")

  private def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  private def value(v: Any): String = v match {
    case s: String => str(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n @ (_: Int | _: Long | _: Boolean) => n.toString
    case raw: Raw => raw.json
    case kv: Seq[_] if kv.forall(_.isInstanceOf[(_, _)]) && kv.nonEmpty =>
      obj(kv.map { case (k: String, x) => k -> x; case other => sys.error(s"bad pair $other") }: _*)
    case xs: Seq[_] => xs.map(value).mkString("[", ",", "]")
    case other => str(other.toString)
  }

  /** A value already rendered as JSON. */
  final case class Raw(json: String)
}

/** The host fingerprint every result line carries. */
object Host {
  def fingerprint(spark: SparkSession, cores: Int, codeStamp: String, gitHead: String): Json.Raw = {
    val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    Json.Raw(Json.obj(
      "nproc" -> cores,
      "mem_total_mb" -> os.getTotalMemorySize / 1048576,
      "jvm" -> s"${System.getProperty("java.vm.name")} ${System.getProperty("java.runtime.version")}",
      "spark" -> spark.version,
      "master" -> spark.sparkContext.master,
      "git_head" -> gitHead,
      "code_stamp" -> codeStamp))
  }
}

/** Wall time of each phase of a run, on standard error: where its time goes. */
object Phase {
  def apply[T](name: String)(f: => T): T = {
    val t0 = System.nanoTime()
    try f
    finally System.err.println(f"[perfbench] $name%-22s ${(System.nanoTime() - t0) / 1e9}%8.2f s")
  }
}
