package graft.perfbench

import java.io.{File, PrintWriter}
import java.lang.management.ManagementFactory
import java.util.concurrent.atomic.AtomicLong
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{DataSourceScanExec, FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.util.QueryExecutionListener
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** One timed interval of a traced run: `parent` is the span that caused it
  * (0 = none); every span of a run carries the run id.
  */
final case class Span(id: Long, parent: Long, name: String, startNs: Long, endNs: Long) {
  def durNs: Long = endNs - startNs
}

/** In-memory span store of one traced run, written out when the run ends.
  * Driver-side spans nest by call structure; executor-side spans (the
  * per-page pass) arrive in bulk through [[addAll]].
  */
final class Tracer(val runId: String) {
  private val spans = ArrayBuffer.empty[Span]
  private val ids = new AtomicLong(0L)
  private var open: List[Long] = Nil

  def current: Long = open.headOption.getOrElse(0L)

  def span[T](name: String)(f: => T): T = {
    val id = ids.incrementAndGet()
    val parent = current
    open = id :: open
    val t0 = System.nanoTime()
    try f
    finally {
      val t1 = System.nanoTime()
      open = open.tail
      spans.synchronized(spans += Span(id, parent, name, t0, t1))
    }
  }

  def addAll(more: Iterable[Span]): Unit = spans.synchronized(spans ++= more)

  def all: Seq[Span] = spans.synchronized(spans.toVector)

  /** Duration of the last closed span with this name, in seconds. */
  def lastS(name: String): Double =
    all.reverseIterator.find(_.name == name).map(_.durNs / 1e9).getOrElse(0.0)

  /** Sum of self time per span name, in seconds: a span's duration minus
    * the part of its interval covered by the union of its children (children
    * of one span may run in parallel, as page spans do across task threads).
    */
  def selfTimes: Map[String, Double] = {
    val ss = all
    val kids = ss.groupBy(_.parent)
    ss.groupBy(_.name).map { case (name, group) =>
      name -> group.map { s =>
        val cs = kids.getOrElse(s.id, Nil).map(c => (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs)))
          .filter { case (a, b) => b > a }.sortBy(_._1)
        var covered = 0L
        var (curA, curB) = (Long.MinValue, Long.MinValue)
        cs.foreach { case (a, b) =>
          if (a > curB) { if (curB > curA) covered += curB - curA; curA = a; curB = b }
          else curB = math.max(curB, b)
        }
        if (curB > curA) covered += curB - curA
        (s.durNs - covered) / 1e9
      }.sum
    }
  }

  /** Spans as CSV: run_id,span_id,parent_id,name,start_ns,end_ns. */
  def write(f: File): Unit = {
    f.getParentFile.mkdirs()
    val w = new PrintWriter(f, "UTF-8")
    try {
      w.println("run_id,span_id,parent_id,name,start_ns,end_ns")
      all.foreach(s => w.println(s"$runId,${s.id},${s.parent},${s.name},${s.startNs},${s.endNs}"))
    } finally w.close()
  }
}

/** Process-level JVM readings: CPU time, GC time, and the peak old-generation
  * occupancy right after a collection (fed by GC notifications).
  */
object Jvm {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq
  private def isOld(pool: String) = pool.contains("Old Gen") || pool.contains("Tenured")
  private val oldPool = ManagementFactory.getMemoryPoolMXBeans.asScala.find(p => isOld(p.getName))
  private val peakOld = new AtomicLong(0L)

  def cpuNs: Long = os.getProcessCpuTime
  def gcMs: Long = gcs.map(_.getCollectionTime).sum
  def gcCount: Long = gcs.map(_.getCollectionCount).sum
  def jitMs: Long = Option(ManagementFactory.getCompilationMXBean)
    .filter(_.isCompilationTimeMonitoringSupported).map(_.getTotalCompilationTime).getOrElse(0L)
  def uptimeS: Double = ManagementFactory.getRuntimeMXBean.getUptime / 1e3

  gcs.foreach {
    case e: NotificationEmitter =>
      e.addNotificationListener(new NotificationListener {
        def handleNotification(n: Notification, hb: AnyRef): Unit =
          if (n.getType == com.sun.management.GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
            val info = com.sun.management.GarbageCollectionNotificationInfo
              .from(n.getUserData.asInstanceOf[CompositeData])
            info.getGcInfo.getMemoryUsageAfterGc.asScala.foreach { case (pool, u) =>
              if (isOld(pool)) peakOld.accumulateAndGet(u.getUsed, math.max)
            }
          }
      }, null, null)
    case _ => ()
  }

  /** Collect fully, then restart the old-generation peak at the live set. */
  def resetPeak(): Unit = {
    System.gc()
    peakOld.set(oldPool.map(_.getUsage.getUsed).getOrElse(0L))
  }

  def peakOldMb: Double = peakOld.get / 1048576.0
}

/** Executor CPU time summed over every task that ended since it was made:
  * the CPU the product path's own tasks spent, without the JIT compiler, GC
  * and driver threads that the process CPU time also holds.
  */
final class TaskCpu(spark: SparkSession) extends SparkListener {
  private val ns = new AtomicLong(0L)
  spark.sparkContext.addSparkListener(this)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) ns.addAndGet(m.executorDeserializeCpuTime + m.executorCpuTime)
  }

  def totalNs: Long = {
    org.apache.spark.BenchBus.drain(spark.sparkContext)
    ns.get
  }
}

final case class TaskRec(stage: Int, durMs: Long, shuffleWrite: Long, spill: Long)

/** Spark's own view of a traced run: a SparkListener for task and stage
  * metrics and a QueryExecutionListener for executed plans, both registered
  * by the benchmark. Totals cover every window between a [[start]] and its
  * [[stop]] since the probe was made.
  */
final class SparkProbe(spark: SparkSession) extends SparkListener with QueryExecutionListener
    with AdaptiveSparkPlanHelper {

  private val tasks = ArrayBuffer.empty[TaskRec]
  private val stageWallMs = scala.collection.mutable.Map.empty[Int, Long]
  private val plans = ArrayBuffer.empty[SparkPlan]

  def start(): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
  }

  def stop(): Unit = {
    org.apache.spark.BenchBus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    for (a <- i.submissionTime; b <- i.completionTime) stageWallMs(i.stageId) = b - a
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null)
      tasks += TaskRec(e.stageId, e.taskInfo.duration,
        m.shuffleWriteMetrics.bytesWritten, m.diskBytesSpilled)
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    synchronized { plans += qe.executedPlan }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  private def scans(p: SparkPlan, inputDir: String): Seq[DataSourceScanExec] = collect(p) {
    case s: FileSourceScanExec
        if s.relation.location.rootPaths.exists(_.toString.contains(inputDir)) => s
  }

  /** Rows all scans of the pages table produced, over the pages it holds. */
  def scanPasses(inputDir: String, pages: Long): Double = synchronized {
    val rows = plans.flatMap(scans(_, inputDir))
      .flatMap(_.metrics.get("numOutputRows")).map(_.value).sum
    rows.toDouble / pages
  }

  /** Shuffle exchanges in the plans that scan the pages table. */
  def exchanges(inputDir: String): Int = synchronized {
    plans.map(p => if (scans(p, inputDir).isEmpty) 0 else collect(p) { case x: ShuffleExchangeExec => x }.size).sum
  }

  def shuffleWriteMb: Double = synchronized(tasks.map(_.shuffleWrite).sum / 1048576.0)
  def spillMb: Double = synchronized(tasks.map(_.spill).sum / 1048576.0)
  def nTasks: Int = synchronized(tasks.size)

  /** One line per stage: id, tasks, wall ms and summed task ms. */
  def stageLines: Seq[String] = synchronized {
    stageWallMs.toSeq.sorted.map { case (id, wall) =>
      val ts = tasks.filter(_.stage == id)
      f"stage $id%4d  tasks ${ts.size}%4d  wall $wall%6d ms  task sum ${ts.map(_.durMs).sum}%7d ms"
    }
  }

  /** max ÷ median task time of the stage with the longest wall time. */
  def skew: Double = synchronized {
    if (stageWallMs.isEmpty) 1.0
    else {
      val longest = stageWallMs.maxBy(_._2)._1
      val ds = tasks.filter(_.stage == longest).map(_.durMs.toDouble).sorted
      if (ds.isEmpty) 1.0 else ds.last / math.max(1.0, Stats.median(ds.toSeq))
    }
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
}
