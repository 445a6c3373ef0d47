package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval at a layer boundary. `parent` indexes the enclosing
  * span (-1 for a pass). Build spans are derived from `SharedBuilds.snapshot`
  * deltas around their parent call: their durations are measured, their
  * placement inside the parent is not (`derived` = true). */
final case class Span(name: String, item: String, pass: Int, parent: Int,
                      startNs: Long, endNs: Long, derived: Boolean = false) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Brackets calls into the program. The untraced tracer only runs the body;
  * the traced one records spans in memory and attributes Spark jobs to the
  * running item through job groups. */
class Tracer(val traced: Boolean) {
  val spans = mutable.ArrayBuffer.empty[Span]
  private var open: List[Int] = Nil
  var pass = 0
  var item = ""

  /** Times `body` as span `name`; with `builds`, also records the shared
    * builds that ran inside it as child spans. */
  def span[T](name: String, builds: Boolean = false)(body: => T): T =
    if (!traced) body
    else {
      val idx = spans.size
      spans += Span(name, item, pass, open.headOption.getOrElse(-1), System.nanoTime(), 0L)
      open = idx :: open
      val before = if (builds) graft.queries.SharedBuilds.snapshot else Map.empty[String, Double]
      try body
      finally {
        val end = System.nanoTime()
        open = open.tail
        spans(idx) = spans(idx).copy(endNs = end)
        var at = spans(idx).startNs
        if (builds) for ((b, secs) <- graft.queries.SharedBuilds.snapshot.toSeq.sortBy(_._1)) {
          val d = secs - before.getOrElse(b, 0.0)
          if (d > 0) {
            val ns = (d * 1e9).toLong
            spans += Span(s"build:$b", item, pass, idx, at, at + ns, derived = true)
            at += ns
          }
        }
      }
    }

  /** Layer self time per item: a span's duration minus its children's.
    * `SharedBuilds` times a build that runs inside another build in both
    * (d14's gram_postings inside substring_spans), so derived build children
    * can add up to more than their parent; they are capped at its duration. */
  def selfSeconds(pass: Int): Map[(String, String), Double] = {
    val inPass = spans.indices.filter(i => spans(i).pass == pass)
    val childSum = mutable.Map.empty[Int, Double].withDefaultValue(0.0)
    for (i <- inPass if spans(i).parent >= 0) childSum(spans(i).parent) += spans(i).seconds
    inPass.groupMapReduce(i => (spans(i).item, spans(i).name))(i =>
      spans(i).seconds - math.min(childSum(i), spans(i).seconds))(_ + _)
  }
}

/** Per-item Spark counters from a listener and a query-execution listener,
  * registered only for traced passes. Jobs are tied to items by job group;
  * SQL executions by the item running when the bus was last drained. */
class Counters(spark: SparkSession) extends SparkListener with QueryExecutionListener
    with AdaptiveSparkPlanHelper {
  @volatile var item = ""
  val perItem = mutable.Map.empty[String, mutable.Map[String, Double]]
  val taskIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
  private val stageItem = mutable.Map.empty[Int, String]

  private def add(it: String, k: String, v: Double): Unit = synchronized {
    val m = perItem.getOrElseUpdate(it, mutable.Map.empty[String, Double].withDefaultValue(0.0))
    m(k) += v
  }
  private def max(it: String, k: String, v: Double): Unit = synchronized {
    val m = perItem.getOrElseUpdate(it, mutable.Map.empty[String, Double].withDefaultValue(0.0))
    m(k) = math.max(m(k), v)
  }

  def reset(): Unit = synchronized { perItem.clear(); taskIntervals.clear(); stageItem.clear() }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val it = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse(item)
    synchronized { e.stageIds.foreach(stageItem(_) = it) }
    add(it, "spark.jobs", 1)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    add(synchronized(stageItem.getOrElse(e.stageInfo.stageId, item)), "spark.stages", 1)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val it = synchronized(stageItem.getOrElse(e.stageId, item))
    add(it, "spark.tasks", 1)
    synchronized { taskIntervals += ((e.taskInfo.launchTime, e.taskInfo.finishTime)) }
    val m = e.taskMetrics
    if (m != null) {
      add(it, "spark.executor_run_s", m.executorRunTime / 1e3)
      add(it, "spark.shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
      add(it, "spark.shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
      add(it, "spark.shuffle_records", m.shuffleWriteMetrics.recordsWritten.toDouble)
      add(it, "spark.input_bytes", m.inputMetrics.bytesRead.toDouble)
      add(it, "spark.output_bytes", m.outputMetrics.bytesWritten.toDouble)
      add(it, "spark.result_bytes", m.resultSize.toDouble)
      add(it, "spark.spill_bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
      add(it, "spark.task_gc_s", m.jvmGCTime / 1e3)
      max(it, "spark.peak_exec_mem_bytes", m.peakExecutionMemory.toDouble)
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    execution(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    execution(qe)

  private def execution(qe: QueryExecution): Unit = {
    val it = item
    add(it, "sql.executions", 1)
    add(it, "sql.planning_s", qe.tracker.phases.values.map(_.durationMs).sum / 1e3)
    val bytes = collectWithSubqueries(qe.executedPlan) {
      case b: BroadcastExchangeExec => b.metrics.get("dataSize").map(_.value).getOrElse(0L)
    }.sum
    add(it, "sql.broadcast_bytes", bytes.toDouble)
  }

  def register(): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
  }
  def unregister(): Unit = {
    org.apache.spark.BenchBus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }

  /** Wall seconds inside [t0Ms, t1Ms] during which no task was running. */
  def idleSeconds(t0Ms: Long, t1Ms: Long): Double = synchronized {
    var covered = 0L
    var reach = t0Ms
    for ((s, e) <- taskIntervals.sortBy(_._1)) {
      val a = math.max(s, reach)
      val b = math.min(e, t1Ms)
      if (b > a) { covered += b - a; reach = b }
    }
    (t1Ms - t0Ms - covered) / 1e3
  }
}

/** Process-level JVM readings. */
object Jvm {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  def cpuSeconds: Double = os.getProcessCpuTime / 1e9
  def gcSeconds: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1e3
  private def heapPools =
    ManagementFactory.getMemoryPoolMXBeans.asScala.filter(_.getType == java.lang.management.MemoryType.HEAP)
  def resetHeapPeak(): Unit = heapPools.foreach(_.resetPeakUsage())
  def heapPeakMb: Double = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0
  /** Resident-memory high-water mark (VmHWM) of this process, in MiB. */
  def peakRssMb: Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024.0
    }.getOrElse(-1.0)
    finally src.close()
  }
  def loadAvg: Double =
    try scala.io.Source.fromFile("/proc/loadavg").mkString.split(" ")(0).toDouble
    catch { case _: Exception => -1.0 }
}
