package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.BenchAccess
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.util.QueryExecutionListener

/** What one span saw: wall time plus the task and plan metrics of every
  * Spark job that ran inside it.
  */
final class Span(val name: String, val group: String) {
  var wallS = 0.0
  var gcS = 0.0
  var jobs = 0
  var tasks = 0
  /** Rows out of, and bytes of files read by, file scans: the executed
    * plans' SQL metrics.
    */
  var scanRows = 0L
  var scanBytes = 0L
  /** Records read by tasks (covers streaming batches, whose plans the
    * query-execution listener does not see).
    */
  var recordsRead = 0L
  var bytesRead = 0L
  var shuffleWrite = 0L
  var spill = 0L
  var bytesWritten = 0L
  /** Rows out of joins that carry a non-equi condition: the `a < b`
    * candidate self-joins of the dedup and ANN families.
    */
  var condJoinRows = 0L
  val stageTaskMs: mutable.Map[Int, mutable.ArrayBuffer[Long]] = mutable.Map()
  val shuffleReadStages: mutable.Set[Int] = mutable.Set()

  def rowsRead: Long = if (scanRows > 0) scanRows else recordsRead
  def inputBytes: Long = if (scanBytes > 0) scanBytes else bytesRead

  /** Max ÷ median task time of the post-exchange stage with the most task
    * time; 0 when the span shuffled nothing.
    */
  def taskSkew: Double = {
    val post = stageTaskMs.filter { case (id, _) => shuffleReadStages(id) }
    if (post.isEmpty) 0.0
    else {
      val ts = post.maxBy(_._2.sum)._2.sorted
      val med = Stats.median(ts.map(_.toDouble).toSeq)
      if (med <= 0) 0.0 else ts.last / med
    }
  }

  def json: String =
    s"""{"name":"$name","group":"$group","wall_s":$wallS,"gc_s":$gcS,"jobs":$jobs,""" +
      s""""tasks":$tasks,"scan_rows":$scanRows,"scan_bytes":$scanBytes,"records_read":$recordsRead,""" +
      s""""bytes_read":$bytesRead,"shuffle_write_bytes":$shuffleWrite,"spill_bytes":$spill,""" +
      s""""bytes_written":$bytesWritten,"cond_join_rows":$condJoinRows,"task_skew":$taskSkew}"""
}

/** Span recorder. Each span runs under its own Spark job group; a listener
  * registered by the benchmark attributes stage task metrics and executed-
  * plan SQL metrics to the open span. Spans are kept in memory and written
  * as JSON when the benchmark ends. Spans never nest and only one action
  * runs at a time, so every event delivered while a span is open belongs to
  * it; the listener bus is drained before a span closes.
  */
final class Tracer(spark: SparkSession) extends SparkListener with QueryExecutionListener {
  private val sc = spark.sparkContext
  val spans: mutable.ArrayBuffer[Span] = mutable.ArrayBuffer()
  private val byGroup = new ConcurrentHashMap[String, Span]()
  private val stageSpan = new ConcurrentHashMap[Int, Span]()
  @volatile private var current: Span = _
  private var seq = 0

  def attach(): Unit = {
    sc.addSparkListener(this)
    spark.listenerManager.register(this)
  }

  def detach(): Unit = {
    BenchAccess.drainListeners(sc)
    sc.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }

  def span[T](name: String)(f: => T): (T, Span) = {
    seq += 1
    val s = new Span(name, f"perfbench-$seq%03d-$name")
    byGroup.put(s.group, s)
    current = s
    sc.setJobGroup(s.group, name, interruptOnCancel = false)
    val gc0 = Tracer.gcMs()
    val t0 = System.nanoTime()
    try {
      val r = f
      s.wallS = (System.nanoTime() - t0) / 1e9
      (r, s)
    } finally {
      sc.clearJobGroup()
      BenchAccess.drainListeners(sc)
      s.gcS = (Tracer.gcMs() - gc0) / 1000.0
      current = null
      spans += s
    }
  }

  /** Streaming micro-batches set their own job group, so a job whose group
    * is not a span's is attributed to the open span.
    */
  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val byProp = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .flatMap(g => Option(byGroup.get(g)))
    byProp.orElse(Option(current)).foreach { s =>
      s.jobs += 1
      e.stageIds.foreach(id => stageSpan.put(id, s))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val s = stageSpan.get(e.stageId)
    if (s != null) {
      s.tasks += 1
      s.stageTaskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer()) += e.taskInfo.duration
      val m = e.taskMetrics
      if (m != null) {
        s.recordsRead += m.inputMetrics.recordsRead
        s.bytesRead += m.inputMetrics.bytesRead
        s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        s.spill += m.diskBytesSpilled
        s.bytesWritten += m.outputMetrics.bytesWritten
        if (m.shuffleReadMetrics.recordsRead > 0) s.shuffleReadStages += e.stageId
      }
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val s = current
    if (s != null) Tracer.Walk.foreach(qe.executedPlan) {
      case p: FileSourceScanExec =>
        s.scanRows += Tracer.metric(p.metrics, "numOutputRows")
        s.scanBytes += Tracer.metric(p.metrics, "filesSize")
      case j: BaseJoinExec if j.condition.isDefined =>
        s.condJoinRows += Tracer.metric(j.metrics, "numOutputRows")
      case _ =>
    }
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  def json: String = spans.map(_.json).mkString("[\n", ",\n", "\n]")
}

object Tracer {
  private object Walk extends AdaptiveSparkPlanHelper

  private def metric(ms: Map[String, org.apache.spark.sql.execution.metric.SQLMetric],
      key: String): Long = ms.get(key).map(_.value).getOrElse(0L)

  def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).filter(_ > 0).sum
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** The highest of p99/p95/p90/p75 that has at least 10 samples above it
    * (nearest rank), else the median. Returns (percentile, value).
    */
  def tail(xs: Seq[Double]): (Int, Double) = {
    val s = xs.sorted
    val n = s.size
    Seq(99, 95, 90, 75).find(p => n - math.ceil(p / 100.0 * n).toInt >= 10) match {
      case Some(p) => (p, s(math.ceil(p / 100.0 * n).toInt - 1))
      case None => (50, median(s))
    }
  }
}
