package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec

/** Spark work attributed to benchmark requests. A client thread tags
  * its jobs with the [[ReqProperty]] local property; this listener maps
  * each job's stages back to that tag and sums task metrics per tag. */
final class SparkCounters extends SparkListener {
  import SparkCounters._

  private val stageReq = new ConcurrentHashMap[Int, String]()
  private val totals = new ConcurrentHashMap[String, Counts]()

  private def of(req: String): Counts = totals.computeIfAbsent(req, _ => new Counts)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val req = Option(e.properties).flatMap(p => Option(p.getProperty(ReqProperty)))
    req.foreach { r =>
      of(r).jobs.incrementAndGet()
      e.stageIds.foreach(s => stageReq.put(s, r))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val r = stageReq.get(e.stageId)
    if (r != null && e.taskMetrics != null && e.taskInfo != null) {
      val m = e.taskMetrics
      val c = of(r)
      c.tasks.incrementAndGet()
      c.cpuNs.addAndGet(m.executorCpuTime)
      c.runMs.addAndGet(m.executorRunTime)
      c.shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      c.spillBytes.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      // Spark's own definition of scheduler delay: wall time of the
      // task not spent deserializing, running, serializing its result
      // or waiting for its result to be fetched
      val wall = e.taskInfo.finishTime - e.taskInfo.launchTime
      c.schedDelayMs.addAndGet(math.max(0L, wall - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime -
        (if (e.taskInfo.gettingResult) e.taskInfo.finishTime - e.taskInfo.gettingResultTime else 0L)))
    }
  }

  /** Counts summed over every tag accepted by `keep`. */
  def sum(keep: String => Boolean): Map[String, Long] = {
    val acc = scala.collection.mutable.Map[String, Long]().withDefaultValue(0L)
    totals.forEach { (k, c) => if (keep(k)) c.asMap.foreach { case (n, v) => acc(n) += v } }
    acc.toMap.withDefaultValue(0L)
  }
}

object SparkCounters {
  val ReqProperty = "perfbench.req"

  final class Counts {
    val jobs, tasks, cpuNs, runMs, shuffleBytes, spillBytes, schedDelayMs = new AtomicLong(0)
    def asMap: Map[String, Long] = Map("jobs" -> jobs.get, "tasks" -> tasks.get,
      "cpuNs" -> cpuNs.get, "runMs" -> runMs.get, "shuffleBytes" -> shuffleBytes.get,
      "spillBytes" -> spillBytes.get, "schedDelayMs" -> schedDelayMs.get)
  }

  /** Run `body` with this thread's Spark jobs tagged `req`. */
  def tagged[A](spark: org.apache.spark.sql.SparkSession, req: String)(body: => A): A = {
    val sc = spark.sparkContext
    sc.setLocalProperty(ReqProperty, req)
    try body finally sc.setLocalProperty(ReqProperty, null)
  }

  /** Scan-node SQL metrics of an executed plan: (files read, bytes
    * read, rows output by the scans). Adaptive plans are walked in
    * their final form. */
  def scanMetrics(plan: SparkPlan): (Long, Long, Long) = {
    def walk(p: SparkPlan): Seq[FileSourceScanExec] = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case q: QueryStageExec        => walk(q.plan)
      case r: ReusedExchangeExec    => walk(r.child)
      case s: FileSourceScanExec    => Seq(s)
      case other => (other.children ++ other.subqueries).flatMap(walk)
    }
    val scans = walk(plan)
    def m(s: FileSourceScanExec, k: String): Long = s.metrics.get(k).map(_.value).getOrElse(0L)
    (scans.map(m(_, "numFiles")).sum, scans.map(m(_, "filesSize")).sum,
      scans.map(m(_, "numOutputRows")).sum)
  }

  /** Total collection time of every JVM garbage collector, ms. */
  def gcMs(): Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum
  }
}
