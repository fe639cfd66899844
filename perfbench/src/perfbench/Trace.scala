package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.util.QueryExecutionListener

/** One span of the traced run: an op (query or tick), a Spark job or a
  * stage. `op` is shared by every span of one op; `parent` is the id of
  * the enclosing span (none for an op). Times are epoch milliseconds. */
final case class Span(id: String, parent: String, op: Int, kind: String,
                      name: String, start: Long, end: Long)

/** Per-op sums of the public listener events. */
final class LayerSums {
  val v: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap.empty
  def add(k: String, x: Double): Unit = v(k) = v.getOrElse(k, 0.0) + x
  def max(k: String, x: Double): Unit = v(k) = math.max(v.getOrElse(k, 0.0), x)
}

/** Listener-side recorder for the traced run. Everything it reads comes
  * from public `SparkListener` and `QueryExecutionListener` events; it
  * attributes them to the op that is current on the (single) driver
  * thread, and `settle()` makes sure every event of that op has been
  * delivered before the next op starts. */
final class Tracer(spark: SparkSession) {
  private val sc: SparkContext = spark.sparkContext
  @volatile private var current = -1
  private val sentinelsDone = ConcurrentHashMap.newKeySet[String]()
  private val ignoredJobs = ConcurrentHashMap.newKeySet[Int]()
  private val ignoredStages = ConcurrentHashMap.newKeySet[Int]()
  private val jobOp = new ConcurrentHashMap[Int, Integer]()
  private val jobStart = new ConcurrentHashMap[Int, java.lang.Long]()
  private val stageJob = new ConcurrentHashMap[Int, Integer]()
  private val sums = new ConcurrentHashMap[Int, LayerSums]()
  private val spansBuf = java.util.Collections.synchronizedList(new java.util.ArrayList[Span]())
  private val sentinelSeq = new AtomicInteger(0)
  private val Tag = "perfbench-settle-"

  private def sumsOf(op: Int): LayerSums = sums.computeIfAbsent(op, _ => new LayerSums)

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val g = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
      if (g != null && g.startsWith(Tag)) {
        ignoredJobs.add(e.jobId); e.stageIds.foreach(ignoredStages.add)
      } else {
        val op = current
        jobOp.put(e.jobId, op); jobStart.put(e.jobId, e.time)
        e.stageIds.foreach(s => stageJob.putIfAbsent(s, e.jobId))
        sumsOf(op).add("driver.jobs", 1)
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      if (ignoredJobs.contains(e.jobId)) {
        val g = s"$Tag${e.jobId}"
        sentinelsDone.add(g); ()
      } else Option(jobOp.get(e.jobId)).foreach { op =>
        spansBuf.add(Span(s"j${e.jobId}", s"o$op", op, "job", s"job ${e.jobId}",
          jobStart.get(e.jobId), e.time))
      }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val si = e.stageInfo
      if (!ignoredStages.contains(si.stageId)) {
        val job: Int = Option(stageJob.get(si.stageId)).map(_.intValue).getOrElse(-1)
        val op: Int = Option(jobOp.get(job)).map(_.intValue).getOrElse(current)
        sumsOf(op).add("driver.stages", 1)
        for (s <- si.submissionTime; c <- si.completionTime)
          spansBuf.add(Span(s"s${si.stageId}.${si.attemptNumber()}", s"j$job", op, "stage",
            si.name, s, c))
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      if (!ignoredStages.contains(e.stageId) && e.taskMetrics != null) {
        val job: Int = Option(stageJob.get(e.stageId)).map(_.intValue).getOrElse(-1)
        val op: Int = Option(jobOp.get(job)).map(_.intValue).getOrElse(current)
        val m = e.taskMetrics
        val ti = e.taskInfo
        val s = sumsOf(op)
        s.add("exec.tasks", 1)
        if (e.reason != org.apache.spark.Success) s.add("exec.failed_tasks", 1)
        s.add("exec.cpu_s", m.executorCpuTime / 1e9)
        s.add("exec.run_s", m.executorRunTime / 1e3)
        s.add("exec.gc_s", m.jvmGCTime / 1e3)
        val delay = (ti.finishTime - ti.launchTime) - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime - ti.gettingResultTime
        s.add("exec.sched_wait_s", math.max(0L, delay) / 1e3)
        s.max("exec.peak_mem_mb", m.peakExecutionMemory / 1048576.0)
        s.add("scan.bytes", m.inputMetrics.bytesRead.toDouble)
        s.add("scan.rows", m.inputMetrics.recordsRead.toDouble)
        s.add("shuffle.write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
        s.add("shuffle.read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
        s.add("shuffle.records", m.shuffleWriteMetrics.recordsWritten.toDouble)
        s.add("shuffle.write_s", m.shuffleWriteMetrics.writeTime / 1e9)
        s.add("shuffle.fetch_wait_s", m.shuffleReadMetrics.fetchWaitTime / 1e3)
        s.add("spill.mem_bytes", m.memoryBytesSpilled.toDouble)
        s.add("spill.disk_bytes", m.diskBytesSpilled.toDouble)
        s.add("write.bytes", m.outputMetrics.bytesWritten.toDouble)
        s.add("write.rows", m.outputMetrics.recordsWritten.toDouble)
      }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val s = sumsOf(current)
      val ph = qe.tracker.phases
      def phase(n: String): Double = ph.get(n).map(_.durationMs / 1e3).getOrElse(0.0)
      s.add("plans.analysis_s", phase("analysis"))
      s.add("plans.optimize_s", phase("optimization"))
      s.add("plans.planning_s", phase("planning"))
      s.add("write.files", writtenFiles(qe.executedPlan).toDouble)
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  /** Files written by the write commands of an executed plan, read from
    * their public SQL metrics (AQE stages unwrapped). */
  private def writtenFiles(p: SparkPlan): Long = p match {
    case w: DataWritingCommandExec =>
      w.metrics.get("numFiles").map(_.value).getOrElse(0L) + writtenFiles(w.child)
    case a: AdaptiveSparkPlanExec => writtenFiles(a.executedPlan)
    case q: QueryStageExec => writtenFiles(q.plan)
    case other => other.children.map(writtenFiles).sum
  }

  def start(): Unit = {
    sc.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
  }

  def stop(): Unit = {
    sc.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
  }

  def beginOp(op: Int): Unit = current = op

  /** Run one tagged sentinel job and wait until its end event arrives:
    * the listener bus is FIFO, so every event of the current op has then
    * been delivered (the job-group tag keeps the sentinel out of the
    * op's sums and spans). */
  def settle(): Unit = {
    val prev = sc.getLocalProperty("spark.jobGroup.id")
    val prevDesc = sc.getLocalProperty("spark.job.description")
    val tag = Tag + sentinelSeq.incrementAndGet()
    sc.setJobGroup(tag, "perfbench settle")
    val jobId = try {
      val f = sc.parallelize(Seq(1), 1).countAsync()
      f.get()
      f.jobIds.head
    } finally {
      sc.setLocalProperty("spark.jobGroup.id", prev)
      sc.setLocalProperty("spark.job.description", prevDesc)
    }
    val want = s"$Tag$jobId"
    val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
    while (!sentinelsDone.contains(want) && System.nanoTime() < deadline) Thread.sleep(1)
    require(sentinelsDone.contains(want), "listener bus did not deliver the settle sentinel")
  }

  def endOp(op: Int, name: String, start: Long, end: Long): Unit =
    spansBuf.add(Span(s"o$op", "", op, "op", name, start, end))

  def layers(op: Int): Map[String, Double] =
    Option(sums.get(op)).map(_.v.toMap).getOrElse(Map.empty)

  def spans: Seq[Span] = {
    val a = spansBuf.synchronized(new java.util.ArrayList[Span](spansBuf))
    scala.jdk.CollectionConverters.ListHasAsScala(a).asScala.toSeq
  }
}
