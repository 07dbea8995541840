package perfbench

import java.nio.file.Path
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.{SparkContext, Success}
import org.apache.spark.scheduler._
import org.apache.spark.sql.{BenchAccess, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import graft.sources.{LogStore, PosixLogStore, VersionedTable}

/** One call into a layer, timed from the benchmark's side of the call.
  * Times are epoch microseconds; `parent` is -1 for an operation's root
  * span. `tag` names the catalog entry, query or format involved. */
final case class Span(id: Int, parent: Int, op: Int, name: String,
    tag: String, startUs: Long, endUs: Long)

/** Spark job, recorded by [[JobListener]]: `span` is the benchmark span
  * that was open on the submitting thread (-1 when none was). */
final class JobRec(val jobId: Int, val span: Int, val op: Int,
    val startUs: Long) {
  var endUs: Long = startUs
  var stages = 0
  var tasks = 0
  var failedTasks = 0
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var schedDelayMs = 0L
  var shuffleRead = 0L
  var shuffleWrite = 0L
  var spill = 0L
  var input = 0L
}

/** Catalyst work of one query execution (from its planning tracker). */
final case class PlanRec(op: Int, parseMs: Long, analyzeMs: Long,
    optimizeMs: Long, planMs: Long, graftRuleNs: Long,
    graftRuleCalls: Long, graftRuleEffective: Long)

/** The traced-run recorder. Spans are opened around the benchmark's own
  * calls into each layer; Spark jobs and query executions arrive from
  * listeners that are registered only while a traced operation runs.
  * Everything stays in memory until the run ends. */
final class Tracer(spark: SparkSession, logPrefix: String) {
  private val sc: SparkContext = spark.sparkContext
  private val baseNs = System.nanoTime()
  private val baseUs = System.currentTimeMillis() * 1000L
  def nowUs: Long = baseUs + (System.nanoTime() - baseNs) / 1000L

  val spans = mutable.ArrayBuffer.empty[Span]
  val jobs = mutable.ArrayBuffer.empty[JobRec]
  val plans = mutable.ArrayBuffer.empty[PlanRec]
  /** Per traced operation: (log lists, log reads) of graft tables,
    * from the counting log store. */
  val logOps = mutable.Map.empty[Int, (Long, Long)]

  private var stack: List[Int] = Nil
  private var nextId = 0
  @volatile private var op = -1
  private var active = false

  private val jobListener = new JobListener(this)
  private val planListener = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
      record(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
      record(qe)
  }
  private val logStore = new CountingLogStore

  private def record(qe: QueryExecution): Unit = {
    val ph = qe.tracker.phases
    def ms(p: String) = ph.get(p).map(_.durationMs).getOrElse(0L)
    val rules = qe.tracker.rules.filter(_._1.startsWith("graft."))
    val rec = PlanRec(op, ms("parsing"), ms("analysis"), ms("optimization"),
      ms("planning"), rules.values.map(_.totalTimeNs).sum,
      rules.values.map(_.numInvocations).sum,
      rules.values.map(_.numEffectiveInvocations).sum)
    plans.synchronized(plans += rec)
  }

  def currentOp: Int = op

  /** Run one operation; when `traced`, with spans and listeners on. */
  def operation[T](id: Int, traced: Boolean, name: String)(body: => T): T = {
    op = id
    if (!traced) return body
    active = true
    sc.addSparkListener(jobListener)
    spark.listenerManager.register(planListener)
    VersionedTable.registerLogStore(logPrefix, logStore)
    logStore.reset()
    try span(name)(body)
    finally {
      BenchAccess.drainListenerBus(sc)
      VersionedTable.unregisterLogStore(logPrefix)
      spark.listenerManager.unregister(planListener)
      sc.removeSparkListener(jobListener)
      logOps(id) = logStore.counts
      active = false
    }
  }

  def span[T](name: String, tag: String = "")(body: => T): T =
    if (!active) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      sc.setLocalProperty(Tracer.SpanKey, id.toString)
      val t0 = nowUs
      try body
      finally {
        spans += Span(id, parent, op, name, tag, t0, nowUs)
        stack = stack.tail
        sc.setLocalProperty(Tracer.SpanKey,
          stack.headOption.map(_.toString).orNull)
      }
    }
}

object Tracer {
  val SpanKey = "perfbench.span"
}

/** Folds scheduler events into per-job records. Runs on the listener
  * bus thread; the tracer reads the records only after draining it. */
final class JobListener(t: Tracer) extends SparkListener {
  private val byJob = mutable.Map.empty[Int, JobRec]
  private val jobOfStage = mutable.Map.empty[Int, JobRec]

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val span = Option(e.properties)
      .flatMap(p => Option(p.getProperty(Tracer.SpanKey)))
      .map(_.toInt).getOrElse(-1)
    val j = new JobRec(e.jobId, span, t.currentOp, e.time * 1000L)
    byJob(e.jobId) = j
    e.stageIds.foreach(s => jobOfStage(s) = j)
    t.jobs.synchronized(t.jobs += j)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    byJob.remove(e.jobId).foreach(_.endUs = e.time * 1000L)

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    jobOfStage.get(e.stageInfo.stageId).foreach(_.stages += 1)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    jobOfStage.get(e.stageId).foreach { j =>
      j.tasks += 1
      if (e.reason != Success) j.failedTasks += 1
      val m = e.taskMetrics
      if (m != null) {
        j.runMs += m.executorRunTime
        j.cpuNs += m.executorCpuTime
        j.gcMs += m.jvmGCTime
        val info = e.taskInfo
        // the Spark UI's scheduler-delay formula
        j.schedDelayMs += math.max(0L, info.duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime -
          (if (info.gettingResult) info.finishTime - info.gettingResultTime
           else 0L))
        j.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        j.spill += m.diskBytesSpilled
        j.input += m.inputMetrics.bytesRead
      }
    }
}

/** Graft log store that counts read-side requests: LIST calls and
  * object reads (whole reads plus existence and mtime probes).
  * Delegates every call to the default POSIX store. */
final class CountingLogStore extends LogStore {
  private val lists = new AtomicLong
  private val reads = new AtomicLong
  def reset(): Unit = Seq(lists, reads).foreach(_.set(0))
  def counts: (Long, Long) = (lists.get, reads.get)

  override def mkdirs(dir: Path): Unit = PosixLogStore.mkdirs(dir)
  override def listDir(dir: Path): Seq[String] = {
    lists.incrementAndGet(); PosixLogStore.listDir(dir)
  }
  override def exists(path: Path): Boolean = {
    reads.incrementAndGet(); PosixLogStore.exists(path)
  }
  override def readBytes(path: Path): Array[Byte] = {
    reads.incrementAndGet(); PosixLogStore.readBytes(path)
  }
  override def readLines(path: Path): Seq[String] = {
    reads.incrementAndGet(); PosixLogStore.readLines(path)
  }
  override def mtimeMs(path: Path): Long = {
    reads.incrementAndGet(); PosixLogStore.mtimeMs(path)
  }
  override def putIfAbsent(path: Path, body: Array[Byte]): Unit =
    PosixLogStore.putIfAbsent(path, body)
  override def delete(path: Path): Unit = PosixLogStore.delete(path)
}
