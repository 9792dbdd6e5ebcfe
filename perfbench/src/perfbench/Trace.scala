package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.util.QueryExecutionListener

/** One span: a call from the benchmark into a layer of the program. Times are
  * epoch nanoseconds (wall clock anchored once, advanced by nanoTime) so they
  * line up with Spark's epoch-millisecond event times.
  */
final case class Span(id: Long, parent: Long, name: String, startNs: Long, endNs: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** What the listeners saw, keyed by the span that was current when the work
  * was submitted (the `perfbench.span` local property).
  */
final case class JobRec(jobId: Int, span: Long, startMs: Long, var endMs: Long)
final case class StageRec(stageId: Int, span: Long, submittedMs: Long, var tasks: Int = 0,
    taskMs: mutable.ArrayBuffer[Long] = mutable.ArrayBuffer.empty, agg: TaskAgg = TaskAgg())
final case class TaskAgg(var runMs: Long = 0, var cpuNs: Long = 0, var deserMs: Long = 0,
    var gcMs: Long = 0, var shuffleWrite: Long = 0, var shuffleRead: Long = 0,
    var spill: Long = 0)
/** A file scan node that produced rows in one executed query. */
final case class ScanRec(path: String, rows: Long, files: Long)
final case class QeRec(endMs: Long, analysisMs: Double, optimizationMs: Double,
    planningMs: Double, scans: Seq[ScanRec])

/** Spans and listener records for one traced run. With `enabled = false`
  * (the untraced run) `span` only runs its body and no listener is attached.
  */
final class Trace(val enabled: Boolean) {
  private val wallAnchorNs = System.currentTimeMillis() * 1000000L - System.nanoTime()
  def nowNs(): Long = wallAnchorNs + System.nanoTime()

  val spans = mutable.ArrayBuffer.empty[Span]
  private var nextId = 1L
  private val stack = new ThreadLocal[List[Long]] { override def initialValue() = Nil }
  @volatile private var spark: SparkSession = _

  val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  val stages = mutable.LinkedHashMap.empty[Int, StageRec]
  val qes = mutable.ArrayBuffer.empty[QeRec]
  private val blocks = mutable.HashMap.empty[String, (Long, Long)]
  var memPeak = 0L
  var diskPeak = 0L
  // Last metric value seen per scan node: a cached batch's inner scan shows
  // up in every query over the cache, but ran only when its rows grew.
  private val scanSeen = new java.util.IdentityHashMap[SparkPlan, java.lang.Long]()

  /** Traced runs switch tracing off for every other op (see Main). */
  @volatile var active: Boolean = enabled

  def current: Long = stack.get().headOption.getOrElse(0L)

  def span[T](name: String)(body: => T): T =
    if (!active) body
    else {
      val (id, parent) = synchronized { val i = nextId; nextId += 1; (i, current) }
      val outer = stack.get()
      stack.set(id :: outer)
      val sc = Option(spark).map(_.sparkContext)
      sc.foreach(_.setLocalProperty("perfbench.span", id.toString))
      val t0 = nowNs()
      try body
      finally {
        val t1 = nowNs()
        stack.set(outer)
        sc.foreach(_.setLocalProperty("perfbench.span", outer.headOption.map(_.toString).orNull))
        synchronized { spans += Span(id, parent, name, t0, t1) }
      }
    }

  /** Record a span whose interval is known only after the fact. */
  def record(name: String, parent: Long, startNs: Long, endNs: Long): Unit =
    if (active) synchronized {
      spans += Span(nextId, parent, name, startNs, endNs); nextId += 1
    }

  private def spanOf(props: java.util.Properties): Long =
    Option(props).flatMap(p => Option(p.getProperty("perfbench.span"))).map(_.toLong).getOrElse(0L)

  def attach(s: SparkSession): Unit = {
    spark = s
    if (enabled) {
      s.sparkContext.addSparkListener(listener)
      s.listenerManager.register(qeListener)
    }
  }

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Trace.this.synchronized {
      jobs(e.jobId) = JobRec(e.jobId, spanOf(e.properties), e.time, e.time)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Trace.this.synchronized {
      jobs.get(e.jobId).foreach(_.endMs = e.time)
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = Trace.this.synchronized {
      stages(e.stageInfo.stageId) = StageRec(e.stageInfo.stageId, spanOf(e.properties),
        e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis()))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Trace.this.synchronized {
      val m = e.taskMetrics
      stages.get(e.stageId).foreach { st =>
        st.tasks += 1
        st.taskMs += e.taskInfo.duration
        if (m != null) {
          val a = st.agg
          a.runMs += m.executorRunTime
          a.cpuNs += m.executorCpuTime
          a.deserMs += m.executorDeserializeTime
          a.gcMs += m.jvmGCTime
          a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        }
      }
    }
    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = Trace.this.synchronized {
      val b = e.blockUpdatedInfo
      val key = b.blockId.name
      if (b.memSize == 0 && b.diskSize == 0) blocks.remove(key)
      else blocks(key) = (b.memSize, b.diskSize)
      memPeak = math.max(memPeak, blocks.valuesIterator.map(_._1).sum)
      diskPeak = math.max(diskPeak, blocks.valuesIterator.map(_._2).sum)
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      recordQe(qe)
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
      recordQe(qe)
  }

  private def recordQe(qe: QueryExecution): Unit = {
    val phases = qe.tracker.phases
    def ms(p: String): Double = phases.get(p).map(_.durationMs.toDouble).getOrElse(0.0)
    val endMs = Seq("planning", "optimization", "analysis").flatMap(phases.get)
      .headOption.map(_.endTimeMs).getOrElse(System.currentTimeMillis())
    val scans = mutable.ArrayBuffer.empty[ScanRec]
    def walk(p: SparkPlan): Unit = {
      p match {
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
        case q: QueryStageExec => walk(q.plan)
        case m: InMemoryTableScanExec => walk(m.relation.cachedPlan)
        case f: FileSourceScanExec =>
          val rows = f.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
          val before = Option(scanSeen.get(f)).map(_.longValue).getOrElse(0L)
          if (rows > before) {
            scanSeen.put(f, rows)
            scans += ScanRec(f.relation.location.rootPaths.map(_.toString).mkString(","), rows - before,
              f.metrics.get("numFiles").map(_.value).getOrElse(0L))
          }
        case _ =>
      }
      p.children.foreach(walk)
      p.subqueries.foreach(walk)
    }
    try walk(qe.executedPlan) catch { case _: Throwable => }
    Trace.this.synchronized {
      qes += QeRec(endMs, ms("analysis"), ms("optimization"), ms("planning"), scans.toSeq)
    }
  }

  /** Block until every posted listener event has been handled. */
  def drain(): Unit = if (enabled && spark != null)
    org.apache.spark.PerfbenchBus.waitUntilEmpty(spark.sparkContext)
}

object Trace {
  /** Spans as JSON lines: id, parent, name, start and end in epoch ns. */
  def writeSpans(spans: Seq[Span], path: java.nio.file.Path): Unit = {
    val sb = new StringBuilder
    spans.sortBy(_.startNs).foreach { s =>
      sb ++= s"""{"id":${s.id},"parent":${s.parent},"name":"${s.name}","start_ns":${s.startNs},"end_ns":${s.endNs}}\n"""
    }
    java.nio.file.Files.writeString(path, sb.toString)
  }
}
