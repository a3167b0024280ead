package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.mutable

/** Block-manager storage meter: the running sum of every block's memory +
  * disk size from `BlockUpdated` events, with a resettable high-water mark.
  * Registered in every run (it is how `peak_storage_mb` is measured). */
class StorageMeter extends SparkListener {
  private val sizes = mutable.HashMap.empty[String, Long]
  private var total = 0L
  private var peak = 0L
  private var base = 0L

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val info = e.blockUpdatedInfo
    val key = info.blockManagerId.executorId + "/" + info.blockId.name
    val now = info.memSize + info.diskSize
    total += now - sizes.getOrElse(key, 0L)
    if (now == 0) sizes.remove(key) else sizes(key) = now
    peak = math.max(peak, total)
  }

  /** Start a new high-water window at the current level. */
  def reset(): Unit = synchronized { base = total; peak = total }
  /** Bytes above the window's starting level at the high-water mark. */
  def peakBytes: Long = synchronized { peak - base }
}

/** One timed interval around a call into a layer. `parent` is the index of
  * the enclosing span, or -1. */
final case class Span(name: String, parent: Int, startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Engine work of one Spark job, collected from listener events. */
final class JobAgg(val group: String, val submitMs: Long) {
  var tasks = 0L
  var taskMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var spill = 0L
  var bytesRead = 0L
  var bytesWritten = 0L
}

/** Engine counters summed over the jobs and plans of one span. */
final case class Counters(jobs: Long, tasks: Long, taskS: Double, cpuS: Double, gcS: Double,
    shuffleWriteMb: Double, shuffleReadMb: Double, spillMb: Double, planS: Double,
    bytesRead: Long, bytesWritten: Long) {
  def +(o: Counters): Counters = Counters(jobs + o.jobs, tasks + o.tasks, taskS + o.taskS,
    cpuS + o.cpuS, gcS + o.gcS, shuffleWriteMb + o.shuffleWriteMb, shuffleReadMb + o.shuffleReadMb,
    spillMb + o.spillMb, planS + o.planS, bytesRead + o.bytesRead, bytesWritten + o.bytesWritten)
}

/** One micro-batch's progress, from the streaming listener. */
final case class BatchProgress(batchId: Long, inputRows: Long, triggerMs: Long,
    planningMs: Long, stateRows: Long, stateBytes: Long, commitMs: Long)

/** Outside-in tracer. The benchmark wraps each call into a layer in
  * [[span]], which names the Spark job group after the span, so every job,
  * task and executed plan the call causes is attributed to it by three
  * listeners: a `SparkListener` (jobs, tasks, SQL execution groups), a
  * `QueryExecutionListener` (planning time, regex-over-scan plans) and a
  * `StreamingQueryListener` (micro-batch progress). Spans and counters stay
  * in memory; the caller reads them when the run ends. `inputMarker` names
  * the input file whose regex passes are counted. */
class Tracer(spark: SparkSession, inputMarker: Option[String]) {
  private val sc = spark.sparkContext
  private val spanBuf = mutable.ArrayBuffer.empty[Span]
  private val open = mutable.Stack.empty[(String, Int)]

  private val jobs = mutable.HashMap.empty[Int, JobAgg]
  private val stageJob = mutable.HashMap.empty[Int, Int]
  private val execGroup = mutable.HashMap.empty[Long, String]
  // a QueryExecution object's identity -> the SQL execution id that ran it
  private val qeExec = mutable.HashMap.empty[Int, Long]
  // per executed plan: (QueryExecution identity, planning ns, regex over
  // the input scan, delivery time ms)
  private val execPlanNs = mutable.ArrayBuffer.empty[(Int, Long, Boolean, Long)]
  private val progress = mutable.ArrayBuffer.empty[BatchProgress]

  private val engine = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
      jobs(e.jobId) = new JobAgg(g, e.time)
      e.stageIds.foreach(s => stageJob(s) = e.jobId)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      for (j <- stageJob.get(e.stageId); agg <- jobs.get(j); m <- Option(e.taskMetrics)) {
        agg.tasks += 1
        agg.taskMs += m.executorRunTime
        agg.cpuNs += m.executorCpuTime
        agg.gcMs += m.jvmGCTime
        agg.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        agg.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        agg.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        agg.bytesRead += m.inputMetrics.bytesRead
        agg.bytesWritten += m.outputMetrics.bytesWritten
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart =>
        Tracer.this.synchronized { execGroup(s.executionId) = s.jobGroupId.getOrElse("") }
      case e: SparkListenerSQLExecutionEnd =>
        Option(org.apache.spark.sql.BenchSql.queryExecution(e)).foreach { q =>
          Tracer.this.synchronized { qeExec(System.identityHashCode(q)) = e.executionId }
        }
      case _ =>
    }
  }

  private val qe = new QueryExecutionListener {
    override def onSuccess(funcName: String, q: QueryExecution, durationNs: Long): Unit = {
      val planNs = q.tracker.phases.valuesIterator.map(p => p.durationMs * 1000000L).sum
      val regex = inputMarker.exists(Tracer.regexOverScan(q.executedPlan, _))
      Tracer.this.synchronized { execPlanNs += ((System.identityHashCode(q), planNs, regex, System.currentTimeMillis())) }
    }
    override def onFailure(funcName: String, q: QueryExecution, e: Exception): Unit = ()
  }

  private val stream = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val d = p.durationMs
      def ms(k: String): Long = if (d.containsKey(k)) d.get(k).longValue else 0L
      val st = p.stateOperators.headOption
      Tracer.this.synchronized {
        progress += BatchProgress(p.batchId, p.numInputRows, ms("triggerExecution"),
          ms("queryPlanning"), st.map(_.numRowsTotal).getOrElse(0L),
          st.map(_.memoryUsedBytes).getOrElse(0L), st.map(_.commitTimeMs).getOrElse(0L))
      }
    }
  }

  def install(): Unit = {
    sc.addSparkListener(engine)
    spark.listenerManager.register(qe)
    spark.streams.addListener(stream)
  }

  def uninstall(): Unit = {
    org.apache.spark.BenchBus.drain(sc)
    sc.removeSparkListener(engine)
    spark.listenerManager.unregister(qe)
    spark.streams.removeListener(stream)
  }

  /** Time `f` as a span named `name`, nested in the currently open span. */
  def span[T](name: String)(f: => T): T = {
    val parent = if (open.isEmpty) -1 else open.top._2
    val idx = spanBuf.length
    spanBuf += Span(name, parent, System.nanoTime(), 0L)
    open.push((name, idx))
    sc.setJobGroup(name, name, interruptOnCancel = false)
    try f
    finally {
      open.pop()
      spanBuf(idx) = spanBuf(idx).copy(endNs = System.nanoTime())
      if (open.isEmpty) sc.clearJobGroup() else sc.setJobGroup(open.top._1, open.top._1, false)
    }
  }

  def spans: Seq[Span] = spanBuf.toSeq
  def find(name: String): Option[Span] = spanBuf.find(_.name == name)

  /** Self time of each span: its duration minus the part of its interval
    * covered by its children. */
  def selfSeconds: Map[String, Double] = Tracer.selfTimes(spanBuf.toSeq)

  /** Engine counters of the jobs and plans whose job group is `group`
    * (only jobs submitted, and plans finished, in [fromMs, toMs)). */
  def counters(group: String, fromMs: Long = Long.MinValue, toMs: Long = Long.MaxValue): Counters = {
    org.apache.spark.BenchBus.drain(sc)
    synchronized {
      val js = jobs.valuesIterator.filter(j => j.group == group && j.submitMs >= fromMs && j.submitMs < toMs).toSeq
      val plan = execPlanNs.iterator.filter(e => groupOf(e._1).contains(group) &&
        e._4 >= fromMs && e._4 < toMs).map(_._2).sum
      val mb = 1024.0 * 1024.0
      Counters(js.size, js.map(_.tasks).sum, js.map(_.taskMs).sum / 1e3, js.map(_.cpuNs).sum / 1e9,
        js.map(_.gcMs).sum / 1e3,
        js.map(_.shuffleWrite).sum / mb, js.map(_.shuffleRead).sum / mb, js.map(_.spill).sum / mb,
        plan / 1e9, js.map(_.bytesRead).sum, js.map(_.bytesWritten).sum)
    }
  }

  /** Executed plans of `group` that evaluate a regex over the input scan. */
  def regexPasses(group: String): Int = {
    org.apache.spark.BenchBus.drain(sc)
    synchronized { execPlanNs.count(e => e._3 && groupOf(e._1).contains(group)) }
  }

  private def groupOf(qe: Int): Option[String] = qeExec.get(qe).flatMap(execGroup.get)

  def batches: Seq[BatchProgress] = { org.apache.spark.BenchBus.drain(sc); synchronized(progress.toSeq) }
}

object Tracer {
  /** Self times by span name (names are unique within one trace). */
  def selfTimes(spans: Seq[Span]): Map[String, Double] =
    spans.zipWithIndex.map { case (s, i) =>
      val kids = spans.filter(_.parent == i)
        .map(k => (math.max(k.startNs, s.startNs), math.min(k.endNs, s.endNs)))
        .filter(k => k._2 > k._1).sortBy(_._1)
      var covered = 0L
      var curS = Long.MinValue
      var curE = Long.MinValue
      kids.foreach { case (a, b) =>
        if (a > curE) { if (curE > curS) covered += curE - curS; curS = a; curE = b }
        else curE = math.max(curE, b)
      }
      if (curE > curS) covered += curE - curS
      s.name -> ((s.endNs - s.startNs - covered) / 1e9)
    }.toMap

  /** Every node of an executed physical plan, descending through adaptive
    * plans and query stages. */
  def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case s: QueryStageExec => s +: nodes(s.plan)
    case other => other +: other.children.flatMap(nodes)
  }

  private def readsInput(p: SparkPlan, marker: String): Boolean = nodes(p).exists {
    case f: FileSourceScanExec => f.relation.location.rootPaths.exists(_.toString.contains(marker))
    case _ => false
  }

  /** True when some node evaluates `regexp_replace` over a subtree that
    * scans the input file (a file-scan path containing `marker`). */
  def regexOverScan(plan: SparkPlan, marker: String): Boolean =
    nodes(plan).exists { n =>
      n.expressions.exists(_.find(_.isInstanceOf[
        org.apache.spark.sql.catalyst.expressions.RegExpReplace]).isDefined) &&
        readsInput(n, marker)
    }
}
