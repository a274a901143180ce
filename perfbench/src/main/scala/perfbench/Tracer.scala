package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Per-call spans and per-layer counts, taken only from outside the
  * program: the harness marks its own phases (`build`, `execute`), Spark's
  * `QueryExecutionListener` reports each query's analysis, optimization and
  * planning phases, and a `SparkListener` reports jobs, stages and tasks.
  *
  * Each job carries the local property `perfbench.phase` that was set when
  * it was submitted, so eager library jobs land under `build`. Spans stay
  * in memory and are written at exit. A span's self time is its duration
  * minus the part of it that its children cover.
  */
class Tracer(spark: SparkSession) {
  import Tracer._

  private val sc = spark.sparkContext
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var call = 0
  private var root: Span = _
  private var builtQe: Option[QueryExecution] = None

  // listener state, written on the listener thread
  private val lock = new Object
  private val jobs = mutable.Map.empty[Int, JobRec]
  private val stageJob = mutable.Map.empty[Int, Int]
  private val stages = mutable.Map.empty[Int, StageRec]
  private val queries = mutable.ArrayBuffer.empty[QueryExecution]
  private var events = 0L

  sc.addSparkListener(new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = lock.synchronized {
      val tag = Option(e.properties).flatMap(p => Option(p.getProperty(PhaseKey))).getOrElse("")
      jobs(e.jobId) = JobRec(e.jobId, tag, e.time)
      e.stageIds.foreach(s => if (!stageJob.contains(s)) stageJob(s) = e.jobId)
      events += 1
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = lock.synchronized {
      jobs.get(e.jobId).foreach(_.end = e.time); events += 1
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = lock.synchronized {
      val i = e.stageInfo
      val s = stages.getOrElseUpdate(i.stageId, new StageRec(i.stageId))
      s.start = i.submissionTime.getOrElse(0L); s.end = i.completionTime.getOrElse(0L)
      events += 1
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = lock.synchronized {
      val s = stages.getOrElseUpdate(e.stageId, new StageRec(e.stageId))
      val m = e.taskMetrics
      val info = e.taskInfo
      s.tasks += 1
      s.durations += info.duration
      if (m != null) {
        s.runMs += m.executorRunTime
        s.cpuNs += m.executorCpuTime
        s.gcMs += m.jvmGCTime
        s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        s.spill += m.diskBytesSpilled
        s.inBytes += m.inputMetrics.bytesRead
        s.inRows += m.inputMetrics.recordsRead
        s.outBytes += m.outputMetrics.bytesWritten
        s.delayMs += math.max(0L, info.duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime - info.gettingResultTime)
      }
      events += 1
    }
  })

  spark.listenerManager.register(new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      lock.synchronized { queries += qe; events += 1 }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      lock.synchronized { queries += qe; events += 1 }
  })

  // listener times are epoch milliseconds; harness spans use the same
  // clock, read at nanosecond resolution
  private val baseMs = System.currentTimeMillis()
  private val baseNs = System.nanoTime()
  private def nowMs: Double = baseMs + (System.nanoTime() - baseNs) / 1e6

  private def open(name: String, parent: Span): Span = {
    val s = Span(spans.length, Option(parent).map(_.id).getOrElse(-1), call, name, nowMs)
    spans += s; s
  }

  def beginCall(): Unit = {
    call += 1
    lock.synchronized { jobs.clear(); stageJob.clear(); stages.clear(); queries.clear() }
    builtQe = None
    root = open("call", null)
  }

  def phase[T](name: String)(body: => T): T = {
    val span = open(name, root)
    sc.setLocalProperty(PhaseKey, name)
    try body
    finally { span.end = nowMs; sc.setLocalProperty(PhaseKey, null) }
  }

  def noteBuilt(df: DataFrame): Unit = builtQe = Some(df.queryExecution)

  /** Closes the call, waits until the listeners have seen all of its
    * events, links job and stage spans, and returns the call's per-layer
    * counts as a JSON fragment for its calls.jsonl row. */
  def endCall(): String = {
    root.end = nowMs
    settle()
    val (jobRecs, stageRecs, qes) = lock.synchronized {
      (jobs.values.toSeq.sortBy(_.id), stages.toMap, queries.toSeq)
    }
    val phases = spans.filter(s => s.call == call && s.parent == root.id).toSeq
    def phaseAt(ms: Double, tag: String): Span =
      phases.find(p => p.name == tag).orElse(phases.find(p => p.start <= ms && ms <= p.end))
        .getOrElse(root)

    // driver phases of every query execution the call ran, the built
    // DataFrame's analysis included, each under the harness phase it fell in
    val driverSpans = (builtQe.toSeq ++ qes).distinct.flatMap { qe =>
      qe.tracker.phases.toSeq.flatMap { case (name, p) =>
        DriverPhase.get(name).map { n =>
          val parent = phaseAt(p.startTimeMs.toDouble, "")
          val s = Span(spans.length, parent.id, call, n, p.startTimeMs.toDouble)
          s.end = p.endTimeMs.toDouble
          spans += s; s
        }
      }
    }
    val jobSpans = jobRecs.map { j =>
      val parent = phaseAt(j.start.toDouble, j.tag)
      val s = Span(spans.length, parent.id, call, "job", j.start.toDouble)
      s.end = (if (j.end > 0) j.end else j.start).toDouble
      spans += s; (j, s)
    }
    stageRecs.values.toSeq.sortBy(_.id).foreach { st =>
      val parent = stageJob.get(st.id).flatMap(j => jobSpans.find(_._1.id == j))
        .map(_._2.id).getOrElse(root.id)
      val s = Span(spans.length, parent, call, "stage", st.start.toDouble)
      s.end = math.max(st.start, st.end).toDouble
      spans += s
    }
    val mine = spans.filter(_.call == call)
    mine.foreach { s =>
      s.self = s.duration - covered(s, mine.filter(_.parent == s.id).toSeq)
    }

    def selfOf(name: String) = mine.filter(_.name == name).map(_.self).sum / 1e3
    val st = stageRecs.values.toSeq
    val buildJobs = jobSpans.count { case (_, s) =>
      phases.find(_.id == s.parent).exists(_.name == "build")
    }
    val planNodes = qes.lastOption.orElse(builtQe).map { qe =>
      var n = 0; qe.optimizedPlan.foreach(_ => n += 1); n
    }.getOrElse(0)
    val skew = st.filter(_.durations.length >= 2).map { s =>
      val d = s.durations.sorted
      d.last.toDouble / math.max(1L, d(d.length / 2))
    }.foldLeft(1.0)(math.max)
    val mb = 1048576.0
    val layer = Seq(
      "ops.build_s" -> selfOf("build"),
      "ops.build_jobs" -> buildJobs.toDouble,
      "driver.analyze_s" -> driverSpans.filter(_.name == "analyze").map(_.duration).sum / 1e3,
      "driver.optimize_s" -> driverSpans.filter(_.name == "optimize").map(_.duration).sum / 1e3,
      "driver.plan_s" -> driverSpans.filter(_.name == "plan").map(_.duration).sum / 1e3,
      "driver.plan_nodes" -> planNodes.toDouble,
      "scheduler.jobs" -> jobRecs.length.toDouble,
      "scheduler.stages" -> st.length.toDouble,
      "scheduler.tasks" -> st.map(_.tasks).sum.toDouble,
      "scheduler.delay_s" -> st.map(_.delayMs).sum / 1e3,
      "scheduler.job_self_s" -> selfOf("job"),
      "scheduler.driver_gap_s" -> selfOf("execute"),
      "executor.task_s" -> st.map(_.runMs).sum / 1e3,
      "executor.cpu_s" -> st.map(_.cpuNs).sum / 1e9,
      "executor.gc_s" -> st.map(_.gcMs).sum / 1e3,
      "executor.shuffle_read_mb" -> st.map(_.shuffleRead).sum / mb,
      "executor.shuffle_write_mb" -> st.map(_.shuffleWrite).sum / mb,
      "executor.spill_mb" -> st.map(_.spill).sum / mb,
      "executor.skew_max" -> skew,
      "sources.scan_mb" -> st.map(_.inBytes).sum / mb,
      "sources.scan_rows" -> st.map(_.inRows).sum.toDouble,
      "sources.write_mb" -> st.map(_.outBytes).sum / mb,
      "sources.write_s" ->
        st.filter(_.outBytes > 0).map(s => math.max(0L, s.end - s.start)).sum / 1e3)
    layer.map { case (k, v) => s""""$k":$v""" }.mkString(""","layers":{""", ",", "}")
  }

  /** Waits until no listener event has arrived for a while and every job
    * the call started has ended (listener delivery is asynchronous). */
  private def settle(): Unit = {
    val deadline = System.nanoTime() + 5000000000L
    var last = -1L
    var quiet = 0
    while (quiet < 3 && System.nanoTime() < deadline) {
      Thread.sleep(10)
      val (n, open) = lock.synchronized((events, jobs.values.exists(_.end == 0L)))
      if (n == last && !open) quiet += 1 else { quiet = 0; last = n }
    }
  }

  def spansJson: String = spans.map { s =>
    s"""{"id":${s.id},"parent":${s.parent},"call":${s.call},"name":"${s.name}",""" +
      s""""start_ms":${s.start},"end_ms":${s.end},"self_ms":${s.self}}"""
  }.mkString("[", ",", "]")
}

object Tracer {
  val PhaseKey = "perfbench.phase"
  private val DriverPhase = Map(QueryPlanningTrackerNames.Analysis -> "analyze",
    QueryPlanningTrackerNames.Optimization -> "optimize",
    QueryPlanningTrackerNames.Planning -> "plan")

  final case class Span(id: Int, parent: Int, call: Int, name: String, start: Double) {
    var end: Double = start
    var self: Double = 0.0
    def duration: Double = math.max(0.0, end - start)
  }

  final case class JobRec(id: Int, tag: String, start: Long) { var end = 0L }

  final class StageRec(val id: Int) {
    var start, end = 0L
    var tasks = 0
    val durations = mutable.ArrayBuffer.empty[Long]
    var runMs, cpuNs, gcMs, shuffleRead, shuffleWrite, spill = 0L
    var inBytes, inRows, outBytes, delayMs = 0L
  }

  /** Length of the part of `s` that the union of `children` covers. */
  def covered(s: Span, children: Seq[Span]): Double = {
    val iv = children.map(c => (math.max(c.start, s.start), math.min(c.end, s.end)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0.0; var curA = Double.NaN; var curB = Double.NaN
    iv.foreach { case (a, b) =>
      if (curA.isNaN || a > curB) {
        if (!curA.isNaN) total += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (!curA.isNaN) total += curB - curA
    total
  }
}

private object QueryPlanningTrackerNames {
  val Analysis = org.apache.spark.sql.catalyst.QueryPlanningTracker.ANALYSIS
  val Optimization = org.apache.spark.sql.catalyst.QueryPlanningTracker.OPTIMIZATION
  val Planning = org.apache.spark.sql.catalyst.QueryPlanningTracker.PLANNING
}
