package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced interval. Times are epoch nanoseconds so that driver-side
  * spans (taken with System.nanoTime) and Spark's listener events (epoch
  * milliseconds) share one clock. `trace` is the id of the enclosing rep
  * span: every span of one rep carries it.
  */
final class Span(
    val id: Long,
    val parent: Long,
    val trace: Long,
    val kind: String,
    val name: String,
    val start: Long,
    var end: Long
) {
  val attrs: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap.empty
  def dur: Long = end - start
}

/** Task-metric totals of one stage attempt. */
final class StageAgg {
  var tasks = 0L
  var runMs = 0L
  var gcMs = 0L
  var schedDelayMs = 0L
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var fetchWaitMs = 0L
  var spill = 0L
  var bytesWritten = 0L
  var writeRunMs = 0L
  val durations: mutable.ArrayBuffer[Long] = mutable.ArrayBuffer.empty
}

/** In-memory span recorder for the traced run: spans opened around the
  * benchmark's own calls into the program (workload → rep → op), plus a
  * SparkListener (job, stage and task events) and a QueryExecutionListener
  * (planning phase times). Nothing here runs inside the program: the
  * listeners are registered on the session the benchmark created, and
  * removed with [[detach]].
  */
final class Tracer(spark: SparkSession) extends SparkListener with QueryExecutionListener {
  private val epochBase = System.currentTimeMillis() * 1000000L
  private val nanoBase = System.nanoTime()
  def now(): Long = epochBase + (System.nanoTime() - nanoBase)

  private val lock = new Object
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val byId = mutable.HashMap.empty[Long, Span]
  private var nextId = 1L
  private val stack = mutable.Stack.empty[Span]
  private val jobSpans = mutable.HashMap.empty[Int, Span]
  private val stageJob = mutable.HashMap.empty[Int, Span]
  private val stageAggs = mutable.HashMap.empty[(Int, Int), StageAgg]
  /** (planning start epoch ns, analysis + optimization + planning ms). */
  val plans: mutable.ArrayBuffer[(Long, Double)] = mutable.ArrayBuffer.empty

  private def newSpan(parent: Option[Span], kind: String, name: String, start: Long): Span =
    lock.synchronized {
      val id = nextId
      nextId += 1
      val trace = if (kind == "rep") id else parent.map(_.trace).getOrElse(0L)
      val s = new Span(id, parent.map(_.id).getOrElse(0L), trace, kind, name, start, start)
      spans += s
      byId(id) = s
      s
    }

  /** Time `f` as a child span of the innermost open span. Spark jobs the
    * call submits are attributed to it through a local property.
    */
  def within[A](kind: String, name: String)(f: => A): A = {
    val s = newSpan(stack.headOption, kind, name, now())
    stack.push(s)
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty(Tracer.SpanProp)
    sc.setLocalProperty(Tracer.SpanProp, s.id.toString)
    try f
    finally {
      s.end = now()
      stack.pop()
      sc.setLocalProperty(Tracer.SpanProp, prev)
    }
  }

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
  }

  /** Drain queued events, then unregister both listeners. */
  def detach(): Unit = {
    org.apache.spark.PerfbenchBridge.drainListeners(spark.sparkContext)
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }

  def allSpans: Seq[Span] = lock.synchronized(spans.toList)

  override def onJobStart(e: SparkListenerJobStart): Unit = lock.synchronized {
    val parentId = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.SpanProp)))
      .map(_.toLong)
    val parent = parentId.flatMap(byId.get)
    val s = newSpan(parent, "job", s"job-${e.jobId}", e.time * 1000000L)
    jobSpans(e.jobId) = s
    e.stageIds.foreach(st => stageJob.getOrElseUpdate(st, s))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = lock.synchronized {
    jobSpans.get(e.jobId).foreach(_.end = e.time * 1000000L)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = lock.synchronized {
    val m = e.taskMetrics
    if (m != null) {
      val a = stageAggs.getOrElseUpdate((e.stageId, e.stageAttemptId), new StageAgg)
      val info = e.taskInfo
      a.tasks += 1
      a.runMs += m.executorRunTime
      a.gcMs += m.jvmGCTime
      a.schedDelayMs += math.max(0L, info.duration - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime - info.gettingResultTime)
      a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      a.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
      a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      a.bytesWritten += m.outputMetrics.bytesWritten
      if (m.outputMetrics.bytesWritten > 0) a.writeRunMs += m.executorRunTime
      a.durations += info.duration
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = lock.synchronized {
    val st = e.stageInfo
    val start = st.submissionTime.getOrElse(0L) * 1000000L
    val end = st.completionTime.getOrElse(0L) * 1000000L
    val s = newSpan(stageJob.get(st.stageId), "stage", s"stage-${st.stageId}.${st.attemptNumber()}", start)
    s.end = math.max(start, end)
    stageAggs.remove((st.stageId, st.attemptNumber())).foreach { a =>
      s.attrs("tasks") = a.tasks.toDouble
      s.attrs("run_ms") = a.runMs.toDouble
      s.attrs("gc_ms") = a.gcMs.toDouble
      s.attrs("sched_delay_ms") = a.schedDelayMs.toDouble
      s.attrs("shuffle_write_bytes") = a.shuffleWrite.toDouble
      s.attrs("shuffle_read_bytes") = a.shuffleRead.toDouble
      s.attrs("fetch_wait_ms") = a.fetchWaitMs.toDouble
      s.attrs("spill_bytes") = a.spill.toDouble
      s.attrs("bytes_written") = a.bytesWritten.toDouble
      s.attrs("write_run_ms") = a.writeRunMs.toDouble
      if (a.durations.nonEmpty) {
        val d = a.durations.sorted
        s.attrs("task_max_ms") = d.last.toDouble
        s.attrs("task_median_ms") = Stats.median(d.map(_.toDouble).toSeq)
      }
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val ph = qe.tracker.phases
    val ms = Seq("analysis", "optimization", "planning").flatMap(ph.get).map(_.durationMs).sum
    val start = ph.values.map(_.startTimeMs).minOption.getOrElse(0L) * 1000000L
    lock.synchronized(plans += ((start, ms.toDouble)))
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
}

object Tracer {
  val SpanProp = "perfbench.span"

  /** Time of `s` not covered by its children (children clipped to `s`). */
  def selfTimes(spans: Seq[Span]): Map[Long, Long] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val iv = kids.getOrElse(s.id, Nil)
        .map(c => (math.max(c.start, s.start), math.min(c.end, s.end)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var covered = 0L
      var curA = Long.MinValue
      var curB = Long.MinValue
      iv.foreach { case (a, b) =>
        if (a > curB) {
          if (curB > curA) covered += curB - curA
          curA = a; curB = b
        } else if (b > curB) curB = b
      }
      if (curB > curA) covered += curB - curA
      s.id -> math.max(0L, s.dur - covered)
    }.toMap
  }

  def toJson(spans: Seq[Span], self: Map[Long, Long]): String =
    spans.map { s =>
      val attrs = s.attrs.map { case (k, v) => Json.str(k) + ":" + Json.num(v) }.mkString(",")
      s"""{"id":${s.id},"parent":${s.parent},"trace":${s.trace},"kind":${Json.str(s.kind)},""" +
        s""""name":${Json.str(s.name)},"start_ns":${s.start},"end_ns":${s.end},""" +
        s""""self_ns":${self.getOrElse(s.id, 0L)},"attrs":{$attrs}}"""
    }.mkString("[\n", ",\n", "\n]\n")
}
