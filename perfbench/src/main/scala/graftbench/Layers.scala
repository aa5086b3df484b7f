package graftbench

import java.util.Properties

import scala.collection.mutable

import org.apache.spark.Success
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ReusedExchangeExec, ShuffleExchangeLike}
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced interval. Times are epoch nanoseconds (ms resolution for
  * spans reported by Spark's listener bus). */
final case class Span(id: Int, parent: Int, name: String, start: Long, end: Long)

/** In-memory span store. The benchmark's thread opens layer spans around the
  * calls it makes into the engine; Spark jobs and stages become child
  * spans through the local property [[Tracer.Prop]], which Spark copies
  * into every job the calling thread (or a thread it spawns) submits. */
final class Tracer {
  private val buf = mutable.ArrayBuffer[Span]()
  private var nextId = 1

  def newId(): Int = synchronized { val i = nextId; nextId += 1; i }
  def add(s: Span): Unit = synchronized { buf += s }
  def all: Seq[Span] = synchronized { buf.toList }

  /** Run `body` as span `name` under `parent`; jobs it submits carry the
    * span's id. Restores the caller's property afterwards. */
  def span[T](sc: org.apache.spark.SparkContext, parent: Int, name: String)(body: => T): (T, Span) = {
    val id = newId()
    val prev = sc.getLocalProperty(Tracer.Prop)
    sc.setLocalProperty(Tracer.Prop, id.toString)
    val t0 = Tracer.nowNs()
    try {
      val r = body
      val s = Span(id, parent, name, t0, Tracer.nowNs())
      add(s)
      (r, s)
    } finally sc.setLocalProperty(Tracer.Prop, prev)
  }
}

object Tracer {
  val Prop = "graftbench.span"
  private val epochOffsetNs = System.currentTimeMillis() * 1000000L - System.nanoTime()
  def nowNs(): Long = System.nanoTime() + epochOffsetNs

  /** Self time of each span: its duration minus the union of its
    * children's intervals (clipped to the span). */
  def selfTimes(spans: Seq[Span]): Map[Int, Long] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val iv = kids.getOrElse(s.id, Nil)
        .map(c => (math.max(c.start, s.start), math.min(c.end, s.end)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var covered = 0L; var curS = Long.MinValue; var curE = Long.MinValue
      iv.foreach { case (a, b) =>
        if (a > curE) { if (curE > curS) covered += curE - curS; curS = a; curE = b }
        else curE = math.max(curE, b)
      }
      if (curE > curS) covered += curE - curS
      s.id -> (s.end - s.start - covered)
    }.toMap
  }
}

/** Counters of one span subtree (a key's build, plan or exec phase). */
final class Counters {
  var jobs, stages, tasks, emptyTasks, failedTasks = 0L
  var runNs, cpuNs, gcMs, delayMs, fetchWaitMs = 0L
  var shuffleWrite, shuffleRead, spill, peakExec = 0L
  var inBytes, inRecords, outBytes, outRecords, writeRunNs = 0L
  var skewWeighted, skewWeight = 0.0
  var exchanges, broadcasts, nativeNodes = 0L
  var planNs = 0L

  def +=(o: Counters): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    emptyTasks += o.emptyTasks; failedTasks += o.failedTasks
    runNs += o.runNs; cpuNs += o.cpuNs; gcMs += o.gcMs; delayMs += o.delayMs
    fetchWaitMs += o.fetchWaitMs; shuffleWrite += o.shuffleWrite
    shuffleRead += o.shuffleRead; spill += o.spill
    peakExec = math.max(peakExec, o.peakExec)
    inBytes += o.inBytes; inRecords += o.inRecords
    outBytes += o.outBytes; outRecords += o.outRecords; writeRunNs += o.writeRunNs
    skewWeighted += o.skewWeighted; skewWeight += o.skewWeight
    exchanges += o.exchanges; broadcasts += o.broadcasts
    nativeNodes += o.nativeNodes; planNs += o.planNs
  }
}

object PlanCount {
  val NativeExecs = Set("AsOfJoinExec", "IntervalAggExec", "TopKPerKeyExec")

  /** (exchanges, broadcasts, native operator nodes) in an executed plan,
    * looking through adaptive wrappers, query stages and subqueries. */
  def apply(plan: SparkPlan): (Long, Long, Long) = {
    var ex, bc, nat = 0L
    def walk(p: SparkPlan): Unit = {
      p match {
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan); return
        case q: QueryStageExec => walk(q.plan); return
        case r: ReusedExchangeExec => walk(r.child); return
        case _: BroadcastExchangeLike => bc += 1
        case _: ShuffleExchangeLike => ex += 1
        case _ =>
      }
      if (NativeExecs.contains(p.getClass.getSimpleName)) nat += 1
      p.children.foreach(walk)
      p.subqueries.foreach(walk)
    }
    walk(plan)
    (ex, bc, nat)
  }
}

/** Spark listener + query-execution listener attributing scheduler,
  * executor, shuffle, memory and I/O counters to the benchmark's spans.
  * Events arrive on Spark's listener bus, after the fact; [[drain]]
  * waits for the bus to catch up before counters are read. */
final class LayerListener(tracer: Tracer) extends SparkListener with QueryExecutionListener {
  private val bySpan = mutable.HashMap[Int, Counters]()
  private val jobSpan = mutable.HashMap[Int, Int]()        // job -> owning span
  private val jobStartMs = mutable.HashMap[Int, Long]()
  private val jobStageIds = mutable.HashMap[Int, Seq[Int]]()
  private val stageJob = mutable.HashMap[Int, Int]()
  private val stageRuns = mutable.HashMap[(Int, Int), mutable.ArrayBuffer[Long]]()
  private val stageParent = mutable.HashMap[Int, Int]()                     // stage -> job span
  private val stageTimes = mutable.ArrayBuffer[(Int, Int, Long, Long)]()   // (stage, attempt, start ms, end ms)
  private var started, ended = 0L
  /** Build-time query plannings: (epoch ms of its first phase, counters). */
  private val plannings = mutable.ArrayBuffer[(Long, Counters)]()

  private def spanOf(p: Properties): Int =
    Option(p).flatMap(pp => Option(pp.getProperty(Tracer.Prop))).map(_.toInt).getOrElse(0)
  private def counters(span: Int): Counters = bySpan.getOrElseUpdate(span, new Counters)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val s = spanOf(e.properties)
    jobSpan(e.jobId) = s; jobStartMs(e.jobId) = e.time
    jobStageIds(e.jobId) = e.stageIds
    e.stageIds.foreach(st => stageJob.getOrElseUpdate(st, e.jobId))
    counters(s).jobs += 1
    started += 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    val s = jobSpan.getOrElse(e.jobId, 0)
    val id = tracer.newId()
    tracer.add(Span(id, s, s"job:${e.jobId}", jobStartMs.getOrElse(e.jobId, e.time) * 1000000L,
      e.time * 1000000L))
    // stages of this job become its children
    jobStageIds.getOrElse(e.jobId, Nil).foreach(st => stageParent(st) = id)
    ended += 1
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val info = e.stageInfo
    val span = stageJob.get(info.stageId).flatMap(jobSpan.get).getOrElse(0)
    val c = counters(span)
    c.stages += 1
    for (a <- info.submissionTime; b <- info.completionTime)
      stageTimes += ((info.stageId, info.attemptNumber(), a, b))
    stageRuns.remove((info.stageId, info.attemptNumber())).foreach { runs =>
      if (runs.size >= 2) {
        val sorted = runs.sorted
        val med = sorted(sorted.size / 2).toDouble
        val w = runs.sum.toDouble
        if (med > 0) { c.skewWeighted += w * (sorted.last / med); c.skewWeight += w }
      }
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val span = stageJob.get(e.stageId).flatMap(jobSpan.get).getOrElse(0)
    val c = counters(span)
    c.tasks += 1
    if (e.reason != Success) c.failedTasks += 1
    val m = e.taskMetrics
    if (m != null) {
      c.runNs += m.executorRunTime * 1000000L
      c.cpuNs += m.executorCpuTime
      c.gcMs += m.jvmGCTime
      val delay = e.taskInfo.duration - m.executorRunTime - m.executorDeserializeTime -
        m.resultSerializationTime - e.taskInfo.gettingResultTime
      c.delayMs += math.max(0L, delay)
      c.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
      c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      c.spill += m.diskBytesSpilled
      c.peakExec = math.max(c.peakExec, m.peakExecutionMemory)
      c.inBytes += m.inputMetrics.bytesRead
      c.inRecords += m.inputMetrics.recordsRead
      c.outBytes += m.outputMetrics.bytesWritten
      c.outRecords += m.outputMetrics.recordsWritten
      if (m.outputMetrics.bytesWritten > 0) c.writeRunNs += m.executorRunTime * 1000000L
      if (m.inputMetrics.recordsRead == 0 && m.shuffleReadMetrics.recordsRead == 0) c.emptyTasks += 1
      stageRuns.getOrElseUpdate((e.stageId, e.stageAttemptId), mutable.ArrayBuffer()) += m.executorRunTime
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val phases = qe.tracker.phases.values
    if (phases.nonEmpty) {
      val c = new Counters
      c.planNs = phases.map(_.durationMs).sum * 1000000L
      val (ex, bc, nat) = PlanCount(qe.executedPlan)
      c.exchanges = ex; c.broadcasts = bc; c.nativeNodes = nat
      synchronized { plannings += ((phases.map(_.startTimeMs).min, c)) }
    }
  }
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  /** Wait until every started job has ended and the bus has gone quiet. */
  def drain(timeoutMs: Long = 15000): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    var last = -1L
    var stable = 0
    while (System.currentTimeMillis() < deadline && stable < 3) {
      Thread.sleep(50)
      val (s, e, n) = synchronized((started, ended, bySpan.valuesIterator.map(_.tasks).sum))
      if (s == e && n == last) stable += 1 else stable = 0
      last = n
    }
    // stage spans, now that their jobs are known
    synchronized {
      stageTimes.foreach { case (st, att, a, b) =>
        tracer.add(Span(tracer.newId(), stageParent.getOrElse(st, 0), s"stage:$st.$att",
          a * 1000000L, b * 1000000L))
      }
      stageTimes.clear()
    }
  }

  /** Counters of the given spans, plus build-time query plannings whose
    * first phase started inside one of `windows` (epoch ns intervals). */
  def collect(spans: Seq[Int], windows: Seq[(Long, Long)]): Counters = synchronized {
    val out = new Counters
    spans.foreach(s => bySpan.get(s).foreach(out += _))
    plannings.foreach { case (ms, c) =>
      val ns = ms * 1000000L
      if (windows.exists { case (a, b) => ns >= a && ns <= b }) out += c
    }
    out
  }
}
