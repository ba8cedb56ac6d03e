package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** In-memory tracer for the traced run: spans wrapped around each public
  * library call, plus a SparkListener that records every job's interval
  * and every completed stage's task counters. Nothing is written until
  * the run ends ([[Trace.layerTotals]] folds it all per span name).
  *
  * Spans are recorded only between [[start]] and [[stop]].
  *
  * The tracer also times itself: [[overheadS]] is the time spent in its
  * span bookkeeping and listener callbacks, i.e. the work tracing adds.
  *
  * Attribution rule: a job belongs to the innermost span open at the
  * moment the scheduler posted its start event; a stage's counters belong
  * to the job that listed the stage when it started. `driver_s` of a span
  * is its wall minus the part of it covered by its jobs' intervals.
  */
final class Trace(sc: SparkContext) extends SparkListener {
  import Trace._

  final class Counters {
    var taskS = 0.0
    var shuffleBytes = 0L
    var spillBytes = 0L
  }

  private val spans = mutable.ArrayBuffer.empty[Span]
  private var depth = 0
  private val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val stageJob = mutable.HashMap.empty[Int, Int]
  private val jobCounters = mutable.HashMap.empty[Int, Counters]
  private var enabled = false
  private val selfNs = new java.util.concurrent.atomic.AtomicLong

  /** Seconds spent in the tracer's own code so far. */
  def overheadS: Double = selfNs.get / 1e9

  private def timed[T](body: => T): T = {
    val n0 = System.nanoTime()
    try body finally selfNs.addAndGet(System.nanoTime() - n0)
  }

  def start(): Unit = { enabled = true; sc.addSparkListener(this) }
  def stop(): Unit = { drain(); sc.removeSparkListener(this); enabled = false }

  /** Time `body` as span `name` (a no-op wrapper while tracing is off). */
  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val t0 = System.currentTimeMillis(); val n0 = System.nanoTime()
      depth += 1
      try body
      finally timed {
        depth -= 1
        spans.synchronized {
          spans += Span(name, t0, System.currentTimeMillis(),
            (System.nanoTime() - n0) / 1e9, depth)
        }
      }
    }

  override def onJobStart(e: SparkListenerJobStart): Unit = timed(synchronized {
    jobs(e.jobId) = Job(e.jobId, e.time, e.time)
    e.stageIds.foreach(s => stageJob(s) = e.jobId)
  })

  override def onJobEnd(e: SparkListenerJobEnd): Unit = timed(synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  })

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    timed(synchronized {
      val info = e.stageInfo
      val m = info.taskMetrics
      if (m != null) stageJob.get(info.stageId).foreach { j =>
        val c = jobCounters.getOrElseUpdate(j, new Counters)
        c.taskS += m.executorRunTime / 1e3
        c.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    })

  /** Block until the listener bus has delivered every posted event. */
  def drain(): Unit = org.apache.spark.PerfbenchAccess.drainListenerBus(sc)

  /** Per span name: summed wall, driver time, job count and counters of
    * every span with that name (innermost attribution, so a job counts
    * once even when spans nest).
    */
  def layerTotals(): Map[String, Map[String, Double]] = synchronized {
    drain()
    val all = spans.synchronized(spans.toVector)
    val owner = mutable.HashMap.empty[Int, Span]
    jobs.values.foreach { j =>
      val hits = all.filter(s => s.startMs <= j.startMs && j.startMs <= s.endMs)
      if (hits.nonEmpty) owner(j.id) = hits.maxBy(_.depth)
    }
    all.groupBy(_.name).map { case (name, ss) =>
      val mine = owner.collect { case (id, s) if s.name == name => jobs(id) }
      val cs = mine.flatMap(j => jobCounters.get(j.id))
      val covered = ss.map { s =>
        coveredMs(mine.filter(j => owner(j.id) eq s).toSeq, s) }.sum / 1e3
      val wall = ss.map(_.wallS).sum
      name -> Map(
        "wall_s" -> wall,
        "driver_s" -> math.max(0.0, wall - covered),
        "jobs" -> mine.size.toDouble,
        "task_s" -> cs.map(_.taskS).sum,
        "shuffle_bytes" -> cs.map(_.shuffleBytes).sum.toDouble,
        "spill_bytes" -> cs.map(_.spillBytes).sum.toDouble)
    }
  }

  /** Milliseconds of span `s` covered by the union of the jobs' intervals. */
  private def coveredMs(js: Seq[Job], s: Span): Long = {
    val iv = js.map(j => (math.max(j.startMs, s.startMs),
      math.min(math.max(j.endMs, j.startMs), s.endMs)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L; var curA = -1L; var curB = -1L
    iv.foreach { case (a, b) =>
      if (a > curB) { if (curB > curA) total += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    if (curB > curA) total += curB - curA
    total
  }
}

object Trace {
  final case class Span(name: String, startMs: Long, endMs: Long,
                        wallS: Double, depth: Int)
  final case class Job(id: Int, startMs: Long, var endMs: Long)
}
