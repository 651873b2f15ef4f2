package graftbench

import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed operation: its wall-clock window (epoch ms, the clock
  * Spark stamps its listener events with) and its duration. */
final case class Op(startMs: Long, endMs: Long, seconds: Double)

/** Spans recorded around calls into graft's public functions, plus the
  * engine-level events of a SparkListener, a QueryExecutionListener and
  * a StreamingQueryListener. With tracing off every method is a no-op
  * and no listener is registered.
  *
  * Listener events are credited to an operation by time window, not by
  * job group: the archive sink's pool threads keep the local
  * properties of the thread that created them, so a group label can be
  * stale, while a timestamp cannot. */
final class Trace(val on: Boolean) {
  import Trace._

  private val spans = new ConcurrentLinkedQueue[Span]()
  private val jobStarts = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
  private val jobs = new ConcurrentLinkedQueue[Job]()
  private val stages = new ConcurrentLinkedQueue[java.lang.Long]()
  private val tasks = new ConcurrentLinkedQueue[Task]()
  private val plans = new ConcurrentLinkedQueue[(Long, Long)]() // (ms, planning ms)
  private val progress = new ConcurrentLinkedQueue[(Long, Long)]() // (trigger ms, overhead ms)

  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val ms = System.currentTimeMillis(); val t0 = System.nanoTime()
      try body finally record(name, ms, (System.nanoTime() - t0) / 1e9)
    }

  def record(name: String, startMs: Long, seconds: Double): Unit =
    if (on) { spans.add(Span(name, startMs, seconds)); () }

  def install(spark: SparkSession): Unit = if (on) {
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        jobStarts.put(e.jobId, e.time); ()
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = {
        val s = jobStarts.remove(e.jobId)
        jobs.add(Job(s, e.time)); ()
      }
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
        val at: Long = e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
        stages.add(at); ()
      }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
        val m = e.taskMetrics
        if (m != null) tasks.add(Task(e.taskInfo.finishTime, m.executorRunTime,
          m.jvmGCTime, m.shuffleWriteMetrics.bytesWritten,
          m.diskBytesSpilled))
        ()
      }
    })
    spark.listenerManager.register(new QueryExecutionListener {
      private def planned(qe: QueryExecution): Unit = {
        val ph = qe.tracker.phases
        val ms = Seq("analysis", "optimization", "planning")
          .flatMap(ph.get).map(_.durationMs).sum
        val at = ph.get("planning").map(_.endTimeMs)
          .getOrElse(System.currentTimeMillis())
        plans.add((at, ms)); ()
      }
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        planned(qe)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
        planned(qe)
    })
    spark.streams.addListener(new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val d = e.progress.durationMs
        if (e.progress.numInputRows > 0 && d.containsKey("triggerExecution"))
          progress.add((java.time.Instant.parse(e.progress.timestamp).toEpochMilli,
            d.get("triggerExecution") - d.getOrDefault("addBatch", 0L)))
        ()
      }
    })
  }

  /** Deliver every pending listener event; call before reading. */
  def drain(spark: SparkSession): Unit =
    if (on) org.apache.spark.GraftBenchBus.drain(spark.sparkContext)

  private def in(ms: Long, w: Op) = ms >= w.startMs && ms <= w.endMs
  private def inAny(ms: Long, ops: Seq[Op]) = ops.exists(in(ms, _))

  /** Per-op sums of a span, median over the ops (seconds). */
  def perOp(name: String, ops: Seq[Op]): Double = {
    val mine = spans.asScala.filter(_.name == name).toVector
    Stats.median(ops.map(w => mine.filter(s => in(s.startMs, w)).map(_.seconds).sum))
  }

  /** Median over the ops' micro-batches of triggerExecution minus
    * addBatch. */
  def triggerOverheadSeconds(ops: Seq[Op]): Double =
    Stats.median(progress.asScala.toVector.filter(p => inAny(p._1, ops))
      .map(_._2 / 1000.0))

  /** The engine layer, summed over the operations' windows and divided
    * by their number. */
  def engine(ops: Seq[Op]): Map[String, Double] = {
    val n = math.max(1, ops.size).toDouble
    val js = jobs.asScala.toVector.filter(j => inAny(j.startMs, ops))
    val ts = tasks.asScala.toVector.filter(t => inAny(t.finishMs, ops))
    val idle = ops.map { w =>
      // wall time of the op not covered by any job interval
      val iv = jobs.asScala.toVector
        .map(j => (math.max(j.startMs, w.startMs), math.min(j.endMs, w.endMs)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var covered = 0L; var reach = w.startMs
      iv.foreach { case (a, b) =>
        if (b > reach) { covered += b - math.max(a, reach); reach = b }
      }
      math.max(0L, (w.endMs - w.startMs) - covered) / 1000.0
    }.sum
    Map(
      "engine.jobs_per_op" -> js.size / n,
      "engine.stages_per_op" ->
        stages.asScala.count(s => inAny(s.longValue, ops)) / n,
      "engine.tasks_per_op" -> ts.size / n,
      "engine.planning_s_per_op" ->
        plans.asScala.filter(p => inAny(p._1, ops)).map(_._2).sum / 1000.0 / n,
      "engine.driver_idle_s_per_op" -> idle / n,
      "engine.task_s_per_op" -> ts.map(_.runMs).sum / 1000.0 / n,
      "engine.gc_s_per_op" -> ts.map(_.gcMs).sum / 1000.0 / n,
      "engine.shuffle_write_mb_per_op" ->
        ts.map(_.shuffleWriteBytes).sum / 1e6 / n,
      "engine.spill_mb_per_op" -> ts.map(_.spillBytes).sum / 1e6 / n)
  }
}

object Trace {
  private final case class Span(name: String, startMs: Long, seconds: Double)
  private final case class Job(startMs: Long, endMs: Long)
  private final case class Task(finishMs: Long, runMs: Long, gcMs: Long,
                                shuffleWriteBytes: Long, spillBytes: Long)
}

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted; val m = s.size / 2
      if (s.size % 2 == 1) s(m) else (s(m - 1) + s(m)) / 2
    }
}
