package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{InputAdapter, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{Exchange, ReusedExchangeExec}
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Spans recorded around the benchmark's calls into each layer, with
  * Spark work attributed to the innermost span that was open when it
  * happened. Everything is kept in memory; [[report]] reads it once
  * the listener bus has drained. Spans never overlap except by
  * nesting: the traced pass calls one layer at a time. */
final class Tracer(spark: SparkSession) {
  import Tracer.Task

  final class Span(val id: Int, val name: String, val parent: Int, val startMs: Long) {
    var endMs: Long = -1L
    val startNs: Long = System.nanoTime()
    var endNs: Long = -1L
    /** layer counts the caller measured (rows, bytes, plan shape) */
    val attrs = mutable.LinkedHashMap.empty[String, Double]
    def seconds: Double = (endNs - startNs) / 1e9
  }

  val spans = mutable.ArrayBuffer.empty[Span]
  private val open = mutable.Stack.empty[Span]
  private val tasks = new java.util.concurrent.ConcurrentLinkedQueue[Task]()
  private val jobs = new java.util.concurrent.ConcurrentLinkedQueue[java.lang.Long]()
  val progress = new java.util.concurrent.ConcurrentLinkedQueue[
    StreamingQueryListener.QueryProgressEvent]()

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = jobs.add(e.time)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      if (e.taskInfo != null && e.taskMetrics != null) {
        val m = e.taskMetrics
        tasks.add(Task(e.taskInfo.launchTime, e.taskInfo.finishTime,
          m.executorRunTime, m.jvmGCTime, m.shuffleWriteMetrics.bytesWritten,
          m.memoryBytesSpilled + m.diskBytesSpilled))
      }
  }
  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      if (e.progress.numInputRows > 0) progress.add(e)
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.streams.addListener(streamListener)
  }
  def detach(): Unit = {
    org.apache.spark.PerfbenchBridge.drainListenerBus(spark.sparkContext)
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.streams.removeListener(streamListener)
  }

  def span[A](name: String)(f: Span => A): A = {
    val s = new Span(spans.size, name, open.headOption.map(_.id).getOrElse(-1),
      System.currentTimeMillis())
    spans += s
    open.push(s)
    try f(s)
    finally {
      s.endNs = System.nanoTime(); s.endMs = System.currentTimeMillis()
      open.pop()
    }
  }

  /** Intervals of `s` not covered by its direct children. */
  private def selfIntervals(s: Span): Seq[(Long, Long)] = {
    val kids = spans.filter(_.parent == s.id).sortBy(_.startMs)
    val out = mutable.ArrayBuffer.empty[(Long, Long)]
    var cur = s.startMs
    kids.foreach { k => if (k.startMs > cur) out += ((cur, k.startMs)); cur = math.max(cur, k.endMs) }
    if (s.endMs > cur) out += ((cur, s.endMs))
    out.toSeq
  }

  private def within(t: Long, iv: Seq[(Long, Long)]) = iv.exists { case (a, b) => t >= a && t < b }

  /** Per-span SELF statistics: wall time minus children, and the Spark
    * work that finished inside the span's own intervals. */
  def report(): Seq[(Span, Map[String, Double])] = {
    org.apache.spark.PerfbenchBridge.drainListenerBus(spark.sparkContext)
    val ts = tasks.toArray(Array.empty[Task]).toSeq
    val js = jobs.toArray(Array.empty[java.lang.Long]).toSeq.map(_.longValue)
    spans.toSeq.map { s =>
      val iv = selfIntervals(s)
      val kidsS = spans.filter(_.parent == s.id).map(_.seconds).sum
      val mine = ts.filter(t => within(t.finishMs, iv))
      // wall time inside the self intervals during which no task ran
      val covered = iv.map { case (a, b) =>
        val clipped = ts.map(t => (math.max(a, t.launchMs), math.min(b, t.finishMs)))
          .filter { case (x, y) => y > x }.sortBy(_._1)
        var total = 0L; var end = a
        clipped.foreach { case (x, y) =>
          if (y > end) { total += y - math.max(x, end); end = y }
        }
        total
      }.sum
      val selfMs = iv.map { case (a, b) => b - a }.sum
      s -> (Map(
        "self_s" -> math.max(0.0, s.seconds - kidsS),
        "jobs" -> js.count(t => within(t, iv)).toDouble,
        "tasks" -> mine.size.toDouble,
        "task_busy_s" -> mine.map(_.busyMs).sum / 1e3,
        "driver_wait_s" -> math.max(0L, selfMs - covered) / 1e3,
        "gc_s" -> mine.map(_.gcMs).sum / 1e3,
        "shuffle_bytes" -> mine.map(_.shuffleBytes).sum.toDouble,
        "spill_bytes" -> mine.map(_.spillBytes).sum.toDouble) ++ s.attrs)
    }
  }
}

object Tracer {
  private final case class Task(launchMs: Long, finishMs: Long, busyMs: Long,
                                gcMs: Long, shuffleBytes: Long, spillBytes: Long)
}

/** Plan-shape counts from the static physical plan (adaptive execution
  * off while planning), so they repeat exactly run to run. */
object PlanShape {
  final case class Counts(exchanges: Int, nonWscgNodes: Int)

  def of(df: DataFrame): Counts =
    ofPlan(org.apache.spark.sql.PerfbenchSqlBridge.staticPlan(df))

  def ofPlan(plan: SparkPlan): Counts = {
    var exchanges = 0; var nonWscg = 0
    def walk(p: SparkPlan, inCodegen: Boolean): Unit = {
      p match {
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan, inCodegen); return
        case q: QueryStageExec => walk(q.plan, inCodegen); return
        case _: Exchange | _: ReusedExchangeExec => exchanges += 1
        case _ =>
      }
      p match {
        case w: WholeStageCodegenExec => walk(w.child, inCodegen = true)
        case i: InputAdapter => i.children.foreach(walk(_, inCodegen = false))
        case _ =>
          if (!inCodegen) nonWscg += 1
          p.children.foreach(walk(_, inCodegen))
      }
    }
    walk(plan, inCodegen = false)
    Counts(exchanges, nonWscg)
  }
}
