package graft.perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed call into a layer. `op` names the unit of work it belongs
  * to (an iteration, a verb, a batch).
  */
final case class Span(id: Int, name: String, parent: Int, op: String,
                      startNs: Long, endNs: Long) {
  def wallNs: Long = endNs - startNs
}

/** Spark-side counters attributed to one span. */
final class Counters {
  var jobs = 0L
  var tasks = 0L
  var cpuNs = 0L
  var runMs = 0L
  var gcMs = 0L
  var shuffleBytes = 0L
  var planMs = 0.0
}

/** Per-batch numbers from `StreamingQueryProgress`. */
final case class BatchProgress(batchId: Long, planningMs: Long,
                               addBatchMs: Long, walCommitMs: Long,
                               stateRows: Long)

/** Spans around the benchmark's calls into each layer, plus Spark
  * listener counters at the same boundaries.
  *
  * Every span's wall time is always recorded. With `enabled`, the
  * tracer also tags each span's Spark jobs through a local property and
  * attributes job, task, planning and streaming-progress counters to it;
  * the time spent doing so is summed in [[overheadNs]].
  */
final class Tracer(val enabled: Boolean) {
  private val SpanKey = "perfbench.span"
  private val spans = mutable.ArrayBuffer[Span]()
  private var stack: List[Int] = Nil
  private var nextId = 0
  @volatile private var current = -1
  private val costNs = new java.util.concurrent.atomic.AtomicLong()
  private var spark: Option[SparkSession] = None

  private val counters = new ConcurrentHashMap[Int, Counters]()
  private val stageSpan = new ConcurrentHashMap[Int, Int]()
  private val execSpan = new ConcurrentHashMap[Long, Int]()
  private val querySpan = new ConcurrentHashMap[String, Int]()
  private val progress =
    new ConcurrentHashMap[String, mutable.ArrayBuffer[BatchProgress]]()

  private def countersOf(span: Int): Counters =
    counters.computeIfAbsent(span, _ => new Counters)

  /** Run tracing work `f`, adding its time to [[overheadNs]]. */
  private def costed(f: => Unit): Unit = {
    val t0 = System.nanoTime()
    try f finally costNs.addAndGet(System.nanoTime() - t0)
  }

  /** Time spent in listener callbacks and span tagging so far. */
  def overheadNs: Long = costNs.get

  /** Time `f` as span `name`; nested calls record their parent. */
  def span[T](name: String, op: String = "", startNs: Long = -1L)(
      f: => T): T = {
    val id = nextId
    nextId += 1
    val parent = stack.headOption.getOrElse(-1)
    val start = if (startNs >= 0) startNs else System.nanoTime()
    stack = id :: stack
    val prev = current
    if (enabled) tag(id)
    try f
    finally {
      val end = System.nanoTime()
      stack = stack.tail
      spans += Span(id, name, parent, op, start, end)
      if (enabled) tag(prev)
    }
  }

  private def tag(id: Int): Unit = costed {
    current = id
    spark.foreach(_.sparkContext.setLocalProperty(SpanKey,
      if (id >= 0) id.toString else null))
  }

  /** Route the jobs of streaming query `queryId` to the span `span`
    * runs inside (-1: stop attributing them).
    */
  def bindQuery(queryId: String, span: Int): Unit =
    if (span >= 0) querySpan.put(queryId, span) else querySpan.remove(queryId)

  /** The innermost open span's id in a traced run, else -1. */
  def openSpan: Int = if (enabled) stack.headOption.getOrElse(-1) else -1

  def all: Seq[Span] = spans.toSeq

  def countersFor(id: Int): Option[Counters] = Option(counters.get(id))

  def progressOf(queryId: String): Seq[BatchProgress] =
    Option(progress.get(queryId)).map(b => b.synchronized(b.toSeq))
      .getOrElse(Nil)

  /** Attach the Spark, SQL and streaming listeners (traced runs only). */
  def attach(s: SparkSession): Unit = if (enabled) {
    spark = Some(s)
    if (current >= 0) tag(current)
    s.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = costed {
        val props = Option(e.properties)
        val bySpan = props.flatMap(p => Option(p.getProperty(SpanKey)))
          .map(_.toInt)
        val byQuery = props
          .flatMap(p => Option(p.getProperty("sql.streaming.queryId")))
          .flatMap(q => Option(querySpan.get(q)).map(_.intValue))
        byQuery.orElse(bySpan).foreach { sp =>
          countersOf(sp).synchronized(countersOf(sp).jobs += 1)
          e.stageIds.foreach(st => stageSpan.put(st, sp))
          props.flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
            .foreach(x => execSpan.put(x.toLong, sp))
        }
      }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = costed {
        Option(stageSpan.get(e.stageId)).foreach { sp =>
          val c = countersOf(sp)
          val m = Option(e.taskMetrics)
          c.synchronized {
            c.tasks += 1
            m.foreach { m =>
              c.cpuNs += m.executorCpuTime
              c.runMs += m.executorRunTime
              c.gcMs += m.jvmGCTime
              c.shuffleBytes += m.shuffleReadMetrics.totalBytesRead +
                m.shuffleWriteMetrics.bytesWritten
            }
          }
        }
      }
    })
    s.listenerManager.register(new QueryExecutionListener {
      private def planned(qe: QueryExecution): Unit = costed {
        val sp = Option(execSpan.get(qe.id)).map(_.intValue)
          .getOrElse(current)
        if (sp >= 0) {
          val ms = qe.tracker.phases.values.map(_.durationMs).sum
          val c = countersOf(sp)
          c.synchronized(c.planMs += ms)
        }
      }
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        planned(qe)
      override def onFailure(f: String, qe: QueryExecution,
                             e: Exception): Unit = planned(qe)
    })
    s.streams.addListener(new StreamingQueryListener {
      override def onQueryStarted(
          e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(
          e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(
          e: StreamingQueryListener.QueryProgressEvent): Unit = costed {
        val p = e.progress
        val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }
        val rec = BatchProgress(p.batchId, d.getOrElse("queryPlanning", 0L),
          d.getOrElse("addBatch", 0L), d.getOrElse("walCommit", 0L),
          p.stateOperators.map(_.numRowsTotal).sum)
        val buf = progress.computeIfAbsent(p.id.toString,
          _ => mutable.ArrayBuffer[BatchProgress]())
        buf.synchronized(buf += rec)
      }
    })
  }

  /** Wait until every posted listener event has been delivered. */
  def drain(s: SparkSession): Unit =
    if (enabled) org.apache.spark.graftbench.BusFlush.flush(s.sparkContext)
}

/** Self time and per-name aggregates over recorded spans. */
object SpanMath {

  /** Span wall minus the part of it its children cover. */
  def selfNs(spans: Seq[Span]): Map[Int, Long] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val covered = kids.getOrElse(s.id, Nil).map(_.wallNs).sum
      s.id -> math.max(0L, s.wallNs - covered)
    }.toMap
  }

  def median(xs: Iterable[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val v = xs.toIndexedSeq.sorted
      val n = v.length
      if (n % 2 == 1) v(n / 2) else (v(n / 2 - 1) + v(n / 2)) / 2
    }

  /** Nearest-rank percentile (0 < q <= 1). */
  def pct(xs: Iterable[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val v = xs.toIndexedSeq.sorted
      v(math.min(v.length - 1, math.max(0, math.ceil(q * v.length).toInt - 1)))
    }

  def geomean(xs: Iterable[Double]): Double =
    if (xs.isEmpty || xs.exists(_ <= 0)) 0.0
    else math.exp(xs.map(math.log).sum / xs.size)
}
