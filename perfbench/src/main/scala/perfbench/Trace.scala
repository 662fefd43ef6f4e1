package perfbench

import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.storage.StorageLevel

/** Spark-side counters for one job group (one traced span). */
final class SparkAcc {
  var jobs, tasks, failedTasks = 0L
  var runMs, gcMs, schedDelayMs, fetchWaitMs = 0L
  var shuffleWriteBytes, spillBytes = 0L
  /** (submit ms, end ms) per job. */
  val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)]

  def add(o: SparkAcc): Unit = {
    jobs += o.jobs; tasks += o.tasks; failedTasks += o.failedTasks
    runMs += o.runMs; gcMs += o.gcMs; schedDelayMs += o.schedDelayMs
    fetchWaitMs += o.fetchWaitMs; shuffleWriteBytes += o.shuffleWriteBytes
    spillBytes += o.spillBytes; jobIntervals ++= o.jobIntervals
  }
}

/** Observes the engine from outside: jobs, stages and tasks from the
  * listener bus, rolled up by the job group the tracer sets around each
  * span; Catalyst phase times from every finished query execution. */
final class BenchListener extends SparkListener with QueryExecutionListener {
  private val byGroup = new ConcurrentHashMap[String, SparkAcc]()
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val jobGroup = new ConcurrentHashMap[Int, String]()
  private val jobStart = new ConcurrentHashMap[Int, java.lang.Long]()
  @volatile var planNs = 0L

  private def acc(g: String): SparkAcc = byGroup.computeIfAbsent(g, _ => new SparkAcc)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties).flatMap(p =>
      Option(p.getProperty("spark.jobGroup.id"))).getOrElse("-")
    jobGroup.put(e.jobId, g)
    jobStart.put(e.jobId, e.time)
    e.stageIds.foreach(stageGroup.put(_, g))
    acc(g).synchronized { acc(g).jobs += 1 }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val g = jobGroup.getOrDefault(e.jobId, "-")
    val a = acc(g)
    a.synchronized { a.jobIntervals += ((jobStart.getOrDefault(e.jobId, e.time), e.time)) }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val a = acc(stageGroup.getOrDefault(e.stageId, "-"))
    val m = e.taskMetrics
    val i = e.taskInfo
    a.synchronized {
      a.tasks += 1
      if (!i.successful) a.failedTasks += 1
      if (m != null) {
        a.runMs += m.executorRunTime
        a.gcMs += m.jvmGCTime
        // the web UI's definition: time not spent deserializing,
        // running, serializing the result or fetching it
        a.schedDelayMs += math.max(0L, i.duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime -
          (if (i.gettingResult) i.finishTime - i.gettingResultTime else 0L))
        a.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        a.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        a.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val phases = qe.tracker.phases
    val ns = Seq("analysis", "optimization", "planning")
      .flatMap(phases.get).map(p => (p.endTimeMs - p.startTimeMs) * 1000000L).sum
    synchronized { planNs += ns }
  }
  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()

  /** Remove and return the counters of the given groups. */
  def take(groups: Iterable[String]): SparkAcc = {
    val out = new SparkAcc
    groups.foreach(g => Option(byGroup.remove(g)).foreach(out.add))
    out
  }
}

/** One timed call at a layer boundary. Spans of one op share `op`. */
final case class Span(id: Int, op: Int, parent: Int, layer: String,
                      name: String, startNs: Long, var endNs: Long = 0L,
                      var rows: Long = -1L)

/** One layer call of a finished op: self time, rows out and the Spark
  * work of the jobs its job group ran. */
final case class CallTrace(layer: String, name: String, selfMs: Double,
                           rows: Long, spark: SparkAcc) {
  def key: String = s"$layer:$name"
}

/** The per-op view of a trace. `coverage` = summed layer self time ÷
  * traced wall; `driverGapMs` = wall − planning − union of job intervals. */
final case class OpTrace(op: Int, cycle: Int, kind: String, wallMs: Double,
                         calls: Seq[CallTrace], coverage: Double,
                         spark: SparkAcc, planMs: Double, driverGapMs: Double) {
  def layerSelfMs: Map[String, Double] =
    calls.groupMapReduce(_.layer)(_.selfMs)(_ + _)
}

/** The layer-call hook every workload goes through. Untraced, it is
  * transparent: a call returns the engine's lazy DataFrame and the op's
  * own action materializes the whole pipeline. Traced, each call runs in
  * a span with its own job group, and its output is persisted and
  * materialized inside that span, so the next call reads a persisted
  * input and every job is attributed to exactly one layer call. */
class Tracer(val spark: SparkSession) {
  def on: Boolean = false
  def df(layer: String, name: String)(body: => DataFrame): DataFrame = body
  def run[T](layer: String, name: String)(body: => T): T = body
  def op[T](kind: String)(body: => T): T = body
}

final class LiveTracer(spark: SparkSession, val listener: BenchListener)
    extends Tracer(spark) {
  override def on: Boolean = true
  val spans = mutable.ArrayBuffer.empty[Span]
  val ops = mutable.ArrayBuffer.empty[OpTrace]
  private val stack = mutable.Stack.empty[Span]
  private var opSeq = 0
  private val cached = mutable.ArrayBuffer.empty[DataFrame]
  private def sc = spark.sparkContext

  private def enter(layer: String, name: String): Span = {
    val parent = stack.headOption
    val s = Span(spans.length, parent.map(_.op).getOrElse(opSeq),
      parent.map(_.id).getOrElse(-1), layer, name, System.nanoTime())
    spans += s
    stack.push(s)
    sc.setJobGroup(group(s.id), name, interruptOnCancel = false)
    s
  }

  private def exit(s: Span): Unit = {
    s.endNs = System.nanoTime()
    stack.pop()
    stack.headOption match {
      case Some(p) => sc.setJobGroup(group(p.id), p.name, interruptOnCancel = false)
      case None => sc.clearJobGroup()
    }
  }

  private def group(id: Int) = s"perfbench-span-$id"

  override def df(layer: String, name: String)(body: => DataFrame): DataFrame = {
    val s = enter(layer, name)
    try {
      val d = body.persist(StorageLevel.MEMORY_AND_DISK)
      cached += d
      s.rows = d.count()
      d
    } finally exit(s)
  }

  override def run[T](layer: String, name: String)(body: => T): T = {
    val s = enter(layer, name)
    try body finally exit(s)
  }

  /** Cycle index stamped on the ops that follow (set by the run loop). */
  var cycle = 0

  /** One op: a root span whose children are the layer calls. Caches made
    * by the op are released when it ends; its trace is folded into an
    * [[OpTrace]] once the listener bus has drained. */
  override def op[T](kind: String)(body: => T): T = {
    opSeq += 1
    // settle and drop what untraced work left on the bus before this op
    org.apache.spark.GraftListenerBridge.drain(sc)
    listener.take(Seq("-"))
    val plan0 = listener.planNs
    val root = enter("bench", kind)
    val r = try body finally {
      exit(root)
      cached.foreach(_.unpersist(blocking = true))
      cached.clear()
    }
    org.apache.spark.GraftListenerBridge.drain(sc)
    val mine = spans.filter(_.op == root.op).toSeq
    val children = mine.groupBy(_.parent)
    def self(s: Span): Double = {
      val kids = children.getOrElse(s.id, Nil)
      (s.endNs - s.startNs - kids.map(k => k.endNs - k.startNs).sum) / 1e6
    }
    val calls = mine.filter(_.id != root.id).map(s =>
      CallTrace(s.layer, s.name, self(s), s.rows, listener.take(Seq(group(s.id)))))
    val acc = new SparkAcc
    calls.foreach(c => acc.add(c.spark))
    acc.add(listener.take(Seq(group(root.id))))
    val wall = (root.endNs - root.startNs) / 1e6
    val plan = (listener.planNs - plan0) / 1e6
    ops += OpTrace(root.op, cycle, kind, wall, calls, calls.map(_.selfMs).sum / wall,
      acc, plan, math.max(0.0, wall - plan - Trace.unionMs(acc.jobIntervals.toSeq)))
    r
  }
}

object Trace {
  /** Total length of the union of [start, end] intervals. */
  def unionMs(iv: Seq[(Long, Long)]): Double = {
    var total, curS, curE = 0L
    var open = false
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (!open || s > curE) {
        if (open) total += curE - curS
        curS = s; curE = e; open = true
      } else curE = math.max(curE, e)
    }
    if (open) total += curE - curS
    total.toDouble
  }

  def register(spark: SparkSession): BenchListener = {
    val l = new BenchListener
    spark.sparkContext.addSparkListener(l)
    spark.listenerManager.register(l)
    l
  }

  def unregister(spark: SparkSession, l: BenchListener): Unit = {
    spark.sparkContext.removeSparkListener(l)
    spark.listenerManager.unregister(l)
  }
}
