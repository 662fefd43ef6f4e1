package perfbench

import java.io.File
import scala.collection.mutable
import scala.util.control.NonFatal
import org.apache.spark.sql.SparkSession

/** One timed op: a verb or query call plus its materialization. `ok` is
  * the output check's verdict, made after the timer stops. */
final case class Op(kind: String, ms: Double, ok: Boolean, items: Long)

/** A benchmark workload: seeded inputs staged by [[setup]], then closed
  * loop cycles of ops, each op starting only when the previous one ended.
  * Workloads call the engine only through its public functions, routing
  * every layer call through the [[Tracer]] they are handed. */
abstract class Workload(val spark: SparkSession, val dir: File, val seed: Long) {
  /** Set for a traced run: preparation then also computes the quality
    * baselines only the per-layer report uses. */
  var traced = false
  /** The op kind whose items per second is the workload's throughput. */
  def primary: String
  /** Generate and stage the inputs (timed, repeated; the last one wins). */
  def setup(): Unit
  /** Untimed preparation after set-up: fills lazy caches (declared warm
    * state) and runs the once-per-run checks. Returns its checked ops;
    * they count as attempted, and fail the run like timed ops do. */
  def prepare(): Seq[Op] = Nil
  /** One closed-loop cycle of ops. */
  def cycle(t: Tracer): Seq[Op]
  /** Sizes and declared state, recorded in the artifact. */
  def info: Map[String, Any]

  /** Layer counters a traced cycle notes besides its spans (ratios and
    * quality figures), keyed by per-layer metric name. */
  val notes = mutable.ArrayBuffer.empty[(Int, String, Double)]
  private var noteCycle = 0
  def startCycle(n: Int): Unit = noteCycle = n
  protected def note(metric: String, v: Double): Unit = notes += ((noteCycle, metric, v))

  /** Failures seen by checks, for the artifact. */
  val problems = mutable.ArrayBuffer.empty[String]

  /** Time `body` as one op of `kind` (inside the tracer's op span), then
    * run `check` on its result outside the timer. A throw in either
    * counts the op as failed. */
  protected def timed[T](t: Tracer, kind: String, items: Long)(body: => T)
                        (check: T => Boolean): Op = {
    val t0 = System.nanoTime()
    val r = try Right(t.op(kind)(body)) catch { case NonFatal(e) => Left(e) }
    val ms = (System.nanoTime() - t0) / 1e6
    val ok = r match {
      case Right(v) =>
        try check(v) catch { case NonFatal(e) => fail(s"$kind check threw: $e") }
      case Left(e) => fail(s"$kind threw: $e")
    }
    Op(kind, ms, ok, items)
  }

  /** A once-per-run check as an op of `kind`: ok when `problems` is
    * empty, each problem recorded. */
  protected def checkOp(kind: String, items: Long)(problems: => Seq[String]): Op = {
    val t0 = System.nanoTime()
    val ok = try { val p = problems; p.foreach(fail); p.isEmpty }
             catch { case NonFatal(e) => fail(s"$kind threw: $e") }
    Op(kind, (System.nanoTime() - t0) / 1e6, ok, items)
  }

  protected def fail(msg: String): Boolean = {
    if (problems.length < 50) problems += msg
    System.err.println(s"[perfbench] FAILED $msg")
    false
  }

  /** The driver-side TSV checks on a written db, each problem recorded. */
  protected def tsvOk(f: File, lines: Long, header: Boolean): Boolean = {
    val p = Catalog.checkTsv(f, lines, header)
    p.foreach(fail)
    p.isEmpty
  }

  /** `cond`, recording `msg` as a problem when it does not hold. */
  protected def expect(cond: Boolean, msg: => String): Boolean =
    cond || fail(msg)

  protected def sub(name: String): File = {
    val f = new File(dir, name)
    f.mkdirs()
    f
  }
}
