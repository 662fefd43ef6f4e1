package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, LinkOption, Path, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The measurement library the measurement mains (Bench, GateFloor,
  * StateStoreAb, ClusterDigest, SpillRehearsal, ScaleRehearsal,
  * AnnRecall) share: the env knobs they read, their sessions, timing,
  * medians, the row-wise quiet rule, derived fixture trees, and the one
  * JSON writer every artifact goes through. Each main keeps its own
  * queries, arms, pass/fail rules and artifact row names.
  *
  * Every artifact is stamped with the provenance a reader needs to say
  * why a number moved without rerunning anything: the commit measured
  * (`git_head`), the JVM's `spark.*` properties (`spark_props`, the run's
  * only conf overrides — see [[Harness]]) and `cpus`. A main that reads
  * `reps` or `only` writes that field itself, so an artifact never
  * names a knob its numbers did not follow.
  */
object Measure {

  private def positive(key: String, default: Int): Int =
    sys.env.get(key).fold(default)(v => v.toIntOption.filter(_ >= 1)
      .getOrElse(sys.error(s"$key must be a positive int, got '$v'")))

  /** Local cores and shuffle partitions (SPARK_GRAFT_CPUS, default 32). */
  val cpus: Int = positive("SPARK_GRAFT_CPUS", 32)

  /** Timed reps per row (SPARK_GRAFT_REPS, default 3): single-shot
    * numbers on a shared container once fabricated a phantom 50% suite
    * regression; the median of three absorbs isolated spikes cheaply.
    * Default runs never set it; the artifacts record it, so a
    * nonstandard run cannot pass for the default methodology. */
  val Reps: Int = positive("SPARK_GRAFT_REPS", 3)

  /** SPARK_GRAFT_ONLY=a,b: the subset of Bench queries or GateFloor
    * gates a local iteration runs. */
  val only: Option[Set[String]] =
    sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").map(_.trim).toSet)

  /** The `only` field of an artifact whose rows [[only]] cut. */
  def onlyField: (String, Any) = "only" -> only.map(_.toSeq.sorted)

  /** `names` sorted, cut to [[only]]. */
  def selected(names: Iterable[String]): Seq[String] =
    names.toSeq.sorted.filter(n => only.forall(_(n)))

  /** Read when this object is first used, which every main does before
    * it builds a session. */
  private val sparkProps: Obj =
    Obj(sys.props.toSeq.filter(_._1.startsWith("spark.")).sorted)

  /** The commit measured, read at run time so "is the committed
    * artifact the committed code?" is a field comparison; `+dirty` when
    * tracked files differ from HEAD, "unknown" outside a repo or
    * without git (never a crash). */
  lazy val gitHead: String =
    try {
      import scala.sys.process._
      val sha = Seq("git", "rev-parse", "HEAD").!!.trim
      val dirty = Seq("git", "status", "--porcelain",
        "--untracked-files=no").!!.trim.nonEmpty
      if (dirty) s"$sha+dirty" else sha
    } catch { case scala.util.control.NonFatal(_) => "unknown" }

  /** The session a main measures on: `local[cpus]` by default. */
  def session(app: String, extra: Map[String, String] = Map.empty,
              master: String = s"local[$cpus]",
              partitions: Int = cpus): SparkSession =
    Harness.session(master, app, partitions, extra = extra)

  /** Run `body` on `spark`, then stop it and clear it as the active and
    * default session, so the next pass starts a fresh SparkContext
    * (memory and executor confs are read only when a context starts). */
  def pass[A](spark: => SparkSession)(body: SparkSession => A): A = {
    val s = spark
    try body(s) finally {
      s.stop()
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
    }
  }

  /** `body`'s result and its wall seconds; rethrows what `body` throws. */
  def timed[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** Wall seconds of `body`. */
  def secs(body: => Any): Double = timed(body)._2

  /** Materialize `df` fully with a noop-format write: count() would let
    * Catalyst prune the projections being measured. */
  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** The upper median, `sorted(n / 2)`. */
  def median(xs: Seq[Double]): Double = xs.sorted.apply(xs.size / 2)

  /** One rep set: each rep's wall seconds (-1 for a failed rep), the
    * /proc window it is judged by, and how many times [[quiet]] re-ran
    * the set before keeping this one. */
  final case class Reading(reps: Seq[Double], window: ProcStat.Window,
                           retries: Int = 0) {
    /** The median rep, or -1 when any rep failed. */
    def sec: Double = if (reps.exists(_ < 0)) -1.0 else median(reps)
  }

  /** The row-wise quiet rule: a reading whose own window is impeached
    * (or that `over` rejects) re-runs, up to `maxAttempts` rep sets in
    * all, before the artifact is written. The first clean reading is
    * kept; while none is, `better(next, kept)` picks between each new
    * reading and the kept one (by default the one with less co-tenant
    * CPU and storage stall). A reading with a failed rep is never
    * retried (the failure is the finding), nor is an unjudgeable -1
    * window (nothing to retry against). */
  def quiet(maxAttempts: Int, over: Double => Boolean = _ => false,
            better: (Reading, Reading) => Boolean = (a, b) =>
              a.window.otherCpu + a.window.ioWait < b.window.otherCpu + b.window.ioWait)
           (attempt: => Reading): Reading = {
    def dirty(r: Reading) = r.sec >= 0 && (r.window.impeached || over(r.sec))
    var kept = attempt
    var retries = 0
    while (dirty(kept) && retries + 1 < maxAttempts) {
      retries += 1
      val next = attempt
      kept = (if (!dirty(next) || better(next, kept)) next else kept)
        .copy(retries = retries)
    }
    kept
  }

  /** A derived fixture tree at `dir`, built by `write` unless its marker
    * already records `provenance`. The marker is written last, so a
    * crashed build, or a tree left by another base or config, is
    * rebuilt instead of silently feeding an artifact the wrong data.
    * The old tree is deleted without following symlinks (a fixture
    * links into its base testdata); one that cannot be removed fails. */
  def fixture(dir: String, provenance: Obj)(write: Path => Unit): Unit = {
    val p = Paths.get(dir)
    val marker = p.resolve("_graft_fixture.json")
    val want = json(provenance)
    if (Files.isRegularFile(marker) &&
        new String(Files.readAllBytes(marker), UTF_8) == want) return
    TempDirs.deleteTree(p)
    require(!Files.exists(p, LinkOption.NOFOLLOW_LINKS),
      s"cannot remove the old fixture tree $p")
    Files.createDirectories(p)
    write(p)
    Files.write(marker, want.getBytes(UTF_8))
  }

  /** A number written with `digits` decimals, as `f"%.Nf"` writes it. */
  final case class Fixed(v: Double, digits: Int)

  /** A JSON object whose fields keep their order. */
  final case class Obj(fields: Seq[(String, Any)]) {
    def ++(more: Seq[(String, Any)]): Obj = Obj(fields ++ more)
  }
  def obj(fields: (String, Any)*): Obj = Obj(fields)

  /** `v` as JSON. Strings go through [[Harness.jsonString]]; a Double is
    * written as Scala prints it, a [[Fixed]] as `f"%.Nf"`; an Option is
    * its value or null; any other Iterable is an array (a Map has no
    * spelling: its pairs are refused, so write an [[Obj]]). */
  def json(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => json(x)
    case s: String => Harness.jsonString(s)
    case Fixed(d, n) => s"%.${n}f".format(d)
    case x @ (_: Boolean | _: Int | _: Long | _: Double) => x.toString
    case Obj(fs) =>
      fs.map { case (k, x) => Harness.jsonString(k) + ":" + json(x) }
        .mkString("{", ",", "}")
    case xs: Iterable[_] =>
      xs.map(json).mkString("[", ",", "]")
    case other => throw new IllegalArgumentException(
      s"no JSON spelling for ${other.getClass.getName}")
  }

  /** Per-row digest and wall seconds, as ClusterDigest and
    * SpillRehearsal record each pass. */
  def digestRows(rows: Seq[(String, (String, Double))]): Obj =
    Obj(rows.map { case (k, (d, s)) => k -> obj("digest" -> d, "sec" -> Fixed(s, 2)) })

  /** The provenance fields every artifact carries. */
  private def provenance: Seq[(String, Any)] = Seq(
    "git_head" -> gitHead, "spark_props" -> sparkProps, "cpus" -> cpus)

  /** `fields`, plus each provenance field it does not already carry, as
    * one JSON line written to `file` in the cwd; returns the line. */
  def artifact(file: String, fields: Obj): String = {
    val has = fields.fields.map(_._1).toSet
    val line = json(fields ++ provenance.filterNot(p => has(p._1)))
    write(file, line + "\n")
    line
  }

  /** Write `text` to `file` in the cwd. */
  def write(file: String, text: String): Unit =
    Files.write(Paths.get(file), text.getBytes(UTF_8))
}
