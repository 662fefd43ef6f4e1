package graft

import org.apache.spark.SparkConf
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** What every main (and the spec suite) shares: the one session
  * factory, the one order-independent result digest, and the one JSON
  * string escape the hand-written artifacts use.
  *
  * Session conf policy: graft's choices (master, app name, shuffle
  * partitions, AQE on, UTC, UI off) are DEFAULTS, applied only where no
  * JVM `spark.*` system property already names the key — so
  * `spark-submit --conf k=v`, `-Dspark.k=v` or
  * `JAVA_TOOL_OPTIONS=-Dspark.k=v sbt 'runMain graft.Bench'` overrides
  * them without a repo-specific option. A caller's `extra` confs are
  * part of what the caller measures (e.g. SpillRehearsal's squeezed
  * memory pool) and always win.
  */
object Harness {

  /** The conf [[session]] builds from: system properties, then graft's
    * defaults where missing, then `extra`. */
  def conf(master: String, appName: String, shufflePartitions: Int,
           extra: Map[String, String] = Map.empty): SparkConf = {
    val c = new SparkConf() // loads every spark.* JVM system property
    Seq("spark.master" -> master,
        "spark.app.name" -> appName,
        "spark.sql.shuffle.partitions" -> shufflePartitions.toString,
        "spark.sql.adaptive.enabled" -> "true",
        "spark.sql.session.timeZone" -> "UTC",
        "spark.ui.enabled" -> "false")
      .foreach { case (k, v) => c.setIfMissing(k, v) }
    c.setAll(extra)
  }

  /** The running session, left exactly as it is (no conf, no log
    * level: a caller that shares it, such as `Cli.main` in a notebook or
    * the spec suite, must not change what runs after it); else a new
    * session for `conf(master, appName, ...)` at `logLevel`. ERROR by
    * default: the measurement mains print one machine-parsed line that
    * benign warnings would interleave with. */
  def session(master: String, appName: String, shufflePartitions: Int,
              logLevel: String = "ERROR",
              extra: Map[String, String] = Map.empty): SparkSession =
    SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
      .filterNot(_.sparkContext.isStopped)
      .getOrElse {
        val s = SparkSession.builder()
          .config(conf(master, appName, shufflePartitions, extra)).getOrCreate()
        s.sparkContext.setLogLevel(logLevel)
        s
      }

  /** Run `body` with each of `kvs` set in `spark`'s session conf, then
    * put every key back as it was before — its old value, or unset
    * again if it was not set — also when `body` throws. */
  def withConfs[A](spark: SparkSession, kvs: (String, String)*)(body: => A): A = {
    val before = spark.conf.getAll
    try {
      kvs.foreach { case (k, v) => spark.conf.set(k, v) }
      body
    } finally kvs.foreach { case (k, _) =>
      before.get(k).fold(spark.conf.unset(k))(spark.conf.set(k, _))
    }
  }

  /** Order-independent result digest, computed on the executors:
    * row count, xor of per-row xxhash64, and a modular sum of the same
    * hashes (xor alone cancels duplicate row PAIRS; the modular sum —
    * kept far under Long overflow so ANSI mode can't object — restores
    * multiplicity sensitivity). Columns are name-sorted and stringified
    * so the digest is schema-order- and partitioning-invariant. */
  def resultDigest(df: DataFrame): String = {
    val cols = df.columns.sorted
      .map(c => coalesce(col(c).cast("string"), lit("\u0000null")))
    val h = df.select(xxhash64(cols.toSeq: _*).as("h"))
    val r = h.agg(
      count(lit(1)).as("n"),
      expr("bit_xor(h)").as("x"),
      sum(pmod(col("h"), lit(1000000007L))).as("s")).head()
    val n = r.getLong(0)
    if (n == 0) "0:0:0" else s"$n:${r.getLong(1)}:${r.getLong(2)}"
  }

  /** `s` as a quoted JSON string: backslash, quote and ALL control
    * chars (< 0x20) escaped — a tab or CR in an exception message or
    * builder-authored SQL would otherwise make a consumer's json.load
    * fail. */
  def jsonString(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
