package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import java.math.{BigDecimal => JBigDecimal, RoundingMode}

/** Scalar derivations F1–F11 of the reference's row pipeline (SURVEY.md
  * §2.3; semantics from /root/reference/video_metadata_db.py:69-110,
  * 190-196, 1073-1103). Pure Scala functions + deterministic UDF wrappers;
  * everything SQL-expressible is ALSO provided as a `Column` builder so the
  * hot path stays inside whole-stage codegen — the UDFs exist only for the
  * formatting functions whose rounding semantics Spark built-ins can't
  * reproduce (Python round() is banker's; Spark round() is HALF_UP).
  */
object VideoFns {

  // ------------------------------------------------------------ rounding
  /** Python round(x): correctly-rounded half-even on the exact binary
    * value — `new BigDecimal(double)` is that exact value. */
  def pyRound(x: Double): Long =
    new JBigDecimal(x).setScale(0, RoundingMode.HALF_EVEN).longValueExact()

  /** Python round(x, 2) (returns a double; rendered via shortest repr). */
  def pyRound2(x: Double): Double =
    new JBigDecimal(x).setScale(2, RoundingMode.HALF_EVEN).doubleValue()

  /** C-printf `%.1f` (used by Python's `"%3.1f" %`): correct rounding,
    * ties half-even on the exact binary value. Min field width 3 — never
    * binding for non-negative sizes ("0.0" is already 3 chars). */
  def fmt31(x: Double): String = {
    val s = new JBigDecimal(x).setScale(1, RoundingMode.HALF_EVEN).toPlainString
    if (s.length < 3) (" " * (3 - s.length)) + s else s
  }

  // ------------------------------------------------------------ F1
  /** Humanize bytes, binary units (video_metadata_db.py:190-196): walk
    * Ki..Zi dividing by 1024 until |num| < 1024, format "%3.1f%s%s". */
  def sizeofFmt(num0: Double, suffix: String = "B"): String = {
    var num = num0
    val units = Seq("", "Ki", "Mi", "Gi", "Ti", "Pi", "Ei", "Zi")
    for (unit <- units) {
      if (math.abs(num) < 1024.0) return fmt31(num) + unit + suffix
      num /= 1024.0
    }
    fmt31(num) + "Yi" + suffix
  }

  // ------------------------------------------------------------ F2/F3
  /** Seconds → "Hh:Mm:Ss" / "H hour(s) M minute(s) S second(s)"
    * (video_metadata_db.py:69-101). Faithfully reproduces the reference's
    * quirks: `minutes = round(seconds/60)` (round, NOT floor — 5430 s
    * renders as "2h:30m:30s" because round(90.5) banker's-rounds to 90 and
    * round(90/60)=round(1.5) to 2), banker's rounding throughout, and the
    * <1 s two-decimal override rendered with Python float repr. */
  def hms(secondsRaw: Double, concise: Boolean): String = {
    var seconds = pyRound(secondsRaw)
    var minutes = 0L
    var hours = 0L
    if (seconds >= 60) { minutes = pyRound(seconds.toDouble / 60); seconds = seconds % 60 }
    if (minutes >= 60) { hours = pyRound(minutes.toDouble / 60); minutes = minutes % 60 }
    val bothSet = hours != 0 && minutes != 0
    val secStr: String =
      if (!bothSet && secondsRaw < 1 && secondsRaw > 0) {
        // Python str(float) — shortest repr; Double.toString matches for
        // two-decimal magnitudes in (0, 1] (incl. round(0.999,2) -> "1.0").
        pyRound2(secondsRaw).toString
      } else if (!bothSet && secondsRaw < 60 && secondsRaw > 1) {
        pyRound(secondsRaw).toString
      } else seconds.toString
    if (concise)
      (if (hours != 0) s"${hours}h:" else "") +
      (if (minutes != 0) s"${minutes}m:" else "") + secStr + "s"
    else
      (if (hours != 0) s"$hours hour(s) " else "") +
      (if (minutes != 0) s"$minutes minute(s) " else "") + secStr + " second(s)"
  }

  // ------------------------------------------------------------ F9
  /** Filename (sans extension, sans path) → (title, releaseYear)
    * (video_metadata_db.py:1073-1103). Exact partition() semantics,
    * including the malformed-name edges: no '[' → year "", title = whole
    * name; '[' with no ']' → year = rest after '[', title = "" (because
    * partition("]")[2] of the original is empty). */
  def parseTitleYear(base: String): (String, String) = {
    var title = base
    for (id <- Seq("[4K]", "[AV1]", "[3D]")) title = title.replace(id, "")
    val i = title.indexOf('[')
    val afterOpen = if (i < 0) "" else title.substring(i + 1)
    var year = ""
    if (afterOpen.nonEmpty) {
      val j = afterOpen.indexOf(']')
      year = if (j < 0) afterOpen else afterOpen.substring(0, j)
      val k = title.indexOf(']')
      title = if (k < 0) "" else title.substring(k + 1)
    }
    (title.trim, year)
  }

  // ---------------------------------------------------- UDF registrations
  import org.apache.spark.sql.expressions.UserDefinedFunction

  val sizeofFmtUdf: UserDefinedFunction = udf((n: Long) => sizeofFmt(n.toDouble))
  val hmsConciseUdf: UserDefinedFunction = udf((s: Double) => hms(s, concise = true))
  val hmsVerboseUdf: UserDefinedFunction = udf((s: Double) => hms(s, concise = false))
  val parseTitleUdf: UserDefinedFunction = udf((b: String) => parseTitleYear(b)._1)
  val parseYearUdf: UserDefinedFunction = udf((b: String) => parseTitleYear(b)._2)

  // ------------------------------------------------- Column builders
  /** F4: duration with "N/A" passthrough → concise h:m:s string. Any
    * un-parseable probe output relays as-is, like the reference's
    * non-numeric branch (and unlike an ANSI cast, which would fail the
    * job on one junk row). */
  def durationDisplay(durationRaw: Column): Column = {
    val asDouble = durationRaw.try_cast("double")
    when(durationRaw.isNull, lit("N/A"))
      .otherwise(when(asDouble.isNull, durationRaw)
        .otherwise(hmsConciseUdf(asDouble)))
  }

  /** F5: AV1/HEVC already-compressed flag (video_metadata_db.py:296-304). */
  val compressedCodecs: Seq[String] = Seq(
    "Alliance for Open Media AV1",
    "H.265 / HEVC (High Efficiency Video Coding)")
  def compressionCandidate(videoCodec: Column): Column =
    when(videoCodec.isin(compressedCodecs: _*), lit("N")).otherwise(lit("Y"))

  /** F6: title fallback sentinel (video_metadata_db.py:341-352). */
  def titleOrSentinel(title: Column): Column =
    coalesce(title, lit("<Title Not Set>"))

  /** F7: subtitle sibling path — strip last extension, append suffix. */
  def siblingPath(path: Column, sibSuffix: String): Column =
    concat(regexp_replace(path, "\\.[^./]*$", ""), lit(sibSuffix))

  /** F9 input: the filename stem — the last path segment without its
    * final extension. `substring_index` finds the segment in one pass;
    * the equivalent `regexp_extract(path, "([^/]+)$", 1)` restarts its
    * match at every character and rescans each directory segment to its
    * end, quadratic in the segment lengths. */
  def fileStem(path: Column): Column =
    regexp_replace(substring_index(path, "/", -1), "\\.[^.]*$", "")

  /** F8: Windows drive-letter strip (portable no-op on POSIX paths). */
  def stripDrive(path: Column): Column =
    regexp_replace(path, "^[A-Za-z]:", "")

  /** F10: lowercased final extension. */
  def extLower(path: Column): Column =
    lower(substring_index(path, ".", -1))

  /** S3: the reference's 18-element video-extension whitelist
    * (video_metadata_db.py:1016-1023). */
  val videoExtensions: Seq[String] = Seq(
    "av1", "avi", "divx", "mp4", "mkv", "m4v", "mpg", "mpeg", "mov",
    "rm", "vob", "wmv", "flv", "3gp", "rmvb", "webm", "dat", "mts")

  /** S2: directory-name blacklist (video_metadata_db.py:993-1004). */
  val bannedDirNames: Seq[String] = Seq(
    "Deleted Scenes", "@eaDir", "External AC3", "Extras", "Featurettes",
    "Interviews", "Select Soundbites", "Soundtrack", "Storyboards",
    "Trailers")

  /** True when no path segment is a banned directory name. Applied to the
    * listing BEFORE the probe stage so the expensive work never sees the
    * pruned subtrees (same effect as the reference's enumeration-time
    * prune; at 100 TB this predicate belongs in the distributed listing
    * job itself). */
  def notInBannedDir(path: Column): Column =
    !arrays_overlap(split(path, "/"), array(bannedDirNames.map(lit): _*))

  /** Extension-whitelist predicate (S3). */
  def hasVideoExtension(path: Column): Column =
    extLower(path).isin(videoExtensions: _*)
}
