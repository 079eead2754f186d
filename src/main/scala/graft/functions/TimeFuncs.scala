package graft.functions

import java.time.{Instant, OffsetDateTime}

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Time handling.
  *
  * The reference works in nanosecond precision end-to-end
  * (`Precision: "ns"`, /root/reference/pkg/agent/client.go:342;
  * `UnixNano2Time` client.go:312-327). Spark's TimestampType is µs, so the
  * engine's authoritative time key is a `time_ns: Long` column; a derived
  * µs TimestampType column is used only for windowing (SURVEY.md §1.2,
  * §7.3 hard part 1).
  */
object TimeFuncs {

  final val NsPerSecond = 1000000000L

  /** ns-epoch Long column → µs TimestampType (lossy below µs — for
    * windowing only; `time_ns` stays authoritative). */
  def nsToTimestamp(timeNs: Column): Column =
    timestamp_micros((timeNs / 1000L).cast("long"))

  /** CLI-style flexible time parsing, mirroring `parseInputTime`
    * (/root/reference/pkg/util.go:9-28): unix epoch seconds, a negative
    * Go-style duration relative to `now` (`-10h` = now − 10h), or RFC3339.
    * Returns ns epoch.
    */
  def parseInputTimeNs(s: String, nowNs: Long): Long = {
    val t = s.trim
    if (t.matches("[0-9]+")) t.toLong * NsPerSecond
    else if (t.startsWith("-")) nowNs - parseGoDurationNs(t.drop(1))
    else {
      val i: Instant = OffsetDateTime.parse(t).toInstant
      i.getEpochSecond * NsPerSecond + i.getNano
    }
  }

  /** Go-style duration strings (`8760h`, `1h30m`, `90s`, `500ms`, `0`) as
    * used for RP durations and config intervals (client.go:198-207,
    * mainconfig.go:15-26). Returns ns. */
  def parseGoDurationNs(s: String): Long = {
    val t = s.trim
    if (t.isEmpty || t == "0") return 0L
    val re = "([0-9]+(?:\\.[0-9]+)?)(ns|us|µs|ms|s|m|h|d|w)".r
    val matches = re.findAllMatchIn(t).toSeq
    require(matches.nonEmpty, s"unparseable duration: $s")
    // the units must tile the whole string — Go's time.ParseDuration
    // rejects garbage between or around components ("5hxx3m" is an error)
    require(matches.map(_.matched).mkString == t,
      s"unparseable duration: $s")
    matches.map { m =>
      val v = m.group(1).toDouble
      val unit = m.group(2) match {
        case "ns"        => 1L
        case "us" | "µs" => 1000L
        case "ms"        => 1000000L
        case "s"         => NsPerSecond
        case "m"         => 60L * NsPerSecond
        case "h"         => 3600L * NsPerSecond
        case "d"         => 86400L * NsPerSecond
        case "w"         => 7L * 86400L * NsPerSecond
      }
      (v * unit).toLong
    }.sum
  }
}
