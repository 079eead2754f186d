package graft.syncbench

import java.util.SplittableRandom

/** Seeded input generators. Everything the engine sees in a run comes
  * from here — the master root's rows, the outage schedule, the
  * line-protocol bodies and the InfluxQL texts — and is a pure function
  * of the seed, so the same seed gives byte-identical inputs
  * ([[GenSpec]] pins it). */
object Gen {
  val NsPerMs = 1000000L
  val NsPerSec = 1000000000L
  val MinNs = 60L * NsPerSec
  val DayNs = 86400L * NsPerSec
  /** 2024-01-01T00:00:00Z: every history starts here. */
  val BaseNs = 1704067200L * NsPerSec

  /** One measurement of the master root: `<db>/<rp>/<name>.parquet`.
    * `withStr` adds a string field, so the five Influx field types
    * (float, integer, unsigned, boolean, string) are all covered. */
  final case class Meas(db: String, rp: String, name: String,
      withStr: Boolean) {
    def rel: String = s"$db/$rp/$name.parquet"
  }

  final case class Row(ts: Long, host: String, region: String,
      fFloat: Double, fInt: Long, fUint: java.math.BigDecimal,
      fBool: Boolean, fStr: String)

  /** Shape of a generated master root. Points are `stepNs` apart per
    * series over `days` days starting at [[BaseNs]]. */
  final case class Shape(meas: Seq[Meas], hosts: Int, days: Int,
      stepNs: Long) {
    val startNs: Long = BaseNs
    val endNs: Long = BaseNs + days * DayNs
    def series: Seq[(String, String)] =
      (0 until hosts).map(h => (f"h$h%02d", if (h % 2 == 0) "eu" else "us"))
    def pointsPerMeas: Long = series.size * ((endNs - startNs) / stepNs)
    def points: Long = meas.size * pointsPerMeas
  }

  /** Two RPs under one db: `autogen` (the default, renamed on the
    * slave) and `longterm`, several measurements each. */
  val ReplicateShape = Shape(Seq(
    Meas("telegraf", "autogen", "cpu", withStr = true),
    Meas("telegraf", "autogen", "mem", withStr = false),
    Meas("telegraf", "longterm", "cpu_hourly", withStr = true)),
    hosts = 4, days = 4, stepNs = 60L * NsPerSec)

  /** The served root: one RP, no string field (every string column of a
    * copied measurement is a tag on the served plane). */
  val ServeShape = Shape(Seq(
    Meas("telegraf", "autogen", "cpu", withStr = false),
    Meas("telegraf", "autogen", "mem", withStr = false)),
    hosts = 4, days = 2, stepNs = 60L * NsPerSec)

  private val TwoPow63 = new java.math.BigDecimal("9223372036854775808")

  private def rng(seed: Long, salt: String): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L ^ salt.hashCode.toLong)

  private def row(r: SplittableRandom, ts: Long, host: String,
      region: String, level: Double): Row =
    Row(ts, host, region,
      fFloat = math.rint(level * 1000.0) / 1000.0,
      fInt = r.nextLong(1000000L),
      // the full uint64 range: the top bit set on half the values
      fUint = java.math.BigDecimal.valueOf(r.nextLong(Long.MaxValue))
        .add(if (r.nextBoolean()) TwoPow63 else java.math.BigDecimal.ZERO),
      fBool = r.nextBoolean(),
      fStr = "s" + r.nextInt(16))

  /** Rows of one measurement over `[fromNs, toNs)`, `stepNs` apart per
    * series, each series starting at a seeded offset inside the step. */
  def rows(seed: Long, m: Meas, shape: Shape, fromNs: Long, toNs: Long,
      salt: String = ""): Seq[Row] = {
    val r = rng(seed, m.rel + salt + fromNs)
    shape.series.flatMap { case (host, region) =>
      val off = r.nextLong(shape.stepNs / NsPerSec) * NsPerSec
      var level = 20.0 + r.nextDouble() * 60.0
      val first = fromNs + off
      Iterator.iterate(first)(_ + shape.stepNs).takeWhile(_ < toNs).map {
        ts =>
          level = math.max(0.0, level + r.nextDouble() * 4.0 - 2.0)
          row(r, ts, host, region, level)
      }.toSeq
    }
  }

  /** One slave outage of the replicate workload: the slave is seen up at
    * `upAtNs`, is down from there for `downNs`, and meanwhile every
    * measurement receives points each `stepNs` over the outage. */
  final case class Outage(upAtNs: Long, downNs: Long, stepNs: Long)

  /** The outage schedule: outages follow the copied history, separated
    * by seeded healthy gaps; each lasts 5–40 minutes (the reference's
    * README demo recovers a ~10 s outage; longer ones carry more
    * points). */
  def outages(seed: Long, shape: Shape, n: Int): Seq[Outage] = {
    val r = rng(seed, "outages")
    var t = shape.endNs
    (0 until n).map { _ =>
      t += (10L + r.nextLong(110L)) * MinNs
      val down = (5L + r.nextLong(36L)) * MinNs
      val o = Outage(t, down, (5L + r.nextLong(26L)) * NsPerSec)
      t += down
      o
    }
  }

  // ---- served plane ---------------------------------------------------

  /** One /write batch: line-protocol text and how many points it
    * carries into each measurement. */
  final case class WriteBatch(body: String, points: Map[String, Int]) {
    def total: Int = points.values.sum
  }

  private def lpLine(m: String, row: Row): String =
    s"$m,host=${row.host},region=${row.region} " +
      s"f_float=${row.fFloat},f_int=${row.fInt}i," +
      s"f_uint=${row.fUint.toPlainString}u,f_bool=${row.fBool} ${row.ts}"

  /** The /write stream of one Telegraf agent: `n` batches of `points`
    * lines over every measurement, as one Telegraf flush carries all its
    * inputs. Every `replayEvery`-th batch is replayed from the buffer the
    * agent kept through an output outage, so it holds older points that
    * rewrite one earlier day chunk. The others carry fresh points, which
    * land in the newest chunk after the history, advancing; every fifth
    * batch opens two new series. Timestamps never repeat and never meet a
    * history point (odd millisecond offsets against whole-second
    * history), so every acknowledged point adds exactly one row — the
    * final count check relies on it. */
  def writeBatches(seed: Long, shape: Shape, n: Int, points: Int,
      replayEvery: Int): Seq[WriteBatch] = {
    require(points <= 1000 && n < 1000, "replayed timestamps encode " +
      "(batch, line) below the millisecond")
    val r = rng(seed, "writes")
    var newest = shape.endNs
    val series = shape.series
    (0 until n).map { b =>
      val replay = b % replayEvery == replayEvery - 1
      val oldDay = shape.startNs + r.nextLong(shape.days.toLong) * DayNs
      val lines = (0 until points).map { i =>
        val m = shape.meas(i % shape.meas.size).name
        val (host, region) =
          if (!replay && b % 5 == 4 && i < 2) (f"new$b%03d", "ap")
          else series(r.nextInt(series.size))
        val ts =
          if (replay)
            oldDay + r.nextLong(86400L) * NsPerSec +
              (2L * r.nextLong(499L) + 1L) * NsPerMs + b * 1000L + i
          else {
            newest += (1L + r.nextLong(3L)) * NsPerSec
            newest + (2L * r.nextLong(499L) + 1L) * NsPerMs
          }
        m -> lpLine(m, row(r, ts, host, region, 50.0 + r.nextDouble() * 10.0))
      }
      WriteBatch(lines.map(_._2).mkString("\n"),
        lines.groupBy(_._1).map { case (m, ls) => m -> ls.size })
    }
  }

  /** One /query: the text, as sent, and the series name it must return. */
  final case class Query(text: String, series: String)

  /** The dashboard query shapes: a short recent-range select, the wide
    * `group by time(1d)` over the whole history, and `SHOW TAG VALUES`. */
  sealed trait Kind
  case object Short extends Kind
  case object Wide extends Kind
  case object ShowTags extends Kind

  /** Dashboard InfluxQL, one query per kind given, with the
    * `time >= <n>ms` literals Grafana sends. The seed picks measurement,
    * host and range; the caller fixes the kinds, so every seed runs the
    * same mix. */
  def queries(seed: Long, shape: Shape, kinds: Seq[Kind]): Seq[Query] = {
    val r = rng(seed, "queries")
    val hosts = shape.series.map(_._1)
    kinds.map { kind =>
      val m = shape.meas(r.nextInt(shape.meas.size)).name
      val endMs = (shape.endNs - r.nextLong(6L) * 3600L * NsPerSec) / NsPerMs
      kind match {
        case Wide =>
          Query(s"""SELECT mean("f_float") FROM "$m" WHERE time >= """ +
            s"${shape.startNs / NsPerMs}ms AND time <= ${endMs}ms " +
            """GROUP BY time(1d) fill(null)""", m)
        case ShowTags =>
          Query(s"""SHOW TAG VALUES FROM "$m" WITH KEY = "host"""", m)
        case Short =>
          val host = hosts(r.nextInt(hosts.size))
          val spanMs = (1L + r.nextLong(3L)) * 3600L * 1000L
          Query(s"""SELECT mean("f_float"), max("f_int") FROM "$m" """ +
            s"""WHERE "host" = '$host' AND time >= ${endMs - spanMs}ms """ +
            s"AND time <= ${endMs}ms GROUP BY time(1m) fill(none)", m)
      }
    }
  }
}
