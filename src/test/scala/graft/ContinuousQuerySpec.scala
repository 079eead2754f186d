package graft

import java.nio.file.Files

import graft.operators.ContinuousQuery
import graft.sources.Tables
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Continuous-query downsampling: bootstrap rollup, incremental
  * refresh touching only the lookback buckets, idempotent re-run, and
  * the too-late-point CQ contract. */
class ContinuousQuerySpec extends AnyFunSuite {
  lazy val spark = SparkSpec.spark
  val S = 1704412800000000000L
  val Day = 86400000000000L

  private def eventsSlice(fromNs: Long, untilNs: Long) =
    Tables.timeRange(
      spark.read.parquet(s"${SparkSpec.Sf0001}/events.parquet"),
      "ts", fromNs, untilNs)

  private def fullRollup(srcDir: String) = {
    val raw = spark.read.parquet(srcDir)
    val t = Tables.nsCol(raw, "ts")
    raw
      .groupBy(col("event_type"),
        (t - pmod(t, lit(Day))).as("bucket_ns"))
      .agg(count(lit(1)).as("n_points"),
        // rounded: summation order differs between the incremental and
        // one-shot aggregations (same rows, different partitionings)
        round(sum(col("value")), 6).as("sum_value"),
        min(col("value")).as("min_value"), max(col("value")).as("max_value"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1)) ->
        (r.getLong(2), r.getDouble(3)))
      .toMap
  }

  private def gotRollup(cq: ContinuousQuery, dst: String) =
    cq.readRollup(dst)
      .select(col("event_type"), col("bucket_ns"), col("n_points"),
        round(col("sum_value"), 6).as("sum_value"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1)) ->
        (r.getLong(2), r.getDouble(3)))
      .toMap

  test("bootstrap + incremental refresh: only lookback buckets " +
    "recompute; result equals the full rollup; re-run is idempotent; " +
    "a point older than the lookback is ignored (CQ contract)") {
    val src = Files.createTempDirectory("graft_cq_src").toString + "/m"
    val dst = Files.createTempDirectory("graft_cq_dst").toString + "/m1d"
    val cq = new ContinuousQuery(spark)
    // bootstrap: four days of raw points
    eventsSlice(S, S + 4 * Day).write.mode("overwrite").parquet(src)
    val (b1, wm1) = cq.refresh(src, dst, Seq("event_type"), "value",
      bucketNs = Day, resampleNs = Day)
    assert(b1 >= 4L) // at least one bucket per day present
    assert(gotRollup(cq, dst) === fullRollup(src))
    // incremental: two more days land; refresh recomputes ONLY the
    // lookback window (last old bucket + the new days), not all days
    eventsSlice(S + 4 * Day, S + 6 * Day).write.mode("append").parquet(src)
    val (b2, wm2) = cq.refresh(src, dst, Seq("event_type"), "value",
      bucketNs = Day, resampleNs = Day)
    assert(wm2 > wm1)
    assert(b2 < b1 + 2, s"recomputed $b2 buckets — not incremental")
    assert(gotRollup(cq, dst) === fullRollup(src))
    // idempotent: nothing new → same rollup
    val (_, wm3) = cq.refresh(src, dst, Seq("event_type"), "value",
      bucketNs = Day, resampleNs = Day)
    assert(wm3 === wm2)
    assert(gotRollup(cq, dst) === fullRollup(src))
    // the CQ contract: a point far OLDER than the lookback appends to
    // the raw store but is NOT folded into the rollup
    val before = gotRollup(cq, dst)
    eventsSlice(S, S + 1 * Day).limit(1).write.mode("append").parquet(src)
    cq.refresh(src, dst, Seq("event_type"), "value",
      bucketNs = Day, resampleNs = Day)
    assert(gotRollup(cq, dst) === before)
  }

  test("rewindToNs folds a too-late backfill back in (the /write " +
    "parity path): the same point the plain lookback refresh ignores " +
    "IS rolled up when the refresh rewinds to its timestamp, the " +
    "rollup converges to the full aggregate, the watermark never " +
    "moves backwards, and a re-run without rewind is idempotent") {
    val src = Files.createTempDirectory("graft_cqrw_src").toString + "/m"
    val dst = Files.createTempDirectory("graft_cqrw_dst").toString + "/m1d"
    val cq = new ContinuousQuery(spark)
    eventsSlice(S, S + 4 * Day).write.mode("overwrite").parquet(src)
    val (_, wm1) = cq.refresh(src, dst, Seq("event_type"), "value",
      bucketNs = Day, resampleNs = Day)
    // a backfill lands in day 0 — far behind watermark − lookback
    eventsSlice(S, S + 1 * Day).limit(1).write.mode("append").parquet(src)
    // plain refresh: contract says it is ignored
    cq.refresh(src, dst, Seq("event_type"), "value",
      bucketNs = Day, resampleNs = Day)
    assert(gotRollup(cq, dst) !== fullRollup(src))
    // rewound refresh: folded in exactly-once, watermark unchanged
    // (the backfill is older than everything seen)
    val (_, wm2) = cq.refresh(src, dst, Seq("event_type"), "value",
      bucketNs = Day, resampleNs = Day, rewindToNs = Some(S))
    assert(wm2 === wm1, "watermark moved on an old-point rewind")
    assert(gotRollup(cq, dst) === fullRollup(src))
    // idempotent after the fold
    cq.refresh(src, dst, Seq("event_type"), "value",
      bucketNs = Day, resampleNs = Day)
    assert(gotRollup(cq, dst) === fullRollup(src))
  }

  test("unchanged-bucket identity does not cancel: two rows with equal " +
    "hashes that change together change the bucket's identity, so the " +
    "refresh rewrites the bucket") {
    val s = spark
    import s.implicits._
    def identity(rows: (Long, Long)*) =
      ContinuousQuery.bucketIdentity(rows.toDF("b", "__h"), col("b"))
    // each bucket's XOR is 0 both before and after, at the same count
    val before = identity((0L, 5L), (0L, 5L),
      (1L, Long.MaxValue), (1L, Long.MaxValue))
    val after = identity((0L, 7L), (0L, 7L),
      (1L, Long.MinValue), (1L, Long.MinValue))
    assert(before(0L) !== after(0L))
    assert(before(1L) !== after(1L))
    // full-range hashes sum exactly (a long sum would overflow under
    // ANSI), and the identity ignores row order
    assert(before(1L) === ((2L, BigDecimal(Long.MaxValue) * 2)))
    assert(identity((0L, 3L), (0L, -9L), (0L, 3L)) ===
      identity((0L, -9L), (0L, 3L), (0L, 3L)))
  }
}
