package graft.operators

import java.nio.charset.StandardCharsets

import graft.sources.Tables
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** InfluxDB 1.x continuous-query analog: periodically roll recent raw
  * points up into a downsampled derived measurement (`CREATE CONTINUOUS
  * QUERY … SELECT mean(v) INTO db.rp.m_1h GROUP BY time(1h), *`) — the
  * companion feature every InfluxDB deployment the reference syncs
  * runs, re-expressed as an INCREMENTAL batch job.
  *
  * Incremental contract (CQ semantics): each refresh recomputes ONLY
  * the time buckets at or after `floor(watermark − resampleNs)`, where
  * the watermark is the max raw timestamp seen by the previous refresh
  * — exactly InfluxQL's `RESAMPLE FOR` lookback: late points landing
  * inside the lookback are folded in on the next refresh; older late
  * points are ignored (InfluxDB CQs behave the same — historical
  * re-aggregation is an explicit backfill, here a refresh with
  * `resampleNs = ∞` i.e. watermark 0).
  *
  * Scale shape: the raw scan is PRUNED to `ts >= bucketFloor` (pushed
  * predicate — steady-state cost is one bucket's worth of rows, not
  * the measurement); the rollup is a partial/final hash aggregate; the
  * sink rewrites only the recomputed buckets. Re-running a refresh
  * with no new data recomputes the same buckets to the same content —
  * idempotent. The watermark persists in `_cq.json` beside the data
  * and is written AFTER the data commit (a crash between the two
  * re-does work, never loses it).
  *
  * Snapshot-managed sink (r21): the rollup was the ONE served relation
  * still written by plain dynamic-partition-overwrite (README Known
  * limits #5) — a /query SELECT or a catalog walk racing a refresh
  * could hit a footerless dir (UNABLE_TO_INFER_SCHEMA) or a replaced
  * part file (task FileNotFound + retry); the DaemonSoak reader
  * observed both live. The sink now commits through [[ChunkManifest]]
  * like every other served mutator: each refresh writes the recomputed
  * buckets as span-named generation dirs (`__bucket=<s>_<e>_g<n>`,
  * span = one CQ bucket) inside a dot-staging dir invisible to
  * listings, promotes them with atomic renames, and retires the
  * replaced generations in place under grace — readers resolve the
  * manifest and never see a torn layout. A legacy `__cq_bucket=<v>`
  * layout is adopted once via metadata-only renames. */
final class ContinuousQuery(spark: SparkSession) {

  /** One refresh pass. Returns (bucketsRewritten, watermarkNs).
    * @param rewindToNs when a writer landed points BEHIND the
    *   watermark-lookback window since the last refresh (the /write
    *   backfill case — InfluxQL's `RESAMPLE FOR` drops such points
    *   forever), clamp the recompute window down to this timestamp's
    *   bucket: the dynamic-partition-overwrite rewrite is idempotent
    *   per bucket, so folding old buckets back in is exactly-once by
    *   construction. The watermark itself never moves backwards. */
  def refresh(
      srcPath: String,
      dstPath: String,
      seriesCols: Seq[String],
      valueCol: String,
      bucketNs: Long,
      timeCol: String = "ts",
      resampleNs: Long = 0L,
      rewindToNs: Option[Long] = None,
      // retirement grace for replaced bucket generations — size to
      // the longest served query, like every ChunkManifest writer
      graceMs: Long = ChunkManifest.DefaultGraceMs): (Long, Long) = {
    require(bucketNs > 0, s"bucketNs must be positive: $bucketNs")
    require(resampleNs >= 0, s"resampleNs must be >= 0: $resampleNs")
    Tables.ensureNsConf(spark)
    val prev = readWatermark(dstPath)
    val lookbackFrom =
      if (prev == 0L) Long.MinValue
      else floorBucket(math.max(prev - resampleNs, 0L), bucketNs)
    val fromNs = rewindToNs match {
      case Some(r) if lookbackFrom != Long.MinValue =>
        math.min(lookbackFrom, floorBucket(math.max(r, 0L), bucketNs))
      case _ => lookbackFrom
    }
    // the raw measurement resolves like every stored read: a refresh
    // racing a concurrent upsert reads a pinned LIVE-generation
    // listing — exact under grace, never FILE_NOT_EXIST. The /write
    // that triggered a rewind committed its manifest before
    // returning, so the drained backfill is always visible here.
    val raw = ChunkManifest.readStored(spark, srcPath)
    val t = Tables.nsCol(raw, timeCol)
    val recent = raw.filter(
      if (fromNs == Long.MinValue) lit(true)
      else Tables.nsAtLeast(raw, timeCol, fromNs)) // pushable pruning
    // per-group max raw ts rides the rollup aggregation, so the
    // watermark needs no second scan of the raw data; the rolled frame
    // (bucket-bounded, small) is cached across the stats read and the
    // write — the raw scan+aggregate runs ONCE per refresh
    val rolled = recent
      .groupBy((seriesCols.map(col) :+
        (t - pmod(t, lit(bucketNs))).as("__cq_bucket")): _*)
      .agg(count(lit(1)).as("n_points"),
        sum(col(valueCol)).as("sum_value"),
        min(col(valueCol)).as("min_value"),
        max(col(valueCol)).as("max_value"),
        max(t).as("__cq_max_ts"))
      .cache()
    try {
      val stats = rolled.select(
        count(lit(1)).as("buckets_x_series"),
        countDistinct(col("__cq_bucket")).as("buckets"),
        max(col("__cq_max_ts")).as("max_ts"))
        .head()
      val newWatermark =
        if (stats.isNullAt(2)) prev
        else math.max(prev, stats.getLong(2))
      if (stats.getLong(0) > 0) {
        val fs = new Path(dstPath)
          .getFileSystem(spark.sessionState.newHadoopConf())
        // one writer per rollup across refresh/backfill callers —
        // the same monitor registry every served mutator uses
        ChunkManifest.lockFor(dstPath).synchronized {
          adoptLegacyLayout(fs, dstPath, bucketNs)
          val st = ChunkManifest.read(fs, dstPath)
            .getOrElse(ChunkManifest.bootstrap(fs, dstPath))
          val g = st.gen + 1
          // UNCHANGED-bucket short-circuit (r22, guide §1.2 "don't
          // compute things you throw away"): a steady-state refresh
          // recomputes every bucket in the lookback window, but only
          // buckets with NEW raw rows produce different content — the
          // rest would be rewritten byte-equivalent and their old
          // generations retired for nothing (at 100 TB: an O(buckets)
          // write + rename + retire churn per refresh). Compare each
          // recomputed bucket against its live generation by row
          // count + order-insensitive content hash over the exact
          // output columns; buckets that PROVABLY match keep their
          // live generation (readers see identical rows either way).
          // A hash mismatch merely rewrites — never wrong, only
          // unsaved; a match is content identity modulo collision
          // ([[ContinuousQuery.bucketIdentity]]).
          val outCols = seriesCols :+ "n_points" :+ "sum_value" :+
            "min_value" :+ "max_value"
          val rolledHashed = rolled.withColumn("__h",
            xxhash64(outCols.map(col): _*))
          val liveBySpan = st.live.groupBy(r => (r.startNs, r.endNs))
          val unchanged: Set[Long] =
            if (st.live.isEmpty) Set.empty
            else {
              val recomputed = ContinuousQuery.bucketIdentity(
                rolledHashed, col("__cq_bucket"))
              // live generations covering exactly the recomputed
              // spans (a span with duplicate live refs — impossible
              // by commit construction — is conservatively rewritten)
              val matchRefs = recomputed.keySet.toSeq.sorted.flatMap {
                b => liveBySpan.get((b, b + bucketNs))
                  .collect { case Seq(one) => one }
              }
              if (matchRefs.isEmpty) Set.empty
              else {
                val existing = ChunkManifest.snapshotFrame(spark,
                  dstPath, matchRefs.map(_.dir))
                val existingSums = ContinuousQuery.bucketIdentity(
                  existing.withColumn("__h",
                    xxhash64(outCols.map(col): _*)),
                  split(col("__bucket"), "_").getItem(0).cast("long"))
                recomputed.keySet.filter(b =>
                  existingSums.get(b).contains(recomputed(b)))
              }
            }
          val changed = rolledHashed.drop("__h")
            .filter(if (unchanged.isEmpty) lit(true)
              else !col("__cq_bucket")
                .isin(unchanged.toSeq.sorted: _*))
          val anyChanged = stats.getLong(1) > unchanged.size
          if (anyChanged) {
            val stage = new Path(s"$dstPath/.cq_stage")
            fs.delete(stage, true): Unit
            // ONE job writes every CHANGED bucket as its own
            // generation dir under the dot-staging dir (invisible to
            // every listing reader until the renames below)
            changed.drop("__cq_max_ts")
              .withColumn("__bucket", concat(
                col("__cq_bucket").cast("string"), lit("_"),
                (col("__cq_bucket") + bucketNs).cast("string"),
                lit(s"_g$g")))
              .drop("__cq_bucket")
              .write.mode("overwrite").partitionBy("__bucket")
              .parquet(stage.toString)
            // promote each staged generation dir (atomic renames — a
            // crash strands gen-named orphans the next commit's sweep
            // removes), then ONE manifest commit swaps readers from
            // the replaced generations to the new ones. Renames run
            // over a bounded pool (r22): they are independent
            // metadata ops on distinct names, and a backfill's
            // O(buckets) driver-sequential rename loop is pure
            // latency stacking on a remote FS.
            val staged = fs.listStatus(stage).toSeq
              .filter(s => s.isDirectory &&
                s.getPath.getName.startsWith("__bucket="))
            val newRefs = CopyJob.inParallel(8, staged) {
              s =>
                val n = s.getPath.getName
                ChunkManifest.spanOf(n).map { case (bs, be) =>
                  // a crash AFTER some promotes but BEFORE
                  // commitMutation leaves gen-named orphans at exactly
                  // these targets (g never advanced, the retry
                  // recomputes the same g) — and the commit-time sweep
                  // runs AFTER these renames, so it cannot clean them
                  // first. g > st.gen guarantees an existing target is
                  // such an uncommitted orphan no reader references:
                  // drop it, or the rename nests/fails and every
                  // subsequent refresh wedges (r21 adviser).
                  val dst = new Path(s"$dstPath/$n")
                  if (fs.exists(dst)) fs.delete(dst, true): Unit
                  require(fs.rename(s.getPath, dst),
                    s"cq refresh: cannot promote ${s.getPath}")
                  ChunkManifest.ChunkRef(n, bs, be)
                }
            }.flatten
            fs.delete(stage, true): Unit
            val spans = newRefs.map(r => (r.startNs, r.endNs)).toSet
            val replaced = st.live
              .filter(r => spans.contains((r.startNs, r.endNs)))
            ChunkManifest.commitMutation(fs, dstPath, st, g, newRefs,
              replaced.map(_.dir), graceMs): Unit
          }
        }
      }
      writeWatermark(dstPath, newWatermark)
      (stats.getLong(1), newWatermark)
    } finally rolled.unpersist(): Unit
  }

  /** One-time adoption of a pre-r21 rollup layout: every legacy
    * `__cq_bucket=<v>` partition dir becomes a span-named gen-0 dir
    * `__bucket=<v>_<v+bucketNs>` (metadata-only renames, no data
    * moves — the partition value was never stored in the files), so
    * [[ChunkManifest.bootstrap]] adopts it. Idempotent. */
  private def adoptLegacyLayout(fs: org.apache.hadoop.fs.FileSystem,
      dstPath: String, bucketNs: Long): Unit = {
    val dir = new Path(dstPath)
    if (!fs.exists(dir) || ChunkManifest.exists(fs, dstPath)) return
    fs.listStatus(dir).foreach { s =>
      val n = s.getPath.getName
      if (s.isDirectory && n.startsWith("__cq_bucket=")) {
        n.stripPrefix("__cq_bucket=").toLongOption.foreach { v =>
          val to = new Path(s"$dstPath/__bucket=${v}_${v + bucketNs}")
          require(fs.rename(s.getPath, to),
            s"cq layout adoption: cannot rename ${s.getPath} -> $to")
        }
      }
    }
  }

  /** Read the downsampled measurement (one row per bucket × series;
    * `bucket_ns` = the bucket's start). Resolved like every stored
    * read (pinned listing — a concurrent refresh can never yank a file
    * from under the read), keeping the `__bucket` span the bucket
    * start comes from; the legacy plain `__cq_bucket=` layout reads as
    * before. */
  def readRollup(dstPath: String): DataFrame = {
    Tables.ensureNsConf(spark)
    val base = ChunkManifest.storedFrame(spark, dstPath)
    if (base.columns.contains("__bucket"))
      // generation dirs are span-named `<s>_<e>_g<n>`: the bucket
      // start is the first `_`-token of the partition value
      base.withColumn("bucket_ns",
        split(col("__bucket"), "_").getItem(0).cast("long"))
        .drop("__bucket")
    else
      base.withColumn("bucket_ns", col("__cq_bucket").cast("long"))
        .drop("__cq_bucket")
  }

  private def floorBucket(ns: Long, bucketNs: Long): Long =
    ns - java.lang.Math.floorMod(ns, bucketNs)

  private def wmPath(dstPath: String) = new Path(s"$dstPath/_cq.json")

  private def readWatermark(dstPath: String): Long = {
    val p = wmPath(dstPath)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(p)) 0L
    else {
      val in = fs.open(p)
      try {
        val bytes = new Array[Byte](fs.getFileStatus(p).getLen.toInt)
        in.readFully(bytes)
        """"watermark_ns":(-?\d+)""".r
          .findFirstMatchIn(new String(bytes, StandardCharsets.UTF_8))
          .map(_.group(1).toLong).getOrElse(0L)
      } finally in.close()
    }
  }

  private def writeWatermark(dstPath: String, ns: Long): Unit = {
    val p = wmPath(dstPath)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val out = fs.create(p, true)
    try out.write(s"""{"watermark_ns":$ns}"""
      .getBytes(StandardCharsets.UTF_8))
    finally out.close()
  }
}

object ContinuousQuery {

  /** Per-bucket content identity of a frame carrying a per-row content
    * hash `__h`: (row count, EXACT sum of the hashes). The sum runs in
    * decimal(38,0) — a long sum of full-range xxhash64 values overflows
    * (ARITHMETIC_OVERFLOW under ANSI) — and, unlike an XOR, equal
    * hashes that change together cannot cancel out. */
  private[graft] def bucketIdentity(df: DataFrame, bucket: Column)
      : Map[Long, (Long, BigDecimal)] =
    df.groupBy(bucket.as("__b"))
      .agg(count(lit(1)).as("c"),
        sum(col("__h").cast("decimal(38,0)")).as("h"))
      .collect()
      .map(r =>
        r.getLong(0) -> (r.getLong(1), BigDecimal(r.getDecimal(2))))
      .toMap
}
