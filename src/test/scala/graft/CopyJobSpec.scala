package graft

import java.nio.file.Files

import graft.model.ChunkSpec
import graft.operators.{ChunkManifest, CopyJob}
import graft.sources.Tables
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** End-to-end copy semantics per /root/reference/pkg/agent/sync.go:95-232:
  * window-exact copy, idempotent re-copy, retry budget, chunk/10 recovery
  * (FIXTURES.md §B.6 fault injection). */
class CopyJobSpec extends AnyFunSuite {
  lazy val spark = SparkSpec.spark
  val src = s"${SparkSpec.Sf0001}/events.parquet"
  val S = 1704412800000000000L // 2024-01-05
  val E = 1705708800000000000L // 2024-01-20
  val Day = 86400000000000L

  def freshDst(): String =
    Files.createTempDirectory("graft_copyspec").toString + "/events.parquet"

  def cfg(dst: String) = CopyJob.Config(S, E, chunkNs = 5 * Day,
    timeCol = "ts")

  /** The measurement's live chunk refs, through its manifest. */
  private def live(dst: String): Seq[ChunkManifest.ChunkRef] = {
    val fs = new org.apache.hadoop.fs.Path(dst)
      .getFileSystem(spark.sessionState.newHadoopConf())
    ChunkManifest.read(fs, dst).map(_.live).getOrElse(Nil)
  }

  /** The live chunk dir spanning exactly `[s, e)`. */
  private def liveDir(dst: String, s: Long, e: Long): String =
    live(dst).find(r => r.startNs == s && r.endNs == e)
      .getOrElse(fail(s"no live chunk [$s, $e) in $dst: ${live(dst)}")).dir

  test("copy equals direct window scan; re-copy is idempotent") {
    val dst = freshDst()
    val job = new CopyJob(spark)
    val r1 = job.copyMeasurement(src, dst, cfg(dst))
    assert(r1.chunks.forall(_.ok))
    val direct = Tables.timeRange(
      spark.read.parquet(src), "ts", S, E).count()
    val got = job.readCopied(dst).count()
    assert(got == direct,
      s"dst=$dst ls=${Option(new java.io.File(dst).listFiles())
        .getOrElse(Array.empty).map(_.getName).mkString(",")} " +
        s"chunks=${r1.chunks.map(c => (c.chunk, c.points, c.ok))}")
    assert(r1.totalPoints == direct)
    // blind re-copy (recovery semantics) must not duplicate
    job.copyMeasurement(src, dst, cfg(dst))
    assert(job.readCopied(dst).count() == direct)
    // content identity, not just count
    val diff = job.readCopied(dst).select(col("event_id"))
      .except(Tables.timeRange(spark.read.parquet(src), "ts", S, E)
        .select(col("event_id"))).count()
    assert(diff == 0)
  }

  test("retention enforcement: whole expired chunks drop at the file-" +
    "listing level, the straddling chunk trims, recent data untouched") {
    val dst = freshDst()
    val job = new CopyJob(spark)
    job.copyMeasurement(src, dst, cfg(dst)) // 3 chunks of 5 days
    val cutoff = S + 7 * Day // mid-second-chunk
    val before = job.readCopied(dst).count()
    val (dropped, trimmed, kept) =
      job.enforceRetention(dst, cutoff, cfg(dst))
    // chunk [S, S+5d) is entirely expired; [S+5d, S+10d) straddles
    assert(dropped === Seq((S, S + 5 * Day)))
    assert(trimmed === Seq((S + 5 * Day, S + 10 * Day)))
    assert(kept === 2)
    // the dropped chunk is gone from the live set (metadata-only)
    assert(!live(dst).exists(r => r.startNs == S && r.endNs == S + 5 * Day))
    // surviving rows = exactly the >= cutoff window
    val after = job.readCopied(dst)
    val want = Tables.timeRange(spark.read.parquet(src), "ts", cutoff, E)
      .count()
    assert(after.count() === want && want < before)
    assert(after.filter(col("ts") < cutoff).count() === 0L)
    // idempotent: re-enforcing the same cutoff is a no-op
    val (d2, t2, _) = job.enforceRetention(dst, cutoff, cfg(dst))
    assert(d2.isEmpty && t2.isEmpty)
    assert(job.readCopied(dst).count() === want)
  }

  test("deleteWhere: tag-predicated delete rewrites ONLY intersecting " +
    "chunks, preserves non-matching series, leaves untouched chunks " +
    "byte-identical, and re-running is a physical no-op") {
    val dst = freshDst()
    val job = new CopyJob(spark)
    job.copyMeasurement(src, dst, cfg(dst))
    // chunks: [S,S+5d) [S+5d,S+10d) [S+10d,S+15d); delete 'click'
    // rows inside [S+6d, S+9d) — intersects ONLY the middle chunk
    val lo = S + 6 * Day; val hi = S + 9 * Day
    def fileState(): Map[String, Seq[(String, Long, Long)]] =
      Option(new java.io.File(dst).listFiles()).getOrElse(Array.empty)
        .filter(_.getName.startsWith("__bucket=")).map { d =>
          d.getName -> Option(d.listFiles()).getOrElse(Array.empty)
            .map(f => (f.getName, f.length, f.lastModified)).toSeq.sorted
        }.toMap
    val before = fileState()
    val midDir = liveDir(dst, S + 5 * Day, S + 10 * Day)
    val rc = job.readCopied(dst)
    val matchCount = rc.filter(col("event_type") === "click" &&
      Tables.nsAtLeast(rc, "ts", lo) && Tables.nsBefore(rc, "ts", hi))
      .count()
    assert(matchCount > 0)
    val total = job.readCopied(dst).count()
    val (dropped, rewritten, untouched) = job.deleteWhere(dst,
      col("event_type") === "click", lo, hi, cfg(dst))
    // only the middle chunk intersects; it keeps non-click rows
    assert(dropped.isEmpty)
    assert(rewritten === Seq((S + 5 * Day, S + 10 * Day)))
    assert(untouched === 2)
    val after = job.readCopied(dst)
    assert(after.count() === total - matchCount)
    // the deleted slice holds NO click rows but still holds others
    val slice = Tables.timeRange(after, "ts", lo, hi)
    assert(slice.filter(col("event_type") === "click").isEmpty)
    assert(!slice.isEmpty)
    // untouched chunks are byte-identical (name, size, mtime)
    val mid = fileState()
    for (k <- before.keys if k != midDir)
      assert(mid(k) === before(k), k)
    // re-run: nothing matches anymore → physical no-op everywhere
    val (d2, r2, u2) = job.deleteWhere(dst,
      col("event_type") === "click", lo, hi, cfg(dst))
    assert(d2.isEmpty && r2.isEmpty && u2 === 3)
    assert(fileState() === mid)
    // a predicate matching a whole chunk's rows drops the chunk at
    // the directory level
    val (d3, r3, _) = job.deleteWhere(dst, lit(true),
      S + 10 * Day, E, cfg(dst))
    assert(d3 === Seq((S + 10 * Day, S + 15 * Day)) && r3.isEmpty)
  }

  test("deleteWhere classifies every intersecting chunk in O(1) Spark " +
    "jobs (single probe), not O(chunks) — wide-DELETE scale shape") {
    val dst = freshDst()
    val job = new CopyJob(spark)
    // 15 one-day chunks: the pre-r21 shape ran TWO driver-sequential
    // jobs per intersecting chunk (isEmpty probe + remaining probe),
    // so a nothing-matches DELETE over the full window cost ≥30 jobs;
    // the single-probe shape costs one aggregate query (a handful of
    // AQE stage-jobs at most)
    val c = CopyJob.Config(S, E, chunkNs = Day, timeCol = "ts")
    job.copyMeasurement(src, dst, c)
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(): Unit
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val (d, r, u) = job.deleteWhere(dst,
        col("event_type") === "__no_such_type", S, E, c)
      assert(d.isEmpty && r.isEmpty && u === 15)
      // async listener bus — poll until the count is stable instead
      // of one fixed sleep (a late-draining bus under load would
      // otherwise under-count and falsely pass) — r21 adviser
      val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
      var last = -1
      while (jobs.get() != last && System.nanoTime() < deadline) {
        last = jobs.get()
        Thread.sleep(300)
      }
    } finally spark.sparkContext.removeSparkListener(listener)
    val n = jobs.get()
    // ceiling well below the old 2-jobs-per-chunk shape (≥30), not a
    // tight AQE-stage-count pin — AQE job splits vary across Spark
    // versions/configs and must not flake this spec (r21 adviser)
    assert(n < 15, s"probe ran $n jobs for 15 intersecting chunks — " +
      "expected O(1) (single probe aggregate), not O(chunks)")
  }

  test("trim pass classifies every overlapping stale partition in O(1) " +
    "Spark jobs (single probe), not O(partitions) — re-copy scale shape") {
    val dst = freshDst()
    val job = new CopyJob(spark)
    // first copy: 15 one-day partitions; the re-copy below at 5-day
    // granularity overlaps ALL of them (none span-identical), so every
    // one qualifies for the trim pass. Pre-r22 shape: one
    // driver-sequential isEmpty probe job PER partition (≥15 jobs for
    // the trim alone); the single-probe shape classifies all 15 in one
    // aggregate job and here drops them all (every row lies inside a
    // rewritten span) with no rewrites at all.
    job.copyMeasurement(src, dst, CopyJob.Config(S, E, chunkNs = Day,
      timeCol = "ts"))
    val total = job.readCopied(dst).count()
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(): Unit
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      job.copyMeasurement(src, dst, CopyJob.Config(S, E,
        chunkNs = 5 * Day, timeCol = "ts"))
      // poll until the async listener bus drains (count stable)
      val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
      var last = -1
      while (jobs.get() != last && System.nanoTime() < deadline) {
        last = jobs.get()
        Thread.sleep(300)
      }
    } finally spark.sparkContext.removeSparkListener(listener)
    // idempotent: same rows, now in 3 five-day partitions
    assert(job.readCopied(dst).count() === total)
    assert(live(dst).size === 3)
    val n = jobs.get()
    // whole re-copy budget: 3 chunk copies + ONE trim probe (plus AQE
    // stage-jobs) — far under the old 15-probe trim shape alone; the
    // ceiling is deliberately loose so AQE job-count drift cannot
    // flake it while still failing the O(partitions) shape
    assert(n < 15, s"re-copy ran $n jobs over 15 stale partitions — " +
      "expected O(1) trim classification (single probe), not " +
      "O(partitions)")
  }

  test("upsertPoints: last-write-wins per (key, ts); touched chunks " +
    "rewritten, new chunks created, untouched chunks byte-identical; " +
    "re-run converges") {
    val dst = freshDst()
    val job = new CopyJob(spark)
    job.copyMeasurement(src, dst, cfg(dst))
    val total = job.readCopied(dst).count()
    def fileState(): Map[String, Seq[(String, Long, Long)]] =
      Option(new java.io.File(dst).listFiles()).getOrElse(Array.empty)
        .filter(_.getName.startsWith("__bucket=")).map { d =>
          d.getName -> Option(d.listFiles()).getOrElse(Array.empty)
            .map(f => (f.getName, f.length, f.lastModified)).toSeq.sorted
        }.toMap
    val before = fileState()
    // batch: override TWO existing points in the middle chunk (new
    // value), within-batch duplicate for one of them (later line
    // wins), plus one brand-new point in a chunk past the window
    val midDir = liveDir(dst, S + 5 * Day, S + 10 * Day)
    val midChunk = s"$dst/$midDir"
    val seed = spark.read.parquet(midChunk)
      .orderBy(col("event_id")).limit(2).cache()
    val over1 = seed.withColumn("value", lit(111.25))
      .withColumn("__line", lit(0L))
    val over2 = seed.limit(1).withColumn("value", lit(222.5))
      .withColumn("__line", lit(5L)) // later duplicate of row 1 wins
    val fresh = seed.limit(1)
      .withColumn("event_id", lit(999999999L))
      .withColumn("ts",
        expr(s"timestamp_micros(${(E + Day) / 1000}L)")
          .cast(seed.schema("ts").dataType))
      .withColumn("value", lit(7.75))
      .withColumn("__line", lit(2L))
    val batch = over1.unionByName(over2).unionByName(fresh)
    val (created, rewritten) = job.upsertPoints(dst, batch, cfg(dst),
      keyCols = Seq("event_id"))
    // the grid continues the copy layout's phase: the fresh point at
    // E+1d lands in the next tile [S+15d, S+20d)
    assert(created === Seq((S + 15 * Day, S + 20 * Day)))
    assert(rewritten === Seq((S + 5 * Day, S + 10 * Day)))
    val after = job.readCopied(dst)
    assert(after.count() === total + 1)
    val ids = seed.collect().map(_.getAs[Long]("event_id"))
    val vals = after.filter(col("event_id").isin(ids: _*))
      .orderBy(col("event_id"))
      .collect().map(_.getAs[Double]("value")).toSeq
    // row 1: overridden twice in-batch → the later line (222.5) wins
    assert(vals === Seq(222.5, 111.25))
    assert(after.filter(col("event_id") === 999999999L)
      .collect().map(_.getAs[Double]("value")).toSeq === Seq(7.75))
    // untouched chunks byte-identical
    val mid = fileState()
    for (k <- before.keys
         if k != midDir
         && before.contains(k))
      assert(mid(k) === before(k), k)
    // re-run the same batch: content converges (counts + values)
    job.upsertPoints(dst, batch, cfg(dst), keyCols = Seq("event_id"))
    assert(job.readCopied(dst).count() === total + 1)
    assert(job.readCopied(dst).filter(col("event_id").isin(ids: _*))
      .orderBy(col("event_id"))
      .collect().map(_.getAs[Double]("value")).toSeq ===
      Seq(222.5, 111.25))
    seed.unpersist(): Unit
  }

  test("transient failures retried within budget (try.go:15-30)") {
    val dst = freshDst()
    var fails = 2
    val job = new CopyJob(spark,
      readHook = (c, _) => if (c.id == 1 && fails > 0) {
        fails -= 1; throw new RuntimeException("injected read failure")
      })
    val r = job.copyMeasurement(src, dst, cfg(dst))
    assert(r.chunks.forall(_.ok)) // retries absorbed the failures
    val direct = Tables.timeRange(spark.read.parquet(src), "ts", S, E).count()
    assert(job.readCopied(dst).count() == direct)
  }

  test("persistent chunk failure → chunk/10 recovery pass heals it") {
    val dst = freshDst()
    // chunk 1 fails at full granularity only; fine-grained chunks
    // (chunkNs/10) pass → recovery converges (sync.go:215-232)
    val job = new CopyJob(spark,
      readHook = (c, _) =>
        if (c.endNs - c.startNs == 5 * Day && c.id == 1)
          throw new RuntimeException("injected persistent failure"))
    val c = CopyJob.Config(S, E, chunkNs = 5 * Day, timeCol = "ts",
      rwMaxRetries = 2)
    val r = job.copyMeasurement(src, dst, c)
    assert(r.chunks.exists(!_.ok)) // first pass recorded the bad chunk
    val direct = Tables.timeRange(spark.read.parquet(src), "ts", S, E).count()
    assert(job.readCopied(dst).count() == direct) // healed
  }

  test("coarse re-copy after fine recovery does not duplicate") {
    val dst = freshDst()
    // pass 1: coarse chunk 1 always fails → recovery writes it at chunk/10
    val failing = new CopyJob(spark,
      readHook = (c, _) =>
        if (c.endNs - c.startNs == 5 * Day && c.id == 1)
          throw new RuntimeException("injected"))
    val c = CopyJob.Config(S, E, chunkNs = 5 * Day, timeCol = "ts",
      rwMaxRetries = 2)
    failing.copyMeasurement(src, dst, c)
    // pass 2: blind full re-copy at coarse granularity succeeds — must
    // supersede the fine partitions, not coexist with them
    val clean = new CopyJob(spark)
    clean.copyMeasurement(src, dst, c)
    val direct = Tables.timeRange(spark.read.parquet(src), "ts", S, E).count()
    assert(clean.readCopied(dst).count() == direct)
  }

  test("write-phase failures count as writeErrors, not readErrors " +
    "(client.go:541-557 vs 363-381 budgets)") {
    val dst = freshDst()
    val job = new CopyJob(spark,
      writeHook = (c, _) => if (c.endNs - c.startNs == 5 * Day && c.id == 1)
        throw new RuntimeException("injected write failure"))
    val c = CopyJob.Config(S, E, chunkNs = 5 * Day, timeCol = "ts",
      rwMaxRetries = 2)
    val r = job.copyMeasurement(src, dst, c)
    val bad = r.chunks.filter(ch => ch.chunk.id == 1 &&
      ch.chunk.endNs - ch.chunk.startNs == 5 * Day)
    assert(bad.nonEmpty)
    assert(bad.forall(ch => ch.writeErrors > 0 && ch.readErrors == 0))
  }

  test("read-phase failures count as readErrors, not writeErrors") {
    val dst = freshDst()
    val job = new CopyJob(spark,
      readHook = (c, _) => if (c.endNs - c.startNs == 5 * Day && c.id == 1)
        throw new RuntimeException("injected read failure"))
    val c = CopyJob.Config(S, E, chunkNs = 5 * Day, timeCol = "ts",
      rwMaxRetries = 2)
    val r = job.copyMeasurement(src, dst, c)
    val bad = r.chunks.filter(ch => ch.chunk.id == 1 &&
      ch.chunk.endNs - ch.chunk.startNs == 5 * Day)
    assert(bad.nonEmpty)
    assert(bad.forall(ch => ch.readErrors > 0 && ch.writeErrors == 0))
  }

  test("copy against an explicit file: URI root (Hadoop FileSystem path)") {
    // same copy driven through a scheme-qualified URI — exercises the
    // FileSystem.get resolution path the sink/catalog use on HDFS/S3A
    val dstLocal = freshDst()
    val dst = "file://" + dstLocal
    val job = new CopyJob(spark)
    // two passes: second must drop superseded fine partitions via the
    // Hadoop FS walk (not java.io), proving the URI-agnostic cleanup
    val failing = new CopyJob(spark,
      readHook = (c, _) =>
        if (c.endNs - c.startNs == 5 * Day && c.id == 1)
          throw new RuntimeException("injected"))
    val c = CopyJob.Config(S, E, chunkNs = 5 * Day, timeCol = "ts",
      rwMaxRetries = 2)
    failing.copyMeasurement("file://" + src, dst, c)
    job.copyMeasurement("file://" + src, dst, c)
    val direct = Tables.timeRange(spark.read.parquet(src), "ts", S, E).count()
    assert(job.readCopied(dst).count() == direct)
  }

  test("re-copy of an ARBITRARY overlapping window stays upsert-idempotent" +
    " (trim pass; HA recovery windows never align, hacluster.go:310,321)") {
    val dst = freshDst()
    val job = new CopyJob(spark)
    job.copyMeasurement(src, dst, cfg(dst))
    // recovery-style window: overlaps the tail of [S,E) mid-chunk and
    // extends past E — chunk spans share no boundary with the first copy
    val w2 = CopyJob.Config(E - Day / 2, E + Day, chunkNs = Day,
      timeCol = "ts")
    job.copyMeasurement(src, dst, w2)
    val direct = Tables.timeRange(spark.read.parquet(src), "ts",
      S, E + Day).count()
    assert(job.readCopied(dst).count() == direct) // no duplicates, no loss
    val dup = job.readCopied(dst).groupBy(col("event_id"))
      .count().filter(col("count") > 1).count()
    assert(dup == 0)
  }

  test("differential sync repairs ONLY mismatched chunks; clean dest " +
    "is a no-op") {
    val dst = freshDst()
    val job = new CopyJob(spark)
    job.copyMeasurement(src, dst, cfg(dst))
    // clean dest: nothing differs, nothing copied
    val (m0, r0) = job.syncDiffering(src, dst, cfg(dst))
    assert(m0.isEmpty && r0.chunks.isEmpty)
    // tamper: remove the middle chunk's partition entirely
    val victim = new java.io.File(
      s"$dst/${liveDir(dst, S + 5 * Day, S + 10 * Day)}")
    assert(victim.exists())
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles()).getOrElse(Array.empty).foreach(rm)
      f.delete(): Unit
    }
    rm(victim)
    val (m1, r1) = job.syncDiffering(src, dst, cfg(dst))
    // exactly the tampered chunk was detected and re-copied
    assert(m1.map(c => (c.startNs, c.endNs)) ===
      Seq((S + 5 * Day, S + 10 * Day)))
    assert(r1.chunks.forall(_.ok))
    val want = Tables.timeRange(spark.read.parquet(src), "ts", S, E)
    assert(job.readCopied(dst).count() === want.count())
    assert(job.verifyChecksums(src, dst, cfg(dst))
      .forall { case (_, a, b) => a == b })
  }

  test("compaction coalesces many-file partitions in place; content " +
    "checksum-identical; compliant partitions and re-runs are no-ops") {
    val dst = freshDst()
    val job = new CopyJob(spark)
    // force many small files per chunk partition
    val c = CopyJob.Config(S, E, chunkNs = 5 * Day, timeCol = "ts",
      maxPointsPerWrite = 100)
    job.copyMeasurement(src, dst, c)
    def filesPerPartition(): Seq[Int] =
      live(dst).map(r => new java.io.File(s"$dst/${r.dir}").listFiles()
        .count(_.getName.endsWith(".parquet")))
    assert(filesPerPartition().forall(_ > 1))
    val sumsBefore = job.verifyChecksums(src, dst, c)
    val report = job.compact(dst, c)
    assert(report.size === 3) // every 5-day chunk was oversized
    assert(report.forall { case (_, before, after) =>
      before > 1 && after === 1 })
    assert(filesPerPartition().forall(_ === 1))
    // content identical, not just counts
    assert(job.verifyChecksums(src, dst, c) === sumsBefore)
    assert(sumsBefore.forall { case (_, a, b) => a == b })
    // steady state: nothing to do
    assert(job.compact(dst, c).isEmpty)
  }

  test("per-chunk checksums verify source↔dest identity (ChecksumAgg)") {
    val dst = freshDst()
    val job = new CopyJob(spark)
    val c = cfg(dst)
    job.copyMeasurement(src, dst, c)
    val sums = job.verifyChecksums(src, dst, c)
    assert(sums.nonEmpty)
    assert(sums.forall { case (_, s, d) => s == d })
    // a tampered destination is detected
    val part = Option(new java.io.File(dst).listFiles()).get
      .filter(_.getName.startsWith("__bucket=")).head
    part.listFiles().filter(_.getName.endsWith(".parquet"))
      .foreach(f => f.delete(): Unit)
    val after = job.verifyChecksums(src, dst, c)
    assert(after.exists { case (_, s, d) => s != d })
  }

  test("maxPointsPerWrite bounds rows per written file (BpSplit analog, " +
    "client.go:494-529)") {
    val dst = freshDst()
    val job = new CopyJob(spark)
    val c = CopyJob.Config(S, E, chunkNs = 5 * Day, timeCol = "ts",
      maxPointsPerWrite = 50L)
    job.copyMeasurement(src, dst, c)
    val files = Option(new java.io.File(dst).listFiles()).get
      .filter(_.getName.startsWith("__bucket="))
      .flatMap(d => d.listFiles().filter(_.getName.endsWith(".parquet")))
    assert(files.nonEmpty)
    files.foreach { f =>
      assert(spark.read.parquet(f.toString).count() <= 50L, f.getName)
    }
    // and the copy is still window-exact
    val direct = Tables.timeRange(spark.read.parquet(src), "ts", S, E).count()
    assert(job.readCopied(dst).count() == direct)
  }

  test("strict reference bounds drop edge points (sync.go:162 semantics)") {
    val dst = freshDst()
    val job = new CopyJob(spark)
    // window edges aligned to whole seconds; no event lands exactly on an
    // edge in this dataset, so strict == half-open minus start-edge points
    val c = CopyJob.Config(S, E, chunkNs = 5 * Day, timeCol = "ts",
      strictReferenceBounds = true)
    job.copyMeasurement(src, dst, c)
    val rawSrc = spark.read.parquet(src)
    val strictCount = rawSrc
      .filter(Tables.nsAfter(rawSrc, "ts", S) &&
        Tables.nsBefore(rawSrc, "ts", E)).count()
    assert(job.readCopied(dst).count() == strictCount)
  }
}
