package graft

import java.nio.file.Files

import graft.agent.{Agent, AgentConfig}
import graft.model.ClusterState
import graft.operators.{ChunkManifest, CopyJob}
import graft.plan.ChunkPlanner
import graft.sources.Tables
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The listing-snapshot read plane for served chunks (r20 — the last
  * known race in the engine, the r19 soak's reader-vs-writer
  * transient): snapshot-managed measurements resolve reads through a
  * `_chunks` manifest, every rewrite lands in a fresh generation dir,
  * replaced generations retire IN PLACE under a grace window, and a
  * concurrent reader's pinned listing therefore never loses a file —
  * no FILE_NOT_EXIST, no task retries attributable to the write
  * plane. The index epochs' manifest-committed-segments pattern
  * applied to the chunk store. */
class ChunkManifestSpec extends AnyFunSuite {
  lazy val spark = SparkSpec.spark
  val src = s"${SparkSpec.Sf0001}/events.parquet"
  val S = 1704412800000000000L // 2024-01-05
  val E = 1705708800000000000L // 2024-01-20
  val Day = 86400000000000L
  val MidChunk = s"__bucket=${S + 5 * Day}_${S + 10 * Day}"

  def freshDst(): String =
    Files.createTempDirectory("graft_cmspec").toString + "/events.parquet"

  def cfg(graceMs: Long = 300000L) = CopyJob.Config(S, E,
    chunkNs = 5 * Day, timeCol = "ts", chunkGraceMs = graceMs)

  private def dirs(dst: String): Set[String] =
    Option(new java.io.File(dst).listFiles()).getOrElse(Array.empty)
      .filter(f => f.isDirectory && f.getName.startsWith("__bucket="))
      .map(_.getName).toSet

  private def hfs(dst: String) =
    new org.apache.hadoop.fs.Path(dst)
      .getFileSystem(spark.sessionState.newHadoopConf())

  /** A plain chunk layout written the way the copy plane wrote it
    * before every copy committed a manifest: one `__bucket=<s>_<e>`
    * dir per 5-day chunk of `[S, E)` through dynamic partition
    * overwrite, and no `_chunks`. */
  private def plainCopy(dst: String): Unit = {
    Tables.ensureNsConf(spark)
    ChunkPlanner.plan(S, E, 5 * Day).foreach { c =>
      Tables.timeRange(spark.read.parquet(src), "ts", c.startNs, c.endNs)
        .withColumn("__bucket", lit(s"${c.startNs}_${c.endNs}"))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("__bucket").parquet(dst)
    }
  }

  /** An upsert batch overriding the two smallest event_ids of
    * `[lo, hi)` (the middle chunk by default) with `value`, reading
    * seeds through the stored read (the served read path). */
  private def overrideBatch(job: CopyJob, dst: String, value: Double,
      lo: Long = S + 5 * Day, hi: Long = S + 10 * Day) = {
    // PHYSICAL column types (the upsert merges against stored chunks,
    // so the batch must not carry the normalized Long ts)
    val raw = ChunkManifest.readStored(spark, dst)
    val t = Tables.nsCol(raw, "ts")
    val seed = raw
      .filter(t >= lit(lo) && t < lit(hi))
      .orderBy(col("event_id")).limit(2)
    seed.withColumn("value", lit(value)).withColumn("__line", lit(0L))
  }

  /** Runs `body` and counts the task failures a missing file caused —
    * the failures attributable to a writer (the shared session can see
    * unrelated task-kill events from neighboring suites' teardown). */
  private def missingFileFailures(body: => Unit): Long = {
    val failed = new java.util.concurrent.atomic.AtomicLong()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(
          te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
        val r = String.valueOf(te.reason)
        if (te.reason != org.apache.spark.Success &&
            (r.contains("FileNotFound") || r.contains("FILE_NOT_EXIST")))
          failed.incrementAndGet(): Unit
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try body finally {
      // the listener bus is asynchronous: the body's task-end events
      // were posted before it returned; give the bus time to deliver
      Thread.sleep(1000)
      spark.sparkContext.removeSparkListener(listener)
    }
    failed.get()
  }

  private def rowsOf(df: org.apache.spark.sql.DataFrame): Seq[(Long, Double)] =
    df.select("event_id", "value").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq.sorted

  test("snapshot adoption: a served upsert bootstraps the manifest " +
    "over the plain copy layout, rewrites land in fresh generation " +
    "dirs, the replaced generation stays AT ITS PATH (grace residue), " +
    "and manifest reads are exact while the plain listing sees both") {
    val dst = freshDst()
    val job = new CopyJob(spark)
    plainCopy(dst)
    val total = job.readCopied(dst).count()
    val before = dirs(dst)
    assert(before.contains(MidChunk))
    val ids = overrideBatch(job, dst, 111.25)
      .select("event_id").collect().map(_.getLong(0))
    job.upsertPoints(dst, overrideBatch(job, dst, 111.25), cfg(),
      keyCols = Seq("event_id")): Unit
    val fs = hfs(dst)
    assert(ChunkManifest.exists(fs, dst), "manifest must bootstrap")
    val st = ChunkManifest.read(fs, dst).get
    assert(st.gen === 1L)
    // replaced generation retired in place — the old dir is STILL on
    // disk (a pinned reader's listing stays valid) but not live
    assert(st.retired.map(_.dir) === Seq(MidChunk))
    assert(dirs(dst).contains(MidChunk), "retired dir stays at its path")
    val gen1 = ChunkManifest.dirName(S + 5 * Day, S + 10 * Day, 1L)
    assert(st.live.map(_.dir).contains(gen1), st.live.toString)
    // manifest read: exact (no duplicates from the residue)
    val after = job.readCopied(dst)
    assert(after.count() === total)
    assert(after.filter(col("event_id").isin(ids.toSeq: _*))
      .collect().map(_.getAs[Double]("value")).toSet === Set(111.25))
    // the PLAIN listing sees both generations — exactly why served
    // reads must resolve the manifest
    assert(spark.read.parquet(dst).count() > total)
  }

  test("grace expiry: a later commit physically deletes retired " +
    "generations past the grace window and keeps younger ones; " +
    "crashed-write orphans are swept too") {
    val dst = freshDst()
    val job = new CopyJob(spark)
    plainCopy(dst)
    val total = job.readCopied(dst).count()
    // grace 0: anything retired before this commit is expired by it
    job.upsertPoints(dst, overrideBatch(job, dst, 1.5), cfg(0L),
      keyCols = Seq("event_id")): Unit
    assert(dirs(dst).contains(MidChunk)) // retired, within its commit
    Thread.sleep(5)
    // plant a crashed-write orphan: gen-named, in no manifest
    val orphan = new java.io.File(
      s"$dst/${ChunkManifest.dirName(S, S + Day, 777L)}")
    assert(orphan.mkdirs())
    job.upsertPoints(dst, overrideBatch(job, dst, 2.5), cfg(0L),
      keyCols = Seq("event_id")): Unit
    assert(!dirs(dst).contains(MidChunk),
      "expired residue must drop at the next commit")
    assert(!orphan.exists(), "gen-named orphans are swept")
    val st = ChunkManifest.read(hfs(dst), dst).get
    assert(st.retired.map(_.dir) ===
      Seq(ChunkManifest.dirName(S + 5 * Day, S + 10 * Day, 1L)),
      "the young residue (this commit's) survives")
    assert(job.readCopied(dst).count() === total)
    // long grace: residue survives subsequent commits
    Thread.sleep(5)
    job.upsertPoints(dst, overrideBatch(job, dst, 3.5), cfg(),
      keyCols = Seq("event_id")): Unit
    assert(ChunkManifest.read(hfs(dst), dst).get.retired.size === 2)
  }

  test("manifest crash recovery: a crash between the old manifest's " +
    "delete and the tmp rename leaves only _chunks.tmp — readers " +
    "promote it as the committed state") {
    val dst = freshDst()
    val job = new CopyJob(spark)
    job.copyMeasurement(src, dst, cfg())
    val total = job.readCopied(dst).count()
    job.upsertPoints(dst, overrideBatch(job, dst, 9.75), cfg(),
      keyCols = Seq("event_id")): Unit
    val m = java.nio.file.Paths.get(dst, "_chunks")
    val tmp = java.nio.file.Paths.get(dst, "_chunks.tmp")
    java.nio.file.Files.move(m, tmp): Unit
    assert(job.readCopied(dst).count() === total)
    assert(java.nio.file.Files.exists(m) &&
      !java.nio.file.Files.exists(tmp),
      "recovery must promote the tmp manifest")
  }

  test("manifested deleteWhere keeps untouched generations " +
    "byte-identical (the idempotence tell survives snapshot mode) " +
    "and manifested retention retires expired chunks in place, " +
    "clamping the straddler into a new generation") {
    val dst = freshDst()
    val job = new CopyJob(spark)
    plainCopy(dst)
    job.upsertPoints(dst, overrideBatch(job, dst, 4.25), cfg(),
      keyCols = Seq("event_id")): Unit
    def fileState(): Map[String, Seq[(String, Long, Long)]] =
      Option(new java.io.File(dst).listFiles()).getOrElse(Array.empty)
        .filter(d => d.isDirectory && d.getName.startsWith("__bucket="))
        .map { d =>
          d.getName -> Option(d.listFiles()).getOrElse(Array.empty)
            .map(f => (f.getName, f.length, f.lastModified)).toSeq.sorted
        }.toMap
    val lo = S + 6 * Day; val hi = S + 9 * Day
    val rc = job.readCopied(dst)
    val matchCount = rc.filter(col("event_type") === "click" &&
      Tables.nsAtLeast(rc, "ts", lo) && Tables.nsBefore(rc, "ts", hi))
      .count()
    assert(matchCount > 0)
    val total = rc.count()
    val before = fileState()
    val (dropped, rewritten, untouched) = job.deleteWhere(dst,
      col("event_type") === "click", lo, hi, cfg())
    assert(dropped.isEmpty)
    assert(rewritten === Seq((S + 5 * Day, S + 10 * Day)))
    assert(untouched === 2)
    assert(job.readCopied(dst).count() === total - matchCount)
    val mid = fileState()
    val gen1 = ChunkManifest.dirName(S + 5 * Day, S + 10 * Day, 1L)
    for (k <- before.keys if k != gen1)
      assert(mid(k) === before(k), s"$k must stay byte-identical")
    // re-run: physical no-op (nothing matches; no new generation)
    val (d2, r2, u2) = job.deleteWhere(dst,
      col("event_type") === "click", lo, hi, cfg())
    assert(d2.isEmpty && r2.isEmpty && u2 === 3)
    assert(fileState() === mid)
    // retention: [S, S+5d) expires by RETIRE (still on disk under
    // grace), the straddler clamps into a new generation
    val cutoff = S + 7 * Day
    val (rd, rt, kept) = job.enforceRetention(dst, cutoff, cfg())
    assert(rd === Seq((S, S + 5 * Day)))
    assert(rt === Seq((S + 5 * Day, S + 10 * Day)))
    assert(kept === 2)
    assert(dirs(dst).contains(s"__bucket=${S}_${S + 5 * Day}"),
      "expired chunk retires in place under grace")
    val after = job.readCopied(dst)
    assert(after.filter(col("ts") < cutoff).count() === 0L)
    val st = ChunkManifest.read(hfs(dst), dst).get
    assert(st.live.exists(r =>
      r.startNs == cutoff && r.endNs == S + 10 * Day),
      "clamped span must be manifest-truthful: " + st.live)
    // idempotent re-enforce
    val (rd2, rt2, _) = job.enforceRetention(dst, cutoff, cfg())
    assert(rd2.isEmpty && rt2.isEmpty)
  }

  test("readCopiedRange prunes at the REF level: only overlapping " +
    "live generation dirs reach the file listing") {
    val dst = freshDst()
    val job = new CopyJob(spark)
    plainCopy(dst)
    job.upsertPoints(dst, overrideBatch(job, dst, 5.5), cfg(),
      keyCols = Seq("event_id")): Unit
    val gen1 = ChunkManifest.dirName(S + 5 * Day, S + 10 * Day, 1L)
    val files = job.readCopiedRange(dst, S + 6 * Day, S + 7 * Day)
      .inputFiles.toSeq
    assert(files.nonEmpty)
    assert(files.forall(_.contains(gen1)),
      s"a mid-chunk range must list ONLY the live mid generation: " +
        files.mkString(","))
    // the graced residue is never listed
    assert(!files.exists(_.contains(s"$MidChunk/")))
    // a range overlapping no live chunk: schema-preserving empty
    assert(job.readCopiedRange(dst, E + 30 * Day, E + 31 * Day)
      .isEmpty)
  }

  test("a plain layout written before the manifest (no _chunks) " +
    "reads back exactly, and its first copy adopts it through " +
    "bootstrap") {
    val dst = freshDst()
    plainCopy(dst)
    val job = new CopyJob(spark)
    assert(!ChunkManifest.exists(hfs(dst), dst))
    val plain = dirs(dst)
    assert(plain.size === 3 && plain.forall(!_.contains("_g")))
    def truth(lo: Long, hi: Long) =
      Tables.timeRange(spark.read.parquet(src), "ts", lo, hi)
    def exact(got: org.apache.spark.sql.DataFrame,
        want: org.apache.spark.sql.DataFrame): Unit = {
      assert(got.count() === want.count())
      assert(got.select("event_id").except(want.select("event_id"))
        .isEmpty)
    }
    exact(job.readCopied(dst), truth(S, E))
    exact(job.readCopiedRange(dst, S + 6 * Day, S + 7 * Day),
      truth(S + 6 * Day, S + 7 * Day))
    // a re-copy straddling the first chunk: the adopted plain dirs
    // inside the written spans retire, the straddled one is trimmed
    job.copyMeasurement(src, dst, CopyJob.Config(S + 4 * Day, E,
      chunkNs = Day, timeCol = "ts"))
    val st = ChunkManifest.read(hfs(dst), dst).get
    assert(st.retired.map(_.dir).toSet === plain)
    assert(st.live.forall(_.dir.contains("_g")), st.live.toString)
    exact(job.readCopied(dst), truth(S, E))
  }

  test("a batch re-copy commits beside pinned readers: a frame pinned " +
    "before the copy still collects exactly the pre-copy rows, with " +
    "zero missing-file task failures, and a fresh read equals source " +
    "truth") {
    val dst = freshDst()
    val job = new CopyJob(spark)
    job.copyMeasurement(src, dst, cfg())
    // a served write makes the pinned state differ from source truth
    job.upsertPoints(dst, overrideBatch(job, dst, 6.5), cfg(),
      keyCols = Seq("event_id")): Unit
    val pinned = job.readCopied(dst)
    val before = rowsOf(pinned)
    assert(before.count(_._2 == 6.5) === 2)
    // the re-copy window covers the middle chunk (retired whole) and
    // straddles the first (rewritten without the overlapped rows)
    val failed = missingFileFailures {
      job.copyMeasurement(src, dst, CopyJob.Config(S + 4 * Day + Day / 2,
        E, chunkNs = Day, timeCol = "ts"))
      assert(rowsOf(pinned) === before,
        "the pinned frame must still read the pre-copy generations")
    }
    assert(failed === 0L, s"$failed missing-file task failures")
    val truth = Tables.withNsTime(
      Tables.timeRange(spark.read.parquet(src), "ts", S, E))
    assert(rowsOf(job.readCopied(dst)) === rowsOf(truth))
    assert(ChunkManifest.exists(hfs(dst), dst))
  }

  test("the same through an HAMonitor recovery tick: the outage " +
    "re-copy commits beside a pinned reader of the served measurement") {
    val root = Files.createTempDirectory("graft_cmspec_ha").toString
    @volatile var slaveUp = true
    var now = S + 12 * Day
    val agent = new Agent(spark, AgentConfig(
      masterRoot = SparkSpec.Sf0001, slaveRoot = root,
      measRegex = "^events$", newDb = "replica", newRp = "rp30d",
      chunk = "120h", start = (S / 1000000000L).toString,
      end = (E / 1000000000L).toString, monitorRetryIntervalMs = 0L,
      initialReplication = "both",
      // the recovery window opens two days before the last OK probe,
      // so it straddles the newest chunk [S+10d, E)
      checkIntervalMs = 2 * 86400000L),
      slaveProbeOpt = Some(() => slaveUp), nowNs = () => now)
    val monitor = agent.hamonitor() // initial replication copies [S, E)
    val dst = s"$root/replica/rp30d/events.parquet"
    val job = new CopyJob(spark)
    // served write inside the window the recovery will re-copy
    job.upsertPoints(dst, overrideBatch(job, dst, 7.5, S + 10 * Day,
      S + 12 * Day), cfg(), keyCols = Seq("event_id")): Unit
    slaveUp = false
    now += 20000000000L
    assert(monitor.tick().state == ClusterState.CheckSlaveDown)
    val pinned = job.readCopied(dst)
    val before = rowsOf(pinned)
    assert(before.count(_._2 == 7.5) === 2)
    val failed = missingFileFailures {
      slaveUp = true
      now += 20000000000L
      val st = monitor.tick()
      assert(st.state == ClusterState.Ok && st.numRecovers == 1)
      assert(rowsOf(pinned) === before,
        "the pinned frame must still read the pre-recovery generations")
    }
    assert(failed === 0L, s"$failed missing-file task failures")
    val truth = Tables.withNsTime(
      Tables.timeRange(spark.read.parquet(src), "ts", S, E))
    assert(rowsOf(job.readCopied(dst)) === rowsOf(truth))
    assert(ChunkManifest.exists(hfs(dst), dst))
  }

  test("the committed _chunks v1 fixture reads to its State and " +
    "writes back byte for byte") {
    val fixture = getClass.getResource("/chunks_v1/_chunks")
    assert(fixture != null, "test resource chunks_v1/_chunks missing")
    val bytes = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(fixture.toURI))
    val dir = Files.createTempDirectory("graft_cmspec_fmt").toString
    java.nio.file.Files.write(java.nio.file.Paths.get(dir, "_chunks"),
      bytes): Unit
    val st = ChunkManifest.read(hfs(dir), dir)
    val (d0, d1, d2, d3) = (1704412800000000000L, 1704844800000000000L,
      1705276800000000000L, 1705708800000000000L)
    assert(st === Some(ChunkManifest.State(7L, Seq(
      ChunkManifest.ChunkRef(s"__bucket=${d0}_$d1", d0, d1),
      ChunkManifest.ChunkRef(s"__bucket=${d1}_${d2}_g7", d1, d2),
      ChunkManifest.ChunkRef(s"__bucket=${d2}_${d3}_g5", d2, d3)), Seq(
      ChunkManifest.Retired(s"__bucket=${d1}_${d2}_g6", 1760000000000L),
      ChunkManifest.Retired(s"__bucket=${d2}_$d3", 1759999990000L)))))
    val out = Files.createTempDirectory("graft_cmspec_fmt").toString
    ChunkManifest.write(hfs(out), out, st.get)
    assert(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(out, "_chunks")).toSeq === bytes.toSeq)
  }

  test("pinned readers survive concurrent served upserts: zero task " +
    "failures, zero exceptions, every read sees a committed state " +
    "(the r19 FILE_NOT_EXIST reader-vs-writer transient is closed)") {
    val dst = freshDst()
    val job = new CopyJob(spark)
    job.copyMeasurement(src, dst, cfg())
    // adopt snapshot management before the race starts
    job.upsertPoints(dst, overrideBatch(job, dst, 0.5), cfg(),
      keyCols = Seq("event_id")): Unit
    val total = job.readCopied(dst).count()
    val ids = overrideBatch(job, dst, 0.5)
      .select("event_id").collect().map(_.getLong(0)).toSeq
    // failures ATTRIBUTABLE to the write plane (missing file under a
    // rewritten chunk) — the shared session can see unrelated
    // task-kill events from neighboring suites' teardown
    val failedTasks = new java.util.concurrent.atomic.AtomicLong()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(
          te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
        val r = String.valueOf(te.reason)
        if (te.reason != org.apache.spark.Success &&
            (r.contains("FileNotFound") || r.contains("FILE_NOT_EXIST")))
          failedTasks.incrementAndGet(): Unit
      }
    }
    spark.sparkContext.addSparkListener(listener)
    val writes = 6
    val written = (1 to writes).map(i => 100.0 + i).toSet
    val readerErr =
      new java.util.concurrent.atomic.AtomicReference[Throwable]()
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val reader = new Thread(() => {
      try {
        while (!stop.get()) {
          val snap = job.readCopied(dst)
          // count is INVARIANT (the writer only overrides existing
          // points) and the overridden value must be a committed one
          assert(snap.count() === total)
          val vs = snap.filter(col("event_id").isin(ids: _*))
            .collect().map(_.getAs[Double]("value")).toSet
          assert(vs.size == 1 &&
            (vs.head == 0.5 || written.contains(vs.head)),
            s"read a torn state: $vs")
        }
      } catch { case t: Throwable => readerErr.set(t) }
    }, "cm-soak-reader")
    reader.start()
    try {
      for (i <- 1 to writes)
        job.upsertPoints(dst, overrideBatch(job, dst, 100.0 + i),
          cfg(), keyCols = Seq("event_id")): Unit
    } finally {
      stop.set(true); reader.join(60000)
      spark.sparkContext.removeSparkListener(listener)
    }
    assert(readerErr.get() == null,
      s"reader failed: ${Option(readerErr.get()).map(_.toString)}")
    assert(failedTasks.get() === 0L,
      s"${failedTasks.get()} task failures — the write plane must " +
        "not cost readers retries")
    val finalVals = job.readCopied(dst)
      .filter(col("event_id").isin(ids: _*))
      .collect().map(_.getAs[Double]("value")).toSet
    assert(finalVals === Set(100.0 + writes))
  }
}
