package graft

import java.nio.file.Files

import graft.agent.{Agent, AgentCli, AgentConfig}
import graft.operators.CopyJob
import graft.sources.Tables
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** E2E for the agent composition — the reference's four dispatchable
  * actions (/root/reference/pkg/main.go:293-306) plus startup retry
  * (agent.go:67-145) and the initial-replication policy
  * (agent.go:248-264). */
class AgentSpec extends AnyFunSuite {
  lazy val spark = SparkSpec.spark
  val S = 1704412800000000000L
  val E = 1705708800000000000L
  val Ssec = (S / 1000000000L).toString
  val Esec = (E / 1000000000L).toString

  def freshRoot(): String =
    Files.createTempDirectory("graft_agent").toString

  def cfg(dst: String): AgentConfig = AgentConfig(
    masterRoot = SparkSpec.Sf0001, slaveRoot = dst,
    measRegex = "^events$", newDb = "replica", newRp = "rp30d",
    chunk = "120h", start = Ssec, end = Esec,
    monitorRetryIntervalMs = 0L)

  /** A copied measurement's live chunk dirs, through its manifest. */
  def liveDirs(measDir: String): Seq[(java.io.File, Long, Long)] = {
    val fs = new org.apache.hadoop.fs.Path(measDir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    graft.operators.ChunkManifest.read(fs, measDir).toSeq.flatMap(_.live)
      .map(r => (new java.io.File(s"$measDir/${r.dir}"), r.startNs, r.endNs))
  }

  /** The live chunk dir spanning exactly `[s, e)`. */
  def liveDir(measDir: String, s: Long, e: Long): java.io.File =
    liveDirs(measDir).collectFirst { case (f, a, b) if a == s && b == e => f }
      .getOrElse(fail(s"no live chunk [$s, $e) in $measDir"))

  def directCount(): Long = Tables.timeRange(
    spark.read.parquet(s"${SparkSpec.Sf0001}/events.parquet"),
    "ts", S, E).count()

  test("fullcopy onto an empty root: renamed db/rp dirs + window-exact " +
    "data (SchCopy, agent.go:176-208)") {
    val dst = freshRoot()
    val agent = new Agent(spark, cfg(dst))
    val (created, reports) = agent.fullCopy()
    assert(created == Seq(("replica", "rp30d")))
    assert(reports.flatMap(_.chunks).forall(_.ok))
    // schema: _rp.json metadata created under the renamed path
    val meta = new graft.operators.SchemaReplicator(
      spark.sessionState.newHadoopConf())
      .readRpMeta(dst, "replica", "rp30d")
    assert(meta.exists(_.contains("\"rp30d\"")))
    // data: identical to the direct window scan
    val copied = new CopyJob(spark)
      .readCopied(s"$dst/replica/rp30d/events.parquet")
    assert(copied.count() == directCount())
    val diff = copied.select(col("event_id"))
      .except(Tables.timeRange(
        spark.read.parquet(s"${SparkSpec.Sf0001}/events.parquet"),
        "ts", S, E).select(col("event_id"))).count()
    assert(diff == 0)
    // dispatch path + idempotent re-run
    agent.dispatch("fullcopy")
    assert(new CopyJob(spark)
      .readCopied(s"$dst/replica/rp30d/events.parquet")
      .count() == directCount())
  }

  test("copy action respects -meas regex and windows (agent.go:210-240)") {
    val dst = freshRoot()
    val agent = new Agent(spark, cfg(dst))
    val reports = agent.copy()
    assert(reports.map(_.totalPoints).sum == directCount())
    // only events was copied (regex pruned the other 9 tables)
    val fs = new java.io.File(s"$dst/replica/rp30d")
    assert(fs.listFiles().map(_.getName).toSet == Set("events.parquet"))
  }

  test("hierarchical source root: copy walks db/rp/measurement tree " +
    "with renames (ReplicateData over GetSchema, hacluster.go:213-234)") {
    // build db1/rp1/events from the flat testdata
    val srcRoot = freshRoot()
    val ev = spark.read.parquet(s"${SparkSpec.Sf0001}/events.parquet")
    ev.write.mode("overwrite").parquet(s"$srcRoot/db1/rp1/events.parquet")
    val dst = freshRoot()
    val agent = new Agent(spark, AgentConfig(
      masterRoot = srcRoot, slaveRoot = dst,
      newDb = "db1r", newRp = "rpr", chunk = "120h",
      start = Ssec, end = Esec, monitorRetryIntervalMs = 0L))
    val (created, reports) = agent.fullCopy()
    assert(created == Seq(("db1r", "rpr")))
    assert(reports.flatMap(_.chunks).forall(_.ok))
    val copied = new CopyJob(spark)
      .readCopied(s"$dst/db1r/rpr/events.parquet")
    assert(copied.count() == directCount())
  }

  test("verifyAfterCopy + -action verify: clean copies verify, a " +
    "tampered replica is reported and fails the verify action") {
    val dst = freshRoot()
    val agent = new Agent(spark, cfg(dst).copy(verifyAfterCopy = true))
    val reports = agent.copy()
    assert(reports.flatMap(_.chunks).forall(_.ok))
    assert(reports.forall(_.verified)) // agent-level gate: no mismatches
    assert(agent.verify().forall(_._2.isEmpty)) // verify action: clean
    // tamper the replica → the verify action reports the bad chunks and
    // the dispatch path fails loudly
    val part = liveDirs(s"$dst/replica/rp30d/events.parquet").head._1
    part.listFiles().filter(_.getName.endsWith(".parquet"))
      .foreach(f => f.delete(): Unit)
    val bad = agent.verify().filter(_._2.nonEmpty)
    assert(bad.nonEmpty)
    assert(bad.head._1 == "replica/rp30d")
    intercept[IllegalArgumentException] { agent.dispatch("verify") }
  }

  test("-action diffsync: repairs only the tampered measurement chunk; " +
    "-action retention: expires per the replicated _rp.json duration") {
    val dst = freshRoot()
    // fixed 'now' just past the window end → a 10-day retention keeps
    // [E - 10d, E) and expires the first 5 days of the 15-day window
    val Day = 86400000000000L
    val now = E + Day
    val agent = new Agent(spark, cfg(dst), nowNs = () => now)
    agent.fullCopy()
    val measDir = s"$dst/replica/rp30d/events.parquet"
    // diffsync on a clean replica: no chunk repaired anywhere
    assert(agent.diffSync().forall(_._2.isEmpty))
    // destroy one 120h chunk partition, then diffsync repairs JUST it
    val victim = liveDir(measDir, S + 5 * Day, S + 10 * Day)
    assert(victim.exists())
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles()).getOrElse(Array.empty).foreach(rm)
      f.delete(): Unit
    }
    rm(victim)
    val repaired = agent.diffSync()
    assert(repaired.map(_._1) === Seq("replica/rp30d"))
    assert(repaired.head._2.map(c => (c.startNs, c.endNs)) ===
      Seq((S + 5 * Day, S + 10 * Day)))
    assert(new CopyJob(spark).readCopied(measDir).count() ===
      directCount())
    // rewrite the replicated _rp.json with a finite 10-day duration —
    // the metadata -action retention enforces
    val repl = new graft.operators.SchemaReplicator(
      spark.sessionState.newHadoopConf())
    val meta = repl.readRpMeta(dst, "replica", "rp30d").get
    // rewrite through the Hadoop FS API (java.nio would desync the
    // LocalFileSystem's .crc sidecar)
    def writeMeta(s: String): Unit = {
      val p = new org.apache.hadoop.fs.Path(
        s"$dst/replica/rp30d/_rp.json")
      val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
      val out = fs.create(p, true)
      try out.write(s.getBytes("UTF-8")) finally out.close()
    }
    writeMeta(meta.replaceFirst(""""duration_ns":\d+""",
      s""""duration_ns":${10 * Day}"""))
    val enforced = agent.retention()
    assert(enforced.map(_._1) === Seq("replica/rp30d"))
    val cutoff = now - 10 * Day
    val after = new CopyJob(spark).readCopied(measDir)
    assert(after.filter(col("ts") < cutoff).count() === 0L)
    assert(after.count() === Tables.timeRange(
      spark.read.parquet(s"${SparkSpec.Sf0001}/events.parquet"),
      "ts", cutoff, E).count())
    // infinite duration (0) is skipped: restore and re-run → no-op
    writeMeta(meta)
    assert(agent.retention().isEmpty)
    // -action compact: after one pass every partition holds ONE data
    // file, content survives (count unchanged), and a re-run is a no-op
    val countBefore = new CopyJob(spark).readCopied(measDir).count()
    agent.compact(): Unit
    val perPart = liveDirs(measDir)
      .map(_._1.listFiles().count(_.getName.endsWith(".parquet")))
    assert(perPart.nonEmpty && perPart.forall(_ === 1))
    assert(new CopyJob(spark).readCopied(measDir).count() === countBefore)
    assert(agent.compact().isEmpty)
  }

  test("-action maintain: diffsync→compact→retention as one composed " +
    "action — repairs the damaged chunk, expires per metadata, and a " +
    "second run is a verified no-op (exactly-once convergence)") {
    val dst = freshRoot()
    val Day = 86400000000000L
    val now = E + Day
    val agent = new Agent(spark, cfg(dst), nowNs = () => now)
    agent.fullCopy()
    val measDir = s"$dst/replica/rp30d/events.parquet"
    // finite 10-day retention → cutoff = S + 6d (mid-chunk of the
    // 120h tiling [S,S+5d)[S+5d,S+10d)[S+10d,E): one whole drop, one
    // trim, one untouched span)
    val repl = new graft.operators.SchemaReplicator(
      spark.sessionState.newHadoopConf())
    val meta = repl.readRpMeta(dst, "replica", "rp30d").get
    val p = new org.apache.hadoop.fs.Path(s"$dst/replica/rp30d/_rp.json")
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val out = fs.create(p, true)
    try out.write(meta.replaceFirst(""""duration_ns":\d+""",
      s""""duration_ns":${10 * Day}""").getBytes("UTF-8"))
    finally out.close()
    // destroy the NEWEST chunk (above the cutoff → the repair leg
    // must restore it; the expired spans must NOT be re-copied)
    val victim = liveDir(measDir, S + 10 * Day, E)
    assert(victim.exists())
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles()).getOrElse(Array.empty).foreach(rm)
      f.delete(): Unit
    }
    rm(victim)
    val r1 = agent.maintain()
    assert(r1.map(_.dbRp) === Seq("replica/rp30d"))
    assert(r1.head.repaired.map(c => (c.startNs, c.endNs)) ===
      Seq((S + 10 * Day, E)))
    assert(r1.head.dropped === Seq((S, S + 5 * Day)))
    assert(r1.head.trimmed.nonEmpty)
    val cutoff = now - 10 * Day
    val after = new CopyJob(spark).readCopied(measDir)
    assert(after.filter(col("ts") < cutoff).count() === 0L)
    assert(after.count() === Tables.timeRange(
      spark.read.parquet(s"${SparkSpec.Sf0001}/events.parquet"),
      "ts", cutoff, E).count())
    // convergence: the second pass touches NOTHING — the clamped
    // repair window sees the trimmed partition under its clamped span
    val r2 = agent.maintain()
    assert(r2.map(_.dbRp) === Seq("replica/rp30d"))
    assert(r2.head.repaired.isEmpty && r2.head.dropped.isEmpty &&
      r2.head.trimmed.isEmpty,
      s"second maintain pass was not a no-op: ${r2.head}")
    assert(new CopyJob(spark).readCopied(measDir).count() ===
      after.count())
    agent.dispatch("maintain") // CLI parity
  }

  test("initCluster blocks until both probes alive; bounded retry " +
    "budget reports failure (agent.go:67-145)") {
    var masterFails = 2
    val agent = new Agent(spark, cfg(freshRoot()),
      masterProbeOpt = Some(() =>
        if (masterFails > 0) { masterFails -= 1; false } else true),
      slaveProbeOpt = Some(() => true))
    assert(agent.initCluster(maxAttempts = 5))
    assert(masterFails == 0) // retried through the failures
    val never = new Agent(spark, cfg(freshRoot()),
      masterProbeOpt = Some(() => false),
      slaveProbeOpt = Some(() => true))
    assert(!never.initCluster(maxAttempts = 3))
  }

  test("hamonitor: initial replication policy 'both', then FSM recovery " +
    "backfills the outage window (agent.go:242-271, hacluster.go:305-342)") {
    val dst = freshRoot()
    @volatile var slaveUp = true
    var now = E // virtual clock starts at window end
    val agent = new Agent(spark,
      cfg(dst).copy(initialReplication = "both"),
      slaveProbeOpt = Some(() => slaveUp),
      nowNs = () => now)
    val monitor = agent.hamonitor()
    // initial replication happened before the monitor started
    assert(new CopyJob(spark)
      .readCopied(s"$dst/replica/rp30d/events.parquet")
      .count() == directCount())
    // outage: slave down for one supervisor period
    slaveUp = false
    now += 20000000000L // +20s
    monitor.tick()
    assert(monitor.state.state == graft.model.ClusterState.CheckSlaveDown)
    // revive → RECOVERING → backfill runs → OK with numRecovers=1
    slaveUp = true
    now += 20000000000L
    monitor.tick()
    assert(monitor.state.state == graft.model.ClusterState.Ok)
    assert(monitor.state.numRecovers == 1)
    // backfill re-copy stayed idempotent
    assert(new CopyJob(spark)
      .readCopied(s"$dst/replica/rp30d/events.parquet")
      .count() == directCount())
  }

  test("CQ catalog: CREATE persists to _cq.json, hamonitor ticks " +
    "re-run it incrementally (watermark advances exactly-once, no " +
    "duplication), DROP unregisters, SHOW lists") {
    import graft.operators.ContinuousQuery
    import graft.ql.{InfluxQl, QlPlanner, QlShow}
    val Day = 86400000000000L
    // PRIVATE master copy — the new-data phase below appends to it,
    // and the shared /root/testdata fixture is read-only
    val master = freshRoot()
    spark.read.parquet(s"${SparkSpec.Sf0001}/events.parquet")
      .write.parquet(s"$master/events.parquet")
    val dst = freshRoot()
    var now = E
    val agent = new Agent(spark,
      cfg(dst).copy(masterRoot = master, initialReplication = "none"),
      slaveProbeOpt = Some(() => true), nowNs = () => now)
    val monitor = agent.hamonitor()
    val svc = agent.cqService
    val dailyText = """create continuous query "daily" on "default" """ +
      """begin select count(value), sum(value) into "daily_rollup" """ +
      """from "events" group by time(1d), event_type end"""
    svc.register(dailyText)
    assert(new java.io.File(s"$dst/_cq.json").exists())
    // re-registering the same name is last-wins: still exactly one
    // catalog entry (InfluxDB refuses duplicates; overwrite is our
    // pinned deviation — it makes re-registration idempotent)
    svc.register(dailyText)
    assert(svc.list.map(_._1) === Seq("daily"))
    val wm = svc.watermarkOf("daily_rollup")
    assert(wm > 0)
    val cq = new ContinuousQuery(spark)
    val count0 = cq.readRollup(s"$dst/daily_rollup.parquet").count()
    assert(count0 > 0)
    // two supervisor ticks: each re-runs the registered CQ through
    // the incremental refresh — only lookback buckets recompute, the
    // watermark does NOT move (no new raw data), nothing duplicates
    now += 20000000000L; monitor.tick()
    now += 20000000000L; monitor.tick()
    assert(svc.watermarkOf("daily_rollup") === wm)
    val roll = cq.readRollup(s"$dst/daily_rollup.parquet")
    assert(roll.count() === count0)
    // content identity with the one-shot aggregate after the ticks
    val ev = Tables.load(spark, master, "events")
    val want = ev.groupBy(col("event_type"),
        (col("ts") - pmod(col("ts"), lit(Day))).as("bucket_ns"))
      .agg(count(lit(1)).as("n_points"))
    val got = roll.select(col("event_type"), col("bucket_ns"),
      col("n_points"))
    assert(got.except(want).isEmpty && want.except(got).isEmpty)
    // new raw data → the next tick advances the watermark ONCE and
    // integrates the late bucket incrementally
    val extraTs = wm + Day
    val src0 = spark.read.parquet(s"$master/events.parquet")
    src0.limit(1) // clone one row: full schema identity guaranteed
      .withColumn("ts",
        expr(s"timestamp_micros(${extraTs / 1000}L)")
          .cast(src0.schema("ts").dataType))
      .withColumn("event_type", lit("late"))
      .write.mode("append").parquet(s"$master/events.parquet")
    now += 20000000000L; monitor.tick()
    val wmExpect = (extraTs / 1000) * 1000 // µs-storage granularity
    assert(svc.watermarkOf("daily_rollup") === wmExpect)
    now += 20000000000L; monitor.tick() // stable again
    assert(svc.watermarkOf("daily_rollup") === wmExpect)
    assert(cq.readRollup(s"$dst/daily_rollup.parquet")
      .filter(col("event_type") === "late").count() === 1)
    // SHOW CONTINUOUS QUERIES lists the registration
    val shown = QlPlanner.planShow(
      InfluxQl.parseStatement("show continuous queries")
        .asInstanceOf[QlShow], spark, dst)
    assert(shown.select("name").collect().map(_.getString(0)).toSeq
      === Seq("daily"))
    // DROP unregisters (rollup DATA stays — that is DROP MEASUREMENT)
    assert(svc.drop("daily"))
    assert(QlPlanner.planShow(
      InfluxQl.parseStatement("show continuous queries")
        .asInstanceOf[QlShow], spark, dst).count() === 0)
    assert(cq.readRollup(s"$dst/daily_rollup.parquet").count() >= count0)
    assert(!svc.drop("daily"))
  }

  test("backfillOk: an empty/absent master schema mid-recovery is " +
    "FAILURE — vacuous success would advance lastOK and forget the " +
    "outage window") {
    val missingMaster = freshRoot() + "/never_created"
    val agent = new Agent(spark,
      cfg(freshRoot()).copy(masterRoot = missingMaster),
      masterProbeOpt = Some(() => true), // probe lies: storage looks up
      slaveProbeOpt = Some(() => true))
    assert(!agent.backfillOk(
      graft.streaming.ClusterFSM.RecoveryWindow(S, E)))
  }

  test("-full window: retention-clamped full history per RP " +
    "(GetFirstLastTime, client.go:24-38)") {
    val now = 1000L * 86400L * 1000000000L // day 1000
    val agent = new Agent(spark,
      cfg(freshRoot()).copy(full = true, start = "", end = "",
        maxRetention = "240h"), // 10 days
      nowNs = () => now)
    val day = 86400000000000L
    // infinite RP (duration 0) clamps to max-retention
    val inf = graft.model.RetentionPolicy("rp", 0L, 0L, 1, isDefault = true)
    assert(agent.resolveWindow(inf) == (now - 10 * day, now))
    // finite RP shorter than max-retention wins
    val week = inf.copy(durationNs = 7 * day)
    assert(agent.resolveWindow(week) == (now - 7 * day, now))
    // finite RP longer than max-retention is clamped
    val year = inf.copy(durationNs = 365 * day)
    assert(agent.resolveWindow(year) == (now - 10 * day, now))
  }

  test("fs probe: alive for existing and not-yet-created roots on live " +
    "storage, dead for unreachable storage") {
    assert(Agent.fsProbe(spark, SparkSpec.Sf0001)())
    // a fresh destination root is alive (server up, db not created yet)
    assert(Agent.fsProbe(spark, "/tmp/graft_probe_not_created_yet")())
    // unresolvable storage is dead
    assert(!Agent.fsProbe(spark, "hdfs://graft-nonexistent-host:1/x")())
  }

  test("CLI flag surface parses (main.go:77-119)") {
    val (action, c) = AgentCli.parse(Array(
      "-action", "fullcopy", "-master", "/m", "-slave", "/s",
      "-db", "d.*", "-rp", "r.*", "-meas", "events",
      "-newdb", "nd", "-newrp", "nr", "-chunk", "30m",
      "-start", "-24h", "-end", "1700000000", "-full"))
    assert(action == "fullcopy")
    assert(c.masterRoot == "/m" && c.slaveRoot == "/s")
    assert(c.dbRegex == "d.*" && c.rpRegex == "r.*" && c.measRegex == "events")
    assert(c.newDb == "nd" && c.newRp == "nr" && c.chunk == "30m")
    assert(c.start == "-24h" && c.end == "1700000000" && c.full)
    intercept[IllegalArgumentException] {
      AgentCli.parse(Array("-bogus", "x"))
    }
    intercept[IllegalArgumentException] {
      AgentCli.parse(Array("-action", "copy")) // missing roots
    }
  }

  test("-version / -logmode / -logs / -v..-vvv flags (main.go:79,94-103)") {
    // -version needs no roots and wins over -action (reference checks
    // it before anything else); the banner prints version + spark
    val (va, _) = AgentCli.parse(Array("-version"))
    assert(va == "version")
    val (va2, _) = AgentCli.parse(Array("-action", "copy", "-version"))
    assert(va2 == "version")
    // …and order-independent: -version FIRST must not be overwritten
    // by a later -action (nor trip the missing-roots require)
    val (va3, _) = AgentCli.parse(Array("-version", "-action", "copy"))
    assert(va3 == "version")
    // …and checked BEFORE the config file is touched: a bad -config
    // path must not crash the version banner (reference checks
    // -version before config load)
    val (va4, _) = AgentCli.parse(
      Array("-version", "-config", "/nonexistent_graft.toml"))
    assert(va4 == "version")
    // …but a flag VALUE spelled "-version" is a regex, not a version
    // request (the scan walks flag positions — pins ValueFlags in
    // sync with the parse loop's grammar)
    val (vaVal, cVal) = AgentCli.parse(Array(
      "-master", "/m", "-slave", "/s", "-db", "-version"))
    assert(vaVal == "hamonitor" && cVal.dbRegex == "-version")
    // …and an UNKNOWN flag before -version doesn't swallow it as its
    // value: version-beats-everything holds even on otherwise-invalid
    // command lines (the scan treats unknown -tokens as valueless)
    val (vaTypo, _) = AgentCli.parse(Array("-typo", "-version"))
    assert(vaTypo == "version")
    assert(AgentCli.versionString.matches("graft v.+ \\(spark .+\\)"),
      AgentCli.versionString)
    // `-version` prints and exits before any Spark/pidfile setup
    val outBuf = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(outBuf)) {
      AgentCli.main(Array("-version"))
    }
    assert(outBuf.toString.contains("graft v"), outBuf.toString)
    val (_, c) = AgentCli.parse(Array(
      "-master", "/m", "-slave", "/s",
      "-logmode", "file", "-logs", "/tmp/graft_logs", "-vv"))
    assert(c.logMode == "file" && c.logDir == "/tmp/graft_logs")
    assert(c.logLevel == "DEBUG")
    intercept[IllegalArgumentException] {
      AgentCli.parse(Array("-master", "/m", "-slave", "/s",
        "-logmode", "syslog"))
    }
  }

  test("unknown action throws (main.go:304-305 analog)") {
    val agent = new Agent(spark, cfg(freshRoot()))
    intercept[IllegalArgumentException] { agent.dispatch("move") }
  }

  test("-action stream: continuous replication converges while files " +
    "land in the master root; a restart resumes from the checkpoint " +
    "with no duplicates (exactly-once + watermark dedup)") {
    import java.nio.charset.StandardCharsets
    import java.nio.file.{Files, Paths}
    def minuteNs(m: Long): Long = m * 60L * 1000000000L
    val master = Files.createTempDirectory("graft_stream_m").toString
    val slave = Files.createTempDirectory("graft_stream_s").toString
    val ckpt = Files.createTempDirectory("graft_stream_c").toString
    def land(name: String, lines: Seq[String]): Unit =
      Files.write(Paths.get(master, name),
        lines.mkString("\n").getBytes(StandardCharsets.UTF_8)): Unit
    val agent = new Agent(spark, AgentConfig(
      masterRoot = master, slaveRoot = slave, checkpointDir = ckpt,
      streamTags = "host", streamFields = "v:float",
      monitorRetryIntervalMs = 0L))
    land("b0.lp", Seq(s"m,host=h1 v=1.0 ${minuteNs(10)}"))
    val q = agent.stream()
    try {
      q.processAllAvailable()
      // live convergence: more files land while the daemon runs,
      // including a replayed duplicate of the first point
      land("b1.lp", Seq(
        s"m,host=h1 v=1.0 ${minuteNs(10)}", // duplicate → dropped
        s"m,host=h2 v=2.0 ${minuteNs(11)}"))
      q.processAllAvailable()
    } finally q.stop()
    assert(spark.read.parquet(slave).count() == 2)
    // restart: same checkpoint — b0/b1 are not reprocessed, the new
    // file is, so the slave ends exact (no duplicates from replay)
    land("b2.lp", Seq(s"m,host=h1 v=3.0 ${minuteNs(12)}"))
    val q2 = agent.stream()
    try q2.processAllAvailable() finally q2.stop()
    val got = spark.read.parquet(slave)
    assert(got.count() == 3)
    assert(got.select("time_ns").collect().map(_.getLong(0)).sorted
      .toSeq == Seq(minuteNs(10), minuteNs(11), minuteNs(12)))
  }

  test("session bootstrap auto-registers the SQL function surface — " +
    "spark.sql users get the graft functions without calling register") {
    // newSession() = fresh function registry (only built-ins survive):
    // proves the bootstrap is what makes the names resolve
    val fresh = Sessions.bootstrap(spark.newSession())
    val row = fresh.sql(
      """SELECT size(minhash_sig('a b c d e', 8, 3)) AS k,
               simhash('a b c') AS sh,
               sorted_intersect_count(array('a','b'), array('b','c')) AS n,
               vec_dot(array(1.0d, 2.0d), array(3.0d, 4.0d)) AS d,
               vec_normsq(array(3.0d, 4.0d)) AS nsq""").collect()(0)
    assert(row.getInt(0) == 8)
    assert(row.getLong(2) == 1L)
    assert(row.getDouble(3) == 11.0)
    assert(row.getDouble(4) == 25.0)
    // an unregistered fresh session must NOT resolve them
    intercept[Exception] {
      spark.newSession().sql("SELECT simhash('x')").collect()
    }
  }

  test("-action curate: config-driven corpus curation end to end — " +
    "filters, exact dedup, and split label applied; CLI flag parity " +
    "with the config keys") {
    val s = spark
    import s.implicits._
    val src = java.nio.file.Files
      .createTempDirectory("graft_curate_src").toString
    val dst = java.nio.file.Files
      .createTempDirectory("graft_curate_dst").toString
    Seq(
      (1L, "alpha beta", "en", 10L), (2L, "alpha beta", "en", 10L),
      (3L, "tiny", "en", 3L), (4L, "lang out", "zz", 10L),
      (5L, "keeper text", "en", 11L))
      .toDF("doc_id", "text", "lang", "n_chars")
      .write.mode("overwrite").parquet(src)
    val agent = new Agent(spark, AgentConfig(
      masterRoot = src, slaveRoot = dst,
      curateMinChars = "5", curateLangs = "en",
      curateDedupe = true, curateSplit = true))
    val (nIn, nOut) = agent.curate()
    assert(nIn === 5L)
    // doc 3 (too short), doc 4 (lang), doc 2 (dup of 1) drop
    assert(nOut === 2L)
    val out = spark.read.parquet(s"$dst/curated")
      .select("doc_id", "split").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out.keySet === Set(1L, 5L))
    assert(out.values.forall(Set("train", "validation", "test")))
    // the CLI flags land on the same config fields
    val (action, c) = AgentCli.parse(Array(
      "-action", "curate", "-master", src, "-slave", dst,
      "-curate-minchars", "5", "-curate-langs", "en,de",
      "-curate-dedupe", "-curate-sample", "30/100", "-curate-split"))
    assert(action === "curate")
    assert(c.curateMinChars === "5" && c.curateLangs === "en,de")
    assert(c.curateDedupe && c.curateSplit)
    assert(c.curateSample === "30/100")
  }

  test("r16 daemon rewind wiring: a /write backfill through the " +
    "daemon's SHARED data plane reaches the rollup on the next " +
    "supervisor tick alone — hamonitor's onTick drains the same " +
    "WriteService the status server writes through") {
    import graft.operators.ContinuousQuery
    val Day = 86400000000000L
    val master = freshRoot()
    spark.read.parquet(s"${SparkSpec.Sf0001}/events.parquet")
      .write.parquet(s"$master/events.parquet")
    val dst = freshRoot()
    var now = E
    val agent = new Agent(spark,
      cfg(dst).copy(masterRoot = master, initialReplication = "none"),
      slaveProbeOpt = Some(() => true), nowNs = () => now)
    val monitor = agent.hamonitor()
    val dp = agent.daemonPlane
    // a SERVED measurement: born via /write, lives only under dst —
    // runAll's source resolution reads the served plane for it
    val t1 = S + 20 * Day
    assert(dp.write(s"served,host=h1 value=1.5 $t1", None, 1L) == 1L)
    // registerOnly: statement validation now, first materialization
    // on the tick (register() would refresh against the master root,
    // where the served measurement does not exist)
    agent.cqService.registerOnly(
      """create continuous query "sc" begin select count(value) """ +
        """into "served_rollup" from "served" group by time(1d) end""")
    now += 20000000000L; monitor.tick()
    val cq = new ContinuousQuery(spark)
    def buckets = cq.readRollup(s"$dst/served_rollup.parquet")
      .select("bucket_ns").collect().map(_.getLong(0)).toSet
    assert(buckets === Set(t1 - t1 % Day))
    // backfill TEN DAYS behind the watermark — far outside any
    // lookback; without the tick-side drain this bucket never appears
    val tOld = t1 - 10 * Day
    assert(dp.write(s"served,host=h1 value=2.5 $tOld", None, 1L) == 1L)
    assert(!buckets.contains(tOld - tOld % Day),
      "backfill bucket must not appear before the tick")
    now += 20000000000L; monitor.tick()
    assert(buckets === Set(t1 - t1 % Day, tOld - tOld % Day))
    // the drain is exactly-once: a further tick changes nothing
    now += 20000000000L; monitor.tick()
    assert(buckets === Set(t1 - t1 % Day, tOld - tOld % Day))
  }

  test("r16 write-through invalidation: an upsert into an EXISTING " +
    "measurement drops the cached ql catalog inside the TTL window " +
    "(the stale cache held file indexes of rewritten chunk parts)") {
    val Day = 86400000000000L
    val master = freshRoot()
    spark.read.parquet(s"${SparkSpec.Sf0001}/events.parquet")
      .write.parquet(s"$master/events.parquet")
    val dst = freshRoot()
    val agent = new Agent(spark,
      cfg(dst).copy(masterRoot = master, initialReplication = "none",
        checkIntervalMs = 3600000L), // 1h TTL: no refresh-by-timeout
      slaveProbeOpt = Some(() => true))
    val dp = agent.daemonPlane
    assert(dp.write(s"m1,host=a value=1 ${S + Day}", None, 1L) == 1L)
    val cat1 = dp.liveCatalog()
    assert(cat1.exists(_.name == "m1"))
    assert(dp.liveCatalog() eq cat1, "TTL cache must hold between reads")
    // upsert into the EXISTING measurement (no auto-create involved)
    assert(dp.write(s"m1,host=a value=2 ${S + 2 * Day}", None, 1L) == 1L)
    val cat2 = dp.liveCatalog()
    assert(cat2 ne cat1,
      "write into an existing measurement must invalidate the cache")
    assert(cat2.find(_.name == "m1").get.df.count() == 2L)
  }

  test("catalog freshness: a /write into a known measurement rebuilds " +
    "only that catalog entry (zero walks, untouched entries keep their " +
    "identity); auto-create, DDL over /query, an entry-less path and " +
    "the TTL still re-walk, and a rebuild keeps the TTL clock") {
    val Day = 86400000000000L
    val dst = freshRoot()
    val agent = new Agent(spark,
      cfg(dst).copy(initialReplication = "none", allowMutations = true,
        checkIntervalMs = 3600000L), // 1h TTL: no refresh-by-timeout
      slaveProbeOpt = Some(() => true))
    val dp = agent.daemonPlane
    val srv = agent.statusServer(() => graft.model.ClusterStatus("OK",
      0L, 0L, masterState = true, masterLastOkNs = 1L,
      slaveState = true, slaveLastOkNs = 1L))
    srv.start()
    try {
      val client = java.net.http.HttpClient.newHttpClient()
      def ddl(q: String): Int = client.send(
        java.net.http.HttpRequest.newBuilder(java.net.URI.create(
          s"http://127.0.0.1:${srv.boundPort}/query?q=" +
            java.net.URLEncoder.encode(q, "UTF-8")))
          .timeout(java.time.Duration.ofSeconds(60)).GET().build(),
        java.net.http.HttpResponse.BodyHandlers.ofString()).statusCode()
      def entry(m: String) = dp.liveCatalog().find(_.name == m)
      def write(m: String, ts: Long) =
        assert(dp.write(s"$m,host=a value=1 $ts", Some("db"), 1L) == 1L)
      val t = S + Day
      assert(ddl("CREATE DATABASE db") == 200)
      write("m1", t); write("m2", t)
      val m2 = entry("m2").get
      val walks = dp.catalogWalks
      for (k <- 1 to 3) {
        write("m1", t + k)
        assert(entry("m1").get.df.count() == k + 1L)
        assert(entry("m2").get eq m2,
          "an entry the batch did not touch must keep its identity")
      }
      // the rebuild reads with the schema the write handed over: it
      // launches no Spark job (a footer inference would launch one)
      write("m1", t + 10)
      val sc = spark.sparkContext
      val rebuildJobs = new java.util.concurrent.atomic.AtomicInteger()
      val drained = new java.util.concurrent.CountDownLatch(1)
      val listener = new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          Option(js.properties).map(_.getProperty("spark.jobGroup.id")) match {
            case Some("rebuild") => rebuildJobs.incrementAndGet(): Unit
            case Some("sentinel") => drained.countDown()
            case _ =>
          }
      }
      sc.addSparkListener(listener)
      try {
        sc.setJobGroup("rebuild", "catalog entry rebuild")
        dp.liveCatalog(): Unit
        sc.setJobGroup("sentinel", "listener bus drain")
        sc.parallelize(Seq(1)).count(): Unit
        // the bus delivers in order: once the sentinel's start lands,
        // every job the rebuild launched has been counted
        assert(drained.await(60, java.util.concurrent.TimeUnit.SECONDS))
      } finally {
        sc.clearJobGroup()
        sc.removeSparkListener(listener)
      }
      assert(rebuildJobs.get() == 0,
        s"the entry rebuild launched ${rebuildJobs.get()} Spark jobs")
      assert(entry("m1").get.df.count() == 5L)
      assert(dp.catalogWalks == walks,
        "writes into known measurements must add zero catalog walks")
      // auto-create: exactly one walk
      write("m3", t)
      assert(entry("m3").nonEmpty && dp.catalogWalks == walks + 1)
      // a measurement landed behind the daemon's back (another
      // writer on the root): its first daemon /write marks a path the
      // catalog has no entry for, which re-walks
      new graft.api.WriteService(spark, dst)
        .write(s"m4,host=a value=1 $t", Some("db")): Unit
      write("m4", t + 1)
      assert(entry("m4").get.df.count() == 2L)
      assert(dp.catalogWalks == walks + 2)
      // DDL over /query drops the whole catalog
      assert(ddl("CREATE DATABASE db2") == 200)
      assert(entry("m2").nonEmpty && dp.catalogWalks == walks + 3)
    } finally srv.stop()

    // TTL expiry still re-walks, timed from the walk: a rebuild inside
    // the window must not restart the clock (a TTL well past one
    // upsert, so the rebuild lands inside the window on a slow host)
    val ttlMs = 15000L
    val dp2 = new Agent(spark,
      cfg(dst).copy(initialReplication = "none",
        checkIntervalMs = ttlMs),
      slaveProbeOpt = Some(() => true)).daemonPlane
    val tWalk = System.currentTimeMillis()
    dp2.liveCatalog(): Unit
    val w2 = dp2.catalogWalks
    assert(dp2.write(s"m1,host=a value=1 ${S + Day + 9}", Some("db"),
      1L) == 1L)
    val tRefresh = System.currentTimeMillis()
    assert(tRefresh - tWalk < ttlMs,
      s"the upsert took ${tRefresh - tWalk} ms, past the $ttlMs ms TTL")
    assert(dp2.liveCatalog().find(_.name == "m1").get.df.count() == 6L)
    assert(dp2.catalogWalks == w2, "a rebuild must not walk")
    Thread.sleep(math.max(0L,
      tWalk + ttlMs + 500L - System.currentTimeMillis()))
    dp2.liveCatalog(): Unit
    assert(dp2.catalogWalks == w2 + 1,
      "the TTL must expire from the last walk, not the last rebuild")
  }

  test("catalog freshness: a supervisor tick that refreshes a listed " +
    "rollup marks its entry, so the served rollup moves without a " +
    "walk or the TTL") {
    val Day = 86400000000000L
    val master = freshRoot()
    spark.read.parquet(s"${SparkSpec.Sf0001}/events.parquet")
      .write.parquet(s"$master/events.parquet")
    val dst = freshRoot()
    var now = E
    val agent = new Agent(spark,
      cfg(dst).copy(masterRoot = master, initialReplication = "none",
        checkIntervalMs = 3600000L), // 1h TTL: no refresh-by-timeout
      slaveProbeOpt = Some(() => true), nowNs = () => now)
    val monitor = agent.hamonitor()
    val dp = agent.daemonPlane
    val t1 = S + 20 * Day
    assert(dp.write(s"src,host=h1 value=1.5 $t1", None, 1L) == 1L)
    agent.cqService.registerOnly(
      """create continuous query "rc" begin select count(value) """ +
        """into "src_roll" from "src" group by time(1d) end""")
    now += 20000000000L; monitor.tick()
    def rollRows = dp.liveCatalog().find(_.name == "src_roll").get
      .df.count()
    assert(rollRows == 1L)
    val walks = dp.catalogWalks
    // a backfill into an older day: the next tick rewinds the CQ and
    // commits a new rollup generation with a second bucket
    val tOld = t1 - 10 * Day
    assert(dp.write(s"src,host=h1 value=2.5 $tOld", None, 1L) == 1L)
    now += 20000000000L; monitor.tick()
    assert(rollRows == 2L,
      "the served rollup must see the tick's new generation")
    assert(dp.catalogWalks == walks,
      "a rollup refresh must rebuild its entry, not walk")
  }

  test("catalog freshness: a /write batch that fails part-way still " +
    "refreshes the measurements it committed before the failure") {
    val Day = 86400000000000L
    val dst = freshRoot()
    val agent = new Agent(spark,
      cfg(dst).copy(initialReplication = "none",
        checkIntervalMs = 3600000L), // 1h TTL: no refresh-by-timeout
      slaveProbeOpt = Some(() => true))
    val dp = agent.daemonPlane
    assert(dp.write(s"a,host=h value=1 ${S + Day}", None, 1L) == 1L)
    assert(dp.write(s"b,host=h value=1 ${S + Day}", None, 1L) == 1L)
    val warm = dp.liveCatalog()
    assert(warm.find(_.name == "a").get.df.count() == 1L)
    // b's manifest claims a format newer than this binary: the batch
    // commits a (name order), then ChunkManifest.read refuses b
    val fs = new org.apache.hadoop.fs.Path(dst)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val mp = graft.operators.ChunkManifest.manifestPath(s"$dst/b.parquet")
    val txt = {
      val in = fs.open(mp)
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
    }
    assert(txt.startsWith("manifest=1\n"))
    val out = fs.create(mp, true)
    try out.write(("manifest=99\n" + txt.stripPrefix("manifest=1\n"))
      .getBytes("UTF-8"))
    finally out.close()
    val err = intercept[IllegalArgumentException](dp.write(
      s"a,host=h value=2 ${S + 2 * Day}\nb,host=h value=2 ${S + 2 * Day}",
      None, 1L))
    assert(err.getMessage.contains("format v99"))
    val cat = dp.liveCatalog()
    assert(cat.find(_.name == "a").get.df.count() == 2L,
      "the committed half of a failed batch must be visible")
    assert(cat.find(_.name == "b").get eq warm.find(_.name == "b").get)
  }

  test("catalog freshness: read-your-writes under racing /write " +
    "upserts — no FileNotFound task failures, counts never decrease, " +
    "and a read that starts after a write returns sees its point") {
    import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger,
      AtomicLong, AtomicReference}
    val Day = 86400000000000L
    val dst = freshRoot()
    val agent = new Agent(spark,
      cfg(dst).copy(initialReplication = "none",
        checkIntervalMs = 3600000L), // 1h TTL: no refresh-by-timeout
      slaveProbeOpt = Some(() => true))
    val dp = agent.daemonPlane
    // wired as the daemon wires the status server's /query
    val exec = graft.ql.QlPlanner.executorScoped(spark, dst,
      dp.liveCatalog())
    def served(): Long = exec("select count(value) from rw", None)
      .collect().head.getLong(1)
    assert(dp.write(s"rw,host=h value=0 ${S + Day}", None, 1L) == 1L)
    val writes = 8
    val acked = new AtomicLong(1L)
    val failedTasks = new AtomicLong()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(
          te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
        val r = String.valueOf(te.reason)
        if (te.reason != org.apache.spark.Success &&
            (r.contains("FileNotFound") || r.contains("FILE_NOT_EXIST")))
          failedTasks.incrementAndGet(): Unit
      }
    }
    val failures = new AtomicReference[List[Throwable]](Nil)
    def runner(name: String)(body: => Unit): Thread = {
      val t = new Thread(() =>
        try body
        catch { case e: Throwable =>
          failures.updateAndGet(e :: _): Unit
        }, name)
      t.setDaemon(true); t.start(); t
    }
    val stop = new AtomicBoolean()
    val reads = new AtomicInteger()
    spark.sparkContext.addSparkListener(listener)
    try {
      val writer = runner("rw-writer") {
        for (i <- 1 to writes) {
          assert(dp.write(s"rw,host=h value=$i ${S + Day + i}", None,
            1L) == 1L)
          acked.set(i + 1L)
        }
      }
      val reader = runner("rw-reader") {
        var last = 0L
        while (!stop.get()) {
          val floor = acked.get()
          val n = served()
          assert(n >= floor,
            s"a read started after $floor acked points saw $n")
          assert(n >= last, s"the served count fell from $last to $n")
          assert(n <= writes + 1L, s"count $n beyond every write")
          last = n; reads.incrementAndGet(): Unit
        }
      }
      writer.join(180000L)
      stop.set(true)
      reader.join(60000L)
      assert(!writer.isAlive && !reader.isAlive,
        "writer or reader did not finish in time")
    } finally {
      stop.set(true)
      spark.sparkContext.removeSparkListener(listener)
    }
    assert(failures.get().isEmpty, s"racing planes failed: ${failures.get()}")
    assert(failedTasks.get() == 0L,
      s"${failedTasks.get()} FileNotFound task failures")
    assert(reads.get() > 0)
    assert(served() == writes + 1L)
  }

  test("r16 rewind re-queue: marks a FAILED CQ could not consume go " +
    "back into the WriteService, so the rollup catches the backfill " +
    "when the CQ recovers on a later tick") {
    import graft.ql.CqService
    val root = freshRoot()
    spark.read.parquet(s"${SparkSpec.Sf0001}/events.parquet")
      .write.parquet(s"$root/events.parquet")
    val svc = new CqService(spark, root, root)
    // a registration whose refresh THROWS: source measurement absent
    svc.registerOnly(
      """create continuous query "broken" begin select count(value) """ +
        """into "b_roll" from "ghost" group by time(1d) end""")
    val ws = new graft.api.WriteService(spark, root,
      seriesCols = Map("events" -> Seq("event_id")))
    val rewinds = Map("ghost" -> (S + 1L), "ghost_unused" -> S)
    var requeued = Map.empty[String, Long]
    val out = svc.runAll(rewinds, requeueRewinds = m => requeued = m)
    assert(out === Seq(("broken", -1L, -1L)))
    // ONLY the failed CQ's source mark comes back; unrelated marks
    // were consumed (or never belonged to a CQ) and stay drained
    assert(requeued === Map("ghost" -> (S + 1L)))
    // and the daemon plumbing round-trips it through the service
    ws.requeueWriteLowWater(requeued)
    assert(ws.drainWriteLowWater() === Map("ghost" -> (S + 1L)))
  }

  test("r16 tick-side index maintenance: hamonitor folds a configured " +
    "index root past the hot-batch threshold — no operator has to " +
    "remember the epoch fold") {
    import graft.streaming.StreamIngest
    val master = freshRoot()
    spark.read.parquet(s"${SparkSpec.Sf0001}/events.parquet")
      .write.parquet(s"$master/events.parquet")
    val dst = freshRoot()
    val idx = freshRoot() + "/lshidx"
    val marks = freshRoot() + "/marks"
    import spark.implicits._
    for (b <- 0 until 3)
      StreamIngest.lshIngestBatch(
        Seq((10L * b + 1, s"doc of batch $b alpha$b")).toDF("id", "text"),
        "id", "text", idx, marks, b.toLong, 8, 4, 3, 4)
    def hotDirs = Option(new java.io.File(s"$idx/bands").listFiles())
      .map(_.count(_.getName.startsWith("batch="))).getOrElse(0)
    assert(hotDirs == 3)
    var now = E
    val agent = new Agent(spark,
      cfg(dst).copy(masterRoot = master, initialReplication = "none",
        indexDirs = s" $idx ,", indexMaxHotBatches = 2),
      slaveProbeOpt = Some(() => true), nowNs = () => now)
    val monitor = agent.hamonitor()
    now += 20000000000L; monitor.tick()
    assert(hotDirs == 0, "tick must fold past the threshold")
    assert(new java.io.File(s"$idx/bands_epoch").exists())
    // and the folded index still answers
    val (b, _) = StreamIngest.readLshIndex(spark, idx)
    assert(b.select("id").distinct().count() == 3L)
  }
}
