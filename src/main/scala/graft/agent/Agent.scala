package graft.agent

import scala.util.Try

import graft.catalog.Catalog
import graft.functions.TimeFuncs
import graft.model._
import graft.operators.{CopyJob, SchemaReplicator}
import graft.streaming.{ClusterFSM, HAMonitor, StreamIngest, StreamingMonitor}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** Agent configuration — flag-for-flag parity with the reference CLI
  * (/root/reference/pkg/main.go:77-119) and the `[general]` config section
  * (pkg/config/mainconfig.go:10-27; defaults per
  * conf/sample.syncflux.toml:60-130):
  *
  *  - masterRoot/slaveRoot ≅ `-master`/`-slave` server selection (here a
  *    storage root URI instead of an InfluxDB server name);
  *  - dbRegex/rpRegex/measRegex ≅ `-db`/`-rp`/`-meas`;
  *  - newDb/newRp ≅ `-newdb`/`-newrp`;
  *  - chunk ≅ `-chunk` / `data-chuck-duration` (Go duration);
  *  - start/end ≅ `-start`/`-end` (epoch seconds, `-10h`-style negative
  *    Go duration, or RFC3339; default [now−24h, now] per main.go:89-90);
  *  - full ≅ `-full` (window = retention-clamped full history);
  *  - maxRetention ≅ `max-retention-interval` (8760h default);
  *  - initialReplication ≅ `initial-replication` none|schema|data|both;
  *  - rwMaxRetries/rwRetryDelayMs ≅ `rw-max-retries`/`rw-retry-delay`;
  *  - numWorkers ≅ `num-workers`;
  *  - checkIntervalMs/minSyncIntervalMs/monitorRetryIntervalMs ≅
  *    `check-interval`/`min-sync-interval`/`monitor-retry-interval`.
  */
final case class AgentConfig(
    masterRoot: String,
    slaveRoot: String,
    dbRegex: String = ".*",
    rpRegex: String = ".*",
    measRegex: String = ".*",
    newDb: String = "",
    newRp: String = "",
    chunk: String = "1h", // README.md:207 default 60m
    start: String = "",
    end: String = "",
    full: Boolean = false,
    maxRetention: String = "8760h", // conf/sample.syncflux.toml:107
    initialReplication: String = "none",
    timeCol: String = "ts",
    rwMaxRetries: Int = 5,
    rwRetryDelayMs: Long = 0L,
    numWorkers: Int = 4,
    checkIntervalMs: Long = 10000L,
    minSyncIntervalMs: Long = 20000L,
    monitorRetryIntervalMs: Long = 60000L,
    // non-empty → hamonitor runs on the Structured Streaming plane with
    // FSM state checkpointed here (survives restarts — an improvement
    // over the reference's in-memory-only supervisor state)
    checkpointDir: String = "",
    // after each copied measurement (incl. HA backfills), compare
    // per-chunk source↔dest checksums (ChecksumAgg); mismatching chunks
    // ride SyncReport.checksumMismatches — stronger than the reference,
    // which verifies nothing after a write. CLI: -verify; config:
    // verify-after-copy. `-action verify` runs the comparison alone.
    verifyAfterCopy: Boolean = false,
    // hamonitor's status API ([http] bind-addr port; 0 = disabled)
    httpPort: Int = 0,
    adminUser: String = "admin",
    adminPassword: String = "admin",
    // data-plane credentials for the served /query + /write (InfluxDB
    // 1.x auth-enabled: clients send u=/p= or Authorization: Basic on
    // every request). Empty dataUser = auth disabled, the InfluxDB
    // default. [http] data-user / data-passwd.
    dataUser: String = "",
    dataPassword: String = "",
    // opt-in for the DESTRUCTIVE /query families (DELETE, DROP,
    // CREATE/DROP CQ, schema DDL) on the served plane — see
    // QlPlanner.executor. [http] allow-mutations.
    allowMutations: Boolean = false,
    // `-action stream` (continuous replication; north-star mode with no
    // reference analog — the reference only syncs in batch on recovery):
    // tag keys and field schema of the line-protocol stream landing
    // under masterRoot, plus the dedup watermark delay
    streamTags: String = "",
    streamFields: String = "",
    streamWatermark: String = "10 minutes",
    // static UI dir served at "/" by the status server (webserver.go:81-87)
    staticDir: String = "",
    // write the agent PID here at startup (main.go:73,106)
    pidfile: String = "",
    // log routing (main.go:102-103): console (default) or file;
    // `-logs` names the directory for logmode=file
    logMode: String = "console",
    logDir: String = "",
    // -v/-vv/-vvv verbosity (main.go:94-98) → Spark log level
    logLevel: String = "",
    // `-action curate` (engine extension): config-driven corpus
    // curation over a documents parquet at masterRoot → slaveRoot.
    // curateSample is "num/den" (e.g. "30/100"); curateLangs a
    // comma-separated keep list; empty values disable each step.
    curateMinChars: String = "",
    curateMaxChars: String = "",
    curateLangs: String = "",
    curateDedupe: Boolean = false,
    curateSample: String = "",
    curateSplit: Boolean = false,
    // growing-index maintenance (engine extension, r16): comma-
    // separated roots of persistent LSH/IVF indexes the daemon owns —
    // each hamonitor tick applies the compaction cadence policy
    // (fold past indexMaxHotBatches live batch dirs), so a long-lived
    // ingest stream never needs an operator to remember the epoch
    // fold. Single-writer contract: list a root here ONLY if this
    // daemon is the plane that owns its ingest.
    indexDirs: String = "",
    indexMaxHotBatches: Int = 8,
    // IVF drift repair (r18): re-cluster an assign-face root when its
    // list-size skew (largest list / mean list) crosses this on the
    // tick; 0 disables — re-clustering rewrites the epoch (inherent
    // to re-training), so it is strictly operator-opt-in.
    indexMaxSkew: Double = 0.0,
    // retirement-grace age floor (r19): a merged-away/retired epoch
    // dir is deleted only by a later commit AND once older than this
    // — the wall-clock half of the lock-free-reader grace (the fold-
    // count half alone collapses under rapid fold cadences).
    indexRetireGraceSec: Long = 600L)

/** The agent — one object composing catalog discovery, schema DDL, the
  * chunked copy plane, and the HA monitor into the reference's four
  * dispatchable actions (`copy|fullcopy|replicaschema|hamonitor`,
  * /root/reference/pkg/main.go:293-306):
  *
  *  - `replicaSchema` ≅ agent.ReplSch (agent.go:147-174);
  *  - `copy`          ≅ agent.Copy (agent.go:210-240);
  *  - `fullCopy`      ≅ agent.SchCopy = ReplicateSchema → data copy
  *                      (agent.go:176-208);
  *  - `hamonitor`     ≅ agent.HAMonitorStart (agent.go:242-271): initial
  *                      replication policy, then the probe/supervisor
  *                      plane.
  *
  * Engine-extension actions beyond the reference's four: `verify`
  * (checksum-only comparison), `diffsync` (checksum-driven incremental
  * repair), `retention` (enforce replicated `_rp.json` durations),
  * `compact` (small-file compaction), `curate` (config-driven corpus
  * curation over a documents parquet), and `stream` (continuous
  * Structured-Streaming replication daemon).
  *
  * Every action starts with `initCluster` — block (retrying every
  * monitor-retry-interval) until both servers are alive
  * (agent.go:67-145). The concrete probe is storage-root reachability via
  * the Hadoop FileSystem (the `Ping` analog,
  * /root/reference/pkg/agent/influxmonitor.go:115-150); tests may inject
  * scripted probes.
  */
final class Agent(
    spark: SparkSession,
    cfg: AgentConfig,
    masterProbeOpt: Option[() => Boolean] = None,
    slaveProbeOpt: Option[() => Boolean] = None,
    nowNs: () => Long = () =>
      System.currentTimeMillis() * 1000000L) {

  val masterProbe: () => Boolean =
    masterProbeOpt.getOrElse(Agent.fsProbe(spark, cfg.masterRoot))
  val slaveProbe: () => Boolean =
    slaveProbeOpt.getOrElse(Agent.fsProbe(spark, cfg.slaveRoot))

  private val catalog = new Catalog(spark)
  private def chunkNs = TimeFuncs.parseGoDurationNs(cfg.chunk)
  private def maxRetentionNs = TimeFuncs.parseGoDurationNs(cfg.maxRetention)

  /** Block until both master and slave probes succeed, retrying every
    * monitor-retry-interval (infinite startup retry, agent.go:86-145).
    * `maxAttempts` bounds the loop for tests; returns whether the
    * cluster came up within the budget. */
  def initCluster(maxAttempts: Int = Int.MaxValue): Boolean = {
    var attempts = 0
    while (attempts < maxAttempts) {
      attempts += 1
      if (masterProbe() && slaveProbe()) return true
      if (attempts < maxAttempts && cfg.monitorRetryIntervalMs > 0)
        Thread.sleep(cfg.monitorRetryIntervalMs)
    }
    false
  }

  /** GetSchema + rename rewrite over the master root (agent.go:149-167). */
  def discoverSchema(): Seq[DbSchema] =
    catalog.getSchema(cfg.masterRoot, cfg.dbRegex, cfg.rpRegex,
      cfg.measRegex, cfg.newDb, cfg.newRp)

  /** `-action replicaschema` (agent.go:147-174). */
  def replicaSchema(): Seq[(String, String)] = {
    require(initCluster(), "cluster not alive")
    val repl = new SchemaReplicator(spark.sessionState.newHadoopConf())
    repl.replicate(discoverSchema(), cfg.slaveRoot)
  }

  /** Resolve the copy window from flags: explicit start/end (epoch s,
    * negative Go duration, RFC3339; main.go:269-291), defaults
    * [now−24h, now] (main.go:89-90), or `-full` = retention-clamped full
    * history per RP (`GetFirstLastTime`, client.go:24-38: duration 0 =
    * infinite → clamp to max-retention-interval). */
  def resolveWindow(rp: RetentionPolicy): (Long, Long) = {
    val now = nowNs()
    if (cfg.full) {
      val horizon =
        if (rp.durationNs > 0) math.min(rp.durationNs, maxRetentionNs)
        else maxRetentionNs
      (now - horizon, now)
    } else {
      val s =
        if (cfg.start.nonEmpty) TimeFuncs.parseInputTimeNs(cfg.start, now)
        else now - 24L * 3600L * TimeFuncs.NsPerSecond
      val e =
        if (cfg.end.nonEmpty) TimeFuncs.parseInputTimeNs(cfg.end, now)
        else now
      (s, e)
    }
  }

  /** `-action copy` (agent.go:210-240): discover → rename → ReplicateData
    * over the resolved window. The source layout (hierarchical vs flat
    * TESTDATA root) is auto-detected by the catalog. */
  def copy(): Seq[SyncReport] = {
    require(initCluster(), "cluster not alive")
    val schema = discoverSchema()
    replicateData(schema)
  }

  private def isFlat(schema: Seq[DbSchema]): Boolean = schema match {
    case Seq(d) => d.name == "default" && !pathExists(
      s"${cfg.masterRoot}/default")
    case _ => false
  }

  private def copyCfgFor(rp: RetentionPolicy): CopyJob.Config = {
    val (s, e) = resolveWindow(rp)
    CopyJob.Config(s, e, chunkNs, timeCol = cfg.timeCol,
      maxRetentionNs = Some(maxRetentionNs),
      rwMaxRetries = cfg.rwMaxRetries,
      rwRetryDelayMs = cfg.rwRetryDelayMs,
      numWorkers = cfg.numWorkers)
  }

  private def checksumMismatches(job: CopyJob, one: Seq[DbSchema],
      flat: Boolean, copyCfg: CopyJob.Config): Seq[ChunkSpec] =
    CopyJob.layout(one, cfg.masterRoot, cfg.slaveRoot, flat)
      .flatMap { case (src, dst) =>
        job.verifyChecksums(src, dst, copyCfg)
          .collect { case (c, a, b) if a != b => c }
      }

  /** The shared copy plane: per (db, rp) chunked copy, plus — when
    * verifyAfterCopy is set — per-chunk checksum verification whose
    * mismatches ride the SyncReport (reported, not thrown: a mismatch on
    * a LIVE source can also mean post-copy ingestion; the caller owns
    * the policy). Used by copy/fullcopy AND the HA backfill, so recovery
    * re-copies are held to the same verification bar. */
  private def replicateData(schema: Seq[DbSchema]): Seq[SyncReport] =
    replicateWith(schema, copyCfgFor)

  /** One (db, rp)-scoped copy+verify loop shared by the batch copy plane
    * and the HA backfill — reports carry catalog NAMES (renamed
    * destination) and per-(db,rp) checksum mismatches. */
  private def replicateWith(schema: Seq[DbSchema],
      copyCfgOf: RetentionPolicy => CopyJob.Config): Seq[SyncReport] = {
    val job = new CopyJob(spark)
    val flat = isFlat(schema)
    for {
      db <- schema
      rp <- db.rps
    } yield {
      val copyCfg = copyCfgOf(rp)
      val one = Seq(db.copy(rps = Seq(rp)))
      val reports = job.replicate(one, cfg.masterRoot, cfg.slaveRoot,
        copyCfg, flatRoot = flat)
      val mismatches =
        if (cfg.verifyAfterCopy) checksumMismatches(job, one, flat, copyCfg)
        else Nil
      SyncReport(db.targetName, CopyJob.rpOut(db, rp),
        reports.flatMap(_.chunks), mismatches)
    }
  }

  /** `-action verify` (engine extension): re-run ONLY the per-chunk
    * checksum comparison over the configured window for every
    * measurement — the ops answer to "is the replica still identical?"
    * without re-copying anything. */
  def verify(): Seq[(String, Seq[ChunkSpec])] = {
    require(initCluster(), "cluster not alive")
    val schema = discoverSchema()
    val job = new CopyJob(spark)
    val flat = isFlat(schema)
    for {
      db <- schema
      rp <- db.rps
    } yield {
      val copyCfg = copyCfgFor(rp)
      val one = Seq(db.copy(rps = Seq(rp)))
      s"${db.targetName}/${CopyJob.rpOut(db, rp)}" ->
        checksumMismatches(job, one, flat, copyCfg)
    }
  }

  /** `-action diffsync` (engine extension): checksum-driven incremental
    * repair — per measurement, copy ONLY the chunks whose source↔dest
    * checksums differ (CopyJob.syncDiffering). The nightly-backup
    * answer to "make the replica identical again" without the full
    * window's write amplification. Returns the repaired chunks per
    * (db, rp). */
  def diffSync(): Seq[(String, Seq[ChunkSpec])] = {
    require(initCluster(), "cluster not alive")
    val schema = discoverSchema()
    val job = new CopyJob(spark)
    val flat = isFlat(schema)
    for {
      db <- schema
      rp <- db.rps
    } yield {
      val copyCfg = copyCfgFor(rp)
      val one = Seq(db.copy(rps = Seq(rp)))
      val repaired = CopyJob.layout(one, cfg.masterRoot, cfg.slaveRoot,
          flat)
        .flatMap { case (src, dst) =>
          job.syncDiffering(src, dst, copyCfg)._1
        }
      s"${db.targetName}/${CopyJob.rpOut(db, rp)}" -> repaired
    }
  }

  /** `-action retention` (engine extension): enforce each RP's
    * REPLICATED duration on the slave — the duration comes from the
    * `_rp.json` metadata `replicaschema` wrote (the catalog's moral
    * TBLPROPERTIES), cutoff = now − duration_ns; `duration_ns == 0`
    * meaning infinite retention is skipped (client.go:24-38 semantics),
    * as are RPs with no metadata (flat layouts). The expiry InfluxDB's
    * retention service performs and the reference only replicates
    * metadata for. Returns (db/rp, droppedSpans, trimmedSpans) per
    * enforced RP. */
  def retention(): Seq[(String, Seq[(Long, Long)], Seq[(Long, Long)])] = {
    require(slaveProbe(), "slave not alive")
    val job = new CopyJob(spark)
    val repl = new SchemaReplicator(spark.sessionState.newHadoopConf())
    val durationRe = """"duration_ns":(-?\d+)""".r
    val timeCfg = CopyJob.Config(0L, 0L, chunkNs, timeCol = cfg.timeCol)
    for {
      db <- catalog.getSchema(cfg.slaveRoot, cfg.dbRegex, cfg.rpRegex,
        cfg.measRegex, "", "")
      rp <- db.rps
      durNs <- repl.readRpMeta(cfg.slaveRoot, db.name, rp.name)
        .flatMap(durationRe.findFirstMatchIn)
        .map(_.group(1).toLong)
      if durNs > 0
    } yield {
      val cutoff = nowNs() - durNs
      val (dropped, trimmed) = rp.measurements
        .map { m =>
          val dst = s"${cfg.slaveRoot}/${db.name}/${rp.name}/${m.name}.parquet"
          val (d, t, _) = job.enforceRetention(dst, cutoff, timeCfg)
          (d, t)
        }
        .foldLeft((Seq.empty[(Long, Long)], Seq.empty[(Long, Long)])) {
          case ((ds, ts), (d, t)) => (ds ++ d, ts ++ t)
        }
      (s"${db.name}/${rp.name}", dropped, trimmed)
    }
  }

  /** `-action compact` (engine extension): small-file compaction over
    * every slave measurement — the nightly ops pass that keeps the
    * chunked sink's file count bounded after recoveries and split
    * writes. Returns (db/rp/measurement, files before, files after)
    * per compacted chunk's measurement, summed. */
  def compact(): Seq[(String, Int, Int)] = {
    require(slaveProbe(), "slave not alive")
    val job = new CopyJob(spark)
    val timeCfg = CopyJob.Config(0L, 0L, chunkNs, timeCol = cfg.timeCol)
    for {
      db <- catalog.getSchema(cfg.slaveRoot, cfg.dbRegex, cfg.rpRegex,
        cfg.measRegex, "", "")
      rp <- db.rps
      m <- rp.measurements
      report = job.compact(
        s"${cfg.slaveRoot}/${db.name}/${rp.name}/${m.name}.parquet",
        timeCfg)
      if report.nonEmpty
    } yield (s"${db.name}/${rp.name}/${m.name}",
      report.map(_._2).sum, report.map(_._3).sum)
  }

  /** `-action maintain` (engine extension): the nightly ops chain as
    * ONE composed action per (db, rp) — diffsync (repair divergent
    * chunks) → compact (bound file counts, including files the repair
    * just wrote) → retention (expire per the replicated `_rp.json`
    * duration), in that order. The legs compose EXACTLY-ONCE: the
    * repair window's start is clamped to the retention cutoff BEFORE
    * repairing, so (a) a chunk the retention leg is about to expire is
    * never re-copied first, and (b) on the NEXT run diffsync tiles
    * from the cutoff and sees the trimmed straddling chunk under its
    * clamped span — checksums match and nothing churns. A
    * second maintain() against an unchanged master repairs nothing,
    * compacts nothing and expires nothing (AgentSpec pins it).
    * Returns one [[Agent.MaintainReport]] per (db, rp). */
  def maintain(): Seq[Agent.MaintainReport] = {
    require(initCluster(), "cluster not alive")
    val schema = discoverSchema()
    val job = new CopyJob(spark)
    val repl = new SchemaReplicator(spark.sessionState.newHadoopConf())
    val durationRe = """"duration_ns":(-?\d+)""".r
    val flat = isFlat(schema)
    for {
      db <- schema
      rp <- db.rps
    } yield {
      val copyCfg0 = copyCfgFor(rp)
      val cutoff = repl
        .readRpMeta(cfg.slaveRoot, db.targetName, CopyJob.rpOut(db, rp))
        .flatMap(durationRe.findFirstMatchIn)
        .map(_.group(1).toLong)
        .filter(_ > 0)
        .map(nowNs() - _)
      val copyCfg = cutoff.filter(_ > copyCfg0.startNs)
        .map(c => copyCfg0.copy(startNs = c))
        .getOrElse(copyCfg0)
      val one = Seq(db.copy(rps = Seq(rp)))
      val legs = CopyJob.layout(one, cfg.masterRoot, cfg.slaveRoot, flat)
        .map { case (src, dst) =>
          val repaired = job.syncDiffering(src, dst, copyCfg)._1
          val comp = job.compact(dst, copyCfg)
          val (dropped, trimmed) = cutoff.map { c =>
            val (d, t, _) = job.enforceRetention(dst, c, copyCfg)
            (d, t)
          }.getOrElse((Seq.empty[(Long, Long)], Seq.empty[(Long, Long)]))
          (repaired, comp.map(_._2).sum, comp.map(_._3).sum, dropped,
            trimmed)
        }
      Agent.MaintainReport(
        s"${db.targetName}/${CopyJob.rpOut(db, rp)}",
        legs.flatMap(_._1), legs.map(_._2).sum, legs.map(_._3).sum,
        legs.flatMap(_._4), legs.flatMap(_._5))
    }
  }

  /** `-action curate` (engine extension): config-driven corpus
    * curation — read the documents parquet at masterRoot, run the
    * declarative [[graft.operators.CurationPipeline]] derived from the
    * curate* config keys, write the surviving (possibly
    * split-labelled) rows to `slaveRoot/curated`. The corpus schema is
    * the engine's documents convention (doc_id / text / lang /
    * n_chars). Returns (rows in, rows out). */
  def curate(): (Long, Long) = {
    require(pathExists(cfg.masterRoot),
      s"curate source not found: ${cfg.masterRoot}")
    def longOpt(v: String): Option[Long] =
      if (v.isEmpty) None else Some(v.toLong)
    val (sampleNum, sampleDen) = cfg.curateSample match {
      case "" => (None, 100L)
      case s => s.split("/") match {
        case Array(n, d) => (Some(n.trim.toLong), d.trim.toLong)
        case _ => sys.error(s"curate-sample must be num/den: $s")
      }
    }
    val cc = graft.operators.CurationConfig(
      minChars = longOpt(cfg.curateMinChars),
      maxChars = longOpt(cfg.curateMaxChars),
      langs = if (cfg.curateLangs.isEmpty) None
        else Some(cfg.curateLangs.split(",").map(_.trim).toSeq),
      dedupeExact = cfg.curateDedupe,
      sampleNum = sampleNum, sampleDen = sampleDen,
      withSplit = cfg.curateSplit)
    val docs = spark.read.parquet(cfg.masterRoot)
    val out = graft.operators.CurationPipeline.run(
      docs, "doc_id", "text", "lang", "n_chars", cc)
    out.write.mode("overwrite").parquet(s"${cfg.slaveRoot}/curated")
    (docs.count(), spark.read.parquet(s"${cfg.slaveRoot}/curated").count())
  }

  private def pathExists(p: String): Boolean = {
    val path = new Path(p)
    Try(path.getFileSystem(spark.sessionState.newHadoopConf())
      .exists(path)).getOrElse(false)
  }

  /** `-action fullcopy` = ReplicateSchema then data copy (SchCopy,
    * agent.go:176-208). */
  def fullCopy(): (Seq[(String, String)], Seq[SyncReport]) = {
    require(initCluster(), "cluster not alive")
    val schema = discoverSchema()
    val repl = new SchemaReplicator(spark.sessionState.newHadoopConf())
    val created = repl.replicate(schema, cfg.slaveRoot)
    (created, replicateData(schema))
  }

  /** The recovery backfill: blind re-copy of the outage window at the
    * configured chunking, idempotent by the copy's manifest commit
    * (span-contained chunks retire, straddling ones are trimmed —
    * hacluster.go:305-342), so the measurement keeps serving pinned
    * readers throughout. Runs the same (db, rp)-scoped
    * copy+verify loop as the batch copy plane — the post-outage backfill
    * is precisely the copy most likely to diverge. */
  private def backfillWith(sch: Seq[DbSchema],
      w: ClusterFSM.RecoveryWindow): Seq[SyncReport] =
    replicateWith(sch, _ => CopyJob.Config(w.startNs, w.endNs, chunkNs,
      timeCol = cfg.timeCol, maxRetentionNs = Some(maxRetentionNs),
      rwMaxRetries = cfg.rwMaxRetries,
      rwRetryDelayMs = cfg.rwRetryDelayMs,
      numWorkers = cfg.numWorkers))

  /** Backfill as a success predicate for the monitors: every chunk copied
    * and (when verifying) every checksum matched — a false keeps the FSM
    * in CHECK_SLAVE_DOWN so the window is re-emitted next tick.
    *
    * An empty or measurement-less discovered schema mid-recovery means
    * the master root is absent/unreadable (Catalog yields Nil for a
    * missing dir without throwing): backfilling "nothing" would succeed
    * vacuously, advance slaveLastOk, and permanently forget the outage
    * window — so it is treated as failure. */
  def backfillOk(w: ClusterFSM.RecoveryWindow): Boolean = {
    val sch = discoverSchema() // schema refresh, hacluster.go:330-331
    val hasMeasurements = sch.exists(_.rps.exists(_.measurements.nonEmpty))
    hasMeasurements && backfillWith(sch, w)
      .forall(r => r.chunks.forall(_.ok) && r.verified)
  }

  private def initialReplicate(): Unit = {
    // ONE catalog walk + probe round for the whole bootstrap — the
    // schema/replica branches reuse it instead of re-running
    // initCluster+discoverSchema per action
    val schema = discoverSchema()
    def schemaDdl(): Unit =
      new SchemaReplicator(spark.sessionState.newHadoopConf())
        .replicate(schema, cfg.slaveRoot): Unit
    cfg.initialReplication match {
      case "schema" => schemaDdl()
      case "data"   => replicateData(schema): Unit
      case "both"   =>
        schemaDdl()
        replicateData(schema): Unit
      case _ => () // "none" (and unknown values log-and-skip, agent.go:263)
    }
  }

  /** The daemon's CQ service: registrations persisted at the SLAVE
    * root (`_cq.json` beside the replicated `_rp.json` tier), reading
    * from the master, writing rollups beside the replica — and re-run
    * incrementally on every hamonitor supervisor tick (InfluxDB's CQ
    * service cadence). */
  def cqService: graft.ql.CqService =
    new graft.ql.CqService(spark, cfg.masterRoot, cfg.slaveRoot)

  /** `-action hamonitor` (agent.go:242-271): initial replication policy
    * (none|schema|data|both, agent.go:248-264), then the probe/FSM
    * monitor whose backfill re-runs the copy plane over the recovery
    * window. Returns the monitor (not yet ticking — call `start()` for
    * the periodic supervisor, or `tick()` from tests). */
  def hamonitor(): HAMonitor = {
    require(initCluster(), "cluster not alive")
    initialReplicate()
    new HAMonitor(
      masterProbe,
      slaveProbe,
      checkIntervalNs = cfg.checkIntervalMs * 1000000L,
      backfill = backfillOk,
      nowNs = nowNs,
      // the tick owns the CQ cadence AND the /write→rewind drain —
      // shared WriteService, so served-plane backfills reach rollups
      onTick = () => daemonPlane.cqTick())
  }

  /** hamonitor on the Structured Streaming plane: rate-source-driven
    * probe/FSM ticks with transitions checkpointed to cfg.checkpointDir,
    * so a monitor restart resumes from the persisted lastOK instead of
    * forgetting the outage (SURVEY.md §3.2 Spark equivalent). */
  def hamonitorStreaming(): StreamingMonitor = {
    require(cfg.checkpointDir.nonEmpty, "checkpointDir required")
    require(initCluster(), "cluster not alive")
    initialReplicate()
    new StreamingMonitor(spark, masterProbe, slaveProbe,
      checkIntervalNs = cfg.checkIntervalMs * 1000000L,
      backfill = backfillOk,
      checkpointDir = cfg.checkpointDir,
      nowNs = nowNs,
      onTick = () => daemonPlane.cqTick())
  }

  /** The reference's action switch (main.go:293-306). Batch actions
    * return when done; `hamonitor` is the daemon path — it serves the
    * status API (when httpPort > 0, ≅ webui.WebServer at main.go:296)
    * and BLOCKS like the reference's supervisor+webserver do. */
  /** `-action stream`: the continuous (non-recovery) replication daemon
    * — line-protocol text landing under masterRoot streams through the
    * typed decode and watermark-bounded dedup (the streaming face of
    * the sink's upsert idempotence: a replayed (series, ts) point
    * within the watermark is dropped, state evicted past it) into a
    * checkpointed parquet sink under slaveRoot. Restart resumes from
    * the checkpoint's file-source offsets — already-ingested batches
    * are never reprocessed (exactly-once file sink). The reference has
    * no continuous mode (it replicates only on recovery,
    * hacluster.go:236-343); this is the Structured-Streaming north
    * star beside hamonitor. */
  def stream(): org.apache.spark.sql.streaming.StreamingQuery = {
    require(initCluster(), "cluster not alive")
    require(cfg.checkpointDir.nonEmpty,
      "-action stream needs a checkpoint dir (-checkpoint)")
    require(cfg.streamFields.nonEmpty,
      "-action stream needs the field schema (-fields name:type,...)")
    val tags = Agent.parseTags(cfg.streamTags)
    val typed = StreamIngest.typedStream(spark, cfg.masterRoot, tags,
      Agent.parseFields(cfg.streamFields))
    val deduped = StreamIngest.dedupStream(typed,
      "measurement" +: tags.map("tag_" + _), cfg.streamWatermark)
    StreamIngest.toParquet(deduped, cfg.slaveRoot, cfg.checkpointDir)
  }

  /** The daemon's shared data plane — ONE instance across the status
    * server AND the supervisor tick (r16, r15 ADVICE): the tick
    * drains the write low-water marks this WriteService recorded, so
    * a /write backfill behind a CQ's lookback rewinds the rollup in
    * the SERVED deployment, not only in tests; and the ql catalog
    * cache lives here so BOTH planes invalidate the same entry.
    *
    * Catalog freshness: the cached ql catalog stays valid across
    * /writes, and only what a write changed is rebuilt.
    *  - An upsert into an existing measurement MARKS its path stale,
    *    with the data schema the write resolved, as soon as that
    *    measurement commits — so a batch that fails part-way still
    *    marks what it committed. Marking takes no lock the catalog
    *    holds: the /write path pays nothing else. A CQ refresh on the
    *    supervisor tick marks its listed rollup the same way
    *    ([[cqTick]]).
    *  - The next [[liveCatalog]] rebuilds just the marked entries from
    *    their committed `_chunks` (no storage walk), with a write's
    *    handed schema (no footer-inference job). Every other entry
    *    keeps its identity. A stale entry would otherwise hold a file
    *    index of retired generations: stale rows inside the grace,
    *    deleted files after it.
    *  - The whole catalog is re-walked instead after an auto-create
    *    (onCatalogChange), after DDL or DELETE over /query
    *    (onMutation), when a marked path has no entry (a
    *    non-default-RP twin, a measurement the last walk skipped),
    *    when a rebuild fails, and once the check-interval TTL expires
    *    (measurements landed by the copy plane or a new CQ rollup,
    *    not through this server). A rebuild does not restart the TTL
    *    clock. */
  private[graft] final class DaemonPlane {
    private val catTtlMs = math.max(cfg.checkIntervalMs, 1000L)
    @volatile private var qlCat: Seq[graft.ql.QlTable] = null
    private var qlCatAt = 0L
    private val catLock = new Object
    /** Committed-but-unseen measurement generations: path → the data
      * schema a /write resolved (None: infer it, as a CQ mark does). */
    private val stale = new java.util.concurrent.ConcurrentHashMap[
      String, Option[org.apache.spark.sql.types.StructType]]()
    /** Full storage walks paid so far. Test tripwire (the
      * WriteService.schemaWalks twin): writes into known
      * measurements must add ZERO walks. */
    private[graft] var catalogWalks: Int = 0
    def liveCatalog(): Seq[graft.ql.QlTable] = catLock.synchronized {
      val now = System.currentTimeMillis()
      if (qlCat == null || now - qlCatAt > catTtlMs) walk(now)
      else if (!stale.isEmpty) refreshStale(now)
      qlCat
    }
    def dropCatalog(): Unit = catLock.synchronized { qlCat = null }
    private def walk(now: Long): Unit = {
      // a mark landing during the walk is applied again next call
      qlCat = null; stale.clear()
      qlCat = graft.ql.QlPlanner.storageCatalog(
        spark, cfg.slaveRoot, cfg.timeCol)
      qlCatAt = now
      catalogWalks += 1
    }
    private def refreshStale(now: Long): Unit = {
      import scala.jdk.CollectionConverters._
      val marks = stale.keySet.asScala.toSeq
        .flatMap(p => Option(stale.remove(p)).map(p -> _)).toMap
      if (!marks.keys.forall(p => qlCat.exists(_.path == p))) walk(now)
      else try {
        qlCat = qlCat.map(t => marks.get(t.path).fold(t)(schema =>
          graft.ql.QlPlanner.storedTable(spark, t.path, t.name, t.db,
            cfg.timeCol, schema)))
      } catch {
        case scala.util.control.NonFatal(e) =>
          System.err.println("[graft] WARNING: catalog entry refresh " +
            s"failed (${e.getClass.getSimpleName}: " +
            s"${Option(e.getMessage).getOrElse("").take(200)}); " +
            "re-walking the catalog")
          walk(now)
      }
    }
    val ws = new graft.api.WriteService(spark, cfg.slaveRoot,
      chunkNs = chunkNs, timeCol = cfg.timeCol,
      onCatalogChange = () => dropCatalog(),
      onMeasurementWritten = (path, schema) =>
        stale.put(path, Some(schema)): Unit)
    def write(body: String, db: Option[String],
        timeMulNs: Long): Long = ws.write(body, db, timeMulNs)
    /** The supervisor-tick CQ pass: refresh every registration with
      * the drained /write low-water rewinds; marks a failed CQ could
      * not consume are RE-QUEUED so the rollup catches the backfill
      * once it recovers (r15 ADVICE low). The tick also runs the
      * growing-index compaction cadence over the configured roots
      * (r16) — the single-writer maintenance plane the fold's
      * contract requires. A refreshed rollup the catalog lists is
      * marked stale like a /write's measurement, so its retired
      * generations leave the served catalog at the next read, not at
      * the TTL; one it does not list (a new rollup, or a flat one a
      * hierarchical root hides) waits for the TTL walk instead of
      * forcing a walk every tick. */
    def cqTick(): Unit = {
      cqService.runAll(ws.drainWriteLowWater(),
        requeueRewinds = ws.requeueWriteLowWater,
        onRefreshed = path => {
          val c = qlCat // null mid-walk: mark, the walk may predate it
          if (c == null || c.exists(_.path == path))
            stale.put(path, None): Unit
        }): Unit
      val dirs = cfg.indexDirs.split(',').map(_.trim)
        .filter(_.nonEmpty).toSeq
      if (dirs.nonEmpty) {
        StreamIngest.retireGraceMs = cfg.indexRetireGraceSec * 1000L
        StreamIngest.maintainIndexes(spark, dirs,
          cfg.indexMaxHotBatches, cfg.indexMaxSkew): Unit
      }
    }
  }

  private[graft] lazy val daemonPlane = new DaemonPlane

  /** The hamonitor daemon's HTTP server (not yet started) — beyond the
    * reference's ops-only UI (webserver.go), the daemon is an InfluxDB
    * 1.x API stand-in: /query plans InfluxQL against the LIVE storage
    * catalog of the slave root, /write upserts line protocol, both
    * behind the configured data credentials ([http] data-user /
    * data-passwd; u=/p= params or Authorization: Basic — both forms
    * the reference's own client sends, client.go:42-56). Both serve
    * through [[daemonPlane]], whose cached ql catalog a /write
    * refreshes per measurement and DDL over /query drops whole. */
  private[graft] def statusServer(
      status: () => graft.model.ClusterStatus): graft.api.StatusServer = {
    val dp = daemonPlane
    val exec = graft.ql.QlPlanner.executorScoped(spark, cfg.slaveRoot,
      dp.liveCatalog(), allowMutations = cfg.allowMutations,
      onMutation = () => { dp.dropCatalog(); dp.ws.invalidateSchema() })
    val statsDirs = cfg.indexDirs.split(',').map(_.trim)
      .filter(_.nonEmpty).toSeq
    new graft.api.StatusServer(cfg.httpPort, status,
      () => Seq("master" -> masterProbe(), "slave" -> slaveProbe()),
      cfg.adminUser, cfg.adminPassword, cfg.staticDir,
      queryExecScoped = Some(exec),
      writeExec = Some(dp.write),
      dataUser = cfg.dataUser, dataPassword = cfg.dataPassword,
      indexStatsJson =
        if (statsDirs.isEmpty) None
        else Some(() => StreamIngest
          .indexStats(spark, statsDirs)
          .toJSON.collect().mkString("[", ",", "]")))
  }

  def dispatch(action: String): Unit = action match {
    case "copy"          => copy(): Unit
    case "fullcopy"      => fullCopy(): Unit
    case "replicaschema" => replicaSchema(): Unit
    case "stream"        => stream().awaitTermination()
    case "diffsync"      => diffSync(): Unit
    case "retention"     => retention(): Unit
    case "compact"       => compact(): Unit
    case "maintain"      => maintain(): Unit
    case "curate"        => curate(): Unit
    case "verify" =>
      val bad = verify().filter(_._2.nonEmpty)
      require(bad.isEmpty, "checksum mismatches: " + bad.map {
        case (where, cs) => s"$where -> ${cs.map(_.id).mkString(",")}"
      }.mkString("; "))
    case "hamonitor" | "" =>
      def serve(status: () => graft.model.ClusterStatus): Unit =
        if (cfg.httpPort > 0) statusServer(status).start()
      if (cfg.checkpointDir.nonEmpty) {
        val m = hamonitorStreaming()
        val q = m.start(cfg.minSyncIntervalMs)
        serve(() => m.status)
        q.awaitTermination()
      } else {
        val m = hamonitor()
        m.start(cfg.minSyncIntervalMs)
        serve(() => m.status)
        Thread.currentThread().join() // daemon: block until killed
      }
    case other =>
      throw new IllegalArgumentException(s"Unknown action: $other")
  }
}

object Agent {

  /** One (db, rp)'s composed maintenance outcome: chunks the diffsync
    * leg repaired, file counts the compact leg touched, spans the
    * retention leg dropped/trimmed. */
  final case class MaintainReport(
      dbRp: String,
      repaired: Seq[ChunkSpec],
      filesBefore: Int,
      filesAfter: Int,
      dropped: Seq[(Long, Long)],
      trimmed: Seq[(Long, Long)])

  /** Concrete liveness probe: storage reachability through the Hadoop
    * FileSystem — the engine's `Ping` + `SHOW DATABASES`
    * (influxmonitor.go:115-150). Pings the STORAGE, not the root path:
    * a destination root that doesn't exist yet (first fullcopy onto an
    * empty slave) is alive as long as its nearest existing ancestor is —
    * matching the reference, whose Ping checks the server, not any
    * particular database. */
  def fsProbe(spark: SparkSession, root: String): () => Boolean = () => {
    Try {
      val fs = new Path(root)
        .getFileSystem(spark.sessionState.newHadoopConf())
      var p: Path = new Path(root)
      var found = false
      while (p != null && !found) {
        found = fs.exists(p)
        p = p.getParent
      }
      found
    }.getOrElse(false)
  }

  /** Comma-separated list → trimmed non-empty entries. */
  def parseTags(s: String): Seq[String] =
    s.split(",").map(_.trim).filter(_.nonEmpty).toSeq

  /** `-fields name:type,...` → field schema (types per
    * FieldType.fromName: float|integer|unsigned|boolean|string). */
  def parseFields(s: String): Map[String, FieldSch] =
    parseTags(s).map { spec =>
      spec.split(":") match {
        case Array(n, t) => n -> FieldSch(n, FieldType.fromName(t))
        case _ => throw new IllegalArgumentException(
          s"bad -fields entry '$spec' (want name:type)")
      }
    }.toMap
}

/** CLI entrypoint with the reference's flag surface
  * (main.go:77-119): `-version`, `-action`, `-master`, `-slave`, `-db`,
  * `-rp`, `-meas`, `-newdb`, `-newrp`, `-chunk`, `-start`, `-end`,
  * `-full`, `-v`/`-vv`/`-vvv`, `-logmode`, `-logs`, `-config`,
  * `-pidfile`. `-master`/`-slave` take storage-root URIs (our server
  * addresses). */
object AgentCli {

  /** `-version` banner (main.go:79,132-136 prints version/commit/build
    * stamp then exits). The version comes from the jar manifest
    * (Implementation-Version, stamped by sbt packaging from
    * `ThisBuild / version`) so it cannot drift from build.sbt; an
    * unpackaged classpath (sbt run, tests) reports the -dev marker. */
  def versionString: String = {
    val v = Option(classOf[Agent].getPackage.getImplementationVersion)
      .getOrElse("0.1.0-dev")
    s"graft v$v (spark ${org.apache.spark.SPARK_VERSION})"
  }

  /** Flags that take a value — the version scan must skip VALUES of
    * these (`-db -version` is a regex named "-version", not a version
    * request), so it walks flag positions exactly like the parse loop
    * below. Closed enumeration on purpose: an UNKNOWN `-`-token is
    * treated as a (valueless) flag, not as value-taking, so
    * `-typo -version` still prints the banner — the reference's
    * version-beats-everything semantics hold even on otherwise-invalid
    * command lines (main.go:132-136 checks version before anything). */
  private val ValueFlags = Set(
    "-logmode", "-logs", "-action", "-config", "-master", "-slave",
    "-db", "-rp", "-meas", "-newdb", "-newrp", "-chunk", "-start",
    "-end", "-checkpoint", "-tags", "-fields", "-watermark", "-static",
    "-pidfile", "-curate-minchars", "-curate-maxchars",
    "-curate-langs", "-curate-sample", "-indexdirs",
    "-index-maxhot")
  private def versionRequested(args: Array[String]): Boolean = {
    var i = 0
    while (i < args.length) {
      if (args(i) == "-version") return true
      if (ValueFlags.contains(args(i))) i += 1 // skip this flag's value
      i += 1
    }
    false
  }

  def parse(args: Array[String]): (String, AgentConfig) = {
    var action = "hamonitor"
    // -version beats everything REGARDLESS of flag order AND before
    // pass 1 touches the config file (reference checks it before
    // config load, main.go:132-136 — `-version -config /bad/path` must
    // print the banner, not crash in the config reader); the scan
    // walks flag positions, so a flag VALUE spelled "-version" is not
    // a version request
    if (versionRequested(args))
      return ("version", AgentConfig(masterRoot = "", slaveRoot = ""))
    // pass 1: -config resolves the base config; -master/-slave may be
    // server NAMES from its [[influxdb]] array (flags override file,
    // reference semantics: main.go:84-85 + init() double parse)
    val flagOf = args.sliding(2).collect {
      case Array(k, v) if k.startsWith("-") => k -> v
    }.toMap
    var c = flagOf.get("-config") match {
      case Some(path) =>
        AgentConfigFile.apply(
          AgentConfigFile.read(path,
            new org.apache.hadoop.conf.Configuration()),
          AgentConfig(masterRoot = "", slaveRoot = ""),
          master = flagOf.getOrElse("-master", ""),
          slave = flagOf.getOrElse("-slave", ""))
      case None => AgentConfig(masterRoot = "", slaveRoot = "")
    }
    val fromConfig = flagOf.contains("-config")
    var i = 0
    while (i < args.length) {
      def v: String = {
        require(i + 1 < args.length, s"missing value for flag ${args(i)}")
        i += 1; args(i)
      }
      args(i) match {
        // valueless flags first (sharing `v` would eat the next token)
        case "-version" => () // handled above, before config load
        case "-v"   => c = c.copy(logLevel = "INFO")
        case "-vv"  => c = c.copy(logLevel = "DEBUG")
        case "-vvv" => c = c.copy(logLevel = "TRACE")
        case "-logmode" =>
          val m = v
          require(m == "console" || m == "file",
            s"-logmode must be console or file, got '$m'")
          c = c.copy(logMode = m)
        case "-logs"   => c = c.copy(logDir = v)
        case "-action" => action = v
        case "-config" => v: Unit // consumed in pass 1
        case "-master" => if (!fromConfig) c = c.copy(masterRoot = v)
          else v: Unit // resolved via the server array in pass 1
        case "-slave"  => if (!fromConfig) c = c.copy(slaveRoot = v)
          else v: Unit
        case "-db"     => c = c.copy(dbRegex = v)
        case "-rp"     => c = c.copy(rpRegex = v)
        case "-meas"   => c = c.copy(measRegex = v)
        case "-newdb"  => c = c.copy(newDb = v)
        case "-newrp"  => c = c.copy(newRp = v)
        case "-chunk"  => c = c.copy(chunk = v)
        case "-start"  => c = c.copy(start = v)
        case "-end"    => c = c.copy(end = v)
        case "-full"   => c = c.copy(full = true)
        case "-verify" => c = c.copy(verifyAfterCopy = true)
        case "-checkpoint" => c = c.copy(checkpointDir = v)
        case "-tags"       => c = c.copy(streamTags = v)
        case "-fields"     => c = c.copy(streamFields = v)
        case "-watermark"  => c = c.copy(streamWatermark = v)
        case "-static"     => c = c.copy(staticDir = v)
        case "-pidfile"    => c = c.copy(pidfile = v)
        case "-curate-minchars" => c = c.copy(curateMinChars = v)
        case "-curate-maxchars" => c = c.copy(curateMaxChars = v)
        case "-curate-langs"    => c = c.copy(curateLangs = v)
        case "-curate-sample"   => c = c.copy(curateSample = v)
        case "-curate-dedupe"   => c = c.copy(curateDedupe = true)
        case "-curate-split"    => c = c.copy(curateSplit = true)
        case "-indexdirs"       => c = c.copy(indexDirs = v)
        case "-index-maxhot"    =>
          c = c.copy(indexMaxHotBatches = v.toInt)
        case "-index-maxskew"   =>
          c = c.copy(indexMaxSkew = v.toDouble)
        case "-index-retiregrace" =>
          c = c.copy(indexRetireGraceSec = v.toLong)
        case other =>
          throw new IllegalArgumentException(s"unknown flag: $other")
      }
      i += 1
    }
    require(c.masterRoot.nonEmpty && c.slaveRoot.nonEmpty,
      "both -master and -slave storage roots are required")
    (action, c)
  }

  def main(args: Array[String]): Unit = {
    val (action, cfg) = parse(args)
    // -version prints and exits before ANY heavy setup, reference
    // semantics (main.go:132-136: version check precedes config load)
    if (action == "version") { println(versionString); return }
    // pidfile before anything heavy, like the reference writes it right
    // after flag parsing (main.go:73,106); removed on clean JVM exit
    if (cfg.pidfile.nonEmpty) {
      val f = new java.io.File(cfg.pidfile)
      java.nio.file.Files.writeString(f.toPath,
        ProcessHandle.current().pid().toString): Unit
      f.deleteOnExit()
    }
    // logmode=file: route stdout/stderr to <logs>/graft-agent.log — the
    // reference's file log mode (main.go:102-103,139-151). Applied to
    // EVERY action here (simpler than the reference's
    // hamonitor-only gate, and one-shot actions just log to the file
    // too).
    if (cfg.logMode == "file") {
      val dir = new java.io.File(
        if (cfg.logDir.nonEmpty) cfg.logDir else ".")
      dir.mkdirs(): Unit
      val out = new java.io.PrintStream(new java.io.FileOutputStream(
        new java.io.File(dir, "graft-agent.log"), true), true)
      System.setOut(out); System.setErr(out)
    }
    val spark = graft.Sessions.bootstrap(SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_MASTER", "local[*]"))
      .appName("graft-agent")
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
      .getOrCreate())
    // -v/-vv/-vvv map to Spark's log level (the engine's logging plane)
    if (cfg.logLevel.nonEmpty)
      spark.sparkContext.setLogLevel(cfg.logLevel)
    try new Agent(spark, cfg).dispatch(action)
    finally if (action != "hamonitor") spark.stop()
  }
}
