package graft.streaming

import graft.functions.TimeFuncs
import graft.model.FieldSch
import graft.operators.{Dedup, RuntimeFilters}
import graft.sources.LineProtocol
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Continuous ingestion — the engine's streaming write path
  * (SURVEY.md §2.9): the reference moves points as a batch pull/push loop
  * (sync.go:95-213); the Spark-native continuous form is a file-stream of
  * line-protocol text → typed decode → watermark-bounded dedup → parquet
  * sink, all on Structured Streaming with checkpointed offsets
  * (exactly-once file sink).
  *
  * The decode reuses the batch codec: the quote/escape-aware scanner runs
  * inside the partition via `Dataset.map` and the per-field coercion
  * matrix is codegen'd Column ops (LineProtocol.decodeTyped) — identical
  * semantics in batch and streaming, one implementation.
  */
object StreamIngest {

  /** File-stream of line-protocol text under `inDir` → typed rows
    * (`measurement, tag_<k>..., fields..., time_ns`). */
  def typedStream(
      spark: SparkSession,
      inDir: String,
      tagKeys: Seq[String],
      fields: Map[String, FieldSch]): DataFrame =
    LineProtocol.decodeTyped(
      spark.readStream.text(inDir).withColumnRenamed("value", "line"),
      "line", tagKeys, fields)

  /** Streaming deduplication: drop points whose (series key, time_ns)
    * was already seen, with state BOUNDED by the watermark — duplicates
    * arriving within `watermarkDelay` of each other are suppressed, and
    * per-key state is evicted once the watermark passes (unbounded
    * dropDuplicates state is the classic streaming-dedup OOM at 100 TB).
    * This is the streaming face of the sink's upsert idempotence
    * (SURVEY.md §2.7: InfluxDB points upsert on (series, ts); a replayed
    * batch must not double-count) and of the batch dedup family. */
  def dedupStream(
      typed: DataFrame,
      keyCols: Seq[String],
      watermarkDelay: String): DataFrame = {
    typed.withColumn("time", TimeFuncs.nsToTimestamp(col("time_ns")))
      .withWatermark("time", watermarkDelay)
      .dropDuplicatesWithinWatermark(keyCols :+ "time_ns")
      // the synthetic watermark column must not leak into the deduped
      // output: downstream readers expect typedStream's schema
      .drop("time")
  }

  /** Append-mode parquet sink with checkpointed offsets (exactly-once
    * file sink semantics). */
  def toParquet(
      df: DataFrame,
      outDir: String,
      checkpointDir: String): StreamingQuery =
    df.writeStream
      .format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", checkpointDir)
      .outputMode("append")
      .start()

  // ------------------------------------------------------------------
  // Tiered persistent index layout: hot `batch=<id>` tail + an epoch of
  // IMMUTABLE bucket-partitioned SEGMENTS under a single manifest. The
  // r15 flat layout scanned the whole stored index per ingest step; the
  // r16 epoch fixed the PROBE side (partition keys the probe derives
  // from its own side: band-hash buckets / id buckets / the IVF list
  // id) but rewrote the ENTIRE store on every fold — O(store) write
  // amplification per compaction, the r16 judged weak. The epoch is now
  // LSM-tiered: each fold writes the hot tail as ONE new small segment
  // (cost O(hot)), and adjacent segments merge only when the newer has
  // grown to within [[LevelMergeFactor]] of the older — geometric
  // levels, so a row is rewritten O(log(store/batch)) times over the
  // index's life instead of once per fold. Probes compose hot ∪ all
  // segments (each segment is bucket-pruned with ITS OWN bucket count
  // from the manifest), so reads stay exactly as pruned as r16's.
  // ------------------------------------------------------------------

  /** Target bytes per epoch bucket when the bucket count is
    * AUTO-SIZED (buckets = 0, the default): the fold counts the
    * store's bytes (FS metadata, no scan) and sizes buckets to ~this
    * — so bucket GRANULARITY (hence probe pruning selectivity) stays
    * constant as the store grows. A fixed count would degrade both
    * ways: 64 buckets at a 100 TB store are 25 GB each (a "pruned"
    * probe still reads gigabytes), and 64 buckets over a 2 MB test
    * store are pathological small files. The count actually used
    * travels in the epoch's `_layout` descriptor — a probe never
    * assumes, it reads. */
  val DefaultBucketBytes: Long = 32L << 20

  /** Explicit-bucket default for callers that want the production
    * probe SHAPE at small fixtures (plan pins, the store-flatness
    * probe). */
  val DefaultIndexBuckets = 64

  /** Per-SEGMENT bucket-count ceiling. r16 capped the (then single)
    * epoch at 4096 — ~25 GB/bucket at a 100 TB store, the exact
    * pathology the auto-sizing exists to avoid. With tiered segments
    * the cap is per segment and only the BOTTOM segment ever
    * approaches it: 64 Ki buckets × [[DefaultBucketBytes]] holds the
    * ~32 MiB granularity up to a 2 TiB segment; past that, bucket
    * size degrades gradually (the within-file sort keeps row-group
    * min/max skipping inside big buckets) rather than breaking, and
    * a two-level bucket key is the documented extension if a single
    * bottom segment ever needs finer pruning than row groups give. */
  val MaxEpochBuckets = 1 << 16

  /** Adjacent-segment merge trigger: the newest segment merges into
    * its predecessor when it has grown to within 1/F of the
    * predecessor's bytes (the classic logarithmic merge policy —
    * Lucene's LogMergePolicy shape). F=2 ⇒ segment sizes stay
    * geometric, fold work is O(hot) on most ticks, and total bytes
    * rewritten over n ingested batches is O(n log n) — per-row write
    * amplification O(log(store/batch)) instead of r16's
    * O(store/batch). */
  val LevelMergeFactor = 2L

  // ---- single-writer gate -------------------------------------------
  // The fold's correctness contract ("run between acknowledged
  // micro-batches") used to be documentation only; the daemon tick
  // cannot honor a contract it cannot see. Two mechanisms make it
  // structural: (1) a per-indexDir JVM lock serializes ingest batches
  // against folds in the daemon's process (local-mode deployment: the
  // tick and the stream share the JVM); (2) on-disk `_inflight_<id>`
  // markers — written before a batch's first index write, cleared only
  // after its LAST write succeeds — stop the fold from folding AT or
  // PAST an unacknowledged batch even across a crash-restart: a batch
  // that failed mid-write keeps its marker, the fold refuses to fold
  // it (or anything after it) into the epoch, and the foreachBatch
  // retry rewrites the whole `batch=<id>` partition and clears the
  // marker. Without this, a fold between a failed attempt and its
  // retry would move the failed rows into the epoch where the retry's
  // own-batch LISTING exclusion cannot see them — every doc would
  // self-match and the persisted verdicts would be silently wrong.

  private val indexLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()
  private val leaseDepth =
    new java.util.concurrent.ConcurrentHashMap[String, Integer]()
  private[graft] val jvmLeaseId =
    java.util.UUID.randomUUID().toString

  /** How stale (mod-time age) an on-disk `_maint_lease` must be
    * before another process may BREAK it — longer than the HEARTBEAT
    * interval with wide margin, so a crashed owner self-heals within
    * the hour while a live one is never preempted: the holder
    * refreshes the lease mtime every [[LeaseHeartbeatMs]] for the
    * whole held span, so even a multi-hour fold keeps its age far
    * under the break window (pre-r19 the mtime was written once —
    * any op longer than the window had its LIVE lease broken).
    * Mod-time based: clock skew between writers eats into the margin
    * (document it when deploying across machines). */
  val LeaseBreakMs: Long = 60L * 60L * 1000L

  /** Lease mtime refresh cadence while held — ≪ [[LeaseBreakMs]]. */
  val LeaseHeartbeatMs: Long = LeaseBreakMs / 6

  private def leasePath(indexDir: String) =
    new org.apache.hadoop.fs.Path(s"$indexDir/_maint_lease")

  /** The cross-process lease primitive, injectable for deployments
    * whose filesystem cannot give the required atomicity. The
    * CONTRACT: `tryCreate` must be atomic create-no-overwrite (two
    * concurrent callers → exactly one true), and `breakLease` must
    * elect at most one winner among concurrent breakers. HDFS and
    * local filesystems satisfy both natively ([[FsLeaseProvider]],
    * the default); object stores without conditional writes satisfy
    * NEITHER — deploying there requires a coordinator-backed
    * provider (e.g. a DynamoDB/ZK conditional put behind this
    * trait), and a provider that declares itself non-atomic is
    * REFUSED at acquire time rather than silently downgrading the
    * single-writer guarantee to a race. */
  trait LeaseProvider {
    /** True iff this provider's create/break really are atomic —
      * checked before every acquire; `false` refuses loudly. */
    def isAtomic: Boolean
    /** Create the lease with `body` iff absent. True = acquired;
      * false = a lease exists. Throws on environmental failure
      * (permissions, read-only FS) — the caller counts those. */
    def tryCreate(fs: org.apache.hadoop.fs.FileSystem,
        p: org.apache.hadoop.fs.Path, body: String): Boolean
    def readBody(fs: org.apache.hadoop.fs.FileSystem,
        p: org.apache.hadoop.fs.Path): Option[String]
    def ageMs(fs: org.apache.hadoop.fs.FileSystem,
        p: org.apache.hadoop.fs.Path): Option[Long]
    /** Refresh the lease's mtime (heartbeat). */
    def touch(fs: org.apache.hadoop.fs.FileSystem,
        p: org.apache.hadoop.fs.Path): Unit
    /** Remove a lease believed dead so the breaker can re-create.
      * Must elect ONE winner among concurrent breakers — true iff
      * this caller won. A delete here would reinstate the race the
      * election exists to close: two breakers both stat the stale
      * lease, A deletes + re-creates, B's pending delete then
      * removes A's FRESH lease. */
    def breakLease(fs: org.apache.hadoop.fs.FileSystem,
        p: org.apache.hadoop.fs.Path): Boolean
    def delete(fs: org.apache.hadoop.fs.FileSystem,
        p: org.apache.hadoop.fs.Path): Unit
  }

  /** Default provider: HDFS/local-FS semantics. Breaking renames the
    * lease to a breaker-unique name (rename is atomic and fails for
    * every breaker but one — the winner then deletes its private
    * copy), never deletes in place. */
  object FsLeaseProvider extends LeaseProvider {
    def isAtomic = true
    def tryCreate(fs: org.apache.hadoop.fs.FileSystem,
        p: org.apache.hadoop.fs.Path, body: String): Boolean =
      try {
        val out = fs.create(p, false)
        try out.write(body.getBytes("UTF-8"))
        finally out.close()
        true
      } catch {
        case e: java.io.IOException =>
          // create-vs-exists is the one IOException that means
          // "held", not "broken environment"
          if (fs.exists(p)) false else throw e
      }
    def readBody(fs: org.apache.hadoop.fs.FileSystem,
        p: org.apache.hadoop.fs.Path): Option[String] =
      try {
        val in = fs.open(p)
        try Some(scala.io.Source.fromInputStream(in, "UTF-8")
          .mkString)
        finally in.close()
      } catch { case _: java.io.IOException => None }
    def ageMs(fs: org.apache.hadoop.fs.FileSystem,
        p: org.apache.hadoop.fs.Path): Option[Long] =
      try Some(System.currentTimeMillis() -
        fs.getFileStatus(p).getModificationTime)
      catch { case _: java.io.FileNotFoundException => None }
    def touch(fs: org.apache.hadoop.fs.FileSystem,
        p: org.apache.hadoop.fs.Path): Unit =
      fs.setTimes(p, System.currentTimeMillis(), -1)
    def breakLease(fs: org.apache.hadoop.fs.FileSystem,
        p: org.apache.hadoop.fs.Path): Boolean = {
      val grave = new org.apache.hadoop.fs.Path(
        s"$p.broken.${java.util.UUID.randomUUID()}")
      val won = try fs.rename(p, grave)
        catch { case _: java.io.IOException => false }
      if (won) fs.delete(grave, false): Unit
      won
    }
    def delete(fs: org.apache.hadoop.fs.FileSystem,
        p: org.apache.hadoop.fs.Path): Unit =
      fs.delete(p, false): Unit
  }

  /** The active provider — swap for a coordinator-backed impl on
    * object stores (also the test seam for the atomicity refusal and
    * fault-injection specs). */
  @volatile private[graft] var leaseProvider: LeaseProvider =
    FsLeaseProvider

  /** Pid-namespace discriminator for the dead-owner fast path: two
    * containerized daemons can SHARE a hostname while living in
    * different pid namespaces, where `ProcessHandle.of(otherPid)`
    * is meaningless — a live foreign holder would look "dead" and
    * its lease would be broken instantly, silently defeating the
    * single-writer fail-fast. On Linux the namespace identity is the
    * `/proc/self/ns/pid` symlink target (`pid:[inode]`); elsewhere
    * (or when unreadable) "na", which [[ownerDead]] treats as
    * "cannot verify → fall back to the age-based break". */
  private[graft] lazy val pidNsToken: String =
    try java.nio.file.Files.readSymbolicLink(
      java.nio.file.Paths.get("/proc/self/ns/pid")).toString
    catch { case scala.util.control.NonFatal(_) => "na" }

  private def leaseBody(): String = {
    val host =
      try java.net.InetAddress.getLocalHost.getHostName
      catch { case _: java.io.IOException => "unknown" }
    s"$jvmLeaseId\nhost=$host\npid=${ProcessHandle.current.pid}" +
      s"\nns=$pidNsToken"
  }

  /** True when `body` names a holder on THIS host, in THIS pid
    * namespace, whose pid is no longer alive — a
    * crashed-and-restarted daemon can reclaim its own root
    * immediately instead of blocking every write (ingest batches
    * take this lock too) for the full break window. The namespace
    * token must MATCH (and be verifiable on both sides) before the
    * pid liveness probe is trusted: a lease written by a process in
    * another pid namespace — or by a pre-token binary — falls back
    * to the age-based break, never the fast path. */
  private def ownerDead(body: String): Boolean = {
    val kv = body.linesIterator.flatMap(_.split("=", 2) match {
      case Array(k, v) => Some(k -> v); case _ => None
    }).toMap
    val host =
      try java.net.InetAddress.getLocalHost.getHostName
      catch { case _: java.io.IOException => return false }
    val sameNs = kv.get("ns").exists(n => n != "na" && n == pidNsToken)
    (kv.get("host"), kv.get("pid").flatMap(_.toLongOption)) match {
      case (Some(h), Some(pid)) if h == host && sameNs =>
        ProcessHandle.of(pid)
          .map[Boolean](ph => !ph.isAlive).orElse(true)
      case _ => false
    }
  }

  /** Take the cross-PROCESS half of the single-writer contract via
    * [[leaseProvider]] (atomic create-no-overwrite of
    * `_maint_lease`). The JVM lock alone serialized writers INSIDE
    * one process, so two daemons misconfigured to own the same root
    * could interleave folds — and one interleaving (writer B lists
    * hot dirs while writer A's post-commit cleanup deletes them
    * mid-listing) folds a PARTIAL batch and commits it: silent row
    * loss, not just wasted work. Contention with a LIVE foreign
    * lease fails fast (the contract allows one maintenance owner per
    * root — a deployment error; the tick's per-root fault isolation
    * logs and retries it). A lease is broken — via the provider's
    * one-winner election, never a delete — when it is older than
    * [[LeaseBreakMs]] (crashed owner, heartbeat stopped) or its
    * recorded owner is a dead pid on this host (instant same-host
    * restart reclaim). Environmental create failures (permissions,
    * read-only FS) are COUNTED and rethrown after a few tries — age
    * probes returning "no lease" must not turn them into a silent
    * infinite busy-loop the tick's fault isolation can never see. */
  private def acquireLease(fs: org.apache.hadoop.fs.FileSystem,
      indexDir: String): Unit = {
    require(leaseProvider.isAtomic,
      s"lease provider ${leaseProvider.getClass.getSimpleName} " +
        "declares non-atomic create: the cross-process single-writer " +
        "guarantee cannot hold on this filesystem. Inject a " +
        "coordinator-backed LeaseProvider (conditional put) instead " +
        "of silently racing.")
    val p = leasePath(indexDir)
    var liveAttempts = 0
    var createFailures = 0
    while (true) {
      val acquired =
        try {
          val ok = leaseProvider.tryCreate(fs, p, leaseBody())
          createFailures = 0
          ok
        } catch {
          case e: java.io.IOException =>
            createFailures += 1
            if (createFailures >= 5) throw e
            Thread.sleep(50L * createFailures)
            false
        }
      if (acquired) return
      leaseProvider.ageMs(fs, p) match {
        case None => () // released under us — retry the create
        case Some(age) =>
          val dead = leaseProvider.readBody(fs, p).exists(ownerDead)
          if (age > LeaseBreakMs || dead) {
            System.err.println(s"[graft] WARNING: breaking " +
              s"maintenance lease on $indexDir (" +
              (if (dead) "owner pid dead on this host"
               else s"stale: age ${age}ms > $LeaseBreakMs ms") +
              "): its owner crashed without releasing")
            leaseProvider.breakLease(fs, p): Unit
          } else if (liveAttempts >= 3) {
            sys.error(s"index $indexDir is being maintained by " +
              "another process (live _maint_lease, age " + age +
              " ms); the single-writer contract allows ONE " +
              "maintenance owner per root — check the daemon " +
              "configuration")
          } else {
            Thread.sleep(50L * (liveAttempts + 1))
            liveAttempts += 1
          }
      }
    }
  }

  /** Release only OUR lease: if it was broken (we overran the stale
    * window and another process took over), leave theirs alone. */
  private def releaseLease(fs: org.apache.hadoop.fs.FileSystem,
      indexDir: String): Unit = {
    val p = leasePath(indexDir)
    try {
      if (leaseProvider.readBody(fs, p)
          .exists(_.startsWith(jvmLeaseId)))
        leaseProvider.delete(fs, p)
    } catch { case _: java.io.IOException => () }
  }

  /** Heartbeat scheduling is decoupled from heartbeat EXECUTION: the
    * scheduler thread only dispatches; each tick's FS work (touch/
    * readBody) runs on its own cached daemon thread, guarded by a
    * per-root in-flight flag. One touch hung on a degraded filesystem
    * therefore (a) never occupies the scheduler — heartbeats for
    * every OTHER held root keep firing on their own threads — and
    * (b) accumulates at most ONE stuck thread per root (ticks that
    * find the previous one still in flight are skipped, not queued).
    * The failure this prevents: a shared single-thread executor let
    * one stuck root starve all heartbeats, aging unrelated LIVE
    * leases past LeaseBreakMs while their owners were still working. */
  private lazy val leaseHeartbeats =
    java.util.concurrent.Executors.newSingleThreadScheduledExecutor(
      (r: Runnable) => {
        val t = new Thread(r, "graft-lease-heartbeat")
        t.setDaemon(true)
        t
      })

  private lazy val leaseHeartbeatWorkers = {
    val n = new java.util.concurrent.atomic.AtomicLong()
    java.util.concurrent.Executors.newCachedThreadPool(
      (r: Runnable) => {
        val t = new Thread(r,
          s"graft-lease-heartbeat-worker-${n.incrementAndGet()}")
        t.setDaemon(true)
        t
      })
  }

  private val heartbeatInFlight =
    new java.util.concurrent.ConcurrentHashMap[String,
      java.util.concurrent.atomic.AtomicBoolean]()

  /** Start the held-lease heartbeat: refresh the mtime every
    * [[LeaseHeartbeatMs]] so a long fold/re-cluster never ages into
    * the break window while its owner is alive. Guarded by an
    * ownership re-read — if our lease WAS broken (we stalled past
    * the window and another writer took over), we must not refresh
    * the usurper's clock; the worst race is one harmless refresh. */
  /** One heartbeat tick (factored out so the spec can drive it
    * without waiting out the cadence): true iff we still owned the
    * lease and refreshed it. */
  private[graft] def heartbeatOnce(
      fs: org.apache.hadoop.fs.FileSystem, indexDir: String)
      : Boolean =
    try {
      val p = leasePath(indexDir)
      val mine = leaseProvider.readBody(fs, p)
        .exists(_.startsWith(jvmLeaseId))
      if (mine) leaseProvider.touch(fs, p)
      mine
    } catch { case scala.util.control.NonFatal(_) => false }

  /** One scheduler tick: hand the root's FS heartbeat to a worker
    * thread unless the PREVIOUS one is still in flight (hung FS) —
    * skipped, not queued, so a stuck root accumulates at most one
    * stuck thread. Returns true iff a worker was dispatched (the
    * spec's seam for the no-pileup and no-starvation proofs). */
  private[graft] def dispatchHeartbeat(
      fs: org.apache.hadoop.fs.FileSystem, indexDir: String)
      : Boolean = {
    val busy = heartbeatInFlight.computeIfAbsent(indexDir,
      _ => new java.util.concurrent.atomic.AtomicBoolean(false))
    val dispatch = busy.compareAndSet(false, true)
    if (dispatch)
      leaseHeartbeatWorkers.execute { () =>
        try { heartbeatOnce(fs, indexDir): Unit }
        finally busy.set(false)
      }
    dispatch
  }

  private def startHeartbeat(fs: org.apache.hadoop.fs.FileSystem,
      indexDir: String): java.util.concurrent.ScheduledFuture[_] =
    leaseHeartbeats.scheduleAtFixedRate(
      () => { dispatchHeartbeat(fs, indexDir): Unit },
      LeaseHeartbeatMs, LeaseHeartbeatMs,
      java.util.concurrent.TimeUnit.MILLISECONDS)

  /** Serialize ingest/fold/maintenance for one index root — within
    * this JVM (monitor, reentrant: maintainIndexes → compact* nests
    * fine) AND across processes (the `_maint_lease` file, acquired at
    * the outermost entry, heartbeated while held, released on exit,
    * success or failure). */
  private[graft] def withIndexLock[T](spark: SparkSession,
      indexDir: String)(f: => T): T =
    indexLocks.computeIfAbsent(indexDir, _ => new Object)
      .synchronized {
        val fs = new org.apache.hadoop.fs.Path(indexDir)
          .getFileSystem(spark.sessionState.newHadoopConf())
        val depth: Int = leaseDepth.getOrDefault(indexDir, 0)
        var beat: Option[java.util.concurrent.ScheduledFuture[_]] =
          None
        if (depth == 0) {
          acquireLease(fs, indexDir)
          beat = Some(startHeartbeat(fs, indexDir))
        }
        leaseDepth.put(indexDir, depth + 1)
        try f
        finally {
          val d = leaseDepth.get(indexDir) - 1
          if (d == 0) {
            leaseDepth.remove(indexDir)
            beat.foreach(_.cancel(false): Unit)
            releaseLease(fs, indexDir)
          } else leaseDepth.put(indexDir, d)
        }
      }

  /** Run two INDEPENDENT index-face mutations concurrently (guide
    * §2.6: actions are only sequential because the driver calls them
    * sequentially — two faces touching disjoint dirs can overlap, so
    * the fold's wall time is max-of-faces, not sum-of-faces; the
    * Spark scheduler interleaves their small jobs). The caller holds
    * the index lock; the faces share nothing but the session. */
  private[graft] def inParallelFaces[A, B](fa: => A, fb: => B)
      : (A, B) = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    try {
      val f1 = pool.submit(new java.util.concurrent.Callable[A] {
        def call(): A = fa
      })
      val f2 = pool.submit(new java.util.concurrent.Callable[B] {
        def call(): B = fb
      })
      // BOTH futures are awaited before any rethrow: the caller holds
      // the index lock/lease, and an early rethrow on face 1's failure
      // would let face 2 keep mutating its dirs AFTER the lock scope
      // unwinds and the lease releases (r21 adviser) — no face may
      // outlive the lock. The first failure wins; the other face's
      // failure (if any) rides along as suppressed.
      def outcome[T](f: java.util.concurrent.Future[T])
          : Either[Throwable, T] =
        try Right(f.get())
        catch {
          case e: java.util.concurrent.ExecutionException =>
            Left(Option(e.getCause).getOrElse(e))
          case e: Throwable => Left(e)
        }
      (outcome(f1), outcome(f2)) match {
        case (Right(a), Right(b)) => (a, b)
        case (Left(t), other) =>
          other.left.foreach { o => if (o ne t) t.addSuppressed(o) }
          throw t
        case (_, Left(t)) => throw t
      }
    } finally pool.shutdown()
  }

  private def inflightMarker(indexDir: String, batchId: Long) =
    new org.apache.hadoop.fs.Path(s"$indexDir/_inflight_$batchId")

  private def markInflight(fs: org.apache.hadoop.fs.FileSystem,
      indexDir: String, batchId: Long): Unit =
    fs.create(inflightMarker(indexDir, batchId), true).close()

  private def clearInflight(fs: org.apache.hadoop.fs.FileSystem,
      indexDir: String, batchId: Long): Unit =
    fs.delete(inflightMarker(indexDir, batchId), false): Unit

  /** Batch ids with a live in-flight marker — the fold folds only
    * strictly BELOW their minimum (folding a later acked batch past a
    * stalled one would advance the watermark over the stall and make
    * its eventual retry invisible to readers). A marker left by an
    * ABANDONED stream stalls compaction of that root forever — the
    * safe failure mode; surfaced by the index stats so an operator
    * can see it. */
  private[graft] def inflightIds(spark: SparkSession,
      indexDir: String): Set[Long] = {
    val p = new org.apache.hadoop.fs.Path(indexDir)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(p)) Set.empty
    else fs.listStatus(p).toSeq.collect {
      case st if st.getPath.getName.startsWith("_inflight_") =>
        st.getPath.getName.stripPrefix("_inflight_").toLong
    }.toSet
  }

  /** The banded index's joint join key, hashed into `buckets` partition
    * dirs — the layout contract shared by [[compactLshIndex]] (writer)
    * and [[prunedEpochBands]] (reader). */
  private def bandBucket(buckets: Int): Column =
    pmod(xxhash64(col("band"), col("band_hash")), lit(buckets.toLong))
      .cast("int")

  /** Signature-store partition key: id mod buckets (candidate old-ids
    * are collision-bounded, so their bucket set is small). */
  private def idBucket(id: Column, buckets: Int): Column =
    pmod(id, lit(buckets.toLong)).cast("int")

  /** One string key per band row for the bloom prefilter (band is a
    * small int and the hash hex, so the \u0001 separator is
    * collision-free). */
  private def bandKey: Column =
    concat_ws("\u0001", col("band"), col("band_hash"))

  /** One micro-batch of the growing-index ingest, under an explicit
    * batch id (usable as a `foreachBatch` body, or called directly
    * with explicit ids for replays and backfills).
    *
    * Probe-path pruning (the two-tier layout contract): the stored
    * index is a hot tail of `batch=<id>` partitions plus a compacted
    * epoch ([[compactLshIndex]]) laid out for pruning. The band probe
    * lists ONLY the epoch partitions the batch's own band hashes
    * touch and drops non-colliding rows inside the scan with a bloom
    * prefilter built from the batch side; the signature confirm first
    * materializes the candidate pairs (collision-bounded, cached) and
    * then lists only the id-buckets holding candidate ids. Per-step
    * STORE I/O is therefore bounded by the batch's touched buckets
    * and true candidates — flat in store size for a fixed batch (the
    * hot tail still scans, but its size is bounded by the compaction
    * cadence, and bloom false positives only cost the exact join that
    * follows, so results are IDENTICAL to the unpruned read:
    * [[graft.operators.Dedup.lshIndexIngestFrom]] is the shared
    * decision logic).
    *
    * Replay safety: hot reads exclude the `batch=<batchId>` dir at
    * the LISTING — a retried micro-batch (the foreachBatch
    * at-least-once contract) must not see the rows its own failed
    * attempt wrote, or every doc would match itself, be marked dup,
    * and the empty delta's overwrite would erase the prior attempt's
    * index rows. The replay×compaction window is closed structurally
    * by the single-writer gate: the batch runs under the index lock
    * with an `_inflight_` marker, so a fold can neither interleave
    * with it nor fold a failed attempt's rows into the epoch before
    * the retry (see the gate's comment block). */
  def lshIngestBatch(batch: DataFrame, idCol: String, textCol: String,
      indexDir: String, marksDir: String, batchId: Long,
      numHashes: Int, bands: Int, shingleLen: Int,
      minMatches: Int): Unit =
    withIndexLock(batch.sparkSession, indexDir) {
    val spark = batch.sparkSession
    val fs = new org.apache.hadoop.fs.Path(indexDir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    markInflight(fs, indexDir, batchId)
    val sigs = Dedup.minhashSignatures(batch, idCol, textCol,
      numHashes, shingleLen).cache()
    val newBands = Dedup.lshBandsFromSig(sigs, bands, numHashes).cache()
    try {
      val (hotBands, hotSigs) =
        readLshHot(spark, indexDir, excludeBatch = Some(batchId))
      val storedBands = tiersUnion(
        hotBands.toSeq ++ prunedEpochBands(spark, indexDir, newBands),
        emptyBands(spark))
      val pairs = Dedup.lshCandidatePairsAcross(newBands, storedBands)
        .persist()
      try {
        val storedSigs = tiersUnion(
          hotSigs.toSeq ++ prunedEpochSigs(spark, indexDir, pairs),
          emptySigs(spark))
        val storeConf =
          Dedup.signatureMatchesAcross(pairs, sigs, storedSigs)
        val (marks, delta) = Dedup.lshIndexIngestFrom(sigs, newBands,
          storeConf, minMatches, withinBatch = true)
        val keepSigs = sigs.join(delta.select("id").distinct(),
          Seq("id"), "left_semi")
        delta.write.mode("overwrite")
          .parquet(s"$indexDir/bands/batch=$batchId")
        keepSigs.write.mode("overwrite")
          .parquet(s"$indexDir/sigs/batch=$batchId")
        marks.write.mode("overwrite")
          .parquet(s"$marksDir/batch=$batchId")
        // cleared ONLY after every write landed — a failure above
        // leaves the marker, and the fold waits for the retry
        clearInflight(fs, indexDir, batchId)
      } finally pairs.unpersist(): Unit
    } finally {
      newBands.unpersist(): Unit
      sigs.unpersist(): Unit
    }
  }

  /** The epoch band rows a batch's probe can possibly collide with:
    * each SEGMENT partition-pruned to the batch's own (band,
    * band_hash) buckets — the directory listing shrinks BEFORE any
    * file opens — plus a bloom prefilter from the batch side (built
    * once, shared by every segment scan) that drops non-colliding
    * rows inside the scan's codegen stage. Exact: the bucket sets are
    * derived with each segment's OWN bucket count (from the
    * manifest, never assumed — segments folded at different store
    * sizes carry different counts) and a bloom has no false
    * negatives. One driver job computes the touched sets for ALL
    * distinct counts at once ([[touchedBuckets]]). None when no
    * epoch exists yet. */
  private[graft] def prunedEpochBands(spark: SparkSession,
      indexDir: String, newBands: DataFrame): Option[DataFrame] =
    readLayout(spark, s"$indexDir/bands_epoch").flatMap { layout =>
      if (layout.segs.isEmpty) None
      else {
        val touched = touchedBuckets(newBands, bandBucket,
          layout.segs.map(_.buckets).distinct)
        val bloom = RuntimeFilters.buildBloom(
          newBands.select(bandKey.as("__k")), "__k")
        Some(layout.segs.map { s =>
          readSegLive(spark, s"$indexDir/bands_epoch", s,
            layout.tombs, "id", layout.ltombs)
            .filter(col("bb").isin(touched(s.buckets): _*))
            .filter(RuntimeFilters.mightContain(bloom, bandKey))
            .select(col("id"), col("band"), col("band_hash"))
        }.reduce(_.unionByName(_)))
      }
    }

  /** The epoch signature partitions holding candidate old-ids:
    * candidates are collision-bounded (and persisted by the caller),
    * so collecting their DISTINCT id-buckets per segment bucket
    * count is a driver-sized int list — the confirm stage then lists
    * only those partitions of each segment instead of the whole
    * signature store. None when no epoch exists yet. */
  private[graft] def prunedEpochSigs(spark: SparkSession,
      indexDir: String, pairs: DataFrame): Option[DataFrame] =
    readLayout(spark, s"$indexDir/sigs_epoch").flatMap { layout =>
      if (layout.segs.isEmpty) None
      else {
        val touched = touchedBuckets(pairs,
          idBucket(col("old_id"), _),
          layout.segs.map(_.buckets).distinct)
        Some(layout.segs.map { s =>
          readSegLive(spark, s"$indexDir/sigs_epoch", s,
            layout.tombs, "id", layout.ltombs)
            .filter(col("ib").isin(touched(s.buckets): _*))
            .select(col("id"), col("sig"))
        }.reduce(_.unionByName(_)))
      }
    }

  /** The probe side's touched bucket set for EVERY distinct segment
    * bucket count in one Spark job (one `agg` of per-count
    * collect_sets — each result set is ≤ that count ints,
    * driver-sized by construction). */
  private def touchedBuckets(df: DataFrame, keyFor: Int => Column,
      counts: Seq[Int]): Map[Int, Seq[Int]] = {
    val aggs = counts.map(c => collect_set(keyFor(c)).as(s"__t$c"))
    val row = df.agg(aggs.head, aggs.tail: _*).head()
    counts.zipWithIndex.map { case (c, i) =>
      c -> row.getSeq[Int](i).toSeq
    }.toMap
  }

  /** Compact the growing index — fold the hot `batch=<id>` tail into
    * the tiered epoch. Bands land partitioned by
    * `bb = pmod(xxhash64(band, band_hash), buckets)` and sorted by
    * the join key within files; signatures by `ib = pmod(id,
    * buckets)` sorted by id — so a probe's epoch I/O is bounded by
    * its touched buckets ([[prunedEpochBands]]/[[prunedEpochSigs]]),
    * per-bucket files stay row-group-skippable, and small files stay
    * solved (≈1 file per bucket per segment).
    *
    * Cost: O(hot) on most folds — the tail becomes ONE new segment;
    * adjacent segments merge only past the [[LevelMergeFactor]]
    * ratio, so per-row write amplification is logarithmic in store
    * size (the r16 fold rewrote the whole store every time).
    *
    * Crash safety: segments are immutable and invisible until the
    * single `_layout` manifest commits them (tmp-write + rename, with
    * read-side recovery); folded hot dirs and merged-away segments
    * are deleted only AFTER the manifest swap, and every reader lists
    * the hot tail only ABOVE the manifest watermark — a crash
    * anywhere leaves duplicate bytes on disk, never duplicate rows in
    * a read.
    *
    * Single-writer gate: runs under the per-index lock and refuses to
    * fold at/past any `_inflight_` batch (see the gate's comment
    * block) — the r16 "documented contract" is now structural.
    *
    * Returns (band rows, signature rows) after compaction. */
  def compactLshIndex(spark: SparkSession, indexDir: String,
      /** 0 (default) = auto-size per segment from its input bytes
        * ([[DefaultBucketBytes]] per bucket); explicit for callers
        * pinning a shape. */
      buckets: Int = 0,
      /** Retention/expiry (r16): when set, the fold DROPS index rows
        * whose id is not in this one-column live-id frame — the
        * growing index otherwise accretes ghost entries forever as
        * the corpus runs deletes/retention, and a late duplicate of
        * an EXPIRED canonical would be marked dup against a document
        * that no longer exists. Marks semantics after expiry: the
        * next arriving copy of an expired canonical's content is NOT
        * a dup — it becomes the new canonical and enters the index
        * (the successor rule; spec-pinned). An expiry fold writes a
        * TOMBSTONE segment (r18): O(expired) bytes plus one
        * id-column-pruned scan, never a store rewrite — readers
        * anti-join live tombstones and the geometric merges drop the
        * rows physically when they were going to rewrite those
        * segments anyway.
        * Same retention-scoped posture as the measurement catalog
        * (the reference clamps every query to the RP window,
        * pkg/agent/sync.go:122-126). */
      liveIds: Option[DataFrame] = None): (Long, Long) =
    withIndexLock(spark, indexDir) {
      val inflight = inflightIds(spark, indexDir)
      // bands and sigs are independent faces (disjoint dirs) — fold
      // them concurrently (max-of-faces wall time, guide §2.6)
      inParallelFaces(
        relayoutEpoch(spark, s"$indexDir/bands",
          s"$indexDir/bands_epoch", buckets,
          df => df.select(col("id").cast("long").as("id"),
            col("band").cast("int").as("band"), col("band_hash")),
          Some(bandBucket), "bb", Seq("band", "band_hash"), "id",
          retain = liveIds, inflight = inflight),
        relayoutEpoch(spark, s"$indexDir/sigs", s"$indexDir/sigs_epoch",
          buckets,
          df => df.select(col("id").cast("long").as("id"), col("sig")),
          Some(idBucket(col("id"), _)), "ib", Seq("id"), "id",
          retain = liveIds, inflight = inflight))
    }

  /** Same fold for the IVF index: `assign/batch=<id>` hot dirs land in
    * `assign_epoch/` segments partitioned by the PROBE KEY ITSELF
    * (`list`) and sorted by vec_id — nProbe=1 queries then list only
    * their probed lists' partitions ([[ivfIndexTopK]]). Returns the
    * row count. */
  def compactIvfIndex(spark: SparkSession, indexDir: String,
      /** Retention/expiry: drop assignments whose vec_id is not in
        * this live-id frame (see [[compactLshIndex]]'s liveIds). */
      liveIds: Option[DataFrame] = None): Long =
    withIndexLock(spark, indexDir) {
      val inflight = inflightIds(spark, indexDir)
      val fs = new org.apache.hadoop.fs.Path(indexDir)
        .getFileSystem(spark.sessionState.newHadoopConf())
      def face(sub: String) =
        fs.exists(new org.apache.hadoop.fs.Path(s"$indexDir/$sub"))
      // assign and codes are independent faces (disjoint dirs) —
      // fold them concurrently (max-of-faces wall time, guide §2.6).
      // The codes face folds under the same watermark discipline —
      // same layout (list= partitions, vec_id sort), ~numSub ints
      // per row instead of dim doubles
      val (assign, codes) = inParallelFaces(
        if (face("assign") || face("assign_epoch"))
          relayoutEpoch(spark, s"$indexDir/assign",
            s"$indexDir/assign_epoch", bucketsReq = 0,
            df => df.select(col("vec_id").cast("long").as("vec_id"),
              col("list").cast("long").as("list"), col("vec")),
            None, "list", Seq("vec_id"), "vec_id",
            retain = liveIds, inflight = inflight)
        else 0L,
        if (face("codes") || face("codes_epoch"))
          relayoutEpoch(spark, s"$indexDir/codes",
            s"$indexDir/codes_epoch", bucketsReq = 0,
            df => df.select(col("vec_id").cast("long").as("vec_id"),
              col("list").cast("long").as("list"), col("codes")),
            None, "list", Seq("vec_id"), "vec_id",
            retain = liveIds, inflight = inflight)
        else 0L)
      assign + codes
    }

  /** Shared tiered-epoch fold. `project` normalizes every tier to the
    * epoch's data schema; `derive` adds a synthetic partition key
    * (None when the key is already a data column); `idCol` is the
    * face's id column (the retention/tombstone key).
    *
    * Phases: (1) the foldable hot dirs (above the watermark, strictly
    * below the lowest in-flight batch) become ONE new segment —
    * O(hot), with the live-id semi join riding the fold on a
    * retention pass; (1b, retention only, r18) the expired ids
    * already stored in the epoch are written as ONE tombstone
    * segment — O(expired) write plus an id-column-pruned scan,
    * instead of the r17 full-store rewrite; readers anti-join live
    * tombstones ([[readSegLive]]) and geometric merges drop the rows
    * physically; (2) the logarithmic merge policy runs the stack:
    * while the newest segment is within 1/[[LevelMergeFactor]] of
    * its predecessor's bytes, the two merge (possibly cascading to a
    * full merge — that's the geometric schedule), with applicable
    * tombstones applied inside the merge read (the merged segment's
    * fresh id lifts them off it). Spent tombstones (no covered live
    * segment left) drop at the commit. The manifest swap is the only
    * commit point; inputs are deleted after it. Row counts ride the
    * writes as `Observation`s — no post-write re-read. Returns LIVE
    * epoch rows (manifest-only unless tombstones are live). */
  private def relayoutEpoch(spark: SparkSession, hotPath: String,
      epochPath: String, bucketsReq: Int,
      project: DataFrame => DataFrame,
      derive: Option[Int => Column], partCol: String,
      sortCols: Seq[String], idCol: String,
      retain: Option[DataFrame] = None,
      inflight: Set[Long] = Set.empty): Long = {
    val hp = new org.apache.hadoop.fs.Path(hotPath)
    val fs = hp.getFileSystem(spark.sessionState.newHadoopConf())
    val prior = readLayout(spark, epochPath)
    val wm0 = prior.map(_.wm).getOrElse(Long.MinValue)
    val hotDirs = listBatchDirs(fs, hp)
    val minInflight =
      if (inflight.isEmpty) Long.MaxValue else inflight.min
    // crash leftovers at/below the watermark are already in the
    // epoch: cleared, never re-folded; nothing at/past an in-flight
    // batch folds (its retry must stay visible to hot readers)
    val fold = hotDirs
      .filter { case (id, _) => id > wm0 && id < minInflight }
      .sortBy(_._1)
    if (fold.isEmpty && retain.isEmpty) {
      hotDirs.filter(_._1 <= wm0)
        .foreach { case (_, d) => fs.delete(d, true): Unit }
      return prior.map(liveTotal(spark, epochPath, _, idCol))
        .getOrElse(0L)
    }
    if (fold.isEmpty && prior.isEmpty) return 0L
    val wm1 = math.max(
      if (fold.isEmpty) Long.MinValue else fold.map(_._1).max,
      math.max(wm0, -1L))

    // legacy (r16 single-epoch) stores carry a "." segment — its
    // rows ride the phase-1 fold once, after which the store is
    // fully segmented
    val (legacySegs, realSegs) =
      prior.map(_.segs).getOrElse(Seq.empty).partition(_.name == ".")
    val legacy = legacySegs.headOption
      .map(s => project(spark.read.parquet(segPath(epochPath, s))))
    // fresh ids must also clear the RETIRED dirs still on grace —
    // re-using a retired name would overwrite bytes a concurrent
    // reader may be holding (the grace guarantee)
    val retiredNames = prior.toSeq.flatMap(_.retired.map(_._1))
    var nextId = (realSegs.flatMap(s => segIdOf(s.name)) ++
      retiredNames.flatMap(segIdOf)).foldLeft(0L)(math.max) + 1

    def freshName(): String = { val n = s"seg_$nextId"; nextId += 1; n }

    def sizeBuckets(bytes: Long): Int =
      if (derive.isEmpty) 0
      else if (bucketsReq > 0) bucketsReq
      else math.max(1L, math.min(MaxEpochBuckets.toLong,
        (bytes + DefaultBucketBytes - 1) / DefaultBucketBytes)).toInt

    def bytesOf(s: SegRef): Long =
      if (s.bytes >= 0) s.bytes
      else fs.getContentSummary(
        new org.apache.hadoop.fs.Path(segPath(epochPath, s)))
        .getLength

    def writeSeg(df: DataFrame, buckets: Int): Option[SegRef] = {
      val out = derive match {
        case Some(f) => df.withColumn(partCol, f(buckets))
        case None => df
      }
      writeSegment(fs, epochPath, freshName(), out,
        if (derive.isEmpty) 0 else buckets, partCol, sortCols)
    }

    // retention: one id-keyed semi join against the live-id set — it
    // rides the hot fold (which is O(hot) anyway); the STORED side is
    // handled by a tombstone, never a rewrite
    def retained(df: DataFrame): DataFrame = retain match {
      case Some(live) =>
        df.join(
          live.toDF(idCol).select(col(idCol).cast("long").as(idCol))
            .distinct(),
          Seq(idCol), "left_semi")
      case None => df
    }

    val tombs0 = prior.map(_.tombs).getOrElse(Seq.empty)
    val ltombs0 = prior.map(_.ltombs).getOrElse(Seq.empty)

    val hot =
      if (fold.isEmpty) None
      else Some(project(spark.read.option("basePath", hotPath)
        .parquet(fold.map(_._2.toString): _*)))
    val hotBytes = fold.map { case (_, d) =>
      fs.getContentSummary(d).getLength }.sum

    // phase 1: hot tail (+ one-time legacy upgrade) -> ONE segment;
    // a retention pass semi-joins the live ids into this fold
    val fresh = (hot.toSeq ++ legacy.toSeq)
      .reduceOption(_.unionByName(_)).flatMap { df =>
        writeSeg(retained(df), sizeBuckets(hotBytes +
          legacySegs.headOption.map(bytesOf).sum))
      }

    // phase 1b (retention): expired ids stored in the epoch -> ONE
    // tombstone segment. O(expired) bytes; the scan that finds them
    // materializes only the id column. `covers` = the current top
    // data-segment id, so the fresh segment (and any later one,
    // successor-rule re-adds included) is never suppressed by it.
    val tombNew: Option[TombRef] = retain.flatMap { live =>
      if (realSegs.isEmpty) None
      else {
        val stored = realSegs.map(s =>
          readSegLive(spark, epochPath, s, Seq.empty, idCol, ltombs0)
            .select(col(idCol).cast("long").as("id")))
          .reduce(_.unionByName(_)).distinct()
        val liveN = live.toDF(idCol)
          .select(col(idCol).cast("long").as("id")).distinct()
        val nextTomb = (tombs0.map(_.name) ++ retiredNames)
          .filter(_.startsWith("tomb_"))
          .flatMap(_.stripPrefix("tomb_").toLongOption)
          .foldLeft(0L)(math.max) + 1
        writeTombstone(fs, epochPath, s"tomb_$nextTomb",
          stored.join(liveN, Seq("id"), "left_anti"),
          covers = realSegs.map(segIdNum).max)
      }
    }
    val tombsAll = tombs0 ++ tombNew.toSeq

    // phase 2: logarithmic merge — cascade while the newest segment
    // has caught up to 1/F of its predecessor; applicable tombstones
    // drop their rows physically inside the merge read
    var segs = realSegs ++ fresh.toSeq
    while (segs.length >= 2 &&
        segs.last.bytes * LevelMergeFactor >=
          segs(segs.length - 2).bytes) {
      val pair = segs.takeRight(2)
      val merged = writeSeg(
        pair.map(s => project(
          readSegLive(spark, epochPath, s, tombsAll, idCol,
            ltombs0)))
          .reduce(_.unionByName(_)),
        sizeBuckets(pair.map(bytesOf).sum))
      segs = segs.dropRight(2) ++ merged.toSeq
    }
    // a tombstone with no covered live segment left is spent
    val tombsLive = tombsAll.filter(t =>
      segs.exists(s => segIdNum(s) <= t.covers))
    val ltombsLive = ltombs0.filter(t =>
      segs.exists(s => segIdNum(s) <= t.covers))

    // the commit point: everything above is invisible until this swap
    val layout = IndexLayout(wm1,
      segs.lastOption.map(_.buckets)
        .getOrElse(prior.map(_.buckets).getOrElse(0)),
      segs, prior.flatMap(_.codebook), tombsLive,
      ltombs = ltombsLive)
    commitEpoch(fs, epochPath, layout)
    hotDirs.filter(_._1 <= wm1)
      .foreach { case (_, d) => fs.delete(d, true): Unit }
    liveTotal(spark, epochPath, layout, idCol)
  }

  /** One partitioned, sorted, row-counted segment from `df` (which
    * must already carry `partCol`); None when the input folded down
    * to zero rows (an expiry that drops everything must still commit
    * — as an EMPTY manifest, not a crash on an unreadable empty
    * dir). The dir is invisible garbage until a manifest references
    * it. */
  private def writeSegment(fs: org.apache.hadoop.fs.FileSystem,
      epochPath: String, name: String, out: DataFrame,
      buckets: Int, partCol: String, sortCols: Seq[String])
      : Option[SegRef] = {
    val dir = s"$epochPath/$name"
    val obs = org.apache.spark.sql.Observation()
    // sorting by (partCol, sortCols...) satisfies the writer's
    // required partition ordering as a prefix, so the within-file
    // sort SURVIVES into row-group min/max envelopes
    out.observe(obs, count(lit(1)).as("rows"))
      .repartition(col(partCol))
      .sortWithinPartitions((partCol +: sortCols).map(col): _*)
      .write.mode("overwrite").partitionBy(partCol)
      .parquet(dir)
    // a missing key means PropagateEmptyRelation collapsed a
    // PROVABLY-empty plan (e.g. an expiry that drops every row) and
    // took the CollectMetrics node with it — the only way the
    // metric can vanish, so absent ⇒ 0 rows
    val rows = obs.get.get("rows")
      .map(_.asInstanceOf[Long]).getOrElse(0L)
    if (rows == 0L) {
      fs.delete(new org.apache.hadoop.fs.Path(dir), true): Unit
      None
    } else {
      // BOTH IVF faces (list= layouts) carry a per-list row-count
      // sidecar: the assign one feeds the drift check
      // (ivfListHistogram — O(segments) instead of an O(store)
      // footer scan per tick), and both feed liveTotal's
      // ltomb-subtraction path — without the codes sidecar every
      // fold's return value on a split-repaired codes face would
      // cost an O(store) count for as long as the ltomb lives
      if (partCol == "list") writeHist(fs, dir, out.sparkSession)
      Some(SegRef(name, buckets,
        fs.getContentSummary(new org.apache.hadoop.fs.Path(dir))
          .getLength, rows))
    }
  }

  /** Persist the per-`list` row counts of ONE just-written segment as
    * a `_hist` sidecar inside the segment dir. Costs one footer-only
    * read-back of the NEW segment (the projected column is the
    * partition key, so no data pages open); buys [[ivfListHistogram]]
    * — the [[maybeReclusterIvfIndex]] drift trigger's input, run on
    * every maintenance tick when `index-max-skew` is enabled — an
    * O(segments + hot) read instead of an O(store-files) footer scan:
    * at 100 TB with ~32 MiB buckets that is a handful of tiny text
    * files versus millions of parquet footer opens per tick. The
    * sidecar is immutable segment state (travels and dies with its
    * dir; `_`-prefixed, so parquet readers ignore it); a segment
    * without one (pre-r18) falls back to the scan. */
  private def writeHist(fs: org.apache.hadoop.fs.FileSystem,
      segDir: String, spark: SparkSession): Unit = {
    val counts = spark.read.parquet(segDir)
      .groupBy(col("list").cast("long").as("list")).count()
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    val p = new org.apache.hadoop.fs.Path(s"$segDir/_hist")
    val out = fs.create(p, true)
    try out.write(counts.map { case (k, n) => s"$k:$n" }
      .mkString("", "\n", "\n").getBytes("UTF-8"))
    finally out.close()
  }

  /** The `_hist` sidecar of one segment dir, if present. */
  private def readHist(fs: org.apache.hadoop.fs.FileSystem,
      segDir: String): Option[Map[Long, Long]] = {
    val p = new org.apache.hadoop.fs.Path(s"$segDir/_hist")
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      val txt =
        try scala.io.Source.fromInputStream(in, "UTF-8").mkString
        finally in.close()
      Some(txt.linesIterator.filter(_.nonEmpty).map { l =>
        val Array(k, n) = l.split(":", 2)
        k.toLong -> n.toLong
      }.toMap)
    }
  }

  /** Minimum age before a `retired=` dir may be deleted — the TIME
    * half of the retirement grace (TOML `index-retire-grace-sec` /
    * CLI `-index-retiregrace`). The r18 grace was fold-COUNT-bounded
    * only (one cycle): under a fast fold cadence — many tiny batches
    * at a low `index-max-hot-batches` — two commits could land
    * milliseconds apart and a slow lock-free reader still hit
    * deleted files. Deletion now requires BOTH a subsequent commit
    * AND this minimum age (the VACUUM posture: structural safety
    * plus a wall-clock floor). Default ≥ the daemon's default
    * maintenance cadence, so at default settings at least one full
    * tick separates retirement from deletion however fast folds
    * cascade. */
  @volatile var retireGraceMs: Long = 10L * 60L * 1000L

  /** Swap the manifest (the single commit point), then clean — with a
    * grace window for anything a concurrent reader could be holding:
    * dirs that were live in the PRIOR manifest but not in this one
    * (merged-away inputs, spent tombstones, a re-cluster's old face)
    * are recorded as `retired=<name>:<atMs>` and deleted only by a
    * LATER commit once older than [[retireGraceMs]], so a lock-free
    * read that resolved a prior manifest before this swap can still
    * open every file it listed for at least a fold cycle AND the
    * grace age (instant deletion made that read fail the moment the
    * swap landed; the r18 one-fold rule alone collapsed under rapid
    * fold cadences). Never-committed dirs — crashed folds and
    * cascades — were never visible to any reader and are cleared
    * immediately. The window is BOUNDED, not eliminated: a reader
    * slower than a maintenance cycle plus the grace age must
    * re-resolve the manifest. (The one-time legacy "." upgrade keeps
    * eager deletion — its bucket dirs sit at the epoch root and
    * cannot be name-tracked.) A failure after the swap leaves dead
    * bytes, never wrong reads. */
  private def commitEpoch(fs: org.apache.hadoop.fs.FileSystem,
      epochPath: String, layout: IndexLayout): Unit = {
    val now = System.currentTimeMillis()
    val prior = readLayoutFs(fs, epochPath)
    val priorLive = prior.toSeq.flatMap(pl =>
      pl.segs.map(_.name).filterNot(_ == ".") ++
        pl.tombs.map(_.name)).toSet
    val live = layout.segs.map(_.name).toSet ++
      layout.tombs.map(_.name)
    // a prior retiree has had its one-fold cycle by construction (it
    // rode at least one committed manifest); it leaves grace only
    // once ALSO past the age floor
    val kept = prior.toSeq.flatMap(_.retired)
      .filter { case (_, at) => now - at <= retireGraceMs }
    val retired = kept ++
      (priorLive -- live).toSeq.sorted.map(_ -> now)
    writeLayout(fs, epochPath, layout.copy(retired = retired))
    val keep = live ++ retired.map(_._1)
    if (fs.exists(new org.apache.hadoop.fs.Path(epochPath)))
      fs.listStatus(new org.apache.hadoop.fs.Path(epochPath)).toSeq
        .filter(st => st.isDirectory && !keep(st.getPath.getName))
        .foreach(st => fs.delete(st.getPath, true): Unit)
  }

  private def segIdNum(s: SegRef): Long = segIdOf(s.name).getOrElse(0L)

  /** Union of the given tombstones' expired-id frames (one `id`
    * column, long). */
  private def tombIds(spark: SparkSession, epochPath: String,
      tombs: Seq[TombRef]): DataFrame =
    tombs.map(t => spark.read.parquet(s"$epochPath/${t.name}")
      .select(col("id").cast("long").as("id")))
      .reduce(_.unionByName(_))

  /** One data segment with its applicable tombstones suppressed — the
    * read-side half of tombstone retention. `idCol` is the face's id
    * column ("id" for bands/sigs, "vec_id" for assign/codes). A
    * segment younger than every tombstone reads raw (the common
    * case: no join node at all); the anti-join's right side is the
    * expired-id frame, broadcastable when small. List tombstones
    * (the per-list drift repair's suppression) apply as a NOT-IN
    * filter on the `list` partition key — the directory listing
    * shrinks before any file opens; no join node at all. */
  private def readSegLive(spark: SparkSession, epochPath: String,
      s: SegRef, tombs: Seq[TombRef], idCol: String,
      ltombs: Seq[LTombRef] = Seq.empty): DataFrame = {
    val df0 = spark.read.parquet(segPath(epochPath, s))
    val dead = ltombs.filter(_.covers >= segIdNum(s))
      .flatMap(_.lists).distinct
    val df =
      if (dead.isEmpty) df0
      else df0.filter(!col("list").cast("long").isin(dead: _*))
    val app = tombs.filter(_.covers >= segIdNum(s))
    if (app.isEmpty) df
    else df.join(
      tombIds(spark, epochPath, app)
        .withColumnRenamed("id", "__tomb_id"),
      col(idCol).cast("long") === col("__tomb_id"), "left_anti")
  }

  /** Write one tombstone segment (the expired-id frame); None when
    * nothing expired. Invisible garbage until a manifest references
    * it, like every data segment. */
  private def writeTombstone(fs: org.apache.hadoop.fs.FileSystem,
      epochPath: String, name: String, expired: DataFrame,
      covers: Long): Option[TombRef] = {
    val dir = s"$epochPath/$name"
    val obs = org.apache.spark.sql.Observation()
    expired.observe(obs, count(lit(1)).as("rows"))
      .write.mode("overwrite").parquet(dir)
    val rows = obs.get.get("rows")
      .map(_.asInstanceOf[Long]).getOrElse(0L)
    if (rows == 0L) {
      fs.delete(new org.apache.hadoop.fs.Path(dir), true): Unit
      None
    } else Some(TombRef(name,
      fs.getContentSummary(new org.apache.hadoop.fs.Path(dir))
        .getLength, rows, covers))
  }

  /** LIVE epoch rows: manifest-only (no scan) when no tombstones are
    * live; with only LIST tombstones, manifest + `_hist` sidecar
    * subtraction (tiny text reads — a fold's return value must not
    * cost an O(store) count while a repair's suppression is live);
    * with id tombstones or missing sidecars, one id-column-pruned
    * count of the suppressed view. Falls back to a count for a
    * legacy manifest that predates per-segment row counts. */
  private def liveTotal(spark: SparkSession, epochPath: String,
      l: IndexLayout, idCol: String): Long =
    if (l.tombs.isEmpty && l.ltombs.isEmpty &&
        l.segs.forall(_.rows >= 0))
      l.segs.map(_.rows).sum
    else {
      val viaSidecars =
        if (l.tombs.isEmpty && l.segs.forall(_.rows >= 0)) {
          val fs = new org.apache.hadoop.fs.Path(epochPath)
            .getFileSystem(spark.sessionState.newHadoopConf())
          suppressedByLtombs(fs, epochPath, l)
            .map(supp => l.segs.map(_.rows).sum - supp)
        } else None
      viaSidecars.getOrElse(l.segs
        .map(s =>
          readSegLive(spark, epochPath, s, l.tombs, idCol, l.ltombs)
            .select(col(idCol)))
        .reduceOption(_.unionByName(_))
        .map(_.count()).getOrElse(0L))
    }

  /** Total rows the live ltombs suppress, answered purely from
    * `_hist` sidecars — None when any covered segment lacks one
    * (legacy layout; the caller scans instead). */
  private def suppressedByLtombs(
      fs: org.apache.hadoop.fs.FileSystem, epochPath: String,
      l: IndexLayout): Option[Long] = {
    val per = l.segs.map { s =>
      val dead = l.ltombs.filter(_.covers >= segIdNum(s))
        .flatMap(_.lists).distinct
      if (dead.isEmpty) Some(0L)
      else readHist(fs, segPath(epochPath, s))
        .map(h => dead.map(h.getOrElse(_, 0L)).sum)
    }
    if (per.forall(_.isDefined)) Some(per.flatten.sum) else None
  }

  /** Cadence policy for the daemon tick: fold when the hot tail has
    * grown past `maxHotBatches` live `batch=<id>` dirs — so a
    * long-running stream never needs an operator to remember the
    * epoch fold (every un-folded batch adds listing + tiny-file open
    * cost to each ingest's hot-tail scan). Honors the single-writer
    * contract by construction ONLY when called from the maintenance
    * plane that owns the ingest, between acknowledged micro-batches —
    * the hamonitor tick in the daemon. Returns true iff a fold ran. */
  def maybeCompactLshIndex(spark: SparkSession, indexDir: String,
      maxHotBatches: Int = 8, buckets: Int = 0): Boolean =
    // max over BOTH tiers: a crash between the bands and sigs folds
    // inside compactLshIndex leaves sigs hot dirs the bands count
    // alone would never see, and their small-file cost would persist
    // until bands crossed the threshold again
    math.max(
      liveHotCount(spark, s"$indexDir/bands", s"$indexDir/bands_epoch"),
      liveHotCount(spark, s"$indexDir/sigs", s"$indexDir/sigs_epoch")
    ) > maxHotBatches && {
      compactLshIndex(spark, indexDir, buckets): Unit
      true
    }

  /** IVF face of [[maybeCompactLshIndex]] — same cadence contract,
    * over whichever of the assign/codes tiers the root hosts. */
  def maybeCompactIvfIndex(spark: SparkSession, indexDir: String,
      maxHotBatches: Int = 8): Boolean =
    math.max(
      liveHotCount(spark, s"$indexDir/assign",
        s"$indexDir/assign_epoch"),
      liveHotCount(spark, s"$indexDir/codes",
        s"$indexDir/codes_epoch")
    ) > maxHotBatches && {
      compactIvfIndex(spark, indexDir): Unit
      true
    }

  /** Tick-side maintenance over a set of index roots: detects each
    * root's face(s) by layout (bands/ → LSH, assign/ → IVF — one root
    * can host both) and applies the cadence policy, then (when
    * `maxSkew` > 0) the drift policy: an assign-face root whose
    * list-size skew has crossed the threshold is re-clustered
    * ([[maybeReclusterIvfIndex]]) — the repair that keeps probe
    * pruning alive as the corpus drifts away from a frozen codebook.
    * The daemon wires this into the hamonitor tick next to the CQ
    * pass (TOML `index-max-skew` / CLI `-index-maxskew`; 0 =
    * disabled, like the cadence threshold's default-off posture).
    *
    * Per-root FAULT ISOLATION: a root whose maintenance throws (a
    * corrupted store, a permissions change, a mid-write kill's
    * garbage) is logged and reported `false` — it must NOT abort the
    * tick for every other root: with many roots on one daemon, one
    * poisoned store would otherwise silently freeze ALL compaction
    * (the same invisible-stall class the `_inflight_` warning below
    * exists for). The failed root retries next tick; every commit it
    * already made is manifest-atomic, so a partial tick is safe. */
  def maintainIndexes(spark: SparkSession, indexDirs: Seq[String],
      maxHotBatches: Int = 8, maxSkew: Double = 0.0)
      : Seq[(String, Boolean)] =
    indexDirs.map { dir =>
      def guarded(stage: String)(work: => Boolean): Boolean =
        try work
        catch {
          case scala.util.control.NonFatal(e) =>
            System.err.println(s"[graft] WARNING: index $dir " +
              s"$stage maintenance failed (will retry next tick, " +
              s"other roots unaffected): $e")
            false
        }
      // the WHOLE per-root body runs guarded — the fs construction
      // and has() probes included: a bad URI or a listing-permission
      // failure there used to throw out of the map and abort the
      // tick for every remaining root, the exact stall class the
      // per-stage guards were added against
      dir -> guarded("root") {
      val fs = new org.apache.hadoop.fs.Path(dir)
        .getFileSystem(spark.sessionState.newHadoopConf())
      def has(sub: String) =
        fs.exists(new org.apache.hadoop.fs.Path(s"$dir/$sub"))
      val lsh = (has("bands") || has("bands_epoch")) &&
        guarded("lsh")(maybeCompactLshIndex(spark, dir, maxHotBatches))
      val ivf = (has("assign") || has("assign_epoch") ||
        has("codes") || has("codes_epoch")) &&
        guarded("ivf")(maybeCompactIvfIndex(spark, dir, maxHotBatches))
      // sidecar backfill BEFORE the drift check, so a pre-r18 store
      // converges to manifest+sidecar-only reads on its first tick
      val backfilled = (has("assign_epoch") || has("codes_epoch")) &&
        guarded("hist-backfill")(backfillHists(spark, dir) > 0)
      val reclustered = maxSkew > 0 &&
        (has("assign") || has("assign_epoch")) &&
        guarded("re-cluster")(
          maybeReclusterIvfIndex(spark, dir, maxSkew))
      // the gate's safe failure mode made visible: a live _inflight_
      // marker (an abandoned or mid-crash stream) stalls this root's
      // fold at that batch FOREVER by design — once the hot tail has
      // outgrown the cadence threshold with markers live, say so
      // loudly instead of silently re-skipping every tick
      guarded("stall-check") {
        val inflight = inflightIds(spark, dir)
        if (inflight.nonEmpty) {
          val hot = Seq("bands", "sigs", "assign", "codes").map(t =>
            liveHotCount(spark, s"$dir/$t", s"$dir/${t}_epoch")).max
          if (hot > maxHotBatches)
            System.err.println(s"[graft] WARNING: index $dir has " +
              s"live _inflight_ markers (batch " +
              s"${inflight.toSeq.sorted.mkString(",")}) stalling " +
              s"compaction past the cadence threshold ($hot hot " +
              s"batches > $maxHotBatches). If the owning stream is " +
              "gone, its batch partitions are a failed attempt — " +
              "inspect and clear the marker. See /api/indexstats.")
        }
        true
      }: Unit
      lsh || ivf || backfilled || reclustered
      }
    }

  /** One-shot `_hist` backfill (r19): write the sidecar for any IVF
    * epoch segment that predates it (pre-r18 layout, or a sidecar
    * lost to manual surgery), so the drift check and liveTotal
    * converge to manifest+sidecar-only reads on ANY store age
    * instead of paying a footer scan on every tick forever. Each
    * missing sidecar costs one footer-only job, once; a store with
    * full sidecars costs one directory listing. (The transient
    * legacy "." segment is skipped — its first fold rewrites it into
    * a named segment that gets a sidecar on the way.) Returns the
    * number of sidecars written. */
  def backfillHists(spark: SparkSession, indexDir: String): Int =
    withIndexLock(spark, indexDir) {
      Seq("assign_epoch", "codes_epoch").map { face =>
        val epochPath = s"$indexDir/$face"
        val fs = new org.apache.hadoop.fs.Path(epochPath)
          .getFileSystem(spark.sessionState.newHadoopConf())
        readLayout(spark, epochPath).toSeq.flatMap(_.segs)
          .filterNot(_.name == ".")
          .count { seg =>
            val dir = segPath(epochPath, seg)
            val missing = !fs.exists(
              new org.apache.hadoop.fs.Path(s"$dir/_hist"))
            if (missing) writeHist(fs, dir, spark)
            missing
          }
      }.sum
    }

  // ---- index observability (r18) ------------------------------------

  /** Per-(root, tier) stats of the growing indexes — everything the
    * `_layout` manifests and one directory listing already know:
    * epoch watermark, live segment count/bytes/rows (manifest-only),
    * hot-tail depth (batch dirs AND rows), live `_inflight_` markers
    * with the oldest marker's age, the face's resolved codebook, and
    * the assign-face list-size skew (the [[maybeReclusterIvfIndex]]
    * trigger input). This is the surface the single-writer gate's
    * safe failure mode depends on: a marker left by an abandoned
    * stream stalls its root's compaction FOREVER by design, and
    * without this frame the operator experience would be "hot tail
    * grows unbounded, every ingest slows, no signal anywhere".
    * Served at GET /api/indexstats (ops-counter posture:
    * /root/reference/pkg/webui/api.go:15-45 exposes the reference's
    * equivalent cluster state) and oracled as the `index_stats`
    * registry entry.
    *
    * Cheap by construction: segments come from the manifest (no data
    * scan), hot rows from parquet footers only, skew from the
    * per-segment `_hist` sidecars plus an O(hot) tail read
    * (skipped when `withSkew` = false). */
  def indexStats(spark: SparkSession, indexDirs: Seq[String],
      withSkew: Boolean = true,
      nowMs: () => Long = () => System.currentTimeMillis())
      : DataFrame = {
    import spark.implicits._
    val rows = indexDirs.flatMap { dir =>
      val fs = new org.apache.hadoop.fs.Path(dir)
        .getFileSystem(spark.sessionState.newHadoopConf())
      def has(sub: String) =
        fs.exists(new org.apache.hadoop.fs.Path(s"$dir/$sub"))
      val inflight = inflightIds(spark, dir)
      val oldestAgeMs: Option[Long] =
        if (inflight.isEmpty) None
        else Some(inflight.toSeq.map(id => nowMs() -
          fs.getFileStatus(inflightMarker(dir, id))
            .getModificationTime).max)
      val skew: Option[Double] =
        if (withSkew && (has("assign") || has("assign_epoch")))
          Some(ivfListSkew(spark, dir))
        else None
      Seq("bands", "sigs", "assign", "codes").flatMap { tier =>
        if (!has(tier) && !has(s"${tier}_epoch")) None
        else {
          val layout = readLayout(spark, s"$dir/${tier}_epoch")
          val segs = layout.map(_.segs).getOrElse(Seq.empty)
          val wm = layout.map(_.wm).getOrElse(Long.MinValue)
          val hotDirs =
            listBatchDirs(fs, new org.apache.hadoop.fs.Path(
              s"$dir/$tier")).filter(_._1 > wm)
          val hotRows =
            if (hotDirs.isEmpty) 0L
            else spark.read.option("basePath", s"$dir/$tier")
              .parquet(hotDirs.map(_._2.toString): _*).count()
          val codebook =
            if (tier == "assign" || tier == "codes")
              Some(layout.flatMap(_.codebook)
                .getOrElse("centroids.parquet"))
            else None
          val tombs = layout.map(_.tombs).getOrElse(Seq.empty)
          Some((dir, tier, layout.map(_.wm), segs.length,
            segs.map(s => math.max(0L, s.bytes)).sum,
            segs.map(s => math.max(0L, s.rows)).sum,
            tombs.length, tombs.map(_.rows).sum,
            hotDirs.length, hotRows, inflight.size, oldestAgeMs,
            codebook, if (tier == "assign") skew else None,
            // r19: live list tombstones (per-list repair residue
            // awaiting merge-out) and dirs on retirement grace —
            // both pure manifest state, both things an operator
            // watching a repaired root wants to see drain
            layout.map(_.ltombs.length).getOrElse(0),
            layout.map(_.retired.length).getOrElse(0)))
        }
      }
    }
    rows.toDF("index", "tier", "wm", "segments", "seg_bytes",
      "seg_rows", "tombstones", "tomb_rows", "hot_batches",
      "hot_rows", "inflight", "oldest_inflight_ms", "codebook",
      "list_skew", "ltombs", "retired")
  }

  /** Live (above-watermark) hot dirs — the quantity the cadence
    * policy bounds; folded crash leftovers don't count. */
  private def liveHotCount(spark: SparkSession, hotPath: String,
      epochPath: String): Int = {
    val hp = new org.apache.hadoop.fs.Path(hotPath)
    val fs = hp.getFileSystem(spark.sessionState.newHadoopConf())
    val wm = readLayout(spark, epochPath).map(_.wm)
      .getOrElse(Long.MinValue)
    listBatchDirs(fs, hp).count(_._1 > wm)
  }

  /** One immutable epoch segment: its dir name under the epoch root
    * ("." = a legacy r16 single-layout epoch, upgraded on the next
    * fold), the bucket count ITS rows were partitioned with (probes
    * derive per-segment filters from this — segments folded at
    * different store sizes legitimately differ), and its bytes/rows
    * (bytes drive the merge policy with no FS scans; rows make every
    * row-count question manifest-only; -1 = unknown, legacy). */
  private[graft] case class SegRef(name: String, buckets: Int,
      bytes: Long, rows: Long)

  /** One tombstone segment (r18): the EXPIRED ids a retention pass
    * wrote — O(expired) bytes instead of the r17 full-store rewrite.
    * `covers` = the highest data-segment id live when the tombstone
    * committed: readers anti-join it against exactly the data
    * segments with id ≤ covers (a YOUNGER segment may legitimately
    * re-use an expired id — the successor rule — and must not be
    * suppressed), geometric merges drop suppressed rows physically
    * (the merged segment's fresh id > covers lifts the tombstone off
    * it for free), and a tombstone with no covered live segment left
    * is dropped at the next commit. */
  private[graft] case class TombRef(name: String, bytes: Long,
      rows: Long, covers: Long)

  /** A LIST tombstone (r19): suppresses ENTIRE `list=` partitions of
    * the data segments with id ≤ `covers` — the read-side half of the
    * per-list drift repair ([[splitIvfLists]]), which relocates a
    * skewed list's rows into a fresh delta segment under new list
    * ids. Pure manifest metadata: no data files, and the read-side
    * cost is a partition FILTER on the `list` key (the listing
    * shrinks — never an anti-join), so suppressing a million rows
    * costs the same as suppressing ten. Same lifecycle as id
    * tombstones: younger segments are unaffected (their fresh id >
    * covers — the repair's own delta included), geometric merges
    * drop the suppressed partitions physically, and an ltomb with no
    * covered live segment left is dropped at the next commit. */
  private[graft] case class LTombRef(covers: Long, lists: Seq[Long])

  /** An epoch's manifest (`_layout` — underscore-prefixed, invisible
    * to parquet readers): watermark = highest folded batch id
    * (readers list the hot tail only ABOVE it — the crash-safety
    * contract), the newest segment's bucket count (informational),
    * the live segment list OLDEST FIRST (the merge-policy stack
    * order), the codebook file the IVF faces must read (swapped
    * atomically with a re-clustered epoch — see reclusterIvfIndex),
    * and the live tombstones (r18 retention). The manifest swap is
    * the ONLY commit point for every fold/merge/re-cluster/expiry:
    * segment dirs not in it are invisible garbage. */
  private[graft] case class IndexLayout(wm: Long, buckets: Int,
      segs: Seq[SegRef], codebook: Option[String] = None,
      tombs: Seq[TombRef] = Seq.empty,
      /** (dir, retiredAtMs) pairs on grace (merged-away inputs,
        * spent tombstones, pre-re-cluster faces) — still on disk so
        * a concurrent reader that resolved a PRIOR manifest can
        * finish opening their files; deleted by a later commit once
        * past [[retireGraceMs]]. Never read; bookkeeping only. */
      retired: Seq[(String, Long)] = Seq.empty,
      /** Live list tombstones (r19) — see [[LTombRef]]. */
      ltombs: Seq[LTombRef] = Seq.empty)

  private[graft] def segPath(epochPath: String, s: SegRef): String =
    if (s.name == ".") epochPath else s"$epochPath/${s.name}"

  private def segIdOf(name: String): Option[Long] =
    if (name.startsWith("seg_")) name.stripPrefix("seg_").toLongOption
    else None

  private[graft] def readLayout(spark: SparkSession, epochPath: String)
      : Option[IndexLayout] =
    readLayoutFs(new org.apache.hadoop.fs.Path(s"$epochPath/_layout")
      .getFileSystem(spark.sessionState.newHadoopConf()), epochPath)

  /** `_layout` format version this binary writes and the NEWEST it
    * will read. History: v1 = legacy flat epoch (no seg= lines,
    * bucket dirs under the root — still readable, no key written);
    * v2 = tiered segs + unstamped `retired=<name>` (r18, no key);
    * v3 = stamped `retired=<name>:<atMs>` + `ltomb=` lines (r19;
    * the key itself lands in r20). Bump on any line-format change. */
  private[graft] val LayoutFormatVersion = 3

  /** Session-free manifest read — the commit path resolves the PRIOR
    * manifest with the FileSystem it already holds. */
  private[graft] def readLayoutFs(fs: org.apache.hadoop.fs.FileSystem,
      epochPath: String): Option[IndexLayout] = {
    val p = new org.apache.hadoop.fs.Path(s"$epochPath/_layout")
    // crash recovery: the writer creates `_layout.tmp` complete, then
    // deletes `_layout`, then renames — a crash between the last two
    // leaves only the tmp, which IS the committed state (it was
    // written whole before the old manifest was dropped)
    val tmp = new org.apache.hadoop.fs.Path(s"$epochPath/_layout.tmp")
    // the rename may lose a race against the writer (or another
    // reader) completing the same promotion — losing is fine as long
    // as `_layout` exists afterwards
    if (!fs.exists(p) && fs.exists(tmp) && !fs.rename(tmp, p))
      require(fs.exists(p), s"layout recovery failed: $tmp")
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      val txt =
        try scala.io.Source.fromInputStream(in, "UTF-8").mkString
        finally in.close()
      val lines = txt.linesIterator.toSeq
      val kv = lines.map(_.split("=", 2))
        .collect { case Array(k, v) => k -> v }.toMap
      // format-version gate (r20): a binary reading a manifest NEWER
      // than it understands must refuse loudly, not misparse — the
      // r18→r19 `retired=<name>` → `retired=<name>:<atMs>` change was
      // forward-compatible but not rollback-safe (a pre-r19 binary
      // treats 'seg_5:1723…' as a dir name, silently weakening the
      // grace and id-reuse guards). Pre-r20 manifests carry no key
      // (implicitly ≤ current); the one-way upgrade from the unstamped
      // retired format is documented in SURVEY's known-limits ledger.
      kv.get("manifest").foreach { v =>
        val ver = v.toIntOption.getOrElse(Int.MaxValue)
        require(ver <= LayoutFormatVersion,
          s"index manifest $p is format v$v, newer than this " +
            s"binary's v$LayoutFormatVersion — upgrade the binary " +
            "before maintaining this index (downgraded binaries " +
            "misparse newer manifests)")
      }
      val segs = lines.filter(_.startsWith("seg=")).map { l =>
        l.stripPrefix("seg=").split(":") match {
          case Array(n, b, by, r) =>
            SegRef(n, b.toInt, by.toLong, r.toLong)
          case bad => sys.error(s"bad seg line in $p: ${bad.mkString}")
        }
      }
      val tombs = lines.filter(_.startsWith("tomb=")).map { l =>
        l.stripPrefix("tomb=").split(":") match {
          case Array(n, by, r, c) =>
            TombRef(n, by.toLong, r.toLong, c.toLong)
          case bad => sys.error(s"bad tomb line in $p: ${bad.mkString}")
        }
      }
      val ltombs = lines.filter(_.startsWith("ltomb=")).map { l =>
        l.stripPrefix("ltomb=").split(":", 2) match {
          case Array(c, ls) =>
            LTombRef(c.toLong,
              ls.split(",").filter(_.nonEmpty).map(_.toLong).toSeq)
          case bad =>
            sys.error(s"bad ltomb line in $p: ${bad.mkString}")
        }
      }
      val buckets = kv("buckets").toInt
      // `name:atMs`; a pre-r19 manifest has no stamp — age 0 means
      // "past any grace", preserving the old next-commit deletion
      val retired = lines.filter(_.startsWith("retired="))
        .map(_.stripPrefix("retired=")).map { r =>
          r.split(":", 2) match {
            case Array(n, at) => (n, at.toLongOption.getOrElse(0L))
            case _ => (r, 0L)
          }
        }
      // legacy r16 manifest: no seg= lines, bucket dirs live directly
      // under the epoch root — modeled as the single "." segment
      val eff =
        if (segs.nonEmpty || kv.contains("segs")) segs
        else Seq(SegRef(".", buckets, -1L, -1L))
      Some(IndexLayout(kv("wm").toLong, buckets, eff,
        kv.get("codebook"), tombs, retired, ltombs))
    }
  }

  private def writeLayout(fs: org.apache.hadoop.fs.FileSystem,
      epochPath: String, l: IndexLayout): Unit = {
    val p = new org.apache.hadoop.fs.Path(s"$epochPath/_layout")
    val tmp = new org.apache.hadoop.fs.Path(s"$epochPath/_layout.tmp")
    val body = new StringBuilder()
      .append(s"manifest=$LayoutFormatVersion\n")
      .append(s"wm=${l.wm}\nbuckets=${l.buckets}\n")
      // `segs=` marks the tiered format even with ZERO live segments
      // (an expiry that dropped everything) — without it a reader
      // would misparse the manifest as a legacy "." epoch
      .append(s"segs=${l.segs.length}\n")
    l.codebook.foreach(c => body.append(s"codebook=$c\n"))
    l.segs.foreach(s => body.append(
      s"seg=${s.name}:${s.buckets}:${s.bytes}:${s.rows}\n"))
    l.tombs.foreach(t => body.append(
      s"tomb=${t.name}:${t.bytes}:${t.rows}:${t.covers}\n"))
    l.ltombs.foreach(t => body.append(
      s"ltomb=${t.covers}:${t.lists.mkString(",")}\n"))
    l.retired.foreach { case (n, at) =>
      body.append(s"retired=$n:$at\n")
    }
    val out = fs.create(tmp, true)
    try out.write(body.toString.getBytes("UTF-8"))
    finally out.close()
    fs.delete(p, false): Unit
    // a reader's crash-recovery ([[readLayout]]) can race this rename
    // between the delete and the rename and promote the tmp itself —
    // the commit is then already durable, so the writer succeeds iff
    // `_layout` exists, whoever performed the final rename
    if (!fs.rename(tmp, p))
      require(fs.exists(p), s"layout commit failed: $tmp -> $p")
  }

  /** All live epoch segments as one frame — tombstone-suppressed on
    * `idCol` — or None when no epoch (or an all-expired empty one)
    * exists. */
  private def readEpochFrame(spark: SparkSession,
      epochPath: String, idCol: String): Option[DataFrame] =
    readLayout(spark, epochPath).flatMap { l =>
      l.segs.map(s =>
        readSegLive(spark, epochPath, s, l.tombs, idCol, l.ltombs))
        .reduceOption(_.unionByName(_))
    }

  private def listBatchDirs(fs: org.apache.hadoop.fs.FileSystem,
      root: org.apache.hadoop.fs.Path)
      : Seq[(Long, org.apache.hadoop.fs.Path)] =
    if (!fs.exists(root)) Seq.empty
    else fs.listStatus(root).toSeq.collect {
      case st if st.isDirectory &&
          st.getPath.getName.startsWith("batch=") =>
        (st.getPath.getName.stripPrefix("batch=").toLong, st.getPath)
    }

  /** Hot-tail frame: the `batch=<id>` dirs ABOVE the epoch watermark,
    * minus `excludeBatch` — both exclusions happen at the directory
    * LISTING, not as row filters. None when no live dirs remain. */
  private def hotFrame(spark: SparkSession, hotPath: String,
      epochPath: String, excludeBatch: Option[Long])
      : Option[DataFrame] = {
    val hp = new org.apache.hadoop.fs.Path(hotPath)
    val fs = hp.getFileSystem(spark.sessionState.newHadoopConf())
    val wm = readLayout(spark, epochPath).map(_.wm)
      .getOrElse(Long.MinValue)
    val dirs = listBatchDirs(fs, hp).filter { case (id, _) =>
      id > wm && !excludeBatch.contains(id)
    }
    if (dirs.isEmpty) None
    else Some(spark.read.option("basePath", hotPath)
      .parquet(dirs.map(_._2.toString): _*))
  }

  private def readLshHot(spark: SparkSession, indexDir: String,
      excludeBatch: Option[Long])
      : (Option[DataFrame], Option[DataFrame]) =
    (hotFrame(spark, s"$indexDir/bands", s"$indexDir/bands_epoch",
      excludeBatch)
      .map(_.select(col("id"), col("band"), col("band_hash"))),
      hotFrame(spark, s"$indexDir/sigs", s"$indexDir/sigs_epoch",
        excludeBatch).map(_.select(col("id"), col("sig"))))

  /** Union the existing tiers, or the right-schema empty frame when
    * none exist (keeps empty-frame encoders out of real unions, where
    * a float[]-vs-double[] element mismatch would fail resolution). */
  private def tiersUnion(tiers: Seq[DataFrame],
      empty: => DataFrame): DataFrame =
    tiers match {
      case Seq() => empty
      case ts => ts.reduce(_.unionByName(_))
    }

  private def emptyBands(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Seq.empty[(Long, Int, String)].toDF("id", "band", "band_hash")
  }

  private def emptySigs(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Seq.empty[(Long, Array[Long])].toDF("id", "sig")
  }

  private def emptyAssign(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Seq.empty[(Long, Long, Array[Double])].toDF("vec_id", "list", "vec")
  }

  private def emptyCodes(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Seq.empty[(Long, Long, Array[Int])]
      .toDF("vec_id", "list", "codes")
  }

  /** Initialize a persistent IVF index at `indexDir`: persist the
    * FIXED codebook once (centroids.parquet — list id + vector).
    * Ingest and query read it back, so every party assigns against
    * the SAME anchors however long the index lives; when drift
    * warrants, [[reclusterIvfIndex]] retrains and swaps a VERSIONED
    * codebook atomically with the re-assigned epoch (the manifest's
    * `codebook=` pointer), so no reader ever pairs new lists with
    * old anchors or vice versa. */
  def ivfIndexInit(spark: SparkSession, indexDir: String,
      anchors: Seq[(Int, Array[Double])]): Unit = {
    import spark.implicits._
    anchors.toDF("list", "cvec").coalesce(1)
      .write.mode("overwrite").parquet(s"$indexDir/centroids.parquet")
  }

  /** The persisted codebook, in [[graft.operators.Similarity
    * .ivfAssignFixed]]'s anchor form, for ONE face: resolved through
    * THAT face's epoch manifest `codebook=` pointer, falling back to
    * the init-time centroids.parquet. Per-face resolution is the
    * crash-consistency contract (r18): a re-cluster swaps the two
    * faces' manifests as two renames, and a crash between them must
    * leave EACH face pairing its own rows with the anchors they were
    * labeled with — resolving the codes face through the assign
    * manifest (the r17 shape) made the window wrong, not just stale:
    * v2 anchors would prune the ADC scan to v1-labeled `list=`
    * partitions and silently drop true neighbors. */
  private[graft] def readIvfCentroidsFace(spark: SparkSession,
      indexDir: String, face: String): Seq[(Int, Array[Double])] = {
    val file = readLayout(spark, s"$indexDir/${face}_epoch")
      .flatMap(_.codebook)
      .getOrElse("centroids.parquet")
    cachedSmallParquet(spark, s"$indexDir/$file") {
      spark.read.parquet(s"$indexDir/$file")
        .collect()
        .map(r => (r.getInt(0), r.getSeq[Double](1).toArray))
        .toSeq.sortBy(_._1)
    }
  }

  /** Driver-side memo for the TINY immutable codebook files
    * (centroids / PQ books — O(nlist·dim) rows): every read otherwise
    * costs a two-job Spark round (footer + collect, ~150-400 ms of
    * driver latency), and one E2E ingest-fold-serve pass re-reads the
    * same unchanged file 5-10×. Keyed on the dir's exact file listing
    * (names carry write-UUIDs, plus length + mtime), so ANY rewrite —
    * re-init, versioned codebook swap, a bench rep recreating the
    * index — changes the key and forces a fresh read: this caches no
    * query result, only the just-written codebook bytes the process
    * itself published, with staleness structurally impossible. */
  private val smallParquetCache =
    new java.util.concurrent.ConcurrentHashMap[String, SmallParquetEntry]()

  /** One memo slot per path, and that path's load lock: concurrent faces
    * (inParallelFaces) resolving the SAME codebook would otherwise both
    * miss and both pay the two-job read — one waits, then hits the
    * filled slot; different paths stay fully parallel. The lock lives
    * and dies with its cache entry. */
  private final class SmallParquetEntry {
    var sig: String = null
    var value: Any = null
  }

  private def smallParquetSig(spark: SparkSession,
      path: String): String = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    fs.listStatus(p).filter(_.isFile).map(s =>
      s"${s.getPath.getName}:${s.getLen}:${s.getModificationTime}")
      .sorted.mkString(",")
  }

  // the listing is taken outside the lock, so hits on one path overlap
  // their FS round-trips; a value is loaded after the listing it is
  // keyed on, so it is never older than the files that listing names
  private def cachedSmallParquet[T](spark: SparkSession,
      path: String)(load: => T): T = {
    val sig = smallParquetSig(spark, path)
    val e = smallParquetCache.computeIfAbsent(path,
      _ => new SmallParquetEntry)
    e.synchronized {
      if (e.sig != sig) {
        e.value = load
        e.sig = sig
      }
      e.value.asInstanceOf[T]
    }
  }

  /** Assign-face codebook — the resolution every raw-vector consumer
    * (ingest/serve/SemDeDup/skew) uses. */
  def readIvfCentroids(spark: SparkSession, indexDir: String)
      : Seq[(Int, Array[Double])] =
    readIvfCentroidsFace(spark, indexDir, "assign")

  /** Per-list LIVE row counts over the WHOLE stored index (epoch +
    * hot). Epoch segments are answered from their `_hist` sidecars
    * (O(segments) tiny reads, no data or footer opens — see
    * [[writeHist]]); only the hot tail (O(hot) by the compaction
    * cadence), tombstone-covered segments (transient — the next
    * geometric merge drops the suppressed rows and the rewritten
    * segment gets a fresh exact sidecar), and pre-r18 segments
    * without a sidecar pay a scan. Identical result to a full live
    * scan on every path. */
  def ivfListHistogram(spark: SparkSession, indexDir: String)
      : Map[Long, Long] = {
    val epochPath = s"$indexDir/assign_epoch"
    val fs = new org.apache.hadoop.fs.Path(epochPath)
      .getFileSystem(spark.sessionState.newHadoopConf())
    def scan(df: DataFrame): Map[Long, Long] =
      df.groupBy(col("list").cast("long").as("list")).count()
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val layout = readLayout(spark, epochPath)
    val segCounts = layout.toSeq.flatMap { l =>
      l.segs.map { s =>
        val dir = segPath(epochPath, s)
        val dead = l.ltombs.filter(_.covers >= segIdNum(s))
          .flatMap(_.lists).toSet
        if (l.tombs.exists(_.covers >= segIdNum(s)))
          scan(readSegLive(spark, epochPath, s, l.tombs, "vec_id",
            l.ltombs))
        else readHist(fs, dir)
          // ltomb suppression is EXACT on the sidecar: it removes
          // whole lists, so the live histogram is the raw one minus
          // those keys — no scan however many rows were suppressed
          .map(h => if (dead.isEmpty) h else h.view
            .filterKeys(k => !dead(k)).toMap)
          .getOrElse(scan(
            readSegLive(spark, epochPath, s, Seq.empty, "vec_id",
              l.ltombs)))
      }
    }
    val hotCounts = hotFrame(spark, s"$indexDir/assign", epochPath,
      None).map(scan).toSeq
    (segCounts ++ hotCounts)
      .foldLeft(Map.empty[Long, Long]) { (acc, m) =>
        m.foldLeft(acc) { case (a, (k, n)) =>
          a.updated(k, a.getOrElse(k, 0L) + n)
        }
      }
  }

  /** List-size skew = largest list / mean list size over the FULL
    * codebook (an emptied list pulls the mean down — both hot-list
    * growth and list starvation raise it). 0 for an empty index;
    * 1.0 = perfectly balanced. The drift trigger
    * [[maybeReclusterIvfIndex]] compares this against its
    * threshold. */
  def ivfListSkew(spark: SparkSession, indexDir: String): Double = {
    val hist = ivfListHistogram(spark, indexDir)
    if (hist.isEmpty) 0.0
    else {
      val nlist = readIvfCentroids(spark, indexDir).length
      hist.values.max.toDouble /
        (hist.values.sum.toDouble / math.max(1, nlist))
    }
  }

  /** Re-train the coarse codebook on the stored vectors and re-assign
    * the epoch — the drift repair a 100 TB index needs eventually: a
    * frozen codebook over a drifting corpus grows hot lists unbounded
    * and probe pruning degrades with them. Mechanics: quiesce (fold
    * the hot tail; refuse if any `_inflight_` batch exists), retrain
    * via [[graft.operators.Similarity.trainIvfAnchors]] on the
    * epoch's deterministic sample, re-assign the whole epoch in ONE
    * [[graft.functions.MatrixExpressions.ivfAssign6]] pass (a
    * projection — the only full rewrite, inherent to re-clustering),
    * write the new codebook VERSIONED + the re-assigned segment, and
    * commit each face through ITS OWN manifest swap (`codebook=`
    * pointer) — crash-safe because every consumer resolves the
    * codebook from the manifest of the face it reads
    * ([[readIvfCentroidsFace]]): until a face's swap, its readers
    * pair its old rows with its old anchors; after it, new with new.
    * A coexisting codes face is re-labeled with the new lists (PQ
    * books are codebook-independent — codes themselves don't change)
    * and commits FIRST, the assign face last — a crash between the
    * two leaves both faces self-consistent, merely one codebook
    * version apart, and the next re-cluster converges them. Codebook
    * files are versioned across BOTH faces (max+1) and never
    * overwritten, so a lock-free concurrent serve can never read a
    * half-swapped file. Codes rows whose vec_id is absent from the
    * assign face (a codes-only ingest interleaved with an assign
    * ingest) are NOT dropped: their vectors are reconstructed from
    * the PQ books (decode = the codes' own centroid sub-vectors) and
    * assigned against the new anchors — the standard ADC
    * reconstruction, exact enough for list placement.
    *
    * Requires the assign (raw-vector) face — a codes-only index has
    * nothing to retrain on; re-ingest it from the corpus instead.
    * Returns true iff a re-cluster committed. */
  def reclusterIvfIndex(spark: SparkSession, indexDir: String,
      nlist: Int = 0, iters: Int = 5, sampleN: Int = 2048): Boolean =
    withIndexLock(spark, indexDir) {
      import spark.implicits._
      if (inflightIds(spark, indexDir).nonEmpty) false
      else {
        compactIvfIndex(spark, indexDir): Unit
        val assignEpoch = s"$indexDir/assign_epoch"
        val prior = readLayout(spark, assignEpoch)
        val stored = readEpochFrame(spark, assignEpoch, "vec_id")
        if (prior.isEmpty || stored.isEmpty) false
        else {
          val fs = new org.apache.hadoop.fs.Path(indexDir)
            .getFileSystem(spark.sessionState.newHadoopConf())
          val vecs = stored.get
            .select(col("vec_id").cast("long").as("vec_id"),
              col("vec")).cache()
          try {
            val k =
              if (nlist > 0) nlist
              else readIvfCentroids(spark, indexDir).length
            val anchors = graft.operators.Similarity
              .trainIvfAnchors(vecs, "vec_id", "vec", k, iters,
                sampleN)
            val codesEpoch = s"$indexDir/codes_epoch"
            val codesPrior = readLayout(spark, codesEpoch)
            val ver = nextCodebookVer(prior, codesPrior)
            val cbFile = s"centroids_v$ver.parquet"
            anchors.toDF("list", "cvec").coalesce(1)
              .write.mode("overwrite")
              .parquet(s"$indexDir/$cbFile")
            val reassignedKeep = graft.operators.Similarity
              .ivfAssignFixedKeep(vecs, "vec_id", "vec", anchors)
            val reassigned = reassignedKeep
              .select(col("vec_id"), col("list"))
            val nextAssign = 1L + (prior.get.segs.map(_.name) ++
              prior.get.retired.map(_._1))
              .flatMap(segIdOf).foldLeft(0L)(math.max)
            // the two face segment WRITES are independent (disjoint
            // epoch dirs; the codes re-label depends only on the
            // `reassigned` FRAME, not on the assign write landing) —
            // overlap them (guide §2.6); the ordered per-face
            // COMMITS below are untouched, so the crash contract
            // (codes first, assign last) is identical
            val (seg, codesSeg) = inParallelFaces(
              writeSegment(fs, assignEpoch,
                s"seg_$nextAssign", reassignedKeep,
                0, "list", Seq("vec_id")),
              // codes face (if present): same rows, new list labels;
              // rows absent from the assign face re-assign on their
              // PQ-RECONSTRUCTED vector instead of being dropped
              codesPrior.flatMap { cl =>
                readEpochFrame(spark, codesEpoch, "vec_id")
                  .flatMap { cdf =>
                    val codes0 = cdf.select(
                      col("vec_id").cast("long").as("vec_id"),
                      col("codes"))
                    val nextC = 1L +
                      (cl.segs.map(_.name) ++ cl.retired.map(_._1))
                      .flatMap(segIdOf)
                      .foldLeft(0L)(math.max)
                    writeSegment(fs, codesEpoch, s"seg_$nextC",
                      relabelCodesRows(spark, indexDir, codes0,
                        reassigned, anchors),
                      0, "list", Seq("vec_id"))
                  }
              })
            // per-face commit points; codes FIRST, assign LAST — a
            // crash between them leaves each face self-consistent
            // (its own rows with its own manifest's codebook), one
            // version apart until the next re-cluster converges them
            codesPrior.foreach(cl => commitEpoch(fs, codesEpoch,
              IndexLayout(cl.wm, 0, codesSeg.toSeq, Some(cbFile))))
            if (reclusterCrashBeforeAssignCommit)
              sys.error("injected crash: between the codes-face and " +
                "assign-face manifest commits")
            commitEpoch(fs, assignEpoch, IndexLayout(prior.get.wm,
              0, seg.toSeq, Some(cbFile)))
            true
          } finally vecs.unpersist(): Unit
        }
      }
    }

  private val CodebookVer = "centroids_v(\\d+)\\.parquet".r

  /** Next codebook version across BOTH faces: after a crash between
    * the two face commits the faces sit one version apart, and
    * reusing either number would overwrite a file a live manifest
    * still points at. */
  private def nextCodebookVer(assignL: Option[IndexLayout],
      codesL: Option[IndexLayout]): Long = {
    def verOf(l: Option[IndexLayout]): Long =
      l.flatMap(_.codebook) match {
        case Some(CodebookVer(n)) => n.toLong
        case _ => 1L
      }
    math.max(verOf(assignL), verOf(codesL)) + 1
  }

  /** Re-label a codes frame (vec_id, codes) with new list ids: rows
    * whose vec_id the assign repair re-assigned take that label;
    * ORPHANS (a codes-only ingest interleaved with an assign ingest)
    * are NOT dropped — their vectors are reconstructed from the PQ
    * books (decode = the codes' own centroid sub-vectors) and
    * assigned against `anchors`, the standard ADC reconstruction,
    * exact enough for list placement. */
  private def relabelCodesRows(spark: SparkSession, indexDir: String,
      codes0: DataFrame, reassigned: DataFrame,
      anchors: Seq[(Int, Array[Double])]): DataFrame = {
    val joined = codes0.join(reassigned, Seq("vec_id"), "left")
    val matched = joined.filter(col("list").isNotNull)
      .select(col("vec_id"), col("list"), col("codes"))
    val orphans = joined.filter(col("list").isNull)
      .select(col("vec_id"), col("codes"))
    val books = readPqBooks(spark, indexDir)
    val booksLit = typedLit(books.map(_.map(_.toSeq).toSeq).toSeq)
    val decoded = orphans.withColumn("__v",
      flatten(transform(col("codes"), (c, m) =>
        element_at(
          element_at(booksLit, m.cast("int") + 1),
          c + 1))))
    val orphanRows = graft.operators.Similarity
      .ivfAssignFixed(decoded, "vec_id", "__v", anchors)
      .select(col("vec_id"), col("list"))
      .join(orphans, "vec_id")
      .select(col("vec_id"), col("list"), col("codes"))
    matched.unionByName(orphanRows)
  }

  /** Test seam: when set, [[reclusterIvfIndex]] and
    * [[splitIvfLists]] die between the two face commits — the
    * kill-between-commits specs drive the crash window's contract
    * (each face stays self-consistent under per-face codebook
    * resolution, and the next repair converges the versions)
    * through it. Never set outside tests. */
  private[graft] var reclusterCrashBeforeAssignCommit = false

  /** Per-list INCREMENTAL drift repair (r19) — the scale-safe form
    * of [[reclusterIvfIndex]]: a skew repair at a 100 TB store must
    * not be an O(store) job when the `_hist` sidecars already
    * localize the skew per list (the same principle as the
    * reference's recovery plane, which re-syncs only the outage
    * window, never the full history —
    * /root/reference/pkg/agent/hacluster.go:305-342).
    *
    * Splits ONLY the over-threshold lists (count > maxSkew × mean,
    * the exact per-list form of the [[ivfListSkew]] trigger): their
    * rows are read PARTITION-PRUNED (the listing shrinks to the
    * skewed `list=` dirs before any file opens), sub-centroids are
    * trained on those rows alone (k ∝ list size, clamped to
    * [2, maxSplitPerList]), the rows re-assign against the full new
    * codebook in one projection, and each face commits ONE delta
    * segment plus a [[LTombRef]] suppressing the split lists in the
    * covered segments — pure manifest metadata, so the repair's
    * write AND read cost track the skewed lists' rows, never the
    * store. Untouched lists keep their ids, labels, segments, and
    * sidecars byte-for-byte.
    *
    * Also prunes STARVED lists (zero rows on every present face)
    * from the codebook: they cost each query a probe candidate that
    * can never return a neighbor, and they drag the skew mean down,
    * re-triggering the repair forever.
    *
    * Guards: lists whose rows hold < 2 distinct vectors are
    * unsplittable (k-means cannot separate clones; re-splitting one
    * every tick would grow the codebook unbounded) — skipped with a
    * warning. Crash-consistency is the r18 re-cluster contract
    * verbatim: versioned codebooks across both faces, codes face
    * commits FIRST, assign LAST, per-face codebook resolution keeps
    * every reader self-consistent in the window between them.
    *
    * Returns true iff a repair committed. */
  def splitIvfLists(spark: SparkSession, indexDir: String,
      maxSkew: Double, iters: Int = 5, sampleN: Int = 2048,
      maxSplitPerList: Int = 16): Boolean =
    withIndexLock(spark, indexDir) {
      import spark.implicits._
      if (inflightIds(spark, indexDir).nonEmpty) false
      else {
        compactIvfIndex(spark, indexDir): Unit
        val assignEpoch = s"$indexDir/assign_epoch"
        val codesEpoch = s"$indexDir/codes_epoch"
        val prior = readLayout(spark, assignEpoch)
        val hist = ivfListHistogram(spark, indexDir)
        val anchors = readIvfCentroids(spark, indexDir)
        if (prior.isEmpty || prior.get.segs.isEmpty ||
            anchors.isEmpty || hist.values.sum == 0L) false
        else {
          val mean = hist.values.sum.toDouble / anchors.length
          val over = hist.collect {
            case (l, n) if n > maxSkew * mean => l
          }.toSeq.sorted
          if (over.isEmpty) false
          else {
            val fs = new org.apache.hadoop.fs.Path(indexDir)
              .getFileSystem(spark.sessionState.newHadoopConf())
            val rows = readIvfPruned(spark, indexDir, over, None)
              .cache()
            try {
              val distinctVecs = rows.groupBy(col("list"))
                .agg(count_distinct(col("vec")).as("d"))
                .collect()
                .map(r => r.getLong(0) -> r.getLong(1)).toMap
              val split =
                over.filter(l => distinctVecs.getOrElse(l, 0L) >= 2L)
              over.filterNot(split.contains).foreach(l =>
                System.err.println(s"[graft] WARNING: index " +
                  s"$indexDir list $l is over the skew threshold " +
                  s"(${hist(l)} rows) but holds < 2 distinct " +
                  "vectors — unsplittable (duplicate-heavy " +
                  "corpus); consider semantic dedup upstream"))
              if (split.isEmpty) false
              else {
                val splitSet = split.toSet
                val trainRows =
                  rows.filter(col("list").isin(split: _*))
                val kNew = split.map(l => math.min(maxSplitPerList,
                  math.max(2, math.ceil(hist(l) / mean).toInt))).sum
                val subs = graft.operators.Similarity
                  .trainIvfAnchors(trainRows, "vec_id", "vec", kNew,
                    iters, sampleN)
                // fresh ids above every id the codebook or store has
                // ever seen — an old suppressed label must never
                // alias a new sub-list
                val base = (anchors.map(_._1.toLong) ++ hist.keys)
                  .foldLeft(-1L)(math.max) + 1
                val subAnchors = subs.map { case (i, v) =>
                  ((base + i).toInt, v)
                }
                // starvation pruning: a list empty on the assign
                // face may still hold codes-only rows — dropping it
                // then would strand them unreachable (probes never
                // select a list the codebook lacks)
                val starvedA = anchors.map(_._1.toLong).filter(l =>
                  !splitSet(l) && hist.getOrElse(l, 0L) == 0L)
                val hasCodes = readLayout(spark, codesEpoch)
                  .exists(_.segs.nonEmpty) ||
                  fs.exists(new org.apache.hadoop.fs.Path(
                    s"$indexDir/codes"))
                val starved: Set[Long] =
                  if (starvedA.isEmpty) Set.empty
                  else if (!hasCodes) starvedA.toSet
                  else {
                    val codeCounts = readCodesPruned(spark, indexDir,
                      starvedA).groupBy(col("list")).count()
                      .collect().map(_.getLong(0)).toSet
                    starvedA.filterNot(codeCounts).toSet
                  }
                val newAnchors = anchors.filter { case (i, _) =>
                  !splitSet(i.toLong) && !starved(i.toLong)
                } ++ subAnchors
                val codesPrior = readLayout(spark, codesEpoch)
                val ver = nextCodebookVer(prior, codesPrior)
                val cbFile = s"centroids_v$ver.parquet"
                newAnchors.toDF("list", "cvec").coalesce(1)
                  .write.mode("overwrite")
                  .parquet(s"$indexDir/$cbFile")
                val reassignedKeep = graft.operators.Similarity
                  .ivfAssignFixedKeep(trainRows, "vec_id", "vec",
                    newAnchors)
                val reassigned = reassignedKeep
                  .select(col("vec_id"), col("list"))
                val pl = prior.get
                val nextA = 1L +
                  (pl.segs.map(_.name) ++ pl.retired.map(_._1))
                    .flatMap(segIdOf).foldLeft(0L)(math.max)
                // both face delta WRITES overlapped (guide §2.6 —
                // independent jobs on disjoint epoch dirs; the r21
                // shape ran assign's write only after the codes
                // commit, stacking the two job latencies). The
                // per-face COMMIT order below is unchanged: codes
                // first, assign last (the r18 crash contract). An
                // uncommitted seg dir stranded by a crash between
                // write and commit is the already-tolerated recluster
                // state: readers resolve manifests only, and the
                // retry recomputes the same seg id and overwrites.
                val (deltaA, codesWritten) = inParallelFaces(
                  writeSegment(fs, assignEpoch,
                    s"seg_$nextA", reassignedKeep,
                    0, "list", Seq("vec_id")),
                  // codes delta = the split lists' codes re-labeled,
                  // suppressed via an ltomb over covered segments
                  codesPrior.map { cl =>
                    val codes0 = readCodesPruned(spark, indexDir,
                      split).select(col("vec_id"), col("codes"))
                    val nextC = 1L +
                      (cl.segs.map(_.name) ++ cl.retired.map(_._1))
                        .flatMap(segIdOf).foldLeft(0L)(math.max)
                    (cl, writeSegment(fs, codesEpoch,
                      s"seg_$nextC",
                      relabelCodesRows(spark, indexDir, codes0,
                        reassigned, newAnchors),
                      0, "list", Seq("vec_id")))
                  })
                codesWritten.foreach { case (cl, deltaC) =>
                  val coversC = cl.segs.map(segIdNum)
                    .foldLeft(0L)(math.max)
                  commitEpoch(fs, codesEpoch, IndexLayout(cl.wm,
                    cl.buckets, cl.segs ++ deltaC.toSeq,
                    Some(cbFile), cl.tombs,
                    ltombs = cl.ltombs :+
                      LTombRef(coversC, split)))
                }
                if (reclusterCrashBeforeAssignCommit)
                  sys.error("injected crash: between the codes-face" +
                    " and assign-face manifest commits")
                val coversA = pl.segs.map(segIdNum)
                  .foldLeft(0L)(math.max)
                commitEpoch(fs, assignEpoch, IndexLayout(pl.wm,
                  pl.buckets, pl.segs ++ deltaA.toSeq,
                  Some(cbFile), pl.tombs,
                  ltombs = pl.ltombs :+ LTombRef(coversA, split)))
                true
              }
            } finally rows.unpersist(): Unit
          }
        }
      }
    }

  /** Drift trigger for the maintenance plane: repair when the
    * list-size skew crosses `maxSkew` (disabled at 0). The repair is
    * the PER-LIST split ([[splitIvfLists]]) — O(skewed rows), the
    * only form a 100 TB maintenance tick can afford; the global
    * retrain ([[reclusterIvfIndex]]) remains the operator-invoked
    * escape hatch for corpus-wide drift. */
  def maybeReclusterIvfIndex(spark: SparkSession, indexDir: String,
      maxSkew: Double): Boolean =
    maxSkew > 0 && ivfListSkew(spark, indexDir) > maxSkew &&
      splitIvfLists(spark, indexDir, maxSkew)

  /** One micro-batch of the IVF ingest (callable for batch
    * backfills). */
  def ivfIngestBatch(batch: DataFrame, idCol: String, vecCol: String,
      indexDir: String, batchId: Long): Unit =
    withIndexLock(batch.sparkSession, indexDir) {
      ivfIngestAssignFace(batch, idCol, vecCol, indexDir, batchId)
    }

  /** Assign-face ingest body; caller holds the index lock. */
  private def ivfIngestAssignFace(batch: DataFrame, idCol: String,
      vecCol: String, indexDir: String, batchId: Long): Unit = {
    val spark = batch.sparkSession
    spark.sparkContext
      .setJobDescription(s"ivf ingest assign batch=$batchId")
    val fs = new org.apache.hadoop.fs.Path(indexDir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    markInflight(fs, indexDir, batchId)
    val anchors = readIvfCentroids(spark, indexDir)
    // one zero-shuffle projection: assignment + the stored vector
    // come out of the same kernel input row (the r19 keep variant
    // removed the join-back shuffle this path used to pay)
    val rows = graft.operators.Similarity
      .ivfAssignFixedKeep(batch, idCol, vecCol, anchors)
    rows.write.mode("overwrite")
      .parquet(s"$indexDir/assign/batch=$batchId")
    clearInflight(fs, indexDir, batchId)
    spark.sparkContext.setJobDescription(null)
  }

  /** Grow BOTH persisted faces from one micro-batch under ONE lock
    * acquisition, the two face writes overlapped (guide §2.6 — they
    * are independent single-action jobs on disjoint dirs, exactly the
    * [[compactIvfIndex]] fold shape; the r21 harnesses ran them
    * driver-sequentially, stacking two full job latencies). Identical
    * on-disk layout to calling [[ivfIngestBatch]] then
    * [[ivfPqIngestBatch]]: same batch dirs, same rows. */
  def ivfIngestBothFaces(batch: DataFrame, idCol: String,
      vecCol: String, indexDir: String, assignBatchId: Long,
      codesBatchId: Long): Unit =
    withIndexLock(batch.sparkSession, indexDir) {
      inParallelFaces(
        ivfIngestAssignFace(batch, idCol, vecCol, indexDir,
          assignBatchId),
        ivfIngestCodesFace(batch, idCol, vecCol, indexDir,
          codesBatchId)): Unit
    }

  /** The grown index's assignment frame (vec_id, list, vec) — the
    * compacted epoch plus the hot tail above its watermark. */
  def readIvfIndex(spark: SparkSession, indexDir: String): DataFrame = {
    def norm(df: DataFrame) =
      df.select(col("vec_id").cast("long").as("vec_id"),
        col("list").cast("long").as("list"), col("vec"))
    val hot = hotFrame(spark, s"$indexDir/assign",
      s"$indexDir/assign_epoch", None).map(norm)
    val epoch =
      readEpochFrame(spark, s"$indexDir/assign_epoch", "vec_id")
      .map(norm)
    tiersUnion(hot.toSeq ++ epoch.toSeq, emptyAssign(spark))
  }

  /** nProbe=1 top-k served FROM the index, partition-pruned: queries
    * assign against the persisted codebook, and the epoch scan lists
    * ONLY the probed lists' partitions (`list` is the epoch's
    * partition key — the listing shrinks before any file opens; the
    * probed-list set is ≤ nlist ints, driver-sized however large the
    * query batch). The hot tail gets the same filter post-scan (its
    * size is bounded by the compaction cadence). Results are
    * identical to the unpruned read: non-probed lists can never
    * contribute to an nProbe=1 answer by definition. */
  def ivfIndexTopK(spark: SparkSession, queries: DataFrame,
      idCol: String, vecCol: String, indexDir: String, k: Int,
      /** ≥ 2 probes the union of each query's best lists — the
        * standard IVF recall lever, still deterministic (probe
        * selection AND ranking on the 6dp contract) and still
        * partition-pruned: the epoch listing shrinks to the union of
        * probed lists (≤ nProbe·|queries| distinct, ≤ nlist). */
      nProbe: Int = 1): DataFrame = {
    val anchors = readIvfCentroids(spark, indexDir)
    if (nProbe <= 1) {
      val probed = graft.operators.Similarity
        .ivfAssignFixed(queries, idCol, vecCol, anchors)
        .select("list").distinct().collect().map(_.getLong(0)).toSeq
      graft.operators.Similarity.ivfTopKPreAssigned(queries,
        readIvfPruned(spark, indexDir, probed, None)
          .withColumnRenamed("vec", vecCol),
        idCol, vecCol, anchors, k)
    } else {
      val probed = graft.operators.Similarity
        .ivfProbeFixed(queries, idCol, vecCol, anchors, nProbe)
        .select("list").distinct().collect().map(_.getLong(0)).toSeq
      graft.operators.Similarity.ivfTopKPreAssignedMulti(queries,
        readIvfPruned(spark, indexDir, probed, None)
          .withColumnRenamed("vec", vecCol),
        idCol, vecCol, anchors, k, nProbe)
    }
  }

  /** The stored IVF assignments restricted to `lists` — epoch scan
    * PARTITION-pruned (list= is the epoch's partition key), hot tail
    * filtered post-scan; `excludeBatch` drops that hot partition at
    * the listing (replay safety for [[semanticIngestBatch]]). */
  private def readIvfPruned(spark: SparkSession, indexDir: String,
      lists: Seq[Long], excludeBatch: Option[Long]): DataFrame = {
    def norm(df: DataFrame) =
      df.select(col("vec_id").cast("long").as("vec_id"),
        col("list").cast("long").as("list"), col("vec"))
    val hot = hotFrame(spark, s"$indexDir/assign",
      s"$indexDir/assign_epoch", excludeBatch)
      .map(df => norm(df.filter(col("list").isin(lists: _*))))
    // the partition column is casted to LONG before the IN — the
    // filter still references only the partition attribute, so the
    // listing prunes, and a list id past Int range can never
    // silently truncate to the wrong (empty) partition set
    val epoch = readEpochFrame(spark, s"$indexDir/assign_epoch",
      "vec_id")
      .map(df =>
        norm(df.filter(col("list").cast("long").isin(lists: _*))))
    tiersUnion(hot.toSeq ++ epoch.toSeq, emptyAssign(spark))
  }

  // ---- PQ/codes face of the persistent IVF index (r17) -------------
  // The assign/ tiers store RAW vectors — corpus-sized in float64s,
  // which at 100 TB makes the INDEX as big as the corpus. The codes
  // face stores numSub small ints per vector instead (the IVFADC
  // posture, [[graft.operators.Similarity.ivfPqTopK]]'s batch shape
  // given a persistent home): ingest assigns + encodes in one
  // zero-shuffle projection, the fold lays codes out by list= exactly
  // like assign/, and the serve ADC-scans only the probed lists'
  // codes then exact-re-ranks the shortlist against the CORPUS
  // parquet — the index never stores a raw vector.

  /** Persist the PQ codebooks next to the coarse codebook: one row
    * per (sub-space m, code, centroid sub-vector). Trained once
    * (e.g. [[graft.operators.Similarity.trainPqBooks]]) at index
    * init; every later ingest/serve reads the SAME books, so codes
    * stay comparable for the index's whole life. */
  def pqBooksInit(spark: SparkSession, indexDir: String,
      books: Array[Array[Array[Double]]]): Unit = {
    import spark.implicits._
    books.zipWithIndex.flatMap { case (book, m) =>
      book.zipWithIndex.map { case (cent, c) => (m, c, cent.toSeq) }
    }.toSeq.toDF("m", "code", "subvec").coalesce(1)
      .write.mode("overwrite").parquet(s"$indexDir/pq_books.parquet")
  }

  /** The persisted PQ codebooks, in trainer form (driver-sized:
    * numSub × ksub × dsub doubles). */
  def readPqBooks(spark: SparkSession, indexDir: String)
      : Array[Array[Array[Double]]] =
    // same driver memo as the coarse codebook (see
    // [[cachedSmallParquet]]): listing-signature-validated, so any
    // rewrite forces a fresh read
    cachedSmallParquet(spark, s"$indexDir/pq_books.parquet") {
      spark.read.parquet(s"$indexDir/pq_books.parquet")
        .collect()
        .map(r => (r.getInt(0), r.getInt(1),
          r.getSeq[Double](2).toArray))
        .groupBy(_._1).toSeq.sortBy(_._1)
        .map(_._2.sortBy(_._2).map(_._3))
        .toArray
    }

  /** One micro-batch of the codes-face ingest: assign against the
    * persisted coarse codebook + PQ-encode against the persisted
    * books — both literal-codebook projections, zero shuffle — and
    * append (vec_id, list, codes) under `batch=<id>`. The index
    * grows by ~numSub ints per vector; no raw vector is stored. */
  def ivfPqIngestBatch(batch: DataFrame, idCol: String,
      vecCol: String, indexDir: String, batchId: Long): Unit =
    withIndexLock(batch.sparkSession, indexDir) {
      ivfIngestCodesFace(batch, idCol, vecCol, indexDir, batchId)
    }

  /** Codes-face ingest body; caller holds the index lock. */
  private def ivfIngestCodesFace(batch: DataFrame, idCol: String,
      vecCol: String, indexDir: String, batchId: Long): Unit = {
    val spark = batch.sparkSession
    spark.sparkContext
      .setJobDescription(s"ivf ingest codes batch=$batchId")
    val fs = new org.apache.hadoop.fs.Path(indexDir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    markInflight(fs, indexDir, batchId)
    // codes-face resolution: new codes must be labeled with the
    // anchors the STORED codes carry, even mid-recluster-crash
    val anchors = readIvfCentroidsFace(spark, indexDir, "codes")
    val books = readPqBooks(spark, indexDir)
    val dsub = books.head.head.length
    val rows = graft.operators.Similarity
      .ivfAssignFixed(batch, idCol, vecCol, anchors)
      .select(col("vec_id"), col("list"))
      .join(batch.select(col(idCol).cast("long").as("vec_id"),
        graft.operators.Similarity.asDouble(col(vecCol)).as("__v")),
        "vec_id")
      .select(col("vec_id"), col("list"),
        graft.functions.MatrixExpressions
          .pqEncode(col("__v"), books, dsub).as("codes"))
    rows.write.mode("overwrite")
      .parquet(s"$indexDir/codes/batch=$batchId")
    clearInflight(fs, indexDir, batchId)
    spark.sparkContext.setJobDescription(null)
  }

  /** The stored codes restricted to `lists` — epoch scan
    * partition-pruned per segment, hot tail filtered post-scan. */
  private def readCodesPruned(spark: SparkSession, indexDir: String,
      lists: Seq[Long]): DataFrame = {
    def norm(df: DataFrame) =
      df.select(col("vec_id").cast("long").as("vec_id"),
        col("list").cast("long").as("list"), col("codes"))
    val hot = hotFrame(spark, s"$indexDir/codes",
      s"$indexDir/codes_epoch", None)
      .map(df => norm(df.filter(col("list").isin(lists: _*))))
    val epoch = readEpochFrame(spark, s"$indexDir/codes_epoch",
      "vec_id")
      .map(df =>
        norm(df.filter(col("list").cast("long").isin(lists: _*))))
    tiersUnion(hot.toSeq ++ epoch.toSeq, emptyCodes(spark))
  }

  /** IVFADC top-k served FROM the codes face: probe selection against
    * the persisted coarse codebook, ADC over the probed lists' stored
    * codes (epoch listing pruned to those list= partitions), exact
    * re-rank of the k·refine shortlist against the CORPUS parquet.
    * The exhaustive corner (nProbe = nlist, k·refine ≥ |corpus|)
    * equals brute force exactly — the registry oracle's pin. */
  def ivfPqIndexTopK(spark: SparkSession, queries: DataFrame,
      idCol: String, vecCol: String, indexDir: String,
      corpus: DataFrame, k: Int, nProbe: Int = 1,
      refine: Int = 4): DataFrame = {
    // probe with the anchors the stored codes were LABELED with (the
    // codes face's own manifest) — never the assign face's, which may
    // be one re-cluster commit ahead or behind
    val anchors = readIvfCentroidsFace(spark, indexDir, "codes")
    val books = readPqBooks(spark, indexDir)
    val probed = graft.operators.Similarity
      .ivfProbeFixed(queries, idCol, vecCol, anchors, nProbe)
      .select("list").distinct().collect().map(_.getLong(0)).toSeq
    graft.operators.Similarity.ivfPqServe(queries,
      readCodesPruned(spark, indexDir, probed), corpus, idCol,
      vecCol, anchors, books, k, nProbe, refine)
  }

  /** One micro-batch of the SemDeDup ingest, under an explicit batch
    * id — the THIRD face of the persistent IVF index: the batch
    * assigns against the persisted codebook, takes its
    * semantic-duplicate verdicts against ONLY its own lists' stored
    * vectors ([[graft.operators.Similarity.semanticDedupIngest]]), and
    * appends the non-duplicates under `batch=<id>`, so the index it
    * grows is the SAME index [[ivfIndexTopK]] serves. A replay rewrites
    * the whole batch partition, and the stored read excludes the
    * current batch at the listing. */
  def semanticIngestBatch(batch: DataFrame, idCol: String,
      vecCol: String, indexDir: String, marksDir: String,
      batchId: Long, threshold: Double): Unit =
    withIndexLock(batch.sparkSession, indexDir) {
      val spark = batch.sparkSession
      val fs = new org.apache.hadoop.fs.Path(indexDir)
        .getFileSystem(spark.sessionState.newHadoopConf())
      markInflight(fs, indexDir, batchId)
      val anchors = readIvfCentroids(spark, indexDir)
      val lists = graft.operators.Similarity
        .ivfAssignFixed(batch, idCol, vecCol, anchors)
        .select("list").distinct().collect().map(_.getLong(0)).toSeq
      val stored = readIvfPruned(spark, indexDir, lists,
        excludeBatch = Some(batchId)).withColumnRenamed("vec", vecCol)
      val (marks, delta) = graft.operators.Similarity
        .semanticDedupIngest(batch, idCol, vecCol, stored, anchors,
          threshold)
      val rows = delta.select(col("vec_id"), col("list"))
        .join(batch.select(col(idCol).cast("long").as("vec_id"),
          col(vecCol).as("vec")), "vec_id")
      rows.write.mode("overwrite")
        .parquet(s"$indexDir/assign/batch=$batchId")
      marks.write.mode("overwrite")
        .parquet(s"$marksDir/batch=$batchId")
      clearInflight(fs, indexDir, batchId)
    }

  /** The persistent banded index's two frames — (bands, signatures):
    * the compacted epoch plus the hot `batch=<id>` tail above its
    * watermark; empty (right-schema) frames before the first batch
    * lands. `excludeBatch` drops that hot partition at the LISTING
    * (replay safety for [[lshIngestBatch]]). */
  def readLshIndex(spark: SparkSession, indexDir: String,
      excludeBatch: Option[Long] = None): (DataFrame, DataFrame) = {
    val (hb, hs) = readLshHot(spark, indexDir, excludeBatch)
    val eb = readEpochFrame(spark, s"$indexDir/bands_epoch", "id")
      .map(_.select(col("id"), col("band"), col("band_hash")))
    val es = readEpochFrame(spark, s"$indexDir/sigs_epoch", "id")
      .map(_.select(col("id"), col("sig")))
    (tiersUnion(hb.toSeq ++ eb.toSeq, emptyBands(spark)),
      tiersUnion(hs.toSeq ++ es.toSeq, emptySigs(spark)))
  }
}
