package graft.operators

import scala.util.{Failure, Success, Try}

import graft.model._
import graft.plan.ChunkPlanner
import graft.sources.Tables
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Chunked, retryable, idempotent time-windowed copy — the engine's
  * equivalent of the reference's `-action copy` workhorse
  * (/root/reference/pkg/agent/agent.go:210-240 → sync.go:95-232).
  *
  * Reference semantics reproduced (SURVEY.md §3.1):
  *  - newest-first chunk iteration (sync.go:144-146) — most valuable data
  *    first: kept as the driver-side scheduling order;
  *  - per-chunk measurement parallelism (worker pool, sync.go:141-183) —
  *    subsumed by Spark's scheduler: one job per (chunk, measurement),
  *    with the data-parallel work inside each job distributed by Spark;
  *  - read/write retry budget (try.go:15-30, client.go:363-381, 541-557);
  *  - bad-chunk recovery at chunk/10 granularity, one level
  *    (SyncDBRP, sync.go:215-232);
  *  - idempotent re-copy: InfluxDB upserts points by (series, ts), making
  *    blind re-copy of a window safe (hacluster.go:305-342). Parquet
  *    appends are not idempotent, so every chunk lands in a fresh
  *    generation dir and ONE [[ChunkManifest]] commit per measurement
  *    replaces what the copied window held: refs inside a written span
  *    retire, refs straddling one are rewritten without the overlapped
  *    rows (SURVEY.md §7.3 hard part 4). Replaced generations retire in
  *    place, so a re-copy into a served measurement (the HA recovery)
  *    never pulls a file from under a pinned reader. The span-keyed refs
  *    also give time pruning on read at scale.
  *
  * Scale posture: no driver materialization (the reference buffers whole
  * chunks in RAM, client.go:348-484 — we never do); each chunk×measurement
  * is a distributed scan→write with predicate pushdown on `time_ns`.
  */
object CopyJob {
  final case class Config(
      startNs: Long,
      endNs: Long,
      chunkNs: Long,
      timeCol: String = "time_ns",
      maxRetentionNs: Option[Long] = None,
      rwMaxRetries: Int = 5, // main.go:209-215 default
      rwRetryDelayMs: Long = 0L, // 10s in reference; 0 keeps tests fast
      strictReferenceBounds: Boolean = false,
      recoveryFactor: Int = 10, // sync.go:226
      numWorkers: Int = 4, // num-workers, conf/sample.syncflux.toml:125
      // max-points-on-single-write analog (BpSplit, client.go:494-529;
      // default 10000 at main.go:216-218): caps rows per written file.
      // 0 = let Spark size files — the right default for Parquet, where
      // many small files hurt at scale; set it when a downstream
      // consumer needs bounded write units like the reference's HTTP
      // batches.
      maxPointsPerWrite: Long = 0L,
      // retirement grace for snapshot-managed measurements
      // ([[ChunkManifest]]): a replaced chunk generation stays on disk
      // this long after its manifest retirement, so every reader whose
      // pinned listing is younger than the grace finishes cleanly.
      // Size to the longest served query (the index epochs'
      // retire-grace contract).
      chunkGraceMs: Long = ChunkManifest.DefaultGraceMs)

  /** Destination RP name after the default-RP rename (README.md:259-261:
    * only the default RP can be renamed). The ONE place the rule lives —
    * layout and every caller labeling destinations use it. */
  def rpOut(db: DbSchema, rp: RetentionPolicy): String =
    if (db.newDefaultRp.nonEmpty && rp.isDefault) db.newDefaultRp
    else rp.name

  /** (src, dst) parquet paths for every measurement of a schema — the
    * single place the source layout (hierarchical vs flat) and the
    * rename rewrite map onto storage paths. */
  def layout(
      schema: Seq[DbSchema],
      srcRoot: String,
      dstRoot: String,
      flatRoot: Boolean): Seq[(String, String)] =
    for {
      db <- schema
      rp <- db.rps
      m <- rp.measurements
    } yield {
      val src =
        if (flatRoot) s"$srcRoot/${m.name}.parquet"
        else s"$srcRoot/${db.name}/${rp.name}/${m.name}.parquet"
      val dst = s"$dstRoot/${db.targetName}/${rpOut(db, rp)}/${m.name}.parquet"
      (src, dst)
    }

  /** Map `f` over `items` on a fixed pool of at most `workers` threads
    * (driver-side overlap of independent Spark jobs or FS operations);
    * one item or one worker runs inline. */
  private[operators] def inParallel[A, B](workers: Int, items: Seq[A])(
      f: A => B): Seq[B] = {
    if (items.size <= 1 || workers <= 1) return items.map(f)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.min(workers, items.size))
    try {
      import scala.jdk.CollectionConverters._
      val tasks = items.map { a =>
        new java.util.concurrent.Callable[B] { def call(): B = f(a) }
      }
      // unwrap ExecutionException: a task's require(...) refusal must
      // surface to callers with its ORIGINAL type and message (the
      // /write 400 body renders e.getMessage; the wrapper's is noise)
      pool.invokeAll(tasks.asJava).asScala.map { fut =>
        try fut.get()
        catch {
          case e: java.util.concurrent.ExecutionException =>
            throw Option(e.getCause).getOrElse(e)
        }
      }.toSeq
    } finally pool.shutdown()
  }
}

final class CopyJob(
    spark: SparkSession,
    // test seams for fault injection (FIXTURES.md §B.6)
    readHook: (ChunkSpec, String) => Unit = (_, _) => (),
    writeHook: (ChunkSpec, String) => Unit = (_, _) => ()) {
  import CopyJob.{Config, inParallel}

  /** Retry one phase within the reference's budget (try.go:15-30, applied
    * independently to the read and the write path — client.go:363-381 and
    * 541-557). Returns (result if any attempt succeeded, error count —
    * the attempts burned iff the whole budget exhausted, matching the
    * reference's per-phase ChunkReport error counters). */
  private def retryPhase[A](cfg: Config)(body: => A): (Option[A], Long) = {
    var tries = 0
    var out: Option[A] = None
    while (out.isEmpty && tries < cfg.rwMaxRetries) {
      tries += 1
      Try(body) match {
        case Success(a) => out = Some(a)
        case Failure(_) =>
          if (tries < cfg.rwMaxRetries && cfg.rwRetryDelayMs > 0)
            Thread.sleep(cfg.rwRetryDelayMs)
      }
    }
    (out, if (out.isEmpty) tries.toLong else 0L)
  }

  /** Copy one measurement's chunk: scan `[s,e)` → write it whole into
    * the generation dir `dir`, unpublished until the caller's manifest
    * commit (a retry rewrites the same dir; a crash leaves an orphan the
    * next commit sweeps). Read and write phases carry separate retry
    * budgets and separate error counters, mirroring the reference's
    * independent ReadDB / WriteDB retries (client.go:363-381, 541-557;
    * counted into ChunkReport at sync.go:151-153,166,175). The scan is
    * lazy, so the *driver-side* read work (footer/schema resolution, slice
    * construction) is the read phase; the distributed scan executes fused
    * into the write job and any runtime failure there counts as a write
    * failure — the price of not buffering chunks in driver RAM like the
    * reference does (client.go:348-484). */
  private def copyChunk(
      srcPath: String,
      dstPath: String,
      chunk: ChunkSpec,
      dir: String,
      cfg: Config): ChunkResult = {
    val t0 = System.currentTimeMillis()

    def readPhase(): DataFrame = {
      readHook(chunk, srcPath)
      Tables.ensureNsConf(spark)
      Tables.timeRange(spark.read.parquet(srcPath), cfg.timeCol,
        chunk.startNs, chunk.endNs, cfg.strictReferenceBounds)
    }

    def writePhase(slice: DataFrame): Long = {
      writeHook(chunk, dstPath)
      // point count rides the write via Observation (no second scan;
      // the metric is collected from the write's own execution)
      val obs = org.apache.spark.sql.Observation()
      val writer = slice.observe(obs, count(lit(1)).as("n")).write
        .mode("overwrite")
      (if (cfg.maxPointsPerWrite > 0)
        writer.option("maxRecordsPerFile", cfg.maxPointsPerWrite)
      else writer).parquet(s"$dstPath/$dir")
      obs.get("n").asInstanceOf[Long]
    }

    val (slice, readErr) = retryPhase(cfg)(readPhase())
    val (points, writeErr) = slice match {
      case Some(df) => retryPhase(cfg)(writePhase(df))
      case None     => (None, 0L)
    }
    ChunkResult(chunk, srcPath, points.getOrElse(0L), readErr, writeErr,
      System.currentTimeMillis() - t0)
  }

  /** Full copy of one measurement over a window: newest-first chunks,
    * then one recovery pass over bad chunks at chunk/recoveryFactor
    * (SyncDBRP semantics, sync.go:215-232), then ONE manifest commit
    * making the copy upsert-idempotent for ARBITRARY windows: any
    * pre-existing chunk partially overlapping a newly-written span is
    * rewritten without the overlapped rows. InfluxDB gets this for free
    * from point upsert (same series+ts overwrites); replacing
    * span-identical chunks alone only handles exact-span re-copies, and
    * the HA recovery window `[lastOK − interval, now]`
    * (hacluster.go:310,321) never aligns with the original copy's chunk
    * grid. */
  def copyMeasurement(
      srcPath: String,
      dstPath: String,
      cfg: Config): SyncReport =
    copyChunkList(srcPath, dstPath,
      ChunkPlanner.plan(cfg.startNs, cfg.endNs, cfg.chunkNs,
        cfg.maxRetentionNs), cfg)

  /** Differential sync — the incremental-backup pass the reference
    * lacks (its recovery re-copies the whole window blindly,
    * sync.go:215-232): checksum source and dest per chunk (TWO
    * aggregation scans total, via [[verifyChecksums]] — the
    * order-independent XOR row-hash, so false mismatches from
    * partitioning/order are impossible), then copy ONLY the chunks
    * whose checksums differ (missing-on-one-side included; equal and
    * empty-on-both chunks are skipped). At 100 TB the win is write
    * amplification: a nightly sync over a mostly-static year of data
    * reads both sides once and rewrites only the handful of changed
    * chunks, instead of re-writing 365 days to repair one. Returns the
    * mismatched chunk specs and the repair's SyncReport. */
  def syncDiffering(
      srcPath: String,
      dstPath: String,
      cfg: Config): (Seq[ChunkSpec], SyncReport) = {
    val mismatched = verifyChecksums(srcPath, dstPath, cfg)
      .filter { case (_, s, d) => s != d }
      .map(_._1)
    (mismatched, copyChunkList(srcPath, dstPath, mismatched, cfg))
  }

  /** Small-file compaction of a copied dataset — the operational pass a
    * chunked sink needs at scale: retries, fine-grained recovery
    * (chunk/10 writes), and maxPointsPerWrite splitting all leave
    * chunks holding many small parquet files, and at 100 TB the file
    * count — not the byte count — becomes the scan/list/commit
    * bottleneck. Each live chunk holding more than
    * `maxFilesPerPartition` data files is rewritten into a new
    * generation coalesced to one file per `targetRowsPerFile` rows and
    * the old one retired (grace `cfg.chunkGraceMs`); compliant chunks
    * are NOT touched (no read, no write — the steady-state nightly run
    * is a file listing). Content is bit-identical (spec-pinned via the
    * order-independent checksum). Returns (compacted spans, files
    * before, files after). */
  def compact(dstPath: String, cfg: Config,
      targetRowsPerFile: Long = 1000000L,
      maxFilesPerPartition: Int = 1): Seq[((Long, Long), Int, Int)] = {
    val fs = hadoopFs(dstPath)
    ChunkManifest.lockFor(dstPath).synchronized {
      val st = state(fs, dstPath)
      val present = ChunkManifest.chunkDirs(fs, dstPath).toSet
      def files(dir: String): Int =
        fs.listStatus(new Path(s"$dstPath/$dir")).count(s =>
          s.isFile && s.getPath.getName.endsWith(".parquet"))
      val oversized = st.live.filter(r => present(r.dir))
        .map(r => (r, files(r.dir)))
        .filter(_._2 > maxFilesPerPartition)
      val out = oversized.zipWithIndex.map { case ((r, before), i) =>
        Tables.ensureNsConf(spark)
        val rows = spark.read.parquet(s"$dstPath/${r.dir}")
        val nOut = math.max(1L, math.ceil(
          rows.count().toDouble / targetRowsPerFile).toLong)
        val nd = ChunkManifest.dirName(r.startNs, r.endNs, st.gen + i + 1)
        rows.coalesce(nOut.toInt).write.mode("overwrite")
          .parquet(s"$dstPath/$nd")
        (ChunkManifest.ChunkRef(nd, r.startNs, r.endNs),
          ((r.startNs, r.endNs), before, files(nd)))
      }
      commitChunkMutation(dstPath, st, st.gen + oversized.size,
        out.map(_._1), oversized.map(_._1.dir), cfg.chunkGraceMs)
      out.map(_._2)
    }
  }

  /** The copy body: every chunk is written into its own generation dir
    * (gen numbers assigned up front, so the writes are independent),
    * then one commit publishes them. The measurement lock is held
    * throughout — the served plane's upserts wait, its readers keep
    * their pinned snapshots. */
  private def copyChunkList(
      srcPath: String,
      dstPath: String,
      chunks: Seq[ChunkSpec],
      cfg: Config): SyncReport = {
    if (chunks.isEmpty) return SyncReport(srcPath, dstPath, Nil)
    val fs = hadoopFs(dstPath)
    ChunkManifest.lockFor(dstPath).synchronized {
      val st = state(fs, dstPath)
      // newest-first submission over a bounded worker pool — the Spark
      // scheduler interleaves the per-chunk jobs, replacing the
      // reference's per-chunk workerpool (sync.go:141-183)
      def pass(cs: Seq[ChunkSpec], gen0: Long)
          : Seq[(ChunkResult, String)] =
        inParallel(cfg.numWorkers, cs.zipWithIndex) { case (c, i) =>
          val dir = ChunkManifest.dirName(c.startNs, c.endNs, gen0 + i + 1)
          (copyChunk(srcPath, dstPath, c, dir, cfg), dir)
        }
      val firstPass = pass(chunks, st.gen)
      val fine = firstPass.filterNot(_._1.ok).flatMap { case (r, _) =>
        ChunkPlanner.plan(r.chunk.startNs, r.chunk.endNs,
          math.max(1L, cfg.chunkNs / cfg.recoveryFactor))
      }
      val all = firstPass ++ pass(fine, st.gen + chunks.size)
      commitCopy(dstPath, st, st.gen + chunks.size + fine.size,
        all.filter(_._1.ok), cfg)
      SyncReport(srcPath, dstPath, all.map(_._1))
    }
  }

  private def hadoopFs(path: String): org.apache.hadoop.fs.FileSystem =
    new Path(path).getFileSystem(spark.sessionState.newHadoopConf())

  /** The measurement's committed manifest, or its plain layout adopted
    * ([[ChunkManifest.bootstrap]]) — the state every mutator starts
    * from; the mutation's own commit makes an adoption durable. Caller
    * holds the measurement lock. */
  private def state(fs: org.apache.hadoop.fs.FileSystem, dstPath: String)
      : ChunkManifest.State =
    ChunkManifest.read(fs, dstPath)
      .getOrElse(ChunkManifest.bootstrap(fs, dstPath))

  /** Commit one mutation's manifest delta under the measurement lock
    * (held by the caller): retire `retiredDirs` in place (grace-
    * stamped, physically deleted by a later commit's sweep), publish
    * `newRefs`, advance the generation counter, and sweep expired
    * residue + crashed-write orphans. A mutation that changed nothing
    * commits nothing, so no manifest appears on a path it left alone
    * (a flat parquet dir, a plain layout with nothing to do). */
  private def commitChunkMutation(dstPath: String,
      st: ChunkManifest.State, gen: Long,
      newRefs: Seq[ChunkManifest.ChunkRef],
      retiredDirs: Seq[String], graceMs: Long): Unit =
    if (newRefs.nonEmpty || retiredDirs.nonEmpty)
      ChunkManifest.commitMutation(hadoopFs(dstPath), dstPath, st, gen,
        newRefs, retiredDirs, graceMs): Unit

  /** The commit of one copy (runs AFTER the parallel chunk writes
    * complete, so it cannot race them), over `written` = the chunks
    * whose copy SUCCEEDED — a failed chunk never causes data loss in
    * old generations:
    *  - a chunk that copied points is published as a new ref; an empty
    *    one publishes nothing (its dir is an orphan the commit sweeps);
    *  - every pre-existing live ref INSIDE a written span retires — its
    *    rows are a subset of what was just written;
    *  - every pre-existing ref STRADDLING a written span is rewritten
    *    into a new generation keeping only rows outside all written
    *    spans (retired if none remain; left as is when every row
    *    already lies outside). Bounded work: only refs at the window
    *    boundary or of a different chunk granularity straddle, and each
    *    is at most one chunk of rows.
    *
    * Scale shape (r22, guide §2.4/§2.6 — the deleteWhere treatment):
    * ONE classification job counts (remaining, total) rows per
    * straddling dir via `input_file_name`; rewrites run over the
    * bounded worker pool (disjoint dirs). A straddling dir removed out
    * of band counts as empty and retires. */
  private def commitCopy(dstPath: String, st: ChunkManifest.State,
      gen: Long, written: Seq[(ChunkResult, String)], cfg: Config): Unit = {
    val spans = written.map { case (r, _) => (r.chunk.startNs, r.chunk.endNs) }
    val published = written.collect { case (r, d) if r.points > 0 =>
      ChunkManifest.ChunkRef(d, r.chunk.startNs, r.chunk.endNs)
    }
    def inside(r: ChunkManifest.ChunkRef): Boolean =
      spans.exists { case (ws, we) => ws <= r.startNs && r.endNs <= we }
    val contained = st.live.filter(inside)
    val straddling = st.live.filter(r => !inside(r) &&
      spans.exists { case (ws, we) => ws < r.endNs && r.startNs < we })
    val present = ChunkManifest.chunkDirs(hadoopFs(dstPath), dstPath).toSet
    val readable = straddling.filter(r => present(r.dir))
    Tables.ensureNsConf(spark)
    def outsideOf(part: DataFrame): Column =
      spans.map { case (ws, we) =>
        if (cfg.strictReferenceBounds)
          !(Tables.nsAfter(part, cfg.timeCol, ws) &&
            Tables.nsBefore(part, cfg.timeCol, we))
        else
          !(Tables.nsAtLeast(part, cfg.timeCol, ws) &&
            Tables.nsBefore(part, cfg.timeCol, we))
      }.reduce(_ && _)
    val counts =
      if (readable.isEmpty) Map.empty[String, (Long, Long)]
      else {
        val all = spark.read.parquet(
          readable.map(r => s"$dstPath/${r.dir}"): _*)
        all.groupBy(element_at(split(input_file_name(), "/"), -2)
            .as("__dir"))
          .agg(sum(when(outsideOf(all), 1L).otherwise(0L)).as("r"),
            count(lit(1)).as("t"))
          .collect()
          .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2)))
          .toMap
      }
    // a dir absent from the counts held zero rows — nothing remains
    def cls(r: ChunkManifest.ChunkRef): (Long, Long) =
      counts.getOrElse(r.dir, (0L, 0L))
    val emptied = straddling.filter(cls(_)._1 == 0L)
    val toRewrite = straddling.filter { r =>
      val (k, t) = cls(r); k > 0L && k < t
    }
    val rewritten = inParallel(cfg.numWorkers, toRewrite.zipWithIndex) {
      case (r, i) =>
        Tables.ensureNsConf(spark)
        val part = spark.read.parquet(s"$dstPath/${r.dir}")
        val nd = ChunkManifest.dirName(r.startNs, r.endNs, gen + i + 1)
        part.filter(outsideOf(part)).write.mode("overwrite")
          .parquet(s"$dstPath/$nd")
        ChunkManifest.ChunkRef(nd, r.startNs, r.endNs)
    }
    commitChunkMutation(dstPath, st, gen + toRewrite.size,
      published ++ rewritten, (contained ++ emptied ++ toRewrite).map(_.dir),
      cfg.chunkGraceMs)
  }

  /** Retention-policy enforcement over a copied dataset — executing the
    * expiry that the replicated `_rp.json` retention metadata describes
    * (the reference replicates RP durations, agent.go:157-174, but
    * leaves enforcement to InfluxDB; a Spark-native store must do it
    * itself): drop every row with `timeCol` < cutoffNs.
    *
    * Scale shape: a chunk entirely below the cutoff is retired at the
    * MANIFEST level — no data read, no shuffle, cost O(chunks)
    * driver-side regardless of data volume (the common case: retention
    * advances chunk by chunk, so expiry is almost always whole-chunk).
    * At most the one chunk STRADDLING the cutoff is rewritten, bounded
    * by a single chunk of rows — into a generation of the clamped span
    * `[cutoff, end)`, so the ref stays truthful for `readCopiedRange`
    * pruning and re-enforcing the same cutoff is a metadata-only no-op.
    * Returns (droppedSpans, trimmedSpans, keptCount). */
  def enforceRetention(dstPath: String, cutoffNs: Long, cfg: Config)
      : (Seq[(Long, Long)], Seq[(Long, Long)], Int) = {
    val fs0 = hadoopFs(dstPath)
    ChunkManifest.lockFor(dstPath).synchronized {
      val st = state(fs0, dstPath)
      var gen = st.gen
      var retiredDirs = Seq.empty[String]
      var newRefs = Seq.empty[ChunkManifest.ChunkRef]
      val (below, rest) = st.live.partition(_.endNs <= cutoffNs)
      retiredDirs ++= below.map(_.dir) // expiry = manifest retire
      var dropped = below.map(r => (r.startNs, r.endNs))
      var trimmed = Seq.empty[(Long, Long)]
      rest.filter(_.startNs < cutoffNs).foreach { r =>
        Tables.ensureNsConf(spark)
        val part = spark.read.parquet(s"$dstPath/${r.dir}")
        val remaining =
          part.filter(Tables.nsAtLeast(part, cfg.timeCol, cutoffNs))
        // a straddling chunk whose ROWS all sit below the cutoff (its
        // span over-covers its data) is a DROP, not a trim — report it
        // as such, or '-action retention' would list a span as
        // surviving that no longer exists
        if (remaining.isEmpty) {
          retiredDirs :+= r.dir
          dropped :+= ((r.startNs, r.endNs))
        } else {
          gen += 1
          val nd = ChunkManifest.dirName(cutoffNs, r.endNs, gen)
          remaining.write.mode("overwrite").parquet(s"$dstPath/$nd")
          newRefs :+= ChunkManifest.ChunkRef(nd, cutoffNs, r.endNs)
          retiredDirs :+= r.dir
          trimmed :+= ((r.startNs, r.endNs))
        }
      }
      commitChunkMutation(dstPath, st, gen, newRefs, retiredDirs,
        cfg.chunkGraceMs)
      (dropped, trimmed, st.live.size - dropped.size)
    }
  }

  /** Predicate deletion over a copied dataset — `DELETE FROM m WHERE
    * tag='x' [AND time …]` — the upsert-idempotence discipline applied
    * to removal. Only chunks INTERSECTING `[startNs, endNs)` are even
    * read; each is rewritten into a new generation keeping rows NOT
    * matching (`cond` AND in-range), retires whole if nothing survives,
    * and — the idempotence tell — is left PHYSICALLY UNTOUCHED when
    * nothing matches (re-running the same DELETE is a metadata-only
    * no-op; CopyJobSpec pins file identity). SQL DELETE null semantics:
    * a NULL predicate does not delete.
    *
    * Scale shape (r21, guide §2.4/§2.6): ONE probe job classifies
    * every intersecting chunk — all candidate dirs read as a single
    * relation, per-dir matched/total counts aggregated in one pass —
    * then only the chunks needing a rewrite are rewritten, submitted
    * over the bounded worker pool (cfg.numWorkers, the same overlap
    * discipline as the copy plane). Driver-side job count is O(1) in
    * touched-chunk count for the probe (was: two driver-SEQUENTIAL
    * jobs per intersecting chunk — a wide DELETE at 100 TB serialized
    * thousands of two-job rounds under the measurement monitor; the
    * r20 verdict's one remaining driver-serial loop). Whole-chunk
    * drops stay metadata-only; untouched chunks stay byte-identical.
    *
    * Returns (droppedSpans, rewrittenSpans, untouchedCount). */
  def deleteWhere(dstPath: String, cond: Column,
      startNs: Long = Long.MinValue, endNs: Long = Long.MaxValue,
      cfg: Config): (Seq[(Long, Long)], Seq[(Long, Long)], Int) = {
    val fs0 = hadoopFs(dstPath)
    def toDeleteOf(part: DataFrame): Column = {
      val inRange =
        Tables.nsAtLeast(part, cfg.timeCol, startNs) &&
          Tables.nsBefore(part, cfg.timeCol, endNs)
      coalesce(cond && inRange, lit(false))
    }
    ChunkManifest.lockFor(dstPath).synchronized {
      val st = state(fs0, dstPath)
      val intersecting =
        st.live.filter(r => r.endNs > startNs && r.startNs < endNs)
      // ONE job over every candidate chunk dir: per-dir (matched rows,
      // total rows). A dir absent from the result held zero rows —
      // classified untouched.
      val counts: Map[String, (Long, Long)] =
        if (intersecting.isEmpty) Map.empty
        else {
          Tables.ensureNsConf(spark)
          val part = spark.read.parquet(
            intersecting.map(r => s"$dstPath/${r.dir}"): _*)
          part
            .groupBy(element_at(split(input_file_name(), "/"), -2)
              .as("__dir"))
            .agg(sum(when(toDeleteOf(part), 1L).otherwise(0L)).as("m"),
              count(lit(1)).as("t"))
            .collect()
            .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2)))
            .toMap
        }
      def cls(dir: String): (Long, Long) = counts.getOrElse(dir, (0L, 0L))
      // a chunk with NO matching rows keeps its generation dir
      // byte-identical (no rewrite, no retire)
      val toDrop = intersecting.filter { r =>
        val (m, t) = cls(r.dir); m > 0 && m == t
      }
      val toRewrite = intersecting.filter { r =>
        val (m, t) = cls(r.dir); m > 0 && m < t
      }
      // gen numbers assigned up front so the rewrites are
      // independent; dir names only need uniqueness among survivors
      val rw = inParallel(cfg.numWorkers, toRewrite.zipWithIndex) {
        case (r, i) =>
          Tables.ensureNsConf(spark)
          val part = spark.read.parquet(s"$dstPath/${r.dir}")
          val nd =
            ChunkManifest.dirName(r.startNs, r.endNs, st.gen + i + 1)
          part.filter(!toDeleteOf(part)).write.mode("overwrite")
            .parquet(s"$dstPath/$nd")
          ChunkManifest.ChunkRef(nd, r.startNs, r.endNs)
      }
      commitChunkMutation(dstPath, st, st.gen + toRewrite.size, rw,
        (toDrop ++ toRewrite).map(_.dir), cfg.chunkGraceMs)
      (toDrop.map(r => (r.startNs, r.endNs)),
        toRewrite.map(r => (r.startNs, r.endNs)),
        st.live.size - toDrop.size - toRewrite.size)
    }
  }

  /** InfluxDB-style point UPSERT into a chunked measurement: duplicate
    * points merge as a FIELD-SET UNION per (series key, timestamp) —
    * InfluxDB 1.x semantics: a field absent from the new point keeps
    * its stored value; only conflicting fields take the newest write
    * (per column: latest non-null wins). `incoming` carries the
    * measurement's columns plus `orderCol` (the batch line index: later
    * lines of one batch override earlier, InfluxDB's own behavior);
    * existing rows rank below any incoming row.
    *
    * Scale shape: only the chunks the batch TOUCHES are read+rewritten
    * (one chunk of rows each); batch-only chunks are plain writes;
    * everything else is untouched at the file-listing level. Every
    * write lands in a FRESH generation dir, replaced dirs are NOT
    * touched (retired by the single manifest commit at the end), so
    * concurrent manifest-pinned readers never lose a file under grace.
    * A clamped/irregular existing span overlapping a touched grid
    * bucket merges into the union span — the same span-truthfulness
    * discipline retention uses.
    *
    * Returns (createdSpans, rewrittenSpans). */
  def upsertPoints(dstPath: String, incoming: DataFrame, cfg: Config,
      keyCols: Seq[String], orderCol: String = "__line")
      : (Seq[(Long, Long)], Seq[(Long, Long)]) = {
    require(keyCols.nonEmpty, "upsert needs series key columns")
    Tables.ensureNsConf(spark)
    val fs0 = hadoopFs(dstPath)
    // ONE writer per measurement across every mutator (reentrant
    // under WriteService's own per-path lock — it is the same monitor
    // registry)
    ChunkManifest.lockFor(dstPath).synchronized {
      val st = state(fs0, dstPath)
      val spans = st.live.map(r => (r.startNs, r.endNs))
      val refBySpan = st.live.map(r => (r.startNs, r.endNs) -> r).toMap
      // the grid continues the EXISTING layout's phase (copy layouts
      // tile from the window start, not epoch-absolute) — anchored
      // buckets land exactly on existing chunk boundaries, so an
      // in-window point touches precisely its containing chunk
      val anchor = spans.map(_._1).minOption.getOrElse(0L)
      val t = Tables.nsCol(incoming, cfg.timeCol)
      val withB = incoming
        .withColumn("__bs",
          (t - pmod(t - lit(anchor), lit(cfg.chunkNs))).cast("long"))
        .cache()
      try {
        val buckets = withB.select(col("__bs")).distinct()
          .collect().map(_.getLong(0)).sorted
        val fullKey = keyCols :+ cfg.timeCol
        // per-column latest-non-null over the duplicate group (field-set
        // union): ONE shuffle on the high-cardinality (series, ts) key,
        // K window projections inside it — same exchange budget as the
        // former whole-row row_number, InfluxDB's merge semantics on top
        def lastWins(df: DataFrame): DataFrame = {
          val w = org.apache.spark.sql.expressions.Window
            .partitionBy(fullKey.map(col): _*)
            .orderBy(col(orderCol).desc)
          val wAll = w.rowsBetween(org.apache.spark.sql.expressions
            .Window.unboundedPreceding, org.apache.spark.sql.expressions
            .Window.unboundedFollowing)
          val valueCols = df.columns
            .filterNot(c => fullKey.contains(c) || c == orderCol)
          val merged = valueCols.foldLeft(df) { (d, c) =>
            d.withColumn(c, first(col(c), ignoreNulls = true).over(wAll))
          }
          merged.withColumn("__rn", row_number().over(w))
            .filter(col("__rn") === 1)
            .drop("__rn", orderCol)
        }
        // grid buckets overlapped by one merge group coalesce, so an
        // irregular span straddling two batch buckets is read ONCE.
        // Pass 1 builds the disjoint groups; pass 2 executes them IN
        // PARALLEL — each group is one independent chunk rewrite (its
        // own shuffle + write), and running them sequentially charges
        // the batch one full Spark-job latency per touched chunk (the
        // r13 write-plane regression's real cost at bench scale; at
        // 100 TB the concurrency is what keeps a wide batch's wall
        // time at max-of-chunks, not sum-of-chunks)
        var groups = Seq.empty[(Seq[Long], Long, Long, Seq[(Long, Long)])]
        var remaining = buckets.toList
        while (remaining.nonEmpty) {
          val bs = remaining.head
          var group = Seq(bs)
          var (ts0, te0) = (bs, bs + cfg.chunkNs)
          var overlapped = spans.filter { case (s, e) => s < te0 && e > ts0 }
          var grew = true
          while (grew) {
            val ts1 = math.min(ts0, overlapped.map(_._1).minOption.getOrElse(ts0))
            val te1 = math.max(te0, overlapped.map(_._2).maxOption.getOrElse(te0))
            val more = remaining.tail.filter(b => b < te1 && b + cfg.chunkNs > ts1)
              .filterNot(group.contains)
            grew = ts1 != ts0 || te1 != te0 || more.nonEmpty
            ts0 = ts1; te0 = te1; group = (group ++ more).distinct
            overlapped = spans.filter { case (s, e) => s < te0 && e > ts0 }
          }
          remaining = remaining.filterNot(group.contains)
          groups :+= ((group, ts0, te0, overlapped))
        }
        // per group: (span, isCreate, new manifest ref, retired dirs).
        // Every write gets a fresh generation dir — invisible to
        // readers until the manifest commit below, so no tmp/rename
        // dance is needed; a crash strands an orphan the next commit's
        // sweep removes
        val results = inParallel(cfg.numWorkers, groups.zipWithIndex) {
          case ((group, ts0, te0, overlapped), gi) =>
            val slice = withB.filter(col("__bs").isin(group: _*)).drop("__bs")
            val d = ChunkManifest.dirName(ts0, te0, st.gen + gi + 1)
            val ref = ChunkManifest.ChunkRef(d, ts0, te0)
            if (overlapped.isEmpty) {
              lastWins(slice).write.mode("overwrite")
                .parquet(s"$dstPath/$d")
              ((ts0, te0), true, ref, Seq.empty[String])
            } else {
              val existing = overlapped.map { sp =>
                spark.read.parquet(s"$dstPath/${refBySpan(sp).dir}")
              }.reduce(_ unionByName _)
                .withColumn(orderCol, lit(-1L)) // below any incoming line
              // replaced generations stay AT THEIR PATHS (retired by
              // the commit, deleted only past grace) — a pinned
              // reader's listing never goes stale
              lastWins(existing.unionByName(
                slice.withColumn(orderCol, col(orderCol).cast("long"))))
                .write.mode("overwrite").parquet(s"$dstPath/$d")
              ((ts0, te0), false, ref, overlapped.map(sp => refBySpan(sp).dir))
            }
        }
        // ONE atomic manifest commit for the whole batch: readers see
        // either every group's new generation or none
        commitChunkMutation(dstPath, st, st.gen + groups.size,
          results.map(_._3), results.flatMap(_._4), cfg.chunkGraceMs)
        (results.filter(_._2).map(_._1), results.filterNot(_._2).map(_._1))
      } finally withB.unpersist(): Unit
    }
  }

  /** ReplicateData analog: walk a discovered schema and copy every
    * measurement under every (db, rp) (hacluster.go:213-234). */
  def replicate(
      schema: Seq[DbSchema],
      srcRoot: String,
      dstRoot: String,
      cfg: Config,
      flatRoot: Boolean = false): Seq[SyncReport] =
    CopyJob.layout(schema, srcRoot, dstRoot, flatRoot)
      .map { case (src, dst) => copyMeasurement(src, dst, cfg) }

  /** Read back what a copy wrote, resolved like every stored read
    * ([[ChunkManifest.readStored]]). A timestamp-typed `ts` surfaces as
    * the canonical Long ns epoch, same as [[Tables.load]] — so copy and
    * source present one time schema. */
  def readCopied(path: String): DataFrame = {
    Tables.ensureNsConf(spark)
    Tables.withNsTime(ChunkManifest.readStored(spark, path))
  }

  /** Time-range read of a copied dataset with CHUNK pruning: every ref
    * carries its `[startNs,endNs)` span, so chunks not overlapping the
    * range are discarded before the file listing — their dirs never
    * reach the scan's file index (PlanSpec pins it). The exact ns
    * bounds then apply as an ordinary pushed filter inside the
    * surviving chunks. At 100 TB this is the read path: a day's query
    * over a year's copy touches 1/365th of the files. A range
    * overlapping no live chunk is schema-preserving empty. */
  def readCopiedRange(
      path: String,
      startNs: Long,
      endNs: Long,
      timeCol: String = "ts"): DataFrame = {
    Tables.ensureNsConf(spark)
    val frame = ChunkManifest.readStored(spark, path,
      prune = r => r.startNs < endNs && r.endNs > startNs)
    Tables.withNsTime(Tables.timeRange(frame, timeCol, startNs, endNs))
  }

  /** Per-chunk source↔dest checksum verification — stronger than the
    * count-only equality the reference relies on (its recovery trusts
    * upsert idempotence blindly, sync.go:215-232). Uses the
    * order-independent XOR row-hash Aggregator (SURVEY.md §7.2), so the
    * comparison is partitioning- and order-insensitive. ONE aggregation
    * job per side (grouping by the chunk-index function of the time
    * column), not one per chunk — a -full verification over a year of
    * 1h chunks is two scans, not 17k sequential jobs. Returns per-chunk
    * (chunk, srcChecksum, dstChecksum) for every chunk where either side
    * has rows (empty==empty chunks are vacuously equal); a copy is
    * verified iff all pairs match. NOTE: re-reads the live source — a
    * mismatch means divergence OR rows ingested since the copy. */
  def verifyChecksums(
      srcPath: String,
      dstPath: String,
      cfg: Config): Seq[(ChunkSpec, Long, Long)] = {
    import graft.functions.ChecksumAgg
    Tables.ensureNsConf(spark)
    val chunks = ChunkPlanner.plan(cfg.startNs, cfg.endNs, cfg.chunkNs,
      cfg.maxRetentionNs)
    if (chunks.isEmpty) return Nil
    val start = chunks.last.startNs
    val end = chunks.head.endNs
    val byIdx = chunks.map(c => c.id.toLong -> c).toMap
    // both sides checksummed over the SAME time representation (Long ns)
    // — a raw-timestamp source vs ns-normalized copy would hash-differ
    // on identical content
    val src = Tables.withNsTime(spark.read.parquet(srcPath), cfg.timeCol)
    val cols = src.columns.sorted.map(col).toSeq
    def sums(df: DataFrame): DataFrame = {
      val t = col(cfg.timeCol)
      val windowed =
        if (cfg.strictReferenceBounds)
          // strict bounds: boundary-aligned points belong to NO chunk
          df.filter(t > start && t < end &&
            pmod(lit(end) - t, lit(cfg.chunkNs)) =!= 0)
        else df.filter(t >= start && t < end)
      // chunk index k: newest-first spans e_k = end − k·chunk, so
      // k = (end − 1 − ts) div chunk for any ts in [start, end)
      windowed
        .groupBy(((lit(end) - 1 - t) / lit(cfg.chunkNs)).cast("long")
          .as("k"))
        .agg(ChecksumAgg.rowChecksum(cols).as("c"))
    }
    val s = sums(src).withColumnRenamed("c", "src_c")
    val d = sums(readCopied(dstPath).select(cols: _*))
      .withColumnRenamed("c", "dst_c")
    s.join(d, Seq("k"), "full_outer")
      .collect()
      .toSeq
      .flatMap { r =>
        val k = r.getLong(r.fieldIndex("k"))
        byIdx.get(k).map { chunk =>
          def v(name: String): Long =
            if (r.isNullAt(r.fieldIndex(name))) 0L
            else r.getLong(r.fieldIndex(name))
          (chunk, v("src_c"), v("dst_c"))
        }
      }
      .sortBy(_._1.id)
  }
}
