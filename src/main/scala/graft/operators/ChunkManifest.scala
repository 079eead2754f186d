package graft.operators

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.types.StructType

/** Listing-snapshot manifest for the SERVED chunk plane — the chunk
  * store's twin of the index epochs' `_layout` (the
  * manifest-committed-segments pattern of
  * [[graft.streaming.StreamIngest]]): a `_chunks` file inside the
  * measurement dir names the LIVE chunk generation dirs, every
  * rewrite lands in a FRESH generation dir (`__bucket=<s>_<e>_g<n>`)
  * and retires the replaced dirs IN PLACE (path unchanged, dropped
  * from the manifest, physically deleted only after a grace window),
  * and readers resolve the manifest first — so a reader's pinned file
  * listing stays valid for the whole grace window no matter how many
  * upserts land under it. This closes the last known race in the
  * engine (r19 soak observation, SURVEY r19 second-wave note): a
  * /query racing a concurrent /write upsert could see a transient
  * FILE_NOT_EXIST on a rewritten chunk part, because the upsert's
  * crash-safe swap MOVED the live dir aside. The reference has no
  * equivalent — its reads and writes are remote InfluxDB HTTP calls
  * serialized by the server's WAL (client.go:329-485); a
  * filesystem-native serve plane has to build the isolation itself.
  *
  * Scope contract: the manifest is the ONE chunk layout. Every chunk
  * writer commits through it — the /write plane
  * ([[CopyJob.upsertPoints]]), the batch copy plane
  * ([[CopyJob.copyMeasurement]], so an HA recovery re-copy lands
  * beside a served measurement's pinned readers instead of stopping
  * them), [[CopyJob.deleteWhere]], [[CopyJob.enforceRetention]],
  * [[CopyJob.compact]] and the CQ rollup sink — and every reader
  * resolves it ([[readStored]]). A plain `__bucket=<s>_<e>` layout
  * written before the manifest existed reads as its span dirs and is
  * adopted by [[bootstrap]] at its first mutation.
  *
  * Consistency model: one writer at a time per measurement (the
  * per-path monitor [[lockFor]], shared with
  * [[graft.api.WriteService]]); manifest commits are atomic via the
  * `_layout` tmp-promote pattern with the same crash recovery; a
  * reader holding a snapshot older than the grace window can still
  * lose files (bounded staleness, exactly the index epochs'
  * retire-grace contract — size the grace to the longest served
  * query). Cross-PROCESS writers are out of scope: the daemon serves
  * and recovers in one process; a batch `-action copy` run beside a
  * serving daemon is a second writer these monitors do not see.
  */
object ChunkManifest {

  /** One live chunk generation: its dir name under the measurement
    * path and its `[startNs, endNs)` span. Gen-0 dirs (bootstrapped
    * from a plain copy layout) keep their `__bucket=<s>_<e>` names;
    * every dir this module writes is `__bucket=<s>_<e>_g<n>`. */
  final case class ChunkRef(dir: String, startNs: Long, endNs: Long)

  /** A replaced generation awaiting grace expiry — still on disk at
    * its original path so pinned readers finish, invisible to
    * manifest readers. */
  final case class Retired(dir: String, atMs: Long)

  /** @param gen high-water generation counter (monotone; crashed
    *   writes may burn numbers — dir names only need uniqueness
    *   among SURVIVORS, and the orphan sweep removes the rest) */
  final case class State(gen: Long, live: Seq[ChunkRef],
      retired: Seq[Retired])

  /** `_chunks` format version this binary writes and the newest it
    * reads (the index `_layout` manifest-key discipline from r20). */
  val FormatVersion = 1

  /** Default retirement grace of a replaced generation: five minutes,
    * longer than any served query is expected to run. */
  val DefaultGraceMs = 300000L

  def manifestPath(dst: String) = new Path(s"$dst/_chunks")
  private def tmpPath(dst: String) = new Path(s"$dst/_chunks.tmp")

  /** Per-measurement-path write monitors — ONE registry for every
    * writer of a served measurement (WriteService batches, ql DELETE,
    * retention), so manifest read-modify-write commits never
    * interleave. Unbounded only in distinct measurements ever
    * written (human-scale, like the catalog). */
  private val locks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()
  def lockFor(path: String): Object =
    locks.computeIfAbsent(path, _ => new Object)

  def dirName(startNs: Long, endNs: Long, gen: Long): String =
    s"__bucket=${startNs}_${endNs}_g$gen"

  /** Span of any chunk dir name — plain `s_e` or gen-suffixed
    * `s_e_g<n>` (the first two tokens are always the span). */
  def spanOf(dir: String): Option[(Long, Long)] = {
    val parts = dir.stripPrefix("__bucket=").split('_')
    if (parts.length < 2) None
    else (parts(0).toLongOption, parts(1).toLongOption) match {
      case (Some(s), Some(e)) => Some((s, e))
      case _                  => None
    }
  }

  /** True when the measurement is snapshot-managed (manifest present,
    * or only its tmp survives a crash window — [[read]] recovers it). */
  def exists(fs: FileSystem, dst: String): Boolean =
    fs.exists(manifestPath(dst)) || fs.exists(tmpPath(dst))

  /** Crash-recovering manifest read (the `_layout` pattern): a crash
    * between the old manifest's delete and the tmp's rename leaves
    * only the tmp, which IS the committed state — promote it. */
  def read(fs: FileSystem, dst: String): Option[State] = {
    val p = manifestPath(dst)
    val tmp = tmpPath(dst)
    if (!fs.exists(p) && fs.exists(tmp) && !fs.rename(tmp, p))
      require(fs.exists(p), s"chunk manifest recovery failed: $tmp")
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      val txt =
        try scala.io.Source.fromInputStream(in, "UTF-8").mkString
        finally in.close()
      val lines = txt.linesIterator.toSeq
      val kv = lines.map(_.split("=", 2))
        .collect { case Array(k, v) => k -> v }.toMap
      kv.get("manifest").foreach { v =>
        val ver = v.toIntOption.getOrElse(Int.MaxValue)
        require(ver <= FormatVersion,
          s"chunk manifest $p is format v$v, newer than this " +
            s"binary's v$FormatVersion — upgrade the binary")
      }
      val live = lines.filter(_.startsWith("chunk=")).map { l =>
        l.stripPrefix("chunk=").split(":") match {
          case Array(d, s, e) => ChunkRef(d, s.toLong, e.toLong)
          case bad => sys.error(s"bad chunk line in $p: ${bad.mkString}")
        }
      }
      val retired = lines.filter(_.startsWith("retired=")).map { l =>
        l.stripPrefix("retired=").split(":") match {
          case Array(d, at) => Retired(d, at.toLong)
          case bad =>
            sys.error(s"bad retired line in $p: ${bad.mkString}")
        }
      }
      Some(State(kv.getOrElse("gen", "0").toLong, live, retired))
    }
  }

  /** Atomic commit: tmp written whole → old deleted → tmp promoted;
    * a racing reader's recovery may win the final rename — the commit
    * is durable either way (succeeds iff `_chunks` exists after). */
  def write(fs: FileSystem, dst: String, st: State): Unit = {
    val p = manifestPath(dst)
    val tmp = tmpPath(dst)
    val body = new StringBuilder()
      .append(s"manifest=$FormatVersion\n")
      .append(s"gen=${st.gen}\n")
    st.live.foreach(c =>
      body.append(s"chunk=${c.dir}:${c.startNs}:${c.endNs}\n"))
    st.retired.foreach(r =>
      body.append(s"retired=${r.dir}:${r.atMs}\n"))
    val out = fs.create(tmp, true)
    try out.write(body.toString.getBytes("UTF-8"))
    finally out.close()
    fs.delete(p, false): Unit
    if (!fs.rename(tmp, p))
      require(fs.exists(p), s"chunk manifest commit failed: $tmp -> $p")
  }

  /** A generation dir name (`__bucket=<s>_<e>_g<n>`), as opposed to a
    * plain span dir. */
  private def isGen(dir: String): Boolean = dir.contains("_g")

  /** Names of the chunk dirs on disk under `dst` (one listing). */
  def chunkDirs(fs: FileSystem, dst: String): Seq[String] = {
    val dir = new Path(dst)
    if (!fs.exists(dir)) Nil
    else fs.listStatus(dir).toSeq
      .filter(st => st.isDirectory &&
        st.getPath.getName.startsWith("__bucket="))
      .map(_.getPath.getName)
  }

  private def adopt(dirs: Seq[String]): State =
    State(0L, dirs.filterNot(isGen).flatMap(d =>
      spanOf(d).map { case (s, e) => ChunkRef(d, s, e) }), Seq.empty)

  /** Adopt a plain chunk layout: every plain `__bucket=<s>_<e>` dir
    * becomes a gen-0 live ref under its existing name (byte-zero
    * migration — no data moves). Gen-named dirs in an unmanifested
    * measurement are orphans of a writer that crashed before its first
    * commit: no manifest ever named them, so they are not adopted, and
    * the first commit's sweep removes them. Caller holds [[lockFor]]
    * and commits. */
  def bootstrap(fs: FileSystem, dst: String): State =
    adopt(chunkDirs(fs, dst))

  /** Sweep, split into PLAN (pure) and DELETE (physical) halves so a
    * commit can write the new manifest FIRST and delete after: the
    * old single-pass sweep deleted expired retired dirs before
    * [[write]] committed, so a crash between the deletes and the
    * write left the old manifest listing dirs that no longer exist
    * (r20 adviser, low) — the schema fallback in [[snapshotFrame]]
    * could then FileNotFound instead of serving an empty frame.
    * Re-deleting an already-gone dir on the next sweep is idempotent,
    * so commit-then-delete is strictly safer. */
  def sweepPlan(st: State, graceMs: Long, nowMs: Long)
      : (State, Seq[String]) = {
    val (expired, kept) =
      st.retired.partition(r => nowMs - r.atMs > graceMs)
    (st.copy(retired = kept), expired.map(_.dir))
  }

  /** Physical half of the sweep — call AFTER [[write]] committed the
    * planned state. Drops the expired retired dirs plus any gen-named
    * orphan a crashed write left behind (dirs neither live nor
    * retired in the COMMITTED state are invisible to every reader;
    * plain-named unknowns are left alone — only data this module
    * wrote is ever deleted unasked). Lock held by the caller, so
    * no manifested writer races the deletes; snapshot readers within
    * grace never see them. */
  def sweepDeletes(fs: FileSystem, dst: String, committed: State,
      expiredDirs: Seq[String]): Unit = {
    expiredDirs.foreach { d =>
      fs.delete(new Path(s"$dst/$d"), true): Unit
    }
    val known =
      (committed.live.map(_.dir) ++ committed.retired.map(_.dir)).toSet
    val dirP = new Path(dst)
    if (fs.exists(dirP)) fs.listStatus(dirP).foreach { s =>
      val n = s.getPath.getName
      if (s.isDirectory && n.startsWith("__bucket=") &&
          isGen(n) && !known.contains(n))
        fs.delete(s.getPath, true): Unit
    }
  }

  /** Commit one mutation's manifest delta (caller holds [[lockFor]]):
    * retire `retiredDirs` in place (grace-stamped, physically deleted
    * by a later commit's sweep), publish `newRefs`, advance the
    * generation counter — manifest committed FIRST, physical deletes
    * after (see [[sweepPlan]]). The ONE commit body every manifested
    * mutator shares (CopyJob's chunk mutations, the CQ rollup
    * refresh). Returns the committed state. */
  def commitMutation(fs: FileSystem, dst: String, st: State,
      gen: Long, newRefs: Seq[ChunkRef], retiredDirs: Seq[String],
      graceMs: Long): State = {
    val now = System.currentTimeMillis()
    val retired = retiredDirs.toSet
    val next = State(
      gen = gen,
      live = st.live.filterNot(r => retired.contains(r.dir)) ++ newRefs,
      retired = st.retired ++ retiredDirs.map(Retired(_, now)))
    val (planned, expiredDirs) = sweepPlan(next, graceMs, now)
    write(fs, dst, planned)
    sweepDeletes(fs, dst, planned, expiredDirs)
    planned
  }

  private def hfs(spark: SparkSession, path: String): FileSystem =
    new Path(path).getFileSystem(spark.sessionState.newHadoopConf())

  /** Manifest-pinned read: the given chunk dirs as ONE relation
    * (basePath keeps the `__bucket` partition column). A known data
    * `schema` skips the footer-inference job. */
  def snapshotFrame(spark: SparkSession, path: String, dirs: Seq[String],
      schema: Option[StructType] = None): DataFrame =
    schema.fold(spark.read)(spark.read.schema(_))
      .option("basePath", path)
      .parquet(dirs.map(d => s"$path/$d"): _*)

  /** The stored measurement at `path` as one relation, `__bucket`
    * kept — the ONE place a reader decides how a measurement is laid
    * out:
    *  - manifested: the live generation dirs, pinned now (a plain
    *    listing would also see graced residue and crash orphans);
    *  - a plain chunk layout (no `_chunks`): its span dirs, the refs
    *    [[bootstrap]] adopts;
    *  - no chunk dir at all (a flat parquet dir): the path itself.
    *
    * The manifest is read BEFORE the dir listing, so every dir it
    * names was written before the listing ran; a live dir removed out
    * of band reads as absent, as a plain dir removed from a listing
    * always did (verification then reports its chunk and a re-copy
    * repairs it). `prune` narrows the live refs before any file
    * listing — a time range's overlap test. When no live ref is left
    * the read is schema-only empty, anchored on any chunk dir still on
    * disk (live or graced residue), so an all-deleted measurement
    * stays queryable while its residue drains. */
  def storedFrame(spark: SparkSession, path: String,
      schema: Option[StructType] = None,
      prune: ChunkRef => Boolean = _ => true): DataFrame = {
    val fs = hfs(spark, path)
    val st = read(fs, path)
    val onDisk = chunkDirs(fs, path)
    val present = onDisk.toSet
    val (live, residue) = st match {
      case Some(m) => (m.live.filter(r => present(r.dir)),
        m.retired.map(_.dir).filter(present))
      case None => (adopt(onDisk).live, Seq.empty[String])
    }
    if (st.isEmpty && onDisk.isEmpty) spark.read.parquet(path)
    else {
      val hit = live.filter(prune)
      if (hit.nonEmpty) snapshotFrame(spark, path, hit.map(_.dir), schema)
      else (live.map(_.dir) ++ residue).headOption match {
        case Some(d) => snapshotFrame(spark, path, Seq(d)).where(lit(false))
        case None => throw new IllegalStateException(
          s"measurement $path has no live chunks and no graced " +
            "residue to read a schema from")
      }
    }
  }

  /** [[storedFrame]] without the `__bucket` partition column: the read
    * every consumer of a stored measurement's rows goes through. */
  def readStored(spark: SparkSession, path: String,
      schema: Option[StructType] = None,
      prune: ChunkRef => Boolean = _ => true): DataFrame =
    storedFrame(spark, path, schema, prune).drop("__bucket")
}
