package graft.operators

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit}
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
  * Scope contract (SURVEY known-limits): the manifest exists for the
  * measurements the /write plane touches — WriteService bootstraps it
  * on first write, and every chunk mutator
  * ([[CopyJob.upsertPoints]]/[[CopyJob.deleteWhere]]/
  * [[CopyJob.enforceRetention]]) auto-detects and maintains it. The
  * BATCH copy plane ([[CopyJob.copyMeasurement]]) instead
  * DE-MANIFESTS the measurement first (restores the plain layout,
  * stop-the-world): a full re-copy is outage repair, where the
  * reference itself is not serving — snapshot isolation there would
  * need generation-naming in the dynamic-partition-overwrite sink
  * for no production win.
  *
  * Consistency model: one writer at a time per measurement (the
  * per-path monitor [[lockFor]], shared with
  * [[graft.api.WriteService]]); manifest commits are atomic via the
  * `_layout` tmp-promote pattern with the same crash recovery; a
  * reader holding a snapshot older than the grace window can still
  * lose files (bounded staleness, exactly the index epochs'
  * retire-grace contract — size the grace to the longest served
  * query). Cross-PROCESS writers are out of scope: the serve plane
  * is one process (the daemon), and the copy plane de-manifests.
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

  /** Adopt a plain chunk layout: every `__bucket=` dir becomes a
    * gen-0 live ref under its existing name (byte-zero migration —
    * no data moves). Caller holds [[lockFor]] and commits. */
  def bootstrap(fs: FileSystem, dst: String): State = {
    val dir = new Path(dst)
    val live =
      if (!fs.exists(dir)) Seq.empty[ChunkRef]
      else fs.listStatus(dir).toSeq
        .filter(st => st.isDirectory &&
          st.getPath.getName.startsWith("__bucket="))
        .flatMap { st =>
          spanOf(st.getPath.getName)
            .map { case (s, e) => ChunkRef(st.getPath.getName, s, e) }
        }
    State(0L, live, Seq.empty)
  }

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
    * plain-named unknowns are left alone — an out-of-band copy is
    * the de-manifest path's business). Lock held by the caller, so
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
          n.contains("_g") && !known.contains(n))
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

  /** Restore the plain layout (stop-the-world, caller-locked): drop
    * retired dirs, rename gen-named live dirs to their plain span
    * names, remove the manifest. The batch copy plane calls this
    * before landing on a served measurement — its
    * dynamic-partition-overwrite sink addresses dirs by span value
    * and would otherwise split one measurement across two naming
    * schemes the manifest no longer describes. */
  def demanifest(fs: FileSystem, dst: String): Unit =
    read(fs, dst).foreach { st =>
      st.retired.foreach(r =>
        fs.delete(new Path(s"$dst/${r.dir}"), true): Unit)
      // orphans from crashed writes go too (they are gen-named)
      val live = st.live.map(_.dir).toSet
      val dirP = new Path(dst)
      if (fs.exists(dirP)) fs.listStatus(dirP).foreach { s =>
        val n = s.getPath.getName
        if (s.isDirectory && n.startsWith("__bucket=") &&
            n.contains("_g") && !live.contains(n))
          fs.delete(s.getPath, true): Unit
      }
      st.live.foreach { c =>
        val plain = s"__bucket=${c.startNs}_${c.endNs}"
        if (c.dir != plain) {
          val from = new Path(s"$dst/${c.dir}")
          val to = new Path(s"$dst/$plain")
          fs.delete(to, true): Unit // a retired gen-0 span dir
          require(fs.rename(from, to),
            s"demanifest: cannot restore $from -> $to")
        }
      }
      fs.delete(manifestPath(dst), false): Unit
      fs.delete(tmpPath(dst), false): Unit
    }

  private def hfs(spark: SparkSession, path: String): FileSystem =
    new Path(path).getFileSystem(spark.sessionState.newHadoopConf())

  /** The manifest's live refs, or None when the measurement is not
    * snapshot-managed (callers fall back to the plain listing read). */
  def snapshotRefs(spark: SparkSession, path: String)
      : Option[Seq[ChunkRef]] =
    read(hfs(spark, path), path).map(_.live)

  /** Manifest-pinned read: the live generation dirs as ONE relation
    * (basePath keeps the `__bucket` partition column shape identical
    * to the plain read). `refs` pre-pruned by the caller when a time
    * range is known — pruning at the REF level beats PartitionFilters
    * (non-overlapping generations never even reach the file listing).
    * An empty live set reads schema-only from a graced retired dir so
    * an all-deleted measurement stays queryable (empty, not an
    * error) while its grace residue drains. A known data `schema`
    * skips the live read's footer-inference job. */
  def snapshotFrame(spark: SparkSession, path: String,
      refs: Seq[ChunkRef],
      schema: Option[StructType] = None): DataFrame =
    if (refs.nonEmpty)
      schema.fold(spark.read)(spark.read.schema(_))
        .option("basePath", path)
        .parquet(refs.map(r => s"$path/${r.dir}"): _*)
    else {
      val fs = hfs(spark, path)
      val retired = read(fs, path).map(_.retired).getOrElse(Seq.empty)
        // a retired dir can be physically gone while still listed
        // (crash between a commit's deletes and the next sweep) —
        // only an EXISTING dir can serve as the schema anchor
        .filter(r => fs.exists(new Path(s"$path/${r.dir}")))
      retired.headOption match {
        case Some(r) =>
          spark.read.parquet(s"$path/${r.dir}").where(lit(false))
            .withColumn("__bucket", lit(null).cast("string"))
        case None => throw new IllegalStateException(
          s"measurement $path has no live chunks and no graced " +
            "residue to read a schema from")
      }
    }

  /** [[snapshotFrame]] over ALL live refs when manifested, else None. */
  def snapshotRead(spark: SparkSession, path: String,
      schema: Option[StructType] = None): Option[DataFrame] =
    snapshotRefs(spark, path).map(snapshotFrame(spark, path, _, schema))
}
