package graft.queries

import graft.agent.{Agent, AgentConfig}
import graft.catalog.Catalog
import graft.functions.ChecksumAgg
import graft.model.{FieldSch, FieldType}
import graft.operators.{ChunkManifest, ContinuousQuery, CopyJob,
  Profiling, SeriesOps}
import graft.plan.ChunkPlanner
import graft.sources.{LineProtocol, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Reference-parity queries: the syncflux operator inventory from
  * SURVEY.md §2.1/§2.2/§2.4/§2.8 re-expressed Spark-first over the
  * `events` measurement (ns-precision time-series table).
  *
  * Time columns: Spark reads the ns parquet timestamps as Long ns epochs
  * (authoritative, lossless); DuckDB truncates the same column to µs —
  * so oracle-compared outputs carry `time_us = ts div 1000`, which both
  * engines agree on exactly. Filters still push down on the raw ns Long.
  */
object ParityQueries {

  // copy window: [2024-01-05, 2024-01-20) over the ~month of events data
  final val StartNs = 1704412800000000000L
  final val EndNs   = 1705708800000000000L
  final val DayNs   = 86400000000000L
  final val HourNs  = 3600000000000L

  /** Deterministic malformed line-protocol lines planted by
    * `source_lp_quarantine`: each fails the scanner for a DIFFERENT
    * reason (no field set, no space, field without '=', non-numeric
    * timestamp), all unambiguously invalid; the oracle counts them.
    * LineProtocolSpec asserts each one individually fails
    * parseLineOpt, so a scanner change that starts accepting one
    * breaks a unit test before it breaks the gate. */
  final val CorruptLpLines: Seq[String] = Seq(
    "justameasurement",
    "events,event_type=click",
    "events fieldwithoutequals",
    "events value=3.5 notanumber")

  /** The live chunk dir of the copied measurement `dst` spanning
    * exactly `[startNs, endNs)`, found through its manifest — a
    * fixture's victim to destroy out of band. */
  private def liveChunk(s: SparkSession, dst: String, startNs: Long,
      endNs: Long, fixture: String): org.apache.hadoop.fs.Path = {
    val fs = new org.apache.hadoop.fs.Path(dst)
      .getFileSystem(s.sessionState.newHadoopConf())
    val ref = ChunkManifest.read(fs, dst).toSeq.flatMap(_.live)
      .find(r => r.startNs == startNs && r.endNs == endNs)
    require(ref.isDefined,
      s"$fixture fixture bug: no live chunk [$startNs, $endNs) in $dst")
    new org.apache.hadoop.fs.Path(s"$dst/${ref.get.dir}")
  }

  private def ev(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "events")

  private val evProj = Seq(
    col("event_id"), expr("ts div 1000").as("time_us"), col("user_id"),
    col("event_type"), col("value"), col("props"))

  def defs: Map[String, QueryDef] = Q.m(

    // S5/P2: the main data scan — time-range full scan with the
    // reference's doubly-exclusive bounds (sync.go:162).
    "s5_timerange_scan" -> QueryDef(
      (s, dir) => Tables
        .timeRange(ev(s, dir), "ts", StartNs, EndNs, strictBounds = true)
        .select(evProj: _*),
      Some(s"""SELECT event_id, epoch_us(ts) AS time_us, user_id,
               event_type, value, props FROM events
               WHERE epoch_ns(ts) > $StartNs AND epoch_ns(ts) < $EndNs"""
        .replaceAll("\\s+", " "))),

    // Chunk planner tiling: union of newest-first [start,end) day chunks
    // must equal the whole half-open window (lossless default plan;
    // sync.go:118-146 semantics minus the boundary-loss bug).
    "s5_chunked_union" -> QueryDef(
      (s, dir) => {
        val chunks = ChunkPlanner.plan(StartNs, EndNs, DayNs)
        chunks.map { c =>
          Tables.timeRange(ev(s, dir), "ts", c.startNs, c.endNs)
            .select(evProj: _*)
        }.reduce(_ unionAll _)
      },
      Some(s"""SELECT event_id, epoch_us(ts) AS time_us, user_id,
               event_type, value, props FROM events
               WHERE epoch_ns(ts) >= $StartNs AND epoch_ns(ts) < $EndNs"""
        .replaceAll("\\s+", " "))),

    // Tumbling time-window aggregation — the InfluxQL `GROUP BY
    // time(1h)` analog, mapped to Spark's native window() operator
    // (SURVEY.md §2.5: chunking is planning, in-query tumbling windows
    // are `window($"time", ...)`). Epoch-aligned hour buckets, so the
    // oracle's integer µs arithmetic lands on identical bucket starts.
    "win_tumbling" -> QueryDef(
      (s, dir) => Tables.events(s, dir)
        .groupBy(window(col("time"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("value")), 4).as("sum_value"))
        .select(expr("unix_micros(window.start)").as("w_start_us"),
          col("event_type"), col("n"), col("sum_value")),
      Some("""SELECT (epoch_us(ts) // 3600000000) * 3600000000
          AS w_start_us, event_type, count(*)::BIGINT AS n,
          round(sum(value),4) AS sum_value
        FROM events GROUP BY 1, 2""".replaceAll("\\s+", " "))),

    // per-EVENT trailing-24h RANGE frame: each purchase row carries
    // the user's rolling last-day purchase count/spend AS OF its own
    // timestamp — the event-time rolling aggregate (RANGE, not ROWS:
    // peers at the same µs all see the same frame, irregular spacing
    // handled natively; the per-transaction velocity feature a fraud
    // model reads). Partitioned by USER, not by the 5-value type —
    // per-user partitions stay bounded at any corpus size, never the
    // one-reducer-per-type funnel. Exact Longs.
    "win_range_rolling" -> QueryDef(
      (s, dir) => {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("user_id")).orderBy(col("t_us"))
          .rangeBetween(-86399999999L, 0L)
        Tables.load(s, dir, "events")
          .filter(col("event_type") === "purchase")
          .select(col("event_id"), col("user_id"),
            expr("ts div 1000").as("t_us"),
            round(col("value") * 100, 0).cast("long").as("cents"))
          .select(col("event_id"), col("user_id"), col("t_us"),
            count(lit(1)).over(w).as("n_24h"),
            sum(col("cents")).over(w).as("sum_24h"))
      },
      Some("""SELECT event_id, user_id, epoch_us(ts) AS t_us,
          count(*) OVER w AS n_24h,
          sum(CAST(round(value * 100, 0) AS BIGINT)) OVER w
            ::BIGINT AS sum_24h
        FROM events WHERE event_type = 'purchase'
        WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
          RANGE BETWEEN 86399999999 PRECEDING AND CURRENT ROW)"""
        .replaceAll("\\s+", " "))),

    // sliding event-time windows (2 h length, 1 h hop): every event
    // lands in exactly two windows — Spark's window() explodes the
    // covering set natively; the oracle unnests the two hour-aligned
    // starts. Completes the window family (tumbling/sliding/session).
    "win_sliding" -> QueryDef(
      (s, dir) => Tables.events(s, dir)
        .groupBy(window(col("time"), "2 hours", "1 hour"),
          col("event_type"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("value")), 4).as("sum_value"))
        .select(expr("unix_micros(window.start)").as("w_start_us"),
          col("event_type"), col("n"), col("sum_value")),
      Some("""WITH e AS (SELECT epoch_us(ts) AS t, event_type, value
          FROM events),
        w AS (SELECT unnest([
            (t // 3600000000) * 3600000000 - 3600000000,
            (t // 3600000000) * 3600000000]) AS w_start_us,
          event_type, value FROM e)
        SELECT w_start_us, event_type, count(*)::BIGINT AS n,
          round(sum(value),4) AS sum_value
        FROM w GROUP BY 1, 2""".replaceAll("\\s+", " "))),

    // Differential sync roundtrip: copy, destroy one chunk partition,
    // then sync ONLY the mismatched chunks back (two checksum scans
    // find them; unchanged chunks are never rewritten — the
    // incremental-backup write-amplification win). Oracle = the full
    // window: repair must restore exact content equality.
    "sync_differential" -> QueryDef(
      (s, dir) => {
        val job = new CopyJob(s)
        val cfg = CopyJob.Config(StartNs, EndNs, chunkNs = 2 * DayNs,
          timeCol = "ts")
        val dst = s"/tmp/graft_diffsync_${math.abs(dir.hashCode)}"
        job.copyMeasurement(s"$dir/events.parquet", dst, cfg)
        // chunks tile NEWEST-FIRST from EndNs, so 2-day spans sit at
        // ODD day offsets: [S+1d,S+3d) exists, [S+4d,S+6d) would not
        val victim = liveChunk(s, dst, StartNs + 1 * DayNs,
          StartNs + 3 * DayNs, "diffsync")
        val vfs = victim.getFileSystem(s.sessionState.newHadoopConf())
        require(vfs.exists(victim),
          s"diffsync fixture bug: victim partition $victim missing")
        vfs.delete(victim, true)
        job.syncDiffering(s"$dir/events.parquet", dst, cfg)
        job.readCopied(dst).select(evProj: _*)
      },
      Some(s"""SELECT event_id, epoch_us(ts) AS time_us, user_id,
               event_type, value, props FROM events
               WHERE epoch_ns(ts) >= $StartNs AND epoch_ns(ts) < $EndNs"""
        .replaceAll("\\s+", " "))),

    // Continuous-query downsampling roundtrip: refresh the 1-day
    // rollup TWICE (the second run is the incremental steady state —
    // it recomputes only the watermark's lookback bucket) and read the
    // derived measurement back. Oracle = the one-shot full aggregate:
    // incremental refresh must converge to exactly it. InfluxDB 1.x
    // CONTINUOUS QUERY semantics incl. the RESAMPLE FOR lookback
    // (ContinuousQuerySpec pins late-data behavior).
    "cq_downsample" -> QueryDef(
      (s, dir) => {
        val cq = new ContinuousQuery(s)
        val dst = s"/tmp/graft_cq_${math.abs(dir.hashCode)}"
        // reset: a stale watermark from a previous run against a
        // CHANGED fixture would pin old pre-watermark buckets forever
        // (incremental refresh never reconciles history by design)
        val p = new org.apache.hadoop.fs.Path(dst)
        p.getFileSystem(s.sessionState.newHadoopConf()).delete(p, true)
        cq.refresh(s"$dir/events.parquet", dst, Seq("event_type"),
          "value", bucketNs = DayNs, resampleNs = DayNs)
        cq.refresh(s"$dir/events.parquet", dst, Seq("event_type"),
          "value", bucketNs = DayNs, resampleNs = DayNs)
        cq.readRollup(dst)
          .select(col("event_type"), col("bucket_ns"), col("n_points"),
            round(col("sum_value"), 4).as("sum_value_r"),
            col("min_value"), col("max_value"))
      },
      Some(s"""SELECT event_type,
          epoch_ns(ts) - epoch_ns(ts) % $DayNs AS bucket_ns,
          count(*)::BIGINT AS n_points,
          round(sum(value), 4) AS sum_value_r,
          min(value) AS min_value, max(value) AS max_value
        FROM events GROUP BY 1, 2""".replaceAll("\\s+", " "))),

    // Retention-policy enforcement roundtrip: copy the window, expire
    // everything below a mid-chunk cutoff, read back. Whole expired
    // chunks retire at the manifest level (no data read); only the
    // straddling chunk is rewritten — into a generation of the clamped
    // span, keeping chunk pruning truthful. Executes
    // the expiry the replicated _rp.json retention metadata describes
    // (the reference leaves enforcement to InfluxDB itself).
    "retention_enforce" -> QueryDef(
      (s, dir) => {
        val job = new CopyJob(s)
        val cfg = CopyJob.Config(StartNs, EndNs, chunkNs = 2 * DayNs,
          timeCol = "ts")
        val dst = s"/tmp/graft_retention_${math.abs(dir.hashCode)}"
        job.copyMeasurement(s"$dir/events.parquet", dst, cfg)
        // chunks tile newest-first from EndNs → 2-day spans at odd day
        // offsets ([S+3d,S+5d) etc.); S+4d lands MID-chunk, forcing the
        // straddling trim+rename path (S+5d would be a boundary and
        // exercise only whole-chunk drops)
        val cutoff = StartNs + 4 * DayNs
        val (_, trimmed, _) = job.enforceRetention(dst, cutoff, cfg)
        require(trimmed.nonEmpty,
          "retention fixture bug: cutoff hit a chunk boundary, no trim")
        job.readCopied(dst).select(evProj: _*)
      },
      Some(s"""SELECT event_id, epoch_us(ts) AS time_us, user_id,
               event_type, value, props FROM events
               WHERE epoch_ns(ts) >= ${StartNs + 4 * DayNs}
                 AND epoch_ns(ts) < $EndNs"""
        .replaceAll("\\s+", " "))),

    // Exactly-once maintenance composition: the nightly ops chain
    // (diffsync repair → compact → retention expiry) run as ONE
    // sequence against a damaged replica, then run a SECOND time to
    // prove convergence — the second pass must repair/drop/trim
    // NOTHING (loud requires), because the repair window is clamped to
    // the retention cutoff before repairing (Agent.maintain's
    // contract; AgentSpec drives the same chain through the agent).
    // Oracle = the retained window: damage repaired, expiry applied.
    "sync_maintenance" -> QueryDef(
      (s, dir) => {
        val job = new CopyJob(s)
        val cutoff = StartNs + 4 * DayNs // mid-chunk → trim path too
        val cfg0 = CopyJob.Config(StartNs, EndNs, chunkNs = 2 * DayNs,
          timeCol = "ts")
        val cfgClamped = cfg0.copy(startNs = cutoff)
        val dst = s"/tmp/graft_maint_${math.abs(dir.hashCode)}"
        val p = new org.apache.hadoop.fs.Path(dst)
        p.getFileSystem(s.sessionState.newHadoopConf()).delete(p, true)
        job.copyMeasurement(s"$dir/events.parquet", dst, cfg0)
        // destroy a retained chunk (odd-day tiling: [S+5d, S+7d))
        val victim = liveChunk(s, dst, StartNs + 5 * DayNs,
          StartNs + 7 * DayNs, "maintenance")
        val vfs = victim.getFileSystem(s.sessionState.newHadoopConf())
        require(vfs.exists(victim),
          s"maintenance fixture bug: victim partition $victim missing")
        vfs.delete(victim, true)
        def chain() = {
          val repaired = job.syncDiffering(s"$dir/events.parquet", dst,
            cfgClamped)._1
          job.compact(dst, cfgClamped)
          val (dropped, trimmed, _) =
            job.enforceRetention(dst, cutoff, cfgClamped)
          (repaired, dropped, trimmed)
        }
        val (r1, d1, t1) = chain()
        require(r1.nonEmpty, "first pass must repair the damaged chunk")
        require(d1.nonEmpty && t1.nonEmpty,
          "first pass must drop whole expired chunks AND trim the " +
            "straddling one")
        val (r2, d2, t2) = chain()
        require(r2.isEmpty && d2.isEmpty && t2.isEmpty,
          s"maintenance chain did not converge: second pass repaired " +
            s"$r2, dropped $d2, trimmed $t2")
        job.readCopied(dst).select(evProj: _*)
      },
      Some(s"""SELECT event_id, epoch_us(ts) AS time_us, user_id,
               event_type, value, props FROM events
               WHERE epoch_ns(ts) >= ${StartNs + 4 * DayNs}
                 AND epoch_ns(ts) < $EndNs"""
        .replaceAll("\\s+", " "))),

    // Density-adaptive chunk tiling: plan chunk spans from a coarse
    // row histogram (one pushed-down count at 12h grain) so each chunk
    // holds ~1500 rows, then union the per-chunk scans. Fixed-width
    // chunks break under time skew at scale (one burst chunk crushes
    // an executor while thousands idle); the adaptive plan bounds rows
    // per chunk at max(target, densest cell). Oracle = the whole
    // window: the tiling must be exactly lossless.
    "s5_adaptive_union" -> QueryDef(
      (s, dir) => {
        val e = ev(s, dir)
        val counts = Tables.cellCounts(e, "ts", StartNs, EndNs,
          cellNs = DayNs / 2)
        val chunks = ChunkPlanner.planAdaptive(StartNs, EndNs,
          DayNs / 2, counts, targetRows = 1500L)
        chunks.map { c =>
          Tables.timeRange(e, "ts", c.startNs, c.endNs)
            .select(evProj: _*)
        }.reduce(_ unionAll _)
      },
      Some(s"""SELECT event_id, epoch_us(ts) AS time_us, user_id,
               event_type, value, props FROM events
               WHERE epoch_ns(ts) >= $StartNs AND epoch_ns(ts) < $EndNs"""
        .replaceAll("\\s+", " "))),

    // End-to-end copy: chunked scan → generation dirs + one manifest
    // commit, run TWICE to prove blind re-copy idempotence (the second
    // copy retires the first's chunks ≅ InfluxDB point upsert;
    // SURVEY.md §7.3 hard part 4).
    "sync_copy_roundtrip" -> QueryDef(
      (s, dir) => {
        val job = new CopyJob(s)
        val cfg = CopyJob.Config(StartNs, EndNs, chunkNs = 2 * DayNs,
          timeCol = "ts")
        val dst = s"/tmp/graft_copy_rt_${math.abs(dir.hashCode)}"
        job.copyMeasurement(s"$dir/events.parquet", dst, cfg)
        job.copyMeasurement(s"$dir/events.parquet", dst, cfg) // idempotent
        job.readCopied(dst).select(evProj: _*)
      },
      Some(s"""SELECT event_id, epoch_us(ts) AS time_us, user_id,
               event_type, value, props FROM events
               WHERE epoch_ns(ts) >= $StartNs AND epoch_ns(ts) < $EndNs"""
        .replaceAll("\\s+", " "))),

    // chunk-pruned range read of a copied dataset: the manifest's
    // span-keyed refs let a 3-day window over a 15-day copy skip 6 of 8
    // chunks before FILE LISTING (only the overlapping generation dirs
    // reach the scan's file index; PlanSpec pins it), with the exact
    // ns bounds as residual pushed filter. The window deliberately
    // straddles a chunk boundary so both layers (chunk pruning + row
    // filtering) are exercised.
    "s5_partition_pruned_scan" -> QueryDef(
      (s, dir) => {
        val job = new CopyJob(s)
        val cfg = CopyJob.Config(StartNs, EndNs, chunkNs = 2 * DayNs,
          timeCol = "ts")
        val dst = s"/tmp/graft_prune_rt_${math.abs(dir.hashCode)}"
        job.copyMeasurement(s"$dir/events.parquet", dst, cfg)
        job.readCopiedRange(dst, StartNs + 3 * DayNs, StartNs + 6 * DayNs)
          .select(evProj: _*)
      },
      Some(s"""SELECT event_id, epoch_us(ts) AS time_us, user_id,
               event_type, value, props FROM events
               WHERE epoch_ns(ts) >= ${StartNs + 3 * DayNs}
               AND epoch_ns(ts) < ${StartNs + 6 * DayNs}"""
        .replaceAll("\\s+", " "))),

    // End-to-end AGENT fullcopy (-action fullcopy ≅ SchCopy,
    // agent.go:176-208): replicaschema with -newdb/-newrp renames, then
    // the windowed data copy, dispatched through the Agent composition —
    // the first user touchpoint. Run twice (idempotence). Reads back the
    // renamed replica/rp30d destination.
    "sync_fullcopy_roundtrip" -> QueryDef(
      (s, dir) => {
        val dst = s"/tmp/graft_fullcopy_rt_${math.abs(dir.hashCode)}"
        val cfg = AgentConfig(masterRoot = dir, slaveRoot = dst,
          measRegex = "^events$", newDb = "replica", newRp = "rp30d",
          chunk = "120h",
          start = (StartNs / 1000000000L).toString,
          end = (EndNs / 1000000000L).toString,
          monitorRetryIntervalMs = 0L)
        val agent = new Agent(s, cfg)
        agent.dispatch("fullcopy")
        agent.dispatch("fullcopy") // blind re-run must be idempotent
        new CopyJob(s).readCopied(s"$dst/replica/rp30d/events.parquet")
          .select(evProj: _*)
      },
      Some(s"""SELECT event_id, epoch_us(ts) AS time_us, user_id,
               event_type, value, props FROM events
               WHERE epoch_ns(ts) >= $StartNs AND epoch_ns(ts) < $EndNs"""
        .replaceAll("\\s+", " "))),

    // Order-independent per-chunk row-set checksum (custom
    // Aggregator[String,Long,Long], SURVEY.md §7.2) — the verification
    // primitive CopyJob.verifyChecksums uses instead of count-only
    // equality. 60-bit md5-XOR scheme is engine-portable: DuckDB's
    // bit_xor over the same md5 substring matches bit-for-bit. The
    // double-typed `value` column is excluded from the row string (
    // double→text formatting differs across engines; within-engine
    // verification includes it).
    "copy_checksum" -> QueryDef(
      // µs time in the row string — DuckDB truncates ns parquet
      // timestamps to µs, the repo-wide oracle convention (file header).
      (s, dir) => ev(s, dir)
        .groupBy(expr(s"ts div ${2 * DayNs}").as("bucket"))
        .agg(ChecksumAgg.rowChecksum(Seq(col("event_id"),
          expr("ts div 1000"), col("user_id"), col("event_type"),
          col("props"))).as("checksum")),
      Some {
        // mirror rowChecksum's FULL canonicalization: escape \ and |
        // inside values (boundary-shift safety) AND coalesce NULL to the
        // chr(1)||'null' sentinel — a no-op on this data, but the oracle
        // must express the same function or a future NULL diverges
        def esc(x: String) =
          s"coalesce(replace(replace($x, chr(92), chr(92)||chr(92)), " +
            s"'|', chr(92)||'|'), chr(1)||'null')"
        s"""SELECT epoch_ns(ts)//${2 * DayNs} AS bucket,
        bit_xor(('0x'||substr(md5(${esc("event_id::VARCHAR")}||'|'||
          ${esc("epoch_us(ts)::VARCHAR")}||'|'||
          ${esc("user_id::VARCHAR")}||'|'||
          ${esc("event_type")}||'|'||${esc("props")}),1,15))::BIGINT)
          AS checksum
        FROM events GROUP BY 1""".replaceAll("\\s+", " ")
      }),

    // S6: line-protocol ENCODE — row → wire line, bit-identical to a
    // DuckDB string construction (tags sorted, integer `i` suffix, string
    // fields quoted with \ and " escaped). Time rides at µs (DuckDB
    // truncates ns parquet timestamps; repo oracle convention).
    "lp_encode_roundtrip" -> QueryDef(
      (s, dir) => LineProtocol.encode(
        ev(s, dir).withColumn("time_us", expr("ts div 1000")),
        "events", Seq("event_type", "user_id"),
        Map("event_id" -> FieldSch("event_id", FieldType.Integer),
          "props" -> FieldSch("props", FieldType.Str)),
        "time_us"),
      Some {
        // escTag mirror: ',', '=', ' ' get a backslash prefix (the tag
        // fixture values contain none, but the oracle must express the
        // same encoder or a future fixture value diverges)
        def escTag(x: String) =
          s"""replace(replace(replace($x, ',', chr(92)||','),
              '=', chr(92)||'='), ' ', chr(92)||' ')"""
        s"""SELECT 'events,event_type='||${escTag("event_type")}||
        ',user_id='||${escTag("user_id::VARCHAR")}||
        ' event_id='||event_id::VARCHAR||'i,props="'||
        replace(replace(props, chr(92), chr(92)||chr(92)),
          '"', chr(92)||'"')||'" '||
        epoch_us(ts)::VARCHAR AS line FROM events"""
          .replaceAll("\\s+", " ")
      }),

    // S6: line-protocol typed DECODE — encode→parse→coerce must return
    // the original typed columns (the reference's two-step decode matrix,
    // client.go:392-478; uint64 path exercised in LineProtocolSpec). The
    // float field round-trips exactly: double→string is
    // shortest-round-trip, and the oracle compares against the source
    // column directly.
    "lp_decode_typed" -> QueryDef(
      (s, dir) => {
        val lines = LineProtocol.encode(
          ev(s, dir).withColumn("time_us", expr("ts div 1000")),
          "events", Seq("event_type", "user_id"),
          Map("event_id" -> FieldSch("event_id", FieldType.Integer),
            "value" -> FieldSch("value", FieldType.Float),
            "props" -> FieldSch("props", FieldType.Str)),
          "time_us")
        LineProtocol.decodeTyped(lines, "line",
          Seq("event_type", "user_id"),
          Map("event_id" -> FieldSch("event_id", FieldType.Integer),
            "value" -> FieldSch("value", FieldType.Float),
            "props" -> FieldSch("props", FieldType.Str)))
          .select(col("event_id"),
            col("tag_event_type").as("event_type"),
            col("tag_user_id").cast("long").as("user_id"),
            col("value"), col("props"),
            col("time_ns").as("time_us"))
      },
      Some("""SELECT event_id, event_type, user_id, value, props,
        epoch_us(ts) AS time_us FROM events"""
        .replaceAll("\\s+", " "))),

    // S6 production posture: line-protocol decode with malformed-line
    // QUARANTINE (the sources.Jsonl convention on the LP plane) —
    // encode the events, plant deterministic garbage lines among them,
    // and prove every clean line decodes (count + event_id checksum
    // match the parquet source) while every planted line is captured
    // raw, none silently dropped (decodeTyped's documented drop is the
    // streaming-poison guard; this is the auditable batch path).
    "source_lp_quarantine" -> QueryDef(
      (s, dir) => {
        val lines = LineProtocol.encode(
          ev(s, dir).withColumn("time_us", expr("ts div 1000")),
          "events", Seq("event_type", "user_id"),
          Map("event_id" -> FieldSch("event_id", FieldType.Integer),
            "props" -> FieldSch("props", FieldType.Str)),
          "time_us").select(col("line"))
        val planted = s.createDataset(CorruptLpLines)(
          org.apache.spark.sql.Encoders.STRING).toDF("line")
        val decoded = LineProtocol.decodeTypedQuarantined(
          lines.union(planted), "line", Seq("event_type", "user_id"),
          Map("event_id" -> FieldSch("event_id", FieldType.Integer),
            "props" -> FieldSch("props", FieldType.Str)))
        decoded.groupBy(
            when(col(graft.sources.Jsonl.CorruptCol).isNull, lit("clean"))
              .otherwise(lit("quarantined")).as("status"))
          .agg(count(lit(1)).as("n_rows"),
            sum(col("event_id")).as("id_sum"))
      },
      Some(s"""SELECT 'clean' AS status, count(*)::BIGINT AS n_rows,
          sum(event_id)::BIGINT AS id_sum FROM events
        UNION ALL SELECT 'quarantined',
          ${CorruptLpLines.length}::BIGINT, NULL::BIGINT"""
        .replaceAll("\\s+", " "))),

    // Batch sessionization: gap-based sessions per series via
    // lag + cumulative sum of gap-break flags (30-minute inactivity gap).
    // Two window passes over (user_id, ts): no joins, no self-shuffles.
    "win_sessionize" -> QueryDef(
      (s, dir) => {
        // gap compared at µs: DuckDB truncates ns parquet timestamps, so
        // an ns-precision comparison could flip sessions near the edge
        val gapUs = 30L * 60L * 1000000L
        val byUser = org.apache.spark.sql.expressions.Window
          .partitionBy(col("user_id")).orderBy(col("ts"))
        ev(s, dir)
          .withColumn("prev_ts", lag(col("ts"), 1).over(byUser))
          .withColumn("brk",
            when(col("prev_ts").isNull ||
              expr("ts div 1000") - expr("prev_ts div 1000") > gapUs, 1L)
              .otherwise(0L))
          .withColumn("session_no", sum(col("brk")).over(byUser))
          .groupBy(col("user_id"), col("session_no"))
          .agg(count(lit(1)).as("n_events"),
            expr("min(ts div 1000)").as("start_us"),
            expr("max(ts div 1000)").as("end_us"))
      },
      Some(s"""WITH x AS (SELECT user_id, ts,
          lag(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev_ts
          FROM events),
        b AS (SELECT user_id, ts, CASE WHEN prev_ts IS NULL OR
            epoch_us(ts) - epoch_us(prev_ts) > ${30L * 60 * 1000000L}
            THEN 1 ELSE 0 END AS brk FROM x),
        sn AS (SELECT user_id, ts, sum(brk) OVER (PARTITION BY user_id
            ORDER BY ts ROWS UNBOUNDED PRECEDING) AS session_no FROM b)
        SELECT user_id, session_no::BIGINT AS session_no,
          count(*)::BIGINT AS n_events,
          min(epoch_us(ts)) AS start_us, max(epoch_us(ts)) AS end_us
        FROM sn GROUP BY 1, 2""".replaceAll("\\s+", " "))),

    // A1/A2: GROUP BY * series grouping + per-series point/value rollups
    // (tags are ordinary columns in our row schema; sync.go:162).
    "a1_series_groupby" -> QueryDef(
      (s, dir) => ev(s, dir)
        .groupBy(col("event_type"), col("user_id"))
        .agg(count(lit(1)).as("n_points"),
          round(sum(col("value")), 2).as("sum_value"),
          expr("min(ts div 1000)").as("min_time_us"),
          expr("max(ts div 1000)").as("max_time_us")),
      Some("""SELECT event_type, user_id, count(*)::BIGINT AS n_points,
              round(sum(value),2) AS sum_value,
              min(epoch_us(ts)) AS min_time_us,
              max(epoch_us(ts)) AS max_time_us
              FROM events GROUP BY event_type, user_id"""
        .replaceAll("\\s+", " "))),

    // A2: per-chunk point counts (the chunk loop's totalpoints metric,
    // sync.go:148,170,185) as an hourly-bucket count.
    "a2_chunk_counts" -> QueryDef(
      (s, dir) => ev(s, dir)
        .groupBy(expr(s"ts div $HourNs").as("bucket"))
        .agg(count(lit(1)).as("n")),
      Some(s"""SELECT epoch_ns(ts)//$HourNs AS bucket,
               count(*)::BIGINT AS n FROM events GROUP BY 1"""
        .replaceAll("\\s+", " "))),

    // InfluxQL transformation-function family over synced measurements
    // (DIFFERENCE / DERIVATIVE / NON_NEGATIVE_DERIVATIVE / ELAPSED /
    // MOVING_AVERAGE / CUMULATIVE_SUM): the queries InfluxDB users run
    // against the data the reference replicates. One shared window spec
    // per series key ⇒ a single Exchange+Sort+Window computes all six
    // (PlanSpec pins exactly one window exchange).
    // µs-truncated time on BOTH sides (DuckDB timestamps are µs; the
    // repo-wide epoch_us convention) — ties, if truncation makes any,
    // break identically on event_id.
    "ts_series_transforms" -> QueryDef(
      (s, dir) => SeriesOps.transforms(
          ev(s, dir).withColumn("time_us", expr("ts div 1000")),
          seriesCols = Seq("event_type", "user_id"),
          tsCol = "time_us", tieCol = "event_id", valueCol = "value",
          maPoints = 3, unitTicks = 1000000L)
        .withColumnRenamed("time_ticks", "time_us")
        .withColumnRenamed("elapsed_ticks", "elapsed_us"),
      Some("""WITH s AS (SELECT event_type, user_id, event_id,
          epoch_us(ts) AS tus, value FROM events),
        w AS (SELECT event_type, user_id, event_id, tus, value,
          lag(value) OVER win AS pv, lag(tus) OVER win AS pt,
          CASE WHEN count(value) OVER
              (win ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) = 3
            THEN avg(value) OVER
              (win ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) END AS ma,
          sum(value) OVER
            (win ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
          FROM s
          WINDOW win AS (PARTITION BY event_type, user_id
                         ORDER BY tus, event_id)),
        d AS (SELECT *, CASE WHEN tus - pt > 0 THEN
            (value - pv) / ((tus - pt) / 1000000.0) END AS drv FROM w)
        SELECT event_type, user_id, event_id, tus AS time_us,
          round(value - pv, 4) + 0.0 AS difference, tus - pt AS elapsed_us,
          round(drv, 6) + 0.0 AS derivative,
          round(CASE WHEN drv >= 0 THEN drv END, 6) + 0.0 AS nn_derivative,
          round(ma, 6) + 0.0 AS ma3, round(cum, 4) + 0.0 AS cum_sum
        FROM d""".replaceAll("\\s+", " "))),

    // InfluxQL INTEGRAL(value, 1s): per-series trapezoidal area under
    // the value curve, time in seconds — one lag window on the series
    // clustering + a partial/final agg (no global sort). Summation
    // order of the per-gap trapezoids is engine-dependent ⇒ rounded
    // (registry convention for multi-row double aggregates).
    "ts_integral" -> QueryDef(
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy(col("event_type"))
          .orderBy(col("time_us"), col("event_id"))
        ev(s, dir)
          .select(col("event_type"), col("event_id"),
            expr("ts div 1000").as("time_us"), col("value"))
          .select(col("event_type"),
            ((col("value") + lag(col("value"), 1).over(w)) / 2 *
              ((col("time_us") - lag(col("time_us"), 1).over(w))
                .cast("double") / 1000000.0)).as("area"))
          .groupBy(col("event_type"))
          .agg(round(sum(col("area")), 4).as("integral_r"),
            count(lit(1)).as("n_points"))
      },
      Some("""WITH s AS (SELECT event_type, event_id, epoch_us(ts) AS t,
          value FROM events),
        w AS (SELECT event_type,
          (value + lag(value) OVER win) / 2 *
            (CAST(t - lag(t) OVER win AS DOUBLE) / 1000000.0) AS area
          FROM s WINDOW win AS
            (PARTITION BY event_type ORDER BY t, event_id))
        SELECT event_type, round(sum(area), 4) AS integral_r,
          count(*)::BIGINT AS n_points
        FROM w GROUP BY 1""".replaceAll("\\s+", " "))),

    // InfluxQL `GROUP BY time(1h), * fill(null|0|previous|linear)` —
    // all four fill flavors over hour-bucketed per-type sums. Gap rows
    // are generated forward from each actual row (lead + sequence +
    // explode; see SeriesOps.fillGaps), so the family costs one
    // per-series window and ZERO extra joins/shuffles. sf0.01 has ~200
    // genuinely empty (type, hour) buckets, so the fill columns are
    // non-vacuous in the oracle compare; exact interpolation math is
    // additionally pinned on a planted-gap fixture in SeriesOpsSpec.
    "ts_fill_gaps" -> QueryDef(
      (s, dir) => SeriesOps.fillGaps(
        Tables.events(s, dir)
          .groupBy(window(col("time"), "1 hour"), col("event_type"))
          .agg(round(sum(col("value")), 4).as("v"))
          .select(col("event_type"),
            expr("unix_micros(window.start)").as("b"), col("v")),
        seriesCols = Seq("event_type"), bucketCol = "b", valueCol = "v",
        stepTicks = HourNs / 1000),
      Some(s"""WITH a AS (SELECT event_type,
          (epoch_us(ts) // 3600000000) * 3600000000 AS b,
          round(sum(value), 4) AS v FROM events GROUP BY 1, 2),
        w AS (SELECT event_type, b, v,
          lead(b) OVER win AS nb, lead(v) OVER win AS nv FROM a
          WINDOW win AS (PARTITION BY event_type ORDER BY b)),
        g AS (SELECT event_type, b, v, nb, nv,
          unnest(generate_series(b, coalesce(nb - 3600000000, b),
            3600000000)) AS t FROM w)
        SELECT event_type, t AS t_tick, (t <> b) AS is_gap,
          CASE WHEN t = b THEN v END AS v_null,
          coalesce(CASE WHEN t = b THEN v END, 0.0) AS v_zero,
          v AS v_prev,
          CASE WHEN t = b THEN v ELSE v + (nv - v) *
            (CAST(t - b AS DOUBLE) / CAST(nb - b AS DOUBLE)) END
            AS v_linear
        FROM g""".replaceAll("\\s+", " "))),

    // Time-series similarity search: rank every (event_type, user_id)
    // series by Pearson correlation against one target series over
    // day-bucketed mean values — the corpus-wide "which series move
    // like this one" scan (EDBT'19 streaming-similarity setting). The
    // target's day vector broadcasts (bucket-count-sized); corr()
    // partial-aggregates map-side; one exchange on the series key.
    // Undefined correlations (NaN/NULL semantics differ per engine)
    // are dropped on both sides. Bucket means use the exact micro-unit
    // half-up identity (the ts_ema pattern) — the sf0.1 probe behind
    // ts_ema showed round(avg(value),6) itself flips across engines a
    // few ulp from the 1e-6 half-boundary, and this query fed exactly
    // that form into corr() until round 12.
    "ts_similar_series" -> QueryDef(
      (s, dir) => SeriesOps.correlatedSeries(
        ev(s, dir)
          .groupBy(col("event_type"), col("user_id"),
            (expr("ts div 1000") - pmod(expr("ts div 1000"),
              lit(DayNs / 1000))).as("b"))
          .agg(sum(round(col("value") * 100, 0).cast("long")).as("__s"),
            count(lit(1)).as("__n"))
          .withColumn("v",
            expr("((2 * __s * 10000 + __n) div (2 * __n)) / 1000000.0"))
          .drop("__s", "__n"),
        seriesCols = Seq("event_type", "user_id"),
        bucketCol = "b", valueCol = "v",
        target = Map("event_type" -> "click", "user_id" -> "7"))
        .select(col("event_type"), col("user_id"), col("n_shared"),
          round(col("corr"), 6).as("corr_r")),
      Some(s"""WITH a AS (SELECT event_type, user_id,
          epoch_us(ts) - (epoch_us(ts) % ${DayNs / 1000}) AS b,
          ((2 * sum(CAST(round(value * 100, 0) AS BIGINT)) * 10000
            + count(*)) // (2 * count(*))) / 1000000.0 AS v
          FROM events GROUP BY 1, 2, 3),
        t AS (SELECT b, v AS tv FROM a
          WHERE event_type = 'click' AND user_id = 7)
        SELECT a.event_type, a.user_id, count(*)::BIGINT AS n_shared,
          round(corr(a.v, t.tv), 6) AS corr_r
        FROM a JOIN t USING (b)
        WHERE NOT (a.event_type = 'click' AND a.user_id = 7)
        GROUP BY 1, 2
        HAVING corr(a.v, t.tv) IS NOT NULL
           AND NOT isnan(corr(a.v, t.tv))"""
        .replaceAll("\\s+", " "))),

    // InfluxQL EXPONENTIAL_MOVING_AVERAGE(α=1/4) over hour-bucketed
    // per-type means, in FIXED-POINT micro-units: vu = round(v·1e6),
    // e₁ = vu₁, eᵢ = (vuᵢ + 3·eᵢ₋₁ + 2) / 4 with truncating integer
    // division (JVM Long `/` ≡ DuckDB `//`, both toward zero; +2 makes
    // the step round-half-up on the non-negative micro-values). EMA is
    // sequentially recursive (no window frame expresses it), so it runs
    // as a per-series collect-sort-fold aggregate (state = bucket
    // count, the InfluxQL contract); the oracle expresses the same
    // recursion as a DuckDB recursive CTE. Why integers: the float form
    // accumulated ~1-ulp-per-step FMA-contraction divergence vs DuckDB
    // that crossed the 1e-6 rounding boundary on ~1 in 3k rows at
    // sf0.1 chain lengths (round-6 finding). Integer steps are EXACT in
    // both engines — no drift at any chain length, any SF. The bucket
    // means are ALSO integer end-to-end: event values are exact
    // centi-units, so per-row cents = round(value·100) is row-local and
    // unambiguous (≤4e-12 from the integer), the bucket sum is exact
    // Long addition in any order, and the micro-unit mean is the exact
    // rounded division (2·s·10⁴ + n) div (2n) — an sf0.1 probe showed
    // round(avg(value),6) itself flips across engines when the float
    // mean lands a few ulp from the 1e-6 half-boundary.
    "ts_ema" -> QueryDef(
      (s, dir) => SeriesOps.emaFixed(
        Tables.events(s, dir)
          .groupBy(window(col("time"), "1 hour"), col("event_type"))
          .agg(sum(round(col("value") * 100, 0).cast("long")).as("s"),
            count(lit(1)).as("n"))
          .select(col("event_type"),
            expr("unix_micros(window.start)").as("b_us"),
            expr("(2 * s * 10000 + n) div (2 * n)").as("vu")),
        seriesCols = Seq("event_type"), bucketCol = "b_us",
        valueCol = "vu", num = 1L, den = 4L)
        .select(col("event_type"), col("b_us"), col("ema").as("ema_u")),
      Some("""WITH RECURSIVE a0 AS (SELECT event_type,
          (epoch_us(ts) // 3600000000) * 3600000000 AS b,
          sum(CAST(round(value * 100, 0) AS BIGINT)) AS s,
          count(*) AS n FROM events GROUP BY 1, 2),
        a AS (SELECT event_type, b,
          CAST((2 * s * 10000 + n) // (2 * n) AS BIGINT) AS vu FROM a0),
        n AS (SELECT event_type, b, vu, row_number() OVER
          (PARTITION BY event_type ORDER BY b) AS rn FROM a),
        r AS (SELECT event_type, b, vu, rn, vu AS emau FROM n WHERE rn = 1
          UNION ALL
          SELECT n.event_type, n.b, n.vu, n.rn,
            (n.vu + 3 * r.emau + 2) // 4
          FROM n JOIN r ON n.event_type = r.event_type
            AND n.rn = r.rn + 1)
        SELECT event_type, b AS b_us, emau AS ema_u FROM r"""
        .replaceAll("\\s+", " "))),

    // Holt linear-trend (double exponential) smoothing, α = β = 1/4,
    // over the same hour-bucketed micro-unit means as ts_ema — the
    // deterministic core of InfluxQL HOLT_WINTERS (fixed rational
    // parameters in place of its Nelder-Mead fit; no seasonal term).
    // Two-state integer recursion l/t with truncating division (Spark
    // Long `/` ≡ DuckDB `//`, toward zero INCLUDING negatives — the
    // trend state goes negative on falling series, which ts_ema's
    // non-negative contract never exercised); the oracle expresses the
    // identical recursion as a recursive CTE, with the lᵢ expression
    // repeated inside the tᵢ term (SQL can't reference a same-SELECT
    // alias). forecast = l + t predicts the NEXT bucket.
    "ts_holt" -> QueryDef(
      (s, dir) => SeriesOps.holtFixed(
        Tables.events(s, dir)
          .groupBy(window(col("time"), "1 hour"), col("event_type"))
          .agg(sum(round(col("value") * 100, 0).cast("long")).as("s"),
            count(lit(1)).as("n"))
          .select(col("event_type"),
            expr("unix_micros(window.start)").as("b_us"),
            expr("(2 * s * 10000 + n) div (2 * n)").as("vu")),
        seriesCols = Seq("event_type"), bucketCol = "b_us",
        valueCol = "vu", aNum = 1L, aDen = 4L, bNum = 1L, bDen = 4L)
        .select(col("event_type"), col("b_us"),
          col("level").as("level_u"), col("trend").as("trend_u"),
          col("forecast").as("forecast_u")),
      Some("""WITH RECURSIVE a0 AS (SELECT event_type,
          (epoch_us(ts) // 3600000000) * 3600000000 AS b,
          sum(CAST(round(value * 100, 0) AS BIGINT)) AS s,
          count(*) AS n FROM events GROUP BY 1, 2),
        a AS (SELECT event_type, b,
          CAST((2 * s * 10000 + n) // (2 * n) AS BIGINT) AS vu FROM a0),
        n AS (SELECT event_type, b, vu, row_number() OVER
          (PARTITION BY event_type ORDER BY b) AS rn FROM a),
        r AS (SELECT event_type, b, vu, rn, vu AS l,
            CAST(0 AS BIGINT) AS t FROM n WHERE rn = 1
          UNION ALL
          SELECT n.event_type, n.b, n.vu, n.rn,
            (n.vu + 3 * (r.l + r.t) + 2) // 4,
            (((n.vu + 3 * (r.l + r.t) + 2) // 4 - r.l) + 3 * r.t + 2)
              // 4
          FROM n JOIN r ON n.event_type = r.event_type
            AND n.rn = r.rn + 1)
        SELECT event_type, b AS b_us, l AS level_u, t AS trend_u,
          (l + t) AS forecast_u FROM r""".replaceAll("\\s+", " "))),

    // FULL seasonal Holt-Winters (ts_holt is the deseasonalized core):
    // additive seasonal ring of m=24 hourly slots (daily seasonality),
    // α=β=γ=1/4, over the same hour-bucketed micro-unit means. The
    // recursion carries (l, t, seas LIST) through a DuckDB recursive
    // CTE — the seasonal ring updates via list_transform with a CASE on
    // the slot — and the forecast's seasonal term is recovered AFTER
    // the recursion as lag(s, m−1) (the ring value for bucket i+1 is
    // by construction the s emitted m−1 points earlier, or 0 in the
    // zero-seeded first cycle). The l₂ expression repeats inside the
    // t/s/seas terms (no same-SELECT aliases in the recursive leg) —
    // composed here by interpolation, evaluated identically.
    // Mann–Kendall trend test per series over 6-hour buckets:
    // nonparametric monotone-trend detection (S, tie-corrected
    // variance ×18 as an exact Long, Z the one rounded double). The
    // pairwise term is per-series over GROUP BY time() output —
    // bounded by (range/interval)², the EMA family's contract.
    "ts_mk_trend" -> QueryDef(
      (s, dir) => SeriesOps.mannKendall(
        ev(s, dir)
          .groupBy(col("event_type"),
            expr("ts div 21600000000000").as("b"))
          .agg(sum(round(col("value") * 100, 0).cast("long")).as("vc")),
        Seq("event_type"), "b", "vc"),
      Some("""WITH bk AS (SELECT event_type,
          epoch_us(ts) // 21600000000 AS b,
          sum(CAST(round(value * 100, 0) AS BIGINT))::BIGINT AS v
          FROM events GROUP BY 1, 2),
        pr AS (SELECT a.event_type,
          CASE WHEN x.v > a.v THEN 1 WHEN x.v < a.v THEN -1 ELSE 0 END
            AS sg
          FROM bk a JOIN bk x ON a.event_type = x.event_type
            AND a.b < x.b),
        sa AS (SELECT event_type, sum(sg)::BIGINT AS s FROM pr
          GROUP BY 1),
        ti AS (SELECT event_type, sum(t)::BIGINT AS n,
          sum(t * (t - 1) * (2 * t + 5))::BIGINT AS tie18
          FROM (SELECT event_type, v, count(*)::BIGINT AS t FROM bk
            GROUP BY 1, 2) GROUP BY 1)
        SELECT ti.event_type, ti.n, coalesce(sa.s, 0)::BIGINT AS s,
          (ti.n * (ti.n - 1) * (2 * ti.n + 5) - ti.tie18)::BIGINT
            AS var18,
          CASE WHEN (ti.n * (ti.n - 1) * (2 * ti.n + 5) - ti.tie18) > 0
            THEN round((coalesce(sa.s, 0) -
              CASE WHEN coalesce(sa.s, 0) > 0 THEN 1
                   WHEN coalesce(sa.s, 0) < 0 THEN -1 ELSE 0 END)
              ::DOUBLE /
              sqrt((ti.n * (ti.n - 1) * (2 * ti.n + 5) - ti.tie18)
                ::DOUBLE / 18.0), 4) END AS z
        FROM ti LEFT JOIN sa ON ti.event_type = sa.event_type"""
        .replaceAll("\\s+", " "))),

    // Theil–Sen robust trend slope per series: the MEDIAN of all
    // pairwise slopes (micro-units per bucket, shared-floor scaled so
    // signed slopes cannot diverge on truncate-vs-floor), selected by
    // the percentileBands order-statistic machinery — the slope
    // estimate a single outlier bucket cannot drag (companion to
    // ts_mk_trend's "is there a trend": this is "how steep").
    // Pairwise term bounded by (range/interval)² per the EMA contract.
    "ts_theil_sen" -> QueryDef(
      (s, dir) => {
        val bk = ev(s, dir)
          .groupBy(col("event_type"),
            expr("ts div 21600000000000").as("b"))
          .agg(sum(round(col("value") * 100, 0).cast("long")).as("vc"))
        val pairs = bk.as("a")
          .join(bk.as("x"), col("a.event_type") === col("x.event_type")
            && col("a.b") < col("x.b"))
          .select(col("a.event_type").as("event_type"),
            floor((col("x.vc") - col("a.vc")).cast("double") * 1000000
              / (col("x.b") - col("a.b"))).cast("long").as("slope_u"))
        Profiling.percentileBands(pairs, Seq("event_type"), "slope_u",
          Seq((1L, 2L)), Seq("slope_med"))
      },
      Some("""WITH bk AS (SELECT event_type,
          epoch_us(ts) // 21600000000 AS b,
          sum(CAST(round(value * 100, 0) AS BIGINT))::BIGINT AS v
          FROM events GROUP BY 1, 2),
        pr AS (SELECT a.event_type, CAST(floor((x.v - a.v)::DOUBLE
            * 1000000 / (x.b - a.b)) AS BIGINT) AS sl
          FROM bk a JOIN bk x ON a.event_type = x.event_type
            AND a.b < x.b),
        f AS (SELECT event_type, sl AS c, count(*)::BIGINT AS n_v
          FROM pr GROUP BY 1, 2),
        cw AS (SELECT event_type, c, n_v,
          sum(n_v) OVER (PARTITION BY event_type ORDER BY c) AS cum,
          sum(n_v) OVER (PARTITION BY event_type) AS n FROM f)
        SELECT event_type, max(n)::BIGINT AS n,
          min(CASE WHEN cum >= (n * 1 + 1) // 2 THEN c END)::BIGINT
            AS slope_med
        FROM cw GROUP BY 1""".replaceAll("\\s+", " "))),

    // exact p50/p90/p99 per (series, 6-hour bucket): PERCENTILE_DISC
    // order statistics on cent values via the window-over-frequency-
    // frame discipline (one corpus pass, zero joins) — the latency/
    // value band chart every ops dashboard draws.
    "ts_percentile_bands" -> QueryDef(
      (s, dir) => Profiling.percentileBands(
        ev(s, dir).select(col("event_type"),
          expr("ts div 21600000000000").as("b"),
          round(col("value") * 100, 0).cast("long").as("cents")),
        Seq("event_type", "b"), "cents",
        Seq((1L, 2L), (9L, 10L), (99L, 100L)),
        Seq("p50", "p90", "p99")),
      Some("""WITH f AS (SELECT event_type,
          epoch_us(ts) // 21600000000 AS b,
          CAST(round(value * 100, 0) AS BIGINT) AS c,
          count(*)::BIGINT AS n_v FROM events GROUP BY 1, 2, 3),
        cw AS (SELECT event_type, b, c, n_v,
          sum(n_v) OVER (PARTITION BY event_type, b ORDER BY c) AS cum,
          sum(n_v) OVER (PARTITION BY event_type, b) AS n FROM f)
        SELECT event_type, b, max(n)::BIGINT AS n,
          min(CASE WHEN cum >= (n * 1 + 1) // 2 THEN c END)::BIGINT
            AS p50,
          min(CASE WHEN cum >= (n * 9 + 9) // 10 THEN c END)::BIGINT
            AS p90,
          min(CASE WHEN cum >= (n * 99 + 99) // 100 THEN c END)::BIGINT
            AS p99
        FROM cw GROUP BY 1, 2""".replaceAll("\\s+", " "))),

    // trailing rolling lag-1 AUTOCORRELATION per series (24-bucket
    // frame, complete windows only): all five Pearson sums are EXACT
    // Longs over cent-unit bucket means (Σx ≤ 24·10⁶ keeps (Σx)² far
    // from Long overflow — the micro-unit form would sit within 2× of
    // it), so the only floating point is the final
    // num / (√d1 · √d2), one shared IEEE op order, rounded to 4 —
    // the self-similarity drift signal (white noise ≈ 0, a developing
    // trend → 1).
    "ts_autocorr" -> QueryDef(
      (s, dir) => {
        val byS = org.apache.spark.sql.expressions.Window
          .partitionBy(col("event_type")).orderBy(col("b_us"))
        val w = byS.rowsBetween(-23, 0)
        val base = ev(s, dir)
          .groupBy(col("event_type"),
            expr("(ts div 3600000000000) * 3600000000").as("b_us"))
          .agg(sum(round(col("value") * 100, 0).cast("long")).as("s"),
            count(lit(1)).as("n"))
          .select(col("event_type"), col("b_us"),
            expr("(2 * s + n) div (2 * n)").as("x"))
          .withColumn("y", lag(col("x"), 1).over(byS))
          .filter(col("y").isNotNull)
        val stats = base.select(col("event_type"), col("b_us"),
          count(lit(1)).over(w).as("k"),
          sum(col("x")).over(w).as("sx"),
          sum(col("y")).over(w).as("sy"),
          sum(col("x") * col("y")).over(w).as("sxy"),
          sum(col("x") * col("x")).over(w).as("sxx"),
          sum(col("y") * col("y")).over(w).as("syy"))
        val num = col("k") * col("sxy") - col("sx") * col("sy")
        val d1 = col("k") * col("sxx") - col("sx") * col("sx")
        val d2 = col("k") * col("syy") - col("sy") * col("sy")
        stats.select(col("event_type"), col("b_us"),
          when(col("k") === 24 && d1 > 0 && d2 > 0,
            round(num.cast("double") /
              (sqrt(d1.cast("double")) * sqrt(d2.cast("double"))), 4))
            .as("r1"))
      },
      Some("""WITH bk AS (SELECT event_type,
          (epoch_us(ts) // 3600000000) * 3600000000 AS b_us,
          sum(CAST(round(value * 100, 0) AS BIGINT)) AS s,
          count(*) AS n FROM events GROUP BY 1, 2),
        mv AS (SELECT event_type, b_us,
          CAST((2 * s + n) // (2 * n) AS BIGINT) AS x FROM bk),
        lg AS (SELECT event_type, b_us, x, lag(x) OVER
          (PARTITION BY event_type ORDER BY b_us) AS y FROM mv),
        fl AS (SELECT * FROM lg WHERE y IS NOT NULL),
        st AS (SELECT event_type, b_us,
          count(*) OVER w AS k,
          sum(x) OVER w AS sx, sum(y) OVER w AS sy,
          sum(x * y) OVER w AS sxy, sum(x * x) OVER w AS sxx,
          sum(y * y) OVER w AS syy
          FROM fl WINDOW w AS (PARTITION BY event_type ORDER BY b_us
            ROWS BETWEEN 23 PRECEDING AND CURRENT ROW))
        SELECT event_type, b_us,
          CASE WHEN k = 24 AND (k * sxx - sx * sx) > 0
              AND (k * syy - sy * sy) > 0 THEN
            round((k * sxy - sx * sy)::DOUBLE /
              (sqrt((k * sxx - sx * sx)::DOUBLE) *
               sqrt((k * syy - sy * sy)::DOUBLE)), 4) END AS r1
        FROM st""".replaceAll("\\s+", " "))),

    // trailing rolling MEDIAN (exact order statistic over a 5-bucket
    // rows frame, complete windows only) — the robust rolling baseline
    // a single spike cannot drag the way it drags a moving average.
    // The frame list is bounded by the window width; a full-window odd
    // count makes the middle element exact on both engines.
    "ts_rolling_median" -> QueryDef(
      (s, dir) => {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("event_type")).orderBy(col("b_us"))
          .rowsBetween(-4, 0)
        ev(s, dir)
          .groupBy(col("event_type"),
            expr("(ts div 3600000000000) * 3600000000").as("b_us"))
          .agg(sum(round(col("value") * 100, 0).cast("long")).as("vc"))
          .select(col("event_type"), col("b_us"), col("vc"),
            when(count(col("vc")).over(w) === 5,
              element_at(sort_array(collect_list(col("vc")).over(w)), 3))
              .as("med5"))
      },
      Some("""WITH bk AS (SELECT event_type,
          (epoch_us(ts) // 3600000000) * 3600000000 AS b_us,
          sum(CAST(round(value * 100, 0) AS BIGINT))::BIGINT AS vc
          FROM events GROUP BY 1, 2)
        SELECT event_type, b_us, vc,
          CASE WHEN count(vc) OVER w = 5 THEN
            CAST(median(vc) OVER w AS BIGINT) END AS med5
        FROM bk WINDOW w AS (PARTITION BY event_type ORDER BY b_us
          ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)"""
        .replaceAll("\\s+", " "))),

    // gaps-and-islands: collapse each user's CONSECUTIVE event runs
    // within a type (ordered by time, tie-broken by id) into segments
    // via the rn − rn-per-user difference — the classic
    // sessionization-adjacent segmentation, all integer outputs.
    "ts_segments" -> QueryDef(
      (s, dir) => {
        val wAll = org.apache.spark.sql.expressions.Window
          .partitionBy(col("event_type"))
          .orderBy(col("ts"), col("event_id"))
        val wUser = org.apache.spark.sql.expressions.Window
          .partitionBy(col("event_type"), col("user_id"))
          .orderBy(col("ts"), col("event_id"))
        ev(s, dir)
          .withColumn("seg",
            row_number().over(wAll) - row_number().over(wUser))
          .groupBy(col("event_type"), col("user_id"), col("seg"))
          .agg(count(lit(1)).as("run_len"))
          .groupBy(col("event_type"), col("user_id"))
          .agg(count(lit(1)).as("n_runs"),
            max(col("run_len")).as("max_run"),
            sum(col("run_len")).as("n_events"))
      },
      Some("""WITH x AS (SELECT event_type, user_id,
          row_number() OVER (PARTITION BY event_type
            ORDER BY ts, event_id)
          - row_number() OVER (PARTITION BY event_type, user_id
            ORDER BY ts, event_id) AS seg
          FROM events),
        r AS (SELECT event_type, user_id, seg,
          count(*)::BIGINT AS run_len FROM x GROUP BY 1, 2, 3)
        SELECT event_type, user_id, count(*)::BIGINT AS n_runs,
          max(run_len)::BIGINT AS max_run,
          sum(run_len)::BIGINT AS n_events
        FROM r GROUP BY 1, 2""".replaceAll("\\s+", " "))),

    // tabular CUSUM change-point detection over hourly buckets
    // (micro-unit means, drift 5000µ, threshold 2·10⁶µ): exact Long
    // recurrence per series, oracled by the same recursive-CTE replay
    // as ts_ema — level shifts that inflate-and-hide under rolling
    // z-scores accumulate here.
    "ts_cusum" -> QueryDef(
      (s, dir) => SeriesOps.cusumFixed(
        Tables.events(s, dir)
          .groupBy(window(col("time"), "1 hour"), col("event_type"))
          .agg(sum(round(col("value") * 100, 0).cast("long")).as("s"),
            count(lit(1)).as("n"))
          .select(col("event_type"),
            expr("unix_micros(window.start)").as("b_us"),
            expr("(2 * s * 10000 + n) div (2 * n)").as("vu")),
        seriesCols = Seq("event_type"), bucketCol = "b_us",
        valueCol = "vu", drift = 5000L, threshold = 2000000L),
      Some("""WITH RECURSIVE a0 AS (SELECT event_type,
          (epoch_us(ts) // 3600000000) * 3600000000 AS b,
          sum(CAST(round(value * 100, 0) AS BIGINT)) AS s,
          count(*) AS n FROM events GROUP BY 1, 2),
        a AS (SELECT event_type, b,
          CAST((2 * s * 10000 + n) // (2 * n) AS BIGINT) AS vu FROM a0),
        nr AS (SELECT event_type, b, vu, row_number() OVER
          (PARTITION BY event_type ORDER BY b) AS rn FROM a),
        tg AS (SELECT event_type, vu AS target FROM nr WHERE rn = 1),
        r AS (SELECT nr.event_type, nr.b, nr.vu, nr.rn,
            greatest(0, nr.vu - tg.target - 5000) AS sp,
            greatest(0, tg.target - nr.vu - 5000) AS sn
          FROM nr JOIN tg USING (event_type) WHERE rn = 1
          UNION ALL
          SELECT nr.event_type, nr.b, nr.vu, nr.rn,
            greatest(0, r.sp + (nr.vu - tg.target - 5000)),
            greatest(0, r.sn + (tg.target - nr.vu - 5000))
          FROM nr JOIN r ON nr.event_type = r.event_type
            AND nr.rn = r.rn + 1
          JOIN tg ON tg.event_type = nr.event_type)
        SELECT event_type, b AS b_us, vu AS vc, sp::BIGINT AS s_pos,
          sn::BIGINT AS s_neg, sp > 2000000 AS alarm_pos,
          sn > 2000000 AS alarm_neg
        FROM r""".replaceAll("\\s+", " "))),

    // Wald–Wolfowitz runs test over the hour-bucketed series —
    // above/below-median excursion randomness (clustered runs =
    // regime structure; alternation = over-correction). Exact median
    // order statistic, exact run counts, one rounded z.
    "ts_runs_test" -> QueryDef(
      (s, dir) => SeriesOps.runsTest(
        Tables.events(s, dir)
          .groupBy(window(col("time"), "1 hour"), col("event_type"))
          .agg(sum(round(col("value") * 100, 0).cast("long")).as("s"),
            count(lit(1)).as("n"))
          .select(col("event_type"),
            expr("unix_micros(window.start)").as("b_us"),
            expr("(2 * s + n) div (2 * n)").as("vc")),
        seriesCols = Seq("event_type"), bucketCol = "b_us",
        centsCol = "vc"),
      Some("""WITH a0 AS (SELECT event_type,
          (epoch_us(ts) // 3600000000) * 3600000000 AS b,
          sum(CAST(round(value * 100, 0) AS BIGINT)) AS s,
          count(*) AS n0 FROM events GROUP BY 1, 2),
        a AS (SELECT event_type, b,
          CAST((2 * s + n0) // (2 * n0) AS BIGINT) AS v FROM a0),
        f AS (SELECT event_type, v, count(*)::BIGINT AS c FROM a
          GROUP BY 1, 2),
        cu AS (SELECT event_type, v, c, sum(c) OVER
          (PARTITION BY event_type ORDER BY v) AS cum,
          sum(c) OVER (PARTITION BY event_type) AS n0 FROM f),
        md AS (SELECT event_type,
          min(CASE WHEN cum >= (n0 + 1) // 2 THEN v END) AS median_v
          FROM cu GROUP BY 1),
        sg AS (SELECT a.event_type, a.b,
            CASE WHEN a.v > md.median_v THEN 1 ELSE 0 END AS s
          FROM a JOIN md USING (event_type)
          WHERE a.v <> md.median_v),
        fl AS (SELECT event_type, s, CASE WHEN lag(s) OVER
            (PARTITION BY event_type ORDER BY b) IS NULL THEN 1
            WHEN lag(s) OVER (PARTITION BY event_type ORDER BY b)
              <> s THEN 1 ELSE 0 END AS flip
          FROM sg),
        sm AS (SELECT event_type, count(*)::BIGINT AS n,
          sum(s)::BIGINT AS n_above,
          (count(*) - sum(s))::BIGINT AS n_below,
          sum(flip)::BIGINT AS n_runs FROM fl GROUP BY 1)
        SELECT event_type, n, n_above, n_below, n_runs,
          CASE WHEN n_above > 0 AND n_below > 0 AND
            (2.0 * n_above::DOUBLE * n_below::DOUBLE) *
            ((2.0 * n_above::DOUBLE * n_below::DOUBLE) - n::DOUBLE) /
            (n::DOUBLE * n::DOUBLE * (n::DOUBLE - 1.0)) > 0
          THEN round((n_runs::DOUBLE - (1.0 +
            (2.0 * n_above::DOUBLE * n_below::DOUBLE) / n::DOUBLE)) /
            sqrt((2.0 * n_above::DOUBLE * n_below::DOUBLE) *
              ((2.0 * n_above::DOUBLE * n_below::DOUBLE) - n::DOUBLE)
              / (n::DOUBLE * n::DOUBLE * (n::DOUBLE - 1.0))), 4)
          END AS z_r
        FROM sm""".replaceAll("\\s+", " "))),

    // LTTB downsampling of the hour-bucketed series to 48 points per
    // series — the dashboard decimation standard (extrema survive,
    // flat stretches thin out). Sequential greedy with lookahead ⇒
    // rows-only (not SQL-expressible); SeriesOpsSpec pins a
    // driver-side reference differential, endpoint/count guarantees,
    // and the exact-integer argmax determinism.
    "ts_lttb" -> QueryDef(
      (s, dir) => SeriesOps.lttb(
        Tables.events(s, dir)
          .groupBy(window(col("time"), "1 hour"), col("event_type"))
          .agg(sum(round(col("value") * 100, 0).cast("long")).as("s"),
            count(lit(1)).as("n"))
          .select(col("event_type"),
            expr("unix_micros(window.start)").as("b_us"),
            expr("(2 * s + n) div (2 * n)").as("vc")),
        seriesCols = Seq("event_type"), bucketCol = "b_us",
        centsCol = "vc", threshold = 48),
      None),

    // Holt one-step-ahead BACKTEST: forecast_i (= lᵢ + tᵢ) scored
    // against the next bucket's actual — the eval loop that decides
    // whether the smoother's parameters are any good before its
    // forecasts drive alerts. Cent-level means keep Σe² far from Long
    // overflow; MAE half-up integer, RMSE the one rounded double.
    // Gap buckets (no b+1h actual) drop out of the eval — scored
    // pairs only.
    "ts_forecast_eval" -> QueryDef(
      (s, dir) => {
        val hourUs = 3600L * 1000000L
        val bucketed = Tables.events(s, dir)
          .groupBy(window(col("time"), "1 hour"), col("event_type"))
          .agg(sum(round(col("value") * 100, 0).cast("long")).as("s"),
            count(lit(1)).as("n"))
          .select(col("event_type"),
            expr("unix_micros(window.start)").as("b_us"),
            expr("(2 * s + n) div (2 * n)").as("vc"))
        val h = SeriesOps.holtFixed(bucketed, Seq("event_type"),
          "b_us", "vc", aNum = 1L, aDen = 4L, bNum = 1L, bDen = 4L)
        val nxt = bucketed.select(col("event_type"),
          (col("b_us") - hourUs).as("b_us"), col("vc").as("next_vc"))
        h.join(nxt, Seq("event_type", "b_us"))
          .select(col("event_type"),
            (col("next_vc") - col("forecast")).as("e"))
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n_eval"),
            sum(abs(col("e"))).as("sae"),
            sum(col("e") * col("e")).as("sse"))
          .select(col("event_type"), col("n_eval"),
            expr("(2 * sae + n_eval) div (2 * n_eval)").as("mae_c"),
            round(sqrt(col("sse").cast("double") /
              col("n_eval").cast("double")), 4).as("rmse_r"))
      },
      Some("""WITH RECURSIVE a0 AS (SELECT event_type,
          (epoch_us(ts) // 3600000000) * 3600000000 AS b,
          sum(CAST(round(value * 100, 0) AS BIGINT)) AS s,
          count(*) AS n FROM events GROUP BY 1, 2),
        a AS (SELECT event_type, b,
          CAST((2 * s + n) // (2 * n) AS BIGINT) AS vu FROM a0),
        n AS (SELECT event_type, b, vu, row_number() OVER
          (PARTITION BY event_type ORDER BY b) AS rn FROM a),
        r AS (SELECT event_type, b, vu, rn, vu AS l,
            CAST(0 AS BIGINT) AS t FROM n WHERE rn = 1
          UNION ALL
          SELECT n.event_type, n.b, n.vu, n.rn,
            (n.vu + 3 * (r.l + r.t) + 2) // 4,
            (((n.vu + 3 * (r.l + r.t) + 2) // 4 - r.l) + 3 * r.t + 2)
              // 4
          FROM n JOIN r ON n.event_type = r.event_type
            AND n.rn = r.rn + 1),
        ev AS (SELECT r.event_type,
            a.vu - (r.l + r.t) AS e
          FROM r JOIN a ON a.event_type = r.event_type
            AND a.b = r.b + 3600000000)
        SELECT event_type, count(*)::BIGINT AS n_eval,
          CAST((2 * sum(abs(e)) + count(*)) // (2 * count(*))
            AS BIGINT) AS mae_c,
          round(sqrt(sum(e * e)::DOUBLE / count(*)::DOUBLE), 4)
            AS rmse_r
        FROM ev GROUP BY 1""".replaceAll("\\s+", " "))),

    // lagged cross-correlation click→purchase over hour-bucketed
    // half-up cent means: r(ℓ) for ℓ ∈ [−3, 3] — WHEN one KPI leads
    // the other (ts_similar_series ranks which series co-move; this
    // finds the lag). Six exact-Long Pearson sums per lag; one lag
    // explode + equi-join on the bucket frames, no window.
    "ts_xcorr" -> QueryDef(
      (s, dir) => {
        def series(et: String) = Tables.events(s, dir)
          .filter(col("event_type") === et)
          .groupBy(window(col("time"), "1 hour"))
          .agg(sum(round(col("value") * 100, 0).cast("long")).as("s"),
            count(lit(1)).as("n"))
          .select(expr("unix_micros(window.start)").as("b"),
            expr("(2 * s + n) div (2 * n)").as("vc"))
        SeriesOps.crossCorrelation(series("click"), series("purchase"),
          "b", "vc", bucketStep = 3600L * 1000000L, maxLag = 3)
      },
      Some("""WITH ck AS (SELECT
          (epoch_us(ts) // 3600000000) * 3600000000 AS b,
          CAST((2 * sum(CAST(round(value * 100, 0) AS BIGINT))
            + count(*)) // (2 * count(*)) AS BIGINT) AS va
          FROM events WHERE event_type = 'click' GROUP BY 1),
        pu AS (SELECT
          (epoch_us(ts) // 3600000000) * 3600000000 AS b,
          CAST((2 * sum(CAST(round(value * 100, 0) AS BIGINT))
            + count(*)) // (2 * count(*)) AS BIGINT) AS vb
          FROM events WHERE event_type = 'purchase' GROUP BY 1),
        lg AS (SELECT unnest(generate_series(-3, 3))::BIGINT AS lag),
        sm AS (SELECT lg.lag, count(*)::BIGINT AS n,
            sum(ck.va)::BIGINT AS sa, sum(pu.vb)::BIGINT AS sb,
            sum(ck.va * ck.va)::BIGINT AS qa,
            sum(pu.vb * pu.vb)::BIGINT AS qb,
            sum(ck.va * pu.vb)::BIGINT AS pab
          FROM ck CROSS JOIN lg
          JOIN pu ON ck.b + lg.lag * 3600000000 = pu.b
          GROUP BY 1)
        SELECT lag, n,
          CASE WHEN (n::DOUBLE * qa::DOUBLE - sa::DOUBLE * sa::DOUBLE)
            > 0 AND (n::DOUBLE * qb::DOUBLE - sb::DOUBLE * sb::DOUBLE)
            > 0 THEN round(
            (n::DOUBLE * pab::DOUBLE - sa::DOUBLE * sb::DOUBLE) /
            (sqrt(n::DOUBLE * qa::DOUBLE - sa::DOUBLE * sa::DOUBLE) *
             sqrt(n::DOUBLE * qb::DOUBLE - sb::DOUBLE * sb::DOUBLE)),
            4) END AS r_r
        FROM sm WHERE n >= 2""".replaceAll("\\s+", " "))),

    // per-series AUTOCORRELATION FUNCTION at lags 1..12 hours — the
    // full ACF profile behind ts_autocorr's rolling lag-1 (seasonal
    // periods show as r peaks at their lag; white noise stays flat)
    // — the diagnostic that picks Holt-Winters' period. Same
    // lag-explode + equi-join shape as ts_xcorr, per series; six
    // exact-Long Pearson sums per (series, lag), one rounded
    // combination.
    "ts_acf" -> QueryDef(
      (s, dir) => {
        val base = Tables.events(s, dir)
          .groupBy(window(col("time"), "1 hour"), col("event_type"))
          .agg(sum(round(col("value") * 100, 0).cast("long")).as("s"),
            count(lit(1)).as("n"))
          .select(col("event_type"),
            expr("unix_micros(window.start)").as("b"),
            expr("(2 * s + n) div (2 * n)").as("vc"))
        val lagged = base
          .select(col("event_type"), col("b"), col("vc"),
            explode(sequence(lit(1L), lit(12L))).as("lag"))
          .withColumn("bt", col("b") + col("lag") * lit(3600000000L))
        val sums = lagged
          .join(base.select(col("event_type"), col("b").as("bt"),
            col("vc").as("v2")), Seq("event_type", "bt"))
          .groupBy(col("event_type"), col("lag"))
          .agg(count(lit(1)).as("n"), sum(col("vc")).as("sa"),
            sum(col("v2")).as("sb"),
            sum(col("vc") * col("vc")).as("qa"),
            sum(col("v2") * col("v2")).as("qb"),
            sum(col("vc") * col("v2")).as("pab"))
        def d(c: String) = col(c).cast("double")
        val ca = d("n") * d("qa") - d("sa") * d("sa")
        val cb = d("n") * d("qb") - d("sb") * d("sb")
        sums.filter(col("n") >= 2)
          .select(col("event_type"), col("lag"), col("n"),
            when(ca > 0 && cb > 0,
              round((d("n") * d("pab") - d("sa") * d("sb")) /
                (sqrt(ca) * sqrt(cb)), 4)).as("r_r"))
      },
      Some("""WITH bk AS (SELECT event_type,
          (epoch_us(ts) // 3600000000) * 3600000000 AS b,
          CAST((2 * sum(CAST(round(value * 100, 0) AS BIGINT))
            + count(*)) // (2 * count(*)) AS BIGINT) AS vc
          FROM events GROUP BY 1, 2),
        lg AS (SELECT unnest(generate_series(1, 12))::BIGINT AS lag),
        sm AS (SELECT a.event_type, lg.lag, count(*)::BIGINT AS n,
            sum(a.vc)::BIGINT AS sa, sum(x.vc)::BIGINT AS sb,
            sum(a.vc * a.vc)::BIGINT AS qa,
            sum(x.vc * x.vc)::BIGINT AS qb,
            sum(a.vc * x.vc)::BIGINT AS pab
          FROM bk a CROSS JOIN lg
          JOIN bk x ON x.event_type = a.event_type
            AND x.b = a.b + lg.lag * 3600000000
          GROUP BY 1, 2)
        SELECT event_type, lag, n,
          CASE WHEN (n::DOUBLE * qa::DOUBLE - sa::DOUBLE * sa::DOUBLE)
            > 0 AND (n::DOUBLE * qb::DOUBLE - sb::DOUBLE * sb::DOUBLE)
            > 0 THEN round(
            (n::DOUBLE * pab::DOUBLE - sa::DOUBLE * sb::DOUBLE) /
            (sqrt(n::DOUBLE * qa::DOUBLE - sa::DOUBLE * sa::DOUBLE) *
             sqrt(n::DOUBLE * qb::DOUBLE - sb::DOUBLE * sb::DOUBLE)),
            4) END AS r_r
        FROM sm WHERE n >= 2""".replaceAll("\\s+", " "))),

    // SAX MOTIF counts: 3-symbol words over each series' SAX string
    // (ts_sax's discretization feeding the n-gram machinery) — which
    // short shapes recur ("rise-rise-fall") and how often; the motif
    // histogram is the series' texture fingerprint. One lead window
    // on the bucket frame, counts per (series, motif).
    "ts_sax_motifs" -> QueryDef(
      (s, dir) => {
        val sax = SeriesOps.saxSymbols(
          Tables.events(s, dir)
            .groupBy(window(col("time"), "1 hour"), col("event_type"))
            .agg(sum(round(col("value") * 100, 0).cast("long"))
              .as("s"), count(lit(1)).as("n"))
            .select(col("event_type"),
              expr("unix_micros(window.start)").as("b_us"),
              expr("(2 * s * 10000 + n) div (2 * n)").as("vu")),
          seriesCols = Seq("event_type"), bucketCol = "b_us",
          centsCol = "vu", alphabet = 3)
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("event_type")).orderBy(col("b"))
        sax
          .withColumn("s1", lead(col("symbol"), 1).over(w))
          .withColumn("s2", lead(col("symbol"), 2).over(w))
          .filter(col("s2").isNotNull)
          .select(col("event_type"),
            concat(col("symbol").cast("string"),
              col("s1").cast("string"), col("s2").cast("string"))
              .as("motif"))
          .groupBy(col("event_type"), col("motif"))
          .agg(count(lit(1)).as("n"))
      },
      Some("""WITH a0 AS (SELECT event_type,
          (epoch_us(ts) // 3600000000) * 3600000000 AS b,
          sum(CAST(round(value * 100, 0) AS BIGINT)) AS s,
          count(*) AS n0 FROM events GROUP BY 1, 2),
        a AS (SELECT event_type, b,
          CAST((2 * s * 10000 + n0) // (2 * n0) AS BIGINT) AS v
          FROM a0),
        f AS (SELECT event_type, v, count(*)::BIGINT AS c FROM a
          GROUP BY 1, 2),
        cu AS (SELECT event_type, v, c, sum(c) OVER
          (PARTITION BY event_type ORDER BY v) AS cum,
          sum(c) OVER (PARTITION BY event_type) AS n FROM f),
        ct AS (SELECT event_type,
          min(CASE WHEN cum >= (n * 1 + 2) // 3 THEN v END) AS cut1,
          min(CASE WHEN cum >= (n * 2 + 2) // 3 THEN v END) AS cut2
          FROM cu GROUP BY 1),
        sx AS (SELECT a.event_type, a.b,
          ((a.v > ct.cut1)::INT + (a.v > ct.cut2)::INT) AS sym
          FROM a JOIN ct USING (event_type)),
        tri AS (SELECT event_type, sym,
          lead(sym, 1) OVER (PARTITION BY event_type ORDER BY b)
            AS s1,
          lead(sym, 2) OVER (PARTITION BY event_type ORDER BY b)
            AS s2 FROM sx)
        SELECT event_type,
          (sym::VARCHAR || s1::VARCHAR || s2::VARCHAR) AS motif,
          count(*)::BIGINT AS n
        FROM tri WHERE s2 IS NOT NULL GROUP BY 1, 2"""
        .replaceAll("\\s+", " "))),

    // Pettitt change-point LOCATION over the hour-bucketed series —
    // where the level shifted, not just that it trends (the
    // ts_mk_trend companion). Uₜ rebuilt exactly via the incremental
    // identity against the per-series value-domain frequency frame
    // (O(n log n) — no pair self-join; the DuckDB oracle keeps the
    // independent pair-based derivation); all Longs, one clamped
    // rounded p.
    "ts_pettitt" -> QueryDef(
      (s, dir) => SeriesOps.pettitt(
        Tables.events(s, dir)
          .groupBy(window(col("time"), "1 hour"), col("event_type"))
          .agg(sum(round(col("value") * 100, 0).cast("long")).as("s"),
            count(lit(1)).as("n"))
          .select(col("event_type"),
            expr("unix_micros(window.start)").as("b_us"),
            expr("(2 * s * 10000 + n) div (2 * n)").as("vu")),
        seriesCols = Seq("event_type"), bucketCol = "b_us",
        centsCol = "vu"),
      Some("""WITH a0 AS (SELECT event_type,
          (epoch_us(ts) // 3600000000) * 3600000000 AS b,
          sum(CAST(round(value * 100, 0) AS BIGINT)) AS s,
          count(*) AS n0 FROM events GROUP BY 1, 2),
        a AS (SELECT event_type, b,
          CAST((2 * s * 10000 + n0) // (2 * n0) AS BIGINT) AS vu
          FROM a0),
        nr AS (SELECT event_type, b, vu, row_number() OVER
          (PARTITION BY event_type ORDER BY b) AS rn FROM a),
        pr AS (SELECT a.event_type, a.rn AS ti, x.rn AS tj,
            sign(x.vu - a.vu)::BIGINT AS sg
          FROM nr a JOIN nr x ON a.event_type = x.event_type
            AND a.rn < x.rn),
        dl AS (SELECT event_type, ti AS t, sum(sg) AS d FROM pr
            GROUP BY 1, 2
          UNION ALL SELECT event_type, tj, -sum(sg) FROM pr
            GROUP BY 1, tj),
        dd AS (SELECT event_type, t, sum(d) AS d FROM dl GROUP BY 1, 2),
        uu AS (SELECT event_type, t, sum(d) OVER
          (PARTITION BY event_type ORDER BY t) AS u FROM dd),
        nn AS (SELECT event_type, count(*)::BIGINT AS n FROM nr
          GROUP BY 1),
        kk AS (SELECT uu.event_type, max(abs(uu.u))::BIGINT AS k
          FROM uu JOIN nn USING (event_type) WHERE uu.t < nn.n
          GROUP BY 1),
        lc AS (SELECT uu.event_type, min(uu.t) AS loc_t
          FROM uu JOIN kk USING (event_type) JOIN nn USING (event_type)
          WHERE abs(uu.u) = kk.k AND uu.t < nn.n GROUP BY 1)
        SELECT nn.event_type, nn.n,
          coalesce(kk.k, 0)::BIGINT AS k_stat, nr.b AS loc_b,
          round(least(1.0, 2.0 * exp(
            (-6.0 * (coalesce(kk.k, 0) * coalesce(kk.k, 0))::DOUBLE) /
            ((nn.n * nn.n * nn.n + nn.n * nn.n)::DOUBLE))), 6) AS p_r
        FROM nn LEFT JOIN kk USING (event_type)
          LEFT JOIN lc USING (event_type)
          LEFT JOIN nr ON nr.event_type = nn.event_type
            AND nr.rn = lc.loc_t""".replaceAll("\\s+", " "))),

    // gap → backfill PLAN: every detected outage run tiles into
    // ≤ 60-minute recovery chunks — ts_gaps' rows made literally the
    // chunk list a CopyJob backfill would enqueue (the reference's
    // recovery-window → chunked-copy pipeline as one declarative
    // composition). Pure projection + explode over the gap frame.
    "ts_gap_backfill_plan" -> QueryDef(
      (s, dir) => SeriesOps.gaps(
          Tables.events(s, dir).select(col("event_type"),
            expr("ts div 60000000000").as("b_min")),
          seriesCols = Seq("event_type"), bucketCol = "b_min",
          step = 1L)
        .withColumn("ci", explode(sequence(lit(0L),
          expr("(n_missing + 59) div 60") - 1)))
        .select(col("event_type"),
          (col("gap_start_b") + col("ci") * 60L).as("chunk_start_b"),
          least(lit(60L), col("n_missing") - col("ci") * 60L)
            .as("chunk_len")),
      Some("""WITH b AS (SELECT DISTINCT event_type,
          epoch_us(ts) // 60000000 AS b FROM events),
        l AS (SELECT event_type, b, lead(b) OVER
          (PARTITION BY event_type ORDER BY b) AS nb FROM b),
        g AS (SELECT event_type, (b + 1) AS gap_start_b,
          (nb - b - 1) AS n_missing
          FROM l WHERE nb IS NOT NULL AND nb - b > 1),
        c AS (SELECT event_type, gap_start_b, n_missing,
          unnest(generate_series(0, (n_missing + 59) // 60 - 1))
            AS ci FROM g)
        SELECT event_type,
          (gap_start_b + ci * 60)::BIGINT AS chunk_start_b,
          least(60, n_missing - ci * 60)::BIGINT AS chunk_len
        FROM c""".replaceAll("\\s+", " "))),

    // SEASONAL Mann–Kendall (the Hirsch–Slack variant): MK run
    // independently per (series, hour-of-day phase) over day-grain
    // buckets — comparisons only WITHIN a season, so a daily cycle
    // can't masquerade as (or hide) a trend — then the per-phase
    // exact (S, Var·18) statistics SUM into one per-series z. Pure
    // composition of the existing mannKendall with a two-column
    // series key plus one exact-integer combine; per-phase pair sets
    // are (days-per-range)-bounded.
    "ts_mk_seasonal" -> QueryDef(
      (s, dir) => {
        val mk = SeriesOps.mannKendall(
          Tables.events(s, dir)
            .groupBy(col("event_type"),
              expr("(ts div 3600000000000) % 24").as("phase"),
              expr("ts div 86400000000000").as("day"))
            .agg(sum(round(col("value") * 100, 0).cast("long"))
              .as("vc")),
          Seq("event_type", "phase"), "day", "vc")
        mk.groupBy(col("event_type"))
          .agg(count(lit(1)).as("k_phases"), sum(col("n")).as("n"),
            sum(col("s")).as("s"), sum(col("var18")).as("var18"))
          .withColumn("z_r", when(col("var18") > 0,
            round((col("s") - signum(col("s")).cast("long"))
              .cast("double") /
              sqrt(col("var18").cast("double") / 18.0), 4)))
      },
      Some("""WITH bk AS (SELECT event_type,
          (epoch_us(ts) // 3600000000) % 24 AS phase,
          epoch_us(ts) // 86400000000 AS day,
          sum(CAST(round(value * 100, 0) AS BIGINT))::BIGINT AS v
          FROM events GROUP BY 1, 2, 3),
        pr AS (SELECT a.event_type, a.phase,
          CASE WHEN x.v > a.v THEN 1 WHEN x.v < a.v THEN -1 ELSE 0 END
            AS sg
          FROM bk a JOIN bk x ON a.event_type = x.event_type
            AND a.phase = x.phase AND a.day < x.day),
        sa AS (SELECT event_type, phase, sum(sg)::BIGINT AS s FROM pr
          GROUP BY 1, 2),
        ti AS (SELECT event_type, phase, sum(t)::BIGINT AS n,
          sum(t * (t - 1) * (2 * t + 5))::BIGINT AS tie18
          FROM (SELECT event_type, phase, v, count(*)::BIGINT AS t
            FROM bk GROUP BY 1, 2, 3) GROUP BY 1, 2),
        per AS (SELECT ti.event_type, ti.n,
          coalesce(sa.s, 0)::BIGINT AS s,
          (ti.n * (ti.n - 1) * (2 * ti.n + 5) - ti.tie18)::BIGINT
            AS var18
          FROM ti LEFT JOIN sa ON ti.event_type = sa.event_type
            AND ti.phase = sa.phase),
        cm AS (SELECT event_type, count(*)::BIGINT AS k_phases,
          sum(n)::BIGINT AS n, sum(s)::BIGINT AS s,
          sum(var18)::BIGINT AS var18 FROM per GROUP BY 1)
        SELECT event_type, k_phases, n, s, var18,
          CASE WHEN var18 > 0 THEN round((s -
            CASE WHEN s > 0 THEN 1 WHEN s < 0 THEN -1 ELSE 0 END)
            ::DOUBLE / sqrt(var18::DOUBLE / 18.0), 4) END AS z_r
        FROM cm""".replaceAll("\\s+", " "))),

    // bounded Theil–Sen robust slope per series: median of pairwise
    // slopes at lag ≤ 6 hours — "how steep is the trend", immune to
    // the outliers that wreck OLS (completes mk-trend/spearman with
    // the magnitude). O(n·L) lag-explode pairs, never the O(n²)
    // self-join; slope division truncates TOWARD ZERO on both
    // engines (Spark div ↔ an explicit sign split over DuckDB's
    // flooring //).
    "ts_theilsen" -> QueryDef(
      (s, dir) => SeriesOps.theilSenBounded(
        Tables.events(s, dir)
          .groupBy(window(col("time"), "1 hour"), col("event_type"))
          .agg(sum(round(col("value") * 100, 0).cast("long")).as("s"),
            count(lit(1)).as("n"))
          .select(col("event_type"),
            expr("unix_micros(window.start)").as("b_us"),
            expr("(2 * s * 10000 + n) div (2 * n)").as("vu")),
        seriesCols = Seq("event_type"), bucketCol = "b_us",
        centsCol = "vu", bucketStep = 3600000000L, maxLag = 6),
      Some("""WITH a0 AS (SELECT event_type,
          (epoch_us(ts) // 3600000000) * 3600000000 AS b,
          sum(CAST(round(value * 100, 0) AS BIGINT)) AS s,
          count(*) AS n0 FROM events GROUP BY 1, 2),
        a AS (SELECT event_type, b,
          CAST((2 * s * 10000 + n0) // (2 * n0) AS BIGINT) AS vu
          FROM a0),
        lg AS (SELECT a.event_type, a.b, a.vu, l.l,
          a.b + l.l * 3600000000 AS bt FROM a,
          (SELECT unnest(generate_series(1, 6)) AS l) l),
        pr AS (SELECT lg.event_type,
          (r.vu - lg.vu) * 10000 AS dv, lg.l FROM lg
          JOIN a r ON r.event_type = lg.event_type AND r.b = lg.bt),
        sl AS (SELECT event_type, CASE WHEN dv >= 0 THEN dv // l
          ELSE -((-dv) // l) END AS s_u FROM pr),
        f AS (SELECT event_type, s_u, count(*)::BIGINT AS c FROM sl
          GROUP BY 1, 2),
        cw AS (SELECT event_type, s_u, c,
          sum(c) OVER (PARTITION BY event_type ORDER BY s_u) AS cum,
          sum(c) OVER (PARTITION BY event_type) AS n FROM f)
        SELECT event_type, max(n)::BIGINT AS n_pairs,
          min(CASE WHEN cum >= (n + 1) // 2 THEN s_u END)::BIGINT
            AS slope_u
        FROM cw GROUP BY 1""".replaceAll("\\s+", " "))),

    // gap detection per series at minute granularity: one row per
    // run of missing minutes — the collector-outage audit (the batch
    // complement of the monitor's lastOK tracking; its output is
    // exactly the recovery windows a backfill job would enqueue).
    "ts_gaps" -> QueryDef(
      (s, dir) => SeriesOps.gaps(
        Tables.events(s, dir).select(col("event_type"),
          expr("ts div 60000000000").as("b_min")),
        seriesCols = Seq("event_type"), bucketCol = "b_min",
        step = 1L),
      Some("""WITH b AS (SELECT DISTINCT event_type,
          epoch_us(ts) // 60000000 AS b FROM events),
        l AS (SELECT event_type, b, lead(b) OVER
          (PARTITION BY event_type ORDER BY b) AS nb FROM b)
        SELECT event_type, (b + 1)::BIGINT AS gap_start_b,
          (nb - b - 1)::BIGINT AS n_missing
        FROM l WHERE nb IS NOT NULL AND nb - b > 1"""
        .replaceAll("\\s+", " "))),

    // Spearman rank correlation of each hour-bucketed series against
    // time — the monotone-trend STRENGTH meter completing the trend
    // trio (ts_mk_trend: exists; ts_pettitt: where; this: how strong,
    // on [−1, 1], robust to outliers). Doubled midranks keep every
    // Pearson sum exact; one fixed-order combination rounded 4.
    "ts_spearman_trend" -> QueryDef(
      (s, dir) => SeriesOps.spearmanTrend(
        Tables.events(s, dir)
          .groupBy(window(col("time"), "1 hour"), col("event_type"))
          .agg(sum(round(col("value") * 100, 0).cast("long")).as("s"),
            count(lit(1)).as("n"))
          .select(col("event_type"),
            expr("unix_micros(window.start)").as("b_us"),
            expr("(2 * s * 10000 + n) div (2 * n)").as("vu")),
        seriesCols = Seq("event_type"), bucketCol = "b_us",
        centsCol = "vu"),
      Some("""WITH a0 AS (SELECT event_type,
          (epoch_us(ts) // 3600000000) * 3600000000 AS b,
          sum(CAST(round(value * 100, 0) AS BIGINT)) AS s,
          count(*) AS n0 FROM events GROUP BY 1, 2),
        a AS (SELECT event_type, b,
          CAST((2 * s * 10000 + n0) // (2 * n0) AS BIGINT) AS vu
          FROM a0),
        nr AS (SELECT event_type, vu, (2 * row_number() OVER
          (PARTITION BY event_type ORDER BY b))::BIGINT AS rx2
          FROM a),
        fr AS (SELECT event_type, vu, count(*)::BIGINT AS c FROM a
          GROUP BY 1, 2),
        ry AS (SELECT event_type, vu,
          (2 * (sum(c) OVER (PARTITION BY event_type ORDER BY vu)
            - c) + c + 1)::BIGINT AS ry2 FROM fr),
        j AS (SELECT nr.event_type, nr.rx2, ry.ry2 FROM nr
          JOIN ry ON nr.event_type = ry.event_type
            AND nr.vu = ry.vu),
        s AS (SELECT event_type, count(*)::BIGINT AS n,
          sum(rx2)::BIGINT AS sx, sum(ry2)::BIGINT AS sy,
          sum(rx2 * rx2)::BIGINT AS qx, sum(ry2 * ry2)::BIGINT AS qy,
          sum(rx2 * ry2)::BIGINT AS pxy FROM j GROUP BY 1)
        SELECT event_type, n,
          CASE WHEN (n::DOUBLE * qx::DOUBLE - sx::DOUBLE * sx::DOUBLE)
            > 0 AND (n::DOUBLE * qy::DOUBLE - sy::DOUBLE * sy::DOUBLE)
            > 0
          THEN round((n::DOUBLE * pxy::DOUBLE - sx::DOUBLE *
              sy::DOUBLE) /
            (sqrt(n::DOUBLE * qx::DOUBLE - sx::DOUBLE * sx::DOUBLE) *
             sqrt(n::DOUBLE * qy::DOUBLE - sy::DOUBLE * sy::DOUBLE)),
            4) END AS rho_r
        FROM s""".replaceAll("\\s+", " "))),

    // SAX symbolization of the hour-bucketed series: per-series exact
    // tercile cut points (PERCENTILE_DISC on the value-domain frame),
    // symbol = #cuts strictly below — numeric series become 3-letter
    // strings for motif mining; all Longs, cuts broadcast back.
    "ts_sax" -> QueryDef(
      (s, dir) => SeriesOps.saxSymbols(
        Tables.events(s, dir)
          .groupBy(window(col("time"), "1 hour"), col("event_type"))
          .agg(sum(round(col("value") * 100, 0).cast("long")).as("s"),
            count(lit(1)).as("n"))
          .select(col("event_type"),
            expr("unix_micros(window.start)").as("b_us"),
            expr("(2 * s * 10000 + n) div (2 * n)").as("vu")),
        seriesCols = Seq("event_type"), bucketCol = "b_us",
        centsCol = "vu", alphabet = 3),
      Some("""WITH a0 AS (SELECT event_type,
          (epoch_us(ts) // 3600000000) * 3600000000 AS b,
          sum(CAST(round(value * 100, 0) AS BIGINT)) AS s,
          count(*) AS n0 FROM events GROUP BY 1, 2),
        a AS (SELECT event_type, b,
          CAST((2 * s * 10000 + n0) // (2 * n0) AS BIGINT) AS v
          FROM a0),
        f AS (SELECT event_type, v, count(*)::BIGINT AS c FROM a
          GROUP BY 1, 2),
        cu AS (SELECT event_type, v, c, sum(c) OVER
          (PARTITION BY event_type ORDER BY v) AS cum,
          sum(c) OVER (PARTITION BY event_type) AS n FROM f),
        ct AS (SELECT event_type,
          min(CASE WHEN cum >= (n * 1 + 2) // 3 THEN v END) AS cut1,
          min(CASE WHEN cum >= (n * 2 + 2) // 3 THEN v END) AS cut2
          FROM cu GROUP BY 1)
        SELECT a.event_type, a.b, a.v,
          ((a.v > ct.cut1)::INT + (a.v > ct.cut2)::INT)::BIGINT
            AS symbol
        FROM a JOIN ct USING (event_type)"""
        .replaceAll("\\s+", " "))),

    // counter-reset-aware rate over hour-bucketed per-series sums: a
    // bucket below its predecessor is a counter reset and contributes
    // its own value (the restart-from-zero convention); one lag
    // window + one aggregate, both on the series key. Exact Long
    // cents; the cents-per-second rate is one fixed-order IEEE
    // product+division of exact integers, rounded 6.
    "ts_rate" -> QueryDef(
      (s, dir) => SeriesOps.counterRate(
        Tables.events(s, dir)
          .groupBy(window(col("time"), "1 hour"), col("event_type"))
          .agg(sum(round(col("value") * 100, 0).cast("long")).as("vc"))
          .select(col("event_type"),
            expr("unix_micros(window.start)").as("t_us"), col("vc")),
        seriesCols = Seq("event_type"), timeUsCol = "t_us",
        centsCol = "vc"),
      Some("""WITH a AS (SELECT event_type,
          (epoch_us(ts) // 3600000000) * 3600000000 AS t_us,
          sum(CAST(round(value * 100, 0) AS BIGINT))::BIGINT AS vc
          FROM events GROUP BY 1, 2),
        d AS (SELECT event_type, t_us, vc, lag(vc) OVER
          (PARTITION BY event_type ORDER BY t_us) AS prev FROM a)
        SELECT event_type, count(*)::BIGINT AS n,
          sum(CASE WHEN prev IS NOT NULL AND vc < prev THEN 1 ELSE 0
            END)::BIGINT AS n_resets,
          sum(CASE WHEN prev IS NULL THEN 0 WHEN vc >= prev THEN
            vc - prev ELSE vc END)::BIGINT AS increase_c,
          (max(t_us) - min(t_us))::BIGINT AS span_us,
          CASE WHEN max(t_us) > min(t_us) THEN round(
            sum(CASE WHEN prev IS NULL THEN 0 WHEN vc >= prev THEN
              vc - prev ELSE vc END)::DOUBLE * 1e6 /
            (max(t_us) - min(t_us))::DOUBLE, 6) END AS rate_cps
        FROM d GROUP BY 1""".replaceAll("\\s+", " "))),

    // classical additive seasonal decomposition (value = trend +
    // seasonal + residual) over 6-hour buckets, period 5: centered-MA
    // trend (complete windows only), per-phase seasonal means,
    // explicit shared-floor means so the signed detrended averages
    // cannot diverge on truncate-vs-floor division.
    "ts_seasonal_decompose" -> QueryDef(
      (s, dir) => {
        val sixH = 21600L * 1000000000L
        val bucketed = ev(s, dir)
          .groupBy(col("event_type"), expr(s"ts div $sixH").as("b"))
          .agg(sum(round(col("value") * 100, 0).cast("long")).as("vc"))
        SeriesOps.seasonalDecompose(bucketed, Seq("event_type"), "b",
          "vc", period = 5)
      },
      Some("""WITH bk AS (SELECT event_type,
          epoch_us(ts) // 21600000000 AS b,
          sum(CAST(round(value * 100, 0) AS BIGINT))::BIGINT AS vc
          FROM events GROUP BY 1, 2),
        tr AS (SELECT event_type, b, vc,
          CASE WHEN count(vc) OVER w = 5 THEN
            CAST(floor((sum(vc) OVER w)::DOUBLE / 5) AS BIGINT) END
            AS trend
          FROM bk WINDOW w AS (PARTITION BY event_type ORDER BY b
            ROWS BETWEEN 2 PRECEDING AND 2 FOLLOWING)),
        dt AS (SELECT event_type, b, vc, trend, vc - trend AS detr,
          b % 5 AS phase FROM tr),
        se AS (SELECT event_type, phase,
          CAST(floor(sum(detr)::DOUBLE / count(*)) AS BIGINT)
            AS seasonal
          FROM dt WHERE detr IS NOT NULL GROUP BY 1, 2)
        SELECT dt.event_type, dt.b, dt.vc, dt.trend, se.seasonal,
          dt.detr - se.seasonal AS resid
        FROM dt LEFT JOIN se ON dt.event_type = se.event_type
          AND dt.phase = se.phase""".replaceAll("\\s+", " "))),

    "ts_holt_winters" -> QueryDef(
      (s, dir) => SeriesOps.holtWintersFixed(
        Tables.events(s, dir)
          .groupBy(window(col("time"), "1 hour"), col("event_type"))
          .agg(sum(round(col("value") * 100, 0).cast("long")).as("s"),
            count(lit(1)).as("n"))
          .select(col("event_type"),
            expr("unix_micros(window.start)").as("b_us"),
            expr("(2 * s * 10000 + n) div (2 * n)").as("vu")),
        seriesCols = Seq("event_type"), bucketCol = "b_us",
        valueCol = "vu", aNum = 1L, aDen = 4L, bNum = 1L, bDen = 4L,
        gNum = 1L, gDen = 4L, season = 24)
        .select(col("event_type"), col("b_us"),
          col("level").as("level_u"), col("trend").as("trend_u"),
          col("seasonal").as("seas_u"),
          col("forecast").as("forecast_u")),
      Some {
        val slot = "((n.rn - 1) % 24) + 1"
        val l2 = s"((n.vu - r.seas[$slot]) + 3 * (r.l + r.t) + 2) // 4"
        val sN = s"((n.vu - ($l2)) + 3 * r.seas[$slot] + 2) // 4"
        s"""WITH RECURSIVE a0 AS (SELECT event_type,
          (epoch_us(ts) // 3600000000) * 3600000000 AS b,
          sum(CAST(round(value * 100, 0) AS BIGINT)) AS s,
          count(*) AS n FROM events GROUP BY 1, 2),
        a AS (SELECT event_type, b,
          CAST((2 * s * 10000 + n) // (2 * n) AS BIGINT) AS vu FROM a0),
        n AS (SELECT event_type, b, vu, row_number() OVER
          (PARTITION BY event_type ORDER BY b) AS rn FROM a),
        r AS (SELECT event_type, b, vu, rn, vu AS l,
            CAST(0 AS BIGINT) AS t, CAST(0 AS BIGINT) AS s,
            list_transform(generate_series(1, 24),
              x -> CAST(0 AS BIGINT)) AS seas
          FROM n WHERE rn = 1
          UNION ALL
          SELECT n.event_type, n.b, n.vu, n.rn,
            $l2 AS l,
            ((($l2) - r.l) + 3 * r.t + 2) // 4 AS t,
            $sN AS s,
            list_transform(generate_series(1, 24), j ->
              CASE WHEN j = $slot THEN $sN ELSE r.seas[j] END) AS seas
          FROM n JOIN r ON n.event_type = r.event_type
            AND n.rn = r.rn + 1)
        SELECT event_type, b AS b_us, l AS level_u, t AS trend_u,
          s AS seas_u, l + t + coalesce(lag(s, 23) OVER
            (PARTITION BY event_type ORDER BY rn), 0) AS forecast_u
        FROM r""".replaceAll("\\s+", " ")
      }),

    // InfluxQL SLIMIT 30 SOFFSET 10: series pagination — hour-bucketed
    // per-series sums for series ranked 11..40 in (event_type, user_id)
    // key order. The rank runs over the DISTINCT key set (series-count-
    // sized) and broadcasts back as a semi join; the data never
    // shuffles for the selection.
    "ts_slimit" -> QueryDef(
      (s, dir) => SeriesOps.seriesLimit(
        Tables.events(s, dir)
          .groupBy(col("event_type"), col("user_id"),
            window(col("time"), "1 hour"))
          .agg(count(lit(1)).as("n"),
            round(sum(col("value")), 4).as("sum_value"))
          .select(col("event_type"), col("user_id"),
            expr("unix_micros(window.start)").as("w_start_us"),
            col("n"), col("sum_value")),
        seriesCols = Seq("event_type", "user_id"),
        slimit = 30, soffset = 10),
      Some("""WITH a AS (SELECT event_type, user_id,
          (epoch_us(ts) // 3600000000) * 3600000000 AS w_start_us,
          count(*)::BIGINT AS n, round(sum(value), 4) AS sum_value
          FROM events GROUP BY 1, 2, 3),
        k AS (SELECT event_type, user_id, row_number() OVER
            (ORDER BY event_type, user_id) AS sr
          FROM (SELECT DISTINCT event_type, user_id FROM a))
        SELECT a.* FROM a JOIN k USING (event_type, user_id)
        WHERE k.sr > 10 AND k.sr <= 40""".replaceAll("\\s+", " "))),

    // InfluxQL momentum indicators over hour-bucketed per-type means:
    // CHANDE_MOMENTUM_OSCILLATOR(7) and the windowed (Cutler) form of
    // RELATIVE_STRENGTH_INDEX(7) — both pure rolling-window sums over
    // the per-series clustering (gain/loss split of the 1-step diff;
    // no recursion, unlike Wilder RSI, which is ts_ema's territory).
    // Guarded divisions: a flat window (all gains and losses 0) yields
    // null, not a DIVIDE_BY_ZERO under ANSI mode.
    // Gains/losses run in FIXED-POINT micro-units (vu = round(v·1e6),
    // BIGINT): the window sums are exact integer arithmetic in both
    // engines, so sg/sl are bit-identical however the engines order or
    // tree-structure their sliding-sum accumulation (the round-6 sf0.1
    // divergence came from float window sums + ratio chains). The
    // oscillator outputs are ALSO integers — percent scaled by 1e6,
    // rounded half-up in exact integer space via
    // round(p/q) = (2p + q) div (2q) (truncating integral division:
    // Spark `div` ≡ DuckDB `//` ≡ toward zero). No double is ever
    // rounded: an sf0.1 probe showed even identical ratio doubles can
    // round differently across engines when the shortest decimal
    // representation sits exactly on the 1e-6 half-boundary (JVM
    // BigDecimal.valueOf rounds the shortest string, DuckDB rounds the
    // scaled binary value).
    "ts_momentum" -> QueryDef(
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("event_type")).orderBy(col("b"))
        val wN = w.rowsBetween(-6, Window.currentRow)
        val diff = col("vu") - lag(col("vu"), 1).over(w)
        // integer bucket means end-to-end, same derivation as ts_ema
        val agg = Tables.events(s, dir)
          .groupBy(window(col("time"), "1 hour"), col("event_type"))
          .agg(sum(round(col("value") * 100, 0).cast("long")).as("s"),
            count(lit(1)).as("n"))
          .select(col("event_type"),
            expr("unix_micros(window.start)").as("b"),
            expr("(2 * s * 10000 + n) div (2 * n)").as("vu"))
          // explicit null on the first row: greatest() IGNORES nulls in
          // both engines, which would count a phantom 0-diff into the
          // 7-diff window
          .withColumn("gain",
            when(diff.isNotNull, greatest(diff, lit(0L))))
          .withColumn("loss",
            when(diff.isNotNull, greatest(negate(diff), lit(0L))))
        agg.select(col("event_type"), col("b").as("b_us"),
            sum(col("gain")).over(wN).as("sg"),
            sum(col("loss")).over(wN).as("sl"),
            count(col("gain")).over(wN).as("nd"))
          // percent·1e6 ⇒ p = (sg−sl)·1e8; worst |p·2| ≈ 7·5e8·2e8
          // = 7e17 < 2^63 — Long-safe under ANSI
          .select(col("event_type"), col("b_us"),
            expr("CASE WHEN nd = 7 AND sg + sl > 0 THEN " +
              "((sg - sl) * 200000000 + (sg + sl)) div ((sg + sl) * 2) " +
              "END").as("cmo7_u"),
            expr("CASE WHEN nd = 7 AND sg + sl > 0 THEN " +
              "(sg * 200000000 + (sg + sl)) div ((sg + sl) * 2) END")
              .as("rsi7_u"))
      },
      Some("""WITH a0 AS (SELECT event_type,
          (epoch_us(ts) // 3600000000) * 3600000000 AS b,
          sum(CAST(round(value * 100, 0) AS BIGINT)) AS s,
          count(*) AS n FROM events GROUP BY 1, 2),
        a AS (SELECT event_type, b,
          CAST((2 * s * 10000 + n) // (2 * n) AS BIGINT) AS vu FROM a0),
        d AS (SELECT event_type, b, vu,
          vu - lag(vu) OVER win AS diff FROM a
          WINDOW win AS (PARTITION BY event_type ORDER BY b)),
        g AS (SELECT event_type, b,
          CASE WHEN diff IS NULL THEN NULL
            ELSE greatest(diff, 0) END AS gain,
          CASE WHEN diff IS NULL THEN NULL
            ELSE greatest(-diff, 0) END AS loss
          FROM d),
        r AS (SELECT event_type, b,
          sum(gain) OVER wn AS sg, sum(loss) OVER wn AS sl,
          count(gain) OVER wn AS nd FROM g
          WINDOW wn AS (PARTITION BY event_type ORDER BY b
            ROWS BETWEEN 6 PRECEDING AND CURRENT ROW))
        SELECT event_type, b AS b_us,
          CASE WHEN nd = 7 AND sg + sl > 0
            THEN CAST(((sg - sl) * 200000000 + (sg + sl))
              // ((sg + sl) * 2) AS BIGINT) END AS cmo7_u,
          CASE WHEN nd = 7 AND sg + sl > 0
            THEN CAST((sg * 200000000 + (sg + sl))
              // ((sg + sl) * 2) AS BIGINT) END AS rsi7_u
        FROM r""".replaceAll("\\s+", " "))),

    // Rolling z-score anomaly detection over hour-bucketed per-type
    // cent means: each bucket scored against its series' 24 PRIOR
    // buckets (>= 12 required), 3σ flag. Everything that can drift is
    // integer: cent bucket means via the exact rounded division
    // (2s + n) div (2n), window count/sum/sum-of-squares as exact Long
    // sums, and the flag as the cross-multiplied square test
    // D² > 9·V (D = vc·n − Σ, V = n·Σvc² − Σ²) — no float ever enters
    // a comparison. The reported z = D/√V is one IEEE divide of one
    // IEEE sqrt over exact integers, bit-identical cross-engine, and
    // deliberately UNROUNDED (see ts_momentum's round() note).
    // Non-vacuous at sf0.01: 82 of 3385 buckets flag.
    "ts_anomaly" -> QueryDef(
      (s, dir) => SeriesOps.rollingAnomalies(
        Tables.events(s, dir)
          .groupBy(window(col("time"), "1 hour"), col("event_type"))
          .agg(sum(round(col("value") * 100, 0).cast("long")).as("s"),
            count(lit(1)).as("n"))
          .select(col("event_type"),
            expr("unix_micros(window.start)").as("b_us"),
            expr("(2 * s + n) div (2 * n)").as("vc")),
        seriesCols = Seq("event_type"), bucketCol = "b_us",
        valueCol = "vc", lookback = 24, minPrior = 12, sigma = 3),
      Some("""WITH a0 AS (SELECT event_type,
          (epoch_us(ts) // 3600000000) * 3600000000 AS b,
          sum(CAST(round(value * 100, 0) AS BIGINT)) AS s,
          count(*) AS n FROM events GROUP BY 1, 2),
        a AS (SELECT event_type, b,
          CAST((2 * s + n) // (2 * n) AS BIGINT) AS vc FROM a0),
        w AS (SELECT event_type, b, vc,
          count(vc) OVER win AS n_prior, sum(vc) OVER win AS sm,
          sum(vc * vc) OVER win AS ssq FROM a
          WINDOW win AS (PARTITION BY event_type ORDER BY b
            ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING))
        SELECT event_type, b AS b_us, vc, n_prior::BIGINT AS n_prior,
          CASE WHEN n_prior >= 12 AND n_prior * ssq - sm * sm > 0
            THEN (vc * n_prior - sm)::DOUBLE /
              sqrt((n_prior * ssq - sm * sm)::DOUBLE) END AS z,
          (n_prior >= 12 AND
            (vc * n_prior - sm) * (vc * n_prior - sm) >
              9 * (n_prior * ssq - sm * sm)) AS is_anomaly
        FROM w""".replaceAll("\\s+", " "))),

    // InfluxQL TOP(value, 3) / BOTTOM(value, 3) per series — selector
    // functions via the bounded-heap TopKAgg (map-side partial top-k;
    // no per-series single-reducer window sort). Ties break by
    // event_id ASC, the InfluxQL earlier-point convention.
    "ts_top_bottom" -> QueryDef(
      (s, dir) => SeriesOps.topBottom(ev(s, dir),
        seriesCols = Seq("event_type"), valueCol = "value",
        idCol = "event_id", k = 3),
      Some("""WITH r AS (SELECT event_type, event_id,
          row_number() OVER (PARTITION BY event_type
            ORDER BY value DESC, event_id) AS rt,
          row_number() OVER (PARTITION BY event_type
            ORDER BY value ASC, event_id) AS rb
          FROM events)
        SELECT event_type, 'top' AS sel, rt::BIGINT AS rank, event_id
          FROM r WHERE rt <= 3
        UNION ALL
        SELECT event_type, 'bottom' AS sel, rb::BIGINT AS rank, event_id
          FROM r WHERE rb <= 3""".replaceAll("\\s+", " "))),

    // InfluxQL SPREAD(value) + MODE(user_id) per series. Spread is one
    // IEEE subtraction of exact column extrema (bit-deterministic,
    // unrounded). Mode follows the InfluxQL lowest-value-on-tie
    // contract via an arg-max struct aggregate — max(struct(cnt,
    // -user_id)) — two hash aggregates, no window, no sort.
    "agg_selectors" -> QueryDef(
      (s, dir) => {
        val e = ev(s, dir)
        val spread = e.groupBy(col("event_type"))
          .agg((max(col("value")) - min(col("value"))).as("spread"))
        val mode = e.groupBy(col("event_type"), col("user_id"))
          .agg(count(lit(1)).as("cnt"))
          .groupBy(col("event_type"))
          .agg(max(struct(col("cnt"),
            negate(col("user_id")).as("nid"))).as("m"))
          .select(col("event_type"), negate(col("m.nid")).as("mode_user"))
        spread.join(mode, "event_type")
      },
      Some("""WITH c AS (SELECT event_type, user_id, count(*) AS cnt
          FROM events GROUP BY 1, 2),
        m AS (SELECT event_type, user_id AS mode_user FROM
          (SELECT event_type, user_id, row_number() OVER
            (PARTITION BY event_type ORDER BY cnt DESC, user_id) AS r
           FROM c) WHERE r = 1),
        sp AS (SELECT event_type, max(value) - min(value) AS spread
          FROM events GROUP BY 1)
        SELECT sp.event_type, sp.spread, m.mode_user
        FROM sp JOIN m USING (event_type)""".replaceAll("\\s+", " "))),

    // F3: JSON value coercion by declared type (client.go:430-459 analog
    // on the props payload).
    "f3_json_extract" -> QueryDef(
      (s, dir) => ev(s, dir).select(col("event_id"),
        get_json_object(col("props"), "$.k").cast("long").as("k")),
      Some("""SELECT event_id,
              json_extract_string(props,'$.k')::BIGINT AS k FROM events"""
        .replaceAll("\\s+", " "))),

    // F1/F2: ns-epoch ↔ calendar conversions (UnixNano2Time analog,
    // client.go:312-327) — derived µs timestamp drives calendar funcs.
    "f1_time_parts" -> QueryDef(
      (s, dir) => {
        val t = timestamp_micros(expr("ts div 1000"))
        ev(s, dir).select(
          col("event_id"),
          expr("ts div 1000").as("time_us"),
          year(t).cast("long").as("y"),
          month(t).cast("long").as("m"),
          dayofmonth(t).cast("long").as("dom"),
          hour(t).cast("long").as("h"),
          date_trunc("DAY", t).cast("date").as("d"))
      },
      Some("""SELECT event_id, epoch_us(ts) AS time_us,
              year(ts)::BIGINT AS y, month(ts)::BIGINT AS m,
              day(ts)::BIGINT AS dom, hour(ts)::BIGINT AS h,
              date_trunc('day', ts)::DATE AS d FROM events"""
        .replaceAll("\\s+", " "))),

    // S1-S4/P3: catalog discovery with regex filtering (GetSchema,
    // hacluster.go:75-162). Oracle: DuckDB DESCRIBE over every registered
    // table, with its column types mapped through the same §1.2 matrix —
    // timestamps map to 'integer' because the engine's canonical time
    // type is the ns-epoch Long (SURVEY.md §7.3 hard part 1).
    "catalog_schema" -> QueryDef(
      (s, dir) => {
        val cat = new Catalog(s)
        val schema = cat.getSchema(dir, measRegex = ".*")
        val rows = for {
          db <- schema; rp <- db.rps; m <- rp.measurements
          f <- m.fields.values.toSeq.sortBy(_.name)
        } yield (db.name, rp.name, m.name, f.name, f.ftype.name)
        import s.implicits._
        rows.toDF("db", "rp", "measurement", "field", "ftype")
      },
      Some {
        val tables = Seq("region", "nation", "customer", "supplier",
          "part", "orders", "lineitem", "events", "documents",
          "embeddings")
        val describes = tables.map(t =>
          s"""SELECT '$t' AS measurement, column_name AS field,
              column_type FROM (DESCRIBE $t)""").mkString(" UNION ALL ")
        s"""WITH ds AS ($describes)
          SELECT 'default' AS db, 'autogen' AS rp, measurement, field,
          CASE WHEN column_type IN ('DOUBLE','FLOAT','REAL') THEN 'float'
            WHEN column_type LIKE 'DECIMAL%' THEN 'unsigned'
            WHEN column_type IN ('BIGINT','INTEGER','SMALLINT','TINYINT')
              THEN 'integer'
            WHEN column_type LIKE 'TIMESTAMP%' THEN 'integer'
            WHEN column_type = 'DATE' THEN 'integer'
            WHEN column_type = 'BOOLEAN' THEN 'boolean'
            ELSE 'string' END AS ftype
          FROM ds""".replaceAll("\\s+", " ")
      }))
}
