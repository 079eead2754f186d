package graft.ql

import java.nio.charset.StandardCharsets

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The continuous-query SERVICE the reference delegates to InfluxDB
  * itself (a syncflux deployment's CQs live in the InfluxDB it syncs;
  * a Spark-native store must own them): a persisted registration
  * catalog plus scheduled incremental execution.
  *
  *  - `CREATE CONTINUOUS QUERY … END` → [[register]]: validated by the
  *    same [[QlPlanner.planCreateCq]] rules, persisted to `_cq.json`
  *    at the destination root (beside the catalog's `_rp.json`
  *    metadata tier), and refreshed once on arrival (InfluxDB runs a
  *    new CQ at its next interval; arrival-run makes the registration
  *    immediately observable and is idempotent anyway);
  *  - supervisor ticks ([[graft.streaming.HAMonitor]]'s `onTick`) →
  *    [[runAll]]: every registered CQ re-runs through the
  *    watermark-bounded incremental refresh — each tick recomputes
  *    ONLY the lookback buckets and advances the rollup's watermark
  *    exactly-once (AgentSpec pins no-duplication across ticks);
  *  - `DROP CONTINUOUS QUERY "name"` → [[drop]] (the rollup DATA
  *    stays — that is DROP MEASUREMENT's job, matching InfluxDB);
  *  - `SHOW CONTINUOUS QUERIES` → [[list]] via
  *    [[QlPlanner.planShow]].
  *
  * The catalog file stores the original statement TEXT — re-parsed on
  * every run, so the registration round-trips through the strict
  * parser and survives engine upgrades that extend the AST. Records
  * are driver-side JSON via the Hadoop FileSystem API (works against
  * any storage URI), rewritten whole on change — CQ counts are
  * human-scale, not data-scale.
  */
final class CqService(spark: SparkSession, srcRoot: String,
    dstRoot: String, resampleNs: Long = 0L) {

  private def catPath = new Path(s"$dstRoot/_cq.json")

  private def fs =
    catPath.getFileSystem(spark.sessionState.newHadoopConf())

  /** (name, db, statement text) for every registered CQ, name-sorted. */
  def list: Seq[(String, String, String)] = {
    if (!fs.exists(catPath)) return Nil
    val in = fs.open(catPath)
    val text =
      try {
        val bytes = new Array[Byte](
          fs.getFileStatus(catPath).getLen.toInt)
        in.readFully(bytes)
        new String(bytes, StandardCharsets.UTF_8)
      } finally in.close()
    // escape-aware field capture: statement text contains \" (quoted
    // identifiers), which a naive non-greedy (.*?)" would cut short
    ("""\{"name":"((?:[^"\\]|\\.)*)","db":"((?:[^"\\]|\\.)*)",""" +
      """"query":"((?:[^"\\]|\\.)*)"\}""").r
      .findAllMatchIn(text)
      .map(m => (unesc(m.group(1)), unesc(m.group(2)),
        unesc(m.group(3))))
      .toSeq.sortBy(_._1)
  }

  /** Register (or replace — InfluxDB refuses duplicates, we pin
    * last-wins overwrite as the deviation that makes re-registration
    * idempotent) and run the first refresh. Returns the post-refresh
    * rollup frame. */
  def register(text: String): DataFrame = {
    val stmt = InfluxQl.parseStatement(text) match {
      case cq: QlCreateCq => cq
      case other => throw new QlParseException(
        s"not a CREATE CONTINUOUS QUERY statement: $other")
    }
    // validate + first refresh BEFORE persisting — a statement the
    // planner refuses must not poison the catalog for every later tick
    val out = QlPlanner.planCreateCq(stmt, spark, srcRoot, dstRoot,
      resampleNs)
    val kept = list.filterNot(_._1 == stmt.name)
    write(kept :+ ((stmt.name, stmt.db.getOrElse("default"), text)))
    out
  }

  /** Register WITHOUT the arrival refresh: statement-level validation
    * only (strict parse + the CQ shape requires). The rollup
    * materializes on the next supervisor tick instead of immediately
    * — the InfluxDB behavior, in fact (a new CQ first runs at its
    * next interval); [[register]]'s arrival-run remains the default
    * because it makes registrations immediately observable. Listing/
    * catalog paths use this to avoid paying a full refresh for a
    * metadata operation (the r12 bench-head lesson: SHOW CONTINUOUS
    * QUERIES was the most expensive query in the bench because its
    * setup refreshed twice). Tick-driven convergence is pinned by
    * AgentSpec's E2E. */
  def registerOnly(text: String): Unit = {
    val stmt = InfluxQl.parseStatement(text) match {
      case cq: QlCreateCq => cq
      case other => throw new QlParseException(
        s"not a CREATE CONTINUOUS QUERY statement: $other")
    }
    val kept = list.filterNot(_._1 == stmt.name)
    write(kept :+ ((stmt.name, stmt.db.getOrElse("default"), text)))
  }

  /** Unregister; returns true iff the name existed. */
  def drop(name: String): Boolean = {
    val cur = list
    val kept = cur.filterNot(_._1 == name)
    if (kept.size == cur.size) false
    else { write(kept); true }
  }

  /** One scheduled pass: every registered CQ through the incremental
    * refresh. Returns (name, bucketsRewritten, watermarkNs) per CQ. A
    * failing CQ reports (-1, -1) and does NOT block the others — the
    * supervisor tick must survive one broken registration.
    *
    * @param writeRewinds per-SOURCE-measurement low-water marks of
    *   points landed by the /write plane since the last tick (drained
    *   from [[graft.api.WriteService.drainWriteLowWater]]): a CQ whose
    *   source got a backfill BEHIND its watermark-lookback rewinds its
    *   recompute window to cover it — the streaming-parity contract
    *   that /write-landed points reach the rollups the same as copied
    *   batches, however late they arrive.
    *
    * Source resolution per CQ: the configured srcRoot first; a source
    * measurement absent there but present under dstRoot refreshes
    * against dstRoot — the daemon serves /write into its own root, so
    * CQs registered over served measurements must read the served
    * plane, while replication CQs keep reading the master. */
  def runAll(writeRewinds: Map[String, Long] = Map.empty,
      /** Receives the rewind marks whose CQs FAILED this pass (r15
        * ADVICE low): runAll consumes the drained map, so without a
        * re-queue a rollup would permanently miss its backfilled
        * points once the CQ recovers on a later tick. The daemon
        * plumbs [[graft.api.WriteService.requeueWriteLowWater]] here.
        * A mark whose source feeds BOTH a failed and a succeeded CQ
        * is re-queued whole — the succeeded one just re-covers an
        * already-idempotent window next tick. */
      requeueRewinds: Map[String, Long] => Unit = _ => (),
      /** Receives the rollup path of every CQ this pass refreshed —
        * the daemon's served catalog marks that entry stale. */
      onRefreshed: String => Unit = _ => ())
      : Seq[(String, Long, Long)] = {
    val failedSrcs = scala.collection.mutable.Set.empty[String]
    def srcOf(text: String): String =
      try InfluxQl.parseStatement(text)
        .asInstanceOf[QlCreateCq].inner.source match {
        case QlMeasurement(p) => p.last
        case _ => ""
      } catch { case _: Exception => "" }
    val out = list.map { case (name, _, text) =>
      try {
        val stmt = InfluxQl.parseStatement(text)
          .asInstanceOf[QlCreateCq]
        val srcMeas = stmt.inner.source match {
          case QlMeasurement(p) => p.last
          case _ => ""
        }
        val root =
          if (srcRoot == dstRoot || hasMeasurement(srcRoot, srcMeas) ||
              !hasMeasurement(dstRoot, srcMeas)) srcRoot
          else dstRoot
        QlPlanner.planCreateCq(stmt, spark, root, dstRoot,
          resampleNs, rewindToNs = writeRewinds.get(srcMeas))
        val dstPath = s"$dstRoot/${stmt.inner.into.get}.parquet"
        onRefreshed(dstPath)
        // the refresh's (buckets, watermark) ride the rollup's own
        // _cq.json watermark file; re-read it for the report
        val wm = new graft.operators.ContinuousQuery(spark)
        val roll = wm.readRollup(dstPath)
        (name, roll.select("bucket_ns").distinct().count(),
          watermarkOf(stmt.inner.into.get))
      } catch {
        case _: Exception =>
          failedSrcs += srcOf(text)
          (name, -1L, -1L)
      }
    }
    val unconsumed = writeRewinds.filter {
      case (m, _) => failedSrcs.contains(m)
    }
    if (unconsumed.nonEmpty) requeueRewinds(unconsumed)
    out
  }

  /** Whether a measurement is visible under a root — the flat
    * single-existence check first (never pays a walk on the common
    * path), then the hierarchical catalog. */
  private def hasMeasurement(root: String, m: String): Boolean =
    m.nonEmpty && {
      val p = new Path(s"$root/$m.parquet")
      p.getFileSystem(spark.sessionState.newHadoopConf()).exists(p) ||
        new graft.catalog.Catalog(spark).getSchema(root).exists(d =>
          d.rps.exists(_.measurements.exists(_.name == m)))
    }

  /** The rollup's persisted watermark (0 if never refreshed). */
  def watermarkOf(dstMeasurement: String): Long = {
    val p = new Path(s"$dstRoot/$dstMeasurement.parquet/_cq.json")
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

  private def esc(s: String): String =
    s.replace("\\", "\\\\").replace("\"", "\\\"")
  private def unesc(s: String): String =
    s.replace("\\\"", "\"").replace("\\\\", "\\")

  private def write(rows: Seq[(String, String, String)]): Unit = {
    val json = rows.map { case (n, d, q) =>
      s"""{"name":"${esc(n)}","db":"${esc(d)}","query":"${esc(q)}"}"""
    }.mkString("[", ",", "]")
    val out = fs.create(catPath, true)
    try out.write(json.getBytes(StandardCharsets.UTF_8))
    finally out.close()
  }
}
