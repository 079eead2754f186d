package graft.api

import graft.model.{DbSchema, FieldType}
import graft.sources.LineProtocol
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The InfluxDB 1.x `/write` plane: line-protocol text in, idempotent
  * point upsert into the engine's chunk-partitioned measurements —
  * together with /query this makes the engine a drop-in stand-in for
  * the API surface the reference's own client consumes (client.go
  * reads AND writes InfluxDB 1.x).
  *
  * Semantics pinned:
  *  - last write wins per (series key, timestamp) — within a batch
  *    the LATER line overrides (InfluxDB's own behavior), and any
  *    incoming point overrides a stored one
  *    ([[graft.operators.CopyJob.upsertPoints]]);
  *  - a line's keys resolve against the measurement's PARQUET schema:
  *    a key may arrive as an LP tag (always strings on the wire) or
  *    an LP field — either coerces to the stored column type (tags
  *    via CAST, fields via the full suffix-aware coercion matrix);
  *  - STRICT batches: any malformed non-blank line refuses the whole
  *    write (a pinned deviation from InfluxDB's partial-write 400 —
  *    silently persisting half a batch is how replicas diverge), and
  *    EVERY batch-level precondition (line shape, timestamps,
  *    measurement existence, sink layout — including the auto-create
  *    target's) is validated BEFORE the first point persists — a
  *    refused batch leaves storage untouched;
  *  - timestampless lines refuse: valid LP that InfluxDB stamps with
  *    server receive time, but under last-write-wins upsert the 0L
  *    default would silently collapse the batch onto epoch 0 — a
  *    strict-batch plane has no business inventing timestamps;
  *  - measurements auto-create on first write (InfluxDB 1.x
  *    semantics, the plane the reference's copy loop exercises on a
  *    fresh slave): tags become string columns, fields take the LP
  *    literal's type (`i`→long, `u`→uint64 decimal, t/f→boolean,
  *    numeric→double, QUOTED literal→string regardless of content —
  *    InfluxDB types quoted values as strings, client.go:430-459 in
  *    reverse), time lands as the canonical ns-epoch Long, and the
  *    series key is the line's tag set (InfluxDB's own series
  *    identity). In a hierarchical root the new measurement is
  *    created under the target database's DEFAULT retention policy
  *    (honoring /write's `db` param like InfluxDB — `db` must name an
  *    existing database, "database not found" otherwise), so it is
  *    immediately visible to [[graft.catalog.Catalog.getSchema]] and
  *    /query; flat roots keep the flat `root/<m>.parquet` layout.
  *    `autoCreate = false` restores the schema-first refusal for
  *    deployments that prefer declared schemas over first-line type
  *    inference.
  *
  * Cost contract: the catalog walk (directory listing + parquet
  * footers) runs ONCE and is cached across batches — at production
  * write rates a per-batch storage walk is the write plane's scale
  * killer (the r13 sync_write_upsert 1.7× regression). The cache is
  * invalidated whenever this service itself changes the catalog
  * (auto-create), and a resolution MISS triggers one fresh re-walk
  * before refusing — so out-of-band DDL (CREATE DATABASE over /query,
  * a copy landing on the same root) is picked up without a restart;
  * [[invalidateSchema]] remains the explicit hook for callers that
  * know they changed storage. */
object WriteService {
  /** Per-target-path write monitors (see write()'s serialization
    * note) — keyed by the resolved measurement path. ONE registry
    * with every other manifested chunk mutator
    * ([[graft.operators.ChunkManifest.lockFor]]): a ql DELETE or a
    * retention pass on the same measurement serializes against
    * /write batches through the same monitor, so manifest
    * read-modify-write commits never interleave. Reentrant — the
    * upsert's own manifested lock nests free under this one. */
  private[api] def lockFor(path: String): Object =
    graft.operators.ChunkManifest.lockFor(path)
}

final class WriteService(
    spark: SparkSession,
    root: String,
    /** measurement → series key columns (the tag set identity). A
      * measurement absent here defaults to its string columns. */
    seriesCols: Map[String, Seq[String]] = Map.empty,
    chunkNs: Long = 86400000000000L,
    timeCol: String = "ts",
    autoCreate: Boolean = true,
    /** Fires after an auto-create adds a measurement to the storage
      * tree — the hook a co-served /query catalog hangs its full
      * invalidation on (the mirror of QlPlanner.executor's
      * onMutation). */
    onCatalogChange: () => Unit = () => (),
    /** Fires after each upsert into an EXISTING measurement commits,
      * with its path and the data schema the write resolved — one
      * call per measurement of a batch, so the measurements a batch
      * committed before a later one failed are still reported. A
      * co-served /query catalog marks that one entry stale here
      * instead of dropping the whole catalog. */
    onMeasurementWritten: (String, StructType) => Unit = (_, _) => ()) {

  private val catalog = new graft.catalog.Catalog(spark)

  /** Cached getSchema walk (see cost contract above). `null` = stale. */
  @volatile private var schemaCache: Seq[DbSchema] = null

  /** Cost-contract instrumentation: FULL catalog walks paid so far.
    * Test tripwire — the r13 write regression was one walk PER BATCH;
    * writes into known measurements must add ZERO walks. */
  private[graft] var schemaWalks: Int = 0

  /** Drop the cached catalog walk — call after out-of-band DDL/copy
    * changes the storage tree underneath a long-lived service. */
  def invalidateSchema(): Unit = schemaCache = null

  /** Per-measurement MINIMUM timestamp landed since the last drain —
    * the signal the CQ tick uses to rewind a rollup's recompute
    * window when /write backfilled points BEHIND the watermark
    * lookback (see ContinuousQuery.refresh rewindToNs). Drained (read
    * + cleared) atomically once per supervisor tick. */
  private val lowWaterLock = new Object
  private var writeLowWater: Map[String, Long] = Map.empty

  def drainWriteLowWater(): Map[String, Long] =
    lowWaterLock.synchronized {
      val r = writeLowWater; writeLowWater = Map.empty; r
    }

  /** Re-queue rewind marks a FAILED CQ refresh could not consume —
    * min-merged exactly like fresh writes, so the next tick's drain
    * retries the rewind instead of losing the backfill forever (the
    * [[graft.ql.CqService.runAll]] requeueRewinds contract). */
  def requeueWriteLowWater(marks: Map[String, Long]): Unit =
    noteWrites(marks.toSeq)

  private def noteWrites(mins: Seq[(String, Long)]): Unit =
    lowWaterLock.synchronized {
      mins.foreach { case (m, ts) =>
        writeLowWater += m ->
          math.min(writeLowWater.getOrElse(m, Long.MaxValue), ts)
      }
    }

  private def schema(): Seq[DbSchema] = {
    var s = schemaCache
    if (s == null) {
      s = catalog.getSchema(root); schemaCache = s; schemaWalks += 1
    }
    s
  }

  private def fs() = {
    val hp = new org.apache.hadoop.fs.Path(root)
    hp.getFileSystem(spark.sessionState.newHadoopConf())
  }

  /** Write one line-protocol batch; returns points written.
    * @param db target database for auto-created measurements (the
    *   /write `db` query param). Required when the root is
    *   hierarchical and the batch carries an unknown measurement;
    *   ignored for writes into known measurements of a flat root.
    * @param timeMulNs multiplier from the lines' timestamp unit to
    *   ns — the /write `precision` param (1 = ns, the InfluxDB
    *   default and what the reference's client sends). Timestamps
    *   are scaled ONCE at parse, so every downstream consumer
    *   (upsert grid, series low-water marks) sees canonical ns. */
  def write(body: String, db: Option[String] = None,
      timeMulNs: Long = 1L): Long = {
    require(timeMulNs > 0, s"timeMulNs must be positive: $timeMulNs")
    val lines = body.split('\n').map(_.stripSuffix("\r"))
      .filter(_.trim.nonEmpty).toSeq
    require(lines.nonEmpty, "empty write body")
    val points = lines.zipWithIndex.map { case (l, i) =>
      val p0 = LineProtocol.parseLineOpt(l).getOrElse(
        throw new IllegalArgumentException(
          s"malformed line protocol at line ${i + 1}: $l"))
      require(p0.hasTime, s"line ${i + 1} has no timestamp — the " +
        "strict /write plane does not stamp server time (a " +
        "timestampless batch would collapse onto epoch 0 under " +
        s"last-write-wins): $l")
      val p = if (timeMulNs == 1L) p0
        else p0.copy(timeNs = math.multiplyExact(p0.timeNs, timeMulNs))
      p -> i.toLong
    }
    val byMeasurement = points.groupBy(_._1.measurement).toSeq
      .sortBy(_._1)
    // resolve + validate EVERY measurement before writing ANY: the
    // strict-batch contract is atomic refusal, so an unknown 'zzz'
    // must not leave 'aaa' half-persisted (per-measurement writes are
    // ordered by name — the require would otherwise fire mid-batch).
    // Resolution order: flat `root/<m>.parquet` by ONE existence
    // check (the production copy-loop path never pays a catalog
    // walk — not even the cached one's first fill), then the
    // hierarchical catalog, then auto-create.
    val resolved = byMeasurement.map { case (m, pts) =>
      val flat = s"$root/$m.parquet"
      if (fs().exists(new org.apache.hadoop.fs.Path(flat))) {
        requireChunkLayout(m, flat) // pre-validate, all-or-none
        (m, flat, pts, false)
      } else {
        def lookup() = (for {
          d <- schema() if db.forall(_ == d.name)
          rp <- d.rps; mm <- rp.measurements
          if mm.name == m
        } yield (d.name, rp.name)).headOption
        // a miss may just be a STALE cache: DDL over /query (CREATE
        // DATABASE/RP) or an out-of-band copy lands on the same root
        // without passing through this service, and a long-lived
        // server must not keep refusing /write?db=newdb until restart.
        // Misses are rare (first write of a measurement), so one fresh
        // walk before concluding new-or-error costs nothing at rate.
        val known = lookup().orElse { invalidateSchema(); lookup() }
        known match {
          case Some((kdb, krp)) =>
            val path = s"$root/$kdb/$krp/$m.parquet"
            requireChunkLayout(m, path)
            (m, path, pts, false)
          case None =>
            require(autoCreate,
              s"unknown measurement '$m' — create it first " +
                "(schema-first writes; autoCreate disabled)")
            val path = autoCreatePath(m, db)
            // the auto-create target gets the SAME pre-validation as a
            // known sink: a flat part-file parquet already sitting at
            // the target would be corrupted by __bucket= dirs.
            requireChunkLayout(m, path)
            (m, path, pts, true)
        }
      }
    }
    // Per-measurement serialization: the upsert's crash-safe rewrite
    // is a tmp-write + rename/promote sequence, and the HTTP server
    // dispatches requests CONCURRENTLY — two simultaneous batches
    // into one measurement would race each other's renames (InfluxDB
    // serializes through its WAL; this is the FS-sink equivalent).
    // Batches into DISJOINT measurements still run fully parallel:
    // the monitor is per-target-path, and a multi-measurement batch
    // takes its locks in sorted-path order (byMeasurement is
    // name-sorted, so paths are acquired in a global order — no
    // deadlock between overlapping batches).
    resolved.foreach {
      case (m, path, pts, create) =>
        WriteService.lockFor(path).synchronized {
          if (create) createMeasurement(m, path, pts)
          else onMeasurementWritten(path, writeMeasurement(m, path, pts))
        }
    }
    // record per-measurement low-water marks AFTER the batch persists
    // (a refused batch leaves storage untouched and must not rewind
    // anyone's rollup window)
    noteWrites(byMeasurement.map { case (m, pts) =>
      m -> pts.map(_._1.timeNs).min
    })
    points.size.toLong
  }

  /** Where a new measurement lands: under the target db's default RP
    * in a hierarchical root (InfluxDB semantics — the db must already
    * exist), flat `root/<m>.parquet` otherwise. */
  private def autoCreatePath(m: String, db: Option[String]): String =
    if (!catalog.isHierarchical(root)) s"$root/$m.parquet"
    else {
      val name = db.getOrElse(throw new IllegalArgumentException(
        s"auto-create of '$m' in a hierarchical root needs the " +
          "db query param (InfluxDB: /write?db=...)"))
      // same stale-cache fallback as the measurement lookup: re-walk
      // once before refusing a database that out-of-band DDL created
      def find() = schema().find(_.name == name)
      val target = find().orElse { invalidateSchema(); find() }
        .getOrElse(throw new IllegalArgumentException(
          s"database not found: $name"))
      val rp = target.rps.find(_.isDefault)
        .getOrElse(target.rps.head).name
      s"$root/$name/$rp/$m.parquet"
    }

  /** The auto-create series identity survives restarts in a
    * `_series.json` sidecar INSIDE the measurement dir (Spark's file
    * index skips underscore-prefixed files, the `_cq.json` precedent):
    * once string FIELDS exist (quoted LP literals), "all string
    * columns" no longer recovers the tag set, and keying an upsert on
    * a string field would fork the series whenever a later point
    * omits that field. */
  private def seriesMetaPath(path: String) =
    new org.apache.hadoop.fs.Path(s"$path/_series.json")

  /** JSON string escaping for the sidecar — tag keys may legally
    * contain '"', '\', ',' or ']' (all reachable through escaped line
    * protocol), and an unescaped write would corrupt the sidecar into
    * a silently-WRONG recovered key, forking or merging series on
    * later upserts. */
  private def jsonEscape(s: String): String =
    s.flatMap {
      case '"'           => "\\\""
      case '\\'          => "\\\\"
      case c if c < ' '  => f"\\u${c.toInt}%04x"
      case c             => c.toString
    }

  private def writeSeriesMeta(path: String, key: Seq[String]): Unit = {
    val out = fs().create(seriesMetaPath(path), true)
    try out.write(key.map(k => "\"" + jsonEscape(k) + "\"")
      .mkString("""{"series_key":[""", ",", "]}")
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  /** Escape-aware reader for the sidecar's string array (the dual of
    * [[jsonEscape]]) — a regex split on ',' mis-parses exactly the
    * keys the writer now escapes. */
  private def parseSeriesKey(txt: String): Option[Seq[String]] = {
    val at = txt.indexOf("\"series_key\"")
    if (at < 0) return None
    var i = txt.indexOf('[', at + 12)
    if (i < 0) return None
    i += 1
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    val sb = new StringBuilder
    var inStr = false
    var done = false
    while (!done && i < txt.length) {
      val c = txt.charAt(i)
      if (inStr) c match {
        case '\\' if i + 1 < txt.length =>
          txt.charAt(i + 1) match {
            case 'u' if i + 5 < txt.length =>
              sb.append(Integer.parseInt(
                txt.substring(i + 2, i + 6), 16).toChar)
              i += 4
            case other => sb.append(other)
          }
          i += 1
        case '"'   => out += sb.toString; sb.clear(); inStr = false
        case other => sb.append(other)
      } else c match {
        case '"' => inStr = true
        case ']' => done = true
        case _   => ()
      }
      i += 1
    }
    if (done) Some(out.toSeq) else None
  }

  private def readSeriesMeta(path: String): Option[Seq[String]] = {
    val p = seriesMetaPath(path)
    if (!fs().exists(p)) None
    else {
      val in = fs().open(p)
      try {
        val bytes =
          new Array[Byte](fs().getFileStatus(p).getLen.toInt)
        in.readFully(bytes)
        parseSeriesKey(new String(bytes,
          java.nio.charset.StandardCharsets.UTF_8))
      } finally in.close()
    }
  }

  private def ftypeOf(dt: DataType): FieldType = dt match {
    case DoubleType | FloatType       => FieldType.Float
    case LongType | IntegerType |
         ShortType | ByteType         => FieldType.Integer
    case d: DecimalType if d.scale == 0 => FieldType.Unsigned
    case BooleanType                  => FieldType.Bool
    case _                            => FieldType.Str
  }

  /** The upsert needs the chunk-partitioned sink layout (mixing
    * __bucket dirs into a flat parquet dir would corrupt partition
    * discovery). Separated from the write so the batch pre-pass can
    * validate all targets — including auto-create's — before any of
    * them is touched. */
  private def requireChunkLayout(m: String, path: String): Unit = {
    val hp = new org.apache.hadoop.fs.Path(path)
    require(!fs().exists(hp) || !fs().listStatus(hp).exists(st =>
        st.isFile && st.getPath.getName.startsWith("part-")),
      s"measurement '$m' is a flat parquet — /write needs the " +
        "chunk-partitioned sink layout (copy/replicate it first)")
  }

  /** First write to an unknown measurement: infer the schema from the
    * batch (InfluxDB 1.x auto-create). Tags → string columns; each
    * field takes its LP literal type from the FIRST line carrying it
    * (quoted literals are strings regardless of content); time is the
    * canonical ns Long. Created at `path` (db-default-RP dir in
    * hierarchical roots, flat otherwise) in the chunk-partitioned
    * layout, series key = the tag set. */
  private def createMeasurement(m: String, path: String,
      pts: Seq[(LineProtocol.LinePoint, Long)]): Unit = {
    import spark.implicits._
    val tagKeys = pts.flatMap(_._1.tags.keys).distinct.sorted
    val fieldKeys = pts.flatMap(_._1.fields.keys).distinct.sorted
      .filterNot(tagKeys.contains)
    require(!tagKeys.contains(timeCol) && !fieldKeys.contains(timeCol),
      s"auto-create: '$timeCol' collides with the time column")
    val fieldTypes: Map[String, FieldType] = fieldKeys.map { k =>
      val first = pts.iterator
        .collectFirst { case (p, _) if p.fields.contains(k) => p }.get
      k -> inferFieldType(first.fields(k),
        quoted = first.quotedFields.contains(k))
    }.toMap
    val df0 = pts.map { case (p, i) =>
      (p.tags, p.fields, p.timeNs, i)
    }.toDF("tags", "fields", "timeNs", "__line")
    val cols: Seq[Column] =
      (col("timeNs").as(timeCol) +:
        tagKeys.map(k => col("tags")(k).as(k))) ++
        fieldKeys.map(k =>
          LineProtocol.coerceField(col("fields")(k), fieldTypes(k))
            .as(k)) :+ col("__line")
    val key = seriesCols.getOrElse(m,
      if (tagKeys.nonEmpty) tagKeys else fieldKeys.take(1))
    val job = new graft.operators.CopyJob(spark)
    job.upsertPoints(path, df0.select(cols: _*),
      graft.operators.CopyJob.Config(0L, 0L, chunkNs,
        timeCol = timeCol),
      keyCols = key): Unit
    writeSeriesMeta(path, key) // series identity survives restarts
    invalidateSchema() // the walk no longer reflects storage
    onCatalogChange()
  }

  /** LP literal → stored type (the client.go:430-459 coercion matrix
    * in reverse): quoted → string (whatever the content — InfluxDB
    * types `v="123"` as a string), `NNNi` integer, `NNNu` unsigned,
    * t/f/true/false boolean, bare numeric float, else string. */
  private def inferFieldType(raw: String, quoted: Boolean): FieldType =
    if (quoted) FieldType.Str
    else if (raw.matches("-?\\d+i")) FieldType.Integer
    else if (raw.matches("\\d+u")) FieldType.Unsigned
    else if (Set("t", "true", "f", "false")(raw.toLowerCase))
      FieldType.Bool
    else if (raw.matches("-?\\d+(\\.\\d+)?([eE][+-]?\\d+)?"))
      FieldType.Float
    else FieldType.Str

  /** Upsert into an existing measurement; returns the data schema the
    * write resolved (the stored columns, `__bucket` dropped). */
  private def writeMeasurement(m: String, path: String,
      pts: Seq[(LineProtocol.LinePoint, Long)]): StructType = {
    import spark.implicits._
    // schema resolution only — through the manifest, so a racing
    // reader's generation residue never skews the read
    val target = graft.operators.ChunkManifest.readStored(spark, path)
    val df0 = pts.map { case (p, i) =>
      (p.tags, p.fields, p.timeNs, i)
    }.toDF("tags", "fields", "timeNs", "__line")
    val cols: Seq[Column] = target.schema.fields.toSeq.map { f =>
      if (f.name == timeCol) {
        val c = f.dataType match {
          case TimestampType | TimestampNTZType =>
            expr("timestamp_micros(timeNs div 1000)").cast(f.dataType)
          case _ => col("timeNs").cast(f.dataType)
        }
        c.as(timeCol)
      } else {
        // the key may arrive as LP tag (string) or LP field (raw
        // string with type suffix) — whichever is present wins
        val fromField =
          LineProtocol.coerceField(col("fields")(f.name),
            ftypeOf(f.dataType)).cast(f.dataType)
        val fromTag = col("tags")(f.name).cast(f.dataType)
        coalesce(fromField, fromTag).as(f.name)
      }
    } :+ col("__line")
    val decoded = df0.select(cols: _*)
    // key precedence: explicit config → the `_series.json` the
    // auto-create wrote (the line's tag set, InfluxDB's own series
    // identity) → all string columns (the pre-sidecar convention,
    // correct only while no string FIELDS exist)
    val key = seriesCols.getOrElse(m,
      readSeriesMeta(path).getOrElse(
        target.schema.fields.toSeq
          .filter(_.dataType == StringType).map(_.name)))
    val job = new graft.operators.CopyJob(spark)
    job.upsertPoints(path, decoded,
      graft.operators.CopyJob.Config(0L, 0L, chunkNs,
        timeCol = timeCol),
      keyCols = key): Unit
    target.schema
  }
}
