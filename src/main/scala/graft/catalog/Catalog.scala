package graft.catalog

import graft.model._
import graft.sources.Tables
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types._

/** Catalog discovery with regex filtering and rename rewrite.
  *
  * The reference discovers its schema dynamically at runtime by walking
  * databases → retention policies → measurements → fields with `SHOW`
  * queries, applying user regexes at each level
  * (`GetSchema`, /root/reference/pkg/agent/hacluster.go:75-162; db filter
  * 85-99, rp filter 108-121, measurement filter 129-143), and then applies
  * `-newdb`/`-newrp` renames (/root/reference/pkg/agent/agent.go:157-167,
  * 220-229). The `_internal` system database is always excluded
  * (client.go:169-171).
  *
  * Engine mapping: a storage root is a directory tree
  * `root/<db>/<rp>/<measurement>.parquet`; a flat `root/<m>.parquet`
  * layout (the driver's TESTDATA) surfaces as db="default", rp="autogen".
  * Fields come from the Parquet footer schema instead of SHOW FIELD KEYS.
  *
  * All directory walking goes through the Hadoop FileSystem API resolved
  * from the session's Hadoop conf, so discovery works against any storage
  * URI (local/HDFS/S3A) — a prerequisite of the 100 TB posture.
  */
final class Catalog(spark: SparkSession) {

  /** One WARN per measurement skipped by a schema walk — transient
    * mid-write skips self-heal on the next walk; a persistent one
    * (corrupt footer, permissions) must leave an operator trail. */
  private def warnSkip(path: String, e: Throwable): Unit =
    System.err.println(s"[graft] WARNING: schema walk skipped " +
      s"$path (${e.getClass.getSimpleName}: " +
      s"${Option(e.getMessage).getOrElse("").take(200)})")

  private def fsFor(path: String): (FileSystem, Path) = {
    val p = new Path(path)
    (p.getFileSystem(spark.sessionState.newHadoopConf()), p)
  }

  /** SHOW DATABASES analog (client.go:158-183). Directory-form parquet
    * tables (`root/<m>.parquet/` as written by df.write.parquet) are
    * measurements, never databases — a flat root of Spark-written tables
    * must not be misread as a hierarchical db tree. */
  def databases(root: String): Seq[String] = {
    val subdirs = dbDirs(root)
    val dbs = if (subdirs.nonEmpty) subdirs else Seq("default")
    dbs.filter(_ != "_internal").sorted // _internal exclusion client.go:169-171
  }

  /** Subdirectories that look like databases (not parquet tables). */
  private def dbDirs(root: String): Seq[String] =
    listDirs(root).filterNot(_.endsWith(".parquet"))

  /** Whether the root is the hierarchical `db/rp/<m>.parquet` tree (vs
    * the flat default/autogen layout) — the layout decision every
    * writer into the tree must agree on with this catalog. */
  def isHierarchical(root: String): Boolean = dbDirs(root).nonEmpty

  /** SHOW MEASUREMENTS analog: parquet tables under a (db, rp) dir, or the
    * flat root (client.go:271-310). */
  def measurements(dir: String): Seq[String] = {
    val (fs, p) = fsFor(dir)
    if (!fs.exists(p)) Nil
    else fs.listStatus(p).toSeq
      .map(_.getPath.getName)
      .filter(_.endsWith(".parquet"))
      .map(_.stripSuffix(".parquet"))
      .sorted
  }

  /** SHOW FIELD KEYS analog: Parquet footer schema → FieldSch map, using
    * the inverse of the §1.2 type mapping. Sets the ns-as-long session
    * conf first so schema discovery over ns-timestamp tables is
    * order-independent (doesn't rely on a prior Tables.load call). */
  def fields(path: String): Map[String, FieldSch] = {
    Tables.ensureNsConf(spark)
    val schema = spark.read.parquet(path).schema
    schema.fields.map { f =>
      val ft = f.dataType match {
        case DoubleType | FloatType       => FieldType.Float
        case LongType | IntegerType       => FieldType.Integer
        // time columns are integer in the engine's canonical schema —
        // the authoritative time key is the ns-epoch Long (SURVEY.md
        // §7.3 hard part 1); µs-timestamp/date parquet columns surface
        // the same way
        case TimestampType | TimestampNTZType | DateType =>
          FieldType.Integer
        case _: DecimalType               => FieldType.Unsigned
        case BooleanType                  => FieldType.Bool
        case _                            => FieldType.Str
      }
      f.name -> FieldSch(f.name, ft)
    }.toMap
  }

  /** Full GetSchema analog: walk root, apply regex filters at each level,
    * then the rename rewrite. Flat roots surface as default/autogen.
    * (hacluster.go:75-162 + agent.go:157-167.)
    * @param withFields false = names only: every measurement surfaces
    *   with an empty field map and no parquet footer is read (the
    *   /query catalog reads its own schemas,
    *   [[graft.ql.QlPlanner.storageCatalog]]). */
  def getSchema(
      root: String,
      dbRegex: String = ".*",
      rpRegex: String = ".*",
      measRegex: String = ".*",
      newDb: String = "",
      newRp: String = "",
      withFields: Boolean = true): Seq[DbSchema] = {
    val dbRe = dbRegex.r
    val rpRe = rpRegex.r
    val measRe = measRegex.r
    val hierarchical = dbDirs(root).nonEmpty

    def measurementsOf(dir: String): Seq[MeasurementSch] =
      measurements(dir)
        .filter(m => measRe.findFirstIn(m).isDefined) // hacluster.go:140-143
        .flatMap { m =>
          // a measurement MID-CREATION is not yet discoverable THIS
          // walk — its dir can be footerless (a sink's staging phase)
          // or a just-listed file already replaced. Skip it with a
          // WARN and let the next walk pick it up: the same
          // discovery-only eventual consistency the /query catalog
          // walk applies (QlPlanner.storageCatalog) — without this,
          // one mid-write dir failed the ENTIRE schema walk (and any
          // plane calling it), observed live by the DaemonSoak reader
          if (!withFields) Some(MeasurementSch(m, Map.empty))
          else try Some(MeasurementSch(m, fields(s"$dir/$m.parquet")))
          catch {
            case e: org.apache.spark.sql.AnalysisException
                if e.getMessage.contains("UNABLE_TO_INFER_SCHEMA") =>
              warnSkip(s"$dir/$m.parquet", e); None
            case e: Throwable if {
              var c: Throwable = e; var hit = false
              while (c != null && !hit) {
                hit = c.isInstanceOf[java.io.FileNotFoundException]
                c = if (c.getCause ne c) c.getCause else null
              }
              hit
            } => warnSkip(s"$dir/$m.parquet", e); None
          }
        }

    val dbs =
      if (!hierarchical) {
        val ms = measurementsOf(root)
        if (ms.isEmpty) Nil
        else Seq(DbSchema("default", "", "autogen", "",
          Seq(RetentionPolicy("autogen", 0L, 0L, 1, isDefault = true, ms))))
      } else {
        databases(root)
          .filter(d => dbRe.findFirstIn(d).isDefined) // hacluster.go:85-99
          .flatMap { db =>
            val rpDirs = listDirs(s"$root/$db")
              .filter(rp => rpRe.findFirstIn(rp).isDefined) // hacluster.go:108-121
              .sorted
            // RP attributes come from the `_rp.json` metadata tier
            // when present (written by SchemaReplicator / the /query
            // DDL plane); bare directories keep the legacy defaults
            // with first-dir-is-default.
            val repl = new graft.operators.SchemaReplicator(
              spark.sessionState.newHadoopConf())
            val rps0 = rpDirs.map { rp =>
              val meta = repl.readRp(root, db, rp)
              RetentionPolicy(rp,
                meta.map(_.durationNs).getOrElse(0L),
                meta.map(_.shardGroupDurationNs).getOrElse(0L),
                meta.map(_.nReplicas).getOrElse(1),
                isDefault = meta.exists(_.isDefault),
                measurementsOf(s"$root/$db/$rp"))
            }
            val rps =
              if (rps0.exists(_.isDefault)) rps0
              else rps0.zipWithIndex.map { case (r, i) =>
                r.copy(isDefault = i == 0)
              }
            if (rps.isEmpty) None
            else Some(DbSchema(db, "",
              rps.find(_.isDefault).get.name, "", rps))
          }
      }

    // rename rewrite (agent.go:157-167, 220-229): only meaningful when a
    // single db/rp matched, same restriction as the reference CLI.
    dbs.map { d =>
      d.copy(
        newName = newDb,
        newDefaultRp = if (newRp.nonEmpty) newRp else d.newDefaultRp)
    }
  }

  /** Register every discovered measurement as a Spark SQL temp view named
    * `<db>_<rp>_<measurement>`, so users can `spark.sql` against the
    * catalog. Names are backtick-quoted (F6): measurement names may
    * contain dots/dashes/spaces (README.md:395 `cpu.*`), which unquoted
    * SQL would misparse as multipart identifiers. Returns the view names.
    */
  def registerViews(root: String,
      dbRegex: String = ".*", rpRegex: String = ".*",
      measRegex: String = ".*"): Seq[String] = {
    import graft.functions.Identifiers.backquote
    val hierarchical = dbDirs(root).nonEmpty
    val schema = getSchema(root, dbRegex, rpRegex, measRegex)
    for {
      db <- schema; rp <- db.rps; m <- rp.measurements
    } yield {
      val path =
        if (hierarchical) s"$root/${db.name}/${rp.name}/${m.name}.parquet"
        else s"$root/${m.name}.parquet"
      val view = s"${db.name}_${rp.name}_${m.name}"
      Tables.ensureNsConf(spark)
      spark.sql(
        s"""CREATE OR REPLACE TEMPORARY VIEW ${backquote(view)} AS
            SELECT * FROM parquet.${backquote(path)}"""): Unit
      view
    }
  }

  private def listDirs(path: String): Seq[String] = {
    val (fs, p) = fsFor(path)
    if (!fs.exists(p)) Nil
    else fs.listStatus(p).toSeq
      .filter(_.isDirectory)
      .map(_.getPath.getName)
      .sorted
  }
}
