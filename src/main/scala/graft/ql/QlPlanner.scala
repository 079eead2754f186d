package graft.ql

import graft.operators.SeriesOps
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** One queryable measurement: a DataFrame plus the InfluxQL-model
  * roles of its columns. `timeCol` must be (castable to) Long epoch
  * nanoseconds — the engine-wide canonical time ([[graft.sources
  * .Tables]] normalizes any physical parquet time type to it). */
final case class QlTable(name: String, df: DataFrame, timeCol: String,
    tags: Seq[String], fields: Seq[String],
    /** Owning database ("" = unscoped): the served /query `db=` param
      * restricts SELECT resolution to matching (or unscoped) tables —
      * how colliding measurement names across databases resolve
      * deterministically (InfluxDB's own request-scoping). */
    db: String = "",
    /** Storage path of a stored measurement ("" = not stored): the key
      * a served catalog refreshes one entry by. */
    path: String = "")

/** Plans a parsed [[QlSelect]] onto the existing DataFrame surface —
  * the text front-end stays a THIN layer: scans/filters land on the
  * measurement frame (time predicates are plain Long comparisons on
  * the normalized column, so parquet pushdown survives), aggregates
  * are built-in hash aggregates, `GROUP BY time(...)` + `fill(...)`
  * reuses [[SeriesOps.fillGaps]] (one window, zero extra joins), and
  * SLIMIT/SOFFSET reuses [[SeriesOps.seriesLimit]] (two-phase
  * TakeOrdered ranking + broadcast semi join).
  *
  * Deviations from InfluxQL, pinned deliberately:
  *   - every result carries a `measurement` column (InfluxQL returns
  *     it as out-of-band series metadata; a flat relation needs it
  *     in-band, and it makes regex-FROM unions self-describing);
  *   - LIMIT/OFFSET are per-series (InfluxQL semantics) with a total
  *     tie order (time, then projected columns) — InfluxQL leaves tie
  *     order undefined, which is unreproducible across engines;
  *   - FIRST/LAST break equal-timestamp ties to the smaller/larger
  *     field value (same reason);
  *   - PERCENTILE/MEDIAN are exact nearest-rank: the value at
  *     1-based index max(1, ceil(n·p/100)) of the sorted non-null
  *     field values. The sort_array(collect_list) form holds whole
  *     groups in memory — fine for series-grained groups (InfluxQL's
  *     own model); corpus-grained percentiles should use the
  *     value-domain / DDSketch paths (stats_* family) instead;
  *   - `plan()` returns an UNORDERED frame even under ORDER BY time
  *     (registry compares are order-insensitive; a global Sort would
  *     tax every query) — [[executor]], the HTTP materialization
  *     path, applies (series keys, time asc/desc) so /query responses
  *     and row-cap truncation are InfluxDB-ordered;
  *   - tz() applies to GROUP BY time() bucket alignment (wall-clock
  *     boundaries, DST-correct); time LITERALS in WHERE stay what
  *     they are (ns epochs / durations) — InfluxQL's tz-aware string
  *     timestamps are not parsed;
  *   - near a DST gap/overlap, nonexistent or ambiguous wall-clock
  *     grid boundaries resolve by java.time rules (gap → shifted
  *     forward, overlap → earlier offset).
  */
object QlPlanner {

  def plan(stmt: QlSelect, catalog: Seq[QlTable],
      nowNs: Option[Long] = None): DataFrame = {
    require(stmt.into.isEmpty,
      "SELECT INTO writes a measurement — run it through planInto, " +
        "not plan (silently reading an INTO would drop the write)")
    planPure(stmt, catalog, nowNs)
  }

  /** SELECT … INTO "dst": compute the SELECT, WRITE it as the
    * destination measurement under `destRoot` (the InfluxQL
    * backfill/downsample idiom), and return the read-back frame —
    * so callers verify what actually landed, not what was planned.
    * Overwrite semantics: re-running the same INTO converges
    * (InfluxQL upserts points; a deterministic SELECT rewrites the
    * identical measurement). */
  def planInto(stmt: QlSelect, catalog: Seq[QlTable], destRoot: String,
      nowNs: Option[Long] = None): DataFrame = {
    val dst = stmt.into.getOrElse(throw new QlParseException(
      "planInto needs a SELECT … INTO statement"))
    val planned = planPure(stmt, catalog, nowNs)
    // InfluxDB never WRITES null field values (a point with only null
    // fields does not exist), so default-fill(null) grid rows — all
    // value columns null — are dropped at the sink, not persisted
    val tagSet = catalog.flatMap(_.tags).toSet
    val valueCols = planned.columns.filterNot(c =>
      c == "measurement" || c == "time" || tagSet(c))
    val out =
      if (valueCols.isEmpty) planned
      else planned.filter(valueCols.map(col(_).isNotNull)
        .reduce(_ || _))
    out.write.mode("overwrite").parquet(s"$destRoot/$dst.parquet")
    out.sparkSession.read.parquet(s"$destRoot/$dst.parquet")
  }

  private def planPure(stmt0: QlSelect, catalog: Seq[QlTable],
      nowNs: Option[Long]): DataFrame = {
    // COUNT(DISTINCT(f)) desugars to one exact distinct aggregate —
    // it then mixes freely with the other aggregates in planAgg
    // (InfluxQL allows `count(distinct(v)), mean(v)`)
    val stmt = stmt0.copy(fields = stmt0.fields.map {
      case QlField(c: QlCall, a)
          if c.fn == "count" && c.inner.exists(_.fn == "distinct") =>
        QlField(QlCall("count_distinct", c.field, None), a)
      case f => f
    })
    // HOLT_WINTERS(agg(f), N, S): its own nested plan — the inner
    // aggregate builds the time grid, the fixed-coefficient
    // Holt-Winters recursion runs per series, and the OUTPUT is the N
    // future points (InfluxQL's contract, unlike the transforms which
    // re-emit the grid)
    stmt.fields match {
      case Seq(QlField(c: QlCall, a)) if c.fn == "holt_winters" =>
        return planHoltWinters(stmt, c, a, catalog, nowNs)
      case _ =>
        require(!stmt.fields.exists {
          case QlField(c: QlCall, _) => c.fn == "holt_winters"
          case _ => false
        }, "holt_winters() stands alone in a SELECT (InfluxQL)")
    }
    // nested transform-of-aggregate — `derivative(mean(v), 1h) …
    // GROUP BY time(1h)` (the Grafana-default shape) — desugars to
    // the explicit subquery plan: inner = the aggregates on the time
    // grid (carrying WHERE/GROUP BY/fill), outer = the transforms
    // over the inner's derived fields (carrying ORDER/LIMIT/SLIMIT)
    val nested = stmt.fields.collect {
      case QlField(c: QlCall, a) if c.inner.isDefined => (c, a)
    }
    if (nested.nonEmpty) {
      require(nested.size == stmt.fields.size,
        "cannot mix nested transform-of-aggregate calls with other " +
          "projections (InfluxQL)")
      nested.foreach { case (c, _) =>
        require(TransformFns(c.fn),
          s"the outer function of a nested call must be a " +
            s"transformation (difference/derivative/…), got ${c.fn}()")
        val in = c.inner.get
        require(!TransformFns(in.fn) && !SelectorFns(in.fn),
          s"the inner function of a nested call must be an " +
            s"aggregate, got ${in.fn}()")
      }
      require(stmt.timeBucketNs.isDefined,
        "a nested transform-of-aggregate needs GROUP BY time(...) — " +
          "the aggregate defines the grid the transform walks")
      def innerName(in: QlCall) = s"${in.fn}_${in.field}"
      val innerFields = nested.map { case (c, _) =>
        val in = c.inner.get
        QlField(in.copy(inner = None), Some(innerName(in)))
      }.distinct
      // inner fill defaults to NONE (not the usual fill(null)): the
      // transform walks ACTUAL buckets with real dt gaps — InfluxDB's
      // derivative skips empty intervals. An explicit fill() is honored.
      val innerSel = stmt.copy(fields = innerFields, into = None,
        fill = Some(stmt.fill.getOrElse(FillNone)),
        orderByTime = false, orderDesc = false,
        limit = None, offset = None, slimit = None, soffset = None)
      val outerFields = nested.map { case (c, a) =>
        val in = c.inner.get
        QlField(QlCall(c.fn, innerName(in), c.arg, c.argNs),
          Some(a.getOrElse(s"${c.fn}_${in.field}")))
      }
      val outerSel = stmt.copy(fields = outerFields,
        source = QlSubquery(innerSel), where = Seq.empty,
        timeBucketNs = None, timeOffsetNs = 0L, fill = None, tz = None)
      return planPure(outerSel, catalog, nowNs)
    }
    stmt.source match {
      case QlSubquery(inner) =>
        // the inner result becomes a derived measurement: columns
        // that are catalog tags stay tags, everything else (minus
        // measurement/time) is a field — so `mean(sum_v) FROM
        // (SELECT sum(v) AS sum_v … GROUP BY time(1h), *)` composes
        // the way InfluxQL users expect
        require(inner.into.isEmpty,
          "INTO is not allowed inside a subquery")
        val innerDf = planPure(inner, catalog, nowNs)
        require(innerDf.columns.contains("time"),
          "the outer query needs the inner to carry a time column " +
            "(raw or time-bucketed inner SELECT)")
        val innerTags = innerDf.columns
          .filter(c => catalog.exists(_.tags.contains(c))).toSeq
        val innerFields = innerDf.columns
          .filterNot(c => c == "measurement" || c == "time" ||
            innerTags.contains(c)).toSeq
        planBody(stmt, nowNs, Seq(QlTable("subquery",
          innerDf.drop("measurement"), "time", innerTags, innerFields)))
      case _ => planBody(stmt, nowNs, resolve(stmt.source, catalog))
    }
  }

  /** HOLT_WINTERS(agg(f), N, S) — the N-step additive Holt-Winters
    * forecast over the inner aggregate's time grid (InfluxQL's
    * predictive function). Deviation pinned for determinism: InfluxDB
    * fits α/β/γ per query with Nelder-Mead (results drift across its
    * own releases); we run [[SeriesOps.holtWintersFixed]] with the
    * rational coefficients 1/4,1/4,1/4 in exact integer micro-units,
    * so the whole recursion is bit-stable on any cluster. Values
    * quantize at 1e-6 of the field unit on entry; forecasts are
    * f(h) = level + h·trend + seasonal[(i_last+h−1) mod S], the
    * standard additive multi-step form and exactly how the
    * aggregator's own one-step forecast column extrapolates.
    *
    * Scale shape: the inner agg is the usual grouped scan; the
    * recursion is one [[graft.functions]] -style Aggregator pass per
    * series (bounded by buckets-per-series); the future-point
    * synthesis is two small per-series aggregates + one explode of N
    * rows — no shuffle beyond the series key. */
  private def planHoltWinters(stmt: QlSelect, c: QlCall,
      alias: Option[String], catalog: Seq[QlTable],
      nowNs: Option[Long]): DataFrame = {
    val in = c.inner.get
    require(!TransformFns(in.fn) && !SelectorFns(in.fn) &&
      !StandaloneFns(in.fn),
      s"holt_winters' inner function must be an aggregate, " +
        s"got ${in.fn}()")
    require(stmt.timeBucketNs.isDefined,
      "holt_winters needs GROUP BY time(...) — the aggregate grid " +
        "is the series the forecast extends")
    require(stmt.tz.isEmpty,
      "holt_winters over tz() wall-clock grids is not supported")
    val n = c.arg.get.toInt
    val season = c.arg2.get.toInt
    val bucketNs = stmt.timeBucketNs.get
    val name = alias.getOrElse(s"holt_winters_${in.field}")
    // inner grid: actual buckets only (fill(none) default, like the
    // transform desugar — the recursion walks rows, and InfluxDB's
    // own HW skips empty intervals unless fill() says otherwise)
    val innerSel = stmt.copy(
      fields = Seq(QlField(in.copy(inner = None), Some("__hw_in"))),
      into = None, fill = Some(stmt.fill.getOrElse(FillNone)),
      orderByTime = false, orderDesc = false,
      limit = None, offset = None, slimit = None, soffset = None)
    val grid = planPure(innerSel, catalog, nowNs)
    val seriesKeys = grid.columns.filter(cn =>
      cn == "measurement" || catalog.exists(_.tags.contains(cn))).toSeq
    // 1e-6 quantization into the aggregator's integer micro-units
    val quant = grid.where(col("__hw_in").isNotNull)
      .withColumn("__vu",
        round(col("__hw_in") * 1000000, 0).cast("long"))
    val hw = SeriesOps.holtWintersFixed(quant, seriesKeys, "time",
      "__vu", aNum = 1L, aDen = 4L, bNum = 1L, bDen = 4L,
      gNum = 1L, gDen = 4L, season = season)
    val w = Window.partitionBy(seriesKeys.map(col): _*)
      .orderBy(col("time").asc)
    val rn = hw.withColumn("__rn", row_number().over(w))
    // aggregator slot convention: row i (1-based) updates slot
    // (i−1) mod S for i ≥ 2; row 1 seeds level only
    val latestSeas = rn.filter(col("__rn") >= 2)
      .withColumn("__slot", ((col("__rn") - 1) % season).cast("long"))
      .groupBy((seriesKeys :+ "__slot").map(col): _*)
      .agg(max_by(col("seasonal"), col("__rn")).as("__sv"))
      .groupBy(seriesKeys.map(col): _*)
      .agg(map_from_entries(collect_list(
        struct(col("__slot"), col("__sv")))).as("__seas"))
    val finals = rn.groupBy(seriesKeys.map(col): _*)
      .agg(max(col("__rn")).cast("long").as("__ilast"),
        max(col("time")).as("__blast"),
        max_by(col("level"), col("__rn")).as("__l"),
        max_by(col("trend"), col("__rn")).as("__t"))
    val joined =
      if (seriesKeys.isEmpty) finals.crossJoin(latestSeas)
      else finals.join(latestSeas, seriesKeys, "left")
    joined
      .withColumn("__h",
        explode(sequence(lit(1L), lit(n.toLong))))
      .select(seriesKeys.map(col) ++ Seq(
        (col("__blast") + col("__h") * lit(bucketNs)).as("time"),
        ((col("__l") + col("__h") * col("__t") +
          coalesce(element_at(col("__seas"),
            pmod(col("__ilast") + col("__h") - 1, lit(season.toLong))),
            lit(0L))).cast("double") / lit(1000000.0)).as(name)): _*)
  }

  /** Resolve a time literal to epoch ns; `now() ± d` needs the
    * caller's clock and refuses without one. */
  private def nsOf(l: QlLit, nowNs: Option[Long]): Long = l match {
    case QlDur(v) => v
    // a bare integer in a time comparison is epoch ns (InfluxQL)
    case QlNum(_, t) if !t.contains('.') => t.toLong
    case QlNowOffset(d) => nowNs.map(_ + d).getOrElse(
      throw new QlParseException(
        "query uses now() — resolve it by passing nowNs (registry " +
          "entries pin a fixed clock; the /query executor wires the " +
          "wall clock)"))
    case l2 => throw new QlParseException(s"bad time literal $l2")
  }

  private def planBody(stmt: QlSelect, nowNs: Option[Long],
      matched: Seq[QlTable]): DataFrame = {
    // a regex FROM may match measurements with DIFFERING field/tag
    // sets — InfluxQL unions them NULL-filled (each series only
    // carries its own columns). The unified schema is the ordered
    // union; a column must have ONE type across the measurements
    // carrying it (InfluxDB's own cross-measurement type conflict
    // refuses too).
    val tags = matched.flatMap(_.tags).distinct
    val fields = matched.flatMap(_.fields).distinct
    // a name that is a TAG in one matched measurement and a FIELD in
    // another would land in both seqs, get selected twice, and every
    // later col() reference would die with an ambiguous-reference
    // AnalysisException deep in the plan — refuse at the planner with
    // the column named (InfluxDB's dual-role `key` / `key_1` renaming
    // has no analog in one unified frame)
    val dualRole = tags.intersect(fields)
    require(dualRole.isEmpty,
      s"column${if (dualRole.size > 1) "s" else ""} " +
        s"${dualRole.mkString("'", "', '", "'")} " +
        s"appear${if (dualRole.size > 1) "" else "s"} as a tag in one " +
        s"measurement matched by ${stmt.source} and as a field in " +
        "another — a dual-role name cannot be unioned into one frame; " +
        "query the measurements separately")
    val colType: Map[String, org.apache.spark.sql.types.DataType] =
      (tags ++ fields).map { c =>
        val types = matched.filter(t =>
            t.tags.contains(c) || t.fields.contains(c))
          .map(t => t.df.schema(c).dataType).distinct
        require(types.size == 1,
          s"column '$c' has conflicting types across measurements " +
            s"matched by ${stmt.source}: ${types.mkString(", ")}")
        c -> types.head
      }.toMap

    // WHERE applies per table on the RAW frame when it is ONE
    // conjunction (time predicates need the physical column / its
    // `_raw` companion to stay pushable — see timeCond), THEN the
    // frame normalizes to measurement, time (Long ns), tags...,
    // fields... A DISJUNCTION (OR alternatives, parsed to DNF)
    // filters the normalized frame instead: its time comparisons run
    // on the derived Long column, trading scan pushdown for the OR —
    // exactly what any engine's planner does with a disjunctive
    // range.
    val (timeConds, otherConds) = stmt.where match {
      case Seq(single) => single.partition(
        _.operand.equalsIgnoreCase("time"))
      case _ => (Seq.empty[QlCond], Seq.empty[QlCond])
    }
    val df0 = matched.map { t =>
      val filtered = timeConds.foldLeft(t.df) { (d, c) =>
        d.filter(timeCond(d, t.timeCol, c.op, nsOf(c.lit, nowNs)))
      }
      val own = (t.tags ++ t.fields).toSet
      val normalized = filtered.select(lit(t.name).as("measurement")
        +: col(t.timeCol).cast("long").as("time")
        +: (tags ++ fields).map(c =>
          if (own(c)) col(c) else lit(null).cast(colType(c)).as(c)): _*)
      otherConds.foldLeft(normalized)((d, c) =>
        d.filter(cond(c, tags, fields)))
    }.reduce(_ unionAll _)
    val df =
      if (stmt.where.size <= 1) df0
      else df0.filter(stmt.where
        .map(_.map(c => condAny(c, tags, fields, nowNs)).reduce(_ && _))
        .reduce(_ || _))

    val calls = stmt.fields.collect { case QlField(c: QlCall, _) => c }
    val nTransforms = calls.count(c => TransformFns(c.fn))
    val nSelectors = calls.count(c => SelectorFns(c.fn))
    val nStandalone = calls.count(c => StandaloneFns(c.fn))
    require(nTransforms == 0 || nTransforms == calls.size,
      "cannot mix transformation functions (difference/derivative/…) " +
        "with aggregates in one SELECT (InfluxQL)")
    require(nSelectors == 0 || calls.size == 1,
      "TOP/BOTTOM stands alone in a SELECT (InfluxQL)")
    require(nStandalone == 0 ||
      (calls.size == 1 && stmt.fields.size == 1),
      "DISTINCT/SAMPLE/INTEGRAL stands alone in a SELECT")
    val (out, seriesKeys) =
      if (nSelectors > 0) planSelector(stmt, df, tags, fields)
      else if (nStandalone > 0) calls.head.fn match {
        case "distinct" => planDistinct(stmt, df, tags, fields)
        case "sample"   => planSample(stmt, df, tags, fields)
        case _          => planIntegral(stmt, df, tags, fields)
      }
      else if (nTransforms > 0) planTransform(stmt, df, tags, fields)
      else if (stmt.hasAggregates) planAgg(stmt, nowNs, df, tags, fields)
      else planRaw(stmt, df, tags, fields)

    var res = out
    (stmt.limit, stmt.offset) match {
      case (None, None) => ()
      case (lim, off) =>
        require(lim.isDefined, "OFFSET requires LIMIT")
        // per-series point pagination (InfluxQL LIMIT semantics), via a
        // series-partitioned row_number — bounded by points-per-series
        val dataCols = res.columns.filterNot(seriesKeys.contains)
          .filterNot(_ == "time")
        val ord = (if (stmt.orderDesc) col("time").desc else col("time").asc) +:
          dataCols.toSeq.map(col(_).asc)
        val w = Window.partitionBy(seriesKeys.map(col): _*).orderBy(ord: _*)
        val lo = off.getOrElse(0)
        res = res.withColumn("__rn", row_number().over(w))
          .filter(col("__rn") > lo && col("__rn") <= lo + lim.get)
          .drop("__rn")
    }
    stmt.slimit.foreach { sl =>
      res = SeriesOps.seriesLimit(res, seriesKeys, sl,
        stmt.soffset.getOrElse(0))
    }
    require(stmt.soffset.isEmpty || stmt.slimit.isDefined,
      "SOFFSET requires SLIMIT")
    res
  }

  /** One WARN per measurement skipped by a catalog walk — transient
    * mid-rewrite skips self-heal on the next walk, but a persistent
    * one (corrupt footer, permissions, fully-expired manifest) must
    * leave an operator-visible trail. */
  private def warnSkip(path: String, e: Throwable): Unit =
    System.err.println(s"[graft] WARNING: catalog walk skipped " +
      s"$path (${e.getClass.getSimpleName}: " +
      s"${Option(e.getMessage).getOrElse("").take(200)})")

  /** Build the SELECT catalog from a storage root: every measurement
    * the FS catalog discovers becomes a [[QlTable]] — tags are its
    * string columns (InfluxDB's tags-are-strings mapping, the same
    * split SHOW TAG/FIELD KEYS serves), fields everything else but
    * the time column. Chunked sinks read their live chunks (the
    * `__bucket` partition column stays out of the query surface);
    * reads are LAZY — construction costs one names-only catalog walk
    * and one footer-schema read per measurement, no data scan. A
    * measurement name appearing under several RPs resolves to the
    * DEFAULT RP's instance (InfluxDB's unqualified-FROM rule). */
  def storageCatalog(spark: org.apache.spark.sql.SparkSession,
      root: String, timeCol: String = "ts"): Seq[QlTable] = {
    val cat = new graft.catalog.Catalog(spark)
    val hier = cat.isHierarchical(root)
    val all = for {
      d <- cat.getSchema(root, withFields = false) // names only
      rp <- d.rps.sortBy(!_.isDefault) // default RP wins name clashes
      m <- rp.measurements
      t <- {
        val path =
          if (hier) s"$root/${d.name}/${rp.name}/${m.name}.parquet"
          else s"$root/${m.name}.parquet"
        try Some(storedTable(spark, path, m.name,
          if (hier) d.name else "", timeCol))
        catch {
          // a measurement MID-CREATION or MID-REWRITE is not yet
          // discoverable THIS walk — skip it; the next walk (TTL or
          // write-through invalidation) picks it up. The race is
          // structural for sinks written outside the chunk manifest
          // (a flat parquet dir rewritten in place, the `-action
          // stream` sink): Spark's schema inference launches a
          // distributed footer job over a file it just listed, so the
          // dir can be footerless (UNABLE_TO_INFER_SCHEMA) or the
          // listed file already replaced (task-level FileNotFound).
          // Observed live by the DaemonSoakSpec reader racing the CQ's
          // first refresh; a skipped walk beats a served 500 (README
          // Known limits #4).
          // Every skip is WARN-logged (path + exception class): a
          // PERSISTENTLY broken measurement (corrupt footer on a
          // crashed non-manifested sink, permissions) must be
          // operator-distinguishable from a transient mid-rewrite
          // skip instead of silently vanishing from SHOW MEASUREMENTS
          // walk after walk (r20 verdict residual #1).
          case e: org.apache.spark.sql.AnalysisException
              if e.getMessage.contains("UNABLE_TO_INFER_SCHEMA") =>
            warnSkip(path, e); None
          // a fully-expired snapshot-managed measurement (live=[] and
          // grace residue already swept) has no schema to serve —
          // skip THAT measurement; before this catch the
          // IllegalStateException failed the ENTIRE catalog walk
          // (every /query against the root 500'd until a new write
          // landed — r20 adviser, high)
          case e: IllegalStateException
              if e.getMessage != null &&
                e.getMessage.contains("no live chunks") =>
            warnSkip(path, e); None
          case e: Throwable if {
            var c: Throwable = e; var hit = false
            while (c != null && !hit) {
              hit = c.isInstanceOf[java.io.FileNotFoundException]
              c = if (c.getCause ne c) c.getCause else null
            }
            hit
          } => warnSkip(path, e); None
        }
      }
    } yield t
    all.distinctBy(t => (t.db, t.name))
  }

  /** One stored measurement as a [[QlTable]] — the single constructor
    * behind [[storageCatalog]] and a served catalog's per-entry
    * refresh. Read through [[graft.operators.ChunkManifest.readStored]]:
    * the statement executes against a LISTING SNAPSHOT of live chunk
    * generations, so a concurrent upsert can never yank a file from
    * under the plan (the r19 soak's transient FILE_NOT_EXIST).
    * @param schema the data schema a writer just resolved: the
    *   manifest-pinned read takes it as given instead of running a
    *   footer-inference job. */
  private[graft] def storedTable(spark: org.apache.spark.sql.SparkSession,
      path: String, name: String, db: String, timeCol: String,
      schema: Option[org.apache.spark.sql.types.StructType] = None)
      : QlTable = {
    graft.sources.Tables.ensureNsConf(spark)
    val df = graft.sources.Tables.withNsTime(
      graft.operators.ChunkManifest.readStored(spark, path, schema), timeCol)
    val tags = df.schema.fields.toSeq
      .filter(f =>
        f.dataType == org.apache.spark.sql.types.StringType &&
          f.name != "measurement")
      .map(_.name)
    val fields = df.columns.toSeq
      .filterNot(c => tags.contains(c) || c == timeCol || c == "measurement")
    QlTable(name, df, timeCol, tags, fields, db = db, path = path)
  }

  /** The standard HTTP /query executor: SHOW statements discover the
    * catalog at `root`, SELECTs plan against the measurement catalog —
    * the one-liner that makes [[graft.api.StatusServer]] serve the
    * InfluxDB 1.x query API the reference client consumes
    * (client.go:57-70). */
  def executor(spark: org.apache.spark.sql.SparkSession, root: String,
      // by-name: a served deployment passes a LIVE view (re-evaluated
      // per statement) so measurements created after server start are
      // queryable; plain Seq literals work unchanged
      catalog: => Seq[QlTable],
      nowNs: () => Long = () => System.currentTimeMillis() * 1000000L,
      // /query and /write sit OUTSIDE the ops-UI session gate
      // (InfluxDB 1.x ships auth-disabled and the reference client
      // authenticates per-request only when configured), so the
      // DESTRUCTIVE statement families — DELETE, DROP, CREATE/DROP
      // CONTINUOUS QUERY, and the schema DDL — are opt-in: an
      // unauthenticated GET must not be able to delete data by
      // default. The Agent's replication plane and tests that
      // exercise the write path pass true explicitly.
      allowMutations: Boolean = false,
      // invoked AFTER a mutating statement executes — the hook a
      // co-served WriteService hangs its schema-cache invalidation on
      // (DDL here changes the same storage tree its cached walk
      // describes; without the hook a stale POSITIVE — /write into a
      // database dropped over /query — resolves against dead paths)
      onMutation: () => Unit = () => ())
      : String => DataFrame = {
    val scoped = executorScoped(spark, root, catalog, nowNs,
      allowMutations, onMutation)
    text => scoped(text, None)
  }

  /** [[executor]] with the /query `db=` request parameter as the
    * database context (InfluxDB 1.x scoping): SELECT resolves only
    * measurements of the named database (unscoped `db=""` tables stay
    * visible — fixture catalogs), SHOW discovery restricts to it, and
    * an unknown name surfaces as the planner's own resolution error.
    * No db → the whole-root behavior. */
  def executorScoped(spark: org.apache.spark.sql.SparkSession,
      root: String, catalog: => Seq[QlTable],
      nowNs: () => Long = () => System.currentTimeMillis() * 1000000L,
      allowMutations: Boolean = false,
      onMutation: () => Unit = () => ())
      : (String, Option[String]) => DataFrame =
    (text, dbScope) => {
      def scopedCatalog: Seq[QlTable] = dbScope match {
        case Some(d) => catalog.filter(t => t.db.isEmpty || t.db == d)
        case None    => catalog
      }
      val parsed = InfluxQl.parseStatement(text)
      val mutating = parsed match {
        case _: QlDelete | _: QlDropMeasurement | _: QlCreateCq |
          _: QlDropCq | _: QlCreateDatabase | _: QlDropDatabase |
          _: QlCreateRp | _: QlAlterRp => true
        case _ => false
      }
      val out = parsed match {
      case m @ (_: QlDelete | _: QlDropMeasurement | _: QlCreateCq |
        _: QlDropCq | _: QlCreateDatabase | _: QlDropDatabase |
        _: QlCreateRp | _: QlAlterRp) if !allowMutations =>
        throw new IllegalArgumentException(
          s"mutating statement refused (allowMutations=false): " +
            m.getClass.getSimpleName)
      case sh: QlShow    => planShow(sh, spark, root, dbScope)
      case sel: QlSelect =>
        // InfluxDB 1.x returns points time-ordered per series, and the
        // HTTP layer truncates at queryMaxRows — so the materialized
        // frame MUST be ordered here (plan() leaves ordering to the
        // consumer: registry compares are order-insensitive and a
        // global Sort would tax every planned query). Series keys
        // lead so truncation cuts whole series tails, time honors
        // ORDER BY time [DESC].
        val cat = scopedCatalog
        val out = plan(sel, cat, Some(nowNs()))
        if (out.columns.contains("time")) {
          val tagCols = out.columns.filter(c =>
            c == "measurement" || cat.exists(_.tags.contains(c)))
          val timeOrd =
            if (sel.orderDesc) col("time").desc else col("time").asc
          out.orderBy(tagCols.map(col(_).asc) :+ timeOrd: _*)
        } else out
      case del: QlDelete => planDelete(del, spark, root,
        nowNs = Some(nowNs()))
      case drop: QlDropMeasurement =>
        import spark.implicits._
        Seq((drop.name, planDrop(drop, spark, root)))
          .toDF("measurement", "dropped")
      case cq: QlCreateCq =>
        // register + first refresh against the served root (src and
        // rollup dst share it — the single-root /query deployment)
        new CqService(spark, root, root)
          .register(cq2text(cq))
      case dropCq: QlDropCq =>
        import spark.implicits._
        Seq((dropCq.name,
          new CqService(spark, root, root).drop(dropCq.name)))
          .toDF("name", "dropped")
      // ---- schema DDL over /query: the replicaschema statements the
      // reference POSTs verbatim (client.go:90,112,137) land on the
      // same FS catalog SchemaReplicator writes. InfluxDB's DDL
      // responses are empty result sets; we return one-row status
      // frames (the /query JSON encoder renders them as a series).
      case cd: QlCreateDatabase =>
        import spark.implicits._
        val repl = ddl(spark)
        val rp = graft.model.RetentionPolicy(
          cd.rp.name.getOrElse("autogen"),
          cd.rp.durationNs.getOrElse(0L),
          cd.rp.shardDurationNs.getOrElse(0L),
          cd.rp.replication.getOrElse(1), isDefault = true)
        val created = repl.createDatabase(root, cd.name, rp)
        Seq((cd.name, created)).toDF("name", "created")
      case dd: QlDropDatabase =>
        import spark.implicits._
        val existed = ddl(spark).dropDatabase(root, dd.name)
        require(existed, s"database not found: ${dd.name}")
        Seq((dd.name, true)).toDF("name", "dropped")
      case cr: QlCreateRp =>
        import spark.implicits._
        ddl(spark).createRp(root, cr.db, graft.model.RetentionPolicy(
          cr.name, cr.spec.durationNs.get,
          cr.spec.shardDurationNs.getOrElse(0L),
          cr.spec.replication.get, isDefault = cr.spec.default))
        Seq((cr.db, cr.name, true)).toDF("db", "name", "created")
      case ar: QlAlterRp =>
        import spark.implicits._
        val next = ddl(spark).alterRp(root, ar.db, ar.name,
          ar.spec.durationNs, ar.spec.replication,
          ar.spec.shardDurationNs, ar.spec.default)
        Seq((ar.db, ar.name, next.isDefault))
          .toDF("db", "name", "is_default")
      }
      // the DDL/DELETE/CQ cases above execute EAGERLY (the returned
      // frame is a small status row), so the storage tree has already
      // changed by the time the hook fires
      if (mutating) onMutation()
      out
    }

  private def ddl(spark: org.apache.spark.sql.SparkSession) =
    new graft.operators.SchemaReplicator(
      spark.sessionState.newHadoopConf())

  /** A QlCreateCq arriving over /query was parsed FROM text; the
    * service persists text, so reconstruct the canonical form. */
  private def cq2text(cq: QlCreateCq): String = {
    val in = cq.inner
    val aggs = in.fields.map {
      case QlField(c: QlCall, alias) =>
        s"""${c.fn}("${c.field}")""" +
          alias.map(a => s""" as "$a"""").getOrElse("")
      case f => throw new QlParseException(s"bad CQ projection $f")
    }.mkString(", ")
    val tags = in.groupTags.map(t => s""", "$t"""").mkString
    s"""create continuous query "${cq.name}"""" +
      cq.db.map(d => s""" on "$d"""").getOrElse("") +
      s""" begin select $aggs into "${in.into.get}"""" +
      s""" from "${sourceName(in.source)}"""" +
      s""" group by time(${in.timeBucketNs.get}ns)$tags end"""
  }

  private def sourceName(src: QlSource): String = src match {
    case QlMeasurement(p) => p.last
    case s => throw new QlParseException(
      s"CQ FROM must be a bare measurement, got $s")
  }

  /** Measurement name → parquet path under a root, probing the flat
    * layout (root/m.parquet) before assuming db/rp hierarchy. */
  private def measurementPath(spark: org.apache.spark.sql.SparkSession,
      root: String, db: String, rp: String, m: String): String = {
    val conf = spark.sessionState.newHadoopConf()
    val flatPath = s"$root/$m.parquet"
    val hp = new org.apache.hadoop.fs.Path(flatPath)
    if (hp.getFileSystem(conf).exists(hp)) flatPath
    else s"$root/$db/$rp/$m.parquet"
  }

  /** DELETE FROM "m" [WHERE tag='x' AND time …]: the point-expiry
    * statement. Two physical routes, picked by the predicate shape:
    *
    *  - PURE upper-bounded time (the retention idiom, and the bare
    *    form = delete everything) → the chunk-DROPPING engine
    *    ([[graft.operators.CopyJob.enforceRetention]]): whole expired
    *    chunks deleted at the file-listing level, only the straddling
    *    chunk rewritten;
    *  - tag/field predicates and/or lower time bounds → the
    *    chunk-REWRITE engine ([[graft.operators.CopyJob.deleteWhere]]):
    *    only chunks intersecting the time range are read, each
    *    rewritten keeping non-matching rows (crash-safe swap), left
    *    physically untouched when nothing matches — so re-running the
    *    same DELETE is a metadata no-op and non-matching series
    *    survive byte-identical.
    *
    * Returns the post-delete read-back frame. The measurement must be
    * in the engine's chunk-partitioned sink layout (a raw unchunked
    * parquet has no spans to drop). */
  def planDelete(stmt: QlDelete,
      spark: org.apache.spark.sql.SparkSession, root: String,
      timeCol: String = "ts", chunkNs: Long = 86400000000000L,
      nowNs: Option[Long] = None): DataFrame = {
    require(stmt.where.size <= 1,
      "DELETE WHERE supports a single conjunction (no OR)")
    val conds = stmt.where.headOption.getOrElse(Seq.empty)
    val (timeConds, colConds) =
      conds.partition(_.operand.equalsIgnoreCase("time"))
    var lo = Long.MinValue
    var hi = Long.MaxValue
    timeConds.foreach { c =>
      val ns = nsOf(c.lit, nowNs)
      c.op match {
        case "<"  => hi = math.min(hi, ns)
        case "<=" =>
          require(ns < Long.MaxValue, "time <= Long.MaxValue")
          hi = math.min(hi, ns + 1)
        case ">"  =>
          require(ns < Long.MaxValue, "time > Long.MaxValue")
          lo = math.max(lo, ns + 1)
        case ">=" => lo = math.max(lo, ns)
        case "="  =>
          require(ns < Long.MaxValue, "time = Long.MaxValue")
          lo = math.max(lo, ns); hi = math.min(hi, ns + 1)
        case op => throw new QlParseException(
          s"operator $op not valid for DELETE time")
      }
    }
    val schema = new graft.catalog.Catalog(spark).getSchema(root)
    val hit = (for {
      d <- schema; rp <- d.rps; m <- rp.measurements
      if m.name == stmt.measurement
    } yield (d.name, rp.name, m)).headOption
    require(hit.isDefined, s"no measurement '${stmt.measurement}'")
    val (db, rp, meta) = hit.get
    val path = measurementPath(spark, root, db, rp, stmt.measurement)
    val job = new graft.operators.CopyJob(spark)
    val cfg =
      graft.operators.CopyJob.Config(0L, 0L, chunkNs, timeCol = timeCol)
    if (colConds.isEmpty && lo == Long.MinValue)
      job.enforceRetention(path, hi, cfg)
    else {
      val cond = colConds.map { c =>
        require(meta.fields.contains(c.operand),
          s"unknown DELETE column '${c.operand}' on " +
            s"'${stmt.measurement}' (has: " +
            s"${meta.fields.keys.toSeq.sorted.mkString(", ")})")
        def cmp(l: Column, r: Column): Column = c.op match {
          case "="  => l === r
          case "!=" => l =!= r
          case "<"  => l < r
          case "<=" => l <= r
          case ">"  => l > r
          case ">=" => l >= r
          case op => throw new QlParseException(
            s"operator $op not valid for DELETE ${c.operand}")
        }
        c.lit match {
          case QlStr(v) => cmp(col(c.operand), lit(v))
          case QlNum(v, _) => cmp(col(c.operand), lit(v))
          case QlRe(p) if c.op == "=~" => col(c.operand).rlike(p)
          case QlRe(p) if c.op == "!~" => !col(c.operand).rlike(p)
          case l => throw new QlParseException(
            s"bad DELETE literal $l for ${c.operand}")
        }
      }.reduce(_ && _)
      job.deleteWhere(path, cond, lo, hi, cfg)
    }
    job.readCopied(path)
  }

  /** DROP MEASUREMENT "m": remove the measurement's storage
    * (recursive path delete). Returns true iff something existed. */
  def planDrop(stmt: QlDropMeasurement,
      spark: org.apache.spark.sql.SparkSession, root: String): Boolean = {
    val schema = new graft.catalog.Catalog(spark).getSchema(root)
    val hit = (for {
      d <- schema; rp <- d.rps; m <- rp.measurements
      if m.name == stmt.name
    } yield (d.name, rp.name)).headOption
    hit.exists { case (db, rp) =>
      val p = new org.apache.hadoop.fs.Path(
        measurementPath(spark, root, db, rp, stmt.name))
      p.getFileSystem(spark.sessionState.newHadoopConf()).delete(p, true)
    }
  }

  /** CREATE CONTINUOUS QUERY … BEGIN SELECT <aggs>(f) INTO "dst" FROM
    * "src" GROUP BY time(b), tags END — the InfluxDB CQ DDL routed
    * onto [[graft.operators.ContinuousQuery]]'s INCREMENTAL refresh
    * (watermark + RESAMPLE-lookback machinery; re-running recomputes
    * only the lookback bucket, converging to the one-shot full
    * aggregate — ContinuousQuerySpec pins late-data behavior). The
    * rollup stores count/sum/min/max; the CQ's aggregate list selects
    * which surface, so it must be a subset of those over ONE field.
    * GROUP BY tags are explicit (the rollup schema is declared, not
    * inferred — `*` refuses). Returns the post-refresh rollup with
    * the requested columns. */
  def planCreateCq(stmt: QlCreateCq,
      spark: org.apache.spark.sql.SparkSession, srcRoot: String,
      dstRoot: String, resampleNs: Long = 0L,
      // backfill rewind for the /write plane — see
      // ContinuousQuery.refresh's rewindToNs
      rewindToNs: Option[Long] = None): DataFrame = {
    val inner = stmt.inner
    val allowed = Map("count" -> "n_points", "sum" -> "sum_value",
      "min" -> "min_value", "max" -> "max_value")
    val calls = inner.fields.map {
      case QlField(c: QlCall, alias) =>
        require(allowed.contains(c.fn),
          s"a continuous query supports ${allowed.keys.mkString("/")}" +
            s", got ${c.fn}()")
        (c, alias.getOrElse(s"${c.fn}_${c.field}"))
      case p => throw new QlParseException(s"bad CQ projection $p")
    }
    require(calls.map(_._1.field).distinct.size == 1,
      "a continuous query aggregates ONE field")
    require(!inner.groupStar,
      "list CQ GROUP BY tags explicitly — the rollup schema is " +
        "declared, not inferred")
    require(inner.where.isEmpty,
      "a CQ owns its refresh window (watermark + lookback); WHERE is " +
        "not supported")
    require(inner.timeOffsetNs == 0L,
      "CQ rollups bucket on unshifted boundaries — time(interval, " +
        "offset) is not supported in a CQ")
    val src = inner.source match {
      case QlMeasurement(p) => p.last
      case s => throw new QlParseException(s"CQ FROM must be a bare " +
        s"measurement, got $s")
    }
    val schema = new graft.catalog.Catalog(spark).getSchema(srcRoot)
    val hit = (for {
      d <- schema; rp <- d.rps; m <- rp.measurements
      if m.name == src
    } yield (d.name, rp.name)).headOption
    require(hit.isDefined, s"no measurement '$src'")
    val srcPath = measurementPath(spark, srcRoot, hit.get._1,
      hit.get._2, src)
    val dstName = inner.into.get
    val dstPath = s"$dstRoot/$dstName.parquet"
    val field = calls.head._1.field
    val cq = new graft.operators.ContinuousQuery(spark)
    cq.refresh(srcPath, dstPath, inner.groupTags, field,
      bucketNs = inner.timeBucketNs.get, resampleNs = resampleNs,
      rewindToNs = rewindToNs)
    val roll = cq.readRollup(dstPath)
    roll.select(lit(dstName).as("measurement")
      +: inner.groupTags.map(col)
      ++: (col("bucket_ns").as("time")
      +: calls.map { case (c, name) => col(allowed(c.fn)).as(name) }): _*)
  }

  /** Plan a SHOW command against a storage root through
    * [[graft.catalog.Catalog]] — the schema-discovery half of the
    * reference's query surface (client.go:63,188,239,273). Flat roots
    * surface as default/autogen exactly like `catalog_schema`.
    *
    * Field vs tag keys: the engine's storage model types every
    * column; SHOW FIELD KEYS reports the TYPED value columns
    * (float/integer/unsigned/boolean — InfluxDB field types), SHOW
    * TAG KEYS the string columns (InfluxDB tags are always strings).
    * The canonical time column appears among the integer fields, the
    * same §1.2 mapping `catalog_schema` pins. */
  def planShow(stmt: QlShow,
      spark: org.apache.spark.sql.SparkSession, root: String,
      // the /query `db=` request scope: discovery restricted to one
      // database (SHOW DATABASES and the CQ catalog stay root-wide,
      // matching InfluxDB)
      dbScope: Option[String] = None)
      : DataFrame = {
    import spark.implicits._
    val cat = new graft.catalog.Catalog(spark)
    lazy val fullSchema = cat.getSchema(root)
    lazy val schema = dbScope match {
      case Some(d) => fullSchema.filter(_.name == d)
      case None    => fullSchema
    }
    stmt match {
      case ShowDatabases =>
        fullSchema.map(_.name).toDF("name")
      case ShowContinuousQueries =>
        // the registered CQ catalog (root/_cq.json via CqService);
        // statement text included — it IS the registration
        new CqService(spark, root, root).list
          .toDF("name", "db", "query")
      case ShowRetentionPolicies(db) =>
        val dbs = db.map(d => schema.filter(_.name == d))
          .getOrElse(schema)
        require(db.isEmpty || dbs.nonEmpty, s"no database ${db.get}")
        dbs.flatMap(d => d.rps.map(rp => (d.name, rp.name,
            rp.durationNs, rp.shardGroupDurationNs,
            rp.nReplicas.toLong, rp.isDefault)))
          .toDF("db", "name", "duration_ns", "shard_duration_ns",
            "replica_n", "is_default")
      case ShowMeasurements(exact, regex) =>
        val all = for {
          d <- schema; rp <- d.rps; m <- rp.measurements
        } yield m.name
        val kept = (exact, regex) match {
          case (Some(e), _) => all.filter(_ == e)
          case (_, Some(re)) =>
            val p = java.util.regex.Pattern.compile(re)
            all.filter(m => p.matcher(m).find())
          case _ => all
        }
        kept.distinct.toDF("name")
      case ShowSeries(from) =>
        // distinct series keys in the line format
        // `measurement,tag=value,...` (tag keys sorted; a NULL tag is
        // omitted from its series key, matching InfluxDB's absent-tag
        // model). One pruned scan + map-side-combined distinct per
        // measurement — output cardinality = series count, the same
        // bound InfluxDB's own inverted index carries.
        val cand = for {
          d <- schema; rp <- d.rps; m <- rp.measurements
          if from.forall(_ == m.name)
        } yield (d.name, rp.name, m)
        require(cand.nonEmpty, s"no measurement " +
          from.getOrElse("(any)"))
        cand.map { case (db, rp, m) =>
          val tagCols = m.fields.values.toSeq
            .filter(_.ftype.name == "string").map(_.name).sorted
          val df = graft.operators.ChunkManifest.readStored(spark,
            measurementPath(spark, root, db, rp, m.name))
          val segs = tagCols.map(t =>
            when(col(t).isNull, lit(""))
              .otherwise(concat(lit(s",$t="), col(t).cast("string"))))
          df.select(concat(lit(m.name) +: segs: _*).as("key"))
            .distinct()
        }.reduce(_ unionAll _)
      case ShowFieldKeys(from) => keys(spark, schema, from, tags = false)
      case ShowTagKeys(from)   => keys(spark, schema, from, tags = true)
      case ShowTagValues(from, key) =>
        // distinct values of one string tag across the measurements
        // carrying it — a pushed-down two-column scan per measurement
        // (column pruning leaves only the tag), map-side-combined
        // distinct
        val cand = for {
          d <- schema; rp <- d.rps; m <- rp.measurements
          if from.forall(_ == m.name)
          if m.fields.get(key).exists(_.ftype.name == "string")
        } yield (d.name, rp.name, m.name)
        require(cand.nonEmpty,
          s"no measurement carries string tag '$key'" +
            from.map(f => s" (FROM $f)").getOrElse(""))
        cand.map { case (db, rp, m) =>
          graft.operators.ChunkManifest.readStored(spark,
              measurementPath(spark, root, db, rp, m))
            .select(lit(m).as("measurement"), lit(key).as("key"),
              col(key).cast("string").as("value"))
            .where(col("value").isNotNull)
            .distinct()
        }.reduce(_ unionAll _)
    }
  }

  private def keys(spark: org.apache.spark.sql.SparkSession,
      schema: Seq[graft.model.DbSchema],
      from: Option[String], tags: Boolean): DataFrame = {
    import spark.implicits._
    require(from.isEmpty || schema.exists(d =>
        d.rps.exists(_.measurements.exists(m => from.contains(m.name)))),
      s"no measurement ${from.getOrElse("")}")
    val rows = for {
      d <- schema; rp <- d.rps; m <- rp.measurements
      if from.forall(_ == m.name)
      f <- m.fields.values.toSeq.sortBy(_.name)
      if (f.ftype.name == "string") == tags
    } yield (m.name, f.name, f.ftype.name)
    rows.toDF("measurement", "key", "key_type")
  }

  // ------------------------------------------------------------ resolve

  private def resolve(src: QlSource, catalog: Seq[QlTable]): Seq[QlTable] = {
    val matched = src match {
      case QlMeasurement(path) =>
        val byName = catalog.filter(_.name == path.last)
        // fully-qualified FROM "db"."rp"."m": the db qualifier scopes
        // resolution (unscoped db="" tables stay visible — fixture
        // catalogs); the rp part has no catalog-level identity here
        // (the default-RP instance already won name dedup)
        if (path.length >= 3)
          byName.filter(t => t.db.isEmpty || t.db == path.head)
        else byName
      case QlSourceList(names) =>
        names.foreach(n => require(catalog.exists(_.name == n),
          s"no measurement '$n' " +
            s"(catalog: ${catalog.map(_.name).mkString(", ")})"))
        catalog.filter(t => names.contains(t.name))
      case QlSourceRegex(p) =>
        val re = java.util.regex.Pattern.compile(p)
        catalog.filter(t => re.matcher(t.name).find())
    }
    require(matched.nonEmpty, s"no measurement matches $src " +
      s"(catalog: ${catalog.map(_.name).mkString(", ")})")
    matched
  }

  // -------------------------------------------------------------- where

  /** The [start, end) ns range the WHERE clause pins, when it pins
    * both sides: `>= s`/`> s` lower bounds (strict +1), `< e`/`<= e`
    * upper (inclusive +1); multiple bounds intersect. */
  private def timeBoundsNs(stmt: QlSelect, nowNs: Option[Long])
      : Option[(Long, Long)] = {
    def ns(c: QlCond): Long = nsOf(c.lit, nowNs)
    // bounds are only well-defined for a single conjunction — a
    // disjunction has no shared range, so range-grid fill falls back
    val tc = stmt.where match {
      case Seq(single) => single.filter(
        _.operand.equalsIgnoreCase("time"))
      case _ => Seq.empty[QlCond]
    }
    val los = tc.collect {
      case c if c.op == ">=" => ns(c)
      case c if c.op == ">"  => ns(c) + 1
    }
    val his = tc.collect {
      case c if c.op == "<"  => ns(c)
      case c if c.op == "<=" => ns(c) + 1
    }
    for (lo <- los.reduceOption(_ max _); hi <- his.reduceOption(_ min _))
      yield (lo, hi)
  }

  /** Pushdown-preserving `time <op> ns` on the RAW measurement frame:
    * routed through [[graft.sources.Tables]]' companion-aware
    * predicate builders, so a physical-timestamp parquet column gets
    * a literal timestamp comparison the scan can push (filtering the
    * derived Long-ns expression would read every row group). */
  private def timeCond(df: DataFrame, timeCol: String, op: String,
      ns: Long): Column = {
    import graft.sources.Tables
    op match {
      case ">"  => Tables.nsAfter(df, timeCol, ns)
      case ">=" => Tables.nsAtLeast(df, timeCol, ns)
      case "<"  => Tables.nsBefore(df, timeCol, ns)
      case "<=" =>
        require(ns < Long.MaxValue, "time <= Long.MaxValue")
        Tables.nsBefore(df, timeCol, ns + 1)
      case "="  =>
        require(ns < Long.MaxValue, "time = Long.MaxValue")
        Tables.nsAtLeast(df, timeCol, ns) &&
          Tables.nsBefore(df, timeCol, ns + 1)
      case "!=" =>
        require(ns < Long.MaxValue, "time != Long.MaxValue")
        !(Tables.nsAtLeast(df, timeCol, ns) &&
          Tables.nsBefore(df, timeCol, ns + 1))
      case op => throw new QlParseException(
        s"operator $op not valid for time")
    }
  }

  /** A conjunct usable ANYWHERE in a boolean tree over the
    * NORMALIZED frame — time compares on the derived Long `time`
    * column (no pushdown; used for OR alternatives where per-table
    * raw-column routing cannot apply). */
  private def condAny(c: QlCond, tags: Seq[String], fields: Seq[String],
      nowNs: Option[Long]): Column =
    if (c.operand.equalsIgnoreCase("time")) {
      val ns = nsOf(c.lit, nowNs)
      c.op match {
        case "="  => col("time") === lit(ns)
        case "!=" => col("time") =!= lit(ns)
        case "<"  => col("time") < lit(ns)
        case "<=" => col("time") <= lit(ns)
        case ">"  => col("time") > lit(ns)
        case ">=" => col("time") >= lit(ns)
        case op => throw new QlParseException(
          s"operator $op not valid for time")
      }
    } else cond(c, tags, fields)

  private def cond(c: QlCond, tags: Seq[String],
      fields: Seq[String]): Column = {
    def cmp(l: Column, r: Column): Column = c.op match {
      case "="  => l === r
      case "!=" => l =!= r
      case "<"  => l < r
      case "<=" => l <= r
      case ">"  => l > r
      case ">=" => l >= r
      case op   => throw new QlParseException(
        s"operator $op not valid for ${c.operand}")
    }
    if (c.operand.equalsIgnoreCase("time"))
      throw new QlParseException(
        "time predicates are planned per-table (timeCond)")
    else if (tags.contains(c.operand)) c.lit match {
      case QlStr(v) => cmp(col(c.operand), lit(v))
      case QlRe(p) if c.op == "=~" => col(c.operand).rlike(p)
      case QlRe(p) if c.op == "!~" => !col(c.operand).rlike(p)
      case l => throw new QlParseException(
        s"tag ${c.operand} compares against strings/regexes, got $l")
    }
    else if (fields.contains(c.operand)) c.lit match {
      case QlNum(v, _) => cmp(col(c.operand), lit(v))
      case l => throw new QlParseException(
        s"field ${c.operand} compares against numbers, got $l")
    }
    else throw new QlParseException(
      s"unknown WHERE operand '${c.operand}' (tags: ${tags.mkString(",")};" +
        s" fields: ${fields.mkString(",")})")
  }

  // ---------------------------------------------------------------- raw

  /** Integral numeric literals surface as LONG so integer expressions
    * (`count(v) * 10 + 1`) keep their integer type; anything
    * fractional is DOUBLE. */
  private def numLit(v: Double): Column =
    if (v == math.floor(v) && math.abs(v) < 9.007199254740992e15)
      lit(v.toLong)
    else lit(v)

  /** Per-row arithmetic over FIELDS (tags are strings — arithmetic on
    * one refuses loudly). Division is always floating-point — a
    * pinned deviation from InfluxQL 1.x's truncating int/int. */
  private def rawExpr(e: QlAExpr, fields: Seq[String]): Column = e match {
    case ANum(v)  => numLit(v)
    case ACol(n)  =>
      require(fields.contains(n),
        s"arithmetic needs a numeric field, got '$n'")
      col(n)
    case ACall(c) => throw new QlParseException(
      s"cannot mix ${c.fn}() with raw projections (InfluxQL)")
    case ABin(op, l, r) =>
      val (lc, rc) = (rawExpr(l, fields), rawExpr(r, fields))
      op match {
        case "+" => lc + rc
        case "-" => lc - rc
        case "*" => lc * rc
        case "/" => lc.cast("double") / rc
        case o   => throw new QlParseException(s"bad operator $o")
      }
  }

  private def planRaw(stmt: QlSelect, df: DataFrame, tags: Seq[String],
      fields: Seq[String]): (DataFrame, Seq[String]) = {
    val wanted: Seq[String] = stmt.fields.flatMap { f =>
      f.proj match {
        case QlStar => tags ++ fields
        case QlColumn(n) =>
          require(tags.contains(n) || fields.contains(n),
            s"unknown column '$n'")
          Seq(n)
        case _: QlExpr => Seq.empty // projected via `computed` below
        case _: QlCall => Seq.empty // unreachable (hasAggregates)
      }
    }.distinct
    val computed: Seq[Column] = stmt.fields.collect {
      case QlField(e: QlExpr, alias) =>
        rawExpr(e.e, fields).as(alias.getOrElse(
          throw new QlParseException(
            "alias computed projections with AS (InfluxQL " +
              "auto-generated expression names are not reproduced)")))
    }
    // raw results ALWAYS carry the series identity (measurement + all
    // tags) in-band: InfluxQL attaches it as out-of-band series
    // metadata even when unprojected, and per-series LIMIT pagination
    // needs it after projection. GROUP BY * / tags on a raw select is
    // a series-organization hint — rows are identical either way in a
    // flat relation.
    val fieldCols = wanted.filter(fields.contains)
    (df.select(col("measurement") +: col("time")
      +: ((tags ++ fieldCols).map(col) ++ computed): _*),
      "measurement" +: tags)
  }

  // ----------------------------------------------------------- selector

  private val SelectorFns = Set("top", "bottom")

  /** InfluxQL TOP(field, N) / BOTTOM(field, N): the N extreme points
    * per series, each with its timestamp — via the bounded-heap
    * [[graft.functions.TopKAgg]] (score = field, id = time ns; BOTTOM
    * negates), NOT a per-series window sort: every input partition
    * contributes at most O(N) pre-ranked rows per series to the
    * shuffle (the [[SeriesOps.topBottom]] discipline). Equal-value
    * ties break to the EARLIER timestamp — pinned where InfluxQL
    * leaves order undefined. */
  private def planSelector(stmt: QlSelect, df: DataFrame,
      tags: Seq[String], fields: Seq[String])
      : (DataFrame, Seq[String]) = {
    val (c, name) = stmt.fields.head match {
      case QlField(cc: QlCall, alias) =>
        (cc, alias.getOrElse(s"${cc.fn}_${cc.field}"))
      case p => throw new QlParseException(s"not a selector: $p")
    }
    require(fields.contains(c.field),
      s"${c.fn}() needs a field, got '${c.field}'")
    require(stmt.timeBucketNs.isEmpty && stmt.fill.isEmpty,
      "TOP/BOTTOM applies to raw points — no time() bucket / fill()")
    val n = c.arg.get.toInt
    val groupTags: Seq[String] =
      if (stmt.groupStar) tags
      else {
        stmt.groupTags.foreach(t => require(tags.contains(t),
          s"unknown GROUP BY tag '$t'"))
        stmt.groupTags
      }
    val keys = "measurement" +: groupTags
    val score =
      if (c.fn == "top") col(c.field).cast("double")
      else negate(col(c.field).cast("double"))
    val agged = df
      .where(col(c.field).isNotNull)
      .groupBy(keys.map(col): _*)
      .agg(graft.functions.TopKAgg.topK(n)(score, col("time")).as("tk"))
      .select(keys.map(col) :+ explode(col("tk.items")).as("it"): _*)
    val value =
      if (c.fn == "top") col("it.score") else negate(col("it.score"))
    (agged.select(keys.map(col) ++ Seq(col("it.id").as("time"),
      value.as(name)): _*), keys)
  }

  // --------------------------------------------- standalone functions

  /** Functions whose output shape is neither one-row-per-group (agg)
    * nor one-row-per-point (transform) — each plans its own frame and
    * must be the SELECT's only projection. */
  private val StandaloneFns = Set("distinct", "sample", "integral")

  /** Series identity of a stand-alone/selector query: GROUP BY * →
    * every tag, otherwise the named tags (validated). */
  private def groupTagsOf(stmt: QlSelect, tags: Seq[String])
      : Seq[String] =
    if (stmt.groupStar) tags
    else {
      stmt.groupTags.foreach(t => require(tags.contains(t),
        s"unknown GROUP BY tag '$t'"))
      stmt.groupTags
    }

  /** SELECT DISTINCT(f): the distinct field values per series — a
    * map-side-combined distinct, output cardinality = value domain. */
  private def planDistinct(stmt: QlSelect, df: DataFrame,
      tags: Seq[String], fields: Seq[String])
      : (DataFrame, Seq[String]) = {
    val (c, name) = singleCall(stmt, fields)
    require(stmt.timeBucketNs.isEmpty && stmt.fill.isEmpty,
      "DISTINCT(f) applies to raw points — no time() bucket / fill()")
    val keys = "measurement" +: groupTagsOf(stmt, tags)
    (df.where(col(c.field).isNotNull)
      .select(keys.map(col) :+ col(c.field).as(name): _*)
      .distinct(), keys)
  }

  /** SELECT SAMPLE(f, N): N points per series. InfluxDB samples with
    * a random reservoir; we pin a DETERMINISTIC uniform hash over the
    * point timestamp (multiplicative hash mod a prime) so results are
    * reproducible and oracle-checkable — same distributional intent,
    * no run-to-run flips. Rank via one series-partitioned window over
    * the hash order. */
  private def planSample(stmt: QlSelect, df: DataFrame,
      tags: Seq[String], fields: Seq[String])
      : (DataFrame, Seq[String]) = {
    val (c, name) = singleCall(stmt, fields)
    require(stmt.timeBucketNs.isEmpty && stmt.fill.isEmpty,
      "SAMPLE(f, N) applies to raw points — no time() bucket / fill()")
    val n = c.arg.get.toInt
    val keys = "measurement" +: groupTagsOf(stmt, tags)
    // Knuth multiplicative on the ns timestamp, folded through a
    // prime below 2^31 so the product stays well inside Long range
    // and the SQL is replayable verbatim in any engine
    val score = pmod(col("time"), lit(1000000007L)) *
      lit(2654435761L) % lit(1000000007L)
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(score.asc, col("time").asc)
    (df.where(col(c.field).isNotNull)
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= n)
      .select(keys.map(col) ++ Seq(col("time"),
        col(c.field).as(name)): _*), keys)
  }

  /** SELECT INTEGRAL(f[, unit]): the area under the per-series curve
    * — trapezoids between consecutive points, in field·unit units
    * (default 1s, InfluxQL's default). One per-series window for the
    * lags, one aggregate for the sum. */
  private def planIntegral(stmt: QlSelect, df: DataFrame,
      tags: Seq[String], fields: Seq[String])
      : (DataFrame, Seq[String]) = {
    val (c, name) = singleCall(stmt, fields)
    require(stmt.timeBucketNs.isEmpty && stmt.fill.isEmpty,
      "INTEGRAL is supported over raw series (no time() bucket); " +
        "downsample first via a subquery if bucketed areas are needed")
    val unitNs = c.argNs.getOrElse(1000000000L)
    val keys = "measurement" +: groupTagsOf(stmt, tags)
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(col("time").asc, col(c.field).asc)
    val v = col(c.field).cast("double")
    val area = (v + lag(v, 1).over(w)) / 2 *
      ((col("time") - lag(col("time"), 1).over(w)).cast("double") /
        lit(unitNs.toDouble))
    (df.where(col(c.field).isNotNull)
      .select(keys.map(col) :+ area.as("__area"): _*)
      .groupBy(keys.map(col): _*)
      .agg(sum(col("__area")).as(name)), keys)
  }

  private def singleCall(stmt: QlSelect, fields: Seq[String])
      : (QlCall, String) = {
    val (c, name) = stmt.fields.head match {
      case QlField(cc: QlCall, alias) =>
        (cc, alias.getOrElse(s"${cc.fn}_${cc.field}"))
      case p => throw new QlParseException(s"unexpected projection $p")
    }
    require(fields.contains(c.field),
      s"${c.fn}() needs a field, got '${c.field}'")
    (c, name)
  }

  // ---------------------------------------------------------- transform

  private val TransformFns = Set("difference", "derivative",
    "non_negative_derivative", "cumulative_sum", "elapsed",
    "moving_average")

  /** The InfluxQL transformation family over raw series points —
    * the same formulas [[graft.operators.SeriesOps.transforms]] pins
    * (DIFFERENCE / DERIVATIVE / NON_NEGATIVE_DERIVATIVE / ELAPSED /
    * MOVING_AVERAGE / CUMULATIVE_SUM), reached from query text. All
    * requested transforms share ONE per-series window (time asc,
    * then field values asc — the pinned total tie order), so the
    * whole family costs a single Exchange+Sort; leading rows with no
    * predecessor carry NULLs, matching lag semantics. */
  private def planTransform(stmt: QlSelect, df: DataFrame,
      tags: Seq[String], fields: Seq[String])
      : (DataFrame, Seq[String]) = {
    val calls: Seq[(QlCall, String)] = stmt.fields.map { f =>
      f.proj match {
        case c: QlCall if TransformFns(c.fn) =>
          c -> f.alias.getOrElse(s"${c.fn}_${c.field}")
        case p => throw new QlParseException(
          s"cannot mix projection $p with transformation functions")
      }
    }
    require(calls.map(_._2).distinct.size == calls.size,
      "duplicate output names — alias repeated transforms with AS")
    calls.foreach { case (c, _) =>
      require(fields.contains(c.field),
        s"${c.fn}() needs a field, got '${c.field}'")
    }
    require(stmt.timeBucketNs.isEmpty && stmt.fill.isEmpty,
      "transformations apply to raw points — no time() bucket / fill()")
    val groupTags: Seq[String] =
      if (stmt.groupStar) tags
      else {
        stmt.groupTags.foreach(t => require(tags.contains(t),
          s"unknown GROUP BY tag '$t'"))
        stmt.groupTags
      }
    val seriesKeys = "measurement" +: groupTags
    val w = Window.partitionBy(seriesKeys.map(col): _*)
      .orderBy(col("time").asc +: fields.map(col(_).asc): _*)
    def transformed(c: QlCall): Column = {
      val v = col(c.field).cast("double")
      val dv = v - lag(v, 1).over(w)
      val dtNs = col("time") - lag(col("time"), 1).over(w)
      c.fn match {
        case "difference" => dv
        case "cumulative_sum" => sum(v).over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        case "elapsed" =>
          // elapsed(f, unit): predecessor gap in whole units (default
          // ns — the InfluxQL default). floor-of-double is exact here:
          // gaps are window-bounded (≪ 2^53 ns)
          floor(dtNs.cast("double") /
            lit(c.argNs.getOrElse(1L).toDouble)).cast("long")
        case "derivative" | "non_negative_derivative" =>
          val unit = c.argNs.getOrElse(1000000000L) // default 1s
          val drv = when(dtNs > 0,
            dv / (dtNs.cast("double") / lit(unit.toDouble)))
          if (c.fn == "derivative") drv else when(drv >= 0, drv)
        case "moving_average" =>
          val n = c.arg.get.toInt
          require(n >= 1, s"moving_average window must be >= 1: $n")
          val frame = w.rowsBetween(-(n - 1), Window.currentRow)
          when(count(v).over(frame) === n, avg(v).over(frame))
        case fn => throw new QlParseException(s"not a transform: $fn")
      }
    }
    val cols = calls.map { case (c, name) => transformed(c).as(name) }
    (df.select(seriesKeys.map(col) ++ Seq(col("time")) ++ cols: _*),
      seriesKeys)
  }

  // ---------------------------------------------------------------- agg

  private def planAgg(stmt: QlSelect, nowNs: Option[Long],
      df: DataFrame, tags: Seq[String],
      fields: Seq[String]): (DataFrame, Seq[String]) = {
    // each projection is a bare aggregate call or an arithmetic
    // expression OVER aggregate calls (`max(v) - min(v)`, `sum(v)/2`);
    // bare fields inside an aggregate query refuse (InfluxQL)
    def validateAggExpr(e: QlAExpr): Unit = e match {
      case ACall(c) =>
        require(!TransformFns(c.fn) && !SelectorFns(c.fn),
          s"arithmetic over ${c.fn}() is not supported — " +
            "transformation/selector functions stand alone")
        require(fields.contains(c.field),
          s"${c.fn}() needs a field, got '${c.field}'")
      case ACol(n) => throw new QlParseException(
        s"cannot mix raw field '$n' with aggregates (InfluxQL)")
      case ABin(_, l, r) => validateAggExpr(l); validateAggExpr(r)
      case _: ANum => ()
    }
    def aggExprOf(e: QlAExpr): Column = e match {
      case ANum(v)  => numLit(v)
      case ACall(c) => aggExpr(c)
      case ACol(n)  => throw new QlParseException(s"bare field '$n'")
      case ABin(op, l, r) =>
        val (lc, rc) = (aggExprOf(l), aggExprOf(r))
        op match {
          case "+" => lc + rc
          case "-" => lc - rc
          case "*" => lc * rc
          case "/" => lc.cast("double") / rc
          case o   => throw new QlParseException(s"bad operator $o")
        }
    }
    val calls: Seq[(Column, String)] = stmt.fields.map { f =>
      f.proj match {
        case c: QlCall =>
          require(fields.contains(c.field),
            s"${c.fn}() needs a field, got '${c.field}'")
          aggExpr(c) -> f.alias.getOrElse(s"${c.fn}_${c.field}")
        case e: QlExpr =>
          validateAggExpr(e.e)
          aggExprOf(e.e) -> f.alias.getOrElse(
            throw new QlParseException(
              "alias computed projections with AS (InfluxQL " +
                "auto-generated expression names are not reproduced)"))
        case p => throw new QlParseException(
          s"cannot mix raw projection $p with aggregates (InfluxQL)")
      }
    }
    require(calls.map(_._2).distinct.size == calls.size,
      "duplicate output names — alias repeated aggregates with AS")
    val groupTags: Seq[String] =
      if (stmt.groupStar) tags
      else {
        stmt.groupTags.foreach(t => require(tags.contains(t),
          s"unknown GROUP BY tag '$t'"))
        stmt.groupTags
      }
    val zone: Option[java.time.ZoneId] = stmt.tz.map { z =>
      try java.time.ZoneId.of(z)
      catch {
        case e: java.time.DateTimeException =>
          throw new QlParseException(s"unknown tz() zone '$z': " +
            e.getMessage)
      }
    }
    val bucketKey = stmt.timeBucketNs.map { b =>
      require(b > 0, s"time() bucket must be positive: $b")
      val off = stmt.timeOffsetNs
      zone match {
        case Some(zid) =>
          // tz(): bucket on WALL-CLOCK micros in the zone — the grid
          // stays uniform in wall space across DST transitions (local
          // midnight remains a boundary on 23h/25h days), which is
          // exactly InfluxQL's calendar alignment. Converted back to
          // epoch ns after the fill step (toEpochNs below).
          require(b % 1000000L == 0 && off % 1000000L == 0,
            "tz() buckets need >= 1ms granularity (zone conversion " +
              "is µs-exact)")
          val bUs = b / 1000; val offUs = off / 1000
          expr(s"((unix_micros(from_utc_timestamp(timestamp_micros(" +
            s"`time` div 1000), '${zid.getId}')) - $offUs) div $bUs)" +
            s" * $bUs + $offUs").as("time")
        case None =>
          // time(interval, offset): boundaries shift by the offset —
          // ((t − off) div b)·b + off (div is floor here: ns epochs
          // dwarf any offset, so t − off stays positive)
          expr(s"((`time` - $off) div $b) * $b + $off").as("time")
      }
    }
    val keys = (col("measurement") +: groupTags.map(col)) ++ bucketKey
    val aggCols = calls.map { case (c, name) => c.as(name) }
    val agged = df.groupBy(keys: _*)
      .agg(aggCols.head, aggCols.tail: _*)

    /** tz() bucket values are wall-clock µs during agg+fill; the
      * result surface is epoch ns of the local bucket-start instant. */
    def toEpochNs(d: DataFrame): DataFrame = zone match {
      case Some(zid) => d.withColumn("time",
        expr(s"unix_micros(to_utc_timestamp(timestamp_micros(`time`)," +
          s" '${zid.getId}')) * 1000"))
      case None => d
    }
    /** Epoch-ns instant → wall µs in the tz() zone (plan-time, for
      * grid bounds). */
    def wallUs(ns: Long, zid: java.time.ZoneId): Long =
      ns / 1000 + zid.getRules
        .getOffset(java.time.Instant.ofEpochMilli(
          Math.floorDiv(ns, 1000000L)))
        .getTotalSeconds * 1000000L

    val filled = (stmt.fill, stmt.timeBucketNs) match {
      case (Some(FillNone), _) | (_, None) => toEpochNs(agged)
      case (fOpt, Some(b)) =>
        // no explicit fill() on a time() grid defaults to fill(null)
        // — InfluxQL's documented default: empty intervals surface
        // with null values. fill(none) opts out.
        val f = fOpt.getOrElse(FillNull)
        val series = "measurement" +: groupTags
        val step = if (zone.isDefined) b / 1000 else b
        val offT =
          if (zone.isDefined) stmt.timeOffsetNs / 1000
          else stmt.timeOffsetNs
        // InfluxQL edge semantics: with BOTH time bounds in WHERE the
        // grid spans the whole range per series (leading/trailing
        // cells included); unbounded queries fall back to the
        // [first, last] actual span (no range to extrapolate to)
        val boundsT = timeBoundsNs(stmt, nowNs).map { case (s0, e0) =>
          zone match {
            case Some(zid) => (wallUs(s0, zid), wallUs(e0, zid))
            case None      => (s0, e0)
          }
        }
        if (calls.size == 1) {
          val vname = calls.head._2
          val g = boundsT match {
            case Some((s0, e0)) =>
              SeriesOps.fillGapsRange(agged, series, "time", vname,
                stepTicks = step,
                startTick = Math.floorDiv(s0 - offT, step) * step + offT,
                endTickExclusive = e0)
            case None =>
              SeriesOps.fillGaps(agged, series, "time", vname,
                stepTicks = step)
          }
          val flavor = f match {
            case FillNull     => col("v_null")
            case FillValue(x) => coalesce(col("v_null"), lit(x))
            case FillPrevious => col("v_prev")
            case FillLinear   => col("v_linear")
            case FillNone     => col("v_null") // unreachable
          }
          toEpochNs(g.select(series.map(col) :+ col("t_tick").as("time")
            :+ flavor.as(vname): _*))
        } else {
          require(f == FillNull,
            "fill(previous/linear/<value>) supports a single " +
              "aggregate projection; fill(null)/default handles any " +
              "number")
          // multi-aggregate fill(null): per-series bucket grid LEFT
          // JOIN — gap rows carry NULL in every aggregate column. The
          // grid is sequence()-generated (bounded by range/step per
          // series), the join key is (series, bucket) — no window.
          val grid = boundsT match {
            case Some((s0, e0)) =>
              require(e0 > s0, s"empty time range [$s0, $e0)")
              val start = Math.floorDiv(s0 - offT, step) * step + offT
              val last = start + Math.floorDiv(e0 - 1 - start, step) * step
              agged.select(series.map(col): _*).distinct()
                .withColumn("time",
                  explode(expr(s"sequence(${start}L, ${last}L, ${step}L)")))
            case None =>
              agged.groupBy(series.map(col): _*)
                .agg(min(col("time")).as("__lo"), max(col("time")).as("__hi"))
                .withColumn("time",
                  explode(expr(s"sequence(__lo, __hi, ${step}L)")))
                .drop("__lo", "__hi")
          }
          toEpochNs(grid.join(agged, series :+ "time", "left"))
        }
    }
    (filled, "measurement" +: groupTags)
  }

  /** One InfluxQL aggregate as a single Catalyst aggregate expression
    * (scalar post-math over built-in aggregates — everything codegen'd,
    * no UDFs). */
  private def aggExpr(c: QlCall): Column = {
    val v = col(c.field)
    c.fn match {
      case "count"  => count(v)
      case "count_distinct" => countDistinct(v) // count(distinct(f))
      case "sum"    => sum(v)
      case "mean"   => avg(v)
      case "min"    => min(v)
      case "max"    => max(v)
      case "spread" => max(v) - min(v)
      case "stddev" => stddev_samp(v)
      // most frequent value; ties pinned to the SMALLEST value
      // (deterministic — InfluxQL's tie order is undocumented)
      case "mode"   => mode(v, deterministic = true)
      case "median" => nearestRank(v, 50.0)
      case "percentile" =>
        val p = c.arg.get
        require(p > 0 && p <= 100, s"percentile N out of (0, 100]: $p")
        nearestRank(v, p)
      // equal-time ties break on the field value itself (min for
      // FIRST, max for LAST) — a pinned total order where InfluxQL
      // leaves ties undefined
      case "first" => min_by(v, struct(col("time"), v))
      case "last"  => max_by(v, struct(col("time"), v))
      case fn => throw new QlParseException(s"unimplemented function $fn")
    }
  }

  /** Exact nearest-rank percentile: sorted non-null values, 1-based
    * index max(1, ceil(n·p/100)). Group-bounded memory (see class
    * scaladoc for the corpus-scale alternative). */
  private def nearestRank(v: Column, p: Double): Column = {
    val lst = sort_array(collect_list(v))
    element_at(lst,
      greatest(lit(1), ceil(size(lst) * lit(p) / lit(100.0)).cast("int")))
  }
}
