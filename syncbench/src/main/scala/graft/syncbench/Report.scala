package graft.syncbench

import scala.collection.mutable

/** What one run reports: the workload's end-to-end metrics under the
  * workload's own names (printed for people), the gated
  * metric set (the last stdout line), per-layer metrics of a traced run,
  * and the attempted/failed operation counts every correctness gate
  * feeds. */
final class Report(val workload: String, val traced: Boolean) {
  private val lines = mutable.ArrayBuffer.empty[String]
  val e2e = mutable.LinkedHashMap.empty[String, (Double, String)]
  val layer = mutable.LinkedHashMap.empty[String, (Double, String)]
  val notes = mutable.ArrayBuffer.empty[String]
  /** Traced regions, written out as spans when the run ends. */
  val spans = mutable.ArrayBuffer.empty[(String, Trace.Region)]
  /** Further span lines (JSON objects), e.g. one per served request. */
  val spanLines = mutable.ArrayBuffer.empty[String]
  var attempted = 0L
  var failed = 0L
  val failures = mutable.ArrayBuffer.empty[String]

  /** One attempted operation: fails when `body` throws or returns false.
    * The first few failure reasons are kept for the printout. */
  def attempt(what: String)(body: => Boolean): Boolean = {
    attempted += 1
    val ok = try body catch {
      case e: Throwable =>
        if (failures.size < 20) failures += s"$what: $e"
        false
    }
    if (!ok) {
      failed += 1
      if (failures.size < 20 && !failures.exists(_.startsWith(what)))
        failures += s"$what: check failed"
    }
    ok
  }

  /** A named end-to-end metric, printed with its unit and sample count. */
  def named(name: String, value: Double, unit: String,
      detail: String = ""): Unit =
    lines += f"metric $name%-22s = $value%.6g $unit" +
      (if (detail.nonEmpty) s"  ($detail)" else "")

  /** A latency sample: its median and tail, under the workload's own names. */
  def latency(prefix: String, samplesMs: Seq[Double]): Unit = {
    if (samplesMs.isEmpty) named(s"${prefix}_p50_ms", Double.NaN, "ms", "n=0")
    else {
      named(s"${prefix}_p50_ms", Stats.median(samplesMs), "ms",
        s"n=${samplesMs.size}")
      Stats.tail(samplesMs) match {
        case Some((v, p)) => named(s"${prefix}_tail_ms", v, "ms",
          f"p$p%.1f, n=${samplesMs.size}, ${Stats.TailBeyond} beyond")
        case None => named(s"${prefix}_tail_ms", Double.NaN, "ms",
          s"n=${samplesMs.size}: fewer than ${Stats.TailBeyond + 1} samples")
      }
    }
  }

  def layerMetric(name: String, value: Double, unit: String): Unit =
    layer(name) = (value, unit)

  def e2eMetric(name: String, value: Double, unit: String): Unit =
    e2e(name) = (value, unit)

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null"
    else if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
    else v.toString

  def failFrac: Double =
    if (attempted == 0) 1.0 else failed.toDouble / attempted

  def printout(): Seq[String] = {
    val out = mutable.ArrayBuffer.empty[String]
    out += s"workload $workload (trace=${if (traced) 1 else 0})"
    out ++= lines
    out += f"metric fail_frac              = $failFrac%.6g ratio  " +
      s"($failed failed / $attempted attempted)"
    failures.foreach(f => out += s"failure $f")
    notes.foreach(n => out += s"note $n")
    if (traced) layer.foreach { case (k, (v, u)) =>
      out += f"layer $k%-34s = ${num(v)} $u" }
    out.toSeq
  }

  /** The trace as JSON lines: one span per traced region, each with its
    * counts, and one child span per Spark job naming its region. */
  def traceLines: Seq[String] = {
    def q(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    spans.toSeq.flatMap { case (name, r) =>
      val mods = r.modules.toSeq.sorted.map { case (m, n) => s"${q(m)}:$n" }
        .mkString("{", ",", "}")
      val fs = r.fs.counts.toSeq.sorted.map { case (k, v) => s"${q(k)}:$v" }
        .mkString("{", ",", "}")
      val span = s"""{"span":${q(name)},"start_ms":${r.fromMs},"end_ms":${r.toMs},""" +
        s""""wall_s":${r.wallS},"jobs":${r.jobs.size},"jobs_by_module":$mods,""" +
        s""""tasks":${r.tasks},"shuffle_bytes":${r.shuffleBytes},""" +
        s""""spill_bytes":${r.spillBytes},"plan_ms":${r.planMs},""" +
        s""""driver_gap_s":${r.driverGapS},"fs":$fs,""" +
        s""""fs_meta_ms":${r.fs.metaNs / 1e6},"fs_bytes_written":${r.fs.bytes}}"""
      span +: r.jobs.map(j =>
          s"""{"span":"job:${j.id}","parent":${q(name)},"module":${q(j.module)},""" +
            s""""start_ms":${j.startMs},"end_ms":${j.endMs},""" +
            s""""tasks":${j.tasks.sum},"shuffle_bytes":${j.shuffleBytes.sum},""" +
            s""""spill_bytes":${j.spillBytes.sum}}""")
    } ++ spanLines
  }

  /** The gated result line: end-to-end metrics untraced, per-layer
    * metrics traced; exactly the `declared` metrics, in order. A layer
    * the workload leaves idle reads 0. */
  def resultJson(declared: Seq[Metrics.M]): String = {
    val ms = if (traced) layer else e2e
    val undeclared = ms.keySet -- declared.map(_.name)
    require(undeclared.isEmpty,
      s"metrics missing from BENCHMARK.json: ${undeclared.mkString(", ")}")
    val out = declared.map(d => d.name -> ms.get(d.name)
      .map(_._1).getOrElse(if (traced) 0.0 else Double.NaN) -> d.unit)
    val body = out.map { case ((k, v), u) =>
      s""""$k":{"value":${num(v)},"unit":"$u"}""" }.mkString(",")
    s"""{"correct":${failed == 0 && attempted > 0},"attempted":$attempted,""" +
      s""""failed":$failed,"metrics":{$body}}"""
  }
}
