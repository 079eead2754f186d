package graft.syncbench

import scala.collection.mutable
import scala.concurrent.{Await, Future, blocking}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration.Duration

import graft.agent.{Agent, AgentConfig}
import graft.catalog.Catalog
import graft.model.ClusterState
import graft.operators.CopyJob
import graft.plan.ChunkPlanner
import graft.sources.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** `replicate`: the reference's own job. A seeded hierarchical master
  * root is copied whole in day chunks by `Agent.copy`, and between the
  * copies and after them a seeded series of slave outages is recovered
  * by `HAMonitor.tick()` driven through OK → CHECK_SLAVE_DOWN →
  * RECOVERING → OK by a scripted slave probe, while points land in the
  * master during each outage. */
object Replicate {
  val Shape = Gen.ReplicateShape
  /** Set-up rounds warm the same paths over a one-day history. */
  val WarmShape = Shape.copy(days = 1)
  val SetupRounds = 3
  val CheckIntervalNs = 10L * Gen.NsPerSec
  val DayNs = 86400L * Gen.NsPerSec
  /** A run holds too few recoveries for a percentile with ten samples
    * beyond it ([[Stats.tail]]). Its tail is the slowest recovery but
    * one, so one slow moment of a shared machine does not set it alone;
    * six recoveries make that the 83rd percentile or above. */
  val MinRecoveries = 6
  val RecoveryTailBeyond = 1
  /** Full-history copies per run; the median one is reported. */
  val Copies = 3
  /** A traced run recovers exactly this many outages, so its counts
    * repeat at one seed. */
  val TracedRecoveries = 4

  def agentCfg(master: String, slave: String, shape: Gen.Shape)
      : AgentConfig =
    AgentConfig(masterRoot = master, slaveRoot = slave, newRp = "primary",
      chunk = "24h", start = (shape.startNs / Gen.NsPerSec).toString,
      end = (shape.endNs / Gen.NsPerSec).toString,
      monitorRetryIntervalMs = 0L, initialReplication = "none",
      checkIntervalMs = CheckIntervalNs / 1000000L)

  /** A window of time one operation wrote to the slave. */
  final case class Window(name: String, startNs: Long, endNs: Long)

  /** Gate, run once the timed operations are done: for every
    * measurement, `CopyJob.verifyChecksums` over the span of all
    * `windows` finds no mismatching day chunk, and within each window the
    * slave holds exactly the master's rows (count per window). Later
    * operations never write into earlier windows, so checking the final
    * state proves each operation's window. Returns the names of the
    * windows that failed; measurements are checked concurrently. */
  def badWindows(spark: SparkSession, pairs: Seq[(String, String)],
      windows: Seq[Window]): Set[String] = {
    val job = new CopyJob(spark)
    val (lo, hi) = (windows.map(_.startNs).min, windows.map(_.endNs).max)
    val cfg = CopyJob.Config(lo, hi, DayNs, timeCol = "ts")
    def perWindow(df: DataFrame): Map[String, Long] = {
      val w = windows.foldRight(lit(null).cast("string")) { (w, rest) =>
        when(col("ts") >= w.startNs && col("ts") < w.endNs, lit(w.name))
          .otherwise(rest)
      }
      df.select(w.as("w")).where(col("w").isNotNull).groupBy("w").count()
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    }
    val checks = pairs.map { case (src, dst) =>
      Future {
        val badChunks = job.verifyChecksums(src, dst, cfg)
          .collect { case (c, a, b) if a != b => c }
        val srcN = perWindow(Tables.withNsTime(spark.read.parquet(src), "ts"))
        val dstN = perWindow(job.readCopiedRange(dst, lo, hi))
        windows.filter { w =>
          badChunks.exists(c => c.startNs < w.endNs && c.endNs > w.startNs) ||
            srcN.getOrElse(w.name, 0L) != dstN.getOrElse(w.name, 0L) ||
            srcN.getOrElse(w.name, 0L) == 0L
        }.map(_.name).toSet
      }
    }
    checks.flatMap(f => Await.result(f, Duration.Inf)).toSet
  }

  /** A master/slave pair as the agent sees it: a virtual clock and a
    * scripted slave probe that the benchmark flips. */
  final class Cluster(ctx: Ctx, val master: String, val slave: String,
      val shape: Gen.Shape) {
    @volatile var now: Long = shape.endNs
    @volatile var slaveUp = true
    val agent = new Agent(ctx.spark, agentCfg(master, slave, shape),
      slaveProbeOpt = Some(() => slaveUp), nowNs = () => now)
    lazy val ha: graft.streaming.HAMonitor = agent.hamonitor()

    /** The full-history copy, timed; returns the points copied. */
    def copy(): (Long, Trace.Region) = {
      val (reports, reg) = ctx.region(agent.copy())
      (reports.map(_.totalPoints).sum, reg)
    }

    /** One outage: up-tick at the outage start, points land in the
      * master while the slave is down, a down-tick, then the
      * recovery-edge tick, whose wall time is the sample. */
    def recover(o: Gen.Outage, salt: String): Trace.Region = {
      now = o.upAtNs; slaveUp = true
      ha.tick()
      slaveUp = false
      val during = shape.copy(stepNs = o.stepNs)
      shape.meas.map { m =>
        Future(blocking(Master.writeRows(ctx.spark, s"$master/${m.rel}", m,
          Gen.rows(ctx.seed, m, during, o.upAtNs + Gen.NsPerSec,
            o.upAtNs + o.downNs, salt), append = true)))
      }.foreach(Await.result(_, Duration.Inf))
      now = o.upAtNs + o.downNs / 2
      require(ha.tick().state == ClusterState.CheckSlaveDown,
        "down tick did not enter CHECK_SLAVE_DOWN")
      now = o.upAtNs + o.downNs
      slaveUp = true
      val before = ha.state.numRecovers
      val (st, reg) = ctx.region(ha.tick())
      require(st.state == ClusterState.Ok && st.numRecovers == before + 1,
        s"recovery tick ended in ${st.state}")
      reg
    }

    def badWindows(windows: Seq[Window]): Set[String] =
      Replicate.badWindows(ctx.spark, CopyJob.layout(agent.discoverSchema(),
        master, slave, flatRoot = false), windows)
  }

  def run(ctx: Ctx): Unit = {
    val rep = ctx.report
    // set-up rounds: generate, then warm the copy and recovery paths
    // (JIT, codegen, footer and committer caches) on a short history
    val setupS = ctx.setupRounds(SetupRounds) { i =>
      val master = ctx.dir(s"setup$i/master")
      Master.write(ctx.spark, ctx.seed, WarmShape, master)
      val c = new Cluster(ctx, master, ctx.dir(s"setup$i/slave"), WarmShape)
      require(c.copy()._1 == WarmShape.points, "warm-up copy incomplete")
      c.recover(Gen.outages(ctx.seed + i, WarmShape, 1).head, s"setup$i")
    }
    // each copy reads a master of its own, so the outage points that
    // land in the first master never reach a later copy's input
    val masters = (0 until Copies).map { i =>
      val m = ctx.dir(s"master$i")
      Master.write(ctx.spark, ctx.seed, Shape, m)
      m
    }
    rep.notes += "set-up rounds (s): " +
      setupS.map(s => f"$s%.2f").mkString(", ") +
      f"; process start to first timed op: ${ctx.sinceStartS}%.2f s"

    // timed: full copies of the history into fresh slaves (the median
    // copy is the throughput sample), each followed by one outage against
    // the first slave, so both samples span the timed phase; then more
    // outages until the deadline (a traced run: a fixed number)
    val deadline = System.nanoTime() + ctx.seconds * 1000000000L
    val outages = Gen.outages(ctx.seed, Shape, 1000).iterator
    val copies =
      mutable.ArrayBuffer.empty[(Cluster, Long, Trace.Region, Double)]
    val recoveries = mutable.ArrayBuffer.empty[(Window, Trace.Region)]
    val catalogWalkMs = mutable.ArrayBuffer.empty[Double]
    def recoverNext(): Unit = {
      val o = outages.next()
      val w = Window(s"recover#${recoveries.size}",
        o.upAtNs - CheckIntervalNs, o.upAtNs + o.downNs)
      recoveries += (w -> copies.head._1.recover(o, w.name))
      if (ctx.traced) {
        val t0 = System.nanoTime()
        new Catalog(ctx.spark).getSchema(masters.head, ".*", ".*", ".*", "",
          "primary")
        catalogWalkMs += (System.nanoTime() - t0) / 1e6
      }
    }
    for (i <- 0 until Copies) {
      val ci = new Cluster(ctx, masters(i), ctx.dir(s"slave$i"), Shape)
      val (n, reg) = ci.copy()
      copies += ((ci, n, reg, Files.parquetBytes(ci.slave).toDouble / n))
      recoverNext()
    }
    def more = if (ctx.traced) recoveries.size < TracedRecoveries
      else recoveries.size < MinRecoveries || System.nanoTime() < deadline
    while (more) recoverNext()
    val timedS = ctx.seconds + (System.nanoTime() - deadline) / 1e9
    val (_, copied, copyReg, storedBytesPerPt) = copies.sortBy(_._3.wallS)
      .apply(Copies / 2)

    val g0 = System.nanoTime()
    // every slave is checked at once: the first over the copy window and
    // every recovery window, the others over the copy window
    val copyWindow = Window("copy", Shape.startNs, Shape.endNs)
    val checks = copies.map(_._1).zipWithIndex.map { case (ci, i) =>
      val ws = if (i == 0) copyWindow +: recoveries.map(_._1).toSeq
        else Seq(copyWindow)
      Future(blocking(ci.badWindows(ws)))
    }.map(Await.result(_, Duration.Inf))
    for (((_, n, _, _), i) <- copies.zipWithIndex)
      rep.attempt(s"copy#$i")(n == Shape.points && !checks(i)("copy"))
    for ((w, _) <- recoveries) rep.attempt(w.name)(!checks.head(w.name))
    val recS = recoveries.map(_._2.wallS).toSeq
    val (recTailS, recTailPct) = Stats.tail(recS, RecoveryTailBeyond).get
    rep.notes += f"timed phase $timedS%.2f s; gate " +
      f"${(System.nanoTime() - g0) / 1e9}%.2f s; recoveries (s): " +
      recS.map(s => f"$s%.2f").mkString(" ")

    val copyPtsPerS = copied / copyReg.wallS
    rep.notes += "copies (s): " +
      copies.map(x => f"${x._3.wallS}%.2f").mkString(" ")
    rep.named("setup_s", Stats.median(setupS), "s",
      s"median of ${setupS.size} rounds")
    rep.named("copy_pts_per_s", copyPtsPerS, "1/s", s"median of $Copies " +
      s"copies of $copied points in ${Shape.days} day chunks x " +
      s"${Shape.meas.size} measurements")
    rep.named("recover_p50_s", Stats.median(recS), "s",
      s"n=${recS.size}; reference ClusterLastRecoverDuration 2.47 s")
    rep.named("recover_tail_s", recTailS, "s", f"p$recTailPct%.0f, " +
      s"n=${recS.size}, $RecoveryTailBeyond beyond")
    rep.named("stored_bytes_per_pt", storedBytesPerPt, "B")
    rep.e2eMetric("setup_s", Stats.median(setupS), "s")
    rep.e2eMetric("p50_ms", Stats.median(recS) * 1e3, "ms")
    rep.e2eMetric("pts_per_s", copyPtsPerS, "1/s")
    rep.e2eMetric("bytes_per_pt", storedBytesPerPt, "B")
    rep.e2eMetric("tail_ms", recTailS * 1e3, "ms")

    if (ctx.traced) {
      for ((x, i) <- copies.zipWithIndex) rep.spans += (s"copy#$i" -> x._3)
      recoveries.foreach { case (w, r) => rep.spans += (w.name -> r) }
      val rc = recoveries.map(_._2).toSeq
      def perRecovery(f: Trace.Region => Double) = Stats.median(rc.map(f))
      def onCopy(f: Trace.Region => Double) = f(copyReg)
      val L = rep.layerMetric _
      L("agent.copy_s", copyReg.wallS, "s")
      L("plan.chunks", ChunkPlanner.plan(Shape.startNs, Shape.endNs, DayNs,
        Some(8760L * 3600L * Gen.NsPerSec)).size, "count")
      L("catalog.walk_ms", Stats.median(catalogWalkMs.toSeq), "ms")
      L("catalog.jobs", perRecovery(_.jobsOf("catalog").size), "count")
      for ((tag, per) <- Seq("copy" -> onCopy _, "recover" -> perRecovery _)) {
        L(s"operators.jobs.$tag", per(_.jobsOf("operators").size), "count")
        L(s"operators.job_s.$tag", per(r => r.jobS(r.jobsOf("operators"))), "s")
        L(s"spark.jobs.$tag", per(_.jobs.size), "count")
        L(s"spark.driver_gap_s.$tag", per(_.driverGapS), "s")
      }
      L("spark.tasks.copy", copyReg.tasks, "count")
      L("spark.job_busy_frac.copy", copyReg.busyS / copyReg.wallS, "ratio")
      for ((op, _) <- Trace.Fs.ops)
        L(s"fs.$op.recover", perRecovery(_.fs.counts(op)), "count")
      L("fs.meta_ms.recover", perRecovery(_.fs.metaNs / 1e6), "ms")
      L("fs.bytes_written_per_pt", copyReg.fs.bytes.toDouble / copied, "B")
      for (m <- Metrics.JobModules) L(s"spark.jobs_by_module.$m",
        (copyReg +: rc).map(_.modules.getOrElse(m, 0)).sum.toDouble, "count")
      L("trace.p50_ms", Stats.median(recS) * 1e3, "ms")
      L("trace.pts_per_s", copyPtsPerS, "1/s")
    }
  }
}
