package graft.syncbench

import java.net.{URI, URLEncoder}
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets.UTF_8

import graft.agent.{Agent, AgentConfig}
import graft.operators.CopyJob
import graft.streaming.ClusterFSM

/** `serve_mixed`: the daemon's status server over a copied slave root,
  * driven open-loop at fixed rates by concurrent /write line-protocol
  * batches, dashboard /query InfluxQL and health-probe /ping. */
object ServeMixed {
  val Shape = Gen.ServeShape
  val Db = "telegraf"
  val SetupRounds = 3
  /** The writer is a Telegraf agent at Telegraf's documented output
    * defaults: a /write carries `metric_batch_size` = 1000 points, and
    * the agent sends one every `flush_interval` = 10 s. One agent keeps
    * the server's single request dispatcher about a third busy, so a
    * machine half as fast still leaves every request its own slot; two
    * agents queued requests into seconds of wait on a slow machine
    * (README.md). Every second batch is a buffer replay
    * ([[Gen.writeBatches]]). */
  val PointsPerWrite = 1000
  val WriteEveryMs = 10000L
  val ReplayEvery = 2
  /** Dashboard queries due after each write, with their lag: a short
    * select once the write has been answered (it re-walks the catalog
    * the write dropped), then alternately `SHOW TAG VALUES` and the wide
    * `group by time(1d)`, then a second short select against the cached
    * catalog. The kind in each slot is the same for every seed. */
  def panels(k: Int): Seq[(Long, Gen.Kind)] = Seq(
    3000L -> Gen.Short,
    5000L -> (if (k % 2 == 0) Gen.ShowTags else Gen.Wide),
    7000L -> Gen.Short)
  /** Peer monitors probe /ping this often: 100 probes a second give the
    * p99 ten samples beyond it in any run of 10 s or more. */
  val PingEveryMs = 10L
  /** The schedule starts at a seeded offset below this. */
  val JitterMs = 500L
  val Threads = math.min(4, Runtime.getRuntime.availableProcessors())
  /** Requests each set-up round sends, to warm each path. */
  val WarmWrites = 1
  val WarmQueries = 2

  sealed trait Req
  final case class Write(i: Int, b: Gen.WriteBatch) extends Req
  final case class Query(i: Int, q: Gen.Query, kind: Gen.Kind) extends Req
  case object Ping extends Req

  /** A generated root, copied to a slave and served over HTTP. */
  final class Served(ctx: Ctx, round: Int) {
    val master: String = ctx.dir(s"serve$round/master")
    val slave: String = ctx.dir(s"serve$round/slave")
    Master.write(ctx.spark, ctx.seed, Shape, master)
    val agent = new Agent(ctx.spark, AgentConfig(masterRoot = master,
      slaveRoot = slave, chunk = "24h",
      start = (Shape.startNs / Gen.NsPerSec).toString,
      end = (Shape.endNs / Gen.NsPerSec).toString,
      monitorRetryIntervalMs = 0L, initialReplication = "none"),
      slaveProbeOpt = Some(() => true), nowNs = () => Shape.endNs)
    val (copied, copyReg) = ctx.region(agent.copy().map(_.totalPoints).sum)
    require(copied == Shape.points, s"copied $copied of ${Shape.points}")
    val server: graft.api.StatusServer = agent.statusServer(() =>
      ClusterFSM.toStatus(ClusterFSM.initial(Shape.endNs), true, true))
    server.start()
    val client = new Client(s"http://127.0.0.1:${server.boundPort}")
  }

  final class Client(base: String) {
    private val http = HttpClient.newBuilder()
      .version(HttpClient.Version.HTTP_1_1).build()
    def ping(): Boolean = http.send(
      HttpRequest.newBuilder(URI.create(s"$base/ping")).GET().build(),
      HttpResponse.BodyHandlers.discarding()).statusCode() == 204
    def write(b: Gen.WriteBatch): Boolean = http.send(
      HttpRequest.newBuilder(URI.create(s"$base/write?db=$Db&precision=ns"))
        .POST(HttpRequest.BodyPublishers.ofString(b.body)).build(),
      HttpResponse.BodyHandlers.discarding()).statusCode() == 204
    /** 200 with the expected series in the InfluxDB 1.x result shape. */
    def query(q: Gen.Query): Boolean = {
      val r = http.send(HttpRequest.newBuilder(URI.create(
        s"$base/query?db=$Db&epoch=ms&q=" +
          URLEncoder.encode(q.text, UTF_8))).GET().build(),
        HttpResponse.BodyHandlers.ofString())
      r.statusCode() == 200 && !r.body().contains("\"error\"") &&
        r.body().contains(s""""name":"${q.series}"""")
    }
  }

  def run(ctx: Ctx): Unit = {
    val rep = ctx.report
    val nWrites = (ctx.seconds * 1000L / WriteEveryMs).toInt + 1
    val batches = Gen.writeBatches(ctx.seed, Shape,
      SetupRounds * WarmWrites + nWrites, PointsPerWrite, ReplayEvery)
    // warm-up: a short query after the write, then a cached wide one
    val warmKinds = Seq.fill(SetupRounds)(Seq(Gen.Short, Gen.Wide)).flatten
    val queryKinds = (0 until nWrites).flatMap(panels).map(_._2)
    val texts = Gen.queries(ctx.seed, Shape, warmKinds ++ queryKinds)
    val warmAcked = Array.fill(SetupRounds)(Seq.empty[Gen.WriteBatch])

    // set-up rounds: generate, copy, start the server, warm every path;
    // the last round's server is the one measured
    var served: Served = null
    val setupS = ctx.setupRounds(SetupRounds) { r =>
      if (served != null) served.server.stop()
      served = new Served(ctx, r)
      val ws = batches.slice(r * WarmWrites, (r + 1) * WarmWrites)
      ws.foreach(b => require(served.client.write(b), "warm-up write refused"))
      warmAcked(r) = ws
      texts.slice(r * WarmQueries, (r + 1) * WarmQueries).foreach(q =>
        require(served.client.query(q), s"warm-up query failed: ${q.text}"))
      require(served.client.ping(), "warm-up ping failed")
    }
    val srv = served
    try {
      rep.notes += "set-up rounds (s): " +
        setupS.map(s => f"$s%.2f").mkString(", ") +
        f"; process start to first timed op: ${ctx.sinceStartS}%.2f s"
      val firstMs = new java.util.SplittableRandom(ctx.seed).nextLong(JitterMs)
      def offsets(n: Int, everyMs: Long, lagMs: Long): Seq[Long] =
        (0 until n).map(k => (firstMs + lagMs + k * everyMs) * 1000000L)
      val horizonNs = ctx.seconds * 1000000000L
      val wBase = SetupRounds * WarmWrites
      val qBase = SetupRounds * WarmQueries
      val querySlots = (0 until nWrites).flatMap(k => panels(k).map {
        case (lagMs, _) => (firstMs + k * WriteEveryMs + lagMs) * 1000000L })
      val schedule = (
        offsets(nWrites, WriteEveryMs, 0L).zipWithIndex.map { case (o, k) =>
          o -> (Write(k, batches(wBase + k)): Req) } ++
        querySlots.zipWithIndex.map { case (o, k) =>
          o -> (Query(k, texts(qBase + k), queryKinds(k)): Req) } ++
        (0L until horizonNs by PingEveryMs * 1000000L)
          .map(o => o -> (Ping: Req)))
        .filter(_._1 < horizonNs).sortBy(_._1).toIndexedSeq

      val bytes0 = Files.parquetBytes(srv.slave)
      val fs0 = Trace.fsSnap()
      val gen = new OpenLoop[Req](Threads)
      val (done, reg) = ctx.region(gen.run(schedule) {
        case Write(_, b) => srv.client.write(b)
        case Query(_, q, _) => srv.client.query(q)
        case Ping        => srv.client.ping()
      })
      val fsD = Trace.fsSnap() - fs0
      val writes = done.filter(_.req.isInstanceOf[Write])
      val queries = done.filter(_.req.isInstanceOf[Query])
      val pings = done.filter(_.req == Ping)
      for (d <- done) rep.attempt(d.req match {
        case Write(i, _) => s"write#$i"
        case Query(i, q, _) => s"query#$i ${q.text}"
        case Ping        => "ping"
      })(d.ok)
      val acked = warmAcked.last ++ writes.filter(_.ok).map(_.req)
        .collect { case Write(_, b) => b }
      // the final count reconciles every acknowledged point
      rep.attempt("final count") {
        val job = new CopyJob(ctx.spark)
        Shape.meas.forall { m =>
          val n = job.readCopied(s"${srv.slave}/${m.rel}").count()
          val want = Shape.pointsPerMeas +
            acked.map(_.points.getOrElse(m.name, 0)).sum
          if (n != want) rep.notes += s"${m.name}: $n rows, want $want"
          n == want
        }
      }

      val wMs = writes.map(_.latencyMs)
      val qMs = queries.map(_.latencyMs)
      // the gated query figure: the dashboard's short selects, one after
      // each write and one against a cached catalog
      val selectP50 = Stats.median(queries
        .filter(_.req.asInstanceOf[Query].kind == Gen.Short).map(_.latencyMs))
      val pMs = pings.map(_.latencyMs)
      val ackedPts = writes.filter(_.ok).map(_.req)
        .collect { case Write(_, b) => b.total }.sum
      val ptsPerS = ackedPts / (wMs.sum / 1e3)
      // replaced chunk generations stay on disk for the retirement
      // grace, so this is the bytes the write path laid down per point
      val bytesPerPt = (Files.parquetBytes(srv.slave) - bytes0).toDouble /
        math.max(1, ackedPts)
      rep.named("setup_s", Stats.median(setupS), "s",
        s"median of ${setupS.size} rounds")
      rep.latency("write", wMs)
      rep.latency("query", qMs)
      rep.named("select_p50_ms", selectP50, "ms", "short selects")
      val pingP99 = Stats.percentile(pMs, 99)
      rep.named("ping_p99_ms", pingP99, "ms",
        s"n=${pMs.size}, ${pMs.size - math.ceil(0.99 * pMs.size).toInt} beyond")
      rep.named("write_pts_per_s", ptsPerS, "1/s",
        s"$ackedPts acknowledged points / summed /write latency")
      rep.named("stored_bytes_per_pt", bytesPerPt, "B",
        "slave parquet bytes added per acknowledged point")
      rep.notes += s"offered: /write of $PointsPerWrite points every " +
        s"$WriteEveryMs ms (one in $ReplayEvery a replay), /query at " +
        panels(0).map(_._1).mkString("/") + s" ms after each write, /ping " +
        s"every $PingEveryMs ms; $Threads client threads; ${done.size} requests"
      rep.e2eMetric("setup_s", Stats.median(setupS), "s")
      rep.e2eMetric("p50_ms", selectP50, "ms")
      rep.e2eMetric("pts_per_s", ptsPerS, "1/s")
      rep.e2eMetric("bytes_per_pt", bytesPerPt, "B")
      rep.e2eMetric("tail_ms", pingP99, "ms")

      ctx.rec.foreach { rec =>
        rep.spans += ("serve" -> reg)
        // one span per request, epoch ms (due, sent, answered)
        val skewMs = System.currentTimeMillis() - System.nanoTime() / 1e6
        def ms(ns: Long) = f"${ns / 1e6 + skewMs}%.3f"
        for (d <- done) rep.spanLines += (s"""{"span":"${d.req match {
          case Write(i, _) => s"write#$i"
          case Query(i, _, _) => s"query#$i"
          case Ping        => "ping"
        }}","parent":"serve","due_ms":${ms(d.dueNs)},"start_ms":${ms(d.sentNs)},""" +
          s""""end_ms":${ms(d.doneNs)},"ok":${d.ok}}""")
        traced(ctx, rec, srv, reg, fsD, gen, done, writes, queries,
          batches.slice(wBase, wBase + writes.size), selectP50, ptsPerS)
      }
    } finally srv.server.stop()
  }

  private def traced(ctx: Ctx, rec: Trace.Recorder, srv: Served,
      reg: Trace.Region, fsD: Trace.FsSnap, gen: OpenLoop[Req],
      done: Seq[OpenLoop[Req]#Done], writes: Seq[OpenLoop[Req]#Done],
      queries: Seq[OpenLoop[Req]#Done], sent: Seq[Gen.WriteBatch],
      selectP50: Double, ptsPerS: Double): Unit = {
    val L = ctx.report.layerMetric _
    def med(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else Stats.median(xs)
    def timedUs(n: Int)(body: => Unit): Double = {
      val t0 = System.nanoTime()
      (0 until n).foreach(_ => body)
      (System.nanoTime() - t0) / 1e3 / n
    }
    val nq = math.max(1, queries.size).toDouble
    val nw = math.max(1, writes.size).toDouble
    L("agent.copy_s", srv.copyReg.wallS, "s")
    L("api.data_busy_frac", Trace.covered((writes ++ queries)
      .map(d => (d.sentNs, d.doneNs))) / 1e9 / reg.wallS, "ratio")
    val texts = queries.map(_.req).collect { case Query(_, q, _) => q.text }
    L("ql.parse_us",
      med(texts.map(t => timedUs(50)(graft.ql.InfluxQl.parseStatement(t)))),
      "us")
    L("ql.catalog_walk_ms", med((0 until 3).map(_ => timedUs(1)(
      graft.ql.QlPlanner.storageCatalog(ctx.spark, srv.slave, "ts")) / 1e3)),
      "ms")
    // the server answers one request at a time: a query answered after
    // a /write acknowledged since the previous answer re-walks the ql
    // catalog that write dropped
    val acks = writes.filter(_.ok).map(_.doneNs)
    val byDone = queries.sortBy(_.doneNs)
    val (afterWrite, cached) = byDone.indices.partition { i =>
      val from = if (i == 0) Long.MinValue else byDone(i - 1).doneNs
      acks.exists(a => a > from && a <= byDone(i).doneNs)
    }
    L("ql.query_after_write_ms", med(afterWrite.map(byDone(_).latencyMs)), "ms")
    L("ql.query_cached_ms", med(cached.map(byDone(_).latencyMs)), "ms")
    L("ql.jobs_per_query", reg.jobsOf("ql").size / nq, "count")
    L("catalog.jobs_per_query", reg.jobsOf("catalog").size / nq, "count")
    L("api.jobs_per_query", reg.jobsOf("api").size / nq, "count")
    L("api.job_s_per_query", reg.jobS(reg.jobsOf("api")) / nq, "s")
    L("spark.plan_ms_per_query", reg.plans
      .filter(p => p.func == "collect" || p.func == "toLocalIterator")
      .map(_.planMs).sum / nq, "ms")
    val lines = sent.flatMap(_.body.split('\n'))
    L("sources.lp_parse_us", timedUs(1)(
      lines.foreach(graft.sources.LineProtocol.parseLine)) /
      math.max(1, lines.size), "us")
    L("operators.jobs_per_write", reg.jobsOf("operators").size / nw, "count")
    L("operators.job_s_per_write", reg.jobS(reg.jobsOf("operators")) / nw, "s")
    // driver gap of each /write with no query in flight: its wall minus
    // the time Spark jobs covered
    val skewMs = System.currentTimeMillis() - System.nanoTime() / 1000000L
    L("spark.driver_gap_ms_per_write", med(writes.filterNot(w =>
      queries.exists(q => q.sentNs < w.doneNs && q.doneNs > w.sentNs))
      .map { w =>
        val (from, to) = (w.sentNs / 1000000L + skewMs, w.doneNs / 1000000L + skewMs)
        (to - from) - Trace.covered(rec.jobsIn(from, to).map(j =>
          (j.startMs, math.min(if (j.endMs < 0) to else j.endMs, to))))
      }.map(_.toDouble)), "ms")
    L("fs.rename_per_write", fsD.counts("rename") / nw, "count")
    L("fs.create_per_write", fsD.counts("create") / nw, "count")
    L("fs.delete_per_write", fsD.counts("delete") / nw, "count")
    L("fs.list_per_req", fsD.counts("list") / (nw + nq), "count")
    L("api.write_amp", fsD.bytes.toDouble /
      math.max(1L, sent.map(_.body.getBytes(UTF_8).length.toLong).sum), "ratio")
    val free = done.filterNot(_.queued)
    L("gen.late_p99_ms",
      if (free.isEmpty) 0.0 else Stats.percentile(free.map(_.lateMs), 99), "ms")
    L("gen.queued_frac", done.count(_.queued).toDouble / done.size, "ratio")
    L("gen.inflight_max", gen.inflightMax.get(), "count")
    for (m <- Metrics.JobModules) L(s"spark.jobs_by_module.$m",
      reg.modules.getOrElse(m, 0).toDouble, "count")
    L("trace.p50_ms", selectP50, "ms")
    L("trace.pts_per_s", ptsPerS, "1/s")
  }
}
