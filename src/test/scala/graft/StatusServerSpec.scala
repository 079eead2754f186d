package graft

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}

import graft.api.StatusServer
import graft.model.ClusterStatus
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

/** /api/health + /api/queryactive per /root/reference/pkg/webui/api.go. */
class StatusServerSpec extends AnyFunSuite {

  test("health and queryactive endpoints serve cluster state JSON") {
    val status = ClusterStatus("OK", 2L, 2473620691L, masterState = true,
      masterLastOkNs = 111L, slaveState = false, slaveLastOkNs = 99L)
    val srv = new StatusServer(0, () => status,
      () => Seq("influxdb01" -> true, "influxdb02" -> false))
    srv.start()
    try {
      val client = HttpClient.newHttpClient()
      def get(path: String): String = client.send(
        HttpRequest.newBuilder(URI.create(
          s"http://127.0.0.1:${srv.boundPort}$path")).GET().build(),
        HttpResponse.BodyHandlers.ofString()).body()

      val health = get("/api/health")
      assert(health.contains("\"ClusterState\":\"OK\""))
      assert(health.contains("\"ClusterNumRecovers\":2"))
      assert(health.contains("\"ClusterLastRecoverDuration\":2473620691"))
      assert(health.contains("\"Active\":false"))

      val active = get("/api/queryactive")
      assert(active == "[\"influxdb01\"]")
    } finally srv.stop()
  }

  test("/api/indexstats serves the growing-index observability frame " +
    "(r18): tiers, watermark, segment state, hot depth, and live " +
    "_inflight_ stalls with age — the gate's safe failure mode made " +
    "operator-visible (ops-counter posture of /api/health)") {
    val spark = SparkSpec.spark
    import spark.implicits._
    val idx = java.nio.file.Files
      .createTempDirectory("graft_stats_idx").toString
    val corpus = Seq((1L, Seq(1.0, 0.0)), (2L, Seq(0.0, 1.0)),
      (3L, Seq(0.9, 0.1))).toDF("id", "vec")
    graft.streaming.StreamIngest.ivfIndexInit(spark, idx,
      Seq(0 -> Array(1.0, 0.0), 1 -> Array(0.0, 1.0)))
    graft.streaming.StreamIngest.ivfIngestBatch(corpus, "id", "vec",
      idx, 0L)
    graft.streaming.StreamIngest.compactIvfIndex(spark, idx): Unit
    // an abandoned stream's marker: written, never cleared
    java.nio.file.Files.createFile(
      java.nio.file.Paths.get(idx, "_inflight_7")): Unit
    val status = ClusterStatus("OK", 0L, 0L, masterState = true,
      masterLastOkNs = 1L, slaveState = true, slaveLastOkNs = 1L)
    val srv = new StatusServer(0, () => status, () => Nil,
      indexStatsJson = Some(() => graft.streaming.StreamIngest
        .indexStats(spark, Seq(idx))
        .toJSON.collect().mkString("[", ",", "]")))
    srv.start()
    try {
      val client = HttpClient.newHttpClient()
      val body = client.send(
        HttpRequest.newBuilder(URI.create(
          s"http://127.0.0.1:${srv.boundPort}/api/indexstats"))
          .GET().build(),
        HttpResponse.BodyHandlers.ofString()).body()
      assert(body.startsWith("[") && body.endsWith("]"), body)
      assert(body.contains("\"tier\":\"assign\""), body)
      assert(body.contains("\"wm\":0"), body)
      assert(body.contains("\"segments\":1"), body)
      assert(body.contains("\"seg_rows\":3"), body)
      assert(body.contains("\"hot_batches\":0"), body)
      assert(body.contains("\"inflight\":1"), body)
      assert(body.contains("\"oldest_inflight_ms\""), body)
      assert(body.contains("\"codebook\":\"centroids.parquet\""), body)
      assert(body.contains("\"list_skew\""), body)
    } finally srv.stop()
  }

  test("/query serves the InfluxDB 1.x query API over the ql " +
    "front-end: SELECT aggregates, SHOW discovery, row-cap partial " +
    "marker, and 400 on parse errors (the API client.go:57-70 consumes)") {
    val spark = SparkSpec.spark
    import spark.implicits._
    val m = Seq(("h1", 10L, 1.5), ("h1", 20L, 2.5), ("h2", 10L, 4.0))
      .toDF("host", "t", "v")
    val cat = Seq(graft.ql.QlTable("cpu", m, "t", Seq("host"), Seq("v")))
    val status = ClusterStatus("OK", 0L, 0L, masterState = true,
      masterLastOkNs = 1L, slaveState = true, slaveLastOkNs = 1L)
    val srv = new StatusServer(0, () => status, () => Nil,
      queryExec = Some(graft.ql.QlPlanner.executor(spark,
        SparkSpec.Sf0001, cat)),
      queryMaxRows = 2)
    srv.start()
    try {
      val client = java.net.http.HttpClient.newHttpClient()
      def get(q: String): java.net.http.HttpResponse[String] = client.send(
        HttpRequest.newBuilder(URI.create(
          s"http://127.0.0.1:${srv.boundPort}/query?q=" +
            java.net.URLEncoder.encode(q, "UTF-8"))).GET().build(),
        HttpResponse.BodyHandlers.ofString())

      val agg = get("select sum(v) from cpu group by *")
      assert(agg.statusCode() == 200)
      assert(agg.body().contains("\"name\":\"cpu\""))
      assert(agg.body().contains(
        "\"columns\":[\"measurement\",\"host\",\"sum_v\"]"))
      assert(agg.body().contains("4.0") && agg.body().contains("4.0"))
      // raw scan has 3 rows > cap 2 → truncated + partial marker
      val raw = get("select * from cpu")
      assert(raw.statusCode() == 200)
      assert(raw.body().contains("\"partial\":true"))
      // SHOW routes to the catalog root
      val dbs = get("show databases")
      assert(dbs.statusCode() == 200)
      assert(dbs.body().contains("\"values\":[[\"default\"]]"))
      // ?epoch= rescales time (InfluxDB API parameter): raw points at
      // t=10,20 ns → epoch=ns unchanged; an unknown unit → 400
      def getEp(q: String, ep: String) = client.send(
        HttpRequest.newBuilder(URI.create(
          s"http://127.0.0.1:${srv.boundPort}/query?epoch=$ep&q=" +
            java.net.URLEncoder.encode(q, "UTF-8"))).GET().build(),
        HttpResponse.BodyHandlers.ofString())
      val epNs = getEp("select v from cpu where host = 'h2'", "ns")
      assert(epNs.body().contains("[\"cpu\",10,\"h2\",4.0]"),
        epNs.body())
      // u = ns/1000 → t=10 ns floors to 0 µs
      val epU = getEp("select v from cpu where host = 'h2'", "u")
      assert(epU.body().contains("[\"cpu\",0,\"h2\",4.0]"), epU.body())
      assert(getEp("select v from cpu", "fortnights").statusCode()
        == 400)
      // chunked=true streams newline-delimited complete JSON docs of
      // chunk_size rows, "partial":true on every frame but the last —
      // the shape client.go:343-344 consumes (Chunked, ChunkSize)
      def getCh(q: String, extra: String)
          : java.net.http.HttpResponse[String] = client.send(
        HttpRequest.newBuilder(URI.create(
          s"http://127.0.0.1:${srv.boundPort}/query?$extra&q=" +
            java.net.URLEncoder.encode(q, "UTF-8"))).GET().build(),
        HttpResponse.BodyHandlers.ofString())
      val ch = getCh("select * from cpu", "chunked=true&chunk_size=2")
      assert(ch.statusCode() == 200)
      val frames = ch.body().split('\n').filter(_.nonEmpty)
      assert(frames.length == 2, ch.body())
      assert(frames(0).contains("\"partial\":true"))
      assert(!frames(1).contains("\"partial\":true"))
      assert(frames(0).startsWith("{\"results\":[{\"statement_id\":0")
        && frames(1).endsWith("}]}"))
      // 2 rows + 1 row; the union of values equals the full result
      // (no truncation cap on the chunked path — it streams)
      val nVals = frames.map(f =>
        "\\[\"cpu\"".r.findAllIn(f).length).toSeq
      assert(nVals == Seq(2, 1), ch.body())
      // chunk boundary aligned exactly → still no trailing empty frame
      val ch3 = getCh("select * from cpu", "chunked=true&chunk_size=3")
      assert(ch3.body().split('\n').count(_.nonEmpty) == 1)
      assert(!ch3.body().contains("partial"))
      // bad chunk_size → 400 before any stream starts
      assert(getCh("select * from cpu", "chunked=true&chunk_size=0")
        .statusCode() == 400)
      // a plan error on the chunked path is still a clean 400
      assert(getCh("select sum(v) from nosuch", "chunked=true")
        .statusCode() == 400)
      // parse error → 400 with the parser's message
      val bad = get("select maen(v) from cpu")
      assert(bad.statusCode() == 400)
      assert(bad.body().contains("unknown function"))
      // unknown measurement → 400 (planner refusal, not a 500)
      assert(get("select sum(v) from nosuch").statusCode() == 400)
      // missing q → 400
      val noq = client.send(
        HttpRequest.newBuilder(URI.create(
          s"http://127.0.0.1:${srv.boundPort}/query")).GET().build(),
        HttpResponse.BodyHandlers.ofString())
      assert(noq.statusCode() == 400)
    } finally srv.stop()
  }

  test("/write ingests line protocol with InfluxDB semantics: 204 on " +
    "success, upsert by (series, ts), 400 on malformed lines and " +
    "unknown measurements") {
    val spark = SparkSpec.spark
    val root = java.nio.file.Files
      .createTempDirectory("graft_write").toString
    val S = 1704412800000000000L
    val E = 1705708800000000000L
    val job = new graft.operators.CopyJob(spark)
    val cfg = graft.operators.CopyJob.Config(S, E,
      chunkNs = 5 * 86400000000000L, timeCol = "ts")
    job.copyMeasurement(s"${SparkSpec.Sf0001}/events.parquet",
      s"$root/events.parquet", cfg)
    val total = job.readCopied(s"$root/events.parquet").count()
    val ws = new graft.api.WriteService(spark, root,
      seriesCols = Map("events" -> Seq("event_id")),
      chunkNs = 5 * 86400000000000L,
      autoCreate = false) // this test pins the schema-first refusal
    val status = ClusterStatus("OK", 0L, 0L, masterState = true,
      masterLastOkNs = 1L, slaveState = true, slaveLastOkNs = 1L)
    val srv = new StatusServer(0, () => status, () => Nil,
      writeExec = Some(ws.write))
    srv.start()
    try {
      val client = java.net.http.HttpClient.newHttpClient()
      def post(body: String): java.net.http.HttpResponse[String] =
        client.send(HttpRequest.newBuilder(URI.create(
          s"http://127.0.0.1:${srv.boundPort}/write"))
          .POST(java.net.http.HttpRequest.BodyPublishers.ofString(body))
          .build(), HttpResponse.BodyHandlers.ofString())
      // two new points (one tag-routed key, one field-routed) + one
      // within-batch duplicate — the later line wins
      val ts1 = S + 86400000000000L
      val wr = post(
        s"events,event_type=apiwrite,user_id=7 event_id=888888801i," +
          s"value=1.5 $ts1\n" +
        s"events,event_type=apiwrite event_id=888888802i,user_id=8i," +
          s"value=2.5 $ts1\n" +
        s"events,event_type=apiwrite,user_id=7 event_id=888888801i," +
          s"value=9.5 $ts1\n")
      assert(wr.statusCode() == 204, wr.body())
      val after = job.readCopied(s"$root/events.parquet")
      assert(after.count() === total + 2)
      val got = after.filter(col("event_type") === "apiwrite")
        .orderBy(col("event_id"))
        .collect().map(r => (r.getAs[Long]("event_id"),
          r.getAs[Long]("user_id"), r.getAs[Double]("value")))
      assert(got.toSeq ===
        Seq((888888801L, 7L, 9.5), (888888802L, 8L, 2.5)))
      // re-writing the SAME point upserts (count stable, value moves)
      assert(post(s"events,event_type=apiwrite,user_id=7 " +
        s"event_id=888888801i,value=4.25 $ts1\n").statusCode() == 204)
      val again = job.readCopied(s"$root/events.parquet")
      assert(again.count() === total + 2)
      assert(again.filter(col("event_id") === 888888801L)
        .head().getAs[Double]("value") === 4.25)
      // strict batch: one malformed line refuses the whole write
      assert(post("events value=1.0 123\nnot a line\n")
        .statusCode() == 400)
      // unknown measurement refuses (schema-first, no auto-create)
      val unk = post(s"nosuch,h=a v=1.0 $ts1")
      assert(unk.statusCode() == 400 &&
        unk.body().contains("unknown measurement"))
      // ATOMIC strict batch: a batch touching KNOWN 'events' plus an
      // unknown 'zzz' must leave 'events' untouched — measurement
      // existence is validated before any write, not mid-loop
      val before = job.readCopied(s"$root/events.parquet").count()
      val mixed = post(
        s"events,event_type=apiwrite,user_id=7 event_id=888888809i," +
          s"value=3.5 $ts1\nzzz,h=a v=1.0 $ts1")
      assert(mixed.statusCode() == 400)
      assert(job.readCopied(s"$root/events.parquet").count() == before)
      // timestampless line refuses (no server-time stamping under
      // last-write-wins — the whole batch would collapse onto t=0)
      val noTs = post("events,event_type=apiwrite,user_id=7 " +
        "event_id=888888810i,value=1.0")
      assert(noTs.statusCode() == 400 &&
        noTs.body().contains("no timestamp"), noTs.body())
      // FIELD-SET MERGE (InfluxDB duplicate-point semantics): a
      // partial point carrying only `value` keeps the stored row's
      // other fields instead of nulling them
      assert(post(s"events,event_type=apiwrite event_id=888888801i," +
        s"value=7.75 $ts1\n").statusCode() == 204)
      val mergedRow = job.readCopied(s"$root/events.parquet")
        .filter(col("event_id") === 888888801L).head()
      assert(mergedRow.getAs[Double]("value") === 7.75)
      assert(mergedRow.getAs[Long]("user_id") === 7L) // survived merge
      assert(mergedRow.getAs[String]("event_type") === "apiwrite")
    } finally srv.stop()
  }

  test("/write auto-creates unknown measurements with inferred LP " +
    "types (InfluxDB 1.x semantics: the plane a fresh slave exercises " +
    "before replicaschema runs)") {
    val spark = SparkSpec.spark
    val root = java.nio.file.Files
      .createTempDirectory("graft_write_ac").toString
    val ws = new graft.api.WriteService(spark, root,
      chunkNs = 86400000000000L)
    val t0 = 1704412800000000000L
    ws.write(
      s"cpu,host=h1,region=eu usage=0.52,cores=8i,online=t," +
        s"""qnum="123" $t0\n""" +
        s"cpu,host=h2,region=us usage=0.11,cores=4i,online=f," +
        s"note=${"\"warm\""} ${t0 + 1000000000L}\n")
    val df = new graft.operators.CopyJob(spark)
      .readCopied(s"$root/cpu.parquet")
    import org.apache.spark.sql.types._
    val types = df.schema.fields.map(f => f.name -> f.dataType).toMap
    assert(types("host") == StringType && types("region") == StringType)
    assert(types("usage") == DoubleType)
    assert(types("cores") == LongType)
    assert(types("online") == BooleanType)
    assert(types("note") == StringType)
    // a QUOTED numeric literal is a string (InfluxDB types quoted
    // values as strings; the scanner consumes the quote marks, so the
    // parser's quotedFields flag — not the raw text — must drive this)
    assert(types("qnum") == StringType)
    assert(types("ts") == LongType) // canonical ns epoch
    assert(df.count() == 2)
    val h1 = df.filter(col("host") === "h1").head()
    assert(h1.getAs[Double]("usage") === 0.52 &&
      h1.getAs[Long]("cores") === 8L &&
      h1.getAs[Boolean]("online"))
    // second write UPSERTS against the created measurement (series
    // key = tag set): same (host,region,ts) merges, count stable
    ws.write(s"cpu,host=h1,region=eu usage=0.99 $t0\n")
    val again = new graft.operators.CopyJob(spark)
      .readCopied(s"$root/cpu.parquet")
    assert(again.count() == 2)
    val h1b = again.filter(col("host") === "h1").head()
    assert(h1b.getAs[Double]("usage") === 0.99)
    assert(h1b.getAs[Long]("cores") === 8L) // field-set merge kept it
  }

  test("login/session/action endpoints (webserver.go:173-208, " +
    "api.go:47-61)") {
    val status = ClusterStatus("OK", 0L, 0L, masterState = true,
      masterLastOkNs = 1L, slaveState = true, slaveLastOkNs = 1L)
    val srv = new StatusServer(0, () => status, () => Nil,
      adminUser = "adm", adminPassword = "s3cret")
    srv.start()
    try {
      val client = HttpClient.newHttpClient()
      val base = s"http://127.0.0.1:${srv.boundPort}"
      def post(path: String, body: String, cookie: String = "")
          : HttpResponse[String] = {
        val b = HttpRequest.newBuilder(URI.create(base + path))
          .POST(HttpRequest.BodyPublishers.ofString(body))
        if (cookie.nonEmpty) b.header("Cookie", cookie): Unit
        client.send(b.build(), HttpResponse.BodyHandlers.ofString())
      }

      // action without a session → 401
      assert(post("/api/action/restart", "").statusCode() == 401)
      // wrong credentials → 400 (myLoginHandler error branch)
      assert(post("/login",
        """{"username":"adm","password":"wrong"}""").statusCode() == 400)
      // good credentials → 200 + session cookie
      val login = post("/login",
        """{"username":"adm","password":"s3cret"}""")
      assert(login.statusCode() == 200)
      val cookie = login.headers().firstValue("Set-Cookie").get()
        .split(';').head
      // action with the session → the reference's stub payload
      val act = post("/api/action/restart", "", cookie)
      assert(act.statusCode() == 200 && act.body() == "\"hola\"")
      // per-server health stub
      val h = client.send(HttpRequest.newBuilder(
        URI.create(base + "/api/health/influxdb01")).GET().build(),
        HttpResponse.BodyHandlers.ofString())
      assert(h.statusCode() == 200 && h.body() == "\"hola\"")
      // logout destroys the session
      assert(post("/logout", "", cookie).statusCode() == 200)
      assert(post("/api/action/restart", "", cookie).statusCode() == 401)
      // GET on /login and /logout → 405 (credentials in a URL would hit
      // access logs; method restriction bounds the brute-force surface)
      for (p <- Seq("/login", "/logout")) {
        val g = client.send(HttpRequest.newBuilder(
          URI.create(base + p)).GET().build(),
          HttpResponse.BodyHandlers.ofString())
        assert(g.statusCode() == 405, s"$p: ${g.statusCode()}")
      }
    } finally srv.stop()
  }

  test("static UI dir serves at / (webserver.go:81-87): index.html for " +
    "the root, correct content types, API still wins, traversal closed") {
    import java.nio.file.{Files, Paths}
    val dir = Files.createTempDirectory("graft_static").toString
    Files.writeString(Paths.get(dir, "index.html"),
      "<html>graft ui</html>"): Unit
    Files.writeString(Paths.get(dir, "app.css"), "body{}"): Unit
    val status = ClusterStatus("OK", 0L, 0L, masterState = true,
      masterLastOkNs = 1L, slaveState = true, slaveLastOkNs = 1L)
    val srv = new StatusServer(0, () => status, () => Nil,
      staticDir = dir)
    srv.start()
    try {
      val client = HttpClient.newHttpClient()
      def get(path: String): HttpResponse[String] = client.send(
        HttpRequest.newBuilder(URI.create(
          s"http://127.0.0.1:${srv.boundPort}$path")).GET().build(),
        HttpResponse.BodyHandlers.ofString())
      val root = get("/")
      assert(root.statusCode() == 200)
      assert(root.body() == "<html>graft ui</html>")
      assert(root.headers().firstValue("Content-Type").get() == "text/html")
      val css = get("/app.css")
      assert(css.statusCode() == 200 && css.body() == "body{}")
      assert(css.headers().firstValue("Content-Type").get() == "text/css")
      assert(get("/missing.js").statusCode() == 404)
      // longest-prefix routing: the JSON API still wins over the static
      // fallback
      assert(get("/api/health").body().contains("\"ClusterState\""))
      // path traversal out of the static dir is a 404, not a file read
      // (the JDK server normalizes "..", so encode the dots)
      assert(get("/%2e%2e/%2e%2e/etc/passwd").statusCode() == 404)
    } finally srv.stop()
  }

  test("a reference-shaped replicaschema runs through HTTP /query " +
    "alone: the exact CREATE DATABASE / CREATE RETENTION POLICY / " +
    "ALTER … DEFAULT statements client.go:90,112,137 POST, read back " +
    "via SHOW; the mutation gate (default) refuses all of it") {
    val spark = SparkSpec.spark
    val root = java.nio.file.Files
      .createTempDirectory("graft_ddl_http").toString + "/cat"
    val status = ClusterStatus("OK", 0L, 0L, masterState = true,
      masterLastOkNs = 1L, slaveState = true, slaveLastOkNs = 1L)
    val srv = new StatusServer(0, () => status, () => Nil,
      queryExec = Some(graft.ql.QlPlanner.executor(spark, root, Nil,
        allowMutations = true)))
    val closed = new StatusServer(0, () => status, () => Nil,
      queryExec = Some(graft.ql.QlPlanner.executor(spark, root, Nil)))
    srv.start(); closed.start()
    try {
      val client = HttpClient.newHttpClient()
      def post(port: Int, q: String): HttpResponse[String] =
        client.send(HttpRequest.newBuilder(URI.create(
          s"http://127.0.0.1:$port/query"))
          .POST(HttpRequest.BodyPublishers.ofString(
            "q=" + java.net.URLEncoder.encode(q, "UTF-8")))
          .build(), HttpResponse.BodyHandlers.ofString())

      // the replicaschema sequence, verbatim Go-emitted shapes
      // (compound durations, doubled quotes): db + default RP, a
      // second RP, then the default flip
      assert(post(srv.boundPort,
        """CREATE DATABASE "telegraf" WITH DURATION 168h0m0s """ +
          """REPLICATION 1 SHARD DURATION 24h0m0s NAME "rp_w"""")
        .statusCode() == 200)
      assert(post(srv.boundPort,
        """CREATE RETENTION POLICY "rp_month" ON "telegraf" """ +
          """DURATION 720h0m0s REPLICATION 1 SHARD DURATION """ +
          """168h0m0s""").statusCode() == 200)
      assert(post(srv.boundPort,
        """ALTER RETENTION POLICY "rp_month" ON "telegraf" DEFAULT""")
        .statusCode() == 200)
      val shown = post(srv.boundPort,
        """SHOW RETENTION POLICIES ON "telegraf"""").body()
      assert(shown.contains("rp_w") && shown.contains("rp_month"),
        shown)
      assert(shown.contains("604800000000000"), shown) // 168h
      assert(shown.contains("2592000000000000"), shown) // 720h
      // default moved exclusively: rp_month true, rp_w false
      assert(shown.contains("[\"telegraf\",\"rp_month\"," +
        "2592000000000000,604800000000000,1,true]"), shown)
      assert(shown.contains("[\"telegraf\",\"rp_w\"," +
        "604800000000000,86400000000000,1,false]"), shown)
      // DROP DATABASE closes the loop
      assert(post(srv.boundPort, """DROP DATABASE "telegraf"""")
        .statusCode() == 200)
      assert(post(srv.boundPort, """DROP DATABASE "telegraf"""")
        .statusCode() == 400) // second drop: database not found
      // the default-closed executor refuses every mutating family
      // with a 400, including the DDL (ADVICE r12: an unauthenticated
      // GET must not delete data unless the operator opted in)
      for (stmt <- Seq(
        """CREATE DATABASE "x"""",
        """DROP DATABASE "x"""",
        """DELETE FROM "events"""",
        """DROP MEASUREMENT "events"""")) {
        val r = post(closed.boundPort, stmt)
        assert(r.statusCode() == 400 &&
          r.body().contains("allowMutations"), s"$stmt -> ${r.body()}")
      }
    } finally { srv.stop(); closed.stop() }
  }

  test("data-plane u=/p= credentials (the InfluxDB 1.x auth-enabled " +
    "analog, client.go:46-56): /query and /write refuse credential-" +
    "less and wrong-credential requests with 401 and accept matching " +
    "params — so the mutating surface (DDL over /query, POST /write) " +
    "composes with allowMutations: reachable only authenticated") {
    val spark = SparkSpec.spark
    val root = java.nio.file.Files
      .createTempDirectory("graft_auth_cat").toString + "/cat"
    val wroot = java.nio.file.Files
      .createTempDirectory("graft_auth_w").toString
    val ws = new graft.api.WriteService(spark, wroot)
    val status = ClusterStatus("OK", 0L, 0L, masterState = true,
      masterLastOkNs = 1L, slaveState = true, slaveLastOkNs = 1L)
    val srv = new StatusServer(0, () => status, () => Nil,
      queryExec = Some(graft.ql.QlPlanner.executor(spark, root, Nil,
        allowMutations = true)),
      writeExec = Some(ws.write),
      dataUser = "graft", dataPassword = "s3cret")
    srv.start()
    try {
      val client = HttpClient.newHttpClient()
      val base = s"http://127.0.0.1:${srv.boundPort}"
      def getQ(q: String, cred: String): HttpResponse[String] =
        client.send(HttpRequest.newBuilder(URI.create(
          s"$base/query?$cred&q=" +
            java.net.URLEncoder.encode(q, "UTF-8"))).GET().build(),
          HttpResponse.BodyHandlers.ofString())
      def postW(body: String, cred: String): HttpResponse[String] =
        client.send(HttpRequest.newBuilder(URI.create(
          s"$base/write?$cred"))
          .POST(HttpRequest.BodyPublishers.ofString(body))
          .build(), HttpResponse.BodyHandlers.ofString())

      val ok = "u=graft&p=s3cret"
      // reads: 401 without or with wrong credentials, 200 with them
      val anon = getQ("show databases", "x=1")
      assert(anon.statusCode() == 401 &&
        anon.body().contains("authorization failed"), anon.body())
      assert(getQ("show databases", "u=graft&p=wrong")
        .statusCode() == 401)
      assert(getQ("show databases", ok).statusCode() == 200)
      // the mutating families: credential-less is a 401 BEFORE the
      // allowMutations gate even sees the statement; authenticated,
      // the reference-shaped replicaschema DDL runs end-to-end
      assert(getQ("""CREATE DATABASE "telegraf" WITH DURATION """ +
        """168h0m0s REPLICATION 1 NAME "rp_w"""", "z=1")
        .statusCode() == 401)
      assert(getQ("""CREATE DATABASE "telegraf" WITH DURATION """ +
        """168h0m0s REPLICATION 1 NAME "rp_w"""", ok)
        .statusCode() == 200)
      val shown = getQ("""SHOW RETENTION POLICIES ON "telegraf"""", ok)
      assert(shown.statusCode() == 200 &&
        shown.body().contains("rp_w"), shown.body())
      // writes: 401 leaves storage untouched (no auto-create), 204
      // with credentials persists
      val t0 = 1704412800000000000L
      val lp = s"cpu,host=h1 v=0.5 $t0"
      assert(postW(lp, "nope=1").statusCode() == 401)
      assert(!new java.io.File(s"$wroot/cpu.parquet").exists())
      assert(postW(lp, ok).statusCode() == 204)
      assert(new java.io.File(s"$wroot/cpu.parquet").exists())
    } finally srv.stop()
  }

  test("/write db param routes hierarchical auto-create under the " +
    "target db's default RP (catalog-visible, InfluxDB semantics), " +
    "refuses db-less and unknown-db auto-creates, refuses flat " +
    "part-file targets, and repeat writes resolve the stored schema") {
    val spark = SparkSpec.spark
    import spark.implicits._
    val root = java.nio.file.Files
      .createTempDirectory("graft_write_h").toString
    assert(new java.io.File(s"$root/mydb/rp0").mkdirs())
    val ws = new graft.api.WriteService(spark, root,
      chunkNs = 86400000000000L)
    val t0 = 1704412800000000000L
    // hierarchical + no db param → refusal naming the param
    val e1 = intercept[IllegalArgumentException](
      ws.write(s"cpu,host=h1 v=1.0 $t0"))
    assert(e1.getMessage.contains("db query param"), e1.getMessage)
    // unknown db → InfluxDB's own refusal
    val e2 = intercept[IllegalArgumentException](
      ws.write(s"cpu,host=h1 v=1.0 $t0", Some("nodb")))
    assert(e2.getMessage.contains("database not found"), e2.getMessage)
    assert(!new java.io.File(s"$root/cpu.parquet").exists())
    // with db: lands under mydb's default RP and the catalog walk
    // surfaces it (the pre-r14 flat layout was invisible to
    // hierarchical getSchema — every batch re-entered auto-create)
    ws.write(s"cpu,host=h1 v=1.0 $t0", Some("mydb"))
    assert(new java.io.File(s"$root/mydb/rp0/cpu.parquet").exists())
    val sch = new graft.catalog.Catalog(spark).getSchema(root)
    assert(sch.exists(d => d.name == "mydb" &&
      d.rps.exists(r => r.name == "rp0" &&
        r.measurements.exists(_.name == "cpu"))), sch.toString)
    // the second write resolves the measurement as KNOWN (the cached
    // schema was invalidated by the create): upsert, count stable
    ws.write(s"cpu,host=h1 v=2.0 $t0", Some("mydb"))
    val df = new graft.operators.CopyJob(spark)
      .readCopied(s"$root/mydb/rp0/cpu.parquet")
    assert(df.count() == 1)
    assert(df.head().getAs[Double]("v") === 2.0)
    // a flat part-file parquet at the root (df.write.parquet output)
    // refuses the write BEFORE anything persists — upserting __bucket=
    // dirs into it would corrupt partition discovery (ADVICE r13)
    Seq((1L, "x")).toDF("a", "b").write.parquet(s"$root/junk.parquet")
    val e3 = intercept[IllegalArgumentException](
      ws.write(s"junk,h=a v=1.0 $t0", Some("mydb")))
    assert(e3.getMessage.contains("flat parquet"), e3.getMessage)
  }

  test("chunked /query breaks frames at series boundaries (InfluxDB " +
    "1.x chunking) and streams a large result in bounded frames " +
    "through toLocalIterator — never one driver-resident collect") {
    val spark = SparkSpec.spark
    import spark.implicits._
    val cpu = Seq(("h1", 10L, 1.0), ("h1", 20L, 2.0))
      .toDF("host", "t", "v")
    val mem = Seq(("h1", 10L, 3.0)).toDF("host", "t", "v")
    val cat = Seq(
      graft.ql.QlTable("cpu", cpu, "t", Seq("host"), Seq("v")),
      graft.ql.QlTable("mem", mem, "t", Seq("host"), Seq("v")))
    // 25k ordered rows: 10000+10000+5000 at the client.go:344 default
    // chunk size — the registry-scale shape (ql_downsample_fill_prev
    // is 270k rows through this same path at sf0.01)
    val big = spark.range(25000).coalesce(4).selectExpr(
      "'big' AS measurement", "id AS time", "id * 2 AS v")
    val ex0 = graft.ql.QlPlanner.executor(spark, SparkSpec.Sf0001, cat)
    val exec: String => org.apache.spark.sql.DataFrame = {
      case "big" => big
      case q     => ex0(q)
    }
    val status = ClusterStatus("OK", 0L, 0L, masterState = true,
      masterLastOkNs = 1L, slaveState = true, slaveLastOkNs = 1L)
    val srv = new StatusServer(0, () => status, () => Nil,
      queryExec = Some(exec))
    srv.start()
    try {
      val client = HttpClient.newHttpClient()
      def getCh(q: String, extra: String): HttpResponse[String] =
        client.send(HttpRequest.newBuilder(URI.create(
          s"http://127.0.0.1:${srv.boundPort}/query?$extra&q=" +
            java.net.URLEncoder.encode(q, "UTF-8"))).GET().build(),
          HttpResponse.BodyHandlers.ofString())
      // regex FROM spans two measurements; chunk_size would fit all 3
      // rows in one frame, but the frame must close at the cpu→mem
      // boundary so no frame carries rows mislabeled with the other
      // measurement's name
      val ch = getCh("select * from /cpu|mem/",
        "chunked=true&chunk_size=100")
      assert(ch.statusCode() == 200)
      val frames = ch.body().split('\n').filter(_.nonEmpty)
      assert(frames.length == 2, ch.body())
      assert(frames(0).contains("\"name\":\"cpu\"") &&
        "\\[\"cpu\"".r.findAllIn(frames(0)).length == 2, frames(0))
      assert(frames(1).contains("\"name\":\"mem\"") &&
        "\\[\"mem\"".r.findAllIn(frames(1)).length == 1, frames(1))
      assert(frames(0).contains("\"partial\":true"))
      assert(!frames(1).contains("\"partial\":true"))
      // the large result: 3 frames of 10000/10000/5000 values, only
      // the last non-partial; toLocalIterator keeps at most one
      // partition of the 4 driver-resident at a time (the pin this
      // test exists for — a future "optimization" reintroducing a
      // full collect would still pass the small cases above)
      val bigResp = getCh("big", "chunked=true&chunk_size=10000")
      assert(bigResp.statusCode() == 200)
      val bigFrames = bigResp.body().split('\n').filter(_.nonEmpty)
      assert(bigFrames.length == 3, s"${bigFrames.length} frames")
      val counts = bigFrames.map(f =>
        "\\[\"big\"".r.findAllIn(f).length).toSeq
      assert(counts == Seq(10000, 10000, 5000), counts.toString)
      assert(bigFrames.init.forall(_.contains("\"partial\":true")))
      assert(!bigFrames.last.contains("\"partial\":true"))
    } finally srv.stop()
  }

  test("write-plane cost contract: batches into KNOWN measurements " +
    "pay ZERO catalog walks (the r13 regression was one walk per " +
    "batch); an auto-create pays a bounded constant (fill + the " +
    "stale-cache re-walk) and later batches stay walk-free") {
    val spark = SparkSpec.spark
    import spark.implicits._
    val root = java.nio.file.Files
      .createTempDirectory("graft_walks").toString
    val t0 = 1704412800000000000L
    val ws = new graft.api.WriteService(spark, root, chunkNs = 86400000000000L)
    // first write auto-creates (flat root): the resolution miss pays
    // the cache fill + one stale-cache re-walk, never more
    ws.write(s"cpu,host=h1 v=1.0 $t0"): Unit
    val afterCreate = ws.schemaWalks
    assert(afterCreate <= 2, s"auto-create paid $afterCreate walks")
    // known-measurement batches resolve by the flat single existence
    // check — zero additional walks however many batches arrive
    (1 to 3).foreach(i =>
      ws.write(s"cpu,host=h1 v=$i.5 ${t0 + i * 1000L}"): Unit)
    assert(ws.schemaWalks == afterCreate,
      s"known-measurement batches paid ${ws.schemaWalks - afterCreate} " +
        "walks — the r13 per-batch-walk regression is back")
  }

  test("concurrent /write batches into ONE measurement serialize on " +
    "the per-path monitor: every point lands exactly once (the " +
    "crash-safe rename/promote sequence must never race itself)") {
    val spark = SparkSpec.spark
    val root = java.nio.file.Files
      .createTempDirectory("graft_conc_w").toString
    val ws = new graft.api.WriteService(spark, root,
      seriesCols = Map("cpu" -> Seq("host")),
      chunkNs = 86400000000000L)
    val t0 = 1704412800000000000L
    // seed the measurement so every thread takes the upsert path
    ws.write(s"cpu,host=seed v=0.0 $t0"): Unit
    val threads = 4
    val perThread = 3
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    try {
      val tasks = (0 until threads).map { t =>
        pool.submit(new java.util.concurrent.Callable[Long] {
          def call(): Long =
            // distinct series per line; timestamps collide ACROSS
            // threads (same chunk) — the rewrite-race hot spot
            (0 until perThread).map(i => ws.write(
              s"cpu,host=h${t}_$i v=${t}.$i ${t0 + i * 1000L}")).sum
        })
      }
      tasks.foreach(_.get())
    } finally pool.shutdown()
    val got = new graft.operators.CopyJob(spark)
      .readCopied(s"$root/cpu.parquet")
    assert(got.count() == 1L + threads * perThread,
      s"expected ${1 + threads * perThread} points, got ${got.count()}")
    assert(got.select("host").distinct().count() ==
      1L + threads * perThread)
  }

  test("InfluxDB 1.x API compat: /write honors ?precision= and gzip'd " +
    "bodies (telegraf's default transport), /query executes " +
    "';'-separated multi-statement payloads with ordinal " +
    "statement_ids, and the statement splitter is quote-aware") {
    val spark = SparkSpec.spark
    val wroot = java.nio.file.Files
      .createTempDirectory("graft_compat_w").toString
    val ws = new graft.api.WriteService(spark, wroot)
    val status = ClusterStatus("OK", 0L, 0L, masterState = true,
      masterLastOkNs = 1L, slaveState = true, slaveLastOkNs = 1L)
    val srv = new StatusServer(0, () => status, () => Nil,
      queryExec = Some(graft.ql.QlPlanner.executor(spark, wroot, Nil)),
      writeExec = Some(ws.write))
    srv.start()
    try {
      val client = HttpClient.newHttpClient()
      val base = s"http://127.0.0.1:${srv.boundPort}"
      val t0s = 1704412800L // SECONDS since epoch
      // precision=s: the line's timestamp is in seconds; stored time
      // must land on the canonical ns epoch
      val w1 = client.send(HttpRequest.newBuilder(URI.create(
        s"$base/write?precision=s"))
        .POST(HttpRequest.BodyPublishers.ofString(
          s"cpu,host=h1 v=1.0 $t0s")).build(),
        HttpResponse.BodyHandlers.ofString())
      assert(w1.statusCode() == 204, w1.body())
      val ts = new graft.operators.CopyJob(spark)
        .readCopied(s"$wroot/cpu.parquet")
        .select("ts").collect().map(_.getLong(0)).toSeq
      assert(ts == Seq(t0s * 1000000000L), ts.toString)
      // bad precision refuses with 400 before touching storage
      assert(client.send(HttpRequest.newBuilder(URI.create(
        s"$base/write?precision=fortnight"))
        .POST(HttpRequest.BodyPublishers.ofString(
          s"cpu,host=h1 v=9.0 $t0s")).build(),
        HttpResponse.BodyHandlers.ofString()).statusCode() == 400)
      // gzip'd body + precision=s together
      val bos = new java.io.ByteArrayOutputStream()
      val gz = new java.util.zip.GZIPOutputStream(bos)
      gz.write(s"cpu,host=h2 v=2.0 ${t0s + 60}".getBytes("UTF-8"))
      gz.close()
      val w2 = client.send(HttpRequest.newBuilder(URI.create(
        s"$base/write?precision=s"))
        .header("Content-Encoding", "gzip")
        .POST(HttpRequest.BodyPublishers.ofByteArray(bos.toByteArray))
        .build(), HttpResponse.BodyHandlers.ofString())
      assert(w2.statusCode() == 204, w2.body())
      assert(new graft.operators.CopyJob(spark)
        .readCopied(s"$wroot/cpu.parquet").count() == 2L)
      // /ping: 204 + version header, reachable without credentials
      // (the probe every client calls first, influxmonitor.go:115)
      val ping = client.send(HttpRequest.newBuilder(URI.create(
        s"$base/ping")).GET().build(),
        HttpResponse.BodyHandlers.ofString())
      assert(ping.statusCode() == 204)
      assert(ping.headers().firstValue("X-Influxdb-Version")
        .orElse("") == "1.8-graft")
      // multi-statement /query: two ordinal results entries
      val q = client.send(HttpRequest.newBuilder(URI.create(
        s"$base/query?q=" + java.net.URLEncoder.encode(
          "show databases ; show measurements", "UTF-8"))).GET()
        .build(), HttpResponse.BodyHandlers.ofString())
      assert(q.statusCode() == 200, q.body())
      assert(q.body().contains("\"statement_id\":0") &&
        q.body().contains("\"statement_id\":1"), q.body())
      assert(q.body().contains("cpu"), q.body())
      // per-statement errors (r16, InfluxDB 1.x contract): one bad
      // statement yields its own {"statement_id":i,"error":...} entry
      // and the OTHERS still serve under a 200 — a batching client
      // must not lose every result to one typo
      val qe = client.send(HttpRequest.newBuilder(URI.create(
        s"$base/query?q=" + java.net.URLEncoder.encode(
          "show databases ; select v from no_such_meas ; " +
            "show measurements", "UTF-8"))).GET()
        .build(), HttpResponse.BodyHandlers.ofString())
      assert(qe.statusCode() == 200, qe.body())
      assert(qe.body().contains("\"statement_id\":0") &&
        qe.body().contains("\"statement_id\":2") &&
        qe.body().contains("\"statement_id\":1,\"error\":"), qe.body())
      assert(qe.body().contains("cpu"), qe.body())
      // request-level problems keep the 400: bad epoch unit
      val qb = client.send(HttpRequest.newBuilder(URI.create(
        s"$base/query?epoch=xx&q=" + java.net.URLEncoder.encode(
          "show databases", "UTF-8"))).GET()
        .build(), HttpResponse.BodyHandlers.ofString())
      assert(qb.statusCode() == 400, qb.body())
      // the CHUNKED path honors the same per-statement contract
      // (r16): bad middle statement → its own error frame, the other
      // statements' frames still stream under the committed 200
      val qc = client.send(HttpRequest.newBuilder(URI.create(
        s"$base/query?chunked=true&chunk_size=2&q=" +
          java.net.URLEncoder.encode(
            "show databases ; select v from no_such_meas ; " +
              "show measurements", "UTF-8"))).GET()
        .build(), HttpResponse.BodyHandlers.ofString())
      assert(qc.statusCode() == 200, qc.body())
      val frames2 = qc.body().split('\n').filter(_.nonEmpty)
      assert(frames2.exists(f => f.contains("\"statement_id\":1") &&
        f.contains("\"error\":")), qc.body())
      assert(frames2.exists(_.contains("\"statement_id\":0")) &&
        frames2.exists(f => f.contains("\"statement_id\":2") &&
          f.contains("cpu")), qc.body())
      // the splitter: ';' inside quoted literals/identifiers is data
      assert(srv // accessible: private[graft]
        .splitStatements("""select 'a;b' from "m;n" ; show databases""")
        == Seq("""select 'a;b' from "m;n"""", "show databases"))
    } finally srv.stop()
  }

  test("E2E from TOML config to 401/200: the hamonitor daemon's server " +
    "built from AgentConfigFile credentials ([http] data-user/" +
    "data-passwd/allow-mutations) refuses anonymous /query and /write, " +
    "accepts u=/p= params AND Authorization: Basic (the form the " +
    "reference's client sends, client.go:42-48), and the authenticated " +
    "workflow runs end to end: CREATE DATABASE over /query, /write " +
    "into it (the DDL invalidates the write plane's cached walk), " +
    "then SELECT the written point back through the live catalog") {
    val spark = SparkSpec.spark
    val slave = java.nio.file.Files
      .createTempDirectory("graft_toml_auth").toString
    val toml =
      s"""
      [general]
      master-db = "m"
      slave-db = "s"
      check-interval = "10s"
      [http]
      bind-addr = "0.0.0.0:0"
      admin-user = "ops"
      admin-passwd = "opspw"
      data-user = "graft"
      data-passwd = "s3cret" # comment after value
      allow-mutations = true
      [[influxdb]]
      name = "m"
      location = "$slave"
      [[influxdb]]
      name = "s"
      location = "$slave"
      """
    val cfg = graft.agent.AgentConfigFile.apply(
      graft.agent.AgentConfigFile.parse(toml),
      graft.agent.AgentConfig("", ""))
    assert(cfg.dataUser == "graft" && cfg.dataPassword == "s3cret")
    assert(cfg.allowMutations && cfg.adminUser == "ops")
    assert(cfg.slaveRoot == slave)
    val status = ClusterStatus("OK", 0L, 0L, masterState = true,
      masterLastOkNs = 1L, slaveState = true, slaveLastOkNs = 1L)
    val agent = new graft.agent.Agent(spark, cfg,
      masterProbeOpt = Some(() => true))
    val srv = agent.statusServer(() => status)
    srv.start()
    try {
      val client = HttpClient.newHttpClient()
      val base = s"http://127.0.0.1:${srv.boundPort}"
      def getQ(q: String, cred: String, hdr: Seq[String] = Nil)
          : HttpResponse[String] = {
        val b = HttpRequest.newBuilder(URI.create(
          s"$base/query?$cred&q=" +
            java.net.URLEncoder.encode(q, "UTF-8"))).GET()
        val wh = if (hdr.isEmpty) b else b.headers(hdr: _*)
        client.send(wh.build(), HttpResponse.BodyHandlers.ofString())
      }
      def postW(body: String, cred: String, hdr: Seq[String] = Nil)
          : HttpResponse[String] = {
        val b = HttpRequest.newBuilder(URI.create(s"$base/write?$cred"))
          .POST(HttpRequest.BodyPublishers.ofString(body))
        val wh = if (hdr.isEmpty) b else b.headers(hdr: _*)
        client.send(wh.build(), HttpResponse.BodyHandlers.ofString())
      }
      val basic = "Basic " + java.util.Base64.getEncoder.encodeToString(
        "graft:s3cret".getBytes("UTF-8"))
      // anonymous and wrong-credential: 401 on both endpoints
      assert(getQ("show databases", "x=1").statusCode() == 401)
      assert(getQ("show databases", "u=graft&p=nope").statusCode() == 401)
      assert(postW("cpu,h=a v=1 1704412800000000000", "x=1")
        .statusCode() == 401)
      // wrong Basic password: 401 (header path exercises the compare)
      val badBasic = "Basic " + java.util.Base64.getEncoder
        .encodeToString("graft:wrong".getBytes("UTF-8"))
      assert(getQ("show databases", "x=1",
        Seq("Authorization", badBasic)).statusCode() == 401)
      // u=/p= params and Authorization: Basic both authenticate reads
      assert(getQ("show databases", "u=graft&p=s3cret")
        .statusCode() == 200)
      assert(getQ("show databases", "x=1", Seq("Authorization", basic))
        .statusCode() == 200)
      // the reference-shaped workflow, all through the Basic header
      // (what its client sends on EVERY query and write): DDL, write
      // into the new db, select the point back
      assert(getQ("""CREATE DATABASE "telegraf" WITH DURATION """ +
        """168h0m0s REPLICATION 1 NAME "rp_w"""", "x=1",
        Seq("Authorization", basic)).statusCode() == 200)
      val t0 = 1704412800000000000L
      val w = postW(s"cpu,host=h1 busy=0.75 $t0", "db=telegraf",
        Seq("Authorization", basic))
      assert(w.statusCode() == 204, w.body())
      assert(new java.io.File(s"$slave/telegraf/rp_w/cpu.parquet")
        .exists())
      val sel = getQ("select busy from cpu", "x=1",
        Seq("Authorization", basic))
      assert(sel.statusCode() == 200 && sel.body().contains("0.75"),
        sel.body())
      // db= scoping (InfluxDB request semantics): the measurement
      // resolves inside its database and is INVISIBLE outside it
      val inDb = getQ("select busy from cpu", "db=telegraf",
        Seq("Authorization", basic))
      assert(inDb.statusCode() == 200 && inDb.body().contains("0.75"),
        inDb.body())
      val wrongDb = getQ("select busy from cpu", "db=nosuchdb",
        Seq("Authorization", basic))
      assert(wrongDb.statusCode() == 400, wrongDb.body())
      // scoped SHOW discovery restricts to the named db
      val sm = getQ("show measurements", "db=telegraf",
        Seq("Authorization", basic))
      assert(sm.statusCode() == 200 && sm.body().contains("cpu"))
      val smEmpty = getQ("show measurements", "db=nosuchdb",
        Seq("Authorization", basic))
      assert(smEmpty.statusCode() == 200 &&
        !smEmpty.body().contains("cpu"), smEmpty.body())
    } finally srv.stop()
  }

  private val idle = ClusterStatus("OK", 0L, 0L, masterState = true,
    masterLastOkNs = 1L, slaveState = true, slaveLastOkNs = 1L)
  // a request the server never answers fails the test instead of hanging it
  private val Patience = java.time.Duration.ofSeconds(30)

  test("a malformed percent-escape answers 400, never a dropped " +
    "connection: the /query form body and the /write and /query URIs") {
    val srv = new StatusServer(0, () => idle, () => Nil,
      queryExecScoped = Some((_: String, _: Option[String]) =>
        fail("a malformed request must not reach the executor")),
      writeExec = Some((_: String, _: Option[String], _: Long) =>
        fail("a malformed request must not reach the writer")))
    srv.start()
    try {
      val client = HttpClient.newHttpClient()
      // the form body is decoded by the handler itself
      val form = client.send(HttpRequest.newBuilder(URI.create(
        s"http://127.0.0.1:${srv.boundPort}/query")).timeout(Patience)
        .POST(HttpRequest.BodyPublishers.ofString("q=%ZZ")).build(),
        HttpResponse.BodyHandlers.ofString())
      assert(form.statusCode() == 400, form.body())
      assert(form.body().startsWith("{\"error\":"), form.body())
      // java.net.URI refuses these request lines, so they go over a raw
      // socket; a dropped connection reads as a null status line
      def status(method: String, path: String): String = {
        val so = new java.net.Socket("127.0.0.1", srv.boundPort)
        try {
          so.setSoTimeout(10000)
          so.getOutputStream.write((s"$method $path HTTP/1.1\r\n" +
            "Host: localhost\r\nContent-Length: 0\r\n" +
            "Connection: close\r\n\r\n").getBytes("UTF-8"))
          new java.io.BufferedReader(new java.io.InputStreamReader(
            so.getInputStream, "UTF-8")).readLine()
        } finally so.close()
      }
      for ((method, path) <- Seq("GET" -> "/query?q=%ZZ",
          "POST" -> "/write?db=%ZZ"))
        assert(status(method, path) == "HTTP/1.1 400 Bad Request",
          s"$method $path")
    } finally srv.stop()
  }

  test("the control lane answers /ping and /api/health while a /query " +
    "holds the data lane; the held /query then completes") {
    val one = SparkSpec.spark.range(1).toDF("v")
    val entered = new java.util.concurrent.CountDownLatch(1)
    val release = new java.util.concurrent.CountDownLatch(1)
    val srv = new StatusServer(0, () => idle, () => Nil,
      queryExecScoped = Some { (_: String, _: Option[String]) =>
        entered.countDown()
        release.await()
        one
      })
    srv.start()
    try {
      val client = HttpClient.newHttpClient()
      def req(path: String) = HttpRequest.newBuilder(URI.create(
        s"http://127.0.0.1:${srv.boundPort}$path")).timeout(Patience)
        .GET().build()
      def timed(path: String): (Int, Double) = {
        val t0 = System.nanoTime()
        val code = client.send(req(path),
          HttpResponse.BodyHandlers.discarding()).statusCode()
        (code, (System.nanoTime() - t0) / 1e6)
      }
      assert(timed("/ping")._1 == 204) // warms the client's classes
      val held = client.sendAsync(req("/query?q=hold"),
        HttpResponse.BodyHandlers.ofString())
      assert(entered.await(30, java.util.concurrent.TimeUnit.SECONDS))
      for ((path, want) <- Seq("/ping" -> 204, "/api/health" -> 200)) {
        val (code, ms) = timed(path)
        assert(code == want && ms < 100, s"$path: $code in $ms ms")
      }
      assert(!held.isDone)
      release.countDown()
      val r = held.get(60, java.util.concurrent.TimeUnit.SECONDS)
      assert(r.statusCode() == 200 && r.body().contains("\"values\":[[0]]"),
        r.body())
    } finally { release.countDown(); srv.stop() }
  }

  test("a full data queue sheds /write and /query with 503 and " +
    "Retry-After while /ping answers; accepted data requests run in " +
    "arrival order; stop() leaves no live data-lane thread") {
    import scala.jdk.CollectionConverters._
    val one = SparkSpec.spark.range(1).toDF("v")
    val entered = new java.util.concurrent.CountDownLatch(1)
    val release = new java.util.concurrent.CountDownLatch(1)
    val ran = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val lane = new java.util.concurrent.atomic.AtomicReference[Thread]()
    val srv = new StatusServer(0, () => idle, () => Nil,
      queryExecScoped = Some { (q: String, _: Option[String]) =>
        if (q == "hold") {
          lane.set(Thread.currentThread())
          entered.countDown()
          release.await()
        }
        ran.add(q)
        one
      },
      writeExec = Some { (body: String, _: Option[String], _: Long) =>
        ran.add(body); 1L
      })
    srv.start()
    try {
      val client = HttpClient.newHttpClient()
      val base = s"http://127.0.0.1:${srv.boundPort}"
      def query(q: String) =
        HttpRequest.newBuilder(URI.create(s"$base/query?q=$q"))
          .timeout(Patience).GET().build()
      def write(body: String) =
        HttpRequest.newBuilder(URI.create(s"$base/write?db=d"))
          .timeout(Patience)
          .POST(HttpRequest.BodyPublishers.ofString(body)).build()
      def async(r: HttpRequest) =
        client.sendAsync(r, HttpResponse.BodyHandlers.ofString())
      val held = async(query("hold"))
      assert(entered.await(30, java.util.concurrent.TimeUnit.SECONDS))
      val names = (1 to StatusServer.DataQueueCapacity)
        .map(i => if (i % 2 == 0) s"w$i" else s"q$i")
      val accepted = names.zipWithIndex.map { case (n, i) =>
        val f = async(if (n.startsWith("w")) write(n) else query(n))
        // one at a time, so arrival order is the order sent
        val deadline = System.nanoTime() + 30000000000L
        while (srv.dataQueued <= i) {
          assert(System.nanoTime() < deadline, s"$n never queued")
          Thread.sleep(1)
        }
        n -> f
      }
      for (shed <- Seq(write("w-shed"), query("q-shed"))) {
        val r = client.send(shed, HttpResponse.BodyHandlers.ofString())
        assert(r.statusCode() == 503, r.body())
        assert(r.headers().firstValue("Retry-After").orElse("") == "1")
        assert(r.body().startsWith("{\"error\":"), r.body())
      }
      assert(client.send(HttpRequest.newBuilder(URI.create(s"$base/ping"))
        .timeout(Patience).GET().build(),
        HttpResponse.BodyHandlers.discarding())
        .statusCode() == 204)
      release.countDown()
      val secs = java.util.concurrent.TimeUnit.SECONDS
      assert(held.get(60, secs).statusCode() == 200)
      for ((n, f) <- accepted) {
        val r = f.get(60, secs)
        assert(r.statusCode() == (if (n.startsWith("w")) 204 else 200),
          s"$n: ${r.body()}")
      }
      assert(ran.asScala.toSeq == "hold" +: names)
    } finally { release.countDown(); srv.stop() }
    val t = lane.get()
    assert(t.getName == StatusServer.DataLaneThread && t.isDaemon)
    assert(!t.isAlive)
    assert(!Thread.getAllStackTraces.keySet.asScala.exists(x =>
      x.getName == StatusServer.DataLaneThread && x.isAlive))
  }
}
