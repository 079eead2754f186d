package graft.api

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import java.util.concurrent.{ArrayBlockingQueue, RejectedExecutionException,
  ThreadPoolExecutor, TimeUnit}

import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}

import graft.model.ClusterStatus

/** Minimal ops HTTP API over the cluster status — the webui analog
  * (/root/reference/pkg/webui/api.go, webserver.go):
  *   GET  /api/health       → cluster status JSON (api.go:15,24-28;
  *                            payload per hacluster.go:46-72)
  *   GET  /api/queryactive  → names of currently-healthy servers
  *                            (api.go:18,30-45)
  *   GET  /api/health/<id>  → per-server stub (api.go:16,47-51 — the
  *                            reference's own handler returns "hola")
  *   POST /api/action/<id>  → session-gated action stub, "hola"
  *                            (api.go:17,54-61)
  *   POST /login, /logout   → session-cookie auth against
  *                            admin-user/admin-passwd
  *                            (webserver.go:173-174,190-208)
  * JDK built-in httpserver: zero new dependencies, driver-side only
  * (SURVEY.md §2.11).
  *
  * Two lanes. The control lane is the JDK dispatcher thread itself: /ping,
  * /api/health, /api/queryactive, /api/action, /login, /logout and the
  * static `/` run inline on it and never wait behind a data request, so a
  * peer monitor's probe reads the server's liveness, not its backlog. The
  * data lane is one daemon thread ([[StatusServer.DataLaneThread]]) that
  * runs /query, /write and /api/indexstats one at a time in arrival order
  * (FIFO), so the ql catalog, the write service and its manifest locks see
  * the same serial access the single dispatcher gave them. Data requests
  * wait in a queue of [[StatusServer.DataQueueCapacity]]; when it is full
  * the dispatcher answers at once with 503, `Retry-After: 1` and a JSON
  * error. A data handler that throws answers 500 if its headers are not
  * yet sent; the exchange is always closed.
  */
final class StatusServer(
    port: Int,
    status: () => ClusterStatus,
    serverNames: () => Seq[(String, Boolean)],
    adminUser: String = "admin", // conf [http] admin-user default
    adminPassword: String = "admin",
    // non-empty → serve files under this dir at "/" (the reference's
    // static UI path, webserver.go:81-87); "" keeps the JSON-only API
    staticDir: String = "",
    // wired → GET/POST /query?q=… executes an InfluxQL statement and
    // returns the InfluxDB 1.x response shape (the API the reference
    // TALKS TO, client.go:57-70 queryDB — here we SERVE it); None
    // keeps the endpoint absent. The function owns parse+plan+collect
    // so the HTTP layer stays dependency-free.
    // DELIBERATELY not behind the /api session gate: InfluxDB 1.x
    // ships with [http] auth-enabled = false, and the reference's own
    // client authenticates per-request with u/p params only when
    // configured — the ops UI (login/session) and the data-plane
    // /query are separate auth regimes. Deployments wanting a closed
    // /query pass None and front it with their proxy.
    queryExec: Option[String => org.apache.spark.sql.DataFrame] = None,
    // /query result-row cap: past it the response is truncated and
    // marked "partial":true (InfluxDB's chunked-response analog —
    // an unbounded collect() behind an HTTP GET is a driver OOM)
    queryMaxRows: Int = 10000,
    // wired → POST /write?db=… ingests a line-protocol batch (the
    // write half of the InfluxDB 1.x API; see api.WriteService — the
    // db param routes auto-created measurements like InfluxDB) and
    // returns 204; None keeps the endpoint absent. Same auth regime
    // as /query (see its note). The third argument is the timestamp
    // multiplier to ns from `?precision=` (the param the reference's
    // own client sends — Precision "ns", client.go:342,351,511).
    writeExec: Option[(String, Option[String], Long) => Long] = None,
    // InfluxDB 1.x `[http] auth-enabled` analog for the DATA plane:
    // non-empty → every /query and /write request must carry matching
    // `u`/`p` query params (exactly what the reference's client sends
    // when credentials are configured, client.go:46-56) or it is
    // refused 401 — which is how `allowMutations` composes with auth:
    // with credentials set, the mutating surface (DDL/DELETE over
    // /query, POST /write) is reachable only by an authenticated
    // caller. Empty (default) keeps the credential-blind InfluxDB
    // default (auth-enabled = false).
    dataUser: String = "",
    dataPassword: String = "",
    // db-aware /query executor (the `db=` request param as the
    // database scope — QlPlanner.executorScoped); when present it
    // wins over queryExec, which serves the whole root regardless of
    // db. Separate parameter so existing single-root wirings stay
    // source-compatible.
    queryExecScoped: Option[(String, Option[String]) =>
      org.apache.spark.sql.DataFrame] = None,
    // wired → GET /api/indexstats serves the growing-index
    // observability frame (graft.streaming.StreamIngest.indexStats)
    // as a JSON array — watermark, tiers, hot depth, live _inflight_
    // stalls with age, list skew. Same ops-counter posture as
    // /api/health (the reference exposes its cluster state there,
    // pkg/webui/api.go:15-45); None keeps the endpoint absent (no
    // index roots owned).
    indexStatsJson: Option[() => String] = None) {

  private val server = HttpServer.create(new InetSocketAddress(port), 0)
  // the data lane: one thread (created on the first data request) over a
  // bounded FIFO queue; a full queue rejects, and the dispatcher sheds
  // the request with 503
  @volatile private var laneThread: Thread = null
  private val dataLane = new ThreadPoolExecutor(1, 1, 0L,
    TimeUnit.MILLISECONDS,
    new ArrayBlockingQueue[Runnable](StatusServer.DataQueueCapacity),
    (r: Runnable) => {
      val t = new Thread(r, StatusServer.DataLaneThread)
      t.setDaemon(true) // never keeps the JVM alive past the dispatcher
      laneThread = t
      t
    })
  // token → expiry epoch-ms; pruned on every login/validation so a
  // long-running daemon neither leaks memory nor honors stale tokens
  private val sessions =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()
  final val SessionTtlMs: Long = 24L * 3600 * 1000
  final val CookieName = "graft_sess_id" // ≅ cookie-id, mainconfig.go:42

  private def pruneSessions(): Unit = {
    val now = System.currentTimeMillis()
    sessions.entrySet().removeIf(e => e.getValue < now): Unit
  }

  private def respond(ex: HttpExchange, code: Int, body: String): Unit = {
    val bytes = body.getBytes(StandardCharsets.UTF_8)
    ex.getResponseHeaders.set("Content-Type", "application/json")
    ex.sendResponseHeaders(code, bytes.length)
    val os = ex.getResponseBody
    os.write(bytes); os.close()
  }

  /** JSON string escape: backslash, quote, and all control chars — server
    * names and state strings are caller-supplied, so interpolating them
    * raw could emit invalid JSON. */
  private def jstr(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def healthJson(s: ClusterStatus): String =
    s"""{"ClusterState":${jstr(s.clusterState)},""" +
      s""""ClusterNumRecovers":${s.clusterNumRecovers},""" +
      s""""ClusterLastRecoverDuration":${s.clusterLastRecoverDurationNs},""" +
      s""""MID":{"Active":${s.masterState},"LastOK":${s.masterLastOkNs}},""" +
      s""""SID":{"Active":${s.slaveState},"LastOK":${s.slaveLastOkNs}}}"""

  def queryActiveJson(names: Seq[(String, Boolean)]): String =
    names.collect { case (n, true) => jstr(n) }
      .mkString("[", ",", "]")

  /** Request body, decompressing `Content-Encoding: gzip` — the form
    * telegraf POSTs /write batches in by default (InfluxDB 1.x
    * accepts gzip on both /write and /query form bodies). */
  private def bodyOf(ex: HttpExchange): String = {
    val raw = ex.getRequestBody
    val in =
      if (Option(ex.getRequestHeaders.getFirst("Content-Encoding"))
          .exists(_.toLowerCase.contains("gzip")))
        new java.util.zip.GZIPInputStream(raw)
      else raw
    new String(in.readAllBytes(), StandardCharsets.UTF_8)
  }

  /** Extract a JSON string field without a JSON dependency (login bodies
    * are tiny fixed shapes, UserLogin analog webserver.go:190). */
  private def jsonField(body: String, key: String): Option[String] =
    ("\"" + key + "\"\\s*:\\s*\"((?:[^\"\\\\]|\\\\.)*)\"").r
      .findFirstMatchIn(body).map(_.group(1)
        .replace("\\\"", "\"").replace("\\\\", "\\"))

  private def sessionOf(ex: HttpExchange): Option[String] =
    Option(ex.getRequestHeaders.getFirst("Cookie")).flatMap { c =>
      c.split(';').map(_.trim).collectFirst {
        case kv if kv.startsWith(CookieName + "=") =>
          kv.drop(CookieName.length + 1)
      }
    }

  private def signedIn(ex: HttpExchange): Boolean = {
    pruneSessions()
    sessionOf(ex).exists(sessions.containsKey)
  }

  /** Constant-time credential compare — a plain String == short-circuits
    * on the first differing byte, leaking prefix length to a timing
    * probe against the (default admin/admin) credentials. */
  private def ctEquals(a: String, b: String): Boolean =
    java.security.MessageDigest.isEqual(
      a.getBytes(StandardCharsets.UTF_8), b.getBytes(StandardCharsets.UTF_8))

  /** POST /login: admin-user/admin-passwd check → session cookie
    * (myLoginHandler, webserver.go:190-201). POST-only: a GET with
    * credentials in a URL would land them in access logs, and method
    * restriction keeps the brute-force surface to the documented shape. */
  def handleLogin(ex: HttpExchange): Unit = {
    if (ex.getRequestMethod != "POST") {
      respond(ex, 405, jstr("method not allowed")); return
    }
    val body = bodyOf(ex)
    // no && short-circuit: skipping the password compare on a username
    // miss would hand back the username-validity timing oracle ctEquals
    // exists to close
    val userOk = jsonField(body, "username").exists(ctEquals(_, adminUser))
    val passOk =
      jsonField(body, "password").exists(ctEquals(_, adminPassword))
    val ok = userOk && passOk
    if (ok) {
      pruneSessions()
      val tok = java.util.UUID.randomUUID().toString
      sessions.put(tok, System.currentTimeMillis() + SessionTtlMs): Unit
      ex.getResponseHeaders.add("Set-Cookie",
        s"$CookieName=$tok; HttpOnly")
      respond(ex, 200, jstr(CookieName))
    } else respond(ex, 400, jstr("ERROR user or password not match"))
  }

  /** POST /logout: destroy the session (myLogoutHandler,
    * webserver.go:203-207). */
  def handleLogout(ex: HttpExchange): Unit = {
    if (ex.getRequestMethod != "POST") {
      respond(ex, 405, jstr("method not allowed")); return
    }
    sessionOf(ex).foreach(t => sessions.remove(t): Unit)
    respond(ex, 200, jstr("ok"))
  }

  /** One JSON scalar in a /query values row. Long `time` columns stay
    * epoch-ns integers (the engine-wide canonical time); timestamps
    * render as their SQL string form. */
  private def jval(v: Any): String = v match {
    case null => "null"
    case b: Boolean => b.toString
    case n @ (_: Long | _: Int | _: Short | _: Byte) => n.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float =>
      if (f.isNaN || f.isInfinite) "null" else f.toString
    case s: String => jstr(s)
    case other => jstr(other.toString)
  }

  /** One statement's results entry: the result rows as one series
    * (name = the in-band measurement column when present — the
    * flat-relation face of InfluxQL's out-of-band series metadata),
    * columns in frame order, row cap marked by "partial". */
  private def resultJson(df: org.apache.spark.sql.DataFrame,
      epochDivNs: Long, statementId: Int): String = {
    val cols = df.columns
    val taken = df.take(queryMaxRows + 1)
    val partial = taken.length > queryMaxRows
    val rows = taken.take(queryMaxRows)
    val name =
      if (cols.headOption.contains("measurement") && rows.nonEmpty)
        rows.head.getString(0)
      else "results"
    val colJson = cols.map(jstr).mkString("[", ",", "]")
    // ?epoch=<h|m|s|ms|u|ns> rescales the time column (InfluxDB 1.x
    // API parameter; engine-canonical time is Long ns)
    val timeIdx = cols.indexOf("time")
    def cell(r: org.apache.spark.sql.Row, i: Int): String =
      r.get(i) match {
        case t: Long if i == timeIdx && epochDivNs > 1L =>
          jval(t / epochDivNs)
        case v => jval(v)
      }
    val valJson = rows.iterator
      .map(r => (0 until r.length).map(i => cell(r, i))
        .mkString("[", ",", "]"))
      .mkString("[", ",", "]")
    val partialJson = if (partial) ""","partial":true""" else ""
    s"""{"statement_id":$statementId,"series":[{"name":${jstr(name)},""" +
      s""""columns":$colJson,"values":$valJson$partialJson}]}"""
  }

  private val EpochDiv: Map[String, Long] = Map(
    "ns" -> 1L, "u" -> 1000L, "µ" -> 1000L, "ms" -> 1000000L,
    "s" -> 1000000000L, "m" -> 60L * 1000000000L,
    "h" -> 3600L * 1000000000L)

  /** `chunked=true[&chunk_size=N]` — the InfluxDB 1.x streaming
    * response the reference READS WITH (client.go:343-344 sets
    * Chunked/ChunkSize 10000): newline-delimited complete JSON
    * documents, each carrying up to N rows, `"partial":true` on every
    * frame except the last. Replaces the row-cap truncation for large
    * results: rows stream through `toLocalIterator` (one partition
    * resident at a time on the driver, HTTP chunked transfer out), so
    * a dashboard-scale result never materializes whole. */
  private def streamChunked(ex: HttpExchange,
      /** Per statement: Right((columns, row iterator)) prepared
        * EAGERLY by the caller, or Left(error) for a statement that
        * failed to plan in a MULTI-statement batch — it becomes its
        * own {"statement_id":i,"error":...} frame and the other
        * statements still stream (the 1.x per-statement contract).
        * Single-statement plan errors never reach here: the caller
        * lets them throw so the request stays a clean 400 BEFORE the
        * 200 is committed. */
      dfs: Seq[Either[String,
        (Array[String], java.util.Iterator[org.apache.spark.sql.Row])]],
      epochDivNs: Long, chunkSize: Int): Unit = {
    ex.getResponseHeaders.set("Content-Type", "application/json")
    ex.sendResponseHeaders(200, 0) // length 0 → chunked transfer
    val os = ex.getResponseBody
    try {
      dfs.zipWithIndex.foreach {
        case (Left(err), sid) =>
          os.write((s"""{"results":[{"statement_id":$sid,""" +
            s""""error":${jstr(err)}}]}""" + "\n")
            .getBytes(StandardCharsets.UTF_8))
          os.flush()
        case (Right((cols, it)), sid) =>
        val colJson = cols.map(jstr).mkString("[", ",", "]")
        val timeIdx = cols.indexOf("time")
        def cell(r: org.apache.spark.sql.Row, i: Int): String =
          r.get(i) match {
            case t: Long if i == timeIdx && epochDivNs > 1L =>
              jval(t / epochDivNs)
            case v => jval(v)
          }
        // one-row pushback so a frame can close EARLY at a series
        // boundary: InfluxDB 1.x breaks chunks where the series
        // changes, and labeling a frame with its first row's
        // measurement while other measurements' rows ride along
        // mid-chunk would mislabel them (a multi-measurement
        // regex-FROM result is measurement-contiguous, so the
        // boundary split keeps every frame honest).
        val measIdx =
          if (cols.headOption.contains("measurement")) 0 else -1
        var pending: org.apache.spark.sql.Row =
          if (it.hasNext) it.next() else null
        var first = true
        while (pending != null || first) {
          val buf = new StringBuilder
          var n = 0
          val name =
            if (pending != null && measIdx >= 0)
              pending.getString(measIdx)
            else "results"
          var boundary = false
          while (!boundary && n < chunkSize && pending != null) {
            if (measIdx >= 0 && pending.getString(measIdx) != name)
              boundary = true
            else {
              if (n > 0) buf.append(',')
              buf.append((0 until pending.length)
                .map(i => cell(pending, i)).mkString("[", ",", "]"))
              n += 1
              pending = if (it.hasNext) it.next() else null
            }
          }
          val partial =
            if (pending != null) ""","partial":true""" else ""
          val doc =
            s"""{"results":[{"statement_id":$sid,"series":[{""" +
              s""""name":${jstr(name)},"columns":$colJson,""" +
              s""""values":[${buf.toString}]$partial}]$partial}]}""" + "\n"
          os.write(doc.getBytes(StandardCharsets.UTF_8))
          os.flush()
          first = false
        }
      }
    } finally os.close()
  }

  /** Quote-aware split of a /query `q` payload into its statements:
    * InfluxDB 1.x accepts multiple ';'-separated statements per
    * request and answers with one results entry per statement
    * (ordinal statement_id). ';' inside single-quoted string literals
    * or double-quoted identifiers is data; backslash escapes inside
    * quotes are honored. */
  private[graft] def splitStatements(q: String): Seq[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    val sb = new StringBuilder
    var quote: Char = 0
    var i = 0
    while (i < q.length) {
      val c = q.charAt(i)
      if (quote != 0) {
        sb.append(c)
        if (c == '\\' && i + 1 < q.length) {
          sb.append(q.charAt(i + 1)); i += 1
        } else if (c == quote) quote = 0
      } else c match {
        case '\'' | '"' => quote = c; sb.append(c)
        case ';'        => out += sb.toString; sb.clear(): Unit
        case _          => sb.append(c)
      }
      i += 1
    }
    out += sb.toString
    out.toSeq.map(_.trim).filter(_.nonEmpty)
  }

  private def errorJson(e: Throwable): String = s"""{"error":${jstr(
    Option(e.getMessage).getOrElse(e.getClass.getName))}}"""

  private def parseParams(s: String): Map[String, String] =
    s.split('&').toSeq.flatMap(_.split("=", 2) match {
      case Array(k, v) =>
        Some(k -> java.net.URLDecoder.decode(v, "UTF-8"))
      case _ => None
    }).toMap

  /** Credentials a data-plane request presents: `u`/`p` request params
    * (the curl/query-string form) or an `Authorization: Basic` header —
    * the form the reference's own client sends (influxdb1-client
    * HTTPConfig Username/Password, client.go:42-48); InfluxDB 1.x
    * accepts both. Params win when both `u` and `p` are present. */
  private def presentedCreds(ex: HttpExchange,
      params: Map[String, String]): (String, String) =
    (params.get("u"), params.get("p")) match {
      case (Some(u), Some(p)) => (u, p)
      case _ =>
        Option(ex.getRequestHeaders.getFirst("Authorization"))
          .filter(_.startsWith("Basic "))
          .flatMap { h =>
            try {
              val dec = new String(java.util.Base64.getDecoder
                .decode(h.drop(6).trim), StandardCharsets.UTF_8)
              dec.split(":", 2) match {
                case Array(u, p) => Some((u, p))
                case _           => None
              }
            } catch { case _: IllegalArgumentException => None }
          }
          .getOrElse(("", ""))
    }

  /** Data-plane auth (InfluxDB 1.x auth-enabled): presented
    * credentials against the configured ones, constant-time. Always
    * true when no dataUser is configured (auth-enabled = false). */
  private def dataAuthOk(ex: HttpExchange,
      params: Map[String, String]): Boolean =
    dataUser.isEmpty || {
      val (u, p) = presentedCreds(ex, params)
      // both compares run unconditionally — short-circuiting on a
      // username miss reintroduces the username-validity timing
      // oracle handleLogin closes the same way
      val uOk = ctEquals(u, dataUser)
      val pOk = ctEquals(p, dataPassword)
      uOk && pOk
    }

  private def handleQuery(ex: HttpExchange, exec: (String,
      Option[String]) => org.apache.spark.sql.DataFrame): Unit = {
    // params from the query string (GET, client.go:60) or a form body
    // (POST); body wins per-key only when the URI lacks it. A malformed
    // percent-escape is the client's error: 400, not a dropped connection
    val params =
      try parseParams(Option(bodyOf(ex)).getOrElse("")) ++
        parseParams(Option(ex.getRequestURI.getRawQuery).getOrElse(""))
      catch {
        case e: IllegalArgumentException =>
          respond(ex, 400, errorJson(e)); return
      }
    if (!dataAuthOk(ex, params)) {
      respond(ex, 401, """{"error":"authorization failed"}"""); return
    }
    (params.get("q"), params.get("epoch")) match {
      case (None, _) =>
        respond(ex, 400, """{"error":"missing q parameter"}""")
      case (_, Some(ep)) if !EpochDiv.contains(ep) =>
        respond(ex, 400,
          s"""{"error":${jstr(s"bad epoch '$ep' (h|m|s|ms|u|ns)")}}""")
      case (Some(text), ep) =>
        try {
          val epochDiv = ep.map(EpochDiv).getOrElse(1L)
          val stmts = splitStatements(text)
          require(stmts.nonEmpty, "empty query text")
          val db = params.get("db")
          if (params.get("chunked").contains("true")) {
            val size = params.get("chunk_size").map(_.toInt)
              .getOrElse(10000) // the client.go:344 default
            require(size > 0, s"chunk_size must be positive: $size")
            // force every statement's iterator BEFORE the 200 commits
            // (the first job partition may already run as headers go
            // out). Single statement: a plan error THROWS → clean
            // 400. Multi-statement: a failing statement becomes its
            // own error frame and the others still stream — the same
            // per-statement contract as the buffered path.
            val prepared = stmts.map { st =>
              def force = {
                val df = exec(st, db)
                (df.columns, df.toLocalIterator())
              }
              if (stmts.size == 1) Right(force)
              else
                try Right(force)
                catch {
                  case e: Exception => Left(Option(e.getMessage)
                    .getOrElse(e.getClass.getName))
                }
            }
            streamChunked(ex, prepared, epochDiv, size)
          } else {
            // statements execute in request order; each contributes
            // one ordinal results entry (the InfluxDB multi-statement
            // response shape). In a MULTI-statement batch a failing
            // statement contributes its own {"statement_id":i,
            // "error":...} entry and the others still serve under a
            // 200 (the 1.x per-statement contract — a batching
            // client must not lose every result to one bad
            // statement); a SINGLE-statement request keeps the crisp
            // 400-with-error contract the reference's client consumes
            // (client.go:57-70), and 400 stays for request-level
            // problems (missing q, bad epoch/chunk_size, empty text)
            val entries = stmts.zipWithIndex.map { case (s, i) =>
              if (stmts.size == 1) resultJson(exec(s, db), epochDiv, i)
              else try resultJson(exec(s, db), epochDiv, i)
              catch {
                case e: Exception =>
                  s"""{"statement_id":$i,"error":${jstr(
                    Option(e.getMessage).getOrElse(e.getClass.getName))}}"""
              }
            }
            respond(ex, 200,
              s"""{"results":[${entries.mkString(",")}]}""")
          }
        } catch {
          case e: Exception =>
            // if the chunked stream already committed its 200 the
            // respond below throws — the client sees the truncated
            // stream (no terminating non-partial frame) instead
            try respond(ex, 400, errorJson(e))
            catch { case _: java.io.IOException => ex.close() }
        }
    }
  }

  /** A data-lane handler: the dispatcher only enqueues the exchange (or
    * sheds it with 503 when the queue is full) and returns to the control
    * lane. On the lane, anything the handler throws answers 500 while the
    * headers are unsent, and the exchange is always closed: nothing else
    * closes it off the dispatcher, and its client would hang. */
  private def onDataLane(handle: HttpExchange => Unit): HttpHandler =
    (ex: HttpExchange) =>
      try dataLane.execute(() =>
        try handle(ex)
        catch {
          case t: Throwable if ex.getResponseCode < 0 =>
            try respond(ex, 500, errorJson(t))
            catch { case _: java.io.IOException => () }
          case _: Throwable => ()
        } finally ex.close())
      catch {
        case _: RejectedExecutionException =>
          ex.getResponseHeaders.set("Retry-After", "1")
          respond(ex, 503, """{"error":"data queue full, retry later"}""")
      }

  def start(): Unit = {
    // once at startup, NOT per request — inside the login handler an
    // unauthenticated client could flood stderr at request rate
    if (adminUser == "admin" && adminPassword == "admin")
      System.err.println(
        "[graft] WARNING: StatusServer running with default admin/admin " +
          "credentials — set admin-user/admin-passwd")
    server.createContext("/api/health", (ex: HttpExchange) =>
      // longest-prefix routing: /api/health/<id> is the per-server stub
      // (api.go:47-51 — the reference returns the literal "hola" too)
      if (ex.getRequestURI.getPath.stripSuffix("/") != "/api/health")
        respond(ex, 200, jstr("hola"))
      else respond(ex, 200, healthJson(status())))
    server.createContext("/api/queryactive",
      (ex: HttpExchange) => respond(ex, 200, queryActiveJson(serverNames())))
    indexStatsJson.foreach(stats =>
      // a Spark collect: data lane
      server.createContext("/api/indexstats", onDataLane(ex =>
        respond(ex, 200, stats()))))
    server.createContext("/api/action", (ex: HttpExchange) =>
      // session-gated action stub (api.go:54-61)
      if (signedIn(ex)) respond(ex, 200, jstr("hola"))
      else respond(ex, 401, jstr("unauthorized")))
    // GET /ping → 204 + version header: the liveness probe every
    // InfluxDB 1.x client calls before use — the reference's monitor
    // gates its whole FSM on it (InfluxMonitor.Ping reads the
    // duration AND the version string, influxmonitor.go:115-127).
    // Unauthenticated even with auth on, like InfluxDB's own /ping.
    server.createContext("/ping", (ex: HttpExchange) => {
      ex.getResponseHeaders.set("X-Influxdb-Version", "1.8-graft")
      ex.sendResponseHeaders(204, -1)
      ex.close()
    })
    server.createContext("/login", handleLogin _)
    server.createContext("/logout", handleLogout _)
    queryExecScoped
      .orElse(queryExec.map(f =>
        (t: String, _: Option[String]) => f(t)))
      .foreach(exec =>
        server.createContext("/query", onDataLane(handleQuery(_, exec))))
    writeExec.foreach(wr =>
      server.createContext("/write", onDataLane { ex =>
        try {
          // /write params live in the URI ONLY — the POST body is the
          // line-protocol batch, never a form
          val params = parseParams(
            Option(ex.getRequestURI.getRawQuery).getOrElse(""))
          if (!dataAuthOk(ex, params))
            respond(ex, 401, """{"error":"authorization failed"}""")
          else {
            // ?precision=[n|ns|u|ms|s|m|h]: the unit of the lines'
            // timestamps (InfluxDB /write API; default ns). "n" is the
            // API's own spelling, "ns" the client libraries' — accept
            // both.
            val mul = params.get("precision").map { p =>
              EpochDiv.getOrElse(if (p == "n") "ns" else p,
                throw new IllegalArgumentException(
                  s"bad precision '$p' (n|ns|u|ms|s|m|h)"))
            }.getOrElse(1L)
            wr(bodyOf(ex), params.get("db"), mul): Unit
            ex.sendResponseHeaders(204, -1) // InfluxDB: 204 No Content
            ex.close()
          }
        } catch {
          case e: Exception => respond(ex, 400, errorJson(e))
        }
      }))
    // static UI at the root (webserver.go:81-87 serves the built HTML
    // dir the same way); "/" is the longest-prefix fallback, so the
    // /api/* and /login|/logout contexts above still win
    if (staticDir.nonEmpty)
      server.createContext("/", (ex: HttpExchange) => {
        val rel = ex.getRequestURI.getPath.stripPrefix("/") match {
          case "" => "index.html"
          case p  => p
        }
        val base = java.nio.file.Paths.get(staticDir)
          .toAbsolutePath.normalize()
        val target = base.resolve(rel).normalize()
        // normalize+startsWith closes ../ traversal out of the dir
        if (!target.startsWith(base) ||
            !java.nio.file.Files.isRegularFile(target))
          respond(ex, 404, jstr("not found"))
        else {
          val bytes = java.nio.file.Files.readAllBytes(target)
          val name = target.getFileName.toString
          val ct =
            if (name.endsWith(".html")) "text/html"
            else if (name.endsWith(".css")) "text/css"
            else if (name.endsWith(".js")) "application/javascript"
            else if (name.endsWith(".json")) "application/json"
            else if (name.endsWith(".png")) "image/png"
            else if (name.endsWith(".ico")) "image/x-icon"
            else "application/octet-stream"
          ex.getResponseHeaders.set("Content-Type", ct)
          ex.sendResponseHeaders(200, bytes.length)
          val os = ex.getResponseBody
          os.write(bytes); os.close()
        }
      })
    // null executor: every handler runs inline on the dispatcher (the
    // control lane); data handlers only enqueue there
    server.setExecutor(null)
    server.start()
  }

  /** No new exchanges and every connection closed; the data request in
    * flight runs to its end, uninterrupted, and the lane thread has
    * exited before this returns. Data
    * requests still queued are dropped unanswered (their connections are
    * closed), so a queued /write is never applied after its client has
    * seen the connection fail. */
  def stop(): Unit = {
    server.stop(0)
    dataLane.shutdown()
    dataLane.getQueue.clear()
    while (!dataLane.awaitTermination(1, TimeUnit.SECONDS)) ()
    // the pool reads terminated a moment before its thread ends
    Option(laneThread).foreach(_.join())
  }

  def boundPort: Int = server.getAddress.getPort

  /** Data requests waiting behind the one in flight. */
  private[graft] def dataQueued: Int = dataLane.getQueue.size
}

object StatusServer {
  /** Data requests that may wait behind the one in flight before the
    * server sheds with 503. Far above the handful of connections a
    * Telegraf agent, a dashboard and the peer monitors hold together. */
  final val DataQueueCapacity = 32
  /** Name of the data lane's one daemon thread. */
  final val DataLaneThread = "graft-data-lane"
}
