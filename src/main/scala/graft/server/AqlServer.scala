package graft.server

import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}
import graft.aql.{Ast, Engine, Parser}
import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.locks.{Lock, ReentrantReadWriteLock}
import org.apache.spark.sql.Row

/** HTTP surface for the AQL engine — the reference serves the same
  * statement set over HTTP/1 (`/root/reference/src/database.rs:1249-1356`).
  *
  * Two protocols share the data port, as in the reference:
  *
  * **Reference wire protocol** (path `/`, enabled by the `wire_encryption`
  * setting — byte-compatible with `database.rs:1249-1265`, which routes
  * POST → encrypted query, any other method → key handshake, path ignored):
  *   - handshake: non-POST, body = 32-byte `blake3(secret_key)`. Response:
  *     `0x01 ‖ nonce ‖ AES-256-GCM(session_id)` on success, `0x00` on an
  *     unknown key (`database.rs:973-1004`; session_id = the key itself).
  *   - query: POST, body = 32-byte session hash ‖ nonce ‖ GCM ciphertext of
  *     JSON `{"command": …, "arguments": […]}`. Response: 8-byte big-endian
  *     length ‖ nonce ‖ GCM ciphertext of `{"?": <result json>, "!": 1}`
  *     (`database.rs:1110-1230`); any framing/auth/decrypt failure returns
  *     the 8-zero-byte error frame exactly as the reference does.
  *
  * **Plain JSON routes** (this engine's native surface; a deployment that
  * disables `wire_encryption` terminates TLS in front instead):
  *   POST /session body = the settings' auth_token. Returns {"session":id}.
  *                 Only required when `auth_token` is configured.
  *   POST /query   body = AQL statement on line 1, one `?` argument per
  *                 following line; `X-Session-Id` header when auth is on.
  *                 Response = JSON with either {columns, rows, cursor},
  *                 {rows, page}, or {message}.
  *   GET  /health  liveness probe.
  *
  * Concurrency: every statement is parsed outside any lock, then runs
  * under one side of a per-server read/write lock (the reference holds
  * its whole-database RwLock per request, `database.rs:1123`). Read
  * statements — SEARCH, set ops, MATCH, SIMILAR, FUSE, EXPLAIN of those
  * and cursor paging ([[Engine.sharedRead]]) — share the lock: they are
  * Spark jobs over immutable copy-on-write versions and run side by
  * side. Every other statement holds it exclusively, so a read sees the
  * staged overlay and the committed version either wholly before or
  * wholly after a write.
  */
/** @param connectionsPort -1 (default) = single-port mode; >= 0 binds a
  *   second listener serving the path-blind wire dispatch, the two-port
  *   connection model of the reference's settings (`connections_port`
  *   1515 / `data_port` 8989, `database.rs:20-24`). The reference's own
  *   connections-port listener is commented out (`database.rs:1323-1324`),
  *   so this is a strict superset: a client following the documented
  *   two-port lifecycle (handshake on connections_port, queries on
  *   data_port) works here, and sessions are shared across both ports.
  */
final class AqlServer(engine: Engine, port: Int = 0, connectionsPort: Int = -1) {
  private var server: HttpServer = _
  private var connServer: HttpServer = _
  private var pool: java.util.concurrent.ExecutorService = _
  /** Shared side: read statements; exclusive side: everything else. */
  private[server] val statementLock = new ReentrantReadWriteLock

  /** Live session ids issued by /session (reference keeps a
    * session→secret map, `database.rs:1121-1139`); bounded LRU so
    * abandoned sessions don't accumulate in a resident server.
    */
  private val MaxSessions = 256
  private val sessions = java.util.Collections.synchronizedMap(
    new java.util.LinkedHashMap[String, java.lang.Boolean](64, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[String, java.lang.Boolean]): Boolean =
        size() > MaxSessions
    })

  private def authEnabled: Boolean = engine.settings.authToken.nonEmpty

  /** Pre-shared wire keys (lazy: only provisioned when the wire protocol is
    * enabled). Reference key file semantics, `database.rs:1274-1321`.
    */
  private lazy val wireKeys =
    new WireKeys(java.nio.file.Paths.get(engine.rootDir), engine.settings.secretKeyCount)

  /** Wire sessions established by the handshake: blake3-hex(key) → key.
    * The reference's session_secret_rel map (`database.rs:1045`), LRU-
    * bounded like the JSON-route sessions.
    */
  private val MaxWireSessions = 256
  private val wireSessions = java.util.Collections.synchronizedMap(
    new java.util.LinkedHashMap[String, Array[Byte]](64, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[String, Array[Byte]]): Boolean =
        size() > MaxWireSessions
    })

  /** Bind address + handler pool come from the engine's settings.yaml
    * (`database.rs:14-30`): `ip`, `data_port`, `max_connections`. The
    * reference serves its live listener on `data_port` (8989) — the
    * `connections_port` line in its url builder is commented out
    * (`database.rs:1323-1324`) — so the query surface binds `data_port`.
    * An explicit non-zero `port` constructor argument overrides it
    * (0 = ephemeral, used by specs).
    */
  private def boundPort: Int =
    if (port != 0) port else engine.settings.dataPort

  def start(): Int = start(useSettingsPort = false)

  /** Start on the settings' `data_port` (ServerMain path). */
  def startFromSettings(): Int = start(useSettingsPort = true)

  private def start(useSettingsPort: Boolean): Int = {
    val p = if (useSettingsPort) boundPort else port
    // TCP_NODELAY on every exchange socket: the JDK server writes a
    // reply's headers and body separately, and without it the body waits
    // out the client's delayed ACK — about 40 ms on every call, even a
    // page served from held rows. The JDK reads the property once, when
    // its first server is created; an explicit JVM setting wins.
    if (System.getProperty("sun.net.httpserver.nodelay") == null)
      System.setProperty("sun.net.httpserver.nodelay", "true")
    server = HttpServer.create(new InetSocketAddress(engine.settings.ip, p), 0)
    // JSON routes claim their EXACT paths only; everything else — including
    // prefix-sharing paths like /queryX, which the JDK server would
    // otherwise route by longest prefix — falls through to the wire
    // handler, because the reference protocol ignores the request path
    // entirely (database.rs:1249-1265). The three exact JSON paths are the
    // one documented carve-out from that path-blindness.
    def exactOr(path: String, h: HttpExchange => Unit): HttpHandler =
      (ex: HttpExchange) =>
        if (ex.getRequestURI.getPath == path) h(ex) else handleWire(ex)
    server.createContext("/health",
      exactOr("/health", ex => respond(ex, 200, """{"ok":true}""")))
    server.createContext("/session", exactOr("/session", handleSession))
    server.createContext("/query", exactOr("/query", handleQuery))
    server.createContext("/", (ex: HttpExchange) => handleWire(ex))
    // max_connections bounds concurrent request handlers; read statements
    // run side by side under the shared side of `statementLock`, every
    // other statement runs alone under its exclusive side
    pool = java.util.concurrent.Executors.newFixedThreadPool(engine.settings.maxConnections)
    server.setExecutor(pool)
    server.start()
    // two-port model: the connections listener serves ONLY the path-blind
    // wire dispatch (non-POST = handshake, POST = query) — same handler,
    // same session map, so a handshake here authorizes queries on either
    // port. In settings mode it binds when connections_port differs from
    // the data port (both equal = the reference's actual single-listener
    // mode) AND the wire protocol is live — a JSON-only deployment
    // (wire_encryption: false) must not fail startup because an unrelated
    // service holds 1515.
    val cp = if (useSettingsPort) {
      val sp = engine.settings.connectionsPort
      if (engine.settings.wireEncryption && sp != boundPort) sp else -1
    } else connectionsPort
    if (cp >= 0) {
      // a connections-port bind failure must not leave a half-started
      // server behind (non-daemon dispatcher + pool threads would keep
      // the JVM alive after the caller sees the startup crash)
      try {
        connServer = HttpServer.create(new InetSocketAddress(engine.settings.ip, cp), 0)
        connServer.createContext("/", (ex: HttpExchange) => handleWire(ex))
        connServer.setExecutor(pool)
        connServer.start()
      } catch { case e: Throwable => stop(); throw e }
    }
    server.getAddress.getPort
  }

  /** Bound port of the connections listener; -1 when single-port. */
  def connectionsBoundPort: Int =
    if (connServer == null) -1 else connServer.getAddress.getPort

  def stop(): Unit = {
    if (server != null) server.stop(0)
    if (connServer != null) connServer.stop(0)
    if (pool != null) pool.shutdown()
  }

  /** Handshake: present the auth token, receive a session id for /query.
    * Constant-time token compare; 32 hex bytes of SecureRandom id.
    */
  private def handleSession(ex: HttpExchange): Unit = {
    if (ex.getRequestMethod != "POST") { respond(ex, 405, """{"error":"POST only"}"""); return }
    // Mirror the query path's conditional auth: with auth disabled there is
    // no handshake to perform — issuing ids would only occupy LRU slots.
    if (!authEnabled) { respond(ex, 404, """{"error":"auth disabled; /session unavailable"}"""); return }
    val presented = new String(ex.getRequestBody.readAllBytes(), UTF_8).trim
    if (!java.security.MessageDigest.isEqual(
        presented.getBytes(UTF_8), engine.settings.authToken.getBytes(UTF_8))) {
      respond(ex, 403, """{"error":"invalid token"}"""); return
    }
    val bytes = new Array[Byte](32)
    new java.security.SecureRandom().nextBytes(bytes)
    val id = bytes.map(b => f"$b%02x").mkString
    sessions.put(id, java.lang.Boolean.TRUE)
    respond(ex, 200, s"""{"session":${jstr(id)}}""")
  }

  private def handleQuery(ex: HttpExchange): Unit = {
    if (ex.getRequestMethod != "POST") { respond(ex, 405, """{"error":"POST only"}"""); return }
    if (authEnabled) {
      // get(), not containsKey(): only get/put register an access in an
      // access-order LinkedHashMap, so active sessions stay LRU-fresh
      val sid = Option(ex.getRequestHeaders.getFirst("X-Session-Id"))
      if (!sid.exists(s => sessions.get(s) != null)) {
        respond(ex, 401, """{"error":"no valid session; POST the auth token to /session"}""")
        return
      }
    }
    val body = new String(ex.getRequestBody.readAllBytes(), UTF_8)
    val lines = body.split("\n").toList
    val (command, args) = (lines.head, lines.tail.filter(_.nonEmpty))
    try respond(ex, 200, executeToJson(command, args))
    catch {
      case e: Exception =>
        respond(ex, 400, s"""{"error":${jstr(s"${e.getClass.getSimpleName}: ${e.getMessage}")}}""")
    }
  }

  /** Execute one statement under the statement lock, result as JSON
    * (shared by the plain /query route and the encrypted wire protocol).
    */
  private def executeToJson(command: String, args: Seq[String]): String =
    execute(Parser.parse(command, args.toList)) match {
      case (Engine.ResultSet(df, cursorId), rows) =>
        s"""{"columns":${jarr(df.columns.toSeq.map(jstr))},""" +
          s""""rows":${jarr(rows.map(r => jarr(r.toSeq.map(jval))))},""" +
          s""""cursor":${jstr(cursorId)}}"""
      case (Engine.Page(rows, page), _) =>
        s"""{"rows":${jarr(rows.map(r => jarr(r.toSeq.map(jval))))},"page":$page}"""
      case (Engine.Done(msg), _) => s"""{"message":${jstr(msg)}}"""
    }

  /** Run a parsed statement under its side of the statement lock, with
    * the first page of a SEARCH-shaped result. A write's first page is
    * collected after downgrading to the shared side: it runs beside
    * other reads, and no write slips in between the statement and its
    * first page.
    */
  private def execute(stmt: Ast.Stmt): (Engine.Result, Seq[Row]) = {
    val (read, write) = (statementLock.readLock, statementLock.writeLock)
    var held: Lock = if (Engine.sharedRead(stmt)) read else write
    held.lock()
    try engine.run(stmt) match {
      case r @ Engine.ResultSet(_, id) =>
        if (held eq write) { read.lock(); write.unlock(); held = read }
        (r, engine.firstPage(id))
      case r => (r, Nil)
    } finally held.unlock()
  }

  /** The reference's 8-zero-byte error frame (`(0 as u64).to_be_bytes()`,
    * `database.rs:1113-1142`): returned for every wire failure class.
    */
  private val WireErrorFrame = new Array[Byte](8)

  /** Shared parser for wire JSON — ObjectMapper construction is heavyweight
    * and the instance is thread-safe for readTree.
    */
  private val wireJson = new com.fasterxml.jackson.databind.ObjectMapper()

  /** Reference binary wire protocol on the data-port root: non-POST = key
    * handshake, POST = encrypted query (`database.rs:1249-1265`).
    */
  private def handleWire(ex: HttpExchange): Unit = {
    if (!engine.settings.wireEncryption) {
      respond(ex, 404, """{"error":"wire protocol disabled (wire_encryption: false)"}"""); return
    }
    val payload = ex.getRequestBody.readAllBytes()
    if (ex.getRequestMethod != "POST") respondBytes(ex, wireHandshake(payload))
    else respondBytes(ex, wireQuery(payload))
  }

  /** Handshake (`database.rs:973-1004`): body = blake3(secret_key); look the
    * key up, register the session (session_id = the key itself, so the
    * session hash equals the presented hash), reply
    * `0x01 ‖ encrypt(session_id)` — or the single byte 0x00 on any failure.
    */
  private def wireHandshake(payload: Array[Byte]): Array[Byte] = {
    if (payload.length != 32) return Array[Byte](0)
    val hash = Blake3.hex(payload)
    wireKeys.byHash.get(hash) match {
      case None => Array[Byte](0)
      case Some(key) =>
        wireSessions.put(hash, key)
        Array[Byte](1) ++ WireCrypto.encrypt(key, key)
    }
  }

  /** Encrypted query (`database.rs:1110-1230`): 32-byte session hash ‖
    * encrypted JSON `{"command","arguments"}` in; 8-byte BE length ‖
    * encrypted `{"?": content, "!": success}` out.
    */
  private def wireQuery(payload: Array[Byte]): Array[Byte] = {
    if (payload.length <= 32) return WireErrorFrame
    val key = wireSessions.get(Blake3.hex(payload.take(32)))
    if (key == null) return WireErrorFrame
    WireCrypto.decrypt(payload.drop(32), key) match {
      case None => WireErrorFrame
      case Some(plain) =>
        val (content, success) =
          try {
            val node = wireJson.readTree(plain)
            val command = node.get("command").asText()
            val args = Option(node.get("arguments")).toSeq
              .flatMap(a => (0 until a.size()).map(a.get(_).asText()))
            (executeToJson(command, args), 1)
          } catch {
            case e: Exception => (s"${e.getClass.getSimpleName}: ${e.getMessage}", 0)
          }
        val body = WireCrypto.encrypt(
          (s"""{"?":${jstr(content)},"!":$success}""").getBytes(UTF_8), key)
        java.nio.ByteBuffer.allocate(8).putLong(body.length.toLong).array() ++ body
    }
  }

  private def respondBytes(ex: HttpExchange, body: Array[Byte]): Unit = {
    ex.getResponseHeaders.set("Content-Type", "application/octet-stream")
    ex.sendResponseHeaders(200, body.length)
    ex.getResponseBody.write(body)
    ex.close()
  }

  private def respond(ex: HttpExchange, code: Int, body: String): Unit = {
    val bytes = body.getBytes(UTF_8)
    ex.getResponseHeaders.set("Content-Type", "application/json")
    ex.sendResponseHeaders(code, bytes.length)
    ex.getResponseBody.write(bytes)
    ex.close()
  }

  private def jstr(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  private def jarr(items: Seq[String]): String = items.mkString("[", ",", "]")

  private def jval(v: Any): String = v match {
    case null => "null"
    case b: Boolean => b.toString
    case d: Double if d.isNaN || d.isInfinite => "null" // not legal JSON otherwise
    case f: Float if f.isNaN || f.isInfinite => "null"
    case n @ (_: Int | _: Long | _: Double | _: Float | _: Short | _: Byte) => n.toString
    case b: Array[Byte] => jstr(java.util.Base64.getEncoder.encodeToString(b))
    case other => jstr(other.toString)
  }
}

/** Standalone server main: runMain graft.server.ServerMain [dbDir] [port]
  * The bind ip/port and handler pool come from `<dbDir>/settings.yaml`
  * (written with defaults on first boot); an explicit port argument
  * overrides the settings port.
  */
object ServerMain {
  def main(args: Array[String]): Unit = {
    // A sole purely-numeric argument is a port, not a database directory —
    // `ServerMain 8989` must never create a db literally named "8989".
    val (dbDirOpt, portOpt) = args.toList match {
      case sole :: Nil if sole.toIntOption.isDefined =>
        System.err.println(s"[graft-server] sole numeric argument '$sole' " +
          "interpreted as a port; usage: ServerMain [dbDir] [port]")
        (None, sole.toIntOption)
      case dir :: rest => (Some(dir), rest.headOption.map(_.toInt))
      case Nil => (None, None)
    }
    val dbDir = dbDirOpt.getOrElse(
      java.nio.file.Files.createTempDirectory("graft-db").toString)
    val spark = graft.GraftSession.create(appName = "graft-server")
    val eng = new Engine(spark, dbDir)
    val server = portOpt match {
      // an explicit data-port override keeps the settings-driven
      // connections listener (it only moves the DATA port)
      case Some(p) => new AqlServer(eng, p,
        if (eng.settings.wireEncryption && eng.settings.connectionsPort != p)
          eng.settings.connectionsPort else -1)
      case None => new AqlServer(eng)
    }
    val actual = portOpt.map(_ => server.start()).getOrElse(server.startFromSettings())
    println(s"graft AQL server on ${eng.settings.ip}:$actual — db at $dbDir")
    Thread.currentThread().join()
  }
}
