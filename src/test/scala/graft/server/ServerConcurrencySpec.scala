package graft.server

import graft.{TestSpark, TestWait}
import graft.aql.{Ast, Engine, Parser}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.util.concurrent.{ConcurrentLinkedQueue, CopyOnWriteArrayList}
import scala.jdk.CollectionConverters._

/** The server's statement lock: read statements share it and run side by
  * side, every other statement holds it alone. */
class ServerConcurrencySpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = TestSpark.spark
  private var server: AqlServer = _
  private var port: Int = _
  private val json = new com.fasterxml.jackson.databind.ObjectMapper()

  /** 250 committed rows: id, v = 10·id, a body every MATCH on `alpha` hits. */
  private val BaseRows = 250

  override def beforeAll(): Unit = {
    val dir = java.nio.file.Files.createTempDirectory("graft-server-conc")
    val eng = new Engine(spark, dir.toString)
    eng.execute("CREATE CONTAINER sc ['id','v','body'] [BIGINT, BIGINT, TEXT]")
    import spark.implicits._
    eng.catalog.overwrite("sc", (0L until BaseRows.toLong)
      .map(i => (i, i * 10, s"alpha word$i")).toDF("id", "v", "body"))
    eng.execute("CREATE INDEX ft ON sc ['body'] USING text")
    server = new AqlServer(eng)
    port = server.start()
  }
  override def afterAll(): Unit = server.stop()

  /** One statement over its own connection: status code and JSON body.
    * The timeout turns a statement stuck behind the lock into a failure. */
  private def post(body: String): (Int, com.fasterxml.jackson.databind.JsonNode) = {
    val client = HttpClient.newHttpClient()
    val req = HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port/query"))
      .timeout(java.time.Duration.ofSeconds(120))
      .POST(HttpRequest.BodyPublishers.ofString(body)).build()
    val resp = client.send(req, HttpResponse.BodyHandlers.ofString())
    (resp.statusCode(), json.readTree(resp.body()))
  }

  private def ids(reply: com.fasterxml.jackson.databind.JsonNode): Seq[Long] =
    reply.get("rows").elements().asScala.map(_.get(0).asLong()).toSeq

  /** One statement of every kind, with the side of the lock it takes. */
  private val classified: Seq[(String, Boolean)] = Seq(
    "SEARCH [] ON t" -> true,
    "(SEARCH [x] ON a) UNION (SEARCH [x] ON b)" -> true,
    "MATCH ['alpha'] ON t" -> true,
    "SIMILAR 3 ON t" -> true,
    "FUSE [(MATCH ['alpha'] ON t), (SIMILAR 1 ON t USING nd SCORED)]" -> true,
    "EXPLAIN SEARCH [] ON t" -> true,
    "EXPLAIN MATCH ['alpha'] ON t" -> true,
    "QYCNNXT c1" -> true,
    "QYCNPVS c1" -> true,
    "QYCNEXT c1" -> true,
    "EXPLAIN SHOW DEDUP t USING nd" -> false,
    "EXPLAIN CHANGES t 0" -> false,
    "CREATE CONTAINER t ['a'] [INT]" -> false,
    "ALTER CONTAINER t ADD COLUMN ['x'] [INT]" -> false,
    "ALTER CONTAINER t DROP COLUMN ['x']" -> false,
    "ALTER CONTAINER t RENAME COLUMN ['a','b']" -> false,
    "DELETE CONTAINER t" -> false,
    "CLONE CONTAINER a b" -> false,
    "RESTORE CONTAINER t TO VERSION 1" -> false,
    "IMPORT '/tmp/x' INTO t USING orc" -> false,
    "EXPORT t TO '/tmp/x'" -> false,
    "CREATE ROW ['a'] [1] ON t" -> false,
    "MERGE ROW ['a'] [1] ON t" -> false,
    "MERGE ROWS ['a'] (SEARCH [a] ON s) ON t" -> false,
    "EDIT ROW ['a'] [2] ON t WHERE a = 1" -> false,
    "DELETE ROW ON t WHERE a = 1" -> false,
    "DELETE ROWS (SEARCH [a] ON t WHERE a = 3) ON t" -> false,
    "COMMIT" -> false,
    "ROLLBACK" -> false,
    "CREATE INDEX ix ON t ['a'] USING value" -> false,
    "DELETE INDEX ix ON t" -> false,
    "REBUILD INDEX ix ON t" -> false,
    "SHOW DEDUP t USING nd" -> false,
    "DEDUP t USING nd" -> false,
    "SHOW DEDUP a AGAINST b USING nd" -> false,
    "DEDUP a AGAINST b USING nd" -> false,
    "SIMILAR a AGAINST b USING nd LIMIT 5 SCORED" -> false,
    "DECONTAMINATE a AGAINST b ON body" -> false,
    "SHOW DECONTAMINATE a AGAINST b ON body" -> false,
    "SHOW OVERLAP a b ON id" -> false,
    "SHOW OVERLAP [a, b, c] ON id" -> false,
    "VACUUM t" -> false,
    "OPTIMIZE t 8" -> false,
    "ANALYZE CONTAINER t" -> false,
    "CHANGES t 1" -> false,
    "CREATE VIEW v (SEARCH [g, count(id)] ON t)" -> false,
    "REFRESH VIEW v" -> false,
    "DELETE VIEW v" -> false,
    "SHOW CONTAINERS" -> false,
    "SHOW VIEWS" -> false,
    "SHOW SETTINGS" -> false,
    "DESCRIBE t" -> false,
    "SHOW INDEXES t" -> false,
    "SHOW CREATE CONTAINER t" -> false,
    "SHOW VERSIONS t" -> false,
    "SHOW STATS t" -> false,
    "SHOW TAILS t" -> false)

  test("read/exclusive classification is pinned for every statement kind") {
    val parsed = classified.map { case (aql, read) => (aql, Parser.parse(aql), read) }
    parsed.foreach { case (aql, stmt, read) =>
      assert(Engine.sharedRead(stmt) == read,
        s"$aql (${stmt.getClass.getSimpleName}) must run ${if (read) "shared" else "exclusive"}")
    }
    // the table covers every statement kind the AST declares
    import scala.reflect.runtime.universe._
    val kinds = typeOf[Ast.Stmt].typeSymbol.asClass.knownDirectSubclasses
      .map(_.name.toString)
    val pinned = parsed.map(_._2.getClass.getSimpleName.stripSuffix("$")).toSet
    assert(kinds.nonEmpty && kinds == pinned,
      s"unpinned kinds: ${kinds -- pinned}; unknown: ${pinned -- kinds}")
  }

  test("readers and a committing writer over HTTP: no errors, committed pk reads, " +
      "disjoint ordered cursor pages") {
    val committed = new CopyOnWriteArrayList[java.lang.Long]((0L until 5L).map(Long.box).asJava)
    val failures = new ConcurrentLinkedQueue[String]()
    def expect(ok: Boolean, why: => String): Unit = if (!ok) failures.add(why)
    def ok(aql: String): com.fasterxml.jackson.databind.JsonNode = {
      val (code, body) = post(aql)
      expect(code == 200, s"$aql -> $code $body")
      body
    }
    def thread(body: => Unit) = new Thread(() =>
      try body catch { case e: Throwable => failures.add(s"thread died: $e") })
    val writer = thread((0 until 5).foreach { i =>
      val id = 1000L + i
      ok(s"CREATE ROW ['id','v','body'] [$id, ${id * 10}, 'beta fresh'] ON sc")
      ok("COMMIT sc")
      committed.add(id)
    })
    val readers = (0 until 4).map { r =>
      thread((0 until 4).foreach { i =>
        val k: Long = committed.get((r + i) % committed.size)
        val pk = ok(s"SEARCH [] ON sc WHERE id = $k")
        val rows = pk.get("rows")
        expect(rows.size == 1 && rows.get(0).get(0).asLong == k &&
          rows.get(0).get(1).asLong == k * 10, s"pk $k read $rows")
        val first = ok(s"SEARCH [id] ON sc WHERE id < $BaseRows")
        val id = first.get("cursor").asText()
        val p1 = ok(s"QYCNNXT $id")
        val p2 = ok(s"QYCNNXT $id")
        val back = ok(s"QYCNPVS $id")
        ok(s"QYCNEXT $id")
        val pages = Seq(first, p1, p2).map(ids)
        expect(pages.map(_.length) == Seq(100, 100, 50), s"page sizes ${pages.map(_.length)}")
        expect(pages.flatten == (0L until BaseRows.toLong), "pages not disjoint and ordered")
        expect(ids(back) == pages(1), "QYCNPVS must return page 1 again")
        val hits = ok("MATCH ['alpha'] ON sc LIMIT 10")
        expect(hits.get("rows").size == 10, s"MATCH served ${hits.get("rows").size} rows")
      })
    }
    (writer +: readers).foreach(_.start())
    (writer +: readers).foreach(_.join(300000))
    assert(failures.isEmpty, failures.asScala.mkString("\n"))
    assert(committed.size == 10)
    val (code, all) = post("SEARCH [id] ON sc WHERE id >= 1000")
    assert(code == 200 && ids(all) == (1000L until 1005L))
  }

  test("a result over ten pages pages its persisted sort beside readers of held rows") {
    val bigRows = 1200L
    val src = java.nio.file.Files.createTempDirectory("graft-server-big").resolve("rows")
    import spark.implicits._
    (0L until bigRows).toDF("id").write.parquet(src.toString)
    assert(post("CREATE CONTAINER sbig ['id'] [BIGINT]")._1 == 200)
    assert(post(s"IMPORT '$src' INTO sbig USING parquet")._1 == 200)
    val failures = new ConcurrentLinkedQueue[String]()
    def expect(ok: Boolean, why: => String): Unit = if (!ok) failures.add(why)
    /** SEARCH, QYCNNXT ×2, QYCNPVS, QYCNEXT over HTTP on a result of
      * ids 0 until `total`: the three pages served are its first ids in
      * order, and QYCNPVS serves page 1 again. */
    def pageThrough(search: String, total: Long): Unit = {
      def ok(aql: String) = {
        val (code, body) = post(aql)
        expect(code == 200, s"$aql -> $code $body")
        body
      }
      val first = ok(search)
      val id = first.get("cursor").asText()
      val p1 = ok(s"QYCNNXT $id")
      val p2 = ok(s"QYCNNXT $id")
      val back = ok(s"QYCNPVS $id")
      ok(s"QYCNEXT $id")
      val pages = Seq(first, p1, p2).map(ids)
      expect(pages.flatten == (0L until math.min(total, 300L)),
        s"$search: pages not disjoint and ordered")
      expect(ids(back) == pages(1), s"$search: QYCNPVS must return page 1 again")
    }
    def thread(body: => Unit) = new Thread(() =>
      try body catch { case e: Throwable => failures.add(s"thread died: $e") })
    val big = thread((0 until 3).foreach(_ => pageThrough("SEARCH [id] ON sbig", bigRows)))
    val held = (0 until 3).map(_ => thread((0 until 3).foreach(_ =>
      pageThrough(s"SEARCH [id] ON sc WHERE id < $BaseRows", BaseRows.toLong))))
    (big +: held).foreach(_.start())
    (big +: held).foreach(_.join(300000))
    assert(failures.isEmpty, failures.asScala.mkString("\n"))
  }

  test("while a reader holds the shared side, a SEARCH completes and a COMMIT waits") {
    val lock = server.statementLock
    lock.readLock.lock()
    val commit = new java.util.concurrent.atomic.AtomicReference[(Int, String)]()
    val writer = new Thread(() => {
      val (code, body) = post("COMMIT sc")
      commit.set((code, body.toString))
    })
    try {
      val (code, body) = post("SEARCH [] ON sc WHERE id = 7")
      assert(code == 200 && ids(body) == Seq(7L), body.toString)
      writer.start()
      TestWait.eventually(lock.hasQueuedThreads, "the COMMIT must queue for the exclusive side")
      assert(commit.get == null && !lock.isWriteLocked,
        "a COMMIT must not run while a read holds the shared side")
    } finally lock.readLock.unlock()
    writer.join(60000)
    assert(commit.get != null && commit.get._1 == 200, s"COMMIT after release: ${commit.get}")
  }
}
