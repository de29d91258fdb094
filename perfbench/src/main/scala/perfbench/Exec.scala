package perfbench

import graft.aql.Engine
import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets.UTF_8

/** One statement's reply as a client sees it: the result columns and
  * first page, a page of a cursor, or a message. Cell values are Long,
  * Double, String, Boolean or null. */
final case class Reply(columns: Vector[String], rows: Vector[Vector[Any]],
    cursor: Option[String], message: Option[String]) {
  def col(name: String): Int = {
    val i = columns.indexOf(name)
    require(i >= 0, s"no column $name in ${columns.mkString(",")}")
    i
  }
}

final class StatementError(msg: String) extends RuntimeException(msg)

/** A latency sample of one call, tagged with the kind of op it belongs
  * to (`kind/tag` when the op runs statements of more than one shape) and
  * its category: `read` (a statement plus its first page), `page`,
  * `close`, `stage` (a DML statement) or `commit`. */
final case class Call(kind: String, cat: String, ms: Double)

/** Runs statements and records each call's latency. */
abstract class Exec {
  val calls = scala.collection.mutable.ArrayBuffer.empty[Call]
  /** Rows received so far. */
  var rows = 0L
  /** The kind of the op being run. */
  var kind = ""
  protected def send(aql: String, cat: String): Reply

  def call(aql: String, cat: String, tag: String = ""): Reply = {
    val t0 = System.nanoTime()
    val r = send(aql, cat)
    calls += Call(if (tag.isEmpty) kind else s"$kind/$tag", cat, (System.nanoTime() - t0) / 1e6)
    rows += r.rows.length
    r
  }
}

/** The plain JSON `/query` route over one keep-alive HTTP/1.1 connection. */
final class HttpExec(port: Int) extends Exec {
  private val client = HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1).build()
  private val uri = URI.create(s"http://127.0.0.1:$port/query")
  private val json = new com.fasterxml.jackson.databind.ObjectMapper()

  protected def send(aql: String, cat: String): Reply = {
    val req = HttpRequest.newBuilder(uri)
      .POST(HttpRequest.BodyPublishers.ofString(aql, UTF_8)).build()
    val resp = client.send(req, HttpResponse.BodyHandlers.ofString(UTF_8))
    val node = json.readTree(resp.body())
    if (resp.statusCode() != 200 || node.has("error"))
      throw new StatementError(s"HTTP ${resp.statusCode()}: ${resp.body().take(300)}")
    def text(f: String) = Option(node.get(f)).map(_.asText())
    def cell(n: com.fasterxml.jackson.databind.JsonNode): Any =
      if (n.isNull) null
      else if (n.isIntegralNumber) n.asLong()
      else if (n.isNumber) n.asDouble()
      else if (n.isBoolean) n.asBoolean()
      else n.asText()
    def elems(f: String) = Option(node.get(f)).toVector.flatMap(a => (0 until a.size()).map(a.get))
    Reply(elems("columns").map(_.asText()),
      elems("rows").map(r => (0 until r.size()).map(i => cell(r.get(i))).toVector),
      text("cursor"), text("message"))
  }
}

/** The same calls in process: `Engine.execute`, then the first page
  * spelled as the server spells it. With a [[Tracer]], each call splits
  * into its layers: `Parser.parse`, `Engine.run`, Spark planning of the
  * first-page plan, and its execution. */
final class LocalExec(eng: Engine, tracer: Option[Tracer]) extends Exec {
  private def timed[A](phase: String)(body: => A): A = tracer match {
    case Some(t) => t.span(phase)(body)
    case None => body
  }

  protected def send(aql: String, cat: String): Reply = {
    val result =
      if (cat == "read") {
        val stmt = timed("parse")(graft.aql.Parser.parse(aql))
        timed("lower")(eng.run(stmt))
      } else timed(cat)(eng.execute(aql))
    result match {
      case Engine.ResultSet(df, id) =>
        val paged = eng.orderedResult(id).getOrElse(df).limit(eng.PageSize)
        timed("plan")(paged.queryExecution.executedPlan)
        val rows = timed("exec")(paged.collect())
        Reply(df.columns.toVector, rows.toVector.map(r => r.toSeq.toVector.map(LocalExec.cell)),
          Some(id), None)
      case Engine.Page(rows, _) =>
        Reply(Vector.empty, rows.toVector.map(r => r.toSeq.toVector.map(LocalExec.cell)), None, None)
      case Engine.Done(msg) => Reply(Vector.empty, Vector.empty, None, Some(msg))
    }
  }
}

object LocalExec {
  /** The value the JSON route would carry for a cell. */
  def cell(v: Any): Any = v match {
    case null => null
    case n @ (_: Int | _: Long | _: Short | _: Byte) => n.asInstanceOf[Number].longValue
    case f: Float => f.toString.toDouble
    case d: Double => d
    case b: Boolean => b
    case b: Array[Byte] => java.util.Base64.getEncoder.encodeToString(b)
    case other => other.toString
  }
}
