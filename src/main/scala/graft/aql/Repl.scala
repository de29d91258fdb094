package graft.aql

import graft.GraftSession

/** Interactive AQL shell — the engine's user-facing surface (the reference
  * exposes the same statement set over an encrypted HTTP server,
  * `/root/reference/src/database.rs:1249-1356`; a local REPL is the
  * driver-friendly equivalent surface).
  *
  * Usage: runMain graft.aql.Repl [dbDir]
  * Reads one AQL statement per line from stdin; `exit` quits.
  */
object Repl {
  def main(args: Array[String]): Unit = {
    val dbDir = args.headOption.getOrElse(
      java.nio.file.Files.createTempDirectory("graft-db").toString)
    val spark = GraftSession.create(appName = "graft-aql")
    val eng = new Engine(spark, dbDir)
    println(s"graft AQL shell — db at $dbDir")
    Iterator.continually(scala.io.StdIn.readLine("aql> "))
      .takeWhile(l => l != null && l.trim.toLowerCase != "exit")
      .filter(_.trim.nonEmpty)
      .foreach { line =>
        try eng.execute(line) match {
          case Engine.ResultSet(df, id) =>
            val rows = eng.firstPage(id)
            println(df.columns.mkString(" | "))
            rows.foreach(r => println(r.mkString(" | ")))
            println(s"-- ${rows.length} row(s) shown, cursor $id")
          case Engine.Page(rows, page) =>
            rows.foreach(r => println(r.mkString(" | ")))
            println(s"-- page $page (${rows.length} rows)")
          case Engine.Done(msg) => println(s"-- $msg")
        } catch {
          case e: Exception => println(s"!! ${e.getClass.getSimpleName}: ${e.getMessage}")
        }
      }
    spark.stop()
  }
}
