package graft.aql

import graft.TestSpark
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.scalatest.funsuite.AnyFunSuite

/** A result of at most ten pages (and within its cursor's share of
  * memory_limit) is held by its cursor as rows once the first page is
  * served: later pages slice the rows and start no Spark job. Larger
  * results keep the persisted-sort path. */
class SinglePageCursorSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private lazy val eng = {
    val dir = java.nio.file.Files.createTempDirectory("graft-single-page")
    val e = new Engine(spark, dir.toString)
    e.execute("CREATE CONTAINER sp ['n','s'] [INT, TEXT]")
    import spark.implicits._
    e.catalog.overwrite("sp", (1 to 101).map(i => (i, s"row$i")).toDF("n", "s"))
    e.execute("CREATE CONTAINER sr ['n','s'] [INT, TEXT]")
    e.catalog.overwrite("sr", (1 to 1001).map(i => (i, s"row$i")).toDF("n", "s"))
    e
  }

  private def open(aql: String): String =
    eng.execute(aql).asInstanceOf[Engine.ResultSet].cursorId

  private def page(stmt: String): Engine.Page =
    eng.execute(stmt).asInstanceOf[Engine.Page]

  private def ns(rows: Seq[org.apache.spark.sql.Row]): Seq[Int] = rows.map(_.getInt(0))

  /** The job groups of the Spark jobs `body` starts on this thread. A
    * sentinel job after `body` flushes the listener: events arrive in
    * order, so every job `body` started has been seen once it has. */
  private def jobsOf(body: => Unit): Seq[String] = {
    val group = s"single-page-${System.nanoTime()}"
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        seen.add(Option(e.properties).flatMap(p =>
          Option(p.getProperty("spark.jobGroup.id"))).getOrElse(""))
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "paging", interruptOnCancel = false)
      try body finally sc.clearJobGroup()
      sc.setJobGroup(s"$group-sentinel", "sentinel", interruptOnCancel = false)
      try spark.range(1).count() finally sc.clearJobGroup()
      graft.TestWait.eventually(seen.contains(s"$group-sentinel"), "sentinel job not seen")
    } finally sc.removeSparkListener(listener)
    import scala.jdk.CollectionConverters._
    seen.asScala.filter(_ == group).toSeq
  }

  test("a result within one page is held as rows: paging starts no job") {
    val id = open("SEARCH [] ON sp WHERE n <= 50")
    val first = eng.firstPage(id)
    assert(ns(first) == (1 to 50))
    val cur = eng.cursorState(id).get
    assert(cur.analyzed.isEmpty, "a single-page cursor holds its rows and no DataFrame")
    var next, back: Engine.Page = null
    val jobs = jobsOf {
      next = page(s"QYCNNXT $id")
      back = page(s"QYCNPVS $id")
    }
    assert(jobs.isEmpty, s"paging a held result started ${jobs.length} Spark job(s)")
    // the same pages a plan-backed cursor serves: page 1 is empty, and
    // QYCNPVS goes back to page 0
    assert(next.page == 1 && next.rows.isEmpty)
    assert(back.page == 0 && back.rows == first)
    assert(eng.orderedResult(id).get.collect().toSeq == first)
    eng.execute(s"QYCNEXT $id")
    assert(eng.cursorState(id).isEmpty)
  }

  test("an empty result and an explicit ORDER BY are held in their order") {
    val none = open("SEARCH [] ON sp WHERE n > 500")
    assert(eng.firstPage(none).isEmpty && eng.cursorState(none).get.analyzed.isEmpty)
    assert(page(s"QYCNNXT $none").rows.isEmpty)
    val desc = open("SEARCH [] ON sp WHERE n > 90 ORDER BY [n DESC]")
    val rows = eng.firstPage(desc)
    assert(ns(rows) == (101 to 91 by -1))
    assert(ns(eng.orderedResult(desc).get.collect().toSeq) == (101 to 91 by -1))
    assert(ns(page(s"QYCNPVS $desc").rows) == (101 to 91 by -1))
    Seq(none, desc).foreach(c => eng.execute(s"QYCNEXT $c"))
  }

  test("a 300-row result is held: firstPage serves page 0 only, paging starts " +
      "no job and matches a plan-backed cursor") {
    val held = open("SEARCH [] ON sr WHERE n <= 300")
    val first = eng.firstPage(held)
    assert(ns(first) == (1 to 100), "firstPage returns page 0, not every held row")
    assert(eng.cursorState(held).get.analyzed.isEmpty,
      "a result of up to ten pages holds its rows and no DataFrame")
    assert(eng.firstPage(held) == first, "a held cursor's first page is still page 0")
    val steps = Seq("QYCNNXT", "QYCNNXT", "QYCNPVS")
    var heldPages: Seq[Engine.Page] = Nil
    val jobs = jobsOf { heldPages = steps.map(s => page(s"$s $held")) }
    assert(jobs.isEmpty, s"paging a held result started ${jobs.length} Spark job(s)")
    // the same SEARCH paged without firstPage keeps its plan
    val planned = open("SEARCH [] ON sr WHERE n <= 300")
    val planPages = steps.map(s => page(s"$s $planned"))
    assert(eng.cursorState(planned).get.analyzed.nonEmpty)
    assert(heldPages.map(p => (p.page, ns(p.rows))) ==
      Seq((1, 101 to 200), (2, 201 to 300), (1, 101 to 200)))
    assert(heldPages == planPages, "held and plan-backed cursors serve the same pages")
    assert(eng.orderedResult(held).get.collect().toSeq ==
      eng.orderedResult(planned).get.collect().toSeq)
    Seq(held, planned).foreach(c => eng.execute(s"QYCNEXT $c"))
  }

  test("a ten-page result over memory_limit / MaxCursors keeps its plan and " +
      "persists on its first QYCNNXT") {
    val dir = java.nio.file.Files.createTempDirectory("graft-held-budget")
    // the smallest memory_limit: 1 MiB / 256 cursors = 4 KiB of held rows
    java.nio.file.Files.writeString(
      dir.resolve(graft.catalog.Settings.FileName), "memory_limit: 1048576\n")
    val small = new Engine(spark, dir.toString)
    small.execute("CREATE CONTAINER sb ['n','s'] [INT, TEXT]")
    import spark.implicits._
    val rows = (1 to 300).map(i => (i, s"row$i"))
    small.catalog.overwrite("sb", rows.toDF("n", "s"))
    assert(org.apache.spark.util.SizeEstimator.estimate(
      rows.map { case (n, s) => org.apache.spark.sql.Row(n, s) }) > 4096)
    val id = small.execute("SEARCH [] ON sb").asInstanceOf[Engine.ResultSet].cursorId
    val cur = small.cursorState(id).get
    assert(cur.cacheCap / Engine.MaxCursors == 4096)
    assert(ns(small.firstPage(id)) == (1 to 100))
    assert(cur.analyzed.nonEmpty, "a result over the held-bytes budget keeps its plan")
    assert(!cur.paged.storageLevel.useMemory, "nothing is persisted before paging")
    val p1 = small.execute(s"QYCNNXT $id").asInstanceOf[Engine.Page]
    assert(p1.page == 1 && ns(p1.rows) == (101 to 200))
    assert(cur.paged.storageLevel.useMemory, "the first QYCNNXT persists the sorted result")
    small.execute(s"QYCNEXT $id")
    assert(cur.paged.storageLevel == org.apache.spark.storage.StorageLevel.NONE)
  }

  test("a 1001-row result keeps its plan and persists on its first QYCNNXT") {
    val id = open("SEARCH [] ON sr")
    assert(ns(eng.firstPage(id)) == (1 to 100))
    val cur = eng.cursorState(id).get
    assert(cur.analyzed.nonEmpty, "a result over one page keeps its plan")
    assert(!cur.paged.storageLevel.useMemory, "nothing is persisted before paging")
    val p1 = page(s"QYCNNXT $id")
    assert(p1.page == 1 && ns(p1.rows) == (101 to 200))
    assert(cur.paged.storageLevel.useMemory, "the first QYCNNXT persists the sorted result")
    assert(ns(page(s"QYCNPVS $id").rows) == (1 to 100))
    eng.execute(s"QYCNEXT $id")
    assert(cur.paged.storageLevel == org.apache.spark.storage.StorageLevel.NONE)
  }
}
