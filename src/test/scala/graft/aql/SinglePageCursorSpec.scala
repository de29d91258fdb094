package graft.aql

import graft.TestSpark
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.scalatest.funsuite.AnyFunSuite

/** A result of at most one page is held by its cursor as rows once the
  * first page is served: later pages slice the rows and start no Spark
  * job. Larger results keep the persisted-sort path. */
class SinglePageCursorSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private lazy val eng = {
    val dir = java.nio.file.Files.createTempDirectory("graft-single-page")
    val e = new Engine(spark, dir.toString)
    e.execute("CREATE CONTAINER sp ['n','s'] [INT, TEXT]")
    import spark.implicits._
    e.catalog.overwrite("sp", (1 to 101).map(i => (i, s"row$i")).toDF("n", "s"))
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

  test("a 101-row result keeps its plan and persists on its first QYCNNXT") {
    val id = open("SEARCH [] ON sp")
    assert(ns(eng.firstPage(id)) == (1 to 100))
    val cur = eng.cursorState(id).get
    assert(cur.analyzed.nonEmpty, "a result over one page keeps its plan")
    assert(!cur.paged.storageLevel.useMemory, "nothing is persisted before paging")
    val p1 = page(s"QYCNNXT $id")
    assert(p1.page == 1 && ns(p1.rows) == Seq(101))
    assert(cur.paged.storageLevel.useMemory, "the first QYCNNXT persists the sorted result")
    assert(ns(page(s"QYCNPVS $id").rows) == (1 to 100))
    eng.execute(s"QYCNEXT $id")
    assert(cur.paged.storageLevel == org.apache.spark.storage.StorageLevel.NONE)
  }
}
