package graft.catalog

import graft.TestSpark
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** What a point-write COMMIT costs on a text+lsh indexed container:
  * one data part file per staged insert batch, one `src=` part per
  * index, and no shuffle anywhere in an insert, edit or delete commit —
  * maintenance and the touched-file probe follow the changed rows, not
  * per-file or per-job fan-out. The commit's jobs are picked out by the
  * statement's Spark job group.
  */
class CommitFootprintSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  /** 40 docs in 4 part files, with a text and an lsh index on `body`. */
  private def indexedDocs(): graft.aql.Engine = {
    val dir = java.nio.file.Files.createTempDirectory("graft-footprint")
    val eng = new graft.aql.Engine(spark, dir.toString)
    eng.execute("CREATE CONTAINER docs ['doc_id','body'] [BIGINT, TEXT]")
    import spark.implicits._
    eng.catalog.overwrite("docs", (0L until 40L)
      .map(i => (i, s"merge the vector batch number $i into the dup index"))
      .toDF("doc_id", "body")
      .repartitionByRange(4, col("doc_id")).sortWithinPartitions("doc_id"))
    eng.execute("CREATE INDEX ft ON docs ['body'] USING text")
    eng.execute("CREATE INDEX nd ON docs ['body'] USING lsh")
    eng
  }

  /** Run COMMIT docs under its own job group and return the physical
    * plan of every SQL execution it runs. */
  private def commitPlans(eng: graft.aql.Engine): List[String] = {
    val group = s"footprint-${System.nanoTime()}"
    val plans = scala.collection.mutable.ArrayBuffer.empty[String]
    val listener = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart if s.jobGroupId.contains(group) =>
          plans.synchronized(plans += s.physicalPlanDescription)
        case _ => ()
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      spark.sparkContext.setJobGroup(group, "COMMIT docs", interruptOnCancel = false)
      try eng.execute("COMMIT docs")
      finally spark.sparkContext.clearJobGroup()
      org.apache.spark.sql.graft.Bridge.flushListenerBus(spark)
    } finally spark.sparkContext.removeSparkListener(listener)
    plans.synchronized(plans.toList)
  }

  test("5 × CREATE ROW + COMMIT: one data file, one src= dir per index, " +
      "no Exchange in any commit job") {
    val eng = indexedDocs()
    val cat = eng.catalog
    val before = cat.currentVersion("docs")
    val filesBefore = cat.versionFiles("docs", before).map(_.getFileName.toString).toSet

    (100 until 105).foreach { i =>
      eng.execute(s"CREATE ROW ['doc_id','body'] [$i,'fresh words for row $i'] ON docs")
    }
    val seen = commitPlans(eng)

    val after = cat.currentVersion("docs")
    assert(after == before + 1)
    val newFiles = cat.versionFiles("docs", after).map(_.getFileName.toString)
      .filterNot(filesBefore)
    assert(newFiles.size == 1, s"one data part file per insert batch, got $newFiles")

    for (ix <- Seq("ft", "nd")) {
      val ixDir = cat.versionPath("docs", after).resolve("_index").resolve(ix)
      val newSrc = scala.util.Using.resource(java.nio.file.Files.list(ixDir)) { s =>
        import scala.jdk.CollectionConverters._
        s.iterator().asScala.map(_.getFileName.toString)
          .filter(n => n.startsWith("src=") && !filesBefore(n.stripPrefix("src="))).toSeq
      }
      assert(newSrc == Seq(s"src=${newFiles.head}"), s"$ix: new src= dirs $newSrc")
    }

    assert(seen.nonEmpty, "the commit's queries must carry the statement's job group")
    assert(!seen.exists(_.contains("Exchange")),
      s"a commit query plans an Exchange:\n${seen.filter(_.contains("Exchange")).mkString("\n")}")

    assert(cat.textSearch("docs", "ft", Seq("fresh"), 10).count() == 5)
    assert(cat.read("docs").count() == 45)
  }

  test("EDIT ROW + COMMIT and DELETE ROW + COMMIT: no Exchange in any commit job") {
    val eng = indexedDocs()
    val cat = eng.catalog
    for ((stmt, what) <- Seq(
        "EDIT ROW ['body'] ['edited words'] ON docs WHERE doc_id = 7" -> "edit",
        "DELETE ROW ON docs WHERE doc_id = 9" -> "delete")) {
      eng.execute(stmt)
      val seen = commitPlans(eng)
      assert(seen.nonEmpty, s"$what: the commit's queries must carry the statement's job group")
      assert(!seen.exists(_.contains("Exchange")),
        s"the $what commit plans an Exchange:\n" +
          seen.filter(_.contains("Exchange")).mkString("\n"))
    }
    assert(cat.read("docs").count() == 39)
    assert(cat.read("docs").filter(col("doc_id") === 9L).isEmpty)
    assert(cat.textSearch("docs", "ft", Seq("edited"), 10).count() == 1)
  }
}
