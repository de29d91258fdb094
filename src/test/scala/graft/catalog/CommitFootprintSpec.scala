package graft.catalog

import graft.TestSpark
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** What a point-insert COMMIT costs on a text+lsh indexed container:
  * one data part file per staged insert batch, one `src=` part per
  * index, and no shuffle anywhere in the commit — maintenance follows
  * the changed rows, not per-file or per-job fan-out. The commit's jobs
  * are picked out by the statement's Spark job group.
  */
class CommitFootprintSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("5 × CREATE ROW + COMMIT: one data file, one src= dir per index, " +
      "no Exchange in any commit job") {
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
    val cat = eng.catalog
    val before = cat.currentVersion("docs")
    val filesBefore = cat.versionFiles("docs", before).map(_.getFileName.toString).toSet

    (100 until 105).foreach { i =>
      eng.execute(s"CREATE ROW ['doc_id','body'] [$i,'fresh words for row $i'] ON docs")
    }
    val group = s"footprint-${System.nanoTime()}"
    // the physical plan of every SQL execution the commit runs
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

    val seen = plans.synchronized(plans.toList)
    assert(seen.nonEmpty, "the commit's queries must carry the statement's job group")
    assert(!seen.exists(_.contains("Exchange")),
      s"a commit query plans an Exchange:\n${seen.filter(_.contains("Exchange")).mkString("\n")}")

    assert(cat.textSearch("docs", "ft", Seq("fresh"), 10).count() == 5)
    assert(cat.read("docs").count() == 45)
  }
}
