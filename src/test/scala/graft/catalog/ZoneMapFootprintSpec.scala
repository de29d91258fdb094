package graft.catalog

import graft.TestSpark
import graft.aql.Engine
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.Row
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** What a point read costs once the min/max index applies at both grains:
  * the file zone maps drop every file on the driver but the key's, and
  * 1,000-row pages let the reader decode one page of it. Counted with a
  * listener over the statement's own job group. */
class ZoneMapFootprintSpec extends AnyFunSuite with BeforeAndAfterAll
    with AdaptiveSparkPlanHelper {
  private lazy val spark = TestSpark.spark
  private var eng: Engine = _
  private val Rows = 40000L

  override def beforeAll(): Unit = {
    eng = new Engine(spark, java.nio.file.Files.createTempDirectory("graft-zonemap-fp").toString)
    // 4 pk-clustered files of 10,000 rows; customer c = k % 4000, so a
    // customer's 10 orders lie in every file
    eng.execute("CREATE CONTAINER ord ['k','c','p'] [BIGINT, BIGINT, FLOAT]")
    eng.catalog.overwrite("ord", spark.range(0, Rows).select(col("id").as("k"),
      (col("id") % 4000).as("c"), (col("id") * 0.5).as("p"))
      .repartitionByRange(4, col("k")).sortWithinPartitions("k"))
    eng.execute("CREATE INDEX cust ON ord ['c'] USING value")
  }

  private final case class Footprint(tasks: Int, records: Long)

  /** Tasks started and records read by the jobs `body` runs. */
  private def footprint(body: => Unit): Footprint = {
    val group = s"zonemap-${System.nanoTime()}"
    val stages = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val tasks = new java.util.concurrent.atomic.AtomicInteger
    val records = new java.util.concurrent.atomic.AtomicLong
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          e.stageIds.foreach(stages.add)
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (stages.contains(e.stageId)) {
          tasks.incrementAndGet()
          records.addAndGet(e.taskMetrics.inputMetrics.recordsRead)
        }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      spark.sparkContext.setJobGroup(group, "zone-map footprint", interruptOnCancel = false)
      try body finally spark.sparkContext.clearJobGroup()
      org.apache.spark.sql.graft.Bridge.flushListenerBus(spark)
    } finally spark.sparkContext.removeSparkListener(listener)
    Footprint(tasks.get, records.get)
  }

  private def page(rs: Engine.ResultSet): Seq[Row] =
    try eng.firstPage(rs.cursorId) finally eng.execute(s"QYCNEXT ${rs.cursorId}")

  test("pk SEARCH on a 4-file container starts one task and reads at most 1,000 records") {
    for (k <- Seq(5L, 12345L, 27000L, Rows - 1)) {
      var got = Seq.empty[Row]
      val fp = footprint {
        got = page(eng.execute(s"SEARCH [] ON ord WHERE k = $k").asInstanceOf[Engine.ResultSet])
      }
      assert(got.map(_.getLong(0)) == Seq(k))
      assert(fp.tasks == 1, s"k=$k: $fp")
      assert(fp.records <= 1000, s"k=$k: $fp")
    }
  }

  test("value-index SEARCH: the data scan reads at most candidates × 1,000 records") {
    val c = 1234L
    val rs = eng.execute(s"SEARCH [] ON ord WHERE c = $c").asInstanceOf[Engine.ResultSet]
    var got = Seq.empty[Row]
    // the index probe ran at lowering; the page runs the data scan
    val fp = footprint { got = page(rs) }
    val want = (0L until Rows / 4000).map(i => c + 4000 * i)
    assert(got.map(_.getLong(0)).sorted == want)
    assert(fp.records <= want.size * 1000L, fp.toString)
  }

  /** The file-source scans of the queries `body` runs, with the number of
    * files each read. */
  private def scans(body: => Unit): Seq[(FileSourceScanExec, Long)] = {
    val seen = scala.collection.mutable.ArrayBuffer.empty[(FileSourceScanExec, Long)]
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        seen.synchronized(seen ++= collect(qe.executedPlan) {
          case s: FileSourceScanExec => (s, s.metrics("numFiles").value)
        })
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try { body; org.apache.spark.sql.graft.Bridge.flushListenerBus(spark) }
    finally spark.listenerManager.unregister(listener)
    seen.synchronized(seen.toList)
  }

  test("point EDIT + COMMIT on an 8-file docs container probes one file") {
    val e = new Engine(spark, java.nio.file.Files.createTempDirectory("graft-zonemap-docs").toString)
    e.execute("CREATE CONTAINER docs ['doc_id','body'] [BIGINT, TEXT]")
    import spark.implicits._
    e.catalog.overwrite("docs", (0L until 80L)
      .map(i => (i, s"document number $i about the merge of index parts"))
      .toDF("doc_id", "body")
      .repartitionByRange(8, col("doc_id")).sortWithinPartitions("doc_id"))
    e.execute("CREATE INDEX ft ON docs ['body'] USING text")
    val base = e.catalog.currentVersion("docs")
    assert(e.catalog.versionFileCount("docs", base) == 8)
    e.execute("EDIT ROW ['body'] ['edited words'] ON docs WHERE doc_id = 37")
    val seen = scans(e.execute("COMMIT docs"))
    val versionDir = e.catalog.versionPath("docs", base).toUri.getPath.stripSuffix("/")
    val probes = seen.filter(_._1.relation.location.rootPaths
      .map(_.toUri.getPath.stripSuffix("/")) == Seq(versionDir))
    assert(probes.nonEmpty, s"no scan of the base version among ${seen.map(_._1.relation.location.rootPaths)}")
    assert(probes.forall(_._2 == 1), s"touched-file probe files: ${probes.map(_._2)}")
    assert(e.catalog.read("docs").filter(col("doc_id") === 37L)
      .select("body").as[String].collect().toSeq == Seq("edited words"))
  }

  test("an unfiltered scan and an index build read no footer on the driver") {
    // a container of its own, so no footer of it is cached yet
    eng.execute("CREATE CONTAINER fresh ['k','c'] [BIGINT, BIGINT]")
    eng.catalog.overwrite("fresh", spark.range(0, 4000).select(col("id").as("k"),
      (col("id") % 40).as("c")).repartitionByRange(4, col("k")).sortWithinPartitions("k"))
    val before = ZoneMap.footerReads.get
    assert(eng.catalog.read("fresh").count() == 4000)
    assert(page(eng.execute("SEARCH [] ON fresh").asInstanceOf[Engine.ResultSet]).nonEmpty)
    eng.execute("CREATE INDEX fc ON fresh ['c'] USING value")
    eng.execute("CREATE ROW ['k','c'] [4000, 7] ON fresh")
    eng.execute("COMMIT fresh")
    assert(ZoneMap.footerReads.get == before)
  }
}
