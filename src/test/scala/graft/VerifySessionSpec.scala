package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins the single-session-recipe invariant: the driver's Verify run, Bench,
  * and the test suite must all execute under GraftSession.create's optimizer
  * set. Round 2 shipped a Verify that built its own session WITHOUT the
  * InferFiltersFromGenerate exclusion and the AQE size-based coalescing —
  * correctness held, but the driver's verify re-evaluated computed arrays
  * under explodes (the measured 8.9s → 0.3s pathology). This spec fails if
  * the factory ever loses one of the load-bearing configs.
  */
class VerifySessionSpec extends AnyFunSuite {

  private lazy val conf = TestSpark.spark.conf

  test("optimizer excludes InferFiltersFromGenerate (computed-array explodes)") {
    assert(conf.get("spark.sql.optimizer.excludedRules")
      .contains("org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate"))
  }

  test("default profile is interactive: no adaptive re-planning barriers") {
    // every shuffle-bearing plan shape is statically decided and pinned
    // (PlanAuditSpec); AQE's per-exchange materialization barriers cost
    // ~24% of sf0.1 bench wall for zero plan changes (GraftSession doc)
    assert(conf.get("spark.sql.adaptive.enabled") == "false")
  }

  test("batch profile keeps AQE with size-based coalescing + skew split") {
    val batch = GraftSession.profileConfs("batch")
    assert(batch("spark.sql.adaptive.enabled") == "true")
    assert(batch("spark.sql.adaptive.coalescePartitions.parallelismFirst") == "false")
    assert(batch("spark.sql.adaptive.advisoryPartitionSizeInBytes") == "16m")
    assert(batch("spark.sql.adaptive.skewJoin.enabled") == "true")
  }

  test("batch profile width is scale-adaptive: reducers start at 4×cores " +
      "for AQE to size, scan floor follows cores (round 18)") {
    val s = GraftSession.batchScaleConfs(32)
    assert(s("spark.sql.adaptive.coalescePartitions.initialPartitionNum") == "128")
    assert(s("spark.sql.files.minPartitionNum") == "32")
    // nothing hard-codes the bench width: the map derives from cores
    assert(GraftSession.batchScaleConfs(8)(
      "spark.sql.adaptive.coalescePartitions.initialPartitionNum") == "32")
  }

  test("SPARK_GRAFT_CPUS: '*' means every processor; a non-count fails " +
      "loudly, naming the value") {
    assert(GraftSession.coreCount("*") == Runtime.getRuntime.availableProcessors)
    assert(GraftSession.coreCount(" 6 ") == 6)
    for (bad <- Seq("eight", "", "0", "-2", "4x")) {
      val e = intercept[IllegalArgumentException](GraftSession.coreCount(bad))
      assert(e.getMessage.contains(s"'$bad'"), e.getMessage)
    }
    // the check runs at session creation, before any session is built
    intercept[IllegalArgumentException](GraftSession.create(cores = "many"))
  }

  test("unknown profile is rejected loudly") {
    intercept[RuntimeException](GraftSession.profileConfs("fastest"))
  }

  test("timestamp + timezone contract matches the oracle") {
    assert(conf.get("spark.sql.session.timeZone") == "UTC")
    assert(conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
  }

  test("Verify has no private session builder — it must use GraftSession") {
    val src = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("src/main/scala/graft/Verify.scala")))
    assert(!src.contains("SparkSession.builder"),
      "Verify.scala builds its own session; route it through GraftSession.create")
    assert(src.contains("GraftSession.create"))
  }
}
