package graft.functions

import graft.TestSpark
import graft.aql.Engine
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, EqualTo, In}
import org.apache.spark.sql.catalyst.expressions.codegen.{GeneratePredicate, GenerateUnsafeProjection}
import org.apache.spark.sql.execution.FilterExec
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Filter keys stay out of generated code: point, value-index, range and
  * IN-list reads with a new key reuse the previous key's compiled class,
  * and the rewrite changes neither results, exchange reuse nor EXPLAIN. */
class ParamLiteralSpec extends AnyFunSuite with BeforeAndAfterAll with AdaptiveSparkPlanHelper {
  private lazy val spark = TestSpark.spark
  private var eng: Engine = _

  override def beforeAll(): Unit = {
    eng = new Engine(spark, java.nio.file.Files.createTempDirectory("graft-param").toString)
    // 2,000 rows, 5 per customer: a value-index read fetches 5 pks
    eng.execute("CREATE CONTAINER ol ['k','c','p'] [BIGINT, BIGINT, FLOAT]")
    eng.catalog.overwrite("ol", spark.range(0, 2000).select(col("id").as("k"),
      (col("id") % 400).as("c"), (col("id") * 1.5 + 0.25).as("p"))
      .repartitionByRange(4, col("k")).sortWithinPartitions("k"))
    eng.execute("CREATE INDEX ic ON ol ['c'] USING value")
    eng.execute("CREATE CONTAINER oi ['k','v'] [INT, INT]")
    eng.catalog.overwrite("oi", spark.range(0, 2000).select(col("id").cast("int").as("k"),
      (col("id") * 3).cast("int").as("v"))
      .repartitionByRange(4, col("k")).sortWithinPartitions("k"))
  }

  /** A read as the server serves it: the statement, then its first page. */
  private def read(aql: String): Seq[Row] = {
    val rs = eng.execute(aql).asInstanceOf[Engine.ResultSet]
    try eng.firstPage(rs.cursorId) finally eng.execute(s"QYCNEXT ${rs.cursorId}")
  }

  private def compiled(body: => Unit): Long = {
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    body
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
  }

  /** Classes compiled by 20 reads with distinct keys, after two warm-up
    * reads of the same shape with other keys. */
  private def compilesPer20(stmt: Int => String, check: (Int, Seq[Row]) => Unit): Long = {
    (0 until 2).foreach(i => check(1000 + i, read(stmt(1000 + i))))
    compiled((0 until 20).foreach(i => check(i * 37 + 5, read(stmt(i * 37 + 5)))))
  }

  test("pk SEARCH on a LONG pk compiles no class per key") {
    val n = compilesPer20(k => s"SEARCH [] ON ol WHERE k = $k",
      (k, rows) => assert(rows.map(_.getLong(0)) == Seq(k.toLong)))
    assert(n <= 1, s"$n classes compiled by 20 pk reads")
  }

  test("pk SEARCH on an INT pk compiles no class per key") {
    val n = compilesPer20(k => s"SEARCH [] ON oi WHERE k = $k",
      (k, rows) => assert(rows.map(r => (r.getInt(0), r.getInt(1))) == Seq((k, 3 * k))))
    assert(n <= 1, s"$n classes compiled by 20 pk reads")
  }

  test("value-index SEARCH compiles no class per key") {
    val n = compilesPer20(c => s"SEARCH [] ON ol WHERE c = ${c % 400}",
      (c, rows) => assert(rows.map(_.getLong(0)) == (0 until 5).map(i => (c % 400 + 400 * i).toLong)))
    assert(n <= 1, s"$n classes compiled by 20 value-index reads")
  }

  test("range SEARCH compiles no class per key") {
    // p = 1.5·k + 0.25: [1.5·k, 1.5·k + 15) holds k .. k+9
    val n = compilesPer20(k => s"SEARCH [] ON ol WHERE p >= ${1.5 * k} AND p < ${1.5 * k + 15}",
      (k, rows) => assert(rows.map(_.getLong(0)) == (k until k + 10).map(_.toLong)))
    assert(n <= 1, s"$n classes compiled by 20 range reads")
  }

  test("IN-list SEARCHes of 5 and of 15 keys compile no class per key set") {
    // 15 keys pass the optimizer's IN → INSET threshold; an INSET over an
    // INT column would codegen its keys as switch cases
    for (width <- Seq(5, 15)) {
      val keys = (k: Int) => (0 until width).map(i => k + 50 * i)
      val n = compilesPer20(k => s"SEARCH [] ON oi WHERE k IN [${keys(k).mkString(", ")}]",
        (k, rows) => assert(rows.map(_.getInt(0)) == keys(k)))
      assert(n <= 1, s"$n classes compiled by 20 IN-list reads of $width keys")
    }
  }

  test("a UNION of two pk SEARCHes differing only by key returns both rows") {
    assert(read("(SEARCH [] ON ol WHERE k = 11) UNION (SEARCH [] ON ol WHERE k = 12)")
      .map(_.getLong(0)).sorted == Seq(11L, 12L))
    // a filter on an aggregate result stays out of the scan, so the key
    // lives only in the FilterExec under each branch's exchange: only
    // equal keys may share that exchange (every customer has 5 orders)
    val t = eng.catalog.read("ol")
    def branch(n: Long) = t.groupBy("c").count().filter(col("count") === n).groupBy("count").count()
    def reusesFilter(df: DataFrame) = { df.collect()
      collect(df.queryExecution.executedPlan) { case r: ReusedExchangeExec => r.child }
        .exists(_.exists(_.isInstanceOf[FilterExec])) }
    val differ = branch(5).union(branch(6))
    assert(differ.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq == Seq((5L, 400L)))
    assert(!reusesFilter(differ))
    assert(reusesFilter(branch(5).union(branch(5))), "equal keys still share one exchange")
  }

  private lazy val typed: DataFrame = {
    val dir = java.nio.file.Files.createTempDirectory("graft-param-typed").toString
    spark.sql("SELECT * FROM VALUES " +
      "(1, DATE'2024-01-01', TIMESTAMP'2024-01-01 10:00:00', CAST(1.5 AS FLOAT)), " +
      "(2, DATE'2024-01-02', TIMESTAMP'2024-01-02 10:00:00', CAST(2.0 AS FLOAT)), " +
      "(3, DATE'2024-01-03', TIMESTAMP'2024-01-03 10:00:00', CAST(2.5 AS FLOAT)), " +
      "(4, CAST(NULL AS DATE), CAST(NULL AS TIMESTAMP), CAST(NULL AS FLOAT)) AS t(id, d, ts, f)")
      .write.mode("overwrite").parquet(dir)
    spark.read.parquet(dir)
  }

  private def ids(where: String): Seq[Int] =
    typed.where(where).select("id").collect().map(_.getInt(0)).sorted.toSeq

  private def parameterized(df: DataFrame): Boolean = { df.collect()
    collect(df.queryExecution.executedPlan) { case f: FilterExec => f.condition }
      .exists(_.exists(_.isInstanceOf[ParamLiteral])) }

  test("DATE, TIMESTAMP and FLOAT-vs-INT comparisons return the same rows") {
    assert(ids("d >= DATE'2024-01-02'") == Seq(2, 3))
    assert(ids("ts < TIMESTAMP'2024-01-02 10:00:00'") == Seq(1))
    assert(ids("d IN (DATE'2024-01-01', DATE'2024-01-03')") == Seq(1, 3))
    assert(ids("f > 2") == Seq(3))
    assert(ids("f = 2") == Seq(2))
    assert(ids("f <= 2") == Seq(1, 2))
    assert(parameterized(typed.where("d >= DATE'2024-01-02' AND ts < TIMESTAMP'2024-01-03 00:00:00'")))
    assert(parameterized(typed.where("f > 2")))
  }

  test("NULL literals keep SQL three-valued results") {
    assert(ids("id IN (1, NULL, 3)") == Seq(1, 3))
    assert(ids("id NOT IN (1, NULL, 3)").isEmpty)
    assert(ids("f <=> NULL") == Seq(4))
    assert(ids("d = NULL").isEmpty)
    assert(ids("id IN (1, 2, 3, 4, 5, 6, 7, 8, 9, 10, 11, NULL)") == Seq(1, 2, 3, 4))
  }

  test("interpreted eval matches codegen") {
    val cases = Seq[(Any, DataType)]((7.toByte, ByteType), (7.toShort, ShortType),
      (7, IntegerType), (7L, LongType), (7.5f, FloatType), (7.5, DoubleType),
      (19723, DateType), (1704103200000000L, TimestampType))
    for ((v, t) <- cases) {
      val p = ParamLiteral(v, t)
      assert(p.eval(null) == v)
      assert(GenerateUnsafeProjection.generate(Seq(p)).apply(InternalRow.empty).get(0, t) == v)
      val eq = EqualTo(BoundReference(0, t, nullable = false), p)
      val in = In(BoundReference(0, t, nullable = false), Seq(ParamLiteral(v, t), p))
      for (e <- Seq(eq, in)) {
        assert(e.eval(InternalRow(v)) == true)
        assert(GeneratePredicate.generate(e).eval(InternalRow(v)))
      }
    }
  }

  test("ParamLiteral equality and rendering follow its value") {
    assert(ParamLiteral(1L, LongType) == ParamLiteral(1L, LongType))
    assert(ParamLiteral(1L, LongType) != ParamLiteral(2L, LongType))
    assert(ParamLiteral(1L, LongType).canonicalized != ParamLiteral(2L, LongType).canonicalized)
    assert(!ParamLiteral(1L, LongType).foldable)
    assert(ParamLiteral(19723, DateType).toString == "2024-01-01")
    assert(ParamLiteral(19723, DateType).sql == "DATE '2024-01-01'")
    assert(ParamLiteral(3L, LongType).sql == "3L")
  }

  test("EXPLAIN of a pk SEARCH prints the literal filter text") {
    val plan = eng.execute("EXPLAIN SEARCH [] ON ol WHERE k = 7")
      .asInstanceOf[Engine.Done].message.replaceAll("#\\d+", "#N")
    assert(plan.contains("Condition : (isnotnull(k#NL) AND (k#NL = 7))"), plan)
    assert(plan.contains("PushedFilters: [IsNotNull(k), EqualTo(k,7)]"), plan)
  }
}
