package graft.catalog

import graft.TestSpark
import graft.aql.Engine
import org.apache.spark.sql.{Column, Row}
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** The value-index access path never changes a result: random AND-chains
  * of `=`, IN lists and ranges over a container with a single-column
  * index on a capped-string column, a composite (a, b) index and a FLOAT
  * index return exactly the rows of the same predicate applied to the
  * unindexed read, or fail with the same error class as the same
  * statement on an unindexed twin. The chains mix keys longer than the
  * NANO-STRING cap (they truncate, as WHERE literals do), leader-only
  * ranges on the composite, int literals on the FLOAT column and INT
  * literals out of the INT range; a small `index_probe_cap` exercises
  * the served, skipped and abandoned probes, with and without ANALYZE
  * stats. */
class ValueIndexPropertySpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = TestSpark.spark
  private val root = java.nio.file.Files.createTempDirectory("graft-vix-prop")
  private var eng: Engine = _
  private def cat = eng.catalog

  private val sPool = Vector("abcdefghi0", "abcdefghi1", "abcdefghi2", "abcdefghi3",
    "abcdefghi4", "abcdefghi5", "s1", "s22", "zz", "m", "abcdefghij", "q")
  private val aPool = Vector("l0", "l1", "l2", "l3")

  override def beforeAll(): Unit = {
    java.nio.file.Files.writeString(root.resolve(Settings.FileName), "index_probe_cap: 12\n")
    eng = new Engine(spark, root.toString)
    val rng = new scala.util.Random(20261020)
    val rows = (0L until 120L).map(i => Row(i, sPool(rng.nextInt(sPool.size)),
      aPool(rng.nextInt(aPool.size)), rng.nextInt(6), rng.nextInt(40) * 0.25))
    for (c <- Seq("vp", "pp")) {
      eng.execute(s"CREATE CONTAINER $c ['id','s','a','b','f'] " +
        "[BIGINT, NANO-STRING, TEXT, INT, FLOAT]")
      cat.overwrite(c, spark.createDataFrame(rows.asJava, cat.get(c).schema)
        .repartitionByRange(3, col("id")).sortWithinPartitions("id"))
    }
    eng.execute("CREATE INDEX vs ON vp ['s'] USING value")
    eng.execute("CREATE INDEX vab ON vp ['a','b'] USING value")
    eng.execute("CREATE INDEX vf ON vp ['f'] USING value")
  }

  /** A WHERE atom: its AQL text and the predicate it means, literals
    * already typed for the column (capped strings truncated). */
  private case class Atom(aql: String, pred: Column)

  private def quoted(v: String) = s"'$v'"
  private def cmp(c: Column, op: String, v: Any): Column = op match {
    case "=" => c === v; case ">" => c > v; case ">=" => c >= v
    case "<" => c < v; case "<=" => c <= v
  }

  private def randomAtom(rng: scala.util.Random): Atom = {
    val ops = Vector("=", ">", ">=", "<", "<=")
    def sKey(): String = rng.nextInt(4) match {
      case 0 => sPool(rng.nextInt(sPool.size)) + "XYZ" // longer than the cap
      case 1 => "abcdefghi" + rng.nextInt(9) + "tail"
      case 2 => "absent"
      case _ => sPool(rng.nextInt(sPool.size))
    }
    def trunc(v: String) = v.take(10)
    def bKey(): Long = if (rng.nextInt(8) == 0) 9999999999L else rng.nextInt(8) - 1L
    rng.nextInt(9) match {
      case 0 | 1 =>
        val v = sKey()
        Atom(s"s = ${quoted(v)}", col("s") === trunc(v))
      case 2 =>
        val vs = Seq.fill(1 + rng.nextInt(3))(sKey())
        Atom(s"s IN [${vs.map(quoted).mkString(", ")}]", col("s").isin(vs.map(trunc): _*))
      case 3 =>
        val (op, v) = (ops(rng.nextInt(ops.size)), sKey())
        Atom(s"s $op ${quoted(v)}", cmp(col("s"), op, trunc(v)))
      case 4 =>
        val vs = Seq.fill(1 + rng.nextInt(2))(aPool(rng.nextInt(aPool.size)))
        if (vs.size == 1) Atom(s"a = ${quoted(vs.head)}", col("a") === vs.head)
        else Atom(s"a IN [${vs.map(quoted).mkString(", ")}]", col("a").isin(vs: _*))
      case 5 =>
        // a leader-only range on the composite index
        val (op, v) = (ops.tail(rng.nextInt(ops.size - 1)), aPool(rng.nextInt(aPool.size)))
        Atom(s"a $op ${quoted(v)}", cmp(col("a"), op, v))
      case 6 =>
        if (rng.nextBoolean()) {
          val vs = Seq.fill(1 + rng.nextInt(3))(bKey())
          Atom(s"b IN [${vs.mkString(", ")}]", col("b").isin(vs.map(_.toInt): _*))
        } else {
          val (op, v) = (ops(rng.nextInt(ops.size)), bKey())
          Atom(s"b $op $v", cmp(col("b"), op, v.toInt))
        }
      case _ =>
        val op = ops(rng.nextInt(ops.size))
        if (rng.nextBoolean()) {
          val v = rng.nextInt(10)
          Atom(s"f $op $v", cmp(col("f"), op, v.toDouble))
        } else {
          val v = rng.nextInt(40) * 0.25
          Atom(s"f $op $v", cmp(col("f"), op, v))
        }
    }
  }

  private def search(c: String, where: String): Seq[Row] =
    eng.orderedResult(eng.execute(s"SEARCH [] ON $c WHERE $where")
      .asInstanceOf[Engine.ResultSet].cursorId).get.collect().toSeq

  /** Runs the trials; returns how many trials raised an error and how
    * many EXPLAINs narrated each probe outcome, so a test can require
    * that it exercised them. */
  private def check(seed: Int, trials: Int): Map[String, Int] = {
    val rng = new scala.util.Random(seed)
    val outcomes = Seq("served", "skipped", "abandoned")
    (1 to trials).flatMap { trial =>
      val atoms = Seq.fill(1 + rng.nextInt(3))(randomAtom(rng))
      val where = atoms.map(_.aql).mkString(" AND ")
      scala.util.Try(search("pp", where)) match {
        case scala.util.Failure(e) =>
          val got = intercept[Throwable](search("vp", where))
          assert(got.getClass == e.getClass,
            s"seed $seed trial $trial: WHERE $where raised ${got.getClass}, " +
              s"the plain scan ${e.getClass}")
          Seq("error")
        case scala.util.Success(plain) =>
          val want = Engine.defaultOrder(cat.read("vp")
            .filter(atoms.map(_.pred).reduce(_ && _))).collect().toSeq
          assert(plain == want, s"seed $seed trial $trial: plain scan, WHERE $where")
          assert(search("vp", where) == want, s"seed $seed trial $trial: WHERE $where")
          val plan = eng.execute(s"EXPLAIN SEARCH [] ON vp WHERE $where")
            .asInstanceOf[Engine.Done].message
          outcomes.filter(o => plan.contains(s") $o"))
      }
    }.groupBy(identity).map { case (o, n) => o -> n.size }
  }

  test("random value-index probes return the plain scan's rows, without stats") {
    val seen = check(seed = 11, trials = 40)
    assert(seen.contains("served") && seen.contains("abandoned") &&
      seen.contains("error"), seen)
  }

  test("random value-index probes return the plain scan's rows, with ANALYZE stats") {
    eng.orderedResult(eng.execute("ANALYZE CONTAINER vp")
      .asInstanceOf[Engine.ResultSet].cursorId).get.collect()
    val seen = check(seed = 12, trials = 40)
    assert(seen.contains("served") && seen.contains("skipped"), seen)
  }
}
