package graft.catalog

import graft.TestSpark
import graft.aql.Engine
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** The zone maps never change a result: for random WHERE atoms, a pruned
  * read returns exactly the rows of the same predicate applied to the
  * collected, unpruned data. The container mixes the layouts pruning has
  * to get right: pk-clustered files written before an ADD COLUMN (the
  * column is missing from their footers), a renamed column (stored and
  * logical names differ), a file with no row group, NaN and -0.0. */
class ZoneMapSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = TestSpark.spark
  private val root = java.nio.file.Files.createTempDirectory("graft-zonemap")
  private var eng: Engine = _
  private def cat = eng.catalog
  private val rng = new scala.util.Random(20261019)

  private def fval(k: Long): Any = (k % 23).toInt match {
    case 0 => Double.NaN
    case 1 => -0.0
    case 2 => 0.0
    case 3 => null
    case m => (m - 12) * 0.5
  }

  private def rows(from: Long, until: Long, withG: Boolean): Seq[Row] =
    (from until until).map { k =>
      val base = Seq[Any](k,
        if (k % 17 == 0) null else ((k * 7) % 100).toInt,
        fval(k),
        if (k % 19 == 0) null else s"w${k % 37}")
      Row.fromSeq(if (withG) base :+ (if (k % 11 == 0) null else k % 29) else base)
    }

  private def frame(rs: Seq[Row], schema: StructType, files: Int): DataFrame =
    spark.createDataFrame(rs.asJava, schema)
      .repartitionByRange(files, col(schema.head.name)).sortWithinPartitions(schema.head.name)

  override def beforeAll(): Unit = {
    eng = new Engine(spark, root.toString)
    eng.execute("CREATE CONTAINER zm ['k','i','f','t'] [BIGINT, INT, FLOAT, TEXT]")
    cat.overwrite("zm", frame(rows(0, 600, withG = false), cat.get("zm").schema, 3))
    eng.execute("ALTER CONTAINER zm ADD COLUMN ['g'] [BIGINT]")
    cat.append("zm", frame(rows(600, 1200, withG = true), cat.get("zm").schema, 3))
    // an empty frame commits one part file with no row group
    cat.append("zm", spark.createDataFrame(new java.util.ArrayList[Row](),
      cat.get("zm").schema).coalesce(1))
    eng.execute("ALTER CONTAINER zm RENAME COLUMN ['i','j']")
    eng.execute("CREATE INDEX vj ON zm ['j'] USING value")
    eng.execute("CREATE INDEX ft ON zm ['t'] USING text")
  }

  /** A WHERE atom as a Spark column, plus its AQL text when AQL can say it. */
  private final case class Atom(sql: Column, aql: Option[String])

  private val cmpOps = Vector("=", "<", "<=", ">", ">=")

  private def cmp(c: String, op: String, v: Any, aqlLit: Option[String]): Atom = {
    val l = lit(v)
    val e = op match {
      case "=" => col(c) === l; case "<" => col(c) < l; case "<=" => col(c) <= l
      case ">" => col(c) > l; case ">=" => col(c) >= l
    }
    Atom(e, aqlLit.map(x => s"$c $op $x"))
  }

  /** A value drawn around (and beyond) a column's domain. */
  private def value(c: String): (Any, Option[String]) = c match {
    case "k" => val v = rng.nextInt(1300).toLong - 50; (v, Some(v.toString))
    case "j" => val v = rng.nextInt(110) - 5; (v, Some(v.toString))
    case "g" => val v = rng.nextInt(33).toLong - 2; (v, Some(v.toString))
    case "f" => rng.nextInt(6) match {
      case 0 => (Double.NaN, None)
      case 1 => (-0.0, Some("-0.0"))
      case 2 => (0.0, Some("0.0"))
      case _ => val v = (rng.nextInt(26) - 13) * 0.5; (v, Some(v.toString))
    }
    case "t" => val v = Vector("a", "w1", "w12", "w2", "w36", "w5", "w9", "zz")(rng.nextInt(8))
      (v, Some(s"'$v'"))
  }

  private def atom(columns: Seq[String]): Atom = {
    val c = columns(rng.nextInt(columns.size))
    rng.nextInt(8) match {
      case 0 | 1 | 2 | 3 | 4 =>
        val (v, a) = value(c)
        cmp(c, cmpOps(rng.nextInt(cmpOps.size)), v, a)
      case 5 => Atom(col(c).isin(Seq.fill(1 + rng.nextInt(9))(value(c)._1): _*), None)
      case 6 => Atom(col(c).isin(Seq.fill(11 + rng.nextInt(10))(value(c)._1): _*), None)
      case 7 => Atom(col(c).isNull, None)
    }
  }

  /** An AND/OR chain of 1–4 atoms (AND binds tighter, as in AQL). */
  private def chain(columns: Seq[String]): Atom = {
    val atoms = Vector.fill(1 + rng.nextInt(4))(atom(columns))
    val gates = Vector.fill(atoms.size - 1)(rng.nextBoolean())
    val runs = gates.zip(atoms.tail).foldLeft(Vector(Vector(atoms.head))) {
      case (acc, (true, a)) => acc.init :+ (acc.last :+ a)
      case (acc, (false, a)) => acc :+ Vector(a)
    }
    val sql = runs.map(_.map(_.sql).reduce(_ && _)).reduce(_ || _)
    val aql = if (atoms.forall(_.aql.isDefined))
      Some(atoms.head.aql.get + gates.zip(atoms.tail).map { case (g, a) =>
        s" ${if (g) "AND" else "OR"} ${a.aql.get}" }.mkString)
    else None
    Atom(sql, aql)
  }

  private def local(df: DataFrame): DataFrame =
    spark.createDataFrame(df.collect().toSeq.asJava, df.schema)

  private def keys(df: DataFrame, c: String = "k"): Seq[Long] =
    df.select(col(c).cast("long")).collect().map(_.getLong(0)).toSeq.sorted

  private def search(aql: String): Seq[Long] =
    keys(eng.execute(aql).asInstanceOf[Engine.ResultSet].df)

  private val columns = Seq("k", "j", "f", "t", "g")

  test("the container has files before ADD COLUMN, a renamed column and a file with no row group") {
    val v = cat.currentVersion("zm")
    val files = cat.versionFiles("zm", v)
    assert(files.size >= 7, files)
    val blocks = files.map { f =>
      scala.util.Using.resource(org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(f.toString), spark.sparkContext.hadoopConfiguration))) { r =>
        (r.getRowGroups.size, r.getFooter.getFileMetaData.getSchema.getFields.asScala.map(_.getName).toSet)
      }
    }
    assert(blocks.exists(_._1 == 0), "no file without a row group")
    assert(blocks.count(b => b._1 > 0 && !b._2("g")) == 3, "files written before ADD COLUMN")
    assert(blocks.forall(b => b._2("i") && !b._2("j")), "the rename is logical only")
    assert(cat.read("zm").count() == 1200)
  }

  test("random WHERE chains: pruned catalog reads and SEARCH equal the predicate on collected data") {
    val all = local(cat.read("zm"))
    var searched = 0
    (1 to 60).foreach { trial =>
      val p = chain(columns)
      val want = keys(all.filter(p.sql))
      assert(keys(cat.read("zm").filter(p.sql)) == want, s"trial $trial: ${p.sql}")
      p.aql.foreach { w =>
        searched += 1
        assert(search(s"SEARCH ['k'] ON zm WHERE $w") == want, s"trial $trial: WHERE $w")
      }
    }
    assert(searched >= 10, s"only $searched chains were AQL-expressible")
  }

  test("AT VERSION: reads of the version before ADD COLUMN and RENAME prune exactly") {
    val all = local(cat.readVersion("zm", 1))
    (1 to 25).foreach { trial =>
      val p = chain(columns)
      val want = keys(all.filter(p.sql))
      assert(keys(cat.readVersion("zm", 1).filter(p.sql)) == want, s"trial $trial: ${p.sql}")
      p.aql.foreach(w => assert(search(s"SEARCH ['k'] ON zm AT VERSION 1 WHERE $w") == want,
        s"trial $trial: AT VERSION 1 WHERE $w"))
    }
  }

  test("value-index probe on the renamed column returns the predicate's rows") {
    val all = local(cat.read("zm"))
    for (v <- Seq(-1, 0, 7, 14, 42, 63, 99, 100)) {
      val want = keys(all.filter(col("j") === v))
      assert(search(s"SEARCH ['k'] ON zm WHERE j = $v") == want, s"j = $v")
      assert(search(s"SEARCH ['k'] ON zm WHERE j = $v AND k >= 300") ==
        want.filter(_ >= 300), s"j = $v AND k >= 300")
    }
  }

  test("MATCH returns the same hits as an unpruned read") {
    def matched(term: String): Seq[Row] = eng.execute(s"MATCH ['$term'] ON zm USING ft LIMIT 2000")
      .asInstanceOf[Engine.ResultSet].df.collect().toSeq.sortBy(_.getLong(0))
    for (term <- Seq("w5", "w36", "w12", "a", "zz")) {
      val pruned = matched(term)
      spark.conf.set("spark.sql.parquet.filterPushdown", "false")
      val unpruned = try matched(term) finally spark.conf.unset("spark.sql.parquet.filterPushdown")
      assert(pruned == unpruned, s"MATCH $term")
    }
    val all = local(cat.read("zm"))
    assert(matched("w5").map(_.getLong(0)) == keys(all.filter(col("t") === "w5")))
  }

  test("_metadata.file_name tagged reads prune to the files holding the rows") {
    val v = cat.currentVersion("zm")
    val all = local(cat.readVersionTagged("zm", v))
    def tagged(df: DataFrame): Seq[(Long, String)] =
      df.select(col("k"), col("__src_file")).collect().map(r => (r.getLong(0), r.getString(1)))
        .toSeq.sorted
    (1 to 20).foreach { trial =>
      val p = chain(columns)
      assert(tagged(cat.readVersionTagged("zm", v).filter(p.sql)) == tagged(all.filter(p.sql)),
        s"trial $trial: ${p.sql}")
    }
  }

  test("DATE, FLOAT and INT columns of a raw catalog scan prune exactly, an empty file included") {
    val dir = java.nio.file.Files.createTempDirectory("graft-zonemap-raw").resolve("t").toString
    val schema = StructType(Seq(StructField("id", LongType), StructField("d", DateType),
      StructField("r", FloatType), StructField("n", IntegerType)))
    val base = java.time.LocalDate.of(2020, 1, 1)
    val data = (0L until 900L).map { id =>
      Row(id, if (id % 13 == 0) null else java.sql.Date.valueOf(base.plusDays(id / 3)),
        (id % 9).toInt match { case 0 => Float.NaN; case 1 => -0.0f; case 2 => null
          case m => ((id % 31) - 15).toFloat / 4 },
        if (id % 7 == 0) null else (id / 10).toInt)
    }
    frame(data, schema, 6).write.parquet(dir)
    spark.createDataFrame(new java.util.ArrayList[Row](), schema).coalesce(1)
      .write.mode("append").parquet(dir)
    val scanned = ZoneMap.scan(spark, schema, Seq(dir))
    val all = local(scanned)
    def dateV = java.sql.Date.valueOf(base.plusDays(rng.nextInt(320) - 10))
    def floatV: Any = rng.nextInt(5) match {
      case 0 => Float.NaN; case 1 => -0.0f; case 2 => 0.0f
      case _ => (rng.nextInt(34) - 17).toFloat / 4 }
    def v(c: String): Any = c match {
      case "id" => rng.nextInt(950).toLong - 20
      case "d" => dateV
      case "r" => floatV
      case "n" => rng.nextInt(95) - 2
    }
    def rawAtom(): Column = {
      val c = Vector("id", "d", "r", "n")(rng.nextInt(4))
      rng.nextInt(8) match {
        case 0 => col(c) === lit(v(c)); case 1 => col(c) < lit(v(c))
        case 2 => col(c) <= lit(v(c)); case 3 => col(c) > lit(v(c))
        case 4 => col(c) >= lit(v(c))
        case 5 => col(c).isin(Seq.fill(1 + rng.nextInt(9))(v(c)): _*)
        case 6 => col(c).isin(Seq.fill(11 + rng.nextInt(10))(v(c)): _*)
        case 7 => col(c).isNull
      }
    }
    (1 to 60).foreach { trial =>
      val atoms = Vector.fill(1 + rng.nextInt(3))(rawAtom())
      val p = atoms.tail.foldLeft(atoms.head)((acc, a) => if (rng.nextBoolean()) acc && a else acc || a)
      assert(keys(scanned.filter(p), "id") == keys(all.filter(p), "id"), s"trial $trial: $p")
    }
  }

  test("a file whose row groups are all empty is dropped, never misread") {
    val dir = java.nio.file.Files.createTempDirectory("graft-zonemap-empty").resolve("e").toString
    val schema = StructType(Seq(StructField("id", LongType), StructField("s", StringType)))
    spark.createDataFrame(new java.util.ArrayList[Row](), schema).coalesce(1).write.parquet(dir)
    val scanned = ZoneMap.scan(spark, schema, Seq(dir))
    assert(scanned.filter(col("id") === 3L).count() == 0)
    assert(scanned.filter(col("id").isNull || col("s") > "a").count() == 0)
    assert(scanned.count() == 0)
  }

  test("footer cache: bounded by its cap, keyed by file identity") {
    // one small part file, hard-linked under cap + 8 distinct names
    val root = java.nio.file.Files.createTempDirectory("graft-zonemap-cap")
    val src = root.resolve("src").toString
    val schema = StructType(Seq(StructField("id", LongType)))
    spark.range(0, 10).toDF("id").coalesce(1).write.parquet(src)
    val part = java.nio.file.Files.list(java.nio.file.Paths.get(src)).iterator().asScala
      .find(_.getFileName.toString.endsWith(".parquet")).get
    val links = root.resolve("links")
    java.nio.file.Files.createDirectories(links)
    (0 until ZoneMap.FooterCap + 8).foreach(i =>
      java.nio.file.Files.createLink(links.resolve(f"part-$i%05d.parquet"), part))
    val before = ZoneMap.footerReads.get
    assert(ZoneMap.scan(spark, schema, Seq(links.toString)).filter(col("id") === 42L).count() == 0)
    assert(ZoneMap.footerReads.get - before == ZoneMap.FooterCap + 8)
    assert(ZoneMap.cachedFooters <= ZoneMap.FooterCap)
    assert(ZoneMap.scan(spark, schema, Seq(links.toString)).filter(col("id") === 4L).count() ==
      ZoneMap.FooterCap + 8)
  }

  test("index parts sharing a part name, length and time are told apart") {
    eng.execute("CREATE CONTAINER zo ['k','v'] [BIGINT, BIGINT]")
    // one row per data file
    cat.overwrite("zo", spark.range(0, 24, 1, 24).select(col("id").as("k"), (col("id") * 1000 + 7).as("v")))
    // no open cost: one build task reads many data files, so it writes
    // many one-row `src=` parts under one part name
    spark.conf.set("spark.sql.files.openCostInBytes", "0")
    try eng.execute("CREATE INDEX vo ON zo ['v'] USING value")
    finally spark.conf.unset("spark.sql.files.openCostInBytes")
    val parts = scala.util.Using.resource(java.nio.file.Files.walk(root)) { s =>
      s.iterator().asScala.filter { p =>
        p.toString.contains("/_index/vo/src=") && p.getFileName.toString.endsWith(".parquet")
      }.toVector
    }
    val shared = parts.groupBy(p => (p.getFileName.toString, java.nio.file.Files.size(p)))
    assert(shared.values.exists(_.size >= 2), s"no two parts share a name and length: $parts")
    // the coarsest clock: every part written in the same millisecond
    val t = java.nio.file.attribute.FileTime.fromMillis(1760000000000L)
    parts.foreach(java.nio.file.Files.setLastModifiedTime(_, t))
    for (k <- 0L until 24L)
      assert(search(s"SEARCH ['k'] ON zo WHERE v = ${k * 1000 + 7}") == Seq(k), s"v = ${k * 1000 + 7}")
  }

  test("after OPTIMIZE and VACUUM rewrite a container, no read is pruned by stale statistics") {
    eng.execute("CREATE CONTAINER zr ['k','v'] [BIGINT, BIGINT]")
    cat.overwrite("zr", spark.range(0, 400).select(col("id").as("k"), col("id").as("v"))
      .repartitionByRange(4, col("k")).sortWithinPartitions("k"))
    // warm the cache on every file
    assert(keys(cat.read("zr").filter(col("v") === 17L)) == Seq(17L))
    // same keys, values shifted: every old statistic is now wrong
    cat.overwrite("zr", spark.range(0, 400).select(col("id").as("k"), (col("id") + 1000).as("v"))
      .repartitionByRange(4, col("k")).sortWithinPartitions("k"))
    cat.optimize("zr", Some(2))
    cat.vacuum("zr", keepLast = 1)
    val all = local(cat.read("zr"))
    for (p <- Seq(col("v") === 17L, col("v") === 1017L, col("v") < 1100L, col("v") >= 1390L,
        col("k") === 5L, col("v").isin(1001L, 1399L, 3L))) {
      assert(keys(cat.read("zr").filter(p)) == keys(all.filter(p)), p.toString)
    }
    assert(keys(cat.read("zr").filter(col("v") === 1017L)) == Seq(17L))
  }

  test("a container dropped and recreated under the same version path reads its new files") {
    for (round <- 0 until 3) {
      eng.execute("CREATE CONTAINER zd ['k','v'] [BIGINT, BIGINT]")
      cat.overwrite("zd", spark.range(round * 100, round * 100 + 50)
        .select(col("id").as("k"), col("id").as("v")))
      assert(cat.currentVersion("zd") == 1)
      assert(keys(cat.read("zd")) == (round * 100L until round * 100L + 50))
      assert(keys(cat.read("zd").filter(col("v") === round * 100L + 7)) == Seq(round * 100L + 7))
      eng.execute("DELETE CONTAINER zd")
    }
  }

  test("concurrent planners share the cache and read correct rows") {
    val all = local(cat.read("zm"))
    val preds = Vector.fill(24)(chain(columns).sql)
    val want = preds.map(p => keys(all.filter(p)))
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    try {
      val got = preds.map(p => pool.submit(() => keys(cat.read("zm").filter(p))))
      got.zip(want).zip(preds).foreach { case ((f, w), p) => assert(f.get == w, p.toString) }
    } finally pool.shutdown()
  }
}
