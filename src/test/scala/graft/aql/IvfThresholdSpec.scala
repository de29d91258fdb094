package graft.aql

import graft.TestSpark
import graft.functions.Float32Unpack.pack
import org.scalatest.funsuite.AnyFunSuite

/** One ivf threshold rule: every ivf gate compares the cosine ROUNDED to
  * 6 (`TextDedup.exactScore`) with its threshold, as the lsh and simhash
  * gates compare their rounded measures. A pair whose raw cosine lies in
  * [0.9899995, 0.99) therefore verifies at the default 0.99 in SHOW
  * DEDUP, in SHOW DEDUP … AGAINST and in the ANN ingest gate alike.
  */
class IvfThresholdSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  /** The smallest float `x ≥ from` whose vector pair's cosine — computed
    * as `cosine_sim` does, in double over float elements — lies in
    * [0.9899995, 0.99). */
  private def inWindow(from: Float)(cos: Double => Double): Float =
    Iterator.iterate(from)(x => Math.nextUp(x))
      .find { x => val c = cos(x.toDouble); c >= 0.9899995 && c < 0.99 }.get

  // (1, 0) vs (1, t): dot 1, norms 1 and √(1 + t²)
  private val t = inWindow(0.1424f)(y => 1.0 / (math.sqrt(1.0) * math.sqrt(1.0 + y * y)))
  // (1, 1, 0) vs (1, 1, s): dot 2, norms √2 and √(2 + s²)
  private val s = inWindow(0.2014f)(y => 2.0 / (math.sqrt(2.0) * math.sqrt(2.0 + y * y)))

  /** The premise of every case: the pair's cosine, as `cosine_sim`
    * computes it, lies in the rounding window. */
  private def assertInWindow(a: Seq[Float], b: Seq[Float]): Unit = {
    val c = spark.range(1).select(graft.functions.CosineSimilarity.cosineSim(
        org.apache.spark.sql.functions.typedLit(a),
        org.apache.spark.sql.functions.typedLit(b)))
      .head().getDouble(0)
    assert(c >= 0.9899995 && c < 0.99, s"cosine $c")
  }

  test("SHOW DEDUP and SHOW DEDUP … AGAINST both verify a pair whose " +
      "cosine rounds to 0.99") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ivf-thr")
    assertInWindow(Seq(1f, 0f), Seq(1f, t))
    val eng = new Engine(spark, dir.toString)
    import spark.implicits._
    // seeds (1,0) and (0,1) are the two cells; (1,t) joins the (1,0) cell
    eng.execute("CREATE CONTAINER v ['vid','emb'] [BIGINT, MEDIUM-BYTES]")
    eng.catalog.overwrite("v", Seq((0L, pack(Seq(1f, 0f))),
        (1L, pack(Seq(0f, 1f))), (2L, pack(Seq(1f, t))))
      .toDF("vid", "emb"))
    eng.execute("CREATE INDEX ann ON v ['emb'] USING ivf 2")
    val within = eng.execute("SHOW DEDUP v USING ann")
      .asInstanceOf[Engine.ResultSet].df.collect().head
    assert(within.getAs[Long]("candidate_docs") == 2L, within)
    assert(within.getAs[Long]("verified_dup_docs") == 2L, within)

    eng.execute("CREATE CONTAINER r ['vid','emb'] [BIGINT, MEDIUM-BYTES]")
    eng.catalog.overwrite("r",
      Seq((0L, pack(Seq(1f, 0f))), (1L, pack(Seq(0f, 1f)))).toDF("vid", "emb"))
    eng.execute("CREATE INDEX ann ON r ['emb'] USING ivf 2")
    eng.execute("CREATE CONTAINER q ['vid','emb'] [BIGINT, MEDIUM-BYTES]")
    eng.catalog.overwrite("q", Seq((10L, pack(Seq(1f, t)))).toDF("vid", "emb"))
    val cross = eng.execute("SHOW DEDUP q AGAINST r USING ann")
      .asInstanceOf[Engine.ResultSet].df.collect().head
    assert(cross.getAs[Long]("matched_docs") == 1L, cross)
  }

  test("the ANN ingest gate drops history and within-batch pairs whose " +
      "cosine rounds to 0.99") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    assertInWindow(Seq(1f, 0f, 0f), Seq(1f, t, 0f))
    assertInWindow(Seq(1f, 1f, 0f), Seq(1f, 1f, s))
    val root = java.nio.file.Files.createTempDirectory("graft-ivf-thr-gate")
    val cat = new graft.catalog.Catalog(spark, root.toString)
    cat.create("g", List("vec_id" -> AlbaType.of("BIGINT"),
      "emb" -> AlbaType.of("MEDIUM-BYTES")))
    val schema = StructType(Seq(
      StructField("vec_id", LongType), StructField("emb", BinaryType)))
    def rows(rs: (Long, Seq[Float])*) = spark.createDataFrame(
      java.util.Arrays.asList(rs.map { case (i, v) => Row(i, pack(v)) }: _*),
      schema)
    cat.append("g", rows(0L -> Seq(1f, 0f, 0f), 1L -> Seq(0f, 1f, 0f)))
    cat.createIndex("g", "ann", "ivf", "emb")
    // 5 near-dups committed row 0; 20 and 21 are a same-cell pair of
    // new vectors (cosine ≈ 0.71 to every committed row) — 21 drops
    graft.streaming.IngestSinks.nearDupBatch(
      rows(5L -> Seq(1f, t, 0f), 20L -> Seq(1f, 1f, 0f), 21L -> Seq(1f, 1f, s)),
      cat, "g", "ann", threshold = Some(0.99))
    assert(cat.read("g").collect().map(_.getLong(0)).toSet == Set(0L, 1L, 20L))
  }
}
