package graft.streaming

import graft.TestSpark
import graft.aql.{AlbaType, Engine}
import graft.operators.TextDedup.{bandKeys, defaultThreshold, exactCol, exactDerive, exactScore}
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

/** The near-dup ingest gate (`IngestSinks.nearDupBatch`) on text indexes:
  * NULL payloads, batching invariance and agreement with SHOW DEDUP …
  * AGAINST. Each fixture's premise — which pairs band-collide and which
  * verify — is asserted with the funnel's own banding and exact measure,
  * so a drift in either fails here instead of making a case vacuous. */
class NearDupGateSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def catalog(tag: String): graft.catalog.Catalog = {
    val cat = new graft.catalog.Catalog(spark,
      java.nio.file.Files.createTempDirectory(s"graft-ndgate-$tag").toString)
    cat.create("g", List("doc_id" -> AlbaType.of("BIGINT"),
      "text" -> AlbaType.of("TEXT")))
    cat
  }

  private def docs(rows: (Long, String)*) = {
    import spark.implicits._
    rows.toDF("doc_id", "text")
  }

  private def ids(cat: graft.catalog.Catalog): Set[Long] =
    cat.read("g").collect().map(_.getLong(0)).toSet

  /** `kind`'s exact score of two texts, as the funnels compute it. */
  private def score(kind: String, a: String, b: String): Double = {
    val d = exactDerive(docs(1L -> a, 2L -> b), kind, "whitespace")
    val m = exactCol(kind)
    d.filter(col("doc_id") === 1).select(col(m).as("a"))
      .crossJoin(d.filter(col("doc_id") === 2).select(col(m).as("b")))
      .select(exactScore(kind, col("a"), col("b"))).head().getDouble(0)
  }

  private def collide(kind: String, a: String, b: String): Boolean =
    bandKeys(docs(1L -> a, 2L -> b), kind, "whitespace")
      .groupBy(col("band"), col("bk")).count().filter(col("count") === 2)
      .count() > 0

  test("NULL payloads each land; a text or value index is refused by name") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val cat = catalog("null")
    cat.createIndex("g", "nd", "lsh", "text")
    val batch = spark.createDataFrame(java.util.Arrays.asList(
        Row(1L, null), Row(2L, null),
        Row(3L, "the quick brown fox jumps over the lazy dog near the river")),
      StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType))))
    IngestSinks.nearDupBatch(batch, cat, "g", "nd")
    assert(ids(cat) == Set(1L, 2L, 3L))

    cat.createIndex("g", "tx", "text", "text")
    cat.createIndex("g", "vx", "value", "text")
    for (ix <- Seq("tx", "vx")) {
      val e = intercept[Exception](IngestSinks.nearDupBatch(
        docs(9L -> "a lone document"), cat, "g", ix))
      assert(e.getMessage.contains(s"'$ix'"), e.getMessage)
    }
    assert(ids(cat) == Set(1L, 2L, 3L))
  }

  test("one batch and split delivery land the same set: rows the history " +
      "check drops never pair within the batch") {
    val c = "vineyard canyon leather cloud desert tundra anchor trout turtle " +
      "orchard drizzle walrus window window turtle walrus compass candle forest drizzle"
    val x = "vineyard canyon leather cloud desert tundra anchor trout turtle " +
      "orchard drizzle walrus canyon harbor thunder glimmer leather needle trout needle"
    val y = "anchor trout turtle orchard drizzle walrus canyon harbor thunder " +
      "glimmer leather needle trout needle cloud kettle copper current valley castle " +
      "oyster compass"
    // premise: X ~ C and Y ~ X both collide and verify, Y !~ C
    val thr = defaultThreshold("lsh")
    assert(collide("lsh", x, c) && score("lsh", x, c) >= thr)
    assert(collide("lsh", y, x) && score("lsh", y, x) >= thr)
    assert(score("lsh", y, c) < thr)
    def committed(tag: String) = {
      val cat = catalog(tag)
      cat.append("g", docs(1L -> c))
      cat.createIndex("g", "nd", "lsh", "text")
      cat
    }
    val one = committed("one")
    IngestSinks.nearDupBatch(docs(10L -> x, 11L -> y), one, "g", "nd")
    val split = committed("split")
    IngestSinks.nearDupBatch(docs(10L -> x), split, "g", "nd")
    IngestSinks.nearDupBatch(docs(11L -> y), split, "g", "nd")
    assert(ids(split) == Set(1L, 11L))
    assert(ids(one) == ids(split))
  }

  test("the gate's history check drops exactly the docs SHOW DEDUP … " +
      "AGAINST … DOCS lists, on lsh and on simhash") {
    val g1 = "feather engine glimmer tundra rocket island trout meadow meadow " +
      "canyon cotton cloud beaver walrus garden lantern breeze shadow marble frost"
    val g2 = "falcon summer easel summer engine summer saddle market candle " +
      "leather thunder cotton heron ripple copper drizzle anchor saddle valley turtle"
    val g3 = "otter echo island cloud glacier violin heron pebble shadow granite " +
      "ink rocket needle cloud needle turtle walrus violin heron winter"
    // 100: g1 with its last 8 words replaced (Jaccard 0.38 — verifies on
    // lsh only); 101: g2's words reordered (identical simhash, Jaccard
    // 0 — verifies on simhash only); 102: g3 with one word changed
    // (verifies on both); 103, 104: unrelated
    val batch = Seq(
      100L -> ("feather engine glimmer tundra rocket island trout meadow meadow " +
        "canyon cotton cloud kettle meadow copper chalk cotton ink marble chalk"),
      101L -> ("engine heron candle summer valley market drizzle saddle cotton " +
        "thunder ripple falcon summer summer copper anchor saddle leather turtle easel"),
      102L -> g3.replace("winter", "summer"),
      103L -> ("thunder paper brush otter paper breeze wave pocket shell planet " +
        "granite walrus granite planet brush castle shadow falcon tundra window"),
      104L -> ("silver harbor ladder basket saddle pillow violin castle meadow " +
        "lantern orchard compass kettle hammer button pocket ribbon velvet linen wool"))
    // premise: the simhash verdict on (101, g2) differs from Jaccard's
    assert(score("simhash", batch(1)._2, g2) >= defaultThreshold("simhash"))
    assert(score("lsh", batch(1)._2, g2) < defaultThreshold("lsh"))
    for ((kind, dropped) <- Seq("lsh" -> Set(100L, 102L), "simhash" -> Set(101L, 102L))) {
      val thr = defaultThreshold(kind)
      // premise: no two batch docs verify, so only the history check drops
      for (Seq((_, a), (_, b)) <- batch.combinations(2))
        assert(score(kind, a, b) < thr, s"$kind: $a ~ $b")
      val eng = new Engine(spark,
        java.nio.file.Files.createTempDirectory(s"graft-ndgate-$kind").toString)
      for (c <- Seq("g", "b"))
        eng.execute(s"CREATE CONTAINER $c ['doc_id','text'] [BIGINT, TEXT]")
      eng.catalog.overwrite("g", docs(1L -> g1, 2L -> g2, 3L -> g3))
      eng.execute(s"CREATE INDEX ix ON g ['text'] USING $kind")
      eng.catalog.overwrite("b", docs(batch: _*))
      val listed = eng.execute("SHOW DEDUP b AGAINST g USING ix DOCS")
        .asInstanceOf[Engine.ResultSet].df.collect()
        .map(_.getAs[Long]("doc_id")).toSet
      assert(listed == dropped, kind)
      IngestSinks.nearDupBatch(eng.catalog.read("b"), eng.catalog, "g", "ix")
      assert(ids(eng.catalog) -- Set(1L, 2L, 3L) == batch.map(_._1).toSet -- listed,
        kind)
    }
  }
}
