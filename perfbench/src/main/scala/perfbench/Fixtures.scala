package perfbench

import graft.aql.Engine
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._
import scala.jdk.CollectionConverters._

/** Input sizes. `sf0.1` matches the shapes of the sf0.1 TPC-H-ish tables
  * (150k orders over 15k customers, 5k documents, 2k 64-d embeddings);
  * `sf0.001` is the small smoke-test size. */
final case class Scale(name: String, orders: Int, customers: Int, docs: Int, vecs: Int)

object Scale {
  val presets: Map[String, Scale] = Seq(
    Scale("sf0.1", orders = 150000, customers = 15000, docs = 5000, vecs = 2000),
    Scale("sf0.001", orders = 1500, customers = 150, docs = 500, vecs = 500)
  ).map(s => s.name -> s).toMap
}

final case class Order(key: Long, cust: Long, status: String, price: Double, priority: String)

/** Every input of a run, generated from the seed alone. The expected
  * answers of the output checks are computed from these arrays, never
  * from the engine. */
final class Data(val seed: Long, val scale: Scale) {
  import Data._
  private val rng = new scala.util.Random(seed)

  val orders: Array[Order] = Array.tabulate(scale.orders) { i =>
    Order(i.toLong, 1L + rng.nextInt(scale.customers), Statuses(rng.nextInt(3)),
      cents(900 + rng.nextDouble() * 499100), Priorities(rng.nextInt(5)))
  }
  val ordersPerCustomer: Map[Long, Int] =
    orders.groupMapReduce(_.cust)(_ => 1)(_ + _)
  val sortedPrices: Array[Double] = orders.map(_.price).sorted

  /** Documents: uniform draws from a small technical vocabulary, 10 to
    * 100 tokens; one in twenty is a perturbed copy of an earlier
    * document, so the near-duplicate funnels have clusters to find. */
  val docs: Array[String] = {
    val out = new Array[String](scale.docs)
    for (i <- out.indices) out(i) =
      if (i > 0 && rng.nextInt(20) == 0) perturb(out(rng.nextInt(i)), 0.1, rng)
      else Seq.fill(10 + rng.nextInt(91))(Vocabulary(rng.nextInt(Vocabulary.length))).mkString(" ")
    out
  }

  /** Embeddings: 64-d points around ten seeded centres. */
  val vecs: Array[Array[Float]] = {
    val centres = Array.fill(10, Dim)(rng.nextGaussian().toFloat)
    Array.fill(scale.vecs) {
      val c = centres(rng.nextInt(centres.length))
      Array.tabulate(Dim)(d => c(d) + 0.35f * rng.nextGaussian().toFloat)
    }
  }

  /** Rows with `lo <= price < hi`. */
  def priceCount(lo: Double, hi: Double): Int =
    lowerBound(sortedPrices, hi) - lowerBound(sortedPrices, lo)
}

object Data {
  val Vocabulary: Array[String] = Array("a", "the", "agg", "batch", "big",
    "column", "customer", "data", "fast", "filter", "group", "hash", "join",
    "key", "line", "merge", "order", "part", "query", "row", "scan", "slow",
    "small", "sort", "spark", "stream", "table", "value", "vector", "window",
    "lane")
  val Statuses: Array[String] = Array("F", "O", "P")
  val Priorities: Array[String] = Array("1-URGENT", "2-HIGH", "3-MEDIUM",
    "4-NOT SPECIFIED", "5-LOW")
  val Langs: Array[String] = Array("en", "zh", "de", "fr", "es")
  val Dim = 64

  def cents(x: Double): Double = math.round(x * 100) / 100.0

  def lang(id: Long): String = Langs((id % Langs.length).toInt)

  /** Replace about `frac` of the tokens with vocabulary draws. */
  def perturb(text: String, frac: Double, rng: scala.util.Random): String =
    text.split(" ").map(t =>
      if (rng.nextDouble() < frac) Vocabulary(rng.nextInt(Vocabulary.length)) else t
    ).mkString(" ")

  private def lowerBound(xs: Array[Double], x: Double): Int = {
    var (lo, hi) = (0, xs.length)
    while (lo < hi) { val m = (lo + hi) >>> 1; if (xs(m) < x) lo = m + 1 else hi = m }
    lo
  }
}

/** Fixture builds through the public DDL and `Catalog` calls only. */
object Fixtures {
  def build(workload: String, eng: Engine, data: Data): Unit = workload match {
    case "point_serve" => orders(eng, data)
    case "ingest_indexed" => corpus(eng, data)
    case "curate_retrieval" => corpus(eng, data); samples(eng, data)
  }

  private def frame(spark: SparkSession, schema: StructType, rows: Seq[Row]): DataFrame =
    spark.createDataFrame(rows.asJava, schema)

  private def orders(eng: Engine, data: Data): Unit = {
    eng.execute("CREATE CONTAINER orders ['o_orderkey','o_custkey','o_orderstatus'," +
      "'o_totalprice','o_orderpriority'] [BIGINT, BIGINT, TEXT, FLOAT, TEXT]")
    val schema = StructType(Seq(StructField("o_orderkey", LongType),
      StructField("o_custkey", LongType), StructField("o_orderstatus", StringType),
      StructField("o_totalprice", DoubleType), StructField("o_orderpriority", StringType)))
    eng.catalog.overwrite("orders", frame(eng.spark, schema, data.orders.toSeq.map(o =>
      Row(o.key, o.cust, o.status, o.price, o.priority))))
    eng.execute("CREATE INDEX cust ON orders ['o_custkey'] USING value")
  }

  private val docSchema = StructType(Seq(StructField("doc_id", LongType),
    StructField("text", StringType), StructField("lang", StringType),
    StructField("n_chars", LongType)))
  private val vecSchema = StructType(Seq(StructField("vec_id", LongType),
    StructField("emb", BinaryType)))

  private def docRows(data: Data, keep: Long => Boolean): Seq[Row] =
    data.docs.indices.filter(i => keep(i.toLong)).map(i =>
      Row(i.toLong, data.docs(i), Data.lang(i.toLong), data.docs(i).length.toLong))

  private def vecRows(data: Data, keep: Long => Boolean): Seq[Row] =
    data.vecs.indices.filter(i => keep(i.toLong)).map(i =>
      Row(i.toLong, graft.functions.Float32Unpack.pack(data.vecs(i).toSeq)))

  /** `docs` (text + lsh indexes) and `vecs` (ivf index). */
  private def corpus(eng: Engine, data: Data): Unit = {
    eng.execute("CREATE CONTAINER docs ['doc_id','text','lang','n_chars'] " +
      "[BIGINT, TEXT, TEXT, BIGINT]")
    eng.catalog.overwrite("docs", frame(eng.spark, docSchema, docRows(data, _ => true)))
    eng.execute("CREATE INDEX ft ON docs ['text'] USING text")
    eng.execute("CREATE INDEX nd ON docs ['text'] USING lsh")
    eng.execute("CREATE CONTAINER vecs ['vec_id','emb'] [BIGINT, MEDIUM-BYTES]")
    eng.catalog.overwrite("vecs", frame(eng.spark, vecSchema, vecRows(data, _ => true)))
    eng.execute("CREATE INDEX ann ON vecs ['emb'] USING ivf")
  }

  /** The retrieval sample sets, derived as in the frozen retrieval lanes:
    * every 50th document as text probes, every 20th embedding as vector
    * probes, every 100th document as the decontamination eval set. */
  private def samples(eng: Engine, data: Data): Unit = {
    val textOnly = StructType(docSchema.fields.take(2))
    eng.execute("CREATE CONTAINER probe ['doc_id','text'] [BIGINT, TEXT]")
    eng.catalog.overwrite("probe", frame(eng.spark, textOnly,
      docRows(data, _ % 50 == 0).map(r => Row(r(0), r(1)))))
    eng.execute("CREATE CONTAINER vq ['vec_id','emb'] [BIGINT, MEDIUM-BYTES]")
    eng.catalog.overwrite("vq", frame(eng.spark, vecSchema, vecRows(data, _ % 20 == 0)))
    eng.execute("CREATE CONTAINER evalset ['doc_id','text'] [BIGINT, TEXT]")
    eng.catalog.overwrite("evalset", frame(eng.spark, textOnly,
      docRows(data, _ % 100 == 0).map(r => Row(r(0), r(1)))))
  }
}
