package graft.operators

import graft.TestSpark
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, IntegerType}
import org.scalatest.funsuite.AnyFunSuite

/** Pins the one-pass [[FullText.postingsOf]] (the `text_postings`
  * expression under one Generate) bit-equal to the groupBy/collect_list
  * spelling it replaced, kept here as the reference: over seeded random
  * texts (repeated tokens, punctuation, case, stop words, stemmable
  * forms) plus zero-token and NULL texts, for every analyzer, with
  * positions on and off, with and without an extra carried key. Also
  * pins the catalog index's per-split stats sentinels against the
  * grouped count/sum they replaced, and that they stay out of the
  * postings part files.
  */
class PostingsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  /** The previous spelling of `FullText.postingsOf`, verbatim. */
  private def oldPostingsOf(d: DataFrame, keys: Seq[String], analyzer: String,
      withPositions: Boolean): DataFrame = {
    val toks = d
      .select(keys.map(col) :+
        Analyzer.tokens(col("text"), analyzer).as("tk"): _*)
      .select(keys.map(col) :+ size(col("tk")).cast("long").as("dl") :+
        posexplode(col("tk")).as(Seq("p", "term")): _*)
    val grouped = toks.groupBy((keys.map(col) :+ col("term")): _*)
    if (withPositions)
      grouped.agg(count(lit(1)).as("tf"), first(col("dl")).cast("double").as("dl"),
        array_sort(collect_list(col("p") + 1)).as("pos"))
    else
      grouped.agg(count(lit(1)).as("tf"), first(col("dl")).cast("double").as("dl"))
        .withColumn("pos", lit(null).cast(ArrayType(IntegerType)))
  }

  private val vocab = Vector("merge", "Merge,", "merging", "merged", "the",
    "a", "of", "vector", "VECTORS", "dup", "dup.", "running", "runs", "(key)",
    "index-build", "x", "ok!", "and", "is", "batch")

  /** 300 seeded texts of 0..24 tokens joined by 1..3 spaces (so the
    * whitespace analyzer's empty-split filter is exercised), plus the
    * edge rows: empty, blank, punctuation-only, stop-words-only, NULL,
    * and one token repeated. */
  private lazy val docs: DataFrame = {
    val rng = new scala.util.Random(7)
    val gen = (0 until 300).map { i =>
      val n = rng.nextInt(25)
      val text = (0 until n).map(_ => vocab(rng.nextInt(vocab.size)))
        .map(_ + " " * rng.nextInt(3)).mkString(" ")
      (i.toLong, text)
    }
    val edge = Seq("", "   ", "!!! ,, ...", "the a of and is", null,
      "dup dup dup dup").zipWithIndex
      .map { case (t, j) => (1000L + j, t) }
    import spark.implicits._
    (gen ++ edge).toDF("doc_id", "text")
      .withColumn("src", concat(lit("f"), (col("doc_id") % 3).cast("string")))
  }

  /** Rows as comparable tuples: every key, term, tf, dl (exact double
    * bits) and positions. */
  private def rowsOf(df: DataFrame, keys: Seq[String]) =
    df.select((keys ++ Seq("term", "tf", "dl", "pos")).map(col): _*)
      .collect().map { r =>
        (keys.indices.map(r.get(_).toString), r.getString(keys.size),
          r.getLong(keys.size + 1),
          java.lang.Double.doubleToRawLongBits(r.getDouble(keys.size + 2)),
          Option(r.getSeq[Int](keys.size + 3)).map(_.toList))
      }.toSeq.sortBy(t => (t._1.mkString("\u0000"), t._2))

  for {
    analyzer <- Seq(Analyzer.Whitespace, Analyzer.Standard, Analyzer.English)
    positions <- Seq(true, false)
    keys <- Seq(Seq("doc_id"), Seq("doc_id", "src"))
  } test(s"postingsOf ≡ the groupBy/collect_list spelling: analyzer=$analyzer " +
      s"positions=$positions keys=${keys.mkString(",")}") {
    val got = rowsOf(FullText.postingsOf(docs, keys, analyzer, positions), keys)
    val want = rowsOf(oldPostingsOf(docs, keys, analyzer, positions), keys)
    assert(got.nonEmpty)
    assert(got == want, s"first divergence: ${got.zip(want).find(p => p._1 != p._2)}")
  }

  test("zero-token and NULL texts yield no postings; repeated tokens fold " +
      "to one posting with every position") {
    val post = FullText.postingsOf(docs, Seq("doc_id"), Analyzer.English, true)
    val ids = post.select("doc_id").distinct().collect().map(_.getLong(0)).toSet
    assert(Seq(1000L, 1001L, 1002L, 1003L, 1004L).forall(!ids.contains(_)))
    val rep = post.filter(col("doc_id") === 1005L).collect()
    assert(rep.length == 1)
    assert(rep.head.getAs[String]("term") == "dup")
    assert(rep.head.getAs[Long]("tf") == 4L)
    assert(rep.head.getAs[Double]("dl") == 4.0)
    assert(rep.head.getSeq[Int](rep.head.fieldIndex("pos")) == Seq(1, 2, 3, 4))
  }

  test("the plan has no Exchange and no aggregate") {
    val plan = FullText.postingsOf(docs).queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange") && !plan.contains("Aggregate"), plan)
  }

  test("catalog text index: per-split sentinels sum to the grouped " +
      "count/sum of the old spelling, for every analyzer") {
    val dir = java.nio.file.Files.createTempDirectory("graft-postings")
    val eng = new graft.aql.Engine(spark, dir.toString)
    eng.execute("CREATE CONTAINER docs ['doc_id','text'] [BIGINT, TEXT]")
    eng.catalog.overwrite("docs", docs.select("doc_id", "text")
      .repartitionByRange(3, col("doc_id")).sortWithinPartitions("doc_id"))
    val cat = eng.catalog
    val d = cat.read("docs")
    for (an <- Seq(Analyzer.Whitespace, Analyzer.Standard, Analyzer.English)) {
      eng.execute(s"CREATE INDEX ft_$an ON docs ['text'] USING text ANALYZER $an")
      val ix = cat.readIndex("docs", s"ft_$an")
      val sent = ix.filter(col("term") === FullText.StatsTerm)
      assert(sent.count() == 3, s"$an: one sentinel per (small) data file")
      val Row(n: Long, sdl: Double) = sent.agg(sum("tf"), sum("dl")).head()
      val Row(wantN: Long, wantSdl: Long) = d
        .select(size(Analyzer.tokens(col("text"), an)).cast("long").as("dl"))
        .agg(count(lit(1)), sum("dl")).head()
      assert(n == wantN && sdl == wantSdl.toDouble, s"$an: ($n, $sdl)")
      // sentinels sit in part files of their own: a postings file keeps
      // a min/max term range without "", which a term probe can skip
      val mixed = ix.groupBy(input_file_name())
        .agg(count(when(col("term") === FullText.StatsTerm, 1)).as("s"),
          count(lit(1)).as("n"))
        .filter(col("s") > 0 && col("s") =!= col("n")).count()
      assert(mixed == 0, s"$an: a part file mixes sentinels and postings")
      val post = ix.filter(col("term") =!= FullText.StatsTerm)
        .select(col("id").as("doc_id"), col("term"), col("tf"), col("dl"), col("pos"))
      assert(rowsOf(post, Seq("doc_id")) ==
        rowsOf(oldPostingsOf(d, Seq("doc_id"), an, true), Seq("doc_id")), an)
    }
  }
}
