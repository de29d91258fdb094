package graft

import graft.operators.Analyzer
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** `ScaleUp`'s per-tile token images: no image of one tile equals a
  * token of tile 0 or of another tile, under every analyzer. */
class ScaleUpSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  /** Tile-0 texts built to collide under an alphanumeric suffix: `x` and
    * `xq1`, `x1` and `x`, a preserved probe term, a stop word, an
    * inflected word and a doubled space. */
  private val texts = Seq("x xq1 merge", "x1 the running  xq", "key xq1q2 x")

  test("tile images never meet a tile-0 token, under every analyzer") {
    import spark.implicits._
    val src = texts.toDF("text")
    val preserved = Set("merge", "vector", "stream", "key", "dup")
    // the old alphanumeric suffix really collides on this fixture
    val qImage = (w: String, t: Int) => s"${w}q$t"
    assert(texts.flatMap(_.split(" ")).contains(qImage("x", 1)))

    val tiles = 1 to 3
    val tiled = tiles.map(t => t -> src.select(ScaleUp.tileText(col("text"), t).as("text"))
      .as[String].collect().toSeq).toMap
    for (a <- Analyzer.Names) {
      def sparkTokens(ts: Seq[String]) = ts.toDF("text")
        .select(explode(Analyzer.tokens(col("text"), a))).as[String].collect().toSet
      val tile0 = sparkTokens(texts)
      assert(tile0 == texts.flatMap(Analyzer.tokensOf(_, a)).toSet, a)
      // preserved terms stay shared on purpose, as the analyzer spells them
      val shared = preserved.flatMap(Analyzer.tokensOf(_, a))
      val images = tiles.map(t => t -> (sparkTokens(tiled(t)) -- shared)).toMap
      for (t <- tiles) {
        assert(images(t).nonEmpty && (images(t) & tile0).isEmpty,
          s"$a: tile $t images meet tile-0 tokens ${images(t) & tile0}")
        // every image is one whole token ending in its own tile's suffix
        assert(images(t).forall(_.endsWith(s"${ScaleUp.TileSep}$t")), s"$a: ${images(t)}")
        assert(images(t).forall(w => Analyzer.tokensOf(w, a) == Seq(w)), s"$a: ${images(t)}")
        for (u <- tiles if u < t)
          assert((images(t) & images(u)).isEmpty, s"$a: tiles $u and $t share tokens")
      }
    }
  }
}
