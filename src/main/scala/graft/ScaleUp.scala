package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Diagnostic main: deterministically tile the driver fixture tables into a
  * LARGER local profiling scale factor — round 18's answer to the r17
  * verdict's #1 ("everything sits at the sf0.1 dispatch floor; bench the
  * lanes and the dd/sim families at a bigger SF locally").
  *
  * Usage: runMain graft.ScaleUp <srcDir> <dstDir> <tiles>
  *
  * NOT part of the bench contract: the driver's bench still reads
  * `$SPARK_GRAFT_SF_DIR` (its own sf0.1), and nothing in any query path
  * reads the generated directory. This exists purely so before/after
  * measurements and core-count-scaling checks can run above the dispatch
  * floor. Generation is fully deterministic (expression-only — no rand(),
  * no timestamps), so two runs produce identical tables.
  *
  * Tiling rules (tile 0 = the source rows verbatim):
  *  - every int64 entity key shifts by tile·10⁸, with FK pairs shifted
  *    together (orders.o_custkey with customer.c_custkey, lineitem's
  *    orderkey/partkey/suppkey with their dims), so join cardinalities and
  *    selectivities scale linearly and per-tile structure is preserved.
  *    The shift is a multiple of 100, so the `pk % 50/20/100` fixture
  *    samplers (RetrievalBench probes/eval) keep their sampling rate.
  *  - documents: every token gets a tile-unique suffix EXCEPT the frozen
  *    probe vocabulary (merge/vector/stream/key/dup) — token bijection per
  *    tile preserves within-tile shingle/Jaccard structure exactly while
  *    keeping cross-tile near-dup pairs out (otherwise N tiles of verbatim
  *    copies would inflate candidate pairs O(N²) per doc — a different
  *    workload, not a bigger one), and the preserved probe terms keep
  *    MATCH/PHRASE document frequency scaling ×N.
  *  - embeddings: per-(row, dim, tile) deterministic jitter (±1% from a
  *    xxhash64 lattice) so tiled vectors are near their source vector but
  *    not identical — cells fill ×N without degenerate all-duplicate
  *    cosine-1.0 candidate sets.
  *  - nation/region: fixed-size dims, copied once (they don't grow with
  *    scale — the same property the bench queries rely on).
  */
object ScaleUp {

  /** Probe vocabulary that must keep corpus-wide document frequency: the
    * bench/lane MATCH terms and the PHRASE bigram. */
  private val Preserved = Seq("merge", "vector", "stream", "key", "dup")

  private val Off = 100000000L

  /** Joins a token to its tile number: `x` in tile t becomes `xǂt`. With
    * an alphanumeric join a tile's image of one token can equal another
    * real token of tile 0 (`x` + `q1` = `xq1`). `ǂ` (U+01C2, a caseless
    * letter) is in no fixture text — generation refuses a source that
    * holds it — and, being a letter, stays inside one token under every
    * [[operators.Analyzer]]: whitespace splits on spaces only, and
    * standard/english keep letter runs whole (Porter leaves a token with
    * a non a–z letter unstemmed). So images of distinct tokens stay
    * distinct and never meet a tile-0 token. */
  private[graft] val TileSep = "\u01c2"

  /** A document's text in tile `t` ≥ 1: every whitespace token but the
    * preserved probe vocabulary gets the tile suffix. */
  private[graft] def tileText(text: Column, t: Int): Column =
    array_join(transform(split(text, " "), w =>
      when(w.isin(Preserved: _*) || w === "", w)
        .otherwise(concat(w, lit(s"$TileSep$t")))), " ")

  def main(args: Array[String]): Unit = {
    val src = args(0)
    val dst = args(1)
    val tiles = args(2).toInt
    require(tiles >= 1, "tiles must be >= 1")
    val spark = GraftSession.create(
      cores = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"),
      appName = "graft-scaleup")
    new java.io.File(dst).mkdirs()

    def writeOne(df: DataFrame, target: String): Unit = {
      val tmp = new java.io.File(target + ".tmpdir")
      df.coalesce(1).write.mode("overwrite").parquet(tmp.getPath)
      val part = tmp.listFiles.find(_.getName.endsWith(".parquet"))
        .getOrElse(sys.error(s"no parquet part under $tmp"))
      java.nio.file.Files.move(part.toPath, new java.io.File(target).toPath,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      tmp.listFiles.foreach(_.delete()); tmp.delete()
      println(s"[scaleup] wrote $target")
    }

    def base(name: String) = spark.read.parquet(s"$src/$name.parquet")

    /** Tile with int64 key columns shifted by tile·Off; everything else
      * verbatim; column order and types preserved. */
    def keyShift(name: String, keys: Seq[String]): Unit = {
      val b = base(name)
      val out = (0 until tiles).map { t =>
        if (t == 0) b
        else b.select(b.columns.map { c =>
          if (keys.contains(c)) (col(c) + lit(t * Off)).as(c) else col(c)
        }.toIndexedSeq: _*)
      }.reduce(_ unionByName _)
      writeOne(out, s"$dst/$name.parquet")
    }

    // fixed-size dims: copy verbatim
    Seq("nation", "region").foreach { n =>
      writeOne(base(n), s"$dst/$n.parquet")
    }

    keyShift("customer", Seq("c_custkey"))
    keyShift("supplier", Seq("s_suppkey"))
    keyShift("part", Seq("p_partkey"))
    keyShift("orders", Seq("o_orderkey", "o_custkey"))
    keyShift("lineitem", Seq("l_orderkey", "l_partkey", "l_suppkey"))
    keyShift("events", Seq("event_id", "user_id"))

    // documents: per-tile token bijection outside the preserved vocabulary
    locally {
      val b = base("documents")
      require(b.filter(col("text").contains(TileSep)).isEmpty,
        s"documents text holds the tile separator '$TileSep'; tiled tokens " +
          "could collide with source tokens")
      val out = (0 until tiles).map { t =>
        if (t == 0) b
        else {
          b.select(
            (col("doc_id") + lit(t * Off)).as("doc_id"),
            tileText(col("text"), t).as("text"),
            col("lang"), col("source"))
            .withColumn("n_chars", length(col("text")))
            .select("doc_id", "text", "lang", "source", "n_chars")
        }
      }.reduce(_ unionByName _)
      writeOne(out, s"$dst/documents.parquet")
    }

    // embeddings: deterministic per-(row, dim, tile) jitter
    locally {
      val b = base("embeddings")
      def jittered(t: Int): Column = transform(col("embedding"), (x, i) =>
        (x + ((pmod(xxhash64(col("vec_id"), i, lit(t)), lit(1000L))
          .cast("double") / 1000.0 - 0.5) * 0.02).cast("float")).cast("float"))
      val out = (0 until tiles).map { t =>
        if (t == 0) b
        else b.select(
          (col("vec_id") + lit(t * Off)).as("vec_id"),
          jittered(t).as("embedding"),
          col("label"))
      }.reduce(_ unionByName _)
      writeOne(out, s"$dst/embeddings.parquet")
    }

    spark.stop()
  }
}
