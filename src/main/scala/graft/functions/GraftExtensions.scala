package graft.functions

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

/** Session extensions installing graft's native Catalyst functions,
  * planner strategies and physical rules — the public
  * `SparkSessionExtensions` registration path
  * (builder.withExtensions(new GraftExtensions) or
  * spark.sql.extensions=graft.functions.GraftExtensions).
  *
  * [[ParameterizeFilterLiterals]] runs as a pre-columnar-transition rule,
  * the last seam before whole-stage codegen collapses the plan: it turns
  * filter keys into [[ParamLiteral]]s, so a point or range read with a
  * new key reuses the compiled class of the previous one instead of
  * paying a Janino compile per key.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      new FunctionIdentifier("cosine_sim"),
      new ExpressionInfo(classOf[CosineSimilarity].getName, "cosine_sim"),
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        CosineSimilarity(exprs(0), exprs(1))))
    ext.injectFunction((
      new FunctionIdentifier("minhash_slices"),
      new ExpressionInfo(classOf[MinHashSlices].getName, "minhash_slices"),
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        MinHashSlices(exprs.head)))
    ext.injectFunction((
      new FunctionIdentifier("word_grams"),
      new ExpressionInfo(classOf[WordGrams].getName, "word_grams"),
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        WordGrams(exprs(0), exprs(1))))
    ext.injectFunction((
      new FunctionIdentifier("text_postings"),
      new ExpressionInfo(classOf[TextPostings].getName, "text_postings"),
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        TextPostings(exprs(0), exprs(1))))
    ext.injectFunction((
      new FunctionIdentifier("hyperplane_bucket"),
      new ExpressionInfo(classOf[HyperplaneBucket].getName, "hyperplane_bucket"),
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        HyperplaneBucket(exprs(0), exprs(1))))
    ext.injectFunction((
      new FunctionIdentifier("porter_stem"),
      new ExpressionInfo(classOf[PorterStem].getName, "porter_stem"),
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        PorterStem(exprs.head)))
    ext.injectFunction((
      new FunctionIdentifier("float32_unpack"),
      new ExpressionInfo(classOf[Float32Unpack].getName, "float32_unpack"),
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        Float32Unpack(exprs.head)))
    // int8 SQ8 codec pair: args 2/3 are the frozen per-dimension code
    // book as packed-float32 binary LITERALS, folded back to expression
    // constants here (the bounds are index metadata, not data)
    ext.injectFunction((
      new FunctionIdentifier("int8_quantize"),
      new ExpressionInfo(classOf[Int8Quantize].getName, "int8_quantize"),
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
        require(exprs.length == 3, "int8_quantize(bin, minsLit, maxsLit)")
        Int8Quantize(exprs(0),
          Int8Codec.unpackBounds(exprs(1), "int8_quantize"),
          Int8Codec.unpackBounds(exprs(2), "int8_quantize"))
      }))
    ext.injectFunction((
      new FunctionIdentifier("int8_dequantize"),
      new ExpressionInfo(classOf[Int8Dequantize].getName, "int8_dequantize"),
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
        require(exprs.length == 3, "int8_dequantize(bin, minsLit, maxsLit)")
        Int8Dequantize(exprs(0),
          Int8Codec.unpackBounds(exprs(1), "int8_dequantize"),
          Int8Codec.unpackBounds(exprs(2), "int8_dequantize"))
      }))
    // KLL quantile sketch trio (mirrors Spark's own DataSketches HLL
    // surface): mergeable aggregate, pairwise union, rank-q estimate.
    // Arity is checked here — a builder indexing past exprs surfaces a
    // raw IndexOutOfBoundsException; a silently dropped argument (the
    // optional k) is worse: the caller's requested accuracy is ignored.
    ext.injectFunction((
      new FunctionIdentifier("kll_sketch_agg"),
      new ExpressionInfo(classOf[KllSketchAgg].getName, "kll_sketch_agg"),
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        exprs match {
          case Seq(c) => KllSketchAgg(c)
          case Seq(c, kE) =>
            import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}
            require(kE.foldable &&
              Seq(ByteType, ShortType, IntegerType, LongType).contains(kE.dataType),
              "kll_sketch_agg: k must be an integer literal")
            val k = kE.eval(null) match {
              case i: Int => i
              case l: Long => l.toInt
              case s: Short => s.toInt
              case b: Byte => b.toInt
              case null => throw new IllegalArgumentException(
                "kll_sketch_agg: k must not be NULL")
            }
            require(k >= 8 && k <= 65535,
              s"kll_sketch_agg: k=$k outside DataSketches' [8, 65535]")
            KllSketchAgg(c, k)
          case _ => throw new IllegalArgumentException(
            s"kll_sketch_agg expects (col[, k]), got ${exprs.length} arguments")
        }))
    ext.injectFunction((
      new FunctionIdentifier("kll_merge"),
      new ExpressionInfo(classOf[KllMergeExpr].getName, "kll_merge"),
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        exprs match {
          case Seq(a, b) => KllMergeExpr(a, b)
          case _ => throw new IllegalArgumentException(
            s"kll_merge expects (a, b), got ${exprs.length} arguments")
        }))
    ext.injectFunction((
      new FunctionIdentifier("kll_quantile"),
      new ExpressionInfo(classOf[KllQuantileExpr].getName, "kll_quantile"),
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        exprs match {
          case Seq(sk, q) => KllQuantileExpr(sk, q)
          case _ => throw new IllegalArgumentException(
            s"kll_quantile expects (sketch, rank), got ${exprs.length} arguments")
        }))
    // Theta sketch family — the set-operation cardinality surface HLL
    // cannot provide (union AND intersection AND difference); same
    // arity-checking discipline as the KLL trio.
    ext.injectFunction((
      new FunctionIdentifier("theta_sketch_agg"),
      new ExpressionInfo(classOf[ThetaSketchAgg].getName, "theta_sketch_agg"),
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        exprs match {
          case Seq(c) => ThetaSketchAgg(c)
          case Seq(c, kE) =>
            import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}
            require(kE.foldable &&
              Seq(ByteType, ShortType, IntegerType, LongType).contains(kE.dataType),
              "theta_sketch_agg: lgK must be an integer literal")
            val lgK = kE.eval(null) match {
              case i: Int => i
              case l: Long => l.toInt
              case s: Short => s.toInt
              case b: Byte => b.toInt
              case null => throw new IllegalArgumentException(
                "theta_sketch_agg: lgK must not be NULL")
            }
            require(lgK >= 4 && lgK <= 26,
              s"theta_sketch_agg: lgK=$lgK outside DataSketches' [4, 26]")
            ThetaSketchAgg(c, lgK)
          case _ => throw new IllegalArgumentException(
            s"theta_sketch_agg expects (col[, lgK]), got ${exprs.length} arguments")
        }))
    Seq[(String, (org.apache.spark.sql.catalyst.expressions.Expression,
        org.apache.spark.sql.catalyst.expressions.Expression) =>
        org.apache.spark.sql.catalyst.expressions.Expression, Class[_])](
      ("theta_union", ThetaUnionExpr.apply, classOf[ThetaUnionExpr]),
      ("theta_intersect", ThetaIntersectExpr.apply, classOf[ThetaIntersectExpr]),
      ("theta_diff", ThetaDiffExpr.apply, classOf[ThetaDiffExpr]))
      .foreach { case (name, build, cls) =>
        ext.injectFunction((
          new FunctionIdentifier(name),
          new ExpressionInfo(cls.getName, name),
          (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
            exprs match {
              case Seq(a, b) => build(a, b)
              case _ => throw new IllegalArgumentException(
                s"$name expects (a, b), got ${exprs.length} arguments")
            }))
      }
    ext.injectFunction((
      new FunctionIdentifier("theta_estimate"),
      new ExpressionInfo(classOf[ThetaEstimateExpr].getName, "theta_estimate"),
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        exprs match {
          case Seq(sk) => ThetaEstimateExpr(sk)
          case _ => throw new IllegalArgumentException(
            s"theta_estimate expects (sketch), got ${exprs.length} arguments")
        }))
    // Frequent-items trio — "WHICH values dominate" (HLL: how many
    // distinct; KLL: value at rank q); same discipline.
    ext.injectFunction((
      new FunctionIdentifier("freq_sketch_agg"),
      new ExpressionInfo(classOf[FreqSketchAgg].getName, "freq_sketch_agg"),
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        exprs match {
          case Seq(c) => FreqSketchAgg(c)
          case Seq(c, mE) =>
            import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}
            require(mE.foldable &&
              Seq(ByteType, ShortType, IntegerType, LongType).contains(mE.dataType),
              "freq_sketch_agg: maxMapSize must be an integer literal")
            val m = mE.eval(null) match {
              case i: Int => i
              case l: Long => l.toInt
              case s: Short => s.toInt
              case b: Byte => b.toInt
              case null => throw new IllegalArgumentException(
                "freq_sketch_agg: maxMapSize must not be NULL")
            }
            require(m >= 8 && m <= (1 << 26) && (m & (m - 1)) == 0,
              s"freq_sketch_agg: maxMapSize=$m must be a power of 2 in [8, 2^26]")
            FreqSketchAgg(c, m)
          case _ => throw new IllegalArgumentException(
            s"freq_sketch_agg expects (col[, maxMapSize]), got ${exprs.length} arguments")
        }))
    ext.injectFunction((
      new FunctionIdentifier("freq_merge"),
      new ExpressionInfo(classOf[FreqMergeExpr].getName, "freq_merge"),
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        exprs match {
          case Seq(a, b) => FreqMergeExpr(a, b)
          case _ => throw new IllegalArgumentException(
            s"freq_merge expects (a, b), got ${exprs.length} arguments")
        }))
    ext.injectFunction((
      new FunctionIdentifier("freq_top_k"),
      new ExpressionInfo(classOf[FreqTopKExpr].getName, "freq_top_k"),
      (exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =>
        exprs match {
          case Seq(sk, k) => FreqTopKExpr(sk, k)
          case _ => throw new IllegalArgumentException(
            s"freq_top_k expects (sketch, k), got ${exprs.length} arguments")
        }))
    // whole-operator custom path: per-group top-k (graft.plans.TopKPerGroup)
    ext.injectPlannerStrategy(_ => graft.plans.TopKStrategy)
    ext.injectColumnar(_ => new org.apache.spark.sql.execution.ColumnarRule {
      override def preColumnarTransitions = ParameterizeFilterLiterals
    })
  }
}
