package graft.catalog

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Incremental materialized-view maintenance driven by the CDC feed: keep
  *
  *   mv = SELECT keys…, count(*) AS n_rows
  *        [, count(c)… , sum(c)… , min/max(c)… , avg(c)… ,
  *           approx_distinct(c)…]
  *        FROM src [WHERE pred] GROUP BY keys…
  *
  * up to date by folding each [[ChangeTail]] window's change rows into the
  * aggregate instead of re-aggregating the source — the warehouse pattern
  * the change feed exists for. Count and sum are self-inverting under
  * insert/delete (+row / −row), so a feed window folds exactly:
  * insert/update_postimage contribute +1, delete/update_preimage −1, and
  * an update pair nets its true delta — including a row EDITed across
  * groups or across the WHERE boundary (the predicate is row-local, so
  * pre/post images filter independently).
  *
  * Min/max are maintained with the standard two-path algorithm, because
  * they are NOT delta-invertible under deletes (removing the current
  * extreme says nothing about the runner-up):
  *  - a group that only GAINED rows in the window folds cheaply —
  *    `least/greatest(current, extreme-of-added-rows)` is exact;
  *  - a group that LOST any row (delete or update_preimage, post-WHERE)
  *    is DIRTY: its aggregates are recomputed from the source snapshot
  *    AT THE WINDOW'S END VERSION, restricted to the dirty keys. Dirty
  *    cost ∝ the dirty groups' source rows (a pk/key-pruned scan on a
  *    clustered layout), never the whole source — and windows with no
  *    removals (the append-dominated ingest path) never pay it.
  *
  * The MV container's schema contract is `keys… , n_rows, agg outs…`:
  * `n_rows` (the group's plain row count) is always maintained — it is
  * the group-existence tracker (a group leaves the MV when it reaches
  * zero, exactly as under re-aggregation) and is independently useful.
  * `count(c)` outs count non-NULL values of `c` (SQL semantics); `sum(c)`
  * outs store 0 rather than NULL for all-NULL groups, so seeding and
  * incremental folding agree (±deltas can never reconstruct NULL).
  *
  * Cost model at scale: each refresh reads one commit-sized feed window,
  * aggregates it to key-cardinality-sized deltas, and rewrites the MV —
  * which is aggregate-sized by definition, never source-sized. The MV is
  * itself a container, so it is versioned, time-travelable, and readable
  * by every query path (including AQL SEARCH).
  *
  * Delivery: the MV commit and the tail checkpoint are two steps — a
  * crash between them replays the window (the at-least-once foreachBatch
  * contract). Callers needing certainty after a crash rebuild via
  * [[seed]], which also resets the tail to the seeded version.
  */
final class IncrementalView(cat: Catalog, src: String, mv: String,
    keys: Seq[String], aggs: Seq[IncrementalView.Agg] = Nil,
    where: Option[Column] = None,
    dims: Seq[IncrementalView.DimJoin] = Nil) {
  import IncrementalView.Agg

  require(keys.nonEmpty, "incremental view needs at least one group key")
  aggs.foreach(a => require(
    Set("count", "sum", "min", "max", "avg", "approx_distinct",
      "approx_median", "approx_quantile", "approx_top_k")(a.fn),
    s"unsupported incremental aggregate '${a.fn}' (count/sum/min/max/avg/" +
      "approx_distinct/approx_median/approx_quantile/approx_top_k only)"))
  aggs.foreach(a => require(a.fn != "approx_top_k" || a.k.exists(_ >= 1),
    "approx_top_k needs its literal item count k"))
  aggs.foreach(a => require(
    a.fn != "approx_quantile" || a.q.exists(r => r >= 0.0 && r <= 1.0),
    "approx_quantile needs its literal rank in [0, 1]"))

  /** min/max, approx_distinct, and the sketch quantile/top-k family are
    * NOT delta-invertible under deletes (a sketch unions but never
    * subtracts) — groups that lost a row take the dirty recompute path.
    * Gains fold exactly for all of them: least/greatest for the
    * extremes, sketch UNION for the HLL/KLL/frequent-items (the MV
    * persists each estimate's companion `<out>_sk` sketch column, which
    * is what makes the fold possible at all — the estimate alone can't
    * absorb new values). */
  private val hasNonInvertible =
    aggs.exists(a => Set("min", "max", "approx_distinct",
      "approx_median", "approx_quantile", "approx_top_k")(a.fn))

  private def sketchCol(out: String): String = s"${out}_sk"
  private val approxAggs = aggs.filter(_.fn == "approx_distinct")
  // approx_median is approx_quantile pinned at rank 0.5 — one KLL path.
  // ONE sketch per source column serves EVERY rank (the rank only picks
  // the rendering), so ranks of the same column share the first such
  // aggregate's `_sk` companion instead of each persisting and folding a
  // duplicate — p50+p99 views carry one sketch, not two.
  private val quantileAggs =
    aggs.filter(a => IncrementalView.isQuantile(a.fn))
  private def rankOf(a: Agg): Double = a.q.getOrElse(0.5)
  /** The agg whose `_sk` column holds this quantile agg's sketch. */
  private def kllOwner(a: Agg): Agg = quantileAggs.find(_.col == a.col).get
  private def isKllOwner(a: Agg): Boolean =
    IncrementalView.ownsKllSketch(aggs, a)
  private def kllSkCol(a: Agg): String = sketchCol(kllOwner(a).out)
  // ONE frequent-items sketch per source column serves EVERY k (k only
  // truncates the rendering), mirroring the KLL rank share: two k's over
  // one column persist and fold the FIRST such aggregate's `_sk` only.
  private val topkAggs = aggs.filter(_.fn == "approx_top_k")
  /** The agg whose `_sk` column holds this top-k agg's sketch. */
  private def freqOwner(a: Agg): Agg = topkAggs.find(_.col == a.col).get
  private def isFreqOwner(a: Agg): Boolean =
    IncrementalView.ownsFreqSketch(aggs, a)
  private def freqSkCol(a: Agg): String = sketchCol(freqOwner(a).out)

  /** avg is fully delta-invertible once decomposed: the MV persists
    * `<out>_sum` and `<out>_cnt` companions (sum and non-NULL count fold
    * exactly under ±row, like the plain aggregates) and the visible
    * `out` is re-derived as sum/cnt after every fold — so avg never
    * takes the dirty-recompute path. Exact for integer sources (LONG
    * sums); a DOUBLE source inherits plain sum's fp-reassociation
    * caveat (fold order ≠ re-aggregation order at the last ulp). */
  private def sumCol(out: String): String = s"${out}_sum"
  private def cntCol(out: String): String = s"${out}_cnt"

  private def filtered(df: DataFrame): DataFrame =
    where.map(df.filter).getOrElse(df)

  /** Enrichment joins (fact ⋈ dim₁ ⋈ … ⋈ dimₙ, all inner): group keys,
    * aggregates, and the WHERE may all reference dim columns. The dims
    * are INDEPENDENT — each joins the FACT's own column (star schema),
    * so join order is irrelevant to the result. Each dim's join key
    * drops after its equi-join (the fact side keeps its copy);
    * payload-name collisions across the union of payloads are rejected
    * at CREATE VIEW. Applied identically to the seed snapshot, each feed
    * window, and the dirty recompute — all three must see the same
    * enrichment or the fold diverges. */
  private def enrich(df: DataFrame, dimDfs: Seq[DataFrame]): DataFrame =
    dims.zip(dimDfs).foldLeft(df) { case (acc, (d, dimDf)) =>
      acc.join(dimDf, acc(d.factCol) === dimDf(d.dimCol), "inner")
        .drop(dimDf(d.dimCol))
    }

  /** The dim snapshot the CURRENT MV content reflects (the stamped
    * version) — the fold must enrich against exactly this snapshot, or
    * groups untouched by the window would keep older enrichment than
    * folded ones with nothing left to detect the mix. */
  private def dimSnapshot(dv: Int, container: String): DataFrame =
    if (dv > 0) cat.readVersion(container, dv) else cat.read(container)

  /** Cast outputs to the MV container's declared schema before publish:
    * aggregate outputs can come back narrower than the declared column
    * (min/max of an INT source vs the MV's widened BIGINT), and parquet
    * written narrow would fail the container's explicit-schema read. */
  private def conform(df: DataFrame): DataFrame = {
    val schema = cat.get(mv).schema
    val have = df.columns.toSet
    df.select(schema.map { f =>
      // legacy MV shape: a container created when every quantile rank
      // declared its own `_sk` — the fold now emits only the owner's,
      // so fill a declared non-owner sketch column from the owner's
      // (identical — one sketch serves any rank) instead of breaking
      // every REFRESH of a pre-sharing view
      // legacy MV shape #2: a container created before approx_top_k /
      // approx_quantile folded k / the rank into their output names
      // (`approx_top_k_col`, not `approx_top_k_col_k3`;
      // `approx_quantile_col`, not `approx_quantile_col_p90`) —
      // reparsing its stored definition now derives the qualified names,
      // so fill the declared unqualified estimate column from the
      // qualified rendering and its `_sk` from the owner sketch.
      // Unambiguous: a pre-rename view could not hold two k's / ranks of
      // one column (the then-blind duplicate-output guard rejected it at
      // CREATE VIEW).
      def legacyTopkBase(a: Agg) = s"approx_top_k_${a.col.toLowerCase}"
      def legacyQuantBase(a: Agg) = s"approx_quantile_${a.col.toLowerCase}"
      def legacyQuant(a: Agg) = a.fn == "approx_quantile"
      val src =
        if (have(f.name)) col(f.name)
        else quantileAggs.find(a => !isKllOwner(a) && sketchCol(a.out) == f.name)
          .map(a => col(kllSkCol(a)))
          .orElse(topkAggs.find(a => !isFreqOwner(a) && sketchCol(a.out) == f.name)
            .map(a => col(freqSkCol(a))))
          .orElse(topkAggs.find(a => legacyTopkBase(a) == f.name)
            .map(a => col(a.out)))
          .orElse(topkAggs.find(a => sketchCol(legacyTopkBase(a)) == f.name)
            .map(a => col(freqSkCol(a))))
          .orElse(quantileAggs.find(a => legacyQuant(a) && legacyQuantBase(a) == f.name)
            .map(a => col(a.out)))
          .orElse(quantileAggs.find(a =>
              legacyQuant(a) && sketchCol(legacyQuantBase(a)) == f.name)
            .map(a => col(kllSkCol(a))))
          .getOrElse(col(f.name)) // unresolved → the same clear error
      src.cast(f.dataType).as(f.name)
    }.toSeq: _*)
  }

  /** Current MV content with legacy pre-rename approx_top_k /
    * approx_quantile sketch columns aliased to their k-/rank-qualified
    * names — the read-side twin of conform's legacy fill, so the fold
    * can union a pre-rename MV's persisted sketch (the publish side then
    * writes it back under the declared legacy name). The visible
    * estimate columns need no alias: both merges re-render them from
    * the merged sketch, never read them. */
  private def readCurrentMv(): DataFrame = {
    val df = cat.read(mv)
    val have = df.columns.toSet
    val legacies =
      topkAggs.filter(isFreqOwner)
        .map(a => a -> sketchCol(s"approx_top_k_${a.col.toLowerCase}")) ++
      quantileAggs.filter(a => a.fn == "approx_quantile" && isKllOwner(a))
        .map(a => a -> sketchCol(s"approx_quantile_${a.col.toLowerCase}"))
    legacies.foldLeft(df) { case (acc, (a, legacySk)) =>
      if (!have(sketchCol(a.out)) && have(legacySk))
        acc.withColumn(sketchCol(a.out), col(legacySk))
      else acc
    }
  }

  /** The from-scratch aggregate of a source snapshot (also the oracle the
    * property spec compares against). */
  // fn dispatch is by FIELD ACCESS, never positional destructuring: a
  // future Agg field can't silently re-route an aggregate through the
  // wrong arm (or break every pattern's arity at once)
  private def aggregate(snapshot: DataFrame): DataFrame = {
    val outs = count(lit(1)).as("n_rows") +: aggs.flatMap { a =>
      val c = col(a.col)
      a.fn match {
        case "count" => Seq(count(c).as(a.out))
        case "sum" => Seq(coalesce(sum(c), lit(0L)).as(a.out))
        case "min" => Seq(min(c).as(a.out))
        case "max" => Seq(max(c).as(a.out))
        case "avg" => Seq(
          coalesce(sum(c), lit(0L)).as(sumCol(a.out)),
          count(c).as(cntCol(a.out)))
        case "approx_distinct" =>
          Seq(hll_sketch_agg(c).as(sketchCol(a.out)))
        // one KLL per column — non-owner ranks render from the owner's
        case "approx_median" | "approx_quantile" if isKllOwner(a) =>
          Seq(graft.functions.KllSketch.kllAgg(c).as(sketchCol(a.out)))
        case "approx_median" | "approx_quantile" => Nil
        // one frequent-items sketch per column — shared by every k
        case "approx_top_k" if isFreqOwner(a) =>
          Seq(graft.functions.FreqSketch.freqAgg(c).as(sketchCol(a.out)))
        case "approx_top_k" => Nil
      }
    }
    val g = filtered(snapshot).groupBy(keys.map(col): _*)
      .agg(outs.head, outs.tail: _*)
    // derived outputs: estimates from the sketches (an all-NULL group
    // has no sketch → estimate 0, matching count-of-nothing semantics),
    // averages from their sum/cnt companions (all-NULL group → NULL,
    // SQL avg semantics)
    val withNd = approxAggs.foldLeft(g)((df, a) => df.withColumn(a.out,
      coalesce(hll_sketch_estimate(col(sketchCol(a.out))), lit(0L)).cast("long")))
    // KLL estimate at the aggregate's rank (median pins 0.5): all-NULL
    // group → NULL sketch → NULL (SQL median-of-nothing semantics,
    // unlike the HLL's count-of-nothing 0)
    val withMed = quantileAggs.foldLeft(withNd)((df, a) => df.withColumn(a.out,
      graft.functions.KllSketch.kllQuantile(col(kllSkCol(a)), rankOf(a))))
    // frequent-items rendering from the column's shared (owner) sketch:
    // all-NULL group → NULL sketch → NULL text
    val withTop = topkAggs.foldLeft(withMed)((df, a) => df.withColumn(a.out,
      graft.functions.FreqSketch.renderTopK(col(freqSkCol(a)), a.k.get)))
    aggs.filter(_.fn == "avg").foldLeft(withTop)((df, a) => df.withColumn(a.out,
      when(col(cntCol(a.out)) > 0,
        col(sumCol(a.out)).cast("double") / col(cntCol(a.out)))))
  }

  /** (Re)build the MV from the source's current snapshot and reset the
    * tail checkpoint to the seeded version — initial seeding, or recovery
    * when at-least-once replay ambiguity is unacceptable. */
  def seed(tail: ChangeTail): Unit = {
    val v = cat.currentVersion(src)
    val snap = if (v > 0) cat.readVersion(src, v) else cat.read(src)
    val (input, stampVal) =
      if (dims.isEmpty) (snap, v.toString)
      else {
        val dvs = dims.map(d => cat.currentVersion(d.container))
        (enrich(snap, dims.zip(dvs).map { case (d, dv) =>
          dimSnapshot(dv, d.container) }),
          s"$v dim=${dvs.mkString(",")}")
      }
    cat.overwrite(mv, conform(aggregate(input)),
      Some(stampKey -> stampVal))
    tail.reset(v)
  }

  /** The MV commits stamped with the source version its content reflects
    * (`cdc:src -> v`, published atomically with the content). */
  private def stampKey = s"cdc:$src"

  /** Source version the CURRENT MV content provably includes, from the
    * stamp — None for an unseeded or unstamped MV. A stamp whose value
    * doesn't parse (truncated/corrupt marker file) is treated as
    * UNSTAMPED rather than thrown: the caller then falls back to the
    * at-least-once checkpoint path, which re-folds but never wedges. */
  private def stampValue: Option[String] =
    cat.versionStamp(mv, cat.currentVersion(mv)).collect {
      case (k, v) if k == stampKey => v
    }

  private[catalog] def appliedSrcVersion: Option[Int] =
    stampValue.flatMap(v =>
      scala.util.Try(v.trim.split("\\s+").head.toInt).toOption)

  /** Per-dim versions the current MV content was enriched with, from the
    * stamp's `dim=N1,N2,…` token, positional in [[dims]] order (None when
    * unstamped/corrupt or when the stamped arity doesn't match this
    * definition's dim count — then the fold uses each dim's CURRENT
    * version and re-stamps, the same degrade-don't-wedge stance as the
    * src version's checkpoint fallback). */
  private[catalog] def appliedDimVersions: Option[Seq[Int]] =
    IncrementalView.stampedDimVersions(cat, mv).filter(_.size == dims.size)

  /** Fold one feed window (ending at source version `toV`) into the MV.
    * Change rows are weighted ±1, aggregated to per-key deltas, and
    * merged with a NULL-SAFE key join (NULL group keys must merge into
    * their group, not duplicate it). Min/max fold `least/greatest` over
    * the window's ADDED rows; groups that lost a row swap to a
    * recomputed aggregate over the end-version snapshot (see class doc).
    */
  private[catalog] def fold(feed: DataFrame, toV: Int,
      dimPin: Option[Seq[Int]] = None): Unit = {
    // enrichment pins the STAMPED dim versions (what the MV content
    // already reflects) — never the live pointers, which a concurrent dim
    // commit may have advanced mid-fold; refreshOnce reseeds when any
    // stamp and live dim disagree, and passes ADVANCED pins when every
    // drift was content-neutral (pure compaction)
    val dimPinned: Seq[(IncrementalView.DimJoin, Int)] =
      if (dims.isEmpty) Nil
      else dims.zip(dimPin.orElse(appliedDimVersions)
        .getOrElse(dims.map(d => cat.currentVersion(d.container))))
    def enriched(df: DataFrame): DataFrame =
      if (dimPinned.isEmpty) df
      else enrich(df, dimPinned.map { case (d, dv) =>
        dimSnapshot(dv, d.container) })
    val w = when(col("_change_type").isin("insert", "update_postimage"), 1L)
      .otherwise(-1L)
    val deltas = sum(col("_w")).as("d_n_rows") +: aggs.flatMap { a =>
      val c = col(a.col)
      a.fn match {
        // count(c) counts non-NULL values: a NULL c contributes 0 either way
        case "count" =>
          Seq(sum(when(c.isNotNull, col("_w")).otherwise(0L)).as(s"d_${a.out}"))
        // sum skips NULLs on both paths; coalesce at merge handles all-NULL
        case "sum" => Seq(sum(c * col("_w")).as(s"d_${a.out}"))
        // extremes: candidate from the window's added rows only (min/max
        // skip NULLs; a removal makes the group dirty below, so the
        // gain-only fold here is never applied to a shrinking group)
        case "min" => Seq(min(when(col("_w") === 1L, c)).as(s"d_${a.out}"))
        case "max" => Seq(max(when(col("_w") === 1L, c)).as(s"d_${a.out}"))
        // avg: ±sum and ±non-NULL-count deltas — both exact inverses, so
        // avg folds through deletes without ever dirtying the group
        case "avg" => Seq(
          sum(c * col("_w")).as(s"d_${sumCol(a.out)}"),
          sum(when(c.isNotNull, col("_w")).otherwise(0L)).as(s"d_${cntCol(a.out)}"))
        // sketches (HLL/KLL/frequent-items): sketch of the window's ADDED
        // values only (the agg ignores the when's NULLed removals); like
        // the extremes, a removal dirties the group so the union fold
        // never applies to a shrinking group
        case "approx_distinct" =>
          Seq(hll_sketch_agg(when(col("_w") === 1L, c)).as(s"d_${a.out}"))
        // one KLL delta per column — shared by every rank over it
        case "approx_median" | "approx_quantile" if isKllOwner(a) =>
          Seq(graft.functions.KllSketch
            .kllAgg(when(col("_w") === 1L, c)).as(s"d_${a.out}"))
        case "approx_median" | "approx_quantile" => Nil
        // one frequent-items delta per column — shared by every k over it
        case "approx_top_k" if isFreqOwner(a) =>
          Seq(graft.functions.FreqSketch
            .freqAgg(when(col("_w") === 1L, c)).as(s"d_${a.out}"))
        case "approx_top_k" => Nil
      }
    }
    val inWindow = filtered(enriched(feed)).withColumn("_w", w)
    val delta = inWindow.groupBy(keys.map(col): _*).agg(deltas.head, deltas.tail: _*)
    val cur = readCurrentMv()
    val joinCond: Column = keys.map(k => cur(k) <=> delta(k)).reduce(_ && _)
    val outCols = (Agg("sum", "n_rows", "n_rows") +: aggs).map(a => (a, s"d_${a.out}"))
    val merged = cur.join(delta, joinCond, "full_outer")
      .select(
        keys.map(k => coalesce(cur(k), delta(k)).as(k)) ++
          outCols.flatMap { case (a, d) =>
            val o = a.out
            a.fn match {
              case "min" => Seq(least(cur(o), delta(d)).as(o))
              case "max" => Seq(greatest(cur(o), delta(d)).as(o))
              // avg: fold both companions additively, re-derive the output
              case "avg" =>
                val sM = coalesce(cur(sumCol(o)), lit(0L)) +
                  coalesce(delta(s"d_${sumCol(o)}"), lit(0L))
                val cM = coalesce(cur(cntCol(o)), lit(0L)) +
                  coalesce(delta(s"d_${cntCol(o)}"), lit(0L))
                Seq(sM.as(sumCol(o)), cM.as(cntCol(o)),
                  when(cM > 0, sM.cast("double") / cM).as(o))
              // sketch union absorbs the added values; either side may be
              // NULL (group new in the window / untouched by it)
              case "approx_distinct" =>
                val u = when(cur(sketchCol(o)).isNull, delta(d))
                  .when(delta(d).isNull, cur(sketchCol(o)))
                  .otherwise(hll_union(cur(sketchCol(o)), delta(d)))
                Seq(coalesce(hll_sketch_estimate(u), lit(0L)).cast("long").as(o),
                  u.as(sketchCol(o)))
              // KLL union is NULL-tolerant natively; the estimate of a
              // NULL union is NULL (quantile-of-nothing), rendered at
              // the aggregate's rank (median pins 0.5). Ranks of one
              // column share the owner's sketch: the owner emits the
              // merged `_sk`, every rank renders from the owner's union
              case "approx_median" | "approx_quantile" =>
                val owner = kllOwner(a)
                val u = graft.functions.KllSketch.kllMerge(
                  cur(kllSkCol(a)), delta(s"d_${owner.out}"))
                Seq(graft.functions.KllSketch.kllQuantile(u, rankOf(a)).as(o)) ++
                  (if (isKllOwner(a)) Seq(u.as(sketchCol(o))) else Nil)
              // frequent-items union (NULL-tolerant like KLL's merge);
              // re-render the visible top-k text from the merged sketch.
              // k's of one column share the owner's sketch: the owner
              // emits the merged `_sk`, every k renders from its union
              case "approx_top_k" =>
                val owner = freqOwner(a)
                val u = graft.functions.FreqSketch.freqMerge(
                  cur(freqSkCol(a)), delta(s"d_${owner.out}"))
                Seq(graft.functions.FreqSketch.renderTopK(u, a.k.get).as(o)) ++
                  (if (isFreqOwner(a)) Seq(u.as(sketchCol(o))) else Nil)
              // count, sum, and the n_rows sentinel: plain additive fold
              case _ =>
                Seq((coalesce(cur(o), lit(0L)) + coalesce(delta(d), lit(0L))).as(o))
            }
          }: _*)
      .filter(col("n_rows") > 0)
    val next =
      if (!hasNonInvertible) merged
      else {
        // dirty groups: lost at least one in-window row — their folded
        // row is discarded and replaced by a from-scratch aggregate of
        // the end-version snapshot restricted to those keys (the snapshot
        // read must be AT toV: the live pointer may already be past the
        // window, and a later commit's rows must not leak in)
        val dirty = inWindow.filter(col("_w") === -1L)
          .select(keys.map(col): _*).distinct().alias("dk")
        def dirtyCond(df: DataFrame): Column =
          keys.map(k => df(k) <=> col(s"dk.$k")).reduce(_ && _)
        val m = merged.alias("m")
        val clean = m.join(dirty, dirtyCond(m), "left_anti")
        val snap = enriched(cat.readVersion(src, toV)).alias("s")
        val recomputed = aggregate(
          snap.join(dirty, dirtyCond(snap), "left_semi"))
        clean.unionByName(recomputed)
      }
    // the stamp and the content publish in ONE atomic version rename, so
    // the MV can always answer "which source window do I contain?"
    cat.overwrite(mv, conform(next), Some(stampKey ->
      (if (dimPinned.isEmpty) toV.toString
       else s"$toV dim=${dimPinned.map(_._2).mkString(",")}")))
  }

  /** Consume the next outstanding feed window through `tail` and fold it
    * in. Returns the number of source versions applied (0 = up to date).
    *
    * EXACTLY-once across crashes: the fold's MV commit carries the
    * window's end version as an atomic stamp, so a crash BETWEEN the
    * commit and the checkpoint write (the classic at-least-once window)
    * is detected here — the checkpoint is realigned forward to the
    * stamped version instead of re-folding a window the MV already
    * contains.
    */
  def refreshOnce(tail: ChangeTail): Int = {
    appliedSrcVersion.filter(_ > tail.lastDelivered).foreach(tail.reset)
    if (dims.isEmpty) tail.pollOnce((feed, _, to) => fold(feed, to))
    else {
      val curs = dims.map(d => cat.currentVersion(d.container))
      val stamped = appliedDimVersions
      // per-dim drift classification. A drift whose byte-equal-suppressed
      // feed is EMPTY is a pure compaction (OPTIMIZE): content-identical,
      // so folds may pin the CURRENT version (advancing the stamp and
      // releasing the old version's vacuum floor) instead of reseeding a
      // no-op — the check is a dim-sized scan, never fact-sized work. An
      // unreadable stamped version (already vacuumed) reads as a real
      // change: reseed, the always-correct recovery.
      def neutral(d: IncrementalView.DimJoin, sv: Int, cur: Int): Boolean =
        scala.util.Try(cat.changes(d.container, sv, Some(cur)).isEmpty)
          .getOrElse(false)
      val drifts = stamped.map(_.lazyZip(dims).lazyZip(curs).map {
        case (sv, d, cur) => sv != cur && !neutral(d, sv, cur)
      })
      val anyRealDrift = drifts.exists(_.contains(true))
      val anyNeutralDrift =
        stamped.exists(_.zip(curs).exists { case (sv, cur) => sv != cur }) &&
          !anyRealDrift
      // ANY changed dim invalidates every group's enrichment, not just
      // the fact window's — sketches and extremes can't subtract the
      // old dim attributes, so the honest move is a reseed from all
      // current snapshots (dim commits are rare for the enrichment
      // shape; a fact-paced dim belongs on the fact side of the join)
      if (anyRealDrift) {
        // at least 1: the reseed rewrote the MV even when the fact
        // tail was caught up (a dim-only change still changes content)
        val behind = math.max(1, cat.currentVersion(src) - tail.lastDelivered)
        seed(tail)
        behind
      } else {
        val applied = tail.pollOnce((feed, _, to) => fold(feed, to, Some(curs)))
        // a neutral drift with NO fact window to fold would re-run the
        // dim-sized neutrality scan on every future refresh: advance
        // the stamp once by republishing the (aggregate-sized) MV
        // content under the current dim versions — one small rewrite,
        // and the old versions' vacuum floors release
        if (applied == 0 && anyNeutralDrift)
          cat.overwrite(mv, cat.read(mv),
            Some(stampKey ->
              s"${tail.lastDelivered} dim=${curs.mkString(",")}"))
        applied
      }
    }
  }

  /** Resident CDC maintainer: poll until `until`, folding each
    * outstanding window as it appears — the continuous-maintenance loop a
    * Delta CDF + foreachBatch pipeline runs, expressed over the catalog's
    * own change feed. Run it on a dedicated thread; stop by making
    * `until` true.
    *
    * Every iteration IS a [[refreshOnce]], so the resident loop gets the
    * full reconciliation ladder a manual REFRESH gets: crash-recovery
    * stamp realign, and — for enrichment views — the stamped-vs-current
    * dim check. A dim commit made while only the maintainer is running
    * (no manual REFRESH, auto-refresh hook in another process) therefore
    * reseeds on the next poll instead of serving stale dim attributes
    * indefinitely.
    */
  def maintain(tail: ChangeTail, pollMs: Long, until: () => Boolean): Unit =
    while (!until()) {
      if (refreshOnce(tail) == 0) Thread.sleep(pollMs)
    }
}

object IncrementalView {
  /** One maintained aggregate: `fn(col) AS out`, fn ∈ count | sum | min |
    * max | avg | approx_distinct | approx_median | approx_quantile |
    * approx_top_k. The sketch kinds (approx_*) additionally own a
    * `<out>_sk` BYTES column in the MV schema — the persisted
    * DataSketches sketch the visible estimate derives from and the state
    * that makes insert windows union-foldable. The avg kind owns
    * `<out>_sum` / `<out>_cnt` companions — the decomposition that makes
    * avg exactly invertible under deletes. `k` is approx_top_k's literal
    * item count; `q` is approx_quantile's literal rank in [0, 1]
    * (approx_median is the rank-0.5 pin and carries neither). */
  final case class Agg(fn: String, col: String, out: String,
      k: Option[Int] = None, q: Option[Double] = None)

  /** Enrichment join: `src ⋈ container ON factCol = dimCol` (inner),
    * the fact-join-dimension MV shape. The dim is treated as STATIC
    * between refreshes: feed windows enrich against the stamped dim
    * snapshot and fold normally; any dim commit reseeds the whole view
    * on the next refresh (conservative and always correct — enrichment
    * attributes are baked into group keys and aggregates, which no
    * delta can rewrite). `maintain()`'s resident loop runs the same
    * stamped-vs-current check every poll, so a dim commit is reconciled
    * by the next iteration even when nothing else triggers a refresh. */
  final case class DimJoin(container: String, factCol: String, dimCol: String)

  /** The per-dim versions an MV's stamp records (`dim=N1,N2,…` token,
    * positional in the view's join order; a single-dim view stamps one
    * version) — the versions the fold pins, which each dim's vacuum must
    * keep readable: the engine's retention floor calls here so the stamp
    * format has exactly one parser. Only a `cdc:<src>` stamp is
    * consulted (mirroring the instance-side `stampValue` key filter): a
    * future second stamp kind on MV containers must not feed its value
    * into vacuum floors or SHOW VIEWS dim_behind. */
  def stampedDimVersions(cat: Catalog, mv: String): Option[Seq[Int]] =
    cat.versionStamp(mv, cat.currentVersion(mv)).collect {
      case (k, v) if k.startsWith("cdc:") => v
    }.flatMap(_.trim.split("\\s+")
        .collectFirst { case s if s.startsWith("dim=") =>
          scala.util.Try(
            s.stripPrefix("dim=").split(",").toSeq.map(_.toInt)).toOption
        }.flatten)

  /** First stamped dim version — the single-dim convenience callers that
    * predate multi-dim views keep using. */
  def stampedDimVersion(cat: Catalog, mv: String): Option[Int] =
    stampedDimVersions(cat, mv).flatMap(_.headOption)

  /** The KLL quantile family: approx_median is approx_quantile at 0.5. */
  def isQuantile(fn: String): Boolean =
    fn == "approx_median" || fn == "approx_quantile"

  /** Whether this quantile agg OWNS its column's persisted `_sk` sketch
    * (the first quantile agg over each column does; later ranks render
    * from it) — the rule the MV schema and the fold must agree on, so
    * both call here. */
  def ownsKllSketch(aggs: Seq[Agg], a: Agg): Boolean =
    isQuantile(a.fn) && aggs.find(x => isQuantile(x.fn) && x.col == a.col)
      .contains(a)

  /** Whether this approx_top_k agg OWNS its column's persisted `_sk`
    * frequent-items sketch (the first such agg over each column does;
    * later k's render truncations of it) — the KLL share rule applied to
    * the top-k family, shared by the MV schema and the fold. */
  def ownsFreqSketch(aggs: Seq[Agg], a: Agg): Boolean =
    a.fn == "approx_top_k" &&
      aggs.find(x => x.fn == "approx_top_k" && x.col == a.col).contains(a)
}
