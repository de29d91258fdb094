package graft

import org.apache.spark.sql.SparkSession

/** Session factory with the configuration we would ship to a real cluster.
  *
  * Local testing runs `local[N]`, but every knob is chosen for the
  * 1000-executor / 100 TB case and merely scaled down:
  *  - shuffle.partitions matches core count locally; on a cluster this is
  *    superseded by AQE's coalescing from an initial high value.
  *  - broadcast threshold: TPC-H-style dims (region/nation/supplier/part at
  *    fixture scale) stay broadcastable; big-side joins shuffle on keys.
  *
  * Two execution PROFILES govern adaptive execution (`GRAFT_PROFILE`
  * env, or the `profile` parameter):
  *
  *  - `interactive` (default): AQE OFF. AQE's unit of work is the
  *    materialized query stage — every exchange becomes a barrier where
  *    the driver collects map statistics, re-optimizes, and re-codegens
  *    the remainder. That re-planning buys nothing here: every
  *    shuffle-bearing plan shape this engine produces is decided
  *    STATICALLY and spec-pinned (dims broadcast by construction, fact⋈
  *    fact joins ride bucketed zero-exchange layouts with MERGE hints,
  *    skew has the explicit salted-join path), so at sub-second
  *    latencies the barriers are pure overhead — measured 3.44s → 4.28s
  *    (+24%) across the sf0.1 bench, and +0.2s on the 4-stage multiway
  *    join alone. Engines built for interactive analytics (DuckDB,
  *    Trino) have no mid-query re-planning for the same reason.
  *
  *  - `batch`: AQE ON with size-based coalescing + skew-join splitting —
  *    the 100 TB long-stage profile, where a barrier costs milliseconds
  *    against minutes-long stages and runtime statistics genuinely
  *    correct cardinality misestimates (a filtered fact that became
  *    broadcastable, a skewed key worth splitting). Both profiles run
  *    the same plans on the same layouts; `BatchProfileSpec` keeps the
  *    batch confs honest.
  */
object GraftSession {
  /** The profile-specific SQL confs, exposed for spec pinning. */
  def profileConfs(profile: String): Map[String, String] = profile match {
    case "interactive" => Map(
      "spark.sql.adaptive.enabled" -> "false")
    case "batch" => Map(
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "true",
      // size-based coalescing (not parallelism-first): post-shuffle
      // partitions target advisoryPartitionSizeInBytes, so a small stage
      // collapses to few tasks instead of fanning out to one task per
      // core — at 100 TB the advisory size governs either way.
      "spark.sql.adaptive.coalescePartitions.parallelismFirst" -> "false",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "16m",
      "spark.sql.adaptive.skewJoin.enabled" -> "true")
    case other => sys.error(s"Unknown GRAFT_PROFILE '$other' (interactive|batch)")
  }

  /** Scale-adaptive width for the batch profile (round 18, guide §2.2 +
    * §9 — "let AQE coalesce from an initial high value"): reducer width
    * STARTS high (4× cores) and AQE's size-based coalescing shrinks each
    * stage to the 16m advisory, so post-shuffle parallelism derives from
    * the stage's actual bytes instead of the interactive profile's
    * min(cores, 8) constant — which is a dispatch-floor tuning for
    * sub-second sf0.1 probes and was measured to CAP heavy stages at 8
    * of 32 cores at sf1 (the decontaminate gram aggregation and the ivf
    * cosine verify both ran 8 uniform ~1 s tasks). The scan floor
    * follows core count for the same reason (batch stages are
    * compute-bound passes, not dispatch-bound probes; at 100 TB
    * size-based splitting governs and this floor is moot). Cores-
    * dependent, so exposed separately from [[profileConfs]] for spec
    * pinning. */
  def batchScaleConfs(cores: Int): Map[String, String] = Map(
    "spark.sql.adaptive.coalescePartitions.initialPartitionNum" ->
      (cores * 4).toString,
    "spark.sql.files.minPartitionNum" -> cores.toString)

  /** The core count a `SPARK_GRAFT_CPUS` value names: a positive
    * integer, or `*` for every available processor (Spark's `local[*]`).
    * Anything else fails loudly — it used to fall back to 8 silently and
    * mis-size the shuffle and batch widths. */
  def coreCount(cores: String): Int = cores.trim match {
    case "*" => Runtime.getRuntime.availableProcessors
    case s => s.toIntOption.filter(_ > 0).getOrElse(throw new IllegalArgumentException(
      s"SPARK_GRAFT_CPUS='$cores' is not a core count (a positive integer or '*')"))
  }

  def create(cores: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4"),
             appName: String = "graft",
             profile: String = sys.env.getOrElse("GRAFT_PROFILE", "interactive")): SparkSession = {
    val n = coreCount(cores)
    val base = SparkSession.builder()
      .master(s"local[$n]")
      .appName(appName)
      .withExtensions(new graft.functions.GraftExtensions)
      // Shuffle fan-out. In the interactive profile this IS the reducer
      // count; under batch AQE it only sets the map-side bucket count
      // (AQE re-sizes reducers to the 16m advisory). Locally 8 beats 32
      // by ~10% on the sf0.1 bench (fewer shuffle buckets + dispatch per
      // wave) with identical final parallelism. On a cluster this is
      // RAISED (or superseded by coalescePartitions.initialPartitionNum
      // under batch); nothing here encodes fixture scale.
      .config("spark.sql.shuffle.partitions", math.min(n, 8))
    val builder = profileConfs(profile).foldLeft(base) { case (b, (k, v)) => b.config(k, v) }
      // Scan fan-out floor follows the shuffle width (8), not core count:
      // by default Spark pads SMALL inputs to defaultParallelism splits
      // (32 here), so a 25 MB table scans as 32 sub-millisecond tasks
      // whose launch overhead dominates the stage. Size-based splitting
      // (maxPartitionBytes) governs any input big enough to matter — at
      // 100 TB every scan has thousands of splits regardless — so this
      // only stops the smallest inputs from fanning one task per core
      // (same philosophy as parallelismFirst=false above; measured ~10%
      // off the sf0.1 bench, identical plans).
      .config("spark.sql.files.minPartitionNum", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.filterPushdown", "true")
      // InferFiltersFromGenerate adds `size(e)>0 AND isnotnull(e)` under
      // every explode(e). When e is a stored column that filter prunes
      // cheaply at the scan; every explode in THIS engine is over a
      // COMPUTED array (shingles, LSH bands, token lists), so the inferred
      // filter re-evaluates the full array expression 2-3x — and filter
      // pushdown drags it below the parallelizing exchange, serializing it
      // onto the raw input partitioning (measured 8.9s -> 0.3s on the
      // sf0.1 shingle explode). Excluding the rule is strictly better here.
      .config("spark.sql.optimizer.excludedRules",
        "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // COUNT(*)/MIN/MAX over an unfiltered scan answer from parquet
      // footer statistics instead of reading row groups — the same
      // metadata-only shortcut DuckDB takes; at 100 TB this turns a full
      // table count into a footer sweep.
      .config("spark.sql.parquet.aggregatePushdown", "true")
      .config("spark.ui.enabled", "false")
      // Shuffle/spill scratch on the memory-backed filesystem when one is
      // mounted — the local-mode analogue of a memory-medium emptyDir for
      // shuffle locality on k8s. Spill safety is unchanged (a 100 TB
      // shuffle targets NVMe via the same knob); locally it removes ~25 ms
      // of shuffle-file I/O per exchange.
      .config("spark.local.dir", {
        val shm = new java.io.File("/dev/shm")
        if (shm.isDirectory && shm.canWrite) "/dev/shm/graft-spark-local"
        else sys.props("java.io.tmpdir")
      })
    // batch profile: width scales with cores + AQE sizing (overrides the
    // interactive dispatch-floor constants above — see batchScaleConfs)
    val scaled = (if (profile == "batch")
      batchScaleConfs(n)
    else Map.empty[String, String]).foldLeft(builder) {
      case (b, (k, v)) => b.config(k, v)
    }
    // Operator escape hatch (and local A/B harness): GRAFT_EXTRA_CONF holds
    // `k=v;k=v` confs applied on top of the defaults. Applied at BUILDER
    // time so static core configs (spark.broadcast.*, spark.io.*, …) work
    // too, not only runtime SQL confs.
    val withExtra = sys.env.get("GRAFT_EXTRA_CONF").toSeq
      .flatMap(_.split(";").filter(_.nonEmpty)).foldLeft(scaled) { (b, kv) =>
        kv.split("=", 2) match {
          case Array(k, v) => b.config(k, v)
          case _ => sys.error(s"GRAFT_EXTRA_CONF segment '$kv' is not key=value")
        }
      }
    val spark = withExtra.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
