package graft

/** Diagnostic main: splits a bench query's wall time into DataFrame
  * construction (Catalyst analysis) vs execution, printing each timed run.
  *
  * Usage: runMain graft.ProfileQuery <queryName> [sfDir]
  */
object ProfileQuery {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    if (name == "_bench") { profileAll(args.drop(1)); return }
    val sfDir = if (args.length > 1) args(1)
      else sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.create(
      cores = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"), appName = "graft-profile")
    // A/B SQL confs come from GRAFT_EXTRA_CONF, applied by GraftSession.
    // Synthetic floors: `_floor` = empty 32-task job (pure scheduler cost),
    // `_scan:<table>` = raw parquet count (scan cost without query logic).
    sys.env.get("GRAFT_LOG_LEVEL").foreach(spark.sparkContext.setLogLevel)
    val fn: (org.apache.spark.sql.SparkSession, String) => org.apache.spark.sql.DataFrame =
      if (name.startsWith("_floor")) { (s, _) =>
        val n = name.split(":").lift(1).map(_.toInt).getOrElse(32)
        s.range(0, n, 1, n).toDF()
      }
      else if (name.startsWith("_rdd")) { (s, _) => // 1-job/1-stage floor:
        // rdd.count() has no shuffle, isolating pure wave cost from
        // shuffle-file materialization
        val n = name.split(":").lift(1).map(_.toInt).getOrElse(32)
        s.sparkContext.parallelize(0 until n, n).count()
        s.range(1).toDF() // dummy; the timed work happened above
      }
      else if (name.startsWith("_scan:"))
        (s, dir) => Tables.load(s, dir, name.stripPrefix("_scan:"))
      else SparkEntry.queries(name)
    // per-job/per-stage wall clock (GRAFT_JOBLOG=1): shows which stage
    // waves serialize on the critical path vs overlap
    val counters = RunCounters.attach(spark, jobLog = sys.env.contains("GRAFT_JOBLOG"))
    fn(spark, sfDir).count() // warm-up
    if (sys.env.contains("GRAFT_EXPLAIN")) {
      import spark.implicits._
      fn(spark, sfDir).groupBy().count().explain("formatted")
    }
    val runs = sys.env.get("GRAFT_RUNS").map(_.toInt).getOrElse(3)
    for (i <- 1 to runs) {
      counters.reset()
      val t0 = System.nanoTime()
      val df = fn(spark, sfDir)
      val t1 = System.nanoTime()
      // split count() into its planning and execution halves
      val counted = df.groupBy().count()
      counted.queryExecution.executedPlan // force analysis+optimize+planning
      val t15 = System.nanoTime()
      counted.collect()
      val t2 = System.nanoTime()
      Thread.sleep(100) // let listener events drain
      println(f"[profile] $name run$i build=${(t1 - t0) / 1e9}%.3fs " +
        f"plan=${(t15 - t1) / 1e9}%.3fs run=${(t2 - t15) / 1e9}%.3fs " +
        counters.counts)
    }
    spark.stop()
  }

  /** `_bench` mode: one warm-up + one timed run per bench query in a single
    * JVM, printing per-query jobs/stages/tasks — the fixed-cost units that
    * dominate local-mode latency. Sorted by time so the top target is first.
    */
  private def profileAll(rest: Array[String]): Unit = {
    val sfDir = rest.headOption
      .getOrElse(sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    val spark = GraftSession.create(
      cores = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"), appName = "graft-profile")
    val c = RunCounters.attach(spark)
    val rows = SparkEntry.benchQueries.map { n =>
      val fn = SparkEntry.queries(n)
      (1 to 2).foreach(_ => fn(spark, sfDir).count())
      Thread.sleep(150)
      c.reset()
      val t0 = System.nanoTime()
      fn(spark, sfDir).count()
      val sec = (System.nanoTime() - t0) / 1e9
      Thread.sleep(150) // drain listener events
      (n, sec, c.jobs.get, c.stages.get, c.tasks.get)
    }
    rows.sortBy(-_._2).foreach { case (n, sec, j, st, tk) =>
      println(f"[profile] $n%-28s ${sec}%.3fs jobs=$j stages=$st tasks=$tk")
    }
    println(f"[profile] TOTAL ${rows.map(_._2).sum}%.3fs jobs=${rows.map(_._3).sum} " +
      f"stages=${rows.map(_._4).sum} tasks=${rows.map(_._5).sum}")
    spark.stop()
  }
}
