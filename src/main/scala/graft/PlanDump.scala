package graft

/** Diagnostic main: dump `.explain("formatted")` plans to files — the
  * round-17 optimization evidence trail (`plans/r17/<name>_{before,after}.txt`).
  *
  * Usage: runMain graft.PlanDump <outDir> <suffix> <name>[,<name>...]
  *
  * Names: a bench/declared query name from [[SparkEntry.queries]], or a
  * retrieval lane name from [[RetrievalBench.laneNames]] (prefixed `ret_`),
  * which is planned through the engine's own EXPLAIN over the same fixture
  * [[RetrievalBench]] times — so a dumped plan is exactly the plan the
  * bench executes. `all` expands to every bench query + every lane.
  *
  * With GRAFT_PROFILE_LANES set, additionally times each requested lane
  * with the Bench protocol and per-lane job/stage/task counts (the
  * retrieval-side analogue of ProfileQuery `_bench`).
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val outDir = new java.io.File(args(0))
    outDir.mkdirs()
    val suffix = args(1)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.create(
      cores = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"), appName = "graft-plandump")
    val names: Seq[String] =
      if (args(2) == "all") SparkEntry.benchQueries ++ RetrievalBench.laneNames
      else args(2).split(",").toSeq
    val laneNamesReq = names.filter(_.startsWith("ret_"))
    val queryNames = names.filterNot(_.startsWith("ret_"))

    def write(name: String, text: String): Unit = {
      val f = new java.io.File(outDir, s"${name}_$suffix.txt")
      java.nio.file.Files.writeString(f.toPath, text)
      println(s"[plandump] wrote ${f.getPath}")
    }

    queryNames.foreach { n =>
      val df = SparkEntry.queries(n)(spark, sfDir)
      write(n, df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode))
    }

    if (laneNamesReq.nonEmpty) {
      val eng = RetrievalBench.fixtureEngine(spark, sfDir)
      laneNamesReq.foreach { n =>
        eng.execute("EXPLAIN " + RetrievalBench.laneAql(n)) match {
          case graft.aql.Engine.Done(text) => write(n, text)
          case other => println(s"[plandump] $n: unexpected result $other")
        }
      }
      // optional timing pass over the SAME engine fixture: per-lane best
      // seconds (Bench protocol) + job/stage/task counts
      if (sys.env.contains("GRAFT_PROFILE_LANES")) {
        // GRAFT_TASKLOG=1: per-stage task-duration spread (max/median) +
        // shuffle-read spread for the counted run — the §2.5 skew evidence
        val taskLog = sys.env.contains("GRAFT_TASKLOG")
        val counters = RunCounters.attach(spark, taskLog = taskLog)
        laneNamesReq.foreach { n =>
          def body(): Unit = eng.execute(RetrievalBench.laneAql(n)) match {
            case rs: graft.aql.Engine.ResultSet => rs.df.count(); ()
            case _ => ()
          }
          // the Bench timing protocol (2 warm-up + best of 5) so
          // before/after numbers are host-noise-robust, then ONE
          // counted run for the job/stage/task structure
          val sec = Bench.bestOfProtocol(() => body())
          Thread.sleep(150)
          counters.reset()
          body()
          Thread.sleep(150) // drain listener events
          println(f"[laneprofile] $n%-26s $sec%.3fs " + counters.counts)
          if (taskLog) counters.printTaskLog(n)
        }
      }
    }
    spark.stop()
  }
}
