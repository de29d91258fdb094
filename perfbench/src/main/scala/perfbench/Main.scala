package perfbench

import graft.aql.Engine
import graft.server.AqlServer
import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.SparkSession
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** The benchmark main:
  * `perfbench.Main --workload W --seed N --seconds S --trace 0|1
  *  [--scale sf0.1|sf0.001] [--work DIR]`.
  *
  * One JVM runs the engine, its HTTP server and the clients. With
  * `--trace 0` it times the workload's closed loop over the `/query`
  * route and prints the end-to-end metrics; with `--trace 1` it replays
  * the op stream in process with and without spans, then over HTTP, and
  * prints the per-layer metrics. The last stdout line is the JSON record.
  */
object Main {
  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
      scale: Scale, work: Path)

  /** Fixture builds per untimed run; `setup_s` is their median. The
    * traced run reports no `setup_s` and builds once. */
  val Setups = 3

  def parse(argv: Array[String]): Args = {
    val kv = argv.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => sys.error(s"bad arguments near ${other.mkString(" ")}")
    }.toMap
    def need(k: String) = kv.getOrElse(k, sys.error(s"--$k is required"))
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") match { case "0" => false; case "1" => true
        case t => sys.error(s"--trace must be 0 or 1, not $t") },
      Scale.presets.getOrElse(kv.getOrElse("scale", "sf0.1"),
        sys.error(s"--scale must be one of ${Scale.presets.keys.mkString(", ")}")),
      Paths.get(kv.getOrElse("work", "perfbench/target/work")).toAbsolutePath)
  }

  def main(argv: Array[String]): Unit = {
    val code =
      try { run(parse(argv)); 0 }
      catch { case e: Throwable => e.printStackTrace(); 1 }
    System.exit(code)
  }

  /** One op's outcome. */
  final case class OpSample(kind: String, write: Boolean, ms: Double, failure: Option[String],
      userBytes: Long, endNs: Long)

  def run(a: Args): Unit = {
    require(Workload.names.contains(a.workload),
      s"unknown workload '${a.workload}' (${Workload.names.mkString(" | ")})")
    val nproc = Runtime.getRuntime.availableProcessors
    val out = new Report
    val t0 = System.nanoTime()
    val spark = graft.GraftSession.create(cores = nproc.toString, appName = "perfbench")
    out.info("session_start_s", secs(t0), "s")
    try {
      val data = new Data(a.seed, a.scale)
      val wl = Workload(a.workload, data, a.seed, math.max(1, nproc - 1))
      // Set-up: engine start, fixture build and every CREATE INDEX, in a
      // fresh engine root each time; the last engine serves the run.
      val setups = if (a.trace) 1 else Setups
      val setupS = mutable.ArrayBuffer.empty[Double]
      var eng: Engine = null
      for (k <- 1 to setups) {
        if (eng != null) { spark.catalog.clearCache(); deleteTree(Paths.get(eng.rootDir)) }
        val t = System.nanoTime()
        eng = new Engine(spark, a.work.resolve(s"engine-$k").toString)
        Fixtures.build(a.workload, eng, data)
        setupS += secs(t)
      }
      conditions(out, a, spark, eng, nproc, wl.clients)
      val server = new AqlServer(eng, 0)
      val port = server.start()
      try {
        out.record(warmUp(wl, port))
        if (a.trace) traced(out, a, eng, wl, port)
        else timed(out, a, eng, wl, port, setupS.toSeq)
      } finally server.stop()
      out.print()
    } finally {
      spark.stop()
      deleteTree(a.work)
    }
  }

  def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** Runs each op kind once, untimed, so JIT, codegen and lazy caches are
    * warm before the first timed op. Its checks count like any other. */
  private def warmUp(wl: Workload, port: Int): Seq[OpSample] = {
    val ex = new HttpExec(port)
    wl.oneOfEach().map(runOp(_, ex))
  }

  /** Closed loop: each client sends its next op when the previous reply
    * has arrived, until the window closes. */
  private def closedLoop(wl: Workload, clients: Int, seconds: Double,
      newExec: Int => Exec): (Seq[OpSample], Seq[Call], Long, Long) = {
    val start = System.nanoTime()
    val deadline = start + (seconds * 1e9).toLong
    val results = (0 until clients).map { c =>
      val ex = newExec(c)
      val samples = mutable.ArrayBuffer.empty[OpSample]
      val th = new Thread(() => {
        val it = wl.stream(c)
        while (System.nanoTime() < deadline) samples += runOp(it.next(), ex)
      }, s"perfbench-client-$c")
      th.start()
      (th, ex, samples)
    }
    results.foreach(_._1.join())
    val samples = results.flatMap(_._3)
    (samples, results.flatMap(_._2.calls), start, samples.map(_.endNs).maxOption.getOrElse(start))
  }

  def runOp(op: Op, ex: Exec): OpSample = {
    ex.kind = op.kind
    val t = System.nanoTime()
    val failure =
      try op.body(ex)
      catch { case e: Exception => Some(s"${e.getClass.getSimpleName}: ${e.getMessage}") }
    val end = System.nanoTime()
    OpSample(op.kind, op.write, (end - t) / 1e6, failure, op.userBytes, end)
  }

  /** The end-to-end run, tracing off. */
  private def timed(out: Report, a: Args, eng: Engine, wl: Workload, port: Int,
      setupS: Seq[Double]): Unit = {
    val root = Paths.get(eng.rootDir)
    val before = Disk.inodes(root)
    val filesBefore = versionFiles(eng)
    val (samples, calls, start, end) =
      closedLoop(wl, wl.clients, a.seconds, _ => new HttpExec(port))
    val added = Disk.addedBytes(before, Disk.inodes(root))
    val heapMb = liveHeapMb()
    out.record(samples)
    out.metric("setup_s", Stats.median(setupS), "s", s"median of ${setupS.length} set-ups: " +
      setupS.map(s => f"$s%.3f").mkString(" "))
    out.metric("throughput_ops_s", mixThroughput(wl, samples), "ops/s",
      f"${samples.length} ops by ${wl.clients} client(s) in ${(end - start) / 1e9}%.2f s: " +
        f"${samples.length / ((end - start) / 1e9)}%.3f ops/s as counted")
    val reads = calls.filter(_.cat == "read")
    out.metric("read_mix_ms", readMix(wl, samples, reads), "ms",
      reads.groupBy(_.kind).toSeq.sortBy(_._1).map { case (k, cs) => s"$k n=${cs.length}" }.mkString(", "))
    out.metric("live_heap_mb", heapMb, "MB", "heap in use after GC once timing ended")
    val ms = reads.map(_.ms)
    out.info("read_p50_ms", Stats.median(ms), "ms", s"n=${ms.length}")
    out.info("read_p90_ms", Stats.quantile(ms, 0.9), "ms",
      s"n=${ms.length}, ${Stats.beyond(ms.length, 0.9)} beyond")
    val pages = calls.filter(_.cat == "page").map(_.ms)
    if (pages.nonEmpty) out.info("page_p50_ms", Stats.median(pages), "ms", s"n=${pages.length}")
    val writes = samples.filter(_.write)
    if (writes.nonEmpty) {
      val ms = writes.map(_.ms)
      out.info("write_p50_ms", Stats.median(ms), "ms", s"n=${ms.length}")
      out.info("write_p90_ms", Stats.quantile(ms, 0.9), "ms",
        s"n=${ms.length}, ${Stats.beyond(ms.length, 0.9)} beyond")
      val user = writes.map(_.userBytes).sum
      out.info("write_amp", added.toDouble / user, "ratio", s"$added bytes added / $user user bytes")
    }
    kindTable(out, samples)
    val filesAfter = versionFiles(eng)
    filesAfter.foreach { case (c, (v, n)) =>
      val (v0, n0) = filesBefore(c)
      if (v != v0) out.note(s"container $c version $v0 -> $v, files $n0 -> $n over the window")
    }
  }

  /** Ops per second the clients complete over whole cycles of the mix:
    * by Little's law, clients over the mean op latency, where each kind's
    * mean latency is weighted by its share of the mix. Ops divided by
    * window time would move with which kinds happen to fit in the window:
    * the one-client workloads complete one to three ops a second, and
    * their kinds differ in latency by up to three times. */
  private def mixThroughput(wl: Workload, samples: Seq[OpSample]): Double = {
    val w = wl.weights.toMap
    val byKind = samples.groupBy(_.kind).toSeq.map { case (k, ss) =>
      (w(k).toDouble, ss.map(_.ms).sum / ss.length)
    }
    val meanMs = byKind.map(k => k._1 * k._2).sum / byKind.map(_._1).sum
    wl.clients * 1000 / meanMs
  }

  /** Each read kind's median latency, weighted by the kind's share of the
    * read statements in the mix. Unlike the median of all reads, it does
    * not move when a window holds one op of a kind more or less, nor sit
    * in the gap between a fast and a slow kind. A read kind is an op kind,
    * or `op/tag` for the tagged statements of an op. */
  private def readMix(wl: Workload, samples: Seq[OpSample], reads: Seq[Call]): Double = {
    val ops = samples.groupBy(_.kind).map { case (k, ss) => k -> ss.length }
    val weighted = reads.groupBy(_.kind).toSeq.map { case (k, cs) =>
      val op = k.takeWhile(_ != '/')
      val share = wl.weights.toMap.apply(op).toDouble * cs.length / ops(op)
      (share, Stats.median(cs.map(_.ms)))
    }
    weighted.map(w => w._1 * w._2).sum / weighted.map(_._1).sum
  }

  /** Current version and its part-file count, per committed container. */
  private def versionFiles(eng: Engine): Map[String, (Int, Int)] =
    eng.catalog.list().map(c => c -> eng.catalog.currentVersion(c)).filter(_._2 > 0)
      .map { case (c, v) => c -> (v, eng.catalog.versionFileCount(c, v)) }.toMap

  private def kindTable(out: Report, samples: Seq[OpSample]): Unit =
    samples.groupBy(_.kind).toSeq.sortBy(_._1).foreach { case (k, ss) =>
      val ms = ss.map(_.ms)
      out.note(f"kind $k%-14s n=${ms.length}%4d p50=${Stats.median(ms)}%9.2f ms " +
        f"p90=${Stats.quantile(ms, 0.9)}%9.2f ms failed=${ss.count(_.failure.nonEmpty)}")
    }

  /** Heap in use after explicit full collections. The pauses let Spark's
    * context cleaner drop what the first collections released. */
  def liveHeapMb(): Double = {
    collect()
    java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  private def collect(): Unit = for (_ <- 1 to 3) { System.gc(); Thread.sleep(200) }

  /** The traced run. For the whole window the op stream replays in
    * process with one client; alternate ops of each kind run with spans
    * and counters, the others without, so both halves see the same kinds
    * at the same point of the run. Then a quarter window replays the
    * stream over HTTP with one client, and a quarter runs the workload's
    * clients over HTTP. */
  private def traced(out: Report, a: Args, eng: Engine, wl: Workload, port: Int): Unit = {
    val part = a.seconds / 4
    val tracer = new Tracer(eng.spark.sparkContext)
    eng.spark.sparkContext.addSparkListener(tracer.listener)
    val tracedOps = mutable.ArrayBuffer.empty[(Long, OpSample, Long)] // op id, sample, rows
    val plain = mutable.ArrayBuffer.empty[OpSample]
    val commits = mutable.ArrayBuffer.empty[Disk.Commit]
    val (tracedEx, plainEx) = (new LocalExec(eng, Some(tracer)), new LocalExec(eng, None))
    val seen = mutable.Map.empty[String, Int].withDefaultValue(0)
    val containers = eng.catalog.list().filter(eng.catalog.currentVersion(_) > 0)
    val deadline = System.nanoTime() + (a.seconds * 1e9).toLong
    val it = wl.stream(0)
    var id = 0L
    while (System.nanoTime() < deadline) {
      val op = it.next()
      seen(op.kind) += 1
      if (seen(op.kind) % 2 == 0) plain += runOp(op, plainEx)
      else {
        val versions = containers.map(c => c -> eng.catalog.currentVersion(c)).toMap
        tracer.begin(id)
        val rows0 = tracedEx.rows
        tracedOps += ((id, runOp(op, tracedEx), tracedEx.rows - rows0))
        commits ++= versions.flatMap { case (c, v) =>
          (v + 1 to eng.catalog.currentVersion(c)).map(nv => Disk.commit(Paths.get(eng.rootDir), c, nv - 1, nv))
        }
      }
      id += 1
    }
    tracer.drain()
    eng.spark.sparkContext.removeSparkListener(tracer.listener)
    Disk.writeSpans(a.work.resolveSibling("spans").resolve(s"${a.workload}-${a.seed}.jsonl"), tracer.spans.toSeq)
    val plainCalls = plainEx.calls.toSeq

    val (http1, http1Calls, _, _) = closedLoop(wl, 1, part, _ => new HttpExec(port))
    val (httpN, httpNCalls, _, _) = closedLoop(wl, wl.clients, part, _ => new HttpExec(port))
    val heapMb = oldGenAfterGcMb()

    out.record((plain ++ tracedOps.map(_._2)).toSeq ++ http1 ++ httpN)
    def spanMs(name: String) = Stats.median(tracer.spans.filter(_.name == name).map(_.ms).toSeq)
    val counters = tracedOps.map { case (i, s, rows) => (s, tracer.countersOf(i), rows) }.toSeq
    def perOp(f: OpCounters => Double) = Stats.median(counters.map(c => f(c._2)))
    val readOps = counters.filterNot(_._1.write)
    out.metric("aql.parse_ms", spanMs("parse"), "ms")
    out.metric("aql.lower_ms", spanMs("lower"), "ms")
    out.metric("aql.lower_jobs", Stats.median(readOps.map(_._2.lowerJobs.toDouble)), "count")
    out.metric("aql.page_ms", spanMs("page"), "ms")
    out.metric("spark.plan_ms", spanMs("plan"), "ms")
    out.metric("spark.exec_ms", spanMs("exec"), "ms")
    out.metric("spark.jobs", perOp(_.jobs.toDouble), "count")
    out.metric("spark.stages", perOp(_.stages.toDouble), "count")
    out.metric("spark.tasks", perOp(_.tasks.toDouble), "count")
    out.metric("spark.task_overhead_ms", perOp(_.taskOverheadMs), "ms")
    out.metric("spark.task_cpu_ms", perOp(_.taskCpuMs), "ms")
    out.metric("spark.gc_ms", perOp(_.gcMs), "ms")
    out.metric("spark.input_bytes", perOp(_.inputBytes.toDouble), "bytes")
    out.metric("spark.rows_examined_per_row",
      Stats.median(readOps.map(c => c._2.recordsRead.toDouble / math.max(1L, c._3))), "ratio")
    out.metric("spark.shuffle_bytes", perOp(_.shuffleBytes.toDouble), "bytes")
    out.metric("spark.spill_bytes", perOp(_.spillBytes.toDouble), "bytes")
    out.metric("tx.stage_ms", spanMs("stage"), "ms")
    out.metric("tx.commit_ms", spanMs("commit"), "ms")
    out.metric("catalog.commit_bytes", Stats.median(commits.map(_.dataBytes.toDouble).toSeq), "bytes")
    out.metric("catalog.commit_files", Stats.median(commits.map(_.dataFiles.toDouble).toSeq), "count")
    out.metric("index.commit_bytes", Stats.median(commits.map(_.indexBytes.toDouble).toSeq), "bytes")
    val primary = a.workload match { case "point_serve" => "orders"; case _ => "docs" }
    out.metric("catalog.version_files",
      eng.catalog.versionFileCount(primary, eng.catalog.currentVersion(primary)), "count", primary)
    // server costs compare reads of the same op kind
    def readsByKind(cs: Seq[Call]) = cs.filter(_.cat == "read").groupBy(_.kind)
    val local = readsByKind(plainCalls).map { case (k, cs) => k -> Stats.median(cs.map(_.ms)) }
    val single = readsByKind(http1Calls).map { case (k, cs) => k -> Stats.median(cs.map(_.ms)) }
    def excess(cs: Seq[Call], base: Map[String, Double]) = Stats.median(
      cs.filter(c => c.cat == "read" && base.contains(c.kind)).map(c => c.ms - base(c.kind)))
    val rtt = http1Calls.filter(_.cat == "read").map(_.ms)
    out.metric("server.rtt_ms", Stats.median(rtt), "ms", s"one HTTP client, n=${rtt.length}")
    out.metric("server.overhead_ms", excess(http1Calls, local), "ms",
      "HTTP read minus in-process read of the same kind")
    out.metric("server.wait_ms", excess(httpNCalls, single), "ms",
      s"read under ${wl.clients} HTTP client(s) minus one-client read of the same kind")
    out.metric("jvm.heap_after_gc_mb", heapMb, "MB")
    // per kind, so a kind's share of each half does not move the figure
    val plainByKind = plain.groupBy(_.kind).map { case (k, ss) => k -> Stats.median(ss.map(_.ms).toSeq) }
    val pairs = tracedOps.map(_._2).groupBy(_.kind).toSeq.collect {
      case (k, ss) if plainByKind.contains(k) => (ss.length, Stats.median(ss.map(_.ms).toSeq), plainByKind(k))
    }
    val (tracedMs, plainMs) = (pairs.map(p => p._1 * p._2).sum, pairs.map(p => p._1 * p._3).sum)
    out.metric("trace.overhead_pct", (tracedMs / plainMs - 1) * 100, "%",
      s"per-kind median op latency, traced vs untraced, weighted by traced op count; " +
        s"${tracedOps.length} traced, ${plain.length} untraced ops")
    out.note(s"spans ${tracer.spans.length}, traced ops ${tracedOps.length}, commits ${commits.length}")
    val kindOf = tracedOps.map(t => t._1 -> t._2.kind).toMap
    tracer.spans.groupBy(s => (kindOf(s.op), s.name)).toSeq.sortBy(_._1)
      .foreach { case ((k, n), ss) =>
        out.note(f"layer $k%-14s $n%-7s n=${ss.length}%4d p50=${Stats.median(ss.map(_.ms).toSeq)}%9.3f ms")
      }
    counters.groupBy(_._1.kind).toSeq.sortBy(_._1).foreach { case (k, cs) =>
      def med(f: OpCounters => Double) = Stats.median(cs.map(c => f(c._2)))
      out.note(f"spark $k%-14s n=${cs.length}%4d jobs=${med(_.jobs.toDouble)}%.0f " +
        f"lower_jobs=${med(_.lowerJobs.toDouble)}%.0f stages=${med(_.stages.toDouble)}%.0f " +
        f"tasks=${med(_.tasks.toDouble)}%.0f task_cpu_ms=${med(_.taskCpuMs)}%.1f " +
        f"input_bytes=${med(_.inputBytes.toDouble)}%.0f records_read=${med(_.recordsRead.toDouble)}%.0f " +
        f"shuffle_bytes=${med(_.shuffleBytes.toDouble)}%.0f")
    }
    versionFiles(eng).toSeq.sorted.foreach { case (c, (v, n)) =>
      out.note(s"container $c version $v files $n")
    }
  }

  /** Old-generation usage after the last collection. */
  def oldGenAfterGcMb(): Double = {
    collect()
    java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getType == java.lang.management.MemoryType.HEAP && p.getCollectionUsage != null)
      .filter(p => p.getName.contains("Old") || p.getName.contains("Tenured"))
      .map(_.getCollectionUsage.getUsed / 1048576.0).sum
  }

  /** The conditions the numbers were measured under. */
  private def conditions(out: Report, a: Args, spark: SparkSession, eng: Engine,
      nproc: Int, clients: Int): Unit = {
    val s = eng.settings
    out.note(s"workload ${a.workload} seed ${a.seed} scale ${a.scale.name} seconds ${a.seconds} " +
      s"trace ${if (a.trace) 1 else 0} clients $clients closed-loop")
    out.note(s"nproc $nproc master local[$nproc] SPARK_GRAFT_CPUS=${sys.env.getOrElse("SPARK_GRAFT_CPUS", "(unset)")} " +
      s"GRAFT_PROFILE=${sys.env.getOrElse("GRAFT_PROFILE", "(unset)")}")
    out.note(s"settings auto_commit=${s.autoCommit} optimize_after_commits=${s.optimizeAfterCommits} " +
      s"analyze_after_commits=${s.analyzeAfterCommits} vacuum_after_commits=${s.vacuumAfterCommits} " +
      s"rebuild_ivf_after_commits=${s.rebuildIvfAfterCommits} " +
      s"refresh_views_after_commit=${s.refreshViewsAfterCommit}")
    out.note(s"program ${sys.env.getOrElse("PERFBENCH_PROGRAM", "(unknown)")}")
    spark.conf.getAll.toSeq.sorted
      .filter { case (k, _) => k.startsWith("spark.sql.") || k == "spark.master" ||
        k == "spark.local.dir" || k == "spark.driver.memory" }
      .foreach { case (k, v) => out.note(s"conf $k=$v") }
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) scala.util.Using.resource(Files.walk(p)) { s =>
      s.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists)
    }
}
