package perfbench

import org.scalatest.funsuite.AnyFunSuite

/** Runs every workload, untraced and traced, at the sf0.001 size with a
  * short window, and checks the output contract: every metric that
  * applies is printed with its unit, the JSON record carries exactly the
  * metrics BENCHMARK.json lists, and no op failed. */
class SmokeSpec extends AnyFunSuite {
  private val spec = {
    val text = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("..", "BENCHMARK.json")), "UTF-8")
    new com.fasterxml.jackson.databind.ObjectMapper().readTree(text)
  }

  private def listed(key: String): Map[String, String] = {
    val a = spec.get(key)
    (0 until a.size()).map(i => a.get(i).get("name").asText() -> a.get(i).get("unit").asText()).toMap
  }

  private def run(workload: String, trace: Int): Seq[String] = {
    val buf = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(buf, true, "UTF-8")) {
      Main.run(Main.parse(Array("--workload", workload, "--seed", "7", "--seconds", "2",
        "--trace", trace.toString, "--scale", "sf0.001",
        "--work", s"target/smoke-$workload-$trace")))
    }
    buf.toString("UTF-8").split("\n").toSeq
  }

  private val Printed = """(?:metric|info) (\S+) = (-?[0-9.E-]+) (\S+).*""".r

  private def printed(lines: Seq[String]): Map[String, String] =
    lines.collect { case Printed(n, _, u) => n -> u }.toMap

  private def record(lines: Seq[String]) =
    new com.fasterxml.jackson.databind.ObjectMapper().readTree(lines.last)

  private val applies = Map(
    "point_serve" -> Map("page_p50_ms" -> "ms"),
    "ingest_indexed" -> Map("write_p50_ms" -> "ms", "write_p90_ms" -> "ms", "write_amp" -> "ratio"),
    "curate_retrieval" -> Map.empty[String, String])

  for (w <- Workload.names) {
    test(s"$w prints every end-to-end metric with its unit and fails no op") {
      val lines = run(w, 0)
      val want = listed("end_to_end") ++ applies(w) ++
        Map("read_p50_ms" -> "ms", "read_p90_ms" -> "ms", "failed_frac" -> "ratio")
      val got = printed(lines)
      want.foreach { case (n, u) => assert(got.get(n).contains(u), s"$n [$u] in\n${lines.mkString("\n")}") }
      assert(lines.exists(_.startsWith("info failed_frac = 0.0 ratio")))
      val rec = record(lines)
      assert(rec.get("correct").asBoolean() && rec.get("failed").asLong() == 0)
      val names = rec.get("metrics").fieldNames()
      var inRecord = Set.empty[String]
      while (names.hasNext) inRecord += names.next()
      assert(inRecord == listed("end_to_end").keySet)
    }

    test(s"$w traced run prints every per-layer metric and the tracing overhead") {
      val lines = run(w, 1)
      val got = printed(lines)
      listed("per_layer").foreach { case (n, u) => assert(got.get(n).contains(u), s"$n [$u]") }
      val rec = record(lines)
      assert(rec.get("correct").asBoolean() && rec.get("failed").asLong() == 0)
      assert(rec.get("metrics").size() == listed("per_layer").size)
    }
  }
}
