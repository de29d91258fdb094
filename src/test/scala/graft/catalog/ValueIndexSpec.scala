package graft.catalog

import graft.TestSpark
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** The `value` index kind: plain value→pk secondary index over any
  * TEXT/INT/BIGINT/FLOAT column — the generalization of the reference's
  * first-column-only chunk index (`/root/reference/src/indexing.rs`) to
  * arbitrary columns, commit-maintained like every derived index and
  * served through the same literal-key bucket/stat-pruned scan shape.
  */
class ValueIndexSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def fixture(tag: String) = {
    val dir = java.nio.file.Files.createTempDirectory(s"graft-vix-$tag")
    val cat = new Catalog(spark, dir.toString)
    cat.create("t", List("id" -> graft.aql.AlbaType.of("BIGINT"),
      "grp" -> graft.aql.AlbaType.of("TEXT"),
      "n" -> graft.aql.AlbaType.of("INT")))
    import spark.implicits._
    val base = (0L until 40L).map(i => (i, s"g${i % 5}", (i % 7).toInt))
      .toDF("id", "grp", "n")
      .repartitionByRange(4, col("id")).sortWithinPartitions("id")
    cat.overwrite("t", base) // v1
    (cat, dir)
  }

  test("create + lookup: candidates are exactly the rows holding the value") {
    val (cat, _) = fixture("basic")
    val idef = cat.createIndex("t", "vg", "value", "grp")
    val ids = Index.valueLookup(cat, "t", idef, Seq("g2"))
      .collect().map(_.getLong(0)).toSet
    assert(ids == (0L until 40L).filter(_ % 5 == 2).toSet)
    // typed equality on an INT column too
    val idef2 = cat.createIndex("t", "vn", "value", "n")
    val ids2 = Index.valueLookup(cat, "t", idef2, Seq(3))
      .collect().map(_.getLong(0)).toSet
    assert(ids2 == (0L until 40L).filter(_ % 7 == 3).toSet)
    // a bytes column is rejected (no ordered scalar domain to index)
    intercept[IllegalArgumentException] {
      val c2 = new Catalog(spark, java.nio.file.Files
        .createTempDirectory("graft-vix-rej").toString)
      c2.create("x", List("id" -> graft.aql.AlbaType.of("BIGINT"),
        "b" -> graft.aql.AlbaType.of("SMALL-BYTES")))
      c2.createIndex("x", "vb", "value", "b")
    }
  }

  test("FLOAT value index: typed equality and range lookups over a DOUBLE column") {
    // the reference's chunk index buckets floats too (indexing.rs:312-437)
    val dir = java.nio.file.Files.createTempDirectory("graft-vix-f")
    val cat = new Catalog(spark, dir.toString)
    cat.create("f", List("id" -> graft.aql.AlbaType.of("BIGINT"),
      "score" -> graft.aql.AlbaType.of("FLOAT")))
    import spark.implicits._
    // quarter-steps are exactly representable — equality is exact-match
    val base = (0L until 40L).map(i => (i, i + 0.25)).toDF("id", "score")
      .repartitionByRange(4, col("id")).sortWithinPartitions("id")
    cat.overwrite("f", base)
    val idef = cat.createIndex("f", "vs", "value", "score")
    assert(Index.valueLookup(cat, "f", idef, Seq(7.25))
      .collect().map(_.getLong(0)).toSeq == Seq(7L))
    val ids = Index.valueRangeLookup(cat, "f", idef,
      col("val") > 10.0 && col("val") <= 13.25)
      .collect().map(_.getLong(0)).toSet
    assert(ids == Set(10L, 11L, 12L, 13L))
    // commit maintenance holds for the double-typed parts
    val tx = new Tx(cat)
    tx.stageInsert("f", Seq(org.apache.spark.sql.Row(100L, 11.5)))
    tx.commit(Some("f"))
    assert(Index.valueRangeLookup(cat, "f", idef,
      col("val") > 11.0 && col("val") < 12.0)
      .collect().map(_.getLong(0)).toSet == Set(11L, 100L))
  }

  test("FLOAT range predicates auto-serve through the engine's index probe") {
    val dir = java.nio.file.Files.createTempDirectory("graft-vix-fe")
    val eng = new graft.aql.Engine(spark, dir.toString)
    eng.execute("CREATE CONTAINER fe ['id','score'] [BIGINT, FLOAT]")
    import spark.implicits._
    eng.catalog.overwrite("fe",
      (0L until 40L).map(i => (i, i + 0.25)).toDF("id", "score"))
    eng.execute("CREATE INDEX vs ON fe ['score'] USING value")
    val p = eng.execute("EXPLAIN SEARCH [id] ON fe WHERE score > 10.5 AND score <= 13.25")
      .asInstanceOf[graft.aql.Engine.Done].message
    assert(p.contains("id IN ") || p.contains("In(id") || p.contains("EqualTo(id,"),
      s"a FLOAT range conjunction must probe the value index:\n$p")
    assert(p.contains("== Access Path ==") && p.contains("probe on score"),
      s"EXPLAIN must narrate the access-path decision:\n$p")
    assert(eng.orderedResult(eng.execute(
      "SEARCH [id] ON fe WHERE score > 10.5 AND score <= 13.25")
      .asInstanceOf[graft.aql.Engine.ResultSet].cursorId).get
      .collect().map(_.getLong(0)).toSeq == Seq(11L, 12L, 13L))
  }

  test("literal IN lists auto-serve through the value index as multi-key probes") {
    val dir = java.nio.file.Files.createTempDirectory("graft-vix-il")
    val eng = new graft.aql.Engine(spark, dir.toString)
    eng.execute("CREATE CONTAINER il ['id','tag'] [BIGINT, TEXT]")
    import spark.implicits._
    eng.catalog.overwrite("il",
      (0L until 40L).map(i => (i, s"t${i % 8}")).toDF("id", "tag"))
    eng.execute("CREATE INDEX vt ON il ['tag'] USING value")
    def planOf(aql: String) = eng.execute(s"EXPLAIN $aql")
      .asInstanceOf[graft.aql.Engine.Done].message
    val p = planOf("SEARCH [id] ON il WHERE tag IN ['t1', 't3']")
    assert(p.contains("id IN ") || p.contains("In(id"),
      s"an IN list must probe the value index into pk candidates:\n$p")
    assert(eng.orderedResult(eng.execute("SEARCH [id] ON il WHERE tag IN ['t1', 't3']")
      .asInstanceOf[graft.aql.Engine.ResultSet].cursorId).get
      .collect().map(_.getLong(0)).toSet ==
      (0L until 40L).filter(i => i % 8 == 1 || i % 8 == 3).toSet)
    // NOT IN cannot serve from candidates (complement) — plain scan
    val pn = planOf("SEARCH [id] ON il WHERE tag NOT IN ['t1', 't3']")
    assert(!pn.contains("id IN "), s"NOT IN must not take the index path:\n$pn")
    // an uncoercible literal falls back to the scan, same rows (empty)
    assert(eng.orderedResult(eng.execute("SEARCH [id] ON il WHERE tag IN [7]")
      .asInstanceOf[graft.aql.Engine.ResultSet].cursorId).get.collect().isEmpty)
  }

  test("composite value index: tuple probes, auto-serve, narration, fallbacks") {
    val dir = java.nio.file.Files.createTempDirectory("graft-vix-comp")
    val eng = new graft.aql.Engine(spark, dir.toString)
    val cat = eng.catalog
    eng.execute("CREATE CONTAINER cx ['id','lang','band'] [BIGINT, TEXT, BIGINT]")
    import spark.implicits._
    cat.overwrite("cx", (0L until 60L)
      .map(i => (i, s"l${i % 4}", i % 3)).toDF("id", "lang", "band"))
    // the (lang, quality_band) curation probe — one composite index
    eng.execute("CREATE INDEX cq ON cx ['lang','band'] USING value")
    val idef = cat.indexDefs("cx").find(_.ix == "cq").get
    assert(idef.valueColumns == Seq("lang", "band"))
    // direct tuple lookup: exactly the rows matching BOTH components
    val ids = Index.valueLookupComposite(cat, "cx", idef, Seq(Seq("l1", 1L)))
      .collect().map(_.getLong(0)).toSet
    assert(ids == (0L until 60L).filter(i => i % 4 == 1 && i % 3 == 1).toSet)
    // auto-serve: equality on EVERY component takes the composite probe,
    // narrated in the Access Path
    def planOf(aql: String) = eng.execute(s"EXPLAIN $aql")
      .asInstanceOf[graft.aql.Engine.Done].message
    def rows(aql: String) = eng.orderedResult(eng.execute(aql)
      .asInstanceOf[graft.aql.Engine.ResultSet].cursorId).get
      .collect().map(_.getLong(0)).toSet
    val q = "SEARCH [id] ON cx WHERE lang = 'l1' AND band = 1"
    val p = planOf(q)
    assert(p.contains("composite equality") && p.contains("lang,band"),
      s"the composite probe must be narrated:\n$p")
    assert(p.contains("id IN ") || p.contains("In(id"),
      s"the composite probe must prune the scan to pk candidates:\n$p")
    assert(rows(q) == ids)
    // IN list on one component expands to a bounded tuple product
    val qIn = "SEARCH [id] ON cx WHERE lang IN ['l1','l2'] AND band = 2"
    assert(planOf(qIn).contains("2 tuple(s)"), planOf(qIn))
    assert(rows(qIn) ==
      (0L until 60L).filter(i => (i % 4 == 1 || i % 4 == 2) && i % 3 == 2).toSet)
    // the LEADER alone serves via the leftmost-prefix rule (a bound
    // prefix is still a contiguous slice of the leader-sorted parts)
    val qHalf = "SEARCH [id] ON cx WHERE lang = 'l1'"
    assert(planOf(qHalf).contains("composite prefix 1/2"), planOf(qHalf))
    assert(rows(qHalf) == (0L until 60L).filter(_ % 4 == 1).toSet)
    // a NON-leader component alone cannot prefix-probe — plain scan
    val qTail = "SEARCH [id] ON cx WHERE band = 1"
    assert(!planOf(qTail).contains("composite"), planOf(qTail))
    assert(rows(qTail) == (0L until 60L).filter(_ % 3 == 1).toSet)
    // eq-prefix + trailing RANGE on the next component — the curation
    // staple (lang bound, quality band ranged)
    val qRange = "SEARCH [id] ON cx WHERE lang = 'l2' AND band >= 1"
    assert(planOf(qRange).contains("composite prefix 1/2 + range(1) on band"),
      planOf(qRange))
    assert(rows(qRange) == (0L until 60L).filter(i => i % 4 == 2 && i % 3 >= 1).toSet)
    // commit maintenance: the new row is only findable through
    // maintained tuple candidates
    eng.execute("CREATE ROW ['id','lang','band'] [900, 'l1', 1] ON cx")
    eng.execute("COMMIT cx")
    assert(rows(q).contains(900L))
    // a component rename follows into the composite metadata
    eng.execute("ALTER CONTAINER cx RENAME COLUMN ['band','quality_band']")
    assert(cat.indexDefs("cx").find(_.ix == "cq").get.valueColumns ==
      Seq("lang", "quality_band"))
    assert(rows("SEARCH [id] ON cx WHERE lang = 'l1' AND quality_band = 1")
      .contains(900L))
    // dropping a component column is refused while the index exists
    val e = intercept[IllegalArgumentException](
      eng.execute("ALTER CONTAINER cx DROP COLUMN ['quality_band']"))
    assert(e.getMessage.contains("indexed by 'cq'"))
    // guards: non-value kinds stay single-column; dup components rejected
    intercept[IllegalArgumentException](
      eng.execute("CREATE INDEX bad ON cx ['lang','lang'] USING value"))
    intercept[IllegalArgumentException](
      cat.createIndex("cx", "bad2", "lsh", "lang,quality_band"))
  }

  test("composite stats skip: an unselective tuple estimate goes straight to the scan") {
    val dir = java.nio.file.Files.createTempDirectory("graft-vix-cskip")
    java.nio.file.Files.writeString(
      dir.resolve(graft.catalog.Settings.FileName), "index_probe_cap: 4\n")
    val eng = new graft.aql.Engine(spark, dir.toString)
    import spark.implicits._
    eng.execute("CREATE CONTAINER cs ['id','a','b','u','r'] " +
      "[BIGINT, TEXT, BIGINT, BIGINT, BIGINT]")
    // 2×2 tuple domain over 64 rows: ~16 rows/tuple > cap 4; u unique
    eng.catalog.overwrite("cs", (0L until 64L)
      .map(i => (i, s"a${i % 2}", i % 2, i + 1000L, i)).toDF("id", "a", "b", "u", "r"))
    eng.execute("CREATE INDEX ct ON cs ['a','b'] USING value")
    eng.orderedResult(eng.execute("ANALYZE CONTAINER cs")
      .asInstanceOf[graft.aql.Engine.ResultSet].cursorId).get.collect()
    def planOf(aql: String) = eng.execute(s"EXPLAIN $aql")
      .asInstanceOf[graft.aql.Engine.Done].message
    def rows(aql: String) = eng.orderedResult(eng.execute(aql)
      .asInstanceOf[graft.aql.Engine.ResultSet].cursorId).get
      .collect().map(_.getLong(0)).toSet
    val p = planOf("SEARCH [id] ON cs WHERE a = 'a1' AND b = 1")
    assert(p.contains("composite equality") && p.contains("skipped"),
      s"unselective composite estimate must skip with narration:\n$p")
    // correctness unaffected
    assert(rows("SEARCH [id] ON cs WHERE a = 'a1' AND b = 1") ==
      (0L until 64L).filter(_ % 2 == 1).toSet)
    // a SELECTIVE single-column index on a different atom must not be
    // suppressed by the coarse composite hit: stats arbitrate, the
    // skipped composite defers to the other probe
    eng.execute("CREATE INDEX cu ON cs ['u'] USING value")
    eng.orderedResult(eng.execute("ANALYZE CONTAINER cs")
      .asInstanceOf[graft.aql.Engine.ResultSet].cursorId).get.collect()
    val p2 = planOf("SEARCH [id] ON cs WHERE a = 'a1' AND b = 1 AND u = 1009")
    assert(p2.contains("composite equality") && p2.contains("other probe"),
      s"the skipped composite must defer to the selective probe:\n$p2")
    assert(p2.contains("index 'cu'") && p2.contains("served"),
      s"the unique-column probe must serve:\n$p2")
    assert(rows("SEARCH [id] ON cs WHERE a = 'a1' AND b = 1 AND u = 1009") == Set(9L))
    // both priced and viable: the smaller estimate wins (u over composite)
    val p3 = planOf("SEARCH [id] ON cs WHERE a = 'a1' AND b = 1 AND u IN [1009, 1011]")
    assert(p3.contains("index 'cu'"), s"cheaper probe must win arbitration:\n$p3")
    // a stats-skipped composite must FALL THROUGH to a range probe on a
    // different indexed column, not abandon the index path wholesale
    eng.execute("CREATE INDEX cr ON cs ['r'] USING value")
    val p4 = planOf("SEARCH [id] ON cs WHERE a = 'a1' AND b = 1 AND r > 60")
    assert(p4.contains("skipped") && p4.contains("range over 1 bound"),
      s"the range index must serve past the skipped composite:\n$p4")
    assert(rows("SEARCH [id] ON cs WHERE a = 'a1' AND b = 1 AND r > 60") ==
      Set(61L, 63L))
  }

  test("unpriced arbitration: a composite PREFIX yields to a single probe; FULL leads") {
    val dir = java.nio.file.Files.createTempDirectory("graft-vix-unpriced")
    val eng = new graft.aql.Engine(spark, dir.toString)
    import spark.implicits._
    eng.execute("CREATE CONTAINER cp ['id','a','b','u'] [BIGINT, TEXT, BIGINT, BIGINT]")
    eng.catalog.overwrite("cp", (0L until 60L)
      .map(i => (i, s"a${i % 3}", i % 2, i + 1000L)).toDF("id", "a", "b", "u"))
    eng.execute("CREATE INDEX cab ON cp ['a','b'] USING value")
    eng.execute("CREATE INDEX cu ON cp ['u'] USING value")
    def planOf(aql: String) = eng.execute(s"EXPLAIN $aql")
      .asInstanceOf[graft.aql.Engine.Done].message
    def rows(aql: String) = eng.orderedResult(eng.execute(aql)
      .asInstanceOf[graft.aql.Engine.ResultSet].cursorId).get
      .collect().map(_.getLong(0)).toSet
    // NO ANALYZE stats anywhere: a prefix-1 composite hit carries no
    // more-constrained guarantee, so the unique single probe must lead
    val p1 = planOf("SEARCH [id] ON cp WHERE a = 'a1' AND u = 1007")
    assert(p1.contains("index 'cu'") && p1.contains("served"),
      s"single probe must lead a composite PREFIX unpriced:\n$p1")
    assert(rows("SEARCH [id] ON cp WHERE a = 'a1' AND u = 1007") == Set(7L))
    // even a FULL composite yields to a single probe on a DISJOINT
    // column unpriced (a dedicated point-lookup index is usually the
    // deliberately selective one; nothing provable ranks them)
    val p2 = planOf("SEARCH [id] ON cp WHERE a = 'a1' AND b = 1 AND u = 1007")
    assert(p2.contains("index 'cu'") && p2.contains("served"),
      s"disjoint single probe must lead even a FULL composite unpriced:\n$p2")
    assert(rows("SEARCH [id] ON cp WHERE a = 'a1' AND b = 1 AND u = 1007") == Set(7L))
    // but when the single probe's atom IS a composite component, the
    // full composite is provably at least as constrained — it leads
    eng.execute("CREATE INDEX ca ON cp ['a'] USING value")
    val p3 = planOf("SEARCH [id] ON cp WHERE a = 'a1' AND b = 1")
    assert(p3.contains("composite equality"),
      s"a FULL composite leads its own component's single probe:\n$p3")
    assert(rows("SEARCH [id] ON cp WHERE a = 'a1' AND b = 1") ==
      (0L until 60L).filter(i => i % 3 == 1 && i % 2 == 1).toSet)
  }

  test("commit maintains the index: inserts appear, edits re-derive, no rebuild") {
    val (cat, _) = fixture("maint")
    val idef = cat.createIndex("t", "vg", "value", "grp")
    val tx = new Tx(cat)
    tx.stageInsert("t", Seq(org.apache.spark.sql.Row(100L, "g2", 1)))
    tx.stageEdit("t", col("id") === 7L, Seq("grp" -> "zz"))
    tx.commit(Some("t"))
    val ids = Index.valueLookup(cat, "t", idef, Seq("g2"))
      .collect().map(_.getLong(0)).toSet
    assert(ids.contains(100L), "committed insert must be index-visible")
    assert(!ids.contains(7L), "edited-away value must leave the index")
    assert(Index.valueLookup(cat, "t", idef, Seq("zz"))
      .collect().map(_.getLong(0)).toSet == Set(7L))
    // time travel: v1's index still serves the pre-edit state
    assert(Index.valueLookup(cat, "t", idef, Seq("zz"), at = Some(1)).count() == 0)
  }

  test("value probes plan no Exchange; a duplicated pk serves the plain scan's rows") {
    val dir = java.nio.file.Files.createTempDirectory("graft-vix-dup")
    val eng = new graft.aql.Engine(spark, dir.toString)
    val cat = eng.catalog
    eng.execute("CREATE CONTAINER vd ['id','tag','band'] [BIGINT, TEXT, BIGINT]")
    import spark.implicits._
    // pk 3 is held twice with the probed value, pk 5 twice with different ones
    val rows = (0L until 20L).map(i => (i, s"t${i % 4}", i % 3)) ++
      Seq((3L, "t3", 0L), (5L, "t3", 2L))
    cat.overwrite("vd", rows.toDF("id", "tag", "band"))
    eng.execute("CREATE INDEX vt ON vd ['tag'] USING value")
    eng.execute("CREATE INDEX vc ON vd ['tag','band'] USING value")
    val single = cat.indexDefs("vd").find(_.ix == "vt").get
    val comp = cat.indexDefs("vd").find(_.ix == "vc").get
    Seq(
      "valueLookup" -> Index.valueLookup(cat, "vd", single, Seq("t3")),
      "valueLookupComposite" -> Index.valueLookupComposite(cat, "vd", comp, Seq(Seq("t3", 0L))),
      "valueRangeLookup" -> Index.valueRangeLookup(cat, "vd", single, col("val") >= "t2")
    ).foreach { case (name, df) =>
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"), s"$name must not shuffle:\n$plan")
    }
    // the lookup itself keeps the repeat; the engine's probe collapses it
    assert(Index.valueLookup(cat, "vd", single, Seq("t3"))
      .collect().map(_.getLong(0)).count(_ == 3L) == 2)
    def engineRows(aql: String) = eng.orderedResult(eng.execute(aql)
      .asInstanceOf[graft.aql.Engine.ResultSet].cursorId).get.collect().toSeq
    def scanRows(pred: org.apache.spark.sql.Column) = graft.aql.Engine.defaultOrder(
      cat.read("vd").filter(pred)).collect().toSeq
    for ((where, pred) <- Seq(
        "tag = 't3'" -> (col("tag") === "t3"),
        "tag = 't3' AND band = 0" -> (col("tag") === "t3" && col("band") === 0L),
        "tag >= 't2'" -> (col("tag") >= "t2"))) {
      val aql = s"SEARCH [] ON vd WHERE $where"
      val plan = eng.execute(s"EXPLAIN $aql").asInstanceOf[graft.aql.Engine.Done].message
      assert(plan.contains("pk candidate(s); clustered scan pruned"),
        s"$where must be served through the probe:\n$plan")
      assert(engineRows(aql) == scanRows(pred), where)
    }
    val plan = eng.execute("EXPLAIN SEARCH [] ON vd WHERE tag = 't3'")
      .asInstanceOf[graft.aql.Engine.Done].message
    assert(plan.contains("served 6 pk candidate(s)"),
      s"the probe's repeated pk must count once:\n$plan")
  }

  test("the value probe collects its candidates in one job; over index_probe_cap " +
      "it abandons to the plain scan; both serve the plain scan's rows") {
    val dir = java.nio.file.Files.createTempDirectory("graft-vix-onejob")
    java.nio.file.Files.writeString(
      dir.resolve(graft.catalog.Settings.FileName), "index_probe_cap: 4\n")
    val eng = new graft.aql.Engine(spark, dir.toString)
    val cat = eng.catalog
    eng.execute("CREATE CONTAINER oj ['id','grp'] [BIGINT, TEXT]")
    import spark.implicits._
    // 'rare' is held by one pk; each g<k> by 8, over the cap of 4
    cat.overwrite("oj", (0L until 40L)
      .map(i => (i, if (i == 21L) "rare" else s"g${i % 5}")).toDF("id", "grp")
      .repartitionByRange(4, col("id")).sortWithinPartitions("id"))
    eng.execute("CREATE INDEX og ON oj ['grp'] USING value")
    val parts = scala.util.Using.resource(java.nio.file.Files.list(
        cat.versionPath("oj", cat.currentVersion("oj")).resolve("_index").resolve("og"))) {
      _.iterator().asScala.count(_.getFileName.toString.startsWith("src="))
    }
    assert(parts >= 4, s"the index must span several parts, has $parts")

    // the Spark jobs lowering a SEARCH starts, picked out by job group
    val group = s"vix-onejob-${System.nanoTime()}"
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    val rs = try {
      spark.sparkContext.setJobGroup(group, "lower", interruptOnCancel = false)
      try eng.execute("SEARCH [] ON oj WHERE grp = 'rare'")
      finally spark.sparkContext.clearJobGroup()
    } finally {
      org.apache.spark.sql.graft.Bridge.flushListenerBus(spark)
      spark.sparkContext.removeSparkListener(listener)
    }
    assert(jobs.get == 1, s"lowering the probed SEARCH ran ${jobs.get} jobs")

    def explain(aql: String) = eng.execute(s"EXPLAIN $aql")
      .asInstanceOf[graft.aql.Engine.Done].message
    def engineRows(id: String) = eng.orderedResult(id).get.collect().toSeq
    def scanRows(g: String) = graft.aql.Engine.defaultOrder(
      cat.read("oj").filter(col("grp") === g)).collect().toSeq
    assert(explain("SEARCH [] ON oj WHERE grp = 'rare'")
      .contains("served 1 pk candidate(s); clustered scan pruned"))
    assert(engineRows(rs.asInstanceOf[graft.aql.Engine.ResultSet].cursorId) ==
      scanRows("rare"))
    val over = explain("SEARCH [] ON oj WHERE grp = 'g3'")
    assert(over.contains("index 'og' probe on grp (1 literal key(s)) abandoned: " +
      "over index_probe_cap 4 candidates — plain scan"), over)
    val g3 = eng.execute("SEARCH [] ON oj WHERE grp = 'g3'")
      .asInstanceOf[graft.aql.Engine.ResultSet].cursorId
    assert(engineRows(g3) == scanRows("g3") && scanRows("g3").length == 8)
  }
}
