package graft.catalog

import graft.TestSpark
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Commit-time maintenance of derived secondary indexes (Index.scala) —
  * the analogue of the reference's per-commit index hook
  * (`/root/reference/src/container.rs:277-282`, `src/indexing.rs:131-189`):
  * a container that gains/loses rows through the staged-op commit path
  * serves correct index lookups immediately, with NO rebuild — new data
  * files get their index rows computed inside the same atomic commit, and
  * untouched files carry their index parts over as hard links.
  */
class IndexMaintenanceSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  // ≥3 whitespace tokens so every doc shingles; family A docs are
  // near-identical (shared shingles ⇒ shared bands), family B is disjoint
  private def textA(i: Int) = s"the quick brown fox jumps over the lazy dog $i"
  private def textB(i: Int) = s"pack my box with five dozen liquor jugs $i"

  private def fixture(tag: String) = {
    val dir = java.nio.file.Files.createTempDirectory(s"graft-ixm-$tag")
    val cat = new Catalog(spark, dir.toString)
    cat.create("docs", List("doc_id" -> graft.aql.AlbaType.of("BIGINT"),
      "body" -> graft.aql.AlbaType.of("TEXT")))
    import spark.implicits._
    val base = ((0L until 8L).map(i => (i, textA(i.toInt)))
      ++ (8L until 16L).map(i => (i, textB(i.toInt))))
      .toDF("doc_id", "body")
      .repartitionByRange(4, col("doc_id")).sortWithinPartitions("doc_id")
    cat.overwrite("docs", base) // v1, 4 pk-range-clustered files
    (cat, dir)
  }

  private def queryDf(id: Long, text: String) = {
    import spark.implicits._
    Seq((id, text)).toDF("doc_id", "body")
  }

  test("createIndex backfills the current version and serves lookups") {
    val (cat, _) = fixture("backfill")
    cat.createIndex("docs", "nd", "lsh", "body")
    val ix = cat.readIndex("docs", "nd")
    assert(ix.columns.toSet == Set("id", "band", "bk", "src"))
    assert(ix.select("id").distinct().count() == 16, "every doc indexed")
    // doc 0's near family is the other textA docs
    val cands = cat.indexLookup("docs", "nd", queryDf(0L, textA(0)))
      .collect().map(_.getLong(1)).toSet
    assert(cands.nonEmpty && cands.subsetOf((1L until 8L).toSet),
      s"textA query must hit only textA docs, got $cands")
  }

  test("insert + COMMIT indexes the new doc in the same commit, no rebuild") {
    val (cat, _) = fixture("insert")
    cat.createIndex("docs", "nd", "lsh", "body")
    val v1IxParts = ixParts(cat, "docs", 1, "nd")
    assert(v1IxParts.nonEmpty, "backfilled index has parts")

    val tx = new Tx(cat)
    tx.stageInsert("docs", Seq(org.apache.spark.sql.Row(99L, textA(99))))
    tx.commit(Some("docs"))
    assert(cat.currentVersion("docs") == 2)

    // the probe finds the new doc's family immediately — no rebuild call
    val cands = cat.indexLookup("docs", "nd", queryDf(999L, textA(999)))
      .collect().map(_.getLong(1)).toSet
    assert(cands.contains(99L), s"new doc must be indexed at commit, got $cands")

    // incrementality: the insert-only commit linked every base data file,
    // and their index parts are the SAME inodes as v1's (hard links, not
    // recomputed bytes)
    val v2 = ixParts(cat, "docs", 2, "nd")
    val v1ByRel = v1IxParts.map(p => rel(cat, "docs", 1, p) -> p).toMap
    val carried = v2.filter(p => v1ByRel.get(rel(cat, "docs", 2, p))
      .exists(java.nio.file.Files.isSameFile(_, p)))
    assert(carried.size == v1IxParts.size,
      s"all v1 index parts must carry as links: ${carried.size} of ${v1IxParts.size}")
    assert(v2.size > v1IxParts.size, "the new doc contributed fresh index parts")
  }

  test("simhash index: same maintenance machinery, lookup equals the recomputed band-collision set") {
    val (cat, _) = fixture("simhash")
    cat.createIndex("docs", "sh", "simhash", "body")
    val ix = cat.readIndex("docs", "sh")
    assert(ix.columns.toSet == Set("id", "band", "bk", "src"))
    assert(ix.select("id").distinct().count() == 16, "every doc indexed")
    // 4 bands per doc, band-qualified keys ("b:v")
    assert(ix.count() == 64)
    assert(ix.select("bk").collect().forall(_.getString(0).matches("\\d:\\d+")))

    // a token-level variant of the textA family hits that family: simhash
    // bands survive single-token changes that re-shingle every 3-gram
    val cands = cat.indexLookup("docs", "sh", queryDf(999L, textA(0) + " extra"))
      .collect().map(_.getLong(1)).toSet
    assert(cands.nonEmpty && cands.subsetOf((0L until 8L).toSet),
      s"variant query must hit only the textA family, got $cands")

    // the index-served candidate set for doc 0's own text equals the
    // recomputed band-collision set (an index changes where rows come
    // from, never what they are)
    import spark.implicits._
    val all = ((0L until 8L).map(i => (i, textA(i.toInt)))
      ++ (8L until 16L).map(i => (i, textB(i.toInt)))).toDF("doc_id", "text")
    val sigs = graft.operators.TextDedup.withSimhash(all, Seq("doc_id"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def bands(sh: Long): Set[(Int, Long)] =
      (0 until 4).map(b => b -> ((sh >> (8 * b)) & 255L)).toSet
    val expected = sigs.keySet.filter(i =>
      i != 0L && bands(sigs(i)).intersect(bands(sigs(0L))).nonEmpty)
    val served = cat.indexLookup("docs", "sh", queryDf(0L, textA(0)))
      .collect().map(_.getLong(1)).toSet
    assert(served == expected, s"served $served, recomputed $expected")

    // commit-time maintenance: a committed insert is immediately servable
    val tx = new Tx(cat)
    tx.stageInsert("docs", Seq(org.apache.spark.sql.Row(99L, textA(99))))
    tx.commit(Some("docs"))
    val after = cat.indexLookup("docs", "sh", queryDf(999L, textA(999)))
      .collect().map(_.getLong(1)).toSet
    assert(after.contains(99L), s"new doc must be indexed at commit, got $after")
  }

  test("delete + COMMIT drops the doc's index rows; untouched files stay linked") {
    val (cat, _) = fixture("delete")
    cat.createIndex("docs", "nd", "lsh", "body")
    val tx = new Tx(cat)
    tx.stageDelete("docs", Some(col("doc_id") === 3L))
    tx.commit(Some("docs"))

    val ids = cat.readIndex("docs", "nd").select("id").distinct()
      .collect().map(_.getLong(0)).toSet
    assert(!ids.contains(3L), "deleted doc must leave the index")
    assert(ids.size == 15, s"the other docs stay indexed, got ${ids.size}")

    // only the touched pk-range's index subdir was recomputed
    val v1 = ixParts(cat, "docs", 1, "nd")
    val v2 = ixParts(cat, "docs", 2, "nd")
    val v1ByRel = v1.map(p => rel(cat, "docs", 1, p) -> p).toMap
    val carried = v2.count(p => v1ByRel.get(rel(cat, "docs", 2, p))
      .exists(java.nio.file.Files.isSameFile(_, p)))
    assert(carried > 0, "index parts of untouched files must carry as links")
  }

  test("index created before first commit: the first commit builds it") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ixm-empty")
    val cat = new Catalog(spark, dir.toString)
    cat.create("docs", List("doc_id" -> graft.aql.AlbaType.of("BIGINT"),
      "body" -> graft.aql.AlbaType.of("TEXT")))
    cat.createIndex("docs", "nd", "lsh", "body")
    assert(cat.readIndex("docs", "nd").count() == 0, "no data, empty index")
    val tx = new Tx(cat)
    tx.stageInsert("docs", Seq(org.apache.spark.sql.Row(1L, textA(1))))
    tx.commit(Some("docs"))
    assert(cat.readIndex("docs", "nd").select("id").distinct().count() == 1)
  }

  test("OPTIMIZE re-derives the index over the compacted layout") {
    val (cat, _) = fixture("optimize")
    cat.createIndex("docs", "nd", "lsh", "body")
    cat.optimize("docs", targetFiles = Some(1))
    val ix = cat.readIndex("docs", "nd")
    assert(ix.select("id").distinct().count() == 16)
    assert(ix.select("src").distinct().count() == 1,
      "compacted version's index derives from the compacted file")
  }

  test("time travel keeps each version's index; vacuum drops old ones with the version") {
    val (cat, _) = fixture("tt")
    cat.createIndex("docs", "nd", "lsh", "body")
    val tx = new Tx(cat)
    tx.stageInsert("docs", Seq(org.apache.spark.sql.Row(50L, textB(50))))
    tx.commit(Some("docs"))
    assert(java.nio.file.Files.exists(
      cat.versionPath("docs", 1).resolve("_index").resolve("nd")))
    cat.vacuum("docs", keepLast = 1)
    assert(!java.nio.file.Files.exists(cat.versionPath("docs", 1)))
    assert(cat.readIndex("docs", "nd").select("id").distinct().count() == 17)
  }

  test("dropIndex removes the definition; commits stop maintaining it") {
    val (cat, _) = fixture("dropix")
    cat.createIndex("docs", "nd", "lsh", "body")
    cat.dropIndex("docs", "nd")
    intercept[RuntimeException](cat.readIndex("docs", "nd"))
    val tx = new Tx(cat)
    tx.stageInsert("docs", Seq(org.apache.spark.sql.Row(99L, textA(99))))
    tx.commit(Some("docs")) // must not fail, and must not build an index
    assert(!java.nio.file.Files.exists(
      cat.versionPath("docs", 2).resolve("_index").resolve("nd")))
  }

  test("self-heal: a version published without the index gets backfilled on read") {
    val (cat, _) = fixture("heal")
    cat.createIndex("docs", "nd", "lsh", "body")
    // simulate a crashed backfill / index hook by removing the built index
    cat.deleteRecursively(
      cat.versionPath("docs", 1).resolve("_index").resolve("nd"))
    val ids = cat.readIndex("docs", "nd").select("id").distinct().count()
    assert(ids == 16, "read self-heals the missing index")
  }

  test("lsh index rejects non-text columns and duplicate creation") {
    val (cat, _) = fixture("reject")
    intercept[RuntimeException](cat.createIndex("docs", "bad", "lsh", "doc_id"))
    intercept[RuntimeException](cat.createIndex("docs", "bad2", "nope", "body"))
    cat.createIndex("docs", "nd", "lsh", "body")
    intercept[Exception](cat.createIndex("docs", "nd", "lsh", "body"))
  }

  test("drop + re-create under the same name never carries stale parts") {
    val (cat, _) = fixture("recreate")
    cat.create("docs2", List("doc_id" -> graft.aql.AlbaType.of("BIGINT"),
      "alt" -> graft.aql.AlbaType.of("TEXT"),
      "body" -> graft.aql.AlbaType.of("TEXT")))
    import spark.implicits._
    // alt and body carry DIFFERENT text families per doc
    cat.overwrite("docs2", (0L until 8L)
      .map(i => (i, textA(i.toInt), textB(i.toInt))).toDF("doc_id", "alt", "body"))
    cat.createIndex("docs2", "nd", "lsh", "alt")
    // advance a version so an older version holds old-definition parts
    val tx = new Tx(cat)
    tx.stageInsert("docs2", Seq(org.apache.spark.sql.Row(50L, textA(50), textB(50))))
    tx.commit(Some("docs2"))
    cat.dropIndex("docs2", "nd")
    cat.createIndex("docs2", "nd", "lsh", "body") // SAME name, other column
    // a textA query must find nothing: any hit means stale alt-derived
    // parts were carried into the rebuilt body index
    val altHits = cat.indexLookup("docs2", "nd", {
      import spark.implicits._
      Seq((999L, "x", textA(0))).toDF("doc_id", "alt", "body")
        .select(col("doc_id"), lit("y").as("alt"), lit(textB(3)).as("body"))
    }).collect()
    assert(altHits.map(_.getLong(1)).toSet.subsetOf((0L until 8L).toSet + 50L))
    val staleProbe = cat.readIndex("docs2", "nd")
    // body-derived bands differ from alt-derived ones: compare against a
    // fresh derivation of the body column — identical row set required
    val expected = cat.read("docs2").count()
    assert(staleProbe.select("id").distinct().count() == expected,
      "rebuilt index must cover every doc from the NEW column derivation")
  }

  test("lookups push their literal band keys into the index scan") {
    val (cat, _) = fixture("pushdown")
    cat.createIndex("docs", "nd", "lsh", "body")
    val plan = cat.indexLookup("docs", "nd", queryDf(0L, textA(0)))
      .queryExecution.executedPlan.toString()
    assert(plan.contains("PushedFilters") && plan.contains("In(bk"),
      s"band-key isin must reach the index scan (key-sorted parts make it " +
        s"a stats-pruned read):\n$plan")
  }

  // ---- ivf kind: packed-float32 BYTES embeddings --------------------------

  /** 8-dim one-hot-ish vector near axis `axis` with a small per-id nudge
    * (deterministic, keeps nearest-centroid assignment unambiguous). */
  private def vec(axis: Int, id: Long): Array[Byte] =
    graft.functions.Float32Unpack.pack(
      (0 until 8).map(d => if (d == axis) 1f else 0.001f * ((id + d) % 7)))

  private def ivfFixture(tag: String) = {
    val dir = java.nio.file.Files.createTempDirectory(s"graft-ixm-ivf-$tag")
    val cat = new Catalog(spark, dir.toString)
    cat.create("vecs", List("vec_id" -> graft.aql.AlbaType.of("BIGINT"),
      "e" -> graft.aql.AlbaType.of("MEDIUM-BYTES")))
    import spark.implicits._
    // ids 0..7 are the (lowest-pk) centroid seeds, one per axis; ids 8..23
    // repeat the axes, so vector i belongs with seed i % 8
    val rows = (0L until 24L).map(i => (i, vec((i % 8).toInt, i)))
    cat.overwrite("vecs", rows.toDF("vec_id", "e")
      .repartitionByRange(4, col("vec_id")).sortWithinPartitions("vec_id"))
    (cat, dir)
  }

  test("ivf index: centroids train at create, commits append assignments, probes prune") {
    val (cat, dir) = ivfFixture("base")
    cat.createIndex("vecs", "ann", "ivf", "e")
    val ix = cat.readIndex("vecs", "ann")
    // the list rows CARRY the packed vector (FAISS inverted-list shape)
    assert(ix.columns.toSet == Set("id", "cluster", "emb", "src"))
    assert(ix.count() == 24, "every decodable vector assigned")
    assert(ix.filter(org.apache.spark.sql.functions.col("emb").isNull).count() == 0,
      "commit-derived parts store every vector")
    // vectors sharing an axis share their seed's cluster
    val byCluster = ix.collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    (0L until 24L).foreach(i =>
      assert(byCluster(i) == byCluster(i % 8), s"vector $i strayed from its axis cluster"))

    // a committed insert near axis 3 is indexed by its own commit...
    val tx = new Tx(cat)
    tx.stageInsert("vecs", Seq(org.apache.spark.sql.Row(99L, vec(3, 99L))))
    tx.commit(Some("vecs"))
    import spark.implicits._
    val cands = cat.indexLookup("vecs", "ann",
        Seq((777L, vec(3, 777L))).toDF("vec_id", "e"))
      .collect().map(_.getLong(1)).toSet
    assert(cands.contains(99L), s"new vector must be indexed at commit, got $cands")
    assert(cands.subsetOf(Set(3L, 11L, 19L, 99L)),
      s"probe must prune to the queried cluster, got $cands")

    // ...and untouched files' index parts carried as hard links
    val v1 = ixParts(cat, "vecs", 1, "ann")
    val v2 = ixParts(cat, "vecs", 2, "ann")
    val v1ByRel = v1.map(p => rel(cat, "vecs", 1, p) -> p).toMap
    val carried = v2.count(p => v1ByRel.get(rel(cat, "vecs", 2, p))
      .exists(java.nio.file.Files.isSameFile(_, p)))
    assert(carried == v1.size, s"insert-only commit must link all index parts: $carried of ${v1.size}")

    // SIMILAR reaches the ivf kind through AQL: same-cell candidates for
    // a committed row's own vector, excluding the row itself
    val eng = new graft.aql.Engine(spark, dir.toString)
    val sim = eng.execute("SIMILAR 3 ON vecs")
      .asInstanceOf[graft.aql.Engine.ResultSet].df
      .collect().map(_.getLong(0)).toSet
    assert(sim == Set(11L, 19L, 99L), s"got $sim")

    // ...and by LITERAL vector (query-by-embedding): a query near axis 3
    // that is NOT a committed row serves the whole cell — no
    // self-exclusion, row 3 itself included
    def simVec(aql: String): Set[Long] = eng.execute(aql)
      .asInstanceOf[graft.aql.Engine.ResultSet].df
      .collect().map(_.getLong(0)).toSet
    assert(simVec("SIMILAR [0.1, 0.05, 0.02, 0.9, 0.0, 0.04, 0.01, 0.07] ON vecs")
      == Set(3L, 11L, 19L, 99L))
    // AT VERSION serves the time-traveled index: v1 predates row 99
    assert(simVec("SIMILAR [0.1, 0.05, 0.02, 0.9, 0.0, 0.04, 0.01, 0.07] " +
      "ON vecs AT VERSION 1") == Set(3L, 11L, 19L))
    // dimension mismatch is a loud error, not an empty result
    val eDim = intercept[Exception](eng.execute("SIMILAR [0.1, 0.2] ON vecs"))
    assert(eDim.getMessage.contains("dims"), eDim.getMessage)
    // PROBE 2 widens to the two nearest cells: a query between axes 3
    // and 5 (components 0.9 and 0.6) serves both cells' members
    assert(simVec("SIMILAR [0.0, 0.0, 0.0, 0.9, 0.0, 0.6, 0.0, 0.0] " +
      "ON vecs PROBE 2") == Set(3L, 11L, 19L, 99L, 5L, 13L, 21L))
    // ...and the pk form widens the same way: probe-2 keeps the home
    // cell (minus the row itself) and adds a second cell's members
    // (which one depends on the trained centroids' nudge means — the
    // invariant, not the tie-break, is what's pinned)
    val p2 = simVec("SIMILAR 3 ON vecs PROBE 2")
    assert(Set(11L, 19L, 99L).subsetOf(p2) && !p2.contains(3L), p2.toString)
    assert(p2.size > 3, s"probe-2 must widen past the home cell: $p2")
    // SCORED rerank (pk form): (pk, score) ordered score-desc, the
    // nudged fixture makes same-cell scores distinct and < 1; the probe
    // row itself stays excluded
    val scored = eng.execute("SIMILAR 3 ON vecs LIMIT 10 SCORED")
      .asInstanceOf[graft.aql.Engine.ResultSet].df
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(scored.map(_._1).toSet == Set(11L, 19L, 99L), scored.mkString(","))
    assert(!scored.map(_._1).contains(3L))
    val ss = scored.map(_._2)
    assert(ss.forall(v => v > 0.9 && v <= 1.0), ss.mkString(","))
    assert(ss.sorted(Ordering[Double].reverse).sameElements(ss),
      s"scores must rank desc: ${ss.mkString(",")}")
    // ...and an unknown pk yields the empty scored set, not an error
    assert(eng.execute("SIMILAR 777 ON vecs SCORED")
      .asInstanceOf[graft.aql.Engine.ResultSet].df.collect().isEmpty)
    // the scored rerank is INDEX-LOCAL: the vector form's plan reads ONE
    // parquet source (the cluster-pruned index parts) — never a corpus
    // candidate fetch. (The pk form adds only the probe row's pushed-
    // EqualTo point scans, bounded the same way the unscored form is.)
    val scoredPlan = eng.execute(
        "SIMILAR [0.1, 0.05, 0.02, 0.9, 0.0, 0.04, 0.01, 0.07] " +
          "ON vecs LIMIT 10 SCORED")
      .asInstanceOf[graft.aql.Engine.ResultSet].df
      .queryExecution.executedPlan.toString()
    assert("Scan parquet".r.findAllIn(scoredPlan).length == 1,
      s"scored vector rerank must read only the index parts:\n$scoredPlan")
    // the scored form composes as a SEARCH source: WHERE over the
    // (pk, score) rows like any (SIMILAR …) candidate set
    val src = eng.execute("SEARCH [] ON [(SIMILAR 3 ON vecs LIMIT 10 SCORED)] " +
      "WHERE vec_id < 50").asInstanceOf[graft.aql.Engine.ResultSet]
      .df.collect().map(_.getLong(0)).toSet
    assert(src == Set(11L, 19L), src.toString)
  }

  /** Whether `vecs`' current ivf index `ix` carries the all-emb marker. */
  private def hasEmbMarker(cat: Catalog, ix: String): Boolean =
    java.nio.file.Files.exists(cat.versionPath("vecs", cat.currentVersion("vecs"))
      .resolve("_index").resolve(ix).resolve(Index.AllEmbMarker))

  /** Turn `vecs`' current ivf index `ix` into what a build from before
    * the lists stored vectors left behind: the first `src=` part (or
    * every part) rewritten WITHOUT the emb column, the marker dropped. */
  private def stripEmb(cat: Catalog, ix: String, every: Boolean): Unit = {
    import scala.jdk.CollectionConverters._
    val ixd = cat.versionPath("vecs", cat.currentVersion("vecs"))
      .resolve("_index").resolve(ix)
    val parts = scala.util.Using.resource(java.nio.file.Files.list(ixd)) {
      _.iterator().asScala
        .filter(_.getFileName.toString.startsWith("src=")).toSeq
    }.sortBy(_.getFileName.toString)
    (if (every) parts else parts.take(1)).foreach { srcDir =>
      val legacyRows = spark.read.parquet(srcDir.toString)
        .select("id", "cluster").collect().toSeq
      cat.deleteRecursively(srcDir)
      spark.createDataFrame(
        new java.util.ArrayList[org.apache.spark.sql.Row](legacyRows.asJava),
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("id",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("cluster",
            org.apache.spark.sql.types.IntegerType))))
        .coalesce(1).write.parquet(srcDir.toString)
    }
    java.nio.file.Files.delete(ixd.resolve(Index.AllEmbMarker))
  }

  test("ivf all-emb marker: fresh + carried builds keep it and SCORED lowers with ZERO jobs; a pre-emb index is refused until REBUILD restores its rows") {
    val (cat, dir) = ivfFixture("allemb")
    cat.createIndex("vecs", "ann", "ivf", "e")
    assert(hasEmbMarker(cat, "ann"), "fresh build must be marked")
    // a COW commit hard-link-carries parts AND the marker fact
    val tx = new Tx(cat)
    tx.stageInsert("vecs", Seq(org.apache.spark.sql.Row(99L, vec(3, 99L))))
    tx.commit(Some("vecs"))
    assert(hasEmbMarker(cat, "ann"),
      "a carry from a marked version must stay marked")

    val eng = new graft.aql.Engine(spark, dir.toString)
    def scoredRows() = eng.execute(
        "SIMILAR [0, 0, 0, 1, 0, 0, 0, 0] ON vecs USING ann SCORED")
      .asInstanceOf[graft.aql.Engine.ResultSet].df
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    // zero-jobs pin (ADVICE r12): lowering a vector-form SCORED on a
    // MARKED index executes nothing — the cell pick is driver metadata
    // and the list vectors score index-locally, so even EXPLAIN is
    // plan-only. Count jobs across the lowering, flushing the async
    // listener bus before each read.
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          s: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    org.apache.spark.sql.graft.Bridge.flushListenerBus(spark)
    spark.sparkContext.addSparkListener(listener)
    val marked = try {
      val res = eng.execute("SIMILAR [0, 0, 0, 1, 0, 0, 0, 0] ON vecs USING ann SCORED")
      org.apache.spark.sql.graft.Bridge.flushListenerBus(spark)
      assert(jobs.get() == 0,
        s"marked SCORED lowering must run zero jobs, ran ${jobs.get()}")
      res.asInstanceOf[graft.aql.Engine.ResultSet].df
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(marked.map(_._1).toSet == Set(3L, 11L, 19L, 99L),
      s"cell-3 members expected, got $marked")

    // a pre-emb part drops the marker: SCORED refuses the index with
    // the REBUILD pointer instead of serving from partial vectors
    stripEmb(cat, "ann", every = false)
    assert(!hasEmbMarker(cat, "ann"), "marker gone")
    val refused = intercept[RuntimeException](scoredRows())
    assert(refused.getMessage.contains("REBUILD INDEX ann ON vecs"),
      refused.getMessage)
    // REBUILD re-derives every part and restores the catalog fact
    eng.execute("REBUILD INDEX ann ON vecs")
    assert(hasEmbMarker(cat, "ann"), "rebuild must restore the all-emb marker")
    assert(scoredRows() == marked, "rebuilt index serves the same rows")
  }

  test("ANN ingest gate drops near-dups on a marked index; a pre-emb index is refused until REBUILD, then gates alike") {
    val (cat, _) = ivfFixture("anngate")
    cat.createIndex("vecs", "ann", "ivf", "e")
    import spark.implicits._
    // marked index: a byte-exact twin of committed row 3 gates out
    graft.streaming.IngestSinks.nearDupBatch(
      Seq((990L, vec(3, 3L))).toDF("vec_id", "e"),
      cat, "vecs", "ann", threshold = Some(0.99))
    assert(cat.read("vecs").count() == 24, "marked-index gate must drop the twin")
    // pre-emb parts everywhere: cand_emb would read NULL and the cosine
    // filter would silently pass the duplicate — the gate refuses the
    // index with the REBUILD pointer and lands nothing
    stripEmb(cat, "ann", every = true)
    assert(!hasEmbMarker(cat, "ann"))
    val refused = intercept[RuntimeException](
      graft.streaming.IngestSinks.nearDupBatch(
        Seq((991L, vec(3, 3L))).toDF("vec_id", "e"),
        cat, "vecs", "ann", threshold = Some(0.99)))
    assert(refused.getMessage.contains("REBUILD INDEX ann ON vecs"),
      refused.getMessage)
    assert(cat.read("vecs").count() == 24, "a refused batch lands nothing")
    // after REBUILD the gate decides as it did before the strip
    cat.rebuildIndex("vecs", "ann")
    graft.streaming.IngestSinks.nearDupBatch(
      Seq((991L, vec(3, 3L))).toDF("vec_id", "e"),
      cat, "vecs", "ann", threshold = Some(0.99))
    assert(cat.read("vecs").count() == 24, "the rebuilt gate drops the twin")
    // a genuinely-new direction still ingests
    graft.streaming.IngestSinks.nearDupBatch(
      Seq((992L, graft.functions.Float32Unpack.pack(
        (0 until 8).map(d => if (d < 2) 0.7071f else 0f)))).toDF("vec_id", "e"),
      cat, "vecs", "ann", threshold = Some(0.99))
    assert(cat.read("vecs").count() == 25, "distinct vector must land")
  }

  test("ivf SHOW DEDUP / DEDUP on nudged geometry: near-dups verify WITHOUT byte equality") {
    // per-id nudges make every vector byte-distinct (exact_dup_docs = 0)
    // while same-axis cosines stay ≈ 0.9999 — the funnel's verify stage
    // must carry them, not the exact-dup stage: 24 docs, 8 axis cells of
    // 3, all candidates verified, 16 removals implied
    val (cat, dir) = ivfFixture("fnl")
    cat.createIndex("vecs", "ann", "ivf", "e")
    val eng = new graft.aql.Engine(spark, dir.toString)
    val rep = eng.execute("SHOW DEDUP vecs USING ann")
      .asInstanceOf[graft.aql.Engine.ResultSet].df.collect().head
    assert((rep.getLong(0), rep.getLong(1), rep.getLong(2), rep.getLong(3),
      rep.getLong(4), rep.getLong(5)) == ((24L, 0L, 24L, 24L, 8L, 16L)),
      s"got $rep")
    // ...and the applied dedup keeps each cell's lowest pk (fixed-width
    // payloads tie on length, so the pk breaks it): exactly the 8 seeds
    val msg = eng.execute("DEDUP vecs USING ann")
      .asInstanceOf[graft.aql.Engine.Done].message
    assert(msg.contains("removed 16") && msg.contains("8 cluster"), msg)
    assert(cat.read("vecs").collect().map(_.getLong(0)).toSet
      == (0L until 8L).toSet)
  }

  test("ivf k knob: DDL-declared centroid count trains, serves, survives rebuild and SHOW CREATE") {
    val (cat, dir) = ivfFixture("kknob")
    val eng = new graft.aql.Engine(spark, dir.toString)
    eng.execute("CREATE INDEX ann ON vecs ['e'] USING ivf 4")
    assert(Index.centroids(cat, "vecs", "ann").size == 4,
      "the declared k must be the trained centroid count")
    // every row is assigned to SOME of the 4 cells, so probing all 4
    // returns the whole corpus minus the probe row itself
    def sim(aql: String): Set[Long] = eng.execute(aql)
      .asInstanceOf[graft.aql.Engine.ResultSet].df
      .collect().map(_.getLong(0)).toSet
    assert(sim("SIMILAR 3 ON vecs PROBE 4 LIMIT 50")
      == (0L until 24L).toSet - 3L)
    // ...but probing PAST the trained cell count is a loud error naming
    // both numbers (the parser only enforces the DDL ceiling, 4096)
    val ePk = intercept[graft.aql.ParseException](
      eng.execute("SIMILAR 3 ON vecs PROBE 5 LIMIT 50"))
    assert(ePk.getMessage.contains("5") && ePk.getMessage.contains("4"),
      ePk.getMessage)
    // rebuild retrains at the DECLARED k, never the default
    eng.execute("REBUILD INDEX ann ON vecs")
    assert(Index.centroids(cat, "vecs", "ann").size == 4,
      "rebuild must keep the declared k")
    // SHOW CREATE is replay-exact: the emitted DDL carries the k
    val ddl = eng.execute("SHOW CREATE CONTAINER vecs")
      .asInstanceOf[graft.aql.Engine.ResultSet].df
      .collect().map(_.getString(1))
    assert(ddl.exists(_.endsWith("USING ivf 4")), ddl.mkString("; "))
    // the knob is ivf-only and range-checked at create too
    intercept[IllegalArgumentException](
      cat.createIndex("vecs", "bad", "lsh", "e", Some(4)))
  }

  test("ivf guards: needs BYTES column and committed rows; centroids survive a rename") {
    val (cat, _) = ivfFixture("guard")
    intercept[IllegalArgumentException](cat.createIndex("vecs", "bad", "ivf", "vec_id"))
    cat.createIndex("vecs", "ann", "ivf", "e")
    val before = Index.centroids(cat, "vecs", "ann")
    assert(before.size == 8 && before.forall(_._2.length == 8))
    // rename follows the index AND keeps the frozen centroids
    cat.renameColumn("vecs", "e", "emb")
    assert(cat.indexDefs("vecs").head.column == "emb")
    assert(Index.centroids(cat, "vecs", "ann").map(_._1) == before.map(_._1))
    import spark.implicits._
    val cands = cat.indexLookup("vecs", "ann",
        Seq((777L, vec(5, 777L))).toDF("vec_id", "emb"))
      .collect().map(_.getLong(1)).toSet
    assert(cands.nonEmpty && cands.subsetOf(Set(5L, 13L, 21L)))

    // empty container: centroid training has nothing to read
    cat.create("novecs", List("vec_id" -> graft.aql.AlbaType.of("BIGINT"),
      "e" -> graft.aql.AlbaType.of("MEDIUM-BYTES")))
    intercept[IllegalArgumentException](cat.createIndex("novecs", "ann", "ivf", "e"))
  }

  /** Drifted vector: −1 at main axis `id%4`, a 0.1 tilt at axis
    * `4+((id/8)%4)`, plus the usual per-id nudges. The tilt VARIES WITHIN
    * each main cluster, so the pre-rebuild frozen centroids (trained on
    * the +axis data) assign every drifted vector by its TILT (0.1 ≫
    * 0.0066 max nudge, provably) — main-axis mates scatter over 4 cells
    * and probe recall collapses. After a Lloyd rebuild the cells realign
    * with the main axes (two cells per main, split by tilt), so an
    * nprobe=2 probe recovers every mate. */
  private def driftVec(id: Long): Array[Byte] = {
    val main = (id % 4).toInt
    val tilt = 4 + ((id / 8) % 4).toInt
    graft.functions.Float32Unpack.pack(
      (0 until 8).map { d =>
        val base = if (d == main) -1f else if (d == tilt) 0.1f else 0f
        base + 0.001f * ((id + d) % 7)
      })
  }

  test("REBUILD INDEX retrains ivf centroids after drift and restores probe recall") {
    val (cat, dir) = ivfFixture("drift")
    cat.createIndex("vecs", "ann", "ivf", "e") // centroids frozen on +axis data
    val oldCents = Index.centroids(cat, "vecs", "ann")
    import spark.implicits._
    // DRIFT: the corpus is replaced by −main-axis clusters the frozen
    // +axis centroids never saw; the overwrite commit still maintains
    // the index (assignments under the OLD centroids)
    cat.overwrite("vecs", (100L until 132L).map(i => (i, driftVec(i)))
      .toDF("vec_id", "e")
      .repartitionByRange(4, col("vec_id")).sortWithinPartitions("vec_id"))
    def recall(qid: Long): Double = {
      val mates = (100L until 132L).filter(i => i % 4 == qid % 4)
      val idef = cat.indexDefs("vecs").find(_.ix == "ann").get
      val cands = Index.ivfLookup(cat, "vecs", idef,
          Seq((qid, driftVec(qid))).toDF("vec_id", "e"), nprobe = 2)
        .collect().map(_.getLong(1)).toSet
      mates.count(cands).toDouble / mates.size
    }
    // mates spread 2-per-tilt-cell: nprobe=2 can reach at most 4 of 8
    val before = recall(777L)
    assert(before <= 0.5, s"frozen centroids must lose drifted mates, recall=$before")
    // rebuild: Lloyd from the CURRENT data through the same derivation
    val eng = new graft.aql.Engine(spark, dir.toString)
    val msg = eng.execute("REBUILD INDEX ann ON vecs")
      .asInstanceOf[graft.aql.Engine.Done].message
    assert(msg.contains("rebuilt ivf index ann"), msg)
    val newCents = Index.centroids(cat, "vecs", "ann")
    assert(newCents.size == 8 &&
      newCents.map(_._2.toSeq) != oldCents.map(_._2.toSeq),
      "rebuild must retrain the centroid set")
    val after = recall(777L)
    assert(after >= 0.9, s"rebuilt cells must recover the mates, recall=$after")
    // the rebuilt index keeps being maintained by later commits
    val tx = new Tx(cat)
    tx.stageInsert("vecs", Seq(org.apache.spark.sql.Row(200L, driftVec(201L))))
    tx.commit(Some("vecs"))
    val idef = cat.indexDefs("vecs").find(_.ix == "ann").get
    val cands = Index.ivfLookup(cat, "vecs", idef,
        Seq((778L, driftVec(201L))).toDF("vec_id", "e"), nprobe = 2)
      .collect().map(_.getLong(1)).toSet
    assert(cands.contains(200L), s"post-rebuild commit must index new rows, got $cands")
    // guards: unknown index / unknown container named in the error
    intercept[RuntimeException](eng.execute("REBUILD INDEX nope ON vecs"))
    intercept[Exception](eng.execute("REBUILD INDEX ann ON novecs"))
  }

  test("rebuild_ivf_after_commits retrains centroids on the Nth commit, skips others") {
    val (cat, _) = ivfFixture("autodrift")
    cat.createIndex("vecs", "ann", "ivf", "e")
    val oldCents = Index.centroids(cat, "vecs", "ann")
    import spark.implicits._
    val tx = new Tx(cat)
    tx.rebuildIvfEvery = 2 // fixture committed v1; the drift commit is v2
    // DRIFT through the Tx path (the hook only fires on real commits):
    // replace the +axis corpus with −main-axis clusters in one commit
    tx.stageDelete("vecs", None)
    tx.stageInsert("vecs",
      (100L until 132L).map(i => org.apache.spark.sql.Row(i, driftVec(i))))
    tx.commit(Some("vecs"))
    assert(cat.currentVersion("vecs") == 2)
    val retrained = Index.centroids(cat, "vecs", "ann")
    assert(retrained.size == 8 &&
      retrained.map(_._2.toSeq) != oldCents.map(_._2.toSeq),
      "the Nth commit must retrain the centroid set from current data")
    // the retrained cells serve drifted probes (same margin as the
    // explicit REBUILD spec: mates spread 2-per-tilt-cell, nprobe=2)
    val idef = cat.indexDefs("vecs").find(_.ix == "ann").get
    val mates = (100L until 132L).filter(i => i % 4 == 777L % 4)
    val cands = Index.ivfLookup(cat, "vecs", idef,
        Seq((777L, driftVec(777L))).toDF("vec_id", "e"), nprobe = 2)
      .collect().map(_.getLong(1)).toSet
    val recall = mates.count(cands).toDouble / mates.size
    assert(recall >= 0.9, s"auto-rebuilt cells must serve drifted probes, recall=$recall")
    // an off-cycle commit (v3) maintains assignments but does NOT retrain
    tx.stageInsert("vecs", Seq(org.apache.spark.sql.Row(200L, driftVec(201L))))
    tx.commit(Some("vecs"))
    assert(cat.currentVersion("vecs") == 3)
    assert(Index.centroids(cat, "vecs", "ann")
      .map(_._2.toSeq) == retrained.map(_._2.toSeq),
      "an off-cycle commit must not retrain")
    val cands2 = Index.ivfLookup(cat, "vecs", idef,
        Seq((778L, driftVec(201L))).toDF("vec_id", "e"), nprobe = 2)
      .collect().map(_.getLong(1)).toSet
    assert(cands2.contains(200L), "off-cycle commits still maintain assignments")
  }

  test("REBUILD of a band index re-derives identical parts; lookups keep serving") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ixm-rebuild-lsh")
    val cat = new Catalog(spark, dir.toString)
    cat.create("docs", List("doc_id" -> graft.aql.AlbaType.of("BIGINT"),
      "body" -> graft.aql.AlbaType.of("TEXT")))
    import spark.implicits._
    val base = "the quick brown fox jumps over the lazy dog again and again"
    cat.overwrite("docs", Seq(
      (1L, base), (2L, base + " indeed"), (3L, "completely unrelated text corpus row")
    ).toDF("doc_id", "body"))
    cat.createIndex("docs", "nd", "lsh", "body")
    def cands(): Set[Long] = cat.indexLookup("docs", "nd",
        Seq((9L, base + " truly")).toDF("doc_id", "body"))
      .collect().map(_.getLong(1)).toSet
    val served = cands()
    assert(served.contains(1L) || served.contains(2L))
    cat.rebuildIndex("docs", "nd")
    assert(cands() == served, "band derivation has no trained state — content identical")
  }

  test("auto-OPTIMIZE keeps a 50-small-commit ingest's file count bounded") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ixm-autoopt")
    // optimize_after_commits flows settings.yaml -> Engine -> Tx
    java.nio.file.Files.writeString(dir.resolve(Settings.FileName),
      Settings.default.copy(optimizeAfterCommits = 10).toYaml)
    val eng = new graft.aql.Engine(spark, dir.toString)
    assert(eng.tx.optimizeEvery == 10)
    eng.execute("CREATE CONTAINER ing ['id','v'] [BIGINT, SMALL-STRING]")
    (1 to 50).foreach { i =>
      eng.execute(s"CREATE ROW ['id','v'] [$i,'v$i'] ON ing")
      eng.execute("COMMIT ing")
    }
    val cat = eng.catalog
    val files = cat.versionFiles("ing", cat.currentVersion("ing")).size
    // without the trigger this is ~50 appended parts; with it the count
    // stays within one inter-optimize window
    assert(files <= 12, s"auto-OPTIMIZE must bound fragmentation, got $files files")
    assert(cat.read("ing").count() == 50, "compaction must never lose rows")
    assert(cat.currentVersion("ing") > 50, "optimize publishes its own versions")
  }

  test("ivf INT8 lists: 4x smaller storage, recall against the float twin, exact output scores") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ixm-int8")
    val cat = new Catalog(spark, dir.toString)
    cat.create("vecs", List("vec_id" -> graft.aql.AlbaType.of("BIGINT"),
      "e" -> graft.aql.AlbaType.of("MEDIUM-BYTES")))
    // 3000 deterministic pseudo-random 64-dim vectors (sin spread — the
    // float32 bit patterns are incompressible, so the storage pin
    // measures the codec, not the compressor)
    def fv(i: Long): IndexedSeq[Float] =
      (0 until 64).map(d => math.sin(i * 7.0 + d * 13.0).toFloat)
    import spark.implicits._
    val rows = (0L until 3000L).map(i =>
      (i, graft.functions.Float32Unpack.pack(fv(i))))
    cat.overwrite("vecs", rows.toDF("vec_id", "e")
      .repartitionByRange(4, col("vec_id")).sortWithinPartitions("vec_id"))
    val eng = new graft.aql.Engine(spark, dir.toString)
    eng.execute("CREATE INDEX annf ON vecs ['e'] USING ivf 8")
    eng.execute("CREATE INDEX anni ON vecs ['e'] USING ivf 8 INT8")
    // STORAGE PIN: quantized lists carry 64 bytes/vector instead of
    // 256 — the index directory must come in well under half the size
    val v = cat.currentVersion("vecs")
    def ixBytes(ix: String): Long =
      ixParts(cat, "vecs", v, ix).map(java.nio.file.Files.size).sum
    val (fb, ib) = (ixBytes("annf"), ixBytes("anni"))
    assert(ib < fb * 0.5, s"int8 lists must be <0.5x float32: $ib vs $fb")
    // RECALL + EXACTNESS: same query through both indexes at full probe
    // (isolates the quantization effect from cell pruning). The query IS
    // row 42's vector, so cosine 1.0 must survive approx selection.
    val qLit = fv(42).mkString("[", ", ", "]")
    def top(ix: String): Seq[(Long, Double)] = eng
      .execute(s"SIMILAR $qLit ON vecs USING $ix PROBE 8 LIMIT 10 SCORED")
      .asInstanceOf[graft.aql.Engine.ResultSet].df.collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val (ft, it) = (top("annf"), top("anni"))
    assert(it.head._1 == 42L && it.head._2 == 1.0,
      s"the exact-duplicate query row must rank first, got ${it.head}")
    val overlap = ft.map(_._1).toSet.intersect(it.map(_._1).toSet).size
    assert(overlap >= 7, s"int8 recall floor: $overlap/10 vs the float twin")
    // the int8 path emits EXACT scores (float32 refetch): every pk both
    // indexes serve carries an identical score
    val fScores = ft.toMap
    it.filter(p => fScores.contains(p._1)).foreach { case (id, s) =>
      assert(s == fScores(id), s"pk $id: int8 score $s != exact ${fScores(id)}")
    }
    // metadata round-trips: the def reads back int8, SHOW CREATE emits
    // the option, and REBUILD retrains bounds without dropping it
    assert(cat.indexDefs("vecs").find(_.ix == "anni").exists(_.int8))
    assert(!cat.indexDefs("vecs").find(_.ix == "annf").exists(_.int8))
    val ddl = eng.execute("SHOW CREATE CONTAINER vecs")
      .asInstanceOf[graft.aql.Engine.ResultSet].df.collect().map(_.getString(1))
    assert(ddl.exists(_.endsWith("USING ivf 8 INT8")), ddl.mkString("; "))
    eng.execute("REBUILD INDEX anni ON vecs")
    assert(cat.indexDefs("vecs").find(_.ix == "anni").exists(_.int8),
      "rebuild must keep the int8 option")
    assert(cat.sqBounds("vecs", "anni")._1.length == 64)
    assert(top("anni").head._1 == 42L, "post-rebuild serving intact")
    // SHOW INDEXES surfaces the option in the kind column
    val kinds = eng.execute("SHOW INDEXES vecs")
      .asInstanceOf[graft.aql.Engine.ResultSet].df.collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(kinds("anni") == "ivf int8" && kinds("annf") == "ivf", kinds.toString)
    // the option is ivf-only — a band index refuses loudly
    intercept[IllegalArgumentException](
      cat.createIndex("vecs", "bad", "lsh", "e", int8 = true))
  }

  test("legacy band-tokenization metadata (no tokv line) is refused " +
      "until REBUILD (round 16, r15 advisor)") {
    val (cat, _) = fixture("tokv")
    cat.createIndex("docs", "nd", "lsh", "body")
    // fresh creates stamp the current band-tokenization version
    assert(cat.indexDefs("docs").head.tokv == 2)
    // simulate pre-empty-token-filter metadata: strip the tokv line (a
    // file written before the marker existed is byte-identical to this)
    val mf = Index.metaFile(cat, "docs", "nd")
    val stripped = java.nio.file.Files.readString(mf).linesIterator
      .filterNot(_.startsWith("option\ttokv")).mkString("\n")
    java.nio.file.Files.writeString(mf, stripped)
    assert(cat.indexDefs("docs").head.tokv == 1, "unmarked band metadata is legacy")
    // lookups refuse — the committed parts may encode pre-filter bands,
    // and probing them with current-derivation band keys is silent drift
    val e = intercept[RuntimeException](
      cat.indexLookup("docs", "nd", queryDf(0L, textA(0))).collect())
    assert(e.getMessage.contains("REBUILD INDEX nd ON docs"), e.getMessage)
    // commits refuse too: deriving NEW parts under v2 while hard-link-
    // carrying v1 parts would create intra-index drift
    val tx = new Tx(cat)
    tx.stageInsert("docs", Seq(org.apache.spark.sql.Row(99L, textA(99))))
    val e2 = intercept[RuntimeException](tx.commit(Some("docs")))
    assert(e2.getMessage.contains("REBUILD INDEX"), e2.getMessage)
    tx.rollback(Some("docs"))
    // REBUILD re-derives every part under the current tokenization and
    // restamps tokv — service restored, same collision families
    cat.rebuildIndex("docs", "nd")
    assert(cat.indexDefs("docs").head.tokv == 2)
    val cands = cat.indexLookup("docs", "nd", queryDf(0L, textA(0)))
      .collect().map(_.getLong(1)).toSet
    assert(cands.nonEmpty && cands.subsetOf((1L until 8L).toSet), cands.toString)
  }

  // ---- helpers -------------------------------------------------------------

  /** Parquet part files under version v's index directory (recursive). */
  private def ixParts(cat: Catalog, name: String, v: Int, ix: String) = {
    val d = cat.versionPath(name, v).resolve("_index").resolve(ix)
    import scala.jdk.CollectionConverters._
    scala.util.Using.resource(java.nio.file.Files.walk(d)) { s =>
      s.iterator().asScala
        .filter(p => java.nio.file.Files.isRegularFile(p) // src= DIRS end in .parquet too
          && p.getFileName.toString.endsWith(".parquet")).toSeq
    }
  }

  /** Path of an index part relative to its version dir (src=…/part-…). */
  private def rel(cat: Catalog, name: String, v: Int, p: java.nio.file.Path) =
    cat.versionPath(name, v).resolve("_index").relativize(p).toString
}
