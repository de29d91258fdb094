package graft.catalog

import graft.TestSpark
import graft.aql.Engine
import org.scalatest.funsuite.AnyFunSuite

/** Optimistic-concurrency commits: two sessions committing the same
  * container serialize via the CAS claim on the version directory
  * (`Catalog.tryCommit`) — the loser re-reads the winner's version as its
  * new base, re-derives its view, and retries, so no staged operation is
  * ever lost and no committer crashes. (The reference serializes all
  * writes under one RwLock — `/root/reference/src/database.rs:1123` — so
  * this is parity-plus.)
  */
class ConcurrencySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("two concurrent committers with disjoint inserts both land; no exception") {
    val dir = java.nio.file.Files.createTempDirectory("graft-cas")
    val cat = new Catalog(spark, dir.toString)
    cat.create("c", List("id" -> graft.aql.AlbaType.of("INT"),
      "v" -> graft.aql.AlbaType.of("SMALL-STRING")))

    // Two independent transaction layers over ONE catalog (two sessions).
    val txA = new Tx(cat)
    val txB = new Tx(cat)
    import org.apache.spark.sql.Row
    txA.stageInsert("c", Seq(Row(1, "from-A")))
    txB.stageInsert("c", Seq(Row(2, "from-B")))

    // A barrier maximizes the chance both threads read base version 0 and
    // race on claiming v1; the CAS loop must make the loser rebase to v1
    // and commit as v2.
    val barrier = new java.util.concurrent.CyclicBarrier(2)
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    def committer(tx: Tx) = new Thread(() => {
      try { barrier.await(); tx.commit(Some("c")) }
      catch { case t: Throwable => errs.add(t) }
    })
    val ts = Seq(committer(txA), committer(txB))
    ts.foreach(_.start()); ts.foreach(_.join(120000))

    assert(errs.isEmpty, s"commit threw: ${errs.toArray.mkString(", ")}")
    assert(cat.currentVersion("c") == 2, "both commits must publish (v2)")
    val rows = cat.read("c").collect().map(r => (r.getInt(0), r.getString(1))).toSet
    assert(rows == Set((1, "from-A"), (2, "from-B")),
      "the losing committer must rebase onto the winner, not overwrite it")
    // intermediate version holds exactly one of the two (whichever won)
    val v1 = cat.readVersion("c", 1).collect().map(_.getInt(0)).toSet
    assert(v1 == Set(1) || v1 == Set(2))
  }

  test("stress: four committers x three commits each — all twelve inserts survive") {
    val dir = java.nio.file.Files.createTempDirectory("graft-cas4")
    val cat = new Catalog(spark, dir.toString)
    cat.create("s", List("id" -> graft.aql.AlbaType.of("INT")))
    val barrier = new java.util.concurrent.CyclicBarrier(4)
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    import org.apache.spark.sql.Row
    val ts = (0 until 4).map { w =>
      new Thread(() => {
        try {
          val tx = new Tx(cat)
          barrier.await()
          (0 until 3).foreach { i =>
            tx.stageInsert("s", Seq(Row(w * 10 + i)))
            tx.commit(Some("s"))
          }
        } catch { case t: Throwable => errs.add(t) }
      })
    }
    ts.foreach(_.start()); ts.foreach(_.join(300000))
    assert(errs.isEmpty, s"commit threw: ${errs.toArray.mkString(", ")}")
    val rows = cat.read("s").collect().map(_.getInt(0)).toSet
    val want = (for (w <- 0 until 4; i <- 0 until 3) yield w * 10 + i).toSet
    assert(rows == want, s"lost inserts: ${(want -- rows).toSeq.sorted}")
    assert(cat.currentVersion("s") == 12, "every commit must publish its own version")
  }

  test("pointer never regresses when claims publish out of order") {
    val dir = java.nio.file.Files.createTempDirectory("graft-cas2")
    val cat = new Catalog(spark, dir.toString)
    cat.create("m", List("id" -> graft.aql.AlbaType.of("INT")))
    import spark.implicits._
    // sequential commits advance monotonically
    (1 to 3).foreach(i => cat.overwrite("m", Seq(i).toDF("id")))
    assert(cat.currentVersion("m") == 3)
    // a stale claim below the pointer must not move it back: tryCommit at
    // base 0 fails (v1 exists) rather than republishing v1
    assert(!cat.tryCommit("m", 0, Some(Seq(99).toDF("id"))))
    assert(cat.currentVersion("m") == 3)
  }

  test("Tx.commit escapes a dead process's claim; a live claim is never overtaken") {
    val dir = java.nio.file.Files.createTempDirectory("graft-cas5")
    val cat = new Catalog(spark, dir.toString)
    cat.create("z", List("id" -> graft.aql.AlbaType.of("INT")))
    import org.apache.spark.sql.Row
    val tx = new Tx(cat)
    tx.stageInsert("z", Seq(Row(1))); tx.commit(Some("z")) // v1
    // a claim whose recorded process has exited: provably orphaned
    val deadPid = { val p = new ProcessBuilder("true").start(); p.waitFor(); p.pid() }
    java.nio.file.Files.writeString(
      dir.resolve("catalog").resolve("z.claim-v2"), deadPid.toString)
    assert(cat.claimIsOrphan("z", 2))
    // commit RELEASES the dead claim and wins the freed v2 slot itself —
    // publishing in a higher slot instead would let two concurrent
    // escapers rebased on the same base drop each other's changes
    tx.stageInsert("z", Seq(Row(2))); tx.commit(Some("z"))
    assert(cat.currentVersion("z") == 2, "escape must reclaim the freed slot")
    assert(cat.read("z").collect().map(_.getInt(0)).toSet == Set(1, 2))
    // a claim held by a LIVE process is never treated as orphaned …
    java.nio.file.Files.writeString(
      dir.resolve("catalog").resolve("z.claim-v4"), ProcessHandle.current.pid.toString)
    assert(!cat.claimIsOrphan("z", 4))
    // … and neither is an unreadable (mid-create) one
    java.nio.file.Files.writeString(dir.resolve("catalog").resolve("z.claim-v5"), "")
    assert(!cat.claimIsOrphan("z", 5))
  }

  test("two committers escaping the SAME dead claim serialize — neither commit is lost") {
    // Regression for the round-4 escape design: both escapers observed the
    // orphan at base+1 and published views rebased on the SAME base into
    // DIFFERENT slots, so the higher slot silently dropped the lower one's
    // insert. The release-and-retry design funnels both through the
    // base+1 CREATE_NEW CAS: one wins, the other rebases on the winner.
    val dir = java.nio.file.Files.createTempDirectory("graft-cas6")
    val cat = new Catalog(spark, dir.toString)
    cat.create("r", List("id" -> graft.aql.AlbaType.of("INT")))
    import org.apache.spark.sql.Row
    val seed = new Tx(cat)
    seed.stageInsert("r", Seq(Row(1))); seed.commit(Some("r")) // v1
    val deadPid = { val p = new ProcessBuilder("true").start(); p.waitFor(); p.pid() }
    java.nio.file.Files.writeString(
      dir.resolve("catalog").resolve("r.claim-v2"), deadPid.toString)
    assert(cat.claimIsOrphan("r", 2))
    val txA = new Tx(cat); txA.stageInsert("r", Seq(Row(2)))
    val txB = new Tx(cat); txB.stageInsert("r", Seq(Row(3)))
    val barrier = new java.util.concurrent.CyclicBarrier(2)
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val ts = Seq(txA, txB).map(tx => new Thread(() => {
      try { barrier.await(); tx.commit(Some("r")) }
      catch { case t: Throwable => errs.add(t) }
    }))
    ts.foreach(_.start()); ts.foreach(_.join(120000))
    assert(errs.isEmpty, s"commit threw: ${errs.toArray.mkString(", ")}")
    assert(cat.read("r").collect().map(_.getInt(0)).toSet == Set(1, 2, 3),
      "both escaping committers' inserts must survive")
    assert(cat.currentVersion("r") == 3, "slots v2 and v3 both publish in order")
  }

  test("OPTIMIZE escapes a dead claim and adopts an unflipped version like Tx.commit") {
    val dir = java.nio.file.Files.createTempDirectory("graft-cas9")
    val cat = new Catalog(spark, dir.toString)
    cat.create("o", List("id" -> graft.aql.AlbaType.of("INT")))
    import org.apache.spark.sql.Row
    val tx = new Tx(cat)
    tx.stageInsert("o", Seq(Row(1), Row(2))); tx.commit(Some("o")) // v1
    // a dead committer's claim at base+1 would wedge every retry on the
    // same base without the Tx.commit-style escape (ADVICE r5)
    val deadPid = { val p = new ProcessBuilder("true").start(); p.waitFor(); p.pid() }
    java.nio.file.Files.writeString(
      dir.resolve("catalog").resolve("o.claim-v2"), deadPid.toString)
    assert(cat.claimIsOrphan("o", 2))
    val t0 = System.nanoTime()
    cat.optimize("o", targetFiles = Some(1))
    // second failed attempt triggers the release; far below the 50-attempt
    // (~80 s) wedge the unescaped loop would hit
    assert((System.nanoTime() - t0) < 60e9, "optimize must escape, not wedge")
    assert(cat.currentVersion("o") == 2, "escape must reclaim the freed slot")
    assert(cat.read("o").collect().map(_.getInt(0)).toSet == Set(1, 2))
  }

  test("vacuum releases a dead unpublished claim so it stops inflating the slot counter") {
    val dir = java.nio.file.Files.createTempDirectory("graft-cas7")
    val cat = new Catalog(spark, dir.toString)
    cat.create("v", List("id" -> graft.aql.AlbaType.of("INT")))
    import spark.implicits._
    cat.overwrite("v", Seq(1).toDF("id")) // v1
    val deadPid = { val p = new ProcessBuilder("true").start(); p.waitFor(); p.pid() }
    java.nio.file.Files.writeString(
      dir.resolve("catalog").resolve("v.claim-v7"), deadPid.toString)
    // a LIVE claim above it must survive vacuum
    java.nio.file.Files.writeString(
      dir.resolve("catalog").resolve("v.claim-v9"), ProcessHandle.current.pid.toString)
    cat.vacuum("v", keepLast = 1)
    assert(!java.nio.file.Files.exists(dir.resolve("catalog").resolve("v.claim-v7")),
      "dead unpublished claim must be released")
    assert(java.nio.file.Files.exists(dir.resolve("catalog").resolve("v.claim-v9")),
      "live claim must never be touched")
    assert(cat.read("v").collect().map(_.getInt(0)).toSet == Set(1))
  }

  test("a failed commit write releases its claim instead of wedging the container") {
    val dir = java.nio.file.Files.createTempDirectory("graft-cas8")
    val cat = new Catalog(spark, dir.toString)
    cat.create("f", List("id" -> graft.aql.AlbaType.of("INT")))
    import spark.implicits._
    cat.overwrite("f", Seq(1).toDF("id")) // v1
    // a DataFrame whose evaluation throws: the claim for v2 is taken, the
    // write fails, and the claim must be released on the way out
    val bad = Seq(1).toDF("id").select(
      org.apache.spark.sql.functions.expr("raise_error('boom')").cast("int").as("id"))
    intercept[Exception] { cat.tryCommit("f", 1, Some(bad)) }
    assert(!java.nio.file.Files.exists(dir.resolve("catalog").resolve("f.claim-v2")),
      "failed commit must release its claim")
    // the slot is immediately reusable by a healthy committer
    assert(cat.tryCommit("f", 1, Some(Seq(2).toDF("id"))))
    assert(cat.currentVersion("f") == 2)
  }

  test("crash between dir move and pointer flip: the published version is adopted, not wedged on") {
    // the narrowest crash window: data fully published (atomic move
    // done), pointer still on the old version, claim file still present
    // with a dead pid. claimIsOrphan reads the slot as published, so the
    // round-4 escape can't help — without adoption Tx.commit spins its 50
    // attempts and throws.
    val dir = java.nio.file.Files.createTempDirectory("graft-cas9")
    val cat = new Catalog(spark, dir.toString)
    cat.create("p", List("id" -> graft.aql.AlbaType.of("INT")))
    import org.apache.spark.sql.Row
    val tx = new Tx(cat)
    tx.stageInsert("p", Seq(Row(1))); tx.commit(Some("p")) // v1
    // simulate the dead committer's published-but-unflipped v2
    import spark.implicits._
    val tmp = dir.resolve("data/p.crashed-tmp")
    Seq(2).toDF("id").write.parquet(tmp.toString)
    java.nio.file.Files.move(tmp, dir.resolve("data/p@v2"),
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    val deadPid = { val pr = new ProcessBuilder("true").start(); pr.waitFor(); pr.pid() }
    java.nio.file.Files.writeString(
      dir.resolve("catalog").resolve("p.claim-v2"), deadPid.toString)
    assert(cat.currentVersion("p") == 1, "pointer still on v1 (the crash window)")
    // a new committer adopts v2 as its base and publishes v3 on top of it
    tx.stageInsert("p", Seq(Row(3))); tx.commit(Some("p"))
    assert(cat.currentVersion("p") == 3)
    assert(cat.read("p").collect().map(_.getInt(0)).toSet == Set(2, 3),
      "the adopted version is the rebase base: v1's row was overwritten by " +
        "the crashed committer's v2 content, and the new insert lands on top")
  }

  test("an orphaned claim (crash between claim and flip) does not wedge overwrite") {
    val dir = java.nio.file.Files.createTempDirectory("graft-cas3")
    val cat = new Catalog(spark, dir.toString)
    cat.create("o", List("id" -> graft.aql.AlbaType.of("INT")))
    import spark.implicits._
    cat.overwrite("o", Seq(1).toDF("id")) // v1
    // simulate a crashed committer: v2 directory exists, pointer still at 1
    val orphan = new java.io.File(dir.toFile, "data/o@v2")
    assert(orphan.mkdirs())
    assert(cat.currentVersion("o") == 1)
    cat.overwrite("o", Seq(2).toDF("id")) // must skip the orphan → v3
    assert(cat.currentVersion("o") == 3)
    assert(cat.read("o").collect().map(_.getInt(0)).toSet == Set(2))
  }
}
