package graft.catalog

import graft.TestSpark
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Atomic multi-container COMMIT (graft extension): `COMMIT` with two or
  * more staged containers prepares every member (claim + staged COW
  * build), decides them all with ONE atomic manifest rename, then
  * applies. The reference loops containers sequentially
  * (`/root/reference/src/database.rs:840-887`), so its crash window
  * leaves a partial commit; here a crash before the manifest commits
  * nothing and a crash after it is rolled forward by ANY later session
  * (`Catalog.recoverTxns` — hooked at catalog open, contender escape,
  * and vacuum).
  *
  * Crash states are constructed literally (claim files with dead pids,
  * staged tmp dirs, hand-written manifests) and recovery is driven
  * through the same entry points production uses.
  */
class GroupCommitSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import java.nio.file.{Files, Paths}

  private val DeadPid = 999999999L

  private def fixture(tag: String) = {
    val dir = Files.createTempDirectory(s"graft-txn-$tag")
    val cat = new Catalog(spark, dir.toString)
    Seq("a", "b").foreach { c =>
      cat.create(c, List("id" -> graft.aql.AlbaType.of("INT"),
        "v" -> graft.aql.AlbaType.of("SMALL-STRING")))
      import spark.implicits._
      cat.overwrite(c, (0 until 10).map(i => (i, s"$c$i")).toDF("id", "v")
        .repartitionByRange(2, col("id")).sortWithinPartitions("id")) // v1
    }
    (cat, dir)
  }

  private def rows(cat: Catalog, c: String): Map[Int, String] =
    cat.read(c).collect().map(r => (r.getInt(0), r.getString(1))).toMap

  test("COMMIT over two staged containers advances both exactly once, atomically") {
    val (cat, _) = fixture("both")
    val tx = new Tx(cat)
    tx.stageInsert("a", Seq(Row(100, "newA")))
    tx.stageEdit("b", col("id") === 3, Seq("v" -> "EDITED"))
    tx.commit(None)
    assert(cat.currentVersion("a") == 2 && cat.currentVersion("b") == 2)
    assert(rows(cat, "a")(100) == "newA")
    assert(rows(cat, "b")(3) == "EDITED")
    assert(tx.stagedOps("a") == 0 && tx.stagedOps("b") == 0)
    // the COW shape survives the group path: b's untouched file is a link
    val v1 = cat.versionFiles("b", 1).map(f => f.getFileName.toString -> f).toMap
    val carried = cat.versionFiles("b", 2).filter(f =>
      v1.get(f.getFileName.toString).exists(java.nio.file.Files.isSameFile(_, f)))
    assert(carried.nonEmpty, "group commit must keep file-granular COW links")
    // no manifest or tmp debris
    assert(txnManifests(cat).isEmpty)
  }

  private def txnManifests(cat: Catalog): Seq[java.nio.file.Path] =
    scala.util.Using.resource(Files.list(cat.catalogDir)) { st =>
      import scala.jdk.CollectionConverters._
      st.iterator().asScala.filter(_.getFileName.toString.endsWith(".txn")).toSeq
    }

  /** Stage both containers' next versions the way a crashed committer
    * would have left them: claims with a dead pid + fully built tmp dirs
    * (content = base with one extra row), NO pointer movement.
    */
  private def deadPrepared(cat: Catalog, dir: java.nio.file.Path)
      : Seq[(String, Int, String)] =
    Seq("a", "b").map { c =>
      import spark.implicits._
      val tmpName = s"$c.tmp-$DeadPid-${System.nanoTime()}"
      val tmp = dir.resolve("data").resolve(tmpName)
      cat.read(c).union(Seq((50, s"txn$c")).toDF("id", "v"))
        .write.parquet(tmp.toString)
      Files.write(dir.resolve("catalog").resolve(s"$c.claim-v2"),
        DeadPid.toString.getBytes)
      (c, 2, tmpName)
    }

  private def writeManifest(dir: java.nio.file.Path,
      entries: Seq[(String, Int, String)], pid: Long): java.nio.file.Path = {
    val body = (pid.toString +: entries.map { case (n, s, t) => s"$n\t$s\t$t" })
      .mkString("\n")
    val mf = dir.resolve("catalog").resolve(s"txn-$pid-${System.nanoTime()}.txn")
    Files.writeString(mf, body)
    mf
  }

  test("crash BEFORE the manifest: nothing commits; a contender reclaims the slots") {
    val (cat, dir) = fixture("undecided")
    deadPrepared(cat, dir) // claims + tmps, no manifest = undecided
    // a later committer on one member must land (orphan release frees v2)
    val tx = new Tx(cat)
    tx.stageInsert("a", Seq(Row(200, "contender")))
    tx.commit(Some("a"))
    assert(cat.currentVersion("a") == 2)
    assert(rows(cat, "a").get(50).isEmpty, "undecided txn data must never appear")
    assert(rows(cat, "a")(200) == "contender")
    // b untouched: still v1, its orphan claim release is lazy (vacuum)
    assert(cat.currentVersion("b") == 1)
    cat.vacuum("b")
    val tx2 = new Tx(cat)
    tx2.stageInsert("b", Seq(Row(201, "later")))
    tx2.commit(Some("b"))
    assert(cat.currentVersion("b") == 2 && rows(cat, "b")(201) == "later")
  }

  test("crash AFTER the manifest: any session rolls the whole transaction forward") {
    val (cat, dir) = fixture("decided")
    val entries = deadPrepared(cat, dir)
    writeManifest(dir, entries, DeadPid)
    // a NEW session opening the catalog heals on construction
    val cat2 = new Catalog(spark, dir.toString)
    assert(cat2.currentVersion("a") == 2 && cat2.currentVersion("b") == 2)
    assert(rows(cat2, "a")(50) == "txna" && rows(cat2, "b")(50) == "txnb")
    assert(txnManifests(cat2).isEmpty, "applied manifest must be deleted")
  }

  test("crash MID-APPLY (one member moved, one not): recovery completes idempotently") {
    val (cat, dir) = fixture("midapply")
    val entries = deadPrepared(cat, dir)
    writeManifest(dir, entries, DeadPid)
    // simulate the dead committer having applied member `a` only
    val (an, aslot, atmp) = entries.head
    Files.move(dir.resolve("data").resolve(atmp), cat.versionPath(an, aslot))
    val cat2 = new Catalog(spark, dir.toString)
    assert(cat2.currentVersion("a") == 2 && cat2.currentVersion("b") == 2)
    assert(rows(cat2, "a")(50) == "txna" && rows(cat2, "b")(50) == "txnb")
    assert(txnManifests(cat2).isEmpty)
  }

  test("contender escape heals a decided transaction instead of stealing its slot") {
    val (cat, dir) = fixture("steal")
    val entries = deadPrepared(cat, dir)
    writeManifest(dir, entries, DeadPid)
    // a committer racing on member `a` must rebase ONTO the decided txn's
    // version (its stuck-escape path heals first), never drop it
    val tx = new Tx(cat)
    tx.stageInsert("a", Seq(Row(300, "rebased")))
    tx.commit(Some("a"))
    assert(cat.currentVersion("a") == 3, "decided txn = v2, contender = v3")
    assert(rows(cat, "a")(50) == "txna", "decided txn data survives the race")
    assert(rows(cat, "a")(300) == "rebased")
    assert(cat.currentVersion("b") == 2 && rows(cat, "b")(50) == "txnb")
  }

  test("a failed member prepare aborts the whole group; retry commits both") {
    val (cat, dir) = fixture("retry")
    // occupy b's v2 with a LIVE claim so the first group attempt loses,
    // then free it: the group must abort a's prepared slot too and land
    // both on retry (a's abort released its own claim — no self-wedge)
    val bClaim = dir.resolve("catalog").resolve("b.claim-v2")
    Files.write(bClaim, ProcessHandle.current.pid.toString.getBytes)
    val tx = new Tx(cat)
    tx.stageInsert("a", Seq(Row(400, "ga")))
    tx.stageInsert("b", Seq(Row(400, "gb")))
    val t = new Thread(() => { Thread.sleep(400); Files.deleteIfExists(bClaim) })
    t.start()
    tx.commit(None)
    t.join()
    assert(cat.currentVersion("a") == 2 && cat.currentVersion("b") == 2)
    assert(rows(cat, "a")(400) == "ga" && rows(cat, "b")(400) == "gb")
    assert(txnManifests(cat).isEmpty)
  }

  test("vacuum GCs a dead committer's undecided stage directories") {
    val (cat, dir) = fixture("tmpgc")
    deadPrepared(cat, dir) // dead-pid claims + fully built tmp dirs, no manifest
    def tmps(c: String) = scala.util.Using.resource(
      Files.list(dir.resolve("data"))) { st =>
      import scala.jdk.CollectionConverters._
      st.iterator().asScala.count(_.getFileName.toString.startsWith(s"$c.tmp-"))
    }
    assert(tmps("a") == 1 && tmps("b") == 1)
    cat.vacuum("a"); cat.vacuum("b")
    assert(tmps("a") == 0 && tmps("b") == 0, "dead undecided stage dirs must GC")
    // data untouched: still v1, reads intact
    assert(cat.currentVersion("a") == 1 && rows(cat, "a").size == 10)
  }

  test("a decided manifest's slot is never released as an orphan (dead claim included)") {
    val (cat, dir) = fixture("guard")
    val entries = deadPrepared(cat, dir)
    writeManifest(dir, entries, DeadPid)
    // the claims are provably dead, but the manifest DECIDED the
    // transaction: orphan release must refuse both slots — the staged
    // versions belong there (recovery lands them, never a contender)
    assert(!cat.releaseOrphanClaim("a", 2) && !cat.releaseOrphanClaim("b", 2))
    assert(Files.exists(dir.resolve("catalog").resolve("a.claim-v2")),
      "a decided member's claim must survive the orphan sweep")
  }

  test("apply failure past the commit point clears the staged log — a user retry cannot double-apply") {
    val (cat, dir) = fixture("pastpoint")
    cat.afterDecide = () => throw new RuntimeException("injected apply crash")
    val tx = new Tx(cat)
    tx.stageInsert("a", Seq(Row(600, "xa")))
    tx.stageInsert("b", Seq(Row(600, "xb")))
    val e = intercept[RuntimeException] { tx.commit(None) }
    assert(e.getMessage.contains("injected"))
    // the transaction is DECIDED (manifest renamed): the staged ops are
    // spent — a retry of COMMIT must not re-stage them onto the
    // recovered base
    assert(tx.stagedOps("a") == 0 && tx.stagedOps("b") == 0,
      "decided transaction must clear the staged log before rethrowing")
    assert(txnManifests(cat).nonEmpty, "manifest stays for roll-forward")
    cat.afterDecide = () => ()
    tx.commit(None) // the ADVICE scenario: user retries — must be a no-op
    val cat2 = new Catalog(spark, dir.toString) // heals on open
    assert(cat2.currentVersion("a") == 2 && cat2.currentVersion("b") == 2)
    val (ra, rb) = (rows(cat2, "a"), rows(cat2, "b"))
    assert(ra(600) == "xa" && rb(600) == "xb")
    assert(ra.size == 11 && rb.size == 11, "inserts must apply exactly once")
    assert(txnManifests(cat2).isEmpty)
  }

  test("vacuum's tmp sweep spares stage dirs referenced by a manifest it hasn't applied") {
    val (cat, dir) = fixture("tmpspare")
    val entries = deadPrepared(cat, dir)
    // manifest owned by a LIVE foreign pid (init): recoverTxns must not
    // touch it (mid-apply contract), yet the referenced tmp dirs carry
    // dead pids in their names — exactly the shape of the race where a
    // committer renames its manifest and dies after vacuum's recovery
    // pass. The sweep must spare every manifest-referenced tmp.
    writeManifest(dir, entries, 1L)
    cat.vacuum("a"); cat.vacuum("b")
    def tmps(c: String) = scala.util.Using.resource(
      Files.list(dir.resolve("data"))) { st =>
      import scala.jdk.CollectionConverters._
      st.iterator().asScala.count(_.getFileName.toString.startsWith(s"$c.tmp-"))
    }
    assert(tmps("a") == 1 && tmps("b") == 1,
      "manifest-referenced stage dirs must survive the dead-pid sweep")
  }

  test("a corrupt manifest is GC'd instead of wedging its slots forever") {
    val (cat, dir) = fixture("corrupt")
    // shape 1: unparsable pid line but parseable entries — slotDecided
    // used to count it forever while pidRecoverable never turned true
    val entries = deadPrepared(cat, dir)
    val body = ("not-a-pid" +: entries.map { case (n, s, t) => s"$n\t$s\t$t" })
      .mkString("\n")
    Files.writeString(dir.resolve("catalog")
      .resolve(s"txn-garbage-${System.nanoTime()}.txn"), body)
    // shape 2: content lost before the rename became durable (crash) —
    // an empty manifest decides nothing
    Files.writeString(dir.resolve("catalog")
      .resolve(s"txn-empty-${System.nanoTime()}.txn"), "")
    val cat2 = new Catalog(spark, dir.toString)
    assert(txnManifests(cat2).isEmpty,
      "readable-but-malformed manifests must be deleted on recovery")
    // with the garbage gone, the dead claims release and a commit lands
    cat2.vacuum("a")
    val tx = new Tx(cat2)
    tx.stageInsert("a", Seq(Row(700, "unwedged")))
    tx.commit(Some("a"))
    assert(cat2.currentVersion("a") == 2 && rows(cat2, "a")(700) == "unwedged")
  }

  test("two racing group commits over the same containers both land") {
    val (cat, _) = fixture("race")
    val results = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = (1 to 2).map { k =>
      new Thread(() => {
        try {
          val tx = new Tx(cat)
          tx.stageInsert("a", Seq(Row(500 + k, s"ra$k")))
          tx.stageInsert("b", Seq(Row(500 + k, s"rb$k")))
          tx.commit(None)
        } catch { case t: Throwable => results.add(t) }
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    assert(results.isEmpty, s"racing group commits must both succeed: ${results}")
    assert(cat.currentVersion("a") == 3 && cat.currentVersion("b") == 3)
    val (ra, rb) = (rows(cat, "a"), rows(cat, "b"))
    assert(ra(501) == "ra1" && ra(502) == "ra2", "both group inserts survive on a")
    assert(rb(501) == "rb1" && rb(502) == "rb2", "both group inserts survive on b")
  }

  /** A decided, unapplied two-container transaction (dead committer,
    * claims on v2) ahead of one versioned writer on `a`: the writer must
    * heal the transaction through the contender escape and publish v3 on
    * top of it within 10 s, instead of spending its retries on the
    * decided slot. `b` heals with it (one manifest decides both). */
  private def afterDecided(tag: String)(write: Catalog => Unit): Catalog = {
    val (cat, dir) = fixture(tag)
    writeManifest(dir, deadPrepared(cat, dir), DeadPid)
    val t0 = System.nanoTime()
    write(cat)
    val secs = (System.nanoTime() - t0) / 1e9
    assert(secs < 10, s"writer took $secs s behind a decided transaction")
    assert(cat.currentVersion("a") == 3, "decided txn = v2, the writer = v3")
    assert(cat.readVersion("a", 2).filter(col("id") === 50).count() == 1)
    assert(cat.currentVersion("b") == 2 && rows(cat, "b")(50) == "txnb")
    assert(txnManifests(cat).isEmpty)
    cat
  }

  test("append heals a decided transaction and lands on top of it") {
    import spark.implicits._
    val cat = afterDecided("append")(_.append("a", Seq((60, "app")).toDF("id", "v")))
    val r = rows(cat, "a")
    assert(r(50) == "txna" && r(60) == "app" && r.size == 12)
  }

  test("OPTIMIZE heals a decided transaction and compacts its version") {
    val cat = afterDecided("optimize")(_.optimize("a"))
    val r = rows(cat, "a")
    assert(r(50) == "txna" && r.size == 11)
  }

  test("RESTORE heals a decided transaction and publishes above it") {
    // RESTORE republishes v1's content: the transaction's row 50 stays
    // in the history it was decided into (v2, checked by afterDecided)
    val cat = afterDecided("restore")(_.restore("a", 1))
    assert(rows(cat, "a") == (0 until 10).map(i => i -> s"a$i").toMap)
  }

  test("MERGE ROWS heals a decided transaction and merges on top of it") {
    import spark.implicits._
    val cat = afterDecided("merge")(c =>
      new Tx(c).mergeRows("a", Seq((3, "merged"), (70, "new")).toDF("id", "v")))
    val r = rows(cat, "a")
    assert(r(50) == "txna" && r(3) == "merged" && r(70) == "new" && r.size == 12)
  }

  test("DELETE ROWS heals a decided transaction and deletes on top of it") {
    import spark.implicits._
    val cat = afterDecided("delete")(c =>
      assert(new Tx(c).deleteRows("a", Seq(4).toDF("id"))))
    val r = rows(cat, "a")
    assert(r(50) == "txna" && !r.contains(4) && r.size == 10)
  }
}
