package graft.server

import graft.TestSpark
import graft.aql.Engine
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}

/** End-to-end HTTP: DDL → DML → query → cursor over the wire. */
class AqlServerSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = TestSpark.spark
  private var server: AqlServer = _
  private var port: Int = _
  private val client = HttpClient.newHttpClient()

  override def beforeAll(): Unit = {
    val dir = java.nio.file.Files.createTempDirectory("graft-server-spec")
    server = new AqlServer(new Engine(spark, dir.toString))
    port = server.start()
  }
  override def afterAll(): Unit = server.stop()

  private def post(body: String): (Int, String) = {
    val req = HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port/query"))
      .POST(HttpRequest.BodyPublishers.ofString(body)).build()
    val resp = client.send(req, HttpResponse.BodyHandlers.ofString())
    (resp.statusCode(), resp.body())
  }

  test("health endpoint") {
    val resp = client.send(
      HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port/health")).GET().build(),
      HttpResponse.BodyHandlers.ofString())
    assert(resp.statusCode() == 200 && resp.body().contains("\"ok\":true"))
  }

  test("DDL, DML, and query over HTTP") {
    assert(post("CREATE CONTAINER web ['id','name'] [INT, SMALL-STRING]")._1 == 200)
    assert(post("CREATE ROW ['id','name'] [1,'ana'] ON web")._1 == 200)
    assert(post("CREATE ROW ['id','name'] [2,'bo'] ON web")._1 == 200)
    assert(post("COMMIT web")._1 == 200)
    val (code, body) = post("SEARCH ['name'] ON web WHERE id = 2")
    assert(code == 200)
    assert(body.contains(""""columns":["name"]"""))
    assert(body.contains(""""rows":[["bo"]]"""))
  }

  test("JOIN over HTTP (the join clause reaches the wire surface end-to-end)") {
    assert(post("CREATE CONTAINER webpets ['owner','pet'] [INT, SMALL-STRING]")._1 == 200)
    assert(post("CREATE ROW ['owner','pet'] [2,'fox'] ON webpets")._1 == 200)
    assert(post("COMMIT webpets")._1 == 200)
    val (code, body) = post("SEARCH ['name','pet'] ON web JOIN webpets ON id = owner")
    assert(code == 200, body)
    assert(body.contains(""""rows":[["bo","fox"]]"""), body)
  }

  test("round-6 statements reach the wire surface: MERGE, ALTER RENAME, index DDL") {
    assert(post("CREATE CONTAINER webm ['id','v','body'] [BIGINT, SMALL-STRING, TEXT]")._1 == 200)
    assert(post("CREATE ROW ['id','v','body'] [1,'one','the quick brown fox jumps high'] ON webm")._1 == 200)
    assert(post("COMMIT webm")._1 == 200)
    // upsert: hit updates, miss inserts
    assert(post("MERGE ROW ['id','v'] [1,'uno'] ON webm")._1 == 200)
    assert(post("MERGE ROW ['id','v'] [2,'dos'] ON webm")._1 == 200)
    assert(post("COMMIT webm")._1 == 200)
    val (c1, b1) = post("SEARCH ['v'] ON webm WHERE id = 1")
    assert(c1 == 200 && b1.contains(""""rows":[["uno"]]"""), b1)
    // index DDL + rename follow each other through the same surface
    assert(post("CREATE INDEX nd ON webm ['body']")._1 == 200)
    assert(post("ALTER CONTAINER webm RENAME COLUMN ['v','val']")._1 == 200)
    val (c2, b2) = post("SEARCH ['val'] ON webm WHERE id = 2")
    assert(c2 == 200 && b2.contains(""""rows":[["dos"]]"""), b2)
    assert(post("DELETE INDEX nd ON webm")._1 == 200)
    // old name is gone from the logical surface
    assert(post("SEARCH ['v'] ON webm")._1 == 400)
  }

  test("MERGE ROWS reaches the wire surface (bulk upsert over HTTP)") {
    assert(post("CREATE CONTAINER webblk ['id','n'] [BIGINT, BIGINT]")._1 == 200)
    (1 to 3).foreach(i =>
      assert(post(s"CREATE ROW ['id','n'] [$i,${i * 10}] ON webblk")._1 == 200))
    assert(post("COMMIT webblk")._1 == 200)
    val (mc, mb) = post(
      "MERGE ROWS ['id','n'] (SEARCH [id, n + 100] ON webblk WHERE id < 3) ON webblk")
    assert(mc == 200, mb)
    val (c, b) = post("SEARCH [] ON webblk")
    assert(c == 200 && b.contains(""""rows":[[1,110],[2,120],[3,30]]"""), b)
    // guard errors surface as 400s
    assert(post("MERGE ROWS ['n'] (SEARCH [n] ON webblk) ON webblk")._1 == 400)
  }

  test("MATCH reaches the wire surface (BM25 search over HTTP)") {
    assert(post("CREATE CONTAINER webft ['id','body'] [BIGINT, TEXT]")._1 == 200)
    assert(post("CREATE ROW ['id','body'] [1,'spark engine for data'] ON webft")._1 == 200)
    assert(post("CREATE ROW ['id','body'] [2,'spark spark streams'] ON webft")._1 == 200)
    assert(post("COMMIT webft")._1 == 200)
    assert(post("CREATE INDEX ft ON webft ['body'] USING text")._1 == 200)
    val (code, body) = post("MATCH ['spark'] ON webft LIMIT 5")
    assert(code == 200, body)
    // the first column carries the container's pk name
    assert(body.contains(""""columns":["id","bm25","n_terms"]"""), body)
    // best-first: higher tf in the shorter doc ranks doc 2 above doc 1
    assert(body.matches("""(?s).*"rows":\[\[2,.*\],\[1,.*\]\].*"""), body)
    // no text index → client error, not a 500
    assert(post("MATCH ['spark'] ON webm")._1 == 400)
    // SIMILAR through the same surface: needs a band index
    assert(post("CREATE INDEX nd ON webft ['body']")._1 == 200)
    val (sc, sb) = post("SIMILAR 1 ON webft USING nd")
    assert(sc == 200 && sb.contains(""""columns":["id"]"""), sb)
    // unknown pk: empty candidate set, not an error
    val (uc, ub) = post("SIMILAR 99 ON webft USING nd")
    assert(uc == 200 && ub.contains(""""rows":[]"""), ub)
  }

  test("CHANGES feed reaches the wire surface (CDC over HTTP)") {
    assert(post("CREATE CONTAINER webcdc ['id','v'] [INT, SMALL-STRING]")._1 == 200)
    assert(post("CREATE ROW ['id','v'] [1,'a'] ON webcdc")._1 == 200)
    assert(post("COMMIT webcdc")._1 == 200) // v1
    assert(post("EDIT ROW ['v'] ['b'] ON webcdc WHERE id = 1")._1 == 200)
    assert(post("CREATE ROW ['id','v'] [2,'c'] ON webcdc")._1 == 200)
    assert(post("COMMIT webcdc")._1 == 200) // v2
    val (code, body) = post("CHANGES webcdc 1")
    assert(code == 200, body)
    assert(body.contains(""""columns":["id","v","_change_type"]"""), body)
    // deterministic cursor order: id, v, _change_type ascending
    assert(body.contains(
      """"rows":[[1,"a","update_preimage"],[1,"b","update_postimage"],[2,"c","insert"]]"""),
      body)
    // invalid range is a client error, not a 500
    assert(post("CHANGES webcdc 9")._1 == 400)
  }

  test("introspection statements reach the wire surface") {
    val (c1, b1) = post("SHOW CONTAINERS")
    assert(c1 == 200 && b1.contains(""""columns":["container"]"""), b1)
    assert(b1.contains("web"), b1)
    val (c2, b2) = post("DESCRIBE web")
    assert(c2 == 200 &&
      b2.contains(""""columns":["ordinal","column","type","key"]"""), b2)
    assert(post("DESCRIBE no_such")._1 == 400)
  }

  test("SHOW OVERLAP reaches the wire surface (theta set ops over HTTP)") {
    assert(post("CREATE CONTAINER ova ['id'] [BIGINT]")._1 == 200)
    assert(post("CREATE CONTAINER ovb ['id'] [BIGINT]")._1 == 200)
    (1 to 4).foreach(i => assert(post(s"CREATE ROW ['id'] [$i] ON ova")._1 == 200))
    (3 to 6).foreach(i => assert(post(s"CREATE ROW ['id'] [$i] ON ovb")._1 == 200))
    val (oc, ob) = post("SHOW OVERLAP ova ovb ON id")
    assert(oc == 200 && ob.contains(""""approx_intersect""""), ob)
    assert(ob.contains("\"rows\":[[\"ova\",\"ovb\",\"id\",2,6,2,2,"), ob)
    assert(post("SHOW OVERLAP ova no_such ON id")._1 == 400)
    assert(post("DELETE CONTAINER ova")._1 == 200)
    assert(post("DELETE CONTAINER ovb")._1 == 200)
  }

  test("round-11 statements reach the wire surface: set ops and grouped SHOW OVERLAP") {
    assert(post("CREATE CONTAINER wsa ['id','g'] [BIGINT, TEXT]")._1 == 200)
    assert(post("CREATE CONTAINER wsb ['id','g'] [BIGINT, TEXT]")._1 == 200)
    Seq(1 -> "x", 2 -> "x", 3 -> "y").foreach { case (i, g) =>
      assert(post(s"CREATE ROW ['id','g'] [$i, '$g'] ON wsa")._1 == 200) }
    Seq(2 -> "x", 4 -> "y").foreach { case (i, g) =>
      assert(post(s"CREATE ROW ['id','g'] [$i, '$g'] ON wsb")._1 == 200) }
    val (sc, sb) = post("(SEARCH [] ON wsa) EXCEPT (SEARCH [] ON wsb)")
    assert(sc == 200 && sb.contains("\"rows\":[[1,\"x\"],[3,\"y\"]]"), sb)
    val (ic, ib) = post("(SEARCH [] ON wsa) INTERSECT ALL (SEARCH [] ON wsb)")
    assert(ic == 200 && ib.contains("\"rows\":[[2,\"x\"]]"), ib)
    // schema mismatch is a clean wire-level 400
    assert(post("(SEARCH [id] ON wsa) EXCEPT (SEARCH [g] ON wsb)")._1 == 400)
    val (gc, gb) = post("SHOW OVERLAP wsa wsb ON id BY g")
    assert(gc == 200 && gb.contains(""""approx_intersect""""), gb)
    // x: ∩{2} ∪{1,2}; y: ∩{} ∪{3,4}
    assert(gb.contains("\"rows\":[[\"wsa\",\"wsb\",\"id\",\"x\",1,2,1,0,0.5],"), gb)
    assert(post("DELETE CONTAINER wsa")._1 == 200)
    assert(post("DELETE CONTAINER wsb")._1 == 200)
  }

  test("round-12 statements reach the wire surface: set-op chains and the overlap matrix") {
    Seq("wma", "wmb", "wmc").foreach(c =>
      assert(post(s"CREATE CONTAINER $c ['id'] [BIGINT]")._1 == 200))
    Seq(1, 2, 3).foreach(i => assert(post(s"CREATE ROW ['id'] [$i] ON wma")._1 == 200))
    Seq(2, 3, 4).foreach(i => assert(post(s"CREATE ROW ['id'] [$i] ON wmb")._1 == 200))
    Seq(3).foreach(i => assert(post(s"CREATE ROW ['id'] [$i] ON wmc")._1 == 200))
    // recursive set-op chain: ({1,2,3} ∪ {2,3,4}) − {3} = {1,2,4}
    val (cc, cb) = post(
      "((SEARCH [] ON wma) UNION (SEARCH [] ON wmb)) EXCEPT (SEARCH [] ON wmc)")
    assert(cc == 200 && cb.contains("\"rows\":[[1],[2],[4]]"), cb)
    // unparenthesized chain is a clean wire-level 400, never a left-fold
    assert(post(
      "(SEARCH [] ON wma) UNION (SEARCH [] ON wmb) EXCEPT (SEARCH [] ON wmc)")._1 == 400)
    // N-way overlap matrix: 3 upper-triangle pair rows
    val (mc, mb) = post("SHOW OVERLAP [wma, wmb, wmc] ON id")
    assert(mc == 200 && mb.contains(""""approx_intersect""""), mb)
    assert(mb.contains("\"rows\":[[\"wma\",\"wmb\",\"id\",2,4,1,1,"), mb)
    assert(mb.contains("[\"wma\",\"wmc\",\"id\",1,3,2,0,"), mb)
    assert(mb.contains("[\"wmb\",\"wmc\",\"id\",1,3,2,0,"), mb)
    // SIMILAR's round-12 knobs reject cleanly over the wire on a
    // band-less container (no index at all here → the clear 400)
    assert(post("SIMILAR [0.5] ON wma USING nope")._1 == 400)
    assert(post("SIMILAR 1 ON wma PROBE 2")._1 == 400)
    Seq("wma", "wmb", "wmc").foreach(c =>
      assert(post(s"DELETE CONTAINER $c")._1 == 200))
  }

  test("round-13 statements reach the wire surface: FUSE, SHOW DEDUP, matrix labels") {
    assert(post("CREATE CONTAINER wfz ['doc_id','body'] [BIGINT, TEXT]")._1 == 200)
    assert(post("CREATE ROW ['doc_id','body'] [1,'spark engine parses queries fast today'] ON wfz")._1 == 200)
    assert(post("CREATE ROW ['doc_id','body'] [2,'spark engine parses queries fast today'] ON wfz")._1 == 200)
    assert(post("CREATE ROW ['doc_id','body'] [3,'unrelated text about parquet files and buckets'] ON wfz")._1 == 200)
    assert(post("COMMIT wfz")._1 == 200)
    assert(post("CREATE INDEX ft ON wfz ['body'] USING text")._1 == 200)
    assert(post("CREATE INDEX nd ON wfz ['body'] USING lsh")._1 == 200)
    // hybrid retrieval: BM25 + exact-Jaccard-scored near-dups, RRF-fused
    val (fc, fb) = post("FUSE [(MATCH ['spark'] ON wfz), " +
      "(SIMILAR 1 ON wfz USING nd SCORED)]")
    assert(fc == 200 && fb.contains(""""rrf"""") && fb.contains(""""rank_2""""), fb)
    // an unscored side is a clean wire-level 400
    assert(post("FUSE [(MATCH ['spark'] ON wfz), (SIMILAR 1 ON wfz USING nd)]")._1 == 400)
    // the dedup funnel report (docs 1/2 are one exact-dup family)
    val (dc2, db) = post("SHOW DEDUP wfz USING nd")
    assert(dc2 == 200 && db.contains(""""near_dup_removals""""), db)
    assert(db.contains("\"rows\":[[3,2,2,2,1,1]]"), db)
    assert(post("SHOW DEDUP wfz THRESHOLD 2")._1 == 400)
    // matrix AS labels rename the pair rows over the wire
    val (mc, mb) = post("SHOW OVERLAP [wfz AS corpus, " +
      "(SEARCH [doc_id] ON wfz WHERE doc_id < 2) AS probe] ON doc_id")
    assert(mc == 200 && mb.contains("\"corpus\",\"probe\""), mb)
    // the decision DETAIL over the wire: one cluster {1,2}, keeper 1
    val (clc, clb) = post("SHOW DEDUP wfz USING nd CLUSTERS")
    assert(clc == 200 && clb.contains("\"rows\":[[1,2,1,"), clb)
    // the APPLIED dedup over the wire: docs 1/2 collapse to keeper 1
    val (adc, adb) = post("DEDUP wfz USING nd")
    assert(adc == 200 && adb.contains("removed 1"), adb)
    val (qc2, qb2) = post("SEARCH [doc_id] ON wfz")
    assert(qc2 == 200 && qb2.contains("\"rows\":[[1],[3]]"), qb2)
    // ...and the set-oriented DELETE ROWS dual: drop a doc by a
    // computed list, honest no-op on the re-run
    val (drc, drb) = post("DELETE ROWS (SEARCH [doc_id] ON wfz WHERE doc_id = 3) ON wfz")
    assert(drc == 200 && drb.contains("deleted matching rows"), drb)
    assert(post("DELETE ROWS (SEARCH [doc_id] ON wfz WHERE doc_id = 3) ON wfz")
      ._2.contains("nothing deleted"))
    assert(post("DELETE CONTAINER wfz")._1 == 200)
  }

  test("round-14 statements reach the wire surface: MATCH ALL, filtered/text SIMILAR, DECONTAMINATE, INT8") {
    assert(post("CREATE CONTAINER w14 ['doc_id','body'] [BIGINT, TEXT]")._1 == 200)
    val base = "the quick brown fox jumps over the lazy dog near the river bank"
    assert(post(s"CREATE ROW ['doc_id','body'] [1,'$base'] ON w14")._1 == 200)
    assert(post(s"CREATE ROW ['doc_id','body'] [2,'$base today'] ON w14")._1 == 200)
    assert(post("CREATE ROW ['doc_id','body'] [3,'spark engine parses big queries fast'] ON w14")._1 == 200)
    assert(post("COMMIT w14")._1 == 200)
    assert(post("CREATE INDEX ft ON w14 ['body'] USING text")._1 == 200)
    assert(post("CREATE INDEX nd ON w14 ['body'] USING lsh")._1 == 200)
    // conjunctive MATCH: only doc 3 holds both terms
    val (mc, mb) = post("MATCH ALL ['spark','queries'] ON w14")
    assert(mc == 200 && mb.contains("\"rows\":[[3,"), mb)
    // query-by-text SIMILAR with a WHERE: the literal probes as a
    // document, the predicate filters before the LIMIT
    val (tc, tb) = post(
      s"SIMILAR '$base' ON w14 USING nd WHERE doc_id > 1 LIMIT 5 SCORED")
    assert(tc == 200 && !tb.contains("[[1,") && tb.contains(""""score""""), tb)
    // the decontamination pair: dry run, then the applied removal
    assert(post("CREATE CONTAINER w14e ['eid','body'] [BIGINT, TEXT]")._1 == 200)
    assert(post(s"CREATE ROW ['eid','body'] [1,'$base'] ON w14e")._1 == 200)
    assert(post("COMMIT w14e")._1 == 200)
    val (sc2, sb2) = post("SHOW DECONTAMINATE w14 AGAINST w14e ON body")
    assert(sc2 == 200 && sb2.contains(""""contaminated_docs""""), sb2)
    val (dc3, db3) = post("DECONTAMINATE w14 AGAINST w14e ON body")
    assert(dc3 == 200 && db3.contains("removed 2"), db3)
    assert(post("DECONTAMINATE w14 AGAINST w14e ON body")
      ._2.contains("nothing removed"))
    assert(post("DECONTAMINATE w14 AGAINST w14 ON body")._1 == 400)
    // INT8 is ivf-only: a clean wire-level 400 on a text column
    assert(post("CREATE INDEX q8 ON w14 ['body'] USING lsh INT8")._1 == 400)
    Seq("w14", "w14e").foreach(c => assert(post(s"DELETE CONTAINER $c")._1 == 200))
  }

  test("round-15 statements reach the wire surface: DEDUP AGAINST, " +
      "GRAMS/SPANS/ANALYZER knobs, text-index options") {
    assert(post("CREATE CONTAINER w15 ['doc_id','body'] [BIGINT, TEXT]")._1 == 200)
    val base = "the quick brown fox jumps over the lazy dog near the river bank"
    assert(post(s"CREATE ROW ['doc_id','body'] [1,'$base'] ON w15")._1 == 200)
    assert(post(s"CREATE ROW ['doc_id','body'] [2,'$base today'] ON w15")._1 == 200)
    assert(post("CREATE ROW ['doc_id','body'] [3,'spark engine parses big queries fast ok yes'] ON w15")._1 == 200)
    assert(post("COMMIT w15")._1 == 200)
    // c2 + its band index, then the cross report / detail / removal
    assert(post("CREATE CONTAINER w15r ['rid','body'] [BIGINT, TEXT]")._1 == 200)
    assert(post(s"CREATE ROW ['rid','body'] [9,'$base'] ON w15r")._1 == 200)
    assert(post("COMMIT w15r")._1 == 200)
    assert(post("CREATE INDEX nd ON w15r ['body'] USING lsh")._1 == 200)
    val (rc, rb) = post("SHOW DEDUP w15 AGAINST w15r USING nd")
    assert(rc == 200 && rb.contains(""""matched_docs""""), rb)
    val (dc, db) = post("SHOW DEDUP w15 AGAINST w15r USING nd DOCS")
    assert(dc == 200 && db.contains(""""best_score""""), db)
    val (xc, xb) = post("DEDUP w15 AGAINST w15r USING nd")
    assert(xc == 200 && xb.contains("removed 2"), xb)
    assert(post("DEDUP w15 AGAINST w15")._1 == 400) // self-AGAINST refuses
    // round 17: the FROM VERSION window reaches the wire surface on all
    // three statements (the removal above published v2, so the 1→2
    // window is a real history)
    val (wc, wb) = post(
      "SHOW DEDUP w15 AGAINST w15r FROM VERSION 1 TO 2 USING nd")
    assert(wc == 200 && wb.contains(""""matched_docs""""), wb)
    assert(post(
      "DEDUP w15 AGAINST w15r FROM VERSION 2 TO 1 USING nd")._1 == 400)
    val (swc, swb) = post(
      "SIMILAR w15 AGAINST w15r FROM VERSION 1 TO 2 USING nd LIMIT 2 SCORED")
    assert(swc == 200 && swb.contains(""""match_id""""), swb)
    val (dwc, dwb) = post(
      "SHOW DECONTAMINATE w15 AGAINST w15r ON body FROM VERSION 1 TO 2")
    assert(dwc == 200 && dwb.contains(""""contaminated_docs""""), dwb)
    // decontamination knobs: SPANS report and the ANALYZER contrast
    val (sc1, sb1) = post(
      "SHOW DECONTAMINATE w15 AGAINST w15r ON body USING SPANS 8")
    assert(sc1 == 200 && sb1.contains(""""contaminated_docs""""), sb1)
    assert(post(
      "SHOW DECONTAMINATE w15 AGAINST w15r ON body ANALYZER standard")._1 == 200)
    // 'english' became the valid third analyzer tier in round 16 — the
    // unknown-name refusal moved to a name that stays invalid
    assert(post(
      "SHOW DECONTAMINATE w15 AGAINST w15r ON body ANALYZER english")._1 == 200)
    assert(post(
      "SHOW DECONTAMINATE w15 AGAINST w15r ON body ANALYZER german")._1 == 400)
    assert(post(
      "DECONTAMINATE w15 AGAINST w15r ON body USING SPANS 8 THRESHOLD 0.5")
      ._1 == 400) // SPANS excludes THRESHOLD
    // text-index options round-trip the DDL surface
    assert(post("CREATE INDEX fta ON w15 ['body'] USING text ANALYZER standard " +
      "WITHOUT POSITIONS")._1 == 200)
    val (ic, ib) = post("SHOW INDEXES w15")
    assert(ic == 200 && ib.contains("text standard nopos"), ib)
    assert(post("MATCH PHRASE ['quick brown'] ON w15 USING fta")._1 == 400)
    Seq("w15", "w15r").foreach(c => assert(post(s"DELETE CONTAINER $c")._1 == 200))
  }

  test("round-16 statements reach the wire surface: SIMILAR AGAINST, " +
      "AT VERSION reference pins, english analyzer index") {
    assert(post("CREATE CONTAINER w16 ['doc_id','body'] [BIGINT, TEXT]")._1 == 200)
    val base = "the quick brown fox jumps over the lazy dog near the river bank"
    assert(post(s"CREATE ROW ['doc_id','body'] [1,'$base'] ON w16")._1 == 200)
    assert(post("CREATE ROW ['doc_id','body'] [2,'spark engine parses big queries fast ok yes'] ON w16")._1 == 200)
    assert(post("COMMIT w16")._1 == 200)
    assert(post("CREATE CONTAINER w16r ['rid','body'] [BIGINT, TEXT]")._1 == 200)
    assert(post(s"CREATE ROW ['rid','body'] [9,'$base'] ON w16r")._1 == 200)
    assert(post("COMMIT w16r")._1 == 200)
    assert(post("CREATE INDEX nd ON w16r ['body'] USING lsh")._1 == 200)
    // the batch k-NN join, unscored and SCORED
    val (kc, kb) = post("SIMILAR w16 AGAINST w16r USING nd LIMIT 3")
    assert(kc == 200 && kb.contains(""""match_id""""), kb)
    val (sc, sb) = post("SIMILAR w16 AGAINST w16r USING nd LIMIT 3 SCORED")
    assert(sc == 200 && sb.contains(""""score"""") &&
      sb.contains(""""rank""""), sb)
    // the filtered form: WHERE binds to the reference container
    assert(post("SIMILAR w16 AGAINST w16r USING nd WHERE rid > 100 " +
      "LIMIT 3 SCORED")._1 == 200)
    assert(post("SIMILAR w16 AGAINST w16 LIMIT 3")._1 == 400) // self
    assert(post("SIMILAR w16 AGAINST w16r USING nd PROBE 2 LIMIT 3")
      ._1 == 400) // PROBE on a band index
    // AT VERSION pins on the cross statements (bad version → clean 400)
    assert(post(
      "SHOW DEDUP w16 AGAINST w16r AT VERSION 1 USING nd")._1 == 200)
    assert(post(
      "SHOW DEDUP w16 AGAINST w16r AT VERSION 99 USING nd")._1 == 400)
    assert(post(
      "SIMILAR w16 AGAINST w16r AT VERSION 1 USING nd LIMIT 3")._1 == 200)
    assert(post(
      "SHOW DECONTAMINATE w16 AGAINST w16r ON body AT VERSION 1")._1 == 200)
    assert(post(
      "DECONTAMINATE w16 AGAINST w16r ON body AT VERSION 99")._1 == 400)
    // english analyzer through the DDL + MATCH surface: morphology
    // unifies ('jumping' probes the stemmed 'jump' postings)
    assert(post("CREATE INDEX fte ON w16 ['body'] USING text ANALYZER english")
      ._1 == 200)
    val (mc, mb) = post("MATCH ['jumping'] ON w16 USING fte LIMIT 5")
    assert(mc == 200 && mb.contains("[[1,"), mb)
    val (ic, ib) = post("SHOW INDEXES w16")
    assert(ic == 200 && ib.contains("text english"), ib)
    Seq("w16", "w16r").foreach(c => assert(post(s"DELETE CONTAINER $c")._1 == 200))
  }

  test("round-7 statements reach the wire surface: ANALYZE, SHOW STATS, RESTORE") {
    assert(post("CREATE CONTAINER webs ['id','tag'] [BIGINT, SMALL-STRING]")._1 == 200)
    assert(post("CREATE ROW ['id','tag'] [1,'keep'] ON webs")._1 == 200)
    assert(post("COMMIT webs")._1 == 200) // v1
    assert(post("SHOW STATS webs")._1 == 400) // never analyzed
    val (ac, ab) = post("ANALYZE CONTAINER webs")
    assert(ac == 200 && ab.contains(""""col_name""""), ab)
    val (sc, sb) = post("SHOW STATS webs")
    assert(sc == 200 && sb.contains("keep"), sb)
    assert(post("EDIT ROW ['tag'] ['broken'] ON webs WHERE id = 1")._1 == 200)
    assert(post("COMMIT webs")._1 == 200) // v2
    assert(post("RESTORE CONTAINER webs TO VERSION 1")._1 == 200) // v3
    val (qc, qb) = post("SEARCH [tag] ON webs")
    assert(qc == 200 && qb.contains(""""rows":[["keep"]]"""), qb)
    assert(post("RESTORE CONTAINER webs TO VERSION 99")._1 == 400)
  }

  test("incremental views reach the wire surface (CREATE/REFRESH/DELETE VIEW)") {
    assert(post("CREATE CONTAINER webv ['id','grp','amt'] [BIGINT, SMALL-STRING, BIGINT]")._1 == 200)
    assert(post("CREATE ROW ['id','grp','amt'] [1,'a',10] ON webv")._1 == 200)
    assert(post("COMMIT webv")._1 == 200)
    assert(post("CREATE VIEW webmv (SEARCH [grp, sum(amt)] ON webv)")._1 == 200)
    assert(post("CREATE ROW ['id','grp','amt'] [2,'a',5] ON webv")._1 == 200)
    assert(post("COMMIT webv")._1 == 200)
    assert(post("REFRESH VIEW webmv")._1 == 200)
    val (code, body) = post("SEARCH [] ON webmv")
    assert(code == 200 &&
      body.contains(""""rows":[["a",2,15]]"""), body)
    assert(post("DELETE CONTAINER webmv")._1 == 400) // view-managed
    val (sc, sb) = post("SHOW VIEWS")
    assert(sc == 200 && sb.contains("webmv") && sb.contains("SEARCH [grp, sum(amt)] ON webv"), sb)
    assert(post("DELETE VIEW webmv")._1 == 200)
  }

  test("prepared arguments as extra body lines") {
    val (code, body) = post("SEARCH ['id'] ON web WHERE name = ?\n'ana'")
    assert(code == 200 && body.contains(""""rows":[[1]]"""))
  }

  test("cursor paging over the wire") {
    val (_, first) = post("SEARCH [] ON web")
    val cursor = """"cursor":"([^"]+)"""".r.findFirstMatchIn(first).get.group(1)
    val (c2, page) = post(s"QYCNNXT $cursor")
    assert(c2 == 200 && page.contains("\"page\":1"))
    assert(post(s"QYCNEXT $cursor")._1 == 200)
  }

  test("initial SEARCH rows are sorted page 0 — QYCNNXT continues exactly after them") {
    // regression: with the lazy cursor sort the raw ResultSet plan is
    // unsorted, so serving it as the initial rows while QYCNNXT serves
    // the SORTED page 1 duplicated some rows and dropped others
    post("CREATE CONTAINER pagec ['n'] [INT]")
    (1 to 150).foreach(i => post(s"CREATE ROW ['n'] [$i] ON pagec"))
    post("COMMIT pagec")
    val (_, first) = post("SEARCH [] ON pagec")
    val cursor = """"cursor":"([^"]+)"""".r.findFirstMatchIn(first).get.group(1)
    def nums(json: String): Seq[Int] =
      """\[(\d+)\]""".r.findAllMatchIn(json).map(_.group(1).toInt).toSeq
    val page0 = nums(first)
    assert(page0 == (1 to 100), s"initial rows must be sorted page 0, got $page0")
    val (_, p1) = post(s"QYCNNXT $cursor")
    assert(nums(p1) == (101 to 150),
      "page 1 must continue exactly after the initial rows — no dup, no gap")
    post(s"QYCNEXT $cursor")
  }

  test("a page of held rows replies without a delayed-ACK stall") {
    // a held cursor's QYCNNXT starts no Spark job, so its round trip is
    // the HTTP exchange alone: without TCP_NODELAY the reply body waits
    // out the client's delayed ACK (~40 ms per call)
    post("CREATE CONTAINER held ['n'] [INT]")
    (1 to 3).foreach(i => post(s"CREATE ROW ['n'] [$i] ON held"))
    post("COMMIT held")
    val (_, first) = post("SEARCH [] ON held")
    val cursor = """"cursor":"([^"]+)"""".r.findFirstMatchIn(first).get.group(1)
    post(s"QYCNNXT $cursor") // warm the connection
    val ms = (1 to 20).map { _ =>
      val t0 = System.nanoTime()
      val (code, body) = post(s"QYCNNXT $cursor")
      assert(code == 200, body)
      (System.nanoTime() - t0) / 1e6
    }.sorted
    val median = (ms(9) + ms(10)) / 2
    assert(median < 20.0, f"median QYCNNXT round trip $median%.1f ms: $ms")
    post(s"QYCNEXT $cursor")
  }

  test("auth_token gates /query behind a /session handshake (database.rs:1110-1143)") {
    val dir = java.nio.file.Files.createTempDirectory("graft-auth-spec")
    java.nio.file.Files.writeString(dir.resolve("settings.yaml"),
      "connections_port: 0\nauth_token: s3cret\n")
    val authServer = new AqlServer(new Engine(spark, dir.toString))
    val p = authServer.start()
    try {
      def req(path: String, body: String, headers: Seq[(String, String)] = Nil) = {
        val b = HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$p$path"))
          .POST(HttpRequest.BodyPublishers.ofString(body))
        headers.foreach { case (k, v) => b.header(k, v) }
        val resp = client.send(b.build(), HttpResponse.BodyHandlers.ofString())
        (resp.statusCode(), resp.body())
      }
      // no session -> 401; wrong token -> 403
      assert(req("/query", "SEARCH [] ON x")._1 == 401)
      assert(req("/session", "wrong")._1 == 403)
      // handshake -> session id -> query accepted (engine error, not auth error)
      val (hc, hb) = req("/session", "s3cret")
      assert(hc == 200)
      val sid = """"session":"([^"]+)"""".r.findFirstMatchIn(hb).get.group(1)
      val (qc, qb) = req("/query", "CREATE CONTAINER a ['x'] [INT]", Seq("X-Session-Id" -> sid))
      assert(qc == 200, qb)
      // bogus session id is still rejected
      assert(req("/query", "SEARCH [] ON a", Seq("X-Session-Id" -> "ffff"))._1 == 401)
      // an ACTIVE session survives 300 newer handshakes (LRU refresh on
      // use — get(), not containsKey(), registers the access)
      (1 to 300).foreach { _ =>
        req("/session", "s3cret")
        assert(req("/query", "SEARCH [] ON a", Seq("X-Session-Id" -> sid))._1 != 401)
      }
    } finally authServer.stop()
  }

  test("errors return 400 with a message, not a crash") {
    val (code, body) = post("THIS IS NOT AQL")
    assert(code == 400 && body.contains("error"))
    val (code2, _) = post("SEARCH [] ON nonexistent_container")
    assert(code2 == 400)
    // server still alive
    assert(post("SEARCH [] ON web")._1 == 200)
  }
}
