package perfbench

import scala.collection.mutable

/** One client operation: its statements, run through an [[Exec]], and the
  * check of their replies. `body` returns None when every check passed,
  * or the reason it failed. `userBytes` counts the bytes of the values a
  * write statement carries. */
final case class Op(kind: String, write: Boolean, userBytes: Long, body: Exec => Option[String])

/** A workload: its client count, its mix of op kinds and, per client, a
  * seeded op stream. */
abstract class Workload(seed: Long) {
  def clients: Int
  /** Op kinds and their weights in the mix. */
  def weights: Seq[(String, Int)]
  /** An op of this kind with parameters drawn from `rng`. */
  def op(kind: String, rng: scala.util.Random): Op

  def stream(client: Int): Iterator[Op] = {
    val rng = new scala.util.Random(seed * 1000003L + client)
    Workload.schedule(weights, client, clients).map(op(_, rng))
  }

  /** One op of each kind, for the warm-up. */
  def oneOfEach(): Seq[Op] = {
    val rng = new scala.util.Random(seed * 1000003L - 1)
    weights.map(w => op(w._1, rng))
  }
}

object Workload {
  def apply(name: String, data: Data, seed: Long, maxClients: Int): Workload = name match {
    case "point_serve" => new PointServe(data, seed, math.min(3, maxClients))
    case "ingest_indexed" => new IngestIndexed(data, seed)
    case "curate_retrieval" => new CurateRetrieval(data, seed)
    case other => sys.error(s"unknown workload '$other' " +
      "(point_serve | ingest_indexed | curate_retrieval)")
  }

  val names: Seq[String] = Seq("point_serve", "ingest_indexed", "curate_retrieval")

  /** The op kinds in a fixed order: one of each kind, then the rest of
    * the weights in smooth weighted round-robin, so every window of the
    * stream holds the kinds close to their weights and the first ops
    * hold every kind. The order does not depend on the seed, which picks
    * only the parameters, so short runs of different seeds see the same
    * mix. Client `c` of `n` enters the cycle `c/n` of the way round. */
  def schedule(weights: Seq[(String, Int)], client: Int, clients: Int): Iterator[String] = {
    val rest = weights.map { case (k, w) => (k, w - 1) }
    val restTotal = rest.map(_._2).sum
    val current = mutable.ArrayBuffer.fill(rest.length)(0)
    val cycle = weights.map(_._1).toVector ++ Vector.fill(restTotal) {
      rest.indices.foreach(i => current(i) += rest(i)._2)
      val best = rest.indices.maxBy(current)
      current(best) -= restTotal
      rest(best)._1
    }
    val total = cycle.length
    val start = client % clients * total / clients
    Iterator.from(0).map(i => cycle((start + i) % total))
  }

  def check(ok: Boolean, why: => String): Option[String] = if (ok) None else Some(why)

  def firstFailure(checks: Option[String]*): Option[String] = checks.flatten.headOption

  /** Scores never increase down the page. */
  def descending(r: Reply, score: String): Boolean = {
    val s = r.rows.map(_(r.col(score)).asInstanceOf[Number].doubleValue)
    s.zip(s.drop(1)).forall { case (a, b) => a >= b }
  }

  def quote(s: String): String = "'" + s + "'"
}

/** Many small reads: pk points, value-index lookups and paged ranges over
  * 150k orders. */
final class PointServe(data: Data, seed: Long, val clients: Int) extends Workload(seed) {
  import Workload._
  private val rangeRows = 300
  val weights = Seq("pk" -> 11, "value" -> 5, "range" -> 4)

  def op(kind: String, rng: scala.util.Random): Op = kind match {
    case "pk" => pk(rng.nextInt(data.orders.length))
    case "value" => value(1L + rng.nextInt(data.scale.customers))
    case "range" =>
      val width = Data.cents(rangeRows.toDouble / data.orders.length * 499100)
      val lo = Data.cents(900 + rng.nextDouble() * (499100 - width))
      range(lo, Data.cents(lo + width))
  }

  private def row(o: Order): Vector[Any] =
    Vector(o.key, o.cust, o.status, o.price, o.priority)

  private def pk(k: Int): Op = Op("pk", write = false, 0, ex => {
    val r = ex.call(s"SEARCH [] ON orders WHERE o_orderkey = $k", "read")
    check(r.rows == Vector(row(data.orders(k))), s"pk $k returned ${r.rows.take(2)}")
  })

  private def value(c: Long): Op = Op("value", write = false, 0, ex => {
    val r = ex.call(s"SEARCH [] ON orders WHERE o_custkey = $c", "read")
    val want = math.min(data.ordersPerCustomer.getOrElse(c, 0), 100)
    check(r.rows.length == want && r.rows.forall(_(1) == c),
      s"o_custkey $c: ${r.rows.length} rows, want $want")
  })

  private def range(lo: Double, hi: Double): Op = Op("range", write = false, 0, ex => {
    val first = ex.call(s"SEARCH [] ON orders WHERE o_totalprice >= $lo AND o_totalprice < $hi", "read")
    val id = first.cursor.getOrElse("")
    val pages = Seq(first, ex.call(s"QYCNNXT $id", "page"), ex.call(s"QYCNNXT $id", "page"))
    val closed = ex.call(s"QYCNEXT $id", "close")
    val keys = pages.flatMap(_.rows.map(_(0)))
    val want = math.min(data.priceCount(lo, hi), 3 * 100)
    firstFailure(
      check(first.cursor.nonEmpty, "range: no cursor"),
      check(pages.forall(_.rows.length <= 100), "range: page over 100 rows"),
      check(keys.distinct.length == keys.length, "range: pages overlap"),
      check(keys.length == want, s"range [$lo,$hi): ${keys.length} rows over 3 pages, want $want"),
      check(pages.forall(_.rows.forall { r =>
        val p = r(3).asInstanceOf[Double]; p >= lo && p < hi }), "range: row outside range"),
      check(closed.message.nonEmpty, "range: cursor close had no message"))
  })
}

/** Write transactions beside read-your-write reads on the indexed corpus
  * (text + lsh on `docs`, ivf on `vecs`). One client, so each
  * transaction's DML stays together with its COMMIT. */
final class IngestIndexed(data: Data, seed: Long) extends Workload(seed) {
  import Workload._
  val clients = 1
  val weights = Seq("insert" -> 7, "edit" -> 4, "delete" -> 2, "vector" -> 2, "ryw" -> 5)

  def op(kind: String, rng: scala.util.Random): Op = model.op(kind, rng)

  /** What the committed corpus holds, as the ops have changed it. */
  private object model {
    val text = mutable.Map.empty[Long, String]
    data.docs.indices.foreach(i => text(i.toLong) = data.docs(i))
    val originals = mutable.ArrayBuffer.tabulate(data.docs.length)(_.toLong)
    val written = mutable.ArrayBuffer.empty[Long]
    val markerOf = mutable.Map.empty[Long, String]
    var nextDoc = data.docs.length.toLong
    var nextVec = data.vecs.length.toLong
    var markers = 0L

    /** A token no generated text holds: letters only, so every analyzer
      * keeps it whole. */
    def marker(): String = {
      markers += 1
      var n = markers
      val sb = new StringBuilder("zq")
      while (n > 0) { sb += ('a' + (n % 26)).toChar; n /= 26 }
      sb.toString
    }

    /** An original document's generated text, perturbed, plus a fresh
      * marker. The base is never a committed text, so it carries no
      * earlier marker. */
    def newText(rng: scala.util.Random): (String, String) = {
      val base = data.docs(originals(rng.nextInt(originals.length)).toInt)
      val m = marker()
      (Data.perturb(base, 0.1, rng) + " " + m, m)
    }

    private def committed(r: Reply) = check(r.message.nonEmpty, "COMMIT returned no message")

    def op(kind: String, rng: scala.util.Random): Op = kind match {
      case "insert" =>
        val rows = Seq.fill(5) { nextDoc += 1; (nextDoc, newText(rng)) }
        val bytes = rows.map { case (_, (t, _)) => 8 + t.length + 2 + 8 }.sum
        Op(kind, write = true, bytes, ex => {
          rows.foreach { case (id, (t, _)) =>
            ex.call(s"CREATE ROW ['doc_id','text','lang','n_chars'] " +
              s"[$id, ${quote(t)}, ${quote(Data.lang(id))}, ${t.length}] ON docs", "stage")
          }
          val res = committed(ex.call("COMMIT docs", "commit"))
          rows.foreach { case (id, (t, m)) => text(id) = t; markerOf(id) = m; written += id }
          res
        })
      case "edit" =>
        val id = originals(rng.nextInt(originals.length))
        val (t, m) = newText(rng)
        Op(kind, write = true, t.length + 8, ex => {
          ex.call(s"EDIT ROW ['text','n_chars'] [${quote(t)}, ${t.length}] ON docs " +
            s"WHERE doc_id = $id", "stage")
          val res = committed(ex.call("COMMIT docs", "commit"))
          if (!markerOf.contains(id)) written += id
          text(id) = t; markerOf(id) = m
          res
        })
      case "delete" =>
        val id = originals.remove(rng.nextInt(originals.length))
        Op(kind, write = true, 0, ex => {
          ex.call(s"DELETE ROW ON docs WHERE doc_id = $id", "stage")
          val res = committed(ex.call("COMMIT docs", "commit"))
          text.remove(id); markerOf.remove(id); written -= id
          res
        })
      case "vector" =>
        nextVec += 1
        val id = nextVec
        val src = data.vecs(rng.nextInt(data.vecs.length))
        val v = src.map(x => x + 0.05f * rng.nextGaussian().toFloat)
        val b64 = java.util.Base64.getEncoder.encodeToString(
          graft.functions.Float32Unpack.pack(v.toSeq))
        Op(kind, write = true, 8 + 4 * v.length, ex => {
          ex.call(s"CREATE ROW ['vec_id','emb'] [$id, §$b64] ON vecs", "stage")
          committed(ex.call("COMMIT vecs", "commit"))
        })
      case "ryw" =>
        val picks = Seq.fill(3)(rng.nextInt(Int.MaxValue))
        Op(kind, write = false, 0, ex => {
          // before the first write lands, read back original rows
          def pick(p: Int) =
            if (written.isEmpty) originals(p % originals.length) else written(p % written.length)
          def byPk(id: Long) = {
            val r = ex.call(s"SEARCH [] ON docs WHERE doc_id = $id", "read")
            check(r.rows.map(_(1)) == Vector(text(id)), s"read-your-write doc $id: ${r.rows.length} rows")
          }
          def byMarker(id: Long) = {
            val m = markerOf(id)
            val r = ex.call(s"MATCH [${quote(m)}] ON docs USING ft LIMIT 20", "read", "match")
            check(r.rows.map(_(0)) == Vector(id), s"MATCH $m: ${r.rows.map(_(0))}, want $id")
          }
          val ids = picks.map(pick)
          firstFailure(byPk(ids(0)), byPk(ids(1)),
            if (written.isEmpty) byPk(ids(2)) else byMarker(ids(2)))
        })
    }
  }
}

/** Heavy statements over whole corpora: BM25, phrase, ANN, batch k-NN
  * joins and the near-dup and decontamination funnels. */
final class CurateRetrieval(data: Data, seed: Long) extends Workload(seed) {
  import Workload._
  val clients = 1
  private val tokens = data.docs.map(_.split(" "))
  val weights = Seq("match" -> 10, "phrase" -> 6, "similar" -> 10, "against_lsh" -> 4,
    "against_ivf" -> 4, "dedup" -> 3, "decontaminate" -> 3)

  def op(kind: String, rng: scala.util.Random): Op = kind match {
    case "match" =>
      val terms = rng.shuffle(Data.Vocabulary.toSeq).take(3)
      read("match", s"MATCH [${terms.map(quote).mkString(",")}] ON docs USING ft LIMIT 20") { r =>
        firstFailure(
          check(r.rows.length <= 20, "MATCH over LIMIT"),
          check(descending(r, "bm25"), "MATCH not by score"),
          check(r.rows.forall(row => tokens(row(0).asInstanceOf[Long].toInt).exists(terms.contains)),
            "MATCH hit without a query term"))
      }
    case "phrase" =>
      val doc = tokens(rng.nextInt(tokens.length))
      val at = rng.nextInt(doc.length - 1)
      val (a, b) = (doc(at), doc(at + 1))
      read("phrase", s"MATCH PHRASE ['$a $b'] ON docs USING ft LIMIT 20") { r =>
        firstFailure(
          check(r.rows.nonEmpty && r.rows.length <= 20, s"PHRASE '$a $b': ${r.rows.length} rows"),
          check(descending(r, "bm25"), "PHRASE not by score"),
          check(r.rows.forall { row =>
            val t = tokens(row(0).asInstanceOf[Long].toInt)
            t.indices.dropRight(1).exists(i => t(i) == a && t(i + 1) == b)
          }, "PHRASE hit without the phrase"))
      }
    case "similar" =>
      val pk = rng.nextInt(data.vecs.length)
      read("similar", s"SIMILAR $pk ON vecs USING ann LIMIT 20 SCORED") { r =>
        firstFailure(
          check(r.rows.length <= 20, "SIMILAR over LIMIT"),
          check(descending(r, "score"), "SIMILAR not by score"))
      }
    case "against_lsh" => against("against_lsh", "SIMILAR probe AGAINST docs USING nd LIMIT 5 SCORED")
    case "against_ivf" => against("against_ivf", "SIMILAR vq AGAINST vecs USING ann LIMIT 5 SCORED")
    case "dedup" => nonEmpty("dedup", "SHOW DEDUP docs USING nd")
    case "decontaminate" => nonEmpty("decontaminate", "SHOW DECONTAMINATE docs AGAINST evalset ON text")
  }

  private def read(kind: String, aql: String)(ok: Reply => Option[String]): Op =
    Op(kind, write = false, 0, ex => ok(ex.call(aql, "read")))

  /** At most LIMIT neighbours per probe. */
  private def against(kind: String, aql: String): Op = read(kind, aql) { r =>
    val perProbe = r.rows.groupBy(_(0)).values.map(_.length)
    check(r.rows.nonEmpty && perProbe.forall(_ <= 5), s"$kind: per-probe counts ${perProbe.maxOption.getOrElse(0)}")
  }

  /** The fixture plants near-duplicates and takes the eval set from the
    * corpus, so both reports have rows. */
  private def nonEmpty(kind: String, aql: String): Op = read(kind, aql) { r =>
    check(r.rows.nonEmpty, s"$kind: empty report")
  }
}
