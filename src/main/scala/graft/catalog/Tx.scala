package graft.catalog

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._

/** Transaction layer: per-container staged-operation log with
  * COMMIT/ROLLBACK — the Spark-native re-architecture of the reference's
  * MVCC staging map (`/root/reference/src/container.rs:10,235-342`).
  *
  * The reference stages materialized row states keyed by file address and
  * applies them to the container file on commit. Parquet is immutable, so
  * we stage the *operations* and define the read view as the committed
  * base plan folded through the log:
  *
  *   view = fold(base, log) where
  *     Insert(rows)      → view ∪ rows
  *     Edit(pred, sets)  → per-column `when(pred, newVal)` overlay
  *     Delete(pred)      → filter(¬pred)
  *
  * This gives exact sequential read-your-writes semantics (an edit sees
  * earlier uncommitted inserts, like the reference's MVCC overlay in
  * `get_rows`, container.rs:343-373). COMMIT materializes the view via an
  * atomic directory swap (Catalog.overwrite); ROLLBACK drops the log.
  *
  * Scale note: the log is per-session metadata (predicates + local row
  * batches), never data; commit rewrites only the parquet files that can
  * contain a touched row (file-granular copy-on-write, see
  * [[commit]]/[[decomposed]]) and hard-links the rest. At warehouse scale
  * the same fold IS Delta/Iceberg's MERGE model — copy-on-write with a
  * transaction-log pointer flip — with the link step as the "add file
  * unchanged" manifest entry.
  */
final class Tx(catalog: Catalog) {
  import Tx._

  private var log = Map.empty[String, Vector[StagedOp]].withDefaultValue(Vector.empty)

  /** `auto_commit` settings flag (reference `src/database.rs:18,630-633`). */
  @volatile var autoCommit: Boolean = false

  /** `optimize_after_commits` settings knob (graft extension): when > 0,
    * every Nth committed version triggers [[Catalog.optimize]] so a
    * long-running small-commit ingest can't fragment into floor-cost
    * file counts. Version numbers count commits monotonically, so the
    * trigger needs no extra bookkeeping and fires identically across
    * sessions/restarts. */
  @volatile var optimizeEvery: Int = 0

  /** `analyze_after_commits` settings knob (graft extension): when > 0,
    * every Nth committed version re-runs [[Stats.analyze]] in approx
    * mode, so the cost-model inputs (n_rows/ndv feeding the value-index
    * probe skip and the stats-pinned join side) track the data instead
    * of silently going stale. Keyed off version numbers like
    * [[optimizeEvery]] — no extra bookkeeping, fires identically across
    * sessions/restarts. */
  @volatile var analyzeEvery: Int = 0

  /** `vacuum_after_commits` / `vacuum_keep_last` knobs (graft extension):
    * when > 0, every Nth committed version vacuums down to the keep
    * count — retention automation, explicitly opt-in because it trades
    * time-travel depth for space. [[vacuumMinKeep]] is the retention
    * FLOOR `(container, currentVersion) => minimum keep`: the engine
    * wires the dependent-view resume-point rule through it, and
    * [[Catalog.vacuum]] evaluates it against the SAME version snapshot
    * the drop window uses (a check-then-vacuum pre-pass would race
    * concurrent commits). A floor of Int.MaxValue makes the pass a
    * no-op — the safe answer when view state is unreadable. */
  @volatile var vacuumEvery: Int = 0
  @volatile var vacuumKeepLast: Int = 3
  @volatile var vacuumMinKeep: (String, Int) => Int = (_, _) => 1

  /** `rebuild_ivf_after_commits` knob (graft extension): when > 0, every
    * Nth committed version retrains each ivf index's centroids from the
    * container's CURRENT vectors ([[Index.rebuild]]) — the automated
    * drift maintenance. ivf is the one index kind whose quality decays
    * without it: lsh/simhash/text/value are content-derived and
    * maintained exactly at every commit, but ivf cells are frozen
    * centroids, and recall decays as the data distribution drifts away
    * from them. Explicitly opt-in: Lloyd is a multi-pass scan cost. */
  @volatile var rebuildIvfEvery: Int = 0

  /** Post-commit hook per committed container (graft extension): the
    * engine wires incremental-view auto-refresh through this when
    * `refresh_views_after_commit` is set. Fires AFTER the commit is
    * durable and BEFORE any auto-OPTIMIZE (so the refresh folds the real
    * change window, and the compaction window can then be skipped);
    * failures are dropped like auto-OPTIMIZE's (maintenance must never
    * fail the commit — the view checkpoint hasn't advanced, so the next
    * refresh catches up). */
  @volatile var onCommit: String => Unit = _ => ()

  /** Post-auto-OPTIMIZE hook `(container, publishedVersion)`: OPTIMIZE is
    * content-neutral, so the engine fast-forwards caught-up CDC view
    * checkpoints past the compaction version — skipping a whole-container
    * diff that would net zero rows. */
  @volatile var onOptimize: (String, Int) => Unit = (_, _) => ()

  def stagedOps(container: String): Int = log(container).size

  def stageInsert(container: String, rows: Seq[Row]): Unit = {
    // coalesce consecutive inserts so N single-row CREATE ROWs stay one
    // union branch in the view plan, not N
    val ops = log(container)
    val merged = ops.lastOption match {
      case Some(Insert(prev)) => ops.init :+ Insert(prev ++ rows)
      case _ => ops :+ Insert(rows)
    }
    log += container -> merged
    if (autoCommit) commit(Some(container))
  }

  def stageEdit(container: String, pred: Column, sets: Seq[(String, Any)]): Unit =
    log += container -> (log(container) :+ Edit(pred, sets))

  def stageDelete(container: String, pred: Option[Column]): Unit =
    log += container -> (log(container) :+ Delete(pred))

  /** Read view: committed base folded through this session's staged ops. */
  def view(container: String): DataFrame = {
    val d = catalog.get(container)
    log(container).foldLeft(catalog.read(container)) { (df, op) =>
      op match {
        case Insert(rows) => df.unionByName(localDF(rows, d.schema))
        case other => applyEditDelete(df, other)
      }
    }
  }

  /** The base files holding a row of `tagged` (a `readVersionTagged`
    * scan, filtered to the rows a commit touches): each partition keeps
    * its distinct `__src_file` names and the driver unions them, so the
    * probe adds no Exchange of its own; the driver holds at most
    * partitions × files names, metadata-sized. */
  private def touchedFiles(tagged: DataFrame): Set[String] = {
    val names = org.apache.spark.sql.Encoders.STRING
    tagged.select(col("__src_file")).as(names)
      .mapPartitions(_.toSet.iterator)(names)
      .collect().toSet
  }

  /** A staged insert batch as ONE partition. Staged rows are
    * statement-level driver metadata (CREATE ROW and MERGE ROW stage one
    * row each), but a local relation scans as min(rows, cores)
    * partitions, and each partition commits as its own data file, `src=`
    * index part and index task. One partition means one part file per
    * batch and one task per index job. */
  private def localDF(rows: Seq[Row], schema: org.apache.spark.sql.types.StructType) = {
    // rows staged BEFORE a concurrent ALTER CONTAINER ADD COLUMN carry
    // the old arity; the new columns are NULL for them — exactly how
    // pre-ALTER parquet files read (the same session's ALTER is blocked
    // while ops are staged, but another session's isn't)
    val padded = rows.map { r =>
      if (r.length < schema.length)
        Row.fromSeq(r.toSeq ++ Seq.fill(schema.length - r.length)(null))
      else r
    }
    catalog.spark.createDataFrame(
      new java.util.ArrayList[Row](scala.jdk.CollectionConverters
        .SeqHasAsJava(padded).asJava), schema).coalesce(1)
  }

  /** One Edit/Delete step of the fold (Insert is a no-op here: insert
    * rows enter the view as their own union branch, never by rewriting
    * other rows). Row-local by construction — each output row depends
    * only on its own input row — which is what makes the per-file COW
    * decomposition in [[commit]] exact.
    */
  private def applyEditDelete(df: DataFrame, op: StagedOp): DataFrame = op match {
    case Edit(pred, sets) =>
      // materialize the predicate BEFORE any overlay: folding
      // withColumn(c, when(pred,…)) would re-resolve pred against
      // already-updated columns, so an EDIT whose WHERE references a
      // column it also sets would update only a prefix of the sets
      val marker = s"__edit_match_${java.util.UUID.randomUUID().toString.take(8)}"
      val marked = df.withColumn(marker, pred)
      sets.foldLeft(marked) { case (acc, (c, v)) =>
        acc.withColumn(c, when(col(marker), lit(v)).otherwise(col(c)))
      }.drop(marker)
    case Delete(Some(pred)) =>
      // SQL three-valued logic: DELETE removes rows where pred is
      // TRUE; rows where it evaluates NULL are KEPT (a bare
      // filter(!pred) would silently delete them)
      df.filter(!coalesce(pred, lit(false)))
    case Delete(None) => df.filter(lit(false))
    case Insert(_) => df
  }

  /** COMMIT [container] — apply staged ops via FILE-GRANULAR copy-on-write
    * (reference commit: container.rs:248-342).
    *
    * Optimistic concurrency ([[Catalog.commitLoop]]): the commit notes the
    * base version its view reads, then CAS-claims base+1. If another
    * session committed first, the claim fails and the loop re-derives the
    * decomposition against the WINNER's version and retries. Two sessions
    * committing disjoint inserts therefore serialize with both inserts
    * surviving, instead of last-writer-wins or a crash on the rename.
    */
  def commit(container: Option[String]): Unit = {
    val targets = container.map(Seq(_)).getOrElse(log.keys.toSeq.sorted)
      .filter(c => log(c).nonEmpty)
    if (targets.lengthCompare(2) < 0)
      targets.foreach { c =>
        val pk = catalog.get(c).primaryKey
        catalog.commitLoop(c, "COMMIT") { base =>
          val (kept, rewrite) = decomposed(c, base, pk)
          catalog.tryCommit(c, base, rewrite, kept)
        }
        log -= c
        postCommitMaintenance(c)
      }
    else commitGroup(targets)
  }

  /** `COMMIT` with two or more staged containers is ATOMIC across them
    * (graft extension — the reference loops containers sequentially,
    * `src/database.rs:840-887`, so a crash mid-loop leaves some
    * committed and some not): every member's new version becomes durable
    * together, or none does.
    *
    * Shape: PREPARE claims each member's next slot and stages its COW
    * decomposition in a tmp directory (members in sorted-name order —
    * claims are non-blocking CAS, so there is no deadlock, and the fixed
    * order keeps concurrent group commits over overlapping sets from
    * livelocking); the COMMIT POINT is one atomic manifest rename
    * ([[Catalog.commitTxn]]); APPLY moves directories and flips pointers.
    * A crash BEFORE the manifest leaves only orphan claims and tmp dirs
    * (contenders release the claims, vacuum GCs the dirs); a crash AFTER
    * it leaves a decided transaction that any session rolls forward
    * ([[Catalog.recoverTxns]] — hooked at catalog open, in contender
    * escape paths, and in vacuum). Any lost claim aborts the whole
    * prepare set and retries against the winners' versions, exactly like
    * the single-container rebase loop.
    */
  private def commitGroup(cs: Seq[String]): Unit = {
    val pks = cs.map(c => c -> catalog.get(c).primaryKey).toMap
    var attempts = 0
    var done = false
    while (!done) {
      attempts += 1
      require(attempts <= 50,
        s"COMMIT [${cs.mkString(", ")}]: lost the version race 50 times")
      if (attempts > 1) Thread.sleep(math.min(100L * attempts, 2000L))
      val prepared = scala.collection.mutable.ArrayBuffer
        .empty[(String, Int, java.nio.file.Path)]
      val allOk =
        try cs.forall { c =>
          val base = catalog.currentVersion(c)
          val (kept, rewrite) = decomposed(c, base, pks(c))
          catalog.prepare(c, base, rewrite, kept)
            .map(tmp => prepared += ((c, base + 1, tmp))).isDefined
        } catch {
          case t: Throwable =>
            prepared.foreach { case (c, s, tmp) => catalog.abortPrepared(c, s, tmp) }
            throw t
        }
      if (allOk) {
        try { catalog.commitTxn(prepared.toSeq); done = true }
        catch {
          case e: Catalog.TxnUndecidedException =>
            // nothing became visible and the claims are OURS (live pid —
            // no contender can release them): abort the whole prepared
            // set before propagating, or every later commit on these
            // containers would wedge behind unreleasable claims
            prepared.foreach { case (c, s, tmp) => catalog.abortPrepared(c, s, tmp) }
            throw e.getCause
          case t: Throwable =>
            // any OTHER escape is PAST the commit point (the manifest
            // renamed): the transaction is decided and recovery will
            // roll it forward. The staged ops are therefore spent — a
            // user retry of COMMIT on the still-staged log would
            // re-apply them on top of the recovered base (inserts land
            // twice, edits double-apply). Mirror the success path:
            // clear every member's log and run maintenance best-effort,
            // then rethrow so the caller still sees the apply failure.
            cs.foreach { c =>
              log -= c
              try postCommitMaintenance(c)
              catch { case scala.util.control.NonFatal(_) => () }
            }
            throw t
        }
      } else {
        // abort the partial prepare set, then run the one contender
        // escape on every member
        prepared.foreach { case (c, s, tmp) => catalog.abortPrepared(c, s, tmp) }
        cs.foreach(c => catalog.contenderEscape(c, catalog.currentVersion(c)))
      }
    }
    cs.foreach { c => log -= c; postCommitMaintenance(c) }
  }

  /** Post-commit hooks, in order: view refresh (folds the commit's real
    * change window), then auto-compaction. Maintenance must never fail
    * (or delay the visibility of) the commit itself, so failures are
    * dropped — the next trigger retries. optimize publishes its own
    * version, which never re-lands on a multiple of N from this path.
    */
  private def postCommitMaintenance(c: String): Unit = {
    // trigger decisions key off the version THIS commit published — the
    // auto-OPTIMIZE below publishes another one, which must not shift a
    // due analyze off its N-multiple
    val committed = catalog.currentVersion(c)
    try onCommit(c)
    catch { case scala.util.control.NonFatal(_) => () }
    if (optimizeEvery > 0 && committed % optimizeEvery == 0)
      try {
        val (_, _, published) = catalog.optimize(c)
        onOptimize(c, published)
      } catch { case scala.util.control.NonFatal(_) => () }
    // stats AFTER any auto-compaction, so analyzed_version pins the
    // version readers actually see; always approx mode — the auto pass
    // is maintenance and must stay one bounded pass (no multi-distinct
    // expand) at any scale. An explicit ANALYZE overwrites with the
    // session's stats_distinct mode.
    if (analyzeEvery > 0 && committed % analyzeEvery == 0)
      try Stats.analyze(catalog, c, "approx")
      catch { case scala.util.control.NonFatal(_) => () }
    // ivf centroid retraining AFTER any auto-compaction (it reads the
    // current snapshot either way) and BEFORE vacuum (rebuild already
    // clears old-version parts; vacuum then drops whatever remains).
    // Per-index isolation: one failing index must not starve the rest.
    // The defsOf enumeration itself sits inside a catch too — it parses
    // every index meta file (not just ivf), and a corrupt one must not
    // escape maintenance (on the group-commit path that would skip later
    // members' staged-log clears → double-apply on COMMIT retry).
    if (rebuildIvfEvery > 0 && committed % rebuildIvfEvery == 0)
      try Index.defsOf(catalog, c).filter(_.kind == "ivf").foreach { d =>
        try Index.rebuild(catalog, c, d.ix)
        catch { case scala.util.control.NonFatal(_) => () }
      } catch { case scala.util.control.NonFatal(_) => () }
    // retention LAST: optimize/analyze above may have published more
    // versions; vacuum keeps the newest keepLast of whatever exists now,
    // raised to the engine's retention floor. The WHOLE pass — floor
    // computation included (it parses view definitions and checkpoint
    // files that can be corrupt) — sits inside the catch: maintenance
    // must never fail a commit that already published, and on the
    // group-commit path an escape here would skip later members'
    // staged-log clears (a retried COMMIT would double-apply them).
    if (vacuumEvery > 0 && committed % vacuumEvery == 0)
      try catalog.vacuum(c, vacuumKeepLast, cur => vacuumMinKeep(c, cur))
      catch { case scala.util.control.NonFatal(_) => () }
  }

  /** MERGE ROWS — set-oriented pk upsert: for every `src` row whose pk
    * matches a committed row, update the row's MENTIONED columns
    * (src's columns) to the src values; every miss inserts with NULL
    * unmentioned columns — the bulk generalization of MERGE ROW, the
    * same contract as Delta/Iceberg MERGE INTO's matched-update/
    * not-matched-insert default.
    *
    * Atomic and immediate: publishes its own version through the same
    * CAS claim protocol as COMMIT (no staging — a merge's effect depends
    * on what it matches, so deferring it behind other staged ops would
    * make the statement's semantics depend on commit order). The
    * decomposition is file-granular COW: touched files = base files
    * holding a matching pk, found with one semi-join against the
    * pushed-down `_metadata.file_name` scan — a merge keyed into one
    * pk-range file rewrites exactly that file, misses append as fresh
    * parts, everything else hard-links. At warehouse scale both probe
    * and overlay are pk equi-joins (broadcast when src is small, shuffle
    * otherwise — AQE's call), the canonical MERGE shape; nothing scans
    * more than the pk column plus the touched files.
    *
    * `src` must carry a subset of the container's columns (exact stored
    * names, types already cast) INCLUDING the pk, with non-null unique
    * pks — pk-keyed upsert is ill-defined otherwise, so violations throw
    * rather than pick a silent winner.
    */
  def mergeRows(container: String, src: DataFrame): Unit = {
    val d = catalog.get(container)
    val pk = d.primaryKey
    require(log(container).isEmpty,
      s"MERGE ROWS on '$container' with staged ops — COMMIT or ROLLBACK first")
    catalog.requireVersioned(container, "MERGE ROWS")
    val mentioned = src.columns.toSeq
    require(mentioned.contains(pk), s"MERGE ROWS src must carry the key column $pk")
    require(src.filter(col(pk).isNull).limit(1).count() == 0,
      s"MERGE ROWS key $pk must not be NULL")
    require(src.groupBy(col(pk)).count().filter(col("count") > 1)
        .limit(1).count() == 0,
      s"MERGE ROWS src has duplicate $pk keys — pk-keyed upsert is ambiguous")
    // pad to the full schema: unmentioned columns are NULL on insert
    val padded = d.schema.map { f =>
      if (mentioned.contains(f.name)) col(f.name).cast(f.dataType).as(f.name)
      else lit(null).cast(f.dataType).as(f.name)
    }
    // matched rows: overlay src's mentioned values onto the touched
    // files' rows (left join — a touched file also holds untouched rows)
    val overlay = src.select(
      col(pk).as("__merge_pk") +:
        mentioned.filterNot(_ == pk).map(n => col(n).as(s"__merge_$n")): _*)
      .withColumn("__merge_hit", lit(true))
    val merged = d.schema.map { f =>
      if (f.name != pk && mentioned.contains(f.name))
        when(col("__merge_hit"), col(s"__merge_${f.name}"))
          .otherwise(col(f.name)).as(f.name)
      else col(f.name)
    }
    catalog.commitLoop(container, "MERGE ROWS") { base =>
      // misses insert (anti-join against ALL base pks, not just touched
      // files — the pk-unique convention means a pk absent from the
      // touched set is absent everywhere, but the anti-join stays correct
      // even if a caller violated it)
      val misses = if (base == 0) src
        else src.join(catalog.readVersion(container, base).select(col(pk)),
          Seq(pk), "left_anti")
      val (kept, rewrite) = rewriteTouched(container, base, pk,
        Some(_.join(src.select(col(pk)), Seq(pk), "left_semi")),
        _.join(overlay, col(pk) === col("__merge_pk"), "left_outer").select(merged: _*),
        Seq(misses.select(padded: _*)))
      catalog.tryCommit(container, base, rewrite, kept)
    }
    postCommitMaintenance(container)
  }

  /** True iff `container` has staged, uncommitted ops — the upfront
    * guard for immediate set-oriented statements (DEDUP refuses before
    * doing any funnel work, the same stance MERGE ROWS' own require
    * takes before matching). */
  def hasStaged(container: String): Boolean = log(container).nonEmpty

  /** DELETE ROWS — set-oriented pk delete, the removal dual of
    * [[mergeRows]] (graft extension; the surface the DEDUP statement's
    * curation decision applies through): every committed row whose pk
    * appears in `pks` is removed in ONE atomic published version.
    * Returns true iff a version was PUBLISHED — an all-miss call
    * publishes nothing and returns false, so callers report the no-op
    * honestly instead of claiming a deletion.
    *
    * The pk set is frozen ONCE at entry (eager localCheckpoint): the
    * statement's effect is its at-entry evaluation even across CAS
    * retries — the MERGE ROWS snapshot-semantics stance (a concurrent
    * commit serializes as happening AFTER this statement's read) — and
    * an expensive removal subquery (a dedup funnel, a corpus-wide
    * quality join) computes once instead of twice per attempt.
    *
    * File-granular COW like MERGE ROWS: touched files = base files
    * holding a matching pk (one semi-join against the pushed-down
    * `_metadata.file_name` scan); each rewrites WITHOUT its matching
    * rows (a pk anti-join), everything else hard-links. At warehouse
    * scale the cost ∝ files containing deleted pks — on the
    * pk-clustered layout a localized loser set rewrites a localized
    * file slice; nothing here ever materializes the pk set on the
    * driver, so a 30%-of-corpus dedup removal is as valid as a point
    * delete. Atomic and immediate (same CAS claim protocol as COMMIT;
    * no staging — the effect depends on what it matches). pks with no
    * committed twin are ignored (delete semantics, not an error).
    */
  def deleteRows(container: String, pks: DataFrame): Boolean = {
    val d = catalog.get(container)
    val pk = d.primaryKey
    require(log(container).isEmpty,
      s"DELETE ROWS on '$container' with staged ops — COMMIT or ROLLBACK first")
    catalog.requireVersioned(container, "DELETE ROWS")
    if (catalog.currentVersion(container) == 0) return false // nothing committed
    val keys = pks.select(pks(pks.columns.head).as(pk)).distinct()
      .localCheckpoint(true)
    var published = false
    catalog.commitLoop(container, "DELETE ROWS") { base =>
      val (kept, rewrite) = rewriteTouched(container, base, pk,
        Some(_.join(keys, Seq(pk), "left_semi")),
        _.join(keys, Seq(pk), "left_anti").select(d.schema.map(f => col(f.name)): _*))
      // no base file holds a matching pk: converge without publishing (a
      // no-op delete must not burn a version)
      if (rewrite.nonEmpty) published = catalog.tryCommit(container, base, rewrite, kept)
      rewrite.isEmpty || published
    }
    if (published) postCommitMaintenance(container)
    published
  }

  /** The file-granular copy-on-write decomposition of `c`'s staged log
    * against `base`: (carried base files, folded rewrite of the touched
    * files + inserts). The new version rewrites only the parquet files
    * that can contain a touched row, carrying every other base file over
    * as a hard link — commit cost scales with TOUCHED data, not container
    * size. Base 0 (first commit, or legacy external dataPath) and
    * DELETE-all carry nothing and write the whole view.
    *
    * The decomposition is EXACT because every Edit/Delete is row-local
    * ([[applyEditDelete]]) and predicates evaluate on base values for any
    * not-yet-touched row: a row that matches no staged predicate on its
    * BASE values is untouched by the whole fold (inductively: not matching
    * op i leaves it at base for op i+1), and a row whose first match is op
    * i evaluated that predicate on base values too. So
    *
    *   file touched ⟺ ∃ row in file matching OR(all edit/delete preds on base)
    *
    * which is one pushed-down scan reading `_metadata.file_name` — parquet
    * row-group stats prune non-overlapping files, so a pk point-EDIT on
    * the pk-range-clustered layout (`Tables.scala` compaction) touches
    * exactly one file. Insert batches become fresh parquet parts folded
    * through the ops staged AFTER them (an edit staged after an insert
    * sees the inserted rows, reference MVCC semantics). Insert-only
    * commits are pure appends: zero extra jobs, zero rewritten bytes.
    */
  private def decomposed(c: String, base: Int, pk: String)
      : (Seq[java.nio.file.Path], Option[DataFrame]) = {
    val ops = log(c)
    if (base == 0 || ops.contains(Delete(None)))
      return (Nil, Some(view(c).sortWithinPartitions(pk)))
    val schema = catalog.get(c).schema
    // bare predicates: a filter drops NULL like FALSE, and a coalesce
    // would keep the comparison from pushing down to the scan's zone maps
    val edPreds = ops.collect {
      case Edit(p, _) => p
      case Delete(Some(p)) => p
    }
    val probe = edPreds.reduceOption(_ || _).map(p => (df: DataFrame) => df.filter(p))
    rewriteTouched(c, base, pk, probe, ops.foldLeft(_)(applyEditDelete),
      ops.zipWithIndex.collect { case (Insert(rows), i) =>
        ops.drop(i + 1).foldLeft(localDF(rows, schema))(applyEditDelete)
      })
  }

  /** The touched-file rewrite shared by COMMIT, MERGE ROWS and DELETE
    * ROWS: the base files holding a row of `probe` (over the
    * [[Catalog.readVersionTagged]] scan; None = nothing touched, no job)
    * are read back through `transform`, every other base file is carried.
    * Returns (carried files, rewrite): the transformed rows plus `extra`
    * (inserted rows), sorted within partitions by the pk-convention column
    * (reference I6: first column is the implicit pk) — sharpening parquet
    * row-group min/max stats so point/range scans skip row groups,
    * replacing the reference's chunk index with layout instead of code.
    */
  private def rewriteTouched(c: String, base: Int, pk: String,
      probe: Option[DataFrame => DataFrame], transform: DataFrame => DataFrame,
      extra: Seq[DataFrame] = Nil): (Seq[java.nio.file.Path], Option[DataFrame]) = {
    val baseFiles = if (base == 0) Nil else catalog.versionFiles(c, base)
    val touched = probe.filter(_ => baseFiles.nonEmpty).fold(Set.empty[String])(
      p => touchedFiles(p(catalog.readVersionTagged(c, base))))
    val (hit, kept) = baseFiles.partition(f => touched(f.getFileName.toString))
    val rewritten = if (hit.isEmpty) Nil
      else Seq(transform(catalog.readFiles(c, hit.map(_.toString))))
    (kept, (rewritten ++ extra).reduceOption(_ unionByName _)
      .map(_.sortWithinPartitions(pk)))
  }

  /** ROLLBACK [container] — discard staged ops
    * (reference: container.rs:241-247). */
  def rollback(container: Option[String]): Unit = container match {
    case Some(c) => log -= c
    case None => log = Map.empty[String, Vector[StagedOp]].withDefaultValue(Vector.empty)
  }
}

object Tx {
  sealed trait StagedOp
  final case class Insert(rows: Seq[Row]) extends StagedOp
  final case class Edit(pred: Column, sets: Seq[(String, Any)]) extends StagedOp
  final case class Delete(pred: Option[Column]) extends StagedOp
}
