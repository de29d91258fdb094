package graft.streaming

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter

/** What every streaming sink into the catalog shares — the foreachBatch
  * writer, the pk-range replay guard, landing a micro-batch as one
  * commit — and the near-dup ingest gate, the one gate that serves text
  * (lsh/simhash) and vector (ivf) containers alike.
  *
  * Delivery is at-least-once per micro-batch: a crash between a commit
  * and the sink's checkpoint advance redelivers the batch. The gated
  * sinks drop redelivered rows with [[unseen]]; the plain append sink
  * does not, so dedup downstream by pk if exactly-once matters.
  */
object IngestSinks {

  /** The append-mode foreachBatch writer of every `…ToCatalog` sink. */
  private[streaming] def sink(rows: DataFrame)(perBatch: DataFrame => Unit)
      : DataStreamWriter[Row] =
    rows.writeStream.outputMode("append")
      .foreachBatch { (batch: DataFrame, _: Long) => perBatch(batch) }

  /** The replay guard: the rows of `batch` whose pk has no row in
    * `committed` (a frame with a `pk` column), or None for an empty
    * batch. The batch's [min, max] pk bounds are two literals, so the
    * committed side is a stats-pruned file subset on the pk-clustered
    * layout; the one bounds job doubles as the emptiness probe. A
    * redelivered batch's rows are their own committed twins, which an
    * index lookup's self-exclusion deliberately ignores — so every gate
    * runs this first. */
  private[streaming] def unseen(batch: DataFrame, pk: String,
      committed: DataFrame): Option[DataFrame] = {
    val b = batch.agg(count(lit(1)), min(col(pk)), max(col(pk))).head()
    if (b.getLong(0) == 0) None
    else Some(batch.join(committed.select(col(pk))
      .filter(col(pk).between(lit(b.get(1)), lit(b.get(2)))), Seq(pk), "left_anti"))
  }

  /** `body` over `df` persisted, so a plan read more than once runs once. */
  private[streaming] def persisted(df: DataFrame)(body: DataFrame => Unit): Unit = {
    val p = df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try body(p) finally p.unpersist(blocking = false)
  }

  /** Land `rows` as one insert-only COW commit (`Catalog.append`, whose
    * hook maintains the derived indexes in the same publish), unless
    * there are none; persisted across the emptiness probe and the
    * append. */
  private[streaming] def land(catalog: graft.catalog.Catalog,
      container: String, rows: DataFrame): Unit =
    persisted(rows)(r => if (!r.isEmpty) { catalog.append(container, r); () })

  /** Near-dup-gated ingest: each micro-batch passes [[nearDupBatch]]
    * against the container's commit-maintained lsh, simhash or ivf
    * index `ix`, and its survivors append as one commit whose hook
    * updates the index, so the next batch dedups against this one with
    * no rebuild. `rows` must be shaped like the container: the pk plus
    * the indexed column (TEXT for lsh/simhash, packed-float32 BYTES for
    * ivf). `threshold` defaults to the index kind's
    * (`TextDedup.defaultThreshold`). */
  def nearDupIngestToCatalog(rows: DataFrame, catalog: graft.catalog.Catalog,
      container: String, ix: String, threshold: Option[Double] = None)
      : DataStreamWriter[Row] =
    sink(rows)(nearDupBatch(_, catalog, container, ix, threshold))

  /** Largest candidate-id list fetched by literal point lookup (the
    * stats-pruned fast path); above it the fetch falls back to a
    * semi-join, which never materializes ids on the driver. */
  private val MaxCandidateLiterals = 20000

  /** One micro-batch of the near-dup ingest gate:
    *  1. the replay guard ([[unseen]]);
    *  1. the lowest pk per payload md5 — each NULL payload is its own
    *     group, since grouping them would keep only one;
    *  1. history candidates from the bucket-pruned index lookup;
    *  1. their verify;
    *  1. pairs among the HISTORY SURVIVORS, through the index's own cell
    *     keys (`TextDedup.bandKeys` for lsh/simhash, the frozen cells of
    *     `Index.ivfAssign` for ivf) — a row step 4 drops never pairs,
    *     because split delivery would have committed nothing for it to
    *     pair against, so the result does not depend on how arrivals
    *     were batched;
    *  1. their verify, dropping the higher pk of each verified pair;
    *  1. [[land]] what is left.
    *
    * Both verifies compare `TextDedup.exactScore` — rounded 3-gram
    * Jaccard (lsh), (32 − hamming)/32 (simhash), cosine (ivf) — with
    * `threshold` (default `TextDedup.defaultThreshold`), so the gate and
    * SHOW DEDUP … AGAINST verify a pair alike. A history candidate's
    * value comes from its committed doc for text kinds (a bounded
    * literal pk fetch, or a semi-join above [[MaxCandidateLiterals]]),
    * and from the vector the ivf lists carry for ivf. A payload with no
    * cell keys (NULL, no shingle, an undecodable vector) is never a
    * candidate, and a zero vector verifies nothing: both land.
    * Keep-first: history wins over the batch, the lower pk within it. */
  private[graft] def nearDupBatch(batch: DataFrame,
      catalog: graft.catalog.Catalog, container: String, ix: String,
      threshold: Option[Double] = None): Unit = {
    import graft.operators.TextDedup.{bandKeys, defaultThreshold, exactScore,
      exactScores, nearDupKinds}
    import graft.functions.Float32Unpack.float32Unpack
    val pk = catalog.get(container).primaryKey
    val idef = catalog.indexDefs(container).find(_.ix == ix)
      .getOrElse(sys.error(s"No index '$ix' on '$container'"))
    require(nearDupKinds(idef.kind), "the near-dup ingest gate serves from an " +
      s"lsh, simhash or ivf index; '$ix' is a ${idef.kind} index")
    val thr = threshold.getOrElse(defaultThreshold(idef.kind))
    val payload = col(idef.column)
    // the marker carries a nonce: "__rn" is a legal container column name
    val rn = s"__ndup_rn_${java.util.UUID.randomUUID().toString.take(8)}"
    val perPayload = org.apache.spark.sql.expressions.Window
      .partitionBy(when(payload.isNull, concat(lit("pk:"), col(pk).cast("string")))
        .otherwise(md5(payload)))
      .orderBy(col(pk))
    for (fresh <- unseen(batch, pk, catalog.read(container)))
      persisted(fresh.withColumn(rn, row_number().over(perPayload))
          .filter(col(rn) === 1).drop(rn)) { kept =>
        val docs = kept.select(col(pk).as("doc_id"), payload.as("text"))
        val cands = catalog.indexLookup(container, ix, kept)
        val histScores =
          if (idef.kind == "ivf")
            EmbeddingStreams.withTrueCandVectors(cands, catalog, container,
                idef, pk, idef.column)
              .join(docs, col("qid") === col("doc_id"))
              .select(col("qid").as("id_a"), exactScore("ivf",
                float32Unpack(col("text")), float32Unpack(col("cand_emb"))).as("score"))
          else {
            val pairs = cands.select(col("qid").as("id_a"), col("cand").as("id_b"))
            val candIds = pairs.select(col("id_b")).distinct()
              .limit(MaxCandidateLiterals + 1).collect().map(_.get(0))
            val corpus = catalog.read(container)
            val candDocs =
              if (candIds.length <= MaxCandidateLiterals)
                corpus.filter(col(pk).isin(candIds.toIndexedSeq: _*))
              else corpus.join(pairs.select(col("id_b").as(pk)).distinct(),
                Seq(pk), "left_semi")
            exactScores(pairs, docs,
              Some(candDocs.select(col(pk).as("doc_id"), payload.as("text"))),
              idef.kind, idef.analyzer)
          }
        val survivors = kept.join(histScores.filter(col("score") >= thr)
          .select(col("id_a").as(pk)), Seq(pk), "left_anti")
        val cells =
          if (idef.kind == "ivf")
            graft.catalog.Index.ivfAssign(catalog, container, idef, survivors)
              .select(col("qid").as("doc_id"), lit(0).as("band"), col("qcluster").as("bk"))
          else bandKeys(survivors.select(col(pk).as("doc_id"), payload.as("text")),
            idef.kind, idef.analyzer)
        val a = cells.as("a"); val b = cells.as("b")
        val batchPairs = a.join(b, col("a.band") === col("b.band") &&
            col("a.bk") === col("b.bk") && col("a.doc_id") < col("b.doc_id"))
          .select(col("b.doc_id").as("id_a"), col("a.doc_id").as("id_b"))
          .distinct()
        val batchDups = exactScores(batchPairs, docs, None, idef.kind, idef.analyzer)
          .filter(col("score") >= thr)
          .select(col("id_a").as(pk))
        land(catalog, container, survivors.join(batchDups, Seq(pk), "left_anti"))
      }
  }
}
