package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Structured Streaming over the `documents` table — the streaming side of
  * the dedup operators in `graft.operators.TextDedup` (north-star
  * extension; SURVEY.md §2.4). The batch results are DuckDB-verified, so
  * each streaming pipeline is checked against its batch twin in
  * StreamingSpec.
  *
  * Scale design: exact dedup state is one entry per DISTINCT content hash
  * (not per document), hash-partitioned across the cluster by the same key
  * the batch groupBy shuffles on. A corpus with d% duplicates keeps
  * state ≤ (1-d%) of corpus cardinality — the standard streaming-ingest
  * dedup layout for an append-only document lake.
  */
object DocumentStreams {

  /** File-source stream over the fixture documents parquet. */
  def readDocuments(spark: SparkSession, dir: String): DataFrame =
    StreamStaging.readFileStream(spark, s"$dir/documents.parquet")

  /** Streaming twin of `dd_exact`: per content-hash count + keeper id as a
    * stateful aggregation (complete/update mode). Deterministic — the
    * min(doc_id) keeper does not depend on arrival order.
    */
  def exactDedupCounts(docs: DataFrame): DataFrame =
    docs.groupBy(md5(col("text")).as("h"))
      .agg(count(lit(1)).as("n"), min(col("doc_id")).as("keeper"))

  /** First-seen streaming dedup: emit each document whose content hash has
    * not been seen before (append mode). State is one entry per distinct
    * hash; with an event-time column, `dropDuplicatesWithinWatermark`
    * bounds it to the dedup horizon — the fixture documents carry no
    * timestamp, so the unbounded exact variant is the honest twin here.
    */
  def firstSeen(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), md5(col("text")).as("h"))
      .dropDuplicates("h")

  /** Streaming twin of `t_heavy_hitters`: the Misra-Gries summary as a
    * stateful streaming aggregation (complete mode). State is ONE summary
    * of ≤ k counters — constant-size regardless of how many documents have
    * streamed through, which is the whole point of a mergeable sketch on an
    * unbounded stream (an exact streaming token count would grow state per
    * distinct token forever). The n/(k+1) bounds hold against the exact
    * counts of everything ingested so far (StreamingSpec pins it).
    */
  def heavyHitters(docs: DataFrame, k: Int = 256): DataFrame = {
    val mg = udaf(new graft.functions.MisraGries(k),
      org.apache.spark.sql.Encoders.STRING)
    docs.select(explode(split(lower(col("text")), " ")).as("tok"))
      .agg(mg(col("tok")).as("mg"))
      .select(explode(col("mg")).as(Seq("token", "approx_count")))
  }

  /** Streaming twin of the AQL `approx_distinct` aggregate (and the
    * incremental view's HLL column): per-group distinct estimates as a
    * stateful streaming aggregation (complete mode). State is one
    * DataSketches sketch per group — bounded by group cardinality ×
    * sketch size, never by how many distinct values have streamed
    * through (an exact streaming distinct grows state per value
    * forever). Sketches MERGE across micro-batch triggers exactly like
    * the view fold unions them across commits, so the running estimate
    * equals the one-shot batch estimate over everything ingested so far
    * (StreamingSpec pins the equality across a multi-trigger run).
    */
  def approxDistinctByLang(docs: DataFrame): DataFrame =
    docs.groupBy(col("lang"))
      .agg(hll_sketch_agg(col("text")).as("sk"))
      .select(col("lang"),
        coalesce(hll_sketch_estimate(col("sk")), lit(0L)).cast("long")
          .as("approx_distinct_text"))

  /** Streaming twin of the AQL `approx_median` aggregate (and the
    * incremental view's KLL column): per-group running median estimates
    * as a stateful streaming aggregation (complete mode). State is one
    * KLL sketch per group — a few KB regardless of how many values have
    * streamed through. Sketches MERGE across micro-batch triggers like
    * the view fold unions them across commits; below sketch capacity
    * (n ≤ k per group) the sketch retains every value, so the running
    * estimate EQUALS the exact inclusive order statistic whatever the
    * trigger boundaries — the deterministic regime StreamingSpec pins
    * (above capacity, KLL compaction is randomized and only the rank
    * band is guaranteed).
    */
  def approxMedianByLang(docs: DataFrame): DataFrame =
    approxQuantileByLang(docs, 0.5, "approx_median_n_chars")

  /** The same KLL state rendered at an arbitrary rank — the streaming
    * twin of `approx_quantile(col q)` and the rank-parameterized views
    * (one sketch per group serves ANY rank; the rank only picks the
    * rendering, so a p50 and a p99 consumer share the identical state).
    */
  def approxQuantileByLang(docs: DataFrame, q: Double,
      out: String = "approx_quantile_n_chars"): DataFrame =
    docs.groupBy(col("lang"))
      .agg(graft.functions.KllSketch.kllAgg(col("n_chars")).as("sk"))
      .select(col("lang"),
        graft.functions.KllSketch.kllQuantile(col("sk"), q).as(out))

  /** Streaming twin of the AQL `approx_top_k` aggregate (and the
    * incremental view's frequent-items column): per-group running top-k
    * as a stateful streaming aggregation (complete mode). State is one
    * ItemsSketch per group — ≤ maxMapSize counters (a few KB) regardless
    * of how many documents have streamed through (an exact streaming
    * top-k grows state per distinct item forever). Sketches MERGE across
    * micro-batch triggers like the view fold unions them across commits;
    * while a group's distincts fit the counter map the sketch is EXACT,
    * so the running rendering equals the one-shot batch rendering
    * whatever the trigger boundaries — the deterministic regime
    * StreamingSpec pins (above it, Misra-Gries error bounds apply).
    */
  def approxTopKByLang(docs: DataFrame, k: Int = 3): DataFrame =
    docs.groupBy(col("lang"))
      .agg(graft.functions.FreqSketch.freqAgg(col("source")).as("sk"))
      .select(col("lang"),
        graft.functions.FreqSketch.renderTopK(col("sk"), k)
          // k-qualified like the AQL/view surface (approx_top_k_col_k3)
          .as(s"approx_top_k_source_k$k"))

  /** Streaming twin of AQL `SHOW OVERLAP a b ON col BY g` (round 12):
    * per-group corpus-overlap triage as a stateful streaming aggregation
    * (complete mode) over ONE stream carrying both sides — `sideA`/
    * `sideB` predicates tag which membership each row contributes to
    * (rows matching neither contribute nothing; rows matching both
    * contribute to both, exactly like a value committed to both
    * containers). State is one theta sketch PAIR per group — KB
    * regardless of stream length. Sketch pairs MERGE across micro-batch
    * triggers exactly like the statement merges per-partition partials,
    * so the running set algebra equals the one-shot batch run whatever
    * the trigger boundaries (StreamingSpec pins the equality, and pins
    * the exact regime below sketch capacity like the batch statement).
    * Output columns mirror the AQL statement's stats.
    */
  def overlapByGroup(docs: DataFrame, sideA: Column, sideB: Column,
      value: Column, group: Column): DataFrame = {
    import graft.functions.ThetaSketch.{overlapStats, thetaAgg}
    val agged = docs.groupBy(group.as("g"))
      .agg(thetaAgg(when(sideA, value)).as("ska"),
        thetaAgg(when(sideB, value)).as("skb"))
    // the stat algebra is ThetaSketch.overlapStats — the ONE definition
    // SHOW OVERLAP (pairwise + matrix) renders through, so the pinned
    // streaming ≡ batch ≡ statement equality can't drift
    agged.select(col("g") +: overlapStats(col("ska"), col("skb")): _*)
  }

  /** Streaming twin of `t_pii_scrub`: the compliance pass applied AT
    * INGEST (append mode, stateless projection — redact before anything
    * is persisted downstream, the shape a real pipeline wants). Exactly
    * the batch operator's projection, so StreamingSpec pins equivalence.
    */
  def piiScrubbed(docs: DataFrame): DataFrame =
    graft.operators.TextDedup.piiScrub(docs)

  /** Streaming near-dup CANDIDATE detection at ingest — the streaming twin
    * of `dd_minhash_lsh`'s banding. Signatures come from the native
    * single-pass `minhash_slices` expression: a stream cannot run the
    * batch explode+groupBy signature (that is a per-doc aggregation =
    * keyed state per doc per trigger), but a stateless projection computes
    * the same 8 slices in one pass over each arriving document. Band keys
    * (4 bands × 2 slices) then feed keyed state of ONE long per (band,
    * bucket): the smallest doc_id seen so far is the bucket's keeper, and
    * any other doc sharing the bucket is flagged as a near-dup candidate
    * the moment it arrives — including the previous keeper when a smaller
    * doc_id shows up later (retroactive demotion keeps the flagged set
    * EXACTLY equal to the batch semantics "doc collides with a smaller
    * doc", independent of arrival order across micro-batches).
    *
    * At 100 TB: state is one entry per OCCUPIED band bucket (bounded by
    * distinct signatures, not corpus size), partitioned by band key —
    * the same shuffle key as the batch band self-join. Flagged docs go to
    * the offline exact-verify stage (`dd_ngram_jaccard`), which only ever
    * touches candidates — the standard ingest-time near-dup funnel.
    */
  def minhashBandCandidates(docs: DataFrame): org.apache.spark.sql.Dataset[BandFlag] = {
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    val spark = docs.sparkSession
    import spark.implicits._
    val bandStructs = (0 until 4).map(b => struct(lit(b).as("band"),
      concat(element_at(col("mh"), 2 * b + 1), element_at(col("mh"), 2 * b + 2)).as("bk")))
    val bands = graft.operators.TextDedup.withShingles(docs)
      .select(col("doc_id"),
        graft.functions.MinHashSlices.minhashSlices(col("sg")).as("mh"))
      .filter(col("mh").isNotNull)
      .select(col("doc_id"), explode(array(bandStructs: _*)).as("bb"))
      .select(col("doc_id"), col("bb.band").as("band"), col("bb.bk").as("bk"))
      .as[BandRow]
    bands.groupByKey(r => (r.band, r.bk))
      .flatMapGroupsWithState[Long, BandFlag](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (key: (Int, String), rows: Iterator[BandRow],
         state: org.apache.spark.sql.streaming.GroupState[Long]) =>
          val incoming = rows.map(_.doc_id).toSeq.sorted
          val keeper = state.getOption.getOrElse(Long.MaxValue)
          val newKeeper = math.min(keeper, incoming.head)
          state.update(newKeeper)
          // every incoming doc above the bucket minimum is a candidate; a
          // demoted previous keeper is flagged retroactively
          val demoted = if (keeper != Long.MaxValue && newKeeper < keeper)
            Iterator.single(BandFlag(keeper, key._1, key._2)) else Iterator.empty
          demoted ++ incoming.iterator.filter(_ > newKeeper)
            .map(BandFlag(_, key._1, key._2))
      }
  }

  final case class BandRow(doc_id: Long, band: Int, bk: String)
  final case class BandFlag(doc_id: Long, band: Int, bk: String)

  /** Streaming twin of `t_decontaminate`'s hit detection: the incoming
    * documents' 4-grams stream-static joined against the (static,
    * broadcast) benchmark gram set. Emits one (doc_id, g) row per hit in
    * append mode with ZERO state — a stateless stream-static join is the
    * honest 100 TB shape for ingest-time contamination tagging, since the
    * eval-suite side is a few MB and never changes mid-run. Per-doc
    * distinct counting is downstream batch work (or a watermarked
    * stateful agg once documents carry event time).
    */
  def contaminationHits(docs: DataFrame, benchGrams: DataFrame): DataFrame =
    graft.operators.TextDedup.grams4(docs)
      .join(broadcast(benchGrams), Seq("g"))
      .select(col("doc_id"), col("g"))

  /** Streaming twin of `t_quality_score`: quality gating AT INGEST
    * (append mode, stateless projection) — low-quality documents are
    * scored (and can be routed) before anything persists downstream,
    * the corpus-curation analogue of the PII scrub lane. Exactly the
    * batch operator's projection, so StreamingSpec pins equivalence.
    */
  def qualityAtIngest(docs: DataFrame): DataFrame =
    graft.operators.TextDedup.qualitySignals(docs)

  /** Streaming twin of `t_chunk_windows`: context-window chunking AT
    * INGEST (append mode, stateless explode projection) — documents
    * arrive, 50-token/stride-40 chunks leave, ready for packing, with no
    * state and no shuffle inside the micro-batch. StreamingSpec pins
    * equivalence with the batch operator.
    */
  def chunkAtIngest(docs: DataFrame): DataFrame =
    graft.operators.TextDedup.chunkWindows(docs)

  /** Streaming ingest INTO the versioned catalog: each micro-batch lands
    * as one insert-only COW commit (`Catalog.append` — new parquet parts
    * plus hard links, no driver-side rows), so arriving documents become
    * durable, time-travelable versions whose derived indexes (lsh/ivf)
    * update inside the same atomic publish. The full write path of a
    * serving engine, driven by a stream: ingest → commit → index, with
    * the CAS claim serializing against concurrent writers.
    *
    * Delivery is at-least-once per micro-batch (a crash between the
    * commit and the sink's checkpoint advance replays the batch as a
    * duplicate append — the standard foreachBatch contract); dedup
    * downstream by pk if exactly-once matters.
    */
  def ingestToCatalog(docs: DataFrame, catalog: graft.catalog.Catalog,
      container: String): org.apache.spark.sql.streaming.DataStreamWriter[
      org.apache.spark.sql.Row] =
    IngestSinks.sink(docs)(IngestSinks.land(catalog, container, _))

  /** Decontamination-gated ingest (round 14) — the DECONTAMINATE
    * statement's streaming sibling, the gate next to
    * `IngestSinks.nearDupIngestToCatalog`: each micro-batch drops (a)
    * rows whose pk is already committed (`IngestSinks.unseen`, the replay
    * guard every gate uses) and (b) documents whose distinct-4-gram overlap
    * with the committed EVAL container reaches `threshold` — computed by
    * the SAME `TextDedup.contaminationFractions` derivation the batch
    * statement applies, so ingest-time and after-the-fact curation can
    * never disagree about what contamination is. Survivors land as one
    * insert-only COW commit. The eval gram set re-derives per batch from
    * the eval container's CURRENT version (eval suites are MBs — one
    * broadcast side), so an eval update takes effect on the next batch
    * without restarting the stream. `textCol` names the measured column
    * in BOTH containers, like the statement's `ON col`. */
  /** `grams`/`spans` (round 15) mirror the statement's GRAMS / USING
    * SPANS knobs — gram size and (for spans) the any-hit decision rule —
    * and `broadcastCap` the `decont_broadcast_cap` guard, so the gate
    * stays decision-identical to batch DECONTAMINATE under every knob. */
  def decontIngestToCatalog(docs: DataFrame, catalog: graft.catalog.Catalog,
      container: String, against: String, textCol: String,
      threshold: Double = 0.5, grams: Int = 4, spans: Option[Int] = None,
      broadcastCap: Int = graft.catalog.Settings.default.decontBroadcastCap,
      analyzer: String = graft.operators.Analyzer.Whitespace)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    IngestSinks.sink(docs)(decontBatch(_, catalog, container, against,
      textCol, threshold, grams, spans, broadcastCap, analyzer))

  private[graft] def decontBatch(batch: DataFrame,
      catalog: graft.catalog.Catalog, container: String, against: String,
      textCol: String, threshold: Double, grams: Int = 4,
      spans: Option[Int] = None,
      broadcastCap: Int = graft.catalog.Settings.default.decontBroadcastCap,
      analyzer: String = graft.operators.Analyzer.Whitespace): Unit = {
    val pk = catalog.get(container).primaryKey
    // (a) replay idempotence
    for (unseen <- IngestSinks.unseen(batch, pk, catalog.read(container)))
      IngestSinks.persisted(unseen) { fresh =>
        // (b) the contamination gate — ONE measure definition shared with
        // DECONTAMINATE / SHOW DECONTAMINATE: gram size n (= spans length
        // in span mode), any-hit rule under spans, and the same broadcast
        // count-guard (a bounded limit(cap+1).count() per batch — the eval
        // set re-derives per batch anyway, so the guard rides that read)
        val n = spans.getOrElse(grams)
        val evalGrams = graft.operators.TextDedup.evalGramSet(
          catalog.read(against).select(col(textCol).as("text")), n, analyzer)
        val evalBounded = evalGrams.limit(broadcastCap + 1).count() <= broadcastCap
        val removePred =
          if (spans.isDefined) col("n_contaminated") >= 1
          else col("contamination") >= threshold
        val contaminated = graft.operators.TextDedup.contaminationFractions(
            fresh.select(col(pk).as("doc_id"), col(textCol).as("text")),
            evalGrams, n = n, broadcastEval = evalBounded, analyzer = analyzer)
          .filter(removePred)
          .select(col("doc_id").as(pk))
        IngestSinks.land(catalog, container,
          fresh.join(contaminated, Seq(pk), "left_anti"))
      }
  }

  /** Upserting ingest — the CDC-consumer shape: each micro-batch lands as
    * one atomic pk-keyed MERGE (`Tx.mergeRows` — matched pks update their
    * mentioned columns, misses insert) instead of a blind append, so a
    * stream of entity UPDATES (change events, late corrections,
    * re-crawled documents) maintains one row per key. The standard
    * Delta/Iceberg `foreachBatch + MERGE` idiom on the COW commit
    * protocol: each merge rewrites only the pk-range files its keys
    * touch, misses append, the rest hard-links — micro-batch cost scales
    * with the batch's key spread, not the container.
    *
    * Unlike append ingest, REPLAY CONVERGES: upserting the same batch
    * twice is a no-op second time (same keys, same values), so the
    * at-least-once foreachBatch contract yields exactly-once STATE with
    * no downstream dedup.
    *
    * `orderCol`: when a batch can carry several events per key, the row
    * with the greatest `orderCol` wins (remaining columns break ties
    * deterministically); without it, duplicate keys in one batch are an
    * error (`mergeRows`' ambiguity stance).
    */
  def upsertIngestToCatalog(rows: DataFrame, catalog: graft.catalog.Catalog,
      container: String, orderCol: Option[String] = None)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    IngestSinks.sink(rows) { batch =>
      if (!batch.isEmpty) {
        val pk = catalog.get(container).primaryKey
        val src = orderCol match {
          case Some(oc) =>
            val others = batch.columns.filter(c => c != pk && c != oc)
            val w = org.apache.spark.sql.expressions.Window
              .partitionBy(col(pk))
              .orderBy(col(oc).desc +: others.map(col(_).asc): _*)
            // case-insensitive: withColumn/drop resolve that way
            val rn = Iterator.iterate("__rn")(_ + "_")
              .dropWhile(n => batch.columns.exists(_.equalsIgnoreCase(n))).next()
            batch.withColumn(rn, row_number().over(w))
              .filter(col(rn) === 1).drop(rn)
          case None => batch
        }
        new graft.catalog.Tx(catalog).mergeRows(container, src)
        ()
      }
    }

  /** Ingest-time image decode — the streaming twin of
    * `Multimodal.decodeImages`: the REAL javax.imageio parse runs as a
    * stateless partition-parallel projection the moment media lands, with
    * corrupt payloads routed to the quarantine status inline (a corrupt
    * blob must neither kill the micro-batch nor reach downstream
    * consumers unflagged). Zero state, so a restart re-decodes only
    * unprocessed files — exactly-once comes free from the file source.
    * At 100 TB this is the decode/GPU stage of the ingest funnel:
    * payloads never shuffle, features and the quarantine flag are
    * extracted before anything wide.
    */
  def decodeAtIngest(media: org.apache.spark.sql.Dataset[
      graft.operators.Multimodal.MediaRecord]): org.apache.spark.sql.Dataset[
      graft.operators.Multimodal.DecodedImage] =
    graft.operators.Multimodal.decodeImages(media)

  /** Ingest-time audio decode — the streaming twin of
    * `Multimodal.decodeAudio` (the from-the-spec RIFF/WAVE PCM parser),
    * same contract as [[decodeAtIngest]]: stateless partition-parallel
    * projection, quarantine inline, exactly-once from the file source.
    */
  def decodeAudioAtIngest(media: org.apache.spark.sql.Dataset[
      graft.operators.Multimodal.MediaRecord]): org.apache.spark.sql.Dataset[
      graft.operators.Multimodal.DecodedAudio] =
    graft.operators.Multimodal.decodeAudio(media)
}
