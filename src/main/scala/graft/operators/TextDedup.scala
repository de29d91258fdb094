package graft.operators

import graft.{Q, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text analysis + deduplication operators for LLM-scale data pipelines
  * (north-star extensions; the reference has no text functions at all —
  * SURVEY.md §2.4).
  *
  * Portability rule for the DuckDB oracle: every hash is md5-hex (identical
  * in both engines) and every "min-hash" is the lexicographic MIN over
  * md5-hex strings — a valid uniform min-hash that both engines compute
  * bit-identically, avoiding engine-specific 64-bit hash functions.
  *
  * Scale design (100 TB):
  *  - Exact dedup: hash-groupBy on md5(text) — one shuffle of (hash, id),
  *    never the payload.
  *  - MinHash+LSH: shingle → per-doc signature (narrow, no explode of the
  *    corpus), band → bucket self-join. The join shuffles only
  *    (band, bucket-key, doc_id) tuples; AQE splits skewed buckets. This is
  *    the standard sub-quadratic near-dup path; candidate verification
  *    (exact Jaccard) touches only bucket-colliding pairs.
  *  - SimHash: token explode → 32 partial-agg bit counters per doc; the
  *    exchange carries one row per doc.
  */
object TextDedup {
  // CPU-bound hashing pipelines: the scan is already split
  // across cores by the ingest compaction (see Tables.compacted)
  /** The corpus read: the 32-file pk-range-clustered compacted layout. */
  private def docs(s: SparkSession, dir: String) =
    Tables.load(s, dir, "documents")

  /** The corpus read for the SIGNATURE pipelines (minhash/ngram): the
    * doc_id-BUCKETED projection. Two properties matter on this path and
    * not on the flat scans above:
    *  - one scan partition PER BUCKET (no small-file split packing), so
    *    the CPU-bound shingle→md5 stage runs at full core width — the
    *    flat layout's split floor (files.minPartitionNum=8) packs the
    *    compacted files into ~8 splits and strands 3/4 of the cores on a
    *    stage that is ~100% hash arithmetic;
    *  - HashPartitioning(doc_id) satisfies the per-doc signature
    *    aggregation's distribution, so scan→shingle→md5→min(slices) fuses
    *    into ONE exchange-free codegen stage.
    * An earlier round measured this projection SLOWER and reverted it —
    * under min(STRING) the aggregate planned SortAggregate either way and
    * bucket-width scheduling cost more than it saved. The long-slice
    * HashAggregate (see withSignatures) changed that equation; re-measured
    * same-window at sf0.1/32c: flat 0.47-0.49s vs bucketed ~0.3s. At
    * 100 TB the two identical signature subtrees under the band self-join
    * collapse into one ReusedExchange at the (band,bk) shuffle, so
    * signatures still compute once at scale.
    */
  private def sigDocs(s: SparkSession, dir: String) =
    Tables.bucketed(s, dir, "documents", "doc_id", 32)

  /** documents + tokens + 3-word shingles (shared prep for dedup ops).
    * Docs under 3 tokens get an EMPTY shingle list — the size guard
    * matters because Spark's sequence(1, n) turns DESCENDING for n < 1
    * (and element_at(tk, 0) then throws under ANSI), while the oracle's
    * range(1, len-1) is naturally empty.
    */
  /** (doc_id, source, n-gram) rows — the token n-gram substrate of the
    * decontamination family (statement, SHOW twin, streaming gate, and
    * the `t_decontaminate` fixture lane; `n` is the GRAMS/SPANS knob,
    * default 4). Stateless projection + explode, so it composes with
    * both batch and streaming inputs; the size-n CASE guard mirrors
    * withShingles (sequence(1, n) turns descending for n < 1). Empty
    * tokens are filtered BEFORE gramming (round 15): consecutive /
    * leading spaces must not mint junk grams — the FullText
    * tokenization posture, so the decontamination measure and the
    * postings agree on what a token is (r14 advisor). */
  def gramsN(df: DataFrame, n: Int,
      analyzer: String = Analyzer.Whitespace): DataFrame =
    gramsArrN(df, n, analyzer)
      .select(col("doc_id"), col("source"), explode(col("sg")).as("g"))

  /** The per-document n-gram ARRAY (`sg`) behind [[gramsN]] — exposed
    * (round 17) so per-document dedup can run ROW-LOCALLY
    * (`array_distinct(sg)`) before the explode: a document's grams all
    * live on its one source row, so `distinct (doc_id, g)` never needed
    * a shuffle of gram strings (guide §2.3 — shuffle fewer bytes). */
  def gramsArrN(df: DataFrame, n: Int,
      analyzer: String = Analyzer.Whitespace): DataFrame = {
    require(n >= 2, s"gram size must be >= 2, got $n")
    // native word_grams (round 18, guide §4): the former
    // transform(sequence, i -> array_join(slice)) spelling ran as an
    // interpreted HOF Project outside whole-stage codegen, allocating a
    // slice array + join per gram — measured as the dominant CPU of the
    // gram pass at the 10× profiling SF. word_grams builds each gram
    // with one concatWs inside the codegen'd projection; WordGramsSpec
    // pins bit-equality against the declarative spelling.
    df.select(col("doc_id"), col("source"),
        graft.functions.WordGrams.wordGrams(
          Analyzer.tokens(col("text"), analyzer), n).as("sg"))
  }

  /** The default gram size of the contamination measure. */
  def grams4(df: DataFrame): DataFrame = gramsN(df, 4)

  /** Per-document contamination vs an eval gram set — THE decontamination
    * measure, defined once (round 14) for the DECONTAMINATE statement,
    * its SHOW twin, and the streaming ingest gate: distinct 4-grams per
    * doc, hit count against the (broadcast — an eval suite is MBs
    * against a 100 TB corpus) eval gram set, fraction rounded to 6.
    * `docs` is (doc_id, text); `evalGrams` one `g` column, pre-distinct.
    * Output (doc_id, n_grams, n_contaminated, contamination) — one row
    * per doc with ≥1 gram (shorter docs are outside the measure's
    * reach). */
  /** `n` (round 15) is the GRAMS/SPANS gram size (default 4).
    * `broadcastEval = false` (round 15) drops the broadcast hint when
    * the caller's count-guard found the eval gram set past
    * `decont_broadcast_cap`: an explicit broadcast() bypasses Spark's
    * size threshold, so an oversized eval side must degrade to an
    * AQE-planned gram join, not an executor OOM (r14 judge #1). */
  def contaminationFractions(docs: DataFrame, evalGrams: DataFrame,
      n: Int = 4, broadcastEval: Boolean = true,
      analyzer: String = Analyzer.Whitespace): DataFrame = {
    // ONE gram pass (round 17, guide §1.2 — don't run the expensive
    // derivation twice): the per-doc totals and the eval-hit counts both
    // aggregate the SAME distinct (doc_id, gram) relation, so they fuse
    // into one group-by over a LEFT join against the (pre-distinct, so
    // row-count-preserving) eval gram set — count(1) is the total,
    // count(_hit) the matched subset. The r14-16 shape exploded +
    // distinct-aggregated the corpus grams twice (once per aggregate)
    // and merged with a second join; at 100 TB that was two full corpus
    // gram derivations where one suffices. Same output, same types
    // (count is 0L for unmatched docs, the coalesce'd value).
    //
    // The per-doc gram dedup runs ROW-LOCALLY (guide §2.3): a doc's
    // grams all live on its one source row, so `array_distinct` before
    // the explode replaces the old `distinct (doc_id, g)` aggregate —
    // the ONE exchange that shuffled full gram STRINGS is gone; the
    // only exchange left downstream carries one counted row per doc.
    val corpGrams = gramsArrN(docs.select(col("doc_id"),
        lit("c").as("source"), col("text")), n, analyzer)
      .select(col("doc_id"), explode(array_distinct(col("sg"))).as("g"))
    val evalSide = evalGrams.select(col("g"), lit(1).as("_hit"))
    corpGrams
      .join(if (broadcastEval) broadcast(evalSide) else evalSide,
        Seq("g"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"), count(col("_hit")).as("n_contaminated"))
      .select(col("doc_id"), col("n_grams"), col("n_contaminated"),
        round(col("n_contaminated").cast("double")
          / col("n_grams"), 6).as("contamination"))
  }

  /** The distinct eval-side gram set for [[contaminationFractions]].
    * Row-local `array_distinct` pre-slims each doc's grams BEFORE the
    * cross-doc distinct aggregate (round 17, guide §2.3): the global
    * distinct still runs (the set spans documents), but its exchange
    * carries each doc's within-doc duplicates no more — identical set,
    * fewer shuffled bytes. */
  def evalGramSet(eval: DataFrame, n: Int = 4,
      analyzer: String = Analyzer.Whitespace): DataFrame =
    gramsArrN(eval.select(lit(0L).as("doc_id"), lit("e").as("source"),
        col("text")), n, analyzer)
      .select(explode(array_distinct(col("sg"))).as("g")).distinct()

  /** Core of t_repetition_filter, exposed for synthetic-input specs.
    * Input needs (doc_id, text); output carries the two repetition signals
    * and the keep flag.
    */
  def repetitionFilter(df: DataFrame): DataFrame = {
    val toks = df.select(col("doc_id"), split(lower(col("text")), " ").as("tk"))
    val w = toks.select(
      col("doc_id"),
      size(col("tk")).cast("long").as("n_tokens"),
      round(lit(1.0) - size(array_distinct(col("tk"))).cast("double") / size(col("tk")), 6)
        .as("dup_word_frac"))
    val bt = toks
      .filter(size(col("tk")) >= 2)
      .withColumn("bgs", expr(
        "transform(sequence(1, size(tk)-1), i -> element_at(tk,i) || ' ' || element_at(tk,i+1))"))
      .select(col("doc_id"), explode(col("bgs")).as("b"))
      .groupBy(col("doc_id"), col("b")).agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"))
      .agg(round(max(col("c")).cast("double") / sum(col("c")), 6).as("top_bigram_share"))
    w.join(bt, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"), col("dup_word_frac"),
        coalesce(col("top_bigram_share"), lit(0.0)).as("top_bigram_share"))
      .withColumn("keep",
        col("dup_word_frac") <= 0.55 && col("top_bigram_share") <= 0.18)
  }

  /** PII patterns shared verbatim by the Spark projection and the DuckDB
    * oracle SQL — kept to the regex subset Java and RE2 interpret
    * identically (no backreferences, no lookaround; `\b` is an ASCII word
    * boundary in both). Raw triple-quoted so backslashes survive into both
    * engines unchanged.
    */
  private[operators] val PiiEmail = """[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"""
  private[operators] val PiiPhone = """\+?\d[\d -]{7,}\d"""
  private[operators] val PiiIp = """\b\d{1,3}(\.\d{1,3}){3}\b"""

  /** Core of t_pii_scrub, exposed for synthetic-input specs (the fixture
    * corpus has no PII, so the match path is pinned on crafted rows).
    * Input needs (doc_id, text); emits per-pattern match counts and the
    * fully redacted text. Single-pass projection — no shuffle.
    */
  def piiScrub(df: DataFrame): DataFrame =
    df.select(col("doc_id"),
      // cast to long: DuckDB's len(regexp_extract_all) is BIGINT and the
      // driver's compare is dtype-sensitive
      regexp_count(col("text"), lit(PiiEmail)).cast("long").as("n_emails"),
      regexp_count(col("text"), lit(PiiPhone)).cast("long").as("n_phones"),
      regexp_count(col("text"), lit(PiiIp)).cast("long").as("n_ips"),
      regexp_replace(regexp_replace(regexp_replace(col("text"),
        PiiEmail, "<EMAIL>"), PiiPhone, "<PHONE>"),
        PiiIp, "<IP>").as("redacted"))

  /** Core of dd_common_spans, exposed for synthetic-input specs. Input
    * needs (doc_id, text, source) — the shared grams4 projection carries
    * source for the decontamination twin. Grams are deduplicated per
    * document, so within-doc repetition never makes a span "shared" — only
    * cross-document occurrence does.
    */
  def commonSpans(df: DataFrame): DataFrame = {
    // per-doc gram dedup is row-local (round 17, guide §2.3) — the
    // cross-doc sharing count below still shuffles by gram hash, but
    // the old distinct aggregate's full-gram exchange is gone
    val dg = gramsArrN(df, 4)
      .select(col("doc_id"), explode(array_distinct(col("sg"))).as("g"))
      .select(col("doc_id"), md5(col("g")).as("gh"))
    val perGram = Window.partitionBy(col("gh"))
    dg.withColumn("nd", count(lit(1)).over(perGram))
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("total_grams"),
        sum(when(col("nd") > 1, 1L).otherwise(0L)).as("shared_grams"))
      .withColumn("shared_frac",
        round(col("shared_grams").cast("double") / col("total_grams"), 6))
  }

  /** 3-gram shingle arrays (`sg`) — shared with the streaming near-dup
    * candidate path (`DocumentStreams.minhashBandCandidates`) and the
    * catalog lsh index derivation. Tokens come from the ONE
    * [[Analyzer]] whitespace definition (round 15): empty tokens are
    * filtered before shingling, so consecutive/leading spaces mint no
    * junk shingles — the same posture as the postings and gram
    * funnels. */
  private[graft] def withShingles(df: DataFrame,
      analyzer: String = Analyzer.Whitespace): DataFrame =
    // native word_grams (round 18, guide §4) — same rationale and
    // bit-equality pin as gramsArrN; the former `element_at ||`
    // spelling differed from array_join only on NULL token elements,
    // which Analyzer.tokens can never produce (WordGramsSpec pins both)
    df.withColumn("tk", Analyzer.tokens(col("text"), analyzer))
      .withColumn("sg", graft.functions.WordGrams.wordGrams(col("tk"), 3))

  /** The shingle CTEs over an arbitrary base relation — `base` is a table
    * name or a parenthesized subquery (the time-traveled SHOW DEDUP
    * oracle recomputes the funnel over a version's row subset). The
    * token expression mirrors [[Analyzer.duckTokens]]. */
  private[graft] def duckShinglesFrom(base: String,
      analyzer: String = Analyzer.Whitespace) =
    s"""toks AS (SELECT doc_id,
       |  ${Analyzer.duckTokens("text", analyzer)} tk FROM $base),
       |shing AS (SELECT doc_id,
       |  list_transform(range(1, len(tk)-1), i -> tk[i]||' '||tk[i+1]||' '||tk[i+2]) sg
       |  FROM toks)""".stripMargin

  private val duckShingles = duckShinglesFrom("documents")

  /** 8 min-hash signatures s0..s7 over the shingle set: TWO md5 digests per
    * shingle (plain + '#'-salted), their 64 hex chars sliced into eight
    * independent 8-hex (32-bit) slices (min over a fixed-width lowercase-hex
    * slice is a valid uniform minhash and compares identically as string or
    * number in both engines).
    *
    * Slice width matters at scale: a 16-bit slice min saturates once a
    * document has ~2^16 shingles (E[min] ≈ 65536/n → 0), so unrelated long
    * documents collide on band keys. 32-bit slices keep E[min] ≈ 2^32/n
    * discriminating past 10^8 shingles per doc — the 100 TB regime.
    *
    * Shape: a SINGLE-PASS native projection (`MinHashSlices`, shared with
    * the streaming path) — no doc×shingle explode, no aggregation, no
    * exchange. Docs with no shingles carry a NULL signature row; their
    * band keys concat to NULL and [[bandsOf]] filters them after the
    * generate, so they can never collide in a band either way — any
    * OTHER consumer of these rows must handle the NULLs itself.
    * (An expr-tree per-row fold over SQL higher-order functions was
    * measured and rejected: it evaluates interpreted and CollapseProject
    * re-inlines the md5 transform into every slice extraction. The native
    * expression has neither problem — see the body comment.)
    */
  private def withSignatures(df: DataFrame): DataFrame = withSignatures(df, Seq("doc_id"))

  /** As above, with explicit group keys — the catalog's derived-index
    * maintenance ([[graft.catalog.Index]]) carries the source-file column
    * through the aggregation so index rows stay attributable to the
    * parquet part they derive from (`keys` are functionally dependent on
    * the doc id, so the extra key never changes the minima).
    */
  private[graft] def withSignatures(df: DataFrame, keys: Seq[String]): DataFrame = {
    // Batch and streaming now share the single-pass NATIVE signature
    // (graft.functions.MinHashSlices): the 8 per-slice minimums computed
    // inside the scan's projection from the raw digest bytes — no
    // doc×shingle explode, no aggregation state, no exchange. The
    // composable explode→md5→min×8 form this replaces was held back by
    // TWO costs measured at sf0.1/32c: the aggregate planned SortAggregate
    // under min(STRING) (string buffers aren't row-mutable), and the
    // per-shingle expression tree (md5 hex + 8 substring/conv) allocated
    // UTF8Strings per slice — together ~0.3s of the query's 0.5s wall.
    // The expression's hot loop reads slice minima straight off the
    // 16-byte digests (MinHashSlices.compute) and materializes hex ONCE
    // per document, so downstream band keys, the persisted LSH index, the
    // streaming twin, and the DuckDB oracle all see bit-identical values
    // (pinned by MinHashSlicesSpec). Docs with no shingles yield NULL and
    // are dropped — same outcome as the groupBy form's missing row.
    // No filter on the computed column: a predicate referencing `mh` gets
    // alias-substituted below this projection by filter pushdown and
    // RECOMPUTES the whole signature tree per row (measured 2× per side).
    // Shingle-less docs carry NULL slices instead; their band keys concat
    // to NULL downstream, which bandsOf filters AFTER the generate (cheap
    // attribute test) and an inner band-join would drop anyway.
    val mh = graft.functions.MinHashSlices.minhashSlices(col("sg"))
    df.select(keys.map(col) :+ mh.as("mh"): _*)
      .select(keys.map(col) ++ (0 until 8).map(i => col("mh")(i).as(s"s$i")): _*)
  }

  private val duckSignatures =
    "ex AS (SELECT doc_id, md5(s) || md5(s || '#') AS h " +
      "FROM (SELECT doc_id, unnest(sg) AS s FROM shing) u), " +
      "sigs AS (SELECT doc_id, " +
      (0 until 8).map(i => s"min(substr(h, ${1 + 8 * i}, 8)) AS s$i").mkString(", ") +
      " FROM ex GROUP BY doc_id)"

  /** 4 LSH bands, 2 signature rows each: band key = s2i ‖ s2i+1 (the two
    * 8-hex slices concatenated — already uniform, no extra digest needed).
    */
  private def bandsOf(sigs: DataFrame): DataFrame = bandsOf(sigs, Seq("doc_id"))

  private[graft] def bandsOf(sigs: DataFrame, keys: Seq[String]): DataFrame = {
    val bandStructs = (0 until 4).map(b =>
      struct(lit(b).as("band"), concat(col(s"s${2 * b}"), col(s"s${2 * b + 1}")).as("bk")))
    sigs.select(keys.map(col) :+ explode(array(bandStructs: _*)).as("bb"): _*)
      .select(keys.map(col) :+ col("bb.band").as("band") :+ col("bb.bk").as("bk"): _*)
      // Shingle-less docs have NULL slices → NULL band keys. Filtering on
      // the GENERATE's output attribute is safe from expensive-expression
      // pushdown (a generator output can't be substituted below the
      // Generate), and it keeps null keys out of persisted band indexes.
      .filter(col("bk").isNotNull)
  }

  private val duckBands =
    "bands AS (" + (0 until 4).map(b =>
      s"SELECT doc_id, $b AS band, s${2 * b}||s${2 * b + 1} AS bk FROM sigs")
      .mkString(" UNION ALL ") + ")"

  /** LSH candidate pairs (id_a < id_b), deduplicated across bands.
    * The hash stage rides the bucketed corpus projection ([[sigDocs]]) at
    * full core width with the signature aggregation fused in — a runtime
    * pre-explode repartition was tried and rejected instead (the exchange
    * wave costs locally what the wider hashing saves, and at 100 TB it
    * would shuffle the raw corpus text; the LAYOUT-side width costs
    * neither).
    */
  private def lshPairs(s: SparkSession, dir: String): DataFrame = {
    val bands = bandsOf(withSignatures(withShingles(sigDocs(s, dir))))
    val a = bands.as("a")
    val b = bands.as("b")
    // The self-join is PINNED to a shuffled hash join. With the signature
    // now a pure projection (no aggregation exchange below it), the
    // planner's local broadcast choice RECOMPUTES the whole scan→shingle→
    // md5 pipeline for the probe side; pinning the shuffle makes the two
    // band subtrees' exchanges identical, so they collapse into ONE
    // ReusedExchange and signatures compute exactly once (same-window A/B
    // at sf0.1/32c: broadcast ~0.37s, pinned ~0.25-0.34s). At corpus
    // scale the estimates rule out broadcast anyway and this is the plan
    // the planner picks itself — the hint only removes the local-mode
    // divergence. The exchange carries (band, bk, doc_id), never text,
    // and AQE's skew-join splits hot band buckets in the batch profile.
    // (An earlier round measured the OPPOSITE — broadcast cheaper — when
    // the signature was an explode+groupBy whose aggregation exchange
    // already deduplicated the compute; the projection form flipped it.)
    a.hint("shuffle_hash").join(b,
        col("a.band") === col("b.band") && col("a.bk") === col("b.bk")
          && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .distinct()
  }

  /** Per-document quality signals (stopword ratio, punctuation ratio,
    * length band) as a pure projection — shared by the `t_quality_score`
    * oracle row and the streaming ingest gate
    * (`DocumentStreams.qualityAtIngest`): score BEFORE anything persists
    * downstream, zero state, zero shuffle.
    */
  def qualitySignals(d: DataFrame): DataFrame =
    d.select(
      col("doc_id"),
      round(size(filter(split(lower(col("text")), " "),
        t => t.isin("the", "a", "and", "of", "to"))).cast("double")
        / size(split(col("text"), " ")), 6).as("stopword_ratio"),
      round(size(expr("regexp_extract_all(text, '[^a-z0-9 ]', 0)")).cast("double")
        / length(col("text")), 6).as("punct_ratio"),
      when(col("n_chars").between(100, 2000), 1).otherwise(0).as("len_ok"))

  /** Context-window chunk rows for any (doc_id, text) frame — shared by
    * the batch oracle query (t_chunk_windows) and the ingest-time
    * streaming twin (`DocumentStreams.chunkAtIngest`): a stateless
    * explode projection, so it is append-safe per micro-batch. Window i
    * covers tokens [40i+1, min(40i+50, n)], i in 0..⌊(n-1)/40⌋.
    */
  def chunkWindows(d: DataFrame): DataFrame =
    d.select(col("doc_id"), split(col("text"), " ").as("tk"))
      .withColumn("n", size(col("tk")))
      .select(col("doc_id"), col("tk"), col("n"),
        explode(sequence(lit(0), expr("(n - 1) div 40"))).as("i"))
      .select(col("doc_id"), col("i").cast("long").as("chunk_idx"),
        size(slice(col("tk"), col("i") * 40 + 1, lit(50))).cast("long").as("n_tokens"),
        array_join(slice(col("tk"), col("i") * 40 + 1, lit(50)), " ").as("chunk"))

  /** The persisted LSH index: the band table (doc_id, band, bk)
    * materialized once per fixture, hash-bucketed + sorted by band key
    * (`Tables.bucketedDerived` — the text-side twin of the persisted IVF
    * cell table). A near-dup LOOKUP for incoming documents computes their
    * few band keys (4 per doc, pure projection), then scans the index
    * filtered on those LITERAL keys — statically bucket-pruned to the
    * matching buckets, no re-shingling of the corpus, no self-join. This
    * is the serving-path shape of ingest-time dedup at 100 TB: the index
    * is maintained incrementally (append band rows per new doc) and each
    * lookup touches keys/buckets, not the corpus.
    */
  def lshBandIndex(s: SparkSession, dir: String): DataFrame = {
    val src = new java.io.File(s"$dir/documents.parquet")
    val build = bandsOf(withSignatures(withShingles(docs(s, dir))))
    if (!src.isFile) build // directory-layout fixture: unpersisted fallback
    else Tables.bucketedDerived(s, src, "lsh_bands", "bk", 64)(build)
  }

  /** Candidate near-dups for the query docs, served from [[lshBandIndex]]. */
  private def lshIndexLookup(s: SparkSession, dir: String): DataFrame =
    bandProbe(lshBandIndex(s, dir),
      bandsOf(withSignatures(withShingles(
        docs(s, dir).filter(col("doc_id") < 5))))
        .select(col("doc_id").as("qid"), col("band").as("qband"), col("bk").as("qbk")))

  /** The persisted simhash band index — token-level twin of
    * [[lshBandIndex]]: 4×8-bit bands of the simhash-32 signature,
    * hash-bucketed by the band-qualified key. Same serving shape, robust
    * to a different edit class (single-token changes re-shingle every
    * 3-gram but flip few simhash bits). */
  def simhashBandIndex(s: SparkSession, dir: String): DataFrame = {
    val src = new java.io.File(s"$dir/documents.parquet")
    val build = simhashBands(simhashDf(s, dir))
    if (!src.isFile) build // directory-layout fixture: unpersisted fallback
    else Tables.bucketedDerived(s, src, "simhash_bands", "bk", 64)(build)
  }

  /** 4×8-bit simhash bands with band-qualified keys `"b:v"` — the ONE
    * banding definition shared by the fixture index, the catalog's
    * `simhash` index maintenance, and the ingest dedup gate (drift in any
    * copy would silently break their oracle-pinned equivalence). */
  private[graft] def simhashBands(sigs: DataFrame,
      keys: Seq[String] = Seq("doc_id")): DataFrame = {
    val bandStructs = (0 until 4).map(b =>
      struct(lit(b).as("band"),
        concat_ws(":", lit(b),
          expr(s"shiftright(simhash, ${8 * b}) & 255")).as("bk")))
    sigs.select(keys.map(col) :+ explode(array(bandStructs: _*)).as("bb"): _*)
      .select(keys.map(col) :+ col("bb.band").as("band") :+ col("bb.bk").as("bk"): _*)
  }

  /** Candidate near-dups served from [[simhashBandIndex]] — the same
    * ≤4-literal-keys-per-doc bucket-pruned probe as the lsh lookup. */
  private def simhashIndexLookup(s: SparkSession, dir: String): DataFrame =
    bandProbe(simhashBandIndex(s, dir),
      simhashBands(withSimhash(
        docs(s, dir).filter(col("doc_id") < 5).select(col("doc_id"), col("text")),
        Seq("doc_id")))
        .select(col("doc_id").as("qid"), col("band").as("qband"), col("bk").as("qbk")))

  /** The shared probe shape of every persisted band index: collect the
    * query side's ≤ bands-per-doc literal keys (bounded per-lookup
    * metadata, the IVF probe-list idiom), bucket-prune the index scan to
    * them, equi-join back excluding self-hits. */
  private def bandProbe(index: DataFrame, qBands: DataFrame): DataFrame = {
    val keys = qBands.select(col("qbk")).distinct().collect().map(_.getString(0))
    index.filter(col("bk").isin(keys.toIndexedSeq: _*))
      .join(broadcast(qBands),
        col("band") === col("qband") && col("bk") === col("qbk")
          && col("doc_id") =!= col("qid"))
      .select(col("qid"), col("doc_id").as("cand"))
      .distinct()
  }

  // RECURSIVE unconditionally: harmless for the non-recursive consumers,
  // and required by dd_dup_clusters' walk CTE — no string surgery on a
  // generated query downstream
  private[graft] def duckLshPairsFrom(base: String,
      analyzer: String = Analyzer.Whitespace): String =
    s"""WITH RECURSIVE ${duckShinglesFrom(base, analyzer)},
       |$duckSignatures,
       |$duckBands,
       |pairs AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
       |          FROM bands a JOIN bands b
       |            ON a.band = b.band AND a.bk = b.bk AND a.doc_id < b.doc_id)""".stripMargin

  private[graft] val duckLshPairs = duckLshPairsFrom("documents")

  /** The exact 3-gram Jaccard column over two shingle arrays, rounded to
    * 6 — THE lsh verify measure, defined once for every consumer
    * (fixture lane, SIMILAR … SCORED, SHOW DEDUP): array_intersect/union
    * are set-semantic, matching DuckDB's list_intersect /
    * list_distinct(list_concat) bit-for-bit under the rounding. */
  private[graft] def jaccardSim(a: org.apache.spark.sql.Column,
      b: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    round(size(array_intersect(a, b)).cast("double")
      / size(array_union(a, b)), 6)

  /** The exact (32 − hamming)/32 signature-similarity column over two
    * simhash-32 values — THE simhash verify measure, defined once.
    * Integer numerator over a power-of-two denominator: exact doubles in
    * both engines (k/32 has ≤5 fractional decimal digits, so the
    * belt-and-braces round(6) is an identity). */
  private[graft] def simhashSim(a: org.apache.spark.sql.Column,
      b: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    round((lit(32.0) - bit_count(a.bitwiseXOR(b)).cast("double")) / lit(32.0), 6)

  /** Band-index candidate collisions for an arbitrary probe relation —
    * THE cross band-candidate stage, defined once (round 17, code
    * review) for every consumer: the Engine's AGAINST funnel (SHOW
    * DEDUP/DEDUP/SIMILAR AGAINST) and the streaming band enrichment.
    * `probe` is (doc_id, text); it derives through the SAME
    * shingle→minhash-band / simhash-band projection the reference
    * index was built with (the frozen `analyzer` rides the index
    * metadata), and the (band, bk) equi-join against `ixRows`
    * (id_b, band, bk) is ONE pinned shuffle-hash exchange of ids —
    * never payloads, never an all-pairs join. */
  private[graft] def bandCollisions(probe: DataFrame, ixRows: DataFrame,
      kind: String, analyzer: String): DataFrame = {
    val probeBands = bandKeys(probe, kind, analyzer)
      .select(col("doc_id").as("id_a"), col("band"), col("bk"))
      // EXPLICIT id not-null (round 17, guide §2.4): downstream verify
      // joins make the optimizer INFER `isnotnull(id_a)` into some
      // copies of this subtree and not others (a consumer that projects
      // id_a away infers nothing), which de-canonicalizes otherwise
      // identical exchanges and blocks ReusedExchange — the banding
      // derivation then re-executes once per consumer. Stating the
      // filter here (a no-op: ids are pks) makes every copy canonically
      // equal, so one statement runs the banding exactly once. Same on
      // the index side below.
      .filter(col("id_a").isNotNull)
    probeBands.hint("shuffle_hash")
      .join(ixRows.filter(col("id_b").isNotNull), Seq("band", "bk"))
      .select(col("id_a"), col("id_b")).distinct()
  }

  /** (keys…, band, bk) for (keys…, text) rows: the band keys of a band
    * index kind — minhash bands over 3-gram shingles (lsh), byte bands
    * of the simhash-32 signature (simhash) — under `analyzer`. The one
    * banding of the committed band indexes, the cross funnels' probe
    * side and the near-dup ingest gate's within-batch pairing. Docs
    * with no shingle or no token have no band keys. */
  private[graft] def bandKeys(docs: DataFrame, kind: String,
      analyzer: String, keys: Seq[String] = Seq("doc_id")): DataFrame =
    kind match {
      case "lsh" => bandsOf(withSignatures(withShingles(docs, analyzer), keys), keys)
      case "simhash" => simhashBands(withSimhash(docs, keys, analyzer), keys)
      case other => throw new IllegalArgumentException(
        s"no band keys for a '$other' index")
    }

  /** The index kinds a near-dup funnel or ingest gate serves from. */
  private[graft] val nearDupKinds = Set("lsh", "simhash", "ivf")

  /** A near-dup index kind's default verify threshold on its
    * [[exactScore]]: lsh Jaccard 0.2 (the curation lane's), simhash
    * 29/32 (Hamming ≤ 3, the pigeonhole recall bound of the 4-band
    * layout), ivf cosine 0.99. The statements and the ingest gate take
    * it when no threshold is given. */
  private[graft] def defaultThreshold(kind: String): Double = kind match {
    case "lsh" => 0.2
    case "simhash" => 29.0 / 32.0
    case "ivf" => 0.99
    case other => throw new IllegalArgumentException(
      s"no near-dup threshold for a '$other' index")
  }

  /** An index kind's exact measure, defined once for every consumer:
    * the per-doc value it compares, derived from (doc_id, text) rows as
    * (doc_id, [[exactCol]]) — 3-gram shingles `sg` under the index's
    * analyzer (lsh), the simhash-32 signature `simhash`, the unpacked
    * float32 vector `arr` (ivf). [[exactScore]] compares two of them. */
  private[graft] def exactDerive(docs: DataFrame, kind: String,
      analyzer: String): DataFrame = kind match {
    case "lsh" => withShingles(docs, analyzer).select(col("doc_id"), col("sg"))
    case "simhash" => withSimhash(docs, Seq("doc_id"), analyzer)
    case "ivf" => docs.select(col("doc_id"),
      graft.functions.Float32Unpack.float32Unpack(col("text")).as("arr"))
    case other => throw new IllegalArgumentException(
      s"no exact measure for a '$other' index")
  }

  /** The value column of [[exactDerive]]. */
  private[graft] def exactCol(kind: String): String = kind match {
    case "lsh" => "sg"
    case "ivf" => "arr"
    case _ => "simhash"
  }

  /** The score of two [[exactDerive]] values, rounded to 6: 3-gram
    * Jaccard (lsh), (32 − hamming)/32 (simhash), cosine (ivf; NULL for a
    * zero norm or an undecodable payload, which verifies nothing). Every
    * funnel, k-NN join and ingest gate compares THIS column with its
    * threshold, so a pair verifies alike wherever it is measured. */
  private[graft] def exactScore(kind: String, a: org.apache.spark.sql.Column,
      b: org.apache.spark.sql.Column): org.apache.spark.sql.Column = kind match {
    case "lsh" => jaccardSim(a, b)
    case "simhash" => simhashSim(a, b)
    case _ => round(graft.functions.CosineSimilarity.cosineSim(a, b), 6)
  }

  /** The exact-measure verify stage of every near-dup funnel and band
    * k-NN join: (id_a, id_b, score) for each candidate pair, UNFILTERED —
    * the caller gates (a funnel) or ranks (a k-NN join). `probe` holds
    * the id_a docs and `reference` the id_b docs, both (doc_id, text);
    * `reference` None means one frame holds both sides (the
    * within-container funnel), derived ONCE over the union of the pair
    * ids.
    *
    * Computation ∝ CANDIDATES: band kinds semi-join each side to the
    * candidate ids BEFORE the shingle/simhash derivation. The id sets are
    * distinct-THEN-project (or an explode of both ids), never
    * `select(id).distinct()`: column pruning would then drop the other id
    * from the embedded pairs subtree, change its exchanges' schemas and
    * block ReusedExchange, re-running the banding per verify side. The
    * semi-joins pin SHUFFLE-HASH with the ids-only frame as the build
    * side: bounded memory at any collision cardinality, where the default
    * sort-merge sorts the corpus-side payloads. ivf payloads join raw:
    * there is no derivation to prune, and the pair join is the pruning.
    * `candIds` (one `doc_id` column, e.g. a broadcast local relation of
    * materialized pairs) replaces the derived id sets. */
  private[graft] def exactScores(pairs: DataFrame, probe: DataFrame,
      reference: Option[DataFrame], kind: String, analyzer: String,
      candIds: Option[DataFrame] = None): DataFrame = {
    def derived(docs: DataFrame, ids: => DataFrame): DataFrame = exactDerive(
      if (kind == "ivf") docs
      else docs.join(candIds.getOrElse(ids.hint("shuffle_hash")),
        Seq("doc_id"), "left_semi"),
      kind, analyzer)
    val (a, b) = reference match {
      case None =>
        val both = derived(probe, pairs
          .select(explode(array(col("id_a"), col("id_b"))).as("doc_id"))
          .distinct())
        (both, both)
      case Some(ref) =>
        (derived(probe, pairs.distinct().select(col("id_a").as("doc_id"))),
          derived(ref, pairs.distinct().select(col("id_b").as("doc_id"))))
    }
    val m = exactCol(kind)
    pairs
      .join(a.select(col("doc_id").as("id_a"), col(m).as(s"${m}_a")), Seq("id_a"))
      .join(b.select(col("doc_id").as("id_b"), col(m).as(s"${m}_b")), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        exactScore(kind, col(s"${m}_a"), col(s"${m}_b")).as("score"))
  }

  /** Jaccard-verified near-dup pairs (exact set check over the LSH
    * candidates only) — shared by dd_ngram_jaccard and dd_dup_clusters.
    */
  private def jaccardPairs(s: SparkSession, dir: String): DataFrame = {
    val sh = withShingles(docs(s, dir)).select(col("doc_id"), col("sg"))
    lshPairs(s, dir)
      .join(sh.select(col("doc_id").as("id_a"), col("sg").as("sg_a")), Seq("id_a"))
      .join(sh.select(col("doc_id").as("id_b"), col("sg").as("sg_b")), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        jaccardSim(col("sg_a"), col("sg_b")).as("jaccard"))
      .filter(col("jaccard") >= 0.2)
  }

  private[graft] def duckJaccardCtesFrom(base: String,
      analyzer: String = Analyzer.Whitespace): String =
    s"""${duckLshPairsFrom(base, analyzer)},
       |j AS (SELECT p.id_a, p.id_b,
       |        round(CAST(len(list_intersect(sa.sg, sb.sg)) AS DOUBLE)
       |              / len(list_distinct(list_concat(sa.sg, sb.sg))), 6) AS jaccard
       |      FROM pairs p
       |      JOIN shing sa ON sa.doc_id = p.id_a
       |      JOIN shing sb ON sb.doc_id = p.id_b)""".stripMargin

  private[graft] val duckJaccardCtes = duckJaccardCtesFrom("documents")

  /** Cross-corpus LSH funnel CTEs (round 15): bands over `documents`
    * once, candidate pairs between ALL docs (id_a — the c1 side) and
    * the src0 slice (id_b — the docs_xe fixture's c2), verified by the
    * exact Jaccard measure at the default 0.2 — the SHOW DEDUP …
    * AGAINST oracle recompute. No id inequality: ids are never compared
    * across containers, so a doc verbatim-present in both sides is a
    * score-1 match (the cross-source curation semantics). */
  /** As [[duckCrossLshCtes]] with an explicit reference-side predicate
    * over `documents` — the AT VERSION oracle rows recompute the funnel
    * against DIFFERENT committed slices of the reference container
    * (round 16). */
  /** `c1Pred` (round 17, the FROM VERSION window row): restricts the
    * PROBE side's doc ids — the declarative spelling of "only rows c1
    * gained in the window probe the funnel". */
  private[graft] def duckCrossLshCtesFor(refPred: String,
      c1Pred: String = "TRUE"): String =
    s"""WITH RECURSIVE ${duckShinglesFrom("documents")},
       |$duckSignatures,
       |$duckBands,
       |xpairs AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
       |           FROM bands a JOIN bands b
       |             ON a.band = b.band AND a.bk = b.bk
       |           JOIN (SELECT doc_id FROM documents WHERE $c1Pred) q
       |             ON q.doc_id = a.doc_id
       |           JOIN (SELECT doc_id FROM documents WHERE $refPred) s
       |             ON s.doc_id = b.doc_id),
       |xscored AS (SELECT p.id_a, p.id_b,
       |        round(CAST(len(list_intersect(sa.sg, sb.sg)) AS DOUBLE)
       |              / len(list_distinct(list_concat(sa.sg, sb.sg))), 6) AS score
       |      FROM xpairs p
       |      JOIN shing sa ON sa.doc_id = p.id_a
       |      JOIN shing sb ON sb.doc_id = p.id_b),
       |xv AS (SELECT * FROM xscored WHERE score >= 0.2)""".stripMargin

  private[graft] val duckCrossLshCtes: String =
    duckCrossLshCtesFor("source = 'src0'")

  // ---- SimHash: 32-bit signature from token md5 nibbles. ------------------
  // Bit i of token-hash = bit (3 - i%4) of hex digit i/4 of md5(token).
  // Signature bit i = majority vote over tokens (sum of ±1 > 0).

  private def sparkTokenBit(i: Int): String = {
    val k = i / 4; val shift = 3 - (i % 4)
    s"((cast(conv(substring(h, ${k + 1}, 1), 16, 10) as int) >> $shift) & 1)"
  }

  private def duckTokenBit(i: Int): String = {
    val k = i / 4; val shift = 3 - (i % 4)
    s"(((strpos('0123456789abcdef', substr(h, ${k + 1}, 1)) - 1) >> $shift) & 1)"
  }

  /** simhash-32 over a (keys…, text) frame: md5-per-token bit votes →
    * 32-bit signature. Shared by the fixture queries (dd_simhash,
    * dd_simhash_neardup) and the catalog's `simhash` index maintenance
    * ([[graft.catalog.Index]] — `keys` carries the source-file column
    * there, functionally dependent on the doc id like withSignatures). */
  private[graft] def withSimhash(df: DataFrame, keys: Seq[String],
      analyzer: String = Analyzer.Whitespace): DataFrame = {
    val tok = df
      .select(keys.map(col) :+
        explode(Analyzer.tokens(col("text"), analyzer)).as("tk"): _*)
      .withColumn("h", md5(col("tk")))
    val bitAggs = (0 until 32).map(i =>
      sum(when(expr(sparkTokenBit(i)) === 1, 1).otherwise(-1)).as(s"b$i"))
    val sig = (0 until 32)
      .map(i => when(col(s"b$i") > 0, lit(1L << i)).otherwise(lit(0L)))
      .reduce(_ + _)
    tok.groupBy(keys.map(col): _*)
      .agg(bitAggs.head, bitAggs.tail: _*)
      .select(keys.map(col) :+ sig.cast("long").as("simhash"): _*)
  }

  /** simhash-32 per doc_id (shared by dd_simhash and dd_simhash_neardup). */
  private def simhashDf(s: SparkSession, dir: String): DataFrame =
    withSimhash(docs(s, dir).select(col("doc_id"), col("text")), Seq("doc_id"))

  /** The simhash-32 CTEs over an arbitrary base relation — `base` is a
    * table name or a parenthesized subquery (the query-by-text SIMILAR
    * oracle injects the literal probe as one extra row). */
  private[graft] def duckSimhashCteFrom(base: String,
      analyzer: String = Analyzer.Whitespace): String = {
    val bitSums = (0 until 32)
      .map(i => s"sum(CASE WHEN ${duckTokenBit(i)} = 1 THEN 1 ELSE -1 END) AS b$i")
      .mkString(", ")
    val sig = (0 until 32)
      .map(i => s"CASE WHEN b$i > 0 THEN ${1L << i} ELSE 0 END")
      .mkString(" + ")
    s"""tok AS (
       |  SELECT doc_id, md5(t.tk) AS h
       |  FROM (SELECT doc_id,
       |          unnest(${Analyzer.duckTokens("text", analyzer)}) AS tk
       |        FROM $base) t),
       |bits AS (SELECT doc_id, $bitSums FROM tok GROUP BY doc_id),
       |sigs AS (SELECT doc_id, CAST($sig AS BIGINT) AS simhash FROM bits)""".stripMargin
  }

  private[graft] val duckSimhashCte: String = duckSimhashCteFrom("documents")

  /** The corpus token stream (lowercased, whitespace-split) — the one
    * tokenization the heavy-hitter summary and its exact verification
    * both read, so they can never drift apart. */
  private def tokenStream(s: SparkSession, dir: String): DataFrame =
    docs(s, dir).select(explode(split(lower(col("text")), " ")).as("tok"))

  /** The k=256 Misra-Gries summary of the token stream as (token, est)
    * rows — shared by the ranked serving surface and the bound-family
    * oracle so the tokenization and k live in exactly one place. */
  private def heavyHitterSummary(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    tokenStream(s, dir).select(col("tok").as[String])
      .select(graft.functions.MisraGries.summary(256).name("mg"))
      .select(explode(col("mg")).as(Seq("token", "est")))
  }

  /** Ranked heavy-hitter list from the k=256 Misra-Gries summary — the
    * serving surface (MisraGriesSpec pins its shape; the `t_heavy_hitters`
    * oracle row asserts the bound family instead, because counts near the
    * rank cut vary with merge order). */
  def heavyHittersTop(s: SparkSession, dir: String): DataFrame =
    heavyHitterSummary(s, dir)
      .select(col("token"), col("est").as("approx_count"))
      .orderBy(col("approx_count").desc, col("token"))
      .limit(20)

  /** The corpus bigram stream (lowercased, whitespace-split, adjacent
    * pairs as a PURE PROJECTION over the split array — no window, no
    * self-join). The one construction `t_bigram_logppl`'s exact counts
    * and the Misra-Gries transition summary both read, so the exact and
    * approximate transition lanes can never drift apart. */
  private def bigramStream(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .select(col("doc_id"), split(lower(col("text")), " ").as("tk"))
      .filter(size(col("tk")) >= 2)
      .select(col("doc_id"), explode(
        transform(sequence(lit(1), size(col("tk")) - 1), i =>
          struct(element_at(col("tk"), i).as("w1"),
            element_at(col("tk"), i + 1).as("w2")))).as("p"))
      .select(col("doc_id"), col("p.w1"), col("p.w2"))

  /** The k=256 Misra-Gries summary of the BIGRAM stream as (bigram, est)
    * rows — the approximate sibling of `t_bigram_logppl`'s exact corpus
    * transition counts: top repeated transitions with ≤k counters across
    * the exchange instead of a distinct-bigram shuffle. Shared by the
    * ranked serving surface and the bound-family oracle. */
  private def heavyTransitionSummary(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    bigramStream(s, dir)
      .select(concat_ws(" ", col("w1"), col("w2")).as[String])
      .select(graft.functions.MisraGries.summary(256).name("mg"))
      .select(explode(col("mg")).as(Seq("bigram", "est")))
  }

  /** Ranked heavy-transition list from the k=256 summary — the serving
    * surface (MisraGriesSpec pins shape + bounds under multiple
    * partitionings; the `t_heavy_transitions` oracle row asserts the
    * bound family, exactly like `t_heavy_hitters`). */
  def heavyTransitionsTop(s: SparkSession, dir: String): DataFrame =
    heavyTransitionSummary(s, dir)
      .select(col("bigram"), col("est").as("approx_count"))
      .orderBy(col("approx_count").desc, col("bigram"))
      .limit(20)

  val defs: Seq[Q] = Seq(

    // -------- text analysis ------------------------------------------------

    Q("t_text_stats",
      """SELECT doc_id, n_chars,
        |       length(text) AS len_chars,
        |       len(string_split(text, ' ')) AS n_tokens,
        |       len(list_distinct(string_split(lower(text), ' '))) AS n_uniq_tokens,
        |       round(CAST(length(text) AS DOUBLE) / len(string_split(text, ' ')), 6) AS chars_per_token
        |FROM documents ORDER BY doc_id""".stripMargin) {
      (s, dir) =>
        docs(s, dir).select(
          col("doc_id"), col("n_chars"),
          length(col("text")).as("len_chars"),
          size(split(col("text"), " ")).cast("long").as("n_tokens"),
          size(array_distinct(split(lower(col("text")), " "))).cast("long").as("n_uniq_tokens"),
          round(length(col("text")).cast("double") / size(split(col("text"), " ")), 6)
            .as("chars_per_token")
        ).orderBy(col("doc_id"))
    },

    // BPE-ish token counting: letter-runs, digit-runs, single punctuation.
    Q("t_token_count",
      """SELECT doc_id,
        |       len(string_split(text, ' ')) AS ws_tokens,
        |       len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS bpe_ish_tokens
        |FROM documents ORDER BY doc_id""".stripMargin) {
      (s, dir) =>
        docs(s, dir).select(
          col("doc_id"),
          size(split(col("text"), " ")).cast("long").as("ws_tokens"),
          size(expr("regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9 ]', 0)"))
            .cast("long").as("bpe_ish_tokens")
        ).orderBy(col("doc_id"))
    },

    // Context-window chunking: every document split into token windows of
    // 50 with stride 40 (10-token overlap) — the packing-input shape a
    // training pipeline feeds a fixed-context model. Window i covers
    // tokens [40i+1, min(40i+50, n)]; i ranges 0..⌊(n-1)/40⌋, so the tail
    // chunk may be short but never empty, identically in both engines.
    // Scale shape: one scan, explode fans out ~n/40 rows per doc with no
    // shuffle; slice/join are codegen'd array ops.
    Q("t_chunk_windows",
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
        |w AS (SELECT doc_id, tk, len(tk) AS n,
        |             unnest(range((len(tk) - 1) // 40 + 1)) AS i
        |      FROM toks)
        |SELECT doc_id, i AS chunk_idx,
        |       len(list_slice(tk, i*40 + 1, least(i*40 + 50, n))) AS n_tokens,
        |       array_to_string(list_slice(tk, i*40 + 1, least(i*40 + 50, n)), ' ') AS chunk
        |FROM w ORDER BY doc_id, chunk_idx""".stripMargin) {
      (s, dir) => chunkWindows(docs(s, dir)).orderBy(col("doc_id"), col("chunk_idx"))
    },

    // Language-ID by stopword-marker scoring with a deterministic argmax
    // (n-gram heuristic; both engines evaluate the identical CASE cascade).
    Q("t_lang_id",
      """WITH scored AS (
        |  SELECT doc_id, lang,
        |    (CASE WHEN ' '||text||' ' LIKE '% the %' THEN 1 ELSE 0 END +
        |     CASE WHEN ' '||text||' ' LIKE '% a %' THEN 1 ELSE 0 END) AS sc_en,
        |    (CASE WHEN ' '||text||' ' LIKE '% der %' THEN 1 ELSE 0 END +
        |     CASE WHEN ' '||text||' ' LIKE '% und %' THEN 1 ELSE 0 END) AS sc_de,
        |    (CASE WHEN ' '||text||' ' LIKE '% le %' THEN 1 ELSE 0 END +
        |     CASE WHEN ' '||text||' ' LIKE '% et %' THEN 1 ELSE 0 END) AS sc_fr
        |  FROM documents)
        |SELECT doc_id, lang,
        |       CASE WHEN sc_en >= sc_de AND sc_en >= sc_fr AND sc_en > 0 THEN 'en'
        |            WHEN sc_de >= sc_fr AND sc_de > 0 THEN 'de'
        |            WHEN sc_fr > 0 THEN 'fr'
        |            ELSE 'unknown' END AS pred_lang
        |FROM scored ORDER BY doc_id""".stripMargin) {
      (s, dir) => {
        val padded = concat(lit(" "), col("text"), lit(" "))
        def marker(w: String) = when(padded.contains(s" $w "), 1).otherwise(0)
        docs(s, dir)
          .withColumn("sc_en", marker("the") + marker("a"))
          .withColumn("sc_de", marker("der") + marker("und"))
          .withColumn("sc_fr", marker("le") + marker("et"))
          .select(col("doc_id"), col("lang"),
            when(col("sc_en") >= col("sc_de") && col("sc_en") >= col("sc_fr")
              && col("sc_en") > 0, "en")
              .when(col("sc_de") >= col("sc_fr") && col("sc_de") > 0, "de")
              .when(col("sc_fr") > 0, "fr")
              .otherwise("unknown").as("pred_lang"))
          .orderBy(col("doc_id"))
      }
    },

    // Quality scoring: length band + stopword ratio + punctuation ratio.
    Q("t_quality_score",
      """SELECT doc_id,
        |  round(CAST(len(list_filter(string_split(lower(text), ' '),
        |          t -> t IN ('the','a','and','of','to'))) AS DOUBLE)
        |        / len(string_split(text, ' ')), 6) AS stopword_ratio,
        |  round(CAST(len(regexp_extract_all(text, '[^a-z0-9 ]')) AS DOUBLE)
        |        / length(text), 6) AS punct_ratio,
        |  CASE WHEN n_chars BETWEEN 100 AND 2000 THEN 1 ELSE 0 END AS len_ok
        |FROM documents ORDER BY doc_id""".stripMargin) {
      (s, dir) => qualitySignals(docs(s, dir)).orderBy(col("doc_id"))
    },

    // Deterministic train/val/test split by content-independent hash of
    // the stable id — the standard leakage-safe corpus split: assignment
    // never changes as the corpus grows, needs no shuffle (pure
    // projection + one tiny agg), and both engines compute it
    // bit-identically from md5 hex.
    Q("t_hash_split",
      """WITH s AS (
        |  SELECT CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) < '2' THEN 'test'
        |              WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) < '4' THEN 'val'
        |              ELSE 'train' END AS split, lang
        |  FROM documents)
        |SELECT split, count(*) AS n, count(DISTINCT lang) AS n_langs
        |FROM s GROUP BY split ORDER BY split""".stripMargin) {
      (s, dir) => {
        val nib = substring(md5(col("doc_id").cast("string")), 1, 1)
        Tables.load(s, dir, "documents")
          .select(when(nib < "2", "test").when(nib < "4", "val")
            .otherwise("train").as("split"), col("lang"))
          .groupBy(col("split"))
          .agg(count(lit(1)).as("n"), countDistinct(col("lang")).as("n_langs"))
          .orderBy(col("split"))
      }
    },

    // Stratified sample: k deterministic docs per language stratum,
    // ordered by id-hash (uniform within the stratum). One sort shuffle
    // partitioned by the stratum key; rank-filter keeps k rows per group.
    Q("t_stratified_sample",
      """WITH h AS (SELECT doc_id, lang, md5(CAST(doc_id AS VARCHAR)) AS hk FROM documents),
        |r AS (SELECT doc_id, lang,
        |        row_number() OVER (PARTITION BY lang ORDER BY hk, doc_id) AS rn
        |      FROM h)
        |SELECT lang, doc_id FROM r WHERE rn <= 3
        |ORDER BY lang, doc_id""".stripMargin) {
      (s, dir) => {
        val w = Window.partitionBy(col("lang"))
          .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
        Tables.load(s, dir, "documents")
          .select(col("lang"), col("doc_id"), row_number().over(w).as("rn"))
          .filter(col("rn") <= 3)
          .select(col("lang"), col("doc_id"))
          .orderBy(col("lang"), col("doc_id"))
      }
    },

    // Gopher-style quality rules (Rae et al. 2021 §A1.1, public): word
    // count bounds, mean word length band, symbol-to-word ratio, and
    // max-repeated-token share — the standard pre-training corpus filter,
    // one single-scan projection per document.
    Q("t_gopher_rules",
      """WITH w AS (SELECT doc_id, text, string_split(lower(text), ' ') AS tk FROM documents),
        |m AS (SELECT doc_id,
        |        len(tk) AS n_words,
        |        round(CAST(len(array_to_string(tk, '')) AS DOUBLE)
        |              / len(tk), 6) AS mean_word_len,
        |        round(CAST(len(regexp_extract_all(text, '[#*=+~|]')) AS DOUBLE)
        |              / len(tk), 6) AS symbol_word_ratio,
        |        round(CAST(list_max(list_transform(list_distinct(tk),
        |                x -> len(list_filter(tk, y -> y = x)))) AS DOUBLE)
        |              / len(tk), 6) AS top_token_share
        |      FROM w)
        |SELECT doc_id, n_words, mean_word_len, symbol_word_ratio, top_token_share,
        |       CASE WHEN n_words BETWEEN 10 AND 1000
        |             AND mean_word_len BETWEEN 2 AND 10
        |             AND symbol_word_ratio < 0.1
        |             AND top_token_share < 0.2 THEN 1 ELSE 0 END AS keep
        |FROM m ORDER BY doc_id""".stripMargin) {
      (s, dir) => {
        val w = docs(s, dir)
          .withColumn("tk", split(lower(col("text")), " "))
        // max repeated-token share without a per-doc sub-aggregation:
        // sort the token array, then the longest run of equal neighbors is
        // the top count — aggregate(…) folds the sorted array once (no
        // explode, no extra shuffle; stays inside the single scan)
        val topCount = expr(
          """aggregate(array_sort(tk),
            |  struct(CAST(0 AS INT) AS best, CAST(0 AS INT) AS run, CAST('' AS STRING) AS prev),
            |  (acc, t) -> struct(
            |    greatest(acc.best, IF(t = acc.prev, acc.run + 1, 1)) AS best,
            |    IF(t = acc.prev, acc.run + 1, 1) AS run,
            |    t AS prev),
            |  acc -> acc.best)""".stripMargin)
        val m = w.select(
          col("doc_id"),
          size(col("tk")).cast("long").as("n_words"),
          round(length(concat_ws("", col("tk"))).cast("double")
            / size(col("tk")), 6).as("mean_word_len"),
          round(size(expr("regexp_extract_all(text, '[#*=+~|]', 0)")).cast("double")
            / size(col("tk")), 6).as("symbol_word_ratio"),
          round(topCount.cast("double") / size(col("tk")), 6).as("top_token_share"))
        m.withColumn("keep",
            when(col("n_words").between(10, 1000)
              && col("mean_word_len").between(2, 10)
              && col("symbol_word_ratio") < 0.1
              && col("top_token_share") < 0.2, 1).otherwise(0))
          .orderBy(col("doc_id"))
      }
    },

    // Repetition filters (Gopher §A1.1's repetition family, public): the
    // duplicated-word fraction and the share of the most frequent word
    // bigram. Complements t_gopher_rules' top-token share with the 2-gram
    // signal that catches boilerplate loops single tokens miss.
    // Shape: word stats are a pure projection (no shuffle); the bigram mode
    // needs a per-(doc, bigram) count → partial-agg group-by, then a max/sum
    // per doc — the explode rows collapse map-side, so the exchange carries
    // distinct (doc_id, bigram) counts, not the token stream.
    Q("t_repetition_filter",
      """WITH toks AS (SELECT doc_id, string_split(lower(text),' ') tk FROM documents),
        |w AS (SELECT doc_id, len(tk) AS n_tokens,
        |        round(1.0 - CAST(len(list_distinct(tk)) AS DOUBLE) / len(tk), 6) AS dup_word_frac
        |      FROM toks),
        |bg AS (SELECT doc_id,
        |         unnest(list_transform(range(1, len(tk)), i -> tk[i] || ' ' || tk[i+1])) AS b
        |       FROM toks WHERE len(tk) >= 2),
        |bc AS (SELECT doc_id, b, count(*) AS c FROM bg GROUP BY 1, 2),
        |bt AS (SELECT doc_id, round(CAST(max(c) AS DOUBLE) / sum(c), 6) AS top_bigram_share
        |       FROM bc GROUP BY doc_id)
        |SELECT w.doc_id, w.n_tokens, w.dup_word_frac,
        |       coalesce(bt.top_bigram_share, 0.0) AS top_bigram_share,
        |       (w.dup_word_frac <= 0.55 AND coalesce(bt.top_bigram_share, 0.0) <= 0.18) AS keep
        |FROM w LEFT JOIN bt ON w.doc_id = bt.doc_id
        |ORDER BY w.doc_id""".stripMargin) {
      (s, dir) => repetitionFilter(docs(s, dir)).orderBy(col("doc_id"))
    },

    // Document fingerprinting (content-hash family).
    Q("t_fingerprint",
      """SELECT doc_id,
        |       md5(text) AS fp,
        |       substr(md5(text), 1, 8) AS fp_prefix,
        |       md5(array_to_string(list_sort(list_distinct(string_split(lower(text),' '))),' ')) AS bow_fp
        |FROM documents ORDER BY doc_id""".stripMargin) {
      (s, dir) =>
        docs(s, dir).select(
          col("doc_id"),
          md5(col("text")).as("fp"),
          substring(md5(col("text")), 1, 8).as("fp_prefix"),
          md5(concat_ws(" ", array_sort(array_distinct(split(lower(col("text")), " ")))))
            .as("bow_fp")
        ).orderBy(col("doc_id"))
    },

    // Array-function surface over tokenized text (size/contains/sort/slice/
    // position with identical semantics in both engines). The sliced array
    // is stringified on output — the driver's pandas-based compare cannot
    // hash a list column — but the array ops themselves stay exercised.
    Q("t_array_functions",
      """WITH toks AS (SELECT doc_id, string_split(lower(text),' ') tk FROM documents)
        |SELECT doc_id,
        |       len(tk) AS n_tok,
        |       list_contains(tk, 'the') AS has_the,
        |       array_to_string(list_sort(list_distinct(tk))[1:3], ',') AS first3,
        |       tk[1] AS head_tok,
        |       tk[len(tk)] AS last_tok
        |FROM toks ORDER BY doc_id""".stripMargin) {
      (s, dir) =>
        docs(s, dir)
          .withColumn("tk", split(lower(col("text")), " "))
          .select(
            col("doc_id"),
            size(col("tk")).cast("long").as("n_tok"),
            array_contains(col("tk"), "the").as("has_the"),
            concat_ws(",", slice(array_sort(array_distinct(col("tk"))), 1, 3)).as("first3"),
            element_at(col("tk"), 1).as("head_tok"),
            element_at(col("tk"), -1).as("last_tok"))
          .orderBy(col("doc_id"))
    },

    // -------- deduplication ------------------------------------------------

    // Exact dedup: hash-groupBy; keeper = min doc_id per content hash.
    Q("dd_exact",
      """SELECT md5(text) AS h, count(*) AS n, min(doc_id) AS keeper
        |FROM documents GROUP BY 1 ORDER BY h""".stripMargin, bench = true) {
      (s, dir) =>
        docs(s, dir).groupBy(md5(col("text")).as("h"))
          .agg(count(lit(1)).as("n"), min(col("doc_id")).as("keeper"))
          .orderBy(col("h"))
    },

    // Near-dup groups by sorted-distinct-token (bag-of-words) fingerprint —
    // catches token-order shuffles.
    Q("dd_bow_dedup",
      """WITH f AS (SELECT doc_id,
        |    md5(array_to_string(list_sort(list_distinct(string_split(lower(text),' '))),' ')) AS h
        |  FROM documents)
        |SELECT h, count(*) AS n, min(doc_id) AS keeper FROM f
        |GROUP BY h HAVING count(*) > 1 ORDER BY h""".stripMargin) {
      (s, dir) =>
        docs(s, dir)
          .select(col("doc_id"),
            md5(concat_ws(" ", array_sort(array_distinct(split(lower(col("text")), " ")))))
              .as("h"))
          .groupBy(col("h"))
          .agg(count(lit(1)).as("n"), min(col("doc_id")).as("keeper"))
          .filter(col("n") > 1)
          .orderBy(col("h"))
    },

    // MinHash + LSH candidate pairs (8 hashes, 4 bands × 2 rows).
    Q("dd_minhash_lsh",
      s"""$duckLshPairs
         |SELECT id_a, id_b FROM pairs ORDER BY id_a, id_b""".stripMargin,
      bench = true) {
      (s, dir) => lshPairs(s, dir).orderBy(col("id_a"), col("id_b"))
    },

    // Near-dup candidate LOOKUP served from the persisted bucketed band
    // index (lshBandIndex) — the text-side twin of sim_ann_ivf_persisted:
    // query docs contribute 4 literal band keys each, the index scan is
    // bucket-pruned to those keys, and the corpus is never re-shingled.
    // The oracle recomputes the same lookup declaratively: an index may
    // only change where rows come from, never what they are.
    Q("dd_lsh_index_lookup",
      s"""WITH RECURSIVE $duckShingles,
         |$duckSignatures,
         |$duckBands,
         |q AS (SELECT doc_id AS qid, band AS qband, bk AS qbk
         |      FROM bands WHERE doc_id < 5)
         |SELECT DISTINCT q.qid, c.doc_id AS cand
         |FROM q JOIN bands c
         |  ON c.band = q.qband AND c.bk = q.qbk AND c.doc_id <> q.qid
         |ORDER BY qid, cand""".stripMargin) {
      (s, dir) => lshIndexLookup(s, dir).orderBy(col("qid"), col("cand"))
    },

    // N-gram Jaccard verification of the LSH candidates — the exact-check
    // stage of the near-dup pipeline (only bucket-colliding pairs pay the
    // set-intersection cost).
    Q("dd_ngram_jaccard",
      s"""$duckJaccardCtes
         |SELECT id_a, id_b, jaccard FROM j WHERE jaccard >= 0.2
         |ORDER BY id_a, id_b""".stripMargin) {
      (s, dir) =>
        jaccardPairs(s, dir).orderBy(col("id_a"), col("id_b"))
    },

    // Cross-doc duplicated-span profile — the fixed-gram approximation of
    // exact substring dedup (Lee et al. 2021, "Deduplicating Training Data
    // Makes Language Models Better", public): for each document, what
    // fraction of its 4-gram spans also appears in at least one OTHER
    // document. Unlike dd_ngram_jaccard (pairwise, LSH-gated) this is the
    // corpus-global per-document signal used to drop or trim boilerplate-
    // heavy docs.
    // Shape: grams are md5'd before any exchange, so the shuffles carry
    // (32-hex, doc_id) — never the text. distinct → window count per gram
    // (partial-agg-free but narrow) → per-doc group-by. No self-join and
    // no candidate blow-up: cost is linear in the number of distinct
    // (doc, gram) pairs at any corpus size.
    Q("dd_common_spans",
      """WITH toks AS (SELECT doc_id,
        |        list_filter(string_split(lower(text),' '), t -> t <> '') tk
        |      FROM documents),
        |g AS (SELECT doc_id, unnest(list_transform(range(1, len(tk)-2),
        |        i -> tk[i]||' '||tk[i+1]||' '||tk[i+2]||' '||tk[i+3])) AS g
        |      FROM toks WHERE len(tk) >= 4),
        |dg AS (SELECT DISTINCT doc_id, md5(g) AS gh FROM g),
        |freq AS (SELECT gh, count(*) AS nd FROM dg GROUP BY gh)
        |SELECT dg.doc_id, count(*) AS total_grams,
        |       count(*) FILTER (WHERE freq.nd > 1) AS shared_grams,
        |       round(CAST(count(*) FILTER (WHERE freq.nd > 1) AS DOUBLE) / count(*), 6)
        |         AS shared_frac
        |FROM dg JOIN freq USING (gh)
        |GROUP BY dg.doc_id ORDER BY dg.doc_id""".stripMargin) {
      (s, dir) => commonSpans(docs(s, dir)).orderBy(col("doc_id"))
    },

    // Connected components over the verified near-dup graph — the CLUSTER
    // step of corpus dedup (cluster, then keep one doc per cluster).
    // Spark side: a driver loop of distributed joins combining min-label
    // propagation (each vertex adopts the smallest label among itself and
    // its neighbors) with POINTER JUMPING (each vertex also adopts its
    // label's label — label values are themselves vertex ids, so labels(l)
    // always resolves). The jump halves label-chain length per round, so
    // convergence takes O(log diameter) rounds — a 20-round cap covers
    // diameters past 10^6, where plain propagation needs diameter rounds
    // (the same doubling idea as the star operations in Kiveris et al.
    // 2014, "Connected Components in MapReduce and Beyond"). Convergence
    // is a no-assignment-changed anti-join probe over the label table
    // (typed — works for TEXT pks too), one small action per round.
    // Each round is localCheckpoint'ed (eager): that truncates lineage —
    // persist() alone would not — and the superseded round's blocks are
    // dropped by the ContextCleaner once unreferenced, so nothing leaks in
    // a resident session. (On a cluster, reliable checkpointing to the
    // checkpoint dir is the fault-tolerant variant of the same move.)
    // The DuckDB oracle recomputes components declaratively with a
    // recursive CTE.
    Q("dd_dup_clusters",
      s"""$duckJaccardCtes,
         |verified AS (SELECT id_a, id_b FROM j WHERE jaccard >= 0.2),
         |e AS (SELECT id_a AS a, id_b AS b FROM verified
         |      UNION ALL SELECT id_b, id_a FROM verified),
         |nodes AS (SELECT DISTINCT a AS v FROM e),
         |walk(v, l) AS (
         |  SELECT v, v FROM nodes
         |  UNION
         |  SELECT e.b, w.l FROM walk w JOIN e ON e.a = w.v),
         |comp AS (SELECT v, min(l) AS l FROM walk GROUP BY v)
         |SELECT v AS doc_id, CAST(l AS BIGINT) AS cluster_id FROM comp
         |ORDER BY doc_id""".stripMargin) {
      (s, dir) => connectedComponents(
        jaccardPairs(s, dir).select(col("id_a"), col("id_b")))
        .select(col("v").as("doc_id"), col("l").as("cluster_id"))
        .orderBy(col("doc_id"))
    },

    // The dedup REPORT — the one-row summary a curation run ships: corpus
    // size, docs in exact-duplicate groups, docs the LSH bands flagged,
    // docs the exact Jaccard check confirmed, near-dup cluster count, and
    // the removal count a keep-one-per-cluster policy implies. Composes
    // the whole funnel (exact → band candidates → verify → cluster) into
    // the numbers that decide whether a dedup pass ships; every stage is
    // the already-oracle-verified pipeline, so this pins their
    // composition too. All-aggregate plan: each stat is a partial-agg
    // scan/reuse, cross-joined as 1-row dimensions.
    Q("dd_dedup_report",
      s"""$duckJaccardCtes,
         |verified AS (SELECT id_a, id_b FROM j WHERE jaccard >= 0.2),
         |e AS (SELECT id_a AS a, id_b AS b FROM verified
         |      UNION ALL SELECT id_b, id_a FROM verified),
         |nodes AS (SELECT DISTINCT a AS v FROM e),
         |walk(v, l) AS (
         |  SELECT v, v FROM nodes
         |  UNION
         |  SELECT e.b, w.l FROM walk w JOIN e ON e.a = w.v),
         |comp AS (SELECT v, min(l) AS l FROM walk GROUP BY v),
         |tot AS (SELECT count(*) AS n_docs FROM documents),
         |exdup AS (SELECT COALESCE(CAST(sum(n) AS BIGINT), 0) AS exact_dup_docs
         |          FROM (SELECT count(*) AS n FROM documents
         |                GROUP BY md5(text) HAVING count(*) > 1)),
         |cand AS (SELECT count(DISTINCT v) AS lsh_candidate_docs
         |         FROM (SELECT id_a AS v FROM pairs UNION SELECT id_b FROM pairs)),
         |vm AS (SELECT count(*) AS verified_dup_docs,
         |              count(DISTINCT l) AS n_clusters FROM comp)
         |SELECT tot.n_docs, exdup.exact_dup_docs, cand.lsh_candidate_docs,
         |       vm.verified_dup_docs, CAST(vm.n_clusters AS BIGINT) AS n_clusters,
         |       CAST(vm.verified_dup_docs - vm.n_clusters AS BIGINT) AS near_dup_removals
         |FROM tot, exdup, cand, vm""".stripMargin) {
      (s, dir) => {
        val d = docs(s, dir)
        val tot = d.agg(count(lit(1)).as("n_docs"))
        val ex = d.groupBy(md5(col("text")).as("h")).agg(count(lit(1)).as("n"))
          .filter(col("n") > 1)
          .agg(coalesce(sum(col("n")), lit(0L)).cast("long").as("exact_dup_docs"))
        val cand = lshPairs(s, dir)
          .select(explode(array(col("id_a"), col("id_b"))).as("v"))
          .agg(countDistinct(col("v")).as("lsh_candidate_docs"))
        val comp = connectedComponents(
          jaccardPairs(s, dir).filter(col("jaccard") >= 0.2)
            .select(col("id_a"), col("id_b")))
        val vm = comp.agg(count(lit(1)).as("verified_dup_docs"),
          countDistinct(col("l")).as("n_clusters"))
        tot.crossJoin(ex).crossJoin(cand).crossJoin(vm)
          .withColumn("near_dup_removals",
            (col("verified_dup_docs") - col("n_clusters")).cast("long"))
      }
    },

    // Cluster keeper policy — the SELECT step after dd_dup_clusters: keep
    // the longest document per near-dup cluster (ties → smallest doc_id),
    // the usual "best representative" curation choice. The cluster set is
    // tiny relative to the corpus (only docs in the near-dup graph), so
    // the keeper ranking is a window over the component table, not the
    // corpus; the corpus join fetches n_chars by doc_id equi-join.
    Q("dd_cluster_keepers",
      s"""$duckJaccardCtes,
         |verified AS (SELECT id_a, id_b FROM j WHERE jaccard >= 0.2),
         |e AS (SELECT id_a AS a, id_b AS b FROM verified
         |      UNION ALL SELECT id_b, id_a FROM verified),
         |nodes AS (SELECT DISTINCT a AS v FROM e),
         |walk(v, l) AS (
         |  SELECT v, v FROM nodes
         |  UNION
         |  SELECT e.b, w.l FROM walk w JOIN e ON e.a = w.v),
         |comp AS (SELECT v, min(l) AS l FROM walk GROUP BY v),
         |ranked AS (SELECT c.l, c.v, d.n_chars,
         |             row_number() OVER (PARTITION BY c.l ORDER BY d.n_chars DESC, c.v) AS rn
         |           FROM comp c JOIN documents d ON d.doc_id = c.v),
         |agg AS (SELECT l, count(*) AS n_docs FROM comp GROUP BY l)
         |SELECT CAST(a.l AS BIGINT) AS cluster_id, a.n_docs,
         |       r.v AS keeper, r.n_chars AS keeper_chars
         |FROM agg a JOIN ranked r ON r.l = a.l AND r.rn = 1
         |ORDER BY cluster_id""".stripMargin) {
      (s, dir) => {
        val comp = connectedComponents(
          jaccardPairs(s, dir).select(col("id_a"), col("id_b")))
        val chars = docs(s, dir).select(col("doc_id"), col("n_chars"))
        val byLen = Window.partitionBy(col("l"))
          .orderBy(col("n_chars").desc, col("v"))
        val keepers = comp.join(chars, comp("v") === chars("doc_id"))
          .withColumn("rn", row_number().over(byLen))
          .filter(col("rn") === 1)
        comp.groupBy(col("l")).agg(count(lit(1)).as("n_docs"))
          .join(keepers, Seq("l"))
          .select(col("l").cast("long").as("cluster_id"), col("n_docs"),
            col("v").as("keeper"), col("n_chars").as("keeper_chars"))
          .orderBy(col("cluster_id"))
      }
    },

    // SimHash-32 signature per document; identical signature ⇒ near-dup
    // bucket. Majority vote per bit over token hashes.
    Q("dd_simhash",
      s"""WITH $duckSimhashCte
         |SELECT doc_id, simhash FROM sigs
         |ORDER BY doc_id""".stripMargin, bench = true) {
      (s, dir) => simhashDf(s, dir).orderBy(col("doc_id"))
    },

    // Near-dup candidate LOOKUP served from the persisted simhash band
    // index — the token-level twin of dd_lsh_index_lookup: ≤4 literal
    // band keys per query doc bucket-prune the index scan; candidates
    // include the band false-positive tail (the verify stage's job). The
    // oracle recomputes the same lookup declaratively.
    Q("dd_simhash_index_lookup",
      s"""WITH $duckSimhashCte,
         |banded AS (
         |  SELECT doc_id, band, (simhash >> (8 * band)) & 255 AS bv
         |  FROM sigs CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS band) bands),
         |q AS (SELECT doc_id AS qid, band AS qband, bv AS qbv
         |      FROM banded WHERE doc_id < 5)
         |SELECT DISTINCT q.qid, c.doc_id AS cand
         |FROM q JOIN banded c
         |  ON c.band = q.qband AND c.bv = q.qbv AND c.doc_id <> q.qid
         |ORDER BY qid, cand""".stripMargin) {
      (s, dir) => simhashIndexLookup(s, dir).orderBy(col("qid"), col("cand"))
    },

    // SimHash near-dup pairs: Hamming distance ≤ 1 over the 32-bit
    // signatures, found SUB-QUADRATICALLY by banding each signature into
    // 4×8-bit keys and equi-joining on (band, byte). A pair within distance
    // 1 differs in at most one band, so it collides on ≥ 3 of the 4 band
    // keys — the equi-join is lossless for this radius; the bit_count
    // filter then discards band false-positives. Same banding in both
    // engines; the join shuffles (band, byte, doc_id, sig) tuples only.
    Q("dd_simhash_neardup",
      s"""WITH $duckSimhashCte,
         |banded AS (
         |  SELECT doc_id, simhash, band, (simhash >> (8 * band)) & 255 AS bv
         |  FROM sigs CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS band) bands)
         |SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
         |       CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
         |FROM banded a JOIN banded b
         |  ON a.band = b.band AND a.bv = b.bv AND a.doc_id < b.doc_id
         |WHERE bit_count(xor(a.simhash, b.simhash)) <= 1
         |ORDER BY id_a, id_b""".stripMargin) {
      (s, dir) => {
        val sigs = simhashDf(s, dir)
        val bandStructs = (0 until 4).map(b =>
          struct(lit(b).as("band"), expr(s"shiftright(simhash, ${8 * b}) & 255").as("bv")))
        val banded = sigs
          .select(col("doc_id"), col("simhash"), explode(array(bandStructs: _*)).as("bb"))
          .select(col("doc_id"), col("simhash"), col("bb.band").as("band"), col("bb.bv").as("bv"))
        val a = banded.select(col("band"), col("bv"), col("doc_id").as("id_a"), col("simhash").as("sh_a"))
        val b = banded.select(col("band"), col("bv"), col("doc_id").as("id_b"), col("simhash").as("sh_b"))
        a.join(b, Seq("band", "bv"))
          .filter(col("id_a") < col("id_b"))
          .withColumn("hamming", bit_count(col("sh_a").bitwiseXOR(col("sh_b"))))
          .filter(col("hamming") <= 1)
          .select(col("id_a"), col("id_b"), col("hamming"))
          .distinct()
          .orderBy(col("id_a"), col("id_b"))
      }
    },

    // The full curation pipeline as ONE declarative plan: exact-dedup
    // keepers ∩ length band ∩ stopword floor ∩ predicted-language filter —
    // the composed shape of a training-data cleaning job.
    Q("t_curation_pipeline",
      """WITH keepers AS (
        |  SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text)),
        |scored AS (
        |  SELECT doc_id, n_chars,
        |    CAST(len(list_filter(string_split(lower(text), ' '),
        |         t -> t IN ('the','a','and','of','to'))) AS DOUBLE)
        |      / len(string_split(text, ' ')) AS stop_ratio
        |  FROM documents)
        |SELECT s.doc_id FROM scored s JOIN keepers k ON s.doc_id = k.doc_id
        |WHERE s.n_chars BETWEEN 100 AND 2000 AND s.stop_ratio >= 0.02
        |ORDER BY s.doc_id""".stripMargin) {
      (s, dir) => {
        val d = docs(s, dir)
        val keepers = d.groupBy(md5(col("text")).as("h"))
          .agg(min(col("doc_id")).as("doc_id")).select(col("doc_id"))
        val scored = d.select(col("doc_id"), col("n_chars"),
          (size(filter(split(lower(col("text")), " "),
            t => t.isin("the", "a", "and", "of", "to"))).cast("double")
            / size(split(col("text"), " "))).as("stop_ratio"))
        scored.join(keepers, Seq("doc_id"), "left_semi")
          .filter(col("n_chars").between(100, 2000) && col("stop_ratio") >= 0.02)
          .select(col("doc_id"))
          .orderBy(col("doc_id"))
      }
    },

    // Heavy hitters over the token stream via the Misra-Gries mergeable
    // summary (graft.functions.MisraGries): each partition builds a
    // k-counter summary and only ≤ k (token, count) pairs cross the
    // exchange — the approximate sibling of t_ngram_frequency's exact
    // groupBy, which at 100 TB must shuffle every distinct token. The raw
    // counts can't be a value oracle: MG merge is commutative but NOT
    // associative, so counts near the rank-(k+1) cut legitimately vary
    // with shuffle-fetch arrival order across runs. What IS deterministic
    // under every merge order is the guarantee family, so the oracle row
    // emits it as booleans DuckDB re-asserts: every summary estimate
    // undercounts its true frequency by at most n/(k+1) (and never
    // overcounts), and every token with true count > n/(k+1) is present
    // in the summary — alongside the exact token total, which stays
    // hash-exact. The exact groupBy here is the verification harness,
    // not the serving path (MisraGriesSpec re-pins the bounds under
    // multiple partitionings; heavyHittersTop serves the ranked list).
    Q("t_heavy_hitters",
      """SELECT CAST(sum(len(string_split(lower(text), ' '))) AS BIGINT)
        |         AS n_tokens,
        |       CAST(256 AS INT) AS k, TRUE AS all_underestimates,
        |       TRUE AS all_within_bound, TRUE AS all_heavy_present
        |FROM documents""".stripMargin) {
      (s, dir) => {
        val mg = heavyHitterSummary(s, dir)
        val exact = tokenStream(s, dir)
          .groupBy(col("tok")).agg(count(lit(1)).as("tc"))
        // total tokens derives from the exact counts — no third scan
        val tot = exact.agg(sum(col("tc")).as("n_tokens"))
        // bound = n/(k+1): the MG error envelope for k=256 counters
        val joined = mg.join(exact, col("token") === col("tok"))
          .crossJoin(broadcast(tot))
        val summaryChecks = joined.agg(
          bool_and(col("est") <= col("tc")).as("all_underestimates"),
          bool_and(col("tc") <= col("est") + col("n_tokens") / lit(257.0))
            .as("all_within_bound"))
        val missedHeavy = exact.crossJoin(broadcast(tot))
          .filter(col("tc") > col("n_tokens") / lit(257.0))
          .join(mg, col("token") === col("tok"), "left_anti")
          .agg(count(lit(1)).as("n_missed"))
        tot.crossJoin(broadcast(summaryChecks))
          .crossJoin(broadcast(missedHeavy))
          .select(col("n_tokens"), lit(256).as("k"),
            col("all_underestimates"), col("all_within_bound"),
            (col("n_missed") === 0L).as("all_heavy_present"))
      }
    },

    // Weighted data mixing: downsample each language stratum to a target
    // rate by the same content-independent id hash as t_hash_split — the
    // "data mixture" step of corpus assembly (e.g. cap low-quality
    // languages, keep English-heavy). keep ⟺ first two md5 hex chars of
    // the id sort below the rate's 2-hex threshold (string compare on
    // fixed-width lowercase hex ≡ numeric compare, bit-identical in both
    // engines). Pure projection + one partial-agg group-by: assignment is
    // stable as the corpus grows and needs no shuffle of the payload.
    Q("t_weighted_mix",
      """WITH k AS (
        |  SELECT lang,
        |    CASE lang WHEN 'en' THEN 'e6' WHEN 'de' THEN '80'
        |              WHEN 'fr' THEN '40' WHEN 'es' THEN '40'
        |              ELSE '1a' END AS thr,
        |    substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) AS hk
        |  FROM documents)
        |SELECT lang, count(*) AS n_total,
        |       CAST(sum(CASE WHEN hk < thr THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |       round(CAST(sum(CASE WHEN hk < thr THEN 1 ELSE 0 END) AS DOUBLE)
        |             / count(*), 6) AS kept_rate
        |FROM k GROUP BY lang ORDER BY lang""".stripMargin) {
      (s, dir) => {
        val thr = when(col("lang") === "en", "e6").when(col("lang") === "de", "80")
          .when(col("lang") === "fr", "40").when(col("lang") === "es", "40")
          .otherwise("1a")
        val kept = when(substring(md5(col("doc_id").cast("string")), 1, 2) < thr, 1)
          .otherwise(0)
        docs(s, dir).select(col("lang"), kept.as("keep"))
          .groupBy(col("lang"))
          .agg(count(lit(1)).as("n_total"),
            sum(col("keep")).as("n_kept"),
            round(sum(col("keep")).cast("double") / count(lit(1)), 6).as("kept_rate"))
          .orderBy(col("lang"))
      }
    },

    // Benchmark decontamination: flag corpus documents sharing any 4-word
    // gram with a held-out evaluation set (here the 'src0' slice) — the
    // standard pre-training hygiene step (eval answers leaking into train
    // data). Scale shape: the BENCHMARK gram set is the true dimension —
    // eval suites are a few MB against a 100 TB corpus — so it carries the
    // broadcast hint and the corpus side never shuffles its grams for the
    // probe; per-doc distinct + counts are partial-agg group-bys.
    Q("t_decontaminate",
      """WITH toks AS (SELECT doc_id, source,
        |    list_filter(string_split(lower(text),' '), t -> t <> '') AS tk
        |  FROM documents),
        |grams AS (SELECT doc_id, source,
        |    unnest(list_transform(range(1, len(tk)-2),
        |      i -> tk[i]||' '||tk[i+1]||' '||tk[i+2]||' '||tk[i+3])) AS g
        |  FROM toks WHERE len(tk) >= 4),
        |bench AS (SELECT DISTINCT g FROM grams WHERE source = 'src0'),
        |corp  AS (SELECT DISTINCT doc_id, g FROM grams WHERE source <> 'src0'),
        |tot   AS (SELECT doc_id, count(*) AS n_grams FROM corp GROUP BY doc_id),
        |hits  AS (SELECT doc_id, count(*) AS n_contaminated
        |          FROM corp JOIN bench USING (g) GROUP BY doc_id)
        |SELECT t.doc_id, n_grams,
        |       coalesce(n_contaminated, CAST(0 AS BIGINT)) AS n_contaminated,
        |       round(CAST(coalesce(n_contaminated, 0) AS DOUBLE) / n_grams, 6)
        |         AS contamination
        |FROM tot t LEFT JOIN hits h ON t.doc_id = h.doc_id
        |ORDER BY t.doc_id""".stripMargin) {
      (s, dir) => {
        // one corpus gram pass (round 17): totals + hit counts fuse into
        // one group-by over a LEFT join against the pre-distinct bench
        // gram set — the contaminationFractions shape; the r14 twin
        // derived the corpus grams twice and merged with a second join.
        // Per-doc gram dedup is row-local (array_distinct before the
        // explode) — no full-gram distinct exchange, like the statement.
        val grams = gramsArrN(docs(s, dir), 4)
          .select(col("doc_id"), col("source"),
            explode(array_distinct(col("sg"))).as("g"))
        val bench = grams.filter(col("source") === "src0").select(col("g")).distinct()
        val corp = grams.filter(col("source") =!= "src0")
          .select(col("doc_id"), col("g"))
        corp.join(broadcast(bench.withColumn("_hit", lit(1))), Seq("g"), "left")
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_grams"),
            count(col("_hit")).as("n_contaminated"))
          .select(col("doc_id"), col("n_grams"), col("n_contaminated"),
            round(col("n_contaminated").cast("double")
              / col("n_grams"), 6).as("contamination"))
          .orderBy(col("doc_id"))
      }
    },

    // Corpus-level contamination TRIAGE via theta sketches: per-source
    // distinct-gram cardinality, overlap with the benchmark set, and
    // novel-gram count — the question asked BEFORE t_decontaminate's
    // per-document pass ("which sources overlap the eval suite at all,
    // and by how much"). Scale shape is the whole point: each source's
    // gram set folds to one KB-sized theta sketch via partial aggregation
    // (map-side sketches, merged at the exchange — bytes crossing the
    // wire are sketch-count-sized, never gram-count-sized), the benchmark
    // sketch broadcasts as one row, and the set algebra (∩, \) runs on
    // sketch PAIRS. Contrast t_decontaminate, which shuffles doc-level
    // grams for its equi-join: at 100 TB that join answers "which docs",
    // this answers "which sources" at ~zero data movement. lgK=16 keeps
    // theta at 1.0 (every hash retained → estimates EXACT, oracle
    // hash-checked, no tolerance band) for sources up to 65536 distinct
    // grams — sf0.01 runs ~1.3k/source, sf0.1 ~15k; past that the row
    // degrades to ±0.4% estimates, which is the designed 100 TB behavior.
    Q("t_overlap_theta",
      """WITH toks AS (SELECT doc_id, source,
        |    list_filter(string_split(lower(text),' '), t -> t <> '') AS tk
        |  FROM documents),
        |grams AS (SELECT source,
        |    unnest(list_transform(range(1, len(tk)-2),
        |      i -> tk[i]||' '||tk[i+1]||' '||tk[i+2]||' '||tk[i+3])) AS g
        |  FROM toks WHERE len(tk) >= 4),
        |bench AS (SELECT DISTINCT g FROM grams WHERE source = 'src0'),
        |corp  AS (SELECT DISTINCT source, g FROM grams WHERE source <> 'src0')
        |SELECT c.source, count(*) AS n_grams_distinct,
        |       count(b.g) AS n_overlap,
        |       count(*) - count(b.g) AS n_new
        |FROM corp c LEFT JOIN bench b ON c.g = b.g
        |GROUP BY c.source ORDER BY c.source""".stripMargin) {
      (s, dir) => {
        import graft.functions.ThetaSketch.{thetaDiff, thetaEstimate, thetaIntersect}
        def sketch(c: org.apache.spark.sql.Column) =
          call_function("theta_sketch_agg", c, lit(16))
        val grams = grams4(docs(s, dir))
        val bench = grams.filter(col("source") === "src0")
          .agg(sketch(col("g")).as("bsk"))
        val per = grams.filter(col("source") =!= "src0")
          .groupBy(col("source")).agg(sketch(col("g")).as("sk"))
        per.crossJoin(broadcast(bench))
          .select(col("source"),
            round(thetaEstimate(col("sk"))).cast("long").as("n_grams_distinct"),
            round(thetaEstimate(thetaIntersect(col("sk"), col("bsk"))))
              .cast("long").as("n_overlap"),
            round(thetaEstimate(thetaDiff(col("sk"), col("bsk"))))
              .cast("long").as("n_new"))
          .orderBy(col("source"))
      }
    },

    // TF-IDF top terms per document (sklearn's smoothed variant, public:
    // idf = ln((1+N)/(1+df)) + 1). Scale shape: tf is a (doc, term)
    // partial-agg group-by; df re-aggregates tf by term (term-level, tiny
    // vs corpus but corpus-derived → NO broadcast hint, AQE decides); the
    // corpus count N is a literal one-row broadcast. Scores are rounded to
    // 6 before ranking so both engines break ties identically (score desc,
    // then term).
    Q("t_tfidf_top_terms",
      """WITH toks AS (SELECT doc_id, unnest(string_split(lower(text),' ')) AS term
        |              FROM documents),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY doc_id, term),
        |df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
        |n  AS (SELECT count(*) AS n FROM documents),
        |scored AS (SELECT doc_id, tf.term AS term,
        |    round(tf * (ln((1.0 + n) / (1.0 + df)) + 1.0), 6) AS score
        |  FROM tf JOIN df ON tf.term = df.term CROSS JOIN n),
        |ranked AS (SELECT doc_id, term, score,
        |    row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, term) AS rn
        |  FROM scored)
        |SELECT doc_id, term, score FROM ranked WHERE rn <= 3
        |ORDER BY doc_id, score DESC, term""".stripMargin) {
      (s, dir) => {
        val d = docs(s, dir)
        val tf = d.select(col("doc_id"),
            explode(split(lower(col("text")), " ")).as("term"))
          .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
        val dfRel = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
        val n = d.agg(count(lit(1)).as("n"))
        val scored = tf.join(dfRel, Seq("term")).crossJoin(broadcast(n))
          .select(col("doc_id"), col("term"),
            round(col("tf") * (log((lit(1.0) + col("n")) / (lit(1.0) + col("df")))
              + lit(1.0)), 6).as("score"))
        // per-doc top-3 through the custom bounded-heap operator
        // (graft.plans.TopKPerGroup) instead of a row_number window — no
        // per-doc sort, and the exchange carries ≤3 rows per (partition,
        // doc). The rounded score + term tie-break is a total order, so
        // the result set equals the oracle's row_number formulation.
        graft.plans.TopK.perGroup(scored,
            Seq("doc_id"), Seq("score" -> false, "term" -> true), 3)
          .orderBy(col("doc_id"), col("score").desc, col("term"))
      }
    },

    // Cross-source duplicate overlap: for every ordered source pair, how
    // many distinct content hashes appear in BOTH — the curation matrix
    // that decides which sources are worth ingesting ("src3 is 40% src1").
    // Scale shape: the per-(hash, source) distinct is a partial-agg
    // group-by; the pair join is an equi-join on the hash, so only hashes
    // present in ≥2 sources produce rows; the pair count exchange carries
    // one row per source pair.
    Q("dd_cross_source_overlap",
      """WITH hs AS (SELECT DISTINCT md5(text) AS h, source FROM documents)
        |SELECT a.source AS src_a, b.source AS src_b, count(*) AS n_shared
        |FROM hs a JOIN hs b ON a.h = b.h AND a.source < b.source
        |GROUP BY 1, 2
        |ORDER BY src_a, src_b""".stripMargin) {
      (s, dir) => {
        val hs = docs(s, dir)
          .select(md5(col("text")).as("h"), col("source")).distinct()
        hs.as("a").join(hs.as("b"),
            col("a.h") === col("b.h") && col("a.source") < col("b.source"))
          .groupBy(col("a.source").as("src_a"), col("b.source").as("src_b"))
          .agg(count(lit(1)).as("n_shared"))
          .orderBy(col("src_a"), col("src_b"))
      }
    },

    // Unigram log-perplexity quality signal (the CCNet-style LM filter,
    // Wenzek et al. 2020, reduced to its order-0 form so both engines
    // compute it exactly): per-document average -log2 p(token) under the
    // corpus unigram distribution. High bits/token = rare-word soup or
    // noise; low = repetitive boilerplate — both tails get filtered in
    // production pipelines. Scale shape: tf is a (doc, term) partial-agg
    // group-by; corpus term totals re-aggregate tf by term (corpus-derived
    // → NO broadcast hint, AQE decides); the grand total is a one-row
    // cross join. Rounded to 6 before ORDER BY so ties break identically.
    Q("t_unigram_logppl",
      """WITH toks AS (SELECT doc_id, unnest(string_split(lower(text),' ')) AS term
        |              FROM documents),
        |tf  AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY doc_id, term),
        |ctf AS (SELECT term, sum(tf) AS ctf FROM tf GROUP BY term),
        |tot AS (SELECT sum(ctf) AS t FROM ctf)
        |SELECT doc_id,
        |       CAST(sum(tf) AS BIGINT) AS n_tokens,
        |       round(sum(tf * -log2(ctf / t)) / sum(tf), 6) AS bits_per_token
        |FROM tf JOIN ctf USING (term) CROSS JOIN tot
        |GROUP BY doc_id
        |ORDER BY doc_id""".stripMargin) {
      (s, dir) => {
        val tf = docs(s, dir)
          .select(col("doc_id"), explode(split(lower(col("text")), " ")).as("term"))
          .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
        val ctf = tf.groupBy(col("term")).agg(sum(col("tf")).as("ctf"))
        val tot = ctf.agg(sum(col("ctf")).as("t"))
        tf.join(ctf, Seq("term")).crossJoin(broadcast(tot))
          .groupBy(col("doc_id"))
          .agg(sum(col("tf")).cast("long").as("n_tokens"),
            round(sum(col("tf") * -log(2.0, col("ctf") / col("t")))
              / sum(col("tf")), 6).as("bits_per_token"))
          .orderBy(col("doc_id"))
      }
    },

    // Bigram log-perplexity quality signal — the order-1 upgrade of
    // t_unigram_logppl (one step closer to CCNet's KenLM filter, still
    // exactly computable in both engines): per-document average
    // -log2 p(w2|w1) under the corpus MLE bigram conditional (bigram
    // count / context count; no smoothing needed — every document
    // bigram contributed to the corpus counts, so probabilities are
    // strictly positive). Repetitive boilerplate scores near 0
    // bits/bigram; rare-transition noise scores high. Scale shape:
    // bigram construction is a PURE PROJECTION (adjacent-pair transform
    // over the split array — no per-doc window sort, no self-join);
    // (doc, bigram) and corpus counts are partial-agg group-bys;
    // corpus-derived join sides get NO broadcast hint (AQE decides).
    // Docs with fewer than two tokens have no bigrams and drop from the
    // result in both engines. Rounded to 6 before ORDER BY.
    Q("t_bigram_logppl",
      """WITH toks AS (SELECT doc_id, string_split(lower(text),' ') AS tk
        |              FROM documents),
        |bg  AS (SELECT doc_id, tk[i] AS w1, tk[i+1] AS w2
        |        FROM toks, unnest(range(1, len(tk))) AS u(i)),
        |bf  AS (SELECT doc_id, w1, w2, count(*) AS bf FROM bg GROUP BY 1, 2, 3),
        |cbg AS (SELECT w1, w2, sum(bf) AS cbg FROM bf GROUP BY 1, 2),
        |ctx AS (SELECT w1, sum(cbg) AS cw1 FROM cbg GROUP BY 1)
        |SELECT doc_id,
        |       CAST(sum(bf) AS BIGINT) AS n_bigrams,
        |       round(sum(bf * -log2(cbg / cw1)) / sum(bf), 6) AS bits_per_bigram
        |FROM bf JOIN cbg USING (w1, w2) JOIN ctx USING (w1)
        |GROUP BY doc_id
        |ORDER BY doc_id""".stripMargin) {
      (s, dir) => {
        val bg = bigramStream(s, dir)
        val bf = bg.groupBy(col("doc_id"), col("w1"), col("w2"))
          .agg(count(lit(1)).as("bf"))
        val cbg = bf.groupBy(col("w1"), col("w2")).agg(sum(col("bf")).as("cbg"))
        val ctx = cbg.groupBy(col("w1")).agg(sum(col("cbg")).as("cw1"))
        bf.join(cbg, Seq("w1", "w2")).join(ctx, Seq("w1"))
          .groupBy(col("doc_id"))
          .agg(sum(col("bf")).cast("long").as("n_bigrams"),
            round(sum(col("bf") * -log(2.0, col("cbg") / col("cw1")))
              / sum(col("bf")), 6).as("bits_per_bigram"))
          .orderBy(col("doc_id"))
      }
    },

    // Misra-Gries heavy TRANSITIONS (round 12): the approximate sibling
    // of t_bigram_logppl's exact corpus transition counts — top repeated
    // bigrams with ≤k counters across the exchange instead of the exact
    // lane's distinct-bigram shuffle (the 100 TB shape when only the
    // heavy tail matters). Same bound-family oracle as t_heavy_hitters:
    // the summary is merge-order-dependent near the rank cut, but the MG
    // guarantee family is deterministic under ANY merge order — never
    // overcounts, undercounts by at most n/(k+1), and every transition
    // with true count > n/(k+1) is present. The exact bigram groupBy
    // here is the verification harness, not the serving path
    // (heavyTransitionsTop serves; MisraGriesSpec re-pins under multiple
    // partitionings).
    Q("t_heavy_transitions",
      """SELECT CAST(sum(CASE WHEN len(string_split(lower(text), ' ')) >= 2
        |                     THEN len(string_split(lower(text), ' ')) - 1
        |                     ELSE 0 END) AS BIGINT) AS n_bigrams,
        |       CAST(256 AS INT) AS k, TRUE AS all_underestimates,
        |       TRUE AS all_within_bound, TRUE AS all_heavy_present
        |FROM documents""".stripMargin) {
      (s, dir) => {
        val mg = heavyTransitionSummary(s, dir)
        val exact = bigramStream(s, dir)
          .groupBy(concat_ws(" ", col("w1"), col("w2")).as("bg"))
          .agg(count(lit(1)).as("tc"))
        // total bigrams derives from the exact counts — no third scan
        val tot = exact.agg(sum(col("tc")).as("n_bigrams"))
        val joined = mg.join(exact, col("bigram") === col("bg"))
          .crossJoin(broadcast(tot))
        val summaryChecks = joined.agg(
          bool_and(col("est") <= col("tc")).as("all_underestimates"),
          bool_and(col("tc") <= col("est") + col("n_bigrams") / lit(257.0))
            .as("all_within_bound"))
        val missedHeavy = exact.crossJoin(broadcast(tot))
          .filter(col("tc") > col("n_bigrams") / lit(257.0))
          .join(mg, col("bigram") === col("bg"), "left_anti")
          .agg(count(lit(1)).as("n_missed"))
        tot.crossJoin(broadcast(summaryChecks))
          .crossJoin(broadcast(missedHeavy))
          .select(col("n_bigrams"), lit(256).as("k"),
            col("all_underestimates"), col("all_within_bound"),
            (col("n_missed") === 0L).as("all_heavy_present"))
      }
    },

    // Out-of-vocabulary rate against the corpus top-1000 vocabulary —
    // the tokenizer-coverage check run before committing to a vocab size.
    // The vocab is rank-bounded (count desc, then term — deterministic),
    // so it is a TRUE dimension regardless of corpus size: 1000 rows
    // broadcast against the token stream; the token side never shuffles
    // for the probe. OOV tokens are counted per doc via the broadcast
    // left-anti pattern expressed as a left join + null test.
    Q("t_oov_rate",
      """WITH toks AS (SELECT doc_id, unnest(string_split(lower(text),' ')) AS term
        |              FROM documents),
        |cnt AS (SELECT term, count(*) AS c FROM toks GROUP BY term),
        |vocab AS (SELECT term FROM
        |            (SELECT term, row_number() OVER (ORDER BY c DESC, term) AS rn
        |             FROM cnt) WHERE rn <= 1000)
        |SELECT t.doc_id,
        |       count(*) AS n_tokens,
        |       CAST(sum(CASE WHEN v.term IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |         AS n_oov,
        |       round(CAST(sum(CASE WHEN v.term IS NULL THEN 1 ELSE 0 END) AS DOUBLE)
        |             / count(*), 6) AS oov_rate
        |FROM toks t LEFT JOIN vocab v ON t.term = v.term
        |GROUP BY t.doc_id
        |ORDER BY t.doc_id""".stripMargin) {
      (s, dir) => {
        val toks = docs(s, dir)
          .select(col("doc_id"), explode(split(lower(col("text")), " ")).as("term"))
        val cnt = toks.groupBy(col("term")).agg(count(lit(1)).as("c"))
        // rank-bound as TakeOrderedAndProject (round 18, guide §2.4): the
        // ordering (c desc, term) is TOTAL (term is the group key), so
        // `orderBy().limit(1000)` selects exactly the rows the global
        // row_number window kept — but plans as a per-partition top-k
        // heap + one bounded merge instead of `WindowExec: No Partition
        // Defined` funneling the whole term dictionary (10⁸ rows at
        // 100 TB) through a single partition.
        val vocab = cnt
          .orderBy(col("c").desc, col("term"))
          .limit(1000).select(col("term"), lit(1).as("in_vocab"))
        toks.join(broadcast(vocab), Seq("term"), "left")
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_tokens"),
            sum(when(col("in_vocab").isNull, 1).otherwise(0)).cast("long").as("n_oov"),
            round(sum(when(col("in_vocab").isNull, 1).otherwise(0)).cast("double")
              / count(lit(1)), 6).as("oov_rate"))
          .orderBy(col("doc_id"))
      }
    },

    // PII scrubbing: count and redact email / phone / IPv4 patterns — the
    // compliance pass every corpus takes before training. Pure per-row
    // projection (regexp_count + chained regexp_replace), no shuffle at
    // any scale. The fixture corpus is synthetic word soup, so the oracle
    // pins the zero-match path end-to-end; the match path is pinned on
    // synthetic rows in OperatorsSpec via the public piiScrub core.
    Q("t_pii_scrub",
      s"""SELECT doc_id,
         |       len(regexp_extract_all(text, '$PiiEmail')) AS n_emails,
         |       len(regexp_extract_all(text, '$PiiPhone')) AS n_phones,
         |       len(regexp_extract_all(text, '$PiiIp')) AS n_ips,
         |       regexp_replace(regexp_replace(regexp_replace(text,
         |         '$PiiEmail', '<EMAIL>', 'g'), '$PiiPhone', '<PHONE>', 'g'),
         |         '$PiiIp', '<IP>', 'g') AS redacted
         |FROM documents ORDER BY doc_id""".stripMargin) {
      (s, dir) => piiScrub(docs(s, dir)).orderBy(col("doc_id"))
    },

    // Sequence packing for training: concatenate each source's documents
    // in doc_id order and chop the token stream into fixed 128-token
    // context windows — each doc reports its window (seq_id), offset
    // within it, and whether it straddles a boundary. The running sum is
    // windowed PER SOURCE, so at 100 TB the sort/scan parallelizes across
    // sources (no global single-partition cumsum); both engines CAST the
    // windowed sum to BIGINT (DuckDB would widen to HUGEINT → float64 in
    // pandas → driver dtype-hash mismatch, the r2 lesson).
    Q("t_seq_packing",
      """WITH w AS (SELECT doc_id, source,
        |             CAST(len(string_split(text,' ')) AS BIGINT) AS n_tok
        |           FROM documents),
        |c AS (SELECT doc_id, source, n_tok,
        |        CAST(sum(n_tok) OVER (PARTITION BY source ORDER BY doc_id
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |          - n_tok AS tok_start
        |      FROM w)
        |SELECT doc_id, source, n_tok,
        |       tok_start // 128 AS seq_id,
        |       tok_start - (tok_start // 128) * 128 AS seq_offset,
        |       CASE WHEN tok_start // 128 <> (tok_start + n_tok - 1) // 128
        |            THEN 1 ELSE 0 END AS crosses
        |FROM c ORDER BY source, doc_id""".stripMargin) {
      (s, dir) => seqPacking(docs(s, dir))
    }
  )

  /** Connected components over an undirected edge list (id_a, id_b) — the
    * driver loop behind dd_dup_clusters, public so the O(log diameter)
    * claim is testable on synthetic long chains. Returns (v, l): vertex →
    * component label (the component's minimum vertex id). See the
    * dd_dup_clusters comment for the pointer-jumping design.
    */
  /** Driver-side union-find twin of [[connectedComponents]] for BOUNDED
    * pair sets (round 17): (vertex count, component count) in one pass —
    * the two numbers the SHOW DEDUP summary needs. The caller guarantees
    * boundedness (an explicit `limit(cap + 1)` collect with a
    * distributed fallback above the cap), so this is driver METADATA
    * work in the same class as a broadcast build — it replaces the
    * pointer-jumping loop's 2-jobs-per-round driver↔cluster round trips
    * (measured: the loop was ~6 of SHOW DEDUP's 11 jobs at sf0.1) with
    * zero jobs. Counts need no label ordering, so pk type never
    * matters. */
  def componentCounts(pairs: Iterator[(Any, Any)]): (Long, Long) = {
    val parent = scala.collection.mutable.HashMap.empty[Any, Any]
    def find(x: Any): Any = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var c = x // path compression
      while (parent(c) != r) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    pairs.foreach { case (a, b) =>
      parent.getOrElseUpdate(a, a)
      parent.getOrElseUpdate(b, b)
      val ra = find(a); val rb = find(b)
      if (ra != rb) parent(ra) = rb
    }
    val roots = parent.keysIterator.count(k => find(k) == k)
    (parent.size.toLong, roots.toLong)
  }

  def connectedComponents(pairs: DataFrame, maxRounds: Int = 20): DataFrame = {
    val edges = pairs.select(col("id_a").as("src"), col("id_b").as("dst"))
      .union(pairs.select(col("id_b").as("src"), col("id_a").as("dst")))
      .localCheckpoint(true)
    var labels = edges.select(col("src").as("v")).distinct()
      .select(col("v"), col("v").as("l")).localCheckpoint(true)
    // convergence = NO (v, l) assignment changed this round — a typed
    // anti-join existence probe over the (small, near-dup-graph-sized)
    // label table. Labels only ever decrease, so next ≡ labels is the
    // fixpoint. (An earlier label-SUM invariant was numeric-only: a
    // TEXT-pk container — legal, the band kinds constrain only the
    // indexed column — crashed Sum under ANSI, and with ANSI off summed
    // strings to NULL and declared convergence after ONE round,
    // mislabeling any chain deeper than a single hop.)
    def changed(next: DataFrame): Boolean = next
      .join(labels, Seq("v", "l"), "left_anti").limit(1).count() > 0
    var converged = false
    var rounds = 0
    while (!converged && rounds < maxRounds) {
      val neighborMin = edges.join(labels, col("dst") === col("v"))
        .groupBy(col("src")).agg(min(col("l")).as("nl"))
      val jump = labels.select(col("v").as("jv"), col("l").as("jl"))
      val next = labels
        .join(neighborMin, labels("v") === neighborMin("src"), "left")
        .join(jump, labels("l") === col("jv"))
        .select(labels("v"),
          least(labels("l"), coalesce(col("nl"), labels("l")), col("jl")).as("l"))
        .localCheckpoint(true)
      converged = !changed(next)
      labels = next
      rounds += 1
    }
    require(converged, s"label propagation did not converge in $rounds rounds")
    labels
  }

  /** The t_seq_packing plan over any (doc_id, source, text) relation —
    * public so property tests can drive random corpora through the exact
    * production plan.
    */
  def seqPacking(df: DataFrame, budget: Int = 128): DataFrame = {
    val cum = Window.partitionBy(col("source")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.select(col("doc_id"), col("source"),
        size(split(col("text"), " ")).cast("long").as("n_tok"))
      .withColumn("tok_start", sum(col("n_tok")).over(cum) - col("n_tok"))
      .select(col("doc_id"), col("source"), col("n_tok"),
        expr(s"tok_start div $budget").as("seq_id"),
        (col("tok_start") - expr(s"tok_start div $budget") * budget).as("seq_offset"),
        when(expr(s"tok_start div $budget") =!=
          expr(s"(tok_start + n_tok - 1) div $budget"), 1)
          .otherwise(0).as("crosses"))
      .orderBy(col("source"), col("doc_id"))
  }
}
