package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.data.DocGen
import graft.engine._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every implemented operator is exposed as a `queries` entry; each
  * SQL-expressible one has a DuckDB `oracleSql` twin computing the SAME
  * result from first principles (the deterministic injection predicates in
  * data.DocGen), so the oracle is an independent derivation, not a port of
  * the Spark plan.
  */
object SparkEntry {

  /** Flagship: the full constraint suite on sf0.001 (violations table). */
  def entry(spark: SparkSession): DataFrame =
    Validate.run(spark, "/root/testdata/sf0.001")._1

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- constraint-validation core -------------------------------------
    "validate_violations" -> ((s, d) =>
      Validate.violations(DocGen.docs(s, d), DocGen.mediaCatalogMap(s, d))),
    "validate_verdicts" -> ((s, d) =>
      Validate.verdicts(DocGen.docs(s, d), DocGen.mediaCatalogMap(s, d))),
    "span_roundtrip" -> ((s, d) =>
      Validate.spanFingerprint(DocGen.docs(s, d))),
    "uniqueness_dups" -> ((s, d) =>
      Uniqueness.duplicateKeys(DocGen.docs(s, d), "doc_id")),
    // catalogRows: refs are p_partkey%1000 -> <=1000 by construction
    // (metadata bound; skips the fallback count() job)
    "referential_dangling" -> ((s, d) =>
      Referential.dangling(DocGen.docs(s, d), DocGen.mediaCatalog(s, d),
        catalogRows = Some(1000L))),
    // cross-table aggregate reconciliation: header total vs detail-line
    // integer-cents sum (detail pre-aggregated per key BEFORE the join —
    // never a raw fact-to-fact join)
    "validate_reconcile" -> ((s, d) => Reconcile.orderTotals(s, d)),
    // functional-dependency scan: "all lines of an order ship the same day"
    // (plausibility FD l_orderkey -> ship day); two-level distinct rewrite
    // keeps hot keys off single reducers
    "validate_fd" -> ((s, d) => {
      val li = graft.data.Tables.read(s, d, "lineitem").select(
        col("l_orderkey").as("order_key"),
        date_format(col("l_shipdate"), "yyyy-MM-dd").as("ship_day"))
      Reconcile.fdViolations(li, Seq("order_key"), "ship_day",
        "R_FD_ORDER_SHIPDAY", "warning")
    }),
    // bounded per-rule exemplars: k smallest violating doc_ids per rule via
    // the mergeable size-bounded collector (every rule is a hot key by
    // design; each mapper ships <= k ids per rule)
    "validate_examples" -> ((s, d) =>
      Reconcile.violationExamples(
        Validate.violations(DocGen.docs(s, d), DocGen.mediaCatalogMap(s, d)),
        k = 5)),
    // schema-contract diff as violation rows (driver-side metadata, zero
    // scans): the documents table vs a contract that expects lang:int,
    // requires a title column, and doesn't know source
    "validate_schema" -> ((s, d) => {
      import org.apache.spark.sql.types._
      SchemaCheck.violations(s,
        graft.data.Tables.read(s, d, "documents").schema,
        Seq(
          SchemaCheck.ColContract("doc_id", LongType),
          SchemaCheck.ColContract("text", StringType),
          SchemaCheck.ColContract("lang", IntegerType),
          SchemaCheck.ColContract("n_chars", LongType),
          SchemaCheck.ColContract("title", StringType)))
    }),
    // cross-record temporal precondition: purchases with no prior click by
    // the same user (running-count frame after ONE entity-key shuffle)
    "validate_sequence" -> ((s, d) =>
      Reconcile.requiresPriorEvent(
        graft.data.Tables.read(s, d, "events"),
        entityCol = "user_id", typeCol = "event_type",
        tsCol = "ts", idCol = "event_id",
        target = "purchase", required = "click",
        ruleId = "R_PURCHASE_NEEDS_CLICK")),
    // per-partition pass/fail rollup (north rule): whole rule corpus inside
    // the scan projection, then ONE counter aggregate keyed by the
    // partition day — a hot partition collapses map-side
    "validate_partition_metrics" -> ((s, d) => {
      val li = DocGen.lineitem(s, d)
        .withColumn("ship_day", date_format(col("l_shipdate"), "yyyy-MM-dd"))
      Validate.partitionMetrics(
        DocGen.docsFrom(li, keep = Seq("ship_day")),
        DocGen.mediaCatalogMap(s, d))
    }),
    // deterministic repair + revalidate: the four safe normalizations in
    // one projection, full rule corpus re-run on the repaired spans —
    // zero shuffles, a per-doc relation like validate_verdicts
    "validate_repair" -> ((s, d) =>
      Repair.repairAndRevalidate(DocGen.docs(s, d), DocGen.mediaCatalogMap(s, d))),
    // verdict transition matrix before vs after the repair pass — the
    // upgrade regression gate: one doc_id join, <=25-key aggregate with
    // bounded exemplars per changed cell
    "validate_diff" -> ((s, d) => {
      val docs = DocGen.docs(s, d)
      val cat = DocGen.mediaCatalogMap(s, d)
      Reconcile.verdictDiff(
        Validate.verdicts(docs, cat),
        Repair.repairAndRevalidate(docs, cat))
    }),
    // declarative per-column expectation suite (deequ shape): six
    // expectations over the documents table evaluated in ONE wide
    // aggregate scan -> (col_name, expectation, violations, allowed, pass)
    "validate_expectations" -> ((s, d) => {
      import graft.engine.Expectations._
      Expectations.run(graft.data.Tables.read(s, d, "documents"), Seq(
        NotNull("text"), NotNull("lang"), Unique("doc_id"),
        InSet("lang", Seq("de", "en", "es", "fr")),
        Matches("source", "^src[0-9]+$"),
        Between("n_chars", 0L, 400L)))
    }),
    // heavy-hitter key diagnosis on the event entity key — the skew
    // measurement that precedes salting/broadcast decisions
    "stats_heavy_keys" -> ((s, d) =>
      Stats.heavyKeys(graft.data.Tables.read(s, d, "events"), "user_id", k = 20)),
    // month-over-month PSI drift timeline over the order-value histogram
    "drift_timeline" -> ((s, d) => {
      val o = graft.data.Tables.read(s, d, "orders").select(
        date_format(col("o_orderdate"), "yyyy-MM").as("order_month"),
        col("o_totalprice"))
      Drift.psiTimeline(o, "order_month", "o_totalprice",
        width = 60000.0, nBuckets = 10)
    }),
    // robust median/MAD distribution outliers per order month (integer
    // cents -> engine-portable exact percentile evidence)
    "stats_outliers" -> ((s, d) => {
      val o = graft.data.Tables.read(s, d, "orders").select(
        date_format(col("o_orderdate"), "yyyy-MM").as("order_month"),
        col("o_orderkey").as("order_key"),
        round(col("o_totalprice") * 100).cast("long").as("total_cents"))
      Stats.outliers(o, "order_month", "order_key", "total_cents", k = 2.2)
    }),
    "temporal_order_weeks" -> ((s, d) => {
      val li = graft.data.Tables.read(s, d, "lineitem")
      val o = graft.data.Tables.read(s, d, "orders")
      li.join(o, col("l_orderkey") === col("o_orderkey"))
        .withColumn("days_between", datediff(col("l_shipdate"), col("o_orderdate")))
        .where(col("days_between") < 7)
        .select(
          concat(col("l_orderkey").cast("string"), lit("-"),
            col("l_linenumber").cast("string")).as("doc_id"),
          col("days_between"),
          lit("error").as("severity"),
          lit("R_SHIP_AFTER_ORDER").as("rule_id"))
    }),
    // latest-by over an in-row versioned sequence (V31: array_sort +
    // element_at(-1), no explode, no shuffle)
    "derive_latest_span" -> ((s, d) => {
      // try_element_at: ANSI mode (Spark 4 default) raises on empty arrays.
      // when() comparator, not `a.offset - b.offset`: the subtraction would
      // overflow under ANSI at int extremes and NULL-poison the sort on
      // null offsets (same hardening as CoreRules R_TAIL_EITHER_OR).
      def off(c: Column) = c.getField("offset")
      val latest = try_element_at(
        array_sort(col("spans"), (a, b) =>
          when(off(a) < off(b), -1).when(off(a) > off(b), 1).otherwise(0)),
        lit(-1))
      DocGen.docs(s, d).select(
        col("doc_id"),
        latest.getField("kind").as("last_kind"),
        latest.getField("offset").as("last_offset"))
    }),
    // ---- derivations (argmax / coalesce cascade / set-fold / report) ----
    "derive_latest_event" -> ((s, d) => Derive.latestEventPerUser(s, d)),
    "derive_censor_date" -> ((s, d) => Derive.censorDatePerOrder(s, d)),
    "derive_type_set" -> ((s, d) => Derive.eventTypeSetPerUser(s, d)),
    "report_quarterly" -> ((s, d) => Derive.quarterlyReport(s, d)),
    // ---- column stats / histogram / drift --------------------------------
    "stats_columns" -> ((s, d) =>
      Stats.columnStats(graft.data.Tables.read(s, d, "documents"),
        Seq("doc_id", "text", "lang", "source", "n_chars"))),
    "stats_histogram" -> ((s, d) =>
      Stats.histogram(graft.data.Tables.read(s, d, "documents"), "n_chars", 50.0, 10)),
    "drift_psi_ks" -> ((s, d) =>
      Drift.psiKs(graft.data.Tables.read(s, d, "documents"), "n_chars",
        col("doc_id") % 2 === 1, 50.0, 10)),
    // rule-level drift: PSI over per-rule violation counts between two
    // halves of the corpus (which CONSTRAINTS fire differently — the
    // complement of value-distribution drift; one validation pass, one
    // <=nrules-key aggregate)
    "drift_rule_psi" -> ((s, d) =>
      Drift.rulePsiSplit(
        Validate.violations(DocGen.docs(s, d), DocGen.mediaCatalogMap(s, d)),
        element_at(split(col("doc_id"), "-"), 1).cast("bigint") % 2 === 1)),
    // the nightly monitoring composition: two runs' per-rule counts
    // PERSISTED to the metrics store partitioned by run_id (even docs =
    // base snapshot, odd = current), then rule PSI computed from the two
    // stored <=|rules|-row tables alone — neither corpus touched again.
    // The two runs partition one corpus, so their metrics are stored in
    // ONE validation pass + ONE partitioned write (storeRunRuleMetricsSplit
    // — counts identical to per-run stores, half the corpus scans)
    "drift_stored_runs" -> ((s, d) => {
      val docs = DocGen.docs(s, d)
      val cat = DocGen.mediaCatalogMap(s, d)
      val out = artifactPath("runmetrics", d)
      val parity = element_at(split(col("doc_id"), "-"), 1).cast("bigint") % 2
      Checkpoint.storeRunRuleMetricsSplit(docs, cat, out,
        when(parity === 0, "base").otherwise("cur"), Seq("base", "cur"))
      Checkpoint.rulePsiBetweenStoredRuns(s, out, "base", "cur")
    }),
    // batch gap-sessionization (12h gap), semantics identical to the
    // streaming flatMapGroupsWithState path (cross-checked in SessionizeSpec)
    "sessionize_batch" -> ((s, d) =>
      graft.streaming.Sessionize.sessionizeBatch(
        graft.data.Tables.read(s, d, "events"), gapMs = 12L * 3600 * 1000)),
    // exact interpolated quantiles (Spark percentile == SQL quantile_cont)
    "stats_quantiles" -> ((s, d) =>
      graft.data.Tables.read(s, d, "documents").agg(
        expr("percentile(n_chars, 0.25D)").as("q25"),
        expr("percentile(n_chars, 0.5D)").as("q50"),
        expr("percentile(n_chars, 0.75D)").as("q75"),
        expr("percentile(n_chars, 0.9D)").as("q90"))
        .select(lit("n_chars").as("col_name"), col("q25"), col("q50"),
          col("q75"), col("q90"))),
    // approx quantiles: the 10^12-row scale path — Greenwald-Khanna
    // summaries merge in constant memory where exact percentile() buffers
    // every value on one reducer (rows-only; tolerance vs exact asserted
    // in EngineSpec)
    "stats_quantiles_approx" -> ((s, d) =>
      graft.data.Tables.read(s, d, "documents")
        .agg(expr("approx_percentile(n_chars, array(0.25D, 0.5D, 0.75D, 0.9D), 10000)")
          .as("qs"))
        .select(lit("n_chars").as("col_name"),
          element_at(col("qs"), 1).cast("double").as("q25"),
          element_at(col("qs"), 2).cast("double").as("q50"),
          element_at(col("qs"), 3).cast("double").as("q75"),
          element_at(col("qs"), 4).cast("double").as("q90"))),
    // mergeable HLL sketches (approximate -> rows-only check, no oracle)
    "stats_hll" -> ((s, d) => {
      val cols = Seq("doc_id", "text", "lang", "source")
      Stats.hllEstimates(
        Stats.hllSketches(graft.data.Tables.read(s, d, "documents"), cols), cols)
    }),
    // ---- classic wide aggregation ----------------------------------------
    "q1_pricing_summary" -> ((s, d) =>
      graft.data.Tables.read(s, d, "lineitem")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          sum("l_quantity").cast("long").as("sum_qty"),
          count(lit(1)).as("n_rows"),
          countDistinct("l_partkey").as("n_parts"),
          round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))) / 100.0)
            .cast("long").as("revenue_hundreds"))),
    // ---- training-data pipeline: dedup ------------------------------------
    "dedup_exact" -> ((s, d) =>
      ops.Dedup.exactDuplicates(
        ops.Dedup.corpusWithExactDups(graft.data.Tables.read(s, d, "documents")))),
    // exact dedup on the NORMALIZED key (ASCII-fold + digit-mask + punct
    // collapse): catches the case/punctuation variants raw hashing misses
    "dedup_exact_normalized" -> ((s, d) =>
      ops.Dedup.exactNormalizedDuplicates(
        ops.Dedup.corpusWithFormattingVariants(
          graft.data.Tables.read(s, d, "documents")))),
    "dedup_ngram_jaccard" -> ((s, d) =>
      ops.Dedup.ngramJaccardPairs(
        ops.Dedup.corpusWithNearDups(graft.data.Tables.read(s, d, "documents")))),
    "dedup_minhash_lsh" -> ((s, d) =>
      ops.Dedup.minhashLshPairs(
        ops.Dedup.corpusWithNearDups(graft.data.Tables.read(s, d, "documents")))),
    "dedup_simhash" -> ((s, d) =>
      ops.Dedup.simhashPairs(
        ops.Dedup.corpusWithNearDups(graft.data.Tables.read(s, d, "documents")))),
    // Manku block-combination tables: 16-bit keys (keyBlocks=2) — the
    // web-scale key-width shape, exact for Hamming <= 6
    "dedup_simhash_wide" -> ((s, d) =>
      ops.Dedup.simhashPairs(
        ops.Dedup.corpusWithNearDups(graft.data.Tables.read(s, d, "documents")),
        maxHamming = 6, keyBlocks = 2)),
    // connected components over the exact-jaccard pair graph: the KEEP/DROP
    // clustering step of the dedup pipeline
    "dedup_clusters" -> ((s, d) =>
      ops.Dedup.dupClusters(
        ops.Dedup.ngramJaccardPairs(
          ops.Dedup.corpusWithNearDups(graft.data.Tables.read(s, d, "documents"))))),
    // the O(log n)-round star-contraction variant (Kiveris et al. SoCC'14)
    // of the same clustering — the production path for graphs whose
    // diameter exceeds the propagation bound; identical output contract,
    // so it shares dedup_clusters' oracle
    "dedup_clusters_star" -> ((s, d) =>
      ops.Dedup.dupClustersStar(
        ops.Dedup.ngramJaccardPairs(
          ops.Dedup.corpusWithNearDups(graft.data.Tables.read(s, d, "documents"))))),
    // cross-document line-level dedup (Dolma/CCNet boilerplate stripping):
    // lines in >= 5 distinct docs removed, per-doc order preserved
    "dedup_lines" -> ((s, d) =>
      ops.Dedup.lineDedup(
        ops.Dedup.corpusWithBoilerplateLines(
          graft.data.Tables.read(s, d, "documents")))),
    // exact-substring span removal (Lee et al. 2022 shape): 8-token windows
    // in >= 2 distinct docs mark positions; maximal spans reported+stripped
    "dedup_spans" -> ((s, d) =>
      ops.Dedup.spanDedup(
        ops.Dedup.corpusWithSharedPassages(
          graft.data.Tables.read(s, d, "documents")))),
    // the production shuffle variant: doc-frequency and semi-join keys are
    // xxhash64(window) longs instead of window strings (4-8x narrower
    // shuffle); output identical on collision-free inputs -> same oracle
    "dedup_spans_hashed" -> ((s, d) =>
      ops.Dedup.spanDedup(
        ops.Dedup.corpusWithSharedPassages(
          graft.data.Tables.read(s, d, "documents")), hashKeys = true)),
    // incremental near-dup: persist the corpus band index once, then dedupe
    // a new crawl batch against it (new-vs-corpus + new-vs-new) without
    // re-minhashing the corpus — the nightly-ingest production path
    "dedup_incremental" -> ((s, d) => {
      val docs = graft.data.Tables.read(s, d, "documents")
      val old = docs.select(col("doc_id"), col("text"))
      val path = artifactPath("minhash_index", d)
      ops.Dedup.minhashBuildIndex(old, path)
      ops.Dedup.minhashIncrementalPairs(
        s, path, ops.Dedup.corpusIncrementalBatch(docs), old)
    }),
    // ---- training-data pipeline: similarity search ------------------------
    "sim_topk_bruteforce" -> ((s, d) =>
      ops.Similarity.cosineTopK(graft.data.Tables.read(s, d, "embeddings"))),
    // scalar-quantized (SQ8) asymmetric search: 8-bit codes at rest, exact
    // top-k over dequantized scores
    "sim_sq8_topk" -> ((s, d) =>
      ops.Similarity.sq8TopK(graft.data.Tables.read(s, d, "embeddings"))),
    "sim_ann_lsh" -> ((s, d) =>
      ops.Similarity.annLshTopK(graft.data.Tables.read(s, d, "embeddings"))),
    "sim_ann_ivf" -> ((s, d) =>
      ops.Similarity.ivfTopK(graft.data.Tables.read(s, d, "embeddings"))),
    // trained-quantizer variant (distributed Lloyd k-means; rows-only —
    // learned centroids are float-nondeterministic, recall-tested in spec)
    "sim_ann_ivf_kmeans" -> ((s, d) =>
      ops.Similarity.ivfTopK(graft.data.Tables.read(s, d, "embeddings"),
        quantizer = ops.Similarity.kmeansCentroids)),
    // persisted-index variant: build inverted lists partitioned by cell_id
    // once, then probe with static partition pruning (oracle-exact via
    // ivfOracleSql — the probe equals the one-shot IVF, asserted in OpsSpec)
    "sim_ann_ivf_index" -> ((s, d) => {
      val emb = graft.data.Tables.read(s, d, "embeddings")
      val path = artifactPath("ivf_index", d)
      ops.Similarity.ivfBuildIndex(emb, path, ops.Similarity.Flat)
      ops.Similarity.ivfProbeIndex(s, path, emb)
    }),
    // the production composition: IVF cells OF SQ8 codes — persisted
    // cell-partitioned 8-bit index whose header carries the quantization
    // parameters, probed with static partition pruning and asymmetric
    // re-rank
    "sim_ann_ivf_sq8" -> ((s, d) => {
      val emb = graft.data.Tables.read(s, d, "embeddings")
      val path = artifactPath("ivf_sq8", d)
      ops.Similarity.ivfBuildIndex(emb, path, ops.Similarity.Sq8)
      ops.Similarity.ivfProbeIndex(s, path, emb)
    }),
    // IVF-PQ (Jegou et al. 2011): coarse cells of m=8 product-quantizer
    // codes (ksub=16 deterministic seed codebooks, dim/m x smaller at rest
    // than SQ8), probed via per-query ADC lookup tables over the
    // partition-pruned cells — deterministic end-to-end -> exact oracle
    "sim_ann_ivf_pq" -> ((s, d) => {
      val emb = graft.data.Tables.read(s, d, "embeddings")
      val path = artifactPath("ivf_pq", d)
      ops.Similarity.ivfBuildIndex(emb, path, ops.Similarity.Pq())
      ops.Similarity.ivfProbeIndex(s, path, emb)
    }),
    // two-stage serving path: ADC shortlist (rerankR=50 per query) from
    // the PQ index, then ONLY those rows fetch full-precision vectors for
    // an exact cosine re-rank — near-IVF recall at quantized index I/O
    "sim_ann_ivf_pq_refined" -> ((s, d) => {
      val emb = graft.data.Tables.read(s, d, "embeddings")
      val path = artifactPath("ivf_pq_ref", d)
      ops.Similarity.ivfBuildIndex(emb, path, ops.Similarity.Pq())
      ops.Similarity.ivfProbeRefined(s, path, emb)
    }),
    // incremental ANN ingest: index built on vec_id < 300, the rest
    // appended against the index's OWN stored header (the corpus is never
    // re-read) — probe result identical to the one-shot build, so the same
    // oracle applies
    "sim_ann_ivf_pq_incremental" -> ((s, d) => {
      val emb = graft.data.Tables.read(s, d, "embeddings")
      val path = artifactPath("ivf_pq_inc", d)
      ops.Similarity.ivfBuildIndex(emb.where(col("vec_id") < 300), path,
        ops.Similarity.Pq())
      ops.Similarity.ivfAppendIndex(s, path, emb.where(col("vec_id") >= 300))
      ops.Similarity.ivfProbeIndex(s, path, emb)
    }),
    // (5, 12) pinned: sandbox-validated exactness-gate parameters (the
    // oracle is exhaustive all-pairs, so a single candidate miss fails the
    // hash gate). Production callers omit them -> Similarity.lshParams
    // derives corpus-sized tables (~1000 members/bucket at any scale).
    "dedup_embedding_cosine" -> ((s, d) =>
      ops.Similarity.cosineNearDupPairs(
        ops.Similarity.corpusWithNearDupVecs(
          graft.data.Tables.read(s, d, "embeddings")),
        nBits = 5, nTables = 12)),
    // ---- training-data pipeline: text analysis ----------------------------
    "text_langid" -> ((s, d) =>
      ops.TextAnalysis.langId(graft.data.Tables.read(s, d, "documents"))),
    "text_quality" -> ((s, d) =>
      ops.TextAnalysis.quality(graft.data.Tables.read(s, d, "documents"))),
    "text_fingerprint" -> ((s, d) =>
      ops.TextAnalysis.fingerprint(graft.data.Tables.read(s, d, "documents"))),
    "text_tokens_bpe" -> ((s, d) =>
      ops.TextAnalysis.bpeTokens(graft.data.Tables.read(s, d, "documents"))),
    // TRAINED BPE: distributed merge-loop training on the word-frequency
    // table + vocabulary-join encode; rows-only (the oracle harness cannot
    // express an iterated argmax loop in one SQL statement) — the merge
    // sequence is cross-checked against an independent single-node
    // reference implementation in BpeSpec
    "text_tokens_bpe_trained" -> ((s, d) =>
      ops.Bpe.trainedTokenCounts(graft.data.Tables.read(s, d, "documents"))),
    // corpus-wide heavy hitters (top-k frequent tokens), deterministic
    // tie-break; planned as TakeOrderedAndProject (bounded per-partition
    // heaps, no full sort)
    "text_top_tokens" -> ((s, d) =>
      ops.TextAnalysis.topTokens(graft.data.Tables.read(s, d, "documents"))),
    // end-to-end curation pass: dedup + quality + language composed into
    // per-doc keep/drop decisions
    "curation_decisions" -> ((s, d) =>
      ops.Curation.decisions(graft.data.Tables.read(s, d, "documents"))),
    // near-dup-unified triage: minhash-LSH pair graph -> connected-component
    // keepers composed with the quality gate + language routing into ONE
    // verdict per doc (the reference's single-triage orchestration,
    // MTBValidators.scala:650-743 analog for the curation pipeline)
    "curation_decisions_neardup" -> ((s, d) =>
      ops.Curation.decisionsNearDup(graft.data.Tables.read(s, d, "documents"))),
    // the COMPLETE triage: near-dup clusters + benchmark decontamination +
    // quality + language + PII flag composed into one verdict per doc —
    // every signal family the pipeline computes, single-triage style
    "curation_decisions_full" -> ((s, d) =>
      ops.Curation.decisionsFull(graft.data.Tables.read(s, d, "documents"))),
    // domain-level curation: per-source quality/dup statistics + the
    // below-threshold source flag (the crawler-blocklist feedback table)
    "source_stats" -> ((s, d) =>
      ops.Curation.sourceStats(graft.data.Tables.read(s, d, "documents"))),
    // ---- training-data pipeline: multimodal plumbing ----------------------
    "multimodal_summary" -> ((s, d) =>
      ops.Multimodal.mediaSummary(graft.data.Tables.read(s, d, "documents"))),
    "multimodal_frames" -> ((s, d) =>
      ops.Multimodal.frameSample(graft.data.Tables.read(s, d, "documents"))),
    // ---- training-data pipeline: deterministic sampling / curation --------
    // md5-derived split assignment: pure row-local map, no RNG state
    "sample_split" -> ((s, d) =>
      ops.Sampling.hashSplit(graft.data.Tables.read(s, d, "documents"))),
    // deterministic training-order permutation: dense global rank under
    // salted-hash order, assembled distributively (never a global sort)
    "sample_shuffle" -> ((s, d) =>
      ops.Sampling.shuffleRank(graft.data.Tables.read(s, d, "documents"))),
    // fixed-size uniform sample per language via the mergeable heap
    // aggregate (no per-stratum window shuffle)
    "sample_quota" -> ((s, d) =>
      ops.Sampling.quotaPerStratum(
        graft.data.Tables.read(s, d, "documents"), col("lang"))),
    // data mixing: deterministic per-language token-budget downsampling
    // (integer basis-point rates; row-local keep decisions)
    "sample_mixture" -> ((s, d) =>
      ops.Sampling.sampleMixture(
        graft.data.Tables.read(s, d, "documents"), col("lang"))),
    // pipeline sink: hash-sharded corpus write (dynamic partition
    // overwrite via TableIO) + the per-shard audit manifest it returns
    "shard_manifest" -> ((s, d) =>
      ops.Sampling.writeShards(
        graft.data.Tables.read(s, d, "documents"),
        artifactPath("shards", d))),
    // CCNet-shaped LM-proxy: bigram model counted on the doc_id%10<8
    // reference slice, every doc scored by bigram familiarity (integers)
    "text_bigram_lm" -> ((s, d) =>
      ops.TextAnalysis.bigramLmStats(
        graft.data.Tables.read(s, d, "documents"), col("doc_id") % 10 < 8)),
    // intra-doc repetition removal: first-occurrence token filter, row-local
    "text_repetition" -> ((s, d) =>
      ops.Sampling.repetition(graft.data.Tables.read(s, d, "documents"))),
    // contiguous sequence packing via distributed prefix sum (no global
    // single-task window)
    "pack_sequences" -> ((s, d) =>
      ops.Sampling.packContiguous(graft.data.Tables.read(s, d, "documents"))),
    // Gopher-style structural document filters (row-local ratios)
    "text_gopher" -> ((s, d) =>
      ops.TextAnalysis.gopherQuality(graft.data.Tables.read(s, d, "documents"))),
    // corpus-frequency doc stats (integer-exact unigram-rarity skeleton),
    // fed from the PERSISTED (doc_id, term, tf) table: one tokenization job
    // (the build), every downstream statistic a regroup of the stored
    // artifact — the amortized-index pattern sim_ann_ivf_index proves
    "text_token_stats" -> ((s, d) => {
      val path = tfTablePath(d)
      ops.TextAnalysis.buildTfTable(graft.data.Tables.read(s, d, "documents"), path)
      ops.TextAnalysis.tokenFreqStatsFromTf(graft.engine.TableIO.read(s, path))
    }),
    // PII detection + redaction over the deterministically PII-injected
    // corpus (counts from original text, typed-tag redaction cascade)
    "pii_scrub" -> ((s, d) =>
      ops.Curation.piiScrub(
        ops.Curation.corpusWithPii(graft.data.Tables.read(s, d, "documents")))),
    // benchmark decontamination: corpus docs sharing 3-grams with the eval
    // set (doc_id % 97 = 0 stands in for the benchmark suite)
    "decontaminate" -> ((s, d) => {
      val docs = graft.data.Tables.read(s, d, "documents")
      ops.Curation.decontaminate(docs, docs.where(col("doc_id") % 97 === 0))
    }),
    // the zero-join bloom-filter variant (Dolma scale shape): eval shingle
    // hashes folded into one broadcast blob, row-local membership count;
    // rows-only (superset-of-exact + FP bound spec-asserted — Spark's
    // internal bloom layout is not SQL-reproducible)
    "decontaminate_bloom" -> ((s, d) => {
      val docs = graft.data.Tables.read(s, d, "documents")
      ops.Curation.decontaminateBloom(docs, docs.where(col("doc_id") % 97 === 0))
    }),
    // SemDeDup-style semantic near-dup pairs: coarse-quantizer cells +
    // within-cell exact cosine
    "dedup_semantic" -> ((s, d) =>
      ops.Similarity.semanticDedupPairs(
        ops.Similarity.corpusWithNearDupVecs(
          graft.data.Tables.read(s, d, "embeddings")))),
    // classifier-based quality filter (weak labels -> LR -> smooth score);
    // rows-only: LBFGS training is float-order-dependent by design
    "quality_classifier" -> ((s, d) =>
      ops.Curation.qualityClassifier(graft.data.Tables.read(s, d, "documents"))),
    // distributed as-of join (union-tag + keyed merge sweep): purchase ->
    // latest prior click attribution; oracle = DuckDB's native ASOF JOIN
    "join_asof" -> ((s, d) =>
      ops.AsOf.purchaseAttribution(graft.data.Tables.read(s, d, "events"))),
    // float-free TF-IDF: per-doc top-3 terms by (tf DESC, df ASC, term),
    // fed from the same persisted tf table as text_token_stats
    "text_tfidf_terms" -> ((s, d) => {
      val path = tfTablePath(d)
      ops.TextAnalysis.buildTfTable(graft.data.Tables.read(s, d, "documents"), path)
      ops.TextAnalysis.characteristicTermsFromTf(graft.engine.TableIO.read(s, path))
    })
  )

  /** Per-sf-dir location of the persisted (doc_id, term, tf) index table
    * (idempotent overwrite: whichever statistics query runs first builds
    * it; a production pipeline builds it once per corpus snapshot). */
  private def tfTablePath(sfDir: String): String =
    artifactPath("tf", sfDir)

  /** Scratch-artifact path for a (kind, sf dir) pair, discriminated by PID:
    * two CONCURRENT runs on the same sf dir (e.g. parallel Bench at
    * local[8] and local[32]) must not race on one /tmp table — one would
    * overwrite the parquet while the other reads it. Within a process the
    * path is stable, so repeated bench reps and co-located queries still
    * reuse the built artifact. (A production pipeline passes explicit
    * per-snapshot table locations through TableIO instead.) */
  private def artifactPath(kind: String, sfDir: String): String =
    s"/tmp/graft_${kind}_${Integer.toHexString(sfDir.hashCode)}_p${ProcessHandle.current().pid()}"

  /** DuckDB oracles. Expected violations are recomputed from the injection
    * predicates (pure functions of l_orderkey) — an independent derivation
    * of the same truth. */
  private val liCte =
    """WITH li AS (
      |  SELECT l_orderkey AS ok,
      |         CAST(l_orderkey AS VARCHAR) || '-' || CAST(l_linenumber AS VARCHAR) AS doc_id,
      |         l_partkey AS pk, l_returnflag AS rf, l_linestatus AS ls, l_quantity AS qty
      |  FROM lineitem)""".stripMargin

  /** The full expected-violations recomputation (shared by the
    * validate_violations oracle and the rule-drift oracle). */
  private val violationsOracle: String = (liCte +
    """
          |SELECT doc_id, 'R_KIND_PRESENT' AS rule_id, 'error' AS severity, 'spans/kind' AS path, 'span kind must be present' AS message FROM li WHERE ok%89=0 AND ok%71<>0
          |UNION ALL SELECT doc_id, 'R_TEXT_PRESENT', 'error', 'spans/text', 'text span must carry text' FROM li WHERE ok%53=0 AND ok%71<>0
          |UNION ALL SELECT doc_id, 'R_KIND_VOCAB', 'error', 'spans/kind', 'span kind must be in vocabulary' FROM li WHERE ok%83=0 AND ok%71<>0
          |UNION ALL SELECT doc_id, 'R_MEDIA_REF_RESOLVES', 'fatal', 'spans/media_ref', 'span media_ref must resolve in media catalog' FROM li WHERE ok%79=0 AND ok%71<>0
          |UNION ALL SELECT doc_id, 'R_TEXT_FORMAT', 'error', 'spans/text', 'header text span must match ^[A-Z]{2}$' FROM li WHERE ok%73=0 AND ok%89<>0 AND ok%43<>0 AND ok%71<>0
          |UNION ALL SELECT doc_id, 'R_QTY_RANGE', 'error', 'spans/text', 'numeric text span must be in [1,50]' FROM li WHERE ok%61=0 AND ok%53<>0 AND ok%71<>0
          |UNION ALL SELECT doc_id, 'R_MEDIA_NO_TEXT', 'warning', 'spans/text', 'media span must not carry text' FROM li WHERE ok%67=0 AND ok%83<>0 AND ok%71<>0
          |UNION ALL SELECT doc_id, 'R_OFFSET_ORDER', 'error', 'spans/offset', 'span offsets must be strictly increasing' FROM li WHERE (ok%97=0 OR ok%59=0) AND ok%71<>0
          |UNION ALL SELECT doc_id, 'R_SPAN_COUNT', 'error', 'spans', 'doc must contain between 1 and 8 spans' FROM li WHERE ok%71=0
          |UNION ALL SELECT doc_id, 'R_HAS_MEDIA', 'info', 'spans', 'doc carries no media span' FROM li WHERE ok%71=0 OR (ok%83=0 AND ok%47<>0)
          |UNION ALL SELECT doc_id, 'R_ONE_HEADER', 'error', 'spans', 'doc must contain exactly one header text span at offset 0' FROM li WHERE ok%71=0 OR ((ok%89=0 OR ok%43=0) AND ok%59<>0) OR (ok%89<>0 AND ok%43<>0 AND ok%59=0)
          |UNION ALL SELECT doc_id, 'R_TAIL_EITHER_OR', 'error', 'spans', 'every non-initial span must carry text or a media_ref' FROM li WHERE ok%53=0 AND ok%71<>0 AND NOT(ok%43=0 AND ok%97=0 AND ok%59<>0)
          |UNION ALL SELECT doc_id, 'R_TEXT_MEDIA_BALANCE', 'error', 'spans', 'doc must carry at least as many text spans as media spans' FROM li WHERE ok%71<>0 AND ok%47=0 AND ((ok%83=0 AND ok%89=0 AND ok%59<>0) OR (ok%83<>0 AND (ok%89=0 OR ok%59<>0)))
          |UNION ALL SELECT doc_id, 'R_CLASSIFIED', 'error', 'spans', 'doc must carry a header text span or a media span' FROM li WHERE ok%71=0 OR ((ok%89=0 OR ok%43=0) AND ok%59<>0 AND ok%83=0 AND ok%47<>0)
          |UNION ALL SELECT doc_id, 'R_HEADER_OFFSET_EQ', 'error', 'spans/offset', 'first span must start at the expected offset 0' FROM li WHERE ok%43=0 AND ok%71<>0
          |UNION ALL SELECT doc_id, 'R_REF_VERSION', 'error', 'spans/media_ref', 'media_ref must resolve in its version''s catalog (fallback latest)' FROM li WHERE ok%71<>0 AND (ok%79=0 OR (ok%41=0 AND (pk%1000)%2=1))""".stripMargin)

  /** Post-repair severity counts: the expected-violation predicates with
    * the four safe normalizations applied (header case-fold, blob->media
    * alias, media-text drop, offset zeroing) — shared by the repair-report
    * oracle and the verdict-diff oracle. */
  private val repairedCountsSql =
    """CAST(ok%79=0 AND ok%71<>0 AS INT) AS n_fatal,
      |  CAST(ok%89=0 AND ok%71<>0 AS INT)
      |    + CAST(ok%53=0 AND ok%71<>0 AS INT)
      |    + CAST(ok%61=0 AND ok%53<>0 AND ok%71<>0 AS INT)
      |    + CAST((ok%97=0 OR ok%59=0) AND ok%71<>0 AS INT)
      |    + CAST(ok%71=0 AS INT)
      |    + CAST(ok%71=0 OR (ok%89=0 AND ok%59<>0) OR (ok%89<>0 AND ok%59=0) AS INT)
      |    + CAST(ok%53=0 AND ok%71<>0 AS INT)
      |    + CAST(ok%71<>0 AND ok%47=0 AND NOT(ok%89<>0 AND ok%59=0) AS INT)
      |    + CAST(ok%71=0 AS INT)
      |    + CAST(ok%71<>0 AND (ok%79=0 OR (ok%41=0 AND (pk%1000)%2=1)) AS INT) AS n_error,
      |  CAST(ok%67=0 AND ok%83=0 AND ok%71<>0 AS INT) AS n_warn,
      |  CAST(ok%71=0 AS INT) AS n_info""".stripMargin

  /** The four severity-count expressions of the expected-verdict
    * recomputation (pure functions of ok/pk) — shared by the per-doc
    * verdict oracle and the per-partition metrics oracle. */
  private val verdictCountsSql =
    """CAST(ok%79=0 AND ok%71<>0 AS INT) AS n_fatal,
      |  CAST(ok%89=0 AND ok%71<>0 AS INT)
      |    + CAST(ok%53=0 AND ok%71<>0 AS INT)
      |    + CAST(ok%83=0 AND ok%71<>0 AS INT)
      |    + CAST(ok%73=0 AND ok%89<>0 AND ok%43<>0 AND ok%71<>0 AS INT)
      |    + CAST(ok%61=0 AND ok%53<>0 AND ok%71<>0 AS INT)
      |    + CAST((ok%97=0 OR ok%59=0) AND ok%71<>0 AS INT)
      |    + CAST(ok%71=0 AS INT)
      |    + CAST(ok%71=0 OR ((ok%89=0 OR ok%43=0) AND ok%59<>0) OR (ok%89<>0 AND ok%43<>0 AND ok%59=0) AS INT)
      |    + CAST(ok%53=0 AND ok%71<>0 AND NOT(ok%43=0 AND ok%97=0 AND ok%59<>0) AS INT)
      |    + CAST(ok%71<>0 AND ok%47=0 AND ((ok%83=0 AND ok%89=0 AND ok%59<>0) OR (ok%83<>0 AND (ok%89=0 OR ok%59<>0))) AS INT)
      |    + CAST(ok%71=0 OR ((ok%89=0 OR ok%43=0) AND ok%59<>0 AND ok%83=0 AND ok%47<>0) AS INT)
      |    + CAST(ok%43=0 AND ok%71<>0 AS INT)
      |    + CAST(ok%71<>0 AND (ok%79=0 OR (ok%41=0 AND (pk%1000)%2=1)) AS INT) AS n_error,
      |  CAST(ok%67=0 AND ok%83<>0 AND ok%71<>0 AS INT) AS n_warn,
      |  CAST(ok%71=0 OR (ok%83=0 AND ok%47<>0) AS INT) AS n_info""".stripMargin

  /** Exhaustive all-pairs simhash oracle at a given Hamming threshold:
    * FNV-1a-64 token hashes and simhash signatures recomputed in HUGEINT
    * arithmetic mod 2^64. Independent of the bucketing scheme — valid for
    * any (keyBlocks, maxHamming) inside the pigeonhole-exactness bound.
    * ascii() == UTF-8 byte for the ASCII-only corpus. */
  private def simhashOracle(maxHamming: Int): String = {
    val pow2 = (0 until 64).map(j => BigInt(1) << j).mkString(", ")
    s"""WITH corpus AS (
       |  SELECT doc_id, text FROM documents
       |  UNION ALL SELECT doc_id + 1000000, text || ' near dup copy tail'
       |  FROM documents WHERE doc_id%50=0),
       |tok AS (SELECT doc_id,
       |        list_filter(string_split(text, ' '), w -> len(w) > 0) AS t
       |        FROM corpus),
       |th AS (SELECT doc_id, list_transform(t, w ->
       |  list_reduce(
       |    list_prepend(CAST(14695981039346656037 AS HUGEINT),
       |      list_transform(generate_series(1, length(w)),
       |        i -> CAST(ascii(substr(w, i, 1)) AS HUGEINT))),
       |    (h, b) -> ((h - (h % 256) + xor(CAST(h % 256 AS BIGINT), CAST(b AS BIGINT)))
       |               * 1099511628211) % 18446744073709551616)) AS hs
       |  FROM tok WHERE len(t) > 0),
       |sim AS (SELECT doc_id,
       |  CAST(list_sum(list_transform(CAST(list_value($pow2) AS HUGEINT[]), p ->
       |    CASE WHEN 2 * len(list_filter(hs, h -> (h // p) % 2 = 1)) > len(hs)
       |         THEN p ELSE CAST(0 AS HUGEINT) END)) AS UBIGINT) AS s
       |  FROM th)
       |SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b,
       |       CAST(bit_count(xor(a.s, b.s)) AS INT) AS hamming
       |FROM sim a JOIN sim b ON a.doc_id < b.doc_id
       |WHERE bit_count(xor(a.s, b.s)) <= $maxHamming""".stripMargin
  }

  def oracleSql: Map[String, String] = {
    Map(
      "validate_violations" -> violationsOracle,
      // rule-level drift: regroup the SAME expected-violations derivation
      // into per-rule counts split by orderkey parity, then the PSI formula
      // (Laplace +0.5 per category) — independent of the Spark plan
      "drift_rule_psi" -> rulePsiParityOracle,
      // the stored-runs composition persists (even -> base, odd -> cur)
      // per-rule counts and recombines them; the expected PSI is the SAME
      // parity-split recomputation
      "drift_stored_runs" -> rulePsiParityOracle,
      // batch sessionization: same lag/boundary/cumulative-count derivation
      // over epoch-microseconds (12h gap)
      "sessionize_batch" ->
        """WITH e AS (SELECT user_id, epoch_us(ts) AS us, event_id FROM events),
          |l AS (SELECT user_id, us, event_id,
          |        CASE WHEN lag(us) OVER (PARTITION BY user_id ORDER BY us, event_id) IS NULL
          |              OR us - lag(us) OVER (PARTITION BY user_id ORDER BY us, event_id)
          |                 > CAST(43200000000 AS BIGINT)
          |             THEN 1 ELSE 0 END AS new_sess FROM e),
          |s AS (SELECT user_id, us,
          |        sum(new_sess) OVER (PARTITION BY user_id ORDER BY us, event_id
          |                            ROWS UNBOUNDED PRECEDING) AS sess_no FROM l)
          |SELECT user_id, min(us) AS start_us, max(us) AS end_us,
          |       count(*) AS n_events
          |FROM s GROUP BY user_id, sess_no""".stripMargin,
      "validate_verdicts" -> (liCte +
        s""", f AS (SELECT doc_id,
          |  $verdictCountsSql
          |FROM li)
          |SELECT doc_id,
          |  CASE WHEN n_fatal>0 THEN 'rejected' WHEN n_error>0 THEN 'invalid'
          |       WHEN n_warn>0 OR n_info>0 THEN 'acceptable' ELSE 'valid' END AS verdict,
          |  n_fatal, n_error, n_warn, n_info FROM f""".stripMargin),
      // per-partition rollup of the SAME verdict recomputation, keyed by the
      // shipdate day a lake layout would partition by
      "validate_partition_metrics" ->
        s"""WITH li AS (
          |  SELECT l_orderkey AS ok, l_partkey AS pk,
          |         strftime(l_shipdate, '%Y-%m-%d') AS ship_day
          |  FROM lineitem),
          |f AS (SELECT ship_day,
          |  $verdictCountsSql
          |FROM li)
          |SELECT ship_day,
          |  COUNT(*) AS n_docs,
          |  CAST(SUM(CASE WHEN n_fatal=0 AND n_error=0 AND n_warn=0 AND n_info=0 THEN 1 ELSE 0 END) AS BIGINT) AS n_valid,
          |  CAST(SUM(CASE WHEN n_fatal=0 AND n_error=0 AND (n_warn>0 OR n_info>0) THEN 1 ELSE 0 END) AS BIGINT) AS n_acceptable,
          |  CAST(SUM(CASE WHEN n_fatal=0 AND n_error>0 THEN 1 ELSE 0 END) AS BIGINT) AS n_invalid,
          |  CAST(SUM(CASE WHEN n_fatal>0 THEN 1 ELSE 0 END) AS BIGINT) AS n_rejected,
          |  CAST(SUM(n_fatal) AS BIGINT) AS n_fatal,
          |  CAST(SUM(n_error) AS BIGINT) AS n_error,
          |  CAST(SUM(n_warn) AS BIGINT) AS n_warn,
          |  CAST(SUM(n_info) AS BIGINT) AS n_info
          |FROM f GROUP BY 1""".stripMargin,
      // repair + revalidate: the post-repair rule corpus re-derived from
      // the injection predicates, with each repair's effect folded in —
      // KIND_VOCAB / TEXT_FORMAT / HEADER_OFFSET_EQ / MEDIA_NO_TEXT(media)
      // become unfirable; ONE_HEADER / CLASSIFIED / BALANCE / HAS_MEDIA /
      // TAIL_EITHER_OR re-derive against the repaired span set (s1 is
      // always media-kind, span0 always offset 0)
      "validate_repair" ->
        (liCte + s"""
          |SELECT doc_id,
          |  CAST(ok%73=0 AND ok%71<>0 AS INT)
          |    + CAST(ok%67=0 AND ok%83<>0 AND ok%71<>0 AS INT)
          |    + CAST(ok%43=0 AND ok%71<>0 AS INT)
          |    + CAST(ok%83=0 AND ok%71<>0 AS INT) AS n_repairs,
          |  CASE WHEN n_fatal>0 THEN 'rejected' WHEN n_error>0 THEN 'invalid'
          |       WHEN n_warn>0 OR n_info>0 THEN 'acceptable' ELSE 'valid' END AS verdict_after,
          |  n_fatal AS n_fatal_after, n_error AS n_error_after,
          |  n_warn AS n_warn_after, n_info AS n_info_after
          |FROM (SELECT doc_id, ok,
          |  $repairedCountsSql
          |FROM li) f""".stripMargin),
      // oracle: the BEFORE verdict (verdictCountsSql) joined per doc to
      // the AFTER verdict (repairedCountsSql — the same expected post-
      // repair derivation validate_repair hashes), regrouped into the
      // transition matrix with the k-smallest exemplar convention of
      // validate_examples
      "validate_diff" ->
        (liCte + s""", pre AS (SELECT doc_id,
          |  $verdictCountsSql
          |FROM li),
          |prev AS (SELECT doc_id,
          |  CASE WHEN n_fatal>0 THEN 'rejected' WHEN n_error>0 THEN 'invalid'
          |       WHEN n_warn>0 OR n_info>0 THEN 'acceptable' ELSE 'valid' END AS verdict_before
          |  FROM pre),
          |post AS (SELECT doc_id,
          |  CASE WHEN n_fatal>0 THEN 'rejected' WHEN n_error>0 THEN 'invalid'
          |       WHEN n_warn>0 OR n_info>0 THEN 'acceptable' ELSE 'valid' END AS verdict_after
          |  FROM (SELECT doc_id, ok,
          |  $repairedCountsSql
          |FROM li) f),
          |j AS (SELECT prev.doc_id AS doc_id, verdict_before, verdict_after
          |      FROM prev JOIN post USING (doc_id)),
          |g AS (SELECT verdict_before, verdict_after,
          |             CAST(COUNT(*) AS BIGINT) AS n_docs
          |      FROM j GROUP BY 1, 2),
          |rk AS (SELECT verdict_before, verdict_after, doc_id,
          |              row_number() OVER (PARTITION BY verdict_before, verdict_after
          |                                 ORDER BY doc_id) AS rn
          |       FROM j),
          |ex AS (SELECT verdict_before, verdict_after,
          |              string_agg(doc_id, ',' ORDER BY doc_id) AS examples
          |       FROM rk WHERE rn <= 5 GROUP BY 1, 2)
          |SELECT g.verdict_before, g.verdict_after, n_docs, examples
          |FROM g JOIN ex USING (verdict_before, verdict_after)""".stripMargin),
      // oracle: every expectation recomputed as one conditional sum over
      // the same table, then one row per expectation — exact integers
      "validate_expectations" ->
        """WITH m AS (SELECT
          |  SUM(CASE WHEN text IS NULL THEN 1 ELSE 0 END) AS v0,
          |  SUM(CASE WHEN lang IS NULL THEN 1 ELSE 0 END) AS v1,
          |  COUNT(*) - COUNT(DISTINCT doc_id) AS v2,
          |  SUM(CASE WHEN lang IS NOT NULL
          |           AND lang NOT IN ('de','en','es','fr') THEN 1 ELSE 0 END) AS v3,
          |  SUM(CASE WHEN source IS NOT NULL
          |           AND NOT regexp_matches(source, '^src[0-9]+$') THEN 1 ELSE 0 END) AS v4,
          |  SUM(CASE WHEN n_chars IS NOT NULL
          |           AND (n_chars < 0 OR n_chars > 400) THEN 1 ELSE 0 END) AS v5
          |  FROM documents)
          |SELECT 'text' AS col_name, 'not_null' AS expectation,
          |       CAST(v0 AS BIGINT) AS violations, CAST(0 AS BIGINT) AS allowed,
          |       v0 <= 0 AS pass FROM m
          |UNION ALL SELECT 'lang', 'not_null', CAST(v1 AS BIGINT), 0, v1 <= 0 FROM m
          |UNION ALL SELECT 'doc_id', 'unique', CAST(v2 AS BIGINT), 0, v2 <= 0 FROM m
          |UNION ALL SELECT 'lang', 'in_set', CAST(v3 AS BIGINT), 0, v3 <= 0 FROM m
          |UNION ALL SELECT 'source', 'matches', CAST(v4 AS BIGINT), 0, v4 <= 0 FROM m
          |UNION ALL SELECT 'n_chars', 'between', CAST(v5 AS BIGINT), 0, v5 <= 0 FROM m""".stripMargin,
      // heavy keys: exact counts, integer-ppm share, deterministic
      // (cnt DESC, key ASC) tiebreak
      "stats_heavy_keys" ->
        """WITH c AS (SELECT user_id, COUNT(*) AS cnt FROM events GROUP BY 1),
          |t AS (SELECT SUM(cnt) AS total FROM c)
          |SELECT user_id, CAST(cnt AS BIGINT) AS cnt,
          |       CAST((cnt * 1000000) // total AS BIGINT) AS ppm
          |FROM c CROSS JOIN t
          |ORDER BY cnt DESC, user_id ASC LIMIT 20""".stripMargin,
      // month-over-month PSI: conditional-sum histogram + lag window, PSI
      // as an EXPLICIT left-to-right 10-term chain — the same association
      // order as the Spark reduce, so the float sum is bit-identical
      "drift_timeline" -> {
        val nb = 10
        val csums = (0 until nb).map(i =>
          s"CAST(SUM(CASE WHEN b=$i THEN 1 ELSE 0 END) AS BIGINT) AS c$i").mkString(", ")
        val lags = (0 until nb).map(i =>
          s"lag(c$i) OVER (ORDER BY period) AS p$i").mkString(", ")
        val nCur = (0 until nb).map(i => s"c$i").mkString(" + ")
        val nPrev = (0 until nb).map(i => s"p$i").mkString(" + ")
        val terms = (0 until nb).map(i =>
          s"(((p$i+0.5)/(n_prev+5.0)) - ((c$i+0.5)/(n_cur+5.0))) * ln(((p$i+0.5)/(n_prev+5.0)) / ((c$i+0.5)/(n_cur+5.0)))")
          .mkString("\n          |    + ")
        s"""WITH o AS (SELECT strftime(o_orderdate, '%Y-%m') AS period,
          |  CAST(least(greatest(floor(o_totalprice/60000.0), 0), ${nb - 1}) AS INT) AS b
          |  FROM orders),
          |h AS (SELECT period, $csums FROM o GROUP BY 1),
          |l AS (SELECT *, $lags FROM h),
          |t AS (SELECT *, $nCur AS n_cur, $nPrev AS n_prev FROM l)
          |SELECT period, n_prev, n_cur,
          |  round($terms, 6) AS psi
          |FROM t WHERE n_prev IS NOT NULL""".stripMargin
      },
      // robust median/MAD outlier recomputation; quantile_cont over integer
      // cents interpolates to exact .0/.5 doubles in both engines
      "stats_outliers" ->
        """WITH o AS (SELECT strftime(o_orderdate, '%Y-%m') AS order_month,
          |                  o_orderkey AS order_key,
          |                  CAST(round(o_totalprice*100) AS BIGINT) AS total_cents
          |           FROM orders),
          |med AS (SELECT order_month, quantile_cont(total_cents, 0.5) AS med
          |        FROM o GROUP BY 1),
          |d AS (SELECT o.*, med, abs(total_cents - med) AS abs_dev
          |      FROM o JOIN med USING (order_month)),
          |mad AS (SELECT order_month, quantile_cont(abs_dev, 0.5) AS mad
          |        FROM d GROUP BY 1)
          |SELECT order_month, order_key, total_cents, med, mad, abs_dev,
          |       'R_VALUE_OUTLIER' AS rule_id, 'warning' AS severity
          |FROM d JOIN mad USING (order_month)
          |WHERE abs_dev > 2.2*mad""".stripMargin,
      "span_roundtrip" -> (liCte +
        """
          |SELECT doc_id,
          | CASE WHEN ok%71=0 THEN '' ELSE
          |   (CASE WHEN ok%89=0 THEN '~' ELSE 'text' END) || ':' ||
          |   (CASE WHEN ok%73=0 THEN lower(rf||ls) ELSE rf||ls END) || ':~:' ||
          |   (CASE WHEN ok%43=0 THEN '7' ELSE '0' END) || '|' ||
          |   (CASE WHEN ok%83=0 THEN 'blob' ELSE 'media' END) || ':' ||
          |   (CASE WHEN ok%67=0 THEN 'leak' ELSE '~' END) || ':' ||
          |   (CASE WHEN ok%79=0 THEN 'x' WHEN ok%41=0 THEN 'v1/m' ELSE 'm' END) || CAST(pk%1000 AS VARCHAR) || ':10|' ||
          |   'text:' ||
          |   (CASE WHEN ok%53=0 THEN '~' WHEN ok%61=0 THEN '999' ELSE CAST(CAST(qty AS INT) AS VARCHAR) END) || ':~:' ||
          |   (CASE WHEN ok%97=0 THEN '5' ELSE '20' END) || '|' ||
          |   (CASE WHEN ok%59=0 THEN 'text:AB:~:0|' ELSE '' END) ||
          |   (CASE WHEN ok%47=0 THEN 'media:~:m' || CAST(pk%1000 AS VARCHAR) || ':30|'
          |                          || 'media:~:m' || CAST(pk%1000 AS VARCHAR) || ':40|'
          |         ELSE '' END)
          | END AS span_fp
          |FROM li""".stripMargin),
      "uniqueness_dups" ->
        """SELECT CAST(l_orderkey AS VARCHAR) || '-' || CAST(l_linenumber AS VARCHAR) AS doc_id,
          |       count(*) AS cnt
          |FROM lineitem GROUP BY 1 HAVING count(*) > 1""".stripMargin,
      "referential_dangling" ->
        """SELECT CAST(l_orderkey AS VARCHAR) || '-' || CAST(l_linenumber AS VARCHAR) AS doc_id,
          |       'x' || CAST(l_partkey%1000 AS VARCHAR) AS media_ref
          |FROM lineitem WHERE l_orderkey%79=0 AND l_orderkey%71<>0""".stripMargin,
      // header/detail reconciliation recomputed from both base tables; the
      // round(x*100) integer-cents idiom is the proven cross-engine one
      // (report_quarterly)
      "validate_reconcile" ->
        """WITH d AS (SELECT l_orderkey AS order_key,
          |             SUM(CAST(round(l_extendedprice*100) AS BIGINT)) AS computed_cents,
          |             COUNT(*) AS n_lines
          |           FROM lineitem GROUP BY 1),
          |h AS (SELECT o_orderkey AS order_key,
          |             CAST(round(o_totalprice*100) AS BIGINT) AS stored_cents FROM orders),
          |j AS (SELECT coalesce(h.order_key, d.order_key) AS order_key,
          |             stored_cents, computed_cents, n_lines
          |      FROM h FULL OUTER JOIN d ON h.order_key = d.order_key)
          |SELECT order_key,
          |       CAST(coalesce(stored_cents, -1) AS BIGINT) AS stored_cents,
          |       CAST(coalesce(computed_cents, -1) AS BIGINT) AS computed_cents,
          |       CAST(coalesce(n_lines, 0) AS BIGINT) AS n_lines,
          |       CAST(CASE WHEN stored_cents IS NOT NULL AND computed_cents IS NOT NULL
          |            THEN stored_cents - computed_cents ELSE 0 END AS BIGINT) AS diff_cents,
          |       CASE WHEN stored_cents IS NULL THEN 'R_ORPHAN_LINES'
          |            WHEN n_lines IS NULL THEN 'R_NO_LINES'
          |            ELSE 'R_TOTAL_MISMATCH' END AS rule_id,
          |       CASE WHEN stored_cents IS NULL THEN 'fatal'
          |            WHEN n_lines IS NULL THEN 'warning'
          |            ELSE 'error' END AS severity
          |FROM j
          |WHERE stored_cents IS NULL OR n_lines IS NULL
          |   OR stored_cents <> computed_cents""".stripMargin,
      "validate_fd" ->
        """SELECT order_key, n_values, n_rows, dep_min, dep_max,
          |       'R_FD_ORDER_SHIPDAY' AS rule_id, 'warning' AS severity
          |FROM (SELECT l_orderkey AS order_key,
          |             COUNT(DISTINCT strftime(l_shipdate, '%Y-%m-%d')) AS n_values,
          |             COUNT(*) AS n_rows,
          |             MIN(strftime(l_shipdate, '%Y-%m-%d')) AS dep_min,
          |             MAX(strftime(l_shipdate, '%Y-%m-%d')) AS dep_max
          |      FROM lineitem GROUP BY 1) g
          |WHERE n_values > 1""".stripMargin,
      // per-rule exemplars over the SAME expected-violations derivation:
      // dedup to docs, rank per rule, keep the 5 smallest doc_ids
      "validate_examples" ->
        s"""WITH v AS ($violationsOracle),
           |dd AS (SELECT DISTINCT rule_id, severity, doc_id FROM v),
           |tot AS (SELECT rule_id, severity, COUNT(*) AS n_violations FROM v GROUP BY 1,2),
           |docs AS (SELECT rule_id, severity, COUNT(*) AS n_docs FROM dd GROUP BY 1,2),
           |rk AS (SELECT rule_id, severity, doc_id,
           |              row_number() OVER (PARTITION BY rule_id, severity ORDER BY doc_id) AS rn
           |       FROM dd),
           |ex AS (SELECT rule_id, severity, string_agg(doc_id, ',' ORDER BY doc_id) AS examples
           |       FROM rk WHERE rn <= 5 GROUP BY 1,2)
           |SELECT tot.rule_id, tot.severity, n_violations, n_docs, examples
           |FROM tot JOIN docs USING (rule_id, severity)
           |         JOIN ex USING (rule_id, severity)""".stripMargin,
      // schema diff recomputed from DuckDB's own catalog metadata over the
      // same parquet (information_schema.columns), type names canonicalized
      // to Spark's simpleString vocabulary — an independent derivation of
      // the actual schema
      "validate_schema" ->
        """WITH actual AS (
          |  SELECT column_name AS col_name,
          |         CASE data_type WHEN 'BIGINT' THEN 'bigint'
          |                        WHEN 'VARCHAR' THEN 'string'
          |                        WHEN 'INTEGER' THEN 'int'
          |                        WHEN 'DOUBLE' THEN 'double'
          |                        WHEN 'TIMESTAMP' THEN 'timestamp'
          |                        ELSE lower(data_type) END AS actual_type
          |  FROM information_schema.columns WHERE table_name = 'documents'),
          |contract(col_name, expected_type) AS (VALUES
          |  ('doc_id','bigint'), ('text','string'), ('lang','int'),
          |  ('n_chars','bigint'), ('title','string'))
          |SELECT c.col_name, 'R_COL_MISSING' AS rule_id, 'error' AS severity,
          |       c.expected_type, '-' AS actual_type
          |FROM contract c LEFT JOIN actual a USING (col_name) WHERE a.col_name IS NULL
          |UNION ALL
          |SELECT col_name, 'R_COL_TYPE', 'error', expected_type, actual_type
          |FROM contract JOIN actual USING (col_name) WHERE expected_type <> actual_type
          |UNION ALL
          |SELECT a.col_name, 'R_COL_UNEXPECTED', 'warning', '-', a.actual_type
          |FROM actual a LEFT JOIN contract c USING (col_name) WHERE c.col_name IS NULL""".stripMargin,
      "validate_sequence" ->
        """SELECT user_id, event_id, epoch_us(ts) AS ts_micros,
          |       'R_PURCHASE_NEEDS_CLICK' AS rule_id, 'error' AS severity
          |FROM (SELECT user_id, event_id, ts, event_type,
          |        count(CASE WHEN event_type='click' THEN 1 END)
          |          OVER (PARTITION BY user_id ORDER BY ts, event_id
          |                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prior_clicks
          |      FROM events) x
          |WHERE event_type='purchase' AND prior_clicks = 0""".stripMargin,
      "temporal_order_weeks" ->
        """SELECT CAST(l.l_orderkey AS VARCHAR) || '-' || CAST(l.l_linenumber AS VARCHAR) AS doc_id,
          |       CAST(date_diff('day', o.o_orderdate, l.l_shipdate) AS INT) AS days_between,
          |       'error' AS severity, 'R_SHIP_AFTER_ORDER' AS rule_id
          |FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
          |WHERE date_diff('day', o.o_orderdate, l.l_shipdate) < 7""".stripMargin,
      "derive_latest_span" -> (liCte +
        """
          |SELECT doc_id,
          |  CASE WHEN ok%71=0 THEN NULL
          |       WHEN ok%47=0 THEN 'media'
          |       WHEN ok%97=0 AND ok%83=0 THEN 'blob'
          |       WHEN ok%97=0 THEN 'media'
          |       ELSE 'text' END AS last_kind,
          |  CASE WHEN ok%71=0 THEN NULL
          |       WHEN ok%47=0 THEN 40
          |       WHEN ok%97=0 THEN 10 ELSE 20 END AS last_offset
          |FROM li""".stripMargin),
      "derive_latest_event" ->
        """SELECT user_id, event_id, event_type, ts, value FROM (
          |  SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
          |  FROM events) t WHERE rn = 1""".stripMargin,
      "derive_censor_date" ->
        """SELECT o.o_orderkey,
          |       coalesce(r.last_returned,
          |                CASE WHEN o.o_orderstatus='F'
          |                     THEN coalesce(r.last_f_shipped, o.o_orderdate) END,
          |                r.last_shipped, o.o_orderdate) AS censor_ts
          |FROM orders o LEFT JOIN (
          |  SELECT l_orderkey,
          |         max(CASE WHEN l_returnflag='R' THEN l_shipdate END) AS last_returned,
          |         max(CASE WHEN l_linestatus='F' THEN l_shipdate END) AS last_f_shipped,
          |         max(l_shipdate) AS last_shipped
          |  FROM lineitem GROUP BY 1) r ON o.o_orderkey = r.l_orderkey""".stripMargin,
      "derive_type_set" ->
        """SELECT user_id, concat_ws(',',
          |  CASE WHEN has_click=1 THEN 'click' END,
          |  CASE WHEN has_error=1 THEN 'error' END,
          |  CASE WHEN has_purchase=1 THEN 'purchase' END,
          |  CASE WHEN has_signup=1 THEN 'signup' END,
          |  CASE WHEN has_view=1 THEN 'view' END) AS type_set
          |FROM (SELECT user_id,
          |  max(CASE WHEN event_type='click' THEN 1 ELSE 0 END) AS has_click,
          |  max(CASE WHEN event_type='error' THEN 1 ELSE 0 END) AS has_error,
          |  max(CASE WHEN event_type='purchase' THEN 1 ELSE 0 END) AS has_purchase,
          |  max(CASE WHEN event_type='signup' THEN 1 ELSE 0 END) AS has_signup,
          |  max(CASE WHEN event_type='view' THEN 1 ELSE 0 END) AS has_view
          |FROM events GROUP BY 1) t""".stripMargin,
      "report_quarterly" ->
        """SELECT CAST(year(ts) AS INT) AS yr, CAST(quarter(ts) AS INT) AS qtr, event_type,
          |       count(*) AS n_events,
          |       CAST((sum(CAST(round(value*100) AS BIGINT)) + 50) // 100 AS BIGINT) AS value_sum
          |FROM events GROUP BY 1,2,3""".stripMargin,
      "stats_columns" ->
        Seq("doc_id", "text", "lang", "source", "n_chars").map { c =>
          s"""SELECT '$c' AS col_name, count(*) AS n_total,
             |count(*) - count($c) AS n_null, count(DISTINCT $c) AS n_distinct,
             |CAST(min($c) AS VARCHAR) AS min_v, CAST(max($c) AS VARCHAR) AS max_v
             |FROM documents""".stripMargin
        }.mkString("\nUNION ALL\n"),
      "stats_quantiles" ->
        """SELECT 'n_chars' AS col_name,
          |       quantile_cont(n_chars, 0.25) AS q25,
          |       quantile_cont(n_chars, 0.5) AS q50,
          |       quantile_cont(n_chars, 0.75) AS q75,
          |       quantile_cont(n_chars, 0.9) AS q90
          |FROM documents""".stripMargin,
      "stats_histogram" ->
        """SELECT CAST(least(greatest(floor(n_chars/50.0), 0), 9) AS BIGINT) AS bucket,
          |       count(*) AS cnt
          |FROM documents GROUP BY 1""".stripMargin,
      "drift_psi_ks" ->
        """WITH b AS (
          |  SELECT CAST(least(greatest(floor(n_chars/50.0), 0), 9) AS BIGINT) AS bucket,
          |         CASE WHEN doc_id%2=1 THEN 1 ELSE 0 END AS cur
          |  FROM documents),
          |c AS (
          |  SELECT bucket,
          |         CAST(sum(CASE WHEN cur=0 THEN 1 ELSE 0 END) AS BIGINT) AS ca,
          |         CAST(sum(CASE WHEN cur=1 THEN 1 ELSE 0 END) AS BIGINT) AS cb
          |  FROM b GROUP BY 1),
          |e AS (
          |  SELECT bucket, ca, cb,
          |         CAST(sum(ca) OVER () AS BIGINT) AS na,
          |         CAST(sum(cb) OVER () AS BIGINT) AS nb,
          |         CAST(sum(ca) OVER (ORDER BY bucket) AS BIGINT) AS cuma,
          |         CAST(sum(cb) OVER (ORDER BY bucket) AS BIGINT) AS cumb
          |  FROM c)
          |SELECT 'psi' AS metric, round(sum((pa-pb)*ln(pa/pb)), 6) AS value
          |FROM (SELECT (ca+0.5)/(na+5.0) AS pa, (cb+0.5)/(nb+5.0) AS pb FROM e) t
          |UNION ALL
          |SELECT 'ks', round(max(abs(CAST(cuma AS DOUBLE)/na - CAST(cumb AS DOUBLE)/nb)), 6)
          |FROM e""".stripMargin,
      "q1_pricing_summary" ->
        """SELECT l_returnflag, l_linestatus,
          |       CAST(sum(l_quantity) AS BIGINT) AS sum_qty,
          |       count(*) AS n_rows,
          |       count(DISTINCT l_partkey) AS n_parts,
          |       CAST(round(sum(l_extendedprice*(1-l_discount))/100.0) AS BIGINT) AS revenue_hundreds
          |FROM lineitem GROUP BY 1,2""".stripMargin,
      "dedup_exact" ->
        """WITH corpus AS (
          |  SELECT doc_id, text FROM documents
          |  UNION ALL SELECT doc_id + 1000000, text FROM documents WHERE doc_id%50=0)
          |SELECT md5(text) AS text_hash, count(*) AS cnt, min(doc_id) AS min_doc_id
          |FROM corpus GROUP BY 1 HAVING count(*) > 1""".stripMargin,
      // oracle: the identical translate-based normalization (ASCII fold +
      // digit mask) with the collapse regex global-flagged ('g' — DuckDB
      // replaces first match by default, Spark replaces all)
      "dedup_exact_normalized" ->
        """WITH corpus AS (
          |  SELECT doc_id, text FROM documents
          |  UNION ALL SELECT doc_id + 3000000, upper(text) || ' !!'
          |  FROM documents WHERE doc_id%40=0),
          |n AS (SELECT doc_id, md5(text) AS raw_hash,
          |  md5(trim(regexp_replace(
          |    translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ123456789',
          |                    'abcdefghijklmnopqrstuvwxyz000000000'),
          |    '[^a-z0]+', ' ', 'g'))) AS norm_hash
          |  FROM corpus)
          |SELECT norm_hash, count(*) AS cnt,
          |  CAST(count(DISTINCT raw_hash) AS BIGINT) AS n_raw,
          |  min(doc_id) AS min_doc_id
          |FROM n GROUP BY 1 HAVING count(*) > 1""".stripMargin,
      "dedup_ngram_jaccard" -> (nearDupShinglesCte +
        """
          |SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b,
          |  CAST(len(list_intersect(a.sh, b.sh)) AS INT) AS n_inter,
          |  CAST(len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)) AS INT) AS n_union
          |FROM sh a JOIN sh b
          |  ON a.lang = b.lang AND a.source = b.source AND a.doc_id < b.doc_id
          |WHERE 10 * len(list_intersect(a.sh, b.sh))
          |   >= 6 * (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)))""".stripMargin),
      // oracle for the LSH variant is the exhaustive all-pairs exact
      // jaccard at the same threshold (the LSH parameters make a missed
      // pair vanishingly unlikely and the exact-verify step removes all
      // false candidates)
      "dedup_minhash_lsh" -> (nearDupShinglesCte +
        """
          |SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b,
          |  CAST(len(list_intersect(a.sh, b.sh)) AS INT) AS n_inter,
          |  CAST(len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)) AS INT) AS n_union
          |FROM sh a JOIN sh b ON a.doc_id < b.doc_id
          |WHERE 10 * len(list_intersect(a.sh, b.sh))
          |   >= 6 * (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)))""".stripMargin),
      // oracle: same exact-jaccard pair graph, components via a recursive
      // transitive-closure CTE (min reachable doc_id per node)
      "dedup_clusters" -> dupClustersOracleSql,
      // the star-contraction variant has the identical output contract, so
      // the same independent recomputation oracles it
      "dedup_clusters_star" -> dupClustersOracleSql,
      // oracle: every signal family recomputed independently — the
      // doubly-injected corpus (near-dup copies + PII suffixes), the
      // corpus-wide jaccard pair graph + recursive closure, eval-set
      // shingle overlap against the RAW %97 documents, and the
      // quality/langid/PII row derivations — composed with the same
      // precedence
      "curation_decisions_full" -> {
        val (em, ip, ph) = (graft.ops.Curation.emailPattern,
          graft.ops.Curation.ipPattern, graft.ops.Curation.phonePattern)
        s"""WITH RECURSIVE base AS (
           |  SELECT doc_id, text FROM documents
           |  UNION ALL SELECT doc_id + 1000000, text || ' near dup copy tail'
           |  FROM documents WHERE doc_id%50=0),
           |corpus AS (
           |  SELECT doc_id,
           |    CASE WHEN doc_id % 10 = 0
           |           THEN text || ' contact bob.smith@example.com ip 10.77.3.204 tel 555-0142'
           |         WHEN doc_id % 10 = 5
           |           THEN text || ' ann_lee@test.org from 192.168.0.13'
           |         ELSE text END AS text
           |  FROM base),
           |tok AS (SELECT doc_id, text,
           |        list_filter(string_split(text, ' '), w -> len(w) > 0) AS t FROM corpus),
           |sh AS (SELECT doc_id,
           |       list_distinct(list_transform(generate_series(1, len(t)-2),
           |         i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS sh
           |       FROM tok WHERE len(t) >= 3),
           |p AS (SELECT a.doc_id AS a, b.doc_id AS b
           |      FROM sh a JOIN sh b ON a.doc_id < b.doc_id
           |      WHERE 10 * len(list_intersect(a.sh, b.sh))
           |         >= 6 * (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)))),
           |e AS (SELECT a, b FROM p UNION SELECT b, a FROM p),
           |n AS (SELECT DISTINCT a AS doc_id FROM e),
           |reach(doc_id, r) AS (
           |  SELECT doc_id, doc_id FROM n
           |  UNION
           |  SELECT re.doc_id, e.b FROM reach re JOIN e ON re.r = e.a),
           |cl AS (SELECT doc_id, min(r) AS cluster_id FROM reach GROUP BY doc_id),
           |rawtok AS (SELECT doc_id,
           |           list_filter(string_split(text, ' '), w -> len(w) > 0) AS t
           |           FROM documents WHERE doc_id % 97 = 0),
           |ev AS (SELECT DISTINCT unnest(list_distinct(
           |         list_transform(generate_series(1, len(t)-2),
           |           i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))) AS s
           |       FROM rawtok WHERE len(t) >= 3),
           |ct AS (SELECT doc_id, count(*) AS n_contam
           |       FROM (SELECT doc_id, unnest(sh) AS s FROM sh) ds JOIN ev USING (s)
           |       GROUP BY doc_id),
           |q AS (SELECT doc_id,
           |  CASE WHEN len(t) BETWEEN 5 AND 10000
           |        AND CAST(list_sum(list_transform(t, w -> length(w))) AS DOUBLE)/len(t) < 20.0
           |       THEN 1 ELSE 0 END AS quality_ok,
           |  CASE WHEN len(regexp_extract_all(text, '$em'))
           |          + len(regexp_extract_all(text, '$ip'))
           |          + len(regexp_extract_all(text, '$ph')) > 0
           |       THEN 1 ELSE 0 END AS pii_found,
           |  $langScoresSql
           |FROM tok)
           |SELECT q.doc_id,
           |  CASE $langCasesSql ELSE '$langLastSql' END AS pred_lang,
           |  quality_ok,
           |  coalesce(cl.cluster_id = q.doc_id, TRUE) AS dup_keep,
           |  CASE WHEN ct.doc_id IS NOT NULL THEN 1 ELSE 0 END AS contaminated,
           |  pii_found,
           |  CASE WHEN cl.cluster_id IS NOT NULL AND cl.cluster_id <> q.doc_id
           |         THEN 'drop_neardup'
           |       WHEN ct.doc_id IS NOT NULL THEN 'drop_contaminated'
           |       WHEN quality_ok = 0 THEN 'drop_quality'
           |       ELSE 'keep' END AS decision
           |FROM q LEFT JOIN cl ON q.doc_id = cl.doc_id
           |LEFT JOIN ct ON q.doc_id = ct.doc_id""".stripMargin
      },
      // oracle: the same boilerplate injection, document frequency over
      // per-doc distinct lines, and order-preserving reassembly — zipped
      // unnest gives line positions, list(... ORDER BY pos) restores order
      "dedup_lines" ->
        """WITH corpus AS (
          |  SELECT doc_id, concat_ws(chr(10),
          |    CASE WHEN doc_id % 7 = 0 THEN 'subscribe to our newsletter' END,
          |    text,
          |    CASE WHEN doc_id % 7 = 0 THEN 'copyright 2026 example corp' END,
          |    CASE WHEN doc_id % 11 = 0 THEN 'home about contact privacy terms' END)
          |    AS text
          |  FROM documents),
          |ln AS (SELECT doc_id, string_split(text, chr(10)) AS ls FROM corpus),
          |ex AS (SELECT doc_id, len(ls) AS n_lines,
          |        unnest(ls) AS line,
          |        unnest(generate_series(1, len(ls))) AS pos FROM ln),
          |hv AS (SELECT line FROM (SELECT DISTINCT doc_id, line FROM ex)
          |       GROUP BY line HAVING count(*) >= 5),
          |kp AS (SELECT ex.doc_id, ex.n_lines, ex.line, ex.pos
          |       FROM ex LEFT JOIN hv ON ex.line = hv.line WHERE hv.line IS NULL)
          |SELECT doc_id, CAST(n_lines AS INT) AS n_lines,
          |  CAST(n_lines - count(*) AS INT) AS n_removed,
          |  array_to_string(list(line ORDER BY pos), chr(10)) AS text_clean
          |FROM kp GROUP BY doc_id, n_lines""".stripMargin,
      // oracle: same passage injection and window document-frequency, then
      // an INDEPENDENT span derivation — classic SQL gaps-and-islands
      // (c - row_number() island keys) where the Spark side folds arrays
      // row-locally; agreement across the two methods is the point
      "dedup_spans" -> spanDedupOracle,
      // identical output contract for the hashed-shuffle variant (the
      // window key TYPE is internal to the plan)
      "dedup_spans_hashed" -> spanDedupOracle,
      // oracle: exhaustive exact jaccard over (corpus UNION batch),
      // restricted to pairs with >= 1 batch member — with doc_id_a <
      // doc_id_b and all batch ids >= 1e6 > every corpus id, that is
      // exactly b.doc_id >= 1e6. Independent of the index/banding path.
      "dedup_incremental" ->
        """WITH corpus AS (
          |  SELECT doc_id, text FROM documents
          |  UNION ALL SELECT doc_id + 1000000, text || ' near dup copy tail'
          |  FROM documents WHERE doc_id%50=0
          |  UNION ALL SELECT doc_id + 2000000, text || ' second near dup tail'
          |  FROM documents WHERE doc_id%100=0),
          |tok AS (SELECT doc_id,
          |        list_filter(string_split(text, ' '), w -> len(w) > 0) AS t FROM corpus),
          |sh AS (SELECT doc_id,
          |       list_distinct(list_transform(generate_series(1, len(t)-2),
          |         i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS sh
          |       FROM tok WHERE len(t) >= 3)
          |SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b,
          |  CAST(len(list_intersect(a.sh, b.sh)) AS INT) AS n_inter,
          |  CAST(len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)) AS INT) AS n_union
          |FROM sh a JOIN sh b ON a.doc_id < b.doc_id
          |WHERE b.doc_id >= 1000000
          |  AND 10 * len(list_intersect(a.sh, b.sh))
          |   >= 6 * (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)))""".stripMargin,
      // oracle: recompute the FNV-1a-64 token hashes and simhash signatures
      // in HUGEINT arithmetic mod 2^64, then exhaustive all-pairs Hamming
      // <= 7 — exact, because 8x8-bit chunk bucketing is pigeonhole-exact
      // at this threshold. ascii() == UTF-8 byte for the ASCII-only corpus.
      "dedup_simhash" -> simhashOracle(7),
      // Manku block-combination tables (keyBlocks=2: 28 tables, 16-bit
      // keys) are pigeonhole-exact for Hamming <= 6, so the same exhaustive
      // all-pairs oracle applies at the tighter threshold — the oracle is
      // bucketing-scheme independent.
      "dedup_simhash_wide" -> simhashOracle(6),
      // oracle: exhaustive all-pairs cosine on the same injected corpus
      // (candidate-generation misses are ~1e-6 at this similarity level
      // and verified empirically at sf0.01)
      "dedup_embedding_cosine" ->
        """WITH base AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
          |corpus AS (
          |  SELECT vec_id, v FROM base
          |  UNION ALL
          |  SELECT vec_id + 1000000,
          |         list_transform(generate_series(1, len(v)),
          |           i -> CASE WHEN i=1 THEN v[1]*2 ELSE v[i] END)
          |  FROM base WHERE vec_id%25=0),
          |e AS (SELECT vec_id, v, sqrt(list_dot_product(v,v)) AS n FROM corpus)
          |SELECT a.vec_id AS vec_id_a, b.vec_id AS vec_id_b,
          |       round(list_dot_product(a.v,b.v)/(a.n*b.n), 6) AS score_r
          |FROM e a JOIN e b ON a.vec_id < b.vec_id
          |WHERE list_dot_product(a.v,b.v)/(a.n*b.n) >= 0.9""".stripMargin,
      // oracle: the multi-table LSH pipeline is deterministic end-to-end —
      // the hyperplane signs are FNV-1a over (plane, component) bytes
      // (recomputed below in HUGEINT arithmetic mod 2^64, bit 32), buckets
      // are sign-bit sums, candidates share a (table, bucket), and the
      // exact cosine re-rank uses the same sequential-fold dot product
      "sim_ann_lsh" -> {
        val fold = "((h - (h % 256) + xor(CAST(h % 256 AS BIGINT), " +
          "CAST(b AS BIGINT))) * 1099511628211) % 18446744073709551616"
        s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
           |en AS (SELECT vec_id, v, sqrt(list_dot_product(v,v)) AS nrm FROM e),
           |signs AS (SELECT p, list_transform(range(0, 64), i ->
           |    CASE WHEN ((list_reduce(list_prepend(CAST(14695981039346656037 AS HUGEINT),
           |      [CAST(p % 256 AS HUGEINT), CAST((p // 256) % 256 AS HUGEINT),
           |       CAST((p // 65536) % 256 AS HUGEINT), CAST((p // 16777216) % 256 AS HUGEINT),
           |       CAST(i % 256 AS HUGEINT), CAST((i // 256) % 256 AS HUGEINT),
           |       CAST((i // 65536) % 256 AS HUGEINT), CAST((i // 16777216) % 256 AS HUGEINT)]),
           |      (h, b) -> $fold) // 4294967296) % 2) = 0
           |    THEN 1.0 ELSE -1.0 END) AS sgn
           |  FROM range(0, 48) AS pl(p)),
           |planes AS (SELECT CAST(p // 6 AS INT) AS t, CAST(p % 6 AS INT) AS j, sgn FROM signs),
           |bk AS (SELECT en.vec_id, planes.t,
           |         CAST(sum(CASE WHEN list_dot_product(en.v, planes.sgn) > 0
           |                       THEN CAST(round(power(2, planes.j)) AS BIGINT)
           |                       ELSE 0 END) AS BIGINT) AS bucket
           |       FROM en CROSS JOIN planes GROUP BY 1, 2),
           |q AS (SELECT bk.vec_id AS q_vec_id, en.v AS qv, en.nrm AS qn, bk.t, bk.bucket
           |      FROM bk JOIN en USING (vec_id) WHERE bk.vec_id < 8),
           |c AS (SELECT bk.vec_id, en.v, en.nrm, bk.t, bk.bucket
           |      FROM bk JOIN en USING (vec_id) WHERE bk.vec_id >= 8),
           |scored AS (SELECT q.q_vec_id, c.vec_id AS n_vec_id,
           |                  max(list_dot_product(q.qv, c.v)/(q.qn*c.nrm)) AS score
           |           FROM c JOIN q ON c.t = q.t AND c.bucket = q.bucket GROUP BY 1, 2),
           |r AS (SELECT *, row_number() OVER (PARTITION BY q_vec_id
           |                ORDER BY score DESC, n_vec_id) AS rank FROM scored)
           |SELECT q_vec_id, CAST(rank AS INT) AS rank, n_vec_id, round(score, 6) AS score_r
           |FROM r WHERE rank <= 5""".stripMargin
      },
      // oracle: the IVF pipeline is fully deterministic (seed centroids =
      // vec_ids 8..23, sequential-fold dot products, fixed tie-breaks), so
      // it is recomputed exactly: assign -> probe 4 cells -> exact re-rank
      "sim_ann_ivf" -> ivfOracleSql,
      // the persisted-index probe is spec-asserted equal to the one-shot
      // IVF (OpsSpec), so the same independent recomputation oracles it
      "sim_ann_ivf_index" -> ivfOracleSql,
      // oracle: the IVF assignment pipeline (full-precision centroids and
      // cell ranks, exactly as in ivfOracleSql) composed with the SQ8
      // train/encode/dequantize arithmetic of the sim_sq8_topk oracle —
      // candidates scored asymmetrically from their dequantized codes
      "sim_ann_ivf_sq8" ->
        """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
          |en AS (SELECT vec_id, v, sqrt(list_dot_product(v,v)) AS nrm FROM e),
          |cents AS (SELECT vec_id AS cell_id, v AS cv, nrm AS cn FROM en
          |          WHERE vec_id >= 8 AND vec_id < 24),
          |d AS (SELECT i, min(x) AS mn, max(x) AS mx
          |      FROM (SELECT unnest(v) AS x,
          |                   unnest(generate_series(1, len(v))) AS i
          |            FROM e WHERE vec_id >= 8)
          |      GROUP BY i),
          |dd AS (SELECT list(mn ORDER BY i) AS mns,
          |              list((mx - mn) / 255.0 ORDER BY i) AS scs FROM d),
          |ac AS (SELECT p.vec_id, p.v, p.nrm, c.cell_id,
          |              list_dot_product(p.v, c.cv)/(p.nrm*c.cn) AS cscore
          |       FROM en p CROSS JOIN cents c),
          |ranked AS (SELECT *, row_number() OVER (PARTITION BY vec_id
          |                     ORDER BY cscore DESC, cell_id) AS crank FROM ac),
          |q AS (SELECT vec_id AS q_vec_id, v AS qv, nrm AS qn, cell_id
          |      FROM ranked WHERE vec_id < 8 AND crank <= 4),
          |cand0 AS (SELECT vec_id, v, cell_id FROM ranked
          |          WHERE vec_id >= 8 AND crank = 1),
          |cd AS (SELECT vec_id, cell_id,
          |         list_transform(generate_series(1, len(v)), i ->
          |           dd.mns[i] + (CASE WHEN dd.scs[i] = 0 THEN 0
          |             ELSE least(255, greatest(0, CAST(round((v[i] - dd.mns[i]) / dd.scs[i]) AS INT))) END)
          |             * dd.scs[i]) AS dv
          |       FROM cand0, dd),
          |cn AS (SELECT vec_id, cell_id, dv, sqrt(list_dot_product(dv, dv)) AS n FROM cd),
          |scored AS (SELECT q.q_vec_id, cn.vec_id AS n_vec_id,
          |                  max(list_dot_product(q.qv, cn.dv)/(q.qn*cn.n)) AS score
          |           FROM cn JOIN q USING (cell_id) GROUP BY 1, 2),
          |r AS (SELECT *, row_number() OVER (PARTITION BY q_vec_id
          |                ORDER BY score DESC, n_vec_id) AS rank FROM scored)
          |SELECT q_vec_id, CAST(rank AS INT) AS rank, n_vec_id, round(score, 6) AS score_r
          |FROM r WHERE rank <= 5""".stripMargin,
      // oracle: the IVF assignment pipeline composed with an independent
      // PQ recomputation — codebooks are the sub-vectors of vec_ids 8..23,
      // codes are relational L2 argmins (row_number over (dist, c)), the
      // reconstruction is joined back from the codebook, and the ADC score
      // mirrors the engine's grouping exactly: sequential fold of
      // per-subspace sequential partial dots (init 0.0 at both levels)
      "sim_ann_ivf_pq" -> ivfPqOracleSql,
      // the incremental build assigns/encodes each vector against the
      // SAME stored quantizers, so batch composition cannot change the
      // index contents -> the one-shot recomputation oracles it too
      "sim_ann_ivf_pq_incremental" -> ivfPqOracleSql,
      // ADC shortlist + exact refine: quantization CTEs shared verbatim
      "sim_ann_ivf_pq_refined" -> ivfPqRefinedOracleSql,
      // oracle: identical SQ8 train/encode/dequantize/score arithmetic —
      // exact min/max, (mx-mn)/255 scales, half-up rounding on non-negative
      // values, sequential-fold dots
      "sim_sq8_topk" ->
        """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
          |c0 AS (SELECT vec_id, v FROM e WHERE vec_id >= 8),
          |d AS (SELECT i, min(x) AS mn, max(x) AS mx
          |      FROM (SELECT unnest(v) AS x,
          |                   unnest(generate_series(1, len(v))) AS i FROM c0)
          |      GROUP BY i),
          |dd AS (SELECT list(mn ORDER BY i) AS mns,
          |              list((mx - mn) / 255.0 ORDER BY i) AS scs FROM d),
          |cd AS (SELECT vec_id,
          |         list_transform(generate_series(1, len(v)), i ->
          |           dd.mns[i] + (CASE WHEN dd.scs[i] = 0 THEN 0
          |             ELSE least(255, greatest(0, CAST(round((v[i] - dd.mns[i]) / dd.scs[i]) AS INT))) END)
          |             * dd.scs[i]) AS dv
          |       FROM c0, dd),
          |cn AS (SELECT vec_id, dv, sqrt(list_dot_product(dv, dv)) AS n FROM cd),
          |q AS (SELECT vec_id AS q_vec_id, v AS qv, sqrt(list_dot_product(v, v)) AS qn
          |      FROM e WHERE vec_id < 8),
          |s AS (SELECT q_vec_id, vec_id AS n_vec_id,
          |             list_dot_product(qv, dv) / (qn * n) AS score FROM q CROSS JOIN cn),
          |r AS (SELECT *, row_number() OVER (PARTITION BY q_vec_id
          |                ORDER BY score DESC, n_vec_id) AS rank FROM s)
          |SELECT q_vec_id, CAST(rank AS INT) AS rank, n_vec_id, round(score, 6) AS score_r
          |FROM r WHERE rank <= 5""".stripMargin,
      "sim_topk_bruteforce" ->
        """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
          |q AS (SELECT vec_id AS q_vec_id, v AS qv, sqrt(list_dot_product(v,v)) AS qn
          |      FROM e WHERE vec_id < 8),
          |c AS (SELECT vec_id, v, sqrt(list_dot_product(v,v)) AS n FROM e WHERE vec_id >= 8),
          |s AS (SELECT q_vec_id, vec_id AS n_vec_id,
          |             list_dot_product(qv, v)/(qn*n) AS score FROM q CROSS JOIN c),
          |r AS (SELECT *, row_number() OVER (PARTITION BY q_vec_id
          |                                   ORDER BY score DESC, n_vec_id) AS rank FROM s)
          |SELECT q_vec_id, CAST(rank AS INT) AS rank, n_vec_id,
          |       round(score, 6) AS score_r
          |FROM r WHERE rank <= 5""".stripMargin,
      "text_langid" -> {
        val langs = graft.ops.TextAnalysis.stopwords.map(_._1)
        s"""WITH tok AS (SELECT doc_id, list_filter(string_split(text, ' '), w -> len(w) > 0) AS t FROM documents),
           |s AS (SELECT doc_id,
           |  $langScoresSql
           |FROM tok)
           |SELECT doc_id,
           |  CASE $langCasesSql ELSE '$langLastSql' END AS pred_lang,
           |  ${langs.map(l => s"s_$l").mkString(", ")}
           |FROM s""".stripMargin
      },
      "text_quality" -> {
        val set = graft.ops.TextAnalysis.stopwords.flatMap(_._2).distinct
          .map(w => s"'$w'").mkString(", ")
        s"""WITH tok AS (SELECT doc_id, text,
           |  list_filter(string_split(text, ' '), w -> len(w) > 0) AS t FROM documents)
           |SELECT doc_id,
           |  CAST(len(t) AS INT) AS n_tokens,
           |  CAST(length(text) AS INT) AS text_len,
           |  CAST(list_sum(list_transform(t, w -> length(w))) AS DOUBLE) / len(t) AS avg_token_len,
           |  CAST(len(list_filter(t, w -> w IN ($set))) AS DOUBLE) / len(t) AS stop_ratio,
           |  CAST(length(text) - length(replace(replace(text, '.', ''), ',', '')) AS DOUBLE)
           |    / length(text) AS punct_ratio,
           |  CASE WHEN len(t) BETWEEN 5 AND 10000
           |        AND CAST(list_sum(list_transform(t, w -> length(w))) AS DOUBLE)/len(t) < 20.0
           |       THEN 1 ELSE 0 END AS quality_ok
           |FROM tok""".stripMargin
      },
      "text_tokens_bpe" -> {
        val pat = graft.ops.TextAnalysis.bpePattern.replace("'", "''")
        s"""SELECT doc_id,
           |  CAST(len(list_filter(string_split(text, ' '), w -> len(w) > 0)) AS INT) AS n_ws_tokens,
           |  CAST(len(regexp_extract_all(text, '$pat')) AS INT) AS n_bpe_tokens,
           |  CAST(coalesce(list_sum(list_transform(regexp_extract_all(text, '$pat'),
           |         t -> length(t))), 0) AS INT) AS bpe_chars
           |FROM documents""".stripMargin
      },
      "text_top_tokens" ->
        """SELECT token, count(*) AS cnt
          |FROM (SELECT unnest(list_filter(string_split(text, ' '),
          |                                w -> len(w) > 0)) AS token
          |      FROM documents)
          |GROUP BY token ORDER BY cnt DESC, token LIMIT 50""".stripMargin,
      // oracle: the same dedup-keeper + quality-gate + langid-argmax
      // composition recomputed from first principles
      "curation_decisions" ->
        s"""WITH corpus AS (
           |  SELECT doc_id, text FROM documents
           |  UNION ALL SELECT doc_id + 1000000, text FROM documents WHERE doc_id%50=0),
           |tok AS (SELECT doc_id,
           |        list_filter(string_split(text, ' '), w -> len(w) > 0) AS t FROM corpus),
           |q AS (SELECT doc_id,
           |  CASE WHEN len(t) BETWEEN 5 AND 10000
           |        AND CAST(list_sum(list_transform(t, w -> length(w))) AS DOUBLE)/len(t) < 20.0
           |       THEN 1 ELSE 0 END AS quality_ok,
           |  $langScoresSql
           |FROM tok),
           |k AS (SELECT doc_id,
           |        doc_id = min(doc_id) OVER (PARTITION BY md5(text)) AS dup_keep
           |      FROM corpus)
           |SELECT q.doc_id,
           |  CASE $langCasesSql ELSE '$langLastSql' END AS pred_lang,
           |  quality_ok, dup_keep,
           |  CASE WHEN NOT dup_keep THEN 'drop_dup'
           |       WHEN quality_ok = 0 THEN 'drop_quality'
           |       ELSE 'keep' END AS decision
           |FROM q JOIN k ON q.doc_id = k.doc_id""".stripMargin,
      // oracle: the exhaustive corpus-wide exact-jaccard pair graph (the
      // dedup_minhash_lsh oracle's graph), cluster keepers via a recursive
      // transitive-closure CTE (the dedup_clusters oracle's shape), and the
      // same quality/langid derivations — all composed into one verdict per
      // doc, independently of the Spark plan
      "curation_decisions_neardup" ->
        (nearDupShinglesCte.replaceFirst("WITH ", "WITH RECURSIVE ") +
        s""",
           |p AS (SELECT a.doc_id AS a, b.doc_id AS b
           |      FROM sh a JOIN sh b ON a.doc_id < b.doc_id
           |      WHERE 10 * len(list_intersect(a.sh, b.sh))
           |         >= 6 * (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)))),
           |e AS (SELECT a, b FROM p UNION SELECT b, a FROM p),
           |n AS (SELECT DISTINCT a AS doc_id FROM e),
           |reach(doc_id, r) AS (
           |  SELECT doc_id, doc_id FROM n
           |  UNION
           |  SELECT re.doc_id, e.b FROM reach re JOIN e ON re.r = e.a),
           |cl AS (SELECT doc_id, min(r) AS cluster_id FROM reach GROUP BY doc_id),
           |q AS (SELECT doc_id,
           |  CASE WHEN len(t) BETWEEN 5 AND 10000
           |        AND CAST(list_sum(list_transform(t, w -> length(w))) AS DOUBLE)/len(t) < 20.0
           |       THEN 1 ELSE 0 END AS quality_ok,
           |  $langScoresSql
           |FROM tok)
           |SELECT q.doc_id,
           |  CASE $langCasesSql ELSE '$langLastSql' END AS pred_lang,
           |  quality_ok,
           |  coalesce(cl.cluster_id = q.doc_id, TRUE) AS dup_keep,
           |  CASE WHEN cl.cluster_id IS NOT NULL AND cl.cluster_id <> q.doc_id
           |         THEN 'drop_neardup'
           |       WHEN quality_ok = 0 THEN 'drop_quality'
           |       ELSE 'keep' END AS decision
           |FROM q LEFT JOIN cl ON q.doc_id = cl.doc_id""".stripMargin),
      "text_fingerprint" ->
        """WITH tok AS (SELECT doc_id,
          |  list_filter(string_split(text, ' '), w -> len(w) > 0) AS t FROM documents)
          |SELECT doc_id,
          |  CAST(list_sum(list_transform(t,
          |    w -> 31*length(w) + 7*ascii(substr(w,1,1)) + ascii(substr(w,length(w),1))))
          |    AS BIGINT) % 1000003 AS fp,
          |  CAST(list_sum(list_transform(generate_series(1, len(t)),
          |    i -> i * (31*length(t[i]) + 7*ascii(substr(t[i],1,1)) + ascii(substr(t[i],length(t[i]),1)))))
          |    AS BIGINT) % 1000003 AS fp_roll
          |FROM tok""".stripMargin,
      // frame sampling recomputed from byte arithmetic: every 3rd 64-byte
      // frame -> offsets k*192; the short last frame truncates via least()
      "multimodal_frames" ->
        """WITH m AS (SELECT doc_id, octet_length(encode(text)) AS total, text FROM documents),
          |s AS (SELECT doc_id, total, text,
          |  CAST(ceil(ceil(total / 64.0) / 3.0) AS INT) AS n_sampled FROM m)
          |SELECT doc_id, n_sampled,
          |  CAST(coalesce(list_sum(list_transform(generate_series(0, n_sampled - 1),
          |    k -> least(64, total - k*192))), 0) AS INT) AS sampled_bytes,
          |  substring(text, 1, 64) AS first_frame_str
          |FROM s""".stripMargin,
      "multimodal_summary" ->
        """SELECT doc_id,
          |  CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS media_kind,
          |  CAST(octet_length(encode(text)) AS INT) AS n_bytes,
          |  CAST(ceil(octet_length(encode(text)) / 64.0) AS INT) AS n_frames
          |FROM documents""".stripMargin,
      // oracle: the md5 split hash recomputed from first principles — hex
      // digits folded to an integer (both engines emit the identical md5
      // lowercase hex digest, which is the point of an md5-based split:
      // the assignment is portable truth, not an engine detail)
      // oracle: quality gate and dup counts recomputed from scratch — the
      // integer skeleton (non-space length < 20*n_tokens) and the
      // cross-multiplied flag, per source
      "source_stats" ->
        """WITH d AS (SELECT source, md5(text) AS th,
          |    CAST(len(list_filter(string_split(text, ' '), w -> len(w) > 0))
          |      AS BIGINT) AS n_tokens,
          |    CAST(len(replace(text, ' ', '')) AS BIGINT) AS sum_len
          |  FROM documents),
          |q AS (SELECT source, th, n_tokens,
          |    CASE WHEN n_tokens BETWEEN 5 AND 10000
          |              AND sum_len < 20 * n_tokens THEN 1 ELSE 0 END AS ok
          |  FROM d),
          |s AS (SELECT source, count(*) AS n_docs,
          |    CAST(sum(n_tokens) AS BIGINT) AS sum_tokens,
          |    CAST(sum(ok) AS BIGINT) AS n_quality_ok
          |  FROM q GROUP BY 1),
          |dup AS (SELECT source,
          |    CAST(coalesce(sum(CASE WHEN cnt > 1 THEN cnt END), 0) AS BIGINT)
          |      AS n_dup_docs
          |  FROM (SELECT source, th, count(*) AS cnt FROM q GROUP BY 1, 2)
          |  GROUP BY 1)
          |SELECT s.*, dup.n_dup_docs,
          |  n_quality_ok * 100 < n_docs * 60 AS flagged
          |FROM s JOIN dup USING (source)""".stripMargin,
      // oracle: the global-window formulation the Spark side deliberately
      // avoids — row_number over (hash, doc_id) on the ':shuffle'-salted
      // digest, minus 1
      "sample_shuffle" ->
        """WITH h AS (SELECT doc_id,
          |  list_reduce(list_transform(generate_series(1, 8),
          |    i -> CAST(strpos('0123456789abcdef',
          |           substr(md5(CAST(doc_id AS VARCHAR) || ':shuffle'), i, 1)) - 1
          |         AS BIGINT)),
          |    (a, b) -> a * 16 + b) AS hv
          |  FROM documents)
          |SELECT doc_id,
          |  CAST(row_number() OVER (ORDER BY hv, doc_id) - 1 AS BIGINT) AS rank
          |FROM h""".stripMargin,
      "sample_split" -> (md5HashCte +
        """
          |SELECT doc_id, hv % 10000 AS bucket,
          |  CASE WHEN hv % 10000 < 9000 THEN 'train'
          |       WHEN hv % 10000 < 9500 THEN 'val'
          |       ELSE 'test' END AS split
          |FROM h""".stripMargin),
      // oracle: per-language row_number over (hash, doc_id) — the window
      // formulation the Spark side deliberately avoids (heap aggregate);
      // outputs are bit-identical by the TopKAgg ordering guarantee
      "sample_quota" -> (md5HashCte +
        """
          |SELECT lang AS stratum, CAST(rk AS INT) AS rank, doc_id
          |FROM (SELECT lang, doc_id,
          |        row_number() OVER (PARTITION BY lang ORDER BY hv, doc_id) AS rk
          |      FROM h)
          |WHERE rk <= 10""".stripMargin),
      // oracle: per-language token totals -> integer basis-point keep rate
      // (HUGEINT // in DuckDB, long `div` in Spark — both exact), md5
      // bucket with the ':mix' salt recomputed hex-digit by hex-digit
      "sample_mixture" ->
        """WITH tok AS (SELECT doc_id, lang,
          |        CAST(len(list_filter(string_split(text, ' '), w -> len(w) > 0)) AS BIGINT)
          |          AS n_tokens
          |        FROM documents),
          |tot AS (SELECT lang, sum(n_tokens) AS total FROM tok GROUP BY lang),
          |r AS (SELECT lang,
          |        CAST(coalesce(least(10000, (5000 * 10000) // total), 10000) AS INT)
          |          AS rate_bp
          |      FROM tot),
          |h AS (SELECT doc_id,
          |  list_reduce(list_transform(generate_series(1, 8),
          |    i -> CAST(strpos('0123456789abcdef',
          |           substr(md5(CAST(doc_id AS VARCHAR) || ':mix'), i, 1)) - 1
          |         AS BIGINT)),
          |    (a, b) -> a * 16 + b) AS hv
          |  FROM documents)
          |SELECT tok.doc_id, tok.lang AS stratum,
          |  CAST(tok.n_tokens AS INT) AS n_tokens, r.rate_bp,
          |  (h.hv % 10000) < r.rate_bp AS keep
          |FROM tok JOIN r USING (lang) JOIN h USING (doc_id)""".stripMargin,
      // oracle: md5 shard hash recomputed digit-by-digit with the ':shard'
      // salt; hv is in [0, 2^32) so % equals pmod
      "shard_manifest" ->
        """WITH h AS (SELECT doc_id, text,
          |  list_reduce(list_transform(generate_series(1, 8),
          |    i -> CAST(strpos('0123456789abcdef',
          |           substr(md5(CAST(doc_id AS VARCHAR) || ':shard'), i, 1)) - 1
          |         AS BIGINT)),
          |    (a, b) -> a * 16 + b) AS hv
          |  FROM documents)
          |SELECT CAST(hv % 16 AS INT) AS shard,
          |  count(*) AS n_docs,
          |  CAST(sum(len(list_filter(string_split(text, ' '), w -> len(w) > 0)))
          |    AS BIGINT) AS sum_tokens,
          |  min(doc_id) AS min_doc_id, max(doc_id) AS max_doc_id
          |FROM h GROUP BY 1""".stripMargin,
      // oracle: bigram model independently recounted on the %10<8 slice;
      // docs under two tokens have no bigrams and are absent by contract
      "text_bigram_lm" ->
        """WITH tok AS (SELECT doc_id,
          |        list_filter(string_split(text, ' '), w -> len(w) > 0) AS t
          |        FROM documents),
          |bg AS (SELECT doc_id,
          |         unnest(list_transform(generate_series(1, len(t)-1),
          |           i -> t[i] || ' ' || t[i+1])) AS bigram
          |       FROM tok WHERE len(t) >= 2),
          |model AS (SELECT bigram, count(*) AS freq FROM bg
          |          WHERE doc_id % 10 < 8 GROUP BY bigram)
          |SELECT bg.doc_id, CAST(count(*) AS INT) AS n_bigrams,
          |  CAST(sum(CASE WHEN freq IS NOT NULL THEN 1 ELSE 0 END) AS INT) AS n_known,
          |  CAST(sum(CASE WHEN freq < 3 THEN 1 ELSE 0 END) AS INT) AS n_rare,
          |  CAST(sum(coalesce(freq, 0)) AS BIGINT) AS ref_freq_sum
          |FROM bg LEFT JOIN model USING (bigram) GROUP BY bg.doc_id""".stripMargin,
      // oracle: first-occurrence token filter via list_position — the same
      // portable-SQL semantics the Spark side uses (array_position == idx)
      "text_repetition" ->
        """WITH tok AS (SELECT doc_id,
          |        list_filter(string_split(text, ' '), w -> len(w) > 0) AS t
          |        FROM documents),
          |k AS (SELECT doc_id, t,
          |        list_filter(t, (w, i) -> list_position(t, w) = i) AS kept
          |      FROM tok WHERE len(t) > 0)
          |SELECT doc_id, CAST(len(t) AS INT) AS n_tokens,
          |  CAST(len(kept) AS INT) AS n_distinct,
          |  round(CAST(len(t) - len(kept) AS DOUBLE) / len(t), 6) AS dup_ratio,
          |  array_to_string(kept, ' ') AS text_dedup
          |FROM k""".stripMargin,
      // oracle: the single-node formulation of the same prefix sum — one
      // global window cumsum (exactly what the Spark side must NOT plan at
      // scale; outputs are identical because the distributed prefix sum
      // depends only on global doc order)
      "pack_sequences" ->
        """WITH t AS (SELECT doc_id,
          |        CAST(len(list_filter(string_split(text, ' '), w -> len(w) > 0))
          |          AS BIGINT) AS n
          |        FROM documents),
          |c AS (SELECT doc_id, n, sum(n) OVER (ORDER BY doc_id
          |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
          |      FROM t)
          |SELECT doc_id, CAST(n AS INT) AS n_tokens,
          |  CAST((cum - n) // 512 AS BIGINT) AS bin,
          |  CAST((cum - n) % 512 AS INT) AS bin_offset
          |FROM c""".stripMargin,
      // oracle: the same Gopher-style structural ratios recomputed from
      // first principles (regexp_matches = Java rlike for these
      // class-only patterns)
      "text_gopher" ->
        """WITH tok AS (SELECT doc_id, text,
          |  list_filter(string_split(text, ' '), w -> len(w) > 0) AS t FROM documents)
          |SELECT doc_id,
          |  CAST(len(t) AS INT) AS n_tokens,
          |  round(CAST(len(list_filter(t, w -> regexp_matches(w, '[A-Za-z]'))) AS DOUBLE)
          |    / len(t), 6) AS frac_alpha,
          |  round(CAST(len(list_filter(t, w -> regexp_matches(w, '^[0-9]+$'))) AS DOUBLE)
          |    / len(t), 6) AS frac_numeric,
          |  CAST(list_max(list_transform(t, w -> length(w))) AS INT) AS max_tok_len,
          |  CAST((length(text) - length(regexp_replace(text, '[.]{3}', '', 'g'))) // 3
          |    AS INT) AS n_ellipsis,
          |  CASE WHEN len(t) BETWEEN 20 AND 100000
          |        AND CAST(list_sum(list_transform(t, w -> length(w))) AS DOUBLE)/len(t)
          |            BETWEEN 2.0 AND 12.0
          |        AND len(list_filter(t, w -> regexp_matches(w, '[A-Za-z]'))) * 5 >= len(t) * 4
          |       THEN 1 ELSE 0 END AS gopher_ok
          |FROM tok WHERE len(t) > 0""".stripMargin,
      // oracle: the same integer (tf DESC, df ASC, term) ranking
      "text_tfidf_terms" ->
        """WITH tok AS (SELECT doc_id,
          |        unnest(list_filter(string_split(text, ' '), w -> len(w) > 0)) AS term
          |      FROM documents),
          |tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2),
          |df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
          |r AS (SELECT doc_id, term, tf.tf AS tf, df.df AS df,
          |        row_number() OVER (PARTITION BY doc_id
          |          ORDER BY tf.tf DESC, df.df ASC, term) AS rank
          |      FROM tf JOIN df USING (term))
          |SELECT doc_id, CAST(rank AS INT) AS rank, term,
          |  CAST(tf AS BIGINT) AS tf, CAST(df AS BIGINT) AS df
          |FROM r WHERE rank <= 3""".stripMargin,
      // oracle: vocabulary counts + per-doc frequency join, all integer
      "text_token_stats" ->
        """WITH tok AS (SELECT doc_id,
          |        unnest(list_filter(string_split(text, ' '), w -> len(w) > 0)) AS token
          |      FROM documents),
          |f AS (SELECT token, count(*) AS freq FROM tok GROUP BY token)
          |SELECT doc_id,
          |  CAST(count(*) AS INT) AS n_tokens,
          |  CAST(sum(freq) AS BIGINT) AS sum_freq,
          |  CAST(min(freq) AS BIGINT) AS min_freq,
          |  CAST(sum(CASE WHEN freq < 5 THEN 1 ELSE 0 END) AS INT) AS n_rare
          |FROM tok JOIN f USING (token) GROUP BY doc_id""".stripMargin,
      // oracle: the PII injection + the same RE2/Java-portable patterns;
      // counts from the original text, then the same redaction cascade
      "pii_scrub" -> {
        val (em, ip, ph) = (graft.ops.Curation.emailPattern,
          graft.ops.Curation.ipPattern, graft.ops.Curation.phonePattern)
        s"""WITH corpus AS (
           |  SELECT doc_id,
           |    CASE WHEN doc_id % 10 = 0
           |           THEN text || ' contact bob.smith@example.com ip 10.77.3.204 tel 555-0142'
           |         WHEN doc_id % 10 = 5
           |           THEN text || ' ann_lee@test.org from 192.168.0.13'
           |         ELSE text END AS text
           |  FROM documents)
           |SELECT doc_id,
           |  CAST(len(regexp_extract_all(text, '$em')) AS INT) AS n_emails,
           |  CAST(len(regexp_extract_all(text, '$ip')) AS INT) AS n_ips,
           |  CAST(len(regexp_extract_all(text, '$ph')) AS INT) AS n_phones,
           |  regexp_replace(regexp_replace(regexp_replace(text,
           |    '$em', '<EMAIL>', 'g'), '$ip', '<IP>', 'g'), '$ph', '<PHONE>', 'g')
           |    AS redacted,
           |  CASE WHEN len(regexp_extract_all(text, '$em'))
           |            + len(regexp_extract_all(text, '$ip'))
           |            + len(regexp_extract_all(text, '$ph')) > 0
           |       THEN 1 ELSE 0 END AS pii_found
           |FROM corpus""".stripMargin
      },
      // oracle: distinct eval-set shingles joined against per-doc distinct
      // shingles — an independent recomputation of the contamination counts
      "decontaminate" ->
        """WITH tok AS (SELECT doc_id,
          |        list_filter(string_split(text, ' '), w -> len(w) > 0) AS t FROM documents),
          |shg AS (SELECT doc_id, list_distinct(list_transform(generate_series(1, len(t)-2),
          |         i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS sh
          |       FROM tok WHERE len(t) >= 3),
          |ev AS (SELECT DISTINCT unnest(sh) AS s FROM shg WHERE doc_id % 97 = 0),
          |ds AS (SELECT doc_id, len(sh) AS n_sh, unnest(sh) AS s FROM shg)
          |SELECT doc_id, CAST(n_sh AS INT) AS n_shingles,
          |  CAST(count(*) AS INT) AS n_contam,
          |  round(CAST(count(*) AS DOUBLE) / n_sh, 6) AS contam_ratio
          |FROM ds JOIN ev USING (s)
          |GROUP BY doc_id, n_sh""".stripMargin,
      // oracle: DuckDB's NATIVE ASOF JOIN — a fully independent
      // implementation of the same inclusive (<=) as-of semantics. The
      // right side is pre-reduced to one row per (user, ts) keeping the
      // max click_id BEFORE the ASOF: among equal right timestamps our
      // sweep deterministically picks the max-tiebreak row, while DuckDB's
      // ASOF leaves the pick unspecified — the reduction makes both
      // semantics identical without depending on tie-free fixtures
      "join_asof" ->
        """WITH p AS (SELECT user_id, event_id AS purchase_id, ts AS purchase_ts
          |           FROM events WHERE event_type = 'purchase'),
          |c AS (SELECT user_id, click_ts, max(click_id) AS click_id
          |      FROM (SELECT user_id, event_id AS click_id, ts AS click_ts
          |            FROM events WHERE event_type = 'click')
          |      GROUP BY user_id, click_ts)
          |SELECT p.user_id, purchase_id, purchase_ts, click_id, click_ts,
          |  CAST(date_diff('second', click_ts, purchase_ts) AS BIGINT) AS gap_s
          |FROM p ASOF LEFT JOIN c
          |  ON p.user_id = c.user_id AND c.click_ts <= p.purchase_ts""".stripMargin,
      // oracle: the deterministic SemDeDup pipeline recomputed — seed
      // centroids (vec_id < 16), nearest-cell assignment with the
      // (cscore DESC, cell_id) tie-break, within-cell pairs, exact cosine
      "dedup_semantic" ->
        """WITH base AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
          |corpus AS (
          |  SELECT vec_id, v FROM base
          |  UNION ALL
          |  SELECT vec_id + 1000000,
          |         list_transform(generate_series(1, len(v)),
          |           i -> CASE WHEN i=1 THEN v[1]*2 ELSE v[i] END)
          |  FROM base WHERE vec_id%25=0),
          |e AS (SELECT vec_id, v, sqrt(list_dot_product(v,v)) AS nrm FROM corpus),
          |cents AS (SELECT vec_id AS cell_id, v AS cv, nrm AS cn FROM e WHERE vec_id < 16),
          |ac AS (SELECT p.vec_id, c.cell_id,
          |              list_dot_product(p.v, c.cv)/(p.nrm*c.cn) AS cscore
          |       FROM e p CROSS JOIN cents c),
          |asg AS (SELECT vec_id, cell_id FROM (
          |          SELECT *, row_number() OVER (PARTITION BY vec_id
          |                    ORDER BY cscore DESC, cell_id) AS rk FROM ac)
          |        WHERE rk = 1)
          |SELECT a.cell_id, a.vec_id AS vec_id_a, b.vec_id AS vec_id_b,
          |       round(list_dot_product(ea.v, eb.v)/(ea.nrm*eb.nrm), 6) AS score_r
          |FROM asg a JOIN asg b ON a.cell_id = b.cell_id AND a.vec_id < b.vec_id
          |JOIN e ea ON ea.vec_id = a.vec_id
          |JOIN e eb ON eb.vec_id = b.vec_id
          |WHERE list_dot_product(ea.v, eb.v)/(ea.nrm*eb.nrm) >= 0.9""".stripMargin
    )
  }

  /** Shared oracle fragments for the stopword-argmax language id (used by
    * text_langid and both curation decision tables). */
  private def langScoresSql: String =
    graft.ops.TextAnalysis.stopwords.map { case (l, ws) =>
      val set = ws.map(w => s"'$w'").mkString(", ")
      s"CAST(len(list_filter(t, w -> w IN ($set))) AS INT) AS s_$l"
    }.mkString(",\n  ")
  private def langCasesSql: String = {
    val langs = graft.ops.TextAnalysis.stopwords.map(_._1)
    langs.init.map { l =>
      val conds = langs.filter(_ != l).map(o => s"s_$l >= s_$o").mkString(" AND ")
      s"WHEN $conds THEN '$l'"
    }.mkString("\n  ")
  }
  private def langLastSql: String = graft.ops.TextAnalysis.stopwords.last._1

  /** DuckDB twin of Sampling.hashValue (salt "graft"): md5 hex digits
    * folded to a 32-bit integer. */
  private val md5HashCte: String =
    """WITH h AS (SELECT doc_id, lang,
      |  list_reduce(list_transform(generate_series(1, 8),
      |    i -> CAST(strpos('0123456789abcdef',
      |           substr(md5(CAST(doc_id AS VARCHAR) || ':graft'), i, 1)) - 1
      |         AS BIGINT)),
      |    (a, b) -> a * 16 + b) AS hv
      |  FROM documents)""".stripMargin

  /** Exact-jaccard pair graph within (lang, source), components via a
    * recursive transitive-closure CTE (min reachable doc_id per node) —
    * shared by both clustering variants. */
  private lazy val dupClustersOracleSql: String =
    (nearDupShinglesCte.replaceFirst("WITH ", "WITH RECURSIVE ") +
      """,
        |p AS (SELECT a.doc_id AS a, b.doc_id AS b
        |      FROM sh a JOIN sh b
        |        ON a.lang = b.lang AND a.source = b.source AND a.doc_id < b.doc_id
        |      WHERE 10 * len(list_intersect(a.sh, b.sh))
        |         >= 6 * (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)))),
        |e AS (SELECT a, b FROM p UNION SELECT b, a FROM p),
        |n AS (SELECT DISTINCT a AS doc_id FROM e),
        |reach(doc_id, r) AS (
        |  SELECT doc_id, doc_id FROM n
        |  UNION
        |  SELECT re.doc_id, e.b FROM reach re JOIN e ON re.r = e.a)
        |SELECT doc_id, min(r) AS cluster_id FROM reach GROUP BY doc_id""".stripMargin)

  /** Gaps-and-islands span-dedup oracle (shared by the string-keyed
    * query and its hashed-shuffle twin, whose outputs are identical). */
  private val spanDedupOracle: String =
    """WITH corpus AS (
      |  SELECT doc_id, concat_ws(' ',
      |    CASE WHEN doc_id % 13 = 0 THEN
      |      'the quick brown fox jumps over the lazy dog again and again' END,
      |    text,
      |    CASE WHEN doc_id % 17 = 0 THEN
      |      'all rights reserved unauthorized reproduction of this text is strictly prohibited' END)
      |    AS text
      |  FROM documents),
      |tok AS (SELECT doc_id,
      |          list_filter(string_split(text, ' '), x -> len(x) > 0) AS t
      |        FROM corpus),
      |w2 AS (SELECT doc_id, p, array_to_string(t[p:p+7], ' ') AS w
      |       FROM (SELECT doc_id, t,
      |               unnest(generate_series(1, len(t) - 7)) AS p
      |             FROM tok WHERE len(t) >= 8)),
      |hv AS (SELECT w FROM (SELECT DISTINCT doc_id, w FROM w2)
      |       GROUP BY w HAVING count(*) >= 2),
      |cvd AS (SELECT DISTINCT doc_id, c FROM
      |         (SELECT doc_id, unnest(generate_series(p, p + 7)) AS c
      |          FROM w2 JOIN hv USING (w))),
      |isl AS (SELECT doc_id, c,
      |          c - row_number() OVER (PARTITION BY doc_id ORDER BY c) AS g
      |        FROM cvd),
      |sp AS (SELECT doc_id, min(c) AS s, max(c) AS e
      |       FROM isl GROUP BY doc_id, g),
      |ag AS (SELECT doc_id, CAST(count(*) AS INT) AS n_dup_spans,
      |         string_agg(s || '-' || e, ';' ORDER BY s) AS spans
      |       FROM sp GROUP BY doc_id),
      |cl AS (SELECT doc_id, CAST(count(*) AS INT) AS n_dup_tokens,
      |         list(c) AS cs
      |       FROM cvd GROUP BY doc_id)
      |SELECT tok.doc_id, CAST(len(t) AS INT) AS n_tokens,
      |  coalesce(ag.n_dup_spans, 0) AS n_dup_spans,
      |  coalesce(cl.n_dup_tokens, 0) AS n_dup_tokens,
      |  coalesce(ag.spans, '') AS spans,
      |  coalesce(array_to_string(list_transform(
      |    list_filter(generate_series(1, len(t)),
      |      i -> cl.cs IS NULL OR NOT list_contains(cl.cs, i)),
      |    i -> t[i]), ' '), '') AS text_clean
      |FROM tok LEFT JOIN ag USING (doc_id) LEFT JOIN cl USING (doc_id)""".stripMargin

  /** Rule-level PSI over orderkey-parity halves: regroup the expected-
    * violations derivation into per-rule counts split by parity, then the
    * PSI formula (Laplace +0.5 per category) — shared by the one-pass
    * split query and the stored-runs composition, which persists each
    * half's counts and recombines them (same expected value). */
  private val rulePsiParityOracle: String =
    s"""WITH v AS ($violationsOracle),
       |c AS (SELECT rule_id,
       |        sum(CASE WHEN CAST(string_split(doc_id,'-')[1] AS BIGINT)%2=0 THEN 1 ELSE 0 END) AS ca,
       |        sum(CASE WHEN CAST(string_split(doc_id,'-')[1] AS BIGINT)%2=1 THEN 1 ELSE 0 END) AS cb
       |      FROM v GROUP BY 1),
       |t AS (SELECT ca, cb, count(*) OVER () AS nrules,
       |             sum(ca) OVER () AS na, sum(cb) OVER () AS nb FROM c)
       |SELECT 'rule_psi' AS metric, round(sum((pa-pb)*ln(pa/pb)), 6) AS value
       |FROM (SELECT (ca+0.5)/(na+nrules*0.5) AS pa,
       |             (cb+0.5)/(nb+nrules*0.5) AS pb FROM t) x""".stripMargin

  /** IVF assignment + independent PQ recomputation (codebooks = the
    * sub-vectors of vec_ids 8..23, relational L2 argmins, reconstruction
    * joined back, ADC score mirroring the engine's fold grouping) —
    * shared by the one-shot and incremental index queries, whose stored
    * rows are identical by construction. */
  private val ivfPqOracleSql: String =
    """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      |en AS (SELECT vec_id, v, sqrt(list_dot_product(v,v)) AS nrm FROM e),
      |cents AS (SELECT vec_id AS cell_id, v AS cv, nrm AS cn FROM en
      |          WHERE vec_id >= 8 AND vec_id < 24),
      |cbv AS (SELECT CAST(vec_id - 8 AS INT) AS c, v FROM e
      |        WHERE vec_id >= 8 AND vec_id < 24),
      |ac AS (SELECT p.vec_id, p.v, p.nrm, c.cell_id,
      |              list_dot_product(p.v, c.cv)/(p.nrm*c.cn) AS cscore
      |       FROM en p CROSS JOIN cents c),
      |ranked AS (SELECT *, row_number() OVER (PARTITION BY vec_id
      |                     ORDER BY cscore DESC, cell_id) AS crank FROM ac),
      |q AS (SELECT vec_id AS q_vec_id, v AS qv, nrm AS qn, cell_id
      |      FROM ranked WHERE vec_id < 8 AND crank <= 4),
      |cand0 AS (SELECT vec_id, v, cell_id FROM ranked
      |          WHERE vec_id >= 8 AND crank = 1),
      |dists AS (SELECT cand0.vec_id, cand0.cell_id, g.j, cbv.c,
      |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
      |      list_transform(generate_series(1, 8), i ->
      |        (cand0.v[g.j*8+i] - cbv.v[g.j*8+i])
      |          * (cand0.v[g.j*8+i] - cbv.v[g.j*8+i]))),
      |      (s, x) -> s + x) AS dist
      |  FROM cand0 CROSS JOIN range(0, 8) AS g(j) CROSS JOIN cbv),
      |best AS (SELECT vec_id, cell_id, j, c FROM (
      |    SELECT *, row_number() OVER (PARTITION BY vec_id, j
      |                                 ORDER BY dist, c) AS rn
      |    FROM dists) WHERE rn = 1),
      |rec0 AS (SELECT b.vec_id, b.cell_id, b.j,
      |           list_transform(generate_series(1, 8),
      |             i -> cbv.v[b.j*8+i]) AS sub
      |         FROM best b JOIN cbv ON cbv.c = b.c),
      |rec AS (SELECT vec_id, cell_id, flatten(list(sub ORDER BY j)) AS rv
      |        FROM rec0 GROUP BY 1, 2),
      |rn_ AS (SELECT vec_id, cell_id, rv,
      |          sqrt(list_dot_product(rv, rv)) AS rnn FROM rec),
      |scored AS (SELECT q.q_vec_id, r.vec_id AS n_vec_id,
      |    max(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
      |      list_transform(range(0, 8), j ->
      |        list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
      |          list_transform(generate_series(1, 8),
      |            i -> q.qv[j*8+i] * r.rv[j*8+i])),
      |          (s, x) -> s + x))),
      |      (s, x) -> s + x) / (q.qn * r.rnn)) AS score
      |  FROM rn_ r JOIN q USING (cell_id) GROUP BY 1, 2),
      |r AS (SELECT *, row_number() OVER (PARTITION BY q_vec_id
      |                ORDER BY score DESC, n_vec_id) AS rank FROM scored)
      |SELECT q_vec_id, CAST(rank AS INT) AS rank, n_vec_id,
      |       round(score, 6) AS score_r
      |FROM r WHERE rank <= 5""".stripMargin

  /** The refined probe's oracle: the PQ recomputation's ADC ranking
    * truncated to the rerankR=50 shortlist, then an exact full-precision
    * cosine re-rank — spliced onto ivfPqOracleSql so the two derivations
    * share every quantization CTE verbatim. */
  private val ivfPqRefinedOracleSql: String =
    ivfPqOracleSql.replace(
      """SELECT q_vec_id, CAST(rank AS INT) AS rank, n_vec_id,
        |       round(score, 6) AS score_r
        |FROM r WHERE rank <= 5""".stripMargin,
      """,
        |short AS (SELECT q_vec_id, n_vec_id FROM r WHERE rank <= 50),
        |qf AS (SELECT vec_id AS q_vec_id, v AS qv, nrm AS qn FROM en
        |       WHERE vec_id < 8),
        |rf AS (SELECT s.q_vec_id, s.n_vec_id,
        |         list_dot_product(qf.qv, en.v)/(qf.qn*en.nrm) AS score
        |       FROM short s JOIN en ON en.vec_id = s.n_vec_id
        |                    JOIN qf ON qf.q_vec_id = s.q_vec_id),
        |rr AS (SELECT *, row_number() OVER (PARTITION BY q_vec_id
        |                ORDER BY score DESC, n_vec_id) AS rank FROM rf)
        |SELECT q_vec_id, CAST(rank AS INT) AS rank, n_vec_id,
        |       round(score, 6) AS score_r
        |FROM rr WHERE rank <= 5""".stripMargin)

  private val ivfOracleSql: String =
    """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      |en AS (SELECT vec_id, v, sqrt(list_dot_product(v,v)) AS nrm FROM e),
      |cents AS (SELECT vec_id AS cell_id, v AS cv, nrm AS cn FROM en
      |          WHERE vec_id >= 8 AND vec_id < 24),
      |ac AS (SELECT p.vec_id, p.v, p.nrm, c.cell_id,
      |              list_dot_product(p.v, c.cv)/(p.nrm*c.cn) AS cscore
      |       FROM en p CROSS JOIN cents c),
      |ranked AS (SELECT *, row_number() OVER (PARTITION BY vec_id
      |                     ORDER BY cscore DESC, cell_id) AS crank FROM ac),
      |q AS (SELECT vec_id AS q_vec_id, v AS qv, nrm AS qn, cell_id
      |      FROM ranked WHERE vec_id < 8 AND crank <= 4),
      |cand AS (SELECT vec_id, v, nrm, cell_id FROM ranked
      |         WHERE vec_id >= 8 AND crank = 1),
      |scored AS (SELECT q.q_vec_id, cand.vec_id AS n_vec_id,
      |                  max(list_dot_product(q.qv, cand.v)/(q.qn*cand.nrm)) AS score
      |           FROM cand JOIN q USING (cell_id) GROUP BY 1, 2),
      |r AS (SELECT *, row_number() OVER (PARTITION BY q_vec_id
      |                ORDER BY score DESC, n_vec_id) AS rank FROM scored)
      |SELECT q_vec_id, CAST(rank AS INT) AS rank, n_vec_id, round(score, 6) AS score_r
      |FROM r WHERE rank <= 5""".stripMargin

  /** Shared CTE: near-dup-injected corpus tokenized into distinct word
    * 3-shingles (DuckDB lists are 1-based like Spark element_at). */
  private val nearDupShinglesCte: String =
    """WITH corpus AS (
      |  SELECT doc_id, text, lang, source FROM documents
      |  UNION ALL SELECT doc_id + 1000000, text || ' near dup copy tail', lang, source
      |  FROM documents WHERE doc_id%50=0),
      |tok AS (SELECT doc_id, lang, source,
      |        list_filter(string_split(text, ' '), w -> len(w) > 0) AS t FROM corpus),
      |sh AS (SELECT doc_id, lang, source,
      |       list_distinct(list_transform(generate_series(1, len(t)-2),
      |         i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS sh
      |       FROM tok WHERE len(t) >= 3)""".stripMargin
}
