package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deduplication operators for large-scale training-data pipelines:
  * exact (hash groupBy), n-gram Jaccard (grouped all-pairs), MinHash+LSH
  * (band-bucket join — the 100 TB path: candidate generation cost is
  * O(docs x bands), never O(docs^2)), and SimHash (bit-chunk bucketing).
  *
  * The sandbox corpus has no natural duplicates, so deterministic copies are
  * injected (doc_id % 50 = 0 -> +1_000_000 id), keeping expected outputs
  * SQL-recomputable for the DuckDB oracle.
  */
object Dedup {

  /** Whitespace tokens, empties dropped. */
  def tokens(text: Column): Column =
    filter(split(text, " "), t => length(t) > 0)

  /** Distinct word 3-shingles; empty for docs shorter than 3 tokens.
    * (Guarded: Spark's `sequence(1, n)` runs DESCENDING for n < 1.) */
  def shingles(text: Column): Column = {
    val t = tokens(text)
    array_distinct(
      when(size(t) >= 3,
        transform(sequence(lit(1), size(t) - 2), i =>
          concat_ws(" ", element_at(t, i), element_at(t, i + 1), element_at(t, i + 2))))
        .otherwise(array().cast("array<string>")))
  }

  /** documents + exact copies of every doc_id%50=0 row (id offset 1M). */
  def corpusWithExactDups(documents: DataFrame): DataFrame = {
    val base = documents.select(col("doc_id"), col("text"))
    base.unionAll(
      documents.where(col("doc_id") % 50 === 0)
        .select((col("doc_id") + 1000000).as("doc_id"), col("text")))
  }

  /** documents + near-duplicate copies (4-token suffix appended). */
  def corpusWithNearDups(documents: DataFrame): DataFrame = {
    val base = documents.select(col("doc_id"), col("text"), col("lang"), col("source"))
    base.unionAll(
      documents.where(col("doc_id") % 50 === 0)
        .select(
          (col("doc_id") + 1000000).as("doc_id"),
          concat(col("text"), lit(" near dup copy tail")).as("text"),
          col("lang"), col("source")))
  }

  /** Exact dedup: group by content hash; one shuffle with map-side combine.
    * Output: (text_hash, cnt, min_doc_id) for groups with >1 member. */
  def exactDuplicates(corpus: DataFrame): DataFrame =
    corpus
      .groupBy(md5(col("text").cast("binary")).as("text_hash"))
      .agg(count(lit(1)).as("cnt"), min(col("doc_id")).as("min_doc_id"))
      .where(col("cnt") > 1)

  /** documents + formatting variants (upper-cased, punctuation appended) of
    * doc_id%40=0 — raw-hash-distinct but normalization-identical, the
    * case/punct near-miss population exact dedup is blind to. Injections
    * are SQL-recomputable for the oracle. */
  def corpusWithFormattingVariants(documents: DataFrame): DataFrame =
    documents.select(col("doc_id"), col("text"))
      .unionAll(documents.where(col("doc_id") % 40 === 0)
        .select((col("doc_id") + 3000000).as("doc_id"),
          concat(upper(col("text")), lit(" !!")).as("text")))

  /** Exact dedup on the NORMALIZED key ([[TextAnalysis.normalizeForDedup]]):
    * catches case/punctuation/digit-formatting variants raw-hash dedup
    * misses. Same one-shuffle map-side-combined shape as
    * [[exactDuplicates]]; `n_raw` (distinct raw hashes per group) > 1 is
    * exactly the population the normalization bought. */
  def exactNormalizedDuplicates(corpus: DataFrame): DataFrame =
    corpus
      .select(col("doc_id"),
        md5(col("text").cast("binary")).as("raw_hash"),
        md5(TextAnalysis.normalizeForDedup(col("text")).cast("binary"))
          .as("norm_hash"))
      .groupBy("norm_hash")
      .agg(count(lit(1)).as("cnt"),
        count_distinct(col("raw_hash")).as("n_raw"),
        min(col("doc_id")).as("min_doc_id"))
      .where(col("cnt") > 1)

  private def pairStats(aSh: Column, bSh: Column): Seq[Column] = {
    val inter = size(array_intersect(aSh, bSh))
    Seq(inter.as("n_inter"), (size(aSh) + size(bSh) - inter).as("n_union"))
  }

  /** Exact n-gram Jaccard within (lang, source) groups, threshold >= 0.6.
    *
    * Scale shape: NOT an all-pairs array-intersect join. Shingles are
    * exploded once, grouped into (lang, source, shingle) buckets, and pairs
    * materialize row-locally from each bucket's member list — so cost
    * tracks ACTUAL shingle co-occurrences, never |group|^2. A pair with
    * zero common shingles cannot pass the threshold, so it is correct that
    * it never materializes. Counts stay integral (n_inter/n_union) for an
    * exact oracle compare. At web scale, cap hot-shingle bucket sizes
    * before pair expansion (skew guard). */
  def ngramJaccardPairs(corpus: DataFrame): DataFrame = {
    // `sh` is materialized as an attribute in its own projection BELOW the
    // generator (referenced twice — size + explode — so CollapseProject
    // cannot inline the expensive shingling into the Generate's projection,
    // where it would re-evaluate once per EXPLODED row; plan-asserted in
    // OpsSpec). The per-doc shingle count `n` then rides through the
    // buckets, so union sizes come out of the pair expansion directly —
    // ZERO joins and exactly ONE corpus scan in the whole operator.
    val shingled = corpus
      .select(col("doc_id"), col("lang"), col("source"),
        shingles(col("text")).as("sh"))
    val ex = shingled
      .select(col("doc_id"), col("lang"), col("source"),
        size(col("sh")).as("n"), explode_outer(col("sh")).as("s"))
      .where(col("s").isNotNull)
    // size-bounded collect: a boilerplate shingle shared by millions of
    // docs must not materialize its full membership in one aggregation
    // buffer — the buffer itself is capped at the 1000 smallest members
    // (identical retention rule to sortedPairs' cap, so results match
    // slice(array_sort(collect_list(..)), 1, 1000) bit-for-bit).
    val buckets = ex
      .groupBy(col("lang"), col("source"), col("s"))
      .agg(graft.functions.BoundedCollect.docN(1000)(col("doc_id"), col("n"))
        .as("ids"))
      .where(size(col("ids")) > 1)
    buckets
      .select(explode_outer(graft.util.Exprs.sortedPairs(col("ids"))).as("p"))
      .where(col("p").isNotNull)
      // n is functionally dependent on doc_id: grouping by it is free
      .groupBy(col("p.a.doc_id").as("doc_id_a"), col("p.b.doc_id").as("doc_id_b"),
        col("p.a.n").as("na"), col("p.b.n").as("nb"))
      .agg(count(lit(1)).cast("int").as("n_inter"))
      .select(col("doc_id_a"), col("doc_id_b"), col("n_inter"),
        (col("na") + col("nb") - col("n_inter")).as("n_union"))
      .where(col("n_inter") * 10 >= col("n_union") * 6)
  }

  /** Stage 1 of minhashLshPairs: (doc_id, band, sig) banded signatures.
    * Exposed for per-stage bench tracing (Bench emits banding / candidate /
    * verify wall times so host-contention windows are attributable to a
    * stage). explode_outer: plain explode triggers InferFiltersFromGenerate,
    * which duplicates the whole minhash expression into a pushed-down
    * Filter. No tokens>=3 pre-filter: MinHashBands emits ZERO bands for a
    * shingle-less doc (empty array -> explode_outer null -> dropped), so
    * the filter is redundant — and harmful: Catalyst pushes the HOF
    * predicate into the FileScan's DataFilters, evaluating the whole
    * tokenize per corpus row BEFORE the parallelism fan-out. */
  private[graft] def minhashBanded(corpus: DataFrame, numHashes: Int = 64,
                                   rowsPerBand: Int = 2): DataFrame = {
    val bandsExpr =
      graft.functions.MinHashBands(shingles(col("text")), numHashes, rowsPerBand)
    corpus
      .select(col("doc_id"), explode_outer(bandsExpr).as("bs"))
      .where(col("bs").isNotNull)
      .select(col("doc_id"), col("bs.band").as("band"), col("bs.sig").as("sig"))
  }

  /** Stage 2: distinct candidate pairs from shared band buckets. Bounded
    * membership: a million-fold exact-dup cluster lands its whole cluster
    * in ONE band bucket — the aggregation buffer itself (not just the
    * downstream pair expansion) is capped at the 1000 smallest doc_ids. */
  private[graft] def minhashCandidatePairs(banded: DataFrame): DataFrame =
    banded
      .groupBy(col("band"), col("sig"))
      .agg(graft.functions.BoundedCollect.longs(1000)(col("doc_id")).as("ids"))
      .where(size(col("ids")) > 1)
      .select(explode_outer(graft.util.Exprs.sortedPairs(col("ids"))).as("p"))
      .where(col("p").isNotNull)
      .select(col("p.a").as("doc_id_a"), col("p.b").as("doc_id_b"))
      .distinct()

  /** MinHash + banded LSH near-dup detection, exact-Jaccard verified.
    *
    * Row-local signature pipeline (no explode of shingles): ONE xxhash64
    * per shingle, then numHashes universal-hashing permutations
    * (h*a_i + b_i over literal constant arrays) folded to minhashes,
    * banded into numHashes/rowsPerBand signatures. Every intermediate is
    * let-bound (Exprs.withLet): referenced from inside per-permutation /
    * per-band lambdas they would otherwise be re-evaluated on every
    * iteration (32x full recompute, measured). Docs sharing a band bucket
    * become candidate pairs via grouped row-local pair expansion (shuffle
    * keyed by signature, never all-pairs, no double-computed self-join
    * sides); candidates are verified with exact Jaccard >= 0.6 computed
    * from the raw texts of just the candidate docs, so false positives
    * drop out and verification costs O(candidates).
    *
    * rowsPerBand=2 over 64 hashes -> 32 bands: P(miss) at s=0.7 is
    * (1-0.49)^32 ~ 4e-10 — effectively exhaustive at the verify threshold.
    */
  def minhashLshPairs(corpus: DataFrame, numHashes: Int = 64,
                      rowsPerBand: Int = 2): DataFrame =
    verifyJaccardPairs(
      minhashCandidatePairs(minhashBanded(corpus, numHashes, rowsPerBand)),
      corpus)

  /** Exact-Jaccard verification of (doc_id_a, doc_id_b) candidate pairs
    * against `texts` (doc_id, text): emits only pairs with Jaccard >= 0.6,
    * with integral (n_inter, n_union). Shared by the one-shot LSH pipeline
    * and the incremental-index path.
    *
    * Intersects 64-bit-hashed shingle sets (hashing preserves distinct
    * counts up to ~1e-14 collision odds; long intersects are far cheaper
    * than string intersects). Structure matters twice here:
    *  (1) `candidates` must be referenced exactly ONCE — Spark does not
    *      materialize shared DataFrame subplans, so every extra reference
    *      re-executes the whole candidate pipeline (the round-2 shape
    *      referenced it three times: final join + one candIds semi-join
    *      per verify side — the dedup_minhash_lsh driver-bench
    *      regression);
    *  (2) shingling must sit ABOVE the corpus join so it runs on matched
    *      (candidate-sized) rows only, never once per corpus doc.
    * So: reshape each pair to two (pair, member) rows, join the RAW corpus
    * once on doc_id (m is candidate-sized — AQE broadcasts it; never hint
    * the corpus side), shingle the matched rows, and regroup per pair with
    * a candidate-sized shuffle. first(ignoreNulls) is deterministic:
    * exactly one non-null per side per pair.
    *
    * A doc in P pairs is shingled P times here (vs once in a
    * per-distinct-member shape) — deliberate: the unavoidable per-pair
    * intersect already costs O(doc length) per pair, so the per-membership
    * shingle is a <=2x constant on the verify stage, NOT a complexity
    * change, and it keeps `candidates` single-reference without pinning a
    * cached table (the per-distinct shape needs either a second reference
    * or a persist). */
  private[graft] def verifyJaccardPairs(candidates: DataFrame,
                                        corpus: DataFrame): DataFrame = {
    val m = candidates.select(
      col("doc_id_a"), col("doc_id_b"),
      explode(array(col("doc_id_a"), col("doc_id_b"))).as("doc_id"))
    val matched = corpus.select(col("doc_id"), col("text"))
      .join(m, "doc_id")
      .select(col("doc_id_a"), col("doc_id_b"), col("doc_id"),
        transform(shingles(col("text")), s => xxhash64(s)).as("sh"))
    val paired = matched
      .groupBy(col("doc_id_a"), col("doc_id_b"))
      .agg(
        first(when(col("doc_id") === col("doc_id_a"), col("sh")),
          ignoreNulls = true).as("sh_a"),
        first(when(col("doc_id") === col("doc_id_b"), col("sh")),
          ignoreNulls = true).as("sh_b"))
    paired
      .select(
        col("doc_id_a") +: col("doc_id_b") +:
          pairStats(col("sh_a"), col("sh_b")): _*)
      .where(col("n_inter") * 10 >= col("n_union") * 6)
  }

  /** SimHash near-dup pairs. 64-bit SimHash per doc from token hashes
    * (row-local HOF pipeline): bit j is set iff the sum of (+1/-1 for bit j
    * of xxhash64(token)) over all tokens is positive. Pairs are bucketed on
    * eight 8-bit chunks and verified with bit_count(xor) <= maxHamming; by
    * pigeonhole, any pair with Hamming <= 7 shares at least one chunk, so
    * for maxHamming <= 7 the result is EXACT (identical to all-pairs) while
    * the join stays keyed on chunk values — never O(docs^2). */
  /** 64-bit SimHash per doc (doc_id, sim): single pass over token hashes,
    * per-bit +-1 counts folded into a 64-slot array accumulator, then
    * counts -> bits. */
  def simhashes(corpus: DataFrame): DataFrame =
    corpus
      .where(size(tokens(col("text"))) > 0)
      .select(col("doc_id"),
        graft.functions.SimHash64(tokens(col("text"))).as("sim"))

  /** Scale shape (Manku-style block-combination tables, "Detecting
    * Near-Duplicates for Web Crawling", WWW'07 §3): the 64-bit fingerprint
    * is split into 8 fixed 8-bit blocks; each table keys on the
    * concatenation of a distinct `keyBlocks`-subset of those blocks, and a
    * pair differing in <= maxHamming bits touches at most maxHamming
    * blocks, so it shares ALL blocks of at least one table's key whenever
    * maxHamming <= 8 - keyBlocks (pigeonhole) — the result is then EXACT
    * (identical to all-pairs Hamming) while the join stays keyed, never
    * O(docs^2). `keyBlocks` trades table count against key width, i.e.
    * candidate-generation fan-out against bucket density:
    *
    *   keyBlocks  tables C(8,q)  key width  exact for  density at 10^12 docs
    *       1            8           8 bit    k <= 7     ~n/2^8  = 4e9/bucket
    *       2           28          16 bit    k <= 6     ~n/2^16 = 15M/bucket
    *       3           56          24 bit    k <= 5     ~n/2^24 = 60k/bucket
    *       4           70          32 bit    k <= 4     ~n/2^32 = 233/bucket
    *
    * At web scale run keyBlocks=4: 70 explode rows per doc but buckets of
    * ~hundreds, so the grouped pair expansion below is row-local cheap and
    * the membership cap never triggers. The sandbox default (keyBlocks=1)
    * keeps the widest Hamming radius; there buckets hold ~n/256 members,
    * which is exactly why the membership BUFFER is size-bounded below.
    *
    * Each bucket is grouped and pairs materialize row-locally with the
    * deterministic hot-bucket cap: beyond-cap members of one bucket are
    * still found through any of their other C(8,q)-1 tables (a pair is
    * missed only if BOTH docs fall beyond the cap in ALL tables). The
    * `sim` value rides along inside the bucket list, so the Hamming verify
    * needs no join at all. Sandbox buckets are far below the cap, keeping
    * the OpsSpec all-pairs equality exact. */
  def simhashPairs(corpus: DataFrame, maxHamming: Int = 7,
                   keyBlocks: Int = 1): DataFrame = {
    require(keyBlocks >= 1 && keyBlocks <= 8, "keyBlocks in [1,8]")
    require(maxHamming <= 8 - keyBlocks,
      s"exactness needs maxHamming <= ${8 - keyBlocks} at keyBlocks=$keyBlocks " +
        "(a pair with k differing bits shares a clean key only if k blocks " +
        "hit leaves >= keyBlocks blocks identical)")
    val sims = simhashes(corpus)
    def block(bi: Int): Column =
      shiftrightunsigned(col("sim"), bi * 8).bitwiseAND(lit(0xFFL))
    val tableStructs = (0 until 8).combinations(keyBlocks).toSeq.zipWithIndex
      .map { case (blocks, ti) =>
        val key = blocks.zipWithIndex
          .map { case (bi, pos) => shiftleft(block(bi), pos * 8) }
          .reduce[Column](_ bitwiseOR _)
        struct(lit(ti).as("table"), key.as("key"))
      }
    val chunked = sims.select(
      col("doc_id"), col("sim"),
      explode_outer(array(tableStructs: _*)).as("ch"))
      .where(col("ch").isNotNull)
      .select(col("doc_id"), col("sim"), col("ch.table").as("table"), col("ch.key").as("key"))
    chunked
      .groupBy(col("table"), col("key"))
      // size-bounded collect: at keyBlocks=1 the 8x256-value key space makes
      // EVERY bucket hold ~n/256 members at 10^9+ docs, so the membership
      // buffer itself (not just the pair expansion) must be capped — at
      // 10000, matching HammingPairs' deterministic first-10000-by-doc_id
      // truncation, so results are unchanged. Beyond the cap the exactness
      // guarantee degrades gracefully (a pair is missed only if both docs
      // fall beyond the cap in all tables); at web scale raise keyBlocks
      // instead (see table above) so density stays far below the cap.
      .agg(graft.functions.BoundedCollect.docSim(10000)(col("doc_id"), col("sim"))
        .as("members"))
      .where(size(col("members")) > 1)
      // fused compiled pair-expand + Hamming verify: emits only passing
      // pairs instead of materializing every bucket pair (see HammingPairs).
      // The shared-vocabulary corpus drives hot chunk buckets past 2.5k
      // members at sf0.1, so a 1k cap silently dropped exact pairs there.
      .select(explode_outer(
        graft.functions.HammingPairs(col("members"), maxHamming,
          maxItems = 10000)).as("p"))
      .where(col("p").isNotNull)
      .select(col("p.doc_id_a").as("doc_id_a"), col("p.doc_id_b").as("doc_id_b"),
        col("p.hamming").as("hamming"))
      .distinct()
  }

  /** Connected components over a near-dup pair list → (doc_id, cluster_id)
    * with cluster_id = the minimum doc_id reachable through pairs — the
    * KEEP/DROP decision step of a dedup pipeline (keep each cluster's
    * cluster_id doc, drop the rest).
    *
    * Algorithm: iterated min-label propagation — every node adopts the
    * minimum label among itself and its neighbors; one round is one
    * edge⋈label equi-join plus one groupBy-min (map-side combinable), and
    * convergence takes O(component diameter) rounds. Each round's result is
    * persisted and the previous unpersisted, so the plan stays one round
    * deep (no exponential lineage). Near-dup graphs are star-like (tiny
    * diameter); a pathological chain exceeds maxIter and FAILS FAST rather
    * than returning half-merged clusters. At 10^12-edge scale the same two
    * join shapes run the large-star/small-star alternation (provably
    * O(log n) rounds); propagation is the diameter-bounded special case.
    */
  def dupClusters(pairs: DataFrame, maxIter: Int = 12): DataFrame = {
    // the convergence checksum below sums labels as decimal(38,0): a
    // non-numeric label casts to NULL outside ANSI mode, which makes every
    // round's checksum equal and "converges" after one round with
    // half-merged clusters
    Seq("doc_id_a", "doc_id_b").foreach { c =>
      import org.apache.spark.sql.types._
      val t = pairs.schema(c).dataType
      require(Seq(ByteType, ShortType, IntegerType, LongType).contains(t),
        s"dupClusters needs integral doc ids, got $c: ${t.simpleString}")
    }
    // both edge directions from ONE pass over the (possibly expensive) pair
    // pipeline — a unionAll of two selects would execute it twice
    val edges = pairs.select(explode(array(
        struct(col("doc_id_a").as("src"), col("doc_id_b").as("dst")),
        struct(col("doc_id_b").as("src"), col("doc_id_a").as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
      .persist()
    // init = round 1 fused: label(v) = min(v, direct neighbors) in one
    // groupBy (edges are bidirectional, so every node appears as src) —
    // star-shaped dup components converge here and pay only the confirm
    // round in the loop
    var labels = edges.groupBy(col("src").as("doc_id"))
      .agg(min(col("dst")).as("nmin"))
      .select(col("doc_id"), least(col("doc_id"), col("nmin")).as("label"))
      .persist()
    var iter = 0
    var done = false
    // convergence detection is an EXACT (count, sum) checksum, not a
    // next-vs-previous join: labels are monotonically non-increasing per
    // node (next(v) = min(label(v), neighbor labels) <= label(v)) over a
    // fixed node set, so the label sum strictly decreases iff ANY label
    // changed — comparing one decimal(38,0) sum (exact at any id scale,
    // where a long sum could wrap at 10^12 x 10^12) replaces the per-round
    // shuffle join of two participant-scale tables; the agg doubles as the
    // action that materializes the round's cache.
    def checksum(df: DataFrame): (Long, java.math.BigDecimal) = {
      val r = df.agg(count(lit(1)),
        sum(col("label").cast("decimal(38,0)"))).head()
      (r.getLong(0), r.getDecimal(1))
    }
    // every intermediate cache is released on BOTH exit paths; the returned
    // table stays persisted (it is participant-scale, bounded by the pair
    // caps, and consumers read it lazily) — callers may unpersist it after
    // consumption, and Spark's ContextCleaner reclaims it once unreferenced
    try {
      var cur = checksum(labels)
      while (!done) {
        val viaNeighbors = edges
          .join(labels.select(col("doc_id").as("dst"), col("label")), "dst")
          .select(col("src").as("doc_id"), col("label"))
        val next = labels.unionAll(viaNeighbors)
          .groupBy("doc_id").agg(min("label").as("label"))
          .persist()
        val nxt = checksum(next)
        labels.unpersist()
        labels = next
        iter += 1
        if (nxt == cur) done = true
        else if (iter >= maxIter) {
          labels.unpersist()
          throw new IllegalStateException(
            s"dupClusters did not converge in $maxIter rounds " +
              "(component diameter exceeds the bound — use star-contraction)")
        } else cur = nxt
      }
    } finally edges.unpersist()
    labels.select(col("doc_id"), col("label").as("cluster_id"))
  }

  /** Connected components via LARGE-STAR / SMALL-STAR alternation (Kiveris
    * et al., "Connected Components in MapReduce and Beyond", SoCC'14) — the
    * production path [[dupClusters]]' Scaladoc names for graphs whose
    * diameter exceeds the propagation bound: provably O(log^2 n) rounds on
    * ANY graph (O(log n) in practice), each round two keyed aggregates +
    * explodes, no assumption about component shape.
    *
    *   large-star: every node u links each STRICTLY GREATER neighbor to
    *               m(u) = min(N(u) ∪ u)   — hangs big nodes off minima
    *   small-star: every node u links each neighbor <= u, and itself, to
    *               m(u)                   — contracts chains onto minima
    *
    * Both steps preserve connectivity and monotonically shrink the edge
    * set toward stars rooted at component minima; at the fixpoint every
    * node's neighborhood minimum IS its component minimum. Each round is
    * localCheckpointed (lineage CUT, not just cached — see the loop
    * comment); the fixpoint test (edge set unchanged) costs one
    * anti-join each way over participant-scale rows.
    *
    * Output contract matches [[dupClusters]]: (doc_id, cluster_id = min
    * reachable doc_id), one row per node that appears in any pair —
    * equality on identical inputs is spec-asserted, including on the long
    * chain where the propagation variant fails fast. */
  def dupClustersStar(pairs: DataFrame, maxIter: Int = 50): DataFrame = {
    def canon(df: DataFrame): DataFrame =
      df.where(col("u") =!= col("v"))
        .select(least(col("u"), col("v")).as("u"),
          greatest(col("u"), col("v")).as("v"))
        .distinct()
    // the star steps need every node's FULL neighborhood, so edges are kept
    // canonical (u < v, distinct) between rounds and expanded to both
    // directions inside each step from one reference
    def bothDirs(df: DataFrame): DataFrame =
      df.select(explode(array(
          struct(col("u").as("a"), col("v").as("b")),
          struct(col("v").as("a"), col("u").as("b")))).as("e"))
        .select(col("e.a").as("a"), col("e.b").as("b"))
    // each star step: per-node neighborhood minimum (one map-combinable
    // aggregate) joined back to the directed edge list ON THE SAME KEY —
    // co-partitioned, so the join adds no extra shuffle, and no node's
    // neighborhood ever materializes in one buffer (the skew-safety the
    // algorithm exists for: a 10^8-degree hub streams through its
    // partition instead of collecting)
    def star(df: DataFrame, large: Boolean): DataFrame = {
      val dirs = bothDirs(df)
      val mins = dirs.groupBy(col("a"))
        .agg(min(col("b")).as("nmin"))
        .select(col("a"), least(col("a"), col("nmin")).as("m"))
      val nbrs = dirs.join(mins, "a")
      val linked =
        if (large) nbrs.where(col("b") > col("a"))
          .select(col("b").as("u"), col("m").as("v"))
        else nbrs.where(col("b") <= col("a"))
          .select(col("b").as("u"), col("m").as("v"))
          .unionAll(mins.select(col("a").as("u"), col("m").as("v")))
      canon(linked)
    }
    // every round ends in localCheckpoint, NOT persist: star() references
    // its input TWICE (neighborhood minima + the edge join), so the chained
    // logical plan would QUADRUPLE per round (two star steps/round) — by
    // round 8 that is a ~4^8-node plan that exhausts the heap just being
    // stringified, while the checkpoint cuts each round to a LogicalRDD +
    // two star steps (same lesson as Bpe.train; production: reliable
    // checkpoint() for fault-tolerance)
    var edges = canon(pairs.select(col("doc_id_a").as("u"), col("doc_id_b").as("v")))
      .localCheckpoint(true)
    var iter = 0
    var done = edges.isEmpty
    while (!done) {
      val next = star(star(edges, large = true), large = false)
        .localCheckpoint(true)
      // fixpoint: the canonical edge set did not change this round
      val changed = next.exceptAll(edges).limit(1).count() +
        edges.exceptAll(next).limit(1).count()
      if (changed == 0) done = true
      else {
        edges = next
        iter += 1
        if (iter >= maxIter)
          throw new IllegalStateException(
            s"dupClustersStar did not converge in $maxIter rounds")
      }
    }
    // at the fixpoint the graph is a union of stars rooted at component
    // minima: every node's min neighbor (or itself) is its component min
    bothDirs(edges)
      .groupBy(col("a").as("doc_id"))
      .agg(min(col("b")).as("nmin"))
      .select(col("doc_id"), least(col("doc_id"), col("nmin")).as("cluster_id"))
  }

  /** documents rewritten as newline-joined lines with deterministic
    * boilerplate injections (the sandbox corpus is single-line):
    * doc_id%7=0 docs gain a newsletter header + copyright footer,
    * doc_id%11=0 docs a navigation line — the cross-document duplicated
    * lines a Dolma/CCNet-style pass strips. concat_ws skips NULL branches
    * in both engines, keeping the injection SQL-recomputable. */
  def corpusWithBoilerplateLines(documents: DataFrame): DataFrame =
    documents.select(col("doc_id"),
      concat_ws("\n",
        when(col("doc_id") % 7 === 0, lit("subscribe to our newsletter")),
        col("text"),
        when(col("doc_id") % 7 === 0, lit("copyright 2026 example corp")),
        when(col("doc_id") % 11 === 0, lit("home about contact privacy terms")))
        .as("text"))

  /** Cross-document line-level dedup (Dolma/CCNet shape): lines occurring
    * in >= minDocFreq DISTINCT documents are boilerplate (headers, footers,
    * navigation) and are stripped from every document; per-doc line order
    * is preserved. Docs whose every line is boilerplate drop out of the
    * result (nothing left to train on) — the sandbox injection never fully
    * empties a doc, so the oracle compare is unaffected.
    *
    * Scale shape: two corpus passes by necessity (corpus line statistics,
    * then per-doc application — same shape as tokenFreqStats). Pass 1
    * explodes per-doc DISTINCT lines and hash-aggregates to document
    * frequency (map-side combine; output is distinct-line-sized, and the
    * heavy set it filters to is bounded by totalLines/minDocFreq). Pass 2
    * explodes lines WITH positions (the line array is materialized as an
    * attribute below the generator so CollapseProject cannot re-evaluate
    * the split per exploded row), anti-joins the heavy set (AQE broadcasts
    * it when it fits — never forced: at 10^12 docs the heavy set can
    * exceed broadcast limits and the anti-join degrades gracefully to
    * shuffle), and reassembles per doc. The reassembly buffer is bounded
    * by a single document's line count — the natural row grain. */
  def lineDedup(corpus: DataFrame, minDocFreq: Int = 5): DataFrame = {
    val heavy = corpus
      .select(col("doc_id"),
        explode_outer(array_distinct(split(col("text"), "\n"))).as("line"))
      .where(col("line").isNotNull)
      .groupBy("line").agg(count(lit(1)).as("df"))
      .where(col("df") >= minDocFreq)
      .select("line")
    val kept = corpus
      .select(col("doc_id"), split(col("text"), "\n").as("ls"))
      .select(col("doc_id"), size(col("ls")).as("n_lines"),
        posexplode_outer(col("ls")).as(Seq("pos", "line")))
      .where(col("line").isNotNull)
      .join(heavy, Seq("line"), "left_anti")
    kept
      .groupBy(col("doc_id"), col("n_lines"))
      .agg(count(lit(1)).cast("int").as("n_kept"),
        concat_ws("\n",
          transform(array_sort(collect_list(struct(col("pos"), col("line")))),
            x => x.getField("line"))).as("text_clean"))
      .select(col("doc_id"), col("n_lines"),
        (col("n_lines") - col("n_kept")).as("n_removed"), col("text_clean"))
  }

  /** documents with deterministic shared passages injected — the repeated
    * licence blurbs / syndicated paragraphs an exact-substring pass strips
    * (the sandbox corpus has no cross-document passages of its own):
    * doc_id%13=0 docs gain a 12-token leading passage, doc_id%17=0 an
    * 11-token trailing one. concat_ws skips NULL branches in both engines,
    * keeping the injection SQL-recomputable. */
  def corpusWithSharedPassages(documents: DataFrame): DataFrame =
    documents.select(col("doc_id"),
      concat_ws(" ",
        when(col("doc_id") % 13 === 0,
          lit("the quick brown fox jumps over the lazy dog again and again")),
        col("text"),
        when(col("doc_id") % 17 === 0,
          lit("all rights reserved unauthorized reproduction of this text is strictly prohibited")))
        .as("text"))

  /** Duplicated-SPAN removal — the exact-substring dedup of Lee et al. 2022
    * ("Deduplicating Training Data Makes Language Models Better"), at word
    * granularity: every window of `k` consecutive tokens that occurs in
    * >= minDocFreq DISTINCT documents marks its k token positions as
    * duplicated; per doc, marked positions merge into maximal contiguous
    * spans which are reported and stripped. Doc-level dedup (minhash/
    * simhash) misses this entirely — two unique articles sharing one
    * syndicated paragraph are <1% Jaccard yet still leak the paragraph
    * into training data verbatim many times.
    *
    * Scale shape (the suffix-array of the paper does not distribute; the
    * window-hash formulation is the standard cluster equivalent): pass 1
    * explodes per-doc DISTINCT windows and hash-aggregates to document
    * frequency (map-side combine; the heavy set is bounded by
    * totalWindows/minDocFreq). Pass 2 explodes windows WITH positions (the
    * window array is materialized as an attribute below the generator so
    * CollapseProject cannot re-evaluate it per exploded row), semi-joins
    * the heavy set (AQE broadcasts it when it fits, degrades to shuffle
    * when not — never forced), aggregates duplicated starts per doc
    * (buffer bounded by a single doc's window count), and joins back to
    * the corpus on doc_id — ONE keyed shuffle — where span merging, span
    * counting, and text cleaning are all row-local array folds.
    *
    * `hashKeys = true` is the PRODUCTION shuffle: the document-frequency
    * aggregate and the semi-join key on xxhash64(window) (8 bytes) instead
    * of the k-token window STRING (~50-100 bytes at k=8) — a 4-8x narrower
    * shuffle and heavy-set, at collision odds ~1e-8 across 10^12 distinct
    * windows (a colliding pair of windows would at worst over-mark k token
    * positions). Both paths emit identical output on collision-free inputs
    * (spec-asserted); the string path stays the oracle twin, same
    * convention as [[lineDedup]].
    *
    * Output per doc (all docs, including untouched ones): n_tokens,
    * n_dup_spans, n_dup_tokens, spans "s-e;s-e" (1-based inclusive),
    * text_clean with duplicated positions removed. Integer/string-valued
    * throughout -> hash-exact against a gaps-and-islands SQL oracle. */
  def spanDedup(corpus: DataFrame, k: Int = 8, minDocFreq: Int = 2,
                hashKeys: Boolean = false): DataFrame = {
    // struct(p, w) windows, 1-based start positions; [] for short docs
    def windows(t: Column): Column =
      when(size(t) >= k,
        transform(sequence(lit(1), size(t) - (k - 1)), i =>
          struct(i.as("p"), concat_ws(" ", slice(t, i, lit(k))).as("w"))))
        .otherwise(array().cast("array<struct<p:int,w:string>>"))

    val winStr = corpus
      .select(col("doc_id"), windows(tokens(col("text"))).as("ws"))
      .select(col("doc_id"), explode_outer(col("ws")).as("win"))
      .where(col("win").isNotNull)
      .select(col("doc_id"), col("win.p").as("p"), col("win.w").as("w"))
    // hashed shuffle key: everything downstream is agnostic to w's type
    val win =
      if (hashKeys) winStr.select(col("doc_id"), col("p"), xxhash64(col("w")).as("w"))
      else winStr
    val heavy = win
      .select(col("doc_id"), col("w")).distinct()
      .groupBy("w").agg(count(lit(1)).as("df"))
      .where(col("df") >= minDocFreq)
      .select("w")
    val dupStarts = win
      .join(heavy, Seq("w"), "left_semi")
      .groupBy("doc_id")
      .agg(array_sort(collect_list(col("p"))).as("starts"))

    val t = tokens(col("text"))
    val c = col("c") // sorted distinct duplicated positions
    val m = size(c)
    // island starts/ends as indexes into c; when() keeps boundary probes
    // lazy, and the m>=1 guard dodges sequence(1,0) running DESCENDING
    // (same trap shingles() documents) plus ANSI element_at on index 0
    def guarded(body: Column): Column =
      when(m >= 1, body).otherwise(array().cast("array<int>"))
    val st = guarded(filter(sequence(lit(1), m), j =>
      when(j === 1, lit(true))
        .otherwise(element_at(c, j - 1) + 1 =!= element_at(c, j))))
    val en = guarded(filter(sequence(lit(1), m), j =>
      when(j === m, lit(true))
        .otherwise(element_at(c, j + 1) =!= element_at(c, j) + 1)))
    corpus
      .join(dupStarts, Seq("doc_id"), "left")
      .select(col("doc_id"), t.as("t"),
        array_sort(array_distinct(flatten(transform(
          coalesce(col("starts"), array().cast("array<int>")),
          p => sequence(p, p + (k - 1)))))).as("c"))
      .select(
        col("doc_id"),
        size(col("t")).as("n_tokens"),
        size(st).cast("int").as("n_dup_spans"),
        m.as("n_dup_tokens"),
        concat_ws(";", zip_with(st, en, (a, b) =>
          concat_ws("-", element_at(c, a), element_at(c, b)))).as("spans"),
        when(size(col("t")) >= 1,
          concat_ws(" ", transform(
            filter(sequence(lit(1), size(col("t"))), i => !array_contains(c, i)),
            i => element_at(col("t"), i))))
          .otherwise(lit("")).as("text_clean"))
  }

  // ---- incremental dedup against a persisted band index -------------------

  /** Persist the (doc_id, band, sig) minhash band table for `corpus` at
    * `path` through the TableIO seam — the dedup INDEX a production
    * pipeline maintains so each new crawl batch is deduplicated against
    * the existing corpus WITHOUT re-reading or re-minhashing corpus text.
    * The index is three fixed-width columns (~20 bytes/row x 32 bands/doc);
    * at 10^12 docs that is a compact columnar table dwarfed by the corpus
    * it summarizes, and the probe below touches it with one broadcast-
    * pruned scan — the same amortized-artifact pattern as the IVF index. */
  def minhashBuildIndex(corpus: DataFrame, path: String,
                        numHashes: Int = 64, rowsPerBand: Int = 2): Unit =
    graft.engine.TableIO.write(
      minhashBanded(corpus, numHashes, rowsPerBand), path)

  /** Fold a processed batch into the index. Append-only is correct: band
    * rows are per-doc facts, so index accumulation is pure union (the
    * caller dedupes the batch FIRST via [[minhashIncrementalPairs]] and
    * appends only kept docs). */
  def minhashAppendToIndex(batch: DataFrame, path: String,
                           numHashes: Int = 64, rowsPerBand: Int = 2): Unit =
    graft.engine.TableIO.append(
      minhashBanded(batch, numHashes, rowsPerBand), path)

  /** Incremental near-dup detection: exact-Jaccard-verified pairs between
    * a NEW batch and the indexed corpus, plus pairs WITHIN the batch —
    * the nightly-crawl contract (batch doc_ids disjoint from indexed ids).
    *
    * Scale shape: the corpus side is only ever touched through (a) the
    * band INDEX, inner-joined to the batch's bucket table — batch-sized,
    * so AQE broadcasts it and the index scan never shuffles — and (b) a
    * candidate-sized text lookup inside the shared verify stage. Corpus
    * banding/shingling is NEVER recomputed; per-batch cost is
    * O(batch + index-scan + candidates), not O(corpus). Old and new
    * bucket memberships are bounded SEPARATELY (old ids aggregate under
    * [[graft.functions.BoundedCollect]]; new ids were bounded at the
    * batch bucket table), so a million-fold legacy dup cluster can never
    * evict the batch members that queried it. The batch subplan is
    * referenced twice (bucket table + new-new pair expansion) — deliberate:
    * re-banding is batch-sized, vs the corpus-sized triple-reference bug
    * this file's verify stage documents.
    *
    * Output contract matches [[minhashLshPairs]]: (doc_id_a < doc_id_b,
    * n_inter, n_union), restricted to pairs with >= 1 batch member. */
  def minhashIncrementalPairs(spark: SparkSession, indexPath: String,
                              batch: DataFrame, corpusTexts: DataFrame,
                              numHashes: Int = 64, rowsPerBand: Int = 2,
                              cap: Int = 1000): DataFrame = {
    def newBuckets = minhashBanded(batch, numHashes, rowsPerBand)
      .groupBy(col("band"), col("sig"))
      .agg(graft.functions.BoundedCollect.longs(cap)(col("doc_id")).as("new_ids"))
    val crossPairs = graft.engine.TableIO.read(spark, indexPath)
      .join(newBuckets, Seq("band", "sig"))
      .groupBy(col("band"), col("sig"))
      .agg(graft.functions.BoundedCollect.longs(cap)(col("doc_id")).as("old_ids"),
        first(col("new_ids")).as("new_ids"))
      .select(explode_outer(flatten(transform(col("old_ids"), o =>
        transform(col("new_ids"), n =>
          struct(least(o, n).as("a"), greatest(o, n).as("b")))))).as("p"))
      .where(col("p").isNotNull && col("p.a") =!= col("p.b"))
      .select(col("p.a").as("doc_id_a"), col("p.b").as("doc_id_b"))
    val newNewPairs = newBuckets
      .where(size(col("new_ids")) > 1)
      .select(explode_outer(graft.util.Exprs.sortedPairs(col("new_ids"))).as("p"))
      .where(col("p").isNotNull)
      .select(col("p.a").as("doc_id_a"), col("p.b").as("doc_id_b"))
    val candidates = crossPairs.unionAll(newNewPairs).distinct()
    verifyJaccardPairs(candidates,
      corpusTexts.select(col("doc_id"), col("text"))
        .unionAll(batch.select(col("doc_id"), col("text"))))
  }

  /** NEW crawl batch for the incremental fixture: near-dup copies of
    * doc_id%50=0 (+1M id, 4-token tail) plus SECOND copies of doc_id%100=0
    * (+2M id, different tail), so both new-vs-corpus and new-vs-new pairs
    * exist. Injections are SQL-recomputable for the oracle. */
  def corpusIncrementalBatch(documents: DataFrame): DataFrame =
    documents.where(col("doc_id") % 50 === 0)
      .select((col("doc_id") + 1000000).as("doc_id"),
        concat(col("text"), lit(" near dup copy tail")).as("text"))
      .unionAll(documents.where(col("doc_id") % 100 === 0)
        .select((col("doc_id") + 2000000).as("doc_id"),
          concat(col("text"), lit(" second near dup tail")).as("text")))
}
