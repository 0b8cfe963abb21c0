package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Similarity search over an embedding column (array<float>).
  *
  * Brute-force cosine top-k is the correctness baseline (broadcast the
  * query set, scan candidates once — scales linearly in corpus size and is
  * embarrassingly parallel); random-hyperplane LSH bucketing is the scale
  * path (touches only same-bucket candidates).
  */
object Similarity {

  /** Sequential left-fold dot product (deterministic summation order) —
    * compiled kernel; bit-identical to the declarative HOF fold OpsSpec
    * tests it against, which costs ~2 x dim interpreted lambda calls + 2
    * array allocations per evaluation. */
  def dot(a: Column, b: Column): Column = graft.functions.DotProduct(a, b)

  private def prepared(emb: DataFrame): DataFrame =
    emb.select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .withColumn("norm", sqrt(dot(col("v"), col("v"))))

  /** Exact cosine top-k: query set = vec_id < nQueries (broadcast),
    * candidates = the rest. Deterministic tie-break on vec_id.
    *
    * Top-k selection is the mergeable heap aggregate (functions.TopKAgg),
    * NOT `row_number().over(partitionBy(query))`: the window would ship
    * every scored candidate row to one reducer per query — the whole
    * corpus onto nQueries tasks at 10^12 candidates — while the aggregate
    * combines map-side and shuffles at most k rows per (partition, query).
    * Output is bit-identical (same (score DESC, id ASC) order). */
  def cosineTopK(emb: DataFrame, nQueries: Int = 8, k: Int = 5): DataFrame = {
    val e = prepared(emb)
    val q = e.where(col("vec_id") < nQueries)
      .select(col("vec_id").as("q_vec_id"), col("v").as("qv"), col("norm").as("qn"))
    val c = e.where(col("vec_id") >= nQueries)
    c.crossJoin(broadcast(q))
      .select(col("q_vec_id"), col("vec_id"),
        (dot(col("qv"), col("v")) / (col("qn") * col("norm"))).as("score"))
      .groupBy(col("q_vec_id"))
      .agg(graft.functions.TopKAgg.topK(k)(col("score"), col("vec_id")).as("top"))
      .select(col("q_vec_id"), posexplode(col("top")).as(Seq("pos", "t")))
      .select(col("q_vec_id"), (col("pos") + 1).cast("int").as("rank"),
        col("t.id").as("n_vec_id"), round(col("t.score"), 6).as("score_r"))
  }

  /** embeddings + near-duplicate copies (first component doubled, id
    * offset 1M) — deterministic and ANSI-SQL-expressible for the oracle. */
  def corpusWithNearDupVecs(emb: DataFrame): DataFrame = {
    val base = emb.select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    base.unionAll(
      base.where(col("vec_id") % 25 === 0)
        .select((col("vec_id") + 1000000).as("vec_id"),
          transform(col("v"), (x, i) => when(i === 0, x * 2).otherwise(x)).as("v")))
  }

  /** Recall-targeted random-hyperplane LSH parameters, derived from corpus
    * size instead of hand-tuning:
    *   - nBits sized so expected bucket density corpusSize / 2^nBits stays
    *     at ~targetBucket members (bounds candidate-generation cost: pair
    *     work per bucket is density^2, and the membership buffer cap never
    *     truncates) — at 10^12 vectors and targetBucket=1000 that is 30
    *     bits, not the 5-bit/32-bucket tables that fit the sandbox;
    *   - nTables solved so a threshold-cosine pair's candidate-miss
    *     probability (1 - p^nBits)^nTables stays <= 1 - minRecall, with
    *     per-bit collision probability p = 1 - acos(threshold)/pi.
    * nBits is clamped to [1, 30] (2^30 buckets per table is plenty below
    * any realistic corpus/targetBucket ratio). */
  def lshParams(corpusSize: Long, threshold: Double,
                minRecall: Double = 0.99, targetBucket: Int = 1000): (Int, Int) = {
    require(corpusSize > 0 && threshold > 0 && threshold < 1 &&
      minRecall > 0 && minRecall < 1 && targetBucket > 0)
    val nBits = math.max(1, math.min(30,
      math.ceil(math.log(corpusSize.toDouble / targetBucket) / math.log(2)).toInt))
    val p = 1.0 - math.acos(threshold) / math.Pi
    val pk = math.pow(p, nBits)
    val nTables = math.max(1,
      math.ceil(math.log(1.0 - minRecall) / math.log(1.0 - pk)).toInt)
    (nBits, nTables)
  }

  /** Embedding-cosine near-duplicate pairs (the embedding flavor of dedup):
    * multi-table LSH buckets generate candidates (grouped row-local pair
    * expansion — never all-pairs), exact cosine verifies >= threshold.
    * Same scale shape as Dedup.minhashLshPairs.
    *
    * Pass nBits/nTables <= 0 (the default) to derive them from the corpus
    * size via [[lshParams]] — one cheap parquet-metadata count, then
    * bucket tables sized for ~1000 members regardless of scale. The
    * sandbox exactness-gate query pins (5, 12) explicitly: P(miss) for a
    * borderline 0.9-cosine pair is (1-p^5)^12 ~ 2e-3 with
    * p = 1 - acos(0.9)/pi, far lower for the injected near-dups; fewer
    * bits -> bigger buckets -> more (cheap, exact-verified) candidates in
    * exchange for recall. */
  def cosineNearDupPairs(emb: DataFrame, threshold: Double = 0.9,
                         nBits: Int = -1, nTables: Int = -1): DataFrame = {
    val (bBits, bTables) =
      if (nBits > 0 && nTables > 0) (nBits, nTables)
      else lshParams(emb.count(), threshold)
    val buckets = graft.functions.LshBuckets(col("v"), bBits, bTables)
    val banded = emb
      .select(col("vec_id"), posexplode_outer(buckets).as(Seq("table", "bucket")))
      .where(col("bucket").isNotNull)
    // size-bounded collect (cap = sortedPairs' 1000): a hot LSH bucket must
    // not materialize its full membership in one aggregation buffer
    val candidates = banded
      .groupBy(col("table"), col("bucket"))
      .agg(graft.functions.BoundedCollect.longs(1000)(col("vec_id")).as("ids"))
      .where(size(col("ids")) > 1)
      .select(explode_outer(graft.util.Exprs.sortedPairs(col("ids"))).as("p"))
      .where(col("p").isNotNull)
      .select(col("p.a").as("vec_id_a"), col("p.b").as("vec_id_b"))
      .distinct()
    // verify lookup — same structure rules as Dedup.minhashLshPairs:
    // `candidates` referenced exactly ONCE (every extra reference re-runs
    // the whole LSH pipeline — shared subplans are not materialized), the
    // corpus never broadcast-hinted, and the norm dot-product computed
    // ABOVE the join so it runs on matched (candidate-sized) rows only.
    // A vector in P pairs recomputes its norm P times — a <=2x constant on
    // the unavoidable per-pair dot product (both O(dim)), accepted to keep
    // candidates single-reference without a pinned cache.
    val m = candidates.select(
      col("vec_id_a"), col("vec_id_b"),
      explode(array(col("vec_id_a"), col("vec_id_b"))).as("vec_id"))
    val matched = emb.join(m, "vec_id")
      .select(col("vec_id_a"), col("vec_id_b"), col("vec_id"),
        struct(col("v"), sqrt(dot(col("v"), col("v"))).as("norm")).as("vn"))
    val paired = matched
      .groupBy(col("vec_id_a"), col("vec_id_b"))
      .agg(
        first(when(col("vec_id") === col("vec_id_a"), col("vn")),
          ignoreNulls = true).as("a"),
        first(when(col("vec_id") === col("vec_id_b"), col("vn")),
          ignoreNulls = true).as("b"))
    paired
      .withColumn("score",
        dot(col("a.v"), col("b.v")) / (col("a.norm") * col("b.norm")))
      .where(col("score") >= threshold)
      .select(col("vec_id_a"), col("vec_id_b"), round(col("score"), 6).as("score_r"))
  }

  /** IVF-style ANN: a coarse quantizer of nCells deterministic seed
    * centroids (the first nCells corpus vectors); every candidate is
    * assigned to its nearest centroid once (inverted lists), queries probe
    * only their nProbe nearest cells and re-rank exactly inside them. The
    * scan cost per query drops from O(corpus) to O(corpus * nProbe/nCells).
    * At web scale the seed step becomes a k-means job and lists become a
    * bucketed table; the probe/re-rank shape is identical. */
  private def seedCentroids(e: DataFrame, nQueries: Int, nCells: Int): DataFrame =
    e.where(col("vec_id") >= nQueries && col("vec_id") < nQueries + nCells)
      .select(col("vec_id").as("cell_id"), col("v").as("cv"), col("norm").as("cn"))

  /** Collected coarse-quantizer table: (cell ids, flat centroid vectors,
    * centroid norms), sorted by cell id. O(nCells x dim) doubles on the
    * driver — an index header, the same driver-size class as the PQ
    * codebook / SQ8 params sidecars and the same ceiling as the broadcast
    * the former join-based assignment shipped. */
  private final case class Cents(ids: Seq[Long], flat: Seq[Double], cns: Seq[Double])

  private def collectCentroids(centroids: DataFrame): Cents = {
    val rows = centroids.select(col("cell_id"), col("cv"), col("cn"))
      .orderBy("cell_id").collect()
    Cents(rows.map(_.getLong(0)).toSeq,
      rows.flatMap(_.getSeq[Double](1)).toSeq,
      rows.map(_.getDouble(2)).toSeq)
  }

  /** Nearest-centroid assignment: each point gets its n best cells, as a
    * ROW-LOCAL projection over the collected quantizer (the map-side
    * assignment shape production ANN builds use — broadcast quantizers,
    * assign in the scan). The former formulation
    * (crossJoin(broadcast(centroids)) + groupBy(id) + TopKAgg) SHUFFLED
    * the whole corpus — full-precision vectors included — once per
    * assignment, just to regroup scores that were already row-local after
    * the broadcast join; functions.NearestCells computes the identical
    * (score DESC, id ASC) top-n with the identical fold arithmetic and
    * zero Exchange. A window formulation would be worse still (corpus x
    * nCells rows to one reducer per point). */
  private def nearestCells(points: DataFrame, cents: Cents,
                           idCol: String, n: Int): DataFrame =
    // degenerate quantizer (no centroids — e.g. an empty/tiny corpus):
    // empty assignment, matching the old broadcast-join shape's output
    // instead of failing the NearestCells constructor at compose time
    if (cents.ids.isEmpty)
      points.select(col(idCol), col("v"), col("norm"),
        lit(0L).as("cell_id")).where(lit(false))
    else
      points.select(col(idCol), col("v"), col("norm"),
        explode(graft.functions.NearestCells(col("v"), col("norm"),
          cents.ids, cents.flat, cents.cns, n)).as("cell_id"))

  /** The QUERY side of every probe, collected driver-side: the query batch
    * is nQueries rows by contract (tiny and fixed — the same argument that
    * justifies the static partition filter), so its vectors are collected
    * ONCE, probe cells assigned with the same NearestCells.topN selection,
    * and the (q_vec_id, qv, qn, cell_id) rows returned as a LocalRelation
    * plus the distinct probed-cell list. The old shape planned the query
    * side as a Spark subtree that executed TWICE per probe — once for the
    * probed-cells collect and again inside the scoring join — re-scanning
    * the corpus table for 8 rows each time. norm stays Spark-computed
    * upstream (prepared), so every double is the bit-exact value the old
    * path used. */
  private def localQueryBatch(e: DataFrame, nQueries: Int, cents: Cents,
                              nProbe: Int): (DataFrame, Seq[Long]) = {
    val spark = e.sparkSession
    import spark.implicits._
    val ids = cents.ids.toArray
    val cv = cents.flat.toArray
    val cn = cents.cns.toArray
    val rows = e.where(col("vec_id") < nQueries)
      .select(col("vec_id"), col("v"), col("norm")).collect()
      .flatMap { r =>
        val v = r.getSeq[Double](1)
        graft.functions.NearestCells
          .topN(v.toArray, r.getDouble(2), ids, cv, cn, nProbe)
          .map(c => (r.getLong(0), v, r.getDouble(2), c))
      }.toSeq
    (rows.toDF("q_vec_id", "qv", "qn", "cell_id"),
      rows.map(_._4).distinct.sorted)
  }

  def ivfTopK(emb: DataFrame, nQueries: Int = 8, k: Int = 5,
              nCells: Int = 16, nProbe: Int = 4): DataFrame = {
    val e = prepared(emb)
    val cents = collectCentroids(seedCentroids(e, nQueries, nCells))
    val (q, _) = localQueryBatch(e, nQueries, cents, nProbe)
    val c = nearestCells(e.where(col("vec_id") >= nQueries), cents, "vec_id", 1)
    rerank(c, q, k)
  }

  /** Top-k tail shared by every ANN scorer: dedupe multi-probe/multi-table
    * hits by max score, then the mergeable top-k aggregate (no per-query
    * all-candidates window). Input: (q_vec_id, n_vec_id, score). */
  private def topKScored(scored: DataFrame, k: Int): DataFrame =
    scored
      .groupBy(col("q_vec_id"), col("n_vec_id"))
      .agg(max(col("score")).as("score")) // dedupe multi-probe hits
      .groupBy(col("q_vec_id"))
      .agg(graft.functions.TopKAgg.topK(k)(col("score"), col("n_vec_id")).as("top"))
      .select(col("q_vec_id"), posexplode(col("top")).as(Seq("pos", "t")))
      .select(col("q_vec_id"), (col("pos") + 1).cast("int").as("rank"),
        col("t.id").as("n_vec_id"), round(col("t.score"), 6).as("score_r"))

  /** Shared exact re-rank over full-precision candidate vectors. */
  private def rerank(cands: DataFrame, q: DataFrame, k: Int): DataFrame =
    topKScored(
      cands.join(broadcast(q), Seq("cell_id"))
        .select(col("q_vec_id"), col("vec_id").as("n_vec_id"),
          (dot(col("qv"), col("v")) / (col("qn") * col("norm"))).as("score")), k)

  /** Trained coarse quantizer: distributed Lloyd k-means (Spark MLlib —
    * its aggregation is the zero-row-blowup partial-agg shape a 10^12-doc
    * index build needs) over the candidate vectors, replacing the
    * deterministic seed centroids. Returns (cell_id, cv, cn) like
    * seedCentroids. Learned centroids are float-nondeterministic across
    * partition orders, so k-means-IVF queries are recall-tested rather
    * than oracle-hashed. */
  def kmeansCentroids(e: DataFrame, nQueries: Int, nCells: Int,
                      maxIter: Int = 5): DataFrame = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    val train = e.where(col("vec_id") >= nQueries)
      .withColumn("fv", array_to_vector(col("v")))
    val model = new KMeans().setK(nCells).setMaxIter(maxIter).setSeed(7L)
      .setFeaturesCol("fv").fit(train)
    val spark = e.sparkSession
    import spark.implicits._
    model.clusterCenters.zipWithIndex.toSeq
      .map { case (c, i) => (i.toLong, c.toArray.toSeq) }
      .toDF("cell_id", "cv")
      .select(col("cell_id"), col("cv").cast("array<double>").as("cv"))
      .withColumn("cn", sqrt(dot(col("cv"), col("cv"))))
  }

  /** IVF over the TRAINED quantizer — same probe/re-rank pipeline as
    * ivfTopK, better-balanced cells (the real index-build job at scale). */
  def ivfTopKKmeans(emb: DataFrame, nQueries: Int = 8, k: Int = 5,
                    nCells: Int = 16, nProbe: Int = 4): DataFrame = {
    val e = prepared(emb)
    val cents = collectCentroids(kmeansCentroids(e, nQueries, nCells))
    val (q, _) = localQueryBatch(e, nQueries, cents, nProbe)
    val c = nearestCells(e.where(col("vec_id") >= nQueries), cents, "vec_id", 1)
    rerank(c, q, k)
  }

  /** Phase 1 of the PERSISTED IVF index: assign every candidate vector to
    * its nearest seed centroid once and write the inverted lists as a table
    * partitioned by cell_id. At web scale this is the index-build job (seed
    * centroids become k-means ones); the table is built once and amortized
    * over every subsequent query batch instead of being rebuilt per run. */
  def ivfBuildIndex(emb: DataFrame, path: String,
                    nQueries: Int = 8, nCells: Int = 16): Unit = {
    val e = prepared(emb)
    val cents = collectCentroids(seedCentroids(e, nQueries, nCells))
    nearestCells(e.where(col("vec_id") >= nQueries), cents, "vec_id", 1)
      // co-locate each cell's rows before the partitioned write: without
      // this every write task emits a file per cell it happens to hold
      // (tasks x cells tiny files — at 1000 executors an index-wide small-
      // file explosion); with it, one file per cell partition
      .repartition(col("cell_id"))
      .write.mode("overwrite").partitionBy("cell_id").parquet(path)
  }

  /** Phase 2: probe a persisted index. The query batch is tiny, so its
    * nQueries x nProbe probe cells are collected and pushed as a STATIC
    * partition filter on the index read — only the probed cell partitions
    * are scanned (O(corpus x nProbe/nCells) I/O, the IVF contract; the
    * plan's PartitionFilters prove it, asserted in OpsSpec). */
  def ivfProbeIndex(spark: org.apache.spark.sql.SparkSession, path: String,
                    emb: DataFrame, nQueries: Int = 8, k: Int = 5,
                    nCells: Int = 16, nProbe: Int = 4): DataFrame = {
    val e = prepared(emb)
    val cents = collectCentroids(seedCentroids(e, nQueries, nCells))
    val (q, probedCells) = localQueryBatch(e, nQueries, cents, nProbe)
    val index = spark.read.parquet(path)
      .where(col("cell_id").isin(probedCells: _*))
      .select(col("cell_id"), col("vec_id"), col("v"), col("norm"))
    rerank(index, q, k)
  }

  /** Cluster-based semantic near-duplicate pairs (SemDeDup, Abbas et al.
    * 2023): embeddings are partitioned by a coarse quantizer and ONLY
    * within-cluster pairs are cosine-compared — the O(n^2/k) restriction
    * that makes embedding dedup tractable where LSH recall tuning is
    * unwanted. Candidate generation is a per-cell grouped pair expansion
    * (bounded membership buffer, never a self-join); the exact-cosine
    * verify joins the corpus back to candidate ids with the same
    * single-reference structure as cosineNearDupPairs.
    *
    * The quantizer here is the deterministic seed-centroid one (lowest
    * nCells vec_ids) so the whole pipeline is oracle-recomputable; swap in
    * [[kmeansCentroids]] at scale, with nCells sized so corpus/nCells stays
    * under the membership cap (the paper runs k ~ sqrt(n); a 10^12-doc
    * corpus at k = 10^7 keeps cells at ~10^5).
    *
    * HOT-CELL DEGRADATION: a skewed quantizer can put more than memberCap
    * members in one cell; instead of truncating pairs silently (or
    * aborting), over-cap cells fall back to random-hyperplane LSH
    * sub-buckets INSIDE the cell (same kernel as cosineNearDupPairs):
    * candidate recall on those cells becomes the standard
    * 1-(1-p^subBits)^subTables amplification instead of 1, and every
    * emitted pair is still exact-cosine verified. subBits is derived from
    * the LARGEST over-cap cell (lshParams' density rule: 2^subBits sized so
    * expected sub-bucket membership ~memberCap/2 — the collector cap then
    * never truncates), or pinned via the parameter. Cell sizes come from a
    * <=nCells-row census COLLECTED driver-side (driver-safe by the same
    * O(nCells) argument as the quantizer itself); cells route down exactly
    * one branch via literal id filters, and when no cell exceeds the cap
    * the degraded branch — and the census broadcast the old shape needed —
    * is dropped from the plan entirely.
    *
    * PERSIST CONTRACT: the narrow (vec_id, v, cell_id) assignment is a
    * row-local projection (nearestCells is map-side), so re-executing it
    * costs one corpus scan, not a shuffle. It is therefore persisted ONLY
    * when an over-cap branch will actually consume it twice; the common
    * (under-cap) case composes lazily with zero caches and zero eager
    * corpus jobs — the census (one map-side-combined O(nCells)-result
    * pass at COMPOSE time, same contract as cosineNearDupPairs' corpus
    * count) is the only action. When the persist IS installed it lives as
    * long as the returned DataFrame may be re-executed; a batch caller
    * that is done with the result releases it like any cached artifact
    * (at production scale the assignment is written via TableIO as the
    * index artifact instead). */
  def semanticDedupPairs(corpus: DataFrame, threshold: Double = 0.9,
                         nCells: Int = 16, memberCap: Int = 1000,
                         subBits: Int = -1, subTables: Int = 12): DataFrame = {
    val e = corpus.select(col("vec_id"), col("v"))
      .withColumn("norm", sqrt(dot(col("v"), col("v"))))
    val cents = collectCentroids(
      e.where(col("vec_id") < nCells)
        .select(col("vec_id").as("cell_id"), col("v").as("cv"),
          col("norm").as("cn")))
    // every vector (centroid seeds included) assigned to its 1 nearest cell
    val assignedRaw = nearestCells(e, cents, "vec_id", 1)
      .select(col("vec_id"), col("v"), col("cell_id"))
    // <=nCells-row census, collected: sizes route cells down branches and
    // size the sub-bucket tables. It runs on the UN-persisted assignment
    // (one map-side-combined pass over the row-local projection), so the
    // corpus-scale persist below is paid only when actually reused.
    val bigCells = assignedRaw.groupBy(col("cell_id")).agg(count(lit(1)).as("n"))
      .where(col("n") > memberCap)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val maxBig = if (bigCells.isEmpty) 0L else bigCells.map(_._2).max
    val assigned = if (maxBig == 0L) assignedRaw else assignedRaw.persist()
    def pairsOf(grouped: DataFrame): DataFrame = grouped
      .where(size(col("ids")) > 1)
      .select(col("cell_id"),
        explode_outer(graft.util.Exprs.sortedPairs(col("ids"))).as("p"))
      .where(col("p").isNotNull)
      .select(col("cell_id"), col("p.a").as("vec_id_a"), col("p.b").as("vec_id_b"))
    val bigIds = bigCells.map(_._1).toSeq
    // exhaustive branch: cells under the cap (the SemDeDup contract); the
    // over-cap exclusion is a literal id filter (no filter at all in the
    // common all-under-cap case — the plan is then census-join-free).
    // Collect ONE past the cap + loud assert (the degraded branch's
    // convention): a cell that grew past the cap between the census and
    // execution (a mutated input directory — outside the immutable-
    // snapshot contract) fails loudly instead of silently truncating its
    // membership.
    val smallPairs = pairsOf(
      (if (bigIds.isEmpty) assigned
       else assigned.where(!col("cell_id").isin(bigIds: _*)))
        .groupBy(col("cell_id"))
        .agg(graft.functions.BoundedCollect.longs(memberCap + 1)(col("vec_id"))
          .as("ids"))
        .where(coalesce(
          assert_true(size(col("ids")) <= memberCap,
            lit(s"semanticDedupPairs: a census-small cell exceeded the " +
              s"$memberCap-member cap at execution time — the input " +
              "changed between compose and action; re-compose over the " +
              "current snapshot")),
          lit(true))))
    // degraded branch: over-cap cells sub-bucketed by multi-table LSH;
    // multi-table hits deduped before the verify
    val candidates = if (maxBig == 0L) smallPairs else {
      val bits =
        if (subBits > 0) subBits
        else math.max(1, math.min(30,
          math.ceil(math.log(maxBig * 2.0 / memberCap) / math.log(2)).toInt))
      val bigPairs = pairsOf(
        assigned
          .where(col("cell_id").isin(bigIds: _*))
          .select(col("cell_id"), col("vec_id"),
            posexplode_outer(
              graft.functions.LshBuckets(col("v"), bits, subTables))
              .as(Seq("table", "bucket")))
          .where(col("bucket").isNotNull)
          // collect ONE past the cap so "exceeded" is distinguishable from
          // "exactly at cap" — a bucket holding exactly memberCap members
          // still yields its exact pairs
          .groupBy(col("cell_id"), col("table"), col("bucket"))
          .agg(graft.functions.BoundedCollect.longs(memberCap + 1)(col("vec_id"))
            .as("ids"))
          // LOUD on an OVER-CAP sub-bucket, preserving the pre-degradation
          // invariant (pairs are never lost silently): the density-derived
          // bits keep EXPECTED sub-bucket membership under the cap, but a
          // cluster of (near-)identical vectors shares one signature in
          // every table and lands whole in one sub-bucket regardless of
          // bits — exactly the input where truncating the collector would
          // silently drop pairs. Such a cluster belongs to EXACT dedup
          // (identical vectors are exact dups); fail with instructions.
          // assert_true lives in a Filter via coalesce so pruning cannot
          // drop it.
          .where(coalesce(
            assert_true(size(col("ids")) <= memberCap,
              lit(s"semanticDedupPairs: an LSH sub-bucket exceeded the " +
                s"$memberCap-member buffer — an identical-signature " +
                "cluster larger than memberCap; run exact dedup first " +
                "or raise memberCap")),
            lit(true)))).distinct()
      smallPairs.unionAll(bigPairs)
    }
    // single assignment per vector -> a pair occurs in at most one cell and
    // exactly one branch (a cell is small xor big; bigPairs deduped), so no
    // cross-branch distinct() is needed before the verify
    val m = candidates.select(
      col("cell_id"), col("vec_id_a"), col("vec_id_b"),
      explode(array(col("vec_id_a"), col("vec_id_b"))).as("vec_id"))
    val matched = corpus.select(col("vec_id"), col("v")).join(m, "vec_id")
      .select(col("cell_id"), col("vec_id_a"), col("vec_id_b"), col("vec_id"),
        struct(col("v"), sqrt(dot(col("v"), col("v"))).as("norm")).as("vn"))
    matched
      .groupBy(col("cell_id"), col("vec_id_a"), col("vec_id_b"))
      .agg(
        first(when(col("vec_id") === col("vec_id_a"), col("vn")),
          ignoreNulls = true).as("a"),
        first(when(col("vec_id") === col("vec_id_b"), col("vn")),
          ignoreNulls = true).as("b"))
      .withColumn("score",
        dot(col("a.v"), col("b.v")) / (col("a.norm") * col("b.norm")))
      .where(col("score") >= threshold)
      .select(col("cell_id"), col("vec_id_a"), col("vec_id_b"),
        round(col("score"), 6).as("score_r"))
  }

  /** Scalar-quantized (SQ8) similarity search — the memory-compressed index
    * path: per-dimension (min, max) trained in ONE corpus pass (result is
    * O(dim), driver-safe at any corpus size), candidates encoded to 8-bit
    * codes (8x memory/IO reduction for a 10^12-vector index at rest;
    * persisted as the index in production — encoded inline here), queries
    * kept full-precision and scored with ASYMMETRIC distance against the
    * dequantized codes; exact top-k via the mergeable heap aggregate.
    * Fully deterministic (exact min/max, half-up rounding, sequential-fold
    * dot) → exact DuckDB oracle. */
  /** SQ8 training pass: per-dimension (min, scale) over the candidate set
    * (posexplode -> 1 agg with map-side combine; output is dim rows
    * regardless of corpus size, driver-safe), as raw Seqs so callers can
    * both lift them to typedLit columns and write the sidecar from driver
    * values without another Spark job. */
  private def sq8Params(cands: DataFrame): (Seq[Double], Seq[Double]) = {
    val stats = cands.select(posexplode(col("v")).as(Seq("i", "x")))
      .groupBy("i").agg(min("x").as("mn"), max("x").as("mx"))
      .orderBy("i").collect()
    (stats.map(_.getDouble(1)).toSeq,
      stats.map(r => (r.getDouble(2) - r.getDouble(1)) / 255.0).toSeq)
  }

  /** Encode `v` to 8-bit codes 0..255 (constant dims -> 0). */
  private def sq8Encode(mns: Column, scales: Column): Column =
    transform(col("v"), (x, i) =>
      when(element_at(scales, i + 1) === 0.0, lit(0))
        .otherwise(least(lit(255), greatest(lit(0),
          round((x - element_at(mns, i + 1)) / element_at(scales, i + 1))
            .cast("int")))))

  /** Dequantize a code column `c` for asymmetric scoring. */
  private def sq8Dequant(mns: Column, scales: Column): Column =
    transform(col("c"), (cj, i) =>
      element_at(mns, i + 1) + cj.cast("double") * element_at(scales, i + 1))

  def sq8TopK(emb: DataFrame, nQueries: Int = 8, k: Int = 5): DataFrame = {
    val base = emb.select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val cands = base.where(col("vec_id") >= nQueries)
    val (mnsSeq, scalesSeq) = sq8Params(cands)
    val (mns, scales) = (typedLit(mnsSeq), typedLit(scalesSeq))
    // encode, then dequantize for the asymmetric scoring pass
    val codes = sq8Encode(mns, scales)
    val deq = sq8Dequant(mns, scales)
    val cd = cands.select(col("vec_id"), codes.as("c"))
      .select(col("vec_id"), deq.as("v"))
      .withColumn("norm", sqrt(dot(col("v"), col("v"))))
    val q = base.where(col("vec_id") < nQueries)
      .select(col("vec_id").as("q_vec_id"), col("v").as("qv"),
        sqrt(dot(col("v"), col("v"))).as("qn"))
    cd.crossJoin(broadcast(q))
      .select(col("q_vec_id"), col("vec_id"),
        (dot(col("qv"), col("v")) / (col("qn") * col("norm"))).as("score"))
      .groupBy(col("q_vec_id"))
      .agg(graft.functions.TopKAgg.topK(k)(col("score"), col("vec_id")).as("top"))
      .select(col("q_vec_id"), posexplode(col("top")).as(Seq("pos", "t")))
      .select(col("q_vec_id"), (col("pos") + 1).cast("int").as("rank"),
        col("t.id").as("n_vec_id"), round(col("t.score"), 6).as("score_r"))
  }

  /** The PRODUCTION ANN index shape: IVF cells OF SQ8 codes — the two
    * existing paths composed. Build: assign every candidate to its nearest
    * coarse cell (full precision), SQ8-encode it, and persist the inverted
    * lists cell-partitioned with the O(dim) quantization parameters as a
    * sidecar metadata table; a 10^12-vector index stores 8x fewer bytes per
    * vector at rest AND prunes to nProbe/nCells of them per query batch.
    * Probe: queries stay full precision, pick nProbe cells against the
    * full-precision centroids, read ONLY those cell partitions (static
    * partition pruning, like ivfProbeIndex), dequantize the codes and score
    * asymmetrically. Deterministic end-to-end (exact min/max, half-up
    * rounding on non-negative values, sequential-fold dots) → exact DuckDB
    * oracle; recall vs the full-precision IVF is spec-asserted. */
  def ivfSq8BuildIndex(emb: DataFrame, path: String,
                       nQueries: Int = 8, nCells: Int = 16): Unit = {
    val e = prepared(emb)
    val cents = collectCentroids(seedCentroids(e, nQueries, nCells))
    val cands = e.where(col("vec_id") >= nQueries)
    val (mnsSeq, scalesSeq) = sq8Params(cands.select(col("vec_id"), col("v")))
    val (mns, scales) = (typedLit(mnsSeq), typedLit(scalesSeq))
    val assigned = nearestCells(cands, cents, "vec_id", 1)
    assigned
      .select(col("vec_id"), sq8Encode(mns, scales).as("code"), col("cell_id"))
      // one file per cell partition (see ivfBuildIndex)
      .repartition(col("cell_id"))
      .write.mode("overwrite").partitionBy("cell_id").parquet(path)
    // sidecar quantization metadata (dim rows — the index header), written
    // from the already-collected driver values: no extra Spark job
    val spark = emb.sparkSession
    import spark.implicits._
    graft.engine.TableIO.write(
      mnsSeq.zip(scalesSeq).zipWithIndex
        .map { case ((mn, sc), i) => (i.toLong, mn, sc) }
        .toDF("i", "mn", "scale"),
      s"${path}_meta")
  }

  def ivfSq8ProbeIndex(spark: org.apache.spark.sql.SparkSession, path: String,
                       emb: DataFrame, nQueries: Int = 8, k: Int = 5,
                       nCells: Int = 16, nProbe: Int = 4): DataFrame = {
    val e = prepared(emb)
    val cents = collectCentroids(seedCentroids(e, nQueries, nCells))
    val (q, probedCells) = localQueryBatch(e, nQueries, cents, nProbe)
    // O(dim) header read — never a corpus pass
    val meta = graft.engine.TableIO.read(spark, s"${path}_meta")
      .orderBy("i").collect()
    val mns = typedLit(meta.map(_.getDouble(1)).toSeq)
    val scales = typedLit(meta.map(_.getDouble(2)).toSeq)
    val index = spark.read.parquet(path)
      .where(col("cell_id").isin(probedCells: _*))
      .select(col("cell_id"), col("vec_id"), col("code").as("c"))
      .select(col("cell_id"), col("vec_id"), sq8Dequant(mns, scales).as("v"))
      .withColumn("norm", sqrt(dot(col("v"), col("v"))))
    rerank(index, q, k)
  }

  // ---- IVF-PQ: product-quantized inverted lists ---------------------------

  /** Deterministic PQ codebooks: for each of the `m` subspaces, the `ksub`
    * codebook entries are the corresponding sub-vectors of the first ksub
    * candidate vectors (vec_id in [nQueries, nQueries+ksub) — same seeding
    * convention as seedCentroids; in production each subspace runs its own
    * k-means, exactly as the coarse quantizer swaps seedCentroids for
    * kmeansCentroids). Collected driver-side: O(ksub x dim) doubles — an
    * index header, independent of corpus size. Returned flat with layout
    * cb[(j*ksub + c)*dsub + i] = component i of entry c in subspace j. */
  private def pqCodebookFlat(e: DataFrame, nQueries: Int,
                             m: Int, ksub: Int): Seq[Double] = {
    val seedVecs = e
      .where(col("vec_id") >= nQueries && col("vec_id") < nQueries + ksub)
      .orderBy("vec_id").select("v")
      .collect().map(_.getSeq[Double](0))
    require(seedVecs.length == ksub,
      s"pq codebook needs $ksub seed vectors, found ${seedVecs.length}")
    val dim = seedVecs.head.size
    require(dim % m == 0, s"dim $dim not divisible by m=$m subspaces")
    val dsub = dim / m
    for (j <- 0 until m; c <- 0 until ksub; i <- 0 until dsub)
      yield seedVecs(c)(j * dsub + i)
  }

  /** Reconstruct the quantized vector from its codes (codebook slices in
    * subspace order) — used once at build time for the stored norm. */
  private def pqRecon(codes: Column, cb: Column,
                      m: Int, ksub: Int, dsub: Int): Column =
    flatten(transform(sequence(lit(0), lit(m - 1)), j =>
      slice(cb, (j * ksub + element_at(codes, j + 1)) * dsub + 1, lit(dsub))))

  /** IVF-PQ index build — the index shape actually deployed at 10^12
    * vectors (Jegou et al., "Product Quantization for Nearest Neighbor
    * Search", TPAMI 2011): coarse IVF cells of PQ codes. Each candidate
    * stores m small codes (m bytes at ksub<=256: dim/m x compression over
    * SQ8's dim bytes — 64 dims at m=8 is 8x smaller than SQ8, 32x smaller
    * than float32) plus its reconstruction norm; the codebooks are an
    * O(ksub x dim) sidecar header. Deterministic end-to-end (seed
    * codebooks, sequential-fold distances, smallest-id tie-breaks) → exact
    * DuckDB oracle; recall vs full-precision IVF is spec-asserted (m=8
    * doubles it over m=4 on the sandbox corpus at the same byte budget —
    * finer subspaces beat more entries for untrained seed codebooks). */
  def ivfPqBuildIndex(emb: DataFrame, path: String,
                      nQueries: Int = 8, nCells: Int = 16,
                      m: Int = 8, ksub: Int = 16): Unit = {
    val e = prepared(emb)
    val cents = collectCentroids(seedCentroids(e, nQueries, nCells))
    // checked before the data write: the header divides by the cell count
    require(cents.ids.nonEmpty,
      s"ivfPqBuildIndex: empty coarse quantizer (nCells=$nCells, no seed vectors)")
    val cands = e.where(col("vec_id") >= nQueries)
    val cbFlat = pqCodebookFlat(e, nQueries, m, ksub)
    val dsub = cbFlat.size / (m * ksub)
    val cb = typedLit(cbFlat)
    val assigned = nearestCells(cands, cents, "vec_id", 1)
    assigned
      .select(col("vec_id"), col("cell_id"),
        graft.functions.PqEncode(col("v"), cbFlat, m, ksub).as("codes"))
      // `recon` is materialized as its own attribute so the norm's two
      // references cost ONE evaluation of the interpreted reconstruction
      // HOF per row (CollapseProject keeps non-cheap multi-referenced
      // aliases — the ngramJaccardPairs convention), not two
      .withColumn("recon", pqRecon(col("codes"), cb, m, ksub, dsub))
      .withColumn("rn", sqrt(dot(col("recon"), col("recon"))))
      .drop("recon")
      // one file per cell partition (see ivfBuildIndex)
      .repartition(col("cell_id"))
      .write.mode("overwrite").partitionBy("cell_id").parquet(path)
    writePqHeader(emb.sparkSession, path, m, ksub, cbFlat, cents)
  }

  /** ONE self-contained sidecar header per PQ index: the quantizer shape
    * (m, ksub), the flat codebook, and the coarse centroids — everything a
    * probe or append needs, so neither ever touches the corpus the index
    * was trained on. Written from the already-collected driver values (the
    * O(ksub x dim + nCells x dim) header — no corpus job), in one table
    * instead of the former two (_codebook + _centroids), halving the
    * sidecar write/read round-trips. Persisting (m, ksub) closes the
    * factorization-swap hole: an append or probe whose caller passes a
    * different (m, ksub) of the same product would silently decode against
    * a transposed codebook layout — now it fails the shape check. */
  private def writePqHeader(spark: org.apache.spark.sql.SparkSession,
                            path: String, m: Int, ksub: Int,
                            cbFlat: Seq[Double], cents: Cents): Unit = {
    import spark.implicits._
    val dim = cents.flat.size / cents.ids.size
    val rows =
      Seq(("shape", 0L, Seq(m.toDouble, ksub.toDouble), 0.0),
        ("codebook", 0L, cbFlat, 0.0)) ++
        cents.ids.indices.map(i => ("centroid", cents.ids(i),
          cents.flat.slice(i * dim, (i + 1) * dim), cents.cns(i)))
    graft.engine.TableIO.write(
      rows.toDF("kind", "id", "vec", "x"), s"${path}_header")
  }

  private final case class PqHeader(cbFlat: Seq[Double], cents: Cents)

  /** Read a PQ index header back, failing fast when the caller's (m, ksub)
    * disagrees with the stored shape (see [[writePqHeader]]). */
  private def readPqHeader(spark: org.apache.spark.sql.SparkSession,
                           path: String, m: Int, ksub: Int): PqHeader = {
    val rows = graft.engine.TableIO.read(spark, s"${path}_header").collect()
    def of(kind: String) = rows.filter(_.getString(0) == kind)
    val shape = of("shape").headOption.getOrElse(
      throw new IllegalStateException(s"no shape row in ${path}_header"))
      .getSeq[Double](2)
    require(shape == Seq(m.toDouble, ksub.toDouble),
      s"index at $path was built with (m, ksub)=(${shape.map(_.toInt).mkString(", ")}), " +
        s"caller passed ($m, $ksub) — stored codes would decode against the wrong layout")
    val cbFlat = of("codebook").head.getSeq[Double](2)
    val cRows = of("centroid").sortBy(_.getLong(1))
    PqHeader(cbFlat, Cents(cRows.map(_.getLong(1)).toSeq,
      cRows.flatMap(_.getSeq[Double](2)).toSeq,
      cRows.map(_.getDouble(3)).toSeq))
  }

  /** Incremental IVF-PQ ingest — the nightly-batch companion of
    * minhashAppendToIndex: NEW vectors are assigned and encoded against
    * the index's OWN stored quantizers (centroid + codebook sidecars; the
    * original corpus is never re-read, and quantizers must not drift
    * between batches or stored codes would decode against the wrong
    * codebook), then appended cell-partitioned. Append-only is correct:
    * (vec_id, codes, rn) rows are per-vector facts. Per-batch cost is
    * O(batch x nCells + batch x dim x ksub) — independent of index size. */
  def ivfPqAppendIndex(spark: org.apache.spark.sql.SparkSession, path: String,
                       newVecs: DataFrame, m: Int = 8, ksub: Int = 16): Unit = {
    // the header's stored (m, ksub) must agree with the caller's — a
    // disagreeing shape fails HERE, never appends mis-encoded rows
    val hdr = readPqHeader(spark, path, m, ksub)
    val dsub = hdr.cbFlat.size / (m * ksub)
    val cb = typedLit(hdr.cbFlat)
    val e = prepared(newVecs)
    nearestCells(e, hdr.cents, "vec_id", 1)
      .select(col("vec_id"), col("cell_id"),
        graft.functions.PqEncode(col("v"), hdr.cbFlat, m, ksub).as("codes"))
      // recon materialized once — see ivfPqBuildIndex
      .withColumn("recon", pqRecon(col("codes"), cb, m, ksub, dsub))
      .withColumn("rn", sqrt(dot(col("recon"), col("recon"))))
      .drop("recon")
      .repartition(col("cell_id"))
      .write.mode("append").partitionBy("cell_id").parquet(path)
  }

  /** IVF-PQ probe with ADC (asymmetric distance computation): each query
    * precomputes its m x ksub lookup table of subspace partial dots ONCE
    * (O(dim x ksub) per query, amortized over every candidate), then a
    * candidate scores in O(m) table lookups — never a per-pair O(dim) dot.
    * dot(q, recon(codes)) == sum_j lut[j][codes_j] exactly (same additions
    * in the same order), so ADC is the algebraic identity of
    * reconstruct-then-dot, not an approximation on top of PQ. Cell pruning
    * is static partition pruning, as in ivfProbeIndex. */
  def ivfPqProbeIndex(spark: org.apache.spark.sql.SparkSession, path: String,
                      emb: DataFrame, nQueries: Int = 8, k: Int = 5,
                      nCells: Int = 16, nProbe: Int = 4,
                      m: Int = 8, ksub: Int = 16): DataFrame = {
    val e = prepared(emb)
    // quantizers come from the index's own sidecar header (bit-exact
    // round-trip of the build-time values, O(ksub x dim + nCells x dim) —
    // never a corpus pass), so the probe touches the corpus table only for
    // the nQueries query vectors; a disagreeing (m, ksub) fails fast
    val hdr = readPqHeader(spark, path, m, ksub)
    val cents = hdr.cents
    val cbFlat = hdr.cbFlat
    val dsub = cbFlat.size / (m * ksub)
    val cb = typedLit(cbFlat)
    // lut[j*ksub + c] = <q's subspace-j slice, codebook entry (j, c)>
    val qlut = flatten(transform(sequence(lit(0), lit(m - 1)), j =>
      transform(sequence(lit(0), lit(ksub - 1)), c =>
        aggregate(sequence(lit(0), lit(dsub - 1)), lit(0.0), (s, i) =>
          s + element_at(col("qv"), j * dsub + i + 1) *
            element_at(cb, (j * ksub + c) * dsub + i + 1)))))
    val (qRaw, probedCells) = localQueryBatch(e, nQueries, cents, nProbe)
    val q = qRaw
      .withColumn("qlut", qlut)
      .drop("qv") // the broadcast ships luts, not raw query vectors
    val index = spark.read.parquet(path)
      .where(col("cell_id").isin(probedCells: _*))
      .select(col("cell_id"), col("vec_id"), col("codes"), col("rn"))
    topKScored(
      index.join(broadcast(q), Seq("cell_id"))
        .select(col("q_vec_id"), col("vec_id").as("n_vec_id"),
          (aggregate(sequence(lit(0), lit(m - 1)), lit(0.0), (s, j) =>
            s + element_at(col("qlut"),
              j * ksub + element_at(col("codes"), j + 1) + 1)) /
            (col("qn") * col("rn"))).as("score")), k)
  }

  /** Two-stage refined probe — the standard production ANN serving shape
    * (FAISS's refine stage): the PQ index supplies a cheap ADC-scored
    * shortlist of rerankR candidates per query (quantized I/O: m codes +
    * a norm per vector), then ONLY those nQueries x rerankR rows fetch
    * their full-precision vectors from the corpus for an exact cosine
    * re-rank to top-k. Recall approaches the full-precision IVF's at PQ
    * index cost, with rerankR the recall/IO dial (sandbox sweep vs the
    * full-precision IVF top-5: 0.425 @ R=20, 0.825 @ R=50, 1.0 @ R=100 —
    * cross-checked against an independent numpy recomputation). The
    * refinement join streams the corpus scan past the broadcast
    * nQueries x rerankR shortlist once (output is candidate-sized; the
    * scan itself is column-pruned but full — at production scale store
    * the vectors bucketed on vec_id so the fetch prunes to the
    * shortlist's buckets instead). Deterministic end-to-end → exact
    * oracle. */
  def ivfPqProbeRefined(spark: org.apache.spark.sql.SparkSession, path: String,
                        emb: DataFrame, nQueries: Int = 8, k: Int = 5,
                        rerankR: Int = 50, nCells: Int = 16, nProbe: Int = 4,
                        m: Int = 8, ksub: Int = 16): DataFrame = {
    val shortlist = ivfPqProbeIndex(spark, path, emb,
      nQueries, rerankR, nCells, nProbe, m, ksub)
      .select(col("q_vec_id"), col("n_vec_id"))
    val e = prepared(emb)
    val q = e.where(col("vec_id") < nQueries)
      .select(col("vec_id").as("q_vec_id"), col("v").as("qv"),
        col("norm").as("qn"))
    val fetched = e
      .select(col("vec_id").as("n_vec_id"), col("v"), col("norm"))
      .join(shortlist, Seq("n_vec_id"))
    topKScored(
      fetched.join(broadcast(q), Seq("q_vec_id"))
        .select(col("q_vec_id"), col("n_vec_id"),
          (dot(col("qv"), col("v")) / (col("qn") * col("norm"))).as("score")), k)
  }

  /** Approximate NN via multi-table random-hyperplane LSH: a candidate is
    * considered for a query if they share the full nBits signature in ANY
    * of the nTables independent tables (standard recall amplification:
    * P(hit) = 1-(1-p^nBits)^nTables). Candidate generation is an equi-join
    * keyed on (table, bucket) — linear scans, never O(n^2); exact cosine
    * re-rank inside the candidate set. Recall vs cosineTopK is asserted in
    * OpsSpec. */
  def annLshTopK(emb: DataFrame, nQueries: Int = 8, k: Int = 5,
                 nBits: Int = 6, nTables: Int = 8): DataFrame = {
    val buckets = graft.functions.LshBuckets(col("v"), nBits, nTables)
    val e = prepared(emb)
      .select(col("vec_id"), col("v"), col("norm"),
        posexplode_outer(buckets).as(Seq("table", "bucket")))
      .where(col("bucket").isNotNull)
    val q = e.where(col("vec_id") < nQueries)
      .select(col("vec_id").as("q_vec_id"), col("v").as("qv"),
        col("norm").as("qn"), col("table"), col("bucket"))
    val c = e.where(col("vec_id") >= nQueries)
    c.join(broadcast(q), Seq("table", "bucket"))
      .select(col("q_vec_id"), col("vec_id").as("n_vec_id"),
        (dot(col("qv"), col("v")) / (col("qn") * col("norm"))).as("score"))
      .groupBy(col("q_vec_id"), col("n_vec_id"))
      .agg(max(col("score")).as("score")) // dedupe multi-table hits
      .groupBy(col("q_vec_id"))
      .agg(graft.functions.TopKAgg.topK(k)(col("score"), col("n_vec_id")).as("top"))
      .select(col("q_vec_id"), posexplode(col("top")).as(Seq("pos", "t")))
      .select(col("q_vec_id"), (col("pos") + 1).cast("int").as("rank"),
        col("t.id").as("n_vec_id"), round(col("t.score"), 6).as("score_r"))
  }
}
