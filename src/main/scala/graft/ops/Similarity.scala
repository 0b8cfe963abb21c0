package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Similarity search over an embedding column (array<float>).
  *
  * Brute-force cosine top-k is the correctness baseline (broadcast the
  * query set, scan candidates once — scales linearly in corpus size and is
  * embarrassingly parallel); random-hyperplane LSH bucketing and the IVF
  * index are the scale paths. Every IVF variant — one-shot, persisted,
  * appended, refined — runs ONE skeleton (coarse quantizer, cell-partitioned
  * inverted lists, self-describing `_header`, probed-cell pruning, shared
  * top-k tail); a [[Codec]] (flat, SQ8, PQ) supplies only what it stores
  * per vector and how a probe scores it.
  */
object Similarity {

  /** Sequential left-fold dot product (deterministic summation order) —
    * compiled kernel; bit-identical to the declarative HOF fold OpsSpec
    * tests it against, which costs ~2 x dim interpreted lambda calls + 2
    * array allocations per evaluation. */
  def dot(a: Column, b: Column): Column = graft.functions.DotProduct(a, b)

  /** Cosine of a query row (qv, qn) against a candidate row (v, norm). */
  private def cosine: Column = dot(col("qv"), col("v")) / (col("qn") * col("norm"))

  private def prepared(emb: DataFrame): DataFrame =
    emb.select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .withColumn("norm", sqrt(dot(col("v"), col("v"))))

  /** The query set: vec_id < nQueries, as (q_vec_id, qv, qn). */
  private def queryRows(e: DataFrame, nQueries: Int): DataFrame =
    e.where(col("vec_id") < nQueries)
      .select(col("vec_id").as("q_vec_id"), col("v").as("qv"), col("norm").as("qn"))

  /** Top-k tail shared by every scorer: the mergeable heap aggregate
    * (functions.TopKAgg), NOT `row_number().over(partitionBy(query))` —
    * the window would ship every scored candidate row to one reducer per
    * query (the whole corpus onto nQueries tasks at 10^12 candidates),
    * while the aggregate combines map-side and shuffles at most k rows per
    * (partition, query). Same (score DESC, id ASC) order as the window.
    * Input: (q_vec_id, n_vec_id, score), one row per pair. */
  private def rankTopK(scored: DataFrame, k: Int): DataFrame =
    scored
      .groupBy(col("q_vec_id"))
      .agg(graft.functions.TopKAgg.topK(k)(col("score"), col("n_vec_id")).as("top"))
      .select(col("q_vec_id"), posexplode(col("top")).as(Seq("pos", "t")))
      .select(col("q_vec_id"), (col("pos") + 1).cast("int").as("rank"),
        col("t.id").as("n_vec_id"), round(col("t.score"), 6).as("score_r"))

  /** [[rankTopK]] over multi-hit input: multi-probe / multi-table hits of
    * one pair are deduped by max score first. */
  private def topKScored(scored: DataFrame, k: Int): DataFrame =
    rankTopK(scored.groupBy(col("q_vec_id"), col("n_vec_id"))
      .agg(max(col("score")).as("score")), k)

  /** Exhaustive top-k: every candidate scored against the broadcast query
    * set, deterministic tie-break on vec_id. */
  private def bruteTopK(e: DataFrame, cands: DataFrame, nQueries: Int, k: Int): DataFrame =
    rankTopK(cands.crossJoin(broadcast(queryRows(e, nQueries)))
      .select(col("q_vec_id"), col("vec_id").as("n_vec_id"), cosine.as("score")), k)

  /** Exact cosine top-k: query set = vec_id < nQueries (broadcast),
    * candidates = the rest. */
  def cosineTopK(emb: DataFrame, nQueries: Int = 8, k: Int = 5): DataFrame = {
    val e = prepared(emb)
    bruteTopK(e, e.where(col("vec_id") >= nQueries), nQueries, k)
  }

  /** Scalar-quantized (SQ8) brute-force search: the candidates go through
    * the [[Sq8]] codec (trained, encoded to 8-bit codes, dequantized) and
    * are scored ASYMMETRICALLY against full-precision queries. Fully
    * deterministic (exact min/max, half-up rounding, sequential-fold dot)
    * → exact DuckDB oracle. */
  def sq8TopK(emb: DataFrame, nQueries: Int = 8, k: Int = 5): DataFrame = {
    val e = prepared(emb)
    val p = Sq8.train(e, nQueries)
    bruteTopK(e, Sq8.decode(p, Sq8.encode(p, e.where(col("vec_id") >= nQueries))),
      nQueries, k)
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

  /** Exact-cosine verify of candidate pairs (vec_id_a, vec_id_b, plus the
    * carried `keys`) against the corpus (vec_id, v), keeping score >=
    * threshold. Same structure rules as Dedup.minhashLshPairs:
    * `candidates` referenced exactly ONCE (every extra reference re-runs
    * the whole candidate pipeline — shared subplans are not materialized),
    * the corpus never broadcast-hinted, and the norm dot-product computed
    * ABOVE the join so it runs on matched (candidate-sized) rows only.
    * A vector in P pairs recomputes its norm P times — a <=2x constant on
    * the unavoidable per-pair dot product (both O(dim)), accepted to keep
    * candidates single-reference without a pinned cache. */
  private def verifyPairs(corpus: DataFrame, candidates: DataFrame,
                          keys: Seq[String], threshold: Double): DataFrame = {
    val ids = (keys ++ Seq("vec_id_a", "vec_id_b")).map(col)
    val m = candidates.select(
      ids :+ explode(array(col("vec_id_a"), col("vec_id_b"))).as("vec_id"): _*)
    corpus.join(m, "vec_id")
      .select(ids ++ Seq(col("vec_id"),
        struct(col("v"), sqrt(dot(col("v"), col("v"))).as("norm")).as("vn")): _*)
      .groupBy(ids: _*)
      .agg(
        first(when(col("vec_id") === col("vec_id_a"), col("vn")),
          ignoreNulls = true).as("a"),
        first(when(col("vec_id") === col("vec_id_b"), col("vn")),
          ignoreNulls = true).as("b"))
      .withColumn("score",
        dot(col("a.v"), col("b.v")) / (col("a.norm") * col("b.norm")))
      .where(col("score") >= threshold)
      .select(ids :+ round(col("score"), 6).as("score_r"): _*)
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
    verifyPairs(emb, candidates, Nil, threshold)
  }

  // ---- IVF: coarse quantizer + inverted lists -----------------------------

  /** A coarse quantizer: (prepared corpus, nQueries, nCells) -> centroid
    * rows (cell_id, cv, cn). */
  type Quantizer = (DataFrame, Int, Int) => DataFrame

  /** Deterministic seed centroids: the nCells vectors after the query set
    * (vec_id in [nQueries, nQueries + nCells)). Oracle-recomputable. */
  private def seedCentroids(e: DataFrame, nQueries: Int, nCells: Int): DataFrame =
    e.where(col("vec_id") >= nQueries && col("vec_id") < nQueries + nCells)
      .select(col("vec_id").as("cell_id"), col("v").as("cv"), col("norm").as("cn"))

  /** Trained coarse quantizer: distributed Lloyd k-means (Spark MLlib, 5
    * iterations — its aggregation is the zero-row-blowup partial-agg shape
    * a 10^12-doc index build needs) over the candidate vectors. Learned
    * centroids are float-nondeterministic across partition orders, so
    * k-means-IVF queries are recall-tested rather than oracle-hashed. */
  def kmeansCentroids(e: DataFrame, nQueries: Int, nCells: Int): DataFrame = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    val train = e.where(col("vec_id") >= nQueries)
      .withColumn("fv", array_to_vector(col("v")))
    val model = new KMeans().setK(nCells).setMaxIter(5).setSeed(7L)
      .setFeaturesCol("fv").fit(train)
    val spark = e.sparkSession
    import spark.implicits._
    model.clusterCenters.zipWithIndex.toSeq
      .map { case (c, i) => (i.toLong, c.toArray.toSeq) }
      .toDF("cell_id", "cv")
      .select(col("cell_id"), col("cv").cast("array<double>").as("cv"))
      .withColumn("cn", sqrt(dot(col("cv"), col("cv"))))
  }

  /** Collected coarse-quantizer table: (cell ids, flat centroid vectors,
    * centroid norms), sorted by cell id. O(nCells x dim) doubles on the
    * driver — an index header, the same driver-size class as the codec
    * parameters and the same ceiling as a broadcast centroid join. */
  private final case class Cents(ids: Seq[Long], flat: Seq[Double], cns: Seq[Double])

  private def collectCentroids(centroids: DataFrame): Cents = {
    val rows = centroids.select(col("cell_id"), col("cv"), col("cn"))
      .orderBy("cell_id").collect()
    Cents(rows.map(_.getLong(0)).toSeq,
      rows.flatMap(_.getSeq[Double](1)).toSeq,
      rows.map(_.getDouble(2)).toSeq)
  }

  /** Nearest-centroid assignment of (vec_id, v, norm) points, as a
    * ROW-LOCAL projection over the collected quantizer (the map-side
    * assignment shape production ANN builds use — broadcast quantizers,
    * assign in the scan). A crossJoin(broadcast(centroids)) + groupBy(id)
    * + TopKAgg formulation would SHUFFLE the whole corpus — full-precision
    * vectors included — once per assignment, just to regroup scores that
    * are already row-local after the broadcast join;
    * functions.NearestCells computes the identical
    * (score DESC, id ASC) best cell with the identical fold arithmetic and
    * zero Exchange. */
  private def nearestCells(points: DataFrame, cents: Cents): DataFrame =
    // degenerate quantizer (no centroids — e.g. an empty/tiny corpus):
    // empty assignment instead of failing the NearestCells constructor at
    // compose time
    if (cents.ids.isEmpty)
      points.select(col("vec_id"), col("v"), col("norm"),
        lit(0L).as("cell_id")).where(lit(false))
    else
      points.select(col("vec_id"), col("v"), col("norm"),
        explode(graft.functions.NearestCells(col("v"), col("norm"),
          cents.ids, cents.flat, cents.cns, 1)).as("cell_id"))

  /** The QUERY side of every probe, collected driver-side: the query batch
    * is nQueries rows by contract (tiny and fixed — the same argument that
    * justifies the static partition filter), so its vectors are collected
    * ONCE, probe cells assigned with the same NearestCells.topN selection,
    * and the (q_vec_id, qv, qn, cell_id) rows returned as a LocalRelation
    * plus the distinct probed-cell list. Planned as a Spark subtree the
    * query side would execute TWICE per probe — once for the probed-cells
    * collect and again inside the scoring join. norm stays Spark-computed
    * upstream (prepared), so every double is bit-exact. */
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

  /** Trained codec parameters: the `param` rows of an index header. */
  type Params = Seq[Seq[Double]]

  /** What an IVF index stores per vector and how a probe scores it. Every
    * hook has the flat default, so a codec overrides only what differs:
    *   - `train`: parameters from the build's prepared corpus;
    *   - `encode`: assigned (vec_id, v, norm, cell_id) rows -> stored rows;
    *   - `decode`: stored rows -> the columns `score` reads;
    *   - `query`: the probe's (q_vec_id, qv, qn, cell_id) batch -> the
    *     query-side columns `score` reads. */
  sealed trait Codec {
    private[ops] def name: String
    private[ops] def shape: Seq[Double] = Nil
    private[ops] def train(e: DataFrame, nQueries: Int): Params = Nil
    private[ops] def encode(p: Params, rows: DataFrame): DataFrame = rows
    private[ops] def decode(p: Params, stored: DataFrame): DataFrame = stored
    private[ops] def query(p: Params, q: DataFrame): DataFrame = q
    private[ops] def score(p: Params): Column = cosine
  }

  /** Full-precision vectors and their norms: exact cosine re-rank. */
  case object Flat extends Codec {
    private[ops] val name = "flat"
  }

  /** Scalar quantization: per-dimension (min, scale) trained in ONE pass
    * over the candidates (posexplode -> 1 agg with map-side combine; dim
    * rows regardless of corpus size, driver-safe), 8-bit codes at rest (8x
    * memory/IO reduction per vector), full-precision queries scored
    * against the dequantized codes. */
  case object Sq8 extends Codec {
    private[ops] val name = "sq8"
    override private[ops] def train(e: DataFrame, nQueries: Int): Params = {
      val stats = e.where(col("vec_id") >= nQueries)
        .select(posexplode(col("v")).as(Seq("i", "x")))
        .groupBy("i").agg(min("x").as("mn"), max("x").as("mx"))
        .orderBy("i").collect()
      Seq(stats.map(_.getDouble(1)).toSeq,
        stats.map(r => (r.getDouble(2) - r.getDouble(1)) / 255.0).toSeq)
    }
    /** Codes 0..255, half-up rounded; constant dims -> 0. */
    override private[ops] def encode(p: Params, rows: DataFrame): DataFrame = {
      val Seq(mns, scales) = p.map(typedLit(_))
      rows.withColumn("code", transform(col("v"), (x, i) =>
        when(element_at(scales, i + 1) === 0.0, lit(0))
          .otherwise(least(lit(255), greatest(lit(0),
            round((x - element_at(mns, i + 1)) / element_at(scales, i + 1))
              .cast("int"))))))
        .drop("v", "norm")
    }
    override private[ops] def decode(p: Params, stored: DataFrame): DataFrame = {
      val Seq(mns, scales) = p.map(typedLit(_))
      stored.withColumn("v", transform(col("code"), (cj, i) =>
        element_at(mns, i + 1) + cj.cast("double") * element_at(scales, i + 1)))
        .withColumn("norm", sqrt(dot(col("v"), col("v"))))
    }
  }

  /** Product quantization (Jegou et al., "Product Quantization for Nearest
    * Neighbor Search", TPAMI 2011) — the index shape actually deployed at
    * 10^12 vectors. Each vector stores m small codes (m bytes at ksub<=256:
    * dim/m x compression over SQ8's dim bytes) plus its reconstruction
    * norm; the flat codebook is the one O(ksub x dim) parameter. m=8
    * doubles recall over m=4 on the test corpus at the same byte budget
    * (finer subspaces beat more entries for untrained seed codebooks). */
  final case class Pq(m: Int = 8, ksub: Int = 16) extends Codec {
    private[ops] val name = "pq"
    override private[ops] def shape: Seq[Double] = Seq(m.toDouble, ksub.toDouble)

    /** Deterministic codebooks: in each of the m subspaces, the ksub
      * entries are the sub-vectors of the first ksub candidates (vec_id in
      * [nQueries, nQueries+ksub) — the seedCentroids convention; in
      * production each subspace runs its own k-means). Flat layout
      * cb[(j*ksub + c)*dsub + i] = component i of entry c in subspace j. */
    override private[ops] def train(e: DataFrame, nQueries: Int): Params = {
      val seedVecs = e
        .where(col("vec_id") >= nQueries && col("vec_id") < nQueries + ksub)
        .orderBy("vec_id").select("v")
        .collect().map(_.getSeq[Double](0))
      require(seedVecs.length == ksub,
        s"pq codebook needs $ksub seed vectors, found ${seedVecs.length}")
      val dim = seedVecs.head.size
      require(dim % m == 0, s"dim $dim not divisible by m=$m subspaces")
      val dsub = dim / m
      Seq(for (j <- 0 until m; c <- 0 until ksub; i <- 0 until dsub)
        yield seedVecs(c)(j * dsub + i))
    }

    private def dsub(p: Params): Int = p.head.size / (m * ksub)

    override private[ops] def encode(p: Params, rows: DataFrame): DataFrame = {
      val cb = typedLit(p.head)
      rows.withColumn("codes", graft.functions.PqEncode(col("v"), p.head, m, ksub))
        // `recon` (codebook slices in subspace order) is materialized as its
        // own attribute so the norm's two references cost ONE evaluation of
        // the interpreted reconstruction HOF per row (CollapseProject keeps
        // non-cheap multi-referenced aliases — the ngramJaccardPairs
        // convention), not two
        .withColumn("recon", flatten(transform(sequence(lit(0), lit(m - 1)), j =>
          slice(cb, (j * ksub + element_at(col("codes"), j + 1)) * dsub(p) + 1,
            lit(dsub(p))))))
        .withColumn("rn", sqrt(dot(col("recon"), col("recon"))))
        .drop("recon", "v", "norm")
    }

    /** ADC (asymmetric distance computation): each query precomputes its
      * m x ksub lookup table of subspace partial dots ONCE (O(dim x ksub)
      * per query, amortized over every candidate), and the broadcast ships
      * tables, not raw query vectors. lut[j*ksub + c] = <q's subspace-j
      * slice, codebook entry (j, c)>. */
    override private[ops] def query(p: Params, q: DataFrame): DataFrame = {
      val cb = typedLit(p.head)
      q.withColumn("qlut", flatten(transform(sequence(lit(0), lit(m - 1)), j =>
        transform(sequence(lit(0), lit(ksub - 1)), c =>
          aggregate(sequence(lit(0), lit(dsub(p) - 1)), lit(0.0), (s, i) =>
            s + element_at(col("qv"), j * dsub(p) + i + 1) *
              element_at(cb, (j * ksub + c) * dsub(p) + i + 1))))))
        .drop("qv")
    }

    /** A candidate scores in O(m) table lookups — never a per-pair O(dim)
      * dot. dot(q, recon(codes)) == sum_j lut[j][codes_j] exactly (same
      * additions in the same order), so ADC is the algebraic identity of
      * reconstruct-then-dot, not an approximation on top of PQ. */
    override private[ops] def score(p: Params): Column =
      aggregate(sequence(lit(0), lit(m - 1)), lit(0.0), (s, j) =>
        s + element_at(col("qlut"),
          j * ksub + element_at(col("codes"), j + 1) + 1)) /
        (col("qn") * col("rn"))
  }

  /** Score assigned cells against the query batch: codec-decoded cell
    * rows join the broadcast (codec-prepared) batch on cell_id, then the
    * multi-probe-deduping top-k tail. */
  private def probeCells(codec: Codec, p: Params, cells: DataFrame,
                         q: DataFrame, k: Int): DataFrame =
    topKScored(
      codec.decode(p, cells).join(broadcast(codec.query(p, q)), Seq("cell_id"))
        .select(col("q_vec_id"), col("vec_id").as("n_vec_id"),
          codec.score(p).as("score")), k)

  /** IVF-style ANN in one shot: a coarse quantizer of nCells centroids
    * (deterministic seeds by default; [[kmeansCentroids]] trains them);
    * every candidate is assigned to its nearest centroid once (inverted
    * lists), queries probe only their nProbe nearest cells and re-rank
    * exactly inside them. The scan cost per query drops from O(corpus) to
    * O(corpus * nProbe/nCells). */
  def ivfTopK(emb: DataFrame, nQueries: Int = 8, k: Int = 5,
              nCells: Int = 16, nProbe: Int = 4,
              quantizer: Quantizer = seedCentroids): DataFrame = {
    val e = prepared(emb)
    val cents = collectCentroids(quantizer(e, nQueries, nCells))
    val (q, _) = localQueryBatch(e, nQueries, cents, nProbe)
    probeCells(Flat, Nil, nearestCells(e.where(col("vec_id") >= nQueries), cents), q, k)
  }

  private final case class Header(codec: Codec, params: Params, cents: Cents)

  /** The one sidecar of every IVF index, `<path>_header`, rows
    * (kind, id, vec, x): one `codec:<name>` row (vec = the codec's shape),
    * the codec's `param` rows (id = order) and the coarse `centroid` rows
    * (id = cell id, x = norm). Everything an append or a probe needs, so
    * neither touches the corpus the index was trained on and neither takes
    * a quantizer argument that could disagree with the build's. Written
    * from already-collected driver values — no corpus job. */
  private def writeHeader(spark: SparkSession, path: String, h: Header): Unit = {
    import spark.implicits._
    val dim = h.cents.flat.size / h.cents.ids.size
    val rows = (s"codec:${h.codec.name}", 0L, h.codec.shape, 0.0) +:
      (h.params.zipWithIndex.map { case (v, i) => ("param", i.toLong, v, 0.0) } ++
        h.cents.ids.indices.map(i => ("centroid", h.cents.ids(i),
          h.cents.flat.slice(i * dim, (i + 1) * dim), h.cents.cns(i))))
    graft.engine.TableIO.write(rows.toDF("kind", "id", "vec", "x"), s"${path}_header")
  }

  /** Read an index header back (bit-exact round-trip of the build-time
    * values), failing with the header's path when it names no codec or an
    * unknown one. */
  private def readHeader(spark: SparkSession, path: String): Header = {
    val at = s"${path}_header"
    val rows = graft.engine.TableIO.read(spark, at).collect()
    def of(kind: String) = rows.filter(_.getString(0) == kind).sortBy(_.getLong(1)).toSeq
    val codecRow = rows.find(_.getString(0).startsWith("codec:")).getOrElse(
      throw new IllegalStateException(s"IVF index header $at has no codec row"))
    val shape = codecRow.getSeq[Double](2)
    val codec = codecRow.getString(0).stripPrefix("codec:") match {
      case "flat" => Flat
      case "sq8" => Sq8
      case "pq" => Pq(shape(0).toInt, shape(1).toInt)
      case other => throw new IllegalStateException(
        s"IVF index header $at names an unknown codec '$other'")
    }
    val cRows = of("centroid")
    Header(codec, of("param").map(_.getSeq[Double](2)),
      Cents(cRows.map(_.getLong(1)), cRows.flatMap(_.getSeq[Double](2)),
        cRows.map(_.getDouble(3))))
  }

  /** Cell-partitioned inverted-list write. Rows are co-located per cell
    * first: without the repartition every write task emits a file per cell
    * it happens to hold (tasks x cells tiny files — at 1000 executors an
    * index-wide small-file explosion); with it, one file per cell. */
  private def writeCells(rows: DataFrame, path: String, mode: String): Unit =
    rows.repartition(col("cell_id"))
      .write.mode(mode).partitionBy("cell_id").parquet(path)

  /** Build a PERSISTED IVF index: seed coarse quantizer, codec trained on
    * the candidates, every candidate assigned to its nearest cell once and
    * written codec-encoded as inverted lists partitioned by cell_id, then
    * the `_header`. Built once and amortized over every later query batch
    * instead of rebuilt per run. An empty quantizer (empty corpus, or
    * nCells = 0) fails before anything is written. */
  def ivfBuildIndex(emb: DataFrame, path: String, codec: Codec,
                    nQueries: Int = 8, nCells: Int = 16): Unit = {
    val e = prepared(emb)
    val cents = collectCentroids(seedCentroids(e, nQueries, nCells))
    require(cents.ids.nonEmpty,
      s"ivfBuildIndex: empty coarse quantizer (nCells=$nCells, no seed vectors)")
    val params = codec.train(e, nQueries)
    writeCells(codec.encode(params,
      nearestCells(e.where(col("vec_id") >= nQueries), cents)), path, "overwrite")
    writeHeader(emb.sparkSession, path, Header(codec, params, cents))
  }

  /** Incremental ingest — the nightly-batch companion of
    * minhashAppendToIndex: NEW vectors are assigned and encoded against
    * the index's OWN header (quantizers must not drift between batches or
    * stored codes would decode against the wrong parameters), then
    * appended cell-partitioned. Append-only is correct: stored rows are
    * per-vector facts. Per-batch cost is independent of index size. */
  def ivfAppendIndex(spark: SparkSession, path: String, newVecs: DataFrame): Unit = {
    val h = readHeader(spark, path)
    writeCells(h.codec.encode(h.params, nearestCells(prepared(newVecs), h.cents)),
      path, "append")
  }

  /** Probe a persisted index with the header's codec and quantizer. The
    * query batch is tiny, so its nQueries x nProbe probe cells are
    * collected and pushed as a STATIC partition filter on the index read —
    * only the probed cell partitions are scanned (O(corpus x nProbe/nCells)
    * I/O, the IVF contract; the plan's PartitionFilters prove it, asserted
    * in OpsSpec). The corpus is read only for the nQueries query vectors. */
  def ivfProbeIndex(spark: SparkSession, path: String, emb: DataFrame,
                    nQueries: Int = 8, k: Int = 5, nProbe: Int = 4): DataFrame = {
    val h = readHeader(spark, path)
    val (q, probedCells) = localQueryBatch(prepared(emb), nQueries, h.cents, nProbe)
    val index = spark.read.parquet(path).where(col("cell_id").isin(probedCells: _*))
    probeCells(h.codec, h.params, index, q, k)
  }

  /** Two-stage refined probe — the standard production ANN serving shape
    * (FAISS's refine stage): the index supplies a cheap codec-scored
    * shortlist of rerankR candidates per query, then ONLY those nQueries x
    * rerankR rows fetch their full-precision vectors from the corpus for an
    * exact cosine re-rank to top-k. Over a PQ index recall approaches the
    * full-precision IVF's at PQ index cost, with rerankR the recall/IO dial
    * (test-corpus sweep vs the full-precision IVF top-5: 0.425 @ R=20, 0.825 @
    * R=50, 1.0 @ R=100 — cross-checked against an independent numpy
    * recomputation). The refinement join streams the corpus scan past the
    * broadcast shortlist once (output is candidate-sized; the scan itself
    * is column-pruned but full — at production scale store the vectors
    * bucketed on vec_id so the fetch prunes to the shortlist's buckets). */
  def ivfProbeRefined(spark: SparkSession, path: String, emb: DataFrame,
                      nQueries: Int = 8, k: Int = 5, rerankR: Int = 50,
                      nProbe: Int = 4): DataFrame = {
    val shortlist = ivfProbeIndex(spark, path, emb, nQueries, rerankR, nProbe)
      .select(col("q_vec_id"), col("n_vec_id"))
    val e = prepared(emb)
    val fetched = e
      .select(col("vec_id").as("n_vec_id"), col("v"), col("norm"))
      .join(shortlist, Seq("n_vec_id"))
    topKScored(
      fetched.join(broadcast(queryRows(e, nQueries)), Seq("q_vec_id"))
        .select(col("q_vec_id"), col("n_vec_id"), cosine.as("score")), k)
  }

  /** Cluster-based semantic near-duplicate pairs (SemDeDup, Abbas et al.
    * 2023): embeddings are partitioned by a coarse quantizer and ONLY
    * within-cluster pairs are cosine-compared — the O(n^2/k) restriction
    * that makes embedding dedup tractable where LSH recall tuning is
    * unwanted. Candidate generation is a per-cell grouped pair expansion
    * (bounded membership buffer, never a self-join); the exact-cosine
    * verify is [[verifyPairs]], carrying cell_id.
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
    // every vector (centroid seeds included) assigned to its 1 nearest cell
    val assignedRaw = nearestCells(e, collectCentroids(seedCentroids(e, 0, nCells)))
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
    verifyPairs(corpus.select(col("vec_id"), col("v")), candidates, Seq("cell_id"),
      threshold)
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
    topKScored(
      e.where(col("vec_id") >= nQueries).join(broadcast(q), Seq("table", "bucket"))
        .select(col("q_vec_id"), col("vec_id").as("n_vec_id"), cosine.as("score")), k)
  }
}
