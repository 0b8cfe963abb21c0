package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import graft.ops._

/** Declarative HOF twins of the compiled vector kernels: the references
  * OpsSpec asserts DotProduct and PqEncode against. */
object OpsSpec {

  /** Sequential left-fold dot product, the reference for Similarity.dot. */
  def dotDeclarative(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, v) => acc + v)

  /** PQ-encode twin of functions.PqEncode: per subspace j, the code is the
    * L2-argmin codebook entry over `col("v")` (strict < keeps the SMALLEST
    * entry id on ties — the oracle's (dist, c) order). The interpreted fold
    * evaluates each candidate distance twice (comparison + kept struct):
    * ~2 x dim x ksub lambda calls per row. */
  def pqEncodeDeclarative(cb: Column, m: Int, ksub: Int, dsub: Int): Column =
    transform(sequence(lit(0), lit(m - 1)), j =>
      aggregate(
        sequence(lit(0), lit(ksub - 1)),
        struct(lit(-1).cast("int").as("c"),
          lit(Double.PositiveInfinity).as("d")),
        (acc, c) => {
          val dist = aggregate(sequence(lit(0), lit(dsub - 1)), lit(0.0),
            (s, i) => {
              val x = element_at(col("v"), j * dsub + i + 1)
              val y = element_at(cb, (j * ksub + c) * dsub + i + 1)
              s + (x - y) * (x - y)
            })
          when(dist < acc.getField("d"),
            struct(c.cast("int").as("c"), dist.as("d"))).otherwise(acc)
        },
        acc => acc.getField("c")))
}

class OpsSpec extends SparkSpec {
  import spark.implicits._
  import OpsSpec._

  private lazy val documents = spark.read.parquet(s"$sf/documents.parquet").cache()
  private lazy val embeddings = spark.read.parquet(s"$sf/embeddings.parquet").cache()

  test("text: top-tokens plans as TakeOrderedAndProject and orders deterministically") {
    val df = TextAnalysis.topTokens(documents, k = 50)
    assert(df.queryExecution.executedPlan.toString.contains("TakeOrderedAndProject"),
      "orderBy+limit must plan bounded per-partition heaps, not a full sort")
    val top = df.collect()
    // sf0.001's synthetic vocabulary is smaller than k — take what exists
    assert(top.nonEmpty && top.length <= 50)
    assert(top.head.getLong(1) >= top.last.getLong(1))
  }

  test("similarity: SQ8 asymmetric search nearly matches full-precision top-k") {
    val exact = Similarity.cosineTopK(embeddings)
      .select("q_vec_id", "n_vec_id").as[(Long, Long)].collect().toSet
    val sq8 = Similarity.sq8TopK(embeddings)
      .select("q_vec_id", "n_vec_id").as[(Long, Long)].collect().toSet
    val recall = (exact & sq8).size.toDouble / exact.size
    assert(recall >= 0.8, s"SQ8 top-k recall vs full precision: $recall")
  }

  test("dedup clusters: min-label connected components over a pair graph") {
    // two multi-node components + one 2-node component, listed in mixed order
    val pairs = Seq((2L, 3L), (1L, 2L), (10L, 11L), (21L, 20L), (22L, 21L), (22L, 23L))
      .toDF("doc_id_a", "doc_id_b")
    val got = Dedup.dupClusters(pairs)
      .as[(Long, Long)].collect().toSet
    assert(got === Set(
      (1L, 1L), (2L, 1L), (3L, 1L),
      (10L, 10L), (11L, 10L),
      (20L, 20L), (21L, 20L), (22L, 20L), (23L, 20L)))

    // a diameter beyond the round bound fails fast instead of returning
    // half-merged clusters
    val chain = (1L to 40L).sliding(2).map(s => (s.head, s.last)).toSeq
      .toDF("doc_id_a", "doc_id_b")
    intercept[IllegalStateException](Dedup.dupClusters(chain, maxIter = 3))
  }

  test("dedup clusters: non-numeric doc ids fail fast instead of mis-converging") {
    // '123-4'-style ids would cast to a NULL checksum, equal every round
    val pairs = Seq(("123-4", "123-5"), ("123-5", "124-1"))
      .toDF("doc_id_a", "doc_id_b")
    val e = intercept[IllegalArgumentException](Dedup.dupClusters(pairs))
    assert(e.getMessage.contains("integral doc ids"), e.getMessage)
  }

  test("dedup exact: finds exactly the injected copies") {
    val dups = Dedup.exactDuplicates(Dedup.corpusWithExactDups(documents))
    val expected = documents.where(col("doc_id") % 50 === 0).count()
    assert(dups.count() == expected && expected > 0)
    assert(dups.where(col("cnt") =!= 2).count() == 0)
  }

  test("dedup ngram jaccard: every injected near-dup pair is found") {
    val pairs = Dedup.ngramJaccardPairs(Dedup.corpusWithNearDups(documents))
      .select("doc_id_a", "doc_id_b").as[(Long, Long)].collect().toSet
    val injected = documents.where(col("doc_id") % 50 === 0)
      .select("doc_id").as[Long].collect()
      .map(id => (id, id + 1000000)).toSet
    assert(injected.nonEmpty && injected.subsetOf(pairs))
  }

  test("dedup minhash LSH: finds all pairs the exhaustive jaccard finds") {
    val corpus = Dedup.corpusWithNearDups(documents)
    val lsh = Dedup.minhashLshPairs(corpus)
      .select("doc_id_a", "doc_id_b").as[(Long, Long)].collect().toSet
    // exhaustive reference: all-pairs jaccard on the same corpus (small sf)
    val sh = corpus.select(col("doc_id"), Dedup.shingles(col("text")).as("sh"))
      .where(size(col("sh")) > 0)
    val a = sh.select(col("doc_id").as("ida"), col("sh").as("sa"))
    val b = sh.select(col("doc_id").as("idb"), col("sh").as("sb"))
    val exact = a.join(b, col("ida") < col("idb"))
      .select(col("ida"), col("idb"),
        size(array_intersect(col("sa"), col("sb"))).as("i"),
        (size(col("sa")) + size(col("sb")) - size(array_intersect(col("sa"), col("sb")))).as("u"))
      .where(col("i") * 10 >= col("u") * 6)
      .select("ida", "idb").as[(Long, Long)].collect().toSet
    assert(exact.nonEmpty && lsh == exact)
  }

  test("dedup simhash: chunk-bucketed result equals all-pairs Hamming <= 7") {
    val corpus = Dedup.corpusWithNearDups(documents)
    val got = Dedup.simhashPairs(corpus)
      .select("doc_id_a", "doc_id_b").as[(Long, Long)].collect().toSet
    // brute-force all-pairs reference on the collected simhash values
    val sims = Dedup.simhashes(corpus).as[(Long, Long)].collect()
    val exact = (for {
      (ida, sa) <- sims.iterator
      (idb, sb) <- sims.iterator
      if ida < idb && java.lang.Long.bitCount(sa ^ sb) <= 7
    } yield (ida, idb)).toSet
    assert(got.nonEmpty && got == exact)
  }

  test("dedup simhash: Manku block-combination tables stay all-pairs exact") {
    // keyBlocks=2 -> C(8,2)=28 tables keyed on 16-bit block pairs; the
    // pigeonhole guarantee tightens to Hamming <= 6 — verify exactness at
    // that bound, and that the exactness precondition is enforced.
    val corpus = Dedup.corpusWithNearDups(documents)
    val got = Dedup.simhashPairs(corpus, maxHamming = 6, keyBlocks = 2)
      .select("doc_id_a", "doc_id_b").as[(Long, Long)].collect().toSet
    val sims = Dedup.simhashes(corpus).as[(Long, Long)].collect()
    val exact = (for {
      (ida, sa) <- sims.iterator
      (idb, sb) <- sims.iterator
      if ida < idb && java.lang.Long.bitCount(sa ^ sb) <= 6
    } yield (ida, idb)).toSet
    assert(got.nonEmpty && got == exact)
    intercept[IllegalArgumentException] {
      Dedup.simhashPairs(corpus, maxHamming = 7, keyBlocks = 2)
    }
  }

  test("ngram dedup: zero joins and shingles computed once per row") {
    val df = Dedup.ngramJaccardPairs(Dedup.corpusWithNearDups(documents))
    val plan = df.queryExecution.optimizedPlan
    import org.apache.spark.sql.catalyst.plans.logical.Join
    assert(plan.collect { case j: Join => j }.isEmpty,
      "sizes ride through the buckets — the operator must have no joins")
    // the shingling expression (its concat_ws marker) must appear exactly
    // once per union branch of the corpus — i.e. CollapseProject must NOT
    // inline it into the Generate's projection (per-exploded-row re-eval)
    // nor duplicate it into the size() column
    val n = "concat_ws".r.findAllIn(plan.toString).size
    assert(n <= 2, s"shingles must be computed once per row, found $n sites")
  }

  test("verify stages reference the candidate subplan exactly once") {
    // Spark does not materialize shared DataFrame subplans: every extra
    // reference to the candidate-pair pipeline re-executes the WHOLE
    // banding/bucketing subtree (the round-2 shape had three — the
    // dedup_minhash_lsh driver-bench regression). The expensive signature
    // expression must therefore appear exactly once in the optimized plan.
    val mh = Dedup.minhashLshPairs(Dedup.corpusWithNearDups(documents))
      .queryExecution.optimizedPlan.toString
    assert("minhash_bands".r.findAllIn(mh).size === 1,
      "minhash banding subtree must be planned exactly once")
    val ec = Similarity.cosineNearDupPairs(
      Similarity.corpusWithNearDupVecs(embeddings), nBits = 5, nTables = 12)
      .queryExecution.optimizedPlan.toString
    assert("lsh_buckets".r.findAllIn(ec).size === 1,
      "LSH bucketing subtree must be planned exactly once")
  }

  test("dedup/similarity verify joins never hint a corpus-side broadcast") {
    // The verify stage must not force-broadcast any per-doc table (driver
    // OOM at 10^12 docs): the optimized plan carries NO join hints at all —
    // AQE remains free to pick broadcast at runtime when a side truly fits.
    import org.apache.spark.sql.catalyst.plans.logical.Join
    def assertNoHints(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val hints = df.queryExecution.optimizedPlan.collect { case j: Join => j.hint }
        .filter(h => h.leftHint.nonEmpty || h.rightHint.nonEmpty)
      assert(hints.isEmpty, s"$name forces a join strategy: $hints")
    }
    assertNoHints(Dedup.ngramJaccardPairs(Dedup.corpusWithNearDups(documents)),
      "dedup_ngram_jaccard")
    assertNoHints(Dedup.minhashLshPairs(Dedup.corpusWithNearDups(documents)),
      "dedup_minhash_lsh")
    assertNoHints(Dedup.simhashPairs(Dedup.corpusWithNearDups(documents)),
      "dedup_simhash")
    assertNoHints(Similarity.cosineNearDupPairs(
      Similarity.corpusWithNearDupVecs(embeddings), nBits = 5, nTables = 12),
      "dedup_embedding_cosine")
    // two ops are allowed EXACTLY ONE broadcast hint, on their bounded
    // NON-corpus side (dimension-table-sized by construction); the
    // corpus-side joins stay hint-free like the others. The hinted CHILD is
    // checked too — a count-only assertion would stay green if the hint
    // migrated to the corpus side (the exact regression this guards).
    def assertOneBoundedHint(df: org.apache.spark.sql.DataFrame,
                             name: String, boundedMark: String): Unit = {
      val hinted = df.queryExecution.optimizedPlan.collect {
        case j: Join if j.hint.leftHint.nonEmpty || j.hint.rightHint.nonEmpty =>
          if (j.hint.leftHint.nonEmpty) j.left else j.right
      }
      assert(hinted.size === 1,
        s"$name must broadcast exactly its bounded side")
      assert(hinted.head.toString.contains(boundedMark),
        s"$name: the hint sits on a subtree without '$boundedMark' — " +
          s"likely the corpus side:\n${hinted.head}")
    }
    // semantic dedup on an under-cap corpus: the sub-bucketed branch AND
    // the census routing are dropped at compose time (cells route via
    // literal id filters from the collected census), so the plan carries
    // NO hinted join and — because the row-local assignment is consumed
    // exactly once — NO persisted assignment either (the persist is paid
    // only when an over-cap branch reuses it)
    {
      // local in-memory corpus: a parquet read would be substituted with
      // the fixture's InMemoryRelation by the cache manager and mask the
      // no-persist assertion
      val local = (0L until 40L).map(i => (i, Seq.tabulate(8)(d => (i % 7 + d) * 0.1)))
        .toDF("vec_id", "v")
      val df = Similarity.semanticDedupPairs(local)
      val plan = df.queryExecution.optimizedPlan
      val hinted = plan.collect {
        case j: Join if j.hint.leftHint.nonEmpty || j.hint.rightHint.nonEmpty => j
      }
      assert(hinted.isEmpty,
        s"dedup_semantic: under-cap plan must be census-join-free, got ${hinted.size}")
      assert(!plan.toString.contains("InMemoryRelation"),
        "dedup_semantic: under-cap plan must not persist the assignment")
    }
    // the fixed eval-benchmark shingle set (static size estimates under a
    // Generate once chose to build the CORPUS side — pinned explicitly)
    assertOneBoundedHint(Curation.decontaminate(documents,
      documents.where(col("doc_id") % 97 === 0)), "decontaminate", "% 97")
  }

  test("semantic dedup degrades over-cap cells to LSH sub-buckets, pairs exact") {
    val corpus = Similarity.corpusWithNearDupVecs(embeddings)
    // one cell, cap below the corpus size -> the WHOLE corpus routes down
    // the sub-bucketed branch; subBits derives from the cell size and
    // amplified tables keep candidate recall ~1 here (cap 400 leaves room
    // for the corpus's correlated same-signature groups, which land whole
    // in one sub-bucket — the over-cap loud stop is exercised below)
    val got = Similarity.semanticDedupPairs(
      corpus, nCells = 1, memberCap = 400, subTables = 24)
      .select("vec_id_a", "vec_id_b").as[(Long, Long)].collect().toSet
    // exhaustive within-cell truth (nCells=1 -> all-pairs), driver-side
    val vecs = corpus.select("vec_id", "v").as[(Long, Seq[Double])].collect()
    def dot(a: Seq[Double], b: Seq[Double]) =
      a.iterator.zip(b.iterator).foldLeft(0.0) { case (s, (x, y)) => s + x * y }
    val expected = (for {
      (ia, va) <- vecs; (ib, vb) <- vecs if ia < ib
      if dot(va, vb) / (math.sqrt(dot(va, va)) * math.sqrt(dot(vb, vb))) >= 0.9
    } yield (ia, ib)).toSet
    assert(got == expected,
      s"sub-bucketed pairs diverge: missing=${(expected -- got).take(5)} " +
        s"extra=${(got -- expected).take(5)}")
    // and under-cap corpora are untouched by the new routing: exhaustive
    // branch output matches the same truth restricted to shared cells
    assert(Similarity.semanticDedupPairs(corpus).count() ===
      Similarity.semanticDedupPairs(corpus, memberCap = 1000000).count())
    // an identical-signature cluster larger than the cap lands whole in
    // ONE sub-bucket in every table regardless of bits — pairs must fail
    // LOUDLY (pre-degradation invariant), never truncate silently
    val base = (0L until 4L).map(i => (i, Seq.fill(8)(i * 0.1 + 0.1)))
    val clones = (0L until 12L).map(i => (100L + i, Seq.fill(8)(7.0)))
    val skewed = (base ++ clones).toDF("vec_id", "v")
    val e = intercept[Exception] {
      Similarity.semanticDedupPairs(skewed, nCells = 2, memberCap = 8).count()
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ messages(x.getCause))
    assert(messages(e).exists(_.contains("sub-bucket exceeded")), s"got: $e")
  }

  test("similarity: IVF-PQ index — ADC probe, pruning, compression, recall") {
    val dir = java.nio.file.Files.createTempDirectory("graft-pq").toString + "/index"
    Similarity.ivfBuildIndex(embeddings, dir, Similarity.Pq())
    val p1 = Similarity.ivfProbeIndex(spark, dir, embeddings)
    // deterministic across probes of the same persisted index
    assert(p1.collect().toSet == Similarity.ivfProbeIndex(spark, dir, embeddings)
      .collect().toSet)
    // static cell pruning on the index read, as with the other IVF probes
    val plan = p1.queryExecution.executedPlan.toString
    assert("PartitionFilters: \\[[^\\]]*cell_id".r.findFirstIn(plan).isDefined,
      s"PQ index scan must carry a cell_id partition filter:\n$plan")
    // the stored index is m=8 codes (+1 norm) per vector — dim/m = 8x
    // fewer stored values than SQ8's per-component codes
    val idx = spark.read.parquet(dir)
    assert(idx.select(max(size(col("codes")))).as[Int].head() === 8)
    // quantized recall vs the full-precision IVF over the same cells stays
    // useful (seed codebooks, 16 entries/subspace)
    val ivf = Similarity.ivfTopK(embeddings, k = 5)
      .select("q_vec_id", "n_vec_id").as[(Long, Long)].collect().toSet
    val pq = p1.select("q_vec_id", "n_vec_id").as[(Long, Long)].collect().toSet
    val recall = (ivf & pq).size.toDouble / ivf.size
    assert(recall >= 0.3, s"IVF-PQ recall vs full-precision IVF: $recall")
    // the two-stage refined probe re-ranks the ADC shortlist with exact
    // cosine — recall must not drop below the plain PQ probe's and should
    // approach full precision
    val refined = Similarity.ivfProbeRefined(spark, dir, embeddings)
      .select("q_vec_id", "n_vec_id").as[(Long, Long)].collect().toSet
    val refRecall = (ivf & refined).size.toDouble / ivf.size
    assert(refRecall >= recall,
      s"refined recall $refRecall below plain PQ recall $recall")
    assert(refRecall >= 0.8, s"refined recall vs full-precision IVF: $refRecall")
  }

  test("IVF-PQ build over an empty quantizer fails before writing the index") {
    // every codec shares the build path, so every codec fails the same way
    Seq(Similarity.Flat, Similarity.Sq8, Similarity.Pq()).foreach { codec =>
      val base = java.nio.file.Files.createTempDirectory("graft-ivf-empty").toString
      // empty corpus: no seed vectors for the codec or the coarse cells
      val empty = java.nio.file.Paths.get(base, "empty")
      val e1 = intercept[IllegalArgumentException](
        Similarity.ivfBuildIndex(embeddings.where(lit(false)), empty.toString, codec))
      assert(e1.getMessage.contains("empty coarse quantizer"), s"$codec: ${e1.getMessage}")
      // no coarse cells over a non-empty corpus
      val noCells = java.nio.file.Paths.get(base, "nocells")
      val e2 = intercept[IllegalArgumentException](
        Similarity.ivfBuildIndex(embeddings, noCells.toString, codec, nCells = 0))
      assert(e2.getMessage.contains("empty coarse quantizer"), s"$codec: ${e2.getMessage}")
      Seq(empty, noCells).foreach { p =>
        assert(!java.nio.file.Files.exists(p), s"$codec: $p written")
        assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(p + "_header")),
          s"$codec: ${p}_header written")
      }
    }
  }

  test("IVF probe reads its coarse quantizer from the index header") {
    // built with nCells = 8; the probe takes no cell argument, so it can
    // only agree with the one-shot IVF over 8 cells by reading the header
    val dir = java.nio.file.Files.createTempDirectory("graft-ivf-hdr").toString + "/index"
    Similarity.ivfBuildIndex(embeddings, dir, Similarity.Flat, nCells = 8)
    val probed = Similarity.ivfProbeIndex(spark, dir, embeddings).collect().toSet
    assert(probed.nonEmpty)
    assert(probed == Similarity.ivfTopK(embeddings, nCells = 8).collect().toSet)
    assert(probed != Similarity.ivfTopK(embeddings, nCells = 16).collect().toSet,
      "8 and 16 cells must differ on this corpus for the check to mean anything")
  }

  test("IVF index header without a known codec row fails naming its path") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ivf-bad").toString + "/index"
    Similarity.ivfBuildIndex(embeddings, dir, Similarity.Flat)
    val header = dir + "_header"
    val rows = graft.engine.TableIO.read(spark, header)
      .as[(String, Long, Seq[Double], Double)].collect().toSeq
    def rewrite(kept: Seq[(String, Long, Seq[Double], Double)]): Unit =
      graft.engine.TableIO.write(kept.toDF("kind", "id", "vec", "x"), header)
    rewrite(rows.filterNot(_._1.startsWith("codec:")))
    val noCodec = intercept[IllegalStateException](
      Similarity.ivfProbeIndex(spark, dir, embeddings))
    assert(noCodec.getMessage.contains(header) &&
      noCodec.getMessage.contains("no codec row"), noCodec.getMessage)
    rewrite(rows.map(r => if (r._1.startsWith("codec:")) r.copy(_1 = "codec:opq") else r))
    val unknown = intercept[IllegalStateException](
      Similarity.ivfAppendIndex(spark, dir, embeddings))
    assert(unknown.getMessage.contains(header) &&
      unknown.getMessage.contains("unknown codec 'opq'"), unknown.getMessage)
  }

  test("lshParams: corpus-sized tables, recall-solved table count") {
    // density bound: nBits grows with corpus size so expected bucket
    // membership stays ~targetBucket
    val (b12, _) = Similarity.lshParams(1000000000000L, 0.9)
    assert(b12 === 30, "10^12 corpus -> 30-bit keys (density ~2^10/bucket floor)")
    val (bSmall, tSmall) = Similarity.lshParams(5000L, 0.9)
    assert(bSmall >= 1 && bSmall <= 3)
    assert(tSmall >= 1)
    // recall target: derived (nBits, nTables) must satisfy the miss bound
    val p = 1.0 - math.acos(0.9) / math.Pi
    val (b, t) = Similarity.lshParams(100000000L, 0.9, minRecall = 0.99)
    assert(math.pow(1.0 - math.pow(p, b), t) <= 0.01 + 1e-12)
    // derived-default path runs end-to-end and still finds the injected
    // near-dups (oracle-grade exactness is the pinned sandbox config's job)
    val derived = Similarity.cosineNearDupPairs(
        Similarity.corpusWithNearDupVecs(embeddings))
      .select("vec_id_a", "vec_id_b").as[(Long, Long)].collect().toSet
    assert(derived.exists { case (a, bId) => bId == a + 1000000 })
  }

  test("IVF-PQ incremental append equals the one-shot build; empty batch is a no-op") {
    // Sq8 is left out by design: its per-dimension min/scale are trained on
    // the build's candidates only, so appended vectors outside that range
    // clamp and an append is not equal to a one-shot build
    Seq(Similarity.Flat, Similarity.Pq()).foreach { codec =>
      val base = java.nio.file.Files.createTempDirectory("graft-ivf-inc").toString
      val full = base + "/full"
      Similarity.ivfBuildIndex(embeddings, full, codec)
      val oneShot = Similarity.ivfProbeIndex(spark, full, embeddings).collect().toSet
      // split the candidates across two ingest batches (split point must
      // exist in the sparse sf0.001 id space — derive it from the data)
      val splitId = embeddings.where(col("vec_id") >= 24)
        .agg(expr("percentile(vec_id, 0.5D)")).head().getDouble(0).toLong
      val inc = base + "/inc"
      Similarity.ivfBuildIndex(embeddings.where(col("vec_id") < splitId), inc, codec)
      Similarity.ivfAppendIndex(spark, inc,
        embeddings.where(col("vec_id") >= splitId))
      assert(Similarity.ivfProbeIndex(spark, inc, embeddings).collect().toSet
        == oneShot,
        s"$codec: append against stored quantizers must reproduce the one-shot index")
      // an empty batch appends nothing and changes nothing
      Similarity.ivfAppendIndex(spark, inc,
        embeddings.where(col("vec_id") < -1))
      assert(Similarity.ivfProbeIndex(spark, inc, embeddings).collect().toSet
        == oneShot, s"$codec: empty append changed the index")
    }
  }

  test("compiled PQ encoder == declarative HOF argmin over the corpus") {
    val e = embeddings.select(col("vec_id"),
      col("embedding").cast("array<double>").as("v"))
    val (m, ksub) = (8, 16)
    val seeds = e.where(col("vec_id") >= 8 && col("vec_id") < 24)
      .orderBy("vec_id").select("v").as[Seq[Double]].collect()
    val dsub = seeds.head.size / m
    val cbFlat: Seq[Double] =
      (for (j <- 0 until m; c <- 0 until ksub; i <- 0 until dsub)
        yield seeds(c)(j * dsub + i)).toList
    val both = e.select(
      graft.functions.PqEncode(col("v"), cbFlat, m, ksub).as("c"),
      pqEncodeDeclarative(typedLit(cbFlat), m, ksub, dsub).as("d"))
    assert(both.count() > 0)
    assert(both.where(!(col("c") <=> col("d"))).count() == 0,
      "compiled PQ codes must equal the declarative argmin bit-for-bit")
  }

  test("compiled dot product == declarative HOF fold (incl. null semantics)") {
    val e = embeddings.select(col("vec_id"),
      col("embedding").cast("array<double>").as("v"))
    val pairs = e.alias("a").crossJoin(e.alias("b").limit(3))
      .select(
        Similarity.dot(col("a.v"), col("b.v")).as("c"),
        dotDeclarative(col("a.v"), col("b.v")).as("d"))
    assert(pairs.where(!(col("c") <=> col("d"))).count() == 0)
    // length mismatch and null elements -> NULL on both paths
    val edge = Seq(
      (Seq(1.0, 2.0), Seq(1.0)),
      (Seq(1.0, 2.0), Seq(1.0, 2.0, 3.0))
    ).toDF("x", "y")
    val both = edge.select(Similarity.dot(col("x"), col("y")).as("c"),
      dotDeclarative(col("x"), col("y")).as("d"))
    assert(both.where(col("c").isNotNull || col("d").isNotNull).count() == 0)
  }

  test("similarity: brute-force top-k is sane (self-similarity, ranks)") {
    // append a copy of query vec 0 as a candidate: it must rank first with score 1
    val probe = embeddings.unionAll(
      embeddings.where(col("vec_id") === 0)
        .select(lit(900000L).as("vec_id"), col("embedding"), col("label")))
    val top = Similarity.cosineTopK(probe)
    val first = top.where(col("q_vec_id") === 0 && col("rank") === 1)
      .select("n_vec_id", "score_r").as[(Long, Double)].collect().head
    assert(first == ((900000L, 1.0)))
    assert(top.groupBy("q_vec_id").count().select("count").as[Long].collect().forall(_ == 5))
  }

  test("similarity: ANN-LSH recall vs brute force is reasonable") {
    val exact = Similarity.cosineTopK(embeddings, k = 5)
      .select("q_vec_id", "n_vec_id").as[(Long, Long)].collect().toSet
    val ann = Similarity.annLshTopK(embeddings, k = 5)
      .select("q_vec_id", "n_vec_id").as[(Long, Long)].collect().toSet
    val recall = (exact & ann).size.toDouble / exact.size
    assert(recall >= 0.2, s"ANN recall too low: $recall (single-probe 8-bit LSH)")
  }

  test("similarity: IVF probes recover a reasonable share of exact top-k") {
    val exact = Similarity.cosineTopK(embeddings, k = 5)
      .select("q_vec_id", "n_vec_id").as[(Long, Long)].collect().toSet
    val ivf = Similarity.ivfTopK(embeddings, k = 5)
      .select("q_vec_id", "n_vec_id").as[(Long, Long)].collect().toSet
    val recall = (exact & ivf).size.toDouble / exact.size
    assert(recall >= 0.2, s"IVF recall too low: $recall (16 cells, 4 probes)")
    assert(ivf.groupBy(_._1).forall(_._2.size <= 5))
  }

  test("similarity: k-means-trained IVF recall is at least the seed quantizer's") {
    val exact = Similarity.cosineTopK(embeddings, k = 5)
      .select("q_vec_id", "n_vec_id").as[(Long, Long)].collect().toSet
    def recall(df: org.apache.spark.sql.DataFrame) = {
      val got = df.select("q_vec_id", "n_vec_id").as[(Long, Long)].collect().toSet
      (exact & got).size.toDouble / exact.size
    }
    val seed = recall(Similarity.ivfTopK(embeddings, k = 5))
    val km = recall(Similarity.ivfTopK(embeddings, k = 5,
      quantizer = Similarity.kmeansCentroids))
    assert(km >= 0.2, s"k-means IVF recall too low: $km")
    assert(km >= seed - 0.11, s"trained quantizer recall $km far below seed $seed")
  }

  test("similarity: persisted IVF index builds once, probes repeatedly with pruning") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ivf").toString + "/index"
    Similarity.ivfBuildIndex(embeddings, dir, Similarity.Flat)
    val p1 = Similarity.ivfProbeIndex(spark, dir, embeddings)
    val p2 = Similarity.ivfProbeIndex(spark, dir, embeddings)
    // repeat probes over the same persisted index are deterministic
    assert(p1.collect().toSet == p2.collect().toSet)
    // only the probed cells' partitions are scanned (static pruning)
    val plan = p1.queryExecution.executedPlan.toString
    assert("PartitionFilters: \\[[^\\]]*cell_id".r.findFirstIn(plan).isDefined,
      s"index scan must carry a cell_id partition filter:\n$plan")
    // recall vs exact brute force stays in the one-shot variant's range
    val exact = Similarity.cosineTopK(embeddings, k = 5)
      .select("q_vec_id", "n_vec_id").as[(Long, Long)].collect().toSet
    val ivf = p1.select("q_vec_id", "n_vec_id").as[(Long, Long)].collect().toSet
    assert((exact & ivf).size.toDouble / exact.size >= 0.2)
    // and the persisted probe agrees with the one-shot in-memory IVF
    val oneShot = Similarity.ivfTopK(embeddings, k = 5).collect().toSet
    assert(p1.collect().toSet == oneShot)
  }

  test("text: fingerprints match hand computation; rolling is order-sensitive") {
    val df = Seq((1L, "ab cd"), (2L, "cd ab")).toDF("doc_id", "text")
    def h(w: String) = 31 * w.length + 7 * w.head.toInt + w.last.toInt
    val rows = TextAnalysis.fingerprint(df)
      .select("doc_id", "fp", "fp_roll").as[(Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(rows(1L)._1 == (h("ab") + h("cd")) % 1000003)
    assert(rows(1L)._2 == (h("ab") + 2 * h("cd")) % 1000003)
    assert(rows(1L)._1 == rows(2L)._1, "bag fingerprint is order-insensitive")
    assert(rows(1L)._2 != rows(2L)._2, "rolling fingerprint is order-sensitive")
  }

  test("text: BPE-ish pre-tokens match hand computation and tile the text") {
    val df = Seq((1L, "Don't add 123 e4!")).toDF("doc_id", "text")
    val r = TextAnalysis.bpeTokens(df).collect().head
    // Don | 't | ' add' | ' 123' | ' e' | 4 | !
    assert(r.getAs[Int]("n_bpe_tokens") == 7)
    assert(r.getAs[Int]("n_ws_tokens") == 4)
    assert(r.getAs[Int]("bpe_chars") == "Don't add 123 e4!".length,
      "pre-tokens must tile the whole text")
    // on the real corpus the pattern must also tile every doc exactly
    val untiled = TextAnalysis.bpeTokens(documents)
      .join(documents.select(col("doc_id"), length(col("text")).as("tl")), "doc_id")
      .where(col("bpe_chars") =!= col("tl"))
    assert(untiled.count() == 0)
  }

  test("text: quality features match hand computation") {
    val df = Seq((1L, "the fox, ran.")).toDF("doc_id", "text")
    val q = TextAnalysis.quality(df).collect().head
    assert(q.getAs[Int]("n_tokens") == 3)
    assert(q.getAs[Double]("stop_ratio") == 1.0 / 3.0)
    assert(q.getAs[Double]("punct_ratio") == 2.0 / 13.0)
  }

  test("text: langid picks the language with most stopword hits") {
    val df = Seq((1L, "der hund und die katze"), (2L, "the cat and the dog"))
      .toDF("doc_id", "text")
    val got = TextAnalysis.langId(df).select("doc_id", "pred_lang")
      .as[(Long, String)].collect().toMap
    assert(got(1L) == "de" && got(2L) == "en")
  }

  test("multimodal: frame sampling slices exact byte ranges; resize pools") {
    val df = Seq((1L, "a" * 200), (2L, "b" * 64), (3L, "")).toDF("doc_id", "text")
    val got = Multimodal.frameSample(df).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Int]("n_sampled"), r.getAs[Int]("sampled_bytes"),
          r.getAs[String]("first_frame_str")))).toMap
    // 200 bytes = frames [0,64) [64,128) [128,192) [192,200); every 3rd ->
    // frames 0 and 3 -> 64 + 8 bytes
    assert(got(1L) == ((2, 72, "a" * 64)))
    assert(got(2L) == ((1, 64, "b" * 64)))
    assert(got(3L)._1 == 0 && got(3L)._2 == 0)
    // resize: average-pool 4 -> 2
    val pooled = Seq(Tuple1(Seq(1f, 3f, 5f, 7f))).toDF("features")
      .select(Multimodal.resizePooled(col("features"), 2).as("r"))
      .as[Seq[Float]].head()
    assert(pooled == Seq(2f, 6f))
  }

  test("text: gopher structural filters match hand-computed features") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again today " +
        "more words to cross twenty tokens easily ok fine"),
      (2L, "1 2 3 4 5"),
      (3L, "wait ... what ... no")).toDF("doc_id", "text")
    val got = TextAnalysis.gopherQuality(docs)
      .select("doc_id", "frac_alpha", "frac_numeric", "n_ellipsis", "gopher_ok")
      .as[(Long, Double, Double, Int, Int)].collect()
      .map(r => r._1 -> (r._2, r._3, r._4, r._5)).toMap
    assert(got(1L) == ((1.0, 0.0, 0, 1)))   // 22 prose tokens pass the gate
    assert(got(2L) == ((0.0, 1.0, 0, 0)))   // pure digits fail frac_alpha
    assert(got(3L)._3 == 2)                 // two '...' occurrences
    assert(got(3L)._4 == 0)                 // under 20 tokens
  }

  test("text: token frequency stats are exact on a tiny corpus") {
    val docs = Seq((1L, "a a b"), (2L, "b c")).toDF("doc_id", "text")
    val got = TextAnalysis.tokenFreqStats(docs)
      .select("doc_id", "n_tokens", "sum_freq", "min_freq", "n_rare")
      .as[(Long, Int, Long, Long, Int)].collect()
      .map(r => r._1 -> (r._2, r._3, r._4, r._5)).toMap
    // corpus freqs: a=2 b=2 c=1
    assert(got(1L) == ((3, 6L, 2L, 3)))
    assert(got(2L) == ((2, 3L, 1L, 2)))
  }

  test("curation: pii scrub counts and redacts the injected patterns") {
    val docs = Seq((10L, "hello world"), (3L, "clean text here"),
      (15L, "before tail")).toDF("doc_id", "text")
    val got = Curation.piiScrub(Curation.corpusWithPii(docs))
      .select("doc_id", "n_emails", "n_ips", "n_phones", "pii_found", "redacted")
      .as[(Long, Int, Int, Int, Int, String)].collect()
      .map(r => r._1 -> (r._2, r._3, r._4, r._5, r._6)).toMap
    assert(got(10L) ==
      ((1, 1, 1, 1, "hello world contact <EMAIL> ip <IP> tel <PHONE>")))
    assert(got(3L) == ((0, 0, 0, 0, "clean text here")))
    assert(got(15L) == ((1, 1, 0, 1, "before tail <EMAIL> from <IP>")))
  }

  test("curation: decontamination flags exactly the eval-overlapping docs") {
    val docs = Seq(
      (1L, "alpha beta gamma delta"),
      (2L, "alpha beta gamma other words"),
      (3L, "completely different text here")).toDF("doc_id", "text")
    val got = Curation.decontaminate(docs, docs.where(col("doc_id") === 1))
      .select("doc_id", "n_shingles", "n_contam", "contam_ratio")
      .as[(Long, Int, Int, Double)].collect()
      .map(r => r._1 -> (r._2, r._3, r._4)).toMap
    assert(got(1L) == ((2, 2, 1.0)))       // the eval doc itself: fully hit
    assert(got(2L) == ((3, 1, 0.333333)))  // shares 'alpha beta gamma'
    assert(!got.contains(3L))              // clean doc not emitted
  }

  test("similarity: semantic dedup equals exhaustive within-cell cosine") {
    val corpus = Similarity.corpusWithNearDupVecs(embeddings)
    val got = Similarity.semanticDedupPairs(corpus)
      .select("vec_id_a", "vec_id_b").as[(Long, Long)].collect().toSet
    // reference: the window/self-join formulation the operator avoids
    val e = corpus.select(col("vec_id"), col("v"))
      .withColumn("norm", sqrt(Similarity.dot(col("v"), col("v"))))
    val cents = e.where(col("vec_id") < 16)
      .select(col("vec_id").as("cell_id"), col("v").as("cv"), col("norm").as("cn"))
    import org.apache.spark.sql.expressions.Window
    val asg = e.crossJoin(cents)
      .select(col("vec_id"), col("cell_id"),
        (Similarity.dot(col("v"), col("cv")) / (col("norm") * col("cn"))).as("cs"))
      .withColumn("rk", row_number().over(Window.partitionBy("vec_id")
        .orderBy(col("cs").desc, col("cell_id"))))
      .where(col("rk") === 1).select("vec_id", "cell_id")
    val ew = e.join(asg, "vec_id")
    val a = ew.select(col("cell_id"), col("vec_id").as("ida"),
      col("v").as("va"), col("norm").as("na"))
    val b = ew.select(col("cell_id"), col("vec_id").as("idb"),
      col("v").as("vb"), col("norm").as("nb"))
    val exact = a.join(b, Seq("cell_id")).where(col("ida") < col("idb"))
      .where(Similarity.dot(col("va"), col("vb")) / (col("na") * col("nb")) >= 0.9)
      .select("ida", "idb").as[(Long, Long)].collect().toSet
    assert(got.nonEmpty && got == exact)
  }

  test("curation: classifier weak label equals the gopher gate exactly") {
    // the label is a FUSED copy of gopherQuality's composite gate (one
    // projection, no join) — this pins the two formulations together so an
    // edit to one cannot silently drift the other
    val fused = Curation.qualityClassifier(documents)
      .select(col("doc_id"), col("weak_label"))
    val source = TextAnalysis.gopherQuality(documents)
      .select(col("doc_id"), col("gopher_ok").as("weak_label"))
    assert(fused.exceptAll(source).isEmpty && source.exceptAll(fused).isEmpty)
  }

  test("curation: quality classifier recovers the weak labels out of sample") {
    val got = Curation.qualityClassifier(documents).cache()
    // held-out docs only (training used doc_id%3=0)
    val held = got.where(col("doc_id") % 3 =!= 0)
    val n = held.count()
    val agree = held.where(col("pred_ok") === col("weak_label")).count()
    assert(n > 100, s"held-out set too small: $n")
    assert(agree.toDouble / n >= 0.9,
      s"held-out agreement ${agree.toDouble / n} below 0.9")
    // scores are calibrated probabilities in [0,1], both classes present
    import org.apache.spark.sql.Row
    val Row(mn: Double, mx: Double) =
      got.agg(min("p_quality"), max("p_quality")).head()
    assert(mn >= 0.0 && mx <= 1.0)
    assert(got.select("weak_label").distinct().count() == 2,
      "weak labels must be balanced enough to exercise both classes")
    got.unpersist()
  }

  test("as-of join: latest prior right row per key, inclusive ties, left semantics") {
    import java.sql.Timestamp
    def ts(s: Long) = new Timestamp(s * 1000L)
    val events = Seq(
      (1L, 10L, "click", ts(10)), (1L, 11L, "click", ts(20)),
      (1L, 12L, "purchase", ts(25)),   // -> click 11 (latest prior)
      (1L, 13L, "purchase", ts(5)),    // -> no prior click (NULL)
      (2L, 20L, "click", ts(30)), (2L, 21L, "purchase", ts(30)),
      // simultaneous click matches (inclusive <=)
      (3L, 31L, "purchase", ts(99)),   // user with no clicks at all
      // two clicks at the SAME timestamp: the max-tiebreak (click_id) wins
      (4L, 40L, "click", ts(40)), (4L, 41L, "click", ts(40)),
      (4L, 42L, "purchase", ts(45))
    ).toDF("user_id", "event_id", "event_type", "ts")
    val got = AsOf.purchaseAttribution(events)
      .select("purchase_id", "click_id", "gap_s")
      .as[(Long, Option[Long], Option[Long])].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    assert(got(12L) == ((Some(11L), Some(5L))))
    assert(got(13L) == ((None, None)))
    assert(got(21L) == ((Some(20L), Some(0L))))
    assert(got(31L) == ((None, None)))
    assert(got(42L) == ((Some(41L), Some(5L))))  // deterministic tie pick
    // one output row per purchase, no fan-out
    assert(got.size == 5)

    // plan shape: the as-of is a union + ONE keyed shuffle + window sweep —
    // no Join node anywhere (an inequality join would nested-loop at scale)
    val plan = AsOf.purchaseAttribution(events).queryExecution
    import org.apache.spark.sql.catalyst.plans.logical.Join
    assert(plan.optimizedPlan.collect { case j: Join => j }.isEmpty,
      "as-of must not plan a join")
    val exchanges = "Exchange hashpartitioning".r
      .findAllIn(plan.executedPlan.toString).size
    assert(exchanges == 1, s"as-of must shuffle exactly once, found $exchanges")
  }

  test("text: characteristic terms rank by tf desc then rarity then term") {
    val docs = Seq(
      (1L, "x x x common rare"),    // x tf=3; 'rare' df=1 beats 'common' df=2
      (2L, "common stuff")).toDF("doc_id", "text")
    val got = TextAnalysis.characteristicTerms(docs)
      .select("doc_id", "rank", "term").as[(Long, Int, String)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    assert(got((1L, 1)) == "x")
    assert(got((1L, 2)) == "rare")    // df 1 < common's df 2 at equal tf
    assert(got((1L, 3)) == "common")
    assert(got((2L, 1)) == "stuff")   // df 1 beats 'common' df 2
    assert(got((2L, 2)) == "common")
  }

  test("multimodal: stub decode features are deterministic and normalized") {
    val media = Multimodal.mediaTable(documents)
    val feats = Multimodal.extractFeatures(spark, media).cache()
    val f = feats.filter(_.doc_id == 0L).collect().head
    assert(f.features.length == 16)
    assert(math.abs(f.features.sum - 1.0f) < 1e-3)
    val n = documents.where(col("doc_id") === 0).select(length(col("text")))
      .as[Int].collect().head
    assert(f.n_bytes == n && f.n_frames == (n + 63) / 64)
    feats.unpersist()
  }
}
