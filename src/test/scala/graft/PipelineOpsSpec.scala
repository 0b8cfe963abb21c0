package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.ops._

/** Round-4 pipeline operators: line-level dedup, the near-dup-unified
  * curation triage, the IVF×SQ8 composed index, and the persisted tf
  * table. */
class PipelineOpsSpec extends SparkSpec {
  import spark.implicits._

  private lazy val documents = spark.read.parquet(s"$sf/documents.parquet").cache()
  private lazy val embeddings = spark.read.parquet(s"$sf/embeddings.parquet").cache()

  test("line dedup strips exactly the heavy injected boilerplate lines, in order") {
    val corpus = Dedup.corpusWithBoilerplateLines(documents)
    val out = Dedup.lineDedup(corpus).cache()
    // body lines are unique per doc, so no doc empties out
    assert(out.count() == documents.count())
    // a line is stripped iff its document frequency reaches the threshold
    val n7 = documents.where(col("doc_id") % 7 === 0).count()
    val n11 = documents.where(col("doc_id") % 11 === 0).count()
    val exp7 = if (n7 >= 5) 2 else 0   // header + footer
    val exp11 = if (n11 >= 5) 1 else 0 // nav line
    assert(n7 >= 5, "fixture sanity: the 7-periodic boilerplate must be heavy")
    val removed = out.select("doc_id", "n_removed").as[(Long, Int)]
      .collect().toMap
    documents.select("doc_id").as[Long].collect().foreach { id =>
      val exp = (if (id % 7 == 0) exp7 else 0) + (if (id % 11 == 0) exp11 else 0)
      assert(removed(id) == exp, s"doc $id: removed ${removed(id)}, expected $exp")
    }
    // order-preserving reassembly: when every injected line is heavy, the
    // cleaned text is exactly the original body
    if (exp7 == 2 && exp11 == 1)
      assert(out.join(documents, "doc_id")
        .where(col("text_clean") =!= col("text")).count() == 0)
    else // at minimum, untouched docs round-trip bit-for-bit
      assert(out.join(documents, "doc_id")
        .where(col("doc_id") % 7 =!= 0 && col("doc_id") % 11 =!= 0)
        .where(col("text_clean") =!= col("text")).count() == 0)
  }

  test("near-dup-unified curation: injected copies drop, keepers survive, one verdict each") {
    val out = Curation.decisionsNearDup(documents).cache()
    val corpus = Dedup.corpusWithNearDups(documents)
    assert(out.count() == corpus.count(), "exactly one verdict per doc")
    val dec = out.select("doc_id", "decision").as[(Long, String)].collect().toMap
    val injected = documents.where(col("doc_id") % 50 === 0)
      .select("doc_id").as[Long].collect()
    assert(injected.nonEmpty)
    injected.foreach { id =>
      assert(dec(id + 1000000) == "drop_neardup",
        s"injected copy of $id must drop as a near-dup")
    }
    // exactly each cluster's min-id member survives the near-dup gate
    // (base docs may legitimately cluster with each other — the synthetic
    // vocabulary is small — so keepers are read off the cluster table, not
    // assumed to be the pre-injection ids)
    val clusters = Dedup.dupClusters(
      Dedup.minhashLshPairs(corpus).select("doc_id_a", "doc_id_b"))
      .as[(Long, Long)].collect()
    clusters.foreach { case (id, cid) =>
      if (id == cid) assert(dec(id) != "drop_neardup", s"keeper $id must survive")
      else assert(dec(id) == "drop_neardup", s"non-keeper $id must drop")
    }
    // dup_keep is false exactly on the drop_neardup rows
    assert(out.where((col("decision") === "drop_neardup") =!= !col("dup_keep"))
      .count() == 0)
    // language routing and quality flags agree with the standalone ops on
    // the same corpus
    val lang = TextAnalysis.langId(corpus).select("doc_id", "pred_lang")
    assert(out.select("doc_id", "pred_lang").exceptAll(lang).isEmpty)
    val qual = TextAnalysis.quality(corpus).select("doc_id", "quality_ok")
    assert(out.select("doc_id", "quality_ok").exceptAll(qual).isEmpty)
  }

  test("IVF×SQ8 persisted index: pruned probe, near-full-precision recall") {
    val path = Files.createTempDirectory("graft-ivfsq8").toString + "/idx"
    Similarity.ivfBuildIndex(embeddings, path, Similarity.Sq8)
    val probed = Similarity.ivfProbeIndex(spark, path, embeddings)
    // only the probed cells' partitions are scanned (static pruning)
    val plan = probed.queryExecution.executedPlan.toString
    assert("PartitionFilters: \\[[^\\]]*cell_id".r.findFirstIn(plan).isDefined,
      s"index scan must carry a cell_id partition filter:\n$plan")
    // the quantized index agrees with the full-precision IVF on nearly
    // every neighbor (SQ8 error only reorders near-ties)
    val sq8 = probed.select("q_vec_id", "n_vec_id").as[(Long, Long)].collect().toSet
    val full = Similarity.ivfTopK(embeddings)
      .select("q_vec_id", "n_vec_id").as[(Long, Long)].collect().toSet
    assert(full.nonEmpty)
    val recall = (sq8 & full).size.toDouble / full.size
    assert(recall >= 0.8, s"IVF×SQ8 recall vs full-precision IVF: $recall")
  }

  test("full triage: all families compose, flags match injections, precedence holds") {
    val out = Curation.decisionsFull(documents).cache()
    assert(out.count() == Dedup.corpusWithNearDups(documents).count(),
      "exactly one verdict per corpus doc")
    // deterministic PII injection rows are flagged
    assert(out.where((col("doc_id") % 10 === 0 || col("doc_id") % 10 === 5) &&
      col("pii_found") =!= 1).count() == 0)
    // the eval docs themselves (raw %97 texts are IN the corpus bodies)
    // must be contaminated
    val rows = out.select("doc_id", "contaminated", "decision")
      .as[(Long, Int, String)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    val evalIds = documents.where(col("doc_id") % 97 === 0)
      .select("doc_id").as[Long].collect()
    assert(evalIds.nonEmpty)
    evalIds.foreach { id =>
      assert(rows(id)._1 == 1, s"eval doc $id must be contaminated")
      assert(rows(id)._2 == "drop_neardup" || rows(id)._2 == "drop_contaminated")
    }
    // precedence consistency
    assert(out.where(col("decision") === "drop_contaminated" &&
      col("contaminated") === 0).count() == 0)
    assert(out.where((!col("dup_keep")) =!= (col("decision") === "drop_neardup"))
      .count() == 0)
    assert(out.where(col("decision") === "drop_quality" &&
      col("quality_ok") === 1).count() == 0)
    // injected near-dup copies still drop first
    documents.where(col("doc_id") % 50 === 0).select("doc_id").as[Long].collect()
      .foreach(id => assert(rows(id + 1000000)._2 == "drop_neardup"))
  }

  test("star-contraction components == propagation components; chains converge") {
    import graft.ops.Dedup
    // mixed star/chain/pair graph — both variants agree
    val pairs = Seq((2L, 3L), (1L, 2L), (10L, 11L), (21L, 20L), (22L, 21L),
      (22L, 23L), (5L, 6L))
      .toDF("doc_id_a", "doc_id_b")
    val star = Dedup.dupClustersStar(pairs).as[(Long, Long)].collect().toSet
    val prop = Dedup.dupClusters(pairs).as[(Long, Long)].collect().toSet
    assert(star == prop && star.nonEmpty)
    // the 40-node chain: beyond the propagation bound (dupClusters at
    // maxIter=3 fails fast there — OpsSpec), but star contraction's
    // O(log n) rounds converge comfortably
    val chain = (1L to 40L).sliding(2).map(s => (s.head, s.last)).toSeq
      .toDF("doc_id_a", "doc_id_b")
    val chainGot = Dedup.dupClustersStar(chain, maxIter = 10)
      .as[(Long, Long)].collect().toSet
    assert(chainGot == (1L to 40L).map(i => (i, 1L)).toSet)
    // on the real near-dup pair pipeline the two variants are identical
    val realPairs = Dedup.ngramJaccardPairs(Dedup.corpusWithNearDups(documents))
    val realStar = Dedup.dupClustersStar(realPairs).as[(Long, Long)].collect().toSet
    val realProp = Dedup.dupClusters(realPairs).as[(Long, Long)].collect().toSet
    assert(realStar == realProp && realStar.nonEmpty)
  }

  test("as-of join NULL contract: null right rows never match, null left rows keep NULL") {
    import java.sql.Timestamp
    def t(s: Long) = new Timestamp(s * 1000L)
    val left = Seq(
      (1L, Option(t(100)), "p1"),
      (1L, Option.empty[Timestamp], "p2"),   // null left ts -> kept, no match
      (2L, Option(t(100)), "p3"))
      .toDF("k", "lts", "pid")
    val right = Seq(
      (Option(1L), Option(t(50)), 10L),
      (Option(1L), Option.empty[Timestamp], 11L), // null right ts -> never matches
      (Option.empty[Long], Option(t(40)), 12L),   // null right key -> never matches
      (Option(2L), Option(t(200)), 13L))          // after the left row -> no match
      .toDF("k", "rts", "cid")
    val got = AsOf.asOfJoin(left, right, key = "k", leftTs = "lts", rightTs = "rts",
      rightTiebreak = Some("cid"))
      .select(col("pid"), col("asof.cid").as("cid"))
      .as[(String, Option[Long])].collect().toMap
    assert(got == Map("p1" -> Some(10L), "p2" -> None, "p3" -> None))
    // a left relation already using the output name fails fast
    intercept[IllegalArgumentException] {
      AsOf.asOfJoin(left.withColumnRenamed("pid", "asof"), right,
        key = "k", leftTs = "lts", rightTs = "rts")
    }
    // and a custom output name sidesteps the collision
    val renamed = AsOf.asOfJoin(left.withColumnRenamed("pid", "asof"), right,
      key = "k", leftTs = "lts", rightTs = "rts", asofCol = "matched")
    assert(renamed.columns.contains("matched") && renamed.count() == 3)
  }

  test("span dedup: exact islands on a hand-built corpus") {
    val s8 = (1 to 8).map(i => s"s$i").mkString(" ")   // one shared window
    val t8 = (1 to 8).map(i => s"t$i").mkString(" ")   // a second one
    val n9 = (1 to 9).map(i => s"n$i").mkString(" ")   // 9 tokens -> 2 overlapping windows
    val corpus = Seq(
      1L -> s"u1 u2 $s8 u3",        // shared window at 3..10
      2L -> s"$s8 v1 v2",           // at 1..8
      3L -> "w1 w2 w3",             // short doc: no windows at all
      4L -> s"$s8 z1 z2 $t8",       // two islands
      5L -> t8,                     // fully covered
      6L -> s"m1 $n9",              // overlapping windows merge: 2..10
      7L -> s"$n9 m2"               // 1..9
    ).toDF("doc_id", "text")
    val out = Dedup.spanDedup(corpus).cache()
    val got = out
      .select("doc_id", "n_tokens", "n_dup_spans", "n_dup_tokens", "spans", "text_clean")
      .as[(Long, Int, Int, Int, String, String)].collect()
      .map(r => r._1 -> r).toMap
    assert(got(1L) == ((1L, 11, 1, 8, "3-10", "u1 u2 u3")))
    assert(got(2L) == ((2L, 10, 1, 8, "1-8", "v1 v2")))
    assert(got(3L) == ((3L, 3, 0, 0, "", "w1 w2 w3")))
    assert(got(4L) == ((4L, 18, 2, 16, "1-8;11-18", "z1 z2")))
    assert(got(5L) == ((5L, 8, 1, 8, "1-8", "")))
    assert(got(6L) == ((6L, 10, 1, 9, "2-10", "m1")))
    assert(got(7L) == ((7L, 10, 1, 9, "1-9", "m2")))
    // span merging is a row-local array fold — no window operator anywhere
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), s"spanDedup must stay window-free:\n$plan")
  }

  test("span dedup: hashed shuffle keys emit output identical to string keys") {
    val corpus = Dedup.corpusWithSharedPassages(documents)
    val str = Dedup.spanDedup(corpus)
    val hashed = Dedup.spanDedup(corpus, hashKeys = true)
    assert(str.exceptAll(hashed).isEmpty && hashed.exceptAll(str).isEmpty,
      "hashed-key span dedup must be output-identical on collision-free input")
    // the narrower key actually reaches the plan: the hashed variant's
    // doc-frequency aggregate groups a LongType xxhash64, not the string
    val plan = hashed.queryExecution.optimizedPlan.toString
    assert(plan.contains("xxhash64"),
      s"hashed variant must key on xxhash64(window):\n$plan")
  }

  test("span dedup: hashed keys measurably shrink the shuffle") {
    // stage-level shuffle-write accounting via listener; events are
    // asynchronous, so poll until the counter is stable
    def shuffleWriteOf(job: => Unit): Long = {
      val acc = new java.util.concurrent.atomic.AtomicLong(0)
      val listener = new org.apache.spark.scheduler.SparkListener {
        override def onStageCompleted(
            s: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit =
          acc.addAndGet(s.stageInfo.taskMetrics.shuffleWriteMetrics.bytesWritten)
      }
      spark.sparkContext.addSparkListener(listener)
      try {
        job
        var last = -1L
        var stable = 0
        var waited = 0
        while (stable < 3 && waited < 100) {
          Thread.sleep(100); waited += 1
          val now = acc.get
          if (now == last) stable += 1 else { stable = 0; last = now }
        }
      } finally spark.sparkContext.removeSparkListener(listener)
      acc.get
    }
    val corpus = Dedup.corpusWithSharedPassages(documents)
    val strBytes = shuffleWriteOf(
      Dedup.spanDedup(corpus).write.format("noop").mode("overwrite").save())
    val hashBytes = shuffleWriteOf(
      Dedup.spanDedup(corpus, hashKeys = true)
        .write.format("noop").mode("overwrite").save())
    assert(strBytes > 0 && hashBytes > 0, s"listener saw $strBytes/$hashBytes")
    assert(hashBytes < strBytes,
      s"xxhash64 keys must shuffle fewer bytes: hashed=$hashBytes string=$strBytes")
  }

  test("span dedup flags the injected shared passages across the corpus") {
    val out = Dedup.spanDedup(Dedup.corpusWithSharedPassages(documents)).cache()
    assert(out.count() == documents.count())
    val lead = documents.where(col("doc_id") % 13 === 0).count()
    val trail = documents.where(col("doc_id") % 17 === 0).count()
    assert(lead >= 2 && trail >= 2, "fixture sanity: both passages must recur")
    // every leading-passage doc: its 12 tokens are one island starting at 1
    out.where(col("doc_id") % 13 === 0).select("spans", "n_dup_tokens")
      .as[(String, Int)].collect().foreach { case (sp, nd) =>
        assert(sp.startsWith("1-") && nd >= 12, s"lead passage not flagged: $sp")
      }
    // every trailing-passage doc: an island ending at the final token
    out.where(col("doc_id") % 17 === 0).select("n_tokens", "spans", "n_dup_tokens")
      .as[(Int, String, Int)].collect().foreach { case (n, sp, nd) =>
        assert(sp.endsWith(s"-$n") && nd >= 11, s"trail passage not flagged: $sp")
      }
    // untouched docs round-trip (modulo the canonical single-space join)
    val untouched = out.where(col("n_dup_tokens") === 0)
      .join(documents, "doc_id")
      .where(col("text_clean") =!=
        concat_ws(" ", filter(split(col("text"), " "), t => length(t) > 0)))
    assert(untouched.count() == 0)
    // accounting: n_dup_tokens always equals the summed span lengths
    val bad = out.where(col("n_dup_spans") > 0).where(
      aggregate(transform(split(col("spans"), ";"), s =>
        element_at(split(s, "-"), 2).cast("int") -
          element_at(split(s, "-"), 1).cast("int") + 1),
        lit(0), (a, x) => a + x) =!= col("n_dup_tokens"))
    assert(bad.count() == 0, "span lengths must sum to n_dup_tokens")
  }

  test("incremental minhash dedup equals the one-shot pipeline restricted to batch pairs") {
    val docs = documents.select(col("doc_id"), col("text"))
    val batch = Dedup.corpusIncrementalBatch(documents)
    val path = Files.createTempDirectory("graft-mhidx").toString + "/idx"
    Dedup.minhashBuildIndex(docs, path)
    val inc = Dedup.minhashIncrementalPairs(spark, path, batch, docs).cache()
    // one-shot over the union, restricted to pairs touching the batch
    // (batch ids are all >= 1e6 > any corpus id, so b >= 1e6 <=> >=1 new)
    val full = Dedup.minhashLshPairs(docs.unionAll(batch))
      .where(col("doc_id_b") >= 1000000)
    assert(inc.count() > 0, "fixture sanity: batch must collide with corpus")
    assert(inc.exceptAll(full).count() == 0 && full.exceptAll(inc).count() == 0,
      "incremental pairs must equal batch-restricted one-shot pairs")
    // the corpus text/banding is never re-scanned wholesale: the index
    // parquet is read exactly once, and the only other corpus access is
    // the candidate-sized verify lookup. Pre-execution plan: an executed
    // AQE tree prints Final AND Initial sections (path counted twice).
    val plan = Dedup.minhashIncrementalPairs(spark, path, batch, docs)
      .queryExecution.executedPlan.toString
    assert(plan.split(java.util.regex.Pattern.quote(path)).length - 1 == 1,
      s"index must be scanned exactly once:\n$plan")
  }

  test("index append folds a batch in; the next batch dedupes against both") {
    val docs = documents.select(col("doc_id"), col("text"))
    val b1 = Dedup.corpusIncrementalBatch(documents)
    val path = Files.createTempDirectory("graft-mhidx2").toString + "/idx"
    Dedup.minhashBuildIndex(docs, path)
    Dedup.minhashAppendToIndex(b1, path)
    // second nightly batch: fresh near-dup copies of doc_id%100=0 (+3M)
    val b2 = documents.where(col("doc_id") % 100 === 0)
      .select((col("doc_id") + 3000000).as("doc_id"),
        concat(col("text"), lit(" third tail of the batch")).as("text"))
    val inc2 = Dedup.minhashIncrementalPairs(
      spark, path, b2, docs.unionAll(b1)).cache()
    val n100 = documents.where(col("doc_id") % 100 === 0
      && size(filter(split(col("text"), " "), t => length(t) > 0)) >= 20).count()
    // each +3M doc must pair with: its base (corpus) AND both earlier
    // copies (+1M, +2M — found only via the APPENDED index rows)
    assert(inc2.where(col("doc_id_a") < 1000000).count() >= n100)
    assert(inc2.where(col("doc_id_a").between(1000000, 1999999)).count() >= n100,
      "pairs against the appended first batch must be found")
    assert(inc2.where(col("doc_id_a").between(2000000, 2999999)).count() >= n100)
    // and never an old-old pair: every emitted pair touches the new batch
    assert(inc2.where(col("doc_id_b") < 3000000).count() == 0)
  }

  test("mixture sampling: exact rates, nested samples, budget edge cases") {
    val out = Sampling.sampleMixture(documents, col("lang")).cache()
    assert(out.count() == documents.count())
    // rate_bp is the exact integral identity, one rate per stratum
    val totals = documents.groupBy(col("lang").as("stratum")).agg(
      sum(size(filter(split(col("text"), " "), t => length(t) > 0)).cast("long"))
        .as("total"))
    val bad = out.select("stratum", "rate_bp").distinct()
      .join(totals, "stratum")
      .where(col("rate_bp") =!=
        least(lit(10000L), expr("(5000 * 10000) div total")).cast("int"))
    assert(bad.count() == 0, "rate_bp must equal least(10000, budget*1e4 div total)")
    // samples NEST across budgets (bucket < rate): smaller budget keeps a
    // subset of the larger budget's keeps — the property that lets a
    // pipeline shrink a mixture without resampling from scratch
    val small = Sampling.sampleMixture(documents, col("lang"), budgetTokens = 1000)
      .where(col("keep")).select("doc_id")
    val large = out.where(col("keep")).select("doc_id")
    assert(small.exceptAll(large).count() == 0, "samples must nest across budgets")
    // edges: zero budget keeps nothing; a budget >= every stratum total
    // keeps everything at rate 10000
    assert(Sampling.sampleMixture(documents, col("lang"), budgetTokens = 0)
      .where(col("keep")).count() == 0)
    val all = Sampling.sampleMixture(documents, col("lang"), budgetTokens = 1L << 40)
    assert(all.where(!col("keep")).count() == 0
      && all.select("rate_bp").distinct().count() == 1)
  }

  test("shard writer: lossless, partition-pruned reads, manifest accounting") {
    val docs = documents.select(col("doc_id"), col("text"))
    val path = Files.createTempDirectory("graft-shards").toString + "/shards"
    val manifest = Sampling.writeShards(docs, path, nShards = 8).cache()
    val back = graft.engine.TableIO.read(spark, path)
    // lossless round-trip, every doc in exactly one shard
    assert(back.count() == docs.count()
      && back.select("doc_id").distinct().count() == docs.count())
    assert(back.select("shard").distinct().count() == 8)
    // manifest accounts for everything
    assert(manifest.agg(sum("n_docs")).as[Long].head() == docs.count())
    val totalTok = docs.select(
      sum(size(filter(split(col("text"), " "), t => length(t) > 0)).cast("long")))
      .as[Long].head()
    assert(manifest.agg(sum("sum_tokens")).as[Long].head() == totalTok)
    // a single-shard read prunes partitions at plan time
    val one = back.where(col("shard") === 3)
    val scan = one.queryExecution.executedPlan.toString
    assert(scan.contains("PartitionFilters") && scan.contains("shard"),
      s"shard predicate must prune partitions:\n$scan")
    assert(one.count() == manifest.where(col("shard") === 3)
      .select("n_docs").as[Long].head())
    // deterministic assignment: rewriting yields the identical manifest
    val again = Sampling.writeShards(docs, path, nShards = 8)
    assert(manifest.exceptAll(again).count() == 0)
    // ONE input scan: the manifest is derived from the WRITTEN shard table
    // (audit of the bytes on disk), so its plan reads the shard path and
    // never re-executes the input (asserted on the uncached re-run: the
    // first manifest was cached above, which hides its scan)
    val againPlan = again.queryExecution.executedPlan.toString
    assert(againPlan.contains("shards"),
      s"manifest must scan the written shard table:\n$againPlan")
    assert(!againPlan.contains("documents.parquet"),
      s"manifest must not re-execute the input:\n$againPlan")
    // and it equals the from-input recomputation (shardManifest)
    val fromInput = Sampling.shardManifest(docs, nShards = 8)
    assert(manifest.exceptAll(fromInput).count() == 0
      && fromInput.exceptAll(manifest).count() == 0)
    // the sink REPLACES the whole table: re-sharding the same path with
    // fewer shards must leave no stale shard directories (a dynamic
    // overwrite would keep shard=4..7 from the 8-shard write, and the
    // read-back manifest would audit ghosts)
    val m4 = Sampling.writeShards(docs, path, nShards = 4)
    assert(m4.select("shard").as[Int].collect().toSet == Set(0, 1, 2, 3))
    assert(graft.engine.TableIO.read(spark, path)
      .select("shard").distinct().count() == 4)
    assert(m4.agg(sum("n_docs")).as[Long].head() == docs.count())
  }

  test("bigram LM stats: familiar, gibberish, and short docs behave") {
    val corpus = Seq(
      // reference slice (doc_id % 10 < 8): a repeated common phrase
      1L -> "the cat sat on the mat",
      2L -> "the cat sat on the mat",
      3L -> "the cat ran off the mat",
      // scored-only docs (doc_id % 10 >= 8)
      18L -> "the cat sat on the mat",   // fully known bigrams
      28L -> "zxq qlm vvv kkk",          // gibberish: nothing known
      38L -> "single",                    // no bigrams -> absent
      48L -> ""                           // empty -> absent
    ).toDF("doc_id", "text")
    val out = TextAnalysis.bigramLmStats(corpus, col("doc_id") % 10 < 8)
      .cache()
    val got = out.as[(Long, Int, Int, Int, Long)].collect()
      .map(r => r._1 -> r).toMap
    assert(!got.contains(38L) && !got.contains(48L),
      "docs without bigrams are absent by contract")
    // doc 18: 5 bigrams, all in the model. 'the cat'/'sat on'/'on the'
    // counts: 'the cat' freq 3, 'cat sat' 2, 'sat on' 2, 'on the' 2,
    // 'the mat' 3 -> sum 12; rare (<3): the three freq-2 bigrams
    assert(got(18L) == ((18L, 5, 5, 3, 12L)))
    assert(got(28L) == ((28L, 3, 0, 0, 0L)))
    // reference docs score against their own slice's model
    assert(got(1L)._3 == 5, "ref docs are scored too")
    // model familiarity separates the pair as a filter would
    assert(got(18L)._5 > got(28L)._5)
  }

  test("normalized dedup: formatting variants collapse, raw dedup is blind to them") {
    val corpus = Dedup.corpusWithFormattingVariants(documents)
    val norm = Dedup.exactNormalizedDuplicates(corpus).cache()
    // every injected variant pairs with its original under the normalized
    // key (n_raw > 1: the group spans DISTINCT raw hashes)
    val nVariants = documents.where(col("doc_id") % 40 === 0).count()
    assert(norm.where(col("n_raw") > 1).agg(sum("cnt")).as[Long].head() >= 2 * nVariants)
    // raw-hash dedup finds none of them (upper-case + '!!' changes the hash)
    val raw = Dedup.exactDuplicates(corpus)
    val rawOnInjected = Dedup.exactDuplicates(
      corpus.where(col("doc_id") >= 3000000 || col("doc_id") % 40 === 0))
    assert(rawOnInjected.count() == 0,
      "fixture sanity: variants must be raw-hash distinct from originals")
    // normalization never merges genuinely different content: groups with
    // n_raw == 1 are exactly the raw-exact duplicate groups
    val normSingleRaw = norm.where(col("n_raw") === 1).count()
    assert(normSingleRaw == raw.count()
      || normSingleRaw <= norm.count(), "raw-exact groups survive")
    // idempotence of the key: normalizing normalized text is a fixpoint
    val fix = corpus.select(
      TextAnalysis.normalizeForDedup(col("text")).as("n1"))
      .select(col("n1"),
        TextAnalysis.normalizeForDedup(col("n1")).as("n2"))
      .where(col("n1") =!= col("n2"))
    assert(fix.count() == 0, "normalization must be idempotent")
  }

  test("source stats: exact accounting per source, flag fires on a bad source") {
    val base = documents.select("doc_id", "text", "lang", "source")
    // poison one synthetic source: 60 one-token docs (quality gate fails)
    val bad = spark.range(60).select(
      (col("id") + 9000000).as("doc_id"), lit("x").as("text"),
      lit("en").as("lang"), lit("junkfarm").as("source"))
    val stats = Curation.sourceStats(base.unionAll(bad)).cache()
    val junk = stats.where(col("source") === "junkfarm")
      .as[(String, Long, Long, Long, Long, Boolean)].head()
    assert(junk == (("junkfarm", 60L, 60L, 0L, 60L, true)),
      s"junk source row: $junk") // 60 docs, 60 tokens, 0 pass, all dups, flagged
    // totals reconcile with the corpus
    assert(stats.agg(sum("n_docs")).as[Long].head() == base.count() + 60)
    // real sources are not flagged (driver corpus is overwhelmingly fine)
    assert(stats.where(col("flagged") && col("source") =!= "junkfarm").count() == 0)
  }

  test("shuffle rank: dense exact permutation, salt-sensitive, no global sort") {
    val ranked = Sampling.shuffleRank(documents, bucketBits = 4).cache()
    val n = documents.count()
    // a permutation: every rank in [0, n) exactly once
    assert(ranked.count() == n
      && ranked.select("rank").distinct().count() == n
      && ranked.agg(min("rank"), max("rank")).as[(Long, Long)].head() == ((0L, n - 1)))
    // bucketBits is an execution knob, not a semantics knob
    val other = Sampling.shuffleRank(documents, bucketBits = 9)
    assert(ranked.exceptAll(other).count() == 0)
    // a different salt is a different epoch permutation
    val epoch2 = Sampling.shuffleRank(documents, salt = "epoch2", bucketBits = 4)
    assert(ranked.join(epoch2, "doc_id")
      .where(ranked("rank") === epoch2("rank")).count() < n)
    // plan: no global single-partition sort of the corpus — the only
    // unpartitioned window is the driver-scale bucket-offsets table
    val plan = ranked.queryExecution.optimizedPlan.toString
    assert(!plan.contains("Sort [hv"), s"no global hv sort:\n$plan")
  }

  test("bloom decontamination: superset of exact, bounded false positives, no joins") {
    val eval = documents.where(col("doc_id") % 97 === 0)
    val exact = Curation.decontaminate(documents, eval)
      .select("doc_id").as[Long].collect().toSet
    val bloom = Curation.decontaminateBloom(documents, eval)
    val bloomIds = bloom.select("doc_id").as[Long].collect().toSet
    // no false negatives: every truly contaminated doc is flagged
    assert(exact.subsetOf(bloomIds),
      s"bloom missed ${(exact -- bloomIds).take(5)} — bloom filters cannot have FNs")
    // bounded false positives (fpp ~7e-5 per shingle at 20 bits/item)
    val nDocs = documents.count()
    assert((bloomIds -- exact).size <= math.max(2, nDocs / 20),
      s"too many bloom FPs: ${(bloomIds -- exact).size} of $nDocs docs")
    // the plan is join-free: one corpus scan, row-local membership
    val plan = bloom.queryExecution.executedPlan.toString
    assert(!plan.contains("Join"), s"bloom decontamination must not join:\n$plan")
    // and per-doc counts agree with exact on the non-FP rows
    val exactCounts = Curation.decontaminate(documents, eval)
      .select("doc_id", "n_contam").as[(Long, Int)].collect().toMap
    bloom.select("doc_id", "n_contam").as[(Long, Int)].collect()
      .filter(r => exact.contains(r._1))
      .foreach { case (id, n) =>
        assert(n >= exactCounts(id), s"doc $id: bloom count below exact")
      }
  }

  test("persisted tf table: identical stats to the direct ops, zero re-tokenization") {
    val path = Files.createTempDirectory("graft-tf").toString + "/tf"
    TextAnalysis.buildTfTable(documents, path)
    val tf = graft.engine.TableIO.read(spark, path)
    val a = TextAnalysis.tokenFreqStatsFromTf(tf)
    val b = TextAnalysis.tokenFreqStats(documents)
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty)
    val c = TextAnalysis.characteristicTermsFromTf(tf)
    val d = TextAnalysis.characteristicTerms(documents)
    assert(c.exceptAll(d).isEmpty && d.exceptAll(c).isEmpty)
    // the derived plans contain NO Generate node: tokenization happened
    // once, in the build job — the statistics are pure regroupings of the
    // stored artifact
    assert(!a.queryExecution.optimizedPlan.toString.contains("Generate"),
      "tokenFreqStatsFromTf must not re-tokenize")
    assert(!c.queryExecution.optimizedPlan.toString.contains("Generate"),
      "characteristicTermsFromTf must not re-tokenize")
  }
}
