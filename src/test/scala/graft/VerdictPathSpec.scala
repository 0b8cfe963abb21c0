package graft

import java.nio.file.Files
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.Cast
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.data.DocGen
import graft.engine.Validate
import graft.model.{Doc, Schemas, Span}
import graft.rules.{DeclarativeRuleSet, RuleSet}

/** The verdict path's three fixed and per-doc costs: the one-job catalog
  * collect, the compiled severity counts and the cast-free span derivation.
  * Each must leave every result and schema as it was. */
class VerdictPathSpec extends SparkSpec {
  import spark.implicits._

  private val sf01 = s"${new java.io.File(sf).getParent}/sf0.01"

  private def verdictsBoth(df: DataFrame, v: String): (DataFrame, DataFrame) =
    (df.select(col("doc_id") +: RuleSet.verdictCols(col(v)): _*),
      df.select(col("doc_id") +: DeclarativeRuleSet.verdictCols(col(v)): _*))

  private def assertSame(a: DataFrame, b: DataFrame): Unit = {
    assert(a.schema == b.schema, s"${a.schema.treeString} vs ${b.schema.treeString}")
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty)
  }

  test("compiled verdictCols == the higher-order formulation on sf0.001") {
    val withV = Validate.withViolations(DocGen.docs(spark, sf),
      DocGen.mediaCatalogMap(spark, sf))
    val (compiled, declarative) = verdictsBoth(withV, "violations")
    assertSame(compiled, declarative)
    // every verdict class occurs, so every CASE branch was compared
    assert(compiled.select("verdict").distinct().as[String].collect().toSet ==
      Set("valid", "acceptable", "invalid", "rejected"))
    // one compiled pass; no higher-order function left in the projection
    val plan = compiled.queryExecution.executedPlan.toString
    assert(plan.contains("severity_counts") && !plan.contains("filter("), plan)
  }

  test("compiled verdictCols == the higher-order formulation on edge docs and NULLs") {
    val edge = Seq(
      Doc("e1", Seq.empty),
      Doc("e2", Seq(Span(None, None, None, 0))),
      Doc("e3", Seq(Span(Some("text"), Some("0"), None, 0),
        Span(Some("text"), Some("0"), None, 0))),
      Doc("e4", (1 to 9).map(i => Span(Some("media"), None, Some("m1"), i))),
      Doc("e5", null)
    ).toDS().toDF()
    val withV = Validate.withViolations(edge, Map("m1" -> "image"))
    // hand-built arrays: NULL array, NULL element, NULL and unknown severity
    val rows = Seq(
      Row("a", null),
      Row("b", Seq(null)),
      Row("c", Seq(
        Row("R", null, "p", "m"),
        Row("R", "warning", "p", "m"),
        null,
        Row("R", "severe", "p", "m"),
        Row("R", "fatal", "p", "m"))),
      Row("d", Seq(Row("R", "info", "p", "m"), Row("R", "info", "p", "m"))))
    val hand = spark.createDataFrame(rows.asJava, StructType(Seq(
      StructField("doc_id", StringType),
      StructField("v", ArrayType(Schemas.violationStruct)))))
    // a local relation evaluates interpreted; past an exchange, generated
    // (with no silent fallback to interpreted on a compile error)
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try {
      Seq(withV, withV.repartition(2)).foreach { df =>
        val (a, b) = verdictsBoth(df, "violations")
        assertSame(a, b)
      }
      Seq(hand, hand.repartition(2)).foreach { df =>
        val (a, b) = verdictsBoth(df, "v")
        assertSame(a, b)
        val got = a.collect().map(r => r.getString(0) -> r).toMap
        // a NULL array gives NULL counts and, like size(filter(null)), 'valid'
        assert((1 to 5).map(got("a").isNullAt) == Seq(false, true, true, true, true))
        assert(got("a").getString(1) == "valid")
        assert(got("b").toSeq.drop(1) == Seq("valid", 0, 0, 0, 0))
        assert(got("c").toSeq.drop(1) == Seq("rejected", 1, 0, 1, 0))
        assert(got("d").toSeq.drop(1) == Seq("acceptable", 0, 0, 0, 2))
      }
    } finally spark.conf.unset("spark.sql.codegen.fallback")
  }

  test("docsFrom: schema unchanged, and no cast to the span-array type") {
    val docs = DocGen.docs(spark, sf)
    val spanArray = ArrayType(StructType(Seq(
      StructField("kind", StringType), StructField("text", StringType),
      StructField("media_ref", StringType), StructField("offset", IntegerType))))
    assert(docs.schema == StructType(Seq(
      StructField("doc_id", StringType, nullable = true),
      StructField("spans", spanArray, nullable = false))), docs.schema.treeString)
    assert(spanArray == Schemas.spanArray)
    val casts = docs.queryExecution.optimizedPlan.expressions.flatMap(_.collect {
      case c: Cast if c.dataType.isInstanceOf[ArrayType] ||
        c.dataType.isInstanceOf[StructType] => c
    })
    assert(casts.isEmpty, casts.mkString("\n"))
  }

  test("mediaCatalogMap == the collected mediaCatalog at sf0.001 and sf0.01") {
    Seq(sf, sf01).foreach { dir =>
      val collected = DocGen.mediaCatalog(spark, dir).as[(String, String)].collect()
      assert(collected.map(_._1).distinct.length == collected.length)
      assert(DocGen.mediaCatalogMap(spark, dir) == collected.toMap)
    }
  }

  test("mediaCatalogMap runs exactly one job and no Exchange") {
    val group = s"catalog-${System.nanoTime()}"
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
    val ended = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      private val mine = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (Option(j.properties).exists(_.getProperty("spark.jobGroup.id") == group)) {
          mine.add(j.jobId)
          jobs.add(j.stageInfos.size)
        }
      override def onJobEnd(j: org.apache.spark.scheduler.SparkListenerJobEnd): Unit =
        if (mine.contains(j.jobId)) ended.incrementAndGet()
    }
    DocGen.mediaCatalogMap(spark, sf) // plan caches and codegen warm
    spark.sparkContext.addSparkListener(listener)
    try {
      spark.sparkContext.setJobGroup(group, "mediaCatalogMap")
      DocGen.mediaCatalogMap(spark, sf)
      spark.sparkContext.clearJobGroup()
      // listener events are asynchronous: wait for every started job's end
      var waited = 0
      while ((jobs.isEmpty || ended.get < jobs.size) && waited < 100) {
        Thread.sleep(50); waited += 1
      }
      Thread.sleep(200)
    } finally spark.sparkContext.removeSparkListener(listener)
    // one job of one stage: an Exchange would add a map stage
    assert(jobs.asScala.toSeq == Seq(1), s"stages per job: ${jobs.asScala.toSeq}")
  }

  test("mediaCatalogMap fails loudly on a null or missing p_partkey") {
    def partFile(df: DataFrame): String = {
      val dir = Files.createTempDirectory("graft-part").toString
      df.write.parquet(s"$dir/part.parquet")
      dir
    }
    val nullKey = partFile(Seq(Some(1L), None, Some(3L)).toDF("p_partkey"))
    val noKey = partFile(Seq("a", "b").toDF("p_name"))
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ messages(x.getCause))
    Seq(nullKey, noKey).foreach { dir =>
      val e = intercept[Exception](DocGen.mediaCatalogMap(spark, dir))
      assert(messages(e).exists(_.contains("null or missing p_partkey")), s"got: $e")
      val e2 = intercept[Exception](DocGen.mediaCatalog(spark, dir).collect())
      assert(messages(e2).exists(_.contains("null or missing p_partkey")), s"got: $e2")
    }
  }
}
