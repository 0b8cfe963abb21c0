package graft

import org.apache.spark.sql.functions._
import graft.data.DocGen
import graft.engine.Validate
import graft.rules.{CoreRules, RuleSet}

/** The compiled SpanViolations expression must be indistinguishable from
  * the declarative Column-algebra test oracle (rules.CoreRules) on the full
  * injected-violation dataset (every rule class fires somewhere at
  * sf0.001) and on hand-picked edge docs. */
class CompiledRulesSpec extends SparkSpec {

  test("compiled rule corpus == declarative rule corpus (violations)") {
    val catalog = DocGen.mediaCatalogMap(spark, sf)
    val docs = DocGen.docs(spark, sf)
    val compiled = Validate.withViolations(docs, catalog)
      .select("doc_id", "violations")
    val declarative = CoreRules.withViolations(docs, catalog)
      .select("doc_id", "violations")
    assert(compiled.count() == declarative.count())
    assert(compiled.exceptAll(declarative).isEmpty &&
      declarative.exceptAll(compiled).isEmpty)
    // and at least one of every severity fired somewhere
    val sevs = Validate.violations(docs, catalog)
      .select("severity").distinct().collect().map(_.getString(0)).toSet
    assert(sevs == Set("info", "warning", "error", "fatal"))
  }

  test("compiled corpus handles typed edge docs identically") {
    import spark.implicits._
    val edge = Seq(
      graft.model.Doc("e1", Seq.empty),
      graft.model.Doc("e2", Seq(graft.model.Span(None, None, None, 0))),
      graft.model.Doc("e3", Seq(
        graft.model.Span(Some("text"), Some("0"), None, 0),
        graft.model.Span(Some("text"), Some("0"), None, 0))),
      graft.model.Doc("e4", (1 to 9).map(i =>
        graft.model.Span(Some("media"), None, Some("m1"), i))),
      // NULL spans read as the empty array on both paths
      graft.model.Doc("e5", null)
    ).toDS().toDF()
    val catalog = Map("m1" -> "image")
    val a = Validate.withViolations(edge, catalog).select("doc_id", "violations")
    val b = CoreRules.withViolations(edge, catalog).select("doc_id", "violations")
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty)
    val emptyIds = Seq("R_SPAN_COUNT", "R_HAS_MEDIA", "R_ONE_HEADER", "R_CLASSIFIED")
    // a local relation evaluates the kernel interpreted; past an exchange it
    // runs in generated code
    val generated = Validate.withViolations(edge.repartition(1), catalog)
    Seq(a, b, generated).foreach { v =>
      val nullDoc = v.where(col("doc_id") === "e5")
        .select(col("violations.rule_id").as("ids") +: RuleSet.verdictCols(col("violations")): _*)
        .head()
      assert(nullDoc.getSeq[String](0) == emptyIds)
      assert(nullDoc.getString(1) == "invalid")
      assert((2 to 5).map(nullDoc.getInt) == Seq(0, 3, 0, 1))
    }
  }

  test("malformed docs: null span elements and overflow numerics don't crash") {
    import spark.implicits._
    import graft.model.{Doc, Span}
    val edge = Seq(
      // null span element: reads as kind IS NULL; ordering pairs touching it skip
      Doc("n1", Seq(Span(Some("text"), Some("AB"), None, 0), null,
        Span(Some("text"), Some("7"), None, 20))),
      Doc("n2", Seq(null, null)),
      // 11 digits: ANSI int cast would throw; must flag out-of-range instead
      Doc("o1", Seq(Span(Some("text"), Some("99999999999"), None, 0))),
      // 23 digits: beyond long range too
      Doc("o2", Seq(Span(Some("text"), Some("12345678901234567890123"), None, 0)))
    ).toDS().toDF()
    val catalog = Map("m1" -> "image")
    val a = Validate.withViolations(edge, catalog).select("doc_id", "violations")
    val b = CoreRules.withViolations(edge, catalog).select("doc_id", "violations")
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty)
    val fired = Validate.violations(edge, catalog)
      .select("doc_id", "rule_id").as[(String, String)].collect().toSet
    assert(fired.contains(("n1", "R_KIND_PRESENT")))
    assert(!fired.contains(("n1", "R_OFFSET_ORDER")))
    assert(fired.contains(("o1", "R_QTY_RANGE")))
    assert(fired.contains(("o2", "R_QTY_RANGE")))
    // the declarative oracle runs the same docs without crashing too
    val bFired = CoreRules.withViolations(edge, catalog)
      .select(col("doc_id"), explode(col("violations.rule_id")).as("rule_id"))
      .as[(String, String)].collect().toSet
    assert(bFired.contains(("o1", "R_QTY_RANGE")))
  }
}
