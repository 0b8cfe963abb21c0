package graft

import org.apache.spark.sql.functions._
import graft.data.DocGen
import graft.engine.Validate
import graft.model.Schemas
import graft.rules.{CoreRules, SpanRules}

/** The SpanRules table is the one declaration of rule metadata and
  * emission order: every check here iterates it, so adding a rule is a
  * table edit plus its fire condition (kernel) and predicate (oracle). */
class SpanRulesSpec extends SparkSpec {
  import spark.implicits._

  private val ids = SpanRules.all.map(_.id)

  test("rule table: unique ids, known severities, ordinal = position") {
    assert(ids.distinct == ids, s"duplicate ids: ${ids.diff(ids.distinct)}")
    assert(SpanRules.all.map(_.ordinal) == SpanRules.all.indices)
    SpanRules.all.foreach(r =>
      assert(Schemas.severities.contains(r.severity), s"${r.id}: ${r.severity}"))
  }

  test("test oracle defines exactly one predicate per table rule") {
    val oracle = CoreRules.all(Map("m1" -> "image"), DocGen.kindVocab,
      DocGen.versionedCatalog(Seq("m1")), DocGen.latestCatalogVersion).map(_.meta.id)
    assert(oracle.distinct == oracle, s"duplicate predicates: ${oracle.diff(oracle.distinct)}")
    assert(oracle.toSet == ids.toSet)
  }

  test("every rule fires on sf0.001, each doc's violations in table order") {
    val catalog = DocGen.mediaCatalogMap(spark, sf)
    val docs = DocGen.docs(spark, sf)
    val fired = Validate.violations(docs, catalog)
      .select("rule_id").distinct().as[String].collect().toSet
    assert(ids.toSet -- fired == Set.empty, "rules that never fire")
    val rank = typedLit(SpanRules.all.map(r => r.id -> r.ordinal).toMap)
    val ranks = transform(col("violations.rule_id"), id => element_at(rank, id))
    val multi = Validate.withViolations(docs, catalog).where(size(col("violations")) > 1)
    assert(!multi.isEmpty, "no doc fires two rules: order check would be vacuous")
    val unordered = multi.where(!(ranks === array_sort(array_distinct(ranks))))
      .select("doc_id").as[String].take(5)
    assert(unordered.isEmpty, s"docs off table order: ${unordered.mkString(",")}")
  }
}
