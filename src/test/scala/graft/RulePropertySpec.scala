package graft

import org.scalacheck.{Gen, rng}
import graft.engine.Validate
import graft.rules.CoreRules
import graft.model.{Doc, Span}

/** Property-style equivalence: the compiled SpanViolations expression and
  * the declarative Column-algebra corpus must agree on RANDOM docs, not
  * just the hand-picked edge cases — including null span elements, equal
  * offsets (sort ties), versioned/unknown-version refs, overflow numerics
  * and out-of-vocabulary kinds. One deterministic sample (fixed seed), one
  * Spark comparison job: failures print the offending doc ids.
  */
class RulePropertySpec extends SparkSpec {
  import spark.implicits._

  private val genSpan: Gen[Span] = for {
    kind <- Gen.option(Gen.oneOf("text", "media", "blob", "TEXT", ""))
    text <- Gen.option(Gen.oneOf(
      "AB", "ab", "A", "7", "0", "50", "51", "999", "007",
      "99999999999", "12345678901234567890123", "hello world", "",
      // leading-zero numerics: caught a compiled/declarative divergence
      // (9- vs 18-digit parse limits) invisible to the other strings
      "0000000001", "000000000000000051", "0000000000000000007"))
    ref <- Gen.option(Gen.oneOf(
      "m1", "m2", "x9", "v1/m1", "v1/m2", "v2/m1", "v9/m1", "a/b/m1", "/m1", "v1/"))
    off <- Gen.chooseNum(-3, 12) // narrow range -> frequent sort ties
  } yield Span(kind, text, ref, off)

  // ~1 in 8 span slots is a NULL element
  private val genSlot: Gen[Span] =
    Gen.frequency(7 -> genSpan, 1 -> Gen.const(null.asInstanceOf[Span]))

  private val genDoc: Gen[Seq[Span]] =
    Gen.chooseNum(0, 10).flatMap(n => Gen.listOfN(n, genSlot))

  test("compiled == declarative on 400 random docs (fixed seed)") {
    val seed = rng.Seed(20260816L)
    val docs = Iterator.iterate(seed)(_.next)
      .zipWithIndex.take(400)
      .map { case (s, i) =>
        Doc(s"p-$i", genDoc.pureApply(Gen.Parameters.default, s))
      }.toSeq
    val catalog = Map("m1" -> "image", "m2" -> "audio")
    val df = docs.toDS().toDF()
    val a = Validate.withViolations(df, catalog).select("doc_id", "violations")
    val b = CoreRules.withViolations(df, catalog).select("doc_id", "violations")
    val onlyA = a.exceptAll(b).select("doc_id").as[String].collect()
    val onlyB = b.exceptAll(a).select("doc_id").as[String].collect()
    assert(onlyA.isEmpty && onlyB.isEmpty,
      s"paths disagree on docs: compiled-only=${onlyA.take(5).mkString(",")} " +
        s"declarative-only=${onlyB.take(5).mkString(",")}")
  }
}
