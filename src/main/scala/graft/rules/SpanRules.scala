package graft.rules

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** The structured violation one span rule emits: the reference's
  * `Issue(severity, path, message)` (MTBValidators.scala) plus a stable
  * rule_id. Severity model (info<warning<error<fatal) per SURVEY.md §2.4.
  * `ordinal` is the rule's position in [[SpanRules.all]].
  */
final case class SpanRule(ordinal: Int, id: String, severity: String,
                          path: String, message: String) {
  require(graft.model.Schemas.severities.contains(severity), s"bad severity: $severity")
}

/** The span-rule corpus, declared once. Each rule re-expresses one family
  * from the reference's MTBValidators.scala (cited per rule); its fire
  * condition is compiled in functions.SpanViolations. Declaration order is
  * the emission order: a doc's violations array lists its fired rules in it.
  */
object SpanRules {
  private val table = scala.collection.mutable.ArrayBuffer.empty[SpanRule]
  private def rule(id: String, severity: String, path: String, message: String) = {
    val r = SpanRule(table.size, id, severity, path, message)
    table += r
    r
  }

  // presence family (`must be (defined)`, MTBValidators.scala:242-244)
  val KindPresent = rule("R_KIND_PRESENT", "error", "spans/kind",
    "span kind must be present")
  val TextPresent = rule("R_TEXT_PRESENT", "error", "spans/text",
    "text span must carry text")
  // value-set membership (`must be (in ...)`, coding catalogs V1/V2,
  // MTBValidators.scala:126-156,523)
  val KindVocab = rule("R_KIND_VOCAB", "error", "spans/kind",
    "span kind must be in vocabulary")
  // referential integrity, fatal on unresolved (supporting-findings
  // resolver, MTBValidators.scala:563-567)
  val MediaRefResolves = rule("R_MEDIA_REF_RESOLVES", "fatal", "spans/media_ref",
    "span media_ref must resolve in media catalog")
  // format/regex family (TNM grammar, TNM.scala:12-18; HGVS format V20)
  val TextFormat = rule("R_TEXT_FORMAT", "error", "spans/text",
    "header text span must match ^[A-Z]{2}$")
  // numeric range family (ClosedInterval checks, MTBValidators.scala:363,442-444)
  val QtyRange = rule("R_QTY_RANGE", "error", "spans/text",
    "numeric text span must be in [1,50]")
  // conditional / cross-field family (status-conditional V9/V28,
  // MTBValidators.scala:279-320,639-644)
  val MediaNoText = rule("R_MEDIA_NO_TEXT", "warning", "spans/text",
    "media span must not carry text")
  // ordering family (period/date ordering, MTBValidators.scala:245-247,312-317)
  val OffsetOrder = rule("R_OFFSET_ORDER", "error", "spans/offset",
    "span offsets must be strictly increasing")
  // cardinality family (`must have size(...)`, MTBValidators.scala:696-698,721-723)
  val SpanCount = rule("R_SPAN_COUNT", "error", "spans",
    "doc must contain between 1 and 8 spans")
  // info-severity enrichment hint (Severity.Info pattern, MTBValidators.scala:544,547)
  val HasMedia = rule("R_HAS_MEDIA", "info", "spans",
    "doc carries no media span")
  // record-level composites (V29, MTBValidators.scala:696-730): exactly-one
  // over a filtered subset (:696-698), sorted-tail skip-first (:710-717),
  // cross-collection count comparison (:721-730)
  val OneHeader = rule("R_ONE_HEADER", "error", "spans",
    "doc must contain exactly one header text span at offset 0")
  val TailEitherOr = rule("R_TAIL_EITHER_OR", "error", "spans",
    "every non-initial span must carry text or a media_ref")
  val TextMediaBalance = rule("R_TEXT_MEDIA_BALANCE", "error", "spans",
    "doc must carry at least as many text spans as media spans")
  // either-or presence (V3, MTBValidators.scala:213-215)
  val Classified = rule("R_CLASSIFIED", "error", "spans",
    "doc must carry a header text span or a media span")
  // field equality vs expected (V13, MTBValidators.scala:369-371)
  val HeaderOffsetEq = rule("R_HEADER_OFFSET_EQ", "error", "spans/offset",
    "first span must start at the expected offset 0")
  // version-aware catalog membership (V1, MTBValidators.scala:136-156)
  val RefVersion = rule("R_REF_VERSION", "error", "spans/media_ref",
    "media_ref must resolve in its version's catalog (fallback latest)")

  /** Every rule, in emission order. */
  val all: IndexedSeq[SpanRule] = table.toIndexedSeq
}

/** Verdict triage over a violations array column — issues accumulate,
  * never fail-fast, like the reference's ValidatedNel accumulation
  * (MTBValidators.scala:6-9).
  */
object RuleSet {

  /** Verdict columns from a violations array column, mirroring the
    * reference's triage (fatal => rejected, cf. FatalIssuesDetected at
    * Tests.scala:47-54; SURVEY.md §2.4 verdict CASE). The four counts come
    * from one compiled pass over the array (functions.SeverityCounts),
    * which subexpression elimination evaluates once per doc. */
  def verdictCols(v: Column): Seq[Column] = {
    val counts = graft.functions.SeverityCounts(v)
    val Seq(nFatal, nError, nWarn, nInfo) =
      graft.functions.SeverityCounts.counted.map { case (f, _) => counts.getField(f) }
    Seq(
      when(nFatal > 0, lit("rejected"))
        .when(nError > 0, lit("invalid"))
        .when(nWarn > 0 || nInfo > 0, lit("acceptable"))
        .otherwise(lit("valid")).as("verdict"),
      nFatal.as("n_fatal"),
      nError.as("n_error"),
      nWarn.as("n_warn"),
      nInfo.as("n_info"))
  }
}
