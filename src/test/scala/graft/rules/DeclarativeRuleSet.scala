package graft.rules

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** The declarative test oracle for [[RuleSet.verdictCols]]: the same
  * verdict triage with each severity count as a higher-order
  * `size(filter(...))` over the violations array, the formulation the
  * compiled functions.SeverityCounts replaced. */
object DeclarativeRuleSet {

  private def countSev(v: Column, sev: String): Column =
    size(filter(v, x => x.getField("severity") === sev))

  def verdictCols(v: Column): Seq[Column] = {
    val nFatal = countSev(v, "fatal")
    val nError = countSev(v, "error")
    val nWarn = countSev(v, "warning")
    val nInfo = countSev(v, "info")
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
