package graft.rules

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.data.DocGen

/** One declarative constraint: fires the structured violation of `meta`
  * when `violatedWhen` is true for a row.
  *
  * The Spark re-expression of the reference's
  * `Validator[Issue, T] = T => ValidatedNel[Issue, T]` (MTBValidators.scala
  * signature convention): instead of an applicative fold over one JVM object,
  * every rule is a Catalyst predicate Column evaluated for all rows at once.
  */
final case class Rule(meta: SpanRule, violatedWhen: Column) {

  /** NULL when not violated, else the violation struct. */
  def asStruct: Column =
    when(violatedWhen, struct(
      lit(meta.id).as("rule_id"),
      lit(meta.severity).as("severity"),
      lit(meta.path).as("path"),
      lit(meta.message).as("message")))
}

/** The declarative test oracle for the compiled span-rule kernel
  * (functions.SpanViolations): every rule of [[SpanRules]] as a Column
  * predicate over the interleaved docs table, evaluated span-sequence-
  * preserving via higher-order functions. Metadata and emission order come
  * from the SpanRules table; only the predicates live here.
  */
object CoreRules {

  /** NULL spans read as the empty array, as in the compiled kernel. */
  private val spans = coalesce(col("spans"), array().cast(graft.model.Schemas.spanArray))
  private def kind(s: Column) = s.getField("kind")
  private def text(s: Column) = s.getField("text")
  private def ref(s: Column) = s.getField("media_ref")
  private def off(s: Column) = s.getField("offset")

  /** Offsets strictly increasing. Pairwise check over indices; guarded so
    * `sequence` never runs descending on short arrays. */
  def offsetsOutOfOrder: Column =
    when(size(spans) > 1,
      exists(
        transform(sequence(lit(1), size(spans) - 1),
          i => off(element_at(spans, i + 1)) <= off(element_at(spans, i))),
        b => b))
      .otherwise(lit(false))

  /** Base coding without its optional version prefix: 'v1/m123' -> 'm123';
    * version-less refs pass through. */
  private def baseRef(r: Column): Column = substring_index(r, "/", -1)

  /** Version prefix of a ref ('v1/m123' -> 'v1'), or NULL when version-less. */
  private def refVersion(r: Column): Column =
    when(r.contains("/"), substring_index(r, "/", 1))

  /** One predicate per [[SpanRules]] rule, in table order. `catalog` is the
    * broadcastable media-ref -> media-kind map (reference resolver map,
    * MTBValidators.scala:669-678). `catalogByVersion` maps a catalog release
    * name to its member refs; `latestVersion` names the release that
    * version-less (or unknown-version) codings resolve against (V1
    * fallback, MTBValidators.scala:136-156).
    */
  def all(catalog: Map[String, String], vocab: Seq[String],
          catalogByVersion: Map[String, Seq[String]],
          latestVersion: String): Seq[Rule] = {
    // isin over >10 values becomes Catalyst InSet — an O(1) hash-set probe
    // under codegen. (A typedLit(Map) lookup is a LINEAR scan: Catalyst
    // literal maps are ArrayBasedMapData — 1000x slower per span here.)
    val catalogKeys = catalog.keys.toSeq.map(lit)
    val predicates = Seq(
      SpanRules.KindPresent ->
        exists(spans, s => kind(s).isNull),
      SpanRules.TextPresent ->
        exists(spans, s => kind(s) === "text" && text(s).isNull),
      SpanRules.KindVocab ->
        exists(spans, s => kind(s).isNotNull && !kind(s).isin(vocab.map(lit): _*)),
      SpanRules.MediaRefResolves ->
        exists(spans, s =>
          ref(s).isNotNull && !baseRef(ref(s)).isin(catalogKeys: _*)),
      SpanRules.TextFormat ->
        exists(spans, s =>
          kind(s) === "text" && off(s) === 0 && text(s).isNotNull &&
            !text(s).rlike("^[A-Z]{2}$")),
      // ANSI-safe: a bare cast("int") THROWS under Spark 4 ANSI mode for
      // digit-only text beyond Int range (e.g. '99999999999'), crashing the
      // query instead of flagging the doc. The when() guard keeps the cast
      // unreachable above 18 digits (<= 18 digits always fits a long), and
      // any digits-only value longer than that is out-of-range by
      // definition — matching SpanViolations.numericValue overflow
      // semantics exactly.
      SpanRules.QtyRange ->
        exists(spans, s =>
          kind(s) === "text" && text(s).isNotNull && text(s).rlike("^[0-9]+$") &&
            (length(text(s)) > 18 ||
              !when(length(text(s)) <= 18, text(s).cast("bigint"))
                .between(1, 50))),
      SpanRules.MediaNoText ->
        exists(spans, s => kind(s) === "media" && text(s).isNotNull),
      SpanRules.OffsetOrder -> offsetsOutOfOrder,
      SpanRules.SpanCount -> !size(spans).between(1, 8),
      // eqNullSafe: a NULL kind must count as "not media", not poison the
      // exists() fold to NULL (SQL three-valued logic).
      SpanRules.HasMedia -> !exists(spans, s => kind(s) <=> lit("media")),
      // exactly one header text span at offset 0. <=> keeps the filter
      // predicate strict under NULL kinds/offsets.
      SpanRules.OneHeader ->
        (size(filter(spans, s =>
          kind(s) <=> lit("text") && off(s) <=> lit(0))) =!= 1),
      // every span except the chronologically first must carry text or a
      // media_ref. Comparator via when(): a plain `off(a)-off(b)` would
      // overflow under ANSI and NULL-poison the sort.
      SpanRules.TailEitherOr -> {
        val nn = filter(spans, s => s.isNotNull)
        val sorted = array_sort(nn, (a, b) =>
          when(off(a) < off(b), -1).when(off(a) > off(b), 1).otherwise(0))
        !forall(slice(sorted, lit(2), size(nn)),
          s => text(s).isNotNull || ref(s).isNotNull)
      },
      // text spans must be at least as numerous as media spans
      SpanRules.TextMediaBalance ->
        (size(filter(spans, s => kind(s) <=> lit("text"))) <
          size(filter(spans, s => kind(s) <=> lit("media")))),
      // classified by a header text span OR by at least one media span;
      // exists() stays strict under NULLs via <=>
      SpanRules.Classified ->
        !(exists(spans, s => kind(s) <=> lit("text") && off(s) <=> lit(0)) ||
          exists(spans, s => kind(s) <=> lit("media"))),
      // the first span must start at the expected offset 0.
      // try_element_at: ANSI element_at throws on empty.
      SpanRules.HeaderOffsetEq -> {
        val first = try_element_at(spans, lit(1)).getField("offset")
        first.isNotNull && first =!= 0
      },
      // resolve the coding's catalog release from its version prefix,
      // falling back to the latest release for version-less or unknown
      // versions, then check membership in THAT release.
      SpanRules.RefVersion ->
        exists(spans, s => ref(s).isNotNull && {
          val ver = coalesce(refVersion(ref(s)), lit(latestVersion))
          val base = baseRef(ref(s))
          val latestMiss =
            !base.isin(catalogByVersion.getOrElse(latestVersion, Nil).map(lit): _*)
          catalogByVersion.toSeq.sortBy(_._1)
            .foldRight(latestMiss: Column) { case ((v, members), els) =>
              when(ver === v, !base.isin(members.map(lit): _*)).otherwise(els)
            }
        }))
    predicates.map { case (meta, p) => Rule(meta, p) }
  }

  /** array<struct<rule_id,severity,path,message>> of fired rules, in
    * [[SpanRules.all]] order whatever order `rules` lists them in. */
  def violationsArray(rules: Seq[Rule]): Column = {
    val byRule = rules.map(r => r.meta -> r).toMap
    filter(array(SpanRules.all.map(m => byRule(m).asStruct): _*), v => v.isNotNull)
  }

  /** docs + `violations` array column through the declarative corpus — the
    * reference the compiled kernel of Validate.withViolations is tested
    * against. */
  def withViolations(docs: DataFrame, catalog: Map[String, String]): DataFrame =
    docs.withColumn("violations",
      violationsArray(all(catalog, DocGen.kindVocab,
        DocGen.versionedCatalog(catalog.keys), DocGen.latestCatalogVersion)))
}
