package graft.data

import org.apache.spark.sql.{Column, DataFrame, GraftBridge, SparkSession}
import org.apache.spark.sql.catalyst.expressions.KnownNullable
import org.apache.spark.sql.functions._
import graft.model.Schemas

/** Deterministic derivation of the interleaved docs table
  * (`doc_id:string, spans:array<struct<kind,text,media_ref,offset>>`)
  * from the driver's read-only lineitem parquet, with targeted
  * invalidations on fixed modulus predicates — the Spark analog of the
  * reference's generator + `Invalidators` round-trip test pattern
  * (/root/reference/impl/src/test/scala/de/dnpm/dip/mtb/validation/impl/
  * Invalidators.scala:22-111: dangling refs, bad codes, inverted periods,
  * format breaks).
  *
  * Every injection is a pure function of `l_orderkey`, so the expected
  * violation set is ANSI-SQL-expressible for the DuckDB oracle.
  *
  * Injection predicates (ok = l_orderkey, pk = l_partkey):
  *   ok%89=0  -> span0.kind = NULL          (presence break)
  *   ok%83=0  -> span1.kind = 'blob'        (vocabulary break)
  *   ok%79=0  -> span1.media_ref = 'x...'   (dangling FK)
  *   ok%97=0  -> span2.offset = 5           (ordering break: 0,10,5)
  *   ok%73=0  -> span0.text lowercased      (format break, ^[A-Z]{2}$)
  *   ok%71=0  -> spans = []                 (cardinality break; wins last)
  *   ok%67=0  -> span1.text = 'leak'        (cross-field break)
  *   ok%61=0  -> span2.text = '999'         (range break, [1,50])
  *   ok%59=0  -> append span3 ('text','AB',-,0)   (second header: exactly-one break;
  *               also breaks offset ordering, 20 -> 0)
  *   ok%53=0  -> span2.text = NULL          (text-presence + tail either-or break;
  *               wins over ok%61)
  *   ok%47=0  -> append 2 media spans @30,@40     (text-vs-media balance break)
  *   ok%43=0  -> span0.offset = 7           (header-offset equality break)
  *   ok%41=0  -> span1.media_ref = 'v1/m...'      (versioned-catalog membership
  *               break iff pk%1000 is odd; ok%79 wins over ok%41)
  *
  * doc_id duplicates need no injection: the synthetic lineitem already
  * contains repeated (l_orderkey, l_linenumber) pairs, so the docs feed has
  * natural duplicate doc_ids for the uniqueness check.
  */
object DocGen {

  def lineitem(spark: SparkSession, sfDir: String): DataFrame =
    Tables.read(spark, sfDir, "lineitem")

  /** One doc per lineitem row; three interleaved spans (text, media, text). */
  def docs(spark: SparkSession, sfDir: String): DataFrame =
    docsFrom(lineitem(spark, sfDir))

  /** Span derivation over any lineitem-shaped relation — shared by the
    * batch path and streaming.StreamValidate (same columns, same rules).
    * `keep` carries extra source columns through (e.g. the partition day
    * for watermark-incremental runs). */
  def docsFrom(li: DataFrame, keep: Seq[String] = Nil): DataFrame = {
    val ok = col("l_orderkey")
    val pkmod = (col("l_partkey") % 1000).cast("string")
    val flagText = concat(col("l_returnflag"), col("l_linestatus"))
    val noString = lit(null).cast("string")

    val s0 = span(
      when(ok % 89 === 0, noString).otherwise(lit("text")),
      when(ok % 73 === 0, lower(flagText)).otherwise(flagText),
      noString,
      when(ok % 43 === 0, lit(7)).otherwise(lit(0)))

    val s1 = span(
      when(ok % 83 === 0, lit("blob")).otherwise(lit("media")),
      when(ok % 67 === 0, lit("leak")).otherwise(noString),
      when(ok % 79 === 0, concat(lit("x"), pkmod))
        .when(ok % 41 === 0, concat(lit("v1/m"), pkmod))
        .otherwise(concat(lit("m"), pkmod)),
      lit(10))

    val s2 = span(
      lit("text"),
      when(ok % 53 === 0, noString)
        .when(ok % 61 === 0, lit("999"))
        .otherwise(col("l_quantity").cast("int").cast("string")),
      noString,
      when(ok % 97 === 0, lit(5)).otherwise(lit(20)))

    // extra spans for the record-level composite rules
    val s3 = span(lit("text"), lit("AB"), noString, lit(0))
    def mediaTail(offset: Int) =
      span(lit("media"), noString, concat(lit("m"), pkmod), lit(offset))

    // a constant: folded to a literal, never cast per row
    val none = array().cast(Schemas.spanArray)
    val spansArr = concat(
      array(s0, s1, s2),
      when(ok % 59 === 0, array(s3)).otherwise(none),
      when(ok % 47 === 0, array(mediaTail(30), mediaTail(40))).otherwise(none))

    li.select(
      concat(ok.cast("string"), lit("-"), col("l_linenumber").cast("string")).as("doc_id") +:
        when(ok % 71 === 0, none).otherwise(spansArr).as("spans") +:
        keep.map(col): _*)
  }

  /** One span struct typed exactly as Schemas.spanStruct, every field
    * nullable, so the span arrays need no cast to the span-array type (in
    * generated code such a cast copies every span struct of every doc). */
  private def span(kind: Column, text: Column, mediaRef: Column, offset: Column): Column =
    struct(Seq(kind, text, mediaRef, offset).zip(Schemas.spanStruct.fieldNames).map {
      case (c, name) => GraftBridge.column(KnownNullable(GraftBridge.expression(c))).as(name)
    }: _*)

  /** The media catalog's columns over a part-key residue `res`: `m<res>`
    * and its media kind. Declared once, for the catalog DataFrame and the
    * map. */
  private val catalogCols: Seq[Column] = {
    val res = col("res")
    Seq(
      concat(lit("m"), res.cast("string")).as("media_ref"),
      element_at(
        typedLit(Seq("image", "audio", "video")), (res % 3 + 1).cast("int")
      ).as("media_kind"))
  }

  /** `res = p_partkey % 1000` of every part row, read with a declared
    * schema (no schema-inference job). A null p_partkey, or a missing
    * column (which a declared schema reads as null), fails the scan loudly. */
  private def partResidues(spark: SparkSession, sfDir: String): DataFrame = {
    val path = s"$sfDir/part.parquet"
    val pk = col("p_partkey")
    spark.read.schema("p_partkey BIGINT").parquet(path)
      .select(when(pk.isNull, raise_error(lit(s"null or missing p_partkey in $path")))
        .otherwise(pk % 1000).as("res"))
  }

  /** Media catalog dimension: every valid media_ref + its media kind.
    * Referential target for span.media_ref (the analog of the reference's
    * resolver map at MTBValidators.scala:669-678). */
  def mediaCatalog(spark: SparkSession, sfDir: String): DataFrame =
    partResidues(spark, sfDir).select(catalogCols: _*).distinct()

  /** Collected catalog as a driver-side map for the broadcast row-local
    * membership path (dimension is small; the join-based path for large
    * catalogs lives in engine.Referential). One job and no Exchange: each
    * scan task de-duplicates its residues, so at most partitions x 1000
    * rows are collected, and `toMap` merges them. */
  def mediaCatalogMap(spark: SparkSession, sfDir: String): Map[String, String] = {
    import spark.implicits._
    partResidues(spark, sfDir).as[Long]
      .mapPartitions(_.distinct)
      .toDF("res").select(catalogCols: _*)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
  }

  /** Closed kind vocabulary (the `CodedEnum` analog, MTBValidators.scala:62-65). */
  val kindVocab: Seq[String] = Seq("text", "media")

  /** Versioned catalog releases (the ICD-O catalog-by-version analog,
    * MTBValidators.scala:136-156): 'v1' is an older release holding only the
    * even-numbered refs; 'v2' (latest) holds everything. A coding carrying
    * no version — or an unknown one — resolves against the latest release,
    * mirroring the reference's `coding.version.flatMap(catalogs(_))
    * .getOrElse(latest)` fallback. */
  val latestCatalogVersion: String = "v2"

  def versionedCatalog(keys: Iterable[String]): Map[String, Seq[String]] = {
    val all = keys.toSeq
    Map(
      "v1" -> all.filter(k => k.drop(1).toLongOption.exists(_ % 2 == 0)),
      "v2" -> all)
  }
}
