package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import graft.model.Schemas
import graft.rules.{SpanRule, SpanRules}

/** The ENTIRE span rule corpus as one compiled Catalyst expression.
  *
  * input:  spans array<struct<kind,text,media_ref,offset>>; NULL reads as
  *         the empty array
  * output: array<struct<rule_id,severity,path,message>>, never NULL — the
  *         fired rules of graft.rules.SpanRules, in its table order. The
  *         declarative Column-algebra oracle in the test tree must agree
  *         bit for bit (CompiledRulesSpec, RulePropertySpec).
  *
  * Why: higher-order functions are interpreted expression trees — the
  * declarative corpus costs ~30 interpreted lambda evaluations per doc.
  * This single pass over the span array does the identical checks in
  * compiled Scala. Only the fire conditions live here; violation rows are
  * prebuilt from the SpanRules metadata, and downstream consumers copy
  * rows into unsafe buffers, so sharing the instances is safe.
  */
case class SpanViolations(child: Expression, catalogKeys: Seq[String],
                          vocab: Seq[String],
                          catalogByVersion: Map[String, Seq[String]],
                          latestVersion: String)
  extends UnaryExpression {

  override def dataType: DataType = ArrayType(Schemas.violationStruct)
  override def nullable: Boolean = false

  @transient private lazy val catalogSet: java.util.HashSet[UTF8String] = {
    val s = new java.util.HashSet[UTF8String](catalogKeys.size * 2)
    catalogKeys.foreach(k => s.add(UTF8String.fromString(k)))
    s
  }
  @transient private lazy val versionSets
      : java.util.HashMap[UTF8String, java.util.HashSet[UTF8String]] = {
    val m = new java.util.HashMap[UTF8String, java.util.HashSet[UTF8String]]()
    catalogByVersion.foreach { case (v, members) =>
      val s = new java.util.HashSet[UTF8String](members.size * 2)
      members.foreach(k => s.add(UTF8String.fromString(k)))
      m.put(UTF8String.fromString(v), s)
    }
    m
  }
  @transient private lazy val latestSet: java.util.HashSet[UTF8String] = {
    val s = versionSets.get(UTF8String.fromString(latestVersion))
    if (s != null) s else new java.util.HashSet[UTF8String]()
  }
  @transient private lazy val vocabSet: java.util.HashSet[UTF8String] = {
    val s = new java.util.HashSet[UTF8String]()
    vocab.foreach(v => s.add(UTF8String.fromString(v)))
    s
  }
  @transient private lazy val KIND_TEXT = UTF8String.fromString("text")
  @transient private lazy val KIND_MEDIA = UTF8String.fromString("media")
  @transient private lazy val SLASH = UTF8String.fromString("/")

  require(SpanRules.all.size <= 32, "fire bits are one Int")
  private def bit(r: SpanRule): Int = 1 << r.ordinal

  // prebuilt violation rows, indexed by SpanRule.ordinal
  @transient private lazy val rows: Array[AnyRef] = SpanRules.all.map(r =>
    InternalRow(UTF8String.fromString(r.id), UTF8String.fromString(r.severity),
      UTF8String.fromString(r.path), UTF8String.fromString(r.message))).toArray[AnyRef]

  /** byte index of the FIRST '/' in s, or -1 ('/' < 0x80 can never be a
    * UTF-8 continuation byte, so a byte scan is character-safe). */
  private def firstSlash(b: Array[Byte]): Int = {
    var i = 0
    while (i < b.length) { if (b(i) == '/') return i; i += 1 }
    -1
  }
  private def lastSlash(b: Array[Byte]): Int = {
    var i = b.length - 1
    while (i >= 0) { if (b(i) == '/') return i; i -= 1 }
    -1
  }

  private def isUpper2(s: UTF8String): Boolean = {
    if (s.numBytes != 2) return false
    val b = s.getBytes
    b(0) >= 'A' && b(0) <= 'Z' && b(1) >= 'A' && b(1) <= 'Z'
  }

  /** digits-only parse up to 18 digits (always fits a long), so zero-padded
    * values like '0000000001' compare NUMERICALLY — matching the declarative
    * guard (`when(length <= 18, cast('bigint'))`). Longer digit strings are
    * out-of-range by definition in both paths. */
  private def numericValue(s: UTF8String): Long = {
    val b = s.getBytes
    if (b.length == 0 || b.length > 18) return -1L
    var v = 0L
    var i = 0
    while (i < b.length) {
      if (b(i) < '0' || b(i) > '9') return -1L
      v = v * 10 + (b(i) - '0')
      i += 1
    }
    v
  }

  override def eval(input: InternalRow): Any =
    compute(child.eval(input).asInstanceOf[ArrayData])

  /** doGenCode keeps the flagship validation projection INSIDE whole-stage
    * codegen: one virtual call per row into this compiled body, instead of
    * the CodegenFallback wrapper that materializes an input row at the
    * expression boundary. No null short-circuit: NULL spans reach
    * `compute`, which reads them as the empty array. */
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    val self = ctx.addReferenceObj("spanViolations", this)
    ev.copy(code = code"""
      ${c.code}
      ${CodeGenerator.javaType(dataType)} ${ev.value} =
        $self.compute(${c.isNull} ? null : ${c.value});""", isNull = FalseLiteral)
  }

  /** Compiled body, shared by interpreted eval and generated code. */
  def compute(spans: ArrayData): ArrayData = {
    val n = if (spans == null) 0 else spans.numElements()
    var kindNull, textMissing, badVocab, dangling, badFormat, badRange = false
    var mediaWithText, outOfOrder, hasMedia = false
    var headerCount, textCount, mediaCount = 0
    var firstOffsetBad, refVersionBad = false
    // SQL-null-semantics ordering: a comparison against a null span (or null
    // offset) is NULL in the declarative corpus and never fires the rule, so
    // both neighbor pairs of such an element are skipped here too.
    var havePrev = false
    var prevOffset = 0
    // non-null spans in array order, for the offset-sorted tail rule
    ensureScratch(n)
    val tOff = sOff
    val tHasOff = sHasOff
    val tEitherOk = sEitherOk
    var m = 0
    var i = 0
    while (i < n) {
      if (spans.isNullAt(i)) {
        // a null span element reads as kind IS NULL declaratively
        kindNull = true
        havePrev = false
      } else {
        val s = spans.getStruct(i, 4)
        val kind = if (s.isNullAt(0)) null else s.getUTF8String(0)
        val text = if (s.isNullAt(1)) null else s.getUTF8String(1)
        val ref = if (s.isNullAt(2)) null else s.getUTF8String(2)
        val hasOffset = !s.isNullAt(3)
        val offset = if (hasOffset) s.getInt(3) else 0
        if (kind == null) kindNull = true
        else {
          if (!vocabSet.contains(kind)) badVocab = true
          if (kind.equals(KIND_TEXT)) {
            textCount += 1
            if (hasOffset && offset == 0) headerCount += 1
            if (text == null) textMissing = true
            else {
              if (hasOffset && offset == 0 && !isUpper2(text)) badFormat = true
              // only digit-only strings participate in the range rule
              val v = numericValue(text)
              if (v >= 0 && (v < 1 || v > 50)) badRange = true
              else if (v == -1L && text.numBytes > 18 && allDigits(text)) badRange = true
            }
          } else if (kind.equals(KIND_MEDIA)) {
            hasMedia = true
            mediaCount += 1
            if (text != null) mediaWithText = true
          }
        }
        if (ref != null) {
          // fast path: version-less refs (the overwhelming majority) need
          // no byte copies — the ref IS the base coding, version = latest
          if (ref.indexOf(SLASH, 0) < 0) {
            if (!catalogSet.contains(ref)) dangling = true
            if (!latestSet.contains(ref)) refVersionBad = true
          } else {
            val b = ref.getBytes
            val base = UTF8String.fromBytes(
              java.util.Arrays.copyOfRange(b, lastSlash(b) + 1, b.length))
            if (!catalogSet.contains(base)) dangling = true
            val ver = UTF8String.fromBytes(
              java.util.Arrays.copyOfRange(b, 0, firstSlash(b)))
            val vs = versionSets.get(ver)
            val verSet = if (vs != null) vs else latestSet
            if (!verSet.contains(base)) refVersionBad = true
          }
        }
        if (i == 0 && hasOffset && offset != 0) firstOffsetBad = true
        if (hasOffset) {
          if (havePrev && offset <= prevOffset) outOfOrder = true
          prevOffset = offset
          havePrev = true
        } else havePrev = false
        tOff(m) = offset; tHasOff(m) = hasOffset
        tEitherOk(m) = text != null || ref != null
        m += 1
      }
      i += 1
    }
    // offset-sorted tail check: stable insertion sort (spans arrays are
    // short) with the declarative comparator (null offsets compare equal)
    var tailBad = false
    if (m > 1) {
      val idx = sIdx
      var a = 0
      while (a < m) { idx(a) = a; a += 1 }
      var j = 1
      while (j < m) {
        var k = j
        while (k > 0 && {
          val p = idx(k - 1); val q = idx(k)
          tHasOff(p) && tHasOff(q) && tOff(p) > tOff(q)
        }) { val t = idx(k - 1); idx(k - 1) = idx(k); idx(k) = t; k -= 1 }
        j += 1
      }
      var r = 1
      while (r < m) { if (!tEitherOk(idx(r))) tailBad = true; r += 1 }
    }
    import SpanRules._
    // bit i set = rule SpanRules.all(i) fired
    var fired = 0
    if (kindNull) fired |= bit(KindPresent)
    if (textMissing) fired |= bit(TextPresent)
    if (badVocab) fired |= bit(KindVocab)
    if (dangling) fired |= bit(MediaRefResolves)
    if (badFormat) fired |= bit(TextFormat)
    if (badRange) fired |= bit(QtyRange)
    if (mediaWithText) fired |= bit(MediaNoText)
    if (outOfOrder) fired |= bit(OffsetOrder)
    if (n < 1 || n > 8) fired |= bit(SpanCount)
    if (!hasMedia) fired |= bit(HasMedia)
    if (headerCount != 1) fired |= bit(OneHeader)
    if (tailBad) fired |= bit(TailEitherOr)
    if (textCount < mediaCount) fired |= bit(TextMediaBalance)
    if (headerCount == 0 && mediaCount == 0) fired |= bit(Classified)
    if (firstOffsetBad) fired |= bit(HeaderOffsetEq)
    if (refVersionBad) fired |= bit(RefVersion)
    // lowest bit first: table order
    val out = new Array[AnyRef](Integer.bitCount(fired))
    var k = 0
    while (fired != 0) {
      out(k) = rows(Integer.numberOfTrailingZeros(fired))
      fired &= fired - 1
      k += 1
    }
    new GenericArrayData(out)
  }

  // per-row scratch for the sorted-tail rule, reused across rows (an
  // Expression instance is task-local, so instance scratch is thread-safe);
  // grown on demand for pathological span counts
  @transient private var sOff: Array[Int] = _
  @transient private var sHasOff: Array[Boolean] = _
  @transient private var sEitherOk: Array[Boolean] = _
  @transient private var sIdx: Array[Int] = _

  private def ensureScratch(n: Int): Unit = {
    if (sOff == null || sOff.length < n) {
      val cap = math.max(n, 16)
      sOff = new Array[Int](cap)
      sHasOff = new Array[Boolean](cap)
      sEitherOk = new Array[Boolean](cap)
      sIdx = new Array[Int](cap)
    }
  }

  private def allDigits(s: UTF8String): Boolean = {
    val b = s.getBytes
    var i = 0
    while (i < b.length) { if (b(i) < '0' || b(i) > '9') return false; i += 1 }
    b.length > 0
  }

  override protected def withNewChildInternal(c: Expression): SpanViolations =
    copy(child = c)
  override def prettyName: String = "span_violations"
}

object SpanViolations {
  import org.apache.spark.sql.GraftBridge
  def apply(spans: Column, catalogKeys: Seq[String], vocab: Seq[String],
            catalogByVersion: Map[String, Seq[String]],
            latestVersion: String): Column =
    GraftBridge.column(
      SpanViolations(GraftBridge.expression(spans), catalogKeys, vocab,
        catalogByVersion, latestVersion))
}
