package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Compiled vector kernels for the similarity operators.
  *
  * Rationale (same as MinHashBands/SimHash64): higher-order functions are
  * interpreted expression trees — `aggregate(zip_with(a, b, *), +)` pays two
  * array allocations and ~2 x dim interpreted lambda calls per evaluation,
  * and the nested-HOF `lshBucket` pays nTables x nBits x dim of them per
  * row (the driver's slowest round-1 query, 26.4 s, was dominated by it).
  * These expressions do the identical arithmetic in one compiled pass.
  */
object VectorExprs {
  /** FNV-1a 64 constants — shared with SimHash64's token hash; chosen
    * because the identical fold is recomputable in ANSI SQL (HUGEINT
    * arithmetic mod 2^64), which lets the DuckDB oracle rebuild the
    * hyperplane signs independently. */
  val FNV_BASIS = 0xcbf29ce484222325L
  val FNV_PRIME = 0x100000001b3L

  /** Deterministic +-1 hyperplane component: FNV-1a over the 8
    * little-endian bytes of (plane, component); bit 32 of the hash (low
    * FNV bits are a parity chain — never use bit 0 of FNV for signs). */
  def planeSign(p: Int, i: Int): Double = {
    var h = FNV_BASIS
    var b = 0
    while (b < 4) { h = (h ^ ((p >> (8 * b)) & 0xff)) * FNV_PRIME; b += 1 }
    b = 0
    while (b < 4) { h = (h ^ ((i >> (8 * b)) & 0xff)) * FNV_PRIME; b += 1 }
    if (((h >>> 32) & 1L) == 0L) 1.0 else -1.0
  }
}

/** Sequential left-fold dot product of two array<double> columns.
  * NULL-parity with `aggregate(zip_with(a,b,*), 0.0, +)`: a length mismatch
  * (zip_with pads with null) or any null element yields NULL.
  *
  * Generates a primitive Java loop (doGenCode) so the hottest inner kernel
  * of every similarity operator stays INSIDE whole-stage codegen — a
  * CodegenFallback here would force row materialization at the expression
  * boundary of every scored candidate pair. */
case class DotProduct(left: Expression, right: Expression)
  extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val n = a.numElements()
    if (b.numElements() != n) return null
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      acc += a.getDouble(i) * b.getDouble(i)
      i += 1
    }
    java.lang.Double.valueOf(acc)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      s"""
         |final int $n = $a.numElements();
         |if ($b.numElements() != $n) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $acc = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }
         |    $acc += $a.getDouble($i) * $b.getDouble($i);
         |  }
         |  if (!${ev.isNull}) ${ev.value} = $acc;
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression): DotProduct =
    copy(left = l, right = r)
  override def prettyName: String = "dot_product"
}

object DotProduct {
  import org.apache.spark.sql.GraftBridge
  def apply(a: Column, b: Column): Column =
    GraftBridge.column(DotProduct(GraftBridge.expression(a), GraftBridge.expression(b)))
}

/** All nTables random-hyperplane LSH signatures of an array<double> vector
  * in ONE pass: element t of the result is a long whose bit j is the sign
  * of <v, h_{t,j}>, where hyperplane h_{t,j} has the deterministic +-1
  * components VectorExprs.planeSign(t*nBits+j, i).
  *
  * The +-1 component signs depend only on (plane, component index), so they
  * are computed once per plane per executor and cached — per-row work drops
  * to nTables x nBits fused dot products with zero hashing, vs an
  * interpreted nested-HOF formulation's nTables x nBits x dim lambda
  * evaluations AND hash calls. Any null element yields NULL (row dropped
  * by the caller's isNotNull guard).
  */
case class LshBuckets(child: Expression, nBits: Int, nTables: Int)
  extends UnaryExpression {
  require(nBits > 0 && nBits <= 63 && nTables > 0)

  override def dataType: DataType = ArrayType(LongType)
  override def nullable: Boolean = true

  @transient private lazy val signCache = new Array[Array[Double]](nTables * nBits)

  private def planeSigns(p: Int, dim: Int): Array[Double] = {
    var s = signCache(p)
    if (s == null || s.length < dim) {
      val d = math.max(dim, 64)
      s = new Array[Double](d)
      var i = 0
      while (i < d) {
        s(i) = VectorExprs.planeSign(p, i)
        i += 1
      }
      signCache(p) = s
    }
    s
  }

  override def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[ArrayData])

  /** Compiled body, shared by interpreted eval and generated code (the
    * generated projection calls it through a reference object — one virtual
    * call per row, everything around it stays fused in whole-stage codegen
    * instead of falling back to row materialization). Returns null on any
    * null element. */
  def compute(arr: ArrayData): ArrayData = {
    val dim = arr.numElements()
    val v = new Array[Double](dim)
    var i = 0
    while (i < dim) {
      if (arr.isNullAt(i)) return null
      v(i) = arr.getDouble(i)
      i += 1
    }
    val out = new Array[Any](nTables)
    var t = 0
    while (t < nTables) {
      var bucket = 0L
      var j = 0
      while (j < nBits) {
        val signs = planeSigns(t * nBits + j, dim)
        var dot = 0.0
        var k = 0
        while (k < dim) { dot += v(k) * signs(k); k += 1 }
        if (dot > 0) bucket |= (1L << j)
        j += 1
      }
      out(t) = java.lang.Long.valueOf(bucket)
      t += 1
    }
    new GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val self = ctx.addReferenceObj("lshBuckets", this)
      s"""
         |${ev.value} = $self.compute($c);
         |${ev.isNull} = (${ev.value} == null);
       """.stripMargin
    })

  override protected def withNewChildInternal(c: Expression): LshBuckets = copy(child = c)
  override def prettyName: String = "lsh_buckets"
}

object LshBuckets {
  import org.apache.spark.sql.GraftBridge
  def apply(v: Column, nBits: Int, nTables: Int): Column =
    GraftBridge.column(LshBuckets(GraftBridge.expression(v), nBits, nTables))
}

/** Product-quantizer encoder: all m subspace codes of an array<double>
  * vector in one compiled pass. Code j is the L2-argmin over the ksub
  * codebook entries of subspace j (strict < keeps the smallest entry id on
  * ties), with layout cb[(j*ksub + c)*dsub + i] — exactly the arithmetic of
  * the declarative HOF twin OpsSpec tests it against (equality-asserted on
  * the null-free corpus), whose interpreted form pays ~2 x dim x ksub lambda
  * evaluations per row (the argmin fold evaluates each candidate distance
  * twice: once for the comparison, once for the kept struct). This is the
  * corpus-scale hot loop of the IVF-PQ index build — every vector of a
  * 10^12-row corpus runs it once.
  *
  * The codebook is a Seq (value equality, so Catalyst canonicalization and
  * subexpression elimination see identical encoders as equal) converted
  * once per executor to a primitive array.
  *
  * NULL CONTRACT (deliberately STRICTER than the twin): any null element
  * or wrong-dimension vector yields NULL for the whole row — a null code
  * array cannot be mis-read as a valid encoding. The declarative twin
  * instead null-poisons per SUBSPACE: a null element makes that
  * subspace's distances null, the when() never fires, and the fold's
  * initial c = -1 survives — a non-NULL codes array carrying -1, which
  * downstream reconstruction would mis-index. The two agree on every
  * well-formed vector (the only input the index build feeds the kernel). */
case class PqEncode(child: Expression, cbFlat: Seq[Double], m: Int, ksub: Int)
  extends UnaryExpression {
  require(m > 0 && ksub > 0 && cbFlat.nonEmpty &&
    cbFlat.size % (m * ksub) == 0, "codebook size must be m*ksub*dsub")

  private val dsub = cbFlat.size / (m * ksub)

  override def dataType: DataType = ArrayType(IntegerType)
  override def nullable: Boolean = true

  /** Analysis-time input check (the declarative twin gets this from
    * Catalyst for free): a non-array<double> child must fail analysis, not
    * ClassCastException inside executors at runtime. */
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    import org.apache.spark.sql.catalyst.analysis.TypeCheckResult._
    child.dataType match {
      case ArrayType(DoubleType, _) => TypeCheckSuccess
      case t => TypeCheckFailure(
        s"pq_encode needs array<double>, got ${t.simpleString(10)}")
    }
  }

  @transient private lazy val cb: Array[Double] = cbFlat.toArray

  override def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[ArrayData])

  /** Compiled body, shared by interpreted eval and generated code (same
    * single-virtual-call shape as LshBuckets.compute). */
  def compute(arr: ArrayData): ArrayData = {
    val dim = arr.numElements()
    if (dim != m * dsub) return null
    val v = new Array[Double](dim)
    var i = 0
    while (i < dim) {
      if (arr.isNullAt(i)) return null
      v(i) = arr.getDouble(i)
      i += 1
    }
    val out = new Array[Any](m)
    var j = 0
    while (j < m) {
      var best = -1
      var bestD = Double.PositiveInfinity
      var c = 0
      while (c < ksub) {
        var d = 0.0
        var k = 0
        val vo = j * dsub
        val co = (j * ksub + c) * dsub
        while (k < dsub) {
          val diff = v(vo + k) - cb(co + k)
          d += diff * diff
          k += 1
        }
        if (d < bestD) { bestD = d; best = c }
        c += 1
      }
      out(j) = java.lang.Integer.valueOf(best)
      j += 1
    }
    new GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val self = ctx.addReferenceObj("pqEncode", this)
      s"""
         |${ev.value} = $self.compute($c);
         |${ev.isNull} = (${ev.value} == null);
       """.stripMargin
    })

  override protected def withNewChildInternal(c: Expression): PqEncode = copy(child = c)
  override def prettyName: String = "pq_encode"
}

object PqEncode {
  import org.apache.spark.sql.GraftBridge
  def apply(v: Column, cbFlat: Seq[Double], m: Int, ksub: Int): Column =
    GraftBridge.column(PqEncode(GraftBridge.expression(v), cbFlat, m, ksub))
}
