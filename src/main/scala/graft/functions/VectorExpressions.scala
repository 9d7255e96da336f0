package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, TernaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types._

/** Native Catalyst expressions for vector math over `array<float|double>`.
  *
  * Why a custom `Expression`: the expression-chain formulation of a 64-dim
  * dot product (64 multiplies + 63 adds as a tree) exceeds janino's 64KB
  * generated-method limit once it sits inside a join stage, kicking the
  * whole stage out of codegen. This pair generates a tight loop instead —
  * O(1) bytecode regardless of dimension, whole-stage-codegen friendly, and
  * numerically IDENTICAL to the left-associated chain (sequential
  * accumulation in element order), which the DuckDB verification oracle
  * depends on.
  *
  * Null semantics: null input array, or a null element, yields null (same
  * as the chain formulation, where any null element nulls the sum).
  */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    def ok(t: DataType): Boolean = t match {
      case ArrayType(FloatType | DoubleType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType))
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"dot_product expects array<float|double>, got " +
          s"${left.dataType.sql} and ${right.dataType.sql}")
  }

  private def elemIsFloat(e: Expression): Boolean = e.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    // Mismatched dimensions are a caller bug: a truncated dot product is a
    // plausible-but-wrong score, so surface it as null, never a number.
    if (a.numElements() != b.numElements()) return null
    val n = a.numElements()
    val aF = elemIsFloat(left)
    val bF = elemIsFloat(right)
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      val x = if (aF) a.getFloat(i).toDouble else a.getDouble(i)
      val y = if (bF) b.getFloat(i).toDouble else b.getDouble(i)
      acc += x * y
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode)
      : ExprCode = {
    val aGet = if (elemIsFloat(left)) "getFloat" else "getDouble"
    val bGet = if (elemIsFloat(right)) "getFloat" else "getDouble"
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val acc = ctx.freshName("acc")
      s"""
         |int $n = $a.numElements();
         |double $acc = 0.0;
         |if ($n != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }
         |    $acc += ((double) $a.$aGet($i)) * ((double) $b.$bGet($i));
         |  }
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProduct =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "graft_dot"
}

/** [[DotProduct]] over the FIRST `n` elements of both arrays — the
  * truncated-embedding (matryoshka) scorer. Why a dedicated kernel: the
  * expression-chain formulation (`dotChain`) builds `n` literal-indexed
  * terms; at n = 128 the generated method blows past janino/JIT size
  * limits and execution silently falls back to interpreted per-row eval
  * (measured on q378: ~2 s of executor time for a 2 000-row corpus).
  * Same sequential accumulation in element order — bitwise-identical to
  * the n-term left-associated chain (spec-pinned). Null when either
  * array is shorter than `n` or holds a null element in the prefix. */
case class DotPrefix(left: Expression, right: Expression, n: Int)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    def ok(t: DataType): Boolean = t match {
      case ArrayType(FloatType | DoubleType, _) => true
      case _ => false
    }
    if (n >= 0 && ok(left.dataType) && ok(right.dataType))
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"dot_prefix expects array<float|double> and n >= 0, got " +
          s"${left.dataType.sql}, ${right.dataType.sql}, n=$n")
  }

  private def elemIsFloat(e: Expression): Boolean = e.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    if (a.numElements() < n || b.numElements() < n) return null
    val aF = elemIsFloat(left)
    val bF = elemIsFloat(right)
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      val x = if (aF) a.getFloat(i).toDouble else a.getDouble(i)
      val y = if (bF) b.getFloat(i).toDouble else b.getDouble(i)
      acc += x * y
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode)
      : ExprCode = {
    val aGet = if (elemIsFloat(left)) "getFloat" else "getDouble"
    val bGet = if (elemIsFloat(right)) "getFloat" else "getDouble"
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      s"""
         |double $acc = 0.0;
         |if ($a.numElements() < $n || $b.numElements() < $n) {
         |  ${ev.isNull} = true;
         |} else {
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }
         |    $acc += ((double) $a.$aGet($i)) * ((double) $b.$bGet($i));
         |  }
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotPrefix =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "graft_dot_prefix"
}

/** Argmax-of-cosine cell assignment against a LITERAL centroid table:
  * `score_i = dot(v, c_i) / ||c_i||` (the query/vector norm is constant per
  * row, so dividing by it cannot change the argmax), first index wins ties.
  *
  * Why a dedicated kernel: the expression-chain formulation builds
  * nlist × dim literal nodes — at nlist=1024, dim=768 that is ~1.6M
  * expression nodes and a guaranteed janino 64KB blowout. This is a nested
  * loop: O(1) bytecode regardless of nlist/dim, and each dot product is
  * sequential in element order, bitwise-identical to the SQL chain the
  * DuckDB verification oracle runs.
  *
  * Null semantics: null vector, a null element, or a centroid/vector
  * dimension mismatch yields null (a cell id from a truncated score would
  * be plausible-but-wrong).
  */
case class NearestCentroid(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = IntegerType
  override def nullable: Boolean = true

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    val vecOk = left.dataType match {
      case ArrayType(FloatType | DoubleType, _) => true
      case _ => false
    }
    val ctrOk = right.dataType match {
      case ArrayType(ArrayType(DoubleType, _), _) => right.foldable
      case _ => false
    }
    if (vecOk && ctrOk)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        "nearest_centroid expects (array<float|double>, " +
          "foldable array<array<double>>), got " +
          s"${left.dataType.sql} and ${right.dataType.sql}")
  }

  private def vecIsFloat: Boolean = left.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  override def nullSafeEval(v: Any, cs: Any): Any = {
    val vec = v.asInstanceOf[ArrayData]
    val ctrs = cs.asInstanceOf[ArrayData]
    val n = vec.numElements()
    val vF = vecIsFloat
    var best = -1
    var bestScore = Double.NegativeInfinity
    var i = 0
    while (i < ctrs.numElements()) {
      val c = ctrs.getArray(i)
      if (c.numElements() != n) return null
      var dot = 0.0
      var nc = 0.0
      var j = 0
      while (j < n) {
        if (vec.isNullAt(j) || c.isNullAt(j)) return null
        val x = if (vF) vec.getFloat(j).toDouble else vec.getDouble(j)
        val y = c.getDouble(j)
        dot += x * y
        nc += y * y
        j += 1
      }
      val s = dot / math.sqrt(nc)
      if (s > bestScore) { bestScore = s; best = i }
      i += 1
    }
    if (best < 0) null else best
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode)
      : ExprCode = {
    val vGet = if (vecIsFloat) "getFloat" else "getDouble"
    nullSafeCodeGen(ctx, ev, (v, cs) => {
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val n = ctx.freshName("n")
      val c = ctx.freshName("c")
      val dot = ctx.freshName("dot")
      val nc = ctx.freshName("nc")
      val s = ctx.freshName("s")
      val best = ctx.freshName("best")
      val bestScore = ctx.freshName("bestScore")
      val arrayData = classOf[ArrayData].getName
      s"""
         |int $n = $v.numElements();
         |int $best = -1;
         |double $bestScore = Double.NEGATIVE_INFINITY;
         |for (int $i = 0; !${ev.isNull} && $i < $cs.numElements(); $i++) {
         |  $arrayData $c = $cs.getArray($i);
         |  if ($c.numElements() != $n) { ${ev.isNull} = true; break; }
         |  double $dot = 0.0;
         |  double $nc = 0.0;
         |  for (int $j = 0; $j < $n; $j++) {
         |    if ($v.isNullAt($j) || $c.isNullAt($j)) { ${ev.isNull} = true; break; }
         |    double $s = (double) $v.$vGet($j);
         |    $dot += $s * $c.getDouble($j);
         |    $nc += $c.getDouble($j) * $c.getDouble($j);
         |  }
         |  if (!${ev.isNull}) {
         |    double $s = $dot / java.lang.Math.sqrt($nc);
         |    if ($s > $bestScore) { $bestScore = $s; $best = $i; }
         |  }
         |}
         |if ($best < 0) { ${ev.isNull} = true; }
         |${ev.value} = $best;
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): NearestCentroid =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "graft_nearest_centroid"
}

/** Exact integer dot product over `array<int>` → long.
  *
  * The int8-quantization scale path ([[graft.operators.Quantize]]) scores
  * candidates on quantized vectors: 4× less memory traffic than float32
  * and exact 64-bit integer accumulation — no float rounding at all, so
  * ranking is trivially reproducible on any engine (the DuckDB oracle
  * sums BIGINTs). Same loop-kernel rationale as [[DotProduct]]: O(1)
  * bytecode for any dimension, whole-stage-codegen friendly.
  *
  * Null semantics match [[DotProduct]]: null array, null element, or a
  * dimension mismatch yields null.
  */
case class IntDotProduct(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = LongType
  override def nullable: Boolean = true

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    def ok(t: DataType): Boolean = t match {
      case ArrayType(IntegerType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType))
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"int_dot_product expects array<int>, got " +
          s"${left.dataType.sql} and ${right.dataType.sql}")
  }

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    if (a.numElements() != b.numElements()) return null
    val n = a.numElements()
    var acc = 0L
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      acc += a.getInt(i).toLong * b.getInt(i).toLong
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode)
      : ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val acc = ctx.freshName("acc")
      s"""
         |int $n = $a.numElements();
         |long $acc = 0L;
         |if ($n != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }
         |    $acc += ((long) $a.getInt($i)) * ((long) $b.getInt($i));
         |  }
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): IntDotProduct =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "graft_int_dot"
}

/** Product-quantization code assignment: split the vector into `m` equal
  * subspaces (m = codebooks.length) and emit, per subspace, the index of
  * the L2-nearest codeword — `array<int>` of length m. This is the encode
  * step of PQ (Jégou et al., "Product Quantization for Nearest Neighbor
  * Search"): m·log2(k) bits replace dim·32 per stored vector.
  *
  * `right` must be a FOLDABLE `array<array<array<double>>>` shaped
  * [m][k][dim/m] — the codebook is kilobytes, a literal broadcast into the
  * generated code, never a join. Distances accumulate in element order
  * (left-associated) and ties keep the LOWEST code index, so an external
  * SQL engine reproduces the assignment bit-for-bit.
  *
  * Null semantics: null vector / null element / a dimension mismatch
  * (vec length ≠ m × subDim, or ragged codebooks) yields null.
  */
case class PqEncode(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def nullable: Boolean = true

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    val vecOk = left.dataType match {
      case ArrayType(FloatType | DoubleType, _) => true
      case _ => false
    }
    val cbOk = right.dataType match {
      case ArrayType(ArrayType(ArrayType(DoubleType, _), _), _) =>
        right.foldable
      case _ => false
    }
    if (vecOk && cbOk)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        "pq_encode expects (array<float|double>, foldable " +
          s"array<array<array<double>>>), got ${left.dataType.sql} " +
          s"and ${right.dataType.sql}")
  }

  private def vecIsFloat: Boolean = left.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  override def nullSafeEval(v: Any, cbsAny: Any): Any = {
    val vec = v.asInstanceOf[ArrayData]
    val cbs = cbsAny.asInstanceOf[ArrayData]
    val m = cbs.numElements()
    if (m == 0) return null
    val subDim = {
      val cb0 = cbs.getArray(0)
      if (cb0.numElements() == 0) return null
      cb0.getArray(0).numElements()
    }
    if (vec.numElements() != m * subDim) return null
    val vF = vecIsFloat
    val codes = new Array[Int](m)
    var j = 0
    while (j < m) {
      val cb = cbs.getArray(j)
      var best = -1
      var bestD = Double.PositiveInfinity
      var c = 0
      while (c < cb.numElements()) {
        val cw = cb.getArray(c)
        if (cw.numElements() != subDim) return null
        var dist = 0.0
        var d = 0
        while (d < subDim) {
          val off = j * subDim + d
          if (vec.isNullAt(off)) return null
          val x = if (vF) vec.getFloat(off).toDouble else vec.getDouble(off)
          val diff = x - cw.getDouble(d)
          dist += diff * diff
          d += 1
        }
        if (dist < bestD) { bestD = dist; best = c }
        c += 1
      }
      if (best < 0) return null
      codes(j) = best
      j += 1
    }
    new GenericArrayData(codes)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode)
      : ExprCode = {
    val vGet = if (vecIsFloat) "getFloat" else "getDouble"
    nullSafeCodeGen(ctx, ev, (v, cbs) => {
      val m = ctx.freshName("m")
      val subDim = ctx.freshName("subDim")
      val codes = ctx.freshName("codes")
      val j = ctx.freshName("j")
      val c = ctx.freshName("c")
      val d = ctx.freshName("d")
      val off = ctx.freshName("off")
      val cb = ctx.freshName("cb")
      val cw = ctx.freshName("cw")
      val best = ctx.freshName("best")
      val bestD = ctx.freshName("bestD")
      val dist = ctx.freshName("dist")
      val diff = ctx.freshName("diff")
      val arrayData = classOf[ArrayData].getName
      val genericArrayData = classOf[GenericArrayData].getName
      s"""
         |int $m = $cbs.numElements();
         |int $subDim = ($m == 0 || $cbs.getArray(0).numElements() == 0)
         |  ? -1 : $cbs.getArray(0).getArray(0).numElements();
         |if ($subDim < 0 || $v.numElements() != $m * $subDim) {
         |  ${ev.isNull} = true;
         |}
         |int[] $codes = new int[$m < 0 ? 0 : $m];
         |for (int $j = 0; !${ev.isNull} && $j < $m; $j++) {
         |  $arrayData $cb = $cbs.getArray($j);
         |  int $best = -1;
         |  double $bestD = Double.POSITIVE_INFINITY;
         |  for (int $c = 0; !${ev.isNull} && $c < $cb.numElements(); $c++) {
         |    $arrayData $cw = $cb.getArray($c);
         |    if ($cw.numElements() != $subDim) { ${ev.isNull} = true; break; }
         |    double $dist = 0.0;
         |    for (int $d = 0; $d < $subDim; $d++) {
         |      int $off = $j * $subDim + $d;
         |      if ($v.isNullAt($off)) { ${ev.isNull} = true; break; }
         |      double $diff = ((double) $v.$vGet($off)) - $cw.getDouble($d);
         |      $dist += $diff * $diff;
         |    }
         |    if (!${ev.isNull} && $dist < $bestD) { $bestD = $dist; $best = $c; }
         |  }
         |  if ($best < 0) { ${ev.isNull} = true; }
         |  $codes[$j] = $best < 0 ? 0 : $best;
         |}
         |${ev.value} = new $genericArrayData($codes);
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): PqEncode =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "graft_pq_encode"
}

/** Per-subspace PQ quantization error on the 1e-9 integer grid:
  * for each subspace j, `floor(Σ_d (vec[j·sub+d] − cb[j][codes[j]][d])²
  * · 1e9)` as a long — `array<long>` of length m. The distortion read
  * behind q390: the expression formulation (a transform() lambda over a
  * 32k-double literal) runs INTERPRETED per row — higher-order
  * functions never enter whole-stage codegen — and measured ~2.5 s of
  * per-row eval on a 2 000-row corpus. This kernel is the same
  * arithmetic as the lambda, term for term: distances accumulate in
  * element order (left-associated), double subtraction against the
  * codeword, one floor at the end — so the DuckDB oracle's unrolled
  * subDistChain still hash-matches exactly.
  *
  * `third` must be a FOLDABLE [m][k][dim/m] codebook (the [[PqEncode]]
  * contract). Null semantics: null vector/codes/element or any
  * dimension mismatch yields null. */
case class PqSubspaceDistE9(first: Expression, second: Expression,
    third: Expression) extends TernaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    val vecOk = first.dataType match {
      case ArrayType(FloatType | DoubleType, _) => true
      case _ => false
    }
    val codesOk = second.dataType match {
      case ArrayType(IntegerType, _) => true
      case _ => false
    }
    val cbOk = third.dataType match {
      case ArrayType(ArrayType(ArrayType(DoubleType, _), _), _) =>
        third.foldable
      case _ => false
    }
    if (vecOk && codesOk && cbOk)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        "pq_subspace_dist_e9 expects (array<float|double>, array<int>, " +
          s"foldable [m][k][sub] double codebook), got ${first.dataType.sql}, " +
          s"${second.dataType.sql}, ${third.dataType.sql}")
  }

  private def vecIsFloat: Boolean = first.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  override def nullSafeEval(v: Any, cd: Any, cb: Any): Any = {
    val vec = v.asInstanceOf[ArrayData]
    val codes = cd.asInstanceOf[ArrayData]
    val cbs = cb.asInstanceOf[ArrayData]
    val m = cbs.numElements()
    // the codegen guard: an empty first sub-book has no sub-dimension
    if (m == 0 || codes.numElements() != m ||
        cbs.getArray(0).numElements() == 0) return null
    val subDim = cbs.getArray(0).getArray(0).numElements()
    if (vec.numElements() != m * subDim) return null
    val vF = vecIsFloat
    val out = new Array[Long](m)
    var j = 0
    while (j < m) {
      if (codes.isNullAt(j)) return null
      val c = codes.getInt(j)
      val book = cbs.getArray(j)
      if (c < 0 || c >= book.numElements()) return null
      val cw = book.getArray(c)
      if (cw.numElements() != subDim) return null
      var dist = 0.0
      var d = 0
      while (d < subDim) {
        val off = j * subDim + d
        if (vec.isNullAt(off)) return null
        val x = if (vF) vec.getFloat(off).toDouble else vec.getDouble(off)
        val diff = x - cw.getDouble(d)
        dist += diff * diff
        d += 1
      }
      out(j) = math.floor(dist * 1e9).toLong
      j += 1
    }
    new GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode)
      : ExprCode = {
    val vGet = if (vecIsFloat) "getFloat" else "getDouble"
    nullSafeCodeGen(ctx, ev, (v, cd, cbs) => {
      val m = ctx.freshName("m")
      val subDim = ctx.freshName("subDim")
      val out = ctx.freshName("out")
      val j = ctx.freshName("j")
      val c = ctx.freshName("c")
      val d = ctx.freshName("d")
      val off = ctx.freshName("off")
      val book = ctx.freshName("book")
      val cw = ctx.freshName("cw")
      val dist = ctx.freshName("dist")
      val diff = ctx.freshName("diff")
      val arrayData = classOf[ArrayData].getName
      val genericArrayData = classOf[GenericArrayData].getName
      s"""
         |int $m = $cbs.numElements();
         |int $subDim = ($m == 0 || $cbs.getArray(0).numElements() == 0)
         |  ? -1 : $cbs.getArray(0).getArray(0).numElements();
         |if ($subDim < 0 || $cd.numElements() != $m ||
         |    $v.numElements() != $m * $subDim) {
         |  ${ev.isNull} = true;
         |}
         |long[] $out = new long[$m < 0 ? 0 : $m];
         |for (int $j = 0; !${ev.isNull} && $j < $m; $j++) {
         |  if ($cd.isNullAt($j)) { ${ev.isNull} = true; break; }
         |  int $c = $cd.getInt($j);
         |  $arrayData $book = $cbs.getArray($j);
         |  if ($c < 0 || $c >= $book.numElements()) { ${ev.isNull} = true; break; }
         |  $arrayData $cw = $book.getArray($c);
         |  if ($cw.numElements() != $subDim) { ${ev.isNull} = true; break; }
         |  double $dist = 0.0;
         |  for (int $d = 0; $d < $subDim; $d++) {
         |    int $off = $j * $subDim + $d;
         |    if ($v.isNullAt($off)) { ${ev.isNull} = true; break; }
         |    double $diff = ((double) $v.$vGet($off)) - $cw.getDouble($d);
         |    $dist += $diff * $diff;
         |  }
         |  $out[$j] = (long) Math.floor($dist * 1e9);
         |}
         |${ev.value} = new $genericArrayData($out);
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(newFirst: Expression,
      newSecond: Expression, newThird: Expression): PqSubspaceDistE9 =
    copy(first = newFirst, second = newSecond, third = newThird)

  override def prettyName: String = "graft_pq_subspace_dist_e9"
}

object VectorFunctions {
  /** Dot product as a Column — codegen'd loop, order-identical to the
    * left-associated expression chain. */
  def dotNative(a: Column, b: Column): Column =
    ColumnBridge.column(DotProduct(expr(a), expr(b)))

  /** Exact integer dot product over `array<int>` (quantized vectors). */
  def intDotNative(a: Column, b: Column): Column =
    ColumnBridge.column(IntDotProduct(expr(a), expr(b)))

  /** Dot product over the first `n` elements — the matryoshka scorer
    * (bitwise-identical to the n-term left-associated chain). */
  def dotPrefixNative(a: Column, b: Column, n: Int): Column =
    ColumnBridge.column(DotPrefix(expr(a), expr(b), n))

  /** L2 norm via the same kernel (`sqrt(dot(a, a))`). */
  def normNative(a: Column): Column =
    org.apache.spark.sql.functions.sqrt(dotNative(a, a))

  /** PQ codes: per-subspace index of the L2-nearest codeword (lowest code
    * wins ties). `codebooks` is [m][k][dim/m], embedded as a literal. */
  def pqEncode(vec: Column, codebooks: Seq[Seq[Seq[Double]]]): Column =
    ColumnBridge.column(PqEncode(expr(vec),
      expr(org.apache.spark.sql.functions.typedlit(codebooks))))

  /** Index of the nearest centroid (argmax of `dot/||c||`, first wins). */
  def nearestCentroid(vec: Column, centroids: Seq[Seq[Double]]): Column =
    ColumnBridge.column(NearestCentroid(expr(vec),
      expr(org.apache.spark.sql.functions.typedlit(centroids))))

  /** Per-subspace floored-e9 PQ quantization errors (`array<long>`). */
  def pqSubspaceDistE9(vec: Column, codes: Column,
      codebooks: Seq[Seq[Seq[Double]]]): Column =
    ColumnBridge.column(PqSubspaceDistE9(expr(vec), expr(codes),
      expr(org.apache.spark.sql.functions.typedlit(codebooks))))

  private def expr(c: Column): Expression = ColumnBridge.expression(c)
}
