package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{ArrayType, BinaryType, DataType, DoubleType, IntegerType, LongType}

/** Native Catalyst expression for the dot product of two double arrays.
  *
  * Spark's higher-order functions (zip_with/aggregate/transform) are
  * CodegenFallback: inside a generated projection they drop to interpreted
  * per-element lambda eval with boxing — ~100x slower than a fused loop on
  * the similarity hot path (millions of pairs x 64 dims). This expression
  * generates a tight primitive loop via doGenCode, keeping pairwise cosine
  * inside WholeStageCodegen.
  */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {

  override def nullIntolerant: Boolean = true

  // AbstractDataType is private[sql]; the covariant inferred type is a
  // valid override of ExpectsInputTypes.inputTypes
  override def inputTypes = Seq(ArrayType(DoubleType), ArrayType(DoubleType))

  override def dataType: DataType = DoubleType

  override def prettyName: String = "graft_dot"

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var s = 0.0
    var i = 0
    while (i < n) { s += x.getDouble(i) * y.getDouble(i); i += 1 }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val s = ctx.freshName("s")
      s"""
         |int $n = java.lang.Math.min($x.numElements(), $y.numElements());
         |double $s = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $s += $x.getDouble($i) * $y.getDouble($i);
         |}
         |${ev.value} = $s;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProduct =
    copy(left = newLeft, right = newRight)
}

/** Native random-hyperplane LSH bucket: packs the sign bits of `planes`
  * pseudo-random projections of a double-array vector into one long.
  * Plane p's normal has +-1 components sign(p, i) derived from a splitmix64
  * finalizer over (p, i) — deterministic, no stored model, identical across
  * probes and corpus.
  *
  * This replaces a per-plane `aggregate(zip_with(...))` lambda stack (12
  * CodegenFallback evaluations per CORPUS row — interpreted and boxed on
  * the 100 TB side of the join). Here one fused loop walks the vector once,
  * accumulating all plane projections, inside WholeStageCodegen.
  */
case class SignPack(child: Expression, planes: Int)
    extends UnaryExpression with ExpectsInputTypes {

  require(planes >= 1 && planes <= 63, "planes must be in [1, 63]")

  override def nullIntolerant: Boolean = true
  override def inputTypes = Seq(ArrayType(DoubleType))
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_signpack"

  override protected def nullSafeEval(input: Any): Any = {
    val v = input.asInstanceOf[ArrayData]
    val n = v.numElements()
    val acc = new Array[Double](planes)
    var i = 0
    while (i < n) {
      val x = v.getDouble(i)
      var p = 0
      while (p < planes) {
        if ((SignPack.mix(p * 1000003L + i) & 1L) == 0L) acc(p) += x
        else acc(p) -= x
        p += 1
      }
      i += 1
    }
    var b = 0L
    var p = 0
    while (p < planes) { if (acc(p) >= 0.0d) b |= (1L << p); p += 1 }
    b
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, v => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val p = ctx.freshName("p")
      val x = ctx.freshName("x")
      val acc = ctx.freshName("acc")
      val b = ctx.freshName("b")
      s"""
         |int $n = $v.numElements();
         |double[] $acc = new double[$planes];
         |for (int $i = 0; $i < $n; $i++) {
         |  double $x = $v.getDouble($i);
         |  for (int $p = 0; $p < $planes; $p++) {
         |    if ((graft.functions.SignPack.mix($p * 1000003L + (long) $i) & 1L) == 0L) {
         |      $acc[$p] += $x;
         |    } else {
         |      $acc[$p] -= $x;
         |    }
         |  }
         |}
         |long $b = 0L;
         |for (int $p = 0; $p < $planes; $p++) {
         |  if ($acc[$p] >= 0.0d) $b |= (1L << $p);
         |}
         |${ev.value} = $b;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): SignPack =
    copy(child = newChild)
}

object SignPack {
  /** splitmix64 finalizer — called from both interpreted eval and generated
    * code (via the static forwarder on the companion class).
    */
  def mix(seed: Long): Long = {
    var z = seed + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
}

/** The model-dimension guard of the model-baked expressions: a vector
  * whose length differs from the baked model's (an [[graft.ops.VectorOps]]
  * index trained for another embedder) fails loudly, naming both
  * dimensions, instead of scoring a truncated prefix. Called from the
  * interpreted path and, through the static forwarder, from generated
  * code.
  */
private[functions] object ModelDim {
  def check(expr: String, got: Int, want: Int): Unit =
    if (got != want) throw new IllegalArgumentException(
      s"$expr: vector dimension $got does not match the model dimension $want")

  /** The generated-code twin of [[check]]. */
  def code(expr: String, got: String, want: Int): String =
    s"""graft.functions.ModelDim.check("$expr", $got, $want);"""

  /** The common row length of a centroid matrix. */
  def of(centroids: Array[Array[Double]]): Int = {
    val dim = centroids.head.length
    require(centroids.forall(_.length == dim), "ragged centroid matrix")
    dim
  }
}

/** Nearest-centroid index by squared L2, over a centroid matrix baked into
  * the expression (ties → lowest index). One fused loop per row inside
  * WholeStageCodegen — the k-means assignment step as a PURE MAP.
  *
  * The alternative (corpus crossJoin broadcast(k centroids) + window
  * argmin) materializes and shuffles N×k rows carrying the vector per
  * iteration; at 1M×k=200 that is 200M wide rows through an exchange
  * per Lloyd round. This expression reads each vector once and emits one
  * int — no join, no shuffle, no row blow-up. Exactness: inputs are
  * integer-quantized doubles, so dist² = \|q\|² − 2q·c + \|c\|² compares
  * identically to the window path's (\|q\|² is row-constant and drops out
  * of the argmin; the remaining terms are the same exact doubles).
  */
case class NearestCentroid(child: Expression, centroids: Array[Array[Double]])
    extends UnaryExpression with ExpectsInputTypes {

  require(centroids.nonEmpty, "centroids must be non-empty")
  private val dim = ModelDim.of(centroids)

  override def nullIntolerant: Boolean = true
  override def inputTypes = Seq(ArrayType(DoubleType))
  override def dataType: DataType = IntegerType
  override def prettyName: String = "graft_nearest_centroid"

  // per-centroid |c|^2, computed once per expression instance
  @transient private lazy val cn2s: Array[Double] =
    centroids.map { v =>
      var s = 0.0; var i = 0
      while (i < v.length) { s += v(i) * v(i); i += 1 }
      s
    }

  override protected def nullSafeEval(input: Any): Any = {
    val q = input.asInstanceOf[ArrayData]
    ModelDim.check(prettyName, q.numElements(), dim)
    var best = 0
    var bestScore = Double.PositiveInfinity
    var ci = 0
    while (ci < centroids.length) {
      val cv = centroids(ci)
      var dot = 0.0; var i = 0
      while (i < dim) { dot += q.getDouble(i) * cv(i); i += 1 }
      val score = cn2s(ci) - 2.0 * dot
      if (score < bestScore) { bestScore = score; best = ci }
      ci += 1
    }
    best
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, q => {
      val cents = ctx.addReferenceObj("centroids", centroids, "double[][]")
      val cn2 = ctx.addReferenceObj("cn2s", cn2s, "double[]")
      val best = ctx.freshName("best")
      val bestScore = ctx.freshName("bestScore")
      val ci = ctx.freshName("ci")
      val cv = ctx.freshName("cv")
      val dot = ctx.freshName("dot")
      val i = ctx.freshName("i")
      val score = ctx.freshName("score")
      s"""
         |${ModelDim.code(prettyName, s"$q.numElements()", dim)}
         |int $best = 0;
         |double $bestScore = Double.POSITIVE_INFINITY;
         |for (int $ci = 0; $ci < $cents.length; $ci++) {
         |  double[] $cv = $cents[$ci];
         |  double $dot = 0.0;
         |  for (int $i = 0; $i < $dim; $i++) {
         |    $dot += $q.getDouble($i) * $cv[$i];
         |  }
         |  double $score = $cn2[$ci] - 2.0d * $dot;
         |  if ($score < $bestScore) { $bestScore = $score; $best = $ci; }
         |}
         |${ev.value} = $best;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): NearestCentroid =
    copy(child = newChild)
}

/** The `nAssign` nearest centroid indices by squared L2, closest first
  * (ties → lowest index), as array<int> — the multi-probe variant of
  * [[NearestCentroid]]: each row emits n indices instead of joining k
  * scored copies of itself through a window sort. A small insertion sort
  * over (score, index) runs inside the per-row loop; n is tiny (2–4) so
  * the sort is a handful of compares per centroid.
  */
case class NearestCentroids(
    child: Expression, centroids: Array[Array[Double]], nAssign: Int)
    extends UnaryExpression with ExpectsInputTypes {

  require(centroids.nonEmpty, "centroids must be non-empty")
  require(nAssign >= 1 && nAssign <= centroids.length,
    "nAssign must be in [1, k]")
  private val dim = ModelDim.of(centroids)

  override def nullIntolerant: Boolean = true
  override def inputTypes = Seq(ArrayType(DoubleType))
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "graft_nearest_centroids"

  @transient private lazy val cn2s: Array[Double] =
    centroids.map { v =>
      var s = 0.0; var i = 0
      while (i < v.length) { s += v(i) * v(i); i += 1 }
      s
    }

  override protected def nullSafeEval(input: Any): Any = {
    val q = input.asInstanceOf[ArrayData]
    ModelDim.check(prettyName, q.numElements(), dim)
    val bestIdx = new Array[Int](nAssign)
    val bestScore = Array.fill(nAssign)(Double.PositiveInfinity)
    var ci = 0
    while (ci < centroids.length) {
      val cv = centroids(ci)
      var dot = 0.0; var i = 0
      while (i < dim) { dot += q.getDouble(i) * cv(i); i += 1 }
      val score = cn2s(ci) - 2.0 * dot
      // insertion: strict < keeps earlier (lower) index on ties
      var j = nAssign - 1
      if (score < bestScore(j)) {
        while (j > 0 && score < bestScore(j - 1)) {
          bestScore(j) = bestScore(j - 1); bestIdx(j) = bestIdx(j - 1); j -= 1
        }
        bestScore(j) = score; bestIdx(j) = ci
      }
      ci += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(bestIdx)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, q => {
      val cents = ctx.addReferenceObj("centroids", centroids, "double[][]")
      val cn2 = ctx.addReferenceObj("cn2s", cn2s, "double[]")
      val bestIdx = ctx.freshName("bestIdx")
      val bestScore = ctx.freshName("bestScore")
      val ci = ctx.freshName("ci")
      val cv = ctx.freshName("cv")
      val dot = ctx.freshName("dot")
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val score = ctx.freshName("score")
      s"""
         |${ModelDim.code(prettyName, s"$q.numElements()", dim)}
         |int[] $bestIdx = new int[$nAssign];
         |double[] $bestScore = new double[$nAssign];
         |java.util.Arrays.fill($bestScore, Double.POSITIVE_INFINITY);
         |for (int $ci = 0; $ci < $cents.length; $ci++) {
         |  double[] $cv = $cents[$ci];
         |  double $dot = 0.0;
         |  for (int $i = 0; $i < $dim; $i++) {
         |    $dot += $q.getDouble($i) * $cv[$i];
         |  }
         |  double $score = $cn2[$ci] - 2.0d * $dot;
         |  int $j = $nAssign - 1;
         |  if ($score < $bestScore[$j]) {
         |    while ($j > 0 && $score < $bestScore[$j - 1]) {
         |      $bestScore[$j] = $bestScore[$j - 1];
         |      $bestIdx[$j] = $bestIdx[$j - 1];
         |      $j--;
         |    }
         |    $bestScore[$j] = $score;
         |    $bestIdx[$j] = $ci;
         |  }
         |}
         |${ev.value} = org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray($bestIdx);
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): NearestCentroids =
    copy(child = newChild)
}

/** dot(vec, centroids[idx]) with the centroid matrix baked into the
  * expression — the per-(probe, list) first-order term of residual-encoded
  * IVFPQ's ADC score (dot(p, v) = dot(p, c_list) + dot(p, residual), the
  * second term approximated by the LUT sum). A broadcast join against a
  * k-row centroid table would compute the same value; this keeps the
  * probe fanout a pure map inside WholeStageCodegen.
  */
case class CentroidDot(
    left: Expression, right: Expression, centroids: Array[Array[Double]])
    extends BinaryExpression with ExpectsInputTypes {

  require(centroids.nonEmpty, "centroids must be non-empty")
  private val dim = ModelDim.of(centroids)

  override def nullIntolerant: Boolean = true
  override def inputTypes = Seq(ArrayType(DoubleType), IntegerType)
  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_centroid_dot"

  override protected def nullSafeEval(v: Any, idx: Any): Any = {
    val q = v.asInstanceOf[ArrayData]
    ModelDim.check(prettyName, q.numElements(), dim)
    val cv = centroids(idx.asInstanceOf[Int])
    var s = 0.0; var i = 0
    while (i < dim) { s += q.getDouble(i) * cv(i); i += 1 }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (q, idx) => {
      val cents = ctx.addReferenceObj("centroids", centroids, "double[][]")
      val cv = ctx.freshName("cv")
      val s = ctx.freshName("s")
      val i = ctx.freshName("i")
      s"""
         |${ModelDim.code(prettyName, s"$q.numElements()", dim)}
         |double[] $cv = $cents[$idx];
         |double $s = 0.0;
         |for (int $i = 0; $i < $dim; $i++) {
         |  $s += $q.getDouble($i) * $cv[$i];
         |}
         |${ev.value} = $s;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CentroidDot =
    copy(left = newLeft, right = newRight)
}

/** vec − centroids[idx] elementwise, matrix baked in — the residual a
  * corpus vector carries into residual-encoded PQ (FAISS IVFPQ's
  * by_residual): each vector is PQ-coded relative to its list centroid,
  * so codewords only need to cover the within-cell spread, not the whole
  * space. One fused loop per row; the zip_with formulation would be
  * CodegenFallback on the corpus-scan hot path.
  */
case class CentroidResidual(
    left: Expression, right: Expression, centroids: Array[Array[Double]])
    extends BinaryExpression with ExpectsInputTypes {

  require(centroids.nonEmpty, "centroids must be non-empty")
  private val dim = ModelDim.of(centroids)

  override def nullIntolerant: Boolean = true
  override def inputTypes = Seq(ArrayType(DoubleType), IntegerType)
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def prettyName: String = "graft_centroid_residual"

  override protected def nullSafeEval(v: Any, idx: Any): Any = {
    val q = v.asInstanceOf[ArrayData]
    ModelDim.check(prettyName, q.numElements(), dim)
    val cv = centroids(idx.asInstanceOf[Int])
    val out = new Array[Double](dim)
    var i = 0
    while (i < dim) { out(i) = q.getDouble(i) - cv(i); i += 1 }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (q, idx) => {
      val cents = ctx.addReferenceObj("centroids", centroids, "double[][]")
      val cv = ctx.freshName("cv")
      val out = ctx.freshName("out")
      val i = ctx.freshName("i")
      s"""
         |${ModelDim.code(prettyName, s"$q.numElements()", dim)}
         |double[] $cv = $cents[$idx];
         |double[] $out = new double[$dim];
         |for (int $i = 0; $i < $dim; $i++) {
         |  $out[$i] = $q.getDouble($i) - $cv[$i];
         |}
         |${ev.value} = org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray($out);
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CentroidResidual =
    copy(left = newLeft, right = newRight)
}

/** Per-dimension 8-bit scalar quantization encode (FAISS ScalarQuantizer
  * QT_8bit): `code_i = clamp(rint((v_i − min_i) / delta_i), 0, 255)`,
  * packed one BYTE per dimension into a BinaryType value — 8× less scan
  * bandwidth than the quantized double array. Train ranges are baked into
  * the expression; `rint` (not floor) in BOTH eval paths so interpreted
  * and generated code agree bit-for-bit.
  */
case class Sq8Encode(
    child: Expression, mins: Array[Double], deltas: Array[Double])
    extends UnaryExpression with ExpectsInputTypes {

  require(mins.length == deltas.length && mins.nonEmpty,
    "mins/deltas must be equal-length and non-empty")

  override def nullIntolerant: Boolean = true
  override def inputTypes = Seq(ArrayType(DoubleType))
  override def dataType: DataType = BinaryType
  override def prettyName: String = "graft_sq8_encode"

  override protected def nullSafeEval(v: Any): Any = {
    val q = v.asInstanceOf[ArrayData]
    ModelDim.check(prettyName, q.numElements(), mins.length)
    val n = mins.length
    val out = new Array[Byte](n)
    var i = 0
    while (i < n) {
      val c = math.rint((q.getDouble(i) - mins(i)) / deltas(i))
      out(i) = (if (c < 0.0) 0 else if (c > 255.0) 255 else c.toInt).toByte
      i += 1
    }
    out
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, q => {
      val mn = ctx.addReferenceObj("mins", mins, "double[]")
      val dl = ctx.addReferenceObj("deltas", deltas, "double[]")
      val n = ctx.freshName("n")
      val out = ctx.freshName("out")
      val i = ctx.freshName("i")
      val c = ctx.freshName("c")
      s"""
         |${ModelDim.code(prettyName, s"$q.numElements()", mins.length)}
         |int $n = $mn.length;
         |byte[] $out = new byte[$n];
         |for (int $i = 0; $i < $n; $i++) {
         |  double $c = java.lang.Math.rint(
         |    ($q.getDouble($i) - $mn[$i]) / $dl[$i]);
         |  $out[$i] = (byte)($c < 0.0d ? 0 : ($c > 255.0d ? 255 : (int)$c));
         |}
         |${ev.value} = $out;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Sq8Encode =
    copy(child = newChild)
}

/** Σ scaled_i · (codes_i & 0xFF) — the SQ8 ADC hot loop: `scaled` is the
  * probe's per-dimension `p_i · delta_i` (precomputed once per probe) and
  * `codes` a corpus row's byte-packed SQ8 codes; adding the probe's
  * `dot(p, mins)` base term reconstructs dot(p, decode(codes)) exactly.
  * A fused unpack-multiply-add per pair — the per-pair cost PQ pays in m
  * table lookups, SQ8 pays in dim byte ops, with no codebook memory.
  */
case class Sq8Dot(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {

  override def nullIntolerant: Boolean = true
  override def inputTypes = Seq(ArrayType(DoubleType), BinaryType)
  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_sq8_dot"

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[Array[Byte]]
    val n = math.min(x.numElements(), y.length)
    var s = 0.0
    var i = 0
    while (i < n) { s += x.getDouble(i) * (y(i) & 0xFF); i += 1 }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val s = ctx.freshName("s")
      s"""
         |int $n = java.lang.Math.min($x.numElements(), $y.length);
         |double $s = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $s += $x.getDouble($i) * ($y[$i] & 0xFF);
         |}
         |${ev.value} = $s;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Sq8Dot =
    copy(left = newLeft, right = newRight)
}

object VectorExpressions {
  /** Codegen'd dot product of two ArrayType(DoubleType) columns. */
  def dot(a: Column, b: Column): Column =
    Bridge.column(DotProduct(Bridge.expression(a), Bridge.expression(b)))

  /** Codegen'd packed-sign LSH bucket of an ArrayType(DoubleType) column. */
  def signPack(v: Column, planes: Int): Column =
    Bridge.column(SignPack(Bridge.expression(v), planes))

  /** Codegen'd nearest-centroid argmin of an ArrayType(DoubleType) column
    * against a fixed centroid matrix (row index = cluster id).
    */
  def nearestCentroid(v: Column, centroids: Array[Array[Double]]): Column =
    Bridge.column(NearestCentroid(Bridge.expression(v), centroids))

  /** Codegen'd top-n nearest centroid indices (closest first) — the
    * multi-probe assignment as a per-row map.
    */
  def nearestCentroids(
      v: Column, centroids: Array[Array[Double]], nAssign: Int): Column =
    Bridge.column(NearestCentroids(Bridge.expression(v), centroids, nAssign))

  /** Codegen'd dot(v, centroids[idx]) against a fixed centroid matrix. */
  def centroidDot(
      v: Column, idx: Column, centroids: Array[Array[Double]]): Column =
    Bridge.column(CentroidDot(
      Bridge.expression(v), Bridge.expression(idx), centroids))

  /** Codegen'd v − centroids[idx] elementwise (residual encoding). */
  def centroidResidual(
      v: Column, idx: Column, centroids: Array[Array[Double]]): Column =
    Bridge.column(CentroidResidual(
      Bridge.expression(v), Bridge.expression(idx), centroids))

  /** Codegen'd byte-packed SQ8 encode with baked per-dim ranges. */
  def sq8Encode(
      v: Column, mins: Array[Double], deltas: Array[Double]): Column =
    Bridge.column(Sq8Encode(Bridge.expression(v), mins, deltas))

  /** Codegen'd Σ scaled_i · (codes_i & 0xFF) — the SQ8 ADC term. */
  def sq8Dot(scaled: Column, codes: Column): Column =
    Bridge.column(Sq8Dot(
      Bridge.expression(scaled), Bridge.expression(codes)))
}
