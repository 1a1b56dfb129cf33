package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Codegen'd dot product over two float vectors (ArrayType(FloatType)).
  *
  * This is the hot inner loop of the similarity operators (SURVEY.md §2.F
  * F3–F5): at sf0.1 the brute-force pass evaluates ~4M pairs × dim 64.
  * SQL higher-order lambdas (`aggregate(zip_with(...))`) break whole-stage
  * codegen and measured 35 s for the same work (BASELINE.md); this
  * expression stays inside codegen, reads floats directly out of the
  * UnsafeArrayData without boxing, and accumulates in double exactly like
  * DuckDB's `list_inner_product` over DOUBLE[] — sequential, product-wise —
  * so oracle parity holds bit-for-bit before truncation.
  */
case class FloatVecDot(left: Expression, right: Expression,
    strict: Boolean = false) extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(FloatType, _), ArrayType(FloatType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case _ =>
        TypeCheckResult.TypeCheckFailure(
          s"fvec_dot requires (array<float>, array<float>), got " +
            s"(${left.dataType.catalogString}, ${right.dataType.catalogString})")
    }
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = strict || super.nullable
  override def prettyName: String = "fvec_dot"

  // `strict` mirrors the SQL-lambda semantics exactly — NULL on length
  // mismatch (zip_with null-pads) or any null element — so RewriteVecDot
  // stays semantics-preserving on arbitrary user queries. The default lax
  // mode (direct fvec_dot calls on the embedding contract: equal-length,
  // null-free vectors) truncates to min length and skips null checks; on
  // contract-conforming data the two modes are bit-identical.

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    if (strict && x.numElements() != y.numElements()) return null
    val n = math.min(x.numElements(), y.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (strict && (x.isNullAt(i) || y.isNullAt(i))) return null
      acc += x.getFloat(i).toDouble * y.getFloat(i).toDouble
      i += 1
    }
    acc
  }

  // CAUTION: `nullSafeCodeGen` applies this closure BEFORE deciding
  // whether `ev.isNull` is a declared variable — when the expression is
  // non-nullable (lax mode on non-null children: spark.range-derived
  // frames, post-localCheckpoint schemas) no isNull variable exists, and
  // a template referencing `${ev.isNull}` emits an undeclared name.
  // Janino then rejects the WHOLE generated class and the hot loop
  // silently runs interpreted. So the lax template must not mention
  // `ev.isNull` at all; only `strict` (which forces nullable=true, so
  // the variable always exists) may.
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val acc = ctx.freshName("acc")
      val i = ctx.freshName("i")
      if (!strict)
        s"""
           |final int $n = java.lang.Math.min($a.numElements(), $b.numElements());
           |double $acc = 0.0;
           |for (int $i = 0; $i < $n; $i++) {
           |  $acc += (double)$a.getFloat($i) * (double)$b.getFloat($i);
           |}
           |${ev.value} = $acc;
         """.stripMargin
      else
        s"""
           |if ($a.numElements() != $b.numElements()) { ${ev.isNull} = true; }
           |if (!${ev.isNull}) {
           |  final int $n = java.lang.Math.min($a.numElements(), $b.numElements());
           |  double $acc = 0.0;
           |  for (int $i = 0; $i < $n; $i++) {
           |    if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }
           |    $acc += (double)$a.getFloat($i) * (double)$b.getFloat($i);
           |  }
           |  if (!${ev.isNull}) { ${ev.value} = $acc; }
           |}
         """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Codegen'd polynomial rolling hash over a string's UTF-8 bytes
  * (base-31 Horner, wrapping 64-bit) — the document-fingerprinting
  * primitive: cheap, order-sensitive, and streamable (a window's hash can
  * be rolled incrementally at ingest). Raw Java arithmetic in generated
  * code wraps silently, so this is ANSI-safe by construction.
  */
case class RollingHash(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"rolling_hash requires string, got ${child.dataType.catalogString}")

  override def dataType: DataType = LongType
  override def prettyName: String = "rolling_hash"

  override def nullSafeEval(input: Any): Any = {
    val bytes = input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String].getBytes
    var h = 0L
    var i = 0
    while (i < bytes.length) { h = h * 31L + (bytes(i) & 0xffL); i += 1 }
    h
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.RollingHash.hashBytes($c.getBytes())")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object RollingHash {
  /** Called from generated code. */
  def hashBytes(bytes: Array[Byte]): Long = {
    var h = 0L
    var i = 0
    while (i < bytes.length) { h = h * 31L + (bytes(i) & 0xffL); i += 1 }
    h
  }
}

/** `sign_lsh_bits(embedding, nPlanes)` → bigint: banded random-hyperplane
  * LSH signature in ONE codegen'd pass per row — bit p = sign of the
  * projection onto deterministic ±1 plane p (components hashed from the
  * (plane, dim) index with the splitmix64 finalizer). Replaces the
  * declarative posexplode → broadcast-join(planes) → two groupBys
  * formulation, which shuffled dim × nPlanes rows per vector twice; the
  * signature is now a shuffle-free per-row map, leaving the (band, key)
  * equi-join as the only shuffle in the LSH pipeline — the minhash_sig
  * treatment applied to vectors.
  */
case class SignLshBits(left: Expression, right: Expression)
    extends BinaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(FloatType, _), IntegerType) => TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(
        s"sign_lsh_bits requires (array<float>, int), got " +
          s"(${left.dataType.catalogString}, ${right.dataType.catalogString})")
    }
  override def dataType: DataType = LongType
  override def prettyName: String = "sign_lsh_bits"

  override def nullSafeEval(a: Any, b: Any): Any =
    SignLshBits.bits(a.asInstanceOf[ArrayData], b.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, n) =>
      s"graft.functions.SignLshBits.bits($a, $n)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object SignLshBits {
  private val MaxDim = 4096
  // sign table grown on demand, keyed (plane, dim-index) — deterministic
  // across JVMs (pure function of the index), so executors agree
  @volatile private var signs: Array[Double] = new Array[Double](0)

  private def fmix64(z0: Long): Long = {
    var z = z0
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  private def ensure(nPlanes: Int): Array[Double] = {
    val need = nPlanes * MaxDim
    var t = signs
    if (t.length < need) synchronized {
      t = signs
      if (t.length < need) {
        t = Array.tabulate(need)(idx =>
          if ((fmix64(idx.toLong) & 1L) == 1L) 1.0 else -1.0)
        signs = t
      }
    }
    t
  }

  /** Called from generated code. */
  def bits(arr: ArrayData, nPlanes: Int): Long = {
    require(nPlanes <= 64, s"sign_lsh_bits supports at most 64 planes, got $nPlanes")
    val dim = arr.numElements()
    require(dim <= MaxDim, s"sign_lsh_bits supports dim <= $MaxDim, got $dim")
    val t = ensure(nPlanes)
    var out = 0L
    var p = 0
    while (p < nPlanes) {
      var acc = 0.0
      val off = p * MaxDim
      var i = 0
      while (i < dim) { acc += t(off + i) * arr.getFloat(i); i += 1 }
      if (acc > 0) out |= (1L << p)
      p += 1
    }
    out
  }
}

/** Codegen'd F36 quantization: float vector → the exact long-micros grid
  * `floor((clamp(x, ±1) + 1)·10⁶)` the k-means contract computes in. One
  * static call per row instead of a per-element SQL lambda (`transform`
  * is interpreted with boxing — the same hazard FloatVecDot documents).
  * NaN clamps to the UPPER bound, matching Spark's `least/greatest`
  * NaN-is-largest ordering the HOF formulation had (embedding-contract
  * data is NaN-free; the branch only pins equivalence).
  */
case class QuantMicros(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckSuccess
      case t => TypeCheckResult.TypeCheckFailure(
        s"quant_micros requires array<float>, got ${t.catalogString}")
    }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "quant_micros"

  override def nullSafeEval(input: Any): Any =
    QuantMicros.quant(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.QuantMicros.quant($c)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object QuantMicros {
  /** Called from generated code. */
  def quant(arr: ArrayData): ArrayData = {
    val n = arr.numElements()
    val out = new Array[Long](n)
    var i = 0
    while (i < n) {
      val x = arr.getFloat(i).toDouble
      val clamped = if (x.isNaN) 1.0 else math.max(-1.0, math.min(1.0, x))
      out(i) = math.floor((clamped + 1.0) * 1000000.0).toLong
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }
}

/** Driver-held normed embedding table for [[CosEdgesAbove]] (optimization
  * round 21): the F21 brute-force cosine edge build's right side, pulled
  * once under the bounded-literal budget (the kmeans_best_q /
  * prefix_top_values class). Norms are precomputed with the exact
  * fvec_dot arithmetic (sequential (double)a·(double)b accumulation,
  * then sqrt), so every comparison is bit-identical to the retired
  * BroadcastNestedLoopJoin + filter shape.
  */
final class CosEdgeTable(ids: Array[Long], embs: Array[Array[Float]])
    extends Serializable {
  require(ids.length == embs.length,
    s"cos_edges_above: ${ids.length} ids vs ${embs.length} embeddings")
  private val nrms: Array[Double] = embs.map { e =>
    var s = 0.0
    var i = 0
    while (i < e.length) { s += e(i).toDouble * e(i).toDouble; i += 1 }
    math.sqrt(s)
  }

  /** All table ids STRICTLY ABOVE `id` whose cosine with `emb` clears
    * `minCos` — dot/(nrmA·nrmB) in the exact fvec_dot double order. A
    * ZERO divisor (zero-norm side) raises the ANSI divide-by-zero error
    * the retired join's Divide raised — the kernel must not be quietly
    * more tolerant than the shape it replaces. */
  def matchesAbove(id: Long, emb: ArrayData, minCos: Double): ArrayData = {
    val fa = emb.toFloatArray()
    var s = 0.0
    var i = 0
    while (i < fa.length) { s += fa(i).toDouble * fa(i).toDouble; i += 1 }
    val na = math.sqrt(s)
    val out = new scala.collection.mutable.ArrayBuffer[Long](8)
    var j = 0
    while (j < ids.length) {
      if (ids(j) > id) {
        val fb = embs(j)
        val n = math.min(fa.length, fb.length)
        var d = 0.0
        var k = 0
        while (k < n) { d += fa(k).toDouble * fb(k).toDouble; k += 1 }
        val den = na * nrms(j)
        if (den == 0.0)
          throw new ArithmeticException(
            "[DIVIDE_BY_ZERO] Division by zero — cos_edges_above met a " +
              "zero-norm embedding; the join shape this kernel replaces " +
              "raised the same ANSI error")
        if (d / den >= minCos) out += ids(j)
      }
      j += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out.toArray)
  }
}

/** `cos_edges_above(vec_id, embedding, min_cos, ids, embs)` →
  * array<bigint>: the ids of every driver-table vector with id >
  * vec_id and cosine ≥ min_cos — ONE streaming corpus pass replacing the
  * O(n²)-row BroadcastNestedLoopJoin of the brute-force edge build
  * (guide §1.2: the join shipped ~0.5 µs of row machinery per pair to
  * run a 64-float dot; the kernel runs the identical arithmetic in a
  * tight primitive loop, ~10× less per-pair overhead). Exactness: same
  * dot order, same norms, same double division, same ≥ — the pair SET
  * is the join's, row for row (Round21OptSpec pins it, the oracle
  * re-proves it corpus-wide).
  */
case class CosEdgesAbove(left: Expression, right: Expression,
    table: CosEdgeTable, minCos: Double)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (LongType, ArrayType(FloatType, _)) => TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(
        s"cos_edges_above requires (bigint, array<float>), got " +
          s"(${left.dataType.catalogString}, ${right.dataType.catalogString})")
    }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "cos_edges_above"

  override def nullSafeEval(a: Any, b: Any): Any =
    table.matchesAbove(a.asInstanceOf[Long], b.asInstanceOf[ArrayData], minCos)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val tRef = ctx.addReferenceObj("cosEdgeTable", table, classOf[CosEdgeTable].getName)
    // exact double literal via raw bits — a decimal rendering could drift
    val bits = java.lang.Double.doubleToLongBits(minCos)
    defineCodeGen(ctx, ev, (i, e) =>
      s"$tRef.matchesAbove($i, $e, java.lang.Double.longBitsToDouble(${bits}L))")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Codegen'd F36 nearest-centroid argmin over an ALREADY-quantized
  * (long-micros) vector: returns struct<d:bigint,i:bigint> — the exact
  * squared L2 distance to the nearest centroid and its index, ties to the
  * lowest index (≡ array_min's lexicographic struct order, the graded
  * contract). The centroid table is a constructor constant (k × dim
  * longs), shipped once per task via a codegen reference object, and the
  * inner loop early-exits a centroid as soon as its partial sum reaches
  * the best-so-far — exact for an argmin of non-decreasing sums, and the
  * strict `<` keeps the tie order. The HOF formulation this replaces
  * (zip_with + aggregate per centroid inside array_min) is interpreted
  * per element: at 1M vectors × k 64 × dim 32 the fit did not finish in
  * 15 minutes; this kernel does the identical arithmetic in a tight
  * primitive loop (BASELINE.md round 14).
  */
case class KmeansBestQ(child: Expression, centroids: Seq[Seq[Long]])
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  private val k = centroids.length
  private val dim = if (k == 0) 0 else centroids.head.length

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case ArrayType(LongType, _) if k > 0 && centroids.forall(_.length == dim) =>
        TypeCheckResult.TypeCheckSuccess
      case ArrayType(LongType, _) => TypeCheckResult.TypeCheckFailure(
        "kmeans_best_q needs a non-empty, rectangular centroid table")
      case t => TypeCheckResult.TypeCheckFailure(
        s"kmeans_best_q requires array<bigint>, got ${t.catalogString}")
    }
  override def dataType: DataType = StructType(Seq(
    StructField("d", LongType, nullable = false),
    StructField("i", LongType, nullable = false)))
  override def prettyName: String = "kmeans_best_q"

  @transient private lazy val flat: Array[Long] = centroids.flatten.toArray

  override def nullSafeEval(input: Any): Any =
    KmeansBestQ.best(input.asInstanceOf[ArrayData], flat, dim, k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cents = ctx.addReferenceObj("centroids", flat, "long[]")
    defineCodeGen(ctx, ev,
      c => s"graft.functions.KmeansBestQ.best($c, $cents, $dim, $k)")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object KmeansBestQ {
  /** Called from generated code. Loud on a dim mismatch — a silent
    * truncation would assign every vector to a wrong-but-plausible
    * cluster (the nbFit/LangGate loud-failure convention).
    */
  def best(q: ArrayData, cents: Array[Long], dim: Int, k: Int)
      : org.apache.spark.sql.catalyst.InternalRow = {
    require(q.numElements() == dim,
      s"kmeans_best_q: vector dim ${q.numElements()} != centroid dim $dim")
    var bestD = Long.MaxValue
    var bestI = 0
    var c = 0
    var off = 0
    while (c < k) {
      var d = 0L
      var i = 0
      while (i < dim && d < bestD) {
        val x = q.getLong(i) - cents(off + i)
        d += x * x
        i += 1
      }
      if (i == dim && d < bestD) { bestD = d; bestI = c }
      c += 1
      off += dim
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](bestD, bestI.toLong))
  }
}

/** Codegen'd exact squared-L2 distance between two long vectors — the
  * per-(vector, centroid) kernel of [[graft.Similarity]]'s broadcast
  * assignment path, where the centroid arrives as a JOIN column rather
  * than a plan constant.
  */
case class L2SqLong(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(LongType, _), ArrayType(LongType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (a, b) => TypeCheckResult.TypeCheckFailure(
        s"l2sq_long requires (array<bigint>, array<bigint>), got " +
          s"(${a.catalogString}, ${b.catalogString})")
    }
  override def dataType: DataType = LongType
  override def prettyName: String = "l2sq_long"

  override def nullSafeEval(a: Any, b: Any): Any =
    L2SqLong.dist(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (a, b) => s"graft.functions.L2SqLong.dist($a, $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object L2SqLong {
  /** Called from generated code. */
  def dist(a: ArrayData, b: ArrayData): Long = {
    require(a.numElements() == b.numElements(),
      s"l2sq_long: dims differ (${a.numElements()} vs ${b.numElements()})")
    var d = 0L
    var i = 0
    while (i < a.numElements()) {
      val x = a.getLong(i) - b.getLong(i)
      d += x * x
      i += 1
    }
    d
  }
}

object VectorFunctions {
  /** Register `fvec_dot` in the session's function registry so it is usable
    * from both the DataFrame DSL (`call_function("fvec_dot", a, b)`) and
    * SQL. Idempotent; every similarity query calls this first because the
    * harness owns SparkSession construction.
    */
  /** Register against the DataFrame's own session (composable form). */
  def registered(df: org.apache.spark.sql.DataFrame): Unit = register(df.sparkSession)

  def register(spark: SparkSession): Unit = {
    // harness-owned sessions can't take builder-time extensions, so the
    // vec-dot rewrite rule rides the experimental hook (idempotent)
    if (!spark.experimental.extraOptimizations.contains(graft.plans.RewriteVecDot)) {
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ graft.plans.RewriteVecDot
    }
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "fvec_dot", (exprs: Seq[Expression]) => FloatVecDot(exprs.head, exprs(1)), "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "rolling_hash", (exprs: Seq[Expression]) => RollingHash(exprs.head), "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "deflate_ratio", (exprs: Seq[Expression]) => DeflateRatio(exprs.head), "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "char_qgram_hashes", (exprs: Seq[Expression]) =>
        CharQgramHashes(exprs.head,
          exprs(1).eval().asInstanceOf[Number].intValue()), "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "qgram_value_positions", (exprs: Seq[Expression]) =>
        QgramValuePositions(exprs.head, exprs(1),
          exprs(2).eval().asInstanceOf[Number].intValue()), "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "char_ngrams", (exprs: Seq[Expression]) =>
        CharNgrams(exprs.head,
          exprs(1).eval().asInstanceOf[Number].intValue()), "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "nfc_normalize", (exprs: Seq[Expression]) =>
        NfcNormalize(exprs.head), "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "strip_accents", (exprs: Seq[Expression]) =>
        StripAccents(exprs.head), "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "adaptive_prefix_values", (exprs: Seq[Expression]) =>
        AdaptivePrefixValues(exprs.head, exprs(1),
          exprs(2).eval().asInstanceOf[Number].intValue(),
          exprs(3).eval().asInstanceOf[Number].intValue()), "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "byte_levenshtein", (exprs: Seq[Expression]) =>
        ByteLevenshtein(exprs.head, exprs(1),
          exprs(2).eval().asInstanceOf[Number].intValue()), "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "shingle_hashes", (exprs: Seq[Expression]) =>
        ShingleHashes(exprs.head, exprs(1).eval().asInstanceOf[Number].intValue()), "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "minhash_sig", (exprs: Seq[Expression]) =>
        MinHashSig(exprs.head, exprs(1).eval().asInstanceOf[Number].intValue(),
          exprs(2).eval().asInstanceOf[Number].intValue()), "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "simhash64", (exprs: Seq[Expression]) => SimHash64(exprs.head), "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "window_md5s", (exprs: Seq[Expression]) =>
        WindowMd5s(exprs.head, exprs(1).eval().asInstanceOf[Number].intValue()), "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "sign_lsh_bits", (exprs: Seq[Expression]) =>
        SignLshBits(exprs.head, exprs(1)), "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "quant_micros", (exprs: Seq[Expression]) =>
        QuantMicros(exprs.head), "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "kmeans_best_q", (exprs: Seq[Expression]) => {
        // the centroid table arrives as a foldable array<array<bigint>>
        // literal (typedLit) — folded to a constructor constant here so
        // the kernel ships one long[] per task, not a per-row literal eval
        val arr = exprs(1).eval()
          .asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
        val cents = (0 until arr.numElements()).map { i =>
          val inner = arr.getArray(i)
          (0 until inner.numElements()).map(inner.getLong).toIndexedSeq
        }.toIndexedSeq
        KmeansBestQ(exprs.head, cents)
      }, "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "l2sq_long", (exprs: Seq[Expression]) =>
        L2SqLong(exprs.head, exprs(1)), "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "sorted_intersect_count", (exprs: Seq[Expression]) =>
        SortedIntersectCount(exprs.head, exprs(1)), "built-in")
    // bloom_might_contain(filterBytes, longCol): Spark's own runtime-
    // filter probe expression (BloomFilterMightContain) exposed as a
    // callable — the bloom binary arrives as a foldable literal (the
    // serialized org.apache.spark.util.sketch.BloomFilter built by
    // df.stat.bloomFilter), the value child is the raw long key column
    // (stat.bloomFilter putLongs raw values, so the probe must too)
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "bloom_might_contain", (exprs: Seq[Expression]) =>
        org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(
          exprs.head, exprs(1)), "built-in")
    // F26 scale scorer: the learned profile arrives as foldable literals
    // (langs, trigrams, per-trigram lang-index lists), folded once here
    // into a driver-held LangIdModel the generated code references — the
    // pq_encode codebook pattern, so the corpus-side scoring is a pure
    // per-row map with zero shuffle
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "langid_score", (exprs: Seq[Expression]) => {
        val langs = exprs(1).eval().asInstanceOf[ArrayData]
          .toObjectArray(StringType)
          .map(_.asInstanceOf[org.apache.spark.unsafe.types.UTF8String].toString)
        val tgs = exprs(2).eval().asInstanceOf[ArrayData]
          .toObjectArray(StringType)
          .map(_.asInstanceOf[org.apache.spark.unsafe.types.UTF8String].toString)
        val tgLangs = exprs(3).eval().asInstanceOf[ArrayData]
          .toObjectArray(ArrayType(IntegerType, containsNull = false))
          .map(_.asInstanceOf[ArrayData].toIntArray())
        LangIdScore(exprs.head, new LangIdModel(langs, tgs, tgLangs),
          exprs(4).eval().asInstanceOf[Number].intValue())
      }, "built-in")
    // F32 scale scorer: the learned NB parameters arrive as foldable
    // literals (labels, priors, vocab, vocab-major conditionals, OOV
    // row), folded once here into a driver-held NbModel the generated
    // code references — the langid_score pattern, so classifying a
    // corpus is a pure per-row map with zero shuffle
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "nb_score", (exprs: Seq[Expression]) => {
        def strs(e: Expression): Array[String] =
          e.eval().asInstanceOf[ArrayData].toObjectArray(StringType)
            .map(_.asInstanceOf[org.apache.spark.unsafe.types.UTF8String].toString)
        def longs(e: Expression): Array[Long] =
          e.eval().asInstanceOf[ArrayData].toLongArray()
        val cond = exprs(4).eval().asInstanceOf[ArrayData]
          .toObjectArray(ArrayType(LongType, containsNull = false))
          .map(_.asInstanceOf[ArrayData].toLongArray())
        NbScore(exprs.head, new NbModel(strs(exprs(1)), longs(exprs(2)),
          strs(exprs(3)), cond, longs(exprs(5))))
      }, "built-in")
    // F52 scale tokenizer: the learned merge table arrives as two
    // foldable string-array literals, folded once here into a
    // driver-held BpeTable the generated code references — the
    // langid_score/nb_score pattern, so encoding a corpus is a pure
    // per-row map with zero shuffle
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "bpe_encode", (exprs: Seq[Expression]) => {
        def strs(e: Expression): Array[String] =
          e.eval().asInstanceOf[ArrayData].toObjectArray(StringType)
            .map(_.asInstanceOf[org.apache.spark.unsafe.types.UTF8String].toString)
        BpeEncode(exprs.head, new BpeTable(strs(exprs(1)), strs(exprs(2))))
      }, "built-in")
    // F19 frozen-LM serving kernel (round 19): the quantized backoff
    // tables arrive as foldable literals (order, buckets, backoff grid
    // constant, flattened count/q tables order-major, unigram add-one
    // table), folded once here into a driver-held LmTables the generated
    // code references — the nb_score pattern, so scoring a corpus
    // through a FROZEN LM is a zero-shuffle per-row map at codegen speed
    // (the interpreted aggregate() folds stay as the spec twins)
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "lm_score", (exprs: Seq[Expression]) => {
        val order = exprs(1).eval().asInstanceOf[Number].intValue()
        val buckets = exprs(2).eval().asInstanceOf[Number].intValue()
        val backoff = exprs(3).eval().asInstanceOf[Number].longValue()
        def tables(e: Expression): Array[Array[Long]] = {
          val flat = e.eval().asInstanceOf[ArrayData].toLongArray()
          require(order > 0 && flat.length == order * buckets,
            s"lm_score: flat table length ${flat.length} != order*buckets")
          Array.tabulate(order)(o =>
            java.util.Arrays.copyOfRange(flat, o * buckets, (o + 1) * buckets))
        }
        LmScore(exprs.head, new LmTables(order, buckets, backoff,
          tables(exprs(4)), tables(exprs(5)),
          exprs(6).eval().asInstanceOf[ArrayData].toLongArray()))
      }, "built-in")
    // F46c frozen-DSIR serving kernel (round 19): the frozen ratio table
    // arrives as one foldable long-array literal — gram_sum(text, nLow,
    // nHigh, table) is Σ table[h(gram)] over the n-gram range, the
    // zero-shuffle twin of DsirModel's interpreted fold
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "gram_sum", (exprs: Seq[Expression]) => {
        val table = exprs(3).eval().asInstanceOf[ArrayData].toLongArray()
        GramSum(exprs.head, new GramTable(table.length, table),
          exprs(1).eval().asInstanceOf[Number].intValue(),
          exprs(2).eval().asInstanceOf[Number].intValue())
      }, "built-in")
    // Fit-side aggregate twin of lm_score/gram_sum (optimization round
    // 20): gram_bucket_counts(text, nLow, nHigh, buckets) folds an
    // entire hashed-gram fit into one partial-aggregated corpus pass —
    // each task ships one (orders × buckets)-long array instead of one
    // row per gram occurrence (the explode+groupBy it replaces)
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "gram_bucket_counts", (exprs: Seq[Expression]) =>
        GramBucketCounts(exprs.head,
          exprs(1).eval().asInstanceOf[Number].intValue(),
          exprs(2).eval().asInstanceOf[Number].intValue(),
          exprs(3).eval().asInstanceOf[Number].intValue()), "built-in")
    // F21 brute-force cosine edge kernel (optimization round 21): the
    // normed corpus arrives as foldable literal arrays, folded once here
    // into a driver-held CosEdgeTable the generated code references (the
    // kmeans_best_q pattern) — the edge build becomes one streaming
    // corpus pass instead of an O(n²)-row nested-loop join
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "cos_edges_above", (exprs: Seq[Expression]) => {
        val ids = exprs(3).eval().asInstanceOf[ArrayData].toLongArray()
        val arr = exprs(4).eval().asInstanceOf[ArrayData]
        val embs = (0 until arr.numElements())
          .map(i => arr.getArray(i).toFloatArray()).toArray
        CosEdgesAbove(exprs.head, exprs(1), new CosEdgeTable(ids, embs),
          exprs(2).eval().asInstanceOf[Number].doubleValue())
      }, "built-in")
    // F60 byte-walk URL kernels (optimization round 21): one-pass host
    // extraction and registered-domain selection — the suffix list
    // arrives as a foldable string-array literal, folded once here into
    // a driver-held SuffixTable the generated code references
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "url_host", (exprs: Seq[Expression]) => UrlHost(exprs.head), "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "reg_domain", (exprs: Seq[Expression]) => {
        val suf = exprs(1).eval().asInstanceOf[ArrayData]
          .toObjectArray(StringType)
          .map(_.asInstanceOf[org.apache.spark.unsafe.types.UTF8String].toString)
        RegDomain(exprs.head, new SuffixTable(suf))
      }, "built-in")
    // Edit-join freq-table fit as ONE partial-aggregated pass
    // (optimization round 21): qgram_freq_agg(text, q, max_vocab) folds
    // the corpus gram-frequency table into a bounded map aggregate —
    // no per-occurrence explode, no gram shuffle; NULL result = vocab
    // overflowed the cap, graft.DriverTable.freqs' "does not fit"
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "qgram_freq_agg", (exprs: Seq[Expression]) =>
        QgramFreqAgg(exprs.head,
          exprs(1).eval().asInstanceOf[Number].intValue(),
          exprs(2).eval().asInstanceOf[Number].intValue()), "built-in")
    // BM25 tf pass for bounded term sets (optimization round 21): the
    // query terms arrive as a foldable string-array literal, folded once
    // into a driver-held TermTable — per-doc tf + dl in one byte walk,
    // no token explode, no broadcast join, no (doc, term) shuffle
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "term_tf_counts", (exprs: Seq[Expression]) => {
        val terms = exprs(1).eval().asInstanceOf[ArrayData]
          .toObjectArray(StringType)
          .map(_.asInstanceOf[org.apache.spark.unsafe.types.UTF8String].toString)
        TermTfCounts(exprs.head, new TermTable(terms))
      }, "built-in")
    // Containment-join df fit + per-doc order (optimization round 21):
    // the shingle document-frequency table as one bounded map-aggregate
    // pass, and the per-doc (df, shingle)-ascending re-order as one
    // codegen map against the driver-held table — no occurrence explode,
    // no df join, no collect_list doc_id shuffle when the table fits
    // graft.DriverTable
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "long_freq_agg", (exprs: Seq[Expression]) =>
        LongFreqAgg(exprs.head,
          exprs(1).eval().asInstanceOf[Number].intValue()), "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "freq_order_values", (exprs: Seq[Expression]) =>
        FreqOrderValues(exprs.head,
          new GramFreqTable(
            exprs(1).eval().asInstanceOf[ArrayData].toLongArray(),
            exprs(2).eval().asInstanceOf[ArrayData].toLongArray())), "built-in")
    // PPJoin prefix selection against a driver-held freq table
    // (optimization round 20): vocab keys/freqs arrive as foldable
    // literal arrays, folded once here into a GramFreqTable the
    // generated code references (the lm_score pattern)
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "prefix_top_values", (exprs: Seq[Expression]) =>
        PrefixTopValues(exprs.head,
          new GramFreqTable(
            exprs(2).eval().asInstanceOf[ArrayData].toLongArray(),
            exprs(3).eval().asInstanceOf[ArrayData].toLongArray()),
          exprs(1).eval().asInstanceOf[Number].intValue()), "built-in")
    // F58 streaming front door (round 19): the whole pinned HTML block
    // model as one per-row kernel — struct(n_blocks, n_content,
    // clean_text), NULL for block-less pages; spec-pinned equal to the
    // relational Html.htmlExtract
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "html_extract", (exprs: Seq[Expression]) =>
        HtmlExtractKernel(exprs.head, new HtmlCleaner(
          exprs(1).eval().asInstanceOf[Number].intValue(),
          exprs(2).eval().asInstanceOf[Number].longValue())), "built-in")
    // F58 link-density numerator (round 20): the one interpreted HOF
    // fold left on a graded hot path, as a codegen kernel
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "anchor_chars", (exprs: Seq[Expression]) =>
        AnchorChars(exprs.head), "built-in")
    // PQ kernels: codebook/m/ksub are foldable literals, evaluated once
    // here (the minhash_sig pattern) so the expression holds a plain
    // float[] that codegen references instead of re-evaluating per row
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "pq_encode", (exprs: Seq[Expression]) =>
        PqEncode(exprs.head,
          exprs(1).eval().asInstanceOf[ArrayData].toFloatArray(),
          exprs(2).eval().asInstanceOf[Number].intValue(),
          exprs(3).eval().asInstanceOf[Number].intValue()), "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "pq_adc", (exprs: Seq[Expression]) =>
        PqAdc(exprs.head, exprs(1),
          exprs(2).eval().asInstanceOf[ArrayData].toFloatArray(),
          exprs(3).eval().asInstanceOf[Number].intValue(),
          exprs(4).eval().asInstanceOf[Number].intValue()), "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "pq_lut", (exprs: Seq[Expression]) =>
        PqLut(exprs.head,
          exprs(1).eval().asInstanceOf[ArrayData].toFloatArray(),
          exprs(2).eval().asInstanceOf[Number].intValue(),
          exprs(3).eval().asInstanceOf[Number].intValue()), "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "pq_adc_lut", (exprs: Seq[Expression]) =>
        PqAdcLut(exprs.head, exprs(1),
          exprs(2).eval().asInstanceOf[Number].intValue()), "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "kinesis_shard", (exprs: Seq[Expression]) =>
        KinesisShard(exprs.head, exprs(1).eval().asInstanceOf[Number].intValue()),
      "built-in")
    // Spark's internal bounded-heap top-k aggregate (k·groups memory, no
    // per-group sort of the full input) — the scale-right physical shape
    // for per-group top-k; exposed here because it has no public DSL form.
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "collect_top_k", (exprs: Seq[Expression]) =>
        org.apache.spark.sql.catalyst.expressions.aggregate.GraftCollectTopK(
          exprs.head, exprs(1).eval().asInstanceOf[Number].intValue(),
          exprs(2).eval().asInstanceOf[Boolean]), "built-in")
  }
}
