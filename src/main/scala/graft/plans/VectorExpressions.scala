package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry.FunctionBuilder
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType, LongType}

/** Native Catalyst expressions for embedding math (SURVEY.md §4.3: the one
  * place reference semantics justify dropping below the DataFrame API).
  *
  * `float_dot(a, b)` / `float_cosine(a, b)` iterate the columnar
  * `ArrayData` buffers directly inside whole-stage codegen — no
  * intermediate array allocation, no lambda-variable plumbing — where the
  * built-in `aggregate(zip_with(...))` chain materializes a product array
  * per row and evaluates two lambdas per element. Same double
  * left-to-right accumulation semantics as that chain.
  *
  * Registered through [[GraftExtensions]]
  * (`spark.sql.extensions=graft.plans.GraftExtensions`) or imperatively
  * via [[GraftFunctions.register]]. */
abstract class FloatArrayBinary extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override val nullIntolerant: Boolean = true
  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(FloatType, _) => true
      case _ => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires two array<float> arguments, " +
        s"got (${left.dataType.simpleString}, ${right.dataType.simpleString})")
  }
}

/** Σ aᵢ·bᵢ over two float vectors, accumulated in double left-to-right
  * (index-exact match with `aggregate(zip_with(a, b, (x,y) -> x*y), 0D, +)`). */
case class FloatDotProduct(left: Expression, right: Expression)
    extends FloatArrayBinary {

  override def prettyName: String = "float_dot"

  protected override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var s = 0.0
    var i = 0
    while (i < n) { s += x.getFloat(i).toDouble * y.getFloat(i).toDouble; i += 1 }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double ${ev.value}_acc = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  ${ev.value}_acc += (double) $a.getFloat($i) * (double) $b.getFloat($i);
         |}
         |${ev.value} = ${ev.value}_acc;
       """.stripMargin
    })

  protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Cosine similarity: dot and both norms in ONE pass over the buffers
  * (three zip_with/aggregate chains otherwise). Returns NULL only via the
  * null-intolerant inputs; zero-norm vectors yield NaN like the SQL
  * formulation dot/(sqrt(n1)*sqrt(n2)). */
case class FloatCosineSimilarity(left: Expression, right: Expression)
    extends FloatArrayBinary {

  override def prettyName: String = "float_cosine"

  protected override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var dot = 0.0
    var na = 0.0
    var nb = 0.0
    var i = 0
    while (i < n) {
      val xv = x.getFloat(i).toDouble
      val yv = y.getFloat(i).toDouble
      dot += xv * yv; na += xv * xv; nb += yv * yv; i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val dot = ctx.freshName("dot")
      val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      val xv = ctx.freshName("xv")
      val yv = ctx.freshName("yv")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $dot = 0.0; double $na = 0.0; double $nb = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $xv = (double) $a.getFloat($i);
         |  double $yv = (double) $b.getFloat($i);
         |  $dot += $xv * $yv; $na += $xv * $xv; $nb += $yv * $yv;
         |}
         |${ev.value} = $dot / (java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb));
       """.stripMargin
    })

  protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Σ aᵢ·bᵢ over two quantized (1e6-scaled BIGINT) vectors — exact 64-bit
  * integer accumulation, value-identical to
  * `aggregate(zip_with(a, b, (x,y) -> x*y), 0L, +)` but evaluated as one
  * tight loop over the columnar buffers. The interpreted HOF chain costs
  * ~2 lambda evaluations + an array allocation per ELEMENT — measured 7×
  * end-to-end on the IVF probe (q_ivf_topk 18.5s → 2.6s at sf0.1), where
  * the dot sits inside a per-centroid transform() and the join-constraint
  * pushdown re-evaluates it several times per row. */
case class LongDotProduct(left: Expression, right: Expression)
    extends BinaryExpression {

  override def prettyName: String = "long_dot"
  override def dataType: DataType = LongType
  override val nullIntolerant: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(LongType, _) => true
      case _ => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires two array<bigint> arguments, " +
        s"got (${left.dataType.simpleString}, ${right.dataType.simpleString})")
  }

  protected override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var s = 0L
    var i = 0
    while (i < n) { s += x.getLong(i) * y.getLong(i); i += 1 }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |long ${ev.value}_acc = 0L;
         |for (int $i = 0; $i < $n; $i++) {
         |  ${ev.value}_acc += $a.getLong($i) * $b.getLong($i);
         |}
         |${ev.value} = ${ev.value}_acc;
       """.stripMargin
    })

  protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Nearest-centroid argmin over a packed codebook — the k-means /
  * SemDeDup assignment kernel as ONE native expression.
  *
  * `km_argmin(qv, cl)` where `qv: array<bigint>` and `cl` is the packed
  * centroid list `array<struct<id bigint, cv array<bigint>[, cc bigint]>>`
  * (sorted by id; the optional third field is the precomputed ||cv||²).
  * Returns `struct<cid bigint, dist bigint>` with
  * dist = ||qv||² − 2·qv·cv + ||cv||² minimized, ties to the FIRST
  * (= smallest id, since the list is id-sorted) — value-identical to the
  * `transform → array_min → filter → array_min` HOF chain it replaces.
  *
  * Why native: Catalyst higher-order functions evaluate INTERPRETED —
  * `ArrayTransform.eval` invokes the lambda per element and materializes
  * a K-element struct array per row, then the best/filter/argmin passes
  * walk it twice more. At the log-step adaptive K (SCALE.md §26) that is
  * K ≈ 2-4k interpreted lambda calls and allocations PER VECTOR; a 72×
  * corpus spent 45+ minutes in `SimpleHigherOrderFunction.eval` before
  * this expression (jstack-confirmed), and one codegen loop over the
  * columnar buffers removes every per-element allocation. */
case class KmArgmin(left: Expression, right: Expression)
    extends BinaryExpression {

  override def prettyName: String = "km_argmin"
  override val nullIntolerant: Boolean = true
  // an EMPTY codebook yields null even for non-null inputs (the HOF
  // chain's array_min(filter(...)) did too), so nullability must not be
  // inferred from the children alone
  override def nullable: Boolean = true

  override def dataType: DataType = org.apache.spark.sql.types.StructType(
    Seq(org.apache.spark.sql.types.StructField("cid", LongType, nullable = false),
      org.apache.spark.sql.types.StructField("dist", LongType, nullable = false)))

  override def checkInputDataTypes(): TypeCheckResult = {
    val okLeft = left.dataType match {
      case ArrayType(LongType, _) => true
      case _ => false
    }
    val okRight = right.dataType match {
      case ArrayType(org.apache.spark.sql.types.StructType(fs), _)
        if fs.length == 2 || fs.length == 3 =>
        fs(0).dataType == LongType &&
          (fs(1).dataType match {
            case ArrayType(LongType, _) => true
            case _ => false
          }) &&
          (fs.length == 2 || fs(2).dataType == LongType)
      case _ => false
    }
    if (okLeft && okRight) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires (array<bigint>, array<struct<bigint, " +
        s"array<bigint>[, bigint]>>), got (${left.dataType.simpleString}, " +
        s"${right.dataType.simpleString})")
  }

  private val hasCc: Boolean = right.dataType match {
    case ArrayType(org.apache.spark.sql.types.StructType(fs), _) => fs.length == 3
    case _ => false
  }

  protected override def nullSafeEval(a: Any, b: Any): Any = {
    val qv = a.asInstanceOf[ArrayData]
    val cl = b.asInstanceOf[ArrayData]
    val k = cl.numElements()
    if (k == 0) return null
    val d = qv.numElements()
    var xx = 0L
    var i = 0
    while (i < d) { val v = qv.getLong(i); xx += v * v; i += 1 }
    var bestId = 0L
    var bestDist = 0L
    var found = false
    var j = 0
    val nFields = if (hasCc) 3 else 2
    while (j < k) {
      val s = cl.getStruct(j, nFields)
      val cv = s.getArray(1)
      val m = math.min(d, cv.numElements())
      var dot = 0L
      var cc = 0L
      i = 0
      if (hasCc) {
        while (i < m) { dot += qv.getLong(i) * cv.getLong(i); i += 1 }
        cc = s.getLong(2)
      } else {
        while (i < m) {
          val c = cv.getLong(i)
          dot += qv.getLong(i) * c
          cc += c * c
          i += 1
        }
        // ||cv||^2 runs over the FULL centroid, not the dot's min-length
        // bound — matches long_dot(e.cv, e.cv) in the HOF chain exactly
        // even when a centroid is longer than the query vector
        val n = cv.numElements()
        while (i < n) { val c = cv.getLong(i); cc += c * c; i += 1 }
      }
      val dist = xx - 2L * dot + cc
      if (!found || dist < bestDist) {
        found = true; bestDist = dist; bestId = s.getLong(0)
      }
      j += 1
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](bestId, bestDist))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (qv, cl) => {
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val d = ctx.freshName("d")
      val k = ctx.freshName("k")
      val xx = ctx.freshName("xx")
      val dot = ctx.freshName("dot")
      val cc = ctx.freshName("cc")
      val dist = ctx.freshName("dist")
      val bestId = ctx.freshName("bestId")
      val bestDist = ctx.freshName("bestDist")
      val found = ctx.freshName("found")
      val s = ctx.freshName("s")
      val cv = ctx.freshName("cv")
      val m = ctx.freshName("m")
      val v = ctx.freshName("v")
      val c = ctx.freshName("c")
      val nFields = if (hasCc) 3 else 2
      val ccCode =
        if (hasCc)
          s"""for (int $i = 0; $i < $m; $i++) {
             |    $dot += $qv.getLong($i) * $cv.getLong($i);
             |  }
             |  $cc = $s.getLong(2);""".stripMargin
        else
          s"""int $i = 0;
             |  for (; $i < $m; $i++) {
             |    long $c = $cv.getLong($i);
             |    $dot += $qv.getLong($i) * $c;
             |    $cc += $c * $c;
             |  }
             |  // ||cv||^2 over the FULL centroid (see nullSafeEval)
             |  for (int ${i}n = $cv.numElements(); $i < ${i}n; $i++) {
             |    long $c = $cv.getLong($i);
             |    $cc += $c * $c;
             |  }""".stripMargin
      s"""
         |int $k = $cl.numElements();
         |int $d = $qv.numElements();
         |long $xx = 0L;
         |for (int $i = 0; $i < $d; $i++) {
         |  long $v = $qv.getLong($i); $xx += $v * $v;
         |}
         |long $bestId = 0L; long $bestDist = 0L; boolean $found = false;
         |for (int $j = 0; $j < $k; $j++) {
         |  org.apache.spark.sql.catalyst.InternalRow $s = $cl.getStruct($j, $nFields);
         |  org.apache.spark.sql.catalyst.util.ArrayData $cv = $s.getArray(1);
         |  int $m = java.lang.Math.min($d, $cv.numElements());
         |  long $dot = 0L; long $cc = 0L;
         |  $ccCode
         |  long $dist = $xx - 2L * $dot + $cc;
         |  if (!$found || $dist < $bestDist) {
         |    $found = true; $bestDist = $dist; $bestId = $s.getLong(0);
         |  }
         |}
         |if (!$found) {
         |  ${ev.isNull} = true;
         |  ${ev.value} = null;
         |} else {
         |  ${ev.value} = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
         |    new Object[] { (Object) $bestId, (Object) $bestDist });
         |}
       """.stripMargin
    })

  protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** The library's SQL functions — one list, installed imperatively by
  * [[GraftFunctions.register]] (tests, notebooks, driver-built sessions)
  * and at session build time by [[GraftExtensions]]. */
object GraftFunctions {
  private[plans] val fns: Seq[(FunctionIdentifier, ExpressionInfo, FunctionBuilder)] =
    Seq[(String, String, FunctionBuilder)](
      ("float_dot", "graft.plans.VectorExpressions",
        args => FloatDotProduct(args(0), args(1))),
      ("float_cosine", "graft.plans.VectorExpressions",
        args => FloatCosineSimilarity(args(0), args(1))),
      ("long_dot", "graft.plans.VectorExpressions",
        args => LongDotProduct(args(0), args(1))),
      ("km_argmin", "graft.plans.VectorExpressions",
        args => KmArgmin(args(0), args(1))),
      ("graft_hash60", "graft.plans.Hash60Expression", Hash60.builder),
      ("rolling_hashes", "graft.plans.RollingHashExpression", RollingHashes.builder)
    ).map { case (name, cls, builder) =>
      (FunctionIdentifier(name), new ExpressionInfo(cls, name), builder)
    }

  def register(spark: SparkSession): Unit = fns.foreach { case (id, info, builder) =>
    spark.sessionState.functionRegistry.registerFunction(id, info, builder)
  }
}

/** `spark.sql.extensions=graft.plans.GraftExtensions` — injects the
  * optimizer rule, the planner strategy and every [[GraftFunctions]] entry
  * at session build time (the SparkSessionExtensions seam). */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectOptimizerRule(_ => CollapseIdempotentStringFns)
    ext.injectPlannerStrategy(_ => SessionizeStrategy)
    GraftFunctions.fns.foreach(ext.injectFunction)
  }
}
