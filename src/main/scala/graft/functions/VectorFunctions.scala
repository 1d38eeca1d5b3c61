package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo, UnaryExpression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.GraftColumnBridge
import org.apache.spark.sql.types._
import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}

/** Native Catalyst expression for cosine similarity over float/double array
  * columns, with whole-stage codegen (`doGenCode` emits a single fused loop).
  *
  * This is the promotion path SURVEY.md §4 reserves for measured hot spots:
  * the higher-order-function form ([[graft.ops.Similarity.cosineHof]]) is
  * evaluated via interpreted lambdas per element, while this expression is
  * one branch-free Java loop inside the surrounding WholeStageCodegen stage.
  * Both fold strictly left-to-right in array order, so results are
  * bit-identical to the HOF form and to the DuckDB oracle.
  *
  * Null semantics: NULL if either array is NULL (null-intolerant binary
  * expression); array ELEMENTS are assumed non-null (embedding vectors).
  * Zero-norm inputs yield NaN, matching the plain-SQL formulation.
  * Mismatched dimensions throw — corrupt embeddings must fail loudly, not
  * score on a truncated prefix.
  */
case class CosineSimilarity(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "vector_cosine"

  private def elemType(e: Expression): DataType =
    e.dataType.asInstanceOf[ArrayType].elementType

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(dt: DataType): Boolean = dt match {
      case ArrayType(FloatType | DoubleType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<float|double> inputs, got " +
        s"${left.dataType.simpleString} and ${right.dataType.simpleString}")
  }

  override protected def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val n = a.numElements()
    if (b.numElements() != n) {
      throw new IllegalArgumentException(
        s"$prettyName: dimension mismatch ($n vs ${b.numElements()})")
    }
    val lf = elemType(left) == FloatType
    val rf = elemType(right) == FloatType
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val x = if (lf) a.getFloat(i).toDouble else a.getDouble(i)
      val y = if (rf) b.getFloat(i).toDouble else b.getDouble(i)
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      def get(v: String, dt: DataType, i: String) = dt match {
        case FloatType => s"(double) $v.getFloat($i)"
        case _ => s"$v.getDouble($i)"
      }
      // ctx.freshName for every local: two vector_cosine calls in one
      // projection may be emitted into the same Java scope (nullSafeCodeGen
      // only braces the block when a child is nullable) — fixed names would
      // collide and kick the whole stage back to interpreted execution.
      val n = ctx.freshName("n")
      val dot = ctx.freshName("dot")
      val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      val i = ctx.freshName("i")
      val x = ctx.freshName("x")
      val y = ctx.freshName("y")
      s"""
         |int $n = $a.numElements();
         |if ($b.numElements() != $n) {
         |  throw new IllegalArgumentException(
         |    "vector_cosine: dimension mismatch (" + $n + " vs " +
         |    $b.numElements() + ")");
         |}
         |double $dot = 0.0, $na = 0.0, $nb = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $x = ${get(a, elemType(left), i)};
         |  double $y = ${get(b, elemType(right), i)};
         |  $dot += $x * $y; $na += $x * $x; $nb += $y * $y;
         |}
         |${ev.value} = $dot /
         |  (java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb));
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CosineSimilarity =
    copy(left = newLeft, right = newRight)
}

/** Native L2-norm over a float/double array column — the q185 vector-QA
  * kernel, promoted from the interpreted `aggregate` lambda to one fused
  * codegen loop (same left-to-right accumulation ⇒ bit-identical to the
  * HOF form and to the oracle's per-group unnest sum). */
case class VectorNorm(child: Expression) extends UnaryExpression {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "vector_norm"

  private def elemType: DataType =
    child.dataType.asInstanceOf[ArrayType].elementType

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType | DoubleType, _) =>
      TypeCheckResult.TypeCheckSuccess
    case dt => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<float|double> input, got ${dt.simpleString}")
  }

  override protected def nullSafeEval(v: Any): Any = {
    val a = v.asInstanceOf[ArrayData]
    val f = elemType == FloatType
    var ss = 0.0
    var i = 0
    while (i < a.numElements()) {
      val x = if (f) a.getFloat(i).toDouble else a.getDouble(i)
      ss += x * x
      i += 1
    }
    math.sqrt(ss)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val get = elemType match {
        case FloatType => (i: String) => s"(double) $a.getFloat($i)"
        case _ => (i: String) => s"$a.getDouble($i)"
      }
      val ss = ctx.freshName("ss")
      val i = ctx.freshName("i")
      val x = ctx.freshName("x")
      s"""
         |double $ss = 0.0;
         |for (int $i = 0; $i < $a.numElements(); $i++) {
         |  double $x = ${get(i)};
         |  $ss += $x * $x;
         |}
         |${ev.value} = java.lang.Math.sqrt($ss);
       """.stripMargin
    })

  override protected def withNewChildInternal(
      newChild: Expression): VectorNorm = copy(child = newChild)
}

/** Exact quantized squared-L2 distance between two float/double array
  * columns in the `Centroids.KmeansScale` BIGINT space:
  * Σᵢ (⌊aᵢ·2²⁰⌋ − ⌊bᵢ·2²⁰⌋)², one fused codegen loop returning LONG.
  *
  * This is the distance kernel of the Elkan-pruned flat assignment
  * (r14): the exploded form quantizes to q = ⌊v·2²⁰⌋ + 2²⁰ and
  * aggregates (q − cq)² per (vector, seed) — the +2²⁰ offset CANCELS in
  * the difference, and ⌊·⌋ of a double is exact everywhere, so this
  * expression is bit-identical to quantize-then-sum while computing one
  * (vector, seed) pair per ROW instead of per d COMPONENT ROWS through
  * a hash aggregate. All arithmetic is exact: |⌊v·2²⁰⌋| ≤ 2²⁰ for
  * |v| ≤ 1 → per-component square ≤ 2⁴², sum < 2⁶³ for any dim < 2²⁰.
  *
  * Null semantics match [[CosineSimilarity]]: NULL if either array is
  * NULL, elements assumed non-null, dimension mismatch throws. */
case class QuantSqDist(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = LongType
  override def prettyName: String = "quant_sqdist"

  private def elemType(e: Expression): DataType =
    e.dataType.asInstanceOf[ArrayType].elementType

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(dt: DataType): Boolean = dt match {
      case ArrayType(FloatType | DoubleType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<float|double> inputs, got " +
        s"${left.dataType.simpleString} and ${right.dataType.simpleString}")
  }

  override protected def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val n = a.numElements()
    if (b.numElements() != n) {
      throw new IllegalArgumentException(
        s"$prettyName: dimension mismatch ($n vs ${b.numElements()})")
    }
    val lf = elemType(left) == FloatType
    val rf = elemType(right) == FloatType
    var acc = 0L
    var i = 0
    while (i < n) {
      val x = if (lf) a.getFloat(i).toDouble else a.getDouble(i)
      val y = if (rf) b.getFloat(i).toDouble else b.getDouble(i)
      // the exploded form's ⌊v·2²⁰⌋ exactly (Centroids.quantized); the
      // offset +2²⁰ it adds cancels in the difference
      val d = math.floor(x * 1048576.0).toLong -
        math.floor(y * 1048576.0).toLong
      acc += d * d
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      def get(v: String, dt: DataType, i: String) = dt match {
        case FloatType => s"(double) $v.getFloat($i)"
        case _ => s"$v.getDouble($i)"
      }
      val n = ctx.freshName("n")
      val acc = ctx.freshName("acc")
      val i = ctx.freshName("i")
      val d = ctx.freshName("d")
      s"""
         |int $n = $a.numElements();
         |if ($b.numElements() != $n) {
         |  throw new IllegalArgumentException(
         |    "quant_sqdist: dimension mismatch (" + $n + " vs " +
         |    $b.numElements() + ")");
         |}
         |long $acc = 0L;
         |for (int $i = 0; $i < $n; $i++) {
         |  long $d =
         |    (long) java.lang.Math.floor(${get(a, elemType(left), i)} * 1048576.0) -
         |    (long) java.lang.Math.floor(${get(b, elemType(right), i)} * 1048576.0);
         |  $acc += $d * $d;
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): QuantSqDist =
    copy(left = newLeft, right = newRight)
}

object VectorFunctions {
  /** Column API for the native expression. */
  def vector_cosine(a: Column, b: Column): Column =
    GraftColumnBridge.column(CosineSimilarity(
      GraftColumnBridge.expression(a), GraftColumnBridge.expression(b)))

  /** Column API for the native norm. */
  def vector_norm(a: Column): Column =
    GraftColumnBridge.column(VectorNorm(GraftColumnBridge.expression(a)))

  /** Column API for the exact quantized squared-L2 distance. */
  def quant_sqdist(a: Column, b: Column): Column =
    GraftColumnBridge.column(QuantSqDist(
      GraftColumnBridge.expression(a), GraftColumnBridge.expression(b)))

  private val normRegistryEntry = (
    FunctionIdentifier("vector_norm"),
    new ExpressionInfo(classOf[VectorNorm].getName, "vector_norm"),
    (exprs: Seq[Expression]) => {
      require(exprs.length == 1,
        s"vector_norm expects exactly 1 argument, got ${exprs.length}")
      VectorNorm(exprs.head)
    })

  private[functions] def normSqlFunction = normRegistryEntry

  private def build(exprs: Seq[Expression]): Expression = {
    require(exprs.length == 2,
      s"vector_cosine expects exactly 2 arguments, got ${exprs.length}")
    CosineSimilarity(exprs(0), exprs(1))
  }

  private val registryEntry = (
    FunctionIdentifier("vector_cosine"),
    new ExpressionInfo(classOf[CosineSimilarity].getName, "vector_cosine"),
    (exprs: Seq[Expression]) => build(exprs))

  /** The (identifier, info, builder) triple both registration paths share. */
  private[functions] def sqlFunction = registryEntry

  /** Imperative registration (for sessions not built with the extensions). */
  def register(spark: SparkSession): Unit = {
    spark.sessionState.functionRegistry.registerFunction(
      registryEntry._1, registryEntry._2, registryEntry._3)
    spark.sessionState.functionRegistry.registerFunction(
      normRegistryEntry._1, normRegistryEntry._2, normRegistryEntry._3)
  }
}

/** SQL-side registration: `spark.sql.extensions=graft.functions.GraftExtensions`
  * (or `SparkSession.builder.withExtensions`) makes `vector_cosine(a, b)`
  * available to every SQL query in the session. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction(VectorFunctions.sqlFunction)
    ext.injectFunction(VectorFunctions.normSqlFunction)
    StableHashExpression.sqlFunctions.foreach(ext.injectFunction)
    graft.plans.GroupedTopK.inject(ext)
    graft.plans.SinglePartitionSort.inject(ext)
  }
}
