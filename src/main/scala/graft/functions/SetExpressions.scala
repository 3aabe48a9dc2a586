package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, LongType}

/** Native Catalyst expressions for the sorted-set similarity kernels of
  * the verify tier — Jaccard and containment over SORTED DISTINCT
  * `array<bigint>` shingle-hash sets — with whole-stage codegen, same
  * construction as [[VectorExpressions]] (the (b) tier of the extension
  * ladder: no UDF serialization/boxing boundary).
  *
  * Why this matters: the scalar-UDF form takes `Seq[Long]` arguments, so
  * EVERY candidate pair paid two ArrayData→boxed-Seq conversions before
  * the merge loop even started — at the sf1 verify volume (1.28M pairs ×
  * two ~200-element arrays) that boundary dominated the whole verify
  * stage (round-18 profile: 9.6 s of p11's 16 s wall in the one verify
  * job). The expressions read the arrays in place.
  *
  * Arithmetic is REPLICATED from the UDF kernels exactly — same
  * ascending merge, same int counters, same final IEEE division — so
  * swapping them changes no output bit (the [[graft.pipeline.Dedup]]
  * oracle queries pin this).
  */
case class JaccardSorted(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    SetExpressions.checkSortedSets(prettyName, left, right)
  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_jaccard_sorted"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val na = x.numElements(); val nb = y.numElements()
    var i = 0; var j = 0; var inter = 0
    while (i < na && j < nb) {
      val xa = x.getLong(i); val yb = y.getLong(j)
      if (xa == yb) { inter += 1; i += 1; j += 1 }
      else if (xa < yb) i += 1
      else j += 1
    }
    val union = na + nb - inter
    if (union == 0) 1.0 else inter.toDouble / union
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val na = ctx.freshName("na"); val nb = ctx.freshName("nb")
      val i = ctx.freshName("i"); val j = ctx.freshName("j")
      val inter = ctx.freshName("inter"); val un = ctx.freshName("un")
      val xa = ctx.freshName("xa"); val yb = ctx.freshName("yb")
      s"""
         |int $na = $x.numElements(); int $nb = $y.numElements();
         |int $i = 0; int $j = 0; int $inter = 0;
         |while ($i < $na && $j < $nb) {
         |  long $xa = $x.getLong($i); long $yb = $y.getLong($j);
         |  if ($xa == $yb) { $inter++; $i++; $j++; }
         |  else if ($xa < $yb) { $i++; } else { $j++; }
         |}
         |int $un = $na + $nb - $inter;
         |${ev.value} = ($un == 0) ? 1.0 : (double) $inter / (double) $un;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): JaccardSorted =
    copy(left = newLeft, right = newRight)
}

/** Containment |A∩B| / |A| of sorted distinct hash array `a` IN `b`;
  * empty inner set → 0.0 (the UDF kernel's convention). */
case class ContainmentSorted(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    SetExpressions.checkSortedSets(prettyName, left, right)
  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_containment_sorted"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val na = x.numElements(); val nb = y.numElements()
    if (na == 0) 0.0
    else {
      var i = 0; var j = 0; var inter = 0
      while (i < na && j < nb) {
        val xa = x.getLong(i); val yb = y.getLong(j)
        if (xa == yb) { inter += 1; i += 1; j += 1 }
        else if (xa < yb) i += 1
        else j += 1
      }
      inter.toDouble / na
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val na = ctx.freshName("na"); val nb = ctx.freshName("nb")
      val i = ctx.freshName("i"); val j = ctx.freshName("j")
      val inter = ctx.freshName("inter")
      val xa = ctx.freshName("xa"); val yb = ctx.freshName("yb")
      s"""
         |int $na = $x.numElements(); int $nb = $y.numElements();
         |if ($na == 0) { ${ev.value} = 0.0; } else {
         |  int $i = 0; int $j = 0; int $inter = 0;
         |  while ($i < $na && $j < $nb) {
         |    long $xa = $x.getLong($i); long $yb = $y.getLong($j);
         |    if ($xa == $yb) { $inter++; $i++; $j++; }
         |    else if ($xa < $yb) { $i++; } else { $j++; }
         |  }
         |  ${ev.value} = (double) $inter / (double) $na;
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): ContainmentSorted =
    copy(left = newLeft, right = newRight)
}

/** `array<bigint>` narrowed to `containsNull=false`, failing on a null
  * element. The set kernels read elements without a null check, so an
  * input whose type allows nulls (any array read back from parquet, say)
  * passes through this first; an input typed without nulls never does. */
case class NoNullElements(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(s"$prettyName needs array<bigint>, got $t")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_no_null_elements"

  override def nullSafeEval(a: Any): Any = NoNullElements.check(a.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, x => s"${classOf[NoNullElements].getName}.check($x)")

  override protected def withNewChildInternal(newChild: Expression): NoNullElements =
    copy(child = newChild)
}

object NoNullElements {
  /** `x` unchanged, or an error naming the first null element; called by
    * the interpreted and the generated path alike. */
  def check(x: ArrayData): ArrayData = {
    var i = 0
    while (i < x.numElements()) {
      if (x.isNullAt(i)) throw new IllegalArgumentException(
        s"graft_no_null_elements: null element at index $i of a sorted hash set")
      i += 1
    }
    x
  }
}

/** Registration, mirroring [[VectorExpressions]]. */
object SetExpressions {
  /** Both kernels take two `array<bigint>` inputs typed without null
    * elements: a null element has no value to merge on. */
  private[functions] def checkSortedSets(name: String, left: Expression,
      right: Expression): TypeCheckResult =
    if (Seq(left, right).forall(_.dataType == ArrayType(LongType, containsNull = false)))
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$name needs two array<bigint> inputs without null elements, got " +
        s"${left.dataType} / ${right.dataType} (wrap a nullable-element " +
        "array in NoNullElements)")

  /** The function builders narrow an input typed with null elements
    * through [[NoNullElements]]; inputs typed without them are untouched,
    * so their plans carry no extra node. */
  private def nonNull(e: Expression): Expression = e.dataType match {
    case ArrayType(LongType, true) => NoNullElements(e)
    case _ => e
  }

  def register(spark: SparkSession): Unit = synchronized {
    val reg = spark.sessionState.functionRegistry
    reg.createOrReplaceTempFunction("graft_jaccard_sorted",
      exprs => JaccardSorted(nonNull(exprs(0)), nonNull(exprs(1))), "built-in")
    reg.createOrReplaceTempFunction("graft_containment_sorted",
      exprs => ContainmentSorted(nonNull(exprs(0)), nonNull(exprs(1))), "built-in")
  }

  def jaccardSorted(spark: SparkSession, a: Column, b: Column): Column = {
    register(spark)
    org.apache.spark.sql.functions.call_function("graft_jaccard_sorted", a, b)
  }

  def containmentSorted(spark: SparkSession, a: Column, b: Column): Column = {
    register(spark)
    org.apache.spark.sql.functions.call_function("graft_containment_sorted", a, b)
  }
}
