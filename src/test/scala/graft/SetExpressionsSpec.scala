package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{ArrayType, LongType}
import graft.functions.{ContainmentSorted, JaccardSorted, SetExpressions}

/** The sorted-set kernels never read a null element: the expressions
  * reject inputs typed with null elements, and the function API checks
  * such inputs row by row, failing on a null instead of merging a value
  * that is not there. */
class SetExpressionsSpec extends SparkTestBase {

  private val strict = Literal.create(Seq(1L, 2L), ArrayType(LongType, containsNull = false))
  private val nullable = Literal.create(Seq(1L, 2L), ArrayType(LongType, containsNull = true))

  test("the kernels reject array<bigint> typed with null elements") {
    Seq(JaccardSorted(nullable, strict), JaccardSorted(strict, nullable),
        ContainmentSorted(nullable, strict), ContainmentSorted(strict, nullable))
      .foreach { e =>
        val r = e.checkInputDataTypes()
        assert(r.isFailure, s"${e.prettyName} accepted a nullable-element input")
      }
    assert(JaccardSorted(strict, strict).checkInputDataTypes().isSuccess)
    assert(ContainmentSorted(strict, strict).checkInputDataTypes().isSuccess)
  }

  private def sets(a: Seq[Option[Long]], b: Seq[Option[Long]]): DataFrame = {
    import spark.implicits._
    Seq((a, b)).toDF("a", "b") // array<bigint> with containsNull=true
  }

  private def kernels(df: DataFrame): DataFrame = df.select(
    SetExpressions.jaccardSorted(spark, col("a"), col("b")).as("j"),
    SetExpressions.containmentSorted(spark, col("a"), col("b")).as("c"))

  // the local relation is evaluated interpreted; after a shuffle the
  // projection runs in generated code
  private def bothPaths(df: DataFrame): Seq[DataFrame] =
    Seq(kernels(df), kernels(df.repartition(1)))

  test("nullable-typed sets without nulls give the strict result on both paths") {
    val df = sets(Seq(Some(1L), Some(2L), Some(3L)), Seq(Some(2L), Some(3L), Some(4L)))
    assert(df.schema("a").dataType == ArrayType(LongType, containsNull = true))
    bothPaths(df).foreach { k =>
      val r = k.head()
      assert(r.getDouble(0) == 0.5 && r.getDouble(1) == 2.0 / 3, s"got $r")
    }
  }

  test("a null element fails loudly on both paths") {
    val df = sets(Seq(Some(1L), None, Some(3L)), Seq(Some(1L), Some(3L)))
    bothPaths(df).foreach { k =>
      val e = intercept[Exception](k.collect())
      val msgs = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .map(t => String.valueOf(t.getMessage))
      assert(msgs.exists(_.contains("null element at index 1")), s"got $e")
    }
  }
}
