package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Shared local session + the reference's result-compare convention:
  * bag (multiset) equality, order-insensitive, numbers coerced to double
  * (cascalog-core/src/clj/cascalog/logic/testing.clj:7-34). */
trait SparkTestBase extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkTestBase.session

  def doublify(v: Any): Any = v match {
    case n: Byte => n.toDouble
    case n: Short => n.toDouble
    case n: Int => n.toDouble
    case n: Long => n.toDouble
    case n: Float => n.toDouble
    case n: Double => n
    case n: java.math.BigDecimal => n.doubleValue()
    case s: Seq[_] => s.map(doublify)
    case x => x
  }

  def bag(rows: Seq[Seq[Any]]): Map[Seq[Any], Int] =
    rows.map(_.map(doublify)).groupBy(identity).view.mapValues(_.size).toMap

  /** `produces` matcher (midje-cascalog/src/midje/cascalog.clj:6-37). */
  def assertProduces(df: DataFrame, expected: Seq[Seq[Any]]): Unit = {
    val got = df.collect().toSeq.map(_.toSeq)
    assert(bag(got) == bag(expected),
      s"\nexpected bag: ${bag(expected)}\n     got bag: ${bag(got)}\n rows: $got")
  }

  def assertProduces(q: logic.Query, expected: Seq[Seq[Any]]): Unit =
    assertProduces(q.toDF(spark), expected)

  /** `produces` with `:in-order` (midje-cascalog/src/midje/cascalog.clj,
    * test battery midje/cascalog_test.clj:83-86): exact tuples, exact
    * collected order — meaningful for sorted queries. */
  def assertProducesInOrder(df: DataFrame, expected: Seq[Seq[Any]]): Unit = {
    val got = df.collect().toSeq.map(_.toSeq.map(doublify))
    assert(got == expected.map(_.map(doublify)),
      s"ordered mismatch:\nexpected: $expected\n     got: $got")
  }

  def assertProducesInOrder(q: logic.Query, expected: Seq[Seq[Any]]): Unit =
    assertProducesInOrder(q.toDF(spark), expected)

  /** `produces-some` (midje-cascalog/src/midje/cascalog.clj:6-37;
    * semantics from midje/cascalog_test.clj:88-96): every expected tuple
    * appears in the result. Default is bag-wise subset; `inOrder = true`
    * requires the expected tuples as a SUBSEQUENCE of the collected order
    * (gaps allowed); `noGaps = true` additionally requires them
    * CONTIGUOUS. `noGaps` without `inOrder` has no effect, as in the
    * reference. */
  def assertProducesSome(df: DataFrame, expected: Seq[Seq[Any]],
      inOrder: Boolean = false, noGaps: Boolean = false): Unit = {
    val gotRows = df.collect().toSeq.map(_.toSeq.map(doublify))
    val want = expected.map(_.map(doublify))
    if (!inOrder) {
      val got = bag(gotRows)
      val missing = bag(want).filter { case (row, n) => got.getOrElse(row, 0) < n }
      assert(missing.isEmpty, s"missing tuples: $missing\n got: $got")
    } else if (noGaps) {
      assert(want.isEmpty || gotRows.containsSlice(want),
        s"expected contiguous run $want\n got: $gotRows")
    } else {
      // greedy subsequence match
      var rest = gotRows
      val ok = want.forall { w =>
        rest.indexOf(w) match {
          case -1 => false
          case i => rest = rest.drop(i + 1); true
        }
      }
      assert(ok, s"expected subsequence $want\n got: $gotRows")
    }
  }

  def assertProducesSome(q: logic.Query, expected: Seq[Seq[Any]]): Unit =
    assertProducesSome(q.toDF(spark), expected)

  /** `produces-prefix` / `produces-suffix` with :in-order — against the
    * result's collected order (meaningful for sorted buffers/limits). */
  def assertProducesPrefix(df: DataFrame, expected: Seq[Seq[Any]]): Unit = {
    val got = df.collect().toSeq.map(_.toSeq.map(doublify)).take(expected.length)
    assert(got == expected.map(_.map(doublify)), s"prefix mismatch: got $got")
  }

  def assertProducesSuffix(df: DataFrame, expected: Seq[Seq[Any]]): Unit = {
    val got = df.collect().toSeq.map(_.toSeq.map(doublify)).takeRight(expected.length)
    assert(got == expected.map(_.map(doublify)), s"suffix mismatch: got $got")
  }
}

object SparkTestBase {
  /** Fixed at 4 cores and deaf to `SPARK_GRAFT_CPUS` and
    * `SPARK_GRAFT_CONF`: partition counts and plan shapes the specs
    * assert stay the same on every host and in every shell. */
  lazy val session: SparkSession = LocalSession("ERROR", cpus = "4", extra = Seq(
    "spark.app.name" -> "graft-test",
    "spark.sql.warehouse.dir" -> s"/tmp/graft-warehouse-${java.util.UUID.randomUUID()}"),
    env = Map.empty)
}
