package perfbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** Test helper for perfbench/tests: writes a small table holding every
  * value type the digest encodes, plus one copy per column with a single
  * value of that column changed, and prints the harness digest of each
  * as JSON lines {"variant": ..., "path": ..., "digest": ...}. The test
  * checks that every variant digests differently and that the Python
  * digest of each written file matches.
  *
  *   DigestCheck OUT_DIR
  */
object DigestCheck {
  def main(args: Array[String]): Unit = {
    val out = args(0)
    val spark = SparkSession.builder().master("local[1]")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val base = spark.sql(
      """SELECT * FROM VALUES
        |  (1L, 7, 0.1D, CAST(12.50 AS DECIMAL(10,2)), 'a b', true,
        |   TIMESTAMP'2024-01-02 03:04:05.123456', DATE'2024-01-02',
        |   array(1L, 2L), named_struct('x', 1L, 'y', 'p')),
        |  (2L, NULL, -0.0D, CAST(-3.00 AS DECIMAL(10,2)), '', false,
        |   TIMESTAMP'1969-12-31 23:59:59.5', DATE'1969-12-31',
        |   array(), named_struct('x', NULL, 'y', 'q')),
        |  (3L, 9, 1e300D, NULL, NULL, NULL, NULL, NULL, NULL, NULL)
        |AS t(id, i, d, dec, s, b, ts, dt, arr, st)""".stripMargin)
    // one changed value per column, in the first row
    val changed: Map[String, org.apache.spark.sql.Column] = Map(
      "id" -> lit(4L), "i" -> lit(8), "d" -> lit(0.2), "dec" -> lit(BigDecimal("12.51")),
      "s" -> lit("a  b"), "b" -> lit(false),
      "ts" -> expr("TIMESTAMP'2024-01-02 03:04:05.123457'"), "dt" -> expr("DATE'2024-01-03'"),
      "arr" -> expr("array(2L, 1L)"), "st" -> expr("named_struct('x', 1L, 'y', 'r')"))
    def emit(variant: String, df: DataFrame): Unit = {
      val path = s"$out/$variant.parquet"
      df.coalesce(1).write.mode("overwrite").parquet(path)
      val back = spark.read.parquet(path)
      println(Harness.json.writeValueAsString(Map("variant" -> variant, "path" -> path,
        "digest" -> Digest.of(back))))
    }
    emit("base", base)
    // the same rows in another order and column order digest the same
    emit("reordered", base.orderBy(col("id").desc).select(base.columns.reverse.map(col): _*))
    base.columns.foreach { c =>
      emit(s"changed_$c", base.withColumn(c,
        when(col("id") === 1L, changed(c).cast(base.schema(c).dataType)).otherwise(col(c))))
    }
    spark.stop()
  }
}
