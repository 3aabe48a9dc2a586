package graft

/** Proof that `spark.sql.extensions=graft.GraftExtensions` wires the
  * native expressions into a fresh session's SQL surface (run manually —
  * needs to own the session): the expression is reachable by NAME from
  * pure SQL with no library call at all. */
object ExtensionsDemo {
  def main(args: Array[String]): Unit = {
    val spark = LocalSession("ERROR",
      extra = Seq("spark.sql.extensions" -> "graft.GraftExtensions"))
    val one = spark.sql(
      "SELECT graft_cosine(array(CAST(1.0 AS FLOAT), CAST(0.0 AS FLOAT)), " +
        "array(CAST(1.0 AS FLOAT), CAST(0.0 AS FLOAT))) AS c").head.getDouble(0)
    val dot = spark.sql(
      "SELECT graft_dot(array(CAST(2.0 AS FLOAT)), array(CAST(3.0 AS FLOAT))) AS d")
      .head.getDouble(0)
    assert(math.abs(one - 1.0) < 1e-12, s"cosine(v, v) = $one")
    assert(dot == 6.0, s"dot = $dot")
    println(s"extensions OK: graft_cosine(v,v)=$one graft_dot=$dot")
    spark.stop()
  }
}
