package graft

/** The one local-session builder: the `SPARK_GRAFT_CONF` parser and the
  * confs every main and the test suite share. */
class LocalSessionSpec extends SparkTestBase {

  test("SPARK_GRAFT_CONF splits on ';' when present, else on ','") {
    assert(LocalSession.parseConf(" a=1, b=2 ,,") == Seq("a" -> "1", "b" -> "2"))
    assert(LocalSession.parseConf("a=1,2;b=x,y;") == Seq("a" -> "1,2", "b" -> "x,y"))
    assert(LocalSession.parseConf("") == Nil)
  }

  test("SPARK_GRAFT_CONF values keep every '=' after the first and may be empty") {
    assert(LocalSession.parseConf("spark.driver.extraJavaOptions=-Da=b -Dc=d;k=") ==
      Seq("spark.driver.extraJavaOptions" -> "-Da=b -Dc=d", "k" -> ""))
  }

  test("a malformed SPARK_GRAFT_CONF entry fails with its message") {
    for (bad <- Seq("a=1,oops", "=1")) {
      val e = intercept[RuntimeException](LocalSession.parseConf(bad))
      val entry = bad.split(',').last
      assert(e.getMessage.contains(s"SPARK_GRAFT_CONF entry '$entry' is not key=value"),
        e.getMessage)
    }
  }

  test("base confs, then the caller's extras, then SPARK_GRAFT_CONF") {
    val base = Seq("spark.sql.shuffle.partitions" -> "3",
      "spark.sql.session.timeZone" -> "UTC",
      "spark.sql.legacy.parquet.nanosAsLong" -> "true",
      "spark.ui.enabled" -> "false")
    assert(LocalSession.confs("3", env = Map.empty) == base)
    assert(LocalSession.confs("3", Seq("x" -> "1"),
      Map("SPARK_GRAFT_CONF" -> "spark.sql.session.timeZone=PST")) ==
      base ++ Seq("x" -> "1", "spark.sql.session.timeZone" -> "PST"))
  }

  test("the shared test session is built with the base confs") {
    assert(spark.sparkContext.master == "local[4]")
    assert(spark.conf.get("spark.sql.shuffle.partitions") == "4")
    assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
    assert(spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
    assert(spark.sparkContext.getConf.get("spark.ui.enabled") == "false")
    assert(spark.sparkContext.appName == "graft-test")
  }
}
