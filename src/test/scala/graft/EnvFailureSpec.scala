package graft

/** VERDICT r14 #6: an environment death (disk full, OOM) must classify
  * into a self-describing artifact instead of an unparseable crash. */
class EnvFailureSpec extends SparkTestBase {

  test("classifyEnvFailure: ENOSPC anywhere in the cause chain") {
    val t = new RuntimeException("job aborted",
      new java.io.IOException("wrap",
        new java.nio.file.FileSystemException(
          "/root/repo/target/streams", null, "No space left on device")))
    val c = Bench.classifyEnvFailure(t)
    assert(c.exists(_.startsWith("ENOSPC:")), s"got $c")
  }

  test("classifyEnvFailure: OOM by type and by Spark's acquire-memory message") {
    assert(Bench.classifyEnvFailure(
      new RuntimeException("x", new OutOfMemoryError("Java heap space")))
      .exists(_.startsWith("OOM:")))
    assert(Bench.classifyEnvFailure(new RuntimeException(
      "[UNABLE_TO_ACQUIRE_MEMORY] Unable to acquire 65536 bytes"))
      .exists(_.startsWith("OOM:")))
  }

  test("classifyEnvFailure: a plain defect is NOT classified — it must stay a loud crash") {
    assert(Bench.classifyEnvFailure(
      new IllegalStateException("planner bug: unbound var ?x")).isEmpty)
    assert(Bench.classifyEnvFailure(
      new RuntimeException("a", new RuntimeException("b"))).isEmpty)
  }

  test("classifyEnvFailure: a cause CYCLE terminates") {
    val a = new RuntimeException("a")
    val b = new RuntimeException("b", a)
    a.initCause(b)
    assert(Bench.classifyEnvFailure(a).isEmpty)
  }

  test("preflightDisk: passes on a healthy disk, fails with culprits at an absurd floor") {
    assert(Bench.preflightDisk().isEmpty)
    val msg = Bench.preflightDisk(minFreeGb = 1e6)
    assert(msg.exists(m => m.contains("ENOSPC preflight") &&
      m.contains("duckdb_spill")), s"got $msg")
  }

  test("duck_env preflight: the free-/tmp floor follows the sf dir's input size") {
    assume(sys.env.getOrElse("PATH", "").split(':').exists(d =>
      new java.io.File(d, "python3").canExecute), "python3 not on PATH")
    // sf0.01's gate spills nothing and must start on a disk with under
    // 20 GB free; sf0.1 and up keep the full 20 GB
    val out = scala.sys.process.Process(Seq("python3", "-c",
      "import sys; sys.path.insert(0, 'tools'); import duck_env; " +
        "print(*(duck_env.required_free_gb(f'/root/testdata/{sf}') for sf in ('sf0.01', 'sf0.1')))")).!!
    val Array(small, large) = out.trim.split(' ').map(_.toDouble)
    assert(small >= 1.0 && small < 5.0, s"sf0.01 needs $small GB")
    assert(large == 20.0, s"sf0.1 needs $large GB")
  }

  test("envFailureHeadline: the simulated disk-full artifact parses and self-describes") {
    // the full path a disk-full round takes: preflight message -> headline.
    // The headline must (a) start with {"metric" (the driver's parse
    // anchor), (b) survive a message containing every JSON-hostile char,
    // (c) carry env_failure so an empty queries map cannot read as
    // "no queries ran".
    val msg = Bench.preflightDisk(minFreeGb = 1e6).get +
      " weird\"chars\\and\nnewlines\ttabs"
    val line = Bench.envFailureHeadline(msg)
    assert(line.startsWith("""{"metric":"total","value":-1"""))
    assert(line.contains(""""env_failure":"""") && line.endsWith(""""queries":{}}"""))
    // parseable by a strict JSON reader (Spark's JSON parser as proxy)
    val df = spark.read.json(
      spark.createDataset(Seq(line))(org.apache.spark.sql.Encoders.STRING))
    val row = df.select("env_failure", "metric", "value").head()
    assert(row.getString(0).contains("ENOSPC preflight"))
    assert(row.getString(1) == "total" && row.getLong(2) == -1L)
  }
}
