package graft

import java.nio.file.{Files, Path}

/** The sf1 heavy tier's bookkeeping: the timed passes and the
  * `tools/bench_ratio.py --sf1` comparison of their record. */
class BenchSf1Spec extends org.scalatest.funsuite.AnyFunSuite {

  test("a clean later pass clears the error an earlier pass recorded") {
    var calls = Map.empty[String, Int]
    def op(n: String, failOn: Set[Int]): (String, () => Unit) = n -> (() => {
      calls += n -> (calls.getOrElse(n, 0) + 1)
      if (failOn(calls(n))) throw new IllegalStateException(s"$n failed")
    })
    val r = Bench.sf1Passes(Seq(op("flaky", Set(1)), op("late", Set(2)),
      op("broken", Set(1, 2)), op("clean", Set.empty)), budgetSec = 1e9)
    assert(r.errors.keySet == Set("late", "broken"), s"errors ${r.errors}")
    assert(r.best.keySet == Set("flaky", "late", "clean"))
    assert(r.reps == Map("flaky" -> 1, "late" -> 1, "clean" -> 2))
    assert(r.dropped.isEmpty)
  }

  private def assumePython(): Unit =
    assume(sys.env.getOrElse("PATH", "").split(':').exists(d =>
      new java.io.File(d, "python3").canExecute), "python3 not on PATH")

  test("bench_ratio full_names maps each short key to one registry query") {
    assumePython()
    val code = "import sys; sys.path.insert(0, 'tools'); import bench_ratio; " +
      "print('\\n'.join(bench_ratio.full_names().values()))"
    val names = scala.sys.process.Process(Seq("python3", "-c", code)).!!.split('\n').toSet
    assert(names == SparkEntry.queries.keySet,
      s"parsed ${names.size} names; differs by ${(names -- SparkEntry.queries.keySet) ++
        (SparkEntry.queries.keySet -- names)}")
  }

  test("bench_ratio --sf1 reports no shared queries instead of dividing by zero") {
    assumePython()
    val dir = Files.createTempDirectory("graft_bench_ratio")
    def write(name: String, body: String): Path = Files.writeString(dir.resolve(name), body)
    try {
      val art = write("sf1.json", """{"sf1":{"p11_neardup_dedup":2.0},"sf1_cal":[0.5,0.5]}""" + "\n")
      val ref = write("ref.json", """{"queries":{"p51_similarity_rank":3.0}}""")
      val out = new StringBuilder
      val log = scala.sys.process.ProcessLogger(l => out.append(l).append('\n'))
      val rc = scala.sys.process.Process(Seq("python3", "tools/bench_ratio.py", "--sf1",
        art.toString, ref.toString)).!(log)
      assert(rc == 0, s"exit $rc:\n$out")
      assert(out.toString.contains("no shared queries"), out.toString)
    } finally graft.streaming.Streams.deleteRecursivelyNoFollow(dir.toString)
  }
}
