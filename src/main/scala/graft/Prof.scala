package graft

import org.apache.spark.sql.execution.ExplainMode

/** Local tuning profiler (the driver's Bench stays as it is): for each
  * selected SparkEntry query, the min of `SPARK_GRAFT_REPS` (default 3)
  * timed runs and the per-job table of the last one, recorded through
  * [[obs.Recorder]] — every job's wall duration and label, the "which of
  * the 30 jobs inside p51 costs the time" view the aggregate bench can't
  * give — with the union of the job intervals and `outside_jobs`, the
  * run's wall time minus that union (the time outside any job).
  * Given an out dir, it also writes each query's formatted plan to
  * `<outDir>/<query>.txt` (the plans/rN evidence of an optimization
  * round), normalised by [[normalisePlan]] so that the dirs of two runs
  * or two trees compare with a plain `diff -r`. Usage:
  *   SPARK_GRAFT_ONLY=p51_similarity_rank runMain graft.Prof [outDir]
  * Reads SPARK_GRAFT_SF_DIR (default sf0.1) and the LocalSession
  * variables (SPARK_GRAFT_CPUS, SPARK_GRAFT_CONF). */
object Prof {

  /** Renumbers a plan dump's session-global counters in order of first
    * appearance: the `plan_id=` of exchanges, the `#<exprId>` of
    * attributes and subqueries, the planner's fresh variables (`_g<n>`,
    * [[logic.Vars.gen]]) and the ids of checkpointed RDDs (`RDD[<n>]`).
    * All of them grow with every plan or job a session runs, so the same
    * query's raw dumps differ between runs; the renumbered ones differ
    * only where the plans do. */
  def normalisePlan(plan: String): String =
    Seq("(?<=plan_id=)\\d+", "(?<=#)\\d+", "(?<=\\b_g)\\d+", "(?<=RDD\\[)\\d+")
      .foldLeft(plan) { (text, counter) =>
        val ids = scala.collection.mutable.HashMap[String, Int]()
        counter.r.replaceAllIn(text, m => ids.getOrElseUpdate(m.matched, ids.size + 1).toString)
      }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "3").toInt
    require(reps >= 1, s"SPARK_GRAFT_REPS must be >= 1, got $reps")
    val sel = SparkEntry.select(SparkEntry.onlyNames)
    val outDir = args.headOption.map(new java.io.File(_))
    outDir.foreach(_.mkdirs())
    val spark = LocalSession("ERROR")
    sources.Taps.parquet(spark, s"$sfDir/lineitem.parquet")
      .groupBy("l_returnflag").count().count()
    var total = 0.0
    sel.foreach { case QuerySpec(name, fn, _, _) =>
      outDir.foreach { dir =>
        // stage-boundary queries (localCheckpoint / scratch taps) must
        // EXECUTE their upstream stages before the final frame can even
        // be planned, so building the frame is the dump, not a dry run
        val plan = normalisePlan(fn(spark, sfDir).queryExecution
          .explainString(ExplainMode.fromString("formatted")))
        java.nio.file.Files.writeString(new java.io.File(dir, s"$name.txt").toPath, plan)
        println(s"[prof] wrote plan $name (${plan.length} chars)")
      }
      def run(): Double = {
        val t0 = System.nanoTime()
        fn(spark, sfDir).count()
        (System.nanoTime() - t0) / 1e9
      }
      val warm = (1 until reps).map(_ => run())
      val (last, rec) = obs.Recorder.record(spark)(run())
      val times = warm :+ last
      total += times.min
      val inJobs = rec.jobUnionMs / 1e3
      println(f"[prof] $name%-24s min=${times.min}%.2f  all=${times.map(t => f"$t%.2f").mkString(",")}" +
        f"  last: ${rec.jobs.size} jobs, union=$inJobs%.2f s, outside_jobs=${last - inJobs}%.2f s")
      rec.jobs.foreach { j =>
        println(f"[prof]   job ${j.id}%3d ${(j.endMs - j.startMs) / 1e3}%6.3f s  ${j.label}")
      }
    }
    println(f"[prof] TOTAL(min) $total%.2f s")
    spark.stop()
  }
}
