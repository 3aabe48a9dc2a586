package graft

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ExplainMode
import scala.jdk.CollectionConverters._

/** Local tuning profiler (the driver's Bench stays as it is): for each
  * selected SparkEntry query, the min of `SPARK_GRAFT_REPS` (default 3)
  * timed runs and the per-job table of the last one — every job's wall
  * duration and the callsite that scheduled it, the "which of the 30
  * jobs inside p51 costs the time" view the aggregate bench can't give.
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
    val starts = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[(Int, Double, String)]()
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        // the job's domain label when an operator set one, else its
        // result stage's name (the action's call site)
        val site = Option(js.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .orElse(js.stageInfos.sortBy(_.stageId).lastOption.map(_.name))
          .getOrElse("?")
        starts.put(js.jobId, (js.time, site))
      }
      override def onJobEnd(je: SparkListenerJobEnd): Unit = {
        Option(starts.remove(je.jobId)).foreach { case (t0, site) =>
          jobs.add((je.jobId, (je.time - t0) / 1e3, site))
        }
      }
    }
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
      val times = (1 to reps).map { rep =>
        if (rep == reps) spark.sparkContext.addSparkListener(listener)
        val t0 = System.nanoTime()
        fn(spark, sfDir).count()
        (System.nanoTime() - t0) / 1e9
      }
      // drain: wait (bounded) until every started job has ended, so a
      // straggler job is neither dropped nor attributed to the next
      // query's rows
      var waited = 0
      while (!starts.isEmpty && waited < 100) { Thread.sleep(100); waited += 1 }
      Thread.sleep(500) // let the listener bus drain
      spark.sparkContext.removeSparkListener(listener)
      starts.clear()
      total += times.min
      val last = jobs.asScala.toSeq.sortBy(_._1)
      jobs.clear()
      println(f"[prof] $name%-24s min=${times.min}%.2f  all=${times.map(t => f"$t%.2f").mkString(",")}" +
        f"  last: ${last.size} jobs, sum=${last.map(_._2).sum}%.2f s")
      last.foreach { case (id, d, site) =>
        println(f"[prof]   job $id%3d $d%6.3f s  $site")
      }
    }
    println(f"[prof] TOTAL(min) $total%.2f s")
    spark.stop()
  }
}
