package graft

import org.apache.spark.sql.functions._

import graft.obs.{JobRecord, Recorder, Recording}

/** `graft.obs.Recorder`: a recording holds what Spark reported for its
  * body alone, and `describing` gives the caller's job description back. */
class RecorderSpec extends SparkTestBase {

  private def sc = spark.sparkContext

  private def labelled(label: String): Unit = Recorder.describing(spark) {
    sc.setJobDescription(label)
    sc.parallelize(1 to 8, 2).count(): Unit
  }

  test("a recording holds exactly its body's jobs, asynchronous broadcast included, " +
      "and none run just before or after it") {
    // an outer recording sees the jobs run around the inner one; without
    // adaptive execution only the broadcast job is submitted from another
    // thread, so the collect job keeps the test's call site
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    val ((rows, inner), outer) = try Recorder.record(spark) {
      (1 to 5).foreach(_ => labelled("before"))
      val r = Recorder.record(spark) {
        spark.range(1000).join(broadcast(spark.range(10).toDF("id")), "id").collect()
      }
      labelled("after")
      r
    } finally spark.conf.unset("spark.sql.adaptive.enabled")
    assert(rows.length == 10)
    val around = outer.jobs.filter(j => j.label == "before" || j.label == "after")
    assert(around.size == 6, s"the outer recording lost jobs: ${outer.jobs}")
    assert(inner.jobs == outer.jobs.filterNot(around.contains),
      s"inner ${inner.jobs} vs outer ${outer.jobs}")
    // the broadcast side is collected by a job Spark submits from its
    // broadcast thread, before the collect job the body itself runs
    val (own, async) = inner.jobs.partition(_.label.contains("RecorderSpec.scala"))
    assert(own.size == 1 && own.head.label.startsWith("collect at"), inner.jobs)
    assert(async.size == 1 && async.head.id < own.head.id, inner.jobs)
    assert(inner.jobs.forall(j => j.startMs <= j.endMs))
  }

  test("a recording captures the body's SQL plans and completed stages") {
    val (_, rec) = Recorder.record(spark) {
      spark.range(0, 1000, 1, 4).groupBy(col("id") % 3).count().collect()
    }
    assert(rec.plans.nonEmpty && rec.plans.forall(_.contains("HashAggregate")), rec.plans)
    assert(rec.stages.exists(s => s.tasks == 4 && s.shuffleWriteBytes > 0), rec.stages)
    assert(rec.stages.exists(_.shuffleReadBytes > 0), rec.stages)
    assert(rec.stages.forall(s => s.taskMs.size == s.tasks && s.taskMs == s.taskMs.sorted))
  }

  test("describing gives the caller's job description back, also on failure") {
    sc.setJobDescription("caller")
    try {
      val (_, rec) = Recorder.record(spark)(Recorder.describing(spark) {
        Recorder.describe(spark, "obs.spec")
        sc.parallelize(1 to 8, 2).count()
      })
      assert(sc.getLocalProperty("spark.job.description") == "caller")
      assert(rec.jobs.map(_.label) == Seq("graft obs.spec"))
      intercept[IllegalStateException](Recorder.describing(spark) {
        Recorder.describe(spark, "obs.spec")
        throw new IllegalStateException("body failed")
      })
      assert(sc.getLocalProperty("spark.job.description") == "caller")
    } finally sc.setJobDescription(null)
  }

  test("jobUnionMs counts time covered by overlapping jobs once") {
    def job(start: Long, end: Long) = JobRecord(0, "j", start, end)
    assert(Recording(Seq(job(0, 10), job(5, 20), job(30, 35), job(31, 32)), Nil, Nil)
      .jobUnionMs == 25L)
    assert(Recording(Seq(job(40, 50), job(0, 100)), Nil, Nil).jobUnionMs == 100L)
    assert(Recording(Nil, Nil, Nil).jobUnionMs == 0L)
  }
}
