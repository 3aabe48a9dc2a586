package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

/** Runs one workload in one JVM: set-up, warm-up, then a closed loop of
  * one client issuing one op at a time for the given number of seconds,
  * always finishing the round it started so every op of a round is
  * sampled equally often, and running at least `MinRounds` rounds so a
  * slow host does not change how many samples the percentiles rest on.
  * Writes a JSON result file that perfbench/run.py turns into the
  * benchmark's metrics.
  *
  *   Harness --workload W --inputs DIR --work DIR --seconds S --trace 0|1
  *           --seed N --cores K --out FILE
  */
object Harness {
  val MinRounds = 3
  /** Renders the result file and DigestCheck's lines. */
  val json: ObjectMapper = new ObjectMapper().registerModule(DefaultScalaModule)

  final case class OpResult(name: String, index: Int, warmup: Boolean,
      latencyS: Double, cpuS: Double, digest: String, error: String)

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val rec = new Recorder(a("trace") == "1")
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val work = a("work")

    val t0 = System.nanoTime()
    val spark = session(a("cores").toInt, work)
    rec.install(spark)
    val sessionS = (System.nanoTime() - t0) / 1e9
    val c = new Ctx(spark, a("inputs"), work, a("seed").toLong, rec)
    val wl = Workloads(a("workload"), c)

    val t1 = System.nanoTime()
    rec.span("setup:stage")(wl.prepare())
    val stageS = (System.nanoTime() - t1) / 1e9
    val results = mutable.ArrayBuffer.empty[OpResult]
    val t2 = System.nanoTime()
    wl.warmup.foreach(op => results += runOp(rec, op, warmup = true))
    val warmupS = (System.nanoTime() - t2) / 1e9

    val firstOpMs = System.currentTimeMillis()
    val start = System.nanoTime()
    val deadline = start + (a("seconds").toDouble * 1e9).toLong
    var r = 0
    var more = true
    while (more && (r < MinRounds || System.nanoTime() < deadline)) {
      wl.round(r) match {
        case Some(ops) => ops.foreach(op => results += runOp(rec, op, warmup = false))
        case None => more = false
      }
      r += 1
    }
    val timedS = (System.nanoTime() - start) / 1e9
    val peakRssMb = peakRss() / 1e6
    val gcS = ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum / 1e3
    val jitS = ManagementFactory.getCompilationMXBean.getTotalCompilationTime / 1e3
    val heapLiveMb = liveHeap() / 1e6

    val probeDocs = a("workload") match {
      case "neardup" => s"${c.data}/documents.parquet"
      case _ => s"${a("inputs")}/probe/documents.parquet"
    }
    if (rec.enabled) Workloads.probe(c, a("workload"), probeDocs)
    rec.drain()

    val out = Map(
      "workload" -> a("workload"),
      "jdk" -> System.getProperty("java.version"), "spark" -> spark.version,
      "setup" -> Map("setup_s" -> (firstOpMs - jvmStartMs) / 1e3,
        "session_s" -> sessionS, "stage_s" -> stageS, "warmup_s" -> warmupS),
      "timed_s" -> timedS, "peak_rss_mb" -> peakRssMb,
      "heap_live_mb" -> heapLiveMb,
      "gc_s" -> gcS, "jit_s" -> jitS, "rounds" -> r,
      "ops" -> results.map(o => Map("name" -> o.name, "index" -> o.index,
        "warmup" -> o.warmup, "latency_s" -> o.latencyS, "cpu_s" -> o.cpuS,
        "digest" -> o.digest, "error" -> o.error)),
      "oracle_sql" -> wl.oracleSql,
      "trace" -> (if (rec.enabled) traceRecord(rec) else null))
    json.writeValue(new java.io.File(a("out")), out)
    spark.stop()
  }

  private def runOp(rec: Recorder, op: Op, warmup: Boolean): OpResult = {
    val t = System.nanoTime()
    val cpu = processCpuNs()
    val tag = if (warmup) "warmup:" else "op:"
    def done(digest: String, error: String) = OpResult(op.name, op.index, warmup,
      (System.nanoTime() - t) / 1e9, (processCpuNs() - cpu) / 1e9, digest, error)
    try done(rec.span(tag + op.name)(op.run()), null)
    catch {
      case e: Exception =>
        done(null, (e.getClass.getName + ": " + String.valueOf(e.getMessage)).take(400))
    }
  }

  /** The session every workload runs in, configured like graft.Bench's. */
  private def session(cores: Int, work: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.local.dir", s"$work/spark-local")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  private def processCpuNs(): Long = ManagementFactory.getOperatingSystemMXBean match {
    case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime
    case _ => 0L
  }

  /** Heap still reachable after the timed phase: used heap after full
    * collections, repeated until it stops shrinking, since Spark's cleaner
    * drops the blocks of unreachable datasets only after a collection. */
  private def liveHeap(): Double = {
    def used() = {
      System.gc()
      Thread.sleep(200)
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed.toDouble
    }
    // stop after two collections in a row free less than 1%
    var (a, b, c) = (used(), used(), used())
    var i = 0
    while ((b < a * 0.99 || c < b * 0.99) && i < 10) { a = b; b = c; c = used(); i += 1 }
    c
  }

  /** Peak resident set size of this process in bytes (VmHWM). */
  private def peakRss(): Double = {
    val f = new java.io.File("/proc/self/status")
    if (!f.exists) return 0.0
    val src = scala.io.Source.fromFile(f)
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble * 1024).getOrElse(0.0)
    finally src.close()
  }

  private def traceRecord(rec: Recorder): Map[String, Any] = Map(
    "spans" -> rec.spans.map { sp =>
      val c = rec.counts.getOrElse(sp.id, new Counts)
      Map("id" -> sp.id, "name" -> sp.name, "parent" -> sp.parent, "op" -> sp.op,
        "start_ns" -> sp.start, "end_ns" -> sp.end, "self_s" -> rec.selfSeconds(sp),
        "jobs" -> c.jobs, "tasks" -> c.tasks, "task_cpu_ns" -> c.taskCpuNs,
        "task_run_ms" -> c.taskRunMs, "shuffle_write_bytes" -> c.shuffleWriteBytes,
        "spill_bytes" -> c.spillBytes, "input_rows" -> c.inputRows,
        "stage_task_ms" -> c.stageTaskMs.map { case (k, v) => k.toString -> v.toSeq },
        "notes" -> sp.notes)
    },
    "unattributed_jobs" -> rec.counts.get(-1).map(_.jobs).getOrElse(0L),
    "stream_starts_ns" -> rec.streamStarts.toSeq,
    "stream_batches" -> rec.batches.map(b => Map("at_ns" -> b.atNs,
      "durations_ms" -> b.durations, "state_rows" -> b.stateRows,
      "state_bytes" -> b.stateBytes, "state_commit_ms" -> b.stateCommitMs)))
}
