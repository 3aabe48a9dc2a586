package graft
import org.apache.spark.sql.SparkSession
import scala.collection.mutable

/** Headline benchmark: JSON lines the driver records as BENCH_rN.
  *
  * Methodology (matches BASELINE.md's round-4 re-record so numbers are
  * comparable across rounds BY CONSTRUCTION): run the full suite once as
  * an untimed warmup — whole-stage-codegen compilation, file-index and
  * JIT costs land there, not on whichever query first touches a plan
  * shape — then report the per-query MIN over two timed passes in the
  * same JVM. Single-shot numbers swung 1.4× round-over-round on host/JIT
  * noise alone (VERDICT r4 found 12 spurious >2× entries); min-of-2 after
  * a full warmup measures the plans.
  *
  * Host calibration (VERDICT r6 item #1): the shared host's effective
  * CPU speed drifts up to ~1.6× between sessions with no code change —
  * two rounds of judge time went to re-running queries to separate host
  * drift from plan regressions. So the suite times a fixed SCAN-BOUND
  * canary — q19_cross_join + q23_sample, the two pure-parquet-scan
  * queries VERDICT r6 itself used as controls — warm, immediately before
  * and after the timed passes, and emits
  * `"host_cal":[start, end, 0.53]` in the headline: the two measurements
  * bracket the run (drift WITHIN the run shows as start≠end) and 0.53 is
  * the BASELINE.md-recorded steady sum for the same pair (0.32 + 0.21),
  * so per-query ratios normalize as `t / (measured/0.53) / baseline`
  * WITHOUT anyone re-running queries.
  *
  * Output layout (VERDICT r5 finding #1): the driver's stdout capture
  * keeps only the LAST exactly-2000 chars of raw sbt stdout — which also
  * retains sbt's trailing "[success] Total time: ..." epilogue (~80
  * chars) AND, before build.sbt's `run / outputStrategy := StdoutOutput`,
  * prefixed every forked println with "[info] " (why no BENCH_rN
  * headline ever parsed, rounds 1-5: the intact r1 line was
  * "[info] {...}", not JSON). So: full-precision first-run and steady
  * maps print FIRST as auxiliary lines (the session log keeps them; the
  * steady line carries the "timing" methodology tag at its END so the
  * window slice before the headline shows it), and the LAST line is a
  * compact headline — seconds at ≤2 significant-ish decimals (see
  * fmtC), sf basename, query keys shortened to their unique qNN/pNN
  * prefix (87 full names alone overflow the window; full names stay on
  * the aux lines) — sized so headline + epilogue fit the 2000-char
  * window whole; if a host-slow round still inflates it past the
  * budget, the formatter tightens one notch at a time before printing.
  * Field order puts "errors" BEFORE "queries" so if an error message
  * ever inflates the line past the window, truncation eats the head,
  * never the steady map at the end. The short `"t":"w2"` tag keeps the
  * methodology readable from the recorded headline alone (ADVICE r6);
  * the long-form tag still rides the aux line. A FAILED query
  * contributes its error message and NO time anywhere (VERDICT r6
  * finding #2): times-to-exception are not measurements, so the query
  * is simply absent from first_run/steady and the totals. */
object Bench {
  /** Scan-bound host canary + its BASELINE.md-recorded warm constant
    * (q19_cross_join 0.32 s + q23_sample 0.21 s, the round-4 re-record
    * table). Changing either side requires re-recording the other. */
  private val CanaryQueries = Seq("q19_cross_join", "q23_sample")
  private val CanaryBaselineSec = 0.53

  /** The sf1 heavy tier: the heavy batch families over documents/
    * embeddings — the set whose sf0.1 numbers the host tail kept
    * destroying. Streaming queries are excluded: they already run solo
    * in fresh child JVMs. */
  val Sf1Tier: Seq[String] = Seq(
    "p06_minhash_pairs", "p11_neardup_dedup", "p13_jaccard_verify",
    "p15_curate", "p16_capped_candidates", "p17_neardup_star",
    "p27_incremental_neardup", "p28_embedding_neardup", "p34_ivf_knn",
    "p35_embedding_dedup", "p36_semantic_dedup", "p37_incr_semantic",
    "p39_ivfpq_knn", "p42_ivfpq_refine", "p48_curate_modern",
    "p51_similarity_rank", "p54_similarity_triangles",
    "p55_similarity_communities", "p57_decontaminate",
    "p67_decontam_bloom", "p71_hamming_neardup", "p72_candidates_tap",
    "p75_containment", "p76_quality_dedup", "p77_subsumption",
    "p78_incr_containment", "p94_dedup_audit")
  /** Headline byte budget: 2000-char driver window minus the ~80-char
    * sbt epilogue, with slack (bench-output forensics, BASELINE.md). */
  private val HeadlineBudget = 1920

  /** Environment-failure classification (VERDICT r14 #6): round 14's
    * bench artifact was an unparseable sbt ENOSPC stack because the
    * disk filled mid-run. An environment death must still emit ONE
    * parseable headline that says "environment, rerun me" — never read
    * as "no queries" or a mystery crash. */
  private[graft] def classifyEnvFailure(t: Throwable): Option[String] = {
    val chain = Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
      .take(16).toSeq
    val msgs = chain.map(c =>
      c.getClass.getSimpleName + ": " + String.valueOf(c.getMessage))
    val all = msgs.mkString(" | ").toLowerCase
    if (all.contains("no space left") || all.contains("disk quota"))
      Some("ENOSPC: " + msgs.last.take(160))
    else if (chain.exists(_.isInstanceOf[OutOfMemoryError]) ||
        all.contains("unable_to_acquire_memory") ||
        all.contains("java heap space"))
      Some("OOM: " + msgs.last.take(160))
    else None
  }

  // blanks quote, backslash, and the ENTIRE control range — a \f or \b
  // in an exception message would otherwise make the env_failure
  // headline invalid strict JSON, exactly the unparseable-artifact
  // failure this path exists to prevent
  private[graft] def jsonEsc(s: String): String =
    s.replaceAll("[\\p{Cntrl}\"\\\\]", " ")

  /** One parseable headline naming the environment failure, exit 2.
    * (The driver parses the LAST {"metric"... line of stdout; an empty
    * queries map plus env_failure reads as "environment, rerun me".) */
  private[graft] def envFailureHeadline(msg: String): String =
    s"""{"metric":"total","value":-1,"unit":"sec","env_failure":"${jsonEsc(msg)}","queries":{}}"""

  private def emitEnvFailure(msg: String): Nothing = {
    println(envFailureHeadline(msg))
    sys.exit(2)
  }

  /** Pre-flight free-space check (r14 postmortem: stranded DuckDB spill
    * filled the disk and the gate died on ENOSPC mid-run). Returns the
    * failure message, or None when the disk can host a gate run. */
  private[graft] def preflightDisk(minFreeGb: Double = 8.0): Option[String] = {
    // name the multi-GB probe-debris residents (same prefixes janitor.py
    // sweeps; size-filtered so the message stays readable) plus the
    // standing suspects and the cleanup command. Computed LAZILY and at
    // most once: /tmp and the repo usually share one filesystem, so on a
    // full disk both mount checks fail — the recursive walk must not run
    // per mount point. The walk skips symlinks (File.listFiles follows
    // symlinked dirs; a link cycle under /tmp must not hang the
    // preflight — the python counterparts use os.walk, which doesn't).
    lazy val suspects: String = {
      val prefixes = Seq("duckdb_spill", "graft_sf", "graft_skew",
        "graft_test_", "graft-", "v10", "v1f", "vout", "staged_",
        "graft_pub_stage")
      def du(f: java.io.File): Long =
        if (java.nio.file.Files.isSymbolicLink(f.toPath)) 0L
        else if (f.isFile) f.length
        else Option(f.listFiles).toSeq.flatten.map(du).sum
      val debris = Option(new java.io.File("/tmp").listFiles).toSeq
        .flatten.filter(f => f.isDirectory &&
          prefixes.exists(f.getName.startsWith))
        .map(f => f.getPath -> du(f))
        .filter(_._2 >= (256L << 20)).sortBy(-_._2)
        .map { case (d, b) => f"$d (${b / 1073741824.0}%.1f GB)" }
      (Seq("/tmp/duckdb_spill", "target") ++ debris).mkString(", ")
    }
    Seq("/tmp", ".").flatMap { p =>
      val free = new java.io.File(p).getUsableSpace / 1073741824.0
      if (free >= minFreeGb) None
      else Some(f"ENOSPC preflight: only $free%.1f GB free at $p " +
        f"(need $minFreeGb%.1f); check $suspects; " +
        "cleanup: python3 tools/janitor.py --delete --keep <needed>")
    }.headOption
  }

  /** What the sf1 tier's timed passes leave: each query's best time, how
    * many passes timed it, the queries pass 1 dropped past the budget, the
    * errors of each query's last failed pass not followed by a clean one,
    * and the seconds spent. */
  private[graft] final case class TierRun(
      best: mutable.LinkedHashMap[String, Double],
      reps: mutable.LinkedHashMap[String, Int],
      dropped: Seq[String],
      errors: mutable.LinkedHashMap[String, String],
      spentSec: Double)

  /** Min-of-2 passes over the sf1 tier, budget-bounded: single-pass sf1
    * values swung up to 4x between same-tree runs (mid-tier host phases
    * the bracket canaries cannot capture); a second pass takes the
    * per-query min exactly like the main suite's legs. Pass 1 drops (and
    * RECORDS) queries past the budget; pass 2 stops silently when the
    * budget is spent — those queries keep their pass-1 value at reps=1.
    * A clean pass clears the error an earlier pass recorded. */
  private[graft] def sf1Passes(tier: Seq[(String, () => Unit)],
      budgetSec: Double): TierRun = {
    val best = mutable.LinkedHashMap.empty[String, Double]
    val reps = mutable.LinkedHashMap.empty[String, Int]
    val dropped = mutable.ListBuffer.empty[String]
    val errs = mutable.LinkedHashMap.empty[String, String]
    var spent = 0.0
    (1 to 2).foreach { pass =>
      tier.foreach { case (n, run) =>
        if (spent > budgetSec) { if (pass == 1) dropped += n }
        else {
          val t0 = System.nanoTime()
          try {
            run()
            val t = (System.nanoTime() - t0) / 1e9
            spent += t
            best(n) = math.min(t, best.getOrElse(n, Double.MaxValue))
            reps(n) = reps.getOrElse(n, 0) + 1
            errs.remove(n)
          } catch {
            case t: Throwable =>
              spent += (System.nanoTime() - t0) / 1e9
              errs(n) = (t.getClass.getSimpleName + ": " +
                String.valueOf(t.getMessage)).take(120)
          }
        }
      }
    }
    TierRun(best, reps, dropped.toSeq, errs, spent)
  }

  def main(args: Array[String]): Unit = {
    preflightDisk().foreach(emitEnvFailure)
    try run(args)
    catch {
      case t: Throwable =>
        classifyEnvFailure(t) match {
          case Some(kind) => emitEnvFailure(kind)
          case None => throw t // a real defect must stay a loud crash
        }
    }
  }

  private def run(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // SPARK_GRAFT_CONF profiling overrides (LocalSession): the driver
    // never sets it; child JVMs inherit it so isolated re-measures run
    // under the same overrides as the parent.
    val spark = LocalSession("WARN")
    // SPARK_GRAFT_ONLY=p11,p17 runs a subset (local profiling; driver unsets it)
    val only = SparkEntry.onlyNames
    val subset = SparkEntry.select(only)
    // Streaming-replay queries are re-measured in a FRESH
    // child JVM when running the full suite (VERDICT r12-r13 item #1:
    // three rounds running, the in-suite number for a p8x query flagged
    // >2x and a fresh-JVM re-measure refuted it — r13: p86 13.5 s
    // in-suite vs 4.9 s fresh. The inflation is accumulated JVM/state
    // -store residue from the ~450 suite executions before it, not the
    // plan; fresh-JVM is exactly what bench_ratio.py's recheck already
    // trusts, so the artifact now records that number directly).
    // SPARK_GRAFT_ISOLATE=0 forces the old single-JVM behavior; subset
    // runs (SPARK_GRAFT_ONLY) and child runs are already fresh JVMs.
    val childOut = sys.env.get("SPARK_GRAFT_BENCH_OUT")
    val isolateOn = childOut.isEmpty && only.isEmpty &&
      sys.env.getOrElse("SPARK_GRAFT_ISOLATE", "1") != "0"
    val (isoSel, selected) =
      if (isolateOn) subset.partition(_.streaming) else (Nil, subset)
    // A failing query must not report a healthy time (VERDICT r5 #3) and
    // must not leak its time-to-exception into the maps or totals either
    // (VERDICT r6 #2): on error, record the message and return None.
    val errors = mutable.LinkedHashMap.empty[String, String]
    def timeOne(name: String, fn: QuerySpec.Plan): Option[Double] = {
      val t0 = System.nanoTime()
      try {
        fn(spark, sfDir).count()
        Some((System.nanoTime() - t0) / 1e9)
      } catch {
        case t: Throwable =>
          errors(name) = (t.getClass.getSimpleName + ": " + String.valueOf(t.getMessage)).take(120)
          None
      }
    }
    // the canary runs OUTSIDE any SPARK_GRAFT_ONLY subset so host_cal is
    // always comparable; one untimed pass first guarantees it is warm
    // even when the subset excluded q19/q23 from the warmup
    def canary(label: String): Option[Double] = {
      val t0 = System.nanoTime()
      try {
        CanaryQueries.foreach(n => SparkEntry.queries(n)(spark, sfDir).count())
        Some((System.nanoTime() - t0) / 1e9)
      } catch {
        case t: Throwable =>
          errors(label) = (t.getClass.getSimpleName + ": " + String.valueOf(t.getMessage)).take(120)
          None
      }
    }
    // pass 0: warmup — also the honest "cold driver" number, reported
    val firstRun = selected.flatMap { case QuerySpec(name, fn, _, _) =>
      timeOne(name, fn).map(name -> _)
    }
    // two untimed warm-throughs, results discarded: one still caught
    // residual JIT in subset runs (measured 1.03 vs 0.54 warm)
    canary("host_cal_warm"); canary("host_cal_warm")
    val calStart = canary("host_cal_start")
    // passes 1..N: steady state, min per query. Clamp to >=1 — 0 passes
    // would leave the steady map empty after paying for the warmup
    // (ADVICE r5); non-numeric falls back to the default.
    val timedPasses = math.max(1,
      sys.env.get("SPARK_GRAFT_BENCH_PASSES").flatMap(_.toIntOption).getOrElse(2))
    // Signal floor (VERDICT r15 #1): at sf0.1 most queries run <1 s and
    // host drift dominates single measurements — one r15 artifact's own
    // two canary legs disagreed by 30%, making sub-1.5x per-query ratios
    // noise. Each timed pass is therefore an adaptive LEG: the query
    // repeats until >= floor seconds of measured work accumulate (max
    // maxReps), and the leg's value is the min over its repeats (the
    // min_warmN semantics, unchanged — a repeat can only refine the
    // estimate downward). The artifact records every leg, the total
    // repeat count, and the CV across all samples, so reproducibility
    // is checkable from the artifact alone: two independent adaptive
    // legs that agree are the quiet-host recheck, built in.
    // 2.0 default: a 1-2 s query at floor 1.0 ran ONCE per leg, and
    // single-sample legs disagreed up to 85% (run-1 r16 evidence, q03);
    // at 2.0 that class gets >=2 repeats per leg and the leg min
    // stabilizes. Costs ~2-4 min over the 151-query suite.
    val signalFloorSec = sys.env.get("SPARK_GRAFT_BENCH_FLOOR")
      .flatMap(_.toDoubleOption).getOrElse(2.0)
    val maxReps = sys.env.get("SPARK_GRAFT_BENCH_MAXREPS")
      .flatMap(_.toIntOption).getOrElse(9)
    val legTimes = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
    val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
    (1 to timedPasses).foreach { _ =>
      selected.foreach { case QuerySpec(name, fn, _, _) =>
        var acc = 0.0
        var reps = 0
        var best = Double.MaxValue
        var failed = false
        while (!failed && (reps == 0 || (acc < signalFloorSec && reps < maxReps))) {
          timeOne(name, fn) match {
            case Some(t) =>
              acc += t; reps += 1; best = math.min(best, t)
              samples.getOrElseUpdate(name, mutable.ArrayBuffer()) += t
            case None => failed = true
          }
        }
        if (best != Double.MaxValue)
          legTimes.getOrElseUpdate(name, mutable.ArrayBuffer()) += best
      }
    }
    val steady = legTimes.map { case (n, legs) => n -> legs.min }.toMap
    def cvOf(xs: Seq[Double]): Double =
      if (xs.size < 2) 0.0
      else {
        val m = xs.sum / xs.size
        if (m <= 0) 0.0
        else math.sqrt(xs.map(x => (x - m) * (x - m)).sum / (xs.size - 1)) / m
      }
    val calEnd = canary("host_cal_end")
    // ---- fresh-JVM isolation of the streaming family ----------------
    // Fork a bare `java` child (same JVM args: add-opens, -Xmx; same
    // classpath; env inherited) running this main with SPARK_GRAFT_ONLY=
    // <streaming names> and SPARK_GRAFT_BENCH_OUT=<file>. The child runs
    // the standard methodology on its subset (warmup + canary + min-of-N)
    // and writes full-precision results to the file; its stdout goes to
    // target/bench-child.log so the driver's 2000-char stdout tail only
    // ever sees THIS process's headline. On any child failure the family
    // is timed inline instead (old behavior) and the artifact says so.
    // child result bundle: steady minima + the signal-floor evidence
    // (per-leg minima, CV, repeat count) the parent folds into the
    // artifact alongside its own
    case class ChildRes(first: Map[String, Double], steady: Map[String, Double],
      cal: Seq[Double], errs: Seq[(String, String)],
      legs: Map[String, Seq[Double]], cv: Map[String, Double],
      reps: Map[String, Int])
    def runIsolated(names: Seq[String]): Option[ChildRes] = {
      import scala.jdk.CollectionConverters._
      try {
        val outFile = java.io.File.createTempFile("graft-bench-child", ".txt")
        outFile.deleteOnExit()
        val javaBin = new java.io.File(
          new java.io.File(System.getProperty("java.home"), "bin"), "java").getAbsolutePath
        val jvmArgs = java.lang.management.ManagementFactory
          .getRuntimeMXBean.getInputArguments.asScala.toSeq
        val cmd = (Seq(javaBin) ++ jvmArgs ++
          Seq("-cp", System.getProperty("java.class.path"), "graft.Bench")).asJava
        val pb = new ProcessBuilder(cmd)
        pb.environment().put("SPARK_GRAFT_ONLY", names.mkString(","))
        pb.environment().put("SPARK_GRAFT_BENCH_OUT", outFile.getAbsolutePath)
        val log = new java.io.File("target/bench-child.log")
        Option(log.getParentFile).foreach(_.mkdirs())
        pb.redirectErrorStream(true)
        pb.redirectOutput(log)
        val proc = pb.start()
        val done = proc.waitFor(2400, java.util.concurrent.TimeUnit.SECONDS)
        if (!done) { proc.destroyForcibly(); return None }
        if (proc.exitValue() != 0 || !outFile.exists()) return None
        val lines = java.nio.file.Files.readAllLines(outFile.toPath).asScala
        val first = mutable.LinkedHashMap.empty[String, Double]
        val stdy = mutable.LinkedHashMap.empty[String, Double]
        val errs = mutable.ListBuffer.empty[(String, String)]
        val lg = mutable.LinkedHashMap.empty[String, Seq[Double]]
        val cv = mutable.LinkedHashMap.empty[String, Double]
        val rp = mutable.LinkedHashMap.empty[String, Int]
        var cal = Seq.empty[Double]
        lines.foreach { l =>
          l.split(" ", 3) match {
            case Array("F", n, t) => first(n) = t.toDouble
            case Array("S", n, t) => stdy(n) = t.toDouble
            case Array("C", s, e) => cal = Seq(s.toDouble, e.toDouble)
            case Array("E", n, m) => errs += (n -> m)
            case Array("L", n, ts) =>
              lg(n) = ts.split(",").toSeq.flatMap(_.toDoubleOption)
            case Array("V", n, vr) => vr.split(" ", 2) match {
              case Array(c, r) =>
                c.toDoubleOption.foreach(cv(n) = _)
                r.toIntOption.foreach(rp(n) = _)
              case _ =>
            }
            case _ =>
          }
        }
        // a child that timed NOTHING is a failure, not a result
        if (stdy.isEmpty && names.nonEmpty) None
        else Some(ChildRes(first.toMap, stdy.toMap, cal, errs.toList,
          lg.toMap, cv.toMap, rp.toMap))
      } catch { case _: Throwable => None }
    }
    var steadyAll = steady
    var firstAll: Map[String, Double] = firstRun.toMap
    // per-QUERY child canary legs: each isolated query ran in its own
    // JVM/frame, so its times must be normalized by ITS OWN legs — a
    // single last-writer-wins pair silently applied one child's frame
    // to every streaming query (ADVICE r14)
    val childCals = mutable.LinkedHashMap.empty[String, Seq[Double]]
    val childCv = mutable.LinkedHashMap.empty[String, Double]
    val childReps = mutable.LinkedHashMap.empty[String, Int]
    var isoTag = if (isolateOn) "fresh_jvm" else "off"
    // ONE child per query, not one child for the family: a family child
    // re-accumulates the same state-store/shuffle residue across its own
    // 12 queries x 3 passes (measured: p86 12.5 s in a family child vs
    // 4.9 s solo — nearly the full in-suite inflation). A solo child's
    // number is also independent of suite composition and family order,
    // i.e. reproducible across rounds by construction.
    isoSel.foreach { case QuerySpec(n, fn, _, _) =>
      runIsolated(Seq(n)) match {
        case Some(cr) =>
          firstAll = firstAll ++ cr.first
          steadyAll = steadyAll ++ cr.steady
          if (cr.cal.size == 2) childCals(n) = cr.cal
          cr.legs.foreach { case (k, v) =>
            legTimes(k) = mutable.ArrayBuffer(v: _*) }
          cr.cv.foreach { case (k, v) => childCv(k) = v }
          cr.reps.foreach { case (k, v) => childReps(k) = v }
          cr.errs.foreach { case (k, v) => errors(k) = v }
        case None =>
          isoTag = "inline_fallback"
          timeOne(n, fn).foreach(t => firstAll = firstAll.updated(n, t))
          (1 to timedPasses).foreach { _ =>
            timeOne(n, fn).foreach(t => steadyAll = steadyAll
              .updated(n, math.min(t, steadyAll.getOrElse(n, Double.MaxValue))))
          }
      }
    }
    // a query absent from steady (failed every timed pass) is absent
    // from the results and the total — its errors entry is the record.
    // Order: the suite's (registry) order, so headline query positions
    // stay comparable across runs even though the streaming family
    // executed out-of-band.
    val results = subset.flatMap(q => steadyAll.get(q.name).map(q.name -> _))
    def fmt(v: Double, decimals: Int): String =
      s"%.${decimals}f".formatLocal(java.util.Locale.ROOT, v)
    // headline seconds: 0 decimals at >=100, 1 decimal at >=cut, 2
    // below; trailing zeros stripped ("0.30"->"0.3", "2.0"->"2"). The
    // default cut 0.3 bounds rounding error at <=17% of the value; the
    // full-precision aux lines carry 3 decimals regardless. Value width
    // is bounded at 5 chars below 1000 s; non-finite or negative input
    // (cannot occur for elapsed times — defensive per ADVICE r6) prints
    // "0" instead of unbounded %.0f output.
    def fmtC(v: Double, cut: Double): String = {
      if (!java.lang.Double.isFinite(v) || v < 0) "0"
      else {
        val s = fmt(v, if (v >= 100) 0 else if (v >= cut) 1 else 2)
        if (s.contains('.')) s.reverse.dropWhile(_ == '0').dropWhile(_ == '.').reverse else s
      }
    }
    def jsonMap(m: Iterable[(String, Double)], decimals: Int): String =
      m.map { case (k, v) => "\"" + k + "\":" + fmt(v, decimals) }.mkString("{", ",", "}")
    def jsonStrMap(m: Iterable[(String, String)]): String =
      m.map { case (k, v) => "\"" + k + "\":\"" + jsonEsc(v) + "\"" }
        .mkString("{", ",", "}")
    val total = results.map(_._2).sum
    // firstAll preserves no global order; emit in suite order like results
    val firstSeq = subset.flatMap(q => firstAll.get(q.name).map(q.name -> _))
    val firstTotal = firstSeq.map(_._2).sum
    val calFull = Seq(calStart, calEnd).flatten
    // child-mode result file: full-precision, trivially parseable lines
    // (the parent merges these; no JSON parser needed on the Scala side)
    childOut.foreach { path =>
      val sb = new StringBuilder
      calFull match {
        case Seq(s, e) => sb ++= s"C ${fmt(s, 6)} ${fmt(e, 6)}\n"
        case _ =>
      }
      firstSeq.foreach { case (n, t) => sb ++= s"F $n ${fmt(t, 6)}\n" }
      results.foreach { case (n, t) => sb ++= s"S $n ${fmt(t, 6)}\n" }
      // signal-floor evidence: per-leg minima + CV + repeat count
      legTimes.foreach { case (n, legs) =>
        sb ++= s"L $n ${legs.map(fmt(_, 6)).mkString(",")}\n"
      }
      samples.foreach { case (n, xs) =>
        sb ++= s"V $n ${fmt(cvOf(xs.toSeq), 4)} ${xs.size}\n"
      }
      errors.foreach { case (n, m) =>
        sb ++= s"E $n ${m.replaceAll("[\\n\\r]", " ")}\n"
      }
      java.nio.file.Files.writeString(java.nio.file.Paths.get(path), sb.toString)
    }
    // auxiliary full-precision lines first: truncation may eat these.
    // The methodology tag rides at the END of the steady aux line so it
    // can survive in whatever window slice precedes the headline.
    // (tag derives from the actual pass count so an SPARK_GRAFT_BENCH_PASSES
    // override cannot mislabel the methodology)
    println(s"""{"first_run":${jsonMap(firstSeq, 3)},"first_run_total":${fmt(firstTotal, 3)},"sf":"$sfDir"}""")
    val childCalField =
      if (childCals.isEmpty) ""
      else childCals.map { case (n, legs) =>
        "\"" + n + "\":[" + legs.map(fmt(_, 3)).mkString(",") + "]"
      }.mkString(""","child_cal":{""", ",", "}")
    // signal-floor evidence (VERDICT r15 #1), full precision on its own
    // aux line: per-query independent adaptive legs (reproducibility =
    // leg disagreement, checkable from the artifact), CV over all
    // samples, and repeat counts. The worst leg delta also rides the
    // HEADLINE (compact) so the recorded BENCH_rN.json alone answers
    // "does the worst mover reproduce?".
    val legsAll: Map[String, Seq[Double]] =
      legTimes.map { case (n, v) => n -> v.toSeq }.toMap
    val cvAll: Map[String, Double] =
      samples.map { case (n, xs) => n -> cvOf(xs.toSeq) }.toMap ++ childCv
    val repsAll: Map[String, Int] =
      samples.map { case (n, xs) => n -> xs.size }.toMap ++ childReps
    def legDeltaPct(legs: Seq[Double]): Double =
      if (legs.size < 2 || legs.min <= 0) 0.0
      else (legs.max - legs.min) / legs.min * 100.0
    val worstRepro: Option[(String, Double)] =
      legsAll.filter(_._2.size >= 2)
        .map { case (n, legs) => n -> legDeltaPct(legs) }
        .toSeq.sortBy(-_._2).headOption
    val legsJson = legsAll.map { case (n, legs) =>
      "\"" + n + "\":[" + legs.map(fmt(_, 3)).mkString(",") + "]"
    }.mkString("{", ",", "}")
    println(s"""{"legs":$legsJson,"cv":${jsonMap(cvAll, 3)},"reps":${repsAll.map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")},"floor_sec":${fmt(signalFloorSec, 2)},"sf":"$sfDir"}""")
    println(s"""{"steady_full":${jsonMap(results, 3)},"steady_total":${fmt(total, 3)},"host_cal_full":[${calFull.map(fmt(_, 3)).mkString(",")}],"iso":"$isoTag"$childCalField,"sf":"$sfDir","timing":"min_warm${timedPasses}_floor${fmt(signalFloorSec, 1)}","errors":${jsonStrMap(errors)}}""")
    // headline LAST and compact: headline + sbt's "[success] ..."
    // epilogue (~80 chars) must fit the driver's 2000-char tail window
    // together, or the headline's head gets cut and the JSON never
    // parses. The empty errors map lives on the aux line; it joins the
    // headline only when there is something to report.
    val sfName = new java.io.File(sfDir).getName
    // Headline query keys are the unique qNN/pNN prefix ("p16", "q01"):
    // at 87 queries the full names alone (~24 chars each) overflow the
    // 2000-char capture window at ANY precision, and the suite keeps
    // growing. Full names ride the full-precision aux lines; BASELINE.md
    // documents the key scheme. SparkEntry.registry fails at init on a
    // repeated prefix, so a key names one query.
    val shortKey: String => String = QuerySpec.shortKey
    // ---- in-run adjudication of movers (VERDICT r16 #2) -------------
    // bench_ratio.py's --recheck-top existed but ran only ad hoc, so
    // recorded artifacts shipped unadjudicated 1.4-1.7x movers a judge
    // had to re-run by hand. The bench now adjudicates ITSELF: compare
    // this run's steady map against tools/bench_ref.json with the same
    // leg-interpolated normalization bench_ratio uses, take every >2.0x
    // query plus the top SPARK_GRAFT_RECHECK_TOP (default 5) movers
    // above 1.3x, re-measure each in a fresh solo child JVM (the
    // measurement bench_ratio's recheck already trusts), and record the
    // verdicts in RECHECK_latest.json + a full-precision aux line + a
    // compact headline field "rc":[checked, confirmed]. Skipped for
    // child/subset runs and under SPARK_GRAFT_RECHECK=0 (reference
    // re-records, where ratios vs the old record are meaningless).
    // Adjudication failure must never kill the bench — it degrades to
    // the unadjudicated artifact we shipped before.
    var rcField = ""
    val recheckOn = childOut.isEmpty && only.isEmpty &&
      sys.env.getOrElse("SPARK_GRAFT_RECHECK", "1") != "0"
    // SPARK_GRAFT_BENCH_REF: alternate reference record (tests, sf1 tier)
    val refFile = new java.io.File(sys.env.getOrElse(
      "SPARK_GRAFT_BENCH_REF", "tools/bench_ref.json"))
    if (recheckOn && refFile.exists() && calFull.size == 2) try {
      val recheckTop = sys.env.get("SPARK_GRAFT_RECHECK_TOP")
        .flatMap(_.toIntOption).getOrElse(5)
      val om = new com.fasterxml.jackson.databind.ObjectMapper()
      val root = om.readTree(refFile)
      val refQ = mutable.LinkedHashMap.empty[String, Double]
      val it = root.get("queries").fields()
      while (it.hasNext) { val e = it.next(); refQ(e.getKey) = e.getValue.asDouble }
      val (rs, re) = Option(root.get("host_cal")).filter(_.size >= 3)
        .map(a => (a.get(0).asDouble / a.get(a.size - 1).asDouble,
          a.get(1).asDouble / a.get(a.size - 1).asDouble))
        .getOrElse((1.0, 1.0))
      val aS = calFull(0) / CanaryBaselineSec
      val aE = calFull(1) / CanaryBaselineSec
      val totalT = math.max(results.map(_._2).sum, 1e-9)
      var cum = 0.0
      val pos = results.map { case (n, t) =>
        val p = (cum + t / 2) / totalT; cum += t; n -> p }.toMap
      case class Mover(full: String, short: String, raw: Double,
        ratio: Double, refNorm: Double)
      val movers = results.flatMap { case (n, t) =>
        refQ.get(shortKey(n)).map { rt =>
          val fa = aS + pos(n) * (aE - aS)
          val fr = rs + pos(n) * (re - rs)
          val rn = rt / fr
          Mover(n, shortKey(n), t, if (rn > 0) (t / fa) / rn else Double.PositiveInfinity, rn)
        }
      }.sortBy(-_.ratio)
      val flagged = (movers.filter(_.ratio > 2.0) ++
        movers.take(recheckTop).filter(m => m.ratio > 1.3 && m.ratio <= 2.0))
        .distinctBy(_.full).take(8)
      if (flagged.nonEmpty) {
        val verdicts = flagged.map { m =>
          runIsolated(Seq(m.full)) match {
            case Some(cr) if cr.steady.contains(m.full) && cr.cal.size == 2 =>
              // conservative frame: the SMALLER canary leg (fastest
              // host) yields the LARGEST normalized time, so a noisy
              // canary cannot falsely exonerate a real regression
              val hf = math.min(cr.cal(0), cr.cal(1)) / CanaryBaselineSec
              val freshRatio = (cr.steady(m.full) / hf) / m.refNorm
              val verdict =
                if (freshRatio <= 1.3) "drift_artifact"
                else if (freshRatio <= 2.0) "below_flag"
                else "CONFIRMED_gt2x"
              (m, Some(cr.steady(m.full)), Some(freshRatio), verdict)
            case _ => (m, None, None, "recheck_failed")
          }
        }
        val body = verdicts.map { case (m, fresh, fr2, v) =>
          s"""{"q":"${m.short}","suite_sec":${fmt(m.raw, 3)},""" +
            s""""suite_ratio":${fmt(m.ratio, 2)}""" +
            fresh.map(f => s""","fresh_sec":${fmt(f, 3)}""").getOrElse("") +
            fr2.map(r => s""","fresh_ratio":${fmt(r, 2)}""").getOrElse("") +
            s""","verdict":"$v"}"""
        }.mkString("[", ",", "]")
        val nConf = verdicts.count(_._4 == "CONFIRMED_gt2x")
        val doc = s"""{"recheck":$body,"ref":"${jsonEsc(refFile.getPath)}","flag_gt":2.0,"mover_gt":1.3,"top":$recheckTop,"sf":"$sfDir"}"""
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get("RECHECK_latest.json"), doc + "\n")
        println(doc)
        rcField = s""""rc":[${verdicts.size},$nConf],"""
      } else {
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get("RECHECK_latest.json"),
          s"""{"recheck":[],"note":"no mover above 1.3x vs tools/bench_ref.json","sf":"$sfDir"}\n""")
        rcField = s""""rc":[0,0],"""
      }
    } catch { case _: Throwable => () }
    // ---- sf1 heavy tier (VERDICT r17 #2) ----------------------------
    // At sf0.1 the sub-2s per-query tail measures the HOST, not the
    // engine — two consecutive rounds produced 100+ false "regressions"
    // the adjudicator then had to refute one by one. The heavy batch
    // families therefore re-run here against a 10×-replicated input
    // (documents/embeddings key-shifted union — derived FRESH from the
    // bench's own parquet inputs every run, deterministic, nothing
    // persisted across runs), where each query runs multi-second and a
    // per-query ratio against tools/bench_ref_sf1.json is engine
    // signal. Same count() action; single timed pass (plans/JIT are
    // warm from the sf0.1 suite); canary-bracketed. Results go to
    // SF1_latest.json + a full-precision aux line + a compact headline
    // field "s1":[total, n]. Skipped for child/subset runs and under
    // SPARK_GRAFT_SF1=0; any failure degrades to the plain artifact.
    var sf1Field = ""
    val sf1On = childOut.isEmpty && only.isEmpty &&
      sys.env.getOrElse("SPARK_GRAFT_SF1", "1") != "0"
    val sf1Dir = sys.env.getOrElse("SPARK_GRAFT_SF1_DIR", "/tmp/graft_sf1_bench")
    if (sf1On) try {
      import org.apache.spark.sql.functions.{col, lit}
      val tGen0 = System.nanoTime()
      val budgetSec = sys.env.get("SPARK_GRAFT_SF1_BUDGET")
        .flatMap(_.toDoubleOption).getOrElse(900.0)
      graft.streaming.Streams.deleteRecursivelyNoFollow(sf1Dir)
      val copies = 10
      val offset = 1000000000L // far above any sf0.1 key (make_sf1.py scheme)
      Seq("documents" -> "doc_id", "embeddings" -> "vec_id").foreach {
        case (t, key) =>
          val src = sources.Taps.parquet(spark, s"$sfDir/$t.parquet")
          (0 until copies).map(i => src.withColumn(key,
              col(key).cast("long") + lit(i.toLong * offset)))
            .reduce(_ unionAll _)
            .repartition(16).write.mode("overwrite").parquet(s"$sf1Dir/$t.parquet")
      }
      val genSec = (System.nanoTime() - tGen0) / 1e9
      val calS1 = canary("sf1_cal_start")
      val r1 = sf1Passes(SparkEntry.select(Sf1Tier).map(q =>
        q.name -> (() => { q.plan(spark, sf1Dir).count(); () })), budgetSec)
      val calE1 = canary("sf1_cal_end")
      val cal1 = Seq(calS1, calE1).flatten
      val sf1Total = r1.best.values.sum
      val doc1 = s"""{"sf1":${jsonMap(r1.best, 3)},""" +
        s""""sf1_total":${fmt(sf1Total, 3)},"gen_sec":${fmt(genSec, 2)},""" +
        s""""sf1_cal":[${cal1.map(fmt(_, 3)).mkString(",")}],""" +
        s""""sf1_reps":${r1.reps.map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")},""" +
        s""""sf1_spent_sec":${fmt(r1.spentSec, 1)},""" +
        s""""dropped":[${r1.dropped.map("\"" + _ + "\"").mkString(",")}],""" +
        s""""errors":${jsonStrMap(r1.errors)},"copies":$copies,""" +
        s""""budget_sec":${fmt(budgetSec, 0)},"base_sf":"$sfDir"}"""
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get("SF1_latest.json"), doc1 + "\n")
      println(doc1)
      sf1Field = s""""s1":[${fmtC(sf1Total, 0.3)},${r1.best.size}],"""
    } catch { case _: Throwable => () }
    finally if (sf1On) graft.streaming.Streams.deleteRecursivelyNoFollow(sf1Dir)
    def headline(cut: Double): String = {
      def jm(m: Iterable[(String, Double)]): String =
        m.map { case (k, v) => "\"" + shortKey(k) + "\":" + fmtC(v, cut) }.mkString("{", ",", "}")
      val errField = if (errors.isEmpty) "" else s""""errors":${jsonStrMap(errors)},"""
      val calField =
        if (calFull.size < 2) ""
        else {
          // 2 decimals always (cut=10): the calibration ratio needs them
          val cs = (calFull :+ CanaryBaselineSec).map(fmtC(_, 10.0)).mkString(",")
          s""""host_cal":[$cs],"""
        }
      // worst leg disagreement, IN the recorded artifact: ["p55",6.8]
      // means query p55's two adaptive legs differ by 6.8% — the
      // reproducibility answer without any quiet-host recheck
      val repField = worstRepro.map { case (n, d) =>
        s""""rep":["${shortKey(n)}",${fmt(d, 1)}],"""
      }.getOrElse("")
      // short tag carries the signal floor too ("w2f2") so a reader of
      // the headline alone can tell estimator semantics apart from a
      // reference recorded under different ones (ADVICE r16)
      s"""{"metric":"total","value":${fmtC(total, cut)},"unit":"sec","t":"w${timedPasses}f${fmtC(signalFloorSec, 10.0)}",$calField$repField$rcField$sf1Field$errField"sf":"$sfName","queries":${jm(results)}}"""
    }
    // tighten precision a notch at a time if a host-slow round (or an
    // errors map) would push the headline past the capture window
    val line = Seq(0.3, 0.095, 0.0).view.map(headline)
      .find(_.length <= HeadlineBudget)
      .getOrElse(headline(0.0))
    println(line)
    spark.stop()
  }
}

