package graft

/** Plan-quality regression gate over the ENTIRE driver query surface:
  * every `SparkEntry.registry` query is compiled at sf0.001 and its
  * physical plan linted for the two classes of scale-killer that a
  * 100×-data bump would expose first:
  *
  *  - `CartesianProduct` — an unkeyed corpus×corpus join. Only
  *    q19_cross_join (the deliberate cross-join oracle) may carry one.
  *  - `Exchange SinglePartition` — everything funneled through one task
  *    (an unpartitioned window or repartition(1)). Allowed only where the
  *    exchanged relation is bounded by construction (whitelist below,
  *    each entry justified).
  *
  * Pipeline queries that stage-materialize only expose their final-stage
  * lineage here; their interior stages were audited at 10× scale by the
  * probes recorded in BASELINE.md ("Round-9 ops at 10× volume" and the
  * sections before it). This gate makes the whole-surface audit a
  * driver-checkable invariant instead of a per-round manual read.
  *
  * Five source lints ride along: local sessions are built in one place,
  * Spark listeners are added in one place, oracle kernels are spelled
  * once, single-path parquet reads go through `Taps.parquet`, and local
  * regions gather their rows through `GraphLocal`. */
class PlanLintSpec extends SparkTestBase {

  private val sf = "/root/testdata/sf0.001"

  /** q19 is the deliberate cartesian oracle (reference cross-join,
    * api.clj:63-64). */
  private val cartesianOk = Set("q19_cross_join")

  /** Named single-partition exceptions beyond the structural rule below —
    * each must be bounded by construction and justified here:
    *  - p50_bpe_ids: `row_number().over(orderBy(token))` ranks the BPE
    *    VOCABULARY (distinct post-merge tokens — a type table bounded by
    *    alphabet + merge count, Bpe.scala `vocabulary`), not the corpus;
    *  - p58_zorder_layout: the oracle-checkable ntile(16) bucketing over
    *    the total z-order — deliberately global so DuckDB can replay it
    *    (ZOrder.scala:19-25); the production write path `zorderBy` uses
    *    repartitionByRange + sortWithinPartitions, no single-task sort;
    *  - p70_hybrid_rank: rrfFuse's final fusion window ranks the union
    *    of two already-top-k-bounded retrieval lists (Similarity.rrfFuse
    *    doc), k rows per list, not corpus rows. */
  private val singlePartOk: Set[String] =
    Set("p50_bpe_ids", "p58_zorder_layout", "p70_hybrid_rank")

  import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
  import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
  import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
  import org.apache.spark.sql.execution.joins.{ShuffledHashJoinExec, SortMergeJoinExec}
  import org.apache.spark.sql.catalyst.plans.physical.SinglePartition

  private def nodes(p: SparkPlan): Seq[SparkPlan] = p +: p.children.flatMap(nodes)

  /** Third scale-killer class: a SHUFFLE join whose one side reads only
    * dimension tables. Dimensions must broadcast — shuffling the fact
    * side on a dim key is exactly the exchange that explodes at 100×.
    * A side is "dimension-only" when it scans at least one parquet leaf
    * and every leaf it scans is a dimension table. Join types that
    * cannot build the dim side (full outer; outer with the dim on the
    * preserved side) surface here as named, justified exceptions. */
  private val dimTables = Set("region", "nation", "supplier", "customer", "part")
  private def scannedTables(p: SparkPlan): Seq[String] =
    nodes(p).collect { case s: FileSourceScanExec =>
      s.relation.location.rootPaths.map(_.getName.stripSuffix(".parquet")).toSeq
    }.flatten
  private def dimOnlySide(p: SparkPlan): Boolean = {
    val ts = scannedTables(p)
    ts.nonEmpty && ts.forall(dimTables)
  }
  /** Shuffle-join-with-dimension exceptions — each justified:
    *  - q29_full_outer: the `!!`-both-sides full-outer oracle.
    *    BroadcastHashJoin cannot preserve the build side's unmatched
    *    rows, so Spark never broadcasts a FullOuter side — SMJ is the
    *    correct plan, and both sides of THIS join are dimension-sized
    *    anyway (nation ⟗ supplier-per-nation counts). */
  private val shuffleDimJoinOk: Set[String] = Set("q29_full_outer")

  /** A single-partition shuffle is structurally benign when its child is
    * a GLOBAL (no grouping keys) partial aggregate: the exchange then
    * carries one partial-state row per upstream task — the unavoidable
    * and correct final-merge shape of every global aggregation (count,
    * sketch merges, bloom builds). Anything else funnels data rows
    * through one task and must be named in `singlePartOk`. */
  private def benignSinglePart(e: ShuffleExchangeExec): Boolean = unwrap(e.child) match {
    case agg: BaseAggregateExec => agg.groupingExpressions.isEmpty
    case _ => false
  }

  /** Peel codegen wrappers so the exchange child's logical role shows. */
  private def unwrap(p: SparkPlan): SparkPlan = p match {
    case w: org.apache.spark.sql.execution.WholeStageCodegenExec => unwrap(w.child)
    case i: org.apache.spark.sql.execution.InputAdapter => unwrap(i.child)
    case _ => p
  }

  test("no unexpected CartesianProduct or single-partition exchange in any registered query") {
    val violations = scala.collection.mutable.Buffer[String]()
    var queriesSeen = 0
    var exchangesSeen = 0
    var benignSeen = 0
    var dimBroadcastSeen = 0
    // AQE wraps executedPlan in AdaptiveSparkPlanExec (childless until
    // execution); queryExecution.sparkPlan predates EnsureRequirements, so
    // neither exposes the exchanges. Lint the fully-prepared non-adaptive
    // plan instead — at real scale AQE only improves on it.
    val aqeBefore = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try SparkEntry.registry.foreach { case QuerySpec(name, f, _, batchPlan) =>
      try {
        // a streaming gate query returns a memory-sink table
        // (LocalTableScan — nothing to lint) and EXECUTES the stream when
        // called; lint its transform's batch plan instead
        val plan = batchPlan.getOrElse(f)(spark, sf).queryExecution.executedPlan
        val all = nodes(plan)
        queriesSeen += 1
        if (!cartesianOk(name) && all.exists(
            _.getClass.getSimpleName == "CartesianProductExec"))
          violations += s"$name: CartesianProduct"
        all.foreach {
          case e: ShuffleExchangeExec =>
            exchangesSeen += 1
            if (e.outputPartitioning == SinglePartition) {
              if (benignSinglePart(e)) benignSeen += 1
              else if (!singlePartOk(name))
                violations += s"$name: Exchange SinglePartition over ${unwrap(e.child).nodeName}"
            }
          case j: SortMergeJoinExec =>
            if ((dimOnlySide(j.left) || dimOnlySide(j.right)) && !shuffleDimJoinOk(name))
              violations += s"$name: SortMergeJoin (${j.joinType}) with a dimension-only side"
          case j: ShuffledHashJoinExec =>
            if ((dimOnlySide(j.left) || dimOnlySide(j.right)) && !shuffleDimJoinOk(name))
              violations += s"$name: ShuffledHashJoin (${j.joinType}) with a dimension-only side"
          case b: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec =>
            if (dimOnlySide(b.left) || dimOnlySide(b.right)) dimBroadcastSeen += 1
          case _ => ()
        }
      } catch {
        case ex: Throwable =>
          violations += s"$name: failed to plan: ${ex.getMessage}"
      }
    } finally spark.conf.set("spark.sql.adaptive.enabled", aqeBefore)
    assert(violations.isEmpty, s"\nplan lint violations:\n${violations.mkString("\n")}")
    // vacuity guard: the walk must actually be seeing real plans — the
    // full surface has >100 queries, hundreds of shuffles, and global
    // aggregations whose benign single-partition merges we classified
    assert(queriesSeen > 100, s"only $queriesSeen queries planned")
    assert(exchangesSeen > 100, s"only $exchangesSeen exchanges seen — walk broken?")
    assert(benignSeen >= 5, s"only $benignSeen benign single-partition merges seen")
    assert(dimBroadcastSeen >= 5,
      s"only $dimBroadcastSeen dimension-side broadcast joins seen — dim lint walking nothing?")
  }

  test("Prof's normalised plan dumps of one query match across builds") {
    def dump() = SparkEntry.queries("q03_join_agg")(spark, sf).queryExecution
      .explainString(org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    val (a, b) = (dump(), dump())
    assert(a != b, "raw dumps already equal: nothing left to normalise?")
    assert(Prof.normalisePlan(a) == Prof.normalisePlan(b))
    assert(Prof.normalisePlan(a).contains("plan_id=1]"))
    assert(Prof.normalisePlan(
      "_g9#7 = y#3, z#7 [plan_id=40] [plan_id=9] [plan_id=40] a_g5 MapPartitionsRDD[192]") ==
      "_g1#1 = y#2, z#1 [plan_id=1] [plan_id=2] [plan_id=1] a_g5 MapPartitionsRDD[1]")
  }

  private def scalaFiles(d: java.io.File): Seq[java.io.File] =
    Option(d.listFiles).toSeq.flatten.flatMap { f =>
      if (f.isDirectory) scalaFiles(f) else Seq(f).filter(_.getName.endsWith(".scala"))
    }

  test("local sessions under src/ are built only in LocalSession.scala") {
    val needle = "SparkSession" + ".builder" // split so this file does not match
    val all = scalaFiles(new java.io.File("src"))
    assert(all.size > 100, s"only ${all.size} sources under src/ — wrong working dir?")
    val sites = all.filter(f => java.nio.file.Files.readString(f.toPath).contains(needle))
    assert(sites.map(_.getName) == Seq("LocalSession.scala"),
      s"build sessions through graft.LocalSession, not in ${sites.mkString(", ")}")
  }

  test("Spark listeners under src/ are added only in graft.obs") {
    val needle = "addSpark" + "Listener" // split so this file does not match
    val all = scalaFiles(new java.io.File("src"))
    assert(all.size > 100, s"only ${all.size} sources under src/ — wrong working dir?")
    val sites = all.filter(f => java.nio.file.Files.readString(f.toPath).contains(needle))
    assert(sites.map(_.getPath) == Seq("src/main/scala/graft/obs/Recorder.scala"),
      s"record jobs, stages and plans through graft.obs.Recorder, not in ${sites.mkString(", ")}")
  }

  test("each oracle kernel is spelled once under src/main/scala") {
    // the minhash permutations, the hyperplane planes and the recursive
    // closure are OracleSql fragments; a second copy is a kernel pasted
    // back into an oracle string
    val all = scalaFiles(new java.io.File("src/main/scala"))
    assert(all.size > 50, s"only ${all.size} sources under src/main/scala — wrong working dir?")
    val text = all.map(f => java.nio.file.Files.readString(f.toPath)).mkString("\n")
    val counts = Seq("md5_number_lower('ga'", "md5_number_lower('pl'", "reach AS (").map { k =>
      k -> java.util.regex.Pattern.quote(k).r.findAllIn(text).size
    }
    assert(counts.forall(_._2 == 1), s"compose oracles from OracleSql: ${counts.mkString(", ")}")
  }

  test("local regions gather their rows in one place: GraphLocal.scala") {
    // `.coalesce(1)`, any sort within the partition, then `.rdd`: the one
    // gather the in-task kernels share, so no second local region grows
    val gather = """\.coalesce\(1\)(\s*\.\w+\([^()]*\))*\s*\.rdd\b""".r
    val all = scalaFiles(new java.io.File("src/main/scala"))
    assert(all.size > 50, s"only ${all.size} sources under src/main/scala — wrong working dir?")
    val sites = all.filter(f => gather.findFirstIn(java.nio.file.Files.readString(f.toPath)).isDefined)
    assert(sites.map(_.getName) == Seq("GraphLocal.scala"),
      s"gather through GraphLocal's gather, not in ${sites.mkString(", ")}")
  }

  /** Multi-path reads, which no single footer describes: Publish's
    * committed-batch union and its fold input. */
  private val multiPathReads = Set(
    "Publish.scala" -> "spark.read.parquet(parts: _*)",
    "Publish.scala" -> "spark.read.parquet(dirs: _*)")

  test("single-path parquet reads under src/main go through Taps.parquet") {
    // a parquet read without a schema launches an inference job
    val call = """[\w.]*\.read\s*\.parquet\([^)]*\)""".r
    val all = scalaFiles(new java.io.File("src/main"))
    assert(all.size > 50, s"only ${all.size} sources under src/main — wrong working dir?")
    val sites = all.flatMap { f =>
      call.findAllIn(java.nio.file.Files.readString(f.toPath)).map(f.getName -> _)
    }
    assert(sites.exists(_._1 == "Taps.scala"), "Taps.parquet reads no parquet?")
    val stray = sites.filterNot { case (file, c) => file == "Taps.scala" || multiPathReads((file, c)) }
    assert(stray.isEmpty, s"read parquet through graft.sources.Taps.parquet: ${stray.mkString(", ")}")
    assert(multiPathReads.forall(sites.contains), "a listed multi-path read is gone: drop it from the list")
  }
}
