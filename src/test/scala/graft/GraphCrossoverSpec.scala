package graft

import org.apache.spark.sql.functions._

import graft.obs.Recorder
import graft.pipeline.Graph

/** VERDICT r15 #5/#7: pins the `spark.graft.broadcastNodeLimit`
  * CROSSOVER itself at the plan level (below the limit the iteration
  * join must broadcast; above it the plan must degrade to sort-merge —
  * with bit-identical results on both sides), and the `nNodes`
  * known-count threading (a caller-supplied count gives equal output;
  * triangleCounts then skips its count job, and the iterative analytics
  * count their nodes in the job that materializes the ids). The test graph has 6
  * nodes and 10 directed edges: at a limit of 16 or more pageRankInt and
  * labelPropagate run in one task ([[graft.pipeline.GraphLocal]]), so
  * the tests of the distributed loops pin them with a limit of 10
  * (broadcast) or 5 (sort-merge). */
class GraphCrossoverSpec extends SparkTestBase {
  import spark.implicits._

  private def graph() = {
    val pairs = Seq((1L, 2L), (1L, 3L), (2L, 3L), (4L, 5L), (2L, 6L))
      .toDF("id_a", "id_b")
    val nodes = (1L to 6L).toDF("id")
    (pairs, nodes, Graph.symmetrize(pairs))
  }

  /** Run `thunk` with executed-plan descriptions captured (the graph
    * iterations execute inside Stage.materialize, so join shapes are
    * only visible in the plans that RUN — same capture as
    * BloomJoinSpec). */
  private def plansOf[A](thunk: => A): (A, Seq[String]) =
    Recorder.record(spark)(thunk) match { case (a, rec) => (a, rec.plans) }

  /** Jobs launched by `thunk`. */
  private def jobsOf[A](thunk: => A): (A, Int) =
    Recorder.record(spark)(thunk) match { case (a, rec) => (a, rec.jobs.size) }

  /** Disable Spark's own size-based auto-broadcast so the ONLY possible
    * BroadcastHashJoin is the one `broadcastNodeLimit` hints — the plan
    * assertion then reads the crossover directly. */
  private def withConf[A](limit: Long)(thunk: => A): A = {
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.graft.broadcastNodeLimit", limit.toString)
    try thunk
    finally {
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      spark.conf.unset("spark.graft.broadcastNodeLimit")
    }
  }

  /** Pins the distributed loops: 6 nodes <= 10 < 16 rows (broadcast). */
  private def distributed[A](thunk: => A): A = {
    spark.conf.set("spark.graft.broadcastNodeLimit", "10")
    try thunk finally spark.conf.unset("spark.graft.broadcastNodeLimit")
  }

  private def bhj(plans: Seq[String]): Int =
    plans.count(_.contains("BroadcastHashJoin"))

  test("pageRankInt crossover: broadcast below the limit, SMJ above, " +
      "bit-identical results") {
    val (_, nodes, edges) = graph()
    def run() = Graph.pageRankInt(edges, nodes, iters = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val (under, underPlans) = withConf(limit = 10L)(plansOf(run()))
    val (over, overPlans) = withConf(limit = 5L)(plansOf(run()))
    assert(bhj(underPlans) > 0,
      s"limit 10 > 6 nodes: the contribution join must broadcast; " +
        s"plans:\n${underPlans.mkString("\n---\n")}")
    assert(bhj(overPlans) == 0,
      "limit 5 < 6 nodes: every join must degrade to sort-merge " +
        s"(got ${bhj(overPlans)} BroadcastHashJoin)")
    assert(overPlans.exists(_.contains("SortMergeJoin")),
      "above-limit path should contain SortMergeJoin")
    assert(under == over, s"crossover must be result-neutral: $under vs $over")
  }

  test("labelPropagate crossover: plan flips at the limit, results equal") {
    val (_, nodes, edges) = graph()
    def run() = Graph.labelPropagate(edges, nodes, iters = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val (under, underPlans) = withConf(limit = 10L)(plansOf(run()))
    val (over, overPlans) = withConf(limit = 5L)(plansOf(run()))
    assert(bhj(underPlans) > 0, "vote join must broadcast under the limit")
    assert(bhj(overPlans) == 0, "vote join must sort-merge above the limit")
    assert(under == over, s"crossover must be result-neutral: $under vs $over")
  }

  test("triangleCounts crossover: orientation joins flip at the limit, " +
      "results equal") {
    val (pairs, nodes, _) = graph()
    def run() = Graph.triangleCounts(pairs, nodes)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val (under, underPlans) = withConf(limit = 100L)(plansOf(run()))
    val (over, overPlans) = withConf(limit = 5L)(plansOf(run()))
    assert(bhj(underPlans) > 0, "degree joins must broadcast under the limit")
    assert(bhj(overPlans) == 0, "degree joins must sort-merge above the limit")
    assert(under == over, s"crossover must be result-neutral: $under vs $over")
  }

  test("nNodes threading: a caller-supplied count gives the same output; " +
      "only triangleCounts has a count job for it to remove") {
    val (pairs, nodes, edges) = graph()
    distributed {
      // LPA: n is ONLY used for the broadcast decision
      val (a1, j1) = jobsOf(Graph.labelPropagate(edges, nodes, iters = 2)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap)
      val (a2, j2) = jobsOf(
        Graph.labelPropagate(edges, nodes, iters = 2, nNodes = Some(6L))
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap)
      assert(a1 == a2, s"nNodes must not change LPA output: $a1 vs $a2")
      assert(j2 == j1,
        s"the node count must ride the ids job, leaving none to remove: $j1 -> $j2")
      // triangles: likewise broadcast-decision-only
      val (t1, tj1) = jobsOf(Graph.triangleCounts(pairs, nodes)
        .collect().map(r => (r.getLong(0), r.getLong(2))).toSet)
      val (t2, tj2) = jobsOf(
        Graph.triangleCounts(pairs, nodes, nNodes = Some(6L))
          .collect().map(r => (r.getLong(0), r.getLong(2))).toSet)
      assert(t1 == t2, s"nNodes must not change triangle output: $t1 vs $t2")
      assert(tj2 < tj1,
        s"known count must remove the count job(s): $tj1 -> $tj2")
      // pageRank needs n for the base-rank divisor too — a WRONG supplied
      // count would change ranks, so parity here proves the value is used
      val (r1, rj1) = jobsOf(Graph.pageRankInt(edges, nodes, iters = 2)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap)
      val (r2, rj2) = jobsOf(
        Graph.pageRankInt(edges, nodes, iters = 2, nNodes = Some(6L))
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap)
      assert(r1 == r2, s"nNodes must not change rank output: $r1 vs $r2")
      assert(rj2 == rj1,
        s"the node count must ride the ids job, leaving none to remove: $rj1 -> $rj2")
    }
  }

  test("checkpointInterval: fewer eager jobs at wider intervals, " +
      "bit-identical ranks and labels at every interval") {
    val (_, nodes, edges) = graph()
    // the interval applies to the distributed loops only (see the class doc)
    def withInterval[A](k: Int)(thunk: => A): A = {
      spark.conf.set("spark.graft.graph.checkpointInterval", k.toString)
      try distributed(thunk)
      finally spark.conf.unset("spark.graft.graph.checkpointInterval")
    }
    def ranks() = Graph.pageRankInt(edges, nodes, iters = 5, nNodes = Some(6L))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def labels() = Graph.labelPropagate(edges, nodes, iters = 4, nNodes = Some(6L))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val (r1, rj1) = jobsOf(withInterval(1)(ranks()))
    val (r2, rj2) = jobsOf(withInterval(2)(ranks()))
    val (r5, _) = jobsOf(withInterval(5)(ranks()))
    assert(r1 == r2 && r2 == r5,
      s"checkpoint interval must be result-neutral: $r1 / $r2 / $r5")
    assert(rj2 < rj1,
      s"interval 2 must launch fewer jobs than per-iteration boundaries: " +
        s"$rj1 -> $rj2")
    val (l1, lj1) = jobsOf(withInterval(1)(labels()))
    val (l2, lj2) = jobsOf(withInterval(2)(labels()))
    val (l4, _) = jobsOf(withInterval(4)(labels()))
    assert(l1 == l2 && l2 == l4,
      s"LPA checkpoint interval must be result-neutral: $l1 / $l2 / $l4")
    assert(lj2 < lj1,
      s"interval 2 must launch fewer LPA jobs: $lj1 -> $lj2")
  }

  test("three regions: local at or below nodes + edges, broadcast at or " +
      "below nodes, sort-merge above, identical results") {
    val (_, nodes, edges) = graph() // 6 nodes + 10 directed edges
    def joins(plans: Seq[String]) = (bhj(plans), plans.count(_.contains("SortMergeJoin")))
    def ranks() = Graph.pageRankInt(edges, nodes, iters = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def labels() = Graph.labelPropagate(edges, nodes, iters = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    for ((name, run) <- Seq[(String, () => Map[Long, Long])](
        "pageRankInt" -> (() => ranks()), "labelPropagate" -> (() => labels()))) {
      val (local, localPlans) = withConf(limit = 16L)(plansOf(run()))
      val (bcast, bcastPlans) = withConf(limit = 15L)(plansOf(run()))
      val (smj, smjPlans) = withConf(limit = 5L)(plansOf(run()))
      assert(joins(localPlans) == ((0, 0)),
        s"$name at 16 = nodes + edges: one task, no join; got ${joins(localPlans)}")
      assert(bhj(bcastPlans) > 0, s"$name at 15 >= 6 nodes: broadcast joins")
      assert(bhj(smjPlans) == 0 && joins(smjPlans)._2 > 0,
        s"$name at 5 < 6 nodes: sort-merge joins; got ${joins(smjPlans)}")
      assert(local == bcast && bcast == smj,
        s"$name: the regions must agree: $local / $bcast / $smj")
    }
  }
}
