package graft

import scala.util.Random

import org.apache.spark.sql.DataFrame

import graft.obs.Recorder
import graft.pipeline.{Dedup, Graph}

/** The in-task path of the iterative graph analytics against their
  * distributed loops: the same row multiset, column types and overflow
  * failures on seeded random graphs with a hub, isolated nodes,
  * self-loops, duplicate edges, duplicate and null ids, ids outside the
  * node table, Int and Long ids, and a depth-50 chain for components.
  * Each path is forced through `spark.graft.broadcastNodeLimit` around
  * the case's row count (nodes + directed edges) and read back off the
  * job descriptions the analytics set. */
class GraphLocalSpec extends SparkTestBase {
  import spark.implicits._

  private val Limit = "spark.graft.broadcastNodeLimit"

  /** Labels of the jobs `thunk` starts. */
  private def described[A](thunk: => A): (A, Seq[String]) =
    Recorder.record(spark)(thunk) match { case (a, rec) => (a, rec.jobs.map(_.label)) }

  private def withLimit[A](limit: Long)(thunk: => A): A = {
    spark.conf.set(Limit, limit.toString)
    try thunk finally spark.conf.unset(Limit)
  }

  private def multiset(df: DataFrame): Map[Seq[Any], Int] =
    df.collect().toSeq.map(_.toSeq).groupBy(identity).view.mapValues(_.size).toMap

  /** Runs `analytic` at `limit` = rows (must go local) and rows - 1
    * (must not), asserting the labels, the caller's description coming
    * back, and identical rows and column types. */
  private def bothPaths(name: String, rows: Long, label: String)(
      analytic: => DataFrame): Unit = {
    def run(limit: Long, path: String) = {
      spark.sparkContext.setJobDescription("caller")
      try {
        val expected = s"graft $label $path"
        val (rowsAndTypes, labels) = described(withLimit(limit) {
          val df = analytic
          (multiset(df), df.schema.map(_.dataType))
        })
        assert(spark.sparkContext.getLocalProperty("spark.job.description") == "caller",
          s"$name: the caller's job description must come back")
        assert(labels.exists(_.startsWith(expected)),
          s"$name at limit $limit: expected a '$expected' job; got ${labels.distinct}")
        rowsAndTypes
      } finally spark.sparkContext.setJobDescription(null)
    }
    val (local, localTypes) = run(rows, "local")
    val (dist, distTypes) = run(rows - 1, if (label.startsWith("dedup")) "distributed" else "broadcast")
    assert(localTypes == distTypes, s"$name: column types $localTypes vs $distTypes")
    assert(local == dist, s"$name: local vs distributed rows differ:\n" +
      s"local only: ${local.toSet -- dist.toSet}\ndistributed only: ${dist.toSet -- local.toSet}")
  }

  /** A seeded directed graph: nodes 0..n-1 (some isolated, some only in
    * the node table), a hub at 0, random edges, self-loops, duplicate
    * edges, duplicate node ids, a null node id, edges to ids outside the
    * node table and edges with null endpoints. */
  private def randomGraph(seed: Long): (Seq[Option[Long]], Seq[(Option[Long], Option[Long])]) = {
    val rnd = new Random(seed)
    val n = 30 + rnd.nextInt(30)
    val live = n - 5 // the top five ids are isolated
    val nodes = (0 until n).map(i => Some(i.toLong)) ++
      Seq.fill(3)(Some(rnd.nextInt(n).toLong)) :+ None
    def some(i: Int) = Some(i.toLong)
    val hub = (1 until live by 2).flatMap(i => Seq((some(0), some(i)), (some(i), some(0))))
    val random = Seq.fill(2 * live)((some(rnd.nextInt(live)), some(rnd.nextInt(live))))
    val loops = Seq.fill(3) { val i = rnd.nextInt(live); (some(i), some(i)) }
    val dups = random.take(5)
    val outside = Seq((some(1), some(n + 7)), (some(n + 8), some(2)))
    val nulls = Seq((None, some(3)), (some(4), None), (None, None))
    (nodes, hub ++ random ++ loops ++ dups ++ outside ++ nulls)
  }

  private def frames(seed: Long, intIds: Boolean): (DataFrame, DataFrame, Long) = {
    val (nodes, edges) = randomGraph(seed)
    val (nodeDf, edgeDf) =
      if (intIds)
        (nodes.map(_.map(_.toInt)).toDF("id"),
          edges.map { case (s, d) => (s.map(_.toInt), d.map(_.toInt)) }.toDF("src", "dst"))
      else (nodes.toDF("id"), edges.toDF("src", "dst"))
    (nodeDf, edgeDf, (nodes.size + edges.size).toLong)
  }

  for (seed <- Seq(11L, 12L); intIds <- Seq(false, true)) {
    val kind = if (intIds) "Int" else "Long"
    test(s"pageRankInt: local == distributed (seed $seed, $kind ids)") {
      val (nodes, edges, rows) = frames(seed, intIds)
      bothPaths(s"pageRank seed $seed", rows, "graph.pageRankInt")(
        Graph.pageRankInt(edges, nodes, iters = 5))
      // no iteration: the distributed path starts no labelled job after
      // its choice, so only the rows are compared
      sameOutcome(s"pageRank seed $seed iters 0", rows)(
        Graph.pageRankInt(edges, nodes, iters = 0))
    }

    test(s"labelPropagate: local == distributed (seed $seed, $kind ids)") {
      val (nodes, edges, rows) = frames(seed, intIds)
      bothPaths(s"LPA seed $seed", rows, "graph.labelPropagate")(
        Graph.labelPropagate(edges, nodes, iters = 4))
    }

    test(s"components: local == distributed (seed $seed, $kind ids)") {
      val (_, edges, _) = frames(seed, intIds)
      val pairs = edges.toDF("id_a", "id_b")
      // components' rows: at most 2m nodes + 2m directed edges
      val rows = 4 * pairs.count()
      bothPaths(s"components seed $seed", rows, "dedup.components")(
        Dedup.components(pairs))
    }
  }

  test("rankFromPairs and communitiesFromPairs: local == distributed") {
    val pairs = Seq((1L, 2L), (1L, 3L), (2L, 3L), (4L, 5L), (2L, 6L), (3L, 3L), (1L, 2L))
      .toDF("id_a", "id_b")
    val nodes = (1L to 8L).toDF("id")
    val rows = 8L + 2 * 7
    bothPaths("rankFromPairs", rows, "graph.pageRankInt")(
      Graph.rankFromPairs(pairs, nodes, iters = 3))
    bothPaths("communitiesFromPairs", rows, "graph.labelPropagate")(
      Graph.communitiesFromPairs(pairs, nodes, iters = 3))
  }

  test("components: a depth-50 chain with null endpoints, converged and " +
      "through the star fallback") {
    val chain = (1 until 50).map(i => (Option(i.toLong), Option(i + 1L)))
    val extra: Seq[(Option[Long], Option[Long])] = Seq((Some(60L), None),
      (None, Some(70L)), (Some(70L), Some(71L)), (Some(80L), Some(80L)), (None, None))
    for (ids <- Seq(chain, chain ++ extra); maxIter <- Seq(5, 10, 60)) {
      val pairs = ids.toDF("id_a", "id_b")
      bothPaths(s"chain of ${ids.size} pairs, maxIter $maxIter", 4L * ids.size,
        "dedup.components")(Dedup.components(pairs, maxIter))
    }
  }

  test("components: non-integral ids stay on the distributed loop") {
    val pairs = Seq(("a", "b"), ("b", "c"), ("x", "y")).toDF("id_a", "id_b")
    val distributed = "graft dedup.components distributed"
    val (rows, labels) = described(Dedup.components(pairs).collect())
    assert(labels.exists(_.startsWith(distributed)),
      s"string ids must not run locally: ${labels.distinct}")
    assert(rows.map(r => r.getString(0) -> r.getString(1)).toMap ==
      Map("a" -> "a", "b" -> "a", "c" -> "a", "x" -> "x", "y" -> "x"))
  }

  /** Both paths overflow, or both return the same rows; returns that
    * outcome. */
  private def sameOutcome(name: String, rows: Long)(
      analytic: => DataFrame): Either[String, Map[Seq[Any], Int]] = {
    def outcome(limit: Long): Either[String, Map[Seq[Any], Int]] =
      try Right(withLimit(limit)(multiset(analytic)))
      catch {
        case e: Exception =>
          val chain = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
          Left(if (chain.exists(t => String.valueOf(t.getMessage).contains("overflow")))
            "overflow" else s"other: $e")
      }
    val local = outcome(rows)
    val dist = outcome(rows - 1)
    assert(local == dist, s"$name: local $local vs distributed $dist")
    local
  }

  test("pageRankInt: ANSI overflow fails on both paths; wraps alike with ANSI off") {
    // scale 4e18 over 2 nodes: each holds 2e18, and 85 * 2e18 overflows
    val nodes = Seq(0L, 1L).toDF("id")
    val edges = Seq((0L, 1L), (1L, 0L)).toDF("src", "dst")
    def run() = Graph.pageRankInt(edges, nodes, iters = 2, scale = 4000000000000000000L)
    for (limit <- Seq(4L, 3L)) {
      val e = intercept[Exception](withLimit(limit)(run().collect()))
      val chain = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).toSeq
      assert(chain.exists(t => String.valueOf(t.getMessage).contains("overflow")),
        s"limit $limit: expected an overflow, got $e")
    }
    // overflow only in a group the join drops, fed twice by a duplicated
    // node id: Spark sums a non-node dst's group (and fails) but filters
    // a null dst before the sum (and does not)
    val dup = Seq(0L, 0L).toDF("id")
    def intoDst(dst: Option[Long]) = sameOutcome(s"overflow into dst $dst", 3L)(
      Graph.pageRankInt(Seq((Option(0L), dst)).toDF("src", "dst"), dup, iters = 1,
        scale = 5000000000000000000L, nNodes = Some(1L)))
    assert(intoDst(Some(7L)) == Left("overflow"))
    assert(intoDst(None).isRight)
    spark.conf.set("spark.sql.ansi.enabled", "false")
    try sameOutcome("ANSI off", 4L)(run())
    finally spark.conf.unset("spark.sql.ansi.enabled")
  }

  test("local kernels on hand-checked graphs") {
    // star 1 <- {2, 3, 4} plus 5 <-> 6: LPA hands 1 the min label of a
    // three-way tie; components of a triangle and a pair
    val edges = Seq((2L, 1L), (3L, 1L), (4L, 1L), (5L, 6L), (6L, 5L)).toDF("src", "dst")
    val nodes = (1L to 7L).toDF("id")
    val labels = Graph.labelPropagate(edges, nodes, iters = 1).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels == Map(1L -> 2L, 2L -> 2L, 3L -> 3L, 4L -> 4L, 5L -> 6L, 6L -> 5L, 7L -> 7L))
    val comp = Dedup.components(Seq((3L, 2L), (2L, 1L), (9L, 8L)).toDF("id_a", "id_b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comp == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 8L -> 8L, 9L -> 8L))
    val ranks = Graph.pageRankInt(Seq((1L, 2L)).toDF("src", "dst"), Seq(1L, 2L).toDF("id"),
      iters = 1, scale = 1000L).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // base = 1000 * 15 div 200 = 75; node 2 gets 75 + 85 * 500 div 100
    assert(ranks == Map(1L -> 75L, 2L -> 500L))
  }
}
