package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.obs.Recorder

/** Graph centrality signals for corpus curation. The motivating use:
  * PageRank over the near-dup SIMILARITY graph — boilerplate and
  * template families form dense clusters, so their members accumulate
  * rank; the top of the ranking is a boilerplate-hub shortlist the
  * way PageRank's top is an authority shortlist on the web graph
  * (Page et al. 1999).
  *
  * The iteration is ALL-INTEGER: ranks live at a fixed scale S,
  * per-edge contributions are floor divisions, damping is a rational
  * `dampNum/dampDen` applied as integer multiply-then-divide, and the
  * per-node combine is an exact integer SUM — associative, so Spark's
  * map-side partial aggregation applies and the result is independent
  * of partitioning, parallelism, and float summation order. The p51
  * oracle replays every iteration bit-for-bit (fixed iteration count →
  * the SQL unrolls one CTE per step, generated by the same loop). */
object Graph {

  /** The limit `spark.graft.broadcastNodeLimit` (default 10M ≈ 160 MB
    * serialized node table) splits the iterative analytics three ways
    * ([[GraphLocal.path]]):
    *
    *  - nodes + directed edges at or below it, integral ids: "local" —
    *    the whole graph runs in one task ([[GraphLocal]]), no per-
    *    iteration jobs at all;
    *  - nodes at or below it: "broadcast" — the node-sized rank/label
    *    table is broadcast into the per-iteration edge join, so a
    *    mega-family hub vertex CANNOT concentrate edge mass in one
    *    partition (measured on the skew×scale corpus: the p51 rank-
    *    contribution sort-merge join carried the hub's partition in one
    *    task at a 4.9–8.9× max/median ratio; broadcast removes the stage
    *    entirely);
    *  - above it — node tables too big for executor memory, the true
    *    100-TB regime — "sort-merge", mitigated by AQE skew-join
    *    splitting, validated on the same corpus (ratio 4.9×→2.4×; see
    *    docs/PIPELINE.md scale knobs). */
  private def pathOf(nodes: DataFrame, edges: DataFrame, n: Long, m: Long): String =
    GraphLocal.path(nodes.sparkSession, n, m, GraphLocal.integral(
      nodes.schema("id").dataType, edges.schema("src").dataType,
      edges.schema("dst").dataType))

  /** Broadcast decision of [[triangleCounts]], which has no local path. */
  private def broadcastNodes(df: DataFrame, n: Long): Boolean =
    n <= GraphLocal.limit(df.sparkSession)

  /** Materialize the running rank/label table every k-th iteration
    * (`spark.graft.graph.checkpointInterval`, default 2) instead of
    * every iteration. The iterative analytics read their running table
    * exactly ONCE per iteration (the join-back goes to the invariant
    * [[materializedIds]] table), so an unmaterialized iteration is
    * never recomputed — skipping boundaries trades bounded extra plan
    * depth (≤ k iterations) for k× fewer eager jobs and k× fewer
    * between-job driver planning rounds, which at sf0.1 is ~40% of the
    * iterative family's wall (BASELINE.md "Round-18: optimization round
    * 2"). Set 1 to restore a boundary per iteration (e.g. on clusters
    * where a broadcast build must never execute a full unmaterialized
    * iteration inside the broadcastTimeout window). */
  private def ckptInterval(df: DataFrame): Int = {
    val k = df.sparkSession.conf
      .get("spark.graft.graph.checkpointInterval", "2").toInt
    require(k >= 1, s"spark.graft.graph.checkpointInterval must be >= 1, got $k")
    k
  }

  /** The invariant node-id set, materialized ONCE per analytic: every
    * iteration's join-back (which must keep zero-contribution /
    * no-in-edge nodes) reads this table instead of either re-scanning
    * the node source (round-17 lesson) or re-reading the running
    * rank/label table — the latter is what forced a materialization
    * every iteration (a twice-read unmaterialized iteration would
    * execute twice). The same job counts the ids: |nodes| for callers
    * that do not pass it, with no count job of its own. */
  private def materializedIds(nodes: DataFrame): (DataFrame, Long) = {
    val (counted, n) = GraphLocal.counting(nodes.select(col("id")))
    val ids = graft.Stage.materialize(counted)
    (ids, n.value)
  }

  /** Integer-exact PageRank.
    *
    *   r_0(v)    = S div N
    *   c_t(u→v)  = r_t(u) div outdeg(u)
    *   r_{t+1}(v)= (S·(D−d)) div (D·N)  +  (d · Σ_in c_t) div D
    *
    * with S = `scale`, d/D = `dampNum`/`dampDen`, N = |nodes|. All
    * `div` are integral; all sums are exact. Dangling mass is dropped
    * (the standard simplified formulation — in a SYMMETRIC similarity
    * graph only isolated nodes dangle, and they hold the base rank).
    *
    * A graph whose nodes + directed edges fit `spark.graft
    * .broadcastNodeLimit` (integral ids) runs every iteration in one task
    * ([[GraphLocal]]) and comes back materialized. Above that, one
    * shuffle per iteration (contributions groupBy dst) plus the rank
    * join; the rank table is node-sized and re-materialized every k-th
    * step ([[ckptInterval]]) so the plan depth stays bounded. The
    * per-source contribution `rank div outdeg` is computed on the
    * NODE-sized (rank ⋈ outdeg) table before touching the edges, so each
    * iteration pays one edge-sized join, not two (round 9). On this
    * distributed path the final iteration stays lazy: EVERY action on
    * the returned frame recomputes the iterations since the last
    * boundary — up to k of them with `checkpointInterval` k, so k ≥ 2
    * repeats the k−1 iterations a per-iteration boundary would have
    * kept. Cache or materialize the result when it is read more than
    * once.
    *
    * `edges` must be directed (symmetrize an undirected pair list
    * first); `nodes` one `id` per vertex. Returns (id, rank) with rank at
    * scale S. ANSI overflow fails loudly on both paths. */
  def pageRankInt(
      edges: DataFrame, // (src, dst)
      nodes: DataFrame, // (id)
      iters: Int,
      scale: Long = 1000000000000L,
      dampNum: Long = 85L,
      dampDen: Long = 100L,
      nNodes: Option[Long] = None): DataFrame =
    Recorder.describing(nodes.sparkSession)(
      rank(edges, nodes, iters, nNodes, None, scale, dampNum, dampDen))

  /** [[pageRankInt]] with the directed edge count when the caller
    * already has it (`nEdges`); otherwise the out-degree job counts it.
    * Labels its jobs; callers restore the description
    * ([[Recorder.describing]]). */
  private def rank(edges: DataFrame, nodes: DataFrame, iters: Int,
      nNodes: Option[Long], nEdges: Option[Long], scale: Long = 1000000000000L,
      dampNum: Long = 85L, dampDen: Long = 100L): DataFrame = {
    require(iters >= 0, s"iters must be >= 0, got $iters")
    require(dampNum >= 0 && dampNum <= dampDen,
      s"damping $dampNum/$dampDen must lie in [0, 1]")
    val spark = nodes.sparkSession
    Recorder.describe(spark, "graph.pageRankInt")
    // the invariant id set, materialized once: the per-iteration
    // join-back reads it, so the running rank table is read exactly
    // ONCE per iteration (the contribution join) and iterations need
    // not materialize individually to avoid recomputation
    // and counted by the same job: |nodes| is the base-rank divisor AND
    // picks the path (a caller's nNodes takes precedence)
    val (ids, idCount) = materializedIds(nodes)
    val n = nNodes.getOrElse(idCount)
    require(n > 0, "pageRankInt needs at least one node")
    val base = (scale * (dampDen - dampNum)) / (dampDen * n)
    def outDegrees(e: DataFrame) = e.groupBy("src").agg(count(lit(1)).as("_outdeg"))
      .transform(graft.Stage.materialize) // read every iteration
    // an unknown edge count rides the out-degree job the distributed
    // loop reads anyway
    val (m, counted) = nEdges match {
      case Some(m) => (m, None)
      case None =>
        val (e, rows) = GraphLocal.counting(edges)
        val out = outDegrees(e)
        (rows.value, Some(out))
    }
    val path = pathOf(nodes, edges, n, m)
    Recorder.describe(spark, s"graph.pageRankInt $path n=$n m=$m")
    if (path == "local")
      GraphLocal.pageRank(ids, edges, iters, n, scale, base, dampNum, dampDen)
    else {
      val bcast = path == "broadcast"
      val every = ckptInterval(nodes)
      val out = counted.getOrElse(outDegrees(edges))
      var r = ids.select(col("id"), lit(scale / n).as("rank"))
      for (i <- 1 to iters) {
        val perSrc0 = r.withColumnRenamed("id", "src")
          .join(out, "src")
          .select(col("src"), expr("rank div _outdeg").as("_c"))
        // node-sized and n is known: broadcast under the limit so the
        // edge join never shuffles by src (hub-vertex skew immunity)
        val perSrc = if (bcast) broadcast(perSrc0) else perSrc0
        val contrib = edges
          .join(perSrc, "src")
          .select(col("dst").as("id"), col("_c"))
        val sums = contrib.groupBy("id").agg(sum(col("_c")).as("_s"))
        // join back onto the materialized invariant id table — keeps
        // zero-in-contribution nodes without re-scanning the node source
        // (round 17) and without re-reading the running table (round 18)
        r = ids
          .join(sums, Seq("id"), "left_outer")
          .select(col("id"),
            (lit(base) + expr(s"($dampNum * coalesce(_s, 0)) div $dampDen"))
              .as("rank"))
        // stage boundary every k-th iteration only (see ckptInterval);
        // the final iteration stays lazy — its one consumer executes it
        if (i % every == 0 && i < iters) r = r.transform(graft.Stage.materialize)
      }
      r
    }
  }

  /** Per-node triangle counts + local clustering coefficient over an
    * undirected graph given as DISTINCT unordered pairs (`id_a`, `id_b`)
    * with `id_a != id_b` and each edge listed once (the
    * [[Dedup.minhashCandidates]] contract). In a near-dup candidate
    * graph, high clustering marks genuine duplicate FAMILIES (every
    * member pairs with every other) while low clustering at high degree
    * marks hash-collision hubs — a signal the pair list alone can't give.
    *
    * Degree-ordered orientation (Suri & Vassilvitskii 2011; Cohen 2009):
    * every edge points from the (degree, id)-smaller endpoint to the
    * larger, wedges form only at each triangle's lowest-order apex, and
    * the closing join finds each triangle EXACTLY once. Out-degrees under
    * this orientation are O(sqrt m), so wedge volume is O(m^1.5) —
    * independent of max degree, the property that survives a hub-heavy
    * 100 TB graph. Plan: one degree aggregation, two edge joins (wedge +
    * closing, both shuffles on node / node-pair keys), one explode-count.
    * All integers; the coefficient 2T/(d(d-1)) is one IEEE division.
    *
    * Returns (id, degree, n_triangles, clustering) for every node in
    * `nodes`, isolated nodes included at zero. */
  def triangleCounts(pairs: DataFrame, nodes: DataFrame,
      nNodes: Option[Long] = None): DataFrame = {
    val ends = pairs.select(col("id_a").as("id"))
      .unionAll(pairs.select(col("id_b").as("id")))
    val deg = ends.groupBy("id").agg(count(lit(1)).as("deg"))
      .transform(graft.Stage.materialize) // orientation + final join read it
    // deg is node-sized: broadcast it into the edge-sized orientation
    // joins under the same limit as pageRankInt — a hub vertex would
    // otherwise concentrate its edges in one sort-merge partition twice.
    // n is ONLY for this decision, so a caller-supplied count skips the
    // count job entirely
    val bcast = broadcastNodes(nodes, nNodes.getOrElse(nodes.count()))
    def degAs(a: String, d: String) = {
      val t = deg.select(col("id").as(a), col("deg").as(d))
      if (bcast) broadcast(t) else t
    }
    val oriented = pairs
      .join(degAs("id_a", "_da"), "id_a")
      .join(degAs("id_b", "_db"), "id_b")
      .select(
        when(struct(col("_da"), col("id_a")) < struct(col("_db"), col("id_b")),
          struct(col("id_a").as("u"), col("id_b").as("v"), col("_db").as("dv")))
          .otherwise(
            struct(col("id_b").as("u"), col("id_a").as("v"), col("_da").as("dv")))
          .as("_e"))
      .select(col("_e.u").as("u"), col("_e.v").as("v"), col("_e.dv").as("dv"))
      .transform(graft.Stage.materialize) // both wedge legs + closing join
    val wedges = oriented.as("e1")
      .join(oriented.as("e2"),
        col("e1.u") === col("e2.u") &&
          struct(col("e1.dv"), col("e1.v")) < struct(col("e2.dv"), col("e2.v")))
      .select(col("e1.u").as("a"), col("e1.v").as("b"), col("e2.v").as("c"))
    val tri = wedges
      .join(oriented.select(col("u").as("b"), col("v").as("c")), Seq("b", "c"))
    val perNode = tri
      .select(explode(array(col("a"), col("b"), col("c"))).as("id"))
      .groupBy("id").agg(count(lit(1)).as("_t"))
    nodes.select(col("id"))
      .join(deg, Seq("id"), "left_outer")
      .join(perNode, Seq("id"), "left_outer")
      .select(col("id"),
        coalesce(col("deg"), lit(0L)).as("degree"),
        coalesce(col("_t"), lit(0L)).as("n_triangles"),
        when(coalesce(col("deg"), lit(0L)) >= 2,
          lit(2.0) * coalesce(col("_t"), lit(0L)).cast("double") /
            (col("deg") * (col("deg") - 1)).cast("double"))
          .otherwise(lit(0.0)).as("clustering"))
  }

  /** Triangle/clustering profile of a corpus's MinHash candidate graph:
    * [[triangleCounts]] over [[Dedup.minhashCandidates]] pairs. Duplicate
    * families close their triangles (clustering → 1); collision hubs
    * don't. */
  def similarityTriangles(docs: DataFrame, k: Int = 64, bands: Int = 16,
      idCol: String = "doc_id", textCol: String = "text",
      nDocs: Option[Long] = None): DataFrame = {
    val pairs = Dedup.minhashCandidates(docs, k = k, bands = bands,
      textCol = textCol, idCol = idCol)
    triangleCounts(pairs, docs.select(col(idCol).as("id")), nDocs)
      .withColumnRenamed("id", idCol)
  }

  /** Synchronous label propagation (Raghavan et al. 2007), made fully
    * deterministic: labels start as node ids; each step every node takes
    * the label with the HIGHEST COUNT among its in-neighbors, ties broken
    * by MINIMUM label; nodes with no in-edges keep their own id. A fixed
    * iteration count plus deterministic tie-breaks means the run is
    * independent of partitioning and replayable as unrolled SQL (the p55
    * oracle), unlike the usual randomized-order LPA. Communities in a
    * near-dup candidate graph are TEMPLATE FAMILIES — coarser than
    * connected components when hub edges bridge families, because a
    * bridge's single vote loses to the family majority.
    *
    * Paths as in [[pageRankInt]]: in one task ([[GraphLocal]]) when
    * nodes + directed edges fit `spark.graft.broadcastNodeLimit`, else
    * per iteration one shuffle for the (node, label) neighbor vote
    * count (map-side combinable), ONE winner aggregation — the
    * (max count, min label) pick is a single `min(struct(-count,
    * label))` (lexicographic struct order makes the two-key argmin one
    * pass; works for any orderable label type and saved a second agg +
    * join per iteration, round 9) — and one node-sized join. All
    * label-table-sized except the edge join. O(iters) passes over the
    * edges, same scale family as [[pageRankInt]], and the same lazy
    * final iteration: every action on a distributed result recomputes
    * up to `checkpointInterval` iterations.
    *
    * `edges` directed (symmetrize an undirected pair list first);
    * returns (id, label). */
  def labelPropagate(
      edges: DataFrame, // (src, dst)
      nodes: DataFrame, // (id)
      iters: Int,
      nNodes: Option[Long] = None): DataFrame =
    Recorder.describing(nodes.sparkSession) {
      require(iters >= 0, s"iters must be >= 0, got $iters")
      val spark = nodes.sparkSession
      Recorder.describe(spark, "graph.labelPropagate")
      // read every iteration; the same job counts the edges
      val (counted, rows) = GraphLocal.counting(edges)
      val e = counted.transform(graft.Stage.materialize)
      val m = rows.value
      // invariant id set materialized once — the join-back target, so the
      // running label table is read exactly once per iteration (the vote
      // join) and need not materialize every round (see pageRankInt); n,
      // counted by the same job, only picks the path
      val (ids, idCount) = materializedIds(nodes)
      val n = nNodes.getOrElse(idCount)
      val path = pathOf(nodes, edges, n, m)
      Recorder.describe(spark, s"graph.labelPropagate $path n=$n m=$m")
      if (path == "local") GraphLocal.labelPropagate(ids, e, iters)
      else {
        val bcast = path == "broadcast"
        val every = ckptInterval(nodes)
        var l = ids.select(col("id"), col("id").as("label"))
        for (i <- 1 to iters) {
          val lbl = l.withColumnRenamed("id", "src")
          // same hub-skew immunity as pageRankInt's contribution join
          val votes = e.join(if (bcast) broadcast(lbl) else lbl, "src")
            .groupBy(col("dst").as("id"), col("label"))
            .agg(count(lit(1)).as("_c"))
          // min over (-count, label) = (max count, min label) in one agg
          val picked = votes.groupBy("id")
            .agg(min(struct((-col("_c")).as("_nc"), col("label").as("_lb"))).as("_b"))
            .select(col("id"), col("_b._lb").as("_l"))
          // join back onto the materialized invariant id table (node-set
          // invariant of the loop, same as pageRankInt)
          l = ids
            .join(picked, Seq("id"), "left_outer")
            .select(col("id"), coalesce(col("_l"), col("id")).as("label"))
          if (i % every == 0 && i < iters) l = l.transform(graft.Stage.materialize)
        }
        l
      }
    }

  /** Symmetrize an undirected (id_a, id_b) pair list into the directed
    * (src, dst) edge table [[pageRankInt]] / [[labelPropagate]] take. */
  def symmetrize(pairs: DataFrame): DataFrame =
    pairs.select(col("id_a").as("src"), col("id_b").as("dst"))
      .unionAll(pairs.select(col("id_b").as("src"), col("id_a").as("dst")))

  /** [[labelPropagate]] over an undirected pair list — the entry point
    * for a persisted candidate tap ([[Dedup.candidatesTap]]): pair the
    * corpus once, run every analytic off the edge table. Returns
    * (id, community). */
  def communitiesFromPairs(pairs: DataFrame, nodes: DataFrame,
      iters: Int = 4, nNodes: Option[Long] = None): DataFrame =
    labelPropagate(symmetrize(pairs), nodes, iters, nNodes)
      .select(col("id"), col("label").as("community"))

  /** [[pageRankInt]] over an undirected pair list (persisted-tap entry
    * point, like [[communitiesFromPairs]]). Returns (id, rank). */
  def rankFromPairs(pairs: DataFrame, nodes: DataFrame,
      iters: Int = 5, nNodes: Option[Long] = None): DataFrame =
    Recorder.describing(nodes.sparkSession) {
      Recorder.describe(nodes.sparkSession, "graph.pageRankInt")
      // the materialization job counts the directed edges for the path
      val (counted, rows) = GraphLocal.counting(symmetrize(pairs))
      val edges = counted.transform(graft.Stage.materialize)
      rank(edges, nodes, iters, nNodes, Some(rows.value))
    }

  /** Template-family communities of a corpus: [[labelPropagate]] over the
    * symmetrized MinHash candidate graph. Returns (idCol, community). */
  def similarityCommunities(docs: DataFrame, k: Int = 64, bands: Int = 16,
      iters: Int = 4, idCol: String = "doc_id",
      textCol: String = "text", nDocs: Option[Long] = None): DataFrame =
    communitiesFromPairs(
      Dedup.minhashCandidates(docs, k = k, bands = bands,
        textCol = textCol, idCol = idCol),
      docs.select(col(idCol).as("id")), iters, nDocs)
      .withColumnRenamed("id", idCol)

  /** Boilerplate-hub centrality — PageRank over the symmetrized MinHash
    * candidate graph of a corpus. High-rank docs sit in dense near-dup
    * neighborhoods — template families, mirrored pages, spam farms —
    * the shortlist a curation pass reviews or down-weights. */
  def similarityRank(docs: DataFrame, k: Int = 64, bands: Int = 16,
      iters: Int = 5, idCol: String = "doc_id",
      textCol: String = "text", nDocs: Option[Long] = None): DataFrame =
    rankFromPairs(
      Dedup.minhashCandidates(docs, k = k, bands = bands,
        textCol = textCol, idCol = idCol),
      docs.select(col(idCol).as("id")), iters, nDocs)
      .withColumnRenamed("id", idCol)
}
