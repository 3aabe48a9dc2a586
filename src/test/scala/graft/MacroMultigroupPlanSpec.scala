package graft

import graft.dsl._
import graft.logic.Vars
import graft.operators.MultiGroup
import graft.ops.Ops
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

class MacroMultigroupPlanSpec extends SparkTestBase {

  test("predicate macro expansion: avg (pred_macro_test.clj)") {
    assertProduces(
      query("?gender", "?avg-age")(
        mem(Playground.age)(Seq("?p", "?age"): _*),
        mem(Playground.gender)(Seq("?p", "?gender"): _*),
        avgMacro("?age") :> "?avg-age"),
      Seq(Seq("f", 89.0 / 3), Seq("m", 157.0 / 5)))
  }

  test("macro hygiene: internal temp var never collides with outer var (pred_macro_test.clj:22-43)") {
    // mac1's internal ?t (fresh via Vars.gen) must not unify with the
    // QUERY's own ?t; macro output 0 discarded via wildcard
    val mac1: PredMacro = (in, out) => {
      val t = Vars.gen()
      Seq(Ops.plus(in.head, 1L) :> t,
        Ops.times(t, 2L) :> out(0),
        Ops.plus(in.head, t) :> out(1))
    }
    val num1 = Seq(Seq(0L), Seq(1L), Seq(2L), Seq(3L))
    assertProduces(
      query("?t", "?o")(
        mem(num1)(Seq("?n"): _*),
        mac1("?n") :> ("_", "?o"),
        Ops.minus("?n", 1L) :> "?t"),
      Seq(Seq(-1L, 1L), Seq(0L, 3L), Seq(1L, 5L), Seq(2L, 7L)))
    // mac3-style: same var as macro input AND output → implicit equality
    val mac3: PredMacro = (in, out) => Seq(Ops.plus(in.head, in.head) :> out.head)
    assertProduces(
      query("?n")(mem(num1)(Seq("?n"): _*), mac3("?n") :> "?n"),
      Seq(Seq(0L)))
  }

  test("predicate macro composition: variance via moments") {
    val vals = Seq(Seq("k", 2.0), Seq("k", 4.0), Seq("k", 4.0), Seq("k", 4.0),
      Seq("k", 5.0), Seq("k", 5.0), Seq("k", 7.0), Seq("k", 9.0))
    assertProduces(
      query("?k", "?var")(
        mem(vals)(Seq("?k", "?x"): _*),
        varianceMacro("?x") :> "?var"),
      Seq(Seq("k", 4.0)))
  }

  test("multigroup: one multibuffer over two cogrouped inputs (MultiGroupBy.java)") {
    val l = memDF(spark, Seq(Seq("a", 1L), Seq("a", 2L), Seq("b", 3L))).toDF("k", "x")
    val r = memDF(spark, Seq(Seq("a", 10L), Seq("c", 30L))).toDF("k", "y")
    val out = MultiGroup.multigroup(Seq(l, r), Seq("k"),
      Seq("n_left", "n_right", "sum_all"), Seq(LongType, LongType, LongType)) {
      (_, groups) =>
        val Seq(ls, rs) = groups
        val sum = ls.map(_.getLong(0)).sum + rs.map(_.getLong(0)).sum
        Iterator.single(Seq(ls.size.toLong, rs.size.toLong, sum))
    }
    assert(out.collect().map(x => (x.getString(0), x.getLong(1), x.getLong(2), x.getLong(3))).toSet ==
      Set(("a", 2L, 1L, 13L), ("b", 1L, 0L, 3L), ("c", 0L, 1L, 30L)))
  }

  test("multigroup stays in the Dataset layer and streams huge groups") {
    import spark.implicits._
    val l = memDF(spark, Seq(Seq("a", 1L), Seq("a", 2L), Seq("b", 3L))).toDF("k", "x")
    val r = memDF(spark, Seq(Seq("a", 10L), Seq("c", 30L))).toDF("k", "y")
    val out = MultiGroup.multigroup(Seq(l, r), Seq("k"),
      Seq("n_left", "n_right"), Seq(LongType, LongType)) { (_, gs) =>
      Iterator.single(Seq(gs(0).size.toLong, gs(1).size.toLong))
    }
    val p = out.queryExecution.executedPlan.toString
    assert(!p.contains("ExistingRDD"), s"RDD boundary in plan:\n$p")
    assert(p.contains("FlatMapGroups") || p.contains("MapGroups"), p)
    // out-of-order access: read input 1 first, then input 0 — the cursor
    // must park input 0's rows, not lose them
    val swapped = MultiGroup.multigroupStream(Seq(l, r), Seq("k"),
      Seq("sum_right", "sum_left"), Seq(LongType, LongType)) { (_, its) =>
      val sumR = its(1).map(_.getLong(0)).sum
      val sumL = its(0).map(_.getLong(0)).sum
      Iterator.single(Seq(sumR, sumL))
    }
    assert(swapped.collect().map(x => (x.getString(0), x.getLong(1), x.getLong(2))).toSet ==
      Set(("a", 10L, 3L), ("b", 0L, 3L), ("c", 30L, 0L)))
    // memory-flat: a 2M-row single-key group counted via the lazy iterator
    // (the old collect_list realization materialized the whole group)
    val big = spark.range(2000000).select(lit("k").as("k"), $"id")
    val tiny = Seq(("k", 7L)).toDF("k", "z")
    val counted = MultiGroup.multigroupStream(Seq(big, tiny), Seq("k"),
      Seq("n_big", "n_tiny"), Seq(LongType, LongType)) { (_, its) =>
      Iterator.single(Seq(its(0).size.toLong, its(1).size.toLong))
    }
    assert(counted.collect().map(x => (x.getLong(1), x.getLong(2))).toSet ==
      Set((2000000L, 1L)))
  }

  // ------------------------------------------------ physical plan checks
  // The 100 TB questions, asserted against the actual plans.

  def plan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("eager aggregation: declared keys push the fact partial below the join") {
    val d = "/root/testdata/sf0.001"
    def q(withKeys: Boolean) = {
      def k(g: graft.logic.GenPred, vs: String*) = if (withKeys) uniqueOn(g, vs: _*) else g
      query("?c_mktsegment", "?revenue", "?n_items")(
        k(parquet(s"$d/customer.parquet")("?ck", "_", "_", "_", "?c_mktsegment"), "?ck"),
        k(parquet(s"$d/orders.parquet")("?ok", "?ck", "_", "_", "_", "_"), "?ok"),
        parquet(s"$d/lineitem.parquet")(
          "?ok", "_", "_", "_", "_", "?ep", "?disc", "_", "_", "_", "_"),
        Ops.cmap(cs => cs(0) * (lit(1.0) - cs(1)))("?ep", "?disc") :> "?rev",
        Ops.sumDec(28, 8)("?rev") :> "?revenue",
        Ops.count() :> "?n_items").toDF(spark)
    }
    val base = q(withKeys = false)
    val eager = q(withKeys = true)
    // bit-identical results (the q32 algebra)
    assert(base.collect().map(_.toSeq).toSet == eager.collect().map(_.toSeq).toSet)
    // plan shape: the eager plan aggregates lineitem BELOW a join — in the
    // top-down plan string an Aggregate must appear after the last Join
    def planStr(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.optimizedPlan.toString
    val ep = planStr(eager)
    val firstJoin = ep.indexOf("Join")
    assert(firstJoin >= 0, ep)
    assert(ep.indexOf("Aggregate", firstJoin) > firstJoin,
      s"no partial aggregate below the join:\n$ep")
    // the baseline plan keeps the single agg above its joins
    val bp = planStr(base)
    assert(bp.indexOf("Aggregate", bp.indexOf("Join")) < 0,
      s"unexpected eager shape without keys:\n$bp")
    // avg decomposes through two intermediates (sum + count); it rewrites
    // for INTEGRAL inputs (exact long partials), values identical
    def avgQ(withKeys: Boolean, priceVar: String) = {
      def k(g: graft.logic.GenPred, vs: String*) = if (withKeys) uniqueOn(g, vs: _*) else g
      query("?c_mktsegment", "?a")(
        k(parquet(s"$d/customer.parquet")(
          "?ck", "_", "_", "_", "?c_mktsegment"), "?ck"),
        parquet(s"$d/orders.parquet")("?ok", "?ck", "_", "?price", "_", "_"),
        Ops.avg(priceVar) :> "?a").toDF(spark)
    }
    val ap = planStr(avgQ(withKeys = true, "?ok"))
    assert(ap.indexOf("Aggregate", ap.indexOf("Join")) > 0, s"avg(long) did not rewrite:\n$ap")
    assert(avgQ(withKeys = true, "?ok").collect().map(_.toSeq).toSet ==
      avgQ(withKeys = false, "?ok").collect().map(_.toSeq).toSet)
    // ...but DECLINES for floating inputs: re-summed double partials
    // would drift in the last ULP vs the standard plan
    val apD = planStr(avgQ(withKeys = true, "?price"))
    assert(apD.indexOf("Aggregate", apD.indexOf("Join")) < 0,
      s"avg(double) must not rewrite:\n$apD")
    // variance has no decomposition: same keys must NOT rewrite
    val varQ = query("?c_mktsegment", "?var_price")(
      uniqueOn(parquet(s"$d/customer.parquet")(
        "?ck", "_", "_", "_", "?c_mktsegment"), "?ck"),
      parquet(s"$d/orders.parquet")("_", "?ck", "_", "?price", "_", "_"),
      Ops.variance("?price") :> "?var_price").toDF(spark)
    val vp = planStr(varQ)
    assert(vp.indexOf("Aggregate", vp.indexOf("Join")) < 0, vp)
    assert(varQ.collect().length == 5)
  }

  test("eager aggregation: a global count over no fact rows is 0, as without the rewrite") {
    // every fact row fails the ?v null filter; with no group key the
    // merge must still return the one row count returns over no input
    def q(withKeys: Boolean) = {
      val dim = mem(Seq(Seq(1L, "a")))("?k", "?name")
      query("?n", "?m")(
        if (withKeys) uniqueOn(dim, "?k") else dim,
        mem(Seq(Seq(1L, null), Seq(1L, null)))("?k", "?v"),
        Ops.countNotNull("?v") :> "?n",
        Ops.count() :> "?m")
    }
    val eager = q(withKeys = true).toDF(spark)
    val analyzed = eager.queryExecution.analyzed.toString
    assert(analyzed.indexOf("Aggregate", analyzed.indexOf("Join")) > 0, s"rewrite not taken:\n$analyzed")
    assertProducesInOrder(q(withKeys = false), Seq(Seq(0L, 0L)))
    assertProducesInOrder(eager, Seq(Seq(0L, 0L)))
  }

  test("filters and pruning reach the parquet scan") {
    val d = "/root/testdata/sf0.001"
    val df = query("?l_orderkey", "?q")(
      parquet(s"$d/lineitem.parquet")(
        "?l_orderkey", "_", "_", "_", "?q", "_", "_", "_", "_", "_", "_"),
      Ops.lt("?q", 5.0)).toDF(spark)
    val p = plan(df)
    assert(p.contains("PushedFilters: [IsNotNull"), s"no pushdown in:\n$p")
    assert(p.contains("ReadSchema: struct<l_orderkey:bigint,l_quantity:double>"),
      s"not pruned to 2 cols:\n$p")
  }

  test("dimension joins broadcast; fact side never shuffles for the join") {
    val d = "/root/testdata/sf0.001"
    val df = query("?n_name", "?cnt")(
      parquet(s"$d/customer.parquet")("_", "_", "?nk", "_", "_"),
      parquet(s"$d/nation.parquet")("?nk", "?n_name", "_"),
      Ops.count() :> "?cnt").toDF(spark)
    assert(plan(df).contains("BroadcastHashJoin"), plan(df))
  }

  test("multi-agg runs as one aggregation pass with map-side partials") {
    val d = "/root/testdata/sf0.001"
    val df = query("?f", "?c", "?s")(
      parquet(s"$d/lineitem.parquet")(
        "_", "_", "_", "_", "?q", "_", "_", "_", "?f", "_", "_"),
      Ops.count() :> "?c", Ops.sum("?q") :> "?s").toDF(spark)
    val p = plan(df)
    assert("HashAggregate".r.findAllIn(p).size == 2, s"expected partial+final:\n$p")
    assert(p.contains("partial_count"), p)
  }

  test("whole-stage codegen covers the scan-filter-project pipeline") {
    val d = "/root/testdata/sf0.001"
    val df = query("?k2")(
      parquet(s"$d/lineitem.parquet")(
        "?k", "_", "_", "_", "_", "_", "_", "_", "_", "_", "_"),
      Ops.times("?k", 2L) :> "?k2").toDF(spark)
    // "*(n)" prefixes mark whole-stage-codegen'd spans in plan toString
    assert(plan(df).contains("*(1)"), plan(df))
  }

  test("contamination probes broadcast; corpus side never shuffles for the match") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val df = graft.pipeline.TextAnalysis.contamination(
      docs.filter(col("doc_id") >= 20), docs.filter(col("doc_id") < 20), n = 4)
    val p = plan(df)
    // the probe side broadcasts (tiny by definition); the corpus reaches
    // the join via scan+generate only — no SortMergeJoin, no corpus-side
    // hash exchange between the parquet scan and the join
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
    // the BHJ's streamed (corpus) subtree prints between the join node and
    // its broadcast child: it must contain no hash exchange
    val corpusSide = p.substring(p.indexOf("BroadcastHashJoin"), p.indexOf("BroadcastExchange"))
    assert(!corpusSide.contains("Exchange hashpartitioning"),
      s"corpus shuffled before the probe match:\n$p")
  }

  test("per-group top-k plans as a single window, no group materialization") {
    val d = "/root/testdata/sf0.001"
    val df = query("?ck", "?top")(
      parquet(s"$d/orders.parquet")("?ok", "?ck", "_", "?p", "_", "_"),
      Ops.limit(2)("?ok") :> "?top").sorted("?p").toDF(spark)
    val p = plan(df)
    assert(p.contains("RunningWindowFunction") || p.contains("Window"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("KMV sketch aggregation runs with map-side partials") {
    import graft.operators.Sketches
    val li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    val df = li.groupBy("l_returnflag")
      .agg(Sketches.kmv(Sketches.md5Hash61(col("l_orderkey").cast("string")), 32))
    val p = plan(df)
    // partial + final ObjectHashAggregate: each partition collapses to
    // <=k longs per group BEFORE the exchange — the HLL-class profile
    assert("ObjectHashAggregate".r.findAllIn(p).size == 2, p)
    assert(p.contains("partial_kmvagg") || p.toLowerCase.contains("partial"), p)
  }

  test("bloom join: fact side is filtered before its first exchange") {
    val li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    val sup = spark.read.parquet("/root/testdata/sf0.001/supplier.parquet")
      .filter(col("s_nationkey") < 13)
      .select(col("s_suppkey").as("l_suppkey"), col("s_nationkey"))
    val pruned = graft.operators.BloomJoin.prune(li, Seq("l_suppkey"),
      graft.operators.BloomJoin.buildFilter(sup.select("l_suppkey"), Seq("l_suppkey")))
    val p = plan(pruned)
    // the membership test is ONE native expression over a scalar subquery:
    // the filter sits directly on the fact scan — no join dragging the
    // word array through every row (the old BNLJ form), no fact-side
    // exchange, and a single subquery reference in the filter condition
    // (the AND'ed-conjuncts form re-referenced the subquery per conjunct)
    assert(p.contains("graft_bloom_check"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"),
      s"bloom filter must ride a scalar subquery, not a join:\n$p")
    val mainPlan = p.split("Subquery", 2)(0) // fact stage prints first
    assert(!mainPlan.contains("Exchange hashpartitioning"),
      s"fact shuffled before bloom pruning:\n$p")
    assert("graft_bloom_check".r.findAllIn(mainPlan).size == 1,
      s"membership test must appear exactly once on the fact side:\n$p")
  }

  test("hot-bucket guards: stats via partial agg + broadcast join, never a window sort") {
    // the guard's plan contract on BOTH LSH families: bucket sizes come
    // from a map-side-combined aggregation (degenerate buckets collapse in
    // the combine) and the oversize set broadcasts back onto the banded
    // rows — a Window count instead would sort every partition of the
    // full banded data
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    // in one task (the default limit: the sf0.001 rows and their pairs
    // fit) the candidates read one checkpoint, the kernel's, and join
    // nothing
    val local = plan(graft.pipeline.Dedup.minhashCandidates(docs, maxBucketSize = 64))
    assert("ExistingRDD".r.findAllIn(local).size == 1 && !local.contains("Join"),
      s"the local guard must read its one checkpoint:\n$local")
    // the distributed guard, pinned by a limit below the banded rows
    spark.conf.set("spark.graft.broadcastNodeLimit", "0")
    try distributedGuards(docs) finally spark.conf.unset("spark.graft.broadcastNodeLimit")
  }

  private def distributedGuards(docs: org.apache.spark.sql.DataFrame): Unit = {
    val pm = plan(graft.pipeline.Dedup.minhashCandidates(docs, maxBucketSize = 64))
    assert(!pm.contains("Window"), s"minhash guard must not window-sort:\n$pm")
    assert(pm.contains("BroadcastHashJoin"),
      s"minhash oversize set must broadcast onto banded rows:\n$pm")
    // since r17 the stats table materializes at a stage boundary (ONE
    // aggregation pass feeds all union branches, not one per branch), so
    // the candidates' final plan reads a checkpoint; the map-side-combine
    // contract is asserted on the stats aggregation itself — every guard
    // routes its stats through the ONE shared code path (bucketStats),
    // asserted here over each family's row shape: minhash bands (plain
    // min-id hub), simhash blocks and cosine buckets (struct hubs)
    val bucketedShape = docs.select(col("doc_id"),
      col("doc_id").cast("bigint").as("sh"),
      (col("doc_id") % 4).cast("int").as("blk"),
      (col("doc_id") % 65536).cast("bigint").as("blk_val"))
    val sigsShape = spark.read
      .parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id"), col("embedding"),
      (col("vec_id") % 8).cast("string").as("bucket"))
    val shapes = Seq(
      ("minhash", graft.pipeline.Dedup.bandedSignatures(docs),
        Seq("band", "band_key"), "doc_id", Nil),
      ("hamming", bucketedShape, Seq("blk", "blk_val"), "doc_id", Seq("sh")),
      ("cosine", sigsShape, Seq("bucket"), "vec_id", Seq("embedding")))
    for ((family, rows, keys, id, payload) <- shapes) {
      val pst = plan(graft.pipeline.Dedup.bucketStats(rows, keys, id, payload))
      assert(pst.contains("partial_count"),
        s"$family bucket stats must combine map-side:\n$pst")
      assert(!pst.contains("Window"),
        s"$family bucket stats must not window-sort:\n$pst")
    }
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val pe = plan(graft.pipeline.Dedup.embeddingNearDup(
      emb, planes = 6, threshold = 0.2, maxBucketSize = 64))
    assert(!pe.contains("Window"), s"embedding guard must not window-sort:\n$pe")
    assert(pe.contains("BroadcastHashJoin"),
      s"embedding oversize set must broadcast onto bucketed vectors:\n$pe")
    // SemDeDup cells ride the same shared guard (bucketPairs) —
    // assert the shape anyway so a future split can't silently lose it
    val cb = graft.pipeline.Similarity.kmeansCentroids(emb, cells = 4, iters = 1)
    val ps = plan(graft.pipeline.Dedup.semanticPairs(
      emb, cb, threshold = 0.2, maxBucketSize = 64))
    assert(!ps.contains("Window"), s"semantic guard must not window-sort:\n$ps")
    assert(ps.contains("BroadcastHashJoin"),
      s"semantic oversize set must broadcast onto cell-assigned vectors:\n$ps")
  }

  test("quantization knn plans: broadcast probes, codegen scoring, cell equi-join") {
    import graft.pipeline.Similarity
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select("vec_id", "embedding")
    val probes = emb.filter(col("vec_id") < 4)
      .select(col("vec_id").as("probe_id"), col("embedding"))
    // SQ8 is a full scan BY DESIGN (no join key): the probe side must
    // broadcast into a nested-loop join and the per-pair scoring must be
    // the native graft_l2sq expression, not an interpreted HOF/UDF
    val (mins, maxs) = Similarity.sqTrain(emb)
    val psq = plan(Similarity.sqKnn(
      Similarity.sqIndex(emb, mins, maxs), mins, maxs, probes, k = 3))
    assert(psq.contains("BroadcastNestedLoopJoin"),
      s"sq scan must broadcast probes into a nested-loop join:\n$psq")
    assert(psq.contains("graft_l2sq"),
      s"sq scoring must be the native codegen expression:\n$psq")
    // IVFADC routes on cell: the index-probe join must be a broadcast
    // HASH join on the cell key — a cartesian here would re-create the
    // all-pairs scan the routing exists to avoid
    val cb = Similarity.kmeansCentroids(emb, cells = 4, iters = 0)
    val books = Similarity.ivfPqTrain(emb, cb, m = 8, codes = 8, iters = 0)
    val pq = plan(Similarity.ivfPqKnn(
      Similarity.ivfPqIndex(emb, cb, books), cb, books, probes, k = 3, nProbe = 2))
    assert(pq.contains("BroadcastHashJoin"),
      s"ivfpq cell join must broadcast-hash on cell:\n$pq")
    assert(!pq.contains("CartesianProduct") && !pq.contains("BroadcastNestedLoopJoin"),
      s"ivfpq must never degrade to an unkeyed join:\n$pq")
  }

  test("duplicate-span gram counts aggregate with map-side partials") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val df = graft.pipeline.Dedup.duplicateSpanStats(docs, n = 6)
    val p = plan(df)
    // the gram-occurrence count (the only corpus-scale aggregation) must
    // combine map-side: partial HashAggregates appear before exchanges
    assert(p.contains("partial_count"), p)
  }
}
