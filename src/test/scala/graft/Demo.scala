package graft

import graft.dsl._
import graft.ops.Ops

/** Manual smoke driver: runs real queries through the public DSL against
  * the driver-generated parquet testdata. `sbt "Test/runMain graft.Demo"`. */
object Demo {
  def main(args: Array[String]): Unit = {
    val sf = if (args.nonEmpty) args(0) else "/root/testdata/sf0.001"
    // fresh warehouse per run: a stale managed-table DIRECTORY plus a
    // fresh in-memory catalog would make the bucketed-sink demo
    // non-idempotent (LOCATION_ALREADY_EXISTS)
    val spark = LocalSession("WARN", extra = Seq("spark.sql.warehouse.dir" ->
      s"/tmp/graft-demo-wh-${java.util.UUID.randomUUID()}"))

    // TPC-H-ish pricing summary through the DSL (join-free agg)
    val q1 = query("?l_returnflag", "?l_linestatus", "?sum_qty", "?cnt")(
      parquet(s"$sf/lineitem.parquet")(
        "_", "_", "_", "_", "?l_quantity", "_", "_", "_",
        "?l_returnflag", "?l_linestatus", "_"),
      Ops.sum("?l_quantity") :> "?sum_qty",
      Ops.count() :> "?cnt")
    println("== q1 pricing summary ==")
    q1.toDF(spark).show()

    // join + agg: order count per customer market segment
    val q3 = query("?c_mktsegment", "?orders")(
      parquet(s"$sf/customer.parquet")("?ck", "_", "_", "_", "?c_mktsegment"),
      parquet(s"$sf/orders.parquet")("_", "?ck", "_", "_", "_", "_"),
      Ops.count() :> "?orders")
    println("== q3 orders per segment ==")
    q3.toDF(spark).show()
    println("== q3 physical plan ==")
    q3.toDF(spark).explain("formatted")

    // pipeline operators over the real documents/embeddings tables
    import org.apache.spark.sql.functions._
    import graft.pipeline.{Dedup, Similarity, TextAnalysis}
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    println("== exact-dedup summary (top dup groups) ==")
    Dedup.exact(docs).orderBy(col("dup_count").desc).show(3)
    println("== minhash near-dup candidates on documents ==")
    println("candidate pairs: " + Dedup.minhashCandidates(docs, k = 64, bands = 32).count())
    println("== text analysis sample ==")
    TextAnalysis.annotate(docs.limit(3))
      .select("doc_id", "lang", "lang_pred", "token_count", "bpeish_tokens", "fingerprint")
      .show(3, truncate = false)
    println("== brute-force knn (3 probes) ==")
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val probes = emb.filter(col("vec_id") < 3)
      .select(col("vec_id").as("probe_id"), col("embedding"))
    Similarity.bruteForceKnn(emb, probes, k = 3).show()
    println("== IVF knn (k-means codebook, 8 cells, probe 3) ==")
    Similarity.ivfKnn(emb, probes, k = 3, cells = 8, nProbe = 3).show()

    println("== end-to-end near-dup dedup (survivors) ==")
    println("docs: " + docs.count() + "  survivors: " +
      Dedup.nearDupDedup(docs, threshold = 0.6).count())

    // bucketed co-located join: zero-shuffle plan
    println("== bucketed join (Exchange-free) ==")
    import graft.sources.Taps
    val ords = spark.read.parquet(s"$sf/orders.parquet")
      .select("o_orderkey", "o_custkey", "o_totalprice")
    Taps.bucketSink(ords, "demo_orders_bk", Seq("o_custkey"), 4)
    Taps.bucketSink(spark.read.parquet(s"$sf/customer.parquet")
      .select("c_custkey", "c_mktsegment")
      .withColumnRenamed("c_custkey", "o_custkey"),
      "demo_cust_bk", Seq("o_custkey"), 4)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val bj = spark.table("demo_orders_bk").join(spark.table("demo_cust_bk"), "o_custkey")
    bj.count()
    println("plan contains Exchange: " +
      bj.queryExecution.executedPlan.toString.contains("Exchange"))
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)

    println("== round-4 curation operators ==")
    println("-- duplicate-span stats (top coverage) --")
    Dedup.duplicateSpanStats(docs, n = 6)
      .orderBy(col("dup_fraction").desc).show(3, truncate = false)
    println("-- KMV distinct vs exact (per source) --")
    import graft.operators.Sketches
    docs.select(col("source"), Sketches.md5Hash61(col("text")).as("h"))
      .groupBy("source")
      .agg(Sketches.kmvEstimate(Sketches.kmv(col("h"), 64), 64).as("kmv_est"),
        count_distinct(col("h")).as("exact"))
      .orderBy("source").show(3)
    println("-- bloom-pruned join --")
    val sup = spark.read.parquet(s"$sf/supplier.parquet")
      .filter(col("s_nationkey") < 13)
      .select(col("s_suppkey").as("l_suppkey"), col("s_nationkey"))
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
    println("fact rows: " + li.count() + "  bloom-join rows: " +
      graft.operators.BloomJoin.bloomJoin(li, sup, Seq("l_suppkey")).count())
    println("-- context chunking --")
    graft.pipeline.TextAnalysis.chunkTokens(docs, size = 16, overlap = 4, minTokens = 4)
      .groupBy().agg(count(lit(1)).as("chunks"), avg("n_chunk_tokens").as("avg_len"))
      .show()

    println("== round-5 operators ==")
    println("-- IVF split index (persist once, query per batch) --")
    val codebook = Similarity.kmeansCentroids(emb, cells = 8)
    val ivfIdx = Similarity.ivfIndex(emb, codebook)
    Similarity.ivfKnnWithIndex(ivfIdx, codebook, probes, k = 3, nProbe = 3)
      .show(3)
    println("-- embedding near-dup with hot-bucket guard --")
    println("pairs: " + Dedup.embeddingNearDup(
      emb, planes = 6, threshold = 0.2, maxBucketSize = 64).count())
    println("-- components auto-fallback (depth-40 chain, maxIter 5) --")
    import spark.implicits._
    val chain = (1 until 40).map(i => (i.toLong, (i + 1).toLong)).toDF("id_a", "id_b")
    println("components: " + Dedup.components(chain, maxIter = 5)
      .select("component").distinct().count() + " (expect 1)")

    println("== round-6 operators ==")
    println("-- SemDeDup: within-cell cosine dedup over the IVF codebook --")
    println("survivors: " + Dedup.semanticDedup(
      emb.select("vec_id", "embedding"), codebook, threshold = 0.2).count())
    println("-- incremental semantic pairs (delta vs persisted index + stats) --")
    val corpus6 = emb.select("vec_id", "embedding").filter(col("vec_id") < 400)
    val delta6 = emb.select("vec_id", "embedding").filter(col("vec_id") >= 400)
    val cb6 = Similarity.kmeansCentroids(corpus6, cells = 8)
    val idx6 = Similarity.ivfIndex(corpus6, cb6)
    println("delta pairs: " + Dedup.incrementalSemanticPairs(
      idx6, delta6, cb6, threshold = 0.2,
      corpusCellStats = Some(Dedup.semanticCellStats(idx6))).count())
    println("-- string-id components (surrogate star fallback) --")
    val schain = (1 until 40).map(i => (f"u$i%03d", f"u${i + 1}%03d")).toDF("id_a", "id_b")
    println("components: " + Dedup.components(schain, maxIter = 5)
      .select("component").distinct().count() + " (expect 1)")
    println("-- PQ codes (32x compression) + ADC knn --")
    val corpusE = emb.select("vec_id", "embedding")
    val books = Similarity.pqTrain(corpusE, m = 8, codes = 16, iters = 2)
    Similarity.pqKnn(Similarity.pqIndex(corpusE, books), books, probes, k = 3).show(3)
    println("-- IVFADC: IVF routing + PQ-of-residual ADC --")
    val rbooks = Similarity.ivfPqTrain(corpusE, codebook, m = 8, codes = 16, iters = 2)
    Similarity.ivfPqKnn(Similarity.ivfPqIndex(corpusE, codebook, rbooks),
      codebook, rbooks, probes, k = 3, nProbe = 3).show(3)
    println("-- SQ8: int8 codes (4x compression), asymmetric L2 knn --")
    val (mins, maxs) = Similarity.sqTrain(corpusE)
    Similarity.sqKnn(Similarity.sqIndex(corpusE, mins, maxs), mins, maxs,
      probes, k = 3).show(3)
    println("-- recall@k: score each index against brute-force truth --")
    val truth = Similarity.bruteForceKnn(emb, probes, k = 5)
    Seq(
      "lsh" -> Similarity.lshKnn(emb, probes, k = 5, planes = 4),
      "ivf" -> Similarity.ivfKnn(emb, probes, k = 5, cells = 8, nProbe = 3)
    ).foreach { case (name, approx) =>
      val r = Similarity.recallAtK(approx, truth, k = 5)
        .agg(avg("recall").as("mean_recall")).head.getDouble(0)
      println(f"$name%-4s mean recall@5 = $r%.2f")
    }
    spark.stop()
  }
}
