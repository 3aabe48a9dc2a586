package graft

import graft.operators.BloomJoin
import org.apache.spark.sql.functions._

class BloomJoinSpec extends SparkTestBase {
  import spark.implicits._

  lazy val lineitem = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
  lazy val supplier = spark.read.parquet("/root/testdata/sf0.001/supplier.parquet")

  test("bloomJoin result is identical to the plain join") {
    // sf0.001 has 10 suppliers with nationkeys 3..24; < 13 selects 4
    val dim = supplier.filter(col("s_nationkey") < 13)
      .select(col("s_suppkey").as("l_suppkey"), col("s_nationkey"))
    val viaBloom = BloomJoin.bloomJoin(lineitem, dim, Seq("l_suppkey"))
      .groupBy("s_nationkey").count()
      .collect().map(r => (r.getAs[Number](0).longValue(), r.getLong(1))).toSet
    val plain = lineitem.join(dim, Seq("l_suppkey"))
      .groupBy("s_nationkey").count()
      .collect().map(r => (r.getAs[Number](0).longValue(), r.getLong(1))).toSet
    assert(viaBloom == plain)
    assert(viaBloom.nonEmpty)
  }

  test("prune keeps every joining row and actually prunes the rest") {
    val dim = supplier.filter(col("s_nationkey") === 3)
      .select(col("s_suppkey").as("l_suppkey"))
    val filt = BloomJoin.buildFilter(dim, Seq("l_suppkey"))
    val pruned = BloomJoin.prune(lineitem, Seq("l_suppkey"), filt)
    val joining = lineitem.join(dim, Seq("l_suppkey"), "left_semi")
    val prunedCount = pruned.count()
    assert(prunedCount < lineitem.count(), "a selective dim must prune")
    assert(joining.join(pruned, lineitem.columns.toSeq, "left_anti").count() == 0,
      "pruning must never drop a joining row")
  }

  test("unsafe join types skip the prune and stay exact") {
    val fact = Seq(("a", 1), ("b", 2), ("d", 4)).toDF("k", "v")
    val dim = Seq(("a", 10), ("c", 30)).toDF("k", "w")
    // left_anti: the rows bloom-pruning would remove are EXACTLY the
    // result — a pruned anti-join would return nothing
    val anti = BloomJoin.bloomJoin(fact, dim, Seq("k"), joinType = "left_anti")
      .select("k").collect().map(_.getString(0)).toSet
    assert(anti == Set("b", "d"))
    // left_outer keeps unmatched fact rows
    val louter = BloomJoin.bloomJoin(fact, dim, Seq("k"), joinType = "left_outer")
      .select("k", "w").collect().map(r => (r.getString(0), Option(r.get(1)))).toSet
    assert(louter == Set(("a", Some(10)), ("b", None), ("d", None)))
    // full_outer keeps both sides' unmatched rows
    val fouter = BloomJoin.bloomJoin(fact, dim, Seq("k"), joinType = "full_outer")
      .select("k").collect().map(_.getString(0)).toSet
    assert(fouter == Set("a", "b", "c", "d"))
    // prune-safe types still match the plain join
    val semi = BloomJoin.bloomJoin(fact, dim, Seq("k"), joinType = "left_semi")
      .select("k").collect().map(_.getString(0)).toSet
    assert(semi == Set("a"))
    val router = BloomJoin.bloomJoin(fact, dim, Seq("k"), joinType = "right_outer")
      .select("k").collect().map(_.getString(0)).toSet
    assert(router == Set("a", "c"))
  }

  test("membership expression: interpreted eval matches codegen") {
    // the codegen-off cross-check axis in miniature: graft_bloom_check's
    // eval() path must agree with its doGenCode() path
    val dim = supplier.filter(col("s_nationkey") < 13)
      .select(col("s_suppkey").as("l_suppkey"), col("s_nationkey"))
    val expected = BloomJoin.bloomJoin(lineitem, dim, Seq("l_suppkey"))
      .groupBy("s_nationkey").count()
      .collect().map(r => (r.getAs[Number](0).longValue(), r.getLong(1))).toSet
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    try {
      val interpreted = BloomJoin.bloomJoin(lineitem, dim, Seq("l_suppkey"))
        .groupBy("s_nationkey").count()
        .collect().map(r => (r.getAs[Number](0).longValue(), r.getLong(1))).toSet
      assert(interpreted == expected)
    } finally {
      spark.conf.unset("spark.sql.codegen.wholeStage")
      spark.conf.unset("spark.sql.codegen.factoryMode")
    }
  }

  test("bloom join works on multi-column string keys and empty dims") {
    val fact = Seq(("a", "x", 1), ("a", "y", 2), ("b", "x", 3), ("c", "z", 4))
      .toDF("k1", "k2", "v")
    val dim = Seq(("a", "x", 10), ("c", "z", 30)).toDF("k1", "k2", "w")
    val got = BloomJoin.bloomJoin(fact, dim, Seq("k1", "k2"), numBits = 64)
      .select("k1", "k2", "v", "w")
      .collect().map(_.toSeq).toSet
    assert(got == Set(Seq("a", "x", 1, 10), Seq("c", "z", 4, 30)))
    val empty = dim.filter(col("w") < 0)
    assert(BloomJoin.bloomJoin(fact, empty, Seq("k1", "k2")).count() == 0)
  }

  test("decontaminate broadcastEval=false takes the bloom-pruned path " +
      "and matches the broadcast path exactly") {
    import graft.pipeline.Dedup
    import graft.obs.Recorder
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val train = docs.filter(!col("source").isin("src0", "src1"))
    val eval_ = docs.filter(col("source").isin("src0", "src1"))
    // the band join executes inside the Stage.materialize boundary, so
    // the bloom shape is only visible in the plans that RUN, not in the
    // final (lineage-truncated) plan — capture executed-plan texts
    val (got, rec) = Recorder.record(spark) {
      val viaBloom = Dedup.decontaminate(train, eval_, threshold = 0.8,
        broadcastEval = false)
      viaBloom.select("doc_id").collect().toSeq.map(_.toSeq)
    }
    assert(rec.plans.exists(_.contains("graft_bloom_check")),
      "non-broadcast path should bloom-prune the band join")
    val viaBroadcast = Dedup.decontaminate(train, eval_, threshold = 0.8)
    assertProduces(viaBroadcast.select("doc_id"), got)
  }
}
