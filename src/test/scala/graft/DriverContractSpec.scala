package graft

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import graft.QuerySpec.Contract
import org.apache.spark.sql.DataFrame
import scala.collection.immutable.ListMap
import scala.util.{Failure, Success, Try}

/** Exercises exactly what the driver runs: entry() smoke (rows>0 at
  * sf0.001), every registry query executing without error, and the
  * registry's checks and selection. */
class DriverContractSpec extends SparkTestBase {

  private val sf = "/root/testdata/sf0.001"

  private def q23Contract: Contract = SparkEntry.select(Seq("q23_sample")).head.check match {
    case c: Contract => c
    case other => fail(s"q23_sample must carry a Contract, got $other")
  }

  test("entry: flagship query returns rows at sf0.001") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  // one frame per query, shared by the two sweeps below: a streaming
  // query runs its stream when its plan is built, so building each plan
  // once halves the cost of the pair
  private lazy val frames: Seq[(String, Try[DataFrame])] =
    SparkEntry.registry.map(q => q.name -> Try(q.plan(spark, sf)))

  test("every registered query runs and returns rows at sf0.001") {
    val failures = frames.flatMap { case (name, frame) =>
      frame.flatMap(df => Try(df.count())) match {
        case Success(0L) if name != "q07_anti_join" => Some(s"$name: 0 rows")
        case Success(_) => None
        case Failure(e) => Some(s"$name: ${e.getMessage}")
      }
    }
    assert(failures.isEmpty, failures.mkString("\n"))
  }

  test("no query presents a DecimalType output column") {
    // The driver's hash layer stringifies decimals differently per
    // engine (pandas Decimal vs DuckDB's decimal→float64 fetchdf) —
    // the p64/p65 round-9 failure class. Exact decimal arithmetic is
    // fine INSIDE a query; the presented schema must be primitive
    // (cast to string/bigint/double at the query boundary).
    import org.apache.spark.sql.types.DecimalType
    val offenders = frames.flatMap {
      case (name, Success(df)) => df.schema.fields.toSeq.collect {
        case f if f.dataType.isInstanceOf[DecimalType] =>
          s"$name.${f.name}: ${f.dataType.simpleString}"
      }
      case (name, Failure(e)) => Seq(s"$name: ${e.getMessage}")
    }
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }

  test("every query is oracle-keyed except the by-design RNG exception") {
    // q23's Bernoulli sample is engine-RNG-specific (rows-only by
    // design, VERDICT r4+). Any other Contract means a query shipped
    // without its hash gate.
    assert(SparkEntry.registry.collect { case QuerySpec(n, _, _: Contract, _) => n } ==
      Seq("q23_sample"))
  }

  test("the streaming gate queries are exactly the _stream names") {
    val mismatched = SparkEntry.registry.filter(q => q.name.contains("_stream") != q.streaming)
    assert(mismatched.isEmpty, s"_stream name without a batch plan, or the reverse: ${mismatched.map(_.name)}")
  }

  test("select: empty selects every query, an unknown name fails, shipped query lists resolve") {
    assert(SparkEntry.select(Nil) == SparkEntry.registry)
    assert(SparkEntry.registry.size == 151)
    val e = intercept[IllegalArgumentException](SparkEntry.select(Seq("q01_multi_agg", "q99_nope")))
    assert(e.getMessage.contains("unknown query q99_nope"), e.getMessage)
    assert(e.getMessage.contains("p95_stream_retention"), "the message lists the valid names")
    assert(SparkEntry.select(Seq("p51_similarity_rank", "q01_multi_agg")).map(_.name) ==
      Seq("p51_similarity_rank", "q01_multi_agg"))
    Seq(Bench.Sf1Tier, HeavyShuffleProbe.DefaultQueries).foreach { names =>
      assert(SparkEntry.select(names).map(_.name) == names)
    }
  }

  test("the registry rejects a repeated name or short key") {
    val plan: QuerySpec.Plan = (s, _) => s.emptyDataFrame
    def spec(n: String) = QuerySpec(n, plan, QuerySpec.Oracle("SELECT 1"))
    Seq(Seq("q01_a", "q01_a"), Seq("q01_a", "q01_b")).foreach { names =>
      val e = intercept[IllegalArgumentException](SparkEntry.unique(names.map(spec)))
      assert(e.getMessage.contains("duplicate query keys"), e.getMessage)
    }
    assert(SparkEntry.unique(Seq(spec("q01_a"), spec("q02_a"))).size == 2)
  }

  test("the sf10 oracle tools' CTE cuts hold on the registry's oracle SQL") {
    assume(sys.env.getOrElse("PATH", "").split(':').exists(d =>
      new java.io.File(d, "python3").canExecute), "python3 not on PATH")
    // staged_oracle.py and cc_oracle.py take the oracle text verbatim from
    // oracle_sql.json and cut it by CTE name; these are the cuts they make
    val staged = ListMap(
      "p06_minhash_pairs" -> "tk sh perm mins sig banded",
      "p13_jaccard_verify" -> "tk sh perm mins sig banded cand shs",
      "p28_embedding_neardup" -> "c0 pl sig pairs scored",
      "p91_stream_embed" -> "c0 pl sig")
    val closures = Seq("p11_neardup_dedup", "p15_curate", "p17_neardup_star",
      "p35_embedding_dedup", "p36_semantic_dedup", "p76_quality_dedup", "p94_dedup_audit")
    val json = java.nio.file.Files.createTempFile("graft_oracle_sql_", ".json")
    java.nio.file.Files.writeString(json, new ObjectMapper().registerModule(DefaultScalaModule)
      .writeValueAsString(SparkEntry.oracleSql))
    val code =
      s"""import json, re, sys
         |sys.path.insert(0, 'tools')
         |import staged_oracle
         |sql = json.load(open('$json'))
         |for n in ${staged.keys.mkString("['", "', '", "']")}:
         |    print(n, *[c for c, _ in staged_oracle.parse_ctes(sql[n])[0]])
         |for n in ${closures.mkString("['", "', '", "']")}:
         |    print(n, 'sym', bool(re.search(r',\\s*sym\\s+AS\\b', sql[n])))
         |print('p36 pairs', 'pairs AS MATERIALIZED (' in sql['p36_semantic_dedup'])
         |print('p28 pairs', any(c == 'pairs' and re.search(r'FROM\\s+sig\\s+l\\s+JOIN\\s+sig\\s+r\\b', b)
         |    for c, b in staged_oracle.parse_ctes(sql['p28_embedding_neardup'])[0]))
         |""".stripMargin
    val got = try scala.sys.process.Process(Seq("python3", "-c", code)).!!.trim.split('\n').toSeq
      finally java.nio.file.Files.delete(json)
    assert(got == staged.map { case (n, ctes) => s"$n $ctes" }.toSeq ++
      closures.map(n => s"$n sym True") ++ Seq("p36 pairs True", "p28 pairs True"))
  }

  test("contract oracle SQL embeds the dump dir it is authored for") {
    val sql = q23Contract.oracleSqlFor("/some/out")
    assert(sql.contains("read_parquet('/some/out/q23_sample/*.parquet')"),
      s"contract oracle must read the dumped sample back:\n$sql")
    // the checks must reference the SOURCE table independently — an
    // oracle that only echoes the dump would be a tautology, not a check
    assert(sql.contains("FROM lineitem"), "contract oracle must recompute from the source table")
    assert(sql.contains("sqrt"), "contract oracle must carry the binomial bound")
  }

  test("q23 sample: deterministic at fixed seed, rows a subset of the source, fraction inside the binomial bound") {
    // the shipped statistical contract Verify runs at dump time: (1) the
    // engine's Bernoulli RNG is seeded, so two runs on the same data and
    // partitioning return the SAME rows; (2) every sampled row exists in
    // the source; (3) the sampled count sits within 5σ of fraction·n
    val checks = q23Contract.checks(spark, sf)
    assert(checks.map(_._1) ==
      Seq("deterministic_fixed_seed", "subset_of_source", "binomial_5sigma"))
    assert(checks.forall(_._2), checks.mkString("\n"))
  }
}
