package graft
import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import graft.QuerySpec.{Contract, Oracle}
import java.nio.file.{Files, Paths}
import scala.collection.immutable.ListMap
/** Driver-run correctness dump: each SparkEntry.registry query's result →
  * parquet, plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    // environment guard (VERDICT r14 #1/#6): a disk-full round turned
    // the correctness artifact into an empty {} that read as "no
    // queries". Fail BEFORE Spark starts when the disk can't host the
    // run, and classify any mid-run environment death into
    // outDir/env_failure.json so the artifact self-describes as
    // "environment, rerun me" instead of silently zeroing the round.
    def envFail(msg: String): Nothing = {
      System.err.println(s"[verify] ENVIRONMENT FAILURE: $msg")
      try {
        new java.io.File(outDir).mkdirs()
        Files.writeString(Paths.get(s"$outDir/env_failure.json"),
          s"""{"env_failure": "${Bench.jsonEsc(msg).take(300)}"}""")
      } catch { case _: Throwable => () }
      sys.exit(2)
    }
    Bench.preflightDisk().foreach(envFail)
    try runAll(sfDir, outDir)
    catch {
      case t: Throwable =>
        Bench.classifyEnvFailure(t) match {
          case Some(kind) => envFail(kind)
          case None => throw t // a real defect must stay a loud crash
        }
    }
  }

  private def runAll(sfDir: String, outDir: String): Unit = {
    // same confs as Bench (LocalSession); SPARK_GRAFT_CONF cross-checks,
    // e.g. disabling whole-stage codegen to exercise the interpreted path
    // of custom expressions, must leave the dump unchanged
    val spark = LocalSession("WARN")
    new java.io.File(outDir).mkdirs()
    // local-iteration filter (SparkEntry.onlyNames); the driver never
    // sets it, so the contract run always dumps every query
    val sel = SparkEntry.select(SparkEntry.onlyNames)
    sel.foreach { q =>
      try q.plan(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/${q.name}")
      catch { case e: Throwable =>
        // an ENVIRONMENT death (disk full, OOM) must stop the run and
        // classify — swallowing it per-query would burn an hour failing
        // 150 more times and still produce a misleading artifact
        if (Bench.classifyEnvFailure(e).isDefined) throw e
        System.err.println(s"[verify] ${q.name} failed: ${e.getMessage}")
      }
    }
    val json = new ObjectMapper().registerModule(DefaultScalaModule)
    def write(file: String, value: Any): Unit =
      Files.writeString(Paths.get(s"$outDir/$file"), json.writeValueAsString(value))
    // contract oracles join the map at write time: their SQL reads the
    // dumped parquet (absolute path) and recomputes the statistical
    // contract in DuckDB, so the by-design rows-only queries (q23's
    // Bernoulli sample) become CHECKED cells in the driver's compare
    // instead of `no_oracle` nulls (VERDICT r16 #3)
    val absOut = new java.io.File(outDir).getAbsolutePath
    write("oracle_sql.json", ListMap(SparkEntry.registry.map(q => q.name -> (q.check match {
      case Oracle(sql) => sql
      case c: Contract => c.oracleSqlFor(absOut)
    })): _*))
    // statistical contracts for the by-design rows-only queries: run the
    // named distributed checks and write <name>.contract.json, so the
    // correctness artifact self-describes the gate instead of `no_oracle`
    for (QuerySpec(name, _, c: Contract, _) <- sel) {
      val (status, checks) =
        try {
          val cs = c.checks(spark, sfDir)
          (if (cs.forall(_._2)) "stat_contract_ok" else "stat_contract_FAILED", cs)
        } catch { case e: Throwable =>
          ("stat_contract_ERROR", Seq(("contract_ran", false,
            String.valueOf(e.getMessage).take(200))))
        }
      write(s"$name.contract.json", ListMap("contract" -> status,
        "checks" -> checks.map { case (n, ok, detail) =>
          ListMap("name" -> n, "ok" -> ok, "detail" -> detail) }))
    }
    spark.stop()
  }
}
