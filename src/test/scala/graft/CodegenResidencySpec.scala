package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import scala.jdk.CollectionConverters._

/** Generated code stays resident: once p11 and p51 have each run, running
  * them again recompiles no class. The build's JVM options drop the stage
  * id from generated class names (`spark.sql.codegen.useIdInClassName=
  * false`) and size Spark's codegen cache to 256 entries; without them the
  * two queries evict each other's classes and every call recompiles ~75.
  *
  * A warm pass may still compile a class for the first time: adaptive
  * execution picks a join's build side by which input finishes first, so
  * now and then a pass meets a plan variant no earlier pass produced. Such
  * a class is new to the cache, so the check is that every compile of the
  * pass added a cache entry, i.e. none rebuilt a class compiled before. */
class CodegenResidencySpec extends SparkTestBase {

  private val sf = "/root/testdata/sf0.001"
  private val ops = Seq("p11_neardup_dedup", "p51_similarity_rank")

  test("the session carries both codegen residency settings") {
    val missing = Seq(
      "spark.sql.codegen.useIdInClassName" -> "false",
      "spark.sql.codegen.cache.maxEntries" -> "256",
    ).filterNot { case (k, v) => spark.conf.getOption(k).contains(v) }
    assert(missing.isEmpty, "the JVM was started without " +
      missing.map { case (k, v) => s"-D$k=$v" }.mkString(" ") +
      " (build.sbt javaOptions)")
  }

  /** The keys of Spark's codegen cache, (class loader, source); the cache
    * is private to Spark, so it is read reflectively. */
  private def cachedClasses(): Set[AnyRef] = {
    val get = CodeGenerator.getClass.getDeclaredMethod("cache")
    get.setAccessible(true)
    val cache = get.invoke(CodeGenerator)
    cache.getClass.getMethod("cache").invoke(cache)
      .asInstanceOf[org.sparkproject.guava.cache.Cache[AnyRef, AnyRef]]
      .asMap().keySet().asScala.toSet
  }

  test("alternating p11/p51 passes recompile no class once warm") {
    def pass(): Unit = ops.foreach(n => SparkEntry.queries(n)(spark, sf).collect())
    pass()
    pass()
    val cached = cachedClasses()
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    pass()
    val compiled = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
    val firstTime = (cachedClasses() -- cached).size
    assert(compiled == firstTime, s"a warm p11/p51 pass compiled $compiled " +
      s"generated classes, ${compiled - firstTime} of them compiled before")
  }
}
