package perfbench

import graft.SparkEntry
import graft.pipeline.{Dedup, Graph}
import graft.sources.Taps
import graft.streaming.Streams
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** One operation of a workload. `run` returns the digest of its fully
  * consumed result. */
final case class Op(name: String, index: Int, run: () => String)

/** A workload: staging done in set-up, the warm-up ops, and the closed-loop
  * op sequence, one round at a time. */
trait Workload {
  def prepare(): Unit = ()
  def warmup: Seq[Op]
  /** The ops of round `r`, or None when the workload has no more input. */
  def round(r: Int): Option[Seq[Op]]
  /** Oracle SQL per op name, for the queries that carry one in SparkEntry. */
  def oracleSql: Map[String, String]
}

final class Ctx(val spark: SparkSession, val inputs: String, val work: String,
    val seed: Long, val rec: Recorder) {
  val data = s"$inputs/data"
  def read(name: String): DataFrame = spark.read.parquet(s"$data/$name.parquet")

  /** Plans, executes and digests `df`, one span per layer. */
  def consume(df: => DataFrame, layer: String): String = {
    val d = rec.span(layer)(df)
    rec.span("catalyst")(d.queryExecution.executedPlan)
    val rows = rec.span("exec")(d.collect())
    rec.span("digest")(Digest.ofRows(d.schema, rows))
  }

  /** A seeded permutation of `xs` for round `r`. */
  def shuffled[T](xs: Seq[T], r: Int): Seq[T] =
    new scala.util.Random(seed * 1000003L + r).shuffle(xs)
}

object Workloads {
  /** Six query shapes rather than twelve: a run compiles half as much
    * code, so the JIT settles within the warm-up rounds a run affords.
    * With twelve, every timed round still ran about 10% faster than the
    * one before, and op_p50_s spread 0.19 over ten seeds. */
  val RelationalQueries: Seq[String] = Seq(
    "q01_multi_agg", "q03_join_agg", "q06_semi_join", "q13_topk_pergroup",
    "q17_wordcount", "q29_full_outer")

  val NeardupQueries: Seq[String] = Seq("p11_neardup_dedup", "p51_similarity_rank")

  val StreamQueries: Seq[String] = Seq(
    "p85_stream_sessions", "p87_stream_dedup", "p89_stream_cms")

  /** Rounds of ops run untimed in set-up. The first round in a fresh JVM
    * costs 2-5x a later one (class loading, code generation, the JIT's
    * first compiles). */
  val WarmupRounds = 1
  /** relational's short queries reach the JIT's plateau in about five
    * rounds: a round's process CPU falls from about 45 s cold to 15, 8,
    * 7.5 and 6-7 s, so set-up runs five and the timed rounds measure the
    * plateau. neardup's ops settle only after about 100 s of JVM life, more
    * than a run affords; the per-kind medians over its timed rounds absorb
    * the rest of its slope. */
  val RelationalWarmupRounds = 5
  /** Micro-batches of the stream probe's replay, as many as SparkEntry's
    * stream queries replay. */
  val StreamBatches = 4
  /** Jaccard threshold of the incremental ingest's verification (p11's). */
  val IngestThreshold = 0.6

  def apply(name: String, c: Ctx): Workload = name match {
    case "relational" =>
      new Queries(c, RelationalQueries, _ => "planner", shuffle = true,
        RelationalWarmupRounds)
    case "neardup" => new Queries(c, NeardupQueries,
      n => if (n.startsWith("p11")) "dedup" else "graph", shuffle = false, WarmupRounds)
    case "neardup_incr" => new Ingest(c)
    case "stream" =>
      new Queries(c, StreamQueries, _ => "stream", shuffle = true, WarmupRounds)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  /** Queries from SparkEntry.queries, one op per query a round, after
    * `warmupRounds` untimed rounds; `layer` names the span around the
    * query call. */
  final class Queries(c: Ctx, names: Seq[String], layer: String => String,
      shuffle: Boolean, warmupRounds: Int) extends Workload {
    private def op(n: String, i: Int) =
      Op(n, i, () => c.consume(SparkEntry.queries(n)(c.spark, c.data), layer(n)))
    def warmup: Seq[Op] = Seq.fill(warmupRounds)(names).flatten.map(op(_, -1))
    def round(r: Int): Option[Seq[Op]] = {
      val order = if (shuffle) c.shuffled(names, r) else names
      Some(order.map(op(_, r)))
    }
    def oracleSql: Map[String, String] = names.map(n => n -> SparkEntry.oracleSql(n)).toMap
  }

  /** Incremental near-dup ingest against a persisted banded index. */
  final class Ingest(c: Ctx) extends Workload {
    private val table = "perfbench_index"
    private val indexPath = s"${c.work}/index"
    private val buckets = 4 * c.spark.sparkContext.defaultParallelism
    private val batchDirs = Option(new java.io.File(s"${c.data}/batches").listFiles)
      .toSeq.flatten.filter(_.getName.endsWith(".parquet")).map(_.getPath).sorted
    private var ingested = Seq.empty[String]
    private var statsVersion = 0
    private def statsPath(v: Int) = s"${c.work}/index_stats/v$v"

    override def prepare(): Unit = {
      val banded = c.rec.span("index.write") {
        val b = Dedup.bandedSignatures(c.read("corpus"))
        Taps.bucketSink(b, table, Seq("band", "band_key"), buckets, path = Some(indexPath))
        c.spark.table(table)
      }
      Dedup.bandBucketStats(banded).write.mode("overwrite").parquet(statsPath(0))
    }

    private def ingest(i: Int): Op = Op("ingest", i, () => {
      val batch = c.spark.read.parquet(batchDirs(i))
      val docs = c.spark.read.parquet(
        (Seq(s"${c.data}/corpus.parquet") ++ ingested :+ batchDirs(i)): _*)
      val stats = c.spark.read.parquet(statsPath(statsVersion))
      val result = c.consume({
        val cands = c.rec.span("index.probe")(Dedup.incrementalCandidates(
          c.spark.table(table), batch, corpusBanded = true, corpusStats = Some(stats)))
        c.rec.span("dedup.verify")(
          Dedup.jaccardVerify(cands, docs, threshold = IngestThreshold))
      }, "ingest")
      c.rec.span("index.write") {
        val (bytes0, files0) =
          if (c.rec.enabled) (Files.bytes(indexPath), Files.count(indexPath)) else (0L, 0)
        val banded = Dedup.bandedSignatures(batch).localCheckpoint()
        Taps.bucketSink(banded, table, Seq("band", "band_key"), buckets,
          mode = "update", path = Some(indexPath))
        if (c.rec.enabled) {
          c.rec.note("write_bytes", (Files.bytes(indexPath) - bytes0).toDouble)
          c.rec.note("write_files", (Files.count(indexPath) - files0).toDouble)
        }
        stats.unionByName(Dedup.bandBucketStats(banded))
          .groupBy("band", "band_key")
          .agg(sum("bucket_size").as("bucket_size"), min("hub").as("hub"))
          .write.mode("overwrite").parquet(statsPath(statsVersion + 1))
      }
      statsVersion += 1
      ingested :+= batchDirs(i)
      result
    })

    // the first batches are ingested in set-up; the oracle checks them
    // like every other batch
    def warmup: Seq[Op] = (0 until WarmupRounds).map(ingest)
    def round(r: Int): Option[Seq[Op]] = {
      val i = r + WarmupRounds
      if (i < batchDirs.size) Some(Seq(ingest(i))) else None
    }
    def oracleSql: Map[String, String] = Map.empty
  }

  /** Layer probes of the traced run: each layer's public entry points
    * called separately on staged inputs, for the layers the workload's own
    * ops do not reach or do not separate. `docs` is the corpus the dedup
    * and graph layers are probed on. */
  def probe(c: Ctx, workload: String, docsPath: String): Unit = {
    val rec = c.rec
    val docs = c.spark.read.parquet(docsPath)
    def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
    rec.span("probe:dedup") {
      rec.span("dedup.signatures")(noop(Dedup.bandedSignatures(docs)))
      val cands = rec.span("dedup.candidates")(Dedup.minhashCandidates(docs).localCheckpoint())
      val nCands = cands.count()
      val verified = rec.span("dedup.verify")(
        Dedup.jaccardVerify(cands, docs, threshold = IngestThreshold).localCheckpoint())
      val nVerified = verified.count()
      rec.note("candidate_pairs", nCands.toDouble)
      rec.note("verified_pairs", nVerified.toDouble)
      rec.span("dedup.components")(noop(Dedup.components(verified.select("id_a", "id_b"))))
      rec.span("graph.rank")(noop(Graph.rankFromPairs(cands,
        docs.select(col("doc_id").as("id")))))
    }
    rec.span("probe:index") {
      val table = "perfbench_probe_index"
      val path = s"${c.work}/probe_index"
      val delta = docs.filter(col("doc_id") % 20 === 0)
      rec.span("index.write") {
        Taps.bucketSink(Dedup.bandedSignatures(docs.filter(col("doc_id") % 20 =!= 0)),
          table, Seq("band", "band_key"), 4 * c.spark.sparkContext.defaultParallelism,
          path = Some(path))
        rec.note("write_bytes", Files.bytes(path).toDouble)
        rec.note("write_files", Files.count(path).toDouble)
      }
      val stats = Dedup.bandBucketStats(c.spark.table(table)).localCheckpoint()
      val n = rec.span("index.probe") {
        val cands = Dedup.incrementalCandidates(c.spark.table(table), delta,
          corpusBanded = true, corpusStats = Some(stats)).localCheckpoint()
        cands.count()
      }
      rec.note("probe_candidates", n.toDouble)
      rec.note("probe_docs", delta.count().toDouble)
    }
    if (workload != "stream") rec.span("probe:stream") {
      val ev = c.spark.read.parquet(s"${c.inputs}/probe/events.parquet")
      val staged = ev.select(col("user_id"), col("event_type"),
        col("ts").cast("timestamp").as("ets"))
      rec.span("stream")(Streams.replayAsStream(staged, s"${c.work}/stream/probe",
          StreamBatches, "append", orderedBy = Some("ets")) { src =>
        Streams.streamingDedup(src, "ets", "40 days", Seq("user_id", "event_type"))
          .select(col("user_id"), col("event_type"))
      }.collect())
    }
    if (workload != "relational") rec.span("probe:planner") {
      val dir = s"${c.inputs}/probe"
      Seq("q01_multi_agg", "q03_join_agg").foreach { n =>
        val d = rec.span("planner")(SparkEntry.queries(n)(c.spark, dir))
        rec.span("catalyst")(d.queryExecution.executedPlan)
        rec.span("exec")(d.collect())
      }
    }
  }
}

object Files {
  private def walk(path: String): Seq[java.io.File] = {
    def go(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) Option(f.listFiles).toSeq.flatten.flatMap(go) else Seq(f)
    go(new java.io.File(path)).filter(f => f.isFile && !f.getName.startsWith(".") &&
      !f.getName.startsWith("_"))
  }
  def bytes(path: String): Long = walk(path).map(_.length).sum
  def count(path: String): Int = walk(path).size
}
