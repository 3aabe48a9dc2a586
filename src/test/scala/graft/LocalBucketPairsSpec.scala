package graft

import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.obs.Recorder
import graft.pipeline.{Dedup, GraphLocal}

/** The in-task hot-bucket guard against the distributed one: the same
  * candidate set and column types from `minhashCandidates` (string band
  * keys, no payload) and `hammingCandidates` (numeric block keys, the
  * `sh` payload), over the sf0.001 and sf0.01 documents and over
  * synthetic buckets with hubs past the cap, salted near-cap buckets,
  * duplicate ids (with different payloads too), null ids, and Int and Long
  * ids. The distributed guard is forced with
  * `spark.graft.broadcastNodeLimit` 0; the local path is read back off
  * the kernel job's label. */
class LocalBucketPairsSpec extends SparkTestBase {
  import spark.implicits._

  private val Limit = "spark.graft.broadcastNodeLimit"

  private def withConf[A](kv: (String, String)*)(thunk: => A): A = {
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try thunk finally kv.foreach { case (k, _) => spark.conf.unset(k) }
  }

  /** The rows, column types and job labels of `analytic`. */
  private def run(analytic: => DataFrame): (Set[Seq[Any]], Seq[Any], Seq[String]) = {
    val ((rows, types), rec) = Recorder.record(spark) {
      val df = analytic
      (df.collect().map(_.toSeq).toSet, df.schema.map(_.dataType))
    }
    (rows, types, rec.jobs.map(_.label))
  }

  private def hasLabel(labels: Seq[String], prefix: String): Boolean =
    labels.exists(_.startsWith(s"graft dedup.candidates $prefix"))

  /** Runs `analytic` at the default limit (must pair locally) and at limit
    * 0 (must not), asserting identical rows and column types; returns the
    * rows. */
  private def bothPaths(name: String, conf: (String, String)*)(
      analytic: => DataFrame): Set[Seq[Any]] = {
    val (local, localTypes, localLabels) = withConf(conf: _*)(run(analytic))
    val (dist, distTypes, distLabels) = withConf(conf :+ (Limit -> "0"): _*)(run(analytic))
    assert(hasLabel(localLabels, "local"), s"$name: no local job in ${localLabels.distinct}")
    // the distributed guard's joins are lazy: with a sub-floor cap no job
    // of its own carries its label, so the absent kernel job tells it
    assert(!hasLabel(distLabels, "local"), s"$name: a local job in ${distLabels.distinct}")
    assert(localTypes == distTypes, s"$name: column types $localTypes vs $distTypes")
    assert(local == dist, s"$name: local vs distributed pairs differ:\n" +
      s"local only: ${(local -- dist).take(10)}\ndistributed only: ${(dist -- local).take(10)}")
    local
  }

  /** The fixture tables (TESTDATA.md). */
  private def table(sf: String, name: String): DataFrame =
    graft.sources.Taps.parquet(spark, s"/root/testdata/$sf/$name.parquet")

  private def docs(sf: String): DataFrame = table(sf, "documents")

  private val Salted = "spark.graft.saltTargetPairs" -> "16"

  for (sf <- Seq("sf0.001", "sf0.01")) {
    test(s"minhash and hamming candidates: local == distributed ($sf documents)") {
      val d = docs(sf)
      for (conf <- Seq(Seq.empty, Seq(Salted))) {
        val pairs = bothPaths(s"minhash $sf $conf", conf: _*)(Dedup.minhashCandidates(d))
        assert(pairs.nonEmpty, s"$sf must produce minhash candidates")
        bothPaths(s"simhash $sf $conf", conf: _*)(Dedup.simhashCandidates(d))
        bothPaths(s"minhash $sf cap 3 $conf", conf: _*)(
          Dedup.minhashCandidates(d, maxBucketSize = 3))
        bothPaths(s"simhash $sf cap 3 $conf", conf: _*)(
          Dedup.simhashCandidates(d, maxBucketSize = 3))
      }
    }
  }

  /** Seeded documents from a few templates (large buckets in every band),
    * some lightly edited, with duplicate ids and null ids. */
  private def templateDocs(seed: Long): Seq[(Option[Long], String)] = {
    val rnd = new Random(seed)
    val templates = Seq(
      "the quick brown fox jumps over the lazy dog again and again today",
      "shared boilerplate footer for every page of this little web site here",
      "terms of service apply to all users of the service in every country")
    (1 to 40).map { i =>
      val base = templates(rnd.nextInt(templates.size))
      val text = if (rnd.nextInt(3) == 0) s"$base word${rnd.nextInt(4)}" else base
      val id = if (i % 13 == 0) None else Some(rnd.nextInt(30).toLong)
      (id, text)
    }
  }

  /** Seeded (id, sh) rows whose 16-bit blocks collide: a few block values
    * per block, duplicate ids with different codes, null ids. */
  private def codes(seed: Long): Seq[(Option[Long], Long)] = {
    val rnd = new Random(seed)
    def block() = rnd.nextInt(3).toLong
    (1 to 40).map { i =>
      val sh = (0 until 4).map(b => block() << (16 * b)).reduce(_ | _)
      val id = if (i % 11 == 0) None else Some(rnd.nextInt(25).toLong)
      (id, sh)
    }
  }

  for (seed <- Seq(21L, 22L); intIds <- Seq(false, true)) {
    val kind = if (intIds) "Int" else "Long"
    def typed(df: DataFrame, idCol: String) =
      if (intIds) df.withColumn(idCol, col(idCol).cast("int")) else df

    test(s"synthetic minhash buckets: local == distributed (seed $seed, $kind ids)") {
      val d = typed(templateDocs(seed).toDF("doc_id", "text"), "doc_id")
      for (conf <- Seq(Seq.empty, Seq(Salted)); cap <- Seq(3, 100000)) {
        val pairs = bothPaths(s"minhash seed $seed cap $cap $conf", conf: _*)(
          Dedup.minhashCandidates(d, maxBucketSize = cap))
        assert(pairs.nonEmpty)
        assert(pairs.forall(p => p(0) != null && p(1) != null &&
          p(0).toString.toLong < p(1).toString.toLong), s"ids must be ordered: $pairs")
      }
    }

    test(s"synthetic hamming buckets with payloads: local == distributed (seed $seed, $kind ids)") {
      val d = typed(codes(seed).toDF("doc_id", "sh"), "doc_id")
      for (conf <- Seq(Seq.empty, Seq(Salted)); cap <- Seq(3, 100000)) {
        val pairs = bothPaths(s"hamming seed $seed cap $cap $conf", conf: _*)(
          Dedup.hammingCandidates(d, "sh", maxHamming = 64, maxBucketSize = cap))
        assert(pairs.nonEmpty)
      }
    }
  }

  test("hubs past the cap with payloads: a duplicated hub id, and a null id") {
    // one bucket of 5 rows per block value; the hub id 1 carries two codes
    val dupHub = Seq((Option(1L), 0x50000L), (Option(1L), 0x40000L), (Option(2L), 0x30000L),
      (Option(3L), 0x20000L), (Option(4L), 0x10000L)).toDF("doc_id", "sh")
    val rows = bothPaths("duplicated hub")(
      Dedup.hammingCandidates(dupHub, "sh", maxHamming = 64, maxBucketSize = 3))
    // the hub's least code (0x40000) scores its star edges
    assert(rows.contains(Seq(1L, 2L, java.lang.Long.bitCount(0x40000L ^ 0x30000L).toLong)))
    assert(!rows.contains(Seq(1L, 2L, java.lang.Long.bitCount(0x50000L ^ 0x30000L).toLong)))
    // a null id sorts first in min(struct(id, sh)): no star edges at all
    val nullHub = dupHub.union(Seq((Option.empty[Long], 0x60000L)).toDF("doc_id", "sh"))
    val starless = bothPaths("null hub")(
      Dedup.hammingCandidates(nullHub, "sh", maxHamming = 64, maxBucketSize = 3))
    assert(starless.isEmpty, s"a null id leaves over-cap buckets without edges: $starless")
  }

  test("a pair volume over the limit falls back to the distributed guard") {
    val d = templateDocs(23L).toDF("doc_id", "text")
    val (local, _, labels) = run(Dedup.minhashCandidates(d))
    val units = labels.collectFirst {
      case l if l.startsWith("graft dedup.candidates local") =>
        10000000L - l.split("pairs<=")(1).toLong
    }.getOrElse(fail(s"no local job in ${labels.distinct}"))
    val volume = Dedup.bandedSignatures(d).groupBy("band", "band_key").count()
      .collect().map { r => val s = r.getLong(2); s * (s - 1) / 2 }.sum
    def over(room: Long) = withConf(Limit -> (units + room).toString)(
      run(Dedup.minhashCandidates(d)))
    // the rows fit and the estimate is near the room, but the pairs do
    // not fit: the kernel runs, measures them and hands over
    val (fallback, _, fbLabels) = over(volume - 1)
    assert(hasLabel(fbLabels, "local rows="), s"the kernel must run: ${fbLabels.distinct}")
    assert(hasLabel(fbLabels, s"distributed rows=") &&
      fbLabels.exists(_.endsWith(s"pairs=$volume")),
      s"the fallback must name the measured volume $volume: ${fbLabels.distinct}")
    assert(fallback == local)
    // an estimate far over the room skips the kernel
    val (skipped, _, skipLabels) = over(volume / 4)
    assert(!hasLabel(skipLabels, "local") &&
      skipLabels.exists(l => l.startsWith("graft dedup.candidates distributed") && l.contains("pairs~")),
      s"the sketch must send the corpus to the distributed guard: ${skipLabels.distinct}")
    assert(skipped == local)
  }

  test("string ids and array payloads stay on the distributed guard") {
    val d = templateDocs(24L).toDF("doc_id", "text")
      .withColumn("doc_id", concat(lit("d"), col("doc_id")))
    val (_, _, labels) = run(Dedup.minhashCandidates(d))
    assert(hasLabel(labels, "distributed rows=") && !hasLabel(labels, "local"),
      s"string ids must not pair locally: ${labels.distinct}")
    val emb = table("sf0.001", "embeddings")
    val (_, _, embLabels) = run(Dedup.embeddingNearDup(emb, threshold = 0.5))
    assert(hasLabel(embLabels, "distributed rows=") && !hasLabel(embLabels, "local"),
      s"array payloads must not pair locally: ${embLabels.distinct}")
  }

  test("local minhashCandidates takes two jobs: the banded rows and the kernel") {
    val d = docs("sf0.001")
    val (_, rec) = Recorder.record(spark)(Dedup.minhashCandidates(d))
    val labels = rec.jobs.map(_.label)
    assert(labels.size == 2 && labels.head == "graft dedup.candidates" &&
      labels(1).startsWith("graft dedup.candidates local rows="), s"jobs: $labels")
  }

  test("a key hash only proposes a bucket: colliding keys do not pair") {
    // (key hash, key, id): one hash, two keys; only the two rows of key "a" pair
    val rows = Seq(Row(7L, "a", 1L), Row(7L, "b", 2L), Row(7L, "a", 3L), Row(7L, "b", null))
    val volume = new GraphLocal.Tally
    spark.sparkContext.register(volume)
    val pairs = GraphLocal.pairRows(rows.iterator, 1, 0, 100, 100L, volume).map(_.toSeq).toSeq
    assert(pairs == Seq(Seq(1L, 3L)), s"pairs: $pairs")
    assert(volume.value == 2L, s"volume: two buckets of two rows, got ${volume.value}")
  }
}
