package graft

import org.apache.spark.sql.functions._

import graft.pipeline.Dedup

/** VERDICT r15 #2: the near-cap LSH bucket self-join is SALTED —
  * buckets bigger than √(spark.graft.saltTargetPairs) split into
  * B = ceil(size/√target) hash blocks and pair per block-pair task —
  * and the rewrite must be a pure physical change: the emitted pair
  * set is identical to the plain self-join on every corpus shape.
  *
  * Every corpus here is small enough for the in-task guard, which never
  * salts; `spark.graft.broadcastNodeLimit` 0 pins each test to the
  * distributed guard, so both sides of every comparison are the
  * distributed joins. */
class SaltedLshSpec extends SparkTestBase {
  import spark.implicits._

  private def withConf[A](kv: (String, String)*)(thunk: => A): A = {
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try thunk finally kv.foreach { case (k, _) => spark.conf.unset(k) }
  }

  /** `thunk` on the distributed guard, at salt target `target`. */
  private def salting[A](target: Long)(thunk: => A): A =
    withConf("spark.graft.broadcastNodeLimit" -> "0",
      "spark.graft.saltTargetPairs" -> target.toString)(thunk)

  private def pairsWith(target: Long)(mk: => org.apache.spark.sql.DataFrame)
      : Set[(Any, Any)] =
    salting(target)(mk.collect().map(r => (r.get(0), r.get(1))).toSet)

  test("salting is pair-set neutral on the real documents corpus") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    // sqrtT >= cap: salting structurally off (the r14 plan)
    val plain = pairsWith(1L << 40)(Dedup.minhashCandidates(docs))
    // sqrtT = 4: virtually every bucket takes the salted path
    val salted = pairsWith(16L)(Dedup.minhashCandidates(docs))
    assert(plain.nonEmpty, "corpus must produce candidates")
    assert(salted == plain,
      s"salted path changed the pair set: +${(salted -- plain).take(5)} " +
        s"-${(plain -- salted).take(5)}")
  }

  test("synthetic mega-bucket: salted pair count is exact C(n,2); " +
      "blocks cover intra and cross pairs") {
    // 120 near-identical docs -> one bucket of 120 in every band; with
    // target 25 (sqrtT 5) the bucket splits into 24 blocks, and the
    // complete pair set C(120,2) must survive the block decomposition
    val docs = (1 to 120).map(i =>
      (i.toLong, "the quick brown fox jumps over the lazy dog again and again"))
      .toDF("doc_id", "text")
    val plain = pairsWith(1L << 40)(
      Dedup.minhashCandidates(docs, maxBucketSize = 100000))
    val salted = pairsWith(25L)(
      Dedup.minhashCandidates(docs, maxBucketSize = 100000))
    assert(plain.size == 120 * 119 / 2, s"expected C(120,2), got ${plain.size}")
    assert(salted == plain, "salted mega-bucket must emit the identical set")
  }

  test("hamming (simhash) salted self-join is pair-set neutral, " +
      "payloads stay correctly paired") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val plain = pairsWith(1L << 40)(Dedup.simhashCandidates(docs))
    val salted = pairsWith(16L)(Dedup.simhashCandidates(docs))
    // (hamming rides the row; set-compare over (id_a, id_b) + the
    // distance proves the payload pairing survived the block swap)
    def full(t: Long) = salting(t)(Dedup.simhashCandidates(docs)
      .collect().map(r => (r.get(0), r.get(1), r.get(2))).toSet)
    assert(salted == plain, "simhash pair ids must be salt-invariant")
    assert(full(16L) == full(1L << 40),
      "hamming values must be salt-invariant (payload pairing)")
  }

  test("embedding (cosine) salted self-join is pair-set neutral") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    def full(t: Long) = salting(t)(Dedup.embeddingNearDup(docs, threshold = -1.0)
      .collect().map(r => (r.get(0), r.get(1), math.round(r.getDouble(2) * 1e9))).toSet)
    val plain = full(1L << 40)
    val salted = full(16L)
    assert(plain.nonEmpty, "corpus must produce cosine candidates")
    assert(salted == plain, "cosine pairs must be salt-invariant")
  }

  test("guard interplay: over-cap buckets still take star edges when " +
      "salting is active") {
    val docs = (1 to 60).map(i =>
      (i.toLong, "shared template body for the whole family of documents here"))
      .toDF("doc_id", "text")
    // cap 20 < bucket 60 -> star edges to the min id, salted or not
    val salted = pairsWith(25L)(
      Dedup.minhashCandidates(docs, maxBucketSize = 20))
    val plain = pairsWith(1L << 40)(
      Dedup.minhashCandidates(docs, maxBucketSize = 20))
    assert(salted == plain, "guard branch must be unaffected by salting")
    assert(salted.size == 59, s"star edges: 59 hub pairs, got ${salted.size}")
  }

  test("stats-stage guard: a sub-floor cap skips the eager stats " +
      "checkpoint (fewer construction-time jobs), pair set unchanged") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    def jobsDuring[A](thunk: => A): (A, Int) =
      graft.obs.Recorder.record(spark)(thunk) match { case (a, rec) => (a, rec.jobs.size) }
    def withFloor[A](f: Long)(thunk: => A): A =
      withConf("spark.graft.statsStageMinThreshold" -> f.toString)(thunk)
    // cap = 2 (the p16 shape): the notable filter keeps every bucket of
    // >= 3 rows — bucket-count-sized, NOT provably small. Constructing
    // the frame must not run the eager stats job (floor 16 default);
    // forcing the floor to 0 restores the old always-stage behavior.
    val (dfLazy, jLazy) = salting(1L << 20)(jobsDuring(
      Dedup.minhashCandidates(docs, maxBucketSize = 2)))
    val (dfStaged, jStaged) = salting(1L << 20)(withFloor(0L)(jobsDuring(
      Dedup.minhashCandidates(docs, maxBucketSize = 2))))
    assert(jLazy < jStaged,
      s"sub-floor cap must skip the eager stats checkpoint at " +
        s"construction: lazy=$jLazy staged=$jStaged jobs")
    val a = dfLazy.collect().map(r => (r.get(0), r.get(1))).toSet
    val b = dfStaged.collect().map(r => (r.get(0), r.get(1))).toSet
    assert(a == b && a.nonEmpty,
      s"stage guard must be result-neutral: ${(a -- b).take(3)} / ${(b -- a).take(3)}")
  }

  test("a null id in a salted bucket pairs with nothing") {
    // 30 identical docs and one with a null id: one 31-row bucket per
    // band. The null row gets a block of its own; kept in the salted
    // rows, it passed the cross-block filter and least/greatest turned
    // its pairs into (x, x) self-pairs
    val docs = ((1 to 30).map(i => Option(i.toLong)) :+ None).map(i =>
      (i, "the quick brown fox jumps over the lazy dog again and again"))
      .toDF("doc_id", "text")
    val plain = pairsWith(1L << 40)(Dedup.minhashCandidates(docs, maxBucketSize = 100000))
    val salted = pairsWith(25L)(Dedup.minhashCandidates(docs, maxBucketSize = 100000))
    assert(plain.size == 30 * 29 / 2, s"expected C(30,2), got ${plain.size}")
    assert(salted.forall { case (a, b) => a != b }, s"self-pairs: ${salted.filter(p => p._1 == p._2)}")
    assert(salted == plain, "the salted join must emit the plain set")
  }
}
