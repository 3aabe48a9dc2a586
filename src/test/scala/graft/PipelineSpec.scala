package graft

import graft.pipeline.{Dedup, Similarity, TextAnalysis, Multimodal}
import org.apache.spark.sql.functions._

class PipelineSpec extends SparkTestBase {
  import spark.implicits._

  val sf = "/root/testdata/sf0.001"
  lazy val docs = spark.read.parquet(s"$sf/documents.parquet")
  lazy val embeddings = spark.read.parquet(s"$sf/embeddings.parquet")

  def toyDocs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog near the river bank today"),
    (2L, "the quick brown fox jumps over the lazy dog near the river bank tonight"), // near-dup of 1
    (3L, "completely different content about spark query engines and shuffles"),
    (4L, "the quick brown fox jumps over the lazy dog near the river bank today"), // exact dup of 1
    (5L, "unrelated text mentioning databases and columnar storage formats here")
  ).toDF("doc_id", "text")

  test("exact dedup keeps min id per content hash") {
    val d = Dedup.exact(toyDocs).collect().map(r => (r.getLong(1), r.getLong(2))).toSet
    assert(d.contains((1L, 2L))) // ids 1 and 4 collapse, keep 1, count 2
    assert(d.count(_._2 == 1L) == 3)
    assert(Dedup.exactRows(toyDocs).count() == 4)
  }

  test("minhash LSH finds the near-dup pair, not unrelated pairs") {
    val cand = Dedup.minhashCandidates(toyDocs, k = 64, bands = 32)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(cand.contains((1L, 2L)), s"expected (1,2) in $cand")
    assert(cand.contains((1L, 4L)) && cand.contains((2L, 4L)))
    assert(!cand.contains((3L, 5L)))
    val verified = Dedup.jaccardVerify(
      Dedup.minhashCandidates(toyDocs, k = 64, bands = 32), toyDocs, threshold = 0.5)
    val pairs = verified.collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(pairs((1L, 4L)) == 1.0) // exact dup
    assert(pairs((1L, 2L)) > 0.5 && pairs((1L, 2L)) < 1.0)
  }

  test("hot-bucket guard: identical-boilerplate corpus stays linear, survivors exact") {
    // 1000 identical docs → every LSH band is ONE bucket of 1000 rows; the
    // uncapped self-join would emit ~500k pairs. The guard emits star edges
    // to the bucket-min doc: exactly n-1 candidate pairs.
    val n = 1000
    val boiler = (1 to n).map(i =>
      (i.toLong, "subscribe to our newsletter for the latest updates and offers every week"))
    val distinct = Seq(
      (5001L, "completely different content about spark query engines and shuffles"),
      (5002L, "unrelated text mentioning databases and columnar storage formats here"))
    val corpus = (boiler ++ distinct).toDF("doc_id", "text")
    val cands = Dedup.minhashCandidates(corpus, k = 64, bands = 16, maxBucketSize = 64)
    val got = cands.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got.size == n - 1, s"expected ${n - 1} star edges, got ${got.size}")
    assert(got.forall(_._1 == 1L), "all star edges must point at the bucket-min doc")
    // survivor-set parity: end-to-end dedup keeps 1 boilerplate + 2 distinct
    val kept = Dedup.nearDupDedup(corpus, threshold = 0.8, maxBucketSize = 64)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L, 5001L, 5002L), s"got $kept")
    // side channel reports the capped buckets (one per band)
    val over = Dedup.minhashOversizeBuckets(corpus, k = 64, bands = 16, maxBucketSize = 64)
    assert(over.count() == 16 && over.agg(min("bucket_size")).head.getLong(0) == n)
    // cap above every bucket size ⇒ bit-identical to the unguarded plan
    val capped = Dedup.minhashCandidates(toyDocs, k = 64, bands = 32,
      maxBucketSize = 1000000).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val base = Dedup.minhashCandidates(toyDocs, k = 64, bands = 32)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(capped == base)
    // simhash guard: identical docs share all 4 blocks; star edges only
    val sCands = Dedup.simhashCandidates(corpus, maxHamming = 3, maxBucketSize = 64)
    val sGot = sCands.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(sGot.size == n - 1 && sGot.forall(_._1 == 1L), s"got ${sGot.size} simhash edges")
  }

  test("simhash: near-identical texts have small hamming distance") {
    val sh = toyDocs.select($"doc_id", Dedup.simhash($"text").as("sh"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(sh(1L), sh(4L)) == 0)
    assert(ham(sh(1L), sh(2L)) <= 6)
    assert(ham(sh(1L), sh(3L)) > 10)
    val cands = Dedup.simhashCandidates(toyDocs, maxHamming = 6)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(cands.contains((1L, 4L)) && cands.contains((1L, 2L)))
  }

  test("brute-force knn: self is rank 1 with cosine 1") {
    val probes = embeddings.limit(3)
      .select($"vec_id".as("probe_id"), $"embedding")
    val knn = Similarity.bruteForceKnn(embeddings, probes, k = 5)
    val top = knn.filter($"rank" === 1).collect()
    assert(top.length == 3)
    top.foreach { r =>
      assert(r.getAs[Long]("probe_id") == r.getAs[Long]("corpus_id"))
      assert(math.abs(r.getAs[Double]("cosine") - 1.0) < 1e-6)
    }
  }

  test("lsh knn returns valid approximate neighbors with decent recall") {
    val probes = embeddings.filter($"vec_id" < 5).select($"vec_id".as("probe_id"), $"embedding")
    val exact = Similarity.bruteForceKnn(embeddings, probes, k = 5)
      .select($"probe_id", $"corpus_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // testdata embeddings are uniform random (nearest cosine ≈ 0.33, near-
    // orthogonal): bucket-collision probability ≈ (1-θ/π)^planes, so few
    // planes are the right knob at this similarity regime
    val approx = Similarity.lshKnn(embeddings, probes, k = 5, planes = 4)
      .select($"probe_id", $"corpus_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = exact.count(approx.contains).toDouble / exact.size
    assert(recall >= 0.4, s"recall@5 $recall too low")
    // self-match must always survive (identical vector → identical bucket)
    assert((0L until 5L).forall(i => approx.contains((i, i))))
  }

  test("ivf knn: k-means routing, self-match survives, decent recall") {
    val probes = embeddings.filter($"vec_id" < 5).select($"vec_id".as("probe_id"), $"embedding")
    val exact = Similarity.bruteForceKnn(embeddings, probes, k = 5)
      .select($"probe_id", $"corpus_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // uniform-random embeddings are the worst case for IVF (no cluster
    // structure) — probing 8/16 cells scans ~half the corpus; recall
    // should be well above that fraction since near neighbors concentrate
    // in near cells
    val ivf = Similarity.ivfKnn(embeddings, probes, k = 5, cells = 16, nProbe = 8)
      .select($"probe_id", $"corpus_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = exact.count(ivf.contains).toDouble / exact.size
    assert(recall >= 0.5, s"recall@5 $recall too low")
    // a probe's own vector lands in its assigned cell = its nearest cell
    assert((0L until 5L).forall(i => ivf.contains((i, i))))
    // determinism: same codebook, same result
    val again = Similarity.ivfKnn(embeddings, probes, k = 5, cells = 16, nProbe = 8)
      .select($"probe_id", $"corpus_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(ivf == again)
  }

  test("ivf split API: persisted index + codebook reproduce the one-shot result") {
    // production shape: codebook + cell assignments built once, probe
    // batches query the index — must equal the one-shot ivfKnn exactly
    val probes = embeddings.filter($"vec_id" < 5).select($"vec_id".as("probe_id"), $"embedding")
    val oneShot = Similarity.ivfKnn(embeddings, probes, k = 5, cells = 16, nProbe = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSet
    val codebook = Similarity.kmeansCentroids(embeddings, cells = 16)
    val index = Similarity.ivfIndex(embeddings, codebook)
    // round-trip the index through parquet — the persistable claim
    val dir = s"/tmp/graft-ivf-index-${java.util.UUID.randomUUID()}"
    index.write.parquet(dir)
    val reloaded = spark.read.parquet(dir)
    val split = Similarity.ivfKnnWithIndex(reloaded, codebook, probes, k = 5, nProbe = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSet
    assert(split == oneShot)
  }

  test("product quantization: m-int codes, exact under zero quantization error") {
    // corpus == seeds (16 distinct vectors, codes = 16): every subvector
    // is its own centroid, quantization error is zero, so ADC distance is
    // the exact L2² and PQ top-k must equal brute-force L2 top-k
    val corpus = embeddings.limit(16).select("vec_id", "embedding")
    val books = Similarity.pqTrain(corpus, m = 8, codes = 16, iters = 2)
    assert(books.length == 8 && books(0).length == 16 && books(0)(0).length == 8)
    val index = Similarity.pqIndex(corpus, books)
    assert(index.select(size($"code")).distinct().collect().map(_.getInt(0)).toSeq == Seq(8),
      "codes must be m ints (the 32x compression claim)")
    // persistable: parquet round trip
    val dir = s"/tmp/graft-pq-${java.util.UUID.randomUUID()}"
    index.write.parquet(dir)
    val probes = corpus.filter($"vec_id" < 4)
      .select($"vec_id".as("probe_id"), $"embedding")
    val got = Similarity.pqKnn(spark.read.parquet(dir), books, probes, k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
    // exact L2² reference, summed per-subspace like the kernel
    val vecs = corpus.collect().map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    def l2(a: Seq[Float], b: Seq[Float]): Double =
      (0 until 8).map { j =>
        var d = 0.0
        (0 until 8).foreach { i =>
          val diff = a(j * 8 + i).toDouble - b(j * 8 + i).toDouble; d += diff * diff
        }
        d
      }.sum
    (0L until 4L).foreach { p =>
      val expect = vecs.keys.toSeq
        .map(v => (v, l2(vecs(p), vecs(v))))
        .sortBy { case (v, dist) => (dist, v) }.take(5)
      val mine = got.filter(_._1 == p).sortBy(_._4)
      assert(mine.map(_._2).toSeq == expect.map(_._1),
        s"probe $p: got ${mine.toSeq} expected $expect")
      mine.zip(expect).foreach { case ((_, _, adist, _), (_, dist)) =>
        assert(math.abs(adist - dist) <= 1e-9 * math.max(1.0, dist),
          s"probe $p adist $adist != exact $dist")
      }
      // self-match at distance zero, rank 1
      assert(mine.head._2 == p && mine.head._3 == 0.0)
    }
    // deterministic training: identical codebooks on a re-run
    val again = Similarity.pqTrain(corpus, m = 8, codes = 16, iters = 2)
    assert(books.flatten.flatten.toSeq == again.flatten.flatten.toSeq)
  }

  test("ivf-pq (IVFADC): residual codes, exact under zero quantization error") {
    // corpus == book seeds (16 distinct vectors, codes = 16): every
    // residual is its own centroid, quantization error is zero, and the
    // residual identity  adist(p,c) = L2²((p−ctr[cell(c)]) − res_c)
    // = L2²(p−c)  makes IVFADC at full nProbe equal exact L2 top-k
    val corpus = embeddings.limit(16).select("vec_id", "embedding")
    val cb = Similarity.kmeansCentroids(corpus, cells = 4, iters = 1)
    val books = Similarity.ivfPqTrain(corpus, cb, m = 8, codes = 16, iters = 2)
    assert(books.length == 8 && books(0).length == 16 && books(0)(0).length == 8)
    val index = Similarity.ivfPqIndex(corpus, cb, books)
    assert(index.columns.toSeq == Seq("corpus_id", "cell", "code"))
    // persistable: (cell, m-int code) rows round-trip through parquet
    val dir = s"/tmp/graft-ivfpq-${java.util.UUID.randomUUID()}"
    index.write.parquet(dir)
    val probes = corpus.filter($"vec_id" < 4)
      .select($"vec_id".as("probe_id"), $"embedding")
    val got = Similarity.ivfPqKnn(spark.read.parquet(dir), cb, books, probes,
        k = 5, nProbe = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
    val vecs = corpus.collect().map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    def l2(a: Seq[Float], b: Seq[Float]): Double = {
      var d = 0.0
      (0 until 64).foreach { i =>
        val diff = a(i).toDouble - b(i).toDouble; d += diff * diff
      }
      d
    }
    (0L until 4L).foreach { p =>
      val expect = vecs.keys.toSeq
        .map(v => (v, l2(vecs(p), vecs(v))))
        .sortBy { case (v, dist) => (dist, v) }.take(5)
      val mine = got.filter(_._1 == p).sortBy(_._4)
      assert(mine.map(_._2).toSeq == expect.map(_._1),
        s"probe $p: got ${mine.toSeq} expected $expect")
      // the residual subtraction reassociates the arithmetic, so exact-
      // L2 agreement is up to FP noise — except self-distance, which is
      // identical doubles subtracted: exactly zero
      mine.zip(expect).foreach { case ((_, _, adist, _), (_, dist)) =>
        assert(math.abs(adist - dist) <= 1e-9 * math.max(1.0, dist),
          s"probe $p adist $adist != exact $dist")
      }
      assert(mine.head._2 == p && mine.head._3 == 0.0)
    }
    // corpus-scale probe batches: broadcast off must change nothing
    val off = Similarity.ivfPqKnn(spark.read.parquet(dir), cb, books, probes,
        k = 5, nProbe = 4, broadcastProbes = Some(false))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSet
    assert(off == got.map(t => (t._1, t._2, t._4)).toSet)
  }

  test("sq8: codes match local reference, knn exact parity, high recall") {
    val corpus = embeddings.limit(64).select("vec_id", "embedding")
    val (mins, maxs) = Similarity.sqTrain(corpus)
    val vecs = corpus.collect().map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    // trained extrema == plain per-dim min/max over the collected corpus
    (0 until 64).foreach { i =>
      val col = vecs.values.map(_(i).toDouble)
      assert(mins(i) == col.min && maxs(i) == col.max)
    }
    // codes: distributed encoding == local reference arithmetic; round-trip
    def codeOf(v: Seq[Float]): Seq[Int] = (0 until 64).map { i =>
      val span = maxs(i) - mins(i)
      if (span == 0.0) 0
      else {
        val c = math.floor((v(i) - mins(i)) * (255.0 / span))
        if (c < 0.0) 0 else if (c > 255.0) 255 else c.toInt
      }
    }
    val dir = s"/tmp/graft-sq-${java.util.UUID.randomUUID()}"
    Similarity.sqIndex(corpus, mins, maxs).write.parquet(dir)
    val codes = spark.read.parquet(dir).collect()
      .map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    assert(codes.size == 64)
    codes.foreach { case (id, code) =>
      assert(code.forall(c => c >= 0 && c <= 255))
      assert(code == codeOf(vecs(id)), s"vec $id")
    }
    // knn == local reference over dequantized midpoints
    val probes = corpus.filter($"vec_id" < 4)
      .select($"vec_id".as("probe_id"), $"embedding")
    val got = Similarity.sqKnn(spark.read.parquet(dir), mins, maxs, probes, k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
    def sqdist(p: Seq[Float], code: Seq[Int]): Double = {
      var s = 0.0
      (0 until 64).foreach { i =>
        val span = maxs(i) - mins(i)
        val deq = if (span == 0.0) mins(i) else mins(i) + (code(i) + 0.5) * (span / 255.0)
        val d = p(i) - deq
        s += d * d
      }
      s
    }
    (0L until 4L).foreach { p =>
      val expect = codes.toSeq.map { case (id, c) => (id, sqdist(vecs(p), c)) }
        .sortBy { case (id, dist) => (dist, id) }.take(5)
      val mine = got.filter(_._1 == p).sortBy(_._4)
      assert(mine.map(t => (t._2, t._3)).toSeq == expect, s"probe $p")
    }
    // int8 error ≪ inter-vector distance: SQ top-5 ≈ exact L2 top-5
    import spark.implicits._
    def l2(a: Seq[Float], b: Seq[Float]): Double = {
      var s = 0.0
      (0 until 64).foreach { i => val d = a(i).toDouble - b(i).toDouble; s += d * d }
      s
    }
    val truth = (0L until 4L).flatMap { p =>
      vecs.toSeq.map { case (id, v) => (id, l2(vecs(p), v)) }
        .sortBy { case (id, d) => (d, id) }.take(5).zipWithIndex
        .map { case ((id, _), r) => (p, id, r + 1) }
    }.toDF("probe_id", "corpus_id", "rank")
    val recall = Similarity.recallAtK(
        Similarity.sqKnn(spark.read.parquet(dir), mins, maxs, probes, k = 5,
          broadcastProbes = Some(false)),
        truth, k = 5)
      .agg(org.apache.spark.sql.functions.avg("recall")).head.getDouble(0)
    assert(recall >= 0.8, s"sq8 recall@5 = $recall")
  }

  test("quantization guards: empty corpus fails loudly, null probes drop, pq broadcast-off parity") {
    import spark.implicits._
    // sqTrain on zero usable rows must throw, not return empty bounds
    val empty = Seq.empty[(Long, Array[Float])].toDF("vec_id", "embedding")
    intercept[IllegalArgumentException] { Similarity.sqTrain(empty) }
    val allNull = Seq((1L, null.asInstanceOf[Array[Float]])).toDF("vec_id", "embedding")
    intercept[IllegalArgumentException] { Similarity.sqTrain(allNull) }
    // pqKnn: a null-embedding probe contributes no rows (and no corpus
    // scan); broadcast off returns identical results
    val corpus = embeddings.limit(16).select("vec_id", "embedding")
    val books = Similarity.pqTrain(corpus, m = 8, codes = 16, iters = 1)
    val idx = Similarity.pqIndex(corpus, books)
    val probes = corpus.filter($"vec_id" < 3)
      .select($"vec_id".as("probe_id"), $"embedding")
      .unionAll(Seq((99L, null.asInstanceOf[Array[Float]]))
        .toDF("probe_id", "embedding"))
    val on = Similarity.pqKnn(idx, books, probes, k = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3)))
    assert(on.nonEmpty && !on.exists(_._1 == 99L))
    val off = Similarity.pqKnn(idx, books, probes, k = 4, broadcastProbes = Some(false))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3)))
    assert(on.toSet == off.toSet)
  }

  test("ann recall@k: truth-driven join, missed probes report 0") {
    import spark.implicits._
    val truth = Seq(
      (0L, 10L, 1), (0L, 11L, 2), (0L, 12L, 3),
      (1L, 20L, 1), (1L, 21L, 2), (1L, 22L, 3),
      (2L, 30L, 1), (2L, 31L, 2) // corpus smaller than k: truth_k = 2
    ).toDF("probe_id", "corpus_id", "rank")
    val approx = Seq(
      (0L, 10L, 1), (0L, 99L, 2), (0L, 12L, 3), // 2 of 3 hit
      (0L, 11L, 4),                             // past k: must NOT count
      (2L, 31L, 1), (2L, 98L, 2)                // 1 of 2; probe 1 missing
    ).toDF("probe_id", "corpus_id", "rank")
    val got = Similarity.recallAtK(approx, truth, k = 3)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(got == Map(
      0L -> ((2L, 3L, 2.0 / 3)),
      1L -> ((0L, 3L, 0.0)),     // index missed the probe entirely
      2L -> ((1L, 2L, 0.5))))    // divides by actual truth size, not k
    // recall of the exact result against itself is 1.0 everywhere
    val self = Similarity.recallAtK(truth, truth, k = 3)
      .collect().map(_.getDouble(3))
    assert(self.length == 3 && self.forall(_ == 1.0))
  }

  test("recall@k guards duplicate pairs in an external approx result") {
    import spark.implicits._
    val truth = Seq((0L, 10L, 1), (0L, 11L, 2)).toDF("probe_id", "corpus_id", "rank")
    // a non-graft producer emitting the same hit at two ranks <= k must
    // not fan out the truth join: recall stays <= 1 (ADVICE r6)
    val approx = Seq((0L, 10L, 1), (0L, 10L, 2), (0L, 10L, 3))
      .toDF("probe_id", "corpus_id", "rank")
    val got = Similarity.recallAtK(approx, truth, k = 3)
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(got.toSeq == Seq((1L, 2L, 0.5)), s"got ${got.toSeq}")
  }

  test("ragged vectors fail loudly in distance kernels and cell routing") {
    import spark.implicits._
    val a = Seq((1L, Array(1f, 2f, 3f))).toDF("id", "x")
      .crossJoin(Seq(Tuple1(Array(1f, 2f))).toDF("y"))
    // codegen path
    val eCos = intercept[Exception] {
      a.select(graft.functions.VectorExpressions.cosine(spark, $"x", $"y")).collect()
    }
    assert(eCos.getMessage.contains("length mismatch")
      || eCos.getCause != null && eCos.getCause.getMessage.contains("length mismatch"))
    val eL2 = intercept[Exception] {
      a.select(graft.functions.VectorExpressions.l2sq(
        spark, $"x", $"y".cast("array<double>"))).collect()
    }
    assert(eL2.getMessage.contains("length mismatch")
      || eL2.getCause != null && eL2.getCause.getMessage.contains("length mismatch"))
    // routing kernels: a 2-dim probe against a 3-dim codebook throws
    // instead of silently mis-routing (unified ragged policy, ADVICE r6)
    val centroids = Array(Array(0.0, 0.0, 0.0), Array(1.0, 1.0, 1.0))
    val probes = Seq((7L, Array(1f, 2f))).toDF("probe_id", "embedding")
    val corpus3 = Seq((1L, Array(0f, 0f, 0f))).toDF("vec_id", "embedding")
    val eRoute = intercept[Exception] {
      Similarity.ivfKnnWithIndex(
        Similarity.ivfIndex(corpus3, centroids), centroids, probes, k = 1).collect()
    }
    assert(eRoute.getMessage.contains("mismatch")
      || eRoute.getCause != null && eRoute.getCause.getMessage.contains("mismatch"))
  }

  test("ivf broadcastProbes=false: identical results, no broadcast on probe side") {
    // corpus-scale probe batches must be able to degrade to a shuffle
    // join instead of OOMing the driver on a forced broadcast
    val probes = embeddings.filter($"vec_id" < 5).select($"vec_id".as("probe_id"), $"embedding")
    val codebook = Similarity.kmeansCentroids(embeddings, cells = 16)
    val index = Similarity.ivfIndex(embeddings, codebook)
    val hinted = Similarity.ivfKnnWithIndex(index, codebook, probes, k = 5, nProbe = 8)
    val unhinted = Similarity.ivfKnnWithIndex(index, codebook, probes, k = 5, nProbe = 8,
      broadcastProbes = Some(false))
    assert(unhinted.collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSet ==
      hinted.collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSet)
    // the hint is in the logical plan only when asked for: with
    // broadcastProbes=false AND auto-broadcast disabled, the physical
    // plan must contain no BroadcastHashJoin (AQE may still pick one for
    // a genuinely small side when auto-broadcast is on — that's the
    // optimizer choosing, which is the point)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val phys = Similarity.ivfKnnWithIndex(index, codebook, probes, k = 5, nProbe = 8,
        broadcastProbes = Some(false))
        .queryExecution.executedPlan.toString
      assert(!phys.contains("BroadcastHashJoin"), s"unexpected broadcast:\n$phys")
      val hintedPhys = Similarity.ivfKnnWithIndex(index, codebook, probes, k = 5, nProbe = 8)
        .queryExecution.executedPlan.toString
      assert(hintedPhys.contains("BroadcastHashJoin"),
        s"hint should force broadcast even with auto-broadcast off:\n$hintedPhys")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("heap knn tails: parity with the window plan, no window in the plan") {
    // VERDICT r6 item #5: heap=true composes the bounded-buffer top-k
    // (TopK keep-n-of-2n) into the knn tails so <=k rows per probe per
    // task cross the wire. Output must equal the window plan exactly —
    // ranks included — on the p08 (cosine desc) and p41 (L2² asc) shapes.
    val probes = embeddings.filter($"vec_id" < 8)
      .select($"vec_id".as("probe_id"), $"embedding")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    val bfW = Similarity.bruteForceKnn(embeddings, probes, k = 10)
    val bfH = Similarity.bruteForceKnn(embeddings, probes, k = 10, heap = true)
    assert(rows(bfH) == rows(bfW))
    val (mins, maxs) = Similarity.sqTrain(embeddings)
    val sqIdx = Similarity.sqIndex(embeddings, mins, maxs)
    val sqW = Similarity.sqKnn(sqIdx, mins, maxs, probes, k = 10)
    val sqH = Similarity.sqKnn(sqIdx, mins, maxs, probes, k = 10, heap = true)
    assert(rows(sqH) == rows(sqW))
    // plan shape: the heap tail is an aggregation, not a window sort
    val heapPlan = bfH.queryExecution.executedPlan.toString
    assert(!heapPlan.contains("Window"), s"heap plan must not window-sort:\n$heapPlan")
    assert(heapPlan.contains("ObjectHashAggregate") || heapPlan.contains("SortAggregate"),
      s"heap plan must aggregate:\n$heapPlan")
    val windowPlan = bfW.queryExecution.executedPlan.toString
    assert(windowPlan.contains("Window"))
    // the pq/ivfpq shapes ride the same rankTopK tail; spot-check one
    val cb = Similarity.kmeansCentroids(embeddings, cells = 8, iters = 0)
    val books = Similarity.ivfPqTrain(embeddings, cb, m = 8, codes = 8, iters = 0)
    val idx = Similarity.ivfPqIndex(embeddings, cb, books)
    val pqW = Similarity.ivfPqKnn(idx, cb, books, probes, k = 10, nProbe = 2)
    val pqH = Similarity.ivfPqKnn(idx, cb, books, probes, k = 10, nProbe = 2, heap = true)
    assert(rows(pqH) == rows(pqW))
  }

  test("ivfpq refine: exact re-rank recovers recall at equal nProbe") {
    // IVFADC+R (Jégou §V): same routing budget, top-r ADC shortlist
    // re-scored exactly — recall@10 must not drop and should recover
    // what quantization error cost the unrefined ranking
    val probes = embeddings.filter($"vec_id" < 8)
      .select($"vec_id".as("probe_id"), $"embedding")
    val cb = Similarity.kmeansCentroids(embeddings, cells = 8, iters = 2)
    val books = Similarity.ivfPqTrain(embeddings, cb, m = 8, codes = 8, iters = 2)
    val index = Similarity.ivfPqIndex(embeddings, cb, books)
    // exact L2 ground truth = refine with full routing + full shortlist
    val truth = Similarity.ivfPqKnnRefine(index, cb, books, embeddings, probes,
      k = 10, r = 500, nProbe = 8)
    def rec(df: org.apache.spark.sql.DataFrame): Double =
      Similarity.recallAtK(df, truth, k = 10).agg(avg("recall")).head.getDouble(0)
    val unrefined = rec(Similarity.ivfPqKnn(index, cb, books, probes, k = 10, nProbe = 2))
    val refined = rec(Similarity.ivfPqKnnRefine(index, cb, books, embeddings, probes,
      k = 10, r = 50, nProbe = 2))
    assert(refined >= unrefined,
      s"refine must not lose recall: refined $refined vs unrefined $unrefined")
    assert(refined >= 0.8, s"refined recall@10 $refined")
    // r >= k is enforced
    intercept[IllegalArgumentException] {
      Similarity.ivfPqKnnRefine(index, cb, books, embeddings, probes, k = 10, r = 5)
    }
    // plan shape: the shortlist and probe joins must broadcast-hash into
    // the raw table — never a cartesian — so the corpus scan reads raw
    // vectors only where the shortlist lands
    val plan = Similarity.ivfPqKnnRefine(index, cb, books, embeddings, probes,
      k = 10, r = 50, nProbe = 2).queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"refine must broadcast-hash:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"refine must never cartesian:\n$plan")
    // corpus-scale probe sets: broadcast-off drops the hints on the
    // outer joins too (shuffle join instead of driver OOM) — results
    // identical
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSet
    val offRefined = Similarity.ivfPqKnnRefine(index, cb, books, embeddings, probes,
      k = 10, r = 50, nProbe = 2, broadcastProbes = Some(false))
    assert(pairs(offRefined) == pairs(Similarity.ivfPqKnnRefine(
      index, cb, books, embeddings, probes, k = 10, r = 50, nProbe = 2)))
    val prevAuto = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val offPlan = Similarity.ivfPqKnnRefine(index, cb, books, embeddings, probes,
        k = 10, r = 50, nProbe = 2, broadcastProbes = Some(false))
        .queryExecution.executedPlan.toString
      assert(!offPlan.contains("Broadcast"), s"broadcast-off refine must not broadcast:\n$offPlan")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevAuto)
    info(s"recall@10: unrefined $unrefined -> refined $refined")
  }

  test("sampled codebook training: deterministic, O(sample), recall holds") {
    // VERDICT r6 #3: training must not need iters × full-corpus passes.
    // A 200-row deterministic sample of the 500-row corpus trains a
    // codebook whose IVF index keeps recall@10 at the full-trained
    // index's level (assignment still covers the FULL corpus — only the
    // Lloyd scans shrink).
    val probes = embeddings.filter($"vec_id" < 8)
      .select($"vec_id".as("probe_id"), $"embedding")
    val truth = Similarity.bruteForceKnn(embeddings, probes, k = 10)
    def avgRecall(centroids: Array[Array[Double]], nProbe: Int): Double =
      Similarity.recallAtK(
        Similarity.ivfKnnWithIndex(Similarity.ivfIndex(embeddings, centroids),
          centroids, probes, k = 10, nProbe = nProbe),
        truth, k = 10)
        .agg(avg("recall")).head.getDouble(0)
    val full = Similarity.kmeansCentroids(embeddings, cells = 8, iters = 3)
    val sampled = Similarity.kmeansCentroids(embeddings, cells = 8, iters = 3,
      maxTrainRows = 250L)
    assert(!sampled.sameElements(full)) // the sample genuinely changed training
    val (rFull, rSampled) = (avgRecall(full, 4), avgRecall(sampled, 4))
    // gate: the sampled codebook keeps the index usable at equal nProbe,
    // and a one-step nProbe bump recovers full-trained recall — the
    // standard IVF recall/scan trade, now tunable with the same
    // recallAtK machinery (p40)
    assert(rSampled >= 0.75, s"sampled-trained recall $rSampled vs full-trained $rFull")
    assert(avgRecall(sampled, 6) >= rFull - 0.05,
      s"sampled codebook at nProbe=6 must recover full-trained recall $rFull")
    // determinism: identical codebook on re-run; cap >= corpus is identity
    val again = Similarity.kmeansCentroids(embeddings, cells = 8, iters = 3,
      maxTrainRows = 250L)
    assert(sampled.map(_.toSeq).toSeq == again.map(_.toSeq).toSeq)
    val uncapped = Similarity.kmeansCentroids(embeddings, cells = 8, iters = 3,
      maxTrainRows = 1000000L)
    assert(uncapped.map(_.toSeq).toSeq == full.map(_.toSeq).toSeq)
    // pq/ivfpq trainers accept the same cap and stay deterministic
    val pqS = Similarity.pqTrain(embeddings, m = 8, codes = 8, maxTrainRows = 200L)
    val pqS2 = Similarity.pqTrain(embeddings, m = 8, codes = 8, maxTrainRows = 200L)
    assert(pqS.map(_.map(_.toSeq).toSeq).toSeq == pqS2.map(_.map(_.toSeq).toSeq).toSeq)
    // session conf drives the default (the maxBucketSize pattern);
    // an explicit per-call value still wins over it
    try {
      spark.conf.set("spark.graft.maxTrainRows", "250")
      val viaConf = Similarity.kmeansCentroids(embeddings, cells = 8, iters = 3)
      assert(viaConf.map(_.toSeq).toSeq == sampled.map(_.toSeq).toSeq,
        "unset maxTrainRows must resolve through spark.graft.maxTrainRows")
      val explicit = Similarity.kmeansCentroids(embeddings, cells = 8, iters = 3,
        maxTrainRows = 0L)
      assert(explicit.map(_.toSeq).toSeq == full.map(_.toSeq).toSeq,
        "explicit 0 (full input) must override the conf")
    } finally spark.conf.unset("spark.graft.maxTrainRows")
  }

  test("spark.graft.broadcastProbes conf drives all indexed knn paths") {
    // one auditable session knob (VERDICT r6 #7): None defers to the
    // conf; an explicit Some(b) still wins over it
    val probes = embeddings.filter($"vec_id" < 3).select($"vec_id".as("probe_id"), $"embedding")
    val codebook = Similarity.kmeansCentroids(embeddings, cells = 8)
    val index = Similarity.ivfIndex(embeddings, codebook)
    val books = Similarity.pqTrain(embeddings, m = 8, codes = 8)
    val pqIdx = Similarity.pqIndex(embeddings, books)
    val (mins, maxs) = Similarity.sqTrain(embeddings)
    val sqIdx = Similarity.sqIndex(embeddings, mins, maxs)
    val prevAuto = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.graft.broadcastProbes", "false")
      val plans = Seq(
        Similarity.ivfKnnWithIndex(index, codebook, probes, k = 3, nProbe = 4),
        Similarity.pqKnn(pqIdx, books, probes, k = 3),
        Similarity.sqKnn(sqIdx, mins, maxs, probes, k = 3))
        .map(_.queryExecution.executedPlan.toString)
      // keyless pq/sq joins broadcast as BroadcastNestedLoopJoin, the
      // cell join as BroadcastHashJoin — match the common prefix
      plans.foreach(p =>
        assert(!p.contains("Broadcast"), s"conf=false must not broadcast:\n$p"))
      // explicit override beats the conf
      val forced = Similarity.pqKnn(pqIdx, books, probes, k = 3,
        broadcastProbes = Some(true)).queryExecution.executedPlan.toString
      assert(forced.contains("Broadcast"), s"Some(true) must broadcast:\n$forced")
      // results identical either way
      spark.conf.set("spark.graft.broadcastProbes", "true")
      val on = Similarity.sqKnn(sqIdx, mins, maxs, probes, k = 3).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSet
      spark.conf.set("spark.graft.broadcastProbes", "false")
      val off = Similarity.sqKnn(sqIdx, mins, maxs, probes, k = 3).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSet
      assert(on == off)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevAuto)
      spark.conf.unset("spark.graft.broadcastProbes")
    }
  }

  test("embedding near-dup finds self-similar pairs deterministically") {
    val dupped = embeddings.limit(50)
      .unionAll(embeddings.limit(5).withColumn("vec_id", $"vec_id" + 1000L))
    val near = Dedup.embeddingNearDup(dupped, threshold = 0.999)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    (0L until 5L).foreach(i => assert(near.contains((i, i + 1000L)), s"missing ($i,${i + 1000L})"))
  }

  test("embedding hot-bucket guard: identical vectors stay linear, cap-off parity") {
    // 300 copies of one embedding → one hyperplane bucket; the unguarded
    // self-join would emit ~45k pairs. Guard: exactly n-1 star edges from
    // the min-id copy, all cosine 1.
    val n = 300
    val one = embeddings.filter($"vec_id" === 0L).select($"embedding")
      .collect().head.getSeq[Float](0)
    val dup = (1 to n).map(i => (i.toLong, one)).toDF("vec_id", "embedding")
    val others = embeddings.filter($"vec_id" >= 10L && $"vec_id" < 15L)
      .select(($"vec_id" + 9000L).as("vec_id"), $"embedding")
    val corpus = dup.unionAll(others)
    val near = Dedup.embeddingNearDup(corpus, threshold = 0.999, maxBucketSize = 32)
    val got = near.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got.size == n - 1, s"expected ${n - 1} star edges, got ${got.size}")
    assert(got.forall(_._1 == 1L), "all star edges must point at the bucket-min vector")
    // cap above every bucket size ⇒ identical to the unguarded pair set
    val sample = embeddings.limit(50)
      .unionAll(embeddings.limit(5).withColumn("vec_id", $"vec_id" + 1000L))
    val capped = Dedup.embeddingNearDup(sample, threshold = 0.999, maxBucketSize = 1000000)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val base = Dedup.embeddingNearDup(sample, threshold = 0.999)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(capped == base)
  }

  test("components falls back to star contraction when maxIter can't converge") {
    // depth-50 chain: min-label needs ~50 rounds; maxIter=5 exits
    // unconverged and must hand off to componentsStar rather than return
    // partial labels
    val chain = (1 until 50).map(i => (i.toLong, (i + 1).toLong)).toDF("id_a", "id_b")
    // pin the distributed loop: below 4 x 49 rows the chain would run
    // in one task, which never iterates
    spark.conf.set("spark.graft.broadcastNodeLimit", "100")
    val comp = try Dedup.components(chain, maxIter = 5).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    finally spark.conf.unset("spark.graft.broadcastNodeLimit")
    assert(comp.size == 50 && comp.values.forall(_ == 1L),
      s"expected one component labeled 1, got ${comp.values.toSet}")
  }

  test("spark.graft.maxBucketSize conf drives guard caps when no per-call value given") {
    // 10 identical docs: under a cap they collapse to 9 star edges from
    // the min id; over a cap (or at the 4096 default) they emit the full
    // 45-pair clique
    val docs = (1 to 10).map(i =>
      (i.toLong, "identical boilerplate content repeated across every document here"))
      .toDF("doc_id", "text")
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    try {
      spark.conf.set("spark.graft.maxBucketSize", "4")
      val starred = pairs(Dedup.minhashCandidates(docs))
      assert(starred == (2 to 10).map(i => (1L, i.toLong)).toSet,
        s"conf cap 4 should star-collapse, got $starred")
      // explicit per-call value overrides the conf
      val explicit = pairs(Dedup.minhashCandidates(docs, maxBucketSize = 1000000))
      assert(explicit.size == 45, s"explicit cap should win over conf, got ${explicit.size}")
      // invalid conf value fails loudly at plan build
      spark.conf.set("spark.graft.maxBucketSize", "1")
      intercept[IllegalArgumentException](Dedup.minhashCandidates(docs))
    } finally spark.conf.unset("spark.graft.maxBucketSize")
    // unset → built-in 4096 default: full clique
    assert(pairs(Dedup.minhashCandidates(docs)).size == 45)
  }

  test("components star fallback handles non-integral (string) ids via surrogates") {
    // real corpora key on URL/hash strings; the unconverged exit must
    // produce the same min-ORIGINAL-id labels through the surrogate-long
    // mapping, not partial labels. Depth-50 chain + a separate pair + a
    // self-loop-only node exercise the join-back and re-attach paths.
    def d(i: Int) = f"doc$i%03d"
    val chain = (1 until 50).map(i => (d(i), d(i + 1)))
    val extra = Seq((d(900), d(901)), (d(950), d(950)))
    val edges = (chain ++ extra).toDF("id_a", "id_b")
    // string ids never run in one task; the pin keeps it so regardless
    spark.conf.set("spark.graft.broadcastNodeLimit", "100")
    val comp = try Dedup.components(edges, maxIter = 5).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    finally spark.conf.unset("spark.graft.broadcastNodeLimit")
    val expected =
      (1 to 50).map(i => d(i) -> d(1)).toMap ++
        Map(d(900) -> d(900), d(901) -> d(900), d(950) -> d(950))
    assert(comp == expected, s"got $comp")
    // converged runs on string ids stay on the label-propagation path
    // and must agree with the fallback's labels
    val conv = Dedup.components(edges, maxIter = 60).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(conv == expected)
  }

  test("end-to-end embedding dedup keeps one representative per duplicate cluster") {
    // vectors 0-49 plus re-encoded copies of 0-4 under new ids: the copies
    // must collapse onto their originals, everything else survives
    val dupped = embeddings.limit(50)
      .unionAll(embeddings.limit(5).withColumn("vec_id", $"vec_id" + 1000L))
    val kept = Dedup.embeddingDedup(dupped, threshold = 0.999)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(kept == (0L until 50L).toSet, s"got $kept")
    // star CC produces the identical survivor set
    val starComp = Dedup.componentsStar(
      Dedup.embeddingNearDup(dupped, threshold = 0.999).select("id_a", "id_b"))
    val keptStar = Dedup.survivorsOf(dupped, "vec_id", starComp)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(keptStar == kept)
  }

  test("semantic dedup: trained codebook collapses duplicates, hot-cell guard stays linear") {
    // SemDeDup path with REAL Lloyd iterations (the oracle covers the
    // seed-codebook path): re-encoded copies of vectors 0-4 must collapse
    // onto their originals under any codebook, since identical vectors
    // share a cell
    val dupped = embeddings.limit(50)
      .unionAll(embeddings.limit(5).withColumn("vec_id", $"vec_id" + 1000L))
    val codebook = Similarity.kmeansCentroids(dupped, cells = 4, iters = 3)
    val kept = Dedup.semanticDedup(dupped, codebook, threshold = 0.999)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(kept == (0L until 50L).toSet, s"got $kept")
    // star CC parity
    val starComp = Dedup.componentsStar(Dedup.semanticPairs(dupped, codebook,
      threshold = 0.999).select("id_a", "id_b"))
    val keptStar = Dedup.survivorsOf(dupped, "vec_id", starComp)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(keptStar == kept)
    // hot cell: 300 copies of one embedding all route to one cell; the
    // guard emits exactly n-1 star edges from the min-id copy
    val one = embeddings.filter($"vec_id" === 0L).select($"embedding")
      .collect().head.getSeq[Float](0)
    val n = 300
    val identical = (1 to n).map(i => (i.toLong, one)).toDF("vec_id", "embedding")
    val cb2 = Similarity.kmeansCentroids(identical, cells = 4, iters = 1)
    val pairs = Dedup.semanticPairs(identical, cb2, threshold = 0.999,
      maxBucketSize = 32).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.size == n - 1, s"expected ${n - 1} star edges, got ${pairs.size}")
    assert(pairs.forall(_._1 == 1L), "star edges must point at the cell-min vector")
    // and the end-to-end dedup keeps exactly one representative
    val surv = Dedup.semanticDedup(identical, cb2, threshold = 0.999,
      maxBucketSize = 32).select("vec_id").collect().map(_.getLong(0)).toSet
    assert(surv == Set(1L), s"got $surv")
  }

  test("incremental semantic pairs: delta vs persisted index, stats parity, hot cell") {
    // corpus 0-49; delta = copies of 0-4 under 1000+ ids, plus two fresh
    // copies of vector 10 (2000, 2001) — a delta×delta duplicate pair
    val corpus = embeddings.limit(50).select("vec_id", "embedding")
    val ten = embeddings.filter($"vec_id" === 10L).select($"embedding")
      .collect().head.getSeq[Float](0)
    val delta = embeddings.limit(5).select("vec_id", "embedding")
      .withColumn("vec_id", $"vec_id" + 1000L)
      .unionAll(Seq((2000L, ten), (2001L, ten)).toDF("vec_id", "embedding"))
    val cb = Similarity.kmeansCentroids(corpus, cells = 4, iters = 2)
    val index = Similarity.ivfIndex(corpus, cb)
    def collectPairs(df: org.apache.spark.sql.DataFrame) =
      df.select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val expected = (0 to 4).map(i => (i.toLong, 1000L + i)).toSet ++
      Set((10L, 2000L), (10L, 2001L), (2000L, 2001L))
    val inc = collectPairs(Dedup.incrementalSemanticPairs(index, delta, cb,
      threshold = 0.999))
    assert(inc == expected, s"got $inc")
    // full-batch parity: at this threshold the corpus has no internal
    // pairs, so batch semanticPairs over corpus+delta equals the
    // incremental set exactly
    val full = collectPairs(Dedup.semanticPairs(corpus.unionAll(delta), cb,
      threshold = 0.999))
    assert(full == inc)
    // persisted stats rollup (parquet round trip) gives identical pairs
    // without re-aggregating the corpus
    val dir = s"/tmp/graft-cellstats-${java.util.UUID.randomUUID()}"
    Dedup.semanticCellStats(index).write.parquet(dir)
    val viaStats = collectPairs(Dedup.incrementalSemanticPairs(index, delta, cb,
      threshold = 0.999, corpusCellStats = Some(spark.read.parquet(dir))))
    assert(viaStats == inc)
    // hot cell: 100 delta copies of corpus vector 0 blow the merged cell
    // past cap 32 → each delta member star-links to the merged hub
    // (corpus id 0); corpus members of the hot cell emit nothing new
    val hotDelta = (1 to 100).map(i => (3000L + i,
      embeddings.filter($"vec_id" === 0L).select($"embedding")
        .collect().head.getSeq[Float](0))).toDF("vec_id", "embedding")
    val hot = collectPairs(Dedup.incrementalSemanticPairs(index, hotDelta, cb,
      threshold = 0.999, maxBucketSize = 32))
    assert(hot == (1 to 100).map(i => (0L, 3000L + i)).toSet, s"got ${hot.size} pairs")
  }

  test("connected components and end-to-end near-dup dedup") {
    // chain 1-2-3, pair 4-5, isolated 6 never appears in edges
    val edges = Seq((1L, 2L), (2L, 3L), (4L, 5L)).toDF("id_a", "id_b")
    val comp = Dedup.components(edges).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comp == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L, 5L -> 4L))

    // end-to-end: docs 1,2,4 near-identical; 3,5 distinct → keep 1,3,5
    val kept = Dedup.nearDupDedup(toyDocs, threshold = 0.5)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L, 3L, 5L), s"kept $kept")
  }

  test("trapped op through the query DSL with :trap option") {
    import graft.dsl._
    val sunk = scala.collection.mutable.ArrayBuffer[Seq[Any]]()
    val q = query("?n", "!res")(
      mem(Seq(Seq(1L), Seq(2L), Seq(3L), Seq(4L)))(Seq("?n"): _*),
      trapped((n: Long) =>
        if (n % 2 == 1) throw new IllegalArgumentException(s"odd $n") else n * 10,
        "?n") :> "!res")
      .withTrap(df => sunk ++= df.collect().toSeq.map(_.toSeq))
    val clean = q.toDF(spark).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(clean == Set((2L, 20L), (4L, 40L)))
    assert(sunk.map(_.head).toSet == Set(1L, 3L))
    assert(sunk.forall(_.last.toString.contains("odd")))
  }

  test("trap after a join diverts failing joined tuples (cascading_api_test.clj:190-207)") {
    import graft.dsl._
    val age = Seq(Seq("A", 20L), Seq("B", 21L))
    val gender = Seq(Seq("A", "m"), Seq("B", "f"))
    val sunk = scala.collection.mutable.ArrayBuffer[Seq[Any]]()
    val q = query("?p", "?a", "?g", "!chk")(
      mem(age)("?p", "?a"),
      mem(gender)("?p", "?g"),
      trapped((a: Long) =>
        if (a % 2 == 1) throw new RuntimeException(s"odd $a") else a, "?a") :> "!chk")
      .withTrap(df => sunk ++= df.collect().toSeq.map(_.toSeq))
    val clean = q.toDF(spark).collect().map(_.toSeq)
    assert(clean.map(r => (r(0), r(1), r(2))).toSet == Set(("A", 20L, "m")))
    // the diverted tuple carries the full JOIN context, not just the input
    assert(sunk.size == 1, s"got $sunk")
    assert(Set[Any]("B", 21L, "f").subsetOf(sunk.head.toSet), s"got ${sunk.head}")
    assert(sunk.head.exists(v => v != null && v.toString.contains("odd 21")))
  }

  test("trap extends to buffer stages: throwing group diverted as (key, error), job completes") {
    import graft.dsl._
    import graft.ops.Ops
    import org.apache.spark.sql.types.LongType
    val sunk = scala.collection.mutable.ArrayBuffer[Seq[Any]]()
    val boom = Ops.bufferFn(1, Seq(LongType)) { it =>
      val s = it.map(_.head.asInstanceOf[Long]).sum
      if (s % 2 == 1) throw new IllegalStateException(s"odd sum $s")
      Iterator.single(Seq(s))
    }
    val q = query("?k", "?sum")(
      mem(Seq(Seq("a", 1L), Seq("a", 3L), Seq("b", 1L), Seq("b", 2L)))("?k", "?n"),
      boom("?n") :> "?sum")
      .withTrap(df => sunk ++= df.collect().toSeq.map(_.toSeq))
    // group a sums to 4 (kept); group b sums to 3 (throws, diverted)
    val clean = q.toDF(spark).collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(clean == Set(("a", 4L)), s"got $clean")
    assert(sunk.size == 1 && sunk.head.head == "b", s"trap got $sunk")
    assert(sunk.head.last.toString.contains("odd sum 3"), s"trap got $sunk")
  }

  test("trap extends to aggregatefn stages: failure at present diverts the group") {
    import graft.dsl._
    import graft.ops.Ops
    import org.apache.spark.sql.types.LongType
    val sunk = scala.collection.mutable.ArrayBuffer[Seq[Any]]()
    val agg = Ops.aggregateFn[Long](1, Seq(LongType))(0L)(
      (acc, row) => acc + row.head.asInstanceOf[Long])(
      acc => if (acc % 2 == 1) throw new IllegalStateException(s"odd $acc")
        else Seq(acc))
    val q = query("?k", "?sum")(
      mem(Seq(Seq("a", 2L), Seq("a", 2L), Seq("b", 3L)))("?k", "?n"),
      agg("?n") :> "?sum")
      .withTrap(df => sunk ++= df.collect().toSeq.map(_.toSeq))
    val clean = q.toDF(spark).collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(clean == Set(("a", 4L)), s"got $clean")
    assert(sunk.size == 1 && sunk.head.head == "b", s"trap got $sunk")
    assert(sunk.head.last.toString.contains("odd 3"), s"trap got $sunk")
  }

  test("large-star/small-star components: O(log d) on a depth-1000 chain, parity with min-label") {
    // the adversarial graph for min-label propagation: a 1000-long chain
    // needs ~1000 label rounds; star contraction must converge in O(log d)
    val chain = (1L until 1000L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val (labels, rounds) = Dedup.componentsStarRounds(chain, maxIter = 30)
    val got = labels.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == (1L to 1000L).map(i => (i, 1L)).toSet, s"bad labels: ${got.take(5)}")
    assert(rounds <= 15, s"chain-1000 took $rounds rounds, expected O(log d)")
    // parity with min-label propagation on a multi-component graph
    val rng = new scala.util.Random(42)
    val edges = (1 to 60).map { _ =>
      val c = rng.nextInt(5) // 5 clusters over disjoint id ranges
      (c * 100L + rng.nextInt(8) + 1L, c * 100L + rng.nextInt(8) + 1L)
    }.filter(p => p._1 != p._2).toDF("id_a", "id_b")
    val star = Dedup.componentsStar(edges).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val label = Dedup.components(edges).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(star == label, s"star $star vs label $label")
    // already-converged input: one round, no changes
    val starEdges = Seq((2L, 1L), (3L, 1L), (4L, 1L)).toDF("id_a", "id_b")
    val (_, r1) = Dedup.componentsStarRounds(starEdges)
    assert(r1 == 1, s"stable star took $r1 rounds")
  }

  test("text analysis: token counts, quality, langId, fingerprint") {
    val row = docs.select(
      TextAnalysis.tokenCount($"text"),
      TextAnalysis.bpeishTokenCount($"text"),
      TextAnalysis.qualityScore($"text")("stopword_ratio"),
      $"text").head()
    val scalaTokens = row.getString(3).trim.split("\\s+").length
    assert(row.getInt(0) == scalaTokens)
    assert(row.getInt(1) >= row.getInt(0)) // BPE-ish ≥ whitespace tokens
    assert(row.getDouble(2) >= 0.0 && row.getDouble(2) <= 1.0)

    val langs = spark.createDataFrame(Seq(
      (1, "the cat is on the mat and it is happy for now"),
      (2, "le chat est dans la maison et il est content pour le moment"),
      (3, "der hund ist nicht in der schule und sie ist auf dem weg"),
      (4, "xyzzy plugh qwertyuiop"))).toDF("id", "t")
      .select($"id", TextAnalysis.langId($"t").as("l"))
      .collect().map(r => r.getInt(0) -> r.getString(1)).toMap
    assert(langs(1) == "en" && langs(2) == "fr" && langs(3) == "de" && langs(4) == "und")

    // fingerprint: whitespace/case-insensitive identity
    val fp = spark.createDataFrame(Seq(
      (1, "Hello   World  Foo"), (2, "hello world foo"), (3, "hello world bar")))
      .toDF("id", "t").select($"id", TextAnalysis.fingerprint($"t").as("f"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(fp(1) == fp(2) && fp(1) != fp(3))
  }

  test("contamination, PII scrub, repetition metrics") {
    import org.apache.spark.sql.Row
    // contamination: doc 10 copies probe 1's text → full n-gram overlap
    val probes = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "one two three four five six seven eight")).toDF("doc_id", "text")
    val corpus = Seq(
      (10L, "alpha beta gamma delta epsilon zeta eta theta"), // = probe 1
      (11L, "unrelated words entirely different content here now"),
      (12L, "intro one two three four five outro closing")    // shares a 4-gram with probe 2
    ).toDF("doc_id", "text")
    val hits = TextAnalysis.contamination(corpus, probes, n = 4)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(hits(10L) == (5L, 1L)) // 8 tokens → 5 distinct 4-grams, 1 probe
    assert(hits(12L) == (2L, 1L)) // "one two three four", "two three four five"
    assert(!hits.contains(11L))
    // PII scrub
    val pii = Seq((1L, "mail me at bob.smith@corp-x.com or 10.1.2.3 tel 555-867-5309 end"))
      .toDF("id", "t")
      .select(TextAnalysis.piiScrub($"t").as("p")).select("p.*").collect().head
    assert(pii.getAs[Int]("n_emails") == 1 && pii.getAs[Int]("n_ips") == 1 &&
      pii.getAs[Int]("n_phones") == 1)
    assert(pii.getAs[String]("scrubbed") ==
      "mail me at <EMAIL> or <IP> tel <PHONE> end")
    // repetition: "a b a b a" → bigrams [a b, b a, a b, b a]: 4 total, 2 distinct
    val rep = Seq((1L, "a b a b a"), (2L, "x"))
      .toDF("id", "t")
      .select($"id", TextAnalysis.repetitionStats($"t").as("r"))
    val r1 = rep.filter($"id" === 1).select("r.*").collect().head
    assert(r1.getAs[Long]("n_2grams") == 4L &&
      r1.getAs[Long]("n_distinct_2grams") == 2L &&
      r1.getAs[Long]("top_2gram_count") == 2L)
    assert(r1.getAs[Double]("dup_2gram_frac") == 0.5)
    assert(rep.filter($"id" === 2).filter($"r.n_2grams".isNotNull).count() == 0)
  }

  test("normalizeText: NFC composition, control strip, space collapse") {
    val decomposed = "Cafe\u0301" // e + combining acute
    val composed = "Caf\u00e9"    // precomposed e-acute
    val rows = Seq((1L, decomposed), (2L, "a\u0007b\u0000c"),
      (3L, "x  \t y\nz"), (4L, null.asInstanceOf[String]))
      .toDF("id", "t")
      .select($"id", TextAnalysis.normalizeText($"t").as("n"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(rows(1L) == composed && rows(1L).length == 4)
    assert(rows(2L) == "abc")
    assert(rows(3L) == "x y\nz") // newline survives, space/tab runs collapse
    assert(rows(4L) == null)
  }

  test("stratified split: exact per-stratum proportions, total, deterministic") {
    val corpus = (1L to 1000L).map(i => (i, s"s${i % 4}"))
      .toDF("doc_id", "source") // 4 strata x 250 docs
    val splits = Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)
    val lab = TextAnalysis.stratifiedSplit(corpus, splits)
    // exact floor boundaries per stratum: 200 / 25 / 25
    val counts = lab.groupBy("source", "split").count().collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    for (s <- Seq("s0", "s1", "s2", "s3")) {
      assert(counts((s, "train")) == 200L, s"$s train")
      assert(counts((s, "val")) == 25L && counts((s, "test")) == 25L, s"$s tail")
    }
    // total: every row labeled, even with weights summing approximately
    val approx = TextAnalysis.stratifiedSplit(corpus,
      Seq("a" -> 0.3, "b" -> 0.3, "c" -> (0.4 - 1e-9)))
    assert(approx.filter(col("split").isNull).count() == 0)
    assert(approx.count() == 1000)
    // deterministic under repartitioning
    val again = TextAnalysis.stratifiedSplit(corpus.repartition(17), splits)
    assert(lab.unionAll(again).groupBy("doc_id", "source", "split").count()
      .filter($"count" =!= 2).count() == 0)
  }

  test("mixture sampling is deterministic; token packing respects budgets") {
    val d = Seq(
      (1L, "a b c", "s1"), (2L, "d e f", "s1"), (3L, "g h i", "s1"),
      (4L, "j k l", "s2"), (5L, "m n o", "s2")).toDF("doc_id", "text", "source")
    // quota 2 of s1, 5 (all) of s2, s-absent dropped; repeated runs identical
    val pick1 = TextAnalysis.mixtureSample(d, Map("s1" -> 2, "s2" -> 5))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val pick2 = TextAnalysis.mixtureSample(d, Map("s1" -> 2, "s2" -> 5))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(pick1 == pick2 && pick1.count(_ <= 3L) == 2 && pick1.count(_ >= 4L) == 2)
    // packing: budget 7 tokens, s1 docs of 3 tokens each -> cum 3,6,9 ->
    // bins 0,0,1 (doc 3 straddles, lands by its end position)
    val packed = TextAnalysis.packTokens(d, budget = 7L)
      .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
    assert(packed(1L) == 0L && packed(2L) == 0L && packed(3L) == 1L)
    assert(packed(4L) == 0L && packed(5L) == 0L)
    // a doc bigger than the budget gets its own bin
    val big = Seq((1L, ("x " * 20).trim, "s"), (2L, "y z", "s")).toDF("doc_id", "text", "source")
    val pb = TextAnalysis.packTokens(big, budget = 7L)
      .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
    assert(pb(1L) == 2L && pb(2L) == 3L) // 20 tokens end in bin 2; next doc bin 3
    // scale variants: hash-threshold sampling is deterministic and nested
    // (rate 0.3 keeps a subset of rate 0.6); sharded packing still fills
    // every bin to <= budget (except single oversize docs)
    val corpus1k = (1L to 1000L).map(i => (i, "w1 w2 w3 w4 w5", s"s${i % 2}"))
      .toDF("doc_id", "text", "source")
    val lo = TextAnalysis.mixtureSampleByRate(corpus1k, Map("s0" -> 0.3, "s1" -> 0.3))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val hi = TextAnalysis.mixtureSampleByRate(corpus1k, Map("s0" -> 0.6, "s1" -> 0.6))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(lo.subsetOf(hi), "hash-threshold samples must nest")
    assert(math.abs(lo.size - 300) < 80 && math.abs(hi.size - 600) < 80,
      s"rates off: ${lo.size}, ${hi.size}")
    val sharded = TextAnalysis.packTokens(corpus1k, budget = 16L, shards = 8)
      .groupBy("source", "bin").agg(sum("n_tokens").as("t")).collect()
    // stream-chunking: a bin holds <= budget tokens plus at most its
    // first doc's overhang (docs are 5 tokens -> bound 16 + 4)
    assert(sharded.forall(_.getAs[Long]("t") <= 20L), "a bin exceeds budget + overhang")
    assert(sharded.length > 300) // 5 tokens/doc, 3-4 docs/bin over 1000 docs
  }

  test("misra-gries heavy hitters: exact thresholded set, bounded counts") {
    // skewed universe: 'hot' 500x, 'warm' 120x, 400 singletons (n=1020)
    val items = (Seq.fill(500)("hot") ++ Seq.fill(120)("warm") ++
      (1 to 400).map(i => s"cold$i"))
    val df = items.toDF("tok").repartition(16) // merge across many summaries
    val k = 8 // threshold n/k = 127
    val hh = graft.operators.FrequentItems.heavyHitters(df, "tok", k)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(hh == Map("hot" -> 500L), s"got $hh") // warm(120) <= 127 excluded
    // the MG guarantee directly: every item above n/k is a candidate and
    // its reported count is within n/k of truth
    val s = graft.operators.FrequentItems.summary(df, "tok", k)
    assert(s.n == 1020L)
    assert(s.counts.contains("hot"))
    assert(s.counts("hot") <= 500L && s.counts("hot") >= 500L - s.n / k)
    assert(s.counts.size <= k)
  }

  test("real image decode: meta, pixel features, resize via javax.imageio") {
    def png(w: Int, h: Int, rgb: Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(w, h,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      var y = 0
      while (y < h) { var x = 0; while (x < w) { img.setRGB(x, y, rgb); x += 1 }; y += 1 }
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", bos)
      bos.toByteArray
    }
    val df = Seq(
      (1L, png(32, 16, 0xFF0000)), // pure red
      (2L, png(8, 8, 0x808080)),   // mid gray
      (3L, Array[Byte](1, 2, 3))   // not an image
    ).toDF("id", "img")
    // metadata from the real decoder
    val meta = Multimodal.withImageMeta(df, "img").select("id", "meta.*").collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(meta(1L).getAs[Int]("width") == 32 && meta(1L).getAs[Int]("height") == 16)
    assert(meta(1L).getAs[Int]("channels") == 3)
    assert(meta(3L).isNullAt(meta(3L).fieldIndex("width")) || meta(3L).anyNull)
    // pixel features: pure red → mean R 1.0, G/B 0, zero variance/gradient
    val f1 = Multimodal.imageFeatures(df.filter($"id" === 1), "img")
      .select("features").head.getAs[scala.collection.Seq[Float]](0)
    assert(math.abs(f1(0) - 1.0f) < 1e-6 && f1(1) == 0f && f1(2) == 0f)
    assert(f1(4) == 0f && f1(7) == 0f) // constant image: no variance, no edges
    assert(math.abs(f1(5) - 2.0f) < 1e-6) // aspect 32/16
    // resize re-encodes a real 4x4 png whose pixels survive
    val rz = Multimodal.resizedImage(df.filter($"id" === 2), "img", 4, 4)
      .select("resized").head.getAs[Array[Byte]](0)
    val back = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(rz))
    assert(back.getWidth == 4 && back.getHeight == 4)
    assert((back.getRGB(2, 2) & 0xFFFFFF) == 0x808080) // gray survives the scale
    // batched path produces identical features to the row path
    val batched = Multimodal.withImageFeaturesBatched(df, "img", batchSize = 2)
      .select("id", "features").collect()
      .map(r => r.getLong(0) -> Option(r.get(1))).toMap
    assert(batched(1L).isDefined && batched(3L).isEmpty)
  }

  test("real animation decode: multi-frame GIF meta and frame sampling") {
    // build a genuine 3-frame animated GIF through ImageIO's sequence writer
    def frame(rgb: Int): java.awt.image.BufferedImage = {
      val img = new java.awt.image.BufferedImage(10, 6,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      var y = 0
      while (y < 6) { var x = 0; while (x < 10) { img.setRGB(x, y, rgb); x += 1 }; y += 1 }
      img
    }
    val bos = new java.io.ByteArrayOutputStream()
    val writer = javax.imageio.ImageIO.getImageWritersBySuffix("gif").next()
    val ios = javax.imageio.ImageIO.createImageOutputStream(bos)
    writer.setOutput(ios)
    writer.prepareWriteSequence(null)
    Seq(0xFF0000, 0x00FF00, 0x0000FF).foreach { c =>
      writer.writeToSequence(new javax.imageio.IIOImage(frame(c), null, null), null)
    }
    writer.endWriteSequence(); writer.dispose(); ios.close()
    val df = Seq((1L, bos.toByteArray), (2L, Array[Byte](9, 9))).toDF("id", "gif")
    val meta = Multimodal.withAnimationMeta(df, "gif").select("id", "meta.*")
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(meta(1L).getAs[String]("media_type") == "animation")
    assert(meta(1L).getAs[Int]("width") == 10 && meta(1L).getAs[Int]("height") == 6)
    assert(meta(1L).getAs[Int]("channels") == 3) // 3 frames
    assert(meta(2L).anyNull) // garbage bytes -> null meta
    // sample every 2nd frame: indices 0 and 2, each a real decodable PNG
    val frames = Multimodal.gifFrameSample(df.filter($"id" === 1), "gif",
      everyNthFrame = 2).select("frame_idx", "frame_png", "frame_w", "frame_h")
      .collect()
    assert(frames.map(_.getInt(0)).toSeq == Seq(0, 2))
    frames.foreach { r =>
      assert(r.getInt(2) == 10 && r.getInt(3) == 6)
      val img = javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(r.getAs[Array[Byte]](1)))
      assert(img.getWidth == 10 && img.getHeight == 6)
    }
  }

  test("composition: animation near-dup via frames -> pixel features -> embedding dedup") {
    def gif(colors: Seq[Int]): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      val writer = javax.imageio.ImageIO.getImageWritersBySuffix("gif").next()
      val ios = javax.imageio.ImageIO.createImageOutputStream(bos)
      writer.setOutput(ios); writer.prepareWriteSequence(null)
      colors.foreach { c =>
        val img = new java.awt.image.BufferedImage(8, 8,
          java.awt.image.BufferedImage.TYPE_INT_RGB)
        var y = 0
        while (y < 8) { var x = 0; while (x < 8) { img.setRGB(x, y, c); x += 1 }; y += 1 }
        writer.writeToSequence(new javax.imageio.IIOImage(img, null, null), null)
      }
      writer.endWriteSequence(); writer.dispose(); ios.close()
      bos.toByteArray
    }
    val anims = Seq(
      (1L, gif(Seq(0xCC1010, 0xC81414, 0xD00C0C))), // red-ish animation
      (2L, gif(Seq(0xCB1111, 0xC91313, 0xCF0D0D))), // near-dup of 1
      (3L, gif(Seq(0x1010CC, 0x1414C8, 0x0C0CD0))) // blue: different
    ).toDF("vec_id", "gif")
    // frames -> real pixel features -> mean-pool per animation = embedding
    val frameFeats = Multimodal.imageFeatures(
      Multimodal.gifFrameSample(anims, "gif"), "frame_png")
    val pooled = frameFeats
      .select(col("vec_id"), posexplode(col("features")).as(Seq("dim", "v")))
      .groupBy("vec_id", "dim").agg(avg("v").as("m"))
      .groupBy("vec_id")
      .agg(sort_array(collect_list(struct(col("dim"), col("m")))).as("s"))
      .select(col("vec_id"),
        expr("transform(s, x -> CAST(x.m AS FLOAT))").as("embedding"))
    val pairs = Dedup.embeddingNearDup(pooled, planes = 2, threshold = 0.999)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((1L, 2L)), s"got $pairs")
  }

  test("real audio decode: WAV meta and PCM features via javax.sound") {
    // 440 Hz sine, 16-bit mono PCM, 8000 Hz, 0.5 s — a real WAV container
    def wav(freq: Double, amp: Double, rate: Float = 8000f, secs: Double = 0.5): Array[Byte] = {
      val n = (rate * secs).toInt
      val pcm = new Array[Byte](n * 2)
      val bb = java.nio.ByteBuffer.wrap(pcm).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      (0 until n).foreach { i =>
        bb.putShort(i * 2, (math.sin(2 * math.Pi * freq * i / rate) * amp * 32767).toShort)
      }
      val fmt = new javax.sound.sampled.AudioFormat(rate, 16, 1, true, false)
      val ais = new javax.sound.sampled.AudioInputStream(
        new java.io.ByteArrayInputStream(pcm), fmt, n.toLong)
      val bos = new java.io.ByteArrayOutputStream()
      javax.sound.sampled.AudioSystem.write(ais,
        javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
      bos.toByteArray
    }
    val df = Seq(
      (1L, wav(440.0, 0.5)),
      (2L, wav(880.0, 0.25)),
      (3L, Array[Byte](9, 9, 9))).toDF("id", "snd")
    val meta = Multimodal.withAudioMeta(df, "snd").select("id", "meta.*").collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(meta(1L).getAs[Int]("width") == 8000) // sample rate
    assert(meta(1L).getAs[Int]("height") == 16)  // bits per sample
    assert(meta(1L).getAs[Int]("channels") == 1)
    assert(math.abs(meta(1L).getAs[Long]("duration_ms") - 500L) <= 1)
    assert(meta(3L).anyNull)
    val feats = Multimodal.audioFeatures(df, "snd").select("id", "features").collect()
      .map(r => r.getLong(0) -> Option(r.get(1)).map(
        _.asInstanceOf[scala.collection.Seq[Float]])).toMap
    val f1 = feats(1L).get
    assert(math.abs(f1(0) - 0.5 / math.sqrt(2)) < 0.01, s"sine RMS: ${f1(0)}")
    assert(math.abs(f1(1)) < 0.01) // zero mean
    assert(math.abs(f1(2) - 0.5) < 0.01) // peak = amplitude
    val f2 = feats(2L).get
    assert(f2(3) > f1(3), "880 Hz must cross zero more often than 440 Hz")
    assert(feats(3L).isEmpty)
  }

  test("multimodal video: MJPEG-in-AVI decodes for real (pure JVM)") {
    // hand-assemble a minimal spec-conformant AVI: RIFF('AVI ') containing
    // LIST('hdrl') with an avih header and LIST('movi') with '00dc' JPEG
    // frames — the decoder must parse the real container layout
    def jpegFrame(shade: Int, w: Int, h: Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(w, h,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      val g = img.createGraphics()
      g.setColor(new java.awt.Color(shade, shade, shade))
      g.fillRect(0, 0, w, h); g.dispose()
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "jpg", bos)
      bos.toByteArray
    }
    def le32(v: Long): Array[Byte] =
      Array((v & 0xFF).toByte, ((v >> 8) & 0xFF).toByte,
        ((v >> 16) & 0xFF).toByte, ((v >> 24) & 0xFF).toByte)
    def chunk(id: String, data: Array[Byte]): Array[Byte] = {
      val pad = if (data.length % 2 == 1) Array(0.toByte) else Array.empty[Byte]
      id.getBytes("US-ASCII") ++ le32(data.length) ++ data ++ pad
    }
    def list(listType: String, inner: Array[Byte]): Array[Byte] =
      chunk("LIST", listType.getBytes("US-ASCII") ++ inner)
    val frames = Seq(jpegFrame(40, 32, 24), jpegFrame(128, 32, 24), jpegFrame(220, 32, 24))
    val usPerFrame = 40000L // 25 fps
    val avih = le32(usPerFrame) ++ le32(0) ++ le32(0) ++ le32(0) ++
      le32(frames.length) ++ le32(0) ++ le32(1) ++ le32(0) ++
      le32(32) ++ le32(24) ++ Array.fill(16)(0.toByte)
    val hdrl = list("hdrl", chunk("avih", avih))
    val movi = list("movi", frames.map(chunk("00dc", _)).reduce(_ ++ _))
    val body = "AVI ".getBytes("US-ASCII") ++ hdrl ++ movi
    val avi = "RIFF".getBytes("US-ASCII") ++ le32(body.length) ++ body

    val df = Seq((1L, avi), (2L, Array[Byte](1, 2, 3))).toDF("id", "vid")
    val meta = Multimodal.withVideoMeta(df, "vid").select("id", "meta.*")
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(meta(1L).getAs[String]("media_type") == "video")
    assert(meta(1L).getAs[Int]("width") == 32 && meta(1L).getAs[Int]("height") == 24)
    assert(meta(1L).getAs[Int]("channels") == 3) // frame count
    assert(meta(1L).getAs[Long]("duration_ms") == 120L) // 3 x 40ms
    assert(meta(2L).anyNull) // non-AVI bytes -> null, not a throw

    val sampled = Multimodal.aviFrameSample(df.filter($"id" === 1L), "vid",
      everyNthFrame = 2).collect()
    assert(sampled.map(_.getAs[Int]("frame_idx")).toSeq == Seq(0, 2))
    assert(sampled.forall(r => r.getAs[Int]("frame_w") == 32 &&
      r.getAs[Int]("frame_h") == 24))
    // sampled frames are real decodable PNGs with distinct pixel content
    val lums = sampled.map { r =>
      val img = javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(r.getAs[Array[Byte]]("frame_png")))
      img.getRGB(16, 12) & 0xFF
    }
    assert(lums.length == 2 && math.abs(lums(0) - 40) < 16 &&
      math.abs(lums(1) - 220) < 16, lums.toSeq.toString)

    // a corrupted frame chunk (valid container, garbage JPEG bytes) is
    // skipped per-frame — the decode never kills the job
    val mixedMovi = list("movi", chunk("00dc", frames(0)) ++
      chunk("00dc", Array.fill(64)(0x5A.toByte)) ++ chunk("00dc", frames(2)))
    val mixedBody = "AVI ".getBytes("US-ASCII") ++ hdrl ++ mixedMovi
    val mixed = "RIFF".getBytes("US-ASCII") ++ le32(mixedBody.length) ++ mixedBody
    val mixedOut = Multimodal.aviFrameSample(
      Seq((1L, mixed)).toDF("id", "vid"), "vid").collect()
    assert(mixedOut.map(_.getAs[Int]("frame_idx")).toSeq == Seq(0, 2),
      mixedOut.map(_.getAs[Int]("frame_idx")).toSeq.toString)
  }

  test("multimodal stub paths demand the explicit opt-in") {
    val df = Seq((1L, Array[Byte](1, 2, 3))).toDF("id", "b")
    val e = intercept[IllegalArgumentException] {
      Multimodal.withMeta(df, "b", "video")
    }
    assert(e.getMessage.contains("STUB-backed") &&
      e.getMessage.contains("withVideoMeta"))
    intercept[IllegalArgumentException](Multimodal.withFeatures(df, "b"))
    intercept[IllegalArgumentException](Multimodal.resized(df, "b", 4, 4))
    intercept[IllegalArgumentException](Multimodal.frameSample(df, "b", 1))
    intercept[IllegalArgumentException](Multimodal.withFeaturesBatched(df, "b"))
  }

  test("multimodal plumbing: binary source, meta, features, frame sampling") {
    val bin = Multimodal.readBinaryFiles(spark, sf, "*.parquet")
    assert(bin.count() == 10)
    assert(bin.schema.fieldNames.contains("content"))

    val withMeta = Multimodal.withMeta(bin, "content", "image", stub = true)
    val m = withMeta.select($"meta.width", $"meta.height", $"meta.media_type").head()
    assert(m.getInt(0) >= 64 && m.getInt(1) >= 64 && m.getString(2) == "image")

    val feats = Multimodal.withFeatures(bin, "content", stub = true)
      .select($"features").head().getSeq[Float](0)
    assert(feats.length == 8 && feats.forall(f => f >= 0f && f <= 1f))

    // deterministic: same bytes → same features
    val f2 = Multimodal.withFeatures(bin, "content", stub = true).select($"features").head().getSeq[Float](0)
    assert(feats == f2)

    val frames = Multimodal.frameSample(bin.limit(1), "content", everyNthFrame = 30, stub = true)
    assert(frames.count() > 1) // row multiplication happened
    assert(frames.schema.fieldNames.contains("frame_idx"))

    // batched (mapInPandas-analog) path produces the same features as the
    // per-row path, with batch size smaller than the partition
    val batched = Multimodal.withFeaturesBatched(bin, "content", batchSize = 3, stub = true)
      .select($"path", $"features")
    val perRow = Multimodal.withFeatures(bin, "content", stub = true).select($"path", $"features")
    assert(batched.collect().map(r => (r.getString(0), r.getSeq[Float](1))).toMap ==
      perRow.collect().map(r => (r.getString(0), r.getSeq[Float](1))).toMap)
  }

  test("image pHash: stable under re-encode/resize, separates content, " +
      "feeds hammingCandidates") {
    def patternImg(side: Int, phase: Int): java.awt.image.BufferedImage = {
      val img = new java.awt.image.BufferedImage(side, side,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      var y = 0
      while (y < side) {
        var x = 0
        while (x < side) {
          // broad low-frequency spectrum (several orientations and
          // frequencies) so every cell of the DCT block carries real
          // signal — a flat/two-tone pattern leaves most coefficients
          // ~0 and codec noise would flip their bits
          var acc = 127.0
          var k = 1
          while (k <= 6) {
            acc += (70.0 / k) * math.sin(
              2 * math.Pi * k * (x + phase).toDouble / side + k) +
              (55.0 / k) * math.cos(2 * math.Pi * k * y.toDouble / side + 2 * k) +
              (30.0 / k) * math.sin(
                2 * math.Pi * k * (x + y + phase).toDouble / side + 3 * k)
            k += 1
          }
          val v = acc.toInt.max(0).min(255)
          img.setRGB(x, y, (v << 16) | (v << 8) | v)
          x += 1
        }
        y += 1
      }
      img
    }
    def enc(img: java.awt.image.BufferedImage, fmt: String): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, fmt, bos)
      bos.toByteArray
    }
    val aPng = enc(patternImg(64, 0), "png")
    val aJpg = enc(patternImg(64, 0), "jpg")      // lossy re-encode
    val aBig = enc(patternImg(128, 0), "png")     // same pattern, 2x res
    val bPng = enc(patternImg(64, 40), "png")     // shifted content
    val df = Seq((1L, aPng), (2L, aJpg), (3L, aBig), (4L, bPng),
      (5L, Array[Byte](9, 9))).toDF("doc_id", "img")
    val hashed = Multimodal.imagePHash(df, "img")
    val ph: Map[Long, java.lang.Long] = hashed.collect()
      .map(r => r.getLong(0) ->
        (if (r.isNullAt(2)) null
         else java.lang.Long.valueOf(r.getLong(2)))).toMap
    assert(ph(5L) == null)
    def ham(a: java.lang.Long, b: java.lang.Long) =
      java.lang.Long.bitCount(a.longValue ^ b.longValue)
    assert(ham(ph(1L), ph(2L)) <= 8, s"re-encode drifted ${ham(ph(1L), ph(2L))}")
    assert(ham(ph(1L), ph(3L)) <= 8, s"resize drifted ${ham(ph(1L), ph(3L))}")
    assert(ham(ph(1L), ph(4L)) >= 16, s"distinct content too close ${ham(ph(1L), ph(4L))}")
    // determinism
    assert(Multimodal.imagePHash(df, "img").collect()
      .map(r => if (r.isNullAt(2)) null else r.getLong(2)).toSeq ==
      hashed.collect().map(r => if (r.isNullAt(2)) null else r.getLong(2)).toSeq)
    // the generic hamming bucket machinery finds the near-dup family only
    val pairs = Dedup.hammingCandidates(
      hashed.select("doc_id", "phash"), "phash", maxHamming = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)) && pairs.contains((1L, 3L)))
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L))
  }

  test("video frame pHashes: per-frame hashes survive the codec hop, " +
      "frames separate") {
    def patternJpeg(side: Int, phase: Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(side, side,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      var y = 0
      while (y < side) {
        var x = 0
        while (x < side) {
          var acc = 127.0; var k = 1
          while (k <= 6) {
            acc += (70.0 / k) * math.sin(
              2 * math.Pi * k * (x + phase).toDouble / side + k) +
              (55.0 / k) * math.cos(2 * math.Pi * k * y.toDouble / side + 2 * k)
            k += 1
          }
          val v = acc.toInt.max(0).min(255)
          img.setRGB(x, y, (v << 16) | (v << 8) | v)
          x += 1
        }
        y += 1
      }
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "jpg", bos)
      bos.toByteArray
    }
    def le32(v: Long): Array[Byte] =
      Array((v & 0xFF).toByte, ((v >> 8) & 0xFF).toByte,
        ((v >> 16) & 0xFF).toByte, ((v >> 24) & 0xFF).toByte)
    def chunk(id: String, data: Array[Byte]): Array[Byte] = {
      val pad = if (data.length % 2 == 1) Array(0.toByte) else Array.empty[Byte]
      id.getBytes("US-ASCII") ++ le32(data.length) ++ data ++ pad
    }
    def list(listType: String, inner: Array[Byte]): Array[Byte] =
      chunk("LIST", listType.getBytes("US-ASCII") ++ inner)
    val frameJpegs = Seq(patternJpeg(64, 0), patternJpeg(64, 25), patternJpeg(64, 50))
    val avih = le32(40000L) ++ le32(0) ++ le32(0) ++ le32(0) ++
      le32(frameJpegs.length) ++ le32(0) ++ le32(1) ++ le32(0) ++
      le32(64) ++ le32(64) ++ Array.fill(16)(0.toByte)
    val body = "AVI ".getBytes("US-ASCII") ++
      list("hdrl", chunk("avih", avih)) ++
      list("movi", frameJpegs.map(chunk("00dc", _)).reduce(_ ++ _))
    val avi = "RIFF".getBytes("US-ASCII") ++ le32(body.length) ++ body

    val out = Multimodal.videoFramePHashes(
      Seq((1L, avi)).toDF("doc_id", "vid"), "vid").collect()
    assert(out.map(_.getAs[Int]("frame_idx")).toSeq == Seq(0, 1, 2))
    val vh = out.map(_.getAs[Long]("phash"))
    // each frame's hash matches the standalone pHash of its source jpeg
    // within the codec hop (jpeg -> decode -> png re-encode)
    val ih = Multimodal.imagePHash(
      frameJpegs.zipWithIndex.map { case (b, i) => (i.toLong, b) }
        .toDF("doc_id", "img"), "img")
      .orderBy("doc_id").collect().map(_.getAs[Long]("phash"))
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    (0 until 3).foreach { i =>
      assert(ham(vh(i), ih(i)) <= 6, s"frame $i drifted ${ham(vh(i), ih(i))}")
    }
    // distinct frames stay apart
    assert(ham(vh(0), vh(1)) >= 12 && ham(vh(1), vh(2)) >= 12)
  }

  test("audio fingerprint: gain- and rate-invariant, separates melodies") {
    // a "melody": amplitude envelope + frequency steps varying over time
    // so both energy bands move segment to segment
    def melody(seed: Int, gain: Double, rate: Float): Array[Byte] = {
      val secs = 1.0
      val n = (rate * secs).toInt
      val pcm = new Array[Byte](n * 2)
      val bb = java.nio.ByteBuffer.wrap(pcm).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      (0 until n).foreach { i =>
        val t = i / rate.toDouble
        val step = (t * 8).toInt // 8 notes
        val freq = 200.0 + 90.0 * (((step * 7 + seed * 3) % 11))
        val env = 0.25 + 0.7 * math.abs(math.sin(math.Pi * t * (3 + seed % 2)))
        bb.putShort(i * 2,
          (math.sin(2 * math.Pi * freq * t) * env * gain * 32767).toShort)
      }
      val fmt = new javax.sound.sampled.AudioFormat(rate, 16, 1, true, false)
      val ais = new javax.sound.sampled.AudioInputStream(
        new java.io.ByteArrayInputStream(pcm), fmt, n.toLong)
      val bos = new java.io.ByteArrayOutputStream()
      javax.sound.sampled.AudioSystem.write(ais,
        javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
      bos.toByteArray
    }
    val df = Seq(
      (1L, melody(1, 0.9, 8000f)),
      (2L, melody(1, 0.45, 8000f)),  // half gain: same comparisons
      (3L, melody(1, 0.9, 16000f)),  // resampled render of the same melody
      (4L, melody(2, 0.9, 8000f)),   // different melody
      (5L, Array[Byte](1))).toDF("doc_id", "snd")
    val fp: Map[Long, java.lang.Long] = Multimodal.audioFingerprint(df, "snd")
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(2)) null
         else java.lang.Long.valueOf(r.getLong(2)))).toMap
    assert(fp(5L) == null)
    def ham(a: java.lang.Long, b: java.lang.Long) =
      java.lang.Long.bitCount(a.longValue ^ b.longValue)
    assert(ham(fp(1L), fp(2L)) == 0, s"gain changed bits: ${ham(fp(1L), fp(2L))}")
    assert(ham(fp(1L), fp(3L)) <= 8, s"rate drifted ${ham(fp(1L), fp(3L))}")
    assert(ham(fp(1L), fp(4L)) >= 14, s"melodies too close ${ham(fp(1L), fp(4L))}")
    // and the same hamming machinery clusters the copies
    val pairs = Dedup.hammingCandidates(
      Multimodal.audioFingerprint(df, "snd").select("doc_id", "afp"),
      "afp", maxHamming = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)) && pairs.contains((1L, 3L)))
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L))
  }

  test("rrfFuse: hand-computed fusion, missing ids, deterministic ties") {
    val a = Seq((1L, 1L), (2L, 2L), (3L, 3L)).toDF("doc_id", "rank")
    val b = Seq((3L, 1L), (4L, 2L)).toDF("doc_id", "rank")
    val fused = Similarity.rrfFuse(Seq(a, b)).orderBy("rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // floor(1e9/(60+r)): r1=16393442 r2=16129032 r3=15873015
    assert(fused.toSeq == Seq(
      (3L, 32266457L, 2L, 1L),  // both lists
      (1L, 16393442L, 1L, 2L),
      (2L, 16129032L, 1L, 3L),  // ties 2 vs 4 break by id
      (4L, 16129032L, 1L, 4L)))
  }

  test("clusterAssign: nearest cell, ties to lower id, nulls drop") {
    val ctr = Array(Array(0.0, 0.0), Array(10.0, 0.0))
    val vecs = Seq(
      (1L, Seq(1f, 0f)),   // nearest cell 0
      (2L, Seq(9f, 0f)),   // nearest cell 1
      (3L, Seq(5f, 0f)),   // equidistant → lower cell wins
      (4L, null)           // dropped
    ).toDF("vec_id", "embedding")
    assertProduces(Similarity.clusterAssign(vecs, ctr),
      Seq(Seq(1L, 0), Seq(2L, 1), Seq(3L, 0)))
  }

  test("clusterBalancedSample: exact quota per cell, nested prefixes") {
    val s2 = Similarity.clusterBalancedSample(embeddings, cells = 4,
      perCell = 2, seed = "t")
    val byCell = s2.collect().groupBy(_.getInt(1))
    assert(byCell.values.forall(_.length == 2) && byCell.size == 4)
    // a smaller quota is a strict prefix of the larger one (pos <= 1)
    val s1 = Similarity.clusterBalancedSample(embeddings, cells = 4,
      perCell = 1, seed = "t").collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    val prefix = s2.filter(col("pos") === 1L)
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    assert(s1 == prefix)
    // deterministic across independent plans
    val again = Similarity.clusterBalancedSample(embeddings, cells = 4,
      perCell = 2, seed = "t")
    assertProduces(again, s2.collect().toSeq.map(_.toSeq))
  }
}
