package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, Encoder, Row}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.{Aggregator, Window}
import org.apache.spark.sql.functions._

/** Similarity search over embedding columns (`array<float>`).
  * Brute-force cosine top-k as the exact baseline; deterministic
  * random-hyperplane LSH bucketing as the 100 TB scale path (candidates
  * per bucket instead of the full cross product).
  * All arithmetic is Column expressions (`zip_with`/`aggregate`) — no UDFs.
  */
object Similarity {

  /** Probe-broadcast resolution for the indexed knn paths
    * ([[ivfKnnWithIndex]]/[[pqKnn]]/[[ivfPqKnn]]/[[sqKnn]]): explicit
    * per-call `Some(b)` wins, otherwise the session conf
    * `spark.graft.broadcastProbes` (default true — a query batch is
    * small next to the corpus). One auditable production knob, the same
    * pattern as `spark.graft.maxBucketSize` (VERDICT r6 item #7): set it
    * false session-wide for corpus-scale probe sets (knn-based semantic
    * dedup, corpus-vs-corpus scoring) so the plans degrade to
    * optimizer-chosen shuffle joins instead of OOMing the driver on an
    * over-limit broadcast. */
  private def resolveBroadcastProbes(df: DataFrame, flag: Option[Boolean]): Boolean =
    flag.getOrElse(
      df.sparkSession.conf.get("spark.graft.broadcastProbes", "true").toBoolean)

  /** Shared top-k tail for the knn operators. The default (`heap =
    * false`) window-rank plan is the winner on BOTH axes, measured: for
    * a `row_number() <= k` filter Spark inserts a partial-mode
    * WindowGroupLimit BELOW the exchange, so at most k narrow
    * (probe, corpus, dist) rows per probe per task cross the wire —
    * the premise that the window shuffles every scored pair (VERDICT r6
    * item #5) does not hold on Spark 4. Measured @20k corpus × 64
    * probes: window 0.10 MiB shuffled / 1.45 s vs heap 0.76 MiB /
    * 2.22 s — the heap's kryo'd partial buffers (compound key + Row per
    * entry) are ~50× fatter per surviving row than the window's pruned
    * rows (BASELINE.md "Round-7 knn-tail shuffle study"). `heap = true`
    * — the reference's keep-n-of-2n limit combiner as a typed aggregation
    * ([[graft.operators.TopK]]) — stays as the opt-in, parity-tested
    * alternative for orderings the WindowGroupLimit rewrite cannot
    * cover. Descending orders ride a negated sort column: distances are
    * finite by construction (guarded denominators, no NaN inputs), so
    * the only divergence from the window order is the ±0.0 encoding
    * tiebreak. */
  private def rankTopK(scored: DataFrame, distCol: String, ascending: Boolean,
      k: Int, heap: Boolean): DataFrame =
    if (!heap) {
      val ord = if (ascending) col(distCol).asc else col(distCol).desc
      val w = Window.partitionBy("probe_id").orderBy(ord, col("corpus_id"))
      scored.withColumn("rank", row_number().over(w))
        .filter(col("rank") <= k)
        .select("probe_id", "corpus_id", distCol, "rank")
    } else {
      val sortCol = if (ascending) col(distCol) else col(distCol) * lit(-1.0)
      graft.operators.TopK.topK(scored, Seq("probe_id"), k,
        Seq(sortCol, col("corpus_id")),
        Seq("corpus_id" -> col("corpus_id"), distCol -> col(distCol)),
        rankCol = Some("rank"))
        .select(col("probe_id"), col("corpus_id"), col(distCol),
          col("rank").cast("int").as("rank"))
    }

  /** Dot product of two float-array columns — HOF fallback; the knn paths
    * use the native codegen expression [[graft.functions.DotProduct]]. */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0d), (acc, x) => acc + x)

  /** L2 norm. */
  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Cosine similarity — HOF fallback (see [[graft.functions.CosineSim]]
    * for the codegen path used by the knn operators). */
  def cosine(a: Column, b: Column): Column =
    dot(a, b) / (greatest(norm(a), lit(1e-12)) * greatest(norm(b), lit(1e-12)))

  @inline private def mix64(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** Plane components for [[hyperplaneSignature]], deterministic in
    * (plane, dim): md5-lower-64 of "pl<p>_<i>" scaled to [-1, 1) from its
    * top 53 bits. md5-derived (not splitmix) so an external SQL engine can
    * regenerate the planes and check bucket assignments bit-for-bit —
    * `(md5_number_lower(s) >> 11) * 2^-52 - 1` is exact double arithmetic
    * in both engines. Cached per (planes, dims) on each executor. */
  private val planeCache =
    new java.util.concurrent.ConcurrentHashMap[(Int, Int), Array[Array[Double]]]()

  private def planeComponents(planes: Int, dims: Int): Array[Array[Double]] =
    planeCache.computeIfAbsent((planes, dims), { case (planes, dims) =>
      val md = Md5.newDigest()
      Array.tabulate(planes, dims) { (p, i) =>
        (Md5.lower64(md, "pl" + p + "_" + i) >>> 11) * (1.0 / (1L << 52)) - 1.0
      }
    })

  /** Random-hyperplane LSH signature: `planes` sign bits packed in a long.
    * Tight-loop kernel (HOF lambdas are interpreted; see BASELINE.md).
    * Null embeddings signature to null — a null bucket joins to nothing,
    * so null-embedding rows silently drop out of candidate generation
    * (the dedup-operator convention for null text). */
  private val hyperplaneKernel = udf((emb: Seq[Float], planes: Int) => {
    if (emb == null) null.asInstanceOf[java.lang.Long]
    else {
      val comp = planeComponents(planes, emb.length)
      var sig = 0L
      var p = 0
      while (p < planes) {
        val c = comp(p)
        var proj = 0.0
        var i = 0
        while (i < emb.length) {
          proj += emb(i) * c(i)
          i += 1
        }
        if (proj >= 0) sig |= (1L << p)
        p += 1
      }
      java.lang.Long.valueOf(sig)
    }
  })

  def hyperplaneSignature(emb: Column, planes: Int = 12): Column =
    hyperplaneKernel(emb, lit(planes))

  /** Exact brute-force cosine top-k: every probe against every corpus row
    * (broadcast the probes — they are the small side), then window top-k.
    * This is the correctness baseline and the right plan when probes are
    * few: one pass over the corpus, no shuffle of the corpus itself. */
  def bruteForceKnn(
      corpus: DataFrame,
      probes: DataFrame,
      k: Int = 10,
      corpusId: String = "vec_id",
      probeId: String = "probe_id",
      embCol: String = "embedding",
      heap: Boolean = false): DataFrame = {
    val c = corpus.select(col(corpusId).as("corpus_id"), col(embCol).as("c_emb"))
    val p = probes.select(col(probeId).as("probe_id"), col(embCol).as("p_emb"))
    val scored = c.crossJoin(broadcast(p))
      .withColumn("cosine", graft.functions.VectorExpressions.cosine(
        corpus.sparkSession, col("c_emb"), col("p_emb")))
    rankTopK(scored, "cosine", ascending = false, k, heap)
  }

  /** LSH-bucketed approximate top-k: probes only compare against corpus
    * vectors sharing their hyperplane bucket (optionally ± multi-probe on
    * neighboring buckets via single-bit flips). The scale path: bucket
    * count grows with data, per-bucket work stays bounded. */
  def lshKnn(
      corpus: DataFrame,
      probes: DataFrame,
      k: Int = 10,
      planes: Int = 8,
      multiProbeBits: Int = 1,
      corpusId: String = "vec_id",
      probeId: String = "probe_id",
      embCol: String = "embedding",
      heap: Boolean = false): DataFrame = {
    val c = corpus.select(col(corpusId).as("corpus_id"), col(embCol).as("c_emb"),
      hyperplaneSignature(col(embCol), planes).as("bucket"))
    val sig = hyperplaneSignature(col(embCol), planes)
    // multi-probe: original bucket plus single-bit flips
    val probeBuckets = array(
      (sig +: (0 until (if (multiProbeBits > 0) planes else 0))
        .map(b => sig.bitwiseXOR(shiftleft(lit(1L), b)))): _*)
    val p = probes.select(col(probeId).as("probe_id"), col(embCol).as("p_emb"),
      explode(probeBuckets).as("bucket"))
    // dedupe candidate pairs BEFORE scoring: multi-probe can reach the same
    // corpus row through several buckets — scoring once per pair both saves
    // the extra cosine evaluations and keeps ranks gap-free
    val cand = c.join(p, "bucket")
      .select("probe_id", "corpus_id", "c_emb", "p_emb")
      .dropDuplicates("probe_id", "corpus_id")
    val scored = cand
      .withColumn("cosine", graft.functions.VectorExpressions.cosine(
        corpus.sparkSession, col("c_emb"), col("p_emb")))
    rankTopK(scored, "cosine", ascending = false, k, heap)
  }

  /** Sentinel default for the trainers' `maxTrainRows`: "use the
    * session conf". Resolution: explicit per-call value (> 0 caps, 0
    * disables) → `spark.graft.maxTrainRows` → 0 (full input). The same
    * one-auditable-production-knob pattern as
    * `spark.graft.maxBucketSize` and `spark.graft.broadcastProbes`. */
  val SessionTrainCap: Long = -1L

  private def resolveTrainCap(df: DataFrame, cap: Long): Long =
    if (cap != SessionTrainCap) cap
    else df.sparkSession.conf.get("spark.graft.maxTrainRows", "0").toLong

  /** Deterministic training-set bound (VERDICT r6 item #3): Lloyd
    * training scans its input `iters` times to fit a KB-sized codebook —
    * at 100 TB that is `iters` full-corpus passes a sample fits
    * identically well (codebooks are means; a uniform sample's means
    * converge at O(1/√n)). A resolved cap of 0 keeps the full input;
    * otherwise one count() sizes a hash-threshold filter (the
    * [[TextAnalysis.mixtureSampleByRate]] idiom: keep rows with
    * `xxhash64(id) mod 10^6 < rate·10^6`) so training is O(sample) BY
    * CONSTRUCTION — every Lloyd pass reads the filtered plan, seeds
    * included, and the same rows are kept on every run and engine. */
  private def trainSample(clean: DataFrame, idCol: Column, maxTrainRows: Long): DataFrame = {
    val cap = resolveTrainCap(clean, maxTrainRows)
    if (cap <= 0L) clean
    else {
      val n = clean.count()
      if (n <= cap) clean
      else {
        val M = 1000000L
        val cut = math.max(1L, (cap.toDouble / n * M).toLong)
        clean.filter(pmod(xxhash64(idCol), lit(M)) < lit(cut))
      }
    }
  }

  /** Deterministic Lloyd's k-means codebook for IVF routing. Centroids
    * live on the driver (k × dims doubles — tiny; the same layout Spark
    * MLlib uses) and ship to executors inside the assignment UDF closure;
    * the DATA never leaves the cluster: assignment is a distributed map,
    * the update step a distributed groupBy-average. Seeded
    * deterministically by taking the k lowest-id vectors as initial
    * centroids; fixed iteration count keeps runs reproducible.
    * `maxTrainRows` caps the training scan (see [[trainSample]]) —
    * seed selection and every Lloyd pass then touch only the sample. */
  def kmeansCentroids(
      corpus: DataFrame,
      cells: Int,
      iters: Int = 3,
      corpusId: String = "vec_id",
      embCol: String = "embedding",
      maxTrainRows: Long = SessionTrainCap): Array[Array[Double]] = {
    // null embeddings can't vote for or seed a centroid
    val clean = trainSample(
      corpus.filter(col(embCol).isNotNull), col(corpusId), maxTrainRows)
    val seed = clean.select(col(corpusId), col(embCol))
      .orderBy(col(corpusId)).limit(cells).collect()
      .map(_.getSeq[Float](1).map(_.toDouble).toArray)
    var centroids = seed
    val vecSum = udaf(new VecSumAgg, ExpressionEncoder[Seq[Double]]())
    var it = 0
    while (it < iters) {
      val cs = centroids // stable reference for the closure
      val assignU = udf((emb: Seq[Float]) => nearestCell(cs, emb))
      // update step as ONE map-side-combined aggregation: per-cell
      // (count, vector-sum) partials — ≤cells buffers cross the wire.
      // The previous posexplode form shuffled N×dims rows per iteration,
      // a 64× amplification of the corpus at scale.
      val means = clean
        .select(assignU(col(embCol)).as("cell"),
          col(embCol).cast("array<double>").as("_v"))
        .groupBy("cell").agg(vecSum(col("_v")).as("s"))
        .collect()
        .map { r =>
          val s = r.getStruct(1)
          val n = s.getLong(0).toDouble
          r.getInt(0) -> s.getSeq[Double](1).map(_ / n).toArray
        }.toMap
      // empty cells keep their previous centroid
      centroids = centroids.indices.map(i => means.getOrElse(i, centroids(i))).toArray
      it += 1
    }
    centroids
  }

  /** Assign every vector its nearest-centroid cell — the standalone
    * face of the IVF routing step (same `nearestCell`: squared-L2,
    * ties to the lower cell id, fixed left-to-right IEEE sum so the
    * oracle's sequential list_reduce replays it exactly). Null
    * embeddings drop (they belong to no cell). The centroid array is
    * KB-sized driver metadata (the IVF-codebook contract); assignment
    * is one linear codegen-free map — no shuffle. */
  def clusterAssign(corpus: DataFrame, centroids: Array[Array[Double]],
      corpusId: String = "vec_id", embCol: String = "embedding"): DataFrame = {
    val cs = centroids
    val assignU = udf((emb: Seq[Float]) => nearestCell(cs, emb))
    corpus.filter(col(embCol).isNotNull)
      .select(col(corpusId), assignU(col(embCol)).as("cell"))
  }

  /** Reciprocal-rank fusion (Cormack & Clarke, SIGIR 2009): combine N
    * ranked retrieval lists — e.g. a BM25 lexical ranking and an
    * embedding knn — by score(d) = Σ_lists 1/(k + rank_d), the fusion
    * that needs no score calibration between heterogeneous retrievers.
    * Here each term rides as the exact integer floor(1e9/(k + rank)),
    * so the fused ordering is hash-exact across engines; ties break by
    * id. A doc missing from a list simply contributes nothing.
    *
    * Inputs are (idCol, `rank`) frames — 1-based, deterministic ranks
    * (give each retriever an explicit tie-break). Scale: the union is
    * bounded by Σ list sizes — top-k lists by construction — so the
    * single-partition final ranking window is deliberate, not a
    * bottleneck (the candidate set is the small end of the funnel;
    * the corpus-sized work already happened inside the retrievers). */
  def rrfFuse(rankings: Seq[DataFrame], k: Int = 60,
      idCol: String = "doc_id"): DataFrame = {
    require(rankings.nonEmpty, "rrfFuse: need at least one ranking")
    require(k >= 0, s"rrfFuse: k must be >= 0, got $k")
    val scored = rankings.map(_.select(col(idCol),
      floor(lit(1e9) / (col("rank") + lit(k.toLong)).cast("double"))
        .cast("long").as("_s")))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("rrf_q").desc, col(idCol))
    scored.reduce(_ unionByName _)
      .groupBy(idCol)
      .agg(sum(col("_s")).as("rrf_q"), count(lit(1)).as("n_lists"))
      .withColumn("rank", row_number().over(w).cast("long"))
  }

  /** Cluster-balanced (diversity-preserving) sampling: k-means cells
    * over the embedding space, then an exact per-cell quota chosen by
    * deterministic md5 rank — the curation pass that keeps a corpus
    * subset covering every embedding region instead of letting the
    * dominant mode swamp a uniform sample (the prototype-sampling
    * companion to [[graft.pipeline.Dedup.semanticDedup]]).
    *
    * Deterministic end-to-end: seeds are the `cells` lowest-id
    * vectors, Lloyd rounds are fixed, within-cell order is
    * (md5(seed:id), id) — same subset on any engine, any parallelism
    * (the [[TextAnalysis.mixtureSample]] idiom, cells as the strata).
    * Scale: assignment is a linear map; the quota is one window per
    * cell (cells carry the parallelism, and the rank never crosses
    * `perCell` — Spark inserts WindowGroupLimit). Output: (id, cell,
    * pos) — `pos` is the 1-based within-cell rank, so nested smaller
    * samples are prefixes. */
  def clusterBalancedSample(corpus: DataFrame, cells: Int, perCell: Int,
      iters: Int = 0, corpusId: String = "vec_id",
      embCol: String = "embedding", seed: String = "cbs",
      maxTrainRows: Long = SessionTrainCap): DataFrame = {
    require(perCell >= 1, s"clusterBalancedSample: perCell must be >= 1, got $perCell")
    val ctr = kmeansCentroids(corpus, cells, iters, corpusId, embCol, maxTrainRows)
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("cell"))
      .orderBy(md5(concat_ws(":", lit(seed), col(corpusId).cast("string"))),
        col(corpusId))
    clusterAssign(corpus, ctr, corpusId, embCol)
      .withColumn("pos", row_number().over(w).cast("long"))
      .filter(col("pos") <= perCell)
  }

  // ---------------------------------------------------------------- PQ

  /** Product-quantization codebooks: `m` subspaces × `codes` centroids ×
    * (dims/m) dims each — the byte-code compression tier of the ANN
    * stack (Jégou et al., "Product Quantization for Nearest Neighbor
    * Search", TPAMI 2011). A 64-float embedding compresses to `m` bytes
    * (m=8: 32× smaller), and asymmetric-distance scoring replaces the
    * float dot product with m table lookups — at 100 TB the PQ index of
    * the corpus fits where the raw vectors never would. Training mirrors
    * [[kmeansCentroids]]: deterministic seeds (the `codes` lowest-id
    * vectors' subvectors), fixed Lloyd iterations, per-(subspace, code)
    * means through the same map-side-combined vector-sum Aggregator.
    * Requires dims divisible by m. */
  def pqTrain(
      corpus: DataFrame,
      m: Int = 8,
      codes: Int = 16,
      iters: Int = 3,
      corpusId: String = "vec_id",
      embCol: String = "embedding",
      maxTrainRows: Long = SessionTrainCap): Array[Array[Array[Double]]] = {
    // float→double cast is exact widening: bit-identical to training on
    // the float column directly (the pre-refactor form)
    val clean = trainSample(corpus.filter(col(embCol).isNotNull), col(corpusId), maxTrainRows)
      .select(col(corpusId).as("_id"), col(embCol).cast("array<double>").as("_v"))
    pqLloyd(clean, m, codes, iters)
  }

  /** The PQ Lloyd loop, shared by [[pqTrain]] (raw subvectors) and
    * [[ivfPqTrain]] (IVF residuals). `clean` must be (`_id`, `_v`:
    * non-null array<double>). Seeds are the `codes` lowest-`_id` rows'
    * subvectors; fixed iterations keep runs reproducible. */
  private def pqLloyd(
      clean: DataFrame, m: Int, codes: Int, iters: Int): Array[Array[Array[Double]]] = {
    val seedRows = clean.orderBy(col("_id")).limit(codes).collect()
      .map(_.getSeq[Double](1).toArray)
    require(seedRows.nonEmpty, "PQ training needs a non-empty corpus")
    val dims = seedRows.head.length
    require(dims % m == 0, s"PQ training needs dims % m == 0, got dims=$dims m=$m")
    val dsub = dims / m
    // codebooks(j)(c) = seed vector c's j-th subvector
    var books: Array[Array[Array[Double]]] = Array.tabulate(m, seedRows.length) {
      (j, c) => java.util.Arrays.copyOfRange(seedRows(c), j * dsub, (j + 1) * dsub)
    }
    val vecSum = udaf(new VecSumAgg, ExpressionEncoder[Seq[Double]]())
    var it = 0
    while (it < iters) {
      val bs = books
      // one exploded row per (vector, subspace) — dsub doubles each, so
      // the shuffle stays corpus-sized; sums combine map-side per
      // (subspace, code)
      val assignU = udf((v: Seq[Double]) =>
        Array.tabulate(m)(j => (j, pqAssignSubD(bs(j), v, j * dsub),
          Array.tabulate(dsub)(i => v(j * dsub + i)))))
      val means = clean
        .select(explode(assignU(col("_v"))).as("a"))
        .select(col("a._1").as("j"), col("a._2").as("c"), col("a._3").as("sub"))
        .groupBy("j", "c").agg(vecSum(col("sub")).as("s"))
        .collect()
        .map { r =>
          val s = r.getStruct(2)
          val n = s.getLong(0).toDouble
          (r.getInt(0), r.getInt(1)) -> s.getSeq[Double](1).map(_ / n).toArray
        }.toMap
      books = Array.tabulate(m, books(0).length) { (j, c) =>
        means.getOrElse((j, c), books(j)(c)) // empty codes keep centroids
      }
      it += 1
    }
    books
  }

  /** Exact float→double widening of an embedding — one allocation per
    * row, shared by every per-subspace/per-cell call that follows. */
  private def widen(emb: Seq[Float]): Array[Double] = {
    val v = new Array[Double](emb.length)
    var i = 0
    while (i < v.length) { v(i) = emb(i).toDouble; i += 1 }
    v
  }

  /** Flattened m×codes ADC distance table for one (possibly residual)
    * probe vector: entry `j·codes + c` = L2² of subvector j to centroid
    * c, ascending-i fold — THE arithmetic the p38/p39 oracles replicate;
    * [[pqKnn]] and [[ivfPqKnn]] must share it so a tie-break or fold
    * change cannot silently diverge between them. */
  private def adcTable(
      codebooks: Array[Array[Array[Double]]], v: Seq[Double]): Array[Double] = {
    val m = codebooks.length
    val codes = codebooks(0).length
    val dsub = codebooks(0)(0).length
    val dt = new Array[Double](m * codes)
    var j = 0
    while (j < m) {
      var c = 0
      while (c < codes) {
        val ctr = codebooks(j)(c)
        var d = 0.0; var i = 0
        while (i < dsub) { val diff = v(j * dsub + i) - ctr(i); d += diff * diff; i += 1 }
        dt(j * codes + c) = d
        c += 1
      }
      j += 1
    }
    dt
  }

  /** Subspace code argmin over a double vector (raw subvectors widen
    * exactly from float; residuals are native double) — lowest-code
    * tie-break, ascending-i fold. */
  private def pqAssignSubD(book: Array[Array[Double]], v: Seq[Double], off: Int): Int = {
    var best = 0; var bestD = Double.MaxValue
    var c = 0
    while (c < book.length) {
      val ctr = book(c)
      var d = 0.0; var i = 0
      while (i < ctr.length) { val diff = v(off + i) - ctr(i); d += diff * diff; i += 1 }
      if (d < bestD) { bestD = d; best = c }
      c += 1
    }
    best
  }

  /** The PERSISTABLE PQ index: (`corpus_id`, `code` array<int> of length
    * m) — m small ints per vector instead of dims floats. Build once per
    * corpus, write bucketed/partitioned, reuse across probe batches —
    * the same split as [[ivfIndex]]. */
  def pqIndex(
      corpus: DataFrame,
      codebooks: Array[Array[Array[Double]]],
      corpusId: String = "vec_id",
      embCol: String = "embedding"): DataFrame = {
    val m = codebooks.length
    val dsub = codebooks(0)(0).length
    val encodeU = udf((emb: Seq[Float]) =>
      if (emb == null) null
      else {
        val v = widen(emb)
        Array.tabulate(m)(j => pqAssignSubD(codebooks(j), v, j * dsub))
      })
    corpus.select(col(corpusId).as("corpus_id"), encodeU(col(embCol)).as("code"))
  }

  /** Asymmetric-distance (ADC) knn over a PQ index: each probe builds its
    * m×codes distance table ONCE (L2² from its subvectors to every
    * centroid), then every corpus row scores with m table lookups —
    * no float dot product, no raw corpus vectors in the plan. Returns
    * (probe_id, corpus_id, adist, rank), adist = quantized L2², ranked
    * ascending with corpus_id tie-break. Exact when quantization error is
    * zero (spec pins this); approximate otherwise, like any PQ system.
    * Probes broadcast (they are the small side); the distance-table
    * column is consumed in the same projection, so only the narrow
    * (probe, corpus, adist) rows reach the top-k shuffle. */
  def pqKnn(
      index: DataFrame,
      codebooks: Array[Array[Array[Double]]],
      probes: DataFrame,
      k: Int = 10,
      probeId: String = "probe_id",
      embCol: String = "embedding",
      broadcastProbes: Option[Boolean] = None,
      heap: Boolean = false): DataFrame = {
    val codes = codebooks(0).length
    val tableU = udf((emb: Seq[Float]) =>
      if (emb == null) null else adcTable(codebooks, widen(emb)))
    val adcU = udf((dt: Seq[Double], code: Seq[Int]) =>
      if (dt == null || code == null) null
      else {
        var s = 0.0; var j = 0
        while (j < code.length) { s += dt(j * codes + code(j)); j += 1 }
        java.lang.Double.valueOf(s)
      })
    // null-embedding probes must drop BEFORE the corpus-wide join, not
    // score the whole index into discarded nulls
    val p = probes.select(col(probeId).as("probe_id"), tableU(col(embCol)).as("_dt"))
      .filter(col("_dt").isNotNull)
    val pSide = if (resolveBroadcastProbes(probes, broadcastProbes)) broadcast(p) else p
    val scored = index.join(pSide)
      .select(col("probe_id"), col("corpus_id"),
        adcU(col("_dt"), col("code")).as("adist"))
      .filter(col("adist").isNotNull)
    rankTopK(scored, "adist", ascending = true, k, heap)
  }

  /** Per-cell (count, vector-sum) — the k-means/PQ update step as a typed
    * Aggregator so partial sums combine map-side and only ≤cells small
    * buffers shuffle, instead of posexploding every vector into N×dims
    * rows per Lloyd iteration. Input is array<double> (float callers cast
    * — exact widening). */
  private class VecSumAgg
      extends Aggregator[Seq[Double], (Long, Array[Double]), (Long, Array[Double])] {
    def zero: (Long, Array[Double]) = (0L, Array.emptyDoubleArray)
    def reduce(b: (Long, Array[Double]), v: Seq[Double]): (Long, Array[Double]) =
      if (v == null) b
      else {
        val sums = if (b._2.isEmpty) new Array[Double](v.length) else b._2
        // ragged input must fail loudly: silently truncating while still
        // counting the row would skew the centroid means
        require(sums.length == v.length,
          s"vector length mismatch in centroid training: ${v.length} vs ${sums.length}")
        var i = 0
        while (i < sums.length) { sums(i) += v(i); i += 1 }
        (b._1 + 1L, sums)
      }
    def merge(a: (Long, Array[Double]), b: (Long, Array[Double])): (Long, Array[Double]) =
      if (a._2.isEmpty) b
      else if (b._2.isEmpty) a
      else {
        require(a._2.length == b._2.length,
          s"vector length mismatch in centroid training: ${b._2.length} vs ${a._2.length}")
        var i = 0
        while (i < a._2.length) { a._2(i) += b._2(i); i += 1 }
        (a._1 + b._1, a._2)
      }
    def finish(r: (Long, Array[Double])): (Long, Array[Double]) = r
    def bufferEncoder: Encoder[(Long, Array[Double])] =
      ExpressionEncoder[(Long, Array[Double])]()
    def outputEncoder: Encoder[(Long, Array[Double])] =
      ExpressionEncoder[(Long, Array[Double])]()
  }

  /** Ragged-input policy, unified (ADVICE r6): every routing kernel
    * REQUIRES the embedding's dims to match the codebook's — silent
    * min-truncation mis-routed ragged vectors in some quantization paths
    * while residualOf/sqEncode threw in others. Same fail-loudly policy
    * as the training aggregators and the native distance expressions. */
  private def requireDims(ctr: Array[Double], emb: Seq[Float]): Unit =
    require(ctr.length == emb.length,
      s"vector length mismatch in cell routing: ${emb.length} vs ${ctr.length}")

  private def nearestCell(centroids: Array[Array[Double]], emb: Seq[Float]): Int = {
    var best = 0; var bestD = Double.MaxValue
    var c = 0
    while (c < centroids.length) {
      val ctr = centroids(c)
      requireDims(ctr, emb)
      var d = 0.0; var i = 0
      while (i < ctr.length) { val diff = emb(i) - ctr(i); d += diff * diff; i += 1 }
      if (d < bestD) { bestD = d; best = c }
      c += 1
    }
    best
  }

  private def nearestCells(centroids: Array[Array[Double]], emb: Seq[Float],
      nProbe: Int): Array[Int] = {
    val ds = centroids.indices.map { c =>
      val ctr = centroids(c)
      requireDims(ctr, emb)
      var d = 0.0; var i = 0
      while (i < ctr.length) { val diff = emb(i) - ctr(i); d += diff * diff; i += 1 }
      (d, c)
    }
    ds.sorted.take(nProbe).map(_._2).toArray
  }

  /** The PERSISTABLE half of IVF: corpus rows with their assigned cell
    * (`corpus_id`, `c_emb`, `cell`). In production this is computed once
    * per corpus build, written out bucketed/partitioned by `cell`
    * ([[graft.sources.Taps]] bucketed sinks), and every probe batch joins
    * against it without touching the codebook build again — the same
    * split Faiss makes between training the index and querying it. */
  def ivfIndex(
      corpus: DataFrame,
      centroids: Array[Array[Double]],
      corpusId: String = "vec_id",
      embCol: String = "embedding"): DataFrame = {
    val assignU = udf((emb: Seq[Float]) =>
      if (emb == null) null.asInstanceOf[java.lang.Integer]
      else java.lang.Integer.valueOf(nearestCell(centroids, emb)))
    corpus.select(col(corpusId).as("corpus_id"), col(embCol).as("c_emb"),
      assignU(col(embCol)).as("cell"))
  }

  /** Query a pre-built [[ivfIndex]] with an existing codebook: probes
    * route to their `nProbe` nearest cells, only those cells' vectors are
    * scored. The per-probe-batch cost at 100 TB — the codebook build and
    * corpus assignment are NOT in this plan.
    *
    * `broadcastProbes` hints the exploded probe side — probes × nProbe
    * rows, each carrying the full embedding — for a broadcast join, the
    * right call for the documented per-probe-batch usage. `None` (the
    * default) defers to the `spark.graft.broadcastProbes` session conf;
    * see [[resolveBroadcastProbes]] for when to turn it off. */
  def ivfKnnWithIndex(
      index: DataFrame,
      centroids: Array[Array[Double]],
      probes: DataFrame,
      k: Int = 10,
      nProbe: Int = 4,
      probeId: String = "probe_id",
      embCol: String = "embedding",
      broadcastProbes: Option[Boolean] = None,
      heap: Boolean = false): DataFrame = {
    val routeU = udf((emb: Seq[Float]) =>
      if (emb == null) null else nearestCells(centroids, emb, nProbe))
    val p = probes.select(col(probeId).as("probe_id"), col(embCol).as("p_emb"),
      explode(routeU(col(embCol))).as("cell"))
    val pSide = if (resolveBroadcastProbes(probes, broadcastProbes)) broadcast(p) else p
    val scored = index.join(pSide, "cell")
      .withColumn("cosine", graft.functions.VectorExpressions.cosine(
        index.sparkSession, col("c_emb"), col("p_emb")))
    rankTopK(scored, "cosine", ascending = false, k, heap)
  }

  /** True IVF approximate top-k: a k-means codebook routes each probe to its
    * `nProbe` nearest cells and only those cells' vectors are scored —
    * per-probe work drops from |corpus| to nProbe/cells of it. The scale
    * path: cells grow with data (√N rule), cell lists are a bucketed join,
    * the codebook stays kilobytes. One-shot form of
    * [[ivfIndex]] + [[ivfKnnWithIndex]] — use the split when the corpus
    * index is reused across probe batches. */
  def ivfKnn(
      corpus: DataFrame,
      probes: DataFrame,
      k: Int = 10,
      cells: Int = 16,
      nProbe: Int = 4,
      iters: Int = 3,
      corpusId: String = "vec_id",
      probeId: String = "probe_id",
      embCol: String = "embedding"): DataFrame = {
    val centroids = kmeansCentroids(corpus, cells, iters, corpusId, embCol)
    ivfKnnWithIndex(ivfIndex(corpus, centroids, corpusId, embCol),
      centroids, probes, k, nProbe, probeId, embCol)
  }

  // --------------------------------------------------------- evaluation

  /** Recall@k of an approximate knn result against exact ground truth —
    * the metric that tunes every index in this family (LSH `planes`, IVF
    * `nProbe`, PQ `m`×`codes`). Both inputs are knn-shaped
    * (`probe_id`, `corpus_id`, …, `rank`); rows at rank ≤ k join on
    * (probe, corpus) and per-probe recall = hits / |truth@k|. Truth drives
    * the grouping, so a probe the approximate index missed entirely (empty
    * LSH bucket) still reports recall 0 instead of vanishing; a corpus
    * smaller than k divides by the actual truth count. Output:
    * (`probe_id`, `hits`, `truth_k`, `recall`), one row per probe. At
    * scale both sides are (probes × k) rows — negligible next to the knn
    * jobs that produced them; one shuffle on the probe key. */
  def recallAtK(
      approx: DataFrame,
      truth: DataFrame,
      k: Int,
      probeCol: String = "probe_id",
      corpusCol: String = "corpus_id",
      rankCol: String = "rank"): DataFrame = {
    // dropDuplicates guards the PUBLIC api: every in-repo knn emits
    // distinct (probe, corpus) pairs, but an external approx result with
    // duplicate pairs at rank<=k would fan out truth rows in the join and
    // inflate hits/truth_k past 1.0 (ADVICE r6). Cheap at probes×k scale.
    val a = approx.filter(col(rankCol) <= k)
      .select(col(probeCol), col(corpusCol)).dropDuplicates(probeCol, corpusCol)
      .withColumn("_hit", lit(1L))
    val t = truth.filter(col(rankCol) <= k).select(col(probeCol), col(corpusCol))
      .dropDuplicates(probeCol, corpusCol) // same guard on the truth leg
    t.join(a, Seq(probeCol, corpusCol), "left")
      .groupBy(col(probeCol))
      .agg(sum(coalesce(col("_hit"), lit(0L))).as("hits"),
        count(lit(1)).as("truth_k"))
      .withColumn("recall", col("hits").cast("double") / col("truth_k"))
  }

  // ------------------------------------------------------------ IVF-PQ

  /** Residual of `emb` w.r.t. a centroid, in double (float elements widen
    * exactly) — the quantity IVFADC encodes and scores. */
  private def residualOf(ctr: Array[Double], emb: Seq[Float]): Array[Double] = {
    val r = new Array[Double](emb.length)
    var i = 0
    while (i < r.length) { r(i) = emb(i) - ctr(i); i += 1 }
    r
  }

  /** PQ codebooks trained on IVF RESIDUALS (emb − nearest centroid) — the
    * IVFADC composition (Jégou et al., TPAMI 2011, §IV): the coarse
    * quantizer removes the cell mean, the product quantizer encodes what
    * remains, so the same byte budget captures finer detail than
    * raw-vector PQ. Deterministic like [[pqTrain]]: seeds are the `codes`
    * lowest-id rows' residual subvectors, fixed Lloyd iterations, the
    * same map-side-combined update aggregation. */
  def ivfPqTrain(
      corpus: DataFrame,
      centroids: Array[Array[Double]],
      m: Int = 8,
      codes: Int = 16,
      iters: Int = 3,
      corpusId: String = "vec_id",
      embCol: String = "embedding",
      maxTrainRows: Long = SessionTrainCap): Array[Array[Array[Double]]] = {
    val resU = udf((emb: Seq[Float]) =>
      if (emb == null) null
      else residualOf(centroids(nearestCell(centroids, emb)), emb))
    val clean = trainSample(corpus.filter(col(embCol).isNotNull), col(corpusId), maxTrainRows)
      .select(col(corpusId).as("_id"), resU(col(embCol)).as("_v"))
    pqLloyd(clean, m, codes, iters)
  }

  /** The PERSISTABLE IVFADC index: (`corpus_id`, `cell`, `code`) — the
    * coarse cell plus m small ints encoding the residual. Written
    * bucketed/partitioned by `cell`, a 100 TB corpus's searchable form
    * shrinks to ~(id + m bytes) per row with NO raw vectors in the scan
    * path — the tier where the index fits in cluster memory long after
    * the float corpus doesn't. Null embeddings index as null cell/code
    * and drop out of the cell join, like [[ivfIndex]]. */
  def ivfPqIndex(
      corpus: DataFrame,
      centroids: Array[Array[Double]],
      codebooks: Array[Array[Array[Double]]],
      corpusId: String = "vec_id",
      embCol: String = "embedding"): DataFrame = {
    val m = codebooks.length
    val dsub = codebooks(0)(0).length
    val encodeU = udf((emb: Seq[Float]) =>
      if (emb == null) null
      else {
        val cell = nearestCell(centroids, emb)
        val res = residualOf(centroids(cell), emb)
        (cell, Array.tabulate(m)(j => pqAssignSubD(codebooks(j), res, j * dsub)))
      })
    corpus.select(col(corpusId).as("corpus_id"), encodeU(col(embCol)).as("_e"))
      .select(col("corpus_id"), col("_e._1").as("cell"), col("_e._2").as("code"))
  }

  /** IVFADC knn over a pre-built [[ivfPqIndex]]: probes route to their
    * `nProbe` nearest cells; within each routed cell the probe builds its
    * residual ADC table (per cell — the probe's residual differs per
    * cell) and every indexed row in the cell scores with m table lookups
    * on its byte code. Neither raw corpus vectors nor float dot products
    * appear in the plan: the scan side is the byte-code index, the join
    * is an equi-join on `cell` (bucket the index on `cell` and it is
    * exchange-free). Returns (probe_id, corpus_id, adist, rank) like
    * [[pqKnn]]; a corpus row lives in exactly one cell, so multi-cell
    * routing cannot duplicate pairs. `broadcastProbes` as in
    * [[ivfKnnWithIndex]] — pass false for corpus-scale probe sets. */
  def ivfPqKnn(
      index: DataFrame,
      centroids: Array[Array[Double]],
      codebooks: Array[Array[Array[Double]]],
      probes: DataFrame,
      k: Int = 10,
      nProbe: Int = 4,
      probeId: String = "probe_id",
      embCol: String = "embedding",
      broadcastProbes: Option[Boolean] = None,
      heap: Boolean = false): DataFrame = {
    val codes = codebooks(0).length
    val routeU = udf((emb: Seq[Float]) =>
      if (emb == null) null
      else nearestCells(centroids, emb, nProbe).map { cell =>
        (cell, adcTable(codebooks, residualOf(centroids(cell), emb)))
      })
    // ascending-j fold, like pqKnn's ADC — keeps the oracle replicable
    val adcU = udf((dt: Seq[Double], code: Seq[Int]) =>
      if (dt == null || code == null) null
      else {
        var s = 0.0; var j = 0
        while (j < code.length) { s += dt(j * codes + code(j)); j += 1 }
        java.lang.Double.valueOf(s)
      })
    val p = probes.select(col(probeId).as("probe_id"),
        explode(routeU(col(embCol))).as("_r"))
      .select(col("probe_id"), col("_r._1").as("cell"), col("_r._2").as("_dt"))
    val pSide = if (resolveBroadcastProbes(probes, broadcastProbes)) broadcast(p) else p
    val scored = index.join(pSide, "cell")
      .select(col("probe_id"), col("corpus_id"),
        adcU(col("_dt"), col("code")).as("adist"))
      .filter(col("adist").isNotNull)
    rankTopK(scored, "adist", ascending = true, k, heap)
  }

  /** IVFADC with exact re-ranking — the IVFADC+R refinement from the
    * same Jégou et al. 2011 paper (§V): the byte-code index shortlists
    * the top `r` candidates per probe by ADC distance, then ONLY those
    * `probes × r` rows re-score exactly (L2² on the raw float vectors,
    * the codegen [[graft.functions.L2SqDist]] kernel) and the final
    * top-k ranks on the exact distance. Recovers the recall that
    * quantization error costs at fixed nProbe for the price of `r` raw
    * lookups per probe: the corpus SCAN still never touches raw vectors
    * — the shortlist join broadcasts the (probe_id, corpus_id) pairs
    * into the raw table, a semi-join-shaped probe of `corpus`, so at
    * 100 TB the raw vectors are read only where the shortlist lands.
    * Returns (probe_id, corpus_id, dist, rank), dist = exact L2². */
  def ivfPqKnnRefine(
      index: DataFrame,
      centroids: Array[Array[Double]],
      codebooks: Array[Array[Array[Double]]],
      corpus: DataFrame,
      probes: DataFrame,
      k: Int = 10,
      r: Int = 30,
      nProbe: Int = 4,
      corpusId: String = "vec_id",
      probeId: String = "probe_id",
      embCol: String = "embedding",
      broadcastProbes: Option[Boolean] = None): DataFrame = {
    require(r >= k, s"refine depth r=$r must be >= k=$k")
    val spark = index.sparkSession
    val shortlist = ivfPqKnn(index, centroids, codebooks, probes, r, nProbe,
      probeId, embCol, broadcastProbes)
      .select("probe_id", "corpus_id")
    // probes × r pairs — KBs for a probe batch; broadcast them INTO the
    // raw-vector table so the exact re-score reads only shortlisted
    // corpus rows. broadcastProbes=false (per call or session conf)
    // drops the hints on BOTH outer joins too: for corpus-scale probe
    // sets the shortlist is probes-sized and must shuffle-join, not OOM
    // the driver
    val bcast = resolveBroadcastProbes(probes, broadcastProbes)
    val c = corpus.select(col(corpusId).as("corpus_id"),
      col(embCol).cast("array<double>").as("_ce")) // exact widening
    val p = probes.select(col(probeId).as("probe_id"), col(embCol).as("_pe"))
    val exact = c.join(if (bcast) broadcast(shortlist) else shortlist, "corpus_id")
      .join(if (bcast) broadcast(p) else p, "probe_id")
      .select(col("probe_id"), col("corpus_id"),
        graft.functions.VectorExpressions.l2sq(spark, col("_pe"), col("_ce")).as("dist"))
    val w = Window.partitionBy("probe_id").orderBy(col("dist").asc, col("corpus_id"))
    exact.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("probe_id", "corpus_id", "dist", "rank")
  }

  // ------------------------------------------------- scalar quantization

  /** SQ8 training: per-dimension (min, max) over the corpus — one typed
    * Aggregator pass, so partial extrema combine map-side and a single
    * 2×dims buffer reaches the driver regardless of corpus size. The
    * affine int8 quantizer these bounds define is the storage tier
    * BETWEEN raw floats and PQ: 4× smaller than float32 at far higher
    * fidelity than m-byte PQ codes (Faiss SQ8). */
  def sqTrain(
      corpus: DataFrame,
      embCol: String = "embedding"): (Array[Double], Array[Double]) = {
    val mm = udaf(new MinMaxAgg, ExpressionEncoder[Seq[Double]]())
    val r = corpus.filter(col(embCol).isNotNull)
      .select(col(embCol).cast("array<double>").as("_v"))
      .agg(mm(col("_v")).as("mm")).head.getStruct(0)
    val bounds = (r.getSeq[Double](0).toArray, r.getSeq[Double](1).toArray)
    // zero rows aggregate to the empty buffer; empty bounds would make
    // every downstream code empty and every distance 0.0 — fail loudly
    require(bounds._1.nonEmpty, "sqTrain needs a non-empty corpus")
    bounds
  }

  /** The PERSISTABLE SQ8 index: (`corpus_id`, `code` array<int> with
    * values 0..255) — `code_i = clamp(floor((v_i − min_i) · 255/span_i))`,
    * constant dimensions (span 0) code as 0. Null embeddings index as
    * null code and drop out of [[sqKnn]] scoring, like the PQ/IVF
    * indexes. All arithmetic is exact double ops in a fixed order so an
    * external engine replicates codes bit-for-bit. */
  def sqIndex(
      corpus: DataFrame,
      mins: Array[Double],
      maxs: Array[Double],
      corpusId: String = "vec_id",
      embCol: String = "embedding"): DataFrame = {
    val encodeU = udf((emb: Seq[Float]) =>
      if (emb == null) null else sqEncode(mins, maxs, emb))
    corpus.select(col(corpusId).as("corpus_id"), encodeU(col(embCol)).as("code"))
  }

  /** The SQ8 encode kernel — pure so its invariants property-check
    * (QuantizationPropSpec): codes in [0,255], bin-midpoint error ≤
    * span/510 per dim, monotone in the value, constant dims → 0. */
  private[graft] def sqEncode(
      mins: Array[Double], maxs: Array[Double], emb: Seq[Float]): Array[Int] =
    Array.tabulate(mins.length) { i =>
      val span = maxs(i) - mins(i)
      if (span == 0.0) 0
      else {
        val c = math.floor((emb(i) - mins(i)) * (255.0 / span))
        if (c < 0.0) 0 else if (c > 255.0) 255 else c.toInt
      }
    }

  /** Bin-midpoint dequantization table, (dim → code → value) — the
    * [[sqKnn]] scoring reference, pure for the same reason. */
  private[graft] def sqDeqTable(
      mins: Array[Double], maxs: Array[Double]): Array[Array[Double]] =
    Array.tabulate(mins.length) { i =>
      val span = maxs(i) - mins(i)
      if (span == 0.0) Array.fill(256)(mins(i))
      else Array.tabulate(256)(c => mins(i) + (c + 0.5) * (span / 255.0))
    }

  /** Asymmetric SQ8 knn: raw probe vs dequantized corpus codes
    * (`deq_i = min_i + (code_i + 0.5) · span_i/255` — bin midpoint), L2²
    * distance, ascending-i fold. No routing — SQ is a COMPRESSION tier,
    * so the scan shape is brute force over codes: right when the
    * quantized corpus fits memory the float corpus doesn't, or composed
    * under IVF routing for the scan-bound case. Dequantization runs ONCE
    * per corpus row (n rows, not n×probes pairs); the per-pair hot loop
    * is the native codegen [[graft.functions.L2SqDist]] expression with
    * bit-identical arithmetic, so the scan stays inside whole-stage
    * codegen like [[bruteForceKnn]]'s. `broadcastProbes` as in
    * [[ivfPqKnn]]. Returns (probe_id, corpus_id, sqdist, rank). */
  def sqKnn(
      index: DataFrame,
      mins: Array[Double],
      maxs: Array[Double],
      probes: DataFrame,
      k: Int = 10,
      probeId: String = "probe_id",
      embCol: String = "embedding",
      broadcastProbes: Option[Boolean] = None,
      heap: Boolean = false): DataFrame = {
    // bin-midpoint lookup per (dim, code) — 256×dims doubles, built once
    // on the driver, closed over by the per-ROW dequantize UDF
    val deqTable = sqDeqTable(mins, maxs)
    val deqU = udf((code: Seq[Int]) =>
      if (code == null) null
      else {
        val out = new Array[Double](code.length)
        var i = 0
        while (i < out.length) { out(i) = deqTable(i)(code(i)); i += 1 }
        out
      })
    val spark = index.sparkSession
    val deq = index.select(col("corpus_id"), deqU(col("code")).as("_dq"))
      .filter(col("_dq").isNotNull)
    val p = probes.select(col(probeId).as("probe_id"), col(embCol).as("_pe"))
      .filter(col("_pe").isNotNull)
    val pSide = if (resolveBroadcastProbes(probes, broadcastProbes)) broadcast(p) else p
    val scored = deq.crossJoin(pSide)
      .select(col("probe_id"), col("corpus_id"),
        graft.functions.VectorExpressions.l2sq(spark, col("_pe"), col("_dq")).as("sqdist"))
    rankTopK(scored, "sqdist", ascending = true, k, heap)
  }

  /** Per-dimension (min, max) as a typed Aggregator — bounded 2×dims
    * buffers, map-side combined (the [[sqTrain]] pass). */
  private class MinMaxAgg
      extends Aggregator[Seq[Double], (Array[Double], Array[Double]), (Array[Double], Array[Double])] {
    def zero: (Array[Double], Array[Double]) =
      (Array.emptyDoubleArray, Array.emptyDoubleArray)
    def reduce(b: (Array[Double], Array[Double]), v: Seq[Double]): (Array[Double], Array[Double]) =
      if (v == null) b
      else if (b._1.isEmpty) (v.toArray, v.toArray)
      else {
        // ragged input fails loudly — truncated extrema would silently
        // mis-scale every SQ8 code (same policy as the training sums)
        require(v.length == b._1.length,
          s"vector length mismatch in sqTrain: ${v.length} vs ${b._1.length}")
        var i = 0
        while (i < v.length) {
          if (v(i) < b._1(i)) b._1(i) = v(i)
          if (v(i) > b._2(i)) b._2(i) = v(i)
          i += 1
        }
        b
      }
    def merge(a: (Array[Double], Array[Double]), b: (Array[Double], Array[Double])): (Array[Double], Array[Double]) =
      if (a._1.isEmpty) b
      else if (b._1.isEmpty) a
      else {
        require(a._1.length == b._1.length,
          s"vector length mismatch in sqTrain: ${b._1.length} vs ${a._1.length}")
        var i = 0
        while (i < a._1.length) {
          if (b._1(i) < a._1(i)) a._1(i) = b._1(i)
          if (b._2(i) > a._2(i)) a._2(i) = b._2(i)
          i += 1
        }
        a
      }
    def finish(r: (Array[Double], Array[Double])): (Array[Double], Array[Double]) = r
    def bufferEncoder: Encoder[(Array[Double], Array[Double])] =
      ExpressionEncoder[(Array[Double], Array[Double])]()
    def outputEncoder: Encoder[(Array[Double], Array[Double])] =
      ExpressionEncoder[(Array[Double], Array[Double])]()
  }
}
