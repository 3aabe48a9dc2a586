package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Byte-pair-encoding tokenizer training and application (Sennrich et
  * al. 2016 shape) — the "train a tokenizer on the corpus, then encode
  * the corpus" step of an LLM data pipeline, built Spark-first:
  *
  *  - TRAINING runs on the word-TYPE table (distinct words weighted by
  *    frequency), so the corpus is touched ONCE; every Lloyd-style merge
  *    iteration is a groupBy over types (vocab-bounded — millions of
  *    rows at 100 TB, not the corpus), and only the single argmax pair
  *    (one Row) ever reaches the driver per iteration. The type table is
  *    re-materialized each step so the plan stays O(1) deep instead of
  *    accreting `numMerges` nested projections.
  *  - The learned model is `numMerges` (a, b) pairs — KBs, the same
  *    driver-side-model contract as the IVF/PQ codebooks.
  *  - ENCODING is a linear codegen-adjacent pass: one UDF application
  *    per doc with a per-executor word→tokens memo (Zipf makes the memo
  *    hit rate extreme), no shuffle, no state.
  *
  * Determinism: ties in pair frequency break lexicographically on
  * (a, b), so training is reproducible run-to-run and engine-to-engine;
  * encoding applies merges in learned order with left-to-right
  * non-overlapping occurrence merging per pass — the p47 oracle replays
  * the identical fold in SQL (recursive CTE over merge rank +
  * `list_reduce` within each pass) against a pinned merge list. */
object Bpe {

  /** Lowercase `\W+` word-type table: (w, n) = distinct word,
    * occurrence count. The ONE corpus-wide pass of training. */
  def wordTypes(docs: DataFrame, textCol: String = "text"): DataFrame =
    docs.select(explode(split(lower(trim(col(textCol))), "\\W+")).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy("w").agg(count(lit(1)).as("n"))

  /** One left-to-right merge pass: every non-overlapping adjacent
    * (a, b) becomes the single symbol a+b. Shared by training (per
    * type, each iteration) and encoding (per word, each merge). */
  private[graft] def mergePass(syms: Array[String], a: String, b: String): Array[String] = {
    val out = Array.newBuilder[String]
    var i = 0
    while (i < syms.length) {
      if (i + 1 < syms.length && syms(i) == a && syms(i + 1) == b) {
        out += (a + b); i += 2
      } else { out += syms(i); i += 1 }
    }
    out.result()
  }

  /** Learn `numMerges` BPE merges from a corpus. Stops early when no
    * adjacent pair reaches `minPairFreq`. `maxTrainRows` > 0 samples
    * the corpus deterministically first (md5-threshold, the p21/
    * `maxTrainRows` idiom) so training cost is O(sample).
    *
    * `batchMerges` (VERDICT r8 #4): sequential BPE is one count job +
    * one merge job PER merge — at a production 32k–50k vocab the
    * latency is driver round trips, not data. With `batchMerges` = M,
    * each counting round accepts up to M pairs, taken in descending
    * (count, a, b) order and SYMBOL-DISJOINT: a pair is accepted only
    * if neither member nor its concatenation collides with a
    * higher-ranked accepted pair's members or product. Disjoint pairs'
    * counts are invariant under each other's merges (a merge only
    * touches adjacencies involving its own symbols), so every accepted
    * pair's count is its true count at acceptance time. The one
    * divergence from sequential greedy: a NEW pair created by merge i
    * (count bounded by merge i's count) can in principle out-rank a
    * later accepted pair; sequential would interleave it, batched
    * defers it to the next round. M = 1 (the default) is bit-exact
    * sequential semantics — the p47/p50 oracles pin it; batched mode is
    * the documented scale path (driver rounds ~numMerges/M, BpeSpec
    * asserts list equality on separated-count corpora). */
  def train(docs: DataFrame, numMerges: Int, textCol: String = "text",
      minPairFreq: Long = 2L, maxTrainRows: Long = 0L,
      idCol: String = "doc_id", batchMerges: Int = 1): Seq[(String, String)] = {
    require(numMerges >= 0, s"numMerges must be >= 0, got $numMerges")
    require(batchMerges >= 1, s"batchMerges must be >= 1, got $batchMerges")
    val base =
      if (maxTrainRows <= 0L) docs
      else {
        val total = docs.count()
        if (total <= maxTrainRows) docs
        else docs.filter(
          graft.operators.Sketches.md5Hash61(
            concat_ws(":", lit("bpe"), col(idCol).cast("string")))
            .cast("double") < lit(maxTrainRows.toDouble / total) * lit(Md5.M61.toDouble))
      }
    // symbol sequences per word TYPE; all iterations run on this table
    var types = wordTypes(base, textCol)
      .select(split(col("w"), "").as("syms"), col("n"))
      .transform(graft.Stage.materialize)
    val merges = Seq.newBuilder[(String, String)]
    var step = 0
    var done = false
    while (step < numMerges && !done) {
      val want = math.min(batchMerges, numMerges - step)
      // over-fetch so conflict rejections still usually fill the batch;
      // an under-filled batch just means one extra counting round
      val fetch = if (want == 1) 1 else math.max(4 * want, 16)
      val top = types
        .select(posexplode(col("syms")).as(Seq("i", "a")), col("syms"), col("n"))
        .filter(col("i") < size(col("syms")) - 1)
        .select(col("a"), element_at(col("syms"), col("i") + 2).as("b"), col("n"))
        .groupBy("a", "b").agg(sum(col("n")).as("c"))
        .filter(col("c") >= minPairFreq)
        .orderBy(col("c").desc, col("a"), col("b"))
        .limit(fetch).collect()
      if (top.isEmpty) done = true
      else {
        // accept symbol-disjoint pairs in rank order: members AND the
        // merged product must be untouched by higher-ranked acceptances
        // (a pair involving an accepted pair's product would gain new
        // occurrences from that merge — its count here is stale)
        val used = scala.collection.mutable.Set.empty[String]
        val accepted = Seq.newBuilder[(String, String)]
        var k = 0
        var taken = 0
        while (k < top.length && taken < want) {
          val (a, b) = (top(k).getString(0), top(k).getString(1))
          if (!used(a) && !used(b) && !used(a + b)) {
            accepted += ((a, b)); used ++= Seq(a, b, a + b); taken += 1
          }
          k += 1
        }
        val batch = accepted.result()
        merges ++= batch
        // one UDF pass applies the whole batch in rank order;
        // re-materialize keeps the plan one projection deep per round
        // instead of numMerges nested UDF applications
        val batchArr = batch.toArray
        val batchUdf = udf { (syms: Seq[String]) =>
          batchArr.foldLeft(syms.toArray) { case (s, (a, b)) => mergePass(s, a, b) }.toSeq
        }
        types = types
          .select(batchUdf(col("syms")).as("syms"), col("n"))
          .transform(graft.Stage.materialize)
        step += batch.length
      }
    }
    merges.result()
  }

  /** Encode text with a learned merge list: per word, start from
    * characters and apply every merge in order (the Sennrich encode).
    * Per-executor memo keyed on (model identity, word) — Zipf's law
    * makes the hit rate extreme, so the pass is effectively one array
    * fold per DISTINCT word per executor. Returns the token ARRAY
    * (space-join it for storage, `size` it for budgeting). */
  def encode(merges: Seq[(String, String)], text: Column): Column =
    encodeUdf(merges)(text)

  private def encodeUdf(merges: Seq[(String, String)]) = {
    val model = merges.toArray // serialized into the closure once
    udf { (text: String) =>
      if (text == null) Seq.empty[String]
      else {
        val memo = Bpe.memoFor(model)
        text.trim.toLowerCase.split("\\W+").iterator.filter(_.nonEmpty)
          .flatMap { w =>
            var toks = memo.get(w)
            if (toks == null) {
              toks = model.foldLeft(w.split("")) { case (s, (a, b)) => mergePass(s, a, b) }
              memo.putIfAbsent(w, toks)
            }
            toks.iterator
          }.toSeq
      }
    }
  }

  // per-executor encode memos, keyed WEAKLY on model identity (the
  // closure array deserializes once per executor, so identity is
  // stable there; weak keys let a long-lived JVM drop a memo once its
  // query's closure is collected instead of accumulating models)
  private val memos = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[AnyRef,
      java.util.concurrent.ConcurrentHashMap[String, Array[String]]]())
  private def memoFor(model: AnyRef) = memos.synchronized {
    var m = memos.get(model)
    if (m == null) {
      m = new java.util.concurrent.ConcurrentHashMap[String, Array[String]]()
      memos.put(model, m)
    }
    m
  }

  /** Merge list as a relation (rank, a, b) — persist with any sink;
    * [[mergesFromDF]] restores training order from the rank column. */
  def mergesToDF(merges: Seq[(String, String)],
      spark: org.apache.spark.sql.SparkSession): DataFrame = {
    import spark.implicits._
    merges.zipWithIndex
      .map { case ((a, b), i) => (i + 1, a, b) }.toDF("rank", "a", "b")
  }

  /** Restore a merge list from its relation form (ordered by rank). */
  def mergesFromDF(df: DataFrame): Seq[(String, String)] =
    df.orderBy(col("rank")).collect()
      .map(r => (r.getAs[String]("a"), r.getAs[String]("b"))).toSeq

  /** Deterministic token-id table for a merge list over a corpus:
    * every token the encoder emits on this corpus, id = 1-based
    * lexicographic rank. Built from the word-TYPE table (corpus touched
    * once); the ranking window runs over the VOCAB-sized distinct-token
    * table (KBs–MBs at any corpus scale), not the corpus. */
  def vocabulary(merges: Seq[(String, String)], docs: DataFrame,
      textCol: String = "text"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    wordTypes(docs, textCol)
      .select(explode(encode(merges, col("w"))).as("token"))
      .distinct()
      .withColumn("id", row_number().over(Window.orderBy(col("token"))).cast("long"))
  }

  /** Encode text to token IDS against a vocabulary table — the
    * "tokenize the corpus for training" output format. Join-based (the
    * id lookup is a shuffle equi-join against the vocab TYPE table, no
    * driver-side map), order restored per doc by token position.
    * Tokens outside the vocabulary resolve to -1 (a vocabulary built by
    * [[vocabulary]] on the same corpus covers everything the encoder
    * can emit there). Returns (idCol, n_ids, ids) with `ids` the
    * space-joined id sequence. */
  def encodeIds(merges: Seq[(String, String)], vocab: DataFrame,
      docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val toks = docs
      .select(col(idCol), posexplode(encode(merges, col(textCol))).as(Seq("pos", "token")))
    toks.join(vocab, Seq("token"), "left_outer")
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_ids"),
        concat_ws(" ", transform(
          array_sort(collect_list(struct(col("pos"), coalesce(col("id"), lit(-1L)).as("id")))),
          s => s.getField("id").cast("string"))).as("ids"))
  }
}
