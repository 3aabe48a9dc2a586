package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Unigram-LM tokenizer training and application (the SentencePiece
  * unigram model, Kudo 2018 shape) — the second of the two tokenizer
  * families real pretraining stacks use, next to [[Bpe]]. Same
  * Spark-first discipline:
  *
  *  - TRAINING is word-TYPE-table-bound: the corpus is touched once
  *    ([[Bpe.wordTypes]]); seeding explodes each type into its
  *    substrings (≤ `maxPieceLen` chars — |w|·maxPieceLen rows per
  *    TYPE, never per token), and every EM round is one Viterbi pass
  *    over the type table plus a vocab-sized count/prune aggregation.
  *    Only the KB-sized vocabulary ever reaches the driver — the
  *    IVF/PQ/BPE model contract.
  *  - The model is (piece, cnt, score_q): quantized relative piece
  *    frequencies at 1e18 scale, computed by exact INTEGRAL division
  *    (DECIMAL(38,0) on Spark, HUGEINT in the p73 oracle) — no libm,
  *    no float accumulation, hash-exact across engines.
  *  - EM is the HARD (Viterbi) variant: E-step segments each word type
  *    under the current scores, M-step recounts pieces and re-prunes.
  *    Hard EM keeps every quantity an integer count (replayable,
  *    partition-independent) where full forward-backward would sum
  *    float posteriors in nondeterministic order. The one float
  *    surface is the Viterbi product itself — an IEEE double chain
  *    evaluated in pinned DP order, deterministic run-to-run (the
  *    [[TextAnalysis.bm25Tfq]] contract), never aggregated.
  *
  * Determinism: pruning keeps every single character (coverage) plus
  * the top multi-char pieces by (cnt DESC, piece ASC) — a total order;
  * Viterbi ties break toward fewer pieces, then the longest last piece
  * (smallest split point). Training twice, at any parallelism, yields
  * byte-identical vocabularies; p73 replays the seed stage in SQL.
  */
object Unigram {

  /** Quantization scale for piece scores: 1e18 keeps floor(scale·cnt/
    * total) ≥ 1 for any piece of a corpus up to ~10¹⁸ piece
    * occurrences (far past 100 TB), so no kept piece quantizes to an
    * unreachable zero. */
  val Scale: Long = 1000000000000000000L

  /** Substring piece candidates of a corpus, weighted by word-type
    * frequency: (piece, cnt) for every substring of length ≤
    * `maxPieceLen` of every word type (all occurrences, overlaps
    * included — the standard seed). Type-table-bound: |w|·maxPieceLen
    * rows per distinct word, regardless of corpus size. */
  def seedPieces(docs: DataFrame, maxPieceLen: Int = 4,
      textCol: String = "text"): DataFrame =
    seedPiecesFromTypes(Bpe.wordTypes(docs, textCol), maxPieceLen)

  /** [[seedPieces]] from an ALREADY-COMPUTED word-type table — [[train]]
    * materializes the type table once and both the seed and every EM
    * round read it, so the corpus is tokenized exactly once. */
  def seedPiecesFromTypes(wordTypes: DataFrame,
      maxPieceLen: Int = 4): DataFrame = {
    require(maxPieceLen >= 1, s"maxPieceLen must be >= 1, got $maxPieceLen")
    wordTypes
      .select(col("w"), col("n"),
        explode(sequence(lit(1), length(col("w")))).as("s"))
      .select(col("w"), col("n"), col("s"),
        explode(sequence(lit(1), lit(maxPieceLen))).as("l"))
      .filter(col("s") + col("l") - 1 <= length(col("w")))
      .select(col("w").substr(col("s"), col("l")).as("piece"), col("n"))
      .groupBy("piece").agg(sum(col("n")).as("cnt"))
  }

  /** Prune a (piece, cnt) table to the vocabulary contract: ALL single
    * characters survive (coverage guarantee), multi-char pieces need
    * `cnt >= minFreq` and only the top `vocabSize - nChars` by
    * (cnt DESC, piece ASC) are kept; scores are the exact integral
    * floor(Scale·cnt / total-over-kept), single chars floored at 1 so
    * no character is ever Viterbi-unreachable. */
  private def pruneAndScore(counted0: DataFrame, vocabSize: Int,
      minFreq: Long): DataFrame = {
    // the piece aggregation is read three times below (char count, char
    // branch, multi branch) — materialize it so the upstream lineage
    // (a corpus-tokenizing explode at seed time) runs once
    val counted = counted0.transform(graft.Stage.materialize)
    val chars = counted.filter(length(col("piece")) === 1)
    val nChars = chars.count()
    val k = math.max(0L, vocabSize.toLong - nChars)
    val multi = counted
      .filter(length(col("piece")) > 1 && col("cnt") >= minFreq)
      .orderBy(col("cnt").desc, col("piece"))
      .limit(if (k > Int.MaxValue) Int.MaxValue else k.toInt)
    val kept = chars.unionByName(multi)
      .transform(graft.Stage.materialize) // total + scores both read it
    val total = kept.agg(coalesce(sum(col("cnt")), lit(0L))).head().getLong(0)
    require(total > 0, "unigram vocabulary is empty — no tokens in corpus?")
    kept.select(col("piece"), col("cnt"),
      greatest(
        expr(s"(cast(cnt as decimal(38,0)) * ${Scale}L) div ${total}L")
          .cast("long"),
        when(length(col("piece")) === 1, lit(1L)).otherwise(lit(0L)))
        .as("score_q"))
  }

  /** Seed vocabulary: substring candidates pruned and scored — the EM
    * starting point, and the stage the p73 oracle replays in SQL. */
  def seedVocab(docs: DataFrame, vocabSize: Int, maxPieceLen: Int = 4,
      minFreq: Long = 2L, textCol: String = "text"): DataFrame = {
    require(vocabSize >= 1, s"vocabSize must be >= 1, got $vocabSize")
    pruneAndScore(seedPieces(docs, maxPieceLen, textCol), vocabSize, minFreq)
  }

  /** Viterbi segmentation of one word under quantized piece scores:
    * maximize the product of piece probabilities (score_q·1e-18), ties
    * to fewer pieces, then to the longest last piece. Characters
    * absent from the vocabulary become their own piece at the minimum
    * quantum (the unknown-char fallback); if the running product
    * underflows to zero the cell falls back to a single-char step, so
    * segmentation always completes. Pure kernel — the property suite
    * pins coverage (pieces concatenate to the word) and optimality vs
    * brute-force enumeration on short words. */
  private[graft] def viterbi(w: String, scores: collection.Map[String, Long],
      maxPieceLen: Int): Array[String] = {
    val n = w.length
    if (n == 0) return Array.empty
    val dp = new Array[Double](n + 1); dp(0) = 1.0
    val cnt = new Array[Int](n + 1)
    val back = new Array[Int](n + 1)
    var i = 1
    while (i <= n) {
      var best = -1.0; var bestJ = -1; var bestCnt = Int.MaxValue
      var j = math.max(0, i - maxPieceLen)
      while (j < i) {
        val piece = w.substring(j, i)
        val q = scores.getOrElse(piece,
          if (i - j == 1) 1L else 0L) // unknown char: minimum quantum
        if (q > 0L && (dp(j) > 0.0 || j == 0 || back(j) >= 0)) {
          val cand = dp(j) * (q.toDouble * 1e-18)
          val candCnt = cnt(j) + 1
          if (cand > best || (cand == best && candCnt < bestCnt)) {
            best = cand; bestJ = j; bestCnt = candCnt
          }
        }
        j += 1
      }
      if (bestJ < 0) { bestJ = i - 1; best = 0.0; bestCnt = cnt(i - 1) + 1 }
      dp(i) = best; back(i) = bestJ; cnt(i) = bestCnt
      i += 1
    }
    var out = List.empty[String]
    var p = n
    while (p > 0) { val j = back(p); out = w.substring(j, p) :: out; p = j }
    out.toArray
  }

  /** One hard-EM round: Viterbi-segment every word TYPE under `model`,
    * recount pieces (weighted by type frequency), re-prune and
    * re-score. Multi-char pieces no path uses drop out — the unigram
    * pruning step; single chars always survive (cnt 0 → score 1). */
  def emRound(wordTypes: DataFrame, model: Seq[(String, Long)],
      vocabSize: Int, maxPieceLen: Int = 4): DataFrame = {
    val scores = model.toMap
    val seg = udf { (w: String) =>
      if (w == null) Seq.empty[String]
      else viterbi(w, scores, maxPieceLen).toSeq
    }
    val counted = wordTypes
      .select(explode(seg(col("w"))).as("piece"), col("n"))
      .groupBy("piece").agg(sum(col("n")).as("cnt"))
    // chars from the MODEL, not the counts: a char no Viterbi path used
    // this round must still survive (coverage), at cnt 0
    val modelChars = model.collect { case (p, _) if p.length == 1 => p }
    val charBase = wordTypes.sparkSession
      .createDataFrame(modelChars.map(Tuple1(_)))
      .toDF("piece")
    val withChars = charBase
      .join(counted.filter(length(col("piece")) === 1), Seq("piece"), "left_outer")
      .select(col("piece"), coalesce(col("cnt"), lit(0L)).as("cnt"))
      .unionByName(counted.filter(length(col("piece")) > 1))
    pruneAndScore(withChars, vocabSize, minFreq = 1L)
  }

  /** Train a unigram vocabulary: seed from substrings, then `rounds`
    * hard-EM refinements. Returns (piece, cnt, score_q) — KBs at any
    * corpus scale; persist with any sink and restore via [[vocabSeq]].
    * Training is FLAT across corpus replication (the type table, not
    * the corpus, drives every step — BASELINE.md "Round-10 ScaleProbe
    * additions"). */
  def train(docs: DataFrame, vocabSize: Int, rounds: Int = 2,
      maxPieceLen: Int = 4, minFreq: Long = 2L,
      textCol: String = "text"): DataFrame = {
    require(rounds >= 0, s"rounds must be >= 0, got $rounds")
    val wt = Bpe.wordTypes(docs, textCol)
      .transform(graft.Stage.materialize) // seed AND every EM round read it
    var vocab = pruneAndScore(seedPiecesFromTypes(wt, maxPieceLen),
      vocabSize, minFreq)
    for (_ <- 1 to rounds)
      vocab = emRound(wt, vocabSeq(vocab), vocabSize, maxPieceLen)
    vocab
  }

  /** Collect a vocabulary relation to the KB-sized driver model
    * [[encode]] closes over: (piece, score_q), piece-sorted. */
  def vocabSeq(vocab: DataFrame): Seq[(String, Long)] =
    vocab.select("piece", "score_q").orderBy("piece").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq

  /** Encode text with a trained vocabulary: per word, Viterbi under
    * the quantized scores, with the per-executor word→pieces memo
    * ([[Bpe.encode]]'s Zipf contract). Returns the piece ARRAY. */
  def encode(model: Seq[(String, Long)], text: Column,
      maxPieceLen: Int = 4): Column = {
    val arr = model.toArray
    val scores = model.toMap
    val u = udf { (s: String) =>
      if (s == null) Seq.empty[String]
      else {
        val memo = memoFor(arr)
        s.trim.toLowerCase.split("\\W+").iterator.filter(_.nonEmpty)
          .flatMap { w =>
            var pieces = memo.get(w)
            if (pieces == null) {
              pieces = viterbi(w, scores, maxPieceLen)
              memo.putIfAbsent(w, pieces)
            }
            pieces.iterator
          }.toSeq
      }
    }
    u(text)
  }

  // per-executor encode memos, weak-keyed on the deserialized model
  // array (the Bpe.memos pattern)
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
}
