package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for large-scale training-data pipelines.
  * All pure Column expressions (codegen'd, no UDFs in the hot path) —
  * designed to run over O(100 TB) of documents.
  */
object TextAnalysis {

  /** Whitespace token count. */
  def tokenCount(text: Column): Column =
    size(split(trim(text), "\\s+"))

  /** BPE-ish subword count approximation: GPT-style pre-tokenizer regex —
    * words, numbers, punctuation runs — without a vocab. */
  def bpeishTokenCount(text: Column): Column =
    size(regexp_extract_all(text,
      lit("'(?:s|t|re|ve|m|ll|d)|\\p{L}+|\\p{N}+|[^\\s\\p{L}\\p{N}]+"), lit(0)))

  /** Characters per token — a cheap fertility/quality proxy. */
  def charsPerToken(text: Column): Column =
    length(text).cast("double") / greatest(tokenCount(text), lit(1))

  private val stopwords = Seq("the", "a", "an", "and", "or", "of", "to",
    "in", "is", "it", "that", "for", "on", "with", "as", "was", "at", "by")

  /** Quality-score struct: length, token count, punctuation ratio, stopword
    * ratio, mean word length, uppercase ratio. Heuristics in the spirit of
    * C4/Gopher quality filtering. */
  def qualityScore(text: Column): Column = {
    val toks = split(trim(lower(text)), "\\s+")
    val nTok = greatest(size(toks), lit(1))
    val stopHits = size(array_intersect(toks, array(stopwords.map(lit): _*)))
    struct(
      length(text).as("n_chars"),
      size(toks).as("n_tokens"),
      (length(regexp_replace(text, "[^\\p{Punct}]", "")).cast("double") /
        greatest(length(text), lit(1))).as("punct_ratio"),
      (stopHits.cast("double") / nTok).as("stopword_ratio"),
      ((length(text).cast("double") - size(toks) + 1) / nTok).as("mean_word_len"),
      (length(regexp_replace(text, "[^A-Z]", "")).cast("double") /
        greatest(length(text), lit(1))).as("upper_ratio"))
  }

  /** Classifier-based quality filtering — the fastText/DCLM-style gate
    * every large-scale curation pipeline runs: an EXTERNALLY-trained
    * linear model applied at corpus scale. The engine's job is
    * application, not training — `weights` (one per [[qualityScore]]
    * feature, struct order: n_chars, n_tokens, punct_ratio,
    * stopword_ratio, mean_word_len, upper_ratio) and `bias` are KBs
    * riding the expression tree. Emits a struct:
    *   - `logit` = bias + Σ wᵢ·fᵢ, a FIXED left-associative fold of
    *     exact double arithmetic — bit-replicable by an external engine
    *     (the p43 oracle hash-checks it);
    *   - `keep`  = logit ≥ threshold — sigmoid is monotone, so this IS
    *     the probability gate (`prob ≥ σ(threshold)`) in exact math;
    *   - `prob`  = σ(logit), for humans and sampling weights —
    *     deliberately NOT part of the hash-checked surface, since libm
    *     `exp` may differ by ulps across engines.
    * Pure Column expressions: linear scan, no shuffle, no UDF. */
  def classifierScore(text: Column, weights: Array[Double], bias: Double,
      threshold: Double = 0.0): Column = {
    val q = qualityScore(text)
    val feats = Seq(
      q.getField("n_chars").cast("double"),
      q.getField("n_tokens").cast("double"),
      q.getField("punct_ratio"),
      q.getField("stopword_ratio"),
      q.getField("mean_word_len"),
      q.getField("upper_ratio"))
    require(weights.length == feats.length,
      s"classifierScore needs ${feats.length} weights (qualityScore order), got ${weights.length}")
    val logit = feats.zip(weights).foldLeft(lit(bias)) {
      case (acc, (f, w)) => acc + lit(w) * f
    }
    struct(
      logit.as("logit"),
      (logit >= lit(threshold)).as("keep"),
      (lit(1.0) / (lit(1.0) + exp(-logit))).as("prob"))
  }

  private val langStopwords: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "and", "of", "to", "in", "is", "that", "it", "for", "was"),
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "ein", "mit", "sie", "auf"),
    "fr" -> Seq("le", "la", "les", "et", "est", "une", "que", "pour", "dans", "pas"),
    "es" -> Seq("el", "la", "los", "que", "y", "es", "una", "por", "con", "para"),
    "it" -> Seq("il", "la", "che", "di", "e", "un", "per", "non", "sono", "con"))

  /** n-gram/stopword-heuristic language ID: the language whose stopword set
    * hits the most tokens wins; ties and zero hits → "und" (undetermined).
    * Pure Column expression — scales linearly, no shuffle. */
  def langId(text: Column): Column = {
    val toks = split(trim(lower(text)), "\\W+")
    val scored = langStopwords.toSeq.sortBy(_._1).map { case (lang, sw) =>
      struct(
        size(array_intersect(array_distinct(toks), array(sw.map(lit): _*))).as("hits"),
        lit(lang).as("lang"))
    }
    val best = array_max(array(scored: _*))
    when(best("hits") > 0, best("lang")).otherwise(lit("und"))
  }

  /** Rolling-hash document fingerprint over normalized tokens —
    * whitespace/case-insensitive near-identity fingerprint. Polynomial
    * rolling hash mod 2^61-1 over md5-lower-64 token hashes (order
    * sensitive): acc ← (acc·1000003 + h61(tok)) mod M. Every step is
    * replicable in DuckDB (`list_reduce` over `md5_number_lower`), so the
    * oracle checks fingerprints bit-for-bit; see [[graft.pipeline.Md5]].
    * BigInt only guards the 61×20-bit product — ~100 tokens/doc, cold
    * path. */
  def fingerprint(text: Column): Column = fingerprintKernel(text)

  private val fingerprintKernel = udf { (text: String) =>
    val md = Md5.newDigest()
    val M = BigInt(Md5.M61)
    var acc = BigInt(0)
    if (text != null)
      text.trim.toLowerCase.split("\\s+").foreach { t =>
        acc = (acc * 1000003 + BigInt(Md5.lower64(md, t) & Md5.M61)) % M
      }
    acc.toLong
  }

  /** Convenience: annotate a documents DataFrame with the full suite. */
  def annotate(df: DataFrame, textCol: String = "text"): DataFrame = {
    val t = col(textCol)
    df.withColumn("token_count", tokenCount(t))
      .withColumn("bpeish_tokens", bpeishTokenCount(t))
      .withColumn("quality", qualityScore(t))
      .withColumn("lang_pred", langId(t))
      .withColumn("fingerprint", fingerprint(t))
  }

  // ------------------------------------------- contamination / benchmarks

  /** Distinct lowercase word n-grams (the whole text as ONE gram when the
    * doc has ≤ n tokens — mirroring the shingle fallback). Fused UDF
    * kernel: the equivalent filter/transform/slice HOF pipeline is
    * CodegenFallback (interpreted per element) and measured ~10× slower
    * over the corpus — the same lesson as the minhash kernels. */
  private val wordNgramsKernel = udf { (text: String, n: Int) =>
    val toks =
      if (text == null) Array.empty[String]
      else text.trim.toLowerCase.split("\\W+").filter(_.nonEmpty)
    if (toks.isEmpty) Array("")
    else if (toks.length <= n) Array(toks.mkString(" "))
    else {
      val set = new java.util.LinkedHashSet[String]()
      val sb = new java.lang.StringBuilder
      var i = 0
      while (i <= toks.length - n) {
        sb.setLength(0)
        var j = 0
        while (j < n) { if (j > 0) sb.append(' '); sb.append(toks(i + j)); j += 1 }
        set.add(sb.toString)
        i += 1
      }
      set.toArray(new Array[String](set.size))
    }
  }

  def wordNgrams(text: Column, n: Int): Column = wordNgramsKernel(text, lit(n))

  /** Benchmark-contamination detection: for each corpus document, how
    * many distinct word n-grams it shares with the probe (benchmark) set
    * and how many distinct probe documents it touches. The probe side is
    * tiny by definition (eval sets), so its (gram, probe id) pairs
    * BROADCAST — the corpus is never shuffled for the match; only the
    * (small) hit set shuffles for the per-doc aggregation. The standard
    * decontamination primitive for a 100 TB pretraining pipeline. */
  def contamination(
      corpus: DataFrame,
      probes: DataFrame,
      n: Int = 8,
      textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    val probeGrams = probes.select(col(idCol).as("_probe_id"),
      explode(wordNgrams(col(textCol), n)).as("_gram")).distinct()
    val corpusGrams = corpus.select(col(idCol),
      explode(wordNgrams(col(textCol), n)).as("_gram"))
    corpusGrams.join(broadcast(probeGrams), "_gram")
      .groupBy(idCol)
      .agg(count_distinct(col("_gram")).as("n_hit_ngrams"),
        count_distinct(col("_probe_id")).as("n_probe_docs"))
  }

  // --------------------------------------------------------- PII scrub

  // ------------------------------------------------- text normalization

  private val nfcKernel = udf { (s: String) =>
    if (s == null) null
    else java.text.Normalizer.normalize(s, java.text.Normalizer.Form.NFC)
  }

  /** Unicode NFC canonical composition — both engines implement the same
    * Unicode standard algorithm (DuckDB: `nfc_normalize`), so normalized
    * text hash-matches across them. */
  def nfc(text: Column): Column = nfcKernel(text)

  /** The standard first curation stage: NFC-compose, strip C0/DEL control
    * characters (newline and tab survive), collapse space/tab runs, trim.
    * Pure per-row column expressions after the NFC kernel — linear, no
    * shuffle; the regex subset is one Java and RE2 agree on. */
  def normalizeText(text: Column): Column =
    trim(regexp_replace(
      regexp_replace(nfc(text),
        "[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F]", ""),
      "[ \\t]+", " "))

  private val EmailRe = "[a-z0-9._%+-]+@[a-z0-9-]+\\.(com|org|net)"
  private val Ipv4Re = "\\d+\\.\\d+\\.\\d+\\.\\d+"
  private val PhoneRe = "\\d{3}-\\d{3}-\\d{4}"

  /** PII scrubbing (emails, IPv4s, phone-shaped numbers): redact to
    * typed tokens and count what was removed. Pure Column regexes —
    * codegen'd, linear, no shuffle; patterns deliberately in the regex
    * subset Java and RE2 dialects agree on. */
  def piiScrub(text: Column): Column = {
    val scrubbed = regexp_replace(
      regexp_replace(
        regexp_replace(text, EmailRe, "<EMAIL>"),
        Ipv4Re, "<IP>"),
      PhoneRe, "<PHONE>")
    struct(
      regexp_count(text, lit(EmailRe)).as("n_emails"),
      regexp_count(text, lit(Ipv4Re)).as("n_ips"),
      regexp_count(text, lit(PhoneRe)).as("n_phones"),
      scrubbed.as("scrubbed"))
  }

  // ------------------------------------------- mixture sampling / packing

  /** Deterministic mixture sampling: take `quota(source)` documents per
    * source, selected by md5(doc id) order — the reproducible-without-RNG
    * sampling real pipelines use to hit a target source mixture (same
    * docs on every run, any cluster, any parallelism). One window rank
    * per source partition; at 100 TB sources are many and the rank
    * parallelizes per source. Unquoted sources are dropped. */
  def mixtureSample(
      df: DataFrame,
      quotas: Map[String, Int],
      sourceCol: String = "source",
      idCol: String = "doc_id"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val quotaCol = quotas.foldLeft(lit(-1)) { case (acc, (s, n)) =>
      when(col(sourceCol) === s, lit(n)).otherwise(acc)
    }
    val w = Window.partitionBy(sourceCol)
      .orderBy(md5(col(idCol).cast("string")), col(idCol))
    df.withColumn("_q", quotaCol)
      .filter(col("_q") > 0)
      .withColumn("_rk", row_number().over(w))
      .filter(col("_rk") <= col("_q"))
      .drop("_q", "_rk")
  }

  /** Deterministic stratified split: label every row train/val/test (any
    * named splits) with EXACT floor-quantile proportions per stratum,
    * ordered by md5(id) — the reproducible-without-RNG split: same
    * assignment on every run, any cluster, any parallelism, and the same
    * expression replays in the oracle engine (p59). The last split
    * absorbs rounding remainders, so labeling is total even when the
    * weights sum to 1 only approximately. One window rank per stratum
    * (the [[mixtureSample]] scaling argument: strata are many and
    * independent); when exact proportions aren't required, the
    * [[mixtureSampleByRate]] hash-threshold idiom is the window-free
    * scale path. */
  def stratifiedSplit(
      df: DataFrame,
      splits: Seq[(String, Double)],
      strataCol: String = "source",
      idCol: String = "doc_id"): DataFrame = {
    require(splits.nonEmpty, "need at least one split")
    require(splits.map(_._2).forall(_ > 0), "split weights must be positive")
    require(math.abs(splits.map(_._2).sum - 1.0) < 1e-6,
      s"split weights must sum to 1, got ${splits.map(_._2).sum}")
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(strataCol)
      .orderBy(md5(col(idCol).cast("string")), col(idCol))
    val cums = splits.map(_._2).scanLeft(0.0)(_ + _).tail
    val label = splits.init.zip(cums.init).reverse
      .foldLeft(lit(splits.last._1)) { case (acc, ((name, _), cum)) =>
        when(col("_rk") <= floor(col("_n") * lit(cum)), lit(name))
          .otherwise(acc)
      }
    df.withColumn("_rk", row_number().over(w))
      .withColumn("_n", count(lit(1)).over(Window.partitionBy(strataCol)))
      .withColumn("split", label)
      .drop("_rk", "_n")
  }

  /** Scale path for [[mixtureSample]]: keep a deterministic ~`rate`
    * fraction of each source by thresholding a doc-id hash — no window,
    * no per-source serialization, one linear codegen'd pass (the classic
    * hash-threshold sampling every reproducible pipeline uses when exact
    * quotas aren't required). Same doc is kept at rate r whenever it is
    * kept at any r' < r (nested samples). */
  def mixtureSampleByRate(
      df: DataFrame,
      rates: Map[String, Double],
      sourceCol: String = "source",
      idCol: String = "doc_id"): DataFrame = {
    val rateCol = rates.foldLeft(lit(-1.0)) { case (acc, (s, r)) =>
      when(col(sourceCol) === s, lit(r)).otherwise(acc)
    }
    val M = 1000000L
    val bucket = pmod(xxhash64(col(idCol)), lit(M))
    df.withColumn("_r", rateCol)
      .filter(col("_r") > 0 && bucket < (col("_r") * M).cast("long"))
      .drop("_r")
  }

  /** Token-budget sequence packing, stream-chunking semantics: the
    * per-(source, shard) doc-id-ordered token stream is cut every
    * `budget` tokens and each document lands in the bin holding its LAST
    * token — exactly how packed pretraining batches concatenate documents
    * across boundaries. A bin's doc-granular token sum may exceed the
    * budget by its first doc's overhang (< that doc's length); a doc
    * longer than the budget spans bins and is assigned to the last.
    * One window pass per partition; with the default `shards = 1` each
    * source is one sequential window task — fine for many-source
    * corpora, a straggler for few-source ones — so at scale pass
    * `shards > 1` to split every source into deterministic doc-id-hash
    * shards packed independently (bin ids unique per (source, shard)). */
  def packTokens(
      df: DataFrame,
      budget: Long,
      textCol: String = "text",
      sourceCol: String = "source",
      idCol: String = "doc_id",
      shards: Int = 1): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(shards >= 1, s"shards must be >= 1, got $shards")
    val shardCol =
      if (shards == 1) lit(0L) else pmod(xxhash64(col(idCol)), lit(shards.toLong))
    val w = Window.partitionBy(col(sourceCol), col("_shard")).orderBy(idCol)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val localBin = (((col("_cum") - lit(1)) - ((col("_cum") - lit(1)) % budget)) / budget)
      .cast("long")
    df.withColumn("_shard", shardCol)
      .withColumn("_tok", tokenCount(col(textCol)).cast("long"))
      .withColumn("_cum", sum(col("_tok")).over(w))
      .select(col(idCol), col(sourceCol), col("_tok").as("n_tokens"),
        (col("_shard") * lit(1L << 40) + localBin).as("bin"))
  }

  // ------------------------------------------------ mixture weighting

  /** Temperature-weighted mixture quotas: per-source target counts
    * proportional to count^alpha (alpha < 1 upsamples small sources — the
    * standard multilingual/pretraining reweighting; alpha = 1 is
    * proportional, alpha = 0 uniform). Quotas feed [[mixtureSample]].
    * The weight sum accumulates in DECIMAL (order-free) so results are
    * parallelism-independent; alpha = 0.5 uses sqrt (IEEE-exact in every
    * engine, so the oracle replicates quotas bit-for-bit — generic pow
    * is not guaranteed cross-engine-identical in the last ulp). */
  def mixtureWeights(
      docs: DataFrame,
      alpha: Double = 0.5,
      total: Long = 100L,
      sourceCol: String = "source"): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val cnt = docs.groupBy(sourceCol).agg(count(lit(1)).as("n_docs"))
    val wRaw =
      if (alpha == 0.5) sqrt(col("n_docs").cast("double"))
      else if (alpha == 1.0) col("n_docs").cast("double")
      else pow(col("n_docs").cast("double"), lit(alpha))
    val withW = cnt.withColumn("_w", wRaw.cast(DecimalType(18, 8)))
    val tot = withW.agg(sum(col("_w")).as("_t"))
    withW.crossJoin(broadcast(tot))
      .select(col(sourceCol), col("n_docs"),
        floor(lit(total.toDouble) * col("_w").cast("double") / col("_t").cast("double"))
          .cast("long").as("quota"))
  }

  // ------------------------------------------------ chunking

  /** Token-window chunks kernel: starts every (size-overlap) tokens, each
    * chunk `size` tokens (the tail shorter); chunks under minTokens drop. */
  private val chunkKernel = udf { (text: String, size: Int, overlap: Int, minTokens: Int) =>
    val toks =
      if (text == null) Array.empty[String]
      else text.trim.toLowerCase.split("\\W+").filter(_.nonEmpty)
    val stride = size - overlap
    val out = scala.collection.mutable.ArrayBuffer.empty[(Int, Int, String)]
    var s = 0
    var idx = 0
    while (s < toks.length) {
      val e = math.min(s + size, toks.length)
      if (e - s >= minTokens) {
        out += ((idx, e - s, toks.slice(s, e).mkString(" ")))
        idx += 1
      }
      s += stride
    }
    out.toSeq
  }

  /** Exact nearest-rank percentiles of an (integer-valued) expression per
    * group, computed HISTOGRAM-FIRST: one map-side-combined
    * (group, value) count collapses the corpus to its distinct-value
    * table — thousands of rows where the data has billions — and the
    * cumulative walk + rank selection run THERE, so no full sort of the
    * data ever happens (what a naive percentile window would do, and the
    * reason Spark's exact `percentile` aggregate buffers whole groups in
    * memory). The rule is nearest-rank: r_q = floor(q·(n−1)) + 1,
    * value_q = min v with cum(v) >= r_q — interpolation-free, so engines
    * agree bit-for-bit (Spark `percentile` and DuckDB `quantile_cont`
    * interpolate differently; this sidesteps the class). The curation
    * use: per-source token-length / quality-score threshold calibration.
    *
    * Returns (groupCol, q, value, n) — one row per group × quantile. */
  def groupPercentiles(
      df: DataFrame,
      groupCol: String,
      value: Column,
      qs: Seq[Double] = Seq(0.25, 0.5, 0.75, 0.9, 0.99)): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(qs.nonEmpty && qs.forall(q => q >= 0.0 && q <= 1.0),
      s"quantiles must lie in [0, 1], got $qs")
    val h = df.select(col(groupCol), value.as("_v"))
      .groupBy(groupCol, "_v").agg(count(lit(1)).as("_c"))
    val cum = h
      .withColumn("_cum",
        sum(col("_c")).over(Window.partitionBy(groupCol).orderBy("_v")))
      .withColumn("_n", sum(col("_c")).over(Window.partitionBy(groupCol)))
    cum.select(col(groupCol), col("_v"), col("_cum"), col("_n"),
        explode(array(qs.map(lit): _*)).as("q"))
      .filter(col("_cum") >= floor(col("q") * (col("_n") - 1)) + 1)
      .groupBy(col(groupCol), col("q"))
      .agg(min(col("_v")).as("value"), max(col("_n")).as("n"))
  }

  /** Split documents into fixed-size token chunks with overlap — the
    * context-window chunking step a pretraining pipeline runs before
    * sequence packing ([[packTokens]]) and tokenization. Stride =
    * size − overlap; tail chunks shorter than `minTokens` are dropped.
    * Linear mapcat over the corpus, no shuffle; chunk output is ~
    * size/(size−overlap) × the token volume (the standard overlap cost).
    * Returns (idCol, chunk_idx, n_chunk_tokens, chunk_text). */
  def chunkTokens(
      docs: DataFrame,
      size: Int = 128,
      overlap: Int = 32,
      minTokens: Int = 16,
      textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    require(size > overlap && overlap >= 0,
      s"need size > overlap >= 0, got size=$size overlap=$overlap")
    require(minTokens >= 1, s"minTokens must be >= 1, got $minTokens")
    docs.select(col(idCol),
      explode(chunkKernel(col(textCol), lit(size), lit(overlap), lit(minTokens)))
        .as("_c"))
      .select(col(idCol),
        col("_c._1").cast("long").as("chunk_idx"),
        col("_c._2").cast("long").as("n_chunk_tokens"),
        col("_c._3").as("chunk_text"))
  }

  // ------------------------------------------------ rare-token ratio

  /** Rare-token (OOV-ish) ratio: the fraction of a document's tokens whose
    * CORPUS frequency is below `minFreq` — the standard garbage/quality
    * signal (docs full of hapax tokens are usually mojibake, code dumps, or
    * boilerplate IDs). Plan shape: one map-side-combined frequency
    * aggregation over the token stream, a join back on the token (the
    * frequency table is vocabulary-sized — AQE broadcasts it in practice),
    * one per-doc aggregation. Linear; no pairwise work. */
  def rareTokenRatio(
      docs: DataFrame,
      minFreq: Long = 100L,
      textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    val toks = docs.select(col(idCol),
      explode(split(lower(trim(col(textCol))), "\\W+")).as("_tok"))
      .filter(length(col("_tok")) > 0)
      .transform(graft.Stage.materialize) // freq agg + join-back both read it
    val freq = toks.groupBy("_tok").agg(count(lit(1)).as("_c"))
    val j = toks.join(freq, "_tok")
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("_c") < minFreq, 1L).otherwise(0L)).as("n_rare"))
    docs.select(col(idCol)).join(j, Seq(idCol), "left_outer")
      .select(col(idCol),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        coalesce(col("n_rare"), lit(0L)).as("n_rare"),
        when(coalesce(col("n_tokens"), lit(0L)) > 0,
          coalesce(col("n_rare"), lit(0L)).cast("double") / col("n_tokens"))
          .otherwise(lit(0.0)).as("rare_ratio"))
  }

  // ------------------------------------------------ URL canonicalization

  /** Canonicalize a URL for dedup: strip the fragment, lowercase scheme +
    * authority (path and query stay case-sensitive), drop default ports
    * (https :443, http :80), remove tracking parameters (utm_*, fbclid,
    * gclid) and repair the query separators they leave behind. Pure
    * regexp Column expressions — codegen'd, linear, no shuffle — and every
    * pattern is RE2-compatible (no lookarounds) so an external engine
    * replicates the chain verbatim. */
  def canonicalizeUrl(url: Column): Column = {
    val noFrag = regexp_replace(url, "#.*$", "")
    val prefix = lower(regexp_extract(noFrag, "^[^/?#]+://[^/?#]*", 0))
    val rest = regexp_replace(noFrag, "^[^/?#]+://[^/?#]*", "")
    val lowered = concat(prefix, rest)
    val noPort = regexp_replace(
      regexp_replace(lowered, "^(https://[^/:?#]*):443([/?#]|$)", "$1$2"),
      "^(http://[^/:?#]*):80([/?#]|$)", "$1$2")
    val noTrack = regexp_replace(noPort,
      "([?&])(utm_[a-z]+|fbclid|gclid)=[^&#]*", "$1")
    regexp_replace(
      regexp_replace(
        regexp_replace(noTrack, "\\?&+", "?"),
        "&&+", "&"),
      "[?&]+$", "")
  }

  /** Registrable-ish domain of a canonicalized URL: the last two host
    * labels (a public-suffix list would refine this; the shape — extract
    * host, take the registrable tail — is the production one). */
  def urlDomain(canonicalUrl: Column): Column =
    regexp_extract(
      regexp_extract(canonicalUrl, "^[a-z]+://([^/:?#]*)", 1),
      "[^.]+\\.[^.]+$", 0)

  // -------------------------------------------- repetition (Gopher-style)

  private val bigramStatsKernel = udf { (text: String) =>
    val toks =
      if (text == null) Array.empty[String]
      else text.trim.toLowerCase.split("\\W+").filter(_.nonEmpty)
    if (toks.length < 2) null
    else {
      val counts = new java.util.HashMap[String, Int]()
      var i = 0
      var top = 0
      while (i < toks.length - 1) {
        val bg = toks(i) + " " + toks(i + 1)
        val c = counts.merge(bg, 1, Integer.sum)
        if (c > top) top = c
        i += 1
      }
      val total = toks.length - 1
      (total.toLong, counts.size.toLong, top.toLong)
    }
  }

  /** Gopher-style repetition metrics over word bigrams: total/distinct
    * counts, the dominant bigram's count, and the duplicate / dominant
    * fractions quality filters threshold on. One pass per doc, no
    * shuffle; docs with fewer than two tokens yield null (no bigrams). */
  def repetitionStats(text: Column): Column = {
    val s = bigramStatsKernel(text)
    val total = s.getField("_1")
    val dist = s.getField("_2")
    val top = s.getField("_3")
    struct(
      total.as("n_2grams"),
      dist.as("n_distinct_2grams"),
      top.as("top_2gram_count"),
      ((total - dist).cast("double") / total).as("dup_2gram_frac"),
      (top.cast("double") / total).as("top_2gram_frac"))
  }

  // ------------------------------------------ n-gram LM fluency gate

  /** Probability quantum for [[lmScore]]: each bigram probability is
    * floored to a multiple of 1e-9 so the per-doc aggregation is an
    * EXACT integer sum (order-independent, engine-independent). 1e9
    * keeps per-doc sums exact in a double up to ~9M bigrams/doc. */
  private val LmScale = 1.0e9

  /** A trained bigram LM: two count tables + the vocabulary size.
    * Both DataFrames are plain relations — persist them with any sink
    * and reload to score future batches without retraining (the same
    * persistable-index contract as the MinHash/IVF indexes).
    *   - `bigrams`  : (w1, w2, c12) — one row per bigram TYPE;
    *   - `contexts` : (w1, c1)      — Σ_w2 c12, one row per vocab word. */
  final case class LmModel(bigrams: DataFrame, contexts: DataFrame,
      vocabSize: Long)

  /** Tokenization shared by train and score: lowercase `\W+` split,
    * empties dropped — the p13/p29 corpus convention, replicated by the
    * oracle as `list_filter(regexp_split_to_array(...), x -> x != '')`. */
  private def lmTokens(text: Column): Column =
    filter(split(lower(trim(text)), "\\W+"), t => length(t) > 0)

  /** Bigram array of a token array: (toks[i], toks[i+1]) structs,
    * 1-based `element_at` matching the oracle's 1-based list index.
    * Guarded — Spark's `sequence(1, 0)` counts DOWN, so size<2 must
    * short-circuit to an empty array, not extract a reversed bigram.
    * `toks` MUST be a projected attribute, not the tokenizer
    * expression inline: Catalyst does not CSE through the lambda, so an
    * inline `filter(split(...))` re-tokenizes the doc once per
    * `element_at` — measured 3× the whole explode cost (LmProbe). */
  private def lmBigrams(toks: Column): Column =
    when(size(toks) >= 2,
      transform(sequence(lit(1), size(toks) - 1), i =>
        struct(element_at(toks, i).as("w1"), element_at(toks, i + 1).as("w2"))))
      .otherwise(array().cast("array<struct<w1:string,w2:string>>"))

  private def lmExplode(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol), lmTokens(col(textCol)).as("_toks"))
      .select(col(idCol), explode(lmBigrams(col("_toks"))).as("_bg"))
      .select(col(idCol), col("_bg.w1").as("w1"), col("_bg.w2").as("w2"))

  /** Train a bigram add-1 language model on a corpus — the CCNet-style
    * fluency model behind perplexity filtering, in the engine's exact
    * arithmetic. One shuffle on (w1, w2) builds the bigram-type counts;
    * the context counts derive from the TYPE table (vocab²-bounded,
    * orders of magnitude smaller than the corpus), not a second corpus
    * pass. `vocabSize` is a scalar (the one driver-side value — KBs of
    * metadata, same contract as the IVF codebooks). */
  def lmTrain(docs: DataFrame, textCol: String = "text"): LmModel = {
    val toks = docs.select(explode(lmTokens(col(textCol))).as("_tok"))
    val vocab = toks.agg(countDistinct(col("_tok"))).head().getLong(0)
    val bg = docs.select(lmTokens(col(textCol)).as("_toks"))
      .select(explode(lmBigrams(col("_toks"))).as("_bg"))
      .select(col("_bg.w1").as("w1"), col("_bg.w2").as("w2"))
    lmModelFrom(bg, vocab)
  }

  /** Counts → model (shared by [[lmTrain]] and the fused [[lmGate]]):
    * bigram-type counts from the exploded stream, context counts from
    * the TYPE table (vocab²-bounded — never a second corpus pass). */
  private def lmModelFrom(bg: DataFrame, vocab: Long): LmModel = {
    val c12 = bg.groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
      .transform(graft.Stage.materialize) // contexts derive from it
    val c1 = c12.groupBy("w1").agg(sum(col("c12")).as("c1"))
    LmModel(c12, c1, vocab)
  }

  /** Score documents against a trained [[LmModel]]: per-doc mean add-1
    * bigram probability, quantized to [[LmScale]] so the result is
    * hash-exact across engines (the p44 oracle replicates the whole
    * fold bit-for-bit in DuckDB):
    *
    *   scaled(b)  = floor(1e9 · (c12(b)+1) / (c1(w1)+V))   — exact
    *                scalar double ops on <2^53 integers, then an exact
    *                integer SUM per doc (float-sum order sensitivity is
    *                the reason perplexity's Σ log p is NOT the checked
    *                surface — libm log differs by ulps across engines;
    *                the quantized arithmetic mean is monotone in the
    *                same per-bigram probabilities);
    *   lm_score   = Σ scaled / (n_bigrams · 1e9).
    *
    * Unseen bigrams/contexts coalesce to 0 counts (pure add-1 backoff).
    * Docs with <2 tokens keep a row: n_bigrams 0, lm_score null.
    *
    * Scale: the doc→bigram explode is linear; the two joins are shuffle
    * equi-joins of the corpus stream against TYPE tables keyed by token
    * — unique join keys on the build side, so skewed contexts ("the")
    * hash-join cleanly and AQE splits any hot partition. Nothing is
    * broadcast (at 100 TB the bigram-type table is GBs); nothing beyond
    * `vocabSize` touches the driver.
    *
    * Streaming note: this shape (per-doc shuffle agg + doc-side joins)
    * is a BATCH plan. To score a stream, prune the model to a bounded
    * vocabulary and apply it as a broadcast map inside a UDF — the
    * standard streaming-gate pattern ([[importanceSample]] and
    * [[classifierScore]] stream as-is; they are stateless row
    * expressions). */
  def lmScore(model: LmModel, docs: DataFrame,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    lmScoreOnBigrams(model, docs, lmExplode(docs, idCol, textCol), idCol)

  private def lmScoreOnBigrams(model: LmModel, docs: DataFrame,
      bg: DataFrame, idCol: String): DataFrame = {
    val scored = bg
      .join(model.bigrams, Seq("w1", "w2"), "left_outer")
      .join(model.contexts, Seq("w1"), "left_outer")
      .select(col(idCol),
        floor(lit(LmScale) *
          ((coalesce(col("c12"), lit(0L)) + 1L).cast("double") /
            (coalesce(col("c1"), lit(0L)) + model.vocabSize).cast("double")))
          .cast("long").as("_scaled"))
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_bigrams"), sum(col("_scaled")).as("_sum"))
    docs.select(col(idCol)).join(scored, Seq(idCol), "left_outer")
      .select(col(idCol),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        (col("_sum").cast("double") /
          (col("n_bigrams").cast("double") * lit(LmScale))).as("lm_score"))
  }

  /** Self-trained convenience: train on `docs`, score `docs` — the
    * single-corpus fluency-outlier pass (gibberish and boilerplate land
    * in the tails of `lm_score`). Fused: the doc→bigram explode is
    * materialized ONCE and feeds both the count tables and the scoring
    * joins (the unfused train-then-score path tokenizes the corpus
    * three times; at 100 TB the explode is the dominant scan). The
    * vocab count still needs its own token pass — single-token docs and
    * word-final tokens never enter the bigram stream. */
  def lmGate(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val vocab = docs.select(explode(lmTokens(col(textCol))).as("_tok"))
      .agg(countDistinct(col("_tok"))).head().getLong(0)
    val bg = lmExplode(docs, idCol, textCol).transform(graft.Stage.materialize)
    lmScoreOnBigrams(lmModelFrom(bg.select("w1", "w2"), vocab), docs, bg, idCol)
  }

  // ------------------------------------- Kneser-Ney smoothed bigram LM

  /** An interpolated Kneser-Ney bigram model — every statistic derives
    * from the bigram TYPE table (no extra corpus pass):
    *   - `bigrams`       : (w1, w2, c12)
    *   - `contexts`      : (w1, c1 = Σc12, nf = |{w2 : c12>0}|)
    *   - `continuations` : (w2, nb = |{w1 : c12>0}|)
    *   - `nAll`          : total bigram types (scalar). */
  final case class KnModel(bigrams: DataFrame, contexts: DataFrame,
      continuations: DataFrame, nAll: Long)

  /** Fixed KN absolute discount (Chen & Goodman's 0.75) — a rational
    * constant, so the whole smoothing formula stays transcendental-free
    * and the p49 oracle replicates it bit-for-bit. */
  private val KnDiscount = 0.75

  /** Train an interpolated Kneser-Ney bigram model (Kneser & Ney 1995;
    * Chen & Goodman 1999 interpolated form with fixed discount). One
    * corpus pass builds the bigram TYPE counts; contexts, continuation
    * counts, and the type total all fold from that table. */
  def knTrain(docs: DataFrame, textCol: String = "text"): KnModel = {
    val bg = docs.select(lmTokens(col(textCol)).as("_toks"))
      .select(explode(lmBigrams(col("_toks"))).as("_bg"))
      .select(col("_bg.w1").as("w1"), col("_bg.w2").as("w2"))
    val c12 = bg.groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
      .transform(graft.Stage.materialize) // three derivations read it
    val ctx = c12.groupBy("w1")
      .agg(sum(col("c12")).as("c1"), count(lit(1)).as("nf"))
    val cont = c12.groupBy("w2").agg(count(lit(1)).as("nb"))
    val nAll = c12.count()
    KnModel(c12, ctx, cont, nAll)
  }

  /** Score documents with interpolated KN:
    *
    *   p(w2|w1) = (max(c12 − d, 0) + d·nf(w1)·(nb(w2)/nAll)) / c1(w1)
    *   unseen context (c1 = 0): back off to nb(w2)/nAll
    *
    * quantized to [[LmScale]] exactly like [[lmScore]] (same reason: the
    * per-doc aggregate must be an exact integer sum; every scalar step
    * above is plain IEEE double arithmetic both engines round alike —
    * KN's discount math is RATIONAL, which is why this model can be
    * hash-checked while a log-space perplexity cannot). Output:
    * (idCol, n_bigrams, kn_score); docs with <2 tokens keep a null-score
    * row. Same join shape and scale story as [[lmScore]]. */
  def knScore(model: KnModel, docs: DataFrame,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val bg = lmExplode(docs, idCol, textCol)
    val d = lit(KnDiscount)
    val pCont = coalesce(col("nb"), lit(0L)).cast("double") / lit(model.nAll.toDouble)
    val seen = (greatest(coalesce(col("c12"), lit(0L)).cast("double") - d, lit(0.0)) +
      d * coalesce(col("nf"), lit(0L)).cast("double") * pCont) /
      col("c1").cast("double")
    val p = when(col("c1").isNull, pCont).otherwise(seen)
    val scored = bg
      .join(model.bigrams, Seq("w1", "w2"), "left_outer")
      .join(model.contexts, Seq("w1"), "left_outer")
      .join(model.continuations, Seq("w2"), "left_outer")
      .select(col(idCol), floor(lit(LmScale) * p).cast("long").as("_scaled"))
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_bigrams"), sum(col("_scaled")).as("_sum"))
    docs.select(col(idCol)).join(scored, Seq(idCol), "left_outer")
      .select(col(idCol),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        (col("_sum").cast("double") /
          (col("n_bigrams").cast("double") * lit(LmScale))).as("kn_score"))
  }

  /** Self-trained KN convenience (the [[lmGate]] of the KN model). */
  def knGate(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame =
    knScore(knTrain(docs, textCol), docs, idCol, textCol)

  /** Trigram KN: the trigram TYPE counts + contexts over a bigram
    * [[KnModel]] as the backoff distribution. */
  final case class Kn3Model(trigrams: DataFrame, triContexts: DataFrame,
      bigram: KnModel)

  /** Trigram array of a token array — same projected-attribute contract
    * as [[lmBigrams]] (Catalyst does not CSE through the lambda). */
  private def lmTrigrams(toks: Column): Column =
    when(size(toks) >= 3,
      transform(sequence(lit(1), size(toks) - 2), i =>
        struct(element_at(toks, i).as("w1"), element_at(toks, i + 1).as("w2"),
          element_at(toks, i + 2).as("w3"))))
      .otherwise(array().cast("array<struct<w1:string,w2:string,w3:string>>"))

  /** Train the trigram tier on top of [[knTrain]]'s bigram model: one
    * extra explode builds the trigram TYPE table; the (w1, w2) context
    * totals and distinct-continuation counts fold from it. */
  def knTrain3(docs: DataFrame, textCol: String = "text"): Kn3Model = {
    val tg = docs.select(lmTokens(col(textCol)).as("_toks"))
      .select(explode(lmTrigrams(col("_toks"))).as("_tg"))
      .select(col("_tg.w1").as("w1"), col("_tg.w2").as("w2"), col("_tg.w3").as("w3"))
    val c123 = tg.groupBy("w1", "w2", "w3").agg(count(lit(1)).as("c123"))
      .transform(graft.Stage.materialize)
    val tctx = c123.groupBy("w1", "w2")
      .agg(sum(col("c123")).as("c12t"), count(lit(1)).as("nf12"))
    Kn3Model(c123, tctx, knTrain(docs, textCol))
  }

  /** Score with interpolated trigram KN, lower order = the
    * [[knScore]] bigram distribution on raw counts (the common
    * implementation simplification; documented deviation from
    * continuation-count lower orders):
    *
    *   p3(w3|w1w2) = (max(c123−d,0) + (d·nf12)·p2(w3|w2)) / c12t
    *   unseen (w1,w2) trigram context: back off to p2(w3|w2)
    *
    * with p2 the exact expression from [[knScore]]. The whole
    * composition is rational scalar double arithmetic, quantized once
    * at the trigram level — the p52 oracle replays it bit-for-bit.
    * Docs with <3 tokens keep a null-score row. One more type-table
    * join family than [[knScore]]; same scale story. */
  def knScore3(model: Kn3Model, docs: DataFrame,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val d = lit(KnDiscount)
    val tg = docs.select(col(idCol), lmTokens(col(textCol)).as("_toks"))
      .select(col(idCol), explode(lmTrigrams(col("_toks"))).as("_tg"))
      .select(col(idCol), col("_tg.w1").as("w1"), col("_tg.w2").as("w2"),
        col("_tg.w3").as("w3"))
    val bi = model.bigram
    // p2(w3|w2): the knScore expression over (w2, w3)
    val pCont = coalesce(col("nb"), lit(0L)).cast("double") / lit(bi.nAll.toDouble)
    val p2seen = (greatest(coalesce(col("c12"), lit(0L)).cast("double") - d, lit(0.0)) +
      d * coalesce(col("nf"), lit(0L)).cast("double") * pCont) /
      col("c1").cast("double")
    val p2 = when(col("c1").isNull, pCont).otherwise(p2seen)
    val p3seen = (greatest(coalesce(col("c123"), lit(0L)).cast("double") - d, lit(0.0)) +
      (d * coalesce(col("nf12"), lit(0L)).cast("double")) * p2) /
      col("c12t").cast("double")
    val p3 = when(col("c12t").isNull, p2).otherwise(p3seen)
    val scored = tg
      .join(model.trigrams, Seq("w1", "w2", "w3"), "left_outer")
      .join(model.triContexts, Seq("w1", "w2"), "left_outer")
      .join(bi.bigrams.toDF("w2", "w3", "c12"), Seq("w2", "w3"), "left_outer")
      .join(bi.contexts.toDF("w2", "c1", "nf"), Seq("w2"), "left_outer")
      .join(bi.continuations.toDF("w3", "nb"), Seq("w3"), "left_outer")
      .select(col(idCol), floor(lit(LmScale) * p3).cast("long").as("_scaled"))
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_trigrams"), sum(col("_scaled")).as("_sum"))
    docs.select(col(idCol)).join(scored, Seq(idCol), "left_outer")
      .select(col(idCol),
        coalesce(col("n_trigrams"), lit(0L)).as("n_trigrams"),
        (col("_sum").cast("double") /
          (col("n_trigrams").cast("double") * lit(LmScale))).as("kn3_score"))
  }

  /** Self-trained trigram-KN convenience. */
  def knGate3(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame =
    knScore3(knTrain3(docs, textCol), docs, idCol, textCol)

  // ------------------------------ importance resampling (DSIR-style)

  /** DSIR-style importance resampling (Xie et al. 2023 shape): keep each
    * doc with probability = its importance weight, deterministically —
    * accept iff md5-hash(seed:id) < weight·(2^61-1). One codegen'd
    * compare per row, no shuffle, no RNG state: re-runs and engines
    * agree row-for-row (the p46 oracle replicates the decision), and the
    * samples NEST — a doc kept at weight w is kept at every w' > w, so
    * tightening a selection never resurrects discarded docs. Weights
    * outside [0, 1] clamp (≥1 always keeps, ≤0 always drops); the
    * long→double cast of the hash rounds identically (IEEE
    * nearest) on any engine. */
  def importanceSample(docs: DataFrame, weight: Column,
      idCol: String = "doc_id", seed: String = "dsir"): DataFrame = {
    val h = graft.operators.Sketches
      .md5Hash61(concat_ws(":", lit(seed), col(idCol).cast("string")))
    val w = least(greatest(weight, lit(0.0)), lit(1.0))
    docs.filter(h.cast("double") < w * lit(Md5.M61.toDouble))
  }

  // --------------------------------- deterministic shuffle + sharding

  /** Deterministic global shuffle into training shards — the last step
    * of every curation pipeline: break corpus order (crawl/source
    * locality) into a reproducible pseudorandom order and split into
    * `shards` roughly equal files. Shard = md5-hash mod `shards`,
    * within-shard order = md5-hex sort (ties broken by id) — both pure
    * functions of (seed, id), so re-runs, engines, and resumed jobs
    * agree byte-for-byte (the p45 oracle replicates shard AND position).
    *
    * Adds `shard` (int) and `pos` (1-based long, dense within shard).
    * The positions come from a shard-partitioned window: one task sorts
    * each shard, so size `shards` to keep corpus/`shards` within a
    * task's spill budget (at 100 TB with 10k shards that is ~10 GB of
    * SORTED spill per task — workable but the window is the cost; when
    * positions aren't needed, [[shuffleForWrite]] gets the same order
    * with ONE exchange and no window). */
  def shuffleShards(docs: DataFrame, shards: Int, idCol: String = "doc_id",
      seed: String = "shuffle"): DataFrame = {
    require(shards > 0, s"shards must be positive, got $shards")
    import org.apache.spark.sql.expressions.Window
    val key = concat_ws(":", lit(seed), col(idCol).cast("string"))
    val w = Window.partitionBy(col("shard")).orderBy(col("_hx"), col(idCol))
    docs.withColumn("_hx", md5(key))
      .withColumn("shard",
        (graft.operators.Sketches.md5Hash61(key) % shards).cast("int"))
      .withColumn("pos", row_number().over(w).cast("long"))
      .drop("_hx")
  }

  /** Write-path twin of [[shuffleShards]]: same shard assignment and
    * same within-shard order, materialized as PHYSICAL row order instead
    * of a `pos` column — `repartition(shard)` + `sortWithinPartitions`,
    * i.e. one hash exchange and a per-partition (spillable) sort, no
    * window. Feed straight to `df.write.partitionBy("shard")`; readers
    * see the shuffled order as file order. */
  def shuffleForWrite(docs: DataFrame, shards: Int, idCol: String = "doc_id",
      seed: String = "shuffle"): DataFrame = {
    require(shards > 0, s"shards must be positive, got $shards")
    val key = concat_ws(":", lit(seed), col(idCol).cast("string"))
    docs.withColumn("_hx", md5(key))
      .withColumn("shard",
        (graft.operators.Sketches.md5Hash61(key) % shards).cast("int"))
      .repartition(col("shard"))
      .sortWithinPartitions(col("shard"), col("_hx"), col(idCol))
      .drop("_hx")
  }

  /** Per-shard integrity summary: row count + an ORDER-INDEPENDENT id
    * fold (exact DECIMAL sum of the 61-bit id hashes — commutative, so
    * it is insensitive to file and task order, and overflow-free at any
    * row count). Computable identically from the pre-write stream and
    * from the files on disk — which is the whole point. */
  private def shardManifest(df: DataFrame, idCol: String, seed: String): DataFrame =
    df.groupBy("shard").agg(
      count(lit(1)).as("rows"),
      sum(graft.operators.Sketches.md5Hash61(
        concat_ws(":", lit(seed), col(idCol).cast("string")))
        .cast("decimal(38,0)")).as("id_fold"))

  /** Write a corpus as deterministic training shards WITH an integrity
    * manifest: [[shuffleForWrite]] order → `partitionBy(shard)` files,
    * plus `_manifest` (underscore-prefixed: invisible to Spark readers
    * of the data directory) holding each shard's row count and id fold.
    * Returns the manifest. [[verifyShards]] re-derives the same summary
    * from the files and diffs — the missing-file / double-write check
    * every long-running pipeline wants before it points a trainer at a
    * directory. */
  def writeShards(docs: DataFrame, dir: String, shards: Int,
      idCol: String = "doc_id", seed: String = "shuffle"): DataFrame = {
    val prepared = shuffleForWrite(docs, shards, idCol, seed)
      .transform(graft.Stage.materialize) // files + manifest read it once
    prepared.write.mode("overwrite").partitionBy("shard").parquet(dir)
    val manifest = shardManifest(prepared, idCol, seed)
    manifest.write.mode("overwrite").parquet(s"$dir/_manifest")
    manifest
  }

  /** Diff the stored manifest against a fresh fold of the data files.
    * Returns the mismatching shards (empty = intact): shard, the stored
    * (rows, id_fold), and the observed pair — a shard missing from disk
    * shows null observed values, an extra/duplicated shard null stored
    * ones. */
  def verifyShards(spark: org.apache.spark.sql.SparkSession, dir: String,
      idCol: String = "doc_id", seed: String = "shuffle"): DataFrame = {
    val stored = graft.sources.Taps.parquet(spark, s"$dir/_manifest")
      .select(col("shard"), col("rows").as("rows_stored"),
        col("id_fold").as("fold_stored"))
    val observed = shardManifest(graft.sources.Taps.parquet(spark, dir), idCol, seed)
      .select(col("shard"), col("rows").as("rows_seen"),
        col("id_fold").as("fold_seen"))
    stored.join(observed, Seq("shard"), "full_outer")
      .filter(col("rows_stored").isNull || col("rows_seen").isNull ||
        col("rows_stored") =!= col("rows_seen") ||
        col("fold_stored") =!= col("fold_seen"))
  }

  /** Corpus data card: the one-pass datasheet a dataset release leads
    * with — doc/source/lang counts, char/token volume, the exact-dup
    * count, and a quantized mean length — as a long-format
    * (metric, value) table, every value an exact integer (ratios ride
    * at 1e6 quanta, the engine's quantization contract) so the card is
    * hash-comparable across engines and across corpus versions (diff
    * two cards to audit an ingest).
    *
    * One aggregation over one corpus scan; the three COUNT(DISTINCT)s
    * share the scan via Catalyst's expand rewrite (constant-factor row
    * expansion, still map-side partially aggregated — no joins, no
    * windows, nothing driver-side). Null-text docs count toward
    * `exact_dup_docs` (they carry no content; both engines skip nulls
    * in the distinct-md5 probe, so the convention is cross-engine
    * stable). */
  def dataCard(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", langCol: String = "lang",
      sourceCol: String = "source"): DataFrame = {
    val toks = size(regexp_extract_all(col(textCol), lit("\\S+"), lit(0)))
    docs.agg(
      count(lit(1)).as("n_docs"),
      countDistinct(col(sourceCol)).as("n_sources"),
      countDistinct(col(langCol)).as("n_langs"),
      sum(length(col(textCol))).cast("long").as("total_chars"),
      sum(toks).cast("long").as("total_tokens"),
      (count(lit(1)) - countDistinct(md5(col(textCol))))
        .as("exact_dup_docs"))
      .select(expr(
        """stack(7,
          |'n_docs', n_docs,
          |'n_sources', n_sources,
          |'n_langs', n_langs,
          |'total_chars', total_chars,
          |'total_tokens', total_tokens,
          |'exact_dup_docs', exact_dup_docs,
          |'mean_doc_tokens_q6', CAST(floor(1e6 * (CAST(total_tokens AS DOUBLE)
          |  / CAST(n_docs AS DOUBLE))) AS BIGINT)
          |) AS (metric, value)""".stripMargin))
  }

  // ------------------------------------------------------------------
  // BM25 relevance + TF-IDF keywords (seed-corpus relevance filtering)
  // ------------------------------------------------------------------

  /** BM25 model: the term→document-frequency TYPE table plus the two
    * corpus scalars (doc count, total token count) that BM25's length
    * normalization needs. The df table is vocabulary-sized (never
    * corpus-sized); the scalars are the same KB-of-metadata contract as
    * [[LmModel.vocabSize]] and the IVF codebooks — a model is a
    * relation plus O(1) driver-side numbers, so it persists as parquet
    * and reuses across batches. */
  case class Bm25Model(df: DataFrame, nDocs: Long, totalTokens: Long)

  /** Train a BM25 relevance model on a corpus: document frequency per
    * term, doc count N, total token count S (avgdl = S/N enters the
    * score as the exact rational dl·N/S — never a rounded average).
    *
    * One pass: `array_distinct` inside the row collapses a doc's
    * repeated terms BEFORE the explode, so df is a straight map-side-
    * combinable count per term — no (doc, term) shuffle and no
    * COUNT(DISTINCT). Scale: explode is linear in corpus tokens, the
    * df table is vocab-sized. */
  def bm25Train(docs: DataFrame, textCol: String = "text"): Bm25Model = {
    val perDoc = docs.select(lmTokens(col(textCol)).as("_toks"))
      .transform(graft.Stage.materialize) // stats + df both read it
    val stats = perDoc.agg(count(lit(1)).as("n"),
      coalesce(sum(size(col("_toks"))), lit(0L)).as("s")).head()
    val dfTab = perDoc
      .select(explode(array_distinct(col("_toks"))).as("term"))
      .groupBy("term").agg(count(lit(1)).as("df"))
    Bm25Model(dfTab, stats.getLong(0), stats.getLong(1))
  }

  /** Pure kernel of the quantized tf saturation — the EXACT double ops
    * the [[bm25Score]] Column expression compiles to and the streaming
    * gate runs row-locally (IEEE multiply/divide, then floor), kept as
    * a named function so the property suite can pin its invariants. */
  private[graft] def bm25Tfq(tf: Long, dl: Long, s: Long, n: Long): Long =
    math.floor(1e6 * ((tf.toDouble * (22.0 * s)) /
      (tf.toDouble * (10.0 * s) + 3.0 * s + dl.toDouble * (9.0 * n)))).toLong

  /** Pure kernel of the quantized rational idf (Robertson ratio
    * (2N−2df+1)/(2df+1), floored at 1e6 quanta). */
  private[graft] def bm25Idfq(df: Long, n: Long): Long =
    math.floor(1e6 * ((2L * n + 1L - 2L * df).toDouble /
      (2L * df + 1L).toDouble)).toLong

  /** Score every document's BM25 relevance to a query-term set — the
    * seed-corpus relevance filter (rank a 100-TB crawl against a
    * trusted reference vocabulary, keep the head). Output per doc:
    * `n_hits` (distinct query terms present) and `bm25_rel`, a
    * DECIMAL(38,0) that is a fixed-point encoding of the BM25 sum —
    * monotone in the true score, hash-exact across engines.
    *
    * Arithmetic (the [[lmScore]] contract — rationals + IEEE ops only,
    * no libm): with k1 = 6/5 and b = 3/4 the per-term saturation
    *
    *   tf·(k1+1) / (tf + k1·(1−b) + k1·b·dl/avgdl)
    *
    * multiplied through by 10·S (avgdl = S/N) becomes the integer
    * ratio 22·S·tf / (10·S·tf + 3·S + 9·dl·N), quantized as
    * floor(1e6·num/den); the Robertson idf (N−df+0.5)/(df+0.5) is
    * exactly (2N−2df+1)/(2df+1), quantized the same way. (The idf is
    * applied as the quantized RATIO, not its log: libm `ln` differs by
    * ulps across engines — same reason perplexity is not lmScore's
    * checked surface. The ratio is monotone in the log, so ranking and
    * thresholding semantics survive.) Per-term contribution
    * tfq·idfq is computed in DECIMAL(19,0)² → DECIMAL(38,0) — Long
    * multiplication would overflow once N passes ~10⁶ — and summed
    * exactly. The saturation's num/den products are IEEE DOUBLES (22·S
    * etc. prefolded as double constants): a Long numerator would WRAP
    * silently once S·tf exceeds 2⁶³/22 — reachable at 100-TB corpora
    * (S ~ 10¹³ tokens, tf ~ 10⁵) and worse, wrap where DuckDB raises,
    * breaking the cross-engine contract (round-9 advice). Doubles never
    * wrap: values are integer-exact while S·tf·22 < 2⁵³ (corpora to
    * ~10¹² tokens at typical tf) and past that remain cross-engine
    * deterministic (both engines evaluate the identical IEEE tree —
    * [[bm25Tfq]] names it), only the last-ulp-vs-true-value guarantee
    * narrows.
    *
    * Scale: tokens explode linearly and are filtered to query terms
    * INSIDE the array (pre-explode); the df side is filtered to the
    * query set and broadcast (a query is O(100) terms). Docs with no
    * hits keep a row: n_hits 0, bm25_rel null. */
  def bm25Score(model: Bm25Model, docs: DataFrame,
      queryTerms: Seq[String], idCol: String = "doc_id",
      textCol: String = "text"): DataFrame =
    bm25ScoreOnBase(model,
      docs.select(col(idCol), lmTokens(col(textCol)).as("_toks")),
      queryTerms, idCol)

  /** Scoring over a pre-tokenized (idCol, _toks) frame — shared by
    * [[bm25Score]] and [[bm25Gate]] so the fused gate's materialized
    * tokenization really does feed the hit stream (and the final
    * keep-every-doc left join reads ids from the same frame, not a
    * second source scan). */
  private def bm25ScoreOnBase(model: Bm25Model, base: DataFrame,
      queryTerms: Seq[String], idCol: String): DataFrame = {
    val q = queryTerms.map(_.toLowerCase).distinct
    val n = model.nDocs; val s = model.totalTokens
    val hits = base
      .select(col(idCol), size(col("_toks")).as("_dl"),
        explode(filter(col("_toks"), t => t.isInCollection(q))).as("term"))
      .groupBy(col(idCol), col("_dl"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val dfq = model.df.filter(col("term").isInCollection(q))
    // the exact IEEE tree bm25Tfq names (doubles: no Long wraparound at
    // any corpus size; constants prefolded identically on both engines)
    val tfq = floor(lit(1e6) *
      ((col("tf").cast("double") * lit(22.0 * s)) /
        (col("tf").cast("double") * lit(10.0 * s) + lit(3.0 * s) +
          col("_dl").cast("double") * lit(9.0 * n)))).cast("long")
    val idfq = floor(lit(1e6) *
      ((lit(2L * n + 1L) - col("df") * 2L).cast("double") /
        (col("df") * 2L + 1L).cast("double"))).cast("long")
    val scored = hits.join(broadcast(dfq), Seq("term"))
      .select(col(idCol),
        (tfq.cast("decimal(19,0)") * idfq.cast("decimal(19,0)")).as("_c"))
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_hits"), sum(col("_c")).as("_rel"))
    base.select(col(idCol)).join(scored, Seq(idCol), "left_outer")
      .select(col(idCol), coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        col("_rel").cast("decimal(38,0)").as("bm25_rel"))
  }

  /** Merge two BM25 models trained on DISJOINT corpus batches: df
    * tables add per term, the scalars add — training is a monoid, so a
    * 100-TB corpus trains incrementally (per ingest batch, per
    * partition epoch) and `bm25Merge(bm25Train(A), bm25Train(B))`
    * equals `bm25Train(A ∪ B)` exactly (Bm25Spec pins it). Disjointness
    * matters: a doc present in both batches would double-count into df
    * and N — dedup upstream ([[graft.operators.Snapshot.upsert]] is the
    * standard guard). The merge itself is a vocab-sized union+sum, no
    * corpus pass. */
  def bm25Merge(a: Bm25Model, b: Bm25Model): Bm25Model =
    Bm25Model(
      a.df.unionByName(b.df).groupBy("term")
        .agg(sum(col("df")).as("df")),
      a.nDocs + b.nDocs, a.totalTokens + b.totalTokens)

  /** Fused self-scored convenience ([[lmGate]]'s shape): train the df
    * table and corpus stats from `docs` and score the same corpus —
    * tokenization runs once and feeds stats, df, and the hit stream. */
  def bm25Gate(docs: DataFrame, queryTerms: Seq[String],
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val base = docs.select(col(idCol), lmTokens(col(textCol)).as("_toks"))
      .transform(graft.Stage.materialize)
    val stats = base.agg(count(lit(1)).as("n"),
      coalesce(sum(size(col("_toks"))), lit(0L)).as("s")).head()
    val dfTab = base
      .select(explode(array_distinct(col("_toks"))).as("term"))
      .groupBy("term").agg(count(lit(1)).as("df"))
    bm25ScoreOnBase(Bm25Model(dfTab, stats.getLong(0), stats.getLong(1)),
      base, queryTerms, idCol)
  }

  /** Top-k TF-IDF keywords per document — topic tagging / cluster
    * labeling for curation dashboards. Deterministic: score is the
    * exact integer tf·floor(1e6·(N+1)/(df+1)) in DECIMAL(38,0) (the
    * smoothed idf RATIO, not its log — the [[bm25Score]] contract),
    * ties broken by term ascending, so the (doc, rank) table is
    * hash-exact across engines.
    *
    * Scale: one (doc, term) shuffle builds tf; df derives from that
    * SAME table (a vocab-sized agg — the corpus is never re-scanned);
    * the tf⋈df join is a shuffle equi-join against a vocab-sized type
    * table; top-k is a per-doc window (doc keys carry parallelism, and
    * Spark 4 inserts WindowGroupLimit so no doc's full term list
    * materializes). Docs with no tokens yield no rows. */
  def tfidfTopTerms(docs: DataFrame, k: Int, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    require(k >= 1, s"tfidfTopTerms: k must be >= 1, got $k")
    val n = docs.count()
    val tfTab = docs
      .select(col(idCol), explode(lmTokens(col(textCol))).as("term"))
      .groupBy(col(idCol), col("term")).agg(count(lit(1)).as("tf"))
      .transform(graft.Stage.materialize) // df derives from it
    val dfTab = tfTab.groupBy("term").agg(count(lit(1)).as("df"))
    val idfq = floor(lit(1e6) *
      (lit(n + 1L).cast("double") / (col("df") + 1L).cast("double")))
      .cast("long")
    val scored = tfTab.join(dfTab, Seq("term"))
      .select(col(idCol), col("term"),
        (col("tf").cast("decimal(19,0)") * idfq.cast("decimal(19,0)"))
          .cast("decimal(38,0)").as("score"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(idCol))
      .orderBy(col("score").desc, col("term").asc)
    scored
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col(idCol), col("rank"), col("term"), col("score"))
  }
}
