package graft

import graft.operators.Sketches
import graft.pipeline.{Dedup, TextAnalysis}
import org.apache.spark.sql.functions._

/** Round-4 curation operators: duplicate-span statistics, KMV distinct
  * sketch, URL canonicalization, incremental near-dup candidates. */
class CurationOpsSpec extends SparkTestBase {
  import spark.implicits._

  // ---------------------------------------------------------- span dedup

  test("duplicateSpanStats marks shared spans and merges overlapping coverage") {
    // docs 1 and 2 share the 6-token span "a b c d e f" twice over
    // (positions 0 and 1 in doc 1 via "a b c d e f g": grams abcdef, bcdefg
    // — only abcdef repeats, in doc 2 at position 2)
    val docs = Seq(
      (1L, "a b c d e f g"),          // grams: [abcdef]@0, [bcdefg]@1
      (2L, "x y a b c d e f"),        // grams: [xyabcd]@0, [yabcde]@1, [abcdef]@2
      (3L, "p q r s t u v w"),        // unique grams
      (4L, "short text")              // < 6 tokens: no grams
    ).toDF("doc_id", "text")
    val out = Dedup.duplicateSpanStats(docs, n = 6)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4))).toMap
    // doc 1: 7 tokens, 1 dup gram start @0, covers tokens 0-5 (6 of 7)
    assert(out(1L) == (7L, 1L, 6L, 6.0 / 7.0))
    // doc 2: 8 tokens, dup gram @2 covers tokens 2-7 (6 of 8)
    assert(out(2L) == (8L, 1L, 6L, 6.0 / 8.0))
    assert(out(3L) == (8L, 0L, 0L, 0.0))
    assert(out(4L) == (2L, 0L, 0L, 0.0))
  }

  test("duplicateSpanStats counts within-document repeats and merges overlap") {
    // one doc that repeats its own 2-gram: "a b a b a" has grams
    // ab@0, ba@1, ab@2, ba@3 — all duplicated; coverage = tokens 0..4 (all 5)
    val docs = Seq((1L, "a b a b a")).toDF("doc_id", "text")
    val out = Dedup.duplicateSpanStats(docs, n = 2).collect().head
    assert((out.getLong(1), out.getLong(2), out.getLong(3), out.getDouble(4)) ==
      (5L, 4L, 5L, 1.0))
  }

  test("dedupLines removes corpus-common lines, keeps blanks and rare lines") {
    val banner = "accept our cookies"
    val docs = Seq(
      (1L, s"$banner\nreal content one\n\nmore of doc one"),
      (2L, s"intro two\n$banner\nreal content two"),
      (3L, s"$banner\nreal content three"),
      (4L, "  accept our cookies  \nonly line kept is blank\n"),
      (5L, null.asInstanceOf[String])
    ).toDF("doc_id", "text")
    val out = Dedup.dedupLines(docs, minDocs = 3)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getString(3))).toMap
    // the banner is in 4 distinct docs (doc 4 via trim) → removed everywhere
    assert(out(1L) == (4L, 1L, "real content one\n\nmore of doc one"))
    assert(out(2L) == (3L, 1L, "intro two\nreal content two"))
    assert(out(3L) == (2L, 1L, "real content three"))
    // doc 4: trailing \n yields a final empty line; blanks always survive
    assert(out(4L) == (3L, 1L, "only line kept is blank\n"))
    // null text reads as one blank line
    assert(out(5L) == (1L, 0L, ""))
    // "real content ..." lines differ per doc → below minDocs, all kept
  }

  test("dedupLines minDocs threshold and the all-boilerplate doc") {
    val docs = Seq(
      (1L, "shared pair\nunique a"),
      (2L, "shared pair\nunique b"),
      (3L, "shared pair")
    ).toDF("doc_id", "text")
    // minDocs = 4: nothing reaches the threshold
    val keep = Dedup.dedupLines(docs, minDocs = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(keep == Map(1L -> 0L, 2L -> 0L, 3L -> 0L))
    // minDocs = 2: the shared line goes; doc 3 becomes empty text
    val out = Dedup.dedupLines(docs, minDocs = 2)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getString(3))).toMap
    assert(out(1L) == (2L, 1L, "unique a"))
    assert(out(2L) == (2L, 1L, "unique b"))
    assert(out(3L) == (1L, 1L, ""))
    // repeats WITHIN one doc don't count toward distinct-doc threshold
    val within = Dedup.dedupLines(
      Seq((7L, "again\nagain\nagain"), (8L, "other")).toDF("doc_id", "text"),
      minDocs = 2).collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(within == Map(7L -> 0L, 8L -> 0L))
  }

  test("exciseDuplicateSpans keeps the canonical occurrence, removes the rest") {
    val docs = Seq(
      (1L, "a b c d e f g"),   // canonical home of abcdef (doc 1, pos 0)
      (2L, "x y a b c d e f"), // non-canonical abcdef @2 → tokens 2-7 removed
      (3L, "p q r s t u")      // unique
    ).toDF("doc_id", "text")
    val out = Dedup.exciseDuplicateSpans(docs, n = 6)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getString(3))).toMap
    assert(out(1L) == (7L, 0L, "a b c d e f g"))
    assert(out(2L) == (8L, 6L, "x y"))
    assert(out(3L) == (6L, 0L, "p q r s t u"))
    // within-doc repeats: "a b a b a" with n=2 — ab@0, ba@1 canonical;
    // ab@2 covers {2,3}, ba@3 covers {3,4} → clean "a b"
    val self = Dedup.exciseDuplicateSpans(
      Seq((9L, "a b a b a")).toDF("doc_id", "text"), n = 2).collect().head
    assert((self.getLong(1), self.getLong(2), self.getString(3)) == (5L, 3L, "a b"))
  }

  // ----------------------------------------------------------------- KMV

  test("kmv sketch is exact below k and deduplicates values") {
    val vals = Seq("a", "b", "c", "a", "b", "a").toDF("v")
    val sk = vals.select(Sketches.kmv(Sketches.md5Hash61(col("v")), 8).as("sk"))
      .collect().head.getSeq[Long](0)
    assert(sk.length == 3)
    assert(sk == sk.sorted)
    val est = vals.select(
      Sketches.kmvEstimate(
        Sketches.kmv(Sketches.md5Hash61(col("v")), 8), 8).as("e"))
      .collect().head.getDouble(0)
    assert(est == 3.0)
  }

  test("kmv sketch is partition-invariant (mergeable monoid)") {
    val data = (1 to 500).map(i => s"value_$i")
    val one = data.toDF("v").repartition(1)
      .select(Sketches.kmv(Sketches.md5Hash61(col("v")), 32).as("sk"))
      .collect().head.getSeq[Long](0)
    val many = data.toDF("v").repartition(16)
      .select(Sketches.kmv(Sketches.md5Hash61(col("v")), 32).as("sk"))
      .collect().head.getSeq[Long](0)
    assert(one == many)
    assert(one.length == 32)
    // estimate = (k-1) * M61 / kth-min, computed the same way here
    val est = data.toDF("v")
      .select(Sketches.kmvEstimate(
        Sketches.kmv(Sketches.md5Hash61(col("v")), 32), 32).as("e"))
      .collect().head.getDouble(0)
    assert(est == 31.0 * Sketches.M61.toDouble / one.last.toDouble)
    // ballpark sanity: within 3x of the truth for k=32 (statistical bound
    // is much tighter; this guards against off-by-one / wrong-element bugs)
    assert(est > 500.0 / 3 && est < 500.0 * 3, s"estimate $est far from 500")
  }

  test("kmv set operations: exact below k, threshold estimator above") {
    import org.apache.spark.sql.DataFrame
    def sketch(vals: Seq[String], k: Int): DataFrame =
      vals.toDF("v").agg(Sketches.kmv(Sketches.md5Hash61(col("v")), k).as("sk"))
    // small: A={a,b,c}, B={b,c,d} — union 4, intersection 2, both exact
    val small = sketch(Seq("a", "b", "c"), 8).crossJoin(
      sketch(Seq("b", "c", "d"), 8).withColumnRenamed("sk", "sk2"))
      .select(
        Sketches.kmvEstimate(Sketches.kmvUnion(col("sk"), col("sk2"), 8), 8).as("u"),
        Sketches.kmvIntersectEstimate(col("sk"), col("sk2"), 8).as("i"))
      .collect().head
    assert((small.getDouble(0), small.getDouble(1)) == (4.0, 2.0))
    // large overlapping sets with a full union sketch: estimates land near
    // truth (union 750, intersection 250) — guards the threshold logic
    val aVals = (1 to 500).map(i => s"x$i")
    val bVals = (251 to 750).map(i => s"x$i")
    val big = sketch(aVals, 64).crossJoin(
      sketch(bVals, 64).withColumnRenamed("sk", "sk2"))
      .select(
        Sketches.kmvEstimate(Sketches.kmvUnion(col("sk"), col("sk2"), 64), 64).as("u"),
        Sketches.kmvIntersectEstimate(col("sk"), col("sk2"), 64).as("i"))
      .collect().head
    assert(big.getDouble(0) > 750 / 2.0 && big.getDouble(0) < 750 * 2.0)
    assert(big.getDouble(1) > 250 / 4.0 && big.getDouble(1) < 250 * 4.0)
  }

  // ----------------------------------------------------------------- URL

  test("canonicalizeUrl: fragment, case, default port, tracking params") {
    val cases = Seq(
      ("HTTPS://WWW.Example.ORG:443/Path/X?utm_source=a&id=1&utm_campaign=b#frag",
        "https://www.example.org/Path/X?id=1"),
      ("http://Host.COM:80/a?fbclid=zz", "http://host.com/a"),
      ("http://host.com:8080/a", "http://host.com:8080/a"), // non-default port kept
      ("https://h.io/p?utm_a=1&utm_b=2&x=3", "https://h.io/p?x=3"),
      ("https://h.io/p?utm_a=1", "https://h.io/p"),
      ("https://h.io/UPPER/Case?Q=V", "https://h.io/UPPER/Case?Q=V") // path/query case kept
    ).toDF("url", "want")
    val got = cases.select(col("want"),
      TextAnalysis.canonicalizeUrl(col("url")).as("got")).collect()
    got.foreach(r => assert(r.getString(1) == r.getString(0),
      s"got ${r.getString(1)}, want ${r.getString(0)}"))
  }

  test("canonicalizeUrl is idempotent; urlDomain takes the registrable tail") {
    val urls = Seq(
      "HTTPS://WWW.Example.ORG:443/Path?utm_source=a&id=1#f",
      "http://sub.deep.host.co:80/x?utm_x=1&y=2"
    ).toDF("url")
    val once = TextAnalysis.canonicalizeUrl(col("url"))
    val twice = TextAnalysis.canonicalizeUrl(once)
    urls.select(once.as("a"), twice.as("b")).collect()
      .foreach(r => assert(r.getString(0) == r.getString(1)))
    val doms = urls.select(TextAnalysis.urlDomain(once)).as[String].collect()
    assert(doms.toSeq == Seq("example.org", "host.co"))
  }

  test("chunkTokens: overlapping windows, tail fragment handling") {
    val docs = Seq(
      (1L, (1 to 20).map(i => s"t$i").mkString(" ")), // 20 tokens
      (2L, "a b c"),                                  // 3 < minTokens: dropped
      (3L, "")                                        // no tokens
    ).toDF("doc_id", "text")
    val out = TextAnalysis.chunkTokens(docs, size = 16, overlap = 4, minTokens = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    val d1 = out.filter(_._1 == 1L).sortBy(_._2)
    // stride 12: window 0 = tokens 1..16, window 1 = tokens 13..20 (8 toks)
    assert(d1.length == 2)
    assert(d1(0)._3 == 16L && d1(0)._4.startsWith("t1 t2") && d1(0)._4.endsWith("t16"))
    assert(d1(1)._3 == 8L && d1(1)._4 == (13 to 20).map(i => s"t$i").mkString(" "))
    assert(!out.exists(_._1 == 2L) && !out.exists(_._1 == 3L))
  }

  test("classifierScore: linear gate applies an external model, threshold = sigmoid gate") {
    val docs = Seq(
      (1L, "the cat sat on the mat and it was a good day for all of them"),
      (2L, "!!! ??? ### $$$ %%% ^^^ &&& *** ((( )))"),
      (3L, "SHOUTING IN ALL CAPS ABOUT THINGS"),
      (4L, "")
    ).toDF("doc_id", "text")
    val w = Array(0.001, 0.01, -8.0, 6.0, 0.2, -4.0)
    val out = docs.withColumn("_c", TextAnalysis.classifierScore($"text", w, bias = -2.0))
      .select($"doc_id", $"_c.logit", $"_c.keep", $"_c.prob")
      .collect().map(r => r.getLong(0) -> ((r.getDouble(1), r.getBoolean(2), r.getDouble(3)))).toMap
    // stopword-rich prose scores above the punctuation/caps garbage
    assert(out(1L)._1 > out(2L)._1 && out(1L)._1 > out(3L)._1)
    // keep == logit >= threshold == prob >= sigmoid(threshold), exactly
    out.values.foreach { case (logit, keep, prob) =>
      assert(keep == (logit >= 0.0))
      assert(math.abs(prob - 1.0 / (1.0 + math.exp(-logit))) < 1e-12)
    }
    // a nonzero threshold moves the gate monotonically
    val strict = docs.withColumn("_c",
        TextAnalysis.classifierScore($"text", w, bias = -2.0, threshold = 5.0))
      .select($"_c.keep").collect().map(_.getBoolean(0))
    assert(strict.count(identity) <= out.values.count(_._2))
    // model arity is checked loudly
    intercept[IllegalArgumentException] {
      TextAnalysis.classifierScore($"text", Array(1.0, 2.0), bias = 0.0)
    }
  }

  test("lmGate: corpus-trained bigram LM ranks fluent text above gibberish") {
    val docs = Seq(
      (1L, "the cat sat on the mat and the dog sat on the mat"),
      (2L, "the cat sat on the rug and the dog sat on the rug"),
      (3L, "the cat sat on the mat and the cat sat on the mat"),
      (4L, "zq xv qqj wpt zq bnl xv kkr wpt qqj bnl kkr zq"), // gibberish: every bigram unique
      (5L, "word"),                                           // 1 token -> no bigrams
      (6L, "")                                                // no tokens
    ).toDF("doc_id", "text")
    val out = TextAnalysis.lmGate(docs).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1),
        if (r.isNullAt(2)) Double.NaN else r.getDouble(2)))).toMap
    // common-phrase docs score well above the all-unique-bigram doc
    assert(out(1L)._2 > out(4L)._2 && out(2L)._2 > out(4L)._2 && out(3L)._2 > out(4L)._2)
    // scores are mean probabilities: in (0, 1]
    Seq(1L, 2L, 3L, 4L).foreach { id =>
      assert(out(id)._2 > 0.0 && out(id)._2 <= 1.0) }
    // short docs keep their row with no bigrams and a null score
    assert(out(5L)._1 == 0L && out(5L)._2.isNaN)
    assert(out(6L)._1 == 0L && out(6L)._2.isNaN)
  }

  test("lmScore: a trained model scores a delta batch without retraining; unseen backs off") {
    val corpus = Seq(
      (1L, "the cat sat on the mat"),
      (2L, "the dog sat on the mat"),
      (3L, "the cat ran to the dog")
    ).toDF("doc_id", "text")
    val model = TextAnalysis.lmTrain(corpus)
    assert(model.vocabSize == 8) // the cat sat on mat dog ran to
    // the model tables are plain relations: round-trip them like any index
    val delta = Seq(
      (10L, "the cat sat on the mat"),        // all bigrams seen
      (11L, "the zebra jumped over the moon") // unseen words -> add-1 floor
    ).toDF("doc_id", "text")
    val out = TextAnalysis.lmScore(model, delta).collect()
      .map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(out(10L) > out(11L), s"seen phrases must outscore unseen: $out")
    // hand-checked add-1 fold: "the zebra"/"the moon" back off in the
    // SEEN context "the" (c1=6) -> (0+1)/(6+8); the three bigrams with
    // unseen contexts hit the (0+1)/(0+8) floor; all quantized to 1e-9
    val expected = (2 * math.floor(1e9 * (1.0 / 14)) +
      3 * math.floor(1e9 * (1.0 / 8))) / (5 * 1e9)
    assert(out(11L) == expected, s"add-1 backoff fold: ${out(11L)} vs $expected")
    // and the in-corpus doc scores identically whether scored solo or in the batch
    val solo = TextAnalysis.lmScore(model, delta.filter($"doc_id" === 10L))
      .collect().head.getDouble(2)
    assert(solo == out(10L))
  }

  test("writeShards: manifest matches disk; verifyShards flags a lost shard") {
    val docs = (1L to 300L).map(i => (i, s"doc body $i")).toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("graft_shards").toString + "/out"
    val manifest = TextAnalysis.writeShards(docs, dir, shards = 4, seed = "m1")
    val m = manifest.collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(m.keySet == Set(0, 1, 2, 3) && m.values.sum == 300L)
    // intact directory verifies clean
    assert(TextAnalysis.verifyShards(spark, dir, seed = "m1").count() == 0)
    // reading the data dir does NOT see the manifest rows (underscore dir)
    assert(spark.read.parquet(dir).count() == 300L)
    // simulate a lost shard: remove shard=2's directory
    val shardDir = new java.io.File(s"$dir/shard=2")
    shardDir.listFiles().foreach(_.delete()); shardDir.delete()
    val bad = TextAnalysis.verifyShards(spark, dir, seed = "m1")
      .collect().map(r => r.getInt(0)).toSet
    assert(bad == Set(2), s"must flag exactly the lost shard: $bad")
  }

  test("LM/KN models and BPE merges round-trip through parquet") {
    import graft.pipeline.Bpe
    val corpus = Seq(
      (1L, "the cat sat on the mat"),
      (2L, "the dog ran to the mat")
    ).toDF("doc_id", "text")
    val probe = Seq((9L, "the cat ran")).toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("graft_models").toString
    // bigram LM: the two count relations + the vocab scalar restore a
    // model that scores identically
    val lm = TextAnalysis.lmTrain(corpus)
    lm.bigrams.write.parquet(s"$dir/lm_bigrams")
    lm.contexts.write.parquet(s"$dir/lm_contexts")
    val lm2 = TextAnalysis.LmModel(
      spark.read.parquet(s"$dir/lm_bigrams"),
      spark.read.parquet(s"$dir/lm_contexts"), lm.vocabSize)
    assert(TextAnalysis.lmScore(lm2, probe).collect().toSeq ==
      TextAnalysis.lmScore(lm, probe).collect().toSeq)
    // KN model: three relations + the type total
    val kn = TextAnalysis.knTrain(corpus)
    kn.bigrams.write.parquet(s"$dir/kn_bigrams")
    kn.contexts.write.parquet(s"$dir/kn_contexts")
    kn.continuations.write.parquet(s"$dir/kn_continuations")
    val kn2 = TextAnalysis.KnModel(
      spark.read.parquet(s"$dir/kn_bigrams"),
      spark.read.parquet(s"$dir/kn_contexts"),
      spark.read.parquet(s"$dir/kn_continuations"), kn.nAll)
    assert(TextAnalysis.knScore(kn2, probe).collect().toSeq ==
      TextAnalysis.knScore(kn, probe).collect().toSeq)
    // BPE merges: relation form preserves training order exactly
    val merges = Seq("t" -> "h", "th" -> "e", "a" -> "t")
    Bpe.mergesToDF(merges, spark).write.parquet(s"$dir/merges")
    assert(Bpe.mergesFromDF(spark.read.parquet(s"$dir/merges")) == merges)
  }

  test("pageRankInt: hand-computed integer iteration; hubs outrank leaves") {
    import graft.pipeline.Graph
    // star 1-2, 1-3 symmetrized, plus isolated node 4; scale 1000,
    // damping 1/2 for hand arithmetic: r0 = 250, base = 1000//8 = 125
    //   iter1: sums 1:500 2:125 3:125 -> r1 = 375/187/187/125
    //   iter2: sums 1:374 2:187 3:187 -> r2 = 312/218/218/125
    val edges = Seq((1L, 2L), (2L, 1L), (1L, 3L), (3L, 1L)).toDF("src", "dst")
    val nodes = Seq(1L, 2L, 3L, 4L).toDF("id")
    def ranks(iters: Int) = Graph.pageRankInt(edges, nodes, iters,
      scale = 1000L, dampNum = 1L, dampDen = 2L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(ranks(1) == Map(1L -> 375L, 2L -> 187L, 3L -> 187L, 4L -> 125L))
    assert(ranks(2) == Map(1L -> 312L, 2L -> 218L, 3L -> 218L, 4L -> 125L))
    // similarityRank: a near-dup family accumulates rank above the
    // unrelated singles (boilerplate-hub shortlist semantics)
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog near the river bank today"),
      (2L, "the quick brown fox jumps over the lazy dog near the river bank tonight"),
      (3L, "completely different content about spark query engines and shuffles"),
      (4L, "the quick brown fox jumps over the lazy dog near the river bank today"),
      (5L, "unrelated text mentioning databases and columnar storage formats here")
    ).toDF("doc_id", "text")
    val sr = graft.pipeline.Graph.similarityRank(docs, iters = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sr(1L) > sr(3L) && sr(2L) > sr(5L), s"dup family must outrank singles: $sr")
    // the default run is deterministic
    assert(graft.pipeline.Graph.similarityRank(docs, iters = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap == sr)
  }

  test("graph iterations: broadcast path == shuffle path bit-for-bit (broadcastNodeLimit)") {
    import graft.pipeline.Graph
    // the node-sized rank/label table broadcasts under
    // spark.graft.broadcastNodeLimit (hub-skew immunity); forcing the
    // limit to 0 exercises the sort-merge path — the integer iteration
    // is partitioning-independent, so both must agree exactly
    val pairs = Seq((1L, 2L), (1L, 3L), (2L, 3L), (4L, 5L)).toDF("id_a", "id_b")
    val nodes = (1L to 6L).toDF("id")
    val edges = Graph.symmetrize(pairs)
    def both[A](run: => A): (A, A) = {
      // broadcast: 6 nodes fit, nodes + edges do not (no one-task path)
      spark.conf.set("spark.graft.broadcastNodeLimit", "6")
      try {
        val a = run
        spark.conf.set("spark.graft.broadcastNodeLimit", "0")
        (a, run)
      } finally spark.conf.unset("spark.graft.broadcastNodeLimit")
    }
    val (ra, rb) = both(Graph.pageRankInt(edges, nodes, iters = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap)
    assert(ra == rb, s"pageRank broadcast vs shuffle: $ra vs $rb")
    val (la, lb) = both(Graph.labelPropagate(edges, nodes, iters = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap)
    assert(la == lb, s"LPA broadcast vs shuffle: $la vs $lb")
    val (ta, tb) = both(Graph.triangleCounts(pairs, nodes)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet)
    assert(ta == tb, s"triangles broadcast vs shuffle: $ta vs $tb")
    // (the returned DF is Stage.materialize'd — an RDD scan — so the
    // contribution join's shape is not visible from the output plan
    // here; HeavyShuffleProbe measures it: the broadcast path drops
    // the rank-join shuffle entirely, BASELINE.md r15 skew section)
  }

  test("triangleCounts: K4, open wedges, isolated nodes, dup families") {
    import graft.pipeline.Graph
    // K4 on {1,2,3,4}: C(4,3) = 4 triangles, each node in 3 of them,
    // degree 3 everywhere -> clustering 2*3/(3*2) = 1. Node 5 hangs off
    // node 1 (degree 1, no triangle, drops 1's clustering: deg 4, still
    // 3 triangles -> 6/12 = 0.5). Node 6 isolated. Path 7-8-9 is an
    // open wedge: degrees 1/2/1, zero triangles, clustering 0.
    val pairs = Seq(
      (1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L),
      (1L, 5L), (7L, 8L), (8L, 9L)).toDF("id_a", "id_b")
    val nodes = (1L to 9L).toDF("id")
    val out = Graph.triangleCounts(pairs, nodes)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    assert(out(1L) == (4L, 3L, 0.5))
    assert(out(2L) == (3L, 3L, 1.0))
    assert(out(3L) == (3L, 3L, 1.0))
    assert(out(4L) == (3L, 3L, 1.0))
    assert(out(5L) == (1L, 0L, 0.0))
    assert(out(6L) == (0L, 0L, 0.0))
    assert(out(7L) == (1L, 0L, 0.0))
    assert(out(8L) == (2L, 0L, 0.0))
    assert(out(9L) == (1L, 0L, 0.0))
    // similarityTriangles: an exact-dup family of three closes its
    // triangle (clustering 1.0 at every member); the unrelated doc sits
    // at zero
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog near the river bank today"),
      (2L, "the quick brown fox jumps over the lazy dog near the river bank today"),
      (3L, "the quick brown fox jumps over the lazy dog near the river bank today"),
      (4L, "completely different content about spark query engines and shuffles")
    ).toDF("doc_id", "text")
    val st = Graph.similarityTriangles(docs)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    assert(st(1L) == (2L, 1L, 1.0) && st(2L) == (2L, 1L, 1.0) &&
      st(3L) == (2L, 1L, 1.0), s"family must close its triangle: $st")
    assert(st(4L) == (0L, 0L, 0.0))
  }

  test("decontaminate: scrubs eval near-dups from train, side-tags ids, broadcast parity") {
    val evalSuite = Seq(
      (1L, "the quick brown fox jumps over the lazy dog near the river bank today"),
      (2L, "benchmark question about integer arithmetic and modular inverses here")
    ).toDF("doc_id", "text")
    val train = Seq(
      // exact copy of eval doc 1 -> scrubbed
      (10L, "the quick brown fox jumps over the lazy dog near the river bank today"),
      // near-dup of eval doc 1 (one word changed) -> scrubbed at 0.5
      (11L, "the quick brown fox jumps over the lazy dog near the river bank tonight"),
      // unrelated -> kept. NOTE doc_id 1 collides with an EVAL id on
      // purpose: side-tagged joins must not scrub it for that reason
      (1L, "completely different content about spark query engines and shuffles"),
      (12L, "another unrelated training document mentioning columnar storage")
    ).toDF("doc_id", "text")
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.getLong(0)).toSet
    val out = Dedup.decontaminate(train, evalSuite, threshold = 0.5)
    assert(ids(out) == Set(1L, 12L), "copy and near-dup scrubbed, id collision kept")
    // schema preserved
    assert(out.columns.toSeq == Seq("doc_id", "text"))
    // tight threshold keeps the one-word near-dup, still scrubs the copy
    assert(ids(Dedup.decontaminate(train, evalSuite, threshold = 0.95)) ==
      Set(1L, 11L, 12L))
    // broadcast-off parity
    assert(ids(Dedup.decontaminate(train, evalSuite, threshold = 0.5,
      broadcastEval = false)) == Set(1L, 12L))
    // empty eval suite scrubs nothing
    assert(ids(Dedup.decontaminate(train,
      evalSuite.filter(col("doc_id") < 0), threshold = 0.5)) ==
      Set(1L, 10L, 11L, 12L))
  }

  test("ngram decontamination: quoted eval item counted, whole-doc dilution beaten, " +
    "broadcast/bloom parity") {
    val evalSuite = Seq(
      (1L, "what is the capital of the republic of france answer with one word only")
    ).toDF("doc_id", "text")
    val quote = "what is the capital of the republic of france"
    val train = Seq(
      // verbatim eval QUOTE buried in a long novel document — whole-doc
      // Jaccard dilutes this below any sane threshold; 6-gram overlap
      // must flag it
      (10L, "students in our geography course often practice with items like " +
        quote + " before moving on to river systems mountain ranges trade " +
        "routes climate zones agriculture exports population density and " +
        "many other wide ranging regional topics across several continents"),
      // shares tokens but no 6-gram run
      (11L, "the capital of a country is france related trivia material"),
      // disjoint
      (12L, "columnar storage formats and vectorized execution engines"),
      // too short for any 6-gram
      (13L, "capital france")
    ).toDF("doc_id", "text")
    val rep = Dedup.ngramOverlapReport(train, evalSuite, n = 6)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getBoolean(3)))).toMap
    // quote has 9 tokens => its 4 six-gram starts inside the train doc all
    // hit (grams straddling the quote boundary don't)
    assert(rep(10L)._3 && rep(10L)._2 == 4L, s"quoted doc must hit 4 grams: $rep")
    assert(rep(11L) == ((5L, 0L, false)), s"token overlap without a 6-gram run: $rep")
    assert(rep(12L)._2 == 0L && !rep(12L)._3)
    assert(rep(13L) == ((0L, 0L, false)), "sub-n doc emits no grams")
    // whole-doc MinHash decontaminate at a realistic threshold KEEPS doc 10
    // (dilution) — the n-gram scrub removes it: the two methods compose
    val mh = Dedup.decontaminate(train, evalSuite, threshold = 0.5)
      .collect().map(_.getLong(0)).toSet
    assert(mh.contains(10L), "whole-doc jaccard is expected to miss the buried quote")
    val ng = Dedup.ngramDecontaminate(train, evalSuite, n = 6)
    assert(ng.collect().map(_.getLong(0)).toSet == Set(11L, 12L, 13L))
    assert(ng.columns.toSeq == Seq("doc_id", "text"))
    // bloom-pruned big-eval path returns the identical report
    val repBloom = Dedup.ngramOverlapReport(train, evalSuite, n = 6, broadcastEval = false)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getBoolean(3)))).toMap
    assert(repBloom == rep, s"bloom path must match broadcast path: $repBloom vs $rep")
    // maxHitGrams tolerance: allow up to 4 hit grams -> doc 10 survives
    assert(Dedup.ngramDecontaminate(train, evalSuite, n = 6, maxHitGrams = 4L)
      .collect().map(_.getLong(0)).toSet == Set(10L, 11L, 12L, 13L))
  }

  test("containment: doc-quoted-inside-doc found at 1.0 where jaccard fails, " +
    "exact dups bidirectional, asymmetry filtered") {
    val short_ = "alpha bravo charlie delta echo foxtrot golf hotel india juliet kilo lima"
    val docs = Seq(
      (1L, short_), // 12 tokens -> 10 distinct 3-shingles
      // short_ verbatim inside a much longer doc: containment(1 in 2)=1.0
      (2L, "opening section covers mountains rivers coastlines weather farming " +
        short_ + " closing section trade ports railways museums universities " +
        "hospitals stadiums markets gardens bridges"),
      (3L, "completely unrelated content about spark query engines and shuffles"),
      (4L, "completely unrelated content about spark query engines and shuffles") // dup of 3
    ).toDF("doc_id", "text")
    val got = Dedup.containmentVerify(
        Dedup.containmentCandidates(docs, m = 8), docs, threshold = 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(got.get((1L, 2L)).contains(1.0), s"quoted doc must be fully contained: $got")
    assert(got.get((3L, 4L)).contains(1.0) && got.get((4L, 3L)).contains(1.0),
      s"exact dups contain each other: $got")
    assert(!got.contains((2L, 1L)), "the big doc is NOT contained in the small one")
    assert(!got.keySet.exists { case (a, b) => Set(a, b) == Set(1L, 3L) })
    // same pair through symmetric jaccard at a mild 0.5: diluted away
    import spark.implicits._
    val pair = Seq((1L, 2L)).toDF("id_a", "id_b")
    assert(Dedup.jaccardVerify(pair, docs, threshold = 0.5).count() == 0,
      "whole-doc jaccard must dilute the quoted pair below 0.5")
    // stopword-shingle pruning: df cap 1 drops every shared hash -> no pairs
    assert(Dedup.containmentCandidates(docs, m = 8, maxDocFreq = 1).count() == 0)
    // sketch prefilter: full containments hit ALL m probes, so they
    // survive even the strictest gate
    val strict = Dedup.containmentVerify(
        Dedup.containmentCandidates(docs, m = 8, minProbeHits = 8),
        docs, threshold = 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(strict.contains((1L, 2L)) && strict.contains((3L, 4L)) &&
      strict.contains((4L, 3L)), s"got $strict")
  }

  test("containmentVerify: maxShinglesPerDoc guard fails loudly, default passes") {
    import spark.implicits._
    // 30 distinct tokens -> 28 distinct 3-shingles per doc
    val big = (1 to 30).map(i => s"tok$i").mkString(" ")
    val docs = Seq((1L, big), (2L, "pre " + big + " post")).toDF("doc_id", "text")
    val cands = Seq((1L, 2L)).toDF("inner_id", "outer_id")
    // adversarial: a cap below the doc's shingle count raises a named,
    // actionable error instead of letting the task OOM at real scale
    val e = intercept[Exception] {
      Dedup.containmentVerify(cands, docs, threshold = 0.5,
        maxShinglesPerDoc = 8).collect()
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(e).exists(_.contains("maxShinglesPerDoc")),
      s"got ${messages(e)}")
    // the default cap is invisible to normal docs
    val ok = Dedup.containmentVerify(cands, docs, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(ok.get((1L, 2L)).contains(1.0), s"got $ok")
    // the incremental path guards its corpus-side collect_list arrays too
    val e2 = intercept[Exception] {
      Dedup.incrementalContainment(
        Dedup.shingleIndex(docs.filter($"doc_id" === 2L)),
        docs.filter($"doc_id" === 1L), maxShinglesPerDoc = 8).collect()
    }
    assert(messages(e2).exists(_.contains("maxShinglesPerDoc")),
      s"got ${messages(e2)}")
  }

  test("round-10 ops tolerate null and empty text rows") {
    val docs = Seq((1L, null: String), (2L, ""), (3L, "regular content words here today"))
      .toDF("doc_id", "text")
    val evalDocs = Seq((9L, "some benchmark item text")).toDF("doc_id", "text")
    // null/empty docs report 0 grams, never crash the kernel or the udf
    val rep = Dedup.ngramOverlapReport(docs, evalDocs, n = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(rep == Map(1L -> 0L, 2L -> 0L, 3L -> 3L), s"got $rep")
    assert(Dedup.ngramOverlapReport(docs, evalDocs, n = 3, broadcastEval = false)
      .count() == 3)
    // empty shingle sets issue no probes and are never dropped
    assert(Dedup.containmentCandidates(docs, m = 4).count() == 0)
    assert(Dedup.containmentDedup(docs).count() == 3)
    assert(Dedup.incrementalContainment(Dedup.shingleIndex(docs), evalDocs)
      .count() == 0)
    assert(Dedup.nearDupDedupBy(docs, "doc_id", threshold = 0.9).count() == 3)
  }

  test("containmentDedup: subsumed docs drop, equal sets keep min id, chains collapse") {
    val a = "alpha bravo charlie delta echo foxtrot golf hotel india juliet"
    val b = "intro words preface " + a + " closing words appendix"
    val c = "volume one begins here " + b + " volume ends with index pages references"
    val docs = Seq(
      (1L, a), // contained in 2 and 3
      (2L, b), // contained in 3
      (3L, c),
      (4L, "completely unrelated content about spark query engines and shuffles"),
      (5L, "completely unrelated content about spark query engines and shuffles") // dup of 4
    ).toDF("doc_id", "text")
    val kept = Dedup.containmentDedup(docs, threshold = 0.8)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    // chain a ⊂ b ⊂ c collapses to c; {4,5} equal sets keep min id 4
    assert(kept == Set(3L, 4L), s"got $kept")
    // schema preserved
    assert(Dedup.containmentDedup(docs).columns.toSeq == Seq("doc_id", "text"))
  }

  test("incrementalContainment: both directions off the persisted index, side-tagged") {
    val inner = "alpha bravo charlie delta echo foxtrot"
    val corpusX = "gulf hotel india juliet kilo lima"
    val corpus = Seq(
      (10L, "opening words here " + inner + " and a closing trailer section"),
      (11L, "completely unrelated content about spark query engines and shuffles"),
      // id 20 collides with a DELTA id on purpose: side-tagged outputs
      (20L, corpusX)
    ).toDF("doc_id", "text")
    val delta = Seq(
      (20L, inner), // contained in corpus doc 10
      (21L, "prefix words " + corpusX + " suffix words trailing content here"), // contains corpus doc 20
      (22L, "novel delta material mentioning columnar storage formats")
    ).toDF("doc_id", "text")
    val idx = Dedup.shingleIndex(corpus)
    // index columns contract
    assert(idx.columns.toSeq == Seq("doc_id", "gh", "rk", "doc_n"))
    val got = Dedup.incrementalContainment(idx, delta, threshold = 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)) -> r.getDouble(3))
      .toMap
    assert(got.get((20L, 10L, "delta_in_corpus")).contains(1.0), s"got $got")
    assert(got.get((21L, 20L, "corpus_in_delta")).contains(1.0), s"got $got")
    assert(!got.keySet.exists(_._1 == 22L), s"novel delta doc must not pair: $got")
    // the colliding ids never cross-contaminate: no (20, 20) self pair
    // in either direction beyond the true containments above
    assert(got.size == 2, s"exactly the two true containments: $got")
  }

  test("nearDupDedupBy: cluster keeps best-scored member, ties min id, nulls last") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog near the river bank today", 10.0),
      (2L, "the quick brown fox jumps over the lazy dog near the river bank tonight", 50.0),
      (4L, "the quick brown fox jumps over the lazy dog near the river bank today", 50.0),
      (3L, "completely different content about spark query engines and shuffles", 1.0),
      (5L, "unrelated text mentioning databases and columnar storage formats here", 2.0)
    ).toDF("doc_id", "text", "score")
    // family {1,2,4}: best score 50 on {2,4} -> tie broken by min id = 2
    val kept = Dedup.nearDupDedupBy(docs, "score", threshold = 0.5)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(2L, 3L, 5L), s"got $kept")
    // schema preserved, min-id baseline differs (keeps 1)
    assert(Dedup.nearDupDedupBy(docs, "score", threshold = 0.5).columns.toSeq ==
      Seq("doc_id", "text", "score"))
    assert(Dedup.nearDupDedup(docs, threshold = 0.5)
      .select("doc_id").collect().map(_.getLong(0)).toSet == Set(1L, 3L, 5L))
    // nulls: non-null beats null; an all-null cluster falls back to min id
    val dupA = "the quick brown fox jumps over the lazy dog near the river bank today"
    val dupB = "completely different content about spark query engines and shuffles today"
    val withNulls = Seq(
      (1L, dupA, None: Option[Double]),
      (2L, dupA, Some(3.0)),
      (3L, dupB, None: Option[Double]),
      (4L, dupB, None: Option[Double])
    ).toDF("doc_id", "text", "score")
    val keptN = Dedup.nearDupDedupBy(withNulls, "score", threshold = 0.5)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(keptN == Set(2L, 3L), s"got $keptN")
  }

  test("groupPercentiles: hand-computed nearest-rank selection off the histogram") {
    val df = Seq(("a", 10L), ("a", 20L), ("a", 30L), ("a", 40L),
      ("b", 5L), ("b", 5L), ("b", 5L), ("b", 7L), ("c", 99L))
      .toDF("source", "v")
    val out = TextAnalysis.groupPercentiles(df, "source", col("v"),
      Seq(0.0, 0.25, 0.5, 0.75, 1.0))
      .collect().map(r => (r.getString(0), r.getDouble(1)) ->
        (r.getLong(2), r.getLong(3))).toMap
    // a = [10,20,30,40]: r_q = floor(q*3)+1 -> ranks 1,1,2,3,4
    assert(out(("a", 0.0)) == (10L, 4L) && out(("a", 0.25)) == (10L, 4L))
    assert(out(("a", 0.5)) == (20L, 4L) && out(("a", 0.75)) == (30L, 4L))
    assert(out(("a", 1.0)) == (40L, 4L))
    // duplicates collapse into one histogram row but keep their mass
    assert(out(("b", 0.5)) == (5L, 4L) && out(("b", 0.75)) == (5L, 4L))
    assert(out(("b", 1.0)) == (7L, 4L))
    // singleton group: every quantile is the value
    assert(out(("c", 0.0)) == (99L, 1L) && out(("c", 1.0)) == (99L, 1L))
    assert(out.size == 15)
  }

  test("labelPropagate: majority vote, min-label ties, bridge loses to the family") {
    import graft.pipeline.Graph
    // two triangles {1,2,3} and {10,11,12} bridged by 3-10; node 99 isolated
    val pairs = Seq((1L, 2L), (1L, 3L), (2L, 3L),
      (10L, 11L), (10L, 12L), (11L, 12L), (3L, 10L)).toDF("id_a", "id_b")
    val sym = pairs.select(col("id_a").as("src"), col("id_b").as("dst"))
      .unionAll(pairs.select(col("id_b").as("src"), col("id_a").as("dst")))
    val nodes = Seq(1L, 2L, 3L, 10L, 11L, 12L, 99L).toDF("id")
    def run(it: Int) = Graph.labelPropagate(sym, nodes, it)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // hand-traced round 1: every vote is a 1-count tie -> min neighbor id
    assert(run(1) == Map(1L -> 2L, 2L -> 1L, 3L -> 1L,
      10L -> 3L, 11L -> 10L, 12L -> 10L, 99L -> 99L))
    // round 4 (stable): TWO communities despite the bridge — the single
    // cross-edge vote loses to each triangle's majority, where connected
    // components would merge everything into one
    val l4 = run(4)
    assert(Set(1L, 2L, 3L).map(l4) == Set(1L), s"family A: $l4")
    assert(Set(10L, 11L, 12L).map(l4) == Set(3L), s"family B: $l4")
    assert(l4(99L) == 99L)
    // similarityCommunities: a dup family lands in one community
    val docs = Seq(
      (5L, "the quick brown fox jumps over the lazy dog near the river bank today"),
      (6L, "the quick brown fox jumps over the lazy dog near the river bank today"),
      (7L, "the quick brown fox jumps over the lazy dog near the river bank today"),
      (8L, "completely different content about spark query engines and shuffles")
    ).toDF("doc_id", "text")
    val sc = Graph.similarityCommunities(docs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sc(5L) == sc(6L) && sc(6L) == sc(7L), s"family community: $sc")
    assert(sc(8L) == 8L)
  }

  test("knScore: hand-computed interpolated Kneser-Ney fold; unseen backs off to continuation") {
    // corpus "the cat sat the cat ran": c12 = {the-cat:2, cat-sat:1,
    // sat-the:1, cat-ran:1}; c1 = {the:2, cat:2, sat:1}; nf = {the:1,
    // cat:2, sat:1}; nb = {cat:1, sat:1, the:1, ran:1}; nAll = 4
    val corpus = Seq((1L, "the cat sat the cat ran")).toDF("doc_id", "text")
    val model = TextAnalysis.knTrain(corpus)
    assert(model.nAll == 4L)
    val probes = Seq(
      (10L, "the cat"),      // p = (max(2-.75,0) + .75*1*(1/4)) / 2 = 0.71875
      (11L, "the cat sat"),  // + cat-sat: (0.25 + .75*2*(1/4)) / 2 = 0.3125
      (12L, "dog cat"),      // unseen context -> p_cont(cat) = 1/4
      (13L, "dog zebra")     // unseen everything -> 0
    ).toDF("doc_id", "text")
    val out = TextAnalysis.knScore(model, probes).collect()
      .map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(out(10L) == 0.71875, s"got ${out(10L)}")
    assert(out(11L) == (0.71875 + 0.3125) / 2, s"got ${out(11L)}")
    assert(out(12L) == 0.25, s"got ${out(12L)}")
    assert(out(13L) == 0.0, s"got ${out(13L)}")
    // self-trained gate ranks repeated fluent phrasing above gibberish,
    // like the add-1 LM but with type-aware smoothing
    val mixed = Seq(
      (1L, "the cat sat on the mat and the dog sat on the mat"),
      (2L, "zq xv qqj wpt zq bnl xv kkr wpt qqj bnl kkr zq")
    ).toDF("doc_id", "text")
    val g = TextAnalysis.knGate(mixed).collect()
      .map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(g(1L) > g(2L), s"fluent must outscore gibberish: $g")
  }

  test("knScore3: hand-computed trigram fold over the bigram backoff") {
    // corpus "the cat sat the cat ran": trigram (the,cat,sat) has
    // c123 = 1, context (the,cat) c12t = 2 / nf12 = 2; the bigram
    // backoff p2(sat|cat) = 0.3125 (knScore test above). So
    // p3 = (max(1-.75,0) + (.75*2)*0.3125) / 2 = 0.359375.
    val corpus = Seq((1L, "the cat sat the cat ran")).toDF("doc_id", "text")
    val model = TextAnalysis.knTrain3(corpus)
    val probes = Seq(
      (10L, "the cat sat"),  // exactly the hand fold above
      (11L, "dog cat sat"),  // unseen trigram context -> backoff p2(sat|cat)
      (12L, "to the")        // <3 tokens -> null
    ).toDF("doc_id", "text")
    val out = TextAnalysis.knScore3(model, probes).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1),
        if (r.isNullAt(2)) Double.NaN else r.getDouble(2)))).toMap
    assert(out(10L)._2 == 0.359375, s"got ${out(10L)}")
    assert(out(11L)._2 == 0.3125, s"unseen context must back off to p2: ${out(11L)}")
    assert(out(12L)._1 == 0L && out(12L)._2.isNaN)
  }

  test("curateModern: gate -> LM -> dedup -> shards composes end-to-end") {
    import graft.pipeline.Curate
    val docs = Seq(
      (1L, "the cat sat on the mat and it was a good day for all of them"),
      (2L, "the cat sat on the mat and it was a good day for all of them"), // exact dup of 1
      (3L, "!!! ??? ### $$$ %%% ^^^ &&& *** ((( )))"),                     // classifier-gated
      (4L, "the dog ran to the park and it was a fine day for both of us"),
      (5L, "a")                                                            // 1 token: no bigrams -> LM drops
    ).toDF("doc_id", "text")
    val w = Array(0.001, 0.01, -8.0, 6.0, 0.2, -4.0)
    val out = Curate.curateModern(docs, w, clfBias = -2.0,
      lmThreshold = 0.0, shards = 2, seed = "s")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    // survivors: 1 (dup 2 collapsed onto it), 4; 3 gated, 5 has no LM score
    assert(out.map(_._1).toSet == Set(1L, 4L), s"got $out")
    // positions dense within each shard; scores are the LM gate's
    out.groupBy(_._2).values.foreach { g =>
      assert(g.map(_._3).sorted.toSeq == (1L to g.length).toSeq) }
    out.foreach { case (_, _, _, s) => assert(s > 0.0 && s <= 1.0) }
    // deterministic end to end
    val again = Curate.curateModern(docs, w, clfBias = -2.0,
      lmThreshold = 0.0, shards = 2, seed = "s")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    assert(again.toSet == out.toSet)
  }

  test("importanceSample: rate tracks weight, samples nest, clamps, deterministic") {
    val docs = (1L to 2000L).map(i => (i, s"d$i")).toDF("doc_id", "text")
    def kept(w: Double) = TextAnalysis.importanceSample(docs, lit(w))
      .select($"doc_id").collect().map(_.getLong(0)).toSet
    val k30 = kept(0.3); val k60 = kept(0.6)
    // acceptance rate ≈ weight (md5 uniformity; ±5pp at n=2000)
    assert(math.abs(k30.size / 2000.0 - 0.3) < 0.05, s"rate ${k30.size / 2000.0}")
    assert(math.abs(k60.size / 2000.0 - 0.6) < 0.05, s"rate ${k60.size / 2000.0}")
    // nesting: every doc kept at 0.3 is kept at 0.6
    assert(k30.subsetOf(k60))
    // clamping: >=1 keeps all, <=0 keeps none
    assert(kept(1.5).size == 2000 && kept(-0.5).isEmpty)
    // deterministic rerun; per-row weights select per-row
    assert(kept(0.3) == k30)
    val perRow = TextAnalysis.importanceSample(
      docs, when($"doc_id" <= 1000L, 1.0).otherwise(0.0))
      .select($"doc_id").collect().map(_.getLong(0)).toSet
    assert(perRow == (1L to 1000L).toSet)
  }

  test("shuffleShards: deterministic, balanced, and write-path order matches pos order") {
    val docs = (1L to 400L).map(i => (i, s"doc number $i")).toDF("doc_id", "text")
    val sharded = TextAnalysis.shuffleShards(docs, shards = 8, seed = "s1")
    val rows = sharded.select($"doc_id", $"shard", $"pos").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    // every doc kept exactly once; positions dense 1..n within each shard
    assert(rows.map(_._1).toSet == (1L to 400L).toSet)
    rows.groupBy(_._2).foreach { case (_, g) =>
      assert(g.map(_._3).sorted.toSeq == (1L to g.length).toSeq) }
    // hash sharding is roughly balanced (expected 50/shard)
    val sizes = rows.groupBy(_._2).values.map(_.length)
    assert(sizes.size == 8 && sizes.min > 25 && sizes.max < 75, s"skewed: $sizes")
    // rerun = identical layout; different seed = different order
    val rows2 = TextAnalysis.shuffleShards(docs, shards = 8, seed = "s1")
      .select($"doc_id", $"shard", $"pos").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    assert(rows2.toSet == rows.toSet)
    val other = TextAnalysis.shuffleShards(docs, shards = 8, seed = "s2")
      .select($"doc_id", $"shard", $"pos").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    assert(other.toSet != rows.toSet)
    // shuffleForWrite: physical row order within each shard partition ==
    // the pos order, with one exchange and NO window in the plan
    val write = TextAnalysis.shuffleForWrite(docs, shards = 8, seed = "s1")
    val plan = write.queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), s"write path must not window:\n$plan")
    val byShard = rows.groupBy(_._2).map { case (s, g) =>
      s -> g.sortBy(_._3).map(_._1).toSeq }
    write.select($"shard", $"doc_id").rdd
      .mapPartitions(it => Iterator(it.map(r => (r.getInt(0), r.getLong(1))).toSeq))
      .collect().filter(_.nonEmpty).foreach { part =>
        part.map(_._1).distinct.foreach { s =>
          assert(part.filter(_._1 == s).map(_._2) == byShard(s),
            s"file order must equal pos order for shard $s") } }
  }

  test("mixtureWeights: alpha dampens large sources; quotas bounded by total") {
    val docs = (1 to 90).map(i => (i.toLong, "x", "big")) ++
      (91 to 100).map(i => (i.toLong, "x", "small"))
    val df = docs.toDF("doc_id", "text", "source")
    val q05 = TextAnalysis.mixtureWeights(df, alpha = 0.5, total = 100L)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    // sqrt(90)/(sqrt(90)+sqrt(10)) = 3/4; the decimal(18,8)-rounded weights
    // put the small share a hair under 25 -> floor 24 (deterministically)
    assert(q05("big") == (90L, 75L) && q05("small") == (10L, 24L))
    val q1 = TextAnalysis.mixtureWeights(df, alpha = 1.0, total = 100L)
      .collect().map(r => r.getString(0) -> r.getLong(2)).toMap
    assert(q1("big") == 90L && q1("small") == 10L) // proportional at alpha=1
    // alpha=0.5 gives the small source a larger share than proportional
    assert(q05("small")._2 > q1("small"))
  }

  // ------------------------------------------------------ rare tokens

  test("rareTokenRatio flags hapax-heavy documents, handles empty docs") {
    val docs = Seq(
      (1L, "common common common zxqj9"), // 1 rare of 4
      (2L, "common common"),              // 0 rare
      (3L, "")                            // no tokens
    ).toDF("doc_id", "text")
    val out = TextAnalysis.rareTokenRatio(docs, minFreq = 2L)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    assert(out(1L) == (4L, 1L, 0.25)) // "common" freq 5 >= 2; "zxqj9" freq 1
    assert(out(2L) == (2L, 0L, 0.0))
    assert(out(3L) == (0L, 0L, 0.0))
  }

  // --------------------------------------------------- incremental dedup

  lazy val docs001 = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")

  test("incrementalCandidates == full candidates restricted to delta-touching pairs") {
    val corpus = docs001.filter(col("doc_id") % 4 =!= 0)
    val delta = docs001.filter(col("doc_id") % 4 === 0)
    val inc = Dedup.incrementalCandidates(corpus, delta, k = 64, bands = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val full = Dedup.minhashCandidates(docs001, k = 64, bands = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val expected = full.filter { case (a, b) => a % 4 == 0 || b % 4 == 0 }
    assert(inc == expected,
      s"missing=${expected -- inc}\nextra=${inc -- expected}")
    assert(inc.nonEmpty, "test corpus should produce at least one candidate")
    assert(inc.forall { case (a, b) => a < b })
  }

  test("incrementalCandidates accepts a pre-banded corpus and applies the bucket cap") {
    val corpus = docs001.filter(col("doc_id") % 4 =!= 0)
    val delta = docs001.filter(col("doc_id") % 4 === 0)
    val banded = Dedup.bandedSignatures(corpus, k = 64, bands = 16)
    val viaBanded = Dedup.incrementalCandidates(banded, delta,
      k = 64, bands = 16, corpusBanded = true)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val direct = Dedup.incrementalCandidates(corpus, delta, k = 64, bands = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(viaBanded == direct)
    // adversarial cap: every bucket oversize -> only delta->hub star edges,
    // count stays linear in the delta's banded rows
    val capped = Dedup.incrementalCandidates(corpus, delta,
      k = 64, bands = 16, maxBucketSize = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(capped.length == capped.distinct.length)
    val deltaIds = delta.select("doc_id").as[Long].collect().toSet
    assert(capped.forall { case (a, b) => deltaIds(a) || deltaIds(b) })
  }

  test("incrementalCandidates with persisted bucket stats skips the corpus re-aggregation") {
    val corpus = docs001.filter(col("doc_id") % 4 =!= 0)
    val delta = docs001.filter(col("doc_id") % 4 === 0)
    val banded = Dedup.bandedSignatures(corpus, k = 64, bands = 16)
      .transform(graft.Stage.materialize) // "persisted" index
    val stats = Dedup.bandBucketStats(banded) // "persisted" rollup next to it
    val viaStats = Dedup.incrementalCandidates(banded, delta,
      k = 64, bands = 16, corpusBanded = true, corpusStats = Some(stats))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val direct = Dedup.incrementalCandidates(corpus, delta, k = 64, bands = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(viaStats == direct)
    // and with an adversarial cap the merged (corpus+delta) sizes drive the
    // guard identically to the recomputed path
    val cappedStats = Dedup.incrementalCandidates(banded, delta,
      k = 64, bands = 16, maxBucketSize = 2, corpusBanded = true,
      corpusStats = Some(stats))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val cappedDirect = Dedup.incrementalCandidates(corpus, delta,
      k = 64, bands = 16, maxBucketSize = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(cappedStats == cappedDirect)
    // stats without a pre-banded corpus is a contract error
    intercept[IllegalArgumentException] {
      Dedup.incrementalCandidates(corpus, delta, corpusStats = Some(stats))
    }
  }
}
