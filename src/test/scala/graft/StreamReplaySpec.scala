package graft

import org.apache.spark.sql.functions._

/** [[graft.streaming.Streams.replayAsStream]] — the batch↔stream parity
  * harness behind the p82/p83 oracle-gate queries. Pins the three facts
  * those oracles rely on:
  *
  *  1. complete-mode stateful aggregation is batch-boundary-INVARIANT
  *     and equals the batch GROUP BY (parts 1/4/8 identical);
  *  2. with `orderedBy` staging, append-mode watermarked windows are
  *     split-invariant and emit exactly the windows whose
  *     `end <= floor_ms(max event time) - delay` — INCLUSIVE at the
  *     boundary (the tie test: a window ending exactly at the final
  *     watermark emits);
  *  3. withOUT ordered staging, a multi-file split of out-of-order data
  *     late-drops rows behind the first batch's high-water mark — real
  *     watermark semantics, which is exactly why the gate queries use
  *     `orderedBy`.
  */
class StreamReplaySpec extends SparkTestBase {

  private val scratched = scala.collection.mutable.Buffer[String]()

  private def scratch(tag: String) = {
    val p = s"/tmp/graft_replay_spec_${tag}_${java.lang.ProcessHandle.current().pid()}"
    scratched.synchronized { scratched += p }
    p
  }

  override def afterAll(): Unit = {
    scratched.foreach(graft.streaming.Streams.deleteRecursivelyNoFollow)
    super.afterAll()
  }

  private lazy val ev = {
    val df = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    df.withColumn("ets", col("ts").cast("timestamp")) // NTZ→instant, UTC session
  }

  /** The watermarked daily-count transform shared by the split-invariance
    * and one-file-per-slice tests. */
  private def dailyWindows(src: org.apache.spark.sql.DataFrame) =
    src.withWatermark("ets", "6 hours")
      .groupBy(window(col("ets"), "1 day"))
      .agg(count(lit(1)).as("cnt"))
      .select(unix_micros(col("window.start")).as("ws_us"), col("cnt"))

  test("complete-mode agg: split-invariant and equal to batch") {
    val batch = ev.groupBy(col("event_type"))
      .agg(count(lit(1)).as("cnt"),
        sum(col("value").cast("decimal(18,4)")).cast("double").as("sum_value"))
      .orderBy("event_type").collect().toSeq
    for (parts <- Seq(1, 4, 8)) {
      val out = graft.streaming.Streams.replayAsStream(
        ev, scratch(s"agg$parts"), parts, "complete") { src =>
        src.groupBy(col("event_type"))
          .agg(count(lit(1)).as("cnt"),
            sum(col("value").cast("decimal(18,4)")).cast("double").as("sum_value"))
      }.orderBy("event_type").collect().toSeq
      assert(out == batch, s"parts=$parts")
    }
  }

  test("ordered append windows: split-invariant, end <= floor_ms(max)-delay") {
    def run(parts: Int) = graft.streaming.Streams.replayAsStream(
      ev, scratch(s"win$parts"), parts, "append", orderedBy = Some("ets"))(
      dailyWindows).orderBy("ws_us").collect().toSeq
    val expected = {
      val maxUs = ev.agg(max(unix_micros(col("ets")))).head().getLong(0)
      val wm = (maxUs / 1000L) * 1000L - 6L * 3600L * 1000000L
      ev.groupBy((unix_micros(col("ets")).divide(lit(86400000000L)))
          .cast("long").multiply(lit(86400000000L)).as("ws_us"))
        .agg(count(lit(1)).as("cnt"))
        .filter(col("ws_us") + 86400000000L <= wm)
        .orderBy("ws_us").collect().toSeq
    }
    val r1 = run(1)
    assert(r1 == expected, "streaming windows != watermark-cutoff batch oracle")
    assert(run(4) == r1 && run(8) == r1, "split-variant append output")
  }

  test("parquet replay sink: append output identical to the memory sink") {
    // the file sink bounds driver memory for corpus-sized append outputs
    // (p91's sf10 pair set kills the memory sink's driver collect); the
    // CONTENT contract is identity with the memory sink
    def run(sink: String) = graft.streaming.Streams.replayAsStream(
      ev, scratch(s"sink_$sink"), 4, "append", orderedBy = Some("ets"),
      sink = sink)(dailyWindows).orderBy("ws_us").collect().toSeq
    assert(run("parquet") == run("memory"),
      "parquet-sink replay must equal the memory-sink replay")
    // non-append modes refuse the file sink loudly
    intercept[IllegalArgumentException](
      graft.streaming.Streams.replayAsStream(
        ev, scratch("sink_bad"), 2, "complete", sink = "parquet")(df =>
        df.groupBy("event_type").count()))
    // empty-output edge of the identity contract (ADVICE r14): a
    // transform emitting ZERO rows writes no data files; the parquet
    // read-back must use the transform's schema, not fail inference —
    // the memory sink returns an empty table there
    def runEmpty(sink: String) = graft.streaming.Streams.replayAsStream(
      ev, scratch(s"sink_empty_$sink"), 2, "append",
      orderedBy = Some("ets"), sink = sink)(
      df => df.filter(lit(false))).collect().toSeq
    assert(runEmpty("parquet") == runEmpty("memory"),
      "zero-row parquet-sink replay must equal the memory sink (empty)")
  }

  test("watermark boundary is inclusive: window end == watermark emits") {
    import spark.implicits._
    // rows at 5s, 15s, max 30s; delay 10s -> final watermark 20s.
    // window [10,20) ends exactly AT the watermark.
    val tie = Seq(5L, 15L, 30L).toDF("sec")
      .withColumn("ets", timestamp_seconds(col("sec")))
    val out = graft.streaming.Streams.replayAsStream(
      tie, scratch("tie"), 2, "append", orderedBy = Some("ets")) { src =>
      src.withWatermark("ets", "10 seconds")
        .groupBy(window(col("ets"), "10 seconds"))
        .agg(count(lit(1)).as("cnt"))
        .select(unix_micros(col("window.start")).as("ws_us"), col("cnt"))
    }.orderBy("ws_us").collect().toSeq.map(r => (r.getLong(0), r.getLong(1)))
    assert(out == Seq((0L, 1L), (10000000L, 1L)), out.toString)
  }

  test("ordered staging writes ONE file per slice even from multi-partition input") {
    // regression: per-slice append writes used to emit one file per input
    // partition — with maxFilesPerTrigger=1 a slice's SECOND file could
    // arrive behind the watermark its first file advanced and be
    // late-dropped. The staging must be structurally one-file-per-slice.
    val dir = scratch("multipart")
    val out = graft.streaming.Streams.replayAsStream(
      ev.repartition(8), dir, 4, "append", orderedBy = Some("ets"))(
      dailyWindows).orderBy("ws_us").collect().toSeq
    val fromSinglePart = graft.streaming.Streams.replayAsStream(
      ev, scratch("singlepart"), 4, "append", orderedBy = Some("ets"))(
      dailyWindows).orderBy("ws_us").collect().toSeq
    assert(out == fromSinglePart,
      "multi-partition input changed ordered-replay output (multi-file slice?)")
    // and the structural invariant itself: each __slice=k dir holds one file
    val slices = new java.io.File(s"$dir/stage").listFiles()
      .filter(d => d.isDirectory && d.getName.startsWith("__slice="))
    assert(slices.nonEmpty, "no slice dirs staged")
    slices.foreach { d =>
      val parts = d.listFiles().count(_.getName.startsWith("part-"))
      assert(parts == 1, s"${d.getName}: $parts part files (want exactly 1)")
    }
  }

  test("ordered replay battery: odd time distributions match batch at every split") {
    import spark.implicits._
    val rnd = new scala.util.Random(20260815L)
    val cases = Seq(
      // step collapses to 1, every row in slice 0 (one micro-batch)
      "all-equal" -> Vector.fill(40)(1000L),
      // one huge outlier: slice 0 holds 39 rows, last slice 1 row, middles empty
      "outlier" -> (Vector.fill(39)(1000L) :+ 4000000L),
      // interleaved extremes across input partitions
      "two-values" -> Vector.tabulate(40)(i => if (i % 2 == 0) 10L else 2000000L),
      "uniform" -> Vector.fill(120)(math.abs(rnd.nextLong()) % 2000000L),
      "single-row" -> Vector(77L))
    for ((nm, secs) <- cases; parts <- Seq(1, 3, 8)) {
      val df = secs.zipWithIndex
        .map { case (t, i) => (i.toLong % 7, t) }.toDF("k", "sec")
        .withColumn("ets", timestamp_seconds(col("sec")))
        .repartition(5) // multi-partition input on purpose
      val out = graft.streaming.Streams.replayAsStream(
        df, scratch(s"bat_${nm}_$parts"), parts, "append",
        orderedBy = Some("ets")) { src =>
        src.withWatermark("ets", "10 minutes")
          .groupBy(col("k"), window(col("ets"), "1 hour"))
          .agg(count(lit(1)).as("cnt"))
          .select(col("k"), unix_micros(col("window.start")).as("ws_us"), col("cnt"))
      }.collect().toSeq.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted
      // batch oracle: window emits iff end <= floor_ms(max) - delay
      val wmUs = (secs.max * 1000000L / 1000L) * 1000L - 600L * 1000000L
      val expected = secs.zipWithIndex
        .map { case (t, i) => (i.toLong % 7, t * 1000000L / 3600000000L * 3600000000L) }
        .filter { case (_, ws) => ws + 3600000000L <= wmUs }
        .groupBy(identity).map { case ((k, ws), g) => (k, ws, g.size.toLong) }
        .toSeq.sorted
      assert(out == expected, s"case=$nm parts=$parts")
    }
  }

  test("ordered replay by version: equal versions in multi-partition input upsert exactly") {
    import spark.implicits._
    // every key carries v=0 and v=1 rows; equal versions land in ONE
    // micro-batch by value-ranged slicing even when the input partitions
    // scatter them — with a multi-file slice, streamingUpsert's
    // carried-state-loses-at-equal-version rule would corrupt the result
    val rows = (0L until 60L).flatMap { k =>
      Seq((k.toString, 0L, false, s"a$k"), (k.toString, 1L, false, s"b$k"))
    }
    val df = rows.toDF("k", "v", "del", "payload").repartition(7)
    val out = graft.streaming.Streams.replayAsStream(
      df, scratch("upsert_tie"), 2, "update", orderedBy = Some("v")) { src =>
      graft.streaming.Streams.streamingUpsert(
          src.as[(String, Long, Boolean, String)])
        .toDF("k", "v", "del", "payload")
    }.groupBy("k")
      .agg(max_by(struct(col("v"), col("payload")), col("v")).as("w"))
      .select(col("k"), col("w.v").as("v"), col("w.payload").as("payload"))
      .collect().toSeq.map(r => (r.getString(0), r.getLong(1), r.getString(2))).sorted
    val expected = (0L until 60L).map(k => (k.toString, 1L, s"b$k")).sorted
    assert(out == expected)
  }

  test("RocksDB state store: gate-query state shapes replay to the same results") {
    // the gate queries run under the default HDFS-backed provider; a real
    // deployment at volume runs RocksDB (bounded heap, the
    // configuration of BASELINE.md's "Streaming state-scale probe").
    // Parity here pins that the choice
    // of state store is an ops knob, not a semantics knob, for all SEVEN
    // state shapes the gate uses: streaming agg, mapGroupsWithState
    // (upsert), flatMapGroupsWithState (closed sessions), the symmetric
    // hash join (interval join), dropDuplicatesWithinWatermark, the
    // SketchState sketch fold (p88/p89), and the sentinel-layout capped
    // bucket state (p90/p91).
    import spark.implicits._
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val agg = graft.streaming.Streams.replayAsStream(
        ev, scratch("rocks_agg"), 4, "complete") { src =>
        src.groupBy(col("event_type")).agg(count(lit(1)).as("cnt"))
      }.collect().toSeq.map(r => (r.getString(0), r.getLong(1))).sorted
      val aggBatch = ev.groupBy(col("event_type")).agg(count(lit(1)).as("cnt"))
        .collect().toSeq.map(r => (r.getString(0), r.getLong(1))).sorted
      assert(agg == aggBatch, "streaming agg under RocksDB != batch")

      val ups = (0L until 40L).flatMap(k =>
          Seq((k.toString, 0L, false, s"a$k"), (k.toString, 1L, false, s"b$k")))
        .toDF("k", "v", "del", "payload")
      val upOut = graft.streaming.Streams.replayAsStream(
        ups, scratch("rocks_ups"), 2, "update", orderedBy = Some("v")) { src =>
        graft.streaming.Streams.streamingUpsert(
            src.as[(String, Long, Boolean, String)])
          .toDF("k", "v", "del", "payload")
      }.groupBy("k").agg(max_by(col("payload"), col("v")).as("payload"))
        .collect().toSeq.map(r => (r.getString(0), r.getString(1))).sorted
      assert(upOut == (0L until 40L).map(k => (k.toString, s"b$k")).sorted,
        "mapGroupsWithState upsert under RocksDB diverged")

      val sess = Seq((1L, 0L), (1L, 10L), (1L, 100L), (2L, 5L), (2L, 200L))
        .toDF("k", "us")
      val sOut = graft.streaming.Streams.replayAsStream(
        sess, scratch("rocks_sess"), 3, "append", orderedBy = Some("us")) { src =>
        graft.streaming.Streams.sessionizeClosed(src.as[(Long, Long)], gap = 50L)
          .toDF("user_id", "start_us", "end_us", "n_events")
      }.collect().toSeq.map(r =>
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).sorted
      // closed sessions only: user 1's (0,10) closes at 100; user 2's (5)
      // closes at 200; the final session per user stays open in state
      assert(sOut == Seq((1L, 0L, 10L, 2L), (2L, 5L, 5L, 1L)),
        s"flatMapGroupsWithState sessions under RocksDB: $sOut")

      // symmetric-hash-join state (p86's shape): self-join split by a
      // side column, right within [left, left+60s]
      val jin = Seq(("L", 1L, 10L), ("L", 1L, 200L), ("R", 1L, 30L),
          ("R", 1L, 250L), ("R", 1L, 500L), ("L", 2L, 40L), ("R", 2L, 90L))
        .toDF("side", "k", "sec")
        .withColumn("ets", timestamp_seconds(col("sec")))
      val jOut = graft.streaming.Streams.replayAsStream(
        jin, scratch("rocks_join"), 3, "append", orderedBy = Some("ets")) { src =>
        val l = src.filter(col("side") === "L")
          .select(col("k"), col("ets").as("l_ts"))
        val r = src.filter(col("side") === "R")
          .select(col("k"), col("ets").as("r_ts"))
        graft.streaming.Streams.intervalJoin(l, r, Seq("k"),
          "l_ts", "r_ts", watermark = "1 minute",
          before = "0 seconds", after = "60 seconds")
      }.select(col("k"), unix_micros(col("l_ts")) / 1000000L,
        unix_micros(col("r_ts")) / 1000000L)
        .collect().toSeq.map(r =>
          (r.getLong(0), r.getDouble(1).toLong, r.getDouble(2).toLong)).sorted
      assert(jOut == Seq((1L, 10L, 30L), (1L, 200L, 250L), (2L, 40L, 90L)),
        s"interval join under RocksDB: $jOut")

      // dropDuplicatesWithinWatermark state (p87's shape): delay spans
      // the data, so output = distinct keys exactly
      val din = Seq((1L, "a", 0L), (1L, "a", 100L), (2L, "b", 50L),
          (1L, "a", 900L), (2L, "b", 901L), (3L, "a", 902L))
        .toDF("k", "t", "sec")
        .withColumn("ets", timestamp_seconds(col("sec")))
      val dOut = graft.streaming.Streams.replayAsStream(
        din, scratch("rocks_dedup"), 3, "append", orderedBy = Some("ets")) { src =>
        graft.streaming.Streams.streamingDedup(src, "ets", "1 hour", Seq("k", "t"))
          .select(col("k"), col("t"))
      }.collect().toSeq.map(r => (r.getLong(0), r.getString(1))).sorted
      assert(dOut == Seq((1L, "a"), (2L, "b"), (3L, "a")),
        s"dropDuplicatesWithinWatermark under RocksDB: $dOut")

      // sketch state (p88/p89's shape): the SketchState product encoder
      // round-trips through RocksDB — the final fold equals the batch
      // sketch (the p23 lesson was an encoder failing only in one
      // execution context, so every provider gets its own pin)
      val kin = (0L until 60L).map(i => ("g" + (i % 2),
          (i * 2654435761L) % 1000003L)).toDF("k", "h")
      val kOut = graft.streaming.Streams.replayAsStream(
        kin, scratch("rocks_kmv"), 3, "update") { src =>
        graft.streaming.Streams.streamingKmvDistinct(
            src.as[(String, Long)], k = 8)
          .toDF("k", "n", "sz", "est")
      }.groupBy("k")
        .agg(max_by(struct(col("sz"), col("est")), col("n")).as("w"))
        .select(col("k"), col("w.sz").as("sz"), col("w.est").as("est"))
        .collect().toSeq.map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).sorted
      val kBatch = kin.groupBy("k")
        .agg(size(graft.operators.Sketches.kmv(col("h"), 8)).cast("long").as("sz"),
          graft.operators.Sketches.kmvEstimate(
            graft.operators.Sketches.kmv(col("h"), 8), 8).as("est"))
        .collect().toSeq.map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).sorted
      assert(kOut == kBatch, s"KMV sketch state under RocksDB: $kOut vs $kBatch")

      // capped bucket state (p90/p91's shape): the sentinel-layout
      // Array[Long] round-trips through RocksDB — first 4 identical-text
      // docs all-pair, later arrivals emit exactly one star edge to the
      // first-arrival hub
      val bdocs = (1L to 10L).map(i => (i, "same text for every doc here"))
        .toDF("doc_id", "text").withColumn("ord", col("doc_id"))
      val bPairs = graft.streaming.Streams.replayAsStream(
        bdocs, scratch("rocks_lsh"), 4, "append", orderedBy = Some("ord")) { src =>
        graft.streaming.Streams.streamingMinhashCandidates(
            src.drop("ord"), maxBucketSize = 4)
          .toDF("id_a", "id_b")
      }.distinct().collect().toSeq.map(r => (r.getLong(0), r.getLong(1))).toSet
      val bExpected = (1L to 4L).combinations(2).map(s => (s(0), s(1))).toSet ++
        (5L to 10L).map(j => (1L, j)).toSet
      assert(bPairs == bExpected, s"bucket state under RocksDB: $bPairs")
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("chained stateful operators: dedup then windowed agg in one streaming query") {
    // the bronze→silver pipeline shape — dropDuplicatesWithinWatermark
    // feeding a watermarked window aggregation inside ONE streaming
    // query (two stateful operators back to back, supported since the
    // unblocking of multiple stateful operators). Every event arrives
    // TWICE; identical timestamps put both copies in one value-ranged
    // slice, dedup suppresses the copy, and the downstream daily counts
    // must equal the single-copy batch oracle.
    val dup = ev.unionByName(ev)
    val out = graft.streaming.Streams.replayAsStream(
      dup, scratch("chain"), 4, "append", orderedBy = Some("ets")) { src =>
      // ONE withWatermark for the whole chain: redefining the watermark
      // between stateful operators is disallowed when multiple stateful
      // operators are enabled (the default)
      src.withWatermark("ets", "6 hours")
        .dropDuplicatesWithinWatermark("event_id")
        .groupBy(window(col("ets"), "1 day"))
        .agg(count(lit(1)).as("cnt"))
        .select(unix_micros(col("window.start")).as("ws_us"), col("cnt"))
    }.orderBy("ws_us").collect().toSeq
    val expected = graft.streaming.Streams.replayAsStream(
      ev, scratch("chain_ref"), 4, "append", orderedBy = Some("ets"))(
      dailyWindows).orderBy("ws_us").collect().toSeq
    assert(out == expected && expected.nonEmpty,
      "dedup→window chain diverged from the single-copy replay")
  }

  test("unordered staging late-drops behind the watermark (why orderedBy exists)") {
    val n1 = graft.streaming.Streams.replayAsStream(
      ev, scratch("late1"), 1, "append") { src =>
      src.withWatermark("ets", "6 hours")
        .groupBy(window(col("ets"), "1 day")).agg(count(lit(1)).as("cnt"))
    }.agg(sum("cnt")).head().getLong(0)
    val n8 = graft.streaming.Streams.replayAsStream(
      ev, scratch("late8"), 8, "append") { src =>
      src.withWatermark("ets", "6 hours")
        .groupBy(window(col("ets"), "1 day")).agg(count(lit(1)).as("cnt"))
    }.agg(sum("cnt")).head().getLong(0)
    // a random 8-way split of a month of events scatters every file
    // across the full time range: after batch 1 the watermark sits near
    // month-end, so most later rows are late-dropped
    assert(n8 < n1, s"expected late drops: parts=8 counted $n8 vs parts=1 $n1")
  }

  test("adaptiveStateParts: row-based, clamped, and key-hint capped") {
    import graft.streaming.Streams.adaptiveStateParts
    // row-based ceil, clamped to the session frame
    assert(adaptiveStateParts(32, 600000L, 16384L, None) == 32)
    assert(adaptiveStateParts(32, 40000L, 16384L, None) == 3)
    assert(adaptiveStateParts(32, 0L, 16384L, None) == 1)
    // a key hint caps the row-based estimate (sketch-shaped state)...
    assert(adaptiveStateParts(32, 600000L, 16384L, Some(3L)) == 3)
    assert(adaptiveStateParts(32, 600000L, 16384L, Some(16L)) == 16)
    // ...but never raises it above what the rows justify
    assert(adaptiveStateParts(32, 40000L, 16384L, Some(1000L)) == 3)
    assert(adaptiveStateParts(32, 600000L, 16384L, Some(0L)) == 1)
  }

  test("footer row count reads a file: URI, and counts through Spark " +
      "when there are no part- files") {
    val dir = scratch("footer_uri")
    ev.select("event_id").repartition(3).write.mode("overwrite")
      .parquet(s"$dir/stage")
    val n = graft.streaming.Streams.parquetFooterRowCount(spark, s"file://$dir/stage")
    assert(n == ev.count(), s"footer row count via file: URI $n != true count")
    // files Spark reads but whose names do not start with part-
    val stage = new java.io.File(s"$dir/stage")
    stage.listFiles().filter(_.getName.startsWith("part-")).foreach { f =>
      assert(f.renameTo(new java.io.File(stage, "data" + f.getName.stripPrefix("part"))))
    }
    val m = graft.streaming.Streams.parquetFooterRowCount(spark, s"$dir/stage")
    assert(m == ev.count(), s"row count without part- files $m != true count")
  }

  test("unordered staging: footer row count matches, and stateKeyHint " +
      "leaves the sketch result unchanged") {
    import spark.implicits._
    // footer count == true count (the sizing input the removed count()
    // job used to produce)
    val dir = scratch("footer")
    ev.select("event_id").repartition(3).write.mode("overwrite")
      .parquet(s"$dir/stage")
    val n = graft.streaming.Streams.parquetFooterRowCount(spark, s"$dir/stage")
    assert(n == ev.count(), s"footer row count $n != true count")
    // p88-shaped KMV fold: identical final state with and without the
    // key hint (partition fan-out only, never the result)
    val rows = ev.select(col("event_type").as("k"),
      graft.operators.Sketches.md5Hash61(col("event_id").cast("string")).as("h"))
    def run(hint: Option[Long]) = graft.streaming.Streams.replayAsStream(
      rows, scratch(s"hint${hint.getOrElse(-1L)}"), 4, "update",
      stateKeyHint = hint) { src =>
      graft.streaming.Streams.streamingKmvDistinct(src.as[(String, Long)], 32)
        .toDF("k", "n_seen", "kmv_size", "kmv_estimate")
    }.groupBy("k")
      .agg(max_by(struct(col("kmv_size"), col("kmv_estimate")), col("n_seen")).as("w"),
        max("n_seen").as("n"))
      .select("k", "n", "w.kmv_size", "w.kmv_estimate")
      .orderBy("k").collect().toSeq
    val unhinted = run(None)
    assert(unhinted.nonEmpty)
    assert(run(Some(1L)) == unhinted, "hint=1 changed the sketch result")
    assert(run(Some(1000L)) == unhinted, "hint>keys changed the sketch result")
  }
}
