package graft.streaming

import graft.sources.Taps
import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery}

/** Structured Streaming surface — ADDITIVE capability (the reference is
  * batch-only, SURVEY §2.10): the same engine's operators applied to
  * unbounded data with watermarks, event-time windows, streaming dedup and
  * custom state. An `events`-shaped stream (event_id, ts, user_id,
  * event_type, value, props) is the canonical input.
  */
object Streams {

  /** File-based stream source over a directory of parquet drops. */
  def parquetStream(s: SparkSession, path: String, schemaFrom: String): DataFrame =
    s.readStream.schema(Taps.parquet(s, schemaFrom).schema).parquet(path)

  /** Event-time tumbling/sliding window aggregation with a watermark —
    * the streaming analog of the engine's Grouping node. */
  def windowedAgg(
      events: DataFrame,
      tsCol: String,
      watermark: String,
      windowDur: String,
      slide: Option[String] = None,
      groupCols: Seq[String] = Nil,
      aggs: Seq[Column] = Seq(count(lit(1)).as("cnt"))): DataFrame = {
    val w = slide.fold(window(col(tsCol), windowDur))(sl =>
      window(col(tsCol), windowDur, sl))
    events.withWatermark(tsCol, watermark)
      .groupBy(w +: groupCols.map(col): _*)
      .agg(aggs.head, aggs.tail: _*)
  }

  /** Streaming exact dedup with state eviction via watermark — the
    * streaming face of pipeline.Dedup.exact. */
  def streamingDedup(events: DataFrame, tsCol: String, watermark: String,
      keyCols: Seq[String]): DataFrame =
    events.withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark(keyCols)

  /** Streaming NEAR-dup suppression: a doc is dropped if another doc with
    * the SAME 64-bit simhash arrived within the watermark (simhash equality
    * over whitespace tokens ⇒ near-identical text — the coarse tier of the
    * batch pipeline's hamming-distance candidates, with watermark-bounded
    * state). Uses the md5-exact kernel, so the survivor set is auditable
    * offline against the batch [[graft.pipeline.Dedup.simhash]]. */
  def streamingNearDup(docs: DataFrame, tsCol: String, watermark: String,
      textCol: String = "text"): DataFrame =
    docs.withColumn("_simhash", graft.pipeline.Dedup.simhash(col(textCol)))
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark(Seq("_simhash"))
      .drop("_simhash")

  final case class SessionState(start: Long, end: Long, events: Long)
  final case class SessionOut(key: Long, startMs: Long, endMs: Long, events: Long)

  /** Sketch-typed stream state: a cumulative processed-row count beside
    * the bounded cell array. Product-encoded on purpose (the p23 lesson:
    * Kryo over Scala collections is unreliable in a long-lived many-query
    * JVM; a flat case class of primitives + primitive array is not).
    * `n` strictly increases across a key's emissions — mapGroupsWithState
    * only fires for keys with data in the batch — so a batch consumer
    * picks each key's FINAL state with `max_by(state, n)`, no reliance on
    * sink row order. */
  final case class SketchState(n: Long, cells: Array[Long])

  /** Per-key RUNNING distinct-count estimate with the KMV monoid as stream
    * state ((key, hash) in → (key, n_seen, sketch size, estimate) per
    * update): each micro-batch folds its hashes into the key's ≤ k-long
    * sorted sketch, so state stays BOUNDED — k longs per key — no matter
    * how many distinct values flow past. The streaming face of
    * [[graft.operators.Sketches.kmv]]; because the sketch is a monoid, the
    * final streaming state equals the batch aggregate of the same rows.
    * `n_seen` is the key's cumulative processed-row count — the
    * batch-monotone marker that makes "latest emission per key"
    * selectable with `max_by` (see [[SketchState]]). */
  def streamingKmvDistinct(
      rows: Dataset[(String, Long)],
      k: Int): Dataset[(String, Long, Long, Double)] = {
    import rows.sparkSession.implicits._
    import graft.operators.Sketches
    rows.groupByKey(_._1)
      .mapGroupsWithState[SketchState, (String, Long, Long, Double)](
        GroupStateTimeout.NoTimeout) {
        (key: String, it: Iterator[(String, Long)], state: GroupState[SketchState]) =>
          val prev = state.getOption.getOrElse(SketchState(0L, Array.emptyLongArray))
          var sk = prev.cells
          var n = prev.n
          it.foreach { case (_, h) => sk = Sketches.insertHash(sk, h, k); n += 1 }
          state.update(SketchState(n, sk))
          (key, n, sk.length.toLong, Sketches.estimateFrom(sk, k))
      }
  }

  /** Streaming count-min twin of [[graft.operators.Sketches.cms]]:
    * per-key frequency sketch folded in mapGroupsWithState — state is
    * exactly depth·width longs per key (bounded however long the
    * stream runs), and because the fold is the same monoid the batch
    * aggregator uses, the end state equals the batch sketch over the
    * union of all arrivals in ANY order (StreamingSpec pins it). Emits
    * (key, n_seen, sketch) on every batch touching the key — `n_seen`
    * counts every arrival (nulls included, they just add nothing), the
    * `max_by` marker of [[SketchState]]; point-estimate with
    * [[graft.operators.Sketches.cmsEstimate]] downstream. Keying by a
    * hash SHARD of the value (rather than a natural key) gives the
    * scale-out global sketch: CMS cells are additive, so the elementwise
    * sum of the shard sketches equals the one-key sketch over the whole
    * stream while state and fold work spread across shards (the p89 gate
    * query replays exactly that contract against the batch oracle). */
  def streamingCms(
      rows: Dataset[(String, String)],
      depth: Int = 4, width: Int = 512): Dataset[(String, Long, Seq[Long])] = {
    import rows.sparkSession.implicits._
    import graft.operators.Sketches
    rows.groupByKey(_._1)
      .mapGroupsWithState[SketchState, (String, Long, Seq[Long])](
        GroupStateTimeout.NoTimeout) {
        (key: String, it: Iterator[(String, String)], state: GroupState[SketchState]) =>
          val prev = state.getOption.getOrElse(
            SketchState(0L, new Array[Long](depth * width)))
          val sk = prev.cells
          var n = prev.n
          it.foreach { case (_, v) =>
            n += 1
            if (v != null) {
              var i = 0
              while (i < depth) {
                sk(i * width + Sketches.cmsCell(v, i, width)) += 1L; i += 1
              }
            }
          }
          state.update(SketchState(n, sk))
          (key, n, sk.toSeq)
      }
  }

  /** Event-time stream-stream interval join — both sides watermarked so
    * the state store can evict rows that can no longer match: a right row
    * joins a left row of the same key when `rightTs` lands in
    * `[leftTs - before, leftTs + after]`. The streaming face of
    * [[graft.operators.RangeJoin]] (there: bins + equi-join over data at
    * rest; here: Spark's watermark-bounded symmetric hash join). The two
    * time columns must be distinctly named — the range condition lives in
    * the joined frame. */
  def intervalJoin(
      left: DataFrame, right: DataFrame, key: Seq[String],
      leftTs: String, rightTs: String, watermark: String,
      before: String, after: String): DataFrame = {
    require(leftTs != rightTs, "time columns must be distinctly named")
    val l = left.withWatermark(leftTs, watermark)
    val r = right.withWatermark(rightTs, watermark)
    val keyCond = key.map(k => l(k) === r(k)).reduce(_ && _)
    val cond = keyCond &&
      col(rightTs) >= col(leftTs) - expr(s"INTERVAL $before") &&
      col(rightTs) <= col(leftTs) + expr(s"INTERVAL $after")
    // inner join on equal keys: keep one copy (the left's)
    key.foldLeft(l.join(r, cond, "inner"))((df, k) => df.drop(r(k)))
  }

  /** Streaming face of [[graft.operators.Snapshot.upsert]]: per-key
    * LATEST-(version) row as running state — (key, version, deleted,
    * payload) in, the key's current winner out on every update. State is
    * ONE row per key, bounded regardless of delta volume. Max-by-version
    * is a semilattice, so the final streaming state equals the batch
    * `Snapshot.upsert` fold of the same rows in ANY arrival order (spec
    * asserts parity); on EQUAL versions a later BATCH wins (the stream's
    * notion of "delta-wins" — batch order is _src, stream order is
    * time). WITHIN a micro-batch there is no arrival order to honor —
    * the per-group iterator order after the shuffle is not the source
    * order — so equal-version rows of one batch resolve by a
    * deterministic total order instead (tombstone over live, then max
    * payload): the winner is a pure function of the batch's row SET,
    * independent of partitioning (ADVICE r8). Tombstones win like any
    * version and emit deleted=true so a downstream sink drops the key. */
  def streamingUpsert(
      rows: Dataset[(String, Long, Boolean, String)])
      : Dataset[(String, Long, Boolean, String)] = {
    import rows.sparkSession.implicits._
    rows.groupByKey(_._1)
      .mapGroupsWithState[(Long, Boolean, String), (String, Long, Boolean, String)](
        GroupStateTimeout.NoTimeout) {
        (key: String, it: Iterator[(String, Long, Boolean, String)],
            state: GroupState[(Long, Boolean, String)]) =>
          // best carries a fromState marker: an equal-version row of THIS
          // batch always beats carried state (later batch wins), while two
          // rows of this batch at the same version compare by the
          // deterministic (deleted, payload) order
          var best = state.getOption match {
            case Some((v, del, p)) => (v, del, p, true)
            case None => (Long.MinValue, false, null: String, true)
          }
          // null payloads order BELOW every string (String.valueOf would
          // conflate null with the literal "null", making the winner
          // iterator-order-dependent for exactly that pair)
          def cmpPayload(x: String, y: String): Int =
            if (x == null && y == null) 0
            else if (x == null) -1
            else if (y == null) 1
            else x.compareTo(y)
          def rowBeats(del: Boolean, payload: String): Boolean =
            best._4 || (del != best._2 && del) ||
              (del == best._2 && cmpPayload(payload, best._3) > 0)
          it.foreach { case (_, v, del, payload) =>
            if (v > best._1 || (v == best._1 && rowBeats(del, payload)))
              best = (v, del, payload, false)
          }
          state.update((best._1, best._2, best._3))
          (key, best._1, best._2, best._3)
      }
  }

  /** Sessionization via mapGroupsWithState (processing-time timeout) —
    * the KeyValueGroupedDataset custom-state surface. Input rows:
    * (user_id, ts); `gap` is in the UNITS OF THE TS COLUMN (ms-stamped
    * events take a ms gap, µs-stamped events a µs gap). Emits the
    * running session per user each batch. */
  def sessionize(events: Dataset[(Long, Long)], gap: Long): Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    events.groupByKey(_._1)
      .mapGroupsWithState[SessionState, SessionOut](GroupStateTimeout.NoTimeout) {
        (key: Long, rows: Iterator[(Long, Long)], state: GroupState[SessionState]) =>
          var st = state.getOption.getOrElse(SessionState(Long.MaxValue, 0L, 0L))
          rows.foreach { case (_, ts) =>
            st =
              if (st.events == 0L || ts - st.end > gap)
                SessionState(ts, ts, 1L) // gap exceeded → new session
              else
                SessionState(math.min(st.start, ts), math.max(st.end, ts), st.events + 1L)
          }
          state.update(st)
          SessionOut(key, st.start, st.end, st.events)
      }
  }

  /** Sessionization emitting only CLOSED sessions, via
    * flatMapGroupsWithState (event-time gap on the data itself): a batch's
    * events extend the open session or close it and start a new one; every
    * closed session is emitted exactly once. `gap` is in the units of the
    * ts column (see [[sessionize]]). */
  def sessionizeClosed(events: Dataset[(Long, Long)], gap: Long): Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    events.groupByKey(_._1)
      .flatMapGroupsWithState[SessionState, SessionOut](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (key: Long, rows: Iterator[(Long, Long)], state: GroupState[SessionState]) =>
          val closed = Vector.newBuilder[SessionOut]
          var st = state.getOption.getOrElse(SessionState(Long.MaxValue, 0L, 0L))
          rows.toSeq.sortBy(_._2).foreach { case (_, ts) =>
            if (st.events > 0L && ts - st.end > gap) {
              closed += SessionOut(key, st.start, st.end, st.events)
              st = SessionState(ts, ts, 1L)
            } else if (st.events == 0L) st = SessionState(ts, ts, 1L)
            else st = SessionState(math.min(st.start, ts), math.max(st.end, ts), st.events + 1L)
          }
          state.update(st)
          closed.result().iterator
      }
  }

  /** Streaming MinHash+LSH near-dup candidates — the LSH tier of the
    * batch pipeline ([[graft.pipeline.Dedup.minhashCandidates]]) over an
    * unbounded doc stream. Each doc's banded signature keys it into
    * (band, band_key) buckets; per-bucket state holds the member ids seen
    * so far and every arrival emits candidate pairs against them.
    *
    * State is BOUNDED by the same hot-bucket rule as batch: a bucket
    * stores at most `maxBucketSize` member ids (KBs per bucket, kept
    * SORTED so membership is a binary search — O(log n) per arrival
    * instead of a linear scan, which at the 4096 cap was worst-case ~16M
    * comparisons per hot bucket per micro-batch); arrivals beyond the cap
    * emit a single STAR EDGE to the bucket's min-id member instead of a
    * clique — the connected component is identical, the state and output
    * stay linear. Pairs may repeat when docs share several bands (batch
    * applies a final distinct; streams dedupe downstream with
    * `dropDuplicatesWithinWatermark` or at the sink). Re-delivered docs
    * emit nothing: under-cap ids are deduped against the stored members,
    * over-cap ids against the bounded emitted-edge set the state also
    * carries (see [[streamingBucketCandidates]] — exactly-once up to
    * `cap` distinct over-cap ids per bucket, idempotent re-emission past
    * that, state still ≤ 2·cap + 1 longs). For docs all arriving under
    * the cap, the emitted pair set equals the batch candidate set —
    * asserted in StreamingSpec. */
  def streamingMinhashCandidates(
      docs: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      k: Int = 64,
      bands: Int = 16,
      shingleWords: Int = 3,
      maxBucketSize: Int = graft.pipeline.Dedup.SessionBucketCap): Dataset[(Long, Long)] = {
    import docs.sparkSession.implicits._
    val cap = graft.pipeline.Dedup.resolveBucketCap(docs, maxBucketSize)
    val keyed = graft.pipeline.Dedup
      .bandedSignatures(docs, textCol, idCol, k, bands, shingleWords)
      .select(col(idCol).cast("long"), col("band").cast("int"), col("band_key"))
      .as[(Long, Int, String)]
    streamingBucketCandidates(keyed, cap)
  }

  /** Streaming embedding near-dup candidates — the vector face of
    * [[streamingMinhashCandidates]]: each arrival's hyperplane signature
    * ([[graft.pipeline.Similarity.hyperplaneSignature]], the same
    * md5-seeded planes as batch [[graft.pipeline.Dedup.embeddingNearDup]])
    * keys it into one bucket; the shared capped-state machinery emits the
    * candidate pairs. Candidates are UNVERIFIED, exactly like the batch
    * candidate tier and the minhash stream — join the pair stream against
    * a vector store (or buffer micro-batches) for the exact-cosine verify.
    * Null embeddings produce no signature and silently drop, matching
    * batch. For rows all arriving under the cap, the pair set equals the
    * batch bucket pairs (embeddingNearDup at threshold -1) — asserted in
    * StreamingSpec. */
  def streamingEmbeddingCandidates(
      vecs: DataFrame,
      idCol: String = "vec_id",
      embCol: String = "embedding",
      planes: Int = 12,
      maxBucketSize: Int = graft.pipeline.Dedup.SessionBucketCap): Dataset[(Long, Long)] = {
    import vecs.sparkSession.implicits._
    val cap = graft.pipeline.Dedup.resolveBucketCap(vecs, maxBucketSize)
    val sig = graft.pipeline.Similarity.hyperplaneSignature(col(embCol), planes)
    val keyed = vecs
      .select(col(idCol).cast("long"), lit(0).as("band"), sig.cast("string").as("band_key"))
      .filter(col("band_key").isNotNull)
      .as[(Long, Int, String)]
    streamingBucketCandidates(keyed, cap)
  }

  /** The shared stateful core of the streaming LSH candidate operators:
    * rows arrive keyed as (id, band, band_key); per-(band, band_key)
    * state is the SORTED member-id array capped at `cap` (binary-search
    * membership, star hub at index 0); under-cap arrivals pair against
    * every stored member, over-cap arrivals emit one star edge to the
    * hub. `cap` is pre-resolved by the public faces.
    *
    * Over-cap EXACTLY-ONCE (VERDICT r6 item #6): the state additionally
    * remembers which over-cap ids already emitted their star edge — a
    * second sorted array, also capped at `cap`, appended after a
    * `Long.MinValue` sentinel in the same Array[Long] state value (old
    * checkpoints have no sentinel and load as members-only, so the
    * layout is backward-compatible; `Long.MinValue` is rejected as an
    * id). A re-delivered over-cap id found in the emitted set emits
    * NOTHING; only when the emitted set is itself full does the operator
    * fall back to re-emitting — never lossy, state never grows past
    * 2·cap + 1 longs per bucket. An exact bounded set, not a bloom
    * filter: a false positive would SUPPRESS a first-time star edge and
    * split the connected component, the one failure the candidate tier
    * must not have. */
  private def streamingBucketCandidates(
      keyed: Dataset[(Long, Int, String)], cap: Int): Dataset[(Long, Long)] = {
    import keyed.sparkSession.implicits._
    keyed.groupByKey(r => (r._2, r._3))
      .flatMapGroupsWithState[Array[Long], (Long, Long)](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (_: (Int, String), rows: Iterator[(Long, Int, String)],
         state: GroupState[Array[Long]]) =>
          // state layout: members (sorted asc) [++ MinValue ++ emitted
          // (sorted asc)] — split at the sentinel on load
          val raw = state.getOption.getOrElse(Array.emptyLongArray)
          val sep = raw.indexOf(Long.MinValue)
          // state invariant: both segments sorted ascending — membership
          // is a binary search and the star hub (min member) reads off
          // index 0. Defensive sort-on-load: a checkpoint written by the
          // pre-sort implementation stored members in arrival order;
          // binary search over it would silently mis-report membership
          // (lost pairs, duplicate star edges). One O(n log n) pass on
          // first touch restores the invariant.
          def sortedOf(a: Array[Long]): Array[Long] = {
            var i = 1
            var sorted = true
            while (sorted && i < a.length) {
              if (a(i - 1) > a(i)) sorted = false
              i += 1
            }
            if (sorted) a else { val c = a.clone(); java.util.Arrays.sort(c); c }
          }
          var members = sortedOf(if (sep < 0) raw else raw.take(sep))
          var emitted = if (sep < 0) Array.emptyLongArray
            else sortedOf(raw.drop(sep + 1))
          def insertSorted(a: Array[Long], pos: Int, id: Long): Array[Long] = {
            val ins = -(pos + 1)
            val next = new Array[Long](a.length + 1)
            System.arraycopy(a, 0, next, 0, ins)
            next(ins) = id
            System.arraycopy(a, ins, next, ins + 1, a.length - ins)
            next
          }
          val out = Vector.newBuilder[(Long, Long)]
          // deterministic within a micro-batch: process ids ascending;
          // distinct dedupes same-batch re-deliveries of over-cap ids
          // (under-cap ones the membership check catches)
          rows.map(_._1).toArray.distinct.sorted.foreach { id =>
            require(id != Long.MinValue,
              "Long.MinValue is reserved as the state-layout sentinel")
            val pos = java.util.Arrays.binarySearch(members, id)
            if (pos < 0) {
              if (members.length >= cap) {
                val seen = java.util.Arrays.binarySearch(emitted, id)
                if (seen < 0) {
                  val hub = members(0)
                  out += ((math.min(hub, id), math.max(hub, id)))
                  // remember the emission while the emitted set has room;
                  // past that, fall back to re-emitting (idempotent
                  // downstream) rather than growing state
                  if (emitted.length < cap) emitted = insertSorted(emitted, seen, id)
                }
                // state stays capped — the doc links via the star edge
              } else {
                members.foreach(m => out += ((math.min(m, id), math.max(m, id))))
                members = insertSorted(members, pos, id)
              }
            }
          }
          state.update(
            if (emitted.isEmpty) members
            else members ++ Array(Long.MinValue) ++ emitted)
          out.result().iterator
      }
  }

  /** Streaming twin of [[graft.pipeline.Dedup.ngramOverlapReport]]'s
    * broadcast path: the eval suite's sorted distinct gram hashes are
    * computed ONCE batch-side ([[graft.pipeline.Dedup.evalGramSet]]) and
    * close over a stateless per-row kernel — no state store, no
    * watermark, every micro-batch scores independently. Shares the
    * batch gram/hash/count kernels, so batch and stream agree by
    * construction (StreamingSpec pins parity). Emits the batch report's
    * schema: (idCol, n_grams, hit_grams, contaminated). */
  def streamingNgramReport(docs: DataFrame, evalGrams: Array[Long],
      n: Int = 8, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val rep = udf { (text: String) =>
      val gs = graft.pipeline.Dedup.gramHashes(text, n)
      (gs.length.toLong, graft.pipeline.Dedup.gramHitCount(gs, evalGrams))
    }
    docs.withColumn("_r", rep(col(textCol)))
      .select(col(idCol), col("_r._1").as("n_grams"),
        col("_r._2").as("hit_grams"), (col("_r._2") > 0).as("contaminated"))
  }

  /** Streaming twin of [[graft.operators.Check.check]] — the ingest
    * monitor face of the expectations layer: cumulative running totals
    * of rows, null violations, range violations, and FK violations over
    * everything that has arrived. Spark allows ONE streaming
    * aggregation per query, so every counter folds in a single global
    * aggregation: RefIn dimensions join in as per-row match flags
    * BEFORE the fold (stream-static left joins — the dim is a static
    * frame), and the wide counter row unpivots to the batch report's
    * (check_name, value) schema after it. Run with outputMode
    * "complete" (the result is one tiny row set). Unique() needs
    * cross-batch key state — that is the dedup machinery's job
    * ([[streamingDedup]]), so it is rejected here. */
  def streamingCheck(docs: DataFrame,
      constraints: Seq[graft.operators.Check.Constraint]): DataFrame = {
    import graft.operators.Check._
    require(constraints.nonEmpty, "streamingCheck needs at least one constraint")
    constraints.foreach {
      case u: Unique => throw new IllegalArgumentException(
        s"streamingCheck cannot track ${u.name}: cross-batch key state is " +
          "the dedup machinery's job (streamingDedup)")
      case _ => ()
    }
    val refs = constraints.collect { case r: RefIn => r }.zipWithIndex
    val joined = refs.foldLeft(docs) { case (d, (RefIn(cn, dim, dimCol), i)) =>
      d.join(
        dim.select(col(dimCol).as(s"_rk_$i")).distinct()
          .withColumn(s"_rm_$i", lit(1)),
        d(cn) === col(s"_rk_$i"), "left_outer")
    }
    val refIdx = refs.map { case (r, i) => (r: Constraint) -> i }.toMap
    val aggs = count(lit(1)).as("_rows") +: constraints.zipWithIndex.map {
      case (c @ NotNull(cn), j) =>
        (count(lit(1)) - count(col(cn))).as(s"_v_$j")
      case (c @ InRange(cn, lo, hi), j) =>
        coalesce(sum(when(col(cn).isNotNull && (col(cn) < lo || col(cn) > hi),
          1L).otherwise(0L)), lit(0L)).as(s"_v_$j")
      case (c @ RefIn(cn, _, _), j) =>
        val i = refIdx(c)
        coalesce(sum(when(col(cn).isNotNull && col(s"_rm_$i").isNull, 1L)
          .otherwise(0L)), lit(0L)).as(s"_v_$j")
      case (u: Unique, _) => throw new IllegalStateException(u.name)
    }
    val wide = joined.agg(aggs.head, aggs.tail: _*)
    val rows = struct(lit("rows").as("check_name"), col("_rows").as("value")) +:
      constraints.zipWithIndex.map { case (c, j) =>
        struct(lit(c.name).as("check_name"), col(s"_v_$j").as("value"))
      }
    wide.select(explode(array(rows: _*)).as("_r")).select("_r.*")
  }

  /** Stateless streaming BM25 gate — the streaming twin of
    * [[graft.pipeline.TextAnalysis.bm25Score]], following the
    * streaming-gate contract its scaladoc names: the model prunes to
    * the QUERY-SLICED df entries (O(query terms) — KBs however large
    * the corpus), rides in the closure as plain data, and every
    * arriving doc scores row-locally with the same quantized-rational
    * arithmetic — no state store, no stream aggregation, no join.
    * Batch parity is exact for the corpus alphabet (both sides run the
    * identical IEEE ops; the row-local tokenizer mirrors the batch
    * `lower∘trim∘split(\W+)` expression — Java and Spark share the
    * regex engine, and `trim`/ASCII lowering agree; locale-sensitive
    * Unicode casing is the one documented divergence). Output schema
    * matches the batch gate: (idCol, n_hits, bm25_rel DECIMAL(38,0)).
    */
  def streamingBm25Gate(docs: DataFrame,
      model: graft.pipeline.TextAnalysis.Bm25Model,
      queryTerms: Seq[String], idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val q = queryTerms.map(_.toLowerCase).distinct
    val dfMap = model.df.filter(col("term").isInCollection(q))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val n = model.nDocs; val s = model.totalTokens
    val scoreU = udf { (text: String) =>
      val toks =
        if (text == null) Array.empty[String]
        else text.trim.toLowerCase.split("\\W+").filter(_.nonEmpty)
      val dl = toks.length.toLong
      val tfs = scala.collection.mutable.Map.empty[String, Long]
      toks.foreach { t =>
        if (dfMap.contains(t)) tfs.update(t, tfs.getOrElse(t, 0L) + 1L)
      }
      var rel = java.math.BigInteger.ZERO
      tfs.foreach { case (t, tf) =>
        val tfq = graft.pipeline.TextAnalysis.bm25Tfq(tf, dl, s, n)
        val idfq = graft.pipeline.TextAnalysis.bm25Idfq(dfMap(t), n)
        rel = rel.add(java.math.BigInteger.valueOf(tfq)
          .multiply(java.math.BigInteger.valueOf(idfq)))
      }
      (tfs.size.toLong, if (tfs.isEmpty) null else rel.toString)
    }
    docs.withColumn("_r", scoreU(col(textCol)))
      .select(col(idCol), col("_r._1").as("n_hits"),
        col("_r._2").cast("decimal(38,0)").as("bm25_rel"))
  }

  /** Streaming funnel twin of [[graft.operators.Funnel.funnel]]: per
    * key, the completed-stage frontier advances as step events arrive —
    * state is at most `steps.length` longs per key (bounded, no event
    * retention). Each batch's group is processed in event-time order,
    * so the result is EXACT vs the batch funnel under per-key
    * event-time-ordered delivery (the funnel-tracker contract;
    * StreamingSpec pins multi-batch parity). An out-of-order arrival
    * that would re-anchor step 1 earlier is the one divergence class —
    * the batch funnel is the retrospective audit for that. Strict-after
    * ordering and the step-1-anchored `maxSpan` window match the batch
    * semantics exactly. Emits (key, stage, completed-stage times) on
    * every advance (Update mode). */
  def streamingFunnel(events: DataFrame, steps: Seq[String],
      maxSpan: Option[Long] = None, keyCol: String = "user_id",
      tsCol: String = "ts", typeCol: String = "event_type"): Dataset[(Long, Int, Seq[Long])] = {
    import events.sparkSession.implicits._
    require(steps.nonEmpty, "streamingFunnel: need at least one step")
    val stepIdx = steps.zipWithIndex.toMap
    val k = steps.length
    events
      // Filter AFTER the casts: a non-numeric string key/ts passes an
      // isNotNull pre-filter but casts to null and would fail the
      // non-nullable tuple encoder at runtime, killing the query. Null
      // ts matches the batch funnel's filter; dropping null/uncastable
      // KEYS is a documented divergence from the batch funnel (which
      // groups a null key into its own funnel row) — the Long-keyed
      // state encoder cannot carry a null key.
      .select(col(keyCol).cast("long").as("_k"), col(tsCol).cast("long").as("_t"),
        col(typeCol).cast("string").as("_e"))
      .filter(col("_k").isNotNull && col("_t").isNotNull)
      .as[(Long, Long, String)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[Array[Long], (Long, Int, Seq[Long])](
        OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
        case (key, it, state) =>
          var ts = state.getOption.getOrElse(Array.empty[Long])
          val before = ts.length
          it.toSeq.sortBy(_._2).foreach { case (_, t, e) =>
            if (ts.length < k && stepIdx.get(e).contains(ts.length) &&
                (ts.isEmpty ||
                  (t > ts.last && maxSpan.forall(sp => t <= ts.head + sp))))
              ts = ts :+ t
          }
          if (ts.length != before) {
            state.update(ts)
            Iterator((key, ts.length, ts.toSeq))
          } else Iterator.empty
      }
  }

  /** Replays a BATCH DataFrame through the streaming engine and runs it
    * to completion: the rows are staged as `parts` parquet files under
    * `scratchDir`, streamed back one file per micro-batch (so state
    * genuinely accumulates across `parts` batches), transformed by `f`,
    * and drained with an AvailableNow trigger into a memory sink whose
    * final table is returned.
    *
    * This is the batch↔stream parity harness as a library function: any
    * bounded-result streaming pipeline (stateful aggregation, watermarked
    * windows, streaming dedup) can be checked against its batch oracle by
    * replaying the batch input through it. The default memory sink bounds
    * the RESULT on the driver, not the input — use it for
    * verification-sized outputs; `sink = "parquet"` (append mode only)
    * writes the stream to files under the scratch dir and reads them
    * back, so the replay's driver memory stays bounded no matter how
    * large the output (measured: p91's pair set at the 100× sf10 corpus
    * kills a 64 GB driver through the memory sink and streams cleanly
    * through the parquet sink — the same shape production streams use
    * via [[toParquet]]).
    *
    * Output determinism holds for order-free transforms (aggregations,
    * watermarked windows whose emission depends only on the global max
    * event time): the staged file split changes batch boundaries, never
    * the final table.
    *
    * `orderedBy = Some(tsCol)` stages the rows as `parts` CONTIGUOUS
    * event-time slices replayed in time order, ONE parquet file per
    * slice (so a micro-batch is exactly a slice — a multi-file slice
    * would let file 2 arrive behind the watermark file 1 set). Slice
    * dirs get explicitly increasing modification times — the file
    * source's replay order — so no row ever arrives behind the
    * watermark. Without `orderedBy`, a multi-file split of out-of-order
    * data makes watermarked operators drop whatever lands behind the
    * first batch's high-water mark: real late-data semantics, but
    * batch-boundary-dependent output.
    *
    * Watermarked replays need event times at/after epoch 0: Spark's
    * event-time watermark starts at 0 and only advances, so pre-1970
    * rows sit behind the initial watermark and are late-dropped from
    * the second micro-batch on (a Spark contract, not a harness one —
    * StreamReplayPropSpec documents the boundary).
    *
    * `stateKeyHint`: upper bound on the DISTINCT STATE KEYS the
    * transform's stateful operator will hold (pass it for sketch-shaped
    * state — KMV/CMS/sharded folds — where state volume is ~constant
    * bytes per KEY, so the row-based sizing wildly overestimates: p88
    * folds 600k rows into THREE returnflag sketches, and a state
    * partition holding no key still pays store init + commit +
    * checkpoint IO every micro-batch). The hint only CAPS the adaptive
    * partition count; the explicit `spark.graft.stream.statePartitions`
    * knob still overrides everything, and results are partition-count
    * independent (parity specs pin every state shape). */
  def replayAsStream(batch: DataFrame, scratchDir: String, parts: Int,
      outputMode: String, orderedBy: Option[String] = None,
      sink: String = "memory", stateKeyHint: Option[Long] = None)(
      f: DataFrame => DataFrame): DataFrame = {
    val s = batch.sparkSession
    // fresh run every call: a memory-sink query cannot recover from a
    // prior invocation's checkpoint, so wipe the scratch dir up front
    // (NOFOLLOW — a planted symlink is unlinked, never traversed)
    deleteRecursivelyNoFollow(scratchDir)
    val stage = s"$scratchDir/stage"
    val inCols = batch.columns.toSeq
    // equalsIgnoreCase: Spark resolves columns case-insensitively by
    // default, so a __SLICE input column would silently collide too
    require(!inCols.exists(c =>
        c.equalsIgnoreCase("__slice") || c.equalsIgnoreCase("__d")),
      "replayAsStream reserves the staging columns __slice and __d")
    // input row count for state-partition sizing, captured for free from
    // the ordered branch's existing bounds aggregate (no extra job)
    var stagedRows: Option[Long] = None
    orderedBy match {
      case None =>
        batch.repartition(parts).write.mode("overwrite").parquet(stage)
        // row count from the just-written parquet FOOTERS — a driver-side
        // metadata read over `parts` files, so unordered replays get the
        // same adaptive state sizing as ordered ones without paying a
        // scan job for it (the ordered branch's count rides its existing
        // bounds aggregate; this branch had nothing to ride until now)
        stagedRows = Some(parquetFooterRowCount(s, stage))
      case Some(tc) =>
        // contiguous event-time slices: [min + k*step, min + (k+1)*step)
        // over the order column as a Long (timestamps → epoch micros;
        // numeric columns — versions, epoch values — used directly),
        // last slice closed at max. Rows with a null order value are
        // excluded (a watermarked operator would never emit them anyway).
        // VALUE-ranged slicing also means equal order values always land
        // in the same micro-batch — the property p84's upsert relies on.
        import org.apache.spark.sql.types.{TimestampType, TimestampNTZType}
        val us = batch.schema(tc).dataType match {
          case TimestampType | TimestampNTZType =>
            unix_micros(col(tc).cast("timestamp"))
          case _ => col(tc).cast("long")
        }
        val bounds = batch.agg(min(us), max(us), count(us)).head()
        if (bounds.isNullAt(0)) {
          batch.limit(0).write.mode("overwrite").parquet(stage)
        } else {
          stagedRows = Some(bounds.getLong(2))
          val (lo, hi) = (bounds.getLong(0), bounds.getLong(1))
          val step = math.max(1L, (hi - lo) / parts + 1L)
          // ONE scan, one shuffle, ONE file per slice: repartition on the
          // slice id puts every row of a slice in a single task (hash of
          // equal values → same partition; a hash collision merging two
          // slices into one task still writes them to separate files via
          // partitionBy), so no slice can ever span two micro-batches —
          // a second file in slice k could otherwise carry rows behind
          // the watermark the first file advanced
          batch.filter(us.isNotNull)
            .withColumn("__d", (us - lit(lo)).cast("long"))
            .withColumn("__slice", expr(s"cast((__d div ${step}L) as int)"))
            .drop("__d")
            .repartition(parts, col("__slice"))
            .write.mode("overwrite").partitionBy("__slice").parquet(stage)
          // the file source replays in modification-time order (ms
          // granularity, ties unordered) — stamp slice k's file with an
          // explicit mtime of (k+1)s so slice k is always batch k, even
          // when two task commits share a clock ms
          new java.io.File(stage).listFiles().foreach { d =>
            if (d.isDirectory && d.getName.startsWith("__slice=")) {
              val k = d.getName.stripPrefix("__slice=").toLong
              d.listFiles().foreach { ff =>
                if (ff.getName.startsWith("part-"))
                  { ff.setLastModified((k + 1L) * 1000L): Unit }
              }
            }
          }
        }
    }
    // ---- state-partition sizing (VERDICT r16 #4) --------------------
    // A stateful micro-batch pays a FIXED cost per state partition per
    // batch (state-store task init + commit + checkpoint file IO), so
    // the partition count must be sized to STATE VOLUME, not inherited
    // from whatever spark.sql.shuffle.partitions happens to be:
    // measured at sf0.1, p86 runs 12.5 s with 32 inherited partitions
    // vs 5.1 s adaptive (3 parts) vs 4.9 s at 1 — i.e. ~60% of the
    // inherited-partition time was state bookkeeping for ~40k input
    // rows, while at 100 TB the same inheritance would undersize state
    // thousands-fold (production sizes UP via the knob). Default is
    // adaptive — ceil(inputRows / rowsPerStatePartition), clamped to
    // [1, current shuffle.partitions] (a replay never needs MORE
    // parallelism than the session's compute frame; production
    // deployments size UP via the explicit knob). The count is free
    // (ordered branch's bounds aggregate); the unordered branch keeps
    // the session value unless the explicit knob is set. Results are
    // partition-count-independent (StreamReplaySpec/parity specs pin
    // every state shape), only task fan-out changes.
    val prevParts = s.conf.get("spark.sql.shuffle.partitions")
    val stateParts: Int =
      s.conf.getOption("spark.graft.stream.statePartitions")
        .map(_.toInt)
        .orElse {
          val target = s.conf.getOption(
            "spark.graft.stream.rowsPerStatePartition")
            .map(_.toLong).getOrElse(16384L)
          stagedRows.map(n =>
            adaptiveStateParts(prevParts.toInt, n, target, stateKeyHint))
        }
        .getOrElse(prevParts.toInt)
    def withStateParts[T](body: => T): T = {
      s.conf.set("spark.sql.shuffle.partitions", stateParts.toString)
      try body finally s.conf.set("spark.sql.shuffle.partitions", prevParts)
    }
    // ordered staging adds the __slice partition column to the staged
    // schema — select it away so `f` sees exactly the input columns
    val src = s.readStream.schema(Taps.parquet(s, stage).schema)
      .option("maxFilesPerTrigger", 1).parquet(stage)
      .select(inCols.map(col): _*)
    if (sink == "parquet") {
      // file sink: driver memory stays bounded for arbitrarily large
      // append outputs (the streaming commit log under ckpt marks the
      // committed files; reading the dir back honors it via _spark_metadata)
      require(outputMode == "append",
        s"parquet replay sink is append-only, got $outputMode")
      val outDir = s"$scratchDir/out"
      val transformed = f(src)
      withStateParts {
        val q = transformed.writeStream.format("parquet")
          .option("path", outDir)
          .option("checkpointLocation", s"$scratchDir/ckpt")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
      }
      // explicit schema: a transform emitting ZERO rows writes no data
      // files, and schema inference over the empty dir would throw where
      // the memory sink returns an empty table — the two sink modes must
      // agree on the empty-output edge of the content-identity contract
      s.read.schema(transformed.schema).parquet(outDir)
    } else {
      val qn = ("graft_replay_" + scratchDir).replaceAll("[^A-Za-z0-9]", "_")
      withStateParts {
        val q = f(src).writeStream.format("memory").queryName(qn)
          .outputMode(outputMode)
          .option("checkpointLocation", s"$scratchDir/ckpt")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
      }
      s.table(qn)
    }
  }

  /** Adaptive state-partition count: ceil(rows / rowsPerStatePartition)
    * clamped to [1, sessionParts], additionally capped at `keyHint`
    * when given — sketch-shaped state (stateKeyHint): partitions beyond
    * the key count buy nothing, an empty state partition still pays
    * store init + commit + checkpoint file IO per micro-batch
    * (VERDICT r17 #4). */
  private[graft] def adaptiveStateParts(sessionParts: Int, rows: Long,
      target: Long, keyHint: Option[Long]): Int = {
    val rowBased = math.max(1L, (rows + target - 1) / target)
    val capped = keyHint.fold(rowBased)(k => math.min(rowBased, math.max(1L, k)))
    math.min(sessionParts.toLong.max(1L), capped).toInt
  }

  /** Total row count of a directory of parquet part files, read from
    * the file FOOTERS on the driver — metadata only, no Spark job (the
    * staging dir holds `parts` files, so this is a handful of footer
    * reads). Lists and opens footers as [[graft.sources.Taps.parquet]]
    * does: through Hadoop `FileSystem` with the session's Hadoop conf,
    * so `file:` URIs, non-local stores and session-level Hadoop
    * settings count too; a layout the tap would not read from footers,
    * or one with no data file, falls back to a Spark count rather than
    * reporting 0 rows. */
  private[graft] def parquetFooterRowCount(s: SparkSession, dir: String): Long = {
    import scala.jdk.CollectionConverters._
    Taps.leaves(s, dir).filter(_.files.nonEmpty) match {
      case Some(l) => l.files.map(f => Taps.withFooter(l.conf, f)(
        _.getBlocks.asScala.map(_.getRowCount).sum)).sum
      case None => Taps.parquet(s, dir).count()
    }
  }

  private[graft] def deleteRecursivelyNoFollow(path: String): Unit = {
    import java.nio.file.{Files, Path, Paths, FileVisitResult, SimpleFileVisitor}
    import java.nio.file.attribute.BasicFileAttributes
    val root = Paths.get(path)
    if (Files.exists(root, java.nio.file.LinkOption.NOFOLLOW_LINKS)) {
      Files.walkFileTree(root, new SimpleFileVisitor[Path] {
        override def visitFile(f: Path, a: BasicFileAttributes) = {
          Files.deleteIfExists(f); FileVisitResult.CONTINUE
        }
        override def visitFileFailed(f: Path, e: java.io.IOException) =
          FileVisitResult.CONTINUE
        override def postVisitDirectory(d: Path, e: java.io.IOException) = {
          Files.deleteIfExists(d); FileVisitResult.CONTINUE
        }
      }): Unit
    }
  }

  /** Run a streaming query to a memory sink (testing/inspection). */
  def toMemory(df: DataFrame, name: String, outputMode: String = "update"): StreamingQuery =
    df.writeStream.format("memory").queryName(name)
      .outputMode(outputMode).start()

  /** Production file sink with checkpointing. */
  def toParquet(df: DataFrame, path: String, checkpoint: String,
      trigger: String = "10 seconds"): StreamingQuery =
    df.writeStream.format("parquet")
      .option("path", path).option("checkpointLocation", checkpoint)
      .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime(trigger))
      .outputMode(OutputMode.Append).start()

  /** Streaming write-audit-publish: continuous ingest where every
    * micro-batch is gated BEFORE it becomes visible. Each batch runs
    * [[graft.operators.Publish.publishBatch]] — stage, audit the
    * staged files against `constraints`, commit under `root/batch=N`
    * with a `_COMMITTED` marker written last; a dirty batch is dropped
    * whole (its rows never reach the served corpus) and the stream
    * continues. Readers see exactly the committed batches via
    * [[graft.operators.Publish.readCommitted]]. Idempotent across
    * restarts: foreachBatch re-delivery of a committed id is a no-op,
    * so the sink is exactly-once per batch. Runs to completion with
    * AvailableNow (the replay/backfill shape); swap the trigger for
    * always-on ingest. */
  def streamingPublish(src: DataFrame, root: String, checkpoint: String,
      constraints: Seq[graft.operators.Check.Constraint]): StreamingQuery = {
    val q = src.writeStream.foreachBatch {
      (batch: DataFrame, id: java.lang.Long) =>
        graft.operators.Publish.publishBatch(batch, root, id, constraints): Unit
    }
      .option("checkpointLocation", checkpoint)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    q
  }
}
