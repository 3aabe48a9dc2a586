package graft

import graft.dsl._
import graft.logic.Query
import graft.ops.Ops
import graft.pipeline.{Bpe, Dedup, Similarity, TextAnalysis}
import graft.sources.Taps
import graft.OracleSql._
import graft.QuerySpec.{Contract, Oracle}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Driver contract: the operator-inventory queries (SURVEY.md §2) expressed
  * through the graft DSL + pipeline library, with DuckDB oracle SQL.
  *
  * Numeric conventions for hash-stable oracle comparison:
  *  - floating sums/averages accumulate in DECIMAL (exact, order-free) and
  *    present as DOUBLE (`Ops.sumDec`/`avgDec`) — both engines produce the
  *    identical double;
  *  - counts/sizes are BIGINT on both sides;
  *  - per-row double arithmetic (x*(1-d)) is IEEE-deterministic everywhere.
  */
object SparkEntry {

  private def tbl(dir: String, name: String)(s: SparkSession): DataFrame =
    Taps.parquet(s, s"$dir/$name.parquet")

  /** Registers `path` (a scratch tap dir) for recursive deletion when
    * this JVM exits — idempotent per path, so repeated query runs in one
    * process register one hook each per distinct dir. Keeps /tmp from
    * accumulating pid-fresh tap dirs across gate/bench processes. */
  private val exitDeletions = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  private def deleteAtExit(path: String): Unit =
    if (exitDeletions.add(path)) {
      Runtime.getRuntime.addShutdownHook(new Thread(() =>
        // NOFOLLOW walk: a symlink planted inside the world-writable
        // /tmp tap dir must be unlinked, never traversed into its target
        graft.streaming.Streams.deleteRecursivelyNoFollow(path)))
    }

  private def lineitem(d: String)(fields: Any*) =
    source(tbl(d, "lineitem"))(fields: _*)
  private def orders(d: String)(fields: Any*) =
    source(tbl(d, "orders"))(fields: _*)
  private def customer(d: String)(fields: Any*) =
    source(tbl(d, "customer"))(fields: _*)
  private def nation(d: String)(fields: Any*) =
    source(tbl(d, "nation"))(fields: _*)
  private def region(d: String)(fields: Any*) =
    source(tbl(d, "region"))(fields: _*)
  private def events(d: String)(fields: Any*) =
    source(tbl(d, "events"))(fields: _*)

  /** events.ts as epoch MICROS, robust to the two physical layouts the
    * driver's generator has shipped: BIGINT nanoseconds (read as long via
    * legacy nanosAsLong → integer-div to micros) and native timestamp[us]
    * (→ unix_micros). Both equal DuckDB's `epoch_us(ts)` on the same file. */
  private def tsUs(df: DataFrame): org.apache.spark.sql.Column =
    df.schema("ts").dataType match {
      case LongType => expr("ts div 1000")
      // NTZ carries a wall-clock; sessions pin spark.sql.session.timeZone
      // to UTC, so the LTZ cast is the identity DuckDB applies natively
      case TimestampNTZType => unix_micros(col("ts").cast(TimestampType))
      case _ => unix_micros(col("ts"))
    }
  private def documents(d: String)(fields: Any*) =
    source(tbl(d, "documents"))(fields: _*)

  // ------------------------------------------------------- engine queries

  /** Pricing summary: multi-aggregator single pass (SURVEY §2.6). */
  private def q01(s: SparkSession, d: String): DataFrame =
    query("?l_returnflag", "?l_linestatus", "?sum_qty", "?sum_price", "?avg_qty", "?cnt")(
      lineitem(d)("_", "_", "_", "_", "?l_quantity", "?l_extendedprice", "_", "_",
        "?l_returnflag", "?l_linestatus", "_"),
      Ops.sumDec()("?l_quantity") :> "?sum_qty",
      Ops.sumDec()("?l_extendedprice") :> "?sum_price",
      Ops.avgDec()("?l_quantity") :> "?avg_qty",
      Ops.count() :> "?cnt").toDF(s)

  /** Filter + map (Application/FilterApplication nodes). */
  private def q02(s: SparkSession, d: String): DataFrame =
    query("?l_orderkey", "?revenue")(
      lineitem(d)("?l_orderkey", "_", "_", "_", "?l_quantity", "?ep", "?disc", "_",
        "_", "_", "_"),
      Ops.lt("?l_quantity", 3.0),
      Ops.cmap(cs => cs(0) * (lit(1.0) - cs(1)))("?ep", "?disc") :> "?revenue").toDF(s)

  /** 3-way join + agg: revenue per market segment (flagship). The
    * `uniqueOn` key declarations license the planner's eager-aggregation
    * rewrite: lineitem partially aggregates per ?ok BELOW the joins (the
    * q32 shape — at 100 TB the join moves grouped partials, not 4× raw
    * fact rows), provably sound because customer/orders are lookups. */
  private def q03(s: SparkSession, d: String): DataFrame =
    query("?c_mktsegment", "?revenue", "?n_items")(
      uniqueOn(customer(d)("?ck", "_", "_", "_", "?c_mktsegment"), "?ck"),
      uniqueOn(orders(d)("?ok", "?ck", "_", "_", "_", "_"), "?ok"),
      lineitem(d)("?ok", "_", "_", "_", "_", "?ep", "?disc", "_", "_", "_", "_"),
      // hash-stable revenue at ANY scale (round-14 sf10 finding): the
      // product's TRUE value has exactly 4 decimals (2dp price x 2dp
      // discount), so floor(x*1e4+0.5) recovers an exact integer unit
      // count from the double product IDENTICALLY on every engine; the
      // LONG sum is exact, and the single final units->double->/1e4
      // rounds once, the same way everywhere. Summing the raw double
      // product through DECIMAL instead diverges twice: per-row
      // double->decimal conversions disagree on boundary rows (~1e-8
      // each — invisible at sf0.1, ~1e-4 over a 12M-row group), and the
      // final decimal->double cast is 1-ulp implementation-dependent
      // (Java's single correctly-rounded conversion vs a two-step
      // int128*1e-8).
      Ops.cmap(cs => floor(cs(0) * (lit(1.0) - cs(1)) * 10000.0 + 0.5)
        .cast(LongType))("?ep", "?disc") :> "?rev_u",
      Ops.sum("?rev_u") :> "?units",
      Ops.count() :> "?n_items",
      Ops.cmap(cs => cs.head.cast(DoubleType) / 10000.0)("?units") :> "?revenue").toDF(s)

  /** Dimension join (broadcast-able): nations per region. */
  private def q04(s: SparkSession, d: String): DataFrame =
    query("?r_name", "?n_nations")(
      region(d)("?rk", "?r_name"),
      nation(d)("_", "_", "?rk"),
      Ops.count() :> "?n_nations").toDF(s)

  /** Left outer join via `!!` + !count: orders per customer incl. zero. */
  private def q05(s: SparkSession, d: String): DataFrame =
    query("?c_custkey", "?order_cnt")(
      customer(d)("?c_custkey", "_", "_", "_", "_"),
      orders(d)("!!ok", "?c_custkey", "_", "_", "_", "_"),
      Ops.countNotNull("!!ok") :> "?order_cnt").toDF(s)

  /** Existence semi-join. */
  private def q06(s: SparkSession, d: String): DataFrame =
    query("?c_custkey", "?c_name")(
      customer(d)("?c_custkey", "?c_name", "_", "_", "_"),
      dsl.exists(orders(d)("_", "?c_custkey", "_", "_", "_", "_"))).toDF(s)

  /** Negation anti-join (filter inside the generator-as-set: constants are
    * implicit equality filters): customers with no 'F'-status order. */
  private def q07(s: SparkSession, d: String): DataFrame =
    query("?c_custkey", "?c_name")(
      customer(d)("?c_custkey", "?c_name", "_", "_", "_"),
      absent(orders(d)("_", "?c_custkey", "F", "_", "_", "_"))).toDF(s)

  /** Existence boolean capture. */
  private def q08(s: SparkSession, d: String): DataFrame =
    query("?c_custkey", "?has_order")(
      customer(d)("?c_custkey", "_", "_", "_", "_"),
      existsAs(orders(d)("_", "?c_custkey", "_", "_", "_", "_"), "?has_order")).toDF(s)

  /** Unique node (:distinct). */
  private def q09(s: SparkSession, d: String): DataFrame =
    query("?mktsegment")(
      customer(d)("_", "_", "_", "_", "?mktsegment")).distinct.toDF(s)

  /** union (dedupe). */
  private def q10(s: SparkSession, d: String): DataFrame =
    query("?nationkey")(union(
      customer(d)("_", "_", "?nationkey", "_", "_"),
      source(tbl(d, "supplier"))("_", "_", "?nationkey", "_"))).toDF(s)

  /** combine (union-all). */
  private def q11(s: SparkSession, d: String): DataFrame =
    query("?nationkey")(combine(
      customer(d)("_", "_", "?nationkey", "_", "_"),
      source(tbl(d, "supplier"))("_", "_", "?nationkey", "_"))).toDF(s)

  /** first-n: global top-k with sort. */
  private def q12(s: SparkSession, d: String): DataFrame = {
    val all = query("?c_custkey", "?c_acctbal")(
      customer(d)("?c_custkey", "_", "_", "?c_acctbal", "_"))
    query("?c_custkey", "?c_acctbal")(
      firstN(all, 10, sort = Seq("?c_acctbal", "?c_custkey"), reverse = true)(
        "?c_custkey", "?c_acctbal")).toDF(s)
  }

  /** limit: per-group top-k with secondary sort. */
  private def q13(s: SparkSession, d: String): DataFrame =
    query("?o_custkey", "?top_orderkey", "?top_price")(
      orders(d)("?ok", "?o_custkey", "_", "?price", "_", "_"),
      Ops.limit(3)("?ok", "?price") :> ("?top_orderkey", "?top_price"))
      .sorted("?price", "?ok").reversed.toDF(s)

  /** exact distinct-count. */
  private def q14(s: SparkSession, d: String): DataFrame =
    query("?n_cust")(
      orders(d)("_", "?o_custkey", "_", "_", "_", "_"),
      Ops.distinctCount("?o_custkey") :> "?n_cust").toDF(s)

  /** Constant aggregator output = HAVING (api_test.clj:602-604). */
  private def q15(s: SparkSession, d: String): DataFrame =
    query("?o_custkey")(
      orders(d)("_", "?o_custkey", "_", "_", "_", "_"),
      Ops.count() :> 10L).toDF(s)

  /** Implicit equality via duplicate var. */
  private def q16(s: SparkSession, d: String): DataFrame =
    query("?l_orderkey", "?k")(
      lineitem(d)("?l_orderkey", "?k", "?k", "_", "_", "_", "_", "_", "_", "_", "_")).toDF(s)

  /** Wordcount: mapcat + count (api_test.clj:124-135). */
  private def q17(s: SparkSession, d: String): DataFrame =
    query("?word", "?cnt")(
      documents(d)("_", "?text", "_", "_", "_"),
      Ops.tokens("?text") :> "?word",
      Ops.count() :> "?cnt").toDF(s)

  /** Buffer over secondary-sorted group: first order date per customer.
    * `bufferSame` = output schema mirrors the input tuple (the parquet
    * timestamp arrives as TIMESTAMP_NTZ; pass-through keeps it intact). */
  private def q18(s: SparkSession, d: String): DataFrame = {
    val firstDate = Ops.bufferSame(1) { it =>
      if (it.hasNext) Iterator.single(Seq(it.next().head)) else Iterator.empty
    }
    query("?o_custkey", "?first_date")(
      orders(d)("_", "?o_custkey", "_", "_", "?od", "_"),
      firstDate("?od") :> "?first_date").sorted("?od").toDF(s)
  }

  /** Cross join. */
  private def q19(s: SparkSession, d: String): DataFrame =
    query("?r_name", "?n_name")(
      region(d)("_", "?r_name"),
      nation(d)("_", "?n_name", "_")).toDF(s)

  /** Global aggregation (no grouping fields). */
  private def q20(s: SparkSession, d: String): DataFrame =
    query("?cnt", "?sum_qty", "?max_ship")(
      lineitem(d)("_", "_", "_", "_", "?q", "_", "_", "_", "_", "_", "?ship"),
      Ops.count() :> "?cnt",
      Ops.sumDec()("?q") :> "?sum_qty",
      Ops.max("?ship") :> "?max_ship").toDF(s)

  /** Variance via hash-stable decimal moments + post-agg ops
    * (cascalog-math stats; ops over aggregator outputs). */
  private def q21(s: SparkSession, d: String): DataFrame =
    query("?c_mktsegment", "?var_bal")(
      customer(d)("_", "_", "_", "?bal", "?c_mktsegment"),
      // square IN DECIMAL: (18,4)² is exact integer arithmetic on every
      // engine. Squaring in double and casting the product to decimal is
      // engine-divergent — Spark rounds the product's EXACT binary
      // expansion, DuckDB rounds the lossy d*1e8 double — a per-row
      // last-digit skew that accumulates into visible output ulps at 10×
      // the driver's scale (the round-10 sf1 probe caught it).
      Ops.cmap(cs => cs.head.cast(DecimalType(18, 4)) *
        cs.head.cast(DecimalType(18, 4)))("?bal") :> "?bal2",
      Ops.count() :> "?n",
      Ops.sumDec(28, 8)("?bal2") :> "?sx2",
      Ops.sumDec()("?bal") :> "?sx",
      Ops.div("?sx2", "?n") :> "?a",
      Ops.div("?sx", "?n") :> "?m",
      Ops.times("?m", "?m") :> "?m2",
      Ops.minus("?a", "?m2") :> "?var_bal").toDF(s)

  /** Events rollup (the stream table, batch view). */
  private def q22(s: SparkSession, d: String): DataFrame =
    query("?event_type", "?cnt", "?sum_value")(
      events(d)("_", "_", "_", "?event_type", "?value", "_"),
      Ops.count() :> "?cnt",
      Ops.sumDec()("?value") :> "?sum_value").toDF(s)

  /** Bernoulli sample (nondeterministic across engines → rows-only). */
  private def q23(s: SparkSession, d: String): DataFrame =
    tbl(d, "lineitem")(s).sample(0.1, 42L).select("l_orderkey", "l_linenumber")

  /** Deterministic ~10% sample by md5 threshold — the reproducible,
    * engine-independent alternative to q23's RNG sampling (same rows on
    * any cluster, any partitioning, any engine — the oracle recomputes
    * the exact membership). */
  private def q39(s: SparkSession, d: String): DataFrame =
    tbl(d, "lineitem")(s)
      .filter(md5(concat_ws("_", col("l_orderkey"), col("l_linenumber"))) < lit("1a"))
      .select("l_orderkey", "l_linenumber")

  /** Subquery composition (api_test.clj:193-216): a filtered subquery used
    * as a generator in an outer join-aggregation. */
  private def q24(s: SparkSession, d: String): DataFrame = {
    val bigOrders = query("?ok", "?ck")(
      orders(d)("?ok", "?ck", "_", "?price", "_", "_"),
      Ops.gt("?price", 100000.0))
    query("?c_mktsegment", "?big_orders")(
      customer(d)("?ck", "_", "_", "_", "?c_mktsegment"),
      bigOrders("_", "?ck"),
      Ops.count() :> "?big_orders").toDF(s)
  }

  /** Predicate-macro expansion (logic/predmacro.clj): avg via
    * count+sum+div — hash-stable through the decimal sum. */
  private def q25(s: SparkSession, d: String): DataFrame = {
    val avgDecMacro: PredMacro = (in, out) => {
      val (c, sm) = (graft.logic.Vars.gen(), graft.logic.Vars.gen())
      Seq(Ops.count() :> c,
        Ops.sumDec()(in.head) :> sm,
        Ops.div(sm, c) :> out.head)
    }
    query("?c_mktsegment", "?avg_bal")(
      customer(d)("_", "_", "_", "?bal", "?c_mktsegment"),
      avgDecMacro("?bal") :> "?avg_bal").toDF(s)
  }

  /** intersect (beyond-reference set op): nation keys present in BOTH
    * customer and supplier. */
  private def q26(s: SparkSession, d: String): DataFrame =
    query("?nationkey")(dsl.intersect(
      customer(d)("_", "_", "?nationkey", "_", "_"),
      source(tbl(d, "supplier"))("_", "_", "?nationkey", "_"))).toDF(s)

  /** except: nations with a rich customer but no rich supplier (the
    * filters ride inside the generators via constant-free predicates). */
  private def q27(s: SparkSession, d: String): DataFrame = {
    val richCust = query("?nationkey")(
      customer(d)("_", "_", "?nationkey", "?bal", "_"), Ops.gt("?bal", 9000.0))
    val richSupp = query("?nationkey")(
      source(tbl(d, "supplier"))("_", "_", "?nationkey", "?bal"), Ops.gt("?bal", 9000.0))
    query("?nationkey")(dsl.except(
      richCust("?nationkey"), richSupp("?nationkey"))).toDF(s)
  }

  /** Analytic window function as a plain scalar op (SURVEY §2.7: Spark
    * windows come free — any `expr.over(window)` Column slots into the
    * predicate model): running revenue total per customer. */
  private def q28(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val runTotal = Ops.cmap(cs =>
      sum(cs(1).cast(DecimalType(18, 4)))
        .over(Window.partitionBy(cs(0)).orderBy(cs(2).asc, cs(3).asc)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .cast("double"))
    query("?o_custkey", "?o_orderkey", "?running_total")(
      orders(d)("?o_orderkey", "?o_custkey", "_", "?price", "?od", "_"),
      runTotal("?o_custkey", "?price", "?od", "?o_orderkey") :> "?running_total").toDF(s)
  }

  /** Full outer join via `!!` on both sides (api_test.clj:353-394) with
    * key coalescing: nations with rich customers vs rich suppliers —
    * either side may be missing. */
  private def q29(s: SparkSession, d: String): DataFrame = {
    val richCust = query("?nk", "?c_cnt")(
      customer(d)("_", "_", "?nk", "?bal", "_"), Ops.gt("?bal", 9000.0),
      Ops.count() :> "?c_cnt")
    val richSupp = query("?nk", "?s_cnt")(
      source(tbl(d, "supplier"))("_", "_", "?nk", "?bal"), Ops.gt("?bal", 9000.0),
      Ops.count() :> "?s_cnt")
    query("?nk", "!!c_cnt", "!!s_cnt")(
      richCust("?nk", "!!c_cnt"), richSupp("?nk", "!!s_cnt")).toDF(s)
  }

  /** Buffer over a secondary-sorted group emitting PAIRWISE deltas — the
    * reference's `(partition 2 1)` over a sorted group ≈ lag
    * (api_test.clj:453-468): per-customer order price change between
    * consecutive orders by date. */
  private def q30(s: SparkSession, d: String): DataFrame = {
    val lagDiff = Ops.bufferFn(2, Seq(LongType, DoubleType)) { it =>
      var prev: java.lang.Double = null
      it.map { row =>
        val price = row(1).asInstanceOf[Double]
        val delta: java.lang.Double =
          if (prev == null) null else Double.box(price - prev)
        prev = price
        Seq(row(0), delta)
      }
    }
    // "!delta": first row of each group has no predecessor → null delta;
    // a `?` var would null-filter those rows away (vars.clj:92-101 parity)
    query("?o_custkey", "?ok2", "!delta")(
      orders(d)("?ok", "?o_custkey", "_", "?price", "?od", "_"),
      lagDiff("?ok", "?price") :> ("?ok2", "!delta")).sorted("?od", "?ok").toDF(s)
  }

  /** multigroup (operations.clj:550-569): one multibuffer over N cogrouped
    * inputs — per-nation customer and supplier group sizes in one pass. */
  private def q31(s: SparkSession, d: String): DataFrame = {
    val cust = tbl(d, "customer")(s)
      .select(col("c_nationkey").as("nationkey"), col("c_custkey"))
    val supp = tbl(d, "supplier")(s)
      .select(col("s_nationkey").as("nationkey"), col("s_suppkey"))
    graft.operators.MultiGroup.multigroup(
      Seq(cust, supp), Seq("nationkey"),
      Seq("n_cust", "n_supp"), Seq(LongType, LongType)) { (_, groups) =>
      Iterator.single(Seq(groups(0).size.toLong, groups(1).size.toLong))
    }
  }

  /** Eager aggregation via subquery composition: lineitem partially
    * aggregated per orderkey BEFORE the joins, then re-aggregated per
    * segment — 4× less join input at scale. An automatic rewrite would be
    * unsound without key-uniqueness metadata (duplicate dim rows would
    * multiply partial sums), but the DSL expresses it exactly; decimal
    * partial sums re-sum associatively so results match q03 bit-for-bit. */
  private def q32(s: SparkSession, d: String): DataFrame = {
    val perOrder = query("?ok", "?part_units", "?part_cnt")(
      lineitem(d)("?ok", "_", "_", "_", "_", "?ep", "?disc", "_", "_", "_", "_"),
      // same exact-integer-units quantization as q03 (see the comment
      // there); the per-order partials stay LONG so the re-aggregation
      // is exact too
      Ops.cmap(cs => floor(cs(0) * (lit(1.0) - cs(1)) * 10000.0 + 0.5)
        .cast(LongType))("?ep", "?disc") :> "?rev_u",
      Ops.sum("?rev_u") :> "?part_units",
      Ops.count() :> "?part_cnt")
    query("?c_mktsegment", "?revenue", "?n_items")(
      customer(d)("?ck", "_", "_", "_", "?c_mktsegment"),
      orders(d)("?ok", "?ck", "_", "_", "_", "_"),
      perOrder("?ok", "?part_units", "?part_cnt"),
      Ops.sum("?part_units") :> "?units",
      Ops.sum("?part_cnt") :> "?n_items",
      Ops.cmap(cs => cs.head.cast(DoubleType) / 10000.0)("?units") :> "?revenue").toDF(s)
  }

  /** Beyond-reference: hierarchical rollup aggregation (Spark-native
    * grouping sets — the reference has no analog; free via Catalyst). */
  private def q33(s: SparkSession, d: String): DataFrame =
    tbl(d, "lineitem")(s)
      .rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(sum(col("l_quantity").cast(DecimalType(18, 4))).cast("double").as("sum_qty"),
        count(lit(1)).as("cnt"))

  /** Moving RANGE-frame window (§2.7 surface): per event, how many of the
    * same user's events landed in the preceding 10 minutes (inclusive),
    * and when that window started. RANGE frames include all peers of an
    * equal timestamp, so the result is tie-order-independent. */
  private def q42(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ev = tbl(d, "events")(s)
    val w = Window.partitionBy("user_id").orderBy(col("us"))
      .rangeBetween(-600000000L, 0L)
    ev.select(col("event_id"), col("user_id"), tsUs(ev).as("us"))
      .withColumn("n_win", count(lit(1)).over(w))
      .withColumn("win_start", min(col("us")).over(w))
  }

  /** CUBE with grouping markers (beyond q33's rollup): all four
    * aggregation levels in one pass, grouping_id disambiguating
    * cube-nulls — the standard-SQL bit encoding both engines share. */
  private def q43(s: SparkSession, d: String): DataFrame =
    tbl(d, "lineitem")(s)
      .cube(col("l_returnflag"), col("l_linestatus"))
      .agg(grouping_id().cast("long").as("gid"),
        sum(col("l_quantity").cast(DecimalType(18, 4))).cast("double").as("sum_qty"),
        count(lit(1)).as("cnt"))

  /** The Java API end-to-end inside the correctness gate: the same
    * engine driven through `japi.JApi`'s builder (jcascalog parity,
    * round 9) — generator + filter + grouped count/max with a DISTINCT
    * no-op surface. Hash-exact ops only (count, max), so the oracle is
    * ordinary SQL. */
  private def q44(s: SparkSession, d: String): DataFrame = {
    import java.util.{Arrays => JA}
    graft.japi.JApi.run(s,
      graft.japi.JApi.subquery(JA.asList("?seg", "?n_cust", "?max_bal"))
        .generator(tbl(d, "customer")(s), JA.asList("_", "_", "_", "?bal", "?seg"))
        .op(graft.japi.JApi.gt(), JA.asList[Object]("?bal", Double.box(0.0)))
        .op(graft.japi.JApi.count(), JA.asList[Object](), JA.asList("?n_cust"))
        .op(graft.japi.JApi.max(), JA.asList[Object]("?bal"), JA.asList("?max_bal"))
        .build())
  }

  /** Ordered funnel over events ([[graft.operators.Funnel]]): earliest
    * view → click → purchase per user with a 7-day conversion window
    * anchored at the view — min-cascade (one filtered aggregate per
    * step), no whole-table window. Timestamps ride as epoch-us longs
    * (the events-suite convention). */
  private def q45(s: SparkSession, d: String): DataFrame = {
    val ev = tbl(d, "events")(s)
    graft.operators.Funnel.funnel(
      ev.select(col("user_id"), tsUs(ev).as("us"), col("event_type")),
      Seq("view", "click", "purchase"), tsCol = "us",
      maxSpan = Some(lit(604800000000L)))
  }

  /** Weekly cohort retention over events ([[Funnel.retention]]):
    * users cohorted by first-event week, cells count users active
    * `offset` weeks later. Dedupe-first shape — the event stream
    * collapses to (user, week) pairs map-side before any join. */
  private def q46(s: SparkSession, d: String): DataFrame = {
    val ev = tbl(d, "events")(s)
    graft.operators.Funnel.retention(
      ev.select(col("user_id"), tsUs(ev).as("us")),
      bucket = 604800000000L, tsCol = "us")
  }

  // ----------------------------------------------------- pipeline queries

  private def p01(s: SparkSession, d: String): DataFrame =
    Dedup.exact(tbl(d, "documents")(s))

  private def p02(s: SparkSession, d: String): DataFrame =
    tbl(d, "documents")(s).select(col("doc_id"),
      size(regexp_extract_all(col("text"), lit("\\S+"), lit(0)))
        .cast("long").as("token_count"))

  private def p03(s: SparkSession, d: String): DataFrame =
    tbl(d, "documents")(s).select(col("doc_id"),
      (length(col("text")).cast("double") /
        greatest(size(regexp_extract_all(col("text"), lit("\\S+"), lit(0)))
          .cast("long"), lit(1L))).as("chars_per_token"))

  private def p04(s: SparkSession, d: String): DataFrame =
    tbl(d, "documents")(s).select(col("doc_id"),
      size(array_intersect(
        array_distinct(regexp_extract_all(lower(col("text")), lit("[a-z]+"), lit(0))),
        array(Seq("the", "and", "of", "to", "in", "is", "that", "it", "for", "was")
          .map(lit): _*))).cast("long").as("en_hits"))

  private def p05(s: SparkSession, d: String): DataFrame =
    tbl(d, "documents")(s).select(col("doc_id"),
      TextAnalysis.fingerprint(col("text")).as("fingerprint"),
      TextAnalysis.langId(col("text")).as("lang_pred"))

  private def p06(s: SparkSession, d: String): DataFrame =
    Dedup.minhashCandidates(tbl(d, "documents")(s), k = 64, bands = 16)

  private def p07(s: SparkSession, d: String): DataFrame =
    tbl(d, "documents")(s).select(col("doc_id"),
      Dedup.simhash(col("text")).as("simhash"))

  private def p08(s: SparkSession, d: String): DataFrame = {
    val emb = tbl(d, "embeddings")(s)
    Similarity.bruteForceKnn(emb,
      emb.filter(col("vec_id") < 8).select(col("vec_id").as("probe_id"), col("embedding")),
      k = 10)
  }

  private def p09(s: SparkSession, d: String): DataFrame = {
    val emb = tbl(d, "embeddings")(s)
    Similarity.lshKnn(emb,
      emb.filter(col("vec_id") < 8).select(col("vec_id").as("probe_id"), col("embedding")),
      k = 10, planes = 4)
  }

  /** IVF knn at FULL nProbe (= cells): the k-means codebook routes every
    * probe through all 16 cells, so the candidate set is the whole corpus
    * and the result must equal exact brute force — which the DuckDB oracle
    * recomputes independently. This pins the routing join, scoring, and
    * rank plumbing to an external engine; the approximate regime
    * (nProbe < cells) is covered by the recall/determinism/self-match
    * spec (PipelineSpec "ivf knn"). */
  private def p34(s: SparkSession, d: String): DataFrame = {
    val emb = tbl(d, "embeddings")(s)
    Similarity.ivfKnn(emb,
      emb.filter(col("vec_id") < 6).select(col("vec_id").as("probe_id"), col("embedding")),
      k = 8, cells = 16, nProbe = 16)
  }

  private def p10(s: SparkSession, d: String): DataFrame =
    Dedup.simhashCandidates(tbl(d, "documents")(s), maxHamming = 10)

  /** End-to-end near-dup dedup: candidates → verify → components → one
    * representative per cluster (rows-only: survivor set). */
  private def p11(s: SparkSession, d: String): DataFrame =
    Dedup.nearDupDedup(tbl(d, "documents")(s), threshold = 0.6)
      .select("doc_id", "lang", "source")

  /** Quality-score suite flattened (C4/Gopher-style heuristics). */
  private def p12(s: SparkSession, d: String): DataFrame =
    tbl(d, "documents")(s)
      .select(col("doc_id"), TextAnalysis.qualityScore(col("text")).as("q"))
      .select(col("doc_id"),
        col("q.n_chars").cast("long").as("n_chars"),
        col("q.n_tokens").cast("long").as("n_tokens"),
        col("q.punct_ratio"), col("q.stopword_ratio"),
        col("q.mean_word_len"), col("q.upper_ratio"))

  /** n-gram Jaccard verification of minhash candidates (the verify stage
    * of the dedup pipeline as its own operator). */
  private def p13(s: SparkSession, d: String): DataFrame = {
    val docs = tbl(d, "documents")(s)
    Dedup.jaccardVerify(Dedup.minhashCandidates(docs, k = 64, bands = 16),
      docs, threshold = 0.5)
  }

  /** Per-source document-length quartiles — the distribution statistics a
    * quality-filtering pass thresholds on (exact linear-interpolation
    * percentiles; approx_percentile is the sketch variant at scale). */
  private def p14(s: SparkSession, d: String): DataFrame =
    tbl(d, "documents")(s)
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        percentile(col("n_chars"), lit(0.25)).as("len_q25"),
        percentile(col("n_chars"), lit(0.5)).as("len_q50"),
        percentile(col("n_chars"), lit(0.75)).as("len_q75"))

  /** Batch sessionization (the streaming sessionizer's batch twin):
    * gap-based session assignment via lag + running sum, then per-session
    * rollup — all window functions, no state store needed in batch. */
  private def q34(s: SparkSession, d: String): DataFrame = {
    val ev = tbl(d, "events")(s)
    graft.operators.Sessionize.sessions(
      ev.select(col("user_id"), col("event_id"), tsUs(ev).as("us")),
      "user_id", "us", gap = 1800000000L, tieBreak = Seq(col("event_id")))
  }

  /** End-to-end curation: quality gate → language gate → near-dup dedup,
    * the full training-data pipeline as one query (every stage
    * oracle-replicable — see pipeline.Curate). */
  private def p15(s: SparkSession, d: String): DataFrame =
    graft.pipeline.Curate.curate(tbl(d, "documents")(s))

  /** Hot-bucket guard exercised: minhash candidates with an adversarially
    * small bucket cap (2), so oversize LSH buckets emit linear star edges
    * to the bucket-min doc instead of the quadratic self-join. The oracle
    * replicates both branches. */
  private def p16(s: SparkSession, d: String): DataFrame =
    Dedup.minhashCandidates(tbl(d, "documents")(s), k = 64, bands = 16,
      maxBucketSize = 2)

  /** p11's end-to-end dedup via the large-star/small-star components
    * (O(log d) contraction) over the same verified pairs, then the same
    * consolidation tail — must match the same recursive-CTE oracle as
    * min-label propagation bit-for-bit. */
  private def p17(s: SparkSession, d: String): DataFrame = {
    val docs = tbl(d, "documents")(s)
    val verified = Dedup.jaccardVerify(Dedup.minhashCandidates(docs), docs,
      threshold = 0.6)
    Dedup.survivorsOf(docs, "doc_id",
        Dedup.componentsStar(verified.select("id_a", "id_b")))
      .select("doc_id", "lang", "source")
  }

  /** Benchmark-contamination: corpus docs sharing any word 8-gram with
    * the probe set (docs 0-19 standing in for an eval benchmark) —
    * distinct hit-grams and touched probe docs per contaminated doc.
    * n=4 so the synthetic vocabulary actually collides (36 docs at
    * sf0.01). */
  private def p18(s: SparkSession, d: String): DataFrame = {
    val docs = tbl(d, "documents")(s)
    TextAnalysis.contamination(
      docs.filter(col("doc_id") >= 20),
      docs.filter(col("doc_id") < 20), n = 4)
  }

  /** PII scrubbing: deterministic synthetic PII (email/IP/phone built
    * from doc_id and source) appended, then redacted + counted — the
    * scrubbed text itself is hash-compared against the oracle. */
  private def p19(s: SparkSession, d: String): DataFrame = {
    val t2 = concat(col("text"),
      lit(" contact bot"), (col("doc_id") % 100).cast("string"),
      lit("@"), col("source"), lit(".org ip 10.0."),
      (col("doc_id") % 256).cast("string"), lit(".7 call 555-123-4567"))
    tbl(d, "documents")(s)
      .select(col("doc_id"), TextAnalysis.piiScrub(t2).as("p"))
      .select(col("doc_id"),
        col("p.n_emails").cast("long").as("n_emails"),
        col("p.n_ips").cast("long").as("n_ips"),
        col("p.n_phones").cast("long").as("n_phones"),
        col("p.scrubbed").as("scrubbed"))
  }

  /** Deterministic mixture sampling: per-source quotas selected in
    * md5(doc_id) order — reproducible sampling without RNG state. */
  private def p21(s: SparkSession, d: String): DataFrame =
    TextAnalysis.mixtureSample(tbl(d, "documents")(s),
      quotas = Map("src1" -> 10, "src2" -> 5, "src3" -> 40))
      .select("doc_id", "source", "lang")

  /** Token-budget sequence packing: greedy per-source bin assignment by
    * cumulative token count (budget 256). */
  private def p22(s: SparkSession, d: String): DataFrame =
    TextAnalysis.packTokens(tbl(d, "documents")(s), budget = 256L)

  /** Heavy hitters over corpus tokens: Misra-Gries candidates (one
    * bounded partial agg) + exact count of candidates only — the result
    * is exactly {token : count > n/k}, independently recomputable. */
  private def p23(s: SparkSession, d: String): DataFrame = {
    val toks = tbl(d, "documents")(s)
      .select(explode(split(col("text"), "\\s+")).as("tok"))
      .filter(length(col("tok")) > 0)
    graft.operators.FrequentItems.heavyHitters(toks, "tok", k = 64)
  }

  /** Gopher-style repetition metrics over word bigrams (duplicate and
    * dominant-bigram fractions quality filters threshold on). */
  private def p20(s: SparkSession, d: String): DataFrame =
    tbl(d, "documents")(s)
      .select(col("doc_id"), TextAnalysis.repetitionStats(col("text")).as("r"))
      .filter(col("r.n_2grams").isNotNull)
      .select(col("doc_id"), col("r.n_2grams").as("n_2grams"),
        col("r.n_distinct_2grams").as("n_distinct_2grams"),
        col("r.top_2gram_count").as("top_2gram_count"),
        col("r.dup_2gram_frac").as("dup_2gram_frac"),
        col("r.top_2gram_frac").as("top_2gram_frac"))

  /** Duplicate-span statistics (substring-level dedup signals): per doc,
    * the 6-gram starts duplicated anywhere in the corpus and the fraction
    * of token positions covered by a duplicated span. */
  private def p24(s: SparkSession, d: String): DataFrame =
    Dedup.duplicateSpanStats(tbl(d, "documents")(s), n = 6)

  /** KMV distinct sketch vs exact: per return flag, the k-minimum-values
    * estimate next to the exact distinct order count — the mergeable,
    * oracle-exact alternative to HLL approx_count_distinct. */
  private def p25(s: SparkSession, d: String): DataFrame = {
    import graft.operators.Sketches
    val k = 128
    tbl(d, "lineitem")(s)
      .select(col("l_returnflag"),
        Sketches.md5Hash61(col("l_orderkey").cast("string")).as("_h"),
        col("l_orderkey"))
      .groupBy("l_returnflag")
      .agg(Sketches.kmv(col("_h"), k).as("_sk"),
        count_distinct(col("l_orderkey")).as("exact_distinct"))
      .select(col("l_returnflag"), col("exact_distinct"),
        size(col("_sk")).cast("long").as("kmv_size"),
        Sketches.kmvEstimate(col("_sk"), k).as("kmv_estimate"))
  }

  /** URL canonicalization + dedup: synthetic messy URLs (host case,
    * default port, tracking params, fragment — built from doc_id/source
    * like p19's PII) canonicalized, then one keeper per canonical URL
    * with dup counts and the registrable domain. */
  private def p26(s: SparkSession, d: String): DataFrame = {
    val url = concat(lit("HTTPS://WWW."), col("source"), lit(".Example.ORG:443/Docs/"),
      (col("doc_id") % 100).cast("string"), lit("/?utm_source=feed&id="),
      (col("doc_id") % 6).cast("string"), lit("&utm_campaign=x#s"),
      (col("doc_id") % 3).cast("string"))
    tbl(d, "documents")(s)
      .select(col("doc_id"), TextAnalysis.canonicalizeUrl(url).as("canonical_url"))
      .withColumn("domain", TextAnalysis.urlDomain(col("canonical_url")))
      .groupBy("canonical_url", "domain")
      .agg(min("doc_id").as("keep_id"), count(lit(1)).as("n_dups"))
  }

  /** Incremental near-dup candidates: docs with doc_id % 5 == 0 arrive as
    * the delta batch against the rest as corpus — only delta-touching
    * pairs are generated (the daily-crawl path; corpus×corpus is never
    * re-paired). */
  private def p27(s: SparkSession, d: String): DataFrame = {
    val docs = tbl(d, "documents")(s)
    Dedup.incrementalCandidates(
      docs.filter(col("doc_id") % 5 =!= 0),
      docs.filter(col("doc_id") % 5 === 0),
      k = 64, bands = 16)
  }

  /** Embedding-cosine near-dup: hyperplane-bucketed candidates, exact
    * cosine verified within buckets — the md5-exact planes make even this
    * oracle-checkable, completing the dedup family's oracle coverage. */
  private def p28(s: SparkSession, d: String): DataFrame =
    Dedup.embeddingNearDup(tbl(d, "embeddings")(s), planes = 6, threshold = 0.2)

  /** Rare-token ratio: fraction of each doc's tokens with corpus frequency
    * below 100 — the OOV/garbage quality signal. */
  private def p29(s: SparkSession, d: String): DataFrame =
    TextAnalysis.rareTokenRatio(tbl(d, "documents")(s), minFreq = 100L)

  /** End-to-end embedding dedup (p28's verified pairs → connected
    * components → min-id survivors), the embedding face of p11 — oracle
    * replicates pairs + recursive-CTE components + survivor selection. */
  private def p35(s: SparkSession, d: String): DataFrame =
    Dedup.embeddingDedup(tbl(d, "embeddings")(s), planes = 6, threshold = 0.2)
      .select("vec_id")

  /** SemDeDup-style semantic dedup: IVF-cell clustering → within-cell
    * cosine pairs → components → min-id survivors. The codebook here is
    * the SEED codebook (iters = 0: centroids are the 8 lowest-id
    * vectors) so the DuckDB oracle can replicate the cell-assignment
    * argmin bit-for-bit; the trained-codebook path (Lloyd iterations)
    * is covered by PipelineSpec, where duplicates collapse identically
    * under any codebook since identical vectors share a cell. */
  private def p36(s: SparkSession, d: String): DataFrame = {
    val emb = tbl(d, "embeddings")(s)
    val centroids = Similarity.kmeansCentroids(emb, cells = 8, iters = 0)
    Dedup.semanticDedup(emb, centroids, threshold = 0.2).select("vec_id")
  }

  /** Incremental SemDeDup pairs: vectors ≥400 arrive as the delta against
    * a persisted index of the first 400 — delta×corpus and delta×delta
    * pairs only, corpus×corpus never generated, with the per-cell stats
    * rollup standing in for the corpus aggregation. Seed codebook
    * (iters = 0) for the same oracle-replicability as p36. */
  private def p37(s: SparkSession, d: String): DataFrame = {
    val emb = tbl(d, "embeddings")(s).select(col("vec_id"), col("embedding"))
    val corpus = emb.filter(col("vec_id") < 400)
    val delta = emb.filter(col("vec_id") >= 400)
    val cb = Similarity.kmeansCentroids(corpus, cells = 8, iters = 0)
    val index = Similarity.ivfIndex(corpus, cb)
    Dedup.incrementalSemanticPairs(index, delta, cb, threshold = 0.2,
      corpusCellStats = Some(Dedup.semanticCellStats(index)))
  }

  /** Product-quantization ADC knn: the byte-code compression tier of the
    * ANN stack. Seed codebooks (iters = 0, like p36/p37) so the DuckDB
    * oracle replicates subspace assignment, the per-probe distance
    * tables, the ascending-subspace ADC fold, and the rank window —
    * bit-for-bit. The trained path and the zero-quantization-error
    * exactness guarantee are spec-covered. */
  private def p38(s: SparkSession, d: String): DataFrame = {
    val emb = tbl(d, "embeddings")(s).select(col("vec_id"), col("embedding"))
    val books = Similarity.pqTrain(emb, m = 8, codes = 8, iters = 0)
    val probes = emb.filter(col("vec_id") < 4)
      .select(col("vec_id").as("probe_id"), col("embedding"))
    Similarity.pqKnn(Similarity.pqIndex(emb, books), books, probes, k = 8)
  }

  /** IVFADC knn: coarse IVF routing (nProbe = 2 of 8 cells) + ADC over
    * PQ codes of the RESIDUAL — the full Jégou composition and the
    * billion-vector index shape. Seed centroids AND seed residual
    * codebooks (iters = 0, like p36/p38) make every stage — cell argmin,
    * residual subtraction, per-(probe, cell) distance tables, the
    * ascending-subspace fold, the rank window — DuckDB-replicable
    * bit-for-bit. Centroids seed from vec_id ≥ 100 so they are DISJOINT
    * from the book-seed rows (vec_id < 8): seeding both from the same
    * rows would make every book seed a zero residual and the ADC
    * degenerate. The trained path is spec-covered. */
  private def p39(s: SparkSession, d: String): DataFrame = {
    val emb = tbl(d, "embeddings")(s).select(col("vec_id"), col("embedding"))
    val cb = Similarity.kmeansCentroids(
      emb.filter(col("vec_id") >= 100), cells = 8, iters = 0)
    val books = Similarity.ivfPqTrain(emb, cb, m = 8, codes = 8, iters = 0)
    val probes = emb.filter(col("vec_id") < 4)
      .select(col("vec_id").as("probe_id"), col("embedding"))
    Similarity.ivfPqKnn(Similarity.ivfPqIndex(emb, cb, books), cb, books,
      probes, k = 8, nProbe = 2)
  }

  /** ANN recall@10: LSH knn (p09's exact config) scored against
    * brute-force ground truth (p08's) through [[Similarity.recallAtK]] —
    * the index-tuning evaluation job, per-probe hits / truth_k / recall.
    * Both knn legs and the truth-driven left-join recall aggregation are
    * replicated independently by the DuckDB oracle. */
  private def p40(s: SparkSession, d: String): DataFrame = {
    val emb = tbl(d, "embeddings")(s)
    val probes = emb.filter(col("vec_id") < 8)
      .select(col("vec_id").as("probe_id"), col("embedding"))
    Similarity.recallAtK(
      Similarity.lshKnn(emb, probes, k = 10, planes = 4),
      Similarity.bruteForceKnn(emb, probes, k = 10), k = 10)
  }

  /** SQ8 scalar-quantized knn: per-dim (min, max) trained on the corpus,
    * int8 codes (4× compression), asymmetric L2² against bin midpoints —
    * training extrema, encoding, dequantization, the ascending-dim fold,
    * and the rank window all exact double arithmetic the DuckDB oracle
    * replicates bit-for-bit. */
  private def p41(s: SparkSession, d: String): DataFrame = {
    val emb = tbl(d, "embeddings")(s).select(col("vec_id"), col("embedding"))
    val (mins, maxs) = Similarity.sqTrain(emb)
    val probes = emb.filter(col("vec_id") < 4)
      .select(col("vec_id").as("probe_id"), col("embedding"))
    Similarity.sqKnn(Similarity.sqIndex(emb, mins, maxs), mins, maxs,
      probes, k = 8)
  }

  /** IVFADC + exact re-rank (Jégou et al. 2011 §V, the IVFADC+R
    * refinement): p39's exact setup shortlists r=16 candidates per probe
    * by ADC distance, then only those pairs re-score exactly against the
    * raw vectors and the final top-8 ranks on exact L2². Seed centroids
    * and seed residual codebooks (iters = 0) as in p39, so the DuckDB
    * oracle replicates every stage — including the exact-distance fold
    * and both rank windows — bit-for-bit. */
  private def p42(s: SparkSession, d: String): DataFrame = {
    val emb = tbl(d, "embeddings")(s).select(col("vec_id"), col("embedding"))
    val cb = Similarity.kmeansCentroids(
      emb.filter(col("vec_id") >= 100), cells = 8, iters = 0)
    val books = Similarity.ivfPqTrain(emb, cb, m = 8, codes = 8, iters = 0)
    val probes = emb.filter(col("vec_id") < 4)
      .select(col("vec_id").as("probe_id"), col("embedding"))
    Similarity.ivfPqKnnRefine(Similarity.ivfPqIndex(emb, cb, books), cb, books,
      emb, probes, k = 8, r = 16, nProbe = 2)
  }

  /** Classifier-based quality gate ([[TextAnalysis.classifierScore]]):
    * a fixed externally-trained linear model over the p12 feature set,
    * logit + keep decision per doc. The logit is a fixed-order fold of
    * exact double arithmetic and the keep flag an exact compare, both
    * DuckDB-replicable bit-for-bit; the sigmoid lives outside the
    * hash-checked surface (libm ulps). */
  private def p43(s: SparkSession, d: String): DataFrame = {
    val w = Array(0.001, 0.01, -8.0, 6.0, 0.2, -4.0)
    tbl(d, "documents")(s)
      .withColumn("_c", TextAnalysis.classifierScore(col("text"), w, bias = -2.0))
      .select(col("doc_id"), col("_c.logit").as("logit"), col("_c.keep").as("keep"))
  }

  /** Bigram-LM fluency gate ([[TextAnalysis.lmGate]]): add-1 bigram LM
    * trained on the corpus scores every doc's mean bigram probability —
    * the CCNet-perplexity-filter role in hash-exact arithmetic (per-
    * bigram probabilities floored to 1e-9 quanta so the per-doc
    * aggregate is an exact integer sum; see the lmScore scaladoc for
    * why Σ log p is deliberately NOT the checked surface). */
  private def p44(s: SparkSession, d: String): DataFrame =
    TextAnalysis.lmGate(tbl(d, "documents")(s))

  /** Deterministic shuffle-to-shards ([[TextAnalysis.shuffleShards]]):
    * md5 shard assignment + md5-hex within-shard positions, every value
    * a pure function of (seed, doc_id) — the oracle reproduces the full
    * (shard, pos) layout, proving the "reshuffle reproducibly on any
    * engine" contract. */
  private def p45(s: SparkSession, d: String): DataFrame =
    TextAnalysis.shuffleShards(tbl(d, "documents")(s), shards = 8, seed = "g7")
      .select(col("doc_id"), col("shard"), col("pos"))

  /** DSIR-style importance resampling ([[TextAnalysis.importanceSample]]):
    * keep-probability = the doc's stopword ratio (the p12 quality
    * feature standing in for an importance weight) — acceptance is an
    * exact md5-threshold compare the oracle replicates decision-for-
    * decision. */
  private def p46(s: SparkSession, d: String): DataFrame = {
    val docs = tbl(d, "documents")(s)
      .withColumn("weight",
        TextAnalysis.qualityScore(col("text")).getField("stopword_ratio"))
    TextAnalysis.importanceSample(docs, col("weight"), seed = "g7")
      .select(col("doc_id"), col("weight"))
  }

  /** BPE encoding with a pinned merge list ([[Bpe.encode]]): the
    * "tokenize the corpus with the trained tokenizer" pass. The oracle
    * replays the identical merge sequence in SQL (recursive CTE over
    * merge rank, `list_reduce` left-to-right fold within each pass) —
    * an independent implementation of the Sennrich encode, compared on
    * the FULL token string per doc. Training itself is argmax-iterative
    * (BpeSpec pins it on hand-derived corpora); the pinned list keeps
    * the oracle sf-independent. */
  private val P47Merges = Seq("t" -> "h", "th" -> "e", "i" -> "n",
    "a" -> "n", "e" -> "r", "o" -> "n", "r" -> "e", "an" -> "d")
  private def p47(s: SparkSession, d: String): DataFrame =
    tbl(d, "documents")(s)
      .select(col("doc_id"), Bpe.encode(P47Merges, col("text")).as("_t"))
      .filter(size(col("_t")) > 0)
      .select(col("doc_id"), size(col("_t")).cast("long").as("n_bpe"),
        concat_ws(" ", col("_t")).as("enc"))

  /** Modern curation stack end-to-end ([[Curate.curateModern]]):
    * classifier gate → LM-fluency gate (LM trained on the gate's OWN
    * survivors) → exact dedup → shuffle-to-shards. The oracle chains
    * the p43/p44/p01/p45 replicas over the same survivor sets, so the
    * full composition — who survives and where each doc lands in the
    * training order — hash-checks end-to-end. */
  private def p48(s: SparkSession, d: String): DataFrame =
    graft.pipeline.Curate.curateModern(tbl(d, "documents")(s),
      clfWeights = Array(0.001, 0.01, -8.0, 6.0, 0.2, -4.0), clfBias = -2.0,
      lmThreshold = 0.02, shards = 4, seed = "g7")

  /** Interpolated Kneser-Ney fluency scoring ([[TextAnalysis.knGate]]):
    * the stronger standard LM filter — discount arithmetic is RATIONAL
    * (d = 0.75, continuation probabilities are type-count ratios), so
    * unlike log-space perplexity the whole smoothing formula
    * hash-checks under the same 1e-9 quantization as p44. */
  private def p49(s: SparkSession, d: String): DataFrame =
    TextAnalysis.knGate(tbl(d, "documents")(s))

  /** BPE id-encoding ([[Bpe.encodeIds]]): the pinned p47 merges, a
    * deterministic lexicographic-rank vocabulary, and the corpus
    * tokenized to id sequences — the format a training run consumes.
    * The oracle rebuilds the vocabulary and the full id sequence per
    * doc on top of the p47 encode replay. */
  private def p50(s: SparkSession, d: String): DataFrame = {
    val docs = tbl(d, "documents")(s)
    val vocab = Bpe.vocabulary(P47Merges, docs)
    Bpe.encodeIds(P47Merges, vocab, docs)
  }

  /** Boilerplate-hub centrality ([[graft.pipeline.Graph.similarityRank]]):
    * integer-exact PageRank over the symmetrized p06 MinHash candidate
    * graph — dense template/near-dup families accumulate rank. Five
    * iterations, every one an exact integer fold the oracle unrolls
    * CTE-for-CTE (the SQL is generated by the same iteration loop). */
  private def p51(s: SparkSession, d: String): DataFrame =
    graft.pipeline.Graph.similarityRank(tbl(d, "documents")(s), iters = 5)

  /** Trigram-KN fluency ([[TextAnalysis.knGate3]]): the top of the LM
    * ladder (add-1 bigram → bigram KN → trigram KN over a bigram-KN
    * backoff). Self-trained, so every trigram/bigram is seen and the
    * oracle's inner-join seen-branch replica is total. */
  private def p52(s: SparkSession, d: String): DataFrame =
    TextAnalysis.knGate3(tbl(d, "documents")(s))

  /** Line-level boilerplate dedup ([[Dedup.dedupLines]]): docs get line
    * structure from the chunking operator (aligned 10-token chunks as
    * lines — the corpus has no newlines of its own), then any line
    * recurring in >= 2 distinct docs — the aligned spans near-dup
    * families share — is removed everywhere and the text rebuilt. */
  private def p53(s: SparkSession, d: String): DataFrame = {
    val chunked = TextAnalysis.chunkTokens(tbl(d, "documents")(s),
      size = 10, overlap = 0, minTokens = 1)
    val lined = chunked.groupBy("doc_id").agg(
      array_join(
        transform(
          array_sort(collect_list(struct(col("chunk_idx").as("i"),
            col("chunk_text").as("t")))),
          x => x.getField("t")),
        "\n").as("text"))
    Dedup.dedupLines(lined, minDocs = 2)
  }

  /** Triangle census of the near-dup candidate graph
    * ([[Graph.similarityTriangles]]): degree-ordered orientation counts
    * each triangle exactly once; the clustering coefficient separates
    * genuine duplicate families (closed neighborhoods) from collision
    * hubs. */
  private def p54(s: SparkSession, d: String): DataFrame =
    graft.pipeline.Graph.similarityTriangles(tbl(d, "documents")(s))

  /** Template-family communities ([[Graph.similarityCommunities]]):
    * deterministic synchronous label propagation on the candidate
    * graph — majority vote with min-label ties, four unrollable
    * rounds. */
  private def p55(s: SparkSession, d: String): DataFrame =
    graft.pipeline.Graph.similarityCommunities(tbl(d, "documents")(s))

  /** Persisted candidate-graph tap ([[Dedup.writeCandidates]] /
    * [[Dedup.candidatesTap]]): the MinHash edge table is written once
    * and LPA runs off the tap — the ingest-once pattern that lets
    * rank/triangles/communities share ONE pairing pass instead of each
    * regenerating the corpus-dominant MinHash edges (p51/p54/p55's
    * shared cost). Output is contractually identical to p55 (same pair
    * table, same iteration), so the same oracle checks both — the
    * round-trip through parquet is what's under test. */
  private def p72(s: SparkSession, d: String): DataFrame = {
    val docs = tbl(d, "documents")(s)
    // pid-scoped scratch dir (concurrent gate/bench processes over the
    // same dataset never race one process's overwrite against another's
    // read), deleted at JVM exit — the read side of the tap lives until
    // the driver finishes the query, so deletion cannot happen earlier
    val path = scratchDir("p72_tap", d)
    Dedup.writeCandidates(docs, path)
    graft.pipeline.Graph.communitiesFromPairs(
        Dedup.candidatesTap(s, path), docs.select(col("doc_id").as("id")))
      .withColumnRenamed("id", "doc_id")
  }

  /** Per-source token-length percentiles ([[TextAnalysis.groupPercentiles]]):
    * exact nearest-rank selection off the histogram — threshold
    * calibration without sorting the corpus. */
  private def p56(s: SparkSession, d: String): DataFrame =
    TextAnalysis.groupPercentiles(tbl(d, "documents")(s), "source",
      size(regexp_extract_all(col("text"), lit("\\S+"), lit(0))).cast("long"))

  /** Benchmark decontamination ([[Dedup.decontaminate]]): src0/src1
    * play the held-out eval suite; train docs whose bands collide with
    * an eval doc and verify at jaccard >= 0.8 are scrubbed; survivors
    * come back schema-intact. */
  private def p57(s: SparkSession, d: String): DataFrame = {
    val docs = tbl(d, "documents")(s)
    Dedup.decontaminate(
      docs.filter(!col("source").isin("src0", "src1")),
      docs.filter(col("source").isin("src0", "src1")),
      threshold = 0.8)
  }

  /** The bloom-pruned decontamination path ([[Dedup.decontaminate]]
    * with `broadcastEval = false`): same scrub as p57, but the eval
    * band keys ride as broadcast bloom BITS pruning the train-side
    * exchange before the shuffle join — the shape for eval suites too
    * large to broadcast as rows. Output identical to p57 by contract
    * (the exact verify decides membership). */
  private def p67(s: SparkSession, d: String): DataFrame = {
    val docs = tbl(d, "documents")(s)
    Dedup.decontaminate(
      docs.filter(!col("source").isin("src0", "src1")),
      docs.filter(col("source").isin("src0", "src1")),
      threshold = 0.8, broadcastEval = false)
  }

  /** Count-min frequency estimation ([[graft.operators.Sketches.cms]]):
    * one 4×512 sketch over the corpus token stream, point-estimated at
    * the 20 heaviest tokens beside their exact counts — every counter
    * md5-cell-exact, so the oracle replays the whole sketch, not just
    * the estimates. */
  private def p68(s: SparkSession, d: String): DataFrame = {
    import graft.operators.Sketches
    val toks = tbl(d, "documents")(s)
      .select(explode(split(lower(trim(col("text"))), "\\W+")).as("tok"))
      .filter(length(col("tok")) > 0)
      .transform(graft.Stage.materialize) // sketch + exact counts read it
    val sk = toks.agg(Sketches.cms(col("tok"), 4, 512).as("_sk"))
    val top = toks.groupBy("tok").agg(count(lit(1)).as("n_exact"))
      .orderBy(col("n_exact").desc, col("tok").asc).limit(20)
    top.crossJoin(sk)
      .select(col("tok"), col("n_exact"),
        Sketches.cmsEstimate(col("_sk"), col("tok"), 4, 512).as("n_est"))
  }

  /** SCD2 snapshot history ([[graft.operators.Snapshot.history]]):
    * three corpus versions (v1 re-annotates every 10th key, v2 repeats
    * the same payload for every 20th — a no-op recrawl) collapse into
    * validity intervals; the no-op versions vanish into their runs. */
  private def q47(s: SparkSession, d: String): DataFrame = {
    val base = tbl(d, "orders")(s).select("o_orderkey", "o_orderpriority")
    val versions = base.withColumn("version", lit(0L))
      .unionByName(base.filter(col("o_orderkey") % 10 === 0)
        .withColumn("o_orderpriority", lit("UPDATED"))
        .withColumn("version", lit(1L)))
      .unionByName(base.filter(col("o_orderkey") % 20 === 0)
        .withColumn("o_orderpriority", lit("UPDATED"))
        .withColumn("version", lit(2L)))
    graft.operators.Snapshot.history(versions, Seq("o_orderkey"), "version")
  }

  /** Oracle-keyed trap semantics (reference :trap,
    * cascading_api_test.clj:112-224): a trapped op throws on every
    * l_orderkey divisible by 7; failing tuples divert to the trap sink
    * BEFORE binding and BEFORE aggregation (Planner trap diversion), so
    * the survivor aggregate counts only clean rows. The query output
    * unions the survivor aggregate ('ok': count + sum of the op's 2×key
    * result) with the trap-side aggregate ('trapped': count + sum of the
    * raw key) — the result is wrong unless diversion-before-aggregation
    * semantics hold, which is exactly what the DuckDB oracle replays as
    * a WHERE partition. */
  private def q48(s: SparkSession, d: String): DataFrame = {
    import graft.dsl._
    var trapDf: DataFrame = null
    val q = query("?l_returnflag", "?cnt", "?s")(
      lineitem(d)("?ok", "_", "_", "_", "_", "_", "_", "_",
        "?l_returnflag", "_", "_"),
      trapped((k: Long) =>
        if (k % 7 == 0) throw new IllegalArgumentException(s"mod7 $k")
        else k * 2, "?ok") :> "?dk",
      Ops.count() :> "?cnt",
      Ops.sum("?dk") :> "?s")
      .withTrap(df => trapDf = df)
    val okAgg = q.toDF(s)
      .select(col("l_returnflag"), lit("ok").as("kind"), col("cnt"), col("s"))
    val trapAgg = trapDf
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("cnt"), sum(col("ok")).as("s"))
      .select(col("l_returnflag"), lit("trapped").as("kind"), col("cnt"), col("s"))
    okAgg.unionAll(trapAgg)
  }

  /** CHECKPOINT WORKFLOW in the oracle gate ([[graft.plans.Workflow]],
    * reference cascalog-checkpoint src/cascalog/checkpoint.clj:26-114):
    * a 3-step DAG — two independent extract steps (urgent orders;
    * per-order quantity rollup) run in parallel under the semaphore, a
    * combine step joins their parquet taps — then a SECOND `run()` on
    * the same checkpoint dir must SKIP every token-marked step (the
    * resume contract). The skip is proven, not assumed: a sentinel file
    * planted in the combine step's output dir after run 1 would be
    * wiped by any overwrite-mode re-execution, and the query requires
    * it to survive run 2. The result is the combine tap read back, so
    * the row hashes ride the full DAG: step bodies, dependency order,
    * tmp-dir creation, token files. Quantities sum in decimal on both
    * engines (the q21/p82 idiom) and present as double. */
  private def q49(s: SparkSession, d: String): DataFrame = {
    import java.nio.file.{Files, Paths}
    val root = scratchDir("q49_wf", d)
    graft.streaming.Streams.deleteRecursivelyNoFollow(root)
    val (urgentOut, qtyOut, finalOut) =
      (s"$root/urgent", s"$root/qty", s"$root/final")
    val wf = new graft.plans.Workflow(s"$root/ckpt")
    wf.step("urgent")() { _ =>
      tbl(d, "orders")(s)
        .filter(col("o_orderpriority") === "1-URGENT")
        .select("o_orderkey", "o_custkey")
        .write.mode("overwrite").parquet(urgentOut)
    }
    wf.step("qty")() { _ =>
      tbl(d, "lineitem")(s)
        .groupBy("l_orderkey")
        .agg(sum(col("l_quantity").cast(DecimalType(18, 2))).as("qty"))
        .write.mode("overwrite").parquet(qtyOut)
    }
    wf.step("combine")("urgent", "qty") { _ =>
      Taps.parquet(s, urgentOut)
        .join(Taps.parquet(s, qtyOut), col("o_orderkey") === col("l_orderkey"))
        .groupBy("o_custkey")
        .agg(count(lit(1)).as("n_orders"),
          sum(col("qty")).cast(DoubleType).as("total_qty"))
        .write.mode("overwrite").parquet(finalOut)
    }
    val r1 = wf.run(parallelism = 2)
    require(r1.values.forall(_.isSuccess), s"workflow run 1 failed: $r1")
    require(wf.completed == Set("urgent", "qty", "combine"),
      s"missing completion tokens: ${wf.completed}")
    // underscore prefix: parquet readers ignore it as metadata, so the
    // sentinel never perturbs the result it guards
    val sentinel = Paths.get(finalOut, "_q49_resume_sentinel")
    Files.writeString(sentinel, "resume-skip-proof")
    val r2 = wf.run(parallelism = 2)
    require(r2.values.forall(_.isSuccess), s"workflow resume failed: $r2")
    require(Files.exists(sentinel),
      "resume re-executed a token-marked step (sentinel wiped)")
    Taps.parquet(s, finalOut)
  }

  /** TEMPLATE TAP round trip in the oracle gate (reference
    * :sink-template, cascading/tap.clj — one output directory per key
    * value). A lineitem projection writes through
    * [[graft.sources.Taps.templateSink]] keyed by l_returnflag (the
    * Spark rendering of the %s/ path template: partitionBy layout); the
    * query REQUIRES exactly one l_returnflag=… directory per flag on
    * disk, then reads the tap back and aggregates — the row hashes
    * prove the round trip is lossless and the partition column survives
    * re-reading. Quantities sum in decimal, presented double. */
  private def q50(s: SparkSession, d: String): DataFrame = {
    val root = scratchDir("q50_tap", d)
    graft.streaming.Streams.deleteRecursivelyNoFollow(root)
    val li = tbl(d, "lineitem")(s)
      .select(col("l_orderkey"), col("l_returnflag"),
        col("l_quantity").cast(DecimalType(18, 2)).as("qty"))
    graft.sources.Taps.templateSink(root, Seq("l_returnflag")).write(li)
    val partDirs = new java.io.File(root).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("l_returnflag="))
      .map(_.getName).toSet
    require(partDirs == Set("l_returnflag=A", "l_returnflag=N", "l_returnflag=R"),
      s"template tap wrote unexpected partition dirs: $partDirs")
    Taps.parquet(s, root)
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("cnt"),
        sum(col("qty")).cast(DoubleType).as("sum_qty"),
        countDistinct(col("l_orderkey")).as("n_orders"))
  }

  /** STATS COUNTERS in the oracle gate (reference cascading/stats.clj
    * :stats-fn — Hadoop counters): a counted op doubles each order key
    * while inc!-ing its LongAccumulator once per tuple. The per-flag
    * aggregate is stage-materialized (exactly one pass over the rows,
    * after which the snapshot is final), then the accumulator value
    * itself joins the output as a row — the oracle pins the counter to
    * COUNT(*), i.e. the op ran exactly once per tuple with no
    * re-evaluation inflation. (On a cluster, task RETRIES inflate
    * counters — the reference's Hadoop-counter behavior too; the gate
    * runs retry-free local mode where the contract is exact.) */
  private def q51(s: SparkSession, d: String): DataFrame = {
    import graft.dsl._
    import s.implicits._
    val stats = new graft.operators.Stats(s)
    val op = stats.counted[Long, Long]("graft", "li_rows")(_ * 2)
    val agg = query("?l_returnflag", "?cnt", "?s")(
      lineitem(d)("?k", "_", "_", "_", "_", "_", "_", "_",
        "?l_returnflag", "_", "_"),
      op("?k") :> "?k2",
      Ops.count() :> "?cnt",
      Ops.sum("?k2") :> "?s").toDF(s)
      // localCheckpoint DIRECTLY, not Stage.materialize: the 'reliable'
      // materialize mode (df.checkpoint) executes the plan twice (count
      // job + ReliableCheckpointRDD write) and would double the
      // accumulator; the eager local checkpoint computes exactly one
      // pass regardless of the engine's checkpoint conf
      .localCheckpoint()
    val statRow = Seq(("stat:graft/li_rows", stats.snapshot("graft/li_rows"), 0L))
      .toDF("k", "cnt", "s")
    agg.select(col("l_returnflag").as("k"), col("cnt"), col("s"))
      .unionAll(statRow)
  }

  /** BUCKETED CO-LOCATED JOIN in the oracle gate
    * ([[graft.sources.Taps.bucketSink]]/[[graft.sources.Taps.bucketTap]]
    * — the 100-TB recurring-join path: write both sides bucketed on the
    * join key once, then every later join/agg on that key runs with NO
    * shuffle). Orders and lineitem land as 16-bucket external tables
    * under a pid-scoped /tmp path; the join + on-key aggregation is then
    * REQUIRED by the query itself to plan without a single Exchange
    * (broadcast disabled so the bucket path, not a broadcast, is what
    * saves the shuffle; AQE disabled only for the plan inspection and
    * restored). The row hashes and the scale contract ride one gate. */
  private def q52(s: SparkSession, d: String): DataFrame = {
    val suffix = d.replaceAll("[^A-Za-z0-9]", "_")
    val root = scratchDir("q52_bk", d)
    // NOFOLLOW pre-delete, the invariant every scratch consumer keeps: a
    // planted symlink or stale dir at the predictable path is unlinked,
    // never written through
    graft.streaming.Streams.deleteRecursivelyNoFollow(root)
    val (ta, tb) = (s"q52_orders_$suffix", s"q52_li_$suffix")
    graft.sources.Taps.bucketSink(
      tbl(d, "orders")(s).select("o_orderkey", "o_orderpriority"),
      ta, Seq("o_orderkey"), 16, sortCols = Seq("o_orderkey"),
      path = Some(s"$root/orders"))
    graft.sources.Taps.bucketSink(
      tbl(d, "lineitem")(s).select(col("l_orderkey"),
        col("l_quantity").cast(DecimalType(18, 2)).as("qty")),
      tb, Seq("l_orderkey"), 16, sortCols = Seq("l_orderkey"),
      path = Some(s"$root/lineitem"))
    val aqe = s.conf.get("spark.sql.adaptive.enabled", "true")
    val bc = s.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      s.conf.set("spark.sql.adaptive.enabled", "false")
      s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val j = s.table(ta)
        .join(s.table(tb), col("o_orderkey") === col("l_orderkey"))
        .groupBy("o_orderkey", "o_orderpriority")
        .agg(count(lit(1)).as("n_items"),
          sum(col("qty")).cast(DoubleType).as("sum_qty"))
        .select(col("o_orderkey"), col("o_orderpriority"),
          col("n_items"), col("sum_qty"))
      val plan = j.queryExecution.executedPlan.toString
      require(!plan.contains("Exchange"),
        s"bucketed co-located join must plan shuffle-free, got:\n$plan")
      j
    } finally {
      s.conf.set("spark.sql.adaptive.enabled", aqe)
      s.conf.set("spark.sql.autoBroadcastJoinThreshold", bc)
    }
  }

  /** PROTOBUF RECORD TAP round trip in the oracle gate
    * ([[graft.sources.Proto]] — the cascalog-lzo protobuf-tap surface,
    * wire format only; the LZO container is the adjudicated boundary):
    * lineitem rows ENCODE to protobuf wire bytes (varint key, delimited
    * flag, fixed64 qty), land as a binary column at rest, decode back
    * through the record tap, and aggregate. The hashes prove the wire
    * codec is lossless for every row — fixed64 keeps the exact double
    * bits, so the decimal-summed qty matches the source-table oracle. */
  private def q53(s: SparkSession, d: String): DataFrame = {
    import graft.sources.Proto
    import org.apache.spark.sql.types.{LongType, StringType, DoubleType => DT}
    val spec = Seq(Proto.Field(1, "okey", LongType),
      Proto.Field(2, "flag", StringType), Proto.Field(3, "qty", DT))
    val enc = udf((k: Long, f: String, q: Double) =>
      Proto.encode(Seq(1 -> k, 2 -> f, 3 -> q)))
    val root = scratchDir("q53_proto", d)
    graft.streaming.Streams.deleteRecursivelyNoFollow(root)
    tbl(d, "lineitem")(s)
      .select(enc(col("l_orderkey"), col("l_returnflag"),
        col("l_quantity")).as("bin"))
      .write.mode("overwrite").parquet(root)
    Proto.parse(Taps.parquet(s, root), "bin", spec)
      .groupBy("flag")
      .agg(count(lit(1)).as("cnt"),
        sum(col("qty").cast(DecimalType(18, 2))).cast(DoubleType).as("sum_qty"),
        sum(col("okey")).as("sum_keys"))
  }

  /** THRIFT RECORD TAP round trip in the oracle gate
    * ([[graft.sources.Thrift]] — the cascalog-lzo thrift-tap surface,
    * TBinaryProtocol wire only; LZO container = adjudicated boundary):
    * orders rows encode as thrift structs (i64 key, string priority,
    * i64 custkey), land as a binary column, decode back through the
    * record tap, and aggregate — q53's proto twin on the other wire
    * format, so both record codecs are hash-gated end-to-end. */
  private def q55(s: SparkSession, d: String): DataFrame = {
    import graft.sources.Thrift
    import org.apache.spark.sql.types.{LongType, StringType}
    val spec = Seq(Thrift.Field(1, "okey", LongType),
      Thrift.Field(2, "prio", StringType), Thrift.Field(3, "ckey", LongType))
    val enc = udf((k: Long, p: String, c: Long) =>
      Thrift.encode(Seq(1 -> k, 2 -> p, 3 -> c)))
    val root = scratchDir("q55_thrift", d)
    graft.streaming.Streams.deleteRecursivelyNoFollow(root)
    tbl(d, "orders")(s)
      .select(enc(col("o_orderkey"), col("o_orderpriority"),
        col("o_custkey")).as("bin"))
      .write.mode("overwrite").parquet(root)
    Thrift.parse(Taps.parquet(s, root), "bin", spec)
      .groupBy("prio")
      .agg(count(lit(1)).as("cnt"),
        sum(col("okey")).as("sum_keys"),
        sum(col("ckey")).as("sum_cust"))
  }

  /** SEQUENCE-FILE TAP round trip in the oracle gate (hfs-wrtseqfile,
    * reference more_taps.clj:83-112 — Hadoop SequenceFile of Writable
    * string pairs): orders lands as (orderkey, priority) string pairs
    * through the seqfile sink, reads back through the wrtseqfile tap
    * via the DSL, and aggregates with the keys re-parsed to longs —
    * the Writable round trip and the string⇄long re-parse are on the
    * hashed path. Every persistent tap format (parquet, template,
    * delimited, seqfile, proto, thrift) is now oracle-gated. */
  private def q56(s: SparkSession, d: String): DataFrame = {
    import graft.dsl._
    val root = scratchDir("q56_seq", d)
    graft.streaming.Streams.deleteRecursivelyNoFollow(root)
    graft.sources.Taps.wrtseqfileSink(
      tbl(d, "orders")(s).select(
        col("o_orderkey").cast("string"), col("o_orderpriority")), root)
    val toLong = Ops.mapFn((x: String) => x.toLong)
    query("?prio", "?cnt", "?sum_keys")(
      graft.sources.Taps.wrtseqfile(root)("?ks", "?prio"),
      toLong("?ks") :> "?k",
      Ops.count() :> "?cnt",
      Ops.sum("?k") :> "?sum_keys").toDF(s)
  }

  /** DELIMITED TAP round trip in the oracle gate (hfs-delimited,
    * reference more_taps.clj:11-80): orders lands as a HEADERED TSV
    * through the csv sink, reads back through [[graft.sources.Taps
    * .delimited]] with schema inference, and aggregates through the DSL
    * — text serialization, header handling, and type inference are all
    * on the hashed path (integer keys and space-free priorities keep
    * the text round trip exact by construction). */
  private def q54(s: SparkSession, d: String): DataFrame = {
    import graft.dsl._
    val root = scratchDir("q54_tsv", d)
    graft.streaming.Streams.deleteRecursivelyNoFollow(root)
    graft.sources.Taps.csvSink(root, sep = "\t", header = true).write(
      tbl(d, "orders")(s).select("o_orderkey", "o_orderpriority", "o_custkey"))
    query("?prio", "?cnt", "?skeys")(
      graft.sources.Taps.delimited(root, header = true)("?okey", "?prio", "?ckey"),
      Ops.count() :> "?cnt",
      Ops.sum("?ckey") :> "?skeys").toDF(s)
  }

  /** Hybrid retrieval via reciprocal-rank fusion
    * ([[Similarity.rrfFuse]]): the BM25 lexical top-50 (p64's scorer,
    * deterministic rel-then-id ranking) fused with the embedding knn
    * top-50 around vec_id 0 (p08's scorer) — the no-calibration
    * lexical+semantic combiner, every fusion term an exact integer. */
  private def p70(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = tbl(d, "documents")(s)
    val emb = tbl(d, "embeddings")(s)
    val bm = TextAnalysis.bm25Gate(docs, Seq("spark", "window", "stream", "merge"))
      .filter(col("n_hits") > 0)
    val lex = bm
      .withColumn("rank", row_number()
        .over(Window.orderBy(col("bm25_rel").desc, col("doc_id"))).cast("long"))
      .filter(col("rank") <= 50).select("doc_id", "rank")
    val sem = Similarity.bruteForceKnn(emb,
        emb.filter(col("vec_id") === 0)
          .select(col("vec_id").as("probe_id"), col("embedding")),
        k = 50)
      .select(col("corpus_id").as("doc_id"), col("rank").cast("long").as("rank"))
    Similarity.rrfFuse(Seq(lex, sem))
  }

  /** Corpus data card ([[TextAnalysis.dataCard]]): the one-pass
    * datasheet — counts, volume, exact-dup rate, quantized mean length
    * — as a long (metric, value) table, hash-comparable across engines
    * and corpus versions. */
  private def p69(s: SparkSession, d: String): DataFrame =
    TextAnalysis.dataCard(tbl(d, "documents")(s))

  /** Unigram-LM tokenizer seed stage ([[graft.pipeline.Unigram
    * .seedVocab]]): substring piece candidates from the word-TYPE
    * table, coverage chars always kept, multi-char pieces top-K by
    * (cnt DESC, piece ASC), scores the exact integral
    * floor(1e18·cnt/total) — the SentencePiece seed the hard-EM rounds
    * refine (EM itself is Viterbi-based and spec-verified; the seed's
    * counts, pruning, and quantized likelihoods replay in SQL). */
  private def p73(s: SparkSession, d: String): DataFrame =
    graft.pipeline.Unigram.seedVocab(tbl(d, "documents")(s),
      vocabSize = 400, maxPieceLen = 4, minFreq = 2L)

  /** GPT-3-style exact n-gram contamination report
    * ([[Dedup.ngramOverlapReport]], broadcast path): the src0/src1 slice
    * plays the benchmark suite (the p57/p67 convention), every other doc
    * is train; 6-grams ride the p24 span-gram contract so the synthetic
    * corpus actually collides at gate scale. */
  private def p74(s: SparkSession, d: String): DataFrame = {
    val docs = tbl(d, "documents")(s)
    Dedup.ngramOverlapReport(
      docs.filter(!col("source").isin("src0", "src1")),
      docs.filter(col("source").isin("src0", "src1")),
      n = 6)
  }

  /** Asymmetric-containment near-dup ([[Dedup.containmentCandidates]] →
    * [[Dedup.containmentVerify]]): bottom-8 shingle probes against the
    * doc-frequency-capped inverted shingle index, ≥6-of-8 probe-hit
    * sketch prefilter (382k → 512 candidate pairs at sf0.1, survivors
    * identical), exact |A∩B|/|A| merge verify at 0.8 — the
    * doc-quoted-inside-doc case banding Jaccard structurally misses. */
  private def p75(s: SparkSession, d: String): DataFrame = {
    val docs = tbl(d, "documents")(s)
    Dedup.containmentVerify(
      Dedup.containmentCandidates(docs, m = 8, maxDocFreq = 64,
        minProbeHits = 6),
      docs, threshold = 0.8)
  }

  /** Quality-keyed near-dup dedup ([[Dedup.nearDupDedupBy]]): same
    * pipeline as p11 but each duplicate cluster keeps its LONGEST member
    * (score = n_chars, ties → min id) — the survivor policy real
    * curation uses, oracle-replayed over the p11 component CTE. */
  private def p76(s: SparkSession, d: String): DataFrame =
    Dedup.nearDupDedupBy(tbl(d, "documents")(s), "n_chars", threshold = 0.6)
      .select("doc_id", "lang", "source", "n_chars")

  /** Subsumption dedup ([[Dedup.containmentDedup]]): p75's containment
    * machinery as a curation pass — drop docs ≥0.8-contained in a
    * strictly larger doc (ties keep the smaller id). */
  private def p77(s: SparkSession, d: String): DataFrame =
    Dedup.containmentDedup(tbl(d, "documents")(s), threshold = 0.8,
      m = 8, maxDocFreq = 64, minProbeHits = 6)
      .select("doc_id", "lang", "source")

  /** Incremental containment ([[Dedup.shingleIndex]] →
    * [[Dedup.incrementalContainment]]): the src0/src1 slice plays the
    * ingest delta against the persisted index of the rest — both
    * directions (new-doc-subsumed / new-doc-subsumes) with the p75
    * parameters, corpus never re-shingled. */
  private def p78(s: SparkSession, d: String): DataFrame = {
    val docs = tbl(d, "documents")(s)
    Dedup.incrementalContainment(
      // materialized: stands in for the PERSISTED index the operator is
      // designed around — incrementalContainment reads the index four
      // times (df cap, probe join, rk<=m probes, verify sets), and
      // without the boundary each read re-runs the corpus shingle
      // kernel + explode
      Dedup.shingleIndex(docs.filter(!col("source").isin("src0", "src1")))
        .transform(graft.Stage.materialize),
      docs.filter(col("source").isin("src0", "src1")),
      threshold = 0.8, m = 8, maxDocFreq = 64, minProbeHits = 6)
  }

  /** One-pass column profiler ([[graft.operators.Profile.profile]]):
    * per-column rows/nulls/exact-distinct/min/max over lineitem in a
    * single expand-rewrite aggregation — the ANALYZE primitive. */
  private def p79(s: SparkSession, d: String): DataFrame =
    graft.operators.Profile.profile(tbl(d, "lineitem")(s),
      Seq("l_orderkey", "l_suppkey", "l_quantity", "l_extendedprice",
        "l_returnflag", "l_linestatus"))

  /** Constraint/expectations report ([[graft.operators.Check.check]]):
    * not-null, key-uniqueness (the synthetic lineitem HAS duplicated
    * (orderkey, linenumber) keys, so the value is non-trivial), a
    * deliberately tight discount range, and FK integrity vs orders. */
  private def p80(s: SparkSession, d: String): DataFrame = {
    import graft.operators.Check._
    check(tbl(d, "lineitem")(s), Seq(
      NotNull("l_quantity"),
      Unique(Seq("l_orderkey", "l_linenumber")),
      InRange("l_discount", 0.0, 0.05),
      RefIn("l_orderkey", tbl(d, "orders")(s), "o_orderkey")))
  }

  /** BATCHED BPE training oracle-keyed ([[Bpe.train]] with
    * `batchMerges` > 1, the 11×-fewer-driver-rounds scale path): 8
    * merges learned 4-per-round from the documents word-type table. The
    * oracle replays the EXACT round structure in SQL — per-round pair
    * counts over the current type table, (count desc, a, b) ranking with
    * the engine's fetch window, sequential symbol-disjoint acceptance as
    * a list_reduce fold, and the p47 merge-application fold per accepted
    * rank — unrolled one CTE block per round by the same loop shape the
    * engine runs (the p51 generated-oracle idiom). numMerges rounds are
    * unrolled (not numMerges/M) so under-filled batches and early stops
    * replay exactly; completed rounds degenerate to identity. */
  private def p81(s: SparkSession, d: String): DataFrame = {
    val merges = Bpe.train(tbl(d, "documents")(s), numMerges = 8, batchMerges = 4)
    // rank cast to BIGINT for the oracle's hash-stable integer convention
    Bpe.mergesToDF(merges, s).withColumn("rank", col("rank").cast("long"))
  }

  /** Scratch dir for queries that stage intermediate files: sanitized
    * dataset dir + this JVM's pid (collision-free across concurrent
    * gate/bench processes), registered for NOFOLLOW recursive deletion
    * at JVM exit — the p72 tap-path idiom as a helper. */
  private def scratchDir(tag: String, d: String): String = {
    val path = s"/tmp/graft_${tag}_" +
      d.replaceAll("[^A-Za-z0-9]", "_") + "_" +
      java.lang.ProcessHandle.current().pid()
    deleteAtExit(path)
    path
  }

  /** STRUCTURED STREAMING in the oracle gate: q22's events rollup
    * computed by the streaming engine. The batch table is replayed
    * through [[graft.streaming.Streams.replayAsStream]] as 4 file
    * micro-batches into a complete-mode stateful aggregation, so the
    * state store genuinely accumulates across batches; the complete-mode
    * result is batch-boundary-invariant (probe: parts 1/4/8 identical —
    * StreamReplaySpec), so the plain GROUP BY oracle applies verbatim.
    * Shares q22's oracle contract by design (the p57/p67 idiom). */
  private def p82Transform(src: DataFrame): DataFrame =
    src.groupBy(col("event_type"))
      .agg(count(lit(1)).as("cnt"),
        sum(col("value").cast(DecimalType(18, 4))).cast(DoubleType).as("sum_value"))

  /** Watermarked event-time windows in the oracle gate: daily counts
    * with a 6-hour watermark, append mode, replayed as 4 event-time-
    * ORDERED micro-batches (replayAsStream's `orderedBy` staging — no
    * row ever arrives behind the watermark, so nothing is late-dropped
    * and the emitted set is batch-boundary-invariant). The streaming
    * contract the oracle replays: a window emits iff
    * `window.end <= final watermark`, where the final watermark is the
    * global max event time FLOORED TO MILLISECONDS (Spark tracks event
    * time in ms) minus the delay — boundary semantics pinned INCLUSIVE
    * by the StreamReplaySpec tie case (window end == watermark emits). */
  private def p83Staged(s: SparkSession, d: String): DataFrame = {
    val ev = tbl(d, "events")(s)
    ev.withColumn("ets", timestamp_micros(tsUs(ev)))
  }

  private def p83Transform(src: DataFrame): DataFrame =
    src.withWatermark("ets", "6 hours")
      .groupBy(window(col("ets"), "1 day"))
      .agg(count(lit(1)).as("cnt"))
      .select(unix_micros(col("window.start")).as("ws_us"), col("cnt"))

  /** [[Dedup.hammingCandidates]] over PRECOMPUTED 64-bit codes — the
    * engine every multimodal near-dup rides (image pHash, audio
    * fingerprint, video frame hashes). Codes here are md5-derived from
    * doc_id (no decode needed, so the oracle replays them exactly);
    * doc_id % 4 == 0 rows get their low 16 bits zeroed, forcing block
    * 0 of a quarter of the corpus into ONE bucket that exceeds the
    * explicit cap=64 at sf0.01+ — the hot-bucket star-guard branch is
    * exercised by construction (linear hub edges, never the quadratic
    * self-join), while random 16-bit collisions in the other blocks
    * keep the small-bucket pair branch live too. */
  private def p71(s: SparkSession, d: String): DataFrame = {
    val lower64 = udf((x: Long) =>
      graft.pipeline.Md5.lower64(graft.pipeline.Md5.newDigest(), "p71:" + x))
    val coded = tbl(d, "documents")(s)
      .select(col("doc_id"), lower64(col("doc_id")).as("h"))
      .select(col("doc_id"),
        when(col("doc_id") % 4 === 0, col("h").bitwiseAND(lit(-65536L)))
          .otherwise(col("h")).as("code"))
    Dedup.hammingCandidates(coded, "code", "doc_id",
      maxHamming = 24, maxBucketSize = 64)
  }

  /** Z-order layout math over events (sources.ZOrder): user_id × time
    * bucketed to 16 bits each and Morton-interleaved; ntile(16) over the
    * tie-broken total z-order is the oracle-shaped form of the bucketing
    * (production [[graft.sources.ZOrder.zorderBy]] swaps it for a range
    * partition — no global sort). Per-bucket min/max spans are the
    * data-skipping claim made checkable: every bucket is tight on BOTH
    * columns. */
  private def p58(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import graft.sources.ZOrder
    val ev = tbl(d, "events")(s)
    val e = ev.select(col("event_id"), col("user_id"), tsUs(ev).as("us"))
    val st = e.agg(min("user_id").as("mnu"), max("user_id").as("mxu"),
      min("us").as("mnt"), max("us").as("mxt"))
    val z = e.crossJoin(broadcast(st)).select(col("event_id"),
      col("user_id"), col("us"),
      ZOrder.zValue(
        ZOrder.bucket16(col("user_id"), col("mnu"), col("mxu")),
        ZOrder.bucket16(col("us"), col("mnt"), col("mxt"))).as("zv"))
    z.withColumn("bucket", ntile(16).over(
        Window.orderBy(col("zv"), col("user_id"), col("us"), col("event_id")))
        .cast("long"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n"),
        min("user_id").as("u_min"), max("user_id").as("u_max"),
        min("us").as("t_min"), max("us").as("t_max"))
  }

  /** Stratified 80/10/10 split ([[TextAnalysis.stratifiedSplit]]): exact
    * floor-quantile proportions per source in md5(doc_id) order; the
    * oracle replays the SAME double additions (`0.8::DOUBLE +
    * 0.1::DOUBLE`), so the floor boundaries are IEEE-identical. */
  private def p59(s: SparkSession, d: String): DataFrame =
    TextAnalysis.stratifiedSplit(
      tbl(d, "documents")(s).select("doc_id", "source"),
      Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))

  /** STREAMING SNAPSHOT UPSERT in the oracle gate: p60's contract driven
    * through [[graft.streaming.Streams.streamingUpsert]]
    * (mapGroupsWithState custom state, update output mode). The v0
    * snapshot and v1 delta replay as VERSION-ordered micro-batches —
    * the initial-load-then-CDC shape — and version-RANGED slicing keeps
    * equal versions inside one batch, so streamingUpsert's
    * carried-state-loses-at-equal-version rule never fires and the
    * final state is split-invariant. The update-mode memory sink sees
    * one update per (key, batch) with strictly increasing versions
    * across batches, so the final table is the max-version update per
    * key, tombstones dropped — exactly p60's max_by contract. */
  private def p84Staged(s: SparkSession, d: String): DataFrame = {
    val base = tbl(d, "orders")(s)
      .select("o_orderkey", "o_custkey", "o_orderpriority")
    val snap = base
      .withColumn("version", lit(0L)).withColumn("deleted", lit(false))
    val delta = base.filter(col("o_orderkey") % 10 === 0)
      .withColumn("o_orderpriority", lit("UPDATED"))
      .withColumn("version", lit(1L))
      .withColumn("deleted", col("o_orderkey") % 170 === 0)
    snap.unionByName(delta).select(
      col("o_orderkey").cast("string").as("k"),
      col("version").as("v"),
      col("deleted").as("del"),
      concat_ws("|", col("o_custkey"), col("o_orderpriority")).as("payload"))
  }

  private def p84Transform(src: DataFrame): DataFrame = {
    import src.sparkSession.implicits._
    graft.streaming.Streams.streamingUpsert(
        src.as[(String, Long, Boolean, String)])
      .toDF("k", "v", "del", "payload")
  }

  private def p84Post(upserts: DataFrame): DataFrame =
    upserts
      .groupBy(col("k"))
      .agg(max_by(struct(col("v"), col("del"), col("payload")), col("v")).as("w"))
      .filter(!col("w.del"))
      .select(col("k").cast("long").as("o_orderkey"),
        col("w.v").as("version"), col("w.payload").as("payload"))

  /** STREAMING CLOSED SESSIONS in the oracle gate: q34's gap
    * sessionization driven through
    * [[graft.streaming.Streams.sessionizeClosed]]
    * (flatMapGroupsWithState, append mode — the third streaming-state
    * API family after p82/p83's windowed aggs and p84's
    * mapGroupsWithState). Events replay in event-time order; a session
    * closes when a later event's gap exceeds 30 min REGARDLESS of where
    * the batch boundary fell (the open session carries across batches
    * in state), so the emitted set is split-invariant: every session
    * except each user's final one, which stays open in state forever —
    * the oracle replays q34's session CTE and drops each user's
    * max-session_id row. Equal-ts events cannot reorder the contract
    * (gap 0 keeps them in one session; count/min/max are order-free). */
  private def p85Staged(s: SparkSession, d: String): DataFrame = {
    val ev = tbl(d, "events")(s)
    ev.select(col("user_id").as("k"), tsUs(ev).as("us"))
      .filter(col("us").isNotNull)
  }

  private def p85Transform(src: DataFrame): DataFrame = {
    import src.sparkSession.implicits._
    graft.streaming.Streams.sessionizeClosed(
        src.as[(Long, Long)], gap = 1800000000L)
      .toDF("user_id", "start_us", "end_us", "n_events")
  }

  private def p85Post(sessions: DataFrame): DataFrame =
    sessions.select(
      col("user_id"), col("n_events"), col("start_us"), col("end_us"))

  /** STREAM-STREAM INTERVAL JOIN in the oracle gate: each click joined
    * to the same user's purchases within [click, click+1d] via
    * [[graft.streaming.Streams.intervalJoin]] (the watermark-bounded
    * symmetric hash join) — the fourth streaming API family in the gate
    * after p82/p83's windowed aggs, p84's mapGroupsWithState, p85's
    * flatMapGroupsWithState. Both sides replay from ONE event-time-
    * ordered file stream split by event_type inside the transform (a
    * streaming self-join). Ordered replay makes the inner join EXACT:
    * batch k+1's rows all carry event times >= batch k's, so no row is
    * ever late, and a click's state is evicted only once the watermark
    * passes click_ts + 1d — past which no future purchase can satisfy
    * the range. The oracle replays the plain SQL time-range join. */
  private def p86Staged(s: SparkSession, d: String): DataFrame = {
    val ev = tbl(d, "events")(s)
    ev.filter(col("event_type").isin("click", "purchase"))
      .select(col("event_id"), col("user_id"), col("event_type"),
        timestamp_micros(tsUs(ev)).as("ets"))
      .filter(col("ets").isNotNull)
  }

  private def p86Transform(src: DataFrame): DataFrame = {
    val l = src.filter(col("event_type") === "click")
      .select(col("user_id"), col("event_id").as("l_id"), col("ets").as("l_ts"))
    val r = src.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("r_id"), col("ets").as("r_ts"))
    graft.streaming.Streams.intervalJoin(l, r, Seq("user_id"),
        "l_ts", "r_ts", watermark = "1 day",
        before = "0 seconds", after = "1 day")
      .select(col("user_id"), col("l_id"), col("r_id"))
  }

  /** STREAMING EXACT DEDUP in the oracle gate: distinct
    * (user_id, event_type) via [[graft.streaming.Streams.streamingDedup]]
    * (`dropDuplicatesWithinWatermark` — the engine's streaming face of
    * [[Dedup.exact]], the fifth streaming state shape in the gate). The
    * 40-day delay exceeds the table's whole time span, so every
    * duplicate arrives while the first occurrence's state is alive and
    * the emitted set is EXACTLY the distinct keys; a production stream
    * picks a shorter delay and the same operator degrades gracefully to
    * distinct-within-window with bounded state. Only the key columns
    * are presented — which physical row wins the first-arrival race
    * inside one micro-batch is engine-internal, the KEY SET is not. */
  private def p87Staged(s: SparkSession, d: String): DataFrame = {
    val ev = tbl(d, "events")(s)
    ev.select(col("user_id"), col("event_type"),
        timestamp_micros(tsUs(ev)).as("ets"))
      .filter(col("ets").isNotNull)
  }

  private def p87Transform(src: DataFrame): DataFrame =
    graft.streaming.Streams.streamingDedup(
        src, "ets", "40 days", Seq("user_id", "event_type"))
      .select(col("user_id"), col("event_type"))

  private def p87(s: SparkSession, d: String): DataFrame =
    graft.streaming.Streams.replayAsStream(
      p87Staged(s, d), scratchDir("p87_stream", d), 4, "append",
      orderedBy = Some("ets"))(p87Transform)

  /** STREAMING KMV SKETCH STATE in the oracle gate: p25's per-flag
    * k-minimum-values distinct sketch built through the state store
    * ([[graft.streaming.Streams.streamingKmvDistinct]] —
    * mapGroupsWithState holding a bounded [[graft.streaming.Streams.SketchState]],
    * the seventh state shape in the gate after p82-p87). lineitem
    * replays as 4 unordered micro-batches; the KMV fold is a monoid, so
    * the final state equals the batch sketch over all arrivals
    * regardless of batch boundaries, and each update-mode emission
    * carries n_seen (cumulative processed rows, strictly increasing per
    * key) so the final emission is selected by max_by — p84's
    * latest-update idiom without needing a version column in the data.
    * The oracle replays the sketch cell-exactly from DuckDB md5 (p25's
    * replay) with COUNT(*) beside it for n_rows. */
  private def p88Staged(s: SparkSession, d: String): DataFrame = {
    import graft.operators.Sketches
    tbl(d, "lineitem")(s).select(
      col("l_returnflag").as("k"),
      Sketches.md5Hash61(col("l_orderkey").cast("string")).as("h"))
  }

  private def p88Transform(src: DataFrame): DataFrame = {
    import src.sparkSession.implicits._
    graft.streaming.Streams.streamingKmvDistinct(
        src.as[(String, Long)], k = 128)
      .toDF("l_returnflag", "n_seen", "kmv_size", "kmv_estimate")
  }

  private def p88Post(updates: DataFrame): DataFrame =
    updates.groupBy(col("l_returnflag"))
      .agg(
        max_by(struct(col("kmv_size"), col("kmv_estimate")),
          col("n_seen")).as("w"),
        max(col("n_seen")).as("n_rows"))
      .select(col("l_returnflag"), col("n_rows"),
        col("w.kmv_size").as("kmv_size"),
        col("w.kmv_estimate").as("kmv_estimate"))

  /** STREAMING SHARDED CMS in the oracle gate: p68's global count-min
    * sketch built through the state store, SCALE-OUT SHAPE — tokens key
    * by a 16-way hash shard, each shard folds its own 4×512 sketch in
    * [[graft.streaming.Streams.streamingCms]], and because CMS cells
    * are additive the elementwise SUM of the 16 final shard sketches
    * equals the one-key sketch over the whole stream (state and fold
    * work spread across shards — on a cluster, raise the shard count
    * with the parallelism). The merged sketch then rides p68's exact
    * presentation: top-20 exact tokens beside their point estimates,
    * against p68's oracle STRING verbatim — the sketch arrives
    * cell-identical through a completely different execution path. */
  private def p89Toks(s: SparkSession, d: String): DataFrame =
    tbl(d, "documents")(s)
      .select(explode(split(lower(trim(col("text"))), "\\W+")).as("tok"))
      .filter(length(col("tok")) > 0)

  private def p89Staged(s: SparkSession, d: String): DataFrame =
    p89Toks(s, d).select(
      pmod(hash(col("tok")), lit(16)).cast("string").as("k"),
      col("tok").as("v"))

  private def p89Transform(src: DataFrame): DataFrame = {
    import src.sparkSession.implicits._
    graft.streaming.Streams.streamingCms(src.as[(String, String)], 4, 512)
      .toDF("shard", "n_seen", "cells")
  }

  private def p89Post(s: SparkSession, d: String)(updates: DataFrame): DataFrame = {
    import graft.operators.Sketches
    // final sketch per shard (max n_seen), then the CMS monoid merge
    // ([[Sketches.cmsMerge]]) folded over the 16 shard sketches — one
    // global aggregation, no per-cell shuffle, and the merge definition
    // stays in one place
    val global = updates.groupBy(col("shard"))
      .agg(max_by(col("cells"), col("n_seen")).as("cells"))
      .agg(collect_list(col("cells")).as("sks"))
      .select(aggregate(col("sks"),
        array_repeat(lit(0L), lit(4 * 512)),
        (acc, sk) => Sketches.cmsMerge(acc, sk)).as("_sk"))
    val top = p89Toks(s, d).groupBy("tok").agg(count(lit(1)).as("n_exact"))
      .orderBy(col("n_exact").desc, col("tok").asc).limit(20)
    top.crossJoin(global)
      .select(col("tok"), col("n_exact"),
        Sketches.cmsEstimate(col("_sk"), col("tok"), 4, 512).as("n_est"))
  }

  private def p89(s: SparkSession, d: String): DataFrame =
    // sketch-shaped state: exactly 16 hash shards, each one 4×512-cell
    // CMS — state volume is per-KEY constant, so partitions cap at 16
    // (see p88; the shard count is the scale-out knob, raised on a
    // cluster together with the parallelism)
    p89Post(s, d)(graft.streaming.Streams.replayAsStream(
      p89Staged(s, d), scratchDir("p89_stream", d), 4, "update",
      stateKeyHint = Some(16L))(
      p89Transform))

  /** STREAMING LSH NEAR-DUP CANDIDATES in the oracle gate: the
    * flagship dedup path (shingle → minhash → band → bucket) run
    * through [[graft.streaming.Streams.streamingMinhashCandidates]] —
    * flatMapGroupsWithState holding each (band, band_key) bucket's
    * sorted member array, documents replayed as 4 micro-batches. Every
    * arrival pairs against ALL prior members of its buckets (including
    * same-batch earlier ids), so the final pair SET is
    * batch-boundary-invariant and equals p06's batch candidates — the
    * oracle string is shared verbatim. A pair sharing several bands is
    * emitted once per bucket; the post step dedups, mirroring the
    * oracle's GROUP BY. The hot-bucket cap is explicitly disabled
    * (1 << 20) because the capped star-edge hub is FIRST-ARRIVAL-min,
    * not global-min — the same answer only under doc-ordered replay;
    * the capped path's exactly-once star contract is pinned by
    * StreamingSpec instead. */
  private def p90Staged(s: SparkSession, d: String): DataFrame =
    tbl(d, "documents")(s).select("doc_id", "text")

  private def p90Transform(src: DataFrame): DataFrame = {
    graft.streaming.Streams.streamingMinhashCandidates(
        src, k = 64, bands = 16, maxBucketSize = 1 << 20)
      .toDF("id_a", "id_b")
  }

  private def p90Post(pairs: DataFrame): DataFrame = pairs.distinct()

  /** STREAMING EMBEDDING NEAR-DUP CANDIDATES in the oracle gate — the
    * vector face of p90 through the same capped bucket-state core
    * ([[graft.streaming.Streams.streamingEmbeddingCandidates]]): each
    * arrival's 6-bit hyperplane signature (p28's md5-seeded planes) is
    * its ONE bucket, so every pair co-occurs in exactly one bucket and
    * the final pair set is emitted exactly once and is
    * batch-boundary-invariant. The oracle replays p28's signature CTE
    * and takes the unverified bucket pairs — the candidate tier p28
    * cosine-verifies downstream. Cap disabled as in p90 (first-arrival
    * hub vs global-min hub under unordered replay); the capped
    * exactly-once star contract stays spec-pinned. */
  private def p91Staged(s: SparkSession, d: String): DataFrame =
    tbl(d, "embeddings")(s).select("vec_id", "embedding")

  private def p91Transform(src: DataFrame): DataFrame =
    graft.streaming.Streams.streamingEmbeddingCandidates(
        src, planes = 6, maxBucketSize = 1 << 20)
      .toDF("id_a", "id_b")

  /** SMALL-FILE COMPACTION in the oracle gate
    * ([[graft.operators.Publish.compact]] — the maintenance pass every
    * continuously-written corpus needs: thousands of delta-sized files
    * → target-sized files, sized from the MEASURED byte listing, range-
    * clustered on the sort key so footer min/max pruning survives the
    * rewrite). A 64-way fragmented lineitem projection compacts to
    * ceil(bytes/target) = 4 files; the query REQUIRES the 64→4 layout
    * on disk AND that the 4 files' key ranges are non-overlapping (the
    * clustering claim, read from the data itself), then aggregates the
    * compacted dataset — the row hashes prove the rewrite is lossless. */
  private def p92(s: SparkSession, d: String): DataFrame = {
    import graft.operators.Publish
    val root = scratchDir("p92_compact", d)
    graft.streaming.Streams.deleteRecursivelyNoFollow(root)
    val li = tbl(d, "lineitem")(s)
      .select(col("l_orderkey"), col("l_partkey"),
        col("l_quantity").cast(DecimalType(18, 2)).as("qty"))
    li.repartition(64).write.parquet(s"$root/frag")
    val frag = Publish.dataFiles(s, s"$root/frag")
    require(frag.size == 64, s"expected 64 fragment files, got ${frag.size}")
    val bytes = frag.map(_._2).sum
    val rep = Publish.compact(s, s"$root/frag", s"$root/compacted",
      targetBytes = (bytes + 3) / 4, sortCols = Seq("l_orderkey"))
    // <= not ==: repartitionByRange derives boundaries by SAMPLING, and
    // an empty range partition emits no file — skewed/small inputs can
    // legitimately land fewer than ceil(bytes/target) files. The real
    // gates are the disjoint key ranges below and the lossless hashes.
    require(rep.filesOut >= 1 && rep.filesOut <= 4,
      s"compaction must land at most 4 target-sized files, got ${rep.filesOut}")
    // clustering proof: per-file key ranges (4 driver rows) are disjoint
    val ranges = Taps.parquet(s, s"$root/compacted")
      .groupBy(input_file_name().as("f"))
      .agg(min(col("l_orderkey")).as("lo"), max(col("l_orderkey")).as("hi"))
      .collect().map(r => (r.getLong(1), r.getLong(2))).sortBy(_._1)
    ranges.iterator.sliding(2).withPartial(false).foreach { w =>
      require(w(0)._2 <= w(1)._1,
        s"compacted files overlap on the sort key: ${ranges.mkString(" ")}")
    }
    Taps.parquet(s, s"$root/compacted")
      .groupBy((col("l_orderkey") % 53).as("bucket"))
      .agg(count(lit(1)).as("cnt"),
        sum(col("qty")).cast(DoubleType).as("sum_qty"),
        sum(col("l_partkey")).as("sum_pk"))
  }

  /** WRITE-AUDIT-PUBLISH in the oracle gate
    * ([[graft.operators.Publish.publish]] — stage off the serving path,
    * audit the STAGED FILES with [[graft.operators.Check]] constraints,
    * promote by atomic rename + pointer swap; a failed audit leaves the
    * previous version serving). v1 = the orders snapshot; v2 = a
    * [[graft.operators.Snapshot.upsert]] of a delta onto the SERVED v1
    * (maintenance reads `current`, not its own lineage); v3 = a
    * deliberately key-duplicated build that must FAIL its unique-key
    * audit. The query REQUIRES v1/v2 published, v3 rejected with its
    * staging cleaned and the pointer still at 2, then returns the
    * served dataset — the hashes prove readers see exactly v2. */
  private def p93(s: SparkSession, d: String): DataFrame = {
    import graft.operators.{Check, Publish, Snapshot}
    val root = scratchDir("p93_pub", d)
    graft.streaming.Streams.deleteRecursivelyNoFollow(root)
    val base = tbl(d, "orders")(s)
      .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderpriority")
    val checks = Seq(Check.NotNull("o_orderkey"),
      Check.Unique(Seq("o_orderkey")))
    val r1 = Publish.publish(base.withColumn("version", lit(0L)),
      root, 1L, checks)
    require(r1.published, s"v1 audit failed: ${r1.violationsOrEmpty}")
    val delta = base.filter(col("o_orderkey") % 10 === 0)
      .withColumn("o_orderpriority", lit("UPDATED"))
      .withColumn("version", lit(1L))
    val v2 = Snapshot.upsert(Publish.current(s, root), delta,
      Seq("o_orderkey"), "version")
    val r2 = Publish.publish(v2, root, 2L, checks)
    require(r2.published, s"v2 audit failed: ${r2.violationsOrEmpty}")
    val corrupt = v2.unionByName(v2.filter(col("o_orderkey") % 7 === 0))
    val r3 = Publish.publish(corrupt, root, 3L, checks)
    require(!r3.published, "key-duplicated v3 must fail its unique audit")
    require(r3.violations.exists(_._1.startsWith("unique(")),
      s"v3 must fail on the unique constraint, got: ${r3.violationsOrEmpty}")
    require(Publish.currentVersion(s, root).contains(2L),
      s"pointer must still serve v2, got ${Publish.currentVersion(s, root)}")
    require(!new java.io.File(s"$root/v3").exists(),
      "rejected version must not exist on disk")
    require(!new java.io.File(s"$root/_tmp/staging_v3").exists(),
      "rejected staging must be cleaned")
    Publish.current(s, root)
  }

  /** DEDUP AUDIT REPORT in the oracle gate
    * ([[Dedup.dedupAudit]] — the explainability face of p11's near-dup
    * dedup): per document, its duplicate cluster (null = unclustered),
    * the cluster size, and whether the min-id survivor rule kept it.
    * Same candidates → jaccard-verify → connected-components machinery
    * as p11, so `WHERE kept` is p11's survivor set by construction
    * (DedupSpec pins the identity); the oracle extends p11's recursive-
    * CTE component table with the per-cluster size/representative
    * aggregation. */
  private def p94(s: SparkSession, d: String): DataFrame =
    Dedup.dedupAudit(tbl(d, "documents")(s), threshold = 0.6)

  /** One staged parquet file with a controlled mtime: the file source
    * replays in modification-time order with maxFilesPerTrigger=1, so
    * slice k is exactly micro-batch k (the PublishSpec idiom). */
  private def stageSliceFile(dir: String, df: DataFrame, mtime: Long): Unit = {
    val tmp = java.nio.file.Files.createTempDirectory("graft_p95_stage")
    df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
    val part = tmp.toFile.listFiles().filter(_.getName.startsWith("part-")).head
    val dst = java.nio.file.Paths.get(dir, part.getName)
    java.nio.file.Files.move(part.toPath, dst)
    dst.toFile.setLastModified(mtime): Unit
    graft.streaming.Streams.deleteRecursivelyNoFollow(tmp.toString)
  }

  /** STREAMING-ROOT RETENTION in the oracle gate
    * ([[graft.operators.Publish.foldBatches]] / `expireBatches` /
    * `_MANIFEST` — the lifecycle step that keeps a continuously-written
    * [[graft.streaming.Streams.streamingPublish]] root BOUNDED: without
    * it the root grows one `batch=N` dir per micro-batch forever and
    * committed-batch discovery pays an O(dirs) listing per read).
    *
    * The replay: orders sliced into 6 single-file micro-batches by
    * `o_orderkey % 6`; slice 3's `o_custkey` is nulled so its WHOLE
    * batch fails the NotNull audit and never becomes visible. Run 1
    * streams slices 0..3 (ids 0,1,2 commit; 3 rejected), then
    * `foldBatches` publishes the committed union as v1 through the full
    * stage/audit/commit machinery and `expireBatches` deletes the
    * folded dirs. The query REQUIRES on disk: manifest ==
    * (foldedVersion=1, foldedThrough=2, no batches), the folded dirs
    * gone, re-delivery of a folded id a NO-OP (dir not recreated), and
    * the poisoned slice still rejected on re-delivery. Run 2 restarts
    * the stream from the SAME checkpoint over two late slices (ids 4,5
    * commit beside the fold — exactly-once, nothing re-processed).
    * The returned aggregate of [[graft.operators.Publish.readCommitted]]
    * (= v1 ∪ batch=4 ∪ batch=5) hash-matches the plain
    * `WHERE o_orderkey % 6 <> 3` oracle — the fold/expire cycle is
    * lossless and the rejected batch stayed invisible. */
  private def p95(s: SparkSession, d: String): DataFrame = {
    import graft.operators.{Check, Publish}
    val root = scratchDir("p95_fold", d)
    graft.streaming.Streams.deleteRecursivelyNoFollow(root)
    val pub = s"$root/pub"
    val stage = s"$root/stage"
    val base = tbl(d, "orders")(s)
      .select("o_orderkey", "o_custkey", "o_totalprice")
    def slice(k: Int): DataFrame = {
      val sl = base.filter(col("o_orderkey") % 6 === k)
      if (k == 3) sl.withColumn("o_custkey", lit(null).cast("long")) else sl
    }
    val checks = Seq(Check.NotNull("o_custkey"))
    def run(): Unit = {
      val src = s.readStream.schema(Taps.parquet(s, stage).schema)
        .option("maxFilesPerTrigger", 1).parquet(stage)
      graft.streaming.Streams.streamingPublish(
        src, pub, s"$root/ckpt", checks): Unit
    }
    (0 to 3).foreach(k => stageSliceFile(stage, slice(k), (k + 1L) * 1000L))
    run()
    require(Publish.readManifest(s, pub)
        .contains(Publish.BatchManifest(None, -1L, Seq(0L, 1L, 2L))),
      s"run 1 must commit ids 0,1,2 and reject the poisoned 3: ${Publish.readManifest(s, pub)}")
    val fold = Publish.foldBatches(s, pub, targetBytes = 64L << 20, checks)
    require(fold.published && fold.version == 1L &&
        fold.foldedThrough == 2L && fold.batchesFolded == Seq(0L, 1L, 2L),
      s"fold must publish v1 over ids 0,1,2: $fold")
    val expired = Publish.expireBatches(s, pub)
    require(expired == Seq(0L, 1L, 2L), s"expire must vacuum the folded dirs, got $expired")
    require(Publish.readManifest(s, pub)
        .contains(Publish.BatchManifest(Some(1L), 2L, Nil)),
      s"manifest must record the fold: ${Publish.readManifest(s, pub)}")
    (0 to 2).foreach(k => require(!new java.io.File(s"$pub/batch=$k").exists(),
      s"folded dir batch=$k must be expired"))
    // re-delivery after fold+expire: a folded id is a no-op (no dir
    // reappears); the poisoned slice re-audits and is rejected again
    require(Publish.publishBatch(slice(0), pub, 0L, checks),
      "re-delivery of a folded id must report committed")
    require(!new java.io.File(s"$pub/batch=0").exists(),
      "re-delivery of a folded id must not recreate its dir")
    require(!Publish.publishBatch(slice(3), pub, 3L, checks),
      "the poisoned batch must stay rejected on re-delivery")
    // run 2: late slices through the SAME checkpoint — ids continue at 4
    (4 to 5).foreach(k => stageSliceFile(stage, slice(k), (k + 1L) * 1000L))
    run()
    require(Publish.readManifest(s, pub)
        .contains(Publish.BatchManifest(Some(1L), 2L, Seq(4L, 5L))),
      s"run 2 must commit ids 4,5 beside the fold: ${Publish.readManifest(s, pub)}")
    p95Agg(Publish.readCommitted(s, pub).get)
  }

  private def p95Agg(df: DataFrame): DataFrame =
    df.groupBy((col("o_orderkey") % 97).as("bucket"))
      .agg(count(lit(1)).as("cnt"),
        sum(col("o_custkey")).as("sum_ck"),
        sum(col("o_totalprice").cast(DecimalType(18, 2)))
          .cast(DoubleType).as("sum_price"))

  /** Keyed snapshot upsert ([[graft.operators.Snapshot.upsert]]): orders
    * as the v0 snapshot, a derived delta (every 10th key re-annotated at
    * v1, every 170th tombstoned) merged in one max_by aggregation —
    * updates win, stale rows lose, deletes drop. */
  private def p60(s: SparkSession, d: String): DataFrame = {
    val base = tbl(d, "orders")(s)
      .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderpriority")
    val snapshot = base
      .withColumn("version", lit(0L)).withColumn("deleted", lit(false))
    val delta = base.filter(col("o_orderkey") % 10 === 0)
      .withColumn("o_orderpriority", lit("UPDATED"))
      .withColumn("version", lit(1L))
      .withColumn("deleted", col("o_orderkey") % 170 === 0)
    graft.operators.Snapshot.upsert(snapshot, delta, Seq("o_orderkey"),
      "version", tombstoneCol = Some("deleted"))
      .drop("deleted")
  }

  /** Snapshot diff ([[graft.operators.Snapshot.diff]]): corpus-version
    * audit — every 13th key removed, every 10th surviving key
    * re-annotated, every 100th re-keyed in as new; the diff emits only
    * the added/removed/changed keys via one full-outer join with
    * null-safe payload comparison. */
  private def p61(s: SparkSession, d: String): DataFrame = {
    val base = tbl(d, "orders")(s)
      .select("o_orderkey", "o_custkey", "o_orderpriority")
    val neu = base.filter(col("o_orderkey") % 13 =!= 0)
      .withColumn("o_orderpriority",
        when(col("o_orderkey") % 10 === 0, lit("UPDATED"))
          .otherwise(col("o_orderpriority")))
      .unionByName(base.filter(col("o_orderkey") % 100 === 0)
        .withColumn("o_orderkey", col("o_orderkey") + 10000000L))
    graft.operators.Snapshot.diff(base, neu, Seq("o_orderkey"))
  }

  /** Text normalization ([[TextAnalysis.normalizeText]]): NFC + control
    * strip + whitespace collapse over every document, with before/after
    * length deltas — the standard first curation stage, hash-compared
    * string-for-string against the oracle's own NFC implementation. */
  private def p62(s: SparkSession, d: String): DataFrame =
    tbl(d, "documents")(s).select(col("doc_id"),
      TextAnalysis.normalizeText(col("text")).as("text_norm"),
      (length(col("text")) -
        length(TextAnalysis.normalizeText(col("text")))).cast("long").as("delta"))

  /** Time-series resample + forward fill ([[graft.operators.Resample]]):
    * events snapped to a per-user 1-hour grid between first and last
    * observation, gaps carrying the latest preceding value with an
    * observed flag. */
  private def p63(s: SparkSession, d: String): DataFrame = {
    val ev = tbl(d, "events")(s)
    graft.operators.Resample.gridFill(
      ev.select(col("user_id"), tsUs(ev).as("us"), col("value")),
      "user_id", "us", "value", step = 3600000000L)
  }

  /** BM25 seed-relevance gate ([[TextAnalysis.bm25Gate]]): every doc
    * scored against a query-term set with self-trained df/N/S stats —
    * the rank-a-crawl-against-a-reference-vocabulary filter in the
    * engine's quantized-rational arithmetic (k1 = 6/5, b = 3/4 make
    * the saturation an exact integer ratio; the Robertson idf rides as
    * its quantized ratio, not its libm log — see the bm25Score
    * scaladoc). The exact DECIMAL(38,0) relevance is presented as its
    * decimal string (the q21 VARCHAR contract): scale-0 decimals print
    * identically in Spark and DuckDB, where the raw decimal's hash
    * representation diverges across engines. */
  private def p64(s: SparkSession, d: String): DataFrame =
    TextAnalysis.bm25Gate(tbl(d, "documents")(s),
        Seq("spark", "window", "stream", "merge"))
      .withColumn("bm25_rel", col("bm25_rel").cast("string"))

  /** Top-3 TF-IDF keywords per doc ([[TextAnalysis.tfidfTopTerms]]):
    * exact integer tf·idfq scores, term-ascending tie-break — the
    * deterministic topic-tagging pass. Score presented as its decimal
    * string (same VARCHAR contract as p64). */
  private def p65(s: SparkSession, d: String): DataFrame =
    TextAnalysis.tfidfTopTerms(tbl(d, "documents")(s), k = 3)
      .withColumn("score", col("score").cast("string"))

  /** Cluster-balanced sampling ([[Similarity.clusterBalancedSample]]):
    * 8 k-means cells (deterministic lowest-id seeds, iters=0), exact
    * 20-per-cell quota by (md5(seed:id), id) rank — the
    * diversity-preserving subset pass; every value a pure function of
    * the corpus, replayed cell-for-cell by the oracle. */
  private def p66(s: SparkSession, d: String): DataFrame =
    Similarity.clusterBalancedSample(tbl(d, "embeddings")(s),
      cells = 8, perCell = 20, seed = "g9")

  /** KMV set operations: estimated vs exact distinct-order overlap between
    * the A and R return flags — union by monoid merge, intersection by the
    * K-min-values threshold estimator, both oracle-exact. */
  private def p30(s: SparkSession, d: String): DataFrame = {
    import graft.operators.Sketches
    val k = 128
    val li = tbl(d, "lineitem")(s).filter(col("l_returnflag").isin("A", "R"))
      .select(col("l_returnflag"), col("l_orderkey"))
    // sketches materialize once; the A/R splits below must not re-run the agg
    val sk = li
      .select(col("l_returnflag"),
        Sketches.md5Hash61(col("l_orderkey").cast("string")).as("_h"))
      .groupBy("l_returnflag").agg(Sketches.kmv(col("_h"), k).as("_sk"))
      .transform(graft.Stage.materialize)
    val a = sk.filter(col("l_returnflag") === "A").select(col("_sk").as("_ska"))
    val r = sk.filter(col("l_returnflag") === "R").select(col("_sk").as("_skr"))
    val exacts = li.distinct()
      .groupBy("l_orderkey").agg(count(lit(1)).as("_nf"))
      .agg(count(lit(1)).as("exact_union"),
        sum(when(col("_nf") === 2, 1L).otherwise(0L)).as("exact_intersect"))
    a.crossJoin(r).crossJoin(exacts).select(
      Sketches.kmvEstimate(Sketches.kmvUnion(col("_ska"), col("_skr"), k), k)
        .as("union_est"),
      Sketches.kmvIntersectEstimate(col("_ska"), col("_skr"), k)
        .as("intersect_est"),
      col("exact_union"), col("exact_intersect"))
  }

  /** Duplicate-span excision: every duplicated 6-gram keeps its canonical
    * first occurrence corpus-wide; covered positions elsewhere are removed
    * and the text rebuilt — the hash-compared transform behind p24. */
  private def p31(s: SparkSession, d: String): DataFrame =
    Dedup.exciseDuplicateSpans(tbl(d, "documents")(s), n = 6)

  /** Temperature-weighted mixture quotas (alpha = 0.5): per-source target
    * counts for a 100-doc budget — the reweighting that feeds p21's
    * quota sampler. */
  private def p33(s: SparkSession, d: String): DataFrame =
    TextAnalysis.mixtureWeights(tbl(d, "documents")(s), alpha = 0.5, total = 100L)

  /** Context-window chunking: 16-token chunks, 4-token overlap, tail
    * fragments under 4 tokens dropped — the pre-packing split. */
  private def p32(s: SparkSession, d: String): DataFrame =
    TextAnalysis.chunkTokens(tbl(d, "documents")(s),
      size = 16, overlap = 4, minTokens = 4)

  /** Bloom-pruned join (beyond-reference; operators.BloomJoin): the fact
    * side is semi-filtered by an in-plan bloom filter over the dim keys
    * before the exact join — identical result, minus most of the fact
    * shuffle when the dim is selective and too large (or too opaque) for
    * the optimizer's own runtime filters. */
  private def q40(s: SparkSession, d: String): DataFrame = {
    val dim = tbl(d, "supplier")(s).filter(col("s_nationkey") < 5)
      .select(col("s_suppkey").as("l_suppkey"), col("s_nationkey"))
    graft.operators.BloomJoin.bloomJoin(tbl(d, "lineitem")(s), dim, Seq("l_suppkey"))
      .groupBy("s_nationkey")
      .agg(count(lit(1)).as("n_items"),
        count_distinct(col("l_suppkey")).as("n_supps"))
  }

  /** Salted skew join (beyond-reference; operators.SkewJoin): hot
    * l_suppkey values spread over 4 salts before the shuffle, the dim
    * side replicated per salt — result identical to the plain join (the
    * oracle IS the plain join), task sizes bounded under key skew. The
    * low threshold forces most suppliers down the salted path while the
    * rest exercise the salt-0 fast path. The left keeps l_orderkey as the
    * `saltBy` disambiguator so the content-salting path (not the
    * positional fallback) is what the oracle exercises — a key-only
    * projection would put a hot key's identical rows on one salt
    * (ADVICE r8). */
  private def q41(s: SparkSession, d: String): DataFrame = {
    val dim = tbl(d, "supplier")(s)
      .select(col("s_suppkey").as("l_suppkey"), col("s_nationkey"))
    graft.operators.SkewJoin.saltedJoin(
        tbl(d, "lineitem")(s).select("l_suppkey", "l_orderkey"),
        dim, Seq("l_suppkey"), salts = 4, hotKeyThreshold = 500,
        saltBy = Seq("l_suppkey", "l_orderkey"))
      .groupBy("s_nationkey")
      .agg(count(lit(1)).as("n_items"),
        count_distinct(col("l_suppkey")).as("n_supps"))
  }

  /** As-of join (beyond-reference; the union+window composition —
    * operators.AsOf): every click event matched to the user's most recent
    * error event at or before it. */
  private def q35(s: SparkSession, d: String): DataFrame = {
    val ev = tbl(d, "events")(s)
    val e = ev.select(col("event_id"), col("user_id"),
      tsUs(ev).as("us"), col("event_type"))
    val clicks = e.filter(col("event_type") === "click").drop("event_type")
    val errors = e.filter(col("event_type") === "error").drop("event_type")
      .withColumnRenamed("us", "last_err_us")
      .withColumnRenamed("event_id", "last_err_id")
    graft.operators.AsOf.asofJoin(clicks, errors,
      key = Seq("user_id"), leftTime = "us", rightTime = "last_err_us")
  }

  /** Forward as-of join with tolerance: every click matched to the
    * user's NEXT error within 10 minutes (or nulls). */
  private def q38(s: SparkSession, d: String): DataFrame = {
    val ev = tbl(d, "events")(s)
    val e = ev.select(col("event_id"), col("user_id"),
      tsUs(ev).as("us"), col("event_type"))
    val clicks = e.filter(col("event_type") === "click").drop("event_type")
    val errors = e.filter(col("event_type") === "error").drop("event_type")
      .withColumnRenamed("us", "next_err_us")
      .withColumnRenamed("event_id", "next_err_id")
    graft.operators.AsOf.asofJoin(clicks, errors,
      key = Seq("user_id"), leftTime = "us", rightTime = "next_err_us",
      direction = "forward", tolerance = Some(600000000L))
  }

  /** Range join (beyond-reference; binned interval join — operators.
    * RangeJoin): purchases within 30 minutes after an error event of the
    * same user. */
  private def q36(s: SparkSession, d: String): DataFrame = {
    val gapUs = 1800000000L
    val ev = tbl(d, "events")(s)
    val e = ev.select(col("event_id"), col("user_id"),
      tsUs(ev).as("us"), col("event_type"))
    val purchases = e.filter(col("event_type") === "purchase").drop("event_type")
    val errors = e.filter(col("event_type") === "error")
      .select(col("event_id").as("err_id"), col("user_id"),
        col("us").as("err_us"), (col("us") + gapUs).as("_hi"))
    graft.operators.RangeJoin.rangeJoin(purchases, errors,
      key = Seq("user_id"), timeCol = "us", loCol = "err_us", hiCol = "_hi",
      binWidth = gapUs).drop("_hi")
  }

  /** Nested-value destructuring (reference get-in over nested payloads,
    * api_test.clj:785-790 / SURVEY §1.1) against the real JSON `props`
    * column: extract `$.k`, aggregate per event type. */
  private def q37(s: SparkSession, d: String): DataFrame =
    query("?event_type", "?sum_k", "?cnt")(
      events(d)("_", "_", "_", "?event_type", "_", "?props"),
      Ops.cmap(cs => get_json_object(cs(0), "$.k").cast("long"))("?props") :> "?k",
      Ops.sum("?k") :> "?sum_k",
      Ops.count() :> "?cnt").toDF(s)

  // --------------------------------------------------------------- driver

  /** Flagship query on sf=0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame = q03(spark, "/root/testdata/sf0.001")

  /** The query name → plan view of [[registry]] (perfbench and the specs
    * look plans up by name). */
  lazy val queries: Map[String, QuerySpec.Plan] =
    registry.map(q => q.name -> q.plan).toMap

  /** The name → DuckDB SQL view of every [[QuerySpec.Oracle]] check. */
  lazy val oracleSql: Map[String, String] =
    registry.collect { case QuerySpec(n, _, Oracle(sql), _) => n -> sql }.toMap

  private lazy val byName: Map[String, QuerySpec] = registry.map(q => q.name -> q).toMap

  /** The named queries in the order given, or the whole registry for no
    * names. An unknown name fails and lists the valid ones. */
  def select(names: Seq[String]): Seq[QuerySpec] = {
    val unknown = names.filterNot(byName.contains)
    require(unknown.isEmpty, s"unknown query ${unknown.mkString(", ")}; valid: " +
      registry.map(_.name).sorted.mkString(", "))
    if (names.isEmpty) registry else names.distinct.map(byName)
  }

  /** `SPARK_GRAFT_ONLY`: comma-separated query names restricting a local
    * run of Verify, Bench or Prof (unset or empty = every query). */
  def onlyNames: Seq[String] =
    sys.env.getOrElse("SPARK_GRAFT_ONLY", "").split(",").toSeq.map(_.trim).filter(_.nonEmpty)

  /** A streaming gate query: `staged` replayed through
    * [[graft.streaming.Streams.replayAsStream]] as 4 file micro-batches
    * into `transform`, then `post`, checked against the oracle `sql`.
    * Its batch plan is the same `post(transform(staged))` with no replay. */
  private def replayed(name: String, mode: String, staged: QuerySpec.Plan,
      transform: DataFrame => DataFrame, post: DataFrame => DataFrame = identity,
      orderedBy: Option[String] = None, sink: String = "memory",
      stateKeyHint: Option[Long] = None)(sql: String): QuerySpec =
    QuerySpec(name, (s, d) => post(graft.streaming.Streams.replayAsStream(staged(s, d),
        scratchDir(QuerySpec.shortKey(name) + "_stream", d), 4, mode, orderedBy, sink,
        stateKeyHint)(transform)),
      Oracle(sql), batchPlan = Some((s, d) => post(transform(staged(s, d)))))

  /** Fails on a repeated name or short key: a repeated key would make one
    * query shadow another in every name-keyed view and headline. */
  private[graft] def unique(specs: Seq[QuerySpec]): Seq[QuerySpec] = {
    Seq[QuerySpec => String](_.name, _.shortKey).foreach { key =>
      val dups = specs.groupBy(key).collect { case (k, v) if v.size > 1 => k }
      require(dups.isEmpty, s"duplicate query keys: ${dups.mkString(", ")}")
    }
    specs
  }

  /** q22's events rollup contract, shared VERBATIM by p82 (the streaming
    * replay of the same aggregation — the p57/p67 shared-oracle idiom). */
  private val eventsAggOracleSql: String =
    """SELECT event_type, COUNT(*) AS cnt,
      |CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
      |FROM events GROUP BY event_type""".stripMargin

  /** Shared by p55 (inline LPA) and p72 (LPA off the persisted
    * candidate tap): deterministic synchronous LPA, unrolled like p51 —
    * per round: neighbor label votes, max count per node, MIN label
    * among tied winners, no-in-edge nodes keep their own id. The four
    * round CTEs are generated by the same loop the operator runs. */
  private lazy val lpaOracleSql: String = {
    val prefix = MinhashGraphCte +
      """,
        |edges AS MATERIALIZED (SELECT id_a AS src, id_b AS dst FROM pairs
        |          UNION ALL SELECT id_b, id_a FROM pairs),
        |l0 AS MATERIALIZED (SELECT id, id AS label FROM nodes)""".stripMargin
    val steps = (1 to 4).map { i =>
      s"""v$i AS MATERIALIZED (SELECT e.dst AS id, l.label, COUNT(*) AS c
         |  FROM edges e JOIN l${i - 1} l ON l.id = e.src GROUP BY 1, 2),
         |b$i AS MATERIALIZED (SELECT id, MAX(c) AS m FROM v$i GROUP BY 1),
         |l$i AS MATERIALIZED (SELECT nodes.id, COALESCE(p.label, nodes.id) AS label
         |  FROM nodes LEFT JOIN (
         |    SELECT v$i.id, MIN(v$i.label) AS label
         |    FROM v$i JOIN b$i ON b$i.id = v$i.id AND v$i.c = b$i.m
         |    GROUP BY 1) p ON p.id = nodes.id)""".stripMargin
    }
    prefix + ",\n" + steps.mkString(",\n") +
      "\nSELECT id AS doc_id, label AS community FROM l4"
  }

  /** Shared by p68 (one-aggregator batch sketch) and p89 (the sharded
    * streaming build of the SAME sketch, merged by the CMS monoid):
    * the count-min sketch replayed cell-for-cell — md5 row hashes
    * assign cells, counters aggregate per (row, cell), estimates MIN
    * over each top token's cells. */
  private lazy val cmsHeavyOracleSql: String =
    """WITH tk AS (SELECT unnest(list_filter(
      |    regexp_split_to_array(lower(trim(text)), '\W+'), x -> x != '')) AS tok
      |  FROM documents),
      |cells AS (SELECT r.i AS row_i,
      |    CAST((md5_number_lower('cms' || r.i || ':' || tok)
      |      & 2305843009213693951) % 512 AS BIGINT) AS cell,
      |    COUNT(*) AS c
      |  FROM tk, generate_series(0, 3) r(i) GROUP BY 1, 2),
      |top AS (SELECT tok, COUNT(*) AS n_exact FROM tk GROUP BY 1
      |  ORDER BY n_exact DESC, tok ASC LIMIT 20),
      |est AS (SELECT t.tok, t.n_exact, MIN(c.c) AS n_est
      |  FROM top t
      |  CROSS JOIN generate_series(0, 3) r(i)
      |  JOIN cells c ON c.row_i = r.i AND c.cell =
      |    CAST((md5_number_lower('cms' || r.i || ':' || t.tok)
      |      & 2305843009213693951) % 512 AS BIGINT)
      |  GROUP BY 1, 2)
      |SELECT tok, n_exact, n_est FROM est""".stripMargin

  /** Shared by p57 (broadcast eval) and p67 (bloom-pruned shuffle):
    * identical output by contract — the bloom pass only prunes the
    * train-side exchange, the exact verify decides membership. */
  private lazy val decontamOracleSql: String = MinhashGraphCte +
    """,
      |cand AS (
      |  SELECT t.doc_id AS train_id, e.doc_id AS eval_id
      |  FROM banded t JOIN banded e ON t.band = e.band AND t.band_key = e.band_key
      |  JOIN documents dt ON dt.doc_id = t.doc_id
      |  JOIN documents de ON de.doc_id = e.doc_id
      |  WHERE dt.source NOT IN ('src0', 'src1')
      |    AND de.source IN ('src0', 'src1')
      |  GROUP BY 1, 2),
      |""".stripMargin + shingleSets(mat = false) + s""",
      |bad AS (
      |  SELECT DISTINCT train_id FROM cand
      |  JOIN shs sa ON sa.doc_id = cand.train_id
      |  JOIN shs sb ON sb.doc_id = cand.eval_id
      |  WHERE (${jaccard("sa", "sb")}) >= 0.8)
      |SELECT d.* FROM documents d
      |WHERE d.source NOT IN ('src0', 'src1')
      |  AND d.doc_id NOT IN (SELECT train_id FROM bad)""".stripMargin

  /** p11 and p17: min-id survivors of the near-dup components. */
  private lazy val neardupOracleSql: String =
    neardupCompCte + ",\n" + minIdSurvivors("documents", mat = false)

  /** p76: quality-keyed survivors — per component keep the max-n_chars
    * member, ties broken by min id (the engine casts scores to double;
    * n_chars < 2^53 so the cast is lossless and the comparison exact). */
  private lazy val neardupByOracleSql: String = neardupCompCte +
    """,
      |cscore AS (SELECT comp.component, comp.id, d.n_chars
      |  FROM comp JOIN documents d ON d.doc_id = comp.id),
      |best AS (SELECT component, MAX(n_chars) AS b FROM cscore GROUP BY component),
      |keep AS (SELECT c.component, MIN(c.id) AS doc_id
      |  FROM cscore c JOIN best USING (component)
      |  -- null-safe: an all-null-score cluster (best.b NULL) must keep
      |  -- its min id, matching the engine's <=> fallback
      |  WHERE c.n_chars IS NOT DISTINCT FROM best.b GROUP BY c.component)
      |SELECT d.doc_id, d.lang, d.source, d.n_chars FROM documents d
      |LEFT JOIN comp ON comp.id = d.doc_id WHERE comp.id IS NULL
      |UNION ALL
      |SELECT d.doc_id, d.lang, d.source, d.n_chars
      |FROM keep JOIN documents d ON d.doc_id = keep.doc_id""".stripMargin

  /** Shared by p06 (batch banded candidates) and p90 (the streaming
    * bucket-state build of the SAME pair set — batch-boundary-
    * invariant because every arrival pairs against all prior bucket
    * members): shingle → 64 md5-permutation minima → 16 bands →
    * all pairs per (band, band_key), dedup'd across bands. */
  private lazy val minhashPairsOracleSql: String =
    "WITH " + minhashBands("documents", mat = false) + "\n" + bandPairs

  /** Exact cosine top-`k` over the whole corpus for the probes `vec_id <
    * probes`: p08, and p34, whose full-nProbe IVF routing reaches every
    * cell and so equals brute force by definition. */
  private def bruteKnnOracleSql(probes: Int, k: Int): String =
    "WITH " + vectors("c") + s""",
      |p AS (SELECT vec_id AS probe_id, e AS pe FROM c WHERE vec_id < $probes),
      |scored AS (
      |  SELECT p.probe_id, c.vec_id AS corpus_id,
      |    ${cosine("e", "pe")} AS cosine
      |  FROM c, p)
      |${topKByCosine(k)}""".stripMargin

  /** q23's statistical contract, the check that replaces the hash for the
    * rows-only engine-RNG Bernoulli sample. [[Verify]] executes it at
    * dump time and writes `q23_sample.contract.json` beside the parquet,
    * so the correctness artifact SELF-DESCRIBES the check (VERDICT r13
    * item #7) instead of a bare `no_oracle`. It returns (check, passed,
    * detail) triples; every check is a distributed computation (no
    * driver-side collect of the data), so it also runs at sf10 scale. */
  private def q23Checks(s: SparkSession, d: String): Seq[(String, Boolean, String)] = {
    // (1) determinism: the seeded sample is run-to-run identical on
    // the same data + partitioning — compared by a distributed
    // content signature (order-free hash sum + count), never a collect
    def sig(df: DataFrame): Row = df.agg(
      // decimal sum: a Long sum of 64-bit hashes overflows under ANSI
      sum(xxhash64(col("l_orderkey"), col("l_linenumber"))
        .cast(DecimalType(38, 0))).as("h"),
      count(lit(1)).as("n")).collect()(0)
    val s1 = sig(q23(s, d)); val s2 = sig(q23(s, d))
    val n1 = s1.getLong(1)
    // (2) source-subset: no sampled row outside the source relation
    val src = tbl(d, "lineitem")(s).select("l_orderkey", "l_linenumber")
    val extra = q23(s, d).except(src).count()
    // (3) binomial bound: count within 5 sigma of fraction*n
    val n = src.count().toDouble
    val expect = 0.1 * n
    val sigma = math.sqrt(n * 0.1 * 0.9)
    Seq(
      ("deterministic_fixed_seed", s1 == s2, s"sig run1=$s1 run2=$s2"),
      ("subset_of_source", extra == 0L, s"rows outside source: $extra"),
      ("binomial_5sigma", math.abs(n1 - expect) <= 5 * sigma,
        f"sampled $n1 of ${n.toLong} (expect $expect%.1f ± ${5 * sigma}%.1f)"))
  }

  /** q23's contract oracle (VERDICT r16 #3): DuckDB SQL authored by
    * [[Verify]] at dump time because it reads the dumped parquet itself
    * (the dump dir is only known then). The SQL recomputes the
    * statistical contract INDEPENDENTLY in DuckDB — every sampled row
    * must exist in the source `lineitem` table, and the sampled count
    * must sit within 6σ of the 10% Bernoulli bound on the source row
    * count — and echoes the dumped rows IFF every check passes (else it
    * returns zero rows and the hash compare fails loudly). So the
    * driver's q23 row reads rows/schema/hash-match exactly when the
    * DuckDB-verified contract holds, instead of `no_oracle` nulls. This
    * is NOT an exact-membership oracle and is not presented as one: row
    * membership is engine-RNG by design (reference `sample*`,
    * cascading/operations.clj:109-116 — Bernoulli by percentage,
    * seeded); q39_sample_det is the hash-exact deterministic twin, and
    * [[q23Checks]] additionally checks run-to-run determinism
    * distributedly. */
  private def q23ContractSql(dumpDir: String): String =
    s"""WITH s AS (SELECT l_orderkey, l_linenumber
       |           FROM read_parquet('$dumpDir/q23_sample/*.parquet')),
       |chk AS (SELECT
       |  (SELECT COUNT(*) FROM s) AS k,
       |  (SELECT COUNT(*) FROM lineitem) AS n,
       |  (SELECT COUNT(*) FROM s WHERE NOT EXISTS (SELECT 1
       |     FROM lineitem l WHERE l.l_orderkey = s.l_orderkey
       |       AND l.l_linenumber = s.l_linenumber)) AS extra)
       |SELECT s.l_orderkey, s.l_linenumber FROM s, chk
       |WHERE chk.extra = 0
       |  AND abs(chk.k - 0.1 * chk.n) <= 6.0 * sqrt(chk.n * 0.1 * 0.9)""".stripMargin

  /** Every contract query, once: its name, plan, check and — for the
    * streaming gate queries — the batch plan of the streaming transform.
    * Lazy, so every SQL val above is initialized before it is read. */
  lazy val registry: Seq[QuerySpec] = unique(Seq(
    QuerySpec("q01_multi_agg", q01, Oracle(
      """SELECT l_returnflag, l_linestatus,
        |CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
        |CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price,
        |CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE)/COUNT(l_quantity) AS avg_qty,
        |COUNT(*) AS cnt
        |FROM lineitem GROUP BY l_returnflag, l_linestatus""".stripMargin)),
    QuerySpec("q02_filter_map", q02, Oracle(
      """SELECT l_orderkey, l_extendedprice * (1.0 - l_discount) AS revenue
        |FROM lineitem WHERE l_quantity < 3.0""".stripMargin)),
    QuerySpec("q03_join_agg", q03, Oracle(
      """SELECT c_mktsegment,
        |CAST(SUM(CAST(FLOOR(l_extendedprice * (1.0 - l_discount) * 10000.0 + 0.5) AS BIGINT)) AS DOUBLE) / 10000.0 AS revenue,
        |COUNT(*) AS n_items
        |FROM customer JOIN orders ON o_custkey = c_custkey
        |JOIN lineitem ON l_orderkey = o_orderkey
        |GROUP BY c_mktsegment""".stripMargin)),
    QuerySpec("q04_dim_join", q04, Oracle(
      """SELECT r_name, COUNT(*) AS n_nations
        |FROM region JOIN nation ON n_regionkey = r_regionkey
        |GROUP BY r_name""".stripMargin)),
    QuerySpec("q05_outer_count", q05, Oracle(
      """SELECT c_custkey, COUNT(o_orderkey) AS order_cnt
        |FROM customer LEFT JOIN orders ON o_custkey = c_custkey
        |GROUP BY c_custkey""".stripMargin)),
    QuerySpec("q06_semi_join", q06, Oracle(
      """SELECT c_custkey, c_name FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)""".stripMargin)),
    QuerySpec("q07_anti_join", q07, Oracle(
      """SELECT c_custkey, c_name FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |  WHERE o_custkey = c_custkey AND o_orderstatus = 'F')""".stripMargin)),
    QuerySpec("q08_exists_flag", q08, Oracle(
      """SELECT c_custkey,
        |c_custkey IN (SELECT o_custkey FROM orders) AS has_order
        |FROM customer""".stripMargin)),
    QuerySpec("q09_distinct", q09, Oracle(
      "SELECT DISTINCT c_mktsegment AS mktsegment FROM customer")),
    QuerySpec("q10_union", q10, Oracle(
      """SELECT c_nationkey AS nationkey FROM customer
        |UNION SELECT s_nationkey FROM supplier""".stripMargin)),
    QuerySpec("q11_union_all", q11, Oracle(
      """SELECT c_nationkey AS nationkey FROM customer
        |UNION ALL SELECT s_nationkey FROM supplier""".stripMargin)),
    QuerySpec("q12_topk_global", q12, Oracle(
      """SELECT c_custkey, c_acctbal FROM customer
        |ORDER BY c_acctbal DESC, c_custkey DESC LIMIT 10""".stripMargin)),
    QuerySpec("q13_topk_pergroup", q13, Oracle(
      """SELECT o_custkey, o_orderkey AS top_orderkey, o_totalprice AS top_price
        |FROM (SELECT o_custkey, o_orderkey, o_totalprice,
        |  ROW_NUMBER() OVER (PARTITION BY o_custkey
        |    ORDER BY o_totalprice DESC, o_orderkey DESC) AS rn FROM orders) t
        |WHERE rn <= 3""".stripMargin)),
    QuerySpec("q14_count_distinct", q14, Oracle(
      "SELECT COUNT(DISTINCT o_custkey) AS n_cust FROM orders")),
    QuerySpec("q15_having", q15, Oracle(
      "SELECT o_custkey FROM orders GROUP BY o_custkey HAVING COUNT(*) = 10")),
    QuerySpec("q16_dup_var_eq", q16, Oracle(
      """SELECT l_orderkey, l_partkey AS k FROM lineitem
        |WHERE l_partkey = l_suppkey""".stripMargin)),
    QuerySpec("q17_wordcount", q17, Oracle(
      """SELECT token AS word, COUNT(*) AS cnt FROM
        |(SELECT UNNEST(regexp_extract_all(text, '\S+')) AS token FROM documents) t
        |GROUP BY token""".stripMargin)),
    QuerySpec("q18_buffer_first", q18, Oracle(
      """SELECT o_custkey, MIN(o_orderdate) AS first_date
        |FROM orders GROUP BY o_custkey""".stripMargin)),
    QuerySpec("q19_cross_join", q19, Oracle(
      "SELECT r_name, n_name FROM region CROSS JOIN nation")),
    QuerySpec("q20_global_agg", q20, Oracle(
      """SELECT COUNT(*) AS cnt,
        |CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
        |MAX(l_shipdate) AS max_ship FROM lineitem""".stripMargin)),
    // q21: the DECIMAL(28,8) sum exceeds 2^53 units at sf>=0.1, so its
    // double conversion rounds. Spark's cast is correctly rounded
    // (BigDecimal.doubleValue); DuckDB's direct decimal->double is off by
    // an ulp on some values (measured at sf0.1), so the oracle routes the
    // conversion through VARCHAR — decimal->string is exact and
    // string->double correctly rounded in both engines — making the
    // contract "correctly rounded" rather than "whatever the engine does"
    QuerySpec("q21_variance", q21, Oracle(
      """SELECT c_mktsegment, a - m*m AS var_bal FROM
        |(SELECT c_mktsegment,
        |  CAST(CAST(SUM(CAST(CAST(c_acctbal AS DECIMAL(18,4)) * CAST(c_acctbal AS DECIMAL(18,4))
        |    AS DECIMAL(28,8))) AS VARCHAR) AS DOUBLE)/COUNT(*) AS a,
        |  CAST(CAST(SUM(CAST(c_acctbal AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE)/COUNT(*) AS m
        | FROM customer GROUP BY c_mktsegment) t""".stripMargin)),
    QuerySpec("q22_events_agg", q22, Oracle(eventsAggOracleSql)),
    QuerySpec("q23_sample", q23, Contract(q23Checks, q23ContractSql)),
    QuerySpec("q24_subquery", q24, Oracle(
      """SELECT c_mktsegment, COUNT(*) AS big_orders
        |FROM customer JOIN (SELECT o_orderkey, o_custkey FROM orders
        |  WHERE o_totalprice > 100000.0) t ON t.o_custkey = c_custkey
        |GROUP BY c_mktsegment""".stripMargin)),
    QuerySpec("q25_predmacro_avg", q25, Oracle(
      """SELECT c_mktsegment,
        |CAST(SUM(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE)/COUNT(*) AS avg_bal
        |FROM customer GROUP BY c_mktsegment""".stripMargin)),
    QuerySpec("q26_intersect", q26, Oracle(
      """SELECT c_nationkey AS nationkey FROM customer
        |INTERSECT SELECT s_nationkey FROM supplier""".stripMargin)),
    QuerySpec("q27_except", q27, Oracle(
      """SELECT c_nationkey AS nationkey FROM customer WHERE c_acctbal > 9000.0
        |EXCEPT SELECT s_nationkey FROM supplier WHERE s_acctbal > 9000.0""".stripMargin)),
    QuerySpec("q28_window_running", q28, Oracle(
      """SELECT o_custkey, o_orderkey,
        |CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) OVER (
        |  PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
        |AS running_total FROM orders""".stripMargin)),
    QuerySpec("q32_preagg_join", q32, Oracle(
      """SELECT c_mktsegment,
        |CAST(SUM(CAST(FLOOR(l_extendedprice * (1.0 - l_discount) * 10000.0 + 0.5) AS BIGINT)) AS DOUBLE) / 10000.0 AS revenue,
        |COUNT(*) AS n_items
        |FROM customer JOIN orders ON o_custkey = c_custkey
        |JOIN lineitem ON l_orderkey = o_orderkey
        |GROUP BY c_mktsegment""".stripMargin)),
    QuerySpec("q33_rollup", q33, Oracle(
      """SELECT l_returnflag, l_linestatus,
        |CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
        |COUNT(*) AS cnt
        |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)""".stripMargin)),
    QuerySpec("q29_full_outer", q29, Oracle(
      """SELECT COALESCE(c.nk, s.nk) AS nk, c.c_cnt, s.s_cnt FROM
        |(SELECT c_nationkey AS nk, COUNT(*) AS c_cnt FROM customer
        |  WHERE c_acctbal > 9000.0 GROUP BY 1) c
        |FULL OUTER JOIN
        |(SELECT s_nationkey AS nk, COUNT(*) AS s_cnt FROM supplier
        |  WHERE s_acctbal > 9000.0 GROUP BY 1) s
        |ON c.nk = s.nk""".stripMargin)),
    QuerySpec("q30_lag_buffer", q30, Oracle(
      """SELECT o_custkey, o_orderkey AS ok2,
        |o_totalprice - LAG(o_totalprice) OVER (PARTITION BY o_custkey
        |  ORDER BY o_orderdate, o_orderkey) AS delta
        |FROM orders""".stripMargin)),
    QuerySpec("q31_multigroup", q31, Oracle(
      """SELECT COALESCE(c.nationkey, s.nationkey) AS nationkey,
        |COALESCE(c.n_cust, 0) AS n_cust, COALESCE(s.n_supp, 0) AS n_supp
        |FROM (SELECT c_nationkey AS nationkey, COUNT(*) AS n_cust
        |  FROM customer GROUP BY 1) c
        |FULL OUTER JOIN (SELECT s_nationkey AS nationkey, COUNT(*) AS n_supp
        |  FROM supplier GROUP BY 1) s
        |ON c.nationkey = s.nationkey""".stripMargin)),
    QuerySpec("p01_exact_dedup", p01, Oracle(
      """SELECT md5(text) AS content_hash, MIN(doc_id) AS keep_id,
        |COUNT(*) AS dup_count FROM documents GROUP BY md5(text)""".stripMargin)),
    QuerySpec("p02_token_count", p02, Oracle(
      """SELECT doc_id, CAST(len(regexp_extract_all(text, '\S+')) AS BIGINT)
        |AS token_count FROM documents""".stripMargin)),
    QuerySpec("p03_chars_per_token", p03, Oracle(
      """SELECT doc_id, CAST(LENGTH(text) AS DOUBLE) /
        |GREATEST(CAST(len(regexp_extract_all(text, '\S+')) AS BIGINT), 1)
        |AS chars_per_token FROM documents""".stripMargin)),
    QuerySpec("p04_stopword_hits", p04, Oracle(
      """SELECT doc_id, CAST(len(list_intersect(
        |list_distinct(regexp_extract_all(lower(text), '[a-z]+')),
        |['the','and','of','to','in','is','that','it','for','was'])) AS BIGINT)
        |AS en_hits FROM documents""".stripMargin)),
    QuerySpec("p12_quality_score", p12, Oracle(
      """WITH t AS (SELECT doc_id, text,
        |  regexp_split_to_array(lower(trim(text)), '\s+') AS toks FROM documents)
        |SELECT doc_id,
        |  CAST(length(text) AS BIGINT) AS n_chars,
        |  CAST(len(toks) AS BIGINT) AS n_tokens,
        |  CAST(length(regexp_replace(text, '[^[:punct:]]', '', 'g')) AS DOUBLE)
        |    / greatest(length(text), 1) AS punct_ratio,
        |  CAST(len(list_intersect(toks, ['the','a','an','and','or','of','to','in','is','it','that','for','on','with','as','was','at','by'])) AS DOUBLE)
        |    / greatest(len(toks), 1) AS stopword_ratio,
        |  (CAST(length(text) AS DOUBLE) - len(toks) + 1) / greatest(len(toks), 1) AS mean_word_len,
        |  CAST(length(regexp_replace(text, '[^A-Z]', '', 'g')) AS DOUBLE)
        |    / greatest(length(text), 1) AS upper_ratio
        |FROM t""".stripMargin)),
    QuerySpec("p13_jaccard_verify", p13, Oracle(
      "WITH " + minhashBands("documents", mat = false) + ",\n" +
        bandPairsCte("cand", mat = false) + ",\n" + shingleSets(mat = false) + s"""
        |SELECT id_a, id_b, jaccard FROM (
        |  SELECT id_a, id_b,
        |    ${jaccard("sa", "sb")} AS jaccard
        |  FROM cand
        |  JOIN shs sa ON sa.doc_id = cand.id_a JOIN shs sb ON sb.doc_id = cand.id_b) t
        |WHERE jaccard >= 0.5""".stripMargin)),
    QuerySpec("q34_sessionize", q34, Oracle(
      """WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS us FROM events),
        |m AS (SELECT user_id, event_id, us,
        |  CASE WHEN lag(us) OVER (PARTITION BY user_id ORDER BY us, event_id) IS NULL
        |         OR us - lag(us) OVER (PARTITION BY user_id ORDER BY us, event_id) > 1800000000
        |       THEN 1 ELSE 0 END AS new_s FROM e),
        |s AS (SELECT user_id, us,
        |  CAST(SUM(new_s) OVER (PARTITION BY user_id ORDER BY us, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id FROM m)
        |SELECT user_id, session_id, COUNT(*) AS n_events,
        |  MIN(us) AS start_us, MAX(us) AS end_us
        |FROM s GROUP BY user_id, session_id""".stripMargin)),
    QuerySpec("p14_length_quantiles", p14, Oracle(
      """SELECT source, COUNT(*) AS n_docs,
        |quantile_cont(n_chars, 0.25) AS len_q25,
        |quantile_cont(n_chars, 0.5) AS len_q50,
        |quantile_cont(n_chars, 0.75) AS len_q75
        |FROM documents GROUP BY source""".stripMargin)),
    QuerySpec("q35_asof_join", q35, Oracle(
      """WITH e AS (SELECT event_id, user_id, epoch_us(ts) AS us, event_type FROM events),
        |c AS (SELECT event_id, user_id, us FROM e WHERE event_type = 'click'),
        |x AS (SELECT event_id AS last_err_id, user_id, us AS last_err_us FROM e
        |      WHERE event_type = 'error')
        |SELECT c.event_id, c.user_id, c.us, x.last_err_us, x.last_err_id
        |FROM c ASOF LEFT JOIN x
        |ON c.user_id = x.user_id AND c.us >= x.last_err_us""".stripMargin)),
    QuerySpec("q38_asof_forward", q38, Oracle(
      """WITH e AS (SELECT event_id, user_id, epoch_us(ts) AS us, event_type FROM events),
        |c AS (SELECT event_id, user_id, us FROM e WHERE event_type = 'click'),
        |x AS (SELECT event_id, user_id, us FROM e WHERE event_type = 'error')
        |SELECT c.event_id, c.user_id, c.us,
        |  (SELECT x.event_id FROM x WHERE x.user_id = c.user_id
        |     AND x.us >= c.us AND x.us - c.us <= 600000000
        |     ORDER BY x.us LIMIT 1) AS next_err_id,
        |  (SELECT MIN(x.us) FROM x WHERE x.user_id = c.user_id
        |     AND x.us >= c.us AND x.us - c.us <= 600000000) AS next_err_us
        |FROM c""".stripMargin)),
    QuerySpec("q39_sample_det", q39, Oracle(
      """SELECT l_orderkey, l_linenumber FROM lineitem
        |WHERE md5(l_orderkey || '_' || l_linenumber) < '1a'""".stripMargin)),
    QuerySpec("q36_range_join", q36, Oracle(
      """WITH e AS (SELECT event_id, user_id, epoch_us(ts) AS us, event_type FROM events)
        |SELECT p.event_id, p.user_id, p.us,
        |       x.event_id AS err_id, x.us AS err_us
        |FROM (SELECT * FROM e WHERE event_type = 'purchase') p
        |JOIN (SELECT * FROM e WHERE event_type = 'error') x
        |ON p.user_id = x.user_id AND p.us >= x.us
        |   AND p.us <= x.us + 1800000000""".stripMargin)),
    QuerySpec("q37_json_destructure", q37, Oracle(
      """SELECT event_type,
        |CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
        |COUNT(*) AS cnt
        |FROM events GROUP BY event_type""".stripMargin)),
    QuerySpec("p15_curate", p15, Oracle(
      """WITH RECURSIVE gated AS MATERIALIZED (
        |  SELECT doc_id, text, lang, source FROM (
        |    SELECT doc_id, text, lang, source,
        |      CAST(length(regexp_replace(text, '[^[:punct:]]', '', 'g')) AS DOUBLE)
        |        / greatest(length(text), 1) AS pr,
        |      CAST(len(list_intersect(regexp_split_to_array(lower(trim(text)), '\s+'),
        |        ['the','a','an','and','or','of','to','in','is','it','that','for','on','with','as','was','at','by'])) AS DOUBLE)
        |        / greatest(len(regexp_split_to_array(lower(trim(text)), '\s+')), 1) AS sr,
        |      list_max([
        |        {'hits': len(list_intersect(wtoks, ['der','die','das','und','ist','nicht','ein','mit','sie','auf'])), 'lang': 'de'},
        |        {'hits': len(list_intersect(wtoks, ['the','and','of','to','in','is','that','it','for','was'])), 'lang': 'en'},
        |        {'hits': len(list_intersect(wtoks, ['el','la','los','que','y','es','una','por','con','para'])), 'lang': 'es'},
        |        {'hits': len(list_intersect(wtoks, ['le','la','les','et','est','une','que','pour','dans','pas'])), 'lang': 'fr'},
        |        {'hits': len(list_intersect(wtoks, ['il','la','che','di','e','un','per','non','sono','con'])), 'lang': 'it'}
        |      ]) AS best
        |    FROM (SELECT *, list_distinct(regexp_split_to_array(lower(trim(text)), '\W+')) AS wtoks
        |          FROM documents) d0) t
        |  WHERE length(text) >= 100 AND pr <= 0.2 AND sr >= 0.01
        |    AND (CASE WHEN best.hits > 0 THEN best.lang ELSE 'und' END) = 'en'),
        |""".stripMargin + neardupComponents("gated") + ",\n" + minIdSurvivors("gated", mat = true))),
    // --- sketch-kernel oracles: the md5-derived kernels (graft.pipeline.Md5)
    // are replicated step-for-step in SQL; md5_number_lower == Md5.lower64.
    QuerySpec("p05_fingerprint_langid", p05, Oracle(
      """WITH tk AS (
        |  SELECT doc_id,
        |    regexp_split_to_array(lower(trim(text)), '\s+') AS toks,
        |    list_distinct(regexp_split_to_array(lower(trim(text)), '\W+')) AS wtoks
        |  FROM documents),
        |scored AS (
        |  SELECT doc_id, toks, list_max([
        |    {'hits': len(list_intersect(wtoks, ['der','die','das','und','ist','nicht','ein','mit','sie','auf'])), 'lang': 'de'},
        |    {'hits': len(list_intersect(wtoks, ['the','and','of','to','in','is','that','it','for','was'])), 'lang': 'en'},
        |    {'hits': len(list_intersect(wtoks, ['el','la','los','que','y','es','una','por','con','para'])), 'lang': 'es'},
        |    {'hits': len(list_intersect(wtoks, ['le','la','les','et','est','une','que','pour','dans','pas'])), 'lang': 'fr'},
        |    {'hits': len(list_intersect(wtoks, ['il','la','che','di','e','un','per','non','sono','con'])), 'lang': 'it'}
        |  ]) AS best FROM tk)
        |SELECT doc_id,
        |  list_reduce(list_prepend(0::BIGINT, list_transform(toks,
        |    t -> CAST(md5_number_lower(t) & 2305843009213693951 AS BIGINT))),
        |    (a, b) -> CAST(((a::HUGEINT) * 1000003 + b) % 2305843009213693951 AS BIGINT)) AS fingerprint,
        |  CASE WHEN best.hits > 0 THEN best.lang ELSE 'und' END AS lang_pred
        |FROM scored""".stripMargin)),
    QuerySpec("p06_minhash_pairs", p06, Oracle(minhashPairsOracleSql)),
    replayed("p90_stream_lsh", "append", p90Staged, p90Transform, p90Post)(
      minhashPairsOracleSql),
    QuerySpec("p16_capped_candidates", p16, Oracle(
      "WITH " + minhashBands("documents", mat = false) + """,
        |sized AS (
        |  SELECT doc_id, band, band_key,
        |    COUNT(*) OVER (PARTITION BY band, band_key) AS bsz,
        |    MIN(doc_id) OVER (PARTITION BY band, band_key) AS hub
        |  FROM banded)
        |SELECT l.doc_id AS id_a, r.doc_id AS id_b
        |FROM sized l JOIN sized r ON l.band = r.band AND l.band_key = r.band_key
        |WHERE l.bsz <= 2 AND l.doc_id < r.doc_id
        |UNION
        |SELECT hub AS id_a, doc_id AS id_b FROM sized
        |WHERE bsz > 2 AND doc_id != hub""".stripMargin)),
    QuerySpec("p07_simhash", p07, Oracle(
      "WITH " + simhashBits + """
        |SELECT doc_id, CAST(CASE WHEN v >= 9223372036854775808 THEN v - 18446744073709551616
        |  ELSE v END AS BIGINT) AS simhash FROM shu""".stripMargin)),
    QuerySpec("p08_knn_brute", p08, Oracle(bruteKnnOracleSql(probes = 8, k = 10))),
    // p34: nProbe = cells ⇒ IVF routing reaches every cell, the candidate
    // set is the full corpus, and the result is definitionally equal to
    // exact brute-force top-k — which bruteKnnOracleSql recomputes
    QuerySpec("p34_ivf_knn", p34, Oracle(bruteKnnOracleSql(probes = 6, k = 8))),
    QuerySpec("p09_knn_lsh", p09, Oracle(
      "WITH " + vectors("c0") + ",\n" + hyperplaneSig(planes = 4) + ",\n" +
        multiProbe("scored") + "\n" + topKByCosine(10))),
    QuerySpec("p11_neardup_dedup", p11, Oracle(neardupOracleSql)),
    QuerySpec("p17_neardup_star", p17, Oracle(neardupOracleSql)),
    QuerySpec("p76_quality_dedup", p76, Oracle(neardupByOracleSql)),
    QuerySpec("p79_profile", p79, Oracle(profileOracleSql)),
    // p81: batched BPE training (numMerges=8, batchMerges=4, the
    // engine's defaults otherwise) — see batchedBpeOracleSql
    QuerySpec("p81_bpe_batch", p81, Oracle(batchedBpeOracleSql(numMerges = 8, m = 4, minPairFreq = 2))),
    // p82: the streaming complete-mode rollup equals the batch GROUP BY
    // (q22's oracle contract, shared by design like p57/p67 — the SAME
    // string, so the two contracts cannot drift apart silently)
    replayed("p82_stream_agg", "complete", (s, d) => tbl(d, "events")(s), p82Transform)(
      eventsAggOracleSql),
    // p83: append-mode watermarked daily windows — emitted iff
    // window_end <= floor_ms(max ts) - 6h (inclusive; semantics pinned
    // by StreamReplaySpec's tie case)
    replayed("p83_stream_window", "append", p83Staged, p83Transform,
      orderedBy = Some("ets"))(
      """WITH e AS (SELECT epoch_us(ts) AS us FROM events WHERE ts IS NOT NULL),
        |wm AS (SELECT (max(us) // 1000) * 1000 - 21600000000 AS w FROM e)
        |SELECT (us // 86400000000) * 86400000000 AS ws_us, COUNT(*) AS cnt
        |FROM e, wm GROUP BY 1, wm.w
        |HAVING ws_us + 86400000000 <= wm.w""".stripMargin),
    // p84: the streaming upsert's final state = p60's max_by contract
    // over (version, snapshot-vs-delta), payload packed as one string
    replayed("p84_stream_upsert", "update", p84Staged, p84Transform, p84Post,
      orderedBy = Some("v"))(
      """WITH base AS (SELECT o_orderkey, o_custkey, o_orderpriority
        |    FROM orders),
        |u AS (
        |  SELECT o_orderkey, 0::BIGINT AS version, false AS deleted,
        |    concat_ws('|', o_custkey, o_orderpriority) AS payload,
        |    0 AS _src FROM base
        |  UNION ALL
        |  SELECT o_orderkey, 1::BIGINT, (o_orderkey % 170 = 0),
        |    concat_ws('|', o_custkey, 'UPDATED'), 1
        |  FROM base WHERE o_orderkey % 10 = 0),
        |r AS (SELECT *, row_number() OVER (PARTITION BY o_orderkey
        |    ORDER BY version DESC, _src DESC) AS rn FROM u)
        |SELECT o_orderkey, version, payload
        |FROM r WHERE rn = 1 AND NOT deleted""".stripMargin),
    // p85: q34's session CTE minus each user's final (still-open)
    // session — the append-mode flatMapGroupsWithState contract
    replayed("p85_stream_sessions", "append", p85Staged, p85Transform, p85Post,
      orderedBy = Some("us"))(
      """WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS us FROM events
        |  WHERE ts IS NOT NULL),
        |m AS (SELECT user_id, us,
        |  CASE WHEN lag(us) OVER (PARTITION BY user_id ORDER BY us, event_id) IS NULL
        |         OR us - lag(us) OVER (PARTITION BY user_id ORDER BY us, event_id) > 1800000000
        |       THEN 1 ELSE 0 END AS new_s,
        |  event_id FROM e),
        |s AS (SELECT user_id, us,
        |  CAST(SUM(new_s) OVER (PARTITION BY user_id ORDER BY us, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id FROM m),
        |g AS (SELECT user_id, session_id, COUNT(*) AS n_events,
        |    MIN(us) AS start_us, MAX(us) AS end_us
        |  FROM s GROUP BY user_id, session_id)
        |SELECT user_id, n_events, start_us, end_us FROM g
        |QUALIFY session_id < MAX(session_id) OVER (PARTITION BY user_id)""".stripMargin),
    // p86: the stream-stream interval join's emitted pairs = the plain
    // SQL time-range join (exactness argument in p86's scaladoc:
    // ordered replay means no late rows and no premature state eviction)
    replayed("p86_stream_interval_join", "append", p86Staged, p86Transform,
      orderedBy = Some("ets"))(
      """WITH e AS (SELECT event_id, user_id, event_type, epoch_us(ts) AS us
        |  FROM events WHERE ts IS NOT NULL),
        |l AS (SELECT user_id, event_id AS l_id, us AS l_us FROM e
        |  WHERE event_type = 'click'),
        |r AS (SELECT user_id, event_id AS r_id, us AS r_us FROM e
        |  WHERE event_type = 'purchase')
        |SELECT l.user_id, l_id, r_id FROM l JOIN r
        |ON l.user_id = r.user_id
        |  AND r_us BETWEEN l_us AND l_us + 86400000000""".stripMargin),
    // p87: streaming dedup with a delay spanning the table = exact
    // distinct keys (first-arrival payload race is engine-internal, so
    // only the key columns are presented)
    QuerySpec("p87_stream_dedup", p87, Oracle(
      """SELECT DISTINCT user_id, event_type FROM events
        |WHERE ts IS NOT NULL""".stripMargin),
      // dropDuplicatesWithinWatermark has no batch execution — lint the
      // batch-exact analog (same keys, same scan, same shuffle shape)
      batchPlan = Some((s, d) => p87Staged(s, d).dropDuplicates("user_id", "event_type")
        .select(col("user_id"), col("event_type")))),
    // p80: expectations report — rows total, null count, duplicated-key
    // participation, tight range violations, FK integrity (semantics in
    // operators/Check.scala scaladoc)
    QuerySpec("p80_constraints", p80, Oracle(
      """SELECT 'rows' AS check_name, COUNT(*) AS value FROM lineitem
        |UNION ALL
        |SELECT 'not_null(l_quantity)', COUNT(*) - COUNT(l_quantity) FROM lineitem
        |UNION ALL
        |SELECT 'unique(l_orderkey,l_linenumber)',
        |  CAST(COALESCE(SUM(c), 0) AS BIGINT) FROM (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS c FROM lineitem
        |  GROUP BY l_orderkey, l_linenumber HAVING COUNT(*) > 1) g
        |UNION ALL
        |SELECT 'in_range(l_discount,0.0,0.05)',
        |  CAST(COALESCE(SUM(CASE WHEN l_discount IS NOT NULL
        |    AND (l_discount < 0.0 OR l_discount > 0.05) THEN 1 ELSE 0 END), 0) AS BIGINT)
        |FROM lineitem
        |UNION ALL
        |SELECT 'ref_in(l_orderkey->o_orderkey)', COUNT(*) FROM lineitem l
        |WHERE l_orderkey IS NOT NULL
        |  AND NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)""".stripMargin)),
    QuerySpec("p18_contamination", p18, Oracle(
      "WITH " + words("documents", mat = false) + """,
        |g AS (
        |  SELECT doc_id, unnest(CASE WHEN len(toks) <= 4
        |    THEN [array_to_string(toks, ' ')]
        |    ELSE list_distinct(list_transform(generate_series(1, len(toks) - 3),
        |      i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3]))
        |    END) AS gram FROM tk),
        |probe AS (SELECT DISTINCT gram, doc_id AS probe_id FROM g WHERE doc_id < 20),
        |hits AS (SELECT c.doc_id, c.gram, p.probe_id
        |  FROM g c JOIN probe p USING (gram) WHERE c.doc_id >= 20)
        |SELECT doc_id, COUNT(DISTINCT gram) AS n_hit_ngrams,
        |  COUNT(DISTINCT probe_id) AS n_probe_docs
        |FROM hits GROUP BY 1""".stripMargin)),
    QuerySpec("p19_pii_scrub", p19, Oracle(
      """WITH t AS (
        |  SELECT doc_id,
        |    text || ' contact bot' || (doc_id % 100) || '@' || source ||
        |    '.org ip 10.0.' || (doc_id % 256) || '.7 call 555-123-4567' AS t2
        |  FROM documents)
        |SELECT doc_id,
        |  len(regexp_extract_all(t2, '[a-z0-9._%+-]+@[a-z0-9-]+\.(com|org|net)')) AS n_emails,
        |  len(regexp_extract_all(t2, '\d+\.\d+\.\d+\.\d+')) AS n_ips,
        |  len(regexp_extract_all(t2, '\d{3}-\d{3}-\d{4}')) AS n_phones,
        |  regexp_replace(regexp_replace(regexp_replace(t2,
        |    '[a-z0-9._%+-]+@[a-z0-9-]+\.(com|org|net)', '<EMAIL>', 'g'),
        |    '\d+\.\d+\.\d+\.\d+', '<IP>', 'g'),
        |    '\d{3}-\d{3}-\d{4}', '<PHONE>', 'g') AS scrubbed
        |FROM t""".stripMargin)),
    QuerySpec("p21_mixture_sample", p21, Oracle(
      """WITH ranked AS (
        |  SELECT doc_id, source, lang,
        |    ROW_NUMBER() OVER (PARTITION BY source
        |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk,
        |    CASE source WHEN 'src1' THEN 10 WHEN 'src2' THEN 5
        |      WHEN 'src3' THEN 40 ELSE -1 END AS q
        |  FROM documents)
        |SELECT doc_id, source, lang FROM ranked
        |WHERE q > 0 AND rk <= q""".stripMargin)),
    QuerySpec("p22_token_packing", p22, Oracle(
      """WITH t AS (
        |  SELECT doc_id, source,
        |    CAST(len(regexp_extract_all(text, '\S+')) AS BIGINT) AS n_tokens
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, source, n_tokens,
        |    SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
        |      ROWS UNBOUNDED PRECEDING) AS cum
        |  FROM t)
        |SELECT doc_id, source, n_tokens,
        |  CAST((cum - 1) // 256 AS BIGINT) AS bin FROM c""".stripMargin)),
    QuerySpec("p23_heavy_hitters", p23, Oracle(
      """WITH t AS (
        |  SELECT unnest(regexp_extract_all(text, '\S+')) AS tok FROM documents),
        |tot AS (SELECT COUNT(*) AS n FROM t)
        |SELECT tok, COUNT(*) AS cnt FROM t, tot
        |GROUP BY tok, n HAVING COUNT(*) > n // 64""".stripMargin)),
    // p91: p28's signature CTE, stopped at the UNVERIFIED bucket pairs —
    // exactly what the streaming bucket-state operator emits
    replayed("p91_stream_embed", "append", p91Staged, p91Transform,
      // parquet replay sink: p91's candidate-pair output grows with the
      // corpus (the one gate query whose RESULT is corpus-sized) — the
      // memory sink's driver collect kills a 64 GB heap at the sf10 probe
      // scale, the file sink streams it with bounded driver memory
      sink = "parquet")(
      "WITH " + vectors("c0") + ",\n" + hyperplaneSig(planes = 6) + "\n" + sigPairs),
    // p28: hyperplane planes are md5-derived (Similarity.planeComponents),
    // so buckets AND exact cosines replicate — same kernels p08/p09 check
    QuerySpec("p28_embedding_neardup", p28, Oracle(
      "WITH " + vectors("c0") + ",\n" + hyperplaneSig(planes = 6) + s""",
        |pairs AS (
        |  $sigPairs),
        |scored AS (
        |  $pairCosines)
        |SELECT id_a, id_b, cosine FROM scored WHERE cosine >= 0.2""".stripMargin)),
    // p35: p28's verified pair set fed through the same recursive-CTE
    // label propagation the p11 oracle uses, then min-id survivors
    QuerySpec("p35_embedding_dedup", p35, Oracle(
      "WITH RECURSIVE " + vectors("c0") + ",\n" + hyperplaneSig(planes = 6) +
        s",\npairs AS (\n  $sigPairs),\n" + cosineSurvivors(mat = false))),
    QuerySpec("p36_semantic_dedup", p36, Oracle(
      "WITH RECURSIVE " + vectors("c0", mat = true) + ",\n" + ivfCells(mat = true) + """,
        |pairs AS MATERIALIZED (SELECT a.vec_id AS id_a, b.vec_id AS id_b
        |  FROM assign a JOIN assign b ON a.cell = b.cell AND a.vec_id < b.vec_id),
        |""".stripMargin + cosineSurvivors(mat = true))),
    QuerySpec("p37_incr_semantic", p37, Oracle(
      "WITH " + vectors("c0") + ",\n" + ivfCells(seedFilter = "vec_id < 400") + s""",
        |pairs AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b
        |  FROM assign a JOIN assign b ON a.cell = b.cell AND a.vec_id < b.vec_id
        |  WHERE NOT (a.vec_id < 400 AND b.vec_id < 400))
        |SELECT id_a, id_b, cosine FROM (
        |  $pairCosines) t
        |WHERE cosine >= 0.2""".stripMargin)),
    // dl is the probe's 64-entry (j, code)-ordered distance table; the ADC
    // fold runs ascending j exactly like the Scala kernel, so doubles match
    QuerySpec("p38_pq_knn", p38, Oracle(
      "WITH " + vectors("c0") + """,
        |seeds AS (SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS code, e AS s
        |  FROM (SELECT vec_id, e FROM c0 WHERE e IS NOT NULL ORDER BY vec_id LIMIT 8) t),
        |js AS (SELECT j FROM generate_series(0, 7) g(j)),
        |dist AS (SELECT c0.vec_id, js.j, seeds.code,
        |    list_reduce(list_transform(generate_series(1, 8),
        |      i -> (e[js.j*8+i]-s[js.j*8+i])*(e[js.j*8+i]-s[js.j*8+i])), (x,y) -> x+y) AS d
        |  FROM c0, js, seeds WHERE c0.e IS NOT NULL),
        |assign AS (SELECT vec_id, j, code FROM (
        |    SELECT vec_id, j, code, ROW_NUMBER() OVER (PARTITION BY vec_id, j ORDER BY d, code) AS rn
        |    FROM dist) t WHERE rn = 1),
        |al AS (SELECT vec_id, list(code ORDER BY j) AS cl FROM assign GROUP BY vec_id),
        |dtl AS (SELECT vec_id AS probe_id, list(d ORDER BY j, code) AS dl
        |  FROM dist WHERE vec_id < 4 GROUP BY vec_id),
        |scored AS (SELECT probe_id, al.vec_id AS corpus_id,
        |    list_reduce(list_transform(generate_series(1, 8), j -> dl[(j-1)*8 + cl[j] + 1]), (x,y) -> x+y) AS adist
        |  FROM dtl, al)
        |SELECT probe_id, corpus_id, adist, CAST(rn AS INTEGER) AS rank FROM (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY probe_id ORDER BY adist, corpus_id) AS rn
        |  FROM scored) t
        |WHERE rn <= 8""".stripMargin)),
    // p39: IVFADC — seed centroids (8 lowest vectors with vec_id ≥ 100,
    // disjoint from book seeds), corpus cells by L2² argmin, residuals vs
    // the assigned centroid, seed residual codebooks (8 lowest-id
    // residuals), per-(vec, subspace) code argmin, probes routed to their
    // 2 nearest cells with per-cell residual distance tables,
    // ascending-subspace ADC fold, rank window
    QuerySpec("p39_ivfpq_knn", p39, Oracle(
      ivfAdcCte + """
        |SELECT probe_id, corpus_id, adist, CAST(rn AS INTEGER) AS rank FROM (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY probe_id ORDER BY adist, corpus_id) AS rn
        |  FROM scored) t
        |WHERE rn <= 8""".stripMargin)),
    // p40: ANN recall@10 — brute-force truth (p08 replica) LEFT JOIN LSH
    // approx top-k (p09 replica) on (probe, corpus); truth drives the
    // grouping so index-missed probes report recall 0
    QuerySpec("p40_ann_recall", p40, Oracle(
      "WITH " + vectors("c0") + s""",
        |p AS (SELECT vec_id AS probe_id, e AS pe FROM c0 WHERE vec_id < 8),
        |bscore AS (
        |  SELECT p.probe_id, c0.vec_id AS corpus_id,
        |    ${cosine("e", "pe")} AS cosine
        |  FROM c0, p),
        |bt AS (SELECT probe_id, corpus_id FROM (
        |  SELECT probe_id, corpus_id, ROW_NUMBER() OVER (PARTITION BY probe_id
        |    ORDER BY cosine DESC, corpus_id) AS rn FROM bscore) t WHERE rn <= 10),
        |${hyperplaneSig(planes = 4)},
        |${multiProbe("ascore")},
        |ap AS (SELECT probe_id, corpus_id FROM (
        |  SELECT probe_id, corpus_id, ROW_NUMBER() OVER (PARTITION BY probe_id
        |    ORDER BY cosine DESC, corpus_id) AS rn FROM ascore) t WHERE rn <= 10)
        |SELECT bt.probe_id,
        |  CAST(COUNT(ap.corpus_id) AS BIGINT) AS hits,
        |  CAST(COUNT(*) AS BIGINT) AS truth_k,
        |  CAST(COUNT(ap.corpus_id) AS DOUBLE) / COUNT(*) AS recall
        |FROM bt LEFT JOIN ap ON ap.probe_id = bt.probe_id AND ap.corpus_id = bt.corpus_id
        |GROUP BY bt.probe_id""".stripMargin)),
    // p41: SQ8 — per-dim min/max over the corpus, int8 codes
    // clamp(floor((v-mn)·(255/span))), asymmetric L2² against bin
    // midpoints mn + (code+0.5)·(span/255); constant dims code 0 and
    // dequantize to mn. Arithmetic order mirrors the Scala exactly.
    QuerySpec("p41_sq_knn", p41, Oracle(
      "WITH " + vectors("c0") + """,
        |js AS (SELECT j FROM generate_series(1, 64) g(j)),
        |mm AS (SELECT j, MIN(e[j]) AS mn, MAX(e[j]) AS mx
        |  FROM c0, js WHERE e IS NOT NULL GROUP BY j),
        |mma AS (SELECT list(mn ORDER BY j) AS mn, list(mx ORDER BY j) AS mx FROM mm),
        |codes AS (SELECT vec_id, list_transform(generate_series(1, 64), i ->
        |    CASE WHEN mx[i] = mn[i] THEN 0
        |      ELSE CAST(least(greatest(floor((e[i] - mn[i]) * (255.0/(mx[i] - mn[i]))), 0), 255) AS INTEGER)
        |    END) AS code
        |  FROM c0, mma WHERE e IS NOT NULL),
        |deq AS (SELECT vec_id, list_transform(generate_series(1, 64), i ->
        |    CASE WHEN mx[i] = mn[i] THEN mn[i]
        |      ELSE mn[i] + (code[i] + 0.5) * ((mx[i] - mn[i])/255.0)
        |    END) AS dq
        |  FROM codes, mma),
        |p AS (SELECT vec_id AS probe_id, e AS pe FROM c0 WHERE vec_id < 4),
        |scored AS (SELECT p.probe_id, deq.vec_id AS corpus_id,
        |    list_reduce(list_transform(generate_series(1, 64),
        |      i -> (pe[i] - dq[i]) * (pe[i] - dq[i])), (x,y) -> x+y) AS sqdist
        |  FROM p, deq)
        |SELECT probe_id, corpus_id, sqdist, CAST(rn AS INTEGER) AS rank FROM (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY probe_id
        |    ORDER BY sqdist, corpus_id) AS rn FROM scored) t
        |WHERE rn <= 8""".stripMargin)),
    // p42: IVFADC+R — p39's chain up to the ADC scores, shortlist rn<=16,
    // exact L2² on the raw (double-cast) vectors for the shortlisted
    // pairs only, final rank window on the exact distance
    QuerySpec("p42_ivfpq_refine", p42, Oracle(
      ivfAdcCte + """,
        |cands AS (SELECT probe_id, corpus_id FROM (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY probe_id ORDER BY adist, corpus_id) AS rn
        |  FROM scored) t WHERE rn <= 16),
        |ex AS (SELECT cands.probe_id, cands.corpus_id,
        |    list_reduce(list_transform(generate_series(1, 64),
        |      i -> (pe.e[i]-ce.e[i])*(pe.e[i]-ce.e[i])), (x,y) -> x+y) AS dist
        |  FROM cands JOIN c0 pe ON pe.vec_id = cands.probe_id
        |             JOIN c0 ce ON ce.vec_id = cands.corpus_id)
        |SELECT probe_id, corpus_id, dist, CAST(rn AS INTEGER) AS rank FROM (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY probe_id ORDER BY dist, corpus_id) AS rn
        |  FROM ex) t
        |WHERE rn <= 8""".stripMargin)),
    // p43: classifier gate — the p12 feature expressions feed a fixed
    // linear model; logit = left-assoc fold matching the Spark Column
    // tree exactly; keep = exact compare. Sigmoid excluded (libm ulps).
    QuerySpec("p43_clf_gate", p43, Oracle(
      """WITH t AS (SELECT doc_id, text,
        |  regexp_split_to_array(lower(trim(text)), '\s+') AS toks FROM documents),
        |f AS (SELECT doc_id,
        |  CAST(length(text) AS DOUBLE) AS f1,
        |  CAST(len(toks) AS DOUBLE) AS f2,
        |  CAST(length(regexp_replace(text, '[^[:punct:]]', '', 'g')) AS DOUBLE)
        |    / greatest(length(text), 1) AS f3,
        |  CAST(len(list_intersect(toks, ['the','a','an','and','or','of','to','in','is','it','that','for','on','with','as','was','at','by'])) AS DOUBLE)
        |    / greatest(len(toks), 1) AS f4,
        |  (CAST(length(text) AS DOUBLE) - len(toks) + 1) / greatest(len(toks), 1) AS f5,
        |  CAST(length(regexp_replace(text, '[^A-Z]', '', 'g')) AS DOUBLE)
        |    / greatest(length(text), 1) AS f6
        |FROM t)
        |SELECT doc_id, logit, logit >= 0.0 AS keep FROM (
        |  SELECT doc_id,
        |    -2.0 + 0.001*f1 + 0.01*f2 + (-8.0)*f3 + 6.0*f4 + 0.2*f5 + (-4.0)*f6 AS logit
        |  FROM f) s""".stripMargin)),
    // p44: bigram-LM fluency gate — add-1 bigram LM self-trained on the
    // corpus; per-bigram probability floored to 1e-9 quanta (exact
    // scalar double ops on <2^53 integers both engines round alike),
    // per-doc aggregate = exact BIGINT sum, final mean one double
    // division. Σ log p is deliberately not checked (libm ulps).
    QuerySpec("p44_lm_score", p44, Oracle(
      """WITH tk AS (SELECT doc_id, list_filter(
        |    regexp_split_to_array(lower(trim(text)), '\W+'), x -> x != '') AS toks
        |  FROM documents),
        |""".stripMargin + addOneBigramLm + """
        |SELECT tk.doc_id, COALESCE(sc.n_bigrams, 0) AS n_bigrams,
        |  CAST(sc.sum_scaled AS DOUBLE) / (CAST(sc.n_bigrams AS DOUBLE) * 1.0e9) AS lm_score
        |FROM tk LEFT JOIN sc USING (doc_id)""".stripMargin)),
    // p45: deterministic shuffle-to-shards — shard = md5-lower64&M61 mod 8,
    // pos = rank of the md5 HEX string within the shard (ties by id);
    // every value a pure function of ('g7', doc_id) on both engines.
    QuerySpec("p45_shuffle_shards", p45, Oracle(
      """WITH h AS (SELECT doc_id,
        |    md5(concat('g7:', CAST(doc_id AS VARCHAR))) AS hx,
        |    CAST((md5_number_lower(concat('g7:', CAST(doc_id AS VARCHAR)))
        |      & 2305843009213693951) % 8 AS INT) AS shard
        |  FROM documents)
        |SELECT doc_id, shard,
        |  CAST(ROW_NUMBER() OVER (PARTITION BY shard ORDER BY hx, doc_id) AS BIGINT) AS pos
        |FROM h""".stripMargin)),
    // p46: DSIR importance resampling — weight = p12 stopword_ratio,
    // accept iff CAST(hash61 AS DOUBLE) < clamp(w)·CAST(M61 AS DOUBLE);
    // long→double rounds IEEE-nearest identically on both engines.
    QuerySpec("p46_importance_sample", p46, Oracle(
      """WITH t AS (SELECT doc_id,
        |  CAST(len(list_intersect(regexp_split_to_array(lower(trim(text)), '\s+'),
        |    ['the','a','an','and','or','of','to','in','is','it','that','for','on','with','as','was','at','by'])) AS DOUBLE)
        |    / greatest(len(regexp_split_to_array(lower(trim(text)), '\s+')), 1) AS weight
        |  FROM documents)
        |SELECT doc_id, weight FROM t
        |WHERE CAST((md5_number_lower(concat('g7:', CAST(doc_id AS VARCHAR)))
        |    & 2305843009213693951) AS DOUBLE)
        |  < least(greatest(weight, 0.0), 1.0) * CAST(2305843009213693951 AS DOUBLE)""".stripMargin)),
    // p47: BPE encode with the pinned 8-merge list — recursive CTE walks
    // the merge ranks; within each rank a list_reduce folds the word's
    // symbol string left-to-right, merging non-overlapping (a,b)
    // occurrences exactly like Bpe.mergePass ('§' sentinel seeds the
    // fold, '·' delimits symbols; \W+ tokens can contain neither).
    // p47: the encode replay, UNROLLED one CTE per merge round
    // (bpeEncodeCtes — VERDICT r15 #4; identical results, sf10-stageable)
    QuerySpec("p47_bpe_encode", p47, Oracle(
      (s"""WITH ${bpeEncodeCtes(P47Merges)},
         |fin AS (SELECT doc_id, wi, replace(substr(s, 3), '·', ' ') AS toks
         |        FROM enc${P47Merges.size})
         |SELECT doc_id,
         |  CAST(SUM(len(string_split(toks, ' '))) AS BIGINT) AS n_bpe,
         |  string_agg(toks, ' ' ORDER BY wi) AS enc
         |FROM fin GROUP BY doc_id""".stripMargin))),
    // p48: modern curation end-to-end — the p43 gate, the p44 LM (its
    // counts trained on the gate's survivors), the p01 dedup window,
    // and the p45 shard layout, chained over the SAME survivor sets.
    QuerySpec("p48_curate_modern", p48, Oracle(
      """WITH t0 AS (SELECT doc_id, text,
        |  regexp_split_to_array(lower(trim(text)), '\s+') AS stoks FROM documents),
        |clf AS (
        |  SELECT doc_id, text FROM (
        |    SELECT doc_id, text,
        |      -2.0 + 0.001*CAST(length(text) AS DOUBLE)
        |           + 0.01*CAST(len(stoks) AS DOUBLE)
        |           + (-8.0)*(CAST(length(regexp_replace(text, '[^[:punct:]]', '', 'g')) AS DOUBLE) / greatest(length(text), 1))
        |           + 6.0*(CAST(len(list_intersect(stoks, ['the','a','an','and','or','of','to','in','is','it','that','for','on','with','as','was','at','by'])) AS DOUBLE) / greatest(len(stoks), 1))
        |           + 0.2*((CAST(length(text) AS DOUBLE) - len(stoks) + 1) / greatest(len(stoks), 1))
        |           + (-4.0)*(CAST(length(regexp_replace(text, '[^A-Z]', '', 'g')) AS DOUBLE) / greatest(length(text), 1)) AS logit
        |    FROM t0) s WHERE logit >= 0.0),
        |tk AS (SELECT doc_id, text, list_filter(
        |    regexp_split_to_array(lower(trim(text)), '\W+'), x -> x != '') AS toks FROM clf),
        |""".stripMargin + addOneBigramLm + """,
        |fluent AS (
        |  SELECT tk.doc_id, tk.text,
        |    CAST(sc.sum_scaled AS DOUBLE) / (CAST(sc.n_bigrams AS DOUBLE) * 1.0e9) AS lm_score
        |  FROM tk JOIN sc USING (doc_id)
        |  WHERE CAST(sc.sum_scaled AS DOUBLE) / (CAST(sc.n_bigrams AS DOUBLE) * 1.0e9) >= 0.02),
        |uniq AS (
        |  SELECT doc_id, lm_score FROM (
        |    SELECT doc_id, lm_score, ROW_NUMBER() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
        |    FROM fluent) q WHERE rn = 1),
        |sh AS (SELECT doc_id, lm_score,
        |    md5(concat('g7:', CAST(doc_id AS VARCHAR))) AS hx,
        |    CAST((md5_number_lower(concat('g7:', CAST(doc_id AS VARCHAR)))
        |      & 2305843009213693951) % 4 AS INT) AS shard
        |  FROM uniq)
        |SELECT doc_id, shard,
        |  CAST(ROW_NUMBER() OVER (PARTITION BY shard ORDER BY hx, doc_id) AS BIGINT) AS pos,
        |  lm_score
        |FROM sh""".stripMargin)),
    // p49: interpolated Kneser-Ney bigram scoring — all statistics fold
    // from the bigram TYPE table; p(w2|w1) = (max(c12-0.75,0) +
    // 0.75*nf(w1)*(nb(w2)/nAll)) / c1(w1), quantized like p44. Self-
    // trained, so every bigram/context is seen (inner joins).
    QuerySpec("p49_kn_score", p49, Oracle(
      """WITH tk AS (SELECT doc_id, list_filter(
        |    regexp_split_to_array(lower(trim(text)), '\W+'), x -> x != '') AS toks
        |  FROM documents),
        |""".stripMargin + knBigramStats + """,
        |term AS (SELECT bg.doc_id, CAST(floor(1.0e9 * (
        |    (greatest(CAST(c12.c12 AS DOUBLE) - 0.75, 0.0)
        |     + 0.75 * CAST(ctx.nf AS DOUBLE)
        |       * (CAST(cont.nb AS DOUBLE) / CAST(na.nall AS DOUBLE)))
        |    / CAST(ctx.c1 AS DOUBLE))) AS BIGINT) AS scaled
        |  FROM bg JOIN c12 USING (w1, w2) JOIN ctx USING (w1)
        |       JOIN cont USING (w2) CROSS JOIN na),
        |sc AS (SELECT doc_id, COUNT(*) AS n_bigrams,
        |    CAST(SUM(scaled) AS BIGINT) AS sum_scaled FROM term GROUP BY 1)
        |SELECT tk.doc_id, COALESCE(sc.n_bigrams, 0) AS n_bigrams,
        |  CAST(sc.sum_scaled AS DOUBLE) / (CAST(sc.n_bigrams AS DOUBLE) * 1.0e9) AS kn_score
        |FROM tk LEFT JOIN sc USING (doc_id)""".stripMargin)),
    // p50: BPE id-encoding — the p47 encode replay, then a lexicographic
    // rank vocabulary over the distinct emitted tokens and the per-doc
    // id sequence ordered by (word index, token index).
    QuerySpec("p50_bpe_ids", p50, Oracle(
      (s"""WITH ${bpeEncodeCtes(P47Merges)},
         |fin AS (SELECT doc_id, wi, string_split(substr(s, 3), '·') AS wtoks
         |        FROM enc${P47Merges.size}),
         |tok AS MATERIALIZED (SELECT doc_id, wi, u.i AS i, wtoks[u.i] AS token
         |        FROM fin, unnest(generate_series(1, len(wtoks))) AS u(i)),
         |vocab AS MATERIALIZED (SELECT token, CAST(ROW_NUMBER() OVER (ORDER BY token) AS BIGINT) AS id
         |          FROM (SELECT DISTINCT token FROM tok)),
         |ids AS (SELECT t.doc_id, t.wi, t.i, v.id FROM tok t JOIN vocab v USING (token))
         |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_ids,
         |  string_agg(CAST(id AS VARCHAR), ' ' ORDER BY wi, i) AS ids
         |FROM ids GROUP BY doc_id""".stripMargin))),
    // p51: integer-exact PageRank over the symmetrized p06 candidate
    // graph. r0 = S//N; each step: per-edge contribution rank//outdeg
    // (exact BIGINT), per-node SUM, damped via (85*s)//100 plus the
    // integer base (S*15)//(100*N). The five iteration CTEs below are
    // GENERATED by the same loop the Spark operator runs — fixed
    // iteration count makes the recursion unrollable.
    QuerySpec("p51_similarity_rank", p51, Oracle({
      val prefix = MinhashGraphCte +
        """,
          |edges AS MATERIALIZED (SELECT id_a AS src, id_b AS dst FROM pairs
          |          UNION ALL SELECT id_b, id_a FROM pairs),
          |nn AS MATERIALIZED (SELECT COUNT(*) AS n FROM nodes),
          |od AS MATERIALIZED (SELECT src, COUNT(*) AS outdeg FROM edges GROUP BY 1),
          |r0 AS MATERIALIZED (SELECT id, (1000000000000 // nn.n) AS rank FROM nodes CROSS JOIN nn)""".stripMargin
      val steps = (1 to 5).map { i =>
        s"""c$i AS MATERIALIZED (SELECT e.dst AS id, (r.rank // od.outdeg) AS c
           |  FROM edges e JOIN r${i - 1} r ON r.id = e.src JOIN od ON od.src = e.src),
           |r$i AS MATERIALIZED (SELECT nodes.id,
           |    ((1000000000000 * 15) // (100 * nn.n))
           |      + ((85 * COALESCE(s.s, 0)) // 100) AS rank
           |  FROM nodes CROSS JOIN nn LEFT JOIN
           |    (SELECT id, CAST(SUM(c) AS BIGINT) AS s FROM c$i GROUP BY 1) s
           |    ON s.id = nodes.id)""".stripMargin
      }
      prefix + ",\n" + steps.mkString(",\n") +
        "\nSELECT id AS doc_id, rank FROM r5"
    })),
    // p54: same pairs CTE as p51; orientation by the (deg, id) total
    // order, wedges only at each triangle's lowest-order apex, closing
    // join = every triangle exactly once (Suri & Vassilvitskii 2011).
    // The coefficient is the single IEEE division 2T/(d(d-1)) on both
    // engines.
    QuerySpec("p54_similarity_triangles", p54, Oracle((MinhashGraphCte +
      """,
        |dg AS MATERIALIZED (SELECT id, COUNT(*) AS deg FROM (
        |    SELECT id_a AS id FROM pairs UNION ALL SELECT id_b FROM pairs)
        |  GROUP BY 1),
        |o AS MATERIALIZED (SELECT
        |    CASE WHEN (da.deg, p.id_a) < (db.deg, p.id_b) THEN p.id_a ELSE p.id_b END AS u,
        |    CASE WHEN (da.deg, p.id_a) < (db.deg, p.id_b) THEN p.id_b ELSE p.id_a END AS v,
        |    CASE WHEN (da.deg, p.id_a) < (db.deg, p.id_b) THEN db.deg ELSE da.deg END AS dv
        |  FROM pairs p JOIN dg da ON da.id = p.id_a JOIN dg db ON db.id = p.id_b),
        |w AS MATERIALIZED (SELECT e1.u AS a, e1.v AS b, e2.v AS c
        |  FROM o e1 JOIN o e2 ON e1.u = e2.u AND (e1.dv, e1.v) < (e2.dv, e2.v)),
        |tri AS MATERIALIZED (SELECT a, b, c FROM w JOIN o ON o.u = w.b AND o.v = w.c),
        |pn AS MATERIALIZED (SELECT id, COUNT(*) AS t FROM (
        |    SELECT a AS id FROM tri UNION ALL SELECT b FROM tri
        |    UNION ALL SELECT c FROM tri) GROUP BY 1)
        |SELECT n.id AS doc_id, COALESCE(dg.deg, 0) AS degree,
        |  COALESCE(pn.t, 0) AS n_triangles,
        |  CASE WHEN COALESCE(dg.deg, 0) >= 2
        |       THEN 2.0 * CAST(COALESCE(pn.t, 0) AS DOUBLE)
        |            / CAST(dg.deg * (dg.deg - 1) AS DOUBLE)
        |       ELSE 0.0 END AS clustering
        |FROM nodes n LEFT JOIN dg ON dg.id = n.id
        |LEFT JOIN pn ON pn.id = n.id""".stripMargin))),
    // p55: deterministic synchronous LPA, unrolled like p51 — per round:
    // neighbor label votes, max count per node, MIN label among the
    // tied winners, no-in-edge nodes keep their own id. The four round
    // CTEs are generated by the same loop the operator runs.
    QuerySpec("p55_similarity_communities", p55, Oracle(lpaOracleSql)),
    // p72: LPA off the persisted candidate tap — contractually
    // identical to p55 (same pair table, same iteration); the shared
    // oracle adjudicates the parquet round-trip, the p57/p67 pattern.
    QuerySpec("p72_candidates_tap", p72, Oracle(lpaOracleSql)),
    // p56: histogram-first exact nearest-rank percentiles — the
    // interpolation-free rule (min v with cum >= floor(q*(n-1))+1) both
    // engines compute identically; the p02 token-count kernel supplies
    // the value
    QuerySpec("p56_length_percentiles", p56, Oracle(
      """WITH h AS (SELECT source,
        |    CAST(len(regexp_extract_all(text, '\S+')) AS BIGINT) AS v,
        |    COUNT(*) AS c
        |  FROM documents GROUP BY 1, 2),
        |cum AS (SELECT source, v, c,
        |    SUM(c) OVER (PARTITION BY source ORDER BY v) AS cum,
        |    SUM(c) OVER (PARTITION BY source) AS n FROM h),
        |e AS (SELECT source, v, cum, n, q.q AS q
        |  FROM cum, unnest([0.25, 0.5, 0.75, 0.9, 0.99]) q(q))
        |SELECT source, q, MIN(v) AS value, CAST(MAX(n) AS BIGINT) AS n
        |FROM e WHERE cum >= floor(q * (n - 1)) + 1
        |GROUP BY 1, 2""".stripMargin)),
    // p57: signatures are per-doc, so banding ALL documents then
    // side-filtering the collision join equals banding each side; the
    // jaccard verify is the p13 shingle-set replica at 0.8; survivors
    // are the train rows minus the contaminated id set, full schema
    QuerySpec("p57_decontaminate", p57, Oracle(decontamOracleSql)),
    // p67: the bloom-pruned non-broadcast decontamination path — output
    // contractually identical to p57 (bloom false positives are removed
    // by the exact jaccard verify), so the same oracle checks both.
    QuerySpec("p67_decontam_bloom", p67, Oracle(decontamOracleSql)),
    // p58: the Morton mask ladder replicated in integer SQL (`//` = the
    // engine's integral div, same masks), ntile over the tie-broken
    // total z-order, per-bucket two-column min/max spans
    QuerySpec("p58_zorder_layout", p58, Oracle(
      """WITH e AS (SELECT event_id, user_id, epoch_us(ts) AS us FROM events),
        |st AS (SELECT min(user_id) AS mnu, max(user_id) AS mxu,
        |              min(us) AS mnt, max(us) AS mxt FROM e),
        |bk AS (SELECT event_id, user_id, us,
        |  (user_id - mnu) // (((mxu - mnu) // 65536) + 1) AS ba,
        |  (us - mnt) // (((mxt - mnt) // 65536) + 1) AS bb FROM e, st),
        |s1 AS (SELECT event_id, user_id, us,
        |  (ba | (ba << 8)) & 16711935 AS xa,
        |  (bb | (bb << 8)) & 16711935 AS xb FROM bk),
        |s2 AS (SELECT event_id, user_id, us,
        |  (xa | (xa << 4)) & 252645135 AS xa,
        |  (xb | (xb << 4)) & 252645135 AS xb FROM s1),
        |s3 AS (SELECT event_id, user_id, us,
        |  (xa | (xa << 2)) & 858993459 AS xa,
        |  (xb | (xb << 2)) & 858993459 AS xb FROM s2),
        |s4 AS (SELECT event_id, user_id, us,
        |  (xa | (xa << 1)) & 1431655765 AS xa,
        |  (xb | (xb << 1)) & 1431655765 AS xb FROM s3),
        |z AS (SELECT event_id, user_id, us, xa | (xb << 1) AS zv FROM s4),
        |nt AS (SELECT user_id, us,
        |  ntile(16) OVER (ORDER BY zv, user_id, us, event_id) AS bucket FROM z)
        |SELECT bucket, COUNT(*) AS n,
        |  MIN(user_id) AS u_min, MAX(user_id) AS u_max,
        |  MIN(us) AS t_min, MAX(us) AS t_max
        |FROM nt GROUP BY bucket""".stripMargin)),
    // p59: cumulative weights built by the SAME double additions the
    // Scala side folds, so every floor boundary is IEEE-identical
    QuerySpec("p59_stratified_split", p59, Oracle(
      """WITH rk AS (SELECT doc_id, source,
        |  row_number() OVER (PARTITION BY source
        |    ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk,
        |  count(*) OVER (PARTITION BY source) AS n
        |  FROM documents)
        |SELECT doc_id, source, CASE
        |  WHEN rk <= floor(n * (0.8::DOUBLE)) THEN 'train'
        |  WHEN rk <= floor(n * (0.8::DOUBLE + 0.1::DOUBLE)) THEN 'val'
        |  ELSE 'test' END AS split
        |FROM rk""".stripMargin)),
    // p60: merge is latest-(version, delta-wins) per key minus
    // tombstones — replayed as a window rank (the agg and the rank agree
    // because (key, version) is unique within each input)
    QuerySpec("p60_snapshot_upsert", p60, Oracle(
      """WITH base AS (SELECT o_orderkey, o_custkey, o_totalprice,
        |    o_orderpriority FROM orders),
        |snap AS (SELECT *, 0::BIGINT AS version, false AS deleted,
        |    0 AS _src FROM base),
        |delta AS (SELECT o_orderkey, o_custkey, o_totalprice,
        |    'UPDATED' AS o_orderpriority, 1::BIGINT AS version,
        |    (o_orderkey % 170 = 0) AS deleted, 1 AS _src
        |  FROM base WHERE o_orderkey % 10 = 0),
        |u AS (SELECT * FROM snap UNION ALL SELECT * FROM delta),
        |r AS (SELECT *, row_number() OVER (PARTITION BY o_orderkey
        |    ORDER BY version DESC, _src DESC) AS rn FROM u)
        |SELECT o_orderkey, o_custkey, o_totalprice, o_orderpriority, version
        |FROM r WHERE rn = 1 AND NOT deleted""".stripMargin)),
    // p61: full-outer key join, null-safe payload compare, changes only
    QuerySpec("p61_snapshot_diff", p61, Oracle(
      """WITH base AS (SELECT o_orderkey, o_custkey, o_orderpriority
        |    FROM orders),
        |neu AS (
        |  SELECT o_orderkey, o_custkey,
        |    CASE WHEN o_orderkey % 10 = 0 THEN 'UPDATED'
        |         ELSE o_orderpriority END AS o_orderpriority
        |  FROM base WHERE o_orderkey % 13 <> 0
        |  UNION ALL
        |  SELECT o_orderkey + 10000000, o_custkey, o_orderpriority
        |  FROM base WHERE o_orderkey % 100 = 0),
        |j AS (SELECT COALESCE(o.o_orderkey, n.o_orderkey) AS o_orderkey,
        |  CASE WHEN o.o_orderkey IS NULL THEN 'added'
        |       WHEN n.o_orderkey IS NULL THEN 'removed'
        |       WHEN NOT (o.o_custkey IS NOT DISTINCT FROM n.o_custkey
        |         AND o.o_orderpriority IS NOT DISTINCT FROM n.o_orderpriority)
        |         THEN 'changed'
        |       ELSE 'unchanged' END AS change
        |  FROM base o FULL JOIN neu n ON o.o_orderkey = n.o_orderkey)
        |SELECT o_orderkey, change FROM j WHERE change <> 'unchanged'""".stripMargin)),
    // p62: same Unicode-standard NFC on both engines, same RE2-safe
    // regex subset ('g' = replace-all, Spark's default)
    QuerySpec("p62_normalize_text", p62, Oracle(
      """SELECT doc_id,
        |  trim(regexp_replace(regexp_replace(nfc_normalize(text),
        |    '[\x00-\x08\x0B\x0C\x0E-\x1F\x7F]', '', 'g'),
        |    '[ \t]+', ' ', 'g')) AS text_norm,
        |  length(text) - length(trim(regexp_replace(regexp_replace(
        |    nfc_normalize(text),
        |    '[\x00-\x08\x0B\x0C\x0E-\x1F\x7F]', '', 'g'),
        |    '[ \t]+', ' ', 'g'))) AS delta
        |FROM documents""".stripMargin)),
    // p63: grid = per-key generate_series over slot bounds; fill = the
    // same IGNORE-NULLS running last; values are copied, never summed
    QuerySpec("p63_resample_ffill", p63, Oracle(
      """WITH e AS (SELECT user_id, epoch_us(ts) // 3600000000 AS slot,
        |    value FROM events),
        |obs AS (SELECT user_id, slot, max(value) AS v FROM e GROUP BY 1, 2),
        |b AS (SELECT user_id, min(slot) AS lo, max(slot) AS hi
        |  FROM e GROUP BY 1),
        |grid AS (SELECT user_id, gs.slot
        |  FROM b, LATERAL unnest(generate_series(lo, hi)) gs(slot)),
        |j AS (SELECT g.user_id, g.slot, o.v, o.v IS NOT NULL AS observed
        |  FROM grid g LEFT JOIN obs o USING (user_id, slot))
        |SELECT user_id, slot, observed,
        |  last_value(v IGNORE NULLS) OVER (PARTITION BY user_id
        |    ORDER BY slot ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |    AS value
        |FROM j""".stripMargin)),
    // p64: the quantized BM25 terms (OracleSql.bm25Terms), the per-term
    // product summed in DECIMAL so no Long overflow at any N.
    QuerySpec("p64_bm25_relevance", p64, Oracle(
      "WITH " + bm25Terms + """,
        |sc AS (SELECT doc_id, COUNT(*) AS n_hits,
        |    SUM(CAST(tfq AS DECIMAL(19,0)) * CAST(idfq AS DECIMAL(19,0))) AS rel
        |  FROM term_sc GROUP BY 1)
        |SELECT tk.doc_id, COALESCE(sc.n_hits, 0) AS n_hits,
        |  CAST(CAST(sc.rel AS DECIMAL(38,0)) AS VARCHAR) AS bm25_rel
        |FROM tk LEFT JOIN sc USING (doc_id)""".stripMargin)),
    // p65: tf·idfq keywords; idfq = floor(1e6·(N+1)/(df+1)); ties by
    // term ascending make the per-doc top-3 deterministic.
    QuerySpec("p65_tfidf_keywords", p65, Oracle(
      """WITH tk AS (SELECT doc_id, list_filter(
        |    regexp_split_to_array(lower(trim(text)), '\W+'), x -> x != '') AS toks
        |  FROM documents),
        |tft AS (SELECT doc_id, term, COUNT(*) AS tf FROM (
        |    SELECT doc_id, unnest(toks) AS term FROM tk) u GROUP BY 1, 2),
        |dft AS (SELECT term, COUNT(*) AS df FROM tft GROUP BY 1),
        |nn AS (SELECT COUNT(*) AS n FROM tk),
        |sc AS (SELECT tft.doc_id, tft.term,
        |    CAST(CAST(tft.tf AS DECIMAL(19,0)) * CAST(CAST(floor(1.0e6 *
        |      (CAST(nn.n + 1 AS DOUBLE) / CAST(dft.df + 1 AS DOUBLE)))
        |      AS BIGINT) AS DECIMAL(19,0)) AS DECIMAL(38,0)) AS score
        |  FROM tft JOIN dft USING (term) CROSS JOIN nn),
        |rk AS (SELECT doc_id, term, score,
        |    row_number() OVER (PARTITION BY doc_id
        |      ORDER BY score DESC, term ASC) AS rank
        |  FROM sc)
        |SELECT doc_id, rank, term, CAST(score AS VARCHAR) AS score
        |FROM rk WHERE rank <= 3""".stripMargin)),
    // p66: iters=0 centroids = the 8 lowest-vec_id embeddings; nearest
    // cell by sequential-sum squared L2 (ties to the lower cell); then
    // the mixtureSample md5-rank idiom with cells as strata.
    QuerySpec("p66_cluster_sample", p66, Oracle(
      "WITH " + vectors("c0") + ",\n" + ivfCells() + """,
        |rk AS (SELECT vec_id, cell,
        |    ROW_NUMBER() OVER (PARTITION BY cell
        |      ORDER BY md5('g9:' || CAST(vec_id AS VARCHAR)), vec_id) AS pos
        |  FROM assign)
        |SELECT vec_id, CAST(cell AS INTEGER) AS cell, pos
        |FROM rk WHERE pos <= 20""".stripMargin)),
    // p52: trigram KN over the bigram-KN backoff — self-trained, so
    // every level is seen and the seen-branch formula is total; the
    // nested p2 expression is the p49 replica verbatim, composed inside
    // the trigram fold with explicit parenthesization.
    QuerySpec("p52_kn3_score", p52, Oracle(
      """WITH tk AS (SELECT doc_id, list_filter(
        |    regexp_split_to_array(lower(trim(text)), '\W+'), x -> x != '') AS toks
        |  FROM documents),
        |""".stripMargin + knBigramStats + """,
        |tg AS (SELECT doc_id, toks[i] AS w1, toks[i+1] AS w2, toks[i+2] AS w3
        |  FROM tk, unnest(generate_series(1, len(toks)-2)) AS u(i)
        |  WHERE len(toks) >= 3),
        |c123 AS (SELECT w1, w2, w3, COUNT(*) AS c123 FROM tg GROUP BY 1, 2, 3),
        |tctx AS (SELECT w1, w2, CAST(SUM(c123) AS BIGINT) AS c12t, COUNT(*) AS nf12
        |  FROM c123 GROUP BY 1, 2),
        |term AS (SELECT tg.doc_id, CAST(floor(1.0e9 * (
        |    (greatest(CAST(c123.c123 AS DOUBLE) - 0.75, 0.0)
        |     + (0.75 * CAST(tctx.nf12 AS DOUBLE))
        |       * ((greatest(CAST(b.c12 AS DOUBLE) - 0.75, 0.0)
        |           + 0.75 * CAST(x.nf AS DOUBLE)
        |             * (CAST(c.nb AS DOUBLE) / CAST(na.nall AS DOUBLE)))
        |          / CAST(x.c1 AS DOUBLE)))
        |    / CAST(tctx.c12t AS DOUBLE))) AS BIGINT) AS scaled
        |  FROM tg JOIN c123 USING (w1, w2, w3) JOIN tctx USING (w1, w2)
        |       JOIN c12 b ON b.w1 = tg.w2 AND b.w2 = tg.w3
        |       JOIN ctx x ON x.w1 = tg.w2
        |       JOIN cont c ON c.w2 = tg.w3
        |       CROSS JOIN na),
        |sc AS (SELECT doc_id, COUNT(*) AS n_trigrams,
        |    CAST(SUM(scaled) AS BIGINT) AS sum_scaled FROM term GROUP BY 1)
        |SELECT tk.doc_id, COALESCE(sc.n_trigrams, 0) AS n_trigrams,
        |  CAST(sc.sum_scaled AS DOUBLE) / (CAST(sc.n_trigrams AS DOUBLE) * 1.0e9) AS kn3_score
        |FROM tk LEFT JOIN sc USING (doc_id)""".stripMargin)),
    // p53: the lined-docs construction is the p32 chunk replica (size 10,
    // overlap 0, minTokens 1) re-joined by \n in chunk order; then the
    // line-dedup pass — trimmed-line keys counted by DISTINCT doc, keys in
    // >= 2 docs removed everywhere, text rebuilt from survivors in
    // position order (string_agg skips the removed lines' NULLs; a doc of
    // only boilerplate COALESCEs to '').
    QuerySpec("p53_line_dedup", p53, Oracle(
      "WITH " + words("documents", mat = false) + """,
        |lined AS (SELECT doc_id,
        |    string_agg(array_to_string(list_slice(toks, s.s, least(s.s + 9, len(toks))), ' '),
        |      chr(10) ORDER BY s.s) AS text
        |  FROM tk, LATERAL unnest(generate_series(1, len(toks), 10)) s(s)
        |  GROUP BY doc_id),
        |l AS (SELECT doc_id, i - 1 AS pos, list_extract(ls, i) AS ln
        |  FROM (SELECT doc_id, string_split(COALESCE(text, ''), chr(10)) AS ls FROM lined),
        |  LATERAL unnest(generate_series(1, len(ls))) t(i)),
        |k AS (SELECT doc_id, pos, ln, trim(ln) AS key FROM l),
        |common AS (SELECT key FROM k WHERE len(key) > 0
        |  GROUP BY key HAVING COUNT(DISTINCT doc_id) >= 2),
        |m AS (SELECT k.doc_id, k.pos, k.ln, c.key IS NOT NULL AS rm
        |  FROM k LEFT JOIN common c ON k.key = c.key)
        |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_lines,
        |  CAST(COALESCE(SUM(CASE WHEN rm THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_removed,
        |  COALESCE(string_agg(CASE WHEN NOT rm THEN ln END, chr(10) ORDER BY pos), '')
        |    AS text_clean
        |FROM m GROUP BY doc_id""".stripMargin)),
    QuerySpec("p29_rare_tokens", p29, Oracle(
      """WITH tk AS (
        |  SELECT doc_id, unnest(list_filter(regexp_split_to_array(lower(trim(text)), '\W+'),
        |    x -> x != '')) AS tok FROM documents),
        |freq AS (SELECT tok, COUNT(*) AS c FROM tk GROUP BY tok),
        |j AS (SELECT tk.doc_id, COUNT(*) AS n_tokens,
        |    CAST(SUM(CASE WHEN freq.c < 100 THEN 1 ELSE 0 END) AS BIGINT) AS n_rare
        |  FROM tk JOIN freq USING (tok) GROUP BY tk.doc_id)
        |SELECT d.doc_id, COALESCE(j.n_tokens, 0) AS n_tokens,
        |  COALESCE(j.n_rare, 0) AS n_rare,
        |  CASE WHEN COALESCE(j.n_tokens, 0) > 0
        |       THEN CAST(COALESCE(j.n_rare, 0) AS DOUBLE) / CAST(j.n_tokens AS DOUBLE)
        |       ELSE 0.0 END AS rare_ratio
        |FROM documents d LEFT JOIN j USING (doc_id)""".stripMargin)),
    // p30: k-smallest-of-union == k-smallest-of-(kA ∪ kB), and every common
    // hash <= θ is inside both k-sketches — so the full-set SQL below
    // computes the identical estimate to the sketch-side kernel
    QuerySpec("p30_kmv_overlap", p30, Oracle(
      """WITH ha AS (SELECT DISTINCT CAST(md5_number_lower(CAST(l_orderkey AS VARCHAR))
        |    & 2305843009213693951 AS BIGINT) AS hv FROM lineitem WHERE l_returnflag = 'A'),
        |hr AS (SELECT DISTINCT CAST(md5_number_lower(CAST(l_orderkey AS VARCHAR))
        |    & 2305843009213693951 AS BIGINT) AS hv FROM lineitem WHERE l_returnflag = 'R'),
        |ua AS (SELECT hv FROM ha UNION SELECT hv FROM hr),
        |kth AS (SELECT hv FROM ua ORDER BY hv LIMIT 1 OFFSET 127),
        |nu AS (SELECT COUNT(*) AS nu FROM ua),
        |inter AS (SELECT ha.hv FROM ha JOIN hr USING (hv)),
        |c AS (SELECT COUNT(*) AS c FROM inter, kth WHERE inter.hv <= kth.hv),
        |fl AS (SELECT l_orderkey, COUNT(DISTINCT l_returnflag) AS nf
        |  FROM lineitem WHERE l_returnflag IN ('A', 'R') GROUP BY l_orderkey),
        |ex AS (SELECT COUNT(*) AS eu,
        |    CAST(SUM(CASE WHEN nf = 2 THEN 1 ELSE 0 END) AS BIGINT) AS ei FROM fl)
        |SELECT
        |  CASE WHEN nu.nu < 128 THEN CAST(nu.nu AS DOUBLE)
        |       ELSE CAST(127 AS DOUBLE) * CAST(2305843009213693951 AS DOUBLE)
        |            / CAST(kth.hv AS DOUBLE) END AS union_est,
        |  CASE WHEN nu.nu < 128 THEN CAST((SELECT COUNT(*) FROM inter) AS DOUBLE)
        |       ELSE CAST(c.c AS DOUBLE) * CAST(127 AS DOUBLE) / CAST(128 AS DOUBLE)
        |            * CAST(2305843009213693951 AS DOUBLE)
        |            / CAST(kth.hv AS DOUBLE) END AS intersect_est,
        |  ex.eu AS exact_union, ex.ei AS exact_intersect
        |FROM nu, kth, c, ex""".stripMargin)),
    // p31: canonical = row_number 1 over (doc, pos) per duplicated gram;
    // rebuilt text compared verbatim (COALESCE: array_to_string([]) is
    // NULL in DuckDB, the engine emits '')
    QuerySpec("p31_span_excise", p31, Oracle(
      "WITH " + words("documents", mat = false) + """,
        |g AS (SELECT doc_id, i - 1 AS pos,
        |    CAST(md5_number_lower(array_to_string(list_slice(toks, i, i + 5), ' '))
        |      & 2305843009213693951 AS BIGINT) AS gh
        |  FROM tk, LATERAL unnest(generate_series(1, len(toks) - 5)) t(i)),
        |dup AS (SELECT gh FROM g GROUP BY gh HAVING COUNT(*) > 1),
        |dg AS (SELECT g.* FROM g JOIN dup USING (gh)),
        |canon AS (SELECT gh, doc_id AS cdoc, pos AS cpos FROM (
        |    SELECT *, row_number() OVER (PARTITION BY gh ORDER BY doc_id, pos) AS rn
        |    FROM dg) t WHERE rn = 1),
        |noncanon AS (SELECT dg.doc_id, dg.pos FROM dg JOIN canon USING (gh)
        |  WHERE NOT (dg.doc_id = canon.cdoc AND dg.pos = canon.cpos)),
        |rm AS (SELECT doc_id, list_sort(list(DISTINCT pos + o)) AS rm
        |  FROM noncanon, LATERAL unnest(generate_series(0, 5)) u(o) GROUP BY doc_id)
        |SELECT t.doc_id, CAST(len(t.toks) AS BIGINT) AS n_tokens,
        |  CAST(COALESCE(len(rm.rm), 0) AS BIGINT) AS n_removed,
        |  COALESCE(array_to_string(list_filter(t.toks,
        |    (x, i) -> rm.rm IS NULL OR NOT list_contains(rm.rm, i - 1)), ' '), '')
        |    AS text_clean
        |FROM tk t LEFT JOIN rm USING (doc_id)""".stripMargin)),
    // p33: sqrt weights (alpha 0.5) summed in DECIMAL — order-free, so the
    // quota division is the identical double expression in both engines
    QuerySpec("p33_mixture_weights", p33, Oracle(
      """WITH c AS (SELECT source, COUNT(*) AS n_docs FROM documents GROUP BY source),
        |w AS (SELECT source, n_docs,
        |    CAST(sqrt(CAST(n_docs AS DOUBLE)) AS DECIMAL(18,8)) AS w FROM c),
        |t AS (SELECT SUM(w) AS t FROM w)
        |SELECT source, n_docs,
        |  CAST(FLOOR(CAST(100 AS DOUBLE) * CAST(w AS DOUBLE) / CAST(t.t AS DOUBLE))
        |    AS BIGINT) AS quota
        |FROM w, t""".stripMargin)),
    // p32: stride 12 = size 16 − overlap 4; only tail windows can fall
    // under minTokens, so emitted ordinal == window ordinal
    QuerySpec("p32_chunking", p32, Oracle(
      "WITH " + words("documents", mat = false) + """,
        |ch AS (SELECT doc_id, CAST((s.s - 1) // 12 AS BIGINT) AS chunk_idx,
        |    list_slice(toks, s.s, least(s.s + 15, len(toks))) AS ctoks
        |  FROM tk, LATERAL unnest(generate_series(1, len(toks), 12)) s(s))
        |SELECT doc_id, chunk_idx, CAST(len(ctoks) AS BIGINT) AS n_chunk_tokens,
        |  array_to_string(ctoks, ' ') AS chunk_text
        |FROM ch WHERE len(ctoks) >= 4""".stripMargin)),
    // q40: bloom pruning is result-invariant — the oracle is the plain join
    QuerySpec("q40_bloom_join", q40, Oracle(
      """SELECT s_nationkey, COUNT(*) AS n_items,
        |  COUNT(DISTINCT l_suppkey) AS n_supps
        |FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
        |WHERE s_nationkey < 5
        |GROUP BY s_nationkey""".stripMargin)),
    // q42: RANGE frame — peer-inclusive, so tie-order-independent
    QuerySpec("q42_moving_window", q42, Oracle(
      """WITH e AS (SELECT event_id, user_id, epoch_us(ts) AS us FROM events)
        |SELECT event_id, user_id, us,
        |  COUNT(*) OVER (PARTITION BY user_id ORDER BY us
        |    RANGE BETWEEN 600000000 PRECEDING AND CURRENT ROW) AS n_win,
        |  MIN(us) OVER (PARTITION BY user_id ORDER BY us
        |    RANGE BETWEEN 600000000 PRECEDING AND CURRENT ROW) AS win_start
        |FROM e""".stripMargin)),
    // q43: standard-SQL GROUPING bit encoding (first arg = MSB)
    QuerySpec("q43_cube", q43, Oracle(
      """SELECT l_returnflag, l_linestatus,
        |  CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
        |  COUNT(*) AS cnt
        |FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)""".stripMargin)),
    // q44: built through the Java API (japi.JApi) — the oracle is the
    // plain SQL of the same relational plan; column names are the
    // sigil-stripped logic vars
    QuerySpec("q44_japi_agg", q44, Oracle(
      """SELECT c_mktsegment AS seg, COUNT(*) AS n_cust,
        |  MAX(c_acctbal) AS max_bal
        |FROM customer WHERE c_acctbal > 0.0
        |GROUP BY c_mktsegment""".stripMargin)),
    // q45: the min-cascade replayed as step CTEs; conversion window
    // anchored at the step-1 time; strict-after ordering between steps
    QuerySpec("q45_funnel", q45, Oracle(
      """WITH e AS (SELECT user_id AS k, epoch_us(ts) AS t, event_type AS et
        |  FROM events WHERE ts IS NOT NULL),
        |s1 AS (SELECT k, MIN(t) AS ts_1 FROM e WHERE et = 'view' GROUP BY 1),
        |s2 AS (SELECT e.k, MIN(t) AS ts_2 FROM e JOIN s1 USING (k)
        |  WHERE et = 'click' AND t > ts_1
        |    AND t <= ts_1 + 604800000000 GROUP BY 1),
        |s3 AS (SELECT e.k, MIN(t) AS ts_3
        |  FROM e JOIN s2 USING (k) JOIN s1 USING (k)
        |  WHERE et = 'purchase' AND t > ts_2
        |    AND t <= ts_1 + 604800000000 GROUP BY 1)
        |SELECT s1.k AS user_id,
        |  CASE WHEN ts_3 IS NOT NULL THEN 3
        |       WHEN ts_2 IS NOT NULL THEN 2 ELSE 1 END AS stage,
        |  ts_1, ts_2, ts_3
        |FROM s1 LEFT JOIN s2 USING (k) LEFT JOIN s3 USING (k)""".stripMargin)),
    // q46: dedupe-first cohort retention; `//` = integral div, matching
    // the engine's call_function("div") bucket snap
    QuerySpec("q46_retention", q46, Oracle(
      """WITH e AS (SELECT user_id AS k, epoch_us(ts) // 604800000000 AS b
        |  FROM events WHERE ts IS NOT NULL),
        |p AS (SELECT DISTINCT k, b FROM e),
        |c AS (SELECT k, MIN(b) AS cohort FROM p GROUP BY 1)
        |SELECT cohort, b - cohort AS offset, COUNT(*) AS n_keys
        |FROM p JOIN c USING (k) GROUP BY 1, 2""".stripMargin)),
    // q47: change points via null-safe lag compare, running-sum run ids,
    // per-run first version, lead for the interval end
    QuerySpec("q47_scd2_history", q47, Oracle(
      """WITH v AS (
        |  SELECT o_orderkey AS k, o_orderpriority AS p, CAST(0 AS BIGINT) AS ver
        |  FROM orders
        |  UNION ALL SELECT o_orderkey, 'UPDATED', 1 FROM orders
        |  WHERE o_orderkey % 10 = 0
        |  UNION ALL SELECT o_orderkey, 'UPDATED', 2 FROM orders
        |  WHERE o_orderkey % 20 = 0),
        |m AS (SELECT k, p, ver,
        |    CASE WHEN p IS DISTINCT FROM lag(p) OVER (PARTITION BY k ORDER BY ver)
        |      THEN 1 ELSE 0 END AS chg
        |  FROM v),
        |r AS (SELECT k, p, ver, SUM(chg) OVER (PARTITION BY k ORDER BY ver
        |    ROWS UNBOUNDED PRECEDING) AS run FROM m),
        |g AS (SELECT k, run, MIN(ver) AS valid_from, MIN(p) AS p
        |  FROM r GROUP BY 1, 2),
        |f AS (SELECT k, p, valid_from,
        |    LEAD(valid_from) OVER (PARTITION BY k ORDER BY valid_from) AS valid_to
        |  FROM g)
        |SELECT k AS o_orderkey, p AS o_orderpriority, valid_from, valid_to
        |FROM f""".stripMargin)),
    // q48: trap diversion replayed as a WHERE partition — survivors
    // (key % 7 <> 0) aggregate through the query, failures aggregate on
    // the trap side; sums cast back to BIGINT (DuckDB SUM(BIGINT) widens
    // to HUGEINT)
    QuerySpec("q48_trap_divert", q48, Oracle(
      """SELECT l_returnflag, 'ok' AS kind, COUNT(*) AS cnt,
        |  CAST(SUM(l_orderkey * 2) AS BIGINT) AS s
        |FROM lineitem WHERE l_orderkey % 7 <> 0 GROUP BY l_returnflag
        |UNION ALL
        |SELECT l_returnflag, 'trapped', COUNT(*),
        |  CAST(SUM(l_orderkey) AS BIGINT)
        |FROM lineitem WHERE l_orderkey % 7 = 0 GROUP BY l_returnflag""".stripMargin)),
    // q49: the checkpoint-workflow DAG replayed as its SQL composition —
    // urgent orders ⋈ per-order quantity rollups, custkey totals;
    // quantities sum in decimal on both engines, presented as double
    QuerySpec("q49_checkpoint_flow", q49, Oracle(
      """WITH urgent AS (
        |  SELECT o_orderkey, o_custkey FROM orders
        |  WHERE o_orderpriority = '1-URGENT'),
        |qty AS (
        |  SELECT l_orderkey, SUM(CAST(l_quantity AS DECIMAL(18,2))) AS qty
        |  FROM lineitem GROUP BY l_orderkey)
        |SELECT u.o_custkey, COUNT(*) AS n_orders,
        |  CAST(SUM(q.qty) AS DOUBLE) AS total_qty
        |FROM urgent u JOIN qty q ON q.l_orderkey = u.o_orderkey
        |GROUP BY u.o_custkey""".stripMargin)),
    // q50: the template-tap round trip is lossless, so the oracle is the
    // plain aggregate over the source table
    QuerySpec("q50_template_tap", q50, Oracle(
      """SELECT l_returnflag, COUNT(*) AS cnt,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  COUNT(DISTINCT l_orderkey) AS n_orders
        |FROM lineitem GROUP BY l_returnflag""".stripMargin)),
    // q51: the accumulator row must equal COUNT(*) — the counted op ran
    // exactly once per tuple
    QuerySpec("q51_stats_counters", q51, Oracle(
      """SELECT l_returnflag AS k, COUNT(*) AS cnt,
        |  CAST(SUM(l_orderkey * 2) AS BIGINT) AS s
        |FROM lineitem GROUP BY l_returnflag
        |UNION ALL
        |SELECT 'stat:graft/li_rows', COUNT(*), CAST(0 AS BIGINT)
        |FROM lineitem""".stripMargin)),
    // q52: the bucketed round trip is lossless, so the oracle is the
    // plain per-order join aggregate
    QuerySpec("q52_bucket_join", q52, Oracle(
      """SELECT o.o_orderkey, o.o_orderpriority, COUNT(*) AS n_items,
        |  CAST(SUM(CAST(l.l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        |GROUP BY o.o_orderkey, o.o_orderpriority""".stripMargin)),
    // q53: the protobuf wire round trip is lossless (fixed64 = exact
    // double bits), so the oracle is the plain source aggregate
    QuerySpec("q53_proto_tap", q53, Oracle(
      """SELECT l_returnflag AS flag, COUNT(*) AS cnt,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  CAST(SUM(l_orderkey) AS BIGINT) AS sum_keys
        |FROM lineitem GROUP BY l_returnflag""".stripMargin)),
    // q54: the headered-TSV round trip is exact for integer keys and
    // space-free strings; the oracle is the plain source aggregate
    QuerySpec("q54_delimited_tap", q54, Oracle(
      """SELECT o_orderpriority AS prio, COUNT(*) AS cnt,
        |  CAST(SUM(o_custkey) AS BIGINT) AS skeys
        |FROM orders GROUP BY o_orderpriority""".stripMargin)),
    // q55: the thrift TBinaryProtocol round trip is lossless, so the
    // oracle is the plain source aggregate
    QuerySpec("q55_thrift_tap", q55, Oracle(
      """SELECT o_orderpriority AS prio, COUNT(*) AS cnt,
        |  CAST(SUM(o_orderkey) AS BIGINT) AS sum_keys,
        |  CAST(SUM(o_custkey) AS BIGINT) AS sum_cust
        |FROM orders GROUP BY o_orderpriority""".stripMargin)),
    // q56: the SequenceFile string round trip is exact for integer keys,
    // so the oracle is the plain source aggregate
    QuerySpec("q56_seqfile_tap", q56, Oracle(
      """SELECT o_orderpriority AS prio, COUNT(*) AS cnt,
        |  CAST(SUM(o_orderkey) AS BIGINT) AS sum_keys
        |FROM orders GROUP BY o_orderpriority""".stripMargin)),
    // p88: p25's KMV replay (the sketch is exact given the md5 hash)
    // with COUNT(*) beside it — the streaming build's n_seen marker
    // lands as the per-flag row count
    replayed("p88_stream_kmv", "update", p88Staged, p88Transform, p88Post,
      // sketch-shaped state: 3 returnflag keys hold the entire state (128
      // longs each) however many rows fold in, so the row-based partition
      // sizing is capped at the key count — empty state partitions would
      // pay store init/commit/checkpoint IO per micro-batch for nothing
      stateKeyHint = Some(3L))(
      """WITH h AS (
        |  SELECT DISTINCT l_returnflag,
        |    CAST(md5_number_lower(CAST(l_orderkey AS VARCHAR))
        |      & 2305843009213693951 AS BIGINT) AS hv
        |  FROM lineitem),
        |kth AS (
        |  SELECT l_returnflag, hv,
        |    row_number() OVER (PARTITION BY l_returnflag ORDER BY hv) AS rn FROM h),
        |agg AS (
        |  SELECT l_returnflag, COUNT(*) AS nd,
        |    LEAST(COUNT(*), 128) AS kmv_size
        |  FROM h GROUP BY l_returnflag),
        |nr AS (SELECT l_returnflag, COUNT(*) AS n_rows FROM lineitem
        |  GROUP BY l_returnflag)
        |SELECT a.l_returnflag, n.n_rows, CAST(a.kmv_size AS BIGINT) AS kmv_size,
        |  CASE WHEN a.nd < 128 THEN CAST(a.nd AS DOUBLE)
        |       ELSE CAST(127 AS DOUBLE) * CAST(2305843009213693951 AS DOUBLE)
        |            / CAST(k.hv AS DOUBLE) END AS kmv_estimate
        |FROM agg a JOIN nr n USING (l_returnflag)
        |LEFT JOIN (SELECT l_returnflag, hv FROM kth WHERE rn = 128) k
        |  USING (l_returnflag)""".stripMargin),
    // p68: the count-min sketch replayed cell-for-cell — md5 row hashes
    // assign cells, counters aggregate per (row, cell), estimates MIN
    // over each top token's cells. Shared verbatim by p89 (the sharded
    // streaming build of the SAME sketch — identical by the CMS monoid).
    QuerySpec("p68_cms_heavy", p68, Oracle(cmsHeavyOracleSql)),
    QuerySpec("p89_stream_cms", p89, Oracle(cmsHeavyOracleSql),
      batchPlan = Some((s, d) => p89Post(s, d)(p89Transform(p89Staged(s, d))))),
    // p69: the same single-aggregate datasheet; DuckDB's md5() replays
    // the exact-dup probe and the mean rides at 1e6 quanta
    QuerySpec("p69_data_card", p69, Oracle(
      """WITH a AS (SELECT COUNT(*) AS n_docs,
        |    COUNT(DISTINCT source) AS n_sources,
        |    COUNT(DISTINCT lang) AS n_langs,
        |    CAST(SUM(length(text)) AS BIGINT) AS total_chars,
        |    CAST(SUM(len(regexp_extract_all(text, '\S+'))) AS BIGINT)
        |      AS total_tokens,
        |    COUNT(*) - COUNT(DISTINCT md5(text)) AS exact_dup_docs
        |  FROM documents)
        |SELECT 'n_docs' AS metric, n_docs AS value FROM a
        |UNION ALL SELECT 'n_sources', n_sources FROM a
        |UNION ALL SELECT 'n_langs', n_langs FROM a
        |UNION ALL SELECT 'total_chars', total_chars FROM a
        |UNION ALL SELECT 'total_tokens', total_tokens FROM a
        |UNION ALL SELECT 'exact_dup_docs', exact_dup_docs FROM a
        |UNION ALL SELECT 'mean_doc_tokens_q6',
        |  CAST(floor(1e6 * (CAST(total_tokens AS DOUBLE)
        |    / CAST(n_docs AS DOUBLE))) AS BIGINT) FROM a""".stripMargin)),
    // p70: p64's BM25 replica ranked (rel DESC, id) top-50, p08's cosine
    // replica for probe 0 top-50, fused with floor(1e9/(60+rank)) terms
    QuerySpec("p70_hybrid_rank", p70, Oracle(
      "WITH " + bm25Terms + s""",
        |sc AS (SELECT doc_id, SUM(CAST(tfq AS DECIMAL(19,0))
        |    * CAST(idfq AS DECIMAL(19,0))) AS rel FROM term_sc GROUP BY 1),
        |lex AS (SELECT doc_id, rk AS rank FROM (
        |    SELECT doc_id, ROW_NUMBER() OVER (ORDER BY rel DESC, doc_id) AS rk
        |    FROM sc) t WHERE rk <= 50),
        |${vectors("c")},
        |p0 AS (SELECT e AS pe FROM c WHERE vec_id = 0),
        |cos AS (SELECT c.vec_id AS doc_id,
        |    ${cosine("e", "pe")} AS cosine
        |  FROM c, p0),
        |sem AS (SELECT doc_id, rk AS rank FROM (
        |    SELECT doc_id, ROW_NUMBER() OVER (ORDER BY cosine DESC, doc_id) AS rk
        |    FROM cos) t WHERE rk <= 50),
        |u AS (SELECT doc_id, CAST(floor(1e9 / CAST(60 + rank AS DOUBLE)) AS BIGINT) AS sc2 FROM lex
        |  UNION ALL
        |  SELECT doc_id, CAST(floor(1e9 / CAST(60 + rank AS DOUBLE)) AS BIGINT) FROM sem),
        |g AS (SELECT doc_id, CAST(SUM(sc2) AS BIGINT) AS rrf_q,
        |    COUNT(*) AS n_lists FROM u GROUP BY 1)
        |SELECT doc_id, rrf_q, n_lists,
        |  ROW_NUMBER() OVER (ORDER BY rrf_q DESC, doc_id) AS rank
        |FROM g""".stripMargin)),
    // q41: salting is result-invariant — the oracle is the plain join
    QuerySpec("q41_salted_join", q41, Oracle(
      """SELECT s_nationkey, COUNT(*) AS n_items,
        |  COUNT(DISTINCT l_suppkey) AS n_supps
        |FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
        |GROUP BY s_nationkey""".stripMargin)),
    // p24: positional 6-gram hashes -> global occurrence counts -> per-doc
    // duplicated-start and covered-position stats (span-dedup signals)
    QuerySpec("p24_span_dedup", p24, Oracle(
      "WITH " + words("documents", mat = false) + """,
        |g AS (
        |  SELECT doc_id, i - 1 AS pos,
        |    CAST(md5_number_lower(array_to_string(list_slice(toks, i, i + 5), ' '))
        |      & 2305843009213693951 AS BIGINT) AS gh
        |  FROM tk, LATERAL unnest(generate_series(1, len(toks) - 5)) t(i)),
        |dup AS (SELECT gh FROM g GROUP BY gh HAVING COUNT(*) > 1),
        |hit AS (SELECT g.doc_id, g.pos FROM g JOIN dup USING (gh)),
        |starts AS (SELECT doc_id, COUNT(*) AS dup_grams FROM hit GROUP BY doc_id),
        |cov AS (SELECT doc_id, COUNT(*) AS covered_tokens FROM (
        |    SELECT DISTINCT doc_id, pos + o AS ti
        |    FROM hit, LATERAL unnest(generate_series(0, 5)) u(o)) q
        |  GROUP BY doc_id)
        |SELECT t.doc_id, CAST(len(t.toks) AS BIGINT) AS n_tokens,
        |  COALESCE(s.dup_grams, 0) AS dup_grams,
        |  COALESCE(c.covered_tokens, 0) AS covered_tokens,
        |  CASE WHEN len(t.toks) > 0
        |       THEN CAST(COALESCE(c.covered_tokens, 0) AS DOUBLE) / CAST(len(t.toks) AS DOUBLE)
        |       ELSE 0.0 END AS dup_fraction
        |FROM tk t LEFT JOIN starts s USING (doc_id) LEFT JOIN cov c USING (doc_id)""".stripMargin)),
    // p25: KMV k-minimum-values sketch is exact given the md5 hash — the
    // oracle takes the 128th-smallest distinct hash per group directly
    QuerySpec("p25_kmv_distinct", p25, Oracle(
      """WITH h AS (
        |  SELECT DISTINCT l_returnflag,
        |    CAST(md5_number_lower(CAST(l_orderkey AS VARCHAR))
        |      & 2305843009213693951 AS BIGINT) AS hv
        |  FROM lineitem),
        |kth AS (
        |  SELECT l_returnflag, hv,
        |    row_number() OVER (PARTITION BY l_returnflag ORDER BY hv) AS rn FROM h),
        |agg AS (
        |  SELECT l_returnflag, COUNT(*) AS exact_distinct,
        |    LEAST(COUNT(*), 128) AS kmv_size
        |  FROM h GROUP BY l_returnflag)
        |SELECT a.l_returnflag, a.exact_distinct, CAST(a.kmv_size AS BIGINT) AS kmv_size,
        |  CASE WHEN a.exact_distinct < 128 THEN CAST(a.exact_distinct AS DOUBLE)
        |       ELSE CAST(127 AS DOUBLE) * CAST(2305843009213693951 AS DOUBLE)
        |            / CAST(k.hv AS DOUBLE) END AS kmv_estimate
        |FROM agg a LEFT JOIN (SELECT l_returnflag, hv FROM kth WHERE rn = 128) k
        |  USING (l_returnflag)""".stripMargin)),
    // p26: the same regexp canonicalization chain, step for step (DuckDB
    // regexp_replace needs the 'g' flag where Spark replaces all matches)
    QuerySpec("p26_url_dedup", p26, Oracle(
      """WITH u0 AS (SELECT doc_id,
        |  'HTTPS://WWW.' || source || '.Example.ORG:443/Docs/'
        |    || CAST(doc_id % 100 AS VARCHAR) || '/?utm_source=feed&id='
        |    || CAST(doc_id % 6 AS VARCHAR) || '&utm_campaign=x#s'
        |    || CAST(doc_id % 3 AS VARCHAR) AS url
        |  FROM documents),
        |u1 AS (SELECT doc_id, regexp_replace(url, '#.*$', '') AS u FROM u0),
        |u2 AS (SELECT doc_id, lower(regexp_extract(u, '^[^/?#]+://[^/?#]*'))
        |  || regexp_replace(u, '^[^/?#]+://[^/?#]*', '') AS u FROM u1),
        |u3 AS (SELECT doc_id, regexp_replace(regexp_replace(u,
        |  '^(https://[^/:?#]*):443([/?#]|$)', '\1\2'),
        |  '^(http://[^/:?#]*):80([/?#]|$)', '\1\2') AS u FROM u2),
        |u4 AS (SELECT doc_id, regexp_replace(u,
        |  '([?&])(utm_[a-z]+|fbclid|gclid)=[^&#]*', '\1', 'g') AS u FROM u3),
        |u5 AS (SELECT doc_id, regexp_replace(regexp_replace(regexp_replace(u,
        |  '\?&+', '?', 'g'), '&&+', '&', 'g'), '[?&]+$', '') AS u FROM u4),
        |c AS (SELECT doc_id, u AS canonical_url,
        |  regexp_extract(regexp_extract(u, '^[a-z]+://([^/:?#]*)', 1),
        |    '[^.]+\.[^.]+$') AS domain FROM u5)
        |SELECT canonical_url, domain, MIN(doc_id) AS keep_id, COUNT(*) AS n_dups
        |FROM c GROUP BY canonical_url, domain""".stripMargin)),
    // p27: the p06 banding pipeline restricted to pairs touching the
    // delta (doc_id % 5 = 0) — exactly incrementalCandidates' contract
    QuerySpec("p27_incremental_neardup", p27, Oracle(
      "WITH " + minhashBands("documents", mat = false) + """
        |SELECT LEAST(l.doc_id, r.doc_id) AS id_a, GREATEST(l.doc_id, r.doc_id) AS id_b
        |FROM banded l JOIN banded r ON l.band = r.band AND l.band_key = r.band_key
        |WHERE l.doc_id != r.doc_id AND (l.doc_id % 5 = 0 OR r.doc_id % 5 = 0)
        |GROUP BY 1, 2""".stripMargin)),
    QuerySpec("p20_repetition", p20, Oracle(
      "WITH " + words("documents", mat = false) + """,
        |bg AS (
        |  SELECT doc_id, unnest(list_transform(generate_series(1, len(toks) - 1),
        |    i -> toks[i] || ' ' || toks[i+1])) AS bg
        |  FROM tk WHERE len(toks) >= 2),
        |c AS (SELECT doc_id, bg, COUNT(*) AS n FROM bg GROUP BY 1, 2),
        |s AS (SELECT doc_id, SUM(n) AS total, COUNT(*) AS dist, MAX(n) AS top
        |  FROM c GROUP BY 1)
        |SELECT doc_id, CAST(total AS BIGINT) AS n_2grams,
        |  CAST(dist AS BIGINT) AS n_distinct_2grams,
        |  CAST(top AS BIGINT) AS top_2gram_count,
        |  CAST(total - dist AS DOUBLE) / total AS dup_2gram_frac,
        |  CAST(top AS DOUBLE) / total AS top_2gram_frac
        |FROM s""".stripMargin)),
    QuerySpec("p10_simhash_neardup", p10, Oracle(
      "WITH " + simhashBits + """,
        |sh AS (SELECT doc_id, CAST(v AS UBIGINT) AS v,
        |  CAST(CASE WHEN v >= 9223372036854775808 THEN v - 18446744073709551616
        |    ELSE v END AS BIGINT) AS s FROM shu),
        |blk AS (SELECT doc_id, s, b.b AS blk, (v >> (16*b.b)) & 65535 AS blk_val
        |  FROM sh, generate_series(0, 3) b(b))
        |SELECT l.doc_id AS id_a, r.doc_id AS id_b,
        |  CAST(bit_count(xor(l.s, r.s)) AS BIGINT) AS hamming
        |FROM blk l JOIN blk r ON l.blk = r.blk AND l.blk_val = r.blk_val
        |  AND l.doc_id < r.doc_id
        |WHERE bit_count(xor(l.s, r.s)) <= 10 GROUP BY 1, 2, 3""".stripMargin)),
    // p71: hammingCandidates over synthetic md5 codes — replays the
    // block bucketing, the >64 hot-bucket star guard (hub = min doc_id
    // with its code), and the exact Hamming verify, branch for branch.
    QuerySpec("p71_hamming_neardup", p71, Oracle(
      """WITH c0 AS (
        |  SELECT doc_id, md5_number_lower('p71:' || CAST(doc_id AS VARCHAR)) AS hu
        |  FROM documents),
        |cu AS (SELECT doc_id,
        |    CASE WHEN doc_id % 4 = 0 THEN hu - (hu & 65535) ELSE hu END AS u
        |  FROM c0),
        |sh AS (SELECT doc_id, u,
        |  CAST(CASE WHEN CAST(u AS HUGEINT) >= 9223372036854775808
        |    THEN CAST(u AS HUGEINT) - 18446744073709551616
        |    ELSE CAST(u AS HUGEINT) END AS BIGINT) AS s FROM cu),
        |blk AS (SELECT doc_id, s, b.b AS blk, (u >> (16*b.b)) & 65535 AS blk_val
        |  FROM sh, generate_series(0, 3) b(b)),
        |sz AS (SELECT blk, blk_val, COUNT(*) AS n, MIN(doc_id) AS hub_id
        |  FROM blk GROUP BY 1, 2),
        |small AS (SELECT blk.doc_id, blk.s, blk.blk, blk.blk_val
        |  FROM blk JOIN sz USING (blk, blk_val) WHERE sz.n <= 64),
        |pairs AS (SELECT l.doc_id AS id_a, r.doc_id AS id_b,
        |    CAST(bit_count(xor(l.s, r.s)) AS BIGINT) AS hamming
        |  FROM small l JOIN small r ON l.blk = r.blk AND l.blk_val = r.blk_val
        |    AND l.doc_id < r.doc_id),
        |hubs AS (SELECT sz.blk, sz.blk_val, sz.hub_id, h.s AS hub_s
        |  FROM sz JOIN blk h ON h.blk = sz.blk AND h.blk_val = sz.blk_val
        |    AND h.doc_id = sz.hub_id
        |  WHERE sz.n > 64),
        |stars AS (SELECT hubs.hub_id AS id_a, m.doc_id AS id_b,
        |    CAST(bit_count(xor(hubs.hub_s, m.s)) AS BIGINT) AS hamming
        |  FROM hubs JOIN blk m ON m.blk = hubs.blk AND m.blk_val = hubs.blk_val
        |  WHERE m.doc_id != hubs.hub_id)
        |SELECT id_a, id_b, hamming FROM (
        |  SELECT * FROM pairs UNION ALL SELECT * FROM stars) u
        |WHERE hamming <= 24 GROUP BY 1, 2, 3""".stripMargin)),
    // p73: unigram seed replay — word-type table, overlapping substring
    // counts (≤4 chars), coverage chars + top-(400−nChars) multi by
    // (cnt DESC, piece ASC), integral HUGEINT score quantization with
    // the single-char floor at 1.
    QuerySpec("p73_unigram_seed", p73, Oracle(
      """WITH wt AS (SELECT w, COUNT(*) AS n FROM (
        |    SELECT unnest(list_filter(regexp_split_to_array(lower(trim(text)), '\W+'),
        |      x -> x != '')) AS w FROM documents) u GROUP BY 1),
        |ws AS (SELECT w, n, unnest(generate_series(1, len(w))) AS s FROM wt),
        |pc AS (SELECT substr(w, s, l.l) AS piece, SUM(n) AS cnt
        |  FROM ws, generate_series(1, 4) l(l)
        |  WHERE s + l.l - 1 <= len(w) GROUP BY 1),
        |chars AS (SELECT piece, cnt FROM pc WHERE len(piece) = 1),
        |nc AS (SELECT COUNT(*) AS c FROM chars),
        |multi AS (SELECT piece, cnt FROM (
        |    SELECT piece, cnt, ROW_NUMBER() OVER (ORDER BY cnt DESC, piece) AS rk
        |    FROM pc WHERE len(piece) > 1 AND cnt >= 2) t, nc
        |  WHERE rk <= GREATEST(0, 400 - nc.c)),
        |kept AS (SELECT piece, cnt FROM chars UNION ALL SELECT piece, cnt FROM multi),
        |tot AS (SELECT SUM(cnt) AS t FROM kept)
        |SELECT piece, CAST(cnt AS BIGINT) AS cnt,
        |  GREATEST(CAST(CAST(cnt AS HUGEINT) * 1000000000000000000 // t AS BIGINT),
        |    CASE WHEN len(piece) = 1 THEN 1 ELSE 0 END) AS score_q
        |FROM kept, tot""".stripMargin)),
    // p74: exact 6-gram overlap vs the src0/src1 "benchmark" slice —
    // per train doc: gram positions, positions whose gram is in the
    // eval distinct-gram set, any-hit flag (gram hash = p24 contract)
    QuerySpec("p74_ngram_decontam", p74, Oracle(
      """WITH tr AS (
        |  SELECT doc_id, list_filter(regexp_split_to_array(lower(trim(text)), '\W+'),
        |    x -> x != '') AS toks
        |  FROM documents WHERE source NOT IN ('src0', 'src1')),
        |ev AS (
        |  SELECT list_filter(regexp_split_to_array(lower(trim(text)), '\W+'),
        |    x -> x != '') AS toks
        |  FROM documents WHERE source IN ('src0', 'src1')),
        |eg AS (
        |  SELECT DISTINCT
        |    CAST(md5_number_lower(array_to_string(list_slice(toks, i, i + 5), ' '))
        |      & 2305843009213693951 AS BIGINT) AS gh
        |  FROM ev, LATERAL unnest(generate_series(1, len(toks) - 5)) t(i)),
        |tg AS (
        |  SELECT doc_id,
        |    CAST(md5_number_lower(array_to_string(list_slice(toks, i, i + 5), ' '))
        |      & 2305843009213693951 AS BIGINT) AS gh
        |  FROM tr, LATERAL unnest(generate_series(1, len(toks) - 5)) t(i)),
        |hits AS (SELECT doc_id, COUNT(*) AS hit_grams FROM tg JOIN eg USING (gh)
        |  GROUP BY doc_id)
        |SELECT tr.doc_id,
        |  CAST(GREATEST(len(tr.toks) - 5, 0) AS BIGINT) AS n_grams,
        |  COALESCE(h.hit_grams, 0) AS hit_grams,
        |  COALESCE(h.hit_grams, 0) > 0 AS contaminated
        |FROM tr LEFT JOIN hits h USING (doc_id)""".stripMargin)),
    // p75: bottom-8 probe hashes vs the df<=64-capped inverted shingle
    // index -> exact containment |A∩B|/|A| >= 0.8 (hash = 61-bit md5 of
    // the 3-word shingle string; <=3-token docs shingle as whole text)
    QuerySpec("p75_containment", p75, Oracle((containCte +
      """
        |SELECT inner_id, outer_id, containment FROM scored
        |WHERE containment >= 0.8""".stripMargin))),
    // p77: subsumption dedup — drop every doc >=0.8-contained in a doc
    // with a strictly larger shingle set (ties -> smaller id survives)
    QuerySpec("p77_subsumption", p77, Oracle((containCte +
      """,
        |dropd AS (SELECT DISTINCT s.inner_id AS doc_id
        |  FROM scored s JOIN sz a ON a.doc_id = s.inner_id
        |    JOIN sz b ON b.doc_id = s.outer_id
        |  WHERE s.containment >= 0.8
        |    AND (b.n > a.n OR (b.n = a.n AND s.outer_id < s.inner_id)))
        |SELECT d.doc_id, d.lang, d.source FROM documents d
        |LEFT JOIN dropd USING (doc_id) WHERE dropd.doc_id IS NULL""".stripMargin))),
    // p78: incremental containment — src0/src1 delta vs the rest as the
    // indexed corpus; both directions, per-side df caps, >=6-of-8
    // clamped probe prefilter, exact |inner∩outer|/|inner| at 0.8
    QuerySpec("p78_incr_containment", p78, Oracle(
      """WITH tk AS (
        |  SELECT doc_id, source, list_filter(regexp_split_to_array(lower(trim(text)), '\W+'),
        |    x -> x != '') AS toks FROM documents),
        |shs AS (
        |  SELECT doc_id, source, CASE
        |    WHEN len(toks) = 0 THEN CAST([] AS VARCHAR[])
        |    WHEN len(toks) <= 3 THEN [array_to_string(toks, ' ')]
        |    ELSE list_distinct(list_transform(generate_series(1, len(toks) - 2),
        |      i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) END AS sset
        |  FROM tk),
        |sh AS (
        |  SELECT doc_id, source,
        |    CAST(md5_number_lower(s) & 2305843009213693951 AS BIGINT) AS gh
        |  FROM (SELECT doc_id, source, unnest(sset) AS s FROM shs) u GROUP BY 1, 2, 3),
        |c AS (SELECT doc_id, gh FROM sh WHERE source NOT IN ('src0', 'src1')),
        |d AS (SELECT doc_id, gh FROM sh WHERE source IN ('src0', 'src1')),
        |szc AS (SELECT doc_id, COUNT(*) AS n FROM c GROUP BY 1),
        |szd AS (SELECT doc_id, COUNT(*) AS n FROM d GROUP BY 1),
        |hotc AS (SELECT gh FROM c GROUP BY gh HAVING COUNT(*) > 64),
        |hotd AS (SELECT gh FROM d GROUP BY gh HAVING COUNT(*) > 64),
        |dbot AS (SELECT doc_id, gh FROM (
        |    SELECT doc_id, gh, row_number() OVER (PARTITION BY doc_id ORDER BY gh) AS rn
        |    FROM d) q WHERE rn <= 8),
        |cbot AS (SELECT doc_id, gh FROM (
        |    SELECT doc_id, gh, row_number() OVER (PARTITION BY doc_id ORDER BY gh) AS rn
        |    FROM c) q WHERE rn <= 8),
        |dnp AS (SELECT doc_id, COUNT(*) AS np FROM dbot
        |  WHERE gh NOT IN (SELECT gh FROM hotc) GROUP BY doc_id),
        |cnp AS (SELECT doc_id, COUNT(*) AS np FROM cbot
        |  WHERE gh NOT IN (SELECT gh FROM hotd) GROUP BY doc_id),
        |acand AS (
        |  SELECT q.delta_id, q.corpus_id FROM (
        |    SELECT b.doc_id AS delta_id, i.doc_id AS corpus_id, COUNT(*) AS h
        |    FROM dbot b JOIN c i USING (gh)
        |    WHERE gh NOT IN (SELECT gh FROM hotc) GROUP BY 1, 2) q
        |  JOIN dnp ON dnp.doc_id = q.delta_id
        |  WHERE q.h >= LEAST(6, dnp.np)),
        |bcand AS (
        |  SELECT q.delta_id, q.corpus_id FROM (
        |    SELECT b.doc_id AS corpus_id, i.doc_id AS delta_id, COUNT(*) AS h
        |    FROM cbot b JOIN d i USING (gh)
        |    WHERE gh NOT IN (SELECT gh FROM hotd) GROUP BY 1, 2) q
        |  JOIN cnp ON cnp.doc_id = q.corpus_id
        |  WHERE q.h >= LEAST(6, cnp.np)),
        |aint AS (
        |  SELECT a.delta_id, a.corpus_id, COUNT(*) AS i_n
        |  FROM acand a JOIN d sd ON sd.doc_id = a.delta_id
        |    JOIN c sc ON sc.doc_id = a.corpus_id AND sc.gh = sd.gh
        |  GROUP BY 1, 2),
        |bint AS (
        |  SELECT a.delta_id, a.corpus_id, COUNT(*) AS i_n
        |  FROM bcand a JOIN d sd ON sd.doc_id = a.delta_id
        |    JOIN c sc ON sc.doc_id = a.corpus_id AND sc.gh = sd.gh
        |  GROUP BY 1, 2)
        |SELECT * FROM (
        |  SELECT a.delta_id, a.corpus_id, 'delta_in_corpus' AS direction,
        |    CAST(COALESCE(i.i_n, 0) AS DOUBLE) / szd.n AS containment
        |  FROM acand a LEFT JOIN aint i
        |    ON i.delta_id = a.delta_id AND i.corpus_id = a.corpus_id
        |  JOIN szd ON szd.doc_id = a.delta_id
        |  UNION ALL
        |  SELECT a.delta_id, a.corpus_id, 'corpus_in_delta' AS direction,
        |    CAST(COALESCE(i.i_n, 0) AS DOUBLE) / szc.n AS containment
        |  FROM bcand a LEFT JOIN bint i
        |    ON i.delta_id = a.delta_id AND i.corpus_id = a.corpus_id
        |  JOIN szc ON szc.doc_id = a.corpus_id) t
        |WHERE containment >= 0.8""".stripMargin)),
    // p92: the compaction rewrite is lossless (the file-layout and
    // range-disjointness requires live in the query), so the oracle is
    // the plain source aggregate
    QuerySpec("p92_compact", p92, Oracle(
      """SELECT l_orderkey % 53 AS bucket, COUNT(*) AS cnt,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  CAST(SUM(l_partkey) AS BIGINT) AS sum_pk
        |FROM lineitem GROUP BY 1""".stripMargin)),
    // p93: readers see exactly v2 = upsert(v1, delta) — p60's
    // window-rank replay without tombstones (the rejected v3 never
    // becomes visible; the query's requires pin that on disk)
    QuerySpec("p93_publish", p93, Oracle(
      """WITH base AS (SELECT o_orderkey, o_custkey, o_totalprice,
        |    o_orderpriority FROM orders),
        |v1 AS (SELECT *, 0::BIGINT AS version, 0 AS _src FROM base),
        |delta AS (SELECT o_orderkey, o_custkey, o_totalprice,
        |    'UPDATED' AS o_orderpriority, 1::BIGINT AS version, 1 AS _src
        |  FROM base WHERE o_orderkey % 10 = 0),
        |u AS (SELECT * FROM v1 UNION ALL SELECT * FROM delta),
        |r AS (SELECT *, row_number() OVER (PARTITION BY o_orderkey
        |    ORDER BY version DESC, _src DESC) AS rn FROM u)
        |SELECT o_orderkey, o_custkey, o_totalprice, o_orderpriority, version
        |FROM r WHERE rn = 1""".stripMargin)),
    // p94: p11's component CTE extended with the per-cluster size +
    // min-id representative — one row per document, kept = unclustered
    // or the representative (exactly p11's survivor set)
    QuerySpec("p94_dedup_audit", p94, Oracle((neardupCompCte +
      """,
        |sz AS (SELECT component, COUNT(*) AS cluster_size, MIN(id) AS rep
        |  FROM comp GROUP BY component)
        |SELECT d.doc_id, comp.component AS cluster_id,
        |  COALESCE(sz.cluster_size, 1) AS cluster_size,
        |  (comp.id IS NULL OR d.doc_id = sz.rep) AS kept
        |FROM documents d
        |LEFT JOIN comp ON comp.id = d.doc_id
        |LEFT JOIN sz ON sz.component = comp.component""".stripMargin))),
    // p95: the fold/expire cycle is lossless and the rejected batch
    // (slice 3, nulled o_custkey) never became visible — the served
    // union (fold v1 ∪ late batches) is the plain bucket-filtered
    // source aggregate; the manifest/expiry/no-op-re-delivery layout
    // requires live in the query
    QuerySpec("p95_stream_retention", p95, Oracle(
      """SELECT o_orderkey % 97 AS bucket, COUNT(*) AS cnt,
        |  CAST(SUM(o_custkey) AS BIGINT) AS sum_ck,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM orders WHERE o_orderkey % 6 <> 3 GROUP BY 1""".stripMargin),
      // p95's computation is the aggregate over the served union; the
      // batch-equivalent plan is the same aggregate over the clean slices
      batchPlan = Some((s, d) => p95Agg(
        tbl(d, "orders")(s).select("o_orderkey", "o_custkey", "o_totalprice")
          .filter(col("o_orderkey") % 6 =!= 3))))
  ))

  /** p47/p50: the BPE ENCODE replay as an UNROLLED per-merge-round CTE
    * chain (VERDICT r15 #4). The recursive form kept the whole 9-step
    * working set live in one DuckDB recursion and was environment-bound
    * at sf10; unrolled, round k is a standalone MATERIALIZED CTE that
    * applies merge k only — the exact idiom p81 uses for training
    * rounds and p51 for PageRank iterations — so tools/staged_oracle.py
    * can materialize and shard each round independently. Semantically
    * identical to the recursive member (each round folds the token
    * chain left-to-right against one pinned merge). */
  private def bpeEncodeCtes(merges: Seq[(String, String)]): String = {
    val base =
      """words AS (
        |  SELECT doc_id, u.wi AS wi, toks[u.wi] AS w
        |  FROM (SELECT doc_id, list_filter(regexp_split_to_array(lower(trim(text)), '\W+'),
        |          x -> x != '') AS toks FROM documents) t,
        |       unnest(generate_series(1, len(toks))) AS u(wi)),
        |enc0 AS MATERIALIZED (
        |  SELECT doc_id, wi,
        |    '§' || list_reduce(list_prepend('', list_transform(generate_series(1, length(w)), i -> w[i])),
        |      (acc, x) -> acc || '·' || x) AS s
        |  FROM words)""".stripMargin
    val steps = merges.zipWithIndex.map { case ((a, b), i) =>
      s"""enc${i + 1} AS MATERIALIZED (
         |  SELECT doc_id, wi,
         |    list_reduce(list_prepend('§', list_filter(string_split(s, '·'), y -> y != '§')),
         |      (acc, x) -> CASE WHEN ends_with(acc, '·' || '$a') AND x = '$b'
         |        THEN left(acc, length(acc) - ${a.length} - 1) || '·' || '$a$b'
         |        ELSE acc || '·' || x END) AS s
         |  FROM enc$i)""".stripMargin
    }
    (base +: steps).mkString(",\n")
  }

  /** p81: batched BPE training replayed round-for-round. Generated by
    * the same loop shape the engine runs (`numMerges` unrolled rounds —
    * NOT numMerges/batchMerges, so under-filled batches and early stops
    * replay exactly; rounds after completion degenerate to identity via
    * the `cap <= 0` guard). Per round: pair counts over the current type
    * table, (count desc, a, b) ranking cut at the engine's fetch window,
    * sequential symbol-disjoint acceptance as a list_reduce fold over
    * 'a,b' strings (accumulator = ';'-joined accepted list — a member or
    * product colliding with a higher-ranked acceptance is rejected), and
    * the p47 merge-application fold per accepted rank. */
  private def batchedBpeOracleSql(numMerges: Int, m: Int, minPairFreq: Int): String = {
    val sb = new StringBuilder
    sb ++= """WITH RECURSIVE wt AS MATERIALIZED (
      |  SELECT w, CAST(COUNT(*) AS BIGINT) AS n FROM (
      |    SELECT unnest(list_filter(regexp_split_to_array(lower(trim(text)), '\W+'),
      |      x -> x != '')) AS w FROM documents) q GROUP BY w),
      |t0 AS MATERIALIZED (
      |  SELECT '§' || list_reduce(
      |    list_prepend('', list_transform(generate_series(1, length(w)), i -> w[i])),
      |    (acc, x) -> acc || '·' || x) AS s, n FROM wt)""".stripMargin
    for (r <- 1 to numMerges) {
      val p = r - 1
      val cumPrev = if (r == 1) "0" else (1 until r).map(k => s"nm$k.n").mkString(" + ")
      val capFrom = if (r == 1) "" else " FROM " + (1 until r).map(k => s"nm$k").mkString(", ")
      sb ++= s""",
        |pr$r AS MATERIALIZED (
        |  SELECT a, b, CAST(SUM(n) AS BIGINT) AS c FROM (
        |    SELECT ss[i] AS a, ss[i + 1] AS b, n FROM (
        |      SELECT list_filter(string_split(s, '·'), y -> y != '§') AS ss, n
        |      FROM t$p) q,
        |      unnest(generate_series(1, len(ss) - 1)) AS u(i)) q2
        |  GROUP BY a, b HAVING SUM(n) >= $minPairFreq),
        |cap$r AS MATERIALIZED (SELECT CAST(LEAST($m, $numMerges - ($cumPrev)) AS BIGINT) AS w$capFrom),
        |rk$r AS MATERIALIZED (SELECT a, b, row_number() OVER (ORDER BY c DESC, a, b) AS rn FROM pr$r),
        |rl$r AS MATERIALIZED (SELECT COALESCE(list(a || ',' || b ORDER BY rn), CAST([] AS VARCHAR[])) AS l
        |  FROM rk$r, cap$r
        |  WHERE rn <= CASE WHEN cap$r.w <= 1 THEN 1 ELSE greatest(4 * cap$r.w, 16) END),
        |sel$r AS MATERIALIZED (
        |  SELECT list_reduce(list_prepend('', rl$r.l),
        |    (acc, x) -> CASE
        |      WHEN (CASE WHEN acc = '' THEN 0 ELSE len(string_split(acc, ';')) END) >= cap$r.w
        |        THEN acc
        |      WHEN list_has_any(
        |        [string_split(x, ',')[1], string_split(x, ',')[2], replace(x, ',', '')],
        |        flatten(list_transform(string_split(acc, ';'),
        |          y -> [string_split(y, ',')[1], string_split(y, ',')[2], replace(y, ',', '')])))
        |        THEN acc
        |      WHEN acc = '' THEN x
        |      ELSE acc || ';' || x END) AS s
        |  FROM rl$r, cap$r),
        |acc$r AS MATERIALIZED (
        |  SELECT i AS rnk, string_split(ys[i], ',')[1] AS a, string_split(ys[i], ',')[2] AS b
        |  FROM (SELECT CASE WHEN s = '' THEN CAST([] AS VARCHAR[])
        |               ELSE string_split(s, ';') END AS ys FROM sel$r) q,
        |    unnest(generate_series(1, len(ys))) AS u(i)),
        |nm$r AS MATERIALIZED (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM acc$r),
        |e$r AS (
        |  SELECT s, n, 0 AS step FROM t$p
        |  UNION ALL
        |  SELECT list_reduce(list_prepend('§', list_filter(string_split(e.s, '·'), y -> y != '§')),
        |    (acc, x) -> CASE WHEN ends_with(acc, '·' || mm.a) AND x = mm.b
        |      THEN left(acc, length(acc) - length(mm.a) - 1) || '·' || mm.a || mm.b
        |      ELSE acc || '·' || x END) AS s, e.n, e.step + 1
        |  FROM e$r e JOIN acc$r mm ON mm.rnk = e.step + 1),
        |t$r AS MATERIALIZED (SELECT e$r.s AS s, e$r.n AS n FROM e$r, nm$r WHERE e$r.step = nm$r.n)""".stripMargin
    }
    sb ++= "\n" + (1 to numMerges).map { r =>
      val cum = if (r == 1) "" else (1 until r).map(k => s"nm$k.n").mkString("", " + ", " + ")
      val froms = if (r == 1) s"acc$r" else s"acc$r, " + (1 until r).map(k => s"nm$k").mkString(", ")
      s"SELECT CAST($cum${"rnk"} AS BIGINT) AS rank, a, b FROM $froms"
    }.mkString("\nUNION ALL\n")
    sb.result()
  }

  /** p79: per-column profile blocks (numeric → min/max as DOUBLE,
    * string → min/max as VARCHAR, the other pair NULL), one UNION ALL
    * per profiled column — generated by the same column lists the
    * engine call uses. */
  private lazy val profileOracleSql: String = {
    val num = Seq("l_orderkey", "l_suppkey", "l_quantity", "l_extendedprice")
    val str = Seq("l_returnflag", "l_linestatus")
    val blocks = num.map(c =>
      s"""SELECT '$c' AS col_name, COUNT(*) AS n_rows,
         |  COUNT(*) - COUNT($c) AS n_nulls, COUNT(DISTINCT $c) AS n_distinct,
         |  CAST(MIN($c) AS DOUBLE) AS min_num, CAST(MAX($c) AS DOUBLE) AS max_num,
         |  CAST(NULL AS VARCHAR) AS min_str, CAST(NULL AS VARCHAR) AS max_str
         |FROM lineitem""".stripMargin) ++
      str.map(c =>
        s"""SELECT '$c' AS col_name, COUNT(*) AS n_rows,
           |  COUNT(*) - COUNT($c) AS n_nulls, COUNT(DISTINCT $c) AS n_distinct,
           |  CAST(NULL AS DOUBLE) AS min_num, CAST(NULL AS DOUBLE) AS max_num,
           |  MIN($c) AS min_str, MAX($c) AS max_str
           |FROM lineitem""".stripMargin)
    blocks.mkString("\nUNION ALL\n")
  }
}
