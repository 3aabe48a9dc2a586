package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Explicit hot-key salting for skewed joins — the deterministic
  * complement to AQE's runtime skew-join split (which only rewrites
  * sort-merge joins and only after a stage materializes its skew). At
  * 100 TB a handful of viral keys (a bot user_id, an empty-string URL
  * host, a default partition value) can hold one reducer for hours while
  * the other 999 executors idle; salting spreads each hot key's rows
  * over `salts` sub-partitions BEFORE the shuffle, bounding any single
  * task at roughly `hot_rows / salts`.
  *
  * Mechanics: hot keys are found with one map-side-combined count over
  * the left (skewed) input — or supplied by the caller from prior stats —
  * and broadcast to both sides. Left rows of a hot key take a
  * deterministic row-hash salt in `[0, salts)`; right rows of a hot key
  * replicate once per salt; everything else keeps salt 0 and pays
  * nothing. The join then runs on `keys :+ salt`, so its result is
  * row-for-row the plain join's (the oracle checks exactly that).
  *
  * Left-preserving join types only (inner / left_outer / left_semi /
  * left_anti): each left row still appears exactly once per match (or
  * once, for outer/semi/anti), while right rows are replicated and
  * therefore must not be preserved unmatched. Null join keys never match
  * and are left at salt 0 on both sides.
  *
  * Salt assignment: a salt must differ across a hot key's ROWS, so a
  * pure content hash only works when rows are distinct — on a key-only
  * projection (every row of the hot key identical) a content hash puts
  * the whole key on ONE salt and silently recreates the skew it exists
  * to break (ADVICE r8). So: pass `saltBy` naming a (near-)unique column
  * set when you have one (deterministic under any retry — the salt is a
  * pure row function); otherwise the default mixes the row hash with
  * `monotonically_increasing_id()`, which spreads exact duplicates too
  * and is stable whenever the input partitioning is deterministic (the
  * same contract Spark's own round-robin `repartition()` relies on).
  * Either way the JOIN RESULT is salt-invariant — only load balance
  * depends on it.
  *
  * Pass the SKEWED side as `left`; `hotKeyThreshold` is rows-per-key in
  * that input (at scale, derive the hot set from a sample or persisted
  * key stats — [[writeKeyStats]] / [[hotFromStats]] — and pass it via
  * `hot` to skip the counting pass). */
object SkewJoin {

  /** Keys of `df` whose exact row count exceeds `threshold` — one
    * map-side-combined aggregation, output is broadcast-sized by the
    * definition of "hot" (few keys can exceed a large threshold). */
  def hotKeys(df: DataFrame, keys: Seq[String], threshold: Long): DataFrame =
    df.groupBy(keys.map(col): _*).agg(count(lit(1)).as("_n"))
      .filter(col("_n") > threshold)
      .select(keys.map(col): _*)

  /** Persist per-key row counts as a reusable stats tap (parquet of
    * `keys :+ _n`): one counting pass amortized over every later salted
    * join of the same input — at 100 TB the left input is typically a
    * maintained corpus whose key histogram changes slowly, so pipelines
    * write stats once per ingest and every join reads the tiny stats
    * table instead of re-scanning the corpus. */
  def writeKeyStats(df: DataFrame, keys: Seq[String], path: String): Unit =
    df.groupBy(keys.map(col): _*).agg(count(lit(1)).as("_n"))
      .write.mode("overwrite").parquet(path)

  /** Hot set from a persisted [[writeKeyStats]] tap — no scan of the
    * joined input; feed the result to `saltedJoin(hot = Some(...))`. */
  def hotFromStats(spark: org.apache.spark.sql.SparkSession, path: String,
      keys: Seq[String], threshold: Long): DataFrame =
    graft.sources.Taps.parquet(spark, path)
      .filter(col("_n") > threshold)
      .select(keys.map(col): _*)

  /** Salt basis: caller-named unique columns (pure row function, fully
    * retry-deterministic) or, by default, the full row PLUS a positional
    * id — identical rows (key-only projections!) must still spread.
    * Package-visible so the spec exercises the operator's own
    * expressions, not a replica. */
  private[graft] def saltBasis(leftCols: Seq[String], saltBy: Seq[String]): Seq[Column] =
    if (saltBy.nonEmpty) saltBy.map(col)
    else leftCols.map(col) :+ monotonically_increasing_id()

  private[graft] def saltExpr(basis: Seq[Column], salts: Int): Column =
    pmod(xxhash64(basis: _*), lit(salts.toLong)).cast("int")

  def saltedJoin(
      left: DataFrame,
      right: DataFrame,
      keys: Seq[String],
      joinType: String = "inner",
      salts: Int = 16,
      hotKeyThreshold: Long = 1000000L,
      hot: Option[DataFrame] = None,
      saltBy: Seq[String] = Seq.empty): DataFrame = {
    require(salts > 1, s"salts must be > 1, got $salts")
    val normalized = joinType.toLowerCase.replace("_", "")
    require(Set("inner", "left", "leftouter", "leftsemi", "leftanti")(normalized),
      s"saltedJoin supports left-preserving join types only, got '$joinType' " +
        "(right/full outer would preserve replicated right rows)")
    val hotDf = hot.getOrElse(hotKeys(left, keys, hotKeyThreshold))
      .select(keys.map(col): _*).distinct()
      .withColumn("_hot", lit(true))
    val lt = left.join(broadcast(hotDf), keys, "left_outer")
      .withColumn("_salt",
        when(col("_hot"), saltExpr(saltBasis(left.columns, saltBy), salts))
          .otherwise(lit(0)))
      .drop("_hot")
    val rt = right.join(broadcast(hotDf), keys, "left_outer")
      .withColumn("_salt",
        explode(when(col("_hot"), sequence(lit(0), lit(salts - 1)))
          .otherwise(array(lit(0)))))
      .drop("_hot")
    lt.join(rt, keys :+ "_salt", joinType).drop("_salt")
  }
}
