package graft.ops

import graft.logic._
import org.apache.spark.sql.{Column, functions => F}
import org.apache.spark.sql.types._
import scala.reflect.runtime.universe.TypeTag

/** The shipped operator library — Spark-first equivalents of
  * cascalog-core/src/clj/cascalog/logic/ops.clj plus the def-op surface
  * (logic/def.clj). Everything here is a Column expression (codegen'd);
  * `mapFn`/`filterFn`/`mapcatFn` wrap arbitrary Scala functions via
  * `functions.udf` when no builtin exists.
  */
object Ops {

  // ------------------------------------------------------- map op builders

  /** mapfn over Column expressions (reference `::map`, def.clj:36). */
  def cmap(f: Seq[Column] => Column): ColumnMap = ColumnMap(1, cs => Seq(f(cs)))
  def cmapN(n: Int)(f: Seq[Column] => Seq[Column]): ColumnMap = ColumnMap(n, f)
  def expr1(f: Column => Column): ColumnMap = cmap(cs => f(cs.head))
  def expr2(f: (Column, Column) => Column): ColumnMap = cmap(cs => f(cs(0), cs(1)))

  /** filterfn over a Column predicate (def.clj:38). */
  def cfilter(f: Seq[Column] => Column): ColumnFilter = ColumnFilter(f)
  def pred1(f: Column => Column): ColumnFilter = ColumnFilter(cs => f(cs.head))
  def pred2(f: (Column, Column) => Column): ColumnFilter = ColumnFilter(cs => f(cs(0), cs(1)))

  /** Arbitrary Scala fns (reference serializable-fn surface, logic/fn.clj). */
  def mapFn[A: TypeTag, R: TypeTag](f: A => R): ColumnMap =
    cmap(cs => F.udf(f).apply(cs.head))
  def mapFn2[A: TypeTag, B: TypeTag, R: TypeTag](f: (A, B) => R): ColumnMap =
    cmap(cs => F.udf(f).apply(cs(0), cs(1)))
  def filterFn[A: TypeTag](f: A => Boolean): ColumnFilter =
    ColumnFilter(cs => F.udf(f).apply(cs.head))
  def filterFn2[A: TypeTag, B: TypeTag](f: (A, B) => Boolean): ColumnFilter =
    ColumnFilter(cs => F.udf(f).apply(cs(0), cs(1)))
  def mapcatFn[A: TypeTag, R: TypeTag](f: A => Seq[R]): ColumnMapcat =
    ColumnMapcat(1, cs => F.udf(f).apply(cs.head))

  // ------------------------------------------------------------- filters

  val lt: ColumnFilter = pred2(_ < _)
  val lte: ColumnFilter = pred2(_ <= _)
  val gt: ColumnFilter = pred2(_ > _)
  val gte: ColumnFilter = pred2(_ >= _)
  val eqv: ColumnFilter = pred2(_ <=> _)
  val neq: ColumnFilter = pred2(!_.<=>(_))
  val isNull: ColumnFilter = pred1(_.isNull)
  val notNull: ColumnFilter = pred1(_.isNotNull)
  val even: ColumnFilter = pred1(c => c % 2 === 0)
  val odd: ColumnFilter = pred1(c => c % 2 =!= 0)

  /** Filter-op composition (reference negate/all/any, logic/ops.clj:14-62). */
  def negate(p: ColumnFilter): ColumnFilter = ColumnFilter(cs => !p.f(cs))
  def all(ps: ColumnFilter*): ColumnFilter = ColumnFilter(cs => ps.map(_.f(cs)).reduce(_ && _))
  def any(ps: ColumnFilter*): ColumnFilter = ColumnFilter(cs => ps.map(_.f(cs)).reduce(_ || _))

  // ----------------------------------------------------------- arithmetic

  val plus: ColumnMap = cmap(_.reduce(_ + _))
  val minus: ColumnMap = cmap(_.reduce(_ - _))
  val times: ColumnMap = cmap(_.reduce(_ * _))
  /** Float-safe division (reference div, api.clj:237-242). */
  val div: ColumnMap = cmap(_.map(_.cast(DoubleType)).reduce(_ / _))
  val mod: ColumnMap = cmap(cs => cs(0) % cs(1))
  val abs: ColumnMap = expr1(F.abs)
  val inc: ColumnMap = expr1(_ + 1)
  val dec: ColumnMap = expr1(_ - 1)

  // -------------------------------------------------------------- strings

  val strConcat: ColumnMap = cmap(cs => F.concat(cs: _*))
  val lower: ColumnMap = expr1(F.lower)
  val upper: ColumnMap = expr1(F.upper)
  val strLength: ColumnMap = expr1(F.length)
  val trim: ColumnMap = expr1(F.trim)

  /** Tokenizer mapcat (reference split test op, api_test.clj:121-135). */
  def split(pattern: String = "\\s+"): ColumnMapcat =
    ColumnMapcat(1, cs => F.split(cs.head, pattern))

  /** Regex group extraction (reference re-parse, logic/ops.clj:154-158):
    * emits one row per regex match; with `groups` > 0 each match yields the
    * capture groups as multiple outputs. */
  def reParse(pattern: String): ColumnMapcat =
    ColumnMapcat(1, cs => F.regexp_extract_all(cs.head, F.lit(pattern), F.lit(0)))
  def reParseGroups(pattern: String, groups: Int): ColumnMapcat =
    ColumnMapcat(groups, cs =>
      F.transform(
        F.regexp_extract_all(cs.head, F.lit(pattern), F.lit(0)),
        m => F.struct((1 to groups).map(g =>
          F.regexp_extract(m, pattern, g).as(s"_$g")): _*)))

  // ------------------------------------------------- op composition (HOF)

  /** comp: right-to-left composition of single-out maps (ops.clj:64-79). */
  def comp(g: ColumnMap, f: ColumnMap): ColumnMap =
    cmap(cs => g.f(Seq(f.f(cs).head)).head)
  /** juxt: one input set, one output per op (ops.clj:81-104). */
  def juxt(fs: ColumnMap*): ColumnMap = ColumnMap(fs.size, cs => fs.map(_.f(cs).head))
  /** each: apply op to every input var, one output each (ops.clj:106-128). */
  def each(op: ColumnMap): ColumnMap =
    ColumnMap(-1, cs => cs.map(c => op.f(Seq(c)).head))
  /** partial application with leading constants (hof ops, api_test.clj:396-418). */
  def partial(op: ColumnMap, consts: Any*): ColumnMap =
    cmap(cs => op.f(consts.map(F.lit) ++ cs).head)
  def partialF(op: ColumnFilter, consts: Any*): ColumnFilter =
    ColumnFilter(cs => op.f(consts.map(F.lit) ++ cs))

  // ----------------------------------------------------------- aggregators
  // n-ary symmetric where the reference is (sum/min/max: k ins → k outs,
  // logic/ops_impl.clj:11-21)

  /** Merge of partial counts: a sum over no partials is null, where a
    * count over no rows (a global count of an empty input) is 0. */
  private def sumCounts(ps: Seq[Column]): Seq[Column] =
    ps.map(p => F.coalesce(F.sum(p), F.lit(0L)))

  /** c/count (ops.clj:160-162): zero-input aggregator. */
  val count: ColumnAgg = ColumnAgg(1, _ => Seq(F.count(F.lit(1))),
    Some(AggDecompose(_ => Seq(F.count(F.lit(1))), sumCounts)))
  val sum: ColumnAgg = ColumnAgg(-1, _.map(F.sum),
    Some(AggDecompose(_.map(F.sum), _.map(F.sum), exactOnFloating = false)))
  val min: ColumnAgg = ColumnAgg(-1, _.map(F.min),
    Some(AggDecompose(_.map(F.min), _.map(F.min))))
  val max: ColumnAgg = ColumnAgg(-1, _.map(F.max),
    Some(AggDecompose(_.map(F.max), _.map(F.max))))
  /** !count (ops.clj:170): counts non-null values of a nullable var. */
  val countNotNull: ColumnAgg = ColumnAgg(1, cs => Seq(F.count(cs.head)),
    Some(AggDecompose(cs => Seq(F.count(cs.head)), sumCounts)))
  val avg: ColumnAgg = ColumnAgg(1, cs => Seq(F.avg(cs.head)),
    Some(AggDecompose(cs => Seq(F.sum(cs.head), F.count(cs.head)),
      ps => Seq(F.sum(ps(0)).cast(DoubleType) / F.sum(ps(1))),
      exactOnFloating = false)))
  /** exact distinct-count (ops.clj:242-253). */
  val distinctCount: ColumnAgg =
    ColumnAgg(1, cs => Seq(F.count_distinct(cs.head, cs.tail: _*)))
  /** scale path: HyperLogLog sketch — beyond-reference, for 100 TB runs. */
  def approxDistinctCount(rsd: Double = 0.05): ColumnAgg =
    ColumnAgg(1, cs => Seq(F.approx_count_distinct(cs.head, rsd)))
  val first: ColumnAgg = ColumnAgg(-1, _.map(c => F.first(c, ignoreNulls = false)))
  val collectList: ColumnAgg = ColumnAgg(1, cs => Seq(F.collect_list(cs.head)))
  val collectSet: ColumnAgg = ColumnAgg(1, cs => Seq(F.collect_set(cs.head)))

  /** cascalog-math variance suite (cascalog-math/src/cascalog/math/stats.clj:7-48)
    * — Spark's var_pop/var_samp are already Welford-stable. */
  val variance: ColumnAgg = ColumnAgg(1, cs => Seq(F.var_pop(cs.head)))
  val sampleVariance: ColumnAgg = ColumnAgg(1, cs => Seq(F.var_samp(cs.head)))
  val stddev: ColumnAgg = ColumnAgg(1, cs => Seq(F.stddev_pop(cs.head)))

  /** Order-independent floating sum: accumulate in exact decimal, present
    * as double. Double summation order differs between engines/partitions
    * (last-ULP drift); decimal accumulation makes the result hash-stable
    * for oracle comparison at any parallelism. */
  def sumDec(precision: Int = 18, scale: Int = 4): ColumnAgg =
    ColumnAgg(-1, _.map(c =>
      F.sum(c.cast(DecimalType(precision, scale))).cast(DoubleType)),
      // partials stay DECIMAL (casting to double per partial would break
      // the hash-stability the op exists for); only the final merge casts
      Some(AggDecompose(
        _.map(c => F.sum(c.cast(DecimalType(precision, scale)))),
        _.map(c => F.sum(c).cast(DoubleType)))))

  /** Hash-stable mean: exact decimal sum / count, divided in double. */
  def avgDec(precision: Int = 18, scale: Int = 4): ColumnAgg =
    ColumnAgg(1, cs => Seq(
      F.sum(cs.head.cast(DecimalType(precision, scale))).cast(DoubleType) /
        F.count(cs.head)),
      Some(AggDecompose(
        cs => Seq(F.sum(cs.head.cast(DecimalType(precision, scale))), F.count(cs.head)),
        ps => Seq(F.sum(ps(0)).cast(DoubleType) / F.sum(ps(1))))))

  /** Non-space token runs — engine-portable tokenizer (same semantics as
    * DuckDB regexp_extract_all(text, '\S+')). */
  val tokens: ColumnMapcat =
    ColumnMapcat(1, cs => F.regexp_extract_all(cs.head, F.lit("\\S+"), F.lit(0)))

  /** Any Spark aggregate expression as an aggregator — also the entry point
    * for `functions.udaf(Aggregator)` custom monoids (defparallelagg). */
  def cagg(f: Seq[Column] => Column): ColumnAgg = ColumnAgg(1, cs => Seq(f(cs)))

  // ------------------------------------------------------------- buffers

  /** limit / limit-rank (ops.clj:172-226) — window-rank plan, see LimitAgg. */
  def limit(n: Int): LimitAgg = LimitAgg(n)
  def limitRank(n: Int): LimitAgg = LimitAgg(n, withRank = true)
  /** Skew-safe top-k: two-phase salted plan, identical output. */
  def limitSalted(n: Int, salt: Int = 16): LimitAgg = LimitAgg(n, salt = salt)
  /** Bounded-buffer top-k AGGREGATION (operators.TopK): map-side partial
    * keep-n-of-2n like the reference's limit combiner — shuffles ≤ n rows
    * per group per task instead of window-sorting whole groups. */
  def limitHeap(n: Int): LimitAgg = LimitAgg(n, heap = true)
  def limitRankHeap(n: Int): LimitAgg = LimitAgg(n, withRank = true, heap = true)

  /** bufferfn (def.clj:40): group tuples (secondary-sorted) → output tuples. */
  def bufferFn(numOut: Int, outTypes: Seq[DataType])(
      f: Iterator[Seq[Any]] => Iterator[Seq[Any]]): BufferOp =
    BufferOp(numOut, outTypes, f)

  /** Pass-through buffer: output tuple schema = input tuple schema. */
  def bufferSame(numOut: Int)(f: Iterator[Seq[Any]] => Iterator[Seq[Any]]): BufferOp =
    BufferOp(numOut, Nil, f)

  /** aggregatefn (def.clj:39): init/step/present sequential fold —
    * mixable with parallel aggregators, unlike buffers. */
  def aggregateFn[B](numOut: Int, outTypes: Seq[DataType])(
      init: => B)(step: (B, Seq[Any]) => B)(present: B => Seq[Any]): SeqAggOp =
    AggregateFn(init, step, present, numOut, outTypes)
}
