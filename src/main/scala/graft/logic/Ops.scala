package graft.logic

import org.apache.spark.sql.Column
import org.apache.spark.sql.types.DataType

/** Operator ADT. Everything scalar is expressed as Column→Column so the
  * whole pipeline stays inside Catalyst/whole-stage codegen; arbitrary Scala
  * functions enter through `functions.udf` wrappers built in [[graft.ops]].
  *
  * Reference op taxonomy: mapfn/mapcatfn/filterfn/aggregatefn/bufferfn
  * (cascalog-core/src/clj/cascalog/logic/def.clj:36-41).
  */
sealed trait Op

/** 1→1 scalar op (reference `::map`, logic/parse.clj:202-207): builds
  * `numOut` output Columns from the input Columns. */
final case class ColumnMap(numOut: Int, f: Seq[Column] => Seq[Column]) extends Op

/** 1→N op (reference `::mapcat`, ClojureMapcat.java): `f` returns an array
  * Column; each element yields a row. numOut > 1 → array of structs whose
  * fields `_1.._n` become the output vars. Empty/null array → no rows. */
final case class ColumnMapcat(numOut: Int, f: Seq[Column] => Column) extends Op

/** Filter (reference FilterApplication, logic/parse.clj:224-229). With an
  * output binding the boolean is captured instead of filtering
  * (logic/predicate.clj:176-180). */
final case class ColumnFilter(f: Seq[Column] => Column) extends Op

/** Two-level decomposition of an aggregator for the planner's eager
  * (below-join) aggregation rewrite: `partial` aggregates raw inputs into
  * any number of intermediate columns; `merge` re-aggregates those
  * intermediates into the final outputs (avg rides two intermediates —
  * sum and count — merged as sum(sums)/sum(counts)). Lawful when
  * `merge(partial(xs₁) ∪ partial(xs₂)) == f(xs₁ ∪ xs₂)` for any split of
  * the group's rows — sums/counts/mins/maxes/averages, not
  * count-distinct or variance.
  *
  * `exactOnFloating`: whether the split preserves bit-identical results
  * when the partial columns are float/double. Min/max/count always do;
  * re-summed floating sums/averages regroup additions (last-ULP drift),
  * so the planner declines the rewrite for them unless the partials are
  * integral/decimal (the Dec variants accumulate in decimal and stay
  * exact by construction). */
final case class AggDecompose(
    partial: Seq[Column] => Seq[Column],
    merge: Seq[Column] => Seq[Column],
    exactOnFloating: Boolean = true)

/** Aggregator expressed as Spark aggregate Columns — covers the reference's
  * ParallelAggregator surface (logic/def.clj:107,137-164): Catalyst gives
  * map-side partial aggregation for free. Custom monoids arrive here via
  * `functions.udaf(Aggregator)`. `decompose`, when set, licenses the eager
  * aggregation rewrite to split this agg across a lookup join. */
final case class ColumnAgg(numOut: Int, f: Seq[Column] => Seq[Column],
    decompose: Option[AggDecompose] = None) extends Op

/** Whole-group buffer (reference `::buffer`/`::bufferiter`,
  * logic/def.clj:33,40-41): the group's tuples — secondary-sorted when
  * `:sort` is set (logic/options.clj:21-23) — stream through `f` lazily.
  * Output tuple schema must be declared (`outTypes`) since buffers are
  * arbitrary Scala code. */
final case class BufferOp(
    numOut: Int,
    outTypes: Seq[DataType],
    f: Iterator[Seq[Any]] => Iterator[Seq[Any]]
) extends Op

/** Per-group top-k (reference `limit`/`limit-rank`, logic/ops.clj:172-226).
  * The reference implements this as a ParallelBuffer with a keep-n-of-2n
  * map-side combiner; on Spark the scalable plan is
  * `row_number().over(Window.partitionBy(group).orderBy(sort))` + filter —
  * no per-group materialization, codegen'd. Passes the input tuple through
  * to the outputs; `withRank` appends the 1-based rank.
  *
  * `salt > 1` enables the skew-safe two-phase plan: local top-n per
  * (group, salt) bucket, then final top-n per group — a hot key's rows
  * spread over `salt` tasks instead of one straggler window partition.
  * Output is identical to the unsalted plan. */
final case class LimitAgg(n: Int, withRank: Boolean = false, salt: Int = 0,
    heap: Boolean = false) extends Op

/** Sequential-fold aggregator marker (reference `aggregatefn`,
  * logic/def.clj:39). Unlike buffers, sequential aggregators MAY mix with
  * parallel aggregators and with each other in one grouping
  * (parse.clj:131-139 only excludes buffers; api_test.clj:181-191
  * test-complex-noncomplex-agg-mix is the spec). The planner runs each as
  * a sorted-group fold and assembles multi-aggregator results by joining
  * on the group keys — the same composition the reference's in-memory
  * platform uses (in_memory/platform.clj:178-198). */
final case class SeqAggOp(buffer: BufferOp) extends Op

/** Sequential fold aggregator (reference `aggregatefn`, logic/def.clj:39):
  * init → step per tuple → present. Runs on the (optionally sorted) group
  * iterator, reduce-side, exactly like the reference's ClojureAggregator. */
object AggregateFn {
  def apply[B](
      init: => B,
      step: (B, Seq[Any]) => B,
      present: B => Seq[Any],
      numOut: Int,
      outTypes: Seq[DataType]
  ): SeqAggOp =
    SeqAggOp(BufferOp(numOut, outTypes, { it =>
      var acc = init
      while (it.hasNext) acc = step(acc, it.next())
      Iterator.single(present(acc))
    }))
}
