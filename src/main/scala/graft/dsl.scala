package graft

import scala.language.implicitConversions

import graft.logic._
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{broadcast => bcast, _}
import org.apache.spark.sql.types._

/** The query DSL — value-level Scala equivalent of the reference's `<-`
  * macro surface (cascalog-core/src/clj/cascalog/api.clj). Logic vars keep
  * the reference's string conventions (`?x` `!x` `!!x` `_`, §1.3 of
  * SURVEY.md); predicates are built with `op(ins...) :> (outs...)`.
  *
  * {{{
  * import graft.dsl._; import graft.ops.Ops
  * val wc = query("?word", "?cnt")(
  *   src(docs)("?line"),
  *   Ops.split()("?line") :> "?word",
  *   Ops.count() :> "?cnt")
  * wc.toDF(spark)
  * }}}
  */
object dsl {

  /** `(<- [outvars] preds...)` (api.clj:125-135). Predicate macros are
    * expanded recursively before planning (logic/parse.clj:94-102). */
  def query(out: Any*)(preds: PredLike*): Query =
    Query(out, expandPreds(preds))

  private def expandPreds(ps: Seq[PredLike]): Seq[Pred] = ps.flatMap {
    case MacroCall(m, in, o) => expandPreds(m(in, o))
    case p => Seq(p.toPred)
  }

  // ----------------------------------------------------------- generators

  /** Any DataFrame as a generator, fields bound positionally. */
  def src(df: DataFrame)(fields: Any*): GenPred = GenPred(_ => df, fields)

  /** Lazily-loaded source (for queries parameterized by a data dir). */
  def source(load: SparkSession => DataFrame)(fields: Any*): GenPred =
    GenPred(load, fields)

  def parquet(path: String)(fields: Any*): GenPred =
    GenPred(graft.sources.Taps.parquet(_, path), fields)

  /** In-memory rows as a generator (reference memory-source-tap,
    * cascading/tap.clj:230-236). Small by construction → broadcast hint.
    * An EMPTY rows seq is legal (api_test.clj:36-40 test-empty-vector-
    * input): arity then comes from the binding site, schema all-string. */
  def mem(rows: Seq[Seq[Any]])(fields: Any*): GenPred =
    GenPred(s => memDF(s, rows, arity = fields.length), fields, small = true)

  /** Mark a generator broadcast-able (reference hash-join-with-tiny,
    * cascading/operations.clj:412-454). */
  def tiny(g: GenPred): GenPred = g.copy(small = true)

  /** Declare a candidate key: the generator's rows are unique per the
    * given vars (e.g. a dimension's primary key). Key metadata lets the
    * planner prove a join is a LOOKUP and rewrite agg-above-join plans
    * into the eager shape (partial aggregation below the join) — the plan
    * that wins when a fact table dwarfs its dims. Declaring a non-key is
    * the caller's soundness bug, like any wrong schema assertion. */
  def uniqueOn(g: GenPred, vars: String*): GenPred = {
    require(vars.nonEmpty && vars.forall(v => g.fields.contains(v)),
      s"uniqueOn vars ${vars.mkString(",")} must all be bound by the generator")
    g.copy(uniqueSets = g.uniqueSets :+ vars.toSet)
  }

  /** Generator-as-set (reference `(src ?x :> flag)` existence predicate). */
  def exists(g: GenPred): ExistsPred = ExistsPred(g, true)
  def absent(g: GenPred): ExistsPred = ExistsPred(g, false)
  def existsAs(g: GenPred, boolVar: String): ExistsPred = ExistsPred(g, boolVar)

  // ------------------------------------------------- predicate call sugar

  sealed trait PredLike { def toPred: Pred }
  final case class PredOf(p: Pred) extends PredLike { def toPred: Pred = p }
  /** An op applied to inputs; `:>` binds outputs, bare use = filter. */
  final case class OpCall(op: Op, in: Seq[Any]) extends PredLike {
    def :>(out: Any*): PredOf = PredOf(OpPred(op, in, out))
    def toPred: Pred = OpPred(op, in, Nil)
  }

  implicit def predIsPredLike(p: Pred): PredOf = PredOf(p)
  implicit class OpSyntax(private val op: Op) {
    def apply(in: Any*): OpCall = OpCall(op, in)
  }

  /** Trapped op sugar: `trapped(f, "?x") :> "?y"` — on exception the tuple
    * goes to the query's `withTrap` sink (or is dropped if none), the job
    * continues. Error rides a reserved `!__trap*` var until the planner
    * diverts it pre-aggregation. */
  def trapped[A: scala.reflect.runtime.universe.TypeTag,
      R: scala.reflect.runtime.universe.TypeTag](f: A => R, in: Any*): TrappedCall =
    TrappedCall(graft.operators.Trap.trapFn(f), in)

  final case class TrappedCall(op: ColumnMap, in: Seq[Any]) {
    def :>(out: Any*): PredOf =
      PredOf(OpPred(op, in, out :+ Vars.genTrapVar()))
  }

  final case class MacroCallBuilder(m: PredMacro, in: Seq[Any]) {
    def :>(out: Any*): MacroCall = MacroCall(m, in, out)
  }
  implicit class MacroSyntax(private val m: PredMacro) {
    def apply(in: Any*): MacroCallBuilder = MacroCallBuilder(m, in)
  }

  // -------------------------------------------- generator transformations

  /** first-n (reference logic/ops.clj:273-304): global sorted head of a
    * subquery/generator → `orderBy(...).limit(n)`. */
  def firstN(q: Query, n: Int, sort: Seq[String] = Nil, reverse: Boolean = false)(
      fields: Any*): GenPred =
    GenPred({ s =>
      val df = q.toDF(s)
      val sorted =
        if (sort.isEmpty) df
        else df.orderBy(sort.map(v =>
          if (reverse) col(Vars.displayName(v)).desc else col(Vars.displayName(v)).asc): _*)
      sorted.limit(n)
    }, fields)

  /** sample* (cascading/operations.clj:109-116): Bernoulli sample by
    * fraction with seed, as a generator transform. */
  def sample(g: GenPred, fraction: Double, seed: Long = 42L): GenPred =
    g.copy(load = s => Planner0.bind(s, g).sample(fraction, seed),
      fields = g.fields.collect { case v: String if Vars.isVar(v) && !Vars.isWildcard(v) => v })

  /** fixed-sample (ops.clj:255-269): uniform random n rows (seeded rand key
    * + global limit, same plan shape as the reference's RandLong + sort). */
  def fixedSample(g: GenPred, n: Int, seed: Long = 42L): GenPred =
    GenPred(s => Planner0.bind(s, g).orderBy(rand(seed)).limit(n), g.fields.collect {
      case v: String if Vars.isVar(v) => v
    })

  /** combine: union-all of generators, no dedupe (api.clj:178-186).
    * The merged generator's fields are the head's BOUND vars (wildcards,
    * constants and duplicate positions are resolved at bind time). */
  def combine(gs: GenPred*): GenPred = {
    val fields = gs.head.fields.collect {
      case v: String if Vars.isVar(v) && !Vars.isWildcard(v) => v
    }.distinct
    GenPred(s => gs.map(g => Planner0.bind(s, g)).reduce(_ unionAll _), fields)
  }

  /** union: union + dedupe (api.clj:188-192). */
  def union(gs: GenPred*): GenPred = {
    val c = combine(gs: _*)
    c.copy(load = s => c.load(s).distinct())
  }

  /** select-fields on a named source (logic/parse.clj:801-817). */
  def selectFields(df: DataFrame, names: String*): DataFrame =
    df.select(names.map(col): _*)

  /** Field-level operations (reference cascading/operations.clj:78-125):
    * the select/identity/discard/rename/insert/debug star-ops as
    * DataFrame transformations. */
  object fields {
    /** select* (operations.clj:78-83). */
    def select(df: DataFrame, names: String*): DataFrame = selectFields(df, names: _*)
    /** identity*: mirror input fields into new output fields (:85-88). */
    def identity(df: DataFrame, from: Seq[String], to: Seq[String]): DataFrame =
      from.zip(to).foldLeft(df) { case (d, (f, t)) => d.withColumn(t, col(f)) }
    /** discard* (:90-93). */
    def discard(df: DataFrame, names: String*): DataFrame = df.drop(names: _*)
    /** rename* (:118-125). */
    def rename(df: DataFrame, from: Seq[String], to: Seq[String]): DataFrame =
      from.zip(to).foldLeft(df) { case (d, (f, t)) => d.withColumnRenamed(f, t) }
    /** insert*: constant-valued fields (:100-107). */
    def insert(df: DataFrame, values: (String, Any)*): DataFrame =
      values.foldLeft(df) { case (d, (n, v)) => d.withColumn(n, lit(v)) }
    /** debug*: print passing tuples, pass through (:95-98). */
    def debug(df: DataFrame, n: Int = 20): DataFrame = { df.show(n, truncate = false); df }
  }

  /** intersect / except — absent in the reference (expressible there only
    * via exists-joins, SURVEY §2.9); free primitives on Spark. */
  def intersect(a: GenPred, b: GenPred): GenPred =
    a.copy(load = s => Planner0.bind(s, a).intersect(Planner0.bind(s, b)),
      fields = boundVars(a))
  def except(a: GenPred, b: GenPred): GenPred =
    a.copy(load = s => Planner0.bind(s, a).except(Planner0.bind(s, b)),
      fields = boundVars(a))

  private def boundVars(g: GenPred): Seq[Any] = g.fields.collect {
    case v: String if Vars.isVar(v) && !Vars.isWildcard(v) => v
  }.distinct

  /** checkpoint* (reference cascading/operations.clj:626-632: force a
    * temp-file job boundary mid-flow) → [[Stage.materialize]] — truncates
    * lineage and materializes (localCheckpoint on local[*]; reliable
    * storage under `spark.graft.checkpoint.mode=reliable`), the Spark
    * equivalent of the reference's intermediate seqfile. */
  def checkpointed(g: GenPred): GenPred =
    g.copy(load = s => Stage.materialize(Planner0.bind(s, g)), fields = boundVars(g))

  /** Reusable branch: persist a generator consumed by several queries. */
  def cached(g: GenPred): GenPred =
    g.copy(load = s => Planner0.bind(s, g).cache(), fields = boundVars(g))

  /** name-vars (api.clj:154-158). */
  def nameVars(df: DataFrame, vars: Seq[String])(fields: Any*): GenPred =
    GenPred(_ => df.toDF(vars.map(Vars.displayName): _*), fields)

  /** `??-` run-to-memory (api.clj:113-123) — just collect. */
  def runToMemory(spark: SparkSession, q: Query): Seq[Seq[Any]] =
    q.toDF(spark).collect().toSeq.map(_.toSeq)

  /** `??-` over several queries at once (test-multi-query-parallel,
    * api_test.clj:804-814): compiled together, collected CONCURRENTLY —
    * Spark's scheduler interleaves the jobs; results come back in
    * argument order. */
  def runToMemory(spark: SparkSession, qs: Seq[Query]): Seq[Seq[Seq[Any]]] = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    val dfs = qs.map(_.toDF(spark)) // compile on the caller thread
    Await.result(
      Future.sequence(dfs.map(df =>
        Future(df.collect().toSeq.map(_.toSeq)))),
      Duration.Inf)
  }

  // ------------------------------------------------------ predicate macros

  /** Predicate macro (reference logic/predmacro.clj:65-128): a function
    * from bound vars to a predicate list, expanded before planning — pure
    * AST→AST. Splice into a query with `: _*` or via [[expand]].
    *
    * {{{
    * val avgM = predmacro { case (Seq(x), Seq(out)) =>
    *   val (c, s) = (Vars.gen(), Vars.gen())
    *   Seq(Ops.count() :> c, Ops.sum(x) :> s, Ops.div(s, c) :> out)
    * }
    * query("?k", "?avg")(gen, expand(avgM)("?x")("?avg")) // or splice
    * }}}
    */
  type PredMacro = (Seq[Any], Seq[Any]) => Seq[PredLike]
  def predmacro(f: PartialFunction[(Seq[Any], Seq[Any]), Seq[PredLike]]): PredMacro =
    (in, out) => f((in, out))

  /** A pre-expanded macro call usable directly as one predicate-list. */
  final case class MacroCall(m: PredMacro, in: Seq[Any], out: Seq[Any]) extends PredLike {
    def toPred: Pred =
      sys.error("macro call must be expanded; pass through query(...) which expands it")
  }

  /** The shipped avg predicate macro (reference logic/ops.clj:228-240). */
  val avgMacro: PredMacro = (in, out) => {
    val (c, s) = (Vars.gen(), Vars.gen())
    Seq(graft.ops.Ops.count() :> c,
      graft.ops.Ops.sum(in.head) :> s,
      graft.ops.Ops.div(s, c) :> out.head)
  }

  /** Variance via moments — multi-predicate macro composition
    * (cascalog-math stats.clj:7-48 re-expressed as a predmacro). */
  val varianceMacro: PredMacro = (in, out) => {
    val x = in.head
    val (x2, n, sx, sx2, a, m, m2) =
      (Vars.gen(), Vars.gen(), Vars.gen(), Vars.gen(), Vars.gen(), Vars.gen(), Vars.gen())
    Seq(
      graft.ops.Ops.times(x, x) :> x2,
      graft.ops.Ops.count() :> n,
      graft.ops.Ops.sum(x) :> sx,
      graft.ops.Ops.sum(x2) :> sx2,
      graft.ops.Ops.div(sx2, n) :> a,
      graft.ops.Ops.div(sx, n) :> m,
      graft.ops.Ops.times(m, m) :> m2,
      graft.ops.Ops.minus(a, m2) :> out.head)
  }

  // --------------------------------------------------------------- memDF

  private[graft] object Planner0 {
    /** Bind a generator to its projected/filtered DataFrame with display
      * column names — used by generator-level transforms. */
    def bind(s: SparkSession, g: GenPred): DataFrame = {
      val t = planner.Planner.bindGenerator(s, g)
      t.df.select(t.fields.map(v => col(Vars.colName(v)).as(Vars.displayName(v))): _*)
    }
  }

  private def inferType(v: Any): DataType = v match {
    case _: Int => IntegerType
    case _: Long => LongType
    case _: Double => DoubleType
    case _: Float => FloatType
    case _: String => StringType
    case _: Boolean => BooleanType
    case _: java.math.BigDecimal => DecimalType(38, 18)
    case _: java.sql.Timestamp => TimestampType
    case _: java.sql.Date => DateType
    case _: Array[Byte] => BinaryType
    case s: Seq[_] =>
      require(s.nonEmpty, "cannot infer element type of an empty collection")
      val ts = s.map(inferType).distinct
      require(ts.size == 1, s"mixed element types $ts") // → AnyColumn fallback
      ArrayType(ts.head)
    case other => throw new IllegalArgumentException(s"cannot infer type of $other")
  }

  private def coerce(v: Any, dt: DataType): Any = (v, dt) match {
    case (null, _) => null
    case (n: Number, LongType) => n.longValue()
    case (n: Number, IntegerType) => n.intValue()
    case (n: Number, DoubleType) => n.doubleValue()
    case (n: Number, FloatType) => n.floatValue()
    case (s: Seq[_], ArrayType(et, _)) => s.map(coerce(_, et))
    case (x, _) => x
  }

  /** Local rows → DataFrame with per-column inferred schema (numeric
    * values coerced to the inferred width). A column whose non-null values
    * mix incompatible types — or hold values Spark has no type for (nested
    * Clojure-style maps, arbitrary objects) — falls back to the
    * [[graft.logic.AnyColumn]] tagged-binary codec (reference untyped
    * tuples, SURVEY §1.2/§7.4.4); the typed fast path is untouched. */
  def memDF(s: SparkSession, rows: Seq[Seq[Any]], arity: Int = -1): DataFrame = {
    require(rows.nonEmpty || arity >= 0,
      "empty mem generator needs a declared arity (bind it to fields)")
    val n = if (rows.nonEmpty) rows.head.length else arity
    val types: Seq[DataType] = (0 until n).map { i =>
      val inferred = rows.flatMap(r => Option(r(i))).map { v =>
        try inferType(v) catch { case scala.util.control.NonFatal(_) => BinaryType }
      }.distinct
      inferred match {
        case Seq() => StringType
        case Seq(one) => one
        case many if many.forall(t => t == LongType || t == IntegerType) => LongType
        case many if many.forall(_.isInstanceOf[NumericType]) => DoubleType
        case _ => BinaryType // mixed → AnyColumn codec
      }
    }
    val schema = StructType(types.zipWithIndex.map { case (t, i) =>
      StructField(s"c$i", t, nullable = true)
    })
    val data = rows.map(r => Row.fromSeq(r.zip(types).map {
      case (v, BinaryType) if v != null && !v.isInstanceOf[Array[Byte]] =>
        graft.logic.AnyColumn.encode(v)
      case (v, t) => coerce(v, t)
    }))
    s.createDataFrame(new java.util.ArrayList[Row](scala.jdk.CollectionConverters.SeqHasAsJava(data).asJava), schema)
  }
}
