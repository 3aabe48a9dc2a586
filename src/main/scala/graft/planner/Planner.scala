package graft.planner

import graft.logic._
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import scala.collection.mutable

/** Query planner: predicates → DataFrame.
  *
  * A direct Spark-first re-expression of the reference planner
  * (cascalog-core/src/clj/cascalog/logic/parse.clj:685-730 `build-rule`):
  * bind generators, fixed-point operation application (filters first,
  * parse.clj:375-385), greedy maximal-shared-vars tail merging with
  * groundness-driven join types (parse.clj:389-464,523-533), then
  * grouping/unique and the final projection. Instead of emitting a node
  * tree for a pluggable backend, each tail IS a DataFrame — Catalyst then
  * performs the pushdown/pruning/reorder rewrites the reference hand-rolls
  * (SURVEY §4.1).
  */
object Planner {

  /** A query tail: a DataFrame whose columns are the bound logic vars
    * (mangled via [[Vars.colName]]), mirroring the reference TailStruct
    * (logic/parse.clj:173). `uniqueKeys` carries declared candidate keys
    * (sets of vars unique per row) — set at generator binding, preserved
    * by filters/maps, conservatively dropped by anything else. */
  final case class Tail(df: DataFrame, fields: Vector[String],
      groundOverride: Option[Boolean] = None,
      uniqueKeys: Seq[Set[String]] = Nil) {
    /** Ground status drives join typing. A fresh generator tail is ground
      * iff it binds no `!!` vars; a JOINED tail is ground if ANY of its
      * inputs was ground (parse.clj:460 `(s/some? :ground? join-set)`) —
      * the ground core keeps later joins left-outer even though the tail
      * now carries nullable `!!` columns from earlier outer joins. */
    def isGround: Boolean = groundOverride.getOrElse(fields.forall(Vars.isGroundVar))
    def col(v: String): Column = df.col(Vars.colName(v))
  }

  def compile(spark: SparkSession, q: Query): DataFrame = {
    val gens = q.preds.collect { case g: GenPred => g }
    val exist = q.preds.collect { case e: ExistsPred => e }
    val allOps = q.preds.collect { case o: OpPred => o }
    require(gens.nonEmpty, "query needs at least one generator")

    val (aggPreds, scalarPreds) = allOps.partition(o =>
      o.op.isInstanceOf[ColumnAgg] || o.op.isInstanceOf[BufferOp] ||
        o.op.isInstanceOf[LimitAgg] || o.op.isInstanceOf[SeqAggOp])

    // Reference validations (logic/parse.clj:131-139); limit is a
    // ParallelBuffer in the reference, so it is buffer-exclusive too.
    // Sequential aggregatefns (SeqAggOp) are NOT buffers: they mix freely
    // with parallel aggregators and each other (api_test.clj:181-191).
    val bufferCount = aggPreds.count(o =>
      o.op.isInstanceOf[BufferOp] || o.op.isInstanceOf[LimitAgg])
    require(bufferCount <= 1, "cannot use multiple buffers in one grouping")
    require(bufferCount == 0 || aggPreds.size == bufferCount,
      "cannot mix buffers with other aggregators")
    require(q.options.sort.isEmpty || aggPreds.nonEmpty,
      "cannot specify a sort when there are no aggregators")

    // Ungrounding-var rules (logic/parse.clj:113-129; tests
    // api_test.clj:325-351): a `!!` var springs from exactly ONE
    // generator, never from an op output, and generators-as-sets may not
    // mention one at all.
    val genUnground = gens.flatMap(_.fields).collect {
      case v: String if Vars.isUnground(v) => v
    }
    genUnground.groupBy(identity).foreach { case (v, occ) =>
      require(occ.size == 1, s"ungrounding var $v can only appear in one generator")
    }
    allOps.foreach(_.out.foreach {
      case v: String if Vars.isUnground(v) => throw new IllegalArgumentException(
        s"ungrounding var $v must spring from a generator, not an operation")
      case _ => ()
    })
    exist.foreach { e =>
      (e.gen.fields :+ e.flag).foreach {
        case v: String if Vars.isUnground(v) => throw new IllegalArgumentException(
          s"no ungrounding vars allowed in generators-as-sets: $v")
        case _ => ()
      }
    }

    q.options.name.foreach(spark.sparkContext.setJobDescription)

    // Dead-operation pruning (parse.clj:640-682; spec parse_test.clj:50-129):
    // drop map operations whose outputs reach neither the out-fields, a
    // generator var (join/implicit equality), a filter/aggregator input,
    // another kept op's input, nor :sort — chained dead ops fall at the
    // fixed point. Matters semantically, not just for speed: a pruned op
    // never runs (it may throw) and never injects its `?`-output null
    // filter. Disabled wholesale when ANY predicate has zero inputs
    // (reference rule — e.g. `count` makes every field load-bearing).
    def outVars(o: OpPred) = o.out.collect { case v: String if Vars.isVar(v) => v }
    def inVars(o: OpPred) = o.in.collect { case v: String if Vars.isVar(v) => v }
    val keptScalars: Seq[OpPred] =
      if (allOps.exists(_.in.isEmpty)) scalarPreds
      else {
        def effectful(o: OpPred): Boolean =
          o.out.isEmpty || // pure filter (incl. mapop-as-filter truthiness)
            o.out.exists {
              case v: String if Vars.isVar(v) => Vars.isTrapVar(v)
              case w: String if Vars.isWildcard(w) => false
              case _ => true // constant or fn guard in output = implicit filter
            }
        // a var emitted by 2+ predicates is an implicit equality: effectful
        val dupOut = allOps.flatMap(outVars).groupBy(identity)
          .collect { case (v, occ) if occ.size > 1 => v }.toSet
        val base: Set[String] =
          q.outFields.collect { case v: String if Vars.isVar(v) => v }.toSet ++
            gens.flatMap(_.fields).collect { case v: String if Vars.isVar(v) => v } ++
            exist.flatMap(e => e.gen.fields :+ e.flag)
              .collect { case v: String if Vars.isVar(v) => v } ++
            scalarPreds.filter(_.out.isEmpty).flatMap(inVars) ++
            aggPreds.flatMap(inVars) ++ q.options.sort ++ dupOut
        var kept = scalarPreds
        var stable = false
        while (!stable) {
          val necessary = base ++ kept.flatMap(inVars)
          val next = scalarPreds.filter(o =>
            effectful(o) || outVars(o).exists(necessary))
          stable = next == kept
          kept = next
        }
        kept
      }

    val ops = mutable.ArrayBuffer(keptScalars: _*)

    // 1. bind generators → initial tails; apply ops per-tail (fixed point)
    var tails = mutable.ArrayBuffer(gens.map(g => bindGenerator(spark, g)): _*)
    tails = tails.map(t => fixedPoint(t, ops))

    // 1.5 eager aggregation (q32 shape, automated): when every aggregator
    // decomposes, exactly one tail carries all agg inputs, and declared
    // keys prove every dim join is a lookup, partially aggregate the fact
    // tail BELOW the joins and merge above them — at scale the join then
    // moves grouped partials instead of raw fact rows.
    // spark.graft.eagerAgg=off opts out: with broadcastable dims the
    // standard plan shuffles nothing, so the pre-agg shuffle is pure cost
    // (measured 1.2x locally); declared keys + default on = the cluster
    // shape where dims exceed the broadcast threshold and the join would
    // shuffle the raw fact
    val eagerTail: Option[Tail] =
      if (aggPreds.nonEmpty && exist.isEmpty && q.options.trap.isEmpty &&
          tails.size > 1 &&
          spark.conf.get("spark.graft.eagerAgg", "on") != "off" &&
          !tails.exists(_.fields.exists { case v: String => Vars.isTrapVar(v); case _ => false }))
        tryEagerAggregate(tails.toVector, ops, aggPreds, q)
      else None

    val tail: Tail = eagerTail.map(t => fixedPoint(t, ops)).getOrElse {
      // 2. merge-tails: greedy maximal shared-var pair (parse.clj:416-432),
      // restricted to JOINABLE tails (parse.clj:394-407): an unground tail
      // may only join when every non-join field is unground — otherwise its
      // `?` fields would go null on unmatched rows. Unjoinable-now pairs may
      // become joinable after other merges widen the shared set; only when
      // no joinable pair remains do we cross-join (our explicit extension
      // for var-disjoint GROUND tails; the reference requires a constant
      // join key) or throw the reference's planning error.
      def joinable(t: Tail, joinFields: Set[String]): Boolean =
        joinFields.subsetOf(t.fields.toSet) &&
          (t.isGround || t.fields.filterNot(joinFields).forall(Vars.isUnground))
      while (tails.size > 1) {
        val pairs = for { i <- tails.indices; j <- tails.indices if i < j }
          yield (i, j, tails(i).fields.toSet.intersect(tails(j).fields.toSet))
        val candidates = pairs.filter { case (i, j, shared) =>
          shared.nonEmpty && joinable(tails(i), shared) && joinable(tails(j), shared)
        }
        val (i, j, shared) =
          if (candidates.nonEmpty) candidates.maxBy(_._3.size)
          else pairs.find { case (i, j, s) =>
            s.isEmpty && tails(i).isGround && tails(j).isGround
          }.getOrElse(throw new IllegalArgumentException(
            "unable to join predicates together"))
        val joined = joinPair(tails(i), tails(j), shared.toVector.sorted)
        val rest = tails.zipWithIndex.collect { case (t, k) if k != i && k != j => t }
        tails = mutable.ArrayBuffer(fixedPoint(joined, ops)) ++ rest
      }
      var t0 = tails.head

      // 3. existence joins against the merged tail (ExistenceNode)
      exist.foreach { e => t0 = applyExists(spark, t0, e) }
      t0 = fixedPoint(t0, ops)

      // 3.5 trap diversion (reference :trap, cascading/platform.clj:311-318):
      // trapped ops bound their error to reserved `!__trap*` vars; failing
      // tuples are diverted BEFORE aggregation so they never count
      val trapVars = t0.fields.filter { case v: String => Vars.isTrapVar(v); case _ => false }
      if (trapVars.nonEmpty) {
        val anyErr = trapVars.map(v => t0.col(v).isNotNull).reduce(_ || _)
        q.options.trap.foreach(sink => sink(
          t0.df.filter(anyErr).select(t0.fields.map(v =>
            t0.col(v).as(Vars.displayName(v))): _*)))
        t0 = Tail(
          t0.df.filter(!anyErr).drop(trapVars.map(Vars.colName): _*),
          t0.fields.filterNot(trapVars.contains), t0.groundOverride)
      }

      // 4. grouping / aggregation
      if (aggPreds.nonEmpty) {
        t0 = aggregate(t0, aggPreds, q)
        t0 = fixedPoint(t0, ops) // ops over aggregator outputs
      }
      t0
    }

    require(ops.isEmpty,
      s"ops with unsatisfiable inputs: ${ops.map(_.in).mkString("; ")}")

    // 5. final projection (+ Unique when :distinct and no aggregators)
    val outCols = q.outFields.map {
      case v: String if Vars.isVar(v) =>
        require(tail.fields.contains(v), s"output var $v is not bound")
        tail.col(v).as(Vars.displayName(v))
      case c => lit(c)
    }
    var out = tail.df.select(outCols: _*)
    if (q.options.distinct && aggPreds.isEmpty) out = out.distinct()
    out
  }

  // ---------------------------------------------------------------- binding

  /** Bind a generator positionally: wildcards dropped, duplicate vars →
    * implicit equality (parse.clj:308-336), constants → equality filter
    * (parse.clj:565-589), `?` vars → null filter
    * (cascading/operations.clj:716-722). */
  private[graft] def bindGenerator(spark: SparkSession, g: GenPred): Tail = {
    val raw = g.load(spark)
    require(raw.columns.length == g.fields.length,
      s"generator arity ${raw.columns.length} != bound fields ${g.fields.length}")
    val tmp = raw.columns.indices.map(i => s"_c$i")
    var df = raw.toDF(tmp: _*)

    val first = mutable.LinkedHashMap[String, String]() // var → tmp col
    val filters = mutable.ArrayBuffer[Column]()
    g.fields.zipWithIndex.foreach { case (item, i) =>
      item match {
        case w: String if Vars.isWildcard(w) => ()
        case v: String if Vars.isVar(v) =>
          first.get(v) match {
            case Some(f0) => filters += (col(s"_c$i") <=> col(f0))
            case None     => first(v) = s"_c$i"
          }
        case guard: ColumnFilter =>
          // function guard in generator binding position, e.g.
          // `(pairs odd? ?b)` filters rows by that column
          // (api_test.clj:577-591 test-complex-constraints)
          filters += guard.f(Seq(col(s"_c$i")))
        case c => filters += (col(s"_c$i") <=> lit(c))
      }
    }
    filters.foreach(f => df = df.filter(f))
    df = df.select(first.toSeq.map { case (v, cn) => col(cn).as(Vars.colName(v)) }: _*)
    first.keys.filter(Vars.isNonNullable)
      .foreach(v => df = df.filter(col(Vars.colName(v)).isNotNull))
    val bound = first.keys.toVector
    g.uniqueSets.foreach(ks => require(ks.subsetOf(bound.toSet),
      s"declared unique key ${ks.mkString(",")} not fully bound by generator"))
    Tail(if (g.small) broadcast(df) else df, bound,
      uniqueKeys = g.uniqueSets)
  }

  // ------------------------------------------------------- op application

  private def isFilter(o: OpPred): Boolean =
    o.op.isInstanceOf[ColumnFilter] && o.out.isEmpty

  private def inputsReady(t: Tail, o: OpPred): Boolean =
    o.in.forall {
      case v: String if Vars.isVar(v) => t.fields.contains(v)
      case _                          => true
    }

  /** Apply every applicable op, filters before maps (prefer-filter,
    * parse.clj:375-385), until fixed point. Each op applies exactly once. */
  private def fixedPoint(tail: Tail, ops: mutable.ArrayBuffer[OpPred]): Tail = {
    var t = tail
    var progress = true
    while (progress) {
      progress = false
      val ready = ops.filter(o => inputsReady(t, o)).sortBy(o => if (isFilter(o)) 0 else 1)
      ready.headOption.foreach { o =>
        t = applyOp(t, o)
        ops -= o
        progress = true
      }
    }
    t
  }

  private def itemCol(t: Tail, item: Any): Column = item match {
    case v: String if Vars.isVar(v) => t.col(v)
    case c                          => lit(c)
  }

  /** Bind computed output columns to the out items: fresh vars bind, bound
    * vars and constants become implicit equality filters, `?` outputs get a
    * null filter, wildcards are discarded. `skipNullFilter` is set for
    * trapped ops — their failed rows (null result + error set) must survive
    * until the trap diversion point. */
  private def bindOutputs(t: Tail, outs: Seq[Any], cols: Seq[Column],
      skipNullFilter: Boolean = false): Tail = {
    require(outs.length == cols.length,
      s"op emits ${cols.length} columns but ${outs.length} outputs were bound")
    var df = t.df
    var fields = t.fields
    outs.zip(cols).foreach {
      case (w: String, _) if Vars.isWildcard(w) => ()
      case (v: String, c) if Vars.isVar(v) && !fields.contains(v) =>
        df = df.withColumn(Vars.colName(v), c)
        if (Vars.isNonNullable(v) && !skipNullFilter)
          df = df.filter(col(Vars.colName(v)).isNotNull)
        fields :+= v
      case (v: String, c) if Vars.isVar(v) => // bound: implicit equality
        df = df.filter(col(Vars.colName(v)) <=> c)
      case (guard: ColumnFilter, c) => // function guard in output position
        // (reference: constant fn in output filters on the op result,
        // logic/parse.clj:583-587, tests api_test.clj:577-591)
        df = df.filter(guard.f(Seq(c)))
      case (const, c) => // constant in output position: equality filter
        df = df.filter(c <=> lit(const))
    }
    Tail(df, fields, t.groundOverride, t.uniqueKeys)
  }

  private def applyOp(t: Tail, o: OpPred): Tail = {
    val inCols = o.in.map(itemCol(t, _))
    val isTrapped = o.out.exists {
      case s: String => Vars.isTrapVar(s)
      case _ => false
    }
    o.op match {
      case ColumnMap(_, f) if o.out.isEmpty =>
        // mapop with no output vars acts as a filter on its result's
        // truthiness (api_test.clj:690-694; Clojure rules: false/nil are
        // falsy, anything else — including 0 — is truthy)
        val tmp = Vars.colName(Vars.gen())
        val df = t.df.withColumn(tmp, f(inCols).head)
        val c = col(tmp)
        val truthy =
          if (df.schema(tmp).dataType == org.apache.spark.sql.types.BooleanType)
            c <=> lit(true)
          else c.isNotNull
        Tail(df.filter(truthy).drop(tmp), t.fields, t.groundOverride, t.uniqueKeys)
      case ColumnMap(_, f) => bindOutputs(t, o.out, f(inCols), skipNullFilter = isTrapped)
      case ColumnFilter(f) if o.out.isEmpty =>
        Tail(t.df.filter(f(inCols)), t.fields, t.groundOverride, t.uniqueKeys)
      case ColumnFilter(f) => bindOutputs(t, o.out, Seq(f(inCols))) // capture bool
      case ColumnMapcat(n, f) =>
        val tmp = Vars.colName(Vars.gen())
        val df = t.df.withColumn(tmp, explode(f(inCols)))
        val outCols =
          if (n == 1) Seq(col(tmp))
          else (1 to n).map(k => col(tmp)(s"_$k"))
        val bound = bindOutputs(Tail(df, t.fields, t.groundOverride), o.out, outCols)
        Tail(bound.df.drop(tmp), bound.fields, bound.groundOverride)
      case other => sys.error(s"aggregator $other cannot be applied as a scalar op")
    }
  }

  // -------------------------------------------------------------- joining

  /** Binary join; type from groundness (parse.clj:450-456): ground=inner
    * input, unground=outer input. Using-columns joins give the reference's
    * first-non-null key coalescing (cascading/operations.clj:477-484) free.
    */
  private def joinPair(l: Tail, r: Tail, shared: Vector[String]): Tail = {
    val ground = Some(l.isGround || r.isGround)
    if (shared.isEmpty)
      return Tail(l.df.crossJoin(r.df), l.fields ++ r.fields, ground)
    val how = (l.isGround, r.isGround) match {
      case (true, true)   => "inner"
      case (true, false)  => "left_outer"
      case (false, true)  => "right_outer"
      case (false, false) => "full_outer"
    }
    val df = l.df.join(r.df, shared.map(Vars.colName), how)
    Tail(df, l.fields ++ r.fields.filterNot(shared.contains), ground)
  }

  /** Existence joins (ExistenceNode, parse.clj:194-199): flag=true → semi,
    * flag=false → anti, flag=var → capture did-it-match boolean with ≤1 row
    * per key (CascalogJoiner.java:57-86). */
  private def applyExists(spark: SparkSession, t: Tail, e: ExistsPred): Tail = {
    val g = bindGenerator(spark, e.gen)
    val shared = t.fields.filter(g.fields.contains)
    require(shared.nonEmpty, "existence predicate shares no vars with the query")
    val keys = shared.map(Vars.colName)
    e.flag match {
      case true  => Tail(t.df.join(g.df, keys, "left_semi"), t.fields, t.groundOverride)
      case false => Tail(t.df.join(g.df, keys, "left_anti"), t.fields, t.groundOverride)
      case v: String if Vars.isVar(v) =>
        val marker = Vars.colName(Vars.gen())
        val right = g.df.select(keys.map(col): _*).distinct().withColumn(marker, lit(true))
        val df = t.df.join(right, keys, "left_outer")
          .withColumn(Vars.colName(v), coalesce(col(marker), lit(false)))
          .drop(marker)
        Tail(df, t.fields :+ v, t.groundOverride)
      case other => sys.error(s"bad existence flag: $other")
    }
  }

  // ------------------------------------------------- eager aggregation

  private object EagerBail extends Exception { override def fillInStackTrace(): Throwable = this }

  /** Eager aggregation rewrite (the q32 shape, automated). Preconditions,
    * each bailing to the standard plan when unmet:
    *  - every aggregator is a ColumnAgg with a declared [[AggDecompose]]
    *    (sums/counts/mins/maxes — not avg/count-distinct/buffers);
    *  - exactly one GROUND tail (the fact) binds every agg input var, and
    *    no agg input var also lives on a dim;
    *  - no pending scalar op reads fact vars (it would otherwise run on
    *    the joined rows between partial and merge);
    *  - every dim cluster (dims merged by shared-var connectivity, with
    *    declared unique keys propagated across lookup joins) is provably
    *    unique on its join vars with the fact — so joining multiplies no
    *    partial.
    * The rewrite then groups the fact by (join vars ∪ its group vars) with
    * the partial aggregates, joins the (now pre-shrunk) fact with each dim
    * cluster, and runs the merge aggregates through the standard
    * columnAggregate (postFilter/HAVING semantics preserved). Sound
    * because each fact partial row joins exactly 0 or 1 dim rows: inner
    * lookup joins drop or keep whole partials, never multiply them —
    * exactly the algebra q32 proves bit-identical to q03. */
  private def tryEagerAggregate(
      tails0: Vector[Tail],
      ops: mutable.ArrayBuffer[OpPred],
      aggs: Seq[OpPred],
      q: Query): Option[Tail] =
    try {
      def bail(): Nothing = throw EagerBail
      if (tails0.exists(!_.isGround)) bail()
      val decs: Seq[AggDecompose] = aggs.map(_.op match {
        case ColumnAgg(_, _, Some(d)) => d
        case _ => bail()
      })
      def inVarsOf(o: OpPred): Seq[String] =
        o.in.collect { case v: String if Vars.isVar(v) => v }
      val aggInVars = aggs.flatMap(inVarsOf).toSet
      if (aggInVars.isEmpty) bail()
      val factIdxs = tails0.indices.filter(i => aggInVars.subsetOf(tails0(i).fields.toSet))
      if (factIdxs.size != 1) bail()
      val fact = tails0(factIdxs.head)
      val dims0 = tails0.zipWithIndex.collect { case (t, i) if i != factIdxs.head => t }
      if (dims0.isEmpty) bail()
      if (ops.exists(o => inVarsOf(o).exists(fact.fields.contains))) bail()
      if (dims0.exists(_.fields.exists(aggInVars.contains))) bail()

      // dim clusters by shared-var connectivity (union-find)
      val opsCopy = ops.clone()
      val nd = dims0.size
      val parent = Array.tabulate(nd)(identity)
      def find(x: Int): Int =
        if (parent(x) == x) x else { parent(x) = find(parent(x)); parent(x) }
      for { i <- 0 until nd; j <- (i + 1) until nd
            if dims0(i).fields.toSet.intersect(dims0(j).fields.toSet).nonEmpty }
        parent(find(i)) = find(j)
      val clusters = dims0.indices.groupBy(find).values.toVector.map(_.map(dims0).toVector)

      // merge each cluster, propagating declared keys across lookup joins:
      // joining B (unique on K ⊆ shared) onto A preserves A's keys
      val mergedClusters = clusters.map { cl =>
        var ts = cl
        while (ts.size > 1) {
          val pairs = for { i <- ts.indices; j <- ts.indices if i < j }
            yield (i, j, ts(i).fields.toSet.intersect(ts(j).fields.toSet))
          val viable = pairs.filter(_._3.nonEmpty)
          if (viable.isEmpty) bail()
          val (i, j, shared) = viable.maxBy(_._3.size)
          val (a, b) = (ts(i), ts(j))
          val keys =
            (if (b.uniqueKeys.exists(_.subsetOf(shared))) a.uniqueKeys else Nil) ++
              (if (a.uniqueKeys.exists(_.subsetOf(shared))) b.uniqueKeys else Nil)
          if (keys.isEmpty) bail()
          val joined = fixedPoint(
            joinPair(a, b, shared.toVector.sorted).copy(uniqueKeys = keys.distinct),
            opsCopy)
          ts = joined +: ts.zipWithIndex.collect { case (t, k) if k != i && k != j => t }
        }
        ts.head
      }
      // every cluster must be a lookup relative to the fact
      mergedClusters.foreach { d =>
        val jv = fact.fields.toSet.intersect(d.fields.toSet)
        if (jv.isEmpty || !d.uniqueKeys.exists(_.subsetOf(jv))) bail()
      }

      val aggOutVars = aggs.flatMap(_.out).collect {
        case v: String if Vars.isVar(v) => v
      }.toSet
      val allFields = (fact.fields ++ mergedClusters.flatMap(_.fields)).distinct
      val groupVars = q.outFields.collect {
        case v: String if Vars.isVar(v) && allFields.contains(v) && !aggOutVars(v) => v
      }.distinct.toVector

      // partial aggregation on the fact, grouped by its join vars plus any
      // group vars it carries
      val joinVarsAll = mergedClusters
        .flatMap(d => fact.fields.toSet.intersect(d.fields.toSet)).toSet
      val factGroup = fact.fields.filter(v =>
        joinVarsAll(v) || groupVars.contains(v)).distinct
      val partialCols = mutable.ArrayBuffer[Column]()
      val partialVars = mutable.ArrayBuffer[String]()
      val mergeAggs = aggs.zip(decs).map { case (o, dec) =>
        // intermediates need not be 1:1 with outputs (avg: sum+count → 1)
        val pcols = dec.partial(o.in.map(itemCol(fact, _)))
        // floating-exactness gate: re-summing float/double partials
        // regroups additions (last-ULP drift vs the standard plan) —
        // decline the rewrite unless the decomposition is exact there
        // (min/max/count) or the partials are integral/decimal (the Dec
        // variants). Resolving the partial schema is analysis-only.
        if (!dec.exactOnFloating) {
          val ptypes = fact.df.groupBy().agg(pcols.head, pcols.tail: _*)
            .schema.map(_.dataType)
          if (ptypes.exists(t => t == DoubleType || t == FloatType)) bail()
        }
        val pvars = pcols.map(_ => Vars.gen())
        partialCols ++= pcols.zip(pvars).map { case (c, v) => c.as(Vars.colName(v)) }
        partialVars ++= pvars
        OpPred(ColumnAgg(o.out.length, dec.merge), pvars, o.out)
      }
      val fdf = fact.df
        .groupBy(factGroup.map(v => col(Vars.colName(v))): _*)
        .agg(partialCols.head, partialCols.tail.toSeq: _*)
      var tail = Tail(fdf, factGroup ++ partialVars)
      mergedClusters.foreach { d =>
        val shared = tail.fields.toSet.intersect(d.fields.toSet)
        tail = joinPair(tail, d, shared.toVector.sorted)
      }
      tail = fixedPoint(tail, opsCopy) // ops spanning dim clusters
      val out = columnAggregate(tail, mergeAggs, groupVars, q.options.reducers)
      ops.clear()
      ops ++= opsCopy
      Some(out)
    } catch { case EagerBail => None }

  // ------------------------------------------------------------ grouping

  /** Grouping node (parse.clj:250-255,472-521): group by the out fields
    * already bound pre-agg; ColumnAggs run in ONE `.agg` pass (partial
    * aggregation free); a BufferOp streams each secondary-sorted group
    * through user code (cascading/operations.clj:251-264). */
  private def aggregate(t: Tail, aggs: Seq[OpPred], q: Query): Tail = {
    val aggOutVars = aggs.flatMap(_.out).collect {
      case v: String if Vars.isVar(v) => v
    }.toSet
    val groupVars = q.outFields.collect {
      case v: String if Vars.isVar(v) && t.fields.contains(v) && !aggOutVars(v) => v
    }.distinct.toVector

    // one aggregation unit per execution strategy: all ColumnAggs run in a
    // single .agg pass; each sequential fold (SeqAggOp) is its own sorted
    // streaming pass. Multi-unit results join back on the group keys —
    // the reference's own in-memory composition (in_memory/platform.clj:
    // 178-198 runs each aggregator and cross-joins the per-group results).
    // Spark reuses the shuffle exchange across units (same keys).
    aggs.head.op match {
      case _: BufferOp => bufferAggregate(t, aggs.head, groupVars, q)
      case _: LimitAgg => limitAggregate(t, aggs.head, groupVars, q)
      case _ =>
        val (seqAggs, colAggs) = aggs.partition(_.op.isInstanceOf[SeqAggOp])
        val unitTails =
          (if (colAggs.nonEmpty)
            Seq(columnAggregate(t, colAggs, groupVars, q.options.reducers))
          else Nil) ++
            seqAggs.map { o =>
              val SeqAggOp(buf) = o.op: @unchecked
              bufferAggregate(t, OpPred(buf, o.in, o.out), groupVars, q)
            }
        unitTails.reduce { (a, b) =>
          if (groupVars.isEmpty)
            Tail(a.df.crossJoin(b.df), a.fields ++ b.fields)
          else {
            // null-safe re-assembly: a `!` group key can be null, and every
            // unit aggregates the SAME tail, so the key sets are identical —
            // but a plain equi-join would drop the null-key group. Join on
            // <=> with dataset-qualified refs, then drop b's key columns.
            val cond = groupVars.map(v =>
              a.df(Vars.colName(v)) <=> b.df(Vars.colName(v))).reduce(_ && _)
            val joined = groupVars.foldLeft(a.df.join(b.df, cond, "inner"))(
              (d, v) => d.drop(b.df(Vars.colName(v))))
            Tail(joined, a.fields ++ b.fields.filterNot(groupVars.contains))
          }
        }
    }
  }

  /** Per-group top-k via window rank — scalable replacement for the
    * reference's limit ParallelBuffer (logic/ops.clj:172-226). */
  private def limitAggregate(t: Tail, lp: OpPred, groupVars: Vector[String], q: Query): Tail = {
    import org.apache.spark.sql.expressions.Window
    val LimitAgg(n, withRank, salt, heap) = lp.op: @unchecked
    val inCols = lp.in.map(itemCol(t, _))
    if (heap) {
      // bounded-buffer aggregation plan (operators.TopK): true partial
      // aggregation, no window sort — the reference-combiner realization
      val payload = lp.in.zipWithIndex.map { case (item, i) =>
        (s"_tk$i", itemCol(t, item))
      }
      val sortCols =
        if (q.options.sort.nonEmpty) q.options.sort.map(v => col(Vars.colName(v)))
        else payload.map(_._2)
      val rk = if (withRank) Some(Vars.colName(Vars.gen())) else None
      val res = graft.operators.TopK.topK(t.df, groupVars.map(Vars.colName), n,
        sortCols, payload, desc = q.options.reverse, rankCol = rk)
      val outCols = payload.map(p => col(p._1)) ++ rk.map(col).toSeq
      val bound = bindOutputs(Tail(res, groupVars), lp.out, outCols)
      val keepCols = bound.fields.map(Vars.colName).toSet
      return Tail(
        bound.df.drop((payload.map(_._1) ++ rk.toSeq).filterNot(keepCols): _*),
        bound.fields)
    }
    val orderCols =
      if (q.options.sort.nonEmpty)
        q.options.sort.map { v =>
          val c = col(Vars.colName(v)); if (q.options.reverse) c.desc else c.asc
        }
      else inCols.map(_.asc) // deterministic order when :sort is absent
    val groupCols = groupVars.map(v => col(Vars.colName(v)))
    def windowOver(parts: Seq[Column]) =
      (if (parts.isEmpty) Window.partitionBy(lit(1)) else Window.partitionBy(parts: _*))
        .orderBy(orderCols: _*)
    val rk = Vars.colName(Vars.gen())
    // skew-safe two-phase: local top-n per (group, salt) first — a hot
    // key's rows spread across `salt` tasks; final pass sees ≤ salt*n
    // rows per group. Same output as the single window.
    val pre =
      if (salt > 1) {
        val sc = Vars.colName(Vars.gen())
        t.df.withColumn(sc, pmod(monotonically_increasing_id(), lit(salt.toLong)))
          .withColumn(rk, row_number().over(windowOver(groupCols :+ col(sc))))
          .filter(col(rk) <= n).drop(sc, rk)
      } else t.df
    val ranked = pre.withColumn(rk, row_number().over(windowOver(groupCols)))
      .filter(col(rk) <= n)
    val outCols = inCols ++ (if (withRank) Seq(col(rk).cast("long")) else Nil)
    val bound = bindOutputs(Tail(ranked, t.fields), lp.out, outCols)
    // Project to group vars + the buffer's declared outputs — the
    // reference Grouping-node contract (group fields + aggregator output
    // fields survive, nothing else), and what columnAggregate,
    // bufferAggregate, and the heap branch above already do. Without it a
    // post-aggregation op output colliding with a stale pre-agg var
    // became an implicit equality here but a fresh binding on every
    // other aggregation path (found by PlannerDiffPropSpec).
    val keep = (groupVars ++ lp.out.collect {
      case v: String if Vars.isVar(v) && !Vars.isWildcard(v) => v
    }).distinct.filter(bound.fields.contains)
    Tail(bound.df.select(keep.map(v => col(Vars.colName(v))): _*), keep.toVector)
  }

  private def columnAggregate(t: Tail, aggs: Seq[OpPred], groupVars: Vector[String],
      reducers: Option[Int]): Tail = {
    val aggCols = mutable.ArrayBuffer[Column]()
    val postFilters = mutable.ArrayBuffer[(String, Any)]() // fresh col <=> const
    var fields = groupVars

    aggs.foreach { case OpPred(ColumnAgg(_, f, _), in, out) =>
      val outCols = f(in.map(itemCol(t, _)))
      require(out.length == outCols.length,
        s"aggregator emits ${outCols.length} cols, ${out.length} bound")
      out.zip(outCols).foreach {
        case (w: String, c) if Vars.isWildcard(w) =>
          aggCols += c.as(Vars.colName(Vars.gen()))
        case (v: String, c) if Vars.isVar(v) =>
          aggCols += c.as(Vars.colName(v)); fields :+= v
        case (const, c) =>
          val tmp = Vars.colName(Vars.gen())
          aggCols += c.as(tmp); postFilters += ((tmp, const))
      }
    case other => sys.error(s"unexpected aggregator ${other.op}")
    }
    // :reducers (operations.clj:220-233): explicit reduce parallelism
    val pre = reducers.filter(_ => groupVars.nonEmpty).fold(t.df)(n =>
      t.df.repartition(n, groupVars.map(v => col(Vars.colName(v))): _*))
    var df = pre
      .groupBy(groupVars.map(v => col(Vars.colName(v))): _*)
      .agg(aggCols.head, aggCols.tail.toSeq: _*)
    postFilters.foreach { case (tmp, const) =>
      df = df.filter(col(tmp) <=> lit(const)).drop(tmp)
    }
    Tail(df.select(fields.map(v => col(Vars.colName(v))): _*), fields)
  }

  /** Secondary-sorted streaming buffer: repartition by group key, sort
    * within partitions by (key, sortVars), stream consecutive same-key rows
    * through the buffer. Groups never materialize unless the buffer itself
    * does — the classic scalable secondary-sort pattern. */
  private def bufferAggregate(t: Tail, bp: OpPred, groupVars: Vector[String], q: Query): Tail = {
    val BufferOp(numOut, declaredTypes, f) = bp.op: @unchecked
    val spark = t.df.sparkSession
    val nKey = groupVars.length
    val keyCols = groupVars.map(v => col(Vars.colName(v)))
    val inCols = bp.in.zipWithIndex.map { case (item, i) => itemCol(t, item).as(s"_in$i") }
    val sortCols = q.options.sort.map { v =>
      val c = col(Vars.colName(v)); if (q.options.reverse) c.desc else c.asc
    }
    // materialize key + sort + buffer-input columns only
    val sortProj = q.options.sort.filterNot(groupVars.contains)
      .map(v => col(Vars.colName(v)))
    val pre = t.df.select(keyCols ++ sortProj ++ inCols: _*)
    val parts = q.options.reducers.getOrElse(
      spark.conf.get("spark.sql.shuffle.partitions", "32").toInt)
    val arranged =
      (if (nKey == 0) pre.repartition(1)
       else pre.repartition(parts, keyCols: _*))
        .sortWithinPartitions(keyCols ++ sortCols: _*)

    val inIdx = arranged.columns.zipWithIndex.collect {
      case (c, i) if c.startsWith("_in") => i
    }
    // empty declared types + matching arity → buffer passes input tuples
    // through (limit-style): reuse the input column types
    val outTypes: Seq[DataType] =
      if (declaredTypes.nonEmpty) declaredTypes
      else {
        require(numOut == inIdx.length,
          "buffer without declared out types must have numOut == input arity")
        inIdx.toSeq.map(i => arranged.schema(i).dataType)
      }
    // :trap extends to the buffer/aggregatefn stage (Cascading traps wrap
    // EVERY pipe stage, cascading/platform.clj:311-318): a group whose
    // buffer throws is diverted to the sink as (group key, error) and the
    // job completes. Output rows the buffer streamed out BEFORE the throw
    // stand (streaming contract — suppressing them would mean
    // materializing every group's output); aggregatefns present at group
    // end, so for them a failure always diverts the whole group.
    val trapSink = q.options.trap
    val outSchema = StructType(
      groupVars.zipWithIndex.map { case (v, i) =>
        StructField(Vars.colName(v), pre.schema(i).dataType, nullable = true)
      } ++ outTypes.zipWithIndex.map { case (dt, i) =>
        StructField(s"_b$i", dt, nullable = true)
      } ++ (if (trapSink.nonEmpty)
        Seq(StructField("_trap_err", StringType, nullable = true)) else Nil))

    // stays a Dataset op (no RDD boundary): one deserialize → streaming
    // group pass → serialize, all inside the same physical plan. The output
    // of f streams straight through (no per-group materialization — a
    // lag-style buffer over a 2M-row group emits 2M rows without holding
    // them), and the per-row hot path is allocation-lean: index arrays
    // hoisted, element-wise key comparison, no throwaway Seqs.
    val inIdxArr: Array[Int] = inIdx.toArray
    val trapped = trapSink.nonEmpty
    val nOut = outTypes.length
    val df = arranged.mapPartitions { rows =>
      val it = rows.buffered
      def sameKey(r: Row, key: Array[Any]): Boolean = {
        var i = 0
        while (i < nKey) {
          val a = r.get(i); val b = key(i)
          if (if (a == null) b != null else a != b) return false
          i += 1
        }
        true
      }
      new Iterator[Row] {
        private var groupIn: Iterator[Seq[Any]] = Iterator.empty
        private var out: Iterator[Row] = Iterator.empty
        @annotation.tailrec
        private def advance(): Unit =
          if (!out.hasNext && it.hasNext) {
            while (groupIn.hasNext) groupIn.next() // drain finished group
            if (it.hasNext) {
              val key = new Array[Any](nKey)
              var i = 0
              while (i < nKey) { key(i) = it.head.get(i); i += 1 }
              val keySeq = key.toSeq
              groupIn = new Iterator[Seq[Any]] {
                def hasNext: Boolean = it.hasNext && sameKey(it.head, key)
                def next(): Seq[Any] = {
                  val r = it.next()
                  val arr = new Array[Any](inIdxArr.length)
                  var j = 0
                  while (j < inIdxArr.length) { arr(j) = r.get(inIdxArr(j)); j += 1 }
                  scala.collection.immutable.ArraySeq.unsafeWrapArray(arr)
                }
              }
              out =
                if (!trapped) f(groupIn).map(tuple => Row.fromSeq(keySeq ++ tuple))
                else {
                  def errRow(e: Throwable): Row = Row.fromSeq(
                    (keySeq ++ Seq.fill[Any](nOut)(null)) :+
                      (s"${e.getClass.getName}: ${e.getMessage}": Any))
                  (try Right(f(groupIn)) catch {
                    case scala.util.control.NonFatal(e) => Left(e)
                  }) match {
                    case Left(e) => Iterator.single(errRow(e))
                    case Right(itOut) => new Iterator[Row] {
                      private var pendingErr: Throwable = null
                      private var dead = false
                      def hasNext: Boolean = !dead && (pendingErr != null ||
                        (try itOut.hasNext catch {
                          case scala.util.control.NonFatal(e) =>
                            pendingErr = e; true
                        }))
                      def next(): Row =
                        if (pendingErr != null) { dead = true; errRow(pendingErr) }
                        else (try Right(itOut.next()) catch {
                          case scala.util.control.NonFatal(e) => Left(e)
                        }) match {
                          case Left(e) => dead = true; errRow(e)
                          case Right(tuple) =>
                            Row.fromSeq((keySeq ++ tuple) :+ (null: Any))
                        }
                    }
                  }
                }
              advance()
            }
          }
        def hasNext: Boolean = { advance(); out.hasNext }
        def next(): Row = { advance(); out.next() }
      }
    }(org.apache.spark.sql.Encoders.row(outSchema))
    // diversion BEFORE output binding: `?` out vars null-filter on bind,
    // which would silently eat the all-null error rows
    val cleanDf = trapSink match {
      case None => df
      case Some(sink) =>
        val err = col("_trap_err")
        sink(df.filter(err.isNotNull).select(
          groupVars.map(v => col(Vars.colName(v)).as(Vars.displayName(v))) :+
            err.as("error"): _*))
        df.filter(err.isNull).drop("_trap_err")
    }
    val bound = bindOutputs(
      Tail(cleanDf, groupVars),
      bp.out,
      outTypes.indices.map(i => col(s"_b$i")))
    Tail(bound.df.drop(outTypes.indices.map(i => s"_b$i").filterNot(n =>
      bound.fields.exists(v => Vars.colName(v) == n)): _*), bound.fields)
  }
}
