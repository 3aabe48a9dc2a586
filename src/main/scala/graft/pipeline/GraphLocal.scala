package graft.pipeline

import scala.collection.mutable

import org.apache.spark.TaskContext
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.util.AccumulatorV2

/** The local region: exactly-defined analytics that run in ONE task when
  * their input fits it — the iterative graph analytics
  * ([[Graph.pageRankInt]], [[Graph.labelPropagate]], [[Dedup.components]])
  * and the hot-bucket guard's within-bucket pairing ([[bucketPairs]]).
  *
  * An input that fits one task is gathered into ONE partition
  * (`coalesce(1)`, no shuffle: [[gather]]) and the whole analytic runs
  * inside one `mapPartitions` over primitive arrays; the result goes back
  * through [[graft.Stage.materialize]] ([[result]]). The distributed
  * forms pay a few Spark jobs per iteration or per guard branch (~40–50
  * ms of driver round-trip each); a near-dup graph or bucket set of a few
  * thousand rows is all round-trip and no compute. Every analytic here is
  * exactly defined — exact `Long` sums and `div`, count-then-min-label
  * votes, the `(id, min id)` fixpoint, the guard's pair rules — so the
  * kernels below return the rows the distributed forms return, by
  * construction, including their handling of duplicate edges, rows and
  * ids, self-loops, isolated nodes and null ids (each kernel states the
  * case it reproduces).
  *
  * The choice needs no option of its own: it reads
  * `spark.graft.broadcastNodeLimit` ("rows one JVM is trusted to hold",
  * 16-byte node rows) against nodes + directed edges, or against the
  * guard's banded rows at their width plus its pair volume, and takes
  * only Byte/Short/Int/Long ids, whose order and equality Scala and Spark
  * share (String and Double do not). Above the limit the distributed
  * forms run unchanged. */
private[graft] object GraphLocal {

  /** `spark.graft.broadcastNodeLimit`, default 10M. */
  def limit(spark: SparkSession): Long =
    spark.conf.get("spark.graft.broadcastNodeLimit", "10000000").toLong

  def integral(types: DataType*): Boolean = types.forall {
    case ByteType | ShortType | IntegerType | LongType => true
    case _ => false
  }

  /** The three regions of the limit: "local" when the ids are integral
    * and nodes + directed edges fit, else "broadcast" when the node table
    * fits, else "sort-merge". */
  def path(spark: SparkSession, n: Long, m: Long, integralIds: Boolean): String = {
    val lim = limit(spark)
    if (integralIds && n + m <= lim) "local"
    else if (n <= lim) "broadcast"
    else "sort-merge"
  }

  /** What a [[counting]] filter saw, kept per partition: the rows, their
    * summed weight and, given a key hash, a tug-of-war sketch of the key
    * frequencies (Alon, Matias & Szegedy 1996): sign sums of the hash's
    * 64 bits, each an unbiased estimate of Σ s² over the keys' counts s
    * when squared. A recomputed or retried task reports its partition
    * again and replaces that partition's tally instead of adding to it,
    * so the totals are exact however often a task runs (a reliable
    * checkpoint, for one, computes its input twice). */
  final class Tally extends AccumulatorV2[Long, Long] {
    private var part = -1
    private var cur = new Array[Long](66) // rows, weight, 64 sign sums
    private val parts = mutable.HashMap[Int, Array[Long]]()
    override def isZero: Boolean = part < 0 && parts.isEmpty
    override def copy(): Tally = {
      val t = new Tally
      t.part = part; t.cur = cur.clone(); t.parts ++= parts
      t
    }
    override def reset(): Unit = { part = -1; cur = new Array[Long](66); parts.clear() }
    override def add(w: Long): Unit = {
      if (part < 0) part = TaskContext.getPartitionId()
      cur(0) += 1; cur(1) += w
    }
    def add(w: Long, keyHash: Long): Unit = {
      add(w)
      var j = 0
      while (j < 64) { cur(2 + j) += ((keyHash >>> j) & 1L) * 2 - 1; j += 1 }
    }
    override def merge(other: AccumulatorV2[Long, Long]): Unit = other match {
      case t: Tally =>
        parts ++= t.parts
        if (t.part >= 0) parts(t.part) = t.cur
    }
    private def total(i: Int) = parts.values.map(_(i)).sum + (if (part >= 0) cur(i) else 0L)
    def count: Long = total(0)
    /** The summed weight; the row count under the default weight 1. */
    override def value: Long = total(1)
    /** The estimated Σ s(s−1)/2 over the keys' row counts s. */
    def pairEstimate: Long = {
      val squares = (2 until 66).map { i => val z = total(i).toDouble; z * z }
      math.max(0L, ((squares.sum / 64 - count) / 2).toLong)
    }
  }

  /** `df` with a pass-through filter that tallies its rows, their
    * `weight` and, given, their `keyHash` while whatever job materializes
    * it runs — the edge, node or banded-row count at no extra job. The
    * frame must be materialized before anything else reads it. */
  def counting(df: DataFrame, weight: Column = lit(1L),
      keyHash: Option[Column] = None): (DataFrame, Tally) = {
    val acc = new Tally
    df.sparkSession.sparkContext.register(acc, "graft.local.rows")
    val tick = keyHash match {
      case None => udf { (w: Long) => acc.add(w); true }.asNondeterministic()(weight.cast(LongType))
      case Some(h) => udf { (w: Long, k: Long) => acc.add(w, k); true }.asNondeterministic()(
        weight.cast(LongType), h)
    }
    (df.filter(tick), acc)
  }

  // ---- Spark side: gather into one task, run a kernel, materialize ----

  /** `df` in ONE partition, no shuffle: the one gather of every local
    * region. */
  private def gather(df: DataFrame): RDD[Row] = df.coalesce(1).rdd

  /** Node rows (tag 0, id) and edge rows (tag 1, src, dst), ids as longs,
    * in one partition. */
  private def graphRows(nodes: Option[DataFrame], edges: DataFrame): RDD[Row] = {
    val e = edges.select(lit(1).as("t"), col("src").cast("long").as("a"),
      col("dst").cast("long").as("b"))
    gather(nodes.fold(e)(_.select(lit(0).as("t"), col("id").cast("long").as("a"),
      lit(null).cast("long").as("b")).unionAll(e)))
  }

  /** The kernel's long rows as a materialized frame with the named
    * columns in the distributed path's types. */
  private def result(spark: SparkSession, rows: RDD[Row],
      cols: Seq[(String, DataType)]): DataFrame =
    spark.createDataFrame(rows, StructType(cols.map(c => StructField(c._1, LongType))))
      .select(cols.map { case (c, t) => col(c).cast(t).as(c) }: _*)
      .transform(graft.Stage.materialize)

  private def ansi(spark: SparkSession): Boolean =
    spark.conf.get("spark.sql.ansi.enabled").toBoolean

  def pageRank(ids: DataFrame, edges: DataFrame, iters: Int, n: Long,
      scale: Long, base: Long, dampNum: Long, dampDen: Long): DataFrame = {
    val spark = ids.sparkSession
    val exact = ansi(spark)
    val rows = graphRows(Some(ids), edges).mapPartitions(it =>
      pageRankRows(read(it), iters, n, scale, base, dampNum, dampDen, exact))
    result(spark, rows, Seq("id" -> ids.schema("id").dataType, "rank" -> LongType))
  }

  def labelPropagate(ids: DataFrame, edges: DataFrame, iters: Int): DataFrame = {
    val idType = ids.schema("id").dataType
    val rows = graphRows(Some(ids), edges).mapPartitions(it =>
      labelRows(read(it), iters))
    result(ids.sparkSession, rows, Seq("id" -> idType, "label" -> idType))
  }

  /** `fwd`: (src, dst) forward edges; `idType` the symmetrized id type. */
  def components(fwd: DataFrame, idType: DataType, maxIter: Int): DataFrame = {
    val rows = graphRows(None, fwd).mapPartitions(it => componentRows(read(it), maxIter))
    result(fwd.sparkSession, rows, Seq("id" -> idType, "component" -> idType))
  }

  /** Whether [[bucketPairs]] can pair rows of `schema`: integral ids and
    * payloads, integral or string bucket keys. An array payload (an
    * embedding) cannot come: Scala does not share Spark's order for
    * `min(struct(id, array))`, which picks the star hub's payload. */
  def pairable(schema: StructType, keyCols: Seq[String], idCol: String,
      payload: Seq[String]): Boolean =
    integral((idCol +: payload).map(schema(_).dataType): _*) &&
      keyCols.forall(k => schema(k).dataType == StringType || integral(schema(k).dataType))

  /** A bucketed row's width in the limit's 16-byte units: 8 bytes per id,
    * payload and numeric key, a string key at its UTF-8 length (a minhash
    * band key holds its r values as text), rounded up. */
  def rowUnits(schema: StructType, cols: Seq[String]): Column =
    ceil(cols.map(c => schema(c).dataType match {
      case StringType => coalesce(octet_length(col(c)), lit(0))
      case _ => lit(8)
    }).reduce(_ + _) / 16)

  /** [[Dedup.bucketPairs]] in one task over materialized, [[pairable]]
    * `rows` that take `units` of the limit: the guard's pairs of every
    * bucket as a DISTINCT, materialized (id_a, id_b, <p>_a…, <p>_b…)
    * frame in one job — or None when the pair volume does not fit the
    * limit beside the rows, and the caller runs the distributed guard.
    * Also returns that volume ([[pairRows]]). Rows with a null key join
    * no bucket and are dropped, as the key join drops them. */
  def bucketPairs(rows: DataFrame, keyCols: Seq[String], idCol: String,
      payload: Seq[String], cap: Int, units: Long): (Option[DataFrame], Long) = {
    val spark = rows.sparkSession
    // the pairs are one Array[Long]
    val budget = math.min(limit(spark) - units, Int.MaxValue - 8L)
    val volume = new Tally
    spark.sparkContext.register(volume, "graft.local.pairs")
    val keyed = rows.filter(keyCols.map(col(_).isNotNull).reduce(_ && _))
      .select((xxhash64(keyCols.map(col): _*) +: keyCols.map(col)) ++
        (idCol +: payload).map(c => col(c).cast(LongType)): _*)
    val out = gather(keyed).mapPartitions(it =>
      pairRows(it, keyCols.size, payload.size, cap, budget, volume))
    def typed(side: String) = payload.map(p => s"${p}_$side" -> rows.schema(p).dataType)
    val idType = rows.schema(idCol).dataType
    val pairs = result(spark, out,
      Seq("id_a" -> idType, "id_b" -> idType) ++ typed("a") ++ typed("b"))
    (Option.when(volume.value <= budget)(pairs), volume.value)
  }

  // ---- the kernels: plain arrays, one task ----

  /** A graph read into one task. `keys` holds every distinct non-null id
    * — node or edge endpoint — in ascending order; `nodes`, `src` and
    * `dst` index into it, -1 for null. Index order is id order. */
  final class Indexed(val keys: Array[Long], val nodes: Array[Int],
      val src: Array[Int], val dst: Array[Int]) {
    def k: Int = keys.length
    /** Rows per node key (duplicate node ids repeat). */
    lazy val mult: Array[Long] = {
      val a = new Array[Long](k)
      nodes.foreach(i => if (i >= 0) a(i) += 1)
      a
    }
    /** The keys with at least one node row. */
    lazy val nodeKeys: Array[Int] = Array.range(0, k).filter(mult(_) > 0)
    def edgesWhere(p: Int => Boolean): Array[Int] = {
      val b = new mutable.ArrayBuilder.ofInt
      var e = 0
      while (e < src.length) { if (p(e)) b += e; e += 1 }
      b.result()
    }
    /** Edges from a node source to a non-null destination: the ones that
      * carry rank or a vote. */
    def fromNodes: Array[Int] = edgesWhere(e => src(e) >= 0 && mult(src(e)) > 0 && dst(e) >= 0)
  }

  private final class LongCol {
    val v = new mutable.ArrayBuilder.ofLong
    val isNull = new mutable.ArrayBuilder.ofBoolean
    def add(r: Row, i: Int): Unit = {
      val nul = r.isNullAt(i)
      isNull += nul
      v += (if (nul) 0L else r.getLong(i))
    }
  }

  def read(rows: Iterator[Row]): Indexed = {
    val node, src, dst = new LongCol
    rows.foreach { r =>
      if (r.getInt(0) == 0) node.add(r, 1)
      else { src.add(r, 1); dst.add(r, 2) }
    }
    val cols = Seq(node, src, dst).map(c => (c.v.result(), c.isNull.result()))
    val values = new mutable.ArrayBuilder.ofLong
    for ((v, nul) <- cols; i <- v.indices) if (!nul(i)) values += v(i)
    val keys = distinctSorted(values.result())
    val Seq(ni, si, di) = cols.map { case (v, nul) =>
      Array.tabulate(v.length)(i =>
        if (nul(i)) -1 else java.util.Arrays.binarySearch(keys, v(i)))
    }
    new Indexed(keys, ni, si, di)
  }

  /** The distinct values of `all`, ascending (sorts `all` in place). */
  private def distinctSorted(all: Array[Long]): Array[Long] = {
    java.util.Arrays.sort(all)
    var k = 0
    for (i <- all.indices) if (i == 0 || all(i) != all(i - 1)) { all(k) = all(i); k += 1 }
    java.util.Arrays.copyOf(all, k)
  }

  private def row(g: Indexed, i: Int, value: Any): Row =
    Row(if (i < 0) null else g.keys(i), value)

  /** [[Graph.pageRankInt]]'s iteration. Reproduced cases: out-degree
    * counts every edge row of a source (duplicates, self-loops, null or
    * non-node `dst`); contributions reach only node `dst`s; a source's
    * contribution counts once per row of its id in `nodes`, and every
    * row of a duplicated id is output; a null node id holds the base rank
    * (`scale div n` before the first step). Under ANSI the sums, the
    * damping multiply and the base add overflow exactly where Spark's
    * `sum`, `*` and `+` would: all terms share the sign of `scale`, so a
    * partial sum overflows only if the total does. Contributions to
    * non-node `dst` ids are summed too, as Spark's aggregate sums their
    * groups before the join drops them; a null `dst` is not, as Spark
    * infers `dst IS NOT NULL` from that join and filters before the sum. */
  def pageRankRows(g: Indexed, iters: Int, n: Long, scale: Long, base: Long,
      dampNum: Long, dampDen: Long, exact: Boolean): Iterator[Row] = {
    def add(a: Long, b: Long) = if (exact) Math.addExact(a, b) else a + b
    def mul(a: Long, b: Long) = if (exact) Math.multiplyExact(a, b) else a * b
    val mult = g.mult
    val outdeg = new Array[Long](g.k)
    g.src.foreach(u => if (u >= 0) outdeg(u) += 1)
    val live = g.fromNodes
    val rank = Array.fill(g.k)(scale / n)
    val s = new Array[Long](g.k)
    for (_ <- 1 to iters) {
      java.util.Arrays.fill(s, 0L)
      for (e <- live) {
        val u = g.src(e)
        s(g.dst(e)) = add(s(g.dst(e)), mul(rank(u) / outdeg(u), mult(u)))
      }
      for (v <- g.nodeKeys) rank(v) = add(base, mul(dampNum, s(v)) / dampDen)
    }
    val nullRank = if (iters == 0) scale / n else base
    g.nodes.iterator.map(i => row(g, i, if (i < 0) nullRank else rank(i)))
  }

  /** [[Graph.labelPropagate]]'s iteration: each node takes the label with
    * the highest vote count among its in-neighbours, ties to the minimum
    * label; a node with no in-edge from a node keeps its own id. A vote
    * counts once per edge row and once per row of its source id in
    * `nodes`; edges from non-node or null sources cast none; a null node
    * id is labelled null. Labels are node keys, so a label is held as its
    * key index and index order is label order. */
  def labelRows(g: Indexed, iters: Int): Iterator[Row] = {
    val mult = g.mult
    // CSR of in-edges from node sources, by destination
    val start = new Array[Int](g.k + 1)
    val live = g.fromNodes
    live.foreach(e => start(g.dst(e) + 1) += 1)
    for (v <- 0 until g.k) start(v + 1) += start(v)
    val from = new Array[Int](live.length)
    val fill = start.clone()
    live.foreach { e => from(fill(g.dst(e))) = g.src(e); fill(g.dst(e)) += 1 }
    val voted = g.nodeKeys.filter(v => start(v + 1) > start(v))
    var label = Array.tabulate(g.k)(identity)
    val votes = new Array[Long](g.k)
    val seen = new Array[Int](g.k) // the labels v's in-edges carry
    for (_ <- 1 to iters) {
      val next = label.clone()
      for (v <- voted) {
        var ns = 0
        for (j <- start(v) until start(v + 1)) {
          val l = label(from(j))
          if (votes(l) == 0) { seen(ns) = l; ns += 1 }
          votes(l) += mult(from(j))
        }
        var best = seen(0)
        for (i <- 1 until ns) {
          val l = seen(i)
          if (votes(l) > votes(best) || (votes(l) == votes(best) && l < best)) best = l
        }
        for (i <- 0 until ns) votes(seen(i)) = 0
        next(v) = best
      }
      label = next
    }
    g.nodes.iterator.map(i => row(g, i, if (i < 0) null else g.keys(label(i))))
  }

  /** [[Dedup.components]]: `(id, min id of its component)` for every
    * distinct non-null endpoint, by union-find. A null endpoint adds one
    * `null` row, which the label loop never updates after its first
    * round: it holds the minimum non-null id sharing an edge with a null
    * (null when there is none) — unless the loop would have exited
    * unconverged and handed over to the star contraction, whose
    * self-only re-attach labels it null. The loop exits unconverged iff
    * some node lies `max(2, maxIter)` or more hops from its component's
    * minimum (its k-th round still lowers the labels at distance k + 1),
    * so that distance is measured here by BFS. */
  def componentRows(g: Indexed, maxIter: Int): Iterator[Row] = {
    val parent = Array.tabulate(g.k)(identity)
    def find(x0: Int): Int = {
      var x = x0
      while (parent(x) != x) { parent(x) = parent(parent(x)); x = parent(x) }
      x
    }
    var nullMin = -1
    var hasNull = false
    for (e <- g.src.indices) {
      val (a, b) = (g.src(e), g.dst(e))
      if (a >= 0 && b >= 0) {
        val (ra, rb) = (find(a), find(b))
        // the smaller index is the root: a root is its set's minimum id
        if (ra < rb) parent(rb) = ra else if (rb < ra) parent(ra) = rb
      } else {
        hasNull = true
        val other = math.max(a, b)
        if (other >= 0 && (nullMin < 0 || other < nullMin)) nullMin = other
      }
    }
    val comp = Array.tabulate(g.k)(find)
    val nullRow =
      if (!hasNull) Iterator.empty
      else {
        val converged = farthestFromMin(g, comp) < math.max(2, maxIter)
        Iterator(Row(null, if (converged && nullMin >= 0) g.keys(nullMin) else null))
      }
    Iterator.range(0, g.k).map(i => row(g, i, g.keys(comp(i)))) ++ nullRow
  }

  /** The largest hop distance from a node to its component's minimum,
    * over the non-null edges. */
  private def farthestFromMin(g: Indexed, comp: Array[Int]): Int = {
    val start = new Array[Int](g.k + 1)
    val both = g.edgesWhere(e => g.src(e) >= 0 && g.dst(e) >= 0)
    both.foreach { e => start(g.src(e) + 1) += 1; start(g.dst(e) + 1) += 1 }
    for (v <- 0 until g.k) start(v + 1) += start(v)
    val adj = new Array[Int](start(g.k))
    val fill = start.clone()
    both.foreach { e =>
      adj(fill(g.src(e))) = g.dst(e); fill(g.src(e)) += 1
      adj(fill(g.dst(e))) = g.src(e); fill(g.dst(e)) += 1
    }
    val dist = Array.fill(g.k)(-1)
    val queue = new Array[Int](g.k)
    var far = 0
    for (r <- 0 until g.k if comp(r) == r) {
      var (head, tail) = (0, 0)
      dist(r) = 0; queue(tail) = r; tail += 1
      while (head < tail) {
        val v = queue(head); head += 1
        far = math.max(far, dist(v))
        for (j <- start(v) until start(v + 1)) {
          val w = adj(j)
          if (dist(w) < 0) { dist(w) = dist(v) + 1; queue(tail) = w; tail += 1 }
        }
      }
    }
    far
  }

  /** Rows grouped into buckets by their key `hash`: the rows of every
    * bucket of two or more rows, bucket by bucket, and the start of each
    * bucket in that list (plus its end). One primitive sort of the hashes
    * (their high bits, the row index in the low ones) proposes the
    * buckets; `same`, the exact key equality, decides them, so a hash
    * collision costs time, never a wrong pair. */
  private def buckets(hash: Array[Long], same: (Int, Int) => Boolean)
      : (Array[Int], Array[Int]) = {
    val n = hash.length
    val low = (1L << (64 - java.lang.Long.numberOfLeadingZeros(math.max(n - 1, 1)))) - 1
    val packed = Array.tabulate(n)(i => hash(i) & ~low | i)
    java.util.Arrays.sort(packed)
    val rows, starts = new mutable.ArrayBuilder.ofInt
    var m = 0
    var i = 0
    while (i < n) {
      var j = i + 1
      while (j < n && (packed(j) & ~low) == (packed(i) & ~low)) j += 1
      var run = if (j - i > 1) (i until j).map(k => (packed(k) & low).toInt) else Nil
      while (run.size > 1) {
        val (in, out) = run.partition(same(run.head, _))
        if (in.size > 1) { starts += m; rows ++= in; m += in.size }
        run = out
      }
      i = j
    }
    starts += m
    (rows.result(), starts.result())
  }

  /** [[Dedup.bucketPairs]]' pair rules over rows (key hash, key…, id,
    * payload…). A bucket holds s rows, null ids included, as
    * `bucketStats` counts them:
    *
    *  - s ≤ cap: every pair of rows with non-null, different ids, id_a <
    *    id_b, each payload following its id — the plain and the salted
    *    self-join's set;
    *  - s > cap: star edges from the hub to every row with a non-null id
    *    other than the hub's. The hub is `min(id)` over the non-null ids;
    *    with a payload it is `min(struct(id, payload…))`, which orders a
    *    null first, so a null id in the bucket leaves it without edges
    *    (the distributed `id =!= hub` is never true), and the hub's
    *    payload is the least of its id's rows, a null first.
    *
    * The pair volume (s(s−1)/2 within the cap, s − 1 past it) is summed
    * into `volume` before anything is emitted; over `budget` the kernel
    * emits nothing. A row's (id, payload…) is ranked among the distinct
    * tuples in that order, so a pair is the two ranks packed in one long
    * (the lower id's rank first), and one primitive sort dedupes them. */
  def pairRows(rows: Iterator[Row], nKey: Int, nPayload: Int, cap: Int,
      budget: Long, volume: Tally): Iterator[Row] = {
    val hash = new mutable.ArrayBuilder.ofLong
    val key = Array.fill(nKey)(new mutable.ArrayBuffer[Any])
    val id = new LongCol
    val pay = Array.fill(nPayload)(new LongCol)
    rows.foreach { r =>
      hash += r.getLong(0)
      for (c <- 0 until nKey) key(c) += r.get(1 + c)
      id.add(r, 1 + nKey)
      for (j <- 0 until nPayload) pay(j).add(r, 2 + nKey + j)
    }
    val (member, bucket) = buckets(hash.result(), (x, y) => key.forall(k => k(x) == k(y)))
    def size(b: Int): Long = bucket(b + 1) - bucket(b)
    val vol = (0 until bucket.length - 1).iterator.map { b =>
      val s = size(b)
      if (s <= cap) s * (s - 1) / 2 else s - 1
    }.sum
    volume.add(vol)
    if (vol > budget) return Iterator.empty

    val ids = id.v.result()
    val idNull = id.isNull.result()
    val pv = pay.map(_.v.result())
    val pn = pay.map(_.isNull.result())
    val ranked = member.filter(!idNull(_))
    val rank = new Array[Int](ids.length)
    // one row per rank
    val rep =
      if (nPayload == 0) {
        val keys = distinctSorted(ranked.map(ids))
        val rep = new Array[Int](keys.length)
        for (x <- ranked) { rank(x) = java.util.Arrays.binarySearch(keys, ids(x)); rep(rank(x)) = x }
        rep
      } else {
        def cmp(x: Int, y: Int): Int = {
          var c = java.lang.Long.compare(ids(x), ids(y))
          var j = 0
          while (c == 0 && j < nPayload) {
            c = java.lang.Boolean.compare(!pn(j)(x), !pn(j)(y))
            if (c == 0 && !pn(j)(x)) c = java.lang.Long.compare(pv(j)(x), pv(j)(y))
            j += 1
          }
          c
        }
        val order = ranked.sortWith(cmp(_, _) < 0)
        val reps = new mutable.ArrayBuilder.ofInt
        var k = -1
        for (i <- order.indices) {
          if (i == 0 || cmp(order(i - 1), order(i)) != 0) { k += 1; reps += order(i) }
          rank(order(i)) = k
        }
        reps.result()
      }

    val buf = new Array[Long](vol.toInt)
    var m = 0
    // rows x, y with different ids: rank order is id order
    def emit(x: Int, y: Int): Unit = {
      buf(m) = math.min(rank(x), rank(y)).toLong << 32 | math.max(rank(x), rank(y))
      m += 1
    }
    for (b <- 0 until bucket.length - 1) {
      val (lo, hi) = (bucket(b), bucket(b + 1))
      if (size(b) <= cap) {
        for (i <- lo until hi; x = member(i) if !idNull(x); j <- i + 1 until hi) {
          val y = member(j)
          if (!idNull(y) && ids(x) != ids(y)) emit(x, y)
        }
      } else if (nPayload == 0 || !(lo until hi).exists(i => idNull(member(i)))) {
        val live = (lo until hi).map(member).filter(!idNull(_))
        if (live.nonEmpty) {
          val hub = live.minBy(rank(_))
          live.foreach(x => if (ids(x) != ids(hub)) emit(hub, x))
        }
      }
    }
    java.util.Arrays.sort(buf, 0, m)
    var u = 0
    for (i <- 0 until m) if (i == 0 || buf(i) != buf(i - 1)) { buf(u) = buf(i); u += 1 }
    def payloadOf(x: Int): Seq[Any] =
      (0 until nPayload).map(j => if (pn(j)(x)) null else pv(j)(x))
    Iterator.range(0, u).map { i =>
      val (x, y) = (rep((buf(i) >>> 32).toInt), rep((buf(i) & 0xFFFFFFFFL).toInt))
      Row.fromSeq(Seq(ids(x), ids(y)) ++ payloadOf(x) ++ payloadOf(y))
    }
  }
}
