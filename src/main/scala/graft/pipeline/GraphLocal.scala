package graft.pipeline

import scala.collection.mutable

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.util.LongAccumulator

/** In-task execution of the exactly-defined iterative graph analytics
  * ([[Graph.pageRankInt]], [[Graph.labelPropagate]], [[Dedup.components]]).
  *
  * A graph that fits one task is gathered into ONE partition
  * (`coalesce(1)` over the node ids and the materialized edges — no
  * shuffle) and every iteration runs inside one `mapPartitions` over CSR
  * arrays; the result goes back through [[graft.Stage.materialize]]. The
  * distributed loops pay a few Spark jobs per iteration (~40–50 ms of
  * driver round-trip each); a near-dup graph of a few thousand nodes is
  * all round-trip and no compute. All three analytics are exactly defined
  * — exact `Long` sums and `div`, count-then-min-label votes, the
  * `(id, min id)` fixpoint — so the kernels below return the rows the
  * distributed loops return, by construction, including their handling
  * of duplicate edges and node ids, self-loops, isolated nodes and null
  * ids (each kernel states the case it reproduces).
  *
  * The choice needs no option of its own: it reads
  * `spark.graft.broadcastNodeLimit` ("rows one JVM is trusted to hold")
  * against nodes + directed edges, and takes only Byte/Short/Int/Long ids,
  * whose order and equality Scala and Spark share (String and Double do
  * not). Above the limit the broadcast / sort-merge loops run unchanged. */
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

  /** `df` with a pass-through filter that counts its rows into the
    * returned accumulator while whatever job materializes it runs — the
    * edge count for [[path]] at no extra job. Retries and recomputation
    * can only over-count, and the count only picks a path, never a
    * result. */
  def counting(df: DataFrame): (DataFrame, LongAccumulator) = {
    val acc = df.sparkSession.sparkContext.longAccumulator("graft.graph.rows")
    val tick = udf { () => acc.add(1L); true }.asNondeterministic()
    (df.filter(tick()), acc)
  }

  // ---- Spark side: gather into one task, run a kernel, materialize ----

  /** Node rows (tag 0, id) and edge rows (tag 1, src, dst), ids as longs,
    * in one partition. */
  private def gather(nodes: Option[DataFrame], edges: DataFrame): RDD[Row] = {
    val e = edges.select(lit(1).as("t"), col("src").cast("long").as("a"),
      col("dst").cast("long").as("b"))
    nodes.fold(e)(_.select(lit(0).as("t"), col("id").cast("long").as("a"),
      lit(null).cast("long").as("b")).unionAll(e))
      .coalesce(1).rdd
  }

  /** The kernel's (id, value) long rows as a materialized frame in the
    * distributed path's column types. */
  private def result(spark: SparkSession, rows: RDD[Row], idType: DataType,
      value: String, valueType: DataType): DataFrame =
    spark.createDataFrame(rows, StructType(Seq(
        StructField("id", LongType), StructField(value, LongType))))
      .select(col("id").cast(idType).as("id"), col(value).cast(valueType).as(value))
      .transform(graft.Stage.materialize)

  private def ansi(spark: SparkSession): Boolean =
    spark.conf.get("spark.sql.ansi.enabled").toBoolean

  def pageRank(ids: DataFrame, edges: DataFrame, iters: Int, n: Long,
      scale: Long, base: Long, dampNum: Long, dampDen: Long): DataFrame = {
    val spark = ids.sparkSession
    val exact = ansi(spark)
    val rows = gather(Some(ids), edges).mapPartitions(it =>
      pageRankRows(read(it), iters, n, scale, base, dampNum, dampDen, exact))
    result(spark, rows, ids.schema("id").dataType, "rank", LongType)
  }

  def labelPropagate(ids: DataFrame, edges: DataFrame, iters: Int): DataFrame = {
    val idType = ids.schema("id").dataType
    val rows = gather(Some(ids), edges).mapPartitions(it =>
      labelRows(read(it), iters))
    result(ids.sparkSession, rows, idType, "label", idType)
  }

  /** `fwd`: (src, dst) forward edges; `idType` the symmetrized id type. */
  def components(fwd: DataFrame, idType: DataType, maxIter: Int): DataFrame = {
    val rows = gather(None, fwd).mapPartitions(it => componentRows(read(it), maxIter))
    result(fwd.sparkSession, rows, idType, "component", idType)
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
    val all = values.result()
    java.util.Arrays.sort(all)
    var k = 0
    for (i <- all.indices) if (i == 0 || all(i) != all(i - 1)) { all(k) = all(i); k += 1 }
    val keys = java.util.Arrays.copyOf(all, k)
    val Seq(ni, si, di) = cols.map { case (v, nul) =>
      Array.tabulate(v.length)(i =>
        if (nul(i)) -1 else java.util.Arrays.binarySearch(keys, v(i)))
    }
    new Indexed(keys, ni, si, di)
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
}
