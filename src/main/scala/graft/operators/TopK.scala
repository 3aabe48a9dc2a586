package graft.operators

import java.io.ByteArrayOutputStream

import graft.logic.AnyColumn
import org.apache.spark.sql.{Column, DataFrame, Encoders, Row}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import scala.collection.mutable.ArrayBuffer

/** Heap-style per-group top-k as a true partial AGGREGATION — the faithful
  * Spark realization of the reference's `limit` ParallelBuffer
  * (logic/ops.clj:172-226 + ClojureBufferCombiner.java): every task keeps
  * at most n rows per group map-side (re-sorting when the buffer exceeds
  * 2n, the reference's exact keep-n-of-2n discipline), so the shuffle
  * carries ≤ n·partitions rows per group instead of the group's entirety.
  * The window-rank plan ([[graft.logic.LimitAgg]]) sorts everything; this
  * one never materializes or sorts a full group anywhere.
  *
  * Measured regime guidance (BASELINE.md "Recorded baseline — round 2",
  * top-k plan study, 6M rows, local[32]): the window plan is FASTER
  * locally (1.9 s vs 3.9 s on 3×2M-row groups) — Spark's radix sort
  * costs less per row than the object-aggregator's encoder boundary.
  * What the heap plan reduces is SHUFFLE VOLUME: ≤ n·tasks rows per
  * group cross the wire instead of the group's entirety (here ~10^6×
  * less). Local mode has no network, so the CPU tax shows and the win
  * doesn't; on a network-bound cluster reading 100 TB the trade inverts.
  * Default stays window-rank (+ salting for skew); this is the opt-in
  * shuffle-bound plan.
  *
  * Ordering rides a compound order-preserving binary key
  * ([[AnyColumn.sortKeyBytes]] per component, NUL-escaped + terminated,
  * bytewise inverted for descending) — one unsigned byte comparison
  * regardless of the sort-column types.
  */
object TopK {

  /** Compound order-preserving key over component values. Component keys
    * can legitimately contain 0x00 (strings with U+0000, length-prefixed
    * composite encodings), so a bare 0x00 separator would let a later
    * component bleed into the comparison whenever one variable-length key
    * is a byte-prefix of another. FoundationDB-tuple-style escaping keeps
    * the order: 0x00 inside a component → 0x00 0xFF, terminator 0x00 0x00
    * (a proper prefix then meets 0x00 0x00 < 0x00 0xFF < any nonzero byte,
    * so it still sorts first and boundaries never shift). */
  def compoundKey(vals: Seq[Any], desc: Boolean): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    vals.foreach { v =>
      val k = AnyColumn.sortKeyBytes(v)
      var i = 0
      while (i < k.length) {
        bos.write(k(i))
        if (k(i) == 0) bos.write(0xFF)
        i += 1
      }
      bos.write(0); bos.write(0)
    }
    val b = bos.toByteArray
    if (desc) b.map(x => (~x).toByte) else b
  }

  private final class TopKAgg(n: Int, payloadSchema: StructType)
      extends Aggregator[Row, ArrayBuffer[(Array[Byte], Row)], Row] {

    private def trim(b: ArrayBuffer[(Array[Byte], Row)], force: Boolean): Unit =
      // keep n of every 2n (ops.clj:185-191): amortized O(log) sorts
      if (b.length > 2 * n || (force && b.length > n)) {
        val kept = b.sortInPlaceWith((x, y) =>
          java.util.Arrays.compareUnsigned(x._1, y._1) < 0).take(n).toArray
        b.clear()
        b ++= kept
      }

    def zero: ArrayBuffer[(Array[Byte], Row)] = ArrayBuffer.empty

    def reduce(b: ArrayBuffer[(Array[Byte], Row)], in: Row): ArrayBuffer[(Array[Byte], Row)] = {
      b += ((in.getAs[Array[Byte]](0), in.getStruct(1)))
      trim(b, force = false)
      b
    }

    def merge(a: ArrayBuffer[(Array[Byte], Row)],
        b: ArrayBuffer[(Array[Byte], Row)]): ArrayBuffer[(Array[Byte], Row)] = {
      a ++= b
      trim(a, force = true)
      a
    }

    def finish(b: ArrayBuffer[(Array[Byte], Row)]): Row = {
      val sorted = b.sortWith((x, y) =>
        java.util.Arrays.compareUnsigned(x._1, y._1) < 0).take(n)
      Row(sorted.map(_._2))
    }

    def bufferEncoder = Encoders.kryo[ArrayBuffer[(Array[Byte], Row)]]
    def outputEncoder = Encoders.row(
      StructType(Seq(StructField("top", ArrayType(payloadSchema)))))
  }

  /** Per-group top-k via the bounded-buffer aggregator. Emits the group
    * columns plus the payload columns (and a 1-based `rankCol` when set),
    * n rows per group in key order. Deterministic: the compound key is
    * (sort values, payload values) — a total order. */
  def topK(
      df: DataFrame,
      groupCols: Seq[String],
      n: Int,
      sortCols: Seq[Column],
      payloadCols: Seq[(String, Column)],
      desc: Boolean = false,
      rankCol: Option[String] = None): DataFrame = {
    val keyU = udf((r: Row) => compoundKey(r.toSeq, desc))
    val payload = struct(payloadCols.map { case (nm, c) => c.as(nm) }: _*)
    val tmp = df.select(
      (groupCols.map(col) ++ Seq(
        keyU(struct((sortCols ++ payloadCols.map(_._2)): _*)).as("_k"),
        payload.as("_p"))): _*)
    val payloadSchema = tmp.schema("_p").dataType.asInstanceOf[StructType]
    // a Row-encoded UDAF takes its schema's fields as separate parameters
    val inputSchema = StructType(Seq(
      StructField("k", BinaryType), StructField("p", payloadSchema)))
    val aggCol = udaf(new TopKAgg(n, payloadSchema), Encoders.row(inputSchema))
    val agged = tmp.groupBy(groupCols.map(col): _*)
      .agg(aggCol(col("_k"), col("_p")).as("_top"))
    val exploded = agged.select(
      (groupCols.map(col) :+ posexplode(col("_top.top")).as(Seq("_pos", "_p"))): _*)
    val out = exploded.select(
      (groupCols.map(col) ++
        payloadCols.map { case (nm, _) => col(s"_p.$nm").as(nm) } ++
        rankCol.map(rc => (col("_pos") + 1).cast("long").as(rc)).toSeq): _*)
    out
  }
}
