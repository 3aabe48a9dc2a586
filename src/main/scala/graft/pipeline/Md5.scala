package graft.pipeline

import java.nio.charset.StandardCharsets
import java.security.MessageDigest

/** Cross-engine-exact 64-bit hashing derived from MD5.
  *
  * The sketch kernels (minhash / simhash / fingerprint) need a string hash
  * that an independent SQL engine can replicate bit-for-bit so the driver's
  * DuckDB oracle can check them (`SELECT md5_number_lower(s)` = the last 8
  * digest bytes read little-endian). MD5 is also the standard choice for
  * shingle hashing in large-scale dedup pipelines, so the exactness comes
  * at no design cost.
  */
private[graft] object Md5 {

  /** Mersenne-ish modulus 2^61-1 used by the affine/polynomial kernels:
    * big enough for collision resistance, small enough that every
    * intermediate product stays overflow-free in 64-bit (and in DuckDB's
    * checked BIGINT/HUGEINT arithmetic). */
  val M61: Long = (1L << 61) - 1

  def newDigest(): MessageDigest = MessageDigest.getInstance("MD5")

  /** Lower 64 bits of md5(s), little-endian over digest bytes 8..15 —
    * bit-identical to DuckDB's `md5_number_lower(s)` (as a signed Long
    * carrying the same bit pattern). */
  def lower64(md: MessageDigest, s: String): Long = {
    val d = md.digest(s.getBytes(StandardCharsets.UTF_8))
    var h = 0L
    var i = 15
    while (i >= 8) { h = (h << 8) | (d(i) & 0xFFL); i -= 1 }
    h
  }

  /** lower64 masked to 31 bits — a base value small enough that
    * `a * base + b` with 31-bit `a`,`b` never overflows a signed 64-bit
    * (or DuckDB UBIGINT) intermediate. */
  def lower31(md: MessageDigest, s: String): Long =
    lower64(md, s) & 0x7FFFFFFFL

  /** Affine permutation constants for the minhash family, themselves
    * md5-derived so the oracle can regenerate them:
    * a_s = (md5_lower("ga"+s) & (2^31-1)) | 1, b_s = md5_lower("gb"+s) & (2^31-1). */
  private val permCache = new java.util.concurrent.ConcurrentHashMap[Int, (Array[Long], Array[Long])]()

  def permConsts(k: Int): (Array[Long], Array[Long]) =
    permCache.computeIfAbsent(k, { k =>
      val md = newDigest()
      val a = Array.tabulate(k)(s => lower31(md, "ga" + s) | 1L)
      val b = Array.tabulate(k)(s => lower31(md, "gb" + s))
      (a, b)
    })
}
