package graft

import graft.pipeline.Dedup
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Standing scale gate for the dedup family: exact algebraic laws relate
  * a corpus to its C-copy replications, so scaled-up correctness is
  * CHECKED on every test run instead of argued from design. The same
  * laws, measured at C=100 / 500k docs with the split oracle, are the
  * BASELINE.md round-13 "sf10 heavy family" section; this spec pins them
  * at C=10 on sf0.01 where they run in seconds.
  *
  * Law 1 (verbatim fixed point): replicating every doc verbatim C times
  * with shifted ids must dedup back to EXACTLY the base survivor set —
  * copies join their copy-0 twin's cluster and min-id keeps copy 0.
  *
  * Law 2 (decorrelation, exact form): per-copy token mutation at rate
  * 1.0 maps every token through a copy-keyed md5 namespace, so two
  * copies share no shingle (a cross-copy shingle match needs w
  * consecutive md5 coincidences) — ZERO verified cross-copy pairs,
  * components live within copies, the corpus scales at constant
  * duplicate rate.
  *
  * Law 2' (the 45% tail): at make_sf_fresh.py's production rate 0.45 a
  * SHORT doc can keep jaccard >= 0.6 with its twin by drawing few
  * mutations — cross-copy edges are a bounded tail, not zero (measured
  * here: 4 edges / 500-doc copies at C=10; at C=100/500k docs the same
  * tail cost 135 of 476,100 expected survivors — BASELINE "sf10").
  *
  * Law 3 (twin): large/small-star CC and label propagation must agree
  * on both replicated corpora (the p11/p17 contract at scale).
  */
class ScaleLadderSpec extends SparkTestBase {

  private val Offset = 1000000000L
  private val Copies = 10

  private lazy val base =
    spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
      .select("doc_id", "text")

  /** Same-length deterministic pseudo-token mutation, keyed on
    * (token, position, copy) so a copy's planted near-twins mutate
    * identically where their tokens align. */
  private val mutateText = udf { (text: String, copy: Int, gateCap: Int) =>
    if (copy == 0) text
    else {
      def md5(b: Array[Byte]) =
        java.security.MessageDigest.getInstance("MD5").digest(b)
      text.split(" ", -1).zipWithIndex.map { case (tok, pos) =>
        val gate = md5(s"$tok:$pos:$copy".getBytes("UTF-8"))(0) & 0xff
        if (tok.nonEmpty && gate < gateCap) {
          var cur = md5(s"$tok|$pos|$copy".getBytes("UTF-8"))
          val sb = new StringBuilder
          var i = 0
          while (sb.length < tok.length) {
            sb.append(('a' + ((cur(i % 16) & 0xff) % 26)).toChar)
            i += 1
            if (i % 16 == 0) cur = md5(cur)
          }
          sb.toString
        } else tok
      }.mkString(" ")
    }
  }

  /** gateCap: 0 = verbatim, 115 ~= the production 45% rate, 256 = every
    * token re-keyed into the copy's md5 namespace (exact decorrelation). */
  private def replicate(gateCap: Int): DataFrame =
    (0 until Copies).map { i =>
      val shifted = base.select(
        (col("doc_id") + lit(i * Offset)).as("doc_id"), col("text"))
      if (gateCap > 0) shifted.select(col("doc_id"),
        mutateText(col("text"), lit(i), lit(gateCap)).as("text"))
      else shifted
    }.reduce(_ unionAll _)

  private def ids(df: DataFrame): Set[Long] =
    df.select("doc_id").collect().map(_.getLong(0)).toSet

  private def verifiedPairs(df: DataFrame): DataFrame =
    Dedup.jaccardVerify(Dedup.minhashCandidates(df), df, threshold = 0.6)

  private def survivorIds(df: DataFrame): Set[Long] =
    ids(Dedup.nearDupDedup(df, threshold = 0.6))

  /** The same dedup with star-contraction components over the same
    * verified pairs. */
  private def starSurvivorIds(df: DataFrame): Set[Long] =
    ids(Dedup.survivorsOf(df, "doc_id",
      Dedup.componentsStar(verifiedPairs(df).select("id_a", "id_b"))))

  test("law 1: verbatim C-copy replication dedups back to the base survivor set") {
    val baseSurv = survivorIds(base)
    val verbatim = replicate(gateCap = 0)
    val scaled = survivorIds(verbatim)
    assert(scaled == baseSurv,
      s"fixed point broken: ${(scaled -- baseSurv).take(5)} extra, " +
        s"${(baseSurv -- scaled).take(5)} missing of ${baseSurv.size}")
    // law 3 on the verbatim corpus: the star-contraction twin agrees
    assert(starSurvivorIds(verbatim) == scaled)
  }

  private def crossCopyEdges(fresh: DataFrame) =
    verifiedPairs(fresh).filter((col("id_a") / Offset).cast("long")
      =!= (col("id_b") / Offset).cast("long"))

  test("law 2: fully re-keyed copies are decorrelated - zero verified cross-copy pairs") {
    val fresh = replicate(gateCap = 256)
    val cross = crossCopyEdges(fresh)
    assert(cross.count() == 0,
      s"cross-copy edges exist: ${cross.take(3).mkString(", ")}")

    // components therefore live within copies: survivors scale with C
    val scaled = survivorIds(fresh)
    val per = scaled.groupBy(_ / Offset).map(_._2.size)
    assert(per.size == Copies, s"expected survivors in all $Copies copies")
    val baseN = survivorIds(base).size
    // full re-keying can only BREAK near-twin clusters (misaligned
    // positions diverge), never create ones, so per-copy survivors sit
    // in [baseN, corpus size]
    assert(per.forall(n => n >= baseN && n <= base.count()),
      s"per-copy survivor counts off: $per vs base $baseN")
    // law 3 on the fresh corpus
    assert(starSurvivorIds(fresh) == scaled)
  }

  test("law 2': at the production 45% rate the cross-copy tail is bounded, not zero") {
    val fresh = replicate(gateCap = 115)
    val crossN = crossCopyEdges(fresh).count()
    // measured 4 at this seed; bound leaves room for threshold drift
    // without letting a real decorrelation bug (hundreds of edges) pass
    assert(crossN <= 10, s"cross-copy tail blew up: $crossN edges")
    assert(starSurvivorIds(fresh) == survivorIds(fresh))
  }
}
