package graft

/** The DuckDB oracle kernels, each spelled once. Every oracle in
  * [[SparkEntry.registry]] that runs one of these kernels composes its
  * SQL from the fragments here and adds only its own tail, the way a
  * Cascalog query takes a compiled subquery as a generator.
  *
  * A CTE fragment is a comma-separated run of CTEs with no `WITH` and no
  * trailing comma; the oracle writes `WITH` (or `WITH RECURSIVE` for
  * [[closure]]) and joins fragments with `,\n`; the `...Cte` vals are
  * whole `WITH` heads that oracles extend. `mat` puts DuckDB's
  * `MATERIALIZED` hint on the fragment's CTEs. The CTE names are part of
  * the contract: `tools/staged_oracle.py` and `tools/cc_oracle.py` cut
  * the oracle text by them.
  *
  * The fragments restate each kernel from its definition and never read
  * a constant from `Dedup` or `Similarity`: an oracle shares no code
  * with the operator it checks. */
private[graft] object OracleSql {

  /** The head of CTE `name`: `name AS (`, or `name AS MATERIALIZED (`. */
  private def cte(name: String, mat: Boolean): String =
    s"$name AS ${if (mat) "MATERIALIZED " else ""}("

  // ------------------------------------------------------------ text

  /** Lowercased word tokens of `src (doc_id, text)` as `tk (doc_id, toks)`. */
  def words(src: String, mat: Boolean): String =
    cte("tk", mat) + raw"""
      |  SELECT doc_id, list_filter(regexp_split_to_array(lower(trim(text)), '\W+'),
      |    x -> x != '') AS toks FROM $src)""".stripMargin

  /** The 3-word shingles of `toks`, in order, repeats kept. */
  private val shingles: String =
    """list_transform(generate_series(1, len(toks) - 2),
      |    i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])""".stripMargin

  /** Minhash LSH bands over `src (doc_id, text)`: [[words]], the md5 base
    * hash of each 3-word shingle, 64 md5-derived permutations
    * `(a·x + b) mod (2^61 − 1)`, their minima in order as `sig`, and 16
    * bands of 4 rows as `banded (doc_id, band, band_key)`. */
  def minhashBands(src: String, mat: Boolean): String =
    words(src, mat) + s""",
      |${cte("sh", mat)}
      |  SELECT doc_id, (md5_number_lower(s) & 2147483647) AS base
      |  FROM (SELECT doc_id, unnest($shingles) AS s FROM tk) u),
      |${cte("perm", mat)}
      |  SELECT s.s AS s, ((md5_number_lower('ga' || s.s) & 2147483647) | 1) AS a,
      |         (md5_number_lower('gb' || s.s) & 2147483647) AS b
      |  FROM generate_series(0, 63) s(s)),
      |${cte("mins", mat)}
      |  SELECT doc_id, s, CAST(MIN((a * base + b) % 2305843009213693951) AS BIGINT) AS v
      |  FROM sh, perm GROUP BY doc_id, s),
      |${cte("sig", mat)}SELECT doc_id, list(v ORDER BY s) AS sig FROM mins GROUP BY doc_id),
      |${cte("banded", mat)}
      |  SELECT doc_id, b.b AS band,
      |    array_to_string(list_slice(sig, 4*b.b + 1, 4*b.b + 4), ',') AS band_key
      |  FROM sig, generate_series(0, 15) b(b))""".stripMargin

  /** The candidate self-join of `banded`: each `id_a < id_b` pair that
    * shares a band key in some band, once. */
  val bandPairs: String =
    """SELECT l.doc_id AS id_a, r.doc_id AS id_b
      |FROM banded l JOIN banded r ON l.band = r.band AND l.band_key = r.band_key
      |WHERE l.doc_id < r.doc_id GROUP BY 1, 2""".stripMargin

  /** [[bandPairs]] as CTE `name`. */
  def bandPairsCte(name: String, mat: Boolean): String =
    s"${cte(name, mat)}\n  $bandPairs)"

  /** Distinct 3-word shingle sets of `tk` as `shs (doc_id, sset)`; a text
    * of three tokens or fewer is one shingle. */
  def shingleSets(mat: Boolean): String =
    s"""${cte("shs", mat)}
       |  SELECT doc_id, CASE WHEN len(toks) <= 3 THEN [array_to_string(toks, ' ')]
       |    ELSE list_distinct($shingles) END AS sset FROM tk)""".stripMargin

  /** The Jaccard similarity of shingle sets `a.sset` and `b.sset` (1.0
    * for two empty sets). */
  def jaccard(a: String, b: String): String =
    s"""CASE WHEN len(list_distinct($a.sset || $b.sset)) = 0 THEN 1.0
       |    ELSE CAST(len(list_intersect($a.sset, $b.sset)) AS DOUBLE)
       |      / len(list_distinct($a.sset || $b.sset)) END""".stripMargin

  /** Connected components of the undirected graph `verified (id_a, id_b)`
    * as `comp (id, component)`: edges doubled into `sym`, each node's
    * reachable labels by a recursive CTE, the least as its component.
    * Only nodes with an edge appear. The oracle needs `WITH RECURSIVE`.
    * p11 (min-label CC) and p17 (star CC) share it through
    * [[neardupComponents]]: both engines' components are the same sets. */
  def closure(mat: Boolean): String =
    s"""${cte("sym", mat)}SELECT id_a AS s, id_b AS d FROM verified
       |        UNION ALL SELECT id_b, id_a FROM verified),
       |reach AS (
       |  SELECT DISTINCT s AS id, s AS lab FROM sym
       |  UNION
       |  SELECT sym.d AS id, reach.lab FROM reach JOIN sym ON sym.s = reach.id),
       |${cte("comp", mat)}SELECT id, MIN(lab) AS component FROM reach GROUP BY id)""".stripMargin

  /** The end-to-end near-dup chain over `src (doc_id, text)`, every CTE
    * materialized: [[minhashBands]] → `cand` ([[bandPairs]]) → Jaccard
    * ≥ 0.6 `verified` → [[closure]], ending at `comp (id, component)`. */
  def neardupComponents(src: String): String =
    minhashBands(src, mat = true) + ",\n" + bandPairsCte("cand", mat = true) + ",\n" +
      shingleSets(mat = true) + s""",
      |verified AS MATERIALIZED (
      |  SELECT id_a, id_b FROM cand
      |  JOIN shs sa ON sa.doc_id = cand.id_a JOIN shs sb ON sb.doc_id = cand.id_b
      |  WHERE (${jaccard("sa", "sb")}) >= 0.6),
      |""".stripMargin + closure(mat = true)

  /** [[neardupComponents]] over `documents`, the common head of the
    * near-dup dedups: p11/p17 and p94 add min-id survivors, p76 the
    * quality-keyed pick. */
  val neardupCompCte: String = "WITH RECURSIVE " + neardupComponents("documents")

  /** Min-id survivors of `comp` over `src (doc_id, lang, source)`: every
    * unclustered document plus the least id of each component. */
  def minIdSurvivors(src: String, mat: Boolean): String =
    s"""${cte("keep", mat)}SELECT component, MIN(id) AS doc_id FROM comp GROUP BY component)
       |SELECT d.doc_id, d.lang, d.source FROM $src d
       |LEFT JOIN comp ON comp.id = d.doc_id WHERE comp.id IS NULL
       |UNION ALL
       |SELECT d.doc_id, d.lang, d.source FROM keep JOIN $src d ON d.doc_id = keep.doc_id""".stripMargin

  /** The similarity-graph base of p51 (PageRank), p54 (triangles), p55/p72
    * (LPA) and p57/p67 (decontamination): [[minhashBands]] over
    * `documents`, the distinct candidate `pairs (id_a, id_b)` and
    * `nodes (id)`, all materialized. */
  val MinhashGraphCte: String =
    "WITH " + minhashBands("documents", mat = true) + ",\n" +
      bandPairsCte("pairs", mat = true) +
      ",\nnodes AS MATERIALIZED (SELECT doc_id AS id FROM documents)"

  /** The containment family (p75/p77): shingle sets → 61-bit hashes →
    * df-capped index, bottom-8 probes, ≥6-of-8 (clamped) prefilter, exact
    * intersection — ending at `scored (inner_id, outer_id, containment)`
    * and `sz (doc_id, n)`. */
  val containCte: String =
    "WITH " + words("documents", mat = false) + s""",
      |shs AS (
      |  SELECT doc_id, CASE
      |    WHEN len(toks) = 0 THEN CAST([] AS VARCHAR[])
      |    WHEN len(toks) <= 3 THEN [array_to_string(toks, ' ')]
      |    ELSE list_distinct($shingles) END AS sset
      |  FROM tk),
      |sh AS (
      |  SELECT doc_id, CAST(md5_number_lower(s) & 2305843009213693951 AS BIGINT) AS gh
      |  FROM (SELECT doc_id, unnest(sset) AS s FROM shs) u GROUP BY 1, 2),
      |keep AS (SELECT gh FROM sh GROUP BY gh HAVING COUNT(*) <= 64),
      |botm AS (SELECT doc_id, gh FROM (
      |    SELECT doc_id, gh, row_number() OVER (PARTITION BY doc_id ORDER BY gh) AS rn
      |    FROM sh) q WHERE rn <= 8),
      |np AS (SELECT b.doc_id, COUNT(*) AS np
      |  FROM botm b JOIN keep USING (gh) GROUP BY b.doc_id),
      |cand AS (
      |  SELECT inner_id, outer_id FROM (
      |    SELECT b.doc_id AS inner_id, i.doc_id AS outer_id, COUNT(*) AS h
      |    FROM botm b JOIN sh i USING (gh) JOIN keep USING (gh)
      |    WHERE b.doc_id != i.doc_id GROUP BY 1, 2) c
      |  JOIN np ON np.doc_id = c.inner_id
      |  WHERE c.h >= LEAST(6, np.np)),
      |inter AS (
      |  SELECT c.inner_id, c.outer_id, COUNT(*) AS i_n
      |  FROM cand c JOIN sh sa ON sa.doc_id = c.inner_id
      |    JOIN sh sb ON sb.doc_id = c.outer_id AND sb.gh = sa.gh
      |  GROUP BY 1, 2),
      |sz AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
      |scored AS (
      |  SELECT c.inner_id, c.outer_id,
      |    CAST(COALESCE(i.i_n, 0) AS DOUBLE) / sz.n AS containment
      |  FROM cand c LEFT JOIN inter i
      |    ON i.inner_id = c.inner_id AND i.outer_id = c.outer_id
      |  JOIN sz ON sz.doc_id = c.inner_id)""".stripMargin

  /** 64-bit simhash over whitespace tokens of `documents`: each token's
    * md5 votes its bits, a bit is set when more than half the tokens set
    * it, and `shu (doc_id, v)` holds the code as an unsigned HUGEINT.
    * Shared by p07 and p10. */
  val simhashBits: String =
    raw"""tk AS (
      |  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS toks FROM documents),
      |th AS (SELECT doc_id, len(toks) AS n, unnest(toks) AS tok FROM tk),
      |h AS (SELECT doc_id, n, md5_number_lower(tok) AS h FROM th),
      |bits AS (
      |  SELECT doc_id, s.b AS b,
      |    CASE WHEN 2 * SUM(CASE WHEN (h >> s.b) & 1 = 1 THEN 1 ELSE 0 END) > MAX(n)
      |         THEN 1::HUGEINT ELSE 0::HUGEINT END AS bit
      |  FROM h, generate_series(0, 63) s(b) GROUP BY doc_id, s.b),
      |shu AS (SELECT doc_id, SUM(bit * (1::HUGEINT << b)) AS v FROM bits GROUP BY doc_id)""".stripMargin

  /** BM25 of the terms spark, window, stream and merge over word tokens
    * `tk` of `documents`, with k1 = 6/5 and b = 3/4 as the integer
    * saturation ratio 22·S·tf / (10·S·tf + 3·S + 9·dl·N) and the Robertson
    * idf as the exact ratio (2N − 2df + 1)/(2df + 1), both floor-quantized
    * at 1e6, as `term_sc (doc_id, tfq, idfq)`. Shared by p64 and p70. */
  val bm25Terms: String =
    raw"""tk AS (SELECT doc_id, list_filter(
      |    regexp_split_to_array(lower(trim(text)), '\W+'), x -> x != '') AS toks
      |  FROM documents),
      |st AS (SELECT COUNT(*) AS n, CAST(SUM(len(toks)) AS BIGINT) AS s FROM tk),
      |dft AS (SELECT term, COUNT(*) AS df FROM (
      |    SELECT doc_id, unnest(list_distinct(toks)) AS term FROM tk) u
      |  WHERE term IN ('spark', 'window', 'stream', 'merge') GROUP BY 1),
      |tf AS (SELECT doc_id, dl, term, COUNT(*) AS tf FROM (
      |    SELECT doc_id, len(toks) AS dl, unnest(toks) AS term FROM tk) u
      |  WHERE term IN ('spark', 'window', 'stream', 'merge') GROUP BY 1, 2, 3),
      |term_sc AS (SELECT tf.doc_id,
      |    CAST(floor(1.0e6 * ((CAST(tf.tf AS DOUBLE) * (22.0 * CAST(st.s AS DOUBLE)))
      |      / (CAST(tf.tf AS DOUBLE) * (10.0 * CAST(st.s AS DOUBLE))
      |         + 3.0 * CAST(st.s AS DOUBLE)
      |         + CAST(tf.dl AS DOUBLE) * (9.0 * CAST(st.n AS DOUBLE)))))
      |      AS BIGINT) AS tfq,
      |    CAST(floor(1.0e6 * (CAST(2 * st.n + 1 - 2 * dft.df AS DOUBLE)
      |      / CAST(2 * dft.df + 1 AS DOUBLE))) AS BIGINT) AS idfq
      |  FROM tf JOIN dft USING (term) CROSS JOIN st)""".stripMargin

  /** Bigram counts over word tokens `tk (doc_id, toks)`: each document's
    * adjacent pairs `bg (doc_id, w1, w2)` and their counts
    * `c12 (w1, w2, c12)`. */
  private val bigramCounts: String =
    """bg AS (SELECT doc_id, toks[i] AS w1, toks[i+1] AS w2
      |  FROM tk, unnest(generate_series(1, len(toks)-1)) AS u(i)
      |  WHERE len(toks) >= 2),
      |c12 AS (SELECT w1, w2, COUNT(*) AS c12 FROM bg GROUP BY 1, 2)""".stripMargin

  /** The add-one bigram LM self-trained on `tk`: after [[bigramCounts]],
    * per-bigram probabilities floored to 1e-9 quanta as `term` and their
    * per-document count and exact sum as `sc (doc_id, n_bigrams,
    * sum_scaled)`. Shared by p44 and p48. */
  val addOneBigramLm: String = bigramCounts + """,
      |c1 AS (SELECT w1, CAST(SUM(c12) AS BIGINT) AS c1 FROM c12 GROUP BY 1),
      |v AS (SELECT COUNT(DISTINCT t) AS vs FROM (SELECT unnest(toks) AS t FROM tk)),
      |term AS (SELECT bg.doc_id, CAST(floor(1.0e9 *
      |    (CAST(c12.c12 + 1 AS DOUBLE) / CAST(c1.c1 + v.vs AS DOUBLE))) AS BIGINT) AS scaled
      |  FROM bg JOIN c12 USING (w1, w2) JOIN c1 USING (w1) CROSS JOIN v),
      |sc AS (SELECT doc_id, COUNT(*) AS n_bigrams,
      |    CAST(SUM(scaled) AS BIGINT) AS sum_scaled FROM term GROUP BY 1)""".stripMargin

  /** Interpolated Kneser-Ney bigram statistics over `tk`: after
    * [[bigramCounts]], each context's count and fan-out as
    * `ctx (w1, c1, nf)`, each word's continuation count as `cont (w2, nb)`
    * and the bigram type count as `na (nall)`. Shared by p49 and p52. */
  val knBigramStats: String = bigramCounts + """,
      |ctx AS (SELECT w1, CAST(SUM(c12) AS BIGINT) AS c1, COUNT(*) AS nf
      |  FROM c12 GROUP BY 1),
      |cont AS (SELECT w2, COUNT(*) AS nb FROM c12 GROUP BY 1),
      |na AS (SELECT COUNT(*) AS nall FROM c12)""".stripMargin

  // ------------------------------------------------------------ vectors

  /** The embeddings as `name (vec_id, e DOUBLE[])`. */
  def vectors(name: String, mat: Boolean = false): String =
    s"${cte(name, mat)}SELECT vec_id, CAST(embedding AS DOUBLE[]) e FROM embeddings)"

  private def dot(a: String, b: String): String =
    s"list_reduce(list_transform(generate_series(1, 64), i -> $a[i]*$b[i]), (x,y) -> x+y)"

  /** The cosine of 64-dim vectors `a` and `b`, each norm floored at 1e-12. */
  def cosine(a: String, b: String): String =
    s"""${dot(a, b)} /
       |    (greatest(sqrt(${dot(a, a)}), 1e-12) *
       |     greatest(sqrt(${dot(b, b)}), 1e-12))""".stripMargin

  /** `(id_a, id_b, cosine)` of every `pairs (id_a, id_b)` row over `c0`. */
  val pairCosines: String =
    s"""SELECT id_a, id_b,
       |    ${cosine("a.e", "bb.e")} AS cosine
       |  FROM pairs JOIN c0 a ON a.vec_id = pairs.id_a JOIN c0 bb ON bb.vec_id = pairs.id_b""".stripMargin

  /** Random-hyperplane signatures of `c0 (vec_id, e)`: `planes` planes
    * whose components are md5-derived doubles in [-1, 1) as
    * `pl (p, comp)`, and each vector's sign bits as `sig (vec_id, b)`. */
  def hyperplaneSig(planes: Int): String =
    s"""pl AS (SELECT p.p AS p, list_transform(generate_series(0, 63),
       |    i -> CAST(md5_number_lower('pl' || p.p || '_' || i) >> 11 AS DOUBLE)
       |      * (1.0/4503599627370496) - 1.0) AS comp
       |  FROM generate_series(0, ${planes - 1}) p(p)),
       |sig AS (
       |  SELECT vec_id, CAST(SUM(CASE WHEN proj >= 0 THEN (1::BIGINT << p) ELSE 0 END) AS BIGINT) AS b
       |  FROM (SELECT c0.vec_id, pl.p,
       |      list_reduce(list_transform(generate_series(1, 64), i -> e[i] * comp[i]),
       |        (x, y) -> x + y) AS proj
       |    FROM c0, pl) t GROUP BY vec_id)""".stripMargin

  /** The bucket self-join of `sig`: each `id_a < id_b` pair with equal
    * signatures. */
  val sigPairs: String =
    """SELECT l.vec_id AS id_a, r.vec_id AS id_b
      |FROM sig l JOIN sig r ON l.b = r.b AND l.vec_id < r.vec_id""".stripMargin

  /** Multi-probe LSH over `sig`: each probe `vec_id < 8` looks up its own
    * bucket and the four one-bit flips of its low bits, and the distinct
    * candidates are scored by cosine as `scored (probe_id, corpus_id,
    * cosine)`. */
  def multiProbe(scored: String): String =
    s"""pbuck AS (SELECT vec_id AS probe_id, unnest([b, xor(b, 1), xor(b, 2), xor(b, 4), xor(b, 8)]) AS b
       |  FROM sig WHERE vec_id < 8),
       |cand AS (SELECT DISTINCT pbuck.probe_id, sig.vec_id AS corpus_id
       |  FROM sig JOIN pbuck USING (b)),
       |$scored AS (
       |  SELECT cand.probe_id, cand.corpus_id,
       |    ${cosine("ce.e", "pe.e")} AS cosine
       |  FROM cand JOIN c0 ce ON ce.vec_id = cand.corpus_id
       |            JOIN c0 pe ON pe.vec_id = cand.probe_id)""".stripMargin

  /** Each probe's top `k` rows of `scored` by cosine, ties to the lower
    * corpus id, with their 1-based rank. */
  def topKByCosine(k: Int): String =
    s"""SELECT probe_id, corpus_id, cosine, CAST(rn AS INTEGER) AS rank FROM (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY probe_id
       |    ORDER BY cosine DESC, corpus_id) AS rn FROM scored) t
       |WHERE rn <= $k""".stripMargin

  /** Cosine ≥ 0.2 pairs of `pairs` as `verified`, their [[closure]], and
    * min-id survivors over `embeddings`: p35 and p36 differ only in how
    * they pair. */
  def cosineSurvivors(mat: Boolean): String =
    s"""${cte("verified", mat)}
       |  SELECT id_a, id_b FROM (
       |    $pairCosines) t
       |  WHERE cosine >= 0.2),
       |${closure(mat)},
       |${cte("keep", mat)}SELECT component, MIN(id) AS vec_id FROM comp GROUP BY component)
       |SELECT e.vec_id FROM embeddings e
       |LEFT JOIN comp ON comp.id = e.vec_id WHERE comp.id IS NULL
       |UNION ALL
       |SELECT vec_id FROM keep""".stripMargin

  /** IVF cells of `c0 (vec_id, e)`: the 8 lowest-id non-null vectors
    * passing `seedFilter` (a SQL condition; empty for none) seed
    * `seeds (cell, s)`, squared L2 distances to each seed are `dist
    * (vec_id, cell, d)`, and each vector's nearest seed, ties to the lower
    * cell, is `assign (vec_id, cell)`. */
  def ivfCells(seedFilter: String = "", mat: Boolean = false,
      dist: String = "dist", assign: String = "assign"): String = {
    val where = if (seedFilter.isEmpty) "" else s" AND $seedFilter"
    s"""${cte("seeds", mat)}SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS cell, e AS s
       |  FROM (SELECT vec_id, e FROM c0 WHERE e IS NOT NULL$where ORDER BY vec_id LIMIT 8) t),
       |${cte(dist, mat)}SELECT c0.vec_id, seeds.cell,
       |    list_reduce(list_transform(generate_series(1, 64), i -> (e[i]-s[i])*(e[i]-s[i])), (x,y) -> x+y) AS d
       |  FROM c0, seeds WHERE c0.e IS NOT NULL),
       |${cte(assign, mat)}SELECT vec_id, cell FROM (
       |    SELECT vec_id, cell, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d, cell) AS rn
       |    FROM $dist) t WHERE rn = 1)""".stripMargin
  }

  /** IVFADC, shared by p39 and p42 (which re-ranks p39's ADC shortlist):
    * [[ivfCells]] seeded by the 8 lowest ids ≥ 100 as `cdist`/`asg`,
    * residuals to the assigned centroid as `res`, a residual product
    * quantizer of 8 subspaces × 8 dims whose codebooks are the 8
    * lowest-id residuals, the probes `vec_id < 4` routed to their 2
    * nearest cells with per-cell residual distance tables, and the
    * ascending-subspace ADC fold as `scored (probe_id, corpus_id, adist)`. */
  val ivfAdcCte: String =
    "WITH " + vectors("c0") + ",\n" +
      ivfCells(seedFilter = "vec_id >= 100", dist = "cdist", assign = "asg") + """,
      |res AS (SELECT c0.vec_id, asg.cell,
      |    list_transform(generate_series(1, 64), i -> c0.e[i] - seeds.s[i]) AS r
      |  FROM c0 JOIN asg USING (vec_id) JOIN seeds ON seeds.cell = asg.cell),
      |bseeds AS (SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS code, r AS bs
      |  FROM (SELECT vec_id, r FROM res ORDER BY vec_id LIMIT 8) t),
      |js AS (SELECT j FROM generate_series(0, 7) g(j)),
      |bdist AS (SELECT res.vec_id, js.j, bseeds.code,
      |    list_reduce(list_transform(generate_series(1, 8),
      |      i -> (r[js.j*8+i]-bs[js.j*8+i])*(r[js.j*8+i]-bs[js.j*8+i])), (x,y) -> x+y) AS d
      |  FROM res, js, bseeds),
      |al AS (SELECT b.vec_id, asg.cell, list(code ORDER BY j) AS cl
      |  FROM (SELECT vec_id, j, code FROM (
      |      SELECT vec_id, j, code, ROW_NUMBER() OVER (PARTITION BY vec_id, j ORDER BY d, code) AS rn
      |      FROM bdist) t WHERE rn = 1) b
      |  JOIN asg ON asg.vec_id = b.vec_id GROUP BY b.vec_id, asg.cell),
      |proute AS (SELECT vec_id AS probe_id, cell FROM (
      |    SELECT vec_id, cell, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d, cell) AS rn
      |    FROM cdist WHERE vec_id < 4) t WHERE rn <= 2),
      |pres AS (SELECT p.probe_id, p.cell,
      |    list_transform(generate_series(1, 64), i -> c0.e[i] - seeds.s[i]) AS pr
      |  FROM proute p JOIN c0 ON c0.vec_id = p.probe_id JOIN seeds ON seeds.cell = p.cell),
      |pdt0 AS (SELECT pres.probe_id, pres.cell, js.j, bseeds.code,
      |    list_reduce(list_transform(generate_series(1, 8),
      |      i -> (pr[js.j*8+i]-bs[js.j*8+i])*(pr[js.j*8+i]-bs[js.j*8+i])), (x,y) -> x+y) AS d
      |  FROM pres, js, bseeds),
      |pdt AS (SELECT probe_id, cell, list(d ORDER BY j, code) AS dl
      |  FROM pdt0 GROUP BY probe_id, cell),
      |scored AS (SELECT pdt.probe_id, al.vec_id AS corpus_id,
      |    list_reduce(list_transform(generate_series(1, 8), j -> dl[(j-1)*8 + cl[j] + 1]), (x,y) -> x+y) AS adist
      |  FROM pdt JOIN al ON al.cell = pdt.cell)""".stripMargin

}
