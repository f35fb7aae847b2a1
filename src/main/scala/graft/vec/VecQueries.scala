package graft.vec

import graft.{Reg, Tables}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Graded similarity-search queries over `embeddings` (SURVEY.md §1.2).
  * Scores are double-precision index-ordered dots on both engines (see
  * VecOps) — measured min consecutive top-5 rank gap is 1.9e-5, ten
  * orders above the cross-engine double divergence, so ranks are stable. */
object VecQueries {

  private val duckDot =
    "list_sum(list_transform(range(1, 65), i -> a.embedding[i]::DOUBLE * b.embedding[i]::DOUBLE))"

  /** DuckDB hp + sig CTEs mirroring [[VecOps.lshBucket]] (planes = 4):
    * md5-derived ±1 hyperplanes over the first `dims` dims of `src`, one
    * 4-bit bucket per vector. `dims` = 16 is the matryoshka prefix form;
    * `src` = emb2 is the OPQ-rotated corpus. Ends with
    * `sig(vec_id, embedding, bucket)`. */
  private def hpSigCtes(dims: Int, src: String = "embeddings"): String = s"""
        hp AS (SELECT j.j, i.i,
                      CASE WHEN (('0x' || substr(md5('hp' || j.j || '_' || i.i), 1, 15))::BIGINT & 1) = 1
                           THEN 1.0 ELSE -1.0 END AS sgn
                    FROM range(4) j(j), range($dims) i(i)),
        sig AS (SELECT e.vec_id, e.embedding,
                       CAST(sum(CASE WHEN sub.d > 0.0 THEN (1 << sub.j) ELSE 0 END) AS BIGINT) AS bucket
                FROM $src e JOIN (
                  SELECT e2.vec_id, hp.j,
                         sum(e2.embedding[hp.i + 1]::DOUBLE * hp.sgn) AS d
                  FROM $src e2 JOIN hp ON true
                  GROUP BY e2.vec_id, hp.j) sub ON e.vec_id = sub.vec_id
                GROUP BY e.vec_id, e.embedding)"""

  /** The sampled brute-force truth, mirroring [[VecOps.bruteTop5Shared]]
    * before its top-5 cut: every query in the 25% md5 sample scored
    * against the full corpus. Ends with `br(qid, nid, d, rank)`; read by
    * cosine_topk_brute and both ANN lens oracle templates. */
  private val bruteSampleCtes: String = s"""
        bp AS (SELECT a.vec_id AS qid, b.vec_id AS nid, $duckDot AS d
               FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id
               WHERE ('0x' || substr(md5(CAST(a.vec_id AS VARCHAR)), 1, 15))::BIGINT % 4 = 0),
        br AS (SELECT qid, nid, d,
                      row_number() OVER (PARTITION BY qid ORDER BY d DESC, nid) AS rank
               FROM bp)"""

  /** DuckDB CTEs mirroring [[VecOps.lshCandidatePairs]] exactly: the same
    * md5-derived hyperplanes, `tables` tables of `planes` planes, candidate
    * pairs joined per (table, bucket). `cmp` is "<" (unordered pairs) or
    * "<>" (directed). Hash-match is then independent of LSH recall — both
    * engines see the identical candidate set. */
  private def duckSigCtes(planes: Int, tables: Int, cmp: String): String = s"""
        hp AS (SELECT j.j, i.i,
                 CASE WHEN (('0x' || substr(md5('hp' || j.j || '_' || i.i), 1, 15))::BIGINT & 1) = 1
                      THEN 1.0 ELSE -1.0 END AS sgn
               FROM range(${planes * tables}) j(j), range(64) i(i)),
        proj AS (SELECT e.vec_id, hp.j,
                        sum(e.embedding[hp.i + 1]::DOUBLE * hp.sgn) AS d
                 FROM embeddings e JOIN hp ON true
                 GROUP BY e.vec_id, hp.j),
        sig AS (SELECT vec_id, j // $planes AS t,
                       CAST(sum(CASE WHEN d > 0.0 THEN (1 << (j % $planes)) ELSE 0 END) AS BIGINT) AS bucket
                FROM proj GROUP BY 1, 2),
        cand AS (SELECT DISTINCT sa.vec_id AS qid, sb.vec_id AS nid
                 FROM sig sa JOIN sig sb
                   ON sa.t = sb.t AND sa.bucket = sb.bucket AND sa.vec_id $cmp sb.vec_id)"""

  /** DuckDB CTE block mirroring one [[VecOps.hierIndex]] +
    * [[VecOps.hierAssign]] pass over the centroid CTE `cent`: ⌈√k⌉
    * coarse anchor pick (smallest md5-of-cid — the seedCentroids
    * sampling rule), fine→coarse map, per-vector `probes`-probe (the
    * hierIndex probes knob, default 2), argmax refine within probed
    * cells. `sfx` suffixes every CTE name so the block can appear once
    * per Lloyd iteration plus once for the final assignment in a single
    * WITH; ends with `assigned$sfx(vec_id, embedding, cid)`. */
  private def hierStageCtes(cent: String, sfx: String,
                            probes: Int = 2): String = s"""
        kc$sfx AS (SELECT greatest(4, CAST(ceil(sqrt(count(*))) AS BIGINT)) AS g
               FROM $cent),
        coarse$sfx AS (
          SELECT gid, ge FROM (
            SELECT cid AS gid, ce AS ge,
                   row_number() OVER (ORDER BY
                     ('0x' || substr(md5(CAST(cid AS VARCHAR)), 1, 15))::BIGINT,
                     cid) AS rn
            FROM $cent), kc$sfx
          WHERE rn <= kc$sfx.g),
        f2g$sfx AS (
          SELECT gid, cid, ce FROM (
            SELECT g.gid, f.cid, f.ce,
                   row_number() OVER (PARTITION BY f.cid ORDER BY
                     list_sum(list_transform(range(1, 65),
                       i -> f.ce[i]::DOUBLE * g.ge[i]::DOUBLE)) DESC, g.gid) AS r
            FROM $cent f JOIN coarse$sfx g ON true)
          WHERE r = 1),
        vp$sfx AS (
          SELECT vec_id, embedding, gid FROM (
            SELECT e.vec_id, e.embedding, g.gid,
                   row_number() OVER (PARTITION BY e.vec_id ORDER BY
                     list_sum(list_transform(range(1, 65),
                       i -> e.embedding[i]::DOUBLE * g.ge[i]::DOUBLE)) DESC, g.gid) AS pr
            FROM embeddings e JOIN coarse$sfx g ON true)
          WHERE pr <= $probes),
        assigned$sfx AS (
          SELECT vec_id, embedding, cid FROM (
            SELECT v.vec_id, v.embedding, f.cid,
                   row_number() OVER (PARTITION BY v.vec_id ORDER BY
                     list_sum(list_transform(range(1, 65),
                       i -> v.embedding[i]::DOUBLE * f.ce[i]::DOUBLE)) DESC, f.cid) AS crank
            FROM vp$sfx v JOIN f2g$sfx f ON v.gid = f.gid)
          WHERE crank = 1)"""

  /** One flat snapped Lloyd iteration over the WHOLE corpus against the
    * `cent` centroid CTE: rank-1 assignment + 1e-4-grid means. Used for
    * the two coarse (g = ⌈√k⌉) iterations, where the flat pass is n·√k
    * by construction. Emits `$asg`, `$m`, `$out(cid, ce)`. */
  private def flatIterCtes(cent: String, asg: String, m: String,
                           out: String): String = s"""
        $asg AS (
          SELECT vec_id, embedding, cid FROM (
            SELECT a.vec_id, a.embedding, b.cid,
                   row_number() OVER (PARTITION BY a.vec_id ORDER BY
                     (list_sum(list_transform(range(1, 65),
                        i -> a.embedding[i]::DOUBLE * b.ce[i]::DOUBLE))
                      - 0.5 * list_sum(list_transform(range(1, 65),
                        i -> b.ce[i]::DOUBLE * b.ce[i]::DOUBLE))) DESC, b.cid) AS r
            FROM embeddings a JOIN $cent b ON true)
          WHERE r = 1),
        $m AS (
          SELECT cid, i.i AS i,
                 CAST(round(avg(embedding[i.i + 1]::DOUBLE) * 10000) / 10000 AS REAL) AS mf
          FROM $asg, range(64) i(i) GROUP BY cid, i.i),
        $out AS (SELECT cid, list(mf ORDER BY i) AS ce FROM $m GROUP BY cid)"""

  /** One LOCAL snapped Lloyd iteration: every vector compares only
    * against the fine centroids of ITS coarse cell (`gasg.gid` equi-join
    * with `$fineIn(gid, cid, ce)`), rank-1 argmax, 1e-4-grid means.
    * `$out` keeps the cid→gid binding (from `fs`) when `withGid`, so the
    * next local iteration stays cell-local; the LAST iteration emits the
    * plain (cid, ce) fine table. */
  private def localIterCtes(fineIn: String, asg: String, m: String,
                            out: String, withGid: Boolean): String = {
    val tail =
      if (withGid) s"""
        ${out}p AS (SELECT cid, list(mf ORDER BY i) AS ce FROM $m GROUP BY cid),
        $out AS (SELECT f.gid, p.cid, p.ce
                 FROM ${out}p p JOIN (SELECT gid, cid FROM fs) f ON p.cid = f.cid)"""
      else s"""
        $out AS (SELECT cid, list(mf ORDER BY i) AS ce FROM $m GROUP BY cid)"""
    s"""
        $asg AS (
          SELECT vec_id, embedding, cid FROM (
            SELECT v.vec_id, v.embedding, f.cid,
                   row_number() OVER (PARTITION BY v.vec_id ORDER BY
                     (list_sum(list_transform(range(1, 65),
                        i -> v.embedding[i]::DOUBLE * f.ce[i]::DOUBLE))
                      - 0.5 * list_sum(list_transform(range(1, 65),
                        i -> f.ce[i]::DOUBLE * f.ce[i]::DOUBLE))) DESC, f.cid) AS r
            FROM gasg v JOIN $fineIn f ON v.gid = f.gid)
          WHERE r = 1),
        $m AS (
          SELECT cid, i.i AS i,
                 CAST(round(avg(embedding[i.i + 1]::DOUBLE) * 10000) / 10000 AS REAL) AS mf
          FROM $asg, range(64) i(i) GROUP BY cid, i.i),$tail"""
  }

  /** DuckDB CTEs mirroring [[VecOps.lloyd2CentroidsShared]] (the
    * two-level [[VecOps.twoLevelCentroids]] build, round 13) exactly:
    * g = ⌈√k⌉ md5-seeded coarse anchors (k = max(16, ceil(n/128)) —
    * the corpus-scaled formula), two flat snapped g-means iterations,
    * every vector routed to its coarse cell, per-cell fine seeds
    * (⌈m_c/TargetCellSize⌉ smallest-md5 members — per-cell mass sets
    * per-cell k, the balance-by-construction rule), then two LOCAL
    * snapped Lloyd iterations whose assignment joins on the coarse
    * cell. Ends with `c2(cid, ce)` — the fine centroid table every
    * consumer reads; the consumers' own hierAssign/ranked CTEs are
    * untouched by the build swap. */
  private val lloyd2Ctes = s"""
        gk AS (SELECT greatest(4, CAST(ceil(sqrt(greatest(16,
                 CAST(ceil(count(*) / ${VecOps.TargetCellSize}.0) AS BIGINT))))
                 AS BIGINT)) AS g
               FROM embeddings),
        gseeds AS (
          SELECT cid, ce FROM (
            SELECT vec_id AS cid, embedding AS ce,
                   row_number() OVER (ORDER BY
                     ('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 15))::BIGINT,
                     vec_id) AS rn
            FROM embeddings), gk
          WHERE rn <= gk.g),
        ${flatIterCtes("gseeds", "ga1", "gm1", "gc1")},
        ${flatIterCtes("gc1", "ga2", "gm2", "gc2")},
        gasg AS (
          SELECT vec_id, embedding, cid AS gid FROM (
            SELECT a.vec_id, a.embedding, b.cid,
                   row_number() OVER (PARTITION BY a.vec_id ORDER BY
                     (list_sum(list_transform(range(1, 65),
                        i -> a.embedding[i]::DOUBLE * b.ce[i]::DOUBLE))
                      - 0.5 * list_sum(list_transform(range(1, 65),
                        i -> b.ce[i]::DOUBLE * b.ce[i]::DOUBLE))) DESC, b.cid) AS r
            FROM embeddings a JOIN gc2 b ON true)
          WHERE r = 1),
        fs AS (
          SELECT gid, vec_id AS cid, embedding AS ce FROM (
            SELECT gid, vec_id, embedding,
                   row_number() OVER (PARTITION BY gid ORDER BY
                     ('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 15))::BIGINT,
                     vec_id) AS rn,
                   count(*) OVER (PARTITION BY gid) AS m
            FROM gasg)
          WHERE rn <= CAST(ceil(m / ${VecOps.TargetCellSize}.0) AS BIGINT)),
        ${localIterCtes("fs", "la1", "lm1", "lc1", withGid = true)},
        ${localIterCtes("lc1", "la2", "lm2", "c2", withGid = false)}"""

  /** The semdedup oracle, shared verbatim with the streaming twin
    * (`streaming_semdedup_keep`): the incremental foreachBatch pipeline
    * is order-independent by construction, so it grades against the
    * exact batch SQL. Edits apply to both consumers or neither.
    * (Defined before `all` — a forward reference from the Reg seq would
    * read null at object init.) */
  /** DuckDB CTEs mirroring [[VecOps.hierIndex]] + [[VecOps.hierAssign]]
    * over the `c2` centroid table — the FINAL assignment, the same
    * [[hierStageCtes]] block the Lloyd iterations use, unsuffixed. Ends
    * with `assigned(vec_id, embedding, cid)` — shared by the semdedup
    * oracle and the two-level IVF search oracle (whose qf CTEs also read
    * `vp`/`f2g`). */
  private val hierAssignCtes: String = hierStageCtes("c2", "")

  /** The semdedup oracle, shared verbatim with the streaming twin
    * (`streaming_semdedup_keep`): the incremental foreachBatch pipeline
    * is order-independent by construction, so it grades against the
    * exact batch SQL. Edits apply to both consumers or neither. */
  private[graft] val semdedupKeepOracle: String = s"""
        WITH $lloyd2Ctes,
        $hierAssignCtes,
        p AS (
          SELECT x.vec_id AS aid, y.vec_id AS bid,
                 list_sum(list_transform(range(1, 65),
                   i -> x.embedding[i]::DOUBLE * y.embedding[i]::DOUBLE)) AS sim
          FROM assigned x JOIN assigned y
            ON x.cid = y.cid AND x.vec_id < y.vec_id),
        d AS (SELECT bid AS vec_id, min(aid) AS dup_of
              FROM p WHERE sim >= 0.45 GROUP BY 1)
        SELECT a.vec_id, a.cid,
               CAST(CASE WHEN d.vec_id IS NULL THEN 1 ELSE 0 END AS BIGINT) AS kept,
               d.dup_of
        FROM assigned a LEFT JOIN d ON a.vec_id = d.vec_id
        ORDER BY a.vec_id
      """

  /** pm + sg + emb2 CTEs mirroring [[VecOps.opqTop3Shared]]'s rotation:
    * an md5-derived signed coordinate permutation of every vector. Ends
    * with `emb2(vec_id, embedding)`. */
  private val opqRotCtes: String = """
        pm AS (SELECT list(i ORDER BY ('0x' || substr(md5('perm' || i), 1, 15))::BIGINT, i) AS p
               FROM range(64) t(i)),
        sg AS (SELECT list(CASE WHEN (('0x' || substr(md5('sf' || i), 1, 15))::BIGINT & 1) = 1
                                THEN 1.0 ELSE -1.0 END ORDER BY i) AS s
               FROM range(64) t(i)),
        emb2 AS (SELECT e.vec_id,
                        [CAST(sg.s[j + 1] * e.embedding[pm.p[j + 1] + 1] AS REAL)
                         FOR j IN range(64)] AS embedding
                 FROM embeddings e, pm, sg)"""

  /** The 25% md5 query sample as a WHERE clause on the query side `a`. */
  private val sampleWhere: String =
    "WHERE ('0x' || substr(md5(CAST(a.vec_id AS VARCHAR)), 1, 15))::BIGINT % 4 = 0"

  /** The PQ-ANN pipeline over `src`, mirroring [[VecOps.pqTopK]] exactly:
    * LSH signature, the 4×8 codebook (slices of the md5-seeded vectors),
    * per-subspace encode, reconstruction, bucketed asymmetric rerank.
    * `sample` narrows the query side ("" = all queries). Ends with
    * `pr(qid, nid, d, rank)`. */
  private def pqRankCtes(src: String, sample: String): String = s"""
        ${hpSigCtes(64, src)},
        seeds AS (
          SELECT vec_id AS cid, embedding AS ce
          FROM $src
          ORDER BY ('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 15))::BIGINT, vec_id
          LIMIT 8),
        cb AS (SELECT s.s, cid, ce[s.s * 16 + 1 : s.s * 16 + 16] AS cw
               FROM seeds, range(4) s(s)),
        xs AS (SELECT vec_id, s.s, embedding[s.s * 16 + 1 : s.s * 16 + 16] AS x
               FROM $src, range(4) s(s)),
        assign AS (
          SELECT x.vec_id, x.s, c.cid,
                 row_number() OVER (PARTITION BY x.vec_id, x.s ORDER BY
                   (list_sum(list_transform(range(1, 17), i -> x.x[i]::DOUBLE * c.cw[i]::DOUBLE))
                    - 0.5 * list_sum(list_transform(range(1, 17), i -> c.cw[i]::DOUBLE * c.cw[i]::DOUBLE)))
                   DESC, c.cid) AS crank
          FROM xs x JOIN cb c ON x.s = c.s),
        recon AS (
          SELECT a.vec_id AS nid, flatten(list(c.cw ORDER BY a.s)) AS recon
          FROM assign a JOIN cb c ON a.s = c.s AND a.cid = c.cid
          WHERE a.crank = 1
          GROUP BY a.vec_id),
        p AS (SELECT a.vec_id AS qid, r.nid,
                     list_sum(list_transform(range(1, 65),
                       i -> a.embedding[i]::DOUBLE * r.recon[i]::DOUBLE)) AS d
              FROM sig a
              JOIN sig b ON a.bucket = b.bucket AND a.vec_id <> b.vec_id
              JOIN recon r ON r.nid = b.vec_id
              $sample),
        pr AS (SELECT qid, nid, d,
                      row_number() OVER (PARTITION BY qid ORDER BY d DESC, nid) AS rank
               FROM p)"""

  /** The PQ top-3 oracle: `prefixCtes` (empty, or the OPQ rotation plus
    * a trailing comma) then the identical pipeline over `src`. */
  private def pqOracleSql(prefixCtes: String, src: String): String = s"""
        WITH $prefixCtes
        ${pqRankCtes(src, "")}
        SELECT qid, rank, nid, round(d, 4) AS score
        FROM pr WHERE rank <= 3
        ORDER BY qid, rank
      """

  // ---- the ANN evaluation lenses: recall@3 and NDCG@3 -------------------
  // Every graded index family carries both lenses, graded against ONE
  // shared truth: the sampled brute top-3 ([[VecOps.bruteTop5Shared]]),
  // on a deterministic 25% md5 query sample. That is how the ground
  // truth runs at 100 TB: the quadratic side scales with |sample|·n, the
  // index side is the production path. recall@3 counts, per query, how
  // many true top-3 neighbors the index returned (0..3). NDCG@3 also
  // scores WHERE it put them: rel(nid) = 4 − brute_rank for the true
  // top-3 (else 0), position discounts 1/log₂(pos+1) micro-quantized
  // offline to the THREE integer constants (1000000, 630930, 500000)
  // used identically in DCG and IDCG — the whole query is integer
  // arithmetic, zero float risk. IDCG is summed PER QUERY from its own
  // brute rows (ADVICE r11: a constant 4761860 assumed every query has
  // 3 brute neighbors), so queries with < 3 neighbors normalize by
  // their own shorter ideal list. Both lenses are anchored on the brute
  // sample's query set: a query whose index returned nothing scores 0,
  // not missing. Each oracle replays the index pipeline and the brute
  // truth independently in DuckDB, no tolerance.

  /** The sample filter on a top-3 relation's query column. */
  private def sampleKeep: Column =
    graft.text.TextOps.hash60(col("qid").cast("string")) % 4 === 0

  /** Per-query recall@3 of an index family's top-3 relation against the
    * shared sampled brute ground truth. */
  private def annRecall3(emb: DataFrame, dir: String,
                         top3: (DataFrame, String) => DataFrame): DataFrame = {
    val brute = VecOps.bruteTop5Shared(emb, dir).filter(col("rank") <= 3)
      .select(col("qid"), col("nid"))
    val hits = top3(emb, dir).filter(sampleKeep)
      .select(col("qid"), col("nid")).withColumn("hit", lit(1))
    brute.join(hits, Seq("qid", "nid"), "left")
      .groupBy(col("qid"))
      .agg(count(col("hit")).as("n_hit"))
      .orderBy("qid")
  }

  /** Per-query DCG/NDCG of an index family's top-3 relation, read as
    * (qid, nid, pos ≤ 3), against the shared sampled brute ground truth. */
  private def annNdcg3(emb: DataFrame, dir: String,
                       top3: (DataFrame, String) => DataFrame): DataFrame = {
    val idx = top3(emb, dir).filter(sampleKeep)
      .select(col("qid"), col("nid"), col("rank").as("pos"))
    val brute = VecOps.bruteTop5Shared(emb, dir).filter(col("rank") <= 3)
      .select(col("qid"), col("nid"), (lit(4L) - col("rank")).as("rel"),
        expr("CASE rank WHEN 1 THEN 1000000L WHEN 2 THEN 630930L" +
          " ELSE 500000L END").as("disc"))
    val idcg = brute.groupBy(col("qid"))
      .agg(sum(col("rel") * col("disc")).as("idcg"))
    val dcg = idx
      .join(brute.select(col("qid"), col("nid"), col("rel")), Seq("qid", "nid"), "left")
      .withColumn("term_um", expr(
        "coalesce(rel, 0L) * CASE pos WHEN 1 THEN 1000000L" +
          " WHEN 2 THEN 630930L ELSE 500000L END"))
      .groupBy(col("qid")).agg(sum(col("term_um")).as("dcg"))
    idcg.join(dcg, Seq("qid"), "left")
      .select(col("qid"),
        coalesce(col("dcg"), lit(0L)).as("dcg_um"),
        expr("coalesce(dcg, 0L) * 1000000 div idcg").as("ndcg_ppm"))
      .orderBy("qid")
  }

  /** Oracle template for [[annRecall3]]: `indexCtes` must end with
    * `idx(qid, nid, pos)` — the family's ranked top-3 over the 25% md5
    * query sample. */
  private def recall3OracleSql(indexCtes: String): String = s"""
        WITH $indexCtes,
        $bruteSampleCtes,
        brute AS (SELECT qid, nid FROM br WHERE rank <= 3)
        SELECT b.qid, count(i.nid) AS n_hit
        FROM brute b LEFT JOIN idx i ON b.qid = i.qid AND b.nid = i.nid
        GROUP BY 1 ORDER BY 1
      """

  /** Oracle template for [[annNdcg3]], over the same `indexCtes` as
    * [[recall3OracleSql]]. */
  private def ndcg3OracleSql(indexCtes: String): String = s"""
        WITH $indexCtes,
        $bruteSampleCtes,
        bruter AS (SELECT qid, nid, CAST(4 - rank AS BIGINT) AS rel,
                          CAST(CASE rank WHEN 1 THEN 1000000 WHEN 2 THEN 630930
                               ELSE 500000 END AS BIGINT) AS disc
                   FROM br WHERE rank <= 3),
        idcg AS (SELECT qid, CAST(sum(rel * disc) AS BIGINT) AS idcg
                 FROM bruter GROUP BY 1),
        terms AS (SELECT l.qid,
                         CAST(sum(coalesce(b.rel, 0) *
                           CASE l.pos WHEN 1 THEN 1000000 WHEN 2 THEN 630930
                                ELSE 500000 END) AS BIGINT) AS dcg
                  FROM idx l LEFT JOIN bruter b
                    ON l.qid = b.qid AND l.nid = b.nid
                  GROUP BY 1)
        SELECT i.qid, CAST(coalesce(t.dcg, 0) AS BIGINT) AS dcg_um,
               CAST(coalesce(t.dcg, 0) * 1000000 // i.idcg AS BIGINT) AS ndcg_ppm
        FROM idcg i LEFT JOIN terms t ON i.qid = t.qid
        ORDER BY i.qid
      """

  // ---- per-family index CTEs, each ending in idx(qid, nid, pos) --------

  /** `idx` as the sampled top-3 of a ranked `(qid, nid, …, rank)` CTE
    * computed over all queries. */
  private def sampledTop3Idx(ranked: String): String = s"""
        idx AS (SELECT qid, nid, rank AS pos FROM $ranked
                WHERE rank <= 3
                  AND ('0x' || substr(md5(CAST(qid AS VARCHAR)), 1, 15))::BIGINT % 4 = 0)"""

  /** Single-table LSH search ([[VecOps.annLshTopK]], planes = 4): exact
    * dots within each bucket, ending in `lr(qid, nid, d, rank)`. */
  private val lshRankCtes: String = s"""
        ${hpSigCtes(64)},
        lp AS (SELECT a.vec_id AS qid, b.vec_id AS nid, $duckDot AS d
               FROM sig a JOIN sig b ON a.bucket = b.bucket AND a.vec_id <> b.vec_id),
        lr AS (SELECT qid, nid, d,
                      row_number() OVER (PARTITION BY qid ORDER BY d DESC, nid) AS rank
               FROM lp)"""

  private val lshIdxCtes: String = s"$lshRankCtes,${sampledTop3Idx("lr")}"

  /** Binary-quantized search ([[VecOps.annBinaryTopK]]): LSH buckets
    * reranked by sign-bit Hamming similarity; `sample` narrows the query
    * side ("" = all queries). Ends with `ir(qid, nid, score, rank)`. */
  private def binRankCtes(sample: String): String = s"""
        ${hpSigCtes(64)},
        bq AS (SELECT s.vec_id, s.bucket,
                      CAST(sum(CASE WHEN s.embedding[i.i + 1]::DOUBLE > 0.0
                                    THEN (CAST(1 AS BIGINT) << i.i) ELSE 0 END) AS BIGINT) AS bq0,
                      CAST(sum(CASE WHEN s.embedding[i.i + 33]::DOUBLE > 0.0
                                    THEN (CAST(1 AS BIGINT) << i.i) ELSE 0 END) AS BIGINT) AS bq1
               FROM sig s, range(32) i(i) GROUP BY 1, 2),
        p AS (SELECT a.vec_id AS qid, b.vec_id AS nid,
                     CAST(64 - bit_count(xor(a.bq0, b.bq0))
                             - bit_count(xor(a.bq1, b.bq1)) AS INT) AS score
              FROM bq a JOIN bq b ON a.bucket = b.bucket AND a.vec_id <> b.vec_id
              $sample),
        ir AS (SELECT qid, nid, score,
                      row_number() OVER (PARTITION BY qid ORDER BY score DESC, nid) AS rank
               FROM p)"""

  private val binIdxCtes: String = s"""
        ${binRankCtes(sampleWhere)},
        idx AS (SELECT qid, nid, rank AS pos FROM ir WHERE rank <= 3)"""

  /** Multi-probe LSH search ([[VecOps.annMultiProbeTopK]]): each query
    * probes its own bucket and every bucket XOR one bit, exact dots.
    * Ends with `lr(qid, nid, d, rank)`. */
  private val mpRankCtes: String = s"""
        ${hpSigCtes(64)},
        probes AS (SELECT s.vec_id, s.embedding,
                          CASE f.f WHEN 0 THEN s.bucket ELSE xor(s.bucket, (1 << (f.f - 1))) END AS bucket
                   FROM sig s, range(5) f(f)),
        lp AS (SELECT a.vec_id AS qid, b.vec_id AS nid, $duckDot AS d
               FROM probes a JOIN sig b ON a.bucket = b.bucket AND a.vec_id <> b.vec_id),
        lr AS (SELECT qid, nid, d,
                      row_number() OVER (PARTITION BY qid ORDER BY d DESC, nid) AS rank
               FROM lp)"""

  private val mpIdxCtes: String = s"$mpRankCtes,${sampledTop3Idx("lr")}"

  private val pqIdxCtes: String = s"""
        ${pqRankCtes("embeddings", sampleWhere)},
        idx AS (SELECT qid, nid, rank AS pos FROM pr WHERE rank <= 3)"""

  /** int8-quantized search ([[VecOps.annInt8TopK]]): LSH buckets
    * reranked by the integer dot of round(x·127) vectors; `sample`
    * narrows the query side ("" = all queries). Ends with
    * `ir(qid, nid, score, rank)`. */
  private def int8RankCtes(sample: String): String = s"""
        ${hpSigCtes(64)},
        q8 AS (SELECT vec_id, bucket,
                      list_transform(embedding, x -> CAST(round(x::DOUBLE * 127) AS INT)) AS q
               FROM sig),
        p AS (SELECT a.vec_id AS qid, b.vec_id AS nid,
                     CAST(list_sum(list_transform(range(1, 65),
                       i -> CAST(a.q[i] AS BIGINT) * b.q[i])) AS BIGINT) AS score
              FROM q8 a JOIN q8 b ON a.bucket = b.bucket AND a.vec_id <> b.vec_id
              $sample),
        ir AS (SELECT qid, nid, score,
                      row_number() OVER (PARTITION BY qid ORDER BY score DESC, nid) AS rank
               FROM p)"""

  private val int8IdxCtes: String = s"""
        ${int8RankCtes(sampleWhere)},
        idx AS (SELECT qid, nid, rank AS pos FROM ir WHERE rank <= 3)"""

  private val opqIdxCtes: String = s"""
        $opqRotCtes,
        ${pqRankCtes("emb2", sampleWhere)},
        idx AS (SELECT qid, nid, rank AS pos FROM pr WHERE rank <= 3)"""

  /** Matryoshka two-stage search ([[VecOps.matryoshkaTopK]]): 16-dim
    * prefix buckets and an 8-row prefix-dot shortlist, then the full
    * 64-dim rerank; `sample` narrows the query side ("" = all queries).
    * Ends with `mr(qid, nid, d, rank)`. */
  private def matRankCtes(sample: String): String = s"""
        ${hpSigCtes(16)},
        cand AS (SELECT a.vec_id AS qid, a.embedding AS qe,
                        b.vec_id AS nid, b.embedding AS ne,
                        list_sum(list_transform(range(1, 17),
                          i -> a.embedding[i]::DOUBLE * b.embedding[i]::DOUBLE)) AS d16
                 FROM sig a JOIN sig b ON a.bucket = b.bucket AND a.vec_id <> b.vec_id
                 $sample),
        short AS (SELECT qid, nid, qe, ne,
                         row_number() OVER (PARTITION BY qid ORDER BY d16 DESC, nid) AS r16
                  FROM cand),
        scored AS (SELECT qid, nid,
                          list_sum(list_transform(range(1, 65),
                            i -> qe[i]::DOUBLE * ne[i]::DOUBLE)) AS d
                   FROM short WHERE r16 <= 8),
        mr AS (SELECT qid, nid, d,
                      row_number() OVER (PARTITION BY qid ORDER BY d DESC, nid) AS rank
               FROM scored)"""

  private val matIdxCtes: String = s"""
        ${matRankCtes(sampleWhere)},
        idx AS (SELECT qid, nid, rank AS pos FROM mr WHERE rank <= 3)"""

  /** DuckDB CTEs mirroring [[VecOps.ivfHierTopK]] at the graded
    * fprobes = 2 dial over the shared lloyd2/hierAssign blocks: qf (the
    * 2 best fine cells per query), sc (candidates in those cells). Ends
    * with `hr(qid, nid, d, rank)`. */
  private lazy val hierCoreCtes: String = s"""
        $lloyd2Ctes,
        $hierAssignCtes,
        qf AS (
          SELECT vec_id AS qid, embedding AS qe, cid FROM (
            SELECT v.vec_id, v.embedding, f.cid,
                   row_number() OVER (PARTITION BY v.vec_id ORDER BY
                     list_sum(list_transform(range(1, 65),
                       i -> v.embedding[i]::DOUBLE * f.ce[i]::DOUBLE)) DESC, f.cid) AS fr
            FROM vp v JOIN f2g f ON v.gid = f.gid)
          WHERE fr <= 2),
        sc AS (
          SELECT q.qid, a.vec_id AS nid,
                 list_sum(list_transform(range(1, 65),
                   i -> q.qe[i]::DOUBLE * a.embedding[i]::DOUBLE)) AS d
          FROM qf q JOIN assigned a ON q.cid = a.cid AND q.qid <> a.vec_id),
        hr AS (SELECT qid, nid, d,
                      row_number() OVER (PARTITION BY qid ORDER BY d DESC, nid) AS rank
               FROM sc)"""

  private lazy val hierIdxCtes: String = s"$hierCoreCtes,${sampledTop3Idx("hr")}"

  /** DuckDB CTEs mirroring [[VecOps.ivfHierRefineTopK]] (fprobes = 2,
    * shortlist = 16, mDims = 32) stage-for-stage over the shared
    * lloyd2/hierAssign blocks: qf (2 best fine cells per query, as in
    * ivf_hier), sl (the 32-dim-prefix prescore shortlist — row_number
    * on (prefix-dot DESC, nid) ≡ the bounded heap's total order),
    * rx/rr (full-precision re-rank of shortlist pairs only). Ends with
    * `rr(qid, nid, d, rank)` — the relation the rung's three consumers
    * slice. Knobs are part of the oracle contract: change them in
    * hierRefineTop3Shared and here together or not at all. */
  private lazy val hierRefineCoreCtes: String = s"""
        $lloyd2Ctes,
        $hierAssignCtes,
        qf AS (
          SELECT vec_id AS qid, embedding AS qe, cid FROM (
            SELECT v.vec_id, v.embedding, f.cid,
                   row_number() OVER (PARTITION BY v.vec_id ORDER BY
                     list_sum(list_transform(range(1, 65),
                       i -> v.embedding[i]::DOUBLE * f.ce[i]::DOUBLE)) DESC, f.cid) AS fr
            FROM vp v JOIN f2g f ON v.gid = f.gid)
          WHERE fr <= 2),
        sl AS (
          SELECT qid, nid FROM (
            SELECT q.qid, a.vec_id AS nid,
                   row_number() OVER (PARTITION BY q.qid ORDER BY
                     list_sum(list_transform(range(1, 33),
                       i -> q.qe[i]::DOUBLE * a.embedding[i]::DOUBLE)) DESC, a.vec_id) AS sr
            FROM qf q JOIN assigned a ON q.cid = a.cid AND q.qid <> a.vec_id)
          WHERE sr <= 16),
        rx AS (
          SELECT s.qid, s.nid,
                 list_sum(list_transform(range(1, 65),
                   i -> qa.embedding[i]::DOUBLE * na.embedding[i]::DOUBLE)) AS d
          FROM sl s JOIN embeddings qa ON s.qid = qa.vec_id
                    JOIN embeddings na ON s.nid = na.vec_id),
        rr AS (SELECT qid, nid, d,
                      row_number() OVER (PARTITION BY qid ORDER BY d DESC, nid) AS rank
               FROM rx)"""

  /** DuckDB CTEs mirroring [[VecOps.ivfPqEncode]] (lists=16)
    * stage-for-stage, ending in `rassign(vec_id, s, rcid, x, cw, crank)`
    * — the per-subspace residual codeword ranking whose `crank = 1` rows
    * ivfpq_reconstruction_error reads. Residual arithmetic is CAST AS
    * FLOAT (double-compute + round-to-float of float operands ≡ float
    * ops — the 2p+2 theorem), so residuals match Spark bit-for-bit. */
  private val ivfpqEncCtes: String = """
        seeds AS (
          SELECT vec_id AS cid, embedding AS ce
          FROM embeddings
          ORDER BY ('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 15))::BIGINT, vec_id
          LIMIT 16),
        ranked AS (
          SELECT a.vec_id, a.embedding, b.cid, b.ce,
                 row_number() OVER (PARTITION BY a.vec_id ORDER BY
                   list_sum(list_transform(range(1, 65),
                     i -> a.embedding[i]::DOUBLE * b.ce[i]::DOUBLE)) DESC, b.cid) AS crank
          FROM embeddings a JOIN seeds b ON true),
        asg AS (SELECT vec_id, embedding, cid, ce,
                       list_transform(range(1, 65),
                         i -> CAST(embedding[i] - ce[i] AS FLOAT)) AS res
                FROM ranked WHERE crank = 1),
        rseeds AS (SELECT vec_id AS rcid, res AS rce FROM asg
                   WHERE vec_id NOT IN (SELECT cid FROM seeds)
                   ORDER BY ('0x' || substr(md5('rs' || CAST(vec_id AS VARCHAR)), 1, 15))::BIGINT,
                            vec_id
                   LIMIT 8),
        rcb AS (SELECT s.s, rcid, rce[s.s * 16 + 1 : s.s * 16 + 16] AS cw
                FROM rseeds, range(4) s(s)),
        rxs AS (SELECT vec_id, s.s, res[s.s * 16 + 1 : s.s * 16 + 16] AS x
                FROM asg, range(4) s(s)),
        rassign AS (
          SELECT x.vec_id, x.s, c.rcid, x.x, c.cw,
                 row_number() OVER (PARTITION BY x.vec_id, x.s ORDER BY
                   (list_sum(list_transform(range(1, 17), i -> x.x[i]::DOUBLE * c.cw[i]::DOUBLE))
                    - 0.5 * list_sum(list_transform(range(1, 17), i -> c.cw[i]::DOUBLE * c.cw[i]::DOUBLE)))
                   DESC, c.rcid) AS crank
          FROM rxs x JOIN rcb c ON x.s = c.s)"""

  // (the flat fixed-lists ivfpq search CTEs retired round 16 with the
  // ann_ivfpq re-platform — ivfpqEncCtes stays: the reconstruction-error
  // query still grades the flat ENCODE stage, which is linear)

  /** Shortlist-then-refine CTEs mirroring [[VecOps.annRefineTopK]]
    * (planes=4, shortlist=10): int8 bucket rerank → top-10 cut → exact
    * float re-score, ending in `rr(qid, nid, d, rank)`. `sample` narrows
    * the query side for the recall/NDCG lenses ("" = all queries). */
  private def refineCoreCtes(sample: String): String = s"""
        ${hpSigCtes(64)},
        q8 AS (SELECT vec_id, bucket,
                      list_transform(embedding, x -> CAST(round(x::DOUBLE * 127) AS INT)) AS q
               FROM sig),
        ip AS (SELECT a.vec_id AS qid, b.vec_id AS nid,
                      CAST(list_sum(list_transform(range(1, 65),
                        i -> CAST(a.q[i] AS BIGINT) * b.q[i])) AS BIGINT) AS iscore
               FROM q8 a JOIN q8 b ON a.bucket = b.bucket AND a.vec_id <> b.vec_id
               $sample),
        sl AS (SELECT qid, nid FROM (
                 SELECT qid, nid,
                        row_number() OVER (PARTITION BY qid ORDER BY iscore DESC, nid) AS r
                 FROM ip) WHERE r <= 10),
        rx AS (SELECT sl.qid, sl.nid, $duckDot AS d
               FROM sl JOIN embeddings a ON a.vec_id = sl.qid
                       JOIN embeddings b ON b.vec_id = sl.nid),
        rr AS (SELECT qid, nid, d,
                      row_number() OVER (PARTITION BY qid ORDER BY d DESC, nid) AS rank
               FROM rx)"""

  private val refineIdxCtes: String = s"""
        ${refineCoreCtes(sampleWhere)},
        idx AS (SELECT qid, nid, rank AS pos FROM rr WHERE rank <= 3)"""

  /** Hier search CTEs at the WIDE fine-probe dial (fprobes = 3) — the
    * round-16 re-platform target for the ivf_ann family (VERDICT r15
    * #1): identical stage list to ivf_hier_topk's oracle except the
    * query-side fine cut keeps THREE cells (`fr <= 3`). Suffixed so the
    * names can never collide with the 2-probe block. Ends
    * `h3r(qid, nid, d, rank)`. */
  private lazy val hierF3CoreCtes: String = s"""
        $lloyd2Ctes,
        $hierAssignCtes,
        qf3 AS (
          SELECT vec_id AS qid, embedding AS qe, cid FROM (
            SELECT v.vec_id, v.embedding, f.cid,
                   row_number() OVER (PARTITION BY v.vec_id ORDER BY
                     list_sum(list_transform(range(1, 65),
                       i -> v.embedding[i]::DOUBLE * f.ce[i]::DOUBLE)) DESC, f.cid) AS fr
            FROM vp v JOIN f2g f ON v.gid = f.gid)
          WHERE fr <= 3),
        sc3 AS (
          SELECT q.qid, a.vec_id AS nid,
                 list_sum(list_transform(range(1, 65),
                   i -> q.qe[i]::DOUBLE * a.embedding[i]::DOUBLE)) AS d
          FROM qf3 q JOIN assigned a ON q.cid = a.cid AND q.qid <> a.vec_id),
        h3r AS (SELECT qid, nid, d,
                       row_number() OVER (PARTITION BY qid ORDER BY d DESC, nid) AS rank
                FROM sc3)"""

  private lazy val hierF3IdxCtes: String = s"$hierF3CoreCtes,${sampledTop3Idx("h3r")}"

  /** DuckDB CTEs mirroring [[VecOps.ivfPqHierTopK]] over the shared
    * scaled-k Lloyd table, ending in `hr(qid, nid, d, rank)` — sliced by
    * the three hierarchical-residual consumers at `fprobes` = 2 and,
    * since round 16, the re-platformed ann_ivfpq family at the wide
    * fprobes = 3 dial (the only parameterized line is the query-side
    * `fr <=` cut). */
  private def ivfpqHierCtes(fprobes: Int): String = s"""
        $lloyd2Ctes,
        $hierAssignCtes,
        hres AS (
          SELECT a.vec_id, a.cid,
                 list_transform(range(1, 65), i -> CAST(c.ce[i] AS FLOAT)) AS fce,
                 list_transform(range(1, 65),
                   i -> CAST(a.embedding[i] - CAST(c.ce[i] AS FLOAT) AS FLOAT)) AS res
          FROM assigned a JOIN c2 c ON a.cid = c.cid),
        hseeds AS (SELECT vec_id AS rcid, res AS rce FROM hres
                   ORDER BY ('0x' || substr(md5('rs' || CAST(vec_id AS VARCHAR)), 1, 15))::BIGINT,
                            vec_id
                   LIMIT 8),
        hcb AS (SELECT s.s, rcid, rce[s.s * 16 + 1 : s.s * 16 + 16] AS cw
                FROM hseeds, range(4) s(s)),
        hxs AS (SELECT vec_id, s.s, res[s.s * 16 + 1 : s.s * 16 + 16] AS x
                FROM hres, range(4) s(s)),
        hasg AS (
          SELECT x.vec_id, x.s, c.cw,
                 row_number() OVER (PARTITION BY x.vec_id, x.s ORDER BY
                   (list_sum(list_transform(range(1, 17), i -> x.x[i]::DOUBLE * c.cw[i]::DOUBLE))
                    - 0.5 * list_sum(list_transform(range(1, 17), i -> c.cw[i]::DOUBLE * c.cw[i]::DOUBLE)))
                   DESC, c.rcid) AS crank
          FROM hxs x JOIN hcb c ON x.s = c.s),
        hrrec AS (SELECT vec_id, flatten(list(cw ORDER BY s)) AS rrec
                  FROM hasg WHERE crank = 1
                  GROUP BY vec_id),
        hrecon AS (SELECT h.vec_id AS nid, h.cid,
                          list_transform(range(1, 65),
                            i -> CAST(h.fce[i] + r.rrec[i] AS FLOAT)) AS recon
                   FROM hres h JOIN hrrec r ON h.vec_id = r.vec_id),
        qf AS (
          SELECT vec_id AS qid, embedding AS qe, cid FROM (
            SELECT v.vec_id, v.embedding, f.cid,
                   row_number() OVER (PARTITION BY v.vec_id ORDER BY
                     list_sum(list_transform(range(1, 65),
                       i -> v.embedding[i]::DOUBLE * f.ce[i]::DOUBLE)) DESC, f.cid) AS fr
            FROM vp v JOIN f2g f ON v.gid = f.gid)
          WHERE fr <= $fprobes),
        hsc AS (
          SELECT q.qid, h.nid,
                 list_sum(list_transform(range(1, 65),
                   i -> q.qe[i]::DOUBLE * h.recon[i]::DOUBLE)) AS d
          FROM qf q JOIN hrecon h ON q.cid = h.cid AND q.qid <> h.nid),
        hr AS (SELECT qid, nid, d,
                      row_number() OVER (PARTITION BY qid ORDER BY d DESC, nid) AS rank
               FROM hsc)"""

  private lazy val ivfpqIdxCtes: String = s"${ivfpqHierCtes(3)},${sampledTop3Idx("hr")}"

  private lazy val ivfpqHierIdxCtes: String = s"${ivfpqHierCtes(2)},${sampledTop3Idx("hr")}"

  private lazy val hierRefineIdxCtes: String = s"$hierRefineCoreCtes,${sampledTop3Idx("rr")}"

  /** One graded ANN index family: `ann_recall_<suffix>` and
    * `ann_ndcg_<suffix>` both read `top3`, the family's session-shared
    * top-3 relation, and both oracles replay `idxCtes`, which ends with
    * `idx(qid, nid, pos)` over the 25% md5 query sample. `why` says
    * what the lens pair prices for this family. */
  private final case class AnnFamily(suffix: String,
      top3: (DataFrame, String) => DataFrame, idxCtes: String, why: String)

  private val annFamilies: Seq[AnnFamily] = Seq(
    AnnFamily("lsh", VecOps.lshTop3Shared, lshIdxCtes,
      "one table of hyperplane buckets, exact-dot rerank: the baseline rung"),
    AnnFamily("ivf", VecOps.hier3Top3Shared, hierF3IdxCtes,
      "hier search at fprobes = 3: probes a superset of hier's cells, so never recalls less"),
    AnnFamily("hier", VecOps.hierTop3Shared, hierIdxCtes,
      "hier search at fprobes = 2: loses a neighbor whose cell's anchor is not probed"),
    AnnFamily("int8", VecOps.int8Top3Shared, int8IdxCtes,
      "LSH buckets ranked by the int8 dot: what 4x compression costs"),
    AnnFamily("binary", VecOps.binaryTop3Shared, binIdxCtes,
      "LSH buckets ranked by sign-bit Hamming: the 1-bit, tie-heavy rung"),
    AnnFamily("multiprobe", VecOps.multiprobeTop3Shared, mpIdxCtes,
      "own bucket plus its Hamming-1 buckets: recall bought by probing, not tables"),
    AnnFamily("pq", VecOps.pqTop3Shared, pqIdxCtes,
      "4x8-codeword reconstructions, asymmetric rerank: recall vs compression"),
    AnnFamily("opq", VecOps.opqTop3Shared, opqIdxCtes,
      "PQ after a signed coordinate permutation: does decorrelation beat PQ"),
    AnnFamily("matryoshka", VecOps.matryoshkaTop3Shared, matIdxCtes,
      "16-dim prefix shortlist of 8, full rerank: truth lost before the rerank"),
    AnnFamily("ivfpq", VecOps.ivfpqF3Top3Shared, ivfpqIdxCtes,
      "hier residual PQ at fprobes = 3: the wide-probe residual rung"),
    AnnFamily("refine", VecOps.refineTop3Shared, refineIdxCtes,
      "int8's top-10 reranked exactly: same candidates, so never recalls less"),
    AnnFamily("ivfpq_hier", VecOps.ivfpqHierTop3Shared, ivfpqHierIdxCtes,
      "hier residual PQ at fprobes = 2: the rung whose lists grow with n"),
    AnnFamily("hier_refine", VecOps.hierRefineTop3Shared, hierRefineIdxCtes,
      "hier search, 32-dim prefix shortlist of 16, exact rerank: rescore bound"))

  val all: Seq[Reg] = Seq(

    // ---- embedding hygiene validation (norms ≈ 1) -----------------------
    // Ingest-time sanity for a vector store: per-vector squared L2 norm
    // via the codegen self-dot, graded on the corpus summary. Zero
    // shuffles before the single-row aggregate; the per-row norm is the
    // identical index-ordered IEEE sum on both engines, so the rounded
    // min/max hash-match exactly.
    Reg("embedding_norm_check",
      (s, dir) => {
        graft.functions.DotF32.register(s)
        Tables(s, dir).embeddings
          .withColumn("norm2", expr("dot_f32(embedding, embedding)"))
          .agg(
            count(lit(1)).as("n_vectors"),
            count(when(abs(col("norm2") - 1.0) < 0.001, 1)).as("n_unit_norm"),
            round(min(col("norm2")), 6).as("min_norm2"),
            round(max(col("norm2")), 6).as("max_norm2"))
      },
      Some("""
        WITH n AS (SELECT vec_id,
                     list_sum(list_transform(range(1, 65),
                       i -> embedding[i]::DOUBLE * embedding[i]::DOUBLE)) AS norm2
                   FROM embeddings)
        SELECT count(*) AS n_vectors,
               count(*) FILTER (abs(norm2 - 1.0) < 0.001) AS n_unit_norm,
               round(min(norm2), 6) AS min_norm2,
               round(max(norm2), 6) AS max_norm2
        FROM n
      """)),

    // ---- brute-force cosine top-5 (the honest quadratic baseline) -------
    // Round-5: measured on the deterministic 25% md5 query sample (the
    // recall family's move) — per-query semantics are unchanged (each
    // sampled query still scores the FULL corpus); |sample|·n is the only
    // quadratic anyone runs at 100 TB. Round-7: the sampled brute pass is
    // derived ONCE per session via bruteTop5Shared and reused by the 26
    // ANN lenses (recall@3 and NDCG@3 of 13 families) — one quadratic
    // job instead of 27.
    Reg("cosine_topk_brute",
      (s, dir) =>
        VecOps.bruteTop5Shared(Tables(s, dir).embeddings, dir)
          .select(col("qid"), col("rank"), col("nid"), round(col("score"), 4).as("score"))
          .orderBy("qid", "rank"),
      Some(s"""
        WITH $bruteSampleCtes
        SELECT qid, rank, nid, round(d, 4) AS score
        FROM br WHERE rank <= 5
        ORDER BY qid, rank
      """)),

    // ---- ANN: random-hyperplane LSH bucket + in-bucket top-3 ------------
    // Oracle mirrors the LSH exactly (md5-derived hyperplanes), so the
    // hash-match is independent of LSH recall.
    Reg("ann_lsh_topk",
      (s, dir) => VecOps.lshTop3Shared(Tables(s, dir).embeddings, dir)
        .select(col("qid"), col("rank"), col("nid"), round(col("score"), 4).as("score"))
        .orderBy("qid", "rank"),
      Some(s"""
        WITH $lshRankCtes
        SELECT qid, rank, nid, round(d, 4) AS score
        FROM lr WHERE rank <= 3
        ORDER BY qid, rank
      """)),

    // ---- persisted ANN index lifecycle (round-9, VERDICT r8 #3) ---------
    // A 100 TB pipeline builds the ANN index ONCE to storage and serves
    // many query batches from it — this query grades that lifecycle, not
    // a new algorithm: the LSH signature pass runs once, the index
    // (vec_id, embedding, bucket) is WRITTEN as a bucket-partitioned
    // parquet dataset, and top-k is answered exclusively from the
    // RE-READ index — the bucket equi-join runs over the reloaded store,
    // where the partition layout means a single-bucket probe is a
    // partition-pruned scan (the partitioned_scan_agg argument applied
    // to vectors). Results deliberately equal ann_lsh_topk (persistence
    // is semantically identity), so the oracle is that query's SQL — the
    // graded delta is that the answer survived the write/reload
    // round-trip with schema, bucket keys, and scores intact. Store
    // discipline: scratch keyed on fixture identity, wiped per
    // invocation (incremental_candles_store pattern) — the graded result
    // never depends on a previous run's store.
    Reg("ann_persisted_index_topk",
      (s, dir) => {
        graft.functions.DotF32.register(s)
        val src = java.nio.file.Paths.get(dir, "embeddings.parquet")
        val key = graft.sources.Fixtures.md5Hex(dir + "|" +
          java.nio.file.Files.getLastModifiedTime(src).toMillis + "|" +
          java.nio.file.Files.size(src))
        val store = java.nio.file.Paths.get(s"/dev/shm/graft-annidx/$key")
        graft.sources.Fixtures.delete(store)
        VecOps.lshBucket(Tables(s, dir).embeddings, planes = 4)
          .select(col("vec_id"), col("embedding"), col("bucket"))
          .write.partitionBy("bucket").parquet(store.toString)
        val idx = s.read.parquet(store.toString)
        val q = idx.select(col("vec_id").as("qid"),
          col("embedding").as("qe"), col("bucket"))
        val n = idx.select(col("vec_id").as("nid"),
          col("embedding").as("ne"), col("bucket"))
        val scores = q.join(n, "bucket").filter(col("qid") =!= col("nid"))
          .withColumn("score", expr("dot_f32(qe, ne)"))
          .select("qid", "nid", "score")
        VecOps.topK(scores, 3)
          .select(col("qid"), col("rank"), col("nid"),
            round(col("score"), 4).as("score"))
          .orderBy("qid", "rank")
      },
      Some(s"""
        WITH $lshRankCtes
        SELECT qid, rank, nid, round(d, 4) AS score
        FROM lr WHERE rank <= 3
        ORDER BY qid, rank
      """)),

    // ---- array-function surface over embeddings (§2.8): sort/slice/fold -
    // Raw doubles are exact cross-engine here: abs(float32→double) and
    // sorting are bit-exact, and the l2 fold is index-ordered on both
    // sides (rounded only because it is a sum).
    Reg("array_funcs_embeddings",
      (s, dir) => Tables(s, dir).embeddings
        .select(col("vec_id"),
          round(expr(
            """aggregate(transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)),
               CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)"""), 4).as("l2sq"),
          expr("element_at(reverse(array_sort(transform(embedding, x -> abs(CAST(x AS DOUBLE))))), 1)").as("a1"),
          expr("element_at(reverse(array_sort(transform(embedding, x -> abs(CAST(x AS DOUBLE))))), 2)").as("a2"),
          expr("element_at(reverse(array_sort(transform(embedding, x -> abs(CAST(x AS DOUBLE))))), 3)").as("a3"))
        .orderBy("vec_id"),
      Some("""
        SELECT vec_id,
               round(list_sum(list_transform(embedding, x -> x::DOUBLE * x::DOUBLE)), 4) AS l2sq,
               list_reverse_sort(list_transform(embedding, x -> abs(x::DOUBLE)))[1] AS a1,
               list_reverse_sort(list_transform(embedding, x -> abs(x::DOUBLE)))[2] AS a2,
               list_reverse_sort(list_transform(embedding, x -> abs(x::DOUBLE)))[3] AS a3
        FROM embeddings ORDER BY vec_id
      """)),

    // ---- multi-probe LSH ANN: own bucket + all Hamming-1 buckets --------
    // Oracle mirrors the probe enumeration (bucket XOR each bit), so the
    // hash-match is recall-independent as with every bucketed query.
    Reg("ann_multiprobe_topk",
      (s, dir) => VecOps.multiprobeTop3Shared(Tables(s, dir).embeddings, dir)
        .select(col("qid"), col("rank"), col("nid"), round(col("score"), 4).as("score"))
        .orderBy("qid", "rank"),
      Some(s"""
        WITH $mpRankCtes
        SELECT qid, rank, nid, round(d, 4) AS score
        FROM lr WHERE rank <= 3
        ORDER BY qid, rank
      """)),

    // ---- IVF ANN, WIDE fine probing (round 16, VERDICT r15 #1) ----------
    // Re-platformed off the fixed-lists flat IVF (16 md5-seeded cells,
    // 2 probes — the documented quadratic: with FIXED lists the
    // probed-cell candidate join is n²·probes/lists, 79× measured across
    // one ScaleDemo decade; that form is retired, its readings stay in
    // BASELINE.md) onto the scaled-k hierarchical search, grading the
    // FINE-probe width dial: fprobes = 3 best fine cells per query vs
    // ivf_hier_topk's 2 (ivf_lloyd2_topk grades the COARSE twin dial at
    // probes = 3). Recall dominates ann_recall_hier's by construction —
    // the probed cells are a superset — and the family's lenses price
    // exactly that trade (3/2× candidate volume). Three consumers slice
    // the session-shared top-3 relation (hier3Top3Shared).
    Reg("ivf_ann_topk",
      (s, dir) => VecOps.hier3Top3Shared(Tables(s, dir).embeddings, dir)
        .select(col("qid"), col("rank"), col("nid"), round(col("score"), 4).as("score"))
        .orderBy("qid", "rank"),
      Some(s"""
        WITH $hierF3CoreCtes
        SELECT qid, rank, nid, round(d, 4) AS score
        FROM h3r WHERE rank <= 3
        ORDER BY qid, rank
      """)),

    // ---- int8-quantized ANN: the vector-store compression path ----------
    // Same LSH bucketing as ann_lsh_topk, but candidates are ranked by
    // the INTEGER dot of round(x·127) vectors — 4× smaller storage, and
    // the score column is BIGINT arithmetic, hash-exact by construction
    // (float divergence cannot exist). Rank ties broken by nid on both
    // engines; quantized ties are more common than float ties, so the
    // tiebreak is load-bearing here.
    Reg("ann_int8_topk",
      (s, dir) => VecOps.int8Top3Shared(Tables(s, dir).embeddings, dir)
        .select(col("qid"), col("rank"), col("nid"), col("score"))
        .orderBy("qid", "rank"),
      Some(s"""
        WITH ${int8RankCtes("")}
        SELECT qid, rank, nid, score
        FROM ir WHERE rank <= 3
        ORDER BY qid, rank
      """)),

    // ---- binary-quantized ANN: the 1-bit compression rung ---------------
    // LSH bucket candidates reranked by Hamming similarity over sign-bit
    // fingerprints (one BIGINT per vector, 256× smaller than float32).
    // Integer end to end — score hash-exact by construction; the nid
    // tiebreak is load-bearing (1-bit ties are pervasive).
    Reg("ann_binary_topk",
      (s, dir) => VecOps.binaryTop3Shared(Tables(s, dir).embeddings, dir)
        .select(col("qid"), col("rank"), col("nid"), col("score"))
        .orderBy("qid", "rank"),
      Some(s"""
        WITH ${binRankCtes("")}
        SELECT qid, rank, nid, score
        FROM ir WHERE rank <= 3
        ORDER BY qid, rank
      """)),

    // ---- product-quantization ANN: asymmetric-distance ranking ----------
    // The last rung of the compression ladder (LSH float → int8 → PQ):
    // 4 subspaces × 8 codewords (codebook = slices of the md5-seeded
    // vectors), vectors encoded as 4 codes, candidates from the LSH
    // bucket ranked by full-precision-query × reconstruction. Codes match
    // cross-engine because assignment maximizes dot(x_s, cw) − ‖cw‖²/2
    // with BOTH dots index-ordered (identical IEEE op sequence);
    // assignment and rank ties break on id.
    Reg("ann_pq_topk",
      (s, dir) => VecOps.pqTop3Shared(Tables(s, dir).embeddings, dir)
        .select(col("qid"), col("rank"), col("nid"), round(col("score"), 4).as("score"))
        .orderBy("qid", "rank"),
      Some(pqOracleSql("", "embeddings"))),

    // ---- OPQ-lite PQ ANN: rotate, then product-quantize -----------------
    // The Optimized-PQ idea at the determinism-preserving end: a SIGNED
    // COORDINATE PERMUTATION (orthonormal ⇒ dots, rankings, and the
    // result contract are exactly preserved) decorrelates the subspace
    // slices the codebook sees before the identical PQ pipeline runs.
    // perm/sgn derive from md5 constants; the oracle rebuilds them and
    // replays the whole rotated pipeline — same hash-exact grading as
    // ann_pq_topk, zero tolerance.
    Reg("ann_opq_topk",
      // localCheckpoint the rotated relation: the 64-term rotation
      // projection otherwise re-evaluates in every pipeline branch the
      // PQ plan references it from — measured 3.1 → 1.5 s at sf0.1
      // (values are bit-identical; the checkpoint only materializes)
      (s, dir) => VecOps.opqTop3Shared(Tables(s, dir).embeddings, dir)
        .select(col("qid"), col("rank"), col("nid"), round(col("score"), 4).as("score"))
        .orderBy("qid", "rank"),
      Some(pqOracleSql(s"$opqRotCtes,", "emb2"))),

    // ---- IVF ANN over the 2-iteration Lloyd build -----------------------
    // The distributed k-means build graded end to end: the shared
    // two-level (coarse → local) scaled-k build with means SNAPPED to
    // the 1e-4 grid (the integer-scaled vwap pattern — raw float means
    // are summation-order sensitive, snapped ones only at a round()
    // boundary). The oracle replays the build exactly, so the hash-match
    // is independent of k-means quality. Search side is hierarchical
    // since round 14 (see ivf_lloyd2_topk below).
    // ---- simplified silhouette over the shared Lloyd clustering ---------
    // The clustering-evaluation rung beside ivf_cell_balance (which
    // watches SIZES, not separation): per-cluster cohesion via the
    // simplified silhouette (Hruschka et al., public) — distances to
    // CENTROIDS only, never member pairs, which is what makes silhouette
    // computable at 100 TB. Round 13 (VERDICT r12 #2): the centroid
    // distances route through the HIERARCHICAL candidate stage (2-probe
    // coarse → fine centroids in probed cells, n·√k·3 dots), retiring
    // this query's flat crossJoin(broadcast(cent)) — the last O(n·k)
    // assignment-shaped pass with k ∝ n. d1/d2 are the top-2 candidate
    // dots via the bounded heap ((cd DESC, cid ASC) ≡ the oracle's
    // row_number cut); own cluster = the argmax cid, exactly hierAssign's
    // assignment, so membership agrees with the semdedup family. b (best
    // OTHER centroid) is now best-other-WITHIN-PROBED-CELLS — the same
    // probe approximation the assignment itself makes; a vector whose
    // probed cells hold only one fine centroid has no separation term
    // and drops from the stat (mirrored: oracle t2 is an inner join).
    // With L2-normalized vectors and cosine distance d = 1 − dot:
    // s = (dot₁ − dot₂)/(1 − dot₂), rounded to micros per vector then
    // integer-aggregated per cluster. Reuses the session-shared 2-iter
    // hierarchical Lloyd centroids (same build the IVF/SemDeDup family
    // grades against).
    Reg("silhouette_simplified",
      (s, dir) => {
        graft.functions.DotF32.register(s)
        val emb = Tables(s, dir).embeddings
        // d2 == 1.0 exactly ⇒ zero denominator; Spark would cast the
        // resulting Inf/NaN while DuckDB errors on the cast — sentinel 0
        // on BOTH sides (the pearson/ccf zero-variance discipline).
        VecOps.hierCandidates(emb, VecOps.hierIndexShared(emb, dir))
          .groupBy(col("vec_id"))
          .agg(VecOps.heapCol(s, col("cd"), col("cid"), 2).as("top"))
          .filter(size(col("top")) === 2)
          .select(col("vec_id"), expr("top[0].id").as("cid"),
            expr("top[0].score").as("d1"), expr("top[1].score").as("d2"))
          .withColumn("s_um", expr(
            """CASE WHEN d2 >= CAST(1 AS DOUBLE) THEN CAST(0 AS BIGINT)
               ELSE CAST(round((d1 - d2) / (CAST(1 AS DOUBLE) - d2)
               * CAST(1000000 AS DOUBLE)) AS BIGINT) END"""))
          .groupBy(col("cid"))
          .agg(count(lit(1)).as("n_members"), sum(col("s_um")).as("s_sum"),
            min(col("s_um")).as("s_min_um"))
          .select(col("cid"), col("n_members"),
            expr("""CAST(round(CAST(s_sum AS DOUBLE)
                    / CAST(n_members AS DOUBLE)) AS BIGINT)""").as("s_mean_um"),
            col("s_min_um"))
          .orderBy("cid")
      },
      Some(s"""
        WITH $lloyd2Ctes,
        $hierAssignCtes,
        ranked AS (
          SELECT v.vec_id, f.cid,
                 list_sum(list_transform(range(1, 65),
                   i -> v.embedding[i]::DOUBLE * f.ce[i]::DOUBLE)) AS cd,
                 row_number() OVER (PARTITION BY v.vec_id ORDER BY
                   list_sum(list_transform(range(1, 65),
                     i -> v.embedding[i]::DOUBLE * f.ce[i]::DOUBLE)) DESC, f.cid) AS crank
          FROM vp v JOIN f2g f ON v.gid = f.gid),
        t1 AS (SELECT vec_id, cid, cd AS d1 FROM ranked WHERE crank = 1),
        t2 AS (SELECT vec_id, cd AS d2 FROM ranked WHERE crank = 2),
        sil AS (SELECT t1.cid,
                       CASE WHEN t2.d2 >= CAST(1 AS DOUBLE) THEN CAST(0 AS BIGINT)
                       ELSE CAST(round((t1.d1 - t2.d2) / (CAST(1 AS DOUBLE) - t2.d2)
                         * CAST(1000000 AS DOUBLE)) AS BIGINT) END AS s_um
                FROM t1 JOIN t2 ON t1.vec_id = t2.vec_id)
        SELECT cid, count(*) AS n_members,
               CAST(round(CAST(sum(s_um) AS DOUBLE)
                 / CAST(count(*) AS DOUBLE)) AS BIGINT) AS s_mean_um,
               CAST(min(s_um) AS BIGINT) AS s_min_um
        FROM sil GROUP BY 1 ORDER BY cid
      """)),

    // ---- Lloyd-refined IVF search, WIDE coarse routing (round 14) -------
    // Round 14 (VERDICT r13 #1): this query's flat probe —
    // crossJoin(broadcast(c2)) + an n·k rank window over the k ∝ n
    // centroid table — was the LAST graded plan in the flat O(n·k)
    // window class (measured 56.35 s at 100× while the hier sibling read
    // 7.8 s; at 1000× the 3.1×10¹⁰-candidate window is the refusal
    // arithmetic BASELINE.md records for the retired build). It now
    // routes through the SAME hierCandidates machinery as ivf_hier_topk
    // (silhouette's round-13 re-platform precedent) but grades the
    // probes = 3 point of the coarse-routing dial: three coarse anchors
    // instead of two on BOTH the neighbor assignment and the query side,
    // buying back part of the recall the flat ranking had (a vector's
    // cell can differ from flat argmax only when its true nearest
    // centroid's anchor is outside the probed set — probes is exactly
    // that dial). Distinct accuracy point from ivf_hier_topk's 2-probe
    // rung; the flat form is retired (its readings stay in BASELINE.md).
    // Oracle mirrors the 3-probe assignment CTE-for-CTE (hierStageCtes
    // probes = 3, suffixed so names never collide with the 2-probe
    // block).
    Reg("ivf_lloyd2_topk",
      (s, dir) => {
        val emb = Tables(s, dir).embeddings
        VecOps.ivfHierTopK(emb,
            VecOps.hierRoutingShared(emb, dir, probes = 3, fprobes = 2), k = 3)
          .select(col("qid"), col("rank"), col("nid"), round(col("score"), 4).as("score"))
          .orderBy("qid", "rank")
      },
      Some(s"""
        WITH $lloyd2Ctes,
        ${hierStageCtes("c2", "w3", probes = 3)},
        qfw3 AS (
          SELECT vec_id AS qid, embedding AS qe, cid FROM (
            SELECT v.vec_id, v.embedding, f.cid,
                   row_number() OVER (PARTITION BY v.vec_id ORDER BY
                     list_sum(list_transform(range(1, 65),
                       i -> v.embedding[i]::DOUBLE * f.ce[i]::DOUBLE)) DESC, f.cid) AS fr
            FROM vpw3 v JOIN f2gw3 f ON v.gid = f.gid)
          WHERE fr <= 2),
        scw3 AS (
          SELECT q.qid, a.vec_id AS nid,
                 list_sum(list_transform(range(1, 65),
                   i -> q.qe[i]::DOUBLE * a.embedding[i]::DOUBLE)) AS d
          FROM qfw3 q JOIN assignedw3 a ON q.cid = a.cid AND q.qid <> a.vec_id),
        r AS (SELECT qid, nid, d,
                     row_number() OVER (PARTITION BY qid ORDER BY d DESC, nid) AS rank
              FROM scw3)
        SELECT qid, rank, nid, round(d, 4) AS score
        FROM r WHERE rank <= 3
        ORDER BY qid, rank
      """)),

    // ---- two-level (IMI-style) IVF search (round-12) --------------------
    // The search-side application of the hierarchical index that fixed
    // SemDeDup's assignment: neighbors route coarse→fine through
    // VecOps.hierAssign, queries route the SAME way (2 coarse anchors →
    // 2 best fine cells among their members → candidates in those cells)
    // — no O(k) flat centroid scan on build OR search, the shape that
    // stays n·√k when k ∝ n. Shares the session Lloyd centroid table;
    // every stage argmax/top-m with (dot DESC, id) tiebreaks, oracle
    // mirrored stage-for-stage (hierAssignCtes shared with semdedup).
    Reg("ivf_hier_topk",
      // round 16: the three hier consumers slice the session-shared
      // top-3 relation (hierTop3Shared) instead of re-running the search
      (s, dir) => VecOps.hierTop3Shared(Tables(s, dir).embeddings, dir)
        .select(col("qid"), col("rank"), col("nid"), round(col("score"), 4).as("score"))
        .orderBy("qid", "rank"),
      Some(s"""
        WITH $hierCoreCtes
        SELECT qid, rank, nid, round(d, 4) AS score
        FROM hr WHERE rank <= 3
        ORDER BY qid, rank
      """)),

    // ---- embedding-cosine near-duplicate pairs (LSH-bucketed) -----------
    // Scale-shaped: candidates from 6 hash tables × 4 hyperplanes (recall
    // ≈ 1−(1−0.18)⁶ ≈ 0.69 at cos 0.45; higher for truer duplicates), then
    // exact rescore + threshold. The oracle mirrors the bucketing, so the
    // hash-match is independent of recall. Threshold 0.45 sits in the
    // score distribution's sparse tail (~1e-14 cross-engine divergence vs
    // a macroscopic distance to any pair's actual score — no boundary
    // flips).
    Reg("cosine_neardup_pairs",
      (s, dir) => {
        val emb = Tables(s, dir).embeddings
        VecOps.lshScoredP4T6Shared(emb, dir, directed = false)
          .filter(col("score") >= 0.45)
          .select(col("qid").as("vec_a"), col("nid").as("vec_b"),
            round(col("score"), 4).as("score"))
          .orderBy("vec_a", "vec_b")
      },
      Some(s"""
        WITH ${duckSigCtes(4, 6, "<")},
        scored AS (SELECT c.qid AS vec_a, c.nid AS vec_b, $duckDot AS d
                   FROM cand c
                   JOIN embeddings a ON a.vec_id = c.qid
                   JOIN embeddings b ON b.vec_id = c.nid)
        SELECT vec_a, vec_b, round(d, 4) AS score
        FROM scored WHERE d >= 0.45
        ORDER BY vec_a, vec_b
      """)),

    // ---- 1-NN label agreement per label (LSH-bucketed, integer outputs) -
    // Directed candidates (each query probes its own buckets); queries
    // whose buckets are singletons in every table drop out on BOTH
    // engines identically.
    Reg("knn_label_purity",
      (s, dir) => {
        val emb = Tables(s, dir).embeddings
        val nn1 = VecOps.topK(
          VecOps.lshScoredP4T6Shared(emb, dir, directed = true), 1)
        nn1
          .join(emb.select(col("vec_id").as("qid"), col("label").as("q_label")), "qid")
          .join(emb.select(col("vec_id").as("nid"), col("label").as("n_label")), "nid")
          .groupBy(col("q_label").as("label"))
          .agg(count(lit(1)).as("n"),
            sum(when(col("q_label") === col("n_label"), 1).otherwise(0)).as("n_match"))
          .orderBy("label")
      },
      Some(s"""
        WITH ${duckSigCtes(4, 6, "<>")},
        scored AS (SELECT c.qid, c.nid, a.label AS q_label, b.label AS n_label, $duckDot AS d
                   FROM cand c
                   JOIN embeddings a ON a.vec_id = c.qid
                   JOIN embeddings b ON b.vec_id = c.nid),
        r AS (SELECT qid, q_label, n_label,
                     row_number() OVER (PARTITION BY qid ORDER BY d DESC, nid) AS rank
              FROM scored)
        SELECT q_label AS label, count(*) AS n,
               CAST(sum(CASE WHEN q_label = n_label THEN 1 ELSE 0 END) AS BIGINT) AS n_match
        FROM r WHERE rank = 1
        GROUP BY 1 ORDER BY 1
      """)),

    // ---- IVF index balance: members per cell ----------------------------
    // The index-health stat an ANN operator watches: cell sizes after
    // assignment (a skewed cell = a hot probe path). Same broadcast
    // assignment as ivf_ann_topk, then one hash-agg; integer output.
    Reg("ivf_cell_balance",
      (s, dir) => {
        graft.functions.DotF32.register(s)
        val emb = Tables(s, dir).embeddings
        val cents = VecOps.seedCentroids(emb, 16)
        val wAssign = org.apache.spark.sql.expressions.Window
          .partitionBy(col("vec_id")).orderBy(col("cd").desc, col("cid"))
        emb.select(col("vec_id"), col("embedding"))
          .crossJoin(broadcast(cents))
          .withColumn("cd", expr("dot_f32(embedding, ce)"))
          .withColumn("crank", row_number().over(wAssign))
          .filter(col("crank") === 1)
          .groupBy(col("cid"))
          .agg(count(lit(1)).as("n_members"))
          .orderBy("cid")
      },
      Some(s"""
        WITH seeds AS (
          SELECT vec_id AS cid, embedding AS ce
          FROM embeddings
          ORDER BY ('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 15))::BIGINT, vec_id
          LIMIT 16),
        ranked AS (
          SELECT a.vec_id, b.cid,
                 row_number() OVER (PARTITION BY a.vec_id ORDER BY
                   list_sum(list_transform(range(1, 65),
                     i -> a.embedding[i]::DOUBLE * b.ce[i]::DOUBLE)) DESC, b.cid) AS crank
          FROM embeddings a JOIN seeds b ON true)
        SELECT cid, count(*) AS n_members
        FROM ranked WHERE crank = 1
        GROUP BY 1 ORDER BY 1
      """)),

    // ---- cosine score histogram over LSH candidates ---------------------
    // Threshold tuning for embedding dedup: the distribution of candidate
    // similarities in integer deci-bands (floor(d·10), identical on both
    // engines — scores are the same exact doubles, and a band-boundary
    // hit would need a dot to be an exact multiple of 0.1 in binary,
    // which the fixture's irrational-ish floats never are). Shows where
    // to put the near-dup cutoff before committing to one.
    Reg("cosine_score_histogram",
      (s, dir) => VecOps.lshScoredP4T6Shared(Tables(s, dir).embeddings, dir,
          directed = false)
        .withColumn("band", floor(col("score") * 10).cast("long"))
        .groupBy(col("band")).agg(count(lit(1)).as("n_pairs"))
        .orderBy("band"),
      Some(s"""
        WITH ${duckSigCtes(4, 6, "<")},
        scored AS (SELECT c.qid, c.nid, $duckDot AS d
                   FROM cand c
                   JOIN embeddings a ON a.vec_id = c.qid
                   JOIN embeddings b ON b.vec_id = c.nid)
        SELECT CAST(floor(d * 10) AS BIGINT) AS band, count(*) AS n_pairs
        FROM scored GROUP BY 1 ORDER BY 1
      """)),

    // ---- label-centroid separation matrix --------------------------------
    // Cluster-geometry diagnostic: per-label mean vector, every component
    // snapped to the 1e-4 integer grid (the Lloyd-mean snap — the float
    // mean's last-ulp summation-order hazard collapses onto a round()
    // boundary), then EXACT BIGINT dots between all 45 unordered label
    // pairs. Confirms FIXTURES.md's "labels are not clusters": all dots
    // hover near 0. One (label, i) hash-agg + a 640-row self-join —
    // scale-free beyond the first aggregate.
    Reg("label_centroid_cosine",
      (s, dir) => {
        val comp = Tables(s, dir).embeddings
          .select(col("label"), posexplode(col("embedding")).as(Seq("i", "v")))
          .groupBy(col("label"), col("i"))
          .agg(round(avg(col("v").cast("double")) * 10000).cast("long").as("c"))
        val a = comp.select(col("label").as("la"), col("i"), col("c").as("ca"))
        val b = comp.select(col("label").as("lb"), col("i"), col("c").as("cb"))
        a.join(b, Seq("i")).filter(col("la") < col("lb"))
          .groupBy(col("la"), col("lb"))
          .agg(sum(col("ca") * col("cb")).as("dot_x1e8"))
          .orderBy("la", "lb")
      },
      Some("""
        WITH comp AS (
          SELECT label, i,
                 CAST(round(avg(embedding[i]::DOUBLE) * 10000) AS BIGINT) AS c
          FROM embeddings, range(1, 65) t(i)
          GROUP BY 1, 2)
        SELECT a.label AS la, b.label AS lb,
               CAST(sum(a.c * b.c) AS BIGINT) AS dot_x1e8
        FROM comp a JOIN comp b ON a.i = b.i AND a.label < b.label
        GROUP BY 1, 2
        ORDER BY 1, 2
      """)),

    // ---- PQ reconstruction error per subspace -----------------------------
    // Index-quality diagnostic for the PQ codec (the ivf_cell_balance
    // pattern applied to quantization): per subspace, Σ‖x − cw‖² over all
    // encoded vectors. The per-row error is three index-ordered dots
    // (identical IEEE sequence both engines), snapped to a 1e-6 grid per
    // ROW, then summed as exact BIGINTs — the aggregate never sums raw
    // floats. Encode = one broadcast pass (32-row codebook).
    Reg("pq_reconstruction_error",
      (s, dir) => {
        val enc = VecOps.pqEncode(Tables(s, dir).embeddings)
        enc
          .withColumn("err", expr(
            "dot_f32(x, x) - 2 * dot_f32(x, cw) + dot_f32(cw, cw)"))
          .withColumn("err_x1e6", round(col("err") * 1000000).cast("long"))
          .groupBy(col("s"))
          .agg(count(lit(1)).as("n"),
            sum(col("err_x1e6")).as("sum_err_x1e6"),
            max(col("err_x1e6")).as("max_err_x1e6"))
          .orderBy("s")
      },
      Some("""
        WITH seeds AS (
          SELECT vec_id AS cid, embedding AS ce
          FROM embeddings
          ORDER BY ('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 15))::BIGINT, vec_id
          LIMIT 8),
        cb AS (SELECT s.s, cid, ce[s.s * 16 + 1 : s.s * 16 + 16] AS cw
               FROM seeds, range(4) s(s)),
        xs AS (SELECT vec_id, s.s, embedding[s.s * 16 + 1 : s.s * 16 + 16] AS x
               FROM embeddings, range(4) s(s)),
        assign AS (
          SELECT x.vec_id, x.s, c.cid, x.x, c.cw,
                 row_number() OVER (PARTITION BY x.vec_id, x.s ORDER BY
                   (list_sum(list_transform(range(1, 17), i -> x.x[i]::DOUBLE * c.cw[i]::DOUBLE))
                    - 0.5 * list_sum(list_transform(range(1, 17), i -> c.cw[i]::DOUBLE * c.cw[i]::DOUBLE)))
                   DESC, c.cid) AS crank
          FROM xs x JOIN cb c ON x.s = c.s),
        e AS (
          SELECT s, CAST(round(
                   (list_sum(list_transform(range(1, 17), i -> x[i]::DOUBLE * x[i]::DOUBLE))
                    - 2 * list_sum(list_transform(range(1, 17), i -> x[i]::DOUBLE * cw[i]::DOUBLE))
                    + list_sum(list_transform(range(1, 17), i -> cw[i]::DOUBLE * cw[i]::DOUBLE)))
                   * 1000000) AS BIGINT) AS err_x1e6
          FROM assign WHERE crank = 1)
        SELECT s, count(*) AS n,
               CAST(sum(err_x1e6) AS BIGINT) AS sum_err_x1e6,
               max(err_x1e6) AS max_err_x1e6
        FROM e GROUP BY 1 ORDER BY 1
      """)),

    // ---- SemDeDup: embedding-level semantic dedup (round-7) -------------
    // The third dedup rung after exact + lexical near-dup (VERDICT r6
    // "what's missing" #3): k-means-cluster the embeddings (the shared
    // 2-iteration snapped Lloyd build, same centroids as ivf_lloyd2_topk),
    // pairwise cosine ONLY within each cluster, drop every vector with a
    // >= 0.45 neighbor of smaller id. kept is BIGINT 1/0 (never BOOLEAN —
    // the driver's hash is format-sensitive, true != 1); dup_of grades
    // the survivorship witness, not just the count. Threshold 0.45 sits
    // in the score distribution's sparse tail (cosine_score_histogram),
    // so the cross-engine 1e-14 double divergence cannot flip membership;
    // assignment ranks are identical because the snapped centroids are
    // bit-equal floats on both engines (the ivf_lloyd2 argument).
    Reg("semdedup_keep",
      (s, dir) => {
        val emb = Tables(s, dir).embeddings
        VecOps.semDedupKeep(emb, VecOps.hierIndexShared(emb, dir), tau = 0.45)
          .orderBy("vec_id")
      },
      Some(semdedupKeepOracle)),

    // ---- Matryoshka (truncated-dimension) two-stage ANN (round-8) -------
    // The DIMENSION axis of the compression ladder (ADVICE r7 asked this
    // helper be graded or dropped): buckets and shortlist ranking read
    // only the first 16 dims (4 hyperplanes restricted to the prefix),
    // the 8-candidate shortlist is re-ranked with the full 64-dim dot.
    // The oracle mirrors every stage — prefix hyperplanes, prefix-dot
    // shortlist rank, full-dot final rank — so the hash-match is
    // independent of Matryoshka recall, like every bucketed ANN query.
    Reg("matryoshka_topk",
      (s, dir) => VecOps.matryoshkaTop3Shared(Tables(s, dir).embeddings, dir)
        .select(col("qid"), col("rank"), col("nid"), round(col("score"), 4).as("score"))
        .orderBy("qid", "rank"),
      Some(s"""
        WITH ${matRankCtes("")}
        SELECT qid, rank, nid, round(d, 4) AS score
        FROM mr WHERE rank <= 3
        ORDER BY qid, rank
      """)),

    // ---- hybrid retrieval: reciprocal-rank fusion (round-9) -------------
    // The standard way to combine heterogeneous retrievers (Cormack et
    // al., SIGIR'09, public): fuse the LSH and IVF top-5 lists per query
    // by RRF(d) = Σ 1/(60 + rank_d) — rank-only, so the two methods'
    // incomparable score scales never mix. Graded in exact integers:
    // each contribution is 10⁶ div (60 + rank) (integral division,
    // identical both engines), the fused score is their sum, ties break
    // by nid. A FULL OUTER join on (qid, nid) keeps documents that only
    // one retriever surfaced — the whole point of fusion. Cost: the two
    // bucketed retrievals the repo already grades, plus one outer join
    // on 5-row-per-query lists — output-sized, broadcastable at scale.
    Reg("rrf_fusion_topk",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val emb = Tables(s, dir).embeddings
        val lsh = VecOps.annLshTopK(emb, planes = 4, k = 5)
          .select(col("qid"), col("nid"), expr("1000000 div (60 + rank)").as("c_lsh"))
        // round 16: the IVF arm re-platformed off the fixed-lists flat
        // form (VERDICT r15 #1) onto the hier search at the graded
        // fprobes = 2 dial — the k = 5 cut shares the session's (2, 2)
        // routing table with the hier family, so the arm costs one
        // candidate join, not a fresh index build
        val ivf = VecOps.ivfHierTopK(emb,
            VecOps.hierRoutingShared(emb, dir, probes = 2, fprobes = 2), k = 5)
          .select(col("qid"), col("nid"), expr("1000000 div (60 + rank)").as("c_ivf"))
        val fused = lsh.join(ivf, Seq("qid", "nid"), "full_outer")
          .select(col("qid"), col("nid"),
            (coalesce(col("c_lsh"), lit(0L)) + coalesce(col("c_ivf"), lit(0L)))
              .as("rrf_x1e6"),
            when(col("c_lsh").isNotNull && col("c_ivf").isNotNull, lit("both"))
              .when(col("c_lsh").isNotNull, lit("lsh")).otherwise(lit("ivf"))
              .as("sources"))
        fused
          .withColumn("rank", row_number().over(
            Window.partitionBy(col("qid")).orderBy(col("rrf_x1e6").desc, col("nid"))))
          .filter(col("rank") <= 3)
          .select(col("qid"), col("rank").cast("long").as("rank"),
            col("nid"), col("rrf_x1e6"), col("sources"))
          .orderBy("qid", "rank")
      },
      Some(s"""
        WITH $lshRankCtes,
        lsh AS (SELECT qid, nid, 1000000 // (60 + rank) AS c_lsh
                FROM lr WHERE rank <= 5),
        $hierCoreCtes,
        ivf AS (SELECT qid, nid, 1000000 // (60 + rank) AS c_ivf
                FROM hr WHERE rank <= 5),
        fused AS (SELECT coalesce(l.qid, i.qid) AS qid,
                         coalesce(l.nid, i.nid) AS nid,
                         coalesce(l.c_lsh, 0) + coalesce(i.c_ivf, 0) AS rrf_x1e6,
                         CASE WHEN l.c_lsh IS NOT NULL AND i.c_ivf IS NOT NULL THEN 'both'
                              WHEN l.c_lsh IS NOT NULL THEN 'lsh' ELSE 'ivf' END AS sources
                  FROM lsh l FULL OUTER JOIN ivf i
                    ON l.qid = i.qid AND l.nid = i.nid),
        fr AS (SELECT *, row_number() OVER (PARTITION BY qid
                 ORDER BY rrf_x1e6 DESC, nid) AS rank
               FROM fused)
        SELECT qid, CAST(rank AS BIGINT) AS rank, nid,
               CAST(rrf_x1e6 AS BIGINT) AS rrf_x1e6, sources
        FROM fr WHERE rank <= 3
        ORDER BY qid, rank
      """)),

    // ---- hybrid lexical+semantic retrieval: BM25 ⊕ vector RRF (round-10)
    // The retrieval stack's capstone, wiring VERDICT r9 #4's "natural
    // consumer" together: the LEXICAL arm is the bm25_topk_docs integer
    // pipeline (same rational k1/b arithmetic, query {dup, spark, join})
    // and the SEMANTIC arm is cosine-to-anchor (vec_id 0's embedding,
    // broadcast one-row — a LINEAR scan per query, not the brute pair
    // join), each truncated to its top-50 BEFORE fusion (bounded-
    // candidate RRF, the production hybrid-search shape — rank depth is
    // the knob, not corpus size), fused by reciprocal rank 10⁶ div
    // (60+r) over a full-outer doc_id join. doc_id ≡ vec_id by fixture
    // construction (FIXTURES.md: both 0..N-1).
    Reg("hybrid_bm25_vec_rrf",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        graft.functions.DotF32.register(s)
        val tok = Tables(s, dir).documents
          .select(col("doc_id"), explode(graft.text.TextOps.tokens(col("text"))).as("w"))
        val dl = tok.groupBy(col("doc_id")).agg(count(lit(1)).as("dl"))
        val corpus = dl.agg(count(lit(1)).as("n_docs"),
          sum(col("dl")).as("tot_tokens"))
        val tf = tok.filter(col("w").isin("dup", "spark", "join"))
          .groupBy(col("doc_id"), col("w")).agg(count(lit(1)).as("tf"))
        val dfr = tf.groupBy(col("w")).agg(count(lit(1)).as("df"))
        val lex = tf.join(broadcast(dfr), "w").join(dl, "doc_id")
          .crossJoin(broadcast(corpus))
          .withColumn("idf_um", expr(
            "CAST(round(ln(CAST(2 * n_docs + 2 AS DOUBLE) /" +
              " CAST(2 * df + 1 AS DOUBLE)) * CAST(1000000 AS DOUBLE))" +
              " AS BIGINT)"))
          .withColumn("tfpart_um", expr(
            "(22L * tf * tot_tokens * 1000000L) div" +
              " (10L * tf * tot_tokens + 3L * tot_tokens + 9L * dl * n_docs)"))
          .groupBy(col("doc_id"))
          .agg(expr("sum((idf_um * tfpart_um) div 1000000L)").as("score_um"))
          .orderBy(col("score_um").desc, col("doc_id")).limit(50)
          .withColumn("r_lex", row_number().over(Window
            .orderBy(col("score_um").desc, col("doc_id"))))
          .select(col("doc_id"), col("r_lex"))
        val emb = Tables(s, dir).embeddings
        val anchor = emb.filter(col("vec_id") === 0)
          .select(col("embedding").as("qe"))
        val vec = emb.filter(col("vec_id") =!= 0)
          .crossJoin(broadcast(anchor))
          .select(col("vec_id").as("doc_id"),
            expr("dot_f32(embedding, qe)").as("d"))
          .orderBy(col("d").desc, col("doc_id")).limit(50)
          .withColumn("r_vec", row_number().over(Window
            .orderBy(col("d").desc, col("doc_id"))))
          .select(col("doc_id"), col("r_vec"))
        lex.join(vec, Seq("doc_id"), "full_outer")
          .select(col("doc_id"),
            (coalesce(expr("1000000 div (60 + r_lex)"), lit(0L)) +
              coalesce(expr("1000000 div (60 + r_vec)"), lit(0L))).as("rrf_x1e6"),
            when(col("r_lex").isNotNull && col("r_vec").isNotNull, lit("both"))
              .when(col("r_lex").isNotNull, lit("lex")).otherwise(lit("vec"))
              .as("sources"))
          .orderBy(col("rrf_x1e6").desc, col("doc_id")).limit(10)
          .withColumn("rank", row_number().over(Window
            .orderBy(col("rrf_x1e6").desc, col("doc_id"))))
          .select(col("rank"), col("doc_id"), col("rrf_x1e6"), col("sources"))
          .orderBy("rank")
      },
      Some("""
        WITH tok AS (SELECT doc_id, unnest(string_split(trim(text), ' ')) AS w
                     FROM documents),
        dl AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY 1),
        corpus AS (SELECT count(*) AS n_docs, CAST(sum(dl) AS BIGINT) AS tot_tokens
                   FROM dl),
        tf AS (SELECT doc_id, w, count(*) AS tf FROM tok
               WHERE w IN ('dup', 'spark', 'join') GROUP BY 1, 2),
        dfr AS (SELECT w, count(*) AS df FROM tf GROUP BY 1),
        sc AS (SELECT t.doc_id,
                      CAST(round(ln(CAST(2 * c.n_docs + 2 AS DOUBLE) /
                                    CAST(2 * f.df + 1 AS DOUBLE))
                                 * CAST(1000000 AS DOUBLE)) AS BIGINT) AS idf_um,
                      (22 * t.tf * c.tot_tokens * 1000000) //
                        (10 * t.tf * c.tot_tokens + 3 * c.tot_tokens
                         + 9 * d.dl * c.n_docs) AS tfpart_um
               FROM tf t JOIN dfr f USING (w) JOIN dl d USING (doc_id), corpus c),
        agg AS (SELECT doc_id,
                       CAST(sum((idf_um * tfpart_um) // 1000000) AS BIGINT) AS score_um
                FROM sc GROUP BY 1),
        lex AS (SELECT doc_id, r_lex FROM (
                  SELECT doc_id, row_number() OVER (ORDER BY score_um DESC, doc_id) AS r_lex
                  FROM agg) WHERE r_lex <= 50),
        q AS (SELECT embedding FROM embeddings WHERE vec_id = 0),
        vd AS (SELECT e.vec_id AS doc_id,
                      list_sum(list_transform(range(1, 65),
                        i -> e.embedding[i]::DOUBLE * q.embedding[i]::DOUBLE)) AS d
               FROM embeddings e, q WHERE e.vec_id <> 0),
        vec AS (SELECT doc_id, r_vec FROM (
                  SELECT doc_id, row_number() OVER (ORDER BY d DESC, doc_id) AS r_vec
                  FROM vd) WHERE r_vec <= 50),
        f AS (SELECT coalesce(l.doc_id, v.doc_id) AS doc_id,
                     coalesce(1000000 // (60 + l.r_lex), 0)
                       + coalesce(1000000 // (60 + v.r_vec), 0) AS rrf_x1e6,
                     CASE WHEN l.doc_id IS NOT NULL AND v.doc_id IS NOT NULL THEN 'both'
                          WHEN l.doc_id IS NOT NULL THEN 'lex' ELSE 'vec' END AS sources
              FROM lex l FULL OUTER JOIN vec v ON l.doc_id = v.doc_id),
        r AS (SELECT *, row_number() OVER (ORDER BY rrf_x1e6 DESC, doc_id) AS rank
              FROM f)
        SELECT rank, doc_id, CAST(rrf_x1e6 AS BIGINT) AS rrf_x1e6, sources
        FROM r WHERE rank <= 10 ORDER BY rank
      """)),

    // ---- MMR result diversification (round-9) ---------------------------
    // Maximal Marginal Relevance (Carbonell & Goldstein, SIGIR'98,
    // public): greedily re-rank each query's int8 top-10 so picks trade
    // relevance against redundancy — pick_k = argmax over remaining of
    // λ·rel − (1−λ)·max sim to already-picked, λ = 0.7 expressed as the
    // integer objective 7·rel − 3·maxsim (int8 dots are BIGINTs, so the
    // whole greedy chain is exact integer arithmetic — the reason this
    // uses the int8 rung and not float cosine, whose near-ties would
    // hash-flake). The k = 3 greedy rounds UNROLL into three
    // argmax-by-window passes over the 10-row-per-query candidate list —
    // candidates are output-sized, so every step is a small self-join,
    // never a pass over the corpus. Queries with < 3 candidates emit
    // only the steps they can fill (both engines drop identically).
    Reg("mmr_diversify_topk",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        graft.functions.DotI64.register(s)
        val b = VecOps.lshBucket(Tables(s, dir).embeddings, 4)
          .withColumn("q8",
            expr("transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 127) AS INT))"))
        val q = b.select(col("vec_id").as("qid"), col("q8").as("qq"), col("bucket"))
        val n = b.select(col("vec_id").as("nid"), col("q8").as("nq"), col("bucket"))
        val ranked = q.join(n, "bucket").filter(col("qid") =!= col("nid"))
          .withColumn("rel", expr("dot_i64(qq, nq)"))
          .withColumn("rank", row_number().over(
            Window.partitionBy(col("qid")).orderBy(col("rel").desc, col("nid"))))
        val cand = ranked.filter(col("rank") <= 10)
          .select(col("qid"), col("nid"), col("nq"), col("rel"))
          .localCheckpoint() // feeds all three greedy rounds
        val p1 = cand.withColumn("r", row_number().over(
            Window.partitionBy(col("qid")).orderBy(col("rel").desc, col("nid"))))
          .filter(col("r") === 1)
          .select(col("qid"), col("nid").as("p1_nid"), col("nq").as("p1_q"),
            col("rel").as("p1_rel"))
        val s2 = cand.join(p1, "qid").filter(col("nid") =!= col("p1_nid"))
          .withColumn("obj", lit(7L) * col("rel") - lit(3L) * expr("dot_i64(nq, p1_q)"))
        val p2 = s2.withColumn("r", row_number().over(
            Window.partitionBy(col("qid")).orderBy(col("obj").desc, col("nid"))))
          .filter(col("r") === 1)
          .select(col("qid"), col("nid").as("p2_nid"), col("nq").as("p2_q"),
            col("rel").as("p2_rel"), col("obj").as("p2_obj"))
        val s3 = cand.join(p1, "qid").join(p2, "qid")
          .filter(col("nid") =!= col("p1_nid") && col("nid") =!= col("p2_nid"))
          .withColumn("obj", lit(7L) * col("rel") -
            lit(3L) * greatest(expr("dot_i64(nq, p1_q)"), expr("dot_i64(nq, p2_q)")))
        val p3 = s3.withColumn("r", row_number().over(
            Window.partitionBy(col("qid")).orderBy(col("obj").desc, col("nid"))))
          .filter(col("r") === 1)
          .select(col("qid"), col("nid").as("p3_nid"),
            col("rel").as("p3_rel"), col("obj").as("p3_obj"))
        p1.select(col("qid"), lit(1L).as("step"), col("p1_nid").as("nid"),
            col("p1_rel").as("rel"), (lit(7L) * col("p1_rel")).as("obj"))
          .unionAll(p2.select(col("qid"), lit(2L).as("step"), col("p2_nid").as("nid"),
            col("p2_rel").as("rel"), col("p2_obj").as("obj")))
          .unionAll(p3.select(col("qid"), lit(3L).as("step"), col("p3_nid").as("nid"),
            col("p3_rel").as("rel"), col("p3_obj").as("obj")))
          .orderBy("qid", "step")
      },
      Some(s"""
        WITH ${hpSigCtes(64)},
        q8 AS (SELECT vec_id, bucket,
                      list_transform(embedding, x -> CAST(round(x::DOUBLE * 127) AS INT)) AS q
               FROM sig),
        p AS (SELECT a.vec_id AS qid, b.vec_id AS nid, b.q AS nq,
                     CAST(list_sum(list_transform(range(1, 65),
                       i -> CAST(a.q[i] AS BIGINT) * b.q[i])) AS BIGINT) AS rel
              FROM q8 a JOIN q8 b ON a.bucket = b.bucket AND a.vec_id <> b.vec_id),
        c AS (SELECT *, row_number() OVER (PARTITION BY qid ORDER BY rel DESC, nid) AS rank
              FROM p),
        cand AS (SELECT qid, nid, nq, rel FROM c WHERE rank <= 10),
        p1 AS (SELECT qid, nid AS p1_nid, nq AS p1_q, rel AS p1_rel
               FROM c WHERE rank = 1),
        s2 AS (SELECT cand.qid, cand.nid, cand.nq, cand.rel,
                      7 * cand.rel - 3 * CAST(list_sum(list_transform(range(1, 65),
                        i -> CAST(cand.nq[i] AS BIGINT) * p1.p1_q[i])) AS BIGINT) AS obj
               FROM cand JOIN p1 ON p1.qid = cand.qid AND cand.nid <> p1.p1_nid),
        p2 AS (SELECT qid, nid AS p2_nid, nq AS p2_q, rel AS p2_rel, obj AS p2_obj FROM (
                 SELECT *, row_number() OVER (PARTITION BY qid ORDER BY obj DESC, nid) AS r
                 FROM s2) WHERE r = 1),
        s3 AS (SELECT cand.qid, cand.nid, cand.rel,
                      7 * cand.rel - 3 * greatest(
                        CAST(list_sum(list_transform(range(1, 65),
                          i -> CAST(cand.nq[i] AS BIGINT) * p1.p1_q[i])) AS BIGINT),
                        CAST(list_sum(list_transform(range(1, 65),
                          i -> CAST(cand.nq[i] AS BIGINT) * p2.p2_q[i])) AS BIGINT)) AS obj
               FROM cand
               JOIN p1 ON p1.qid = cand.qid
               JOIN p2 ON p2.qid = cand.qid
               WHERE cand.nid <> p1.p1_nid AND cand.nid <> p2.p2_nid),
        p3 AS (SELECT qid, nid AS p3_nid, rel AS p3_rel, obj AS p3_obj FROM (
                 SELECT *, row_number() OVER (PARTITION BY qid ORDER BY obj DESC, nid) AS r
                 FROM s3) WHERE r = 1)
        SELECT qid, CAST(1 AS BIGINT) AS step, p1_nid AS nid,
               CAST(p1_rel AS BIGINT) AS rel, CAST(7 * p1_rel AS BIGINT) AS obj
        FROM p1
        UNION ALL
        SELECT qid, 2, p2_nid, CAST(p2_rel AS BIGINT), CAST(p2_obj AS BIGINT) FROM p2
        UNION ALL
        SELECT qid, 3, p3_nid, CAST(p3_rel AS BIGINT), CAST(p3_obj AS BIGINT) FROM p3
        ORDER BY qid, step
      """)),

    // ---- embedding drift between corpus halves (round-9) ----------------
    // The model-monitoring primitive: split the corpus by a deterministic
    // md5 hash, compute each label's per-half centroid, and report the
    // cross-half centroid cosine — a drifting embedding space pulls the
    // halves apart. Float discipline: per-element round(v·10⁶) FIRST
    // (deterministic per value), then INTEGER sums and integral-division
    // means — never a float mean, whose summation order diverges across
    // engines; the final cosine divides exact int64 dot/norms in double
    // (norm product would overflow int64). Shapes: one explode to
    // (label, half, dim), one hash agg, a 64-row-per-label reshape — all
    // linear, centroid relation is output-sized (labels × dims).
    Reg("embedding_drift_halves",
      (s, dir) => {
        val half = graft.text.TextOps.hash60(concat(lit("dr_"),
          col("vec_id").cast("string"))) % 2
        val cent = Tables(s, dir).embeddings
          .withColumn("half", half)
          .select(col("label"), col("half"),
            posexplode(col("embedding")).as(Seq("dim", "v")))
          .groupBy(col("label"), col("half"), col("dim"))
          .agg(count(lit(1)).as("n"),
            sum(expr("CAST(round(CAST(v AS DOUBLE) * 1000000) AS BIGINT)")).as("sum_u"))
          .withColumn("mean_u", expr("sum_u div n"))
        cent.groupBy(col("label"), col("dim"))
          .agg(max(when(col("half") === 0, col("mean_u"))).as("a"),
            max(when(col("half") === 1, col("mean_u"))).as("b"),
            max(when(col("half") === 0, col("n"))).as("n_a"),
            max(when(col("half") === 1, col("n"))).as("n_b"))
          .groupBy(col("label"))
          .agg(max(col("n_a")).as("n_a"), max(col("n_b")).as("n_b"),
            sum(col("a") * col("b")).as("dot"),
            sum(col("a") * col("a")).as("na"),
            sum(col("b") * col("b")).as("nb"))
          .select(col("label"), col("n_a"), col("n_b"),
            expr("CAST(round(CAST(dot AS DOUBLE) / sqrt(CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)) * 1000000) AS BIGINT)")
              .as("drift_cosine_micros"))
          .orderBy(col("label"))
      },
      Some("""
        WITH h AS (SELECT label,
                          ('0x' || substr(md5('dr_' || CAST(vec_id AS VARCHAR)), 1, 15))::BIGINT % 2 AS half,
                          embedding
                   FROM embeddings),
        e AS (SELECT label, half, generate_subscripts(embedding, 1) AS dim,
                     unnest(embedding) AS v
              FROM h),
        cent AS (SELECT label, half, dim, count(*) AS n,
                        CAST(sum(CAST(round(CAST(v AS DOUBLE) * 1000000) AS BIGINT)) AS BIGINT) AS sum_u
                 FROM e GROUP BY 1, 2, 3),
        m AS (SELECT label, half, dim, n, sum_u // n AS mean_u FROM cent),
        p AS (SELECT label, dim,
                     max(CASE WHEN half = 0 THEN mean_u END) AS a,
                     max(CASE WHEN half = 1 THEN mean_u END) AS b,
                     max(CASE WHEN half = 0 THEN n END) AS n_a,
                     max(CASE WHEN half = 1 THEN n END) AS n_b
              FROM m GROUP BY 1, 2),
        g AS (SELECT label, max(n_a) AS n_a, max(n_b) AS n_b,
                     CAST(sum(a * b) AS BIGINT) AS dot,
                     CAST(sum(a * a) AS BIGINT) AS na,
                     CAST(sum(b * b) AS BIGINT) AS nb
              FROM p GROUP BY 1)
        SELECT label, n_a, n_b,
               CAST(round(CAST(dot AS DOUBLE) / sqrt(CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)) * 1000000) AS BIGINT)
                 AS drift_cosine_micros
        FROM g ORDER BY label
      """)),

    // ---- k-center coreset selection, 3 greedy rounds (round-9) ----------
    // Gonzalez's greedy farthest-point coreset (public method) — the
    // diversity-maximizing subset selection a training-data curator runs
    // before labeling/budgeting: start from the md5-min seed, then 3× —
    // every unselected point's MAX similarity to the selected set (the
    // k-center guard), pick the point MINIMIZING it (the farthest), add.
    // Per round: one broadcast join of the ≤3-row selected set against
    // the corpus + one hash agg — linear, never all-pairs; the argmin
    // row flows forward as a broadcast one-row relation (the BPE
    // pattern, nothing touches the driver). Dots are the same
    // left-to-right fold as cosine_topk_brute (bit-identical to the
    // oracle's list_sum); the guard rounds 4dp only at OUTPUT.
    Reg("coreset_kcenter",
      (s, dir) => {
        val emb = Tables(s, dir).embeddings
        val seed = emb
          .withColumn("h", graft.text.TextOps.hash60(
            concat(lit("cs_"), col("vec_id").cast("string"))))
          .orderBy(col("h"), col("vec_id")).limit(1)
          .select(col("vec_id").as("sid"), col("embedding").as("semb"),
            lit(1L).as("sel_rank"), lit(null).cast("double").as("guard"))
          .localCheckpoint()
        var selected = seed
        for (r <- 2 to 4) {
          val scored = emb
            .join(broadcast(selected.select(col("sid"))), col("vec_id") === col("sid"), "left_anti")
            .crossJoin(broadcast(selected.select(col("semb").as("other"))))
            .select(col("vec_id"), VecOps.dot(col("embedding"), col("other")).as("d"))
            .groupBy(col("vec_id")).agg(max(col("d")).as("maxd"))
          val next = scored.orderBy(col("maxd").asc, col("vec_id")).limit(1)
            .join(emb, "vec_id")
            .select(col("vec_id").as("sid"), col("embedding").as("semb"),
              lit(r.toLong).as("sel_rank"), col("maxd").as("guard"))
          selected = selected.union(next).localCheckpoint()
        }
        selected.select(col("sel_rank"), col("sid").as("vec_id"),
            round(col("guard"), 4).as("max_sim_at_selection"))
          .orderBy("sel_rank")
      },
      Some(s"""
        WITH h AS (SELECT vec_id, embedding,
                          ('0x' || substr(md5('cs_' || CAST(vec_id AS VARCHAR)), 1, 15))::BIGINT AS h
                   FROM embeddings),
        s1 AS (SELECT vec_id, embedding FROM h ORDER BY h, vec_id LIMIT 1),
        c2 AS (SELECT a.vec_id, max($duckDot) AS maxd
               FROM embeddings a JOIN s1 b ON a.vec_id <> b.vec_id
               GROUP BY 1),
        n2 AS (SELECT c.vec_id, e.embedding, c.maxd FROM c2 c
               JOIN embeddings e ON c.vec_id = e.vec_id
               ORDER BY c.maxd ASC, c.vec_id LIMIT 1),
        sel2 AS (SELECT vec_id, embedding FROM s1
                 UNION ALL SELECT vec_id, embedding FROM n2),
        c3 AS (SELECT a.vec_id, max($duckDot) AS maxd
               FROM embeddings a JOIN sel2 b ON true
               WHERE a.vec_id NOT IN (SELECT vec_id FROM sel2)
               GROUP BY 1),
        n3 AS (SELECT c.vec_id, e.embedding, c.maxd FROM c3 c
               JOIN embeddings e ON c.vec_id = e.vec_id
               ORDER BY c.maxd ASC, c.vec_id LIMIT 1),
        sel3 AS (SELECT vec_id, embedding FROM sel2
                 UNION ALL SELECT vec_id, embedding FROM n3),
        c4 AS (SELECT a.vec_id, max($duckDot) AS maxd
               FROM embeddings a JOIN sel3 b ON true
               WHERE a.vec_id NOT IN (SELECT vec_id FROM sel3)
               GROUP BY 1),
        n4 AS (SELECT c.vec_id, c.maxd FROM c4 c
               ORDER BY c.maxd ASC, c.vec_id LIMIT 1)
        SELECT CAST(1 AS BIGINT) AS sel_rank, vec_id,
               CAST(NULL AS DOUBLE) AS max_sim_at_selection FROM s1
        UNION ALL SELECT 2, vec_id, round(maxd, 4) FROM n2
        UNION ALL SELECT 3, vec_id, round(maxd, 4) FROM n3
        UNION ALL SELECT 4, vec_id, round(maxd, 4) FROM n4
        ORDER BY sel_rank
      """)),

    // ---- IVF-PQ residual rung, WIDE fine probing (round 16) -------------
    // Re-platformed (VERDICT r15 #1) off the fixed-lists flat coarse
    // quantizer (lists = 16 — the same n²/lists candidate quadratic as
    // the retired flat IVF) onto the hierarchical residual machinery of
    // ann_ivfpq_hier_topk, grading
    // the fprobes = 3 point of the fine-probe dial (the hier sibling
    // holds fprobes = 2): coarse→fine routing over the scaled-k Lloyd
    // table, residual v − ce(cell) product-quantized against the salted
    // 8-codeword book, candidates re-scored by dot(q, ce + PQ(r)) in
    // three probed cells per query instead of two. The widened probe
    // set recovers true neighbors whose cell ranks third — the
    // recall/NDCG lenses price exactly that against the fprobes = 2 row.
    Reg("ann_ivfpq_topk",
      (s, dir) => VecOps.ivfpqF3Top3Shared(Tables(s, dir).embeddings, dir)
        .select(col("qid"), col("rank"), col("nid"),
          round(col("score"), 4).as("score"))
        .orderBy("qid", "rank"),
      Some(s"""
        WITH ${ivfpqHierCtes(3)}
        SELECT qid, rank, nid, round(d, 4) AS score
        FROM hr WHERE rank <= 3
        ORDER BY qid, rank
      """)),

    // ---- hard-negative mining (contrastive training-data prep) ----------
    // The embedding-side curation op a contrastive trainer consumes: for
    // each anchor, the top-3 most-similar vectors with a DIFFERENT label
    // — near the anchor in embedding space but semantically distinct,
    // the "hard negatives" that make InfoNCE-style losses learn.
    // Candidates come from the session-shared (planes=4, tables=6)
    // directed LSH pair relation (the knn_label_purity discipline — both
    // engines see the identical candidate set, so grading is independent
    // of LSH recall); labels equi-join in, same-label pairs drop, rank
    // by (score DESC, nid). Scale: the pair relation is bucket-keyed
    // (Σ bucket², never n²) and derived once per session; the label
    // joins are id-keyed. Output: anchor, rank, negative, both labels,
    // 4-dp score.
    Reg("hard_negative_mining",
      (s, dir) => {
        val emb = Tables(s, dir).embeddings
        val labels = emb.select(col("vec_id"), col("label"))
        val scored = VecOps.lshScoredP4T6Shared(emb, dir, directed = true)
          .join(labels.select(col("vec_id").as("qid"),
            col("label").as("q_label")), "qid")
          .join(labels.select(col("vec_id").as("nid"),
            col("label").as("n_label")), "nid")
          .filter(col("q_label") =!= col("n_label"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("qid")).orderBy(col("score").desc, col("nid"))
        scored.withColumn("rank", row_number().over(w))
          .filter(col("rank") <= 3)
          .select(col("qid"), col("rank"), col("nid"),
            col("q_label"), col("n_label"),
            round(col("score"), 4).as("score"))
          .orderBy("qid", "rank")
      },
      Some(s"""
        WITH ${duckSigCtes(4, 6, "<>")},
        scored AS (SELECT c.qid, c.nid,
                          a.label AS q_label, b.label AS n_label, $duckDot AS d
                   FROM cand c
                   JOIN embeddings a ON a.vec_id = c.qid
                   JOIN embeddings b ON b.vec_id = c.nid
                   WHERE a.label <> b.label),
        r AS (SELECT qid, nid, q_label, n_label, d,
                     row_number() OVER (PARTITION BY qid ORDER BY d DESC, nid) AS rank
              FROM scored)
        SELECT qid, rank, nid, q_label, n_label, round(d, 4) AS score
        FROM r WHERE rank <= 3
        ORDER BY qid, rank
      """)),

    // ---- residual-PQ reconstruction error (the rung's honest lens) ------
    // The per-subspace ‖x − cw‖² profile of the RESIDUAL codebook —
    // because x is the residual slice, this is the full scheme's
    // reconstruction error ‖v − (c + PQ(r))‖², directly comparable to
    // pq_reconstruction_error's raw-PQ numbers. MEASURED NEGATIVE on
    // this fixture (sum_err ≈ 2.2×10⁸ vs raw PQ's 1.5×10⁸ at sf0.01):
    // the fixture embeddings are near-uniform on the sphere, so
    // ‖r‖² = 2 − 2·v·c > 1 — residuals carry MORE variance than the unit
    // vectors and an 8-codeword book covers them worse. The classic
    // faiss advantage (residuals shrink, v·c → 1) needs clustered data;
    // the recall twin still wins (0.19 vs 0.12) because IVF ROUTING, not
    // quantization quality, is what the probe restriction buys. The
    // diagnostic exists exactly to adjudicate this per corpus. Same
    // integer ×10⁶ quantization, same output shape as the raw-PQ twin.
    Reg("ivfpq_reconstruction_error",
      (s, dir) => VecOps.ivfPqEncode(Tables(s, dir).embeddings, lists = 16)
        .withColumn("err", expr(
          "dot_f32(x, x) - 2 * dot_f32(x, cw) + dot_f32(cw, cw)"))
        .withColumn("err_x1e6", round(col("err") * 1000000).cast("long"))
        .groupBy(col("s"))
        .agg(count(lit(1)).as("n"),
          sum(col("err_x1e6")).as("sum_err_x1e6"),
          max(col("err_x1e6")).as("max_err_x1e6"))
        .orderBy("s"),
      Some(s"""
        WITH $ivfpqEncCtes,
        e AS (
          SELECT s, CAST(round(
                   (list_sum(list_transform(range(1, 17), i -> x[i]::DOUBLE * x[i]::DOUBLE))
                    - 2 * list_sum(list_transform(range(1, 17), i -> x[i]::DOUBLE * cw[i]::DOUBLE))
                    + list_sum(list_transform(range(1, 17), i -> cw[i]::DOUBLE * cw[i]::DOUBLE)))
                   * 1000000) AS BIGINT) AS err_x1e6
          FROM rassign WHERE crank = 1)
        SELECT s, count(*) AS n,
               CAST(sum(err_x1e6) AS BIGINT) AS sum_err_x1e6,
               max(err_x1e6) AS max_err_x1e6
        FROM e GROUP BY 1 ORDER BY 1
      """)),

    // ---- shortlist-then-refine ANN (the ELEVENTH index family) ----------
    // The production two-stage shape: int8 bucket rerank retrieves 10
    // candidates per query, full-float re-scoring cuts the final top-3
    // — compressed-index cost, near-exact ranking on the survivors.
    // All three consumers slice the session-shared top-3 relation
    // (round 14, ADVICE r13 — the ivfpqTop3Shared discipline).
    Reg("ann_refine_topk",
      (s, dir) => VecOps.refineTop3Shared(Tables(s, dir).embeddings, dir)
        .select(col("qid"), col("rank"), col("nid"),
          round(col("score"), 4).as("score"))
        .orderBy("qid", "rank"),
      Some(s"""
        WITH ${refineCoreCtes("")}
        SELECT qid, rank, nid, round(d, 4) AS score
        FROM rr WHERE rank <= 3
        ORDER BY qid, rank
      """)),

    // ---- hierarchical IVF-PQ (the lists ∝ n residual rung) --------------
    // The escalation BASELINE.md's refusal-arithmetic row names, shipped:
    // the fixed-lists ivfpq family's coarse quantizer replaced by the
    // two-level machinery (scaled-k Lloyd table + hierIndex/hierAssign
    // routing — n·√k build-side dots where lists ∝ n makes the flat
    // broadcast argmax the retired O(n·k) window class), residual PQ and
    // asymmetric re-scoring on top exactly as in ann_ivfpq_topk. Shares
    // the session Lloyd centroid table with the semdedup/hier family;
    // residual/recon arrays are bit-identical cross-engine (the oracle
    // casts its double-snapped means to FLOAT before subtracting — see
    // ivfPqHierTopK's scaladoc).
    Reg("ann_ivfpq_hier_topk",
      (s, dir) => {
        val emb = Tables(s, dir).embeddings
        VecOps.ivfpqHierTop3Shared(emb, dir)
          .select(col("qid"), col("rank"), col("nid"),
            round(col("score"), 4).as("score"))
          .orderBy("qid", "rank")
      },
      Some(s"""
        WITH ${ivfpqHierCtes(2)}
        SELECT qid, rank, nid, round(d, 4) AS score
        FROM hr WHERE rank <= 3
        ORDER BY qid, rank
      """)),

    // ---- hier IVF + prefix-prescored refine (the THIRTEENTH family) -----
    // Round 14: the hier family's rescore bound as a graded rung (the
    // VERDICT r13 watch item — ivf_hier's 1000× row is dominated by
    // full-precision-scoring every candidate in the probed cells). Same
    // coarse→fine routing as ivf_hier_topk; candidates pre-score on the
    // leading 32 dims only (matryoshka-head discipline: half the
    // arithmetic and shuffled bytes), a bounded heap keeps 16 per query
    // on (prefix-dot DESC, nid), and only those pairs fetch full
    // vectors for the exact top-3. Full-dot cost per query:
    // shortlist-sized (16 vs E[cell]·fprobes ≈ 256). The prefix recall
    // trade was MEASURED across the dial before picking (32, 16) —
    // 0.480 vs unrefined hier's 0.643 on this worst-case near-uniform
    // fixture; see ivfHierRefineTopK's scaladoc for the full curve.
    // All three consumers slice the session-shared top-3.
    Reg("ivf_hier_refine_topk",
      (s, dir) => VecOps.hierRefineTop3Shared(Tables(s, dir).embeddings, dir)
        .select(col("qid"), col("rank"), col("nid"),
          round(col("score"), 4).as("score"))
        .orderBy("qid", "rank"),
      Some(s"""
        WITH $hierRefineCoreCtes
        SELECT qid, rank, nid, round(d, 4) AS score
        FROM rr WHERE rank <= 3
        ORDER BY qid, rank
      """))
  ) ++ annFamilies.flatMap { f =>
    Seq(
      Reg(s"ann_recall_${f.suffix}",
        (s, dir) => annRecall3(Tables(s, dir).embeddings, dir, f.top3),
        Some(recall3OracleSql(f.idxCtes))),
      Reg(s"ann_ndcg_${f.suffix}",
        (s, dir) => annNdcg3(Tables(s, dir).embeddings, dir, f.top3),
        Some(ndcg3OracleSql(f.idxCtes))))
  }
}
