package graft.text

import graft.{Reg, Tables}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Graded text / dedup / analysis queries over `documents` (SURVEY.md §1.2
  * LLM-pipeline surface). All hashing is md5-based so every DuckDB oracle
  * can reproduce it exactly (see TextOps). Fixture facts (FIXTURES.md):
  * 31-word ASCII vocab, 10–100 tokens/doc; trigram-shingle Jaccard has a
  * clean gap — pairs are either ≥ 0.9 or ≤ 0.07 at sf0.01 — so the 0.5
  * near-dup threshold is boundary-safe. */
object TextQueries {

  // 5 of the 31 vocabulary words serve as the "stopword" list
  private val stopwords = Seq("the", "a", "data", "value", "key")

  /** jaccard_bigram_pairs docfreq CEILING (part of the oracle contract —
    * change BOTH sides or neither): grams appearing in more than this
    * many docs of a (lang, source) block are dropped as non-
    * discriminative boilerplate BEFORE the self-join. An ABSOLUTE
    * constant on purpose — it bounds join fan-out per (block, gram) key
    * at C² rows regardless of corpus size, which is what keeps the
    * operator linear at 100× (a relative ceiling f·|block| would still
    * admit O((f·B)²) per gram). 64 is binding at sf0.1 (blocks reach
    * ~112 docs) yet leaves the pair set non-trivial at every fixture
    * scale. */
  private[graft] val JaccardDfCeiling = 64

  /** Benchmark-decontamination Spark fn + oracle, shared verbatim with
    * the streaming twin (`streaming_decontam_overlap`): the hit set
    * {(eval doc, gram) : gram seen in ANY train doc} is a monotone UNION
    * over micro-batches — a pair hit by some batch is hit by the full
    * corpus and vice versa — so the screen's accumulated distinct hits
    * equal this batch semi-join under any batching. Edits apply to both
    * consumers or neither. Contamination verdict: ≥ 80% of an eval doc's
    * distinct 5-grams appear somewhere in the training split (integer
    * cross-multiplication, no float threshold). */
  private[graft] val decontaminationFn
      : (org.apache.spark.sql.SparkSession, String) => org.apache.spark.sql.DataFrame =
    (s, dir) => {
      val docs = Tables(s, dir).documents
      val evalG = docs.filter(col("source") === "src0")
        .select(col("doc_id"), explode(TextOps.shingles(col("text"), 5)).as("g"))
      val trainG = docs.filter(col("source") =!= "src0")
        .select(explode(TextOps.shingles(col("text"), 5)).as("g")).distinct()
      val totals = evalG.groupBy(col("doc_id")).agg(count(lit(1)).as("n_grams"))
      val hits = evalG.join(trainG, Seq("g"), "left_semi")
        .groupBy(col("doc_id")).agg(count(lit(1)).as("n_hit"))
      totals.join(hits, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_grams"),
          coalesce(col("n_hit"), lit(0L)).as("n_hit"),
          (coalesce(col("n_hit"), lit(0L)) * 10 >= col("n_grams") * 8)
            .as("is_contaminated"))
        .orderBy("doc_id")
    }

  private[graft] val decontaminationOracle: String = """
        WITH t AS (SELECT doc_id, source, string_split(trim(text), ' ') AS ws
                   FROM documents),
        sh AS (SELECT doc_id, source,
                      list_distinct([array_to_string(ws[i:i+4], ' ')
                                     FOR i IN range(1, len(ws) - 3)]) AS s
               FROM t WHERE len(ws) >= 5),
        ev AS (SELECT doc_id, unnest(s) AS g FROM sh WHERE source = 'src0'),
        tr AS (SELECT DISTINCT unnest(s) AS g FROM sh WHERE source <> 'src0'),
        tot AS (SELECT doc_id, count(*) AS n_grams FROM ev GROUP BY 1),
        hit AS (SELECT ev.doc_id, count(*) AS n_hit
                FROM ev JOIN tr ON ev.g = tr.g GROUP BY 1)
        SELECT tot.doc_id, tot.n_grams,
               coalesce(hit.n_hit, 0) AS n_hit,
               coalesce(hit.n_hit, 0) * 10 >= tot.n_grams * 8 AS is_contaminated
        FROM tot LEFT JOIN hit ON tot.doc_id = hit.doc_id
        ORDER BY tot.doc_id
      """

  /** DSIR oracle, shared verbatim with the streaming twin
    * (`streaming_dsir_weights`): every piece of screen state is ADDITIVE
    * — per-bucket target/raw counts and per-(doc, bucket) token counts
    * sum across micro-batches to exactly the batch aggregates (each doc
    * arrives in one batch; bucket counts are plain sums) — and the
    * read-out computes the log-ratio table and doc weights on the FINAL
    * counts, so the drained output equals this batch SQL row-for-row
    * under any batching. Edits apply to both consumers or neither. */
  private[graft] val dsirOracle: String = """
        WITH tok AS (SELECT doc_id, source, unnest(string_split(trim(text), ' ')) AS w
                     FROM documents),
        tb AS (SELECT doc_id, source,
                      ('0x' || substr(md5(w), 1, 15))::BIGINT % 64 AS b FROM tok),
        raw AS (SELECT b, count(*) AS cr FROM tb GROUP BY 1),
        tgt AS (SELECT b, count(*) AS ct FROM tb WHERE source = 'src0' GROUP BY 1),
        tt AS (SELECT CAST(sum(ct) AS BIGINT) AS nt FROM tgt),
        tr AS (SELECT CAST(sum(cr) AS BIGINT) AS nr FROM raw),
        lr AS (SELECT raw.b,
                      CAST(round(((ln(CAST(coalesce(tgt.ct, 0) + 1 AS DOUBLE))
                                     + ln(CAST(tr.nr + 64 AS DOUBLE)))
                                  - (ln(CAST(raw.cr + 1 AS DOUBLE))
                                     + ln(CAST(tt.nt + 64 AS DOUBLE))))
                                 * CAST(1000000 AS DOUBLE)) AS BIGINT) AS lr_um
               FROM raw LEFT JOIN tgt ON raw.b = tgt.b, tt, tr)
        SELECT tb.doc_id, count(*) AS n_tokens, CAST(sum(lr.lr_um) AS BIGINT) AS logw_um
        FROM tb JOIN lr ON tb.b = lr.b
        GROUP BY 1 ORDER BY doc_id
      """

  /** The DSIR add-one log-ratio in micros, SPLIT-LN form (round 14,
    * VERDICT r13 #4): ln((ct+1)(nr+64) / ((cr+1)(nt+64))) computed as
    * (ln(ct+1) + ln(nr+64)) − (ln(cr+1) + ln(nt+64)) — four lns of
    * EXACT-integer doubles summed in a fixed association, never an
    * integer product. The retired single-ln form multiplied two counts
    * inside a BIGINT: safe while the product stays < 2⁵³ (every graded
    * SF), but a true 100 TB corpus (nr ~ 10¹⁴ tokens) overflows int64
    * itself — ANSI would fail the query loudly, and the double-exactness
    * envelope breaks far earlier. Each FACTOR is a count ≤ the corpus
    * token total, exact in double well past 100 TB, so the split form
    * has no envelope at all (the SGT/kn ln-of-integers discipline).
    * Association is part of the cross-engine contract: the oracle
    * mirrors the exact (A + B) − (C + D) tree, so both engines execute
    * the identical IEEE op sequence. Shared by the batch query and the
    * streaming twin; column names (ct, cr, nt, nr) must be in scope.
    * DsirSplitLnSpec forces the wide case. */
  private[graft] val dsirLrUmExpr: String =
    "CAST(round(((ln(CAST(ct + 1 AS DOUBLE)) + ln(CAST(nr + 64 AS DOUBLE)))" +
      " - (ln(CAST(cr + 1 AS DOUBLE)) + ln(CAST(nt + 64 AS DOUBLE))))" +
      " * CAST(1000000 AS DOUBLE)) AS BIGINT)"

  /** Session-shared forms of the two Gopher signal relations (round 16,
    * guide §2.4): `gopher_filter_funnel` replayed BOTH full signal
    * pipelines that `gopher_quality_filter` / `gopher_repetition_filter`
    * had already derived — the 5-gram/3-gram/2-gram explode+agg machinery
    * three times per bench rep. Both relations are output-sized (one row
    * per doc), so they go through the bounded [[graft.Shared]] registry;
    * the relations are identical, so every consumer's output (and its
    * oracle) is untouched. */
  private def gopherQualityShared(
      s: org.apache.spark.sql.SparkSession, dir: String) =
    graft.Shared.relation(s, dir, "gopher-quality-signals")(
      gopherQualitySignals(Tables(s, dir).documents))

  private def gopherRepetitionShared(
      s: org.apache.spark.sql.SparkSession, dir: String) =
    graft.Shared.relation(s, dir, "gopher-repetition-signals")(
      gopherRepetitionSignals(Tables(s, dir).documents))

  /** Session-shared blocked-bigram candidate pair relation —
    * (a_id, b_id, inter, na, nb) over df ∈ [2, JaccardDfCeiling] grams,
    * a_id < b_id — everything `jaccard_bigram_pairs` and
    * `containment_bigram_pairs` compute BEFORE their score/threshold
    * (round 16; the two queries were running the identical explode +
    * band-pass window + blocked self-join machinery back to back).
    * Output-sized: pairs sharing ≥ 1 banded gram, fan-out ≤ C² per
    * (block, gram) key — the same bound both consumers already rode. */
  private def bigramCandPairsShared(
      s: org.apache.spark.sql.SparkSession, dir: String) =
    graft.Shared.relation(s, dir, "bigram-cand-pairs") {
      val sh = Tables(s, dir).documents
        .select(col("lang"), col("source"), col("doc_id"),
          explode(TextOps.shingles(col("text"), 2)).as("shingle"))
      val withDf = sh
        .withColumn("df", count(lit(1)).over(
          org.apache.spark.sql.expressions.Window
            .partitionBy(col("lang"), col("source"), col("shingle"))))
        .filter(col("df") <= JaccardDfCeiling)
      val sizes = withDf.groupBy(col("doc_id")).agg(count(lit(1)).as("n_sh"))
      val shj = withDf.filter(col("df") >= 2).drop("df")
      val a = shj.select(col("lang"), col("source"), col("shingle"),
        col("doc_id").as("a_id"))
      val b = shj.select(col("lang"), col("source"), col("shingle"),
        col("doc_id").as("b_id"))
      a.join(b, Seq("lang", "source", "shingle"))
        .filter(col("a_id") < col("b_id"))
        .groupBy(col("a_id"), col("b_id"))
        .agg(count(lit(1)).as("inter"))
        .join(sizes.select(col("doc_id").as("a_id"), col("n_sh").as("na")), "a_id")
        .join(sizes.select(col("doc_id").as("b_id"), col("n_sh").as("nb")), "b_id")
    }

  /** Per-doc Gopher quality-gate signals — (doc_id, n_tokens,
    * mean_word_len, n_stop), shared by `gopher_quality_filter` and the
    * funnel. The 4-dp mean is the token_stats avg_token_len expression
    * verbatim. */
  private def gopherQualitySignals(
      docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val t = TextOps.tokens(col("text"))
    val stopArr = array(stopwords.map(lit): _*)
    docs.select(
      col("doc_id"),
      size(t).as("n_tokens"),
      round(expr("aggregate(transform(split(trim(text), ' '), x -> length(x)), 0, (s, x) -> s + x)")
        .cast("double") / size(t), 4).as("mean_word_len"),
      size(array_intersect(array_distinct(t), stopArr)).as("n_stop"))
  }

  /** Per-doc Gopher repetition-gate signals — (doc_id, top2_ppm,
    * top3_ppm, dup5_ppm), shared by `gopher_repetition_filter` and the
    * funnel. Char-fraction ppm of the top 2-/3-gram and of all
    * duplicated 5-grams; doc-partitioned windows only. */
  private def gopherRepetitionSignals(
      docsIn: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val docs = docsIn
      .select(col("doc_id"), col("text"), length(col("text")).as("tlen"))
    val ppm = "CAST(round(CAST(chars AS DOUBLE) / CAST(tlen AS DOUBLE)" +
      " * CAST(1000000 AS DOUBLE)) AS BIGINT)"
    def topFrac(n: Int, alias: String) = {
      val w = Window.partitionBy(col("doc_id"))
        .orderBy(col("cnt").desc, col("g"))
      docs.select(col("doc_id"), col("tlen"),
          explode(TextOps.shinglesAll(col("text"), n)).as("g"))
        .groupBy(col("doc_id"), col("tlen"), col("g"))
        .agg(count(lit(1)).as("cnt"))
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") === 1)
        .withColumn("chars", col("cnt") * length(col("g")))
        .select(col("doc_id"), expr(ppm).as(alias))
    }
    val dup5 = docs.select(col("doc_id"), col("tlen"),
        explode(TextOps.shinglesAll(col("text"), 5)).as("g"))
      .groupBy(col("doc_id"), col("tlen"), col("g"))
      .agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") > 1)
      .groupBy(col("doc_id"), col("tlen"))
      .agg(sum(col("cnt") * length(col("g"))).as("chars"))
      .select(col("doc_id"), expr(ppm).as("dup5_ppm"))
    docs.select(col("doc_id"))
      .join(topFrac(2, "top2_ppm"), Seq("doc_id"), "left")
      .join(topFrac(3, "top3_ppm"), Seq("doc_id"), "left")
      .join(dup5, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("top2_ppm"), lit(0L)).as("top2_ppm"),
        coalesce(col("top3_ppm"), lit(0L)).as("top3_ppm"),
        coalesce(col("dup5_ppm"), lit(0L)).as("dup5_ppm"))
  }

  /** The weighted-jaccard oracle, shared verbatim with the streaming twin
    * (`streaming_wj_neardup`): the incremental screen's candidate set is
    * a superset of every final-df-banded gram-sharing pair under any
    * micro-batching (df only grows, so a pair whose shared gram ends in
    * the [2, ceiling] band was in-band when its later member arrived),
    * and the read-out re-scores candidates EXACTLY on the final corpus —
    * so the drained output equals this batch SQL row-for-row. Edits
    * apply to both consumers or neither. */
  private[graft] val weightedJaccardOracle: String = s"""
        WITH t AS (SELECT doc_id, lang, source,
                          list_distinct(string_split(trim(text), ' ')) AS ws
                   FROM documents),
        g0 AS (SELECT doc_id, lang, source, unnest(ws) AS w FROM t),
        df AS (SELECT lang, source, w, count(*) AS df FROM g0 GROUP BY 1, 2, 3),
        nb AS (SELECT lang, source, count(*) AS n_docs FROM documents GROUP BY 1, 2),
        g AS (SELECT g0.doc_id, g0.lang, g0.source, g0.w, df.df,
                     CAST(round(ln(CAST(nb.n_docs AS DOUBLE) / CAST(df.df AS DOUBLE))
                       * CAST(1000000 AS DOUBLE)) AS BIGINT) AS idf_um
              FROM g0 JOIN df USING (lang, source, w)
                      JOIN nb USING (lang, source)
              WHERE df.df <= $JaccardDfCeiling),
        sums AS (SELECT doc_id, CAST(sum(idf_um) AS BIGINT) AS w_total
                 FROM g GROUP BY 1),
        p AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id,
                     count(*) AS n_common, CAST(sum(a.idf_um) AS BIGINT) AS inter_w
              FROM g a JOIN g b
                ON a.lang = b.lang AND a.source = b.source
               AND a.w = b.w AND a.doc_id < b.doc_id
              WHERE a.df >= 2 AND b.df >= 2
              GROUP BY 1, 2)
        SELECT a_id, b_id, CAST(n_common AS BIGINT) AS n_common, inter_w,
               CAST(sa.w_total + sb.w_total - inter_w AS BIGINT) AS uni_w,
               CAST(round(CAST(inter_w AS DOUBLE)
                 / CAST(sa.w_total + sb.w_total - inter_w AS DOUBLE)
                 * CAST(1000000 AS DOUBLE)) AS BIGINT) AS wj_um
        FROM p JOIN sums sa ON sa.doc_id = a_id
               JOIN sums sb ON sb.doc_id = b_id
        WHERE sa.w_total + sb.w_total - inter_w > 0
          AND inter_w * 10 >= (sa.w_total + sb.w_total - inter_w) * 3
        ORDER BY a_id, b_id
      """

  /** The two near-dup pair relations, derived ONCE per session via the
    * bounded [[graft.Shared]] registry (round-6 verdict lever (d)): the
    * MinHash-LSH Jaccard >= 0.5 set feeds 4 graded queries
    * (neardup_minhash_lsh / _dup_groups / _keep_by_quality /
    * _signal_agreement), the SimHash hd <= 1 set feeds 2. Both are
    * output-sized pair lists; the underlying TextOps pipelines remain
    * single-pass and cache-free (CacheLifecycleSpec). */
  private def mhPairs(s: org.apache.spark.sql.SparkSession, dir: String) =
    graft.Shared.relation(s, dir, "neardup_pairs_n3_b8_r2_j05")(
      TextOps.nearDupPairs(Tables(s, dir).documents, n = 3,
        bands = 8, rowsPerBand = 2, minJaccard = 0.5))
  private def shPairs(s: org.apache.spark.sql.SparkSession, dir: String) =
    graft.Shared.relation(s, dir, "simhash_pairs_c2_b30_hd1")(
      TextOps.simhashNearDupPairs(Tables(s, dir).documents, chunks = 2,
        bitsPerChunk = 30, maxHd = 1))

  val all: Seq[Reg] = Seq(

    // ---- exact dedup on normalized text ---------------------------------
    Reg("dedup_exact",
      (s, dir) => Tables(s, dir).documents
        .groupBy(md5(lower(trim(col("text")))).as("text_hash"))
        .agg(count(lit(1)).as("n_copies"), min(col("doc_id")).as("keep_id"))
        .orderBy("text_hash"),
      Some("""
        SELECT md5(lower(trim(text))) AS text_hash,
               count(*) AS n_copies, min(doc_id) AS keep_id
        FROM documents
        GROUP BY 1 ORDER BY 1
      """)),

    // ---- duplicate token-set groups (unigram Jaccard = 1.0) -------------
    Reg("dedup_tokenset",
      (s, dir) => Tables(s, dir).documents
        .groupBy(md5(array_join(array_sort(array_distinct(TextOps.tokens(col("text")))), " ")).as("set_hash"))
        .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("keep_id"))
        .filter(col("n_docs") > 1)
        .orderBy("set_hash"),
      Some("""
        SELECT md5(array_to_string(list_sort(list_distinct(string_split(trim(text), ' '))), ' ')) AS set_hash,
               count(*) AS n_docs, min(doc_id) AS keep_id
        FROM documents
        GROUP BY 1 HAVING count(*) > 1 ORDER BY 1
      """)),

    // ---- near-dup via MinHash + LSH banding + exact Jaccard verify ------
    // Oracle is the brute-force all-pairs Jaccard: the fixture's score gap
    // (≥0.9 vs ≤0.07) plus 8 bands × 2 rows makes LSH recall 1.0 here
    // (miss probability ≤ (1-0.9²)^8 ≈ 6e-7 per true pair).
    Reg("neardup_minhash_lsh",
      (s, dir) => mhPairs(s, dir)
        .select(col("doc_a"), col("doc_b"), round(col("jaccard"), 4).as("jaccard"))
        .orderBy("doc_a", "doc_b"),
      Some("""
        WITH tok AS (SELECT doc_id, string_split(trim(text), ' ') AS ws FROM documents),
        sh AS (SELECT doc_id, list_distinct(list_transform(range(1, len(ws) - 1),
                      i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS sset
               FROM tok),
        p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                     len(list_intersect(a.sset, b.sset)) AS inter,
                     len(a.sset) AS na, len(b.sset) AS nb
              FROM sh a JOIN sh b ON a.doc_id < b.doc_id)
        SELECT doc_a, doc_b,
               round(CAST(inter AS DOUBLE) / (na + nb - inter), 4) AS jaccard
        FROM p
        WHERE CAST(inter AS DOUBLE) / (na + nb - inter) >= 0.5
        ORDER BY doc_a, doc_b
      """)),

    // ---- near-dup CLUSTERS + keep-list (pairs → groups → survivors) -----
    // Completes the corpus-dedup story: connected components over the
    // near-dup pair relation via iterative min-label propagation, then one
    // row per duplicate cluster — (cluster_id = min doc_id, n_docs,
    // keep_id = the survivor). Oracle: the same pair relation closed with
    // a recursive CTE. keep_id equals cluster_id by the min-survivor
    // policy; both are emitted to grade the policy explicitly.
    Reg("neardup_dup_groups",
      (s, dir) => {
        val pairs = mhPairs(s, dir)
        TextOps.connectedComponents(pairs)
          .groupBy(col("label").as("cluster_id"))
          .agg(count(lit(1)).as("n_docs"), min(col("node")).as("keep_id"))
          .orderBy("cluster_id")
      },
      Some("""
        WITH RECURSIVE
        tok AS (SELECT doc_id, string_split(trim(text), ' ') AS ws FROM documents),
        sh AS (SELECT doc_id, list_distinct(list_transform(range(1, len(ws) - 1),
                      i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS sset
               FROM tok),
        p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                     len(list_intersect(a.sset, b.sset)) AS inter,
                     len(a.sset) AS na, len(b.sset) AS nb
              FROM sh a JOIN sh b ON a.doc_id < b.doc_id),
        pr AS (SELECT doc_a, doc_b FROM p
               WHERE CAST(inter AS DOUBLE) / (na + nb - inter) >= 0.5),
        edges AS (SELECT doc_a AS a, doc_b AS b FROM pr
                  UNION SELECT doc_b, doc_a FROM pr),
        reach(a, b) AS (
          SELECT DISTINCT a, a FROM edges
          UNION
          SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
        comp AS (SELECT a AS doc_id, min(b) AS cluster_id FROM reach GROUP BY 1)
        SELECT cluster_id, count(*) AS n_docs, min(doc_id) AS keep_id
        FROM comp GROUP BY 1 ORDER BY 1
      """)),

    // ---- near-dup survivorship by QUALITY (the production keep rule) ----
    // neardup_dup_groups keeps min-doc_id; real curation keeps the BEST
    // doc per cluster. Same pair relation + label propagation, then the
    // graded quality score picks the survivor (quality DESC, doc_id
    // tie-break — the 4-decimal qualities are identical doubles on both
    // engines per quality_score, so the ranking is fully determined).
    // keep_quality ships as a ×10⁴ BIGINT.
    Reg("neardup_keep_by_quality",
      (s, dir) => {
        val docs = Tables(s, dir).documents
        val pairs = mhPairs(s, dir)
        val comp = TextOps.connectedComponents(pairs)
        val t = TextOps.tokens(col("text"))
        val stopArr = array(stopwords.map(lit): _*)
        val qual = docs.select(col("doc_id"),
            round(size(array_intersect(array_distinct(t), stopArr)).cast("double")
              / size(array_distinct(t)), 4).as("stop_ratio"),
            round(size(array_distinct(t)).cast("double") / size(t), 4).as("ttr"))
          .withColumn("quality",
            round(col("ttr") * 0.4 + (lit(1.0) - col("stop_ratio")) * 0.6, 4))
          .select(col("doc_id"), col("quality"))
        val w = Window.partitionBy(col("label"))
          .orderBy(col("quality").desc, col("node"))
        comp.join(qual, comp("node") === qual("doc_id"))
          .withColumn("rk", row_number().over(w))
          .groupBy(col("label").as("cluster_id"))
          .agg(count(lit(1)).as("n_docs"),
            max(when(col("rk") === 1, col("node"))).as("keep_id"),
            max(when(col("rk") === 1,
              round(col("quality") * 10000).cast("long"))).as("keep_quality_x1e4"))
          .orderBy("cluster_id")
      },
      Some(s"""
        WITH RECURSIVE
        tok AS (SELECT doc_id, string_split(trim(text), ' ') AS ws FROM documents),
        sh AS (SELECT doc_id, list_distinct(list_transform(range(1, len(ws) - 1),
                      i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS sset
               FROM tok),
        p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                     len(list_intersect(a.sset, b.sset)) AS inter,
                     len(a.sset) AS na, len(b.sset) AS nb
              FROM sh a JOIN sh b ON a.doc_id < b.doc_id),
        pr AS (SELECT doc_a, doc_b FROM p
               WHERE CAST(inter AS DOUBLE) / (na + nb - inter) >= 0.5),
        edges AS (SELECT doc_a AS a, doc_b AS b FROM pr
                  UNION SELECT doc_b, doc_a FROM pr),
        reach(a, b) AS (
          SELECT DISTINCT a, a FROM edges
          UNION
          SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
        comp AS (SELECT a AS doc_id, min(b) AS cluster_id FROM reach GROUP BY 1),
        q AS (SELECT doc_id,
                     round(round(CAST(len(list_distinct(ws)) AS DOUBLE) / len(ws), 4) * 0.4
                           + (1.0 - round(CAST(len(list_intersect(list_distinct(ws),
                                ${stopwords.map(w => s"'$w'").mkString("[", ", ", "]")})) AS DOUBLE)
                              / len(list_distinct(ws)), 4)) * 0.6, 4) AS quality
              FROM tok),
        r AS (SELECT c.cluster_id, c.doc_id, q.quality,
                     row_number() OVER (PARTITION BY c.cluster_id
                                        ORDER BY q.quality DESC, c.doc_id) AS rk
              FROM comp c JOIN q ON q.doc_id = c.doc_id)
        SELECT cluster_id, count(*) AS n_docs,
               max(CASE WHEN rk = 1 THEN doc_id END) AS keep_id,
               CAST(max(CASE WHEN rk = 1 THEN round(quality * 10000) END) AS BIGINT)
                 AS keep_quality_x1e4
        FROM r GROUP BY 1 ORDER BY 1
      """)),

    // ---- deterministic hash sampling (corpus subsampling) ---------------
    // The 100 TB subsampling op: a pure filter on a content-independent
    // doc_id hash — no shuffle, no RNG (Spark's sample() is seed+partition
    // dependent, unreproducible across engines and relayouts; an md5
    // bucket is stable under repartitioning, engine-portable, and gives
    // the same split every run). Also the train/test-split primitive.
    Reg("sample_hash_10pct",
      (s, dir) => Tables(s, dir).documents
        .filter(TextOps.hash60(col("doc_id").cast("string")) % 10 === 0)
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
        .orderBy("doc_id"),
      Some("""
        SELECT doc_id, lang, source, n_chars
        FROM documents
        WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 10 = 0
        ORDER BY doc_id
      """)),

    // ---- stratified sampling: fixed quota per stratum -------------------
    // Balanced per-source quotas via row_number over the hash order —
    // the "N examples per domain/language" curation op. One shuffle on
    // the stratum key; the hash order makes the quota deterministic and
    // engine-portable (ties broken by doc_id).
    Reg("sample_stratified_source",
      (s, dir) => {
        val h = TextOps.hash60(col("doc_id").cast("string"))
        val w = Window.partitionBy(col("source")).orderBy(h, col("doc_id"))
        Tables(s, dir).documents
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") <= 20)
          .select(col("source"), col("rn"), col("doc_id"), col("lang"))
          .orderBy("source", "rn")
      },
      Some("""
        WITH r AS (
          SELECT source, doc_id, lang,
                 row_number() OVER (
                   PARTITION BY source
                   ORDER BY ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT,
                            doc_id) AS rn
          FROM documents)
        SELECT source, rn, doc_id, lang
        FROM r WHERE rn <= 20
        ORDER BY source, rn
      """)),

    // ---- end-to-end curation funnel (integration showcase) --------------
    // The canonical corpus-curation pipeline as ONE query: language
    // filter → quality threshold → exact-dedup survivors, with per-stage
    // counts. One row out, all BIGINT: at 100 TB each stage is a filter
    // or hash-agg over the previous — the funnel adds no join beyond the
    // final single-row cross of two aggregates. Threshold 0.7 compares
    // identical 4-dp doubles on both engines (quality_score hash-matches),
    // so the stage sets agree exactly.
    Reg("curation_funnel",
      (s, dir) => {
        val t = TextOps.tokens(col("text"))
        val stopArr = array(stopwords.map(lit): _*)
        val scored = Tables(s, dir).documents.select(
          col("doc_id"), col("lang"), col("text"),
          round(
            round(size(array_distinct(t)).cast("double") / size(t), 4) * 0.4 +
              (lit(1.0) - round(size(array_intersect(array_distinct(t), stopArr)).cast("double")
                / size(array_distinct(t)), 4)) * 0.6, 4).as("quality"))
        val counts = scored.agg(
          count(lit(1)).as("n_total"),
          count(when(col("lang") === "en", 1)).as("n_lang_en"),
          count(when(col("lang") === "en" && col("quality") >= 0.7, 1)).as("n_quality"))
        val survivors = scored
          .filter(col("lang") === "en" && col("quality") >= 0.7)
          .groupBy(md5(lower(trim(col("text")))))
          .agg(min(col("doc_id")).as("keep_id"))
          .agg(count(lit(1)).as("n_after_dedup"))
        counts.crossJoin(survivors)
      },
      Some(s"""
        WITH t AS (SELECT doc_id, lang, text, string_split(trim(text), ' ') AS ws FROM documents),
        f AS (SELECT doc_id, lang, text,
                     round(round(CAST(len(list_distinct(ws)) AS DOUBLE) / len(ws), 4) * 0.4 +
                           (1.0 - round(CAST(len(list_intersect(list_distinct(ws),
                              ${stopwords.map(w => s"'$w'").mkString("[", ", ", "]")})) AS DOUBLE)
                              / len(list_distinct(ws)), 4)) * 0.6, 4) AS quality
              FROM t),
        c AS (SELECT count(*) AS n_total,
                     count(*) FILTER (lang = 'en') AS n_lang_en,
                     count(*) FILTER (lang = 'en' AND quality >= 0.7) AS n_quality
              FROM f),
        d AS (SELECT count(*) AS n_after_dedup FROM (
                SELECT min(doc_id) FROM f
                WHERE lang = 'en' AND quality >= 0.7
                GROUP BY md5(lower(trim(text)))))
        SELECT n_total, n_lang_en, n_quality, n_after_dedup FROM c, d
      """)),

    // ---- per-source curation quotas (quality-ordered cap sampling) ------
    // The production data-mixing rule: each source gets a quota and
    // contributes its top-quality documents up to that cap — "N best
    // examples per domain", the step after stratified sampling when the
    // mix is quality-aware. Quotas here derive deterministically from the
    // source name (10/20/30 via the md5 hash, mirrored in the oracle) so
    // the query needs no side table; in production the quota map is a
    // broadcast dim. One shuffle on the stratum key; the rank pass caps
    // per-source state at the quota, so skewed sources can't flood the
    // output. Quality is the 4-dp hash-exact score of quality_score.
    Reg("curation_quota_mix",
      (s, dir) => {
        val t = TextOps.tokens(col("text"))
        val stopArr = array(stopwords.map(lit): _*)
        val scored = Tables(s, dir).documents.select(
          col("doc_id"), col("source"),
          round(
            round(size(array_distinct(t)).cast("double") / size(t), 4) * 0.4 +
              (lit(1.0) - round(size(array_intersect(array_distinct(t), stopArr)).cast("double")
                / size(array_distinct(t)), 4)) * 0.6, 4).as("quality"))
        val quota = (TextOps.hash60(col("source")) % 3) * 10 + 10
        val w = Window.partitionBy(col("source"))
          .orderBy(col("quality").desc, col("doc_id"))
        scored
          .withColumn("quota", quota)
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") <= col("quota"))
          .select(col("source"), col("rn"), col("doc_id"), col("quota"),
            round(col("quality") * 10000).cast("long").as("quality_x1e4"))
          .orderBy("source", "rn")
      },
      Some(s"""
        WITH tok AS (SELECT doc_id, source, string_split(trim(text), ' ') AS ws FROM documents),
        f AS (SELECT doc_id, source,
                     round(round(CAST(len(list_distinct(ws)) AS DOUBLE) / len(ws), 4) * 0.4 +
                           (1.0 - round(CAST(len(list_intersect(list_distinct(ws),
                              ${stopwords.map(w => s"'$w'").mkString("[", ", ", "]")})) AS DOUBLE)
                              / len(list_distinct(ws)), 4)) * 0.6, 4) AS quality,
                     ('0x' || substr(md5(source), 1, 15))::BIGINT % 3 * 10 + 10 AS quota
              FROM tok),
        r AS (SELECT source, doc_id, quality, quota,
                     row_number() OVER (PARTITION BY source
                                        ORDER BY quality DESC, doc_id) AS rn
              FROM f)
        SELECT source, rn, doc_id, quota,
               CAST(round(quality * 10000) AS BIGINT) AS quality_x1e4
        FROM r WHERE rn <= quota
        ORDER BY source, rn
      """)),

    // ---- token-budget fill (greedy quality-ordered selection) -----------
    // The "fill an N-token training budget" op: per source, take documents
    // in quality order until the cumulative token count reaches the
    // budget — a document is admitted iff the budget wasn't already
    // exhausted when it came up (the last one may overflow). Running sum
    // over integer token counts ⇒ exact on both engines; ties broken by
    // doc_id so the prefix is fully determined. Scale shape: one window
    // pass per source partition, no join — the 100 TB corpus version is
    // identical with the budget per (source, epoch).
    Reg("token_budget_fill",
      (s, dir) => {
        val t = TextOps.tokens(col("text"))
        val stopArr = array(stopwords.map(lit): _*)
        val scored = Tables(s, dir).documents.select(
          col("doc_id"), col("source"), size(t).as("n_tokens"),
          round(
            round(size(array_distinct(t)).cast("double") / size(t), 4) * 0.4 +
              (lit(1.0) - round(size(array_intersect(array_distinct(t), stopArr)).cast("double")
                / size(array_distinct(t)), 4)) * 0.6, 4).as("quality"))
        val w = Window.partitionBy(col("source"))
          .orderBy(col("quality").desc, col("doc_id"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        scored
          .withColumn("cum", sum(col("n_tokens")).over(w))
          .filter(col("cum") - col("n_tokens") < 1500)
          .groupBy(col("source"))
          .agg(count(lit(1)).as("n_docs_kept"),
            sum(col("n_tokens")).as("n_tokens_used"),
            min(round(col("quality") * 10000).cast("long")).as("cutoff_quality_x1e4"))
          .orderBy("source")
      },
      Some(s"""
        WITH tok AS (SELECT doc_id, source, string_split(trim(text), ' ') AS ws FROM documents),
        f AS (SELECT doc_id, source, len(ws) AS n_tokens,
                     round(round(CAST(len(list_distinct(ws)) AS DOUBLE) / len(ws), 4) * 0.4 +
                           (1.0 - round(CAST(len(list_intersect(list_distinct(ws),
                              ${stopwords.map(w => s"'$w'").mkString("[", ", ", "]")})) AS DOUBLE)
                              / len(list_distinct(ws)), 4)) * 0.6, 4) AS quality
              FROM tok),
        c AS (SELECT *, sum(n_tokens) OVER (PARTITION BY source
                ORDER BY quality DESC, doc_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
              FROM f)
        SELECT source, count(*) AS n_docs_kept,
               CAST(sum(n_tokens) AS BIGINT) AS n_tokens_used,
               CAST(min(round(quality * 10000)) AS BIGINT) AS cutoff_quality_x1e4
        FROM c WHERE cum - n_tokens < 1500
        GROUP BY 1 ORDER BY 1
      """)),

    // ---- data-mixing upsampling (integer epoch replication) -------------
    // Epoch-count mixing, the way production pretraining mixes actually
    // ship (wiki ×3, web ×1): an INTEGER weight per source, applied by
    // replicating each document w times with an epoch tag. Replication is
    // a map-side explode — no shuffle until the audit aggregation — and
    // integer weights keep the mixed corpus exactly countable (the
    // audit: n_rows_mixed = n_docs × w, token sums exact BIGINTs), unlike
    // fractional sampling whose realized mix is only approximate.
    // Weights derive from the source hash (1–3, oracle-mirrored); in
    // production they come from a broadcast mixing config.
    Reg("mixing_upsample_sources",
      (s, dir) => {
        val t = TextOps.tokens(col("text"))
        val wgt = TextOps.hash60(col("source")) % 3 + 1
        Tables(s, dir).documents
          .select(col("doc_id"), col("source"), size(t).as("n_tokens"),
            wgt.as("mix_weight"))
          .withColumn("epoch", explode(sequence(lit(1L), col("mix_weight"))))
          .groupBy(col("source"), col("mix_weight"))
          .agg(countDistinct(col("doc_id")).as("n_docs"),
            count(lit(1)).as("n_rows_mixed"),
            sum(col("n_tokens")).as("n_tokens_mixed"))
          .orderBy("source")
      },
      Some("""
        WITH t AS (SELECT doc_id, source,
                          len(string_split(trim(text), ' ')) AS n_tokens,
                          ('0x' || substr(md5(source), 1, 15))::BIGINT % 3 + 1 AS mix_weight
                   FROM documents),
        e AS (SELECT * FROM t, range(1, 4) r(i) WHERE r.i <= t.mix_weight)
        SELECT source, mix_weight,
               count(DISTINCT doc_id) AS n_docs,
               count(*) AS n_rows_mixed,
               CAST(sum(n_tokens) AS BIGINT) AS n_tokens_mixed
        FROM e GROUP BY 1, 2 ORDER BY 1
      """)),

    // ---- quality-proportional Bernoulli sampling ------------------------
    // CCNet-style weighted downsampling: each document survives with
    // probability equal to its quality score, decided by a deterministic
    // content-independent hash bucket (hash % 10⁴ < quality×10⁴) — the
    // same reproducibility argument as sample_hash_10pct, but weighted.
    // A pure filter: no shuffle, no RNG, stable under repartitioning,
    // identical sample every run and every engine. The per-source audit
    // grades it: sum_quality_x1e4 / 10⁴ is the expected keep count, and
    // n_kept is its realization — both exact integers.
    Reg("sample_weighted_quality",
      (s, dir) => {
        val t = TextOps.tokens(col("text"))
        val stopArr = array(stopwords.map(lit): _*)
        val scored = Tables(s, dir).documents.select(
          col("doc_id"), col("source"),
          round(
            round(size(array_distinct(t)).cast("double") / size(t), 4) * 0.4 +
              (lit(1.0) - round(size(array_intersect(array_distinct(t), stopArr)).cast("double")
                / size(array_distinct(t)), 4)) * 0.6, 4).as("quality"))
        val kept = TextOps.hash60(col("doc_id").cast("string")) % 10000 <
          round(col("quality") * 10000)
        scored.groupBy(col("source"))
          .agg(count(lit(1)).as("n_docs"),
            count(when(kept, 1)).as("n_kept"),
            sum(round(col("quality") * 10000).cast("long")).as("sum_quality_x1e4"))
          .orderBy("source")
      },
      Some(s"""
        WITH tok AS (SELECT doc_id, source, string_split(trim(text), ' ') AS ws FROM documents),
        f AS (SELECT doc_id, source,
                     round(round(CAST(len(list_distinct(ws)) AS DOUBLE) / len(ws), 4) * 0.4 +
                           (1.0 - round(CAST(len(list_intersect(list_distinct(ws),
                              ${stopwords.map(w => s"'$w'").mkString("[", ", ", "]")})) AS DOUBLE)
                              / len(list_distinct(ws)), 4)) * 0.6, 4) AS quality
              FROM tok)
        SELECT source, count(*) AS n_docs,
               count(*) FILTER (('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 10000
                                < round(quality * 10000)) AS n_kept,
               CAST(sum(CAST(round(quality * 10000) AS BIGINT)) AS BIGINT) AS sum_quality_x1e4
        FROM f GROUP BY 1 ORDER BY 1
      """)),

    // ---- SimHash fingerprints (md5-derived, engine-portable) ------------
    Reg("simhash_fingerprint",
      (s, dir) => TextOps.simhash(Tables(s, dir).documents)
        .orderBy("doc_id"),
      Some("""
        WITH tok AS (SELECT doc_id, unnest(list_distinct(string_split(trim(text), ' '))) AS w
                     FROM documents),
        h AS (SELECT doc_id, ('0x' || substr(md5(w), 1, 15))::BIGINT AS hv FROM tok),
        bits AS (SELECT doc_id, i,
                        sum(CASE WHEN (hv >> i) & 1 = 1 THEN 1 ELSE -1 END) AS s
                 FROM h, range(60) t(i) GROUP BY 1, 2)
        SELECT doc_id,
               CAST(sum(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << i) ELSE 0 END) AS BIGINT) AS simhash
        FROM bits GROUP BY 1 ORDER BY 1
      """)),

    // ---- SimHash near-dup pairs via chunk banding (hd <= 1) -------------
    // The scale path for simhash dedup: 2 chunks of 30 bits — pigeonhole
    // gives EXACT recall for hd <= 1, so the banded equi-join provably
    // equals the oracle's brute-force all-pairs scan.
    Reg("simhash_neardup_pairs",
      (s, dir) => shPairs(s, dir).orderBy("doc_a", "doc_b"),
      Some("""
        WITH tok AS (SELECT doc_id, unnest(list_distinct(string_split(trim(text), ' '))) AS w
                     FROM documents),
        h AS (SELECT doc_id, ('0x' || substr(md5(w), 1, 15))::BIGINT AS hv FROM tok),
        bits AS (SELECT doc_id, i,
                        sum(CASE WHEN (hv >> i) & 1 = 1 THEN 1 ELSE -1 END) AS s
                 FROM h, range(60) t(i) GROUP BY 1, 2),
        sh AS (SELECT doc_id,
                      CAST(sum(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << i) ELSE 0 END) AS BIGINT) AS simhash
               FROM bits GROUP BY 1)
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hd
        FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        WHERE bit_count(xor(a.simhash, b.simhash)) <= 1
        ORDER BY 1, 2
      """)),

    // ---- multi-signal near-dup agreement: MinHash vs SimHash ------------
    // The curation-tuning question "do my dedup signals agree?": the
    // Jaccard >= 0.5 pair set (MinHash-LSH path) full-outer-joined with
    // the hd <= 1 pair set (SimHash path), summarized as one row of
    // overlap counts. Both pipelines are the graded production shapes;
    // the join is a (doc_a, doc_b) equi-join of two SMALL pair relations
    // (output-sized, not corpus-sized), so agreement costs nothing extra
    // at 100 TB beyond the two signals themselves.
    Reg("neardup_signal_agreement",
      (s, dir) => {
        val mh = mhPairs(s, dir)
          .select(col("doc_a"), col("doc_b")).withColumn("in_mh", lit(1))
        val sh = shPairs(s, dir)
          .select(col("doc_a"), col("doc_b")).withColumn("in_sh", lit(1))
        mh.join(sh, Seq("doc_a", "doc_b"), "full_outer")
          .agg(count(col("in_mh")).as("n_minhash"),
            count(col("in_sh")).as("n_simhash"),
            count(when(col("in_mh").isNotNull && col("in_sh").isNotNull, 1)).as("n_both"),
            count(lit(1)).as("n_either"))
      },
      Some("""
        WITH tok AS (SELECT doc_id, string_split(trim(text), ' ') AS ws FROM documents),
        sh AS (SELECT doc_id, list_distinct(list_transform(range(1, len(ws) - 1),
                      i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS sset
               FROM tok),
        p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                     len(list_intersect(a.sset, b.sset)) AS inter,
                     len(a.sset) AS na, len(b.sset) AS nb
              FROM sh a JOIN sh b ON a.doc_id < b.doc_id),
        mh AS (SELECT doc_a, doc_b FROM p
               WHERE CAST(inter AS DOUBLE) / (na + nb - inter) >= 0.5),
        stok AS (SELECT doc_id, unnest(list_distinct(string_split(trim(text), ' '))) AS w
                 FROM documents),
        sh2 AS (SELECT doc_id, ('0x' || substr(md5(w), 1, 15))::BIGINT AS hv FROM stok),
        sbits AS (SELECT doc_id, i,
                         sum(CASE WHEN (hv >> i) & 1 = 1 THEN 1 ELSE -1 END) AS s
                  FROM sh2, range(60) t(i) GROUP BY 1, 2),
        ssh AS (SELECT doc_id,
                       CAST(sum(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << i) ELSE 0 END) AS BIGINT) AS simhash
                FROM sbits GROUP BY 1),
        sp AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
               FROM ssh a JOIN ssh b ON a.doc_id < b.doc_id
               WHERE bit_count(xor(a.simhash, b.simhash)) <= 1)
        SELECT count(m.doc_a) AS n_minhash, count(s.doc_a) AS n_simhash,
               count(CASE WHEN m.doc_a IS NOT NULL AND s.doc_a IS NOT NULL THEN 1 END) AS n_both,
               count(*) AS n_either
        FROM mh m FULL JOIN sp s ON m.doc_a = s.doc_a AND m.doc_b = s.doc_b
      """)),

    // ---- word burstiness / adaptation (round-10) ------------------------
    // Church & Gale's corpus-linguistics observation (1995, public): a
    // content word that occurs once in a document is far likelier to
    // recur there than its corpus frequency predicts, while function
    // words spread evenly. Two per-word measures over the 31-word
    // vocabulary: burstiness = tf/df (mean occurrences per containing
    // doc) and adaptation = P(k ≥ 2 | k ≥ 1) = df_multi/df — the signal
    // a quality filter uses to tell topical words from boilerplate glue.
    // Exact: all three sufficient statistics are int64 counts; the two
    // ratios are exact-integer quotients rounded to micros. Shape: one
    // (word, doc) hash agg → one word hash agg — two linear shuffles,
    // output bounded by |vocab|.
    Reg("word_burstiness",
      (s, dir) => {
        val perDoc = Tables(s, dir).documents
          .select(col("doc_id"), explode(TextOps.tokens(col("text"))).as("w"))
          .groupBy(col("w"), col("doc_id")).agg(count(lit(1)).as("k"))
        perDoc.groupBy(col("w"))
          .agg(count(lit(1)).as("df"), sum(col("k")).as("tf"),
            sum(when(col("k") >= 2L, 1L).otherwise(0L)).as("df_multi"))
          .select(col("w"), col("df"), col("tf"), col("df_multi"),
            expr("""CAST(round(CAST(tf AS DOUBLE) / CAST(df AS DOUBLE)
                    * CAST(1000000 AS DOUBLE)) AS BIGINT)""").as("burst_um"),
            expr("""CAST(round(CAST(df_multi AS DOUBLE) / CAST(df AS DOUBLE)
                    * CAST(1000000 AS DOUBLE)) AS BIGINT)""").as("adapt_um"))
          .orderBy("w")
      },
      Some("""
        WITH tok AS (SELECT doc_id, unnest(string_split(trim(text), ' ')) AS w
                     FROM documents),
        pd AS (SELECT w, doc_id, count(*) AS k FROM tok GROUP BY 1, 2),
        a AS (SELECT w, count(*) AS df, CAST(sum(k) AS BIGINT) AS tf,
                     CAST(sum(CASE WHEN k >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS df_multi
              FROM pd GROUP BY 1)
        SELECT w, df, tf, df_multi,
               CAST(round(CAST(tf AS DOUBLE) / CAST(df AS DOUBLE)
                 * CAST(1000000 AS DOUBLE)) AS BIGINT) AS burst_um,
               CAST(round(CAST(df_multi AS DOUBLE) / CAST(df AS DOUBLE)
                 * CAST(1000000 AS DOUBLE)) AS BIGINT) AS adapt_um
        FROM a ORDER BY w
      """)),

    // ---- token statistics (counting + type-token ratio) -----------------
    Reg("token_stats",
      (s, dir) => {
        val t = TextOps.tokens(col("text"))
        Tables(s, dir).documents.select(
          col("doc_id"),
          size(t).as("n_tokens"),
          // BPE-ish segmentation: letter runs vs non-letter/non-space runs
          size(expr("regexp_extract_all(text, '[a-z]+|[^a-z\\\\s]+', 0)")).as("n_tokens_bpe"),
          size(array_distinct(t)).as("n_distinct"),
          round(size(array_distinct(t)).cast("double") / size(t), 4).as("ttr"),
          round(expr("aggregate(transform(split(trim(text), ' '), x -> length(x)), 0, (s, x) -> s + x)")
            .cast("double") / size(t), 4).as("avg_token_len"))
          .orderBy("doc_id")
      },
      Some("""
        WITH t AS (SELECT doc_id, text, string_split(trim(text), ' ') AS ws FROM documents)
        SELECT doc_id, len(ws) AS n_tokens,
               len(regexp_extract_all(text, '[a-z]+|[^a-z\s]+', 0)) AS n_tokens_bpe,
               len(list_distinct(ws)) AS n_distinct,
               round(CAST(len(list_distinct(ws)) AS DOUBLE) / len(ws), 4) AS ttr,
               round(CAST(list_sum(list_transform(ws, x -> length(x))) AS DOUBLE) / len(ws), 4) AS avg_token_len
        FROM t ORDER BY doc_id
      """)),

    // ---- quality scoring: length + stopword ratio + TTR composite -------
    Reg("quality_score",
      (s, dir) => {
        val t = TextOps.tokens(col("text"))
        val stopArr = array(stopwords.map(lit): _*)
        Tables(s, dir).documents.select(
          col("doc_id"), col("n_chars"),
          size(t).as("n_tokens"),
          round(size(array_intersect(array_distinct(t), stopArr)).cast("double")
            / size(array_distinct(t)), 4).as("stop_ratio"),
          round(size(array_distinct(t)).cast("double") / size(t), 4).as("ttr"))
          // weights 0.4/0.6 (not 0.5/0.5): a mean of two 4-decimal values
          // hits exact .00005 halves where Spark and DuckDB round() tie-break
          // differently; 0.4·x + 0.6·y has an even 5th decimal — never a tie
          .withColumn("quality",
            round(col("ttr") * 0.4 + (lit(1.0) - col("stop_ratio")) * 0.6, 4))
          .orderBy("doc_id")
      },
      Some(s"""
        WITH t AS (SELECT doc_id, n_chars, string_split(trim(text), ' ') AS ws FROM documents),
        f AS (SELECT doc_id, n_chars, len(ws) AS n_tokens,
                     round(CAST(len(list_intersect(list_distinct(ws),
                            ${stopwords.map(w => s"'$w'").mkString("[", ", ", "]")})) AS DOUBLE)
                           / len(list_distinct(ws)), 4) AS stop_ratio,
                     round(CAST(len(list_distinct(ws)) AS DOUBLE) / len(ws), 4) AS ttr
              FROM t)
        SELECT doc_id, n_chars, n_tokens, stop_ratio, ttr,
               round(ttr * 0.4 + (1.0 - stop_ratio) * 0.6, 4) AS quality
        FROM f ORDER BY doc_id
      """)),

    // ---- language-ID: corpus-profile voting (top-10 tokens per lang) ----
    Reg("lang_id_predict",
      (s, dir) => {
        val docs = Tables(s, dir).documents
        val tok = docs.select(col("doc_id"), col("lang"),
          explode(TextOps.tokens(col("text"))).as("w"))
        val wTop = Window.partitionBy(col("lang")).orderBy(col("cnt").desc, col("w"))
        val top10 = tok.groupBy(col("lang"), col("w")).agg(count(lit(1)).as("cnt"))
          .withColumn("rn", row_number().over(wTop)).filter(col("rn") <= 10)
          .select(col("lang").as("cand_lang"), col("w"))
        val docTok = docs.select(col("doc_id"), explode(array_distinct(TextOps.tokens(col("text")))).as("w"))
        val votes = docTok.join(top10, "w")
          .groupBy(col("doc_id"), col("cand_lang")).agg(count(lit(1)).as("votes"))
        val wPick = Window.partitionBy(col("doc_id")).orderBy(col("votes").desc, col("cand_lang"))
        votes.withColumn("rn", row_number().over(wPick)).filter(col("rn") === 1)
          .join(docs.select(col("doc_id"), col("lang").as("lang_actual")), "doc_id")
          .select(col("doc_id"), col("lang_actual"), col("cand_lang").as("lang_pred"), col("votes"))
          .orderBy("doc_id")
      },
      Some("""
        WITH tok AS (SELECT doc_id, lang, unnest(string_split(trim(text), ' ')) AS w
                     FROM documents),
        top10 AS (SELECT lang AS cand_lang, w FROM (
                    SELECT lang, w, row_number() OVER (
                      PARTITION BY lang ORDER BY count(*) DESC, w) AS rn
                    FROM tok GROUP BY lang, w) WHERE rn <= 10),
        dtok AS (SELECT doc_id, unnest(list_distinct(string_split(trim(text), ' '))) AS w
                 FROM documents),
        votes AS (SELECT doc_id, cand_lang, count(*) AS votes
                  FROM dtok JOIN top10 USING (w) GROUP BY 1, 2),
        pick AS (SELECT doc_id, cand_lang, votes, row_number() OVER (
                   PARTITION BY doc_id ORDER BY votes DESC, cand_lang) AS rn
                 FROM votes)
        SELECT d.doc_id, d.lang AS lang_actual, p.cand_lang AS lang_pred, p.votes
        FROM pick p JOIN documents d USING (doc_id)
        WHERE p.rn = 1
        ORDER BY d.doc_id
      """)),

    // ---- language-ID confusion matrix -----------------------------------
    // The evaluation view of lang_id_predict: (actual, predicted) counts —
    // what a curation run reports before trusting the classifier's
    // language routing. Same pipeline as lang_id_predict plus one
    // hash-agg; at 100 TB the matrix is |langs|² rows.
    Reg("lang_confusion_matrix",
      (s, dir) => {
        val docs = Tables(s, dir).documents
        val tok = docs.select(col("doc_id"), col("lang"),
          explode(TextOps.tokens(col("text"))).as("w"))
        val wTop = Window.partitionBy(col("lang")).orderBy(col("cnt").desc, col("w"))
        val top10 = tok.groupBy(col("lang"), col("w")).agg(count(lit(1)).as("cnt"))
          .withColumn("rn", row_number().over(wTop)).filter(col("rn") <= 10)
          .select(col("lang").as("cand_lang"), col("w"))
        val docTok = docs.select(col("doc_id"),
          explode(array_distinct(TextOps.tokens(col("text")))).as("w"))
        val votes = docTok.join(top10, "w")
          .groupBy(col("doc_id"), col("cand_lang")).agg(count(lit(1)).as("votes"))
        val wPick = Window.partitionBy(col("doc_id")).orderBy(col("votes").desc, col("cand_lang"))
        votes.withColumn("rn", row_number().over(wPick)).filter(col("rn") === 1)
          .join(docs.select(col("doc_id"), col("lang")), "doc_id")
          .groupBy(col("lang").as("lang_actual"), col("cand_lang").as("lang_pred"))
          .agg(count(lit(1)).as("n_docs"))
          .orderBy("lang_actual", "lang_pred")
      },
      Some("""
        WITH tok AS (SELECT doc_id, lang, unnest(string_split(trim(text), ' ')) AS w
                     FROM documents),
        top10 AS (SELECT lang AS cand_lang, w FROM (
                    SELECT lang, w, row_number() OVER (
                      PARTITION BY lang ORDER BY count(*) DESC, w) AS rn
                    FROM tok GROUP BY lang, w) WHERE rn <= 10),
        dtok AS (SELECT doc_id, unnest(list_distinct(string_split(trim(text), ' '))) AS w
                 FROM documents),
        votes AS (SELECT doc_id, cand_lang, count(*) AS votes
                  FROM dtok JOIN top10 USING (w) GROUP BY 1, 2),
        pick AS (SELECT doc_id, cand_lang, votes, row_number() OVER (
                   PARTITION BY doc_id ORDER BY votes DESC, cand_lang) AS rn
                 FROM votes)
        SELECT d.lang AS lang_actual, p.cand_lang AS lang_pred,
               count(*) AS n_docs
        FROM pick p JOIN documents d USING (doc_id)
        WHERE p.rn = 1
        GROUP BY 1, 2 ORDER BY 1, 2
      """)),

    // ---- Cohen's kappa over the lang-ID confusion (round-11) ------------
    // Chance-corrected agreement between the actual label and the n-gram
    // classifier's prediction, over the declared pair universe (docs the
    // classifier voted on — the lang_confusion_matrix universe). EXACT
    // INTEGERS throughout: κ = (p_o − p_e)/(1 − p_e) algebraically equals
    // (agree·n − Σ rowsum·colsum)/(n² − Σ rowsum·colsum) — one integer
    // ratio, one final division → micros (no double tree at all, unlike
    // the Pearson family). Zero-denominator sentinel when p_e = 1 (all
    // mass in one cell). Plan: the confusion agg (≤ 25 cells) + two
    // marginal aggs + a 5-row join — everything after the vote pipeline
    // is bounded by the label domain, not the corpus.
    Reg("cohens_kappa_langid",
      (s, dir) => {
        val docs = Tables(s, dir).documents
        val tok = docs.select(col("doc_id"), col("lang"),
          explode(TextOps.tokens(col("text"))).as("w"))
        val wTop = Window.partitionBy(col("lang")).orderBy(col("cnt").desc, col("w"))
        val top10 = tok.groupBy(col("lang"), col("w")).agg(count(lit(1)).as("cnt"))
          .withColumn("rn", row_number().over(wTop)).filter(col("rn") <= 10)
          .select(col("lang").as("cand_lang"), col("w"))
        val docTok = docs.select(col("doc_id"),
          explode(array_distinct(TextOps.tokens(col("text")))).as("w"))
        val votes = docTok.join(top10, "w")
          .groupBy(col("doc_id"), col("cand_lang")).agg(count(lit(1)).as("votes"))
        val wPick = Window.partitionBy(col("doc_id")).orderBy(col("votes").desc, col("cand_lang"))
        // conf is ≤ 25 label-domain rows consumed THREE times (totals +
        // both marginals) — localCheckpoint so the vote pipeline runs
        // once, not three times (the kcore/textrank bounded-artifact
        // discipline; without it the plan re-derives the whole explode+
        // window pipeline per consumer)
        val conf = votes.withColumn("rn", row_number().over(wPick)).filter(col("rn") === 1)
          .join(docs.select(col("doc_id"), col("lang")), "doc_id")
          .groupBy(col("lang").as("la"), col("cand_lang").as("lp"))
          .agg(count(lit(1)).as("n"))
          .localCheckpoint()
        val totals = conf.agg(sum(col("n")).as("n_docs"),
          sum(when(col("la") === col("lp"), col("n")).otherwise(0L)).as("n_agree"))
        val chance = conf.groupBy(col("la")).agg(sum(col("n")).as("ra"))
          .join(conf.groupBy(col("lp")).agg(sum(col("n")).as("rp")),
            col("la") === col("lp"))
          .agg(coalesce(sum(col("ra") * col("rp")), lit(0L)).as("chance"))
        totals.crossJoin(chance).select(
          col("n_docs"), col("n_agree"), col("chance"),
          expr("""CAST(round(CAST(n_agree AS DOUBLE) / CAST(n_docs AS DOUBLE)
                  * CAST(1000000 AS DOUBLE)) AS BIGINT)""").as("po_um"),
          expr("""CAST(round(CAST(chance AS DOUBLE)
                  / (CAST(n_docs AS DOUBLE) * CAST(n_docs AS DOUBLE))
                  * CAST(1000000 AS DOUBLE)) AS BIGINT)""").as("pe_um"),
          expr("""CASE WHEN n_docs * n_docs = chance THEN CAST(0 AS BIGINT)
                  ELSE CAST(round(CAST(n_agree * n_docs - chance AS DOUBLE)
                  / CAST(n_docs * n_docs - chance AS DOUBLE)
                  * CAST(1000000 AS DOUBLE)) AS BIGINT) END""").as("kappa_um"))
      },
      Some("""
        WITH tok AS (SELECT doc_id, lang, unnest(string_split(trim(text), ' ')) AS w
                     FROM documents),
        top10 AS (SELECT lang AS cand_lang, w FROM (
                    SELECT lang, w, row_number() OVER (
                      PARTITION BY lang ORDER BY count(*) DESC, w) AS rn
                    FROM tok GROUP BY lang, w) WHERE rn <= 10),
        dtok AS (SELECT doc_id, unnest(list_distinct(string_split(trim(text), ' '))) AS w
                 FROM documents),
        votes AS (SELECT doc_id, cand_lang, count(*) AS votes
                  FROM dtok JOIN top10 USING (w) GROUP BY 1, 2),
        pick AS (SELECT doc_id, cand_lang, votes, row_number() OVER (
                   PARTITION BY doc_id ORDER BY votes DESC, cand_lang) AS rn
                 FROM votes),
        conf AS (SELECT d.lang AS la, p.cand_lang AS lp,
                        CAST(count(*) AS BIGINT) AS n
                 FROM pick p JOIN documents d USING (doc_id)
                 WHERE p.rn = 1 GROUP BY 1, 2),
        t AS (SELECT CAST(sum(n) AS BIGINT) AS n_docs,
                     CAST(sum(CASE WHEN la = lp THEN n ELSE 0 END) AS BIGINT) AS n_agree
              FROM conf),
        c AS (SELECT CAST(coalesce(sum(a.ra * b.rp), 0) AS BIGINT) AS chance
              FROM (SELECT la, sum(n) AS ra FROM conf GROUP BY 1) a
              JOIN (SELECT lp, sum(n) AS rp FROM conf GROUP BY 1) b
                ON a.la = b.lp)
        SELECT n_docs, n_agree, chance,
               CAST(round(CAST(n_agree AS DOUBLE) / CAST(n_docs AS DOUBLE)
                 * CAST(1000000 AS DOUBLE)) AS BIGINT) AS po_um,
               CAST(round(CAST(chance AS DOUBLE)
                 / (CAST(n_docs AS DOUBLE) * CAST(n_docs AS DOUBLE))
                 * CAST(1000000 AS DOUBLE)) AS BIGINT) AS pe_um,
               CASE WHEN n_docs * n_docs = chance THEN CAST(0 AS BIGINT)
               ELSE CAST(round(CAST(n_agree * n_docs - chance AS DOUBLE)
                 / CAST(n_docs * n_docs - chance AS DOUBLE)
                 * CAST(1000000 AS DOUBLE)) AS BIGINT) END AS kappa_um
        FROM t, c
      """)),

    // ---- TF-IDF top terms per language ----------------------------------
    // Output is all-integer (lang, rank, token, tf, df): the tf·ln(N/df)
    // ranking can only tie when (tf, df) pairs are equal — then the score
    // is the identical double on both engines and the token tie-break
    // decides — so cross-engine libm ulp differences cannot flip ranks.
    Reg("tfidf_top_terms",
      (s, dir) => {
        val docs = Tables(s, dir).documents
        val tok = docs.select(col("lang"), explode(TextOps.tokens(col("text"))).as("w"))
        val tf = tok.groupBy(col("lang"), col("w")).agg(count(lit(1)).as("tf"))
        val df = tf.groupBy(col("w")).agg(countDistinct(col("lang")).as("df"))
        val nLang = 5.0
        val wRank = Window.partitionBy(col("lang"))
          .orderBy((col("tf") * log(lit(nLang) / col("df"))).desc, col("w"))
        tf.join(df, "w")
          .withColumn("rank", row_number().over(wRank))
          .filter(col("rank") <= 5)
          .select(col("lang"), col("rank"), col("w").as("token"), col("tf"), col("df"))
          .orderBy("lang", "rank")
      },
      Some("""
        WITH tok AS (SELECT lang, unnest(string_split(trim(text), ' ')) AS w FROM documents),
        tf AS (SELECT lang, w, count(*) AS tf FROM tok GROUP BY 1, 2),
        df AS (SELECT w, count(DISTINCT lang) AS df FROM tf GROUP BY 1),
        r AS (SELECT tf.lang, tf.w, tf.tf, df.df,
                     row_number() OVER (PARTITION BY tf.lang
                       ORDER BY tf.tf * ln(5.0 / df.df) DESC, tf.w) AS rank
              FROM tf JOIN df USING (w))
        SELECT lang, rank, w AS token, tf, df
        FROM r WHERE rank <= 5
        ORDER BY lang, rank
      """)),

    // ---- BM25 ranked retrieval (round-10, VERDICT r9 #4) ----------------
    // The classic lexical-retrieval scorer (Robertson et al., TREC-3;
    // Lucene's idf floor variant so every weight is positive):
    //   score(d) = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1−b+b·dl/avgdl))
    // with k1 = 1.2, b = 0.75, idf = ln((N+1)/(df+0.5)). INTEGER
    // DISCIPLINE: k1/b enter as exact rationals — multiplying the
    // tf-part through by 10·avgdl = 10·totT/N gives
    //   tfpart = 22·tf·totT / (10·tf·totT + 3·totT + 9·dl·N)
    // all-BIGINT and exact (every operand non-negative, so Spark's div
    // and DuckDB's // agree); idf's ln is the ONE float op, immediately
    // rounded to micros — its argument (2N+2)/(2df+1) is an IEEE-exact
    // division of exact integers, so both engines feed ln the identical
    // double and only a 1-ulp-at-a-rounding-boundary coincidence could
    // diverge (≤ 31 distinct df values; swept at all three sfs). Query =
    // {dup, spark, join}: one rare term (df 25/500 at sf0.01 — idf
    // dominates) and two common ones (length normalization dominates).
    // Shapes: one token agg, tiny broadcast df/corpus sides, top-k via
    // orderBy+limit (TakeOrderedAndProject — no global sort at scale).
    // At ~10^12-token corpora the tfpart numerator 22·tf·totT·10⁶
    // outgrows int64 — promote to DECIMAL(38,0) (the pmi_top_bigrams
    // precedent); int64 is exact through ~10^10 tokens.
    Reg("bm25_topk_docs",
      (s, dir) => {
        val tok = Tables(s, dir).documents
          .select(col("doc_id"), explode(TextOps.tokens(col("text"))).as("w"))
        val dl = tok.groupBy(col("doc_id")).agg(count(lit(1)).as("dl"))
        val corpus = dl.agg(count(lit(1)).as("n_docs"),
          sum(col("dl")).as("tot_tokens"))
        val tf = tok.filter(col("w").isin("dup", "spark", "join"))
          .groupBy(col("doc_id"), col("w")).agg(count(lit(1)).as("tf"))
        val dfr = tf.groupBy(col("w")).agg(count(lit(1)).as("df"))
        tf.join(broadcast(dfr), "w")
          .join(dl, "doc_id")
          .crossJoin(broadcast(corpus))
          .withColumn("idf_um", expr(
            "CAST(round(ln(CAST(2 * n_docs + 2 AS DOUBLE) /" +
              " CAST(2 * df + 1 AS DOUBLE)) * CAST(1000000 AS DOUBLE))" +
              " AS BIGINT)"))
          .withColumn("tfpart_um", expr(
            "(22L * tf * tot_tokens * 1000000L) div" +
              " (10L * tf * tot_tokens + 3L * tot_tokens + 9L * dl * n_docs)"))
          .groupBy(col("doc_id"))
          .agg(max(col("dl")).as("dl"),
            expr("sum((idf_um * tfpart_um) div 1000000L)").as("score_um"),
            count(lit(1)).as("n_terms_hit"))
          .orderBy(col("score_um").desc, col("doc_id"))
          .limit(15)
          .withColumn("rank", row_number().over(Window
            .orderBy(col("score_um").desc, col("doc_id"))))
          .select(col("rank"), col("doc_id"), col("dl"),
            col("score_um"), col("n_terms_hit"))
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
        sc AS (SELECT t.doc_id, d.dl,
                      CAST(round(ln(CAST(2 * c.n_docs + 2 AS DOUBLE) /
                                    CAST(2 * f.df + 1 AS DOUBLE))
                                 * CAST(1000000 AS DOUBLE)) AS BIGINT) AS idf_um,
                      (22 * t.tf * c.tot_tokens * 1000000) //
                        (10 * t.tf * c.tot_tokens + 3 * c.tot_tokens
                         + 9 * d.dl * c.n_docs) AS tfpart_um
               FROM tf t JOIN dfr f USING (w) JOIN dl d USING (doc_id), corpus c),
        agg AS (SELECT doc_id, CAST(max(dl) AS BIGINT) AS dl,
                       CAST(sum((idf_um * tfpart_um) // 1000000) AS BIGINT) AS score_um,
                       count(*) AS n_terms_hit
                FROM sc GROUP BY 1),
        r AS (SELECT *, row_number() OVER (ORDER BY score_um DESC, doc_id) AS rank
              FROM agg)
        SELECT rank, doc_id, dl, score_um, n_terms_hit
        FROM r WHERE rank <= 15 ORDER BY rank
      """)),

    // ---- rolling-hash document fingerprint (winnowing-style min/max) ----
    // Round 17 (guide §2.4 — remove shuffles outright): the fingerprint
    // is per-doc min/max/count over the doc's OWN distinct-shingle set,
    // so the explode → hash-aggregate shuffle was pure overhead — the
    // same numbers fall out of array HOFs over the un-exploded shingle
    // array, entirely map-side (2 Exchange → 1: only the output sort
    // remains). The hash array is materialized in its own projection so
    // CollapseProject's non-cheap-expression guard keeps the md5 pass at
    // one evaluation per shingle (min/max/size all reference `hv`).
    // Row parity: explode() dropped empty-shingle docs; the token-count
    // filter drops exactly the same docs (shingles() yields [] iff the
    // doc has < 3 tokens; with ≥ 3 tokens the distinct set is nonempty).
    // The filter tests the CHEAP tokenize, not size(hv) — a filter on hv
    // would re-evaluate the whole md5 transform chain per row (the
    // Filter node doesn't share the downstream Project's expression).
    Reg("doc_fingerprint",
      (s, dir) => Tables(s, dir).documents
        .filter(size(TextOps.tokens(col("text"))) >= 3)
        .select(col("doc_id"),
          transform(TextOps.shingles(col("text"), 3),
            sh => TextOps.hash60(sh)).as("hv"))
        .select(col("doc_id"),
          array_min(col("hv")).as("min_hash"),
          array_max(col("hv")).as("max_hash"),
          size(col("hv")).cast("long").as("n_shingles"))
        .orderBy("doc_id"),
      Some("""
        WITH tok AS (SELECT doc_id, string_split(trim(text), ' ') AS ws FROM documents),
        sh AS (SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(ws) - 1),
                      i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]))) AS s
               FROM tok)
        SELECT doc_id,
               min(('0x' || substr(md5(s), 1, 15))::BIGINT) AS min_hash,
               max(('0x' || substr(md5(s), 1, 15))::BIGINT) AS max_hash,
               count(*) AS n_shingles
        FROM sh GROUP BY 1 ORDER BY 1
      """)),

    // ---- sliding token-window chunking (context-window prep) ------------
    // THE LLM-pipeline op between curation and tokenization: split each
    // doc into 32-token chunks with stride 24 (8-token overlap). Chunk
    // starts are sequence(0, n−1, 24) — identical enumeration on both
    // engines — and each chunk is graded by its md5, so chunk CONTENT
    // (not just counts) is hash-verified. Explode + per-row slices: no
    // shuffle at all before the output sort; at 100 TB this is a pure
    // map-side operator.
    Reg("chunk_documents",
      (s, dir) => Tables(s, dir).documents
        .select(col("doc_id"), TextOps.tokens(col("text")).as("t"))
        .select(col("doc_id"), col("t"),
          explode(expr("sequence(0, size(t) - 1, 24)")).as("s"))
        .select(col("doc_id"), expr("s div 24").as("chunk_idx"),
          expr("slice(t, s + 1, 32)").as("c"))
        .select(col("doc_id"), col("chunk_idx"),
          size(col("c")).as("n_chunk_tokens"),
          expr("element_at(c, 1)").as("head_token"),
          expr("element_at(c, -1)").as("tail_token"),
          md5(expr("concat_ws(' ', c)")).as("chunk_md5"))
        .orderBy("doc_id", "chunk_idx"),
      Some("""
        WITH t AS (SELECT doc_id, string_split(trim(text), ' ') AS ws FROM documents),
        st AS (SELECT doc_id, ws, unnest(generate_series(0, len(ws) - 1, 24)) AS s FROM t),
        ch AS (SELECT doc_id, s // 24 AS chunk_idx,
                      list_slice(ws, s + 1, least(s + 32, len(ws))) AS c
               FROM st)
        SELECT doc_id, chunk_idx, len(c) AS n_chunk_tokens,
               c[1] AS head_token, c[-1] AS tail_token,
               md5(array_to_string(c, ' ')) AS chunk_md5
        FROM ch ORDER BY doc_id, chunk_idx
      """)),

    // ---- sequence packing: concat-and-chunk token offsets (round-9) -----
    // The OTHER context-window prep beside chunk_documents: training
    // pipelines concatenate the whole corpus into one token stream in a
    // stable document order and cut it every L tokens ("packing with
    // document splitting" — the standard GPT-style pretraining layout).
    // The primitive underneath is a CORPUS-WIDE EXCLUSIVE PREFIX SUM of
    // per-doc token counts, which a naive `sum() OVER (ORDER BY doc_id)`
    // computes on ONE partition — a scale-killer. This is the
    // distributed two-level form:
    //   1. block = doc_id div 64; per-block cumsum via a window
    //      PARTITIONED by block (parallel across blocks);
    //   2. block totals (one row per block, |input|/64) get their own
    //      running offset via a window over blocks — at fixture scale a
    //      single tiny partition; at 100 TB you pick block ≈ √N docs so
    //      level 2 is ~√N rows (or recurse once more), and broadcast
    //      the offsets back.
    // The level-2 offsets join back BROADCAST (it's the small side by
    // construction). Output per doc: its absolute token offset, the
    // 256-token pack its first token lands in, and how many packs it
    // spans — enough for a reader to slice pack k without scanning its
    // neighbors. All BIGINT arithmetic, hash-exact.
    Reg("seq_packing",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val docs = Tables(s, dir).documents
          .select(col("doc_id"),
            size(TextOps.tokens(col("text"))).cast("long").as("n_tokens"),
            expr("doc_id div 64").as("blk"))
        val wInBlk = Window.partitionBy(col("blk")).orderBy(col("doc_id"))
          .rowsBetween(Window.unboundedPreceding, -1)
        val inBlk = docs.withColumn("blk_off",
          coalesce(sum(col("n_tokens")).over(wInBlk), lit(0L)))
        val wBlks = Window.orderBy(col("blk"))
          .rowsBetween(Window.unboundedPreceding, -1)
        val blkOffs = docs.groupBy(col("blk"))
          .agg(sum(col("n_tokens")).as("blk_total"))
          .withColumn("base", coalesce(sum(col("blk_total")).over(wBlks), lit(0L)))
          .select(col("blk"), col("base"))
        inBlk.join(broadcast(blkOffs), "blk")
          .select(col("doc_id"), col("n_tokens"),
            (col("base") + col("blk_off")).as("start_off"))
          .select(col("doc_id"), col("n_tokens"), col("start_off"),
            expr("start_off div 256").as("first_pack"),
            expr("(start_off + n_tokens - 1) div 256 - start_off div 256 + 1")
              .as("n_packs_spanned"))
          .orderBy("doc_id")
      },
      Some("""
        WITH t AS (SELECT doc_id,
                          CAST(len(string_split(trim(text), ' ')) AS BIGINT) AS n_tokens
                   FROM documents),
        c AS (SELECT doc_id, n_tokens,
                     CAST(coalesce(sum(n_tokens) OVER (ORDER BY doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS start_off
              FROM t)
        SELECT doc_id, n_tokens, start_off,
               start_off // 256 AS first_pack,
               (start_off + n_tokens - 1) // 256 - start_off // 256 + 1 AS n_packs_spanned
        FROM c ORDER BY doc_id
      """)),

    // ---- JSON-lines sink round-trip (corpus interchange format) ---------
    // documents → write JSONL → read back with an EXPLICIT schema → grade
    // against the base table: serialization fidelity for the format LLM
    // corpora actually ship in (escaping, nulls, BIGINT). Rebuilt per
    // invocation in /dev/shm (same lifecycle as csv_roundtrip_candles);
    // read-back re-sorts since part-file order is not a data order.
    Reg("jsonl_roundtrip_docs",
      (s, dir) => {
        // per-sfdir path, SaveMode.Overwrite: bounded scratch across reps
        // (a UUID per call would leak a copy per bench rep)
        val out = s"/dev/shm/graft-jsonl/docs_${graft.sources.Fixtures.md5Hex(dir)}"
        graft.sources.Sinks.writeJsonl(
          Tables(s, dir).documents.select("doc_id", "text", "lang", "source", "n_chars"), out)
        s.read
          .schema("doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT")
          .json(out)
          .select(col("doc_id"), md5(col("text")).as("text_md5"),
            col("lang"), col("source"), col("n_chars"))
          .orderBy("doc_id")
      },
      Some("""
        SELECT doc_id, md5(text) AS text_md5, lang, source, n_chars
        FROM documents ORDER BY doc_id
      """)),

    // ---- BPE-ish regex subword tokenization -----------------------------
    // The second tokenizer the brief asks for (whitespace tokens are
    // token_stats' — this is the regex path): a syllable-shaped pattern
    // C*V+C* that splits words into subword units ("table" → "tabl","e"),
    // the shape BPE vocabularies converge to. Greedy quantifiers with no
    // alternation → Java regex (Spark) and RE2 (DuckDB) tokenize
    // identically. Subword CONTENT is graded via the md5 of the joined
    // sequence, not just counts. Pure map-side at 100 TB: one regex pass
    // per doc, no shuffle before the output sort.
    Reg("token_subword_regex",
      (s, dir) => Tables(s, dir).documents
        .select(col("doc_id"),
          expr("regexp_extract_all(text, '[bcdfghjklmnpqrstvwxyz]*[aeiou]+[bcdfghjklmnpqrstvwxyz]*', 0)")
            .as("sw"))
        .select(col("doc_id"),
          size(col("sw")).cast("long").as("n_subwords"),
          size(array_distinct(col("sw"))).cast("long").as("n_distinct"),
          md5(concat_ws(" ", col("sw"))).as("subword_md5"))
        .orderBy("doc_id"),
      Some("""
        WITH sw AS (SELECT doc_id,
                      regexp_extract_all(text, '[bcdfghjklmnpqrstvwxyz]*[aeiou]+[bcdfghjklmnpqrstvwxyz]*') AS sw
                    FROM documents)
        SELECT doc_id, len(sw) AS n_subwords,
               CAST(len(list_distinct(sw)) AS BIGINT) AS n_distinct,
               md5(array_to_string(sw, ' ')) AS subword_md5
        FROM sw ORDER BY doc_id
      """)),

    // ---- direct n-gram Jaccard near-dup (blocked, exploded) -------------
    // The exact-Jaccard dedup flavor WITHOUT a sketch: candidate pairs are
    // bounded by a blocking key (lang, source) — the metadata-blocking
    // technique — and the intersection is computed by EXPLODING shingles
    // and equi-joining on (block, shingle), so a pair materializes only if
    // it shares at least one bigram and each shared bigram is touched
    // exactly once (hash-agg count). This replaced a pairwise
    // array_intersect formulation that re-evaluated the set op inside the
    // join condition — 4× slower at sf0.1 and quadratic per block.
    // Similarity is emitted as the integer (intersection, union) pair,
    // not a float ratio, so the hash gate has zero float risk; threshold
    // J >= 0.3 in cross-multiplied integer form. MinHash-LSH
    // (neardup_minhash_lsh) is the unblocked-corpus fallback.
    Reg("jaccard_bigram_pairs",
      (s, dir) => {
        // docfreq band-pass on the join key (one count window over the
        // same key the join shuffles on):
        //  - FLOOR df >= 2 (round-4b, 1.7× at sf0.1): a gram in only ONE
        //    block doc cannot appear in any pair's intersection — pure
        //    optimization, removed from the join side only.
        //  - CEILING df <= JaccardDfCeiling (round-9, VERDICT r8): a gram
        //    shared by most of a block is boilerplate, not evidence of
        //    duplication — and it is THE scale-killer: join fan-out per
        //    (block, gram) key is df², so without a ceiling the self-join
        //    goes quadratic as blocks grow. With the ceiling the fan-out
        //    per key is ≤ C² = const, total cost linear in corpus grams.
        //    The ceiling CHANGES the contract (similarity is Jaccard over
        //    discriminative grams only), so — unlike the floor — it also
        //    applies to doc sizes and is mirrored verbatim in the oracle.
        //    High-df grams aren't lost to dedup overall: MinHash-LSH
        //    (neardup_minhash_lsh) covers whole-doc similarity sketches.
        //    Round 16: the whole pre-score candidate relation is the
        //    session-shared [[bigramCandPairsShared]], reused verbatim by
        //    containment_bigram_pairs — only the score/threshold differ.
        bigramCandPairsShared(s, dir)
          .withColumn("uni", col("na") + col("nb") - col("inter"))
          .filter(col("inter") * 10 >= col("uni") * 3)
          .select(col("a_id"), col("b_id"),
            col("inter").as("n_common"), col("uni").as("n_union"))
          .orderBy("a_id", "b_id")
      },
      Some(s"""
        WITH t AS (SELECT doc_id, lang, source, string_split(trim(text), ' ') AS ws
                   FROM documents),
        g0 AS (SELECT doc_id, lang, source,
                      unnest(list_distinct([ws[i] || ' ' || ws[i+1] FOR i IN range(1, len(ws))])) AS shingle
               FROM t WHERE len(ws) >= 2),
        df AS (SELECT lang, source, shingle, count(*) AS df
               FROM g0 GROUP BY 1, 2, 3),
        g AS (SELECT g0.doc_id, g0.lang, g0.source, g0.shingle
              FROM g0 JOIN df USING (lang, source, shingle)
              WHERE df.df <= $JaccardDfCeiling),
        sizes AS (SELECT doc_id, count(*) AS n FROM g GROUP BY 1),
        p AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS inter
              FROM g a JOIN g b
                ON a.lang = b.lang AND a.source = b.source
               AND a.shingle = b.shingle AND a.doc_id < b.doc_id
              GROUP BY 1, 2)
        SELECT a_id, b_id, CAST(inter AS BIGINT) AS n_common,
               CAST(sa.n + sb.n - inter AS BIGINT) AS n_union
        FROM p JOIN sizes sa ON sa.doc_id = a_id
               JOIN sizes sb ON sb.doc_id = b_id
        WHERE inter * 10 >= (sa.n + sb.n - inter) * 3
        ORDER BY a_id, b_id
      """)),

    // ---- overlap-coefficient containment pairs (round-10) ---------------
    // The ASYMMETRIC rung of the near-dup ladder: overlap coefficient
    // |A∩B| / min(|A|,|B|) detects doc-IN-doc containment (a quote, an
    // excerpt, a doc embedded in a longer one) that Jaccard is blind to
    // — a near-total subset of a much larger doc has low Jaccard but
    // containment ≈ 1, and dedup pipelines (Lee et al.) treat the two
    // cases differently (containment → keep the superset; Jaccard →
    // keep by quality). Reuses jaccard_bigram_pairs' entire blocked
    // candidate machinery verbatim — same (lang, source) blocks, same
    // df ∈ [2, ceiling] band-pass on the join key (the fan-out bound
    // that keeps the self-join linear at 100×) — only the SCORE and
    // threshold differ: containment ≥ 0.6 in exact integer cross-
    // multiplication (inter·10 ≥ min(na,nb)·6), plus the micros ratio.
    Reg("containment_bigram_pairs",
      (s, dir) => {
        // round 16: reads the session-shared bigram candidate relation
        // (see jaccard_bigram_pairs) — only the score/threshold differ
        bigramCandPairsShared(s, dir)
          .withColumn("n_small", least(col("na"), col("nb")))
          .filter(col("inter") * 10 >= col("n_small") * 6)
          .select(col("a_id"), col("b_id"), col("inter").as("n_common"),
            col("n_small"),
            expr("""CAST(round(CAST(inter AS DOUBLE) / CAST(n_small AS DOUBLE)
                    * CAST(1000000 AS DOUBLE)) AS BIGINT)""").as("contain_um"))
          .orderBy("a_id", "b_id")
      },
      Some(s"""
        WITH t AS (SELECT doc_id, lang, source, string_split(trim(text), ' ') AS ws
                   FROM documents),
        g0 AS (SELECT doc_id, lang, source,
                      unnest(list_distinct([ws[i] || ' ' || ws[i+1] FOR i IN range(1, len(ws))])) AS shingle
               FROM t WHERE len(ws) >= 2),
        df AS (SELECT lang, source, shingle, count(*) AS df
               FROM g0 GROUP BY 1, 2, 3),
        g AS (SELECT g0.doc_id, g0.lang, g0.source, g0.shingle
              FROM g0 JOIN df USING (lang, source, shingle)
              WHERE df.df <= $JaccardDfCeiling),
        sizes AS (SELECT doc_id, count(*) AS n FROM g GROUP BY 1),
        p AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS inter
              FROM g a JOIN g b
                ON a.lang = b.lang AND a.source = b.source
               AND a.shingle = b.shingle AND a.doc_id < b.doc_id
              GROUP BY 1, 2)
        SELECT a_id, b_id, CAST(inter AS BIGINT) AS n_common,
               CAST(least(sa.n, sb.n) AS BIGINT) AS n_small,
               CAST(round(CAST(inter AS DOUBLE)
                 / CAST(least(sa.n, sb.n) AS DOUBLE)
                 * CAST(1000000 AS DOUBLE)) AS BIGINT) AS contain_um
        FROM p JOIN sizes sa ON sa.doc_id = a_id
               JOIN sizes sb ON sb.doc_id = b_id
        WHERE inter * 10 >= least(sa.n, sb.n) * 6
        ORDER BY a_id, b_id
      """)),

    // ---- n-gram repetition statistics (Gopher-style quality signal) -----
    // The repetition family of quality filters: per doc, trigrams WITH
    // multiplicity → total count, the top trigram's count, and the total
    // occurrences inside duplicated trigrams ("fraction of tokens in
    // repeated n-grams" numerator). All-integer outputs; the ratio
    // thresholding is the consumer's (curation_funnel-style) decision.
    // Shape at 100 TB: explode + two hash-aggs, no joins.
    Reg("repetition_ngram_stats",
      (s, dir) => Tables(s, dir).documents
        .select(col("doc_id"),
          explode(TextOps.shinglesAll(col("text"), 3)).as("g"))
        .groupBy(col("doc_id"), col("g")).agg(count(lit(1)).as("cnt"))
        .groupBy(col("doc_id"))
        .agg(sum(col("cnt")).as("n_trigrams"),
          max(col("cnt")).as("top_trigram_count"),
          coalesce(sum(when(col("cnt") > 1, col("cnt"))), lit(0L))
            .as("dup_trigram_occurrences"))
        .orderBy("doc_id"),
      Some("""
        WITH t AS (SELECT doc_id, string_split(trim(text), ' ') AS ws FROM documents),
        g AS (SELECT doc_id,
                     ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS g
              FROM t, unnest(generate_series(1, len(ws) - 2)) AS u(i)
              WHERE len(ws) >= 3),
        c AS (SELECT doc_id, g, count(*) AS cnt FROM g GROUP BY 1, 2)
        SELECT doc_id,
               CAST(sum(cnt) AS BIGINT) AS n_trigrams,
               CAST(max(cnt) AS BIGINT) AS top_trigram_count,
               CAST(coalesce(sum(cnt) FILTER (cnt > 1), 0) AS BIGINT)
                 AS dup_trigram_occurrences
        FROM c GROUP BY 1 ORDER BY 1
      """)),

    // ---- benchmark decontamination: eval-vs-corpus n-gram containment ---
    // THE training-data hygiene op: how much of each held-out doc's
    // content appears ANYWHERE in the training corpus. source='src0'
    // stands in as the eval set; containment is distinct-5-gram semi-join
    // hit count — a hash equi-join on the gram, NOT pairwise doc
    // comparison, so at 100 TB it scales with corpus gram volume. The
    // is_contaminated flag (>= 80% containment) is integer
    // cross-multiplied.
    Reg("decontamination_overlap",
      decontaminationFn,
      Some(decontaminationOracle)),

    // ---- custom Catalyst Generator: streamed positional n-grams ---------
    // The true UDTF tier graded end to end: ngrams_gen is a registered
    // Generator expression that ITERATES (pos, ngram) rows instead of
    // materializing the whole n-gram array per document before explode —
    // the allocation profile that survives million-token outlier docs
    // (see functions/NGramsGenerator.scala). Output = every trigram with
    // its position, content-graded.
    Reg("udtf_trigrams_pos",
      (s, dir) => {
        graft.functions.NGramsGenerator.register(s)
        Tables(s, dir).documents
          .select(col("doc_id"), TextOps.tokens(col("text")).as("t"))
          .selectExpr("doc_id", "ngrams_gen(t, 3)")
          .select(col("doc_id"), col("pos").cast("long").as("pos"), col("ngram"))
          .orderBy("doc_id", "pos")
      },
      Some("""
        WITH t AS (SELECT doc_id, string_split(trim(text), ' ') AS ws FROM documents)
        SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos,
               array_to_string(ws[i:i+2], ' ') AS ngram
        FROM t, unnest(generate_series(1, len(ws) - 2)) AS u(i)
        WHERE len(ws) >= 3
        ORDER BY doc_id, pos
      """)),

    // ---- corpus heavy hitters: tokens above 0.1% of all occurrences -----
    // The exact two-pass formulation (not a sketch): one hash-aggregate
    // for per-token counts, a one-row total, broadcast back as the
    // threshold. At 100 TB the counts agg map-side combines and the total
    // is a scalar — nothing driver-side, nothing quadratic. The ratio is
    // integer `div` (identical floor semantics to DuckDB `//`).
    // ---- bigram-LM perplexity quality scoring (round-10) ----------------
    // The CCNet/Gopher-style LM quality filter rung the curation funnel
    // was missing: score every document by its cross-entropy under an
    // add-one-smoothed corpus bigram model — boilerplate-ish docs made of
    // high-probability transitions score low, token-salad scores high.
    //   nll(doc) = Σ_bigrams −ln( (c₂(w₁,w₂)+1) / (c₁(w₁)+V) )
    // Determinism: each term's ln takes the IEEE-exact double quotient of
    // two exact integers, rounds to integer MICROS immediately, and the
    // per-doc total is an INTEGER sum — so the corpus-wide aggregation
    // order cannot perturb the hash (the float-sum rule). V (vocab size)
    // and the count tables are data-derived. Scale shape: bigrams are a
    // map-side array transform (no position join — the textrank shifted-
    // join lesson doesn't even apply, the array is per-row); the count
    // tables are ≤ V² rows → broadcast back; one groupBy(doc) ends it.
    // Per-token normalization as avg_nll_um = nll div n (non-negative).
    Reg("lm_perplexity_score",
      (s, dir) => {
        val bi = Tables(s, dir).documents
          .select(col("doc_id"), TextOps.tokens(col("text")).as("t"))
          // one-token guard: Spark's sequence(1, 0) runs DESCENDING (the
          // shingles trap) where DuckDB's end-exclusive range is empty
          .filter(size(col("t")) >= 2)
          .select(col("doc_id"), explode(expr(
            "transform(sequence(1, size(t) - 1)," +
              " i -> struct(element_at(t, i) AS w1, element_at(t, i + 1) AS w2))"))
            .as("b"))
          .select(col("doc_id"), col("b.w1").as("w1"), col("b.w2").as("w2"))
        val c2 = bi.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c2"))
        val c1 = c2.groupBy(col("w1")).agg(sum(col("c2")).as("c1"))
        val v = Tables(s, dir).documents
          .select(explode(TextOps.tokens(col("text"))).as("w"))
          .agg(countDistinct(col("w")).as("vocab"))
        val nll = c2.join(c1, "w1").crossJoin(broadcast(v))
          .withColumn("nll_um", expr(
            "CAST(round(-ln(CAST(c2 + 1 AS DOUBLE) / CAST(c1 + vocab AS DOUBLE))" +
              " * CAST(1000000 AS DOUBLE)) AS BIGINT)"))
          .select(col("w1"), col("w2"), col("nll_um"))
        // NO forced broadcast on the count side: ≤ V² rows is tiny at the
        // 31-word fixture (AQE will broadcast it), but a realistic 1M-type
        // vocabulary makes the bigram table ~10¹² candidates — the 100 TB
        // plan is a plain shuffle join on (w1, w2), and AQE picks the
        // broadcast automatically whenever the table actually is small
        bi.join(nll, Seq("w1", "w2"))
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_bigrams"), sum(col("nll_um")).as("nll_sum_um"),
            expr("sum(nll_um) div count(*)").as("avg_nll_um"))
          .orderBy("doc_id")
      },
      Some("""
        WITH t AS (SELECT doc_id, string_split(trim(text), ' ') AS ws FROM documents),
        bi AS (SELECT doc_id, unnest(list_transform(range(1, len(ws)),
                        i -> struct_pack(w1 := ws[i], w2 := ws[i + 1]))) AS b
               FROM t),
        bg AS (SELECT doc_id, b.w1 AS w1, b.w2 AS w2 FROM bi),
        c2 AS (SELECT w1, w2, count(*) AS c2 FROM bg GROUP BY 1, 2),
        c1 AS (SELECT w1, CAST(sum(c2) AS BIGINT) AS c1 FROM c2 GROUP BY 1),
        v AS (SELECT count(DISTINCT w) AS vocab FROM (
                SELECT unnest(string_split(trim(text), ' ')) AS w FROM documents)),
        nll AS (SELECT c2.w1, c2.w2,
                       CAST(round(-ln(CAST(c2.c2 + 1 AS DOUBLE) /
                                      CAST(c1.c1 + v.vocab AS DOUBLE))
                                  * CAST(1000000 AS DOUBLE)) AS BIGINT) AS nll_um
                FROM c2 JOIN c1 USING (w1), v)
        SELECT bg.doc_id, count(*) AS n_bigrams,
               CAST(sum(n.nll_um) AS BIGINT) AS nll_sum_um,
               CAST(sum(n.nll_um) // count(*) AS BIGINT) AS avg_nll_um
        FROM bg JOIN nll n ON bg.w1 = n.w1 AND bg.w2 = n.w2
        GROUP BY 1 ORDER BY doc_id
      """)),

    // ---- A-ES weighted sampling without replacement (round-10) ----------
    // Efraimidis–Spirakis (2006, public): each item draws u ∈ (0,1) and
    // keeps key u^(1/w); the k largest keys are a weighted sample without
    // replacement — THE distributed weighted-sampling primitive (one
    // map + one top-k, mergeable across partitions, no sequential
    // reservoir). Determinism: u comes from the md5-based hash60 of a
    // salted doc_id ((hv+1)/2^60 — the +1 keeps u > 0, the 2^60 divisor
    // is a power of two so the division is IEEE-exact), and the k-largest
    // u^(1/w) are selected as the k-SMALLEST −ln(u)/w (same order,
    // log-domain): −ln(u) is rounded to integer nanos immediately (the
    // one float op; its input is bit-identical on both engines) and the
    // /w happens in integer space (·10⁶ div w, everything non-negative).
    // Weight = token count, so long documents are proportionally more
    // likely — the curation-sampling shape. Top-20 via orderBy+limit
    // (TakeOrderedAndProject); at 100 TB the same two-stage top-k holds.
    Reg("weighted_sample_aes",
      (s, dir) => {
        Tables(s, dir).documents
          .select(col("doc_id"), size(TextOps.tokens(col("text"))).as("w"),
            TextOps.hash60(concat(lit("aes:"), col("doc_id").cast("string")))
              .as("hv"))
          .withColumn("nln_nano", expr(
            "CAST(round(-ln(CAST(hv + 1 AS DOUBLE) /" +
              " CAST(1152921504606846976 AS DOUBLE))" +
              " * CAST(1000000000 AS DOUBLE)) AS BIGINT)"))
          .withColumn("priority", expr("(nln_nano * 1000000L) div w"))
          .orderBy(col("priority"), col("doc_id")).limit(20)
          .withColumn("rank", row_number().over(Window
            .orderBy(col("priority"), col("doc_id"))))
          .select(col("rank"), col("doc_id"), col("w"), col("priority"))
          .orderBy("rank")
      },
      Some("""
        WITH d AS (SELECT doc_id, len(string_split(trim(text), ' ')) AS w,
                          ('0x' || substr(md5('aes:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT AS hv
                   FROM documents),
        p AS (SELECT doc_id, w,
                     (CAST(round(-ln(CAST(hv + 1 AS DOUBLE) /
                                     CAST(1152921504606846976 AS DOUBLE))
                                 * CAST(1000000000 AS DOUBLE)) AS BIGINT)
                      * 1000000) // w AS priority
              FROM d),
        r AS (SELECT *, row_number() OVER (ORDER BY priority, doc_id) AS rank
              FROM p)
        SELECT rank, doc_id, w, priority FROM r WHERE rank <= 20 ORDER BY rank
      """)),

    // ---- feature hashing (hashing-trick vectorization) (round-10) -------
    // Weinberger et al. 2009 (public): vectorize each document into a
    // FIXED 64-dim space with no vocabulary table — bucket =
    // hash60(token) mod 64, sign = the hash's next bit (the signed trick
    // that makes collisions cancel in expectation). THE scalable
    // vectorizer: stateless, map-side, dimension independent of vocab
    // size — the preprocessing rung in front of any hashed linear model
    // at 100 TB. All-integer output per doc: nnz (distinct non-zero
    // buckets), l1 norm of signed counts, and the argmax bucket with
    // deterministic (|v| desc, bucket) tie-break.
    Reg("feature_hashing_vec",
      (s, dir) => {
        val w = Window.partitionBy(col("doc_id"))
          .orderBy(abs(col("v")).desc, col("bucket"))
        Tables(s, dir).documents
          .select(col("doc_id"), explode(TextOps.tokens(col("text"))).as("t"))
          .filter(col("t") =!= "")
          .withColumn("hv", TextOps.hash60(col("t")))
          .select(col("doc_id"), expr("hv % 64").as("bucket"),
            expr("CASE WHEN (hv div 64) % 2 = 1 THEN 1L ELSE -1L END").as("sgn"))
          .groupBy(col("doc_id"), col("bucket"))
          .agg(sum(col("sgn")).as("v"))
          .filter(col("v") =!= 0)
          .withColumn("rk", row_number().over(w))
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("nnz"), sum(abs(col("v"))).as("l1_norm"),
            max(when(col("rk") === 1, col("bucket"))).as("top_bucket"),
            max(when(col("rk") === 1, col("v"))).as("top_value"))
          .orderBy("doc_id")
      },
      Some("""
        WITH tok AS (SELECT doc_id, unnest(string_split(trim(text), ' ')) AS t
                     FROM documents),
        h AS (SELECT doc_id,
                     ('0x' || substr(md5(t), 1, 15))::BIGINT AS hv
              FROM tok WHERE t <> ''),
        b AS (SELECT doc_id, hv % 64 AS bucket,
                     CASE WHEN (hv // 64) % 2 = 1 THEN 1 ELSE -1 END AS sgn
              FROM h),
        agg AS (SELECT doc_id, bucket, CAST(sum(sgn) AS BIGINT) AS v
                FROM b GROUP BY 1, 2 HAVING sum(sgn) <> 0),
        r AS (SELECT *, row_number() OVER (PARTITION BY doc_id
                ORDER BY abs(v) DESC, bucket) AS rk
              FROM agg)
        SELECT doc_id, count(*) AS nnz, CAST(sum(abs(v)) AS BIGINT) AS l1_norm,
               CAST(max(CASE WHEN rk = 1 THEN bucket END) AS BIGINT) AS top_bucket,
               max(CASE WHEN rk = 1 THEN v END) AS top_value
        FROM r GROUP BY 1 ORDER BY doc_id
      """)),

    // ---- stratified sampling: exact k per stratum (round-10) ------------
    // Completes the sampling family (uniform md5 corpus sample, weighted
    // A-ES): exactly k = 5 docs per (lang, source-parity) stratum, chosen
    // by salted md5 order — the deterministic stand-in for per-stratum
    // uniform draws, and the shape quota-sampling pipelines run (train/
    // eval splits balanced over metadata cells). One rank window per
    // stratum (partition-parallel, state O(1)) + the filter; no global
    // sort. At 100 TB the per-stratum rank is the textbook two-stage
    // top-k — each stratum's candidates reduce before the final pick.
    Reg("stratified_sample_docs",
      (s, dir) => {
        val w = Window.partitionBy(col("lang"), col("par"))
          .orderBy(col("hv"), col("doc_id"))
        Tables(s, dir).documents
          .select(col("doc_id"), col("lang"),
            expr("CAST(substring(source, 4, 10) AS BIGINT) % 2").as("par"),
            TextOps.hash60(concat(lit("strat:"), col("doc_id").cast("string")))
              .as("hv"))
          .withColumn("pick", row_number().over(w))
          .filter(col("pick") <= 5)
          .select(col("lang"), col("par"), col("pick"), col("doc_id"))
          .orderBy("lang", "par", "pick")
      },
      Some("""
        WITH d AS (SELECT doc_id, lang,
                          CAST(substr(source, 4, 10) AS BIGINT) % 2 AS par,
                          ('0x' || substr(md5('strat:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT AS hv
                   FROM documents),
        r AS (SELECT lang, par, doc_id,
                     row_number() OVER (PARTITION BY lang, par
                                        ORDER BY hv, doc_id) AS pick
              FROM d)
        SELECT lang, par, pick, doc_id
        FROM r WHERE pick <= 5
        ORDER BY lang, par, pick
      """)),

    Reg("heavy_hitter_tokens",
      (s, dir) => {
        val counts = Tables(s, dir).documents
          .select(explode(TextOps.tokens(col("text"))).as("tok"))
          .groupBy(col("tok")).agg(count(lit(1)).as("cnt"))
        val total = counts.agg(sum(col("cnt")).as("n_total"))
        counts.crossJoin(broadcast(total))
          .filter(col("cnt") * 1000 > col("n_total"))
          .select(col("tok"), col("cnt"),
            expr("cnt * 10000 div n_total").as("permyriad"))
          .orderBy(col("cnt").desc, col("tok"))
      },
      Some("""
        WITH tok AS (SELECT unnest(string_split(trim(text), ' ')) AS tok
                     FROM documents),
        c AS (SELECT tok, count(*) AS cnt FROM tok GROUP BY 1),
        t AS (SELECT CAST(sum(cnt) AS BIGINT) AS n_total FROM c)
        SELECT tok, cnt, CAST(cnt * 10000 // n_total AS BIGINT) AS permyriad
        FROM c, t
        WHERE cnt * 1000 > n_total
        ORDER BY cnt DESC, tok
      """)),

    // ---- Misra-Gries heavy hitters, exactly verified (round-11) ---------
    // The SKETCH path for the query above — heavy_hitter_tokens' exact
    // first pass hash-aggregates the FULL token domain (a 1B-type
    // vocabulary is a 1B-key shuffle); here pass 1 is a Misra-Gries
    // summary ([[graft.functions.MisraGriesAggregator]], ≤ 2000 counters
    // per map partition moved, not the vocabulary) and pass 2 recounts
    // ONLY the semi-joined candidates. The MG summary contents are
    // merge-order-dependent — which is why this was long assumed
    // spec-only — but its guarantee (any token with count > n/(k+1)
    // survives, under ANY merge order) means candidates ⊇ all tokens
    // over the n/1000 output threshold (k = 2000 ⇒ n/2001 < n/1000),
    // and the exact recount + threshold makes the OUTPUT deterministic:
    // graded by the SAME exact SQL as the two-pass twin (the
    // shared-oracle pattern). MisraGriesSpec proves the bound survives
    // random partitionings; the fixture's 31-word vocabulary never
    // overflows 2000 counters, so the spec's small-k property tests are
    // where the eviction machinery is actually exercised.
    Reg("heavy_hitters_mg_verified",
      (s, dir) => {
        val mg = udaf(new graft.functions.MisraGriesAggregator(2000),
          org.apache.spark.sql.Encoders.STRING)
        // three consumers (summary, n_total, recount join) — checkpoint
        // the exploded relation once or the documents scan+explode
        // replays per consumer (ADVICE r11; the bounded-artifact
        // discipline shared with the graph queries)
        val toks = Tables(s, dir).documents
          .select(explode(TextOps.tokens(col("text"))).as("tok"))
          .localCheckpoint()
        val cand = toks.agg(mg(col("tok")).as("summary"))
          .select(explode(map_keys(col("summary"))).as("tok"))
        val total = toks.agg(count(lit(1)).as("n_total"))
        toks.join(broadcast(cand), "tok")
          .groupBy(col("tok")).agg(count(lit(1)).as("cnt"))
          .crossJoin(broadcast(total))
          .filter(col("cnt") * 1000 > col("n_total"))
          .select(col("tok"), col("cnt"),
            expr("cnt * 10000 div n_total").as("permyriad"))
          .orderBy(col("cnt").desc, col("tok"))
      },
      Some("""
        WITH tok AS (SELECT unnest(string_split(trim(text), ' ')) AS tok
                     FROM documents),
        c AS (SELECT tok, count(*) AS cnt FROM tok GROUP BY 1),
        t AS (SELECT CAST(sum(cnt) AS BIGINT) AS n_total FROM c)
        SELECT tok, cnt, CAST(cnt * 10000 // n_total AS BIGINT) AS permyriad
        FROM c, t
        WHERE cnt * 1000 > n_total
        ORDER BY cnt DESC, tok
      """)),

    // ---- Good-Turing frequency-of-frequencies table (round-11) ----------
    // Completes the LM-smoothing shelf (add-one → lm_perplexity_score,
    // Kneser-Ney → kn_perplexity_score, Good-Turing → here): the
    // frequency-of-frequencies table N_r = |{w : c(w) = r}| and the raw
    // Turing estimate r* = (r+1)·N_{r+1}/N_r — the count a frequency-r
    // word SHOULD have, whose total mass over r=0 famously equals
    // N_1/N (the unseen-mass estimate). Emitted PURE INTEGER:
    // rstar_um = (r+1)·N_{r+1}·10⁶ div N_r, with N_{r+1} = 0 (hence
    // r* = 0) where the class is empty — the raw estimate; production
    // Simple Good-Turing (Gale & Sampson) regresses log N_r on log r to
    // fill those gaps — graded in-engine as `good_turing_sgt` below
    // (round 12). Shape: one token agg + one count-class agg + a
    // 1-offset self-join on the r key — all hash-partitioned, the
    // count-class table is ≤ max frequency rows (vocabulary-bounded).
    Reg("good_turing_counts",
      (s, dir) => {
        val cnt = Tables(s, dir).documents
          .select(explode(TextOps.tokens(col("text"))).as("w"))
          .groupBy(col("w")).agg(count(lit(1)).as("c"))
        val nr = cnt.groupBy(col("c").as("r")).agg(count(lit(1)).as("n_r"))
        nr.join(nr.select((col("r") - 1).as("r"), col("n_r").as("n_r1")),
            Seq("r"), "left")
          .select(col("r"), col("n_r"),
            expr("((r + 1) * coalesce(n_r1, 0L) * 1000000) div n_r")
              .as("rstar_um"))
          .orderBy("r")
      },
      Some("""
        WITH tok AS (SELECT unnest(string_split(trim(text), ' ')) AS w
                     FROM documents),
        cnt AS (SELECT w, count(*) AS c FROM tok GROUP BY 1),
        nr AS (SELECT c AS r, count(*) AS n_r FROM cnt GROUP BY 1)
        SELECT a.r, a.n_r,
               CAST(((a.r + 1) * coalesce(b.n_r, 0) * 1000000)
                 // a.n_r AS BIGINT) AS rstar_um
        FROM nr a LEFT JOIN nr b ON b.r = a.r + 1
        ORDER BY a.r
      """)),

    // ---- Simple Good-Turing smoothing (round-12, closing VERDICT r11 #5)
    // Gale & Sampson's completion of the raw Turing table above: log-log
    // OLS of N_r on r (the zipf_slope_corpus fold discipline — ordered
    // (ln r, ln N_r) points collected into ONE sorted array, the four
    // sums folded in r order so both engines run the identical IEEE
    // sequence), slope quantized to integer micros, then the smoothed
    // estimate S(r) = A·r^b gives r*_sgt = (r+1)·S(r+1)/S(r) =
    // (r+1)·((r+1)/r)^b — defined for EVERY r, including the empty
    // N_{r+1} classes where raw r* collapses to 0. Emitted in LOG space
    // (ln r*_sgt = ln(r+1) + b·(ln(r+1) − ln(r)), micro-quantized):
    // ln of integer-valued doubles is the one transcendental this
    // repo's cross-engine contract admits (SURVEY §5) — exp/pow are
    // not, so the linear-space value stays a reader-side exp away.
    // Degenerate single-class corpus (denominator 0) → slope sentinel 0
    // mirrored on both engines. Same scale shape as the base table; the
    // OLS adds one vocabulary-bounded global fold.
    Reg("good_turing_sgt",
      (s, dir) => {
        val nr = Tables(s, dir).documents
          .select(explode(TextOps.tokens(col("text"))).as("w"))
          .groupBy(col("w")).agg(count(lit(1)).as("c"))
          .groupBy(col("c").as("r")).agg(count(lit(1)).as("n_r"))
        val fit = nr
          .withColumn("x", expr("ln(CAST(r AS DOUBLE))"))
          .withColumn("y", expr("ln(CAST(n_r AS DOUBLE))"))
          .agg(count(lit(1)).as("n"),
            sort_array(collect_list(struct(col("r"), col("x"), col("y")))).as("arr"))
          .withColumn("sx", expr("aggregate(arr, CAST(0 AS DOUBLE), (a, s) -> a + s.x)"))
          .withColumn("sy", expr("aggregate(arr, CAST(0 AS DOUBLE), (a, s) -> a + s.y)"))
          .withColumn("sxy", expr("aggregate(arr, CAST(0 AS DOUBLE), (a, s) -> a + s.x * s.y)"))
          .withColumn("sxx", expr("aggregate(arr, CAST(0 AS DOUBLE), (a, s) -> a + s.x * s.x)"))
          .select(expr(
            "CASE WHEN n * sxx - sx * sx = CAST(0 AS DOUBLE) THEN 0L" +
              " ELSE CAST(round(((n * sxy - sx * sy) / (n * sxx - sx * sx)) * 1000000) AS BIGINT)" +
              " END").as("slope_um"))
        nr.crossJoin(broadcast(fit))
          .select(col("r"), col("n_r"), col("slope_um"),
            expr("CAST(round((ln(CAST(r + 1 AS DOUBLE)) +" +
              " (CAST(slope_um AS DOUBLE) / 1000000.0) *" +
              " (ln(CAST(r + 1 AS DOUBLE)) - ln(CAST(r AS DOUBLE)))) * 1000000)" +
              " AS BIGINT)").as("ln_rstar_sgt_um"))
          .orderBy("r")
      },
      Some("""
        WITH tok AS (SELECT unnest(string_split(trim(text), ' ')) AS w
                     FROM documents),
        cnt AS (SELECT w, count(*) AS c FROM tok GROUP BY 1),
        nr AS (SELECT c AS r, count(*) AS n_r FROM cnt GROUP BY 1),
        p AS (SELECT r, ln(CAST(r AS DOUBLE)) AS x,
                     ln(CAST(n_r AS DOUBLE)) AS y
              FROM nr),
        sums AS (
          SELECT count(*) AS n,
                 list_sum(list(x ORDER BY r)) AS sx,
                 list_sum(list(y ORDER BY r)) AS sy,
                 list_sum(list(x * y ORDER BY r)) AS sxy,
                 list_sum(list(x * x ORDER BY r)) AS sxx
          FROM p),
        fit AS (
          SELECT CASE WHEN n * sxx - sx * sx = CAST(0 AS DOUBLE) THEN 0
                 ELSE CAST(round(((n * sxy - sx * sy) / (n * sxx - sx * sx)) * 1000000) AS BIGINT)
                 END AS slope_um
          FROM sums)
        SELECT nr.r, nr.n_r, fit.slope_um,
               CAST(round((ln(CAST(nr.r + 1 AS DOUBLE)) +
                 (CAST(fit.slope_um AS DOUBLE) / 1000000.0) *
                 (ln(CAST(nr.r + 1 AS DOUBLE)) - ln(CAST(nr.r AS DOUBLE)))) * 1000000)
                 AS BIGINT) AS ln_rstar_sgt_um
        FROM nr, fit
        ORDER BY nr.r
      """)),

    // ---- SGT-smoothed unigram perplexity scoring (round-13) -------------
    // The consumer that closes the LM-smoothing shelf symmetrically
    // (VERDICT r12 #7): add-one and Kneser-Ney both have perplexity
    // scorers; Simple Good-Turing only emitted its smoothed table. Score
    // every document under the SGT unigram model: a word with training
    // count r carries probability r*_sgt/N (Gale & Sampson's discounted
    // count over total tokens), so per-token
    //   nll = ln N − ln r*_sgt
    //       = ln N − (ln(r+1) + b·(ln(r+1) − ln(r)))
    // — ONE double tree whose leaves are ln's of exact integers and the
    // micro-quantized slope, identical on both engines, rounded to
    // integer micros per DISTINCT r (a vocabulary-bounded table), then
    // integer-summed per document. Rare words (small r, steep discount)
    // score high; boilerplate scores low — the same curation use as
    // lm/kn_perplexity but trained on unigram frequency classes only,
    // which is the model that stays estimable on tiny per-language
    // slices. avg uses the sign-split div (b > 0 on a degenerate
    // frequency table can push a term negative; natural corpora give
    // b < 0 and non-negative nll). Scale shape: two vocabulary-bounded
    // aggs + the OLS fold + a w-keyed join back (NOT hint-broadcast —
    // the lm_perplexity rationale: AQE broadcasts while the count table
    // is actually small) + one doc agg.
    Reg("sgt_perplexity_score",
      (s, dir) => {
        val tok = Tables(s, dir).documents
          .select(col("doc_id"), explode(TextOps.tokens(col("text"))).as("w"))
        val cnt = tok.groupBy(col("w")).agg(count(lit(1)).as("c"))
        val nr = cnt.groupBy(col("c").as("r")).agg(count(lit(1)).as("n_r"))
        val fit = nr
          .withColumn("x", expr("ln(CAST(r AS DOUBLE))"))
          .withColumn("y", expr("ln(CAST(n_r AS DOUBLE))"))
          .agg(count(lit(1)).as("n"),
            sort_array(collect_list(struct(col("r"), col("x"), col("y")))).as("arr"))
          .withColumn("sx", expr("aggregate(arr, CAST(0 AS DOUBLE), (a, s) -> a + s.x)"))
          .withColumn("sy", expr("aggregate(arr, CAST(0 AS DOUBLE), (a, s) -> a + s.y)"))
          .withColumn("sxy", expr("aggregate(arr, CAST(0 AS DOUBLE), (a, s) -> a + s.x * s.y)"))
          .withColumn("sxx", expr("aggregate(arr, CAST(0 AS DOUBLE), (a, s) -> a + s.x * s.x)"))
          .select(expr(
            "CASE WHEN n * sxx - sx * sx = CAST(0 AS DOUBLE) THEN 0L" +
              " ELSE CAST(round(((n * sxy - sx * sy) / (n * sxx - sx * sx)) * 1000000) AS BIGINT)" +
              " END").as("slope_um"))
        val tot = tok.agg(count(lit(1)).as("n_tok"))
        val nll = nr.crossJoin(broadcast(fit)).crossJoin(broadcast(tot))
          .select(col("r"), expr(
            "CAST(round((ln(CAST(n_tok AS DOUBLE)) -" +
              " (ln(CAST(r + 1 AS DOUBLE)) +" +
              " (CAST(slope_um AS DOUBLE) / 1000000.0) *" +
              " (ln(CAST(r + 1 AS DOUBLE)) - ln(CAST(r AS DOUBLE)))))" +
              " * CAST(1000000 AS DOUBLE)) AS BIGINT)").as("nll_um"))
        tok.join(cnt, "w").join(nll, col("c") === col("r"))
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_tokens"), sum(col("nll_um")).as("nll_sum_um"))
          .select(col("doc_id"), col("n_tokens"), col("nll_sum_um"),
            expr("CASE WHEN nll_sum_um >= 0 THEN nll_sum_um div n_tokens" +
              " ELSE -((-nll_sum_um) div n_tokens) END").as("avg_nll_um"))
          .orderBy("doc_id")
      },
      Some("""
        WITH tok AS (SELECT doc_id, unnest(string_split(trim(text), ' ')) AS w
                     FROM documents),
        cnt AS (SELECT w, count(*) AS c FROM tok GROUP BY 1),
        nr AS (SELECT c AS r, count(*) AS n_r FROM cnt GROUP BY 1),
        p AS (SELECT r, ln(CAST(r AS DOUBLE)) AS x,
                     ln(CAST(n_r AS DOUBLE)) AS y
              FROM nr),
        sums AS (
          SELECT count(*) AS n,
                 list_sum(list(x ORDER BY r)) AS sx,
                 list_sum(list(y ORDER BY r)) AS sy,
                 list_sum(list(x * y ORDER BY r)) AS sxy,
                 list_sum(list(x * x ORDER BY r)) AS sxx
          FROM p),
        fit AS (
          SELECT CASE WHEN n * sxx - sx * sx = CAST(0 AS DOUBLE) THEN 0
                 ELSE CAST(round(((n * sxy - sx * sy) / (n * sxx - sx * sx)) * 1000000) AS BIGINT)
                 END AS slope_um
          FROM sums),
        tot AS (SELECT count(*) AS n_tok FROM tok),
        nll AS (SELECT nr.r,
                       CAST(round((ln(CAST(tot.n_tok AS DOUBLE)) -
                         (ln(CAST(nr.r + 1 AS DOUBLE)) +
                          (CAST(fit.slope_um AS DOUBLE) / 1000000.0) *
                          (ln(CAST(nr.r + 1 AS DOUBLE)) - ln(CAST(nr.r AS DOUBLE)))))
                         * CAST(1000000 AS DOUBLE)) AS BIGINT) AS nll_um
                FROM nr, fit, tot),
        terms AS (SELECT tok.doc_id, nll.nll_um
                  FROM tok JOIN cnt ON tok.w = cnt.w
                  JOIN nll ON cnt.c = nll.r),
        agg AS (SELECT doc_id, count(*) AS n_tokens,
                       CAST(sum(nll_um) AS BIGINT) AS nll_sum_um
                FROM terms GROUP BY 1)
        SELECT doc_id, n_tokens, nll_sum_um,
               CAST(CASE WHEN nll_sum_um >= 0 THEN nll_sum_um // n_tokens
                    ELSE -((-nll_sum_um) // n_tokens) END AS BIGINT) AS avg_nll_um
        FROM agg
        ORDER BY doc_id
      """)),

    // ---- vocabulary richness per source: type-token ratio ---------------
    // Corpus-quality dashboard stat: distinct token types vs total tokens
    // per source. countDistinct is an exact two-phase agg (partial sets
    // are (source, tok) pairs — at 100 TB this is the standard distinct
    // rewrite, one extra shuffle, no sketch error).
    Reg("vocab_by_source",
      (s, dir) => Tables(s, dir).documents
        .select(col("source"), explode(TextOps.tokens(col("text"))).as("tok"))
        .groupBy(col("source"))
        .agg(countDistinct(col("tok")).as("n_types"),
          count(lit(1)).as("n_tokens"))
        .withColumn("ttr_permille", expr("n_types * 1000 div n_tokens"))
        .orderBy("source"),
      Some("""
        WITH tok AS (SELECT source, unnest(string_split(trim(text), ' ')) AS tok
                     FROM documents)
        SELECT source, count(DISTINCT tok) AS n_types, count(*) AS n_tokens,
               count(DISTINCT tok) * 1000 // count(*) AS ttr_permille
        FROM tok GROUP BY 1 ORDER BY 1
      """)),

    // ---- boilerplate share: 5-grams appearing in 2+ documents -----------
    // The CCNet/C4-style inter-document repetition signal: per doc, the
    // share of its DISTINCT 5-grams that any other doc also contains.
    // Formulation: ONE pass over the corpus — exploded distinct shingles,
    // docfreq via a count window over the gram partition (no join-back,
    // which computes the explode twice; no collect_list of doc ids, which
    // materializes a hot gram's whole posting list in one buffer), then
    // the per-doc hash-agg. A ubiquitous gram makes one sorted partition
    // large, but rows stream through the window with spill — the
    // skew-safe single-pass shape. A/B at sf0.1: 1.6 s vs 3.7 s join-back.
    Reg("boilerplate_ngram_ratio",
      (s, dir) => {
        val g = TextOps.explodedShingles(Tables(s, dir).documents, 5)
        g.withColumn("docfreq",
            count(lit(1)).over(Window.partitionBy(col("shingle"))))
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_grams"),
            count(when(col("docfreq") >= 2, 1)).as("n_shared"))
          .withColumn("shared_permille", expr("n_shared * 1000 div n_grams"))
          .orderBy("doc_id")
      },
      Some("""
        WITH t AS (SELECT doc_id, string_split(trim(text), ' ') AS ws
                   FROM documents),
        sh AS (SELECT doc_id,
                      list_distinct([array_to_string(ws[i:i+4], ' ')
                                     FOR i IN range(1, len(ws) - 3)]) AS s
               FROM t WHERE len(ws) >= 5),
        g AS (SELECT doc_id, unnest(s) AS g FROM sh),
        dfq AS (SELECT g, count(*) AS docfreq FROM g GROUP BY 1),
        j AS (SELECT g.doc_id, dfq.docfreq FROM g JOIN dfq ON g.g = dfq.g)
        SELECT doc_id, count(*) AS n_grams,
               count(*) FILTER (docfreq >= 2) AS n_shared,
               count(*) FILTER (docfreq >= 2) * 1000 // count(*) AS shared_permille
        FROM j GROUP BY 1 ORDER BY 1
      """)),

    // ---- doc-length percentiles per source ------------------------------
    // The corpus-profile stat behind length filtering: exact p10/p50/p90
    // of n_chars per source. Integer inputs, identical linear
    // interpolation (`percentile` ↔ `quantile_cont`), rounded 2dp.
    Reg("doclen_percentiles_by_source",
      (s, dir) => Tables(s, dir).documents
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          round(expr("percentile(n_chars, 0.1)"), 2).as("p10"),
          round(expr("percentile(n_chars, 0.5)"), 2).as("p50"),
          round(expr("percentile(n_chars, 0.9)"), 2).as("p90"))
        .orderBy("source"),
      Some("""
        SELECT source, count(*) AS n_docs,
               round(quantile_cont(n_chars, 0.1), 2) AS p10,
               round(quantile_cont(n_chars, 0.5), 2) AS p50,
               round(quantile_cont(n_chars, 0.9), 2) AS p90
        FROM documents GROUP BY 1 ORDER BY 1
      """)),

    // ---- bloom-screened decontamination: the 100 TB pre-filter ----------
    // decontamination_overlap's exact gram semi-join shuffles every eval
    // gram against the full train-gram set; the scale deployment first
    // screens eval grams against a BLOOM of the train grams (a few MB
    // travelling with the plan vs a corpus-sized shuffle side) and only
    // semi-joins the survivors. Graded as a contract: bloom membership has
    // NO false negatives, so n_bloom_hit must lie in [n_hit, n_grams] —
    // a mathematical certainty the oracle predicts as booleans, anchored
    // by the exact n_hit hash. The train grams are computed once per side
    // at fixture scale (ReusedExchange dedups the shared agg subtree).
    Reg("decontamination_bloom",
      (s, dir) => {
        graft.functions.BloomFuncs.register(s)
        val docs = Tables(s, dir).documents
        docs.filter(col("source") =!= "src0")
          .select(explode(TextOps.shingles(col("text"), 5)).as("g")).distinct()
          .createOrReplaceTempView("bloom_train_grams_v")
        val evalG = docs.filter(col("source") === "src0")
          .select(col("doc_id"), explode(TextOps.shingles(col("text"), 5)).as("g"))
          .withColumn("bloom_hit", expr(
            """might_contain(
                 (SELECT bloom_agg(xxhash64(g), CAST(1048576 AS BIGINT)) FROM bloom_train_grams_v),
                 xxhash64(g))"""))
        val exactHits = evalG
          .join(s.table("bloom_train_grams_v"), Seq("g"), "left_semi")
          .groupBy(col("doc_id")).agg(count(lit(1)).as("n_hit"))
        evalG.groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_grams"),
            count(when(col("bloom_hit"), 1)).as("_n_bloom"))
          .join(exactHits, Seq("doc_id"), "left")
          .select(col("doc_id"), col("n_grams"),
            coalesce(col("n_hit"), lit(0L)).as("n_hit"),
            (col("_n_bloom") >= coalesce(col("n_hit"), lit(0L))).as("bloom_no_false_neg"),
            (col("_n_bloom") <= col("n_grams")).as("bloom_bounded"))
          .orderBy("doc_id")
      },
      Some("""
        WITH t AS (SELECT doc_id, source, string_split(trim(text), ' ') AS ws
                   FROM documents),
        sh AS (SELECT doc_id, source,
                      list_distinct([array_to_string(ws[i:i+4], ' ')
                                     FOR i IN range(1, len(ws) - 3)]) AS s
               FROM t WHERE len(ws) >= 5),
        ev AS (SELECT doc_id, unnest(s) AS g FROM sh WHERE source = 'src0'),
        tr AS (SELECT DISTINCT unnest(s) AS g FROM sh WHERE source <> 'src0'),
        tot AS (SELECT doc_id, count(*) AS n_grams FROM ev GROUP BY 1),
        hit AS (SELECT ev.doc_id, count(*) AS n_hit
                FROM ev JOIN tr ON ev.g = tr.g GROUP BY 1)
        SELECT tot.doc_id, tot.n_grams,
               coalesce(hit.n_hit, 0) AS n_hit,
               true AS bloom_no_false_neg,
               true AS bloom_bounded
        FROM tot LEFT JOIN hit ON tot.doc_id = hit.doc_id
        ORDER BY tot.doc_id
      """)),

    // ---- per-document unigram entropy (quality signal) -------------------
    // −Σ p·ln p over the doc's token distribution — low entropy flags
    // repetitive/templated text. Cross-engine float discipline: the ≤31
    // per-doc terms are folded in TOKEN ORDER on both engines (Spark
    // sort_array ∘ collect_list + aggregate HOF; DuckDB list(… ORDER BY w)
    // + list_sum), so the IEEE op sequence is identical; the result lands
    // on a 1e-4 integer grid (BIGINT output, no float hashing). Scale
    // shape: explode + two hash-aggs; the collect_list is per-doc,
    // vocabulary-bounded.
    Reg("entropy_unigram_docs",
      (s, dir) => {
        val tok = Tables(s, dir).documents
          .select(col("doc_id"), explode(TextOps.tokens(col("text"))).as("w"))
        tok.groupBy(col("doc_id"), col("w")).agg(count(lit(1)).as("c"))
          .groupBy(col("doc_id"))
          .agg(sum(col("c")).as("len"), count(lit(1)).as("n_types"),
            sort_array(collect_list(struct(col("w"), col("c")))).as("arr"))
          .withColumn("ent", expr(
            """-aggregate(arr, CAST(0 AS DOUBLE),
                 (a, s) -> a + (CAST(s.c AS DOUBLE) / len) * ln(CAST(s.c AS DOUBLE) / len))"""))
          .select(col("doc_id"), col("len"), col("n_types"),
            round(col("ent") * 10000).cast("long").as("entropy_x1e4"))
          .orderBy("doc_id")
      },
      Some("""
        WITH tok AS (SELECT doc_id, unnest(string_split(trim(text), ' ')) AS w
                     FROM documents),
        cnt AS (SELECT doc_id, w, count(*) AS c FROM tok GROUP BY 1, 2),
        d AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS len, count(*) AS n_types,
                     list(CAST(c AS DOUBLE) ORDER BY w) AS cs
              FROM cnt GROUP BY 1)
        SELECT doc_id, len, n_types,
               CAST(round(-list_sum(list_transform(cs,
                      c -> (c / len) * ln(c / len))) * 10000) AS BIGINT)
                 AS entropy_x1e4
        FROM d ORDER BY doc_id
      """)),

    // ---- KL divergence: per-source unigram dist vs the corpus ------------
    // Distribution drift per source: KL(source ‖ corpus) = Σ pₛ·ln(pₛ/p_c)
    // over the source's tokens (source ⊆ corpus ⇒ p_c > 0 everywhere).
    // Same ordered-fold discipline as entropy_unigram_docs; 1e-6 integer
    // grid output. Two hash-aggs + one vocab-sized join — the corpus
    // total is a 1-row broadcast.
    Reg("kl_divergence_sources",
      (s, dir) => {
        val tok = Tables(s, dir).documents
          .select(col("source"), explode(TextOps.tokens(col("text"))).as("w"))
        val sc = tok.groupBy(col("source"), col("w")).agg(count(lit(1)).as("cs"))
        val ls = sc.groupBy(col("source")).agg(sum(col("cs")).as("ls"))
        val cc = tok.groupBy(col("w")).agg(count(lit(1)).as("cc"))
        val lc = cc.agg(sum(col("cc")).as("lc"))
        sc.join(ls, "source").join(cc, "w").crossJoin(broadcast(lc))
          .withColumn("term", expr(
            """(CAST(cs AS DOUBLE) / ls) *
               ln((CAST(cs AS DOUBLE) / ls) / (CAST(cc AS DOUBLE) / lc))"""))
          .groupBy(col("source"))
          .agg(max(col("ls")).as("n_tokens"),
            sort_array(collect_list(struct(col("w"), col("term")))).as("arr"))
          .withColumn("kl", expr(
            "aggregate(arr, CAST(0 AS DOUBLE), (a, s) -> a + s.term)"))
          .select(col("source"), col("n_tokens"),
            round(col("kl") * 1000000).cast("long").as("kl_x1e6"))
          .orderBy("source")
      },
      Some("""
        WITH tok AS (SELECT source, unnest(string_split(trim(text), ' ')) AS w
                     FROM documents),
        sc AS (SELECT source, w, count(*) AS cs FROM tok GROUP BY 1, 2),
        ls AS (SELECT source, CAST(sum(cs) AS BIGINT) AS ls FROM sc GROUP BY 1),
        cc AS (SELECT w, count(*) AS cc FROM tok GROUP BY 1),
        lc AS (SELECT CAST(sum(cc) AS BIGINT) AS lc FROM cc),
        terms AS (
          SELECT sc.source, sc.w, ls.ls,
                 (CAST(sc.cs AS DOUBLE) / ls.ls) *
                 ln((CAST(sc.cs AS DOUBLE) / ls.ls) / (CAST(cc.cc AS DOUBLE) / lc.lc)) AS term
          FROM sc JOIN ls USING (source) JOIN cc USING (w) CROSS JOIN lc)
        SELECT source, max(ls) AS n_tokens,
               CAST(round(list_sum(list(term ORDER BY w)) * 1000000) AS BIGINT)
                 AS kl_x1e6
        FROM terms
        GROUP BY source
        ORDER BY source
      """)),

    // ---- Jensen-Shannon divergence: source vs corpus (round-10) ---------
    // KL's bounded, symmetric sibling (Lin 1991, public) — the drift
    // metric curation pipelines actually threshold on, because JS is
    // finite even when a source MISSES vocabulary the corpus has
    // (KL(corpus ‖ source) would be ∞ there; KL(source ‖ corpus) is
    // blind to it). JS(Pₛ, P_c) = ½·KL(Pₛ ‖ M) + ½·KL(P_c ‖ M) with
    // M = (Pₛ+P_c)/2, summed over the CORPUS vocabulary (sources × vocab
    // base, missing source words enter with pₛ = 0 through the
    // corpus-side term only). Same ordered-fold + final-rounding ln
    // discipline as kl_divergence_sources; identical double trees both
    // engines. Shapes: the KL aggs + one broadcast vocab×source base.
    Reg("js_divergence_sources",
      (s, dir) => {
        val tok = Tables(s, dir).documents
          .select(col("source"), explode(TextOps.tokens(col("text"))).as("w"))
        val sc = tok.groupBy(col("source"), col("w")).agg(count(lit(1)).as("cs"))
        val ls = sc.groupBy(col("source")).agg(sum(col("cs")).as("ls"))
        val cc = tok.groupBy(col("w")).agg(count(lit(1)).as("cc"))
        val lc = cc.agg(sum(col("cc")).as("lc"))
        ls.crossJoin(broadcast(cc))
          .join(sc, Seq("source", "w"), "left")
          .withColumn("cs", coalesce(col("cs"), lit(0L)))
          .crossJoin(broadcast(lc))
          .withColumn("term", expr(
            """CASE WHEN cs > 0
                 THEN (CAST(cs AS DOUBLE) / ls)
                      * ln((CAST(cs AS DOUBLE) / ls)
                           / (((CAST(cs AS DOUBLE) / ls) + (CAST(cc AS DOUBLE) / lc))
                              / CAST(2 AS DOUBLE)))
                 ELSE CAST(0 AS DOUBLE) END
               + (CAST(cc AS DOUBLE) / lc)
                 * ln((CAST(cc AS DOUBLE) / lc)
                      / (((CAST(cs AS DOUBLE) / ls) + (CAST(cc AS DOUBLE) / lc))
                         / CAST(2 AS DOUBLE)))"""))
          .groupBy(col("source"))
          .agg(max(col("ls")).as("n_tokens"),
            sort_array(collect_list(struct(col("w"), col("term")))).as("arr"))
          .withColumn("js", expr(
            "aggregate(arr, CAST(0 AS DOUBLE), (a, s) -> a + s.term)"))
          .select(col("source"), col("n_tokens"),
            expr("CAST(round(js * CAST(500000 AS DOUBLE)) AS BIGINT)").as("js_x1e6"))
          .orderBy("source")
      },
      Some("""
        WITH tok AS (SELECT source, unnest(string_split(trim(text), ' ')) AS w
                     FROM documents),
        sc AS (SELECT source, w, count(*) AS cs FROM tok GROUP BY 1, 2),
        ls AS (SELECT source, CAST(sum(cs) AS BIGINT) AS ls FROM sc GROUP BY 1),
        cc AS (SELECT w, count(*) AS cc FROM tok GROUP BY 1),
        lc AS (SELECT CAST(sum(cc) AS BIGINT) AS lc FROM cc),
        base AS (SELECT ls.source, ls.ls, cc.w, cc.cc, coalesce(sc.cs, 0) AS cs
                 FROM ls CROSS JOIN cc
                 LEFT JOIN sc ON sc.source = ls.source AND sc.w = cc.w),
        terms AS (
          SELECT source, ls, w,
                 CASE WHEN cs > 0
                   THEN (CAST(cs AS DOUBLE) / ls)
                        * ln((CAST(cs AS DOUBLE) / ls)
                             / (((CAST(cs AS DOUBLE) / ls) + (CAST(cc AS DOUBLE) / lc))
                                / CAST(2 AS DOUBLE)))
                   ELSE CAST(0 AS DOUBLE) END
                 + (CAST(cc AS DOUBLE) / lc)
                   * ln((CAST(cc AS DOUBLE) / lc)
                        / (((CAST(cs AS DOUBLE) / ls) + (CAST(cc AS DOUBLE) / lc))
                           / CAST(2 AS DOUBLE))) AS term
          FROM base CROSS JOIN lc)
        SELECT source, max(ls) AS n_tokens,
               CAST(round(list_sum(list(term ORDER BY w)) * CAST(500000 AS DOUBLE))
                 AS BIGINT) AS js_x1e6
        FROM terms
        GROUP BY source
        ORDER BY source
      """)),

    // ---- Zipf power-law fit over the corpus vocabulary -------------------
    // log-log OLS of token frequency vs rank — the classic corpus-health
    // diagnostic (natural corpora slope ≈ −1). Ranks are integers with a
    // total tie-break (freq DESC, token ASC); the four OLS sums fold over
    // the 31 (ln rank, ln freq) points in RANK ORDER on both engines, then
    // one identical double expression. Window over a vocabulary-sized
    // aggregate — scale-free.
    Reg("zipf_slope_corpus",
      (s, dir) => {
        val tok = Tables(s, dir).documents
          .select(explode(TextOps.tokens(col("text"))).as("w"))
        val w = Window.orderBy(col("f").desc, col("w"))
        tok.groupBy(col("w")).agg(count(lit(1)).as("f"))
          .withColumn("rk", row_number().over(w))
          .withColumn("x", expr("ln(CAST(rk AS DOUBLE))"))
          .withColumn("y", expr("ln(CAST(f AS DOUBLE))"))
          .agg(count(lit(1)).as("n"),
            sort_array(collect_list(struct(col("rk"), col("x"), col("y")))).as("arr"))
          .withColumn("sx", expr("aggregate(arr, CAST(0 AS DOUBLE), (a, s) -> a + s.x)"))
          .withColumn("sy", expr("aggregate(arr, CAST(0 AS DOUBLE), (a, s) -> a + s.y)"))
          .withColumn("sxy", expr("aggregate(arr, CAST(0 AS DOUBLE), (a, s) -> a + s.x * s.y)"))
          .withColumn("sxx", expr("aggregate(arr, CAST(0 AS DOUBLE), (a, s) -> a + s.x * s.x)"))
          // try_divide: an empty corpus (n = 0) gives NULLs, as DuckDB's
          // x / 0 does, where ANSI `/` throws
          .select(col("n"),
            round(try_divide(col("n") * col("sxy") - col("sx") * col("sy"),
              col("n") * col("sxx") - col("sx") * col("sx")), 6).as("zipf_slope"),
            round(try_divide(col("sy") - try_divide(col("n") * col("sxy") - col("sx") * col("sy"),
              col("n") * col("sxx") - col("sx") * col("sx")) * col("sx"), col("n")), 6)
              .as("intercept"))
      },
      Some("""
        WITH tok AS (SELECT unnest(string_split(trim(text), ' ')) AS w
                     FROM documents),
        f AS (SELECT w, count(*) AS f FROM tok GROUP BY 1),
        r AS (SELECT w, f, row_number() OVER (ORDER BY f DESC, w) AS rk FROM f),
        p AS (SELECT rk, ln(CAST(rk AS DOUBLE)) AS x, ln(CAST(f AS DOUBLE)) AS y FROM r),
        sums AS (
          SELECT count(*) AS n,
                 list_sum(list(x ORDER BY rk)) AS sx,
                 list_sum(list(y ORDER BY rk)) AS sy,
                 list_sum(list(x * y ORDER BY rk)) AS sxy,
                 list_sum(list(x * x ORDER BY rk)) AS sxx
          FROM p)
        SELECT n,
               round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS zipf_slope,
               round((sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * sx) / n, 6)
                 AS intercept
        FROM sums
      """)),

    // ---- count-min sketch: heavy hitters from a 4×64 sketch (round-8) ---
    // The CMS rung of the sketch family (HLL/KMV/bloom so far): d=4
    // md5-derived hash rows × w=64 counters. est(tok) = min over rows of
    // the counter its hash lands in — ≥ the true count by construction
    // (collisions only ADD). The graded output carries est, exact count
    // and the overcount so the one-sided error contract is hash-checked,
    // not asserted. At 100 TB the sketch is 256 integers built with one
    // map-side-combinable agg over (row, bucket) — no distinct-token
    // shuffle needed to answer "est(x) ≥ threshold"; the exact column here
    // is metrology, same pattern as the ann_recall_* anchors. Hash-exact:
    // integer counters, md5-only hashing mirrored verbatim in the oracle.
    Reg("cms_heavy_hitters",
      (s, dir) => {
        val tok = Tables(s, dir).documents
          .select(explode(TextOps.tokens(col("text"))).as("tok"))
        def bucket(tokCol: org.apache.spark.sql.Column, rCol: org.apache.spark.sql.Column) =
          TextOps.hash60(concat(lit("cm"), rCol, lit("_"), tokCol)) % 64
        // one explode pass; cells derive from the (tok, cnt) partials —
        // identical to hashing every occurrence (a CMS cell is the SUM of
        // the counts that land in it), without re-exploding the corpus ×4.
        // localCheckpoint: exact feeds both the sketch build and the
        // estimate join; without it the token explode replays twice.
        val exact = tok.groupBy(col("tok")).agg(count(lit(1)).as("cnt"))
          .localCheckpoint()
        val cells = exact
          .select(col("tok"), col("cnt"), explode(expr("array(0, 1, 2, 3)")).as("r"))
          .withColumn("bucket", bucket(col("tok"), col("r")))
          .groupBy(col("r"), col("bucket")).agg(sum(col("cnt")).as("cell"))
        exact
          .select(col("tok"), col("cnt"), explode(expr("array(0, 1, 2, 3)")).as("r"))
          .withColumn("bucket", bucket(col("tok"), col("r")))
          .join(cells, Seq("r", "bucket"))
          .groupBy(col("tok"), col("cnt")).agg(min(col("cell")).as("est"))
          .select(col("tok"), col("cnt"), col("est"),
            (col("est") - col("cnt")).as("overcount"))
          .orderBy("tok")
      },
      Some("""
        WITH tok AS (SELECT unnest(string_split(trim(text), ' ')) AS tok
                     FROM documents),
        rows_ AS (SELECT tok, r.r,
                         ('0x' || substr(md5('cm' || r.r || '_' || tok), 1, 15))::BIGINT % 64 AS bucket
                  FROM tok, range(4) r(r)),
        cells AS (SELECT r, bucket, count(*) AS cell FROM rows_ GROUP BY 1, 2),
        exact AS (SELECT tok, count(*) AS cnt FROM tok GROUP BY 1),
        est AS (SELECT e.tok, e.cnt, min(c.cell) AS est
                FROM exact e
                JOIN range(4) r(r) ON true
                JOIN cells c ON c.r = r.r
                 AND c.bucket = ('0x' || substr(md5('cm' || r.r || '_' || e.tok), 1, 15))::BIGINT % 64
                GROUP BY 1, 2)
        SELECT tok, cnt, est, est - cnt AS overcount
        FROM est ORDER BY tok
      """)),

    // ---- edit-distance-1 near-dup join via deletion neighborhoods -------
    // The SymSpell banding (round-8): two strings are within Levenshtein
    // distance 1 iff their deletion neighborhoods ({s} ∪ every
    // one-char-deleted variant) intersect — so candidate generation is an
    // equi-join keyed on the variant string, O(len) keys per token,
    // NEVER all-pairs; the exact levenshtein ≤ 1 post-filter runs only on
    // bucket collisions. The oracle is the brute-force formulation over
    // the same distinct tokens — identical result set, which is exactly
    // the banding-correctness contract (the neardup_minhash_lsh pattern).
    // Token domain: part-name words with their part counts (typo-style
    // neighbors exist in the fixture: cold/old, red/rod).
    Reg("editdist1_pairs",
      (s, dir) => {
        val toks = Tables(s, dir).part
          .select(explode(split(col("p_name"), " ")).as("tok"))
          .groupBy(col("tok")).agg(count(lit(1)).as("cnt"))
        val vars = toks.select(col("tok"), col("cnt"), explode(expr(
          """array_union(array(tok),
             transform(sequence(1, length(tok)),
               i -> concat(substring(tok, 1, i - 1), substring(tok, i + 1, length(tok)))))"""))
          .as("v"))
        vars.as("a").join(vars.as("b"), Seq("v"))
          .filter(col("a.tok") < col("b.tok"))
          .select(col("a.tok").as("tok_a"), col("a.cnt").as("cnt_a"),
            col("b.tok").as("tok_b"), col("b.cnt").as("cnt_b"))
          .distinct()
          .filter(levenshtein(col("tok_a"), col("tok_b")) <= 1)
          .orderBy("tok_a", "tok_b")
      },
      Some("""
        WITH t AS (SELECT unnest(string_split(p_name, ' ')) AS tok FROM part),
        c AS (SELECT tok, count(*) AS cnt FROM t GROUP BY 1)
        SELECT a.tok AS tok_a, a.cnt AS cnt_a, b.tok AS tok_b, b.cnt AS cnt_b
        FROM c a, c b
        WHERE a.tok < b.tok AND levenshtein(a.tok, b.tok) <= 1
        ORDER BY tok_a, tok_b
      """)),

    // ---- substring-level exact dedup: repeated-span finder (round-9) ----
    // The Lee et al. ("Deduplicating Training Data Makes Language Models
    // Better", 2022) EXACTSUBSTR rung, completing the dedup ladder between
    // whole-doc exact (dedup_exact) and lexical near-dup (MinHash): find
    // every maximal token SPAN of length >= 8 whose every 8-gram occurs
    // at least twice in the corpus (within- or cross-document — self-
    // repetition is duplication too, per the paper). Spark-first
    // formulation of the paper's suffix-array pass: positional 8-grams
    // keyed by md5 (fixed-width key, so shuffles never carry span text),
    // one hash-agg for corpus gram frequency, an equi-join back (each
    // gram row matches exactly ONE count row — no fan-out), then per-doc
    // gaps-and-islands run-merging (pos - row_number) to fuse overlapping
    // duplicated grams into maximal spans. Shape at 100 TB: two linear
    // shuffles (gram agg + join-back) + a per-doc window — no self-join
    // anywhere, so no quadratic corner; a doc is its own partition key in
    // the window and spans never cross docs. The consumer cuts the
    // reported [span_start, span_end] token ranges out of the corpus.
    Reg("substring_dup_spans",
      (s, dir) => {
        val toks = TextOps.tokens(col("text"))
        val grams = Tables(s, dir).documents
          .select(col("doc_id"), posexplode(
            when(size(toks) >= 8,
              transform(sequence(lit(0), size(toks) - 8),
                i => md5(concat_ws(" ", slice(toks, i + 1, lit(8))))))
              .otherwise(typedLit(Seq.empty[String]))).as(Seq("pos", "gh")))
          // the gram relation feeds BOTH the frequency agg and the
          // join-back; without materialization the tokenize + per-position
          // 8-gram md5 pass (the expensive part) replays once per branch
          // (the cms_heavy_hitters localCheckpoint rationale)
          .localCheckpoint()
        val freq = grams.groupBy(col("gh")).agg(count(lit(1)).as("cnt"))
        val dup = grams.join(freq.filter(col("cnt") >= 2), "gh")
          .select(col("doc_id"), col("pos"))
        val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
        dup.withColumn("grp", col("pos") - row_number().over(w))
          .groupBy(col("doc_id"), col("grp"))
          .agg(min(col("pos")).cast("long").as("span_start"),
            (max(col("pos")) + lit(7)).cast("long").as("span_end"))
          .select(col("doc_id"), col("span_start"), col("span_end"),
            (col("span_end") - col("span_start") + 1L).as("span_len"))
          .orderBy("doc_id", "span_start")
      },
      Some("""
        WITH t AS (SELECT doc_id, string_split(trim(text), ' ') AS ws FROM documents),
        g AS (SELECT doc_id, i - 1 AS pos, md5(array_to_string(ws[i:i+7], ' ')) AS gh
              FROM t, unnest(generate_series(1, len(ws) - 7)) u(i)
              WHERE len(ws) >= 8),
        c AS (SELECT gh, count(*) AS cnt FROM g GROUP BY 1),
        d AS (SELECT doc_id, pos FROM g JOIN c USING (gh) WHERE cnt >= 2),
        r AS (SELECT doc_id, pos,
                     pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
              FROM d)
        SELECT doc_id, CAST(min(pos) AS BIGINT) AS span_start,
               CAST(max(pos) + 7 AS BIGINT) AS span_end,
               CAST(max(pos) + 8 - min(pos) AS BIGINT) AS span_len
        FROM r GROUP BY doc_id, grp
        ORDER BY doc_id, span_start
      """)),

    // ---- exact set-similarity join via PREFIX FILTERING (round-9) -------
    // The third candidate-generation strategy in the exact-Jaccard
    // family, beside jaccard_bigram_pairs' (lang, source) blocking and
    // the MinHash/SimHash sketches: order every doc's shingle set by
    // GLOBAL rarity (ascending df, ties by shingle) and join only on
    // each set's PREFIX — the first l − ⌈t·l⌉ + 1 rarest shingles. The
    // prefix-filtering theorem (Bayardo et al., WWW'07 "Scaling Up All
    // Pairs Similarity Search" — public): two sets with Jaccard ≥ t MUST
    // share at least one prefix token under any global total order, so
    // the candidate set is exact (no recall loss) while the join only
    // fans out on RARE keys — frequent boilerplate shingles never leave
    // the suffix, which is why this needs neither blocking nor a df
    // ceiling on a realistic (Zipfian-vocabulary) corpus. Candidates are
    // then verified exactly (intersection count vs t = 0.7 by integer
    // cross-multiply). Shapes: one df agg, one rank window keyed by doc,
    // the prefix equi-join with the PPJoin positional upper bound, and a
    // broadcast set-intersection verify over surviving pairs only.
    // Graded domain: the deterministic md5 HALF-sample of docs (the
    // sample_hash_10pct / cosine_topk_brute discipline, mirrored in the
    // oracle) — the fixtures' 31-word vocabulary is prefix filtering's
    // documented worst case (every shingle is frequent, so prefixes stop
    // discriminating and the candidate set approaches all-pairs); the
    // algorithm is unchanged, the graded input is bounded.
    Reg("jaccard_prefix_join",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val dt = Tables(s, dir).documents
          .filter(TextOps.hash60(col("doc_id").cast("string")) % 2 === 0)
          .select(col("doc_id"), explode(TextOps.shingles(col("text"), 2)).as("sh"))
          .localCheckpoint() // feeds df, per-doc sets AND the prefix rank
        val df = dt.groupBy(col("sh")).agg(count(lit(1)).as("df"))
        // one row per doc: its sorted shingle SET + size. Output-sized
        // (docs, not doc×shingle), so both verify legs broadcast it.
        val sets = dt.groupBy(col("doc_id"))
          .agg(sort_array(collect_list(col("sh"))).as("shs"), count(lit(1)).as("l"))
          .localCheckpoint()
        val pre = dt.join(df, "sh")
          .withColumn("rn", row_number().over(
            Window.partitionBy(col("doc_id")).orderBy(col("df"), col("sh"))))
          .join(sets.select(col("doc_id"), col("l")), "doc_id")
          .filter(col("rn") <= col("l") - expr("(7 * l + 9) div 10") + 1)
          .select(col("doc_id"), col("sh"), col("rn"), col("l"))
        // PPJoin positional filter (Xiao et al., WWW'08, public): at the
        // EARLIEST shared prefix position nothing can precede the match in
        // either ordered set, so overlap <= 1 + min(remaining) there; the
        // max over matched positions therefore upper-bounds the true
        // overlap, and pairs with ub < ceil(7(la+lb)/17) (= the t = 0.7
        // overlap threshold) are provably non-matches — LOSSLESS pruning,
        // so the oracle needs no mirror of it. 4.2x fewer candidates on
        // this corpus. The keep rule max(f(row)) >= thr is monotone per
        // row (some row passes iff the max passes), so the filter sits
        // BELOW the pair aggregation — ~75% of joined rows drop before
        // the dedup shuffle instead of after it.
        // Round 17: LENGTH filter added beside the positional one (the
        // other standard PPJoin prune, same lossless algebra): jac ≥ 0.7
        // forces inter ≤ min(l_a, l_b) and union ≥ max(l_a, l_b), so any
        // pair with 10·min < 7·max is a provable non-match — it could
        // never survive the exact verify below, so the OUTPUT (and the
        // oracle) are untouched; the pruned rows just skip the dedup
        // shuffle. On the degenerate 31-word corpus this is the only
        // per-pair signal the prefix itself doesn't carry.
        val cand = pre
          .select(col("sh"), col("doc_id").as("a_id"), col("rn").as("rn_a"), col("l").as("n_a"))
          .join(pre.select(col("sh"), col("doc_id").as("b_id"),
            col("rn").as("rn_b"), col("l").as("n_b")), "sh")
          .filter(col("a_id") < col("b_id") &&
            least(col("n_a"), col("n_b")) * 10 >=
              greatest(col("n_a"), col("n_b")) * 7 &&
            (least(col("n_a") - col("rn_a"), col("n_b") - col("rn_b")) + 1) * 17 >=
              (col("n_a") + col("n_b")) * 7)
          .groupBy(col("a_id"), col("b_id"), col("n_a"), col("n_b"))
          .agg(count(lit(1)).as("n_prefix_hits"))
        // verification: exact intersection via the broadcast per-doc sets
        // (array_intersect on two sorted distinct arrays), NOT a join-back
        // into the doc×shingle relation — candidates × avg-set-size rows
        // never materialize, and the only shuffle left is the final sort.
        cand
          .join(broadcast(sets.select(col("doc_id").as("a_id"), col("shs").as("sa"))), "a_id")
          .join(broadcast(sets.select(col("doc_id").as("b_id"), col("shs").as("sb"))), "b_id")
          .withColumn("inter", size(array_intersect(col("sa"), col("sb"))).cast("long"))
          .filter(col("inter") * 10 >= (col("n_a") + col("n_b") - col("inter")) * 7)
          .select(col("a_id"), col("b_id"), col("n_a"), col("n_b"),
            col("inter").as("n_common"),
            expr("(inter * 1000) div (n_a + n_b - inter)").as("jac_permille"))
          .orderBy("a_id", "b_id")
      },
      Some("""
        WITH t AS (SELECT doc_id, string_split(trim(text), ' ') AS ws FROM documents
                   WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 2 = 0),
        dt AS (SELECT doc_id,
                      unnest(list_distinct([ws[i] || ' ' || ws[i+1] FOR i IN range(1, len(ws))])) AS sh
               FROM t WHERE len(ws) >= 2),
        df AS (SELECT sh, count(*) AS df FROM dt GROUP BY 1),
        sz AS (SELECT doc_id, count(*) AS l FROM dt GROUP BY 1),
        r AS (SELECT dt.doc_id, dt.sh,
                     row_number() OVER (PARTITION BY dt.doc_id
                                        ORDER BY df.df, dt.sh) AS rn
              FROM dt JOIN df USING (sh)),
        pre AS (SELECT r.doc_id, r.sh
                FROM r JOIN sz USING (doc_id)
                WHERE rn <= l - ((7 * l + 9) // 10) + 1),
        cand AS (SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
                 FROM pre a JOIN pre b ON a.sh = b.sh AND a.doc_id < b.doc_id),
        i AS (SELECT c.a_id, c.b_id, count(*) AS inter
              FROM cand c JOIN dt ta ON ta.doc_id = c.a_id
                          JOIN dt tb ON tb.doc_id = c.b_id AND tb.sh = ta.sh
              GROUP BY 1, 2)
        SELECT i.a_id, i.b_id, sa.l AS n_a, sb.l AS n_b,
               CAST(inter AS BIGINT) AS n_common,
               CAST((inter * 1000) // (sa.l + sb.l - inter) AS BIGINT) AS jac_permille
        FROM i JOIN sz sa ON sa.doc_id = i.a_id
               JOIN sz sb ON sb.doc_id = i.b_id
        WHERE inter * 10 >= (sa.l + sb.l - inter) * 7
        ORDER BY a_id, b_id
      """)),

    // ---- PMI collocation mining (round-9) -------------------------------
    // Pointwise mutual information over adjacent word pairs — the classic
    // collocation detector (Church & Hanks 1990, public). Graded in LIFT
    // space, not log space: lift = P(ab)/(P(a)P(b)) =
    // cnt_ab·Tu²/(Tb·cnt_a·cnt_b) (PMI = log lift, monotone — same
    // ranking) because log is float and floats don't hash-match; the
    // product Tu²·cnt_ab overflows int64 at sf0.1 (~6.6e19) so BOTH
    // sides compute it in wide exact integers — Spark DECIMAL(38,0) with
    // integral `div`, DuckDB HUGEINT with `//` — then emit permille as
    // BIGINT. Shapes: one unigram agg, one bigram agg (positional
    // transform, NOT a self-join), two small-dim joins onto the bigram
    // counts, one broadcast one-row totals join; all linear, no shuffle
    // carries anything wider than a counted pair.
    Reg("pmi_top_bigrams",
      (s, dir) => {
        val toks = Tables(s, dir).documents
          .select(TextOps.tokens(col("text")).as("ws"))
          .localCheckpoint() // feeds unigram AND bigram explodes once
        val uni = toks.select(explode(col("ws")).as("w"))
          .groupBy(col("w")).agg(count(lit(1)).as("cnt"))
        val bi = toks.select(explode(
            when(size(col("ws")) >= 2, expr(
              """transform(sequence(1, size(ws) - 1),
                 i -> struct(element_at(ws, i) AS w1, element_at(ws, i + 1) AS w2))"""))
              .otherwise(expr("CAST(array() AS ARRAY<STRUCT<w1: STRING, w2: STRING>>)")))
            .as("b"))
          .select(col("b.w1"), col("b.w2"))
          .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("cnt_ab"))
        val tot = uni.agg(sum(col("cnt")).as("tu"))
          .crossJoin(bi.agg(sum(col("cnt_ab")).as("tb")))
        bi.join(uni.select(col("w").as("w1"), col("cnt").as("cnt_a")), "w1")
          .join(uni.select(col("w").as("w2"), col("cnt").as("cnt_b")), "w2")
          .crossJoin(broadcast(tot))
          .filter(col("cnt_ab") >= 5)
          .select(col("w1"), col("w2"), col("cnt_ab"), col("cnt_a"), col("cnt_b"),
            expr("""CAST((CAST(cnt_ab AS DECIMAL(38,0)) * tu * tu * 1000)
                    div (CAST(tb AS DECIMAL(38,0)) * cnt_a * cnt_b) AS BIGINT)""")
              .as("lift_permille"))
          .orderBy("w1", "w2")
      },
      Some("""
        WITH t AS (SELECT string_split(trim(text), ' ') AS ws FROM documents),
        uni AS (SELECT unnest(ws) AS w FROM t),
        uc AS (SELECT w, count(*) AS cnt FROM uni GROUP BY 1),
        bi AS (SELECT ws[i] AS w1, ws[i + 1] AS w2
               FROM t, unnest(generate_series(1, len(ws) - 1)) u(i)
               WHERE len(ws) >= 2),
        bc AS (SELECT w1, w2, count(*) AS cnt_ab FROM bi GROUP BY 1, 2),
        tot AS (SELECT (SELECT count(*) FROM uni) AS tu,
                       (SELECT count(*) FROM bi) AS tb)
        SELECT b.w1, b.w2, b.cnt_ab, a.cnt AS cnt_a, c.cnt AS cnt_b,
               CAST((CAST(b.cnt_ab AS HUGEINT) * tu * tu * 1000)
                    // (CAST(tb AS HUGEINT) * a.cnt * c.cnt) AS BIGINT) AS lift_permille
        FROM bc b JOIN uc a ON a.w = b.w1 JOIN uc c ON c.w = b.w2, tot
        WHERE b.cnt_ab >= 5
        ORDER BY w1, w2
      """)),

    // ---- vocabulary growth curve / Heaps' law audit (round-9) -----------
    // How fast does the vocabulary grow as the corpus is ingested in
    // doc_id order? The empirical Heaps curve V(n) at ten prefix
    // checkpoints — the corpus-planning input for tokenizer vocab sizing
    // (the log-log slope is Heaps' β; fitting it is float, so the graded
    // output is the exact integer CURVE and the consumer fits). Each
    // token contributes at the decile where its FIRST document lands:
    // one min-agg per token, dmin = ⌈rf·10/n⌉ by integer arithmetic,
    // a 10-row spine left-join (deciles with no new tokens emit 0), one
    // 10-row cumulative window. The doc-rank window is a single
    // partition over the DOC relation (doc-count-bounded, not
    // token-bounded; at corpus scale use seq_packing's two-level form).
    Reg("vocab_growth_curve",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val docs = Tables(s, dir).documents
          .select(col("doc_id"), TextOps.tokens(col("text")).as("ws"))
          .withColumn("r", row_number().over(Window.orderBy(col("doc_id"))))
        val n = docs.agg(count(lit(1)).as("n"))
        val firsts = docs.select(col("r"), explode(col("ws")).as("w"))
          .groupBy(col("w")).agg(min(col("r")).as("rf"))
        val newTok = firsts.crossJoin(broadcast(n))
          .select(expr("(rf * 10 + n - 1) div n").as("decile"))
          .groupBy(col("decile")).agg(count(lit(1)).as("new_tokens"))
        val spine = Tables(s, dir).documents.sparkSession
          .range(1, 11).select(col("id").as("decile"))
        spine.join(newTok, Seq("decile"), "left")
          .crossJoin(broadcast(n))
          .select(col("decile"), expr("(decile * n + 9) div 10").as("docs_in_prefix"),
            coalesce(col("new_tokens"), lit(0L)).as("new_tokens"))
          .withColumn("vocab_size", sum(col("new_tokens")).over(
            Window.orderBy(col("decile"))
              .rowsBetween(Window.unboundedPreceding, 0)))
          .orderBy("decile")
      },
      Some("""
        WITH docs AS (SELECT doc_id, string_split(trim(text), ' ') AS ws,
                             row_number() OVER (ORDER BY doc_id) AS r
                      FROM documents),
        n AS (SELECT count(*) AS n FROM docs),
        f AS (SELECT w, min(r) AS rf
              FROM (SELECT r, unnest(ws) AS w FROM docs) GROUP BY 1),
        nt AS (SELECT (rf * 10 + n.n - 1) // n.n AS decile, count(*) AS new_tokens
               FROM f, n GROUP BY 1),
        sp AS (SELECT unnest(generate_series(1, 10)) AS decile)
        SELECT sp.decile,
               CAST((sp.decile * n.n + 9) // 10 AS BIGINT) AS docs_in_prefix,
               CAST(coalesce(nt.new_tokens, 0) AS BIGINT) AS new_tokens,
               CAST(sum(coalesce(nt.new_tokens, 0)) OVER (ORDER BY sp.decile
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS vocab_size
        FROM sp LEFT JOIN nt ON nt.decile = sp.decile, n
        ORDER BY sp.decile
      """)),

    // ---- tokenizer fertility by language (round-9) ----------------------
    // The tokenizer-efficiency metric that drives vocab-size decisions:
    // subwords-per-word (fertility) per corpus language, using the same
    // syllable-ish regex subword as token_subword_regex against the
    // whitespace word count. High-fertility languages cost more context
    // per sentence — the sizing input for multilingual training budgets.
    // Two map-side counts + one hash agg; rate is one non-negative
    // integral division, permille.
    Reg("tokenizer_fertility",
      (s, dir) => Tables(s, dir).documents
        .select(col("lang"),
          size(TextOps.tokens(col("text"))).cast("long").as("n_words"),
          expr("""CAST(size(regexp_extract_all(text,
                 '[bcdfghjklmnpqrstvwxyz]*[aeiou]+[bcdfghjklmnpqrstvwxyz]*', 0)) AS BIGINT)""")
            .as("n_subwords"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_words")).as("n_words"),
          sum(col("n_subwords")).as("n_subwords"))
        .select(col("lang"), col("n_docs"), col("n_words"), col("n_subwords"),
          expr("(n_subwords * 1000) div n_words").as("fertility_permille"))
        .orderBy("lang"),
      Some("""
        WITH d AS (SELECT lang,
                          len(string_split(trim(text), ' ')) AS n_words,
                          len(regexp_extract_all(text,
                            '[bcdfghjklmnpqrstvwxyz]*[aeiou]+[bcdfghjklmnpqrstvwxyz]*')) AS n_subwords
                   FROM documents)
        SELECT lang, count(*) AS n_docs,
               CAST(sum(n_words) AS BIGINT) AS n_words,
               CAST(sum(n_subwords) AS BIGINT) AS n_subwords,
               CAST((sum(n_subwords) * 1000) // sum(n_words) AS BIGINT) AS fertility_permille
        FROM d GROUP BY 1 ORDER BY lang
      """)),

    // ---- Pareto-frontier (skyline) document selection (round-9) ---------
    // Multi-objective curation: keep documents not dominated on
    // (n_tokens, n_distinct_tokens) — another doc dominates if it is ≥ on
    // both and > on one. The LINEAR skyline formulation: one global sort
    // by n_tokens with two analytic windows — max vocab over strictly
    // longer docs (RANGE ... 1 PRECEDING on the descending key) and max
    // vocab among equal-length docs — replaces the naive quadratic
    // NOT-EXISTS self-join. At 100 TB a global range-partitioned sort is
    // exactly what Spark's Exchange(rangepartitioning) does; no join at
    // all. Works for any 2-D skyline; d dimensions chain d-1 passes.
    Reg("pareto_frontier_docs",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val t = TextOps.tokens(col("text"))
        val d = Tables(s, dir).documents
          .select(col("doc_id"), size(t).cast("long").as("n_tokens"),
            size(array_distinct(t)).cast("long").as("n_vocab"))
        val strictly = Window.orderBy(col("n_tokens").desc)
          .rangeBetween(Window.unboundedPreceding, -1)
        val ties = Window.partitionBy(col("n_tokens"))
        d.withColumn("best_longer", max(col("n_vocab")).over(strictly))
          .withColumn("best_tie", max(col("n_vocab")).over(ties))
          .filter((col("best_longer").isNull || col("best_longer") < col("n_vocab")) &&
            col("best_tie") === col("n_vocab"))
          .select(col("doc_id"), col("n_tokens"), col("n_vocab"))
          .orderBy(col("n_tokens").desc, col("doc_id"))
      },
      Some("""
        WITH d AS (SELECT doc_id,
                          len(string_split(trim(text), ' ')) AS n_tokens,
                          len(list_distinct(string_split(trim(text), ' '))) AS n_vocab
                   FROM documents),
        w AS (SELECT *,
                     max(n_vocab) OVER (ORDER BY n_tokens DESC
                       RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS best_longer,
                     max(n_vocab) OVER (PARTITION BY n_tokens) AS best_tie
              FROM d)
        SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
               CAST(n_vocab AS BIGINT) AS n_vocab
        FROM w
        WHERE (best_longer IS NULL OR best_longer < n_vocab)
          AND best_tie = n_vocab
        ORDER BY n_tokens DESC, doc_id
      """)),

    // ---- bigram-frequency novelty score (round-9) -----------------------
    // The log-free cousin of LM-perplexity filtering: score each document
    // by the MEAN corpus frequency of its word bigrams — boilerplate-like
    // docs (all high-frequency bigrams) score high, novel docs low.
    // Integer throughout (sum of counts div n_bigrams), so no cross-engine
    // float risk at all. Shapes: explode to bigrams (lazy, map-side),
    // one hash agg for the corpus counts, one shuffle join back keyed on
    // the bigram, one per-doc agg — all linear, the TF-IDF topology.
    Reg("doc_novelty_bigram",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val docs = Tables(s, dir).documents
          .select(col("doc_id"), posexplode(TextOps.tokens(col("text"))).as(Seq("pos", "w")))
        val bg = docs
          .withColumn("nxt", lead(col("w"), 1).over(
            Window.partitionBy(col("doc_id")).orderBy(col("pos"))))
          .filter(col("nxt").isNotNull)
          .select(col("doc_id"), concat_ws(" ", col("w"), col("nxt")).as("bg"))
        val corpus = bg.groupBy(col("bg")).agg(count(lit(1)).as("cnt"))
        bg.join(corpus, "bg")
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_bigrams"),
            expr("sum(cnt) div count(*)").as("mean_bigram_freq"))
          .orderBy(col("doc_id"))
      },
      Some("""
        WITH tok AS (SELECT doc_id, string_split(trim(text), ' ') AS ws FROM documents),
        p AS (SELECT doc_id, unnest(ws) AS w, generate_subscripts(ws, 1) AS pos FROM tok),
        bg AS (SELECT doc_id, w || ' ' || lead(w) OVER (PARTITION BY doc_id ORDER BY pos) AS bg
               FROM p QUALIFY bg IS NOT NULL),
        corpus AS (SELECT bg, count(*) AS cnt FROM bg GROUP BY 1)
        SELECT b.doc_id, count(*) AS n_bigrams,
               CAST(sum(c.cnt) // count(*) AS BIGINT) AS mean_bigram_freq
        FROM bg b JOIN corpus c USING (bg)
        GROUP BY 1 ORDER BY doc_id
      """)),

    // ---- bigram next-word table (round-9) -------------------------------
    // The argmax slice of a bigram language model: for every vocabulary
    // word, the most likely following word (count-desc, lexicographic
    // tie-break — ties are real on this corpus, so the tie-break is part
    // of the contract on BOTH sides via row_number, never max_by/arg_max
    // whose tie choice is engine-arbitrary). One explode + one hash agg +
    // one rank window partitioned by word — linear, co-partitioned.
    Reg("bigram_next_word",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val docs = Tables(s, dir).documents
          .select(col("doc_id"), posexplode(TextOps.tokens(col("text"))).as(Seq("pos", "w")))
        val bg = docs
          .withColumn("nxt", lead(col("w"), 1).over(
            Window.partitionBy(col("doc_id")).orderBy(col("pos"))))
          .filter(col("nxt").isNotNull)
        bg.groupBy(col("w"), col("nxt")).agg(count(lit(1)).as("cnt"))
          .withColumn("rk", row_number().over(
            Window.partitionBy(col("w")).orderBy(col("cnt").desc, col("nxt"))))
          .filter(col("rk") === 1)
          .select(col("w"), col("nxt").as("next_word"), col("cnt"))
          .orderBy(col("w"))
      },
      Some("""
        WITH tok AS (SELECT doc_id, string_split(trim(text), ' ') AS ws FROM documents),
        p AS (SELECT doc_id, unnest(ws) AS w, generate_subscripts(ws, 1) AS pos FROM tok),
        bg AS (SELECT doc_id, w, lead(w) OVER (PARTITION BY doc_id ORDER BY pos) AS nxt
               FROM p QUALIFY nxt IS NOT NULL),
        c AS (SELECT w, nxt, count(*) AS cnt FROM bg GROUP BY 1, 2),
        r AS (SELECT *, row_number() OVER (PARTITION BY w ORDER BY cnt DESC, nxt) AS rk
              FROM c)
        SELECT w, nxt AS next_word, cnt FROM r WHERE rk = 1 ORDER BY w
      """)),

    // ---- BPE merge-table learning, 3 iterations (round-9) ---------------
    // Byte-pair encoding training (Sennrich et al. 2016, public method) on
    // the word-frequency dictionary: start from characters, then 3× —
    // count adjacent symbol pairs (freq-weighted, overlapping, the
    // standard dict formulation), pick argmax (count DESC, then (a,b)
    // lexicographic — the tie-break is part of the contract), and greedily
    // left-to-right merge that pair in every word. The merge is a pure
    // `aggregate` HOF fold (codegen'd, no UDF); the argmax row flows into
    // the next iteration via crossJoin(broadcast(1 row)) so NOTHING
    // touches the driver. At 100 TB the word dict is the corpus vocab
    // (≪ corpus; ~10⁶ rows), per-iteration cost one explode + hash-agg
    // over it — the classic scalable-BPE shape; localCheckpoint pins each
    // iteration's dict as the loop invariant (the PageRank discipline).
    // Oracle: same three iterations with the merge as a per-word
    // position-walking recursive CTE (greedy fold ≡ pos+2 on match).
    Reg("bpe_learn_merges",
      (s, dir) => {
        val words = Tables(s, dir).documents
          .select(explode(TextOps.tokens(col("text"))).as("word"))
          .filter(col("word") =!= "")
          .groupBy(col("word")).agg(count(lit(1)).as("freq"))
          .withColumn("syms",
            expr("transform(sequence(1, length(word)), i -> substring(word, i, 1))"))
        def pairCounts(syms: org.apache.spark.sql.DataFrame) = syms
          .select(col("freq"), explode(expr(
            "transform(slice(syms, 1, size(syms) - 1), (x, i) -> struct(x AS a, syms[i + 1] AS b))"))
            .as("p"))
          .groupBy(col("p.a").as("a"), col("p.b").as("b"))
          .agg(sum(col("freq")).as("cnt"))
        def best(pc: org.apache.spark.sql.DataFrame) = pc
          .orderBy(col("cnt").desc, col("a"), col("b")).limit(1)
        def merge(syms: org.apache.spark.sql.DataFrame,
                  b: org.apache.spark.sql.DataFrame) = syms
          .crossJoin(broadcast(b.select(col("a"), col("b"))))
          .withColumn("syms", expr(
            """aggregate(syms, CAST(array() AS ARRAY<STRING>),
               (acc, x) -> CASE WHEN size(acc) > 0 AND element_at(acc, -1) = a AND x = b
                           THEN concat(slice(acc, 1, size(acc) - 1), array(concat(a, b)))
                           ELSE concat(acc, array(x)) END)"""))
          .select(col("word"), col("freq"), col("syms"))
          .localCheckpoint()
        val s1 = words.localCheckpoint()
        val b1 = best(pairCounts(s1)).localCheckpoint()
        val s2 = merge(s1, b1)
        val b2 = best(pairCounts(s2)).localCheckpoint()
        val s3 = merge(s2, b2)
        val b3 = best(pairCounts(s3))
        b1.select(lit(1L).as("iter"), col("a"), col("b"), col("cnt"))
          .union(b2.select(lit(2L).as("iter"), col("a"), col("b"), col("cnt")))
          .union(b3.select(lit(3L).as("iter"), col("a"), col("b"), col("cnt")))
          .orderBy(col("iter"))
      },
      Some("""
        WITH RECURSIVE
        tok AS (SELECT string_split(trim(text), ' ') AS ws FROM documents),
        w AS (SELECT w AS word, count(*) AS freq
              FROM (SELECT unnest(ws) AS w FROM tok) WHERE w <> '' GROUP BY 1),
        s1 AS (SELECT word, freq,
                      list_transform(range(1, len(word) + 1), i -> word[i]) AS syms
               FROM w),
        p1 AS (SELECT s['a'] AS a, s['b'] AS b, sum(freq) AS cnt FROM (
                 SELECT freq, unnest(list_transform(range(1, len(syms)),
                        i -> {'a': syms[i], 'b': syms[i+1]})) AS s
                 FROM s1) GROUP BY 1, 2),
        b1 AS (SELECT a, b, cnt FROM p1 ORDER BY cnt DESC, a, b LIMIT 1),
        r1(word, freq, n, pos, out) AS (
          SELECT word, freq, len(syms), 1, CAST([] AS VARCHAR[]) FROM s1
          UNION ALL
          SELECT r.word, r.freq, r.n,
                 CASE WHEN s.syms[r.pos] = b1.a AND s.syms[r.pos+1] = b1.b
                      THEN r.pos + 2 ELSE r.pos + 1 END,
                 CASE WHEN s.syms[r.pos] = b1.a AND s.syms[r.pos+1] = b1.b
                      THEN list_append(r.out, b1.a || b1.b)
                      ELSE list_append(r.out, s.syms[r.pos]) END
          FROM r1 r JOIN s1 s USING (word) CROSS JOIN b1
          WHERE r.pos <= r.n),
        s2 AS (SELECT word, freq, out AS syms FROM r1 WHERE pos = n + 1),
        p2 AS (SELECT s['a'] AS a, s['b'] AS b, sum(freq) AS cnt FROM (
                 SELECT freq, unnest(list_transform(range(1, len(syms)),
                        i -> {'a': syms[i], 'b': syms[i+1]})) AS s
                 FROM s2) GROUP BY 1, 2),
        b2 AS (SELECT a, b, cnt FROM p2 ORDER BY cnt DESC, a, b LIMIT 1),
        r2(word, freq, n, pos, out) AS (
          SELECT word, freq, len(syms), 1, CAST([] AS VARCHAR[]) FROM s2
          UNION ALL
          SELECT r.word, r.freq, r.n,
                 CASE WHEN s.syms[r.pos] = b2.a AND s.syms[r.pos+1] = b2.b
                      THEN r.pos + 2 ELSE r.pos + 1 END,
                 CASE WHEN s.syms[r.pos] = b2.a AND s.syms[r.pos+1] = b2.b
                      THEN list_append(r.out, b2.a || b2.b)
                      ELSE list_append(r.out, s.syms[r.pos]) END
          FROM r2 r JOIN s2 s USING (word) CROSS JOIN b2
          WHERE r.pos <= r.n),
        s3 AS (SELECT word, freq, out AS syms FROM r2 WHERE pos = n + 1),
        p3 AS (SELECT s['a'] AS a, s['b'] AS b, sum(freq) AS cnt FROM (
                 SELECT freq, unnest(list_transform(range(1, len(syms)),
                        i -> {'a': syms[i], 'b': syms[i+1]})) AS s
                 FROM s3) GROUP BY 1, 2),
        b3 AS (SELECT a, b, cnt FROM p3 ORDER BY cnt DESC, a, b LIMIT 1)
        SELECT * FROM (
          SELECT 1 AS iter, a, b, CAST(cnt AS BIGINT) AS cnt FROM b1
          UNION ALL SELECT 2, a, b, CAST(cnt AS BIGINT) FROM b2
          UNION ALL SELECT 3, a, b, CAST(cnt AS BIGINT) FROM b3)
        ORDER BY iter
      """)),

    // ---- BPE vocabulary after applying the learned merges (round-9) -----
    // The ENCODE side of bpe_learn_merges: apply the same 3 learned
    // merges to the word dict and report the resulting subword vocabulary
    // with corpus frequencies and where each symbol ranks — the table a
    // tokenizer ships. Shares the training queries' exact machinery
    // (fold merge, broadcast argmax), then one explode + hash agg over
    // the merged dict. Total order: freq DESC then symbol.
    Reg("bpe_vocab_apply",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val words = Tables(s, dir).documents
          .select(explode(TextOps.tokens(col("text"))).as("word"))
          .filter(col("word") =!= "")
          .groupBy(col("word")).agg(count(lit(1)).as("freq"))
          .withColumn("syms",
            expr("transform(sequence(1, length(word)), i -> substring(word, i, 1))"))
        def pairCounts(syms: org.apache.spark.sql.DataFrame) = syms
          .select(col("freq"), explode(expr(
            "transform(slice(syms, 1, size(syms) - 1), (x, i) -> struct(x AS a, syms[i + 1] AS b))"))
            .as("p"))
          .groupBy(col("p.a").as("a"), col("p.b").as("b"))
          .agg(sum(col("freq")).as("cnt"))
        def best(pc: org.apache.spark.sql.DataFrame) = pc
          .orderBy(col("cnt").desc, col("a"), col("b")).limit(1)
        def merge(syms: org.apache.spark.sql.DataFrame,
                  b: org.apache.spark.sql.DataFrame) = syms
          .crossJoin(broadcast(b.select(col("a"), col("b"))))
          .withColumn("syms", expr(
            """aggregate(syms, CAST(array() AS ARRAY<STRING>),
               (acc, x) -> CASE WHEN size(acc) > 0 AND element_at(acc, -1) = a AND x = b
                           THEN concat(slice(acc, 1, size(acc) - 1), array(concat(a, b)))
                           ELSE concat(acc, array(x)) END)"""))
          .select(col("word"), col("freq"), col("syms"))
          .localCheckpoint()
        val s1 = words.localCheckpoint()
        val s2 = merge(s1, best(pairCounts(s1)))
        val s3 = merge(s2, best(pairCounts(s2)))
        val s4 = merge(s3, best(pairCounts(s3)))
        s4.select(col("freq"), explode(col("syms")).as("sym"))
          .groupBy(col("sym"))
          .agg(sum(col("freq")).as("occurrences"))
          .withColumn("rank", row_number().over(
            Window.orderBy(col("occurrences").desc, col("sym"))).cast("long"))
          .select(col("rank"), col("sym"), col("occurrences"))
          .orderBy(col("rank"))
      },
      Some("""
        WITH RECURSIVE
        tok AS (SELECT string_split(trim(text), ' ') AS ws FROM documents),
        w AS (SELECT w AS word, count(*) AS freq
              FROM (SELECT unnest(ws) AS w FROM tok) WHERE w <> '' GROUP BY 1),
        s1 AS (SELECT word, freq,
                      list_transform(range(1, len(word) + 1), i -> word[i]) AS syms
               FROM w),
        p1 AS (SELECT s['a'] AS a, s['b'] AS b, sum(freq) AS cnt FROM (
                 SELECT freq, unnest(list_transform(range(1, len(syms)),
                        i -> {'a': syms[i], 'b': syms[i+1]})) AS s
                 FROM s1) GROUP BY 1, 2),
        b1 AS (SELECT a, b, cnt FROM p1 ORDER BY cnt DESC, a, b LIMIT 1),
        r1(word, freq, n, pos, out) AS (
          SELECT word, freq, len(syms), 1, CAST([] AS VARCHAR[]) FROM s1
          UNION ALL
          SELECT r.word, r.freq, r.n,
                 CASE WHEN s.syms[r.pos] = b1.a AND s.syms[r.pos+1] = b1.b
                      THEN r.pos + 2 ELSE r.pos + 1 END,
                 CASE WHEN s.syms[r.pos] = b1.a AND s.syms[r.pos+1] = b1.b
                      THEN list_append(r.out, b1.a || b1.b)
                      ELSE list_append(r.out, s.syms[r.pos]) END
          FROM r1 r JOIN s1 s USING (word) CROSS JOIN b1
          WHERE r.pos <= r.n),
        s2 AS (SELECT word, freq, out AS syms FROM r1 WHERE pos = n + 1),
        p2 AS (SELECT s['a'] AS a, s['b'] AS b, sum(freq) AS cnt FROM (
                 SELECT freq, unnest(list_transform(range(1, len(syms)),
                        i -> {'a': syms[i], 'b': syms[i+1]})) AS s
                 FROM s2) GROUP BY 1, 2),
        b2 AS (SELECT a, b, cnt FROM p2 ORDER BY cnt DESC, a, b LIMIT 1),
        r2(word, freq, n, pos, out) AS (
          SELECT word, freq, len(syms), 1, CAST([] AS VARCHAR[]) FROM s2
          UNION ALL
          SELECT r.word, r.freq, r.n,
                 CASE WHEN s.syms[r.pos] = b2.a AND s.syms[r.pos+1] = b2.b
                      THEN r.pos + 2 ELSE r.pos + 1 END,
                 CASE WHEN s.syms[r.pos] = b2.a AND s.syms[r.pos+1] = b2.b
                      THEN list_append(r.out, b2.a || b2.b)
                      ELSE list_append(r.out, s.syms[r.pos]) END
          FROM r2 r JOIN s2 s USING (word) CROSS JOIN b2
          WHERE r.pos <= r.n),
        s3 AS (SELECT word, freq, out AS syms FROM r2 WHERE pos = n + 1),
        p3 AS (SELECT s['a'] AS a, s['b'] AS b, sum(freq) AS cnt FROM (
                 SELECT freq, unnest(list_transform(range(1, len(syms)),
                        i -> {'a': syms[i], 'b': syms[i+1]})) AS s
                 FROM s3) GROUP BY 1, 2),
        b3 AS (SELECT a, b, cnt FROM p3 ORDER BY cnt DESC, a, b LIMIT 1),
        r3(word, freq, n, pos, out) AS (
          SELECT word, freq, len(syms), 1, CAST([] AS VARCHAR[]) FROM s3
          UNION ALL
          SELECT r.word, r.freq, r.n,
                 CASE WHEN s.syms[r.pos] = b3.a AND s.syms[r.pos+1] = b3.b
                      THEN r.pos + 2 ELSE r.pos + 1 END,
                 CASE WHEN s.syms[r.pos] = b3.a AND s.syms[r.pos+1] = b3.b
                      THEN list_append(r.out, b3.a || b3.b)
                      ELSE list_append(r.out, s.syms[r.pos]) END
          FROM r3 r JOIN s3 s USING (word) CROSS JOIN b3
          WHERE r.pos <= r.n),
        s4 AS (SELECT word, freq, out AS syms FROM r3 WHERE pos = n + 1),
        v AS (SELECT sym, sum(freq) AS occurrences FROM (
                SELECT freq, unnest(syms) AS sym FROM s4) GROUP BY 1)
        SELECT CAST(row_number() OVER (ORDER BY occurrences DESC, sym) AS BIGINT) AS rank,
               sym, CAST(occurrences AS BIGINT) AS occurrences
        FROM v ORDER BY rank
      """)),

    // ---- unigram-LM Viterbi segmentation (round-10) ---------------------
    // The SentencePiece-family rung beside BPE: segment every dictionary
    // word into the minimum-cost sequence of subword units under a
    // unigram LM (Kudo 2018, public method), units = corpus chars +
    // char-bigrams with cost −ln(count/total) in integer MICROS (each ln
    // takes an IEEE-exact integer quotient and rounds immediately — the
    // lm_perplexity discipline). The Viterbi DP is a per-word linear
    // fold: v[i] = min(v[i−1] + c1[i]·1024 + 1, v[i−2] + c2[i−1]·1024 + 1)
    // — the ·1024+1 folds the piece count into the objective, so the
    // argmin is lexicographic (cost, n_pieces) and the OUTPUT
    // (cost = v div 1024, pieces = v mod 1024) is unique even when two
    // segmentations tie on raw cost. Scale shape: the DP runs over the
    // WORD DICTIONARY (the BPE vocab-not-corpus argument), cost tables
    // are unit-inventory-sized, per-word arrays built by two
    // posexplode+collect passes. Two radically different formulations,
    // one hash: Spark folds the per-word cost arrays in one codegen
    // `aggregate`; the oracle walks positions in a recursive CTE
    // carrying (p2, p1) — the holt template at word grain.
    Reg("unigram_viterbi_segment",
      (s, dir) => {
        val dict = Tables(s, dir).documents
          .select(explode(TextOps.tokens(col("text"))).as("word"))
          .filter(col("word") =!= "")
          .groupBy(col("word")).agg(count(lit(1)).as("freq"))
          .localCheckpoint() // feeds unit counts AND the per-word arrays
        val chars = dict
          .select(col("freq"), explode(expr(
            "transform(sequence(1, length(word)), i -> substring(word, i, 1))"))
            .as("u"))
          .groupBy(col("u")).agg(sum(col("freq")).as("cnt"))
        val t1 = chars.agg(sum(col("cnt")).as("tot"))
        val cost1 = chars.crossJoin(broadcast(t1)).select(col("u"), expr(
          "CAST(round(-ln(CAST(cnt AS DOUBLE) / CAST(tot AS DOUBLE))" +
            " * CAST(1000000 AS DOUBLE)) AS BIGINT)").as("c"))
        val bigrams = dict.filter(length(col("word")) >= 2)
          .select(col("freq"), explode(expr(
            "transform(sequence(2, length(word)), i -> substring(word, i - 1, 2))"))
            .as("u"))
          .groupBy(col("u")).agg(sum(col("freq")).as("cnt"))
        val t2 = bigrams.agg(sum(col("cnt")).as("tot"))
        val cost2 = bigrams.crossJoin(broadcast(t2)).select(col("u"), expr(
          "CAST(round(-ln(CAST(cnt AS DOUBLE) / CAST(tot AS DOUBLE))" +
            " * CAST(1000000 AS DOUBLE)) AS BIGINT)").as("c"))
        val a1 = dict
          .select(col("word"), explode(expr("sequence(1, length(word))")).as("i"))
          .withColumn("u", expr("substring(word, i, 1)"))
          .join(cost1, "u")
          .groupBy(col("word"))
          .agg(expr("transform(array_sort(collect_list(struct(i, c)))," +
            " x -> x.c)").as("c1"))
        val a2 = dict.filter(length(col("word")) >= 2)
          .select(col("word"), explode(expr("sequence(2, length(word))")).as("i"))
          .withColumn("u", expr("substring(word, i - 1, 2)"))
          .join(cost2, "u")
          .groupBy(col("word"))
          .agg(expr("transform(array_sort(collect_list(struct(i, c)))," +
            " x -> x.c)").as("c2"))
        dict.join(a1, "word")
          .join(a2, Seq("word"), "left")
          .withColumn("c2", coalesce(col("c2"), expr("CAST(array() AS ARRAY<BIGINT>)")))
          .withColumn("v", expr(
            """aggregate(sequence(1, size(c1)),
                 named_struct('p2', CAST(1000000000000000 AS BIGINT),
                              'p1', CAST(0 AS BIGINT)),
                 (st, i) -> named_struct('p2', st.p1,
                   'p1', least(st.p1 + element_at(c1, i) * 1024 + 1,
                     CASE WHEN i >= 2
                          THEN st.p2 + element_at(c2, i - 1) * 1024 + 1
                          ELSE CAST(1000000000000000 AS BIGINT) END)),
                 st -> st.p1)"""))
          .select(col("word"), col("freq"), length(col("word")).as("n_chars"),
            expr("v % 1024").as("n_pieces"), expr("v div 1024").as("cost_um"))
          .orderBy("word")
      },
      Some("""
        WITH RECURSIVE
        tok AS (SELECT string_split(trim(text), ' ') AS ws FROM documents),
        w AS (SELECT w AS word, count(*) AS freq
              FROM (SELECT unnest(ws) AS w FROM tok) WHERE w <> '' GROUP BY 1),
        ch AS (SELECT u, CAST(sum(freq) AS BIGINT) AS cnt FROM (
                 SELECT freq, unnest(list_transform(range(1, len(word) + 1),
                        i -> word[i])) AS u FROM w) GROUP BY 1),
        t1 AS (SELECT CAST(sum(cnt) AS BIGINT) AS tot FROM ch),
        cost1 AS (SELECT u, CAST(round(-ln(CAST(cnt AS DOUBLE) / CAST(tot AS DOUBLE))
                                 * CAST(1000000 AS DOUBLE)) AS BIGINT) AS c
                  FROM ch, t1),
        bg AS (SELECT u, CAST(sum(freq) AS BIGINT) AS cnt FROM (
                 SELECT freq, unnest(list_transform(range(2, len(word) + 1),
                        i -> substr(word, CAST(i - 1 AS INT), 2))) AS u
                 FROM w WHERE len(word) >= 2) GROUP BY 1),
        t2 AS (SELECT CAST(sum(cnt) AS BIGINT) AS tot FROM bg),
        cost2 AS (SELECT u, CAST(round(-ln(CAST(cnt AS DOUBLE) / CAST(tot AS DOUBLE))
                                 * CAST(1000000 AS DOUBLE)) AS BIGINT) AS c
                  FROM bg, t2),
        a1 AS (SELECT word, list(c ORDER BY i) AS c1 FROM (
                 SELECT w.word, i.i, c1.c
                 FROM w, unnest(range(1, len(w.word) + 1)) AS i(i)
                 JOIN cost1 c1 ON c1.u = substr(w.word, CAST(i.i AS INT), 1))
               GROUP BY 1),
        a2 AS (SELECT word, list(c ORDER BY i) AS c2 FROM (
                 SELECT w.word, i.i, c2.c
                 FROM w, unnest(range(2, len(w.word) + 1)) AS i(i)
                 JOIN cost2 c2 ON c2.u = substr(w.word, CAST(i.i - 1 AS INT), 2)
                 WHERE len(w.word) >= 2)
               GROUP BY 1),
        g AS (SELECT w.word, w.freq, len(w.word) AS n, a1.c1,
                     coalesce(a2.c2, CAST([] AS BIGINT[])) AS c2
              FROM w JOIN a1 USING (word) LEFT JOIN a2 USING (word)),
        r(word, i, p2, p1) AS (
          SELECT word, CAST(0 AS BIGINT), CAST(1000000000000000 AS BIGINT),
                 CAST(0 AS BIGINT)
          FROM g
          UNION ALL
          SELECT r.word, r.i + 1, r.p1,
                 least(r.p1 + g.c1[CAST(r.i + 1 AS INT)] * 1024 + 1,
                       CASE WHEN r.i + 1 >= 2
                            THEN r.p2 + g.c2[CAST(r.i AS INT)] * 1024 + 1
                            ELSE CAST(1000000000000000 AS BIGINT) END)
          FROM r JOIN g USING (word)
          WHERE r.i < g.n),
        fin AS (SELECT r.word AS word, r.p1 AS v FROM r JOIN g USING (word)
                WHERE r.i = g.n)
        SELECT g.word AS word, g.freq, CAST(g.n AS INT) AS n_chars,
               f.v % 1024 AS n_pieces, f.v // 1024 AS cost_um
        FROM g JOIN fin f ON g.word = f.word
        ORDER BY g.word
      """))

    ,
    // ---- TextRank keyword extraction (round-9) --------------------------
    // Mihalcea & Tarau 2004 (public method): PageRank over the word
    // co-occurrence graph (words within distance ≤ 2 in a document are
    // edges, weight = co-occurrence count). The ±2 window join is TWO
    // SHIFTED EQUI-JOINS on (doc_id, pos + k) — never a position-range
    // theta join. The walk reuses pagerank_weighted's integer-millionth
    // discipline verbatim (contribution (s·w) div totw, damping as
    // 150000 + (850·Σ) div 1000 — order-independent sums, zero float).
    // Output: every word's final score + rank (the keyword table).
    Reg("textrank_keywords",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val toks = Tables(s, dir).documents
          .select(col("doc_id"), posexplode(TextOps.tokens(col("text"))).as(Seq("pos", "w")))
          .filter(col("w") =!= "")
        val shifted = (1 to 2).map { k =>
          toks.as("a").join(
            toks.select(col("doc_id"), (col("pos") - k).as("pos"), col("w").as("w2")).as("b"),
            Seq("doc_id", "pos"))
            .select(col("w"), col("w2"))
        }.reduce(_ union _)
        val e0 = shifted.filter(col("w") =!= col("w2"))
          .select(least(col("w"), col("w2")).as("src"), greatest(col("w"), col("w2")).as("dst"))
          .groupBy(col("src"), col("dst")).agg(count(lit(1)).as("wt"))
        val edges = e0.select(col("src"), col("dst"), col("wt"))
          .union(e0.select(col("dst").as("src"), col("src").as("dst"), col("wt")))
          .localCheckpoint()
        val totw = edges.groupBy(col("src")).agg(sum(col("wt")).as("totw"))
          .localCheckpoint()
        var score = totw.select(col("src").as("node"), lit(1000000L).as("score"))
        for (_ <- 1 to 3) {
          score = edges.join(totw, "src")
            .join(score, edges("src") === score("node"))
            .select(col("dst"), expr("(score * wt) div totw").as("c"))
            .groupBy(col("dst"))
            .agg(expr("CAST(150000 + (850 * sum(c)) div 1000 AS BIGINT)").as("score"))
            .select(col("dst").as("node"), col("score"))
        }
        score
          .withColumn("rank", row_number().over(
            Window.orderBy(col("score").desc, col("node"))).cast("long"))
          .select(col("rank"), col("node").as("word"), col("score"))
          .orderBy("rank")
      },
      Some("""
        WITH p AS (SELECT doc_id, unnest(ws) AS w,
                          generate_subscripts(ws, 1) AS pos
                   FROM (SELECT doc_id, string_split(trim(text), ' ') AS ws
                         FROM documents)),
        pairs AS (
          SELECT a.w, b.w AS w2 FROM p a JOIN p b
            ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
          UNION ALL
          SELECT a.w, b.w FROM p a JOIN p b
            ON a.doc_id = b.doc_id AND b.pos = a.pos + 2),
        e0 AS (SELECT least(w, w2) AS src, greatest(w, w2) AS dst,
                      count(*) AS wt
               FROM pairs WHERE w <> '' AND w2 <> '' AND w <> w2
               GROUP BY 1, 2),
        e AS (SELECT src, dst, wt FROM e0 UNION ALL SELECT dst, src, wt FROM e0),
        tw AS (SELECT src, CAST(sum(wt) AS BIGINT) AS totw FROM e GROUP BY 1),
        s0 AS (SELECT src AS node, CAST(1000000 AS BIGINT) AS score FROM tw),
        i1 AS (SELECT e.dst AS node,
                      CAST(150000 + (850 * sum((s.score * e.wt) // t.totw)) // 1000 AS BIGINT) AS score
               FROM e JOIN tw t ON e.src = t.src JOIN s0 s ON e.src = s.node
               GROUP BY e.dst),
        i2 AS (SELECT e.dst AS node,
                      CAST(150000 + (850 * sum((s.score * e.wt) // t.totw)) // 1000 AS BIGINT) AS score
               FROM e JOIN tw t ON e.src = t.src JOIN i1 s ON e.src = s.node
               GROUP BY e.dst),
        i3 AS (SELECT e.dst AS node,
                      CAST(150000 + (850 * sum((s.score * e.wt) // t.totw)) // 1000 AS BIGINT) AS score
               FROM e JOIN tw t ON e.src = t.src JOIN i2 s ON e.src = s.node
               GROUP BY e.dst)
        SELECT CAST(row_number() OVER (ORDER BY score DESC, node) AS BIGINT) AS rank,
               node AS word, score
        FROM i3 ORDER BY rank
      """)),

    // ---- Kneser-Ney bigram perplexity (round-11) --------------------------
    // The smoothing rung ABOVE lm_perplexity_score's add-one model: CCNet's
    // actual quality filter is a Kneser-Ney LM, whose two ideas are (a)
    // absolute discounting (subtract a fixed d from every seen bigram
    // count, redistribute the freed mass) and (b) a CONTINUATION backoff —
    // a word's backoff weight is how many distinct contexts it follows,
    // not how often it occurs ("San Francisco" makes "Francisco" frequent
    // but not free-standing). With d = 3/4 (exact rational):
    //   P(w2|w1) = (c2 − d)/c1 + d·N1⁺(w1,·)/c1 · N1⁺(·,w2)/N1⁺(··)
    // put over the common denominator 4·c1·N1⁺(··):
    //   P = [(4·c2 − 3)·N1⁺(··) + 3·N1⁺(w1,·)·N1⁺(·,w2)] / [4·c1·N1⁺(··)]
    // — numerator and denominator are EXACT int64 (exact doubles while
    // counts stay < 2^53; at larger corpora promote to DECIMAL), so the
    // quotient is the identical IEEE double both engines, ln'd and rounded
    // to micros per TERM, then integer-summed per doc (the float-sum
    // rule). All four count relations are one groupBy chain off the bigram
    // explode; the score join is the same (w1,w2)-keyed shuffle as the
    // add-one twin — AQE broadcasts when the model table is actually small.
    Reg("kn_perplexity_score",
      (s, dir) => {
        val bi = Tables(s, dir).documents
          .select(col("doc_id"), TextOps.tokens(col("text")).as("t"))
          .filter(size(col("t")) >= 2)
          .select(col("doc_id"), explode(expr(
            "transform(sequence(1, size(t) - 1)," +
              " i -> struct(element_at(t, i) AS w1, element_at(t, i + 1) AS w2))"))
            .as("b"))
          .select(col("doc_id"), col("b.w1").as("w1"), col("b.w2").as("w2"))
        val c2 = bi.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c2"))
        val c1 = c2.groupBy(col("w1"))
          .agg(sum(col("c2")).as("c1"), count(lit(1)).as("n1fw"))
        val bw = c2.groupBy(col("w2")).agg(count(lit(1)).as("n1bw"))
        // overflow guard (ADVICE r11): every count in the common-
        // denominator formula is ≤ N = Σc2 (total bigram occurrences),
        // so all int64 terms stay exact while 7·N² < 2^63, i.e.
        // N ≤ ~1.148e9. Past that Spark (non-ANSI) would WRAP silently
        // where DuckDB raises — a cross-engine divergence, so fail loud
        // instead. Round 13: the guard is a ROW-LEVEL CASE over the
        // aggregated sum whose else-branch is raise_error, folded into
        // n1tot's value (+0) so pruning can never drop it — the round-12
        // form (assert_true inside an IF(…, 0L, 0L) within the agg
        // expression) was measured DEAD: equal-branch IFs are simplified
        // away in aggregate context and the assert never fired. The
        // escalation at larger corpora is promoting the numerator to
        // DECIMAL(38).
        val tot = c2.agg(count(lit(1)).as("_n1tot"), sum(col("c2")).as("_sc2"))
          .select((col("_n1tot") +
            when(col("_sc2") <= 1148000000L, lit(0L)).otherwise(raise_error(
              lit("kn_perplexity_score: bigram count exceeds the" +
                " exact-int64 envelope (7*N^2 >= 2^63); promote the" +
                " numerator to DECIMAL(38)")))).as("n1tot"))
        val scored = c2.join(c1, "w1").join(bw, "w2")
          .crossJoin(broadcast(tot))
          .withColumn("nll_um", expr(
            "CAST(round(-ln(CAST((4 * c2 - 3) * n1tot + 3 * n1fw * n1bw AS DOUBLE)" +
              " / CAST(4 * c1 * n1tot AS DOUBLE))" +
              " * CAST(1000000 AS DOUBLE)) AS BIGINT)"))
          .select(col("w1"), col("w2"), col("nll_um"))
        bi.join(scored, Seq("w1", "w2"))
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_bigrams"), sum(col("nll_um")).as("nll_sum_um"),
            expr("sum(nll_um) div count(*)").as("avg_nll_um"))
          .orderBy("doc_id")
      },
      Some("""
        WITH t AS (SELECT doc_id, string_split(trim(text), ' ') AS ws FROM documents),
        bi AS (SELECT doc_id, unnest(list_transform(range(1, len(ws)),
                        i -> struct_pack(w1 := ws[i], w2 := ws[i + 1]))) AS b
               FROM t),
        bg AS (SELECT doc_id, b.w1 AS w1, b.w2 AS w2 FROM bi),
        c2 AS (SELECT w1, w2, count(*) AS c2 FROM bg GROUP BY 1, 2),
        c1 AS (SELECT w1, CAST(sum(c2) AS BIGINT) AS c1,
                      CAST(count(*) AS BIGINT) AS n1fw
               FROM c2 GROUP BY 1),
        bw AS (SELECT w2, CAST(count(*) AS BIGINT) AS n1bw FROM c2 GROUP BY 1),
        tt AS (SELECT CAST(count(*) AS BIGINT) AS n1tot FROM c2),
        sc AS (SELECT c2.w1, c2.w2,
                      CAST(round(-ln(
                        CAST((4 * c2.c2 - 3) * tt.n1tot
                             + 3 * c1.n1fw * bw.n1bw AS DOUBLE)
                        / CAST(4 * c1.c1 * tt.n1tot AS DOUBLE))
                        * CAST(1000000 AS DOUBLE)) AS BIGINT) AS nll_um
               FROM c2 JOIN c1 USING (w1) JOIN bw USING (w2), tt)
        SELECT bg.doc_id, count(*) AS n_bigrams,
               CAST(sum(sc.nll_um) AS BIGINT) AS nll_sum_um,
               CAST(sum(sc.nll_um) // count(*) AS BIGINT) AS avg_nll_um
        FROM bg JOIN sc ON bg.w1 = sc.w1 AND bg.w2 = sc.w2
        GROUP BY 1 ORDER BY doc_id
      """)),

    // ---- IDF-weighted Jaccard near-dup pairs (round-11) -------------------
    // The SOFT-Jaccard rung of the dedup ladder: plain Jaccard counts a
    // shared stopword and a shared rare term equally, so boilerplate-heavy
    // docs false-positive. Weighted Jaccard over DISTINCT tokens,
    //   WJ(A,B) = Σ_{t∈A∩B} idf(t) / Σ_{t∈A∪B} idf(t)
    // (binary weights × idf — the min/max form degenerates to this on
    // sets), downweights ubiquitous tokens to ~0 and lets discriminative
    // vocabulary drive the score. idf is block-relative,
    //   idf_um(t) = round(ln(|block docs| / df(t)) · 10⁶)
    // an exact-int quotient → one ln → immediate micros rounding, so every
    // downstream sum is INTEGER (the float-sum rule); the union weight is
    // inclusion-exclusion (wa + wb − inter), and the ≥ 0.3 threshold is
    // integer cross-multiplication with a uni_w > 0 guard (all-boilerplate
    // pairs would otherwise emit 0/0 — the ADVICE sentinel discipline).
    // Candidate generation reuses jaccard_bigram_pairs' machinery on
    // UNIGRAMS: (lang, source) blocking + df ∈ [2, ceiling] band-pass on
    // the join key — fan-out per (block, token) key ≤ C², linear at 100×.
    Reg("weighted_jaccard_pairs",
      (s, dir) => {
        val tok = Tables(s, dir).documents
          .select(col("lang"), col("source"), col("doc_id"),
            explode(array_distinct(TextOps.tokens(col("text")))).as("w"))
        val blocks = Tables(s, dir).documents
          .groupBy(col("lang"), col("source")).agg(count(lit(1)).as("n_docs"))
        val withDf = tok
          .withColumn("df", count(lit(1)).over(
            org.apache.spark.sql.expressions.Window
              .partitionBy(col("lang"), col("source"), col("w"))))
          .filter(col("df") <= JaccardDfCeiling)
          .join(broadcast(blocks), Seq("lang", "source"))
          .withColumn("idf_um", expr(
            "CAST(round(ln(CAST(n_docs AS DOUBLE) / CAST(df AS DOUBLE))" +
              " * CAST(1000000 AS DOUBLE)) AS BIGINT)"))
        val sums = withDf.groupBy(col("doc_id")).agg(sum(col("idf_um")).as("w_total"))
        val shj = withDf.filter(col("df") >= 2)
          .select(col("lang"), col("source"), col("w"), col("doc_id"), col("idf_um"))
        val a = shj.select(col("lang"), col("source"), col("w"),
          col("doc_id").as("a_id"), col("idf_um"))
        val b = shj.select(col("lang"), col("source"), col("w"),
          col("doc_id").as("b_id"))
        a.join(b, Seq("lang", "source", "w"))
          .filter(col("a_id") < col("b_id"))
          .groupBy(col("a_id"), col("b_id"))
          .agg(count(lit(1)).as("n_common"), sum(col("idf_um")).as("inter_w"))
          .join(sums.select(col("doc_id").as("a_id"), col("w_total").as("wa")), "a_id")
          .join(sums.select(col("doc_id").as("b_id"), col("w_total").as("wb")), "b_id")
          .withColumn("uni_w", col("wa") + col("wb") - col("inter_w"))
          .filter(col("uni_w") > 0L && col("inter_w") * 10 >= col("uni_w") * 3)
          .select(col("a_id"), col("b_id"), col("n_common"),
            col("inter_w"), col("uni_w"),
            expr("""CAST(round(CAST(inter_w AS DOUBLE) / CAST(uni_w AS DOUBLE)
                    * CAST(1000000 AS DOUBLE)) AS BIGINT)""").as("wj_um"))
          .orderBy("a_id", "b_id")
      },
      Some(weightedJaccardOracle)),

    // ---- Gopher rule-based quality gate (Rae et al. 2021, A1.1) ---------
    // The MassiveText document-shape filter, adapted to the fixture corpus
    // (single-line lowercase docs: the line-shape rules are vacuous here;
    // the token-shape rules are the graded surface): word count ≥ 50, mean
    // word length in [3, 10], ≥ 2 distinct stopwords present (the Gopher
    // "stop word" rule on the house 5-word list). Each rule ships as its
    // own boolean so a curator sees WHICH gate failed, plus the
    // conjunction. mean_word_len is the token_stats avg_token_len
    // expression verbatim (4-dp, already hash-exact); the comparisons run
    // on the ROUNDED value on both engines, so the gate can't disagree in
    // the 5th decimal. One narrow projection, per-doc array math, no
    // shuffle beyond the presentation sort — at 100 TB this is a pure
    // map-side gate.
    Reg("gopher_quality_filter",
      (s, dir) => gopherQualityShared(s, dir)
        .withColumn("ok_len", col("n_tokens") >= 50)
        .withColumn("ok_mwl",
          col("mean_word_len") >= 3.0 && col("mean_word_len") <= 10.0)
        .withColumn("ok_stop", col("n_stop") >= 2)
        .withColumn("pass", col("ok_len") && col("ok_mwl") && col("ok_stop"))
        .orderBy("doc_id"),
      Some(s"""
        WITH t AS (SELECT doc_id, string_split(trim(text), ' ') AS ws FROM documents),
        f AS (SELECT doc_id, len(ws) AS n_tokens,
                     round(CAST(list_sum(list_transform(ws, x -> length(x))) AS DOUBLE)
                           / len(ws), 4) AS mean_word_len,
                     len(list_intersect(list_distinct(ws),
                       ${stopwords.map(w => s"'$w'").mkString("[", ", ", "]")})) AS n_stop
              FROM t)
        SELECT doc_id, n_tokens, mean_word_len, n_stop,
               n_tokens >= 50 AS ok_len,
               (mean_word_len >= 3.0 AND mean_word_len <= 10.0) AS ok_mwl,
               n_stop >= 2 AS ok_stop,
               (n_tokens >= 50 AND mean_word_len >= 3.0 AND mean_word_len <= 10.0
                AND n_stop >= 2) AS pass
        FROM f ORDER BY doc_id
      """)),

    // ---- Gopher repetition gate (Rae et al. 2021, A1.1 repetition) ------
    // The other half of the Gopher filter: fraction of characters inside
    // (a) the most frequent 2-gram, (b) the most frequent 3-gram, (c) all
    // DUPLICATED 5-grams — char mass = occurrences × gram length, over
    // length(text). Top-gram pick is deterministic (count DESC, gram ASC —
    // ASCII binary collation, identical in both engines); fractions ship
    // as round()-ed ppm BIGINTs and the thresholds (20% / 18% / 15%, the
    // published Gopher values) compare those integers, so the gate is
    // hash-exact. Each n-gram relation groups per (doc, gram) then reduces
    // per doc — doc-partitioned windows only, no cross-doc shuffle; the
    // three signals join back on doc_id (left, coalesce 0: a doc shorter
    // than n tokens has no n-grams). Map-side-combinable throughout —
    // 100 TB cost is one pass per n.
    Reg("gopher_repetition_filter",
      (s, dir) => gopherRepetitionShared(s, dir)
        .withColumn("pass",
          col("top2_ppm") < 200000L && col("top3_ppm") < 180000L &&
            col("dup5_ppm") < 150000L)
        .orderBy("doc_id"),
      Some("""
        WITH d AS (SELECT doc_id, length(text) AS tlen,
                          string_split(trim(text), ' ') AS ws FROM documents),
        g2 AS (SELECT doc_id, tlen, ws[i] || ' ' || ws[i+1] AS g
               FROM d, unnest(generate_series(1, len(ws) - 1)) AS u(i)
               WHERE len(ws) >= 2),
        c2 AS (SELECT doc_id, tlen, g, count(*) AS cnt FROM g2 GROUP BY 1, 2, 3),
        t2 AS (SELECT doc_id,
                      CAST(round(CAST(cnt * length(g) AS DOUBLE) / CAST(tlen AS DOUBLE)
                        * CAST(1000000 AS DOUBLE)) AS BIGINT) AS top2_ppm,
                      row_number() OVER (PARTITION BY doc_id ORDER BY cnt DESC, g) AS rk
               FROM c2) ,
        g3 AS (SELECT doc_id, tlen, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS g
               FROM d, unnest(generate_series(1, len(ws) - 2)) AS u(i)
               WHERE len(ws) >= 3),
        c3 AS (SELECT doc_id, tlen, g, count(*) AS cnt FROM g3 GROUP BY 1, 2, 3),
        t3 AS (SELECT doc_id,
                      CAST(round(CAST(cnt * length(g) AS DOUBLE) / CAST(tlen AS DOUBLE)
                        * CAST(1000000 AS DOUBLE)) AS BIGINT) AS top3_ppm,
                      row_number() OVER (PARTITION BY doc_id ORDER BY cnt DESC, g) AS rk
               FROM c3),
        g5 AS (SELECT doc_id, tlen,
                      ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3]
                        || ' ' || ws[i+4] AS g
               FROM d, unnest(generate_series(1, len(ws) - 4)) AS u(i)
               WHERE len(ws) >= 5),
        c5 AS (SELECT doc_id, tlen, g, count(*) AS cnt FROM g5 GROUP BY 1, 2, 3),
        d5 AS (SELECT doc_id,
                      CAST(round(CAST(sum(cnt * length(g)) AS DOUBLE)
                        / CAST(tlen AS DOUBLE)
                        * CAST(1000000 AS DOUBLE)) AS BIGINT) AS dup5_ppm
               FROM c5 WHERE cnt > 1 GROUP BY doc_id, tlen),
        j AS (SELECT d.doc_id,
                     coalesce(t2.top2_ppm, 0) AS top2_ppm,
                     coalesce(t3.top3_ppm, 0) AS top3_ppm,
                     coalesce(d5.dup5_ppm, 0) AS dup5_ppm
              FROM d LEFT JOIN t2 ON d.doc_id = t2.doc_id AND t2.rk = 1
                     LEFT JOIN t3 ON d.doc_id = t3.doc_id AND t3.rk = 1
                     LEFT JOIN d5 ON d.doc_id = d5.doc_id)
        SELECT doc_id, top2_ppm, top3_ppm, dup5_ppm,
               (top2_ppm < 200000 AND top3_ppm < 180000 AND dup5_ppm < 150000) AS pass
        FROM j ORDER BY doc_id
      """)),

    // ---- DSIR importance weights (Xie et al. 2023, hashed n-grams) ------
    // Data Selection with Importance Resampling: per-document importance
    // weight log(p_target/p_raw) under two bag-of-hashed-unigram models —
    // the target distribution is the source='src0' slice (standing in for
    // the curated domain), the raw distribution the whole corpus. Features
    // are md5-hashed into 64 buckets ([[TextOps.hash60]] % 64 — the
    // DuckDB-portable house hash); both distributions add-one smoothed
    // over the bucket space, the per-bucket log-ratio quantized to micros
    // (one ln of an exact integer quotient — the lm_perplexity_score
    // discipline), and a doc's weight is the SUM over its token
    // occurrences. Selection policy is downstream's (token_budget_fill /
    // quota machinery); this query is the scoring stage. Scale: the
    // bucket table is 64 rows (AQE broadcasts it), everything else is one
    // map-side-combinable pass over tokens. The log-ratio is the
    // SPLIT-LN form since round 14 (see [[dsirLrUmExpr]]): four lns of
    // exact-integer doubles in a fixed association — no integer product,
    // so no 2⁵³ envelope and no int64 overflow at true 100 TB counts
    // (the retired quotient form multiplied count × corpus-total inside
    // a BIGINT).
    Reg("dsir_importance_weights",
      (s, dir) => {
        val tok = Tables(s, dir).documents
          .select(col("doc_id"), col("source"),
            explode(TextOps.tokens(col("text"))).as("w"))
          .withColumn("b", TextOps.hash60(col("w")) % 64)
        val tgt = tok.filter(col("source") === "src0")
          .groupBy(col("b")).agg(count(lit(1)).as("ct"))
        val raw = tok.groupBy(col("b")).agg(count(lit(1)).as("cr"))
        val totT = tgt.agg(sum(col("ct")).as("nt"))
        val totR = raw.agg(sum(col("cr")).as("nr"))
        val lr = raw.join(tgt, Seq("b"), "left")
          .withColumn("ct", coalesce(col("ct"), lit(0L)))
          .crossJoin(broadcast(totT)).crossJoin(broadcast(totR))
          .withColumn("lr_um", expr(dsirLrUmExpr))
          .select(col("b"), col("lr_um"))
        tok.join(lr, Seq("b"))
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_tokens"), sum(col("lr_um")).as("logw_um"))
          .orderBy("doc_id")
      },
      Some(dsirOracle)),

    // ---- CCNet perplexity bucketing (Wenzek et al. 2020) ----------------
    // The CCNet curation step ABOVE the LM scorers this registry already
    // ships: score every document under a per-language LM, rank within its
    // language, and cut the corpus into head / middle / tail terciles —
    // the head is what trains, the tail is what a curator inspects. LM =
    // the add-one bigram model of lm_perplexity_score, fit PER LANGUAGE
    // (per-lang counts + per-lang vocab); per-doc score is the integer
    // avg-NLL in micros (sum div count — the established exact form).
    // Bucket = (rank−1)·3 div lang_count, an explicit integer formula on
    // BOTH engines (never ntile: its remainder distribution is the
    // engine's choice; this one is the contract). Output is the per
    // (lang, bucket) profile — count + NLL range — which is what the
    // pipeline actually consumes (the cut points). Windows are
    // lang-partitioned (≤ 5 partitions here, ~hundreds at web scale —
    // never a single-partition global sort); everything upstream is
    // map-side-combinable bigram counting.
    Reg("ccnet_perplexity_buckets",
      (s, dir) => {
        val docs = Tables(s, dir).documents
          .select(col("doc_id"), col("lang"), TextOps.tokens(col("text")).as("t"))
          .filter(size(col("t")) >= 2)
        val bi = docs.select(col("doc_id"), col("lang"), explode(expr(
            "transform(sequence(1, size(t) - 1)," +
              " i -> struct(element_at(t, i) AS w1, element_at(t, i + 1) AS w2))"))
            .as("b"))
          .select(col("doc_id"), col("lang"),
            col("b.w1").as("w1"), col("b.w2").as("w2"))
        val c2 = bi.groupBy(col("lang"), col("w1"), col("w2"))
          .agg(count(lit(1)).as("c2"))
        val c1 = c2.groupBy(col("lang"), col("w1")).agg(sum(col("c2")).as("c1"))
        val v = docs.select(col("lang"), explode(col("t")).as("w"))
          .groupBy(col("lang")).agg(countDistinct(col("w")).as("vocab"))
        val nll = c2.join(c1, Seq("lang", "w1")).join(broadcast(v), Seq("lang"))
          .withColumn("nll_um", expr(
            "CAST(round(-ln(CAST(c2 + 1 AS DOUBLE) / CAST(c1 + vocab AS DOUBLE))" +
              " * CAST(1000000 AS DOUBLE)) AS BIGINT)"))
          .select(col("lang"), col("w1"), col("w2"), col("nll_um"))
        val perDoc = bi.join(nll, Seq("lang", "w1", "w2"))
          .groupBy(col("doc_id"), col("lang"))
          .agg(expr("sum(nll_um) div count(*)").as("avg_nll_um"))
        val wl = Window.partitionBy(col("lang"))
          .orderBy(col("avg_nll_um"), col("doc_id"))
        perDoc
          .withColumn("rn", row_number().over(wl))
          .withColumn("nd", count(lit(1)).over(Window.partitionBy(col("lang"))))
          .withColumn("bucket", expr("CAST((rn - 1) * 3 div nd AS INT)"))
          .groupBy(col("lang"), col("bucket"))
          .agg(count(lit(1)).as("n_docs"),
            min(col("avg_nll_um")).as("min_nll_um"),
            max(col("avg_nll_um")).as("max_nll_um"))
          .orderBy("lang", "bucket")
      },
      Some("""
        WITH t AS (SELECT doc_id, lang, string_split(trim(text), ' ') AS ws FROM documents),
        tf AS (SELECT * FROM t WHERE len(ws) >= 2),
        bi AS (SELECT doc_id, lang, unnest(list_transform(range(1, len(ws)),
                        i -> struct_pack(w1 := ws[i], w2 := ws[i + 1]))) AS b
               FROM tf),
        bg AS (SELECT doc_id, lang, b.w1 AS w1, b.w2 AS w2 FROM bi),
        c2 AS (SELECT lang, w1, w2, count(*) AS c2 FROM bg GROUP BY 1, 2, 3),
        c1 AS (SELECT lang, w1, CAST(sum(c2) AS BIGINT) AS c1 FROM c2 GROUP BY 1, 2),
        v AS (SELECT lang, count(DISTINCT w) AS vocab
              FROM (SELECT lang, unnest(ws) AS w FROM tf) GROUP BY 1),
        nll AS (SELECT c2.lang, c2.w1, c2.w2,
                       CAST(round(-ln(CAST(c2.c2 + 1 AS DOUBLE) /
                                      CAST(c1.c1 + v.vocab AS DOUBLE))
                                  * CAST(1000000 AS DOUBLE)) AS BIGINT) AS nll_um
                FROM c2 JOIN c1 ON c2.lang = c1.lang AND c2.w1 = c1.w1
                        JOIN v ON v.lang = c2.lang),
        pd AS (SELECT bg.doc_id, bg.lang,
                      CAST(sum(n.nll_um) // count(*) AS BIGINT) AS avg_nll_um
               FROM bg JOIN nll n
                 ON bg.lang = n.lang AND bg.w1 = n.w1 AND bg.w2 = n.w2
               GROUP BY 1, 2),
        rk AS (SELECT lang, avg_nll_um,
                      row_number() OVER (PARTITION BY lang
                        ORDER BY avg_nll_um, doc_id) AS rn,
                      count(*) OVER (PARTITION BY lang) AS nd
               FROM pd)
        SELECT lang, CAST((rn - 1) * 3 // nd AS INT) AS bucket,
               count(*) AS n_docs,
               CAST(min(avg_nll_um) AS BIGINT) AS min_nll_um,
               CAST(max(avg_nll_um) AS BIGINT) AS max_nll_um
        FROM rk GROUP BY 1, 2 ORDER BY lang, bucket
      """)),

    // ---- quality ↔ perplexity rank agreement (curation diagnostic) ------
    // Do the two scorer families agree? Spearman ρ between the heuristic
    // quality_score and the add-one-LM avg NLL, PER LANGUAGE — the
    // neardup_signal_agreement idea applied to the scoring shelf. A
    // strongly negative ρ (higher quality ↔ lower NLL) means either
    // scorer can gate; ρ ≈ 0 means they see different things and the
    // pipeline should keep both. Machinery is the spearman_corr_types
    // discipline verbatim: doubled mid-ranks (2·rank + ties − 1, integer
    // forever), Pearson on ranks via integer sums, one sqrt at the end,
    // ppm-quantized, zero-variance guard. Windows are lang-partitioned;
    // the LM is the global add-one bigram model of lm_perplexity_score
    // (scores identical to that query's by construction).
    Reg("quality_nll_agreement",
      (s, dir) => {
        val t = TextOps.tokens(col("text"))
        val stopArr = array(stopwords.map(lit): _*)
        val q = Tables(s, dir).documents.select(
          col("doc_id"), col("lang"),
          round(size(array_distinct(t)).cast("double") / size(t), 4).as("ttr"),
          round(size(array_intersect(array_distinct(t), stopArr)).cast("double")
            / size(array_distinct(t)), 4).as("stop_ratio"))
          .withColumn("q_x1e4", round(
            round(col("ttr") * 0.4 + (lit(1.0) - col("stop_ratio")) * 0.6, 4)
              * 10000).cast("long"))
          .select(col("doc_id"), col("lang"), col("q_x1e4"))
        val bi = Tables(s, dir).documents
          .select(col("doc_id"), TextOps.tokens(col("text")).as("t"))
          .filter(size(col("t")) >= 2)
          .select(col("doc_id"), explode(expr(
            "transform(sequence(1, size(t) - 1)," +
              " i -> struct(element_at(t, i) AS w1, element_at(t, i + 1) AS w2))"))
            .as("b"))
          .select(col("doc_id"), col("b.w1").as("w1"), col("b.w2").as("w2"))
        val c2 = bi.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c2"))
        val c1 = c2.groupBy(col("w1")).agg(sum(col("c2")).as("c1"))
        val v = Tables(s, dir).documents
          .select(explode(TextOps.tokens(col("text"))).as("w"))
          .agg(countDistinct(col("w")).as("vocab"))
        val nllTab = c2.join(c1, "w1").crossJoin(broadcast(v))
          .withColumn("nll_um", expr(
            "CAST(round(-ln(CAST(c2 + 1 AS DOUBLE) / CAST(c1 + vocab AS DOUBLE))" +
              " * CAST(1000000 AS DOUBLE)) AS BIGINT)"))
          .select(col("w1"), col("w2"), col("nll_um"))
        val y = bi.join(nllTab, Seq("w1", "w2"))
          .groupBy(col("doc_id"))
          .agg(expr("sum(nll_um) div count(*)").as("avg_nll_um"))
        val j = q.join(y, "doc_id")
        val wl = Window.partitionBy(col("lang"))
        val ranked = j
          .withColumn("x", lit(2L) * rank().over(
              wl.orderBy(col("q_x1e4"))).cast("long")
            + count(lit(1)).over(Window.partitionBy(col("lang"), col("q_x1e4"))) - 1L)
          .withColumn("y", lit(2L) * rank().over(
              wl.orderBy(col("avg_nll_um"))).cast("long")
            + count(lit(1)).over(Window.partitionBy(col("lang"), col("avg_nll_um"))) - 1L)
        ranked.groupBy(col("lang"))
          .agg(count(lit(1)).as("n_docs"), sum(col("x")).as("sx"),
            sum(col("y")).as("sy"), sum(col("x") * col("y")).as("sxy"),
            sum(col("x") * col("x")).as("sxx"),
            sum(col("y") * col("y")).as("syy"))
          .select(col("lang"), col("n_docs"),
            expr("""CASE WHEN n_docs * sxx - sx * sx > 0 AND n_docs * syy - sy * sy > 0
                    THEN CAST(round(CAST(n_docs * sxy - sx * sy AS DOUBLE)
                      / sqrt(CAST(n_docs * sxx - sx * sx AS DOUBLE)
                             * CAST(n_docs * syy - sy * sy AS DOUBLE))
                      * CAST(1000000 AS DOUBLE)) AS BIGINT)
                    ELSE CAST(0 AS BIGINT) END""").as("rho_um"))
          .orderBy("lang")
      },
      Some(s"""
        WITH t AS (SELECT doc_id, lang, string_split(trim(text), ' ') AS ws FROM documents),
        q AS (SELECT doc_id, lang,
                     CAST(round(round(
                       round(CAST(len(list_distinct(ws)) AS DOUBLE) / len(ws), 4) * 0.4
                       + (1.0 - round(CAST(len(list_intersect(list_distinct(ws),
                           ${stopwords.map(w => s"'$w'").mkString("[", ", ", "]")})) AS DOUBLE)
                           / len(list_distinct(ws)), 4)) * 0.6, 4) * 10000) AS BIGINT) AS q_x1e4
              FROM t),
        tf AS (SELECT doc_id, ws FROM t WHERE len(ws) >= 2),
        bi AS (SELECT doc_id, unnest(list_transform(range(1, len(ws)),
                        i -> struct_pack(w1 := ws[i], w2 := ws[i + 1]))) AS b
               FROM tf),
        bg AS (SELECT doc_id, b.w1 AS w1, b.w2 AS w2 FROM bi),
        c2 AS (SELECT w1, w2, count(*) AS c2 FROM bg GROUP BY 1, 2),
        c1 AS (SELECT w1, CAST(sum(c2) AS BIGINT) AS c1 FROM c2 GROUP BY 1),
        v AS (SELECT count(DISTINCT w) AS vocab FROM (
                SELECT unnest(string_split(trim(text), ' ')) AS w FROM documents)),
        nll AS (SELECT c2.w1, c2.w2,
                       CAST(round(-ln(CAST(c2.c2 + 1 AS DOUBLE) /
                                      CAST(c1.c1 + v.vocab AS DOUBLE))
                                  * CAST(1000000 AS DOUBLE)) AS BIGINT) AS nll_um
                FROM c2 JOIN c1 USING (w1), v),
        y AS (SELECT bg.doc_id,
                     CAST(sum(n.nll_um) // count(*) AS BIGINT) AS avg_nll_um
              FROM bg JOIN nll n ON bg.w1 = n.w1 AND bg.w2 = n.w2
              GROUP BY 1),
        j AS (SELECT q.lang, q.q_x1e4, y.avg_nll_um
              FROM q JOIN y ON q.doc_id = y.doc_id),
        rk AS (SELECT lang,
                      2 * CAST(rank() OVER (PARTITION BY lang ORDER BY q_x1e4) AS BIGINT)
                        + count(*) OVER (PARTITION BY lang, q_x1e4) - 1 AS x,
                      2 * CAST(rank() OVER (PARTITION BY lang ORDER BY avg_nll_um) AS BIGINT)
                        + count(*) OVER (PARTITION BY lang, avg_nll_um) - 1 AS y
               FROM j),
        st AS (SELECT lang, count(*) AS n_docs,
                      CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
                      CAST(sum(x * y) AS BIGINT) AS sxy,
                      CAST(sum(x * x) AS BIGINT) AS sxx,
                      CAST(sum(y * y) AS BIGINT) AS syy
               FROM rk GROUP BY 1)
        SELECT lang, n_docs,
               CASE WHEN n_docs * sxx - sx * sx > 0 AND n_docs * syy - sy * sy > 0
                    THEN CAST(round(CAST(n_docs * sxy - sx * sy AS DOUBLE)
                      / sqrt(CAST(n_docs * sxx - sx * sx AS DOUBLE)
                             * CAST(n_docs * syy - sy * sy AS DOUBLE))
                      * CAST(1000000 AS DOUBLE)) AS BIGINT)
                    ELSE CAST(0 AS BIGINT) END AS rho_um
        FROM st ORDER BY lang
      """)),

    // ---- Gopher filter funnel: quality → repetition → exact dedup -------
    // The end-to-end curation pipeline the two named gates feed (the
    // curation_funnel shape on the Gopher rules): per-stage survivor
    // counts — corpus → quality-gate pass → +repetition-gate pass →
    // distinct texts among survivors. One row; each stage reuses the
    // shared signal builders, so funnel and gates can never drift. The
    // single-row aggregates cross-join (4 broadcast one-row relations) —
    // the curation_funnel scale shape: counting is map-side-combinable,
    // the joins move 4 rows.
    Reg("gopher_filter_funnel",
      (s, dir) => {
        val docs = Tables(s, dir).documents
        val q = gopherQualityShared(s, dir)
          .filter(col("n_tokens") >= 50 && col("mean_word_len") >= 3.0 &&
            col("mean_word_len") <= 10.0 && col("n_stop") >= 2)
          .select(col("doc_id"))
        val b = gopherRepetitionShared(s, dir)
          .filter(col("top2_ppm") < 200000L && col("top3_ppm") < 180000L &&
            col("dup5_ppm") < 150000L)
          .join(q, Seq("doc_id"), "left_semi")
          .select(col("doc_id"))
        val n0 = docs.agg(count(lit(1)).as("n_total"))
        val n1 = q.agg(count(lit(1)).as("n_quality"))
        val n2 = b.agg(count(lit(1)).as("n_repetition"))
        val n3 = docs.join(b, Seq("doc_id"), "left_semi")
          .agg(countDistinct(md5(lower(trim(col("text")))))
            .as("n_unique_texts"))
        n0.crossJoin(n1).crossJoin(n2).crossJoin(n3)
      },
      Some(s"""
        WITH t AS (SELECT doc_id, string_split(trim(text), ' ') AS ws FROM documents),
        f AS (SELECT doc_id, len(ws) AS n_tokens,
                     round(CAST(list_sum(list_transform(ws, x -> length(x))) AS DOUBLE)
                           / len(ws), 4) AS mean_word_len,
                     len(list_intersect(list_distinct(ws),
                       ${stopwords.map(w => s"'$w'").mkString("[", ", ", "]")})) AS n_stop
              FROM t),
        d AS (SELECT doc_id, length(text) AS tlen,
                     string_split(trim(text), ' ') AS ws FROM documents),
        g2 AS (SELECT doc_id, tlen, ws[i] || ' ' || ws[i+1] AS g
               FROM d, unnest(generate_series(1, len(ws) - 1)) AS u(i)
               WHERE len(ws) >= 2),
        c2 AS (SELECT doc_id, tlen, g, count(*) AS cnt FROM g2 GROUP BY 1, 2, 3),
        t2 AS (SELECT doc_id,
                      CAST(round(CAST(cnt * length(g) AS DOUBLE) / CAST(tlen AS DOUBLE)
                        * CAST(1000000 AS DOUBLE)) AS BIGINT) AS top2_ppm,
                      row_number() OVER (PARTITION BY doc_id ORDER BY cnt DESC, g) AS rk
               FROM c2),
        g3 AS (SELECT doc_id, tlen, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS g
               FROM d, unnest(generate_series(1, len(ws) - 2)) AS u(i)
               WHERE len(ws) >= 3),
        c3 AS (SELECT doc_id, tlen, g, count(*) AS cnt FROM g3 GROUP BY 1, 2, 3),
        t3 AS (SELECT doc_id,
                      CAST(round(CAST(cnt * length(g) AS DOUBLE) / CAST(tlen AS DOUBLE)
                        * CAST(1000000 AS DOUBLE)) AS BIGINT) AS top3_ppm,
                      row_number() OVER (PARTITION BY doc_id ORDER BY cnt DESC, g) AS rk
               FROM c3),
        g5 AS (SELECT doc_id, tlen,
                      ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3]
                        || ' ' || ws[i+4] AS g
               FROM d, unnest(generate_series(1, len(ws) - 4)) AS u(i)
               WHERE len(ws) >= 5),
        c5 AS (SELECT doc_id, tlen, g, count(*) AS cnt FROM g5 GROUP BY 1, 2, 3),
        d5 AS (SELECT doc_id,
                      CAST(round(CAST(sum(cnt * length(g)) AS DOUBLE)
                        / CAST(tlen AS DOUBLE)
                        * CAST(1000000 AS DOUBLE)) AS BIGINT) AS dup5_ppm
               FROM c5 WHERE cnt > 1 GROUP BY doc_id, tlen),
        rep AS (SELECT d.doc_id,
                       coalesce(t2.top2_ppm, 0) AS top2_ppm,
                       coalesce(t3.top3_ppm, 0) AS top3_ppm,
                       coalesce(d5.dup5_ppm, 0) AS dup5_ppm
                FROM d LEFT JOIN t2 ON d.doc_id = t2.doc_id AND t2.rk = 1
                       LEFT JOIN t3 ON d.doc_id = t3.doc_id AND t3.rk = 1
                       LEFT JOIN d5 ON d.doc_id = d5.doc_id),
        q AS (SELECT doc_id FROM f
              WHERE n_tokens >= 50 AND mean_word_len >= 3.0
                AND mean_word_len <= 10.0 AND n_stop >= 2),
        b AS (SELECT rep.doc_id FROM rep JOIN q USING (doc_id)
              WHERE rep.top2_ppm < 200000 AND rep.top3_ppm < 180000
                AND rep.dup5_ppm < 150000),
        n0 AS (SELECT count(*) AS n_total FROM documents),
        n1 AS (SELECT count(*) AS n_quality FROM q),
        n2 AS (SELECT count(*) AS n_repetition FROM b),
        n3 AS (SELECT count(DISTINCT md5(lower(trim(text)))) AS n_unique_texts
               FROM documents JOIN b USING (doc_id))
        SELECT n_total, n_quality, n_repetition, n_unique_texts
        FROM n0, n1, n2, n3
      """))
  )
}
