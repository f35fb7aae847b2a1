package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** One observed scale point (VERDICT r6 ask #6): build a deterministic
  * ~10× copy-union of the sf0.1 events/documents/embeddings fixtures and
  * time the headline queries at 1× and 10×, so the sub-linear-vs-
  * quadratic design claims become recorded numbers (BASELINE.md).
  *
  * The 10× model is "ten independent shards of similar data" — the honest
  * scale-up for a corpus engine, keeping per-shard structure identical
  * while decade-ing the row count:
  *  - events: ts shifted +31 days per copy (extends the time range, so
  *    time-bucketed operators see 10× buckets, not 10× rows per bucket),
  *    ids offset per copy;
  *  - documents: every token suffixed `_k` in copy k>0 — shingle sets
  *    are disjoint across copies, so the near-dup pair structure is ten
  *    copies of the original, never a cross-copy quadratic blowup (which
  *    would be a data-distribution change, not a scale-up);
  *  - embeddings: copy k>0 sign-flipped per dimension by an md5-derived
  *    ±1 vector (norm-preserving), so copies bucket independently.
  *
  * For the fixed-knob LSH query the demo times BOTH planes=4 (bucket
  * count constant → occupancy ×10 → in-bucket join cost ×100: the
  * documented failure mode) and planes=8 (the production sizing rule,
  * occupancy held ≈constant → ≈linear): the knob IS the scale story.
  */
object ScaleDemo {
  /** The scale demos' local session: `SPARK_GRAFT_CPUS` cores (default
    * 32) and as many shuffle partitions, UTC, spill under /dev/shm;
    * `conf` adds per-demo settings. */
  private[graft] def session(conf: (String, String)*): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val b = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", "/dev/shm/graft-spark")
    conf.foreach { case (k, v) => b.config(k, v) }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Runs `f` `reps` times and prints rep 1's wall time, the median wall
    * time of reps 2..`reps` (omitted when `reps` is 1) and rep 1's row
    * count. Rep 1 pays the session's one-time builds, so it is reported
    * apart rather than folded into the median. */
  private[graft] def time(tag: String, reps: Int = 3)(f: => Long): Unit = {
    val runs = (1 to reps).map { _ =>
      val t0 = System.nanoTime(); val n = f
      ((System.nanoTime() - t0) / 1e9, n)
    }
    val warm = runs.tail.map(_._1).sorted
    val warmCol = if (warm.isEmpty) "" else {
      val mid = (warm((warm.size - 1) / 2) + warm(warm.size / 2)) / 2
      f"   warm $mid%8.2f s"
    }
    println(f"[scale] $tag%-44s rep1 ${runs.head._1}%8.2f s$warmCol   rows=${runs.head._2}")
  }

  private[graft] def md5Bit(s: String): Boolean = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(s.getBytes("UTF-8")).map(b => f"$b%02x").mkString
    (java.lang.Long.parseLong(hex.substring(0, 15), 16) & 1L) == 1L
  }

  /** Core (events/documents/embeddings) shard-union fixture at `copies`×.
    * Same shard model at every decade (scaladoc above); parameterized so
    * the 100× decade (ScaleDemo100, VERDICT r10 #3) reuses it verbatim. */
  def buildCore(spark: SparkSession, base: String, out: String,
                copies: Int): Unit = {
    val outPath = java.nio.file.Paths.get(out)
    // gate on ALL outputs of this block (same ADVICE-r8 fix as the star
    // shards below): an interrupted run must be repaired by the next one
    if (Seq("events.parquet", "documents.parquet", "embeddings.parquet")
          .exists(p => !java.nio.file.Files.exists(outPath.resolve(p)))) {
      val t = Tables(spark, base)
      val off = 100000000L
      // ts goes back out as INT64 nanos — Tables.events applies the
      // nanos→µs conversion on read, so the 10× dir must match the
      // fixture's physical schema
      val ev = (0 until copies).map { k =>
        t.events.select(
          (col("event_id") + k * off).as("event_id"),
          (unix_micros(col("ts") + expr(s"INTERVAL ${k * 31} DAYS")) * 1000L).as("ts"),
          (col("user_id") + k * off).as("user_id"),
          col("event_type"), col("value"), col("props"))
      }.reduce(_ unionByName _)
      ev.write.mode("overwrite").parquet(s"$out/events.parquet")
      val docs = (0 until copies).map { k =>
        val txt = if (k == 0) col("text")
          else regexp_replace(col("text"), "(\\S+)", s"$$1_$k")
        t.documents.select(
          (col("doc_id") + k * off).as("doc_id"), txt.as("text"),
          col("source"), col("lang"), col("n_chars"))
      }.reduce(_ unionByName _)
      docs.write.mode("overwrite").parquet(s"$out/documents.parquet")
      val emb = (0 until copies).map { k =>
        val e2 = if (k == 0) col("embedding") else {
          val signs = array((0 until 64).map(i =>
            lit(if (md5Bit(s"scale${k}_$i")) 1.0f else -1.0f)): _*)
          zip_with(col("embedding"), signs, (x, s) => x * s)
        }
        t.embeddings.select((col("vec_id") + k * off).as("vec_id"),
          e2.as("embedding"), col("label"))
      }.reduce(_ unionByName _)
      emb.write.mode("overwrite").parquet(s"$out/embeddings.parquet")
      println(s"[scale] fixture built at $out ($copies×)")
    }
  }

  /** Star-schema (lineitem/orders/part/customer) shards at `copies`×.
    * Keys offset per copy → DISJOINT subgraphs (the shard model again:
    * per-shard structure identical, row count decade-ed). Part-name
    * tokens get a copy suffix — deliberately NOT edit-disjoint
    * ("red3"/"red4" are distance 1), so editdist runs also exercise
    * cross-copy candidate generation; the pair count grows ~linearly in
    * copies (bounded per base token), never quadratically. */
  def buildStar(spark: SparkSession, base: String, out: String,
                copies: Int): Unit = {
    val outPath = java.nio.file.Paths.get(out)
    // gate on ALL of the shard's outputs, not just the first: an
    // interrupted run that wrote lineitem but not orders/part would
    // otherwise leave a permanently half-built fixture that later runs
    // never repair (ADVICE r8); overwrite mode makes the re-run safe
    if (Seq("lineitem.parquet", "orders.parquet", "part.parquet",
            "customer.parquet")
          .exists(p => !java.nio.file.Files.exists(outPath.resolve(p)))) {
      val t = Tables(spark, base)
      val off = 100000000L
      (0 until copies).map { k =>
        t.lineitem.select(
          (col("l_orderkey") + k * off).as("l_orderkey"),
          (col("l_partkey") + k * off).as("l_partkey"),
          (col("l_suppkey") + k * off).as("l_suppkey"),
          col("l_linenumber"), col("l_quantity"), col("l_extendedprice"),
          col("l_discount"), col("l_tax"), col("l_returnflag"),
          col("l_linestatus"), col("l_shipdate"))
      }.reduce(_ unionByName _)
        .write.mode("overwrite").parquet(s"$out/lineitem.parquet")
      (0 until copies).map { k =>
        t.orders.select(
          (col("o_orderkey") + k * off).as("o_orderkey"),
          (col("o_custkey") + k * off).as("o_custkey"),
          col("o_orderstatus"), col("o_totalprice"), col("o_orderdate"),
          col("o_orderpriority"))
      }.reduce(_ unionByName _)
        .write.mode("overwrite").parquet(s"$out/orders.parquet")
      (0 until copies).map { k =>
        val nm = if (k == 0) col("p_name")
          else regexp_replace(col("p_name"), "(\\S+)", s"$$1$k")
        t.part.select((col("p_partkey") + k * off).as("p_partkey"),
          nm.as("p_name"), col("p_brand"), col("p_type"), col("p_size"),
          col("p_retailprice"))
      }.reduce(_ unionByName _)
        .write.mode("overwrite").parquet(s"$out/part.parquet")
      (0 until copies).map { k =>
        t.customer.select((col("c_custkey") + k * off).as("c_custkey"),
          col("c_name"), col("c_nationkey"), col("c_acctbal"),
          col("c_mktsegment"))
      }.reduce(_ unionByName _)
        .write.mode("overwrite").parquet(s"$out/customer.parquet")
      println(s"[scale] star shards built at $out ($copies×)")
    }
  }

  def main(args: Array[String]): Unit = {
    val base = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val out = if (args.length > 1) args(1) else "/dev/shm/graft-scale10x"
    val spark = session()
    buildCore(spark, base, out, 10)
    buildStar(spark, base, out, 10)

    val headline = Seq("candles_1h", "asof_bucketed_global_click",
      "neardup_minhash_lsh", "ann_lsh_topk", "decontamination_bloom")
    for (dir <- Seq(base, out); q <- headline)
      time(s"$q @ ${if (dir == base) "1x" else "10x"}")(
        SparkEntry.queries(q)(spark, dir).count())
    // the LSH sizing knob at 10×: planes scaled 4 → 8 holds per-bucket
    // occupancy ≈ constant (buckets 16 → 256 for 10× rows)
    for ((dir, tag) <- Seq((base, "1x"), (out, "10x")))
      time(s"annLshTopK planes=8 @ $tag")(
        graft.vec.VecOps.annLshTopK(Tables(spark, dir).embeddings,
          planes = 8, k = 3).count())
    // round-8 operators: graph (pagerank — 10 disjoint subgraphs, joins
    // linear), banded editdist (disjoint neighborhoods, linear), and the
    // Matryoshka prefix-LSH with the same fixed-vs-scaled-planes story
    for ((dir, tag) <- Seq((base, "1x"), (out, "10x"));
         q <- Seq("pagerank_3iter", "editdist1_pairs", "cms_heavy_hitters"))
      time(s"$q @ $tag")(SparkEntry.queries(q)(spark, dir).count())
    for ((dir, tag) <- Seq((base, "1x"), (out, "10x")))
      time(s"matryoshka planes=4 @ $tag")(
        graft.vec.VecOps.matryoshkaTopK(Tables(spark, dir).embeddings,
          planes = 4, mDims = 16, shortlist = 8, k = 3).count())
    time("matryoshka planes=7 @ 10x")(
      graft.vec.VecOps.matryoshkaTopK(Tables(spark, out).embeddings,
        planes = 7, mDims = 16, shortlist = 8, k = 3).count())
    // round-9: the two de-weakened dedup operators (VERDICT r8). The df
    // CEILING bounds jaccard's self-join fan-out at C² per (block, gram);
    // semdedup's k now scales with the corpus (k = ceil(n/128): 16 @ 1x,
    // 157 @ 10x here), holding E[cell] ≈ constant so the within-cluster
    // pair join stays linear (the retired fixed-k=16 row's readings stay
    // in BASELINE.md).
    for ((dir, tag) <- Seq((base, "1x"), (out, "10x"));
         q <- Seq("jaccard_bigram_pairs", "semdedup_keep"))
      time(s"$q @ $tag")(SparkEntry.queries(q)(spark, dir).count())
    // round-9 operators: the distributed two-level prefix sum under
    // seq_packing (level 1 parallel per block, level 2 one row per
    // block), synchronous LPA (same linear-per-iteration join shape as
    // pagerank), and the bounded-state streaming CEP automaton (state
    // is ~40 bytes × live keys however long the event history grows —
    // the contrast is the batch CEP's per-user history string, which
    // grows with events-per-user and is also timed here).
    for ((dir, tag) <- Seq((base, "1x"), (out, "10x"));
         q <- Seq("seq_packing", "label_prop_3iter",
           "streaming_event_seq_cep", "event_seq_regex"))
      time(s"$q @ $tag")(SparkEntry.queries(q)(spark, dir).count())
    // round-9 close: prefix-filtered exact Jaccard (the 10× corpus also
    // 10×es the VOCABULARY — per-copy word suffixes make the copies'
    // shingle spaces disjoint, so prefix candidates never cross copies
    // and the join scales linearly; this is the Zipf-realistic regime
    // the 1× fixture's 31-word vocabulary denies, which is exactly why
    // the graded query bounds its input with the md5 half-sample), the
    // hour-banded interval overlap join (bucket fan-out ∝ rows), and
    // weighted Bellman-Ford (3 linear relaxations; 10 disjoint
    // subgraphs at 10×).
    for ((dir, tag) <- Seq((base, "1x"), (out, "10x"));
         q <- Seq("jaccard_prefix_join", "interval_overlap_join",
           "bellman_ford_3"))
      time(s"$q @ $tag")(SparkEntry.queries(q)(spark, dir).count())
    // round-9 continuation: k-core peeling and item-item CF share the
    // basket-keyed co-purchase self-join (Σ basket², linear in baskets;
    // 10 disjoint subgraphs at 10× — and kcore's DATA-DERIVED k holds
    // automatically under sharding because disjoint copies preserve the
    // degree distribution, the property a hardcoded k would not have);
    // BPE training cost is one explode+agg per iteration over the WORD
    // DICT, which the suffixed copies grow ~10× — the vocab-not-corpus
    // scaling the operator's 100 TB story rests on; the streaming
    // skyline's state stays frontier-sized however the corpus grows.
    for ((dir, tag) <- Seq((base, "1x"), (out, "10x"));
         q <- Seq("kcore_3", "copurchase_cosine", "bpe_learn_merges",
           "streaming_pareto_frontier"))
      time(s"$q @ $tag")(SparkEntry.queries(q)(spark, dir).count())
    // round-10 operators: BM25 (one token agg + broadcast df sides — the
    // suffixed copies 10× the vocabulary, so the corpus stats decade
    // while the query-term postings stay copy-0-sized); bigram-LM
    // perplexity (count tables grow with VOCAB², not corpus² — the
    // suffixed copies are the worst case, 100× the bigram table, which
    // is exactly why the count join is NOT hint-broadcast); t-digest
    // (per-type rank window: the honest cost is the per-partition sort,
    // linear per type — the 100 TB form builds per-partition digests and
    // tree-merges, the contract TDigestSpec proves); A-ES sampling
    // (map + top-k, the cheapest possible scale shape).
    for ((dir, tag) <- Seq((base, "1x"), (out, "10x"));
         q <- Seq("bm25_topk_docs", "lm_perplexity_score",
           "tdigest_clusters", "weighted_sample_aes"))
      time(s"$q @ $tag")(SparkEntry.queries(q)(spark, dir).count())
    // round-10 close: hybrid retrieval (bounded-candidate RRF — both
    // arms truncate to top-50 BEFORE fusion, so the fuse is flat by
    // construction and only the arm scans scale), Viterbi segmentation
    // (DP over the WORD DICT — the 10× suffix-grown vocab is the only
    // growth, the BPE vocab-not-corpus shape), feature hashing (pure
    // map + doc agg, the fixed-dim vectorizer), Mann-Whitney (the
    // window walks DISTINCT cents values per pair — a bounded domain
    // that grows with value cardinality, not row count).
    for ((dir, tag) <- Seq((base, "1x"), (out, "10x"));
         q <- Seq("hybrid_bm25_vec_rrf", "unigram_viterbi_segment",
           "feature_hashing_vec", "mann_whitney_u"))
      time(s"$q @ $tag")(SparkEntry.queries(q)(spark, dir).count())
    // round-10 continuation: survival analysis (two linear per-user aggs
    // + a ≤ 49-row risk table — the window cost is DOMAIN-bounded, so
    // 10× users only scale the aggs); KS (distinct-CENTS window: the
    // value domain doesn't grow with the corpus, so the window is flat
    // while the grain agg scales linearly — the mann_whitney shape);
    // HITS (brand side is the SAME 25 values across shards → the
    // authority relation stays 25 rows broadcast while the customer-
    // keyed edge shuffle decades); silhouette (shares the corpus-scaled
    // Lloyd build with semdedup — k ∝ n keeps cells constant-sized, and
    // the O(n·k) flat assignment is the documented IVF escalation
    // point); seasonal decomposition + burstiness + sequence support
    // (calendar-/vocab-/type-domain-bounded windows over linear aggs).
    for ((dir, tag) <- Seq((base, "1x"), (out, "10x"));
         q <- Seq("kaplan_meier_conversion", "ks_two_sample",
           "hits_hubs_authorities", "silhouette_simplified",
           "seasonal_decompose_hourly", "word_burstiness",
           "seq_pattern_support", "forecast_hw_mae", "psi_value_drift"))
      time(s"$q @ $tag")(SparkEntry.queries(q)(spark, dir).count())
    // round-11 operators: the correlation trio's new members (day-grain
    // aggs linear; spearman's rank windows walk the calendar spine; the
    // kendall row OBSERVES the documented O(d²)-in-DAYS cost — the
    // +31-days-per-copy shard model grows the calendar ~11×, so day
    // pairs grow ~128×; Knight's O(d log d) inversion form is the
    // scaladoc'd escalation); KN perplexity (count tables grow with the
    // suffix-grown vocab — the lm_perplexity worst-case shape, which is
    // why the model join is NOT hint-broadcast); weighted Jaccard (the
    // jaccard blocked machinery on unigrams — disjoint per-copy vocab
    // keeps pairs within copies, linear); Adamic-Adar (10 disjoint
    // subgraphs; middle fan-out bounded at deg² ≤ 64² per z).
    for ((dir, tag) <- Seq((base, "1x"), (out, "10x"));
         q <- Seq("spearman_corr_types", "kendall_tau_types",
           "kn_perplexity_score", "weighted_jaccard_pairs",
           "adamic_adar_links", "heavy_hitters_mg_verified",
           "local_clustering_coeff", "degree_assortativity",
           "good_turing_counts"))
      time(s"$q @ $tag")(SparkEntry.queries(q)(spark, dir).count())
    spark.stop()
  }
}

/** Second scale decade (VERDICT r10 #3): the headline dedup / ANN / graph
  * scale claims observed at 1× / 10× / 100× IN ONE RUN (same host phase,
  * so the decade ratios are same-run comparable — the 10×-only rows in
  * BASELINE.md established the claims; two observed decades make
  * "flat-to-linear" robust). Same shard-union model as ScaleDemo, 100
  * copies (~1.7 GB under /dev/shm).
  *
  * Contrast rows replay the FIXED-KNOB defects at 100×, where the
  * quadratic is two decades loud instead of one (single rep — the point
  * is the blowup's magnitude, not a tight median):
  *  - LSH planes pinned at 4 while the corpus 100×es (bucket count
  *    constant → occupancy ×100 → in-bucket join ×10⁴);
  *  - phash Hamming chunks pinned at 8 bits (256 buckets per chunk
  *    position can't absorb a 100× corpus — the production escalation is
  *    wider chunks on a wider fingerprint, here demoed as 2×16-bit
  *    chunks at hd ≤ 1 on the same 32-bit hash: bucket count ×256).
  * The retired flat-IVF, flat-Lloyd and fixed-k SemDeDup contrast rows'
  * readings stay in BASELINE.md.
  */
object ScaleDemo100 {
  import ScaleDemo.{session, time}

  def main(args: Array[String]): Unit = {
    val base = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val out10 = if (args.length > 1) args(1) else "/dev/shm/graft-scale10x"
    val out100 = if (args.length > 2) args(2) else "/dev/shm/graft-scale100x"
    val spark = session()

    val decades = Seq((base, "1x"), (out10, "10x"), (out100, "100x"))
    // resume support: skip already-recorded rows after a partial run
    // (comma-separated "query@tag" pairs) — decade ratios only need each
    // QUERY's readings to come from one run, not the whole table
    val skipSet: Set[String] = sys.env.get("SPARK_GRAFT_SCALE_SKIP")
      .map(_.split(",").toSet).getOrElse(Set.empty)
    // round 17: positive filter for targeted row runs (the skip list
    // would need ~60 entries to isolate one new row) — comma-separated
    // entries to run, each a full "query@tag" key or a bare query name
    // (all of that query's rows); unset = run everything not skipped
    val onlyRows: Option[Set[String]] = sys.env.get("SPARK_GRAFT_SCALE_ONLY")
      .map(_.split(",").toSet)
    // every row key ends in its decade's tag; a decade's fixtures are
    // built the first time a row that runs needs them
    val fixtures = Map("10x" -> (out10, 10), "100x" -> (out100, 100))
    val built = scala.collection.mutable.Set[String]()
    def skip(key: String): Boolean = {
      val skipped = skipSet(key) || onlyRows.exists(o =>
        !o.exists(p => key == p || key.startsWith(p + "@")))
      val tag = key.drop(key.lastIndexOf('@') + 1)
      if (!skipped && built.add(tag))
        fixtures.get(tag).foreach { case (out, copies) =>
          ScaleDemo.buildCore(spark, base, out, copies)
          ScaleDemo.buildStar(spark, base, out, copies)
        }
      skipped
    }

    // the scaled-knob production rows: every decade, knobs ∝ corpus.
    // mm_phash_neardup_pairs deliberately stops at 10×: its 4×8-bit
    // chunks are the FIXED-KNOB setting, and at 100× (500 k docs into
    // 256 buckets/chunk) the in-bucket pair expansion materializes
    // multi-million-struct array values — observed to GC-wedge the
    // driver into RPC-timeout death, the loudest possible form of the
    // documented defect. Its 100× readings are the scaled-chunk
    // production row below + the single-rep defect replay at the END
    // (so a crash cannot take the other rows with it).
    for ((dir, tag) <- decades;
         q <- Seq("kcore_3", "jaccard_bigram_pairs", "semdedup_keep",
           "hits_hubs_authorities", "pagerank_3iter",
           "mm_frame_dup_stats", "mm_crossmodal_funnel",
           // round-11 second session: the new dedup rung (blocked + df
           // band-pass, same contract as jaccard) and the new graph rung
           // (deg ≤ 64 middle ceiling) at the second decade
           "weighted_jaccard_pairs", "adamic_adar_links",
           // round-12: the two-level IVF search (hier build + hier
           // routing — the n·√k shape under k ∝ n, measured not claimed)
           "ivf_hier_topk",
           // round-13 second session: the curation shelf's scale-relevant
           // members — gopher_repetition is per-doc gram math (expected
           // flat-linear), dsir is one token pass against a 64-row bucket
           // table, ccnet is lm_perplexity's bigram shape per language
           "gopher_repetition_filter", "dsir_importance_weights",
           "ccnet_perplexity_buckets",
           // round-13 second session, later additions: the funnel
           // (re-runs the repetition machinery per stage) and the
           // cross-scorer Spearman (lm bigram spine + lang windows)
           "gopher_filter_funnel", "quality_nll_agreement")
         if !skip(s"$q@$tag"))
      time(s"$q @ $tag")(SparkEntry.queries(q)(spark, dir).count())
    // round-13 rung, round-16 re-platform (VERDICT r15 #1): the graded
    // ann_ivfpq_topk is the HIERARCHICAL residual search at the wide
    // fprobes = 3 dial — decade rows below measure that production form
    // (the retired fixed-lists flat contrast rows' readings stay in
    // BASELINE.md). Raw pipeline with a fresh routing table per rep —
    // the refine-row discipline: the graded query reads a session-shared
    // relation and the session's routing table, either of which would
    // make reps 2-3 time a cache read.
    for ((dir, tag) <- decades if !skip(s"annIvfpqHierF3@$tag"))
      time(s"ann_ivfpq_topk hier f3 @ $tag")({
        val emb = Tables(spark, dir).embeddings
        graft.vec.VecOps.ivfPqHierTopK(emb,
          graft.vec.VecOps.lloyd2CentroidsShared(emb, dir),
          graft.vec.VecOps.hierRouting(emb,
            graft.vec.VecOps.hierIndexShared(emb, dir), probes = 2, fprobes = 3),
          k = 3).count()
      })
    // round-16: ivf_ann_topk re-platformed the same way (hier search,
    // fprobes = 3) — production decade rows, same raw-pipeline discipline
    for ((dir, tag) <- decades if !skip(s"ivfAnnHierF3@$tag"))
      time(s"ivf_ann_topk hier f3 @ $tag")({
        val emb = Tables(spark, dir).embeddings
        graft.vec.VecOps.ivfHierTopK(emb,
          graft.vec.VecOps.hierRouting(emb,
            graft.vec.VecOps.hierIndexShared(emb, dir), probes = 2, fprobes = 3),
          k = 3).count()
      })
    // round-13: the refine rung with the LSH planes knob scaled ∝ log n
    // (the annLshTopK sizing rule) — the exact re-score is n·shortlist
    // id-keyed dots regardless of decade, so the rung inherits the
    // bucket knob's scaling and adds nothing super-linear of its own
    for (((dir, tag), planes) <- decades.zip(Seq(4, 8, 11))
         if !skip(s"annRefine@$tag"))
      time(s"annRefineTopK planes=$planes @ $tag")(
        graft.vec.VecOps.annRefineTopK(Tables(spark, dir).embeddings,
          planes = planes, shortlist = 10, k = 3).count())
    // round-13: hierarchical IVF-PQ — the lists ∝ n residual rung running
    // THROUGH the decades where the flat coarse assignment refuses (its
    // arithmetic row in BASELINE.md): scaled-k Lloyd table + hier
    // routing + residual PQ, k ∝ n at every decade
    for ((dir, tag) <- decades if !skip(s"annIvfpqHier@$tag"))
      time(s"ivfPqHierTopK scaled-k @ $tag")({
        val emb = Tables(spark, dir).embeddings
        graft.vec.VecOps.ivfPqHierTopK(emb,
          graft.vec.VecOps.lloyd2CentroidsShared(emb, dir),
          graft.vec.VecOps.hierRouting(emb,
            graft.vec.VecOps.hierIndexShared(emb, dir), probes = 2, fprobes = 2),
          k = 3).count()
      })
    for ((dir, tag) <- Seq((base, "1x"), (out10, "10x"))
         if !skip(s"mm_phash_neardup_pairs@$tag"))
      time(s"mm_phash_neardup_pairs @ $tag")(
        SparkEntry.queries("mm_phash_neardup_pairs")(spark, dir).count())
    // LSH with planes scaled ~log₂(rows): 4 → 8 → 11 holds per-bucket
    // occupancy ≈ constant across both decades
    for (((dir, tag), planes) <- decades.zip(Seq(4, 8, 11))
         if !skip(s"annLshTopK@$tag"))
      time(s"annLshTopK planes=$planes @ $tag")(
        graft.vec.VecOps.annLshTopK(Tables(spark, dir).embeddings,
          planes = planes, k = 3).count())
    for (((dir, tag), planes) <- decades.zip(Seq(4, 7, 10))
         if !skip(s"matryoshka@$tag"))
      time(s"matryoshka planes=$planes @ $tag")(
        graft.vec.VecOps.matryoshkaTopK(Tables(spark, dir).embeddings,
          planes = planes, mDims = 16, shortlist = 8, k = 3).count())
    // phash banding with the chunk knob scaled for the last decade:
    // 2×16-bit chunks (65 536 buckets per position, hd ≤ 1 pigeonhole)
    if (!skip("phash2x16@100x"))
      time("phash pairs chunks=2x16 hd<=1 @ 100x")(
      graft.mm.MultiModal.hammingPairs(
        graft.mm.MultiModal.phash32(Tables(spark, out100).documents
          .select(col("doc_id"), encode(col("text"), "UTF-8").as("payload"))),
        chunks = 2, bitsPerChunk = 16, maxHd = 1).count())
    // round-12: the same production row through the COUNT-DRIVEN default
    // knob — autoChunkBits must resolve the proven-safe 2×16 banding at
    // 500 k docs on its own (the policy picking the right setting IS the
    // demo; the caller-pinned row above stays as the reference reading)
    if (!skip("phashAuto@100x"))
      time("phash pairs AUTO hd<=1 @ 100x")(
      graft.mm.MultiModal.hammingPairs(
        graft.mm.MultiModal.phash32(Tables(spark, out100).documents
          .select(col("doc_id"), encode(col("text"), "UTF-8").as("payload"))),
        maxHd = 1).count())

    // round-14: ivf_lloyd2_topk re-platformed onto the hierarchical
    // machinery at coarse probes = 3 (VERDICT r13 #1 — the last flat
    // O(n·k) graded plan retired; the flat form's 100× reading stays in
    // BASELINE.md). Production rows across the decades.
    for ((dir, tag) <- decades if !skip(s"ivfLloyd2Hier@$tag"))
      time(s"ivf_lloyd2_topk hier p=3 @ $tag")(
        SparkEntry.queries("ivf_lloyd2_topk")(spark, dir).count())
    // round-14: the 64-bit fingerprint rung (VERDICT r13 #5) — the
    // "wider fingerprint" escalation autoChunkBits' refusal names, as a
    // measured occupancy row: at 100× (508 k docs) fpBits=64/maxHd=3
    // resolves 4×16-bit chunks (occupancy ≈ 7.8 — the measured-fine
    // regime), where fpBits=32/maxHd=3 is pigeonhole-capped at 4×8 and
    // REFUSES (occupancy ≈ 1 985 > 256, the measured-OOM regime). The
    // refusal itself is asserted as the contrast reading.
    for ((dir, tag) <- decades if !skip(s"phash64@$tag"))
      time(s"mm_phash64_neardup_pairs @ $tag")(
        SparkEntry.queries("mm_phash64_neardup_pairs")(spark, dir).count())
    // round-15: the two-word fingerprint rung at the same decades — the
    // multi-column banding shape (chunks at span starts, two per word).
    // At 100× the policy resolves 4×21-bit chunks (occupancy « 1);
    // the ≥128-byte gate keeps ~85% of docs at every decade.
    for ((dir, tag) <- decades if !skip(s"phash128@$tag"))
      time(s"mm_phash128_neardup_pairs @ $tag")(
        SparkEntry.queries("mm_phash128_neardup_pairs")(spark, dir).count())
    // round-17 (VERDICT r16 #8): decade rows for the two heavy
    // incremental screens — the accumulator change (StreamQueries round
    // 17) keeps the store side of each per-batch band join in memory,
    // so per-batch store-read cost is ∝ batch, not ∝ store; these rows
    // price the whole drain across decades. Stream fixture warmed
    // OUTSIDE the timer and a single timed rep (the streaming_semdedup
    // 1000× protocol lesson: a drain rep must exclude one-time builds
    // the batch twins' medians exclude). The scale protocol runs these
    // with SPARK_GRAFT_DRAIN_PARTS=32 (the graded fixture pin stays 4).
    // streaming_phash stops at 100×: its stream-context banding is the
    // FIXED 4×8 setting (a stream cannot count its corpus upfront), and
    // at 5 M docs the expected bucket occupancy ≈ 19 500 is two decades
    // past MaxAutoOccupancy — the 1000× refusal arithmetic is recorded
    // by the scale1000 row below instead of a wedged driver here.
    for ((dir, tag) <- decades; q <- Seq("streaming_wj_neardup",
           "streaming_phash_neardup") if !skip(s"$q@$tag")) {
      graft.sources.Fixtures.ensureDocStreamFiles(spark, dir, n = 3)
      time(s"$q @ $tag", 1)(SparkEntry.queries(q)(spark, dir).count())
    }

    if (!skip("phash64refusal@100x")) {
      val n = Tables(spark, out100).documents.count()
      val refused =
        try { graft.mm.MultiModal.autoChunkBits(32, 3, n); false }
        catch { case _: IllegalArgumentException => true }
      println(s"[scale] CONTRAST autoChunkBits fpBits=32 maxHd=3 @ 100x " +
        s"(n=$n): ${if (refused) "REFUSED (correct - corpus outgrew " +
          "the 32-bit fingerprint; the 64-bit row above is the " +
          "escalation)" else "UNEXPECTEDLY ACCEPTED"}")
    }

    // round-13: the k-means BUILD itself (VERDICT r12 #1 asked for the
    // build's own decade row, not just its consumer queries): the
    // production two-level build (coarse g-means → local per-cell
    // k-means, n·√k-shaped and balance-preserving). The retired flat
    // per-iteration window build's 100× reading and the in-loop
    // hierAssign alternative's cell-balance readings (max cell 6 541 vs
    // 742 at 100×) stay in BASELINE.md.
    for ((dir, tag) <- decades if !skip(s"lloydBuild2lvl@$tag"))
      time(s"lloyd2 build scaled-k 2LVL @ $tag")(
        graft.vec.VecOps.twoLevelCentroids(Tables(spark, dir).embeddings)
          .count())

    // ---- fixed-knob defect contrast rows at 100× (single rep) ----------
    if (!skip("contrastLsh@100x"))
      time("CONTRAST annLshTopK planes=4 @ 100x", 1)(
      graft.vec.VecOps.annLshTopK(Tables(spark, out100).embeddings,
        planes = 4, k = 3).count())
    // the defect replay LAST, single rep: 4×8-bit chunks at 500 k docs.
    // Expected outcome is a GC-wedged driver or a reading two decades
    // above the scaled-chunk row — either IS the recorded contrast.
    if (!skip("contrastPhash@100x"))
      time("CONTRAST phash chunks=4x8 hd<=3 @ 100x", 1)(
      graft.mm.MultiModal.hammingPairs(
        graft.mm.MultiModal.phash32(Tables(spark, out100).documents
          .select(col("doc_id"), encode(col("text"), "UTF-8").as("payload"))),
        chunks = 4, bitsPerChunk = 8, maxHd = 3).count())
    spark.stop()
  }
}

/** Third scale decade (round 13, VERDICT r12 #5): the two re-platformed
  * queries and the k-means BUILD observed at 1000× (2 M vectors, k =
  * 15 625, √k anchors = 125). Embeddings-only fixture — every 1000× row
  * reads just the vector table — built as 10 append-chunks of 100
  * sign-flip copies (the ScaleDemo shard model verbatim; a single
  * 1000-branch union would stall analysis).
  *
  * The retired FLAT scaled-k build (its 100× reading is in BASELINE.md)
  * is deliberately NOT attempted at 1000×: the window form
  * shuffles all n·k assignment candidates — 2 M × 15 625 ≈ 3.1×10¹⁰
  * rows of ~290 B (vec_id, 64-float embedding, cd, cid) ≈ 9 TB for ONE
  * iteration, two decades past the 100× row's ~90 GB and fatal to a
  * tmpfs-backed local dir. The refusal arithmetic IS the 1000× contrast
  * reading; the hierarchical build's partial-aggregated heap stages
  * shuffle ≤ one row per (partition, vector) regardless of k, which is
  * why its row below exists and completes.
  *
  * PER-ROW JVM ISOLATION (round 14, VERDICT r13 #6): the first 1000×
  * pass was kernel-OOM-killed by localCheckpoint blocks ACCUMULATING
  * across rows in one long-lived JVM (BASELINE.md's protocol note) —
  * checkpointed RDDs unpersist only on JVM exit here, and three
  * 2 M-vector rows' worth of retained blocks plus tmpfs shuffle space
  * exceed physical memory together even though each row alone fits.
  * An optional third arg names the row(s) to run (comma-separated
  * names from `Rows`; an unknown name is an error, so a typo cannot run
  * nothing and exit 0); tools/scaledemo1000.sh drives one sbt JVM per
  * row so every reading starts from a clean heap — the scripted,
  * babysit-free protocol. No arg = the first five rows (the old
  * single-JVM behavior, for small re-checks). */
object ScaleDemo1000 {
  import ScaleDemo.{session, time}

  private val Rows: Seq[String] = Seq("build", "semdedup_keep", "ivf_hier_topk",
    "ivf_hier_refine_topk", "matryoshka", "ann_ivfpq_hier_topk",
    "streaming_semdedup_keep", "streaming_wj_neardup",
    "mm_phash64_neardup_pairs", "mm_phash128_neardup_pairs",
    "streaming_phash_refusal")

  def main(args: Array[String]): Unit = {
    val base = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val out = if (args.length > 1) args(1) else "/dev/shm/graft-scale1000x"
    val rows: Set[String] =
      if (args.length > 2) args(2).split(",").toSet
      else Rows.take(5).toSet
    val unknown = rows.filterNot(Rows.contains)
    require(unknown.isEmpty, s"ScaleDemo1000: unknown row(s) " +
      s"${unknown.mkString(",")}; known rows: ${Rows.mkString(",")}")
    // third-decade protocol: the heap-agg rows (hier family,
    // matryoshka shortlists) want keys-in-memory at 1000x candidate
    // volumes — the measured 2x lever (BASELINE.md round-15). The
    // sf0.1 bench keeps the 128 default: the knob's sign flips for
    // large list buffers (same BASELINE table).
    val spark = session(
      "spark.sql.objectHashAggregate.sortBased.fallbackThreshold" -> "8388608")
    val outPath = java.nio.file.Paths.get(out)
    if (!java.nio.file.Files.exists(outPath.resolve("embeddings.parquet"))) {
      val t = Tables(spark, base)
      val off = 100000000L
      for (c <- 0 until 10) {
        (c * 100 until (c + 1) * 100).map { k =>
          val e2 = if (k == 0) col("embedding") else {
            val signs = array((0 until 64).map(i =>
              lit(if (ScaleDemo.md5Bit(s"scale${k}_$i")) 1.0f else -1.0f)): _*)
            zip_with(col("embedding"), signs, (x, s) => x * s)
          }
          t.embeddings.select((col("vec_id") + k * off).as("vec_id"),
            e2.as("embedding"), col("label"))
        }.reduce(_ unionByName _)
          .write.mode(if (c == 0) "overwrite" else "append")
          .parquet(s"$out/embeddings.parquet")
      }
      println(s"[scale] embeddings built at $out (1000x)")
    }

    // the build alone, uncached (no Shared registry): every rep pays the
    // full two-level build at k ≈ n/128 (g = 125 coarse, k_c ∝ cell mass)
    if (rows("build"))
      time("lloyd2 build scaled-k 2LVL @ 1000x", 2)(
        graft.vec.VecOps.twoLevelCentroids(Tables(spark, out).embeddings)
          .count())
    // the graded consumers (3 reps, session-shared build across reps —
    // the same methodology as the 10×/100× decades; the uncached build
    // cost is the row above)
    for (q <- Seq("semdedup_keep") if rows(q))
      time(s"$q @ 1000x")(SparkEntry.queries(q)(spark, out).count())
    // round 16: ivf_hier_topk's registry entry reads the session-shared
    // top-3 relation now — time the RAW pipeline (the refine-row
    // discipline) with a fresh routing table per rep, so every rep pays
    // the full search
    if (rows("ivf_hier_topk"))
      time("ivf_hier_topk @ 1000x")({
        val emb = Tables(spark, out).embeddings
        graft.vec.VecOps.ivfHierTopK(emb,
          graft.vec.VecOps.hierRouting(emb,
            graft.vec.VecOps.hierIndexShared(emb, out), probes = 2, fprobes = 2),
          k = 3).count()
      })
    // ivf_hier_refine (round 14): the rescore-bounding rung at the
    // decade where the bound matters — full-dot volume per query is 16
    // (shortlist) instead of fprobes·E[cell] ≈ 256, and only 32-dim
    // heads travel to the prescore join. Calls the RAW pipeline, not
    // the registry entry: the graded query reads the session-shared
    // top-3 relation, whose reps 2-3 would time a cache read, not the
    // search (the annRefineTopK-row discipline in ScaleDemo100).
    if (rows("ivf_hier_refine_topk"))
      time("ivf_hier_refine_topk @ 1000x")({
        val emb = Tables(spark, out).embeddings
        graft.vec.VecOps.ivfHierRefineTopK(emb,
          graft.vec.VecOps.hierRouting(emb,
            graft.vec.VecOps.hierIndexShared(emb, out), probes = 2, fprobes = 2),
          shortlist = 16, k = 3).count()
      })
    // matryoshka with planes holding per-bucket OCCUPANCY ≈ the 100×
    // row's (planes = 14 → 2 M/16384 ≈ 122/bucket): the +3-per-decade
    // rule the earlier decades used adds 8× buckets per 10× rows, so
    // occupancy creeps 1.25×/decade — measured at 1000×: planes=13
    // (occ 244) 214.0 s vs planes=14 (occ 122) 130.9 s. Bucket count
    // must track the CORPUS, not the decade count.
    if (rows("matryoshka"))
      time("matryoshka planes=14 @ 1000x")(
        graft.vec.VecOps.matryoshkaTopK(Tables(spark, out).embeddings,
          planes = 14, mDims = 16, shortlist = 8, k = 3).count())
    // round-16 (VERDICT r15 #3): the hierarchical residual rung's
    // third-decade row — same routing as ivf_hier_topk plus the
    // residual-PQ encode and the asymmetric re-score; raw pipeline with
    // a fresh routing table per rep (the refine-row discipline)
    if (rows("ann_ivfpq_hier_topk"))
      time("ann_ivfpq_hier_topk @ 1000x")({
        val emb = Tables(spark, out).embeddings
        graft.vec.VecOps.ivfPqHierTopK(emb,
          graft.vec.VecOps.lloyd2CentroidsShared(emb, out),
          graft.vec.VecOps.hierRouting(emb,
            graft.vec.VecOps.hierIndexShared(emb, out), probes = 2, fprobes = 2),
          k = 3).count()
      })
    // round-16 (VERDICT r15 #3): the streaming semdedup twin at the
    // third decade — 3 micro-batches against the shared hier index;
    // per-batch cost ∝ batch (never batch × corpus) is the claim this
    // row prices. The session-shared Lloyd build and the stream-file
    // fixture are warmed OUTSIDE the timer: the batch semdedup row's
    // warm median excludes the build (it lands in rep 1), so a single
    // timed drain rep must exclude it too or the row prices the build,
    // not the screen (the first recorded 959 s reading did exactly
    // that — BASELINE.md round-16).
    if (rows("streaming_semdedup_keep")) {
      val emb = Tables(spark, out).embeddings
      graft.vec.VecOps.lloyd2CentroidsShared(emb, out).count()
      graft.sources.Fixtures.ensureEmbeddingStreamFiles(spark, out, n = 3)
      time("streaming_semdedup_keep @ 1000x", 1)(
        SparkEntry.queries("streaming_semdedup_keep")(spark, out).count())
    }
    // round-17 (VERDICT r16 #8): 1000× DOCUMENTS corpus for the heavy
    // text screen + the wide phash rungs — the ScaleDemo shard model
    // (per-copy token suffixes keep shingle sets copy-disjoint), chunked
    // 10×100 like the embeddings build above (a single 1000-branch
    // union would stall analysis). Existence-gated: only the first row
    // pays it.
    def ensureDocs1000(): Unit =
      if (!java.nio.file.Files.exists(outPath.resolve("documents.parquet"))) {
        val t = Tables(spark, base)
        val off = 100000000L
        for (c <- 0 until 10) {
          (c * 100 until (c + 1) * 100).map { k =>
            val txt = if (k == 0) col("text")
              else regexp_replace(col("text"), "(\\S+)", s"$$1_$k")
            t.documents.select((col("doc_id") + k * off).as("doc_id"),
              txt.as("text"), col("source"), col("lang"), col("n_chars"))
          }.reduce(_ unionByName _)
            .write.mode(if (c == 0) "overwrite" else "append")
            .parquet(s"$out/documents.parquet")
        }
        println(s"[scale] documents built at $out (1000x)")
      }
    // the heavy incremental screen at the third decade: per-batch cost
    // must stay ∝ batch under the round-17 accumulator (store side in
    // memory, never rescanned from parquet). Stream fixture warmed
    // outside the timer; single rep (the semdedup-row discipline).
    if (rows("streaming_wj_neardup")) {
      ensureDocs1000()
      graft.sources.Fixtures.ensureDocStreamFiles(spark, out, n = 3)
      time("streaming_wj_neardup @ 1000x", 1)(
        SparkEntry.queries("streaming_wj_neardup")(spark, out).count())
    }
    // wide-fingerprint rungs at the decade they exist FOR: at 5 M docs
    // the 32-bit family's pigeonhole cap refuses (occupancy ≈ 19 500),
    // phash64's 4×16 banding sits at occupancy ≈ 76 (measured-fine
    // regime) and phash128's 4×25 at « 1. RAW pipelines, not the
    // registry entries — those read the round-17 session-shared pair
    // relation, which would make any 2nd rep time a cache read (the
    // annRefine-row discipline); single rep, fresh JVM per row.
    if (rows("mm_phash64_neardup_pairs")) {
      ensureDocs1000()
      time("mm_phash64_neardup_pairs RAW @ 1000x", 1)(
        graft.mm.MultiModal.hammingPairs(
          graft.mm.MultiModal.phash64(Tables(spark, out).documents
            .select(col("doc_id"), encode(col("text"), "UTF-8").as("payload"))),
          maxHd = 3, fpBits = 64).count())
    }
    if (rows("mm_phash128_neardup_pairs")) {
      ensureDocs1000()
      time("mm_phash128_neardup_pairs RAW @ 1000x", 1)(
        graft.mm.MultiModal.hammingPairsMulti(
          graft.mm.MultiModal.phash128(Tables(spark, out).documents
            .select(col("doc_id"), encode(col("text"), "UTF-8").as("payload"))),
          words = 2, maxHd = 3).count())
    }
    // the 1000× contrast for streaming_phash_neardup is ARITHMETIC, not
    // a wedged driver: the screen's stream-context banding is the fixed
    // 4×8 setting (a stream cannot count its corpus upfront), which at
    // this decade is the measured-OOM occupancy regime.
    if (rows("streaming_phash_refusal")) {
      ensureDocs1000()
      val n = Tables(spark, out).documents.count()
      println(s"[scale] CONTRAST streaming_phash_neardup @ 1000x NOT RUN: " +
        s"fixed 4x8 banding at n=$n docs = expected occupancy ${n / 256} " +
        s"per bucket, two decades past MaxAutoOccupancy=256 (the r11 " +
        s"measured-OOM regime). Escalation = pin the screen's banding to " +
        s"the planned corpus ceiling (e.g. phash64 4x16: occupancy " +
        s"${n / 65536}), the batch family's wider-fingerprint ladder.")
    }
    spark.stop()
  }
}
