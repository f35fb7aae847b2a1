package graft.ts

import graft.{Reg, Tables}
import org.apache.spark.sql.functions._

/** Graded time-series queries (SURVEY.md §2.4/§2.5): the reference tsdb's
  * candle/resample/gap/validation/alignment surface over the `events`
  * stream table (reference v0 snapshot is empty; semantics per SURVEY.md
  * §1.1). DuckDB oracles use arg_min/arg_max, generate_series,
  * IGNORE NULLS windows and ASOF JOIN.
  *
  * Fixture contract the candle oracles rely on: (event_type, ts) is
  * UNIQUE (verified at sf0.001/0.01/0.1) — on duplicate timestamps both
  * Spark's min_by/max_by and DuckDB's arg_min/arg_max tie-break
  * arbitrarily, so open/close would be underdetermined on both sides. */
object TsQueries {

  private val fmt = "yyyy-MM-dd HH:mm:ss"

  /** Oracle shared by `attribution_last_touch` and its streaming twin
    * `streaming_attribution` — one contract, two engines' worth of
    * implementations on the Spark side (window pass vs O(1)-state
    * processor). Edits apply to both or neither. */
  private[graft] val attributionOracleSql: String = """
        WITH o AS (
          SELECT event_id, user_id, ts, event_type, value,
                 last_value(CASE WHEN event_type IN ('click','view')
                                 THEN event_id END IGNORE NULLS) OVER w AS t_id,
                 last_value(CASE WHEN event_type IN ('click','view')
                                 THEN ts END IGNORE NULLS) OVER w AS t_ts,
                 last_value(CASE WHEN event_type IN ('click','view')
                                 THEN event_type END IGNORE NULLS) OVER w AS t_type
          FROM events
          WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
        p AS (SELECT *,
                     t_ts IS NOT NULL
                       AND epoch_us(ts) - epoch_us(t_ts) <= 86400000000 AS in_w
              FROM o WHERE event_type = 'purchase')
        SELECT event_id AS purchase_id, user_id,
               strftime(ts, '%Y-%m-%d %H:%M:%S') AS purchase_ts,
               CAST(round(value * 100) AS BIGINT) AS value_cents,
               CASE WHEN in_w THEN t_id ELSE -1 END AS touch_id,
               CASE WHEN in_w THEN t_type ELSE 'none' END AS touch_type,
               CAST(CASE WHEN in_w
                         THEN (epoch_us(ts) - epoch_us(t_ts)) // 60000000
                         ELSE -1 END AS BIGINT) AS mins_since_touch
        FROM p ORDER BY purchase_id
      """

  /** The PSI oracle, shared VERBATIM with the streaming twin
    * (`streaming_psi_drift` in StreamQueries): the streaming path bins
    * the second half incrementally against the same static baseline
    * edges and is count-equivalent by construction, so one SQL grades
    * both. Edits apply to both consumers or neither. (Defined before
    * `all` — a forward reference from the Reg seq would read null at
    * object init, the semdedupKeepOracle rule.) */
  private[graft] val psiOracle: String = """
        WITH e AS (SELECT event_type, CAST(round(value * 100) AS BIGINT) AS c,
                          CASE WHEN day(ts) <= 15 THEN 0 ELSE 1 END AS half
                   FROM events),
        base AS (SELECT event_type, c,
                        ntile(10) OVER (PARTITION BY event_type ORDER BY c) AS tile
                 FROM e WHERE half = 0),
        ed AS (SELECT event_type, tile, max(c) AS edge FROM base
               WHERE tile <= 9 GROUP BY 1, 2),
        edges AS (SELECT event_type, list(edge ORDER BY edge) AS edges
                  FROM ed GROUP BY 1),
        binned AS (SELECT e.event_type,
                          len(list_filter(g.edges, x -> e.c > x)) AS bin,
                          CAST(sum(CASE WHEN half = 0 THEN 1 ELSE 0 END) AS BIGINT) AS cp,
                          CAST(sum(CASE WHEN half = 1 THEN 1 ELSE 0 END) AS BIGINT) AS cq
                   FROM e JOIN edges g ON e.event_type = g.event_type
                   GROUP BY 1, 2),
        tot AS (SELECT event_type, CAST(sum(cp) AS BIGINT) AS np,
                       CAST(sum(cq) AS BIGINT) AS nq
                FROM binned GROUP BY 1),
        terms AS (SELECT b.event_type, t.np, t.nq,
                         CAST(round(((CAST(cp + 1 AS DOUBLE) / CAST(np + 10 AS DOUBLE))
                           - (CAST(cq + 1 AS DOUBLE) / CAST(nq + 10 AS DOUBLE)))
                           * ln((CAST(cp + 1 AS DOUBLE) * CAST(nq + 10 AS DOUBLE))
                                / (CAST(np + 10 AS DOUBLE) * CAST(cq + 1 AS DOUBLE)))
                           * CAST(1000000 AS DOUBLE)) AS BIGINT) AS term_um
                  FROM binned b JOIN tot t ON b.event_type = t.event_type)
        SELECT event_type, max(np) AS n_base, max(nq) AS n_cur,
               count(*) AS n_bins, CAST(sum(term_um) AS BIGINT) AS psi_um
        FROM terms GROUP BY 1 ORDER BY event_type
      """

  /** Durbin-Levinson PACF, 6 levels UNROLLED into chained CTEs — ONE
    * generator whose output text BOTH engines execute verbatim, so the
    * IEEE double trees are identical by construction (the only
    * cross-engine-safe way to run a division-bearing recursion; inputs
    * are the micros-quantized ACF values, already exact integers on both
    * sides). `src` must be a 6-row (lag BIGINT, r_um BIGINT) relation.
    * Each level's denominator 1 − Σφr is zero-sentineled. */
  private[ts] def dlPacfSql(src: String): String = {
    val K = 6
    val rCols = (1 to K).map(k =>
      s"max(CASE WHEN lag = $k THEN CAST(r_um AS DOUBLE) END) / 1000000.0 AS r$k")
      .mkString(",\n            ")
    val lvls = scala.collection.mutable.ArrayBuffer[String](
      "dl1 AS (SELECT *, r1 AS p1_1 FROM dl0)")
    for (k <- 2 to K) {
      val num = (1 until k).map(j => s"p${k - 1}_$j * r${k - j}").mkString(" + ")
      val den = (1 until k).map(j => s"p${k - 1}_$j * r$j").mkString(" + ")
      lvls += s"dl${k}a AS (SELECT *, CASE WHEN 1.0 - ($den) = 0 THEN 0.0 " +
        s"ELSE (r$k - ($num)) / (1.0 - ($den)) END AS p${k}_$k FROM dl${k - 1})"
      val upd = (1 until k)
        .map(j => s"p${k - 1}_$j - p${k}_$k * p${k - 1}_${k - j} AS p${k}_$j")
        .mkString(", ")
      lvls += s"dl$k AS (SELECT *, $upd FROM dl${k}a)"
    }
    val unpivot = (1 to K).map(k =>
      s"SELECT CAST($k AS BIGINT) AS lag, " +
        s"CAST(round(p${k}_$k * 1000000.0) AS BIGINT) AS pacf_um FROM dl$K")
      .mkString("\n          UNION ALL ")
    s"""WITH dl0 AS (SELECT
            $rCols
          FROM $src),
        ${lvls.mkString(",\n        ")},
        pac AS (
          $unpivot)
        SELECT a.lag, a.r_um, p.pacf_um
        FROM $src a JOIN pac p ON a.lag = p.lag
        ORDER BY a.lag"""
  }

  val all: Seq[Reg] = Seq(

    Reg("candles_1h",
      (s, dir) => TimeSeries.candles(Tables(s, dir).events, "hour")
        .select(
          date_format(col("bucket"), fmt).as("bucket"),
          col("series").as("event_type"),
          col("open"), col("high"), col("low"), col("close"),
          round(col("volume"), 4).as("volume"),
          col("trades"))
        .orderBy("bucket", "event_type"),
      Some("""
        SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS bucket,
               event_type,
               arg_min(value, ts) AS open,
               max(value) AS high,
               min(value) AS low,
               arg_max(value, ts) AS close,
               round(sum(value), 4) AS volume,
               count(*) AS trades
        FROM events
        GROUP BY 1, 2
        ORDER BY 1, 2
      """)),

    // ---- same candles through the one-pass typed Aggregator (§2.10) -----
    Reg("candles_1h_typed",
      (s, dir) => {
        val candleUdaf = udaf(CandleAggregator)
        Tables(s, dir).events
          .groupBy(date_trunc("hour", col("ts")).as("bucket"), col("event_type"))
          .agg(candleUdaf(unix_micros(col("ts")), col("value")).as("c"))
          .select(date_format(col("bucket"), fmt).as("bucket"), col("event_type"),
            col("c.open").as("open"), col("c.high").as("high"),
            col("c.low").as("low"), col("c.close").as("close"),
            round(col("c.volume"), 4).as("volume"), col("c.trades").as("trades"))
          .orderBy("bucket", "event_type")
      },
      Some("""
        SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS bucket,
               event_type,
               arg_min(value, ts) AS open,
               max(value) AS high,
               min(value) AS low,
               arg_max(value, ts) AS close,
               round(sum(value), 4) AS volume,
               count(*) AS trades
        FROM events
        GROUP BY 1, 2
        ORDER BY 1, 2
      """)),

    // ---- CSV sink round-trip: the reference's serving format, graded ----
    // candles → write CSV (header, Spark's shortest-round-trip double
    // repr) → read back with an EXPLICIT schema → same candle oracle.
    // Grades serialization fidelity (quoting, header, float round-trip,
    // BIGINT parse) end to end, not just the SinksSpec round-trip. The
    // CSV copy is rebuilt per invocation (content-keyed scratch dir,
    // deleted first — the incremental-store pattern): the graded result
    // never depends on a previous run's files. Read-back re-sorts: CSV
    // part-file order is not a data order.
    Reg("csv_roundtrip_candles",
      (s, dir) => {
        val candles = TimeSeries.candles(Tables(s, dir).events, "hour")
          .select(
            date_format(col("bucket"), fmt).as("bucket"),
            col("series").as("event_type"),
            col("open"), col("high"), col("low"), col("close"),
            round(col("volume"), 4).as("volume"),
            col("trades"))
        val src = java.nio.file.Paths.get(dir, "events.parquet")
        val key = graft.sources.Fixtures.md5Hex(dir + "|csv|" +
          java.nio.file.Files.getLastModifiedTime(src).toMillis + "|" +
          java.nio.file.Files.size(src))
        val out = java.nio.file.Paths.get(s"/dev/shm/graft-csv/$key")
        graft.sources.Fixtures.delete(out)
        graft.sources.Sinks.writeCsv(candles, out.toString)
        s.read
          .schema("bucket STRING, event_type STRING, open DOUBLE, high DOUBLE, " +
            "low DOUBLE, close DOUBLE, volume DOUBLE, trades BIGINT")
          .option("header", "true")
          .csv(out.toString)
          .orderBy("bucket", "event_type")
      },
      Some("""
        SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS bucket,
               event_type,
               arg_min(value, ts) AS open,
               max(value) AS high,
               min(value) AS low,
               arg_max(value, ts) AS close,
               round(sum(value), 4) AS volume,
               count(*) AS trades
        FROM events
        GROUP BY 1, 2
        ORDER BY 1, 2
      """)),

    // ---- ORC sink round-trip: the self-describing columnar format -------
    // Same loop as csv_roundtrip_candles but through ORC, whose file
    // metadata carries the schema — the read-back has NO explicit schema,
    // so the query grades that types (DOUBLE/BIGINT/STRING) survive the
    // write-read cycle byte-exactly. Completes the sink-format matrix:
    // parquet (Verify itself), CSV, JSONL, ORC.
    Reg("orc_roundtrip_candles",
      (s, dir) => {
        val candles = TimeSeries.candles(Tables(s, dir).events, "hour")
          .select(
            date_format(col("bucket"), fmt).as("bucket"),
            col("series").as("event_type"),
            col("open"), col("high"), col("low"), col("close"),
            round(col("volume"), 4).as("volume"),
            col("trades"))
        val src = java.nio.file.Paths.get(dir, "events.parquet")
        val key = graft.sources.Fixtures.md5Hex(dir + "|orc|" +
          java.nio.file.Files.getLastModifiedTime(src).toMillis + "|" +
          java.nio.file.Files.size(src))
        val out = java.nio.file.Paths.get(s"/dev/shm/graft-orc/$key")
        graft.sources.Fixtures.delete(out)
        graft.sources.Sinks.writeOrc(candles, out.toString)
        s.read.orc(out.toString).orderBy("bucket", "event_type")
      },
      Some("""
        SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS bucket,
               event_type,
               arg_min(value, ts) AS open,
               max(value) AS high,
               min(value) AS low,
               arg_max(value, ts) AS close,
               round(sum(value), 4) AS volume,
               count(*) AS trades
        FROM events
        GROUP BY 1, 2
        ORDER BY 1, 2
      """)),

    // ---- sub-hour fixed-width buckets (date_trunc can't do 15 min) ------
    Reg("candles_15m",
      (s, dir) => TimeSeries.candlesFixed(Tables(s, dir).events, 900)
        .select(
          date_format(col("bucket"), fmt).as("bucket"),
          col("series").as("event_type"),
          col("open"), col("high"), col("low"), col("close"),
          round(col("volume"), 4).as("volume"),
          col("trades"))
        .orderBy("bucket", "event_type"),
      Some("""
        SELECT strftime(make_timestamp((epoch_us(ts) // 900000000) * 900000000),
                        '%Y-%m-%d %H:%M:%S') AS bucket,
               event_type,
               arg_min(value, ts) AS open,
               max(value) AS high,
               min(value) AS low,
               arg_max(value, ts) AS close,
               round(sum(value), 4) AS volume,
               count(*) AS trades
        FROM events
        GROUP BY 1, 2
        ORDER BY 1, 2
      """)),

    // ---- hierarchical resample 1h → 4h; oracle computes 4h directly -----
    // (equivalent: the earliest child candle's open IS the 4h open, etc.)
    Reg("candles_4h_resample",
      (s, dir) => TimeSeries.resample(TimeSeries.candles(Tables(s, dir).events, "hour"), 14400)
        .select(
          date_format(col("bucket"), fmt).as("bucket"),
          col("series").as("event_type"),
          col("open"), col("high"), col("low"), col("close"),
          round(col("volume"), 4).as("volume"),
          col("trades").cast("long").as("trades"))
        .orderBy("bucket", "event_type"),
      Some("""
        SELECT strftime(make_timestamp((epoch_us(ts) // 14400000000) * 14400000000),
                        '%Y-%m-%d %H:%M:%S') AS bucket,
               event_type,
               arg_min(value, ts) AS open,
               max(value) AS high,
               min(value) AS low,
               arg_max(value, ts) AS close,
               round(sum(value), 4) AS volume,
               count(*) AS trades
        FROM events
        GROUP BY 1, 2
        ORDER BY 1, 2
      """)),

    // ---- missing-candle detection: hourly spine anti-join ---------------
    Reg("gap_detect_1h",
      (s, dir) => TimeSeries.gapDetect(TimeSeries.candles(Tables(s, dir).events, "hour"), 3600)
        .select(col("series").as("event_type"), date_format(col("bucket"), fmt).as("bucket"))
        .orderBy("event_type", "bucket"),
      Some("""
        WITH c AS (SELECT event_type AS s, date_trunc('hour', ts) AS b
                   FROM events GROUP BY 1, 2),
        r AS (SELECT s, min(b) AS lo, max(b) AS hi FROM c GROUP BY 1),
        sp AS (SELECT s, unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS b FROM r)
        SELECT sp.s AS event_type, strftime(sp.b, '%Y-%m-%d %H:%M:%S') AS bucket
        FROM sp LEFT JOIN c ON c.s = sp.s AND c.b = sp.b
        WHERE c.b IS NULL
        ORDER BY 1, 2
      """)),

    // ---- gap fill with forward-filled close (volume 0 on gaps) ----------
    Reg("gap_fill_1h",
      (s, dir) => TimeSeries.gapFill(TimeSeries.candles(Tables(s, dir).events, "hour"), 3600)
        .select(col("series").as("event_type"), date_format(col("bucket"), fmt).as("bucket"),
          col("was_gap"), col("close_filled"), round(col("volume"), 4).as("volume"))
        .orderBy("event_type", "bucket"),
      Some("""
        WITH c AS (SELECT event_type AS s, date_trunc('hour', ts) AS b,
                          arg_max(value, ts) AS close, round(sum(value), 4) AS volume
                   FROM events GROUP BY 1, 2),
        r AS (SELECT s, min(b) AS lo, max(b) AS hi FROM c GROUP BY 1),
        sp AS (SELECT s, unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS b FROM r)
        SELECT sp.s AS event_type, strftime(sp.b, '%Y-%m-%d %H:%M:%S') AS bucket,
               c.b IS NULL AS was_gap,
               last_value(c.close IGNORE NULLS) OVER (
                 PARTITION BY sp.s ORDER BY sp.b
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS close_filled,
               coalesce(c.volume, 0.0) AS volume
        FROM sp LEFT JOIN c ON c.s = sp.s AND c.b = sp.b
        ORDER BY 1, 2
      """)),

    // ---- gap fill with LINEAR INTERPOLATION -----------------------------
    // The chart-serving twin of gap_fill_1h: gaps get the line between
    // the surrounding closes, not a stale carry-forward. Output is
    // integer CENTS end to end (the vwap pattern): a float interpolation
    // of 2-decimal closes lands EXACTLY on .xxxx5 midpoints, where Spark
    // (decimal HALF_UP) and DuckDB (binary round) disagree — found at
    // sf0.001. Closes snap exactly to cents (fixture values are
    // 2-decimal, so close·100 is integer ± float error ≪ 0.5), then the
    // interpolation is pure integer math: (pc·dy + (nc−pc)·dx) div dy —
    // identical truncation on both engines (all values positive).
    Reg("gap_fill_interp",
      (s, dir) => TimeSeries.gapFillInterp(
          TimeSeries.candles(Tables(s, dir).events, "hour"), 3600)
        .withColumn("cc", round(col("close") * 100).cast("long"))
        .withColumn("pcc", round(col("pc") * 100).cast("long"))
        .withColumn("ncc", round(col("nc") * 100).cast("long"))
        .withColumn("dx", (unix_timestamp(col("bucket")) - unix_timestamp(col("pb"))))
        .withColumn("dy", (unix_timestamp(col("nb")) - unix_timestamp(col("pb"))))
        .select(col("series").as("event_type"),
          date_format(col("bucket"), fmt).as("bucket"),
          col("was_gap"),
          when(!col("was_gap"), col("cc"))
            .when(col("pcc").isNotNull && col("ncc").isNotNull,
              expr("(pcc * dy + (ncc - pcc) * dx) div dy"))
            .otherwise(coalesce(col("pcc"), col("ncc"))).as("close_interp_cents"))
        .orderBy("event_type", "bucket"),
      Some("""
        WITH c AS (SELECT event_type AS s, date_trunc('hour', ts) AS b,
                          arg_max(value, ts) AS close
                   FROM events GROUP BY 1, 2),
        r AS (SELECT s, min(b) AS lo, max(b) AS hi FROM c GROUP BY 1),
        sp AS (SELECT s, unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS b FROM r),
        j AS (SELECT sp.s, sp.b, c.close,
                     CAST(round(c.close * 100) AS BIGINT) AS cc,
                     CAST(round(last_value(c.close IGNORE NULLS) OVER wb * 100) AS BIGINT) AS pcc,
                     last_value(CASE WHEN c.close IS NOT NULL THEN sp.b END IGNORE NULLS) OVER wb AS pb,
                     CAST(round(first_value(c.close IGNORE NULLS) OVER wf * 100) AS BIGINT) AS ncc,
                     first_value(CASE WHEN c.close IS NOT NULL THEN sp.b END IGNORE NULLS) OVER wf AS nb
              FROM sp LEFT JOIN c ON c.s = sp.s AND c.b = sp.b
              WINDOW wb AS (PARTITION BY sp.s ORDER BY sp.b
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
                     wf AS (PARTITION BY sp.s ORDER BY sp.b
                            ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
        SELECT s AS event_type, strftime(b, '%Y-%m-%d %H:%M:%S') AS bucket,
               close IS NULL AS was_gap,
               CASE WHEN close IS NOT NULL THEN cc
                    WHEN pcc IS NOT NULL AND ncc IS NOT NULL THEN
                      (pcc * CAST(epoch(nb) - epoch(pb) AS BIGINT)
                       + (ncc - pcc) * CAST(epoch(b) - epoch(pb) AS BIGINT))
                        // CAST(epoch(nb) - epoch(pb) AS BIGINT)
                    ELSE coalesce(pcc, ncc) END AS close_interp_cents
        FROM j ORDER BY 1, 2
      """)),

    // ---- VWAP over lineitem (price = extendedprice, volume = quantity) --
    // vwap output is integer-scaled end to end: float sums differ between
    // engines by summation order, and even round() disagrees across engines
    // at representation boundaries (Spark rounds the shortest decimal repr
    // via BigDecimal, DuckDB rounds the binary double). Snapping each sum
    // to integer cents (boundary 0.5 ≫ any float divergence) and doing the
    // ratio in integer arithmetic is exact on both engines.
    Reg("vwap_daily",
      (s, dir) => Tables(s, dir).lineitem
        .groupBy(date_trunc("day", col("l_shipdate")).as("bucket"), col("l_returnflag").as("series"))
        .agg(round(sum(col("l_extendedprice") * col("l_quantity")) * 100).cast("long").as("pv_cents"),
          round(sum(col("l_quantity")) * 100).cast("long").as("vol_cents"))
        .select(date_format(col("bucket"), fmt).as("day"), col("series").as("returnflag"),
          // nullif: zero-volume buckets yield NULL instead of an ANSI
          // divide-by-zero error (mirrored in the oracle)
          expr("(pv_cents * 10000) div nullif(vol_cents, 0)").as("vwap_x10000"), col("vol_cents"))
        .orderBy("day", "returnflag"),
      Some("""
        SELECT strftime(date_trunc('day', l_shipdate), '%Y-%m-%d %H:%M:%S') AS day,
               l_returnflag AS returnflag,
               (CAST(round(sum(l_extendedprice * l_quantity) * 100) AS BIGINT) * 10000)
                 // nullif(CAST(round(sum(l_quantity) * 100) AS BIGINT), 0) AS vwap_x10000,
               CAST(round(sum(l_quantity) * 100) AS BIGINT) AS vol_cents
        FROM lineitem
        GROUP BY 1, 2
        ORDER BY 1, 2
      """)),

    // ---- z-score outlier validation per series --------------------------
    Reg("zscore_outliers",
      (s, dir) => TimeSeries.zscoreOutliers(Tables(s, dir).events, 3.0)
        .select(col("event_id"), col("event_type"), col("value"), round(col("z"), 4).as("z"))
        .orderBy("event_id"),
      Some("""
        WITH stats AS (SELECT event_type AS s, avg(value) AS mu, stddev(value) AS sigma
                       FROM events GROUP BY 1)
        SELECT event_id, event_type, value, round((value - mu) / sigma, 4) AS z
        FROM events JOIN stats ON event_type = s
        WHERE abs((value - mu) / sigma) > 3.0
        ORDER BY event_id
      """)),

    // ---- as-of join: each purchase ↦ user's latest click ≤ ts -----------
    // Round-7: re-platformed from the union+window form onto AsofBucketed
    // (the r6 verdict's ask): Window.partitionBy(user_id) serialized each
    // user's FULL two-sided history into one task — a hot user is a
    // straggler at 100×. The bucketed form's only all-rows join is
    // equi-keyed on (user_id, hour-bucket), so a hot user parallelizes
    // over time; AsofSkewSpec's family guard now pins this for every
    // graded as-of plan. The union+window operator itself survives in
    // TimeSeries.asofJoin (spec'd pedagogical baseline). Oracle unchanged.
    Reg("asof_purchase_click",
      (s, dir) => {
        val ev = Tables(s, dir).events
        val purchases = ev.filter(col("event_type") === "purchase")
          .select(col("event_id"), col("user_id"), col("ts"), col("value").as("purchase_value"))
        val clicks = ev.filter(col("event_type") === "click")
          .groupBy(col("user_id"), col("ts"))
          .agg(max(col("value")).as("click_value")) // unique (user, ts) → tie-free asof
          .withColumnRenamed("ts", "c_ts")
        AsofBucketed.asofJoin(purchases, clicks, leftId = "event_id",
            keys = Seq("user_id"), leftTs = "ts", rightTs = "c_ts",
            payload = Seq("click_value"), bucketUs = 3600L * 1000000L)
          .select(col("event_id"), col("user_id"), date_format(col("ts"), fmt).as("ts"),
            col("purchase_value"),
            // no-match rows must not be float NULLs: NULL↔NaN round-trips
            // break exact hash comparison
            coalesce(col("click_value"), lit(-1.0)).as("click_value"))
          .orderBy("event_id")
      },
      Some("""
        WITH cl AS (SELECT user_id, ts, max(value) AS click_value
                    FROM events WHERE event_type = 'click' GROUP BY 1, 2),
        p AS (SELECT event_id, user_id, ts, value FROM events WHERE event_type = 'purchase')
        SELECT p.event_id, p.user_id, strftime(p.ts, '%Y-%m-%d %H:%M:%S') AS ts,
               p.value AS purchase_value, coalesce(cl.click_value, -1.0) AS click_value
        FROM p ASOF LEFT JOIN cl ON p.user_id = cl.user_id AND p.ts >= cl.ts
        ORDER BY p.event_id
      """)),

    // ---- same as-of join through the NATIVE custom operator -------------
    // (AsofJoinPlan → AsofJoinStrategy → AsofJoinExec, graft.plans): a
    // co-partitioned co-sorted streaming merge instead of the union+window
    // formulation; graded by the identical DuckDB ASOF oracle.
    Reg("asof_purchase_click_native",
      (s, dir) => {
        val ev = Tables(s, dir).events
        val purchases = ev.filter(col("event_type") === "purchase")
          .select(col("event_id"), col("user_id"), col("ts"), col("value").as("purchase_value"))
        val clicks = ev.filter(col("event_type") === "click")
          .groupBy(col("user_id"), col("ts"))
          .agg(max(col("value")).as("click_value"))
        graft.plans.AsofJoinNative.asofJoin(
            purchases, clicks, "user_id", "ts", "ts", Seq("click_value"))
          .select(col("event_id"), col("user_id"), date_format(col("ts"), fmt).as("ts"),
            col("purchase_value"),
            coalesce(col("click_value"), lit(-1.0)).as("click_value"))
          .orderBy("event_id")
      },
      Some("""
        WITH cl AS (SELECT user_id, ts, max(value) AS click_value
                    FROM events WHERE event_type = 'click' GROUP BY 1, 2),
        p AS (SELECT event_id, user_id, ts, value FROM events WHERE event_type = 'purchase')
        SELECT p.event_id, p.user_id, strftime(p.ts, '%Y-%m-%d %H:%M:%S') AS ts,
               p.value AS purchase_value, coalesce(cl.click_value, -1.0) AS click_value
        FROM p ASOF LEFT JOIN cl ON p.user_id = cl.user_id AND p.ts >= cl.ts
        ORDER BY p.event_id
      """)),

    // ---- native as-of join with a MAX-LOOKBACK tolerance ----------------
    // (AsofJoinExec tolUs path): a click older than 10 minutes does not
    // join — the "stale quotes don't join" ASOF contract. The oracle is
    // the plain ASOF join with the match nulled when outside tolerance:
    // equivalent, because the as-of match is the unique latest candidate,
    // so filtering it IS the tolerance semantics.
    Reg("asof_purchase_click_tolerance",
      (s, dir) => {
        val ev = Tables(s, dir).events
        val purchases = ev.filter(col("event_type") === "purchase")
          .select(col("event_id"), col("user_id"), col("ts"), col("value").as("purchase_value"))
        val clicks = ev.filter(col("event_type") === "click")
          .groupBy(col("user_id"), col("ts"))
          .agg(max(col("value")).as("click_value"))
        graft.plans.AsofJoinNative.asofJoin(
            purchases, clicks, "user_id", "ts", "ts", Seq("click_value"),
            tolUs = Some(600000000L)) // 10 minutes
          .select(col("event_id"), col("user_id"), date_format(col("ts"), fmt).as("ts"),
            col("purchase_value"),
            coalesce(col("click_value"), lit(-1.0)).as("click_value"))
          .orderBy("event_id")
      },
      Some("""
        WITH cl AS (SELECT user_id, ts, max(value) AS click_value
                    FROM events WHERE event_type = 'click' GROUP BY 1, 2),
        p AS (SELECT event_id, user_id, ts, value FROM events WHERE event_type = 'purchase')
        SELECT p.event_id, p.user_id, strftime(p.ts, '%Y-%m-%d %H:%M:%S') AS ts,
               p.value AS purchase_value,
               coalesce(CASE WHEN p.ts - cl.ts <= INTERVAL 10 MINUTES
                             THEN cl.click_value END, -1.0) AS click_value
        FROM p ASOF LEFT JOIN cl ON p.user_id = cl.user_id AND p.ts >= cl.ts
        ORDER BY p.event_id
      """)),

    // ---- range-bucketed as-of: the SKEW-PROOF variant -------------------
    // Deliberately KEYLESS (the ultimate hot key): every purchase joins
    // the most recent click anywhere — "latest global quote". The native
    // exec would serialize this into one task (ClusteredDistribution on
    // the key); AsofBucketed spreads it over 1-hour time buckets instead,
    // so the plan parallelizes by time. Same DuckDB ASOF oracle as the
    // keyed variants. First click precedes first purchase in the fixture,
    // but the null path is mirrored anyway (sentinel coalesce).
    Reg("asof_bucketed_global_click",
      (s, dir) => {
        val ev = Tables(s, dir).events
        val purchases = ev.filter(col("event_type") === "purchase")
          .select(col("event_id").as("p_id"), col("ts").as("p_ts"))
        val clicks = ev.filter(col("event_type") === "click")
          .select(col("ts").as("c_ts"), col("value").as("c_val"))
        AsofBucketed.asofJoin(purchases, clicks, leftId = "p_id",
            keys = Nil, leftTs = "p_ts", rightTs = "c_ts",
            payload = Seq("c_val"), bucketUs = 3600L * 1000000L)
          .select(col("p_id"), date_format(col("p_ts"), fmt).as("p_ts"),
            coalesce(date_format(col("c_ts"), fmt), lit("")).as("c_ts"),
            coalesce(col("c_val"), lit(-1.0)).as("c_val"))
          .orderBy("p_id")
      },
      Some("""
        SELECT p.event_id AS p_id,
               strftime(p.ts, '%Y-%m-%d %H:%M:%S') AS p_ts,
               coalesce(strftime(c.ts, '%Y-%m-%d %H:%M:%S'), '') AS c_ts,
               coalesce(c.value, -1.0) AS c_val
        FROM (SELECT event_id, ts FROM events WHERE event_type = 'purchase') p
        ASOF LEFT JOIN (SELECT ts, value FROM events WHERE event_type = 'click') c
          ON p.ts >= c.ts
        ORDER BY p_id
      """)),

    // ---- skewed-KEY as-of: few hot keys through the bucketed form -------
    // The classic tsdb hot-symbol replay: EVERY event joins the latest
    // hourly candle snapshot of its own event_type — a key domain of ~5
    // values, each a hot key carrying ~20% of the table. The native exec's
    // ClusteredDistribution would put each type's entire history into one
    // task (parallelism capped at 5 forever); AsofBucketed's equi-join on
    // (type, hour-bucket) spreads each type over its time range instead —
    // parallelism = types × hours. AsofSkewSpec pins the plan: every
    // data-path exchange hash-partitions on (type, bucket), none collapses
    // to a single partition. Inner ASOF (an event's own hour-candle always
    // exists at bucket <= ts, so every row matches).
    Reg("asof_skewed_type_candle",
      (s, dir) => {
        val ev = Tables(s, dir).events
        val left = ev.select(col("event_id"), col("event_type"), col("ts"))
        val candles = TimeSeries.candles(ev, "hour")
          .select(col("series").as("event_type"), col("bucket"), col("close"))
        AsofBucketed.asofJoin(left, candles, leftId = "event_id",
            keys = Seq("event_type"), leftTs = "ts", rightTs = "bucket",
            payload = Seq("close"), bucketUs = 3600L * 1000000L)
          .select(col("event_id"), col("event_type"),
            date_format(col("ts"), fmt).as("ts"),
            date_format(col("bucket"), fmt).as("c_bucket"),
            col("close").as("c_close"))
          .orderBy("event_id")
      },
      Some("""
        SELECT e.event_id, e.event_type,
               strftime(e.ts, '%Y-%m-%d %H:%M:%S') AS ts,
               strftime(c.bucket, '%Y-%m-%d %H:%M:%S') AS c_bucket,
               c.close AS c_close
        FROM events e ASOF JOIN
          (SELECT event_type, date_trunc('hour', ts) AS bucket,
                  arg_max(value, ts) AS close
           FROM events GROUP BY 1, 2) c
          ON e.event_type = c.event_type AND e.ts >= c.bucket
        ORDER BY event_id
      """)),

    // ---- 8-step windowed EMA (batch recurrence surface) -----------------
    // The bounded-window closed form of the EMA recurrence with α = 1/2:
    // weights (64,32,16,8,4,2,1,1)/128 over the last 8 values — the exact
    // closed form of ema_i = ½·vᵢ + ½·ema_{i−1} seeded 8 steps back.
    // Integer-scaled end to end (value → cents, weights ×128): the
    // weighted sum is BIGINT arithmetic on both engines, so the grading
    // hash is exact with zero float-divergence risk (the vwap_daily
    // pattern). Rows without 7 predecessors are excluded (full windows
    // only) — both sides agree on the cutoff via lag(·,7) IS NOT NULL.
    Reg("ema_window_8",
      (s, dir) => {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("event_type")).orderBy(col("ts"))
        val weights = Seq(64L, 32L, 16L, 8L, 4L, 2L, 1L, 1L)
        val vc = round(col("value") * 100).cast("long")
        val terms = weights.zipWithIndex.map { case (wt, k) =>
          (if (k == 0) vc else lag(vc, k).over(w)) * lit(wt) }
        Tables(s, dir).events
          .withColumn("ema8_x128_cents", terms.reduce(_ + _))
          .withColumn("_l7", lag(vc, 7).over(w))
          .filter(col("_l7").isNotNull)
          .select(col("event_id"), col("event_type"), col("ema8_x128_cents"))
          .orderBy("event_id")
      },
      Some("""
        WITH e AS (
          SELECT event_id, event_type,
                 CAST(round(value * 100) AS BIGINT) AS vc,
                 lag(CAST(round(value * 100) AS BIGINT), 1) OVER w AS l1,
                 lag(CAST(round(value * 100) AS BIGINT), 2) OVER w AS l2,
                 lag(CAST(round(value * 100) AS BIGINT), 3) OVER w AS l3,
                 lag(CAST(round(value * 100) AS BIGINT), 4) OVER w AS l4,
                 lag(CAST(round(value * 100) AS BIGINT), 5) OVER w AS l5,
                 lag(CAST(round(value * 100) AS BIGINT), 6) OVER w AS l6,
                 lag(CAST(round(value * 100) AS BIGINT), 7) OVER w AS l7
          FROM events
          WINDOW w AS (PARTITION BY event_type ORDER BY ts))
        SELECT event_id, event_type,
               64*vc + 32*l1 + 16*l2 + 8*l3 + 4*l4 + 2*l5 + 1*l6 + 1*l7
                 AS ema8_x128_cents
        FROM e
        WHERE l7 IS NOT NULL
        ORDER BY event_id
      """)),

    // ---- 8-step DEMA: double exponential smoothing ----------------------
    // DEMA = 2·EMA − EMA(EMA) — the lag-reduced trend smoother. Layered
    // exactly on ema_window_8's integer closed form: the first EMA is the
    // 8-tap ×128 integer convolution; the second applies the SAME taps to
    // the first's sequence (×16384 total); rows need 15 predecessors.
    // All-BIGINT arithmetic end to end — zero float risk, the same
    // reason ema_window_8 hashes exactly.
    Reg("dema_window_8",
      (s, dir) => {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("event_type")).orderBy(col("ts"))
        val weights = Seq(64L, 32L, 16L, 8L, 4L, 2L, 1L, 1L)
        val vc = round(col("value") * 100).cast("long")
        val ema1Terms = weights.zipWithIndex.map { case (wt, k) =>
          (if (k == 0) vc else lag(vc, k).over(w)) * lit(wt) }
        val stage1 = Tables(s, dir).events
          .withColumn("ema1",
            when(lag(vc, 7).over(w).isNotNull, ema1Terms.reduce(_ + _)))
        val ema2Terms = weights.zipWithIndex.map { case (wt, k) =>
          (if (k == 0) col("ema1") else lag(col("ema1"), k).over(w)) * lit(wt) }
        stage1
          .withColumn("ema2", ema2Terms.reduce(_ + _))
          .withColumn("dema_x16384_cents", col("ema1") * 256 - col("ema2"))
          .filter(col("dema_x16384_cents").isNotNull)
          .select(col("event_id"), col("event_type"), col("dema_x16384_cents"))
          .orderBy("event_id")
      },
      Some("""
        WITH e AS (
          SELECT event_id, event_type, ts,
                 CAST(round(value * 100) AS BIGINT) AS vc
          FROM events),
        m1 AS (
          SELECT event_id, event_type, ts,
                 CASE WHEN lag(vc, 7) OVER w IS NOT NULL THEN
                   64*vc + 32*lag(vc,1) OVER w + 16*lag(vc,2) OVER w
                   + 8*lag(vc,3) OVER w + 4*lag(vc,4) OVER w
                   + 2*lag(vc,5) OVER w + 1*lag(vc,6) OVER w
                   + 1*lag(vc,7) OVER w END AS ema1
          FROM e WINDOW w AS (PARTITION BY event_type ORDER BY ts)),
        m2 AS (
          SELECT event_id, event_type,
                 ema1,
                 64*ema1 + 32*lag(ema1,1) OVER w + 16*lag(ema1,2) OVER w
                 + 8*lag(ema1,3) OVER w + 4*lag(ema1,4) OVER w
                 + 2*lag(ema1,5) OVER w + 1*lag(ema1,6) OVER w
                 + 1*lag(ema1,7) OVER w AS ema2
          FROM m1 WINDOW w AS (PARTITION BY event_type ORDER BY ts))
        SELECT event_id, event_type,
               CAST(ema1 * 256 - ema2 AS BIGINT) AS dema_x16384_cents
        FROM m2
        WHERE ema1 * 256 - ema2 IS NOT NULL
        ORDER BY event_id
      """)),

    // ---- incremental candle store: the UPDATE LIFECYCLE, graded ---------
    // Builds the day-partitioned store from the first ~27 days, then runs
    // Incremental.update with the full history (re-aggregating only the
    // high-water-mark day onward and dynamic-overwriting those tail
    // partitions), and reads the store back. The oracle is the direct
    // full-history candle SQL — so history-preservation + tail-replacement
    // are hash-graded end to end, not just spec-asserted. The store is
    // rebuilt from scratch every invocation (deleted first): the graded
    // result must never depend on a previous run's store.
    Reg("incremental_candles_store",
      (s, dir) => {
        val ev = Tables(s, dir).events
        val src = java.nio.file.Paths.get(dir, "events.parquet")
        val key = graft.sources.Fixtures.md5Hex(dir + "|" +
          java.nio.file.Files.getLastModifiedTime(src).toMillis + "|" +
          java.nio.file.Files.size(src))
        val store = java.nio.file.Paths.get(s"/dev/shm/graft-incr/$key")
        graft.sources.Fixtures.delete(store)
        // split 3 days before the end: the first build's high-water mark
        // lands mid-day, so update() replaces a PARTIAL day plus full
        // tail days — the interesting lifecycle shape
        val hi = ev.agg(max(col("ts"))).head().getTimestamp(0)
        val candles =
          // no events: no max(ts) to split at, and a store built from no
          // rows holds no file to read back; its candles are none
          if (hi == null) TimeSeries.candles(ev, "hour")
          else {
            val split = new java.sql.Timestamp(hi.getTime - 3L * 86400 * 1000)
            Incremental.update(s, ev.filter(col("ts") < lit(split)), store.toString)
            Incremental.update(s, ev, store.toString)
            s.read.parquet(store.toString)
          }
        candles
          .select(date_format(col("bucket"), fmt).as("bucket"),
            col("series").as("event_type"),
            col("open"), col("high"), col("low"), col("close"),
            round(col("volume"), 4).as("volume"), col("trades"))
          .orderBy("bucket", "event_type")
      },
      Some("""
        SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS bucket,
               event_type,
               arg_min(value, ts) AS open,
               max(value) AS high,
               min(value) AS low,
               arg_max(value, ts) AS close,
               round(sum(value), 4) AS volume,
               count(*) AS trades
        FROM events
        GROUP BY 1, 2
        ORDER BY 1, 2
      """)),

    // ---- batch MERGE upsert: tail-replacement with row-level actions ----
    // The MERGE INTO surface of the update lifecycle: a partial-day delta
    // (re-aggregated from the high-water-mark day onward, including
    // late-arriving tail days) merged into the base candle snapshot, each
    // output row tagged insert / update / unchanged. Same split fixture
    // discipline as incremental_candles_store; the oracle recomputes both
    // sides from full history and classifies by key presence — so MERGE
    // semantics (matched→update, not-matched→insert, untouched→keep) are
    // hash-graded, not just asserted. The two .head() calls are the
    // declared 2-pass incremental pattern (high-water-mark reads), not
    // hot-path collects.
    Reg("merge_upsert_candles",
      (s, dir) => {
        val ev = Tables(s, dir).events
        // a NULL max(ts) (no events) or max(bucket) (no base) stays NULL,
        // as the oracle's split and d0 do: every comparison with it is
        // NULL, so base, delta and the merge come out empty
        val hi = ev.agg(max(col("ts"))).head().getTimestamp(0)
        val split = Option(hi).map(t => new java.sql.Timestamp(t.getTime - 3L * 86400 * 1000)).orNull
        val base = TimeSeries.candles(ev.filter(col("ts") < lit(split)), "hour")
        val mark = base.agg(max(col("bucket"))).head().getTimestamp(0)
        val dayStart = Option(mark).map(m => java.sql.Timestamp.from(
          m.toInstant.truncatedTo(java.time.temporal.ChronoUnit.DAYS))).orNull
        val delta = TimeSeries.candles(
          ev.filter(col("ts") >= lit(dayStart)), "hour")
        Incremental.merge(base, delta, dayStart)
          .select(date_format(col("bucket"), fmt).as("bucket"),
            col("series").as("event_type"),
            col("open"), col("high"), col("low"), col("close"),
            round(col("volume"), 4).as("volume"), col("trades"), col("action"))
          .orderBy("bucket", "event_type")
      },
      Some("""
        WITH split AS (SELECT max(ts) - INTERVAL 3 DAYS AS s FROM events),
        d0 AS (SELECT date_trunc('day', max(ts)) AS d FROM events
               WHERE ts < (SELECT s FROM split)),
        base AS (SELECT date_trunc('hour', ts) AS bucket, event_type,
                        arg_min(value, ts) AS open, max(value) AS high,
                        min(value) AS low, arg_max(value, ts) AS close,
                        sum(value) AS volume, count(*) AS trades
                 FROM events WHERE ts < (SELECT s FROM split) GROUP BY 1, 2),
        delta AS (SELECT date_trunc('hour', ts) AS bucket, event_type,
                         arg_min(value, ts) AS open, max(value) AS high,
                         min(value) AS low, arg_max(value, ts) AS close,
                         sum(value) AS volume, count(*) AS trades
                  FROM events WHERE ts >= (SELECT d FROM d0) GROUP BY 1, 2)
        SELECT strftime(bucket, '%Y-%m-%d %H:%M:%S') AS bucket, event_type,
               open, high, low, close, round(volume, 4) AS volume, trades,
               'unchanged' AS action
        FROM base WHERE bucket < (SELECT d FROM d0)
        UNION ALL
        SELECT strftime(delta.bucket, '%Y-%m-%d %H:%M:%S') AS bucket,
               delta.event_type, delta.open, delta.high, delta.low,
               delta.close, round(delta.volume, 4) AS volume, delta.trades,
               CASE WHEN base.bucket IS NOT NULL THEN 'update'
                    ELSE 'insert' END AS action
        FROM delta LEFT JOIN base
          ON base.bucket = delta.bucket AND base.event_type = delta.event_type
        ORDER BY bucket, event_type
      """)),

    // ---- sessionization: 30-min inactivity gap per user -----------------
    Reg("sessionize_30m",
      (s, dir) => TimeSeries.sessionize(Tables(s, dir).events, 1800)
        .groupBy(col("user_id"), col("session_id"))
        .agg(count(lit(1)).as("n_events"),
          date_format(min(col("ts")), fmt).as("start_ts"),
          date_format(max(col("ts")), fmt).as("end_ts"))
        .orderBy("user_id", "session_id"),
      Some("""
        WITH e AS (
          SELECT user_id, ts, event_id,
                 CASE WHEN lag(ts) OVER w IS NULL
                        OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
                      THEN 1 ELSE 0 END AS ns
          FROM events
          WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        s AS (SELECT user_id, ts,
                     -- CAST: DuckDB types windowed sum(int) as HUGEINT (int128),
                     -- which breaks the byte-level hash vs Spark's BIGINT
                     CAST(sum(ns) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
              FROM e)
        SELECT user_id, session_id, count(*) AS n_events,
               strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS start_ts,
               strftime(max(ts), '%Y-%m-%d %H:%M:%S') AS end_ts
        FROM s GROUP BY 1, 2 ORDER BY 1, 2
      """)),

    // ---- Spark's NATIVE session_window in batch -------------------------
    // The built-in operator twin of sessionize_30m (which derives sessions
    // via lag + running sum): session_window merges events whose gap to
    // the session end is < 30 min and emits [min ts, max ts + 30 min).
    // Note the boundary difference vs sessionize_30m: session_window
    // starts a NEW session at gap >= 30 min (the lag formulation there
    // uses gap > 30 min) — the oracle mirrors >=. Single hash-agg shape,
    // partial merge of session ranges — the 100 TB cost is one shuffle
    // on user_id.
    Reg("session_window_batch",
      (s, dir) => Tables(s, dir).events
        .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
        .agg(count(lit(1)).as("n_events"))
        .select(col("user_id"),
          date_format(col("session_window.start"), fmt).as("start_ts"),
          date_format(col("session_window.end"), fmt).as("end_ts"),
          col("n_events"))
        .orderBy("user_id", "start_ts"),
      Some("""
        WITH e AS (
          SELECT user_id, ts, event_id,
                 CASE WHEN lag(ts) OVER w IS NULL
                        OR epoch_us(ts) - epoch_us(lag(ts) OVER w) >= 1800000000
                      THEN 1 ELSE 0 END AS ns
          FROM events
          WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        s AS (SELECT user_id, ts,
                     sum(ns) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
              FROM e)
        SELECT user_id,
               strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS start_ts,
               strftime(max(ts) + INTERVAL 30 MINUTES, '%Y-%m-%d %H:%M:%S') AS end_ts,
               count(*) AS n_events
        FROM s GROUP BY user_id, sid
        ORDER BY user_id, start_ts
      """)),

    // ---- equi-depth histogram: per-type value deciles -------------------
    // The profiling op behind "what does this metric's distribution look
    // like": ntile(10) over a TOTAL order (value, event_id — ties must be
    // deterministic or decile boundaries drift cross-engine), then decile
    // min/max/count. One window shuffle on event_type + one hash-agg.
    Reg("value_deciles_by_type",
      (s, dir) => {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("event_type"))
          .orderBy(col("value"), col("event_id"))
        Tables(s, dir).events
          .select(col("event_type"), col("value"),
            ntile(10).over(w).cast("long").as("decile"))
          .groupBy(col("event_type"), col("decile"))
          .agg(count(lit(1)).as("n"),
            round(min(col("value")), 4).as("lo"),
            round(max(col("value")), 4).as("hi"))
          .orderBy("event_type", "decile")
      },
      Some("""
        WITH d AS (SELECT event_type, value,
                          ntile(10) OVER (PARTITION BY event_type
                                          ORDER BY value, event_id) AS decile
                   FROM events)
        SELECT event_type, decile, count(*) AS n,
               round(min(value), 4) AS lo, round(max(value), 4) AS hi
        FROM d GROUP BY 1, 2 ORDER BY 1, 2
      """)),

    // ---- NEAREST-direction as-of: closest click within ±5 min -----------
    // The third as-of flavor (backward / backward+tolerance exist): align
    // each purchase to the temporally CLOSEST click either side. Keyed
    // range join (user_id equi-join + |Δt| band filter) + rank-1 window —
    // at 100 TB the same shape as range_join_views: one co-partitioned
    // shuffle on the key, candidate set bounded by the band. Ties (one
    // click before, one after, equidistant) break on (c_ts, c_val) —
    // total on both engines.
    Reg("asof_nearest_click",
      (s, dir) => {
        val e = Tables(s, dir).events
        val p = e.filter(col("event_type") === "purchase")
          .select(col("event_id").as("p_id"), col("user_id"), col("ts").as("p_ts"))
        val c = e.filter(col("event_type") === "click")
          .select(col("user_id"), col("ts").as("c_ts"), col("value").as("c_val"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("p_id"))
          .orderBy(col("gap_us"), col("c_ts"), col("c_val"))
        p.join(c, Seq("user_id"))
          .withColumn("gap_us",
            abs(unix_micros(col("c_ts")) - unix_micros(col("p_ts"))))
          .filter(col("gap_us") <= 300000000L)
          .withColumn("rk", row_number().over(w))
          .filter(col("rk") === 1)
          .select(col("p_id"), col("user_id"),
            date_format(col("p_ts"), fmt).as("p_ts"),
            date_format(col("c_ts"), fmt).as("c_ts"),
            col("c_val"), col("gap_us"))
          .orderBy("p_id")
      },
      Some("""
        WITH p AS (SELECT event_id AS p_id, user_id, ts AS p_ts
                   FROM events WHERE event_type = 'purchase'),
        c AS (SELECT user_id, ts AS c_ts, value AS c_val
              FROM events WHERE event_type = 'click'),
        j AS (SELECT p.p_id, p.user_id, p.p_ts, c.c_ts, c.c_val,
                     abs(epoch_us(c.c_ts) - epoch_us(p.p_ts)) AS gap_us,
                     row_number() OVER (PARTITION BY p.p_id
                       ORDER BY abs(epoch_us(c.c_ts) - epoch_us(p.p_ts)), c.c_ts, c.c_val) AS rk
              FROM p JOIN c ON p.user_id = c.user_id
               AND abs(epoch_us(c.c_ts) - epoch_us(p.p_ts)) <= 300000000)
        SELECT p_id, user_id,
               strftime(p_ts, '%Y-%m-%d %H:%M:%S') AS p_ts,
               strftime(c_ts, '%Y-%m-%d %H:%M:%S') AS c_ts,
               c_val, gap_us
        FROM j WHERE rk = 1 ORDER BY p_id
      """)),

    // ---- candlestick pattern classification (integer-exact) -------------
    // The chart-pattern screen every OHLC store serves: doji (body ≤ 10%
    // of range), hammer (lower shadow ≥ 2×body, upper ≤ body), bullish
    // engulfing (bearish prev body swallowed by a bullish current one).
    // All comparisons are cents-integer (the vwap_daily discipline), the
    // engulfing lag rides the same one (event_type) window exchange as
    // the indicator family — zero float-divergence risk by construction.
    Reg("candle_patterns_1h",
      (s, dir) => {
        val cents = (c: String) => round(col(c) * 100).cast("long")
        val base = TimeSeries.candles(Tables(s, dir).events, "hour")
          .select(col("bucket"), col("series").as("event_type"),
            cents("open").as("oc"), cents("high").as("hc"),
            cents("low").as("lc"), cents("close").as("cc"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("event_type")).orderBy(col("bucket"))
        val body = abs(col("cc") - col("oc"))
        val range = col("hc") - col("lc")
        val upper = col("hc") - greatest(col("oc"), col("cc"))
        val lower = least(col("oc"), col("cc")) - col("lc")
        base
          .withColumn("poc", lag(col("oc"), 1).over(w))
          .withColumn("pcc", lag(col("cc"), 1).over(w))
          .select(date_format(col("bucket"), fmt).as("bucket"),
            col("event_type"),
            (body * 10 <= range).as("is_doji"),
            (lower >= body * 2 && upper <= body).as("is_hammer"),
            coalesce(col("pcc") < col("poc") && col("cc") > col("oc") &&
              col("oc") <= col("pcc") && col("cc") >= col("poc"),
              lit(false)).as("is_bull_engulf"))
          .orderBy("bucket", "event_type")
      },
      Some("""
        WITH c AS (SELECT date_trunc('hour', ts) AS bucket, event_type,
                          CAST(round(arg_min(value, ts) * 100) AS BIGINT) AS oc,
                          CAST(round(max(value) * 100) AS BIGINT) AS hc,
                          CAST(round(min(value) * 100) AS BIGINT) AS lc,
                          CAST(round(arg_max(value, ts) * 100) AS BIGINT) AS cc
                   FROM events GROUP BY 1, 2),
        l AS (SELECT *, lag(oc) OVER w AS poc, lag(cc) OVER w AS pcc
              FROM c WINDOW w AS (PARTITION BY event_type ORDER BY bucket))
        SELECT strftime(bucket, '%Y-%m-%d %H:%M:%S') AS bucket, event_type,
               abs(cc - oc) * 10 <= hc - lc AS is_doji,
               least(oc, cc) - lc >= abs(cc - oc) * 2
                 AND hc - greatest(oc, cc) <= abs(cc - oc) AS is_hammer,
               coalesce(pcc < poc AND cc > oc AND oc <= pcc AND cc >= poc,
                        false) AS is_bull_engulf
        FROM l ORDER BY bucket, event_type
      """)),

    // ---- UNPIVOT: wide candle measures → long (measure, value) ----------
    // The melt operator (inverse of pivot_status_counts' pivot): OHLC
    // columns unpivoted to rows via Spark's native Dataset.unpivot ↔
    // DuckDB UNPIVOT. Long-form is what plotting/metric layers consume;
    // at scale this is a zero-shuffle map-side expand (4 rows out per
    // candle) — the only exchanges are the candle agg and the ORDER BY.
    Reg("unpivot_candle_measures",
      (s, dir) => TimeSeries.candles(Tables(s, dir).events, "hour")
        .select(date_format(col("bucket"), fmt).as("bucket"),
          col("series").as("event_type"),
          col("open"), col("high"), col("low"), col("close"))
        .unpivot(Array(col("bucket"), col("event_type")),
          Array(col("open"), col("high"), col("low"), col("close")),
          "measure", "value")
        .orderBy("bucket", "event_type", "measure"),
      Some("""
        WITH c AS (SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS bucket,
                          event_type,
                          arg_min(value, ts) AS open, max(value) AS high,
                          min(value) AS low, arg_max(value, ts) AS close
                   FROM events GROUP BY 1, 2)
        SELECT bucket, event_type, measure, value
        FROM c UNPIVOT (value FOR measure IN (open, high, low, close))
        ORDER BY bucket, event_type, measure
      """)),

    // ---- FORWARD as-of: first click AT/AFTER each purchase --------------
    // Completes the direction family (backward asof_purchase_click,
    // nearest asof_nearest_click, forward here): post-purchase behavior —
    // the first click within 5 minutes AFTER the purchase. DuckDB's ASOF
    // operator only looks backward, so the oracle is the ranged-window
    // formulation both engines share. The 5-minute bound is what keeps
    // the join ranged (state-bounded) — the same tolerance discipline as
    // asof_purchase_click_tolerance, in mirror.
    Reg("asof_forward_click",
      (s, dir) => {
        val e = Tables(s, dir).events
        val p = e.filter(col("event_type") === "purchase")
          .select(col("event_id").as("p_id"), col("user_id"), col("ts").as("p_ts"))
        val c = e.filter(col("event_type") === "click")
          .select(col("user_id"), col("ts").as("c_ts"), col("value").as("c_val"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("p_id")).orderBy(col("c_ts"), col("c_val"))
        val first = p.join(c, Seq("user_id"))
          .filter(col("c_ts") >= col("p_ts") &&
            col("c_ts") <= col("p_ts") + expr("INTERVAL 5 MINUTES"))
          .withColumn("rk", row_number().over(w))
          .filter(col("rk") === 1)
          .select(col("p_id"), col("c_ts"), col("c_val"))
        p.join(first, Seq("p_id"), "left")
          .select(col("p_id"), col("user_id"),
            date_format(col("p_ts"), fmt).as("p_ts"),
            coalesce(date_format(col("c_ts"), fmt), lit("")).as("c_ts"),
            coalesce(col("c_val"), lit(-1.0)).as("c_val"))
          .orderBy("p_id")
      },
      Some("""
        WITH p AS (SELECT event_id AS p_id, user_id, ts AS p_ts
                   FROM events WHERE event_type = 'purchase'),
        c AS (SELECT user_id, ts AS c_ts, value AS c_val
              FROM events WHERE event_type = 'click'),
        j AS (SELECT p.p_id, c.c_ts, c.c_val,
                     row_number() OVER (PARTITION BY p.p_id
                       ORDER BY c.c_ts, c.c_val) AS rk
              FROM p JOIN c ON p.user_id = c.user_id
               AND c.c_ts >= p.p_ts
               AND c.c_ts <= p.p_ts + INTERVAL 5 MINUTES)
        SELECT p.p_id, p.user_id,
               strftime(p.p_ts, '%Y-%m-%d %H:%M:%S') AS p_ts,
               coalesce(strftime(j.c_ts, '%Y-%m-%d %H:%M:%S'), '') AS c_ts,
               coalesce(j.c_val, -1.0) AS c_val
        FROM p LEFT JOIN (SELECT * FROM j WHERE rk = 1) j ON p.p_id = j.p_id
        ORDER BY p.p_id
      """)),

    // ---- daily user growth: new / active / cumulative -------------------
    // The live-dashboard triple every event store serves: per day, users
    // seen for the first time, distinct active users, and the running
    // total of acquired users. first-seen is one hash-agg on user_id; the
    // cumulative sum runs on the DAILY relation (one row per day by
    // construction — the single-partition window is bounded by calendar
    // days, not data volume).
    Reg("user_growth_daily",
      (s, dir) => {
        val e = Tables(s, dir).events
        val firstSeen = e.groupBy(col("user_id"))
          .agg(min(date_trunc("day", col("ts"))).as("day"))
          .groupBy(col("day")).agg(count(lit(1)).as("n_new"))
        val active = e.groupBy(date_trunc("day", col("ts")).as("day"))
          .agg(countDistinct(col("user_id")).as("n_active"))
        val w = org.apache.spark.sql.expressions.Window
          .orderBy(col("day"))
          .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
        active.join(firstSeen, Seq("day"), "left")
          .select(col("day"), col("n_active"),
            coalesce(col("n_new"), lit(0L)).as("n_new"))
          .withColumn("n_cum", sum(col("n_new")).over(w))
          .select(date_format(col("day"), "yyyy-MM-dd").as("day"),
            col("n_active"), col("n_new"), col("n_cum"))
          .orderBy("day")
      },
      Some("""
        WITH fs AS (SELECT user_id, min(date_trunc('day', ts)) AS day
                    FROM events GROUP BY 1),
        nw AS (SELECT day, count(*) AS n_new FROM fs GROUP BY 1),
        act AS (SELECT date_trunc('day', ts) AS day,
                       count(DISTINCT user_id) AS n_active
                FROM events GROUP BY 1)
        SELECT strftime(act.day, '%Y-%m-%d') AS day, act.n_active,
               coalesce(nw.n_new, 0) AS n_new,
               CAST(sum(coalesce(nw.n_new, 0)) OVER (ORDER BY act.day
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS n_cum
        FROM act LEFT JOIN nw ON act.day = nw.day
        ORDER BY day
      """)),

    // ---- cohort retention: active users by (first-seen day, day offset) -
    // The canonical retention matrix: cohort = first-seen day, offset =
    // days since, cell = distinct users from that cohort active at that
    // offset. Shapes: first-seen hash-agg, distinct (user, day) pairs,
    // equi-join on user_id, hash-agg on (cohort, offset) — all map-side
    // combinable; nothing is quadratic in days or users.
    Reg("cohort_retention",
      (s, dir) => {
        val e = Tables(s, dir).events
        val fs = e.groupBy(col("user_id"))
          .agg(min(date_trunc("day", col("ts"))).as("d0"))
        e.select(col("user_id"), date_trunc("day", col("ts")).as("d")).distinct()
          .join(fs, "user_id")
          .withColumn("offset_d", datediff(col("d"), col("d0")).cast("long"))
          .groupBy(date_format(col("d0"), "yyyy-MM-dd").as("cohort"), col("offset_d"))
          .agg(countDistinct(col("user_id")).as("n_users"))
          .orderBy("cohort", "offset_d")
      },
      Some("""
        WITH fs AS (SELECT user_id, min(date_trunc('day', ts)) AS d0
                    FROM events GROUP BY 1),
        ud AS (SELECT DISTINCT user_id, date_trunc('day', ts) AS d FROM events)
        SELECT strftime(fs.d0, '%Y-%m-%d') AS cohort,
               CAST(date_diff('day', fs.d0, ud.d) AS BIGINT) AS offset_d,
               count(DISTINCT ud.user_id) AS n_users
        FROM ud JOIN fs ON ud.user_id = fs.user_id
        GROUP BY 1, 2 ORDER BY 1, 2
      """)),

    // ---- hourly log-free returns per series (integer permyriad) ---------
    // The per-candle return series every tsdb chart derives:
    // (close − prev_close)/prev_close as integer permyriad. Closes snap
    // exactly to cents (2-decimal fixture contract); `div` and DuckDB `//`
    // both truncate toward zero (verified incl. negatives), so the ratio
    // is integer-exact in both engines.
    Reg("candle_returns_1h",
      (s, dir) => {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("series")).orderBy(col("bucket"))
        TimeSeries.candles(Tables(s, dir).events, "hour")
          .withColumn("cc", round(col("close") * 100).cast("long"))
          .withColumn("pc", lag(col("cc"), 1).over(w))
          .filter(col("pc").isNotNull)
          .select(col("series").as("event_type"),
            date_format(col("bucket"), fmt).as("bucket"),
            col("cc").as("close_cents"),
            expr("(cc - pc) * 10000 div pc").as("ret_permyriad"))
          .orderBy("event_type", "bucket")
      },
      Some("""
        WITH c AS (SELECT event_type, date_trunc('hour', ts) AS b,
                          CAST(round(arg_max(value, ts) * 100) AS BIGINT) AS cc
                   FROM events GROUP BY 1, 2),
        l AS (SELECT event_type, b, cc,
                     lag(cc) OVER (PARTITION BY event_type ORDER BY b) AS pc
              FROM c)
        SELECT event_type, strftime(b, '%Y-%m-%d %H:%M:%S') AS bucket,
               cc AS close_cents,
               (cc - pc) * 10000 // pc AS ret_permyriad
        FROM l WHERE pc IS NOT NULL
        ORDER BY event_type, bucket
      """)),

    // ---- seasonality profile: hour-of-day × series ----------------------
    // The load/traffic shape behind capacity planning and anomaly
    // baselines: per (event_type, hour-of-day 0–23), event count and
    // cents-exact mean value (integer div). One hash-agg; hour() and
    // DuckDB's date_part('hour') agree on UTC timestamps.
    Reg("seasonality_hour_profile",
      (s, dir) => Tables(s, dir).events
        .groupBy(col("event_type"), hour(col("ts")).cast("long").as("hod"))
        .agg(count(lit(1)).as("n"),
          sum(round(col("value") * 100).cast("long")).as("_sum_cents"))
        .withColumn("mean_cents", expr("_sum_cents div n"))
        .drop("_sum_cents")
        .orderBy("event_type", "hod"),
      Some("""
        SELECT event_type, CAST(date_part('hour', ts) AS BIGINT) AS hod,
               count(*) AS n,
               CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
                 // count(*) AS mean_cents
        FROM events
        GROUP BY 1, 2 ORDER BY 1, 2
      """)),

    // ---- 8-tap linearly-weighted moving average (WMA) -------------------
    // The third smoother beside EMA/DEMA: weights 8,7,…,1 (÷36) over the
    // last 8 values — linear decay instead of exponential. Integer
    // arithmetic end to end (×36 cents), full windows only.
    Reg("wma_window_8",
      (s, dir) => {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("event_type")).orderBy(col("ts"))
        val vc = round(col("value") * 100).cast("long")
        val terms = (0 until 8).map { k =>
          (if (k == 0) vc else lag(vc, k).over(w)) * lit(8L - k) }
        Tables(s, dir).events
          .withColumn("wma8_x36_cents", terms.reduce(_ + _))
          .withColumn("_l7", lag(vc, 7).over(w))
          .filter(col("_l7").isNotNull)
          .select(col("event_id"), col("event_type"), col("wma8_x36_cents"))
          .orderBy("event_id")
      },
      Some("""
        WITH e AS (
          SELECT event_id, event_type,
                 CAST(round(value * 100) AS BIGINT) AS vc,
                 lag(CAST(round(value * 100) AS BIGINT), 1) OVER w AS l1,
                 lag(CAST(round(value * 100) AS BIGINT), 2) OVER w AS l2,
                 lag(CAST(round(value * 100) AS BIGINT), 3) OVER w AS l3,
                 lag(CAST(round(value * 100) AS BIGINT), 4) OVER w AS l4,
                 lag(CAST(round(value * 100) AS BIGINT), 5) OVER w AS l5,
                 lag(CAST(round(value * 100) AS BIGINT), 6) OVER w AS l6,
                 lag(CAST(round(value * 100) AS BIGINT), 7) OVER w AS l7
          FROM events
          WINDOW w AS (PARTITION BY event_type ORDER BY ts))
        SELECT event_id, event_type,
               8*vc + 7*l1 + 6*l2 + 5*l3 + 4*l4 + 3*l5 + 2*l6 + 1*l7
                 AS wma8_x36_cents
        FROM e
        WHERE l7 IS NOT NULL
        ORDER BY event_id
      """)),

    // ---- Bollinger bands: 20-candle SMA ± 2σ ----------------------------
    // The volatility envelope over the hourly close series. The window is
    // a deterministic 20-row frame over a total order, so both engines
    // fold the same 20 closes; stddev_samp is rounded at 4dp (same
    // precedent as stat_regression — sqrt is IEEE-correctly-rounded, the
    // variance differs only in last-ulp accumulation). Full windows only
    // (20th predecessor present), mirrored via lag(19).
    Reg("bollinger_20",
      (s, dir) => {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("series")).orderBy(col("bucket"))
        val w20 = w.rowsBetween(-19, 0)
        TimeSeries.candles(Tables(s, dir).events, "hour")
          .withColumn("_p19", lag(col("close"), 19).over(w))
          // windows BEFORE the full-window filter — filtering first would
          // shrink the frame to the surviving rows
          .withColumn("sma20", round(avg(col("close")).over(w20), 4))
          .withColumn("sd20", round(stddev_samp(col("close")).over(w20), 4))
          .filter(col("_p19").isNotNull)
          .select(col("series").as("event_type"),
            date_format(col("bucket"), fmt).as("bucket"),
            col("sma20"), col("sd20"))
          .orderBy("event_type", "bucket")
      },
      Some("""
        WITH c AS (SELECT event_type AS s, date_trunc('hour', ts) AS b,
                          arg_max(value, ts) AS close
                   FROM events GROUP BY 1, 2),
        l AS (SELECT s, b, close,
                     lag(close, 19) OVER (PARTITION BY s ORDER BY b) AS p19,
                     round(avg(close) OVER w20, 4) AS sma20,
                     round(stddev_samp(close) OVER w20, 4) AS sd20
              FROM c
              WINDOW w20 AS (PARTITION BY s ORDER BY b
                             ROWS BETWEEN 19 PRECEDING AND CURRENT ROW))
        SELECT s AS event_type, strftime(b, '%Y-%m-%d %H:%M:%S') AS bucket,
               sma20, sd20
        FROM l WHERE p19 IS NOT NULL
        ORDER BY event_type, bucket
      """)),

    // ---- cross-series correlation on the aligned hourly grid ------------
    // "Do these two metrics move together?": hourly mean value per series,
    // inner-joined on the hour (alignment!), then corr per series pair.
    // The hourly means are rounded to 4dp BEFORE the correlation so both
    // engines correlate the identical inputs; corr itself is rounded like
    // stat_regression. Unordered pairs via s1 < s2.
    Reg("series_correlation",
      (s, dir) => {
        val hourly = Tables(s, dir).events
          .groupBy(date_trunc("hour", col("ts")).as("b"), col("event_type"))
          .agg(round(avg(col("value")), 4).as("v"))
        val a = hourly.select(col("b"), col("event_type").as("s1"), col("v").as("v1"))
        val b = hourly.select(col("b"), col("event_type").as("s2"), col("v").as("v2"))
        a.join(b, Seq("b")).filter(col("s1") < col("s2"))
          .groupBy(col("s1"), col("s2"))
          .agg(count(lit(1)).as("n_hours"),
            round(corr(col("v1"), col("v2")), 4).as("corr_v"))
          .orderBy("s1", "s2")
      },
      Some("""
        WITH h AS (SELECT date_trunc('hour', ts) AS b, event_type,
                          round(avg(value), 4) AS v
                   FROM events GROUP BY 1, 2)
        SELECT a.event_type AS s1, b.event_type AS s2,
               count(*) AS n_hours,
               round(corr(a.v, b.v), 4) AS corr_v
        FROM h a JOIN h b ON a.b = b.b AND a.event_type < b.event_type
        GROUP BY 1, 2 ORDER BY 1, 2
      """)),

    // ---- event-type transition matrix (per-user next-event Markov) ------
    // Sequence analytics: for each user-ordered event pair, count
    // (from_type → to_type) transitions — the raw material of a Markov
    // behavior model. lead() over the per-user total order + one
    // hash-agg; all-integer output.
    Reg("event_transition_matrix",
      (s, dir) => {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
        Tables(s, dir).events
          .withColumn("next_type", lead(col("event_type"), 1).over(w))
          .filter(col("next_type").isNotNull)
          .groupBy(col("event_type").as("from_type"),
            col("next_type").as("to_type"))
          .agg(count(lit(1)).as("n"))
          .orderBy("from_type", "to_type")
      },
      Some("""
        WITH t AS (SELECT event_type,
                          lead(event_type) OVER (
                            PARTITION BY user_id ORDER BY ts, event_id) AS next_type
                   FROM events)
        SELECT event_type AS from_type, next_type AS to_type, count(*) AS n
        FROM t WHERE next_type IS NOT NULL
        GROUP BY 1, 2 ORDER BY 1, 2
      """)),

    // ---- ordered-step funnel within sessions ----------------------------
    // The conversion question "view → click → purchase IN ORDER within
    // one session": sessionize (30 min gap, the sessionize_30m CTE), take
    // each step's MIN ts per session, count sessions where the mins are
    // strictly ordered. Min-per-step is a hash-agg; the ordering check is
    // a filter — no per-event sequence scan, no quadratic step matching.
    Reg("funnel_ordered_steps",
      (s, dir) => {
        val steps = TimeSeries.sessionize(Tables(s, dir).events, 1800)
          .groupBy(col("user_id"), col("session_id"))
          .agg(min(when(col("event_type") === "view", col("ts"))).as("t_view"),
            min(when(col("event_type") === "click", col("ts"))).as("t_click"),
            min(when(col("event_type") === "purchase", col("ts"))).as("t_buy"))
        steps.agg(
          count(lit(1)).as("n_sessions"),
          count(col("t_view")).as("n_view"),
          count(when(col("t_view") < col("t_click"), 1)).as("n_view_click"),
          count(when(col("t_view") < col("t_click") &&
            col("t_click") < col("t_buy"), 1)).as("n_view_click_buy"))
      },
      Some("""
        WITH e AS (
          SELECT user_id, ts, event_id, event_type,
                 CASE WHEN lag(ts) OVER w IS NULL
                        OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
                      THEN 1 ELSE 0 END AS ns
          FROM events
          WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        s AS (SELECT user_id, ts, event_type,
                     sum(ns) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
              FROM e),
        st AS (SELECT user_id, sid,
                      min(ts) FILTER (event_type = 'view') AS t_view,
                      min(ts) FILTER (event_type = 'click') AS t_click,
                      min(ts) FILTER (event_type = 'purchase') AS t_buy
               FROM s GROUP BY 1, 2)
        SELECT count(*) AS n_sessions,
               count(t_view) AS n_view,
               count(*) FILTER (t_view < t_click) AS n_view_click,
               count(*) FILTER (t_view < t_click AND t_click < t_buy) AS n_view_click_buy
        FROM st
      """)),

    // ---- DAU/MAU stickiness per month -----------------------------------
    // The engagement ratio dashboards track: per month, the sum of daily
    // distinct users, days observed, monthly distinct users, and
    // stickiness = avg-DAU/MAU in integer permille
    // (sum_dau·1000 div (n_days·mau)). Two distinct hash-aggs + one
    // month agg — no window over raw data.
    Reg("dau_mau_month",
      (s, dir) => {
        val e = Tables(s, dir).events
        val dau = e.groupBy(date_trunc("day", col("ts")).as("d"))
          .agg(countDistinct(col("user_id")).as("dau"))
          .groupBy(date_trunc("month", col("d")).as("m"))
          .agg(sum(col("dau")).as("sum_dau"), count(lit(1)).as("n_days"))
        val mau = e.groupBy(date_trunc("month", col("ts")).as("m"))
          .agg(countDistinct(col("user_id")).as("mau"))
        dau.join(mau, "m")
          .select(date_format(col("m"), "yyyy-MM").as("month"),
            col("sum_dau"), col("n_days"), col("mau"),
            expr("sum_dau * 1000 div (n_days * mau)").as("stickiness_permille"))
          .orderBy("month")
      },
      Some("""
        WITH dau AS (SELECT date_trunc('day', ts) AS d,
                            count(DISTINCT user_id) AS dau
                     FROM events GROUP BY 1),
        m1 AS (SELECT date_trunc('month', d) AS m,
                      CAST(sum(dau) AS BIGINT) AS sum_dau,
                      count(*) AS n_days
               FROM dau GROUP BY 1),
        m2 AS (SELECT date_trunc('month', ts) AS m,
                      count(DISTINCT user_id) AS mau
               FROM events GROUP BY 1)
        SELECT strftime(m1.m, '%Y-%m') AS month,
               m1.sum_dau, m1.n_days, m2.mau,
               m1.sum_dau * 1000 // (m1.n_days * m2.mau) AS stickiness_permille
        FROM m1 JOIN m2 ON m1.m = m2.m
        ORDER BY month
      """)),

    // ---- Mann-Whitney U rank test, all type pairs (round-10) ------------
    // The NONPARAMETRIC two-sample test beside contingency_chi2 and
    // ab_conversion_wilson: does type A's value distribution
    // stochastically dominate type B's? Rank-based, so the statistic is
    // EXACT INTEGER arithmetic end-to-end: tied values take the average
    // rank, kept integral by working in DOUBLED ranks — for a distinct
    // value with cnt ties after cum_prev smaller rows, 2·avgrank =
    // 2·cum_prev + cnt + 1 — so R₁ and U₁ are exact int64 (never a
    // float rank sum). The z normalization (untied-variance form,
    // documented) is then one ÷,×,sqrt chain on identical doubles →
    // bit-identical, rounded to micros. Shapes: values collapse to the
    // DISTINCT-cents grain first (bounded domain — the window walks
    // distinct values, not rows), 10-row pair relation broadcast via two
    // equi-joins (never an OR-condition nested loop), one pair-keyed
    // window + agg.
    Reg("mann_whitney_u",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val e = Tables(s, dir).events
          .select(col("event_type").as("t"),
            expr("CAST(round(value * 100) AS BIGINT)").as("c"))
        val types = e.select(col("t")).distinct()
        val pairs = types.as("x").join(types.as("y"), col("x.t") < col("y.t"))
          .select(col("x.t").as("ta"), col("y.t").as("tb"))
        val m = e.join(broadcast(pairs), col("t") === col("ta"))
          .unionByName(e.join(broadcast(pairs), col("t") === col("tb")))
        val g = m.groupBy(col("ta"), col("tb"), col("c"))
          .agg(count(lit(1)).as("cnt"),
            sum(when(col("t") === col("ta"), 1L).otherwise(0L)).as("cnt1"))
        val w = Window.partitionBy(col("ta"), col("tb")).orderBy(col("c"))
          .rowsBetween(Window.unboundedPreceding, -1)
        g.withColumn("cum_prev", coalesce(sum(col("cnt")).over(w), lit(0L)))
          .groupBy(col("ta"), col("tb"))
          .agg(sum(col("cnt1")).as("n1"),
            sum(col("cnt") - col("cnt1")).as("n2"),
            sum(col("cnt1") * (lit(2L) * col("cum_prev") + col("cnt") + lit(1L)))
              .as("r1_2x"))
          .select(col("ta"), col("tb"), col("n1"), col("n2"),
            expr("r1_2x - n1 * (n1 + 1)").as("u1_2x"),
            expr("""CAST(round(CAST(r1_2x - n1 * (n1 + 1) - n1 * n2 AS DOUBLE)
                    / (CAST(2 AS DOUBLE)
                       * sqrt(CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)
                              * CAST(n1 + n2 + 1 AS DOUBLE)
                              / CAST(12 AS DOUBLE)))
                    * CAST(1000000 AS DOUBLE)) AS BIGINT)""").as("z_um"))
          .orderBy("ta", "tb")
      },
      Some("""
        WITH e AS (SELECT event_type AS t,
                          CAST(round(value * 100) AS BIGINT) AS c FROM events),
        ty AS (SELECT DISTINCT t FROM e),
        pairs AS (SELECT x.t AS ta, y.t AS tb FROM ty x JOIN ty y ON x.t < y.t),
        m AS (SELECT p.ta, p.tb, e.t, e.c FROM e JOIN pairs p ON e.t = p.ta
              UNION ALL
              SELECT p.ta, p.tb, e.t, e.c FROM e JOIN pairs p ON e.t = p.tb),
        g AS (SELECT ta, tb, c, count(*) AS cnt,
                     CAST(sum(CASE WHEN t = ta THEN 1 ELSE 0 END) AS BIGINT) AS cnt1
              FROM m GROUP BY 1, 2, 3),
        r AS (SELECT *, coalesce(sum(cnt) OVER (PARTITION BY ta, tb ORDER BY c
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_prev
              FROM g),
        s AS (SELECT ta, tb, CAST(sum(cnt1) AS BIGINT) AS n1,
                     CAST(sum(cnt - cnt1) AS BIGINT) AS n2,
                     CAST(sum(cnt1 * (2 * cum_prev + cnt + 1)) AS BIGINT) AS r1_2x
              FROM r GROUP BY 1, 2)
        SELECT ta, tb, n1, n2, r1_2x - n1 * (n1 + 1) AS u1_2x,
               CAST(round(CAST(r1_2x - n1 * (n1 + 1) - n1 * n2 AS DOUBLE)
                 / (CAST(2 AS DOUBLE)
                    * sqrt(CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)
                           * CAST(n1 + n2 + 1 AS DOUBLE)
                           / CAST(12 AS DOUBLE)))
                 * CAST(1000000 AS DOUBLE)) AS BIGINT) AS z_um
        FROM s ORDER BY ta, tb
      """)),

    // ---- cross-type Pearson correlation matrix (round-10) ---------------
    // Which metrics move together? Pairwise Pearson r over the five
    // types' daily-mean series — the monitoring primitive beside
    // autocorr_daily_lag (self) and ols_trend_daily (vs time). Exactness:
    // the six sufficient statistics (n, Σx, Σy, Σxy, Σx², Σy²) are EXACT
    // int64 sums of integer cents (never a float aggregation); the final
    // r = (nΣxy−ΣxΣy)/√((nΣx²−Σx²ₛ)(nΣy²−Σy²ₛ)) is then +,−,×,÷,sqrt on
    // identical doubles — every op IEEE-correctly-rounded, so both
    // engines produce the bit-identical double (the Wilson discipline)
    // before the micros rounding. The variance product is computed in
    // DOUBLE (int64 would overflow at ~10¹³·10¹³). Zero-variance series
    // emit sentinel 0. Shapes: day-grain agg, day-keyed self-join
    // (|days|·C(5,2) rows), one pair agg — co-partitioned on the day key.
    Reg("pearson_corr_types",
      (s, dir) => {
        val daily = Tables(s, dir).events
          .groupBy(col("event_type"), date_trunc("day", col("ts")).as("day"))
          .agg(expr("sum(CAST(round(value * 100) AS BIGINT)) div count(*)")
            .as("mean_c"))
        val j = daily.as("a").join(daily.as("b"),
          col("a.day") === col("b.day") &&
            col("a.event_type") < col("b.event_type"))
          .select(col("a.event_type").as("ta"), col("b.event_type").as("tb"),
            col("a.mean_c").as("x"), col("b.mean_c").as("y"))
        j.groupBy(col("ta"), col("tb"))
          .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
            sum(col("y")).as("sy"), sum(col("x") * col("y")).as("sxy"),
            sum(col("x") * col("x")).as("sxx"),
            sum(col("y") * col("y")).as("syy"))
          .select(col("ta"), col("tb"), col("n").as("n_days"),
            expr("""CASE WHEN n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0
                    THEN CAST(round(CAST(n * sxy - sx * sy AS DOUBLE)
                      / sqrt(CAST(n * sxx - sx * sx AS DOUBLE)
                             * CAST(n * syy - sy * sy AS DOUBLE))
                      * CAST(1000000 AS DOUBLE)) AS BIGINT)
                    ELSE CAST(0 AS BIGINT) END""").as("corr_um"))
          .orderBy("ta", "tb")
      },
      Some("""
        WITH daily AS (SELECT event_type, date_trunc('day', ts) AS day,
                              CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
                                // count(*) AS mean_c
                       FROM events GROUP BY 1, 2),
        p AS (SELECT a.event_type AS ta, b.event_type AS tb,
                     a.mean_c AS x, b.mean_c AS y
              FROM daily a JOIN daily b
                ON a.day = b.day AND a.event_type < b.event_type),
        st AS (SELECT ta, tb, count(*) AS n,
                      CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
                      CAST(sum(x * y) AS BIGINT) AS sxy,
                      CAST(sum(x * x) AS BIGINT) AS sxx,
                      CAST(sum(y * y) AS BIGINT) AS syy
               FROM p GROUP BY 1, 2)
        SELECT ta, tb, n AS n_days,
               CASE WHEN n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0
               THEN CAST(round(CAST(n * sxy - sx * sy AS DOUBLE)
                 / sqrt(CAST(n * sxx - sx * sx AS DOUBLE)
                        * CAST(n * syy - sy * sy AS DOUBLE))
                 * CAST(1000000 AS DOUBLE)) AS BIGINT)
               ELSE CAST(0 AS BIGINT) END AS corr_um
        FROM st ORDER BY ta, tb
      """)),

    // ---- t-digest quantile sketch clusters (round-10) -------------------
    // Completes the sketch shelf (HLL/KMV/CMS/bloom/bitmap) with the
    // MERGEABLE QUANTILE sketch: Dunning's t-digest (public), built here
    // with the k₁ scale function — a value's cluster is
    //   floor(δ · (asin(2q−1)/π + 1/2)),  q = (rank − ½)/n,  δ = 32
    // whose slope 1/(π√(q(1−q))) is steepest at the tails, so extreme-
    // quantile clusters hold O(1) points (p99/p999 stay sharp) while
    // mid-mass clusters hold ≤ ⌈πn/2δ⌉ — the defining t-digest size
    // bound, asserted by TDigestSpec along with the rank-error and
    // merge contracts. The digest is the OUTPUT relation (cluster →
    // count/min/max/centroid): two digests merge by re-clustering their
    // centroid multiset, which is how a 1000-executor tree-merge would
    // combine per-partition digests. Determinism: q is exact rational →
    // 2q−1 is the identical double both engines; asin (libm vs
    // StrictMath) is the one non-correctly-rounded op, guarded by the
    // immediate floor — only a value within 1 ulp of a cluster boundary
    // could diverge (swept at all three sfs); centroid is integer cents
    // through the sign-split div. Shape: one rank window + one hash agg.
    Reg("tdigest_clusters",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val wOrd = Window.partitionBy(col("event_type"))
          .orderBy(col("cents"), col("event_id"))
        val wAll = Window.partitionBy(col("event_type"))
        Tables(s, dir).events
          .select(col("event_type"), col("event_id"),
            expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
          .withColumn("rk", row_number().over(wOrd).cast("long"))
          .withColumn("n", count(lit(1)).over(wAll))
          .withColumn("cluster", expr(
            "CAST(floor(CAST(32 AS DOUBLE) * (" +
              "asin((CAST(2 AS DOUBLE) * (CAST(rk AS DOUBLE)" +
              " - CAST(0.5 AS DOUBLE)) / CAST(n AS DOUBLE))" +
              " - CAST(1 AS DOUBLE)) / pi()" +
              " + CAST(0.5 AS DOUBLE))) AS BIGINT)"))
          .groupBy(col("event_type"), col("cluster"))
          .agg(count(lit(1)).as("n_pts"),
            min(col("cents")).as("min_c"), max(col("cents")).as("max_c"),
            expr("CASE WHEN sum(cents) >= 0 THEN sum(cents) div count(*)" +
              " ELSE -((-sum(cents)) div count(*)) END").as("centroid_c"))
          .orderBy("event_type", "cluster")
      },
      Some("""
        WITH e AS (SELECT event_type, event_id,
                          CAST(round(value * 100) AS BIGINT) AS cents
                   FROM events),
        rk AS (SELECT event_type, cents,
                      CAST(row_number() OVER (PARTITION BY event_type
                        ORDER BY cents, event_id) AS BIGINT) AS rk,
                      count(*) OVER (PARTITION BY event_type) AS n
               FROM e),
        cl AS (SELECT event_type, cents,
                      CAST(floor(CAST(32 AS DOUBLE) * (
                        asin((CAST(2 AS DOUBLE) * (CAST(rk AS DOUBLE)
                          - CAST(0.5 AS DOUBLE)) / CAST(n AS DOUBLE))
                          - CAST(1 AS DOUBLE)) / pi()
                        + CAST(0.5 AS DOUBLE))) AS BIGINT) AS cluster
               FROM rk)
        SELECT event_type, cluster, count(*) AS n_pts,
               min(cents) AS min_c, max(cents) AS max_c,
               CAST(CASE WHEN sum(cents) >= 0 THEN sum(cents) // count(*)
                    ELSE -((-sum(cents)) // count(*)) END AS BIGINT) AS centroid_c
        FROM cl GROUP BY 1, 2 ORDER BY event_type, cluster
      """)),

    // ---- robust outliers: median absolute deviation (MAD) ---------------
    // The robust twin of zscore_outliers: mean/σ move with the outliers
    // they hunt; median/MAD do not. Two exact-median passes (per-type
    // median, then median of |x − med|) + a count of |x − med| > 3·MAD.
    // Spark `percentile(0.5)` and DuckDB `quantile_cont(0.5)` both
    // linearly interpolate the same order statistics, so the medians are
    // the identical doubles; the >3·MAD comparison happens on raw values
    // and only the emitted medians are rounded. At 100 TB exact medians
    // are the cost (full sort per group in the percentile agg) — the
    // approx_percentile twin with a tolerance contract is
    // approx_quantile_contract's pattern.
    Reg("mad_outliers",
      (s, dir) => {
        val e = Tables(s, dir).events
        val med = e.groupBy(col("event_type"))
          .agg(expr("percentile(value, 0.5)").as("med"))
        val mad = e.join(med, "event_type")
          .groupBy(col("event_type"), col("med"))
          .agg(expr("percentile(abs(value - med), 0.5)").as("mad"),
            count(lit(1)).as("n"))
        e.join(mad, "event_type")
          .groupBy(col("event_type"), col("med"), col("mad"), col("n"))
          .agg(count(when(abs(col("value") - col("med")) > col("mad") * 3, 1))
            .as("n_outliers"))
          .select(col("event_type"), round(col("med"), 4).as("med"),
            round(col("mad"), 4).as("mad"), col("n"), col("n_outliers"))
          .orderBy("event_type")
      },
      Some("""
        WITH med AS (SELECT event_type, quantile_cont(value, 0.5) AS med
                     FROM events GROUP BY 1),
        mad AS (SELECT e.event_type, m.med,
                       quantile_cont(abs(e.value - m.med), 0.5) AS mad,
                       count(*) AS n
                FROM events e JOIN med m ON e.event_type = m.event_type
                GROUP BY 1, 2)
        SELECT e.event_type, round(d.med, 4) AS med, round(d.mad, 4) AS mad,
               d.n, count(*) FILTER (abs(e.value - d.med) > d.mad * 3) AS n_outliers
        FROM events e JOIN mad d ON e.event_type = d.event_type
        GROUP BY e.event_type, d.med, d.mad, d.n
        ORDER BY e.event_type
      """)),

    // ---- RSI (Cutler's SMA form), 14-step ---------------------------------
    // Momentum oscillator: 1000·Σgains₁₄/(Σgains₁₄+Σlosses₁₄) as integer
    // permille. Deltas in cents (BIGINT) over the per-series total order
    // (unique-(event_type, ts) fixture contract), windowed sums of
    // non-negative BIGINTs, integer `div` ↔ `//` (operands non-negative,
    // truncation == floor). Full 14-delta windows only. One window pass,
    // one shuffle on event_type — the same 100 TB shape as ema_window_8.
    Reg("rsi_cutler_14",
      (s, dir) => {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("event_type")).orderBy(col("ts"))
        val w14 = w.rowsBetween(-13, 0)
        val vc = round(col("value") * 100).cast("long")
        Tables(s, dir).events
          .withColumn("d", vc - lag(vc, 1).over(w))
          .withColumn("g14", sum(greatest(col("d"), lit(0L))).over(w14))
          .withColumn("l14", sum(greatest(-col("d"), lit(0L))).over(w14))
          .withColumn("_hist", lag(vc, 14).over(w))
          .filter(col("_hist").isNotNull)
          .select(col("event_id"), col("event_type"),
            when(col("g14") + col("l14") === 0, lit(-1L))
              .otherwise(expr("(g14 * 1000) div (g14 + l14)")).as("rsi_permille"))
          .orderBy("event_id")
      },
      Some("""
        WITH d AS (
          SELECT event_id, event_type, ts,
                 CAST(round(value * 100) AS BIGINT) AS vc,
                 CAST(round(value * 100) AS BIGINT)
                   - lag(CAST(round(value * 100) AS BIGINT), 1) OVER w AS d,
                 lag(CAST(round(value * 100) AS BIGINT), 14) OVER w AS hist
          FROM events
          WINDOW w AS (PARTITION BY event_type ORDER BY ts)),
        g AS (
          SELECT event_id, event_type, hist,
                 CAST(sum(greatest(d, 0)) OVER w14 AS BIGINT) AS g14,
                 CAST(sum(greatest(-d, 0)) OVER w14 AS BIGINT) AS l14
          FROM d
          WINDOW w14 AS (PARTITION BY event_type ORDER BY ts
                         ROWS BETWEEN 13 PRECEDING AND CURRENT ROW))
        SELECT event_id, event_type,
               CASE WHEN g14 + l14 = 0 THEN -1
                    ELSE (g14 * 1000) // (g14 + l14) END AS rsi_permille
        FROM g WHERE hist IS NOT NULL
        ORDER BY event_id
      """)),

    // ---- stochastic oscillator %K(14) / %D(3) -----------------------------
    // %K = 1000·(v − min₁₄)/(max₁₄ − min₁₄) permille (integer div, operands
    // non-negative); %D kept as the UNDIVIDED 3-tap sum of %K (d_x3) so the
    // smoothing stays all-BIGINT. Rows need 16 predecessors (14-window for
    // %K at lag 2). min/max windows stay BIGINT on both engines.
    Reg("stochastic_14_3",
      (s, dir) => {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("event_type")).orderBy(col("ts"))
        val w14 = w.rowsBetween(-13, 0)
        val vc = round(col("value") * 100).cast("long")
        Tables(s, dir).events
          .withColumn("vc", vc)
          .withColumn("lo", min(col("vc")).over(w14))
          .withColumn("hi", max(col("vc")).over(w14))
          .withColumn("k", when(col("hi") === col("lo"), lit(-1L))
            .otherwise(expr("((vc - lo) * 1000) div (hi - lo)")))
          .withColumn("d_x3", col("k") + lag(col("k"), 1).over(w) + lag(col("k"), 2).over(w))
          .withColumn("_hist", lag(col("vc"), 15).over(w))
          .filter(col("_hist").isNotNull && col("d_x3").isNotNull)
          .select(col("event_id"), col("event_type"),
            col("k").as("k_permille"), col("d_x3").as("d_x3_permille"))
          .orderBy("event_id")
      },
      Some("""
        WITH v AS (
          SELECT event_id, event_type, ts,
                 CAST(round(value * 100) AS BIGINT) AS vc,
                 lag(CAST(round(value * 100) AS BIGINT), 15) OVER
                   (PARTITION BY event_type ORDER BY ts) AS hist
          FROM events),
        k AS (
          SELECT event_id, event_type, ts, hist,
                 CASE WHEN max(vc) OVER w14 = min(vc) OVER w14 THEN -1
                      ELSE ((vc - min(vc) OVER w14) * 1000)
                           // (max(vc) OVER w14 - min(vc) OVER w14) END AS k
          FROM v
          WINDOW w14 AS (PARTITION BY event_type ORDER BY ts
                         ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)),
        d AS (
          SELECT event_id, event_type, hist, k,
                 k + lag(k, 1) OVER w + lag(k, 2) OVER w AS d_x3
          FROM k WINDOW w AS (PARTITION BY event_type ORDER BY ts))
        SELECT event_id, event_type, k AS k_permille, d_x3 AS d_x3_permille
        FROM d WHERE hist IS NOT NULL AND d_x3 IS NOT NULL
        ORDER BY event_id
      """)),

    // ---- maximum drawdown per series --------------------------------------
    // Risk statistic: drawdown = (running-max − v)/running-max as integer
    // permyriad; per-series maximum. run_max can be 0 (a leading 0.00 value
    // exists at sf0.1) → guarded to 0 on both sides. Two window passes +
    // one hash-agg; all-BIGINT.
    Reg("max_drawdown",
      (s, dir) => {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("event_type")).orderBy(col("ts"))
          .rowsBetween(Long.MinValue, 0)
        val vc = round(col("value") * 100).cast("long")
        Tables(s, dir).events
          .withColumn("vc", vc)
          .withColumn("rm", max(col("vc")).over(w))
          .withColumn("dd", when(col("rm") > 0,
            expr("((rm - vc) * 10000) div rm")).otherwise(lit(0L)))
          .groupBy(col("event_type"))
          .agg(max(col("dd")).as("max_dd_permyriad"),
            max(col("rm")).as("peak_cents"), count(lit(1)).as("n"))
          .orderBy("event_type")
      },
      Some("""
        WITH r AS (
          SELECT event_type,
                 CAST(round(value * 100) AS BIGINT) AS vc,
                 max(CAST(round(value * 100) AS BIGINT)) OVER
                   (PARTITION BY event_type ORDER BY ts
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS rm
          FROM events)
        SELECT event_type,
               max(CASE WHEN rm > 0 THEN ((rm - vc) * 10000) // rm ELSE 0 END)
                 AS max_dd_permyriad,
               max(rm) AS peak_cents,
               count(*) AS n
        FROM r GROUP BY 1 ORDER BY 1
      """)),

    // ---- on-balance volume (running signed accumulation) ------------------
    // OBV: Σ sign(Δv)·v over the per-series total order — the classic
    // volume-flow accumulator. Signed cents, running BIGINT sum (DuckDB's
    // windowed sum types HUGEINT → CAST, the sessionize_30m note). First
    // row per series contributes 0 (no delta).
    Reg("obv_running",
      (s, dir) => {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("event_type")).orderBy(col("ts"))
        val vc = round(col("value") * 100).cast("long")
        Tables(s, dir).events
          .withColumn("vc", vc)
          .withColumn("d", col("vc") - lag(col("vc"), 1).over(w))
          .withColumn("sgn", when(col("d") > 0, 1L).when(col("d") < 0, -1L).otherwise(0L))
          .withColumn("obv_cents", sum(col("sgn") * col("vc")).over(
            w.rowsBetween(Long.MinValue, 0)))
          .select(col("event_id"), col("event_type"), col("obv_cents"))
          .orderBy("event_id")
      },
      Some("""
        WITH d AS (
          SELECT event_id, event_type, ts,
                 CAST(round(value * 100) AS BIGINT) AS vc,
                 CAST(round(value * 100) AS BIGINT)
                   - lag(CAST(round(value * 100) AS BIGINT), 1) OVER w AS d
          FROM events
          WINDOW w AS (PARTITION BY event_type ORDER BY ts))
        SELECT event_id, event_type,
               CAST(sum((CASE WHEN d > 0 THEN 1 WHEN d < 0 THEN -1 ELSE 0 END) * vc)
                 OVER (PARTITION BY event_type ORDER BY ts
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 AS BIGINT) AS obv_cents
        FROM d
        ORDER BY event_id
      """)),

    // ---- Donchian channel (prior-20 breakout) ------------------------------
    // Channel = [min, max] of the PRIOR 20 values (frame [-20, -1] — the
    // current value never sees itself, the standard breakout definition);
    // flag = +1 above the channel, −1 below, 0 inside. All-BIGINT window
    // min/max, full windows only.
    Reg("donchian_breakout_20",
      (s, dir) => {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("event_type")).orderBy(col("ts"))
        val w20 = w.rowsBetween(-20, -1)
        val vc = round(col("value") * 100).cast("long")
        Tables(s, dir).events
          .withColumn("vc", vc)
          .withColumn("upper", max(col("vc")).over(w20))
          .withColumn("lower", min(col("vc")).over(w20))
          .withColumn("_hist", lag(col("vc"), 20).over(w))
          .filter(col("_hist").isNotNull)
          .select(col("event_id"), col("event_type"),
            col("upper").as("upper_cents"), col("lower").as("lower_cents"),
            when(col("vc") > col("upper"), 1L)
              .when(col("vc") < col("lower"), -1L).otherwise(0L).as("breakout"))
          .orderBy("event_id")
      },
      Some("""
        WITH v AS (
          SELECT event_id, event_type, ts,
                 CAST(round(value * 100) AS BIGINT) AS vc,
                 lag(CAST(round(value * 100) AS BIGINT), 20) OVER
                   (PARTITION BY event_type ORDER BY ts) AS hist
          FROM events),
        c AS (
          SELECT event_id, event_type, vc, hist,
                 max(vc) OVER w20 AS upper_c,
                 min(vc) OVER w20 AS lower_c
          FROM v
          WINDOW w20 AS (PARTITION BY event_type ORDER BY ts
                         ROWS BETWEEN 20 PRECEDING AND 1 PRECEDING))
        SELECT event_id, event_type, upper_c AS upper_cents,
               lower_c AS lower_cents,
               CASE WHEN vc > upper_c THEN 1
                    WHEN vc < lower_c THEN -1 ELSE 0 END AS breakout
        FROM c WHERE hist IS NOT NULL
        ORDER BY event_id
      """)),

    // ---- 8-step TEMA: triple exponential smoothing -------------------------
    // TEMA = 3·EMA − 3·EMA(EMA) + EMA(EMA(EMA)) — the third layer of the
    // ema_window_8 → dema_window_8 integer family. Scales compose: ema1
    // ×128, ema2 ×128², ema3 ×128³, so TEMA×128³ = 3·16384·ema1 −
    // 3·128·ema2 + ema3. Rows need 21 predecessors; magnitudes stay ≤
    // ~4·10¹¹ (vc ≤ 6·10⁴) — all-BIGINT, zero float risk.
    Reg("tema_window_8",
      (s, dir) => {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("event_type")).orderBy(col("ts"))
        val weights = Seq(64L, 32L, 16L, 8L, 4L, 2L, 1L, 1L)
        def conv(c: org.apache.spark.sql.Column) =
          weights.zipWithIndex.map { case (wt, k) =>
            (if (k == 0) c else lag(c, k).over(w)) * lit(wt) }.reduce(_ + _)
        val vc = round(col("value") * 100).cast("long")
        Tables(s, dir).events
          .withColumn("ema1", when(lag(vc, 7).over(w).isNotNull, conv(vc)))
          .withColumn("ema2", conv(col("ema1")))
          .withColumn("ema3", conv(col("ema2")))
          .withColumn("tema_x2097152_cents",
            col("ema1") * lit(3L * 16384L) - col("ema2") * lit(3L * 128L) + col("ema3"))
          .filter(col("tema_x2097152_cents").isNotNull)
          .select(col("event_id"), col("event_type"), col("tema_x2097152_cents"))
          .orderBy("event_id")
      },
      Some("""
        WITH e AS (
          SELECT event_id, event_type, ts,
                 CAST(round(value * 100) AS BIGINT) AS vc
          FROM events),
        m1 AS (
          SELECT event_id, event_type, ts,
                 CASE WHEN lag(vc, 7) OVER w IS NOT NULL THEN
                   64*vc + 32*lag(vc,1) OVER w + 16*lag(vc,2) OVER w
                   + 8*lag(vc,3) OVER w + 4*lag(vc,4) OVER w
                   + 2*lag(vc,5) OVER w + 1*lag(vc,6) OVER w
                   + 1*lag(vc,7) OVER w END AS ema1
          FROM e WINDOW w AS (PARTITION BY event_type ORDER BY ts)),
        m2 AS (
          SELECT event_id, event_type, ts, ema1,
                 64*ema1 + 32*lag(ema1,1) OVER w + 16*lag(ema1,2) OVER w
                 + 8*lag(ema1,3) OVER w + 4*lag(ema1,4) OVER w
                 + 2*lag(ema1,5) OVER w + 1*lag(ema1,6) OVER w
                 + 1*lag(ema1,7) OVER w AS ema2
          FROM m1 WINDOW w AS (PARTITION BY event_type ORDER BY ts)),
        m3 AS (
          SELECT event_id, event_type, ema1, ema2,
                 64*ema2 + 32*lag(ema2,1) OVER w + 16*lag(ema2,2) OVER w
                 + 8*lag(ema2,3) OVER w + 4*lag(ema2,4) OVER w
                 + 2*lag(ema2,5) OVER w + 1*lag(ema2,6) OVER w
                 + 1*lag(ema2,7) OVER w AS ema3
          FROM m2 WINDOW w AS (PARTITION BY event_type ORDER BY ts))
        SELECT event_id, event_type,
               CAST(ema1 * 49152 - ema2 * 384 + ema3 AS BIGINT)
                 AS tema_x2097152_cents
        FROM m3
        WHERE ema1 * 49152 - ema2 * 384 + ema3 IS NOT NULL
        ORDER BY event_id
      """)),

    // ---- lag-1 autocorrelation per series ----------------------------------
    // Serial dependence: Pearson r between v and lag(v). Computed from
    // EXACT BIGINT moment sums over cents (sums fit: Σx² ≤ 2·10¹⁴ per
    // series at sf0.1), then ONE identical double expression on both
    // engines — the summation-order hazard is confined to integer adds,
    // which commute exactly. round(6) guards the final formula's last ulp.
    Reg("autocorr_lag1",
      (s, dir) => {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("event_type")).orderBy(col("ts"))
        val vc = round(col("value") * 100).cast("long")
        Tables(s, dir).events
          .withColumn("x", vc)
          .withColumn("y", lag(vc, 1).over(w))
          .filter(col("y").isNotNull)
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"), sum(col("y")).as("sy"),
            sum(col("x") * col("y")).as("sxy"),
            sum(col("x") * col("x")).as("sxx"),
            sum(col("y") * col("y")).as("syy"))
          .select(col("event_type"), col("n"),
            round(
              (col("n").cast("double") * col("sxy") - col("sx").cast("double") * col("sy")) /
                (sqrt(col("n").cast("double") * col("sxx") - col("sx").cast("double") * col("sx")) *
                 sqrt(col("n").cast("double") * col("syy") - col("sy").cast("double") * col("sy"))),
              6).as("acf1"))
          .orderBy("event_type")
      },
      Some("""
        WITH p AS (
          SELECT event_type,
                 CAST(round(value * 100) AS BIGINT) AS x,
                 lag(CAST(round(value * 100) AS BIGINT), 1) OVER
                   (PARTITION BY event_type ORDER BY ts) AS y
          FROM events),
        m AS (
          SELECT event_type, count(*) AS n,
                 CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
                 CAST(sum(x * y) AS BIGINT) AS sxy,
                 CAST(sum(x * x) AS BIGINT) AS sxx,
                 CAST(sum(y * y) AS BIGINT) AS syy
          FROM p WHERE y IS NOT NULL GROUP BY 1)
        SELECT event_type, n,
               round(
                 (CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy) /
                 (sqrt(CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx) *
                  sqrt(CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy)),
               6) AS acf1
        FROM m
        ORDER BY event_type
      """)),

    // ---- hour-of-day percentile anomaly bands (discrete, integer-exact) ---
    // The seasonality_hour_profile upgraded to an anomaly ENVELOPE: per
    // (series, hour-of-day), the p05/p95 band plus how many events fall
    // outside it. Band edges are DISCRETE order statistics in cents (the
    // ⌈q·n⌉-th smallest value — an actual data value), NOT interpolated
    // percentiles: at sf0.1 the interpolated p05 lands exactly on
    // duplicated cent values and a last-ulp cross-engine difference flips
    // the boundary comparisons. Order statistics + cent comparisons are
    // BIGINT-exact end to end. ⌈q·n⌉ is the same IEEE double on both
    // engines. Two window passes + one hash-agg + a 120-row join.
    Reg("hourly_percentile_bands",
      (s, dir) => {
        val e = Tables(s, dir).events
          .withColumn("hod", hour(col("ts")).cast("long"))
          .withColumn("vc", round(col("value") * 100).cast("long"))
        val wOrd = org.apache.spark.sql.expressions.Window
          .partitionBy(col("event_type"), col("hod")).orderBy(col("vc"))
        val wAll = org.apache.spark.sql.expressions.Window
          .partitionBy(col("event_type"), col("hod"))
        val bands = e
          .withColumn("rn", row_number().over(wOrd))
          .withColumn("cnt", count(lit(1)).over(wAll))
          .groupBy(col("event_type"), col("hod"))
          .agg(
            max(when(col("rn") === ceil(col("cnt") * 0.05), col("vc"))).as("p05_cents"),
            max(when(col("rn") === ceil(col("cnt") * 0.95), col("vc"))).as("p95_cents"))
        e.join(bands, Seq("event_type", "hod"))
          .groupBy(col("event_type"), col("hod"), col("p05_cents"), col("p95_cents"))
          .agg(count(lit(1)).as("n"),
            count(when(col("vc") < col("p05_cents"), 1)).as("n_below"),
            count(when(col("vc") > col("p95_cents"), 1)).as("n_above"))
          .select(col("event_type"), col("hod"), col("n"),
            col("p05_cents"), col("p95_cents"), col("n_below"), col("n_above"))
          .orderBy("event_type", "hod")
      },
      Some("""
        WITH v AS (
          SELECT event_type, date_part('hour', ts) AS hod,
                 CAST(round(value * 100) AS BIGINT) AS vc
          FROM events),
        r AS (SELECT event_type, hod, vc,
                     row_number() OVER (PARTITION BY event_type, hod ORDER BY vc) AS rn,
                     count(*) OVER (PARTITION BY event_type, hod) AS cnt
              FROM v),
        b AS (SELECT event_type, hod,
                     max(CASE WHEN rn = CAST(ceil(cnt * 0.05) AS BIGINT) THEN vc END) AS p05_cents,
                     max(CASE WHEN rn = CAST(ceil(cnt * 0.95) AS BIGINT) THEN vc END) AS p95_cents
              FROM r GROUP BY 1, 2)
        SELECT v.event_type, CAST(b.hod AS BIGINT) AS hod, count(*) AS n,
               b.p05_cents, b.p95_cents,
               count(CASE WHEN v.vc < b.p05_cents THEN 1 END) AS n_below,
               count(CASE WHEN v.vc > b.p95_cents THEN 1 END) AS n_above
        FROM v JOIN b ON v.event_type = b.event_type AND v.hod = b.hod
        GROUP BY v.event_type, b.hod, b.p05_cents, b.p95_cents
        ORDER BY v.event_type, hod
      """)),

    // ---- compounded return index via Spark 4 RECURSIVE CTE -----------------
    // The equity-curve computation: level_w = level_{w−1} · (1 + r_w),
    // seeded at 10000 — a MULTIPLICATIVE recurrence that window frames
    // cannot express without a lossy log transform, so this is the
    // honest use case for WITH RECURSIVE (UnionLoopExec; Spark 4.1
    // supports UNION ALL recursion — each step joins the previous week,
    // strictly increasing rn terminates at the series end, under the
    // default recursion limit). Round-7: the grain moved from daily to
    // WEEKLY closes (the round-6 verdict's named lever) — the recurrence,
    // integer discipline and oracle shape are identical, but the loop
    // depth drops 30 → ~5 steps; at micro-scale each UnionLoop step is a
    // sequential job, so depth IS the cost (measured 4.7 s → ~1 s at
    // sf0.1). All-BIGINT: returns in truncated permyriad, level scaled
    // ×10000. `div` ↔ `//` here rides on BOTH engines truncating integer
    // division toward zero (verified: -15 div 10 = -1 in Spark AND
    // -15 // 10 = -1 in DuckDB), which is what makes the SIGNED numerator
    // (cc - pc, negative on down weeks) safe — NOT the usual
    // non-negative-operands discipline the other indicator queries use. A
    // zero previous close contributes r = 0 on both sides. The identical
    // recursion runs in DuckDB (both engines truncate 'week' to Monday).
    Reg("compound_index_weekly",
      (s, dir) => {
        // materialize the ~25-row returns relation ONCE (localCheckpoint —
        // the connectedComponents discipline): UnionLoopExec re-executes
        // the step subtree every iteration, and without this the weekly
        // agg + windows re-ran per loop step (measured 8.2 s → ~1 s at
        // sf0.1 when this landed for the daily grain).
        // The whole recursion ALSO materializes under 4 shuffle
        // partitions (Shared.withConf — Verify/Bench run queries
        // sequentially): loop steps over ≤150 rows at the session's 32
        // partitions is pure task-scheduling overhead.
        graft.Shared.withConf(s, "spark.sql.shuffle.partitions" -> "4") {
          val w = org.apache.spark.sql.expressions.Window
            .partitionBy(col("event_type")).orderBy(col("d"))
          Tables(s, dir).events
            .groupBy(col("event_type"), date_trunc("week", col("ts")).as("d"))
            .agg(round(max_by(col("value"), col("ts")) * 100).cast("long").as("cc"))
            .withColumn("rn", row_number().over(w))
            .withColumn("pc", lag(col("cc"), 1).over(w))
            .withColumn("ret", when(col("pc").isNull || col("pc") === 0, 0L)
              .otherwise(expr("(cc - pc) * 10000 div pc")))
            .select(col("event_type"), col("rn"), col("d"), col("ret"))
            .localCheckpoint(true)
            .createOrReplaceTempView("compound_rets_v")
          s.sql("""
            WITH RECURSIVE
            lvl(event_type, rn, level) AS (
              SELECT event_type, rn, CAST(10000 AS BIGINT)
              FROM compound_rets_v WHERE rn = 1
              UNION ALL
              SELECT r.event_type, r.rn, (l.level * (10000 + r.ret)) div 10000
              FROM lvl l JOIN compound_rets_v r
                ON r.event_type = l.event_type AND r.rn = l.rn + 1)
            SELECT l.event_type, date_format(r.d, 'yyyy-MM-dd') AS week_start,
                   l.level AS index_x1e4
            FROM lvl l JOIN compound_rets_v r
              ON r.event_type = l.event_type AND r.rn = l.rn
          """).localCheckpoint(true)
            .orderBy("event_type", "week_start")
        }
      },
      Some("""
        WITH RECURSIVE
        weekly AS (
          SELECT event_type, date_trunc('week', ts) AS d,
                 CAST(round(arg_max(value, ts) * 100) AS BIGINT) AS cc
          FROM events GROUP BY 1, 2),
        seq AS (
          SELECT event_type, d, cc,
                 row_number() OVER (PARTITION BY event_type ORDER BY d) AS rn,
                 lag(cc) OVER (PARTITION BY event_type ORDER BY d) AS pc
          FROM weekly),
        rets AS (
          SELECT event_type, rn, d,
                 CASE WHEN pc IS NULL OR pc = 0 THEN 0
                      ELSE (cc - pc) * 10000 // pc END AS ret
          FROM seq),
        lvl(event_type, rn, level) AS (
          SELECT event_type, rn, CAST(10000 AS BIGINT) FROM rets WHERE rn = 1
          UNION ALL
          SELECT r.event_type, r.rn, (l.level * (10000 + r.ret)) // 10000
          FROM lvl l JOIN rets r
            ON r.event_type = l.event_type AND r.rn = l.rn + 1)
        SELECT l.event_type, strftime(r.d, '%Y-%m-%d') AS week_start,
               l.level AS index_x1e4
        FROM lvl l JOIN rets r ON r.event_type = l.event_type AND r.rn = l.rn
        ORDER BY 1, 2
      """)),

    // ---- within-session event-type co-occurrence ---------------------------
    // Market-basket analytics over behavior sessions: for every 30-min
    // session, which DISTINCT event-type pairs co-occur, counted across
    // all sessions. Sessionize (lag + running sum) → distinct types per
    // session → within-session pair expansion (fan-out bounded by the
    // 5-type vocabulary, never by session length) → one hash-agg.
    Reg("session_pair_counts",
      (s, dir) => {
        val sess = TimeSeries.sessionize(Tables(s, dir).events, 1800)
          .select(col("user_id"), col("session_id"), col("event_type")).distinct()
        val a = sess.select(col("user_id"), col("session_id"), col("event_type").as("ta"))
        val b = sess.select(col("user_id"), col("session_id"), col("event_type").as("tb"))
        a.join(b, Seq("user_id", "session_id"))
          .filter(col("ta") < col("tb"))
          .groupBy(col("ta"), col("tb"))
          .agg(count(lit(1)).as("n_sessions"))
          .orderBy("ta", "tb")
      },
      Some("""
        WITH e AS (
          SELECT user_id, ts, event_id, event_type,
                 CASE WHEN lag(ts) OVER w IS NULL
                        OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
                      THEN 1 ELSE 0 END AS ns
          FROM events
          WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        s AS (SELECT user_id, event_type,
                     CAST(sum(ns) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
              FROM e),
        d AS (SELECT DISTINCT user_id, session_id, event_type FROM s)
        SELECT a.event_type AS ta, b.event_type AS tb, count(*) AS n_sessions
        FROM d a JOIN d b
          ON a.user_id = b.user_id AND a.session_id = b.session_id
         AND a.event_type < b.event_type
        GROUP BY 1, 2
        ORDER BY 1, 2
      """)),

    // ---- TWAP: time-weighted average price per type per day (round-8) ---
    // vwap_daily's duration-weighted twin: each observation is weighted by
    // the µs interval until the NEXT observation of the same series that
    // day (the last one carries no interval and is excluded — the standard
    // right-open TWAP). Integer arithmetic end to end: cents × µs sums
    // and one BIGINT division, hash-exact cross-engine (value ≥ 0 in the
    // fixture, so trunc-vs-floor division semantics never diverge; at
    // sf ≥ 10 the cents·µs products approach int64 range — move to
    // DECIMAL(38) there). One window + one hash agg, both keyed by
    // (event_type, day): partition-local at any scale.
    Reg("twap_daily",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy(col("event_type"), col("day"))
          .orderBy(col("ts"), col("event_id"))
        Tables(s, dir).events
          .withColumn("day", date_format(col("ts"), "yyyy-MM-dd"))
          .withColumn("dur_us",
            unix_micros(lead(col("ts"), 1).over(w)) - unix_micros(col("ts")))
          .withColumn("vc", expr("CAST(round(value * 100) AS BIGINT)"))
          .filter(col("dur_us").isNotNull)
          .groupBy(col("event_type"), col("day"))
          .agg(expr("sum(vc * dur_us) div sum(dur_us)").as("twap_cents"),
            count(lit(1)).as("n_seg"))
          .orderBy("event_type", "day")
      },
      Some("""
        WITH e AS (SELECT event_type, strftime(ts, '%Y-%m-%d') AS day, ts, event_id,
                          CAST(round(value * 100) AS BIGINT) AS vc
                   FROM events),
        d AS (SELECT event_type, day, vc,
                     epoch_us(lead(ts) OVER (PARTITION BY event_type, day
                                             ORDER BY ts, event_id)) - epoch_us(ts) AS dur_us
              FROM e)
        SELECT event_type, day,
               CAST(sum(vc * dur_us) // sum(dur_us) AS BIGINT) AS twap_cents,
               count(*) AS n_seg
        FROM d WHERE dur_us IS NOT NULL
        GROUP BY 1, 2 ORDER BY 1, 2
      """)),

    // ---- CEP: regex pattern matching over per-user event sequences ------
    // MATCH_RECOGNIZE-lite (round-8): materialize each user's event-type
    // sequence as a code string in strict (ts, event_id) order, then count
    // non-overlapping 'v[ce]*p' runs — "view, any clicks/errors, then
    // purchase", the funnel-with-noise pattern funnel_ordered_steps can't
    // express. collect_list + array_sort keeps the sort PER GROUP (no
    // global sort); the string is bounded by a user's event count. Java
    // regex and RE2 agree on greedy non-overlapping scans of this
    // alternation-free pattern, and first letters of the five fixture
    // event types are distinct (c/e/p/s/v), so codes are unambiguous.
    Reg("event_seq_regex",
      (s, dir) => Tables(s, dir).events
        .select(col("user_id"), col("ts"), col("event_id"),
          expr("substring(event_type, 1, 1)").as("code"))
        .groupBy(col("user_id"))
        .agg(expr(
          "array_join(transform(array_sort(collect_list(struct(ts, event_id, code))), x -> x.code), '')")
          .as("seq"))
        .select(col("user_id"),
          length(col("seq")).cast("long").as("n_events"),
          expr("CAST(regexp_count(seq, 'v[ce]*p') AS BIGINT)").as("n_conv"),
          col("seq"))
        .orderBy("user_id"),
      Some("""
        WITH s AS (SELECT user_id,
                          string_agg(substr(event_type, 1, 1), '' ORDER BY ts, event_id) AS seq
                   FROM events GROUP BY 1)
        SELECT user_id, length(seq) AS n_events,
               CAST(len(regexp_extract_all(seq, 'v[ce]*p')) AS BIGINT) AS n_conv,
               seq
        FROM s ORDER BY user_id
      """)),

    // ---- CEP #2: alternation + longest-run measures (round-8) -----------
    // event_seq_regex's richer patterns over the same per-user sequence:
    // an ALTERNATION funnel '(s|v)c*p' (signup-or-view, clicks, purchase)
    // and the longest consecutive-error run (max match length of 'e+') —
    // the streak statistic regex quantifiers express and window frames
    // don't. Greedy non-overlapping scans of alternation/quantifier
    // patterns agree between Java regex and RE2; lengths cast to BIGINT
    // on both sides.
    Reg("event_seq_error_runs",
      (s, dir) => Tables(s, dir).events
        .select(col("user_id"), col("ts"), col("event_id"),
          expr("substring(event_type, 1, 1)").as("code"))
        .groupBy(col("user_id"))
        .agg(expr(
          "array_join(transform(array_sort(collect_list(struct(ts, event_id, code))), x -> x.code), '')")
          .as("seq"))
        .select(col("user_id"),
          expr("CAST(regexp_count(seq, '(s|v)c*p') AS BIGINT)").as("n_alt_conv"),
          expr("CAST(coalesce(array_max(transform(regexp_extract_all(seq, 'e+', 0), x -> length(x))), 0) AS BIGINT)")
            .as("max_error_run"),
          expr("CAST(regexp_count(seq, 'ee') AS BIGINT)").as("n_error_pairs"))
        .orderBy("user_id"),
      Some("""
        WITH s AS (SELECT user_id,
                          string_agg(substr(event_type, 1, 1), '' ORDER BY ts, event_id) AS seq
                   FROM events GROUP BY 1)
        SELECT user_id,
               CAST(len(regexp_extract_all(seq, '(s|v)c*p')) AS BIGINT) AS n_alt_conv,
               CAST(coalesce(list_max(list_transform(regexp_extract_all(seq, 'e+'), x -> length(x))), 0) AS BIGINT) AS max_error_run,
               CAST(len(regexp_extract_all(seq, 'ee')) AS BIGINT) AS n_error_pairs
        FROM s ORDER BY user_id
      """)),

    // ---- CEP #3: BOUNDED QUANTIFIERS (round-9) --------------------------
    // MATCH_RECOGNIZE-style quantified groups over the same per-user code
    // sequence: 'vc{2,}p' (view, AT LEAST two clicks, purchase — the
    // engaged-conversion funnel) and 'vc{0,2}p' (an IMPULSE conversion:
    // at most two clicks between view and purchase). Greedy
    // non-overlapping scans of counted quantifiers agree between Java
    // regex and RE2; together with event_seq_regex (Kleene star) and
    // event_seq_error_runs (alternation, plus-runs) this covers the
    // quantifier surface a MATCH_RECOGNIZE user writes. Same plan shape:
    // one per-user collect_list (bounded by per-user event count), no
    // global sort, no join.
    Reg("event_seq_quantified",
      (s, dir) => Tables(s, dir).events
        .select(col("user_id"), col("ts"), col("event_id"),
          expr("substring(event_type, 1, 1)").as("code"))
        .groupBy(col("user_id"))
        .agg(expr(
          "array_join(transform(array_sort(collect_list(struct(ts, event_id, code))), x -> x.code), '')")
          .as("seq"))
        .select(col("user_id"),
          expr("CAST(regexp_count(seq, 'vc{2,}p') AS BIGINT)").as("n_engaged"),
          expr("CAST(regexp_count(seq, 'vc{0,2}p') AS BIGINT)").as("n_impulse"),
          expr("CAST(regexp_count(seq, '(vc)+p') AS BIGINT)").as("n_strict_alt"))
        .orderBy("user_id"),
      Some("""
        WITH s AS (SELECT user_id,
                          string_agg(substr(event_type, 1, 1), '' ORDER BY ts, event_id) AS seq
                   FROM events GROUP BY 1)
        SELECT user_id,
               CAST(len(regexp_extract_all(seq, 'vc{2,}p')) AS BIGINT) AS n_engaged,
               CAST(len(regexp_extract_all(seq, 'vc{0,2}p')) AS BIGINT) AS n_impulse,
               CAST(len(regexp_extract_all(seq, '(vc)+p')) AS BIGINT) AS n_strict_alt
        FROM s ORDER BY user_id
      """)),

    // ---- CDC compaction: keep-latest per business key (round-8) ---------
    // The changelog-to-snapshot primitive every incremental warehouse
    // runs: per (user_id, event_type) keep ONLY the latest event —
    // row_number() over (key ORDER BY ts DESC, event_id DESC) = 1, the
    // dedup-by-recency twin of dedup_exact's dedup-by-content. One window
    // shuffle keyed by the business key; at 100 TB this is the standard
    // MERGE-free compaction pass over a day's changelog partition.
    // (event_id tie-break: ts alone is unique per type in the fixture,
    // but compaction must not DEPEND on that.)
    Reg("dedup_keep_latest",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy(col("user_id"), col("event_type"))
          .orderBy(col("ts").desc, col("event_id").desc)
        Tables(s, dir).events
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") === 1)
          .select(col("user_id"), col("event_type"),
            date_format(col("ts"), fmt).as("last_ts"),
            col("event_id").as("last_event_id"),
            expr("CAST(round(value * 100) AS BIGINT)").as("last_value_cents"))
          .orderBy("user_id", "event_type")
      },
      Some("""
        WITH r AS (SELECT user_id, event_type, ts, event_id, value,
                          row_number() OVER (PARTITION BY user_id, event_type
                                             ORDER BY ts DESC, event_id DESC) AS rn
                   FROM events)
        SELECT user_id, event_type,
               strftime(ts, '%Y-%m-%d %H:%M:%S') AS last_ts,
               event_id AS last_event_id,
               CAST(round(value * 100) AS BIGINT) AS last_value_cents
        FROM r WHERE rn = 1
        ORDER BY user_id, event_type
      """)),

    // ---- interval merge / coverage (round-9) ----------------------------
    // The overlap-union primitive sessionize_30m is NOT: sessionize merges
    // POINTS by gap, this merges INTERVALS by overlap — each event opens a
    // 5-minute [ts, ts+300 s) activity lease, overlapping/touching leases
    // fuse, and the per-user report is the merged-island count, total
    // covered µs and longest island (the uptime/SLA-coverage shape; also
    // the span-coalescing pass a substring-dedup consumer runs before
    // cutting). Classic gaps-and-islands: ONE window partitioned by user
    // — running max of interval end over preceding rows, island breaks
    // where start > that max (half-open touching MERGES: start == end is
    // not a gap), islands keyed by the running break sum, then one hash
    // agg. All integer µs. At 100 TB both the window and the agg key on
    // user_id — partition-local, no join, linear.
    Reg("interval_merge_coverage",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val ord = Window.partitionBy(col("user_id")).orderBy(col("us"), col("event_id"))
        val prevEnd = ord.rowsBetween(Window.unboundedPreceding, -1)
        Tables(s, dir).events
          .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("us"))
          .withColumn("en", col("us") + 300000000L)
          .withColumn("pmax", max(col("en")).over(prevEnd))
          .withColumn("brk",
            when(col("pmax").isNull || col("us") > col("pmax"), 1L).otherwise(0L))
          .withColumn("island", sum(col("brk")).over(ord))
          .groupBy(col("user_id"), col("island"))
          .agg(min(col("us")).as("lo"), max(col("en")).as("hi"))
          .groupBy(col("user_id"))
          .agg(count(lit(1)).as("n_islands"),
            sum(col("hi") - col("lo")).as("covered_us"),
            max(col("hi") - col("lo")).as("max_island_us"))
          .orderBy("user_id")
      },
      Some("""
        WITH iv AS (SELECT user_id, event_id, epoch_us(ts) AS us,
                           epoch_us(ts) + 300000000 AS en
                    FROM events),
        m AS (SELECT user_id, us, en,
                     max(en) OVER (PARTITION BY user_id ORDER BY us, event_id
                                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pmax,
                     event_id
              FROM iv),
        b AS (SELECT user_id, us, en,
                     CASE WHEN pmax IS NULL OR us > pmax THEN 1 ELSE 0 END AS brk,
                     event_id
              FROM m),
        isl AS (SELECT user_id, us, en,
                       sum(brk) OVER (PARTITION BY user_id ORDER BY us, event_id
                                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
                FROM b),
        g AS (SELECT user_id, island, min(us) AS lo, max(en) AS hi
              FROM isl GROUP BY 1, 2)
        SELECT user_id, count(*) AS n_islands,
               CAST(sum(hi - lo) AS BIGINT) AS covered_us,
               max(hi - lo) AS max_island_us
        FROM g GROUP BY 1 ORDER BY user_id
      """)),

    // ---- SCD Type 2 history build (round-9) -----------------------------
    // The dimension-versioning twin of dedup_keep_latest (which keeps the
    // CURRENT row; this keeps the FULL version chain): treat each user's
    // event stream as a CDC feed of their "state" (event_type), collapse
    // consecutive runs of the same state (only CHANGES open a version),
    // and emit [valid_from, valid_to) intervals — valid_to = next
    // version's valid_from, NULL on the open current version, plus the
    // version ordinal. Two windows over the same (user, ts, event_id)
    // order — one lag() to mark changes, one lead() AFTER the run
    // collapse for the interval close — both partition-local on user_id
    // at any scale; no join. This is how a warehouse derives an
    // as-of-queryable dimension from an append-only changelog.
    Reg("scd2_user_state",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val ord = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
        val chg = Tables(s, dir).events
          .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
          .withColumn("prev", lag(col("event_type"), 1).over(ord))
          .filter(col("prev").isNull || col("prev") =!= col("event_type"))
        val vord = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
        chg
          .withColumn("version", row_number().over(vord))
          .withColumn("valid_to_ts", lead(col("ts"), 1).over(vord))
          .select(col("user_id"), col("version"), col("event_type").as("state"),
            date_format(col("ts"), fmt).as("valid_from"),
            date_format(col("valid_to_ts"), fmt).as("valid_to"),
            when(col("valid_to_ts").isNull, 1L).otherwise(0L).as("is_current"))
          .orderBy("user_id", "version")
      },
      Some("""
        WITH o AS (SELECT user_id, ts, event_id, event_type,
                          lag(event_type) OVER (PARTITION BY user_id
                                                ORDER BY ts, event_id) AS prev
                   FROM events),
        chg AS (SELECT user_id, ts, event_id, event_type FROM o
                WHERE prev IS NULL OR prev <> event_type),
        v AS (SELECT user_id, event_type, ts,
                     CAST(row_number() OVER w AS INT) AS version,
                     lead(ts) OVER w AS valid_to_ts
              FROM chg WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
        SELECT user_id, version, event_type AS state,
               strftime(ts, '%Y-%m-%d %H:%M:%S') AS valid_from,
               strftime(valid_to_ts, '%Y-%m-%d %H:%M:%S') AS valid_to,
               CASE WHEN valid_to_ts IS NULL THEN 1 ELSE 0 END AS is_current
        FROM v ORDER BY user_id, version
      """)),

    // ---- seasonal-naive forecast evaluation (round-9) -------------------
    // The baseline every production forecaster is graded against:
    // predict each (event_type, hour) mean by the SAME HOUR YESTERDAY,
    // and report per-type MAE + signed error sum. The prior hour comes
    // from an equi-join on (type, hour − 24 h) — NOT lag(24): the hourly
    // series has gaps, and a row-offset lag would silently compare
    // different clock hours (the gap_detect lesson). Hourly means are
    // integer cents div count (floor; all values ≥ 0, so trunc == floor
    // cross-engine — the twap discipline); MAE numerator is non-negative
    // so its div is exact too; the signed bias is emitted as a SUM (no
    // integer division on a possibly-negative number, where Spark
    // truncates toward zero but DuckDB floors). Shapes: one hash agg to
    // hourly grain, one self-equi-join on (type, hour) — co-partitioned,
    // map-side after one shuffle — one final agg.
    Reg("forecast_snaive_mae",
      (s, dir) => {
        val hourly = Tables(s, dir).events
          .groupBy(col("event_type"),
            unix_micros(date_trunc("hour", col("ts"))).as("hour_us"))
          .agg(expr("sum(CAST(round(value * 100) AS BIGINT)) div count(*)").as("mean_c"))
          .localCheckpoint()
        val pred = hourly.select(col("event_type"),
          (col("hour_us") + 86400000000L).as("hour_us"), col("mean_c").as("pred_c"))
        hourly.join(pred, Seq("event_type", "hour_us"))
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n_pred"),
            expr("sum(abs(mean_c - pred_c)) div count(*)").as("mae_cents"),
            sum(col("mean_c") - col("pred_c")).as("err_sum_cents"))
          .orderBy("event_type")
      },
      Some("""
        WITH h AS (SELECT event_type,
                          epoch_us(date_trunc('hour', ts)) AS hour_us,
                          sum(CAST(round(value * 100) AS BIGINT)) // count(*) AS mean_c
                   FROM events GROUP BY 1, 2),
        j AS (SELECT a.event_type, a.mean_c, p.mean_c AS pred_c
              FROM h a JOIN h p ON p.event_type = a.event_type
                               AND p.hour_us = a.hour_us - 86400000000)
        SELECT event_type, count(*) AS n_pred,
               CAST(sum(abs(mean_c - pred_c)) // count(*) AS BIGINT) AS mae_cents,
               CAST(sum(mean_c - pred_c) AS BIGINT) AS err_sum_cents
        FROM j GROUP BY 1 ORDER BY 1
      """)),

    // ---- Holt (level+trend) forecast evaluation (round-10, VERDICT r9
    // #5) ------------------------------------------------------------------
    // The standard rung above seasonal-naive: double exponential
    // smoothing (Holt 1957, public) with α = β = 1/2 — the one smoothing
    // constant that keeps the recurrence EXACT in integer cents, because
    // each update is a single halving:
    //   l_t = (y_t + l_{t-1} + b_{t-1}) / 2,  b_t = (l_t − l_{t-1} + b_{t-1}) / 2
    // init l_2 = y_2, b_2 = y_2 − y_1 (classic two-point init). The
    // halved quantity is SIGNED (downtrends), so each division goes
    // through sign·(|x| div 2) on BOTH engines (the
    // feature_scaling_robust rule: Spark div truncates toward zero,
    // DuckDB // floors). Train on all but the last 7 days of each
    // type's daily series, forecast ŷ_{n+h} = l + h·b for h = 1..7,
    // report MAE + signed bias beside forecast_snaive_mae (same output
    // discipline). Two radically different formulations, one hash: the
    // Spark side runs the recurrence as a codegen'd `aggregate` HOF fold
    // over the calendar-bounded daily array (zero joins past the daily
    // agg — the dtw/mann_kendall discipline), the oracle walks t in a
    // recursive CTE carrying (l, b). Both sides are generated from the
    // SAME sign-split halving template below, so the arithmetic cannot
    // drift apart.
    {
      def sdiv2(x: String, di: String) =
        s"(CASE WHEN ($x) >= 0 THEN ($x) $di 2 ELSE -((-($x)) $di 2) END)"
      // Spark fold: state st = struct(l, b); step consumes element t
      val lS = sdiv2("element_at(seq, t) + st.l + st.b", "div")
      val bS = sdiv2(s"$lS - st.l + st.b", "div")
      // DuckDB recursion: row r = (t, l, b); step consumes seq[t+1]
      val yD = "g.seq[CAST(r.t + 1 AS INT)]"
      val lD = sdiv2(s"$yD + r.l + r.b", "//")
      val bD = sdiv2(s"$lD - r.l + r.b", "//")
      Reg("forecast_holt_mae",
        (s, dir) => {
          val daily = Tables(s, dir).events
            .groupBy(col("event_type"), date_trunc("day", col("ts")).as("day"))
            .agg(expr("sum(CAST(round(value * 100) AS BIGINT)) div count(*)")
              .as("mean_c"))
          val series = daily.groupBy(col("event_type"))
            .agg(expr("transform(array_sort(collect_list(struct(day, mean_c)))," +
              " x -> x.mean_c)").as("seq"))
            .filter(size(col("seq")) >= 10) // ≥ 3 train points + 7 eval
          series
            .withColumn("fin", expr(
              s"""aggregate(sequence(3, size(seq) - 7),
                   named_struct('l', element_at(seq, 2),
                                'b', element_at(seq, 2) - element_at(seq, 1)),
                   (st, t) -> named_struct('l', $lS, 'b', $bS))"""))
            .select(col("event_type"), size(col("seq")).as("n_days"),
              expr("fin.l").as("level_c"), expr("fin.b").as("trend_c"),
              col("seq"))
            .select(col("event_type"), col("n_days"), col("level_c"),
              col("trend_c"), explode(expr("sequence(1, 7)")).as("h"), col("seq"))
            .withColumn("pred_c", col("level_c") + col("h") * col("trend_c"))
            .withColumn("actual_c", expr("element_at(seq, size(seq) - 7 + h)"))
            .groupBy(col("event_type"))
            .agg(max(col("n_days")).as("n_days"),
              max(col("level_c")).as("level_c"),
              max(col("trend_c")).as("trend_c"),
              expr("sum(abs(actual_c - pred_c)) div 7").as("mae_cents"),
              sum(col("actual_c") - col("pred_c")).as("err_sum_cents"))
            .orderBy("event_type")
        },
        Some(s"""
          WITH RECURSIVE
          daily AS (SELECT event_type, date_trunc('day', ts) AS day,
                           CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
                             // count(*) AS mean_c
                    FROM events GROUP BY 1, 2),
          s AS (SELECT event_type, list(mean_c ORDER BY day) AS seq
                FROM daily GROUP BY 1),
          g AS (SELECT event_type, seq, len(seq) AS n FROM s WHERE len(seq) >= 10),
          r(event_type, t, l, b) AS (
            SELECT event_type, CAST(2 AS BIGINT), CAST(seq[2] AS BIGINT),
                   CAST(seq[2] - seq[1] AS BIGINT)
            FROM g
            UNION ALL
            SELECT r.event_type, r.t + 1, $lD, $bD
            FROM r JOIN g USING (event_type)
            WHERE r.t < g.n - 7),
          fin AS (SELECT r.event_type, r.l, r.b
                  FROM r JOIN g USING (event_type) WHERE r.t = g.n - 7),
          ev AS (SELECT g.event_type, g.n AS n_days, f.l AS level_c,
                        f.b AS trend_c, unnest(range(1, 8)) AS h, g.seq AS seq
                 FROM g JOIN fin f USING (event_type)),
          p AS (SELECT event_type, n_days, level_c, trend_c,
                       level_c + h * trend_c AS pred_c,
                       seq[CAST(n_days - 7 + h AS INT)] AS actual_c
                FROM ev)
          SELECT event_type, max(n_days) AS n_days,
                 CAST(max(level_c) AS BIGINT) AS level_c,
                 CAST(max(trend_c) AS BIGINT) AS trend_c,
                 CAST(sum(abs(actual_c - pred_c)) // 7 AS BIGINT) AS mae_cents,
                 CAST(sum(actual_c - pred_c) AS BIGINT) AS err_sum_cents
          FROM p GROUP BY 1 ORDER BY event_type
        """))
    },

    // ---- Holt-Winters additive seasonal forecast (round-10) -------------
    // The seasonal rung above forecast_holt_mae (Winters 1960, public),
    // on the HOURLY count series where the fixture's seasonality
    // actually lives (seasonality_hour_profile shows it; ~30 seasons of
    // period m = 24 vs only 4 weekly ones at day grain). α = β = γ = ½
    // keeps all three recurrences EXACT integer halvings (the holt
    // discipline; signed → sign·(|x| div 2) on both engines):
    //   l_t = ((y_t − s_{t−m}) + (l_{t−1} + b_{t−1})) / 2
    //   b_t = ((l_t − l_{t−1}) + b_{t−1}) / 2
    //   s_t = ((y_t − l_t) + s_{t−m}) / 2
    // The seasonal state is a 24-slot QUEUE carried inside the fold
    // state: Spark concat(slice(s, 2, 23), array(s_t)) ↔ DuckDB
    // list_append(s[2:24], s_t) — the dtw precedent of list-valued
    // recursion state. Init: l₀ = mean of season 1 (floor), b₀ = 0,
    // sᵢ = yᵢ − l₀. Counts ride ×1000 for halving resolution (exact).
    // Series live on the DENSE 0-filled hour spine (the
    // seasonal_decompose discipline — a gappy series would misalign the
    // seasonal queue). Train on all but the last 24 h, forecast
    // ŷ(h) = l + h·b + s[h], report MAE + signed bias beside the holt
    // and snaive evaluators. Both formulations generated from the ONE
    // sign-split template so the arithmetic cannot drift.
    {
      def sdiv2(x: String, di: String) =
        s"(CASE WHEN ($x) >= 0 THEN ($x) $di 2 ELSE -((-($x)) $di 2) END)"
      // Spark fold: state st = struct(l, b, s ARRAY(24)); consumes seq[t]
      val lS = sdiv2("(element_at(seq, t) - element_at(st.s, 1)) + (st.l + st.b)", "div")
      val bS = sdiv2(s"($lS - st.l) + st.b", "div")
      val sS = sdiv2(s"(element_at(seq, t) - $lS) + element_at(st.s, 1)", "div")
      // DuckDB recursion: row r = (t, l, b, s LIST); consumes seq[t+1]
      val yD = "g.seq[CAST(r.t + 1 AS INT)]"
      val lD = sdiv2(s"($yD - r.s[1]) + (r.l + r.b)", "//")
      val bD = sdiv2(s"($lD - r.l) + r.b", "//")
      val sD = sdiv2(s"($yD - $lD) + r.s[1]", "//")
      Reg("forecast_hw_mae",
        (s, dir) => {
          val eh = Tables(s, dir).events
            .select(col("event_type"), expr("unix_micros(ts) div 3600000000").as("h"))
          val cnt = eh.groupBy(col("event_type"), col("h")).agg(count(lit(1)).as("c"))
          val spine = cnt.agg(min(col("h")).as("lo"), max(col("h")).as("hi"))
            .select(explode(expr("sequence(lo, hi)")).as("h"))
          val types = eh.select(col("event_type")).distinct()
          val series = spine.crossJoin(broadcast(types))
            .join(broadcast(cnt), Seq("event_type", "h"), "left")
            .withColumn("yk", coalesce(col("c"), lit(0L)) * 1000L)
            .groupBy(col("event_type"))
            .agg(expr("transform(array_sort(collect_list(struct(h, yk)))," +
              " x -> x.yk)").as("seq"))
            .filter(size(col("seq")) >= 72) // init 24 + >= 24 train + 24 eval
          series
            .withColumn("fin", expr(
              s"""aggregate(sequence(25, size(seq) - 24),
                   named_struct(
                     'l', aggregate(slice(seq, 1, 24), 0L, (a, x) -> a + x) div 24,
                     'b', 0L,
                     's', transform(sequence(1, 24), i -> element_at(seq, i)
                            - aggregate(slice(seq, 1, 24), 0L, (a, x) -> a + x) div 24)),
                   (st, t) -> named_struct('l', $lS, 'b', $bS,
                     's', concat(slice(st.s, 2, 23), array($sS))))"""))
            .select(col("event_type"), size(col("seq")).as("n_hours"),
              expr("fin.l").as("level_k"), expr("fin.b").as("trend_k"),
              col("fin"), explode(expr("sequence(1, 24)")).as("h"), col("seq"))
            .withColumn("pred_k",
              col("level_k") + col("h") * col("trend_k")
                + expr("element_at(fin.s, CAST(h AS INT))"))
            .withColumn("actual_k", expr("element_at(seq, size(seq) - 24 + CAST(h AS INT))"))
            .groupBy(col("event_type"))
            .agg(max(col("n_hours")).as("n_hours"),
              max(col("level_k")).as("level_k"),
              max(col("trend_k")).as("trend_k"),
              expr("sum(abs(actual_k - pred_k)) div 24").as("mae_k"),
              sum(col("actual_k") - col("pred_k")).as("err_sum_k"))
            .orderBy("event_type")
        },
        Some(s"""
          WITH RECURSIVE
          eh AS (SELECT event_type, epoch_us(ts) // 3600000000 AS h FROM events),
          cnt AS (SELECT event_type, h, count(*) AS c FROM eh GROUP BY 1, 2),
          mm AS (SELECT min(h) AS lo, max(h) AS hi FROM cnt),
          spine AS (SELECT unnest(range(lo, hi + 1)) AS h FROM mm),
          ty AS (SELECT DISTINCT event_type FROM eh),
          full_ AS (SELECT t.event_type, s.h, coalesce(c.c, 0) * 1000 AS yk
                    FROM spine s CROSS JOIN ty t
                    LEFT JOIN cnt c ON c.event_type = t.event_type AND c.h = s.h),
          se AS (SELECT event_type, list(yk ORDER BY h) AS seq FROM full_ GROUP BY 1),
          g AS (SELECT event_type, seq, len(seq) AS n FROM se WHERE len(seq) >= 72),
          ini AS (SELECT event_type,
                         CAST(list_sum(seq[1:24]) AS BIGINT) // 24 AS l0
                  FROM g),
          r(event_type, t, l, b, s) AS (
            SELECT g.event_type, CAST(24 AS BIGINT), ini.l0, CAST(0 AS BIGINT),
                   list_transform(range(1, 25),
                     i -> CAST(g.seq[CAST(i AS INT)] - ini.l0 AS BIGINT))
            FROM g JOIN ini USING (event_type)
            UNION ALL
            SELECT r.event_type, r.t + 1, $lD, $bD,
                   list_append(r.s[2:24], CAST($sD AS BIGINT))
            FROM r JOIN g USING (event_type)
            WHERE r.t < g.n - 24),
          fin AS (SELECT r.event_type, r.l, r.b, r.s
                  FROM r JOIN g USING (event_type) WHERE r.t = g.n - 24),
          ev AS (SELECT g.event_type, g.n AS n_hours, f.l AS level_k,
                        f.b AS trend_k, f.s AS s, unnest(range(1, 25)) AS h,
                        g.seq AS seq
                 FROM g JOIN fin f USING (event_type)),
          p AS (SELECT event_type, n_hours, level_k, trend_k,
                       level_k + h * trend_k + s[CAST(h AS INT)] AS pred_k,
                       seq[CAST(n_hours - 24 + h AS INT)] AS actual_k
                FROM ev)
          SELECT event_type, max(n_hours) AS n_hours,
                 CAST(max(level_k) AS BIGINT) AS level_k,
                 CAST(max(trend_k) AS BIGINT) AS trend_k,
                 CAST(sum(abs(actual_k - pred_k)) // 24 AS BIGINT) AS mae_k,
                 CAST(sum(actual_k - pred_k) AS BIGINT) AS err_sum_k
          FROM p GROUP BY 1 ORDER BY event_type
        """))
    },

    // ---- marketing attribution: last-touch within 24 h (round-9) --------
    // For every purchase, the ad-tech question: which click/view gets the
    // credit? Last-touch = the most recent touch event by the same user
    // strictly before the purchase (order (ts, event_id) — deterministic
    // under ts ties) and within a 24 h lookback. Spark-first shape: NOT a
    // purchases⋈touches range join (which re-scans each user's touch
    // history per purchase) but ONE ordered pass per user —
    // last(..., ignoreNulls) over a rows-unbounded-preceding window
    // carries the latest touch forward along each user's own timeline, so
    // the cost is a single per-user sort whatever the touch:purchase
    // ratio. The three carried columns (id/ts/type) come from the SAME
    // last non-null row because touches populate all three together.
    // Window state is O(1) per user; partition-by-user parallelizes
    // (the asof window-form argument). Out-of-window / no-touch
    // purchases attribute to sentinel (-1, 'none') so the row set stays
    // exactly the purchase set.
    Reg("attribution_last_touch",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
          .rowsBetween(Window.unboundedPreceding, -1)
        def touch(c: org.apache.spark.sql.Column) =
          last(when(col("event_type").isin("click", "view"), c), ignoreNulls = true).over(w)
        Tables(s, dir).events
          .withColumn("t_id", touch(col("event_id")))
          .withColumn("t_ts", touch(col("ts")))
          .withColumn("t_type", touch(col("event_type")))
          .filter(col("event_type") === "purchase")
          .withColumn("in_w", col("t_ts").isNotNull &&
            unix_micros(col("ts")) - unix_micros(col("t_ts")) <= 86400000000L)
          .select(col("event_id").as("purchase_id"), col("user_id"),
            date_format(col("ts"), fmt).as("purchase_ts"),
            expr("CAST(round(value * 100) AS BIGINT)").as("value_cents"),
            when(col("in_w"), col("t_id")).otherwise(lit(-1L)).as("touch_id"),
            when(col("in_w"), col("t_type")).otherwise(lit("none")).as("touch_type"),
            when(col("in_w"),
              expr("(unix_micros(ts) - unix_micros(t_ts)) div 60000000"))
              .otherwise(lit(-1L)).as("mins_since_touch"))
          .orderBy("purchase_id")
      },
      Some(attributionOracleSql)),

    // ---- CUSUM changepoint detection (round-9) --------------------------
    // Page's cumulative-sum statistic (1954, public) over each type's
    // daily mean series: the day where |Σ(xᵢ − x̄)| peaks is the
    // single-changepoint estimate (the max-|CUSUM| estimator). Exactness
    // discipline: deviations are scaled by n (dev = mean·n − Σmean) so NO
    // division touches a possibly-negative number anywhere — sums of
    // integers only, bit-identical cross-engine. Ties on the peak break
    // to the EARLIEST day via a max-join + min(day) (never arg_max, whose
    // tie choice is engine-defined). Shapes: one hash agg to daily grain,
    // one full-partition window (per type — bounded by days-per-type),
    // one running window, one 5-row broadcast-sized max join.
    Reg("cusum_changepoint",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val daily = Tables(s, dir).events
          .groupBy(col("event_type"), date_trunc("day", col("ts")).as("day"))
          .agg(expr("sum(CAST(round(value * 100) AS BIGINT)) div count(*)").as("mean_c"))
        val seg = Window.partitionBy(col("event_type"))
        val run = Window.partitionBy(col("event_type")).orderBy(col("day"))
          .rowsBetween(Window.unboundedPreceding, 0)
        val c = daily
          .withColumn("gsum", sum(col("mean_c")).over(seg))
          .withColumn("gcnt", count(lit(1)).over(seg))
          .withColumn("cusum",
            sum(col("mean_c") * col("gcnt") - col("gsum")).over(run))
        val m = c.groupBy(col("event_type"))
          .agg(max(abs(col("cusum"))).as("max_abs"), count(lit(1)).as("n_days"))
        c.join(m, Seq("event_type"))
          .filter(abs(col("cusum")) === col("max_abs"))
          .groupBy(col("event_type"), col("max_abs"), col("n_days"))
          .agg(min(col("day")).as("cday"))
          .select(col("event_type"), date_format(col("cday"), "yyyy-MM-dd").as("change_day"),
            col("max_abs").as("max_abs_dev"), col("n_days"))
          .orderBy("event_type")
      },
      Some("""
        WITH d AS (SELECT event_type, date_trunc('day', ts) AS day,
                          sum(CAST(round(value * 100) AS BIGINT)) // count(*) AS mean_c
                   FROM events GROUP BY 1, 2),
        g AS (SELECT *, sum(mean_c) OVER (PARTITION BY event_type) AS gsum,
                     count(*) OVER (PARTITION BY event_type) AS gcnt
              FROM d),
        c AS (SELECT event_type, day,
                     sum(mean_c * gcnt - gsum) OVER (PARTITION BY event_type ORDER BY day
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cusum
              FROM g),
        m AS (SELECT event_type, max(abs(cusum)) AS max_abs, count(*) AS n_days
              FROM c GROUP BY 1)
        SELECT c.event_type, strftime(min(c.day), '%Y-%m-%d') AS change_day,
               CAST(m.max_abs AS BIGINT) AS max_abs_dev,
               CAST(m.n_days AS BIGINT) AS n_days
        FROM c JOIN m ON m.event_type = c.event_type AND abs(c.cusum) = m.max_abs
        GROUP BY c.event_type, m.max_abs, m.n_days
        ORDER BY c.event_type
      """)),

    // ---- Kaplan-Meier conversion-latency survival (round-10) ------------
    // The survival-analysis rung the retention ladder was missing: how
    // long from a user's FIRST event to their FIRST purchase, with
    // right-censoring at a 48 h horizon (users who haven't converted
    // within 48 h of arrival are censored, not counted as failures —
    // the statistically honest read the naive conversion-rate query
    // gets wrong). Product-limit estimator (Kaplan & Meier 1958,
    // public): S(t) = Π_{tᵢ≤t} (1 − dᵢ/nᵢ), carried in LOG space as an
    // integer sum of per-step micros — each step's ln((nᵢ−dᵢ)/nᵢ) has
    // an IEEE-exact integer-quotient argument and is rounded to micros
    // immediately (the validated bm25/perplexity discipline), so the
    // cumulative survival is an exact integer sum cross-engine. Steps
    // exist only where dᵢ ≥ 1, and nᵢ > dᵢ is guarded on both sides
    // (an all-remaining-convert step would be ln 0). Shapes: two
    // per-user aggs + one left join to build (duration, event) pairs,
    // one hash agg to the ≤ 49-row hourly risk table, then ordered
    // windows over that BOUNDED domain (single partition by design —
    // the user_growth_daily discipline; the per-user joins upstream are
    // the distributed part). n_total is a full-frame window over the
    // same bounded table — NOT a crossJoin(broadcast(agg)) anchor,
    // which would recompute the whole per-user pipeline as the
    // broadcast side (the first cut did exactly that: 2x upstream
    // work for one scalar already derivable from the rows at hand).
    Reg("kaplan_meier_conversion",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val e = Tables(s, dir).events
        val firsts = e.groupBy(col("user_id")).agg(min(col("ts")).as("first_ts"))
        val firstP = e.filter(col("event_type") === "purchase")
          .groupBy(col("user_id")).agg(min(col("ts")).as("first_p"))
        val u = firsts.join(firstP, Seq("user_id"), "left")
          .withColumn("lat_us",
            unix_micros(col("first_p")) - unix_micros(col("first_ts")))
          .withColumn("ev",
            when(col("first_p").isNotNull && col("lat_us") <= 172800000000L, 1L)
              .otherwise(0L))
          .withColumn("dur_h",
            when(col("ev") === 1L, expr("lat_us div 3600000000L"))
              .otherwise(lit(48L)))
        val t = u.groupBy(col("dur_h"))
          .agg(sum(col("ev")).as("d"), sum(lit(1L) - col("ev")).as("c"))
        val wAll = Window.orderBy(col("dur_h"))
          .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        val wPrev = Window.orderBy(col("dur_h"))
          .rowsBetween(Window.unboundedPreceding, -1)
        val wCum = Window.orderBy(col("dur_h"))
          .rowsBetween(Window.unboundedPreceding, 0)
        t.withColumn("n_total", sum(col("d") + col("c")).over(wAll))
          .withColumn("dropped",
            coalesce(sum(col("d") + col("c")).over(wPrev), lit(0L)))
          .withColumn("at_risk", col("n_total") - col("dropped"))
          .filter(col("d") >= 1L && col("at_risk") > col("d"))
          .withColumn("term_um", expr(
            "CAST(round(ln(CAST(at_risk - d AS DOUBLE) / CAST(at_risk AS DOUBLE))" +
              " * CAST(1000000 AS DOUBLE)) AS BIGINT)"))
          .select(col("dur_h"), col("at_risk"), col("d").as("d_conv"),
            col("c").as("c_cens"),
            sum(col("term_um")).over(wCum).as("ln_surv_um"))
          .orderBy("dur_h")
      },
      Some("""
        WITH f AS (SELECT user_id, min(ts) AS first_ts FROM events GROUP BY 1),
        p AS (SELECT user_id, min(ts) AS first_p FROM events
              WHERE event_type = 'purchase' GROUP BY 1),
        u AS (SELECT f.user_id,
                     CASE WHEN p.first_p IS NOT NULL
                           AND epoch_us(p.first_p) - epoch_us(f.first_ts) <= 172800000000
                          THEN 1 ELSE 0 END AS ev,
                     CASE WHEN p.first_p IS NOT NULL
                           AND epoch_us(p.first_p) - epoch_us(f.first_ts) <= 172800000000
                          THEN (epoch_us(p.first_p) - epoch_us(f.first_ts)) // 3600000000
                          ELSE 48 END AS dur_h
              FROM f LEFT JOIN p USING (user_id)),
        t AS (SELECT dur_h, sum(ev) AS d, sum(1 - ev) AS c FROM u GROUP BY 1),
        r AS (SELECT *, sum(d + c) OVER () AS n_total,
                     coalesce(sum(d + c) OVER (ORDER BY dur_h
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS dropped
              FROM t),
        k AS (SELECT dur_h, n_total - dropped AS at_risk, d, c,
                     CAST(round(ln(CAST(n_total - dropped - d AS DOUBLE) /
                                   CAST(n_total - dropped AS DOUBLE))
                                * CAST(1000000 AS DOUBLE)) AS BIGINT) AS term_um
              FROM r WHERE d >= 1 AND n_total - dropped > d)
        SELECT dur_h, CAST(at_risk AS BIGINT) AS at_risk,
               CAST(d AS BIGINT) AS d_conv, CAST(c AS BIGINT) AS c_cens,
               CAST(sum(term_um) OVER (ORDER BY dur_h
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
                 AS ln_surv_um
        FROM k ORDER BY dur_h
      """)),

    // ---- log-rank two-group survival comparison (round-10) --------------
    // kaplan_meier_conversion's inferential sibling: does arm 0's
    // conversion-latency survival curve differ from arm 1's? (Mantel
    // 1966, public.) Same per-user duration/censoring derivation, arms
    // split by pmod(user_id, 2) — the ab_conversion_wilson contract. At
    // each event step: observed arm-0 conversions O₁ᵢ = d₁ᵢ (exact
    // int), expected E₁ᵢ = dᵢ·n₁ᵢ/nᵢ and hypergeometric variance
    // V₁ᵢ = dᵢ·(n₁ᵢ/nᵢ)·((nᵢ−n₁ᵢ)/nᵢ)·((nᵢ−dᵢ)/(nᵢ−1)) — each an
    // IEEE-exact tree on exact-integer inputs, rounded to micros
    // per step then integer-summed (the kaplan/bm25 discipline). The
    // chi-square statistic (O−E)²/V is one identical double tree over
    // those integer sums. Steps need only dᵢ ≥ 1 and nᵢ > 1 (V > 0
    // whenever both arms are still at risk; verified non-zero at all
    // three SFs). Same plan spine as kaplan_meier: per-user aggs +
    // broadcast left join, ≤ 49-row risk table, one bounded-domain
    // window exchange carrying all four windows, single-row output.
    Reg("logrank_test_conversion",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val e = Tables(s, dir).events
        val firsts = e.groupBy(col("user_id")).agg(min(col("ts")).as("first_ts"))
        val firstP = e.filter(col("event_type") === "purchase")
          .groupBy(col("user_id")).agg(min(col("ts")).as("first_p"))
        val u = firsts.join(firstP, Seq("user_id"), "left")
          .withColumn("arm", pmod(col("user_id"), lit(2L)))
          .withColumn("lat_us",
            unix_micros(col("first_p")) - unix_micros(col("first_ts")))
          .withColumn("ev",
            when(col("first_p").isNotNull && col("lat_us") <= 172800000000L, 1L)
              .otherwise(0L))
          .withColumn("dur_h",
            when(col("ev") === 1L, expr("lat_us div 3600000000L"))
              .otherwise(lit(48L)))
        val t = u.groupBy(col("dur_h"))
          .agg(sum(col("ev")).as("d"),
            sum(when(col("arm") === 0L, col("ev")).otherwise(0L)).as("d1"),
            count(lit(1)).as("tot"),
            sum(when(col("arm") === 0L, 1L).otherwise(0L)).as("tot1"))
        val wPrev = Window.orderBy(col("dur_h"))
          .rowsBetween(Window.unboundedPreceding, -1)
        val wAll = Window.orderBy(col("dur_h"))
          .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        t.withColumn("n_total", sum(col("tot")).over(wAll))
          .withColumn("n1_total", sum(col("tot1")).over(wAll))
          .withColumn("drop_all", coalesce(sum(col("tot")).over(wPrev), lit(0L)))
          .withColumn("drop_1", coalesce(sum(col("tot1")).over(wPrev), lit(0L)))
          .withColumn("n", col("n_total") - col("drop_all"))
          .withColumn("n1", col("n1_total") - col("drop_1"))
          .filter(col("d") >= 1L && col("n") > 1L)
          .withColumn("e1_um", expr(
            """CAST(round(CAST(d AS DOUBLE) * CAST(n1 AS DOUBLE)
               / CAST(n AS DOUBLE) * CAST(1000000 AS DOUBLE)) AS BIGINT)"""))
          .withColumn("v1_um", expr(
            """CAST(round(CAST(d AS DOUBLE) * (CAST(n1 AS DOUBLE) / CAST(n AS DOUBLE))
               * (CAST(n - n1 AS DOUBLE) / CAST(n AS DOUBLE))
               * (CAST(n - d AS DOUBLE) / CAST(n - 1 AS DOUBLE))
               * CAST(1000000 AS DOUBLE)) AS BIGINT)"""))
          .groupBy()
          .agg(count(lit(1)).as("n_steps"), sum(col("d1")).as("o1"),
            sum(col("e1_um")).as("e1_um"), sum(col("v1_um")).as("v1_um"))
          // v1_um = 0 whenever every retained step has one arm empty —
          // sentinel 0 instead of NaN/Inf (divergent casts), mirrored
          .select(col("n_steps"), col("o1"), col("e1_um"), col("v1_um"),
            expr("""CASE WHEN v1_um = 0 THEN CAST(0 AS BIGINT)
                    ELSE CAST(round((CAST(o1 AS DOUBLE) * CAST(1000000 AS DOUBLE)
                    - CAST(e1_um AS DOUBLE))
                    * (CAST(o1 AS DOUBLE) * CAST(1000000 AS DOUBLE)
                    - CAST(e1_um AS DOUBLE))
                    / (CAST(v1_um AS DOUBLE) * CAST(1000000 AS DOUBLE))
                    * CAST(1000000 AS DOUBLE)) AS BIGINT) END""").as("chi2_um"))
      },
      Some("""
        WITH f AS (SELECT user_id, min(ts) AS first_ts FROM events GROUP BY 1),
        p AS (SELECT user_id, min(ts) AS first_p FROM events
              WHERE event_type = 'purchase' GROUP BY 1),
        u AS (SELECT f.user_id, f.user_id % 2 AS arm,
                     CASE WHEN p.first_p IS NOT NULL
                           AND epoch_us(p.first_p) - epoch_us(f.first_ts) <= 172800000000
                          THEN 1 ELSE 0 END AS ev,
                     CASE WHEN p.first_p IS NOT NULL
                           AND epoch_us(p.first_p) - epoch_us(f.first_ts) <= 172800000000
                          THEN (epoch_us(p.first_p) - epoch_us(f.first_ts)) // 3600000000
                          ELSE 48 END AS dur_h
              FROM f LEFT JOIN p USING (user_id)),
        t AS (SELECT dur_h, sum(ev) AS d,
                     sum(CASE WHEN arm = 0 THEN ev ELSE 0 END) AS d1,
                     count(*) AS tot,
                     sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS tot1
              FROM u GROUP BY 1),
        r AS (SELECT *, sum(tot) OVER () AS n_total, sum(tot1) OVER () AS n1_total,
                     coalesce(sum(tot) OVER (ORDER BY dur_h
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS drop_all,
                     coalesce(sum(tot1) OVER (ORDER BY dur_h
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS drop_1
              FROM t),
        k AS (SELECT d, d1, n_total - drop_all AS n, n1_total - drop_1 AS n1
              FROM r WHERE d >= 1 AND n_total - drop_all > 1),
        e AS (SELECT d, d1, n, n1,
                     CAST(round(CAST(d AS DOUBLE) * CAST(n1 AS DOUBLE)
                       / CAST(n AS DOUBLE) * CAST(1000000 AS DOUBLE)) AS BIGINT) AS e1_um,
                     CAST(round(CAST(d AS DOUBLE) * (CAST(n1 AS DOUBLE) / CAST(n AS DOUBLE))
                       * (CAST(n - n1 AS DOUBLE) / CAST(n AS DOUBLE))
                       * (CAST(n - d AS DOUBLE) / CAST(n - 1 AS DOUBLE))
                       * CAST(1000000 AS DOUBLE)) AS BIGINT) AS v1_um
              FROM k),
        s AS (SELECT count(*) AS n_steps, CAST(sum(d1) AS BIGINT) AS o1,
                     CAST(sum(e1_um) AS BIGINT) AS e1_um,
                     CAST(sum(v1_um) AS BIGINT) AS v1_um
              FROM e)
        SELECT n_steps, o1, e1_um, v1_um,
               CASE WHEN v1_um = 0 THEN CAST(0 AS BIGINT)
               ELSE CAST(round((CAST(o1 AS DOUBLE) * CAST(1000000 AS DOUBLE)
                 - CAST(e1_um AS DOUBLE))
                 * (CAST(o1 AS DOUBLE) * CAST(1000000 AS DOUBLE)
                 - CAST(e1_um AS DOUBLE))
                 / (CAST(v1_um AS DOUBLE) * CAST(1000000 AS DOUBLE))
                 * CAST(1000000 AS DOUBLE)) AS BIGINT) END AS chi2_um
        FROM s
      """)),

    // ---- Kolmogorov-Smirnov two-sample test (round-10) ------------------
    // The distribution-level two-sample test beside mann_whitney_u
    // (which tests location): D = sup |F̂₁ − F̂₂| over the purchase-vs-
    // click value ECDFs. EXACT INTEGER end-to-end: at the distinct-cents
    // grain, the ECDF difference at value c is |c₁·n₂ − c₂·n₁| in units
    // of 1/(n₁·n₂) — an int64 numerator (no float ECDF ever computed;
    // c·n ≲ 10¹⁰ at sf0.1; at 100 TB carry the numerator in micros
    // instead). The window walks DISTINCT CENTS, not rows — the
    // mann_whitney_u bounded-domain discipline (≤ 49 002 values, set by
    // the price domain, not corpus size); all five windows share ONE
    // ordering → one exchange. The argmax value is tie-broken to the
    // SMALLEST cents (total order); single-row output: D's integer
    // numerator, the micros ratio, and the location where the supremum
    // is attained.
    Reg("ks_two_sample",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val e = Tables(s, dir).events
          .filter(col("event_type").isin("purchase", "click"))
          .select(col("event_type").as("t"),
            expr("CAST(round(value * 100) AS BIGINT)").as("c"))
        val g = e.groupBy(col("c"))
          .agg(sum(when(col("t") === "purchase", 1L).otherwise(0L)).as("cnt1"),
            sum(when(col("t") === "click", 1L).otherwise(0L)).as("cnt2"))
        val wCum = Window.orderBy(col("c"))
          .rowsBetween(Window.unboundedPreceding, 0)
        val wAll = Window.orderBy(col("c"))
          .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        g.withColumn("c1", sum(col("cnt1")).over(wCum))
          .withColumn("c2", sum(col("cnt2")).over(wCum))
          .withColumn("n1", sum(col("cnt1")).over(wAll))
          .withColumn("n2", sum(col("cnt2")).over(wAll))
          .withColumn("d_num", abs(col("c1") * col("n2") - col("c2") * col("n1")))
          .withColumn("d_max", max(col("d_num")).over(wAll))
          .filter(col("d_num") === col("d_max"))
          .groupBy()
          .agg(max(col("n1")).as("n1"), max(col("n2")).as("n2"),
            min(col("c")).as("c_at"), max(col("d_max")).as("d_num"))
          .select(col("n1"), col("n2"), col("c_at"), col("d_num"),
            // empty side ⇒ n1·n2 = 0 ⇒ 0/0 NaN (Spark casts to 0, DuckDB
            // errors) — sentinel 0, mirrored in the oracle
            expr("""CASE WHEN n1 = 0 OR n2 = 0 THEN CAST(0 AS BIGINT)
                    ELSE CAST(round(CAST(d_num AS DOUBLE)
                    / (CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE))
                    * CAST(1000000 AS DOUBLE)) AS BIGINT) END""").as("ks_um"))
      },
      Some("""
        WITH e AS (SELECT event_type AS t, CAST(round(value * 100) AS BIGINT) AS c
                   FROM events WHERE event_type IN ('purchase', 'click')),
        g AS (SELECT c,
                     CAST(sum(CASE WHEN t = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS cnt1,
                     CAST(sum(CASE WHEN t = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS cnt2
              FROM e GROUP BY 1),
        w AS (SELECT c,
                     sum(cnt1) OVER (ORDER BY c
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c1,
                     sum(cnt2) OVER (ORDER BY c
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c2,
                     sum(cnt1) OVER () AS n1, sum(cnt2) OVER () AS n2
              FROM g),
        d AS (SELECT c, CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2,
                     CAST(abs(c1 * n2 - c2 * n1) AS BIGINT) AS d_num
              FROM w),
        m AS (SELECT *, max(d_num) OVER () AS d_max FROM d)
        SELECT CAST(max(n1) AS BIGINT) AS n1, CAST(max(n2) AS BIGINT) AS n2,
               CAST(min(c) AS BIGINT) AS c_at, CAST(max(d_max) AS BIGINT) AS d_num,
               CASE WHEN max(n1) = 0 OR max(n2) = 0 THEN CAST(0 AS BIGINT)
               ELSE CAST(round(CAST(max(d_max) AS DOUBLE)
                 / (CAST(max(n1) AS DOUBLE) * CAST(max(n2) AS DOUBLE))
                 * CAST(1000000 AS DOUBLE)) AS BIGINT) END AS ks_um
        FROM m WHERE d_num = d_max
      """)),

    // ---- index-of-dispersion (Fano factor) per event type (round-10) ----
    // Burstiness monitor: is each event type's hourly arrival process
    // Poisson-like (Fano ≈ 1), regular (< 1), or bursty/clumped (> 1)?
    // Fano = sample-var/mean of per-hour counts over the DENSE hour
    // spine (hours where ANY event occurred — deterministic, mirrored;
    // missing (type, hour) cells count 0 via the spine left join, which
    // is what makes the statistic honest for sparse types). Exact:
    // var/mean collapses to the pure-integer rational
    // (n·Σc² − (Σc)²) / ((n−1)·Σc) — int64 sufficient statistics, one
    // IEEE-exact quotient, rounded to micros. Shapes: one hour-grain
    // agg, a |hours|×5 broadcast spine, left join, 5-row output.
    Reg("dispersion_index_hourly",
      (s, dir) => {
        val eh = Tables(s, dir).events
          .select(col("event_type"), expr("unix_micros(ts) div 3600000000").as("h"))
        val hours = eh.select(col("h")).distinct()
        val types = eh.select(col("event_type")).distinct()
        // cnts is calendar-bounded (|hours|·5 rows) → broadcast the
        // probe side of the spine left join instead of shuffling both
        val cnts = eh.groupBy(col("event_type"), col("h")).agg(count(lit(1)).as("cnt"))
        hours.crossJoin(broadcast(types))
          .join(broadcast(cnts), Seq("event_type", "h"), "left")
          .withColumn("cnt", coalesce(col("cnt"), lit(0L)))
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n_hours"), sum(col("cnt")).as("n_events"),
            sum(col("cnt") * col("cnt")).as("sc2"))
          .select(col("event_type"), col("n_hours"), col("n_events"),
            expr("""CAST(round((CAST(n_hours AS DOUBLE) * CAST(sc2 AS DOUBLE)
                    - CAST(n_events AS DOUBLE) * CAST(n_events AS DOUBLE))
                    / (CAST(n_hours - 1 AS DOUBLE) * CAST(n_events AS DOUBLE))
                    * CAST(1000000 AS DOUBLE)) AS BIGINT)""").as("fano_um"))
          .orderBy("event_type")
      },
      Some("""
        WITH eh AS (SELECT event_type, epoch_us(ts) // 3600000000 AS h FROM events),
        hours AS (SELECT DISTINCT h FROM eh),
        types AS (SELECT DISTINCT event_type FROM eh),
        cnts AS (SELECT event_type, h, count(*) AS cnt FROM eh GROUP BY 1, 2),
        full_ AS (SELECT s.event_type, s.h, coalesce(c.cnt, 0) AS cnt
                  FROM (SELECT t.event_type, hh.h
                        FROM types t CROSS JOIN hours hh) s
                  LEFT JOIN cnts c ON s.event_type = c.event_type AND s.h = c.h),
        a AS (SELECT event_type, count(*) AS n_hours,
                     CAST(sum(cnt) AS BIGINT) AS n_events,
                     CAST(sum(cnt * cnt) AS BIGINT) AS sc2
              FROM full_ GROUP BY 1)
        SELECT event_type, n_hours, n_events,
               CAST(round((CAST(n_hours AS DOUBLE) * CAST(sc2 AS DOUBLE)
                 - CAST(n_events AS DOUBLE) * CAST(n_events AS DOUBLE))
                 / (CAST(n_hours - 1 AS DOUBLE) * CAST(n_events AS DOUBLE))
                 * CAST(1000000 AS DOUBLE)) AS BIGINT) AS fano_um
        FROM a ORDER BY event_type
      """)),

    // ---- classical additive seasonal decomposition (round-10) -----------
    // y = trend + seasonal + residual over the hourly event-count
    // series — the decomposition rung beside seasonality_hour_profile
    // (which reads the seasonal shape only) and forecast_holt_mae
    // (which models level+trend but not season). Classical method
    // (Macaulay 1931, public; the STL ancestor): trend = centered
    // 24-hour moving average over the DENSE hour spine (missing hours
    // count 0 — a ROWS frame over a gappy series would silently span
    // non-adjacent hours), seasonal(hod) = mean of the detrended
    // series by hour-of-day, residual = remainder. Exactness: trend_um
    // rounds the IEEE-exact sum24/24 quotient to micros; detrended
    // values are then exact integers, so the seasonal means are
    // exact-integer quotients rounded once and residuals pure integer
    // arithmetic. Windows walk the CALENDAR-BOUNDED hour spine (~720
    // rows/month — the user_growth_daily single-partition discipline;
    // shard by month at 100 TB); hour counts and the 24-row seasonal
    // table broadcast. Edge hours without a full 24-row frame are
    // dropped (n_win = 24 guard) rather than decomposed against a
    // truncated mean.
    Reg("seasonal_decompose_hourly",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val cnt = Tables(s, dir).events
          .select(expr("unix_micros(ts) div 3600000000").as("h"))
          .groupBy(col("h")).agg(count(lit(1)).as("y"))
        val spine = cnt.agg(min(col("h")).as("lo"), max(col("h")).as("hi"))
          .select(explode(expr("sequence(lo, hi)")).as("h"))
        val wMa = Window.orderBy(col("h")).rowsBetween(-12, 11)
        val t3 = spine.join(broadcast(cnt), Seq("h"), "left")
          .withColumn("y", coalesce(col("y"), lit(0L)))
          .withColumn("n_win", count(lit(1)).over(wMa))
          .withColumn("sum24", sum(col("y")).over(wMa))
          .filter(col("n_win") === 24)
          .withColumn("trend_um", expr(
            """CAST(round(CAST(sum24 AS DOUBLE) / CAST(24 AS DOUBLE)
               * CAST(1000000 AS DOUBLE)) AS BIGINT)"""))
          .withColumn("detr_um", col("y") * 1000000L - col("trend_um"))
          .withColumn("hod", pmod(col("h"), lit(24L)))
        val seas = t3.groupBy(col("hod"))
          .agg(sum(col("detr_um")).as("sd"), count(lit(1)).as("nd"))
          .select(col("hod"), expr(
            """CAST(round(CAST(sd AS DOUBLE) / CAST(nd AS DOUBLE))
               AS BIGINT)""").as("seas_um"))
        t3.join(broadcast(seas), "hod")
          .select(col("h"), col("y"), col("trend_um"), col("seas_um"),
            (col("y") * 1000000L - col("trend_um") - col("seas_um")).as("resid_um"))
          .orderBy("h")
      },
      Some("""
        WITH cnt AS (SELECT epoch_us(ts) // 3600000000 AS h, count(*) AS y
                     FROM events GROUP BY 1),
        mm AS (SELECT min(h) AS lo, max(h) AS hi FROM cnt),
        spine AS (SELECT unnest(range(lo, hi + 1)) AS h FROM mm),
        hc AS (SELECT s.h, coalesce(c.y, 0) AS y
               FROM spine s LEFT JOIN cnt c USING (h)),
        tr AS (SELECT h, y, count(*) OVER w AS n_win,
                      CAST(sum(y) OVER w AS BIGINT) AS sum24
               FROM hc
               WINDOW w AS (ORDER BY h ROWS BETWEEN 12 PRECEDING AND 11 FOLLOWING)),
        t2 AS (SELECT h, y,
                      CAST(round(CAST(sum24 AS DOUBLE) / CAST(24 AS DOUBLE)
                        * CAST(1000000 AS DOUBLE)) AS BIGINT) AS trend_um
               FROM tr WHERE n_win = 24),
        t3 AS (SELECT *, y * 1000000 - trend_um AS detr_um, h % 24 AS hod FROM t2),
        seas AS (SELECT hod,
                        CAST(round(CAST(sum(detr_um) AS DOUBLE)
                          / CAST(count(*) AS DOUBLE)) AS BIGINT) AS seas_um
                 FROM t3 GROUP BY 1)
        SELECT t3.h, CAST(t3.y AS BIGINT) AS y, t3.trend_um, seas.seas_um,
               CAST(t3.y * 1000000 - t3.trend_um - seas.seas_um AS BIGINT) AS resid_um
        FROM t3 JOIN seas USING (hod) ORDER BY t3.h
      """)),

    // ---- cross-correlation function at lags −6..+6 h (round-10) ---------
    // Does click activity LEAD purchases, and by how much? CCF between
    // the hourly click and purchase count series — the lead/lag
    // extension of series_correlation (zero lag) and autocorr_lag1
    // (self). Both series live on the DENSE hour spine (0-filled, the
    // seasonal_decompose discipline) so lag arithmetic shifts real
    // hours, not row offsets over gaps. Per lag L: Pearson r of
    // (xₜ, yₜ₊L) over the overlap, from six exact int64 sufficient
    // statistics via a shifted EQUI-join (h₂ = h + L, a 13-row
    // broadcast lag relation — never a theta join), then the
    // pearson_corr_types identical-double-tree → micros discipline
    // with the zero-variance sentinel. 13-row output.
    Reg("cross_correlation_lags",
      (s, dir) => {
        val e = Tables(s, dir).events
          .filter(col("event_type").isin("click", "purchase"))
          .select(col("event_type"), expr("unix_micros(ts) div 3600000000").as("h"))
        val cnt = e.groupBy(col("event_type"), col("h")).agg(count(lit(1)).as("c"))
        val spine = cnt.agg(min(col("h")).as("lo"), max(col("h")).as("hi"))
          .select(explode(expr("sequence(lo, hi)")).as("h"))
        def series(t: String, cn: String) = spine
          .join(broadcast(cnt.filter(col("event_type") === t)
            .select(col("h"), col("c"))), Seq("h"), "left")
          .select(col("h"), coalesce(col("c"), lit(0L)).as(cn))
        val x = series("click", "x")
        val y = series("purchase", "y")
        x.crossJoin(broadcast(s.range(-6, 7).select(col("id").as("lag"))))
          .withColumn("h2", col("h") + col("lag"))
          .join(y.withColumnRenamed("h", "h2"), "h2")
          .groupBy(col("lag"))
          .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"), sum(col("y")).as("sy"),
            sum(col("x") * col("y")).as("sxy"), sum(col("x") * col("x")).as("sxx"),
            sum(col("y") * col("y")).as("syy"))
          .select(col("lag"), col("n"),
            expr("""CASE WHEN n * sxx - sx * sx <= 0 OR n * syy - sy * sy <= 0
                    THEN CAST(0 AS BIGINT)
                    ELSE CAST(round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                           - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                         / sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                                 - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                              * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                                 - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
                         * CAST(1000000 AS DOUBLE)) AS BIGINT) END""").as("r_um"))
          .orderBy("lag")
      },
      Some("""
        WITH e AS (SELECT event_type, epoch_us(ts) // 3600000000 AS h FROM events
                   WHERE event_type IN ('click', 'purchase')),
        cnt AS (SELECT event_type, h, count(*) AS c FROM e GROUP BY 1, 2),
        mm AS (SELECT min(h) AS lo, max(h) AS hi FROM cnt),
        spine AS (SELECT unnest(range(lo, hi + 1)) AS h FROM mm),
        x AS (SELECT s.h, coalesce(c.c, 0) AS x FROM spine s
              LEFT JOIN (SELECT h, c FROM cnt WHERE event_type = 'click') c
                USING (h)),
        y AS (SELECT s.h, coalesce(c.c, 0) AS y FROM spine s
              LEFT JOIN (SELECT h, c FROM cnt WHERE event_type = 'purchase') c
                USING (h)),
        j AS (SELECT l.lag, x.x, y.y
              FROM x CROSS JOIN range(-6, 7) l(lag)
              JOIN y ON y.h = x.h + l.lag),
        a AS (SELECT lag, count(*) AS n, CAST(sum(x) AS BIGINT) AS sx,
                     CAST(sum(y) AS BIGINT) AS sy, CAST(sum(x * y) AS BIGINT) AS sxy,
                     CAST(sum(x * x) AS BIGINT) AS sxx,
                     CAST(sum(y * y) AS BIGINT) AS syy
              FROM j GROUP BY 1)
        SELECT CAST(lag AS BIGINT) AS lag, n,
               CASE WHEN n * sxx - sx * sx <= 0 OR n * syy - sy * sy <= 0
               THEN CAST(0 AS BIGINT)
               ELSE CAST(round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                      - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                    / sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                            - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                         * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                            - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
                    * CAST(1000000 AS DOUBLE)) AS BIGINT) END AS r_um
        FROM a ORDER BY lag
      """)),

    // ---- ACF/PACF multi-lag with Durbin-Levinson (round-11) -------------
    // The Box-Jenkins model-identification pair beside autocorr_lag1
    // (single lag) and cross_correlation_lags (two series): ACF r₁..r₆ of
    // the hourly total-event-count series on the dense 0-filled spine,
    // then PACF φ_kk via the Durbin-Levinson recursion on those r's.
    //
    // ACF is EXACT INTEGERS end-to-end: with S = Σx, cross-multiplying
    // the global-mean form by n² gives num_k = n²·Σx_t·x_{t+k}
    // − n·S·(A_k + B_k) + n_k·S² and den = n·Σx² − S², r_k = num_k/(n·den)
    // — one final division → micros (num_0 = n·den ⇒ r₀ ≡ 1, the identity
    // check). Lag alignment is the cross_correlation SHIFTED EQUI-join
    // (6-row broadcast lag relation, never a theta join).
    //
    // PACF is the one genuinely sequential recursion in the stats family:
    // φ_1,1 = r₁; φ_k,k = (r_k − Σφ_{k−1,j}·r_{k−j})/(1 − Σφ_{k−1,j}·r_j);
    // φ_k,j = φ_{k−1,j} − φ_k,k·φ_{k−1,k−j}. Six levels are UNROLLED into
    // chained CTE levels by ONE Scala generator ([[dlPacfSql]]) whose
    // output text both engines execute verbatim — identical IEEE op trees
    // over identical micros-quantized inputs (the sign-split-template
    // discipline from forecast_hw_mae, without the recursive CTE), each
    // level's denominator zero-sentineled. Spark runs it over a temp view
    // of the 6-row ACF relation (bounded-domain: everything after the
    // hourly agg is ≤ 6 rows).
    Reg("acf_pacf_hourly",
      (s, dir) => {
        val e = Tables(s, dir).events
          .select(expr("unix_micros(ts) div 3600000000").as("h"))
        val cnt = e.groupBy(col("h")).agg(count(lit(1)).as("c"))
        val spine = cnt.agg(min(col("h")).as("lo"), max(col("h")).as("hi"))
          .select(explode(expr("sequence(lo, hi)")).as("h"))
        val x = spine.join(cnt, Seq("h"), "left")
          .select(col("h"), coalesce(col("c"), lit(0L)).as("x"))
        val j = x.crossJoin(broadcast(s.range(1, 7).select(col("id").as("lag"))))
          .withColumn("h2", col("h") + col("lag"))
          .join(x.select(col("h").as("h2"), col("x").as("y")), "h2")
          .groupBy(col("lag"))
          .agg(count(lit(1)).as("nk"), sum(col("x") * col("y")).as("sxy"),
            sum(col("x")).as("sa"), sum(col("y")).as("sb"))
        val g = x.agg(count(lit(1)).as("n"), sum(col("x")).as("ss"),
          sum(col("x") * col("x")).as("sxx"))
        // the 6-row ACF relation is referenced 8× by the generated DL
        // query (6 unpivot branches + dl0 + the final join) —
        // localCheckpoint so the hourly pipeline runs ONCE and every
        // re-reference reads 6 local rows (kcore/textrank discipline)
        j.crossJoin(broadcast(g))
          .select(col("lag"),
            expr("""CASE WHEN n * sxx - ss * ss = 0 THEN CAST(0 AS BIGINT)
                    ELSE CAST(round(CAST(n * n * sxy - n * ss * (sa + sb)
                           + nk * ss * ss AS DOUBLE)
                         / (CAST(n AS DOUBLE)
                            * CAST(n * sxx - ss * ss AS DOUBLE))
                         * CAST(1000000 AS DOUBLE)) AS BIGINT) END""").as("r_um"))
          .localCheckpoint()
          .createOrReplaceTempView("acf_r_v")
        s.sql(dlPacfSql("acf_r_v"))
      },
      Some(s"""
        WITH e AS (SELECT epoch_us(ts) // 3600000000 AS h FROM events),
        cnt AS (SELECT h, count(*) AS c FROM e GROUP BY 1),
        mm AS (SELECT min(h) AS lo, max(h) AS hi FROM cnt),
        spine AS (SELECT unnest(range(lo, hi + 1)) AS h FROM mm),
        x AS (SELECT s.h, CAST(coalesce(c.c, 0) AS BIGINT) AS x
              FROM spine s LEFT JOIN cnt c USING (h)),
        jj AS (SELECT l.lag, x.x, y.x AS y
               FROM x CROSS JOIN range(1, 7) l(lag)
               JOIN x y ON y.h = x.h + l.lag),
        a AS (SELECT lag, count(*) AS nk, CAST(sum(x * y) AS BIGINT) AS sxy,
                     CAST(sum(x) AS BIGINT) AS sa, CAST(sum(y) AS BIGINT) AS sb
              FROM jj GROUP BY 1),
        g AS (SELECT count(*) AS n, CAST(sum(x) AS BIGINT) AS ss,
                     CAST(sum(x * x) AS BIGINT) AS sxx FROM x),
        acf_r_v AS (SELECT CAST(lag AS BIGINT) AS lag,
               CASE WHEN n * sxx - ss * ss = 0 THEN CAST(0 AS BIGINT)
               ELSE CAST(round(CAST(n * n * sxy - n * ss * (sa + sb)
                      + nk * ss * ss AS DOUBLE)
                    / (CAST(n AS DOUBLE) * CAST(n * sxx - ss * ss AS DOUBLE))
                    * CAST(1000000 AS DOUBLE)) AS BIGINT) END AS r_um
               FROM a, g),
        ${dlPacfSql("acf_r_v").stripPrefix("WITH ")}
      """)),

    // ---- sequential pattern support: A-then-B per user (round-10) -------
    // The first ascent of sequential pattern mining (Agrawal & Srikant
    // 1995, public): for every ordered event-type pair (a, b), in how
    // many users' histories does SOME a-event precede SOME b-event?
    // "∃ a before b" collapses to the exact predicate
    // min_ts(a) < max_ts(b) — so the whole mine is one per-(user, type)
    // agg (≤ 5 rows/user) + a user-keyed self-join bounded by the
    // type-domain square, never a scan of raw event pairs. n_both
    // (users having both types) is the join's natural row count;
    // support is the exact-integer quotient in micros. 20-row output.
    Reg("seq_pattern_support",
      (s, dir) => {
        val u = Tables(s, dir).events
          .groupBy(col("user_id"), col("event_type"))
          .agg(min(unix_micros(col("ts"))).as("mn"),
            max(unix_micros(col("ts"))).as("mx"))
        val a = u.select(col("user_id"), col("event_type").as("ta"), col("mn"))
        val b = u.select(col("user_id"), col("event_type").as("tb"), col("mx"))
        a.join(b, "user_id").filter(col("ta") =!= col("tb"))
          .groupBy(col("ta"), col("tb"))
          .agg(count(lit(1)).as("n_both"),
            sum(when(col("mn") < col("mx"), 1L).otherwise(0L)).as("n_seq"))
          .select(col("ta"), col("tb"), col("n_both"), col("n_seq"),
            expr("""CAST(round(CAST(n_seq AS DOUBLE) / CAST(n_both AS DOUBLE)
                    * CAST(1000000 AS DOUBLE)) AS BIGINT)""").as("support_um"))
          .orderBy("ta", "tb")
      },
      Some("""
        WITH u AS (SELECT user_id, event_type,
                          min(epoch_us(ts)) AS mn, max(epoch_us(ts)) AS mx
                   FROM events GROUP BY 1, 2)
        SELECT a.event_type AS ta, b.event_type AS tb,
               count(*) AS n_both,
               CAST(sum(CASE WHEN a.mn < b.mx THEN 1 ELSE 0 END) AS BIGINT) AS n_seq,
               CAST(round(CAST(sum(CASE WHEN a.mn < b.mx THEN 1 ELSE 0 END) AS DOUBLE)
                 / CAST(count(*) AS DOUBLE)
                 * CAST(1000000 AS DOUBLE)) AS BIGINT) AS support_um
        FROM u a JOIN u b ON a.user_id = b.user_id AND a.event_type <> b.event_type
        GROUP BY 1, 2 ORDER BY 1, 2
      """)),

    // ---- population stability index (PSI) value drift (round-10) --------
    // THE industry drift gate (model-monitoring standard, public):
    // PSI = Σ_bins (pᵢ − qᵢ)·ln(pᵢ/qᵢ) comparing each type's value
    // distribution in the month's first half (baseline) vs second half
    // (current) — the binned, deployment-shaped sibling of KL/JS
    // (which compare unbinned unigram dists). Bins are the BASELINE's
    // own deciles: ntile(10) over first-half cents, edges = max(c) per
    // tile 1..9 — deterministic under ties because a value straddling
    // a tile boundary is the lower tile's max under ANY ordering of
    // its copies; both halves are then binned by counting edges
    // strictly below c (an array filter over the broadcast 9-edge
    // list, never a range join). Add-one smoothing (cᵢ+1 over n+10,
    // documented, mirrored) keeps empty bins finite at sparse SFs.
    // Each bin's term takes ln of an IEEE-exact quotient of exact
    // integer products, rounds to micros immediately, then
    // integer-sums (the validated discipline). Shapes: one ntile
    // window per type over the baseline half (value-grain), 9-row
    // edge relation broadcast, two linear binning aggs; 5-row output.
    Reg("psi_value_drift",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val e = Tables(s, dir).events
          .select(col("event_type"),
            expr("CAST(round(value * 100) AS BIGINT)").as("c"),
            expr("CASE WHEN day(ts) <= 15 THEN 0 ELSE 1 END").as("half"))
        val base = e.filter(col("half") === 0)
        val wN = Window.partitionBy(col("event_type")).orderBy(col("c"))
        val edges = base.withColumn("tile", ntile(10).over(wN))
          .filter(col("tile") <= 9)
          .groupBy(col("event_type"), col("tile")).agg(max(col("c")).as("edge"))
          .groupBy(col("event_type"))
          .agg(sort_array(collect_list(col("edge"))).as("edges"))
        val binned = e.join(broadcast(edges), "event_type")
          .withColumn("bin", expr("size(filter(edges, x -> c > x))"))
          .groupBy(col("event_type"), col("bin"))
          .agg(sum(when(col("half") === 0, 1L).otherwise(0L)).as("cp"),
            sum(when(col("half") === 1, 1L).otherwise(0L)).as("cq"))
        val tot = binned.groupBy(col("event_type"))
          .agg(sum(col("cp")).as("np"), sum(col("cq")).as("nq"))
        binned.join(broadcast(tot), "event_type")
          .withColumn("term_um", expr(
            """CAST(round(((CAST(cp + 1 AS DOUBLE) / CAST(np + 10 AS DOUBLE))
               - (CAST(cq + 1 AS DOUBLE) / CAST(nq + 10 AS DOUBLE)))
               * ln((CAST(cp + 1 AS DOUBLE) * CAST(nq + 10 AS DOUBLE))
                    / (CAST(np + 10 AS DOUBLE) * CAST(cq + 1 AS DOUBLE)))
               * CAST(1000000 AS DOUBLE)) AS BIGINT)"""))
          .groupBy(col("event_type"))
          .agg(max(col("np")).as("n_base"), max(col("nq")).as("n_cur"),
            count(lit(1)).as("n_bins"), sum(col("term_um")).as("psi_um"))
          .orderBy("event_type")
      },
      Some(psiOracle)),

    // ---- interval OVERLAP join via hour-bucket banding (round-9) --------
    // Which user sessions were live during an error incident? An
    // interval×interval overlap join — the two-sided sibling of the
    // keyed range_join_views. Spark-first shape: explode each interval
    // into the hour buckets it covers and equi-join on the bucket, so
    // the candidate set is (pairs sharing an hour), NEVER the cartesian
    // of the two relations — the standard banding that keeps big×big
    // interval joins shuffle-joinable at 100 TB (bucket width trades
    // fan-out vs candidate precision; 1 h ≈ the p99 interval span
    // here). A pair spanning k shared buckets surfaces k times →
    // groupBy the interval identity, then the exact overlap predicate
    // filters false bucket-mates. Inputs are both derived in one
    // ordered pass each: 30-min-gap user sessions (per-user window)
    // and 10-min-gap global error incidents (a single-partition window
    // over ERRORS ONLY — a deliberately bounded domain, ~20% of events,
    // the user_growth_daily discipline; at larger scale shard incidents
    // by calendar day first).
    Reg("interval_overlap_join",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val e = Tables(s, dir).events
        val uw = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
        val sess = e
          .withColumn("us", unix_micros(col("ts")))
          .withColumn("prev", lag(col("us"), 1).over(uw))
          .withColumn("new_s",
            when(col("prev").isNull || col("us") - col("prev") > 1800000000L, 1L)
              .otherwise(0L))
          .withColumn("sid",
            sum(col("new_s")).over(uw.rowsBetween(Window.unboundedPreceding, 0)))
          .groupBy(col("user_id"), col("sid"))
          .agg(min(col("us")).as("s_start"), max(col("us")).as("s_end"))
        val gw = Window.orderBy(col("ts"), col("event_id"))
        val inc = e.filter(col("event_type") === "error")
          .withColumn("us", unix_micros(col("ts")))
          .withColumn("prev", lag(col("us"), 1).over(gw))
          .withColumn("new_i",
            when(col("prev").isNull || col("us") - col("prev") > 600000000L, 1L)
              .otherwise(0L))
          .withColumn("iid",
            sum(col("new_i")).over(gw.rowsBetween(Window.unboundedPreceding, 0)))
          .groupBy(col("iid"))
          .agg(min(col("us")).as("i_start"), max(col("us")).as("i_end"))
        val sb = sess.select(col("user_id"), col("s_start"), col("s_end"),
          explode(expr("sequence(s_start div 3600000000, s_end div 3600000000)")).as("bkt"))
        val ib = inc.select(col("iid"), col("i_start"), col("i_end"),
          explode(expr("sequence(i_start div 3600000000, i_end div 3600000000)")).as("bkt"))
        sb.join(ib, "bkt")
          .filter(col("s_start") <= col("i_end") && col("i_start") <= col("s_end"))
          .groupBy(col("user_id"), col("s_start"), col("s_end"),
            col("iid"), col("i_start"), col("i_end"))
          .agg(count(lit(1)).as("n_shared_buckets"))
          .select(col("user_id"),
            date_format(timestamp_micros(col("s_start")), fmt).as("s_start_ts"),
            date_format(timestamp_micros(col("s_end")), fmt).as("s_end_ts"),
            col("iid"),
            date_format(timestamp_micros(col("i_start")), fmt).as("i_start_ts"),
            date_format(timestamp_micros(col("i_end")), fmt).as("i_end_ts"),
            (least(col("s_end"), col("i_end")) -
              greatest(col("s_start"), col("i_start"))).as("overlap_us"),
            col("n_shared_buckets"))
          .orderBy("user_id", "s_start_ts", "iid")
      },
      Some("""
        WITH ev AS (SELECT user_id, event_id, event_type, epoch_us(ts) AS us FROM events),
        s1 AS (SELECT user_id, us,
                      lag(us) OVER (PARTITION BY user_id ORDER BY us, event_id) AS prev,
                      event_id
               FROM ev),
        s2 AS (SELECT user_id, us, event_id,
                      CASE WHEN prev IS NULL OR us - prev > 1800000000 THEN 1 ELSE 0 END AS new_s
               FROM s1),
        s3 AS (SELECT user_id, us,
                      sum(new_s) OVER (PARTITION BY user_id ORDER BY us, event_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
               FROM s2),
        sess AS (SELECT user_id, sid, min(us) AS s_start, max(us) AS s_end
                 FROM s3 GROUP BY 1, 2),
        e1 AS (SELECT us, event_id, lag(us) OVER (ORDER BY us, event_id) AS prev
               FROM ev WHERE event_type = 'error'),
        e2 AS (SELECT us, event_id,
                      CASE WHEN prev IS NULL OR us - prev > 600000000 THEN 1 ELSE 0 END AS new_i
               FROM e1),
        e3 AS (SELECT us,
                      sum(new_i) OVER (ORDER BY us, event_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS iid
               FROM e2),
        inc AS (SELECT CAST(iid AS BIGINT) AS iid, min(us) AS i_start, max(us) AS i_end
                FROM e3 GROUP BY 1)
        SELECT s.user_id,
               strftime(make_timestamp(s.s_start), '%Y-%m-%d %H:%M:%S') AS s_start_ts,
               strftime(make_timestamp(s.s_end), '%Y-%m-%d %H:%M:%S') AS s_end_ts,
               i.iid,
               strftime(make_timestamp(i.i_start), '%Y-%m-%d %H:%M:%S') AS i_start_ts,
               strftime(make_timestamp(i.i_end), '%Y-%m-%d %H:%M:%S') AS i_end_ts,
               CAST(least(s.s_end, i.i_end) - greatest(s.s_start, i.i_start) AS BIGINT)
                 AS overlap_us,
               CAST(least(s.s_end // 3600000000, i.i_end // 3600000000)
                    - greatest(s.s_start // 3600000000, i.i_start // 3600000000)
                    + 1 AS BIGINT) AS n_shared_buckets
        FROM sess s JOIN inc i
          ON s.s_start <= i.i_end AND i.i_start <= s.s_end
        ORDER BY s.user_id, s_start_ts, i.iid
      """)),

    // ---- Mann-Kendall trend test (round-9) ------------------------------
    // The nonparametric monotone-trend test (Mann 1945 / Kendall 1975,
    // public) over each type's daily mean series: S = Σ_{i<j}
    // sign(xⱼ − xᵢ) with the tie-adjusted variance
    // Var(S) = [n(n−1)(2n+5) − Σ t(t−1)(2t+5)] / 18. Everything integer:
    // S and the pair counts from a per-type day-ordered self-join (O(n²)
    // per series where n = DAYS — calendar-bounded, the honest cost of
    // the exact statistic; at decade scale pre-aggregate to weeks), the
    // variance emitted as its ×18 numerator so no division or sqrt ever
    // runs (the consumer computes Z; sqrt is float and would not
    // hash-match). Tie groups come from one extra value-grouped agg.
    Reg("mann_kendall_trend",
      (s, dir) => {
        val daily = Tables(s, dir).events
          .groupBy(col("event_type"), date_trunc("day", col("ts")).as("day"))
          .agg(expr("sum(CAST(round(value * 100) AS BIGINT)) div count(*)").as("mean_c"))
          .localCheckpoint() // feeds the pair join (twice) and the tie agg
        val pairs = daily.as("a").join(daily.as("b"),
            col("a.event_type") === col("b.event_type") && col("a.day") < col("b.day"))
          .select(col("a.event_type").as("event_type"),
            when(col("b.mean_c") > col("a.mean_c"), 1L)
              .when(col("b.mean_c") < col("a.mean_c"), -1L).otherwise(0L).as("sgn"))
          .groupBy(col("event_type"))
          .agg(sum(col("sgn")).as("s_stat"),
            sum(when(col("sgn") === 1L, 1L).otherwise(0L)).as("n_pos"),
            sum(when(col("sgn") === -1L, 1L).otherwise(0L)).as("n_neg"),
            sum(when(col("sgn") === 0L, 1L).otherwise(0L)).as("n_tie_pairs"))
        val ties = daily.groupBy(col("event_type"), col("mean_c"))
          .agg(count(lit(1)).as("t"))
          .groupBy(col("event_type"))
          .agg(count(lit(1)).cast("long").as("n_distinct_vals"),
            sum(col("t")).as("n_days"),
            sum(col("t") * (col("t") - 1L) * (lit(2L) * col("t") + 5L)).as("tie_adj"))
        pairs.join(ties, "event_type")
          .select(col("event_type"), col("n_days"), col("s_stat"),
            col("n_pos"), col("n_neg"), col("n_tie_pairs"),
            (col("n_days") * (col("n_days") - 1L) * (lit(2L) * col("n_days") + 5L)
              - col("tie_adj")).as("var18"),
            when(col("s_stat") > 0, lit("increasing"))
              .when(col("s_stat") < 0, lit("decreasing"))
              .otherwise(lit("none")).as("trend"))
          .orderBy("event_type")
      },
      Some("""
        WITH d AS (SELECT event_type, date_trunc('day', ts) AS day,
                          sum(CAST(round(value * 100) AS BIGINT)) // count(*) AS mean_c
                   FROM events GROUP BY 1, 2),
        p AS (SELECT a.event_type,
                     CASE WHEN b.mean_c > a.mean_c THEN 1
                          WHEN b.mean_c < a.mean_c THEN -1 ELSE 0 END AS sgn
              FROM d a JOIN d b ON a.event_type = b.event_type AND a.day < b.day),
        ps AS (SELECT event_type, sum(sgn) AS s_stat,
                      sum(CASE WHEN sgn = 1 THEN 1 ELSE 0 END) AS n_pos,
                      sum(CASE WHEN sgn = -1 THEN 1 ELSE 0 END) AS n_neg,
                      sum(CASE WHEN sgn = 0 THEN 1 ELSE 0 END) AS n_tie_pairs
               FROM p GROUP BY 1),
        tg AS (SELECT event_type, mean_c, count(*) AS t FROM d GROUP BY 1, 2),
        ts_ AS (SELECT event_type, count(*) AS n_distinct_vals, sum(t) AS n_days,
                       sum(t * (t - 1) * (2 * t + 5)) AS tie_adj
                FROM tg GROUP BY 1)
        SELECT p.event_type, CAST(n_days AS BIGINT) AS n_days,
               CAST(s_stat AS BIGINT) AS s_stat,
               CAST(n_pos AS BIGINT) AS n_pos, CAST(n_neg AS BIGINT) AS n_neg,
               CAST(n_tie_pairs AS BIGINT) AS n_tie_pairs,
               CAST(n_days * (n_days - 1) * (2 * n_days + 5) - tie_adj AS BIGINT) AS var18,
               CASE WHEN s_stat > 0 THEN 'increasing'
                    WHEN s_stat < 0 THEN 'decreasing' ELSE 'none' END AS trend
        FROM ps p JOIN ts_ USING (event_type)
        ORDER BY p.event_type
      """)),

    // ---- Theil–Sen slope estimator (round-9) ----------------------------
    // Mann-Kendall's companion (Theil 1950 / Sen 1968, public): the
    // robust trend MAGNITUDE = median of all pairwise slopes
    // (xⱼ − xᵢ)/(dayⱼ − dayᵢ). Exactness discipline: each pair's slope
    // is the DEFINED integer (Δcents · 1000) div Δdays (Δdays > 0 by
    // the join predicate; Δcents may be negative but BOTH engines
    // truncate integral division toward zero — verified this host),
    // and the median is the LOWER median picked by row_number selection
    // — never percentile()/quantile(), whose interpolation is float.
    // Ties in slope value make the row_number tie order irrelevant: any
    // order yields the same SELECTED VALUE. Same calendar-bounded O(n²)
    // pair join as mann_kendall_trend.
    Reg("theil_sen_slope",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val daily = Tables(s, dir).events
          .groupBy(col("event_type"), date_trunc("day", col("ts")).as("day"))
          .agg(expr("sum(CAST(round(value * 100) AS BIGINT)) div count(*)").as("mean_c"))
        val slopes = daily.as("a").join(daily.as("b"),
            col("a.event_type") === col("b.event_type") && col("a.day") < col("b.day"))
          .select(col("a.event_type").as("event_type"),
            expr("""((b.mean_c - a.mean_c) * 1000)
                    div (datediff(CAST(b.day AS DATE), CAST(a.day AS DATE)))""")
              .as("slope_pm"))
        val w = Window.partitionBy(col("event_type")).orderBy(col("slope_pm"))
        slopes
          .withColumn("rn", row_number().over(w))
          .withColumn("m", count(lit(1)).over(Window.partitionBy(col("event_type"))))
          .filter(col("rn") === expr("(m + 1) div 2"))
          .select(col("event_type"), col("m").as("n_pairs"),
            col("slope_pm").as("median_slope_cents_per_day_x1000"))
          .orderBy("event_type")
      },
      Some("""
        WITH d AS (SELECT event_type, date_trunc('day', ts) AS day,
                          sum(CAST(round(value * 100) AS BIGINT)) // count(*) AS mean_c
                   FROM events GROUP BY 1, 2),
        p AS (SELECT a.event_type,
                     ((b.mean_c - a.mean_c) * 1000)
                       // datediff('day', CAST(a.day AS DATE), CAST(b.day AS DATE)) AS slope_pm
              FROM d a JOIN d b ON a.event_type = b.event_type AND a.day < b.day),
        r AS (SELECT event_type, slope_pm,
                     row_number() OVER (PARTITION BY event_type ORDER BY slope_pm) AS rn,
                     count(*) OVER (PARTITION BY event_type) AS m
              FROM p)
        SELECT event_type, CAST(m AS BIGINT) AS n_pairs,
               CAST(slope_pm AS BIGINT) AS median_slope_cents_per_day_x1000
        FROM r WHERE rn = (m + 1) // 2
        ORDER BY event_type
      """)),

    // ---- daily bounce rate (round-9) ------------------------------------
    // The engagement KPI over the 30-min-gap sessionization: per session-
    // start day, how many sessions consisted of a single event. One
    // ordered pass per user for the session ids (the interval_overlap
    // derivation), one session-grain agg, one day-grain agg; rate is a
    // single non-negative integral division, permille.
    Reg("bounce_rate_daily",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val uw = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
        val sess = Tables(s, dir).events
          .withColumn("us", unix_micros(col("ts")))
          .withColumn("prev", lag(col("us"), 1).over(uw))
          .withColumn("new_s",
            when(col("prev").isNull || col("us") - col("prev") > 1800000000L, 1L)
              .otherwise(0L))
          .withColumn("sid",
            sum(col("new_s")).over(uw.rowsBetween(Window.unboundedPreceding, 0)))
          .groupBy(col("user_id"), col("sid"))
          .agg(min(col("us")).as("s_start"), count(lit(1)).as("n_events"))
        sess
          .groupBy(expr("date_trunc('day', timestamp_micros(s_start))").as("day"))
          .agg(count(lit(1)).as("n_sessions"),
            sum(when(col("n_events") === 1L, 1L).otherwise(0L)).as("n_bounced"))
          .select(date_format(col("day"), "yyyy-MM-dd").as("day"),
            col("n_sessions"), col("n_bounced"),
            expr("(n_bounced * 1000) div n_sessions").as("bounce_permille"))
          .orderBy("day")
      },
      Some("""
        WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS us FROM events),
        s1 AS (SELECT user_id, us, event_id,
                      lag(us) OVER (PARTITION BY user_id ORDER BY us, event_id) AS prev
               FROM e),
        s2 AS (SELECT user_id, us, event_id,
                      CASE WHEN prev IS NULL OR us - prev > 1800000000 THEN 1 ELSE 0 END AS new_s
               FROM s1),
        s3 AS (SELECT user_id, us,
                      sum(new_s) OVER (PARTITION BY user_id ORDER BY us, event_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
               FROM s2),
        sess AS (SELECT user_id, sid, min(us) AS s_start, count(*) AS n_events
                 FROM s3 GROUP BY 1, 2),
        d AS (SELECT date_trunc('day', make_timestamp(s_start)) AS day,
                     count(*) AS n_sessions,
                     sum(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS n_bounced
              FROM sess GROUP BY 1)
        SELECT strftime(day, '%Y-%m-%d') AS day, n_sessions,
               CAST(n_bounced AS BIGINT) AS n_bounced,
               CAST((n_bounced * 1000) // n_sessions AS BIGINT) AS bounce_permille
        FROM d ORDER BY day
      """)),

    // ---- min-max + rank feature scaling (round-9) -----------------------
    // The ML feature-prep pass: per event_type, each value normalized
    // two ways — min-max to [0, 10⁶] ppm ((x − min)·10⁶ div (max − min),
    // numerator non-negative so the floor is engine-identical) and
    // rank-based ((rank − 1)·10⁶ div (n − 1), the integer percent_rank
    // twin with a deterministic (value, event_id) tie order). Group
    // stats ride per-type windows (one shuffle); the scaled columns are
    // then pure map-side — the shape a feature pipeline wants at 100 TB
    // (stats once, broadcastable; normalization streams).
    Reg("feature_scaling_minmax",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val seg = Window.partitionBy(col("event_type"))
        val ord = Window.partitionBy(col("event_type"))
          .orderBy(col("cents"), col("event_id"))
        Tables(s, dir).events
          .select(col("event_id"), col("event_type"),
            expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
          .withColumn("mn", min(col("cents")).over(seg))
          .withColumn("mx", max(col("cents")).over(seg))
          .withColumn("n", count(lit(1)).over(seg))
          .withColumn("rk", row_number().over(ord).cast("long"))
          .select(col("event_id"), col("event_type"), col("cents"),
            expr("""CASE WHEN mx = mn THEN 0L
                    ELSE ((cents - mn) * 1000000) div (mx - mn) END""").as("minmax_ppm"),
            expr("""CASE WHEN n = 1 THEN 0L
                    ELSE ((rk - 1) * 1000000) div (n - 1) END""").as("rank_ppm"))
          .orderBy("event_id")
      },
      Some("""
        WITH e AS (SELECT event_id, event_type,
                          CAST(round(value * 100) AS BIGINT) AS cents
                   FROM events),
        w AS (SELECT *,
                     min(cents) OVER (PARTITION BY event_type) AS mn,
                     max(cents) OVER (PARTITION BY event_type) AS mx,
                     count(*) OVER (PARTITION BY event_type) AS n,
                     row_number() OVER (PARTITION BY event_type
                                        ORDER BY cents, event_id) AS rk
              FROM e)
        SELECT event_id, event_type, cents,
               CAST(CASE WHEN mx = mn THEN 0
                         ELSE ((cents - mn) * 1000000) // (mx - mn) END AS BIGINT)
                 AS minmax_ppm,
               CAST(CASE WHEN n = 1 THEN 0
                         ELSE ((rk - 1) * 1000000) // (n - 1) END AS BIGINT)
                 AS rank_ppm
        FROM w ORDER BY event_id
      """)),

    // ---- trimmed & winsorized means (round-9) ---------------------------
    // The robust-mean pair beside mad_outliers: per event_type, the 5%-
    // both-ends TRIMMED mean (drop rank ≤ ⌊n·5/100⌋ from each tail) and
    // the WINSORIZED mean (clamp tails to the rank-selected p5/p95
    // boundary VALUES — rank selection, never interpolating
    // percentile()). Everything integer: cents ≥ 0 so both means are
    // single non-negative integral divisions; boundary values come from
    // two rank-filtered rows joined back (broadcast-sized). One rank
    // window per type + two small joins.
    Reg("trimmed_mean_by_type",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val e = Tables(s, dir).events
          .select(col("event_type"), col("event_id"),
            expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
          .withColumn("rk", row_number().over(
            Window.partitionBy(col("event_type")).orderBy(col("cents"), col("event_id")))
            .cast("long"))
          .withColumn("n", count(lit(1)).over(Window.partitionBy(col("event_type"))))
          .withColumn("lo", expr("(n * 5) div 100"))
          .localCheckpoint() // feeds boundaries AND both mean aggs
        val bounds = e.filter(col("rk") === col("lo") + 1L || col("rk") === col("n") - col("lo"))
          .groupBy(col("event_type"))
          .agg(min(col("cents")).as("p_lo"), max(col("cents")).as("p_hi"))
        e.join(broadcast(bounds), "event_type")
          .groupBy(col("event_type"))
          .agg(max(col("n")).as("n"),
            expr("sum(cents) div count(*)").as("raw_mean_c"),
            expr("""sum(CASE WHEN rk > lo AND rk <= n - lo THEN cents ELSE 0L END)
                    div sum(CASE WHEN rk > lo AND rk <= n - lo THEN 1L ELSE 0L END)""")
              .as("trimmed_mean_c"),
            expr("""sum(CASE WHEN cents < p_lo THEN p_lo
                             WHEN cents > p_hi THEN p_hi ELSE cents END) div count(*)""")
              .as("winsorized_mean_c"))
          .orderBy("event_type")
      },
      Some("""
        WITH e AS (SELECT event_type, event_id,
                          CAST(round(value * 100) AS BIGINT) AS cents
                   FROM events),
        w AS (SELECT *,
                     row_number() OVER (PARTITION BY event_type
                                        ORDER BY cents, event_id) AS rk,
                     count(*) OVER (PARTITION BY event_type) AS n
              FROM e),
        l AS (SELECT *, (n * 5) // 100 AS lo FROM w),
        b AS (SELECT event_type, min(cents) AS p_lo, max(cents) AS p_hi
              FROM l WHERE rk = lo + 1 OR rk = n - lo
              GROUP BY 1)
        SELECT l.event_type, CAST(max(l.n) AS BIGINT) AS n,
               CAST(sum(l.cents) // count(*) AS BIGINT) AS raw_mean_c,
               CAST(sum(CASE WHEN l.rk > l.lo AND l.rk <= l.n - l.lo THEN l.cents ELSE 0 END)
                    // sum(CASE WHEN l.rk > l.lo AND l.rk <= l.n - l.lo THEN 1 ELSE 0 END)
                 AS BIGINT) AS trimmed_mean_c,
               CAST(sum(CASE WHEN l.cents < b.p_lo THEN b.p_lo
                             WHEN l.cents > b.p_hi THEN b.p_hi ELSE l.cents END)
                    // count(*) AS BIGINT) AS winsorized_mean_c
        FROM l JOIN b USING (event_type)
        GROUP BY l.event_type
        ORDER BY l.event_type
      """)),

    // ---- weekly cohort retention (round-9) ------------------------------
    // The weekly-grain sibling of the daily `cohort_retention` matrix,
    // adding cohort sizes and per-mille retention: users bucketed by
    // first-seen ISO week (cohort), then for each week offset the count
    // still active and the per-mille retention. Shapes: one hash agg for first
    // weeks, one distinct for (user, week) activity, a shuffle join on
    // user_id, and a broadcast of the (tiny: one row per calendar week)
    // cohort sizes — at 100 TB the user-keyed join co-partitions and the
    // cohort-size relation stays broadcastable forever. Integer per-mille,
    // week math on DATE-truncated values (Monday-start in both engines).
    Reg("cohort_retention_weekly",
      (s, dir) => {
        val e = Tables(s, dir).events
          .select(col("user_id"), date_trunc("week", col("ts")).cast("date").as("wk"))
        val first = e.groupBy("user_id").agg(min(col("wk")).as("cohort_wk"))
        val sizes = first.groupBy("cohort_wk").agg(count(lit(1)).as("n_cohort"))
        e.distinct()
          .join(first, "user_id")
          .withColumn("week_offset", expr("CAST(datediff(wk, cohort_wk) div 7 AS BIGINT)"))
          .groupBy(col("cohort_wk"), col("week_offset"))
          .agg(countDistinct(col("user_id")).as("n_active"))
          .join(broadcast(sizes), "cohort_wk")
          .select(date_format(col("cohort_wk"), "yyyy-MM-dd").as("cohort_week"),
            col("week_offset"), col("n_active"), col("n_cohort"),
            expr("n_active * 1000 div n_cohort").as("retained_pm"))
          .orderBy("cohort_week", "week_offset")
      },
      Some("""
        WITH e AS (SELECT user_id, date_trunc('week', ts) AS wk FROM events),
        f AS (SELECT user_id, min(wk) AS cohort_wk FROM e GROUP BY 1),
        sz AS (SELECT cohort_wk, count(*) AS n_cohort FROM f GROUP BY 1),
        a AS (SELECT DISTINCT user_id, wk FROM e),
        j AS (SELECT a.user_id, f.cohort_wk,
                     date_diff('day', f.cohort_wk, a.wk) // 7 AS week_offset
              FROM a JOIN f USING (user_id)),
        g AS (SELECT cohort_wk, week_offset,
                     count(DISTINCT user_id) AS n_active
              FROM j GROUP BY 1, 2)
        SELECT strftime(g.cohort_wk, '%Y-%m-%d') AS cohort_week,
               CAST(g.week_offset AS BIGINT) AS week_offset,
               g.n_active, sz.n_cohort,
               CAST(g.n_active * 1000 // sz.n_cohort AS BIGINT) AS retained_pm
        FROM g JOIN sz USING (cohort_wk)
        ORDER BY cohort_week, week_offset
      """)),

    // ---- A/B conversion with Wilson 95% intervals (round-9) -------------
    // Experiment readout: users split by the deterministic user_id parity
    // "assignment", conversion = any purchase event; per arm the Wilson
    // score interval at z = 1.96. Cross-engine float discipline: the
    // Wilson formula uses only +,-,*,/,sqrt — every one IEEE-754
    // correctly-rounded, so writing the IDENTICAL expression tree on both
    // sides (constants CAST AS DOUBLE in both — DuckDB parses bare 1.96
    // as DECIMAL) gives bit-identical doubles before the ×1e6 rounding.
    // Two hash aggs over user_id, two output rows.
    Reg("ab_conversion_wilson",
      (s, dir) => {
        val u = Tables(s, dir).events
          .groupBy(col("user_id"))
          .agg(max(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("conv"))
          .withColumn("arm", pmod(col("user_id"), lit(2L)))
          .groupBy(col("arm"))
          .agg(count(lit(1)).as("n_users"), sum(col("conv")).as("n_converted"))
        u.select(col("arm"), col("n_users"), col("n_converted"),
            expr("CAST(round(CAST(n_converted AS DOUBLE) / CAST(n_users AS DOUBLE) * 1000000) AS BIGINT)")
              .as("p_micros"),
            expr("""CAST(round(((CAST(n_converted AS DOUBLE) / CAST(n_users AS DOUBLE)
                      + CAST(3.8416 AS DOUBLE) / (CAST(2 AS DOUBLE) * CAST(n_users AS DOUBLE)))
                     - CAST(1.96 AS DOUBLE) * sqrt(CAST(n_converted AS DOUBLE) / CAST(n_users AS DOUBLE)
                         * (CAST(1 AS DOUBLE) - CAST(n_converted AS DOUBLE) / CAST(n_users AS DOUBLE))
                         / CAST(n_users AS DOUBLE)
                       + CAST(3.8416 AS DOUBLE) / (CAST(4 AS DOUBLE) * CAST(n_users AS DOUBLE) * CAST(n_users AS DOUBLE))))
                    / (CAST(1 AS DOUBLE) + CAST(3.8416 AS DOUBLE) / CAST(n_users AS DOUBLE))
                    * 1000000) AS BIGINT)""").as("wilson_lo_micros"),
            expr("""CAST(round(((CAST(n_converted AS DOUBLE) / CAST(n_users AS DOUBLE)
                      + CAST(3.8416 AS DOUBLE) / (CAST(2 AS DOUBLE) * CAST(n_users AS DOUBLE)))
                     + CAST(1.96 AS DOUBLE) * sqrt(CAST(n_converted AS DOUBLE) / CAST(n_users AS DOUBLE)
                         * (CAST(1 AS DOUBLE) - CAST(n_converted AS DOUBLE) / CAST(n_users AS DOUBLE))
                         / CAST(n_users AS DOUBLE)
                       + CAST(3.8416 AS DOUBLE) / (CAST(4 AS DOUBLE) * CAST(n_users AS DOUBLE) * CAST(n_users AS DOUBLE))))
                    / (CAST(1 AS DOUBLE) + CAST(3.8416 AS DOUBLE) / CAST(n_users AS DOUBLE))
                    * 1000000) AS BIGINT)""").as("wilson_hi_micros"))
          .orderBy("arm")
      },
      Some("""
        WITH u AS (SELECT user_id,
                          max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS conv
                   FROM events GROUP BY 1),
        a AS (SELECT user_id % 2 AS arm, count(*) AS n_users,
                     sum(conv) AS n_converted
              FROM u GROUP BY 1)
        SELECT CAST(arm AS BIGINT) AS arm, n_users,
               CAST(n_converted AS BIGINT) AS n_converted,
               CAST(round(CAST(n_converted AS DOUBLE) / CAST(n_users AS DOUBLE) * 1000000) AS BIGINT) AS p_micros,
               CAST(round(((CAST(n_converted AS DOUBLE) / CAST(n_users AS DOUBLE)
                      + CAST(3.8416 AS DOUBLE) / (CAST(2 AS DOUBLE) * CAST(n_users AS DOUBLE)))
                     - CAST(1.96 AS DOUBLE) * sqrt(CAST(n_converted AS DOUBLE) / CAST(n_users AS DOUBLE)
                         * (CAST(1 AS DOUBLE) - CAST(n_converted AS DOUBLE) / CAST(n_users AS DOUBLE))
                         / CAST(n_users AS DOUBLE)
                       + CAST(3.8416 AS DOUBLE) / (CAST(4 AS DOUBLE) * CAST(n_users AS DOUBLE) * CAST(n_users AS DOUBLE))))
                    / (CAST(1 AS DOUBLE) + CAST(3.8416 AS DOUBLE) / CAST(n_users AS DOUBLE))
                    * 1000000) AS BIGINT) AS wilson_lo_micros,
               CAST(round(((CAST(n_converted AS DOUBLE) / CAST(n_users AS DOUBLE)
                      + CAST(3.8416 AS DOUBLE) / (CAST(2 AS DOUBLE) * CAST(n_users AS DOUBLE)))
                     + CAST(1.96 AS DOUBLE) * sqrt(CAST(n_converted AS DOUBLE) / CAST(n_users AS DOUBLE)
                         * (CAST(1 AS DOUBLE) - CAST(n_converted AS DOUBLE) / CAST(n_users AS DOUBLE))
                         / CAST(n_users AS DOUBLE)
                       + CAST(3.8416 AS DOUBLE) / (CAST(4 AS DOUBLE) * CAST(n_users AS DOUBLE) * CAST(n_users AS DOUBLE))))
                    / (CAST(1 AS DOUBLE) + CAST(3.8416 AS DOUBLE) / CAST(n_users AS DOUBLE))
                    * 1000000) AS BIGINT) AS wilson_hi_micros
        FROM a ORDER BY arm
      """)),

    // ---- linear multi-touch attribution (round-9) ------------------------
    // The equal-credit sibling of attribution_last_touch: every click/view
    // in the 24 h before a purchase shares the purchase value equally.
    // The touch count per purchase is ONE time-RANGE window over the
    // µs-epoch key (user-partitioned, [now−24 h, now) exclusive of the
    // purchase row itself) — no purchases⋈touches range join, same
    // discipline as the last-touch window pass. Credit is an integral
    // division of cents; unattributed purchases keep the full value with
    // the 0-touch sentinel.
    Reg("attribution_linear",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy(col("user_id")).orderBy(col("us"))
          .rangeBetween(-86400000000L, -1L)
        Tables(s, dir).events
          .withColumn("us", unix_micros(col("ts")))
          .withColumn("n_touches", coalesce( // empty frame → NULL in both engines
            sum(when(col("event_type").isin("click", "view"), 1L).otherwise(0L)).over(w),
            lit(0L)))
          .filter(col("event_type") === "purchase")
          .select(col("event_id").as("purchase_id"), col("user_id"),
            date_format(col("ts"), fmt).as("purchase_ts"),
            round(col("value") * 100).cast("long").as("value_cents"),
            col("n_touches"),
            expr("CASE WHEN n_touches > 0 THEN CAST(round(value * 100) AS BIGINT) div n_touches ELSE 0 END")
              .as("credit_per_touch_cents"))
          .orderBy(col("purchase_id"))
      },
      Some("""
        WITH e AS (SELECT *, epoch_us(ts) AS us FROM events),
        t AS (SELECT *,
                     sum(CASE WHEN event_type IN ('click','view') THEN 1 ELSE 0 END)
                       OVER (PARTITION BY user_id ORDER BY us
                             RANGE BETWEEN 86400000000 PRECEDING AND 1 PRECEDING) AS n_touches
              FROM e)
        SELECT event_id AS purchase_id, user_id,
               strftime(ts, '%Y-%m-%d %H:%M:%S') AS purchase_ts,
               CAST(round(value * 100) AS BIGINT) AS value_cents,
               CAST(coalesce(n_touches, 0) AS BIGINT) AS n_touches,
               CAST(CASE WHEN n_touches > 0
                         THEN CAST(round(value * 100) AS BIGINT) // n_touches
                         ELSE 0 END AS BIGINT) AS credit_per_touch_cents
        FROM t WHERE event_type = 'purchase' ORDER BY purchase_id
      """)),

    // ---- point-in-time feature join against the SCD2 dimension ----------
    // The feature-store correctness operation (training-data leakage
    // guard): each purchase joined to the user-state dimension version
    // valid AT the purchase instant — [valid_from, valid_to) semantics
    // over the scd2_user_state versions. NOT a range join: version rows
    // and purchase rows UNION into one user-partitioned stream ordered by
    // (µs, kind, event_id) — version before query at the same instant, so
    // a purchase that itself changes state sees the NEW version — and one
    // last(..., ignoreNulls) carry-forward pass attaches the state; the
    // asof-window discipline, linear, co-partitioned by user. The oracle
    // cross-checks with the explicit interval predicate, proving the
    // carry-forward ≡ interval-membership equivalence.
    Reg("pit_feature_join",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val ord = Window.partitionBy(col("user_id"))
          .orderBy(col("us"), col("kind"), col("event_id"))
          .rowsBetween(Window.unboundedPreceding, 0)
        val ev = Tables(s, dir).events
          .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
        val vord = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
        val versions = ev
          .withColumn("prev", lag(col("event_type"), 1).over(vord))
          .filter(col("prev").isNull || col("prev") =!= col("event_type"))
          .withColumn("version", row_number().over(vord).cast("long"))
          .select(col("user_id"), unix_micros(col("ts")).as("us"),
            lit(0L).as("kind"), col("event_id"),
            col("event_type").as("v_state"), col("version").as("v_version"),
            unix_micros(col("ts")).as("v_from_us"))
        val queries = ev.filter(col("event_type") === "purchase")
          .select(col("user_id"), unix_micros(col("ts")).as("us"),
            lit(1L).as("kind"), col("event_id"),
            lit(null).cast("string").as("v_state"),
            lit(null).cast("long").as("v_version"),
            lit(null).cast("long").as("v_from_us"))
        versions.union(queries)
          .withColumn("state", last(col("v_state"), ignoreNulls = true).over(ord))
          .withColumn("version", last(col("v_version"), ignoreNulls = true).over(ord))
          .withColumn("from_us", last(col("v_from_us"), ignoreNulls = true).over(ord))
          .filter(col("kind") === 1L)
          .select(col("event_id").as("purchase_id"), col("user_id"),
            date_format(timestamp_micros(col("us")), fmt).as("purchase_ts"),
            col("state").as("state_at_purchase"), col("version"),
            expr("(us - from_us) div 60000000").as("state_age_mins"))
          .orderBy(col("purchase_id"))
      },
      Some("""
        WITH o AS (SELECT user_id, ts, event_id, event_type,
                          lag(event_type) OVER (PARTITION BY user_id
                                                ORDER BY ts, event_id) AS prev
                   FROM events),
        chg AS (SELECT user_id, ts, event_id, event_type FROM o
                WHERE prev IS NULL OR prev <> event_type),
        v AS (SELECT user_id, event_type, ts,
                     CAST(row_number() OVER w AS BIGINT) AS version,
                     lead(ts) OVER w AS valid_to_ts
              FROM chg WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
        SELECT p.event_id AS purchase_id, p.user_id,
               strftime(p.ts, '%Y-%m-%d %H:%M:%S') AS purchase_ts,
               v.event_type AS state_at_purchase, v.version,
               CAST((epoch_us(p.ts) - epoch_us(v.ts)) // 60000000 AS BIGINT)
                 AS state_age_mins
        FROM events p JOIN v ON p.user_id = v.user_id
                            AND v.ts <= p.ts
                            AND (p.ts < v.valid_to_ts OR v.valid_to_ts IS NULL)
        WHERE p.event_type = 'purchase'
        ORDER BY purchase_id
      """)),

    // ---- conformal prediction interval evaluation (round-9) -------------
    // Split-conformal calibration of the seasonal-naive forecaster
    // (Vovk et al., public method): on the first-half calendar days the
    // absolute hourly residuals are collected, q̂ = the ⌈(n+1)·0.9⌉-th
    // smallest (RANK-selected order statistic, integer ceil formula
    // ((n+1)·9+9) div 10 clamped to n — never percentile interpolation),
    // then the second half reports empirical coverage of |err| ≤ q̂ in
    // permille — the 90% marginal-coverage guarantee under
    // exchangeability, checked. Everything integer cents on the
    // forecast_snaive hourly-mean machinery (same hour-yesterday
    // equi-join, never lag(24) over a gapped series); q̂ is a per-type
    // broadcast. One agg + one co-partitioned self-join + one rank
    // window + one final agg.
    Reg("conformal_interval_eval",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val hourly = Tables(s, dir).events
          .groupBy(col("event_type"),
            unix_micros(date_trunc("hour", col("ts"))).as("hour_us"))
          .agg(expr("sum(CAST(round(value * 100) AS BIGINT)) div count(*)").as("mean_c"))
          .localCheckpoint() // both sides of the self-join + split reuse
        val resid = hourly.as("cur")
          .join(hourly.as("prev"),
            col("cur.event_type") === col("prev.event_type") &&
              col("cur.hour_us") === col("prev.hour_us") + lit(86400000000L))
          .select(col("cur.event_type").as("event_type"), col("cur.hour_us").as("hour_us"),
            abs(col("cur.mean_c") - col("prev.mean_c")).as("aerr"))
          .withColumn("is_cal", (col("hour_us") < lit(1705276800000000L)).cast("long")) // 2024-01-15
        val cal = resid.filter(col("is_cal") === 1L)
          .withColumn("rk", row_number().over(
            Window.partitionBy(col("event_type")).orderBy(col("aerr"), col("hour_us"))).cast("long"))
          .withColumn("n_cal", count(lit(1)).over(Window.partitionBy(col("event_type"))))
        val qhat = cal
          .filter(col("rk") === least(expr("((n_cal + 1) * 9 + 9) div 10"), col("n_cal")))
          .select(col("event_type"), col("n_cal"), col("aerr").as("qhat_c"))
        resid.filter(col("is_cal") === 0L)
          .join(broadcast(qhat), "event_type")
          .groupBy(col("event_type"))
          .agg(max(col("n_cal")).as("n_cal"), count(lit(1)).as("n_eval"),
            max(col("qhat_c")).as("qhat_cents"),
            expr("sum(CASE WHEN aerr <= qhat_c THEN 1000L ELSE 0L END) div count(*)")
              .as("coverage_pm"))
          .orderBy("event_type")
      },
      Some("""
        WITH hourly AS (SELECT event_type,
                               epoch_us(date_trunc('hour', ts)) AS hour_us,
                               CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
                                 // count(*) AS mean_c
                        FROM events GROUP BY 1, 2),
        resid AS (SELECT c.event_type, c.hour_us, abs(c.mean_c - p.mean_c) AS aerr,
                         CASE WHEN c.hour_us < 1705276800000000 THEN 1 ELSE 0 END AS is_cal
                  FROM hourly c JOIN hourly p
                    ON c.event_type = p.event_type
                   AND c.hour_us = p.hour_us + 86400000000),
        cal AS (SELECT *,
                       row_number() OVER (PARTITION BY event_type
                                          ORDER BY aerr, hour_us) AS rk,
                       count(*) OVER (PARTITION BY event_type) AS n_cal
                FROM resid WHERE is_cal = 1),
        qhat AS (SELECT event_type, n_cal, aerr AS qhat_c FROM cal
                 WHERE rk = least(((n_cal + 1) * 9 + 9) // 10, n_cal))
        SELECT r.event_type, CAST(max(q.n_cal) AS BIGINT) AS n_cal,
               count(*) AS n_eval,
               CAST(max(q.qhat_c) AS BIGINT) AS qhat_cents,
               CAST(sum(CASE WHEN r.aerr <= q.qhat_c THEN 1000 ELSE 0 END)
                    // count(*) AS BIGINT) AS coverage_pm
        FROM resid r JOIN qhat q USING (event_type)
        WHERE r.is_cal = 0
        GROUP BY 1 ORDER BY event_type
      """)),

    // ---- SAX symbolization + top motif (round-9) ------------------------
    // Symbolic Aggregate approXimation (Lin et al. 2003, public method),
    // the rank-based variant: per event type the 30 daily means quantize
    // to letters a-d by NTILE(4) over (mean, day) — rank-based, so no
    // Gaussian breakpoint floats and the tie order is total — and
    // concatenate in day order into the SAX word; then the most frequent
    // 3-letter motif (count DESC, lexicographic tie). The per-type
    // word build is a calendar-bounded collect_list (30 elements — the
    // event_seq_regex discipline); motif extraction explodes ≤ 28
    // positions per type. One day-grain agg + two tiny windows.
    Reg("sax_daily_symbols",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val daily = Tables(s, dir).events
          .groupBy(col("event_type"), date_trunc("day", col("ts")).as("day"))
          .agg(expr("sum(CAST(round(value * 100) AS BIGINT)) div count(*)").as("mean_c"))
          .withColumn("letter", expr("chr(96 + ntile(4) OVER " +
            "(PARTITION BY event_type ORDER BY mean_c, day))"))
        val words = daily.groupBy(col("event_type"))
          .agg(expr("array_join(transform(array_sort(collect_list(struct(day, letter)))," +
            " x -> x.letter), '')").as("sax_word"))
        val motifs = words
          // length < 3 guard: Spark's sequence(1, len-2) runs DESCENDING
          // when len-2 < 1 ([1,0], [1,0,-1] — the shingles trap), emitting
          // phantom "motifs", while the oracle's end-exclusive
          // range(1, len-1) is empty. Filter so both engines emit nothing.
          .filter(length(col("sax_word")) >= 3)
          .select(col("event_type"), col("sax_word"),
            explode(expr("transform(sequence(1, length(sax_word) - 2)," +
              " i -> substring(sax_word, i, 3))")).as("motif"))
          .groupBy(col("event_type"), col("sax_word"), col("motif"))
          .agg(count(lit(1)).as("n"))
          .withColumn("rk", row_number().over(
            Window.partitionBy(col("event_type")).orderBy(col("n").desc, col("motif"))))
          .filter(col("rk") === 1)
        motifs.select(col("event_type"), col("sax_word"),
            col("motif").as("top_motif"), col("n").as("motif_count"))
          .orderBy("event_type")
      },
      Some("""
        WITH daily AS (SELECT event_type, date_trunc('day', ts) AS day,
                              CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
                                // count(*) AS mean_c
                       FROM events GROUP BY 1, 2),
        lett AS (SELECT event_type, day,
                        chr(CAST(96 + ntile(4) OVER (PARTITION BY event_type
                                                     ORDER BY mean_c, day) AS INT)) AS letter
                 FROM daily),
        words AS (SELECT event_type,
                         string_agg(letter, '' ORDER BY day) AS sax_word
                  FROM lett GROUP BY 1),
        m AS (SELECT event_type, sax_word,
                     substr(sax_word, CAST(i AS INT), 3) AS motif
              FROM (SELECT event_type, sax_word,
                           unnest(range(1, len(sax_word) - 1)) AS i
                    FROM words)),
        c AS (SELECT event_type, sax_word, motif, count(*) AS n
              FROM m GROUP BY 1, 2, 3),
        r AS (SELECT *, row_number() OVER (PARTITION BY event_type
                                           ORDER BY n DESC, motif) AS rk
              FROM c)
        SELECT event_type, sax_word, motif AS top_motif, n AS motif_count
        FROM r WHERE rk = 1 ORDER BY event_type
      """)),

    // ---- robust (median/IQR) feature scaling (round-9) ------------------
    // feature_scaling_minmax's outlier-immune sibling: center on the
    // rank-selected lower median, scale by the discrete-order-statistic
    // IQR. The centered value is SIGNED, and integer division of
    // negatives is a cross-engine trap (Spark div truncates toward zero,
    // DuckDB // floors) — so the scaled value is computed as
    // sign · (|c − med|·10⁶ div iqr): every division non-negative,
    // identical both engines. Same one-window-shuffle-then-map shape as
    // the minmax twin.
    Reg("feature_scaling_robust",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val seg = Window.partitionBy(col("event_type"))
        val ord = Window.partitionBy(col("event_type"))
          .orderBy(col("cents"), col("event_id"))
        val e = Tables(s, dir).events
          .select(col("event_id"), col("event_type"),
            expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
          .withColumn("n", count(lit(1)).over(seg))
          .withColumn("rk", row_number().over(ord).cast("long"))
          .localCheckpoint() // feeds the stats AND the scaled output
        val stats = e
          .groupBy(col("event_type"))
          .agg(max(when(col("rk") === expr("(n + 1) div 2"), col("cents"))).as("med"),
            max(when(col("rk") === expr("(n + 3) div 4"), col("cents"))).as("q1"),
            max(when(col("rk") === expr("(3 * n + 3) div 4"), col("cents"))).as("q3"))
          .withColumn("iqr", col("q3") - col("q1"))
        e.join(broadcast(stats), "event_type")
          .select(col("event_id"), col("event_type"), col("cents"),
            col("med"), col("iqr"),
            expr("""CASE WHEN iqr = 0 THEN 0L
                    WHEN cents >= med THEN ((cents - med) * 1000000) div iqr
                    ELSE -(((med - cents) * 1000000) div iqr) END""").as("robust_ppm"))
          .orderBy("event_id")
      },
      Some("""
        WITH e AS (SELECT event_id, event_type,
                          CAST(round(value * 100) AS BIGINT) AS cents
                   FROM events),
        w AS (SELECT *,
                     count(*) OVER (PARTITION BY event_type) AS n,
                     row_number() OVER (PARTITION BY event_type
                                        ORDER BY cents, event_id) AS rk
              FROM e),
        stats AS (SELECT event_type,
                         max(CASE WHEN rk = (n + 1) // 2 THEN cents END) AS med,
                         max(CASE WHEN rk = (n + 3) // 4 THEN cents END) AS q1,
                         max(CASE WHEN rk = (3 * n + 3) // 4 THEN cents END) AS q3
                  FROM w GROUP BY 1)
        SELECT w.event_id, w.event_type, w.cents, s.med,
               CAST(s.q3 - s.q1 AS BIGINT) AS iqr,
               CAST(CASE WHEN s.q3 - s.q1 = 0 THEN 0
                         WHEN w.cents >= s.med
                           THEN ((w.cents - s.med) * 1000000) // (s.q3 - s.q1)
                         ELSE -(((s.med - w.cents) * 1000000) // (s.q3 - s.q1))
                    END AS BIGINT) AS robust_ppm
        FROM w JOIN stats s USING (event_type)
        ORDER BY event_id
      """)),

    // ---- Markov stationary distribution, 3 power iterations (round-9) ---
    // Where does the event-type chain settle? Power iteration over the
    // row-normalized transition matrix in integer millionths: each step's
    // contribution is (v_from · n_fromto) div row_total — the PageRank
    // integer-division discipline, so partial-agg order can't change a
    // single unit. The matrix relation is |types|² rows (bounded by the
    // type vocabulary, broadcastable forever); 3 unrolled join+agg
    // stages. Mass lost to flooring stays lost (deterministic) — the
    // oracle replays the identical floor arithmetic.
    Reg("markov_stationary_3",
      (s, dir) => {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
        val edges = Tables(s, dir).events
          .withColumn("next_type", lead(col("event_type"), 1).over(w))
          .filter(col("next_type").isNotNull)
          .groupBy(col("event_type").as("from_type"), col("next_type").as("to_type"))
          .agg(count(lit(1)).as("n"))
          .withColumn("row_total", sum(col("n")).over(
            org.apache.spark.sql.expressions.Window.partitionBy(col("from_type"))))
          .localCheckpoint() // loop invariant
        val nTypes = edges.select(col("from_type")).distinct()
          .agg(count(lit(1)).as("k"))
        var v = edges.select(col("from_type").as("t")).distinct()
          .crossJoin(broadcast(nTypes))
          .select(col("t"), expr("1000000L div k").as("ppm"))
        for (_ <- 1 to 3) {
          v = edges.join(v, col("from_type") === col("t"))
            .select(col("to_type"), expr("(ppm * n) div row_total").as("c"))
            .groupBy(col("to_type")).agg(sum(col("c")).as("ppm"))
            .select(col("to_type").as("t"), col("ppm"))
        }
        v.select(col("t").as("event_type"), col("ppm").as("stationary_ppm"))
          .orderBy("event_type")
      },
      Some("""
        WITH t AS (SELECT user_id, event_type,
                          lead(event_type) OVER (
                            PARTITION BY user_id ORDER BY ts, event_id) AS next_type
                   FROM events),
        e AS (SELECT event_type AS from_type, next_type AS to_type, count(*) AS n
              FROM t WHERE next_type IS NOT NULL GROUP BY 1, 2),
        m AS (SELECT *, sum(n) OVER (PARTITION BY from_type) AS row_total FROM e),
        k AS (SELECT count(DISTINCT from_type) AS k FROM m),
        v0 AS (SELECT DISTINCT from_type AS t, 1000000 // k.k AS ppm FROM m, k),
        v1 AS (SELECT m.to_type AS t, CAST(sum((v0.ppm * m.n) // m.row_total) AS BIGINT) AS ppm
               FROM m JOIN v0 ON m.from_type = v0.t GROUP BY 1),
        v2 AS (SELECT m.to_type AS t, CAST(sum((v1.ppm * m.n) // m.row_total) AS BIGINT) AS ppm
               FROM m JOIN v1 ON m.from_type = v1.t GROUP BY 1),
        v3 AS (SELECT m.to_type AS t, CAST(sum((v2.ppm * m.n) // m.row_total) AS BIGINT) AS ppm
               FROM m JOIN v2 ON m.from_type = v2.t GROUP BY 1)
        SELECT t AS event_type, ppm AS stationary_ppm
        FROM v3 ORDER BY event_type
      """)),

    // ---- banded dynamic time warping, click vs view (round-9) -----------
    // Sakoe-Chiba banded DTW (r = 3) between the click and view daily
    // mean series — the time-series similarity measure alignment-shifted
    // series need where pointwise distance fails. Two radically different
    // formulations, one hash: the Spark side runs the whole DP as a
    // NESTED `aggregate` HOF fold (outer over rows, inner over columns —
    // codegen'd, zero joins, zero shuffles beyond the two daily aggs;
    // sound because the series are calendar-bounded, the mann_kendall
    // discipline), while the oracle walks ANTI-DIAGONALS in a recursive
    // CTE carrying two diagonals (age 0/1 tags), the only recursion
    // whose per-step frontier a SQL engine can express. Integer cents
    // costs; the 10^15 sentinel stands in for +∞ outside the band
    // (band cells always have a real predecessor, and 60 steps × step
    // magnitude cannot reach the sentinel). Cross-checked against an
    // independent reference DP.
    Reg("dtw_banded_click_view",
      (s, dir) => {
        val daily = Tables(s, dir).events
          .filter(col("event_type").isin("click", "view"))
          .groupBy(col("event_type"), date_trunc("day", col("ts")).as("day"))
          .agg(expr("sum(CAST(round(value * 100) AS BIGINT)) div count(*)").as("mean_c"))
        val series = daily.groupBy(col("event_type"))
          .agg(expr("transform(array_sort(collect_list(struct(day, mean_c))), x -> x.mean_c)")
            .as("seq"))
        val one = series.groupBy()
          .agg(max(when(col("event_type") === "click", col("seq"))).as("a"),
            max(when(col("event_type") === "view", col("seq"))).as("b"))
          // oracle-parity guard: the recursive-CTE oracle produces a row
          // only when the DP reaches terminal cell (n, m) — impossible if
          // either series is empty or the lengths differ by more than the
          // band radius 3 (terminal outside the band). The HOF fold would
          // instead surface the 10^15 sentinel (or nulls), so emit zero
          // rows in exactly the cases the oracle does.
          .filter(expr("a IS NOT NULL AND b IS NOT NULL" +
            " AND abs(size(a) - size(b)) <= 3"))
        one.selectExpr("size(a) AS n_a", "size(b) AS n_b",
          """element_at(
               aggregate(sequence(1, size(a)),
                 transform(b, x -> CAST(1000000000000000 AS BIGINT)),
                 (prev, i) -> aggregate(sequence(1, size(b)),
                   CAST(array() AS ARRAY<BIGINT>),
                   (row, j) -> concat(row, array(
                     CASE WHEN abs(i - j) > 3 THEN CAST(1000000000000000 AS BIGINT)
                          WHEN i = 1 AND j = 1 THEN abs(element_at(a, 1) - element_at(b, 1))
                          ELSE abs(element_at(a, i) - element_at(b, j)) + least(
                            element_at(prev, j),
                            CASE WHEN j > 1 THEN element_at(prev, j - 1)
                                 ELSE CAST(1000000000000000 AS BIGINT) END,
                            CASE WHEN j > 1 THEN element_at(row, j - 1)
                                 ELSE CAST(1000000000000000 AS BIGINT) END)
                     END)))),
               size(b)) AS dtw_cost""")
      },
      Some("""
        WITH RECURSIVE
        daily AS (SELECT event_type, date_trunc('day', ts) AS day,
                         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
                           // count(*) AS mean_c
                  FROM events WHERE event_type IN ('click','view')
                  GROUP BY 1, 2),
        a AS (SELECT CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS i, mean_c AS v
              FROM daily WHERE event_type = 'click'),
        b AS (SELECT CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS j, mean_c AS v
              FROM daily WHERE event_type = 'view'),
        nn AS (SELECT (SELECT max(i) FROM a) AS n, (SELECT max(j) FROM b) AS m),
        dp(d, i, j, cost, age) AS (
          SELECT CAST(2 AS BIGINT), CAST(1 AS BIGINT), CAST(1 AS BIGINT),
                 abs(a.v - b.v), CAST(0 AS BIGINT)
          FROM a, b WHERE a.i = 1 AND b.j = 1
          UNION ALL
          SELECT * FROM (
            SELECT r.d + 1, r.i, r.j, r.cost, CAST(1 AS BIGINT)
            FROM dp r, nn WHERE r.age = 0 AND r.d < nn.n + nn.m
            UNION ALL
            SELECT r2.d + 1, c.i, c.j, c.step + min(r2.cost), CAST(0 AS BIGINT)
            FROM (SELECT a.i, b.j, abs(a.v - b.v) AS step, a.i + b.j AS dg
                  FROM a, b WHERE abs(a.i - b.j) <= 3 AND a.i + b.j >= 3) c
            JOIN dp r2 ON (
                 (r2.age = 0 AND ((r2.i = c.i - 1 AND r2.j = c.j)
                                  OR (r2.i = c.i AND r2.j = c.j - 1)))
              OR (r2.age = 1 AND r2.i = c.i - 1 AND r2.j = c.j - 1))
            JOIN nn ON true
            WHERE r2.d + 1 = c.dg AND r2.d < nn.n + nn.m
            GROUP BY r2.d, c.i, c.j, c.step
          )
        )
        SELECT CAST(nn.n AS INT) AS n_a, CAST(nn.m AS INT) AS n_b,
               dp.cost AS dtw_cost
        FROM dp, nn WHERE dp.i = nn.n AND dp.j = nn.m AND dp.age = 0
      """)),

    // ---- Spearman rank correlation matrix (round-11) ---------------------
    // The ROBUST sibling of pearson_corr_types: monotone association over
    // the five types' daily-mean series, immune to the outlier days that
    // drag Pearson around. Spearman ρ = Pearson applied to ranks; ties use
    // AVERAGE ranks, kept exact by working in DOUBLED ranks
    //   rk2 = 2·RANK() + |ties| − 1   (an integer: 2·avg_rank)
    // — Pearson is affine-invariant so the ×2 cancels; the sufficient
    // statistics stay exact int64 sums and the final r is the same
    // identical-double tree as pearson_corr_types (zero-variance → 0
    // sentinel). Shapes: day-grain agg, two thin per-type windows (rank +
    // tie count — |days| rows per type), day-keyed pair join, one pair
    // agg. The windows partition by type: bounded parallelism at 5 types
    // here, but each partition is only the calendar spine (the
    // user_growth_daily discipline — shard by period at extreme history).
    // SEMANTICS NOTE (ADVICE r11, intentional): each type is ranked over
    // its FULL daily series, and pairs correlate over day-INTERSECTED
    // rows — textbook pairwise Spearman would re-rank within each
    // intersection (10 rank passes for 5 types instead of 1 per type).
    // On this data the two coincide: the events fixture's day spine is
    // complete for every type at every SF (asserted by
    // Round11StatsSpec), so every intersection IS the full series. A
    // sparse-spine deployment wants the rank-after-join form — that
    // variant changes the window keying, not the Pearson tree.
    Reg("spearman_corr_types",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val daily = Tables(s, dir).events
          .groupBy(col("event_type"), date_trunc("day", col("ts")).as("day"))
          .agg(expr("sum(CAST(round(value * 100) AS BIGINT)) div count(*)")
            .as("mean_c"))
        val ranked = daily.withColumn("rk2",
          lit(2L) * rank().over(Window.partitionBy(col("event_type"))
            .orderBy(col("mean_c"))).cast("long")
            + count(lit(1)).over(Window.partitionBy(col("event_type"),
              col("mean_c"))) - 1L)
        val j = ranked.as("a").join(ranked.as("b"),
          col("a.day") === col("b.day") &&
            col("a.event_type") < col("b.event_type"))
          .select(col("a.event_type").as("ta"), col("b.event_type").as("tb"),
            col("a.rk2").as("x"), col("b.rk2").as("y"))
        j.groupBy(col("ta"), col("tb"))
          .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
            sum(col("y")).as("sy"), sum(col("x") * col("y")).as("sxy"),
            sum(col("x") * col("x")).as("sxx"),
            sum(col("y") * col("y")).as("syy"))
          .select(col("ta"), col("tb"), col("n").as("n_days"),
            expr("""CASE WHEN n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0
                    THEN CAST(round(CAST(n * sxy - sx * sy AS DOUBLE)
                      / sqrt(CAST(n * sxx - sx * sx AS DOUBLE)
                             * CAST(n * syy - sy * sy AS DOUBLE))
                      * CAST(1000000 AS DOUBLE)) AS BIGINT)
                    ELSE CAST(0 AS BIGINT) END""").as("rho_um"))
          .orderBy("ta", "tb")
      },
      Some("""
        WITH daily AS (SELECT event_type, date_trunc('day', ts) AS day,
                              CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
                                // count(*) AS mean_c
                       FROM events GROUP BY 1, 2),
        rk AS (SELECT event_type, day,
                      2 * CAST(rank() OVER (PARTITION BY event_type
                            ORDER BY mean_c) AS BIGINT)
                        + count(*) OVER (PARTITION BY event_type, mean_c)
                        - 1 AS rk2
               FROM daily),
        p AS (SELECT a.event_type AS ta, b.event_type AS tb,
                     a.rk2 AS x, b.rk2 AS y
              FROM rk a JOIN rk b
                ON a.day = b.day AND a.event_type < b.event_type),
        st AS (SELECT ta, tb, count(*) AS n,
                      CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
                      CAST(sum(x * y) AS BIGINT) AS sxy,
                      CAST(sum(x * x) AS BIGINT) AS sxx,
                      CAST(sum(y * y) AS BIGINT) AS syy
               FROM p GROUP BY 1, 2)
        SELECT ta, tb, n AS n_days,
               CASE WHEN n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0
               THEN CAST(round(CAST(n * sxy - sx * sy AS DOUBLE)
                 / sqrt(CAST(n * sxx - sx * sx AS DOUBLE)
                        * CAST(n * syy - sy * sy AS DOUBLE))
                 * CAST(1000000 AS DOUBLE)) AS BIGINT)
               ELSE CAST(0 AS BIGINT) END AS rho_um
        FROM st ORDER BY ta, tb
      """)),

    // ---- Kendall tau-b concordance matrix (round-11) ---------------------
    // Completes the correlation trio (Pearson → linear, Spearman →
    // monotone-by-rank, Kendall → pairwise concordance): over each type
    // pair's day-aligned series, count concordant / discordant /
    // x-tied / y-tied DAY PAIRS and emit
    //   τ_b = (nc − nd) / √((n0 − n_xtied)(n0 − n_ytied))
    // Everything before the final sqrt is exact integer counting (the
    // products dx·dy compare against 0, never accumulate), so the only
    // float is one sqrt-of-int-product — the Wilson discipline. Either
    // side all-tied → 0 sentinel. Shape note: the exact τ is O(d²) DAY
    // PAIRS by definition — bounded here by the calendar (30 days → 435
    // pairs × 10 type pairs), the user_growth_daily discipline; at
    // extreme history lengths shard the window or switch to Knight's
    // O(d log d) inversion-count formulation (a sort + merge cascade).
    Reg("kendall_tau_types",
      (s, dir) => {
        val daily = Tables(s, dir).events
          .groupBy(col("event_type"), date_trunc("day", col("ts")).as("day"))
          .agg(expr("sum(CAST(round(value * 100) AS BIGINT)) div count(*)")
            .as("mean_c"))
        val series = daily.as("a").join(daily.as("b"),
          col("a.day") === col("b.day") &&
            col("a.event_type") < col("b.event_type"))
          .select(col("a.event_type").as("ta"), col("b.event_type").as("tb"),
            col("a.day").as("day"), col("a.mean_c").as("x"),
            col("b.mean_c").as("y"))
        val pairs = series.as("p").join(series.as("q"),
          col("p.ta") === col("q.ta") && col("p.tb") === col("q.tb") &&
            col("p.day") < col("q.day"))
          .select(col("p.ta").as("ta"), col("p.tb").as("tb"),
            (col("p.x") - col("q.x")).as("dx"),
            (col("p.y") - col("q.y")).as("dy"))
        pairs.groupBy(col("ta"), col("tb"))
          .agg(count(lit(1)).as("n0"),
            sum(when(col("dx") * col("dy") > 0, 1L).otherwise(0L)).as("nc"),
            sum(when(col("dx") * col("dy") < 0, 1L).otherwise(0L)).as("nd"),
            sum(when(col("dx") === 0L, 1L).otherwise(0L)).as("tx"),
            sum(when(col("dy") === 0L, 1L).otherwise(0L)).as("ty"))
          .select(col("ta"), col("tb"), col("n0"), col("nc"), col("nd"),
            expr("""CASE WHEN n0 - tx > 0 AND n0 - ty > 0
                    THEN CAST(round(CAST(nc - nd AS DOUBLE)
                      / sqrt(CAST(n0 - tx AS DOUBLE) * CAST(n0 - ty AS DOUBLE))
                      * CAST(1000000 AS DOUBLE)) AS BIGINT)
                    ELSE CAST(0 AS BIGINT) END""").as("tau_um"))
          .orderBy("ta", "tb")
      },
      Some("""
        WITH daily AS (SELECT event_type, date_trunc('day', ts) AS day,
                              CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
                                // count(*) AS mean_c
                       FROM events GROUP BY 1, 2),
        se AS (SELECT a.event_type AS ta, b.event_type AS tb, a.day AS day,
                      a.mean_c AS x, b.mean_c AS y
               FROM daily a JOIN daily b
                 ON a.day = b.day AND a.event_type < b.event_type),
        dp AS (SELECT p.ta, p.tb, p.x - q.x AS dx, p.y - q.y AS dy
               FROM se p JOIN se q
                 ON p.ta = q.ta AND p.tb = q.tb AND p.day < q.day),
        ag AS (SELECT ta, tb, count(*) AS n0,
                      CAST(sum(CASE WHEN dx * dy > 0 THEN 1 ELSE 0 END) AS BIGINT) AS nc,
                      CAST(sum(CASE WHEN dx * dy < 0 THEN 1 ELSE 0 END) AS BIGINT) AS nd,
                      CAST(sum(CASE WHEN dx = 0 THEN 1 ELSE 0 END) AS BIGINT) AS tx,
                      CAST(sum(CASE WHEN dy = 0 THEN 1 ELSE 0 END) AS BIGINT) AS ty
               FROM dp GROUP BY 1, 2)
        SELECT ta, tb, n0, nc, nd,
               CASE WHEN n0 - tx > 0 AND n0 - ty > 0
               THEN CAST(round(CAST(nc - nd AS DOUBLE)
                 / sqrt(CAST(n0 - tx AS DOUBLE) * CAST(n0 - ty AS DOUBLE))
                 * CAST(1000000 AS DOUBLE)) AS BIGINT)
               ELSE CAST(0 AS BIGINT) END AS tau_um
        FROM ag ORDER BY ta, tb
      """)),

    // ---- Kendall tau-b via Knight's O(d log d) inversions (round-15) ----
    // The long-history escalation kendall_tau_types' scaladoc promised
    // (VERDICT r14 #4): same tau-b contract, but nd comes from a
    // merge-sort inversion count (functions.KendallInversionAggregator —
    // after the (x ASC, y ASC) sort a strict y-inversion is exactly one
    // orientation of one discordant pair, Knight 1966) and the tie terms
    // from plain hash aggs (Tx/Ty/Txy = Σ c·(c−1)/2 over equal-x /
    // equal-y / equal-(x,y) groups), so nc = n0 − Tx − Ty + Txy − nd by
    // inclusion–exclusion. NOTHING on the Spark side touches a day pair:
    // total work is the hourly agg + four linear hash aggs + one
    // O(d log d) finish per type pair, vs the O(d²) pair join the exact
    // form pays — graded on the HOURLY spine (d ≈ 720, 24× the day
    // spine) where the pair form would already expand 259 k rows per
    // type pair. The ORACLE stays the O(d²) pair-count definition (the
    // fixture bounds it at ~2.6 M rows): same integers from two
    // different algorithms is the point of the grade. The O(d²) day
    // form (kendall_tau_types) is kept as the bounded-domain default.
    // Memory: the aggregator buffers one (x, y) pair per hour per type
    // pair — a TIME-SPINE length (87,600 for a decade of hours), never
    // corpus-scale; at extreme spines shard the window per the
    // mann_kendall discipline.
    Reg("kendall_tau_knight_hourly",
      (s, dir) => {
        // hourly mean sign-normalized like centroid_c (ADVICE r15): Spark
        // `div` truncates toward zero, DuckDB `//` floors — identical only
        // for non-negative sums, so both engines wrap the negative branch
        // explicitly instead of resting on the fixture's value sign
        val hourly = Tables(s, dir).events
          .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("hr"))
          .agg(expr("CASE WHEN sum(CAST(round(value * 100) AS BIGINT)) >= 0" +
            " THEN sum(CAST(round(value * 100) AS BIGINT)) div count(*)" +
            " ELSE -((-sum(CAST(round(value * 100) AS BIGINT))) div count(*))" +
            " END").as("mean_c"))
        val series = hourly.as("a").join(hourly.as("b"),
          col("a.hr") === col("b.hr") &&
            col("a.event_type") < col("b.event_type"))
          .select(col("a.event_type").as("ta"), col("b.event_type").as("tb"),
            col("a.mean_c").as("x"), col("b.mean_c").as("y"))
        def tieSum(group: Seq[String], alias: String) =
          series.groupBy(group.map(col): _*).agg(count(lit(1)).as("c"))
            .groupBy(col("ta"), col("tb"))
            .agg(sum(expr("c * (c - 1) div 2")).as(alias))
        val knight = udaf(new graft.functions.KendallInversionAggregator,
          org.apache.spark.sql.Encoders.product[graft.functions.XyPair])
        val base = series.groupBy(col("ta"), col("tb"))
          .agg(count(lit(1)).as("d"), knight(col("x"), col("y")).as("nd"))
        base
          .join(tieSum(Seq("ta", "tb", "x"), "tx"), Seq("ta", "tb"))
          .join(tieSum(Seq("ta", "tb", "y"), "ty"), Seq("ta", "tb"))
          .join(tieSum(Seq("ta", "tb", "x", "y"), "txy"), Seq("ta", "tb"))
          .withColumn("n0", expr("d * (d - 1) div 2"))
          .withColumn("nc", col("n0") - col("tx") - col("ty") + col("txy")
            - col("nd"))
          .select(col("ta"), col("tb"), col("d").as("n_hours"), col("n0"),
            col("nc"), col("nd"),
            expr("""CASE WHEN n0 - tx > 0 AND n0 - ty > 0
                    THEN CAST(round(CAST(nc - nd AS DOUBLE)
                      / sqrt(CAST(n0 - tx AS DOUBLE) * CAST(n0 - ty AS DOUBLE))
                      * CAST(1000000 AS DOUBLE)) AS BIGINT)
                    ELSE CAST(0 AS BIGINT) END""").as("tau_um"))
          .orderBy("ta", "tb")
      },
      Some("""
        WITH hourly AS (SELECT event_type, date_trunc('hour', ts) AS hr,
                               CASE WHEN sum(CAST(round(value * 100) AS BIGINT)) >= 0
                                 THEN CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
                                   // count(*)
                                 ELSE -(CAST(-sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
                                   // count(*)) END AS mean_c
                        FROM events GROUP BY 1, 2),
        se AS (SELECT a.event_type AS ta, b.event_type AS tb, a.hr AS hr,
                      a.mean_c AS x, b.mean_c AS y
               FROM hourly a JOIN hourly b
                 ON a.hr = b.hr AND a.event_type < b.event_type),
        sd AS (SELECT ta, tb, CAST(count(*) AS BIGINT) AS n_hours
               FROM se GROUP BY 1, 2),
        dp AS (SELECT p.ta, p.tb, p.x - q.x AS dx, p.y - q.y AS dy
               FROM se p JOIN se q
                 ON p.ta = q.ta AND p.tb = q.tb AND p.hr < q.hr),
        ag AS (SELECT ta, tb, CAST(count(*) AS BIGINT) AS n0,
                      CAST(sum(CASE WHEN dx * dy > 0 THEN 1 ELSE 0 END) AS BIGINT) AS nc,
                      CAST(sum(CASE WHEN dx * dy < 0 THEN 1 ELSE 0 END) AS BIGINT) AS nd,
                      CAST(sum(CASE WHEN dx = 0 THEN 1 ELSE 0 END) AS BIGINT) AS tx,
                      CAST(sum(CASE WHEN dy = 0 THEN 1 ELSE 0 END) AS BIGINT) AS ty
               FROM dp GROUP BY 1, 2)
        SELECT s.ta, s.tb, s.n_hours,
               COALESCE(a.n0, 0) AS n0, COALESCE(a.nc, 0) AS nc,
               COALESCE(a.nd, 0) AS nd,
               CASE WHEN COALESCE(a.n0 - a.tx, 0) > 0
                     AND COALESCE(a.n0 - a.ty, 0) > 0
               THEN CAST(round(CAST(a.nc - a.nd AS DOUBLE)
                 / sqrt(CAST(a.n0 - a.tx AS DOUBLE) * CAST(a.n0 - a.ty AS DOUBLE))
                 * CAST(1000000 AS DOUBLE)) AS BIGINT)
               ELSE CAST(0 AS BIGINT) END AS tau_um
        FROM sd s LEFT JOIN ag a ON s.ta = a.ta AND s.tb = a.tb
        ORDER BY 1, 2
      """))
  )
}
