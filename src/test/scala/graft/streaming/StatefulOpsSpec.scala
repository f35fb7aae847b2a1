package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

class StatefulOpsSpec extends SparkSpec {
  import spark.implicits._

  test("flatMapGroupsWithState running counts: streaming totals equal batch counts") {
    withCheckpoint("fmgws_test") { ckpt =>
      implicit val sqlCtx = spark.sqlContext
      val input = MemoryStream[Long]
      val counts = StatefulOps.runningCountsByKey(input.toDF().withColumnRenamed("value", "user_id"), "user_id")
        .toDF("user_id", "n")
      val q = counts.writeStream.format("memory").queryName("fmgws_counts")
        .outputMode("update")
        .option("checkpointLocation", ckpt)
        .start()
      try {
        input.addData(1L, 1L, 2L)
        q.processAllAvailable()
        input.addData(1L, 2L, 3L)
        q.processAllAvailable()
      } finally q.stop()
      // last update per key = total count across both micro-batches
      val last = spark.table("fmgws_counts")
        .groupBy("user_id").agg(max("n").as("n"))
        .orderBy("user_id").as[(Long, Long)].collect().toSeq
      assert(last == Seq((1L, 3L), (2L, 2L), (3L, 1L)))
    }
  }

  test("batch application equals plain groupBy count") {
    val df = Seq(5L, 5L, 6L).toDF("user_id")
    val got = StatefulOps.runningCountsByKey(df, "user_id").collect().toMap
    assert(got == Map(5L -> 2L, 6L -> 1L))
  }

  test("fMGWS EventTimeTimeout: idle keys emit one final expired row and drop state") {
    withCheckpoint("fmgws_exp") { ckpt =>
      implicit val sqlCtx = spark.sqlContext
      val input = MemoryStream[(Long, Long)] // (key, epoch ms)
      val counts = StatefulOps.expiringCountsByKey(
        input.toDF().toDF("k", "ms")
          .withColumn("ts", timestamp_millis(col("ms"))).drop("ms"),
        keyCol = "k", tsCol = "ts", delay = "0 seconds", idleMs = 10000L)
      val q = counts.toDF("k", "n", "kind")
        .writeStream.format("memory").queryName("fmgws_expire").outputMode("update")
        .option("checkpointLocation", ckpt)
        .start()
      def rows(): Set[(Long, Long, String)] = spark.table("fmgws_expire")
        .as[(Long, Long, String)].collect().toSet
      try {
        input.addData((1L, 1000L), (2L, 1000L)) // both keys arm timeout at 11 s
        q.processAllAvailable()
        assert(rows() == Set((1L, 1L, "active"), (2L, 1L, "active")))
        // advances the watermark to 20 s; the subsequent no-data batch fires
        // key 1's 11 s timeout (key 2 re-armed itself to 30 s in the same
        // batch, so it survives)
        input.addData((2L, 20000L))
        q.processAllAvailable()
        val r = rows()
        assert(r.contains((1L, 1L, "expired")), s"key 1 should expire: $r")
        assert(r.contains((2L, 2L, "active")), s"key 2 keeps counting: $r")
        assert(!r.exists(t => t._1 == 2L && t._3 == "expired"), s"key 2 alive: $r")
        // expired key's state is GONE: new data restarts key 1 from zero
        // (a surviving state would emit n = 2)
        input.addData((1L, 31000L))
        q.processAllAvailable()
        assert(!rows().exists(t => t._1 == 1L && t._2 > 1L),
          s"key 1 must restart from a clean state: ${rows()}")
      } finally q.stop()
    }
  }

  test("transformWithState gap alarm: event-time timers fire, re-arm, and survive resumed data") {
    withCheckpoint("twsgap") { ckpt =>
      implicit val sqlCtx = spark.sqlContext
      val prevProvider = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
      spark.conf.set("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      try {
        val input = MemoryStream[(String, Long)] // (series, epoch µs)
        val alarms = StatefulOps.gapAlarms(
          input.toDF().toDF("event_type", "us")
            .withColumn("ts", timestamp_micros(col("us"))).drop("us"),
          gapUs = 10_000_000L, delay = "0 seconds")
        val q = alarms.toDF("series", "ts_us", "kind")
          .writeStream.format("memory").queryName("tws_gap").outputMode("update")
          .option("checkpointLocation", ckpt)
          .start()
        def got(): Set[(String, Long, String)] = spark.table("tws_gap")
          .collect().map(r => (r.getString(0), r.getLong(1), r.getString(2))).toSet
        // all times offset by +100 s: EventTime mode drops rows at or below
        // the current watermark, and the INITIAL watermark is 0 — an event
        // at exactly t=0 would be discarded as late before the processor
        // ever saw it
        val t0 = 100_000_000L
        try {
          // epoch 1: a@+0s, a@+5s (same batch: a@+0's timer must be re-armed
          // away, no alarm), b@+0s. Watermark after: +5 s < all timers.
          input.addData(("a", t0), ("a", t0 + 5_000_000L), ("b", t0))
          q.processAllAvailable()
          assert(got().isEmpty, s"no timer may fire before the watermark moves: ${got()}")
          // epoch 2: a@+40s → mid alarm for a@+5 at detection; watermark →
          // +40 s, so b's timer (+0 s + 10 s) fires in the trailing no-data
          // batch: final alarm for b@+0. a's re-armed timer (+50 s) must NOT.
          input.addData(("a", t0 + 40_000_000L))
          q.processAllAvailable()
          assert(got() == Set(("a", t0 + 5_000_000L, "mid"), ("b", t0, "final")), got().toString)
          // epoch 3: b resumes at +200 s → the documented live double-alarm:
          // b@+0 already alarmed "final", now also alarms "mid". The +200 s
          // watermark also fires a's re-armed timer (+50 s): final for a@+40.
          input.addData(("b", t0 + 200_000_000L))
          q.processAllAvailable()
          assert(got() == Set(("a", t0 + 5_000_000L, "mid"), ("b", t0, "final"), ("b", t0, "mid"),
            ("a", t0 + 40_000_000L, "final")), got().toString)
        } finally q.stop()
      } finally {
        prevProvider match {
          case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
          case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
        }
      }
    }
  }

  test("funnel timeout: purchases convert pending views, timers abandon the rest, state survives batches") {
    withCheckpoint("twsfun") { ckpt =>
      implicit val sqlCtx = spark.sqlContext
      val prevProvider = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
      spark.conf.set("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      try {
        val input = MemoryStream[(Long, Long, Long, String)] // (user, µs, event_id, type)
        val f = StatefulOps.funnelTimeouts(
          input.toDF().toDF("user_id", "us", "event_id", "event_type")
            .withColumn("ts", timestamp_micros(col("us"))).drop("us"),
          timeoutUs = 10_000_000L, delay = "0 seconds")
        val q = f.toDF("user_id", "n_views", "n_abandoned")
          .writeStream.format("memory").queryName("tws_funnel").outputMode("update")
          .option("checkpointLocation", ckpt)
          .start()
        def fin(): Map[Long, (Long, Long)] = spark.table("tws_funnel")
          .groupBy("user_id").agg(max("n_views").as("v"), max("n_abandoned").as("a"))
          .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
        val t0 = 100_000_000L // see gap-alarm spec: initial watermark is 0
        try {
          // epoch 1: user 1 views at +0; user 2 views at +0 and +2s.
          // Watermark after: +2s — no deadline (+10s) passed, nothing
          // abandoned yet.
          input.addData((1L, t0, 1L, "view"), (2L, t0, 2L, "view"),
            (2L, t0 + 2_000_000L, 3L, "view"))
          q.processAllAvailable()
          assert(fin() == Map(1L -> ((1L, 0L)), 2L -> ((2L, 0L))), fin().toString)
          // epoch 2: user 1 purchases at +8s (inside the +0 view's 10s
          // window → CONVERTS the view armed in epoch 1 — cross-batch
          // pending state). Watermark → +8s: still no timer.
          input.addData((1L, t0 + 8_000_000L, 4L, "purchase"))
          q.processAllAvailable()
          assert(fin() == Map(1L -> ((1L, 0L)), 2L -> ((2L, 0L))), fin().toString)
          // epoch 3: user 2 purchases at +11s — inside the +2s view's
          // window (deadline +12s) but OUTSIDE the +0 view's (+10s): one
          // view converts, and the watermark (+11s) fires the +0 view's
          // timer → exactly one abandonment. User 1 stays clean.
          input.addData((2L, t0 + 11_000_000L, 5L, "purchase"))
          q.processAllAvailable()
          assert(fin() == Map(1L -> ((1L, 0L)), 2L -> ((2L, 1L))), fin().toString)
          // epoch 4: user 1 views again at +30s, nothing follows; a later
          // event at +50s moves the watermark past its +40s deadline →
          // abandoned via the re-armed timer.
          input.addData((1L, t0 + 30_000_000L, 6L, "view"))
          q.processAllAvailable()
          input.addData((2L, t0 + 50_000_000L, 7L, "view"))
          q.processAllAvailable()
          assert(fin() == Map(1L -> ((2L, 1L)), 2L -> ((3L, 1L))), fin().toString)
        } finally q.stop()
      } finally {
        prevProvider match {
          case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
          case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
        }
      }
    }
  }

  test("transformWithState EMA: streaming recurrence equals hand-computed, state survives batches") {
    withCheckpoint("tws") { ckpt =>
      implicit val sqlCtx = spark.sqlContext
      // transformWithState requires the RocksDB state-store provider
      val prevProvider = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
      spark.conf.set("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      try {
        val input = MemoryStream[(String, Long, Double)] // (series, epoch µs, value)
        val ema = StatefulOps.emaBySeries(
          input.toDF().toDF("event_type", "us", "value")
            .withColumn("ts", timestamp_micros(col("us"))).drop("us"),
          alpha = 0.5)
        val q = ema.toDF("series", "ts_us", "ema")
          .writeStream.format("memory").queryName("tws_ema").outputMode("update")
          .option("checkpointLocation", ckpt)
          .start()
        try {
          input.addData(("a", 1L, 10.0), ("a", 2L, 20.0), ("b", 1L, 100.0))
          q.processAllAvailable()
          input.addData(("a", 3L, 30.0)) // continues from batch-1 state
          q.processAllAvailable()
        } finally q.stop()

        val got = spark.table("tws_ema")
          .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getDouble(2)).toMap
        // a: 10 → .5*20+.5*10=15 → .5*30+.5*15=22.5 (state crossed batches)
        assert(got(("a", 1L)) == 10.0 && got(("a", 2L)) == 15.0)
        assert(got(("a", 3L)) == 22.5, s"state must survive micro-batches: $got")
        assert(got(("b", 1L)) == 100.0)
      } finally {
        prevProvider match {
          case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
          case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
        }
      }
    }
  }

  /** Regex-engine ground truth for the CEP automaton measures. */
  private def regexTruth(seq: String): (Long, Long, Long, Long) = {
    def count(p: String): Long = {
      val m = java.util.regex.Pattern.compile(p).matcher(seq)
      var n = 0L; while (m.find()) n += 1; n
    }
    val runs = {
      val m = java.util.regex.Pattern.compile("e+").matcher(seq)
      val b = scala.collection.mutable.ArrayBuffer.empty[Int]
      while (m.find()) b += m.group().length
      b.toSeq
    }
    (count("v\\[ce\\]*p".replace("\\[", "[").replace("\\]", "]")),
      count("(s|v)c*p"),
      if (runs.isEmpty) 0L else runs.max.toLong,
      count("ee"))
  }

  /** Drives seqPatternCounts over `epochs` (already time-ordered splits
    * of one code string per user) and returns the final per-user
    * (n_conv, n_alt_conv, max_error_run, n_error_pairs). */
  private def runCep(epochs: Seq[Seq[(Long, String)]]): Map[Long, (Long, Long, Long, Long)] = {
    withCheckpoint("tws_cep") { ckpt =>
      implicit val sqlCtx = spark.sqlContext
      val prevProvider = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
      spark.conf.set("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      try {
        val input = MemoryStream[(Long, Long, Long, String)] // (user, us, event_id, code)
        val cep = StatefulOps.seqPatternCounts(
          input.toDF().toDF("user_id", "us", "event_id", "event_type")
            .withColumn("ts", timestamp_micros(col("us"))).drop("us"))
        val name = new java.io.File(ckpt).getName
        val q = cep.toDF("user_id", "n_events", "n_conv", "n_alt_conv", "max_err", "n_pairs")
          .writeStream.format("memory").queryName(name).outputMode("update")
          .option("checkpointLocation", ckpt)
          .start()
        try {
          var us = 0L
          epochs.foreach { epoch =>
            val rows = epoch.map { case (user, code) => us += 1; (user, us, us, code) }
            if (rows.nonEmpty) { input.addData(rows: _*); q.processAllAvailable() }
          }
        } finally q.stop()
        spark.table(name)
          .groupBy("user_id")
          .agg(max("n_conv").as("c"), max("n_alt_conv").as("a"),
            max("max_err").as("m"), max("n_pairs").as("p"))
          .collect()
          .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))))
          .toMap
      } finally prevProvider match {
        case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("last-touch attribution: touch state crosses micro-batches; lookback and sentinels hold") {
    withCheckpoint("tws_att") { ckpt =>
      implicit val sqlCtx = spark.sqlContext
      val prevProvider = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
      spark.conf.set("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      try {
        val input = MemoryStream[(Long, Long, Long, String, Double)]
        val att = StatefulOps.lastTouchAttribution(
          input.toDF().toDF("user_id", "us", "event_id", "event_type", "value")
            .withColumn("ts", timestamp_micros(col("us"))).drop("us"),
          lookbackUs = 1000L)
        val name = new java.io.File(ckpt).getName
        val q = att.toDF("pid", "user", "ts_us", "cents", "tid", "ttype", "mins")
          .writeStream.format("memory").queryName(name).outputMode("update")
          .option("checkpointLocation", ckpt)
          .start()
        try {
          // epoch 1: user 1 clicks (id 10) at t=100; user 2 purchases with
          // NO prior touch (sentinel case)
          input.addData((1L, 100L, 10L, "click", 1.0), (2L, 150L, 11L, "purchase", 2.0))
          q.processAllAvailable()
          // epoch 2: user 1 purchases at t=900 — the click state must have
          // crossed the batch boundary (in-window: 800 <= 1000)
          input.addData((1L, 900L, 12L, "purchase", 3.0))
          q.processAllAvailable()
          // epoch 3: user 1 purchases again at t=2000 — same remembered
          // click, now OUT of the 1000 µs lookback → sentinel
          input.addData((1L, 2000L, 13L, "purchase", 4.0))
          q.processAllAvailable()
        } finally q.stop()
        val rows = spark.table(name)
          .collect().map(r => (r.getLong(0), r.getLong(4), r.getString(5))).toSet
        assert(rows == Set(
          (11L, -1L, "none"),  // no touch ever
          (12L, 10L, "click"), // state crossed the epoch boundary
          (13L, -1L, "none")), // remembered touch outside lookback
          s"got $rows")
      } finally prevProvider match {
        case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("CEP automaton: state crosses micro-batches (match spanning an epoch boundary)") {
    // user 1: "vce" + "vp" = "vcevp" → v[ce]*p matches once ("vp" — the
    // first v's attempt fails at the second v, the scan resumes there);
    // (s|v)c*p also once; error run max 1, no pairs. The 'v' arming and
    // the open error run BOTH carry across the epoch boundary.
    val got = runCep(Seq(
      Seq((1L, "v"), (1L, "c"), (1L, "e")),
      Seq((1L, "v"), (1L, "p"))))
    assert(got(1L) == ((1L, 1L, 1L, 0L)), s"got $got")
  }

  test("CEP automaton: matches regex ground truth on random code streams, any epoch split") {
    val rnd = new scala.util.Random(20260814L)
    val alphabet = "cepsv"
    (1 to 6).foreach { trial =>
      // 3 users × ~60 codes, interleaved, split into 3 in-order epochs
      val perUser = (1L to 3L).map { u =>
        u -> (1 to 60).map(_ => alphabet(rnd.nextInt(5)).toString)
      }.toMap
      // contiguous in-time splits (the processor's cross-batch contract
      // is event-time-ordered arrival); users interleave WITHIN epochs
      val all = perUser.toSeq.sortBy(_._1)
        .flatMap { case (u, codes) => codes.zipWithIndex.map { case (c, i) => (u, c, i) } }
      val byTime = rnd.shuffle(all).sortBy(_._3) // global time = per-user index
      val cut1 = byTime.length / 3; val cut2 = 2 * byTime.length / 3
      val contiguous = Seq(
        byTime.take(cut1), byTime.slice(cut1, cut2), byTime.drop(cut2))
        .map(_.map { case (u, c, _) => (u, c) })
      val got = runCep(contiguous)
      perUser.foreach { case (u, codes) =>
        val truth = regexTruth(codes.mkString)
        assert(got(u) == truth,
          s"trial $trial user $u seq=${codes.mkString}: got ${got(u)}, want $truth")
      }
    }
  }
}
