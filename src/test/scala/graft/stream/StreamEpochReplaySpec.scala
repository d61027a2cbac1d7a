package graft.stream

import graft.SparkSpec
import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** Per-epoch emission-TIMING parity for the stateful operators (r9
  * VERDICT task 6 — StreamReplayDiffSpec pins the windowed/watermark
  * family; this spec covers the keyed-state family). The final-state
  * twins prove WHAT is emitted; these tests pin WHEN: every expectation
  * below is a hand-derived per-epoch emission list (not a parallel
  * reimplementation that could share a bug with the operator), so an
  * operator that defers an emission to a later batch, re-emits on late
  * data, or emits before its contract allows diffs on the exact epoch.
  *
  * Contracts pinned per family:
  *  - arrival-epoch emitters (latest, cusum, ewma, page-hinkley, funnel,
  *    top-k, sliding-distinct, rate-limit, dedup): epoch k's emissions
  *    are a pure function of (state after epochs < k, epoch k's rows in
  *    the op's documented intra-batch order) and appear IN epoch k;
  *  - watermark/timer emitters (sessions): a session closes in the epoch
  *    a gap-breaking event arrives, or in the epoch whose post-batch
  *    watermark first passes end + gap — never earlier.
  */
class StreamEpochReplaySpec extends SparkSpec {
  import spark.implicits._

  /** Drive `batches` one epoch at a time; return each epoch's NEW rows
    * as a multiset (memory sink only appends, so the per-epoch delta is
    * the row-count suffix — but rows can repeat across epochs, so diff
    * by multiset, not set). */
  private def epochRows[I: org.apache.spark.sql.Encoder](
      batches: Seq[Seq[I]], name: String, mode: String)(
      pipe: Dataset[I] => DataFrame): Seq[Seq[Row]] = {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[I]
    val q = pipe(mem.toDS()).writeStream.format("memory").queryName(name)
      .outputMode(mode).start()
    try {
      var seen = Map.empty[Row, Int]
      batches.map { b =>
        mem.addData(b: _*); q.processAllAvailable()
        val all = spark.table(name).collect().toSeq
        val counts = all.groupBy(identity).view.mapValues(_.size).toMap
        val fresh = counts.flatMap { case (r, c) =>
          Seq.fill(c - seen.getOrElse(r, 0))(r)
        }.toSeq
        seen = counts
        fresh
      }
    } finally q.stop()
  }

  private def sets[A](rows: Seq[Seq[Row]])(f: Row => A): Seq[Set[A]] =
    rows.map(_.map(f).toSet)

  test("StatefulLatest: deltas emit in the arrival epoch; stale epochs emit nothing") {
    val batches = Seq(
      // best-of-batch per key emits once: v1 folds 100→200 inside epoch 1
      Seq(("p", "v1", 100L, 1L, 1.0, 1.0), ("p", "v1", 200L, 2L, 2.0, 2.0),
        ("p", "v2", 50L, 3L, 3.0, 3.0)),
      Seq(("p", "v1", 150L, 4L, 9.0, 9.0)), // stale: silent epoch
      // equal ts: larger event_id wins and re-emits; v1 advances
      Seq(("p", "v2", 50L, 9L, 4.0, 4.0), ("p", "v1", 300L, 5L, 5.0, 5.0)))
    val got = sets(epochRows(batches, "er_latest", "update") { ds =>
      StatefulLatest.latest(ds.toDF()
        .toDF("provider", "vehicleId", "ts_us", "event_id", "lat", "lon")
        .withColumn("eventTs", timestamp_micros($"ts_us")).drop("ts_us"))
        .toDF()
    })(r => (r.getString(1), r.getLong(2), r.getLong(3)))
    assert(got === Seq(
      Set(("v1", 200L, 2L), ("v2", 50L, 3L)),
      Set.empty,
      Set(("v2", 50L, 9L), ("v1", 300L, 5L))))
  }

  test("StatefulSessions: close on gap-break arrival or in the watermark-advancing epoch, never earlier") {
    // Timeout timing contract (measured, r10): processAllAvailable runs
    // the follow-up no-data batch after a watermark advance, so a
    // timed-out session emits in the SAME epoch whose data pushed the
    // watermark past end + gap (the timeout itself is evaluated in that
    // follow-up batch against the freshly advanced watermark).
    val b = 1000000L // base seconds — values far from epoch 0
    def t(s: Long) = new java.sql.Timestamp((b + s) * 1000L)
    val batches = Seq(
      Seq(("u1", t(0)), ("u1", t(30))), // open session [0,30] — no emit
      Seq(("u1", t(200))),              // gap-break: [0,30] closes NOW
      Seq(("u2", t(400))),              // wm→400 > 260: [200,200] times out
      Seq(("u2", t(900))))              // gap-break: [400,400] closes NOW
    val got = sets(epochRows(batches, "er_sessions", "append") { ds =>
      StatefulSessions.sessions(ds.toDF().toDF("user", "ts"),
        "user", "ts", gapMinutes = 1).toDF()
    })(r => (r.getString(0), r.getLong(1) / 1000000L - b,
      r.getLong(2) / 1000000L - b, r.getLong(3)))
    assert(got === Seq(
      Set.empty,
      Set(("u1", 0L, 30L, 2L)),
      Set(("u1", 200L, 200L, 1L)),
      Set(("u2", 400L, 400L, 1L))))
  }

  test("StreamDedup.firstPerKey: a key emits exactly in its first-arrival epoch") {
    val batches = Seq(
      Seq(("a", 1L), ("b", 2L)),
      Seq(("a", 3L)),             // duplicate: silent epoch
      Seq(("c", 4L), ("b", 5L)))  // only the new key emits
    val got = sets(epochRows(batches, "er_dedup", "append") { ds =>
      StreamDedup.firstPerKey(ds.toDF().toDF("k", "v"), Seq("k"))
    })(r => r.getString(0))
    assert(got === Seq(Set("a", "b"), Set.empty, Set("c")))
  }

  test("StreamCusum: crossings emit in their arrival epoch; a late point folds greedily at arrival") {
    import StreamCusum.Point
    // target 50 slack 5: +45 per x=100 point. s: 45,90,135 | 180,225,270
    val batches = Seq(
      (1L to 3L).map(ts => Point("k", ts, 100L)),
      (4L to 6L).map(ts => Point("k", ts, 100L)),
      Seq(Point("k", 2L, 100L))) // LATE: folds on top of s=270 → 315
    val got = sets(epochRows(batches, "er_cusum", "append") { ds =>
      StreamCusum.alarms(ds, 50L, 5L, 200L).toDF()
    })(r => (r.getLong(1), r.getLong(2)))
    assert(got === Seq(
      Set.empty,
      Set((5L, 225L), (6L, 270L)),
      Set((2L, 315L))))
  }

  test("StreamEwma: the spike emits in the epoch its point arrives, judged by the pre-update band") {
    import StreamEwma.Point
    // m/dev fold (alpha=1/2): (100)->m=100,dev=0; (100)->no spike, dev=0
    // (200): d=100 but dev=0 → silent; m=150,dev=50
    // (500): d=350 > 3*50 → spike against PRE-update (m=150, dev=50)
    val batches = Seq(
      Seq(Point("k", 1L, 100L), Point("k", 2L, 100L)),
      Seq(Point("k", 3L, 200L), Point("k", 4L, 500L)))
    withRocksDb {
      val got = sets(epochRows(batches, "er_ewma", "append") { ds =>
        StreamEwma.spikes(ds, 3L).toDF()
      })(r => (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      assert(got === Seq(Set.empty, Set((4L, 500L, 150L, 50L))))
    }
  }

  test("StreamPageHinkley: every point emits its PH value in its own epoch") {
    import StreamPageHinkley.Point
    // delta=10: ph trajectory 0,0,0 | 65,115,155 (see TwsDetectorsSpec)
    val batches = Seq(
      (1L to 3L).map(ts => Point("k", ts, 100L)),
      (4L to 6L).map(ts => Point("k", ts, 200L)))
    val got = sets(epochRows(batches, "er_ph", "append") { ds =>
      StreamPageHinkley.detect(ds, 10L, 100L).toDF()
    })(r => (r.getLong(1), r.getLong(2), r.getBoolean(3)))
    assert(got === Seq(
      Set((1L, 0L, false), (2L, 0L, false), (3L, 0L, false)),
      Set((4L, 65L, false), (5L, 115L, true), (6L, 155L, true))))
  }

  test("StreamFunnel: stage advances emit in their arrival epoch; out-of-order stages are silent") {
    import StreamFunnel.FunnelEvent
    val steps = Seq("view", "click", "purchase")
    val batches = Seq(
      Seq(FunnelEvent(1L, 10L, "view"), FunnelEvent(1L, 20L, "click"),
        FunnelEvent(2L, 5L, "purchase")), // entity 2 skips stages: silent
      Seq(FunnelEvent(1L, 25L, "click"),  // repeat stage: silent
        FunnelEvent(1L, 30L, "purchase")))
    val got = sets(epochRows(batches, "er_funnel", "append") { ds =>
      StreamFunnel.stages(ds, steps).toDF()
    })(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    assert(got === Seq(
      Set((1L, 1, 10L), (1L, 2, 20L)),
      Set((1L, 3, 30L))))
  }

  test("StreamTopK: per-event estimates emit in the arrival epoch with Misra-Gries decrements applied") {
    val batches = Seq(
      // capacity 2: x→1, y→1, x→2
      Seq((1L, 1L, "x"), (1L, 2L, "y"), (1L, 3L, "x")),
      // z arrives full → decrement all (x 2→1, y evicts), z untracked (0);
      // second z finds a free slot → 1
      Seq((1L, 4L, "z"), (1L, 5L, "z")))
    withRocksDb {
      val got = sets(epochRows(batches, "er_topk", "append") { ds =>
        val df = ds.toDF().toDF("entity", "t_us", "v")
          .withColumn("ts", timestamp_micros($"t_us")).drop("t_us")
        StreamTopK.estimates(df, "entity", "ts", "v", capacity = 2).toDF()
      })(r => (r.getString(1), r.getLong(2), r.getLong(3)))
      assert(got === Seq(
        Set(("x", 1L, 1L), ("y", 2L, 1L), ("x", 3L, 2L)),
        Set(("z", 4L, 0L), ("z", 5L, 1L))))
    }
  }

  test("StreamSlidingDistinct: per-event counts emit at arrival; eviction is event-time-exact") {
    // base offset: a t=0 event is EQUAL to the initial zero watermark
    // and gets dropped as late (measured r10) — real event times only
    val b = 1000000L * 1000000L
    val batches = Seq(
      Seq((1L, b, "a"), (1L, b + 10L * 1000000L, "b")), // counts 1, 2
      // +70s, 1-min window: cutoff +10s evicts a(+0s) AND b(+10s ≤ cutoff)
      Seq((1L, b + 70L * 1000000L, "c")))
    withRocksDb {
      val got = sets(epochRows(batches, "er_sliding", "append") { ds =>
        val df = ds.toDF().toDF("entity", "t_us", "v")
          .withColumn("ts", timestamp_micros($"t_us")).drop("t_us")
        StreamSlidingDistinct.counts(df, "entity", "ts", "v",
          windowMinutes = 1).toDF()
      })(r => ((r.getLong(1) - b) / 1000000L, r.getLong(2)))
      assert(got === Seq(Set((0L, 1L), (10L, 2L)), Set((70L, 1L))))
    }
  }

  test("StreamRateLimit: one decision row per key per epoch-with-rows, token math event-time-exact") {
    import StreamRateLimit.Ev
    val batches = Seq(
      // cap 2 tokens, 1 token/s: admit(full), admit(1.1 avail), reject(0.2)
      Seq(Ev("a", 0L), Ev("a", 100000L), Ev("a", 200000L)),
      Seq.empty[Ev],                 // no rows → NO row may emit
      Seq(Ev("a", 3200000L)))        // 3s refill → admit, 1.0 left
    withRocksDb {
      val got = sets(epochRows(batches, "er_rate", "append") { ds =>
        StreamRateLimit.decisions(ds, capE6 = 2000000L,
          ratePerSecE6 = 1000000L).toDF()
      })(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
      assert(got === Seq(
        Set(("a", 2L, 1L, 2L, 1L, 200000L)),
        Set.empty,
        Set(("a", 1L, 0L, 3L, 1L, 1000000L))))
    }
  }

  test("StreamKmv: sketch deltas emit at arrival; duplicate-only epochs are silent") {
    val batches = Seq(
      Seq(("g", "a"), ("g", "b")), // sketch grows → ONE delta row
      Seq(("g", "a")),             // nothing new → silent epoch
      Seq(("g", "c")))             // grows again → one more delta
    val got = epochRows(batches, "er_kmv", "update") { ds =>
      StreamKmv.kmvStream(ds.toDF().toDF("g", "item"), "g", "item", k = 16)
        .toDF()
    }.map(_.map(r => r.getInt(1)))
    assert(got.map(_.size) === Seq(1, 0, 1))
    assert(got(0) === Seq(2) && got(2) === Seq(3)) // n_sketch per delta
  }

  test("StreamHll: every TOUCHED register re-emits in its arrival epoch (update-mode agg contract)") {
    // registers per item derived once through the op's own batch form.
    // Measured r10 contract: an update-mode streaming AGGREGATE re-emits
    // every group that received input in the batch, even when the max
    // did not change — a duplicate-only epoch re-emits the duplicate's
    // register at its standing value (unlike the fMGWS delta operators,
    // which stay silent; see the KMV test).
    def bl(r: Row, i: Int): Long = r.getAs[Number](i).longValue
    def regs(items: String*): Set[(Long, Long)] =
      StreamHll.hllStream(items.toDF("item").withColumn("g", lit("g")),
        "g", "item")
        .collect().map(r => (bl(r, 1), bl(r, 2))).toSet
    val ra = regs("a"); val rab = regs("a", "b"); val rabc = regs("a", "b", "c")
    val cBuckets = regs("c").map(_._1)
    val batches = Seq(Seq(("g", "a"), ("g", "b")), Seq(("g", "a")),
      Seq(("g", "c")))
    val got = epochRows(batches, "er_hll", "update") { ds =>
      StreamHll.hllStream(ds.toDF().toDF("g", "item"), "g", "item")
    }.map(_.map(r => (bl(r, 1), bl(r, 2))).toSet)
    assert(got(0) === rab, "epoch 1 must emit exactly {a,b}'s registers")
    assert(got(1) === ra, "duplicate epoch re-emits a's register, unchanged")
    assert(got(2) === rabc.filter(r => cBuckets.contains(r._1)),
      "epoch 3 must emit exactly c's touched register at the merged value")
    assert(ra.subsetOf(rab)) // sanity on the register builder itself
  }

  test("StreamSketch count-min: counts GROW on duplicates, so every data epoch re-emits its cells") {
    val batches = Seq(Seq("x"), Seq("x"), Seq("y"))
    val got = epochRows(batches, "er_cms", "update") { ds =>
      StreamSketch.cmsStream(ds.toDF().toDF("item"), "item", d = 3, w = 64)
    }.map(_.map(r => (r.getInt(0), r.getLong(1), r.getLong(2))))
    // x touches 3 cells; its duplicate epoch re-emits the SAME cells at
    // count 2 (unlike KMV/HLL's monotone-set silence)
    assert(got(0).map(t => (t._1, t._2)).toSet ===
      got(1).map(t => (t._1, t._2)).toSet)
    assert(got(0).forall(_._3 == 1L) && got(1).forall(_._3 == 2L))
    assert(got(0).size === 3 && got(1).size === 3)
    assert(got(2).forall(_._3 >= 1L) && got(2).nonEmpty)
  }

  test("StreamDdsketch: one quantile row per requested p per data epoch, over cumulative state") {
    import StreamDdsketch.Obs
    // kE6 = 1e6 → bucket = msb: 8→3, 16→4; p50 targets: n=3→2 (lands
    // b3), then n=5→3 (lands b4 after the second batch folds in)
    val batches = Seq(
      Seq(Obs("k", 8L), Obs("k", 8L), Obs("k", 16L)),
      Seq(Obs("k", 16L), Obs("k", 16L)),
      Seq(Obs("other", 8L))) // no data for k → no k row
    withRocksDb {
      val got = epochRows(batches, "er_dd", "append") { ds =>
        StreamDdsketch.quantiles(ds, 1000000L, Seq(500000L)).toDF()
      }.map(_.map(r => (r.getString(0), r.getLong(2), r.getLong(3))))
      assert(got(0) === Seq(("k", 3L, 3L)))   // n=3, p50 bucket 3
      assert(got(1) === Seq(("k", 5L, 4L)))   // n=5, p50 bucket 4
      assert(got(2) === Seq(("other", 1L, 3L)))
    }
  }

  test("StreamFunnelWindowed: advances/conversions emit at arrival, expiries at the deadline's watermark epoch or inline") {
    val b = 1000000L // base seconds
    def t(sec: Long) = new java.sql.Timestamp((b + sec) * 1000L)
    val steps = Seq("view", "click")
    val batches = Seq(
      Seq((1L, t(0), "view")),            // advance(1) at arrival
      // entity 9's no-op click advances the watermark past 1's deadline
      // (b+60): the timer fires in THIS epoch → expired(1, b+60)
      Seq((9L, t(300), "click")),
      // entity 2 converts inside the window; entity 3's click lands
      // past its deadline → inline expiry at the deadline timestamp
      Seq((2L, t(400), "view"), (2L, t(420), "click"),
        (3L, t(400), "view"), (3L, t(480), "click")))
    withRocksDb {
      val got = epochRows(batches, "er_fw", "append") { ds =>
        StreamFunnelWindowed.attempts(
          ds.toDF().toDF("entity", "ts", "et"), "entity", "ts", "et",
          steps, windowMinutes = 1).toDF()
      }.map(_.map(r => (r.getLong(0), r.getInt(1),
        r.getLong(2) / 1000000L - b, r.getString(3))).toSet)
      assert(got(0) === Set((1L, 1, 0L, "advance")))
      assert(got(1) === Set((1L, 1, 60L, "expired")))
      assert(got(2) === Set(
        (2L, 1, 400L, "advance"), (2L, 2, 420L, "converted"),
        (3L, 1, 400L, "advance"), (3L, 1, 460L, "expired")))
    }
  }
}
