package graft

import graft.stream.{Ev, EventOps}
import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

/** Real incremental-execution tests (SURVEY.md §2.4 T1/T3/T4/T5/T6/T7):
  * MemoryStream → StateStore-backed operators → memory sink. These assert
  * the behaviors the batch twins can't: watermark late-drop, cross-batch
  * session merging, stateful dedup, and arbitrary running state.
  */
class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private def ts(min: Int) = new Timestamp(3600000L * 10 + min * 60000L)

  private def runToCompletion(name: String)(build: MemoryStream[Ev] => (MemoryStream[Ev], org.apache.spark.sql.DataFrame, OutputMode)): org.apache.spark.sql.DataFrame = {
    val source = MemoryStream[Ev](spark)
    val (src, out, mode) = build(source)
    val q = out.writeStream.format("memory").queryName(name).outputMode(mode).start()
    try { q.processAllAvailable() } finally q.stop()
    spark.table(name)
  }

  test("streaming near-dup dedup: band-bucketed simhash state flags dups across batches") {
    import graft.stream.StreamDedup
    import graft.stream.StreamDedup.Doc
    val base = "the quick brown fox jumps over the lazy dog again and again and again"
    val uniq = "completely different content about spark query plans and shuffles here"
    // exact duplicate: hamming 0 -> must be flagged from any shared band
    val source = MemoryStream[Doc](spark)
    val out = StreamDedup.nearDupStream(source.toDS())
    val q = out.writeStream.format("memory").queryName("sdedup").outputMode(OutputMode.Update()).start()
    source.addData(Doc(1, base), Doc(2, uniq))
    q.processAllAvailable()
    source.addData(Doc(3, base), Doc(4, uniq + " with extra trailing thoughts"))
    q.processAllAvailable()
    q.stop()
    val hits = spark.table("sdedup").as[StreamDedup.DupHit].collect()
    val byDoc = hits.groupBy(_.doc_id)
    assert(byDoc.contains(3L), "exact duplicate in a later batch must be flagged")
    assert(byDoc(3L).forall(h => h.dup_of == 1L && h.hamming == 0))
    assert(!byDoc.contains(2L), "unique doc must not be flagged")
    // doc 4 is flagged iff its fingerprint is within hamming 3 of doc 2's -
    // decide the expectation from the same deterministic function
    val h24 = java.lang.Long.bitCount(
      StreamDedup.fingerprint64(uniq) ^ StreamDedup.fingerprint64(uniq + " with extra trailing thoughts"))
    assert(byDoc.contains(4L) === (h24 <= 3),
      s"doc 4 at hamming $h24 should ${if (h24 <= 3) "" else "NOT "}be flagged")
  }

  test("T6b: event-time timeout expires per-user state once the watermark passes") {
    val source = MemoryStream[Ev](spark)
    val out = EventOps.activeUserCounts(source.toDS())
    val q = out.writeStream.format("memory").queryName("t6ttl").outputMode(OutputMode.Update()).start()
    // user 1 active at t0..t5
    source.addData(Ev(1, ts(0), 1, "click", 1.0), Ev(2, ts(5), 1, "click", 1.0))
    q.processAllAvailable()
    // another user far in the future: watermark advances past user 1's
    // 30-minute expiry (5 + 30 < 200 - 10)
    source.addData(Ev(3, ts(200), 2, "click", 1.0))
    q.processAllAvailable()
    // one more batch so the timeout fires after the watermark update
    source.addData(Ev(4, ts(201), 2, "click", 1.0))
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("t6ttl").as[graft.stream.ActiveUpdate].collect()
    assert(rows.exists(r => r.user_id == 1L && !r.expired && r.n_events == 2L))
    assert(rows.exists(r => r.user_id == 1L && r.expired && r.n_events == 2L),
      s"user 1 state must expire via event-time timeout; got ${rows.toSeq}")
    assert(!rows.exists(r => r.user_id == 2L && r.expired), "active user must not expire")
  }

  test("T1+T4: tumbling agg drops data later than the watermark") {
    val source = MemoryStream[Ev](spark)
    val out = EventOps.tumblingCounts(source.toDF())
    val q = out.writeStream.format("memory").queryName("t1wm").outputMode(OutputMode.Append()).start()
    // batch 1: two events in hour-10 window
    source.addData(Ev(1, ts(0), 1, "click", 1.0), Ev(2, ts(5), 1, "click", 1.0))
    q.processAllAvailable()
    // batch 2: jump far ahead -> watermark passes end of hour-10 window
    source.addData(Ev(3, ts(200), 1, "click", 1.0))
    q.processAllAvailable()
    // batch 3: late event back in hour-10, beyond watermark -> dropped
    source.addData(Ev(4, ts(10), 1, "click", 1.0))
    q.processAllAvailable()
    q.stop()
    val counts = spark.table("t1wm").select("win_start", "cnt")
      .as[(Timestamp, Long)].collect().toMap
    assert(counts(ts(0)) === 2L, "late event must NOT be counted")
  }

  test("T3: sessions merge across batches within the gap") {
    // session-window streaming aggs only support Append mode: sessions emit
    // once the watermark passes their end, so a far-future batch flushes them.
    val source = MemoryStream[Ev](spark)
    val out = EventOps.sessionize(source.toDF())
    val q = out.writeStream.format("memory").queryName("t3sess")
      .outputMode(OutputMode.Append()).start()
    source.addData(Ev(1, ts(0), 7, "a", 0), Ev(2, ts(10), 7, "a", 0))
    q.processAllAvailable()
    source.addData(Ev(3, ts(25), 7, "a", 0),           // within 30m of ts(10) -> merges
                   Ev(4, ts(120), 7, "a", 0),          // new session
                   Ev(5, ts(121), 9, "a", 0))          // other user
    q.processAllAvailable()
    source.addData(Ev(6, ts(600), 1, "a", 0))          // advance watermark -> flush
    q.processAllAvailable()
    q.stop()
    val sessions = spark.table("t3sess")
      .select("user_id", "sess_start", "n_events").as[(Long, Timestamp, Long)].collect()
    val u7 = sessions.filter(_._1 == 7L).map(s => (s._2, s._3)).toMap
    assert(u7(ts(0)) === 3L, "three events merge into the first session")
    assert(u7(ts(120)) === 1L)
    assert(sessions.exists(s => s._1 == 9L && s._3 == 1L))
  }

  test("T9: stream-stream interval join pairs follow-ups across batches, bounded by the hour") {
    val left = MemoryStream[Ev](spark)
    val right = MemoryStream[Ev](spark)
    val out = EventOps.followUps(left.toDF(), right.toDF())
    val q = out.writeStream.format("memory").queryName("t9join")
      .outputMode(OutputMode.Append()).start()
    left.addData(Ev(1, ts(0), 7, "a", 0), Ev(4, ts(0), 9, "a", 0))
    right.addData(Ev(2, ts(30), 7, "a", 0))            // 30m after e1 -> pairs
    q.processAllAvailable()
    right.addData(Ev(3, ts(90), 7, "a", 0))            // 90m after e1 -> outside the hour
    q.processAllAvailable()
    q.stop()
    val got = spark.table("t9join").select("eid", "fid").as[(Long, Long)].collect().toSet
    assert(got === Set((1L, 2L)), s"only the within-hour same-user pair should emit, got $got")
  }

  test("T9 state bound: interval-join state is evicted as the watermark advances") {
    // the one stateful op that had no explicit state-size assertion: the
    // symmetric hash join must EVICT rows once the watermark proves they can
    // no longer pair (left: wm > ts + 1h; right: wm > ts), so state stays
    // bounded by the join window — not by the length of the stream. Feed 8
    // well-separated event-time batches and assert the state-store row count
    // plateaus at ~a window's worth while the cumulative feed keeps growing.
    val left = MemoryStream[Ev](spark)
    val right = MemoryStream[Ev](spark)
    val out = EventOps.followUps(left.toDF(), right.toDF())
    val q = out.writeStream.format("memory").queryName("t9state")
      .outputMode(OutputMode.Append()).start()
    val perBatch = 50
    val nBatches = 8
    for (k <- 0 until nBatches) {
      val base = k * 120 // minutes between batches ≫ interval (1h) + delay (10m)
      left.addData((0 until perBatch).map(i =>
        Ev(k * 1000L + i, ts(base + i % 10), i % 5, "a", 0)): _*)
      right.addData((0 until perBatch).map(i =>
        Ev(k * 1000L + 500 + i, ts(base + i % 10), i % 5, "a", 0)): _*)
      q.processAllAvailable()
    }
    val stateTotals = q.recentProgress.toSeq
      .flatMap(p => Option(p.stateOperators).toSeq.flatten)
      .map(_.numRowsTotal).filter(_ > 0)
    q.stop()
    assert(stateTotals.nonEmpty, "no state-operator progress recorded")
    val totalFed = 2L * perBatch * nBatches
    // each side holds at most the in-flight batch plus the one the watermark
    // hasn't cleared yet — 3 batches' worth both sides is generous headroom,
    // and far under the full feed a leak would approach
    assert(stateTotals.max <= 3L * 2 * perBatch,
      s"state exceeded the window bound: max ${stateTotals.max} rows of $totalFed fed")
    assert(stateTotals.max < totalFed / 2,
      s"state grew with the stream, not the window: ${stateTotals.max} of $totalFed")
  }

  test("T9b: outer interval join emits the unmatched row only after the watermark proves no match") {
    val left = MemoryStream[Ev](spark)
    val right = MemoryStream[Ev](spark)
    val out = EventOps.followUps(left.toDF(), right.toDF(), "left_outer")
    val q = out.writeStream.format("memory").queryName("t9outer")
      .outputMode(OutputMode.Append()).start()
    left.addData(Ev(1, ts(0), 7, "a", 0))
    right.addData(Ev(9, ts(5), 8, "a", 0))             // other user: no match
    q.processAllAvailable()
    val early = spark.table("t9outer").filter(col("eid") === 1).count()
    assert(early === 0L, "null row must NOT emit while a match could still arrive")
    // advance both watermarks far past ts(0) + 1h, then nudge once more so
    // the state-eviction microbatch runs
    left.addData(Ev(2, ts(600), 7, "a", 0))
    right.addData(Ev(10, ts(600), 8, "a", 0))
    q.processAllAvailable()
    left.addData(Ev(3, ts(700), 7, "a", 0))
    right.addData(Ev(11, ts(700), 8, "a", 0))
    q.processAllAvailable()
    q.stop()
    val e1 = spark.table("t9outer").filter(col("eid") === 1)
      .select("fid").as[Option[Long]].collect().toSeq
    assert(e1 === Seq(None), s"event 1 should emit exactly one null-joined row, got $e1")
  }

  test("T5: duplicate event ids within the watermark are dropped") {
    val got = runToCompletion("t5dedup") { src =>
      src.addData(Ev(1, ts(0), 1, "a", 0), Ev(1, ts(1), 1, "a", 0), Ev(2, ts(2), 1, "a", 0))
      (src, EventOps.dedupEvents(src.toDF()), OutputMode.Append())
    }
    assert(got.select("event_id").as[Long].collect().sorted.toSeq === Seq(1L, 2L))
  }

  test("T5b: dedup state expires with the watermark — a far-later resend is re-emitted") {
    // the behavior that distinguishes dropDuplicatesWithinWatermark from
    // unbounded dropDuplicates: state is retention-bounded, so the same id
    // re-sent AFTER the watermark passed its eviction point flows through
    // again (and state stays O(watermark window) instead of O(stream))
    val source = MemoryStream[Ev](spark)
    val q = EventOps.dedupEvents(source.toDF())
      .writeStream.format("memory").queryName("t5expiry")
      .outputMode(OutputMode.Append()).start()
    source.addData(Ev(1, ts(0), 1, "a", 0))
    q.processAllAvailable()
    // advance the watermark far past id 1's eviction (10-min delay)
    source.addData(Ev(2, ts(60), 1, "a", 0))
    q.processAllAvailable()
    // same event id again, within the NEW watermark window
    source.addData(Ev(1, ts(61), 1, "a", 0))
    q.processAllAvailable()
    q.stop()
    val ids = spark.table("t5expiry").select("event_id").as[Long].collect().toSeq
    assert(ids.count(_ == 1L) === 2, s"id 1 should be emitted twice (state expired): $ids")
    assert(ids.count(_ == 2L) === 1)
  }

  test("T6: flatMapGroupsWithState keeps running per-user state across batches") {
    val source = MemoryStream[Ev](spark)
    val out = EventOps.runningUserState(source.toDS())
    val q = out.writeStream.format("memory").queryName("t6state").outputMode(OutputMode.Update()).start()
    source.addData(Ev(1, ts(0), 5, "click", 0), Ev(2, ts(1), 5, "view", 0))
    q.processAllAvailable()
    source.addData(Ev(3, ts(2), 5, "purchase", 0))
    q.processAllAvailable()
    q.stop()
    val updates = spark.table("t6state").as[(Long, Long, String)].collect()
    assert(updates.contains((5L, 2L, "view")), "first batch folds two events")
    assert(updates.contains((5L, 3L, "purchase")), "state carries across batches")
  }

  test("T6 streaming updates equal the graded t08 batch twin, one event per microbatch") {
    // the anchor the oracle-checked t08_running_state puts under T6: when
    // real events arrive one per microbatch, the StateStore fold must emit
    // exactly the batch twin's rows. A global (ts, event_id) prefix of the
    // events table is also a per-user prefix, so t08's whole-table window
    // values are directly comparable on the sampled ids.
    val evs = Tables(spark, sfDir).events
      .select(col("event_id"), col("ts").cast("timestamp").as("ts"),
              col("user_id"), col("event_type"), col("value"))
      .orderBy("ts", "event_id").limit(40).as[Ev].collect()
    val source = MemoryStream[Ev](spark)
    val out = EventOps.runningUserState(source.toDS())
    val q = out.writeStream.format("memory").queryName("t6twin")
      .outputMode(OutputMode.Update()).start()
    evs.foreach { e => source.addData(e); q.processAllAvailable() }
    q.stop()
    val got = spark.table("t6twin").as[(Long, Long, String)].collect().toSeq.sorted
    val twin = graft.stream.StreamQueries.queries("t08_running_state")(spark, sfDir)
      .filter(col("event_id").isin(evs.map(e => java.lang.Long.valueOf(e.event_id)): _*))
      .select(col("user_id"), col("n_events"), col("last_type"))
      .as[(Long, Long, String)].collect().toSeq.sorted
    assert(got.size === 40)
    assert(got === twin)
  }

  test("T4 boundary: a window whose end EQUALS the watermark is dropped (inclusive rule)") {
    // pins the <= in t12_late_drop's model: e2 (t=130) advances the
    // watermark to 120 for subsequent batches; e4 (t=70, window [60,120),
    // end 120 == wm 120) must be DROPPED; e3 (end 60 < 120) likewise
    val wmts = (min: Int) => new Timestamp(3600000L * 24 + min * 60000L)
    val evs = Seq(Ev(1, wmts(5), 1, "a", 0), Ev(2, wmts(130), 1, "a", 0),
      Ev(3, wmts(55), 1, "a", 0), Ev(4, wmts(70), 1, "a", 0))
    val source = MemoryStream[Ev](spark)
    val q = EventOps.tumblingCounts(source.toDF())
      .writeStream.format("memory").queryName("t4boundary")
      .outputMode(OutputMode.Update()).start()
    evs.foreach { e => source.addData(e); q.processAllAvailable() }
    q.stop()
    val wins = spark.table("t4boundary")
      .groupBy("win_start").agg(max(col("cnt")).as("cnt"))
      .as[(Timestamp, Long)].collect()
      .map { case (w, c) => (w.getTime - 3600000L * 24) / 60000 -> c }.toMap
    assert(wins === Map(0L -> 1L, 120L -> 1L),
      s"expected only e1 and e2 to survive (end==wm must drop), got $wins")
  }

  test("t12 batch twin: the watermarked aggregation keeps exactly the late=false rows") {
    // the oracle anchor under T4: feed the first 200 events of t12's
    // deterministic arrival order one per microbatch into the REAL
    // watermarked tumbling aggregation; its final counts must equal the
    // batch counts over the rows t12 marks late = false. A 200-arrival
    // prefix is model-consistent (running max over a prefix is the prefix
    // of the running max).
    val t = Tables(spark, sfDir)
    val arrival = t.events
      .select(col("event_id"), col("ts").cast("timestamp").as("ts"),
        col("user_id"), col("event_type"), col("value"))
      .withColumn("arr_us", unix_micros(col("ts")) +
        (((col("event_id") % lit(2147483648L)) * lit(2654435761L)) % lit(2147483648L)) % lit(1800000000L))
      .orderBy("arr_us", "event_id").limit(200)
      .as[(Long, Timestamp, Long, String, Double, Long)].collect()
    val evs = arrival.map { case (id, ets, u, et, v, _) => Ev(id, ets, u, et, v) }
    val ids = evs.map(e => java.lang.Long.valueOf(e.event_id)).toSeq
    val t12 = graft.stream.StreamQueries.queries("t12_late_drop")(spark, sfDir)
      .filter(col("event_id").isin(ids: _*))
    assert(t12.filter(col("late")).count() > 0, "prefix has no late events — anchor would be vacuous")
    val expected = t12.filter(!col("late"))
      .join(t.events.select(col("event_id"), col("event_type")), "event_id")
      .groupBy("win_start_s", "event_type").agg(count(lit(1)).as("cnt"))
      .as[(Long, String, Long)].collect().map(r => (r._1, r._2) -> r._3).toMap
    val source = MemoryStream[Ev](spark)
    val q = EventOps.tumblingCounts(source.toDF())
      .writeStream.format("memory").queryName("t12anchor")
      .outputMode(OutputMode.Update()).start()
    evs.foreach { e => source.addData(e); q.processAllAvailable() }
    q.stop()
    val got = spark.table("t12anchor")
      .groupBy(unix_timestamp(col("win_start")).as("w"), col("event_type"))
      .agg(max(col("cnt")).as("cnt"))
      .as[(Long, String, Long)].collect().map(r => (r._1, r._2) -> r._3).toMap
    assert(got === expected)
  }

  test("t08 closure: each user's final running state equals their event total") {
    // the prefix-aggregate's terminal invariant — the last update per user
    // IS the per-user groupBy count (what a plain batch aggregation gives)
    val t08 = graft.stream.StreamQueries.queries("t08_running_state")(spark, sfDir)
    val last = t08.groupBy("user_id").agg(max(col("n_events")).as("n"))
      .as[(Long, Long)].collect().toMap
    val totals = Tables(spark, sfDir).events.groupBy("user_id")
      .agg(count(lit(1)).as("n")).as[(Long, Long)].collect().toMap
    assert(last === totals)
  }

  test("T6b: transformWithState (Spark 4 API) carries state on the RocksDB store") {
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val source = MemoryStream[Ev](spark)
      val out = graft.stream.RunningUserStateV2(source.toDS())
      val q = out.writeStream.format("memory").queryName("t6v2")
        .outputMode(OutputMode.Update()).start()
      source.addData(Ev(1, ts(0), 5, "click", 0), Ev(2, ts(1), 5, "view", 0))
      q.processAllAvailable()
      source.addData(Ev(3, ts(2), 5, "purchase", 0))
      q.processAllAvailable()
      q.stop()
      val updates = spark.table("t6v2").as[(Long, Long, String)].collect()
      assert(updates.contains((5L, 2L, "view")))
      assert(updates.contains((5L, 3L, "purchase")), "state carries across batches")
    } finally {
      prev match {
        case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("T8 (beyond inventory): stream-stream interval join correlates event pairs") {
    val left = MemoryStream[Ev](spark)
    val right = MemoryStream[Ev](spark)
    val l = left.toDF().withWatermark("ts", "10 minutes")
      .select(col("user_id").as("l_user"), col("event_id").as("l_id"), col("ts").as("l_ts"))
    val r = right.toDF().withWatermark("ts", "10 minutes")
      .select(col("user_id").as("r_user"), col("event_id").as("r_id"), col("ts").as("r_ts"))
    val joined = l.join(r,
      col("l_user") === col("r_user") &&
      col("r_ts") >= col("l_ts") &&
      col("r_ts") <= col("l_ts") + expr("INTERVAL 5 MINUTES"))
    val q = joined.writeStream.format("memory").queryName("t8ss")
      .outputMode(OutputMode.Append()).start()
    left.addData(Ev(1, ts(0), 1, "a", 0))
    right.addData(Ev(10, ts(2), 1, "b", 0), Ev(11, ts(30), 1, "b", 0))
    q.processAllAvailable()
    q.stop()
    val pairs = spark.table("t8ss").select("l_id", "r_id").as[(Long, Long)].collect().toSet
    assert(pairs === Set((1L, 10L)), "only the within-interval pair joins")
  }

  test("T7: stream-static join enriches each microbatch") {
    val dim = Seq((1L, "gold"), (2L, "basic")).toDF("user_id", "tier")
    val got = runToCompletion("t7join") { src =>
      src.addData(Ev(1, ts(0), 1, "a", 0), Ev(2, ts(1), 3, "a", 0))
      (src, EventOps.enrich(src.toDF(), dim).select(col("event_id"), col("tier")),
        OutputMode.Append())
    }
    val rows = got.as[(Long, Option[String])].collect().toMap
    assert(rows(1L) === Some("gold"))
    assert(rows(2L) === None, "left join keeps unmatched stream rows")
  }

  test("T13: watchlist screening flags fuzzy matches per microbatch, stateless append") {
    import graft.stream.Screening
    val wl = Seq((101L, "acme holdings"), (202L, "global trade co")).toDF("wid", "wname")
    val source = MemoryStream[ScreenRec](spark)
    // Append mode with NO watermark: only legal because every op in
    // screen() is stateless — this start() succeeding IS the assertion
    // that no StateStore snuck into the plan.
    val q = Screening.screen(source.toDF(), wl)
      .writeStream.format("memory").queryName("t13screen")
      .outputMode(OutputMode.Append()).start()
    source.addData(ScreenRec(1, "acme holdings"),      // exact (dist 0)
                   ScreenRec(2, "acme holding"),       // deletion (dist 1)
                   ScreenRec(3, "totally unrelated"))
    q.processAllAvailable()
    source.addData(ScreenRec(4, "akme holdings"),      // substitution (dist 1)
                   ScreenRec(5, "global trade co x"),  // two inserts (dist 2) - not flagged
                   ScreenRec(6, "global trade c"))     // deletion (dist 1)
    q.processAllAvailable()
    q.stop()
    val got = spark.table("t13screen")
      .select("id", "wid", "dist").as[(Long, Long, Int)].collect()
    assert(got.length === got.toSet.size && got.map(r => (r._1, r._2)).distinct.length === got.length,
      s"exactly one row per (record, entry) despite multi-key candidates, got ${got.toList}")
    assert(got.toSet === Set((1L, 101L, 0), (2L, 101L, 1), (4L, 101L, 1), (6L, 202L, 1)),
      s"got ${got.toList}")
    // cross-check: the incremental result equals the batch form on the union
    val all = Seq(ScreenRec(1, "acme holdings"), ScreenRec(2, "acme holding"),
      ScreenRec(3, "totally unrelated"), ScreenRec(4, "akme holdings"),
      ScreenRec(5, "global trade co x"), ScreenRec(6, "global trade c")).toDF()
    val batch = Screening.screen(all, wl)
      .select("id", "wid", "dist").as[(Long, Long, Int)].collect().toSet
    assert(batch === got.toSet, "streaming and batch screening must agree")
  }

  test("T14: alert-time dossier enrichment — screen + broadcast stream-static join, stateless") {
    import graft.stream.Screening
    val wl = Seq((101L, "acme holdings"), (202L, "global trade co")).toDF("wid", "wname")
    // the precomputed nightly dossier table (static, broadcast each batch).
    // 202 deliberately has NO row: the graded twin's dossier covers every
    // watchlist id by construction (it is BUILT from the watchlist, so
    // inner ≡ left there), but a deployment's dossier batch can lag a
    // watchlist update — the left join keeps the alert alive with null
    // enrichment, pinned here.
    val dossier = Seq((101L, 7L, 1234.50, "1998-07-21")).toDF(
      "wid", "n_orders", "total_spent", "last_order")
    val source = MemoryStream[ScreenRec](spark)
    // append mode, no watermark: legal only because screen + broadcast
    // left join are stateless — start() succeeding is the state assertion
    val q = Screening.screen(source.toDF(), wl)
      .join(broadcast(dossier), Seq("wid"), "left")
      .select(col("id"), col("wid"), col("dist"), col("n_orders"), col("total_spent"))
      .writeStream.format("memory").queryName("t14dossier")
      .outputMode(OutputMode.Append()).start()
    source.addData(ScreenRec(1, "acme holdings"), ScreenRec(2, "global trade c"))
    q.processAllAvailable()
    source.addData(ScreenRec(3, "akme holdings"), ScreenRec(4, "unrelated"))
    q.processAllAvailable()
    q.stop()
    val got = spark.table("t14dossier")
      .as[(Long, Long, Int, Option[Long], Option[Double])].collect().toSet
    assert(got === Set(
      (1L, 101L, 0, Some(7L), Some(1234.50)),
      (3L, 101L, 1, Some(7L), Some(1234.50)),
      (2L, 202L, 1, None, None)), // alert survives a missing dossier row
      s"got $got")
    // incremental == batch on the same composition (the t14 twin's shape)
    val all = Seq(ScreenRec(1, "acme holdings"), ScreenRec(2, "global trade c"),
      ScreenRec(3, "akme holdings"), ScreenRec(4, "unrelated")).toDF()
    val batch = Screening.screen(all, wl)
      .join(broadcast(dossier), Seq("wid"), "left")
      .select(col("id"), col("wid"), col("dist"), col("n_orders"), col("total_spent"))
      .as[(Long, Long, Int, Option[Long], Option[Double])].collect().toSet
    assert(batch === got, "streaming and batch dossier enrichment must agree")
  }

  test("T15: fan-in alert — chained dedup-then-count across batches equals batch") {
    import graft.stream.Trn
    val source = MemoryStream[Trn](spark)
    val out = EventOps.faninAlerts(
      source.toDF().withWatermark("ts", "10 minutes"), minDistinct = 2L)
    val q = out.writeStream.format("memory").queryName("fanin15")
      .outputMode(OutputMode.Append()).start()
    // window [6h, 12h): dst 100 sees sources {1, 2} (src 1 twice, ACROSS
    // batches — the dedup state must carry over); dst 300 sees only {9}
    val rows = Seq(
      Trn(1, 100, ts(0)), Trn(2, 100, ts(5)),
      Trn(1, 100, ts(10)), Trn(9, 300, ts(15)))
    source.addData(rows.take(2): _*)
    q.processAllAvailable()
    source.addData(rows.drop(2): _*)
    q.processAllAvailable()
    // push the watermark far past the window end so append emits it
    val flush = Trn(7, 999, new Timestamp(3600000L * 40))
    source.addData(flush)
    q.processAllAvailable()
    q.stop()
    val got = spark.table("fanin15").collect()
      .map(r => (r.getAs[Long]("win_start_s"), r.getAs[Long]("user"),
        r.getAs[Long]("n_distinct_src"))).toSet
    val batch = EventOps.faninAlerts((rows :+ flush).toDF(), minDistinct = 2L).collect()
      .map(r => (r.getAs[Long]("win_start_s"), r.getAs[Long]("user"),
        r.getAs[Long]("n_distinct_src"))).toSet
    assert(got === Set((21600L, 100L, 2L)),
      s"cross-batch dedup must count src 1 once and flush the closed window: $got")
    assert(got === batch, "streaming and batch fan-in alerts must agree on closed windows")
  }

  test("T16: first-contact maintenance — repeats suppressed across batches, nth continues") {
    import graft.stream.{FirstContact, Trn}
    val source = MemoryStream[Trn](spark)
    val out = EventOps.firstContacts(source.toDS())
    val q = out.toDF().writeStream.format("memory").queryName("t16fc")
      .outputMode(OutputMode.Append()).start()
    source.addData(Trn(1, 10, ts(0)), Trn(1, 11, ts(1)), Trn(2, 10, ts(2)))
    q.processAllAvailable()
    // 1→10 repeats (must NOT re-emit — the adjacency state carried over);
    // 1→12 is new and must continue the count at 3
    source.addData(Trn(1, 10, ts(3)), Trn(1, 12, ts(4)))
    q.processAllAvailable()
    q.stop()
    val got = spark.table("t16fc").as[FirstContact].collect()
      .map(f => (f.src, f.dst, f.nth)).toSet
    assert(got === Set((1L, 10L, 1L), (1L, 11L, 2L), (2L, 10L, 1L), (1L, 12L, 3L)),
      s"first-contact stream wrong: $got")
    // the graded batch twin ranks the same contacts identically
    val batchRanks = Seq((1L, 10L, ts(0)), (1L, 11L, ts(1)), (2L, 10L, ts(2)),
        (1L, 10L, ts(3)), (1L, 12L, ts(4))).toDF("src", "dst", "ts")
      .groupBy("src", "dst").agg(min(col("ts")).as("first_ts"))
      .withColumn("nth", org.apache.spark.sql.functions.row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("src")
          .orderBy(col("first_ts"), col("dst"))).cast("long"))
      .select("src", "dst", "nth").as[(Long, Long, Long)].collect().toSet
    assert(batchRanks === got, "streaming first contacts must equal the batch ranking")
  }

  test("T16b: TTL-bounded first contacts — suppression holds within the horizon, expiry is observable, re-contact restarts") {
    import graft.stream.{FirstContactTtl, Trn}
    val source = MemoryStream[Trn](spark)
    // 1h TTL, zero-delay watermark: the watermark is exactly max event time
    val out = EventOps.firstContactsTtl(source.toDS(), ttlMs = 3600000L,
      watermarkDelay = "0 seconds")
    val q = out.toDF().writeStream.format("memory").queryName("t16ttl")
      .outputMode(OutputMode.Append()).start()
    def rows() = spark.table("t16ttl").as[FirstContactTtl].collect()
      .map(f => (f.src, f.dst, f.nth, f.expired)).toSeq
    def collected() = rows().toSet
    // batch 1: two contacts for src 1
    source.addData(Trn(1, 10, ts(0)), Trn(1, 11, ts(1)))
    q.processAllAvailable()
    // batch 2 (within horizon): repeat suppressed, new contact continues nth
    source.addData(Trn(1, 10, ts(2)), Trn(1, 12, ts(3)))
    q.processAllAvailable()
    assert(collected() === Set((1L, 10L, 1L, false), (1L, 11L, 2L, false),
      (1L, 12L, 3L, false)), s"within-horizon behavior diverged: ${collected()}")
    // push the watermark past src 1's timeout (last activity ts(3) + 1h)
    // via another key's event at ts(120) = +2h -> expiry marker carrying
    // the dropped adjacency size
    source.addData(Trn(2, 20, ts(120)))
    q.processAllAvailable()
    assert(collected().contains((1L, -1L, 3L, true)),
      s"expiry must be observable with the dropped adjacency size: ${collected()}")
    // re-contact AFTER expiry legitimately re-emits with nth restarting
    // at 1 — the tuple equals batch 1's first emission, so count it
    source.addData(Trn(1, 10, ts(121)))
    q.processAllAvailable()
    q.stop()
    assert(rows().count(_ == (1L, 10L, 1L, false)) === 2,
      s"post-expiry re-contact must re-emit as a first contact: ${rows()}")
  }

  test("TTL-bounded birth detection: within-horizon births match, expiry is observable, post-expiry re-birth restarts the count") {
    import graft.stream.{CcMaintain, Trn, EdgeBirthTtl}
    val source = MemoryStream[Trn](spark)
    val out = CcMaintain.strongEdgeBirthsTtl(source.toDS(), ttlMs = 3600000L)
    val q = out.writeStream.format("memory").queryName("t18ttl")
      .outputMode(OutputMode.Append()).start()
    def rows() = spark.table("t18ttl").as[EdgeBirthTtl].collect()
      .map(e => (e.src, e.dst, e.cnt, e.expired)).toSeq
    // batch 1: pair (1,2) once, pair (3,4) once — no births yet
    source.addData(Trn(1, 2, ts(0)), Trn(3, 4, ts(1)))
    q.processAllAvailable()
    assert(rows().isEmpty, s"sub-threshold pairs must not birth: ${rows()}")
    // batch 2 (within horizon): (1,2) again -> birth, count carried across batches
    source.addData(Trn(1, 2, ts(30)))
    q.processAllAvailable()
    assert(rows() === Seq((1L, 2L, 2L, false)), s"within-horizon birth diverged: ${rows()}")
    // push the watermark past (3,4)'s TTL (last activity ts(1) + 1h) via
    // another pair's event at ts(180) -> observable expiry carrying the
    // dying count; (1,2) expires too (last activity ts(30) + 1h)
    source.addData(Trn(5, 6, ts(180)))
    q.processAllAvailable()
    assert(rows().toSet === Set((1L, 2L, 2L, true), (3L, 4L, 1L, true), (1L, 2L, 2L, false)),
      s"expiry must be observable with the dying count: ${rows()}")
    // post-expiry re-interactions: the pair legitimately re-births once the
    // count RE-crosses the threshold (count restarted at 0)
    source.addData(Trn(3, 4, ts(181)), Trn(3, 4, ts(182)))
    q.processAllAvailable()
    q.stop()
    assert(rows().count(_ == (3L, 4L, 2L, false)) === 1,
      s"post-expiry re-birth must restart the count: ${rows()}")
  }

  test("streaming CC maintenance: births across batch splits + per-batch ccIncrement converge to the batch rebuild") {
    import graft.stream.{CcMaintain, Trn, EdgeBirth}
    import org.apache.spark.sql.DataFrame
    // hand feed, fed in THREE batches; pair (1,2)'s two interactions SPAN
    // a batch boundary (the cross-batch count state is load-bearing)
    val b1 = Seq(Trn(1, 2, ts(0)), Trn(3, 4, ts(1)), Trn(3, 4, ts(2)))
    val b2 = Seq(Trn(1, 2, ts(3)), Trn(5, 6, ts(4)), Trn(4, 7, ts(5)), Trn(4, 7, ts(6)))
    val b3 = Seq(Trn(5, 6, ts(7)), Trn(2, 8, ts(8)), Trn(2, 8, ts(9)), Trn(9, 9, ts(10)))
    val source = MemoryStream[Trn](spark)
    val births = CcMaintain.strongEdgeBirths(source.toDS())
    // standing labels, maintained per micro-batch (materialized locally —
    // the spec's stand-in for the deployment's label table)
    var labels: DataFrame = Seq.empty[(Long, Long)].toDF("id", "component")
    val allBirths = scala.collection.mutable.ArrayBuffer[EdgeBirth]()
    val q = births.writeStream.outputMode(OutputMode.Append())
      .foreachBatch { (b: org.apache.spark.sql.Dataset[EdgeBirth], _: Long) =>
        val batch = b.collect()
        allBirths ++= batch
        val updated = CcMaintain.applyBatch(labels,
            batch.toSeq.map(e => (e.src, e.dst)).toDF("src", "dst"))
          .as[(Long, Long)].collect().toSeq
        labels = updated.toDF("id", "component")
        ()
      }.start()
    Seq(b1, b2, b3).foreach { c => source.addData(c: _*); q.processAllAvailable() }
    q.stop()
    // each strong pair births EXACTLY once, at its second occurrence
    assert(allBirths.map(e => (e.src, e.dst)).sorted ===
      Seq((1L, 2L), (2L, 8L), (3L, 4L), (4L, 7L), (5L, 6L)),
      s"birth set diverged: $allBirths")
    assert(allBirths.find(e => e.src == 1L && e.dst == 2L).get.ts === ts(3),
      "cross-batch birth must carry the CROSSING occurrence's ts")
    // the maintained labeling equals the batch rebuild over the full feed
    val full = (b1 ++ b2 ++ b3).toDF("src", "dst", "ts")
      .groupBy("src", "dst").count().filter(col("count") >= 2)
      .select("src", "dst")
    val want = graft.graph.Algorithms.cc(full)
      .as[(Long, Long)].collect().toMap
    assert(labels.as[(Long, Long)].collect().toMap === want)
    // and the merge actually happened: 4-7 bridges {3,4} with {4,7}
    assert(want(7L) === 3L && want(4L) === 3L)
  }

  test("streaming CC maintenance with expiry: births AND retractions fold to the windowed rebuild") {
    import graft.stream.{CcMaintain, Trn}
    import org.apache.spark.sql.DataFrame
    val source = MemoryStream[Trn](spark)
    val out = CcMaintain.strongEdgeBirthsTtl(source.toDS(), ttlMs = 3600000L)
    // deployment state the sink persists per batch: labels AND the strong
    // edge store (the decremental step re-runs CC against the latter)
    var labels: DataFrame = Seq.empty[(Long, Long)].toDF("id", "component")
    var edges: DataFrame = Seq.empty[(Long, Long)].toDF("src", "dst")
    val q = out.toDF().writeStream.outputMode(OutputMode.Append())
      .foreachBatch { (b: DataFrame, _: Long) =>
        // collect-then-localize: the spec's stand-in for stored state
        val rows = b.select("src", "dst", "expired")
          .as[(Long, Long, Boolean)].collect().toSeq
        val (l2, e2) = CcMaintain.applyBatchTtl(labels, edges,
          rows.toDF("src", "dst", "expired"))
        labels = l2.as[(Long, Long)].collect().toSeq.toDF("id", "component")
        edges = e2.as[(Long, Long)].collect().toSeq.toDF("src", "dst")
        ()
      }.start()
    def fold(c: Trn*): Unit = { source.addData(c: _*); q.processAllAvailable() }
    // b1: two births — components {1,2} and {5,6}; (3,4) stays sub-threshold
    fold(Trn(1, 2, ts(0)), Trn(1, 2, ts(1)), Trn(3, 4, ts(2)),
         Trn(5, 6, ts(3)), Trn(5, 6, ts(4)))
    // b2: bridge birth (2,5) merges them — all of {1,2,5,6} label 1
    fold(Trn(2, 5, ts(30)), Trn(2, 5, ts(31)))
    assert(labels.as[(Long, Long)].collect().toMap ===
      Map(1L -> 1L, 2L -> 1L, 5L -> 1L, 6L -> 1L))
    // b3: (9,10) births at ts(180/181); the watermark advance expires EVERY
    // older counter — (1,2), (5,6), (2,5) retract (component splits to
    // singletons), and (3,4)'s sub-threshold counter death exercises the
    // unknown-edge no-op (it never was an edge)
    fold(Trn(9, 10, ts(180)), Trn(9, 10, ts(181)))
    val afterExpiry = labels.as[(Long, Long)].collect().toMap
    assert(afterExpiry === Map(1L -> 1L, 2L -> 2L, 5L -> 5L, 6L -> 6L,
      9L -> 9L, 10L -> 9L),
      s"expired edges must split the component into labeled singletons: $afterExpiry")
    // b4: post-expiry RE-birth of (2,5) re-merges the two singletons
    fold(Trn(2, 5, ts(182)), Trn(2, 5, ts(183)))
    q.stop()
    val got = labels.as[(Long, Long)].collect().toMap
    assert(got === Map(1L -> 1L, 2L -> 2L, 5L -> 2L, 6L -> 6L,
      9L -> 9L, 10L -> 9L), s"re-birth must re-merge the singletons: $got")
    // invariant: the maintained labeling equals the rebuild of the standing
    // edge store over the preserved node universe
    val reb = graft.graph.Algorithms.cc(edges).as[(Long, Long)].collect().toMap
    assert(got === got.keySet.map(n => n -> reb.getOrElse(n, n)).toMap)
    assert(edges.as[(Long, Long)].collect().toSet === Set((9L, 10L), (2L, 5L)))
  }

  test("streaming LSH index maintenance: appendTo/removeFrom per micro-batch converge the persisted index to the surviving corpus (VERDICT r15 #6)") {
    import graft.stream.{DocEvent, IndexMaintain}
    import graft.text.LshIndex
    import org.apache.spark.sql.DataFrame
    graft.functions.GraftFunctions.register(spark)
    val docs = Tables(spark, sfDir).documents
    val texts = docs.select("doc_id", "text").as[(Long, String)].collect().toMap
    val allIds = texts.keys.toSeq.sorted
    val initialIds = allIds.filter(_ % 4 == 0)
    val dir = java.nio.file.Files.createTempDirectory("lshm").toString
    LshIndex.save(LshIndex.build(
      docs.filter(col("doc_id") % 4 === 0).select("doc_id", "text")), dir,
      rowsPerShard = 64)
    val source = MemoryStream[DocEvent](spark)
    val q = source.toDS().toDF().writeStream.outputMode(OutputMode.Append())
      .foreachBatch { (b: DataFrame, _: Long) =>
        IndexMaintain.applyDocBatch(spark, dir, b)
      }.start()
    def fold(evs: DocEvent*): Unit = { source.addData(evs: _*); q.processAllAvailable() }
    // b1: an arrival batch
    val b1Ids = allIds.filter(_ % 4 == 1).take(20)
    fold(b1Ids.map(i => DocEvent(i, texts(i), erased = false)): _*)
    // b2: more arrivals PLUS an erasure batch hitting the initial slice
    val b2Ids = allIds.filter(_ % 4 == 2).take(20)
    val erasedIds = initialIds.filter(_ % 8 == 0).take(10)
    fold((b2Ids.map(i => DocEvent(i, texts(i), erased = false)) ++
          erasedIds.map(i => DocEvent(i, "", erased = true))): _*)
    // b3: same-batch erase + re-ingest of a b1 doc with CHANGED text (the
    // upsert order contract), plus a replayed erasure (idempotence)
    val reId = b1Ids.head
    val newText = texts(reId) + " revised revised revised"
    fold(DocEvent(reId, "", erased = true), DocEvent(reId, newText, erased = false),
         DocEvent(erasedIds.head, "", erased = true))
    q.stop()
    // surviving corpus after the whole feed
    val survivingTexts = (initialIds.filterNot(erasedIds.contains).map(i => (i, texts(i))) ++
      b1Ids.filterNot(_ == reId).map(i => (i, texts(i))) ++
      b2Ids.map(i => (i, texts(i))) :+ ((reId, newText)))
    val survivors = survivingTexts.toDF("doc_id", "text")
    val maintained = LshIndex.load(spark, dir)
    val rebuilt = LshIndex.build(survivors)
    assert(maintained.bandRows === rebuilt.bandRows)
    // bucket-table equality: per-doc signatures are pure, so the
    // maintained index must BE the rebuild over the survivors
    def rows(i: LshIndex) = i.buckets.collect().map(_.toSeq).toSet
    assert(rows(maintained) === rows(rebuilt),
      "maintained bucket table diverged from the rebuild over survivors")
    // and it probes identically (incl. the revised doc's new sketch)
    val probeBatch = docs.filter(col("doc_id") % 4 === 3)
      .select("doc_id", "text").limit(30)
    def probeSet(i: LshIndex) = i.probe(probeBatch, survivors)
      .as[(Long, Long, Double)].collect().toSet
    assert(probeSet(maintained) === probeSet(rebuilt))
  }

  test("streaming IVF index maintenance: per-batch assign-appends and bucket-local erasures converge to the one-pass assignment of survivors") {
    import graft.stream.{IndexMaintain, VecEvent}
    import graft.text.IvfIndex
    import org.apache.spark.sql.DataFrame
    // synthetic 8-dim vectors: three loose clusters, ids 1..60 (double
    // throughout so appended parquet files match the initial schema)
    def vec(i: Long): Seq[Double] = {
      val base = (i % 3).toDouble * 10.0
      (0 until 8).map(j => base + ((i * 31 + j * 7) % 5).toDouble * 0.1)
    }
    val allIds = (1L to 60L).toSeq
    val initialIds = allIds.filter(_ <= 20)
    val initial = initialIds.map(i => (i, vec(i))).toDF("vec_id", "embedding")
    val idx0 = IvfIndex.build(initial, k = 4)
    val dir = java.nio.file.Files.createTempDirectory("ivfm").toString
    IvfIndex.save(idx0, dir)
    val source = MemoryStream[VecEvent](spark)
    val q = source.toDS().toDF().writeStream.outputMode(OutputMode.Append())
      .foreachBatch { (b: DataFrame, _: Long) =>
        IndexMaintain.applyVecBatch(spark, dir, b)
      }.start()
    def fold(evs: VecEvent*): Unit = { source.addData(evs: _*); q.processAllAvailable() }
    fold((21L to 40L).map(i => VecEvent(i, vec(i), erased = false)): _*)
    // arrivals + an erasure batch spanning initial AND batch-1 vectors
    val erased = Seq(3L, 9L, 27L)
    fold(((41L to 60L).map(i => VecEvent(i, vec(i), erased = false)) ++
          erased.map(i => VecEvent(i, Seq.empty, erased = true))): _*)
    // replayed erasure: a no-op
    fold(VecEvent(3L, Seq.empty, erased = true))
    q.stop()
    val survivors = allIds.filterNot(erased.contains)
      .map(i => (i, vec(i))).toDF("vec_id", "embedding")
    val maintained = IvfIndex.load(spark, dir)
    // centroids are the STANDING quantizer — maintenance never refits
    assert(maintained.centroids.map(_._1).toSeq === idx0.centroids.map(_._1).toSeq)
    maintained.centroids.zip(idx0.centroids).foreach { case ((_, a), (_, b)) =>
      assert(a.toSeq === b.toSeq, "maintenance moved a centroid")
    }
    // the maintained assignment equals the ONE-PASS assignment of the
    // surviving vectors against the standing centroids (the append
    // contract; refresh is the refit's job)
    def asgSet(df: DataFrame) = df.select(col("vec_id"), col("cluster"))
      .as[(Long, Long)].collect().toSet
    assert(asgSet(maintained.assigned) === asgSet(idx0.assign(survivors)),
      "maintained assignments diverged from the one-pass assignment of survivors")
    // and probes agree with the in-memory maintained twin
    val qv = vec(2L).toArray
    assert(maintained.candidates(qv, 2).select("vec_id").as[Long].collect().toSet ===
      IvfIndex(idx0.centroids, idx0.assign(survivors)).candidates(qv, 2)
        .select("vec_id").as[Long].collect().toSet)
  }

  test("streaming curation tick: cross-batch dedup against self-maintained state, gate drops, erasure re-admits (the l55 loop)") {
    import graft.stream.{CurationMaintain, DocEvent}
    import org.apache.spark.sql.DataFrame
    graft.functions.GraftFunctions.register(spark)
    // deterministic hand texts with KNOWN gate outcomes: distinct content
    // words + two stopwords pass every Gopher bound; the 5-word runt
    // fails the length gate (and nothing else, so it isolates the gate)
    def passText(salt: Int): String = {
      val words = (0 until 28).map(i => s"w${salt}x$i")
      (Seq("the") ++ words.take(14) ++ Seq("of") ++ words.drop(14)).mkString(" ")
    }
    val failText = "a a a a a"
    // a near-duplicate of passText(25) that is not byte-identical: one
    // content word changed, so 25 of each doc's 28 trigrams are shared
    // (jaccard_dist = 1 - 25/31), and it passes the gate on its own
    val nearText = passText(25).replace("w25x20", "w25y20")
    val storeDir = java.nio.file.Files.createTempDirectory("cur").toString
    val seed = (0L to 3L).map(i => (i, passText(i.toInt))).toDF("doc_id", "text")
    CurationMaintain.init(spark, storeDir, seed, rowsPerShard = 8)
    val packedPerBatch = scala.collection.mutable.Map[Long, Set[(Long, Long, Long, Long)]]()
    val source = MemoryStream[DocEvent](spark)
    val q = source.toDS().toDF().writeStream.outputMode(OutputMode.Append())
      .foreachBatch { (b: DataFrame, id: Long) =>
        packedPerBatch(id) = CurationMaintain.applyBatch(spark, storeDir, b)
          .as[(Long, Long, Long, Long)].collect().toSet
      }.start()
    def fold(evs: DocEvent*): Unit = { source.addData(evs: _*); q.processAllAvailable() }
    // b1: a re-crawl of seed doc 0 (dropped by dedup), a fresh passer
    // (accepted), a gate-failing runt (dropped by the gate, not dedup)
    fold(DocEvent(10L, passText(0), erased = false),
         DocEvent(11L, passText(11), erased = false),
         DocEvent(12L, failText, erased = false))
    // b2: a re-crawl of doc 11 — accepted ONE BATCH AGO, so only the
    // loop's own maintained state can catch it — plus a fresh passer,
    // plus a WITHIN-BATCH dup pair (ids 25 < 26, same text) and a
    // within-batch near-dup of 25 (id 27): none is in the index yet, so
    // only the batch's self-dedup can catch them — first-by-id wins
    fold(DocEvent(20L, passText(11), erased = false),
         DocEvent(21L, passText(21), erased = false),
         DocEvent(25L, passText(25), erased = false),
         DocEvent(26L, passText(25), erased = false),
         DocEvent(27L, nearText, erased = false))
    // b3: erase doc 11, then a re-crawl of its text under a new id — with
    // the original erased there is nothing left to collide with, so the
    // re-crawl is ACCEPTED (erasure means gone, the g69 leave-semantics)
    fold(DocEvent(11L, "", erased = true),
         DocEvent(22L, passText(11), erased = false))
    q.stop()
    val acceptedIds = CurationMaintain.accepted(spark, storeDir)
      .select("doc_id").as[Long].collect().toSet
    assert(acceptedIds === Set(0L, 1L, 2L, 3L, 21L, 22L, 25L),
      s"accepted store diverged from the expected fold: $acceptedIds")
    // 27 dropped as a near-dup inside the threshold, not by the gate
    assert(graft.text.LlmQueries.gopherQuality(Seq((27L, nearText)).toDF("doc_id", "text"))
      .select("gopher_pass").as[Boolean].collect().toSeq === Seq(true))
    assert(graft.text.LshIndex.selfPairs(
        Seq((25L, passText(25)), (27L, nearText)).toDF("doc_id", "text"), bandRows = 1)
      .as[(Long, Long, Double)].collect().toSeq === Seq((25L, 27L, 0.193548)))
    // per-batch packed output covers exactly that batch's accepted slice
    def packedOf(ids: (Long, String)*) =
      graft.text.LlmQueries.packGreedy(ids.toSeq.toDF("doc_id", "text"), 512L)
        .as[(Long, Long, Long, Long)].collect().toSet
    assert(packedPerBatch(0L) === packedOf((11L, passText(11))))
    assert(packedPerBatch(1L) === packedOf((21L, passText(21)), (25L, passText(25))))
    assert(packedPerBatch(2L) === packedOf((22L, passText(11))))
    // the maintained LSH index equals a rebuild over the accepted corpus
    val rebuilt = graft.text.LshIndex.build(
      CurationMaintain.accepted(spark, storeDir))
    val maintained = graft.text.LshIndex.load(spark, s"$storeDir/lsh")
    assert(maintained.buckets.collect().map(_.toSeq).toSet ===
           rebuilt.buckets.collect().map(_.toSeq).toSet,
      "maintained LSH index diverged from the rebuild over accepted docs")
  }
}

case class ScreenRec(id: Long, name: String)
