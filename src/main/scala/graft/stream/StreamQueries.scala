package graft.stream

import graft.Tables
import graft.Tables.dec
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** T-series batch twins (SURVEY.md §2.4 streaming plan note): each graded
  * query runs the window/session/dedup SEMANTICS on the batch events table so
  * the DuckDB oracle can check it; the incremental StateStore behaviors are
  * covered by StreamingSpec over MemoryStream.
  *
  * Timestamp discipline: outputs carry epoch seconds/micros (BIGINT), never
  * raw timestamps — engine-dependent parquet timestamp units would break the
  * hash compare (SURVEY §5.3 rule 3).
  */
object StreamQueries {
  type Q = (SparkSession, String) => DataFrame
  private final case class E(name: String, fn: Q, sql: Option[String])

  private val entries: Seq[E] = Seq(

    // T1 — tumbling 1h window counts per event type (batch twin of
    // EventOps.tumblingCounts).
    E("t01_tumbling_window", (s, d) => {
      Tables(s, d).events
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("cnt"),
             sum(dec(col("value"))).cast("double").as("sum_value"))
        .select(unix_timestamp(col("window.start")).as("win_start_s"),
                col("event_type"), col("cnt"), col("sum_value"))
        .orderBy("win_start_s", "event_type")
    }, Some("""
      SELECT CAST(EPOCH(date_trunc('hour', ts)) AS BIGINT) AS win_start_s,
             event_type, COUNT(*) AS cnt,
             CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      FROM events GROUP BY 1, 2 ORDER BY win_start_s, event_type""")),

    // T2 — sliding 1h/15min windows: each event lands in 4 windows.
    E("t02_sliding_window", (s, d) => {
      Tables(s, d).events
        .groupBy(window(col("ts"), "1 hour", "15 minutes"))
        .agg(count(lit(1)).as("cnt"), countDistinct(col("user_id")).as("n_users"))
        .select(unix_timestamp(col("window.start")).as("win_start_s"),
                col("cnt"), col("n_users"))
        .orderBy("win_start_s")
    }, Some("""
      SELECT (epoch_us(ts) // 900000000 - o) * 900 AS win_start_s,
             COUNT(*) AS cnt, COUNT(DISTINCT user_id) AS n_users
      FROM events, UNNEST([0, 1, 2, 3]) AS t(o)
      GROUP BY 1 ORDER BY win_start_s""")),

    // T3 — session windows (30-minute gap) per user; gap-island SQL twin.
    // Spark session semantics: a session spans [first, last+gap); an event at
    // exactly prev+gap starts a NEW session ⇒ island break when diff >= gap.
    E("t03_session_window", (s, d) => {
      Tables(s, d).events
        .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
        .agg(count(lit(1)).as("n_events"))
        .select(unix_micros(col("session_window.start")).as("sess_start_us"),
                col("user_id"), col("n_events"))
        .orderBy("user_id", "sess_start_us")
    }, Some("""
      WITH marked AS (
        SELECT user_id, ts, event_id,
               CASE WHEN LAG(ts) OVER w IS NULL
                    OR ts - LAG(ts) OVER w >= INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS new_sess
        FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      sess AS (
        SELECT user_id, ts,
               SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS sid
        FROM marked)
      SELECT epoch_us(MIN(ts)) AS sess_start_us, user_id, COUNT(*) AS n_events
      FROM sess GROUP BY user_id, sid ORDER BY user_id, sess_start_us""")),

    // T5 — dedup twin: first event per (user, type, minute) bucket.
    E("t05_dedup", (s, d) => {
      val w = Window.partitionBy(col("user_id"), col("event_type"), col("minute_b"))
        .orderBy(col("ts"), col("event_id"))
      Tables(s, d).events
        .withColumn("minute_b", (unix_timestamp(col("ts")).cast("long") / 60).cast("long"))
        .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .select(col("event_id"), col("user_id"), col("event_type"))
        .orderBy("event_id")
    }, Some("""
      SELECT event_id, user_id, event_type FROM (
        SELECT event_id, user_id, event_type,
               ROW_NUMBER() OVER (PARTITION BY user_id, event_type, epoch_us(ts) // 60000000
                                  ORDER BY ts, event_id) AS rn
        FROM events) t
      WHERE rn = 1 ORDER BY event_id""")),

    // T7 — stream-static enrichment twin: events joined to a static per-user
    // dimension (its streaming form broadcast-joins the dim each microbatch).
    E("t07_stream_static_join", (s, d) => {
      val t = Tables(s, d)
      val dim = t.events.groupBy(col("user_id")).agg(count(lit(1)).as("user_total"))
      EventOps.enrich(t.events, dim)
        .select(col("event_id"), col("user_id"), col("user_total"))
        .orderBy("event_id")
    }, Some("""
      SELECT e.event_id, e.user_id, d.user_total
      FROM events e LEFT JOIN (SELECT user_id, COUNT(*) AS user_total FROM events GROUP BY 1) d
        ON e.user_id = d.user_id
      ORDER BY e.event_id""")),

    // T8 — T6's batch twin, putting an ORACLE anchor under the arbitrary-
    // state path (VERDICT r5 nit 2): the running per-user state (cumulative
    // event count + last event type) that EventOps.runningUserState /
    // RunningUserStateV2 fold incrementally is, in batch form, one keyed
    // window — the state after event e IS the prefix aggregate up to e in
    // (ts, event_id) order. StreamingSpec proves the streaming operators
    // emit exactly these rows when events arrive one per microbatch, so the
    // hash-checked query grades the same fold the StateStore path runs.
    E("t08_running_state", (s, d) => {
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables(s, d).events
        .withColumn("n_events", count(lit(1)).over(w))
        .select(col("event_id"), col("user_id"), col("n_events"),
                col("event_type").as("last_type"))
        .orderBy("event_id")
    }, Some("""
      SELECT event_id, user_id,
             COUNT(*) OVER (PARTITION BY user_id ORDER BY ts, event_id
                            ROWS UNBOUNDED PRECEDING) AS n_events,
             event_type AS last_type
      FROM events ORDER BY event_id""")),

    // T12 — T4's batch twin, putting an ORACLE anchor under the WATERMARK
    // LATE-DROP rule itself (the one streaming semantic that was test-only):
    // Spark drops a row from a watermarked tumbling aggregation iff its
    // window END <= watermark, where the watermark is max prior event time
    // minus the delay — the boundary pinned INCLUSIVE by StreamingSpec's
    // end==watermark probe. Arrival order is modeled deterministically:
    // each event is delayed by a Knuth-hash jitter of up to 30 minutes
    // (the r30 convention), which yields a realistic ~1-7% late fraction
    // at the graded sfs instead of the degenerate 0%/99% of raw id or
    // per-user orders. The watermark recurrence (running max of prior
    // event times over the arrival order) runs through
    // OrderedLag.withRunningMax — partition-parallel, never a single-task
    // global window. StreamingSpec proves the real watermarked streaming
    // aggregation, fed one event per microbatch in this arrival order,
    // keeps exactly the rows this query marks late = false.
    E("t12_late_drop", (s, d) => {
      val ev = Tables(s, d).events
        .select(col("event_id"), unix_micros(col("ts")).as("ts_us"))
        .withColumn("arr_us", col("ts_us") +
          // reduce BEFORE multiplying: max product 2^31 * 2654435761 ≈ 5.7e18
          // < 2^63, so the hash never wraps (Spark wraps silently where
          // DuckDB raises — the g30/r30 cross-engine overflow class)
          (((col("event_id") % lit(2147483648L)) * lit(2654435761L)) % lit(2147483648L)) % lit(1800000000L))
      graft.rel.OrderedLag.withRunningMax(ev, Seq("arr_us", "event_id"), "ts_us", "prior_max_us")
        .select(col("event_id"),
          (expr("ts_us div 3600000000") * 3600L).as("win_start_s"),
          (col("prior_max_us").isNotNull &&
            (expr("ts_us div 3600000000") + 1L) * 3600000000L <= col("prior_max_us") - 600000000L)
            .as("late"))
        .orderBy("event_id")
    }, Some("""
      WITH e AS (SELECT event_id, epoch_us(ts) AS ts_us,
                        epoch_us(ts) + (((event_id % 2147483648) * 2654435761) % 2147483648) % 1800000000 AS arr_us
                 FROM events),
      m AS (SELECT event_id, ts_us,
                   MAX(ts_us) OVER (ORDER BY arr_us, event_id
                                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prior_max_us
            FROM e)
      SELECT event_id,
             (ts_us // 3600000000) * 3600 AS win_start_s,
             prior_max_us IS NOT NULL
               AND (ts_us // 3600000000 + 1) * 3600000000 <= prior_max_us - 600000000 AS late
      FROM m ORDER BY event_id""")),

    // T9 — stream-stream interval join twin (EventOps.followUps): same-user
    // follow-ups within an hour. gap_us subtracts two epoch conversions, so
    // any NTZ/session-offset shift cancels; ids + an integer gap keep the
    // output hash-stable.
    E("t09_stream_stream_join", (s, d) => {
      val e = Tables(s, d).events
      EventOps.followUps(e, e)
        .select(col("eid"), col("fid"), col("user_id"),
                (unix_micros(col("ts_b")) - unix_micros(col("ts_a"))).as("gap_us"))
        .orderBy("eid", "fid")
    }, Some("""
      SELECT a.event_id AS eid, b.event_id AS fid, a.user_id,
             epoch_us(b.ts) - epoch_us(a.ts) AS gap_us
      FROM events a JOIN events b
        ON a.user_id = b.user_id AND b.ts > a.ts AND b.ts <= a.ts + INTERVAL 1 HOUR
      ORDER BY eid, fid""")),

    // T9b — LEFT OUTER interval join twin: every event, with its follow-ups
    // or null if none arrived within the hour (streaming: the null row
    // emits only once the watermark passes ts + 1h, proving no match can
    // still arrive). Null sort position differs between engines — Spark asc
    // is nulls-first, DuckDB defaults NULLS LAST — so the oracle pins
    // NULLS FIRST.
    E("t09b_interval_join_outer", (s, d) => {
      val e = Tables(s, d).events
      EventOps.followUps(e, e, "left_outer")
        .select(col("eid"), col("fid"), col("user_id"),
                (unix_micros(col("ts_b")) - unix_micros(col("ts_a"))).as("gap_us"))
        .orderBy("eid", "fid")
    }, Some("""
      SELECT a.event_id AS eid, b.event_id AS fid, a.user_id,
             epoch_us(b.ts) - epoch_us(a.ts) AS gap_us
      FROM events a LEFT JOIN events b
        ON a.user_id = b.user_id AND b.ts > a.ts AND b.ts <= a.ts + INTERVAL 1 HOUR
      ORDER BY eid, fid NULLS FIRST""")),

    // T10 — burst debounce: per (user, event_type), group events into
    // bursts (gaps-and-islands with a 10-minute gap timeout — the same
    // island rule session windows use) and keep only each burst's FIRST
    // event, reporting how many followers were suppressed. The batch twin
    // of retention-bounded stream dedup (t05 grades fixed minute-bucket
    // dedup; this grades the gap-relative form, which fixed buckets get
    // wrong across bucket boundaries). One keyed sort, no self-join.
    E("t10_burst_debounce", (s, d) => {
      val ws = Window.partitionBy("user_id", "event_type", "burst")
      val bursts = graft.rel.Islands.runIds(Tables(s, d).events,
        Seq("user_id", "event_type"), Seq("ts", "event_id"), "burst")(
        w => unix_micros(col("ts")) - unix_micros(lag(col("ts"), 1).over(w)) > 600L * 1000000L)
      bursts
        .withColumn("rn", row_number().over(ws.orderBy(col("ts"), col("event_id"))))
        .withColumn("n_suppressed", count(lit(1)).over(ws) - 1)
        .filter(col("rn") === 1)
        .select(col("event_id"), col("user_id"), col("event_type"),
                unix_micros(col("ts")).as("burst_start_us"), col("n_suppressed"))
        .orderBy("event_id")
    }, Some("""
      WITH marked AS (SELECT event_id, user_id, event_type, ts,
        CASE WHEN LAG(ts) OVER w IS NULL
                  OR epoch_us(ts) - epoch_us(LAG(ts) OVER w) > 600 * 1000000 THEN 1 ELSE 0 END AS nb
        FROM events WINDOW w AS (PARTITION BY user_id, event_type ORDER BY ts, event_id)),
      bursts AS (SELECT event_id, user_id, event_type, ts,
        SUM(nb) OVER (PARTITION BY user_id, event_type ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS burst
        FROM marked)
      SELECT event_id, user_id, event_type,
             epoch_us(ts) AS burst_start_us, n_suppressed
      FROM (SELECT event_id, user_id, event_type, ts,
                   ROW_NUMBER() OVER (PARTITION BY user_id, event_type, burst ORDER BY ts, event_id) AS rn,
                   COUNT(*) OVER (PARTITION BY user_id, event_type, burst) - 1 AS n_suppressed
            FROM bursts) t
      WHERE rn = 1 ORDER BY event_id""")),

    // T11 — windowed top-k: the per-window leaderboard (top-3 event types
    // per tumbling hour, deterministic (count DESC, type ASC) tiebreak) —
    // the streaming-dashboard staple composed from t01's window agg + a
    // window-partitioned rank. In streaming form this is the t01 windowed
    // state with rank applied per finalized window on emit (complete/
    // append mode after watermark close); the rank partitions by window,
    // so no global ordering is ever required.
    E("t11_windowed_topk", (s, d) => {
      val counts = Tables(s, d).events
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("cnt"))
        .select(unix_timestamp(col("window.start")).as("win_start_s"),
                col("event_type"), col("cnt"))
      val w = Window.partitionBy("win_start_s").orderBy(col("cnt").desc, col("event_type"))
      counts.withColumn("rnk", row_number().over(w).cast("long")).filter(col("rnk") <= 3)
        .orderBy("win_start_s", "rnk")
    }, Some("""
      WITH counts AS (SELECT CAST(EPOCH(date_trunc('hour', ts)) AS BIGINT) AS win_start_s,
                             event_type, COUNT(*) AS cnt
                      FROM events GROUP BY 1, 2)
      SELECT win_start_s, event_type, cnt, rnk FROM (
        SELECT win_start_s, event_type, cnt,
               ROW_NUMBER() OVER (PARTITION BY win_start_s ORDER BY cnt DESC, event_type) AS rnk
        FROM counts) t
      WHERE rnk <= 3 ORDER BY win_start_s, rnk""")),

    // T13 — streaming watchlist screening twin (Screening.screen): the
    // continuous form of the g46 fuzzy-ER family. A watchlist (every
    // 101st customer — ≥1 entry at sf0.001, deterministic at every sf)
    // is expanded to its deletion-key index and broadcast; the customer
    // roster is screened at lev≤1, and the order flow is flagged wherever
    // its customer matched — the compliance loop "new transaction →
    // counterparty within one typo of a listed entity → alert". Both
    // joins broadcast the small side (key index; matched-entity set), so
    // the transaction flow never shuffles — the only viable plan when the
    // stream is the 100 TB side. StreamingSpec proves the SAME
    // Screening.screen code incrementally on a MemoryStream (append mode,
    // zero state); this twin grades its semantics via the key-mirror SQL.
    E("t13_watchlist_screen", (s, d) => {
      import graft.stream.Screening
      val t = Tables(s, d)
      val wl = t.customer.filter(col("c_custkey") % 101 === 0)
        .select(col("c_custkey").as("wid"), col("c_name").as("wname"))
      val hits = Screening.screen(
        t.customer.select(col("c_custkey").as("id"), col("c_name").as("name")), wl)
      t.orders.join(broadcast(hits), col("o_custkey") === col("id"))
        .select(col("o_orderkey").as("order_id"), col("name").as("cust_name"),
                col("wid"), col("wname"), col("dist"))
        .orderBy("order_id", "wid")
    }, Some("""
      WITH rec AS (SELECT c_custkey AS id, c_name AS name FROM customer),
      wl AS (SELECT c_custkey AS wid, c_name AS wname FROM customer WHERE c_custkey % 101 = 0),
      rkeys AS (SELECT id, name, name AS key FROM rec
                UNION
                SELECT id, name, substr(name, 1, CAST(i AS INT)) || substr(name, CAST(i AS INT) + 2)
                FROM rec, UNNEST(range(length(name))) AS t(i)),
      wkeys AS (SELECT wid, wname, wname AS key FROM wl
                UNION
                SELECT wid, wname, substr(wname, 1, CAST(i AS INT)) || substr(wname, CAST(i AS INT) + 2)
                FROM wl, UNNEST(range(length(wname))) AS t(i)),
      hits AS (SELECT id, name, wid, wname, CAST(levenshtein(name, wname) AS INT) AS dist
               FROM (SELECT DISTINCT r.id, r.name, w.wid, w.wname
                     FROM rkeys r JOIN wkeys w ON r.key = w.key) c
               WHERE levenshtein(name, wname) <= 1)
      SELECT o.o_orderkey AS order_id, h.name AS cust_name, h.wid, h.wname, h.dist
      FROM orders o JOIN hits h ON o.o_custkey = h.id
      ORDER BY order_id, wid""")),

    // T14 — DOSSIER-ON-ALERT enrichment (VERDICT r11 #8): t13 flags a
    // watchlist hit; the operational next step is the dossier — the
    // nightly-batch + streaming-alert architecture a compliance
    // deployment actually runs (README.md:4-6 "untangle ... in seconds"
    // AT ALERT TIME, because the expensive aggregation ran overnight).
    // A precomputed per-watched-entity dossier table (order count, exact
    // decimal spend, last order date — left join so listed entities with
    // NO orders still carry a dossier) stream-static joins the hit
    // stream on the matched entity key: the dossier is broadcast, the
    // hit stream is t13's never-shuffles screen output, so the composed
    // plan keeps the record side shuffle-free end to end and is fully
    // stateless (append-legal, no watermark). StreamingSpec proves the
    // SAME composition incrementally on a MemoryStream; this twin grades
    // its semantics via the key-mirror SQL.
    E("t14_alert_dossier", (s, d) => {
      import graft.stream.Screening
      val t = Tables(s, d)
      val wl = t.customer.filter(col("c_custkey") % 101 === 0)
        .select(col("c_custkey").as("wid"), col("c_name").as("wname"))
      val dossier = wl.join(t.orders, col("o_custkey") === col("wid"), "left")
        .groupBy(col("wid"))
        .agg(count(col("o_orderkey")).as("n_orders"),
             round(coalesce(sum(dec(col("o_totalprice"))).cast("double"), lit(0.0)), 2)
               .as("total_spent"),
             coalesce(date_format(max(col("o_orderdate")), "yyyy-MM-dd"), lit("never"))
               .as("last_order"))
      Screening.screen(
          t.customer.select(col("c_custkey").as("id"), col("c_name").as("name")), wl)
        .join(broadcast(dossier), Seq("wid"))
        .select(col("id"), col("name"), col("wid"), col("wname"), col("dist"),
                col("n_orders"), col("total_spent"), col("last_order"))
        .orderBy("id", "wid")
    }, Some("""
      WITH rec AS (SELECT c_custkey AS id, c_name AS name FROM customer),
      wl AS (SELECT c_custkey AS wid, c_name AS wname FROM customer WHERE c_custkey % 101 = 0),
      rkeys AS (SELECT id, name, name AS key FROM rec
                UNION
                SELECT id, name, substr(name, 1, CAST(i AS INT)) || substr(name, CAST(i AS INT) + 2)
                FROM rec, UNNEST(range(length(name))) AS t(i)),
      wkeys AS (SELECT wid, wname, wname AS key FROM wl
                UNION
                SELECT wid, wname, substr(wname, 1, CAST(i AS INT)) || substr(wname, CAST(i AS INT) + 2)
                FROM wl, UNNEST(range(length(wname))) AS t(i)),
      hits AS (SELECT id, name, wid, wname, CAST(levenshtein(name, wname) AS INT) AS dist
               FROM (SELECT DISTINCT r.id, r.name, w.wid, w.wname
                     FROM rkeys r JOIN wkeys w ON r.key = w.key) c
               WHERE levenshtein(name, wname) <= 1),
      dossier AS (SELECT w.wid, COUNT(o.o_orderkey) AS n_orders,
                         ROUND(COALESCE(CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 0.0), 2) AS total_spent,
                         COALESCE(strftime(MAX(o.o_orderdate), '%Y-%m-%d'), 'never') AS last_order
                  FROM wl w LEFT JOIN orders o ON o.o_custkey = w.wid
                  GROUP BY 1)
      SELECT h.id, h.name, h.wid, h.wname, h.dist,
             d.n_orders, d.total_spent, d.last_order
      FROM hits h JOIN dossier d ON d.wid = h.wid
      ORDER BY id, h.wid""")),

    // T15 — FAN-IN ALERT, the streaming form of g63's velocity signal
    // (README.md:6 "hidden risks" × README.md:17 temporal): targets
    // contacted by ≥3 DISTINCT counterparties inside one tumbling 6 h
    // window. The load-bearing design point is the DEDUP-THEN-COUNT
    // decomposition in EventOps.faninAlerts — streaming aggregation
    // cannot COUNT(DISTINCT), so the op chains a watermark-bounded
    // dropDuplicates on (window, src, dst) into a plain windowed count
    // (Spark's chained-stateful-operator support); in batch the same
    // code is exactly countDistinct, which is what this twin grades.
    // StreamingSpec runs the identical function over a MemoryStream and
    // pins streaming ≡ batch. Tumbling (not sliding) is the streaming
    // budget: one state row per (window, src, dst) — the sliding
    // trailing-interval precision lives in g63 where the investigator
    // reads the case file.
    E("t15_fanin_alert", (s, d) => {
      val tr = graft.graph.GraphBuilder.userTransitions(Tables(s, d))
      EventOps.faninAlerts(tr, minDistinct = 3L).orderBy("win_start_s", "user")
    }, Some("""
      WITH tr AS (
        SELECT 7000000000 + prev AS src, 7000000000 + user_id AS dst, ts
        FROM (SELECT user_id, ts, event_id,
                     LAG(user_id) OVER (ORDER BY ts, event_id) AS prev FROM events)
        WHERE prev IS NOT NULL AND prev <> user_id),
      b AS (SELECT DISTINCT (epoch_us(ts) // 21600000000) * 21600 AS win_start_s, src, dst
            FROM tr)
      SELECT win_start_s, dst AS "user", COUNT(*) AS n_distinct_src
      FROM b GROUP BY 1, 2 HAVING COUNT(*) >= 3
      ORDER BY win_start_s, "user"""")),

    // T16 — FIRST-CONTACT detection (incremental graph maintenance):
    // per source, every counterparty it touches for the FIRST time, with
    // its running distinct-degree (nth) at that moment — the screening
    // signal ("A just paid someone new") that doubles as the incremental
    // build of the interaction graph; EventOps.firstContacts maintains
    // the adjacency itself as flatMapGroupsWithState state. This twin
    // grades the batch semantics: first contact = min ts per (src, dst),
    // nth = the (first_ts, dst) rank per source — exactly the order the
    // streaming form emits when the feed arrives in time order
    // (StreamingSpec proves cross-batch suppression + nth continuity).
    // One groupBy + one per-source window: two shuffles on the same key
    // at any scale.
    E("t16_first_contact", (s, d) => {
      val tr = graft.graph.GraphBuilder.userTransitions(Tables(s, d))
      val firsts = tr.groupBy("src", "dst").agg(min(col("ts")).as("first_ts"))
      val w = Window.partitionBy("src").orderBy(col("first_ts"), col("dst"))
      firsts.withColumn("nth", row_number().over(w).cast("long"))
        .select(col("src"), col("dst"),
                unix_micros(col("first_ts")).as("first_ts_us"), col("nth"))
        .orderBy("src", "nth")
    }, Some("""
      WITH tr AS (
        SELECT 7000000000 + prev AS src, 7000000000 + user_id AS dst, ts
        FROM (SELECT user_id, ts, event_id,
                     LAG(user_id) OVER (ORDER BY ts, event_id) AS prev FROM events)
        WHERE prev IS NOT NULL AND prev <> user_id),
      f AS (SELECT src, dst, MIN(ts) AS first_ts FROM tr GROUP BY 1, 2)
      SELECT src, dst, epoch_us(first_ts) AS first_ts_us,
             ROW_NUMBER() OVER (PARTITION BY src ORDER BY first_ts, dst) AS nth
      FROM f ORDER BY src, nth""")),

    // T17 — INCREMENTAL dossier maintenance (VERDICT r12 #3): t14's
    // enrichment table maintained as a materialized view instead of the
    // nightly full rebuild. The Spark side NEVER aggregates the whole
    // order history at once: it seeds a zero state from the watchlist,
    // folds in the pre-1998 slice, then REFRESHES with the post-1998
    // slice via DossierMaintain.merge — the operational shape where each
    // refresh scans only the new feed slice. The ORACLE computes the
    // full rebuild directly (t14's dossier CTE, no split anywhere), so
    // the hash match IS the increment≡rebuild proof; the monoid algebra
    // that makes it hold for ANY split is pinned by DossierMaintainSpec
    // (multi-step folds, empty delta, commutativity, never-ordered
    // entities surviving from the seed).
    E("t17_dossier_increment", (s, d) => {
      val t = Tables(s, d)
      val wl = t.customer.filter(col("c_custkey") % 101 === 0)
        .select(col("c_custkey").as("wid"))
      val split = lit("1997-12-31 23:59:59").cast("timestamp_ntz")
      val base = t.orders.filter(col("o_orderdate") <= split)
      val delta = t.orders.filter(col("o_orderdate") > split)
      val nightly = DossierMaintain.merge(
        DossierMaintain.seed(wl), DossierMaintain.orderDelta(wl, base))
      val refreshed = DossierMaintain.merge(
        nightly, DossierMaintain.orderDelta(wl, delta))
      DossierMaintain.present(refreshed).orderBy("wid")
    }, Some("""
      SELECT w.wid, COUNT(o.o_orderkey) AS n_orders,
             ROUND(COALESCE(CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 0.0), 2) AS total_spent,
             COALESCE(strftime(MAX(o.o_orderdate), '%Y-%m-%d'), 'never') AS last_order
      FROM (SELECT c_custkey AS wid FROM customer WHERE c_custkey % 101 = 0) w
      LEFT JOIN orders o ON o.o_custkey = w.wid
      GROUP BY 1 ORDER BY wid""")),

    // T17b — RETRACTION-AWARE dossier maintenance (VERDICT r13 #5): t17's
    // materialized view under order CANCELLATIONS. The Spark side folds the
    // FULL history into the maintained state (t17's two-slice refresh),
    // then RETRACTS a deterministic cancellation slice (o_orderkey % 13 =
    // 0) via DossierMaintain.retract — counts and spend subtract exactly;
    // the non-invertible max(last_order) leg recomputes from the surviving
    // history for ONLY the entities whose cancelled orders touched their
    // stored max. The ORACLE is the unsplit rebuild over SURVIVING orders
    // alone, so the hash match proves retract∘fold ≡ fold-on-surviving —
    // the t17 grading trick on the deletion side, including maxima
    // displaced onto earlier dates and entities cancelled back to 'never'.
    E("t17b_dossier_retract", (s, d) => {
      val t = Tables(s, d)
      val wl = t.customer.filter(col("c_custkey") % 101 === 0)
        .select(col("c_custkey").as("wid"))
      val cancels = t.orders.filter(col("o_orderkey") % 13 === 0)
      val surviving = t.orders.filter(col("o_orderkey") % 13 =!= 0)
      val full = DossierMaintain.merge(
        DossierMaintain.seed(wl), DossierMaintain.orderDelta(wl, t.orders))
      val retracted = DossierMaintain.retract(wl, full, cancels, surviving)
      DossierMaintain.present(retracted).orderBy("wid")
    }, Some("""
      SELECT w.wid, COUNT(o.o_orderkey) AS n_orders,
             ROUND(COALESCE(CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 0.0), 2) AS total_spent,
             COALESCE(strftime(MAX(o.o_orderdate), '%Y-%m-%d'), 'never') AS last_order
      FROM (SELECT c_custkey AS wid FROM customer WHERE c_custkey % 101 = 0) w
      LEFT JOIN (SELECT * FROM orders WHERE o_orderkey % 13 <> 0) o
        ON o.o_custkey = w.wid
      GROUP BY 1 ORDER BY wid""")),

    // T18 — STRONG-EDGE BIRTHS: the batch twin of
    // [[CcMaintain.strongEdgeBirths]] (the detector feeding the streaming
    // CC maintenance loop — g66's ccIncrement applied per micro-batch).
    // An interaction pair's edge is BORN at its second interaction (the
    // g07/g66 strong threshold); the batch form ranks each pair's
    // occurrences by event time and emits occurrence #2. Emitted (src,
    // dst, ts) are deterministic under ts ties: tied occurrences carry
    // the same visible ts, so whichever the rank picks, the row bytes
    // match. StreamingSpec proves the stateful streaming detector emits
    // THIS set across arbitrary batch splits, then that ccIncrement over
    // those births converges to the batch rebuild's labeling. Scale
    // shape: one hash shuffle on the pair + one per-pair window — state
    // is the pair's occurrence list within the frame, linear in events.
    E("t18_strong_edge_births", (s, d) => {
      val tr = graft.graph.GraphBuilder.userTransitions(Tables(s, d))
      val w = Window.partitionBy("src", "dst").orderBy(col("ts"))
      tr.withColumn("rn", row_number().over(w))
        .filter(col("rn") === 2)
        .select(col("src"), col("dst"), unix_micros(col("ts")).as("born_ts_us"))
        .orderBy("src", "dst")
    }, Some("""
      WITH tr AS (
        SELECT 7000000000 + prev AS src, 7000000000 + user_id AS dst, ts
        FROM (SELECT user_id, ts, event_id,
                     LAG(user_id) OVER (ORDER BY ts, event_id) AS prev FROM events)
        WHERE prev IS NOT NULL AND prev <> user_id),
      r AS (SELECT src, dst, ts,
                   ROW_NUMBER() OVER (PARTITION BY src, dst ORDER BY ts) AS rn
            FROM tr)
      SELECT src, dst, epoch_us(ts) AS born_ts_us
      FROM r WHERE rn = 2 ORDER BY src, dst""")),

    // T17c (batch leg) — REPLAY-IDEMPOTENT retraction (round 15, ADVICE
    // r14): t17b's retract assumes exactly-once cancel delivery — a
    // replayed batch double-subtracts. This grades
    // [[DossierMaintain.retractLogged]] under an at-least-once feed: the
    // SAME cancel slice is applied TWICE (batch 1, then its redelivery),
    // each pass deduplicated against the persisted retracted-orderkey log
    // the first pass produced. The ORACLE is t17b's unchanged
    // fold-on-surviving — so the hash-match IS the proof that the replay
    // was a no-op (without the log, the doubled subtraction would shift
    // every cancelled entity's count/spend and hash-mismatch). Scale:
    // the log is cancel-history-sized (one long per ever-cancelled
    // order) and prunes each incoming batch via one anti-join BEFORE
    // anything watchlist-scoped runs; a fully-replayed batch costs zero
    // state writes and zero corpus reads.
    E("t17c_retract_replayed", (s, d) => {
      val t = Tables(s, d)
      val wl = t.customer.filter(col("c_custkey") % 101 === 0)
        .select(col("c_custkey").as("wid"))
      val cancels = t.orders.filter(col("o_orderkey") % 13 === 0)
      val surviving = t.orders.filter(col("o_orderkey") % 13 =!= 0)
      val full = DossierMaintain.merge(
        DossierMaintain.seed(wl), DossierMaintain.orderDelta(wl, t.orders))
      val emptyLog = s.range(0).select(col("id").as("o_orderkey"))
      val (s1, log1) = DossierMaintain.retractLogged(
        wl, full, cancels, surviving, emptyLog)
      // the redelivered batch: same cancels, now against the updated log
      val (s2, _) = DossierMaintain.retractLogged(
        wl, s1.transform(graft.graph.Materialize.apply), cancels, surviving, log1)
      DossierMaintain.present(s2).orderBy("wid")
    }, Some("""
      SELECT w.wid, COUNT(o.o_orderkey) AS n_orders,
             ROUND(COALESCE(CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 0.0), 2) AS total_spent,
             COALESCE(strftime(MAX(o.o_orderdate), '%Y-%m-%d'), 'never') AS last_order
      FROM (SELECT c_custkey AS wid FROM customer WHERE c_custkey % 101 = 0) w
      LEFT JOIN (SELECT * FROM orders WHERE o_orderkey % 13 <> 0) o
        ON o.o_custkey = w.wid
      GROUP BY 1 ORDER BY wid"""))
  )

  val queries: Map[String, Q] = entries.map(e => e.name -> e.fn).toMap
  val oracleSql: Map[String, String] = entries.flatMap(e => e.sql.map(sql => e.name -> sql.trim)).toMap
}
