package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.sources.Tables

/** Window / ordered-computation surface: SURVEY.md §2.5 (W1–W7), plus
  * the ordered aggregation analogs A3/A5/A11 and the streaming
  * window-bucket analog from §2.10.
  *
  * Every window here is keyed (`partitionBy(user_id)` etc.) so state is
  * distributed across executors; the only global windows are over
  * *distinct metric values* (a11), which stay tiny regardless of fact
  * size.
  */
object Windows {

  /** Oracle for gap sessionization — shared by the SQL-window form (w06)
    * and the stateful flatMapGroups form (w06b in DomainOps), which must
    * hash-match it identically. */
  val SessionizeOracle: String = """
        WITH t AS (SELECT user_id, event_id, value, ts, epoch_ms(ts) AS ms,
                          CASE WHEN epoch_ms(ts) - lag(epoch_ms(ts), 1) OVER (
                                 PARTITION BY user_id ORDER BY ts ASC, event_id ASC) > 1800000
                               THEN 1
                               WHEN lag(epoch_ms(ts), 1) OVER (
                                 PARTITION BY user_id ORDER BY ts ASC, event_id ASC) IS NULL
                               THEN 1 ELSE 0 END AS new_sess
                   FROM events),
        s AS (SELECT *, sum(new_sess) OVER (PARTITION BY user_id
                ORDER BY ts ASC, event_id ASC
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
              FROM t)
        SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
               count(*) AS n_events,
               min(event_id) AS first_event_id,
               max(event_id) AS last_event_id,
               max(ms) - min(ms) AS duration_ms,
               round(sum(value), 2) AS session_value
        FROM s GROUP BY 1, 2"""

  /** Epoch millis of the event timestamp (NTZ, session TZ pinned UTC).
    * Tables.events already truncated ns→µs to mirror DuckDB's read, so
    * `unix_millis` here and `epoch_ms(ts)` in the oracle floor the same
    * µs value to ms. */
  private def ms = unix_millis(col("ts")).as("ms")

  /** The streaming gates' replay: a fresh state dir (unique per call, so
    * concurrent sessions never collide, and removed at JVM exit rather
    * than leaked) fed the deterministic micro-batches 0, 1, 2 through
    * `apply(batch, dir)`. @return the state dir. */
  private def replay3(prefix: String)(apply: (Int, String) => Unit): String = {
    val dir = java.nio.file.Files.createTempDirectory(prefix).toString
    org.apache.commons.io.FileUtils.forceDeleteOnExit(new java.io.File(dir))
    (0 until 3).foreach(apply(_, dir))
    dir
  }

  def defs: Seq[Q] = Seq(

    // ----- W1/W2: latest row per key (argmax via row_number) ---------------
    Q(
      "w01_latest_per_key",
      "Latest-row-per-key (latest poll per type, " +
        "team_power_rankings.py:104-135; latest rating per team, " +
        "adjusted_efficiencies.py:127-148): row_number desc over " +
        "(ts, event_id) keeps exactly one row per user.",
      (s, d) => {
        val e = Tables.events(s, d)
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("ts").desc, col("event_id").desc)
        e.withColumn("rn", row_number().over(w))
          .filter(col("rn") === 1)
          .select(col("user_id"), col("event_id").as("last_event_id"),
            col("event_type").as("last_event_type"))
      },
      Some("""
        SELECT user_id, event_id AS last_event_id,
               event_type AS last_event_type
        FROM (SELECT *, row_number() OVER (PARTITION BY user_id
                ORDER BY ts DESC, event_id DESC) AS rn FROM events)
        WHERE rn = 1""")),

    // ----- W1 again, as the 100-TB plan: hash agg, no per-key sort ---------
    Q(
      "w01b_latest_max_by",
      "Latest-row-per-key as an aggregation (same semantics as w01): " +
        "max_by over a (ts, event_id) struct plans as a PARTIAL " +
        "SortAggregate — map-side combine shrinks the shuffle to one row " +
        "per key per task, vs the window form shuffling every event. " +
        "That shuffle reduction is the 100-TB win; the struct ordering " +
        "key keeps the tiebreak deterministic. Oracle: DuckDB arg_max " +
        "over a fixed-width (epoch_us, id) string encoding of the same " +
        "total order.",
      (s, d) => {
        val e = Tables.events(s, d)
        val ord = struct(col("ts"), col("event_id"))
        e.groupBy(col("user_id"))
          .agg(
            max_by(col("event_id"), ord).as("last_event_id"),
            max_by(col("event_type"), ord).as("last_event_type"))
      },
      Some("""
        SELECT user_id,
               arg_max(event_id, lpad(CAST(epoch_us(ts) AS VARCHAR), 20, '0')
                 || lpad(CAST(event_id AS VARCHAR), 12, '0')) AS last_event_id,
               arg_max(event_type, lpad(CAST(epoch_us(ts) AS VARCHAR), 20, '0')
                 || lpad(CAST(event_id AS VARCHAR), 12, '0')) AS last_event_type
        FROM events GROUP BY user_id""")),

    // ----- W3: running cumulative totals -----------------------------------
    Q(
      "w03_running_total",
      "Running totals (build_pbp_team_daily_rollup.py:252-259): " +
        "cumulative sum per user over event order, " +
        "rowsBetween(unboundedPreceding, currentRow).",
      (s, d) => {
        val e = Tables.events(s, d)
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("ts").asc, col("event_id").asc)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        e.select(
          col("user_id"), col("event_id"),
          round(sum(col("value")).over(w), 2).as("cum_value"),
          count(lit(1)).over(w).as("cum_n"))
      },
      Some("""
        SELECT user_id, event_id,
               round(sum(value) OVER (PARTITION BY user_id
                 ORDER BY ts ASC, event_id ASC
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS cum_value,
               count(*) OVER (PARTITION BY user_id
                 ORDER BY ts ASC, event_id ASC
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_n
        FROM events""")),

    // ----- A5/W3: dense-calendar season-to-date cumulative ------------------
    Q(
      "a05_dense_calendar",
      "Dense-calendar cumulative rollup " +
        "(build_pbp_team_daily_rollup.py:241-396): sequence(min..max day) " +
        "x users spine, left-join daily partial aggregates, then a " +
        "cumulative window — one row per user per calendar day even with " +
        "no activity.",
      (s, d) => {
        val e = Tables.events(s, d)
        val bounds = e.agg(
          to_date(min(col("ts"))).as("d0"), to_date(max(col("ts"))).as("d1"))
        val days = bounds.select(explode(sequence(col("d0"), col("d1"))).as("day"))
        val users = e.select(col("user_id")).distinct()
        val daily = e.groupBy(col("user_id"), to_date(col("ts")).as("day"))
          .agg(sum(col("value")).as("v"), count(lit(1)).as("n"))
        val w = Window.partitionBy(col("user_id")).orderBy(col("day").asc)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        users.crossJoin(broadcast(days))
          .join(daily, Seq("user_id", "day"), "left")
          .select(col("user_id"), col("day"),
            coalesce(col("v"), lit(0.0)).as("v"),
            coalesce(col("n"), lit(0L)).as("n"))
          .select(col("user_id"), col("day"), col("n"),
            round(sum(col("v")).over(w), 2).as("cum_value"),
            sum(col("n")).over(w).as("cum_n"))
      },
      Some("""
        WITH b AS (SELECT CAST(min(ts) AS DATE) AS d0, CAST(max(ts) AS DATE) AS d1 FROM events),
        days AS (SELECT CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE) AS day FROM b),
        users AS (SELECT DISTINCT user_id FROM events),
        daily AS (SELECT user_id, CAST(ts AS DATE) AS day, sum(value) AS v,
                         count(*) AS n
                  FROM events GROUP BY 1, 2)
        SELECT u.user_id, d.day,
               CAST(coalesce(dl.n, 0) AS BIGINT) AS n,
               round(sum(coalesce(dl.v, 0.0)) OVER (PARTITION BY u.user_id
                 ORDER BY d.day ASC
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS cum_value,
               CAST(sum(coalesce(dl.n, 0)) OVER (PARTITION BY u.user_id
                 ORDER BY d.day ASC
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_n
        FROM users u CROSS JOIN days d
        LEFT JOIN daily dl ON dl.user_id = u.user_id AND dl.day = d.day""")),

    // ----- W7: lag-based deltas ----------------------------------------------
    Q(
      "w07_lag_gaps",
      "lag() deltas (garbage-minutes integration, " +
        "build_pbp_game_teams_flat.py:301-314): inter-event gap per user " +
        "in ms, aggregated to per-user gap stats.",
      (s, d) => {
        val e = Tables.events(s, d)
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("ts").asc, col("event_id").asc)
        e.select(col("user_id"), col("event_id"), col("ts"), ms)
          .withColumn("gap_ms", col("ms") - lag(col("ms"), 1).over(w))
          .groupBy(col("user_id"))
          .agg(
            count(col("gap_ms")).as("n_gaps"),
            sum(col("gap_ms")).as("total_gap_ms"),
            max(col("gap_ms")).as("max_gap_ms"),
            round(avg(col("gap_ms")), 2).as("avg_gap_ms"))
      },
      Some("""
        SELECT user_id, count(gap_ms) AS n_gaps,
               CAST(sum(gap_ms) AS BIGINT) AS total_gap_ms,
               max(gap_ms) AS max_gap_ms, round(avg(gap_ms), 2) AS avg_gap_ms
        FROM (SELECT user_id,
                     epoch_ms(ts) - lag(epoch_ms(ts), 1) OVER (
                       PARTITION BY user_id ORDER BY ts ASC, event_id ASC) AS gap_ms
              FROM events)
        GROUP BY 1""")),

    // ----- A11: distinct-value percentile-rank composite ----------------------
    Q(
      "a11_percentile_composite",
      "Composite percentile ranking (team_power_rankings.py:263-296): " +
        "per metric, dense percentile over DISTINCT values (rank/(n-1)*100 " +
        "— NOT percent_rank over rows), composite = mean of the two. " +
        "spend is near-unique per customer, so the distinct set scales " +
        "with the data: the rank comes from the two-stage " +
        "GlobalRank.zeroBasedIndex (range partition + local rank + " +
        "offsets) and n from a scalar agg — no single-partition window " +
        "anywhere (VERDICT r2 'What's wrong' #2).",
      (s, d) => {
        val c = Tables.customer(s, d)
        val o = Tables.orders(s, d)
        val spend = o.groupBy(col("o_custkey"))
          .agg(round(sum(col("o_totalprice")), 2).as("sp"))
        val base = c.join(spend, col("c_custkey") === col("o_custkey"), "left")
          .select(col("c_custkey"), col("c_acctbal"),
            coalesce(col("sp"), lit(0.0)).as("spend"))
        def pctTable(metric: String, out: String) = {
          val dv = base.select(col(metric).as("v")).distinct()
          val n = dv.agg(count(lit(1)).as("__n"))
          // n==1 guard: a single distinct value ranks 0.0 (not null/NaN),
          // matching the oracle's CASE — see ADVICE r01.
          graft.operators.GlobalRank.zeroBasedIndex(dv, "v")
            .crossJoin(broadcast(n))
            .select(col("v"),
              when(col("__n") > 1, col("idx") * lit(100.0) / (col("__n") - 1))
                .otherwise(lit(0.0)).as(out))
        }
        base
          .join(pctTable("c_acctbal", "p_bal").withColumnRenamed("v", "c_acctbal"), Seq("c_acctbal"))
          .join(pctTable("spend", "p_sp").withColumnRenamed("v", "spend"), Seq("spend"))
          .select(col("c_custkey"),
            round(col("p_bal"), 4).as("acctbal_pct"),
            round(col("p_sp"), 4).as("spend_pct"),
            round((col("p_bal") + col("p_sp")) / 2.0, 4).as("composite"))
      },
      Some("""
        WITH base AS (
          SELECT c_custkey, c_acctbal, coalesce(sp, 0.0) AS spend
          FROM customer LEFT JOIN (SELECT o_custkey, round(sum(o_totalprice), 2) AS sp
                                   FROM orders GROUP BY 1) o ON c_custkey = o_custkey),
        pb AS (SELECT v, CASE WHEN count(*) OVER () > 1
                              THEN (row_number() OVER (ORDER BY v ASC) - 1) * 100.0
                                   / (count(*) OVER () - 1)
                              ELSE 0.0 END AS p
               FROM (SELECT DISTINCT c_acctbal AS v FROM base)),
        ps AS (SELECT v, CASE WHEN count(*) OVER () > 1
                              THEN (row_number() OVER (ORDER BY v ASC) - 1) * 100.0
                                   / (count(*) OVER () - 1)
                              ELSE 0.0 END AS p
               FROM (SELECT DISTINCT spend AS v FROM base))
        SELECT b.c_custkey,
               round(pb.p, 4) AS acctbal_pct,
               round(ps.p, 4) AS spend_pct,
               round((pb.p + ps.p) / 2.0, 4) AS composite
        FROM base b JOIN pb ON b.c_acctbal = pb.v JOIN ps ON b.spend = ps.v""")),

    // ----- A3/O5: mode (most-common value per key) ------------------------------
    Q(
      "a03_mode_top1",
      "most_common(1) per key (build_pbp_game_team_stats.py:89-96): " +
        "count + row_number desc with a deterministic lexicographic " +
        "tiebreak.",
      (s, d) => {
        val e = Tables.events(s, d)
        val cnt = e.groupBy(col("user_id"), col("event_type")).agg(count(lit(1)).as("n"))
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("n").desc, col("event_type").asc)
        cnt.withColumn("rn", row_number().over(w))
          .filter(col("rn") === 1)
          .select(col("user_id"), col("event_type").as("top_event_type"), col("n").as("top_n"))
      },
      Some("""
        SELECT user_id, event_type AS top_event_type, n AS top_n
        FROM (SELECT user_id, event_type, count(*) AS n,
                     row_number() OVER (PARTITION BY user_id
                       ORDER BY count(*) DESC, event_type ASC) AS rn
              FROM events GROUP BY 1, 2)
        WHERE rn = 1""")),

    // ----- W6: gap-based sessionization (SQL-expressible form) ------------------
    Q(
      "w06_sessionize",
      "Gap sessionization (possession segmentation analog, " +
        "build_pbp_plays_enriched.py:113-276): 30-min inactivity gap " +
        "opens a new session; session id = running sum of gap flags; " +
        "per-session rollup.",
      (s, d) => {
        val e = Tables.events(s, d)
        val ord = Window.partitionBy(col("user_id"))
          .orderBy(col("ts").asc, col("event_id").asc)
        val cum = ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        e.select(col("user_id"), col("event_id"), col("value"), col("ts"), ms)
          .withColumn("new_sess",
            when(col("ms") - lag(col("ms"), 1).over(ord) > 1800000L, 1L)
              .when(lag(col("ms"), 1).over(ord).isNull, 1L)
              .otherwise(0L))
          .withColumn("session_id", sum(col("new_sess")).over(cum))
          .groupBy(col("user_id"), col("session_id"))
          .agg(
            count(lit(1)).as("n_events"),
            min(col("event_id")).as("first_event_id"),
            max(col("event_id")).as("last_event_id"),
            (max(col("ms")) - min(col("ms"))).as("duration_ms"),
            round(sum(col("value")), 2).as("session_value"))
      },
      Some(SessionizeOracle)),

    // ----- SCD-2 validity intervals ---------------------------------------------
    Q(
      "w09_scd2_intervals",
      "SCD-2 validity intervals (the dimensional-history op every " +
        "lakehouse silver layer needs): each user's event stream becomes " +
        "[valid_from, valid_to) rows via a keyed lead() — the open " +
        "(current) row carries a null valid_to. Emitted as exact " +
        "epoch-microsecond integers, no float or format surface. Scale " +
        "shape: one keyed window per user partition — no global sort, " +
        "state bounded by the partition, the same shape w01/w03 already " +
        "prove; at 100 TB this is the write-once history table build.",
      (s, d) => {
        val e = Tables.events(s, d)
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("ts").asc, col("event_id").asc)
        e.select(col("user_id"), col("event_id"), col("event_type"),
          unix_micros(col("ts")).as("valid_from_us"),
          unix_micros(lead(col("ts"), 1).over(w)).as("valid_to_us"))
      },
      Some("""
        SELECT user_id, event_id, event_type,
               epoch_us(ts) AS valid_from_us,
               epoch_us(lead(ts) OVER (PARTITION BY user_id
                 ORDER BY ts, event_id)) AS valid_to_us
        FROM events""")),

    // ----- ordered funnel analysis ---------------------------------------------------
    Q(
      "w10_funnel_stages",
      "Ordered funnel (the product-analytics sequence query: view -> " +
        "click AFTER the view -> purchase AFTER the click, per user): " +
        "stage timestamps chain as min-after-predecessor, so an " +
        "earlier click or purchase cannot satisfy a later stage. " +
        "Emits per-user deepest stage (0-3) + per-stage epoch-us " +
        "times. Each stage is a keyed agg over the previous (tiny, " +
        "user-sized) frame broadcast back against events — the event " +
        "stream shuffles once per stage on the user key, never " +
        "globally. Oracle replays the same min-after chain.",
      (s, d) => {
        val e = Tables.events(s, d)
          .select(col("user_id"), col("event_type"),
            unix_micros(col("ts")).as("us"))
        val v = e.filter(col("event_type") === "view")
          .groupBy(col("user_id")).agg(min(col("us")).as("t_view"))
        val c = e.join(broadcast(v), Seq("user_id"))
          .filter(col("event_type") === "click" && col("us") > col("t_view"))
          .groupBy(col("user_id")).agg(min(col("us")).as("t_click"))
        val p = e.join(broadcast(c), Seq("user_id"))
          .filter(col("event_type") === "purchase" && col("us") > col("t_click"))
          .groupBy(col("user_id")).agg(min(col("us")).as("t_purchase"))
        v.join(c, Seq("user_id"), "left").join(p, Seq("user_id"), "left")
          .select(col("user_id"),
            (lit(1) + when(col("t_click").isNotNull, 1).otherwise(0)
              + when(col("t_purchase").isNotNull, 1).otherwise(0)).as("stage"),
            col("t_view"), col("t_click"), col("t_purchase"))
      },
      Some("""
        WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS us FROM events),
        v AS (SELECT user_id, min(us) AS t_view FROM e
              WHERE event_type = 'view' GROUP BY 1),
        c AS (SELECT e.user_id, min(e.us) AS t_click
              FROM e JOIN v USING (user_id)
              WHERE e.event_type = 'click' AND e.us > v.t_view GROUP BY 1),
        p AS (SELECT e.user_id, min(e.us) AS t_purchase
              FROM e JOIN c USING (user_id)
              WHERE e.event_type = 'purchase' AND e.us > c.t_click GROUP BY 1)
        SELECT v.user_id,
               1 + CASE WHEN c.t_click IS NOT NULL THEN 1 ELSE 0 END
                 + CASE WHEN p.t_purchase IS NOT NULL THEN 1 ELSE 0 END AS stage,
               v.t_view, c.t_click, p.t_purchase
        FROM v LEFT JOIN c USING (user_id) LEFT JOIN p USING (user_id)""")),

    // ----- W8: ranking columns ------------------------------------------------------
    Q(
      "w08_rank",
      "Ranking columns (W8, orchestrate.py:1154-1158 ranking_* " +
        "pass-throughs recomputed): rank + dense_rank over a global " +
        "aggregate ordering — the ranked set is one row per nation, so " +
        "the unpartitioned window is tiny by construction.",
      (s, d) => {
        val li = Tables.lineitem(s, d)
        val sup = Tables.supplier(s, d)
        val n = Tables.nation(s, d)
        val rev = li.join(sup, col("l_suppkey") === col("s_suppkey"))
          .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
          .groupBy(col("n_name"))
          .agg(round(sum(col("l_extendedprice")), 2).as("total_rev"),
            count(lit(1)).as("n_items"))
        val w = Window.orderBy(col("total_rev").desc, col("n_name").asc)
        rev.select(col("n_name"), col("total_rev"), col("n_items"),
          rank().over(w).as("rev_rank"),
          dense_rank().over(w).as("rev_dense_rank"))
      },
      Some("""
        SELECT n_name, total_rev, n_items,
               CAST(rank() OVER w AS INT) AS rev_rank,
               CAST(dense_rank() OVER w AS INT) AS rev_dense_rank
        FROM (SELECT n_name, round(sum(l_extendedprice), 2) AS total_rev,
                     count(*) AS n_items
              FROM lineitem
              JOIN supplier ON l_suppkey = s_suppkey
              JOIN nation ON s_nationkey = n_nationkey
              GROUP BY 1)
        WINDOW w AS (ORDER BY total_rev DESC, n_name ASC)""")),

    // ----- as-of join (beyond-reference time-series operator) ----------------------
    Q(
      "aj01_asof_join",
      "As-of join (graft.operators.AsOfJoin.leftAsOf): each purchase " +
        "event matched to the user's latest click at-or-before it — the " +
        "union-and-window trick (one shuffle on the key, no inequality " +
        "nested loop). Oracle: DuckDB's native ASOF LEFT JOIN.",
      (s, d) => {
        val e = Tables.events(s, d)
        val purchases = e.filter(col("event_type") === "purchase")
          .select(col("user_id"), col("event_id"), col("ts"))
        val clicks = e.filter(col("event_type") === "click")
          .select(col("user_id"), col("event_id").as("click_event"),
            col("value").as("click_value"), col("ts"))
        graft.operators.AsOfJoin
          .leftAsOf(purchases, clicks, "user_id", "ts",
            Seq("click_event", "click_value", "ts"), prefix = "c_")
          .select(
            col("user_id"), col("event_id").as("purchase_event"),
            col("c_click_event").as("click_event"),
            round(col("c_click_value"), 2).as("click_value"),
            (unix_millis(col("ts")) - unix_millis(col("c_ts"))).as("gap_ms"))
      },
      Some("""
        SELECT p.user_id, p.event_id AS purchase_event,
               c.event_id AS click_event,
               round(c.value, 2) AS click_value,
               CAST(epoch_ms(p.ts) - epoch_ms(c.ts) AS BIGINT) AS gap_ms
        FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
          ON p.user_id = c.user_id AND p.ts >= c.ts""")),

    // ----- bucketed range join ------------------------------------------------------
    Q(
      "j11_range_join",
      "Range join (graft.operators.AsOfJoin.rangeJoin): (purchase, " +
        "click) pairs within 30 minutes, same user — the two-bucket " +
        "trick turns the inequality join into an equi-join plus a " +
        "residual filter. Oracle: plain inequality join.",
      (s, d) => {
        val e = Tables.events(s, d)
        val purchases = e.filter(col("event_type") === "purchase")
          .select(col("user_id"), col("event_id"), unix_millis(col("ts")).as("ms"))
        val clicks = e.filter(col("event_type") === "click")
          .select(col("user_id"), col("event_id"), unix_millis(col("ts")).as("ms"))
        graft.operators.AsOfJoin
          .rangeJoin(purchases, clicks, "user_id", "ms", 1800000L)
          .select(
            col("user_id"), col("event_id").as("purchase_event"),
            col("event_id_r").as("click_event"),
            (col("ms") - col("ms_r")).as("gap_ms"))
      },
      Some("""
        SELECT p.user_id, p.event_id AS purchase_event,
               c.event_id AS click_event,
               CAST(epoch_ms(p.ts) - epoch_ms(c.ts) AS BIGINT) AS gap_ms
        FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        JOIN (SELECT * FROM events WHERE event_type = 'click') c
          ON p.user_id = c.user_id
         AND epoch_ms(c.ts) <= epoch_ms(p.ts)
         AND epoch_ms(c.ts) >= epoch_ms(p.ts) - 1800000""")),

    // ----- §2.10: tumbling time-window aggregation (streaming analog) -------------
    Q(
      "st01_window_agg",
      "Tumbling 6h event-time windows (Structured Streaming analog — the " +
        "same groupBy(window(ts)) runs unchanged on readStream). Bucket " +
        "emitted as a formatted string for engine-neutral comparison.",
      (s, d) => {
        val e = Tables.events(s, d)
        e.groupBy(
            window(col("ts"), "6 hours").as("w"),
            col("event_type"))
          .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("total"))
          .select(
            date_format(col("w.start"), "yyyy-MM-dd HH:mm").as("bucket"),
            col("event_type"), col("n"), col("total"))
      },
      Some("""
        SELECT strftime(TIMESTAMP '2024-01-01'
                 + CAST(floor(date_diff('second', TIMESTAMP '2024-01-01', ts) / 21600.0) AS BIGINT)
                   * INTERVAL 6 HOUR, '%Y-%m-%d %H:%M') AS bucket,
               event_type, count(*) AS n, round(sum(value), 2) AS total
        FROM events GROUP BY 1, 2""")),

    Q(
      "st10_hopping_window",
      "HOPPING 6h windows sliding every 3h (§2.10: the overlapping-" +
        "window trend view — each event lands in exactly width/slide " +
        "= 2 windows). EventStream.hoppingWindowAgg is the same " +
        "declarative window(ts, width, slide) batch and streaming; " +
        "the oracle replays the 3h-grid membership arithmetic " +
        "explicitly (window starts floor3h(ts) and floor3h(ts)-3h, " +
        "both always containing ts). Bucket formatted as string for " +
        "engine-neutral compare (the st01 convention).",
      (s, d) => {
        graft.streaming.EventStream.hoppingWindowAgg(
            Tables.events(s, d), "6 hours", "3 hours")
          .select(
            date_format(col("w.start"), "yyyy-MM-dd HH:mm").as("bucket"),
            col("event_type"), col("n"), col("total"))
      },
      Some("""
        WITH x AS (
          SELECT event_type, value,
                 TIMESTAMP '2024-01-01'
                   + (CAST(floor(date_diff('second', TIMESTAMP '2024-01-01', ts) / 10800.0) AS BIGINT) - k)
                     * INTERVAL 3 HOUR AS wstart
          FROM events, unnest([0, 1]) AS t(k))
        SELECT strftime(wstart, '%Y-%m-%d %H:%M') AS bucket,
               event_type, count(*) AS n, round(sum(value), 2) AS total
        FROM x GROUP BY 1, 2""")),

    Q(
      "st02_stream_dedup_agg",
      "At-least-once repair + windowed agg (§2.10 late-data dedup: " +
        "deduplicate_silver.py semantics, streamed): 10% of events are " +
        "redelivered, EventStream.dedupBatch drops them by event_id, then " +
        "the same tumbling-window agg as st01. The streaming twin " +
        "(dropDuplicatesWithinWatermark, watermark-bounded state) is " +
        "parity-tested in EventStreamSpec.",
      (s, d) => {
        val e = Tables.events(s, d)
        val redelivered = e.filter(col("event_id") % 10 === 0)
        val deduped = graft.streaming.EventStream.dedupBatch(
          e.unionAll(redelivered), Seq("event_id"))
        graft.streaming.EventStream.windowAgg(deduped)
      },
      Some("""
        WITH deduped AS (
          SELECT DISTINCT * FROM (
            SELECT * FROM events
            UNION ALL
            SELECT * FROM events WHERE event_id % 10 = 0))
        SELECT strftime(TIMESTAMP '2024-01-01'
                 + CAST(floor(date_diff('second', TIMESTAMP '2024-01-01', ts) / 21600.0) AS BIGINT)
                   * INTERVAL 6 HOUR, '%Y-%m-%d %H:%M') AS bucket,
               event_type, count(*) AS n, round(sum(value), 2) AS total
        FROM deduped GROUP BY 1, 2""")),

    Q(
      "st03_interval_join",
      "Event-time interval join (§2.10 stream-stream join: attribution " +
        "of clicks to views within 1h, per user). The same " +
        "EventStream.intervalJoin runs on watermarked streams — the " +
        "range condition is what lets Spark bound both sides' state; " +
        "the streaming twin is parity-tested in EventStreamSpec.",
      (s, d) => {
        val e = Tables.events(s, d)
        val v = e.filter(col("event_type") === "view")
          .select(col("user_id"), col("event_id"), col("ts"))
        val c = e.filter(col("event_type") === "click")
          .select(col("user_id"), col("event_id"), col("ts"))
        graft.streaming.EventStream.intervalJoin(v, c, "1 hour")
          .select(col("l.user_id").as("user_id"),
            col("l.event_id").as("view_id"),
            col("r.event_id").as("click_id"),
            (unix_micros(col("r.ts")) - unix_micros(col("l.ts"))).as("lag_us"))
      },
      Some("""
        SELECT v.user_id, v.event_id AS view_id, c.event_id AS click_id,
               epoch_us(c.ts) - epoch_us(v.ts) AS lag_us
        FROM events v JOIN events c
          ON v.user_id = c.user_id
         AND v.event_type = 'view' AND c.event_type = 'click'
         AND c.ts >= v.ts AND c.ts <= v.ts + INTERVAL 1 HOUR""")),

    Q(
      "st04_stream_static_enrich",
      "Stream-static enrichment (§2.10): the event stream joined to a " +
        "broadcast customer-segment dim, then aggregated per (segment, " +
        "event_type) — the canonical enrich-then-aggregate micro-batch " +
        "shape. No streaming state: only the stream side is unbounded, " +
        "and the dim broadcast is re-planned per micro-batch, so at " +
        "100 TB/day the stream never shuffles for the join. The SAME " +
        "EventStream.enrich call runs on a readStream frame " +
        "(parity-tested in EventStreamSpec).",
      (s, d) => {
        val e = Tables.events(s, d)
        val dim = Tables.customer(s, d)
          .select(col("c_custkey").as("user_id"),
            col("c_mktsegment").as("segment"))
        graft.streaming.EventStream.enrich(e, dim, "user_id")
          .groupBy(col("segment"), col("event_type"))
          .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("total"))
      },
      Some("""
        SELECT c.c_mktsegment AS segment, e.event_type,
               count(*) AS n, round(sum(e.value), 2) AS total
        FROM events e JOIN customer c ON e.user_id = c.c_custkey
        GROUP BY 1, 2""")),

    Q(
      "st06_interval_join_outer",
      "Left-outer event-time interval join (§2.10 stream-stream OUTER " +
        "join: every view attributed to a click within 1h OR kept " +
        "null-padded — on streams the null rows emit when the " +
        "watermark passes the view's window, the hard state-eviction " +
        "case of Structured Streaming). The SAME " +
        "EventStream.intervalJoinLeftOuter runs on watermarked streams " +
        "with bounded state; streaming-vs-batch parity is pinned in " +
        "EventStreamSpec.",
      (s, d) => {
        val e = Tables.events(s, d)
        val v = e.filter(col("event_type") === "view")
          .select(col("user_id"), col("event_id"), col("ts"))
        val c = e.filter(col("event_type") === "click")
          .select(col("user_id"), col("event_id"), col("ts"))
        graft.streaming.EventStream.intervalJoinLeftOuter(v, c, "1 hour")
          .select(col("l.user_id").as("user_id"),
            col("l.event_id").as("view_id"),
            col("r.event_id").as("click_id"),
            (unix_micros(col("r.ts")) - unix_micros(col("l.ts"))).as("lag_us"))
      },
      Some("""
        SELECT v.user_id, v.event_id AS view_id, c.event_id AS click_id,
               epoch_us(c.ts) - epoch_us(v.ts) AS lag_us
        FROM (SELECT * FROM events WHERE event_type = 'view') v
        LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
          ON v.user_id = c.user_id
         AND c.ts >= v.ts AND c.ts <= v.ts + INTERVAL 1 HOUR""")),

    Q(
      "st08_interval_join_full_outer",
      "Full-outer event-time interval join (§2.10 stream-stream FULL " +
        "outer: every view attributed or null-padded AND every click " +
        "attributed or null-padded — the symmetric state-eviction case " +
        "that completes the outer family st03/st06; unmatched rows on " +
        "each side emit when the watermark proves no match can still " +
        "arrive). The SAME EventStream.intervalJoinFullOuter runs on " +
        "watermarked streams with bounded two-sided state; " +
        "batch-vs-stream parity is pinned in EventStreamSpec.",
      (s, d) => {
        val e = Tables.events(s, d)
        val v = e.filter(col("event_type") === "view")
          .select(col("user_id"), col("event_id"), col("ts"))
        val c = e.filter(col("event_type") === "click")
          .select(col("user_id"), col("event_id"), col("ts"))
        graft.streaming.EventStream.intervalJoinFullOuter(v, c, "1 hour")
          .select(coalesce(col("l.user_id"), col("r.user_id")).as("user_id"),
            col("l.event_id").as("view_id"),
            col("r.event_id").as("click_id"),
            (unix_micros(col("r.ts")) - unix_micros(col("l.ts"))).as("lag_us"))
      },
      Some("""
        SELECT coalesce(v.user_id, c.user_id) AS user_id,
               v.event_id AS view_id, c.event_id AS click_id,
               epoch_us(c.ts) - epoch_us(v.ts) AS lag_us
        FROM (SELECT * FROM events WHERE event_type = 'view') v
        FULL JOIN (SELECT * FROM events WHERE event_type = 'click') c
          ON v.user_id = c.user_id
         AND c.ts >= v.ts AND c.ts <= v.ts + INTERVAL 1 HOUR""")),

    Q(
      "st09_interval_join_semi",
      "Left-SEMI event-time interval join (§2.10): views that got AT " +
        "LEAST one click within 1h, each emitted exactly once with no " +
        "click columns — the existence-filter shape ('did this view " +
        "convert?') and the last stream-stream join type Structured " +
        "Streaming supports, completing the family st03 (inner) / " +
        "st06 (left-outer) / st08 (full-outer). Unlike the inner join " +
        "the output never multiplies by match count, so at 100 TB the " +
        "result stays left-sized no matter how click-heavy the hour " +
        "is. The SAME EventStream.intervalJoinLeftSemi runs on " +
        "watermarked streams with bounded state (parity pinned in " +
        "EventStreamSpec). Oracle is the EXISTS form.",
      (s, d) => {
        val e = Tables.events(s, d)
        val v = e.filter(col("event_type") === "view")
          .select(col("user_id"), col("event_id"), col("ts"))
        val c = e.filter(col("event_type") === "click")
          .select(col("user_id"), col("event_id"), col("ts"))
        graft.streaming.EventStream.intervalJoinLeftSemi(v, c, "1 hour")
          .select(col("l.user_id").as("user_id"),
            col("l.event_id").as("view_id"),
            unix_micros(col("l.ts")).as("view_us"))
      },
      Some("""
        SELECT v.user_id, v.event_id AS view_id, epoch_us(v.ts) AS view_us
        FROM (SELECT * FROM events WHERE event_type = 'view') v
        WHERE EXISTS (
          SELECT 1 FROM events c
          WHERE c.event_type = 'click' AND c.user_id = v.user_id
            AND c.ts >= v.ts AND c.ts <= v.ts + INTERVAL 1 HOUR)""")),

    Q(
      "st07_session_window",
      "Gap sessionization through Spark's BUILT-IN merging " +
        "session_window (§2.10) — the declarative twin of w06's " +
        "lag/flag-sum islands and w06b's stateful sessionizer, and the " +
        "form that runs unchanged as a watermarked streaming agg " +
        "(EventStream.sessionWindowAggStreaming; state = open sessions " +
        "only, watermark-evicted). Boundary semantics are identical to " +
        "w06's diff > gap rule (the exact-gap successor MERGES — " +
        "inclusive boundary, empirically pinned on a fixture in " +
        "EventStreamSpec), so the oracle is the same lag/flag-sum " +
        "replay keyed by session start instead of ordinal id.",
      (s, d) => graft.streaming.EventStream.sessionWindowAgg(
        Tables.events(s, d), "30 minutes"),
      Some("""
        WITH o AS (
          SELECT user_id, event_id, value, ts, epoch_ms(ts) AS ms,
                 lag(epoch_ms(ts)) OVER (PARTITION BY user_id
                   ORDER BY ts, event_id) AS prev_ms
          FROM events),
        f AS (SELECT *, CASE WHEN prev_ms IS NULL OR ms - prev_ms > 1800000
                             THEN 1 ELSE 0 END AS new_sess FROM o),
        s AS (SELECT *, sum(new_sess) OVER (PARTITION BY user_id
                ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS sid
              FROM f)
        SELECT user_id,
               strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
               count(*) AS n_events,
               min(event_id) AS first_event_id,
               max(event_id) AS last_event_id,
               round(sum(value), 2) AS session_value
        FROM s GROUP BY user_id, sid""")),

    Q(
      "st05_incremental_upsert",
      "Exactly-once incremental aggregate maintenance (§2.10, " +
        "IncrementalAggregate): the event table replayed as 3 " +
        "micro-batches (event_id % 3) through the SAME foreachBatch " +
        "merge the streaming query runs — per-batch partials union " +
        "into the key-sized running table under an atomic " +
        "data+batch-id rename. Oracle is the one-shot GROUP BY: the " +
        "merged table must equal aggregating all events at once " +
        "regardless of batch boundaries. Crash-replay idempotency and " +
        "checkpoint-restart parity are spec-tested " +
        "(IncrementalAggregateSpec).",
      (s, d) => {
        val e = Tables.events(s, d)
        val dir = replay3("graft_st05_") { (b, dir) =>
          graft.streaming.IncrementalAggregate.applyBatch(
            e.filter(pmod(col("event_id"), lit(3)) === b)
              .select(col("event_type"), col("value")),
            b.toLong, "event_type", "value", dir)
        }
        graft.streaming.IncrementalAggregate.read(s, dir)
          .select(col("event_type"), col("n"),
            round(col("total"), 2).as("total"))
      },
      Some("""
        SELECT event_type, count(*) AS n, round(sum(value), 2) AS total
        FROM events GROUP BY 1""")),

    Q(
      "st11_incremental_join_view",
      "Incremental JOIN-view maintenance (streaming/IncrementalJoin — " +
        "the IVM counterpart of st05's aggregate): view = events LEFT " +
        "JOIN latest(customer-segment dim), maintained through 3 " +
        "micro-batches of fact appends INTERLEAVED with a dim upsert " +
        "wave (custkey%7==0 flips to PROMO in batch 1 — so rows " +
        "joined in batch 0 must be RETROACTIVELY refreshed, the case " +
        "a naive append-only enrich gets wrong). The view is hash-" +
        "bucketed and maintained via dynamic partition overwrite: " +
        "per-batch work is delta-proportional, untouched buckets are " +
        "never read or written (IncrementalJoinSpec pins byte-" +
        "stability, replay idempotency, late-dim healing). Oracle is " +
        "the one-shot join with the final dim state.",
      (s, d) => {
        val cfg = graft.streaming.IncrementalJoin.Config(
          factId = "fid", key = "k", buckets = 8)
        val e = Tables.events(s, d).select(
          col("event_id").as("fid"), col("user_id").as("k"),
          col("value").as("v"))
        val c = Tables.customer(s, d).select(
          col("c_custkey").as("k"), col("c_mktsegment").as("seg"))
        val dims = Seq(
          c,                                                    // batch 0: full dim
          c.filter(pmod(col("k"), lit(7)) === 0)
            .withColumn("seg", lit("PROMO")),                   // batch 1: upsert wave
          c.limit(0))                                           // batch 2: fact-only
        val dir = replay3("graft_st11_") { (b, dir) =>
          graft.streaming.IncrementalJoin.applyBatch(
            e.filter(pmod(col("fid"), lit(3)) === b), dims(b),
            b.toLong, cfg, dir)
        }
        graft.streaming.IncrementalJoin.read(s, dir)
          .select(col("fid"), col("k"), round(col("v"), 2).as("v"), col("seg"))
      },
      Some("""
        SELECT e.event_id AS fid, e.user_id AS k,
               round(e.value, 2) AS v,
               CASE WHEN c.c_custkey % 7 = 0 THEN 'PROMO'
                    ELSE c.c_mktsegment END AS seg
        FROM events e
        LEFT JOIN customer c ON e.user_id = c.c_custkey""")),

    Q(
      "st12_streaming_heavy_hitters",
      "Streaming heavy hitters under the HASH GATE (the sk04 answer " +
        "computed by the foreachBatch state machine instead of the " +
        "batch operator): the documents' bigram stream replayed as 3 " +
        "deterministic micro-batches (doc_id % 3) through " +
        "StreamingHeavyHitters.applyBatch - each batch treeAggregates " +
        "its own 1023-counter Misra-Gries summary and merges it into " +
        "the k-bounded persisted state - then exactOverLake recounts " +
        "the STREAMED candidates against the accumulated token lake " +
        "at threshold N/850. Mergeable-summaries soundness (the " +
        "streamed candidate set dominates the batch operator's) is " +
        "what makes this equal sk04's oracle hash-for-hash regardless " +
        "of batch boundaries; the spec pins the same parity on a " +
        "zipf eviction stream, this row pins it cross-engine.",
      (s, d) => {
        val docs = Tables.documents(s, d)
        // native bigram-string expansion (plans/WordNgrams, r18 — the
        // sk04 swap; same "w1 w2" values)
        val toks = docs
          .select(col("doc_id"), split(col("text"), " ").as("w"))
          .filter(size(col("w")) >= 2)
          .select(col("doc_id"), explode(
            graft.plans.WordNgrams.ofCol(col("w"), 2)).as("tok"))
        val dir = replay3("graft_st12_") { (b, dir) =>
          graft.streaming.StreamingHeavyHitters.applyBatch(
            toks.filter(pmod(col("doc_id"), lit(3)) === b).select(col("tok")),
            "tok", b.toLong, k = 1023, dir)
        }
        graft.streaming.StreamingHeavyHitters.exactOverLake(
          toks.select(col("tok")), "tok", dir, denom = 850.0)
      },
      Some("""
        WITH w AS (SELECT string_split(text, ' ') AS w FROM documents),
        b AS (SELECT w[i] || ' ' || w[i+1] AS tok
              FROM (SELECT w, unnest(range(1, len(w))) AS i FROM w)),
        tot AS (SELECT count(*) AS n FROM b)
        SELECT tok, cnt FROM
          (SELECT tok, count(*) AS cnt FROM b GROUP BY 1), tot
        WHERE cnt >= n / 850.0""")),

    Q(
      "st13_streaming_weighted_sample",
      "Streaming weighted sampling under the HASH GATE (the t26 " +
        "Efraimidis-Spirakis sample computed by the foreachBatch " +
        "top-k-merge state machine): documents replayed as 3 " +
        "deterministic micro-batches (doc_id % 3) through " +
        "StreamingWeightedSample.applyBatch - each batch's " +
        "TakeOrderedAndProject top-20 merges with the persisted " +
        "<=20-row state - and the final state must be BIT-IDENTICAL " +
        "to the one-shot batch sampler (top-k is exactly mergeable " +
        "and t26's md5-derived keys are deterministic), so the t26 " +
        "oracle gates it regardless of batch boundaries.",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val keyed = docs.select(col("doc_id").as("id"), col("n_chars"),
            (conv(substring(md5(col("doc_id").cast("string")), 1, 12), 16, 10)
              .cast("long") + 1L).as("v"))
          .select(col("id"), col("n_chars"),
            round(log(col("v").cast("double") / lit(281474976710657.0))
              / col("n_chars"), 12).as("key"))
        val dir = replay3("graft_st13_") { (b, dir) =>
          graft.streaming.StreamingWeightedSample.applyBatch(
            keyed.filter(pmod(col("id"), lit(3)) === b),
            k = 20, b.toLong, dir)
        }
        graft.streaming.StreamingWeightedSample.read(s, dir)
          .select(col("id").as("doc_id"), col("n_chars"), col("key"))
      },
      Some("""
        WITH k AS (
          SELECT doc_id, n_chars,
                 round(ln(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 12))::UBIGINT + 1 AS DOUBLE)
                    / 281474976710657.0) / n_chars, 12) AS key
          FROM documents)
        SELECT doc_id, n_chars, key
        FROM k ORDER BY key DESC, doc_id ASC LIMIT 20""")),

    Q(
      "st14_incremental_dedup",
      "Incremental exact dedup against HISTORY (streaming/" +
        "IncrementalDedup - the continuously-ingesting form of d01): " +
        "documents replayed as 3 deterministic micro-batches " +
        "(doc_id % 3), each deduplicated within itself (first-wins by " +
        "doc_id, the d01 min-id convention) AND against every " +
        "normalized-content hash seen in earlier batches via a " +
        "hash-keyed anti-join; only genuinely new documents emit, and " +
        "each batch appends only its own new hashes (history is never " +
        "rewritten - per-batch I/O is delta-sized). The final emitted " +
        "corpus must equal first-seen-wins dedup over the whole " +
        "stream: per hash, the min doc_id of the EARLIEST batch " +
        "containing it - which the oracle replays as one ranked " +
        "window over (batch, doc_id). Here the seen lake is plain " +
        "parquet (both join sides shuffle 8-byte hashes); the 100-TB " +
        "layout writes it bucketed by hash so the history side reads " +
        "pre-shuffled - the exact layout BucketingSpec pins for the " +
        "t28b semi-join.",
      (s, d) => {
        // the test corpus has no exact dups, so plant them the st02
        // way: every 10th doc is re-delivered under a new id (+100000
        // = +1 mod 3, so the copy always lands in a DIFFERENT batch
        // than its original - including copies arriving EARLIER in
        // batch order, which must then win first-seen)
        val docs = Tables.documents(s, d)
        val stream = docs.select(col("doc_id"), col("text"))
          .unionByName(docs.filter(col("doc_id") % 10 === 0)
            .select((col("doc_id") + 100000L).as("doc_id"), col("text")))
        val hashed = stream.select(col("doc_id"),
          md5(trim(regexp_replace(lower(col("text")), "\\s+", " "))).as("h"))
        val dir = replay3("graft_st14_") { (b, dir) =>
          graft.streaming.IncrementalDedup.applyBatch(
            hashed.filter(pmod(col("doc_id"), lit(3)) === b),
            "doc_id", "h", b.toLong, dir)
        }
        graft.streaming.IncrementalDedup.readEmitted(s, dir)
          .select(col("doc_id"), col("h"))
      },
      Some("""
        WITH stream AS (
          SELECT doc_id, text FROM documents
          UNION ALL
          SELECT doc_id + 100000, text FROM documents WHERE doc_id % 10 = 0),
        n AS (
          SELECT doc_id,
                 md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS h,
                 doc_id % 3 AS b
          FROM stream),
        r AS (
          SELECT doc_id, h,
                 row_number() OVER (PARTITION BY h ORDER BY b, doc_id) AS rn
          FROM n)
        SELECT doc_id, h FROM r WHERE rn = 1""")),

    Q(
      "st15_streaming_vector_index",
      "Streaming IVF index maintenance (streaming/StreamingVectorIndex " +
        "- the serving-side continuation of v09's geometric IVF): the " +
        "coarse quantizer is FIXED (v05d's converged KMeans centroids, " +
        "k=8/tol=0.12 - trained offline), and the corpus arrives as 3 " +
        "deterministic micro-batches (vec_id % 3), each assigned to " +
        "its nearest-centroid cell MAP-SIDE (the v09 centroid-literal " +
        "argmax, zero shuffle) and appended to a cell-partitioned lake " +
        "under an atomic-pointer marker (append-only; per-batch I/O is " +
        "delta-sized, redelivery is a no-op). Assignment is a pure " +
        "per-row function of the fixed centroids, so the final index " +
        "is independent of batch boundaries - the oracle replays the " +
        "whole 2-Lloyd-iteration build (KmeansSql.UpToCent2) plus an " +
        "ALL-AT-ONCE assignment, and the hash matches only if the " +
        "streamed index equals the batch-built one vector for vector.",
      (s, d) => {
        val e = Tables.embeddings(s, d)
        val cent = TrainedIndex.centroids(s, d, k = 8)
        val dir = replay3("graft_st15_") { (b, dir) =>
          graft.streaming.StreamingVectorIndex.applyBatch(
            e.filter(pmod(col("vec_id"), lit(3)) === b)
              .select(col("vec_id"), col("embedding")),
            cent, "vec_id", "embedding", b.toLong, dir)
        }
        graft.streaming.StreamingVectorIndex.readIndex(s, dir)
          .select(col("vec_id"), col("cell").cast("long").as("cell"))
      },
      Some(s"""
        WITH ${KmeansSql.UpToCent2},
        d3g AS (SELECT l.vec_id, c2.cluster, sum(l.v * c2.cv) AS dot
                FROM long l JOIN cent2 c2 USING (pos) GROUP BY 1, 2)
        SELECT vec_id, cluster AS cell FROM (
          SELECT vec_id, cluster,
                 row_number() OVER (PARTITION BY vec_id
                   ORDER BY dot DESC, cluster ASC) AS rn
          FROM d3g) WHERE rn = 1""")),

    Q(
      "st16_streaming_decontamination",
      "Incremental benchmark decontamination (streaming/" +
        "StreamingDecontamination - t28's GPT-3/PaLM 8-gram scan in " +
        "the shape a continuously-ingesting crawl needs: static " +
        "benchmark-sized eval side, streaming train side): the train " +
        "docs replayed as 3 deterministic micro-batches (doc_id % 3), " +
        "each semi-joining the static eval grams against the BATCH " +
        "DELTA only and appending the newly-found (eval doc, gram) " +
        "hits - history-sized train data is never rescanned, and the " +
        "state is bounded by |eval grams| forever, not by train " +
        "volume. Contamination is MONOTONE (append-only train can " +
        "only add hits), so the union of disjoint per-batch deltas " +
        "equals the one-shot semi-join regardless of batch boundaries " +
        "- which is exactly what the gate checks: the streamed " +
        "state's per-eval-doc report must hash-match t28's batch " +
        "oracle (same shared gram/split recipe, " +
        "TextOps.contaminationGrams - one copy).",
      (s, d) => {
        val grams = TextOps.contaminationGrams(s, d)
        val evalG = grams.filter(col("is_eval")).select(col("doc_id"), col("g"))
        val train = grams.filter(!col("is_eval"))
        val dir = replay3("graft_st16_") { (b, dir) =>
          graft.streaming.StreamingDecontamination.applyBatch(
            train.filter(pmod(col("doc_id"), lit(3)) === b).select(col("g")),
            evalG, "g", b.toLong, dir)
        }
        graft.streaming.StreamingDecontamination.report(
          s, dir, evalG, "g")
      },
      Some(TextOps.DecontaminationSql)),

    Q(
      "st17_streaming_pq_probe",
      "IVFADC+R served from the STREAMED code-bearing index (st15 x " +
        "v12 x v13): the corpus arrives as 3 deterministic micro-" +
        "batches, each row map-side assigned to its geometric cell " +
        "AND encoded to its m=8 PQ codes at ingest (codebook " +
        "literals ride the task - applyBatch(codebook=Some), zero " +
        "shuffle), the per-batch dirs are then folded by the " +
        "incremental per-cell compaction, and the probe serves the " +
        "full v13 tier stack off the lake: route nprobe=2 cells " +
        "(partition-pruned `cell=` scan), ADC top-25 shortlist read " +
        "from the STORED code columns only (column pruning keeps the " +
        "wide vector column unread), exact-cosine re-rank of the 25 " +
        "shortlisted vectors in a second pruned scan. Cell and codes " +
        "are pure per-row functions of the fixed centroid/codebook " +
        "literals, so the streamed index is batch-boundary " +
        "independent and the served top-3 must hash-match the " +
        "oracle's ALL-AT-ONCE replay (KMeans chain + p-prefixed PQ " +
        "chain + in-cell ADC + re-rank - v13's configuration, one " +
        "copy). " +
        "This is the 100-TB serving lake in miniature: hot index " +
        "stores 32-bit codes next to the vectors, probes touch " +
        "vector bytes only for shortlisted rows, compaction never " +
        "re-encodes.",
      (s, d) => {
        val e = Tables.embeddings(s, d)
        val cent = TrainedIndex.centroids(s, d, k = 8)
        val cb = TrainedIndex.codebook(s, d)
        val dir = replay3("graft_st17_") { (b, dir) =>
          graft.streaming.StreamingVectorIndex.applyBatch(
            e.filter(pmod(col("vec_id"), lit(3)) === b)
              .select(col("vec_id"), col("embedding")),
            cent, "vec_id", "embedding", b.toLong, dir, Some(cb))
        }
        graft.streaming.StreamingVectorIndex.compact(s, dir)
        VectorOps.IvfAdcR.copy(corpus = Retrieve.Lake(dir))
          .serve(s, d).select(col("qid").as("query_id"), col("rank"),
            col("cid").as("neighbor_id"))
      },
      Some(VectorOps.serveSql(VectorOps.IvfAdcR,
        "qid AS query_id, rank, cid AS neighbor_id",
        KmeansSql.UpToCent2, VectorOps.PqChainSql))),

    Q(
      "st18_streaming_knn_graph",
      "Streaming kNN-GRAPH maintenance (streaming/StreamingKnnGraph " +
        "- the stored graph v14 builds in batch and v17 serves " +
        "from, kept current as vectors arrive): 3 deterministic " +
        "micro-batches land in the st15 vector lake, and each batch " +
        "updates the edge lists of its AFFECTED CELLS ONLY - form " +
        "just the pairs that involve a new vector (old x old was " +
        "scored when its younger side arrived), merge them against " +
        "the affected nodes' STORED top-3 lists, re-cut through the " +
        "TopKPerKey heap, and append a per-cell edge root under the " +
        "atomic-pointer marker (per-cell latest-root read " +
        "semantics; untouched cells are neither scanned nor " +
        "rewritten). The merge is EXACT because per-node top-k is a " +
        "merge monoid under the (cos DESC, neighbor ASC) total " +
        "order: topk(A u B) = topk(topk(A) u B) - so the streamed " +
        "graph equals the from-scratch rebuild independent of batch " +
        "boundaries, and the gate hash-checks exactly that: the " +
        "oracle IS v14's all-at-once batch replay, verbatim. " +
        "Per-batch pair volume is |new_c| x |cell_c| over the " +
        "batch's cells - v14's sum(cell^2)/k economics paid once " +
        "per vector lifetime instead of once per rebuild, which at " +
        "100 TB is the difference between maintaining the graph and " +
        "re-deriving it nightly.",
      (s, d) => {
        val e = Tables.embeddings(s, d)
        val cent = TrainedIndex.centroids(s, d, k = 8)
        val dir = replay3("graft_st18_") { (b, dir) =>
          graft.streaming.StreamingKnnGraph.applyBatch(
            e.filter(pmod(col("vec_id"), lit(3)) === b)
              .select(col("vec_id"), col("embedding")),
            cent, "vec_id", "embedding", k = 3, b.toLong, dir)
        }
        // fold the per-batch roots through the pure-file OPTIMIZE
        // pass (per-cell newest root wins; set-preserving, so the
        // oracle is unchanged) — the gate serves off the compacted
        // root exactly as production would
        graft.streaming.StreamingKnnGraph.compact(dir)
        val g = graft.streaming.StreamingKnnGraph
          .readGraph(s, dir).get
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("a_id"))
          .orderBy(col("cos").desc, col("b_id").asc)
        g.withColumn("rank", row_number().over(w)) // over <=3n rows
          .select(col("a_id").as("vec_id"), col("rank"),
            col("b_id").as("neighbor_id"),
            round(col("cos"), 4).as("cosine"))
      },
      Some(s"""
        WITH ${KmeansSql.UpToCent2},
        ${VectorOps.geoCellsSql(nprobe = 1)},
        cc AS (SELECT vec_id AS cid, embedding::DOUBLE[] AS ce,
                      sqrt(list_dot_product(embedding::DOUBLE[],
                                            embedding::DOUBLE[])) AS nrm
               FROM embeddings),
        sc AS (SELECT x.g_cid AS a_id, y.g_cid AS b_id,
                      list_dot_product(ca.ce, cb.ce)
                      / (ca.nrm * cb.nrm) AS cos
               FROM a3 x JOIN a3 y ON x.cell = y.cell AND x.g_cid <> y.g_cid
               JOIN cc ca ON ca.cid = x.g_cid
               JOIN cc cb ON cb.cid = y.g_cid)
        SELECT a_id AS vec_id, CAST(rn AS INT) AS rank,
               b_id AS neighbor_id, round(cos, 4) AS cosine
        FROM (SELECT *, row_number() OVER (PARTITION BY a_id
                ORDER BY cos DESC, b_id ASC) rn FROM sc)
        WHERE rn <= 3""")),

    Q(
      "st18b_streaming_knn_graph_scaled",
      "st18 at the sqrt(n)-scaled cell count (kCells=25 - VERDICT " +
        "r12 #2's st18 arm, completing the v14b/v16b/v17b " +
        "convention): per-batch pair volume is |new_c| x |cell_c| " +
        "over the batch's cells, so a FIXED cell count makes the " +
        "per-batch work grow linearly with cell size as the corpus " +
        "grows (BENCH_SCALE measured 26x at 10x for k=8) while " +
        "k~sqrt(n) holds cell occupancy - and therefore per-vector " +
        "maintenance cost - flat. Same streaming kernel " +
        "(StreamingKnnGraph, 3 batches + compact), same " +
        "TrainedIndex centroid artifact at its own k; the oracle " +
        "replays v14b's all-at-once batch build at k=25 verbatim, " +
        "so the hash pins that the merge-monoid equality holds on " +
        "the scaled geometry too.",
      (s, d) => {
        val e = Tables.embeddings(s, d)
        val cent = TrainedIndex.centroids(s, d, k = 25)
        val dir = replay3("graft_st18b_") { (b, dir) =>
          graft.streaming.StreamingKnnGraph.applyBatch(
            e.filter(pmod(col("vec_id"), lit(3)) === b)
              .select(col("vec_id"), col("embedding")),
            cent, "vec_id", "embedding", k = 3, b.toLong, dir)
        }
        graft.streaming.StreamingKnnGraph.compact(dir)
        val g = graft.streaming.StreamingKnnGraph
          .readGraph(s, dir).get
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("a_id"))
          .orderBy(col("cos").desc, col("b_id").asc)
        g.withColumn("rank", row_number().over(w)) // over <=3n rows
          .select(col("a_id").as("vec_id"), col("rank"),
            col("b_id").as("neighbor_id"),
            round(col("cos"), 4).as("cosine"))
      },
      Some(s"""
        WITH ${KmeansSql.upToCent2(25)},
        ${VectorOps.geoCellsSql(nprobe = 1)},
        cc AS (SELECT vec_id AS cid, embedding::DOUBLE[] AS ce,
                      sqrt(list_dot_product(embedding::DOUBLE[],
                                            embedding::DOUBLE[])) AS nrm
               FROM embeddings),
        sc AS (SELECT x.g_cid AS a_id, y.g_cid AS b_id,
                      list_dot_product(ca.ce, cb.ce)
                      / (ca.nrm * cb.nrm) AS cos
               FROM a3 x JOIN a3 y ON x.cell = y.cell AND x.g_cid <> y.g_cid
               JOIN cc ca ON ca.cid = x.g_cid
               JOIN cc cb ON cb.cid = y.g_cid)
        SELECT a_id AS vec_id, CAST(rn AS INT) AS rank,
               b_id AS neighbor_id, round(cos, 4) AS cosine
        FROM (SELECT *, row_number() OVER (PARTITION BY a_id
                ORDER BY cos DESC, b_id ASC) rn FROM sc)
        WHERE rn <= 3""")),

    // st19_maintained_ann_serving (the kCells=8 maintain->serve gate,
    // VERDICT r12 #3) was DEMOTED to spec-level parity in r15 per
    // VERDICT r14 #2 (the t04/t04b precedent): st18/st18b gate the
    // fixed-vs-sqrt(n) maintenance contrast, st19b gates the full
    // composition at the production geometry, st19c the production
    // serve pattern — a second full maintenance replay per bench pass
    // (~14 s, ~12% of the suite) gated nothing those three don't.
    // GraphAnnSpec's "maintained serve equals the batch build" test
    // keeps the kCells=8 composition pinned engine-vs-engine.

    Q(
      "st19b_maintained_ann_serving_scaled",
      "st19's maintain->serve pipeline at the PRODUCTION geometry " +
        "(VERDICT r13 #1 - the round's one weak mark): st19 hashes " +
        "the end-to-end contract at kCells=8, whose fixed-cell " +
        "maintenance stream BENCH_SCALE measured at ~98% of the " +
        "10x cost (196.7 s, ratio 15x); st18b gated the sqrt(n)-" +
        "scaled maintenance arm (kCells=25; 3.7x cheaper at 10x) " +
        "but only at degree k=3, leaving the COMPOSITION - scaled " +
        "maintenance feeding the ADC walk at the serving degree - " +
        "as the one production configuration without a hash gate. " +
        "This gate closes it: the corpus streams through " +
        "StreamingKnnGraph in 3 micro-batches at (kCells=25, " +
        "k=16), roots fold through the pure-file OPTIMIZE pass, " +
        "hub escapes + entry medoids derive from the maintained " +
        "lake via the shared hubAndMedoidsFrom kernel on the k=25 " +
        "centroid artifact, and the DiskANN-style ADC walk serves " +
        "off the maintained edges with codes from the persisted " +
        "artifact store (the PQ tier is cell-count-independent, so " +
        "the SAME code artifact serves both geometries). Oracle: " +
        "the v19 from-scratch replay on the k=25 chain " +
        "(KmeansSql.upToCent2(25) - v17b's scaled kmeans, st18b's " +
        "scaled cells, st19's hub/PQ/beam/re-rank CTEs verbatim), " +
        "so the hash matches only if the streamed lists equal the " +
        "batch build edge for edge at the serving degree ON THE " +
        "SCALED GEOMETRY and the integer beam walk over them is " +
        "bit-deterministic. At 100 TB this is the configuration " +
        "that actually runs: k~sqrt(n) holds per-cell occupancy - " +
        "and therefore per-vector maintenance cost - flat while " +
        "the walk stays corpus-size-independent.",
      (s, d) => {
        val (edges, f0) = maintainedServe(s,
          buildMaintainedStore(s, d, kCells = 25, "graft_st19b_"))
        VectorOps.walkRecall(s, d, (edges, f0),
          Walk(Walk.Adc(TrainedIndex.codes(s, d)), beam = 16, maxHops = 3))
      },
      Some(s"""
        WITH ${KmeansSql.upToCent2(25)},
        ${VectorOps.retrieveSql(VectorOps.Truth, "truth")},
        ${VectorOps.geoCellsSql(nprobe = 2)},
        ${VectorOps.hubGraphSql(degree = 16)},
        ${VectorOps.PqChainSql},
        ${VectorOps.adcAllSql},
        ${VectorOps.walkSql(adc = true, beam = 16, maxHops = 3)},
        ${VectorOps.RecallTailSql}""")),

    Q(
      "st19c_maintained_refined_serving",
      "The refined tier ON THE MAINTAINED LAKE (the last serving " +
        "configuration whose pieces were gated separately but whose " +
        "composition was not): st19b hashes maintain->serve for the " +
        "plain ADC walk at the production geometry, v21/v21b hash " +
        "the refined union + code-ranked shortlist off the BATCH-" +
        "built artifact graph — this gate serves the refined tier " +
        "off the STREAM-maintained graph: the walk's final frontier " +
        "over the maintained edges unions the query's 8 nearest " +
        "cells' members, the union ranks on INTEGER ADC scores from " +
        "the persisted codes, and the corpus-coupled shortlist " +
        "(v21b's 20%-of-union rule, computed from the data on both " +
        "sides) is re-ranked exactly — via the SAME Walk serve " +
        "kernel as v21/v21b, so the three refined gates cannot " +
        "desynchronize. The maintenance stream itself is st19b's " +
        "hashed subject, so this gate reads the maintained state " +
        "from a per-JVM memo (first demand streams the 3 batches " +
        "and compacts; every later pass is the serve alone — the " +
        "production read pattern, where a serving query never " +
        "re-runs maintenance). Hash-matching the from-scratch " +
        "oracle replay proves the composition end to end: streamed " +
        "lists = batch lists edge for edge AND the refined walk " +
        "over them is bit-deterministic. At 100 TB this is the " +
        "full operating loop in one contract: sqrt(n)-scaled cells " +
        "keep maintenance flat, the walk stays O(1) per query, and " +
        "the refined union buys recall above the walk plateau at " +
        "O(sqrt n) code reads + O(sqrt n) vector reads per query.",
      (s, d) => {
        val (edges, f0) = maintainedServe(s,
          maintainedStore(s, d, kCells = 25))
        val n = Tables.embeddings(s, d).count()
        VectorOps.walkRecall(s, d, (edges, f0),
          Walk(Walk.Adc(TrainedIndex.codes(s, d)), beam = 16, maxHops = 3,
            Walk.Refined(kCells = 25, refine = 8,
              shortlist = VectorOps.scaledShortlist(n, refine = 8,
                kCells = 25))))
      },
      Some(s"""
        WITH ${KmeansSql.upToCent2(25)},
        ${VectorOps.retrieveSql(VectorOps.Truth, "truth")},
        ${VectorOps.geoCellsSql(nprobe = 2)},
        ${VectorOps.hubGraphSql(degree = 16)},
        ${VectorOps.PqChainSql},
        ${VectorOps.adcAllSql},
        ${VectorOps.walkSql(adc = true, beam = 16, maxHops = 3,
          refine = Some((8, VectorOps.scaledShortlistSql(refine = 8,
            kCells = 25))))},
        ${VectorOps.RecallTailSql}""")),

    Q(
      "st19d_maintained_vamana_serving",
      "The MAINTAINED graph tier alpha-pruned (VERDICT r15 #3): " +
        "st19b/st19c keep the stream-maintained hub-kNN lists, whose " +
        "walk-only recall reads 8/60 at 10x while the batch " +
        "alpha-pruned walk reads 40/60 (RECALL_r15) — the maintained " +
        "tier leaned on the refined union for all of its recall. " +
        "This gate runs the Vamana OPTIMIZE pass at compaction " +
        "cadence: the corpus streams through StreamingKnnGraph's " +
        "lake in 3 micro-batches (the st19c memo — maintenance " +
        "replay is st19b's hashed subject, not re-paid here), and " +
        "the serve-graph rebuild applies buildVamanaGraph's ONE " +
        "kernel (vamanaGraphFrom: 2-nearest-cell pools capped at " +
        "64, one-shot RobustPrune occlusion, keepPruned fill to " +
        "degree 16) over the maintained LAKE instead of the raw " +
        "table, persists (edges, f0) through the versioned store, " +
        "and serves v22's converged exact walk (beam 64, " +
        "data-derived stop, cap WalkMaxHops; the oracle unrolls to " +
        "the cap, which the fixed point makes the same beam). The " +
        "one-shot occlusion is ORDER-INDEPENDENT — a pure function " +
        "of the pool, unlike the paper's sequential sieve — so the optimize pass off the " +
        "lake equals the batch build bit for bit, which is exactly " +
        "what hashing against v22's batch oracle proves (streamed " +
        "lake = corpus AND prune determinism). Economics at 100 TB: " +
        "maintenance stays delta-proportional (st18b's subject), the " +
        "prune is paid once per compaction — the DiskANN operating " +
        "pattern; per-batch incremental pruning (FreshDiskANN, " +
        "Singh et al. 2021) is the documented escalation if " +
        "compaction cadence ever dominates, at the cost of " +
        "order-dependent graphs that can no longer hash against the " +
        "batch oracle.",
      (s, d) => {
        val (edges, f0) = maintainedServe(s,
          maintainedVamanaStore(s, d, kCells = 25))
        VectorOps.walkRecall(s, d, (edges, f0), Walk(Walk.Exact, beam = 64))
      },
      Some(s"""
        WITH ${KmeansSql.upToCent2(25)},
        ${VectorOps.retrieveSql(VectorOps.Truth, "truth")},
        ${VectorOps.geoCellsSql(nprobe = 16)},
        ${VectorOps.vamanaGraphSql(degree = 16)},
        ${VectorOps.walkSql(adc = false, beam = 64)},
        ${VectorOps.RecallTailSql}"""))
  )

  /** st19b/st19c's maintained graph build (st19 itself was demoted
    * to GraphAnnSpec parity in r15 — the spec calls this builder
    * directly at kCells=8): the corpus streamed
    * through StreamingKnnGraph in 3 deterministic micro-batches at
    * (kCells, degree k=16), compacted via the pure-file OPTIMIZE
    * pass, hub escapes + entry medoids derived from the maintained
    * LAKE through the ONE shared kernel (VectorOps.hubAndMedoidsFrom
    * — sourced from stream state instead of the raw table, so the
    * medoid tie-break can never diverge from the batch build's). The
    * derived serving frames (maintained ∪ hub edges, entry f0) are
    * then PERSISTED through the versioned IndexArtifacts store next
    * to the lake — the TrainedIndex convention: frame-valued state
    * memoizes its STORE DIR, not a session-bound DataFrame, so hop
    * joins read real parquet blocks (the stored-edge-table invariant
    * v17/v19 get from their artifacts) and a serve never depends on
    * checkpoint blocks that die with the session. Edges are
    * src-sorted at write so the hop walks' pushed id predicates
    * prune row groups. `prefix` names the temp root per call site —
    * st19b builds per pass (the maintenance replay is its hashed
    * subject), the memo builds once; the GraphAnnSpec memo probe
    * watches the memo's build counter.
    * @return the serve-frame store dir. */
  private[graft] def buildMaintainedStore(
      s: org.apache.spark.sql.SparkSession,
      d: String, kCells: Int, prefix: String): String = {
    val e = Tables.embeddings(s, d)
    val cent = TrainedIndex.centroids(s, d, k = kCells)
    val dir = replay3(prefix) { (b, dir) =>
      graft.streaming.StreamingKnnGraph.applyBatch(
        e.filter(pmod(col("vec_id"), lit(3)) === b)
          .select(col("vec_id"), col("embedding")),
        cent, "vec_id", "embedding", k = 16, b.toLong, dir)
    }
    graft.streaming.StreamingKnnGraph.compact(dir)
    // cell-local lists: the maintained stream state, read whole
    val maintained = graft.streaming.StreamingKnnGraph
      .readGraph(s, dir).get
      .select(col("a_id").as("src"), col("b_id").as("dst"))
    val lake = graft.streaming.StreamingVectorIndex
      .readIndex(s, s"$dir/index")
      .select(col("vec_id"), col("embedding"))
    val (hub, medoids) = VectorOps.hubAndMedoidsFrom(lake, cent)
    val edges = maintained.union(hub).distinct()
    val store = s"$dir/serve"
    graft.sources.IndexArtifacts.saveFrames(s, store, Seq(
      "edges" -> edges.sort(col("src")),
      "f0" -> VectorOps.graphEntries(s, d, cent, medoids)), keep = 2)
    store
  }

  /** The serving (edges, f0) pair read back from a maintained store —
    * every call is a parquet scan of the persisted frames. */
  private[graft] def maintainedServe(s: org.apache.spark.sql.SparkSession,
      store: String): (org.apache.spark.sql.DataFrame,
        org.apache.spark.sql.DataFrame) =
    (graft.sources.IndexArtifacts.loadFrame(s, store, "edges"),
      graft.sources.IndexArtifacts.loadFrame(s, store, "f0"))

  /** The per-JVM memo of the maintained store DIR, keyed by (sf dir,
    * kCells). st19b deliberately re-streams per pass (the
    * maintenance replay IS their hashed subject and the bench's
    * measured term); st19c's subject is the refined serve off
    * maintained state, so it reads the memo — the production read
    * pattern. Filled under a lock (the TrainedIndex discipline):
    * TrieMap.getOrElseUpdate may evaluate the thunk more than once
    * under a concurrent miss, and two maintenance streams racing on
    * the build would pay the cost twice. */
  private val maintainedCache = scala.collection.concurrent.TrieMap
    .empty[(String, Int), String]
  private val maintainedFill = new Object

  /** Count of memo-path maintenance builds in this JVM — the probe
    * GraphAnnSpec's memo test watches (ADVICE r14: the test used to
    * snapshot the process-SHARED java.io.tmpdir by prefix, which a
    * concurrent test JVM could race; the counter is private to this
    * JVM by construction). Incremented only inside the memo's fill
    * thunk, so "a second serve does not increment it" is exactly
    * "the memo held". */
  private[graft] val maintainedBuilds =
    new java.util.concurrent.atomic.AtomicLong(0L)
  private def maintainedStore(s: org.apache.spark.sql.SparkSession,
      d: String, kCells: Int): String = {
    // key computed ONCE per lookup (the TrainedIndex keyOf discipline,
    // ADVICE r14): a regen landing between two evaluations could
    // insert under a different key than was checked
    val key = memoKey(d, kCells)
    maintainedCache.getOrElse(key, maintainedFill.synchronized {
      maintainedCache.getOrElseUpdate(key, {
        maintainedBuilds.incrementAndGet()
        buildMaintainedStore(s, d, kCells, "graft_st19m_")
      })
    })
  }

  /** Memo key carries the embeddings content stamp (the TrainedIndex
    * keyOf discipline — memoized via Tables.stampedKey, invalidated by
    * in-process rewriters) so a fixture regen that announces itself
    * re-streams instead of serving a stale maintained graph. */
  private def memoKey(d: String, kCells: Int): (String, Int) =
    (graft.sources.Tables.stampedKey(d), kCells)

  /** st19d's serve store: the Vamana OPTIMIZE pass over the memoized
    * maintained lake — vamanaGraphFrom (the ONE batch kernel) applied
    * to the stream state at compaction cadence, persisted through the
    * versioned store next to st19c's hub serve frames. Filled once
    * per JVM under the same lock; the maintenance stream itself comes
    * from the st19c memo, so a serve never re-pays it. */
  private val maintainedVamanaCache = scala.collection.concurrent.TrieMap
    .empty[(String, Int), String]
  private def maintainedVamanaStore(s: org.apache.spark.sql.SparkSession,
      d: String, kCells: Int): String = {
    val key = memoKey(d, kCells)
    maintainedVamanaCache.getOrElse(key, maintainedFill.synchronized {
      maintainedVamanaCache.getOrElseUpdate(key, {
        // reentrant on maintainedFill — the lake memo fills first
        val root = maintainedStore(s, d, kCells).stripSuffix("/serve")
        val cent = TrainedIndex.centroids(s, d, k = kCells)
        val lake = graft.streaming.StreamingVectorIndex
          .readIndex(s, s"$root/index")
          .select(col("vec_id"), col("embedding"))
        val (edges, medoids) =
          VectorOps.vamanaGraphFrom(s, lake, cent, degree = 16)
        val store = s"$root/serve_vamana"
        graft.sources.IndexArtifacts.saveFrames(s, store, Seq(
          "edges" -> edges.sort(col("src")),
          "f0" -> VectorOps.graphEntries(s, d, cent, medoids,
            entries = 16)), keep = 2)
        store
      })
    })
  }
}
