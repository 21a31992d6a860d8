package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.sources.Tables

/** Relational operator surface: joins, aggregations, set ops, scalar
  * functions — the generic analogs of SURVEY.md §2.2–§2.4, §2.6–§2.8,
  * expressed over the driver test tables with DuckDB oracles.
  *
  * Scale notes apply to every query here: groupBy/join run as shuffle
  * hash-agg / broadcast-hash-join; small dims (region/nation/supplier)
  * are explicitly `broadcast()` so the plan has no shuffle on the big
  * fact side beyond the final aggregation.
  */
object Relational {

  /** The co-purchase graph the gr* family shares (ONE copy — the
    * v02b/v02c factoring lesson): undirected edges between parts that
    * co-occur in >= 2 orders. Pair generation WITHOUT a self-join: one
    * shuffle on the order key collects each order's (bounded, ~7-item)
    * part set, then a native codegen'd pair expansion
    * (plans/ArrayPairs.allPairs, r18 — the composed
    * flatten(transform(transform(slice))) comprehension was
    * CodegenFallback, paying per-element lambda dispatch on every
    * order; ArrayPairsSpec pins element-for-element parity) emits the
    * sorted combinations — the self-join form shuffles the lineitem
    * table twice and rehashes per pair; this ships each order's set
    * once. */
  private[graft] def coPurchaseEdges(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame = {
    val li = Tables.lineitem(s, d)
      .select(col("l_orderkey").as("o"), col("l_partkey").as("p"))
    // keyed scan spread (r18, guide §2.3/§2.4): the per-order set
    // build collapses nothing (every order is distinct), so the
    // groupBy's map-side partial ran the whole 600k-row hash build
    // inside the fixture's single-split scan task for zero combine
    // benefit. Partitioning the compact (o, p) rows on the grouping
    // key first is the SAME exchange the groupBy needed anyway —
    // the set build, pair expansion and pair count all run parallel
    // behind it, at any scale.
    Tables.spreadBy(li, col("o")).groupBy(col("o"))
      .agg(array_sort(collect_set(col("p"))).as("ps"))
      .select(col("o"),
        explode(graft.plans.ArrayPairs.allPairs(col("ps"), "pa", "pb"))
        .as("pr"))
      .select(col("o"), col("pr.pa").as("pa"), col("pr.pb").as("pb"))
      .groupBy(col("pa"), col("pb"))
      .agg(count(lit(1)).as("no"))
      .filter(col("no") >= 2)
      .select(col("pa"), col("pb"))
  }

  /** Oracle CTEs (pairs, e) replaying the same graph; count(*) in the
    * engine equals count(DISTINCT o) here because collect_set already
    * dedups parts within an order. */
  private val CoPurchaseSql = """pairs AS (
          SELECT l1.l_orderkey AS o, l1.l_partkey AS pa, l2.l_partkey AS pb
          FROM lineitem l1 JOIN lineitem l2
            ON l1.l_orderkey = l2.l_orderkey AND l1.l_partkey < l2.l_partkey),
        e AS (SELECT pa AS u, pb AS v FROM pairs GROUP BY 1, 2
              HAVING count(DISTINCT o) >= 2)"""

  /** Dialect-neutral validation corpus SQL — executed verbatim by BOTH
    * spark.sql (the engine's ad-hoc surface) and the DuckDB oracle. */
  val ValidationSql: String = """
    SELECT tbl, grp, n FROM (
      SELECT 'orders' AS tbl, o_orderstatus AS grp, count(*) AS n
      FROM orders GROUP BY o_orderstatus
      UNION ALL
      SELECT 'lineitem' AS tbl, l_returnflag AS grp, count(*) AS n
      FROM lineitem GROUP BY l_returnflag
      UNION ALL
      SELECT 'customer' AS tbl, c_mktsegment AS grp, count(*) AS n
      FROM customer GROUP BY c_mktsegment) v"""

  /** Data-completeness audit (scripts/sql/data_completeness_audit.sql:7-50
    * Q1-Q3 shape): per-table record counts, duplicate-PK counts, null-FK
    * counts, and FK coverage pct vs the referenced table. Coverage ratios
    * stay un-rounded doubles — IEEE division is bit-identical cross-engine,
    * while round() can split on exact decimal halves. */
  val CompletenessSql: String = """
    SELECT tbl, records, distinct_pk, dup_pk, null_fk, fk_coverage_pct FROM (
      SELECT 'customer' AS tbl, count(*) AS records,
             count(DISTINCT c_custkey) AS distinct_pk,
             count(*) - count(DISTINCT c_custkey) AS dup_pk,
             count(*) - count(c_nationkey) AS null_fk,
             CAST(count(DISTINCT c_nationkey) AS DOUBLE) / (SELECT count(*) FROM nation) * 100 AS fk_coverage_pct
      FROM customer
      UNION ALL
      SELECT 'lineitem', count(*),
             count(DISTINCT CAST(l_orderkey AS STRING) || '#' || CAST(l_linenumber AS STRING)),
             count(*) - count(DISTINCT CAST(l_orderkey AS STRING) || '#' || CAST(l_linenumber AS STRING)),
             count(*) - count(l_partkey),
             CAST(count(DISTINCT l_orderkey) AS DOUBLE) / (SELECT count(*) FROM orders) * 100
      FROM lineitem
      UNION ALL
      SELECT 'orders', count(*), count(DISTINCT o_orderkey),
             count(*) - count(DISTINCT o_orderkey),
             count(*) - count(o_custkey),
             CAST(count(DISTINCT o_custkey) AS DOUBLE) / (SELECT count(*) FROM customer) * 100
      FROM orders
      UNION ALL
      SELECT 'part', count(*), count(DISTINCT p_partkey),
             count(*) - count(DISTINCT p_partkey),
             count(*) - count(p_brand),
             CAST(count(DISTINCT p_partkey) AS DOUBLE) / count(*) * 100
      FROM part
      UNION ALL
      SELECT 'supplier', count(*), count(DISTINCT s_suppkey),
             count(*) - count(DISTINCT s_suppkey),
             count(*) - count(s_nationkey),
             CAST(count(DISTINCT s_nationkey) AS DOUBLE) / (SELECT count(*) FROM nation) * 100
      FROM supplier) v"""

  /** The REMAINING per-table blocks of the reference's bronze/silver
    * validation corpus (bronze_silver_validation_queries.sql:44-71 —
    * sql01 gates the first three): per-table group counts over every
    * other registered table, plus the reference's block-2 "empty
    * seasons" ingestion-gap shape (GROUP BY ... HAVING count(*) <
    * threshold). Same ANSI text, both engines. */
  val ValidationSql2: String = """
    SELECT tbl, grp, n FROM (
      SELECT 'part' AS tbl, p_brand AS grp, count(*) AS n
      FROM part GROUP BY p_brand
      UNION ALL
      SELECT 'supplier' AS tbl, CAST(s_nationkey AS STRING) AS grp, count(*) AS n
      FROM supplier GROUP BY s_nationkey
      UNION ALL
      SELECT 'nation' AS tbl, CAST(n_regionkey AS STRING) AS grp, count(*) AS n
      FROM nation GROUP BY n_regionkey
      UNION ALL
      SELECT 'events' AS tbl, event_type AS grp, count(*) AS n
      FROM events GROUP BY event_type
      UNION ALL
      SELECT 'documents' AS tbl, lang AS grp, count(*) AS n
      FROM documents GROUP BY lang
      UNION ALL
      SELECT 'gap_nation' AS tbl, CAST(n_regionkey AS STRING) AS grp, count(*) AS n
      FROM nation GROUP BY n_regionkey HAVING count(*) < 5
      UNION ALL
      SELECT 'gap_documents' AS tbl, lang AS grp, count(*) AS n
      FROM documents GROUP BY lang HAVING count(*) < 25) v"""

  /** The LEFT JOIN DISTINCT coverage-% block of the reference's audit
    * (data_completeness_audit.sql:27-50, Q2/Q3): per-"season" parent
    * counts, child-covered counts, gap, and rounded coverage pct. The
    * rounded ratio is hash-safe: both engines divide the SAME two
    * integers, IEEE division is bit-identical, and a double can never
    * land exactly on a .xx5 boundary (0.005 is not dyadic), so round()
    * agrees. Same ANSI text, both engines. */
  val CoverageAuditSql: String = """
    SELECT year(CAST(o.o_orderdate AS DATE)) AS season,
           COUNT(DISTINCT o.o_orderkey) AS total_orders,
           COUNT(DISTINCT l.l_orderkey) AS orders_with_lines,
           COUNT(DISTINCT o.o_orderkey) - COUNT(DISTINCT l.l_orderkey) AS orders_without_lines,
           ROUND(CAST(COUNT(DISTINCT l.l_orderkey) AS DOUBLE)
                 / NULLIF(COUNT(DISTINCT o.o_orderkey), 0) * 100, 2) AS coverage_pct
    FROM orders o
    LEFT JOIN (SELECT DISTINCT l_orderkey FROM lineitem) l
      ON o.o_orderkey = l.l_orderkey
    GROUP BY year(CAST(o.o_orderdate AS DATE))
    UNION ALL
    SELECT -1 AS season,
           COUNT(DISTINCT c.c_custkey) AS total_orders,
           COUNT(DISTINCT o2.o_custkey) AS orders_with_lines,
           COUNT(DISTINCT c.c_custkey) - COUNT(DISTINCT o2.o_custkey) AS orders_without_lines,
           ROUND(CAST(COUNT(DISTINCT o2.o_custkey) AS DOUBLE)
                 / NULLIF(COUNT(DISTINCT c.c_custkey), 0) * 100, 2) AS coverage_pct
    FROM customer c
    LEFT JOIN (SELECT DISTINCT o_custkey FROM orders) o2
      ON c.c_custkey = o2.o_custkey"""

  def defs: Seq[Q] = Seq(

    // ----- A1/A2: conditional hash aggregation (sum(when), count, max) --
    Q(
      "a01_cond_agg",
      "Conditional hash agg over lineitem — analog of the reference's " +
        "play->game-team aggs (build_pbp_game_team_stats.py:155-267): " +
        "sum(when) conditional counts + plain sums, grouped by two keys.",
      (s, d) => {
        val li = Tables.lineitem(s, d)
        li.groupBy(col("l_returnflag"), col("l_linestatus"))
          .agg(
            round(sum(col("l_quantity")), 2).as("sum_qty"),
            round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2).as("revenue"),
            sum(when(col("l_quantity") > 30, 1L).otherwise(0L)).as("big_qty_cnt"),
            sum(when(col("l_discount") >= 0.05, 1L).otherwise(0L)).as("high_disc_cnt"),
            max(col("l_linenumber")).as("max_line"),
            count(lit(1)).as("cnt"))
      },
      Some("""
        SELECT l_returnflag, l_linestatus,
               round(sum(l_quantity), 2) AS sum_qty,
               round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS revenue,
               CAST(sum(CASE WHEN l_quantity > 30 THEN 1 ELSE 0 END) AS BIGINT) AS big_qty_cnt,
               CAST(sum(CASE WHEN l_discount >= 0.05 THEN 1 ELSE 0 END) AS BIGINT) AS high_disc_cnt,
               max(l_linenumber) AS max_line,
               count(*) AS cnt
        FROM lineitem GROUP BY 1, 2""")),

    // ----- A8: weighted-ratio aggregate ---------------------------------
    Q(
      "a08_weighted_ratio",
      "Weighted league-average pattern (iterative_ratings.py:131-139): " +
        "sum(w*x)/sum(w*y)*100 with a zero-safe denominator.",
      (s, d) => {
        val li = Tables.lineitem(s, d)
        li.groupBy(col("l_returnflag"))
          .agg(
            sum((lit(1.0) - col("l_discount")) * col("l_extendedprice")).as("wnum"),
            sum((lit(1.0) - col("l_discount")) * col("l_quantity")).as("wden"))
          .select(
            col("l_returnflag"),
            round(when(col("wden") =!= 0.0, col("wnum") / col("wden") * 100.0), 4).as("weighted_rate"))
      },
      Some("""
        SELECT l_returnflag,
               round(sum((1.0 - l_discount) * l_extendedprice)
                     / nullif(sum((1.0 - l_discount) * l_quantity), 0) * 100.0, 4) AS weighted_rate
        FROM lineitem GROUP BY 1""")),

    // ----- §2.11: typed Aggregator (UDAF) --------------------------------
    Q(
      "a09_weighted_mean_udaf",
      "Typed Aggregator UDAF (graft.operators.WeightedMean, SURVEY " +
        "§2.11): discount-weighted mean price per return flag via " +
        "functions.udaf — partial-aggregating two-double buffer, " +
        "hash-agg shaped like a built-in.",
      (s, d) => {
        val wmean = udaf(graft.operators.WeightedMean)
        val li = Tables.lineitem(s, d)
        li.select(col("l_returnflag"),
            col("l_extendedprice").as("x"),
            (lit(1.0) - col("l_discount")).as("w"))
          .groupBy(col("l_returnflag"))
          .agg(round(wmean(col("x"), col("w")), 4).as("wmean_price"))
      },
      Some("""
        SELECT l_returnflag,
               round(sum(l_extendedprice * (1.0 - l_discount))
                     / sum(1.0 - l_discount), 4) AS wmean_price
        FROM lineitem GROUP BY 1""")),

    // ----- A12: first-wins dedup via row_number -------------------------
    Q(
      "a12_dedup_first_wins",
      "Deterministic first-wins dedup (normalize.py:883-894 semantics): " +
        "first order per customer under an explicit (date, key) order — " +
        "row_number()===1, not dropDuplicates, so 'first' is well-defined.",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val o = Tables.orders(s, d)
        val w = Window.partitionBy(col("o_custkey"))
          .orderBy(col("o_orderdate").asc, col("o_orderkey").asc)
        o.withColumn("rn", row_number().over(w))
          .filter(col("rn") === 1)
          .select(
            col("o_custkey"),
            col("o_orderkey").as("first_orderkey"),
            to_date(col("o_orderdate")).as("first_date"))
      },
      Some("""
        SELECT o_custkey, o_orderkey AS first_orderkey,
               CAST(o_orderdate AS DATE) AS first_date
        FROM (SELECT *, row_number() OVER (PARTITION BY o_custkey
                ORDER BY o_orderdate ASC, o_orderkey ASC) AS rn FROM orders)
        WHERE rn = 1""")),

    // ----- A13: distinct -------------------------------------------------
    Q(
      "a13_distinct",
      "SELECT DISTINCT (gap_fill.py:84 coverage pattern).",
      (s, d) =>
        Tables.lineitem(s, d)
          .select(col("l_returnflag"), col("l_linestatus")).distinct(),
      Some("SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem")),

    // ----- A14: audit aggregates ----------------------------------------
    Q(
      "a14_audit",
      "Data-quality audit (audit_lakehouse.py:187-245): row counts, " +
        "distinct keys, null counts/percentages, duplicate-PK counts.",
      (s, d) => {
        val o = Tables.orders(s, d)
        o.groupBy(col("o_orderstatus"))
          .agg(
            count(lit(1)).as("n_rows"),
            countDistinct(col("o_custkey")).as("n_cust"),
            (count(lit(1)) - countDistinct(col("o_orderkey"))).as("dup_pk_cnt"),
            sum(when(col("o_totalprice").isNull, 1L).otherwise(0L)).as("null_price_cnt"),
            round(min(col("o_totalprice")), 2).as("min_price"),
            round(max(col("o_totalprice")), 2).as("max_price"))
      },
      Some("""
        SELECT o_orderstatus, count(*) AS n_rows,
               count(DISTINCT o_custkey) AS n_cust,
               count(*) - count(DISTINCT o_orderkey) AS dup_pk_cnt,
               CAST(sum(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_price_cnt,
               round(min(o_totalprice), 2) AS min_price,
               round(max(o_totalprice), 2) AS max_price
        FROM orders GROUP BY 1""")),

    // ----- J1/J2: broadcast join chain on a fact spine ------------------
    Q(
      "j01_broadcast_chain",
      "Fact spine -> chained dim joins (team_power_rankings.py:34-228): " +
        "orders->customer->nation->region with small dims broadcast; " +
        "per-region rollup. At 100 TB the dims stay broadcast and only " +
        "the orders->customer equi-join shuffles.",
      (s, d) => {
        val o = Tables.orders(s, d)
        val c = Tables.customer(s, d)
        val n = Tables.nation(s, d)
        val r = Tables.region(s, d)
        o.join(c, col("o_custkey") === col("c_custkey"))
          .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
          .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
          .groupBy(col("r_name"))
          .agg(
            count(lit(1)).as("n_orders"),
            round(sum(col("o_totalprice")), 2).as("total_rev"),
            countDistinct(col("c_custkey")).as("n_cust"))
      },
      Some("""
        SELECT r_name, count(*) AS n_orders,
               round(sum(o_totalprice), 2) AS total_rev,
               count(DISTINCT c_custkey) AS n_cust
        FROM orders JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        GROUP BY 1""")),

    // ----- J1: left join + fill-if-null (coalesce) ----------------------
    Q(
      "j03_left_join_fill",
      "Left join with coalesce fill (power-rankings fill-if-null, " +
        "team_power_rankings.py:196-228): every customer keeps a row, " +
        "missing aggregates become zeros.",
      (s, d) => {
        val c = Tables.customer(s, d)
        val o = Tables.orders(s, d)
        val agg = o.groupBy(col("o_custkey"))
          .agg(count(lit(1)).as("cnt"), round(sum(col("o_totalprice")), 2).as("sp"))
        c.join(agg, col("c_custkey") === col("o_custkey"), "left")
          .select(
            col("c_custkey"),
            coalesce(col("cnt"), lit(0L)).as("n_orders"),
            coalesce(col("sp"), lit(0.0)).as("spend"))
      },
      Some("""
        SELECT c_custkey,
               CAST(coalesce(cnt, 0) AS BIGINT) AS n_orders,
               coalesce(sp, 0.0) AS spend
        FROM customer LEFT JOIN (
          SELECT o_custkey, count(*) AS cnt, round(sum(o_totalprice), 2) AS sp
          FROM orders GROUP BY 1) o ON c_custkey = o_custkey""")),

    // ----- J6: anti join --------------------------------------------------
    Q(
      "j06_anti_join",
      "Gap-discovery anti join (gap_fill.py:79-88): parts never shipped " +
        "in quantity > 48 — left_anti against a filtered distinct set.",
      (s, d) => {
        val p = Tables.part(s, d)
        val li = Tables.lineitem(s, d).filter(col("l_quantity") > 48)
        p.join(li.select(col("l_partkey")).distinct(),
            col("p_partkey") === col("l_partkey"), "left_anti")
          .select(col("p_partkey"), col("p_name"), col("p_brand"))
      },
      Some("""
        SELECT p_partkey, p_name, p_brand FROM part
        WHERE NOT EXISTS (SELECT 1 FROM lineitem
                          WHERE l_partkey = p_partkey AND l_quantity > 48)""")),

    // ----- U4/P4: semi join ----------------------------------------------
    Q(
      "u04_semi_join",
      "Membership semi join (D1-team filter pattern, " +
        "adjusted_efficiencies.py:285-345): suppliers with at least one " +
        "large shipment.",
      (s, d) => {
        val sup = Tables.supplier(s, d)
        val li = Tables.lineitem(s, d).filter(col("l_quantity") > 45)
        sup.join(li.select(col("l_suppkey")), col("s_suppkey") === col("l_suppkey"), "left_semi")
          .select(col("s_suppkey"), col("s_name"))
      },
      Some("""
        SELECT s_suppkey, s_name FROM supplier
        WHERE EXISTS (SELECT 1 FROM lineitem
                      WHERE l_suppkey = s_suppkey AND l_quantity > 45)""")),

    // ----- J8: opponent self-join -----------------------------------------
    Q(
      "j08_self_join_opponent",
      "Opponent self-join (build_pbp_game_teams_flat.py:258-268): pair " +
        "each (order, supplier) aggregate with the other suppliers' " +
        "aggregates in the same order.",
      (s, d) => {
        // Single-pass complement derivation: no self-join. Aggregate
        // (order, supplier) once, then each row's opponents are the
        // per-order totals minus its own contribution — one scan, one
        // shuffle on the fact, one window exchange on aggregate-sized
        // data. The old two-scan self-join's build side was a full fact
        // aggregate (unbroadcastable at 100×); this shape has no join.
        val li = Tables.lineitem(s, d)
        val w = Window.partitionBy(col("l_orderkey"))
        li.groupBy(col("l_orderkey"), col("l_suppkey"))
          .agg(sum(col("l_quantity")).as("qty"))
          .withColumn("tot", sum(col("qty")).over(w))
          .withColumn("cnt", count(lit(1)).over(w))
          .filter(col("cnt") > 1)
          .select(col("l_orderkey"), col("l_suppkey"),
            (col("cnt") - 1).as("n_opp"),
            round((col("tot") - col("qty")) / (col("cnt") - 1), 4).as("opp_avg_qty"))
      },
      Some("""
        WITH a AS (SELECT l_orderkey, l_suppkey, sum(l_quantity) AS qty
                   FROM lineitem GROUP BY 1, 2),
        t AS (SELECT l_orderkey, l_suppkey, qty,
                     sum(qty) OVER (PARTITION BY l_orderkey) AS tot,
                     count(*) OVER (PARTITION BY l_orderkey) AS cnt
              FROM a)
        SELECT l_orderkey, l_suppkey, CAST(cnt - 1 AS BIGINT) AS n_opp,
               round((tot - qty) / (cnt - 1), 4) AS opp_avg_qty
        FROM t WHERE cnt > 1""")),

    // ----- J9/J2: unpivot via explode + union-shaped agg ------------------
    Q(
      "j09_unpivot",
      "Home/away unpivot (team_season_summary.py:244-299, " +
        "game_predictions_features.py:78-82): one input row fans out to " +
        "two metric rows via explode(array(struct...)), then re-aggregates.",
      (s, d) => {
        val li = Tables.lineitem(s, d)
        li.select(
            col("l_returnflag"),
            explode(array(
              struct(lit("disc_amt").as("metric"),
                (col("l_extendedprice") * col("l_discount")).as("v")),
              struct(lit("tax_amt").as("metric"),
                (col("l_extendedprice") * col("l_tax")).as("v")))).as("m"))
          .select(col("l_returnflag"), col("m.metric").as("metric"), col("m.v").as("v"))
          .groupBy(col("l_returnflag"), col("metric"))
          .agg(round(sum(col("v")), 2).as("total"), count(lit(1)).as("n"))
      },
      Some("""
        SELECT l_returnflag, metric, round(sum(v), 2) AS total, count(*) AS n
        FROM (
          SELECT l_returnflag, 'disc_amt' AS metric,
                 l_extendedprice * l_discount AS v FROM lineitem
          UNION ALL
          SELECT l_returnflag, 'tax_amt' AS metric,
                 l_extendedprice * l_tax AS v FROM lineitem)
        GROUP BY 1, 2""")),

    // ----- J5: string-normalized join --------------------------------------
    Q(
      "j05_string_norm_join",
      "Case-normalized string join (recruiting->team, " +
        "team_season_summary.py:302-341): join documents to an " +
        "upper-cased language dim via lower().",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val dim = docs.select(upper(col("lang")).as("lang_u")).distinct()
        docs.join(broadcast(dim), lower(col("lang_u")) === col("lang"))
          .groupBy(col("lang_u"))
          .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("total_chars"))
      },
      Some("""
        SELECT lang_u, count(*) AS n_docs,
               CAST(sum(n_chars) AS BIGINT) AS total_chars
        FROM documents d JOIN (SELECT DISTINCT upper(lang) AS lang_u
                               FROM documents) x ON lower(x.lang_u) = d.lang
        GROUP BY 1""")),

    // ----- J10: coverage percentage ----------------------------------------
    Q(
      "j10_coverage_pct",
      "Coverage join (data_completeness_audit.sql:27-50): per nation, " +
        "the share of customers having at least one order.",
      (s, d) => {
        val c = Tables.customer(s, d)
        val n = Tables.nation(s, d)
        val withOrders = Tables.orders(s, d).select(col("o_custkey")).distinct()
        c.join(withOrders, col("c_custkey") === col("o_custkey"), "left")
          .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
          .groupBy(col("n_name"))
          .agg(
            count(lit(1)).as("n_cust"),
            sum(when(col("o_custkey").isNotNull, 1L).otherwise(0L)).as("n_with_orders"))
          .select(
            col("n_name"), col("n_cust"), col("n_with_orders"),
            round(col("n_with_orders") * 100.0 / col("n_cust"), 2).as("coverage_pct"))
      },
      Some("""
        SELECT n_name, count(*) AS n_cust,
               CAST(sum(CASE WHEN o_custkey IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_with_orders,
               round(sum(CASE WHEN o_custkey IS NOT NULL THEN 1 ELSE 0 END) * 100.0 / count(*), 2) AS coverage_pct
        FROM customer
        LEFT JOIN (SELECT DISTINCT o_custkey FROM orders) o ON c_custkey = o_custkey
        JOIN nation ON c_nationkey = n_nationkey
        GROUP BY 1""")),

    // ----- U1: union by name with missing columns ---------------------------
    Q(
      "u01_union_byname",
      "Permissive union with schema promotion (_io_helpers.py:141-178): " +
        "unionByName(allowMissingColumns) — the missing aggregate column " +
        "becomes null.",
      (s, d) => {
        val o = Tables.orders(s, d)
        val li = Tables.lineitem(s, d)
        val a = o.groupBy(col("o_orderstatus").as("grp"))
          .agg(count(lit(1)).as("n"), round(sum(col("o_totalprice")), 2).as("total"))
          .withColumn("src", lit("orders"))
        val b = li.groupBy(col("l_returnflag").as("grp"))
          .agg(count(lit(1)).as("n"))
          .withColumn("src", lit("lineitem"))
        a.unionByName(b, allowMissingColumns = true)
      },
      Some("""
        SELECT grp, n, total, src FROM (
          SELECT o_orderstatus AS grp, count(*) AS n,
                 round(sum(o_totalprice), 2) AS total, 'orders' AS src
          FROM orders GROUP BY 1
          UNION ALL
          SELECT l_returnflag AS grp, count(*) AS n,
                 CAST(NULL AS DOUBLE) AS total, 'lineitem' AS src
          FROM lineitem GROUP BY 1)""")),

    // ----- beyond-reference: multi-dimensional aggregation (CUBE) -------------
    Q(
      "u05_cube",
      "CUBE aggregation (beyond the reference's flat GROUP BYs: the " +
        "SURVEY notes it has no grouping sets — this is the OLAP " +
        "completeness piece): all 4 grouping combinations of " +
        "(returnflag, linestatus) in one pass with grouping_id " +
        "distinguishing subtotal levels.",
      (s, d) => {
        val li = Tables.lineitem(s, d)
        li.cube(col("l_returnflag"), col("l_linestatus"))
          .agg(
            count(lit(1)).as("n"),
            round(sum(col("l_quantity")), 2).as("qty"),
            grouping_id(col("l_returnflag"), col("l_linestatus")).as("gid"))
      },
      Some("""
        SELECT l_returnflag, l_linestatus, count(*) AS n,
               round(sum(l_quantity), 2) AS qty,
               CAST(GROUPING(l_returnflag) * 2 + GROUPING(l_linestatus) AS BIGINT) AS gid
        FROM lineitem
        GROUP BY CUBE (l_returnflag, l_linestatus)""")),

    Q(
      "u06_rollup",
      "ROLLUP aggregation (u05's hierarchical twin): nation → nation+" +
        "segment subtotals → grand total in one pass, the drill-down " +
        "report shape. Like cube, one shuffle keyed on the full " +
        "grouping-set expansion — subtotals are computed by the " +
        "aggregate itself, never by re-scanning per level.",
      (s, d) => {
        val c = Tables.customer(s, d)
        c.rollup(col("c_nationkey"), col("c_mktsegment"))
          .agg(
            count(lit(1)).as("n"),
            round(sum(col("c_acctbal")), 2).as("bal"),
            grouping_id(col("c_nationkey"), col("c_mktsegment")).as("gid"))
      },
      Some("""
        SELECT c_nationkey, c_mktsegment, count(*) AS n,
               round(sum(c_acctbal), 2) AS bal,
               CAST(GROUPING(c_nationkey) * 2 + GROUPING(c_mktsegment) AS BIGINT) AS gid
        FROM customer
        GROUP BY ROLLUP (c_nationkey, c_mktsegment)""")),

    // ----- U3: set difference -----------------------------------------------
    Q(
      "u03_except",
      "Set difference (gap_fill.py:170): nations that have customers but " +
        "no suppliers.",
      (s, d) => {
        val c = Tables.customer(s, d).select(col("c_nationkey").cast("int").as("nationkey"))
        val sup = Tables.supplier(s, d).select(col("s_nationkey").cast("int").as("nationkey"))
        c.except(sup)
      },
      Some("""
        SELECT c_nationkey AS nationkey FROM customer
        EXCEPT
        SELECT s_nationkey AS nationkey FROM supplier""")),

    Q(
      "u07_intersect",
      "Set intersection (u03's complement, completing the §2.7 set-op " +
        "family): nations that have BOTH customers and suppliers. " +
        "Distinct set semantics on each side; Spark plans a left-semi " +
        "over pre-distincted inputs.",
      (s, d) => {
        val c = Tables.customer(s, d).select(col("c_nationkey").cast("int").as("nationkey"))
        val sup = Tables.supplier(s, d).select(col("s_nationkey").cast("int").as("nationkey"))
        c.intersect(sup)
      },
      Some("""
        SELECT c_nationkey AS nationkey FROM customer
        INTERSECT
        SELECT s_nationkey AS nationkey FROM supplier""")),

    // ----- MERGE INTO semantics (lakehouse upsert) ------------------------------
    Q(
      "u08_merge_upsert",
      "MERGE INTO semantics as one full-outer join (the Delta/Iceberg " +
        "merge shape, and what the reference's overwrite-partition " +
        "upsert approximates): a source batch updates matched keys " +
        "(here: +100 balance for custkey%10=3), inserts unmatched ones " +
        "(synthetic keys shifted by 1M), and leaves the rest of the " +
        "target untouched; every row is tagged updated/inserted/kept. " +
        "Scale shape: ONE key-partitioned shuffle of each side — and on " +
        "a bucketed target layout (LakeIO.saveBucketed) even that " +
        "exchange disappears, which is exactly how a 100-TB nightly " +
        "merge should run; never a collect, never row-at-a-time.",
      (s, d) => {
        val cust = Tables.customer(s, d)
        // lit(1) match markers on each side: the inserted/kept/updated tag
        // must test JOIN MATCH, not value nullness — a target row with a
        // genuinely NULL bal is still "kept"/"updated", never "inserted"
        val target = cust.select(col("c_custkey").cast("long").as("custkey"),
          round(col("c_acctbal").cast("double"), 2).as("bal"),
          lit(1).as("t_m"))
        val source = cust.filter(col("c_custkey") % 10 === 3)
          .select(col("c_custkey").cast("long").as("custkey"),
            round(col("c_acctbal").cast("double") + 100, 2).as("src_bal"))
          .unionByName(cust.filter(col("c_custkey") % 100 === 7)
            .select((col("c_custkey").cast("long") + 1000000L).as("custkey"),
              lit(0.0).as("src_bal")))
          .withColumn("s_m", lit(1))
        target.join(source, Seq("custkey"), "full_outer")
          .select(col("custkey"),
            round(coalesce(col("src_bal"), col("bal")), 2).as("bal"),
            when(col("t_m").isNull, "inserted")
              .when(col("s_m").isNull, "kept")
              .otherwise("updated").as("op"))
      },
      Some("""
        WITH target AS (SELECT CAST(c_custkey AS BIGINT) AS custkey,
                               round(CAST(c_acctbal AS DOUBLE), 2) AS bal
                        FROM customer),
        source AS (
          SELECT CAST(c_custkey AS BIGINT) AS custkey,
                 round(CAST(c_acctbal AS DOUBLE) + 100, 2) AS src_bal
          FROM customer WHERE c_custkey % 10 = 3
          UNION ALL
          SELECT CAST(c_custkey AS BIGINT) + 1000000 AS custkey, 0.0 AS src_bal
          FROM customer WHERE c_custkey % 100 = 7)
        SELECT coalesce(t.custkey, s.custkey) AS custkey,
               round(coalesce(s.src_bal, t.bal), 2) AS bal,
               CASE WHEN t.custkey IS NULL THEN 'inserted'
                    WHEN s.custkey IS NULL THEN 'kept'
                    ELSE 'updated' END AS op
        FROM target t FULL OUTER JOIN source s ON t.custkey = s.custkey""")),

    // ----- CDC: snapshot diff -> change rows --------------------------------------
    Q(
      "u09_snapshot_cdc",
      "Change-data-capture by snapshot diff (the complement of u08's " +
        "MERGE: given yesterday's and today's table states, emit the " +
        "I/U/D change rows a downstream consumer replays — how a " +
        "lakehouse derives a CDC feed from full snapshots when the " +
        "source has no log). One full-outer join on the key; ops " +
        "tagged by join-match markers (the u08 rule: never value " +
        "nullness) and U only where the payload actually changed — " +
        "unchanged rows produce NO event. New state is simulated " +
        "deterministically: custkey%13==0 deleted, %11==0 rebalanced " +
        "+100, %17==0 cloned to key+2^40 as inserts (an offset above " +
        "any realistic custkey range, so synthetic inserts can never " +
        "collide with real keys at large SF). Scale: one " +
        "key-partitioned shuffle per side, zero on a bucketed layout.",
      (s, d) => {
        val cust = Tables.customer(s, d)
        val old = cust.select(col("c_custkey").cast("long").as("k"),
          round(col("c_acctbal"), 2).as("bal"))
        val newSnap = old
          .filter(pmod(col("k"), lit(13)) =!= 0)
          .withColumn("bal",
            when(pmod(col("k"), lit(11)) === 0, round(col("bal") + 100.0, 2))
              .otherwise(col("bal")))
          .unionByName(old.filter(pmod(col("k"), lit(17)) === 0)
            .select((col("k") + 1099511627776L).as("k"), col("bal")))
        val o = old.withColumn("__mo", lit(1))
          .select(col("k"), col("bal").as("bal_before"), col("__mo"))
        val n = newSnap.withColumn("__mn", lit(1))
          .select(col("k"), col("bal").as("bal_after"), col("__mn"))
        o.join(n, Seq("k"), "full_outer")
          .withColumn("op",
            when(col("__mo").isNull, "I")
              .when(col("__mn").isNull, "D")
              .when(col("bal_before") =!= col("bal_after"), "U"))
          .filter(col("op").isNotNull)
          .select(col("k"), col("op"), col("bal_before"), col("bal_after"))
      },
      Some("""
        WITH old AS (SELECT CAST(c_custkey AS BIGINT) AS k,
                            round(c_acctbal, 2) AS bal FROM customer),
        newsnap AS (
          SELECT k, CASE WHEN k % 11 = 0 THEN round(bal + 100.0, 2)
                         ELSE bal END AS bal
          FROM old WHERE k % 13 <> 0
          UNION ALL
          SELECT k + 1099511627776, bal FROM old WHERE k % 17 = 0),
        o AS (SELECT k, bal AS bal_before, 1 AS mo FROM old),
        n AS (SELECT k, bal AS bal_after, 1 AS mn FROM newsnap)
        SELECT coalesce(o.k, n.k) AS k,
               CASE WHEN o.mo IS NULL THEN 'I'
                    WHEN n.mn IS NULL THEN 'D'
                    WHEN o.bal_before <> n.bal_after THEN 'U' END AS op,
               o.bal_before, n.bal_after
        FROM o FULL OUTER JOIN n ON o.k = n.k
        WHERE CASE WHEN o.mo IS NULL THEN 'I'
                   WHEN n.mn IS NULL THEN 'D'
                   WHEN o.bal_before <> n.bal_after THEN 'U' END IS NOT NULL""")),

    // ----- O4: top-k ----------------------------------------------------------
    Q(
      "o04_topk",
      "Top-k (athena_examples.sql ORDER BY ... LIMIT): top 10 customers " +
        "by total spend, deterministic tiebreak on key. Spark executes " +
        "this as TakeOrderedAndProject — no global sort materialization.",
      (s, d) => {
        val o = Tables.orders(s, d)
        o.groupBy(col("o_custkey"))
          .agg(round(sum(col("o_totalprice")), 2).as("spend"), count(lit(1)).as("n"))
          .orderBy(col("spend").desc, col("o_custkey").asc)
          .limit(10)
      },
      Some("""
        SELECT o_custkey, round(sum(o_totalprice), 2) AS spend, count(*) AS n
        FROM orders GROUP BY 1
        ORDER BY spend DESC, o_custkey ASC LIMIT 10""")),

    Q(
      "o06_topk_per_key",
      "Per-key top-k via the custom whole-operator extension (TopKPerKeyNode " +
        "+ TopKStrategy + TopKPerKeyExec, graft.plans.TopKPerKey): top 3 " +
        "events per user by value. The window row_number form shuffles and " +
        "SORTS the entire input; this operator keeps a k-bounded heap per " +
        "key and plans partial -> exchange -> final like a hash aggregate, " +
        "so the shuffle carries at most k rows per (key, map partition). " +
        "Oracle is the window form — same rows, different physics.",
      (s, d) => {
        val e = Tables.events(s, d).select(col("user_id"), col("event_id"), col("value"))
        graft.plans.TopKPerKey.topK(
          e, Seq("user_id"), Seq(col("value").desc, col("event_id").asc), 3)
      },
      Some("""
        SELECT user_id, event_id, value FROM (
          SELECT user_id, event_id, value,
                 row_number() OVER (PARTITION BY user_id
                                    ORDER BY value DESC, event_id ASC) AS rn
          FROM events) t
        WHERE rn <= 3""")),

    Q(
      "o06b_topk_window",
      "o06's window twin: the textbook row_number().over(partitionBy)" +
        ".filter(rn <= k) form, kept as the oracle-parity baseline. This " +
        "shuffles and sorts EVERY input row; o06's heap operator ships " +
        "k rows per (key, map partition). Same oracle, different physics " +
        "— the bench pair quantifies the gap as data grows.",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val e = Tables.events(s, d).select(col("user_id"), col("event_id"), col("value"))
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("value").desc, col("event_id").asc)
        e.withColumn("rn", row_number().over(w)).filter(col("rn") <= 3).drop("rn")
      },
      Some("""
        SELECT user_id, event_id, value FROM (
          SELECT user_id, event_id, value,
                 row_number() OVER (PARTITION BY user_id
                                    ORDER BY value DESC, event_id ASC) AS rn
          FROM events) t
        WHERE rn <= 3""")),

    Q(
      "o06c_topk_rank_ties",
      "Tie-aware per-key top-k: the r7 rank-mode TopKPerKeyExec through " +
        "the exec path (not just the rewrite-rule spec). Ordering by the " +
        "COARSE floor(value) bin manufactures real ties (up to 4 rows " +
        "per (user, bin) in the fixture); rank() <= 3 semantics keep " +
        "every boundary-tied row, so a key can emit MORE than 3 rows — " +
        "the exact case row_number mode can't express. The exec's " +
        "group-buffer evicts a tail bin only once k rows fully outrank " +
        "it, so the shuffle still carries O(k + ties) rows per (key, " +
        "map partition), never the whole group. Oracle is DuckDB's " +
        "rank() window — same set, heap physics.",
      (s, d) => {
        val e = Tables.events(s, d).select(
          col("user_id"), col("event_id"), col("value"),
          floor(col("value")).cast("long").as("vbin"))
        graft.plans.TopKPerKey.topK(
          e, Seq("user_id"), Seq(col("vbin").desc), 3,
          mode = graft.plans.TopKPerKeyNode.RankMode)
      },
      Some("""
        SELECT user_id, event_id, value, vbin FROM (
          SELECT user_id, event_id, value,
                 CAST(floor(value) AS BIGINT) AS vbin,
                 rank() OVER (PARTITION BY user_id
                              ORDER BY CAST(floor(value) AS BIGINT) DESC) AS r
          FROM events) t
        WHERE r <= 3""")),

    Q(
      "o06d_topk_dense_rank",
      "Dense-rank per-key top-k: every row among the top-3 DISTINCT " +
        "floor(value) bins per user (the 'top 3 price points with all " +
        "their line items' shape). Third tie mode of the heap exec: the " +
        "buffer tracks distinct order values, keeps all member rows of " +
        "the best k bins, and ships bins-not-rows cardinality per map " +
        "partition. Oracle is DuckDB dense_rank() — set-identical.",
      (s, d) => {
        val e = Tables.events(s, d).select(
          col("user_id"), col("event_id"), col("value"),
          floor(col("value")).cast("long").as("vbin"))
        graft.plans.TopKPerKey.topK(
          e, Seq("user_id"), Seq(col("vbin").desc), 3,
          mode = graft.plans.TopKPerKeyNode.DenseRankMode)
      },
      Some("""
        SELECT user_id, event_id, value, vbin FROM (
          SELECT user_id, event_id, value,
                 CAST(floor(value) AS BIGINT) AS vbin,
                 dense_rank() OVER (PARTITION BY user_id
                                    ORDER BY CAST(floor(value) AS BIGINT) DESC) AS r
          FROM events) t
        WHERE r <= 3""")),

    Q(
      "o07_zorder_key",
      "Z-order (Morton) clustering keys (operators/ZOrder): the " +
        "multi-dimensional layout key behind lakehouse OPTIMIZE " +
        "ZORDER — bit-interleave (user_id, value-bin) so rows close " +
        "in EITHER dimension land close on disk and row-group min/max " +
        "stats prune filters on both columns. Pure builtin shiftleft/" +
        "AND/OR folds (WholeStageCodegen, no UDF). Gated on the " +
        "integer key math plus per-z-range locality stats: each " +
        "coarse z bucket spans a BOUNDED box in (user, bin) space — " +
        "the property that makes the pruning work. Oracle replays the " +
        "identical bit arithmetic.",
      (s, d) => {
        // abs() BEFORE the modulo: Spark pmod is always non-negative but
        // DuckDB % follows the sign, so a negative user_id/value would
        // silently diverge the engines (and violate zValue's non-negative
        // precondition). abs on both sides keeps the grid drift-free.
        val e = Tables.events(s, d).select(
          (abs(col("user_id")) % 65536).as("x"),
          (abs(floor(col("value")).cast("long")) % 65536).as("y"))
        e.select(col("x"), col("y"),
            graft.operators.ZOrder.zValue(col("x"), col("y")).as("z"))
          .groupBy(shiftright(col("z"), 8).as("zbucket"))
          .agg(count(lit(1)).as("n"),
            min(col("x")).as("x_lo"), max(col("x")).as("x_hi"),
            min(col("y")).as("y_lo"), max(col("y")).as("y_hi"),
            min(col("z")).as("z_lo"), max(col("z")).as("z_hi"))
      },
      Some(s"""
        WITH e AS (SELECT abs(user_id) % 65536 AS x,
                          abs(CAST(floor(value) AS BIGINT)) % 65536 AS y
                   FROM events),
        z AS (SELECT x, y, ${graft.operators.ZOrder.zValueSql("x", "y")} AS z
              FROM e)
        SELECT z >> 8 AS zbucket, count(*) AS n,
               min(x) AS x_lo, max(x) AS x_hi,
               min(y) AS y_lo, max(y) AS y_hi,
               min(z) AS z_lo, max(z) AS z_hi
        FROM z GROUP BY 1""")),

    Q(
      "gr01_triangle_count",
      "Distributed triangle counting (operators/Triangles, the degree-" +
        "orientation kernel): per-part triangle participation in the " +
        "co-purchase graph (parts sharing >= 2 orders). Orientation " +
        "by (degree, id) makes each triangle countable at exactly one " +
        "pivot and bounds out-degree by O(sqrt(m)) — the wedge join " +
        "cannot explode on hub products, which is what kills the " +
        "naive neighbor self-join at 100 TB. Two shuffled equi-joins, " +
        "exact integer output. Oracle is the canonical-edge triple " +
        "join.",
      (s, d) => graft.operators.Triangles.perNode(coPurchaseEdges(s, d), "pa", "pb"),
      Some(s"""
        WITH $CoPurchaseSql,
        t AS (SELECT e1.u AS a, e1.v AS b, e2.v AS c
              FROM e e1
              JOIN e e2 ON e2.u = e1.v
              JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v)
        SELECT node, count(*) AS n_tri FROM (
          SELECT a AS node FROM t
          UNION ALL SELECT b FROM t
          UNION ALL SELECT c FROM t)
        GROUP BY 1""")),

    Q(
      "gr02_pagerank",
      "PageRank at a PINNED 2 iterations (operators/PageRank; the " +
        "dm10/v05 bounded-iteration gating convention — production " +
        "runs pick 10-20, the gate proves the per-iteration math and " +
        "wiring hash-exactly): rank flows over the undirected " +
        "co-purchase graph as one join + one keyed agg per round, no " +
        "driver-side graph state, lineage cut every second round by " +
        "eager checkpoint (operators/Fixpoint). Gated through " +
        "the FIXED-POINT micro-unit form (t23's integer-weight " +
        "convention): pure BIGINT arithmetic, bit-identical on any " +
        "engine and summation order — the float form's exact-rational " +
        "rank values land ON 6dp rounding boundaries and ulp drift " +
        "flips them (measured: 10/600 rows). Float form is " +
        "PageRankSpec-tested against this one. Oracle replays both " +
        "iterations as CTEs in BIGINT.",
      (s, d) => graft.operators.PageRank.runExactMicro(
        coPurchaseEdges(s, d), "pa", "pb", iters = 2),
      Some(s"""
        WITH $CoPurchaseSql,
        dir AS (SELECT u AS s, v AS t FROM e
                UNION ALL SELECT v, u FROM e),
        od AS (SELECT s, count(*) AS od FROM dir GROUP BY 1),
        p1 AS (SELECT dir.t AS node,
                      150000 + sum((1000000 * 85) // (100 * od.od)) AS pm
               FROM dir JOIN od ON od.s = dir.s GROUP BY 1),
        p2 AS (SELECT dir.t AS node,
                      150000 + sum((p1.pm * 85) // (100 * od.od)) AS pm
               FROM dir JOIN od ON od.s = dir.s JOIN p1 ON p1.node = dir.s
               GROUP BY 1)
        SELECT node, CAST(pm AS BIGINT) AS pm FROM p2""")),

    Q(
      "gr02b_pagerank_converged",
      "CONVERGED PageRank (the dm10d/v05d early-stop recipe applied to " +
        "the last bounded-iteration-only kernel): iterate gr02's exact " +
        "BIGINT micro-unit update until the L-inf rank delta is <= " +
        "1,000,000 micro-units (1.0 rank unit), maxIters=60, throwing " +
        "on unconverged exit (the ConnectedComponents convention). " +
        "Because every quantity is an exact integer, the stop test is " +
        "bit-deterministic — no float tolerance cliff: at the gate SF " +
        "the measured deltas are 1130159 after round 3 and 932677 " +
        "after round 4 (exact BIGINTs), so tol=1e6 stops at EXACTLY 4 " +
        "rounds on any engine/partitioning. The oracle replays 4 " +
        "update CTEs and pins iterations=4 — the convergence TEST, " +
        "not a pinned count, produces the hash-matched result. " +
        "(Probed at sf0.1 the same tol converges at round 7 — the " +
        "early-stop is SF-adaptive where gr02 is not.) Per-round cost " +
        "is unchanged (one join + one keyed agg + a 1-row delta " +
        "scalar); two rounds per eager checkpoint (operators/Fixpoint).",
      (s, d) => graft.operators.PageRank.runConvergedMicro(
        coPurchaseEdges(s, d), "pa", "pb", tolMicro = 1000000L, maxIters = 60),
      Some(s"""
        WITH $CoPurchaseSql,
        dir AS (SELECT u AS s, v AS t FROM e
                UNION ALL SELECT v, u FROM e),
        od AS (SELECT s, count(*) AS od FROM dir GROUP BY 1),
        p1 AS (SELECT dir.t AS node,
                      150000 + sum((1000000 * 85) // (100 * od.od)) AS pm
               FROM dir JOIN od ON od.s = dir.s GROUP BY 1),
        p2 AS (SELECT dir.t AS node,
                      150000 + sum((p1.pm * 85) // (100 * od.od)) AS pm
               FROM dir JOIN od ON od.s = dir.s JOIN p1 ON p1.node = dir.s
               GROUP BY 1),
        p3 AS (SELECT dir.t AS node,
                      150000 + sum((p2.pm * 85) // (100 * od.od)) AS pm
               FROM dir JOIN od ON od.s = dir.s JOIN p2 ON p2.node = dir.s
               GROUP BY 1),
        p4 AS (SELECT dir.t AS node,
                      150000 + sum((p3.pm * 85) // (100 * od.od)) AS pm
               FROM dir JOIN od ON od.s = dir.s JOIN p3 ON p3.node = dir.s
               GROUP BY 1)
        SELECT node, CAST(pm AS BIGINT) AS pm, CAST(4 AS INT) AS iters
        FROM p4""")),

    Q(
      "gr03_label_propagation",
      "Community detection via synchronous label propagation " +
        "(Raghavan et al. 2007; operators/LabelPropagation) on the " +
        "shared co-purchase graph, at the gr02 PINNED-2-iterations " +
        "gating convention: every node starts as its own label, each " +
        "round adopts the most frequent neighbor label with ties to " +
        "the SMALLEST label. Labels and counts are integers, so " +
        "rounds are bit-deterministic on any engine or partitioning " +
        "— the gr02 micro-unit property for free. Per round: one " +
        "node-keyed equi-join + one (node, label) keyed count + one " +
        "node-partitioned argmax window, lineage cut by eager " +
        "checkpoint (the ConnectedComponents lesson); hub fan-in is " +
        "combined map-side by the keyed count before the window. " +
        "Output pins EVERY node's label, not just community sizes.",
      (s, d) => graft.operators.LabelPropagation.run(
        coPurchaseEdges(s, d), "pa", "pb", iters = 2),
      Some(s"""
        WITH $CoPurchaseSql,
        dir AS (SELECT u AS s, v AS t FROM e
                UNION ALL SELECT v, u FROM e),
        m1 AS (SELECT d.t AS node, d.s AS label, count(*) AS n
               FROM dir d GROUP BY 1, 2),
        l1 AS (SELECT node, label FROM (
                 SELECT node, label, row_number() OVER (PARTITION BY node
                   ORDER BY n DESC, label ASC) AS rn FROM m1) WHERE rn = 1),
        m2 AS (SELECT d.t AS node, l.label, count(*) AS n
               FROM dir d JOIN l1 l ON l.node = d.s GROUP BY 1, 2),
        l2 AS (SELECT node, label FROM (
                 SELECT node, label, row_number() OVER (PARTITION BY node
                   ORDER BY n DESC, label ASC) AS rn FROM m2) WHERE rn = 1)
        SELECT node, label FROM l2""")),

    Q(
      "gr03b_label_propagation_converged",
      "CONVERGED label propagation (the dm10d/gr02b early-stop recipe " +
        "applied to gr03): iterate the synchronous min-tie round until " +
        "a round changes ZERO labels, with SELF-VOTE damping (each " +
        "node counts as its own neighbor — Raghavan et al. 2007 §III's " +
        "'include self' option). The damping is what MAKES an " +
        "early-stop gate possible: plain synchronous LP period-2 " +
        "oscillates on this graph and never satisfies zero-changed " +
        "(measured: cycles at round 35 at sf0.01, round 9 at sf0.1 — " +
        "with tools/LpProbe, since removed; it can be re-run from " +
        "commit dbc2bde), while the self-vote's +1 hysteresis breaks " +
        "the flip-flop symmetry (same probe: converges in 5/7/5 " +
        "rounds at sf0.001/0.01/0.1; oscillation and maxRounds exits " +
        "still throw rather than gate bogus communities). Labels and " +
        "the changed-count stop test are exact integers, so the " +
        "convergence round is bit-deterministic on any engine or " +
        "partitioning — the oracle replays the measured 7 sf0.01 " +
        "rounds as CTEs and pins iters=7; the convergence TEST, not " +
        "a pinned count, produces the hash-matched result. Per-round " +
        "cost is gr03's: one edge join + one counted agg + one " +
        "node-partitioned argmax, lineage cut per round.",
      (s, d) => graft.operators.LabelPropagation.runConverged(
        coPurchaseEdges(s, d), "pa", "pb", maxRounds = 40),
      Some {
        val rounds = (2 to 7).map { i =>
          s"""m$i AS (SELECT d.t AS node, l.label, count(*) AS n
               FROM dir d JOIN l${i - 1} l ON l.node = d.s GROUP BY 1, 2),
        l$i AS (SELECT node, label FROM (
                 SELECT node, label, row_number() OVER (PARTITION BY node
                   ORDER BY n DESC, label ASC) AS rn FROM m$i) WHERE rn = 1)"""
        }.mkString(",\n        ")
        s"""
        WITH $CoPurchaseSql,
        und AS (SELECT u AS s, v AS t FROM e
                UNION ALL SELECT v, u FROM e),
        dir AS (SELECT s, t FROM und
                UNION ALL SELECT DISTINCT s, s FROM und),
        m1 AS (SELECT d.t AS node, d.s AS label, count(*) AS n
               FROM dir d GROUP BY 1, 2),
        l1 AS (SELECT node, label FROM (
                 SELECT node, label, row_number() OVER (PARTITION BY node
                   ORDER BY n DESC, label ASC) AS rn FROM m1) WHERE rn = 1),
        $rounds
        SELECT node, label, CAST(7 AS INT) AS iters FROM l7"""
      }),

    Q(
      "gr04_connected_components",
      "Connected components as a first-class graph gate " +
        "(operators/ConnectedComponents — the hybrid min-label-" +
        "propagation + large-star/small-star contraction kernel that " +
        "clusters the d05/d06 near-dup cascade): every co-purchase " +
        "node labeled with the MIN node id of its component. The " +
        "hybrid runs 8 propagation rounds (one join + one keyed min " +
        "each) and, if the diameter exceeds that, contracts the " +
        "quotient graph and finishes with alternating stars (Kiveris " +
        "et al. SoCC'14) in O(log^2 n) rounds regardless of depth — " +
        "so the gate exercises the same kernel that must survive a " +
        "100k-node chain at 100 TB. Output is a pure graph property " +
        "(min id per component): exact integers, independent of " +
        "kernel, round count, partitioning or engine — the oracle " +
        "computes it as a recursive-CTE transitive closure, a " +
        "DIFFERENT algorithm agreeing on the same fixed point.",
      (s, d) => graft.operators.ConnectedComponents.minLabel(
        coPurchaseEdges(s, d), "pa", "pb"),
      Some(s"""
        WITH RECURSIVE $CoPurchaseSql,
        dir AS (SELECT u AS s, v AS t FROM e
                UNION ALL SELECT v, u FROM e),
        r(id, m) AS (
          SELECT s, s FROM dir
          UNION
          SELECT r.id, d.t FROM r JOIN dir d ON d.s = r.m)
        SELECT id, min(m) AS component FROM r GROUP BY 1""")),

    // ----- skew handling: two-stage salted aggregation -------------------------
    Q(
      "a16_salted_skew_agg",
      "Skew-safe aggregation (the salting pattern from the build brief: " +
        "events has only 5 event_type values — a catastrophic-skew key " +
        "at 100 TB): stage 1 aggregates by (key, salt=hash%16) spreading " +
        "each hot key over 16 reducers, stage 2 merges the 16 partials. " +
        "Result is provably identical to the direct groupBy — the " +
        "oracle is the plain GROUP BY.",
      (s, d) => {
        val e = Tables.events(s, d)
        val salted = e.groupBy(col("event_type"),
            pmod(hash(col("event_id")), lit(16)).as("__salt"))
          .agg(
            count(lit(1)).as("pn"),
            sum(col("value")).as("psum"),
            min(col("value")).as("pmin"),
            max(col("value")).as("pmax"))
        salted.groupBy(col("event_type"))
          .agg(
            sum(col("pn")).as("n"),
            round(sum(col("psum")), 2).as("total_value"),
            round(sum(col("psum")) / sum(col("pn")), 4).as("avg_value"),
            round(min(col("pmin")), 4).as("min_value"),
            round(max(col("pmax")), 4).as("max_value"))
      },
      Some("""
        SELECT event_type, count(*) AS n,
               round(sum(value), 2) AS total_value,
               round(sum(value) / count(*), 4) AS avg_value,
               round(min(value), 4) AS min_value,
               round(max(value), 4) AS max_value
        FROM events GROUP BY 1""")),

    // ----- pivot (wide crosstab — the dual of the J2/J9 unpivot family) ---------
    Q(
      "a17_pivot",
      "Pivot/crosstab: order counts and revenue spread wide by order " +
        "status — the report shape the reference builds by hand with " +
        "sum(CASE WHEN) columns and Spark expresses as groupBy().pivot() " +
        "with EXPLICIT values (explicit so the schema is deterministic " +
        "and no extra distinct-values job runs — the only pivot form " +
        "that is sane at 100 TB, where the implicit form would scan the " +
        "fact once just to learn the column set). Plans as two " +
        "hash-aggregate levels (per-(group,status) partials, then the " +
        "pivot fold) — the second exchange moves one row per group per " +
        "status, noise next to the fact scan.",
      (s, d) => {
        val o = Tables.orders(s, d)
        o.groupBy(col("o_orderpriority"))
          .pivot("o_orderstatus", Seq("F", "O", "P"))
          .agg(count(lit(1)).as("n"),
            round(sum(col("o_totalprice")), 2).as("rev"))
          .select(col("o_orderpriority"),
            coalesce(col("F_n"), lit(0L)).as("n_f"),
            coalesce(col("O_n"), lit(0L)).as("n_o"),
            coalesce(col("P_n"), lit(0L)).as("n_p"),
            col("F_rev").as("rev_f"),
            col("O_rev").as("rev_o"),
            col("P_rev").as("rev_p"))
      },
      Some("""
        SELECT o_orderpriority,
               CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS n_f,
               CAST(sum(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS n_o,
               CAST(sum(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END) AS BIGINT) AS n_p,
               round(sum(CASE WHEN o_orderstatus = 'F' THEN o_totalprice END), 2) AS rev_f,
               round(sum(CASE WHEN o_orderstatus = 'O' THEN o_totalprice END), 2) AS rev_o,
               round(sum(CASE WHEN o_orderstatus = 'P' THEN o_totalprice END), 2) AS rev_p
        FROM orders GROUP BY 1""")),

    Q(
      "j12_salted_skew_join",
      "Skew-safe shuffle JOIN (a16's join counterpart): events' 5-value " +
        "event_type key means a plain shuffle join lands each hot key " +
        "on ONE reducer at 100 TB. The fact side salts with " +
        "hash(event_id) % 16; the dim side replicates 16x with an " +
        "explicit salt column; the join runs on (key, salt) spreading " +
        "each hot key over 16 reducers, then the rollup merges salts. " +
        "SHUFFLE_HASH hint models production where the dim outgrows " +
        "broadcast; result is provably identical to the unsalted join " +
        "— the oracle is the plain join.",
      (s, d) => {
        val SALT = 16
        val e = Tables.events(s, d)
        val dim = e.select(col("event_type")).distinct()
          .withColumn("weight", length(col("event_type")).cast("double"))
        val saltedDim = dim.crossJoin(
          s.range(SALT).select(col("id").cast("int").as("__salt")))
        e.withColumn("__salt", pmod(hash(col("event_id")), lit(SALT)))
          .join(saltedDim.hint("SHUFFLE_HASH"), Seq("event_type", "__salt"))
          .groupBy(col("event_type"))
          .agg(
            count(lit(1)).as("n"),
            round(sum(col("value") * col("weight")), 2).as("weighted_sum"))
      },
      Some("""
        WITH dim AS (SELECT DISTINCT event_type,
                            CAST(len(event_type) AS DOUBLE) AS weight
                     FROM events)
        SELECT e.event_type, count(*) AS n,
               round(sum(e.value * d.weight), 2) AS weighted_sum
        FROM events e JOIN dim d USING (event_type)
        GROUP BY 1""")),

    Q(
      "a19_weighted_median",
      "Exact weighted median per group (robust stats: the " +
        "quantity-weighted median line-item price per return flag — " +
        "where a plain median misweights bulk lines): order rows in " +
        "each group by (value, unique tiebreak), running weight sum, " +
        "median = first value whose doubled cumulative weight reaches " +
        "the group total (the lower weighted median — a deterministic " +
        "convention both engines replay). One KEYED window per group " +
        "+ a tiny group agg — no global sort, no unpartitioned " +
        "window; at 100 TB this is the same shuffle a groupBy pays.",
      (s, d) => {
        val li = Tables.lineitem(s, d).select(
          col("l_returnflag").as("g"),
          col("l_extendedprice").as("v"),
          col("l_quantity").as("w"),
          col("l_orderkey"), col("l_linenumber"))
        val win = Window.partitionBy(col("g"))
          .orderBy(col("v").asc, col("l_orderkey").asc, col("l_linenumber").asc)
        val cum = li.withColumn("cw", sum(col("w")).over(win))
        val tot = li.groupBy(col("g")).agg(sum(col("w")).as("tw"))
        cum.join(broadcast(tot), Seq("g"))
          .filter(col("cw") * 2 >= col("tw"))
          .groupBy(col("g"))
          .agg(round(min(col("v")), 2).as("wmedian"))
      },
      Some("""
        WITH c AS (
          SELECT l_returnflag AS g, l_extendedprice AS v,
                 sum(l_quantity) OVER (PARTITION BY l_returnflag
                   ORDER BY l_extendedprice, l_orderkey, l_linenumber) AS cw,
                 sum(l_quantity) OVER (PARTITION BY l_returnflag) AS tw
          FROM lineitem)
        SELECT g, round(min(v), 2) AS wmedian
        FROM c WHERE cw * 2 >= tw GROUP BY 1""")),

    // ----- quantile feature binning via the two-stage global rank ---------------
    Q(
      "a18_decile_bands",
      "Decile feature-binning (the ML-pipeline discretization pass: " +
        "bucket each customer's total spend into 10 equal-population-" +
        "of-distinct-values bands): band = floor(idx * 10 / nd) over " +
        "the 0-based GlobalRank index of DISTINCT spend values — all " +
        "integer math after the rank, so bands are exact cross-engine. " +
        "The rank itself is the a11 two-stage operator (range-" +
        "repartition + per-partition window + broadcast offsets): NO " +
        "unpartitioned window anywhere, so the binning survives a " +
        "near-unique key at any cardinality. Oracle replays with " +
        "dense_rank over the distinct values.",
      (s, d) => {
        val spend = Tables.orders(s, d)
          .groupBy(col("o_custkey"))
          .agg(round(sum(col("o_totalprice")), 2).as("s"))
        val idx = graft.operators.GlobalRank
          .zeroBasedIndex(spend.select(col("s")).distinct(), "s")
        val nd = idx.agg(count(lit(1)).as("nd"))
        spend.join(idx, Seq("s")).crossJoin(broadcast(nd))
          .select(col("o_custkey"), col("s"),
            floor(col("idx") * 10 / col("nd")).as("band"))
          .groupBy(col("band"))
          .agg(count(lit(1)).as("n_cust"),
            round(min(col("s")), 2).as("lo"),
            round(max(col("s")), 2).as("hi"))
      },
      Some("""
        WITH spend AS (SELECT o_custkey, round(sum(o_totalprice), 2) AS s
                       FROM orders GROUP BY 1),
        d AS (SELECT s, dense_rank() OVER (ORDER BY s) - 1 AS idx
              FROM (SELECT DISTINCT s FROM spend)),
        nd AS (SELECT count(*) AS nd FROM d)
        SELECT CAST(floor(idx * 10 / nd.nd) AS BIGINT) AS band,
               count(*) AS n_cust,
               round(min(s), 2) AS lo, round(max(s), 2) AS hi
        FROM spend JOIN d USING (s) CROSS JOIN nd
        GROUP BY 1""")),

    // ----- P2/P3: filter + projection pushdown (TPC-H Q6 shape) ---------------
    Q(
      "p02_pushdown_agg",
      "Selective filter + narrow projection (P2/P3 + predicate pushdown " +
        "upgrade per SURVEY §4): TPC-H Q6 shape — the scan must show " +
        "PushedFilters on shipdate/discount/quantity and a 4-column " +
        "ReadSchema.",
      (s, d) => {
        val li = Tables.lineitem(s, d)
        val lo = java.time.LocalDateTime.of(1996, 1, 1, 0, 0)
        val hi = java.time.LocalDateTime.of(1997, 1, 1, 0, 0)
        li.filter(col("l_shipdate") >= lit(lo) && col("l_shipdate") < lit(hi)
            && col("l_discount") >= 0.05 && col("l_discount") <= 0.07
            && col("l_quantity") < 24)
          .agg(
            round(sum(col("l_extendedprice") * col("l_discount")), 2).as("revenue"),
            count(lit(1)).as("n"))
      },
      Some("""
        SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue,
               count(*) AS n
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1996-01-01'
          AND l_shipdate < TIMESTAMP '1997-01-01'
          AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24""")),

    // ----- F5: date functions ---------------------------------------------------
    Q(
      "f05_date_buckets",
      "Date bucketing + arithmetic (F5: season windows, 30-day chunks): " +
        "orders per calendar month with day-span stats.",
      (s, d) => {
        val o = Tables.orders(s, d)
        o.select(
            to_date(date_trunc("month", col("o_orderdate"))).as("month"),
            col("o_totalprice"),
            datediff(to_date(col("o_orderdate")), to_date(date_trunc("month", col("o_orderdate")))).as("day_in_month"))
          .groupBy(col("month"))
          .agg(
            count(lit(1)).as("n"),
            round(sum(col("o_totalprice")), 2).as("total"),
            max(col("day_in_month")).as("max_day_offset"))
      },
      Some("""
        SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
               count(*) AS n, round(sum(o_totalprice), 2) AS total,
               max(date_diff('day', CAST(date_trunc('month', o_orderdate) AS DATE),
                             CAST(o_orderdate AS DATE))) AS max_day_offset
        FROM orders GROUP BY 1""")),

    // ----- F6: JSON extraction ----------------------------------------------------
    Q(
      "f06_json_extract",
      "JSON field extraction (F6: teamStats JSON strings, " +
        "orchestrate.py:1188-1227): pull props.k out of the events JSON " +
        "column, cast leniently, aggregate.",
      (s, d) => {
        val e = Tables.events(s, d)
        e.select(
            col("event_type"),
            expr("try_cast(get_json_object(props, '$.k') AS BIGINT)").as("k"))
          .groupBy(col("event_type"))
          .agg(
            count(lit(1)).as("n"),
            sum(col("k")).as("k_sum"),
            sum(when(col("k").isNull, 1L).otherwise(0L)).as("k_nulls"),
            round(avg(col("k")), 4).as("k_avg"))
      },
      Some("""
        SELECT event_type, count(*) AS n,
               CAST(sum(TRY_CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS k_sum,
               CAST(sum(CASE WHEN TRY_CAST(json_extract_string(props, '$.k') AS BIGINT) IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS k_nulls,
               round(avg(TRY_CAST(json_extract_string(props, '$.k') AS BIGINT)), 4) AS k_avg
        FROM events GROUP BY 1""")),

    // ----- F7: zero-safe math, clamp, abs, round -----------------------------------
    Q(
      "f07_safe_math",
      "Safe math (F7: _io_helpers.py:70-91 safe_div, clamp [40,200]): " +
        "guarded ratios, least/greatest clamping, abs deviations.",
      (s, d) => {
        val li = Tables.lineitem(s, d)
        val p = Tables.part(s, d)
        li.join(broadcast(p), col("l_partkey") === col("p_partkey"))
          .groupBy(col("p_brand"))
          .agg(
            sum(col("l_extendedprice")).as("rev"),
            sum(col("l_quantity")).as("qty"),
            avg(col("l_discount")).as("adisc"),
            count(lit(1)).as("n"))
          .select(
            col("p_brand"), col("n"),
            round(when(col("qty") =!= 0.0, col("rev") / col("qty")), 4).as("price_per_unit"),
            round(least(greatest(when(col("qty") =!= 0.0, col("rev") / col("qty")), lit(100.0)), lit(2000.0)), 4).as("ppu_clamped"),
            round(abs(col("adisc") - 0.05), 4).as("disc_dev"))
      },
      Some("""
        SELECT p_brand, count(*) AS n,
               round(sum(l_extendedprice) / nullif(sum(l_quantity), 0), 4) AS price_per_unit,
               round(least(greatest(sum(l_extendedprice) / nullif(sum(l_quantity), 0), 100.0), 2000.0), 4) AS ppu_clamped,
               round(abs(avg(l_discount) - 0.05), 4) AS disc_dev
        FROM lineitem JOIN part ON l_partkey = p_partkey
        GROUP BY 1""")),

    // ----- F11: lenient casts ----------------------------------------------------------
    Q(
      "f11_try_cast",
      "Lenient casting (F11: _to_int/_to_float null-on-failure, " +
        "orchestrate.py:1230-1272): parse the numeric id out of c_name " +
        "with try_cast; a non-numeric column casts to all-null.",
      (s, d) => {
        val c = Tables.customer(s, d)
        c.select(
            expr("try_cast(element_at(split(c_name, '#'), 2) AS BIGINT)").as("parsed"),
            expr("try_cast(c_mktsegment AS BIGINT)").as("bogus"),
            col("c_custkey"))
          .agg(
            count(lit(1)).as("n"),
            sum(when(col("parsed") === col("c_custkey"), 1L).otherwise(0L)).as("n_match"),
            sum(when(col("parsed").isNull, 1L).otherwise(0L)).as("n_parse_null"),
            sum(when(col("bogus").isNull, 1L).otherwise(0L)).as("n_bogus_null"))
      },
      Some("""
        SELECT count(*) AS n,
               CAST(sum(CASE WHEN TRY_CAST(split_part(c_name, '#', 2) AS BIGINT) = c_custkey THEN 1 ELSE 0 END) AS BIGINT) AS n_match,
               CAST(sum(CASE WHEN TRY_CAST(split_part(c_name, '#', 2) AS BIGINT) IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_parse_null,
               CAST(sum(CASE WHEN TRY_CAST(c_mktsegment AS BIGINT) IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_bogus_null
        FROM customer""")),

    // ----- F12: stable hashing -----------------------------------------------------------
    Q(
      "f12_sha_fingerprint",
      "Stable content hashing (F12: utils.py:6-8 sha256 part naming): " +
        "sha2-256 fingerprint per document, plus an 8-hex-char short id.",
      (s, d) => {
        val docs = Tables.documents(s, d)
        docs.select(
          col("doc_id"),
          sha2(concat(col("lang"), lit(":"), col("text")), 256).as("fp"),
          substring(sha2(concat(col("lang"), lit(":"), col("text")), 256), 1, 8).as("fp8"))
      },
      Some("""
        SELECT doc_id, sha256(lang || ':' || text) AS fp,
               substring(sha256(lang || ':' || text), 1, 8) AS fp8
        FROM documents""")),

    // ----- S12/U2/A15: the SQL surface itself ----------------------------------------------
    Q(
      "sql01_union_validation",
      "The ad-hoc SQL surface (S12: Athena delegated to spark.sql; U2 + " +
        "A15: UNION ALL validation row counts, " +
        "bronze_silver_validation_queries.sql:44-60): the EXACT same ANSI " +
        "SQL text runs on spark.sql over registered views and on the " +
        "DuckDB oracle.",
      (s, d) => {
        graft.sources.LakeIO.registerTables(s, d)
        s.sql(Relational.ValidationSql)
      },
      Some(Relational.ValidationSql)),

    Q(
      "sql02_completeness_audit",
      "Data-completeness audit (A14/A15 + S12: " +
        "data_completeness_audit.sql:7-50, audit_lakehouse.py:187-245): " +
        "per-table record counts, duplicate-PK counts, null-FK counts, " +
        "and FK coverage pct — the EXACT same ANSI SQL text on spark.sql " +
        "and the DuckDB oracle.",
      (s, d) => {
        graft.sources.LakeIO.registerTables(s, d)
        s.sql(Relational.CompletenessSql)
      },
      Some(Relational.CompletenessSql)),

    Q(
      "sql03_validation_remaining",
      "The REMAINING per-table validation blocks (VERDICT r11 #6; " +
        "bronze_silver_validation_queries.sql:44-71): group counts " +
        "over every other registered table plus the block-2 'empty " +
        "seasons' ingestion-gap shape (GROUP BY ... HAVING count(*) " +
        "< threshold) - the EXACT same ANSI SQL text on spark.sql " +
        "over registered views and on the DuckDB oracle.",
      (s, d) => {
        graft.sources.LakeIO.registerTables(s, d)
        s.sql(Relational.ValidationSql2)
      },
      Some(Relational.ValidationSql2)),

    Q(
      "sql04_coverage_audit",
      "The LEFT JOIN DISTINCT coverage-%% audit block (VERDICT r11 " +
        "#6; data_completeness_audit.sql:27-50 Q2/Q3): per-season " +
        "parent counts, child-covered counts, gap, and ROUND(...,2) " +
        "coverage pct, orders~games/lineitem~plays and " +
        "customer/orders as the two coverage pairs - the EXACT same " +
        "ANSI SQL text on both engines.",
      (s, d) => {
        graft.sources.LakeIO.registerTables(s, d)
        s.sql(Relational.CoverageAuditSql)
      },
      Some(Relational.CoverageAuditSql)),

    // ----- W5/F9: exponential decay weighting ----------------------------------------------
    Q(
      "w05_decay_weights",
      "Recency decay weights (iterative_ratings.py:48-55): " +
        "w = 0.5^(days_ago/half_life) against the max date, weighted " +
        "average per group.",
      (s, d) => {
        val o = Tables.orders(s, d)
        val anchor = o.agg(max(to_date(col("o_orderdate"))).as("anchor"))
        o.crossJoin(broadcast(anchor))
          .withColumn("w", pow(lit(0.5),
            datediff(col("anchor"), to_date(col("o_orderdate"))).cast("double") / 90.0))
          .groupBy(col("o_orderstatus"))
          .agg(
            round(sum(col("w") * col("o_totalprice")) / sum(col("w")), 4).as("decayed_avg_price"),
            round(sum(col("w")), 4).as("effective_n"))
      },
      Some("""
        SELECT o_orderstatus,
               round(sum(w * o_totalprice) / sum(w), 4) AS decayed_avg_price,
               round(sum(w), 4) AS effective_n
        FROM (SELECT o_orderstatus, o_totalprice,
                     pow(0.5, date_diff('day', CAST(o_orderdate AS DATE),
                       (SELECT CAST(max(o_orderdate) AS DATE) FROM orders)) / 90.0) AS w
              FROM orders)
        GROUP BY 1"""))
  )
}
