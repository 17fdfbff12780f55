package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.QueryDef
import graft.sources.Tables
import graft.functions.det._
import graft.functions.{TopKLongPairs, TopKSummedLongPairs}

/** Remaining §2.5/§2.6 surface: supplier-side star join, CUBE with full
  * subtotal lattice, and the analytic-window family (running sums via
  * exact decimal accumulation, lag/lead). */
object Analytics {

  /** Supplier-side star join: lineitem ⋈ supplier ⋈ nation — the second
    * fact-to-dim path of the schema (supplier is small enough to
    * broadcast at any realistic scale: it grows with SF but stays ~MB/TB
    * of fact data; nation is constant). */
  private val q38 = QueryDef(
    "q38_supplier_revenue_by_nation",
    "revenue per supplier nation (lineitem ⋈ supplier ⋈ nation)",
    Some(s"""
      SELECT n_name, COUNT(DISTINCT s_suppkey) AS n_suppliers,
             ${dsumSql("l_extendedprice * (1.0 - l_discount)")} AS revenue,
             COUNT(*) AS n_lineitems
      FROM lineitem
      JOIN supplier ON l_suppkey = s_suppkey
      JOIN nation   ON s_nationkey = n_nationkey
      GROUP BY n_name
      ORDER BY n_name"""),
    (s, dir) =>
      Tables.lineitem(s, dir)
        .join(broadcast(Tables.supplier(s, dir)), col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(Tables.nation(s, dir)), col("s_nationkey") === col("n_nationkey"))
        .groupBy("n_name")
        .agg(
          countDistinct(col("s_suppkey")).as("n_suppliers"),
          dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue"),
          count(lit(1)).as("n_lineitems"))
        .orderBy("n_name"))

  /** CUBE: the full subtotal lattice over (priority, status) — all four
    * grouping-set combinations in one pass. */
  private val q39 = QueryDef(
    "q39_cube_priority_status",
    "cube(o_orderpriority, o_orderstatus): counts + revenue with all subtotals",
    Some(s"""
      SELECT COALESCE(o_orderpriority, 'ALL') AS priority,
             COALESCE(o_orderstatus, 'ALL') AS status,
             COUNT(*) AS n_orders,
             ${dsumSql("o_totalprice")} AS revenue
      FROM orders
      GROUP BY CUBE(o_orderpriority, o_orderstatus)
      ORDER BY priority, status"""),
    (s, dir) =>
      Tables.orders(s, dir)
        .cube(col("o_orderpriority"), col("o_orderstatus"))
        .agg(count(lit(1)).as("n_orders"), dsum(col("o_totalprice")).as("revenue"))
        .select(
          coalesce(col("o_orderpriority"), lit("ALL")).as("priority"),
          coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
          col("n_orders"), col("revenue"))
        .orderBy("priority", "status"))

  /** Analytic windows: per-customer running revenue (exact decimal
    * accumulation inside the frame so both engines agree bit-for-bit
    * regardless of their frame-sum algorithms), lag/lead neighbors, and
    * sequence numbers — one shuffle on o_custkey for all four. */
  private val q40 = QueryDef(
    "q40_running_revenue_per_customer",
    "running sum + lag/lead over each customer's order history",
    Some("""
      SELECT o_custkey, seq, o_orderkey, o_totalprice,
             ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(30,10))) OVER (
               PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
               ROWS UNBOUNDED PRECEDING) AS DOUBLE), 4) AS running_revenue,
             lag(o_totalprice) OVER (
               PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS prev_price,
             lead(o_totalprice) OVER (
               PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS next_price
      FROM (SELECT o_custkey, o_orderkey, o_orderdate, o_totalprice,
                   CAST(row_number() OVER (
                     PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS BIGINT) AS seq
            FROM orders)
      ORDER BY o_custkey, seq"""),
    (s, dir) => {
      val w = Window.partitionBy(col("o_custkey")).orderBy(col("o_orderdate"), col("o_orderkey"))
      val frame = w.rowsBetween(Window.unboundedPreceding, 0)
      Tables.orders(s, dir)
        .withColumn("seq", row_number().over(w).cast("long"))
        .withColumn("running_revenue",
          round(sum(col("o_totalprice").cast(org.apache.spark.sql.types.DecimalType(30, 10)))
            .over(frame).cast("double"), 4))
        .withColumn("prev_price", lag(col("o_totalprice"), 1).over(w))
        .withColumn("next_price", lead(col("o_totalprice"), 1).over(w))
        .select("o_custkey", "seq", "o_orderkey", "o_totalprice",
          "running_revenue", "prev_price", "next_price")
        .orderBy("o_custkey", "seq")
    })

  /** Ratio-to-total + positional window values: each nation's share of
    * global revenue (the unpartitioned SUM OVER () goes through an exact
    * DECIMAL accumulator — a float grand total would be summation-order-
    * sensitive), plus rank / first_value / nth_value over an explicit
    * full frame (the default frame with ORDER BY stops at CURRENT ROW,
    * which would silently change nth_value). 25 input rows: the global
    * window is dimension-sized, not fact-sized, at any scale. */
  private val q77 = QueryDef(
    "q77_revenue_share_window",
    "nation revenue share of total + rank/first_value/nth_value analytics",
    Some(s"""
      WITH rev AS (
        SELECT n_name, ${dsumSql("l_extendedprice * (1.0 - l_discount)")} AS revenue
        FROM lineitem
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation   ON s_nationkey = n_nationkey
        GROUP BY n_name)
      SELECT n_name, revenue,
             ROUND(revenue / CAST(SUM(CAST(revenue AS DECIMAL(30,10))) OVER () AS DOUBLE), 4)
               AS share,
             CAST(rank() OVER (ORDER BY revenue DESC, n_name) AS BIGINT) AS rev_rank,
             first_value(n_name) OVER w AS top_nation,
             nth_value(n_name, 2) OVER w AS runner_up
      FROM rev
      WINDOW w AS (ORDER BY revenue DESC, n_name
                   ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
      ORDER BY n_name"""),
    (s, dir) => {
      val rev = Tables.lineitem(s, dir)
        .join(Tables.supplier(s, dir), col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(Tables.nation(s, dir)), col("s_nationkey") === col("n_nationkey"))
        .groupBy("n_name")
        .agg(dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue"))
      val full = Window.orderBy(col("revenue").desc, col("n_name"))
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      rev.select(col("n_name"), col("revenue"),
          round(col("revenue") /
            sum(col("revenue").cast(org.apache.spark.sql.types.DecimalType(30, 10)))
              .over(Window.partitionBy()).cast("double"), 4).as("share"),
          rank().over(Window.orderBy(col("revenue").desc, col("n_name"))).cast("long")
            .as("rev_rank"),
          first_value(col("n_name")).over(full).as("top_nation"),
          nth_value(col("n_name"), 2).over(full).as("runner_up"))
        .orderBy("n_name")
    })

  /** Gini coefficient of customer revenue per market segment — the
    * concentration statistic behind "how skewed is this key's load /
    * this cohort's spend" questions (and a direct read on how much
    * salting a key needs). Uses the rank formulation over ascending
    * per-customer revenue, G = 2·Σ(i·xᵢ)/(n·Σx) − (n+1)/n:
    * per-customer revenue is an exact-decimal sum rounded at 4 dp (so
    * both engines rank identical values; ties break on custkey), and
    * Σ(i·xᵢ)/Σx ride the decimal accumulator again — the only float
    * ops are two final divisions of identical doubles. The rank runs
    * BUCKET-DECOMPOSED (q154/q149 pattern: local rank within
    * (segment, rev-bucket) + broadcast prefix counts), so no task ever
    * sorts a whole segment — the at-scale form of the rank-sum merge
    * trick; G can also be estimated from the q70/q80 histogram. */
  private val q91 = QueryDef(
    "q91_revenue_gini_by_segment",
    "Gini coefficient of per-customer revenue within each market segment",
    Some {
      // unrounded twin of det.dsumSql — the Gini numerator/denominator
      // stay exact decimal until the single final ROUND
      def exactSumSql(x: String) =
        s"CAST(SUM(CAST($x AS DECIMAL(30,10))) AS DOUBLE)"
      s"""
      WITH rev AS (SELECT c.c_mktsegment, o.o_custkey,
                          ${dsumSql("o.o_totalprice")} AS rev
                   FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
                   GROUP BY 1, 2),
      ranked AS (SELECT c_mktsegment, rev,
                        CAST(row_number() OVER (PARTITION BY c_mktsegment
                             ORDER BY rev, o_custkey) AS BIGINT) AS i
                 FROM rev)
      SELECT c_mktsegment, CAST(COUNT(*) AS BIGINT) AS n_customers,
             ${dsumSql("rev")} AS total_revenue,
             ROUND(2.0 * ${exactSumSql("i * rev")}
                   / (COUNT(*) * ${exactSumSql("rev")})
                   - (COUNT(*) + 1.0) / COUNT(*), 4) AS gini
      FROM ranked
      GROUP BY 1 ORDER BY 1"""
    },
    (s, dir) => {
      val rev = Tables.orders(s, dir)
        .join(broadcast(Tables.customer(s, dir)
          .select(col("c_custkey"), col("c_mktsegment"))),
          col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_mktsegment"), col("o_custkey"))
        .agg(dsum(col("o_totalprice")).as("rev"))
      // The oracle's rank window partitions by segment alone — the
      // 5-partition one-task-per-segment sort (round-11 verdict item
      // 3). Executed: the q154/q149 bucket-prefix decomposition —
      // local rank within (segment, rev-bucket) + broadcast per-bucket
      // count prefix. Ranks are exact integers (bucket = pure function
      // of rev, ascending bucket order = ascending rev order, ties
      // stay inside one bucket), so the decomposition is provably
      // rank-identical and the hash gate proves it on real data.
      val revB = rev.withColumn("bkt", floor(col("rev") / 100000).cast("long"))
      val ranked = graft.functions.ranks.bucketedGlobalRank(
        revB, Seq("c_mktsegment"), "bkt",
        Seq(col("rev"), col("o_custkey")), "i")
      import org.apache.spark.sql.types.DecimalType
      def exactSum(c: org.apache.spark.sql.Column) =
        sum(c.cast(DecimalType(30, 10))).cast("double")
      ranked.groupBy("c_mktsegment")
        .agg(
          count(lit(1)).as("n_customers"),
          dsum(col("rev")).as("total_revenue"),
          round(lit(2.0) * exactSum(col("i") * col("rev"))
              / (count(lit(1)) * exactSum(col("rev")))
            - (count(lit(1)) + lit(1.0)) / count(lit(1)), 4).as("gini"))
        .orderBy("c_mktsegment")
    })

  /** RFM customer segmentation WITHOUT a global window — the scale form
    * of the textbook `ntile(4)`-per-axis formulation: per-customer
    * recency (epoch-day of last order) / frequency (order count) /
    * monetary (exact-decimal revenue) reduce once, the nine quartile
    * boundaries are ONE one-row aggregate (exact interpolated
    * percentile — the q42 pairing) broadcast back, and each customer's
    * 1–4 score per axis is map-side comparison arithmetic. Where
    * `ntile` would shuffle every customer into one ordered partition
    * per axis, this is two passes over the customer aggregate and
    * nothing wider — at 100 TB the boundary row is bytes. Boundary
    * ties land deterministically (score counts customers strictly
    * above each boundary on bit-identical doubles). Output: the
    * populated cells of the 4×4×4 segment lattice with doc mass and
    * per-segment revenue. */
  private val q123 = QueryDef(
    "q123_rfm_segmentation",
    "RFM 4x4x4 segment lattice via broadcast quartile boundaries (no global sort)",
    Some(s"""
      WITH c AS (SELECT o_custkey,
                        CAST(MAX(CAST(o_orderdate AS DATE))
                             - DATE '1970-01-01' AS BIGINT) AS r,
                        CAST(COUNT(*) AS BIGINT) AS f,
                        ${dsumSql("o_totalprice")} AS m
                 FROM orders GROUP BY 1),
      b AS (SELECT quantile_cont(CAST(r AS DOUBLE), 0.25) AS r1,
                   quantile_cont(CAST(r AS DOUBLE), 0.50) AS r2,
                   quantile_cont(CAST(r AS DOUBLE), 0.75) AS r3,
                   quantile_cont(CAST(f AS DOUBLE), 0.25) AS f1,
                   quantile_cont(CAST(f AS DOUBLE), 0.50) AS f2,
                   quantile_cont(CAST(f AS DOUBLE), 0.75) AS f3,
                   quantile_cont(m, 0.25) AS m1,
                   quantile_cont(m, 0.50) AS m2,
                   quantile_cont(m, 0.75) AS m3
            FROM c),
      sc AS (SELECT 1 + (CASE WHEN r > r1 THEN 1 ELSE 0 END)
                      + (CASE WHEN r > r2 THEN 1 ELSE 0 END)
                      + (CASE WHEN r > r3 THEN 1 ELSE 0 END) AS score_r,
                    1 + (CASE WHEN f > f1 THEN 1 ELSE 0 END)
                      + (CASE WHEN f > f2 THEN 1 ELSE 0 END)
                      + (CASE WHEN f > f3 THEN 1 ELSE 0 END) AS score_f,
                    1 + (CASE WHEN m > m1 THEN 1 ELSE 0 END)
                      + (CASE WHEN m > m2 THEN 1 ELSE 0 END)
                      + (CASE WHEN m > m3 THEN 1 ELSE 0 END) AS score_m,
                    m
             FROM c CROSS JOIN b)
      SELECT score_r, score_f, score_m,
             CAST(COUNT(*) AS BIGINT) AS n_customers,
             ${dsumSql("m")} AS segment_revenue
      FROM sc GROUP BY 1, 2, 3 ORDER BY 1, 2, 3"""),
    (s, dir) => {
      val c = Tables.orders(s, dir)
        .groupBy("o_custkey")
        .agg(datediff(max(to_date(col("o_orderdate"))),
            lit("1970-01-01").cast("date")).cast("long").as("r"),
          count(lit(1)).as("f"),
          dsum(col("o_totalprice")).as("m"))
      val b = c.agg(
        expr("percentile(CAST(r AS DOUBLE), 0.25)").as("r1"),
        expr("percentile(CAST(r AS DOUBLE), 0.50)").as("r2"),
        expr("percentile(CAST(r AS DOUBLE), 0.75)").as("r3"),
        expr("percentile(CAST(f AS DOUBLE), 0.25)").as("f1"),
        expr("percentile(CAST(f AS DOUBLE), 0.50)").as("f2"),
        expr("percentile(CAST(f AS DOUBLE), 0.75)").as("f3"),
        expr("percentile(m, 0.25)").as("m1"),
        expr("percentile(m, 0.50)").as("m2"),
        expr("percentile(m, 0.75)").as("m3"))
      def score(v: Column, b1: Column, b2: Column, b3: Column) =
        lit(1) + when(v > b1, 1).otherwise(0) + when(v > b2, 1).otherwise(0) +
          when(v > b3, 1).otherwise(0)
      c.crossJoin(broadcast(b))
        .select(score(col("r"), col("r1"), col("r2"), col("r3")).as("score_r"),
          score(col("f"), col("f1"), col("f2"), col("f3")).as("score_f"),
          score(col("m"), col("m1"), col("m2"), col("m3")).as("score_m"),
          col("m"))
        .groupBy("score_r", "score_f", "score_m")
        .agg(count(lit(1)).as("n_customers"),
          dsum(col("m")).as("segment_revenue"))
        .orderBy("score_r", "score_f", "score_m")
    })

  /** Market-basket affinity over order line items — the pairwise core
    * of association-rule mining (frequent itemsets, support /
    * confidence / lift): which parts are bought TOGETHER more than
    * their popularity predicts. The basket self-join is an equi-join
    * on the order key — co-partitioned, never a cross product — with
    * per-order fan-out bounded by basket size (pairs per order =
    * C(items, 2)), and the pair counts feed partial aggregation
    * map-side; top-20 by the total (count, part_a, part_b) order rides
    * TakeOrdered, and the part-popularity and order-total factors join
    * back broadcast. Before any pair materializes, the A-PRIORI
    * MIN-SUPPORT PRUNE drops infrequent parts: a pair bought together
    * in ≥ k orders needs BOTH parts in ≥ k orders, so filtering to the
    * broadcast frequent-part set (support ≥ 2 — at or below the
    * rank-20 pair support at every fixture scale, so the top-20 is
    * provably unchanged; AnalyticsSpec asserts equality against the
    * unpruned form) can only discard pairs below the ranking floor. At
    * 100 TB, where a long-tail catalog makes singleton parts the bulk
    * of Σ C(basket, 2), this prune is the difference between the
    * standard first pass of distributed frequent-itemset mining and a
    * pairs-table blow-up. All counts are exact longs; the three ratios
    * are single rounded IEEE ops. */
  private val q124 = QueryDef(
    "q124_part_affinity",
    "top-20 co-purchased part pairs with support, confidence, and lift",
    Some("""
      WITH op AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p
                  FROM lineitem),
      n AS (SELECT CAST(COUNT(DISTINCT o) AS BIGINT) AS n_orders FROM op),
      pc AS (SELECT p, CAST(COUNT(*) AS BIGINT) AS np FROM op GROUP BY 1),
      opf AS (SELECT op.o, op.p FROM op
              JOIN (SELECT p FROM pc WHERE np >= 2) f USING (p)),
      pairs AS (SELECT a.p AS part_a, b.p AS part_b,
                       CAST(COUNT(*) AS BIGINT) AS n_ab
                FROM opf a JOIN opf b ON a.o = b.o AND a.p < b.p
                GROUP BY 1, 2),
      top AS (SELECT part_a, part_b, n_ab FROM pairs
              ORDER BY n_ab DESC, part_a, part_b LIMIT 20)
      SELECT t.part_a, t.part_b, t.n_ab,
             ROUND(CAST(t.n_ab AS DOUBLE) / n.n_orders, 4) + 0.0 AS support,
             ROUND(CAST(t.n_ab AS DOUBLE) / pa.np, 4) + 0.0 AS confidence,
             ROUND(CAST(t.n_ab AS DOUBLE) * n.n_orders / (pa.np * pb.np), 4)
               + 0.0 AS lift
      FROM top t JOIN pc pa ON pa.p = t.part_a
                 JOIN pc pb ON pb.p = t.part_b
           CROSS JOIN n
      ORDER BY t.n_ab DESC, t.part_a, t.part_b"""),
    (s, dir) => {
      // incidence, counts and the floored pair matrix from the shared
      // co-purchase MVs (the a-priori prune is baked into the view)
      val op = orderPartMV(s, dir)
      val n = op.agg(count_distinct(col("o")).cast("long").as("n_orders"))
      val pc = partCountsMV(s, dir)
      val pairs = coPairsMV(s, dir)
        .select(col("pa").as("part_a"), col("pb").as("part_b"), col("n_ab"))
      val top = pairs
        .orderBy(col("n_ab").desc, col("part_a"), col("part_b")).limit(20)
      top
        .join(broadcast(pc.select(col("p").as("part_a"), col("np").as("npa"))),
          Seq("part_a"))
        .join(broadcast(pc.select(col("p").as("part_b"), col("np").as("npb"))),
          Seq("part_b"))
        .crossJoin(broadcast(n))
        .select(col("part_a"), col("part_b"), col("n_ab"),
          (round(col("n_ab").cast("double") / col("n_orders"), 4) + 0.0)
            .as("support"),
          (round(col("n_ab").cast("double") / col("npa"), 4) + 0.0)
            .as("confidence"),
          (round(col("n_ab").cast("double") * col("n_orders")
            / (col("npa") * col("npb")), 4) + 0.0).as("lift"))
        .orderBy(col("n_ab").desc, col("part_a"), col("part_b"))
    })

  /** Repeat-purchase latency — the retention metric behind lifecycle
    * marketing and demand forecasting: per customer, the day gaps
    * between consecutive orders (lag window over the order dates,
    * ties broken by order key so the sequence is total-order
    * deterministic), then per market segment the gap distribution:
    * count, exact median and p90 (the q42 percentile pairing), and the
    * exact-decimal mean. The window partitions by customer — millions
    * of tiny partitions at scale, never global — and the segment
    * reduction is an ordinary partial+final aggregate; gaps are exact
    * integer day differences, so only the percentile interpolation and
    * the final rounding touch floating point. */
  private val q128 = QueryDef(
    "q128_purchase_latency",
    "per-segment distribution of day gaps between consecutive customer orders",
    Some(s"""
      WITH o AS (SELECT o_custkey,
                        CAST(o_orderdate AS DATE) AS d, o_orderkey
                 FROM orders),
      g AS (SELECT o_custkey,
                   d - lag(d) OVER (PARTITION BY o_custkey
                                    ORDER BY d, o_orderkey) AS gap
            FROM o),
      cg AS (SELECT c.c_mktsegment, CAST(g.gap AS BIGINT) AS gap
             FROM g JOIN customer c ON c.c_custkey = g.o_custkey
             WHERE g.gap IS NOT NULL)
      SELECT c_mktsegment, CAST(COUNT(*) AS BIGINT) AS n_gaps,
             ROUND(quantile_cont(CAST(gap AS DOUBLE), 0.50), 4) + 0.0
               AS median_gap,
             ROUND(quantile_cont(CAST(gap AS DOUBLE), 0.90), 4) + 0.0
               AS p90_gap,
             ${dsumSql("CAST(gap AS DOUBLE)")} AS total_gap_days
      FROM cg GROUP BY 1 ORDER BY 1"""),
    (s, dir) => {
      val g = Tables.orders(s, dir)
        .select(col("o_custkey"), to_date(col("o_orderdate")).as("d"),
          col("o_orderkey"))
        .withColumn("gap", datediff(col("d"), lag(col("d"), 1).over(
          Window.partitionBy("o_custkey").orderBy("d", "o_orderkey"))))
        .filter(col("gap").isNotNull)
        .select(col("o_custkey"), col("gap").cast("long").as("gap"))
      g.join(Tables.customer(s, dir)
          .select(col("c_custkey"), col("c_mktsegment")),
          col("o_custkey") === col("c_custkey"))
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n_gaps"),
          (round(expr("percentile(CAST(gap AS DOUBLE), 0.50)"), 4) + 0.0)
            .as("median_gap"),
          (round(expr("percentile(CAST(gap AS DOUBLE), 0.90)"), 4) + 0.0)
            .as("p90_gap"),
          dsum(col("gap").cast("double")).as("total_gap_days"))
        .orderBy("c_mktsegment")
    })

  /** Share-of-parent, the BI hierarchy ratio q07's rollup totals don't
    * give directly: each nation's revenue as a share of ITS REGION, and
    * each region's share of the world — two grouping levels with the
    * parent totals broadcast back into the child rows, so every output
    * row carries its own level-appropriate denominators. Nation and
    * region tables broadcast into the fact scan; the share divides are
    * IEEE over identical 4-dp decimal sums, round6. Both hierarchy
    * levels ride one fact collapse — the nation-grain aggregate is the
    * only fact-sized work and every rollup above it is
    * nation-domain-sized. */
  private val q183 = QueryDef(
    "q183_share_of_parent",
    "nation revenue share within region, region share of world, one scan",
    Some(s"""
      WITH n AS (SELECT r_name AS region, n_name AS nation,
                        ${dsumSql("o_totalprice")} AS rev
                 FROM orders
                 JOIN customer ON o_custkey = c_custkey
                 JOIN nation   ON c_nationkey = n_nationkey
                 JOIN region   ON n_regionkey = r_regionkey
                 GROUP BY 1, 2),
      rg AS (SELECT region AS rg_region, ${dsumSql("rev")} AS region_rev
             FROM n GROUP BY 1),
      w AS (SELECT ${dsumSql("region_rev")} AS world_rev FROM rg)
      SELECT region, nation, rev, region_rev, world_rev,
             ROUND(rev / region_rev, 6) + 0.0 AS share_of_region,
             ROUND(region_rev / world_rev, 6) + 0.0 AS region_share_of_world
      FROM n JOIN rg ON rg_region = region CROSS JOIN w
      ORDER BY region, nation"""),
    (s, dir) => {
      val n = Tables.orders(s, dir)
        .join(Tables.customer(s, dir), col("o_custkey") === col("c_custkey"))
        .join(broadcast(Tables.nation(s, dir)),
          col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(Tables.region(s, dir)),
          col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name").as("region"), col("n_name").as("nation"))
        .agg(dsum(col("o_totalprice")).as("rev"))
      val rg = n.groupBy(col("region").as("rg_region"))
        .agg(dsum(col("rev")).as("region_rev"))
      val w = rg.agg(dsum(col("region_rev")).as("world_rev"))
      n.join(broadcast(rg), col("region") === col("rg_region"))
        .crossJoin(broadcast(w))
        .select(col("region"), col("nation"), col("rev"), col("region_rev"),
          col("world_rev"),
          (round(col("rev") / col("region_rev"), 6) + lit(0.0))
            .as("share_of_region"),
          (round(col("region_rev") / col("world_rev"), 6) + lit(0.0))
            .as("region_share_of_world"))
        .orderBy("region", "nation")
    })

  /** Deterministic MODE — the holistic aggregate the built-in surface
    * skips: the most frequent order priority per segment, tie broken by
    * priority string ascending so the answer is pinned, not engine
    * luck. One bounded count lattice + WindowGroupLimit rank-1 (q04
    * discipline); share is one IEEE divide, round6. */
  private val q186 = QueryDef(
    "q186_modal_priority",
    "modal order priority per segment with deterministic tiebreak",
    Some("""
      WITH c AS (SELECT c_mktsegment AS segment, o_orderpriority AS pri,
                        CAST(COUNT(*) AS BIGINT) AS n
                 FROM orders JOIN customer ON o_custkey = c_custkey
                 GROUP BY 1, 2),
      t AS (SELECT segment, CAST(SUM(n) AS BIGINT) AS tot
            FROM c GROUP BY 1),
      r AS (SELECT segment, pri, n,
                   row_number() OVER (PARTITION BY segment
                                      ORDER BY n DESC, pri) AS rn
            FROM c)
      SELECT r.segment, pri AS modal_priority, n,
             ROUND(CAST(n AS DOUBLE) / tot, 6) + 0.0 AS share
      FROM r JOIN t ON t.segment = r.segment
      WHERE rn = 1
      ORDER BY r.segment"""),
    (s, dir) => {
      val c = Tables.orders(s, dir)
        .join(Tables.customer(s, dir), col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_mktsegment").as("segment"),
          col("o_orderpriority").as("pri"))
        .agg(count(lit(1)).as("n"))
      val t = c.groupBy(col("segment").as("tseg"))
        .agg(sum(col("n")).as("tot"))
      c.withColumn("rn", row_number().over(
          Window.partitionBy("segment").orderBy(col("n").desc, col("pri"))))
        .filter(col("rn") === 1)
        .join(broadcast(t), col("segment") === col("tseg"))
        .select(col("segment"), col("pri").as("modal_priority"), col("n"),
          (round(col("n").cast("double") / col("tot"), 6) + lit(0.0))
            .as("share"))
        .orderBy("segment")
    })

  /** Procurement price dispersion: for each part, how far apart are its
    * suppliers' BEST unit-price quotes? Per (part, supplier) the
    * minimum observed unit price — min/max of raw per-row doubles are
    * EXACT selections with no arithmetic, chosen deliberately over a
    * rounded mean after a davg draft hit the ROUND-of-derived-quotient
    * boundary on one of ~8k supplier means at sf0.1 — then per part the
    * supplier count and the spread (max−min)/min across quotes: the
    * arbitrage/mis-quote screen a sourcing desk runs. Single-supplier
    * parts are excluded (no spread to measure). Top-20 by dispersion
    * with partkey tiebreak rides TakeOrdered — no global sort; both
    * aggregates combine map-side. */
  private val q192 = QueryDef(
    "q192_supplier_price_dispersion",
    "top-20 parts by supplier best-quote spread (max-min)/min",
    Some(s"""
      WITH ps AS (SELECT l_partkey, l_suppkey,
                         MIN(l_extendedprice / l_quantity) AS unit
                  FROM lineitem GROUP BY 1, 2),
      p AS (SELECT l_partkey,
                   CAST(COUNT(*) AS BIGINT) AS n_suppliers,
                   MIN(unit) AS lo_unit, MAX(unit) AS hi_unit
            FROM ps GROUP BY 1)
      SELECT l_partkey, n_suppliers, lo_unit, hi_unit,
             ROUND((hi_unit - lo_unit) / lo_unit, 4) + 0.0 AS dispersion
      FROM p WHERE n_suppliers >= 2
      ORDER BY dispersion DESC, l_partkey LIMIT 20"""),
    (s, dir) => {
      // ONE exchange, keyed on l_partkey, serves BOTH aggregates (r17
      // verdict item 2 / guide §2.4): the (partkey, suppkey) pairs are
      // nearly unique per row (590,973 distinct of 600,000 rows at
      // sf0.1), so the default plan's map-side partial agg achieved ZERO
      // reduction and still paid a full (pk, sk) exchange PLUS a second
      // (pk) exchange. Hash-partitioning the raw quotes by l_partkey
      // satisfies ClusteredDistribution for both groupings (partition
      // exprs ⊆ grouping exprs), so the pair-min and the per-part
      // spread run back-to-back in one stage with no further exchange —
      // same bytes moved once instead of twice, one aggregate pass
      // saved. unit is computed before the exchange so the shuffle
      // carries 3 narrow columns. The explicit count makes this a
      // REPARTITION_BY_NUM exchange: it is pinned to the session
      // shuffle-partition conf (the core count under HarnessSession)
      // and AQE never coalesces it, so it does not follow the bytes.
      val ps = Tables.lineitem(s, dir)
        .select(col("l_partkey"), col("l_suppkey"),
          (col("l_extendedprice") / col("l_quantity")).as("q_unit"))
        .repartition(s.sessionState.conf.numShufflePartitions,
          col("l_partkey"))
        .groupBy("l_partkey", "l_suppkey")
        .agg(min(col("q_unit")).as("unit"))
      ps.groupBy("l_partkey")
        .agg(count(lit(1)).as("n_suppliers"),
          min(col("unit")).as("lo_unit"), max(col("unit")).as("hi_unit"))
        .filter(col("n_suppliers") >= 2)
        .select(col("l_partkey"), col("n_suppliers"), col("lo_unit"),
          col("hi_unit"),
          (round((col("hi_unit") - col("lo_unit")) / col("lo_unit"), 4)
            + lit(0.0)).as("dispersion"))
        .orderBy(col("dispersion").desc, col("l_partkey"))
        .limit(20)
    })

  // ---------------------------------------------------------------------
  // q197 — decision-stump split quality (Gini gain per candidate feature)
  // ---------------------------------------------------------------------

  /** Feature selection the way a distributed decision-tree builder
    * scores its first split: for each candidate categorical feature,
    * the weighted Gini impurity of the induced partition vs the parent,
    * targeting `order is 1-URGENT`. All impurity arithmetic is RATIONAL
    * in exact integer counts — gini(S) = 1 − (pos² + neg²)/n², and the
    * weighted child sum telescopes to Σ_c (n_c² − pos_c² − neg_c²)/n_c
    * divided by n — so each term is one IEEE divide of exact integers
    * (< 2^53 through sf100), summed through the decimal accumulator:
    * no libm, no order sensitivity, the q178/q179 exact-statistics
    * discipline applied to ML feature scoring. Plan: the three
    * candidate features unpivot through ONE explode over the joined
    * row (single fact pass, no per-feature rescans), children collapse
    * in one (feature, value) hash aggregate, and the parent scalars
    * broadcast — at 100 TB this is one shuffle of a 3×|values| table
    * regardless of fact size, the classic map-side histogram build of
    * distributed tree learners (PLANET-style). */
  private val q197 = QueryDef(
    "q197_gini_split_gain",
    "Gini impurity gain of candidate one-feature splits for urgent-order prediction",
    Some(s"""
      WITH base AS (SELECT CASE WHEN o.o_orderpriority = '1-URGENT'
                                THEN 1 ELSE 0 END AS pos,
                           c.c_mktsegment AS segment,
                           o.o_orderstatus AS status,
                           CAST(year(o.o_orderdate) AS VARCHAR) AS yr
                    FROM orders o JOIN customer c
                      ON c.c_custkey = o.o_custkey),
      u AS (SELECT pos, f.feature, f.val
            FROM base,
                 unnest([struct_pack(feature := 'c_mktsegment', val := segment),
                         struct_pack(feature := 'o_orderstatus', val := status),
                         struct_pack(feature := 'order_year', val := yr)])
                   AS t(f)),
      ch AS (SELECT feature, val,
                    CAST(COUNT(*) AS BIGINT) AS n_c,
                    CAST(SUM(pos) AS BIGINT) AS pos_c
             FROM u GROUP BY 1, 2),
      par AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
                     CAST(SUM(pos) AS BIGINT) AS pos
              FROM base),
      sc AS (SELECT feature,
                    CAST(COUNT(*) AS BIGINT) AS n_values,
                    ${dsumSql("CAST(n_c * n_c - pos_c * pos_c - (n_c - pos_c) * (n_c - pos_c) AS DOUBLE) / n_c")}
                      AS child_mass
             FROM ch GROUP BY feature)
      SELECT sc.feature, sc.n_values, par.n,
             ROUND(CAST(par.n * par.n - par.pos * par.pos
                        - (par.n - par.pos) * (par.n - par.pos) AS DOUBLE)
                   / (CAST(par.n AS DOUBLE) * par.n), 6) + 0.0 AS parent_gini,
             ROUND(sc.child_mass / par.n, 6) + 0.0 AS weighted_child_gini,
             ROUND(CAST(par.n * par.n - par.pos * par.pos
                        - (par.n - par.pos) * (par.n - par.pos) AS DOUBLE)
                   / (CAST(par.n AS DOUBLE) * par.n)
                   - sc.child_mass / par.n, 6) + 0.0 AS gini_gain
      FROM sc CROSS JOIN par
      ORDER BY sc.feature"""),
    (s, dir) => {
      val base = Tables.orders(s, dir)
        .join(Tables.customer(s, dir), col("o_custkey") === col("c_custkey"))
        .select(
          when(col("o_orderpriority") === "1-URGENT", 1).otherwise(0).as("pos"),
          col("c_mktsegment").as("segment"),
          col("o_orderstatus").as("status"),
          year(col("o_orderdate")).cast("string").as("yr"))
      val u = base.select(col("pos"), explode(array(
          struct(lit("c_mktsegment").as("feature"), col("segment").as("val")),
          struct(lit("o_orderstatus").as("feature"), col("status").as("val")),
          struct(lit("order_year").as("feature"), col("yr").as("val")))).as("f"))
        .select(col("pos"), col("f.feature").as("feature"), col("f.val").as("val"))
      val ch = u.groupBy("feature", "val")
        .agg(count(lit(1)).as("n_c"), sum(col("pos")).cast("long").as("pos_c"))
      val sc = ch.groupBy("feature")
        .agg(count(lit(1)).as("n_values"),
          dsum((col("n_c") * col("n_c") - col("pos_c") * col("pos_c")
            - (col("n_c") - col("pos_c")) * (col("n_c") - col("pos_c")))
            .cast("double") / col("n_c")).as("child_mass"))
      val par = base.agg(count(lit(1)).as("n"), sum(col("pos")).cast("long").as("pos"))
      val parentGini = (col("n") * col("n") - col("pos") * col("pos")
        - (col("n") - col("pos")) * (col("n") - col("pos"))).cast("double") /
        (col("n").cast("double") * col("n"))
      sc.crossJoin(broadcast(par))
        .select(col("feature"), col("n_values"), col("n"),
          (round(parentGini, 6) + 0.0).as("parent_gini"),
          (round(col("child_mass") / col("n"), 6) + 0.0).as("weighted_child_gini"),
          (round(parentGini - col("child_mass") / col("n"), 6) + 0.0).as("gini_gain"))
        .orderBy("feature")
    })

  // ---------------------------------------------------------------------
  // Shared co-purchase materialized views (round-10 verdict item 3):
  // q124 (association rules), q201 (item-item cosine) and q206 (CF
  // holdout evaluation) all start from the SAME distinct (order, part)
  // incidence, the same per-part order counts and the same floored
  // half co-occurrence matrix — previously each rebuilt the basket
  // self-join from scratch (~16% of the whole driver bench between
  // them). Like the dedup shingle/pair views, these are the
  // precomputed co-purchase tables a production recommender maintains
  // next to the fact table, keyed on the dataset fingerprint so a
  // regenerated fixture rebuilds them. Deterministic content (exact
  // integer counts), so consumers' results are bit-identical to the
  // inline recompute — CoPurchaseSpec pins that equivalence.
  // ---------------------------------------------------------------------

  /** Distinct (order, part) incidence over lineitem. */
  private[graft] def orderPartMV(s: SparkSession, dir: String): DataFrame =
    graft.sources.MaterializedViews.cached(s, dir, "order_part",
      srcFile = "lineitem.parquet") {
      Tables.lineitem(s, dir)
        .select(col("l_orderkey").as("o"), col("l_partkey").as("p")).distinct()
    }

  /** Per-part distinct-order counts over the full corpus. */
  private[graft] def partCountsMV(s: SparkSession, dir: String): DataFrame =
    graft.sources.MaterializedViews.cached(s, dir, "part_counts",
      srcFile = "lineitem.parquet") {
      orderPartMV(s, dir).groupBy("p").agg(count(lit(1)).as("np"))
    }

  /** Half co-occurrence matrix (pa < pb, n_ab = co-order count) over
    * parts with support >= 2 — the a-priori floor all three consumers
    * state in their oracles. The self-join runs ONCE per dataset here;
    * consumers read the (much smaller) pair parquet. */
  private[graft] def coPairsMV(s: SparkSession, dir: String): DataFrame =
    graft.sources.MaterializedViews.cached(s, dir, "copairs_sup2",
      srcFile = "lineitem.parquet") {
      val op = orderPartMV(s, dir)
      val pc = partCountsMV(s, dir)
      val opf = op.join(broadcast(pc.filter(col("np") >= 2).select(col("p"))),
        Seq("p"))
      opf.select(col("o"), col("p").as("pa"))
        .join(opf.select(col("o").as("o2"), col("p").as("pb")),
          col("o") === col("o2") && col("pa") < col("pb"))
        .groupBy("pa", "pb").agg(count(lit(1)).as("n_ab"))
    }

  // ---------------------------------------------------------------------
  // q201 — item-item collaborative filtering (cosine over co-purchases)
  // ---------------------------------------------------------------------

  /** The recommendation primitive next to q124's association rules:
    * item-item similarity as the COSINE of binary basket vectors,
    * cos(a,b) = n_ab / √(n_a·n_b) — q124's lift asks "more often than
    * chance?", this asks "how aligned are the buyer sets?", the
    * normalization classic item-based CF ranks neighbors by. Same
    * scale skeleton as q124, deliberately: distinct (order, part)
    * pairs, the a-priori support-≥2 broadcast prune ahead of the
    * basket self-join (a singleton part cannot reach any ranked pair),
    * map-side-combined pair counts, popularity factors broadcast back,
    * top-20 through TakeOrdered on the ROUNDED score (both engines
    * order identical bits) with (part_a, part_b) tie-breaks. √ of an
    * exact integer product is IEEE correctly-rounded — in the parity
    * surface sqrt is safe where log is not. */
  private val q201 = QueryDef(
    "q201_item_cf_cosine",
    "top-20 item-item cosine neighbors over co-purchase baskets",
    Some("""
      WITH op AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p
                  FROM lineitem),
      pc AS (SELECT p, CAST(COUNT(*) AS BIGINT) AS np FROM op GROUP BY 1),
      opf AS (SELECT op.o, op.p FROM op
              JOIN (SELECT p FROM pc WHERE np >= 2) f USING (p)),
      pairs AS (SELECT a.p AS part_a, b.p AS part_b,
                       CAST(COUNT(*) AS BIGINT) AS n_ab
                FROM opf a JOIN opf b ON a.o = b.o AND a.p < b.p
                GROUP BY 1, 2),
      sc AS (SELECT part_a, part_b, n_ab, pa.np AS n_a, pb.np AS n_b,
                    ROUND(CAST(n_ab AS DOUBLE)
                          / sqrt(CAST(pa.np * pb.np AS DOUBLE)), 6) + 0.0
                      AS cosine
             FROM pairs JOIN pc pa ON pa.p = part_a
                        JOIN pc pb ON pb.p = part_b)
      SELECT part_a, part_b, n_ab, n_a, n_b, cosine
      FROM sc
      ORDER BY cosine DESC, part_a, part_b LIMIT 20"""),
    (s, dir) => {
      // pair counts and popularity factors from the shared co-purchase
      // MVs (same floor, same self-join — computed once per dataset)
      val pc = partCountsMV(s, dir)
      val pairs = coPairsMV(s, dir)
        .select(col("pa").as("part_a"), col("pb").as("part_b"), col("n_ab"))
      pairs
        .join(broadcast(pc.select(col("p").as("part_a"), col("np").as("n_a"))),
          Seq("part_a"))
        .join(broadcast(pc.select(col("p").as("part_b"), col("np").as("n_b"))),
          Seq("part_b"))
        .select(col("part_a"), col("part_b"), col("n_ab"), col("n_a"),
          col("n_b"),
          (round(col("n_ab").cast("double")
            / sqrt((col("n_a") * col("n_b")).cast("double")), 6) + 0.0)
            .as("cosine"))
        .orderBy(col("cosine").desc, col("part_a"), col("part_b")).limit(20)
    })

  // ---------------------------------------------------------------------
  // q206 — recommender evaluation: leave-last-order-out precision@5
  // ---------------------------------------------------------------------

  /** The evaluation harness for q201's recommender: hold out each
    * customer's LAST order (temporal split — never random, so no
    * future leaks into the co-occurrence counts), build item
    * co-occurrence on the remaining train orders, recommend top-5
    * unseen parts per customer, and score precision/recall@5 plus the
    * user hit rate against the held-out basket. Scale discipline:
    * (a) the per-customer last-order split is a bounded window
    * (≤ orders-per-customer rows per key, never global); (b) the
    * co-matrix gets the q124 a-priori support floor AND top-10
    * NEIGHBOR TRUNCATION per item, fused into the aggregation as a
    * k-bounded-heap TypedImperativeAggregate ([[TopKLongPairs]]) — the
    * standard item-CF sparsification that caps the scoring join at
    * |train parts per user| × 10 candidates regardless of catalog
    * size, without the rank window's sort-exchange-sort-window pass;
    * (c) the whole scoring tail — per-(u,pb) score sum, train-set
    * exclusion, per-user top-5 — is ONE [[TopKSummedLongPairs]]
    * aggregate over candidate rows plus per-(u,p) tombstone rows,
    * walking the candidate set once where the anti-join → sum →
    * heap composition walked it three times (fusion ≡ the oracle's
    * NOT EXISTS; pinned by OperatorUnitSpec);
    * (d) the co-matrix joins only the pa < pb half and mirrors the
    * aggregated half (co-counts are symmetric — half the self-join
    * output for identical rows); (e) `recs` and `hp` are persisted so
    * the three scalar readout branches (rec counts, hit join, holdout
    * semi) run over the tiny materialized results instead of fanning
    * the full recommender DAG out 3× — that fan-out was the round-8
    * bench outlier. Integer co-counts and scores make every ranking
    * tie-break (score DESC, part ASC) an exact total order; the three
    * rates are single divides of exact counts.
    *
    * Measured (round-10 host, ~1.3× slower than round-9's): an
    * interleaved same-JVM A/B of the rank-window form vs this heap-
    * aggregate form over 4 alternating runs each at sf0.1 gave
    * window min/mean 6.9/10.2 s vs heap 6.6/8.4 s — a modest ~18%
    * mean win (WindowGroupLimit had already capped the window form's
    * shuffle volume; what the fusion removes is the residual
    * sort-exchange-sort and the WindowExec pass). The remaining cost
    * is the algorithm itself — a full train/evaluate CF cycle is
    * q201's co-matrix (~2 s) PLUS candidate scoring PLUS the holdout
    * readout; each stage is a bounded-key shuffle with no quadratic
    * blowup, which is the shape that survives a 100× scale-up. */
  private val q206 = QueryDef(
    "q206_cf_holdout_precision",
    "leave-last-order-out precision/recall@5 of the co-occurrence recommender",
    Some("""
      WITH lo AS (SELECT o_custkey AS u, o_orderkey,
                         ROW_NUMBER() OVER (PARTITION BY o_custkey
                           ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn,
                         COUNT(*) OVER (PARTITION BY o_custkey) AS no
                  FROM orders),
      tr AS (SELECT u, o_orderkey FROM lo WHERE rn > 1),
      ho AS (SELECT u, o_orderkey FROM lo WHERE rn = 1 AND no >= 2),
      op AS (SELECT DISTINCT tr.o_orderkey AS o, l_partkey AS p
             FROM tr JOIN lineitem ON l_orderkey = tr.o_orderkey),
      pc AS (SELECT p, CAST(COUNT(*) AS BIGINT) AS np FROM op GROUP BY 1),
      opf AS (SELECT op.o, op.p FROM op JOIN pc USING (p) WHERE np >= 2),
      co AS (SELECT a.p AS pa, b.p AS pb, CAST(COUNT(*) AS BIGINT) AS n
             FROM opf a JOIN opf b ON a.o = b.o AND a.p <> b.p
             GROUP BY 1, 2),
      nb AS (SELECT pa, pb, n FROM (
               SELECT pa, pb, n, ROW_NUMBER() OVER (PARTITION BY pa
                 ORDER BY n DESC, pb) AS r FROM co)
             WHERE r <= 10),
      tp AS (SELECT DISTINCT tr.u, l_partkey AS p
             FROM tr JOIN lineitem ON l_orderkey = tr.o_orderkey),
      hp AS (SELECT DISTINCT ho.u, l_partkey AS p
             FROM ho JOIN lineitem ON l_orderkey = ho.o_orderkey),
      sc AS (SELECT tp.u, nb.pb, CAST(SUM(nb.n) AS BIGINT) AS score
             FROM tp JOIN nb ON nb.pa = tp.p
             GROUP BY 1, 2),
      scx AS (SELECT * FROM sc WHERE NOT EXISTS
                (SELECT 1 FROM tp WHERE tp.u = sc.u AND tp.p = sc.pb)),
      recs AS (SELECT u, pb FROM (
                 SELECT u, pb, ROW_NUMBER() OVER (PARTITION BY u
                   ORDER BY score DESC, pb) AS r FROM scx)
               WHERE r <= 5),
      s1 AS (SELECT CAST(COUNT(DISTINCT u) AS BIGINT) AS n_users,
                    CAST(COUNT(*) AS BIGINT) AS n_recs FROM recs),
      hits AS (SELECT recs.u FROM recs JOIN hp
                 ON hp.u = recs.u AND hp.p = recs.pb),
      s2 AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_hits,
                    CAST(COUNT(DISTINCT u) AS BIGINT) AS n_hit_users FROM hits),
      s3 AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_holdout FROM hp
             WHERE EXISTS (SELECT 1 FROM recs WHERE recs.u = hp.u))
      SELECT 5 AS k, n_users, n_recs, n_hits, n_holdout,
             ROUND(CAST(n_hits AS DOUBLE) / n_recs, 4) + 0.0 AS precision_at_k,
             ROUND(CAST(n_hits AS DOUBLE) / n_holdout, 4) + 0.0 AS recall_at_k,
             ROUND(CAST(n_hit_users AS DOUBLE) / n_users, 4) + 0.0
               AS user_hit_rate
      FROM s1 CROSS JOIN s2 CROSS JOIN s3
      ORDER BY k"""),
    (s, dir) => {
      // Last-order split WITHOUT a window: the oracle's ROW_NUMBER()
      // DESC == 1 row is exactly the per-customer max of
      // (o_orderdate, o_orderkey) — a map-side-combinable max aggregate
      // plus an equi-join back, replacing the round-12 plan's
      // sort + two Window passes over the full orders table (~54
      // cumulative task-seconds in the StageMetrics profile, the #2
      // cost after candidate scoring). The lexicographic (date, key)
      // max is taken over an INJECTIVE decimal packing
      // unix_micros(o_orderdate)·10^15 + o_orderkey rather than
      // max(struct): a struct-typed agg buffer is not UnsafeRow-
      // mutable, so max(struct) plans as SortAggregate — a full sort
      // of orders (8.9 cumulative task-seconds in the round-14
      // profile) — while max(decimal(38,0)) rides HashAggregate. The
      // packing is exact and order-preserving at any scale: epoch
      // micros (~10^15 digits) shifted past 10^15 leave o_orderkey <
      // 10^15 headroom (TPC-H keys past exabyte SFs) inside
      // decimal(38)'s range; ntz→timestamp under the pinned UTC
      // session keeps full microsecond precision, so distinct
      // timestamps never collapse. The per-customer stats table is
      // |customers| rows; the join back to orders stays unhinted so
      // AQE broadcasts it at bench scale while the static plan remains
      // a safe shuffle at 100 TB.
      val pk = (unix_micros(col("o_orderdate").cast("timestamp"))
        .cast("decimal(20,0)") *
        lit("1000000000000000").cast("decimal(16,0)") +
        col("o_orderkey").cast("decimal(16,0)")).as("pk")
      val ordu = Tables.orders(s, dir).select(col("o_custkey").as("u"),
        col("o_orderkey"), pk)
      val custStats = ordu.groupBy("u").agg(
        max(col("pk")).as("lst"), count(lit(1)).as("no"))
      val lo = ordu.join(custStats, Seq("u"))
        .select(col("u"), col("o_orderkey"),
          (col("pk") === col("lst")).as("is_last"), col("no"))
      // DELTA form over the shared co-purchase MVs (round-10 verdict
      // item 3): every order is either TRAIN (rn > 1) or EXCLUDED (each
      // customer's LAST order, rn == 1 — single-order customers' only
      // orders are excluded from train but never scored), so per-order
      // statistics decompose exactly:
      //   np_train(p)   = np_all(p)   - np_excluded(p)
      //   co_train(a,b) = co_all(a,b) - co_excluded(a,b)
      // The full-corpus incidence/counts/pair matrix come from the MVs
      // (built once per dataset, shared with q124/q201); only the
      // EXCLUDED slice — one order per customer, ~1/orders-per-customer
      // of the corpus — pays a fresh self-join. The train-support floor
      // is applied AFTER differencing (F_train ⊆ {np_all >= 2}, so the
      // floored MV contains every pair the restricted matrix needs).
      // CoPurchaseSpec proves this delta co-matrix row-identical to the
      // inline train-only recompute; the oracle still states the
      // direct train-side computation.
      val opAll = orderPartMV(s, dir)
      val pcAll = partCountsMV(s, dir)
      // ONE shuffle join attaches the split position to the incidence
      // MV; tp (train user-part sets), hp (holdout sets) and the
      // excluded slice are all filters over this persisted frame.
      // Round-13 profile fix: the previous form joined tr/ho/exc
      // against opAll SEPARATELY — three shuffle joins over the same
      // ~|lineitem-distinct| incidence table where one suffices.
      // Persisted under the same lifecycle contract as recs/hp below
      // (harnesses clearCache() after each query).
      val opu = opAll.join(lo, col("o") === col("o_orderkey"))
        .select(col("u"), col("o"), col("p"), col("is_last"), col("no"))
        .persist()
      val opExc = opu.filter(col("is_last")).select("u", "o", "p")
      val pcExc = opExc.groupBy("p").agg(count(lit(1)).as("np_exc"))
      // fTrain is BROADCAST twice (both half-matrix sides) and read
      // once more inside the nbPlus broadcast build; persist it so
      // each collect is a cache read, not a fresh pcAll ⋈ pcExc job.
      val fTrain = pcAll.join(pcExc, Seq("p"), "left")
        .filter(col("np") - coalesce(col("np_exc"), lit(0L)) >= 2)
        .select("p").persist()
      val coAllF = coPairsMV(s, dir)
        .join(broadcast(fTrain.select(col("p").as("pa"))), Seq("pa"))
        .join(broadcast(fTrain.select(col("p").as("pb"))), Seq("pb"))
      // the excluded-slice self-join runs UNPRUNED (round-13 broadcast
      // audit: the fTrain prune here was one more broadcast + join on
      // the critical path for nothing — coAllF is already floored on
      // both sides, so excluded-slice pairs outside fTrain simply find
      // no left-join partner and differencing is unchanged)
      val opExcF = opExc.select("o", "p")
      val coExcHalf = opExcF.select(col("o"), col("p").as("pa"))
        .join(opExcF.select(col("o").as("o2"), col("p").as("pb")),
          col("o") === col("o2") && col("pa") < col("pb"))
        .groupBy("pa", "pb").agg(count(lit(1)).as("n_exc"))
      // no broadcast hint here: the excluded-slice pair set is tiny at
      // fixture scale (AQE converts to a broadcast join at runtime) but
      // grows with |customers| × basket² at 100 TB — the static plan
      // must stay a safe shuffle join rather than bake in an OOM
      val half = coAllF.join(coExcHalf, Seq("pa", "pb"), "left")
        .select(col("pa"), col("pb"),
          (col("n_ab") - coalesce(col("n_exc"), lit(0L))).as("n"))
        .filter(col("n") > 0)
      // Mirror the half matrix to the directed neighbor lists with an
      // IN-STAGE explode, not a union: unionByName(half, half.swap)
      // planned the ENTIRE half-matrix pipeline twice — the round-14
      // StageMetrics profile showed the 1.2M-row coPairs MV scan, both
      // fTrain broadcast joins AND the excluded-slice self-join each
      // executing in BOTH union branches (AQE's exchange reuse does not
      // unify them across the swapped projections). explode doubles the
      // rows inside the same codegen stage, so the pipeline runs once
      // and the directed rows flow straight into the heap aggregate.
      val co = half.select(explode(array(
          struct(col("pa"), col("pb"), col("n")),
          struct(col("pb").as("pa"), col("pa").as("pb"), col("n")))).as("e"))
        .select(col("e.pa").as("pa"), col("e.pb").as("pb"), col("e.n").as("n"))
      // Top-10 neighbor truncation FUSED INTO the aggregation (the
      // round-9 verdict's named lever): one k-bounded-heap aggregate per
      // pa replaces the rank window's sort + exchange + sort + window
      // pass. The heap ordering (n desc, pb asc) is exactly the window's
      // ORDER BY, so the kept set is row-identical; TopKSpec pins the
      // equivalence on randomized inputs including ties.
      val nb = co.groupBy("pa")
        .agg(TopKLongPairs.topkPairs(col("n"), col("pb"), 10).as("top"))
        .select(col("pa"), explode(col("top")).as("t"))
        .select(col("pa"), col("t.v").as("pb"), col("t.ord").as("n"))
      // Train user-part set: ONE exchange total — the explicit hash(u)
      // repartition LANDS the rows where every downstream step needs
      // them, and the distinct's ClusteredDistribution(u, p) is
      // satisfied by hash(u) (subset clustering), so dedup, the
      // broadcast candidate join and the scoring aggregate all run
      // in-stage on top of it with no further exchange. The explicit
      // partition count matters: tp is ~8 MB and AQE's coalescing
      // otherwise collapses the stage to ONE partition,
      // single-threading the 5.9M-row scoring pipeline (observed in
      // the round-13 profile — a 9.5 s serial stage); a user-specified
      // numPartitions is exempt. No persist: since the tombstones ride
      // the broadcast side, the fused scoring join is tp's only
      // consumer.
      val tp = opu.filter(!col("is_last"))
        .select(col("u"), col("p"))
        .repartition(s.sessionState.conf.numShufflePartitions, col("u"))
        .distinct()
      val hp = opu.filter(col("is_last") && col("no") >= 2)
        .select(col("u"), col("p")).distinct().persist()
      // WHOLE scoring tail — per-(u,pb) score sum, train-set exclusion,
      // per-user top-5 — as ONE graft_topk_sum aggregate over the
      // candidate join output: the broadcast side carries, besides the
      // top-10 neighbor lists, one TOMBSTONE self-entry (pa=p, pb=p,
      // huge negative n) per floored part, so the join emits the
      // exclusion rows map-side alongside the candidates and the
      // aggregate's positive-total rule drops every trained part's
      // sunk total — exactly the oracle's NOT EXISTS, evaluated inside
      // the aggregation. (Candidate pb-space is ⊆ fTrain — both co
      // sides are floor-filtered — so fTrain self-entries cover every
      // excludable pb.) The round-13 profile showed the previous chain
      // (SHUFFLE_HASH anti → partial+final (u,pb) hash agg → per-user
      // heap) walking the 5.2M candidate rows three times — 7.7 s anti
      // build + 48.8 s hash agg + 45.4 s heap partial, cumulative — to
      // keep 5 rows per user; the fused form walks them ONCE (one map
      // upsert per row). OperatorUnitSpec pins row-equality of the
      // fusion against the anti+sum+rank composition on randomized
      // inputs. Scale shape: per-user state is ≤ 11 ×
      // train-parts-per-user map entries, never corpus-sized.
      val nbPlus = nb.unionByName(fTrain.select(col("p").as("pa"),
        col("p").as("pb"),
        lit(TopKSummedLongPairs.Tombstone).as("n")))
      // tp is already hash(u)-partitioned (see its build above): the
      // broadcast join preserves that partitioning, so the scoring
      // aggregate runs partial+final in-stage with NO exchange of the
      // 5.9M joined rows — the only scoring shuffle is the 600k-row
      // train-set repartition.
      val fused = tp
        .join(broadcast(nbPlus), col("pa") === col("p"))
        .select(col("u"), col("pb"), col("n"))
      // recs (≤5 rows/user) and hp feed TWO readout branches (the
      // hit join, the holdout semi-join) — persist both so the whole
      // recommender pipeline executes ONCE, not once per branch.
      // LIFECYCLE CONTRACT: the fn returns a LAZY DataFrame, so it
      // cannot unpersist (the readout would re-fan the DAG when the
      // caller finally executes). Graft's harnesses (Verify/Bench/test
      // specs) call spark.catalog.clearCache() after each query; an
      // external caller running query fns directly owes the same
      // teardown or these two small cached results accumulate.
      // This
      // was the real triplication behind the round-8 bench outlier: the
      // scalar readout fanned the full co-matrix + scoring DAG out 3×.
      val recs = fused.groupBy("u")
        .agg(TopKSummedLongPairs.topkSum(col("pb"), col("n"), 5).as("top"))
        .select(col("u"), explode(col("top.v")).as("pb")).persist()
      // TWO readout branches, not three (round-13 broadcast audit: the
      // executed plan carried 20 serial broadcast round-trips; every
      // branch costs jobs + collects): rec counts and hit counts come
      // from ONE left join of recs against the holdout sets — hp is
      // distinct (u, p), so each rec row matches at most once and
      // count(*) is still |recs| — leaving only the holdout semi-join
      // as the second branch.
      val hpr = hp.select(col("u").as("hu"), col("p").as("hp_p"))
      val ra = recs.join(hpr,
          col("u") === col("hu") && col("pb") === col("hp_p"), "left")
        .select(col("u").as("ru"), col("hp_p").isNotNull.as("hit"))
      val s12 = ra.agg(countDistinct("ru").as("n_users"),
        count(lit(1)).as("n_recs"),
        sum(when(col("hit"), 1L).otherwise(0L)).as("n_hits"),
        countDistinct(when(col("hit"), col("ru"))).as("n_hit_users"))
      val s3 = hp.join(recs.select("u").distinct(), Seq("u"), "left_semi")
        .agg(count(lit(1)).as("n_holdout"))
      s12.crossJoin(s3)
        .select(lit(5).as("k"), col("n_users"), col("n_recs"), col("n_hits"),
          col("n_holdout"),
          (round(col("n_hits").cast("double") / col("n_recs"), 4) + 0.0)
            .as("precision_at_k"),
          (round(col("n_hits").cast("double") / col("n_holdout"), 4) + 0.0)
            .as("recall_at_k"),
          (round(col("n_hit_users").cast("double") / col("n_users"), 4) + 0.0)
            .as("user_hit_rate"))
        .orderBy("k")
    })

  def defs: Seq[QueryDef] =
    Seq(q38, q39, q40, q77, q91, q123, q124, q128, q183, q186, q192, q197,
      q201, q206)
}
