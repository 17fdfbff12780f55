package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.QueryDef
import graft.sources.Tables
import graft.functions.det._

/** Extended analytics surface: interval/range join, exact quantiles,
  * bivariate statistics. */
object Extended {

  /** FLOOR division on a long column, not Spark's `div` (which
    * truncates toward zero): for negative epoch-µs values truncation
    * breaks q223's "later event is in band or band+1" invariant (pairs
    * straddling t=0 would be missed) and diverges from the DuckDB
    * oracle's `//`. pmod is non-negative, so (x - pmod(x, w)) div w is
    * exact floor division on longs. Shared by every banding/day-bucket
    * expression in this module (q223/q227/q230) so the subtle negative
    * case lives in exactly one place. */
  private def floorDiv(c: String, d: Long) =
    expr(s"($c - pmod($c, ${d}L)) div ${d}L")

  /** Range (interval) join: for each purchase, clicks by the same user
    * in the preceding hour. The equi-condition on user_id keys the
    * shuffle; the range predicate is evaluated inside the joined
    * partition, so the pair space is bounded per user — the streaming
    * "interval join" expressed in batch. */
  private val q41 = QueryDef(
    "q41_range_join_clicks_before_purchase",
    "interval join: clicks within 1h before each purchase, per user",
    Some("""
      SELECT p.user_id, p.event_id AS purchase_id,
             COUNT(c.event_id) AS n_clicks_1h
      FROM (SELECT * FROM events WHERE event_type = 'purchase') p
      LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
        ON c.user_id = p.user_id
       AND epoch_us(c.ts) >  epoch_us(p.ts) - 3600000000
       AND epoch_us(c.ts) <= epoch_us(p.ts)
      GROUP BY p.user_id, p.event_id
      ORDER BY p.user_id, purchase_id"""),
    (s, dir) => {
      val e = Tables.events(s, dir)
        .select(col("event_id"), col("user_id"), col("event_type"), col("ts_us"))
      val p = e.filter(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"), col("user_id"),
          col("ts_us").as("p_us"))
      val c = e.filter(col("event_type") === "click")
        .select(col("event_id").as("click_id"), col("user_id").as("c_uid"),
          col("ts_us").as("c_us"))
      p.join(c,
          col("user_id") === col("c_uid") &&
            col("c_us") > col("p_us") - 3600000000L &&
            col("c_us") <= col("p_us"),
          "left")
        .groupBy("user_id", "purchase_id")
        .agg(count(col("click_id")).as("n_clicks_1h"))
        .orderBy("user_id", "purchase_id")
    })

  /** Exact interpolated quantiles (percentile) — both engines sort and
    * linearly interpolate, so 4-dp rounding gives parity. At 100 TB the
    * approx_percentile sketch replaces this; exact quantiles stay viable
    * per-group when groups fit a reducer. */
  private val q42 = QueryDef(
    "q42_price_quantiles",
    "exact p25/p50/p75/p95 of order totalprice per status",
    Some("""
      SELECT o_orderstatus, COUNT(*) AS n,
             ROUND(quantile_cont(o_totalprice, 0.25), 4) AS p25,
             ROUND(quantile_cont(o_totalprice, 0.50), 4) AS p50,
             ROUND(quantile_cont(o_totalprice, 0.75), 4) AS p75,
             ROUND(quantile_cont(o_totalprice, 0.95), 4) AS p95
      FROM orders
      GROUP BY o_orderstatus
      ORDER BY o_orderstatus"""),
    (s, dir) =>
      Tables.orders(s, dir)
        .groupBy("o_orderstatus")
        .agg(
          count(lit(1)).as("n"),
          round(expr("percentile(o_totalprice, 0.25)"), 4).as("p25"),
          round(expr("percentile(o_totalprice, 0.50)"), 4).as("p50"),
          round(expr("percentile(o_totalprice, 0.75)"), 4).as("p75"),
          round(expr("percentile(o_totalprice, 0.95)"), 4).as("p95"))
        .orderBy("o_orderstatus"))

  /** Bivariate statistics: correlation + covariance of lineitem
    * quantity/price per return flag (co-moment accumulators merge
    * associatively — the same partial-aggregation shape as everything
    * else; 4-dp rounding absorbs engine ulp differences). */
  private val q43 = QueryDef(
    "q43_quantity_price_correlation",
    "corr + covar_samp of (l_quantity, l_extendedprice) per return flag",
    Some("""
      SELECT l_returnflag, COUNT(*) AS n,
             ROUND(corr(l_quantity, l_extendedprice), 4) + 0.0 AS qp_corr,
             ROUND(covar_samp(l_quantity / 100.0, l_extendedprice / 100000.0), 4) + 0.0 AS qp_covar_scaled
      FROM lineitem
      GROUP BY l_returnflag
      ORDER BY l_returnflag"""),
    (s, dir) =>
      Tables.lineitem(s, dir)
        .groupBy("l_returnflag")
        .agg(
          count(lit(1)).as("n"),
          (round(corr(col("l_quantity"), col("l_extendedprice")), 4) + lit(0.0)).as("qp_corr"),
          (round(covar_samp(col("l_quantity") / 100.0, col("l_extendedprice") / 100000.0), 4)
            + lit(0.0)).as("qp_covar_scaled"))
        .orderBy("l_returnflag"))

  // ---------------------------------------------------------------------
  // q165 — single-pass Pearson correlation matrix (moment form)
  // ---------------------------------------------------------------------

  /** All six pairwise Pearson correlations of (quantity, extendedprice,
    * discount, tax) from ONE scan: 15 exact-decimal moment aggregates
    * (n, four sums, four sums of squares, six cross-products) collapse
    * the fact table to a single row, and every r is then IEEE
    * arithmetic over those identical rounded doubles — the
    * partitioning-independent generalization of q43's built-in corr
    * (whose float accumulator is order-sensitive) to the full matrix at
    * one-scan cost. Columns are pre-scaled into O(1) range (quantity/100,
    * extendedprice/1e5) BEFORE squaring, the q143 magnitude discipline:
    * an unscaled Σprice² would reach ~1e15, where a double's ulp dwarfs
    * the 4-dp rounding grid and the two engines' ROUND can legitimately
    * disagree — correlation is invariant under the scaling, so nothing
    * is lost. The near-cancelling numerator (n·Sxy − SxSy) is the q148
    * caveat: accuracy degrades for |r| ≈ 0, parity does not. */
  private val q165 = QueryDef(
    "q165_correlation_matrix",
    "six pairwise Pearson correlations from one 15-moment scan",
    Some {
      val cols = Seq(
        "q" -> "l_quantity / 100.0", "p" -> "l_extendedprice / 100000.0",
        "d" -> "l_discount", "t" -> "l_tax")
      val sums = cols.map { case (a, e) => s"${dsumSql(e)} AS s_$a" }
      val sqs = cols.map { case (a, e) => s"${dsumSql(s"($e) * ($e)")} AS s_$a$a" }
      val pairs = cols.combinations(2).toSeq
      val crosses = pairs.map { case Seq((a, ea), (b, eb)) =>
        s"${dsumSql(s"($ea) * ($eb)")} AS s_$a$b" }
      val names = Map("q" -> "quantity", "p" -> "extendedprice",
        "d" -> "discount", "t" -> "tax")
      val rows = pairs.map { case Seq((a, _), (b, _)) =>
        s"""SELECT '${names(a)}_${names(b)}' AS pair, n,
           ROUND((n * s_$a$b - s_$a * s_$b)
                 / sqrt((n * s_$a$a - s_$a * s_$a)
                        * (n * s_$b$b - s_$b * s_$b)), 4) + 0.0 AS r
           FROM m"""
      }.mkString("\n      UNION ALL\n      ")
      s"""
      WITH m AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
                        ${(sums ++ sqs ++ crosses).mkString(",\n                        ")}
                 FROM lineitem)
      $rows
      ORDER BY pair"""
    },
    (s, dir) => {
      val cols = Seq(
        "q" -> (col("l_quantity") / 100.0),
        "p" -> (col("l_extendedprice") / 100000.0),
        "d" -> col("l_discount"),
        "t" -> col("l_tax"))
      val names = Map("q" -> "quantity", "p" -> "extendedprice",
        "d" -> "discount", "t" -> "tax")
      val pairs = cols.combinations(2).toSeq
      val aggs = cols.map { case (a, e) => dsum(e).as(s"s_$a") } ++
        cols.map { case (a, e) => dsum(e * e).as(s"s_$a$a") } ++
        pairs.map { case Seq((a, ea), (b, eb)) => dsum(ea * eb).as(s"s_$a$b") }
      val m = Tables.lineitem(s, dir)
        .agg(count(lit(1)).as("n"), aggs: _*)
      val rStructs = pairs.map { case Seq((a, _), (b, _)) =>
        val r = (col("n") * col(s"s_$a$b") - col(s"s_$a") * col(s"s_$b")) /
          sqrt((col("n") * col(s"s_$a$a") - col(s"s_$a") * col(s"s_$a")) *
            (col("n") * col(s"s_$b$b") - col(s"s_$b") * col(s"s_$b")))
        struct(lit(s"${names(a)}_${names(b)}").as("pair"),
          (round(r, 4) + lit(0.0)).as("r"))
      }
      m.select(col("n"), explode(array(rStructs: _*)).as("pr"))
        .select(col("pr.pair").as("pair"), col("n"), col("pr.r").as("r"))
        .orderBy("pair")
    })

  /** 200 derandomized uniforms in (0,1), shared by the Spark side and
    * the generated oracle SQL: u_j = (md5-60("boot:j") mod 1e6 + 1) /
    * 1000001 — a pure function of j, so both engines receive the SAME
    * literal array and the "randomness" is reproducible forever. */
  private val bootU: Seq[Double] = (1 to 200).map { j =>
    val hex = java.security.MessageDigest.getInstance("MD5")
      .digest(s"boot:$j".getBytes("UTF-8")).map("%02x".format(_)).mkString
    ((java.lang.Long.parseLong(hex.take(15), 16) % 1000000L) + 1L) / 1000001.0
  }

  /** Locale-pinned 6-dp formatting for numbers spliced into SQL/expr
    * text — the f-interpolator follows the JVM default locale, and a
    * comma decimal separator would corrupt the generated SQL. */
  private def fmt6(u: Double): String =
    String.format(java.util.Locale.ROOT, "%.6f", Double.box(u))

  // ---------------------------------------------------------------------
  // q166 — derandomized bootstrap CI via inverse-CDF resampling
  // ---------------------------------------------------------------------

  /** Uncertainty estimation without an RNG: 200 hash-derived uniforms
    * (the same literal array on both engines — see [[bootU]]) are pushed
    * through each event type's EXACT empirical inverse CDF with one
    * `percentile(value, array(...))` aggregate, giving a deterministic
    * bootstrap sample whose mean and [p05, p95] band sit next to the
    * true mean — the error-bar readout a metrics pipeline attaches to
    * every per-group statistic, derandomized so the hash gate can check
    * it. Plan: ONE aggregate per type produces the 200-slot percentile
    * array (map-side combinable percentile state), a bounded explode
    * unpacks it, and a 200-row-per-type re-aggregate finishes — no rank
    * window, no fact-sized shuffle beyond the percentile state. Each
    * drawn value is rounded 4-dp (interpolated percentiles are the q42
    * discipline); the band is the exact percentile of those 200 rounded
    * draws. */
  private val q166 = QueryDef(
    "q166_bootstrap_ci",
    "derandomized 200-draw bootstrap: mean and [p05,p95] band vs true mean",
    Some {
      val arr = bootU.map(fmt6).mkString(", ")
      s"""
      WITH b AS (SELECT event_type,
                        CAST(COUNT(*) AS BIGINT) AS n,
                        ${davgSql("value")} AS true_mean,
                        quantile_cont(value, [$arr]) AS qs
                 FROM events GROUP BY 1),
      d AS (SELECT event_type, n, true_mean,
                   ROUND(unnest(qs), 4) + 0.0 AS v
            FROM b)
      SELECT event_type, n, true_mean,
             ${davgSql("v")} AS boot_mean,
             ROUND(quantile_cont(v, 0.05), 4) + 0.0 AS boot_p05,
             ROUND(quantile_cont(v, 0.95), 4) + 0.0 AS boot_p95
      FROM d GROUP BY event_type, n, true_mean
      ORDER BY event_type"""
    },
    (s, dir) => {
      val b = Tables.events(s, dir).groupBy("event_type")
        .agg(count(lit(1)).as("n"), davg(col("value")).as("true_mean"),
          expr(s"percentile(value, array(${bootU.map(fmt6).mkString(", ")}))")
            .as("qs"))
      val d = b.select(col("event_type"), col("n"), col("true_mean"),
        explode(col("qs")).as("q"))
        .select(col("event_type"), col("n"), col("true_mean"),
          (round(col("q"), 4) + lit(0.0)).as("v"))
      d.groupBy("event_type", "n", "true_mean")
        .agg(davg(col("v")).as("boot_mean"),
          (round(expr("percentile(v, 0.05)"), 4) + lit(0.0)).as("boot_p05"),
          (round(expr("percentile(v, 0.95)"), 4) + lit(0.0)).as("boot_p95"))
        .orderBy("event_type")
    })

  /** KEYLESS interval self-join via BANDING — the at-scale sibling of
    * q41's equi-keyed range join. q41 bounds its pair space with the
    * user_id equi-key; a burst detector ("event pairs within 5 s of
    * each other, ANY users") has no such key, and the naive form is an
    * all-pairs theta join — quadratic in the corpus, a scale-killer.
    * The published fix (DuckDB's IEJoin paper ICDE'15 applies it
    * engine-side; Spark users band manually) maps each row to a time
    * band of the bound's width: a pair with 0 <= Δt <= W has its later
    * event in the earlier event's band or the next one, so exploding
    * the earlier side to {band, band+1} and EQUI-joining on the band
    * finds every pair EXACTLY ONCE (the later event's band is a single
    * value, so no dedup pass is needed). Candidate volume is events ×
    * events-per-band — linear in the corpus for a fixed rate — and the
    * band key shuffles like any equi-join (a hot burst second is a hot
    * key: AQE skew-split applies, heap stays O(1) per task in SMJ).
    * Canonical pair order (time, then event_id) keeps ties exact; all
    * arithmetic is integral (µs, integer division), so both engines
    * agree bit-for-bit. The DuckDB oracle states the NAIVE theta join
    * (its IEJoin evaluates it efficiently) — proving the banded
    * rewrite's exact equivalence on real data. */
  private val q223 = QueryDef(
    "q223_banded_burst_pairs",
    "keyless range self-join via banding: event pairs within 5s, per day",
    Some("""
      SELECT epoch_us(a.ts) // 86400000000 AS day_bucket,
             CAST(COUNT(*) AS BIGINT) AS n_pairs,
             CAST(SUM(CASE WHEN a.user_id <> b.user_id THEN 1 ELSE 0 END)
               AS BIGINT) AS n_cross_user,
             CAST(SUM(epoch_us(b.ts) - epoch_us(a.ts)) AS BIGINT) AS sum_gap_us
      FROM events a JOIN events b
        ON (epoch_us(b.ts) > epoch_us(a.ts) OR
            (epoch_us(b.ts) = epoch_us(a.ts) AND b.event_id > a.event_id))
       AND epoch_us(b.ts) - epoch_us(a.ts) <= 5000000
      GROUP BY 1
      ORDER BY day_bucket"""),
    (s, dir) => {
      val w = 5000000L // band width = the pair bound (5 s in µs)
      val e = Tables.events(s, dir)
        .select(col("event_id"), col("user_id"), col("ts_us"))
      val a = e.select(col("event_id").as("a_id"), col("user_id").as("a_uid"),
          col("ts_us").as("a_us"))
        .withColumn("band",
          explode(array(floorDiv("a_us", w), floorDiv("a_us", w) + lit(1L))))
      val b = e.select(col("event_id").as("b_id"), col("user_id").as("b_uid"),
          col("ts_us").as("b_us"), floorDiv("ts_us", w).as("band"))
      a.join(b, Seq("band"))
        .filter((col("b_us") > col("a_us") ||
            (col("b_us") === col("a_us") && col("b_id") > col("a_id"))) &&
          col("b_us") - col("a_us") <= w)
        .groupBy(floorDiv("a_us", 86400000000L).as("day_bucket"))
        .agg(count(lit(1)).as("n_pairs"),
          sum(when(col("a_uid") =!= col("b_uid"), 1L).otherwise(0L))
            .as("n_cross_user"),
          sum(col("b_us") - col("a_us")).as("sum_gap_us"))
        .orderBy("day_bucket")
    })

  /** The NAIVE form of q223's problem — saved by the optimizer, not by
    * the query. q223 bands its keyless range join BY HAND; q227 writes
    * the natural thing — a plain `join` whose only cross-side
    * predicates are interval bounds — and relies on
    * [[graft.plans.RangeJoinRewrite]] to turn it into the banded
    * equi-join. Both bounds are literal offsets of the anchor
    * timestamp, so the rule infers the provably-safe bin width (the
    * window length: each window spans at most two bins) with zero
    * configuration; PlanSpec pins the rewritten shape (bin equi-join,
    * no nested-loop join), and the DuckDB oracle states the same naive
    * theta join (its IEJoin evaluates it), so the hash gate proves the
    * automatic rewrite exact on real data. Without the rule this plan
    * is a BroadcastNestedLoopJoin — quadratic in the corpus at 100 TB.
    * Semantics: store-wide click rush in the 2 h after ANY high-value
    * purchase (cross-user by design — no equi-key exists). */
  private val q227 = QueryDef(
    "q227_auto_banded_click_rush",
    "naive keyless range join auto-banded by RangeJoinRewrite: clicks within 2h after any high-value purchase",
    Some("""
      WITH w AS (
        SELECT user_id AS w_uid, epoch_us(ts) AS w_us
        FROM events WHERE event_type = 'purchase' AND value >= 50.0
      ), c AS (
        SELECT user_id AS c_uid, epoch_us(ts) AS c_us
        FROM events WHERE event_type = 'click'
      )
      SELECT w_us // 86400000000 AS day_bucket,
             CAST(COUNT(*) AS BIGINT) AS n_pairs,
             CAST(SUM(CASE WHEN c_uid <> w_uid THEN 1 ELSE 0 END) AS BIGINT)
               AS n_cross_user,
             CAST(COUNT(DISTINCT c_uid) AS BIGINT) AS n_clickers,
             CAST(SUM(c_us - w_us) AS BIGINT) AS sum_lead_us
      FROM c JOIN w
        ON c_us > w_us AND c_us <= w_us + 7200000000
      GROUP BY 1
      ORDER BY day_bucket"""),
    (s, dir) => {
      val win = 7200000000L // 2 h in µs
      val e = Tables.events(s, dir)
        .select(col("event_id"), col("user_id"), col("event_type"),
          col("ts_us"), col("value"))
      val w = e.filter(col("event_type") === "purchase" && col("value") >= 50.0)
        .select(col("user_id").as("w_uid"), col("ts_us").as("w_us"))
      val c = e.filter(col("event_type") === "click")
        .select(col("user_id").as("c_uid"), col("ts_us").as("c_us"))
      // deliberately naive: no banding, no equi-key — the optimizer rule
      // owns the scale shape (floor division as in q223 for the grouping)
      c.join(w, col("c_us") > col("w_us") &&
          col("c_us") <= col("w_us") + lit(win))
        .groupBy(floorDiv("w_us", 86400000000L).as("day_bucket"))
        .agg(count(lit(1)).as("n_pairs"),
          sum(when(col("c_uid") =!= col("w_uid"), 1L).otherwise(0L))
            .as("n_cross_user"),
          countDistinct(col("c_uid")).as("n_clickers"),
          sum(col("c_us") - col("w_us")).as("sum_lead_us"))
        .orderBy("day_bucket")
    })

  /** The OTHER classic range-join shape: interval OVERLAP, written
    * naively — `a.hi >= b.lo AND b.hi >= a.lo` — and auto-banded by
    * [[graft.plans.RangeJoinRewrite]]'s overlap form (both sides
    * explode their bin ranges, pairs dedup at the first shared bin;
    * window lengths are data-dependent, so each side's width is its
    * sampled median length and the smaller one bands the join; the 1 h
    * `spark.graft.rangeJoin.binSize` is only the fallback when sampling
    * yields no width). Without the rule this is a
    * BroadcastNestedLoopJoin over all window pairs. Semantics:
    * incident correlation — per-user error windows (first..last error
    * that user emitted that day, ≥2 errors) that OVERLAP another
    * user's window signal a shared outage; ordered pairs (a < b) so
    * each co-occurrence counts once. Windows are day-bounded by
    * construction, so overlapping pairs share the day and the per-day
    * rollup is total. */
  private val q230 = QueryDef(
    "q230_overlap_incident_windows",
    "naive interval-overlap join auto-banded: co-occurring per-user error windows per day",
    Some("""
      WITH win AS (
        SELECT user_id AS uid, epoch_us(ts) // 86400000000 AS day,
               CAST(MIN(epoch_us(ts)) AS BIGINT) AS lo,
               CAST(MAX(epoch_us(ts)) AS BIGINT) AS hi
        FROM events WHERE event_type = 'error'
        GROUP BY 1, 2
        HAVING COUNT(*) >= 2)
      SELECT a.day AS day_bucket,
             CAST(COUNT(*) AS BIGINT) AS n_pairs,
             CAST(SUM(least(a.hi, b.hi) - greatest(a.lo, b.lo)) AS BIGINT)
               AS sum_overlap_us,
             CAST(MAX(least(a.hi, b.hi) - greatest(a.lo, b.lo)) AS BIGINT)
               AS max_overlap_us,
             CAST(COUNT(DISTINCT a.uid) AS BIGINT) AS n_lead_users
      FROM win a JOIN win b
        ON a.hi >= b.lo AND b.hi >= a.lo AND a.uid < b.uid
      GROUP BY 1
      ORDER BY day_bucket"""),
    (s, dir) => {
      val win = Tables.events(s, dir)
        .filter(col("event_type") === "error")
        .groupBy(col("user_id").as("uid"),
          floorDiv("ts_us", 86400000000L).as("day"))
        .agg(min("ts_us").as("lo"), max("ts_us").as("hi"),
          count(lit(1)).as("n_err"))
        .filter(col("n_err") >= 2)
        .drop("n_err")
      val a = win.select(col("uid").as("a_uid"), col("day").as("a_day"),
        col("lo").as("a_lo"), col("hi").as("a_hi"))
      val b = win.select(col("uid").as("b_uid"),
        col("lo").as("b_lo"), col("hi").as("b_hi"))
      val ov = least(col("a_hi"), col("b_hi")) - greatest(col("a_lo"), col("b_lo"))
      // deliberately naive overlap condition — bounds first (pairing is
      // chosen in condition order), then the ordering tie-break
      a.join(b, col("a_hi") >= col("b_lo") && col("b_hi") >= col("a_lo") &&
          col("a_uid") < col("b_uid"))
        .groupBy(col("a_day").as("day_bucket"))
        .agg(count(lit(1)).as("n_pairs"),
          sum(ov).as("sum_overlap_us"),
          max(ov).as("max_overlap_us"),
          countDistinct(col("a_uid")).as("n_lead_users"))
        .orderBy("day_bucket")
    })

  def defs: Seq[QueryDef] = Seq(q41, q42, q43, q165, q166, q223, q227, q230)
}
