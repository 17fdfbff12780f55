package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Property layer (SURVEY.md §5): algebraic laws that must hold for any
  * input — seeded generated inputs where generation helps, the fixtures
  * where the law is about the real pipeline. */
class PropertySpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  test("wordcount masses balance: sum of counts == total token count") {
    val docs = graft.sources.Tables.documents(spark, sf)
    val total = docs.select(size(split($"text", " ")).cast("long").as("n"))
      .agg(sum($"n")).as[Long].head()
    val counted = SparkEntry.queries("q11_wordcount")(spark, sf)
      .agg(sum($"n")).as[Long].head()
    assert(counted == total)
  }

  test("exact dedup is idempotent: distinct(distinct(x)) == distinct(x)") {
    val d = graft.sources.Tables.documents(spark, sf).select($"text").distinct()
    assert(d.count() == d.distinct().count())
  }

  test("top-k monotonicity: top-3 orders per customer ⊆ top-5") {
    val orders = graft.sources.Tables.orders(spark, sf)
    def topk(k: Int) = {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy($"o_custkey").orderBy($"o_totalprice".desc, $"o_orderkey")
      orders.withColumn("rn", row_number().over(w)).filter($"rn" <= k)
        .select($"o_orderkey").as[Long].collect().toSet
    }
    assert(topk(3).subsetOf(topk(5)))
  }

  test("pigeonhole lemma: Hamming<=6 pairs always share one of the 7 chunks") {
    // the q24 candidate-generation guarantee, checked on seeded random
    // signature pairs mutated by exactly d <= 6 bit flips
    val rnd = new scala.util.Random(7)
    def chunks(sig: Long): Seq[Long] = (0 until 7).map(k => (sig >>> (k * 9)) & 511L)
    for (_ <- 1 to 500) {
      val a = rnd.nextLong() & ((1L << 60) - 1)
      val d = rnd.nextInt(7) // 0..6 flips
      val flipped = rnd.shuffle((0 until 60).toList).take(d)
        .foldLeft(a)((s, b) => s ^ (1L << b))
      assert(java.lang.Long.bitCount(a ^ flipped) <= 6)
      assert(chunks(a).zip(chunks(flipped)).exists { case (x, y) => x == y },
        s"no shared chunk for d=$d flips")
    }
    // and the bucket join's candidate condition is exact on the boundary:
    // 7 flips spread one per chunk CAN miss every chunk (why 7 chunks is
    // the minimum for threshold 6, not a convenience)
    val base = 0L
    val spread = (0 until 7).foldLeft(base)((s, k) => s ^ (1L << (k * 9)))
    assert(chunks(base).zip(chunks(spread)).forall { case (x, y) => x != y })
  }

  test("DotProduct is commutative and scales linearly (seeded generated inputs)") {
    val rnd = new scala.util.Random(42)
    val rows = Seq.fill(25)((
      List.fill(8)(rnd.nextDouble() * 20 - 10),
      List.fill(8)(rnd.nextDouble() * 20 - 10)))
    val df = rows.toDF("a", "b")
    val got = df.select(
      graft.functions.DotProduct.dot($"a", $"b").as("ab"),
      graft.functions.DotProduct.dot($"b", $"a").as("ba"),
      graft.functions.DotProduct.dot(transform($"a", x => x * 2), $"b").as("a2b"))
      .collect()
    got.foreach { r =>
      assert(r.getDouble(0) == r.getDouble(1))
      assert(math.abs(r.getDouble(2) - 2 * r.getDouble(0)) < 1e-9)
    }
  }

  test("jaccard bounds: every reported pair has 0.5 <= j <= 1.0 and inter <= min(sz)") {
    val rows = SparkEntry.queries("q22_neardup_jaccard")(spark, sf).collect()
    rows.foreach { r =>
      val inter = r.getAs[Long]("inter")
      val sa = r.getAs[Long]("sz_a"); val sb = r.getAs[Long]("sz_b")
      val j = r.getAs[Double]("jaccard")
      assert(j >= 0.5 && j <= 1.0)
      assert(inter <= math.min(sa, sb))
    }
  }

  test("session windows partition events exactly: Σ n_events == |events|") {
    val n = graft.sources.Tables.events(spark, sf).count()
    val sessSum = SparkEntry.queries("q20_session_windows")(spark, sf)
      .agg(sum($"n_events")).as[Long].head()
    assert(sessSum == n)
  }

  test("sliding windows cover each event exactly 6 times") {
    val n = graft.sources.Tables.events(spark, sf).count()
    val winSum = SparkEntry.queries("q19_sliding_6h_1h_counts")(spark, sf)
      .agg(sum($"n")).as[Long].head()
    assert(winSum == 6 * n)
  }

  test("interleave closed form == sort definition for arbitrary source-size configs") {
    // The q105/q116 position formula — pos(s, r) = Σ_{s'} min(|s'|, r−1)
    //   + |{s' < s : |s'| ≥ r}| + 1 — must equal the 1-based index under
    // the defining total order (rank, source) for ANY multiset of source
    // sizes, not just the fixture's. Pure-JVM check over seeded random
    // configs including the adversarial shapes (single source, all size
    // one, highly skewed).
    val rnd = new scala.util.Random(42)
    val configs =
      Seq(Map("a" -> 1), Map("a" -> 5), Map("a" -> 1, "b" -> 1, "c" -> 1),
        Map("a" -> 7, "b" -> 1), Map("a" -> 1, "b" -> 9, "c" -> 3)) ++
        (1 to 20).map { _ =>
          (0 until (1 + rnd.nextInt(6)))
            .map(i => s"s$i" -> (1 + rnd.nextInt(12))).toMap
        }
    configs.foreach { sizes =>
      val docs = sizes.toSeq.flatMap { case (s, n) => (1 to n).map(r => (s, r)) }
      val sorted = docs.sortBy { case (s, r) => (r, s) }
      val byDefinition = sorted.zipWithIndex.map { case (d, i) => d -> (i + 1L) }.toMap
      docs.foreach { case (s, r) =>
        val closed = sizes.values.map(n => math.min(n.toLong, r - 1L)).sum +
          sizes.count { case (s2, n2) => s2 < s && n2 >= r } + 1L
        assert(closed == byDefinition((s, r)),
          s"config $sizes: pos($s, $r) closed=$closed sort=${byDefinition((s, r))}")
      }
    }
  }

  // --------------------------------------------------------------------
  // Generated-history references for the temporal operators: a seeded
  // synthetic events table (coarse timestamps FORCE ts ties, users with
  // no signup / signup-only histories are present by construction) is
  // written as parquet and fed through the REAL query functions, then
  // compared against brute-force Scala references. This checks the
  // operators on data shapes the fixture cannot produce.
  // --------------------------------------------------------------------

  /** (event_id, ts_ns, user_id, event_type, value) — ts granularity is
    * whole hours over 40 days so repeated (user, ts) pairs occur, making
    * the (ts, event_id) tiebreak load-bearing. */
  private lazy val genEvents: Seq[(Long, Long, Long, String, Double)] = {
    val rnd = new scala.util.Random(987654)
    val types = Vector("click", "view", "purchase", "signup", "error")
    (1 to 600).map { i =>
      val uid = rnd.nextInt(25).toLong
      val tsUs = (rnd.nextInt(40) * 24L + rnd.nextInt(24)) * 3600L * 1000000L
      (i.toLong, tsUs * 1000L, uid, types(rnd.nextInt(types.length)),
        math.floor(rnd.nextDouble() * 1000) / 10)
    }
  }

  private lazy val genDir: String = {
    val dir = TestSpark.tempDir("graft_genev").toString
    genEvents.map(e => (e._1, e._2, e._3, e._4, e._5,
        s"""{"k": ${(e._1 * 7) % 23}}"""))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    dir
  }

  private def genPropsK(eventId: Long): Long = (eventId * 7) % 23

  private def tsUsOf(e: (Long, Long, Long, String, Double)): Long = e._2 / 1000
  private def dayOf(tsUs: Long): Long = tsUs / 86400000000L

  test("q145 funnel == brute-force reference on generated histories with ts ties") {
    val r = SparkEntry.queries("q145_sequential_funnel")(spark, genDir)
      .collect().head
    val byUser = genEvents.groupBy(_._3)
    val horizon = 7L * 86400L * 1000000L
    var ns = 0L; var nv = 0L; var np = 0L
    byUser.values.foreach { es =>
      val sorted = es.sortBy(e => (tsUsOf(e), e._1))
      val su = sorted.filter(_._4 == "signup").map(tsUsOf).minOption
      su.foreach { s =>
        ns += 1
        val vu = sorted.filter(e => e._4 == "view" && tsUsOf(e) > s)
          .map(tsUsOf).minOption
        vu.foreach { v =>
          nv += 1
          val pu = sorted.filter(e => e._4 == "purchase" && tsUsOf(e) > v &&
            tsUsOf(e) <= s + horizon).map(tsUsOf).minOption
          pu.foreach(_ => np += 1)
        }
      }
    }
    assert(r.getAs[Long]("n_signup") == ns, "signup stage")
    assert(r.getAs[Long]("n_view_after") == nv, "view-after stage")
    assert(r.getAs[Long]("n_purchase_7d") == np, "purchase-in-window stage")
    assert(r.getAs[Long]("n_users") == byUser.size)
  }

  test("q133 state intervals == brute-force islands on generated histories") {
    val rows = SparkEntry.queries("q133_user_state_intervals")(spark, genDir)
      .collect()
    // reference: compress consecutive same-type runs per user
    val intervals = genEvents.groupBy(_._3).values.flatMap { es =>
      val sorted = es.sortBy(e => (tsUsOf(e), e._1)).toVector
      val changes = sorted.zipWithIndex.filter { case (e, i) =>
        i == 0 || sorted(i - 1)._4 != e._4
      }.map(_._1)
      changes.zipWithIndex.map { case (e, i) =>
        val vto = if (i + 1 < changes.length) Some(tsUsOf(changes(i + 1))) else None
        (e._4, vto.map(t => dayOf(t) - dayOf(tsUsOf(e))))
      }
    }.toSeq
    val byState = intervals.groupBy(_._1)
    assert(rows.map(_.getAs[String]("state")).toSet == byState.keySet)
    rows.foreach { r =>
      val st = r.getAs[String]("state")
      val ref = byState(st)
      assert(r.getAs[Long]("n_intervals") == ref.size, s"$st interval count")
      assert(r.getAs[Long]("n_open") == ref.count(_._2.isEmpty), s"$st open count")
      val closed = ref.flatMap(_._2)
      if (closed.nonEmpty) {
        assert(r.getAs[Long]("max_days") == closed.max, s"$st max")
        val mean = closed.sum.toDouble / closed.size
        assert(math.abs(r.getAs[Double]("mean_days") - mean) < 5e-5, s"$st mean")
      }
    }
  }

  test("q132 rolling actives == brute-force windowed distinct on generated histories") {
    val rows = SparkEntry.queries("q132_rolling_7d_actives")(spark, genDir)
      .collect()
      .map(r => (r.getAs[String]("event_type"),
        r.getAs[java.sql.Date]("day").toLocalDate.toEpochDay) ->
        (r.getAs[Long]("active_users_7d"), r.getAs[Long]("days_covered"))).toMap
    val triples = genEvents.map(e => (e._4, dayOf(tsUsOf(e)), e._3)).distinct
    val allDays = triples.map(_._2).distinct
    val expected = (for {
      t <- triples.map(_._1).distinct
      d <- allDays
      users = triples.collect {
        case (tt, dd, u) if tt == t && dd >= d - 6 && dd <= d => (u, dd)
      }
      if users.nonEmpty
    } yield (t, d) -> (users.map(_._1).distinct.size.toLong,
      users.map(_._2).distinct.size.toLong)).toMap
    assert(rows == expected,
      s"rolling-active mismatch: ${rows.size} vs ${expected.size} cells")
  }

  // --------------------------------------------------------------------
  // Generated ORDERS fixture: the same discipline for the star-schema
  // temporal operators (trend, seasonality, LTV) — random order dates
  // and prices over 20 customers in 4 segments, written as parquet and
  // run through the REAL query functions against Scala references that
  // replicate the exact-decimal rounding semantics.
  // --------------------------------------------------------------------

  /** (orderkey, custkey, price, epochDay) with prices at 2-dp cents. */
  private lazy val genOrders: Seq[(Long, Long, Double, Long)] = {
    val rnd = new scala.util.Random(24681357)
    val base = java.time.LocalDate.parse("1995-01-01").toEpochDay
    (1 to 500).map { i =>
      (i.toLong, (1 + rnd.nextInt(20)).toLong,
        math.floor(rnd.nextDouble() * 1e7) / 100.0,
        base + rnd.nextInt(300))
    }
  }

  private lazy val genOrdersDir: String = {
    val dir = TestSpark.tempDir("graft_genord").toString
    genOrders.map { case (ok, ck, price, day) =>
      (ok, ck, "O", price,
        java.sql.Timestamp.valueOf(
          java.time.LocalDate.ofEpochDay(day).atStartOfDay()),
        "3-MEDIUM")
    }.toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority")
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    (1L to 20L).map(c =>
        (c, s"Customer#$c", (c % 5).toInt, 100.0, s"SEG${c % 4}"))
      .toDF("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment")
      .write.mode("overwrite").parquet(s"$dir/customer.parquet")
    dir
  }

  private def dsumRef(xs: Seq[Double]): Double =
    (xs.map(x => BigDecimal(x).setScale(10, BigDecimal.RoundingMode.HALF_UP)).sum
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble) + 0.0

  private def round6(x: Double): Double =
    BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble + 0.0

  test("q148 OLS slope == closed-form reference on generated orders") {
    val rows = SparkEntry.queries("q148_revenue_trend_ols")(spark, genOrdersDir)
      .collect()
      .map(r => r.getAs[String]("segment") ->
        (r.getAs[Long]("n_days"), r.getAs[Double]("slope_per_day"))).toMap
    val baseDay = java.time.LocalDate.parse("1995-01-01").toEpochDay
    val expected = genOrders.groupBy(o => s"SEG${o._2 % 4}").map { case (seg, os) =>
      val daily = os.groupBy(_._4).map { case (d, v) =>
        (d - baseDay, dsumRef(v.map(_._3)))
      }.toSeq
      val n = daily.length.toLong
      val sx = daily.map(_._1).sum
      val sxx = daily.map(d => d._1 * d._1).sum
      val sy = dsumRef(daily.map(_._2))
      val sxy = dsumRef(daily.map(d => d._1.toDouble * d._2))
      val slope = round6((n * sxy - sx * sy)
        / (n.toDouble * sxx - sx.toDouble * sx))
      seg -> ((n, slope))
    }
    assert(rows == expected, "OLS reference mismatch")
  }

  test("q152 seasonality == brute-force ISO-dow reference on generated orders") {
    val rows = SparkEntry.queries("q152_dow_seasonality")(spark, genOrdersDir)
      .collect()
      .map(r => (r.getAs[String]("segment"), r.getAs[Int]("dow")) ->
        (r.getAs[Long]("n_orders"), r.getAs[Double]("rev_share"))).toMap
    val expected = genOrders.groupBy(o => s"SEG${o._2 % 4}").flatMap {
      case (seg, os) =>
        val cells = os.groupBy(o =>
          java.time.LocalDate.ofEpochDay(o._4).getDayOfWeek.getValue).map {
          case (dow, v) => dow -> ((v.size.toLong, dsumRef(v.map(_._3))))
        }
        val total = dsumRef(cells.values.map(_._2).toSeq)
        cells.map { case (dow, (n, rev)) =>
          (seg, dow) -> ((n, round6(rev / total)))
        }
    }
    assert(rows == expected, "seasonality reference mismatch")
  }

  test("q155 LTV curve == brute-force cohort walk on generated orders") {
    val rows = SparkEntry.queries("q155_cohort_ltv_curve")(spark, genOrdersDir)
      .collect()
      .map(r => (r.getAs[java.sql.Date]("cohort").toLocalDate.toString,
        r.getAs[Long]("k")) ->
        (r.getAs[Long]("n_orders"), r.getAs[Double]("cum_rev"),
          r.getAs[Long]("n_customers"))).toMap
    val firstMonth = genOrders.groupBy(_._2).map { case (c, os) =>
      c -> os.map(o => java.time.LocalDate.ofEpochDay(o._4).withDayOfMonth(1)).min(
        Ordering.by((d: java.time.LocalDate) => d.toEpochDay))
    }
    val cohortSize = firstMonth.groupBy(_._2).map { case (m, v) => m -> v.size.toLong }
    val expected = genOrders.groupBy(o => firstMonth(o._2)).flatMap {
      case (cm, os) =>
        val cells = os.groupBy { o =>
          val d = java.time.LocalDate.ofEpochDay(o._4)
          ((d.getYear - cm.getYear) * 12 + (d.getMonthValue - cm.getMonthValue)).toLong
        }.map { case (k, v) => k -> ((v.size.toLong, dsumRef(v.map(_._3)))) }
        var cum = 0.0
        cells.toSeq.sortBy(_._1).map { case (k, (n, rev)) =>
          cum += rev
          val cumR = BigDecimal(cum).setScale(4,
            BigDecimal.RoundingMode.HALF_UP).toDouble + 0.0
          (cm.toString, k) -> ((n, cumR, cohortSize(cm)))
        }
    }
    assert(rows == expected, "LTV reference mismatch")
  }

  test("q141 attribution == brute-force carried-campaign reference on generated histories") {
    val rows = SparkEntry.queries("q141_last_touch_attribution")(spark, genDir)
      .collect()
      .map(r => r.getAs[Long]("campaign") ->
        (r.getAs[Long]("n_purchases"), r.getAs[Double]("attributed_revenue"))).toMap
    // reference: walk each user's (ts, id)-sorted stream carrying the
    // last click's campaign; attribute each purchase to the carry
    val attributed = genEvents.groupBy(_._3).values.flatMap { es =>
      val sorted = es.sortBy(e => (tsUsOf(e), e._1))
      var carry: Option[Long] = None
      sorted.flatMap { e =>
        val out = if (e._4 == "purchase") Some(carry.getOrElse(-1L) -> e._5) else None
        if (e._4 == "click") carry = Some(genPropsK(e._1) % 5)
        out
      }
    }.toSeq
    val expected = attributed.groupBy(_._1).map { case (c, vs) =>
      val sum = vs.map(v => BigDecimal(v._2).setScale(10, BigDecimal.RoundingMode.HALF_UP))
        .sum.setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
      c -> (vs.size.toLong, sum)
    }
    assert(rows.keySet == expected.keySet)
    expected.foreach { case (c, (n, rev)) =>
      assert(rows(c)._1 == n, s"campaign $c purchase count")
      assert(math.abs(rows(c)._2 - rev) < 1e-9, s"campaign $c revenue")
    }
  }

  test("q140 PIT features == brute-force strict-past walk on generated histories") {
    val rows = SparkEntry.queries("q140_pit_feature_snapshot")(spark, genDir)
      .collect()
      .map(r => r.getAs[Long]("event_id") ->
        (r.getAs[Long]("prior_clicks"), r.getAs[Long]("prior_views"),
          r.getAs[Long]("prior_events"),
          Option(r.getAs[java.lang.Double]("last_val")).map(_.doubleValue))).toMap
    val expected = genEvents.groupBy(_._3).values.flatMap { es =>
      val sorted = es.sortBy(e => (tsUsOf(e), e._1))
      var pc = 0L; var pv = 0L; var pe = 0L; var last: Option[Double] = None
      sorted.flatMap { e =>
        val out = if (e._4 == "purchase")
          Some(e._1 -> ((pc, pv, pe, last))) else None
        if (e._4 == "click") pc += 1
        if (e._4 == "view") pv += 1
        pe += 1; last = Some(e._5)
        out
      }
    }.toMap
    assert(rows == expected,
      s"PIT mismatch: ${rows.size} vs ${expected.size} purchases")
  }

  test("q120 anomaly == brute-force trailing-7 reference on generated histories") {
    def round4(x: Double) =
      BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    val rows = SparkEntry.queries("q120_daily_volume_anomaly")(spark, genDir)
      .collect()
      .map(r => (r.getAs[String]("event_type"),
        r.getAs[java.sql.Date]("day").toLocalDate.toEpochDay) ->
        (r.getAs[Long]("n"),
          Option(r.getAs[java.lang.Double]("z")).map(_.doubleValue),
          r.getAs[Int]("anomaly"))).toMap
    val expected = genEvents.groupBy(_._4).flatMap { case (t, es) =>
      val daily = es.groupBy(e => dayOf(tsUsOf(e)))
        .map { case (d, v) => (d, v.size.toLong) }.toSeq.sortBy(_._1)
      daily.zipWithIndex.map { case ((d, n), i) =>
        val w = daily.slice(math.max(0, i - 7), i)
        val cnt = w.length; val s1 = w.map(_._2).sum
        val s2 = w.map(x => x._2 * x._2).sum
        val z = if (cnt == 7 && s2 * cnt > s1 * s1)
          Some(round4((n - s1.toDouble / cnt) /
            math.sqrt((s2.toDouble - s1.toDouble * s1 / cnt) / cnt)))
        else None
        (t, d) -> ((n, z, if (z.exists(v => math.abs(v) >= 2.0)) 1 else 0))
      }
    }
    assert(rows == expected, "anomaly reference mismatch")
  }

  test("q153 lateness audit == brute-force disorder walk on generated histories") {
    // the generated stream has RANDOM event times against sequential
    // ingest ids — heavy disorder, the case the fixture (fully in-order)
    // cannot exercise
    val rows = SparkEntry.queries("q153_watermark_lateness_audit")(spark, genDir)
      .collect()
      .map(r => r.getAs[String]("event_type") ->
        (r.getAs[Long]("n_late_1m"), r.getAs[Long]("n_late_1h"),
          r.getAs[Long]("n_late_1d"), r.getAs[Long]("max_late_s"))).toMap
    val expected = genEvents.groupBy(_._4).map { case (t, es) =>
      val arr = es.sortBy(_._1) // ingest order
      var runmax = Long.MinValue
      var l1m = 0L; var l1h = 0L; var l1d = 0L; var mx = 0L
      arr.foreach { e =>
        val ts = tsUsOf(e)
        if (runmax != Long.MinValue) {
          if (ts < runmax - 60000000L) l1m += 1
          if (ts < runmax - 3600000000L) l1h += 1
          if (ts < runmax - 86400000000L) l1d += 1
          if (runmax > ts) mx = math.max(mx, (runmax - ts) / 1000000L)
        }
        runmax = math.max(runmax, ts)
      }
      t -> ((l1m, l1h, l1d, mx))
    }
    assert(rows == expected, "disorder reference mismatch")
    assert(expected.values.exists(_._1 > 0),
      "generated stream must actually contain late events")
  }

  // --------------------------------------------------------------------
  // Generated STAR fixture for the Planning stats family (q136/q138/
  // q139/q146/q149/q150): shapes the sf fixtures are too benign to
  // produce — one customer owns half the orders (single-key skew),
  // customers with no orders (zero/tied spends), childless orders,
  // exactly-reconciling orders (rel = 0 boundary), forced equal prices,
  // and all-equal-value event days (zone max == cutoff boundary).
  // --------------------------------------------------------------------

  /** (c_custkey, c_mktsegment) — 12 customers, 4 segments; 11 and 12
    * never order. */
  private lazy val genStarCustomers: Seq[(Long, String)] =
    (1L to 12L).map(c => (c, s"SEG${c % 4}"))

  /** (o_orderkey, o_custkey, o_orderstatus, o_totalprice) — 50% of
    * orders on customer 1; every 7th price is exactly 1000.00. */
  private lazy val genStarOrders: Seq[(Long, Long, String, Double)] = {
    val rnd = new scala.util.Random(1357911)
    val statuses = Vector("F", "O", "P")
    (1 to 300).map { i =>
      val ck = if (i % 2 == 0) 1L else (2 + rnd.nextInt(9)).toLong
      val price = if (i % 7 == 0) 1000.0
        else math.floor(rnd.nextDouble() * 5e5) / 100.0
      (i.toLong, ck, statuses(rnd.nextInt(3)), price)
    }
  }

  /** (l_orderkey, l_extendedprice, l_discount, l_tax) — every 3rd order
    * childless; every remaining 5th reconciles exactly (one line, no
    * discount/tax). */
  private lazy val genStarLines: Seq[(Long, Double, Double, Double)] = {
    val rnd = new scala.util.Random(246810)
    genStarOrders.flatMap { case (ok, _, _, price) =>
      if (ok % 3 == 0) Seq.empty
      else if (ok % 5 == 0) Seq((ok, price, 0.0, 0.0))
      else (1 to (1 + rnd.nextInt(3))).map { _ =>
        (ok, math.floor(rnd.nextDouble() * 2e5) / 100.0,
          rnd.nextInt(11) / 100.0, rnd.nextInt(9) / 100.0)
      }
    }
  }

  /** (event_id, user_id, event_type, value, ts_us) — user ids 0/13/14
    * never match a customer; every 4th day has all-equal value 50.0. */
  private lazy val genStarEvents: Seq[(Long, Long, String, Double, Long)] = {
    val rnd = new scala.util.Random(86420)
    val types = Vector("click", "view", "purchase")
    (1 to 400).map { i =>
      val uid = rnd.nextInt(15).toLong
      val day = rnd.nextInt(12)
      val v = if (day % 4 == 0) 50.0
        else math.floor(rnd.nextDouble() * 1000) / 10.0
      val tsUs = (day * 24L + rnd.nextInt(24)) * 3600L * 1000000L
      (i.toLong, uid, types(rnd.nextInt(3)), v, tsUs)
    }
  }

  private lazy val genStarDir: String = {
    val dir = TestSpark.tempDir("graft_genstar").toString
    genStarCustomers.toDF("c_custkey", "c_mktsegment")
      .write.mode("overwrite").parquet(s"$dir/customer.parquet")
    genStarOrders.toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    genStarLines.toDF("l_orderkey", "l_extendedprice", "l_discount", "l_tax")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    genStarEvents.map(e => (e._1, e._5 * 1000L, e._2, e._3, e._4))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    dir
  }

  // References replicate the engine's exact semantics: per-element
  // DECIMAL(30,10) conversion, exact decimal sum, cast-to-double, THEN
  // 4-dp half-up rounding (the det.dsum/davg order of operations), and
  // Spark's two-sided weighted percentile interpolation.
  private def dec10(x: Double): BigDecimal =
    BigDecimal(x).setScale(10, BigDecimal.RoundingMode.HALF_UP)
  private def r4(x: Double): Double =
    BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble + 0.0
  private def dsum4Ref(xs: Seq[Double]): Double = r4(xs.map(dec10).sum.toDouble)
  private def davgRef(xs: Seq[Double]): Double =
    r4(xs.map(dec10).sum.toDouble / xs.length)
  private def percRef(xs: Seq[Double], p: Double): Double = {
    val s = xs.sorted
    val pos = p * (s.length - 1)
    val lo = math.floor(pos).toInt
    val hi = math.ceil(pos).toInt
    if (lo == hi) s(lo) else (hi - pos) * s(lo) + (pos - lo) * s(hi)
  }

  test("q136 join profiler == brute-force degree reference on generated star") {
    val rows = SparkEntry.queries("q136_join_cardinality_profiler")(
        spark, genStarDir).collect()
      .map(r => r.getAs[String]("edge") -> r).toMap
    def ref(l: Seq[Long], r: Seq[Long]) = {
      val dl = l.groupBy(identity).map { case (k, v) => k -> v.size.toLong }
      val dr = r.groupBy(identity).map { case (k, v) => k -> v.size.toLong }
      val prods = (dl.keySet & dr.keySet).toSeq.map(k => dl(k) * dr(k))
      (l.size.toLong, r.size.toLong, prods.size.toLong, prods.sum, prods.max)
    }
    val expected = Seq(
      "events-customer" -> ref(genStarEvents.map(_._2), genStarCustomers.map(_._1)),
      "lineitem-orders" -> ref(genStarLines.map(_._1), genStarOrders.map(_._1)),
      "orders-customer" -> ref(genStarOrders.map(_._2), genStarCustomers.map(_._1)))
    assert(rows.keySet == expected.map(_._1).toSet)
    expected.foreach { case (edge, (nl, nr, nk, jr, mk)) =>
      val row = rows(edge)
      assert(row.getAs[Long]("n_left") == nl, s"$edge n_left")
      assert(row.getAs[Long]("n_right") == nr, s"$edge n_right")
      assert(row.getAs[Long]("n_join_keys") == nk, s"$edge n_join_keys")
      assert(row.getAs[Long]("join_rows") == jr, s"$edge join_rows")
      assert(row.getAs[Long]("max_key_rows") == mk, s"$edge max_key_rows")
      assert(row.getAs[Double]("max_key_share") == round6(mk.toDouble / jr),
        s"$edge max_key_share")
    }
    // the skew the fixture plants must actually surface: customer 1's
    // degree dominates the orders-customer edge
    assert(rows("orders-customer").getAs[Long]("max_key_rows") == 150L)
  }

  test("q138 winsorized stats == clipped-mean reference on generated star") {
    val seg = genStarCustomers.toMap
    val joined = genStarOrders.map { case (_, ck, _, p) => (seg(ck), p) }
    val prices = joined.map(_._2)
    val lo = r4(percRef(prices, 0.05))
    val hi = r4(percRef(prices, 0.95))
    val rows = SparkEntry.queries("q138_winsorized_segment_stats")(
        spark, genStarDir).collect()
      .map(r => r.getAs[String]("segment") -> r).toMap
    val bySeg = joined.groupBy(_._1)
    assert(rows.keySet == bySeg.keySet)
    bySeg.foreach { case (sg, ps) =>
      val xs = ps.map(_._2)
      val row = rows(sg)
      assert(row.getAs[Long]("n") == xs.length.toLong, s"$sg n")
      assert(row.getAs[Long]("n_clip_low") == xs.count(_ < lo), s"$sg clip_low")
      assert(row.getAs[Long]("n_clip_high") == xs.count(_ > hi), s"$sg clip_high")
      assert(row.getAs[Double]("mean_raw") == davgRef(xs), s"$sg mean_raw")
      val wins = xs.map(x => if (x < lo) lo else if (x > hi) hi else x)
      assert(row.getAs[Double]("mean_winsor") == davgRef(wins), s"$sg mean_winsor")
    }
  }

  test("q139 zone-map audit == per-day min-max reference on generated star") {
    val zones = genStarEvents.groupBy(_._5 / 86400000000L).values
      .map(es => (es.size.toLong, es.map(_._4).max)).toSeq
    val values = genStarEvents.map(_._4)
    val rowsTotal = zones.map(_._1).sum
    val rows = SparkEntry.queries("q139_zonemap_pruning_audit")(
        spark, genStarDir).collect()
      .map(r => r.getAs[String]("threshold") -> r).toMap
    val cuts = Seq("p50" -> 0.50, "p90" -> 0.90, "p99" -> 0.99)
    assert(rows.keySet == cuts.map(_._1).toSet)
    cuts.foreach { case (name, p) =>
      val cutoff = r4(percRef(values, p))
      val pruned = zones.filter(_._2 <= cutoff)
      val row = rows(name)
      assert(row.getAs[Double]("cutoff") == cutoff, s"$name cutoff")
      assert(row.getAs[Long]("n_zones") == zones.size.toLong, s"$name n_zones")
      assert(row.getAs[Long]("zones_pruned") == pruned.size.toLong, s"$name pruned")
      assert(row.getAs[Long]("rows_total") == rowsTotal, s"$name rows_total")
      assert(row.getAs[Long]("rows_skipped") == pruned.map(_._1).sum, s"$name skipped")
      assert(row.getAs[Double]("skip_frac") ==
        round6(pruned.map(_._1).sum.toDouble / rowsTotal), s"$name skip_frac")
    }
  }

  test("q146 decile lift == boundary-comparison reference on generated star") {
    val spendBy = genStarOrders.groupBy(_._2)
      .map { case (ck, os) => ck -> dsum4Ref(os.map(_._4)) }
    val conv = genStarEvents.filter(_._3 == "purchase").map(_._2).toSet
    val d = genStarCustomers.map { case (ck, _) =>
      (spendBy.getOrElse(ck, 0.0), conv.contains(ck)) }
    val spends = d.map(_._1)
    val bs = (1 to 9).map(i => r4(percRef(spends, i * 0.1)))
    val deciles = d.map { case (sp, c) => (1 + bs.count(sp > _), c) }
    val totN = deciles.size.toLong
    val totC = deciles.count(_._2).toLong
    val rows = SparkEntry.queries("q146_decile_lift_table")(spark, genStarDir)
      .collect().map(r => r.getAs[Int]("decile") -> r).toMap
    val byDec = deciles.groupBy(_._1)
    assert(rows.keySet == byDec.keySet)
    byDec.foreach { case (dec, ds) =>
      val n = ds.size.toLong
      val c = ds.count(_._2).toLong
      val row = rows(dec)
      assert(row.getAs[Long]("n_customers") == n, s"decile $dec n")
      assert(row.getAs[Long]("n_converters") == c, s"decile $dec converters")
      assert(row.getAs[Double]("conv_rate") == round6(c.toDouble / n), s"$dec rate")
      assert(row.getAs[Double]("capture") == round6(c.toDouble / totC), s"$dec capture")
      assert(row.getAs[Double]("lift") ==
        r4((c.toDouble / n) / (totC.toDouble / totN)), s"$dec lift")
    }
    // the planted zero-spend customers (11, 12) must land in decile 1
    assert(byDec.contains(1) && byDec(1).size >= 2)
  }

  test("q149 pareto coverage == sequential cumulative reference on generated star") {
    val seg = genStarCustomers.toMap
    val revs = genStarOrders.groupBy(_._2).toSeq.map { case (ck, os) =>
      (seg(ck), ck, dsum4Ref(os.map(_._4))) }
    val rows = SparkEntry.queries("q149_pareto_revenue_coverage")(
        spark, genStarDir).collect()
      .map(r => r.getAs[String]("segment") -> r).toMap
    val bySeg = revs.groupBy(_._1)
    assert(rows.keySet == bySeg.keySet)
    bySeg.foreach { case (sg, rs) =>
      val sorted = rs.sortBy { case (_, ck, rev) => (-rev, ck) }
      val total = dsum4Ref(sorted.map(_._3))
      val n = sorted.size.toLong
      // the window's running double sum, replicated in frame order
      var cum = 0.0
      var nTop80 = 0L
      sorted.foreach { case (_, _, rev) =>
        cum += rev
        if (cum - rev < 0.8 * total) nTop80 += 1
      }
      val k = (n + 9) / 10
      val top10 = dsum4Ref(sorted.take(k.toInt).map(_._3))
      val row = rows(sg)
      assert(row.getAs[Long]("n_customers") == n, s"$sg n")
      assert(row.getAs[Long]("n_top80") == nTop80, s"$sg n_top80")
      assert(row.getAs[Double]("frac_top80") == round6(nTop80.toDouble / n), s"$sg frac")
      assert(row.getAs[Double]("share_top10pct") == round6(top10 / total), s"$sg share")
    }
    // skew check: customer 1 dominates SEG1 — coverage concentrates hard
    assert(rows("SEG1").getAs[Long]("n_top80") <= 2L)
  }

  test("q150 reconciliation == per-order line-sum reference on generated star") {
    val lsum = genStarLines.groupBy(_._1).map { case (ok, ls) =>
      ok -> r4(ls.map { case (_, e, dis, tax) =>
        dec10(e * (1.0 - dis) * (1.0 + tax)) }.sum.toDouble) }
    val perOrder = genStarOrders.map { case (ok, _, st, price) =>
      (st, lsum.get(ok).map(s =>
        round6(math.abs(s - price) / price))) }
    val rows = SparkEntry.queries("q150_revenue_reconciliation_audit")(
        spark, genStarDir).collect()
      .map(r => r.getAs[String]("status") -> r).toMap
    val bySt = perOrder.groupBy(_._1)
    assert(rows.keySet == bySt.keySet)
    bySt.foreach { case (st, os) =>
      val rels = os.flatMap(_._2)
      val row = rows(st)
      assert(row.getAs[Long]("n_orders") == os.size.toLong, s"$st n_orders")
      assert(row.getAs[Long]("n_no_lines") == os.count(_._2.isEmpty), s"$st no_lines")
      assert(row.getAs[Long]("n_within_001pct") == rels.count(_ <= 0.0001), s"$st 001")
      assert(row.getAs[Long]("n_within_1pct") == rels.count(_ <= 0.01), s"$st 1pct")
      assert(row.getAs[Double]("median_rel") == round6(percRef(rels, 0.50)), s"$st med")
      assert(row.getAs[Double]("max_rel") == round6(rels.max), s"$st max")
      // the exact-reconcile plant must be visible: some rel == 0 rows exist
      assert(rels.contains(0.0), s"$st has an exactly reconciling order")
    }
  }

  test("q156 retention == brute-force cohort reference on generated histories") {
    val rows = SparkEntry.queries("q156_signup_dn_retention")(spark, genDir)
      .collect().map(r => r.getAs[Long]("cohort_day") -> r).toMap
    val byUser = genEvents.groupBy(_._3)
    val cohortOf = byUser.flatMap { case (u, es) =>
      val ss = es.filter(_._4 == "signup").map(e => dayOf(tsUsOf(e)))
      if (ss.isEmpty) None else Some(u -> ss.min)
    }
    val actDays = byUser.map { case (u, es) =>
      u -> es.map(e => dayOf(tsUsOf(e))).toSet }
    val byCohort = cohortOf.groupBy(_._2)
    assert(rows.keySet == byCohort.keySet)
    byCohort.foreach { case (cd, us) =>
      val users = us.keys.toSeq
      val n = users.size.toLong
      def ret(k: Long) = users.count(u => actDays(u).contains(cd + k)).toLong
      val row = rows(cd)
      assert(row.getAs[Long]("n_cohort") == n, s"cohort $cd size")
      Seq(("n_d1", "r1", 1L), ("n_d7", "r7", 7L), ("n_d14", "r14", 14L))
        .foreach { case (nc, rc, k) =>
          assert(row.getAs[Long](nc) == ret(k), s"cohort $cd $nc")
          assert(row.getAs[Double](rc) == round6(ret(k).toDouble / n),
            s"cohort $cd $rc")
        }
    }
  }

  test("q158 sketch == brute-force order-stat bin reference on generated star") {
    val rows = SparkEntry.queries("q158_grid_quantile_sketch")(spark, genStarDir)
      .collect()
      .map(r => (r.getAs[String]("event_type"), r.getAs[String]("p")) -> r).toMap
    val byType = genStarEvents.groupBy(_._3)
    val ps = Seq(("p50", 1L, 2L, 0.50), ("p90", 9L, 10L, 0.90),
      ("p99", 99L, 100L, 0.99))
    assert(rows.keySet == byType.keySet.flatMap(t => ps.map(p => (t, p._1))))
    byType.foreach { case (t, es) =>
      val vs = es.map(_._4).sorted
      val n = vs.length.toLong
      ps.foreach { case (pl, num, den, p) =>
        val rank = ((num * n + den - 1) / den).toInt
        val bin = math.min(255L, math.floor(vs(rank - 1) / 2).toLong)
        val est = ((bin + 1) * 2).toDouble
        val exact = r4(percRef(vs, p))
        val row = rows((t, pl))
        assert(row.getAs[Long]("n") == n, s"$t $pl n")
        assert(row.getAs[Double]("est_upper") == est, s"$t $pl estimate")
        assert(row.getAs[Double]("exact") == exact, s"$t $pl exact")
        assert(row.getAs[Double]("abs_err") == r4(math.abs(est - exact)),
          s"$t $pl abs_err")
      }
    }
  }

  test("q160 lifecycle audit == brute-force first-signup reference on generated histories") {
    val rows = SparkEntry.queries("q160_lifecycle_order_audit")(spark, genDir)
      .collect().map(r => r.getAs[String]("event_type") -> r).toMap
    val firstSignup = genEvents.filter(_._4 == "signup").groupBy(_._3)
      .map { case (u, es) => u -> es.map(tsUsOf).min }
    val byType = genEvents.groupBy(_._4)
    assert(rows.keySet == byType.keySet)
    byType.foreach { case (t, es) =>
      val total = es.size.toLong
      val orphan = es.count(e => !firstSignup.contains(e._3)).toLong
      val before = es.count(e =>
        firstSignup.get(e._3).exists(s => tsUsOf(e) < s)).toLong
      val at = es.count(e => firstSignup.get(e._3).contains(tsUsOf(e))).toLong
      val row = rows(t)
      assert(row.getAs[Long]("n_total") == total, s"$t total")
      assert(row.getAs[Long]("n_no_signup") == orphan, s"$t orphan")
      assert(row.getAs[Long]("n_before_signup") == before, s"$t before")
      assert(row.getAs[Long]("n_at_signup") == at, s"$t at")
      assert(row.getAs[Double]("share_before") == round6(before.toDouble / total),
        s"$t share")
    }
  }

  test("q161 gap fill == brute-force fixed-point reference on generated histories") {
    val rows = SparkEntry.queries("q161_hourly_gapfill_interpolation")(
        spark, genDir).collect()
      .map(r => r.getAs[String]("event_type") -> r).toMap
    val byType = genEvents.groupBy(_._4)
    assert(rows.keySet == byType.keySet)
    byType.foreach { case (t, es) =>
      val hourly = es.groupBy(e => tsUsOf(e) / 3600000000L)
        .map { case (h, v) => h -> davgRef(v.map(_._5)) }
      val hrs = hourly.keys.toSeq.sorted
      var mass = 0L; var filled = 0L; var maxRun = 0L
      hrs.zip(hrs.drop(1)).foreach { case (a, b) =>
        val gap = b - a - 1
        if (gap > 0) {
          maxRun = math.max(maxRun, gap)
          filled += gap
          val pu = math.round(hourly(a) * 10000)
          val nu = math.round(hourly(b) * 10000)
          ((a + 1) until b).foreach { h =>
            mass += pu + math.floor(((nu - pu) * (h - a)).toDouble
              / (b - a).toDouble).toLong
          }
        }
      }
      val row = rows(t)
      assert(row.getAs[Long]("n_hours") == hrs.max - hrs.min + 1, s"$t grid")
      assert(row.getAs[Long]("n_observed") == hrs.size.toLong, s"$t observed")
      assert(row.getAs[Long]("n_filled") == filled, s"$t filled")
      assert(row.getAs[Long]("max_gap_run") == maxRun, s"$t max run")
      assert(row.getAs[Long]("filled_mass_u") == mass, s"$t mass")
      assert(filled > 0, s"$t: generated histories must actually contain gaps")
    }
  }

  test("q159 PII audit == brute-force regex reference on the fixture corpus") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "source", "text").collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("source"),
        r.getAs[String]("text")))
    def h60(s: String): Long = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.take(15), 16)
    }
    val emailRe = "[a-z0-9._]+@[a-z0-9.-]+[.][a-z]{2,}".r
    val phoneRe = "[0-9]{3}-[0-9]{3}-[0-9]{4}".r
    val aug = docs.map { case (id, src, text) =>
      val t = if (h60(s"pii:$id") % 20 == 0)
        text + " contact user" + id + "@example.com or 555-" +
          "%03d".format(id % 1000) + "-" + "%04d".format((id * 7) % 10000)
      else text
      (src, t)
    }
    val expected = aug.groupBy(_._1).map { case (src, ds) =>
      val ts = ds.map(_._2)
      val reds = ts.map(t => phoneRe.replaceAllIn(
        emailRe.replaceAllIn(t, "[EMAIL]"), "[PHONE]"))
      src -> (ts.length.toLong,
        ts.count(t => emailRe.findFirstIn(t).isDefined).toLong,
        ts.map(_.length.toLong).sum, reds.map(_.length.toLong).sum)
    }
    val rows = SparkEntry.queries("q159_pii_redaction_audit")(spark, sf)
      .collect().map(r => r.getAs[String]("source") -> r).toMap
    assert(rows.keySet == expected.keySet)
    expected.foreach { case (src, (n, flagged, before, after)) =>
      val row = rows(src)
      assert(row.getAs[Long]("n_docs") == n, s"$src docs")
      assert(row.getAs[Long]("n_flagged") == flagged, s"$src flagged")
      assert(row.getAs[Long]("chars_before") == before, s"$src before mass")
      assert(row.getAs[Long]("chars_after") == after, s"$src after mass")
    }
    assert(expected.values.map(_._2).sum > 0, "plant must flag at least one doc")
  }

  test("q164 normalization == brute-force regex reference on the fixture corpus") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select("source", "text").collect()
      .map(r => (r.getAs[String]("source"), r.getAs[String]("text")))
    val expected = docs.groupBy(_._1).map { case (src, ds) =>
      val raws = ds.map(_._2.length.toLong)
      val alnums = ds.map(d =>
        d._2.toLowerCase.replaceAll("[^a-z0-9 ]", ""))
      val norms = alnums.map(a => a.replaceAll(" +", " ").trim)
      src -> (ds.length.toLong, raws.sum, alnums.map(_.length.toLong).sum,
        norms.map(_.length.toLong).sum)
    }
    val rows = SparkEntry.queries("q164_text_normalization_audit")(spark, sf)
      .collect().map(r => r.getAs[String]("source") -> r).toMap
    assert(rows.keySet == expected.keySet)
    expected.foreach { case (src, (n, raw, alnum, norm)) =>
      val row = rows(src)
      assert(row.getAs[Long]("n_docs") == n, s"$src docs")
      assert(row.getAs[Long]("chars_raw") == raw, s"$src raw")
      assert(row.getAs[Long]("chars_alnum") == alnum, s"$src alnum")
      assert(row.getAs[Long]("chars_norm") == norm, s"$src norm")
      assert(row.getAs[Double]("keep_ratio") == round6(norm.toDouble / raw),
        s"$src ratio")
    }
  }

  test("q167 CUPED degenerates cleanly when the post-period is empty (generated orders)") {
    // genOrders all predate the 1998-07-01 split: Y ≡ 0, var(Y) = 0 —
    // the guards must yield theta = 0, var_reduction = 0, and adjusted
    // means equal to the (zero) raw means instead of NaN.
    val rows = SparkEntry.queries("q167_cuped_adjustment")(spark, genOrdersDir)
      .collect()
    assert(rows.length == 2)
    rows.foreach { r =>
      assert(r.getAs[Double]("theta") == 0.0, "zero-variance X or Y must zero theta")
      assert(r.getAs[Double]("var_reduction") == 0.0)
      assert(r.getAs[Double]("mean_post") == 0.0, "no post-period spend exists")
      assert(r.getAs[Double]("mean_adj") == 0.0)
    }
    assert(rows.map(_.getAs[Long]("n_arm")).sum == 20L, "all customers assigned")
  }

  test("q177 bitmap algebra == brute-force set reference on an asymmetric fixture") {
    // every shared fixture is saturated (all users hold both types), so
    // this one is designed: click-only users, purchase-only users, and
    // whole words present on only one side — the coalesce paths the
    // full outer word join must get right
    val rows = Seq(
      (1L, "click"), (2L, "click"), (33L, "click"), (34L, "click"),
      (100L, "click"),                       // word 3 absent on purchase side
      (2L, "purchase"), (34L, "purchase"), (35L, "purchase"),
      (200L, "purchase"), (201L, "purchase"), // word 6 absent on click side
      (1L, "view"))                           // other types must not leak in
    val dir = TestSpark.tempDir("graft_genbmp").toString
    rows.zipWithIndex.map { case ((u, t), i) =>
      (i.toLong + 1, (i.toLong + 1) * 3600L * 1000000000L, u, t, 1.0)
    }.toDF("event_id", "ts", "user_id", "event_type", "value")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val row = SparkEntry.queries("q177_bitmap_set_algebra")(spark, dir)
      .collect().head
    val clicks = rows.filter(_._2 == "click").map(_._1).toSet
    val purch = rows.filter(_._2 == "purchase").map(_._1).toSet
    assert(clicks != purch && (clicks -- purch).nonEmpty && (purch -- clicks).nonEmpty)
    assert(row.getAs[Long]("n_clicks") == clicks.size.toLong)
    assert(row.getAs[Long]("n_purch") == purch.size.toLong)
    assert(row.getAs[Long]("n_inter") == (clicks & purch).size.toLong)
    assert(row.getAs[Long]("n_union") == (clicks | purch).size.toLong)
    assert(row.getAs[Long]("exact_both") == (clicks & purch).size.toLong)
    assert(row.getAs[Int]("identities_hold") == 1)
  }

  test("q178 KS statistic == brute-force CDF walk on the fixture corpus") {
    val row = SparkEntry.queries("q178_ks_drift_test")(spark, sf).collect().head
    val bysrc = spark.read.parquet(s"$sf/documents.parquet")
      .select("source", "n_chars").collect()
      .groupBy(_.getAs[String]("source"))
      .map { case (k, v) => k -> v.map(_.getAs[Long]("n_chars")).sorted }
    val (a, b) = (bysrc("src0"), bysrc("src1"))
    val axis = (a ++ b).distinct.sorted
    val (na, nb) = (a.length.toLong, b.length.toLong)
    val dnum = axis.map { v =>
      math.abs(a.count(_ <= v) * nb - b.count(_ <= v) * na)
    }.max
    assert(row.getAs[Long]("na") == na && row.getAs[Long]("nb") == nb)
    assert(row.getAs[Double]("d_stat") ==
      round6(dnum.toDouble / (na * nb)), "KS supremum mismatch")
    val crit = 1.358 * math.sqrt((na + nb).toDouble / (na * nb))
    assert((row.getAs[Int]("reject_05") == 1) == (dnum.toDouble > crit * na * nb))
  }

  test("q182 dyadic EMA == brute-force lag-chain reference on generated orders") {
    val rows = SparkEntry.queries("q182_dyadic_ema")(spark, genOrdersDir)
      .collect()
    val daily = genOrders.groupBy(_._4).toSeq.sortBy(_._1)
      .map { case (_, os) => dsumRef(os.map(_._3)) }
    assert(rows.length == daily.length)
    rows.zipWithIndex.foreach { case (r, i) =>
      assert(r.getAs[Double]("revenue") == daily(i), s"day $i revenue")
      var num = 0.0
      var den = 0.0
      (0 to 9).foreach { k =>
        if (i - k >= 0) { num += daily(i - k) * (1.0 / (1L << k)); den += 1.0 / (1L << k) }
      }
      val ema = BigDecimal(num / den)
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble + 0.0
      assert(r.getAs[Double]("ema") == ema, s"day $i ema")
    }
  }

  test("q184 peak concurrency == brute-force sweep reference on generated histories") {
    val rows = SparkEntry.queries("q184_peak_concurrency")(spark, genDir)
      .collect().map(r => r.getAs[String]("event_type") -> r).toMap
    val byType = genEvents.groupBy(_._4)
    assert(rows.keySet == byType.keySet)
    byType.foreach { case (t, es) =>
      val spans = es.groupBy(_._3).values
        .map(v => (v.map(tsUsOf).min, v.map(tsUsOf).max)).toSeq
      val bounds = spans.flatMap { case (lo, hi) =>
        Seq((lo, 1L), (hi + 1, -1L)) }
        .sortBy { case (ts, d) => (ts, -d) }
      var live = 0L; var peak = 0L; var peakAt = 0L
      bounds.foreach { case (ts, d) =>
        live += d
        if (live > peak) { peak = live; peakAt = ts }
      }
      val row = rows(t)
      assert(row.getAs[Long]("n_users") == spans.size.toLong, s"$t users")
      assert(row.getAs[Long]("peak") == peak, s"$t peak")
      assert(row.getAs[Long]("peak_at_us") == peakAt, s"$t peak time")
    }
  }

  test("q187 randomized response == brute-force md5-coin reference on generated histories") {
    def h60(s: String): Long = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.take(15), 16)
    }
    val row = SparkEntry.queries("q187_randomized_response")(spark, genDir)
      .collect().head
    val byUser = genEvents.groupBy(_._3)
    val bits = byUser.map { case (u, es) =>
      u -> (if (es.exists(_._4 == "purchase")) 1 else 0) }
    val reported = bits.map { case (u, b) =>
      if (h60(s"rr:$u") % 4 == 0) 1 - b else b }.sum.toLong
    val n = bits.size.toLong
    val t = bits.values.sum.toLong
    assert(row.getAs[Long]("n_users") == n)
    assert(row.getAs[Long]("true_count") == t)
    assert(row.getAs[Long]("reported_count") == reported)
    assert(row.getAs[Long]("estimate") == 2 * reported - n / 2)
    assert(row.getAs[Long]("abs_error") == math.abs(2 * reported - n / 2 - t))
    assert(reported != t, "the fixture must actually flip some reports")
  }

  test("q189 streaks == brute-force consecutive-day reference on generated histories") {
    val rows = SparkEntry.queries("q189_daily_streak_distribution")(spark, genDir)
      .collect().map(r => r.getAs[Long]("max_streak") -> r.getAs[Long]("n_users"))
      .toMap
    val maxStreaks = genEvents.groupBy(_._3).values.map { es =>
      val days = es.map(e => dayOf(tsUsOf(e))).distinct.sorted
      var best = 1L; var cur = 1L
      days.zip(days.drop(1)).foreach { case (a, b) =>
        if (b == a + 1) { cur += 1; best = math.max(best, cur) } else cur = 1L
      }
      best
    }.toSeq
    val expected = maxStreaks.groupBy(identity)
      .map { case (k, v) => k -> v.size.toLong }
    assert(rows == expected)
    assert(rows.values.sum == genEvents.map(_._3).distinct.size.toLong)
  }

  test("q190 phrase search == brute-force sliding-window reference on the corpus") {
    val texts = spark.read.parquet(s"$sf/documents.parquet")
      .select("text").collect().map(_.getString(0))
    val phrases = Seq("table hash" -> ("table", "hash"),
      "customer join" -> ("customer", "join"), "merge group" -> ("merge", "group"))
    val rows = SparkEntry.queries("q190_phrase_search")(spark, sf)
      .collect().map(r => r.getAs[String]("phrase") ->
        (r.getAs[Long]("n_docs"), r.getAs[Long]("n_occurrences"))).toMap
    phrases.foreach { case (name, (w1, w2)) =>
      val per = texts.map { t =>
        val ws = t.split(" ")
        ws.zip(ws.drop(1)).count(p => p._1 == w1 && p._2 == w2).toLong
      }
      val expected = (per.count(_ > 0).toLong, per.sum)
      assert(rows.get(name).contains(expected), s"phrase '$name'")
    }
  }

  // --------------------------------------------------------------------
  // Planted-ground-truth corpus for the near-dup family: base docs use
  // per-doc-unique tokens (zero cross-doc shingle overlap by
  // construction), and twins replace exactly the last m tokens, so the
  // Jaccard of every planted pair is CLOSED FORM: J = (58−m)/(58+m)
  // for 60-token docs. Pairs straddle the 0.5 threshold on both sides,
  // so recall AND precision are provable, not sampled.
  // --------------------------------------------------------------------

  /** (docs, expected reported pairs with exact (inter, J)). */
  private lazy val genPlanted: (Seq[(Long, String)],
      Map[(Long, Long), (Long, Double)]) = {
    val nTok = 60
    def baseTokens(d: Long) = (1 to nTok).map(i => s"w${d}x$i")
    val plants = Seq(1L -> 0, 2L -> 6, 3L -> 12, 4L -> 18, 5L -> 24, 6L -> 30)
    val bases = (1L to 30L).map(d => d -> baseTokens(d).mkString(" "))
    val twins = plants.map { case (d, m) =>
      val t = baseTokens(d).dropRight(m) ++ (1 to m).map(i => s"r${d}x$i")
      (d + 100) -> t.mkString(" ")
    }
    val expected = plants.flatMap { case (d, m) =>
      val inter = (nTok - 2 - m).toLong
      val j = BigDecimal(inter.toDouble / (2 * (nTok - 2) - inter))
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
      if (j >= 0.5) Some((d, d + 100) -> (inter, j)) else None
    }.toMap
    (bases ++ twins, expected)
  }

  private lazy val genPlantedDir: String = {
    val dir = TestSpark.tempDir("graft_genplant").toString
    genPlanted._1.map { case (id, text) =>
      (id, text, "en", s"src${id % 3}", text.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  test("near-dup family on planted ground truth: exact pairs, LSH recall, SimHash precision") {
    val expected = genPlanted._2
    assert(expected.size == 4, "plants 0/6/12/18 clear the bar; 24/30 must not")
    // q22 exact: the reported set IS the closed-form ground truth
    val got22 = SparkEntry.queries("q22_neardup_jaccard")(spark, genPlantedDir)
      .collect().map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")) ->
        (r.getAs[Long]("inter"), r.getAs[Double]("jaccard"))).toMap
    assert(got22.keySet == expected.keySet,
      s"exact pairs ${got22.keySet} != planted ${expected.keySet}")
    expected.foreach { case (p, (inter, j)) =>
      assert(got22(p)._1 == inter, s"$p intersection")
      assert(got22(p)._2 == j, s"$p jaccard")
    }
    // q23 LSH+verify: the banded candidates recall every planted pair
    // here (fixed seeds — a deterministic outcome, asserted as such),
    // and the exact verify makes the final set equal q22's
    val got23 = SparkEntry.queries("q23_neardup_minhash_lsh")(spark, genPlantedDir)
      .collect().map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))).toSet
    assert(got23 == expected.keySet, s"LSH set $got23")
    // q24 SimHash: zero false pairs across unrelated docs (disjoint
    // token sets give ~random 60-bit signatures), and the exact twin
    // surfaces at Hamming 0
    val got24 = SparkEntry.queries("q24_neardup_simhash")(spark, genPlantedDir)
      .collect().map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")) ->
        r.getAs[Int]("hamming")).toMap
    val plantedPairs = (1L to 6L).map(d => (d, d + 100)).toSet
    assert(got24.keySet.subsetOf(plantedPairs),
      s"SimHash false pairs: ${got24.keySet -- plantedPairs}")
    assert(got24.get((1L, 101L)).contains(0), "exact twin must be Hamming 0")
  }

  test("q142 transitions == brute-force consecutive-pair reference on generated histories") {
    val rows = SparkEntry.queries("q142_event_transition_matrix")(spark, genDir)
      .collect()
      .map(r => (r.getAs[String]("cur"), r.getAs[String]("nxt")) ->
        (r.getAs[Long]("n"), r.getAs[Double]("p"))).toMap
    val pairs = genEvents.groupBy(_._3).values.flatMap { es =>
      val sorted = es.sortBy(e => (tsUsOf(e), e._1)).map(_._4)
      sorted.zip(sorted.drop(1))
    }.toSeq
    val counts = pairs.groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    val curTotals = pairs.groupBy(_._1).map { case (k, v) => k -> v.size.toLong }
    assert(rows.keySet == counts.keySet)
    counts.foreach { case (k, n) =>
      assert(rows(k)._1 == n, s"transition $k count")
      val p = BigDecimal(n.toDouble / curTotals(k._1))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(math.abs(rows(k)._2 - p) < 1e-9, s"transition $k probability")
    }
  }

  test("winnowing guarantee holds on generated corpora with a tiny tie-heavy vocab") {
    // 40 seeded trials in ONE job: doc pair (2t, 2t+1) of 30..80 tokens
    // drawn from a 4-word vocabulary (so k-grams repeat INSIDE windows —
    // the tie case the fixture barely exercises), with a shared 7-token
    // run planted at independent random offsets. The paper's guarantee
    // (k=4, w=4 ⇒ any shared run of w+k−1 = 7 tokens yields a shared
    // fingerprint) must hold for every trial.
    val rnd = new scala.util.Random(20260815)
    val vocab = Vector("aa", "bb", "cc", "dd")
    def tokens(n: Int): Vector[String] = Vector.fill(n)(vocab(rnd.nextInt(4)))
    val docs = (0 until 40).flatMap { t =>
      val run = tokens(7)
      def doc(id: Long): (Long, String) = {
        val body = tokens(30 + rnd.nextInt(51))
        val at = rnd.nextInt(body.length + 1)
        (id, (body.take(at) ++ run ++ body.drop(at)).mkString(" "))
      }
      Seq(doc(2L * t), doc(2L * t + 1))
    }.toDF("doc_id", "text")
    val fp = graft.operators.Dedup.winnowFingerprints(docs)
      .collect().groupBy(_.getAs[Long]("doc_id"))
      .view.mapValues(_.map(_.getAs[Long]("f")).toSet).toMap
    (0 until 40).foreach { t =>
      val shared = fp(2L * t).intersect(fp(2L * t + 1))
      assert(shared.nonEmpty, s"trial $t: planted 7-token run left no shared fingerprint")
    }
    // density law on the generated corpus too: 1 <= |F| <= max(1, m-3)
    docs.collect().foreach { r =>
      val m = r.getAs[String]("text").split(" ").length - 3
      val n = fp(r.getAs[Long]("doc_id")).size
      assert(n >= 1 && n <= math.max(1, m - 3))
    }
  }

  test("verified_pairs_j05 MV ≡ inline ≥0.5 exact-Jaccard set of shingles_w3 (q237 coupling pin)") {
    // r17 verdict item 8: q237's measured-pair input reads the
    // verified_pairs_j05 MV on the CONTRACT that it carries exactly the
    // round(J,4) >= 0.5 pair set of the same shingle definition. A
    // future MV change (threshold, rounding, shingle width) must fail
    // HERE, not silently skew q237's recall integral.
    val sh = graft.operators.Dedup.shingleSet(spark, sf)
    val inter = sh.select(col("doc_id").as("doc_a"), col("shingle"))
      .join(sh.select(col("doc_id").as("doc_b"), col("shingle")), Seq("shingle"))
      .filter(col("doc_a") < col("doc_b"))
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("inter"))
    val sz = sh.groupBy("doc_id").agg(count(lit(1)).as("sz"))
    val inline = inter
      .join(sz.select(col("doc_id").as("doc_a"), col("sz").as("sz_a")), Seq("doc_a"))
      .join(sz.select(col("doc_id").as("doc_b"), col("sz").as("sz_b")), Seq("doc_b"))
      .filter(round(col("inter").cast("double") /
        (col("sz_a") + col("sz_b") - col("inter")), 4) >= 0.5)
      .select("doc_a", "doc_b")
    val mv = graft.operators.Dedup.verifiedPairs(spark, sf)
      .select("doc_a", "doc_b").collect().map(_.toSeq)
    // a set compare alone would accept duplicate (doc_a, doc_b) rows
    assert(mv.length == mv.toSet.size, "verified_pairs_j05 repeats a pair")
    assert(mv.toSet == inline.collect().map(_.toSeq).toSet)
  }

  test("q162 prefix-overlap filter loses no pair: output == brute-force containment") {
    // r18: the PPJoin-style minimum-prefix-match filter
    // (pfx_matches >= min(sz_a div 5 + 2, sz_a) - (sz_a*20005) div 100000)
    // is a pigeonhole bound, so the filtered candidate set must retain
    // EVERY true containment pair — compare the full query output
    // against the unfiltered shared-shingle self-join reference.
    val sh = graft.operators.Dedup.shingleSet(spark, sf)
    val sz = sh.groupBy("doc_id").agg(count(lit(1)).as("sz"))
    val p = sh.select(col("doc_id").as("doc_a"), col("shingle"))
      .join(sh.select(col("doc_id").as("doc_b"), col("shingle")), Seq("shingle"))
      .filter(col("doc_a") =!= col("doc_b"))
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("inter"))
    val ref = p
      .join(sz.select(col("doc_id").as("doc_a"), col("sz").as("sz_a")), Seq("doc_a"))
      .join(sz.select(col("doc_id").as("doc_b"), col("sz").as("sz_b")), Seq("doc_b"))
      .withColumn("containment",
        round(col("inter").cast("double") / col("sz_a"), 4) + lit(0.0))
      .filter(col("containment") >= 0.8 &&
        (col("sz_a") < col("sz_b") ||
          (col("sz_a") === col("sz_b") && col("doc_a") < col("doc_b"))))
      .select("doc_a", "doc_b", "inter", "sz_a", "sz_b", "containment")
    val out = SparkEntry.queries("q162_containment_pairs")(spark, sf)
      .collect().map(_.toSeq)
    // columns lead with (doc_a, doc_b): each pair must appear once
    val pairs = out.map(_.take(2))
    assert(pairs.length == pairs.toSet.size, "q162 repeats a (doc_a, doc_b) pair")
    assert(out.toSet == ref.collect().map(_.toSeq).toSet)
  }
}
