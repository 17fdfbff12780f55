package graft

import org.apache.spark.sql.{DataFrame, GraftBridge, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.plans.RangeJoinRewrite

/** Differential + guard suite for [[graft.plans.RangeJoinRewrite]]: the
  * optimizer rule that bands a keyless range join into an equi-join.
  *
  * The differential protocol mirrors AsOfJoinSpec: the same naive join
  * runs with the rule enabled (banded plan) and disabled (nested-loop
  * plan) over an adversarial fixture — negatives straddling bin
  * boundaries, NULL bounds, inverted intervals, duplicate timestamps —
  * and additionally against a Scala brute-force evaluation of the
  * predicate, so a bug that broke BOTH Spark paths the same way would
  * still fail. Guard tests pin every no-fire edge of the safety
  * envelope (equi-key present, single bound, variable width with no
  * width source, disabled, non-inner join types). Tests that sweep
  * widths or timeouts call the rule's `rewrite` entry point directly.
  */
class RangeJoinSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  private val BinMark = "__graft_range_bin"
  /** The rule-off twin: Spark's own optimizer rule exclusion. */
  private val RuleOff =
    "spark.sql.optimizer.excludedRules" -> "graft.plans.RangeJoinRewrite"

  /** Adversarial fixture: points and variable-length intervals around
    * zero (bins must use FLOOR, not truncation), with nulls, inverted
    * and empty intervals, and duplicated values. Seeded — the suite is
    * deterministic. */
  private val rnd = new scala.util.Random(227)
  private val points: Seq[(Long, Option[Long])] =
    (1L to 400L).map { id =>
      id -> (if (id % 37 == 0) None else Some(rnd.nextLong(2001L) - 1000L))
    } ++ Seq(401L -> Some(-1000L), 402L -> Some(1000L), 403L -> Some(0L))
  private val intervals: Seq[(Long, Option[Long], Option[Long])] =
    (1L to 120L).map { id =>
      val lo = rnd.nextLong(2001L) - 1000L
      val len = rnd.nextLong(120L) - 10L // ~8% inverted (negative length)
      (id, if (id % 41 == 0) None else Some(lo),
        if (id % 43 == 0) None else Some(lo + len))
    } ++ Seq((121L, Some(-3L), Some(3L)), (122L, Some(5L), Some(5L)),
      (123L, Some(10L), Some(2L)))

  private def pts: DataFrame = points.toDF("pid", "t")
  private def ivs: DataFrame = intervals.toDF("iid", "lo", "hi")

  private def bruteForce(pred: (Long, Long, Long) => Boolean,
      points: Seq[(Long, Option[Long])] = points,
      intervals: Seq[(Long, Option[Long], Option[Long])] = intervals)
      : Set[(Long, Long)] =
    (for {
      (pid, Some(t)) <- points
      (iid, Some(lo), Some(hi)) <- intervals
      if pred(t, lo, hi)
    } yield (pid, iid)).toSet

  /** The fixtures with every value ×1000: at width 4 a few intervals
    * stay under the fixed 4096-bin cap and most exceed it. */
  private def scaled(ivs: Seq[(Long, Option[Long], Option[Long])]) =
    ivs.map { case (id, lo, hi) => (id, lo.map(_ * 1000L), hi.map(_ * 1000L)) }
  private val pointsK = points.map { case (id, t) => (id, t.map(_ * 1000L)) }
  private val intervalsK = scaled(intervals)

  private def resultSet(df: DataFrame): Set[(Long, Long)] =
    df.select("pid", "iid").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

  private def optimized(df: DataFrame): String =
    df.queryExecution.optimizedPlan.toString

  /** `df`'s join rewritten by the rule at width `w` in place of
    * sampling; the session's own rule then sees the bin equi-conjunct
    * and does not fire again. */
  private def banded(df: DataFrame, w: Long): DataFrame =
    GraftBridge.ofRows(spark, rewritten(df, Some(w)))

  /** The rule applied once to `df`'s analyzed plan. Sampling only runs
    * with the plan's session active on the calling thread. */
  private def rewritten(df: DataFrame, width: Option[Long],
      sampleTimeoutMs: Long = 15000L) = {
    SparkSession.setActiveSession(spark)
    RangeJoinRewrite.rewrite(df.queryExecution.analyzed, width, sampleTimeoutMs)
  }

  test("variable intervals with conf binSize: banded ≡ naive ≡ brute force") {
    def mk() = pts.join(ivs, col("t") >= col("lo") && col("t") <= col("hi"))
    val bandedRows = {
      val df = banded(mk(), 64)
      assert(optimized(df).contains(BinMark), "rule should fire at the given width")
      resultSet(df)
    }
    val naive = withConf(RuleOff) {
      val df = mk()
      assert(!optimized(df).contains(BinMark))
      resultSet(df)
    }
    val expected = bruteForce((t, lo, hi) => t >= lo && t <= hi)
    assert(bandedRows == expected, "banded vs brute force")
    assert(naive == expected, "naive vs brute force")
  }

  test("bin width never affects correctness (1, 7, 1000, huge)") {
    val expected = bruteForce((t, lo, hi) => t >= lo && t <= hi)
    Seq(1L, 7L, 1000L, 100000000L).foreach { w =>
      val got = resultSet(
        banded(pts.join(ivs, col("t") >= col("lo") && col("t") <= col("hi")), w))
      assert(got == expected, s"width=$w")
    }
  }

  test("static band shape infers its width with zero configuration") {
    def mk() = pts.join(ivs,
      col("t") >= col("lo") - lit(5L) && col("t") <= col("lo") + lit(7L))
    val df = mk()
    assert(optimized(df).contains(BinMark),
      "literal-offset bounds of a shared base must infer width statically")
    // this condition only reads lo — intervals with a NULL hi still match
    val expected = (for {
      (pid, Some(t)) <- points
      (iid, Some(lo), _) <- intervals
      if t >= lo - 5L && t <= lo + 7L
    } yield (pid, iid)).toSet
    assert(resultSet(df) == expected)
    val naive = withConf(RuleOff)(resultSet(mk()))
    assert(naive == expected)
  }

  test("strict bounds stay strict through the rewrite") {
    def mk() = pts.join(ivs, col("t") > col("lo") && col("t") < col("hi"))
    val df = banded(mk(), 50)
    assert(optimized(df).contains(BinMark))
    assert(resultSet(df) == bruteForce((t, lo, hi) => t > lo && t < hi))
  }

  test("extra cross-side non-equi conjuncts are retained, not lost") {
    def mk() = pts.join(ivs,
      col("t") >= col("lo") && col("t") <= col("hi") &&
        (col("pid") + col("iid")) % 3 =!= 0)
    val df = banded(mk(), 64)
    assert(optimized(df).contains(BinMark))
    val expectedPairs = bruteForce((t, lo, hi) => t >= lo && t <= hi)
      .filter { case (p, i) => (p + i) % 3 != 0 }
    assert(resultSet(df) == expectedPairs)
  }

  test("no fire: cross-side equi-key already present (Spark hash-joins it)") {
    val df = banded(pts.join(ivs, col("pid") === col("iid") &&
      col("t") >= col("lo") && col("t") <= col("hi")), 64)
    assert(!optimized(df).contains(BinMark),
      "an existing equi-conjunct must suppress the rewrite")
  }

  test("no fire: single bound, variable width without conf, disabled") {
    val oneBound = banded(pts.join(ivs, col("t") >= col("lo")), 64)
    assert(!optimized(oneBound).contains(BinMark), "one bound is not a range")
    // bounds that are null on every row (not provably so at plan time,
    // so the join survives optimization): the sample finds no length,
    // no width exists at all -> the join must stay as written
    val nullIvs = spark.range(1, 121).select(col("id").as("iid"),
      when(col("id") < 0L, col("id")).as("lo"),
      when(col("id") < 0L, col("id") + 5L).as("hi"))
    val noWidth = pts.join(nullIvs, col("t") >= col("lo") && col("t") <= col("hi"))
    val pNoWidth = optimized(noWidth)
    assert(pNoWidth.contains("Join"), "the fixture must keep its join")
    assert(!pNoWidth.contains(BinMark),
      "variable intervals without any width source must stay as written")
    // ...whereas variable intervals with lengths need no setting at
    // all: the width comes from the data
    val sampled = pts.join(ivs, col("t") >= col("lo") && col("t") <= col("hi"))
    assert(optimized(sampled).contains(BinMark),
      "sampling must supply the width")
    withConf(RuleOff) {
      // force the plan INSIDE the conf scope — optimization is lazy
      val disabled = pts.join(ivs, col("t") >= col("lo") && col("t") <= col("hi"))
      assert(!optimized(disabled).contains(BinMark))
    }
  }

  test("sampling watchdog: an expired timeout leaves the join as written") {
    // The sampling job is bounded by a wall-clock watchdog. A 1 ms
    // budget expires before any Spark job can finish, so no width
    // exists and the join stays as written rather than hanging
    // planning. FRESH frames (shifted data): the per-JVM width memo is
    // keyed on the canonicalized interval child, and earlier tests in
    // this suite already sampled the shared pts/ivs shape — a cache hit
    // would bypass the watchdog entirely and void the assertion below.
    val pts2 = points.map { case (id, t) => (id + 9000L, t.map(_ + 7L)) }
      .toDF("pid", "t")
    val ivs2 = intervals.map { case (id, lo, hi) =>
      (id + 9000L, lo.map(_ + 7L), hi.map(_ + 7L)) }.toDF("iid", "lo", "hi")
    val df = pts2.join(ivs2, col("t") >= col("lo") && col("t") <= col("hi"))
    assert(!rewritten(df, None, sampleTimeoutMs = 1).toString.contains(BinMark),
      "no width source after a timeout -> the join stays as written")
  }

  test("sampling gate survives a timed-out attempt: the next shape still samples (round-14 ADVICE)") {
    // A 1 ms watchdog expiry can cancel(true) the FutureTask while it
    // is still NEW (worker thread started, call() not yet entered):
    // task.run() then no-ops, so a single-flight release inside call()
    // would NEVER fire and sampling would be silently disabled
    // JVM-wide forever. The release rides the worker THREAD's own
    // finally — so after a timed-out attempt, a FRESH shape must still
    // derive a SAMPLED width (banding below can only come from
    // sampling, i.e. only if the gate was released).
    val pts3 = points.map { case (id, t) => (id + 18000L, t.map(_ + 13L)) }
      .toDF("pid", "t")
    val ivs3 = intervals.map { case (id, lo, hi) =>
      (id + 18000L, lo.map(_ + 13L), hi.map(_ + 13L)) }.toDF("iid", "lo", "hi")
    val df3 = pts3.join(ivs3, col("t") >= col("lo") && col("t") <= col("hi"))
    assert(!rewritten(df3, None, sampleTimeoutMs = 1).toString.contains(BinMark),
      "a timed-out sample leaves the join as written")
    // The abandoned worker may legitimately HOLD the gate until its
    // tiny sampling job actually stops (the documented invariant) —
    // poll with fresh shapes rather than racing it once.
    val pts4 = points.map { case (id, t) => (id + 27000L, t.map(_ + 17L)) }
      .toDF("pid", "t")
    val ivs4 = intervals.map { case (id, lo, hi) =>
      (id + 27000L, lo.map(_ + 17L), hi.map(_ + 17L)) }.toDF("iid", "lo", "hi")
    val df4 = pts4.join(ivs4, col("t") >= col("lo") && col("t") <= col("hi"))
    val bandedNow = (1 to 10).exists { _ =>
      if (rewritten(df4, None, sampleTimeoutMs = 60000).toString.contains(BinMark)) true
      else { Thread.sleep(1000); false }
    }
    assert(bandedNow,
      "sampling never recovered after a timed-out attempt — the single-flight gate leaked")
  }

  test("no fire: streaming joins are left exactly as Spark plans them") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val st = MemoryStream[(Long, Long)].toDF().toDF("t", "pid2")
    // stream ⋈ static with a pure range condition: the batch rewrite
    // must not inject a Generate into a streaming plan
    val df = st.join(ivs, col("t") >= col("lo") && col("t") <= col("hi"))
    assert(df.isStreaming)
    // a streaming plan only optimizes inside writeStream.start(), so
    // run the rule directly on the analyzed plan
    val analyzed = df.queryExecution.analyzed
    val after = RangeJoinRewrite.rewrite(analyzed, Some(64L))
    assert(after.fastEquals(analyzed),
      "streaming range joins are outside the rewrite's envelope")
  }

  test("no fire: non-inner join types keep their multiplicity semantics") {
    Seq("left", "left_semi", "left_anti", "full").foreach { jt =>
      val df = banded(pts.join(ivs,
        col("t") >= col("lo") && col("t") <= col("hi"), jt), 64)
      assert(!optimized(df).contains(BinMark), s"joinType=$jt must not band")
    }
  }

  test("the rewrite fires exactly once (idempotent under the fixed point)") {
    val p = optimized(
      banded(pts.join(ivs, col("t") >= col("lo") && col("t") <= col("hi")), 64))
    assert(s"${BinMark}_gen".r.findAllIn(p).toSeq.nonEmpty)
    // variable-width point form = fallback mode: point side explodes
    // {bin, sentinel}, interval side its bins — exactly TWO Generates,
    // and no third from the session's rule re-firing on the optimizer's
    // fixed point
    assert("Generate explode".r.findAllIn(p).size == 2)
    // static-width form keeps the zero-overhead shape: ONE Generate
    // (interval side only), point side is a plain projection
    val pStatic = optimized(pts.join(ivs,
      col("t") >= col("lo") - lit(5L) && col("t") <= col("lo") + lit(7L)))
    assert("Generate explode".r.findAllIn(pStatic).size == 1)
  }

  test("output schema and column order survive the rewrite") {
    val df = banded(pts.join(ivs, col("t") >= col("lo") && col("t") <= col("hi")), 64)
    assert(df.columns.toSeq == Seq("pid", "t", "iid", "lo", "hi"))
    assert(!df.columns.exists(_.contains(BinMark)),
      "helper bin columns must not leak into the user schema")
  }

  test("static inference sees through integral-widening casts (int base, long offsets)") {
    // coercion wraps the int base in CAST(.. AS BIGINT) inside the
    // comparisons; inference must still unify the two bounds' base
    val p32 = Seq((1, 10), (2, 250), (3, -7)).toDF("pid32", "t32")
    val base32 = Seq((10, 5), (11, -10), (12, 240)).toDF("iid32", "b32")
    val df = p32.join(base32,
      col("t32") >= col("b32") - lit(3L) && col("t32") <= col("b32") + lit(12L))
    assert(optimized(df).contains(BinMark),
      "CAST-wrapped shared base must still infer the static width")
    val got = df.select("pid32", "iid32").collect()
      .map(r => (r.getInt(0), r.getInt(1))).toSet
    val expected = (for {
      (pid, t) <- Seq((1, 10), (2, 250), (3, -7))
      (iid, b) <- Seq((10, 5), (11, -10), (12, 240))
      if t >= b - 3 && t <= b + 12
    } yield (pid, iid)).toSet
    assert(got == expected)
  }

  test("int-typed columns band through the comparison coercion") {
    val p32 = Seq((1, 10), (2, 250), (3, -7)).toDF("pid32", "t32")
    val i32 = Seq((10, 5, 30), (11, -10, -1), (12, 240, 260)).toDF("iid32", "lo32", "hi32")
    val df = banded(
      p32.join(i32, col("t32") >= col("lo32") && col("t32") <= col("hi32")), 16)
    assert(optimized(df).contains(BinMark), "int columns are long-backed: must band")
    val got = df.select("pid32", "iid32").collect()
      .map(r => (r.getInt(0), r.getInt(1))).toSet
    assert(got == Set((1, 10), (2, 12), (3, 11)))
  }

  // ---- interval-overlap form -------------------------------------------

  /** Second interval table for overlap joins: includes inverted
    * intervals (lo > hi) — which still SATISFY the two overlap
    * conjuncts against a spanning partner, the adversarial case the
    * least/greatest normalization exists for — plus nulls and
    * duplicates of the same span. */
  private val intervalsB: Seq[(Long, Option[Long], Option[Long])] =
    (1L to 90L).map { id =>
      val lo = rnd.nextLong(2001L) - 1000L
      val len = rnd.nextLong(160L) - 20L
      (id, if (id % 29 == 0) None else Some(lo),
        if (id % 31 == 0) None else Some(lo + len))
    } ++ Seq((91L, Some(50L), Some(-50L)), (92L, Some(0L), Some(0L)),
      (93L, Some(-400L), Some(400L)), (94L, Some(-400L), Some(400L)))
  private def ivsB: DataFrame = intervalsB.toDF("jid", "lo2", "hi2")

  /** Multiset compare — an exactly-once bug (duplicate matches from
    * shared bins) must not hide in a Set. */
  private def overlapPairs(df: DataFrame): Seq[(Long, Long)] =
    df.select("iid", "jid").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted

  private def overlapBrute: Seq[(Long, Long)] = overlapBrute(intervals, intervalsB)

  private def overlapBrute(intervals: Seq[(Long, Option[Long], Option[Long])],
      intervalsB: Seq[(Long, Option[Long], Option[Long])]): Seq[(Long, Long)] =
    (for {
      (iid, Some(lo), Some(hi)) <- intervals
      (jid, Some(lo2), Some(hi2)) <- intervalsB
      if lo <= hi2 && lo2 <= hi
    } yield (iid, jid)).sorted

  test("overlap join with conf width: banded ≡ naive ≡ brute force (multiset)") {
    def mk() = ivs.join(ivsB,
      col("lo") <= col("hi2") && col("lo2") <= col("hi"))
    val bandedPairs = {
      val df = banded(mk(), 64)
      val p = optimized(df)
      assert(p.contains(s"${BinMark}_genl") && p.contains(s"${BinMark}_genr"),
        "overlap form must explode BOTH sides")
      overlapPairs(df)
    }
    val naive = withConf(RuleOff) {
      overlapPairs(mk())
    }
    val expected = overlapBrute
    assert(bandedPairs == expected, "banded overlap vs brute force (multiset)")
    assert(naive == expected, "naive overlap vs brute force (multiset)")
  }

  test("overlap: bin width never affects the multiset (1, 13, 500, huge)") {
    val expected = overlapBrute
    Seq(1L, 13L, 500L, 100000000L).foreach { w =>
      val got = overlapPairs(banded(ivs.join(ivsB,
        col("lo") <= col("hi2") && col("lo2") <= col("hi")), w))
      assert(got == expected, s"width=$w")
    }
  }

  test("overlap: strict bounds and an extra ordering conjunct AFTER the bounds") {
    def mk() = ivs.join(ivsB,
      col("lo") < col("hi2") && col("lo2") < col("hi") &&
        col("iid") < col("jid"))
    val df = banded(mk(), 64)
    assert(optimized(df).contains(s"${BinMark}_genl"),
      "bounds-first condition order must pair the real intervals")
    val expected = (for {
      (iid, Some(lo), Some(hi)) <- intervals
      (jid, Some(lo2), Some(hi2)) <- intervalsB
      if lo < hi2 && lo2 < hi && iid < jid
    } yield (iid, jid)).sorted
    assert(overlapPairs(df) == expected)
  }

  test("overlap: static inference when BOTH sides have literal-offset bounds") {
    // [t-2, t+8] overlap [t2-5, t2+1]: lengths 10 and 6 -> width 6, no sample
    def mk() = pts.as("a").join(pts.toDF("pid2", "t2").as("b"),
      col("t") - lit(2L) <= col("t2") + lit(1L) &&
        col("t2") - lit(5L) <= col("t") + lit(8L))
    val df = mk()
    assert(optimized(df).contains(s"${BinMark}_genl"),
      "both-sides static lengths must infer the overlap width")
    val got = df.select(col("pid"), col("pid2")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
    val expected = (for {
      (pid, Some(t)) <- points
      (pid2, Some(t2)) <- points
      if t - 2L <= t2 + 1L && t2 - 5L <= t + 8L
    } yield (pid, pid2)).sorted
    assert(got == expected)
  }

  // ---- wide-row sentinel fallback --------------------------------------

  test("point: wide intervals route through the sentinel bucket, no Sequence blowup") {
    // the 4096-bin cap at width 4 over the ×1000 fixture: its intervals
    // span up to ~30000 bins, so most rows are 'wide' and must fall back
    // to the reserved bucket instead of exploding (or, above Spark's
    // array cap, erroring)
    val expected = bruteForce((t, lo, hi) => t >= lo && t <= hi, pointsK, intervalsK)
    val df = banded(pointsK.toDF("pid", "t").join(intervalsK.toDF("iid", "lo", "hi"),
      col("t") >= col("lo") && col("t") <= col("hi")), 4)
    assert(optimized(df).contains(BinMark), "must still band")
    assert(resultSet(df) == expected, "sentinel fallback must lose no pairs")
  }

  test("point: an open-ended interval (hi = Long.MaxValue) no longer errors") {
    // before the fallback this asked Sequence for ~2^62 elements
    val wild = Seq((900L, Some(-5L), Some(Long.MaxValue)),
      (901L, Some(0L), Some(10L))).toDF("iid", "lo", "hi")
    val df = banded(pts.join(wild, col("t") >= col("lo") && col("t") <= col("hi")), 4)
    assert(optimized(df).contains(BinMark))
    val got = df.select("pid", "iid").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
    val expected = (for {
      (pid, Some(t)) <- points
      (iid, lo, hi) <- Seq((900L, -5L, Long.MaxValue), (901L, 0L, 10L))
      if t >= lo && t <= hi
    } yield (pid, iid)).sorted
    assert(got == expected)
  }

  test("overlap: wide rows fall back to the sentinel bucket, multiset exact") {
    // the 4096-bin cap at width 4 over the ×1000 fixtures
    val intervalsBK = scaled(intervalsB)
    val expected = overlapBrute(intervalsK, intervalsBK)
    val df = banded(intervalsK.toDF("iid", "lo", "hi").join(
      intervalsBK.toDF("jid", "lo2", "hi2"),
      col("lo") <= col("hi2") && col("lo2") <= col("hi")), 4)
    assert(optimized(df).contains(s"${BinMark}_genl"))
    assert(overlapPairs(df) == expected,
      "narrow×narrow, narrow×wide and wide×wide must each pair exactly once")
  }

  test("overlap: mis-pairing (bounds written last) stays correct via the fallback") {
    // an ordering conjunct FIRST makes the extractor's order preference
    // pick a bogus 'interval' pairing — results must still be exact
    // (the retained condition filters; wide spans hit the sentinel)
    def mk() = ivs.join(ivsB,
      col("iid") < col("jid") &&
        col("lo") <= col("hi2") && col("lo2") <= col("hi"))
    val expected = (for {
      (iid, Some(lo), Some(hi)) <- intervals
      (jid, Some(lo2), Some(hi2)) <- intervalsB
      if iid < jid && lo <= hi2 && lo2 <= hi
    } yield (iid, jid)).sorted
    assert(overlapPairs(banded(mk(), 64)) == expected)
  }

  test("q230 runs as the banded overlap join and matches its rule-off twin") {
    def run() = SparkEntry.queries("q230_overlap_incident_windows")(spark, sf)
    val bandedDf = run()
    val pb = bandedDf.queryExecution.executedPlan.toString
    assert(pb.contains(s"${BinMark}_genl"), "q230 must ride the overlap banding")
    assert(!pb.contains("BroadcastNestedLoopJoin") && !pb.contains("CartesianProduct"))
    val bandedRows = bandedDf.collect().map(_.toSeq).toSeq
    val naiveRows = withConf(RuleOff) {
      run().collect().map(_.toSeq).toSeq
    }
    assert(bandedRows == naiveRows)
    assert(bandedRows.nonEmpty)
  }

  test("q227 runs as the banded equi-join and matches its rule-off twin") {
    def run() = SparkEntry.queries("q227_auto_banded_click_rush")(spark, sf)
    val bandedDf = run()
    val pb = bandedDf.queryExecution.executedPlan.toString
    assert(pb.contains(BinMark), "q227 must ride the automatic banding")
    assert(!pb.contains("BroadcastNestedLoopJoin") && !pb.contains("CartesianProduct"))
    val bandedRows = bandedDf.collect().map(_.toSeq).toSeq
    val naiveRows = withConf(RuleOff) {
      val df = run()
      val pn = df.queryExecution.executedPlan.toString
      assert(!pn.contains(BinMark))
      df.collect().map(_.toSeq).toSeq
    }
    assert(bandedRows == naiveRows)
    assert(bandedRows.nonEmpty)
  }

  // -------------------------------------------------------------------
  // Sampled bin width: W is a statistic, not a knob
  // -------------------------------------------------------------------

  private def divWidths(planStr: String): Set[Long] =
    """ div (\d+)\)""".r.findAllMatchIn(planStr).map(_.group(1).toLong).toSet

  test("sampled width: data-derived plan without a given width; result unchanged") {
    val expected = bruteForce((t, lo, hi) => t >= lo && t <= hi)
    def mk() = pts.join(ivs, col("t") >= col("lo") && col("t") <= col("hi"))
    // a given absurd width (1 -> clamped to 2) shapes the plan — every
    // ~50-length interval explodes ~25 bins
    val givenW = {
      val df = banded(mk(), 1)
      assert(resultSet(df) == expected)
      divWidths(optimized(df))
    }
    assert(givenW == Set(2L), s"must band at the clamped given width, got $givenW")
    // the session's rule samples: the width is the median interval
    // length (fixture lengths ~U(-10,110), median ≈ 50), so the plan
    // shape is data-derived
    val sampledW = {
      val df = mk()
      assert(resultSet(df) == expected, "sampled width must not change results")
      divWidths(optimized(df))
    }
    assert(sampledW.size == 1 && sampledW.head >= 20L && sampledW.head <= 100L,
      s"width must be the sampled median (~50), not the given (1): $sampledW")
  }

  test("sampled width is memoized: re-planning the same shape reuses the statistic") {
    val w1 = divWidths(optimized(
      pts.join(ivs, col("t") >= col("lo") && col("t") <= col("hi"))))
    val w2 = divWidths(optimized(
      pts.join(ivs, col("t") >= col("lo") && col("t") <= col("hi"))))
    assert(w1 == w2 && w1.nonEmpty, s"memoized width must be stable: $w1 vs $w2")
  }

  test("sampled width: overlap joins mix per-side static and sampled lengths") {
    val expected = overlapBrute
    val df = ivs.join(ivsB,
      col("lo") <= col("hi2") && col("lo2") <= col("hi"))
    val got = overlapPairs(df)
    assert(optimized(df).contains(BinMark),
      "overlap must band from sampled widths with no setting at all")
    assert(got == expected, "sampled overlap banding must not change the multiset")
  }
}
