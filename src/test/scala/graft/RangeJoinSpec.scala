package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

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
  * conf, disabled, non-inner join types).
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

  private def bruteForce(
      pred: (Long, Long, Long) => Boolean): Set[(Long, Long)] =
    (for {
      (pid, Some(t)) <- points
      (iid, Some(lo), Some(hi)) <- intervals
      if pred(t, lo, hi)
    } yield (pid, iid)).toSet

  private def resultSet(df: DataFrame): Set[(Long, Long)] =
    df.select("pid", "iid").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

  private def optimized(df: DataFrame): String =
    df.queryExecution.optimizedPlan.toString

  test("variable intervals with conf binSize: banded ≡ naive ≡ brute force") {
    def mk() = pts.join(ivs, col("t") >= col("lo") && col("t") <= col("hi"))
    val banded = withConf("spark.graft.rangeJoin.binSize" -> "64") {
      val df = mk()
      assert(optimized(df).contains(BinMark), "rule should fire under conf width")
      resultSet(df)
    }
    val naive = withConf(RuleOff) {
      val df = mk()
      assert(!optimized(df).contains(BinMark))
      resultSet(df)
    }
    val expected = bruteForce((t, lo, hi) => t >= lo && t <= hi)
    assert(banded == expected, "banded vs brute force")
    assert(naive == expected, "naive vs brute force")
  }

  test("bin width never affects correctness (1, 7, 1000, huge)") {
    val expected = bruteForce((t, lo, hi) => t >= lo && t <= hi)
    Seq("1", "7", "1000", "100000000").foreach { w =>
      // sampling off: the point of this test is sweeping CONF widths
      val got = withConf("spark.graft.rangeJoin.binSize" -> w,
          "spark.graft.rangeJoin.sample" -> "false") {
        resultSet(pts.join(ivs, col("t") >= col("lo") && col("t") <= col("hi")))
      }
      assert(got == expected, s"binSize=$w")
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
    val banded = withConf("spark.graft.rangeJoin.binSize" -> "50") {
      val df = mk()
      assert(optimized(df).contains(BinMark))
      resultSet(df)
    }
    assert(banded == bruteForce((t, lo, hi) => t > lo && t < hi))
  }

  test("extra cross-side non-equi conjuncts are retained, not lost") {
    def mk() = pts.join(ivs,
      col("t") >= col("lo") && col("t") <= col("hi") &&
        (col("pid") + col("iid")) % 3 =!= 0)
    val banded = withConf("spark.graft.rangeJoin.binSize" -> "64") {
      val df = mk()
      assert(optimized(df).contains(BinMark))
      resultSet(df)
    }
    val expectedPairs = bruteForce((t, lo, hi) => t >= lo && t <= hi)
      .filter { case (p, i) => (p + i) % 3 != 0 }
    assert(banded == expectedPairs)
  }

  test("no fire: cross-side equi-key already present (Spark hash-joins it)") {
    withConf("spark.graft.rangeJoin.binSize" -> "64") {
      val df = pts.join(ivs, col("pid") === col("iid") &&
        col("t") >= col("lo") && col("t") <= col("hi"))
      assert(!optimized(df).contains(BinMark),
        "an existing equi-conjunct must suppress the rewrite")
    }
  }

  test("no fire: single bound, variable width without conf, disabled") {
    withConf("spark.graft.rangeJoin.binSize" -> "64") {
      val oneBound = pts.join(ivs, col("t") >= col("lo"))
      assert(!optimized(oneBound).contains(BinMark), "one bound is not a range")
    }
    // TestSpark carries the harness default width; `unset` only falls
    // back to the builder-time config, so model "no width" with 0
    // (rejected by the >= 1 validity filter). With SAMPLING also off,
    // no width exists at all -> the join must stay as written
    withConf("spark.graft.rangeJoin.binSize" -> "0",
        "spark.graft.rangeJoin.sample" -> "false") {
      val noWidth = pts.join(ivs, col("t") >= col("lo") && col("t") <= col("hi"))
      assert(!optimized(noWidth).contains(BinMark),
        "variable intervals without any width source must stay as written")
    }
    // ...whereas the default (sampling ON) needs no conf at all: the
    // width comes from the data
    withConf("spark.graft.rangeJoin.binSize" -> "0") {
      val sampled = pts.join(ivs, col("t") >= col("lo") && col("t") <= col("hi"))
      assert(optimized(sampled).contains(BinMark),
        "sampling must supply the width when the conf cannot")
    }
    withConf(
      RuleOff,
      "spark.graft.rangeJoin.binSize" -> "64") {
      // force the plan INSIDE the conf scope — optimization is lazy
      val disabled = pts.join(ivs, col("t") >= col("lo") && col("t") <= col("hi"))
      assert(!optimized(disabled).contains(BinMark))
    }
  }

  test("sampling watchdog: an expired timeout falls back to the conf width, results exact") {
    // round-13 ADVICE hardening: the sampling job is bounded by a
    // wall-clock watchdog. A 1 ms budget expires before any Spark job
    // can finish, so the width must come from the conf path — the rule
    // still fires (binSize present) and the banded result is the exact
    // multiset of the naive join, proving the fallback changes plan
    // shape only, never rows.
    // FRESH frames (shifted data): the per-JVM width memo is keyed on
    // the canonicalized interval child, and earlier tests in this suite
    // already sampled the shared pts/ivs shape — a cache hit would
    // bypass the watchdog entirely and void the assertions below
    val pts2 = points.map { case (id, t) => (id + 9000L, t.map(_ + 7L)) }
      .toDF("pid", "t")
    val ivs2 = intervals.map { case (id, lo, hi) =>
      (id + 9000L, lo.map(_ + 7L), hi.map(_ + 7L)) }.toDF("iid", "lo", "hi")
    withConf("spark.graft.rangeJoin.binSize" -> "64",
        "spark.graft.rangeJoin.sampleTimeoutMs" -> "1") {
      val df = pts2.join(ivs2, col("t") >= col("lo") && col("t") <= col("hi"))
      assert(optimized(df).contains(BinMark),
        "the conf width must band the join when sampling times out")
      val banded = df.collect().map(_.toSeq).groupBy(identity).view
        .mapValues(_.length).toMap
      val naive = withConf(RuleOff) {
        pts2.join(ivs2, col("t") >= col("lo") && col("t") <= col("hi"))
          .collect().map(_.toSeq).groupBy(identity).view
          .mapValues(_.length).toMap
      }
      assert(banded == naive, "timeout fallback must not change the multiset")
    }
    // and with NO conf width either, the timed-out sample leaves the
    // join as written rather than hanging planning
    withConf("spark.graft.rangeJoin.binSize" -> "0",
        "spark.graft.rangeJoin.sampleTimeoutMs" -> "1") {
      val df = pts2.join(ivs2, col("t") >= col("lo") && col("t") <= col("hi"))
      assert(!optimized(df).contains(BinMark),
        "no width source after a timeout -> the join stays as written")
    }
  }

  test("sampling gate survives a timed-out attempt: the next shape still samples (round-14 ADVICE)") {
    // A 1 ms watchdog expiry can cancel(true) the FutureTask while it
    // is still NEW (worker thread started, call() not yet entered):
    // task.run() then no-ops, so a single-flight release inside call()
    // would NEVER fire and sampling would be silently disabled
    // JVM-wide forever. The release now rides the worker THREAD's own
    // finally — so after a timed-out attempt, a FRESH shape with NO
    // conf width must still derive a SAMPLED width (binSize=0 means
    // banding below can only come from sampling, i.e. only if the gate
    // was released).
    val pts3 = points.map { case (id, t) => (id + 18000L, t.map(_ + 13L)) }
      .toDF("pid", "t")
    val ivs3 = intervals.map { case (id, lo, hi) =>
      (id + 18000L, lo.map(_ + 13L), hi.map(_ + 13L)) }.toDF("iid", "lo", "hi")
    withConf("spark.graft.rangeJoin.binSize" -> "0",
        "spark.graft.rangeJoin.sampleTimeoutMs" -> "1") {
      val df = pts3.join(ivs3, col("t") >= col("lo") && col("t") <= col("hi"))
      assert(!optimized(df).contains(BinMark),
        "a timed-out sample with no conf width leaves the join as written")
    }
    // The abandoned worker may legitimately HOLD the gate until its
    // tiny sampling job actually stops (the documented invariant) —
    // poll with fresh shapes rather than racing it once.
    val pts4 = points.map { case (id, t) => (id + 27000L, t.map(_ + 17L)) }
      .toDF("pid", "t")
    val ivs4 = intervals.map { case (id, lo, hi) =>
      (id + 27000L, lo.map(_ + 17L), hi.map(_ + 17L)) }.toDF("iid", "lo", "hi")
    withConf("spark.graft.rangeJoin.binSize" -> "0",
        "spark.graft.rangeJoin.sampleTimeoutMs" -> "60000") {
      val banded = (1 to 10).exists { _ =>
        val df = pts4.join(ivs4,
          col("t") >= col("lo") && col("t") <= col("hi"))
        if (optimized(df).contains(BinMark)) true
        else { Thread.sleep(1000); false }
      }
      assert(banded,
        "sampling never recovered after a timed-out attempt — the single-flight gate leaked")
    }
  }

  test("no fire: streaming joins are left exactly as Spark plans them") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val st = MemoryStream[(Long, Long)].toDF().toDF("t", "pid2")
    withConf("spark.graft.rangeJoin.binSize" -> "64") {
      // stream ⋈ static with a pure range condition: the batch rewrite
      // must not inject a Generate into a streaming plan
      val df = st.join(ivs, col("t") >= col("lo") && col("t") <= col("hi"))
      assert(df.isStreaming)
      // a streaming plan only optimizes inside writeStream.start(), so
      // run the rule directly on the analyzed plan
      val analyzed = df.queryExecution.analyzed
      val after = graft.plans.RangeJoinRewrite(analyzed)
      assert(after.fastEquals(analyzed),
        "streaming range joins are outside the rewrite's envelope")
    }
  }

  test("no fire: non-inner join types keep their multiplicity semantics") {
    withConf("spark.graft.rangeJoin.binSize" -> "64") {
      Seq("left", "left_semi", "left_anti", "full").foreach { jt =>
        val df = pts.join(ivs,
          col("t") >= col("lo") && col("t") <= col("hi"), jt)
        assert(!optimized(df).contains(BinMark), s"joinType=$jt must not band")
      }
    }
  }

  test("the rewrite fires exactly once (idempotent under the fixed point)") {
    withConf("spark.graft.rangeJoin.binSize" -> "64") {
      val p = optimized(
        pts.join(ivs, col("t") >= col("lo") && col("t") <= col("hi")))
      assert(s"${BinMark}_gen".r.findAllIn(p).toSeq.nonEmpty)
      // conf-width point form = fallback mode: point side explodes
      // {bin, sentinel}, interval side its bins — exactly TWO
      // Generates, and no third from a re-fire on later iterations
      assert("Generate explode".r.findAllIn(p).size == 2)
    }
    // static-width form keeps the zero-overhead shape: ONE Generate
    // (interval side only), point side is a plain projection
    val pStatic = optimized(pts.join(ivs,
      col("t") >= col("lo") - lit(5L) && col("t") <= col("lo") + lit(7L)))
    assert("Generate explode".r.findAllIn(pStatic).size == 1)
  }

  test("output schema and column order survive the rewrite") {
    withConf("spark.graft.rangeJoin.binSize" -> "64") {
      val df = pts.join(ivs, col("t") >= col("lo") && col("t") <= col("hi"))
      assert(df.columns.toSeq == Seq("pid", "t", "iid", "lo", "hi"))
      assert(!df.columns.exists(_.contains(BinMark)),
        "helper bin columns must not leak into the user schema")
    }
  }

  test("static inference sees through integral-widening casts (int base, long offsets)") {
    // coercion wraps the int base in CAST(.. AS BIGINT) inside the
    // comparisons; inference must still unify the two bounds' base
    val p32 = Seq((1, 10), (2, 250), (3, -7)).toDF("pid32", "t32")
    val base32 = Seq((10, 5), (11, -10), (12, 240)).toDF("iid32", "b32")
    // no conf width: only cast-stripped static inference can band this
    withConf("spark.graft.rangeJoin.binSize" -> "0") {
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
  }

  test("int-typed columns band through the comparison coercion") {
    val p32 = Seq((1, 10), (2, 250), (3, -7)).toDF("pid32", "t32")
    val i32 = Seq((10, 5, 30), (11, -10, -1), (12, 240, 260)).toDF("iid32", "lo32", "hi32")
    withConf("spark.graft.rangeJoin.binSize" -> "16") {
      val df = p32.join(i32, col("t32") >= col("lo32") && col("t32") <= col("hi32"))
      assert(optimized(df).contains(BinMark), "int columns are long-backed: must band")
      val got = df.select("pid32", "iid32").collect()
        .map(r => (r.getInt(0), r.getInt(1))).toSet
      assert(got == Set((1, 10), (2, 12), (3, 11)))
    }
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

  private def overlapBrute: Seq[(Long, Long)] =
    (for {
      (iid, Some(lo), Some(hi)) <- intervals
      (jid, Some(lo2), Some(hi2)) <- intervalsB
      if lo <= hi2 && lo2 <= hi
    } yield (iid, jid)).sorted

  test("overlap join with conf width: banded ≡ naive ≡ brute force (multiset)") {
    def mk() = ivs.join(ivsB,
      col("lo") <= col("hi2") && col("lo2") <= col("hi"))
    val banded = withConf("spark.graft.rangeJoin.binSize" -> "64") {
      val df = mk()
      val p = optimized(df)
      assert(p.contains(s"${BinMark}_genl") && p.contains(s"${BinMark}_genr"),
        "overlap form must explode BOTH sides")
      overlapPairs(df)
    }
    val naive = withConf(RuleOff) {
      overlapPairs(mk())
    }
    val expected = overlapBrute
    assert(banded == expected, "banded overlap vs brute force (multiset)")
    assert(naive == expected, "naive overlap vs brute force (multiset)")
  }

  test("overlap: bin width never affects the multiset (1, 13, 500, huge)") {
    val expected = overlapBrute
    Seq("1", "13", "500", "100000000").foreach { w =>
      // sampling off: the point of this test is sweeping CONF widths
      val got = withConf("spark.graft.rangeJoin.binSize" -> w,
          "spark.graft.rangeJoin.sample" -> "false") {
        overlapPairs(ivs.join(ivsB,
          col("lo") <= col("hi2") && col("lo2") <= col("hi")))
      }
      assert(got == expected, s"binSize=$w")
    }
  }

  test("overlap: strict bounds and an extra ordering conjunct AFTER the bounds") {
    def mk() = ivs.join(ivsB,
      col("lo") < col("hi2") && col("lo2") < col("hi") &&
        col("iid") < col("jid"))
    val banded = withConf("spark.graft.rangeJoin.binSize" -> "64") {
      val df = mk()
      val p = optimized(df)
      assert(p.contains(s"${BinMark}_genl"),
        "bounds-first condition order must pair the real intervals")
      overlapPairs(df)
    }
    val expected = (for {
      (iid, Some(lo), Some(hi)) <- intervals
      (jid, Some(lo2), Some(hi2)) <- intervalsB
      if lo < hi2 && lo2 < hi && iid < jid
    } yield (iid, jid)).sorted
    assert(banded == expected)
  }

  test("overlap: static inference when BOTH sides have literal-offset bounds") {
    // [t-2, t+8] overlap [t2-5, t2+1]: lengths 10 and 6 -> width 6, no conf
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
    // cap of 4 bins at width 4: the fixture's intervals span up to ~30
    // bins, so most rows are 'wide' and must fall back to the reserved
    // bucket instead of exploding (or, above Spark's array cap, erroring)
    val expected = bruteForce((t, lo, hi) => t >= lo && t <= hi)
    withConf("spark.graft.rangeJoin.binSize" -> "4",
      "spark.graft.rangeJoin.maxBinsPerRow" -> "4") {
      val df = pts.join(ivs, col("t") >= col("lo") && col("t") <= col("hi"))
      assert(optimized(df).contains(BinMark), "must still band")
      assert(resultSet(df) == expected, "sentinel fallback must lose no pairs")
    }
  }

  test("point: an open-ended interval (hi = Long.MaxValue) no longer errors") {
    // before the fallback this asked Sequence for ~2^62 elements
    val wild = Seq((900L, Some(-5L), Some(Long.MaxValue)),
      (901L, Some(0L), Some(10L))).toDF("iid", "lo", "hi")
    withConf("spark.graft.rangeJoin.binSize" -> "4") {
      val df = pts.join(wild, col("t") >= col("lo") && col("t") <= col("hi"))
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
  }

  test("overlap: wide rows fall back to the sentinel bucket, multiset exact") {
    val expected = overlapBrute
    withConf("spark.graft.rangeJoin.binSize" -> "4",
      "spark.graft.rangeJoin.maxBinsPerRow" -> "4") {
      val df = ivs.join(ivsB, col("lo") <= col("hi2") && col("lo2") <= col("hi"))
      assert(optimized(df).contains(s"${BinMark}_genl"))
      assert(overlapPairs(df) == expected,
        "narrow×narrow, narrow×wide and wide×wide must each pair exactly once")
    }
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
    withConf("spark.graft.rangeJoin.binSize" -> "64") {
      val df = mk()
      assert(overlapPairs(df) == expected)
    }
  }

  test("q230 runs as the banded overlap join and matches its rule-off twin") {
    def run() = SparkEntry.queries("q230_overlap_incident_windows")(spark, sf)
    // TestSpark carries the harness sessions' 1h default bin width
    val banded = run()
    val pb = banded.queryExecution.executedPlan.toString
    assert(pb.contains(s"${BinMark}_genl"), "q230 must ride the overlap banding")
    assert(!pb.contains("BroadcastNestedLoopJoin") && !pb.contains("CartesianProduct"))
    val bandedRows = banded.collect().map(_.toSeq).toSeq
    val naiveRows = withConf(RuleOff) {
      run().collect().map(_.toSeq).toSeq
    }
    assert(bandedRows == naiveRows)
    assert(bandedRows.nonEmpty)
  }

  test("q227 runs as the banded equi-join and matches its rule-off twin") {
    def run() = SparkEntry.queries("q227_auto_banded_click_rush")(spark, sf)
    val banded = run()
    val pb = banded.queryExecution.executedPlan.toString
    assert(pb.contains(BinMark), "q227 must ride the automatic banding")
    assert(!pb.contains("BroadcastNestedLoopJoin") && !pb.contains("CartesianProduct"))
    val bandedRows = banded.collect().map(_.toSeq).toSeq
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
  // Sampled bin width (round-13): W is a statistic, not a knob
  // -------------------------------------------------------------------

  private def divWidths(planStr: String): Set[Long] =
    """ div (\d+)\)""".r.findAllMatchIn(planStr).map(_.group(1).toLong).toSet

  test("sampled width: a mis-sized conf no longer shapes the plan; result unchanged") {
    val expected = bruteForce((t, lo, hi) => t >= lo && t <= hi)
    def mk() = pts.join(ivs, col("t") >= col("lo") && col("t") <= col("hi"))
    // sampling OFF: the absurd conf width (1 -> clamped to 2) shapes
    // the plan — every ~50-length interval explodes ~25 bins
    val confW = withConf("spark.graft.rangeJoin.binSize" -> "1",
        "spark.graft.rangeJoin.sample" -> "false") {
      val df = mk()
      assert(resultSet(df) == expected)
      divWidths(optimized(df))
    }
    assert(confW == Set(2L), s"conf path must band at the clamped conf width, got $confW")
    // sampling ON (the default): the SAME mis-sized conf is ignored —
    // the width is the sampled median interval length (fixture lengths
    // ~U(-10,110), median ≈ 50), so the plan shape is data-derived
    val sampledW = withConf("spark.graft.rangeJoin.binSize" -> "1") {
      val df = mk()
      assert(resultSet(df) == expected, "sampled width must not change results")
      divWidths(optimized(df))
    }
    assert(sampledW.size == 1 && sampledW.head >= 20L && sampledW.head <= 100L,
      s"width must be the sampled median (~50), not the conf (1): $sampledW")
  }

  test("sampled width is memoized: re-planning the same shape reuses the statistic") {
    val w1 = withConf("spark.graft.rangeJoin.binSize" -> "0") {
      divWidths(optimized(
        pts.join(ivs, col("t") >= col("lo") && col("t") <= col("hi"))))
    }
    val w2 = withConf("spark.graft.rangeJoin.binSize" -> "0") {
      divWidths(optimized(
        pts.join(ivs, col("t") >= col("lo") && col("t") <= col("hi"))))
    }
    assert(w1 == w2 && w1.nonEmpty, s"memoized width must be stable: $w1 vs $w2")
  }

  test("sampled width: overlap joins mix per-side static and sampled lengths") {
    val expected = overlapBrute
    val got = withConf("spark.graft.rangeJoin.binSize" -> "0") {
      val df = ivs.join(ivsB,
        col("lo") <= col("hi2") && col("lo2") <= col("hi"))
      val pairs = overlapPairs(df)
      assert(optimized(df).contains(BinMark),
        "overlap must band from sampled widths with no conf at all")
      pairs
    }
    assert(got == expected, "sampled overlap banding must not change the multiset")
  }
}
