package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.plans.AsOfJoin

/** Native as-of join operator (graft.plans.AsOfJoinPlan): differential
  * testing against the rank-1 window composition it replaced — the
  * composition is the executable SPEC, the operator must match it
  * row-for-row on randomized inputs engineered for merge edge cases
  * (duplicate times, ties, keys on one side only, null keys/times,
  * empty right partitions). */
class AsOfJoinSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  // deterministic generator: heavy key collision (0..9), heavy time
  // collision (0..19), nulls sprinkled on key and time
  private def mkSide(seed: Long, n: Int, tag: String): DataFrame = {
    val rnd = new scala.util.Random(seed)
    val rows = (0 until n).map { i =>
      val k = if (rnd.nextInt(20) == 0) None else Some(rnd.nextInt(10).toLong)
      val t = if (rnd.nextInt(20) == 0) None else Some(rnd.nextInt(20).toLong)
      (i.toLong, k, t)
    }
    rows.toDF(s"${tag}_id", s"${tag}_k", s"${tag}_t")
  }

  /** The spec: equi-join + rank-1 window, exactly the pre-round-10
    * q10/q69 shape (including its null semantics); `tol` adds the
    * bounded-distance predicate the operator's tolerance implements. */
  private def windowSpec(l: DataFrame, r: DataFrame, forward: Boolean,
      tol: Option[Long] = None): DataFrame = {
    val base = col("l_k") === col("r_k") &&
      (if (forward) col("r_t") > col("l_t") else col("r_t") <= col("l_t"))
    val cond = tol.fold(base) { d =>
      base && (if (forward) col("r_t") <= col("l_t") + d
               else col("r_t") >= col("l_t") - d)
    }
    val w = Window.partitionBy(col("l_id")).orderBy(
      if (forward) col("r_t").asc_nulls_last else col("r_t").desc_nulls_last,
      if (forward) col("r_id").asc_nulls_last else col("r_id").desc_nulls_last)
    l.join(r, cond, "left")
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select("l_id", "r_id")
  }

  /** Nearest spec: closer of the two directions, distance ties toward
    * backward, then the per-direction tie rule (backward largest r_id,
    * forward smallest r_id). */
  private def nearestSpec(l: DataFrame, r: DataFrame,
      tol: Option[Long] = None): DataFrame = {
    val isBw = col("r_t") <= col("l_t")
    val dist = when(isBw, col("l_t") - col("r_t"))
      .otherwise(col("r_t") - col("l_t"))
    // null times on EITHER side are never candidates (the operator
    // skips null right times and emits no-match for null left times;
    // unlike the directional specs this condition carries no time
    // inequality, so the null exclusions must be explicit or null-time
    // rows would survive the join and win rank-1)
    val base = col("l_k") === col("r_k") &&
      col("r_t").isNotNull && col("l_t").isNotNull
    val cond = tol.fold(base)(d => base && dist <= d)
    val w = Window.partitionBy(col("l_id")).orderBy(
      dist.asc_nulls_last,
      when(isBw, 0).otherwise(1).asc_nulls_last,
      when(isBw, -col("r_id")).otherwise(col("r_id")).asc_nulls_last)
    l.join(r, cond, "left")
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select("l_id", "r_id")
  }

  private def collectPairs(df: DataFrame): Set[(Long, Option[Long])] =
    df.collect().map(row => (row.getLong(row.fieldIndex("l_id")),
      if (row.isNullAt(row.fieldIndex("r_id"))) None
      else Some(row.getLong(row.fieldIndex("r_id"))))).toSet

  /** Operator selection follows Spark's own broadcast threshold. `-1`
    * pins the co-partitioned SORT-MERGE operator: the tiny fixtures in
    * this suite sit under the default threshold, so every long-backed
    * test here would otherwise silently exercise
    * [[graft.plans.BroadcastAsOfJoinExec]] instead of the merge paths
    * the test was written for. 1 GiB is far above every right side
    * here, so it pins the broadcast operator for long-backed shapes. */
  private val MergePin = "spark.sql.autoBroadcastJoinThreshold" -> "-1"
  private val BroadcastPin = "spark.sql.autoBroadcastJoinThreshold" -> "1g"
  /** Volcano (doExecute) paths: whole-stage codegen off. */
  private val NoCodegen = "spark.sql.codegen.wholeStage" -> "false"

  private def mergeOnly[T](body: => T): T = withConf(MergePin)(body)

  private def broadcastOnly[T](body: => T): T = withConf(BroadcastPin)(body)

  /** String keys have no primitive binding, so the merge runs its
    * interpreted GENERIC loop on the same rows. */
  private def stringKey(df: DataFrame, key: String): DataFrame =
    df.withColumn(key, col(key).cast("string"))

  for (forward <- Seq(false, true); (nl, nr, seed) <- Seq(
      (300, 300, 1L), (100, 500, 2L), (500, 100, 3L), (50, 0, 4L))) {
    val dir = if (forward) "forward" else "backward"
    test(s"$dir as-of matches the window-composition spec (nl=$nl nr=$nr)") {
      val l = mkSide(seed, nl, "l")
      val r = mkSide(seed + 100, nr, "r")
      def native =
        (if (forward) AsOfJoin.forward(l, r, "l_k", "r_k", "l_t", "r_t", "r_id")
         else AsOfJoin.backward(l, r, "l_k", "r_k", "l_t", "r_t", "r_id"))
          .select("l_id", "r_id")
      val spec = collectPairs(windowSpec(l, r, forward))
      // BOTH physical operators must match the spec on the same input —
      // the merge (the 100 TB fact-fact shape) and the broadcast lookup
      // (the small-right shape this fixture would auto-select anyway)
      mergeOnly {
        assert(native.count() == nl.toLong, "left outer: one row per left row")
        assert(collectPairs(native) == spec, "merge operator diverged")
      }
      broadcastOnly {
        assert(collectPairs(native) == spec, "broadcast operator diverged")
      }
      // and the broadcast VOLCANO path (codegen off) — the third
      // executable form of the broadcast operator
      withConf(BroadcastPin, NoCodegen) {
        assert(collectPairs(native) == spec,
          "broadcast volcano path diverged")
      }
    }
  }

  for (forward <- Seq(false, true); tol <- Seq(0L, 3L, 7L)) {
    val dir = if (forward) "forward" else "backward"
    test(s"$dir as-of with tolerance=$tol matches the bounded window spec") {
      val l = mkSide(11L, 300, "l")
      val r = mkSide(211L, 300, "r")
      def native =
        (if (forward)
          AsOfJoin.forward(l, r, "l_k", "r_k", "l_t", "r_t", "r_id", Some(tol))
        else
          AsOfJoin.backward(l, r, "l_k", "r_k", "l_t", "r_t", "r_id", Some(tol)))
          .select("l_id", "r_id")
      val spec = collectPairs(windowSpec(l, r, forward, Some(tol)))
      mergeOnly {
        assert(native.count() == 300L, "left outer: one row per left row")
        assert(collectPairs(native) == spec, "merge operator diverged")
      }
      broadcastOnly {
        assert(collectPairs(native) == spec, "broadcast operator diverged")
      }
    }
  }

  // direction='nearest' (round 11): closer of the per-direction best
  // candidates, distance ties toward backward — differential-tested
  // against the explicit both-sides window composition, with and
  // without tolerance, across all three execution paths.
  for ((nl, nr, seed) <- Seq((300, 300, 31L), (100, 500, 32L),
      (500, 100, 33L), (50, 0, 34L)); tol <- Seq(None, Some(3L))) {
    test(s"nearest as-of matches the two-sided window spec (nl=$nl nr=$nr tol=$tol)") {
      val l = mkSide(seed, nl, "l")
      val r = mkSide(seed + 100, nr, "r")
      def native = AsOfJoin
        .nearest(l, r, "l_k", "r_k", "l_t", "r_t", "r_id", tol)
        .select("l_id", "r_id")
      val spec = collectPairs(nearestSpec(l, r, tol))
      mergeOnly {
        assert(native.count() == nl.toLong, "left outer: one row per left row")
        assert(collectPairs(native) == spec, "merge operator diverged")
      }
      broadcastOnly {
        assert(collectPairs(native) == spec, "broadcast operator diverged")
      }
      withConf(BroadcastPin, NoCodegen) {
        assert(collectPairs(native) == spec,
          "broadcast volcano path diverged")
      }
    }
  }

  test("nearest: codegen ≡ primitive ≡ interpreted") {
    val l = mkSide(41L, 400, "l")
    val r = mkSide(141L, 400, "r")
    def run(l: DataFrame, r: DataFrame): Set[(Long, Option[Long])] =
      mergeOnly(collectPairs(
        AsOfJoin.nearest(l, r, "l_k", "r_k", "l_t", "r_t", "r_id", Some(5L))
          .select("l_id", "r_id")))
    val codegen = run(l, r)
    val primitive = withConf(NoCodegen)(run(l, r))
    val interpreted = withConf(NoCodegen)(
      run(stringKey(l, "l_k"), stringKey(r, "r_k")))
    assert(codegen == primitive && primitive == interpreted)
    assert(codegen == collectPairs(nearestSpec(l, r, Some(5L))))
  }

  test("nearest: equal-distance ties break toward backward") {
    val l = Seq((1L, 1L, 10L)).toDF("l_id", "l_k", "l_t")
    // backward candidate at distance 2 (t=8), forward at distance 2 (t=12)
    val r = Seq((10L, 1L, 8L), (11L, 1L, 12L)).toDF("r_id", "r_k", "r_t")
    val got = collectPairs(AsOfJoin
      .nearest(l, r, "l_k", "r_k", "l_t", "r_t", "r_id")
      .select("l_id", "r_id"))
    assert(got == Set((1L, Some(10L))), "equal distance must pick backward")
    // and a strictly closer forward candidate must win
    val r2 = Seq((10L, 1L, 7L), (11L, 1L, 12L)).toDF("r_id", "r_k", "r_t")
    val got2 = collectPairs(AsOfJoin
      .nearest(l, r2, "l_k", "r_k", "l_t", "r_t", "r_id")
      .select("l_id", "r_id"))
    assert(got2 == Set((1L, Some(11L))), "closer forward candidate must win")
  }

  test("nearest rejects non-integral time columns (needs distance arithmetic)") {
    val l = mkSide(21L, 10, "l").withColumn("l_d", col("l_t").cast("double"))
    val r = mkSide(22L, 10, "r").withColumn("r_d", col("r_t").cast("double"))
    intercept[IllegalArgumentException] {
      AsOfJoin.nearest(l, r, "l_k", "r_k", "l_d", "r_d", "r_id")
    }
  }

  test("tolerance rejects non-integral time columns and negative bounds") {
    val l = mkSide(21L, 10, "l").withColumn("l_d", col("l_t").cast("double"))
    val r = mkSide(22L, 10, "r").withColumn("r_d", col("r_t").cast("double"))
    intercept[IllegalArgumentException] {
      AsOfJoin.backward(l, r, "l_k", "r_k", "l_d", "r_d", "r_id", Some(5L))
    }
    intercept[IllegalArgumentException] {
      AsOfJoin.backward(l, r, "l_k", "r_k", "l_t", "r_t", "r_id", Some(-1L))
    }
  }

  test("q221 is exactly q10 filtered by the 30-min bound (subset law)") {
    // house-style sibling law (like the LSH/brute pairs in PipelineSpec):
    // the tolerance form must agree with the unbounded form wherever the
    // unbounded match lies within the bound, and be null exactly where
    // it does not — on the real fixture, not synthetic rows.
    val q10 = SparkEntry.queries("q10_asof_click_before_purchase")(spark, sf)
      .collect().map(r => r.getLong(1) ->
        (if (r.isNullAt(2)) None else Some((r.getLong(2), r.getLong(3))))).toMap
    val q221 = SparkEntry.queries("q221_asof_tolerance_attribution")(spark, sf)
      .collect().map(r => r.getLong(1) ->
        (if (r.isNullAt(2)) None else Some((r.getLong(2), r.getLong(3))))).toMap
    assert(q10.keySet == q221.keySet, "both emit one row per purchase")
    val tol = 1800000000L
    q10.foreach { case (purchase, m10) =>
      val want = m10.filter(_._2 <= tol)
      assert(q221(purchase) == want,
        s"purchase $purchase: q221=${q221(purchase)} vs filtered q10=$want")
    }
    assert(q10.values.exists(m => m.exists(_._2 > tol)),
      "fixture must exercise the out-of-tolerance → null branch")
    assert(q221.values.exists(_.isDefined),
      "fixture must exercise the within-tolerance branch")
  }

  test("exec metrics count output and matched rows") {
    val k = "spark.sql.adaptive.enabled"
    val before = spark.conf.getOption(k)
    spark.conf.set(k, "false") // direct plan traversal, no AQE wrapper
    try mergeOnly {
      val l = mkSide(31L, 200, "l")
      val r = mkSide(231L, 200, "r")
      val df = AsOfJoin.backward(l, r, "l_k", "r_k", "l_t", "r_t", "r_id")
      val wantMatched = windowSpec(l, r, forward = false)
        .filter(col("r_id").isNotNull).count()
      df.collect()
      val node = df.queryExecution.executedPlan.collect {
        case a: graft.plans.AsOfJoinExec => a
      }
      assert(node.size == 1)
      assert(node.head.metrics("numOutputRows").value == 200L)
      assert(node.head.metrics("numMatched").value == wantMatched)
    } finally before.fold(spark.conf.unset(k))(v => spark.conf.set(k, v))
  }

  // Round-10 verdict item 2: the merge now has THREE executable forms —
  // whole-stage CODEGEN (default for long-backed keys/times), the
  // PRIMITIVE unsafe-ordinal volcano loop (codegen disabled), and the
  // INTERPRETED generic loop (non-long types, here string keys).
  // Differential-test all three on the same rows: they must differ in
  // nothing but the constant factor.
  for (forward <- Seq(false, true); tol <- Seq(None, Some(3L))) {
    val dir = if (forward) "forward" else "backward"
    test(s"$dir codegen ≡ primitive ≡ interpreted (tol=$tol)") {
      val l = mkSide(71L, 400, "l")
      val r = mkSide(271L, 400, "r")
      def run(l: DataFrame, r: DataFrame): Set[(Long, Option[Long])] =
        mergeOnly(collectPairs(
          (if (forward)
            AsOfJoin.forward(l, r, "l_k", "r_k", "l_t", "r_t", "r_id", tol)
          else
            AsOfJoin.backward(l, r, "l_k", "r_k", "l_t", "r_t", "r_id", tol))
            .select("l_id", "r_id")))
      val codegen = run(l, r)
      val primitive = withConf(NoCodegen)(run(l, r))
      val interpreted = withConf(NoCodegen)(
        run(stringKey(l, "l_k"), stringKey(r, "r_k")))
      assert(codegen == primitive)
      assert(primitive == interpreted)
      assert(codegen == collectPairs(windowSpec(l, r, forward, tol)))
    }
  }

  test("the as-of stage is whole-stage-codegen'd and fuses the downstream agg") {
    // codegen.fallback=false: a janino compile failure must FAIL the
    // test, not silently fall back to the volcano path (which is
    // exactly what masked a broken first cut of this generator)
    val fbKey = "spark.sql.codegen.fallback"
    val before = spark.conf.getOption(fbKey)
    spark.conf.set(fbKey, "false")
    try mergeOnly {
      val l = mkSide(91L, 200, "l")
      val r = mkSide(291L, 200, "r")
      val df = AsOfJoin.backward(l, r, "l_k", "r_k", "l_t", "r_t", "r_id")
        .groupBy("l_k").agg(count("r_id").as("n"))
      df.collect()
      val p = df.queryExecution.executedPlan.toString
      // the as-of and the partial HashAggregate must print with the SAME
      // whole-stage-codegen stage id (`*(N) ...`) — the fusion is the
      // point (no per-row projection between them). Matching on the
      // rendered plan because AQE hides the final tree behind leaf
      // QueryStageExec nodes that plan.collect does not traverse.
      val asofStage = """\*\((\d+)\) AsOfJoin""".r.findFirstMatchIn(p)
        .map(_.group(1))
      assert(asofStage.isDefined, s"as-of not in a codegen stage:\n$p")
      assert(p.contains(s"*(${asofStage.get}) HashAggregate"),
        s"agg not fused into the as-of codegen stage:\n$p")
    } finally before.fold(spark.conf.unset(fbKey))(v => spark.conf.set(fbKey, v))
  }

  test("the broadcast as-of fuses into the downstream agg's codegen stage") {
    // BroadcastHashJoinExec-style: the broadcast as-of rides the left
    // child's produce loop, so scan -> as-of -> partial agg is ONE
    // generated stage. fallback=false makes a janino failure FAIL the
    // test instead of silently dropping to the volcano path.
    withConf("spark.sql.codegen.fallback" -> "false", BroadcastPin) {
      val l = mkSide(93L, 200, "l")
      val r = mkSide(293L, 200, "r")
      val df = AsOfJoin.backward(l, r, "l_k", "r_k", "l_t", "r_t", "r_id")
        .groupBy("l_k").agg(count("r_id").as("n"))
      df.collect()
      val p = df.queryExecution.executedPlan.toString
      val st = """\*\((\d+)\) BroadcastAsOfJoin""".r.findFirstMatchIn(p)
        .map(_.group(1))
      assert(st.isDefined, s"broadcast as-of not in a codegen stage:\n$p")
      assert(p.contains(s"*(${st.get}) HashAggregate"),
        s"agg not fused into the broadcast as-of stage:\n$p")
    }
  }

  test("non-integral (double) TIME columns work on the directional generic path") {
    // regression pin (round-11 review): the generic merge must not
    // evaluate distance arithmetic when no tolerance is set — plain
    // backward/forward on any ORDERED time type predates tolerances and
    // must keep working (only tolerance/nearest require integral times)
    val l0 = mkSide(61L, 200, "l")
    val r0 = mkSide(261L, 200, "r")
    val l = l0.withColumn("l_t", col("l_t").cast("double") / 2)
    val r = r0.withColumn("r_t", col("r_t").cast("double") / 2)
    for (forward <- Seq(false, true)) {
      val native =
        (if (forward) AsOfJoin.forward(l, r, "l_k", "r_k", "l_t", "r_t", "r_id")
         else AsOfJoin.backward(l, r, "l_k", "r_k", "l_t", "r_t", "r_id"))
          .select("l_id", "r_id")
      assert(collectPairs(native) == collectPairs(windowSpec(l, r, forward)))
    }
  }

  test("mixed INTEGRAL key widths widen correctly; non-integral mismatches reject") {
    // int key joined to bigint key (warehouse schema drift) widens to
    // bigint when the join is built — accepted and correct on both the
    // codegen merge and the volcano primitive loop
    val l = mkSide(63L, 200, "l").withColumn("l_k", col("l_k").cast("int"))
    val r = mkSide(64L, 200, "r")
    val native = mergeOnly(
      collectPairs(AsOfJoin.backward(l, r, "l_k", "r_k", "l_t", "r_t", "r_id")
        .select("l_id", "r_id")))
    assert(native == collectPairs(windowSpec(l, r, forward = false)))
    withConf(MergePin, NoCodegen) {
      val volcano = AsOfJoin.backward(l, r, "l_k", "r_k", "l_t", "r_t", "r_id")
        .select("l_id", "r_id")
      assert(collectPairs(volcano) == native)
    }
    // a mismatch OUTSIDE the integral family must fail fast at build —
    // the generic path would silently mis-compare
    val lStr = l.withColumn("l_ks", col("l_k").cast("string"))
    intercept[IllegalArgumentException] {
      AsOfJoin.backward(lStr, r, "l_ks", "r_k", "l_t", "r_t", "r_id")
    }
    val rD = r.withColumn("r_td", col("r_t").cast("double"))
    intercept[IllegalArgumentException] {
      AsOfJoin.backward(l, rD, "l_k", "r_k", "l_t", "r_td", "r_id")
    }
    // the inputs above coalesce to one partition; across a real 8-way
    // hash exchange an int key and a bigint key must still meet
    // (Murmur3 hashes int 5 and bigint 5 to different partitions).
    // Right row x is left row x's own backward match.
    withConf(MergePin, "spark.sql.adaptive.enabled" -> "false",
        "spark.sql.shuffle.partitions" -> "8") {
      val lw = spark.range(0, 2000, 1, 4).select(col("id").as("l_id"),
        (col("id") % 50).cast("int").as("l_k"), col("id").as("l_t"))
      val rw = spark.range(0, 2000, 1, 4).select(col("id").as("r_id"),
        (col("id") % 50).as("r_k"), col("id").as("r_t"))
      val wide = AsOfJoin.backward(lw, rw, "l_k", "r_k", "l_t", "r_t", "r_id")
      assert(wide.schema("l_k").dataType == org.apache.spark.sql.types.IntegerType,
        "widening must not leak into the output schema")
      assert(collectPairs(wide.select("l_id", "r_id")) ==
        (0L until 2000L).map(x => (x, Some(x))).toSet)
    }
    // the generic merge (no primitive binding) orders right values with
    // the LEFT side's types: string keys with int vs bigint times, and
    // int vs bigint keys with double times, must widen there too
    val stringKeyed = (
      stringKey(mkSide(66L, 200, "l"), "l_k").withColumn("l_t", col("l_t").cast("int")),
      stringKey(mkSide(67L, 200, "r"), "r_k"))
    val doubleTimed = (l.withColumn("l_t", col("l_t").cast("double")),
      r.withColumn("r_t", col("r_t").cast("double")))
    for ((lg, rg) <- Seq(stringKeyed, doubleTimed); forward <- Seq(false, true)) {
      val native =
        (if (forward) AsOfJoin.forward(lg, rg, "l_k", "r_k", "l_t", "r_t", "r_id")
         else AsOfJoin.backward(lg, rg, "l_k", "r_k", "l_t", "r_t", "r_id"))
          .select("l_id", "r_id")
      assert(collectPairs(native) == collectPairs(windowSpec(lg, rg, forward)))
    }
  }

  test("a LIMIT fused into the as-of codegen stage stops the merge early") {
    // an agg ABOVE the limit keeps the LocalLimit inside the codegen
    // stage (a bare .limit() plans as CollectLimit above the stage and
    // never exercises the fused check); canCheckLimitNotReached must be
    // true or codegen itself fails under Utils.isTesting
    val l = mkSide(65L, 500, "l")
    val r = mkSide(265L, 500, "r")
    mergeOnly {
    val limited = AsOfJoin.backward(l, r, "l_k", "r_k", "l_t", "r_t", "r_id")
      .limit(7).groupBy().count()
    assert(limited.collect().head.getLong(0) == 7L)
    val p = limited.queryExecution.executedPlan.toString
    val asofStage = """\*\((\d+)\) AsOfJoin""".r.findFirstMatchIn(p)
      .map(_.group(1))
    assert(asofStage.isDefined, s"as-of not codegen'd:\n$p")
    assert(p.contains(s"*(${asofStage.get}) LocalLimit"),
      s"LocalLimit not fused into the as-of stage:\n$p")
    }
  }

  test("string keys take the generic path and match the window spec") {
    // a non-long-backed key type must fall back to interpreted eval —
    // same semantics, including NULL keys sorting first and never
    // matching
    val rnd = new scala.util.Random(81L)
    def mkStr(n: Int, tag: String): DataFrame = {
      val rows = (0 until n).map { i =>
        val k = if (rnd.nextInt(20) == 0) None else Some(s"k${rnd.nextInt(8)}")
        val t = if (rnd.nextInt(20) == 0) None else Some(rnd.nextInt(20).toLong)
        (i.toLong, k, t)
      }
      rows.toDF(s"${tag}_id", s"${tag}_k", s"${tag}_t")
    }
    val l = mkStr(300, "l")
    val r = mkStr(300, "r")
    for (forward <- Seq(false, true)) {
      val native =
        (if (forward) AsOfJoin.forward(l, r, "l_k", "r_k", "l_t", "r_t", "r_id")
         else AsOfJoin.backward(l, r, "l_k", "r_k", "l_t", "r_t", "r_id"))
          .select("l_id", "r_id")
      assert(collectPairs(native) == collectPairs(windowSpec(l, r, forward)))
    }
  }

  test("tolerance distance check is overflow-safe at extreme time values") {
   for (pin <- Seq(MergePin, BroadcastPin))
    withConf(pin) {
    // Regression (round-10 ADVICE): the bound was checked as
    // `rt <= t + d` / `lmt >= t - d`, whose addition/subtraction can
    // overflow for sentinel-scale times and silently flip the verdict.
    // The overflow-safe difference form must match these by-hand cases:
    //  - forward near Long.MaxValue: t + d would wrap negative and
    //    reject a genuinely in-tolerance candidate
    val lF = Seq((1L, 1L, Long.MaxValue - 5L)).toDF("l_id", "l_k", "l_t")
    val rF = Seq((10L, 1L, Long.MaxValue - 2L)).toDF("r_id", "r_k", "r_t")
    val fwd = AsOfJoin.forward(lF, rF, "l_k", "r_k", "l_t", "r_t", "r_id",
      Some(10L)).select("l_id", "r_id")
    assert(collectPairs(fwd) == Set((1L, Some(10L))),
      "distance 3 within tolerance 10 must match despite t+d overflow")
    //  - backward near Long.MinValue: t - d would wrap positive and
    //    reject a genuinely in-tolerance candidate
    val lB = Seq((1L, 1L, Long.MinValue + 5L)).toDF("l_id", "l_k", "l_t")
    val rB = Seq((10L, 1L, Long.MinValue + 1L)).toDF("r_id", "r_k", "r_t")
    val bwd = AsOfJoin.backward(lB, rB, "l_k", "r_k", "l_t", "r_t", "r_id",
      Some(10L)).select("l_id", "r_id")
    assert(collectPairs(bwd) == Set((1L, Some(10L))),
      "distance 4 within tolerance 10 must match despite t-d underflow")
    //  - a genuinely astronomical distance (MaxValue - MinValue wraps to
    //    -1) must still be rejected, not wrapped into tolerance
    val lX = Seq((1L, 1L, Long.MaxValue)).toDF("l_id", "l_k", "l_t")
    val rX = Seq((10L, 1L, Long.MinValue)).toDF("r_id", "r_k", "r_t")
    val far = AsOfJoin.backward(lX, rX, "l_k", "r_k", "l_t", "r_t", "r_id",
      Some(10L)).select("l_id", "r_id")
    assert(collectPairs(far) == Set((1L, None)),
      "a 2^64-scale distance must null-extend, not wrap into tolerance")
    }
  }

  test("as-of output carries honest left-row statistics, not the product default") {
    val l = mkSide(41L, 1000, "l")
    val r = mkSide(241L, 1000, "r")
    val asof = AsOfJoin.backward(l, r, "l_k", "r_k", "l_t", "r_t", "r_id")
    val st = asof.queryExecution.optimizedPlan.stats
    val lSize = l.queryExecution.optimizedPlan.stats.sizeInBytes
    val rSize = r.queryExecution.optimizedPlan.stats.sizeInBytes
    // BinaryNode's default visitor would report lSize × rSize; the honest
    // estimate is left rows × combined width — strictly under lSize+rSize
    // scaled by the width ratio, and categorically under the product.
    assert(st.sizeInBytes < lSize * rSize / 100,
      s"stats ${st.sizeInBytes} look like the child-size product " +
      s"($lSize × $rSize)")
    assert(st.sizeInBytes <= (lSize + rSize) * 4,
      s"stats ${st.sizeInBytes} should be on the order of the input sizes")
  }

  test("downstream join BROADCASTS an as-of output under honest stats") {
    // The scale scenario the stats fix exists for: a plan built ON TOP
    // of an as-of output. With the inflated product default the
    // optimizer refuses to broadcast the (actually tiny) as-of result
    // against a big fact and sort-merge-joins; with honest stats it
    // broadcasts. AQE off so the decision under test is the STATIC
    // estimator's, not a runtime rescue.
    withConf("spark.sql.adaptive.enabled" -> "false",
        "spark.sql.autoBroadcastJoinThreshold" -> (1024 * 1024).toString) {
      val l = mkSide(51L, 1000, "l")
      // the one threshold also selects the as-of operator: a right side
      // estimated at ~3 MB (200k rows × 32 B) stays over 1 MiB, so the
      // as-of itself plans the sort-merge operator
      val r = spark.range(200000).select(col("id").as("r_id"),
        (col("id") % 10).as("r_k"), (col("id") % 20).as("r_t"))
      // fact side: ~16 MB estimated (2M longs) — over the 1 MiB threshold
      val fact = spark.range(2000000).select(col("id").as("f_k"))
      val asof = AsOfJoin.backward(l, r, "l_k", "r_k", "l_t", "r_t", "r_id")
      val joined = fact.join(asof, col("f_k") === col("l_id"))
      val p = joined.queryExecution.executedPlan
      val bhj = p.collect {
        case b: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec => b
      }
      assert(bhj.nonEmpty,
        s"as-of output should be broadcast under honest stats; plan:\n$p")
      assert(bhj.head.collectLeaves().exists(_ => true) && p.collect {
        case a: graft.plans.AsOfJoinExec => a }.nonEmpty,
        "native as-of operator missing from the broadcast plan")
    }
  }

  // Round-10 verdict item 5: the exec's co-partitioning `require`
  // documents the AQE-coalescing assumption ("binary nodes don't split
  // coalesce groups"). Pin it adversarially: AQE on/off × a heavily
  // skewed key × DIFFERING pre-partitioning on the two sides (7 vs 3
  // hash partitions — EnsureRequirements must reconcile them), each
  // checked against the window-composition spec. A future Spark upgrade
  // that changes coalesce-group semantics fails here, not in production.
  for (aqe <- Seq(true, false); forward <- Seq(false, true)) {
    val dir = if (forward) "forward" else "backward"
    test(s"$dir as-of under AQE=$aqe × skew × differing pre-partitioning") {
      val aqeKey = "spark.sql.adaptive.enabled"
      val coalKey = "spark.sql.adaptive.coalescePartitions.enabled"
      val advKey = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
      val before = Seq(aqeKey, coalKey, advKey).map(k => k -> spark.conf.getOption(k))
      spark.conf.set(aqeKey, aqe.toString)
      spark.conf.set(coalKey, "true")
      // tiny advisory size forces the coalescer to actually engage on
      // these small shuffles instead of collapsing everything to 1
      spark.conf.set(advKey, "1024")
      try mergeOnly {
        // 90% of rows on key 0 (skew), the rest spread over 1..9
        val rnd = new scala.util.Random(61L)
        val lRows = (0 until 400).map { i =>
          val k = if (rnd.nextInt(10) < 9) 0L else 1L + rnd.nextInt(9)
          (i.toLong, Option(k), Option(rnd.nextInt(20).toLong))
        }
        val rRows = (0 until 400).map { i =>
          val k = if (rnd.nextInt(10) < 9) 0L else 1L + rnd.nextInt(9)
          (i.toLong, Option(k), Option(rnd.nextInt(20).toLong))
        }
        val l = lRows.toDF("l_id", "l_k", "l_t").repartition(7, col("l_k"))
        val r = rRows.toDF("r_id", "r_k", "r_t").repartition(3, col("r_k"))
        val native =
          (if (forward) AsOfJoin.forward(l, r, "l_k", "r_k", "l_t", "r_t", "r_id")
           else AsOfJoin.backward(l, r, "l_k", "r_k", "l_t", "r_t", "r_id"))
            .select("l_id", "r_id")
        assert(collectPairs(native) == collectPairs(windowSpec(l, r, forward)))
      } finally before.foreach { case (k, v) =>
        v.fold(spark.conf.unset(k))(x => spark.conf.set(k, x)) }
    }
  }

  test("SQL table function graft_asof plans the native operator") {
    GraftExtensions.register(spark)
    val l = mkSide(101L, 200, "l")
    val r = mkSide(301L, 200, "r")
    l.createOrReplaceTempView("asof_sql_l")
    r.createOrReplaceTempView("asof_sql_r")
    try {
      for (dir <- Seq("backward", "forward")) {
        val sqlDf = spark.sql(
          s"""SELECT l_id, r_id FROM graft_asof('$dir', 'asof_sql_l',
             |'asof_sql_r', 'l_k', 'r_k', 'l_t', 'r_t', 'r_id')""".stripMargin)
        // the SQL route must reach the NATIVE operator, not a rewrite
        assert(sqlDf.queryExecution.executedPlan.toString.contains("AsOfJoin"),
          s"graft_asof('$dir', ...) lost the native operator")
        val api =
          (if (dir == "forward")
            AsOfJoin.forward(l, r, "l_k", "r_k", "l_t", "r_t", "r_id")
          else AsOfJoin.backward(l, r, "l_k", "r_k", "l_t", "r_t", "r_id"))
            .select("l_id", "r_id")
        assert(collectPairs(sqlDf) == collectPairs(api))
      }
      // direction='nearest' through SQL
      val sqlNear = spark.sql(
        """SELECT l_id, r_id FROM graft_asof('nearest', 'asof_sql_l',
          |'asof_sql_r', 'l_k', 'r_k', 'l_t', 'r_t', 'r_id')""".stripMargin)
      val apiNear = AsOfJoin
        .nearest(l, r, "l_k", "r_k", "l_t", "r_t", "r_id")
        .select("l_id", "r_id")
      assert(collectPairs(sqlNear) == collectPairs(apiNear))
      // bare identifiers instead of string literals — how users
      // actually write TVF arguments (round-11 ADVICE item 7): the
      // parser delivers them as UnresolvedAttributes and the builder
      // reads their nameParts as the table/column references
      val sqlIdent = spark.sql(
        """SELECT l_id, r_id FROM graft_asof(backward, asof_sql_l,
          |asof_sql_r, l_k, r_k, l_t, r_t, r_id)""".stripMargin)
      val apiIdent = AsOfJoin
        .backward(l, r, "l_k", "r_k", "l_t", "r_t", "r_id")
        .select("l_id", "r_id")
      assert(collectPairs(sqlIdent) == collectPairs(apiIdent),
        "identifier-style arguments diverged from the API route")
      // tolerance as the optional 9th argument
      val sqlTol = spark.sql(
        """SELECT l_id, r_id FROM graft_asof('backward', 'asof_sql_l',
          |'asof_sql_r', 'l_k', 'r_k', 'l_t', 'r_t', 'r_id', 3)""".stripMargin)
      val apiTol = AsOfJoin
        .backward(l, r, "l_k", "r_k", "l_t", "r_t", "r_id", Some(3L))
        .select("l_id", "r_id")
      assert(collectPairs(sqlTol) == collectPairs(apiTol))
      // malformed calls fail analysis with an actionable message
      val bad = intercept[Exception] {
        spark.sql("SELECT * FROM graft_asof('sideways', 'asof_sql_l', " +
          "'asof_sql_r', 'l_k', 'r_k', 'l_t', 'r_t', 'r_id')").collect()
      }
      assert(bad.getMessage.contains("backward") ||
        Option(bad.getCause).exists(_.getMessage.contains("backward")))
    } finally {
      spark.catalog.dropTempView("asof_sql_l"): Unit
      spark.catalog.dropTempView("asof_sql_r"): Unit
    }
  }

  test("composite byKeys as-of matches the two-key window composition") {
    // pandas merge_asof by=[k1, k2] parity: struct-composite key through
    // the generic merge; NULL in ANY key column means no-match (the
    // multi-column equi-join NULL rule)
    val rnd = new scala.util.Random(51L)
    def mk(n: Int, tag: String): DataFrame = {
      val rows = (0 until n).map { i =>
        val k1 = if (rnd.nextInt(15) == 0) None else Some(rnd.nextInt(4).toLong)
        val k2 = if (rnd.nextInt(15) == 0) None else Some(rnd.nextInt(3).toLong)
        val t = if (rnd.nextInt(15) == 0) None else Some(rnd.nextInt(20).toLong)
        (i.toLong, k1, k2, t)
      }
      rows.toDF(s"${tag}_id", s"${tag}_k1", s"${tag}_k2", s"${tag}_t")
    }
    val l = mk(300, "l")
    val r = mk(300, "r")
    for (dirName <- Seq("backward", "forward")) {
      val forward = dirName == "forward"
      // default: both keys long-backed -> the TWO-KEY primitive/codegen
      // fast path (no struct key, lexicographic compares)
      val native = AsOfJoin.byKeys(l, r, graft.plans.AsOfDirection.parse(dirName),
          Seq("l_k1", "l_k2"), Seq("r_k1", "r_k2"), "l_t", "r_t", "r_id")
        .select("l_id", "r_id")
      val base = col("l_k1") === col("r_k1") && col("l_k2") === col("r_k2") &&
        (if (forward) col("r_t") > col("l_t") else col("r_t") <= col("l_t"))
      val w = Window.partitionBy(col("l_id")).orderBy(
        if (forward) col("r_t").asc_nulls_last else col("r_t").desc_nulls_last,
        if (forward) col("r_id").asc_nulls_last else col("r_id").desc_nulls_last)
      val spec = l.join(r, base, "left")
        .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .select("l_id", "r_id")
      assert(native.count() == 300L, s"$dirName: one row per left row")
      val specPairs = collectPairs(spec)
      assert(collectPairs(native) == specPairs, s"$dirName mismatch")
      // synthetic struct key columns must not leak into the output
      assert(!native.columns.exists(_.startsWith("__graft_asof")))
      // differential: the struct-key generic path must agree with the
      // fast path row-for-row on the same rows — a string second key is
      // not long-backed, so byKeys takes the struct path by shape
      val structPath = AsOfJoin.byKeys(stringKey(l, "l_k2"),
          stringKey(r, "r_k2"), graft.plans.AsOfDirection.parse(dirName),
          Seq("l_k1", "l_k2"), Seq("r_k1", "r_k2"), "l_t", "r_t", "r_id")
        .select("l_id", "r_id")
      assert(collectPairs(structPath) == specPairs,
        s"$dirName: struct path diverged from the spec")
    }
    // the fast path runs in a whole-stage-codegen stage (round-11
    // verdict item 4: q225's shape must not drop to the interpreted
    // generic merge) — fallback disabled so a janino failure FAILS
    withConf("spark.sql.codegen.fallback" -> "false", MergePin) {
      val fused = AsOfJoin.byKeys(l, r, graft.plans.AsOfDirection.Backward,
          Seq("l_k1", "l_k2"), Seq("r_k1", "r_k2"), "l_t", "r_t", "r_id")
        .groupBy("l_k1").agg(count("r_id").as("n"))
      fused.collect()
      val p = fused.queryExecution.executedPlan.toString
      val asofStage = """\*\((\d+)\) AsOfJoin""".r.findFirstMatchIn(p)
        .map(_.group(1))
      assert(asofStage.isDefined, s"two-key as-of not in a codegen stage:\n$p")
      assert(p.contains(s"*(${asofStage.get}) HashAggregate"),
        s"agg not fused into the two-key as-of stage:\n$p")
    }
    // single-key byKeys degenerates to the primitive/codegen form
    val one = AsOfJoin.byKeys(l, r, graft.plans.AsOfDirection.Backward,
        Seq("l_k1"), Seq("r_k1"), "l_t", "r_t", "r_id")
      .select("l_id", "r_id")
    val oneDirect = AsOfJoin.backward(l, r, "l_k1", "r_k1", "l_t", "r_t", "r_id")
      .select("l_id", "r_id")
    assert(collectPairs(one) == collectPairs(oneDirect))
  }

  test("broadcast index cache distinguishes column triples on a REUSED broadcast") {
    // ReuseExchange dedupes identical IdentityBroadcastMode exchanges:
    // two as-of joins against the SAME dimension through DIFFERENT
    // time columns share one broadcast rows array per executor, so the
    // executor index cache must key on the building column ordinals,
    // not just the array — or the second join binary-searches the
    // first join's time column (review finding, round 12).
    broadcastOnly {
      val dim = (0 until 100).map(i => (i.toLong % 5,
          (i * 3 % 17).toLong, (i * 7 % 23).toLong, i.toLong))
        .toDF("d_k", "d_t1", "d_t2", "d_id")
      val a = mkSide(95L, 200, "a")
      val b = mkSide(96L, 200, "b")
      // BOTH time columns stay in both outputs: column pruning would
      // otherwise give each join a differently-projected broadcast side
      // and exchange reuse (the hazard under test) could never fire
      val j1 = AsOfJoin.backward(a, dim, "a_k", "d_k", "a_t", "d_t1", "d_id")
        .select(col("a_id").as("l_id"), col("d_id").as("r_id"),
          col("d_t1"), col("d_t2"))
      val j2 = AsOfJoin.backward(b, dim, "b_k", "d_k", "b_t", "d_t2", "d_id")
        .select(col("b_id").as("l_id"), col("d_id").as("r_id"),
          col("d_t1"), col("d_t2"))
      // ONE query so ReuseExchange can fire; tag the branches apart
      val u = j1.withColumn("src", lit(1))
        .unionByName(j2.withColumn("src", lit(2)))
      val got = u.collect().map(r => (r.getInt(r.fieldIndex("src")),
        r.getLong(r.fieldIndex("l_id")),
        if (r.isNullAt(r.fieldIndex("r_id"))) None
        else Some(r.getLong(r.fieldIndex("r_id"))))).toSet
      def specOf(l: DataFrame, tag: String, tCol: String, src: Int) = {
        val w = Window.partitionBy(col(s"${tag}_id")).orderBy(
          col(tCol).desc_nulls_last, col("d_id").desc_nulls_last)
        l.join(dim, col(s"${tag}_k") === col("d_k") &&
            col(tCol) <= col(s"${tag}_t"), "left")
          .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
          .collect().map(r => (src, r.getLong(r.fieldIndex(s"${tag}_id")),
            if (r.isNullAt(r.fieldIndex("d_id"))) None
            else Some(r.getLong(r.fieldIndex("d_id"))))).toSet
      }
      val want = specOf(a, "a", "d_t1", 1) ++ specOf(b, "b", "d_t2", 2)
      // the hazard must actually be present: both joins broadcast and
      // the second exchange is a reuse of the first
      u.collect(): Unit // materialize so AQE prints the FINAL stages
      val plan = u.queryExecution.executedPlan.toString
      val finalPlan = plan.split("== Initial Plan ==").head
      assert("BroadcastAsOfJoin".r.findAllIn(finalPlan).size == 2, plan)
      assert(finalPlan.contains("ReusedExchange") ||
        "BroadcastQueryStage 0".r.findAllIn(finalPlan).size == 2,
        s"the two joins must SHARE one broadcast for the test to bite:\n$plan")
      assert(got == want,
        "a reused broadcast must not serve an index built for a DIFFERENT column triple")
    }
  }

  test("two-key byKeys with non-integral TIME columns stays on the struct path") {
    // keys long-backed but times DOUBLE and no tolerance: this ran the
    // struct generic merge before the two-key fast path existed and
    // must KEEP doing so — the fast path has no generic twin and would
    // throw at execution (review finding, round 12)
    val rnd = new scala.util.Random(97L)
    def mk(n: Int, tag: String): DataFrame = {
      val rows = (0 until n).map { i =>
        (i.toLong, rnd.nextInt(4).toLong, rnd.nextInt(3).toLong,
          rnd.nextInt(20).toDouble / 2)
      }
      rows.toDF(s"${tag}_id", s"${tag}_k1", s"${tag}_k2", s"${tag}_t")
    }
    val l = mk(200, "l")
    val r = mk(200, "r")
    val native = AsOfJoin.byKeys(l, r, graft.plans.AsOfDirection.Backward,
        Seq("l_k1", "l_k2"), Seq("r_k1", "r_k2"), "l_t", "r_t", "r_id")
      .select("l_id", "r_id")
    val w = Window.partitionBy(col("l_id")).orderBy(
      col("r_t").desc_nulls_last, col("r_id").desc_nulls_last)
    val spec = l.join(r,
        col("l_k1") === col("r_k1") && col("l_k2") === col("r_k2") &&
          col("r_t") <= col("l_t"), "left")
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select("l_id", "r_id")
    assert(collectPairs(native) == collectPairs(spec))
  }

  test("generic merge is safe against row-buffer reuse on both inputs (spill contract)") {
    // UnsafeSorterSpillReader returns every row through ONE reused
    // buffer; eval() on string/struct keys yields views into it, so any
    // state the merge retains across next() must be a copy. Simulate
    // the reader directly: the same sorted rows served through a
    // single-buffer iterator must produce byte-identical output to the
    // plain iterator (without the curKey copyValue fix, retained key
    // views mutate into the CURRENT key and candidates leak across key
    // boundaries).
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.{BoundReference,
      GenericInternalRow, JoinedRow, UnsafeProjection, UnsafeRow}
    import org.apache.spark.sql.types.{LongType, StringType}
    import org.apache.spark.unsafe.types.UTF8String
    import graft.plans.{AsOfDirection, AsOfJoinExec}
    val types: Array[org.apache.spark.sql.types.DataType] =
      Array(StringType, LongType, LongType) // key, time, id
    val toUnsafe = UnsafeProjection.create(types)
    val rnd = new scala.util.Random(97L)
    def rowsOf(tups: Seq[(String, Long, Long)]): Array[UnsafeRow] =
      tups.sorted.map { case (k, t, id) =>
        toUnsafe(InternalRow(UTF8String.fromString(k), t, id)).copy()
      }.toArray
    def rand(n: Int): Seq[(String, Long, Long)] =
      (0 until n).map(i =>
        (s"key${rnd.nextInt(6)}", rnd.nextInt(15).toLong, i.toLong))
    // The random block alone cannot catch a stale retained key: every
    // key's right times span the whole domain, so right rows never
    // straddle a key boundary and lastMatch is always overwritten
    // before it could leak. The zk* rows are the adversarial shape a
    // stale curKey corrupts: zkA's right rows OUTLAST its left rows
    // (a leftover sits at the buffer head across the key boundary) and
    // zkB's first left row PRECEDES zkB's first right row (backward
    // must emit null there, and forward must advance past the zkA
    // leftover to find zkB's candidate).
    val lRows = rowsOf(rand(200) ++
      Seq(("zkA", 10L, 900L), ("zkB", 1L, 901L), ("zkB", 200L, 902L)))
    val rRows = rowsOf(rand(200) ++
      Seq(("zkA", 5L, 950L), ("zkA", 50L, 951L), ("zkB", 100L, 952L)))
    def reusing(rows: Array[UnsafeRow]): Iterator[InternalRow] = {
      // copyFrom requires a row already pointing at a byte[] at
      // BYTE_ARRAY_OFFSET (its guard is an assert, disabled at runtime);
      // a fresh UnsafeRow has baseOffset 0 and copyFrom would write the
      // row bytes over the array object header — heap corruption. Point
      // the buffer at a real backing array first; copyFrom grows it.
      val buf = new UnsafeRow(3)
      val backing = new Array[Byte](64)
      buf.pointTo(backing, backing.length)
      rows.iterator.map { r => buf.copyFrom(r); buf }
    }
    val kB = BoundReference(0, StringType, nullable = false)
    val tB = BoundReference(1, LongType, nullable = false)
    val sc = spark.sparkContext
    def emit() = new AsOfJoinExec.Emit(new JoinedRow,
      new GenericInternalRow(3),
      UnsafeProjection.create(types ++ types),
      org.apache.spark.sql.execution.metric.SQLMetrics.createMetric(sc, "o"),
      org.apache.spark.sql.execution.metric.SQLMetrics.createMetric(sc, "m"))
    def run(reuse: Boolean, dir: AsOfDirection): Seq[(Long, Any)] =
      AsOfJoinExec.genericMerge(
        if (reuse) reusing(lRows) else lRows.iterator.map(identity[InternalRow]),
        (if (reuse) reusing(rRows) else rRows.iterator.map(identity[InternalRow]))
          .buffered,
        kB, tB, kB, tB, StringType, LongType, dir, None, emit())
        .map(r => (r.getLong(2), if (r.isNullAt(5)) null else r.getLong(5)))
        .toVector
    for (dir <- Seq(AsOfDirection.Backward, AsOfDirection.Forward)) {
      val plain = run(reuse = false, dir)
      val reused = run(reuse = true, dir)
      assert(plain == reused, s"$dir: buffer reuse changed the merge output")
      assert(plain.exists(_._2 != null), s"$dir: fixture must produce matches")
    }
  }

  test("operator requires disjoint column names") {
    val l = mkSide(7L, 10, "l")
    intercept[IllegalArgumentException] {
      AsOfJoin.backward(l, l, "l_k", "l_k", "l_t", "l_t", "l_id")
    }
  }

  test("broadcast as-of: a small right side leaves the left unshuffled and unsorted") {
    // The round-11 verdict's done criterion for the broadcast mode:
    // ZERO exchanges and ZERO sorts on the left side — the left flows
    // from its source straight into the as-of, only the dimension-sized
    // right side moves (one BroadcastExchange).
    val l = mkSide(55L, 300, "l")
    val r = mkSide(255L, 300, "r")
    val df = AsOfJoin.backward(l, r, "l_k", "r_k", "l_t", "r_t", "r_id")
      .select("l_id", "r_id")
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("BroadcastAsOfJoin"),
      s"small right side should auto-select the broadcast as-of:\n$p")
    assert(!p.contains("Exchange hashpartitioning"),
      s"broadcast as-of must not shuffle either side:\n$p")
    assert(!"""Sort \[""".r.findFirstIn(p).isDefined,
      s"broadcast as-of must not sort the left side:\n$p")
    assert(p.contains("BroadcastExchange"),
      s"right side should move by broadcast:\n$p")
  }

  test("broadcast selection rejects non-long-backed shapes even under force") {
    // string keys have no primitive index — a threshold above the
    // right side's size must still plan the (generic) merge, not fail
    // or mis-plan
    val rnd = new scala.util.Random(83L)
    val l = (0 until 50).map(i => (i.toLong, s"k${i % 5}", i.toLong / 3))
      .toDF("l_id", "l_k", "l_t")
    val r = (0 until 50).map(i => (i.toLong, s"k${i % 5}", i.toLong / 2))
      .toDF("r_id", "r_k", "r_t")
    broadcastOnly {
      val df = AsOfJoin.backward(l, r, "l_k", "r_k", "l_t", "r_t", "r_id")
        .select("l_id", "r_id")
      val p = df.queryExecution.executedPlan.toString
      assert(!p.contains("BroadcastAsOfJoin"), s"string key broadcast?\n$p")
      assert(collectPairs(df) == collectPairs(windowSpec(l, r, forward = false)))
    }
  }

  test("time-column type mixes outside one physical unit are rejected") {
    // ADVICE (round 11): DateType (physical DAYS) vs TimestampType
    // (physical µs) are both long-backed but mean different units —
    // the guard must reject them, while Timestamp↔TimestampNTZ (same
    // µs representation, identical under the pinned UTC session) and
    // pure integer width mixes stay accepted.
    val l = mkSide(85L, 20, "l")
      .withColumn("l_d", expr("date_add(date '2020-01-01', cast(l_t as int))"))
      .withColumn("l_ts", expr("timestamp_micros(l_t)"))
      .withColumn("l_ntz", expr("cast(timestamp_micros(l_t) as timestamp_ntz)"))
    val r = mkSide(86L, 20, "r")
      .withColumn("r_ts", expr("timestamp_micros(r_t)"))
    intercept[IllegalArgumentException] {
      AsOfJoin.backward(l, r, "l_k", "r_k", "l_d", "r_ts", "r_id")
    }
    // Timestamp ↔ TimestampNTZ accepted (same epoch-µs physical value)
    AsOfJoin.backward(l, r, "l_k", "r_k", "l_ntz", "r_ts", "r_id")
    // Date ↔ integer also rejected (days vs a bare count is a unit mix)
    intercept[IllegalArgumentException] {
      AsOfJoin.backward(l, r, "l_k", "r_k", "l_d", "r_t", "r_id")
    }
  }

  test("driver as-of plans: merge shape under never; scale-adaptive broadcast under auto") {
    val queries = Seq(
      "q10_asof_click_before_purchase",
      "q69_asof_forward_view_after_signup",
      "q221_asof_tolerance_attribution",
      "q222_asof_sql_conversion_window",
      "q224_asof_nearest_attribution",
      "q225_asof_bykeys_repeat_shipment")
    for (name <- queries) {
      // the 100 TB fact-fact shape: co-partitioned merge, exactly one
      // exchange per side (AsOfJoinExec renders as "AsOfJoin" —
      // TreeNode strips the Exec suffix)
      val mergeRows = mergeOnly {
        val df = SparkEntry.queries(name)(spark, sf)
        val p = df.queryExecution.executedPlan.toString
        assert("""\+- AsOfJoin """.r.findFirstIn(p).isDefined,
          s"$name lost the native as-of operator")
        assert(!p.contains("WindowGroupLimit") && !"Window \\[row_number".r
          .findFirstIn(p).isDefined, s"$name still has the window composition")
        assert("Exchange hashpartitioning".r.findAllIn(p).size == 2,
          s"$name should shuffle each side exactly once")
        df.collect().toSeq
      }
      // under the default selection at this fixture SF every
      // long-backed right side is dimension-sized -> broadcast, with NO
      // shuffle below the as-of on the left; q225's struct byKeys shape
      // stays on the merge by design
      val df = SparkEntry.queries(name)(spark, sf)
      val p = df.queryExecution.executedPlan.toString
      assert(!p.contains("WindowGroupLimit") && !"Window \\[row_number".r
        .findFirstIn(p).isDefined, s"$name still has the window composition")
      // broadcast on/off invariance: the operator the threshold selects
      // must not change a single row or the row order
      val rows = df.collect().toSeq
      assert(rows == mergeRows,
        s"$name: default-threshold rows differ from the merge leg's")
      if (name == "q225_asof_bykeys_repeat_shipment") {
        // two-key fast path: stays on the merge (the broadcast index is
        // single-key), and the merge runs in a whole-stage-codegen
        // stage — executed above, so AQE has finalized the stage marker
        assert("""\+- AsOfJoin """.r.findFirstIn(p).isDefined,
          s"$name (two-key) should stay on the merge operator")
        val executed = df.queryExecution.executedPlan.toString
        assert("""\*\(\d+\) AsOfJoin""".r.findFirstIn(executed).isDefined,
          s"$name two-key merge should be codegen-staged:\n$executed")
      } else {
        assert(p.contains("BroadcastAsOfJoin"),
          s"$name should broadcast its dimension-sized right side at sf:\n$p")
      }
    }
  }

  test("q226 plan: the fact side reaches the as-of with zero exchanges and zero sorts") {
    // the driver-gated broadcast query (round-11 verdict item 2 done
    // criterion): by default at this SF the checkpoint table broadcasts,
    // so the ONLY hash exchanges in the whole plan are the checkpoint
    // build's aggregate and the final returnflag aggregate — the
    // lineitem fact is never shuffled or sorted for the as-of itself
    val df = SparkEntry.queries("q226_asof_broadcast_monthly_checkpoint")(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("BroadcastAsOfJoin"), s"q226 must plan the broadcast as-of:\n$p")
    assert(p.contains("BroadcastExchange"), s"checkpoint table should broadcast:\n$p")
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 2,
      s"only the checkpoint build + final agg may shuffle:\n$p")
    assert("""Sort \[""".r.findAllIn(p).size == 1,
      s"only the final ORDER BY may sort — the fact side must not:\n$p")
    // with broadcast disabled the same query pays the fact shuffle the
    // broadcast mode exists to remove: left + right as-of exchanges appear
    mergeOnly {
      val pm = SparkEntry.queries("q226_asof_broadcast_monthly_checkpoint")(spark, sf)
        .queryExecution.executedPlan.toString
      assert("""\+- AsOfJoin """.r.findFirstIn(pm).isDefined)
      assert("Exchange hashpartitioning".r.findAllIn(pm).size == 4,
        s"merge mode should add one exchange per as-of side:\n$pm")
    }
  }

  // -------------------------------------------------------------------
  // Skew family (round-13): salted as-of ≡ unsalted, bounded per-salt
  // -------------------------------------------------------------------

  /** 90%-one-key fixture: key 7 owns ~90% of the left rows (the shape
    * that lands one key in one task under plain clustering). */
  private def skewLeft(n: Int): DataFrame = {
    val rnd = new scala.util.Random(31)
    (0 until n).map { i =>
      val k = if (rnd.nextInt(10) < 9) 7L else rnd.nextInt(5).toLong
      (i.toLong, Some(k), Some(rnd.nextInt(500).toLong))
    }.toDF("l_id", "l_k", "l_t")
  }

  private def skewRight(n: Int): DataFrame = {
    val rnd = new scala.util.Random(32)
    (0 until n).map { i =>
      val k = if (rnd.nextInt(10) < 7) 7L else rnd.nextInt(5).toLong
      (i.toLong, Some(k), Some(rnd.nextInt(500).toLong))
    }.toDF("r_id", "r_k", "r_t")
  }

  test("salted as-of ≡ unsalted on a 90%-skew fixture (all directions, with tolerance)") {
    val l = skewLeft(4000)
    val r = skewRight(1500)
    for (dir <- Seq(graft.plans.AsOfDirection.Backward,
        graft.plans.AsOfDirection.Forward, graft.plans.AsOfDirection.Nearest);
        tol <- Seq(None, Some(25L))) {
      val plain = AsOfJoin.byKeys(l, r, dir, Seq("l_k"), Seq("r_k"),
        "l_t", "r_t", "r_id", tol)
        .select("l_id", "r_id").collect().map(x => (x.getLong(0),
          if (x.isNullAt(1)) -1L else x.getLong(1))).toSet
      val salted = AsOfJoin.salted(l, r, dir, "l_k", "r_k",
        "l_t", "r_t", "r_id", tol, minDegree = 200L, maxSalts = 8)
        .select("l_id", "r_id").collect().map(x => (x.getLong(0),
          if (x.isNullAt(1)) -1L else x.getLong(1))).toSet
      assert(salted == plain, s"dir=$dir tol=$tol")
    }
  }

  test("maxSalts = 1 means 'never salt': plan carries no salt machinery, results ≡ byKeys") {
    // round-13 ADVICE: the greatest(2, ...) floor silently overrode an
    // explicit maxSalts = 1 with 2× replication; the knob now short-
    // circuits to the plain keyed operator.
    val l = skewLeft(2000)
    val r = skewRight(800)
    val salted = AsOfJoin.salted(l, r, graft.plans.AsOfDirection.Backward,
      "l_k", "r_k", "l_t", "r_t", "r_id", None,
      minDegree = 200L, maxSalts = 1)
    val plain = AsOfJoin.byKeys(l, r, graft.plans.AsOfDirection.Backward,
      Seq("l_k"), Seq("r_k"), "l_t", "r_t", "r_id", None)
    assert(!salted.queryExecution.executedPlan.toString.contains("__graft_asof_salt"),
      "maxSalts=1 must skip the salting wrapper entirely")
    val a = salted.select("l_id", "r_id").collect()
      .map(x => (x.getLong(0), if (x.isNullAt(1)) -1L else x.getLong(1))).toSet
    val b = plain.select("l_id", "r_id").collect()
      .map(x => (x.getLong(0), if (x.isNullAt(1)) -1L else x.getLong(1))).toSet
    assert(a == b)
  }

  test("salting bounds the per-task rows of the heavy key; light keys stay unsalted") {
    val l = skewLeft(4000) // key 7 ≈ 3600 rows
    val r = skewRight(1500)
    // reproduce the wrapper's salt assignment to audit the spread the
    // exchange will see: with minDegree=200 and maxSalts=8, key 7's
    // ~3600 rows must spread over 8 salts, none holding more than a
    // ~2× fair share; every light key must ride salt 0 only
    val heavy = l.groupBy(col("l_k").as("hk")).agg(count(lit(1)).as("deg"))
      .filter(col("deg") >= 200L)
      .select(col("hk"), greatest(lit(2L), least(lit(8L),
        (col("deg") / lit(200L)).cast("long"))).as("ns"))
    val saltedRows = l.join(broadcast(heavy), col("l_k") === col("hk"), "left")
      .withColumn("salt", when(col("ns").isNotNull,
        pmod(hash(col("l_t")).cast("long"), col("ns"))).otherwise(0L))
    val perSalt = saltedRows.filter(col("l_k") === 7L)
      .groupBy("salt").agg(count(lit(1)).as("n"))
      .collect().map(x => (x.getLong(0), x.getLong(1))).toMap
    assert(perSalt.keySet == (0L until 8L).toSet,
      s"heavy key must spread over all 8 salts: ${perSalt.keySet}")
    val fair = perSalt.values.sum / 8.0
    assert(perSalt.values.max <= fair * 2,
      s"no salt may hold > 2x the fair share: $perSalt")
    val lightSalts = saltedRows.filter(col("l_k") =!= 7L)
      .select("salt").distinct().collect().map(_.getLong(0)).toSet
    assert(lightSalts == Set(0L), s"light keys must stay unsalted: $lightSalts")
    // and the replication bill is heavy-keys-only: right rows of key 7
    // appear 8x, every other key exactly once
    val rS = r.join(broadcast(heavy), col("r_k") === col("hk"), "left")
      .withColumn("rsalt",
        explode(sequence(lit(0L), coalesce(col("ns"), lit(1L)) - 1L)))
    val reps = rS.groupBy("r_k").agg((count(lit(1)) /
        countDistinct(col("r_id"))).cast("long").as("factor"))
      .collect().map(x => (x.getLong(0), x.getLong(1))).toMap
    assert(reps(7L) == 8L && reps.filter(_._1 != 7L).values.forall(_ == 1L),
      s"replication must be heavy-only: $reps")
  }

  test("salted as-of exchanges on (key, salt): the heavy key no longer clusters into one partition") {
    val l = skewLeft(2000)
    val r = skewRight(800)
    val df = AsOfJoin.salted(l, r, graft.plans.AsOfDirection.Backward,
      "l_k", "r_k", "l_t", "r_t", "r_id", minDegree = 200L, maxSalts = 8)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("__graft_asof_salt"),
      "the left exchange must carry the salt column")
    assert(plan.contains("__graft_asof_rsalt"),
      "the right exchange must carry the replicated salt column")
    assert(plan.contains("AsOfJoin"), "the native operator must still plan")
  }
}
