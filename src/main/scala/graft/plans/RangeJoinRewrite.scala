package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.{Cross, Inner}
import org.apache.spark.sql.catalyst.plans.logical.{Generate, Join, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types._

/** Optimizer rule: band a keyless range join into an equi-join.
  *
  * An inner join whose only cross-side predicates are interval bounds
  * has no equi-key, so Spark plans a nested-loop join: quadratic in
  * the corpus, the classic 100 TB scale-killer. The published fix
  * (banding; DuckDB's IEJoin ICDE'15 solves the same problem
  * engine-side) is mechanical: pick a bin width W, assign each value
  * `floor(v/W)`, and EQUI-join on the bin, re-checking the original
  * predicates. q223 applies this rewrite by hand; this rule applies it
  * to any naive `df.join(other, rangeCond)` the user writes, the way
  * Catalyst is meant to be extended
  * (`SparkSessionExtensions.injectOptimizerRule` via
  * [[graft.GraftExtensions]] — injected BEFORE [[ReorderJoinPredicates]]
  * so bound extraction sees the user's conjunct order). Like any
  * optimizer rule it is switched off with
  * `spark.sql.optimizer.excludedRules=graft.plans.RangeJoinRewrite`.
  *
  * Two shapes are recognized, tried in order:
  *  - POINT-IN-INTERVAL: `lo <= t <= hi`, `t` from one side, both
  *    bounds from the other. Point side gets one bin, interval side
  *    explodes `bin(lo)..bin(hi)`; exactly-once because the point's
  *    bin is single-valued and floor is monotone (`lo <= t <= hi`
  *    implies `bin(lo) <= bin(t) <= bin(hi)`, so no qualifying pair
  *    is ever lost).
  *  - INTERVAL OVERLAP: `loL <= hiR AND loR <= hiL` (each side bounds
  *    the other). BOTH sides explode their normalized bin ranges and
  *    the dedup conjunct keeps only the first shared bin
  *    (`max(startL, startR)`), so each qualifying pair survives
  *    exactly once. Endpoints are normalized with least/greatest
  *    because the two overlap conjuncts do not imply lo <= hi per
  *    side — an inverted interval still satisfies them, and its
  *    normalized span provably covers every match.
  *
  * Bin width selection, in order:
  *  1. Static inference: when both bounds are offsets of one shared
  *     base expression (`t BETWEEN base - w1 AND base + w2` — the
  *     as-of / burst-window shape), the interval length `w1 + w2` is
  *     known at plan time and is the provably safe width: every
  *     interval spans at most two bins. (Overlap: both sides must
  *     infer; the smaller length wins, so the static per-row span is
  *     bounded by maxLen/minLen + 1.)
  *  2. Sampled from the data: for variable-length intervals the rule
  *     runs one bounded planning-time job per distinct (interval child,
  *     bounds) shape — median interval length over a 20k-row prefix,
  *     memoized per JVM — and bands at W ≈ that median: typical rows
  *     span ~2 bins, heavy-tail rows hit the wide-row cap and route
  *     through the sentinel bucket. ANY width is correct (the original
  *     predicate is retained), so sampling nondeterminism can only move
  *     the plan between fast shapes, never change results; a recursion
  *     guard keeps the sampling query itself (or anything it plans)
  *     from sampling again.
  * No width -> no rewrite: an empty prefix, null-only lengths, a
  * sampling failure or timeout, or another thread's sampling job in
  * flight leave the join as written, the same in every session. Widths
  * are clamped to >= 2 so that `Long.MinValue` is unreachable as a real
  * bin (|floor(v/W)| <= Long.MaxValue/2 + 1 for W >= 2) and can serve as
  * the reserved fallback bin below.
  *
  * WIDE-ROW FALLBACK (the crash/OOM guard): with a sampled width
  * nothing bounds a row's bin count — one open-ended interval could
  * ask Sequence for billions of elements and kill the query that used
  * to (slowly) run as a nested-loop join. So whenever the per-row span
  * is not statically bounded under `MaxBinsPerRow` (4096), rows are
  * split BY VALUE inside one join: a row whose span exceeds the cap
  * emits only the reserved SENTINEL bin, and the opposite side emits
  * its real bin(s) plus the sentinel, so
  * wide rows meet everything in one reserved hash bucket (a bounded,
  * AQE-skew-splittable nested loop over just the wide rows) instead of
  * erroring. Exactly-once bookkeeping: in the point form a pair
  * matches either at the point's real bin (narrow interval) or at the
  * sentinel (wide interval), never both; in the overlap form the dedup
  * conjunct demands the first shared REAL bin when both rows are
  * narrow and the sentinel otherwise. Statically-inferred widths prove
  * every span small, skip the fallback entirely, and keep the original
  * zero-overhead plan.
  *
  * Safety envelope (everything outside it is left untouched):
  *  - Inner/Cross joins only. Semi/anti/outer multiplicity depends on
  *    which side explodes; not worth the asymmetry in v1.
  *  - All bound expressions deterministic and integral-typed
  *    (byte/short/int/long — epoch-µs columns are the target; Date and
  *    Timestamp carry unit semantics that a width in "column units"
  *    would silently mis-scale).
  *  - No existing cross-side equi-conjunct: if one exists Spark already
  *    hash-partitions on it, and the guard doubles as the idempotence
  *    proof — the rewritten join carries a bin equi-conjunct, so the
  *    rule cannot fire twice.
  *  - The whole join condition must be deterministic (same contract as
  *    [[ReorderJoinPredicates]]): the rewrite changes which candidate
  *    pairs a retained conjunct observes.
  *
  * The original condition is retained verbatim under the new bin
  * equality, so bound classification can only ever cost performance,
  * never correctness: candidate pairings are preferred statically-sized
  * first, then condition order, and a mis-pairing (e.g. an unrelated
  * inequality chosen as a bound) still loses no rows — the two chosen
  * conjuncts alone imply the normalized spans overlap — it just routes
  * more rows through the sentinel bucket. NULL bounds fall out for
  * free: a null point bin joins nothing, and a null/inverted interval
  * generates nothing — exactly the rows the original predicate would
  * have dropped.
  */
object RangeJoinRewrite extends Rule[LogicalPlan] with PredicateHelper {

  /** Rows whose bin span (last bin − first bin) reaches this cap route
    * to the sentinel bucket. */
  private val MaxBinsPerRow = 4096L

  /** Reserved fallback bin: unreachable as a real bin because widths
    * are clamped to >= 2. */
  private val SentinelBin = Literal(Long.MinValue)

  private def isIntegral(dt: DataType): Boolean = dt match {
    case ByteType | ShortType | IntegerType | LongType => true
    case _ => false
  }

  private def asLong(e: Expression): Expression =
    if (e.dataType == LongType) e else Cast(e, LongType)

  /** floor(t / w) for literal w >= 2, exact on the full long domain:
    * truncating `div` plus a -1 adjustment on inexact negative
    * quotients (the `x - pmod(x, w)` form q223 uses inline would
    * underflow near Long.MinValue; the adjustment form cannot). */
  private def floorDiv(t: Expression, w: Long): Expression = {
    val tt = asLong(t)
    val q  = new IntegralDivide(tt, Literal(w))
    val adjust = If(
      And(LessThan(tt, Literal(0L)),
        Not(EqualTo(new Remainder(tt, Literal(w)), Literal(0L)))),
      Literal(1L), Literal(0L))
    new Subtract(q, adjust)
  }

  /** Strip integral-widening casts (inserted by comparison coercion on
    * mixed int/long columns) so `CAST(base + 5 AS BIGINT)` and
    * `base + 7` still read as offsets of one shared base — widening
    * preserves the value, so the inferred length is unit-exact. */
  private def stripIntegralCast(e: Expression): Expression = e match {
    case c: Cast if isIntegral(c.dataType) && isIntegral(c.child.dataType) =>
      stripIntegralCast(c.child)
    case other => other
  }

  /** Decompose `base + literal` / `base - literal` / `base` so the
    * static interval length of a shared-base bound pair is visible. */
  private def baseOffset(e: Expression): (Expression, Option[Long]) = {
    def lit(l: Literal): Option[Long] = l match {
      case Literal(v: Byte, _)  => Some(v.toLong)
      case Literal(v: Short, _) => Some(v.toLong)
      case Literal(v: Int, _)   => Some(v.toLong)
      case Literal(v: Long, _)  => Some(v)
      case _                    => None
    }
    stripIntegralCast(e) match {
      case Add(b, l: Literal, _)      => (stripIntegralCast(b), lit(l))
      case Add(l: Literal, b, _)      => (stripIntegralCast(b), lit(l))
      case Subtract(b, l: Literal, _) => (stripIntegralCast(b), lit(l).map(v => -v))
      case other                      => (other, Some(0L))
    }
  }

  /** Interval length when both bounds are literal offsets of one
    * canonicalized base; the provably-safe bin width. */
  private def staticWidth(lo: Expression, hi: Expression): Option[Long] = {
    val (bLo, oLo) = baseOffset(lo)
    val (bHi, oHi) = baseOffset(hi)
    for {
      l <- oLo; h <- oHi
      if bLo.semanticEquals(bHi) && h - l >= 1L
    } yield h - l
  }

  private val SampleRows = 20000

  /** Re-entrancy guard: the sampling query runs through the full
    * optimizer, so this rule fires inside it — those inner invocations
    * must not sample again (bounded depth, no job-inside-job chains).
    * The sampling job itself runs on a watchdog worker thread, so the
    * worker sets its own copy before planning anything. */
  private val inSampling = new ThreadLocal[Boolean] {
    override def initialValue(): Boolean = false
  }

  /** JVM-wide single-flight gate: the ThreadLocal above only sees
    * same-thread recursion, and the watchdog moves the sampling job to
    * a worker thread — while ANY sampling job is in flight, every other
    * thread's sampling attempt finds no width (its join stays as
    * written) instead of stacking jobs inside planning. */
  private val samplingActive = new java.util.concurrent.atomic.AtomicBoolean(false)

  /** Memoized sampled widths, keyed by the canonicalized (interval
    * child, lo, hi) shape PLUS a size-in-bytes fingerprint of the
    * interval child (a long-lived driver must not keep a stale width
    * after the underlying files change — rewritten data moves the
    * leaf-relation byte size, which moves the key, and the stale entry
    * ages out through the 256-shape sweep). Cleared
    * wholesale if it ever grows past 256 shapes — a bench/driver
    * process touches a handful. */
  private val sampledWidthCache =
    new java.util.concurrent.ConcurrentHashMap[
      (LogicalPlan, Expression, Expression, BigInt), Option[Long]]()

  /** Median interval length over a bounded row prefix of the interval
    * side — the data-derived bin width for variable-length intervals.
    * Runs ONE small Spark job at planning time (prefix scan + approx
    * median) on a daemon worker bounded by a wall-clock watchdog
    * (`timeoutMs`; on expiry the job group is cancelled and planning
    * proceeds without a width — sampling cannot hang the optimizer).
    * Skipped outright for streaming plans (micro-batch planning must never
    * block on an ad-hoc batch job) and when the optimizing thread's
    * conf is not the active session's own (multi-session drivers: the
    * sampling job would otherwise run against a DIFFERENT session
    * than the one owning the plan). Any failure or empty result gives
    * no width. The width only shapes the plan — the retained original
    * predicate keeps every width correct — so prefix nondeterminism is
    * benign by construction. */
  private def sampledWidth(timeoutMs: Long)(intervalPlan: LogicalPlan,
      lo: Expression, hi: Expression): Option[Long] = {
    if (inSampling.get() || intervalPlan.isStreaming)
      return None
    val spark = org.apache.spark.sql.SparkSession.getActiveSession.orNull
    // session-scope check: SQLConf.get (this rule's `conf`) is the
    // thread-local conf of the session whose optimizer is running; if
    // the active session's conf is a different object, sampling would
    // cross sessions — skip.
    if (spark == null || !(spark.sessionState.conf eq conf)) return None
    val fingerprint =
      scala.util.Try(intervalPlan.stats.sizeInBytes).getOrElse(BigInt(-1))
    val key = (intervalPlan.canonicalized, lo.canonicalized, hi.canonicalized,
      fingerprint)
    val cached = sampledWidthCache.get(key)
    if (cached != null) return cached
    if (!samplingActive.compareAndSet(false, true)) return None
    // timedOut: a watchdog expiry must NOT be negative-cached — one
    // transient stall (e.g. executors still provisioning at first
    // plan) would otherwise disable sampling for this shape for the
    // driver's lifetime; the next planning pass simply tries again.
    // Genuine empty/failed samples DO cache None (retrying those every
    // pass would stall planning repeatedly for the same outcome).
    var timedOut = false
    val computed: Option[Long] =
      try {
        val jobGroup = "graft-rangejoin-sample-" + java.util.UUID.randomUUID()
        val task = new java.util.concurrent.FutureTask(
          new java.util.concurrent.Callable[Option[Long]] {
            override def call(): Option[Long] = try {
              inSampling.set(true)
              org.apache.spark.sql.SparkSession.setActiveSession(spark)
              spark.sparkContext.setJobGroup(jobGroup,
                "graft range-join width sampling", interruptOnCancel = true)
              try {
                // the watchdog may have fired before setJobGroup ran —
                // honor the interrupt instead of submitting an orphan
                // job no cancelJobGroup call can reach
                if (Thread.interrupted()) throw new InterruptedException
                val df = org.apache.spark.sql.GraftBridge
                  .ofRows(spark, Project(intervalPlan.output, intervalPlan))
                val len = org.apache.spark.sql.GraftBridge.column(
                  new Subtract(asLong(hi), asLong(lo)))
                import org.apache.spark.sql.functions.{col, lit, percentile_approx}
                val med = df.select(len.as("__graft_len"))
                  .filter(col("__graft_len") >= 0L)
                  .limit(SampleRows)
                  .agg(percentile_approx(col("__graft_len"), lit(0.5), lit(1000)))
                  .head()
                if (med.isNullAt(0)) None
                else Some(math.max(2L, med.getLong(0)))
              } finally spark.sparkContext.clearJobGroup()
            } finally inSampling.set(false)
          })
        // The WORKER THREAD (not call()) owns the single-flight gate:
        // a cancel(true) landing while the FutureTask is still NEW makes
        // task.run() a no-op — call() never executes, so a release
        // inside call()'s finally would leak the gate FOREVER, silently
        // disabling sampling JVM-wide. Tying the release to the thread
        // body's finally keeps the documented invariant (a
        // timed-out-but-still-running job holds the gate) while
        // guaranteeing release on every start()ed-thread outcome.
        val worker = new Thread(
          () => try task.run() finally samplingActive.set(false),
          "graft-rangejoin-sample")
        worker.setDaemon(true)
        try worker.start()
        catch { case t: Throwable => samplingActive.set(false); throw t }
        def abandon(): Unit = {
          timedOut = true // never negative-cache an abandoned attempt
          task.cancel(true) // interrupts the worker (checked pre-submit too)
          try spark.sparkContext.cancelJobGroup(jobGroup)
          catch { case scala.util.control.NonFatal(_) => () }
        }
        try task.get(timeoutMs, java.util.concurrent.TimeUnit.MILLISECONDS)
        catch {
          case _: java.util.concurrent.TimeoutException =>
            abandon(); None
          // An interrupt delivered to the OPTIMIZING thread while blocked
          // in get() is NOT NonFatal — without this arm it would
          // propagate out of the optimizer rule and fail planning instead
          // of leaving the join as written like every other sampling
          // failure. Restore the interrupt flag for the caller and
          // abandon the in-flight job.
          case _: InterruptedException =>
            Thread.currentThread().interrupt()
            abandon(); None
        }
      } catch { case scala.util.control.NonFatal(_) => None }
    if (!timedOut) {
      if (sampledWidthCache.size > 256) sampledWidthCache.clear()
      sampledWidthCache.putIfAbsent(key, computed)
    }
    computed
  }

  /** Chosen width plus the statically-provable per-row span bound (in
    * bins), when one exists. Widths clamped to >= 2 (sentinel safety);
    * any width is correct, so the clamp changes nothing else. */
  private case class Width(w: Long, staticSpan: Option[Long])

  /** One cross-side bound pair: `lower <= point <= upper` (modulo
    * strictness — the retained original condition enforces it). */
  private case class RangeBounds(
      point: Expression, lower: Expression, upper: Expression,
      pointOnLeft: Boolean)

  /** Interval-overlap bounds: `loL <= hiR AND loR <= hiL` — each side
    * bounds the OTHER side, the classic `[loL,hiL] ∩ [loR,hiR] != ∅`
    * join. */
  private case class OverlapBounds(
      loL: Expression, hiL: Expression, loR: Expression, hiR: Expression)

  /** Normalize every </<=/>/>= conjunct to (small, large): small <= large. */
  private def boundComps(conjuncts: Seq[Expression]): Seq[(Expression, Expression)] =
    conjuncts.collect {
      case LessThan(a, b)           => (a, b)
      case LessThanOrEqual(a, b)    => (a, b)
      case GreaterThan(a, b)        => (b, a)
      case GreaterThanOrEqual(a, b) => (b, a)
    }

  private def usable(e: Expression): Boolean =
    e.deterministic && isIntegral(e.dataType) && e.references.nonEmpty

  /** Width of a variable-length interval side: (interval child, lo, hi). */
  private type Sampler = (LogicalPlan, Expression, Expression) => Option[Long]

  private def pointWidth(rb: RangeBounds, intervalPlan: LogicalPlan,
      sample: Sampler): Option[Width] =
    staticWidth(rb.lower, rb.upper) match {
      // width = exact interval length -> every interval spans <= 2 bins
      case Some(len) => Some(Width(math.max(2L, len), Some(2L)))
      case None =>
        sample(intervalPlan, rb.lower, rb.upper)
          .map(w => Width(math.max(2L, w), None))
    }

  private def overlapWidth(ob: OverlapBounds,
      left: LogicalPlan, right: LogicalPlan, sample: Sampler): Option[Width] = {
    val both = for {
      lL <- staticWidth(ob.loL, ob.hiL)
      lR <- staticWidth(ob.loR, ob.hiR)
    } yield {
      val w = math.max(2L, math.min(lL, lR))
      Width(w, Some(math.max(lL, lR) / w + 2L))
    }
    // mixed shapes: each side takes its static length when provable,
    // its sampled median otherwise; the smaller wins like the static
    // case (spans stay bounded on the tighter side, the wider side
    // rides the wide-row fallback)
    lazy val sampledBoth = {
      val sL = staticWidth(ob.loL, ob.hiL)
        .orElse(sample(left, ob.loL, ob.hiL))
      val sR = staticWidth(ob.loR, ob.hiR)
        .orElse(sample(right, ob.loR, ob.hiR))
      for { a <- sL; b <- sR }
        yield Width(math.max(2L, math.min(a, b)), None)
    }
    both.orElse(sampledBoth)
  }

  private def extractBounds(conjuncts: Seq[Expression],
      left: LogicalPlan, right: LogicalPlan): Option[RangeBounds] = {
    val comps = boundComps(conjuncts)
    val candidates = for {
      (lo, t1) <- comps
      (t2, hi) <- comps
      if t1.semanticEquals(t2)
      if usable(t1) && usable(lo) && usable(hi)
      pointOnLeft <- Some(canEvaluate(t1, left)).collect {
        case true                        => true
        case _ if canEvaluate(t1, right) => false
      }
      intervalPlan = if (pointOnLeft) right else left
      if canEvaluate(lo, intervalPlan) && canEvaluate(hi, intervalPlan)
    } yield RangeBounds(t1, lo, hi, pointOnLeft)
    // statically-sized pairings first (provably tiny spans), then the
    // user's condition order
    candidates.find(rb => staticWidth(rb.lower, rb.upper).isDefined)
      .orElse(candidates.headOption)
  }

  private def extractOverlap(conjuncts: Seq[Expression],
      left: LogicalPlan, right: LogicalPlan): Option[OverlapBounds] = {
    val comps = boundComps(conjuncts)
    val candidates = for {
      (s1, l1) <- comps // loL <= hiR
      (s2, l2) <- comps // loR <= hiL
      if (s1, l1) != (s2, l2)
      if Seq(s1, l1, s2, l2).forall(usable)
      if canEvaluate(s1, left) && canEvaluate(l1, right) &&
        canEvaluate(s2, right) && canEvaluate(l2, left)
    } yield OverlapBounds(loL = s1, hiL = l2, loR = s2, hiR = l1)
    candidates.find(ob => staticWidth(ob.loL, ob.hiL).isDefined &&
        staticWidth(ob.loR, ob.hiR).isDefined)
      .orElse(candidates.headOption)
  }

  private def hasCrossSideEqui(conjuncts: Seq[Expression],
      left: LogicalPlan, right: LogicalPlan): Boolean =
    conjuncts.exists {
      case EqualTo(a, b) =>
        (canEvaluate(a, left) && canEvaluate(b, right)) ||
          (canEvaluate(a, right) && canEvaluate(b, left))
      case EqualNullSafe(a, b) =>
        (canEvaluate(a, left) && canEvaluate(b, right)) ||
          (canEvaluate(a, right) && canEvaluate(b, left))
      case _ => false
    }

  private val emptyBins =
    Literal.create(Array.empty[Long], ArrayType(LongType, containsNull = false))

  /** bin(lo)..bin(hi) as an array; inverted or null intervals yield an
    * empty/null array (generate nothing — exactly the rows the original
    * predicate would drop).
    *
    * Sequence is TimeZoneAwareExpression: its `resolved` demands a
    * timezone id, normally filled by the analyzer's ResolveTimeZone —
    * which already ran, so supply it here or the plan validator rejects
    * the rewrite as newly-unresolved. (Pure-long sequences never
    * consult it.) */
  private def binRange(lo: Expression, hi: Expression, w: Long): Expression = {
    val binLo = floorDiv(lo, w)
    val binHi = floorDiv(hi, w)
    If(LessThanOrEqual(binLo, binHi),
      Sequence(binLo, binHi, Some(Literal(1L)), Some(conf.sessionLocalTimeZone)),
      emptyBins)
  }

  /** [[binRange]] with the wide-row fallback: rows spanning more than
    * `MaxBinsPerRow` bins emit only the sentinel. */
  private def binRangeCapped(lo: Expression, hi: Expression, w: Long,
      andSentinel: Boolean): Expression = {
    val binLo = floorDiv(lo, w)
    val binHi = floorDiv(hi, w)
    val span  = new Subtract(binHi, binLo)
    val narrowSeq =
      Sequence(binLo, binHi, Some(Literal(1L)), Some(conf.sessionLocalTimeZone))
    val narrow =
      if (andSentinel) Concat(Seq(narrowSeq, CreateArray(Seq(SentinelBin))))
      else narrowSeq
    // null bound -> no bins (the original predicate is null for every
    // pair, so the row can contribute nothing — and an If on a null
    // span would otherwise fall through to the SENTINEL branch and
    // flood the fallback bucket with doomed candidates); inverted
    // (span < 0) -> no bins; wide -> sentinel only; else real bins
    If(IsNull(span), emptyBins,
      If(LessThan(span, Literal(0L)), emptyBins,
        If(LessThan(span, Literal(MaxBinsPerRow)), narrow,
          CreateArray(Seq(SentinelBin)))))
  }

  private def explodeBins(bins: Expression, name: String,
      child: LogicalPlan): (AttributeReference, Generate) = {
    val genOut = AttributeReference(name, LongType,
      nullable = bins.dataType.asInstanceOf[ArrayType].containsNull)()
    (genOut, Generate(Explode(bins), unrequiredChildIndex = Nil,
      outer = false, qualifier = None, generatorOutput = Seq(genOut),
      child = child))
  }

  /** Point-in-interval rewrite. Fallback off (static span bound): point
    * side is a one-column Project, interval side explodes its bins.
    * Fallback on: the interval side routes wide rows to the sentinel
    * and the point side explodes {bin(t), sentinel} — a pair matches at
    * the real bin (narrow interval) XOR the sentinel (wide interval). */
  private def buildPoint(j: Join, rb: RangeBounds, width: Width): LogicalPlan = {
    val needFallback = width.staticSpan.forall(_ > MaxBinsPerRow)
    val (pointPlan, intervalPlan) =
      if (rb.pointOnLeft) (j.left, j.right) else (j.right, j.left)
    val (pointBinAttr, newPoint) =
      if (!needFallback) {
        val a = Alias(floorDiv(rb.point, width.w), "__graft_range_bin")()
        (a.toAttribute, Project(pointPlan.output :+ a, pointPlan))
      } else {
        val bins = CreateArray(Seq(floorDiv(rb.point, width.w), SentinelBin))
        explodeBins(bins, "__graft_range_bin", pointPlan)
      }
    val intervalBins =
      if (!needFallback) binRange(rb.lower, rb.upper, width.w)
      else binRangeCapped(rb.lower, rb.upper, width.w, andSentinel = false)
    val (genOut, newInterval) =
      explodeBins(intervalBins, "__graft_range_bin_gen", intervalPlan)
    val newCond = And(EqualTo(pointBinAttr, genOut), j.condition.get)
    val newJoin =
      if (rb.pointOnLeft) Join(newPoint, newInterval, j.joinType, Some(newCond), j.hint)
      else Join(newInterval, newPoint, j.joinType, Some(newCond), j.hint)
    Project(j.left.output ++ j.right.output, newJoin)
  }

  /** Interval-overlap rewrite: BOTH sides explode their normalized bin
    * ranges and pair at every shared bin, so the dedup conjunct keeps
    * only the FIRST shared bin; with the fallback active, narrow rows
    * additionally emit the sentinel, wide rows emit ONLY the sentinel,
    * and the dedup conjunct demands the first shared REAL bin when both
    * rows are narrow and the sentinel otherwise. */
  private def buildOverlap(j: Join, ob: OverlapBounds, width: Width): LogicalPlan = {
    val needFallback = width.staticSpan.forall(_ > MaxBinsPerRow)
    val (nLoL, nHiL) = (Least(Seq(asLong(ob.loL), asLong(ob.hiL))),
      Greatest(Seq(asLong(ob.loL), asLong(ob.hiL))))
    val (nLoR, nHiR) = (Least(Seq(asLong(ob.loR), asLong(ob.hiR))),
      Greatest(Seq(asLong(ob.loR), asLong(ob.hiR))))
    def bins(lo: Expression, hi: Expression): Expression =
      if (!needFallback) binRange(lo, hi, width.w)
      else binRangeCapped(lo, hi, width.w, andSentinel = true)
    val (genL, leftG) = explodeBins(bins(nLoL, nHiL),
      "__graft_range_bin_genl", j.left)
    val (genR, rightG) = explodeBins(bins(nLoR, nHiR),
      "__graft_range_bin_genr", j.right)
    val firstShared = Greatest(Seq(floorDiv(nLoL, width.w), floorDiv(nLoR, width.w)))
    val requiredBin =
      if (!needFallback) firstShared
      else {
        def narrow(lo: Expression, hi: Expression): Expression =
          LessThan(new Subtract(floorDiv(hi, width.w), floorDiv(lo, width.w)),
            Literal(MaxBinsPerRow))
        If(And(narrow(nLoL, nHiL), narrow(nLoR, nHiR)), firstShared, SentinelBin)
      }
    val newCond = And(And(EqualTo(genL, genR), EqualTo(genL, requiredBin)),
      j.condition.get)
    Project(j.left.output ++ j.right.output,
      Join(leftG, rightG, j.joinType, Some(newCond), j.hint))
  }

  override def apply(plan: LogicalPlan): LogicalPlan = rewrite(plan)

  /** The rule with its width source exposed: `width = Some(w)` bands
    * every variable-length interval at `w` in place of sampling (static
    * inference still wins); `sampleTimeoutMs` bounds each sampling job.
    * Call with the plan's session active, or sampling is skipped. */
  private[graft] def rewrite(plan: LogicalPlan, width: Option[Long] = None,
      sampleTimeoutMs: Long = 15000L): LogicalPlan = {
    val sample: Sampler = width match {
      case Some(w) => (_, _, _) => Some(w)
      case None    => sampledWidth(sampleTimeoutMs)
    }
    plan.transform {
      case j @ Join(left, right, Inner | Cross, Some(cond), _)
          // batch plans only: a stream-stream range join's state/
          // watermark semantics through an injected Generate are
          // untested territory — leave streaming joins exactly as
          // Spark plans them (the streaming interval join in
          // graft.streaming carries an equi-key and would be skipped
          // by the equi guard anyway; this makes the exclusion
          // explicit rather than incidental)
          if cond.deterministic && j.resolved &&
            !left.isStreaming && !right.isStreaming =>
        val conjuncts = splitConjunctivePredicates(cond)
        if (hasCrossSideEqui(conjuncts, left, right)) j
        else {
          val point = for {
            rb <- extractBounds(conjuncts, left, right)
            w  <- pointWidth(rb, if (rb.pointOnLeft) right else left, sample)
          } yield buildPoint(j, rb, w)
          lazy val overlap = for {
            ob <- extractOverlap(conjuncts, left, right)
            w  <- overlapWidth(ob, left, right, sample)
          } yield buildOverlap(j, ob, w)
          point.orElse(overlap).getOrElse(j)
        }
    }
  }
}
