package graft

import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}
import scala.jdk.CollectionConverters._
import HarnessSession.json

object Bench {
  private def loadAvg: Double = HarnessSession.loadAvg

  /** The committed same-HEAD self-baseline per-query times: the
    * top-level `queries` object of the LATEST `BENCH_SELF_r<N>.json` in
    * `dir` (the repo root, where every bench run starts). Powers the baseline-relative retry below. `sfDir`, when
    * given, must equal the artifact's top-level `sf`: a baseline from
    * another scale factor would flag every query at a bigger SF and
    * disarm the gate at a smaller one. Any read or parse failure, or a
    * non-number inside `queries` (the format grew), degrades to an
    * empty map: the loadavg gate still stands, and a bench must never
    * die on a missing artifact. */
  private[graft] def selfBaseline(dir: java.io.File = new java.io.File("."),
      sfDir: Option[String] = None): Map[String, Double] =
    try {
      val pat = "BENCH_SELF_r(\\d+)\\.json".r
      val files = Option(dir.listFiles).getOrElse(Array.empty[java.io.File])
        .flatMap(f => f.getName match {
          case pat(n) => Some((n.toInt, f)); case _ => None
        })
      if (files.isEmpty) Map.empty
      else {
        val root = json.readTree(files.maxBy(_._1)._2)
        val sf = Option(root.get("sf")).filter(_.isTextual).map(_.asText)
        val qs = Option(root.get("queries")).filter(_.isObject)
          .map(_.properties.asScala.toSeq).getOrElse(Seq.empty)
        if (sfDir.exists(want => !sf.contains(want)) ||
            !qs.forall(_.getValue.isNumber)) Map.empty
        else qs.map(e => e.getKey -> e.getValue.asDouble).toMap
      }
    } catch { case _: Throwable => Map.empty }

  /** One sweep measurement: a query's official min-over-runs time plus
    * the evidence around it (success, around-query loadavg max, every
    * raw run). The retry pass transforms these; the artifact serializes
    * them. */
  private[graft] final case class Reading(name: String, official: Double,
      ok: Boolean, load: Double, raws: Seq[Double])

  /** An UNRESOLVED contamination: a query whose official time is still
    * over the baseline gate after every retry it was entitled to. It
    * rides the artifact, so the clean total can be computed from the
    * artifact alone. */
  private[graft] final case class Suspect(name: String, official: Double,
      self: Double)

  /** Baseline gate: does time `t` for `name` qualify against the
    * committed same-HEAD self time? TWO clauses:
    *  - RATIO: `t > max(0.3 s, 3× self)`, the floor keeping centisecond
    *    noise out;
    *  - ABSOLUTE EXCESS: `t − self > max(1.5 s, 0.5× self)`. Heavy
    *    queries carry the most phantom seconds at the LOWEST ratios
    *    (q206 once read 10.06 s over a 3.59 s self: 2.8×, invisible to
    *    the ratio clause). The 0.5×-self arm keeps ordinary variance on
    *    multi-second queries out (a 4 s query must read > 6 s). */
  private[graft] def overBaseline(self: Map[String, Double], name: String,
      t: Double): Boolean =
    self.get(name).exists(s =>
      t > math.max(0.3, 3.0 * s) || t - s > math.max(1.5, 0.5 * s))

  /** END-OF-RUN RETRY for load-contaminated readings: min-of-adaptive-
    * runs cannot help while a load spike spans all of a query's runs,
    * but a spike shorter than the sweep has usually passed by its END.
    * TWO independent gates qualify a query, both retried under one
    * bounded time budget with min-over-real-runs semantics (retry
    * timings ride the raw artifact too; nothing synthesized):
    *  - LOADAVG gate: official time non-trivial AND around-query
    *    loadavg well above the run median.
    *  - BASELINE gate ([[overBaseline]]). A baseline-flagged query may
    *    take a SECOND retry if the first still qualifies (a burst can
    *    outlive one retry): a real plan regression reads slow on every
    *    run and keeps its honest time; a stale baseline costs one
    *    bounded extra run.
    * Retries that immediately re-sample a live burst are not
    * independent samples, so:
    *  - WAIT-FOR-QUIET: if anything qualified and the CURRENT 1-min
    *    loadavg still exceeds the sweep median ×1.25, sleep in bounded
    *    steps (cap `settleCapMs`, NOT charged to the retry budget: the
    *    budget bounds measurement work, the settle bounds waiting).
    *  - DESCENDING-EXCESS ORDER: retries run costliest-first
    *    (official − self), so the largest phantom readings get the
    *    cleanest air and a spent budget strands only the cheapest tail.
    *
    * Returns the updated readings plus the [[Suspect]] list: queries
    * STILL over the baseline gate after the pass (including any the
    * budget stranded). The environment (rerun/loadavg/sleep/clock) is
    * injected so the whole protocol runs in a deterministic spec. */
  private[graft] def retryPass(
      readings: Seq[Reading],
      self: Map[String, Double],
      rerun: String => Option[Double],
      loadNow: () => Double,
      sleepMs: Long => Unit,
      nowNs: () => Long = () => System.nanoTime(),
      budgetNs: Long = 120L * 1000 * 1000 * 1000,
      settleCapMs: Long = 120000L,
      settleStepMs: Long = 5000L): (Seq[Reading], Seq[Suspect]) = {
    if (readings.isEmpty) return (readings, Seq.empty)
    val loadsAll = readings.map(_.load)
    val medLoad = loadsAll.sorted.apply(loadsAll.size / 2)
    def baseFlag(r: Reading): Boolean =
      r.ok && overBaseline(self, r.name, r.official)
    def loadFlag(r: Reading): Boolean =
      r.ok && r.official > 1.0 && r.load > math.max(2.0, medLoad * 1.5)
    // known contamination first: a loadavg-flagged query with NO
    // baseline entry has unknown excess and must not preempt a known
    // phantom under a tight budget; unknowns retry after all
    // known-excess queries, largest official first
    def excess(r: Reading): (Int, Double) =
      if (self.contains(r.name)) (0, -(r.official - self(r.name)))
      else (1, -r.official)
    val flaggedIdx = readings.zipWithIndex.collect {
      case (r, i) if loadFlag(r) || baseFlag(r) => i
    }
    if (flaggedIdx.nonEmpty) {
      // wait-for-quiet: bounded, and deliberately OUTSIDE the retry
      // budget window (nowNs t0 is taken after)
      var slept = 0L
      var l = loadNow()
      // absolute 2.0 floor mirrors the loadavg gate's: on a quiet host
      // a baseline-flagged query (stale baseline, real regression) must
      // retry immediately, not wait out the cap because 0.3 > 0.25
      while (l > math.max(2.0, medLoad * 1.25) && slept < settleCapMs) {
        sleepMs(settleStepMs); slept += settleStepMs; l = loadNow()
      }
      if (slept > 0) System.err.println(
        s"[bench] retry settle: slept ${slept / 1000} s " +
        f"(loadavg now $l%.1f vs sweep median $medLoad%.1f)")
    }
    val t0 = nowNs()
    val updated = readings.toArray
    flaggedIdx.sortBy(i => excess(readings(i))).foreach { i =>
      if (nowNs() - t0 <= budgetNs) {
        var acc = updated(i)
        var attempts = 0
        var done = false
        while (!done && attempts < 2 && nowNs() - t0 <= budgetNs) {
          attempts += 1
          rerun(acc.name) match {
            case Some(t) =>
              acc = acc.copy(official = math.min(acc.official, t),
                load = math.max(acc.load, loadNow()),
                raws = acc.raws :+ t)
              // the second attempt is baseline-gate-only: the loadavg
              // gate keeps its historical single-retry behavior
              done = !overBaseline(self, acc.name, acc.official)
            case None => done = true
          }
        }
        updated(i) = acc
      }
    }
    val out = updated.toSeq
    val suspects = out.collect {
      case r if r.ok && overBaseline(self, r.name, r.official) =>
        Suspect(r.name, r.official, self(r.name))
    }
    (out, suspects)
  }

  /** The sweep's two JSON artifacts, by audience: the FULL one (per-query
    * seconds, raw runs and loadavg) for `bench_out.json` and stderr, and
    * a COMPACT line as the final stdout line for callers that parse
    * stdout. Such a caller may keep only a ~2 KB stdout tail, so the
    * compact line carries per-query seconds as a 2-dp array in name
    * order (`q_order`) rather than a name-keyed map, and a ladder keeps
    * it within 1800 bytes:
    * drop the suspect list (its count stays), then the array. Failures
    * and unresolved suspects ride both artifacts, so a dirty or broken
    * number is self-annotating; `subset` marks a `SPARK_GRAFT_ONLY` run,
    * whose total must never pass for a full run's. Key order and number
    * text are part of the format: raw doubles print as
    * `Double.toString`, two-decimal fields as Locale.ROOT `%.2f`. */
  private[graft] def artifacts(readings: Seq[Reading], suspects: Seq[Suspect],
      mvSecs: Double, mvBuilds: Seq[(String, Double)], mvFound: Seq[String],
      sfDir: String, only: Set[String], idleLoad: => Double): (String, String) = {
    def dec2(v: Double) = new java.math.BigDecimal(
      String.format(java.util.Locale.ROOT, "%.2f", Double.box(v)))
    def strings(a: ArrayNode, ss: Seq[String]): Unit = ss.foreach(a.add(_: String))
    val total = readings.map(_.official).sum
    // an EMPTY run (misspelled SPARK_GRAFT_ONLY) still emits a valid,
    // self-evidently-empty artifact
    val loads = if (readings.nonEmpty) readings.map(_.load) else Seq(idleLoad)
    val failed = readings.filterNot(_.ok).map(_.name)
    val subset = only.toSeq.sorted
    val suspectArr = json.createArrayNode()
    suspects.foreach(s => suspectArr.addObject().put("q", s.name)
      .put("official", dec2(s.official)).put("self", dec2(s.self)))
    def head() = json.createObjectNode()
      .put("metric", "total").put("value", total).put("unit", "sec")

    val full = head().put("runs_per_query", "2-4 adaptive + gc-debt 3rd " +
        "run >2s + settle + load/baseline(3x-or-excess) retry")
      .put("mv_build_secs", mvSecs)
    val mvB = full.putObject("mv_builds")
    mvBuilds.foreach { case (k, v) => mvB.put(k, v) }
    strings(full.putArray("mv_found"), mvFound)
    if (subset.nonEmpty) strings(full.putArray("subset"), subset)
    val qs = full.putObject("queries")
    readings.foreach(r => qs.put(r.name, r.official))
    val qRaw = full.putObject("queries_raw")
    readings.foreach { r =>
      val a = qRaw.putArray(r.name)
      r.raws.foreach(a.add(_: Double))
    }
    val qLoad = full.putObject("queries_loadavg")
    readings.foreach(r => qLoad.put(r.name, r.load))
    strings(full.putArray("failed"), failed)
    full.set[ObjectNode]("suspect", suspectArr)
    full.putObject("loadavg").put("min", loads.min)
      .put("mean", loads.sum / loads.size).put("max", loads.max)
    full.put("sf", sfDir)

    def compactLine(withSecs: Boolean, withSuspects: Boolean): String = {
      val c = head().put("n_queries", readings.size).put("mv_build_secs", mvSecs)
      if (subset.nonEmpty) strings(c.putArray("subset"), subset)
      strings(c.putArray("failed"), failed)
      c.put("suspect_n", suspects.size)
      if (withSuspects && suspects.nonEmpty) c.set[ObjectNode]("suspect", suspectArr)
      c.put("loadavg_max", loads.max).put("sf", sfDir)
      if (withSecs) {
        val secs = c.put("q_order", "name_asc").putArray("q_sec")
        readings.foreach(r => secs.add(dec2(r.official)))
      }
      json.writeValueAsString(c.put("detail", "bench_out.json"))
    }
    val ladder = Seq(compactLine(withSecs = true, withSuspects = true),
      compactLine(withSecs = true, withSuspects = false),
      compactLine(withSecs = false, withSuspects = false))
    (json.writeValueAsString(full), ladder.find(_.length <= 1800).getOrElse(ladder.last))
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // Dev-only subset filter (comma-separated query names): lets a tuning
    // session time one query at sf0.1 without the full 220-query sweep.
    // The driver never sets it, so the official artifact is unaffected.
    val only: Set[String] = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSet)
      .getOrElse(Set.empty)
    // ONE session recipe for every harness entry point (HarnessSession):
    // the bench protocol and the profiler (StageMetrics) build from the
    // same definition.
    val spark = HarnessSession.create()
    // Fixture schema probe: one stderr line per drift, never aborts.
    try graft.sources.Tables.validate(spark, sfDir)
    catch { case e: Throwable => System.err.println(s"[fixture-probe] failed: ${e.getMessage}") }
    // Untimed warmup: session/codegen/scan init isn't charged to the
    // first query; queries run in name order for stable attribution.
    spark.read.parquet(s"$sfDir/lineitem.parquet").count()
    // Steady-state measurement (JMH-style): run every query once on the
    // smallest fixture first. Plan shapes are identical across scale
    // factors, so this populates the whole-stage-codegen class cache and
    // C2-compiles the hot paths for ~1/100th of the data cost; the timed
    // loop below then measures execution, not one-time JIT. Warm-run
    // failures are ignored here — the timed loop reports them.
    HarnessSession.warmDir(sfDir).foreach { wd =>
      SparkEntry.queries.toSeq.sortBy(_._1)
        .filter { case (n, _) => only.isEmpty || only(n) }
        .foreach { case (_, fn) =>
        try fn(spark, wd).count() catch { case _: Throwable => () }
        finally spark.catalog.clearCache()
      }
    }
    // Untimed, EXPLICITLY-REPORTED materialized-view warm pass: MVs are
    // maintained tables by design (SURVEY §2.9b) that rebuild when the
    // corpus changes, not inside a query, so the per-query numbers
    // below measure queries, not cache builds. The build cost rides the
    // artifact as mv_build_secs / mv_builds (0.0/empty when the views
    // already exist on disk).
    val (mvSecs, mvBuilds, mvFound) = graft.sources.MVWarm.warmAll(spark, sfDir)
    spark.catalog.clearCache()
    val queryFns = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.isEmpty || only(n) }
    val fnByName = queryFns.toMap
    val readings0 = queryFns.map { case (name, fn) =>
      // 1-min loadavg sampled around EVERY query (max of before/after):
      // a single end-of-run sample cannot see a mid-run spike, and the
      // per-query max makes contamination attributable from the
      // artifact alone.
      val l0 = loadAvg
      // Per-query time is execution only: the timestamp is taken before
      // the clearCache teardown, so cache-heavy queries aren't charged
      // their cache-drop cost. Each query is timed at least TWICE (cache
      // cleared between runs) and the official number is the min: with
      // one measurement a one-off GC/JIT hiccup is indistinguishable
      // from a plan regression. All raw timings ride the full artifact.
      def timeOnce(): (Double, Boolean) = {
        val t0 = System.nanoTime()
        var t1 = t0
        val ok =
          try { fn(spark, sfDir).count(); t1 = System.nanoTime(); true }
          catch { case e: Throwable =>
            t1 = System.nanoTime()
            System.err.println(s"[bench] $name FAILED: ${e.getClass.getName}: ${e.getMessage}")
            false
          }
          finally spark.catalog.clearCache() // query fns are pure; drop their caches
        ((t1 - t0) / 1e9, ok)
      }
      var raw = (1 to 2).map(_ => timeOnce())
      // Steady-state detection: two successful runs agreeing within 30%
      // means execution was measured, not a load spike or GC hiccup.
      // While they disagree, take up to two extra runs: under sustained
      // load min-of-n still overstates, but a transient spike no longer
      // survives into the official number.
      def unstable(rs: Seq[(Double, Boolean)]): Boolean = {
        val ok = rs.collect { case (t, true) => t }.sorted
        ok.size >= 2 && ok(1) > ok(0) * 1.3
      }
      while (raw.size < 4 && unstable(raw)) raw = raw :+ timeOnce()
      // In-sweep GC-debt insurance: after ~125 queries of accumulated
      // old-gen garbage, an expensive query's first TWO runs can BOTH
      // absorb the deferred collection and agree with each other (q206
      // at sf0.1: 11.96/12.68 s, then a 4.71 s third run; a forced full
      // GC before timing restored it). Consistent-but-slow is the shape
      // min-of-2 cannot see through, so any query still reading > 2 s
      // after the adaptive loop gets ONE more run.
      def okMin(rs: Seq[(Double, Boolean)]): Option[Double] =
        rs.collect { case (t, true) => t } match {
          case ts if ts.nonEmpty => Some(ts.min); case _ => None
        }
      while (raw.size < 3 && okMin(raw).exists(_ > 2.0)) raw = raw :+ timeOnce()
      // Official per-query time: min over SUCCESSFUL runs only — a fast
      // failing run must not understate the headline total. Only when
      // both runs fail (the query is broken and listed in `failed`) does
      // the min fall back to the raw timings.
      val okTimes = raw.collect { case (t, true) => t }
      val official = (if (okTimes.nonEmpty) okTimes else raw.map(_._1)).min
      // GC-debt prevention between queries, OUTSIDE every timing window
      // (HarnessSession.teardownGc: half-heap + 1/min bounded) -- the
      // debt a query sheds here is debt the NEXT big query no longer
      // pays inside its timed runs
      HarnessSession.teardownGc()
      Reading(name, official, raw.forall(_._2), math.max(l0, loadAvg),
        raw.map(_._1))
    }
    // End-of-sweep retry pass ([[retryPass]]) with the real environment.
    val (readings, suspects) = if (readings0.isEmpty) (readings0, Seq.empty[Suspect])
    else {
      val self = selfBaseline(sfDir = Some(sfDir))
      // one provenance line: a silently-dormant gate (wrong cwd, sf
      // mismatch, garbled artifact) must be distinguishable from a
      // clean run where it simply had nothing to catch
      System.err.println(s"[bench] baseline-relative retry gate: " +
        (if (self.isEmpty) "DORMANT (no usable same-sf BENCH_SELF artifact)"
         else s"armed with ${self.size} baseline queries"))
      def rerunOnce(name: String): Option[Double] = {
        val t1 = System.nanoTime()
        try { fnByName(name)(spark, sfDir).count()
          Some((System.nanoTime() - t1) / 1e9) }
        catch { case _: Throwable => None }
        finally spark.catalog.clearCache()
      }
      retryPass(readings0, self, rerunOnce, () => loadAvg,
        ms => Thread.sleep(ms))
    }
    val (full, compact) = artifacts(readings, suspects, mvSecs, mvBuilds,
      mvFound, sfDir, only, loadAvg)
    for (p <- Seq("bench_out.json", "/tmp/graft_bench.json")) {
      try {
        val w = new java.io.PrintWriter(p, "UTF-8")
        try w.println(full) finally w.close()
      } catch { case _: Throwable => () }
    }
    spark.stop()
    System.err.println(full)
    println(compact)
    System.out.flush()
  }
}
