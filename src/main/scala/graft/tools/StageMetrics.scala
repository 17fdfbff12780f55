package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd,
  SparkListenerJobStart}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec,
  QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec

/** Post-execution per-operator SQL-metric dump — the stage-level
  * profile the bench totals can't give. Runs one registered query at
  * `SPARK_GRAFT_SF_DIR` (default sf0.1), executes it, then walks the
  * FINAL adaptive plan (through QueryStageExec / ReusedExchange
  * boundaries, which plain plan.collect does not traverse) printing
  * every operator with its non-zero runtime metrics: rows, shuffle
  * bytes/time, aggregate build time, sort time, scan time, codegen
  * stage durations. This is how a warm q206 second is attributed to
  * its sub-pipelines (BASELINE.md carries the readout).
  *
  * After the operator tree it prints the last run's per-JOB timeline:
  * a query with persist points and broadcast builds runs as a CHAIN of
  * Spark jobs, so each job's [start, end] shows the serial driver-only
  * gaps between them (and any jobs run while the query function builds
  * its DataFrame, before the timed collect).
  *
  *   SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 \
  *     sbt "runMain graft.tools.StageMetrics q206_cf_holdout_precision 3"
  */
object StageMetrics {
  def main(args: Array[String]): Unit = {
    val name = args.headOption.getOrElse("q206_cf_holdout_precision")
    val runs = args.lift(1).map(_.toInt).getOrElse(2)
    val sf = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // the shared harness recipe: a profile must attribute the SAME plan
    // the bench runs (this session previously lacked the range-join
    // band default, so range queries could profile under a different
    // physical shape than they bench)
    val spark = graft.HarnessSession.create()
    val fn = graft.SparkEntry.queries(name)
    val jobs = new JobSpans
    spark.sparkContext.addSparkListener(jobs)
    // warm run(s) first — metrics are read from the LAST (steady-state)
    // execution, so JIT/codegen/MV-build costs don't pollute the readout
    var lastSec = 0.0
    var df = fn(spark, sf)
    for (i <- 1 to runs) {
      spark.catalog.clearCache()
      jobs.drain()
      jobs.clear()
      df = fn(spark, sf)
      val t0 = System.nanoTime()
      df.collect(): Unit
      lastSec = (System.nanoTime() - t0) / 1e9
      System.err.println(f"run $i: $lastSec%.2f s")
    }
    println(f"== $name @ $sf: last run $lastSec%.2f s ==")
    val interesting = Set("numOutputRows", "shuffleBytesWritten",
      "dataSize", "writeTime", "fetchWaitTime", "aggTime", "sortTime",
      "scanTime", "collectTime", "buildTime", "duration", "numMatched",
      "shuffleRecordsWritten", "spillSize", "pipelineTime")
    def fmt(v: Long, metric: String): String =
      if (metric == "shuffleWriteTime") f"${v / 1e9}%.2f s" // nsTiming
      else if (metric.toLowerCase.contains("time") || metric == "duration")
        f"${v / 1000.0}%.2f s"
      else if (metric.toLowerCase.contains("size") ||
               metric.toLowerCase.contains("bytes")) f"${v / 1e6}%.1f MB"
      else v.toString
    // the expensive sub-pipelines of a query with persist() points live
    // INSIDE the cache build, invisible to the top-level plan — descend
    // into each InMemoryRelation's cachedPlan exactly once
    val seenCaches = scala.collection.mutable.Set.empty[AnyRef]
    def walk(p: SparkPlan, depth: Int): Unit = {
      val ms = p.metrics.toSeq
        .filter { case (k, m) => m.value > 0 &&
          (interesting.contains(k) || k.toLowerCase.contains("time")) }
        .sortBy(_._1)
        .map { case (k, m) => s"$k=${fmt(m.value, k)}" }
      val head = p.nodeName + (if (ms.isEmpty) "" else ms.mkString("  [", ", ", "]"))
      println(("  " * depth) + head)
      p match {
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan, depth + 1)
        case q: QueryStageExec => walk(q.plan, depth + 1)
        case r: ReusedExchangeExec =>
          println(("  " * (depth + 1)) + s"(reuses ${r.child.nodeName})")
        case s: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec =>
          val rel = s.relation
          if (seenCaches.add(rel.cacheBuilder)) {
            println(("  " * (depth + 1)) + "(cache build plan:)")
            walk(rel.cachedPlan, depth + 2)
          } else
            println(("  " * (depth + 1)) + "(cache shown above)")
        case other => other.children.foreach(walk(_, depth + 1))
      }
    }
    walk(df.queryExecution.executedPlan, 0)
    jobs.drain()
    jobs.report()
    spark.stop()
  }
}

/** Per-job spans fed by the listener bus: (id, start ms, end ms,
  * description, tasks) for every job that ended since [[clear]]. */
private final class JobSpans extends SparkListener {
  private val running = scala.collection.mutable.Map.empty[Int, (Long, String, Int)]
  private val ended = scala.collection.mutable.Buffer.empty[(Int, Long, Long, String, Int)]
  private var lastEventNs = System.nanoTime()

  override def onJobStart(js: SparkListenerJobStart): Unit = synchronized {
    val desc = Option(js.properties)
      .flatMap(p => Option(p.getProperty("spark.job.description")))
      .getOrElse("")
    running(js.jobId) = (js.time, desc, js.stageInfos.map(_.numTasks).sum)
    lastEventNs = System.nanoTime()
  }

  override def onJobEnd(je: SparkListenerJobEnd): Unit = synchronized {
    running.remove(je.jobId).foreach { case (t0, desc, nTasks) =>
      ended += ((je.jobId, t0, je.time, desc, nTasks))
    }
    lastEventNs = System.nanoTime()
  }

  /** Wait until every started job has ended and the bus has been quiet
    * for 200 ms (capped): the bus delivers asynchronously, and a fixed
    * sleep silently drops late job ends. */
  def drain(capMs: Long = 10000L): Unit = {
    val t0 = System.nanoTime()
    def settled = synchronized(running.isEmpty &&
      System.nanoTime() - lastEventNs > 200L * 1000 * 1000)
    while (!settled && System.nanoTime() - t0 < capMs * 1000L * 1000) Thread.sleep(20)
  }

  def clear(): Unit = synchronized(ended.clear())

  def report(): Unit = {
    println("== jobs of the last run ==")
    val ds = synchronized(ended.toSeq).sortBy(_._2)
    val base = ds.headOption.map(_._2).getOrElse(0L)
    var prevEnd = base
    var serialGap = 0L
    ds.foreach { case (id, s, e, desc, nTasks) =>
      val gap = s - prevEnd
      if (gap > 0) serialGap += gap
      prevEnd = math.max(prevEnd, e)
      println(f"job $id%3d  +${(s - base) / 1000.0}%6.2f s  dur ${(e - s) / 1000.0}%6.3f s  gap ${gap / 1000.0}%6.3f s  tasks $nTasks%4d  ${desc.take(60)}")
    }
    println(f"jobs=${ds.size}  span=${(prevEnd - base) / 1000.0}%.2f s  driver-only gap total=${serialGap / 1000.0}%.2f s")
  }
}
