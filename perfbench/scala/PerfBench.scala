package perfbench

import java.io.File
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec, ShuffleExchangeLike}
import graft.{HarnessSession, SparkEntry}
import graft.sources.{MVWarm, MaterializedViews, Tables}

/** The benchmark's JVM side. `run.py` builds it, starts it once per run
  * and turns the raw samples it writes into metrics.
  *
  *   prepare <sfDir> <out.json>
  *     builds every `MVWarm.views` view under java.io.tmpdir (the
  *     pristine view state every run restores) and writes the view
  *     directories it made, plus a content digest of each view.
  *   run <key=value ...>
  *     one benchmark run; see [[Run]].
  */
object PerfBench {

  /** Ops of each read workload, as query-name prefixes. Each set is cut
    * to a pass of eight to ten seconds at sf0.1 on four cores, so that a
    * run's set-up and three passes fit its time budget; every set keeps
    * the queries that load the workload's layers. */
  val readWorkloads: Map[String, Seq[String]] = Map(
    // scan, shuffle, joins and aggregation; no kernels, rewrites or streams
    "star_etl" -> "q01 q03 q05 q13 q17 q40 q192",
    // dot and simhash kernels, q122's CPU-dense shingle-pair verify,
    // maintained views read (q45, q87) and views built inside q106, q121
    "llm_curation" -> "q31 q24 q122 q45 q87 q106 q121",
    // as-of (q10), range (q41) and auto-banded (q227) planner rules, an
    // iterative job chain (q245) and a streaming replay gate (q194)
    "multi_job" -> "q10 q41 q227 q245 q194",
  ).map { case (k, v) => k -> v.split(' ').toSeq }

  val writeWorkload = "corpus_refresh"

  def main(args: Array[String]): Unit = args.headOption match {
    case Some("prepare") =>
      val Array(_, sf, out) = args
      prepare(sf, out)
    case Some("run") =>
      val kv = args.drop(1).map { a =>
        val i = a.indexOf('='); a.take(i) -> a.drop(i + 1)
      }.toMap
      new Run(kv).main()
    case _ =>
      System.err.println("usage: PerfBench prepare <sf> <out> | run key=value...")
      sys.exit(2)
  }

  val mvRoot: File = new File(sys.props("java.io.tmpdir"), "graft-mv")

  def fpDirs: Set[String] =
    Option(mvRoot.listFiles).map(_.filter(_.isDirectory).map(_.getName).toSet)
      .getOrElse(Set.empty)

  /** Order-insensitive digest of a view's content: row count and the
    * exact sum of a 64-bit hash of every row (columns in name order),
    * prefixed by the column names and types. */
  def viewDigest(df: DataFrame): String = {
    val cols = df.columns.sorted
    val r = df.select(count(lit(1)),
      sum(xxhash64(cols.map(col).toIndexedSeq: _*).cast("decimal(38,0)"))).head()
    val types = cols.map(c => c + ":" + df.schema(c).dataType.simpleString).mkString(",")
    s"$types|${r.getLong(0)}|${r.get(1)}"
  }

  def prepare(sf: String, out: String): Unit = {
    val spark = HarnessSession.create()
    val before = fpDirs
    val failed = mutable.ArrayBuffer.empty[String]
    MVWarm.views.foreach { case (n, fn) =>
      try fn(spark, sf).queryExecution catch { case e: Throwable => failed += n }
    }
    val sfDirs = fpDirs -- before
    val digests = MVWarm.views.map { case (n, fn) =>
      n -> (try viewDigest(fn(spark, sf)) catch { case e: Throwable => "error: " + e })
    }
    spark.stop()
    Json.write(out, Map("sf_dirs" -> sfDirs.toSeq.sorted,
      "views" -> MVWarm.views.map(_._1), "digests" -> digests.toMap, "failed" -> failed.toSeq))
    if (failed.nonEmpty) sys.exit(1)
  }

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.iterator().asScala.toSeq.reverse.foreach(Files.delete) finally s.close()
  }

  def copyTree(from: Path, to: Path): Unit = {
    val s = Files.walk(from)
    try s.iterator().asScala.foreach { p =>
      val t = to.resolve(from.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(t)
      else Files.copy(p, t, StandardCopyOption.REPLACE_EXISTING)
    } finally s.close()
  }

  def treeBytes(p: Path): Long = if (!Files.exists(p)) 0L else {
    val s = Files.walk(p)
    try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
    finally s.close()
  }
}

/** A timed unit of work: a registered query, or one view build. */
final case class Op(name: String, oracle: Option[String],
    fn: (SparkSession, String) => DataFrame, isView: Boolean)

/** One benchmark run of one workload. */
final class Run(kv: Map[String, String]) {
  import PerfBench._

  val workload = kv("workload")
  val seed = kv("seed").toLong
  val seconds = kv("seconds").toDouble
  val traced = kv("trace") == "1"
  val sf = kv("sf")
  val pristine = Paths.get(kv("pristine"))
  val out = kv("out")
  val cores = HarnessSession.cpus.toInt

  val manifest = Json.read(pristine.resolve("manifest.json").toString)
  val sfViewDirs = manifest("sf_dirs").asInstanceOf[Seq[String]]

  val ops: Seq[Op] =
    if (workload == writeWorkload)
      MVWarm.views.map { case (n, fn) => Op(n, None, fn, isView = true) }
    else {
      val byPrefix = SparkEntry.all.map(q => q.name.takeWhile(_ != '_') -> q).toMap
      readWorkloads(workload).map { p =>
        val q = byPrefix(p)
        Op(q.name, q.oracle.map(_.stripMargin.trim), q.fn, isView = false)
      }
    }

  val trace: Option[Trace] = if (traced) Some(new Trace(smallTaskMs = 10)) else None
  val osBean = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  val spans = mutable.ArrayBuffer.empty[Span]
  val samples = mutable.ArrayBuffer.empty[Map[String, Any]]

  def nowUs: Long = {
    val i = java.time.Instant.now()
    i.getEpochSecond * 1000000L + i.getNano / 1000
  }

  /** Times `body`, recording a span when tracing. */
  def span[T](exec: String, name: String, parent: String)(body: => T): (T, Long) = {
    val u0 = nowUs
    val t0 = System.nanoTime()
    val r = body
    val ns = System.nanoTime() - t0
    if (traced) spans += Span(exec, name, parent, u0, u0 + ns / 1000)
    (r, ns)
  }

  /** The view state every run starts from: exactly the pristine
    * `MVWarm.views` set, copied into this run's private view root. */
  def restoreViews(): Unit = {
    deleteTree(mvRoot.toPath)
    copyTree(pristine.resolve("graft-mv"), mvRoot.toPath)
    dropViewTables()
  }

  def emptyViews(dirs: Seq[String]): Unit = {
    dirs.foreach(d => deleteTree(new File(mvRoot, d).toPath))
    dropViewTables()
  }

  /** The session's catalog entries over bucketed views: they hold a file
    * listing, which is stale once the files are replaced under the same
    * dataset fingerprint (a new corpus version gets a new fingerprint
    * and a new table). The entries are external, so dropping them keeps
    * the files, and the next accessor call registers them again. */
  def dropViewTables(): Unit =
    spark.catalog.listTables().collect().map(_.name).filter(_.startsWith("graft_mv_"))
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))

  var spark: SparkSession = null
  val setupTimes = mutable.LinkedHashMap.empty[String, Double]

  /** Process start to the first timed op: session, fixture probe, an
    * untimed warm pass of the workload's ops (codegen and JIT; on the
    * measured fixture, because a pass on the smallest one took longer
    * and left the first measured pass slower still), then the view-state
    * restore, so views the warm pass built are built again in the timed
    * ops. */
  def setup(): Unit = {
    val id = "setup"
    val (s, sessNs) = span(id, "harness.session", null)(HarnessSession.create())
    spark = s
    val (_, probeNs) = span(id, "sources.fixture_probe", null)(Tables.validate(spark, sf))
    restoreViews()
    if (workload == writeWorkload) emptyViews(sfViewDirs)
    val (_, warmNs) = span(id, "harness.warm", null)(warmPass())
    val (_, restNs) = span(id, "sources.mv_restore", null)(restoreViews())
    MaterializedViews.drainBuildLog()
    val startMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    setupTimes ++= Seq("setup_s" -> (System.currentTimeMillis() - startMs) / 1e3,
      "session_s" -> sessNs / 1e9, "probe_s" -> probeNs / 1e9,
      "warm_s" -> warmNs / 1e9, "restore_s" -> restNs / 1e9)
  }

  /** Every op once, untimed, results dropped. The warm work is
    * driver-side compilation (planning, codegen, JIT) that leaves cores
    * idle, so read ops warm concurrently, one thread per core; view
    * builds depend on each other and warm in registry order. */
  def warmPass(): Unit = {
    def one(op: Op): Unit =
      try { val df = op.fn(spark, sf); if (!op.isView) df.collect() }
      catch { case _: Throwable => () }
    if (workload == writeWorkload) ops.foreach(one)
    else {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(cores)
      try ops.map(op => pool.submit(new Runnable { def run(): Unit = one(op) }))
        .foreach(_.get())
      finally pool.shutdown()
    }
    spark.catalog.clearCache()
  }

  def planStats(df: DataFrame): (Int, Int) = {
    var exchanges = 0
    var graftNodes = 0
    def walk(p: SparkPlan): Unit = {
      p match {
        case _: ShuffleExchangeLike => exchanges += 1
        case _ =>
      }
      if (p.getClass.getName.startsWith("graft.")) graftNodes += 1
      p.subqueries.foreach(walk)
      p match {
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
        case q: QueryStageExec => walk(q.plan)
        case _: ReusedExchangeExec => ()
        case other => other.children.foreach(walk)
      }
    }
    walk(df.queryExecution.executedPlan)
    (exchanges, graftNodes)
  }

  def runOp(op: Op, pass: Int, idx: Int): Unit = {
    val id = s"p$pass:${op.name}"
    trace.foreach(_.current = id)
    if (traced) spark.sparkContext.setLocalProperty(Trace.Key, id)
    val u0 = nowUs
    val cpu0 = osBean.getProcessCpuTime
    val t0 = System.nanoTime()
    var tFn = t0
    var ok = true
    var err: String = null
    var df: DataFrame = null
    var rows: Array[org.apache.spark.sql.Row] = Array.empty
    try {
      df = op.fn(spark, sf)
      tFn = System.nanoTime()
      if (!op.isView) rows = df.collect()
    } catch {
      case e: Throwable =>
        ok = false
        err = (e.getClass.getName + ": " + e.getMessage).take(500)
    }
    val t1 = System.nanoTime()
    val cpu1 = osBean.getProcessCpuTime
    if (traced) spark.sparkContext.setLocalProperty(Trace.Key, null)
    trace.foreach(_.current = null)
    // everything below is outside the op's window
    val builds = MaterializedViews.drainBuildLog()
    val rec = mutable.LinkedHashMap[String, Any](
      "op" -> op.name, "pass" -> pass, "idx" -> idx, "wall_ns" -> (t1 - t0),
      "cpu_ns" -> (cpu1 - cpu0),
      "ok" -> ok, "mv_builds" -> builds.map { case (n, s) => Map("view" -> n, "s" -> s) })
    if (err != null) rec("error") = err
    if (ok) {
      try {
        if (op.isView) rec("digest") = viewDigest(df)
        else {
          val (n, d) = Digest.ordered(df.schema, rows)
          rec("rows") = n
          rec("digest") = d
        }
      } catch { case e: Throwable => rec("error") = "digest: " + e.getMessage }
    }
    if (traced) {
      val fnNs = tFn - t0
      spans += Span(id, "op", null, u0, u0 + (t1 - t0) / 1000)
      spans += Span(id, "operators.fn", "op", u0, u0 + fnNs / 1000)
      if (!op.isView)
        spans += Span(id, "exec.collect", "op", u0 + fnNs / 1000, u0 + (t1 - t0) / 1000)
      rec("fn_ns") = fnNs
      rec("start_us") = u0
      rec("fn_end_us") = u0 + fnNs / 1000
      rec("end_us") = u0 + (t1 - t0) / 1000
      if (df != null && ok) {
        try {
          val phases = df.queryExecution.tracker.phases
          rec("phases_ms") = phases.map { case (k, v) => k -> v.durationMs }
          phases.foreach { case (k, v) =>
            spans += Span(id, "plans." + k, "op", v.startTimeMs * 1000, v.endTimeMs * 1000)
          }
          val (ex, gn) = planStats(df)
          rec("exchanges") = ex
          rec("graft_nodes") = gn
        } catch { case e: Throwable => rec("plan_error") = e.getMessage }
      }
    }
    spark.catalog.clearCache()
    samples += rec.toMap
  }

  def main(): Unit = {
    val wall0 = System.nanoTime()
    val load0 = HarnessSession.loadAvg
    setup()
    trace.foreach { t =>
      spark.sparkContext.addSparkListener(t.spark)
      spark.streams.addListener(t.streaming)
    }
    // Whole passes over the ops, each in a seed-permuted order, while
    // the next pass is expected to end within the measured time, and at
    // least three, so that the median pass is not an outlier's. Before
    // each pass, outside its window, the view state is reset: a read
    // pass starts from the pristine `MVWarm.views` set, so the views a
    // query builds for itself are built inside its op in every pass; a
    // view-build pass starts from an empty view directory.
    val order = new scala.util.Random(seed)
    val measure0 = System.nanoTime()
    val deadline = measure0 + (seconds * 1e9).toLong
    val passNs = mutable.ArrayBuffer.empty[Long]
    val passCpuNs = mutable.ArrayBuffer.empty[Long]
    var lastPassNs = 0L
    while (passNs.size < 3 || System.nanoTime() + lastPassNs <= deadline) {
      val pass = passNs.size
      if (workload == writeWorkload) emptyViews(sfViewDirs)
      else if (pass > 0) restoreViews()
      val perm = if (workload == writeWorkload) ops else order.shuffle(ops)
      val p0 = System.nanoTime()
      perm.zipWithIndex.foreach { case (op, i) => runOp(op, pass, i) }
      lastPassNs = System.nanoTime() - p0
      // the pass time is the sum of its op windows: the digest and
      // trace work between ops is outside every window
      passNs += samples.takeRight(perm.size).map(_("wall_ns").asInstanceOf[Long]).sum
      passCpuNs += samples.takeRight(perm.size).map(_("cpu_ns").asInstanceOf[Long]).sum
    }
    val pass = passNs.size
    val measureS = (System.nanoTime() - measure0) / 1e9
    val sfMvBytes = sfViewDirs.map(d => treeBytes(new File(mvRoot, d).toPath)).sum
    val kernels = if (traced) Kernels.measure(spark, sf, trace.get) else Map.empty[String, Any]
    trace.foreach { t =>
      t.drain()
      for ((id, c) <- t.byExec; (job, s, e) <- c.jobSpans if e >= 0)
        spans += Span(id, s"exec.job$job", "op", s * 1000, e * 1000)
    }
    val execs = trace.map(t => t.byExec.toSeq.map { case (id, c) =>
      id -> Map("jobs" -> c.jobs, "stages" -> c.stages, "tasks" -> c.tasks,
        "failed_tasks" -> c.failedTasks, "small_tasks" -> c.smallTasks,
        "task_ms" -> c.taskMs, "cpu_ns" -> c.cpuNs, "gc_ms" -> c.gcMs,
        "in_bytes" -> c.inBytes, "in_rows" -> c.inRows,
        "shuffle_write" -> c.shuffleWrite, "shuffle_read" -> c.shuffleRead,
        "fetch_wait_ms" -> c.fetchWaitMs, "spill_bytes" -> c.spillBytes,
        "batches" -> c.batches, "batch_ms" -> c.batchMs, "state_ms" -> c.stateMs,
        "job_spans" -> c.jobSpans.map { case (j, s, e) => Seq(j, s, e) })
    }.toMap).getOrElse(Map.empty)
    val status = new String(Files.readAllBytes(Paths.get("/proc/self/status")))
    val hwmKb = "VmHWM:\\s+(\\d+)".r.findFirstMatchIn(status)
      .map(_.group(1).toLong).getOrElse(-1L)
    val result = Map(
      "workload" -> workload, "seed" -> seed, "traced" -> traced, "cores" -> cores,
      "ops" -> ops.map(o => Map("name" -> o.name, "oracle" -> o.oracle.orNull, "view" -> o.isView)),
      "setup" -> setupTimes.toMap, "passes" -> pass, "measure_s" -> measureS,
      "pass_ns" -> passNs.toSeq, "pass_cpu_ns" -> passCpuNs.toSeq,
      "samples" -> samples.toSeq, "sf_mv_bytes" -> sfMvBytes,
      "vm_hwm_kb" -> hwmKb, "kernels" -> kernels, "execs" -> execs,
      "spans" -> spans.map(s => Map("exec" -> s.exec, "name" -> s.name,
        "parent" -> s.parent, "start_us" -> s.startUs, "end_us" -> s.endUs)).toSeq,
      "env" -> Map(
        "jvm" -> (sys.props("java.vm.name") + " " + sys.props("java.runtime.version")),
        "spark" -> spark.version, "scala" -> scala.util.Properties.versionNumberString,
        "loadavg_start" -> load0, "loadavg_end" -> HarnessSession.loadAvg,
        "jvm_cpu_s" -> osBean.getProcessCpuTime / 1e9,
        "jvm_wall_s" -> (System.nanoTime() - wall0) / 1e9))
    spark.stop()
    Json.write(out, result)
  }
}

object Json {
  private val mapper = {
    val m = new com.fasterxml.jackson.databind.ObjectMapper()
    m.registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)
    m
  }
  def write(path: String, v: Any): Unit = mapper.writeValue(new File(path), v)
  def read(path: String): Map[String, Any] =
    mapper.readValue(new File(path), classOf[Map[String, Any]])
}
