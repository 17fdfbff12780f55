package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  /** `oracle_sql.json`'s text: name → oracle SQL through the harness
    * JSON codec, so a quote, tab or CR in the SQL can never make a
    * strict `json.load` fail. */
  private[graft] def oracleJson(sql: Map[String, String]): String = {
    import scala.jdk.CollectionConverters._
    HarnessSession.json.writeValueAsString(sql.asJava)
  }

  def main(args: Array[String]): Unit = {
    // args: <sfDir> <outDir> [queryName ...] — names restrict the dump
    // (dev iteration); the driver always calls with exactly two args.
    val Array(sfDir, outDir) = args.take(2)
    val only = args.drop(2).toSet
    // the shared harness session recipe (HarnessSession) — identical to
    // the bench protocol's by construction
    val spark = HarnessSession.create()
    // Fixture schema probe: one stderr line per drift, never aborts
    // (a drifted fixture should fail loudly per-query, not silently).
    try graft.sources.Tables.validate(spark, sfDir)
    catch { case e: Throwable => System.err.println(s"[fixture-probe] failed: ${e.getMessage}") }
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        // full cause chain + trace head: a wrapped INTERNAL_ERROR's
        // getMessage alone once hid the actual failing frame for a
        // whole round-10 debugging session
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        // Bounded walk: a direct self-cause is guarded below, but a
        // cause CYCLE of length >1 (initCause misuse) would loop
        // forever — 10 causes is deeper than any real Spark wrap chain.
        var c = e
        var depth = 0
        while (c != null && depth < 10) {
          System.err.println(s"[verify]   cause: $c")
          c.getStackTrace.take(6).foreach(f =>
            System.err.println(s"[verify]     at $f"))
          c = if (c.getCause ne c) c.getCause else null
          depth += 1
        }
      }
      // Query fns are pure; caches they persisted (dedup shingle sets,
      // CC labels) are dead after the write — don't accumulate them
      // across a 55-query session.
      finally spark.catalog.clearCache()
    }
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"),
      oracleJson(SparkEntry.oracleSql))
    spark.stop()
  }
}
