package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.Tables

/** §2.2 source-format breadth: CSV and JSON-lines round-trips with
  * explicit schemas (never inferred — inference is a full extra pass and
  * nondeterministic under dirty data), and partition-count independence
  * of the deterministic aggregate layer. */
class SourcesSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  private val evSchema = StructType(Seq(
    StructField("event_id", LongType), StructField("user_id", LongType),
    StructField("event_type", StringType), StructField("value", DoubleType)))

  test("CSV round-trip with explicit schema preserves values") {
    val dir = TestSpark.tempDir("graft_csv").toString
    val src = Tables.events(spark, sf)
      .select($"event_id", $"user_id", $"event_type", $"value")
    src.write.mode("overwrite").option("header", "true").csv(dir)
    val back = spark.read.schema(evSchema).option("header", "true").csv(dir)
    assert(back.orderBy("event_id").collect().toSeq ==
      src.orderBy("event_id").collect().toSeq)
  }

  test("JSON-lines round-trip with explicit schema preserves values") {
    val dir = TestSpark.tempDir("graft_json").toString
    val src = Tables.events(spark, sf)
      .select($"event_id", $"user_id", $"event_type", $"value")
    src.write.mode("overwrite").json(dir)
    val back = spark.read.schema(evSchema).json(dir)
    assert(back.orderBy("event_id").collect().toSeq ==
      src.orderBy("event_id").collect().toSeq)
  }

  test("ORC round-trip preserves values and types (columnar alternative to parquet)") {
    val dir = TestSpark.tempDir("graft_orc").toString
    val src = Tables.events(spark, sf)
      .select($"event_id", $"user_id", $"event_type", $"value")
    src.write.mode("overwrite").orc(dir)
    val back = spark.read.orc(dir) // ORC embeds the schema like parquet
    assert(back.schema == src.schema)
    assert(back.orderBy("event_id").collect().toSeq ==
      src.orderBy("event_id").collect().toSeq)
  }

  test("PERMISSIVE JSON ingest isolates corrupt records instead of failing") {
    val dir = TestSpark.tempDir("graft_dirty").toString
    val lines = Seq(
      """{"event_id": 1, "user_id": 10, "event_type": "click", "value": 1.5}""",
      """{"event_id": 2, "user_id": 11, "event_type": "view"""", // truncated
      """not json at all""",
      """{"event_id": 3, "user_id": 12, "event_type": "purchase", "value": 9.0}""")
    java.nio.file.Files.write(java.nio.file.Paths.get(dir, "part.json"),
      lines.mkString("\n").getBytes("UTF-8"))
    val schema = evSchema.add(StructField("_corrupt_record", StringType))
    val df = spark.read.schema(schema)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .json(dir)
      .cache() // corrupt-record column requires the full row to be materialized
    assert(df.count() == 4)
    assert(df.filter($"_corrupt_record".isNotNull).count() == 2)
    val good = df.filter($"_corrupt_record".isNull)
    assert(good.select(sum($"value")).head().getDouble(0) == 10.5)
    df.unpersist()
  }

  test("schema evolution: mergeSchema unions parquet generations, old rows null-extend") {
    // v1 files carry 3 columns, v2 adds a fourth — the additive-evolution
    // case a long-lived corpus hits on every schema bump; mergeSchema
    // reconciles the footers and v1 rows surface NULL for the new column
    val dir = TestSpark.tempDir("graft_evolve").toString
    Seq((1L, "click", 1.5)).toDF("event_id", "event_type", "value")
      .write.mode("append").parquet(dir)
    Seq((2L, "view", 2.5, "mobile"))
      .toDF("event_id", "event_type", "value", "device")
      .write.mode("append").parquet(dir)
    val df = spark.read.option("mergeSchema", "true").parquet(dir)
    assert(df.columns.toSet == Set("event_id", "event_type", "value", "device"))
    val rows = df.orderBy("event_id").collect()
    assert(rows.length == 2)
    assert(rows(0).isNullAt(rows(0).fieldIndex("device")),
      "pre-evolution rows must null-extend, not fail")
    assert(rows(1).getAs[String]("device") == "mobile")
  }

  test("MV publish recovers from a stale target dir without _SUCCESS") {
    // Simulates a crash mid-publish (target dir exists, no _SUCCESS):
    // cached() must evict the garbage and publish a fresh view rather
    // than fail forever on ATOMIC_MOVE into a non-empty dir.
    val viewName = "spec_stale_recovery"
    val src = new java.io.File(sf, "documents.parquet")
    val fp = java.security.MessageDigest.getInstance("MD5")
      .digest(s"$sf|${src.length}|${src.lastModified}".getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    val out = new java.io.File(new java.io.File(new java.io.File(
      sys.props.getOrElse("java.io.tmpdir", "/tmp"), "graft-mv"), fp), viewName)
    // idempotence: a previous run of this test published the view; start
    // from the simulated-crash state every time
    def rmr(f: java.io.File): Unit = {
      Option(f.listFiles).foreach(_.foreach(rmr)); f.delete(): Unit
    }
    rmr(out)
    out.mkdirs()
    Files.write(new java.io.File(out, "part-00000-stale").toPath,
      "garbage".getBytes("UTF-8"))
    assert(!new java.io.File(out, "_SUCCESS").isFile)
    val df = graft.sources.MaterializedViews.cached(spark, sf, viewName) {
      spark.range(5).toDF("id")
    }
    assert(df.count() == 5)
    assert(new java.io.File(out, "_SUCCESS").isFile, "fresh view published")
    assert(!new java.io.File(out, "part-00000-stale").exists(), "garbage evicted")
    // no leaked temp siblings
    val leftovers = Option(out.getParentFile.listFiles).get
      .filter(_.getName.startsWith(s"$viewName.tmp-"))
    assert(leftovers.isEmpty, s"leaked temp dirs: ${leftovers.mkString(",")}")
  }

  test("MV race: a writer publishing mid-build wins; the loser discards, readers see only the winner") {
    // The cross-process race, injected at the only point it can happen:
    // while this builder's build closure is still running, a competing
    // writer completes the full publish protocol (temp dir + ATOMIC_MOVE
    // + _SUCCESS) at the same target. The in-flight builder must then
    // lose its rename, discard its temp, and hand the reader the
    // winner's COMPLETE view. Contents differ here only so the test can
    // observe who won — production builds are deterministic twins.
    val viewName = "spec_race_loser"
    val src = new java.io.File(sf, "documents.parquet")
    val fp = java.security.MessageDigest.getInstance("MD5")
      .digest(s"$sf|${src.length}|${src.lastModified}".getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    val out = new java.io.File(new java.io.File(new java.io.File(
      sys.props.getOrElse("java.io.tmpdir", "/tmp"), "graft-mv"), fp), viewName)
    def rmr(f: java.io.File): Unit = {
      Option(f.listFiles).foreach(_.foreach(rmr)); f.delete(): Unit
    }
    rmr(out)
    val df = graft.sources.MaterializedViews.cached(spark, sf, viewName) {
      val winnerTmp = new java.io.File(out.getParentFile, s"$viewName.tmp-winner")
      out.getParentFile.mkdirs()
      spark.range(7).toDF("id").write.mode("overwrite").parquet(winnerTmp.getPath)
      java.nio.file.Files.move(winnerTmp.toPath, out.toPath,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      assert(new java.io.File(out, "_SUCCESS").isFile, "winner fully published")
      spark.range(5).toDF("id") // the loser's build
    }
    assert(df.count() == 7, "reader must get the winner's complete view")
    assert(new java.io.File(out, "_SUCCESS").isFile)
    val leftovers = Option(out.getParentFile.listFiles).get
      .filter(_.getName.startsWith(s"$viewName.tmp-"))
    assert(leftovers.isEmpty, s"loser leaked temp dirs: ${leftovers.mkString(",")}")
  }

  test("cachedBucketed: builds once per dataset version, re-registers from disk, joins exchange-free") {
    // the round-17 bucketed warm registry (q255's layout path): the
    // FIRST call writes the bucketed files under the fingerprinted
    // registry and logs the build; a SECOND call (same dataset) must
    // find the published files, rebuild NOTHING, and only re-register
    // the external table metadata — and the registered table's bucket
    // spec must be real: a self-join on the bucket key plans with no
    // ShuffleExchange under the same confs q255's pin uses.
    val name = "spec_bucketed_b4"
    val src = new java.io.File(sf, "documents.parquet")
    val fp = java.security.MessageDigest.getInstance("MD5")
      .digest(s"$sf|${src.length}|${src.lastModified}".getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    val out = new java.io.File(new java.io.File(new java.io.File(
      sys.props.getOrElse("java.io.tmpdir", "/tmp"), "graft-mv"), fp), name)
    def rmr(f: java.io.File): Unit = {
      Option(f.listFiles).foreach(_.foreach(rmr)); f.delete(): Unit
    }
    rmr(out)
    spark.sql(s"DROP TABLE IF EXISTS graft_mv_${name}_${fp.take(8)}")
    graft.sources.MaterializedViews.drainBuildLog()
    def build() = graft.sources.MaterializedViews.cachedBucketed(
      spark, sf, name, "k", 4, "documents.parquet")(
      spark.range(0, 1000).selectExpr("id as k", "id * 3 as v"))
    val t1 = build()
    val firstLog = graft.sources.MaterializedViews.drainBuildLog()
    assert(firstLog.map(_._1) == Seq(name), "first call must build and log it")
    assert(new java.io.File(out, "_SUCCESS").isFile, "published to the registry")
    val t2 = build()
    assert(t2 == t1, "same dataset version -> same catalog name")
    assert(graft.sources.MaterializedViews.drainBuildLog().isEmpty,
      "second call must reuse the published layout, not rebuild")
    assert(spark.table(t1).count() == 1000)
    // the re-registered DDL bucket spec is load-bearing, not cosmetic
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    val confs = Seq("spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.enabled" -> "false")
    val olds = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val a = spark.table(t1)
      val b = spark.table(t1).withColumnRenamed("v", "v2")
      val j = a.join(b, "k")
      val ex = j.queryExecution.executedPlan.collect {
        case e: ShuffleExchangeLike => e
      }
      assert(ex.isEmpty,
        s"bucketed self-join must be exchange-free:\n${j.queryExecution.executedPlan}")
      assert(j.count() == 1000)
    } finally olds.foreach { case (k, v) =>
      v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
  }

  test("q202 format fingerprints: csv and json rows identical per lang, checksum recomputes") {
    import org.apache.spark.sql.functions.{col, concat_ws, count, lit, sum}
    val rows = SparkEntry.queries("q202_text_source_roundtrip")(spark, sf)
      .collect()
    val byFmt = rows.groupBy(_.getAs[String]("format"))
    assert(byFmt.keySet == Set("csv", "json"))
    def key(rs: Array[org.apache.spark.sql.Row]) = rs.map(r =>
      (r.getAs[String]("lang"), r.getAs[Long]("n_docs"),
        r.getAs[Long]("content_checksum"))).toSet
    assert(key(byFmt("csv")) == key(byFmt("json")),
      "both text formats must reproduce identical fingerprints")
    // and the fingerprint equals a direct parquet recompute
    val direct = Tables.documents(spark, sf)
      .select(col("lang"),
        (graft.functions.text.md5Hash60(concat_ws("\u0001", col("doc_id"),
          col("lang"), col("source"), col("n_chars"), col("text")))
          % (1L << 40)).as("h"))
      .groupBy("lang")
      // the round-17 checksum discipline: EXACT decimal sum folded
      // modulo 2^40 (scale-independent on both engines)
      .agg(count(lit(1)).as("n"),
        (sum(col("h").cast(org.apache.spark.sql.types.DecimalType(38, 0)))
          % lit(1L << 40)).cast("long").as("cs"))
      .collect()
      .map(r => (r.getAs[String]("lang"), r.getAs[Long]("n"),
        r.getAs[Long]("cs"))).toSet
    assert(key(byFmt("json")) == direct, "round-trip checksum drifted from source")
  }

  test("results are partition-count independent (4 vs 13 shuffle partitions)") {
    val names = Seq("q01_pricing_summary", "q22_neardup_jaccard",
      "q20_session_windows",
      // round-6 hazard shapes: closed-form positions, decimal moments,
      // sketch merge, quartile-boundary scores, chunk-count join
      "q105_interleave_shuffle_order", "q112_embedding_dim_stats",
      "q121_incremental_hll_registers", "q123_rfm_segmentation",
      "q129_duplicated_span_audit",
      // round-7 hazard shapes: degree-adaptive salt fan-out, strict-past
      // window frames, chained whole-partition funnel minima, OLS
      // moment sums with near-cancelling differences
      "q134_salted_skew_join", "q140_pit_feature_snapshot",
      "q145_sequential_funnel", "q148_revenue_trend_ols",
      // chunked skyline decomposition + per-cohort sequential cumsum
      "q154_pareto_skyline", "q155_cohort_ltv_curve",
      // round-8 hazard shapes: mergeable bin counts crossing an integer
      // threshold, blocked fuzzy candidates with min-distance ties,
      // ignore-nulls carries feeding fixed-point interpolation
      "q157_fuzzy_ocr_relink", "q158_grid_quantile_sketch",
      "q161_hourly_gapfill_interpolation", "q165_correlation_matrix",
      // bitwise-OR word folds merge from any partitioning; chained
      // decimal matvecs must not see the shuffle layout
      "q170_bitmap_distinct", "q175_principal_component",
      "q177_bitmap_set_algebra",
      // round-9 hazard shapes: conditional multi-horizon aggregates off
      // a broadcast scalar, decimal impurity folds, score-domain
      // cumulative windows, hash-argmax placement, checksummed
      // text-source round-trips
      "q196_churn_training_snapshot", "q197_gini_split_gain",
      "q199_feature_auc", "q200_rendezvous_sharding_audit",
      "q202_text_source_roundtrip")
    val before = spark.conf.get("spark.sql.shuffle.partitions")
    def run(parts: String) = {
      spark.conf.set("spark.sql.shuffle.partitions", parts)
      try names.map(n => SparkEntry.queries(n)(spark, sf).collect().toSeq)
      finally spark.conf.set("spark.sql.shuffle.partitions", before)
    }
    assert(run("4") == run("13"))
  }

  test("q260 line parse keys on the FIRST separator: in-text \\u0001 bytes survive intact") {
    // round-19 ADVICE: the earlier substring_index(_, sep, -1) parse
    // returned everything after the LAST separator, silently truncating
    // any text that itself contains \u0001 (the oracle splits the
    // ORIGINAL parquet column, so the drift reads as an engine bug).
    // This drives the PRODUCTION parse (Formats.parseDocLines, the same
    // function q260 calls) with exactly that hostile shape.
    val lines = Seq(
      "7\u0001hello\u0001world",   // in-text separator: text must keep it
      "8\u0001plain text",
      "9\u0001"                    // empty text round-trips as empty
    ).toDF("value")
    val got = graft.operators.Formats.parseDocLines(lines)
      .orderBy("doc_id").collect().toSeq
      .map(r => (r.getLong(0), r.getString(1)))
    assert(got == Seq(
      (7L, "hello\u0001world"),
      (8L, "plain text"),
      (9L, "")), s"first-separator keying must preserve the full text, got $got")
  }

  test("q261 catalog audit: fixture widths match the FIXTURES.md code constants (true drift alarm)") {
    // Both engines derive n_cols from the SAME parquet footers, so a
    // real drift moves both sides identically and the cross-engine hash
    // stays green (round-19 ADVICE) — the CODE-CONSTANT expected_cols
    // column is what makes drift visible, and this spec is the hard
    // gate on it: a regenerated fixture that drops/adds a column fails
    // HERE, by name, before any downstream query mis-joins.
    val rows = SparkEntry.queries("q261_schema_catalog_audit")(spark, sf)
      .collect().toSeq
    assert(rows.size == 10)
    val drifted = rows.filter(r =>
      r.getLong(r.fieldIndex("n_cols")) != r.getLong(r.fieldIndex("expected_cols")))
    assert(drifted.isEmpty,
      s"schema-width drift vs FIXTURES.md: ${drifted.mkString(", ")}")
  }

  test("q263 structural JSON corruption: truncated line nulls ALL fields, clean line with hostile content survives") {
    // The failure class q263 gates, driven directly at the parser: a
    // truncated object must yield a fully-null data row with the raw
    // line in _corrupt_record (structural failure has no partial
    // result), while a syntactically VALID line whose fields carry
    // hostile content (escaped quote + backslash, exactly what
    // to_json generates) parses clean. This is the micro-pin behind
    // the registered gate's corpus-level checksums.
    val lines = Seq(
      """{"doc_id":1,"lang":"a\"b\\c","n_chars":7}""",   // hostile but valid
      """{"doc_id":3,"lang":"en","n_chars":5""",         // truncated: corrupt
      """{"doc_id":4,"lang":"fr","n_chars":9}"""
    ).toDF("value")
    val dir = TestSpark.tempDir("graft_q263").toString
    lines.coalesce(1).write.mode("overwrite").text(dir)
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("lang", StringType),
      StructField("n_chars", LongType),
      StructField("_corrupt_record", StringType)))
    val df = spark.read.schema(schema)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .json(dir)
      .cache() // corrupt-record column requires the full row materialized
    val bad = df.filter($"_corrupt_record".isNotNull).collect()
    assert(bad.length == 1)
    assert(bad(0).isNullAt(0) && bad(0).isNullAt(1) && bad(0).isNullAt(2),
      s"structural corruption must null every data field, got ${bad(0)}")
    assert(bad(0).getString(3).startsWith("""{"doc_id":3"""))
    val good = df.filter($"_corrupt_record".isNull).orderBy("doc_id")
      .collect().toSeq.map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(good == Seq((1L, "a\"b\\c", 7L), (4L, "fr", 9L)))
    // DROPMALFORMED over the same file: exactly the clean lines, via a
    // column-referencing scan (the q262/q263 count discipline)
    val dropped = spark.read
      .schema(StructType(schema.fields.dropRight(1)))
      .option("mode", "DROPMALFORMED").json(dir)
      .select($"doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(dropped == Seq(1L, 4L))
    df.unpersist()
  }

  test("q263 registered gate: policies agree on the clean set and corruption hits exactly the rule's rows") {
    val byMode = SparkEntry.queries("q263_malformed_json_policy")(spark, sf)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    val (dRows, dClean, dSum) = byMode("DROPMALFORMED")
    val (pRows, pClean, pSum) = byMode("PERMISSIVE")
    val docs = Tables.documents(spark, sf)
    val total = docs.count()
    val corrupt = docs.filter($"doc_id" % 10 === 3).count()
    assert(dRows == dClean && dRows == total - corrupt,
      s"DROPMALFORMED must keep exactly the clean lines: $dRows vs ${total - corrupt}")
    assert(pRows == total, s"PERMISSIVE must lose nothing: $pRows vs $total")
    assert(pClean == dClean && pSum == dSum,
      "both policies must agree on the clean set and its checksum")
  }

  test("q265 corrupt parquet: strict read dies loud, ignoreCorruptFiles skips the file, pruning never opens it") {
    // The micro-pin behind the registered gate: a garbage parquet file
    // must (a) kill a strict scan — the default is LOUD, never silent
    // data loss; (b) vanish file-granularly under ignoreCorruptFiles
    // with every clean row intact; (c) never even be OPENED when a
    // partition predicate prunes its directory, so the strict read
    // succeeds without any recovery option.
    val dir = TestSpark.tempDir("graft_q265").toString
    Seq((1L, "a"), (2L, "b")).toDF("id", "v").withColumn("pk", lit(0L))
      .write.partitionBy("pk").mode("overwrite").parquet(dir)
    Seq((3L, "c")).toDF("id", "v").withColumn("pk", lit(1L))
      .write.partitionBy("pk").mode("append").parquet(dir)
    val bad = new java.io.File(s"$dir/pk=1")
    bad.listFiles.filter(_.getName.endsWith(".parquet")).foreach { f =>
      java.nio.file.Files.write(f.toPath,
        "JUNK".getBytes(java.nio.charset.StandardCharsets.UTF_8))
      new java.io.File(f.getParentFile, s".${f.getName}.crc").delete()
    }
    val schema = StructType(Seq(StructField("id", LongType),
      StructField("v", StringType), StructField("pk", LongType)))
    def chain(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ chain(x.getCause))
    val e = intercept[Exception] {
      spark.read.schema(schema).parquet(dir).count()
    }
    assert(chain(e).exists(_.contains("pk=1")),
      s"the strict failure must name the corrupt file, got: ${chain(e)}")
    val skipped = spark.read.schema(schema)
      .option("ignoreCorruptFiles", "true").parquet(dir)
      .select($"id").collect().map(_.getLong(0)).sorted.toSeq
    assert(skipped == Seq(1L, 2L),
      s"ignoreCorruptFiles must skip exactly the bad file, got $skipped")
    val prunedStrict = spark.read.schema(schema).parquet(dir)
      .filter($"pk" === 0L).select($"id")
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(prunedStrict == Seq(1L, 2L),
      "directory pruning must let a STRICT read succeed over the damaged layout")
  }
}
