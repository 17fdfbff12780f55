package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.{Layouts, Tables}
import graft.functions.skew

/** Proves the 100 TB storage/skew claims on real plans: partition
  * pruning reaches the scan, bucketed joins plan no exchange, salted
  * aggregation is exact. */
class LayoutSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  test("partitioned write + filtered read prunes partitions in the scan") {
    val dir = TestSpark.tempDir("graft_part").toString
    Layouts.writePartitioned(
      Tables.events(spark, sf).select($"event_id", $"user_id", $"value", $"event_type"),
      dir, "event_type")
    val read = spark.read.parquet(dir).filter($"event_type" === "click")
    val plan = read.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("event_type"))
    val clicks = Tables.events(spark, sf).filter($"event_type" === "click").count()
    assert(read.count() == clicks)
  }

  test("same-bucketed tables join with no exchange (co-located join)") {
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")
    try {
      Layouts.writeBucketed(
        Tables.orders(spark, sf).select($"o_orderkey", $"o_custkey", $"o_totalprice"),
        "orders_b", "o_orderkey", 4)
      Layouts.writeBucketed(
        Tables.lineitem(spark, sf).select($"l_orderkey", $"l_quantity"),
        "lineitem_b", "l_orderkey", 4)
      val joined = spark.table("lineitem_b")
        .join(spark.table("orders_b"), $"l_orderkey" === $"o_orderkey")
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"), s"bucketed join should not shuffle:\n$plan")
      assert(joined.count() == Tables.lineitem(spark, sf).count())
    } finally {
      spark.sql("DROP TABLE IF EXISTS orders_b")
      spark.sql("DROP TABLE IF EXISTS lineitem_b")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
    }
  }

  test("salted aggregation equals direct aggregation exactly") {
    val e = Tables.events(spark, sf)
    val direct = e.groupBy($"user_id".as("k"))
      .agg(count(lit(1)).as("n"), sum($"value").as("s"))
      .orderBy("k").collect().map(r => (r.getLong(0), r.getLong(1), math.round(r.getDouble(2) * 1e6)))
    val salted = skew.saltedCountSum(e, $"user_id", $"event_id", $"value", 8)
      .orderBy("k").collect().map(r => (r.getLong(0), r.getLong(1), math.round(r.getDouble(2) * 1e6)))
    assert(direct.toSeq == salted.toSeq)
  }

  test("raw-text input format (M1): text-source wordcount equals parquet wordcount") {
    val dir = TestSpark.tempDir("graft_txt").toString
    Tables.documents(spark, sf).select($"text")
      .write.mode("overwrite").text(dir)
    val fromText = spark.read.text(dir)
      .select(explode(split($"value", " ")).as("word"))
      .groupBy("word").count().orderBy("word")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    val fromParquet = SparkEntry.queries("q11_wordcount")(spark, sf)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(fromText == fromParquet)
  }

  test("AQE splits a skewed join partition at runtime (skew=true in plan)") {
    // One hot key large enough to trip the (lowered) skew thresholds:
    // AQE must split that shuffle partition instead of letting one task
    // drag the stage — the runtime answer to key skew at 100 TB.
    val saved = Seq("spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor")
      .map(k => k -> spark.conf.getOption(k)).toMap
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "64KB")
    spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "32KB")
    spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "1.0")
    try {
      val hot = spark.range(60000).select(lit(7L).as("k"), $"id".as("payload"))
        .union(spark.range(3000).select(($"id" % 97).as("k"), $"id".as("payload")))
      val dim = spark.range(100).select($"id".as("k"), ($"id" * 2).as("attr"))
      val joined = hot.join(dim, "k")
      // collect() drives joined's OWN QueryExecution (count() would spawn
      // a fresh one and leave this AQE plan unfinalized)
      assert(joined.collect().length == 63000)
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("skew=true"), s"expected AQE skew split:\n$plan")
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("M8 counters: observe() collects job metrics in the same pass") {
    val obs = new org.apache.spark.sql.Observation("m8")
    val e = Tables.events(spark, sf)
      .observe(obs, count(lit(1)).as("n_rows"),
        sum(when($"event_type" === "purchase", 1).otherwise(0)).as("n_purchases"))
      .filter($"value" >= 0)
    val total = e.count() // one job; counters ride along, no second scan
    val m = obs.get
    assert(m("n_rows") == 1000L)
    assert(m("n_purchases").asInstanceOf[Long] ==
      Tables.events(spark, sf).filter($"event_type" === "purchase").count())
    assert(total <= 1000)
  }

  test("q195 observed counters agree with the recomputed readout") {
    // the registered M8 query folds observe() metrics into its rows;
    // every counter must equal an independent recomputation
    val rows = SparkEntry.queries("q195_observed_scan_counters")(spark, sf)
      .collect()
    assert(rows.nonEmpty, "the grep must keep rows at test scale")
    val docs = Tables.documents(spark, sf)
    val scanned = rows.head.getAs[Long]("rows_scanned")
    assert(rows.forall(_.getAs[Long]("rows_scanned") == scanned),
      "scan counter is a job-level constant")
    assert(scanned == docs.count())
    assert(rows.head.getAs[Long]("chars_scanned") ==
      docs.agg(sum($"n_chars")).head.getLong(0))
    assert(rows.head.getAs[Long]("rows_kept") ==
      rows.map(_.getAs[Long]("n_kept")).sum,
      "job-level kept counter must equal the per-lang readout total")
    assert(rows.map(_.getAs[Long]("kept_chars")).sum <=
      rows.head.getAs[Long]("chars_scanned"))
  }

  test("M5 sort guarantee: sortWithinPartitions orders within, not across") {
    val df = Tables.events(spark, sf)
      .repartition(4, $"user_id")
      .sortWithinPartitions($"ts_us")
    assert(df.rdd.getNumPartitions == 4)
    val perPartSorted = df.select($"ts_us").rdd
      .mapPartitions(it => Iterator.single(it.map(_.getLong(0)).toSeq))
      .collect()
    perPartSorted.foreach(p => assert(p == p.sorted, "each partition must be sorted"))
    assert(perPartSorted.count(_.nonEmpty) > 1, "expected multiple non-empty partitions")
  }

  test("graft_dot is SQL-callable once registered") {
    // The extensions object applies cleanly (build-time path)...
    new GraftExtensions().apply(new org.apache.spark.sql.SparkSessionExtensions)
    // ...and the same registration on a live session makes SQL resolve it.
    GraftExtensions.register(spark)
    val got = spark.sql("SELECT graft_dot(array(1.0d, 2.0d), array(3.0d, 4.0d)) AS d")
      .collect()(0).getDouble(0)
    assert(got == 11.0)
  }

  test("graft_topk_pairs is SQL-callable as a grouped aggregate") {
    GraftExtensions.register(spark)
    val rows = spark.sql("""
      SELECT key, t.ord, t.v FROM (
        SELECT key, graft_topk_pairs(ord, v, 2) AS top
        FROM VALUES (1L, 5L, 10L), (1L, 9L, 20L), (1L, 7L, 30L),
                    (2L, 1L, 40L) AS t(key, ord, v)
        GROUP BY key)
      LATERAL VIEW explode(top) AS t
      ORDER BY key, t.ord DESC, t.v""").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(rows == Seq((1L, 9L, 20L), (1L, 7L, 30L), (2L, 1L, 40L)))
    // k must be a literal — the buffer bound is fixed at plan time
    intercept[Exception] {
      spark.sql("SELECT graft_topk_pairs(ord, v, v) FROM VALUES (1L, 1L) AS t(ord, v)")
        .collect()
    }
  }

  test("dynamic partition overwrite replaces only the targeted partition (q244 semantics)") {
    val docs = Tables.documents(spark, sf)
      .select("doc_id", "lang", "source", "n_chars", "text")
    val dir = TestSpark.tempDir("graft_backfill").toString
    docs.write.mode("overwrite").partitionBy("lang").parquet(s"$dir/t")
    def files(l: String): Set[(String, Long, Long)] =
      Option(new java.io.File(s"$dir/t/lang=$l").listFiles()).getOrElse(Array())
        .filter(_.getName.endsWith(".parquet"))
        .map(f => (f.getName, f.lastModified, f.length)).toSet
    val frBefore = files("fr")
    assert(frBefore.nonEmpty)
    docs.filter($"lang" === "en").withColumn("source", lit("patched"))
      .write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
      .partitionBy("lang").parquet(s"$dir/t")
    assert(files("fr") == frBefore,
      "backfill must leave untouched partitions' files in place")
    val back = spark.read.parquet(s"$dir/t")
    assert(back.filter($"lang" === "en").select("source").distinct()
      .collect().map(_.getString(0)).toSeq == Seq("patched"),
      "the backfilled partition must contain only the corrected batch")
    assert(back.count() == docs.count(), "row count conserved across the backfill")
  }

  test("maxRecordsPerFile caps file size at write; content round-trips (file-size governance)") {
    // The write-side half of the small-files/large-files problem: at
    // 100 TB a sink must bound the records per output file so no task
    // emits a multi-GB file (downstream readers split at file
    // granularity for row-group-aligned work stealing) — the knob is
    // per-writer, orthogonal to partitioning. Capping is per TASK:
    // a writer rolls to a new file every n records, so file count >=
    // ceil(rows / n) with equality only under single-partition input.
    val docs = Tables.documents(spark, sf)
      .select("doc_id", "lang", "n_chars")
    val rows = docs.count()
    val cap = 100L
    val dir = TestSpark.tempDir("graft_filegov").toString
    docs.repartition(4).write.mode("overwrite")
      .option("maxRecordsPerFile", cap).parquet(dir)
    val files = Option(new java.io.File(dir).listFiles()).getOrElse(Array())
      .filter(_.getName.endsWith(".parquet"))
    assert(files.length >= math.ceil(rows.toDouble / cap).toInt,
      s"${files.length} files cannot hold $rows rows under a $cap cap")
    // every file individually respects the cap — ONE grouped scan over
    // the directory instead of a sequential Spark job per file
    // (post-close review)
    val perFile = spark.read.parquet(dir)
      .groupBy(input_file_name().as("f")).count()
      .collect().map(r => r.getString(0) -> r.getLong(1))
    assert(perFile.length == files.length)
    perFile.foreach { case (f, n) =>
      assert(n <= cap, s"$f holds $n rows > cap $cap")
    }
    // governance must not cost correctness: content round-trips exactly
    val back = spark.read.parquet(dir)
    assert(back.count() == rows)
    assert(back.orderBy("doc_id").collect().toSeq ==
      docs.orderBy("doc_id").collect().toSeq)
  }
}
