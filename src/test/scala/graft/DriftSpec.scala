package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.Tables

/** Fixture-encoding drift tolerance (the round-8 lesson, both
  * directions): the committed test fixtures re-encode the SAME rows at
  * ns and µs parquet precision, so both branches of every
  * type-dispatching loader stay exercised whatever encoding the live
  * testdata currently ships — the ns path would otherwise be dead code
  * against a µs snapshot (and vice versa), and a dead drift branch is
  * exactly how round 8 lost 64 queries. */
class DriftSpec extends AnyFunSuite {
  import TestSpark._

  /** Copies a resource parquet into a fresh dir under the table's
    * canonical name so the Tables loaders read it unmodified. */
  private def dirWith(table: String, resource: String): String = {
    val dir = java.nio.file.Files.createTempDirectory("graft_drift").toString
    val in = getClass.getResourceAsStream(s"/fixtures/$resource")
    assert(in != null, s"missing test resource $resource")
    try java.nio.file.Files.copy(in,
      java.nio.file.Paths.get(dir, s"$table.parquet"))
    finally in.close()
    dir
  }

  test("events: ns and us encodings of the same rows yield identical ts_us") {
    val ns = Tables.events(spark, dirWith("events", "events_ns.parquet"))
    val us = Tables.events(spark, dirWith("events", "events_us.parquet"))
    assert(ns.schema("ts_us").dataType == LongType)
    assert(us.schema("ts_us").dataType == LongType)
    val a = ns.select("event_id", "ts_us").collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    val b = us.select("event_id", "ts_us").collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    assert(a.length == 200 && a.sameElements(b))
  }

  test("orders: ns-encoded o_orderdate reads as the same timestamp instants as us") {
    val ns = Tables.orders(spark, dirWith("orders", "orders_ns.parquet"))
    val us = Tables.orders(spark, dirWith("orders", "orders_us.parquet"))
    // the ns path must surface a timestamp TYPE, not a raw long
    assert(ns.schema("o_orderdate").dataType == TimestampType
      || ns.schema("o_orderdate").dataType == TimestampNTZType)
    val key = (df: org.apache.spark.sql.DataFrame) => df
      .select(col("o_orderkey"),
        unix_micros(col("o_orderdate").cast(TimestampType)).as("us"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    val a = key(ns); val b = key(us)
    assert(a.length == 100 && a.sameElements(b))
  }

  test("drift loaders restore the nanosAsLong conf on the no-drift path") {
    // TestSpark pins the flag at the builder, so the restore is only
    // observable on a session without it, the shape of a foreign pyspark
    // session. newSession() inherits builder confs, hence the unset.
    val k = "spark.sql.legacy.parquet.nanosAsLong"
    val s = spark.newSession()
    s.conf.unset(k)
    val before = s.conf.getOption(k)
    Tables.orders(s, sf)      // live fixture: no ns drift today
    Tables.lineitem(s, sf)
    Tables.events(s, sf)
    assert(s.conf.getOption(k) == before)
  }

  test("Tables.validate reports a ns-encoded events fixture as in-contract") {
    // drifted-but-supported encodings must NOT produce drift lines —
    // the probe exists to catch UNsupported drift loudly, not to cry
    // wolf on encodings the loaders dispatch over.
    val dir = dirWith("events", "events_ns.parquet")
    for (t <- Tables.names if t != "events") {
      val src = java.nio.file.Paths.get(sf, s"$t.parquet")
      java.nio.file.Files.copy(src, java.nio.file.Paths.get(dir, s"$t.parquet"))
    }
    val drifts = Tables.validate(spark, dir)
    assert(drifts.isEmpty, s"unexpected drift lines: $drifts")
  }

  test("Tables.validate reports a ns-encoded orders fixture as in-contract") {
    // round-9 ADVICE: validate used to probe orders through the RAW
    // reader, so a ns o_orderdate — an encoding tsTolerant supports —
    // was reported UNREADABLE, and the outcome depended on whether a
    // prior events() probe left nanosAsLong set. Probing through the
    // loader makes the verdict encoding- and order-independent.
    val dir = dirWith("orders", "orders_ns.parquet")
    for (t <- Tables.names if t != "orders") {
      val src = java.nio.file.Paths.get(sf, s"$t.parquet")
      java.nio.file.Files.copy(src, java.nio.file.Paths.get(dir, s"$t.parquet"))
    }
    val drifts = Tables.validate(spark, dir)
    assert(drifts.isEmpty, s"unexpected drift lines: $drifts")
  }
}
