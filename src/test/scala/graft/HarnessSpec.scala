package graft

import org.scalatest.funsuite.AnyFunSuite

/** Byte-level pins for the harness's JSON: Bench's full artifact and
  * compact stdout line (callers parse the compact line, so its keys,
  * key order and number text are a format), and Verify's
  * oracle_sql.json round trip. Pure functions, no Spark session. The
  * golden strings were produced by the hand-written serializer that
  * preceded the Jackson one, on these same readings. */
class HarnessSpec extends AnyFunSuite {
  import Bench.{Reading, Suspect, artifacts}

  private def sha256(s: String): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(s.getBytes("UTF-8")).map(b => f"${b & 0xff}%02x").mkString

  // number-text edge cases: a non-terminating binary sum, a HALF_UP
  // tie in decimal text (2.675 and 1.005 print as 2.68 and 1.01), an
  // exponent form (1.0E-4), a large value and a failed query
  private val rich = Seq(
    Reading("q01_a", 0.1 + 0.2, ok = true, load = 1.25, raws = Seq(0.1 + 0.2, 0.5)),
    Reading("q02_b", 2.675, ok = true, load = 3.0, raws = Seq(2.675, 3.0, 2.9)),
    Reading("q03_c", 1.0E-4, ok = false, load = 0.5, raws = Seq(1.0E-4, 2.0E-4)),
    Reading("q10_d", 12345.678, ok = true, load = 0.0, raws = Seq(12345.678, 12350.0)),
    Reading("q11_e", 1.005, ok = true, load = 2.0 / 3, raws = Seq(1.005, 1.5)))

  test("Bench artifacts: suspects, a subset and mv builds match the golden strings") {
    val (full, compact) = artifacts(rich,
      Seq(Suspect("q02_b", 2.675, 0.125), Suspect("q11_e", 1.005, 1.0 / 3)),
      0.1 * 35, Seq("mv_a" -> 1.25, "mv_b" -> 0.1 * 3), Seq("mv_c", "mv_d"),
      "/data/sf0.1", Set("q11_e", "q01_a", "q10_d", "q02_b", "q03_c"), 0.75)
    assert(full ==
      """{"metric":"total","value":12349.658099999999,"unit":"sec","runs_pe""" +
      """r_query":"2-4 adaptive + gc-debt 3rd run >2s + settle + load/basel""" +
      """ine(3x-or-excess) retry","mv_build_secs":3.5,"mv_builds":{"mv_a":1""" +
      """.25,"mv_b":0.30000000000000004},"mv_found":["mv_c","mv_d"],"subse""" +
      """t":["q01_a","q02_b","q03_c","q10_d","q11_e"],"queries":{"q01_a":0.""" +
      """30000000000000004,"q02_b":2.675,"q03_c":1.0E-4,"q10_d":12345.678""" +
      ""","q11_e":1.005},"queries_raw":{"q01_a":[0.30000000000000004,0.5]""" +
      ""","q02_b":[2.675,3.0,2.9],"q03_c":[1.0E-4,2.0E-4],"q10_d":[12345.67""" +
      """8,12350.0],"q11_e":[1.005,1.5]},"queries_loadavg":{"q01_a":1.25,"q""" +
      """02_b":3.0,"q03_c":0.5,"q10_d":0.0,"q11_e":0.6666666666666666},"fai""" +
      """led":["q03_c"],"suspect":[{"q":"q02_b","official":2.68,"self":0.13""" +
      """},{"q":"q11_e","official":1.01,"self":0.33}],"loadavg":{"min":0.0""" +
      ""","mean":1.0833333333333335,"max":3.0},"sf":"/data/sf0.1"}""")
    assert(compact ==
      """{"metric":"total","value":12349.658099999999,"unit":"sec","n_queri""" +
      """es":5,"mv_build_secs":3.5,"subset":["q01_a","q02_b","q03_c","q10_""" +
      """d","q11_e"],"failed":["q03_c"],"suspect_n":2,"suspect":[{"q":"q02_""" +
      """b","official":2.68,"self":0.13},{"q":"q11_e","official":1.01,"sel""" +
      """f":0.33}],"loadavg_max":3.0,"sf":"/data/sf0.1","q_order":"name_as""" +
      """c","q_sec":[0.30,2.68,0.00,12345.68,1.01],"detail":"bench_out.jso""" +
      """n"}""")
  }

  test("Bench artifacts: a clean full run and an empty subset run match the golden strings") {
    val (full, compact) = artifacts(rich.take(2), Nil, 0.0, Nil, Nil,
      "/data/warehouse/sf0.1", Set.empty, 0.75)
    assert(full ==
      """{"metric":"total","value":2.9749999999999996,"unit":"sec","runs_pe""" +
      """r_query":"2-4 adaptive + gc-debt 3rd run >2s + settle + load/basel""" +
      """ine(3x-or-excess) retry","mv_build_secs":0.0,"mv_builds":{},"mv_fo""" +
      """und":[],"queries":{"q01_a":0.30000000000000004,"q02_b":2.675},"que""" +
      """ries_raw":{"q01_a":[0.30000000000000004,0.5],"q02_b":[2.675,3.0,2.""" +
      """9]},"queries_loadavg":{"q01_a":1.25,"q02_b":3.0},"failed":[],"susp""" +
      """ect":[],"loadavg":{"min":1.25,"mean":2.125,"max":3.0},"sf":"/data/""" +
      """warehouse/sf0.1"}""")
    assert(compact ==
      """{"metric":"total","value":2.9749999999999996,"unit":"sec","n_queri""" +
      """es":2,"mv_build_secs":0.0,"failed":[],"suspect_n":0,"loadavg_max":""" +
      """3.0,"sf":"/data/warehouse/sf0.1","q_order":"name_asc","q_sec":[0.3""" +
      """0,2.68],"detail":"bench_out.json"}""")
    // no readings: the loadavg falls back to the idle reading
    val (fullE, compactE) = artifacts(Nil, Nil, 0.0, Nil, Nil, "/data/sf0.1",
      Set("q99_typo"), 0.75)
    assert(fullE ==
      """{"metric":"total","value":0.0,"unit":"sec","runs_per_query":"2-4 a""" +
      """daptive + gc-debt 3rd run >2s + settle + load/baseline(3x-or-exces""" +
      """s) retry","mv_build_secs":0.0,"mv_builds":{},"mv_found":[],"subse""" +
      """t":["q99_typo"],"queries":{},"queries_raw":{},"queries_loadavg":{}""" +
      ""","failed":[],"suspect":[],"loadavg":{"min":0.75,"mean":0.75,"max":""" +
      """0.75},"sf":"/data/sf0.1"}""")
    assert(compactE ==
      """{"metric":"total","value":0.0,"unit":"sec","n_queries":0,"mv_build""" +
      """_secs":0.0,"subset":["q99_typo"],"failed":[],"suspect_n":0,"loadav""" +
      """g_max":0.75,"sf":"/data/sf0.1","q_order":"name_asc","q_sec":[],"de""" +
      """tail":"bench_out.json"}""")
  }

  test("Bench artifacts: each rung of the 1800-byte compact ladder matches its golden digest") {
    // n readings, every 17th failed, the first k of them suspects
    def many(n: Int, k: Int) = {
      val rs = (1 to n).map(i => Reading(f"q$i%03d_x", i * 0.37, ok = i % 17 != 0,
        load = (i % 7) * 0.5, raws = Seq(i * 0.37, i * 0.41)))
      artifacts(rs, rs.take(k).map(r => Suspect(r.name, r.official, r.official / 4)),
        12.5, Seq("mv_a" -> 4.0), Seq("mv_b"), "/data/sf0.1", Set.empty, 0.75)
    }
    // (n, k) -> (full digest, compact digest, rung the compact line keeps)
    val cases = Seq(
      (40, 0, "5e851e792fc8d22d370dd32a1c9288b5166a49bdbdfba4c765bf04cb422cf014",
        "97257bef48bd4f297da296c668b6919c821c597dd10e6584dbffe8a2cf03bb86", "secs"),
      (40, 30, "8adf82d63bbade724d3d93c0cf6cdbbc5e614b1f7559639765c73cabf255156a",
        "e44f07902a279cea8dfcc5597a42febc40ec16b6aa0685f727c5fd726977c096", "suspects"),
      (40, 40, "902ba44517cc56f81aba758a7fc15455a250ae08fee616b124528af96a6b5a12",
        "802c13bb0df6d4dd6ff6d7e847781cabd879f8bdecd0ca1ec9cba56f8d625414", "secs"),
      (300, 5, "a2e61575939673ac6d2c0c4554ec8e5e02be54f3ad2cc3e4d8fe853f0f6b6326",
        "d81899cb61767159cb423b2e51c667baecdc39266c6a2e7d099854388efaac1c", "bare"))
    for ((n, k, fullSha, compactSha, rung) <- cases) {
      val (full, compact) = many(n, k)
      assert(sha256(full) == fullSha, s"full artifact drifted for n=$n k=$k")
      assert(sha256(compact) == compactSha, s"compact line drifted for n=$n k=$k")
      assert(compact.length <= 1800)
      assert(compact.contains("\"suspect\":[") == (rung == "suspects"))
      assert(compact.contains("\"q_sec\":") == (rung != "bare"))
    }
    // a failed list too long for any rung keeps the bare line anyway
    val allFail = (1 to 300).map(i => Reading(f"q$i%03d_x", 0.5, ok = false,
      load = 1.0, raws = Seq(0.5, 0.5)))
    val (full, compact) = artifacts(allFail, Nil, 0.0, Nil, Nil, "/data/sf0.1",
      Set.empty, 0.75)
    assert(sha256(full) == "356565557374602fa66447fa25b49ca97e8663c2fb899a2242121bb4cc2ceaf8")
    assert(sha256(compact) == "3888362a84cc8855985872680f3c2b2e17a55164219dc19b2845e16baf860e33")
    assert(compact.length > 1800 && !compact.contains("q_sec"))
  }

  test("Verify oracle_sql.json: quotes, backslashes and control characters round-trip") {
    val sql = Map(
      "q_quote" -> "SELECT 'a\"b' AS \"x\"",
      "q_backslash" -> "SELECT regexp_extract(s, '\\\\d+') FROM t",
      "q_ws" -> "SELECT 1\tAS a,\r\n  2 AS b\nFROM t",
      "q_ctl" -> "SELECT '\u0001' || chr(31)",
      "q_plain" -> "SELECT 1")
    val text = Verify.oracleJson(sql)
    assert(text.forall(_ >= ' '), "a raw control character breaks a strict json.load")
    import scala.jdk.CollectionConverters._
    val back = HarnessSession.json.readTree(text).properties.asScala
      .map(e => e.getKey -> e.getValue.asText).toMap
    assert(back == sql)
  }
}
