package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.QueryDef
import graft.sources.Tables
import graft.functions.{det, text}

/** Training-data-pipeline operators beyond the round-1 surface: a fully
  * oracle-able distributed cardinality sketch, deterministic dataset
  * splitting/sampling, document chunking, bigram association mining,
  * Zipf statistics, embedding-threshold near-dup, event funnels, and a
  * staged quality-filter accounting query.
  *
  * Everything is seed-free and RNG-free: where production pipelines use
  * random sampling/splitting, these use md5-derived hashes (the standard
  * trick for reproducible pipelines — the "random" bits are a pure
  * function of the record key, identical on any cluster size, any
  * partitioning, and any engine that can compute md5).
  */
object Pipeline {

  /** h(key) as a 60-bit non-negative int both engines compute
    * identically (see graft.functions.text.md5Hash60). */
  private def hkey(prefix: String, c: Column): Column =
    text.md5Hash60(concat(lit(prefix), c.cast("string")))

  private def hkeySql(prefix: String, x: String): String =
    text.md5Hash60Sql(s"'$prefix' || CAST($x AS VARCHAR)")

  // ---------------------------------------------------------------------
  // q56 — deterministic HyperLogLog, oracle-able end to end
  // ---------------------------------------------------------------------

  /** HLL with m=64 registers over md5-derived 60-bit hashes. Unlike
    * Spark's native approx_count_distinct (whose HLL++ register layout
    * no other engine reproduces — q37 is rows-only for that reason),
    * every step here is plain relational algebra both engines run
    * identically:
    *
    *   bucket = h % 64;  rho = 55 - bitlength(h div 64)  (55 if zero)
    *   register r = MAX(rho) per (group, bucket)
    *   S = Σ 2^(55-r) over all 64 buckets (empty bucket → 2^55),
    *       kept EXACT as a BIGINT via shiftleft — a float Σ2^-r would be
    *       summation-order-sensitive above 2^53 and break parity
    *   E = α₆₄·64²·2^55 / S, with the standard small-range linear
    *       counting correction E ≤ 2.5m ∧ V>0 → m·ln(m/V).
    *
    * This is the 100 TB cardinality path: registers are 64 longs per
    * group merged with MAX — the same partial/final shape as any agg —
    * while exact COUNT(DISTINCT) must shuffle every distinct value. The
    * exact count is emitted alongside to show the estimate's error. */
  private val q56 = QueryDef(
    "q56_hll_distinct_sketch",
    "deterministic 64-register HLL distinct-user estimate per event_type vs exact",
    Some(s"""
      WITH h AS (SELECT event_type,
                        ${text.md5Hash60Sql("CAST(user_id AS VARCHAR)")} AS h
                 FROM events),
      b AS (SELECT event_type, h % 64 AS bucket,
                   CASE WHEN h // 64 = 0 THEN 55
                        ELSE 55 - length(bin(h // 64)) END AS rho
            FROM h),
      reg AS (SELECT event_type, bucket, MAX(rho) AS r FROM b GROUP BY 1, 2),
      agg AS (SELECT event_type,
                     CAST(SUM(1::BIGINT << (55 - r)) AS BIGINT) AS s_present,
                     COUNT(*) AS n_present
              FROM reg GROUP BY 1),
      est AS (SELECT event_type,
                     CAST(s_present + (64 - n_present) * (1::BIGINT << 55) AS DOUBLE) AS s,
                     64 - n_present AS v
              FROM agg),
      fin AS (SELECT event_type,
                     0.7213 / (1.0 + 1.079 / 64.0) * 64.0 * 64.0 * 36028797018963968.0 / s AS e_raw,
                     v
              FROM est)
      SELECT f.event_type,
             CAST(x.n AS BIGINT) AS exact_distinct,
             ROUND(CASE WHEN f.e_raw <= 160.0 AND f.v > 0
                        THEN 64.0 * ln(64.0 / CAST(f.v AS DOUBLE))
                        ELSE f.e_raw END, 4) AS hll_estimate
      FROM fin f
      JOIN (SELECT event_type, COUNT(DISTINCT user_id) AS n
            FROM events GROUP BY 1) x USING (event_type)
      ORDER BY event_type"""),
    (s, dir) => {
      val ev = Tables.events(s, dir)
      val h = ev.select(col("event_type"),
        text.md5Hash60(col("user_id").cast("string")).as("h"))
      val b = h.select(col("event_type"), (col("h") % 64).as("bucket"),
        when(expr("h DIV 64") === 0, 55)
          .otherwise(lit(55) - length(bin(expr("h DIV 64")))).as("rho"))
      val reg = b.groupBy("event_type", "bucket").agg(max(col("rho")).as("r"))
      val agg = reg.groupBy("event_type").agg(
        sum(expr("shiftleft(CAST(1 AS BIGINT), CAST(55 - r AS INT))")).as("s_present"),
        count(lit(1)).as("n_present"))
      val est = agg.select(col("event_type"),
        (col("s_present") + (lit(64) - col("n_present")) * lit(1L << 55))
          .cast("double").as("s"),
        (lit(64) - col("n_present")).as("v"))
      val fin = est.select(col("event_type"),
        (lit(0.7213) / (lit(1.0) + lit(1.079) / lit(64.0)) * lit(64.0) * lit(64.0)
          * lit(36028797018963968.0) / col("s")).as("e_raw"),
        col("v"))
      val exact = ev.groupBy("event_type")
        .agg(count_distinct(col("user_id")).cast("long").as("exact_distinct"))
      fin.join(exact, "event_type")
        .select(col("event_type"), col("exact_distinct"),
          round(when(col("e_raw") <= 160.0 && col("v") > 0,
              lit(64.0) * log(lit(64.0) / col("v").cast("double")))
            .otherwise(col("e_raw")), 4).as("hll_estimate"))
        .orderBy("event_type")
    })

  // ---------------------------------------------------------------------
  // q57 — deterministic train/val/test split
  // ---------------------------------------------------------------------

  /** Reproducible 80/10/10 split: the split of a document is a pure
    * function of its id, so re-running the pipeline on any cluster (or
    * adding new docs) never reshuffles existing assignments — the
    * property that matters when checkpointed training shards must stay
    * stable. No shuffle is needed to ASSIGN (pure map); the count here
    * is the audit query. */
  private val q57 = QueryDef(
    "q57_hash_split_train_val_test",
    "deterministic hash-based 80/10/10 train/val/test split audit per lang",
    Some(s"""
      SELECT lang, split, COUNT(*) AS n_docs,
             ${det.davgSql("n_chars")} AS avg_chars
      FROM (SELECT lang, n_chars,
                   CASE WHEN ${hkeySql("split:", "doc_id")} % 100 < 80 THEN 'train'
                        WHEN ${hkeySql("split:", "doc_id")} % 100 < 90 THEN 'val'
                        ELSE 'test' END AS split
            FROM documents)
      GROUP BY lang, split
      ORDER BY lang, split"""),
    (s, dir) => {
      val bucket = hkey("split:", col("doc_id")) % 100
      Tables.documents(s, dir)
        .select(col("lang"), col("n_chars"),
          when(bucket < 80, "train").when(bucket < 90, "val")
            .otherwise("test").as("split"))
        .groupBy("lang", "split")
        .agg(count(lit(1)).as("n_docs"), det.davg(col("n_chars")).as("avg_chars"))
        .orderBy("lang", "split")
    })

  // ---------------------------------------------------------------------
  // q58 — fixed-size token chunking with overlap
  // ---------------------------------------------------------------------

  /** Context-window chunking: 32-token chunks, stride 24 (8-token
    * overlap), the standard prep step before tokenize-and-pack. Chunk
    * generation is a per-row explode — embarrassingly parallel, no
    * shuffle until the audit aggregation. Integer-only arithmetic, so
    * parity is exact. */
  private val q58 = QueryDef(
    "q58_doc_chunking",
    "chunk docs into 32-token windows with stride 24; per-lang audit",
    Some("""
      WITH c AS (
        SELECT lang, doc_id, n,
               unnest(generate_series(0, n - 1, 24)) AS s
        FROM (SELECT lang, doc_id, len(string_split(text, ' ')) AS n
              FROM documents))
      SELECT lang,
             CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
             COUNT(*) AS n_chunks,
             CAST(SUM(least(s + 32, n) - s) AS BIGINT) AS sum_chunk_tokens,
             ROUND(CAST(COUNT(*) AS DOUBLE) / CAST(COUNT(DISTINCT doc_id) AS DOUBLE), 4)
               AS avg_chunks_per_doc
      FROM c
      GROUP BY lang
      ORDER BY lang"""),
    (s, dir) =>
      Tables.documents(s, dir)
        .select(col("lang"), col("doc_id"), size(split(col("text"), " ")).as("n"))
        .select(col("lang"), col("doc_id"), col("n"),
          explode(sequence(lit(0), col("n") - 1, lit(24))).as("s"))
        .groupBy("lang")
        .agg(
          count_distinct(col("doc_id")).cast("long").as("n_docs"),
          count(lit(1)).as("n_chunks"),
          sum(least(col("s") + 32, col("n")) - col("s")).cast("long").as("sum_chunk_tokens"),
          round(count(lit(1)).cast("double") /
            count_distinct(col("doc_id")).cast("double"), 4).as("avg_chunks_per_doc"))
        .orderBy("lang"))

  // ---------------------------------------------------------------------
  // q59 — bigram PMI (word association mining)
  // ---------------------------------------------------------------------

  /** Pointwise mutual information of adjacent word pairs:
    * PMI(a,b) = ln(p(ab) / (p(a)p(b))). All counts are exact integers
    * (< 2^53, so the double products below are exact on both engines);
    * only the final ln/division rounds. Two aggregations + two
    * broadcast-able count-table joins — at 100 TB the unigram table is
    * |vocab| rows (tiny) and the bigram table shuffles once. */
  private val q59 = QueryDef(
    "q59_bigram_pmi",
    "top-20 adjacent-word bigrams by PMI (min count 20)",
    Some("""
      WITH tok AS (SELECT string_split(text, ' ') AS t FROM documents),
      uni AS (SELECT unnest(t) AS w FROM tok),
      ca AS (SELECT w, COUNT(*) AS c FROM uni GROUP BY w),
      nu AS (SELECT COUNT(*) AS n FROM uni),
      bi AS (SELECT unnest(list_transform(generate_series(1, len(t) - 1),
                     i -> t[i] || ' ' || t[i+1])) AS bigram
             FROM tok WHERE len(t) >= 2),
      cab AS (SELECT bigram, COUNT(*) AS n_pairs FROM bi GROUP BY bigram
              HAVING COUNT(*) >= 20),
      nb AS (SELECT COUNT(*) AS n FROM bi)
      SELECT bigram, n_pairs,
             ROUND(ln((CAST(n_pairs AS DOUBLE) * CAST(nu.n AS DOUBLE) * CAST(nu.n AS DOUBLE))
                      / (CAST(nb.n AS DOUBLE) * CAST(a.c AS DOUBLE) * CAST(b.c AS DOUBLE))), 4)
               AS pmi
      FROM cab, nu, nb
      JOIN ca a ON a.w = string_split(bigram, ' ')[1]
      JOIN ca b ON b.w = string_split(bigram, ' ')[2]
      ORDER BY pmi DESC, bigram
      LIMIT 20"""),
    (s, dir) => {
      val docs = Tables.documents(s, dir)
      val t = split(col("text"), " ")
      val uni = docs.select(explode(t).as("w"))
      val ca = uni.groupBy("w").agg(count(lit(1)).as("c"))
      val nu = uni.agg(count(lit(1)).as("nu"))
      // token array materialized as an attribute first — an inline
      // split() would re-run per lambda element (see text.shingles)
      val tt = col("t")
      val bi = docs.select(t.as("t"))
        .select(explode(when(size(tt) >= 2,
          transform(sequence(lit(1), size(tt) - 1),
            i => struct(element_at(tt, i).as("w1"), element_at(tt, i + 1).as("w2"))))
          .otherwise(array().cast("array<struct<w1:string,w2:string>>"))).as("p"))
        .select(col("p.w1").as("w1"), col("p.w2").as("w2"))
      val cab = bi.groupBy("w1", "w2").agg(count(lit(1)).as("n_pairs"))
        .filter(col("n_pairs") >= 20)
      val nb = bi.agg(count(lit(1)).as("nb"))
      cab
        .join(broadcast(ca.select(col("w").as("w1"), col("c").as("c_a"))), Seq("w1"))
        .join(broadcast(ca.select(col("w").as("w2"), col("c").as("c_b"))), Seq("w2"))
        .crossJoin(broadcast(nu)).crossJoin(broadcast(nb))
        .select(
          concat(col("w1"), lit(" "), col("w2")).as("bigram"),
          col("n_pairs"),
          round(log((col("n_pairs").cast("double") * col("nu").cast("double") * col("nu").cast("double"))
            / (col("nb").cast("double") * col("c_a").cast("double") * col("c_b").cast("double"))), 4)
            .as("pmi"))
        .orderBy(col("pmi").desc, col("bigram"))
        .limit(20)
    })

  // ---------------------------------------------------------------------
  // q60 — embedding-cosine near-dup at a fixed threshold
  // ---------------------------------------------------------------------

  /** Threshold variant of embedding near-dup (q34 is the top-k variant):
    * all pairs with cosine ≥ 0.4 (unit-norm ⇒ dot product; the fixture
    * corpus tops out at ~0.6, so 0.4 yields a real pair set — 59 pairs
    * at sf0.01, 920 at sf0.1). Brute-force pair scan with the codegen
    * DotProduct; at 100 TB the pair space is LSH/IVF-bucketed first
    * (q32) and this exact filter runs per bucket. */
  private val q60 = QueryDef(
    "q60_embedding_neardup_pairs",
    "embedding pairs with cosine >= 0.4 (threshold near-dup)",
    Some("""
      SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
             ROUND(list_sum(list_transform(generate_series(1, len(a.embedding)),
               i -> a.embedding[i]::DOUBLE * b.embedding[i]::DOUBLE)), 4) AS cos_sim,
             CASE WHEN a.label = b.label THEN 1 ELSE 0 END AS same_label
      FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
      WHERE ROUND(list_sum(list_transform(generate_series(1, len(a.embedding)),
              i -> a.embedding[i]::DOUBLE * b.embedding[i]::DOUBLE)), 4) >= 0.4
      ORDER BY vec_a, vec_b"""),
    (s, dir) => {
      val e = Tables.embeddings(s, dir)
        .select(col("vec_id"), col("label"), col("embedding").cast("array<double>").as("v"))
      val a = e.select(col("vec_id").as("vec_a"), col("label").as("la"), col("v").as("va"))
      val b = e.select(col("vec_id").as("vec_b"), col("label").as("lb"), col("v").as("vb"))
      // The threshold goes INTO the join condition, cheap test first:
      // left as a post-join filter, Catalyst merges it in front of the
      // a<b test and the dot product runs for all N² ordered pairs
      // instead of the N²/2 canonical ones (measured 2× slower).
      a.join(b, col("vec_a") < col("vec_b") &&
          round(graft.functions.DotProduct.dot(col("va"), col("vb")), 4) >= 0.4)
        .select(col("vec_a"), col("vec_b"),
          round(graft.functions.DotProduct.dot(col("va"), col("vb")), 4).as("cos_sim"),
          when(col("la") === col("lb"), 1).otherwise(0).as("same_label"))
        .orderBy("vec_a", "vec_b")
    })

  // ---------------------------------------------------------------------
  // q61 — deterministic stratified sampling
  // ---------------------------------------------------------------------

  /** 10% per-stratum sample, again hash-derived: sampling is a pure
    * filter (no shuffle, no RNG state to coordinate across executors),
    * and the audit shows per-stratum achieved rates. TABLESAMPLE /
    * rand() would not be reproducible across engines or partitionings. */
  private val q61 = QueryDef(
    "q61_stratified_hash_sample",
    "deterministic 10% hash-sample per lang with achieved-rate audit",
    Some(s"""
      SELECT lang, COUNT(*) AS n_docs,
             CAST(SUM(CASE WHEN sampled THEN 1 ELSE 0 END) AS BIGINT) AS n_sampled,
             ROUND(CAST(SUM(CASE WHEN sampled THEN 1 ELSE 0 END) AS DOUBLE)
                   / CAST(COUNT(*) AS DOUBLE), 4) AS rate,
             CAST(SUM(CASE WHEN sampled THEN n_chars ELSE 0 END) AS BIGINT) AS sampled_chars
      FROM (SELECT lang, n_chars,
                   ${hkeySql("sample:", "doc_id")} % 10 = 0 AS sampled
            FROM documents)
      GROUP BY lang
      ORDER BY lang"""),
    (s, dir) =>
      Tables.documents(s, dir)
        .select(col("lang"), col("n_chars"),
          (hkey("sample:", col("doc_id")) % 10 === 0).as("sampled"))
        .groupBy("lang")
        .agg(
          count(lit(1)).as("n_docs"),
          sum(when(col("sampled"), 1).otherwise(0)).cast("long").as("n_sampled"),
          round(sum(when(col("sampled"), 1).otherwise(0)).cast("double")
            / count(lit(1)).cast("double"), 4).as("rate"),
          sum(when(col("sampled"), col("n_chars")).otherwise(0)).cast("long")
            .as("sampled_chars"))
        .orderBy("lang"))

  // ---------------------------------------------------------------------
  // q62 — Zipf rank/frequency statistics
  // ---------------------------------------------------------------------

  /** Word-frequency Zipf curve: rank words by corpus frequency and emit
    * freq·rank/N (constant ≈ C under Zipf's law). One explode + one
    * groupBy + a global rank over the |vocab|-row count table (tiny —
    * the window over it is driver-scale even at 100 TB corpora). */
  private val q62 = QueryDef(
    "q62_zipf_rank_frequency",
    "top-20 words by frequency with Zipf constant freq*rank/N",
    Some("""
      WITH uni AS (SELECT unnest(string_split(text, ' ')) AS w FROM documents),
      c AS (SELECT w, COUNT(*) AS freq FROM uni GROUP BY w),
      n AS (SELECT COUNT(*) AS n FROM uni),
      r AS (SELECT w, freq,
                   CAST(row_number() OVER (ORDER BY freq DESC, w) AS BIGINT) AS rank
            FROM c)
      SELECT rank, w AS word, freq,
             ROUND(CAST(freq AS DOUBLE) * CAST(rank AS DOUBLE) / CAST(n.n AS DOUBLE), 4)
               AS zipf_c
      FROM r, n
      WHERE rank <= 20
      ORDER BY rank"""),
    (s, dir) => {
      val uni = Tables.documents(s, dir).select(explode(split(col("text"), " ")).as("w"))
      val c = uni.groupBy("w").agg(count(lit(1)).as("freq"))
      val n = uni.agg(count(lit(1)).as("n"))
      c.withColumn("rank",
          row_number().over(Window.orderBy(col("freq").desc, col("w"))).cast("long"))
        .filter(col("rank") <= 20)
        .crossJoin(broadcast(n))
        .select(col("rank"), col("w").as("word"), col("freq"),
          round(col("freq").cast("double") * col("rank").cast("double")
            / col("n").cast("double"), 4).as("zipf_c"))
        .orderBy("rank")
    })

  // ---------------------------------------------------------------------
  // q63 — event-sequence conversion funnel
  // ---------------------------------------------------------------------

  /** view → click → purchase funnel: per-user min event times (one
    * groupBy over the fact table — conditional aggregation, no joins),
    * then ordered-sequence counts. Null min-times propagate correctly
    * through the > comparisons on both engines (NULL > x is NULL →
    * filtered). */
  private val q63 = QueryDef(
    "q63_conversion_funnel",
    "user funnel: any event -> view -> view<click -> view<click<purchase",
    Some("""
      WITH u AS (SELECT user_id,
               min(epoch_us(ts)) FILTER (event_type = 'view') AS vmin,
               min(epoch_us(ts)) FILTER (event_type = 'click') AS cmin,
               min(epoch_us(ts)) FILTER (event_type = 'purchase') AS pmin
             FROM events GROUP BY user_id)
      SELECT COUNT(*) AS n_users,
             CAST(SUM(CASE WHEN vmin IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_viewed,
             CAST(SUM(CASE WHEN cmin > vmin THEN 1 ELSE 0 END) AS BIGINT) AS n_clicked_after,
             CAST(SUM(CASE WHEN cmin > vmin AND pmin > cmin THEN 1 ELSE 0 END) AS BIGINT)
               AS n_purchased_after
      FROM u"""),
    (s, dir) => {
      val u = Tables.events(s, dir).groupBy("user_id").agg(
        min(when(col("event_type") === "view", col("ts_us"))).as("vmin"),
        min(when(col("event_type") === "click", col("ts_us"))).as("cmin"),
        min(when(col("event_type") === "purchase", col("ts_us"))).as("pmin"))
      u.agg(
        count(lit(1)).as("n_users"),
        sum(when(col("vmin").isNotNull, 1).otherwise(0)).cast("long").as("n_viewed"),
        sum(when(col("cmin") > col("vmin"), 1).otherwise(0)).cast("long")
          .as("n_clicked_after"),
        sum(when(col("cmin") > col("vmin") && col("pmin") > col("cmin"), 1).otherwise(0))
          .cast("long").as("n_purchased_after"))
    })

  // ---------------------------------------------------------------------
  // q64 — staged quality-filter accounting
  // ---------------------------------------------------------------------

  /** The funnel every corpus-cleaning pipeline reports: how many docs
    * survive each successive filter stage (length band → token band →
    * lexical diversity). Stages are conditional sums in ONE scan — not
    * one job per stage — which is how you'd audit a 100 TB cleaning run
    * without re-reading the corpus per stage. */
  private val q64 = QueryDef(
    "q64_quality_filter_funnel",
    "per-lang survivor counts through staged quality filters",
    Some("""
      WITH d AS (SELECT lang, n_chars, string_split(text, ' ') AS t FROM documents)
      SELECT lang, COUNT(*) AS n_docs,
             CAST(SUM(CASE WHEN n_chars BETWEEN 150 AND 450 THEN 1 ELSE 0 END) AS BIGINT)
               AS pass_len,
             CAST(SUM(CASE WHEN n_chars BETWEEN 150 AND 450
                            AND len(t) BETWEEN 20 AND 80 THEN 1 ELSE 0 END) AS BIGINT)
               AS pass_tokens,
             CAST(SUM(CASE WHEN n_chars BETWEEN 150 AND 450
                            AND len(t) BETWEEN 20 AND 80
                            AND ROUND(CAST(len(list_distinct(t)) AS DOUBLE)
                                      / CAST(len(t) AS DOUBLE), 4) >= 0.5
                           THEN 1 ELSE 0 END) AS BIGINT) AS pass_diversity
      FROM d
      GROUP BY lang
      ORDER BY lang"""),
    (s, dir) => {
      val t = split(col("text"), " ")
      val lenOk = col("n_chars").between(150, 450)
      val tokOk = lenOk && size(t).between(20, 80)
      val divOk = tokOk &&
        round(size(array_distinct(t)).cast("double") / size(t).cast("double"), 4) >= 0.5
      Tables.documents(s, dir)
        .groupBy("lang")
        .agg(
          count(lit(1)).as("n_docs"),
          sum(when(lenOk, 1).otherwise(0)).cast("long").as("pass_len"),
          sum(when(tokOk, 1).otherwise(0)).cast("long").as("pass_tokens"),
          sum(when(divOk, 1).otherwise(0)).cast("long").as("pass_diversity"))
        .orderBy("lang")
    })

  // ---------------------------------------------------------------------
  // q65 — hyperplane-LSH bucketed ANN
  // ---------------------------------------------------------------------

  /** Sign-random-projection hyperplanes, derived at query-BUILD time from
    * md5("hp:j:d") — so the "random" matrix is a deterministic constant
    * folded into both the Spark plan and the oracle SQL as literals.
    * Java's MD5 and DuckDB's md5() agree, but nothing at runtime hashes:
    * the ±1 components below are plain literals on both sides. */
  private val hyperplanes: Seq[Seq[Double]] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    def sign(j: Int, d: Int): Double = {
      val hex = md.digest(s"hp:$j:$d".getBytes("UTF-8"))
        .map(b => f"$b%02x").mkString
      if (BigInt(hex.substring(0, 15), 16) % 2 == 0) 1.0 else -1.0
    }
    (0 until 6).map(j => (0 until 64).map(d => sign(j, d)))
  }

  /** The hyperplane-LSH-pruned cosine ≥ 0.4 pair set — q83's row set as
    * a reusable building block (q125's agreement audit consumes it too):
    * 6-bit signatures, 1-bit multi-probe candidates through an EQUI-join
    * on the probe key, exact rounded dot ≥ 0.4 verified on candidates
    * only. Columns: vec_a, vec_b, cos_sim, la, lb. */
  private[operators] def lshNeardupPairs(s: SparkSession, dir: String): DataFrame = {
    val dot = graft.functions.DotProduct.dot _
    val e = Tables.embeddings(s, dir)
      .select(col("vec_id"), col("label"),
        col("embedding").cast("array<double>").as("v"))
    val bucket = hyperplanes.zipWithIndex.map { case (w, j) =>
      when(dot(col("v"), typedLit(w)) > 0.0, 1 << j).otherwise(0)
    }.reduce(_ + _)
    val b = e.withColumn("bucket", bucket)
    val probes = array(col("bucket") +:
      (0 until 6).map(j => col("bucket").bitwiseXOR(1 << j)): _*)
    val a = b.select(col("vec_id").as("vec_a"), col("label").as("la"),
      col("v").as("va"), explode(probes).as("probe"))
    a.join(b.select(col("vec_id").as("vec_b"), col("label").as("lb"),
        col("v").as("vb"), col("bucket").as("probe")), Seq("probe"))
      .filter(col("vec_a") < col("vec_b") &&
        round(dot(col("va"), col("vb")), 4) >= 0.4)
      .select(col("vec_a"), col("vec_b"),
        round(dot(col("va"), col("vb")), 4).as("cos_sim"),
        col("la"), col("lb"))
  }

  /** DuckDB CTE fragment reproducing [[lshNeardupPairs]]'s (vec_a,
    * vec_b) row set bit-for-bit, ending in a CTE named `ep`. */
  private[operators] def lshNeardupPairsCte: String = {
    val bucketExpr = (col: String) => hyperplanes.zipWithIndex.map { case (w, j) =>
      val lst = w.mkString("[", ", ", "]")
      s"(CASE WHEN list_sum(list_transform(generate_series(1, 64), i -> $col[i]::DOUBLE * ($lst)[i])) > 0.0 THEN ${1 << j} ELSE 0 END)"
    }.mkString(" + ")
    val flips = (0 until 6).map(j => s"xor(bucket, ${1 << j})").mkString(", ")
    s"""eb AS (SELECT vec_id, embedding, ${bucketExpr("embedding")} AS bucket
                 FROM embeddings),
      ea AS (SELECT vec_id, embedding, unnest([bucket, $flips]) AS probe
             FROM eb),
      ep AS (SELECT ea.vec_id AS vec_a, eb.vec_id AS vec_b
             FROM ea JOIN eb ON ea.probe = eb.bucket
                            AND ea.vec_id < eb.vec_id
             WHERE ROUND(list_sum(list_transform(generate_series(1, 64),
                     i -> ea.embedding[i]::DOUBLE * eb.embedding[i]::DOUBLE)), 4)
                   >= 0.4)"""
  }

  /** LSH-bucketed approximate nearest neighbors: 6 sign-projection bits
    * → 64 buckets; candidates = same-bucket vectors; exact rank inside
    * the bucket. This is the similarity-search scale path that is a
    * HASH, not a clustering (complementing q32's IVF): bucket assignment
    * is a pure per-row map (no training, no shuffle), so at 100 TB the
    * bucket becomes a partition key and each query probes one partition.
    * Same-signature ⇒ likely-similar; recall is tunable by bits and by
    * multi-probe. The sign bit compares the SAME left-to-right float sum
    * on both engines, so bucket ids match exactly. */
  private val q65 = QueryDef(
    "q65_ann_hyperplane_lsh",
    "hyperplane-LSH bucketed ANN: top-3 same-bucket neighbors for queries 0..9",
    Some {
      val bucketExpr = (col: String) => hyperplanes.zipWithIndex.map { case (w, j) =>
        val lst = w.mkString("[", ", ", "]")
        s"(CASE WHEN list_sum(list_transform(generate_series(1, 64), i -> $col[i]::DOUBLE * ($lst)[i])) > 0.0 THEN ${1 << j} ELSE 0 END)"
      }.mkString(" + ")
      s"""
      WITH b AS (SELECT vec_id, embedding, ${bucketExpr("embedding")} AS bucket
                 FROM embeddings)
      SELECT query_id, rn, neighbor_id, sim FROM (
        SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
               ROUND(list_sum(list_transform(generate_series(1, 64),
                 i -> q.embedding[i]::DOUBLE * e.embedding[i]::DOUBLE)), 4) AS sim,
               CAST(row_number() OVER (PARTITION BY q.vec_id
                    ORDER BY ROUND(list_sum(list_transform(generate_series(1, 64),
                      i -> q.embedding[i]::DOUBLE * e.embedding[i]::DOUBLE)), 4) DESC,
                      e.vec_id) AS BIGINT) AS rn
        FROM b q JOIN b e ON q.bucket = e.bucket AND q.vec_id != e.vec_id
        WHERE q.vec_id < 10)
      WHERE rn <= 3
      ORDER BY query_id, rn"""
    },
    (s, dir) => {
      val dot = graft.functions.DotProduct.dot _
      val e = Tables.embeddings(s, dir)
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      val bucket = hyperplanes.zipWithIndex.map { case (w, j) =>
        when(dot(col("v"), typedLit(w)) > 0.0, 1 << j).otherwise(0)
      }.reduce(_ + _)
      val b = e.withColumn("bucket", bucket)
      val q = b.filter(col("vec_id") < 10)
        .select(col("vec_id").as("query_id"), col("v").as("qv"), col("bucket"))
      val cand = q.join(b.select(col("vec_id").as("neighbor_id"), col("v"), col("bucket")),
          Seq("bucket"))
        .filter(col("query_id") =!= col("neighbor_id"))
        .select(col("query_id"), col("neighbor_id"),
          round(dot(col("qv"), col("v")), 4).as("sim"))
      cand
        .withColumn("rn", row_number().over(
          Window.partitionBy("query_id").orderBy(col("sim").desc, col("neighbor_id")))
          .cast("long"))
        .filter(col("rn") <= 3)
        .select("query_id", "rn", "neighbor_id", "sim")
        .orderBy("query_id", "rn")
    })

  // ---------------------------------------------------------------------
  // q66 — explicit GROUPING SETS
  // ---------------------------------------------------------------------

  /** Grouping sets beyond rollup/cube (q07/q39): the exact set list
    * ((status, priority), (status), ()) — one shuffle produces all three
    * granularities (Spark expands sets into a single Expand + aggregate,
    * not one job per set). */
  private val q66 = QueryDef(
    "q66_grouping_sets",
    "explicit grouping sets (status,priority) / (status) / () over orders",
    Some(s"""
      SELECT COALESCE(o_orderstatus, 'ALL') AS status,
             COALESCE(o_orderpriority, 'ALL') AS priority,
             COUNT(*) AS n_orders,
             ${det.dsumSql("o_totalprice")} AS sum_price
      FROM orders
      GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority), (o_orderstatus), ())
      ORDER BY status, priority"""),
    (s, dir) =>
      Tables.orders(s, dir)
        .groupingSets(
          Seq(Seq(col("o_orderstatus"), col("o_orderpriority")),
            Seq(col("o_orderstatus")), Seq()),
          col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n_orders"), det.dsum(col("o_totalprice")).as("sum_price"))
        .select(
          coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
          coalesce(col("o_orderpriority"), lit("ALL")).as("priority"),
          col("n_orders"), col("sum_price"))
        .orderBy("status", "priority"))

  // ---------------------------------------------------------------------
  // q69 — forward as-of join (q10 is the backward direction)
  // ---------------------------------------------------------------------

  /** Forward as-of: the FIRST view strictly after each signup per user
    * (activation tracking), on the NATIVE as-of operator
    * (graft.plans.AsOfJoinPlan — forward direction; q10 exercises
    * backward). One co-partitioned merge pass, no pair fan-out; the
    * unchanged oracle SQL (equi-join + rank-1 window) stays the
    * semantic spec the operator must hash-match. */
  private val q69 = QueryDef(
    "q69_asof_forward_view_after_signup",
    "forward as-of join: earliest view strictly after each signup per user",
    Some("""
      SELECT user_id, signup_id, view_id, v_us - s_us AS gap_us FROM (
        SELECT s.user_id, s.event_id AS signup_id, v.event_id AS view_id,
               epoch_us(s.ts) AS s_us, epoch_us(v.ts) AS v_us,
               row_number() OVER (PARTITION BY s.event_id
                 ORDER BY v.ts ASC NULLS LAST, v.event_id ASC NULLS LAST) AS rn
        FROM (SELECT * FROM events WHERE event_type = 'signup') s
        LEFT JOIN (SELECT * FROM events WHERE event_type = 'view') v
          ON v.user_id = s.user_id AND v.ts > s.ts)
      WHERE rn = 1
      ORDER BY user_id, signup_id"""),
    (s, dir) => {
      val e = Tables.events(s, dir)
        .select(col("event_id"), col("user_id"), col("event_type"),
          col("ts_us").as("us"))
      val sg = e.filter(col("event_type") === "signup")
        .select(col("event_id").as("signup_id"), col("user_id"),
          col("us").as("s_us"))
      val v = e.filter(col("event_type") === "view")
        .select(col("event_id").as("view_id"), col("user_id").as("v_uid"),
          col("us").as("v_us"))
      graft.plans.AsOfJoin
        .forward(sg, v, "user_id", "v_uid", "s_us", "v_us", "view_id")
        .select(col("user_id"), col("signup_id"), col("view_id"),
          (col("v_us") - col("s_us")).as("gap_us"))
        .orderBy("user_id", "signup_id")
    })

  // ---------------------------------------------------------------------
  // q70 — equi-depth histogram (q16 is the equi-width one)
  // ---------------------------------------------------------------------

  /** Equi-depth deciles of event value via ntile over a tie-broken total
    * order: every bucket holds (almost) the same row count and the
    * boundaries fall where the data is dense — the histogram an
    * optimizer actually wants. NOTE the unpartitioned window funnels all
    * rows through one task — exact ntile semantics require a global
    * order. At 100 TB you trade exactness: approx_percentile boundaries
    * (one pass, mergeable sketches) then bucket by range comparison;
    * this query is the exact small/medium-cardinality form. */
  private val q70 = QueryDef(
    "q70_equidepth_histogram",
    "equi-depth value deciles: count and value bounds per ntile(10) bucket",
    Some("""
      SELECT decile, COUNT(*) AS n,
             ROUND(MIN(value), 4) AS lo, ROUND(MAX(value), 4) AS hi
      FROM (SELECT CAST(ntile(10) OVER (ORDER BY value, event_id) AS BIGINT) AS decile,
                   value
            FROM events)
      GROUP BY decile
      ORDER BY decile"""),
    (s, dir) =>
      Tables.events(s, dir)
        .select(col("event_id"), col("value"))
        .withColumn("decile",
          ntile(10).over(Window.orderBy(col("value"), col("event_id"))).cast("long"))
        .groupBy("decile")
        .agg(count(lit(1)).as("n"),
          round(min(col("value")), 4).as("lo"),
          round(max(col("value")), 4).as("hi"))
        .orderBy("decile"))

  // ---------------------------------------------------------------------
  // q80 — equi-depth histogram, the 100 TB form (q70 is the exact form)
  // ---------------------------------------------------------------------

  /** Equi-depth deciles WITHOUT the global single-task window q70 needs:
    * decile boundaries come from an EXACT percentile over a deterministic
    * 20% hash-sample (md5-keyed, so the sample — and hence the result —
    * is identical on any cluster, any partitioning, and in DuckDB),
    * then every row is range-bucketed against the 9 broadcast
    * boundaries. Plan: one partial+final aggregate for the boundaries
    * (sample fits one agg buffer by construction — at 100 TB you dial
    * the rate so it still does), one broadcast, one hash aggregate; no
    * window anywhere (PlanSpec-asserted). Spark's `percentile` and
    * DuckDB's `quantile_cont` both linear-interpolate, and boundaries
    * are rounded to 4dp on both sides before bucketing. Bucket counts
    * are approximately n/10 (sampling error), unlike q70's exact
    * ntile — that's the accepted trade of the scale form. */
  private val q80 = QueryDef(
    "q80_equidepth_histogram_scale",
    "equi-depth deciles via sampled exact boundaries + range bucketing (no window)",
    Some(s"""
      WITH smp AS (SELECT value FROM events
                   WHERE ${hkeySql("edh:", "event_id")} % 5 = 0),
      b AS (SELECT list_transform(quantile_cont(value,
                     [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]),
                   x -> ROUND(x, 4)) AS bs
            FROM smp)
      SELECT bucket, COUNT(*) AS n,
             ROUND(MIN(value), 4) AS lo, ROUND(MAX(value), 4) AS hi
      FROM (SELECT CAST(1 + len(list_filter(b.bs, x -> e.value > x)) AS BIGINT)
                     AS bucket,
                   e.value
            FROM events e CROSS JOIN b)
      GROUP BY bucket
      ORDER BY bucket"""),
    (s, dir) => {
      val ev = Tables.events(s, dir).select(col("event_id"), col("value"))
      val bounds = ev
        .filter(hkey("edh:", col("event_id")) % 5 === 0)
        .agg(expr(
          "percentile(value, array(0.1D,0.2D,0.3D,0.4D,0.5D,0.6D,0.7D,0.8D,0.9D))")
          .as("bs"))
        .select(transform(col("bs"), b => round(b, 4)).as("bs"))
      ev.crossJoin(broadcast(bounds))
        .withColumn("bucket",
          (size(filter(col("bs"), b => col("value") > b)) + 1).cast("long"))
        .groupBy("bucket")
        .agg(count(lit(1)).as("n"),
          round(min(col("value")), 4).as("lo"),
          round(max(col("value")), 4).as("hi"))
        .orderBy("bucket")
    })

  // ---------------------------------------------------------------------
  // q71 — correlated subqueries (EXISTS / NOT EXISTS / scalar)
  // ---------------------------------------------------------------------

  /** The subquery surface q05/q06 express as explicit joins, written AS
    * subqueries: Catalyst decorrelates EXISTS into a left-semi join,
    * NOT EXISTS into a left-anti join, and the correlated scalar COUNT
    * into a left-outer aggregate join — one shuffle each, no per-row
    * re-execution (PlanSpec asserts the decorrelated shapes). Counts
    * are integers, so parity is exact. */
  private val q71 = QueryDef(
    "q71_correlated_subqueries",
    "EXISTS / NOT EXISTS / correlated scalar COUNT over customers",
    Some("""
      SELECT c_custkey, c_name,
             (SELECT COUNT(*) FROM orders o
              WHERE o.o_custkey = c.c_custkey) AS n_orders
      FROM customer c
      WHERE EXISTS (SELECT 1 FROM orders o
                    WHERE o.o_custkey = c.c_custkey
                      AND o.o_orderpriority = '1-URGENT')
        AND NOT EXISTS (SELECT 1 FROM events e
                        WHERE e.user_id = c.c_custkey
                          AND e.event_type = 'error')
      ORDER BY c_custkey"""),
    (s, dir) => {
      Tables.customer(s, dir).createOrReplaceTempView("g71_customer")
      Tables.orders(s, dir).createOrReplaceTempView("g71_orders")
      Tables.events(s, dir).createOrReplaceTempView("g71_events")
      try s.sql("""
        SELECT c_custkey, c_name,
               (SELECT COUNT(*) FROM g71_orders o
                WHERE o.o_custkey = c.c_custkey) AS n_orders
        FROM g71_customer c
        WHERE EXISTS (SELECT 1 FROM g71_orders o
                      WHERE o.o_custkey = c.c_custkey
                        AND o.o_orderpriority = '1-URGENT')
          AND NOT EXISTS (SELECT 1 FROM g71_events e
                          WHERE e.user_id = c.c_custkey
                            AND e.event_type = 'error')
        ORDER BY c_custkey""")
      finally {
        // s.sql analyzed the views eagerly above, so dropping them leaves
        // the returned plan self-contained
        Seq("g71_customer", "g71_orders", "g71_events")
          .foreach(s.catalog.dropTempView)
      }
    })

  // ---------------------------------------------------------------------
  // q72 — multi-probe hyperplane LSH (the recall dial on q65)
  // ---------------------------------------------------------------------

  /** Multi-probe ANN: each query probes its own bucket PLUS the 6
    * one-bit-flip neighbors — the standard recall/cost dial (7× the
    * candidates of q65's single probe without adding hash tables).
    * Probe buckets are distinct values, so a candidate matches at most
    * one probe and no pair dedup is needed. Same broadcast join shape:
    * the exploded query side (10×7 rows) broadcasts. */
  private val q72 = QueryDef(
    "q72_ann_multiprobe_lsh",
    "multi-probe hyperplane LSH: top-3 neighbors probing bucket + 1-bit flips",
    Some {
      val bucketExpr = (col: String) => hyperplanes.zipWithIndex.map { case (w, j) =>
        val lst = w.mkString("[", ", ", "]")
        s"(CASE WHEN list_sum(list_transform(generate_series(1, 64), i -> $col[i]::DOUBLE * ($lst)[i])) > 0.0 THEN ${1 << j} ELSE 0 END)"
      }.mkString(" + ")
      val flips = (0 until 6).map(j => s"xor(bucket, ${1 << j})").mkString(", ")
      s"""
      WITH b AS (SELECT vec_id, embedding, ${bucketExpr("embedding")} AS bucket
                 FROM embeddings),
      q AS (SELECT vec_id, embedding,
                   unnest([bucket, $flips]) AS probe
            FROM b WHERE vec_id < 10)
      SELECT query_id, rn, neighbor_id, sim FROM (
        SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
               ROUND(list_sum(list_transform(generate_series(1, 64),
                 i -> q.embedding[i]::DOUBLE * e.embedding[i]::DOUBLE)), 4) AS sim,
               CAST(row_number() OVER (PARTITION BY q.vec_id
                    ORDER BY ROUND(list_sum(list_transform(generate_series(1, 64),
                      i -> q.embedding[i]::DOUBLE * e.embedding[i]::DOUBLE)), 4) DESC,
                      e.vec_id) AS BIGINT) AS rn
        FROM q JOIN b e ON q.probe = e.bucket AND q.vec_id != e.vec_id)
      WHERE rn <= 3
      ORDER BY query_id, rn"""
    },
    (s, dir) => {
      val dot = graft.functions.DotProduct.dot _
      val e = Tables.embeddings(s, dir)
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      val bucket = hyperplanes.zipWithIndex.map { case (w, j) =>
        when(dot(col("v"), typedLit(w)) > 0.0, 1 << j).otherwise(0)
      }.reduce(_ + _)
      val b = e.withColumn("bucket", bucket)
      val probes = array(col("bucket") +:
        (0 until 6).map(j => col("bucket").bitwiseXOR(1 << j)): _*)
      val q = b.filter(col("vec_id") < 10)
        .select(col("vec_id").as("query_id"), col("v").as("qv"),
          explode(probes).as("probe"))
      val cand = broadcast(q)
        .join(b.select(col("vec_id").as("neighbor_id"), col("v"),
          col("bucket").as("probe")), Seq("probe"))
        .filter(col("query_id") =!= col("neighbor_id"))
        .select(col("query_id"), col("neighbor_id"),
          round(dot(col("qv"), col("v")), 4).as("sim"))
      cand
        .withColumn("rn", row_number().over(
          Window.partitionBy("query_id").orderBy(col("sim").desc, col("neighbor_id")))
          .cast("long"))
        .filter(col("rn") <= 3)
        .select("query_id", "rn", "neighbor_id", "sim")
        .orderBy("query_id", "rn")
    })

  // ---------------------------------------------------------------------
  // q103 — hard-negative mining (cross-label nearest neighbor via LSH)
  // ---------------------------------------------------------------------

  /** Contrastive-training data prep: for EVERY vector, the most similar
    * vector carrying a DIFFERENT label — the "hard negative" that makes
    * embedding/reranker training batches informative. Candidates come
    * from the q72 multi-probe hyperplane buckets (own bucket + 6 one-bit
    * flips), so mining is an EQUI-join on the bucket key, never an
    * all-pairs scan; probe values are distinct so a candidate pair
    * collides on exactly one probe and needs no dedup. Anchors with no
    * cross-label candidate in their probed buckets simply emit no row
    * (the recall dial is bits/probes, as in q72).
    *
    * Scale: unlike q65/q72 (10 broadcast queries), the anchor side here
    * is the FULL corpus × 7 probes — both sides shuffle-partition on the
    * bucket key (the join key IS the partition key at 100 TB), and the
    * top-1 window partitions per anchor. No global window, no driver
    * state, no nested loop. */
  private val q103 = QueryDef(
    "q103_hard_negative_mining",
    "per-anchor most-similar different-label vector via multi-probe LSH buckets",
    Some {
      val bucketExpr = (col: String) => hyperplanes.zipWithIndex.map { case (w, j) =>
        val lst = w.mkString("[", ", ", "]")
        s"(CASE WHEN list_sum(list_transform(generate_series(1, 64), i -> $col[i]::DOUBLE * ($lst)[i])) > 0.0 THEN ${1 << j} ELSE 0 END)"
      }.mkString(" + ")
      val flips = (0 until 6).map(j => s"xor(bucket, ${1 << j})").mkString(", ")
      s"""
      WITH b AS (SELECT vec_id, label, embedding,
                        ${bucketExpr("embedding")} AS bucket
                 FROM embeddings),
      a AS (SELECT vec_id, label, embedding,
                   unnest([bucket, $flips]) AS probe
            FROM b)
      SELECT anchor_id, anchor_label, negative_id, negative_label, sim FROM (
        SELECT a.vec_id AS anchor_id, a.label AS anchor_label,
               e.vec_id AS negative_id, e.label AS negative_label,
               ROUND(list_sum(list_transform(generate_series(1, 64),
                 i -> a.embedding[i]::DOUBLE * e.embedding[i]::DOUBLE)), 4) AS sim,
               row_number() OVER (PARTITION BY a.vec_id
                 ORDER BY ROUND(list_sum(list_transform(generate_series(1, 64),
                   i -> a.embedding[i]::DOUBLE * e.embedding[i]::DOUBLE)), 4) DESC,
                   e.vec_id) AS rn
        FROM a JOIN b e ON a.probe = e.bucket AND a.label != e.label)
      WHERE rn = 1
      ORDER BY anchor_id"""
    },
    (s, dir) => {
      val dot = graft.functions.DotProduct.dot _
      val e = Tables.embeddings(s, dir)
        .select(col("vec_id"), col("label"),
          col("embedding").cast("array<double>").as("v"))
      val bucket = hyperplanes.zipWithIndex.map { case (w, j) =>
        when(dot(col("v"), typedLit(w)) > 0.0, 1 << j).otherwise(0)
      }.reduce(_ + _)
      val b = e.withColumn("bucket", bucket)
      val probes = array(col("bucket") +:
        (0 until 6).map(j => col("bucket").bitwiseXOR(1 << j)): _*)
      val a = b.select(col("vec_id").as("anchor_id"),
        col("label").as("anchor_label"), col("v").as("av"),
        explode(probes).as("probe"))
      val cand = a
        .join(b.select(col("vec_id").as("negative_id"),
          col("label").as("negative_label"), col("v"),
          col("bucket").as("probe")), Seq("probe"))
        .filter(col("anchor_label") =!= col("negative_label"))
        .select(col("anchor_id"), col("anchor_label"),
          col("negative_id"), col("negative_label"),
          round(dot(col("av"), col("v")), 4).as("sim"))
      cand
        .withColumn("rn", row_number().over(
          Window.partitionBy("anchor_id")
            .orderBy(col("sim").desc, col("negative_id"))))
        .filter(col("rn") === 1)
        .select("anchor_id", "anchor_label", "negative_id", "negative_label", "sim")
        .orderBy("anchor_id")
    })

  // ---------------------------------------------------------------------
  // q105 — deterministic interleaved shuffle order (epoch data ordering)
  // ---------------------------------------------------------------------

  /** The training-epoch data order: every document gets a reproducible
    * global position that (a) shuffles within each source by hash and
    * (b) round-robin INTERLEAVES the sources (order key = (within-source
    * hash rank, source)), so consecutive training batches mix sources
    * instead of draining them one at a time. Reported per source: count,
    * first/last position, and mean normalized position (≈0.5 for every
    * source ⇔ well mixed; a source clustering late would drift high).
    *
    * The scale point: the global position is a CLOSED FORM, not a global
    * sort — a doc at within-source rank r in source s sits at
    * Σ_s' min(|s'|, r−1) + |{s' < s : |s'| ≥ r}| + 1, computed per row
    * against the BROADCAST source-size table (|sources| rows). The only
    * windows partition by source; no single-partition operator exists at
    * any scale (PlanSpec-asserted), which is what lets a 100 TB corpus
    * be epoch-shuffled without ever total-ordering it. */
  private val q105 = QueryDef(
    "q105_interleave_shuffle_order",
    "per-source stats of the deterministic interleaved epoch shuffle order",
    Some(s"""
      WITH h AS (SELECT doc_id, source,
                        ${graft.functions.text.md5Hash60Sql("'ilv:' || CAST(doc_id AS VARCHAR)")} AS hk
                 FROM documents),
      r AS (SELECT doc_id, source, CAST(row_number() OVER (
              PARTITION BY source ORDER BY hk, doc_id) AS BIGINT) AS rk
            FROM h),
      sz AS (SELECT source AS s2, CAST(COUNT(*) AS BIGINT) AS n2
             FROM documents GROUP BY 1),
      tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS t FROM documents),
      pos AS (SELECT r.doc_id, r.source,
                     CAST(SUM(LEAST(sz.n2, r.rk - 1))
                        + SUM(CASE WHEN sz.s2 < r.source AND sz.n2 >= r.rk
                                   THEN 1 ELSE 0 END) + 1 AS BIGINT) AS p
              FROM r CROSS JOIN sz GROUP BY 1, 2)
      SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
             MIN(p) AS min_pos, MAX(p) AS max_pos,
             ${graft.functions.det.davgSql("CAST(p AS DOUBLE) / t")} AS avg_pos_frac
      FROM pos CROSS JOIN tot GROUP BY 1 ORDER BY 1"""),
    (s, dir) => {
      import graft.functions.{det, text}
      val docs = Tables.documents(s, dir)
      val r = docs
        .select(col("doc_id"), col("source"),
          text.md5Hash60(concat(lit("ilv:"), col("doc_id").cast("string")))
            .as("hk"))
        .withColumn("rk", row_number().over(
          Window.partitionBy("source").orderBy("hk", "doc_id")).cast("long"))
      val sz = docs.groupBy(col("source").as("s2")).agg(count(lit(1)).as("n2"))
      val tot = docs.agg(count(lit(1)).as("t"))
      val pos = r.crossJoin(broadcast(sz))
        .groupBy("doc_id", "source")
        .agg((sum(least(col("n2"), col("rk") - 1))
          + sum(when(col("s2") < col("source") && col("n2") >= col("rk"), 1L)
            .otherwise(0L)) + 1).cast("long").as("p"))
      pos.crossJoin(broadcast(tot))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          min(col("p")).as("min_pos"), max(col("p")).as("max_pos"),
          det.davg(col("p").cast("double") / col("t")).as("avg_pos_frac"))
        .orderBy("source")
    })

  // ---------------------------------------------------------------------
  // q75 — per-source importance sampling (data mixing)
  // ---------------------------------------------------------------------

  /** Corpus mixing: each source gets a target sampling rate (the recipe
    * that rebalances a web-heavy crawl toward curated sources) and the
    * keep decision is the usual hash-of-key threshold — a pure per-row
    * predicate, so the mix is reproducible on any cluster and any
    * partitioning, and composable with the split (q57): a doc's split
    * and its mix-keep never disagree between runs. Audit: achieved vs
    * target rate per source. */
  private val q75 = QueryDef(
    "q75_importance_sampling_mix",
    "per-source hash sampling at mixed rates (permille recipe) with rate audit",
    Some(s"""
      SELECT source,
             CAST(rate_pm AS BIGINT) AS rate_pm,
             COUNT(*) AS n_docs,
             CAST(SUM(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
             ROUND(CAST(SUM(CASE WHEN kept THEN 1 ELSE 0 END) AS DOUBLE)
                   / CAST(COUNT(*) AS DOUBLE), 4) AS achieved_rate
      FROM (SELECT source,
                   CASE WHEN source IN ('src0','src1','src2','src3','src4') THEN 1000
                        WHEN source IN ('src5','src6','src7','src8','src9') THEN 500
                        ELSE 200 END AS rate_pm,
                   ${hkeySql("mix:", "doc_id")} % 1000 <
                     CASE WHEN source IN ('src0','src1','src2','src3','src4') THEN 1000
                          WHEN source IN ('src5','src6','src7','src8','src9') THEN 500
                          ELSE 200 END AS kept
            FROM documents)
      GROUP BY source, rate_pm
      ORDER BY source"""),
    (s, dir) => {
      val ratePm = when(col("source").isin("src0", "src1", "src2", "src3", "src4"), 1000)
        .when(col("source").isin("src5", "src6", "src7", "src8", "src9"), 500)
        .otherwise(200)
      Tables.documents(s, dir)
        .select(col("source"), ratePm.as("rate_pm"),
          (hkey("mix:", col("doc_id")) % 1000 < ratePm).as("kept"))
        .groupBy("source", "rate_pm")
        .agg(
          count(lit(1)).as("n_docs"),
          sum(when(col("kept"), 1).otherwise(0)).cast("long").as("n_kept"),
          round(sum(when(col("kept"), 1).otherwise(0)).cast("double")
            / count(lit(1)).cast("double"), 4).as("achieved_rate"))
        .select(col("source"), col("rate_pm").cast("long").as("rate_pm"),
          col("n_docs"), col("n_kept"), col("achieved_rate"))
        .orderBy("source")
    })

  // ---------------------------------------------------------------------
  // q76 — weekly retention cohorts
  // ---------------------------------------------------------------------

  /** Cohort retention: users grouped by first-active ISO week, counted
    * per week offset since — the activation/retention matrix every
    * product-analytics stack computes. Two aggregations + one join, all
    * hash-partitioned on user_id; week truncation is ISO-Monday in both
    * engines, offsets are exact integer day-diffs DIV 7. */
  private val q76 = QueryDef(
    "q76_retention_cohorts",
    "weekly cohort retention matrix: distinct users per (cohort week, offset)",
    Some("""
      WITH aw AS (SELECT DISTINCT user_id,
                         CAST(date_trunc('week', ts) AS DATE) AS week
                  FROM events),
      fw AS (SELECT user_id, MIN(week) AS cohort FROM aw GROUP BY user_id)
      SELECT f.cohort, CAST(datediff('day', f.cohort, a.week) // 7 AS BIGINT) AS week_offset,
             CAST(COUNT(DISTINCT a.user_id) AS BIGINT) AS n_users
      FROM aw a JOIN fw f USING (user_id)
      GROUP BY 1, 2
      ORDER BY 1, 2"""),
    (s, dir) => {
      val aw = Tables.events(s, dir)
        .select(col("user_id"),
          date_trunc("week", timestamp_micros(col("ts_us"))).cast("date").as("week"))
        .distinct()
      val fw = aw.groupBy("user_id").agg(min(col("week")).as("cohort"))
      aw.join(fw, Seq("user_id"))
        .groupBy(col("cohort"),
          expr("datediff(week, cohort) DIV 7").cast("long").as("week_offset"))
        .agg(count_distinct(col("user_id")).cast("long").as("n_users"))
        .orderBy("cohort", "week_offset")
    })

  // ---------------------------------------------------------------------
  // q78 — LSH-pruned embedding pair top-k (the scale form of q34)
  // ---------------------------------------------------------------------

  /** Embedding-cosine near-dup at scale: prune the O(n²) pair space with
    * the q65 hyperplane buckets BEFORE the exact ranking — candidates
    * are pairs whose 6-bit bucket signatures differ in at most 1 bit
    * (multi-probe via 1-bit flips on one side, so each qualifying pair
    * collides on exactly one probe and needs no dedup). The exact
    * rounded dot + TakeOrdered top-20 then runs on ~1/9 of the pairs
    * (64 buckets, 7 probes), through an EQUI-join — no nested-loop pair
    * scan anywhere in the plan (spec-asserted). The oracle replicates
    * the pruning bit-for-bit, so correctness is exact; RECALL vs the
    * unpruned q34 is the standard sign-LSH curve: P[bits agree] =
    * 1 - θ/π per bit. True near-dups (cosine → 1) survive with margin;
    * this fixture's closest pair is only cosine 0.60 (θ ≈ 53°, ~30%
    * flip probability per bit), so the overlap with q34's exact top-20
    * is partial BY THE FIXTURE'S GEOMETRY, not by a plan defect — on a
    * corpus with planted duplicates the same plan converges to q34.
    * At 100 TB: more bucket bits, bucket = partition key, probes =
    * partition-pruned scans — same plan shape as q72. */
  private val q78 = QueryDef(
    "q78_embedding_pair_topk_lsh",
    "top-20 most similar embedding pairs via hyperplane-LSH pruning + exact rank",
    Some {
      val bucketExpr = (col: String) => hyperplanes.zipWithIndex.map { case (w, j) =>
        val lst = w.mkString("[", ", ", "]")
        s"(CASE WHEN list_sum(list_transform(generate_series(1, 64), i -> $col[i]::DOUBLE * ($lst)[i])) > 0.0 THEN ${1 << j} ELSE 0 END)"
      }.mkString(" + ")
      val flips = (0 until 6).map(j => s"xor(bucket, ${1 << j})").mkString(", ")
      s"""
      WITH b AS (SELECT vec_id, embedding, ${bucketExpr("embedding")} AS bucket
                 FROM embeddings),
      a AS (SELECT vec_id, embedding, unnest([bucket, $flips]) AS probe FROM b)
      SELECT a.vec_id AS vec_a, e.vec_id AS vec_b,
             ROUND(list_sum(list_transform(generate_series(1, 64),
               i -> a.embedding[i]::DOUBLE * e.embedding[i]::DOUBLE)), 4) AS sim
      FROM a JOIN b e ON a.probe = e.bucket AND a.vec_id < e.vec_id
      ORDER BY sim DESC, vec_a, vec_b
      LIMIT 20"""
    },
    (s, dir) => {
      val dot = graft.functions.DotProduct.dot _
      val e = Tables.embeddings(s, dir)
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      val bucket = hyperplanes.zipWithIndex.map { case (w, j) =>
        when(dot(col("v"), typedLit(w)) > 0.0, 1 << j).otherwise(0)
      }.reduce(_ + _)
      val b = e.withColumn("bucket", bucket)
      val probes = array(col("bucket") +:
        (0 until 6).map(j => col("bucket").bitwiseXOR(1 << j)): _*)
      val a = b.select(col("vec_id").as("vec_a"), col("v").as("va"),
        explode(probes).as("probe"))
      a.join(b.select(col("vec_id").as("vec_b"), col("v").as("vb"),
          col("bucket").as("probe")), Seq("probe"))
        .filter(col("vec_a") < col("vec_b"))
        .select(col("vec_a"), col("vec_b"),
          round(dot(col("va"), col("vb")), 4).as("sim"))
        .orderBy(col("sim").desc, col("vec_a"), col("vec_b"))
        .limit(20)
    })

  // ---------------------------------------------------------------------
  // q83 — LSH-bucketed threshold near-dup (the scale form of q60)
  // ---------------------------------------------------------------------

  /** Threshold near-dup at scale: q60's `cosine >= 0.4` pair filter run
    * over q78's hyperplane-pruned candidate space instead of the O(n²)
    * pair scan. Candidates are pairs whose 6-bit signatures differ in at
    * most 1 bit (multi-probe via 1-bit flips on one side — each
    * qualifying pair collides on exactly one probe, so no dedup), joined
    * through an EQUI-join on the probe key; the exact rounded dot and
    * the threshold then touch ~1/9 of the pairs. The oracle replicates
    * the pruning bit-for-bit, so the row set is exactly reproducible;
    * RECALL vs the unpruned q60 is the sign-LSH curve (per-bit agree
    * prob 1 - θ/π). At the 0.4–0.6 cosines this fixture tops out at
    * (θ ≈ 53–66°) a 6-bit/1-flip prune keeps ~30-50% of true pairs —
    * a subset of q60 asserted by `PipelineSpec` ("q83 ... subset of
    * q60") with exact-dot value checks, by `PlanSpec` (no nested-loop
    * pair scan, no shuffle on the probe key), and by `DeterminismSpec`
    * (double-run identity); true near-dups (cosine→1)
    * survive with margin. At 100 TB: bucket = partition key, probes =
    * partition-pruned scans, and the threshold filter replaces q78's
    * global top-k so the output needs no final single-point ordering. */
  private val q83 = QueryDef(
    "q83_embedding_neardup_lsh",
    "cosine >= 0.4 near-dup pairs via hyperplane-LSH pruning (scale form of q60)",
    Some {
      val bucketExpr = (col: String) => hyperplanes.zipWithIndex.map { case (w, j) =>
        val lst = w.mkString("[", ", ", "]")
        s"(CASE WHEN list_sum(list_transform(generate_series(1, 64), i -> $col[i]::DOUBLE * ($lst)[i])) > 0.0 THEN ${1 << j} ELSE 0 END)"
      }.mkString(" + ")
      val flips = (0 until 6).map(j => s"xor(bucket, ${1 << j})").mkString(", ")
      s"""
      WITH b AS (SELECT vec_id, label, embedding, ${bucketExpr("embedding")} AS bucket
                 FROM embeddings),
      a AS (SELECT vec_id, label, embedding, unnest([bucket, $flips]) AS probe FROM b)
      SELECT a.vec_id AS vec_a, e.vec_id AS vec_b,
             ROUND(list_sum(list_transform(generate_series(1, 64),
               i -> a.embedding[i]::DOUBLE * e.embedding[i]::DOUBLE)), 4) AS cos_sim,
             CASE WHEN a.label = e.label THEN 1 ELSE 0 END AS same_label
      FROM a JOIN b e ON a.probe = e.bucket AND a.vec_id < e.vec_id
      WHERE ROUND(list_sum(list_transform(generate_series(1, 64),
              i -> a.embedding[i]::DOUBLE * e.embedding[i]::DOUBLE)), 4) >= 0.4
      ORDER BY vec_a, vec_b"""
    },
    (s, dir) =>
      lshNeardupPairs(s, dir)
        .select(col("vec_a"), col("vec_b"), col("cos_sim"),
          when(col("la") === col("lb"), 1).otherwise(0).as("same_label"))
        .orderBy("vec_a", "vec_b"))

  // ---------------------------------------------------------------------
  // q115 — user journey paths (ordered event-type prefixes)
  // ---------------------------------------------------------------------

  /** The journey-path report behind every funnel design review: each
    * user's first 5 events in event-time order collapsed to an ordered
    * `a>b>c` path string, then the top-20 paths by user count. The
    * rank ≤ 5 predicate pushes into WindowGroupLimit (plan-asserted
    * like q04), so at 100 TB each user group stops after 5 rows
    * instead of sorting its whole history; the per-user window
    * partitions by user_id — never a global sort — and the path
    * assembly is an array sort of ≤ 5-element structs, constant work
    * per user. Ordering is total (ts_us, event_id tiebreak), so the
    * path strings are deterministic; the final top-20 breaks count
    * ties on the path string. */
  private val q115 = QueryDef(
    "q115_user_journey_paths",
    "top-20 ordered first-5-event journey paths by user count",
    Some(s"""
      WITH r AS (SELECT user_id, event_type,
                        row_number() OVER (PARTITION BY user_id
                                           ORDER BY epoch_us(ts), event_id)
                          AS rn
                 FROM events QUALIFY rn <= 5),
      p AS (SELECT user_id, string_agg(event_type, '>' ORDER BY rn) AS path
            FROM r GROUP BY user_id)
      SELECT path, CAST(COUNT(*) AS BIGINT) AS n_users
      FROM p GROUP BY path ORDER BY n_users DESC, path LIMIT 20"""),
    (s, dir) => {
      val r = Tables.events(s, dir)
        .select(col("user_id"), col("event_type"), col("ts_us"), col("event_id"))
        .withColumn("rn", row_number().over(
          Window.partitionBy("user_id").orderBy(col("ts_us"), col("event_id"))))
        .filter(col("rn") <= 5)
      val p = r.groupBy("user_id")
        .agg(concat_ws(">",
          transform(array_sort(collect_list(struct(col("rn"), col("event_type")))),
            x => x.getField("event_type"))).as("path"))
      p.groupBy("path").agg(count(lit(1)).as("n_users"))
        .orderBy(col("n_users").desc, col("path")).limit(20)
    })

  // ---------------------------------------------------------------------
  // q116 — export shard plan (deterministic sharding off the epoch order)
  // ---------------------------------------------------------------------

  /** The export sharding planner: the corpus is cut into 8 training
    * shards by `shard = (pos − 1) mod 8` over q105's deterministic
    * interleaved epoch positions, and the plan reports per-shard
    * doc/token mass, source coverage, and the position range. Because
    * the positions are a permutation of 1..N, mod-8 sharding balances
    * doc counts to within ONE document by construction (spec-asserted),
    * and because the positions interleave sources round-robin, every
    * shard sees every large-enough source — the two properties a
    * trainer wants from shards, obtained WITHOUT a global sort: the
    * position stays the q105 closed form against the broadcast
    * source-size table, so the plan's only windows partition by source
    * and the shard key is map-side arithmetic. At 100 TB this is the
    * manifest an export job writes before laying out shard files. */
  private val q116 = QueryDef(
    "q116_export_shard_plan",
    "8-way mod-shard plan over the interleaved epoch order: balance + coverage",
    Some(s"""
      WITH h AS (SELECT doc_id, source,
                        len(string_split(text, ' ')) AS n_tok,
                        ${graft.functions.text.md5Hash60Sql("'ilv:' || CAST(doc_id AS VARCHAR)")} AS hk
                 FROM documents),
      r AS (SELECT doc_id, source, n_tok, CAST(row_number() OVER (
              PARTITION BY source ORDER BY hk, doc_id) AS BIGINT) AS rk
            FROM h),
      sz AS (SELECT source AS s2, CAST(COUNT(*) AS BIGINT) AS n2
             FROM documents GROUP BY 1),
      pos AS (SELECT r.doc_id, r.source, r.n_tok,
                     CAST(SUM(LEAST(sz.n2, r.rk - 1))
                        + SUM(CASE WHEN sz.s2 < r.source AND sz.n2 >= r.rk
                                   THEN 1 ELSE 0 END) + 1 AS BIGINT) AS p
              FROM r CROSS JOIN sz GROUP BY 1, 2, 3)
      SELECT CAST((p - 1) % 8 AS BIGINT) AS shard,
             CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
             CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources,
             MIN(p) AS min_pos, MAX(p) AS max_pos
      FROM pos GROUP BY 1 ORDER BY 1"""),
    (s, dir) => {
      import graft.functions.text
      val docs = Tables.documents(s, dir)
      val r = docs
        .select(col("doc_id"), col("source"),
          size(split(col("text"), " ")).cast("long").as("n_tok"),
          text.md5Hash60(concat(lit("ilv:"), col("doc_id").cast("string")))
            .as("hk"))
        .withColumn("rk", row_number().over(
          Window.partitionBy("source").orderBy("hk", "doc_id")).cast("long"))
      val sz = docs.groupBy(col("source").as("s2")).agg(count(lit(1)).as("n2"))
      val pos = r.crossJoin(broadcast(sz))
        .groupBy("doc_id", "source", "n_tok")
        .agg((sum(least(col("n2"), col("rk") - 1))
          + sum(when(col("s2") < col("source") && col("n2") >= col("rk"), 1L)
            .otherwise(0L)) + 1).cast("long").as("p"))
      pos.groupBy(((col("p") - 1) % 8).cast("long").as("shard"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tok")).cast("long").as("n_tokens"),
          countDistinct(col("source")).cast("long").as("n_sources"),
          min(col("p")).as("min_pos"), max(col("p")).as("max_pos"))
        .orderBy("shard")
    })

  // ---------------------------------------------------------------------
  // q130 — ANN recall meter (multi-probe LSH vs exact ground truth)
  // ---------------------------------------------------------------------

  /** The quality meter behind every ANN deployment decision: q72's
    * multi-probe top-3 evaluated against the EXACT brute-force top-3
    * for the same bounded query slice — per query, the hit count and
    * recall@3. "Measure, don't guess" as an engine query: the ground
    * truth side is the bounded-query broadcast scan (the q31 shape,
    * |queries|·|corpus| dot products — exact and cheap because the
    * query slice is bounded by contract), the ANN side is q72's probe
    * equi-join, and the comparison is a (query, neighbor) pair join.
    * Queries the ANN misses entirely still appear (LEFT join from the
    * ground-truth query list, zero hits surfaced as 0 not dropped).
    * At 100 TB this is the per-corpus-version calibration that sets
    * the probe count before anyone trusts q72's buckets. */
  private val q130 = QueryDef(
    "q130_ann_recall_eval",
    "recall@3 of multi-probe LSH vs exact top-3 per query vector",
    Some {
      val bucketExpr = (col: String) => hyperplanes.zipWithIndex.map { case (w, j) =>
        val lst = w.mkString("[", ", ", "]")
        s"(CASE WHEN list_sum(list_transform(generate_series(1, 64), i -> $col[i]::DOUBLE * ($lst)[i])) > 0.0 THEN ${1 << j} ELSE 0 END)"
      }.mkString(" + ")
      val flips = (0 until 6).map(j => s"xor(bucket, ${1 << j})").mkString(", ")
      s"""
      WITH b AS (SELECT vec_id, embedding, ${bucketExpr("embedding")} AS bucket
                 FROM embeddings),
      q AS (SELECT vec_id, embedding,
                   unnest([bucket, $flips]) AS probe
            FROM b WHERE vec_id < 10),
      ann AS (SELECT query_id, neighbor_id FROM (
        SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
               CAST(row_number() OVER (PARTITION BY q.vec_id
                    ORDER BY ROUND(list_sum(list_transform(generate_series(1, 64),
                      i -> q.embedding[i]::DOUBLE * e.embedding[i]::DOUBLE)), 4) DESC,
                      e.vec_id) AS BIGINT) AS rn
        FROM q JOIN b e ON q.probe = e.bucket AND q.vec_id != e.vec_id)
        WHERE rn <= 3),
      gt AS (SELECT query_id, neighbor_id FROM (
        SELECT a.vec_id AS query_id, e.vec_id AS neighbor_id,
               CAST(row_number() OVER (PARTITION BY a.vec_id
                    ORDER BY ROUND(list_sum(list_transform(generate_series(1, 64),
                      i -> a.embedding[i]::DOUBLE * e.embedding[i]::DOUBLE)), 4) DESC,
                      e.vec_id) AS BIGINT) AS rn
        FROM embeddings a JOIN embeddings e ON a.vec_id != e.vec_id
        WHERE a.vec_id < 10)
        WHERE rn <= 3),
      hits AS (SELECT g.query_id, CAST(COUNT(a.neighbor_id) AS BIGINT) AS n_hits
               FROM gt g LEFT JOIN ann a
                 ON a.query_id = g.query_id AND a.neighbor_id = g.neighbor_id
               GROUP BY g.query_id)
      SELECT query_id, n_hits,
             ROUND(CAST(n_hits AS DOUBLE) / 3, 4) + 0.0 AS recall_at_3
      FROM hits ORDER BY query_id"""
    },
    (s, dir) => {
      val dot = graft.functions.DotProduct.dot _
      val e = Tables.embeddings(s, dir)
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      val bucket = hyperplanes.zipWithIndex.map { case (w, j) =>
        when(dot(col("v"), typedLit(w)) > 0.0, 1 << j).otherwise(0)
      }.reduce(_ + _)
      val b = e.withColumn("bucket", bucket)
      val probes = array(col("bucket") +:
        (0 until 6).map(j => col("bucket").bitwiseXOR(1 << j)): _*)
      val qs = b.filter(col("vec_id") < 10)
        .select(col("vec_id").as("query_id"), col("v").as("qv"),
          explode(probes).as("probe"))
      def top3(cand: DataFrame) = cand
        .withColumn("rn", row_number().over(
          Window.partitionBy("query_id")
            .orderBy(col("sim").desc, col("neighbor_id"))))
        .filter(col("rn") <= 3).select("query_id", "neighbor_id")
      val ann = top3(broadcast(qs)
        .join(b.select(col("vec_id").as("neighbor_id"), col("v"),
          col("bucket").as("probe")), Seq("probe"))
        .filter(col("query_id") =!= col("neighbor_id"))
        .select(col("query_id"), col("neighbor_id"),
          round(dot(col("qv"), col("v")), 4).as("sim")))
      val gt = top3(broadcast(e.filter(col("vec_id") < 10)
          .select(col("vec_id").as("query_id"), col("v").as("qv")))
        .crossJoin(e.select(col("vec_id").as("neighbor_id"), col("v")))
        .filter(col("query_id") =!= col("neighbor_id"))
        .select(col("query_id"), col("neighbor_id"),
          round(dot(col("qv"), col("v")), 4).as("sim")))
      val annR = ann.select(col("query_id").as("a_qid"),
        col("neighbor_id").as("hit_id"))
      gt.join(annR, col("query_id") === col("a_qid") &&
          col("neighbor_id") === col("hit_id"), "left")
        .groupBy("query_id")
        .agg(count(col("hit_id")).as("n_hits"))
        .select(col("query_id"), col("n_hits"),
          (round(col("n_hits").cast("double") / 3, 4) + 0.0).as("recall_at_3"))
        .orderBy("query_id")
    })

  def defs: Seq[QueryDef] =
    Seq(q56, q57, q58, q59, q60, q61, q62, q63, q64, q65, q66, q69, q70, q71,
      q72, q75, q76, q78, q80, q83, q103, q105, q115, q116, q130)
}
