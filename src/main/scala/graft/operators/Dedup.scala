package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.QueryDef
import graft.sources.Tables
import graft.functions.{det, text}

/** Deduplication operators for a training-data pipeline: exact dedup,
  * brute-force n-gram Jaccard, banded MinHash+LSH, and SimHash
  * (embedding-cosine near-dup lives in Similarity).
  *
  * Scale design (SURVEY.md §2.9): the brute-force shingle self-join is
  * quadratic in docs sharing a shingle — correct and oracle-able at test
  * scale, the yardstick for the others. MinHash+LSH is the 100 TB path:
  * signatures are a constant 128 ints per doc, the band self-join only
  * pairs docs colliding in a band bucket (sub-quadratic for real
  * corpora), and the exact-Jaccard verify touches candidates only. All
  * hashing is seed-fixed and RNG-free so results are deterministic —
  * spark.ml's MinHashLSH is deliberately avoided (SURVEY.md §2.9).
  */
object Dedup {

  /** Exact duplicate detection by content hash: groups of identical
    * texts (hash-groupBy — the canonical exact-dedup at any scale; md5
    * so the oracle can reproduce the key). Fixtures plant no exact dups,
    * so this asserts the "no duplicates" result deterministically:
    * output is every doc with its content hash and the group size. */
  private val q21 = QueryDef(
    "q21_exact_dedup_groups",
    "exact dedup: content-hash groups with sizes; canonical = min doc_id",
    Some("""
      SELECT h.doc_id, g.content_hash, g.group_size, g.canonical_doc_id,
             CASE WHEN h.doc_id = g.canonical_doc_id THEN 0 ELSE 1 END AS is_dup
      FROM (SELECT doc_id, md5(text) AS content_hash FROM documents) h
      JOIN (SELECT md5(text) AS content_hash, CAST(COUNT(*) AS BIGINT) AS group_size,
                   MIN(doc_id) AS canonical_doc_id
            FROM documents GROUP BY 1) g USING (content_hash)
      ORDER BY doc_id"""),
    (s, dir) => {
      val d = Tables.documents(s, dir).select(col("doc_id"), md5(col("text")).as("content_hash"))
      val g = d.groupBy("content_hash")
        .agg(count(lit(1)).as("group_size"), min(col("doc_id")).as("canonical_doc_id"))
      d.join(g, "content_hash")
        .select(col("doc_id"), col("content_hash"), col("group_size"), col("canonical_doc_id"),
          when(col("doc_id") === col("canonical_doc_id"), 0).otherwise(1).as("is_dup"))
        .orderBy("doc_id")
    })

  /** Shared tail: per-pair intersection counts -> exact-Jaccard-verified
    * near-dup pairs with the brute-force output schema. */
  private def jaccardFromInter(sh: DataFrame, inter: DataFrame): DataFrame = {
    val sz = sh.groupBy("doc_id").agg(count(lit(1)).as("sz"))
    inter
      .join(sz.select(col("doc_id").as("doc_a"), col("sz").as("sz_a")), Seq("doc_a"))
      .join(sz.select(col("doc_id").as("doc_b"), col("sz").as("sz_b")), Seq("doc_b"))
      .withColumn("jaccard",
        round(col("inter").cast("double") / (col("sz_a") + col("sz_b") - col("inter")), 4))
      .filter(col("jaccard") >= 0.5)
      .select("doc_a", "doc_b", "inter", "sz_a", "sz_b", "jaccard")
      .orderBy("doc_a", "doc_b")
  }

  /** The distinct 3-shingle set as a materialized view (built once per
    * dataset, parquet-backed — see [[graft.sources.MaterializedViews]]).
    * Oracle twin: [[graft.functions.text.shinglesCte]]. */
  private[graft] def shingleSet(s: SparkSession, dir: String): DataFrame =
    graft.sources.MaterializedViews.cached(s, dir, "shingles_w3") {
      text.shingles(Tables.documents(s, dir))
    }

  /** The rare-shingle relatedness pairs (docs sharing a shingle with
    * document frequency 2..3, canonical doc_a < doc_b) as a
    * materialized view — the weak-signal graph shared by q209 (link
    * prediction) and q250 (the recursive-CTE walk), so the df profile +
    * pair self-join is built once per dataset, not per query. Joining ONLY on rare shingles bounds the per-key fan-out at
    * C(3,2) by construction (the q209 skew discipline), so the build
    * is linear in vocabulary size. */
  private[graft] def rareShinglePairs(s: SparkSession, dir: String): DataFrame =
    graft.sources.MaterializedViews.cached(s, dir, "rare_pairs_df23") {
      rareShinglePairsOf(shingleSet(s, dir))
    }

  /** The rare-pair BUILD plan over an explicit shingle frame — split
    * out so PlanSpec can pin the df rarity gate in the build (the
    * consumer plans are parquet scans of the view). */
  private[graft] def rareShinglePairsOf(sh: DataFrame): DataFrame = {
    val rare = sh.join(
      sh.groupBy("shingle").agg(count(lit(1)).as("df"))
        .filter(col("df").between(2, 3)).select("shingle"),
      Seq("shingle"))
    rare.select(col("shingle"), col("doc_id").as("doc_a"))
      .join(rare.select(col("shingle"), col("doc_id").as("doc_b")),
        Seq("shingle"))
      .filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b").distinct()
  }

  /** The exact-Jaccard-verified near-dup pair set (J >= 0.5) as a
    * materialized view — the shared prefix of the kill-list, components
    * and PageRank queries, built once per dataset because in-session
    * caches are cleared between queries. Oracle twin:
    * [[graft.functions.text.verifiedPairsCte]]. */
  private[graft] def verifiedPairs(s: SparkSession, dir: String): DataFrame =
    graft.sources.MaterializedViews.cached(s, dir, "verified_pairs_j05") {
      val sh = shingleSet(s, dir)
      val inter = sh.select(col("doc_id").as("doc_a"), col("shingle"))
        .join(sh.select(col("doc_id").as("doc_b"), col("shingle")), Seq("shingle"))
        .filter(col("doc_a") < col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(count(lit(1)).as("inter"))
      jaccardFromInter(sh, inter).select("doc_a", "doc_b")
    }

  /** Intersection sizes for candidate pairs only: the shingle join is
    * restricted to the candidate set before any pair row is produced. */
  private def interForCandidates(sh: DataFrame, pairs: DataFrame): DataFrame =
    // Left UNfanned on purpose: measured, forcing the
    // |cand| × |shingles/doc| expansion to 32-way (composite-key
    // repartition) multiplied cumulative task-seconds ~5× for the SAME
    // wall — the expansion+count is memory-bandwidth-bound, and AQE's
    // few coalesced tasks already saturate it at fixture scale; at
    // corpus scale the shuffles upstream are large enough that AQE
    // keeps them wide on its own.
    // The shingle equality rides IN the join key (doc_b, shingle): a
    // doc_b-only join + post-filter materializes the per-pair CROSS
    // PRODUCT of the two shingle sets inside the codegen stage
    // (StageMetrics on q162: 17.3M intermediate rows for 351k
    // candidates, ~28 cumulative task-seconds charged to the downstream
    // aggregate) where the two-key hash lookup emits only the ~|shared
    // shingles| matches. Guide §3: the join condition, not a post-join
    // filter, is what bounds an exploding join.
    pairs
      .join(sh.select(col("doc_id").as("doc_a"), col("shingle")), Seq("doc_a"))
      .join(sh.select(col("doc_id").as("doc_b"), col("shingle")),
        Seq("doc_b", "shingle"))
      .groupBy("doc_a", "doc_b")
      .agg(count(lit(1)).as("inter"))

  private val jaccardOracle = s"""
      WITH ${text.shinglesCte},
      sz AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
      pairs AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter
        FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2)
      SELECT doc_a, doc_b, inter, sa.sz AS sz_a, sb.sz AS sz_b,
             ROUND(CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter), 4) AS jaccard
      FROM pairs
      JOIN sz sa ON sa.doc_id = doc_a
      JOIN sz sb ON sb.doc_id = doc_b
      WHERE ROUND(CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter), 4) >= 0.5
      ORDER BY doc_a, doc_b"""

  /** Brute-force 3-shingle Jaccard near-dup pairs (threshold 0.5 —
    * catches the fixtures' 28 planted pairs). Pairs are generated only
    * through shared shingles, so the join is bounded by shingle
    * co-occurrence, not |docs|². */
  private val q22 = QueryDef(
    "q22_neardup_jaccard",
    "exact 3-shingle Jaccard near-duplicate pairs (J >= 0.5)",
    Some(jaccardOracle),
    (s, dir) => {
      // Single pass: the shingle co-occurrence join feeds partial hash
      // aggregation directly (map-side combine on (doc_a, doc_b)), so
      // pair rows never hit a shuffle un-aggregated and the intersection
      // is counted exactly once.
      // The shingle set feeds 4 plan subtrees (pair join both sides +
      // two size lookups); it comes from the materialized view, so each
      // subtree is a cheap parquet scan — the corpus explosion happens
      // once per dataset, not 4x per query.
      val sh = shingleSet(s, dir)
      val inter = sh.select(col("doc_id").as("doc_a"), col("shingle"))
        .join(sh.select(col("doc_id").as("doc_b"), col("shingle")), Seq("shingle"))
        .filter(col("doc_a") < col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(count(lit(1)).as("inter"))
      jaccardFromInter(sh, inter)
    })

  /** MinHash + banded LSH near-dup: 42 seed-fixed affine permutations of
    * murmur3 shingle hashes, 14 bands × 3 rows. Band width r=3 is tuned
    * to this corpus: the 31-word vocabulary gives unrelated docs a J≈0.3
    * noise floor, and r=3 collides only 1-(1-0.027)^14 ≈ 32% of those
    * (r=2 would collide ~80%, exploding the candidate join), while every
    * measured true pair has J ≥ 0.8 → miss probability (1-0.512)^14 ≈
    * 4e-5. False positives are killed by the exact-Jaccard verify, so
    * the final output equals the brute-force q22 result — and shares its
    * oracle (equality spec-checked at sf0.001, oracle-checked at
    * sf0.01). */
  private val q23 = QueryDef(
    "q23_neardup_minhash_lsh",
    "MinHash(42)+LSH(14x3) candidates, exact-Jaccard verified (J >= 0.5)",
    Some(jaccardOracle),
    (s, dir) => {
      // ObjectHashAggregate fallback threshold is raised at the SESSION
      // level (all graft builders) rather than mutated here — the conf is
      // read at execution time, after this lazy fn returns, so a local
      // save/restore could not cover it; see Verify/Bench builders.
      // The shingle set feeds 4 plan subtrees (pair join both sides +
      // two size lookups); the materialized view makes each a cheap
      // parquet scan instead of 4 recomputed corpus explosions.
      val sh = shingleSet(s, dir)
      // |a|,|h32| < 2^31 so a*h+b stays within 2^63 — no overflow.
      val h32 = hash(col("shingle")).cast("long")
      // One MinHashSketch buffer per doc instead of 42 generated
      // aggregate expressions (identical values, far less codegen —
      // see graft.functions.MinHashSketch).
      val sigs = sh.withColumn("h", h32)
        .groupBy("doc_id")
        .agg(graft.functions.MinHashSketch.minhash(col("h"), 42).as("sig"))
      val bands = sigs.select(col("doc_id"),
        explode(transform(sequence(lit(0), lit(13)), j =>
          struct(j.as("band"),
            concat_ws("_",
              element_at(col("sig"), j * 3 + 1),
              element_at(col("sig"), j * 3 + 2),
              element_at(col("sig"), j * 3 + 3)).as("sig")))).as("b"))
        .select(col("doc_id"), col("b.band").as("band"), col("b.sig").as("sig"))
      val pairs = bands.select(col("doc_id").as("doc_a"), col("band"), col("sig"))
        .join(bands.select(col("doc_id").as("doc_b"), col("band"), col("sig")),
          Seq("band", "sig"))
        .filter(col("doc_a") < col("doc_b"))
        .select("doc_a", "doc_b").distinct()
      jaccardFromInter(sh, interForCandidates(sh, pairs))
    })

  /** SimHash near-dup: 60-bit signatures from md5-derived token hashes
    * (so the oracle reproduces them exactly), pairs at Hamming distance
    * <= 6. Signature build is one groupBy, materialized per dataset;
    * the pair search is PIGEONHOLE-BUCKETED, not the naive O(n²) scan:
    * split the 60 bits into 7 disjoint chunks — two signatures within
    * Hamming distance 6 differ in at most 6 chunks, so at least one
    * chunk matches EXACTLY. Candidates = pairs colliding on (chunk
    * index, chunk value); the exact Hamming check then touches only
    * candidates. Collisions on a 9-bit chunk are ~n²/2^9 per position —
    * sub-quadratic for any corpus whose signatures spread, and the
    * recall is exactly 100% (pigeonhole is a proof, not a heuristic),
    * so the result equals the brute-force scan row-for-row. */
  private val q24 = QueryDef(
    "q24_neardup_simhash",
    "SimHash(60-bit) near-dup pairs at Hamming distance <= 6",
    Some {
      val sums = (0 until 60).map(k =>
        s"SUM(CASE WHEN (h >> $k) & 1 = 1 THEN tf ELSE -tf END) AS s$k").mkString(", ")
      val bits = (0 until 60).map(k =>
        s"CASE WHEN s$k > 0 THEN (1::BIGINT << $k) ELSE 0::BIGINT END").mkString(" + ")
      s"""
      WITH tf AS (SELECT doc_id, word, COUNT(*) AS tf
                  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents)
                  GROUP BY 1, 2),
      wh AS (SELECT doc_id, tf, ${text.md5Hash60Sql("word")} AS h FROM tf),
      sums AS (SELECT doc_id, $sums FROM wh GROUP BY doc_id),
      sig AS (SELECT doc_id, $bits AS simhash FROM sums)
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
      FROM sig a JOIN sig b ON a.doc_id < b.doc_id
      WHERE bit_count(xor(a.simhash, b.simhash)) <= 6
      ORDER BY doc_a, doc_b"""
    },
    (s, dir) => {
      // The signature table feeds 3 plan subtrees (chunk explosion +
      // both verify sides); materialize it per dataset like the shingle
      // set so each is a tiny parquet scan.
      val sig = simhashSignatures(s, dir)
      // Pigeonhole candidates: 7 chunks of 9 bits (the 7th holds the top
      // 6) — shiftright leaves <= 9 bits for every k, so one &511 mask
      // serves all chunk positions. Signatures ride along through the
      // bucket join, so the Hamming check runs PIPELINED on candidate
      // rows (no candidate-set shuffle, no signature back-joins) and
      // only the tiny survivor set pays a distinct — a pair matching in
      // several chunks yields duplicate rows with identical hamming.
      val chunked = sig.select(col("doc_id"), col("simhash"),
        explode(sequence(lit(0), lit(6))).as("k"))
        .withColumn("chunk", expr("shiftright(simhash, k * 9) & 511"))
      chunked.select(col("doc_id").as("doc_a"), col("simhash").as("sig_a"),
          col("k"), col("chunk"))
        .join(chunked.select(col("doc_id").as("doc_b"), col("simhash").as("sig_b"),
          col("k"), col("chunk")), Seq("k", "chunk"))
        .filter(col("doc_a") < col("doc_b"))
        .withColumn("hamming",
          bit_count(col("sig_a").bitwiseXOR(col("sig_b"))).cast("long"))
        .filter(col("hamming") <= 6)
        .select("doc_a", "doc_b", "hamming").distinct()
        .orderBy("doc_a", "doc_b")
    })

  /** Near-dup dedup applied: the kill-list semantic used by production
    * pipelines (drop every doc that has a smaller-id near-duplicate;
    * keep the rest) — no connected components needed, one anti-join.
    * At 100 TB: pairs come from the LSH path (q23), the kill set is a
    * broadcast/bloom side, survivors stream through unshuffled. */
  private val q44 = QueryDef(
    "q44_neardup_survivors",
    "apply near-dup dedup: per-lang survivor/killed counts via kill-list",
    Some(s"""
      WITH ${text.shinglesCte},
      sz AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
      pairs AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter
        FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2),
      kill AS (
        SELECT DISTINCT doc_b AS doc_id
        FROM pairs JOIN sz sa ON sa.doc_id = doc_a JOIN sz sb ON sb.doc_id = doc_b
        WHERE ROUND(CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter), 4) >= 0.5)
      SELECT d.lang, COUNT(*) AS n_docs,
             CAST(SUM(CASE WHEN k.doc_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_survivors,
             CAST(SUM(CASE WHEN k.doc_id IS NULL THEN 0 ELSE 1 END) AS BIGINT) AS n_killed
      FROM documents d LEFT JOIN kill k USING (doc_id)
      GROUP BY d.lang
      ORDER BY d.lang"""),
    (s, dir) => {
      val docs = Tables.documents(s, dir)
      // Kill set = right side of every verified pair, straight off the
      // materialized pair view (no shingle recompute in this query).
      val kill = verifiedPairs(s, dir)
        .select(col("doc_b").as("kill_id")).distinct()
      docs.join(kill, col("doc_id") === col("kill_id"), "left")
        .groupBy("lang")
        .agg(
          count(lit(1)).as("n_docs"),
          sum(when(col("kill_id").isNull, 1).otherwise(0)).cast("long").as("n_survivors"),
          sum(when(col("kill_id").isNull, 0).otherwise(1)).cast("long").as("n_killed"))
        .orderBy("lang")
    })

  /** Per-document 60-bit SimHash signatures as a per-dataset MV —
    * feeds q24's three plan subtrees (chunk explosion + both verify
    * sides) and the bench MV warm pass. SimHashSketch (one 60-long
    * buffer) instead of 60 generated sum(case...) aggregates — same
    * JIT-bomb avoidance as q23. (ObjectHashAggregate fallback
    * threshold: session-level conf.) */
  private[graft] def simhashSignatures(s: SparkSession, dir: String): DataFrame =
    graft.sources.MaterializedViews.cached(s, dir, "simhash_sig60") {
      Tables.documents(s, dir)
        .select(col("doc_id"), explode(split(col("text"), " ")).as("word"))
        .groupBy("doc_id", "word").agg(count(lit(1)).as("tf"))
        .withColumn("h", text.md5Hash60(col("word")))
        .groupBy("doc_id")
        .agg(graft.functions.SimHashSketch.simhash(col("h"), col("tf"), 60).as("simhash"))
    }

  /** Connected components (node → component_id = min reachable doc_id)
    * of the verified near-dup graph, as a materialized view: the
    * iterative min-label propagation runs ONCE per dataset (each round
    * one join + one aggregate, converging in graph-diameter rounds —
    * near-dup clusters are shallow; capped at 20) and both q45 and the
    * canonical-representative compaction (q101) read the parquet. At
    * 100 TB this is the maintained cluster-assignment table a dedup
    * pipeline keeps next to the pair set, rebuilt per corpus version. */
  private[graft] def components(s: SparkSession, dir: String): DataFrame =
    graft.sources.MaterializedViews.cached(s, dir, "components_j05") {
      val pairs = verifiedPairs(s, dir)
      val edges = pairs.union(
        pairs.select(col("doc_b").as("doc_a"), col("doc_a").as("doc_b")))
      // Seed with the one-hop neighbor minimum (what the first loop
      // iteration would compute) — near-dup clusters are shallow, so
      // the seed is usually already the fixpoint. The propagation is
      // the shared min-relaxation skeleton ([[Graph.minRelax]],
      // inc = 0): one join + min-agg per round, one action per round
      // carrying the convergence flag (labels only ever decrease, so
      // changed = 0 means fixpoint), lineage truncated per iteration
      // so the plan stays constant-depth at any graph diameter and no
      // catalog persist survives the MV build.
      val seed = edges.groupBy(col("doc_a").as("node"))
        .agg(min(col("doc_b")).as("mb"))
        .select(col("node"), least(col("node"), col("mb")).as("v"))
      Graph.minRelax(seed, edges, 0L, 20)
        .select(col("node"), col("v").as("component_id"))
    }

  /** Connected components over the verified near-dup graph: the full
    * canonical-assignment semantic (transitive closure of near-dup
    * pairs; every doc in a dup cluster maps to the cluster's min
    * doc_id). Reads the [[components]] materialized view. Oracle:
    * DuckDB recursive CTE computing min reachable label. */
  private val q45 = QueryDef(
    "q45_neardup_components",
    "connected components of the near-dup pair graph (canonical per cluster)",
    Some(s"""
      WITH RECURSIVE ${text.verifiedPairsCte},
      edges AS (SELECT doc_a AS s, doc_b AS d FROM ver
                UNION ALL SELECT doc_b, doc_a FROM ver),
      nodes AS (SELECT DISTINCT s AS node FROM edges),
      reach(node, lbl) AS (
        SELECT node, node FROM nodes
        UNION
        SELECT e.d, r.lbl FROM reach r JOIN edges e ON e.s = r.node),
      comp AS (SELECT node, MIN(lbl) AS component_id FROM reach GROUP BY node)
      SELECT c.node AS doc_id, c.component_id,
             CAST(cs.n AS BIGINT) AS component_size
      FROM comp c
      JOIN (SELECT component_id, COUNT(*) AS n FROM comp GROUP BY 1) cs
        USING (component_id)
      ORDER BY doc_id"""),
    (s, dir) => {
      val comp = components(s, dir)
      val sizes = comp.groupBy(col("component_id"))
        .agg(count(lit(1)).as("component_size"))
      comp
        .join(sizes, Seq("component_id"))
        .select(col("node").as("doc_id"), col("component_id"),
          col("component_size"))
        .orderBy("doc_id")
    })

  // ---------------------------------------------------------------------
  // q90 — incremental dedup: new ingest batch vs the existing corpus
  // ---------------------------------------------------------------------

  /** Day-2 ingest dedup: a "new batch" (the deterministic 10% hash slice
    * of documents — standing in for today's crawl) is checked for
    * near-dups against the "existing corpus" (the other 90%) WITHOUT
    * ever pairing corpus docs with each other — candidates come from the
    * batch-shingles ⋈ corpus-shingles equi-join, so the work is
    * O(batch × shingle-co-occurrence), proportional to the INGEST, not
    * to corpus². That asymmetry is the whole point of incremental
    * processing at 100 TB: the corpus side is a maintained index (here
    * the shingle materialized view) and each day's cost scales with the
    * day's data. Intra-batch duplicates are the ordinary batch-dedup
    * problem (q22/q23) run on the batch alone — deliberately out of
    * scope here. Every batch doc is reported with its best corpus match
    * (ties broken by doc id), candidates floored at J ≥ 0.2, duplicate
    * verdict at the q22 threshold J ≥ 0.5; docs too short to shingle
    * surface with a NULL match and is_dup = 0. */
  private val q90 = QueryDef(
    "q90_incremental_batch_dedup",
    "incremental dedup: best corpus match + dup verdict for a 10% ingest batch",
    Some(s"""
      WITH ${text.shinglesCte},
      hk AS (SELECT doc_id,
                    ${text.md5Hash60Sql("'inc:' || CAST(doc_id AS VARCHAR)")}
                      % 10 AS m
             FROM documents),
      sz AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY 1),
      shb AS (SELECT s.doc_id, s.shingle FROM sh s JOIN hk USING (doc_id)
              WHERE hk.m = 0),
      shc AS (SELECT s.doc_id, s.shingle FROM sh s JOIN hk USING (doc_id)
              WHERE hk.m != 0),
      inter AS (SELECT b.doc_id AS doc_b, c.doc_id AS doc_c, COUNT(*) AS inter
                FROM shb b JOIN shc c USING (shingle) GROUP BY 1, 2),
      jac AS (SELECT doc_b, doc_c,
                     ROUND(CAST(inter AS DOUBLE) / (zb.sz + zc.sz - inter), 4) AS j
              FROM inter JOIN sz zb ON zb.doc_id = doc_b
                         JOIN sz zc ON zc.doc_id = doc_c),
      cand AS (SELECT * FROM jac WHERE j >= 0.2),
      best AS (SELECT doc_b, doc_c, j FROM cand
               QUALIFY row_number() OVER (PARTITION BY doc_b
                                          ORDER BY j DESC, doc_c) = 1)
      SELECT h.doc_id, b.doc_c AS best_match, b.j AS best_jaccard,
             CASE WHEN b.j >= 0.5 THEN 1 ELSE 0 END AS is_dup
      FROM hk h LEFT JOIN best b ON b.doc_b = h.doc_id
      WHERE h.m = 0
      ORDER BY h.doc_id"""),
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      def slice(c: Column): Column =
        text.md5Hash60(concat(lit("inc:"), c.cast("string"))) % 10
      val sh = shingleSet(s, dir)
      val sz = sh.groupBy("doc_id").agg(count(lit(1)).as("sz"))
      // the batch flag is derived map-side from the doc id — no join
      // against a fact-sized flag table on either shingle stream
      val shb = sh.filter(slice(col("doc_id")) === 0)
        .select(col("doc_id").as("doc_b"), col("shingle"))
      val shc = sh.filter(slice(col("doc_id")) =!= 0)
        .select(col("doc_id").as("doc_c"), col("shingle"))
      val inter = shb.join(shc, Seq("shingle"))
        .groupBy("doc_b", "doc_c").agg(count(lit(1)).as("inter"))
      val cand = inter
        .join(sz.select(col("doc_id").as("doc_b"), col("sz").as("sz_b")), Seq("doc_b"))
        .join(sz.select(col("doc_id").as("doc_c"), col("sz").as("sz_c")), Seq("doc_c"))
        .select(col("doc_b"), col("doc_c"),
          round(col("inter").cast("double")
            / (col("sz_b") + col("sz_c") - col("inter")), 4).as("j"))
        .filter(col("j") >= 0.2)
      val best = cand.withColumn("rn", row_number().over(
          Window.partitionBy("doc_b").orderBy(col("j").desc, col("doc_c"))))
        .filter(col("rn") === 1)
      Tables.documents(s, dir).select(col("doc_id"))
        .filter(slice(col("doc_id")) === 0)
        .join(best.select(col("doc_b").as("doc_id"), col("doc_c").as("best_match"),
          col("j").as("best_jaccard")), Seq("doc_id"), "left")
        .select(col("doc_id"), col("best_match"), col("best_jaccard"),
          when(col("best_jaccard") >= 0.5, 1).otherwise(0).as("is_dup"))
        .orderBy("doc_id")
    })

  // ---------------------------------------------------------------------
  // q96 — split-leakage audit: near-dup pairs crossing train/val/test
  // ---------------------------------------------------------------------

  /** Evaluation-leakage audit: every exact-Jaccard-verified near-dup
    * pair (J ≥ 0.5, the shared [[verifiedPairs]] view) is labeled with
    * the q57 hash split of each endpoint, and pairs whose endpoints land
    * in DIFFERENT splits are the leaks — a val/test document with a
    * training-set near-duplicate inflates eval scores, which is why
    * every serious pipeline runs dedup-aware splitting or this audit
    * after the fact. Output: per unordered split combination, the pair
    * count, the distinct documents involved on each side, and the leak
    * flag; within-split rows are the harmless baseline.
    *
    * Scale shape: the pair set is the maintained near-dup index (the
    * same MV the kill-list/components/PageRank queries share), the split
    * label is derived MAP-SIDE from the doc id hash — no membership
    * table, no extra shuffle beyond the two id equi-joins; output is
    * ≤ C(3,2)+3 rows. Counts are exact integers. */
  private val q96 = QueryDef(
    "q96_split_leakage_audit",
    "near-dup pairs crossing the q57 train/val/test split, per split pair",
    Some(s"""
      WITH ${text.verifiedPairsCte},
      sp AS (SELECT doc_id,
                    CASE WHEN ${text.md5Hash60Sql("'split:' || CAST(doc_id AS VARCHAR)")}
                              % 100 < 80 THEN 'train'
                         WHEN ${text.md5Hash60Sql("'split:' || CAST(doc_id AS VARCHAR)")}
                              % 100 < 90 THEN 'val'
                         ELSE 'test' END AS split
             FROM documents),
      lab AS (SELECT least(sa.split, sb.split) AS split_a,
                     greatest(sa.split, sb.split) AS split_b,
                     v.doc_a, v.doc_b
              FROM ver v JOIN sp sa ON sa.doc_id = v.doc_a
                         JOIN sp sb ON sb.doc_id = v.doc_b)
      SELECT split_a, split_b,
             CAST(COUNT(*) AS BIGINT) AS n_pairs,
             CAST(COUNT(DISTINCT doc_a) AS BIGINT) AS n_docs_a,
             CAST(COUNT(DISTINCT doc_b) AS BIGINT) AS n_docs_b,
             CASE WHEN split_a != split_b THEN 1 ELSE 0 END AS is_leak
      FROM lab GROUP BY 1, 2 ORDER BY 1, 2"""),
    (s, dir) => {
      def split(c: Column): Column = {
        val b = text.md5Hash60(concat(lit("split:"), c.cast("string"))) % 100
        when(b < 80, "train").when(b < 90, "val").otherwise("test")
      }
      val ver = verifiedPairs(s, dir)
      val lab = ver
        .withColumn("sa", split(col("doc_a")))
        .withColumn("sb", split(col("doc_b")))
        .select(least(col("sa"), col("sb")).as("split_a"),
          greatest(col("sa"), col("sb")).as("split_b"),
          col("doc_a"), col("doc_b"))
      lab.groupBy("split_a", "split_b")
        .agg(count(lit(1)).as("n_pairs"),
          countDistinct(col("doc_a")).as("n_docs_a"),
          countDistinct(col("doc_b")).as("n_docs_b"))
        .select(col("split_a"), col("split_b"), col("n_pairs"),
          col("n_docs_a"), col("n_docs_b"),
          when(col("split_a") =!= col("split_b"), 1).otherwise(0).as("is_leak"))
        .orderBy("split_a", "split_b")
    })

  // ---------------------------------------------------------------------
  // q101 — canonical-representative compaction (quality-aware dedup apply)
  // ---------------------------------------------------------------------

  /** Corpus compaction with quality-aware representative selection: in
    * each near-dup component, KEEP the longest document (n_chars desc,
    * doc_id asc tie-break) and remove the rest — unlike q44's kill-list
    * (which keeps the pairwise min-id side), this is the production
    * "keep the best copy per cluster" rule, and it needs the transitive
    * closure, not just pairs: a chain a~b~c must yield ONE survivor.
    * Per-source report of what compaction does to volume: doc counts
    * and the surviving token share.
    *
    * Scale: reads the [[components]] materialized view (the maintained
    * cluster-assignment table); the representative window partitions by
    * component_id — millions of tiny partitions, never a global window;
    * the removal set is cluster-membership-sized (tiny vs corpus) and
    * broadcast into the left join against documents. */
  private val q101 = QueryDef(
    "q101_canonical_compaction",
    "per-source doc/token survival after keep-longest-per-component dedup",
    Some(s"""
      WITH RECURSIVE ${text.verifiedPairsCte},
      edges AS (SELECT doc_a AS s, doc_b AS d FROM ver
                UNION ALL SELECT doc_b, doc_a FROM ver),
      nodes AS (SELECT DISTINCT s AS node FROM edges),
      reach(node, lbl) AS (
        SELECT node, node FROM nodes
        UNION
        SELECT e.d, r.lbl FROM reach r JOIN edges e ON e.s = r.node),
      comp AS (SELECT node, MIN(lbl) AS component_id FROM reach GROUP BY node),
      mem AS (SELECT c.node AS doc_id, c.component_id, d.n_chars
              FROM comp c JOIN documents d ON d.doc_id = c.node),
      rk AS (SELECT doc_id, ROW_NUMBER() OVER (
               PARTITION BY component_id
               ORDER BY n_chars DESC, doc_id) AS rn FROM mem),
      removed AS (SELECT doc_id FROM rk WHERE rn > 1),
      base AS (SELECT d.source, len(string_split(d.text, ' ')) AS n_tok,
                      CASE WHEN r.doc_id IS NOT NULL THEN 1 ELSE 0 END AS rm
               FROM documents d LEFT JOIN removed r USING (doc_id))
      SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(1 - rm) AS BIGINT) AS n_kept,
             CAST(SUM(rm) AS BIGINT) AS n_removed,
             CAST(SUM(CASE WHEN rm = 0 THEN n_tok ELSE 0 END) AS BIGINT)
               AS kept_tokens,
             ROUND(CAST(SUM(CASE WHEN rm = 0 THEN n_tok ELSE 0 END) AS DOUBLE)
                   / SUM(n_tok), 4) AS kept_token_frac
      FROM base GROUP BY 1 ORDER BY 1"""),
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val docs = Tables.documents(s, dir)
      val mem = components(s, dir)
        .join(docs.select(col("doc_id"), col("n_chars")),
          col("node") === col("doc_id"))
      val removed = mem
        .withColumn("rn", row_number().over(
          Window.partitionBy("component_id")
            .orderBy(col("n_chars").desc, col("doc_id"))))
        .filter(col("rn") > 1)
        .select(col("doc_id"), lit(1).as("rm_m"))
      docs
        .select(col("doc_id"), col("source"),
          size(split(col("text"), " ")).cast("long").as("n_tok"))
        .join(broadcast(removed), Seq("doc_id"), "left")
        .select(col("source"), col("n_tok"),
          coalesce(col("rm_m"), lit(0)).as("rm"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(lit(1) - col("rm")).cast("long").as("n_kept"),
          sum(col("rm")).cast("long").as("n_removed"),
          sum(when(col("rm") === 0, col("n_tok")).otherwise(0L)).as("kept_tokens"),
          round(sum(when(col("rm") === 0, col("n_tok")).otherwise(0L))
            .cast("double") / sum(col("n_tok")), 4).as("kept_token_frac"))
        .orderBy("source")
    })

  /** Sub-document duplication audit — the C4-style boilerplate detector
    * at SPAN granularity: each document is cut into non-overlapping
    * 32-token chunks (the tail remainder is dropped — a boilerplate
    * span shorter than a chunk is below the detector's resolution, and
    * the choice is symmetric on both engines), chunks are counted
    * ACROSS the corpus by exact text, and a chunk occurring ≥ 2 times
    * is a duplicated span. Per source: chunk volume, duplicated-chunk
    * volume, and the duplicated fraction — the signal that catches
    * shared headers/footers/templates that document-level dedup
    * (J ≥ 0.5) never sees because the surrounding text differs. One
    * explode + two hash aggregates; the global chunk-count join is
    * chunk-text-keyed (vocabulary-of-spans-sized) and map-side
    * combined — the q11 wordcount shape, one level up. */
  private val q129 = QueryDef(
    "q129_duplicated_span_audit",
    "per-source 32-token chunk duplication: volume, duplicated volume, fraction",
    Some("""
      WITH d AS (SELECT doc_id, source, string_split(text, ' ') AS t
                 FROM documents),
      ch AS (SELECT doc_id, source,
                    array_to_string(t[((i - 1) * 32 + 1):(i * 32)], ' ')
                      AS chunk
             FROM (SELECT doc_id, source, t,
                          unnest(generate_series(1, len(t) // 32)) AS i
                   FROM d WHERE len(t) >= 32)),
      cc AS (SELECT chunk, CAST(COUNT(*) AS BIGINT) AS n_occ
             FROM ch GROUP BY chunk)
      SELECT source,
             CAST(COUNT(*) AS BIGINT) AS n_chunks,
             CAST(SUM(CASE WHEN n_occ >= 2 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_dup_chunks,
             ROUND(CAST(SUM(CASE WHEN n_occ >= 2 THEN 1 ELSE 0 END) AS DOUBLE)
                   / COUNT(*), 4) + 0.0 AS dup_frac
      FROM ch JOIN cc USING (chunk)
      GROUP BY source ORDER BY source"""),
    (s, dir) => {
      val tt = col("t")
      val ch = Tables.documents(s, dir)
        .select(col("doc_id"), col("source"), split(col("text"), " ").as("t"))
        .filter(size(tt) >= 32)
        .select(col("doc_id"), col("source"),
          explode(transform(sequence(lit(1), floor(size(tt) / lit(32)).cast("int")),
            i => concat_ws(" ", slice(tt, (i - 1) * 32 + 1, lit(32))))).as("chunk"))
      val cc = ch.groupBy("chunk").agg(count(lit(1)).as("n_occ"))
      ch.join(cc, Seq("chunk"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_chunks"),
          sum(when(col("n_occ") >= 2, 1).otherwise(0)).cast("long")
            .as("n_dup_chunks"),
          (round(sum(when(col("n_occ") >= 2, 1).otherwise(0)).cast("double")
            / count(lit(1)), 4) + 0.0).as("dup_frac"))
        .orderBy("source")
    })

  // ---------------------------------------------------------------------
  // q157 — fuzzy re-link of a corrupted re-ingest batch (edit distance)
  // ---------------------------------------------------------------------

  /** Record linkage under corruption — the OCR/re-crawl scenario where a
    * re-ingested copy differs from its original by a few characters, so
    * exact and shingle dedup both miss it but EDIT DISTANCE catches it.
    * A deterministic 10% hash slice is re-ingested with two simulated
    * character drops in its 40-char prefix key (positions 10 and 26 —
    * substring surgery both engines express identically), then linked
    * back against the corpus: candidates come from a BLOCKED equi-join
    * on the key's first-6-char block (deletions land after position 6,
    * so the true match always shares the block — the standard
    * length/prefix blocking of record-linkage practice), and only
    * candidates pay the O(len²) levenshtein verify, with a ≤ 3 cutoff.
    * Reported per source: batch size, docs re-linked, docs whose own
    * original is among the matches, ambiguous docs (≥ 2 candidates),
    * and the mean best distance (exact-decimal mean over matched docs).
    * At 100 TB the block key is the unit of shuffle — candidates are
    * block-local, the verify never sees a cross-block pair, and block
    * skew is bounded by prefix entropy (a hot prefix widens the block
    * key, same plan). */
  private val q157 = QueryDef(
    "q157_fuzzy_ocr_relink",
    "blocked levenshtein re-link of a 2-char-corrupted 10% re-ingest batch",
    Some(s"""
      WITH k AS (SELECT doc_id, source, lower(substring(text, 1, 40)) AS key
                 FROM documents),
      b AS (SELECT doc_id, source,
                   substring(key, 1, 9) || substring(key, 11, 15) ||
                     substring(key, 27, 14) AS ckey,
                   substring(key, 1, 6) AS blk
            FROM k
            WHERE ${text.md5Hash60Sql("'ocr:' || CAST(doc_id AS VARCHAR)")}
                    % 10 = 0),
      c AS (SELECT doc_id, key, substring(key, 1, 6) AS blk FROM k),
      cand AS (SELECT b.doc_id AS bdoc, b.source, c.doc_id AS cdoc,
                      levenshtein(b.ckey, c.key) AS d
               FROM b JOIN c USING (blk)),
      hit AS (SELECT bdoc, MIN(d) AS best_d,
                     CAST(COUNT(*) AS BIGINT) AS n_cand,
                     MAX(CASE WHEN cdoc = bdoc THEN 1 ELSE 0 END) AS self_hit
              FROM cand WHERE d <= 3 GROUP BY 1)
      SELECT b.source,
             COUNT(*) AS n_batch,
             COUNT(h.bdoc) AS n_matched,
             CAST(COALESCE(SUM(h.self_hit), 0) AS BIGINT) AS n_self_recovered,
             COUNT(CASE WHEN h.n_cand >= 2 THEN 1 END) AS n_ambiguous,
             ${det.davgNNSql("h.best_d")} AS mean_best_dist
      FROM b LEFT JOIN hit h ON h.bdoc = b.doc_id
      GROUP BY b.source ORDER BY b.source"""),
    (s, dir) => {
      val k = Tables.documents(s, dir)
        .select(col("doc_id"), col("source"),
          lower(substring(col("text"), 1, 40)).as("key"))
      val batch = k
        .filter(text.md5Hash60(concat(lit("ocr:"), col("doc_id").cast("string")))
          % 10L === 0L)
        .select(col("doc_id"), col("source"),
          concat(substring(col("key"), 1, 9), substring(col("key"), 11, 15),
            substring(col("key"), 27, 14)).as("ckey"),
          substring(col("key"), 1, 6).as("blk"))
      val corpus = k.select(col("doc_id").as("cdoc"), col("key"),
        substring(col("key"), 1, 6).as("blk"))
      val hit = batch.join(corpus, "blk")
        .select(col("doc_id").as("bdoc"), col("cdoc"),
          levenshtein(col("ckey"), col("key")).as("d"))
        .filter(col("d") <= 3)
        .groupBy("bdoc")
        .agg(min(col("d")).as("best_d"), count(lit(1)).as("n_cand"),
          max(when(col("cdoc") === col("bdoc"), 1).otherwise(0)).as("self_hit"))
      batch.join(hit, col("doc_id") === col("bdoc"), "left")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_batch"),
          count(col("bdoc")).as("n_matched"),
          coalesce(sum(col("self_hit")), lit(0)).cast("long")
            .as("n_self_recovered"),
          count(when(col("n_cand") >= 2, 1)).as("n_ambiguous"),
          det.davgNN(col("best_d")).as("mean_best_dist"))
        .orderBy("source")
    })

  // ---------------------------------------------------------------------
  // q162 — asymmetric containment pairs (quotation / partial-copy)
  // ---------------------------------------------------------------------

  /** Containment c(A→B) = |A∩B| / |A| — the ASYMMETRIC cousin of
    * Jaccard that catches what symmetric near-dup misses: a short doc
    * quoted or embedded inside a much longer one scores near-zero
    * Jaccard (the union is dominated by B) but containment 1. Reported:
    * every ordered pair with c ≥ 0.8 where A is the smaller side
    * (equal-size ties keep doc_a < doc_b so each unordered pair appears
    * once) — the shortlist a boilerplate/quotation review queue works
    * from.
    *
    * Candidate generation is PREFIX-FILTERED (the AllPairs/PPJoin
    * discipline, Bayardo et al. WWW'07 / Xiao et al. ICDE'08), never
    * the raw shared-shingle self-join: c(A→B) ≥ 0.8 means A shares all
    * but ≤ ⌊sz_a/5⌋ of its shingles with B, so under ANY fixed global
    * shingle order at least one of A's first ⌊sz_a/5⌋+2 shingles is in
    * B (pigeonhole — a proof, not a heuristic; +2 absorbs the 4-dp
    * round-up slop for sz_a up to 20k). Only that probe prefix joins
    * the index, and the canonical order is ASCENDING global document
    * frequency (ties by shingle text), so the probe systematically
    * avoids hot keys: the stop-word shingle that would pair the whole
    * corpus in a raw self-join is ranked LAST within every doc and
    * never probed. Candidate volume is bounded by rare-shingle
    * co-occurrence × prefix length, the index side prunes on the
    * size/id dominance test inside the join, and the containment
    * verify — one grouped count + two size lookups — touches
    * candidates only. The oracle stays the unfiltered self-join, so
    * the DuckDB compare IS the exact-recall proof. The ratio is one
    * IEEE divide of exact counts, round4. */
  private val q162 = QueryDef(
    "q162_containment_pairs",
    "asymmetric shingle containment >= 0.8 via prefix-filtered candidates",
    Some(s"""
      WITH ${text.shinglesCte},
      sz AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY 1),
      p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter
            FROM sh a JOIN sh b ON a.shingle = b.shingle
                               AND a.doc_id != b.doc_id
            GROUP BY 1, 2),
      c AS (SELECT doc_a, doc_b, inter, sa.sz AS sz_a, sb.sz AS sz_b,
                   ROUND(CAST(inter AS DOUBLE) / sa.sz, 4) + 0.0 AS containment
            FROM p JOIN sz sa ON sa.doc_id = doc_a
                   JOIN sz sb ON sb.doc_id = doc_b)
      SELECT doc_a, doc_b, inter, sz_a, sz_b, containment
      FROM c
      WHERE containment >= 0.8
        AND (sz_a < sz_b OR (sz_a = sz_b AND doc_a < doc_b))
      ORDER BY doc_a, doc_b"""),
    (s, dir) => {
      val sh = shingleSet(s, dir)
      val sz = sh.groupBy("doc_id").agg(count(lit(1)).as("sz"))
      // global rarity order: ascending document frequency, shingle text
      // tie-break — a total order on shingles, identical for every doc
      val dfreq = sh.groupBy("shingle").agg(count(lit(1)).as("dfreq"))
      val ranked = sh.join(dfreq, Seq("shingle"))
        .join(sz, Seq("doc_id"))
        .withColumn("pfx_rank", row_number().over(
          org.apache.spark.sql.expressions.Window.partitionBy("doc_id")
            .orderBy(col("dfreq"), col("shingle"))))
      // probe = each doc's ⌊sz/5⌋+2 rarest shingles; index = all shingles
      val probe = ranked
        .filter(col("pfx_rank") <= expr("sz div 5") + lit(2))
        .select(col("doc_id").as("doc_a"), col("sz").as("sz_a"), col("shingle"))
      val index = sh.join(sz, Seq("doc_id"))
        .select(col("doc_id").as("doc_b"), col("sz").as("sz_b"), col("shingle"))
      // dominance prune inside the join: only pairs the output could
      // keep (A strictly smaller, or equal-size with doc_a < doc_b —
      // which also excludes self-pairs) ever materialize
      //
      // PPJoin-style prefix-OVERLAP filter (guide §3; Xiao et al.
      // ICDE'08 positional discipline adapted to containment): of A's
      // p = min(⌊sz_a/5⌋+2, sz_a) probed prefix shingles, a true pair
      // (round(inter/sz_a,4) ≥ 0.8 ⟺ misses m = sz_a − inter ≤
      // ⌊0.20005·sz_a⌋) can lack at most m from B, so it MUST collide
      // on ≥ p − ⌊0.20005·sz_a⌋ prefix shingles — a pigeonhole proof,
      // not a heuristic (integer arithmetic, no float boundary). The
      // bound is 1 at sz_a = 1, exactly 2 for 2 ≤ sz_a ≤ 4003 and
      // never above 2; past
      // that the two floors drift apart, so it dips to 1 (from 4004),
      // to 0 (from 24004), and is ≤ 0 for every sz_a ≥ 39996, where
      // the filter prunes nothing. Recall is exact in every regime —
      // a weaker bound only keeps more candidates. Without the filter,
      // StageMetrics showed 361,350 probe-collision rows for 350,932
      // distinct candidates — i.e. ~97% of candidates share exactly ONE
      // prefix shingle while the bound demands ≥ 2 in that 2..4003
      // range — and the verify expansion over those candidates (17.3M
      // rows, ~13.5 of the stage's 14.1 cumulative task-seconds) was
      // 99.997% waste for 512 result rows. The
      // distinct becomes the equivalent count aggregate (same shuffle)
      // and the match-count filter rides it. The oracle stays the
      // unfiltered self-join, so the DuckDB compare at 3 SFs remains
      // the exact-recall proof.
      val minMatch = least(expr("sz_a div 5") + lit(2), col("sz_a")) -
        expr("(sz_a * 20005) div 100000")
      val cand = probe.join(index, Seq("shingle"))
        .filter(col("sz_a") < col("sz_b") ||
          (col("sz_a") === col("sz_b") && col("doc_a") < col("doc_b")))
        .groupBy("doc_a", "doc_b", "sz_a")
        .agg(count(lit(1)).as("pfx_matches"))
        .filter(col("pfx_matches") >= minMatch)
        .select("doc_a", "doc_b")
      interForCandidates(sh, cand)
        .join(sz.select(col("doc_id").as("da"), col("sz").as("sz_a")),
          col("doc_a") === col("da"))
        .join(sz.select(col("doc_id").as("db"), col("sz").as("sz_b")),
          col("doc_b") === col("db"))
        .select(col("doc_a"), col("doc_b"), col("inter"), col("sz_a"),
          col("sz_b"),
          (round(col("inter").cast("double") / col("sz_a"), 4) + lit(0.0))
            .as("containment"))
        .filter(col("containment") >= 0.8)
        .orderBy("doc_a", "doc_b")
    })

  // ---------------------------------------------------------------------
  // q163 — boilerplate fraction per source (template-text audit)
  // ---------------------------------------------------------------------

  /** How much of each source is TEMPLATE text? A shingle is boilerplate
    * for a source when it appears in ≥ 20% of that source's docs (and
    * in ≥ 3 docs, so two-doc sources don't brand everything); each
    * doc's boilerplate fraction is the share of its distinct shingles
    * that are boilerplate in its source. The per-source readout — mean
    * fraction and heavily-templated doc count — is the signal that
    * drives boilerplate stripping before training (navigation chrome,
    * license headers, forum signatures). Plan: per-source shingle DF is
    * one grouped count over the shingle MV joined to the doc→source
    * map; the boilerplate set is source-domain × common-shingles
    * (small); docs join it back on (source, shingle) — equi-joins end
    * to end, map-side combinable, the same shapes at any corpus size.
    * Fractions are IEEE divides of exact counts, round4; the mean is
    * the exact-decimal davg. */
  private val q163 = QueryDef(
    "q163_boilerplate_fraction",
    "per source: mean boilerplate-shingle fraction and heavily-templated docs",
    Some(s"""
      WITH ${text.shinglesCte},
      ds AS (SELECT doc_id, source FROM documents),
      ss AS (SELECT s.doc_id, ds.source, s.shingle
             FROM sh s JOIN ds ON ds.doc_id = s.doc_id),
      nd AS (SELECT source, COUNT(DISTINCT doc_id) AS n_docs_sh
             FROM ss GROUP BY 1),
      df AS (SELECT source, shingle, COUNT(*) AS df FROM ss GROUP BY 1, 2),
      bp AS (SELECT df.source, df.shingle
             FROM df JOIN nd ON nd.source = df.source
             WHERE df.df >= 3 AND df.df * 5 >= nd.n_docs_sh),
      per AS (SELECT ss.doc_id, ss.source,
                     COUNT(*) AS sz,
                     COUNT(bp.shingle) AS n_bp
              FROM ss LEFT JOIN bp ON bp.source = ss.source
                                  AND bp.shingle = ss.shingle
              GROUP BY 1, 2),
      fr AS (SELECT source,
                    ROUND(CAST(n_bp AS DOUBLE) / sz, 4) + 0.0 AS frac
             FROM per)
      SELECT source,
             CAST(COUNT(*) AS BIGINT) AS n_docs,
             ${det.davgSql("frac")} AS mean_bp_frac,
             COUNT(CASE WHEN frac > 0.5 THEN 1 END) AS n_heavy
      FROM fr GROUP BY source ORDER BY source"""),
    (s, dir) => {
      val ds = Tables.documents(s, dir).select(col("doc_id"), col("source"))
      val ss = shingleSet(s, dir).join(ds, "doc_id")
      val nd = ss.groupBy(col("source").as("nsrc"))
        .agg(countDistinct(col("doc_id")).as("n_docs_sh"))
      val df = ss.groupBy("source", "shingle").agg(count(lit(1)).as("df"))
      val bp = df.join(broadcast(nd), col("source") === col("nsrc"))
        .filter(col("df") >= 3 && col("df") * 5 >= col("n_docs_sh"))
        .select(col("source").as("bsrc"), col("shingle").as("bsh"),
          lit(1).as("isbp"))
      val per = ss.join(bp,
          col("source") === col("bsrc") && col("shingle") === col("bsh"), "left")
        .groupBy("doc_id", "source")
        .agg(count(lit(1)).as("sz"), count(col("isbp")).as("n_bp"))
      per
        .select(col("source"),
          (round(col("n_bp").cast("double") / col("sz"), 4) + lit(0.0))
            .as("frac"))
        .groupBy("source")
        .agg(count(lit(1)).cast("long").as("n_docs"),
          det.davg(col("frac")).as("mean_bp_frac"),
          count(when(col("frac") > 0.5, 1)).as("n_heavy"))
        .orderBy("source")
    })

  /** LSH parameter planner (the S-curve analysis, Leskovec–Rajaraman–
    * Ullman, "Mining of Massive Datasets" §3.4 — public textbook
    * method): for every (rows r, bands b) factorization of q23's
    * 42-hash signature budget, the candidate probability
    * P(s) = 1 − (1 − s^r)^b at reference similarities, plus the
    * EXPECTED RECALL over this corpus's actual verified near-dup pairs
    * (the q22 exact-Jaccard pair set with its measured similarities) —
    * the table that justifies q23's chosen 14×3 split instead of
    * hand-waving it. All inputs are the 4-dp-rounded pair similarities
    * both engines already agree on, the S-curve is the same pow chain
    * on identical operands, and the per-(r,b) expectation rides the
    * decimal accumulator. Scale: the (r,b) grid is 8 rows; the pair
    * similarities come from the shared shingle MV pipeline (at 100 TB
    * a similarity SAMPLE feeds the same planner — the grid math does
    * not change). */
  private val q237 = QueryDef(
    "q237_lsh_parameter_planner",
    "LSH S-curve planner over (rows, bands) splits of the 42-hash budget with measured-pair expected recall",
    Some(s"""
      WITH ${text.shinglesCte},
      sz AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
      pairs AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter
        FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2),
      tp AS (SELECT ROUND(CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter), 4) AS j
             FROM pairs
             JOIN sz sa ON sa.doc_id = doc_a
             JOIN sz sb ON sb.doc_id = doc_b
             WHERE ROUND(CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter), 4)
                   >= 0.5),
      br(r, b) AS (VALUES (1, 42), (2, 21), (3, 14), (6, 7),
                          (7, 6), (14, 3), (21, 2), (42, 1)),
      curve AS (SELECT CAST(r AS BIGINT) AS r, CAST(b AS BIGINT) AS b,
                       (ROUND(1.0 - (1.0 - 0.1 ** r) ** b, 4) + 0.0) AS p_at_01,
                       (ROUND(1.0 - (1.0 - 0.3 ** r) ** b, 4) + 0.0) AS p_at_03,
                       (ROUND(1.0 - (1.0 - 0.5 ** r) ** b, 4) + 0.0) AS p_at_05,
                       (ROUND(1.0 - (1.0 - 0.8 ** r) ** b, 4) + 0.0) AS p_at_08
                FROM br),
      rec AS (SELECT c.r, CAST(COUNT(*) AS BIGINT) AS n_true_pairs,
                     ${det.davgSql("1.0 - (1.0 - tp.j ** c.r) ** c.b")}
                       AS exp_recall
              FROM curve c CROSS JOIN tp GROUP BY 1)
      SELECT c.r, c.b, c.p_at_01, c.p_at_03, c.p_at_05, c.p_at_08,
             rec.n_true_pairs, rec.exp_recall
      FROM curve c JOIN rec USING (r)
      ORDER BY c.r"""),
    (s, dir) => {
      import s.implicits._
      val sh = shingleSet(s, dir)
      // The measured pair set IS the verified-pair MV's content (J >= 0.5
      // exact-Jaccard pairs — the same pipeline, shared with q44/q45/q73);
      // only the similarities need recomputing, so the intersection is
      // CANDIDATE-RESTRICTED to the MV's pairs (the q23/q243 verify
      // discipline) instead of re-running the full shingle self-join —
      // measured, the unrestricted self-join + agg was ~70% of this
      // query for pairs the MV already names. jaccardFromInter's
      // >= 0.5 filter keeps the arithmetic identical (every MV pair
      // passes it by construction); the oracle still states the
      // unfiltered self-join, so the DuckDB compare proves the recall.
      val tp = jaccardFromInter(sh,
        interForCandidates(sh, verifiedPairs(s, dir)))
        .select(col("jaccard").as("j"))
      val br = Seq((1L, 42L), (2L, 21L), (3L, 14L), (6L, 7L),
        (7L, 6L), (14L, 3L), (21L, 2L), (42L, 1L)).toDF("r", "b")
      def sCurve(s0: Column): Column =
        lit(1.0) - pow(lit(1.0) - pow(s0, col("r")), col("b"))
      val curve = br.select(col("r"), col("b"),
        (round(sCurve(lit(0.1)), 4) + lit(0.0)).as("p_at_01"),
        (round(sCurve(lit(0.3)), 4) + lit(0.0)).as("p_at_03"),
        (round(sCurve(lit(0.5)), 4) + lit(0.0)).as("p_at_05"),
        (round(sCurve(lit(0.8)), 4) + lit(0.0)).as("p_at_08"))
      val rec = broadcast(br).crossJoin(tp)
        .groupBy("r")
        .agg(count(lit(1)).as("n_true_pairs"),
          det.davg(sCurve(col("j"))).as("exp_recall"))
      curve.join(broadcast(rec), Seq("r"))
        .select("r", "b", "p_at_01", "p_at_03", "p_at_05", "p_at_08",
          "n_true_pairs", "exp_recall")
        .orderBy("r")
    })

  // ---------------------------------------------------------------------
  // q238 — winnowing fingerprints (the MOSS selection scheme)
  // ---------------------------------------------------------------------

  /** Winnowing fingerprint matching (Schleimer, Wilkerson & Aiken,
    * SIGMOD 2003 — the MOSS algorithm, public paper): hash every
    * 4-token k-gram, slide a window of w=4 consecutive hashes, and keep
    * each window's MINIMUM hash as a fingerprint. The selected set is a
    * ~2/(w+1) sample of the k-gram stream with the paper's guarantee:
    * any shared token run of length ≥ w+k−1 = 7 yields at least one
    * SHARED fingerprint, so no medium-length overlap can slip between
    * samples (unlike mod-p sampling, which has unbounded gaps). Docs
    * are then paired on shared fingerprints — the MOSS report: shared
    * count, each side's fingerprint set size, and overlap vs the
    * smaller set.
    *
    * Scale shape: fingerprinting is per-document (one bounded window
    * over positions — no cross-doc state), the pair join is an
    * equi-join on the fingerprint VALUE (the LSH-bucket shape, never
    * all-pairs), and fingerprints occurring in > 20 documents are
    * dropped before pairing exactly as MOSS drops over-common
    * fingerprints — that cap is also the bucket-skew bound: a
    * boilerplate fingerprint shared by a million docs would otherwise
    * create a quadratic bucket. Ties inside a window select the same
    * VALUE on both engines by construction (min over hashes), so no
    * positional tie-break is needed — the fingerprint set is
    * position-free. */
  /** Winnowed fingerprint set (doc_id, f): min 4-gram hash per window of
    * w=4 consecutive positions, distinct values per doc. Shared with the
    * spec so the w+k−1 detection guarantee is testable directly — also
    * on GENERATED corpora (PropertySpec), hence the (doc_id, text)
    * DataFrame overload. */
  /** MV-backed per-dataset fingerprint set: the positional md5 explode
    * is the dominant cost and q238 consumes the set five times (sizes,
    * commonness filter, both self-join sides), so it computes once per
    * dataset like the shingle set. */
  private[graft] def winnowFingerprints(s: SparkSession, dir: String): DataFrame =
    graft.sources.MaterializedViews.cached(s, dir, "winnow_fp_k4w4") {
      winnowFingerprints(Tables.documents(s, dir))
    }

  /** Positional 6-gram md5 hashes as a per-dataset MV — the md5
    * explode is the dominant cost and the table feeds q239's
    * duplicated-hash aggregate and position join. */
  private[graft] def kgram6Pos(s: SparkSession, dir: String): DataFrame =
    graft.sources.MaterializedViews.cached(s, dir, "kgram6_pos") {
      text.posKgramHashes(Tables.documents(s, dir), 6)
    }

  private[graft] def winnowFingerprints(docs: DataFrame): DataFrame = {
    val g = text.posKgramHashes(docs, 4)
    val win = Window.partitionBy("doc_id").orderBy("i")
      .rowsBetween(Window.currentRow, 3)
    g.withColumn("m", count(lit(1)).over(Window.partitionBy("doc_id")))
      .withColumn("f", min(col("h")).over(win))
      .filter(col("i") <= greatest(col("m") - 3, lit(1)))
      .select("doc_id", "f").distinct()
  }

  private val q238 = QueryDef(
    "q238_winnowing_fingerprints",
    "MOSS winnowing (k=4, w=4): shared-fingerprint doc pairs with overlap vs smaller set",
    Some(s"""
      WITH tok AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
      g AS ${text.posKgramCteSql(4)},
      w AS (SELECT doc_id, i,
                   COUNT(*) OVER (PARTITION BY doc_id) AS m,
                   MIN(h) OVER (PARTITION BY doc_id ORDER BY i
                                ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS f
            FROM g),
      fp AS (SELECT DISTINCT doc_id, f FROM w WHERE i <= GREATEST(m - 3, 1)),
      fpc AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS fp_n FROM fp GROUP BY 1),
      df AS (SELECT f FROM fp GROUP BY f HAVING COUNT(DISTINCT doc_id) <= 20),
      rare AS (SELECT fp.doc_id, fp.f FROM fp JOIN df USING (f)),
      p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                   CAST(COUNT(*) AS BIGINT) AS shared_fp
            FROM rare a JOIN rare b ON a.f = b.f AND a.doc_id < b.doc_id
            GROUP BY 1, 2)
      SELECT doc_a, doc_b, shared_fp, ca.fp_n AS fp_a, cb.fp_n AS fp_b,
             (ROUND(CAST(shared_fp AS DOUBLE) / LEAST(ca.fp_n, cb.fp_n), 4)
               + 0.0) AS overlap
      FROM p JOIN fpc ca ON ca.doc_id = p.doc_a
             JOIN fpc cb ON cb.doc_id = p.doc_b
      WHERE shared_fp >= 3
      ORDER BY doc_a, doc_b"""),
    (s, dir) => {
      val fp = winnowFingerprints(s, dir)
      val fpc = fp.groupBy("doc_id").agg(count(lit(1)).as("fp_n"))
      val rareF = fp.groupBy("f")
        .agg(countDistinct(col("doc_id")).as("nd"))
        .filter(col("nd") <= 20).select("f")
      val rare = fp.join(rareF, Seq("f"))
      val p = rare.select(col("doc_id").as("doc_a"), col("f"))
        .join(rare.select(col("doc_id").as("doc_b"), col("f")), Seq("f"))
        .filter(col("doc_a") < col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(count(lit(1)).as("shared_fp"))
      p.join(fpc.select(col("doc_id").as("doc_a"), col("fp_n").as("fp_a")),
          Seq("doc_a"))
        .join(fpc.select(col("doc_id").as("doc_b"), col("fp_n").as("fp_b")),
          Seq("doc_b"))
        .filter(col("shared_fp") >= 3)
        .select(col("doc_a"), col("doc_b"), col("shared_fp"),
          col("fp_a"), col("fp_b"),
          (round(col("shared_fp").cast("double")
            / least(col("fp_a"), col("fp_b")), 4) + lit(0.0)).as("overlap"))
        .orderBy("doc_a", "doc_b")
    })

  // ---------------------------------------------------------------------
  // q239 — duplicated-span islands (exact-substring dedup at k-gram grain)
  // ---------------------------------------------------------------------

  /** Exact-substring duplicate SPANS (the Lee et al. 2022 "Deduplicating
    * Training Data Makes Language Models Better" operation, at k-gram
    * fingerprint grain — public paper; their suffix-array is a
    * single-machine structure, so the distributed shape is the standard
    * k-gram-matching reformulation): a position is DUPLICATED when its
    * 6-token k-gram occurs in ≥ 2 distinct documents; consecutive
    * duplicated positions merge into islands (gaps-and-islands on
    * position − row_number), and islands covering ≥ 15 tokens are the
    * spans an ExactSubstr pass would cut. Unlike document-level dedup
    * (q22/q23) this catches a long quoted block inside otherwise-unique
    * text, and unlike q129's fixed 32-token chunking it is
    * alignment-free: a span is found wherever it starts.
    *
    * Island semantics: each duplicated k-gram start i
    * covers the TOKEN range [i, i+k−1]; islands are the merge of
    * overlapping-or-adjacent ranges (the standard interval-merge window:
    * break when a start exceeds the running max end + 1), so two
    * duplicated runs whose ranges share tokens merge into ONE span and
    * no token is ever double-counted — exactly the ExactSubstr
    * "merge overlapping duplicated ranges" rule. span_start/span_end are
    * the first/last duplicated TOKEN, span_tokens their exact count.
    *
    * Scale shape: the duplicated-k-gram set is ONE hash aggregate keyed
    * by the 60-bit content hash (map-side combinable count-distinct at
    * ≤ 2 cutoff), positions join it by hash equi-join, and the island
    * merge is a per-document window pair (running-max end, running-sum
    * breaks) — state bounded by document length, no cross-document
    * shuffle beyond the hash-keyed one. */
  private val q239 = QueryDef(
    "q239_dup_span_islands",
    "cross-doc duplicated spans >= 15 tokens via 6-gram islands (ExactSubstr shape)",
    Some(s"""
      WITH tok AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
      g AS ${text.posKgramCteSql(6)},
      duph AS (SELECT h FROM g GROUP BY h HAVING COUNT(DISTINCT doc_id) >= 2),
      d AS (SELECT doc_id, i AS s, i + 5 AS e FROM g JOIN duph USING (h)),
      m AS (SELECT doc_id, s, e,
                   MAX(e) OVER (PARTITION BY doc_id ORDER BY s
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                AND 1 PRECEDING) AS pmax
            FROM d),
      b AS (SELECT doc_id, s, e,
                   CASE WHEN pmax IS NULL OR s > pmax + 1 THEN 1 ELSE 0 END
                     AS brk
            FROM m),
      c AS (SELECT doc_id, s, e,
                   SUM(brk) OVER (PARTITION BY doc_id ORDER BY s) AS grp
            FROM b),
      isl AS (SELECT doc_id, CAST(MIN(s) AS BIGINT) AS span_start,
                     CAST(MAX(e) AS BIGINT) AS span_end,
                     CAST(MAX(e) - MIN(s) + 1 AS BIGINT) AS span_tokens
              FROM c GROUP BY doc_id, grp)
      SELECT doc_id, span_start, span_end, span_tokens
      FROM isl WHERE span_tokens >= 15
      ORDER BY doc_id, span_start"""),
    (s, dir) => dupSpanIslands(s, dir).orderBy("doc_id", "span_start"))

  /** q239's duplicated-span islands (span_tokens >= 15), shared with
    * q258's scrub: positional 6-gram hashes from the per-dataset MV
    * (the md5 explode is the dominant cost), duplicated-hash aggregate,
    * position join, and the gaps-and-islands interval merge. */
  private def dupSpanIslands(s: SparkSession, dir: String): DataFrame = {
    val g = kgram6Pos(s, dir)
    val duph = g.groupBy("h")
      .agg(countDistinct(col("doc_id")).as("nd"))
      .filter(col("nd") >= 2).select("h")
    val w = Window.partitionBy("doc_id").orderBy("s")
    val d = g.join(duph, Seq("h"))
      .select(col("doc_id"), col("i").as("s"), (col("i") + 5).as("e"))
      // interval merge: a range starts a NEW island only when it
      // clears the running max end of everything before it by > 1
      // token (overlap OR adjacency merges)
      .withColumn("pmax",
        max(col("e")).over(w.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("brk", when(col("pmax").isNull ||
        col("s") > col("pmax") + 1, 1L).otherwise(0L))
      .withColumn("grp", sum(col("brk")).over(w))
    d.groupBy("doc_id", "grp")
      .agg(min(col("s")).cast("long").as("span_start"),
        max(col("e")).cast("long").as("span_end"),
        (max(col("e")) - min(col("s")) + 1).cast("long").as("span_tokens"))
      .filter(col("span_tokens") >= 15)
      .select("doc_id", "span_start", "span_end", "span_tokens")
  }

  // ---------------------------------------------------------------------
  // q258 — duplicated-span SCRUB (the transform q239's audit motivates)
  // ---------------------------------------------------------------------

  /** q239 AUDITS duplicated spans; this is the FIX (the q241-fixes-q96
    * pattern applied to span dedup): for every document carrying at
    * least one >= 15-token cross-doc duplicated island, CUT those
    * islands out of the token stream and emit the scrub ledger —
    * original/removed/kept token counts plus a 40-bit content checksum
    * of the CLEANED text — exactly the ExactSubstr removal step of
    * Lee et al. 2022 at k-gram grain. Correctness leans on the island
    * DISJOINTNESS the interval merge guarantees (PipelineSpec law): a
    * token can match at most one span, so the left join marks without
    * duplicating rows, counts decompose exactly, and the cleaned text
    * is well-defined. A fully-duplicated document keeps zero tokens and
    * its checksum is stated NULL on both engines (empty string_agg is
    * NULL in SQL; the engine matches explicitly).
    *
    * Scale shape: spans are doc-keyed and few; the position explode is
    * corpus-sized but joins spans by doc_id equality (bounded per-doc
    * interval check, no cross-document work), the ordered re-assembly
    * is one per-doc sort_array over KEPT tokens of AFFECTED docs only,
    * and the semi-join work list keeps untouched documents out of the
    * explode entirely. */
  private val q258 = QueryDef(
    "q258_dup_span_scrub",
    "cut >=15-token duplicated islands from affected docs: counts + cleaned-text checksum",
    Some(s"""
      WITH tok AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
      g AS ${text.posKgramCteSql(6)},
      duph AS (SELECT h FROM g GROUP BY h HAVING COUNT(DISTINCT doc_id) >= 2),
      d AS (SELECT doc_id, i AS s, i + 5 AS e FROM g JOIN duph USING (h)),
      m AS (SELECT doc_id, s, e,
                   MAX(e) OVER (PARTITION BY doc_id ORDER BY s
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                AND 1 PRECEDING) AS pmax
            FROM d),
      b AS (SELECT doc_id, s, e,
                   CASE WHEN pmax IS NULL OR s > pmax + 1 THEN 1 ELSE 0 END
                     AS brk
            FROM m),
      c AS (SELECT doc_id, s, e,
                   SUM(brk) OVER (PARTITION BY doc_id ORDER BY s) AS grp
            FROM b),
      isl AS (SELECT doc_id, MIN(s) AS ss, MAX(e) AS se
              FROM c GROUP BY doc_id, grp
              HAVING MAX(e) - MIN(s) + 1 >= 15),
      tokp AS (SELECT tok.doc_id, u.i, tok.t[u.i] AS tk
               FROM tok
               JOIN (SELECT DISTINCT doc_id FROM isl) sd USING (doc_id)
               CROSS JOIN LATERAL unnest(generate_series(1, len(tok.t))) AS u(i)),
      mk AS (SELECT tp.doc_id, tp.i, tp.tk,
                    (isl.doc_id IS NOT NULL) AS rm
             FROM tokp tp LEFT JOIN isl
               ON isl.doc_id = tp.doc_id AND tp.i BETWEEN isl.ss AND isl.se)
      SELECT doc_id,
             CAST(COUNT(*) AS BIGINT) AS n_tokens,
             CAST(COUNT(*) FILTER (rm) AS BIGINT) AS n_removed,
             CAST(COUNT(*) FILTER (NOT rm) AS BIGINT) AS n_kept,
             CASE WHEN COUNT(*) FILTER (NOT rm) = 0 THEN NULL
                  ELSE ${text.md5Hash60Sql(
                    "string_agg(tk, ' ' ORDER BY i) FILTER (NOT rm)")}
                       % (1::BIGINT << 40) END AS cleaned_checksum
      FROM mk GROUP BY doc_id ORDER BY doc_id"""),
    (s, dir) => {
      val spans = dupSpanIslands(s, dir)
        .select(col("doc_id"), col("span_start").as("ss"),
          col("span_end").as("se"))
      val sd = spans.select("doc_id").distinct()
      val tokp = Tables.documents(s, dir)
        .join(sd, Seq("doc_id"), "left_semi") // affected docs only
        .select(col("doc_id"), posexplode(split(col("text"), " "))
          .as(Seq("i0", "tk")))
        .select(col("doc_id"), (col("i0") + 1).cast("long").as("i"), col("tk"))
      // islands are DISJOINT (PipelineSpec law), so each position joins
      // at most one span: the left join marks, never multiplies.
      // Aliased: both sides descend from documents, and the ambiguous-
      // self-join check rejects bare df("doc_id") references.
      val mk = tokp.as("tp").join(
          spans.select(col("doc_id").as("sdoc"), col("ss"), col("se")),
          col("tp.doc_id") === col("sdoc") &&
            col("i") >= col("ss") && col("i") <= col("se"), "left")
        .select(col("tp.doc_id").as("doc_id"), col("i"), col("tk"),
          col("sdoc").isNotNull.as("rm"))
      mk.groupBy("doc_id")
        .agg(count(lit(1)).as("n_tokens"),
          sum(when(col("rm"), 1L).otherwise(0L)).as("n_removed"),
          sum(when(!col("rm"), 1L).otherwise(0L)).as("n_kept"),
          sort_array(collect_list(when(!col("rm"),
            struct(col("i"), col("tk"))))).as("kept"))
        .select(col("doc_id"), col("n_tokens"), col("n_removed"),
          col("n_kept"),
          when(col("n_kept") === 0L, lit(null).cast("long"))
            .otherwise(text.md5Hash60(concat_ws(" ",
              expr("transform(kept, x -> x.tk)"))) % (1L << 40))
            .as("cleaned_checksum"))
        .orderBy("doc_id")
    })

  // ---------------------------------------------------------------------
  // q241 — component-grain leakage-free split (GroupKFold-style)
  // ---------------------------------------------------------------------

  /** Leakage-FREE train/val/test split: q96 AUDITS near-dup leakage
    * across q57's per-document hash split; this is the FIX — assign the
    * split at the dedup-COMPONENT grain (every doc hashes its
    * component's canonical id; unpaired docs are their own group), the
    * grouped-splitting discipline (sklearn's GroupKFold shape) that
    * guarantees no near-dup pair ever straddles train and eval. The
    * query emits the per-split audit (docs, groups) plus the
    * cross-split verified-pair count, which is 0 BY CONSTRUCTION — the
    * property the oracle re-proves from the recursive-CTE components.
    *
    * Scale shape: the component assignment is the q45 materialized
    * view (broadcast-sized — only docs in some near-dup pair appear),
    * the split is a pure hash map over coalesce(component, doc_id) —
    * no shuffle to assign, one hash agg to audit; the leak check joins
    * the pair MV against two broadcast copies of the tiny assignment
    * slice. Same plan at 1000 executors. */
  private val q241 = QueryDef(
    "q241_component_safe_split",
    "component-grain 80/10/10 split: per-split docs/groups, zero cross-split near-dup pairs",
    Some(s"""
      WITH RECURSIVE ${text.verifiedPairsCte},
      edges AS (SELECT doc_a AS s, doc_b AS d FROM ver
                UNION ALL SELECT doc_b, doc_a FROM ver),
      nodes AS (SELECT DISTINCT s AS node FROM edges),
      reach(node, lbl) AS (
        SELECT node, node FROM nodes
        UNION
        SELECT e.d, r.lbl FROM reach r JOIN edges e ON e.s = r.node),
      comp AS (SELECT node, MIN(lbl) AS component_id FROM reach GROUP BY node),
      a AS (SELECT d.doc_id, COALESCE(c.component_id, d.doc_id) AS grp
            FROM documents d LEFT JOIN comp c ON c.node = d.doc_id),
      s AS (SELECT doc_id, grp,
                   CASE WHEN h % 100 < 80 THEN 'train'
                        WHEN h % 100 < 90 THEN 'val'
                        ELSE 'test' END AS split
            FROM (SELECT doc_id, grp,
                         ${text.md5Hash60Sql("'csplit:' || CAST(grp AS VARCHAR)")} AS h
                  FROM a)),
      leak AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_leaked_pairs
               FROM ver JOIN s sa ON sa.doc_id = ver.doc_a
                        JOIN s sb ON sb.doc_id = ver.doc_b
               WHERE sa.split != sb.split)
      SELECT split, CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(COUNT(DISTINCT grp) AS BIGINT) AS n_groups,
             n_leaked_pairs
      FROM s CROSS JOIN leak
      GROUP BY split, n_leaked_pairs
      ORDER BY split"""),
    (s, dir) => {
      def splitOf(g: Column): Column = {
        val b = text.md5Hash60(concat(lit("csplit:"), g.cast("string"))) % 100
        when(b < 80, "train").when(b < 90, "val").otherwise("test")
      }
      val comp = components(s, dir)
      val assign = Tables.documents(s, dir).select(col("doc_id"))
        .join(broadcast(comp.withColumnRenamed("node", "doc_id")),
          Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("component_id"), col("doc_id")).as("grp"))
        .withColumn("split", splitOf(col("grp")))
      // every doc in a verified pair is in some component, so the leak
      // check only ever needs the (broadcast-sized) component slice —
      // the full per-doc assignment never ships anywhere
      val sp = comp.select(col("node"), splitOf(col("component_id")).as("cs"))
      val leak = verifiedPairs(s, dir)
        .join(broadcast(sp.select(col("node").as("doc_a"),
          col("cs").as("split_a"))), Seq("doc_a"))
        .join(broadcast(sp.select(col("node").as("doc_b"),
          col("cs").as("split_b"))), Seq("doc_b"))
        .agg(coalesce(sum(when(col("split_a") =!= col("split_b"), 1L)
          .otherwise(0L)), lit(0L)).as("n_leaked_pairs"))
      assign.groupBy("split")
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("grp")).as("n_groups"))
        .crossJoin(broadcast(leak))
        .select("split", "n_docs", "n_groups", "n_leaked_pairs")
        .orderBy("split")
    })

  // ---------------------------------------------------------------------
  // q243 — multi-pass sorted-neighborhood near-dup detection
  // ---------------------------------------------------------------------

  /** Sorted-neighborhood method (Hernández & Stolfo, SIGMOD 1995
    * merge/purge — public paper), the third candidate-generation family
    * next to MinHash-LSH (q23) and SimHash (q24): sort the corpus by a
    * blocking key, compare each record only to its 5 successors in sort
    * order, and exact-Jaccard-verify the candidates. MULTI-PASS as the
    * paper prescribes (a single key misses dups whose difference lands
    * in the key): pass 1 sorts by the text's first 24 chars, pass 2 by
    * the REVERSED text's first 24 (prefix edits move a pair apart in
    * pass 1 but not in pass 2); the candidate set is the union.
    *
    * Scale shape: the oracle states the global row_number; EXECUTED is
    * the q154 bucket-prefix decomposition — rank windows partition by
    * the key's 4-char prefix bucket (bucket order = key order since the
    * bucket is a key prefix), per-bucket counts take a tiny prefix
    * window and broadcast back, global rank = bucket offset + local
    * rank. Neighbor pairing is then an EQUI-join on rank+d (d ∈ 1..5,
    * a bounded explode), so the whole method is sort + linear window —
    * the property that made SNM the at-scale record-linkage default
    * before LSH. Verification touches candidates only (q23's
    * discipline). A hot prefix widens the bucket (longer prefix), same
    * plan. */
  private val q243 = QueryDef(
    "q243_sorted_neighborhood_neardup",
    "multi-pass sorted-neighborhood (window 5) candidates, exact-Jaccard-verified (J >= 0.5)",
    Some(s"""
      WITH ${text.shinglesCte},
      keys AS (SELECT doc_id, substring(text, 1, 24) AS k1,
                      substring(reverse(text), 1, 24) AS k2
               FROM documents),
      r1 AS (SELECT doc_id, row_number() OVER (ORDER BY k1, doc_id) AS rn
             FROM keys),
      c1 AS (SELECT a.doc_id AS da, b.doc_id AS db
             FROM r1 a JOIN r1 b ON b.rn - a.rn BETWEEN 1 AND 5),
      r2 AS (SELECT doc_id, row_number() OVER (ORDER BY k2, doc_id) AS rn
             FROM keys),
      c2 AS (SELECT a.doc_id AS da, b.doc_id AS db
             FROM r2 a JOIN r2 b ON b.rn - a.rn BETWEEN 1 AND 5),
      cand AS (SELECT DISTINCT LEAST(da, db) AS doc_a, GREATEST(da, db) AS doc_b
               FROM (SELECT * FROM c1 UNION ALL SELECT * FROM c2)),
      inter AS (SELECT c.doc_a, c.doc_b, COUNT(*) AS inter
                FROM cand c
                JOIN sh a ON a.doc_id = c.doc_a
                JOIN sh b ON b.doc_id = c.doc_b AND b.shingle = a.shingle
                GROUP BY 1, 2),
      sz AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id)
      SELECT doc_a, doc_b,
             ROUND(CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter), 4) AS jaccard
      FROM inter JOIN sz sa ON sa.doc_id = doc_a
                 JOIN sz sb ON sb.doc_id = doc_b
      WHERE ROUND(CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter), 4) >= 0.5
      ORDER BY doc_a, doc_b"""),
    (s, dir) => {
      val keys = Tables.documents(s, dir)
        .select(col("doc_id"), substring(col("text"), 1, 24).as("k1"),
          substring(reverse(col("text")), 1, 24).as("k2"))
      // global rank by (key, doc_id) via the q154 bucket-prefix
      // decomposition: never one task sorting the whole corpus.
      // Measured and left UN-persisted on purpose: the static
      // plan shows each rank frame's pipeline planned once per join side
      // (8 document scans), but AQE's runtime stage reuse already
      // unifies the identical exchanges — persisting the (doc_id, rn)
      // frames ADDED materialization barriers and read 2.2-2.9 s vs
      // 1.8 s un-persisted at sf0.1.
      def rnOf(keyCol: String): DataFrame = {
        val b = keys.select(col("doc_id"), col(keyCol).as("k"))
          .withColumn("bkt", substring(col("k"), 1, 4))
        graft.functions.ranks.bucketedGlobalRank(
            b, Nil, "bkt", Seq(col("k"), col("doc_id")), "rn")
          .select("doc_id", "rn")
      }
      def candsOf(p: DataFrame): DataFrame = {
        val a = p.select(col("doc_id").as("da"), col("rn"),
            explode(sequence(lit(1L), lit(5L))).as("d"))
          .select(col("da"), (col("rn") + col("d")).as("rnb"))
        a.join(p.select(col("doc_id").as("db"), col("rn").as("rnb")),
            Seq("rnb"))
          .select(least(col("da"), col("db")).as("doc_a"),
            greatest(col("da"), col("db")).as("doc_b"))
      }
      val cand = candsOf(rnOf("k1")).union(candsOf(rnOf("k2"))).distinct()
      val sh = shingleSet(s, dir)
      val inter = cand
        .join(sh.select(col("doc_id").as("doc_a"), col("shingle")), Seq("doc_a"))
        .join(sh.select(col("doc_id").as("doc_b"), col("shingle")),
          Seq("doc_b", "shingle"))
        .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("inter"))
      jaccardFromInter(sh, inter)
        .select("doc_a", "doc_b", "jaccard")
        .orderBy("doc_a", "doc_b")
    })

  // ---------------------------------------------------------------------
  // q254 — Fellegi–Sunter probabilistic record linkage
  // ---------------------------------------------------------------------

  /** Probabilistic record linkage (Fellegi & Sunter 1969) — the
    * decision layer the dedup family was missing: SNM (q243) and the
    * OCR relink (q157) GENERATE candidate pairs; this operator SCORES
    * them into match / possible / non-match classes by summed
    * field-agreement log-odds, the way every production linker
    * (Splink, dedupe.io) does. Scenario: a 10%% hash-selected
    * "re-registration batch" of customers arrives with deterministic
    * field noise — two characters dropped from the name, account
    * balance truncated to whole units — and must be linked back
    * against the full customer table.
    *
    * Mechanism: blocking on (nationkey, mktsegment) — ~125 blocks, so
    * candidate generation is a bounded equi-join, never a cross — then
    * per-field agreement tests (name: levenshtein ≤ 2 against the
    * corrupted key; balance: truncated units equal) weighted by
    * INTEGER log-odds constants (name +20/−5 — weak, the formulaic
    * names collide; balance +73/−11 — strong, ln(1/u) ≈ ln N for a
    * near-unique field) and summed; class thresholds at ≥ 90 (match:
    * both fields agree), ≥ 40 (possible: balance alone). All scoring
    * is integer arithmetic — the float-free FS variant, same
    * fixed-point discipline as q73/q209. The self-pair count inside
    * the match class is the built-in recall meter (every batch row's
    * true partner is its own source row); false matches arise exactly
    * when another customer collides on truncated balance AND differs
    * from the batch row's name only at the two dropped positions —
    * deterministic, so the oracle sees the same ones. At 100 TB the
    * block sizes bound the pair scan and the q134 salting discipline
    * applies to any hot block; weights/thresholds broadcast as
    * literals. */
  private val q254 = QueryDef(
    "q254_fellegi_sunter_linkage",
    "Fellegi–Sunter blocked linkage: match/possible/non-match counts per segment",
    Some(s"""
      WITH b AS (SELECT c_custkey AS bkey, c_nationkey, c_mktsegment,
                        substring(c_name, 1, 9) || substring(c_name, 11, 3) ||
                          substring(c_name, 15, 4) AS bname,
                        CAST(floor(c_acctbal) AS BIGINT) AS bbal
                 FROM customer
                 WHERE ${text.md5Hash60Sql("'fs:' || CAST(c_custkey AS VARCHAR)")}
                         % 10 = 3),
      cand AS (SELECT b.bkey, c.c_custkey AS ckey, b.c_mktsegment,
                      (CASE WHEN levenshtein(b.bname, c.c_name) <= 2
                            THEN 20 ELSE -5 END +
                       CASE WHEN b.bbal = CAST(floor(c.c_acctbal) AS BIGINT)
                            THEN 73 ELSE -11 END) AS score
               FROM b JOIN customer c
                 ON c.c_nationkey = b.c_nationkey
                AND c.c_mktsegment = b.c_mktsegment)
      SELECT c_mktsegment AS mktsegment,
             CAST(COUNT(*) AS BIGINT) AS n_cand,
             CAST(SUM(CASE WHEN score >= 90 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_match,
             CAST(SUM(CASE WHEN score >= 40 AND score < 90 THEN 1 ELSE 0 END)
               AS BIGINT) AS n_possible,
             CAST(SUM(CASE WHEN score < 40 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_nonmatch,
             CAST(SUM(CASE WHEN score >= 90 AND bkey = ckey THEN 1 ELSE 0 END)
               AS BIGINT) AS n_self_match
      FROM cand GROUP BY 1 ORDER BY 1"""),
    (s, dir) => {
      val c = Tables.customer(s, dir)
      val b = c
        .filter(text.md5Hash60(
          concat(lit("fs:"), col("c_custkey").cast("string"))) % 10L === 3L)
        .select(col("c_custkey").as("bkey"),
          col("c_nationkey").as("bnat"), col("c_mktsegment").as("bseg"),
          concat(substring(col("c_name"), 1, 9), substring(col("c_name"), 11, 3),
            substring(col("c_name"), 15, 4)).as("bname"),
          floor(col("c_acctbal")).cast("long").as("bbal"))
      // no broadcast hint on the batch: it is 10% of customer — a
      // scale-growing side — so the hint must stay AQE's runtime call
      // (it broadcasts at fixture scale, degrades to a shuffle join at
      // 100 TB instead of baking in a driver OOM; the q206 coExcHalf
      // discipline)
      val cand = b.join(c,
          col("c_nationkey") === col("bnat") && col("c_mktsegment") === col("bseg"))
        .select(col("bkey"), col("c_custkey").as("ckey"),
          col("bseg").as("mktsegment"),
          // bounded variant (threshold=2): O(k·n) banded DP with early
          // exit instead of the full O(n²) table. CONTRACT (verified
          // empirically: levenshtein('abc','xyz',3) = 3): it returns
          // the distance when d <= threshold and -1 when d exceeds it —
          // so "distance ≤ 2" is `levenshtein(..., 2) >= 0`. Both a
          // plain `<= 2` (admits the -1 sentinel) and threshold 3 with
          // `>= 0` (admits d = 3) are latent divergences from the
          // oracle's unbounded `<= 2`.
          (when(levenshtein(col("bname"), col("c_name"), 2) >= 0, 20).otherwise(-5) +
            when(col("bbal") === floor(col("c_acctbal")).cast("long"), 73)
              .otherwise(-11)).as("score"))
      cand.groupBy("mktsegment")
        .agg(count(lit(1)).as("n_cand"),
          sum(when(col("score") >= 90, 1L).otherwise(0L)).as("n_match"),
          sum(when(col("score") >= 40 && col("score") < 90, 1L).otherwise(0L))
            .as("n_possible"),
          sum(when(col("score") < 40, 1L).otherwise(0L)).as("n_nonmatch"),
          sum(when(col("score") >= 90 && col("bkey") === col("ckey"), 1L)
            .otherwise(0L)).as("n_self_match"))
        .orderBy("mktsegment")
    })

  // ---------------------------------------------------------------------
  // q264 — Unicode canonical-equivalence dedup (NFC normalization)
  // ---------------------------------------------------------------------

  /** The encoding-robustness gap every byte-level dedup primitive in
    * this file shares: canonical-equivalent text — composed U+00E9 vs
    * "e" + combining acute U+0301, same rendered string, different
    * bytes — defeats exact hashes, MinHash shingles and group-by keys
    * alike. A corpus pipeline normalizes to NFC once at ingest and keys
    * everything downstream on the normalized form; this gate proves the
    * engine's normalizer ([[graft.functions.NfcNormalize]], a native
    * codegen expression — Spark has no built-in) against DuckDB's
    * nfc_normalize byte-for-byte.
    *
    * The fixture corpus is pure ASCII (verified — ASCII is trivially
    * NFC), so the gate CONSTRUCTS the canonical-duplicate pair
    * deterministically: every document's text spawns two variants via
    * an in-stage explode — one suffixed with composed " café",
    * one with decomposed " cafe" + U+0301. Byte-level distinctness
    * sees 2x the texts (the two suffix encodings never collide across
    * documents: the final byte 0xA9 vs 0x81 differs); NFC-normalized
    * distinctness unifies each pair back to one — distinct_raw ==
    * 2 * distinct_nfc by construction, the miss byte-level dedup would
    * ship as duplicate training documents. The checksum sums the 40-bit
    * md5 of every NORMALIZED variant, so both engines must produce
    * identical normalized BYTES, not just equal distinct counts — any
    * composition drift between java.text.Normalizer and DuckDB's
    * ICU-backed twin breaks the hash.
    *
    * Scale shape: the explode doubles rows inside the scan's codegen
    * stage (no shuffle); normalization is map-side (ASCII fast path
    * returns the input UTF8String untouched — the 100 TB common case
    * costs a byte-vs-char count compare); the exact multi-distinct
    * aggregate plans as one Expand + hash aggregate, a single shuffle
    * on lang. Exact distinct is the cross-engine contract here; a
    * production census at scale would use HLL (q09's path) over the
    * same normalized column. NULL texts are excluded up front (both
    * engines state it), keeping the checksum's hash input total. */
  private val q264 = QueryDef(
    "q264_unicode_nfc_dedup",
    "NFC normalization unifies composed/decomposed duplicates that byte-level dedup misses",
    Some(s"""
      WITH v AS (SELECT lang, text || ' caf' || chr(233) AS v
                 FROM documents WHERE text IS NOT NULL
                 UNION ALL
                 SELECT lang, text || ' cafe' || chr(769) AS v
                 FROM documents WHERE text IS NOT NULL),
      n AS (SELECT lang, v, nfc_normalize(v) AS nv FROM v),
      h AS (SELECT lang, v, nv,
                   ${text.md5Hash60Sql("nv")} % (1::BIGINT << 40) AS h
            FROM n)
      SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_variants,
             CAST(COUNT(DISTINCT v) AS BIGINT) AS distinct_raw,
             CAST(COUNT(DISTINCT nv) AS BIGINT) AS distinct_nfc,
             CAST(SUM(h) % (1::BIGINT << 40) AS BIGINT) AS nfc_checksum
      FROM h GROUP BY lang ORDER BY lang"""),
    (s, dir) => {
      val docs = Tables.documents(s, dir)
        .filter(col("text").isNotNull)
        .select(col("lang"), col("text"))
      val variants = docs.select(col("lang"), explode(array(
          concat(col("text"), lit(" caf\u00e9")),
          concat(col("text"), lit(" cafe\u0301")))).as("v"))
      val normed = variants.select(col("lang"), col("v"),
        graft.functions.NfcNormalize.nfcCol(col("v")).as("nv"))
      normed.groupBy("lang")
        .agg(count(lit(1)).as("n_variants"),
          countDistinct(col("v")).as("distinct_raw"),
          countDistinct(col("nv")).as("distinct_nfc"),
          (sum((text.md5Hash60(col("nv")) % (1L << 40))
            .cast("decimal(38,0)")) % lit(1L << 40))
            .cast("long").as("nfc_checksum"))
        .orderBy("lang")
    })

  // ---------------------------------------------------------------------
  // q266 — URL canonicalization dedup (the step BEFORE content dedup)
  // ---------------------------------------------------------------------

  /** Every scraped-corpus pipeline dedups at URL grain before any
    * content pass (C4, RefinedWeb): the same page arrives under
    * case-shuffled scheme/host, tracking parameters and fragments, and
    * a byte-level URL key silently keeps every variant. The fixture
    * has no URL column, so — the q264 pattern — the gate CONSTRUCTS
    * the variant pair deterministically per document and proves the
    * canonicalizer unifies it:
    *  - variant A (already canonical):
    *    `https://cdn.<source>.example.org/doc/<id>?id=<id>`
    *  - variant B (the crawler's mess): scheme+host uppercased,
    *    `&utm_source=feed&utm_campaign=<lang>` appended,
    *    `#sec-<id>` fragment.
    * The canonicalization chain is the SAME five string ops in both
    * engines (strip fragment; split scheme+host from path+query;
    * drop `utm_*` parameters; trim dangling `?`/`&`; lowercase ONLY
    * scheme+host — paths stay case-sensitive): distinct_raw ==
    * 2 * distinct_canonical by construction, and a 40-bit checksum
    * over every CANONICAL string pins the bytes, not just the counts —
    * any regex-semantics or case-mapping drift between the engines
    * breaks the hash, not merely a count.
    *
    * Scale shape: the variant pair rides an in-stage explode (no
    * shuffle); the whole chain is map-side codegen'd string/regexp
    * work; the exact multi-distinct census plans as one Expand + hash
    * aggregate with a single shuffle on source (exact distinct is the
    * cross-engine contract; a 100 TB census would ride HLL over the
    * same canonical column, and the production dedup itself is a
    * groupBy(canonical) — one shuffle, no pairs). */
  /** The q266 canonicalizer as a reusable column transform, unit-pinned
    * in OperatorUnitSpec: strip the fragment, lowercase ONLY the
    * scheme+host (paths stay case-sensitive), drop `utm_*` query
    * parameters wherever they sit in the query string, trim the
    * dangling `?`/`&` the removal leaves. One deliberate scope limit,
    * stated rather than hidden: the utm pattern is applied to the
    * whole path+query tail, so a PATH segment literally containing
    * `utm_` would be clipped — real canonicalizers split the query
    * first; the gate's constructed URLs (and the common case) never
    * put `utm_` in a path. */
  private[graft] def urlCanonical(url: Column): Column = {
    val noFrag = regexp_replace(url, "#.*$", "")
    concat(
      lower(regexp_extract(noFrag, "^([a-zA-Z]+://[^/?#]+)", 1)),
      regexp_replace(regexp_replace(
          regexp_replace(noFrag, "^[a-zA-Z]+://[^/?#]+", ""),
          "utm_[^&]*(&|$)", ""),
        "[?&]+$", ""))
  }

  private val q266 = QueryDef(
    "q266_url_canonical_dedup",
    "URL canonicalization unifies tracking-param/case/fragment variants before content dedup",
    Some(s"""
      WITH d AS (SELECT doc_id, lang, source FROM documents
                 WHERE doc_id IS NOT NULL AND lang IS NOT NULL
                   AND source IS NOT NULL),
      u AS (SELECT source,
                   'https://cdn.' || source || '.example.org/doc/' || doc_id ||
                     '?id=' || doc_id AS url
            FROM d
            UNION ALL
            SELECT source,
                   upper('https://cdn.' || source || '.example.org') ||
                     '/doc/' || doc_id || '?id=' || doc_id ||
                     '&utm_source=feed&utm_campaign=' || lang ||
                     '#sec-' || doc_id AS url
            FROM d),
      c AS (SELECT source, url,
                   lower(regexp_extract(regexp_replace(url, '#.*$$', ''),
                                        '^([a-zA-Z]+://[^/?#]+)', 1)) ||
                   regexp_replace(regexp_replace(
                        regexp_replace(regexp_replace(url, '#.*$$', ''),
                          '^[a-zA-Z]+://[^/?#]+', ''),
                        'utm_[^&]*(&|$$)', '', 'g'),
                      '[?&]+$$', '') AS canon
            FROM u),
      h AS (SELECT source, url, canon,
                   ${text.md5Hash60Sql("canon")} % (1::BIGINT << 40) AS h
            FROM c)
      SELECT source, CAST(COUNT(*) AS BIGINT) AS n_urls,
             CAST(COUNT(DISTINCT url) AS BIGINT) AS distinct_raw,
             CAST(COUNT(DISTINCT canon) AS BIGINT) AS distinct_canonical,
             CAST(SUM(h) % (1::BIGINT << 40) AS BIGINT) AS canon_checksum
      FROM h GROUP BY source ORDER BY source"""),
    (s, dir) => {
      val docs = Tables.documents(s, dir)
        .filter(col("doc_id").isNotNull && col("lang").isNotNull
          && col("source").isNotNull)
        .select(col("doc_id"), col("lang"), col("source"))
      val schemeHost =
        concat(lit("https://cdn."), col("source"), lit(".example.org"))
      val pathQuery =
        concat(lit("/doc/"), col("doc_id"), lit("?id="), col("doc_id"))
      val urls = docs.select(col("source"), explode(array(
          concat(schemeHost, pathQuery),
          concat(upper(schemeHost), pathQuery,
            lit("&utm_source=feed&utm_campaign="), col("lang"),
            lit("#sec-"), col("doc_id")))).as("url"))
      urls.select(col("source"), col("url"),
          urlCanonical(col("url")).as("canon"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_urls"),
          countDistinct(col("url")).as("distinct_raw"),
          countDistinct(col("canon")).as("distinct_canonical"),
          (sum((text.md5Hash60(col("canon")) % (1L << 40))
            .cast("decimal(38,0)")) % lit(1L << 40))
            .cast("long").as("canon_checksum"))
        .orderBy("source")
    })

  def defs: Seq[QueryDef] =
    Seq(q21, q22, q23, q24, q44, q45, q90, q96, q101, q129, q157, q162,
      q163, q237, q238, q239, q241, q243, q254, q258, q264, q266)
}
