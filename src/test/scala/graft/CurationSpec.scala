package graft

import org.scalatest.funsuite.AnyFunSuite

/** Law-based assertions for the curation/learning operators (q84–q87)
  * on sf0.001 — conservation, bounds, and bias properties that pin the
  * semantics independently of the DuckDB oracle gate. */
class CurationSpec extends AnyFunSuite {
  import TestSpark._

  private def run(name: String) = SparkEntry.queries(name)(spark, sf)

  test("q84 confusion table conserves the corpus: every vector assigned exactly once") {
    val rows = run("q84_kmeans_label_centroids").collect()
    assert(rows.nonEmpty)
    val total = rows.map(_.getAs[Long]("n_vecs")).sum
    val vecs = spark.read.parquet(s"$sf/embeddings.parquet").count()
    assert(total == vecs, s"confusion total $total != corpus $vecs")
    // per-label row sums equal that label's corpus count
    import org.apache.spark.sql.functions._
    val byLabel = spark.read.parquet(s"$sf/embeddings.parquet")
      .groupBy("label").agg(count(lit(1)).as("n")).collect()
      .map(r => r.getAs[Number]("label").longValue -> r.getAs[Long]("n")).toMap
    rows.groupBy(_.getAs[Number]("label").longValue).foreach { case (l, rs) =>
      assert(rs.map(_.getAs[Long]("n_vecs")).sum == byLabel(l),
        s"label $l row sum != corpus count")
    }
    // assigned labels come from the real label set
    val labels = byLabel.keySet
    rows.foreach(r =>
      assert(labels.contains(r.getAs[Number]("assigned_label").longValue)))
  }

  test("q85 outlier counts are bounded and medians sit inside the value range") {
    val rows = run("q85_robust_outlier_stats").collect()
    assert(rows.nonEmpty)
    import org.apache.spark.sql.functions._
    val ranges = graft.sources.Tables.events(spark, sf)
      .filter(col("value").isNotNull)
      .groupBy("event_type")
      .agg(min("value").as("lo"), max("value").as("hi"), count(lit(1)).as("n"))
      .collect()
      .map(r => r.getAs[String]("event_type") ->
        ((r.getAs[Double]("lo"), r.getAs[Double]("hi"), r.getAs[Long]("n")))).toMap
    rows.foreach { r =>
      val (lo, hi, n) = ranges(r.getAs[String]("event_type"))
      assert(r.getAs[Long]("n") == n)
      assert(r.getAs[Long]("n_outliers") >= 0 && r.getAs[Long]("n_outliers") < n,
        "MAD rule must never reject a whole group")
      val med = r.getAs[Double]("med_value")
      assert(med >= lo && med <= hi)
      assert(r.getAs[Double]("mad") >= 0.0)
    }
  }

  test("q86 weighted sample is length-biased and rank-contiguous") {
    val rows = run("q86_weighted_hash_sample").collect()
    assert(rows.length == 20)
    assert(rows.map(_.getAs[Long]("rank")).toSeq == (1L to 20L))
    val keys = rows.map(_.getAs[Double]("skey")).toSeq
    assert(keys == keys.sorted, "rows must come back in key order")
    // Sequential-Poisson u/w with w = n_chars must over-represent long docs:
    // the sample's mean length should beat the corpus mean.
    import org.apache.spark.sql.functions._
    val corpusMean = spark.read.parquet(s"$sf/documents.parquet")
      .agg(avg("n_chars")).head().getDouble(0)
    val sampleMean = rows.map(_.getAs[Long]("n_chars")).sum.toDouble / rows.length
    assert(sampleMean > corpusMean,
      s"weighted sample mean $sampleMean not above corpus mean $corpusMean")
  }

  test("q88 broadcast assignment reproduces q84's confusion table exactly") {
    // The map-side dot-identity rewrite is a PLAN change only: every
    // vector must land on the same centroid as the exact-decimal q84.
    def table(name: String) = run(name).collect().map { r =>
      (r.getAs[Number]("label").longValue,
        r.getAs[Number]("assigned_label").longValue,
        r.getAs[Long]("n_vecs"))
    }.toSet
    val exact = table("q84_kmeans_label_centroids")
    val mapSide = table("q88_kmeans_broadcast_assign")
    assert(mapSide == exact,
      s"rewrite moved assignments: ${mapSide.diff(exact)} vs ${exact.diff(mapSide)}")
  }

  test("q89 count-min estimates never undercount and match exact word counts") {
    val rows = run("q89_cms_heavy_hitters").collect()
    assert(rows.nonEmpty && rows.length <= 20)
    import org.apache.spark.sql.functions._
    val exact = spark.read.parquet(s"$sf/documents.parquet")
      .select(explode(split(col("text"), " ")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("n")).collect()
      .map(r => r.getAs[String]("w") -> r.getAs[Long]("n")).toMap
    rows.foreach { r =>
      val (w, n, est, over) = (r.getAs[String]("word"), r.getAs[Long]("n_exact"),
        r.getAs[Long]("cms_est"), r.getAs[Long]("overcount"))
      assert(n == exact(w), s"exact count drifted for $w")
      assert(est >= n, s"CMS undercounted $w: $est < $n")
      assert(over == est - n)
    }
    val ns = rows.map(_.getAs[Long]("n_exact")).toSeq
    assert(ns == ns.sorted.reverse)
  }

  test("q90 incremental dedup covers the whole batch and only matches the corpus") {
    import org.apache.spark.sql.functions._
    val rows = run("q90_incremental_batch_dedup").collect()
    // every batch doc is reported exactly once
    def slice(c: org.apache.spark.sql.Column) =
      graft.functions.text.md5Hash60(concat(lit("inc:"), c.cast("string"))) % 10
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val batchIds = docs.filter(slice(col("doc_id")) === 0)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(rows.map(_.getAs[Long]("doc_id")).toSet == batchIds)
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val m = Option(r.getAs[java.lang.Long]("best_match")).map(_.longValue)
      val j = Option(r.getAs[java.lang.Double]("best_jaccard")).map(_.doubleValue)
      assert(m.isDefined == j.isDefined)
      // matches come from the corpus slice, never from the batch itself
      m.foreach(id => assert(!batchIds.contains(id), s"matched a batch doc $id"))
      j.foreach(v => assert(v >= 0.2))
      val dup = r.getAs[Int]("is_dup")
      assert(dup == (if (j.exists(_ >= 0.5)) 1 else 0))
    }
  }

  test("q91 Gini coefficients are in [0, 1-1/n) and customers are conserved") {
    import org.apache.spark.sql.functions._
    val rows = run("q91_revenue_gini_by_segment").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val n = r.getAs[Long]("n_customers")
      val g = r.getAs[Double]("gini")
      assert(n > 1)
      assert(g >= 0.0 && g < 1.0 - 1.0 / n,
        s"${r.getAs[String]("c_mktsegment")}: gini $g out of range for n=$n")
      assert(r.getAs[Double]("total_revenue") > 0.0)
    }
    val total = rows.map(_.getAs[Long]("n_customers")).sum
    val expected = spark.read.parquet(s"$sf/orders.parquet")
      .select(count_distinct(col("o_custkey"))).head().getLong(0)
    assert(total == expected, "every ordering customer appears in exactly one segment")
  }

  test("q92 decontamination: benchmark docs excluded, fractions bounded, flag consistent") {
    import org.apache.spark.sql.functions._
    val rows = run("q92_benchmark_decontamination").collect()
    assert(rows.nonEmpty)
    // the output is exactly the non-benchmark slice of the corpus
    val inBench = graft.functions.text
      .md5Hash60(concat(lit("dec:"), col("doc_id").cast("string"))) % 20 === 0
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val corpusDocs = docs.filter(!inBench).count()
    val benchIds = docs.filter(inBench).select("doc_id").collect()
      .map(_.getLong(0)).toSet
    assert(rows.length.toLong == corpusDocs)
    rows.foreach { r =>
      val id = r.getAs[Long]("doc_id")
      assert(!benchIds.contains(id), s"benchmark doc $id leaked into output")
      val frac = r.getAs[Double]("overlap_frac")
      assert(frac >= 0.0 && frac <= 1.0, s"doc $id frac $frac out of range")
      assert(r.getAs[Int]("contaminated") == (if (frac >= 0.08) 1 else 0))
      assert(r.getAs[Long]("overlap_ngrams") >= 0L)
    }
    // the threshold is discriminative on the fixture: some of each
    val flags = rows.map(_.getAs[Int]("contaminated")).toSet
    assert(flags == Set(0, 1), "expected both contaminated and clean docs")
  }

  test("q93 packing manifest conserves docs and tokens and bins are contiguous") {
    import org.apache.spark.sql.functions._
    val rows = run("q93_sequence_packing").collect()
    assert(rows.nonEmpty)
    val perSource = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("source"), size(split(col("text"), " ")).cast("long").as("n"))
      .groupBy("source").agg(count(lit(1)).as("docs"), sum("n").as("toks"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    rows.groupBy(_.getAs[String]("source")).foreach { case (src, rs) =>
      val (docs, toks) = perSource(src)
      assert(rs.map(_.getAs[Long]("docs_started")).sum == docs,
        s"$src: docs not conserved")
      assert(rs.map(_.getAs[Long]("tokens_started")).sum == toks,
        s"$src: tokens not conserved")
      // bins are 0..max with no gaps (concat-and-chop leaves no empty bin)
      val bins = rs.map(_.getAs[Long]("bin")).sorted.toSeq
      assert(bins.head == 0L && bins == (0L to bins.last).toSeq,
        s"$src: bins not contiguous: $bins")
      // a bin of 512 tokens can't start more than 512 docs; spans bounded
      rs.foreach { r =>
        assert(r.getAs[Long]("spanning_docs") <= r.getAs[Long]("docs_started"))
      }
      // total bins match ceil(tokens/512) when the last doc doesn't span
      assert(bins.last <= (toks - 1) / 512, s"$src: bin index beyond token range")
    }
  }

  test("q94 LM scores cover the corpus with bounded probabilities") {
    import org.apache.spark.sql.functions._
    val rows = run("q94_lm_doc_score").collect()
    val lens = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), size(split(col("text"), " ")).cast("long").as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(rows.length == lens.count(_._2 >= 3), "every doc with >=3 tokens scored")
    rows.foreach { r =>
      val id = r.getAs[Long]("doc_id")
      assert(r.getAs[Long]("n_trigrams") == lens(id) - 2,
        s"doc $id trigram count != tokens-2 (every occurrence scored once)")
      val avg = r.getAs[Double]("avg_p"); val min = r.getAs[Double]("min_p")
      assert(min > 0.0 && min <= 1.0, s"doc $id min_p $min out of range")
      assert(avg >= min - 1e-4 && avg <= 1.0, s"doc $id avg_p $avg < min_p $min")
      val rare = r.getAs[Double]("rare_frac")
      assert(rare >= 0.0 && rare <= 1.0)
    }
  }

  test("q95 repetition stats are internally consistent and flag a minority") {
    val rows = run("q95_doc_repetition").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val total = r.getAs[Long]("n_bigrams")
      val dis = r.getAs[Long]("n_distinct")
      assert(dis >= 1 && dis <= total, "distinct bounded by total")
      val dup = r.getAs[Double]("dup_frac")
      val top = r.getAs[Double]("top_frac")
      // dup_frac is exactly 1 - distinct/total at 4 dp
      assert(math.abs(dup - (1.0 - dis.toDouble / total)) <= 5.001e-5)
      assert(top > 0.0 && top <= 1.0)
      // the most frequent bigram accounts for at least the mean multiplicity
      assert(top >= 1.0 / dis - 1e-4)
      assert(r.getAs[Int]("repetitive") == (if (dup >= 0.05) 1 else 0))
    }
    val flagged = rows.count(_.getAs[Int]("repetitive") == 1)
    assert(flagged > 0 && flagged < rows.length,
      s"threshold should split the corpus, flagged=$flagged/${rows.length}")
  }

  test("q97 silhouette conserves vectors, stays in [0,1), matches q88 assignment") {
    val rows = run("q97_cluster_silhouette").collect()
    assert(rows.nonEmpty)
    val total = rows.map(_.getAs[Long]("n_vecs")).sum
    assert(total == spark.read.parquet(s"$sf/embeddings.parquet").count())
    rows.foreach { r =>
      val avg = r.getAs[Double]("avg_silhouette")
      val min = r.getAs[Double]("min_silhouette")
      assert(min >= 0.0 && avg < 1.0 && avg >= min - 1e-4,
        s"cluster ${r.get(0)}: avg $avg min $min out of range")
    }
    // per-cluster sizes equal q88's assigned-label column sums
    val q88Sizes = run("q88_kmeans_broadcast_assign").collect()
      .groupBy(_.getAs[Number]("assigned_label").longValue)
      .view.mapValues(_.map(_.getAs[Long]("n_vecs")).sum).toMap
    rows.foreach { r =>
      val c = r.getAs[Number]("cluster").longValue
      assert(r.getAs[Long]("n_vecs") == q88Sizes(c),
        s"cluster $c size disagrees with q88 assignment")
    }
  }

  test("q98 scorecard conserves docs and agrees with q95's repetition flags") {
    import org.apache.spark.sql.functions._
    val rows = run("q98_source_scorecard").collect()
    assert(rows.nonEmpty)
    val total = rows.map(_.getAs[Long]("n_docs")).sum
    assert(total == spark.read.parquet(s"$sf/documents.parquet").count())
    rows.foreach { r =>
      Seq("rep_frac", "neardup_frac").foreach { c =>
        val f = r.getAs[Double](c)
        assert(f >= 0.0 && f <= 1.0, s"${r.getString(0)}.$c $f out of range")
      }
      val p = r.getAs[Double]("avg_lm_p")
      assert(p > 0.0 && p <= 1.0)
    }
    // per-source repetitive counts reconstruct q95's flags exactly
    val q95BySource = run("q95_doc_repetition")
      .join(spark.read.parquet(s"$sf/documents.parquet").select("doc_id", "source"),
        Seq("doc_id"))
      .groupBy("source").agg(sum("repetitive").as("n_rep"))
      .collect().map(r => r.getString(0) -> r.getAs[Long]("n_rep")).toMap
    rows.foreach { r =>
      val src = r.getAs[String]("source")
      val nRep = math.round(r.getAs[Double]("rep_frac") * r.getAs[Long]("n_docs"))
      assert(nRep == q95BySource(src),
        s"$src: scorecard rep count $nRep != q95 flags ${q95BySource(src)}")
    }
  }

  test("q100 allocation respects caps, budget, and quality monotonicity") {
    val rows = run("q100_token_budget_allocation").collect()
    assert(rows.nonEmpty)
    val totalTokens = rows.map(_.getAs[Long]("n_tokens")).sum
    val budget = math.floor(totalTokens * 0.5)
    rows.foreach { r =>
      val t = r.getAs[Long]("n_tokens").toDouble
      val target = r.getAs[Double]("target_tokens")
      val alloc = r.getAs[Double]("alloc_tokens")
      val q = r.getAs[Double]("quality")
      assert(q >= 0.0 && q <= 1.0)
      assert(alloc <= t + 1e-6, s"${r.getString(0)}: alloc $alloc exceeds $t")
      assert(alloc <= target + 1e-6, "alloc never exceeds target")
      assert(r.getAs[Int]("capped") == (if (target > t) 1 else 0))
      val util = r.getAs[Double]("utilization")
      assert(util >= 0.0 && util <= 1.0001)
    }
    // allocations never over-spend the budget (capping only removes tokens)
    val spent = rows.map(_.getAs[Double]("alloc_tokens")).sum
    assert(spent <= budget + 1.0, s"spent $spent over budget $budget")
    // targets sum back to the budget before capping (proportional split)
    val targetSum = rows.map(_.getAs[Double]("target_tokens")).sum
    assert(math.abs(targetSum - budget) < 1.0,
      s"targets sum $targetSum != budget $budget")
  }

  test("q98/q100 count short docs (<3 tokens) toward per-source volumes") {
    // The sf fixtures have no docs under 3 tokens, so the LEFT-join
    // semantics (short docs score repetitive=0 and drop out of the LM
    // mean instead of vanishing from n_docs/n_tokens) need a synthetic
    // fixture to be exercised at all.
    val tmp = TestSpark.tempDir("graft-shortdoc").toFile
    try {
      val docs = Seq(
        (0L, "one", "en", "srcA", 3L),
        (1L, "two tokens", "en", "srcA", 10L),
        (2L, "alpha beta gamma alpha beta gamma alpha beta gamma", "en", "srcA", 49L),
        (3L, "x", "en", "srcB", 1L),
        (4L, "the quick brown fox jumps over the lazy dog", "en", "srcB", 43L),
        (5L, "pack my box with five dozen liquor jugs", "en", "srcB", 39L))
      spark.createDataFrame(docs)
        .toDF("doc_id", "text", "lang", "source", "n_chars")
        .write.mode("overwrite")
        .parquet(new java.io.File(tmp, "documents.parquet").getPath)
      val dir = tmp.getPath
      val sc = run2("q98_source_scorecard", dir).collect()
        .map(r => r.getAs[String]("source") -> r).toMap
      assert(sc.keySet == Set("srcA", "srcB"))
      assert(sc("srcA").getAs[Long]("n_docs") == 3, "1-token doc must count")
      assert(sc("srcB").getAs[Long]("n_docs") == 3)
      assert(sc("srcA").getAs[Long]("n_tokens") == 1 + 2 + 9)
      assert(sc("srcB").getAs[Long]("n_tokens") == 1 + 9 + 8)
      // srcA: only the repeated alpha-beta-gamma doc is repetitive (1/3);
      // the short docs joined in as repetitive=0, not as missing rows
      assert(sc("srcA").getAs[Double]("rep_frac") == 0.3333)
      assert(sc("srcB").getAs[Double]("rep_frac") == 0.0)
      val al = run2("q100_token_budget_allocation", dir).collect()
        .map(r => r.getAs[String]("source") -> r).toMap
      assert(al("srcA").getAs[Long]("n_tokens") == 12, "short-doc tokens in budget base")
      assert(al("srcB").getAs[Long]("n_tokens") == 18)
      assert(al("srcA").getAs[Double]("quality") == 0.6667)
      assert(al("srcB").getAs[Double]("quality") == 1.0)
    } finally {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles).foreach(_.foreach(rm)); f.delete(): Unit
      }
      rm(tmp)
    }
  }

  private def run2(name: String, dir: String) = SparkEntry.queries(name)(spark, dir)

  test("q106 incremental merge equals the full recompute; partitions sum") {
    import org.apache.spark.sql.functions._
    val rows = run("q106_incremental_source_counts").collect()
    assert(rows.nonEmpty)
    val full = spark.read.parquet(s"$sf/documents.parquet")
      .groupBy("source")
      .agg(count(lit(1)).as("n"),
        sum(size(split(col("text"), " ")).cast("long")).as("t"))
      .collect()
      .map(r => r.getAs[String]("source") ->
        ((r.getAs[Long]("n"), r.getAs[Long]("t")))).toMap
    assert(rows.map(_.getAs[String]("source")).toSet == full.keySet,
      "every source present after the merge")
    rows.foreach { r =>
      val (n, t) = full(r.getAs[String]("source"))
      assert(r.getAs[Long]("n_docs") == n, s"${r.getString(0)} doc count")
      assert(r.getAs[Long]("n_tokens") == t, s"${r.getString(0)} token count")
      assert(r.getAs[Long]("docs_from_base") + r.getAs[Long]("docs_from_delta") == n)
      assert(r.getAs[Long]("docs_from_delta") >= 0)
    }
  }

  test("q108 overlap matrix conserves the verified pair set") {
    val rows = run("q108_source_overlap_matrix").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (a, b) = (r.getAs[String]("source_a"), r.getAs[String]("source_b"))
      assert(a <= b, s"matrix must be upper-triangular: ($a, $b)")
      assert(r.getAs[Int]("cross_source") == (if (a == b) 0 else 1))
      assert(r.getAs[Long]("n_pairs") > 0)
    }
    // pair conservation: every verified near-dup pair (the q22 J >= 0.5
    // set, which equals the shared verified-pair view) lands in exactly
    // one matrix cell
    val expected = run("q22_neardup_jaccard").count()
    assert(rows.map(_.getAs[Long]("n_pairs")).sum == expected,
      s"matrix total != verified pair count $expected")
  }

  test("q109 centroid similarity is the full k-choose-2 upper triangle in [-1, 1]") {
    val rows = run("q109_centroid_similarity").collect()
    val labels = spark.read.parquet(s"$sf/embeddings.parquet")
      .select("label").distinct().collect().map(_.getAs[Int]("label")).sorted
    val k = labels.length
    assert(rows.length == k * (k - 1) / 2, s"expected C($k,2) rows")
    val seen = rows.map(r => (r.getAs[Int]("label_a"), r.getAs[Int]("label_b")))
    assert(seen.toSet == (for { a <- labels; b <- labels if a < b } yield (a, b)).toSet)
    rows.foreach { r =>
      val c = r.getAs[Double]("cos_sim")
      assert(c >= -1.0 - 1e-9 && c <= 1.0 + 1e-9, s"cosine out of range: $c")
    }
  }

  test("q110 cluster profile conserves the corpus and agrees with the component view") {
    val rows = run("q110_dup_cluster_profile").collect()
    assert(rows.nonEmpty)
    val nDocs = spark.read.parquet(s"$sf/documents.parquet").count()
    assert(rows.map(_.getAs[Long]("n_docs")).sum == nDocs,
      "histogram mass must equal the corpus")
    rows.foreach { r =>
      val size = r.getAs[Long]("component_size")
      assert(size >= 1)
      assert(r.getAs[Long]("n_docs") == size * r.getAs[Long]("n_components"))
      if (size > 1) assert(r.getAs[Long]("n_components") >= 1)
    }
    val sizes = rows.map(_.getAs[Long]("component_size")).toSeq
    assert(sizes == sizes.sorted, "ordered by component_size")
  }

  test("q111 curriculum phases partition each source with non-decreasing difficulty") {
    val rows = run("q111_curriculum_phases").collect()
    assert(rows.nonEmpty)
    import org.apache.spark.sql.functions._
    val bySource = graft.sources.Tables.documents(spark, sf)
      .groupBy("source")
      .agg(count(lit(1)).as("n"),
        sum(size(split(col("text"), " ")).cast("long")).as("t"))
      .collect()
      .map(r => r.getAs[String]("source") ->
        ((r.getAs[Long]("n"), r.getAs[Long]("t")))).toMap
    rows.groupBy(_.getAs[String]("source")).foreach { case (src, rs) =>
      val (n, t) = bySource(src)
      assert(rs.map(_.getAs[Long]("n_docs")).sum == n, s"$src doc conservation")
      assert(rs.map(_.getAs[Long]("n_tokens")).sum == t, s"$src token conservation")
      val byPhase = rs.sortBy(_.getAs[Int]("phase"))
      assert(byPhase.map(_.getAs[Int]("phase")).toSeq == (1 to byPhase.length),
        s"$src phases must be contiguous from 1")
      byPhase.sliding(2).foreach {
        case Array(p, q) =>
          assert(p.getAs[Long]("max_difficulty") <= q.getAs[Long]("min_difficulty"),
            s"$src difficulty must not decrease across phases")
        case _ => ()
      }
      byPhase.foreach(r =>
        assert(r.getAs[Long]("min_difficulty") <= r.getAs[Long]("max_difficulty")))
    }
  }

  test("q112 dimension stats cover all 64 dims with consistent moments") {
    val rows = run("q112_embedding_dim_stats").collect()
    assert(rows.map(_.getAs[Int]("dim")).toSeq == (1 to 64))
    val nVecs = spark.read.parquet(s"$sf/embeddings.parquet").count()
    rows.foreach { r =>
      assert(r.getAs[Long]("n_vecs") == nVecs)
      val (mean, v) = (r.getAs[Double]("mean_v"), r.getAs[Double]("var_v"))
      val (lo, hi) = (r.getAs[Double]("min_v"), r.getAs[Double]("max_v"))
      assert(lo <= hi)
      assert(mean >= lo - 1e-4 && mean <= hi + 1e-4,
        s"dim ${r.getAs[Int]("dim")}: mean $mean outside [$lo, $hi]")
      // rounding the moments at 4 dp before the identity can push a
      // tiny true variance slightly negative — bounded by the rounding
      assert(v >= -1e-3, s"variance $v below rounding floor")
      assert(v <= (hi - lo) * (hi - lo) / 4 + 1e-3, "popoviciu bound")
    }
  }

  test("q113 outlier audit is label-complete with max >= mean and bounded outliers") {
    val rows = run("q113_centroid_outlier_audit").collect()
    import org.apache.spark.sql.functions._
    val byLabel = spark.read.parquet(s"$sf/embeddings.parquet")
      .groupBy("label").agg(count(lit(1)).as("n")).collect()
      .map(r => r.getAs[Int]("label") -> r.getAs[Long]("n")).toMap
    assert(rows.map(_.getAs[Int]("label")).toSet == byLabel.keySet)
    rows.foreach { r =>
      val n = byLabel(r.getAs[Int]("label"))
      assert(r.getAs[Long]("n_vecs") == n)
      val (avg, mx) = (r.getAs[Double]("avg_d2"), r.getAs[Double]("max_d2"))
      assert(avg >= 0.0 && mx >= avg - 1e-9, s"max $mx < mean $avg")
      val out = r.getAs[Long]("n_outliers")
      // mean distance bounds the >2x-mean mass at strictly under half
      assert(out >= 0 && out < n / 2 + 1, s"$out outliers of $n")
    }
  }

  test("q114 snapshot diff satisfies the kept/added/removed identities per source") {
    val rows = run("q114_snapshot_diff").collect()
    import org.apache.spark.sql.functions._
    val bySource = graft.sources.Tables.documents(spark, sf)
      .groupBy("source").agg(count(lit(1)).as("n")).collect()
      .map(r => r.getAs[String]("source") -> r.getAs[Long]("n")).toMap
    assert(rows.map(_.getAs[String]("source")).toSet == bySource.keySet)
    rows.foreach { r =>
      val n = bySource(r.getAs[String]("source"))
      val (v1, v2) = (r.getAs[Long]("n_v1"), r.getAs[Long]("n_v2"))
      val (kept, added, removed) =
        (r.getAs[Long]("n_kept"), r.getAs[Long]("n_added"), r.getAs[Long]("n_removed"))
      assert(v1 == kept + removed, "v1 partitions into kept + removed")
      assert(v2 == kept + added, "v2 partitions into kept + added")
      assert(v1 <= n && v2 <= n)
      assert(kept + added + removed <= n, "diff classes are disjoint doc sets")
    }
  }

  test("q117 export manifest is consistent with its upstream stage queries") {
    val rows = run("q117_training_export_manifest").collect()
    assert(rows.nonEmpty && rows.length <= 8)
    val shards = rows.map(_.getAs[Long]("shard")).toSeq
    assert(shards == shards.sorted && shards.forall(sh => sh >= 0 && sh < 8))
    val exported = rows.map(_.getAs[Long]("n_docs")).sum
    // bounded above by each upstream stage alone
    val kept = run("q101_canonical_compaction").collect()
      .map(_.getAs[Long]("n_kept")).sum
    val train = run("q57_hash_split_train_val_test").collect()
      .filter(_.getAs[String]("split") == "train").map(_.getAs[Long]("n_docs")).sum
    assert(exported <= kept, "manifest cannot exceed compaction survivors")
    assert(exported <= train, "manifest cannot exceed the train split")
    assert(exported > 0, "the composed filter must not annihilate the corpus")
    rows.foreach { r =>
      assert(r.getAs[Long]("n_tokens") > 0)
      assert(r.getAs[Long]("n_sources") >= 1 && r.getAs[Long]("n_sources") <= 20)
    }
  }

  test("q121 register merge equals a direct full recompute (max-monoid law)") {
    import org.apache.spark.sql.functions._
    import graft.functions.text
    val rows = run("q121_incremental_hll_registers").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Long]("n_regs") >= 1 && r.getAs[Long]("n_regs") <= 64)
      assert(r.getAs[Long]("sum_rho") >= 0)
    }
    // independent full-scan register table (no slice, no MV)
    val full = graft.sources.Tables.events(spark, sf)
      .select(col("event_type"),
        text.md5Hash60(col("user_id").cast("string")).as("h"))
      .select(col("event_type"), (col("h") % 64).as("bucket"),
        when(expr("h DIV 64") === 0, 55)
          .otherwise(lit(55) - length(bin(expr("h DIV 64")))).as("rho"))
      .groupBy("event_type", "bucket").agg(max(col("rho")).as("r"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_regs"), sum(col("r")).cast("long").as("sum_rho"),
        sum((col("bucket") + 1) * col("r")).cast("long").as("checksum"))
      .collect()
      .map(r => r.getAs[String]("event_type") ->
        ((r.getAs[Long]("n_regs"), r.getAs[Long]("sum_rho"),
          r.getAs[Long]("checksum")))).toMap
    rows.foreach { r =>
      val (n, sr, ck) = full(r.getAs[String]("event_type"))
      assert(r.getAs[Long]("n_regs") == n && r.getAs[Long]("sum_rho") == sr
        && r.getAs[Long]("checksum") == ck,
        s"${r.getString(0)}: merged registers != full recompute")
    }
  }

  test("q122 source overlap matrix is the full triangle with Jaccard laws intact") {
    val rows = run("q122_source_shingle_overlap").collect()
    val sources = graft.sources.Tables.documents(spark, sf)
      .select("source").distinct().count().toInt
    // pairs with zero shingle intersection legitimately drop out of the
    // inner join; the fixture vocabulary makes that rare but possible
    assert(rows.length <= sources * (sources - 1) / 2 && rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[String]("source_a") < r.getAs[String]("source_b"))
      assert(r.getAs[Long]("n_inter") >= 1)
      val j = r.getAs[Double]("jaccard")
      assert(j > 0.0 && j <= 1.0, s"jaccard out of range: $j")
    }
  }

  test("q123 RFM lattice conserves customers with quartile-balanced marginals") {
    import org.apache.spark.sql.functions._
    val rows = run("q123_rfm_segmentation").collect()
    assert(rows.nonEmpty && rows.length <= 64)
    val nCust = graft.sources.Tables.orders(spark, sf)
      .select("o_custkey").distinct().count()
    assert(rows.map(_.getAs[Long]("n_customers")).sum == nCust,
      "every customer lands in exactly one segment")
    rows.foreach { r =>
      Seq("score_r", "score_f", "score_m").foreach { c =>
        val v = r.getAs[Int](c)
        assert(v >= 1 && v <= 4, s"$c out of range: $v")
      }
      assert(r.getAs[Double]("segment_revenue") > 0.0)
    }
    // each axis marginal: no quartile bucket may hold more than ~60% of
    // customers (quartile boundaries of interpolated percentiles cannot
    // concentrate mass except under extreme ties; frequency is discrete
    // so allow the slack)
    Seq("score_r", "score_f", "score_m").foreach { axis =>
      val marg = rows.groupBy(_.getAs[Int](axis))
        .map { case (_, rs) => rs.map(_.getAs[Long]("n_customers")).sum }
      assert(marg.max <= (nCust * 6) / 10 + 1, s"$axis marginal too skewed")
    }
  }

  test("q124 affinity rules satisfy the support/confidence/lift identities") {
    val rows = run("q124_part_affinity").collect()
    assert(rows.length == 20)
    val counts = rows.map(_.getAs[Long]("n_ab")).toSeq
    assert(counts == counts.sorted.reverse, "ordered by pair count desc")
    rows.foreach { r =>
      assert(r.getAs[Long]("part_a") < r.getAs[Long]("part_b"))
      assert(r.getAs[Long]("n_ab") >= 1)
      val (sup, conf, lift) = (r.getAs[Double]("support"),
        r.getAs[Double]("confidence"), r.getAs[Double]("lift"))
      assert(sup > 0.0 && sup <= 1.0)
      assert(conf > 0.0 && conf <= 1.0)
      assert(conf >= sup - 1e-9, "confidence = support / P(a) >= support")
      assert(lift > 0.0)
    }
  }

  test("q125 signal agreement counts are consistent with the standalone pair queries") {
    val rows = run("q125_dup_signal_agreement").collect()
    assert(rows.length == 1)
    val r = rows.head
    val (nt, ne, nb) = (r.getAs[Long]("n_text_pairs"),
      r.getAs[Long]("n_embed_pairs"), r.getAs[Long]("n_both"))
    assert(nb <= math.min(nt, ne), "intersection bounded by both sides")
    assert(nt == run("q22_neardup_jaccard").count(),
      "text side must equal the verified pair set")
    assert(ne == run("q83_embedding_neardup_lsh").count(),
      "embedding side must equal q83's bucketed pair set")
    assert(ne <= run("q60_embedding_neardup_pairs").count(),
      "bucketed side stays a subset of the exact q60 yardstick")
    if (nt + ne - nb > 0) {
      val j = r.getAs[Double]("set_jaccard")
      assert(j >= 0.0 && j <= 1.0)
    }
  }

  test("q199 histogram AUC equals the brute-force pairwise Mann-Whitney") {
    import org.apache.spark.sql.functions._
    // recompute per-user (score, label) directly, then count ordered
    // pairs the O(n^2) way the histogram form replaces
    val e = graft.sources.Tables.events(spark, "/root/testdata/sf0.01")
      .select(col("user_id"), col("event_type"),
        expr("ts_us div 86400000000").as("day"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val d0 = e.map(_._3).max - 7
    val perUser = e.groupBy(_._1).iterator.flatMap { case (_, rows) =>
      val pre = rows.filter(_._3 < d0)
      if (pre.isEmpty) None
      else Some((rows.count(r => r._3 >= d0 - 7 && r._3 < d0).toLong,
        if (rows.exists(r => r._3 >= d0 && r._2 == "purchase")) 1 else 0))
    }.toSeq
    val pos = perUser.filter(_._2 == 1).map(_._1)
    val neg = perUser.filter(_._2 == 0).map(_._1)
    val bruteU2 = (for (p <- pos; n <- neg) yield {
      if (p > n) 2L else if (p == n) 1L else 0L
    }).sum
    val r = SparkEntry.queries("q199_feature_auc")(
      spark, "/root/testdata/sf0.01").collect().head
    assert(r.getAs[Long]("n_pos") == pos.size && r.getAs[Long]("n_neg") == neg.size)
    assert(r.getAs[Long]("u2") == bruteU2,
      s"histogram 2U ${r.getAs[Long]("u2")} != brute $bruteU2")
    if (pos.nonEmpty && neg.nonEmpty) {
      val auc = r.getAs[Double]("auc")
      assert(auc >= 0.0 && auc <= 1.0)
      val expect = BigDecimal(bruteU2.toDouble / (2.0 * pos.size * neg.size))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble + 0.0
      assert(auc == expect)
    }
  }

  test("q201 CF cosines recompute and are bounded by the geometric overlap") {
    val rows = run("q201_item_cf_cosine").collect()
    assert(rows.length == 20)
    val cs = rows.map(_.getAs[Double]("cosine")).toSeq
    assert(cs == cs.sorted.reverse, "ordered by cosine desc")
    rows.foreach { r =>
      val (ab, na, nb) = (r.getAs[Long]("n_ab"), r.getAs[Long]("n_a"),
        r.getAs[Long]("n_b"))
      assert(ab >= 1 && ab <= math.min(na, nb),
        "overlap bounded by either buyer set")
      val expect = BigDecimal(ab.toDouble / math.sqrt((na * nb).toDouble))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble + 0.0
      assert(r.getAs[Double]("cosine") == expect)
      assert(r.getAs[Double]("cosine") <= 1.0)
    }
  }

  test("q197 gini split gains are nonnegative and parent impurity recomputes") {
    val rows = run("q197_gini_split_gain").collect()
    assert(rows.length == 3)
    val orders = graft.sources.Tables.orders(spark, sf)
    val n = orders.count()
    val pos = orders.filter(org.apache.spark.sql.functions
      .col("o_orderpriority") === "1-URGENT").count()
    val expectParent = BigDecimal(
      (n.toDouble * n - pos.toDouble * pos - (n - pos).toDouble * (n - pos))
        / (n.toDouble * n))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble + 0.0
    rows.foreach { r =>
      assert(r.getAs[Long]("n") == n)
      assert(r.getAs[Double]("parent_gini") == expectParent,
        s"${r.getAs[String]("feature")}: parent gini recompute")
      val (pg, wg, gain) = (r.getAs[Double]("parent_gini"),
        r.getAs[Double]("weighted_child_gini"), r.getAs[Double]("gini_gain"))
      assert(pg >= 0.0 && pg <= 0.5, "binary gini bounded by 1/2")
      // splitting never increases impurity (concavity); rounding slack
      assert(gain >= -2e-6, s"negative gain $gain")
      assert(math.abs(pg - wg - gain) <= 2e-6, "gain = parent - weighted child")
      assert(r.getAs[Long]("n_values") >= 2, "a split needs >= 2 branches")
    }
  }

  test("q198 approx percentiles sit inside their exact rank bands") {
    val rows = run("q198_approx_percentile_audit").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Int]("p50_in_band") == 1,
        s"${r.getAs[String]("event_type")}: p50 sketch out of band")
      assert(r.getAs[Int]("p90_in_band") == 1)
      assert(r.getAs[Double]("exact_p50") <= r.getAs[Double]("exact_p90"),
        "quantile monotonicity")
    }
  }

  test("q124 a-priori prune preserves the exact unpruned top-20") {
    import org.apache.spark.sql.functions._
    // recompute the pair ranking with NO min-support prune and assert
    // the registered (pruned) query returns the identical 20 rows —
    // the floor (2) sits at/below the rank-20 pair support, so the
    // prune can only discard pairs below the ranking cut
    val op = graft.sources.Tables.lineitem(spark, sf)
      .select(col("l_orderkey").as("o"), col("l_partkey").as("p")).distinct()
    val brute = op.select(col("o"), col("p").as("part_a"))
      .join(op.select(col("o").as("o2"), col("p").as("part_b")),
        col("o") === col("o2") && col("part_a") < col("part_b"))
      .groupBy("part_a", "part_b").agg(count(lit(1)).as("n_ab"))
      .orderBy(col("n_ab").desc, col("part_a"), col("part_b")).limit(20)
      .collect()
      .map(r => (r.getAs[Long]("part_a"), r.getAs[Long]("part_b"),
        r.getAs[Long]("n_ab"))).toSeq
    val pruned = run("q124_part_affinity").collect()
      .map(r => (r.getAs[Long]("part_a"), r.getAs[Long]("part_b"),
        r.getAs[Long]("n_ab"))).toSeq
    assert(brute.last._3 >= 2, "rank-20 support must clear the floor")
    assert(pruned == brute, "prune changed the top-20 ranking")
  }

  test("q128 purchase latency gaps are complete and ordered within the day span") {
    import org.apache.spark.sql.functions._
    val rows = run("q128_purchase_latency").collect()
    assert(rows.nonEmpty)
    // gap completeness: per customer with k orders, k-1 gaps
    val orders = graft.sources.Tables.orders(spark, sf)
    val nOrders = orders.count()
    val nCust = orders.select("o_custkey").distinct().count()
    assert(rows.map(_.getAs[Long]("n_gaps")).sum == nOrders - nCust,
      "sum of gaps must be orders minus first-order-per-customer")
    val spanDays = orders
      .agg(datediff(max(to_date(col("o_orderdate"))),
        min(to_date(col("o_orderdate")))).cast("long")).head().getLong(0)
    rows.foreach { r =>
      val (med, p90) = (r.getAs[Double]("median_gap"), r.getAs[Double]("p90_gap"))
      assert(med >= 0.0 && p90 >= med - 1e-9, "p90 dominates the median")
      assert(p90 <= spanDays.toDouble, "no gap can exceed the corpus day span")
      assert(r.getAs[Double]("total_gap_days") >= 0.0)
    }
  }

  test("q131 per-source sample takes exactly 5 per source, consistent with q86 keys") {
    val rows = run("q131_per_source_weighted_sample").collect()
    rows.groupBy(_.getAs[String]("source")).foreach { case (src, rs) =>
      assert(rs.map(_.getAs[Long]("rank")).sorted.toSeq == (1L to rs.length),
        s"$src: ranks contiguous")
      assert(rs.length <= 5)
      val keys = rs.sortBy(_.getAs[Long]("rank")).map(_.getAs[Double]("skey"))
      assert(keys.toSeq == keys.sorted.toSeq, s"$src: keys ascend with rank")
    }
    // key agreement with q86: any doc in both samples carries the same skey
    val globalKeys = run("q86_weighted_hash_sample").collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Double]("skey")).toMap
    rows.foreach { r =>
      globalKeys.get(r.getAs[Long]("doc_id")).foreach(k =>
        assert(k == r.getAs[Double]("skey"), "shared sequential-Poisson key arithmetic"))
    }
  }

  test("q159 PII audit: planted docs carry both patterns, redaction leaves zero residual") {
    val rows = run("q159_pii_redaction_audit").collect()
    assert(rows.nonEmpty)
    var flaggedTotal = 0L
    rows.foreach { r =>
      val src = r.getAs[String]("source")
      val flagged = r.getAs[Long]("n_flagged")
      flaggedTotal += flagged
      // every planted doc gets one email AND one phone; the clean corpus
      // has neither — the three flag counts must coincide
      assert(r.getAs[Long]("n_email_docs") == flagged, s"$src email flags")
      assert(r.getAs[Long]("n_phone_docs") == flagged, s"$src phone flags")
      assert(r.getAs[Long]("n_residual") == 0L, s"$src residual PII after redaction")
      val before = r.getAs[Long]("chars_before")
      val after = r.getAs[Long]("chars_after")
      if (flagged == 0) assert(after == before, s"$src clean source mass changed")
      else assert(after < before, s"$src redaction must shrink the planted mass")
    }
    val corpus = spark.read.parquet(s"$sf/documents.parquet").count()
    assert(rows.map(_.getAs[Long]("n_docs")).sum == corpus)
    assert(flaggedTotal > 0, "the 5% plant must select at least one doc")
  }

  test("q87 conditional probabilities are consistent with their counts") {
    val rows = run("q87_trigram_conditional_lm").collect()
    assert(rows.nonEmpty && rows.length <= 20)
    rows.foreach { r =>
      val (n3, n12) = (r.getAs[Long]("n3"), r.getAs[Long]("n12"))
      assert(n3 >= 2 && n3 <= n12, s"trigram count $n3 exceeds bigram count $n12")
      val p = r.getAs[Double]("p_next")
      assert(p > 0.0 && p <= 1.0)
      assert(math.abs(p - BigDecimal(n3.toDouble / n12.toDouble)
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble) < 1e-9)
    }
    val counts = rows.map(_.getAs[Long]("n3")).toSeq
    assert(counts == counts.sorted.reverse, "ordered by count desc")
  }

  test("q203 LOO encoding recomputes from the complement identity per row") {
    import org.apache.spark.sql.functions._
    val rows = run("q203_loo_target_encoding").collect()
    val orders = graft.sources.Tables.orders(spark, sf)
      .join(graft.sources.Tables.customer(spark, sf),
        col("o_custkey") === col("c_custkey"))
      .select(col("o_orderkey"), col("c_mktsegment"), col("o_totalprice"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
    assert(rows.length == orders.length)
    val bySeg = orders.groupBy(_._2).map { case (seg, rs) =>
      seg -> (rs.map(r => Math.round(r._3 * 100)).sum, rs.length)
    }
    val expect = orders.map { case (k, seg, price) =>
      val (sum, n) = bySeg(seg)
      k -> (BigDecimal((sum - Math.round(price * 100)).toDouble
          / (100.0 * (n - 1)))
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble + 0.0)
    }.toMap
    rows.foreach { r =>
      assert(r.getAs[Double]("loo_enc") == expect(r.getAs[Long]("o_orderkey")),
        s"order ${r.getAs[Long]("o_orderkey")} LOO recompute")
    }
  }

  test("q204 calibration bins conserve users and keep scores inside their bin") {
    val rows = run("q204_calibration_bins").collect()
    assert(rows.nonEmpty)
    val users = graft.sources.Tables.events(spark, sf)
      .select("user_id").distinct().count()
    assert(rows.map(_.getAs[Long]("n_users")).sum == users,
      "every scored user lands in exactly one bin")
    rows.foreach { r =>
      val bin = r.getAs[Int]("bin")
      assert(bin >= 0 && bin <= 9)
      val ms = r.getAs[Double]("mean_score")
      assert(ms >= bin / 10.0 - 1e-4 && ms < (bin + 1) / 10.0 + 1e-4,
        s"bin $bin mean score $ms outside its bin")
      val rate = r.getAs[Double]("pos_rate")
      assert(rate >= 0.0 && rate <= 1.0)
      assert(r.getAs[Long]("n_pos") <= r.getAs[Long]("n_users"))
      assert(math.abs(ms - rate - r.getAs[Double]("calib_gap")) <= 2e-4,
        "gap = mean score - observed rate")
    }
  }

  test("q205 CUSUM change point recomputes from scratch") {
    import org.apache.spark.sql.functions._
    val rows = run("q205_cusum_changepoint").collect()
    assert(rows.length == 1)
    val r = rows.head
    val daily = graft.sources.Tables.orders(spark, sf)
      .groupBy(to_date(col("o_orderdate")).as("day"))
      .agg(sum(round(col("o_totalprice") * 100).cast("long")).as("c"))
      .collect().map(x => (x.getDate(0), x.getLong(1)))
      .sortBy(_._1.toString)
    val n = daily.length.toLong
    val total = daily.map(_._2).sum
    var acc = 0L
    val cusum = daily.map { case (d, c) => acc += n * c - total; (d, acc.abs) }
    val best = cusum.minBy { case (d, a) => (-a, d.toString) }
    assert(r.getAs[Long]("n_days") == n)
    assert(r.getAs[java.sql.Date]("change_day").toString == best._1.toString)
    assert(r.getAs[Long]("max_abs_cusum") == best._2)
    val cd = best._1
    val before = daily.filter(!_._1.after(cd))
    val after = daily.filter(_._1.after(cd))
    def mean4(xs: Array[(java.sql.Date, Long)]): Double =
      BigDecimal(xs.map(_._2).sum.toDouble / (100.0 * xs.length))
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble + 0.0
    assert(r.getAs[Double]("mean_before") == mean4(before))
    if (after.nonEmpty)
      assert(r.getAs[Double]("mean_after") == mean4(after))
  }

  test("q207 folds partition the fact; train mean and MSE fully recompute") {
    val rows = run("q207_kfold_cv_mse").collect()
    assert(rows.length == 5)
    val data = graft.sources.Tables.orders(spark, sf)
      .select("o_orderkey", "o_totalprice")
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    def h60(sx: String): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(sx.getBytes("UTF-8"))
      java.lang.Long.parseLong(
        d.take(8).map("%02x".format(_)).mkString.take(15), 16)
    }
    val byFold = data.groupBy { case (k, _) => (h60(s"cv:$k") % 5).toInt }
    val totalN = data.length.toLong
    val totalC = data.map(x => Math.round(x._2 * 100)).sum
    assert(rows.map(_.getAs[Long]("n_test")).sum == totalN)
    rows.foreach { r =>
      val fold = r.getAs[Int]("fold")
      val fd = byFold(fold)
      assert(r.getAs[Long]("n_test") == fd.length.toLong)
      assert(r.getAs[Long]("n_train") + r.getAs[Long]("n_test") == totalN)
      val cf = fd.map(x => Math.round(x._2 * 100)).sum
      val mu = (totalC - cf).toDouble / (100.0 * (totalN - fd.length))
      assert(r.getAs[Double]("train_mean") ==
        BigDecimal(mu).setScale(4, BigDecimal.RoundingMode.HALF_UP)
          .toDouble + 0.0)
      val errSum = fd.map { case (_, p) =>
        BigDecimal((p - mu) * (p - mu))
          .setScale(10, BigDecimal.RoundingMode.HALF_UP)
      }.sum
      val mse = BigDecimal(errSum.toDouble / fd.length)
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble + 0.0
      assert(r.getAs[Double]("test_mse") == mse, s"fold $fold MSE recompute")
    }
  }

  test("q206 holdout eval counts are mutually consistent and rates recompute") {
    import org.apache.spark.sql.functions._
    val rows = run("q206_cf_holdout_precision").collect()
    assert(rows.length == 1)
    val r = rows.head
    val (nu, nr, nh, nhp) = (r.getAs[Long]("n_users"), r.getAs[Long]("n_recs"),
      r.getAs[Long]("n_hits"), r.getAs[Long]("n_holdout"))
    assert(r.getAs[Int]("k") == 5)
    assert(nr <= 5 * nu, "at most k recs per evaluated user")
    assert(nh <= nr && nh <= nhp, "hits bounded by both sides")
    val multi = graft.sources.Tables.orders(spark, sf)
      .groupBy("o_custkey").agg(count(lit(1)).as("n"))
      .filter(col("n") >= 2).count()
    assert(nu <= multi, "only multi-order customers can be evaluated")
    def r4(x: Double) = BigDecimal(x)
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble + 0.0
    assert(r.getAs[Double]("precision_at_k") == r4(nh.toDouble / nr))
    assert(r.getAs[Double]("recall_at_k") == r4(nh.toDouble / nhp))
    val hr = r.getAs[Double]("user_hit_rate")
    assert(hr >= 0.0 && hr <= 1.0)
  }

  test("q208 bucket histogram conserves the feature space") {
    val rows = run("q208_feature_hash_collisions").collect()
    assert(rows.nonEmpty)
    val nf = rows.head.getAs[Long]("n_features")
    assert(rows.map(r =>
      r.getAs[Long]("bucket_load") * r.getAs[Long]("n_buckets")).sum == nf,
      "histogram mass = feature count")
    val used = rows.head.getAs[Long]("n_buckets_used")
    assert(rows.map(_.getAs[Long]("n_buckets")).sum == used)
    assert(used <= 256)
    assert(rows.map(_.getAs[Long]("bucket_load")).max ==
      rows.head.getAs[Long]("max_load"))
    val share = BigDecimal((nf - used).toDouble / nf)
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble + 0.0
    assert(rows.head.getAs[Double]("collision_share") == share)
  }

  test("q210 conformal pipeline fully recomputes: slices, grid quantile, coverage") {
    val rows = run("q210_conformal_coverage").collect()
    assert(rows.length == 1)
    val r = rows.head
    val data = graft.sources.Tables.orders(spark, sf)
      .select("o_orderkey", "o_totalprice")
      .collect().map(x => (x.getLong(0), x.getDouble(1)))
    def h60(sx: String): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(sx.getBytes("UTF-8"))
      java.lang.Long.parseLong(
        d.take(8).map("%02x".format(_)).mkString.take(15), 16)
    }
    val sliced = data.map { case (k, p) => ((h60(s"conf:$k") % 10).toInt, p) }
    val train = sliced.filter(_._1 <= 5).map(_._2)
    val calib = sliced.filter(x => x._1 == 6 || x._1 == 7).map(_._2)
    val test = sliced.filter(_._1 >= 8).map(_._2)
    val mu = train.map(p => Math.round(p * 100)).sum.toDouble /
      (100.0 * train.length)
    def resid(p: Double): Long = Math.round(math.abs(p - mu) * 100)
    val n = calib.length.toLong
    val k = math.min((9 * (n + 1) + 9) / 10, n)
    val sortedBuckets = calib.map(p => resid(p) / 5000).sorted
    val qhatCents = (sortedBuckets((k - 1).toInt) + 1) * 5000
    val covered = test.count(p => resid(p) <= qhatCents).toLong
    assert(r.getAs[Long]("n_train") == train.length.toLong)
    assert(r.getAs[Long]("n_calib") == n)
    assert(r.getAs[Long]("n_test") == test.length.toLong)
    assert(r.getAs[Long]("k_rank") == k)
    assert(r.getAs[Double]("qhat") ==
      BigDecimal(qhatCents / 100.0)
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble + 0.0)
    assert(r.getAs[Double]("coverage") ==
      BigDecimal(covered.toDouble / test.length)
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble + 0.0)
    // conservative grid: the edge sits at or above the k-th raw residual
    val kthResid = calib.map(resid).sorted.apply((k - 1).toInt)
    assert(qhatCents >= kthResid)
  }

  test("q211 IVF audit conserves vectors and bounds the probe cost") {
    val rows = run("q211_ivf_balance_audit").collect()
    assert(rows.nonEmpty)
    val nVec = spark.read.parquet(s"$sf/embeddings.parquet").count()
    assert(rows.map(_.getAs[Long]("cell_load")).sum == nVec)
    val r0 = rows.head
    assert(r0.getAs[Long]("n_vectors") == nVec)
    assert(r0.getAs[Long]("n_cells") == rows.length.toLong)
    assert(r0.getAs[Long]("max_load") ==
      rows.map(_.getAs[Long]("cell_load")).max)
    val sumSq = rows.map(l => l.getAs[Long]("cell_load"))
      .map(l => l * l).sum
    assert(r0.getAs[Double]("exp_probe_cost") ==
      BigDecimal(sumSq.toDouble / nVec)
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble + 0.0)
    // probe cost sits between the uniform ideal N/cells and a single hot cell N
    assert(r0.getAs[Double]("exp_probe_cost") >=
      nVec.toDouble / rows.length - 1e-4)
    assert(r0.getAs[Double]("exp_probe_cost") <= nVec.toDouble + 1e-4)
    assert(r0.getAs[Double]("imbalance") >= 1.0 - 1e-4)
  }

  test("q209 link predictions equal the brute-force RA ranking on the rare-shingle graph") {
    val rows = run("q209_linkpred_resource_allocation").collect()
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val shingles = docs.flatMap { case (id, t) =>
      val w = t.split(" ")
      (0 to w.length - 3).map(i => (id, w.slice(i, i + 3).mkString(" ")))
        .distinct
    }
    val df = shingles.groupBy(_._2).map { case (sh, xs) => sh -> xs.length }
    val rare = shingles.filter(x => df(x._2) >= 2 && df(x._2) <= 3)
    val edges = rare.groupBy(_._2).values.flatMap { xs =>
      val ids = xs.map(_._1).sorted
      for (i <- ids.indices; j <- (i + 1) until ids.length)
        yield (ids(i), ids(j))
    }.toSet
    val adj = (edges.toSeq.flatMap { case (a, b) => Seq(a -> b, b -> a) })
      .groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).toSet }
    val deg = adj.map { case (k, vs) => k -> vs.size.toLong }
    val cand = adj.toSeq.flatMap { case (z, ns) =>
      val sorted = ns.toSeq.sorted
      for (i <- sorted.indices; j <- (i + 1) until sorted.length)
        yield ((sorted(i), sorted(j)), 1000000L / deg(z))
    }.groupBy(_._1)
      .map { case (p, ws) => (p, ws.length.toLong, ws.map(_._2).sum) }
      .filter(x => !edges.contains(x._1))
    val expect = cand.toSeq
      .sortBy { case ((a, b), _, ra) => (-ra, a, b) }.take(20)
    assert(rows.length == expect.length)
    rows.zip(expect).foreach { case (r, ((a, b), cn, ra)) =>
      assert(r.getAs[Long]("doc_a") == a && r.getAs[Long]("doc_b") == b)
      assert(r.getAs[Long]("common_neighbors") == cn)
      assert(r.getAs[Long]("ra_micro") == ra)
    }
  }
}
