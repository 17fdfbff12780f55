package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.{DotProduct, MinHashSketch, PqEncodeCodes, SimHashSketch, TopKLongPairs}
import graft.sources.Tables

/** The `functions` layer on its own: executor CPU nanoseconds per input
  * row of a one-operator query over a cached input. Row kernels (dot,
  * pq_encode) run in a projection against a literal model; aggregate
  * kernels (minhash, simhash, topk) in a global aggregate, whose only
  * exchange carries one partial buffer per task. The inputs are the
  * fixture's documents (one row per word) and embeddings, repeated so
  * that the kernel, not the task overhead, dominates. */
object Kernels {
  val runs = 5
  val wordCopies = 8
  val vecCopies = 64

  def measure(spark: SparkSession, sf: String, trace: Trace): Map[String, Any] = {
    val copies = (n: Int) => explode(sequence(lit(1), lit(n))).as("copy")
    val words = Tables.documents(spark, sf)
      .select(col("doc_id"), posexplode(split(col("text"), " ")).as(Seq("pos", "w")))
      .select(copies(wordCopies), col("doc_id"), col("pos").cast("long").as("pos"),
        xxhash64(col("w")).as("h"))
      .cache()
    val vecs = Tables.embeddings(spark, sf)
      .select(copies(vecCopies), col("vec_id"),
        col("embedding").cast("array<double>").as("fv"))
      .cache()
    val nWords = words.count()
    val nVecs = vecs.count()
    // the model: one query vector, and a product-quantization codebook
    // of 4-dim sub-spaces with 8 codes each, cut from the first vectors
    val first = Tables.embeddings(spark, sf).orderBy("vec_id").limit(8)
      .select(col("embedding").cast("array<double>")).collect().map(_.getSeq[Double](0))
    val dims = first.head.length
    val query: Column = typedLit(first.head)
    val codebook: Column = array((0 until dims / 4).map { sub =>
      array(first.indices.map { c =>
        struct(lit(c.toLong).as("code"), typedLit(first(c).slice(sub * 4, sub * 4 + 4)).as("cv"))
      }: _*)
    }: _*)

    val kernels: Seq[(String, Long, DataFrame)] = Seq(
      ("dot", nVecs, vecs.select(DotProduct.dot(col("fv"), query).as("d"))),
      ("minhash", nWords, words.agg(MinHashSketch.minhash(col("h"), 42).as("sig"))),
      ("simhash", nWords, words.agg(SimHashSketch.simhash(col("h"), lit(1L), 60).as("sig"))),
      ("topk", nWords, words.agg(TopKLongPairs.topkPairs(col("h"), col("pos"), 10).as("top"))),
      ("pq_encode", nVecs, vecs.select(PqEncodeCodes.codes(col("fv"), codebook).as("codes"))))

    val out = kernels.map { case (name, rows, q) =>
      // one untimed run first, so that planning and codegen stay out;
      // drained so that none of its events count towards the timed runs
      q.write.format("noop").mode("overwrite").save()
      trace.drain()
      val ns = (0 until runs).map { i =>
        val id = s"kernel:$name:$i"
        trace.current = id
        spark.sparkContext.setLocalProperty(Trace.Key, id)
        try q.write.format("noop").mode("overwrite").save()
        finally {
          spark.sparkContext.setLocalProperty(Trace.Key, null)
          trace.current = null
        }
        trace.drain()
        trace.snapshot(id).map(_.cpuNs).getOrElse(0L).toDouble / rows
      }.sorted
      val med = ns(runs / 2)
      name -> Map("ns_row" -> med, "rows" -> rows, "runs" -> ns,
        "spread" -> (ns.last - ns.head) / med)
    }.toMap
    words.unpersist()
    vecs.unpersist()
    out
  }
}
