package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import graft.Tables
import graft.api.{TextOps, VectorOps}

/** Layer probes over one corpus directory the session has not seen:
  * kernel throughput, the TextOps consumers in cold-then-warm order,
  * and IVF against brute-force top-k. Returns per-layer figures. */
object Probes {
  private def timed[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime(); val a = f; (a, (System.nanoTime() - t0) / 1e9)
  }

  /** Token-set Jaccard pairs ≥ tau by brute force over the collected
    * corpus (the oracle's pair predicate). */
  private def bruteForcePairs(docs: DataFrame, tau: Double): Set[(Long, Long)] = {
    val rows = docs.select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1).split(" ").toSet)).sortBy(_._1)
    val out = Set.newBuilder[(Long, Long)]
    for (i <- rows.indices; j <- i + 1 until rows.length) {
      val (a, x) = rows(i); val (b, y) = rows(j)
      val inter = x.count(y.contains)
      if (inter.toDouble / (x.size + y.size - inter) >= tau) out += ((a, b))
    }
    out.result()
  }

  def corpus(spark: SparkSession, dir: String): Map[String, Double] = {
    graft.functions.Graft.registerAll(spark)
    val docs = Tables.t(spark, dir, "documents")
    val vecs = Tables.t(spark, dir, "embeddings")
    docs.count(); vecs.count()
    // kernel throughput: each kernel over the corpus replicated 40×,
    // folded to one number so no projection is pruned
    val rep = spark.range(40).toDF("rep")
    val many = docs.crossJoin(rep).cache()
    val manyV = vecs.crossJoin(rep).cache()
    val n = many.count().toDouble; val nv = manyV.count().toDouble
    def rate(df: DataFrame, rows: Double, e: String): Double = {
      df.selectExpr(s"bit_xor(xxhash64($e))").collect()
      val (_, s) = timed(df.selectExpr(s"bit_xor(xxhash64($e))").collect())
      rows / s
    }
    val kernels = Map(
      "functions.minhash_sig_rows_per_s" ->
        rate(many, n, "minhash_sig(ngram_set(text, 1), 32)"),
      "functions.simhash_sig_rows_per_s" ->
        rate(many, n, "simhash_sig(ngram_set(text, 1))"),
      "functions.ngram_set_rows_per_s" -> rate(many, n, "ngram_set(text, 3)"),
      "functions.vec_dot_rows_per_s" ->
        rate(manyV, nv, "vec_dot(transform(embedding, x -> cast(x as double)), transform(embedding, x -> cast(x as double)))"))
    many.unpersist(); manyV.unpersist()

    val (pairs, first) = timed(TextOps.minhashNearDupPairs(docs, "doc_id", "text", tau = 0.95)
      .select(col("a"), col("b")).collect().map(r => (r.getLong(0), r.getLong(1))).toSet)
    val (_, second) = timed(TextOps.setNearDupClusters(docs, "doc_id",
      TextOps.tokenSet(col("text")), 0.95).count())
    val (_, simhash) = timed(TextOps.simhashNearDupPairs(docs, "doc_id", "text",
      tau = 0.95, maxHamming = 8).count())
    val (_, decontam) = timed(TextOps.exactNgramContamination(
      docs.filter(col("doc_id") % 20 === 0), "doc_id", "text",
      docs.filter(col("doc_id") % 20 =!= 0), "text", n = 5).count())
    val truth = bruteForcePairs(docs, 0.95)
    val recall = if (truth.isEmpty) 1.0 else truth.count(pairs.contains).toDouble / truth.size

    val probes = vecs.filter(col("vec_id") < 20)
    val (index, build) = timed {
      val i = VectorOps.buildIvfIndex(vecs, "vec_id", "embedding")
      i.assigned.count(); i
    }
    def topk(df: DataFrame): Set[(Long, Long)] =
      df.select(col("pid"), col("cid")).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val (ivf, ivfS) = timed(topk(VectorOps.ivfProbe(index, probes, "vec_id", "embedding", k = 10)))
    val (exact, bruteS) = timed(topk(VectorOps.cosineTopK(vecs, probes, "vec_id", "embedding", 10)))
    val ivfRecall = if (exact.isEmpty) 1.0 else exact.count(ivf.contains).toDouble / exact.size

    kernels ++ Map(
      "textops.first_consumer_s" -> first,
      "textops.second_consumer_s" -> second,
      "textops.simhash_s" -> simhash,
      "textops.decontam_s" -> decontam,
      "textops.pairs_found" -> pairs.size.toDouble,
      "textops.pair_recall" -> recall,
      "vectorops.ivf_build_s" -> build,
      "vectorops.ivf_topk_s" -> ivfS,
      "vectorops.bruteforce_topk_s" -> bruteS,
      "vectorops.ivf_recall" -> ivfRecall)
  }
}
