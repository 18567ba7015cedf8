package graftbench

import org.apache.spark.sql.SparkSession

/** The `functions` layer on its own: each `FunctionCatalog` function
  * evaluated once over the llm_corpus input columns (`documents.text`
  * and the `embeddings` vectors, replicated `Replicas` times so the
  * kernel, not the fixed per-query cost, dominates), materialized
  * through the `noop` sink. One timing per catalog entry. */
object Kernels {
  val Replicas = 64

  val calls: Seq[(String, String)] = Seq(
    "simhash64" -> "SELECT simhash64(toks) FROM k_docs",
    "minhash_sig16" -> "SELECT minhash_sig16(toks) FROM k_docs",
    "lsh_buckets_8x6" -> "SELECT lsh_buckets_8x6(embedding) FROM k_vecs",
    "lsh_probe_buckets_8x6" -> "SELECT lsh_probe_buckets_8x6(embedding) FROM k_vecs",
    "sorted_intersect_count" -> ("SELECT sorted_intersect_count(h, array_sort(" +
      "transform(h, x -> x - x % 2))) FROM (SELECT array_sort(transform(toks, " +
      "t -> xxhash64(t))) AS h FROM k_docs)"),
    "poly_hash" -> "SELECT poly_hash(text) FROM k_docs",
    "rolling_min4_w8" -> "SELECT rolling_min4_w8(text) FROM k_docs",
    "portable_simhash60" -> "SELECT portable_simhash60(toks) FROM k_docs",
    "cosine_sim" -> "SELECT cosine_sim(embedding, reverse(embedding)) FROM k_vecs",
    "shingles" -> "SELECT shingles(toks, 3) FROM k_docs",
    "topk_by" -> "SELECT r, topk_by(CAST(n_chars AS DOUBLE), doc_id, 5) FROM k_docs GROUP BY r",
    "topk_by_distinct" ->
      "SELECT lang, topk_by_distinct(CAST(n_chars AS DOUBLE), doc_id, 5) FROM k_docs GROUP BY lang",
    "bloom_agg" -> "SELECT bloom_agg(xxhash64(doc_id, r), 100000L, 800000L) FROM k_docs",
    "bloom_might_contain" -> ("SELECT bloom_might_contain((SELECT bloom_agg(" +
      "xxhash64(doc_id), 10000L, 80000L) FROM documents), xxhash64(doc_id, r)) FROM k_docs"))

  /** Seconds per catalog entry (build + noop materialization). */
  def time(spark: SparkSession, data: String): Map[String, Double] = {
    graft.functions.FunctionCatalog.register(spark,
      graft.functions.FunctionCatalog.builders.map(_._1): _*)
    graft.Tables(spark, data, "documents").createOrReplaceTempView("documents")
    spark.sql(s"SELECT d.*, r.id AS r, split(lower(d.text), ' ') AS toks " +
      s"FROM documents d CROSS JOIN range($Replicas) r").createOrReplaceTempView("k_docs")
    graft.Tables(spark, data, "embeddings").crossJoin(spark.range(Replicas))
      .createOrReplaceTempView("k_vecs")
    calls.map { case (name, sql) =>
      val t0 = System.nanoTime()
      spark.sql(sql).write.format("noop").mode("overwrite").save()
      name -> (System.nanoTime() - t0) / 1e9
    }.toMap
  }
}
