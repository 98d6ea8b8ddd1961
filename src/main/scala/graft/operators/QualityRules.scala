package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Repetition / diversity quality signals in the Gopher-rules style:
  * documents dominated by a single repeated phrase, or with collapsed
  * vocabulary, are low-quality training text regardless of length. All
  * signals are per-document; the only non-scan-local step is the top-bigram
  * count (a (doc, gram) count + per-doc max — two partial-agg-friendly
  * aggregations keyed by doc id).
  */
object QualityRules {

  /** Per-document report: token count, distinct-token ratio, mean token
    * length, and the fraction of tokens covered by the document's most
    * frequent bigram (0 for documents with fewer than 2 tokens). Zero-token
    * documents are dropped (no denominators).
    *
    * Every signal is per-document, so the whole report is ONE scan-local
    * pass: the native [[graft.functions.NativeTextExpressions.TokenProfile]]
    * walks the tokens once per row (the earlier relational formulation —
    * explode bigrams, count, max, join back — scanned the corpus twice and
    * shuffled twice for a quantity that never needed to leave the row;
    * parity with it is asserted in QualityRulesSpec).
    */
  def repetitionReport(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    docs
      .select(col(idCol).as("doc_id"), expr(s"token_profile($textCol)").as("__p"))
      .filter(col("__p.n_tokens") > 0)
      .select(col("doc_id"),
        col("__p.n_tokens").as("n_tokens"),
        round(col("__p.distinct_tokens").cast("double") / col("__p.n_tokens"), 4)
          .as("distinct_ratio"),
        round(col("__p.sum_token_len").cast("double") / col("__p.n_tokens"), 4)
          .as("mean_token_len"),
        round((col("__p.top_bigram_count") * 2).cast("double") / col("__p.n_tokens"), 4)
          .as("top_bigram_frac"))
  }

  /** Compression-ratio quality report (the Gopher/CCNet "gzip rule"):
    * `deflate_len(text) / octet_length(text)` per document, one scan-local
    * pass via the native [[graft.functions.NativeTextExpressions
    * .DeflateLen]] expression. Low ratios flag repetitive boilerplate,
    * ratios near (or above) 1.0 flag near-random strings — both ends are
    * poor training text. The two cutoffs classify each document; the
    * ratio itself is emitted so downstream filters can re-threshold
    * without recomputing. No shuffle at all — at 100 TB this is a pure
    * map over the corpus scan.
    */
  def compressionReport(docs: DataFrame, idCol: String, textCol: String,
                        minRatio: Double = 0.2, maxRatio: Double = 0.95,
                        level: Int = 6): DataFrame = {
    docs
      .filter(octet_length(col(textCol)) > 0)
      .select(col(idCol).as("doc_id"),
        octet_length(col(textCol)).as("n_bytes"),
        expr(s"deflate_len($textCol, $level)").as("deflate_bytes"))
      .withColumn("compression_ratio",
        round(col("deflate_bytes").cast("double") / col("n_bytes"), 4))
      .withColumn("quality_class",
        when(col("compression_ratio") < minRatio, "repetitive")
          .when(col("compression_ratio") > maxRatio, "random")
          .otherwise("ok"))
  }
}
