package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Benchmark decontamination: remove training documents that share verbatim
  * word n-grams with an evaluation/benchmark corpus — the standard guard
  * against test-set leakage in LLM training data (published pipelines use
  * 8–13-gram collision; the n is a parameter here).
  *
  * Shape at 100 TB: both sides explode to distinct per-document n-grams at
  * scan time (scan-local, one pass), the benchmark side reduces to a
  * DISTINCT gram set (tiny relative to the corpus — benchmarks are MBs, not
  * TBs, so it broadcasts), and membership is a semi/anti join keyed on
  * `xxhash64(gram)` — the shuffle/broadcast carries 8-byte keys, never gram
  * strings. A 64-bit collision can only ever OVER-suppress (drops an extra
  * training doc with probability ~N_grams²/2^64 — vanishing, and the safe
  * direction for decontamination). Results are id-sets, so the DuckDB
  * oracle joining on the gram STRINGS verifies the hashed join end-to-end
  * (q66).
  */
object Decontaminate {

  /** Distinct (id, gram-hash) pairs for a document table: the
    * [[Dedup.gramPostings]] of the native single-pass expression (gram
    * strings never leave the eval), value-identical to
    * `xxhash64(explode(TextFunctions.wordNgrams(text, n)))` and
    * parity-tested against it in NativeTextExpressionsSpec.
    */
  private def gramKeys(docs: DataFrame, idCol: String, textCol: String, n: Int): DataFrame =
    Dedup.gramPostings(docs, idCol, textCol, n).select(col("id").as("__id"), col("gh").as("__gh"))

  /** Corpus rows with every benchmark-colliding document removed — the
    * filter applied to the training set before tokenization. Anti-join on
    * the hashed gram keys; all corpus columns pass through untouched.
    */
  def suppress(corpus: DataFrame, benchmark: DataFrame,
               idCol: String, textCol: String,
               benchTextCol: String, n: Int = 8): DataFrame = {
    val benchGrams = gramKeys(benchmark.select(lit(0L).as("__bid"), col(benchTextCol)),
        "__bid", benchTextCol, n)
      .select(col("__gh")).distinct()
    val hit = gramKeys(corpus, idCol, textCol, n)
      .join(broadcast(benchGrams), "__gh")
      .select(col("__id")).distinct()
    corpus.join(hit, col(idCol) === col("__id"), "left_anti")
  }
}
