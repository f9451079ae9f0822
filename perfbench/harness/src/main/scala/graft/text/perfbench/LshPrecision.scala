package graft.text.perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.text.TextOps

/** Precision of the program's MinHash LSH banding, measured with its own
  * functions (this package sits under `graft.text` to reach them). */
object LshPrecision {

  /** The exact-Jaccard threshold `q_minhash_lsh` verifies candidates at. */
  val Threshold = 0.04

  /** Verified near-duplicate pairs over LSH candidate pairs: the candidates
    * are `TextOps.lshCandidatePairs`, the pairs the dedup queries cluster
    * on; a candidate is verified when the exact Jaccard of the two documents'
    * shingle sets, rounded as `q_minhash_lsh` rounds it, reaches
    * [[Threshold]]. 0 when there are no candidates. */
  def apply(s: SparkSession, d: String): Double = {
    val sh = TextOps.docShingles(s, d)
    val cand = TextOps.lshCandidatePairsFrom(TextOps.bandTableFrom(sh))
    val sizes = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("sz"))
    val verified = cand
      .join(sh.select(col("doc_id").as("doc_a"), col("s")), Seq("doc_a"))
      .join(sh.select(col("doc_id").as("doc_b"), col("s").as("s2")), Seq("doc_b"))
      .filter(col("s") === col("s2"))
      .groupBy(col("doc_a"), col("doc_b")).agg(count(lit(1)).as("inter"))
      .join(sizes.select(col("doc_id").as("doc_a"), col("sz").as("sz_a")), Seq("doc_a"))
      .join(sizes.select(col("doc_id").as("doc_b"), col("sz").as("sz_b")), Seq("doc_b"))
      .filter(round(col("inter") / (col("sz_a") + col("sz_b") - col("inter")), 6) >= Threshold)
      .count()
    val candidates = cand.count()
    if (candidates == 0) 0.0 else verified.toDouble / candidates
  }
}
