package graft.dedup

import graft.text.TextFunctions.distinctCharNgrams
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The exploded-join form of [[Dedup.verifyCandidates]], its executable
  * specification: every candidate doc's distinct char n-grams as gram
  * ROWS, pairs ⋈ grams(doc_a) on doc_a, then an equi-join on
  * (doc_b, gram) picks the shared grams, and an aggregate per pair counts
  * them. Gram equality is string (byte) equality, the definition the
  * packed sets must reproduce.
  */
object ExplodedVerify {

  def apply(docs: DataFrame, candidates: DataFrame, id: Column, text: Column,
            n: Int, minJaccard: Double, roundTo: Int = 6): DataFrame = {
    val cands = candidates.dropDuplicates("doc_a", "doc_b")
    val grams = docs.select(id.as("doc_id"), distinctCharNgrams(text, n).as("gs"))
      .select(col("doc_id"), size(col("gs")).as("sz"), explode(col("gs")).as("g"))
    cands
      .join(grams.select(col("doc_id").as("doc_a"), col("sz").as("__sza"),
        col("g")), "doc_a")
      .join(grams.select(col("doc_id").as("doc_b"), col("sz").as("__szb"),
        col("g")), Seq("doc_b", "g"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("inter"),
        max(col("__sza")).as("sz_a"), max(col("__szb")).as("sz_b"))
      .withColumn("jaccard", round(col("inter") /
        (col("sz_a") + col("sz_b") - col("inter")), roundTo))
      .filter(col("jaccard") >= minJaccard)
      .select("doc_a", "doc_b", "jaccard")
  }
}
