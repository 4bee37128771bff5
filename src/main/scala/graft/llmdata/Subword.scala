package graft.llmdata

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.UserDefinedFunction
import org.apache.spark.sql.functions._

/** What the three subword tokenizers ([[Bpe]], [[WordPiece]],
  * [[Unigram]]) share around their own algorithms: the word-type
  * census every fit starts from, and the token-occurrence streams
  * their serving reads.
  */
private[graft] object Subword {

  /** Word-type table `(__tok, __cnt)` — the single corpus scan (one
    * tokenize+explode+groupBy shuffle over a short string key).
    */
  def typeTable(df: DataFrame, text: String): DataFrame =
    df.where(col(text).isNotNull)
      .select(explode(Dedup.normalizeTokens(col(text))).as("__tok"))
      .groupBy(col("__tok")).agg(count(lit(1)).as("__cnt"))

  /** Token occurrences `(id, __pos, __tok)` of the non-null `text`
    * rows, `__pos` the 0-based word position in its document.
    */
  private def occurrences(df: DataFrame, id: String,
      text: String): DataFrame =
    df.where(col(text).isNotNull)
      .select(col(id), posexplode(Dedup.normalizeTokens(col(text)))
        .as(Seq("__pos", "__tok")))

  /** Dictionary-join serving: the frame's DISTINCT tokens are encoded
    * once through `encode` (a vocabulary-sized job) and broadcast-
    * joined back to the occurrence stream as column `__enc`, so a
    * repeated token — virtually all of a natural corpus — costs one
    * hash lookup, not one encode. Output `(__tok, id, __pos, __enc)`.
    */
  def encodeDistinct(df: DataFrame, id: String, text: String,
      encode: UserDefinedFunction): DataFrame = {
    val toks = occurrences(df, id, text)
    val dict = toks.select(col("__tok")).distinct()
      .withColumn("__enc", encode(col("__tok")))
    toks.join(broadcast(dict), Seq("__tok"))
  }

  /** Per-occurrence draw stream `(id, __pos, __tok, __seed)` for
    * sampling encoders, where every occurrence draws its own
    * segmentation (so there is deliberately no dictionary join).
    * `__seed = xxhash64(id, __pos, seed)` is computed IN the plan, so
    * draws are deterministic under any partitioning and replay.
    */
  def seededOccurrences(df: DataFrame, id: String, text: String,
      seed: Long): DataFrame =
    occurrences(df, id, text)
      .withColumn("__seed", xxhash64(col(id), col("__pos"), lit(seed)))
}
