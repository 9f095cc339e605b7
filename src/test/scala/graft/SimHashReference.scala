package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The column-tree SimHash the native [[graft.functions.SimHash64]]
  * kernel replaced: explode per word and per hex nibble, shuffled
  * majority votes, re-packed hex. Kept as the REFERENCE twin the kernel is
  * pinned bit-identical to (the way `DedupOps.hammingHex64` twins
  * `HammingHex`); it mirrors the DuckDB oracle SQL step for step. It
  * hashes per `doc_id`, so inputs compared against the per-row kernel
  * carry unique ids.
  */
object SimHashReference {

  private val HexDigits = "0123456789abcdef"

  private def words(docs: DataFrame, maxLen: Int): DataFrame =
    docs
      .select(col("doc_id"),
        explode(split(substring(col("text"), 1, maxLen), " ")).as("word"))
      .filter(length(col("word")) > 0)

  /** (doc_id, 16-hex-char simhash); no row for null or tokenless text. */
  def simhash64(docs: DataFrame, maxLen: Int): DataFrame = {
    val ws = words(docs, maxLen)
      .select(col("doc_id"), substring(md5(col("word")), 1, 16).as("h"))
    val nibVal = conv(col("h").substr(col("i") + 1, lit(1)), 16, 10).cast("int")
    def vote(weight: Int): Column =
      sum(when(pmod(floor(col("nv") / weight).cast("int"), lit(2)) === 1, 1)
        .otherwise(-1))
    val nibs = ws
      .select(col("doc_id"), explode(sequence(lit(0), lit(15))).as("i"), col("h"))
      .select(col("doc_id"), col("i"), nibVal.as("nv"))
      .groupBy("doc_id", "i")
      .agg(vote(8).as("v3"), vote(4).as("v2"), vote(2).as("v1"), vote(1).as("v0"))
    val packed =
      when(col("v3") > 0, 8).otherwise(0) + when(col("v2") > 0, 4).otherwise(0) +
        when(col("v1") > 0, 2).otherwise(0) + when(col("v0") > 0, 1).otherwise(0)
    nibs
      .select(col("doc_id"), col("i"),
        lit(HexDigits).substr(packed + 1, lit(1)).as("ch"))
      .groupBy("doc_id")
      .agg(concat_ws("", transform(
        array_sort(collect_list(struct(col("i"), col("ch")))),
        x => x.getField("ch"))).as("simhash"))
  }

  /** (doc_id, 16-bit int simhash): bit j = majority of the top bit of
    * md5 hex nibble j across words. */
  def simhash16(docs: DataFrame, maxLen: Int): DataFrame = {
    val hs = words(docs, maxLen).select(col("doc_id"), md5(col("word")).as("h"))
    val bits = hs
      .select(col("doc_id"), explode(sequence(lit(0), lit(15))).as("j"), col("h"))
      .select(col("doc_id"), col("j"),
        when(col("h").substr(col("j") + 1, lit(1)).isin(
          "8", "9", "a", "b", "c", "d", "e", "f"), 1).otherwise(-1).as("vote"))
      .groupBy("doc_id", "j")
      .agg(sum("vote").as("v"))
    bits
      .select(col("doc_id"),
        when(col("v") > 0, pow(lit(2.0), col("j"))).otherwise(lit(0.0)).as("contrib"))
      .groupBy("doc_id")
      .agg(sum("contrib").cast("int").as("simhash"))
  }
}
