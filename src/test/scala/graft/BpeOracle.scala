package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.ext.Bpe

/** Reference forms of the byte-level BPE id, count and specials
  * tokenizers, as DataFrame joins against a materialized segment table
  * ([[Bpe.segmentTableBytes]]) instead of the library's per-row kernels.
  * A word absent from `segments` falls back to its raw byte symbols, so
  * these agree with the kernels exactly when `segments` covers every
  * word of the tokenized corpus — BpeSpec's OOV law builds it from that
  * corpus's own words. */
object BpeOracle {

  private def byteSymbols(word: Column): Column =
    transform(sequence(lit(1), length(word)), i => word.substr(i, lit(1)))

  /** (idCol, pos, subpos, token_id): [[Bpe.tokenizeBytes]] plus a
    * broadcast vocab join; a subword missing from `vocabIds` is −1. */
  def tokenizeBytesToIds(df: DataFrame, idCol: String, textCol: String,
      segments: DataFrame, vocabIds: Map[String, Int]): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val vocab = vocabIds.toSeq.toDF("subword", "token_id")
    Bpe.tokenizeBytes(df, idCol, textCol, segments)
      .join(broadcast(vocab), Seq("subword"), "left")
      .select(col(idCol), col("pos"), col("subpos"),
        coalesce(col("token_id"), lit(-1)).as("token_id"))
  }

  /** (idCol, ntok): word rows joined against the segment table's sizes;
    * an unknown word counts its byte symbols. Docs without words drop. */
  def tokenCountsBytes(df: DataFrame, idCol: String, textCol: String,
      segments: DataFrame): DataFrame = {
    val sizes = segments.select(col("word"), size(col("subwords")).as("__n"))
    df.select(col(idCol), explode(Bpe.byteWords(col(textCol))).as("word"))
      .join(broadcast(sizes), Seq("word"), "left")
      .groupBy(col(idCol))
      .agg(sum(coalesce(col("__n"), length(col("word")))).as("ntok"))
  }

  /** [[tokenizeBytesToIds]] with specials as atomic ids: split the text
    * on a longest-first literal alternation, tokenize the pieces between
    * occurrences, and renumber words-and-specials densely per doc. */
  def tokenizeBytesToIdsWithSpecials(df: DataFrame, idCol: String,
      textCol: String, segments: DataFrame, vocabIds: Map[String, Int],
      specials: Seq[(String, Int)]): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val alt = specials.sortBy(-_._1.length)
      .map(s => java.util.regex.Pattern.quote(s._1)).mkString("|")
    // pieces = seg0, m0, seg1, m1, ..., segN (split keeps trailing
    // empties with limit -1, so |segs| = |m| + 1)
    val segs = split(col(textCol), alt, -1)
    val matched = regexp_extract_all(col(textCol), lit(s"($alt)"), lit(1))
    val pieces = df.select(col(idCol),
        posexplode(flatten(zip_with(
          segs, concat(matched, array(lit(null).cast("string"))),
          (s, m) => array(struct(s.as("piece"), lit(false).as("is_special")),
            struct(m.as("piece"), lit(true).as("is_special"))))))
          .as(Seq("piecepos", "p")))
      .filter(col("p.piece").isNotNull)
      .select(col(idCol), col("piecepos"),
        col("p.piece").as("piece"), col("p.is_special").as("is_special"))
    val specialId = specials.foldLeft(lit(null).cast("int")) { case (acc, (c, id)) =>
      when(col("piece") === c, lit(id)).otherwise(acc)
    }
    val specialRows = pieces.filter(col("is_special"))
      .select(col(idCol), col("piecepos"), lit(0).as("wordpos"),
        lit(0).as("subpos"), specialId.as("token_id"))
    val vocab = vocabIds.toSeq.toDF("subword", "token_id")
    val textRows = pieces.filter(!col("is_special"))
      .select(col(idCol), col("piecepos"),
        posexplode(Bpe.byteWords(col("piece"))).as(Seq("wordpos", "word")))
      .join(broadcast(segments), Seq("word"), "left")
      .select(col(idCol), col("piecepos"), col("wordpos"),
        posexplode(coalesce(col("subwords"), byteSymbols(col("word"))))
          .as(Seq("subpos", "subword")))
      .join(broadcast(vocab), Seq("subword"), "left")
      .select(col(idCol), col("piecepos"), col("wordpos"), col("subpos"),
        coalesce(col("token_id"), lit(-1)).as("token_id"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(idCol)).orderBy(col("piecepos"), col("wordpos"))
    specialRows.unionByName(textRows)
      .withColumn("pos", (dense_rank().over(w) - 1).cast("int"))
      .select(col(idCol), col("pos"), col("subpos").cast("int"), col("token_id"))
  }
}
