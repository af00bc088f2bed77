package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.ext.LangId

/** Reference forms of the LangId scorers in DataFrame and column
  * algebra, against which LangIdSpec pins the library's per-row
  * kernels. */
object LangIdOracle {

  private val Dec = DecimalType(28, 10)

  /** Weight-table join scoring: (idCol, lang, margin). Per-(doc, bucket)
    * L1-normalized counts ([[LangId.features]], `bucketOf` as in
    * training), a broadcast weight join, 9-decimal rounded margin terms
    * summed as exact DECIMAL, the intercept add, argmax with ties to the
    * lexicographically larger code, margin rounded to 6 decimals. Docs
    * with no in-model gram produce no row. The reference for
    * [[LangId.predictStored]] (with [[LangId.portableBucket]]) and for
    * [[LangId.langIdCol]]'s argmax (default xxhash64 bucketer). */
  def predict(df: DataFrame, model: LangId.Model, idCol: String,
      textCol: String, bucketOf: Column => Column = null): DataFrame = {
    val bOf = typedLit(model.interceptOf)
    LangId.features(df, idCol, textCol, model.dim, model.minN, model.maxN, bucketOf)
      .join(broadcast(model.weightRows(df.sparkSession)), Seq("idx"))
      .groupBy(col(idCol), col("lang"))
      .agg(sum(round(col("w") * col("cnt"), 9).cast(Dec)).cast("double").as("_m"))
      .select(col(idCol), col("lang"), (col("_m") + element_at(bOf, col("lang"))).as("m"))
      .groupBy(idCol)
      .agg(max(struct(col("m"), col("lang"))).as("_b"))
      .select(col(idCol), col("_b.lang").as("lang"), round(col("_b.m"), 6).as("margin"))
  }

  /** [[LangId.langIdCol]]'s math in plain column algebra (fold +
    * zip_with over [[LangId.charNgrams]]): double margins summed in gram
    * order, divided by the gram count, plus the intercept. */
  def langIdColFold(textCol: Column, model: LangId.Model,
      fallback: Column = lit("und")): Column = {
    val zeros = typedLit(Seq.fill(model.langs.size)(0.0))
    val wMap = typedLit(model.weights)
    val grams = LangId.charNgrams(textCol, model.minN, model.maxN)
    val folded = aggregate(grams, zeros, (acc, g) =>
      zip_with(acc,
        coalesce(element_at(wMap, pmod(xxhash64(g), lit(model.dim)).cast("int")), zeros),
        (a, b) => a + b))
    val withB = zip_with(folded, typedLit(model.intercepts), (m, b) => m / size(grams) + b)
    val best = array_max(zip_with(withB, typedLit(model.langs),
      (m, l) => struct(m.as("m"), l.as("lang"))))
    when(size(grams) > 0, best.getField("lang")).otherwise(fallback)
  }

  /** [[LangId.predictPortable]] as an explode and two aggregations:
    * md5 4-hex-char buckets, per-(doc, bucket) counts, the rank-1
    * weights `baseOfBucket`/`deltaOfBucket` as closed-form columns over
    * the bucket string, 9-decimal terms `(w · c) / n` summed as DECIMAL,
    * margins `A + k·B + intercept_k`, array_max argmax. */
  def predictPortable(df: DataFrame, idCol: String, textCol: String,
      langs: Seq[String], minN: Int, maxN: Int,
      baseOfBucket: Column => Column, deltaOfBucket: Column => Column,
      interceptOf: Int => Double): DataFrame = {
    val g = df.select(col(idCol), explode(LangId.charNgrams(col(textCol), minN, maxN)).as("g"))
    val n = df.select(col(idCol),
      LangId.gramCount(col(textCol), minN, maxN).cast("double").as("_n"))
    val b = g.select(col(idCol), substring(md5(col("g")), 1, 4).as("bucket"))
      .groupBy(idCol, "bucket").agg(count(lit(1)).cast("double").as("_c"))
    val sums = b.join(n, idCol).filter(col("_n") > 0).groupBy(idCol).agg(
      sum(round(baseOfBucket(col("bucket")) * col("_c") / col("_n"), 9).cast(Dec))
        .cast("double").as("_a"),
      sum(round(deltaOfBucket(col("bucket")) * col("_c") / col("_n"), 9).cast(Dec))
        .cast("double").as("_b"))
    val entries = langs.indices.map { ki =>
      struct((col("_a") + lit(ki.toDouble) * col("_b") + lit(interceptOf(ki))).as("m"),
        lit(langs(ki)).as("lang"))
    }
    sums.select(col(idCol), array_max(array(entries: _*)).as("_best"))
      .select(col(idCol), col("_best.lang").as("lang"),
        round(col("_best.m"), 6).as("margin"))
  }
}
