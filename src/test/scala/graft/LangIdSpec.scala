package graft

import org.apache.spark.sql.functions._

import graft.ext.LangId

/** Trained char-n-gram language ID: the softmax model separates a
  * 20-language corpus on held-out documents, training is
  * partition-order invariant (decimal-summed margins/normalizers/
  * gradients), each scoring kernel equals its reference form in
  * [[LangIdOracle]], and no-signal documents fall back. */
class LangIdSpec extends SparkTestBase {
  import spark.implicits._

  test("charNgrams: all 1..3-grams of the normalized text, empty-safe") {
    val out = Seq(("a b", 1), ("", 2), ("xy", 3)).toDF("t", "i")
      .select(col("i"), LangId.charNgrams(col("t")).as("g"))
      .as[(Int, Seq[String])].collect().toMap
    assert(out(1) == Seq("a", " ", "b", "a ", " b", "a b"))
    assert(out(2) == Seq.empty)
    assert(out(3) == Seq("x", "y", "xy")) // no 3-gram of a 2-char doc
  }

  test("holdout accuracy >= 0.9 across 20 languages") {
    val train = LangId.Seed.corpus(spark, docsPerLang = 40, salt = 0)
    val hold = LangId.Seed.corpus(spark, docsPerLang = 25, salt = 11)
    val m = LangId.train(train, "sid", "text", "lang")
    assert(m.langs == LangId.Seed.Vocab.map(_._1).sorted)
    assert(m.weights.keySet.forall(i => i >= 0 && i < m.dim))
    val scored = hold
      .select((LangId.langIdCol(col("text"), m) === col("lang")).cast("int").as("ok"))
      .as[Int].collect()
    val acc = scored.sum.toDouble / scored.length
    assert(acc >= 0.9, s"holdout accuracy $acc on ${scored.length} docs")
  }

  test("training is partition-order invariant: repartitioned input -> identical model") {
    val docs = LangId.Seed.corpus(spark, docsPerLang = 12, salt = 0)
      .filter(col("lang").isin("en", "de", "fr", "ru", "zh"))
    val m1 = LangId.train(docs, "sid", "text", "lang", dim = 256, iters = 3, lr = 50.0)
    val m2 = LangId.train(docs.repartition(17), "sid", "text", "lang",
      dim = 256, iters = 3, lr = 50.0)
    assert(m1.intercepts == m2.intercepts)
    assert(m1.weights == m2.weights)
  }

  test("langIdCol (streaming fold path) agrees with predict (join path)") {
    val train = LangId.Seed.corpus(spark, docsPerLang = 12, salt = 0)
      .filter(col("lang").isin("en", "de", "fr", "es", "ru", "zh"))
    val hold = LangId.Seed.corpus(spark, docsPerLang = 8, salt = 7)
      .filter(col("lang").isin("en", "de", "fr", "es", "ru", "zh"))
    val m = LangId.train(train, "sid", "text", "lang", dim = 512, iters = 12, lr = 100.0)
    val joined = LangIdOracle.predict(hold, m, "sid", "text")
      .join(hold.select(col("sid"), LangId.langIdCol(col("text"), m).as("lang2")), "sid")
      .select((col("lang") === col("lang2")).cast("int").as("ok"))
      .as[Int].collect()
    assert(joined.nonEmpty && joined.sum == joined.length,
      s"paths disagree on ${joined.length - joined.sum} docs")
    // the fused kernel IS the fold reference, on seed text AND real
    // corpus text (unicode, punctuation, long docs — the shapes that
    // would expose a normalization/code-point/hash mismatch)
    val texts = hold.select(col("text"))
      .union(graft.store.Tables.documents(spark, "/root/testdata/sf0.001")
        .limit(200).select(substring(col("text"), 1, 300).as("text")))
      .union(Seq("", "  ", "a", "éü 中文 x", "ÄŐ\tmixed\n\nWS").toDF("text"))
    val disagree = texts.select(
        LangId.langIdCol(col("text"), m).as("a"),
        LangIdOracle.langIdColFold(col("text"), m).as("b"))
      .filter(col("a") =!= col("b")).count()
    assert(disagree == 0)
  }

  test("predictStored (portable kernel) == join oracle with portableBucket, margin-exact") {
    val dim = 32
    val train = LangId.Seed.corpus(spark, docsPerLang = 12, salt = 0)
      .filter(col("lang").isin("en", "de", "fr", "es", "ru", "zh"))
    val m = LangId.train(train, "sid", "text", "lang", dim = dim, iters = 6,
      bucketOf = LangId.portableBucket(dim))
    // real corpus text + adversarial shapes (unicode, whitespace-only,
    // empty, tabs/newlines) — anything that could expose a
    // normalization, code-point, md5, or decimal-rounding mismatch
    val texts = LangId.Seed.corpus(spark, docsPerLang = 8, salt = 7)
      .select(col("sid").as("id"), col("text"))
      .union(graft.store.Tables.documents(spark, "/root/testdata/sf0.001")
        .limit(200).select(concat(lit("d"), col("doc_id")).as("id"),
          substring(col("text"), 1, 160).as("text")))
      .union(Seq(("e1", ""), ("e2", "  "), ("e3", "a"),
        ("e4", "éü 中文 x"), ("e5", "ÄŐ\tmixed\n\nWS")).toDF("id", "text"))
    val ref = LangIdOracle.predict(texts, m, "id", "text", LangId.portableBucket(dim))
      .select(col("id"), col("lang").as("l1"), col("margin").as("m1"))
    val fused = LangId.predictStored(texts, "id", "text", m)
      .select(col("id"), col("lang").as("l2"), col("margin").as("m2"))
    // same doc set (drop rules agree), same lang, BIT-equal margin
    val joined = ref.join(fused, Seq("id"), "full_outer")
    assert(joined.filter(col("l1").isNull || col("l2").isNull).count() == 0)
    val diff = joined.filter(col("l1") =!= col("l2") ||
      col("m1") =!= col("m2")).collect()
    assert(diff.isEmpty, s"kernel disagrees: ${diff.take(3).mkString("; ")}")
  }

  test("predictPortable (rank-1 kernel) == explode-and-aggregate oracle, margin-exact") {
    val langs = LangId.Seed.Vocab.map(_._1).sorted
    val base = graft.functions.LangIdExpressions.HexCoef(31, 7, 3, 23, 11, 16.0)
    val delta = graft.functions.LangIdExpressions.HexCoef(13, 5, 11, 19, 9, 12.0)
    val baseOf = (b: org.apache.spark.sql.Column) =>
      ((ascii(substring(b, 1, 1)) * 31 + ascii(substring(b, 2, 1)) * 7
        + ascii(substring(b, 3, 1)) * 3) % 23 - 11) / lit(16.0)
    val deltaOf = (b: org.apache.spark.sql.Column) =>
      ((ascii(substring(b, 1, 1)) * 13 + ascii(substring(b, 2, 1)) * 5
        + ascii(substring(b, 3, 1)) * 11) % 19 - 9) / lit(12.0)
    val texts = LangId.Seed.corpus(spark, docsPerLang = 8, salt = 7)
      .select(col("sid").as("id"), col("text"))
      .union(graft.store.Tables.documents(spark, "/root/testdata/sf0.001")
        .limit(200).select(concat(lit("d"), col("doc_id")).as("id"),
          substring(col("text"), 1, 160).as("text")))
      .union(Seq(("e1", ""), ("e2", "  "), ("e3", "a"),
        ("e4", "éü 中文 x"), ("e5", "ÄŐ\tmixed\n\nWS")).toDF("id", "text"))
    val ref = LangIdOracle.predictPortable(texts, "id", "text", langs, 1, 3,
        baseOf, deltaOf, k => (k % 5 - 2) / 10.0)
      .select(col("id"), col("lang").as("l1"), col("margin").as("m1"))
    val fused = LangId.predictPortable(texts, "id", "text", langs, 1, 3,
        base, delta, k => (k % 5 - 2) / 10.0)
      .select(col("id"), col("lang").as("l2"), col("margin").as("m2"))
    val joined = ref.join(fused, Seq("id"), "full_outer")
    assert(joined.filter(col("l1").isNull || col("l2").isNull).count() == 0)
    val diff = joined.filter(col("l1") =!= col("l2") ||
      col("m1") =!= col("m2")).collect()
    assert(diff.isEmpty, s"rank-1 kernel disagrees: ${diff.take(3).mkString("; ")}")
  }

  test("no-gram docs fall back: default und, or the chained marker heuristic") {
    val docs = Seq((1L, ""), (2L, "   ")).toDF("id", "text")
    val m = LangId.Model(dim = 64, minN = 1, maxN = 3, langs = Seq("de", "en"),
      intercepts = Seq(0.0, 0.0), weights = Map(0 -> Seq(0.1, -0.1)))
    // no gram scores nothing, so the fallback alone answers
    assert(LangIdOracle.predict(docs, m, "id", "text").isEmpty)
    val out = docs.select(col("id"), LangId.langIdCol(col("text"), m).as("lang"))
      .as[(Long, String)].collect().toMap
    assert(out(1L) == "und" && out(2L) == "und")
    val viaCol = docs.select(col("id"),
        LangId.langIdCol(col("text"), m, fallback = lit("fb")).as("lang"))
      .as[(Long, String)].collect().toMap
    assert(viaCol(1L) == "fb" && viaCol(2L) == "fb")
  }
}
