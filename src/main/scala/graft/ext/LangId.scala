package graft.ext

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Trained character-n-gram language identification: a fastText-style
  * linear softmax classifier (Joulin et al. 2016, "Bag of Tricks for
  * Efficient Text Classification" — the model class behind fastText's
  * lid.176 language identifier) over hashed char 1–3-gram features,
  * trained by distributed batch gradient descent. Replaces nothing:
  * [[TextOps.langId]]'s 5-language marker heuristic stays as the
  * portable/oracle-able first pass and the `und` fallback; this model is
  * the multilingual-scale second pass a 100 TB pass actually needs.
  *
  * Spark-first design, no UDFs (the [[QualityClassifier]] machinery
  * generalized from sigmoid to softmax):
  *  - features: char n-grams (whitespace-collapsed, lowercased) →
  *    `pmod(xxhash64(gram), dim)` buckets, counts L1-normalized per doc;
  *  - training: each GD iteration is a broadcast weights join, a
  *    windowed softmax, and one gradient aggregation. Margin terms,
  *    softmax normalizers, and gradient terms are rounded to fixed
  *    decimals and DECIMAL-summed, so the fitted model is bit-identical
  *    under any partitioning (`local[32]` model == 1000-executor model);
  *  - scoring: [[langIdCol]] — the whole model rides the plan in one
  *    per-row kernel, no join, no shuffle, no state (usable in a
  *    Structured Streaming `select`). [[predictStored]] and
  *    [[predictPortable]] score with the engine-portable md5 bucketer,
  *    for the oracle-checked gates x57b and x56.
  *
  * Scale contract (the [[QualityClassifier]] one): TRAIN on a bounded
  * labeled sample — labels are the scarce resource — SCORE the full
  * corpus. Driver-side state is the weight table only (≤ dim × |langs|
  * doubles — model metadata, independent of corpus size).
  */
object LangId {

  /** `langs` is sorted; `intercepts` aligns with it; `weights` maps a
    * feature bucket to its per-language weight row (aligned with
    * `langs`). */
  final case class Model(dim: Int, minN: Int, maxN: Int, langs: Seq[String],
      intercepts: Seq[Double], weights: Map[Int, Seq[Double]]) {
    def weightRows(spark: SparkSession): DataFrame =
      weightRowsDf(spark, langs, weights)
    def interceptOf: Map[String, Double] = langs.zip(intercepts).toMap
  }

  /** The (idx, lang, w) row layout — ONE definition shared by training
    * and inference so the two can't diverge. */
  private def weightRowsDf(spark: SparkSession, langs: Seq[String],
      weights: Map[Int, Seq[Double]]): DataFrame = {
    import spark.implicits._
    weights.toSeq.flatMap { case (i, vs) =>
      langs.zip(vs).map { case (l, w) => (i, l, w) }
    }.toDF("idx", "lang", "w")
  }

  /** Whitespace-collapsed, lowercased, trimmed — the standard langid
    * normalization (punctuation and diacritics are signal, keep them). */
  def normText(c: Column): Column = regexp_replace(lower(trim(c)), "\\s+", " ")

  /** All char n-grams of the normalized text for n ∈ [minN, maxN], as
    * one array. The normalized string binds as a lambda variable (the
    * single-element `transform(array(...))` trick) because HOF lambdas
    * get no common-subexpression elimination — referencing the
    * regexp_replace chain directly inside the position lambda would
    * re-normalize the document once per character. */
  def charNgrams(text: Column, minN: Int = 1, maxN: Int = 3): Column =
    flatten(transform(array(normText(text)), s =>
      flatten(transform(sequence(lit(minN), lit(maxN)), n =>
        when(length(s) >= n,
          transform(sequence(lit(1), length(s) - n + 1), i => s.substr(i, n)))
          .otherwise(array().cast("array<string>"))))))

  /** Total [[charNgrams]] count from the NORMALIZED LENGTH alone —
    * Σ_{n∈[minN,maxN]} max(len − n + 1, 0) — closed-form arithmetic on
    * the pre-explode row, so the per-doc gram total never needs a
    * second pass over the exploded grams. Evaluate it on a NON-exploded
    * branch: projected next to the Generate, the optimizer hoists it
    * into the per-gram frame and the normalize runs once per gram. */
  def gramCount(text: Column, minN: Int = 1, maxN: Int = 3): Column = {
    val L = length(normText(text))
    (minN to maxN).map(n => greatest(L - lit(n) + 1, lit(0)))
      .reduce(_ + _)
  }

  /** Widen a doc frame to session parallelism BEFORE a high-fan-out
    * explode: the n-gram Generate amplifies ~(maxN·len)× — a pre-explode
    * shuffle moves 1/amplification of the downstream volume, while an
    * under-partitioned input (a compact cached table lands in a handful
    * of partitions at small SF) runs the whole gram pipeline near-serial
    * (measured on x56 at sf0.1: 5 partitions 2.6 s → 32-way 1.5 s).
    * No-op when the input already has ≥ cores partitions — at
    * production scale files outnumber cores and this never fires. */
  private def spreadForExplode(df: DataFrame): DataFrame = {
    val p = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < p) df.repartition(p) else df
  }


  /** Engine-portable feature bucketer (gram → int in [0, dim)): md5
    * character arithmetic every SQL engine computes identically (the
    * x29b/x56 ascii discipline), for models whose STORED weights must
    * be oracle-checkable outside the engine — the xxhash64 default has
    * no SQL twin. The md5 repeats syntactically; projection-level CSE
    * evaluates it once. */
  def portableBucket(dim: Int)(g: Column): Column =
    ((ascii(substring(md5(g), 1, 1)) * 53
      + ascii(substring(md5(g), 2, 1)) * 17
      + ascii(substring(md5(g), 3, 1)) * 7
      + ascii(substring(md5(g), 4, 1))) % dim).cast("int")

  /** Sparse hashed features: (idCol, idx, cnt), cnt = bucket count /
    * total gram count (L1-normalized, so margins are length-invariant).
    * `bucketOf` overrides the gram→bucket rule (default:
    * `pmod(xxhash64(g), dim)` — engine-fast; pass [[portableBucket]]
    * for oracle-checkable stored models). */
  def features(df: DataFrame, idCol: String, textCol: String, dim: Int,
      minN: Int, maxN: Int, bucketOf: Column => Column = null): DataFrame = {
    // one explode pass: the per-doc gram total is closed-form on the
    // base frame ([[gramCount]]), never a second aggregation pass over
    // the exploded grams. Computing it on a separate non-exploded
    // branch matters: projected next to the Generate, the optimizer
    // hoists the per-doc arithmetic into the per-GRAM frame and
    // re-normalizes the document once per gram
    val g = spreadForExplode(df)
      .select(col(idCol), explode(charNgrams(col(textCol), minN, maxN)).as("g"))
    val n = df.select(col(idCol),
      gramCount(col(textCol), minN, maxN).cast("double").as("_n"))
    val idx = Option(bucketOf).map(f => f(col("g")))
      .getOrElse(pmod(xxhash64(col("g")), lit(dim)).cast("int"))
    g.select(col(idCol), idx.as("idx"))
      .groupBy(idCol, "idx").agg(count(lit(1)).cast("double").as("_c"))
      .join(n, idCol).filter(col("_n") > 0)
      .select(col(idCol), col("idx"), (col("_c") / col("_n")).as("cnt"))
  }

  /** Batch-GD multinomial logistic regression on (idCol, langCol) rows.
    * Deterministic: fixed iterations, zero init, every cross-row sum
    * (margins, softmax normalizer, gradients) decimal-summed after
    * fixed-decimal rounding — partition layout cannot leak into the
    * model. `lrIntercept` defaults to lr/10 for the same scale reason as
    * [[QualityClassifier.train]] (bias "feature" has scale 1, normalized
    * gram features have scale ~1/len). */
  def train(df: DataFrame, idCol: String, textCol: String, langCol: String,
      dim: Int = 1024, minN: Int = 1, maxN: Int = 3, iters: Int = 20,
      lr: Double = 150.0, l2: Double = 0.0, lrIntercept: Double = -1.0,
      bucketOf: Column => Column = null): Model = {
    val lrB = if (lrIntercept > 0) lrIntercept else lr / 10.0
    val spark = df.sparkSession
    import spark.implicits._
    val dec = DecimalType(28, 10)
    val langs = df.select(col(langCol).cast("string")).distinct()
      .as[String].collect().sorted.toSeq
    require(langs.size >= 2, s"need >= 2 languages, got $langs")
    val feats = features(df, idCol, textCol, dim, minN, maxN, bucketOf)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val labels = df.select(col(idCol), col(langCol).cast("string").as("_y"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nDocs = labels.count().toDouble
    // the (doc × lang) softmax grid: every labeled doc gets a row per
    // class (a doc with zero grams still trains the intercepts)
    val grid = labels.crossJoin(broadcast(langs.toDF("lang")))
      .select(col(idCol), col("lang"), (col("lang") === col("_y")).cast("double").as("y"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    grid.count()
    var weights = Map.empty[Int, Seq[Double]]
    var intercepts = langs.map(_ => 0.0)
    val byId = Window.partitionBy(idCol)
    for (_ <- 1 to iters) {
      val wDf = broadcast(weightRowsDf(spark, langs, weights))
      val bOf = typedLit(langs.zip(intercepts).toMap)
      val margins = feats.join(wDf, Seq("idx"))
        .groupBy(idCol, "lang")
        .agg(sum(round(col("w") * col("cnt"), 9).cast(dec)).cast("double").as("_m"))
      // softmax per doc: shift by the per-doc max (stability), round the
      // exponentials to 12 decimals, DECIMAL-sum the normalizer — the
      // only cross-row sums, both partition-order exact
      val m0 = grid.join(margins, Seq(idCol, "lang"), "left")
        .select(col(idCol), col("lang"), col("y"),
          (coalesce(col("_m"), lit(0.0)) + element_at(bOf, col("lang"))).as("m"))
      val ex = round(exp(col("m") - max(col("m")).over(byId)), 12)
      val resid = m0
        .select(col(idCol), col("lang"), col("y"), ex.as("_e"),
          sum(ex.cast(dec)).over(byId).cast("double").as("_z"))
        .select(col(idCol), col("lang"), (col("_e") / col("_z") - col("y")).as("r"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      // per-(idx, lang) gradient Σ r·cnt and the per-lang intercept
      // gradient Σ r in ONE aggregation/action (sentinel idx −1)
      val gradAll = feats.join(resid, idCol)
        .select(col("idx"), col("lang"), round(col("r") * col("cnt"), 9).cast(dec).as("t"))
        .unionByName(resid.select(lit(-1).as("idx"), col("lang"),
          round(col("r"), 9).cast(dec).as("t")))
        .groupBy("idx", "lang").agg(sum(col("t")).as("g"))
        .as[(Int, String, java.math.BigDecimal)]
        .collect() // ≤ (dim+1)·|langs| rows — model-sized, never corpus-sized
      resid.unpersist()
      val byIdx = gradAll.filter(_._1 >= 0).groupBy(_._1)
        .map { case (i, rows) => i -> rows.map(r => r._2 -> r._3.doubleValue).toMap }
      weights = byIdx.map { case (i, g) =>
        val prev = weights.getOrElse(i, langs.map(_ => 0.0))
        i -> langs.zip(prev).map { case (l, p) =>
          (1.0 - lr * l2) * p - lr * g.getOrElse(l, 0.0) / nDocs
        }
      }.toMap ++ (weights -- byIdx.keys) // shrink-only branch unreachable once feats is dense, kept for l2 symmetry
      val gInt = gradAll.filter(_._1 == -1).map(r => r._2 -> r._3.doubleValue).toMap
      intercepts = langs.zip(intercepts).map { case (l, b) =>
        b - lrB * gInt.getOrElse(l, 0.0) / nDocs
      }
    }
    feats.unpersist(); labels.unpersist(); grid.unpersist()
    Model(dim, minN, maxN, langs, intercepts, weights)
  }

  /** Stateless scoring as a PURE COLUMN EXPRESSION (the
    * [[QualityClassifier.scoreCol]] analog): the whole model rides the
    * plan in one
    * [[graft.functions.LangIdExpressions.LangIdScore]] kernel — no
    * join, no shuffle, no state, so it drops into a Structured
    * Streaming `select` as-is. This is the 100 TB scoring path: one
    * JIT-able loop per row, whole corpus, zero exchanges (the
    * LshSignatureFloat precedent — a column-algebra fold of the same
    * math re-evaluates the gram array once per class per row, because
    * higher-order lambdas get no common-subexpression elimination, and
    * measured 8.8 s on the x57 scan; the kernel is ~50× cheaper).
    *
    * Margins are plain double folds in gram order. LangIdSpec pins the
    * kernel to that fold bit-exactly, and its argmax to a
    * decimal-summed weight-table join for a non-knife-edge model. */
  def langIdCol(textCol: Column, model: Model, fallback: Column = lit("und")): Column =
    coalesce(
      graft.functions.LangIdExpressions.langIdScore(textCol, model.dim,
        model.minN, model.maxN, model.langs, model.intercepts, model.weights),
      fallback)

  /** Persist a fitted model as a parquet artifact (the
    * [[Dsir.writeModel]] discipline: weights + intercepts + meta, each
    * one tiny file — the model is index metadata, re-read by every
    * scoring campaign instead of refit). */
  def writeModel(spark: SparkSession, model: Model, dir: String): Unit = {
    import spark.implicits._
    model.weightRows(spark).repartition(1)
      .write.mode("overwrite").parquet(s"$dir/weights")
    model.langs.zip(model.intercepts).toDF("lang", "b").repartition(1)
      .write.mode("overwrite").parquet(s"$dir/intercepts")
    Seq((model.dim, model.minN, model.maxN)).toDF("dim", "min_n", "max_n")
      .repartition(1).write.mode("overwrite").parquet(s"$dir/meta")
  }

  /** Read a [[writeModel]] artifact back — model-sized collects only. */
  def readModel(spark: SparkSession, dir: String): Model = {
    import spark.implicits._
    val meta = spark.read.parquet(s"$dir/meta")
      .select(col("dim").cast("int"), col("min_n").cast("int"),
        col("max_n").cast("int")).head
    val ib = spark.read.parquet(s"$dir/intercepts")
      .select(col("lang"), col("b").cast("double"))
      .as[(String, Double)].collect().sortBy(_._1).toSeq
    val langs = ib.map(_._1)
    val weights = spark.read.parquet(s"$dir/weights")
      .select(col("idx").cast("int"), col("lang"), col("w").cast("double"))
      .as[(Int, String, Double)].collect()
      .groupBy(_._1).map { case (i, rows) =>
        val byLang = rows.map(r => r._2 -> r._3).toMap
        i -> langs.map(l => byLang.getOrElse(l, 0.0))
      }.toMap
    Model(meta.getInt(0), meta.getInt(1), meta.getInt(2), langs,
      ib.map(_._2), weights)
  }

  /** STORED-model scoring with the [[portableBucket]] rule: (idCol,
    * lang, margin). One per-row kernel
    * ([[graft.functions.LangIdExpressions.PortableLangIdScore]]) runs
    * per-(doc, bucket) L1-normalized counts, 9-decimal rounded margin
    * terms summed as exact DECIMAL(28,10), the intercept add, argmax
    * with ties to the lexicographically larger code and a 6-decimal
    * margin — numerics an external engine holding the same weight table
    * re-derives bit-exactly (gate x57b hash-checks it against DuckDB;
    * the x29b "score the stored classifier" precedent). Docs with no
    * grams, or no in-model bucket, drop. */
  def predictStored(df: DataFrame, idCol: String, textCol: String,
      model: Model): DataFrame =
    scoreRows(df, idCol, graft.functions.LangIdExpressions.portableLangIdScore(
      col(textCol), model.dim, model.minN, model.maxN,
      model.langs, model.intercepts, model.weights))

  /** Oracle-anchoring scoring over closed-form weights (the
    * [[QualityClassifier.scorePortable]] / x29b precedent: oracle the
    * deterministic inference stage of an engine-specific pipeline):
    * (idCol, lang, margin). Grams hash into the portable 16-bit
    * md5-prefix bucket space, and the per-(bucket, class) weight has
    * RANK-1 structure — w(bucket, k) = base(b) + k·delta(b), each a
    * [[graft.functions.LangIdExpressions.HexCoef]] of the bucket's hex
    * chars — so the |langs| class margins collapse to TWO decimal sums
    * per doc (m_k = A + k·B + intercept_k). Every other stage is the
    * [[predictStored]] discipline. One per-row kernel
    * ([[graft.functions.LangIdExpressions.Rank1PortableLangIdScore]]);
    * gate x56 hash-checks it. Docs with no grams drop. */
  def predictPortable(df: DataFrame, idCol: String, textCol: String,
      langs: Seq[String], minN: Int, maxN: Int,
      base: graft.functions.LangIdExpressions.HexCoef,
      delta: graft.functions.LangIdExpressions.HexCoef,
      interceptOf: Int => Double): DataFrame =
    scoreRows(df, idCol, graft.functions.LangIdExpressions.rank1PortableLangIdScore(
      col(textCol), minN, maxN, langs, base, delta, interceptOf))

  /** A struct(lang, margin) kernel's rows; null scores drop. The kernel
    * is CPU-dense, so spread the input like an explode. */
  private def scoreRows(df: DataFrame, idCol: String, score: Column): DataFrame =
    spreadForExplode(df)
      .select(col(idCol), score.as("_s"))
      .filter(col("_s").isNotNull)
      .select(col(idCol), col("_s.lang").as("lang"), col("_s.margin").as("margin"))

  /** Deterministic zero-resource bootstrap corpus: short documents
    * sampled (by closed-form index arithmetic — no RNG) from small
    * per-language function-word vocabularies. This is the labeled seed
    * for environments with no labeled multilingual data at hand; swap in
    * real labeled text (e.g. Wikipedia dumps by language edition, the
    * standard lid training set) when available. `salt` selects disjoint
    * deterministic samples — train and holdout splits that never share a
    * document. */
  object Seed {
    val Vocab: Seq[(String, Seq[String])] = Seq(
      "cs" -> Seq("a", "je", "se", "na", "to", "že", "v", "do", "ale", "jako", "za", "po", "tak", "už", "při", "nebo", "jsem", "když"),
      "da" -> Seq("og", "at", "det", "som", "en", "på", "er", "af", "for", "med", "den", "til", "ikke", "har", "jeg", "om", "et", "hvad"),
      "de" -> Seq("der", "die", "und", "das", "ist", "ich", "nicht", "sie", "mit", "ein", "auf", "für", "den", "von", "zu", "sich", "auch", "wir"),
      "el" -> Seq("και", "το", "να", "του", "η", "της", "που", "με", "ο", "για", "από", "τα", "στο", "είναι", "δεν", "μια", "την", "οι"),
      "en" -> Seq("the", "and", "of", "to", "in", "is", "you", "that", "it", "he", "was", "for", "on", "are", "with", "his", "they", "at"),
      "es" -> Seq("el", "los", "las", "y", "es", "un", "una", "en", "que", "por", "para", "con", "no", "su", "al", "lo", "como", "más"),
      "fi" -> Seq("ja", "on", "ei", "että", "hän", "se", "oli", "mutta", "kun", "mitä", "tämä", "niin", "kuin", "myös", "jos", "vain", "sen", "joka"),
      "fr" -> Seq("le", "la", "les", "et", "est", "un", "une", "dans", "que", "pour", "pas", "vous", "sur", "avec", "nous", "mais", "ce", "il"),
      "hu" -> Seq("az", "és", "nem", "hogy", "is", "egy", "van", "de", "el", "ez", "meg", "már", "csak", "mint", "még", "ki", "volt", "ha"),
      "id" -> Seq("yang", "dan", "di", "itu", "dengan", "untuk", "tidak", "ini", "dari", "dalam", "akan", "pada", "juga", "saya", "ke", "bisa", "ada", "oleh"),
      "it" -> Seq("il", "lo", "gli", "e", "è", "un", "una", "in", "che", "per", "con", "non", "suo", "del", "della", "come", "più", "anche"),
      "nl" -> Seq("de", "het", "een", "en", "is", "van", "ik", "niet", "op", "dat", "met", "voor", "zijn", "aan", "ook", "maar", "bij", "naar"),
      "pl" -> Seq("i", "w", "nie", "na", "się", "jest", "że", "do", "z", "to", "co", "jak", "ale", "po", "tak", "za", "od", "czy"),
      "pt" -> Seq("o", "os", "as", "e", "é", "um", "uma", "em", "que", "por", "para", "com", "não", "seu", "do", "da", "dos", "mais"),
      "ro" -> Seq("și", "de", "la", "cu", "un", "o", "este", "că", "pe", "nu", "se", "din", "mai", "dar", "sau", "când", "după", "fără"),
      "ru" -> Seq("и", "в", "не", "на", "я", "что", "он", "с", "как", "это", "по", "но", "они", "мы", "из", "у", "за", "то"),
      "sv" -> Seq("och", "att", "det", "som", "en", "på", "är", "av", "för", "med", "den", "till", "inte", "har", "de", "om", "ett", "men"),
      "sw" -> Seq("na", "ya", "wa", "kwa", "ni", "za", "katika", "la", "kuwa", "hii", "kama", "lakini", "pia", "sana", "sasa", "watu", "yake", "kila"),
      "tr" -> Seq("bir", "ve", "bu", "için", "de", "da", "ne", "gibi", "daha", "çok", "ama", "ben", "sen", "var", "yok", "ile", "en", "her"),
      "zh" -> Seq("的", "是", "了", "在", "和", "有", "我", "不", "人", "这", "中", "大", "为", "上", "个", "国", "我们", "他"))

    def corpus(spark: SparkSession, docsPerLang: Int = 40, wordsPerDoc: Int = 14,
        salt: Int = 0): DataFrame = {
      import spark.implicits._
      val rows = for {
        (lang, words) <- Vocab
        d <- 0 until docsPerLang
      } yield {
        val text = (0 until wordsPerDoc).map { j =>
          words(math.abs((d + salt) * 7 + j * 5 + j * j * (salt + 3)) % words.size)
        }.mkString(" ")
        (lang, d.toLong, text)
      }
      rows.toDF("lang", "d", "text")
        .select(concat_ws("_", col("lang"), col("d")).as("sid"), col("lang"), col("text"))
    }
  }
}
