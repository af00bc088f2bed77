package graft.ext

import org.apache.spark.sql.SparkSession

/** PERSISTENCE for the learned pipeline models — the artifact
  * discipline a production corpus pipeline runs on: a tokenizer /
  * language-ID / quality model is TRAINED ONCE (one distributed fit),
  * shipped as a versioned artifact, and applied by every subsequent
  * job — re-fitting per job would make corpus snapshots
  * irreproducible (a later fit over a grown corpus yields a different
  * vocabulary) and waste the fit. Each model lands as plain parquet
  * (weights/pieces table + a one-row meta table), so the artifact is
  * engine-inspectable, survives any Hadoop FS, and loads without
  * custom serialization. Model identity round-trips EXACTLY
  * (ModelStoreSpec: loaded == fitted, field for field — doubles are
  * bit-preserved by parquet).
  *
  * Reference: rearview persists monitors in Rails
  * (`db/schema.rb:23-37`) and delegates all modeling to Graphite;
  * model artifacts are extension surface for the pipeline mandate. */
object ModelStore {

  // -- byte/char BPE merges -------------------------------------------------

  def saveBpeMerges(spark: SparkSession, merges: Seq[Bpe.Merge],
      path: String): Unit = {
    import spark.implicits._
    merges.toDF("rank", "left", "right")
      .repartition(1).write.mode("overwrite").parquet(path)
  }

  def loadBpeMerges(spark: SparkSession, path: String): Seq[Bpe.Merge] = {
    import spark.implicits._
    spark.read.parquet(path)
      .select("rank", "left", "right").as[(Int, String, String)]
      .collect().sortBy(_._1)
      .map { case (r, l, rt) => Bpe.Merge(r, l, rt) }.toSeq
  }

  // -- unigram LM (SentencePiece-style) -------------------------------------

  def saveUnigram(spark: SparkSession, model: UnigramLm.Model,
      path: String): Unit = {
    import spark.implicits._
    model.pieces.zipWithIndex.map { case (p, pos) => (pos, p.piece, p.logp) }
      .toDF("pos", "piece", "logp")
      .repartition(1).write.mode("overwrite").parquet(s"$path/pieces")
    Seq(model.maxPieceLen).toDF("max_piece_len")
      .repartition(1).write.mode("overwrite").parquet(s"$path/meta")
  }

  def loadUnigram(spark: SparkSession, path: String): UnigramLm.Model = {
    import spark.implicits._
    val pieces = spark.read.parquet(s"$path/pieces")
      .select("pos", "piece", "logp").as[(Int, String, Double)]
      .collect().sortBy(_._1)
      .map { case (_, p, lp) => UnigramLm.Piece(p, lp) }.toSeq
    val maxLen = spark.read.parquet(s"$path/meta")
      .select("max_piece_len").as[Int].head()
    UnigramLm.Model(pieces, maxLen)
  }

  // -- trained language ID --------------------------------------------------

  def saveLangId(spark: SparkSession, model: LangId.Model,
      path: String): Unit = {
    import spark.implicits._
    Seq((model.dim, model.minN, model.maxN)).toDF("dim", "min_n", "max_n")
      .repartition(1).write.mode("overwrite").parquet(s"$path/meta")
    // lang ORDER is semantic (it indexes the weight vectors) — persist
    // the position explicitly rather than trusting row order
    model.langs.zip(model.intercepts).zipWithIndex
      .map { case ((l, i), pos) => (pos, l, i) }
      .toDF("pos", "lang", "intercept")
      .repartition(1).write.mode("overwrite").parquet(s"$path/intercepts")
    model.weights.toSeq
      .flatMap { case (idx, ws) => model.langs.zip(ws).map {
        case (lang, w) => (idx, lang, w) } }
      .toDF("idx", "lang", "w")
      .repartition(1).write.mode("overwrite").parquet(s"$path/weights")
  }

  def loadLangId(spark: SparkSession, path: String): LangId.Model = {
    import spark.implicits._
    val (dim, minN, maxN) = spark.read.parquet(s"$path/meta")
      .select("dim", "min_n", "max_n").as[(Int, Int, Int)].head()
    // langs in their TRAINED order (explicit positions — row order of
    // a parquet read is not a contract)
    val li = spark.read.parquet(s"$path/intercepts")
      .select("pos", "lang", "intercept").as[(Int, String, Double)]
      .collect().sortBy(_._1).map(r => (r._2, r._3))
    val langs = li.map(_._1).toSeq
    val byLang = langs.zipWithIndex.toMap
    val weights = spark.read.parquet(s"$path/weights")
      .select("idx", "lang", "w").as[(Int, String, Double)].collect()
      .groupBy(_._1).map { case (idx, rows) =>
        val arr = new Array[Double](langs.size)
        rows.foreach { case (_, lang, w) => arr(byLang(lang)) = w }
        idx -> arr.toSeq
      }
    LangId.Model(dim, minN, maxN, langs, li.map(_._2).toSeq, weights)
  }

  // -- quality classifier ---------------------------------------------------

  def saveQuality(spark: SparkSession, model: QualityClassifier.Model,
      path: String): Unit = {
    import spark.implicits._
    Seq((model.dim, model.intercept)).toDF("dim", "intercept")
      .repartition(1).write.mode("overwrite").parquet(s"$path/meta")
    model.weights.toSeq.toDF("idx", "w")
      .repartition(1).write.mode("overwrite").parquet(s"$path/weights")
  }

  def loadQuality(spark: SparkSession, path: String): QualityClassifier.Model = {
    import spark.implicits._
    val (dim, intercept) = spark.read.parquet(s"$path/meta")
      .select("dim", "intercept").as[(Int, Double)].head()
    val weights = spark.read.parquet(s"$path/weights")
      .select("idx", "w").as[(Int, Double)].collect().toMap
    QualityClassifier.Model(dim, intercept, weights)
  }

  // -- GPT-2 tokenizer interchange (encoder.json + vocab.bpe) ---------------

  /** Export the trained byte-level BPE as the PUBLIC GPT-2 artifact
    * pair every training stack consumes — `vocab.bpe` (`#version: 0.2`
    * header, one space-separated `left right` merge per line in rank
    * order) and `encoder.json` (subword → integer id, exactly
    * [[Bpe.byteVocab]]'s assignment) — so the tokenizer can LEAVE the
    * engine: the parquet form ([[saveBpeMerges]]) is engine-internal;
    * this is the interchange format (Radford et al. 2019's released
    * artifact shape). Byte-level symbols never contain a raw space
    * (byte 0x20 maps to Ġ), which is what makes the space-separated
    * merge file unambiguous — asserted, not assumed. */
  def exportGpt2(spark: SparkSession, merges: Seq[Bpe.Merge],
      dir: String): Unit = {
    merges.foreach(m => require(!m.left.contains(' ') && !m.right.contains(' '),
      s"merge symbols must be byte-level (no raw spaces): $m"))
    val conf = spark.sparkContext.hadoopConfiguration
    val base = new org.apache.hadoop.fs.Path(dir)
    val fs = base.getFileSystem(conf)
    fs.mkdirs(base)
    val bpe = new StringBuilder("#version: 0.2\n")
    merges.sortBy(_.rank).foreach(m => bpe ++= s"${m.left} ${m.right}\n")
    writeUtf8(fs, new org.apache.hadoop.fs.Path(base, "vocab.bpe"),
      bpe.toString)
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val enc = mapper.createObjectNode()
    Bpe.byteVocab(merges).toSeq.sortBy(_._2)
      .foreach { case (sub, id) => enc.put(sub, id); () }
    writeUtf8(fs, new org.apache.hadoop.fs.Path(base, "encoder.json"),
      mapper.writeValueAsString(enc))
  }

  /** Import a GPT-2 artifact pair: `(merges in vocab.bpe line order,
    * the encoder.json id mapping)`. The FILE's ids are the authority —
    * a genuine GPT-2 encoder.json numbers base bytes by char
    * codepoint, not byte value, so callers must tokenize through the
    * returned mapping ([[Bpe.tokenizeBytesToIds]]'s `vocabIds`), never
    * re-derive ids from the merges. Validated
    * eagerly: every base byte symbol and every merge product must have
    * an id (a gap would surface later as the −1 sentinel on real
    * data — fail at load instead). */
  def importGpt2(spark: SparkSession, dir: String)
      : (Seq[Bpe.Merge], Map[String, Int]) = {
    val conf = spark.sparkContext.hadoopConfiguration
    val base = new org.apache.hadoop.fs.Path(dir)
    val fs = base.getFileSystem(conf)
    val bpeText = readUtf8(fs, new org.apache.hadoop.fs.Path(base, "vocab.bpe"))
    // Only the '#version' HEADER line is metadata (the reference loader
    // is split('\n')[1:-1] — first line dropped positionally). A merge
    // line may itself start with '#': byte 0x23 is its own byte-level
    // symbol, so a corpus with '##' produces the merge line '# #' —
    // filtering every '#'-leading line would silently drop such merges
    // AND shift every later rank via zipWithIndex.
    val merges = bpeText.split("\n").iterator.map(_.stripSuffix("\r"))
      .zipWithIndex.filter { case (l, i) =>
        l.nonEmpty && !(i == 0 && l.startsWith("#version"))
      }.map(_._1)
      .zipWithIndex.map { case (line, rank) =>
        line.split(" ") match {
          case Array(l, r) => Bpe.Merge(rank, l, r)
          case _ => throw new IllegalArgumentException(
            s"vocab.bpe line $rank is not 'left right': '$line'")
        }
      }.toSeq
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val node = mapper.readTree(
      readUtf8(fs, new org.apache.hadoop.fs.Path(base, "encoder.json")))
    val vocab = scala.collection.mutable.LinkedHashMap.empty[String, Int]
    node.properties().forEach(e => vocab(e.getKey) = e.getValue.asInt())
    (0 until 256).foreach { b =>
      val sym = Bpe.ByteLevel.byteToChar(b).toString
      require(vocab.contains(sym),
        s"encoder.json misses base byte symbol $b ('$sym')")
    }
    merges.foreach(m => require(vocab.contains(m.left + m.right),
      s"encoder.json misses merge product '${m.left + m.right}'"))
    require(vocab.values.toSeq.distinct.size == vocab.size,
      "encoder.json assigns one id to two subwords")
    (merges, vocab.toMap)
  }

  /** Export as the HuggingFace `tokenizer.json` shape (the tokenizers
    * library's serialized form — `model.type = "BPE"` with the vocab
    * map and rank-ordered `"left right"` merge strings, plus the
    * byte-level pre-tokenizer/decoder declarations a consumer needs to
    * reproduce [[Bpe.ByteLevel]]'s behavior). One file, same id
    * authority rules as [[exportGpt2]]. */
  def exportHuggingFace(spark: SparkSession, merges: Seq[Bpe.Merge],
      path: String, specials: Seq[(String, Int)] = Nil): Unit = {
    merges.foreach(m => require(!m.left.contains(' ') && !m.right.contains(' '),
      s"merge symbols must be byte-level (no raw spaces): $m"))
    val conf = spark.sparkContext.hadoopConfiguration
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(conf)
    Option(p.getParent).foreach(fs.mkdirs(_))
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val root = mapper.createObjectNode()
    root.put("version", "1.0")
    // special tokens land in the added_tokens section (the tokenizers
    // library's serialized shape for <|endoftext|>-class atomics)
    if (specials.nonEmpty) {
      val arr = root.putArray("added_tokens")
      specials.foreach { case (content, id) =>
        val t = arr.addObject()
        t.put("id", id); t.put("content", content)
        t.put("single_word", false); t.put("lstrip", false)
        t.put("rstrip", false); t.put("normalized", false)
        t.put("special", true)
        ()
      }
    }
    // declarations a tokenizers-library consumer keys behavior off
    root.putObject("pre_tokenizer").put("type", "ByteLevel")
      .put("add_prefix_space", false).put("use_regex", true)
    root.putObject("decoder").put("type", "ByteLevel")
    val model = root.putObject("model")
    model.put("type", "BPE")
    val vocabNode = model.putObject("vocab")
    Bpe.byteVocab(merges).toSeq.sortBy(_._2)
      .foreach { case (sub, id) => vocabNode.put(sub, id); () }
    val mergesNode = model.putArray("merges")
    merges.sortBy(_.rank).foreach(m => mergesNode.add(s"${m.left} ${m.right}"))
    writeUtf8(fs, p, mapper.writeValueAsString(root))
  }

  /** Import a HuggingFace `tokenizer.json` (BPE model): `(merges in
    * file order, the vocab id mapping)` — same contract and validation
    * as [[importGpt2]]; the file's ids are the authority. A file whose
    * `added_tokens` section is NON-EMPTY fails loudly here (silently
    * dropping `<|endoftext|>`-class specials would tokenize them as
    * ordinary bytes); use [[importHuggingFaceFull]] to carry them. */
  def importHuggingFace(spark: SparkSession, path: String)
      : (Seq[Bpe.Merge], Map[String, Int]) = {
    val (merges, vocab, specials) = importHuggingFaceFull(spark, path)
    require(specials.isEmpty,
      s"tokenizer.json declares ${specials.size} added_tokens " +
        s"(${specials.take(3).map(_._1).mkString(", ")}…) — import via " +
        "importHuggingFaceFull and tokenize through " +
        "Bpe.tokenizeBytesToIdsWithSpecials so they stay atomic")
    (merges, vocab)
  }

  /** [[importHuggingFace]] including the `added_tokens` section:
    * `(merges, vocab, specials)` — each special `(content, id)`
    * validated against the vocab (a special may repeat a vocab entry
    * only with the SAME id — real GPT-2 files list `<|endoftext|>` in
    * both places — and may never claim an id a different subword
    * owns). Tokenize/detokenize through
    * [[Bpe.tokenizeBytesToIdsWithSpecials]] /
    * [[Bpe.detokenizeIdsWithSpecials]] so occurrences stay atomic. */
  def importHuggingFaceFull(spark: SparkSession, path: String)
      : (Seq[Bpe.Merge], Map[String, Int], Seq[(String, Int)]) = {
    val conf = spark.sparkContext.hadoopConfiguration
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(conf)
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val root = mapper.readTree(readUtf8(fs, p))
    val model = root.get("model")
    require(model != null && model.get("type") != null &&
      model.get("type").asText() == "BPE",
      s"tokenizer.json model.type must be BPE, got " +
        Option(model).flatMap(m => Option(m.get("type"))).map(_.asText()))
    val vocab = scala.collection.mutable.LinkedHashMap.empty[String, Int]
    model.get("vocab").properties()
      .forEach(e => vocab(e.getKey) = e.getValue.asInt())
    val mergesNode = model.get("merges")
    val merges = (0 until mergesNode.size).map { rank =>
      val e = mergesNode.get(rank)
      // both published forms: "left right" strings and [left, right]
      val (l, r) =
        if (e.isArray) (e.get(0).asText(), e.get(1).asText())
        else e.asText().split(" ") match {
          case Array(a, b) => (a, b)
          case _ => throw new IllegalArgumentException(
            s"merges[$rank] is not 'left right': '${e.asText()}'")
        }
      Bpe.Merge(rank, l, r)
    }
    (0 until 256).foreach { b =>
      val sym = Bpe.ByteLevel.byteToChar(b).toString
      require(vocab.contains(sym),
        s"tokenizer.json misses base byte symbol $b ('$sym')")
    }
    merges.foreach(m => require(vocab.contains(m.left + m.right),
      s"tokenizer.json misses merge product '${m.left + m.right}'"))
    require(vocab.values.toSeq.distinct.size == vocab.size,
      "tokenizer.json assigns one id to two subwords")
    val added = Option(root.get("added_tokens")).toSeq
      .flatMap(arr => (0 until arr.size).map(arr.get))
      .map { t =>
        require(t.get("content") != null && t.get("id") != null,
          s"added_tokens entry missing content/id: $t")
        (t.get("content").asText(), t.get("id").asInt())
      }
    require(added.map(_._1).distinct.size == added.size,
      "added_tokens repeats a content")
    require(added.map(_._2).distinct.size == added.size,
      "added_tokens repeats an id")
    val idToSub = vocab.map(_.swap)
    added.foreach { case (content, id) =>
      vocab.get(content) match {
        case Some(v) => require(v == id,
          s"added token '$content' id $id conflicts with vocab id $v")
        case None => require(!idToSub.contains(id),
          s"added token '$content' claims id $id, owned by subword " +
            s"'${idToSub(id)}'")
      }
    }
    (merges, vocab.toMap, added)
  }

  private def writeUtf8(fs: org.apache.hadoop.fs.FileSystem,
      p: org.apache.hadoop.fs.Path, text: String): Unit = {
    val out = fs.create(p, true)
    try out.write(text.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  private def readUtf8(fs: org.apache.hadoop.fs.FileSystem,
      p: org.apache.hadoop.fs.Path): String = {
    val in = fs.open(p)
    try {
      val bos = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](8192)
      var n = in.read(buf)
      while (n >= 0) { bos.write(buf, 0, n); n = in.read(buf) }
      new String(bos.toByteArray, java.nio.charset.StandardCharsets.UTF_8)
    } finally in.close()
  }
}
