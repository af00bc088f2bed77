package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.ext.{Bpe, LangId, ModelStore, QualityClassifier, UnigramLm}
import graft.store.Tables

/** Model-artifact persistence: every learned model round-trips
  * EXACTLY through its parquet artifact — the train-once / apply-many
  * discipline a reproducible corpus pipeline requires. */
class ModelStoreSpec extends SparkTestBase {

  private val dir = "/root/testdata/sf0.001"

  test("BPE merges round-trip exactly; a loaded tokenizer tokenizes identically") {
    val docs = Tables.documents(spark, dir)
    val vocab = Bpe.byteWordFreqs(docs, "text").cache()
    val merges = Bpe.learnByteMergesFromVocabBatched(vocab, 12).merges
    val p = Files.createTempDirectory("graft-ms-bpe").toString
    ModelStore.saveBpeMerges(spark, merges, p)
    val loaded = ModelStore.loadBpeMerges(spark, p)
    assert(loaded == merges)
    // the loaded artifact drives identical segmentation
    val a = Bpe.segmentTableBytes(vocab, merges).collect()
      .map(r => r.getString(0) -> r.getSeq[String](1)).toMap
    val b = Bpe.segmentTableBytes(vocab, loaded).collect()
      .map(r => r.getString(0) -> r.getSeq[String](1)).toMap
    assert(a == b)
  }

  test("GPT-2 interchange: encoder.json + vocab.bpe round-trip; imported ids tokenize the UTF-8-hostile corpus byte-identically; unknown id detokenizes LOUDLY") {
    import spark.implicits._
    // UTF-8-hostile: emoji (4-byte), CJK (3-byte), accents, tabs
    val hostile = Seq(
      (0L, "the cat's hat 🙂🙂 the cat can't stop"),
      (1L, "日本語のテキスト and the café's crème"),
      (2L, "привет 안녕 \t 42 cats!!"))
      .toDF("id", "text")
    val vocab = Bpe.byteWordFreqs(hostile, "text").cache()
    val merges = Bpe.learnByteMergesFromVocabBatched(vocab, 16).merges
    val p = Files.createTempDirectory("graft-ms-gpt2").toString
    ModelStore.exportGpt2(spark, merges, p)
    // the artifact pair exists in the public shape
    val bpeLines = new String(Files.readAllBytes(
      java.nio.file.Paths.get(p, "vocab.bpe")), "UTF-8").split("\n")
    assert(bpeLines.head == "#version: 0.2")
    assert(bpeLines.length == merges.size + 1)
    val (loadedMerges, loadedVocab) = ModelStore.importGpt2(spark, p)
    assert(loadedMerges == merges)
    assert(loadedVocab == Bpe.byteVocab(merges))
    // re-tokenize through the FILE's id mapping: byte-identical ids
    def idsOf(toks: org.apache.spark.sql.DataFrame) =
      toks.select("id", "pos", "subpos", "token_id")
        .as[(Long, Int, Int, Int)].collect().sorted.toSeq
    val native = idsOf(Bpe.tokenizeBytesToIds(hostile, "id", "text", merges))
    val imported = idsOf(Bpe.tokenizeBytesToIds(hostile, "id", "text",
      loadedMerges, loadedVocab))
    assert(native == imported && native.nonEmpty)
    // and the imported mapping detokenizes back to the exact corpus
    val back = Bpe.detokenizeIds(
        Bpe.tokenizeBytesToIds(hostile, "id", "text", loadedMerges, loadedVocab),
        "id", loadedVocab)
      .as[(Long, String)].collect().toMap
    hostile.as[(Long, String)].collect().foreach { case (i, t) =>
      assert(back(i) == t, s"doc $i")
    }
    // a corrupted id stream fails LOUDLY (never silently-shorter text)
    val corrupt = Seq((0L, 0, 0, 999999)).toDF("id", "pos", "subpos", "token_id")
    val e = intercept[Exception] {
      Bpe.detokenizeIds(corrupt, "id", loadedVocab).collect()
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil
      else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(e).exists(_.contains("unknown token id")), messages(e))
  }

  test("GPT-2 import keeps '#'-leading merge lines (only the #version header is metadata)") {
    import spark.implicits._
    // '#' is byte 0x23, its own byte-level symbol — a corpus dominated
    // by '##' produces the merge line '# #'. A loader that filters every
    // '#'-prefixed line drops that merge AND shifts all later ranks.
    val corpus = Seq(
      (0L, "## ## ## ## markdown ## headers ## everywhere ##"),
      (1L, "#### nested ## sections ## again ## and ## again"))
      .toDF("id", "text")
    val vocab = Bpe.byteWordFreqs(corpus, "text").cache()
    val merges = Bpe.learnByteMergesFromVocabBatched(vocab, 10).merges
    assert(merges.exists(m => m.left + m.right == "##"),
      s"fixture must learn the '##' merge, got: $merges")
    val p = Files.createTempDirectory("graft-ms-hash").toString
    ModelStore.exportGpt2(spark, merges, p)
    // the artifact really contains a '#'-leading merge line past the header
    val lines = new String(Files.readAllBytes(
      java.nio.file.Paths.get(p, "vocab.bpe")), "UTF-8").split("\n")
    assert(lines.tail.exists(_.startsWith("#")), lines.toSeq)
    val (loadedMerges, loadedVocab) = ModelStore.importGpt2(spark, p)
    assert(loadedMerges == merges, "ranks must not shift")
    assert(loadedVocab == Bpe.byteVocab(merges))
    // and the imported artifact tokenizes the corpus identically
    def idsOf(m: Seq[Bpe.Merge], v: Map[String, Int]) =
      Bpe.tokenizeBytesToIds(corpus, "id", "text", m, v)
        .select("id", "pos", "subpos", "token_id")
        .as[(Long, Int, Int, Int)].collect().sorted.toSeq
    assert(idsOf(loadedMerges, loadedVocab) == idsOf(merges, Bpe.byteVocab(merges)))
  }

  test("HuggingFace tokenizer.json interchange: round-trip exact, ids tokenize identically, agrees with the GPT-2 pair") {
    import spark.implicits._
    val hostile = Seq(
      (0L, "the cat's hat 🙂🙂 the cat can't stop"),
      (1L, "日本語のテキスト and the café's crème"))
      .toDF("id", "text")
    val vocab = Bpe.byteWordFreqs(hostile, "text").cache()
    val merges = Bpe.learnByteMergesFromVocabBatched(vocab, 12).merges
    val p = Files.createTempDirectory("graft-ms-hf").toString + "/tokenizer.json"
    ModelStore.exportHuggingFace(spark, merges, p)
    val (hfMerges, hfVocab) = ModelStore.importHuggingFace(spark, p)
    assert(hfMerges == merges && hfVocab == Bpe.byteVocab(merges))
    // the two interchange formats carry the SAME tokenizer
    val p2 = Files.createTempDirectory("graft-ms-hf2").toString
    ModelStore.exportGpt2(spark, merges, p2)
    val (g2Merges, g2Vocab) = ModelStore.importGpt2(spark, p2)
    assert(hfMerges == g2Merges && hfVocab == g2Vocab)
    // imported ids tokenize byte-identically
    def idsOf(m: Seq[Bpe.Merge], v: Map[String, Int]) =
      Bpe.tokenizeBytesToIds(hostile, "id", "text", m, v)
        .select("id", "pos", "subpos", "token_id")
        .as[(Long, Int, Int, Int)].collect().sorted.toSeq
    assert(idsOf(hfMerges, hfVocab) == idsOf(merges, Bpe.byteVocab(merges)))
    // the array-form merges some published files use parse too
    val arr = new String(Files.readAllBytes(java.nio.file.Paths.get(p)), "UTF-8")
      .replaceAll("\"([^\" ]+) ([^\" ]+)\"(,?)", "[\"$1\",\"$2\"]$3")
    val p3 = Files.createTempDirectory("graft-ms-hf3").toString + "/tokenizer.json"
    Files.write(java.nio.file.Paths.get(p3), arr.getBytes("UTF-8"))
    val (arrMerges, arrVocab) = ModelStore.importHuggingFace(spark, p3)
    assert(arrMerges == merges && arrVocab == hfVocab)
  }

  test("HF added_tokens: atomic through tokenize/detokenize, loud on the plain import, conflicting id rejected") {
    import spark.implicits._
    val corpus = Seq(
      (0L, "the café crème <|endoftext|> 日本語 🙂 <|pad|> end"),
      (1L, "<|endoftext|>starts and ends<|endoftext|>"),
      (2L, "no specials at all"))
      .toDF("id", "text")
    val vocab = Bpe.byteWordFreqs(corpus, "text").cache()
    val merges = Bpe.learnByteMergesFromVocabBatched(vocab, 12).merges
    val ids = Bpe.byteVocab(merges)
    val specials = Seq("<|endoftext|>" -> 50256, "<|pad|>" -> 50257)
    val p = Files.createTempDirectory("graft-ms-spec").toString + "/tokenizer.json"
    ModelStore.exportHuggingFace(spark, merges, p, specials)
    // the PLAIN import refuses: silently dropping specials would
    // tokenize them as ordinary bytes
    val e = intercept[IllegalArgumentException] {
      ModelStore.importHuggingFace(spark, p)
    }
    assert(e.getMessage.contains("added_tokens"), e.getMessage)
    // the full import carries them
    val (m2, v2, s2) = ModelStore.importHuggingFaceFull(spark, p)
    assert(m2 == merges && v2 == ids && s2 == specials)
    // tokenize: each occurrence is ONE atomic token with the file's id
    val toks = Bpe.tokenizeBytesToIdsWithSpecials(
      corpus, "id", "text", m2, v2, s2)
    val perDoc = toks.select("id", "token_id").as[(Long, Int)].collect()
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSeq }
    assert(perDoc(0L).count(_ == 50256) == 1)
    assert(perDoc(0L).count(_ == 50257) == 1)
    assert(perDoc(1L).count(_ == 50256) == 2)
    assert(!perDoc(2L).exists(t => t == 50256 || t == 50257))
    assert(!toks.filter(col("token_id") === -1).limit(1).collect().nonEmpty)
    // detokenize: specials splice back verbatim, runs decode as UTF-8
    val back = Bpe.detokenizeIdsWithSpecials(toks, "id", v2, s2)
      .as[(Long, String)].collect().toMap
    corpus.as[(Long, String)].collect().foreach { case (i, t) =>
      assert(back(i) == t, s"doc $i: '${back(i)}'")
    }
    // an added token claiming a different subword's id fails loudly
    val bad = new String(Files.readAllBytes(java.nio.file.Paths.get(p)), "UTF-8")
      .replace("50257", "0") // id 0 is the first base byte symbol
    val pb = Files.createTempDirectory("graft-ms-spec2").toString + "/tokenizer.json"
    Files.write(java.nio.file.Paths.get(pb), bad.getBytes("UTF-8"))
    val e2 = intercept[IllegalArgumentException] {
      ModelStore.importHuggingFaceFull(spark, pb)
    }
    assert(e2.getMessage.contains("owned by subword"), e2.getMessage)
  }

  test("specials fuzz: seeded random placements round-trip exactly with exact atomic counts") {
    import spark.implicits._
    // seeded corpus: random UTF-8-mixed fragments with specials
    // injected at random positions — adjacent specials, doc edges,
    // specials straddling multi-byte text, empty fragments all occur
    val specials = Seq("<|s1|>" -> 900001, "<|s2longer|>" -> 900002)
    val frags = Array("the cat", "日本語", "🙂", "café", "", " x ",
      "привет", "tab\there", "", "punct!?;")
    val rnd = new scala.util.Random(4219)
    val docs = (0L until 60L).map { i =>
      val parts = (0 until rnd.nextInt(8)).map { _ =>
        if (rnd.nextInt(3) == 0) specials(rnd.nextInt(2))._1
        else frags(rnd.nextInt(frags.length))
      }
      (i, parts.mkString(""))
    }
    val df = docs.toDF("id", "text")
    val vocab = Bpe.byteWordFreqs(df, "text").cache()
    val merges = Bpe.learnByteMergesFromVocabBatched(vocab, 10).merges
    val ids = Bpe.byteVocab(merges)
    val toks = Bpe.tokenizeBytesToIdsWithSpecials(df, "id", "text", merges,
      ids, specials)
    // no vocab misses anywhere in the fuzz corpus
    assert(toks.filter(col("token_id") === -1).isEmpty)
    // atomic counts: one special token per literal occurrence
    val counts = toks.filter(col("token_id") >= 900000)
      .groupBy("id").agg(count(lit(1)).as("c"))
      .as[(Long, Long)].collect().toMap
    def occurrences(s: String, sub: String): Int =
      if (s.isEmpty) 0 else s.sliding(sub.length).count(_ == sub)
    docs.foreach { case (i, t) =>
      val want = specials.map(sp => occurrences(t, sp._1)).sum
      assert(counts.getOrElse(i, 0L) == want.toLong, s"doc $i '$t'")
    }
    // exact round-trip for every non-empty doc (empty docs emit no
    // tokens and so no detok row — the x31c convention)
    val back = Bpe.detokenizeIdsWithSpecials(toks, "id", ids, specials)
      .as[(Long, String)].collect().toMap
    docs.filter(_._2.nonEmpty).foreach { case (i, t) =>
      assert(back(i) == t, s"doc $i: '${back.getOrElse(i, "<absent>")}' != '$t'")
    }
  }

  test("Unigram model round-trips exactly, piece order preserved") {
    val vocab = Bpe.wordFreqs(Tables.documents(spark, dir), "text").cache()
    val model = UnigramLm.fit(vocab, targetSize = 120, seedSize = 400,
      maxPieceLen = 5)
    val p = Files.createTempDirectory("graft-ms-ulm").toString
    ModelStore.saveUnigram(spark, model, p)
    val loaded = ModelStore.loadUnigram(spark, p)
    assert(loaded == model)
  }

  test("LangId model round-trips exactly, lang order preserved") {
    val labeled = Seq(
      ("the quick brown fox jumps over the lazy dog and runs", "en"),
      ("der schnelle braune fuchs springt über den faulen hund", "de"),
      ("le renard brun rapide saute par dessus le chien paresseux", "fr"),
      ("the cat sat on the mat with the hat and the bat", "en"),
      ("die katze sitzt auf der matte mit dem hut und läuft", "de"),
      ("le chat est assis sur le tapis avec le chapeau", "fr"))
    import spark.implicits._
    val df = labeled.zipWithIndex
      .map { case ((t, l), i) => (i.toLong, t, l) }
      .toDF("id", "text", "lang")
    val model = LangId.train(df, "id", "text", "lang", dim = 512,
      minN = 2, maxN = 3, iters = 5)
    val p = Files.createTempDirectory("graft-ms-lid").toString
    ModelStore.saveLangId(spark, model, p)
    val loaded = ModelStore.loadLangId(spark, p)
    assert(loaded.dim == model.dim && loaded.minN == model.minN &&
      loaded.maxN == model.maxN && loaded.langs == model.langs &&
      loaded.intercepts == model.intercepts)
    assert(loaded.weights.keySet == model.weights.keySet)
    model.weights.foreach { case (k, v) => assert(loaded.weights(k) == v, s"idx $k") }
    // identical predictions through the scorer
    val probe = Seq((1L, "the dog and the fox"), (2L, "der hund und der fuchs"))
      .toDF("id", "text")
    def preds(m: LangId.Model) =
      probe.select(col("id"), LangId.langIdCol(col("text"), m).as("lang"))
        .as[(Long, String)].collect().toSet
    assert(preds(loaded) == preds(model))
  }

  test("Quality classifier round-trips exactly; identical scores") {
    val docs = Tables.documents(spark, dir)
      .withColumn("label",
        (size(split(trim(col("text")), "\\s+")) >= 30).cast("int"))
    val model = QualityClassifier.train(docs, "doc_id", "text", "label",
      dim = 1024, iters = 3)
    val p = Files.createTempDirectory("graft-ms-qc").toString
    ModelStore.saveQuality(spark, model, p)
    val loaded = ModelStore.loadQuality(spark, p)
    assert(loaded == model)
  }
}
