package graft

import org.apache.spark.sql.functions._

import graft.ext.Bpe
import graft.store.Tables

/** BPE induction: the distributed merges equal a pure-Scala reference
  * run of the Sennrich algorithm, segmentation round-trips, repeated
  * words collapse to single tokens, and learning is partition-order
  * invariant. The byte-level id, count and specials kernels equal the
  * segment-table join oracle ([[BpeOracle]]) over the tokenized corpus's
  * own words — in-vocabulary or not. */
class BpeSpec extends SparkTestBase {
  import spark.implicits._

  private def learn(df: org.apache.spark.sql.DataFrame, n: Int): Seq[Bpe.Merge] =
    Bpe.learnMergesFromVocabBatched(Bpe.wordFreqs(df, "text"), n).merges

  /** Multiset equality of two frames' rows. */
  private def sameRows(a: org.apache.spark.sql.DataFrame,
      b: org.apache.spark.sql.DataFrame): Boolean =
    a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty

  /** Reference implementation: greedy BPE over a word-frequency map,
    * ties (count desc, left asc, right asc) — the spec's ground truth. */
  private def referenceMerges(freqs: Map[String, Long], n: Int): Seq[(String, String)] = {
    var words: Map[Vector[String], Long] =
      freqs.map { case (w, f) => (w.map(_.toString).toVector :+ Bpe.Eow) -> f }
    val out = scala.collection.mutable.ArrayBuffer[(String, String)]()
    var continueLoop = true
    while (out.length < n && continueLoop) {
      val counts = scala.collection.mutable.Map[(String, String), Long]()
      for ((syms, f) <- words; i <- 0 until syms.length - 1)
        counts((syms(i), syms(i + 1))) = counts.getOrElse((syms(i), syms(i + 1)), 0L) + f
      if (counts.isEmpty || counts.values.max < 2) continueLoop = false
      else {
        val (l, r) = counts.toSeq.minBy { case ((a, b), c) => (-c, a, b) }._1
        out += ((l, r))
        words = words.map { case (syms, f) =>
          val merged = scala.collection.mutable.ArrayBuffer[String]()
          for (s <- syms) {
            if (merged.nonEmpty && merged.last == l && s == r)
              merged(merged.length - 1) = l + r
            else merged += s
          }
          merged.toVector -> f
        }.groupMapReduce(_._1)(_._2)(_ + _)
      }
    }
    out.toSeq
  }

  test("distributed merges == reference algorithm on the classic corpus") {
    // Sennrich's worked example vocabulary
    val freqs = Map("low" -> 5L, "lower" -> 2L, "newest" -> 6L, "widest" -> 3L)
    val corpus = freqs.toSeq.flatMap { case (w, f) => Seq.fill(f.toInt)(w) }
    val df = corpus.zipWithIndex.map { case (w, i) => (i.toLong, w) }.toDF("id", "text")
    val got = learn(df, 8).map(m => (m.left, m.right))
    val want = referenceMerges(freqs, 8)
    assert(got == want, s"got $got want $want")
    // (e,s) and (s,t) both hit freq 9 (newest 6 + widest 3); the total
    // tie rule (left asc) picks (e,s), then (es,t) follows at 9
    assert(got.take(2) == Seq(("e", "s"), ("es", "t")), got.take(2).toString)
  }

  test("distributed merges == reference on real corpus words (20 merges)") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val freqs = Bpe.wordFreqs(docs, "text")
      .as[(String, Long)].collect().toMap
    val got = learn(docs, 20).map(m => (m.left, m.right))
    val want = referenceMerges(freqs, 20)
    assert(got == want, s"got $got want $want")
  }

  test("batched merge rounds == one-merge-per-round, in far fewer rounds") {
    // the one-merge-per-round reference is the pure-Scala run above.
    // classic corpus: equality at every requested merge count (the
    // acceptance rule must stop EXACTLY where a recount could reorder)
    val freqs = Map("low" -> 5L, "lower" -> 2L, "newest" -> 6L, "widest" -> 3L)
    val corpus = freqs.toSeq.flatMap { case (w, f) => Seq.fill(f.toInt)(w) }
    val df = corpus.zipWithIndex.map { case (w, i) => (i.toLong, w) }.toDF("id", "text")
    val vocab = Bpe.wordFreqs(df, "text").localCheckpoint(true)
    for (n <- Seq(1, 3, 8)) {
      val seq = referenceMerges(freqs, n)
      val bat = Bpe.learnMergesFromVocabBatched(vocab, n).merges.map(m => (m.left, m.right))
      assert(bat == seq, s"n=$n: got $bat want $seq")
    }
    // real corpus: bit-identical list, measured round-count drop
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val rvocab = Bpe.wordFreqs(docs, "text").localCheckpoint(true)
    val seq = referenceMerges(rvocab.as[(String, Long)].collect().toMap, 40)
    val bat = Bpe.learnMergesFromVocabBatched(rvocab, 40)
    val got = bat.merges.map(m => (m.left, m.right))
    assert(got == seq,
      s"diverged at ${got.zip(seq).indexWhere(p => p._1 != p._2)}: got $got want $seq")
    // measured on this corpus: 26 rounds for 40 merges (and 105 merges
    // in 71 rounds at vocabulary exhaustion) — char-level early merges
    // interact heavily, so exact-equality batching amortizes ~1.5×
    // here and widens as symbols lengthen on real vocabularies
    assert(bat.rounds <= 30,
      s"expected a round drop (measured 26), got ${bat.rounds} rounds for 40 merges")
  }

  test("segmentation round-trips and frequent words collapse to one token") {
    val freqs = Map("low" -> 5L, "lower" -> 2L, "newest" -> 6L, "widest" -> 3L)
    val corpus = freqs.toSeq.flatMap { case (w, f) => Seq.fill(f.toInt)(w) }
    val df = corpus.zipWithIndex.map { case (w, i) => (i.toLong, w) }.toDF("id", "text")
    val vocab = Bpe.wordFreqs(df, "text")
    val merges = Bpe.learnMergesFromVocabBatched(vocab, 30).merges
    val seg = Bpe.segmentTable(vocab, merges)
    val table = seg.as[(String, Seq[String])].collect().toMap
    // concatenating subwords (minus the EOW mark) reproduces the word
    for ((w, subs) <- table)
      assert(subs.mkString.stripSuffix(Bpe.Eow) == w, s"$w -> $subs")
    // with enough merges the most frequent word fuses completely
    assert(table("newest").length == 1, table("newest").mkString("|"))
    // tokenize: subword stream joins back through the segment table,
    // unknown words fall back to characters
    val toks = Bpe.tokenize(Seq((1L, "newest zzz")).toDF("id", "text"), "id", "text", seg)
      .select("subword").as[String].collect().toSeq
    assert(toks.head == "newest" + Bpe.Eow)
    assert(toks.tail == Seq("z", "z", "z", Bpe.Eow))
  }

  test("learning is partition-order invariant") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001").limit(200)
    val a = learn(docs, 10)
    val b = learn(docs.repartition(17), 10)
    assert(a == b)
  }

  test("segmentTable stays bounded-depth at production merge counts (500 merges)") {
    // 500 synthetic chain merges over a word of 501 DISTINCT symbols
    // (each merge fires exactly once, so the chain never self-collides).
    // The content is irrelevant — the point is PLAN shape: without the
    // checkpoint valve, CollapseProject folds 500 `aggregate` lambdas
    // into one nested expression and the analyzer dies long before data
    // size matters.
    val word = (0 until 501).map(i => (0x4E00 + i).toChar).mkString
    val merges = (0 until 500).map { i =>
      Bpe.Merge(i, word.take(i + 1), word.charAt(i + 1).toString)
    }
    val vocab = Seq((word, 3L), ("plain", 1L)).toDF("word", "freq")
    val table = Bpe.segmentTable(vocab, merges)
      .as[(String, Seq[String])].collect().toMap
    // the chain fuses the whole word; unrelated words pass through
    assert(table(word) == Seq(word, Bpe.Eow), table(word).take(5).mkString("|"))
    assert(table("plain") == Seq("p", "l", "a", "i", "n", Bpe.Eow))
  }

  /** Byte-level reference: greedy BPE over byte-word freqs, NO
    * end-of-word sentinel, same total tie rule — ground truth for the
    * GPT-2-style variant. */
  private def referenceByteMerges(freqs: Map[String, Long], n: Int): Seq[(String, String)] = {
    var words: Map[Vector[String], Long] =
      freqs.map { case (w, f) => w.map(_.toString).toVector -> f }
    val out = scala.collection.mutable.ArrayBuffer[(String, String)]()
    var continueLoop = true
    while (out.length < n && continueLoop) {
      val counts = scala.collection.mutable.Map[(String, String), Long]()
      for ((syms, f) <- words; i <- 0 until syms.length - 1)
        counts((syms(i), syms(i + 1))) = counts.getOrElse((syms(i), syms(i + 1)), 0L) + f
      if (counts.isEmpty || counts.values.max < 2) continueLoop = false
      else {
        val (l, r) = counts.toSeq.minBy { case ((a, b), c) => (-c, a, b) }._1
        out += ((l, r))
        words = words.map { case (syms, f) =>
          val merged = scala.collection.mutable.ArrayBuffer[String]()
          for (s <- syms) {
            if (merged.nonEmpty && merged.last == l && s == r)
              merged(merged.length - 1) = l + r
            else merged += s
          }
          merged.toVector -> f
        }.groupMapReduce(_._1)(_._2)(_ + _)
      }
    }
    out.toSeq
  }

  // a UTF-8-hostile corpus: emoji (4-byte), CJK (3-byte), accents
  // (2-byte), contractions, digits, mixed case, punctuation runs
  private val byteCorpus = Seq(
    "the cat's hat 🙂🙂 the cat can't stop",
    "日本語のテキスト and the café's crème",
    "We'll take 42 cats — 42 cats!! 🙂",
    "the THE The café café 日本語")

  test("byte-level merges == pure reference on a UTF-8-heavy corpus; GPT-2 mapping exact") {
    // the mapping itself: printable identity, space -> Ġ (U+0120)
    assert(Bpe.ByteLevel.byteToChar('a'.toInt) == 'a')
    assert(Bpe.ByteLevel.byteToChar(' '.toInt) == 'Ġ')
    assert(Bpe.ByteLevel.byteToChar(0) == 'Ā')
    assert((0 until 256).forall(b =>
      Bpe.ByteLevel.charToByte(Bpe.ByteLevel.byteToChar(b)) == b))
    // pre-tokenization: spaces fold into the following pretoken,
    // contractions split, digit runs separate
    val toks = Bpe.ByteLevel.byteWords("the cat's 42!")
    assert(toks.map(Bpe.ByteLevel.decode(_))
      .map(new String(_, "UTF-8")) == Seq("the", " cat", "'s", " 42", "!"))
    val df = byteCorpus.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("id", "text")
    val freqs = Bpe.byteWordFreqs(df, "text").as[(String, Long)].collect().toMap
    // pure-JVM freq twin agrees with the distributed kernel
    val jvmFreqs = byteCorpus.flatMap(Bpe.ByteLevel.byteWords)
      .groupMapReduce(identity)(_ => 1L)(_ + _)
    assert(freqs == jvmFreqs)
    val got = Bpe.learnByteMergesFromVocabBatched(
      Bpe.byteWordFreqs(df, "text"), 24).merges.map(m => (m.left, m.right))
    val want = referenceByteMerges(freqs, 24)
    assert(got == want, s"got $got want $want")
  }

  test("byte-level tokenization round-trips EXACTLY (emoji/CJK included); unseen input has no OOV") {
    val df = byteCorpus.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("id", "text")
    val vocab = Bpe.byteWordFreqs(df, "text").cache()
    val merges = Bpe.learnByteMergesFromVocabBatched(vocab, 16).merges
    val seg = Bpe.segmentTableBytes(vocab, merges)
    def roundTrip(input: org.apache.spark.sql.DataFrame): Map[Long, String] =
      Bpe.tokenizeBytes(input, "id", "text", seg)
        .groupBy("id").agg(concat_ws("",
          array_sort(collect_list(struct(col("pos"), col("subpos"), col("subword"))))
            .getField("subword")).as("joined"))
        .as[(Long, String)].collect()
        .map { case (id, j) =>
          id -> new String(Bpe.ByteLevel.decode(j), "UTF-8")
        }.toMap
    val back = roundTrip(df)
    byteCorpus.zipWithIndex.foreach { case (t, i) =>
      assert(back(i.toLong) == t, s"doc $i: '${back(i.toLong)}' != '$t'")
    }
    // input with symbols NEVER seen at learn time — Cyrillic, Hangul,
    // control bytes — still tokenizes (byte fallback) and round-trips
    val alien = Seq((99L, "привет 안녕하세요 \t tab null"))
      .toDF("id", "text")
    val backAlien = roundTrip(alien)
    assert(backAlien(99L) == "привет 안녕하세요 \t tab null")
    // frequent words collapse: ' cat' (3 occurrences) should have
    // merged into few symbols — strictly fewer than its byte count
    val catSubs = seg.filter(col("word") === "Ġcat")
      .select("subwords").as[Seq[String]].collect()
    assert(catSubs.nonEmpty && catSubs.head.length < 4, catSubs.toSeq)
  }

  test("token ids: stable GPT-2-shape assignment, no miss, detokenizeIds round-trips exactly") {
    val df = byteCorpus.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("id", "text")
    val vocab = Bpe.byteWordFreqs(df, "text").cache()
    val merges = Bpe.learnByteMergesFromVocabBatched(vocab, 16).merges
    // id assignment: bytes are their own ids, merges follow by rank
    val ids = Bpe.byteVocab(merges)
    assert(ids("a") == 'a'.toInt && ids("Ġ") == ' '.toInt)
    merges.foreach(m => assert(ids(m.left + m.right) == 256 + m.rank))
    val toks = Bpe.tokenizeBytesToIds(df, "id", "text", merges)
    // total: the byte-level alphabet means NO token can miss the vocab
    assert(toks.filter(col("token_id") === -1).count() == 0)
    assert(toks.agg(max("token_id")).head.getInt(0) < 256 + merges.size)
    // exact round-trip through ids alone — emoji/CJK included
    val back = Bpe.detokenizeIds(toks, "id", merges)
      .as[(Long, String)].collect().toMap
    byteCorpus.zipWithIndex.foreach { case (t, i) =>
      assert(back(i.toLong) == t, s"doc $i: '${back(i.toLong)}'")
    }
    // tokenCountsBytes (no token materialization) == the materialized
    // token stream's counts — incl. an UNSEEN word
    val withAlien = df.unionByName(Seq((99L, "привет novelword")).toDF("id", "text"))
    val fast = Bpe.tokenCountsBytes(withAlien, "id", "text", merges)
      .as[(Long, Long)].collect().toMap
    val slow = Bpe.tokenizeBytesToIds(withAlien, "id", "text", merges)
      .groupBy("id").agg(count(lit(1)).as("n"))
      .as[(Long, Long)].collect().toMap
    assert(fast == slow, s"fast $fast slow $slow")
  }

  test("fused tokenize/count kernels == segment-table join path, row-exact") {
    val df = byteCorpus.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("id", "text")
      // adversarial shapes: unseen symbols, empty, whitespace-only,
      // plus real corpus text (the shapes that would expose a
      // merge-order / code-point / fallback mismatch)
      .unionByName(Seq((99L, "\u043f\u0440\u0438\u0432\u0435\u0442 novelword"), (100L, ""), (101L, "   "))
        .toDF("id", "text"))
      .unionByName(graft.store.Tables.documents(spark, "/root/testdata/sf0.001")
        .limit(150).select((col("doc_id") + 1000L).as("id"),
          coalesce(col("text"), lit("")).as("text")))
    val vocab = Bpe.byteWordFreqs(df, "text").cache()
    val merges = Bpe.learnByteMergesFromVocabBatched(vocab, 16).merges
    val seg = Bpe.segmentTableBytes(vocab, merges)
    val ref = BpeOracle.tokenizeBytesToIds(df, "id", "text", seg, Bpe.byteVocab(merges))
    val fused = Bpe.tokenizeBytesToIds(df, "id", "text", merges)
    assert(ref.count() > 0 && sameRows(ref, fused))
    val refC = BpeOracle.tokenCountsBytes(df, "id", "text", seg)
      .as[(Long, Long)].collect().toMap
    val fusedC = Bpe.tokenCountsBytes(df, "id", "text", merges)
      .as[(Long, Long)].collect().toMap
    assert(refC == fusedC)
  }

  test("OOV words: kernels == oracle over the corpus's own segment table; round-trip holds") {
    // merges learned from a TRAIN corpus, applied to a DIFFERENT corpus
    // whose words are absent from the train vocabulary: the kernels
    // apply the merges to every word, so they equal the join oracle run
    // over a segment table of the tokenized corpus's OWN words
    val train = byteCorpus.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("id", "text")
    val vocab = Bpe.byteWordFreqs(train, "text").cache()
    val merges = Bpe.learnByteMergesFromVocabBatched(vocab, 16).merges
    val ids = Bpe.byteVocab(merges)
    val oov = Seq((1L, "the cat catcatcat zzqx catnap"),
      (2L, "привет lowersat"), (3L, "the cat sat"))
      .toDF("id", "text")
    // the case is real: OOV words on which merges fire
    val trainWords = vocab.select("word").as[String].collect().toSet
    val oovWords = Bpe.byteWordFreqs(oov, "text").select("word").as[String]
      .collect().filterNot(trainWords)
    assert(oovWords.contains("Ġcatnap"), oovWords.toSeq)
    val kernel = Bpe.tokenizeBytesToIds(oov, "id", "text", merges)
    val trainSeg = Bpe.segmentTableBytes(vocab, merges)
    assert(kernel.count() < BpeOracle.tokenizeBytesToIds(oov, "id", "text", trainSeg, ids).count(),
      "merges must fire on OOV words the train segment table lacks")
    // law 1: ids and counts equal the oracle over the corpus's own words
    val ownSeg = Bpe.segmentTableBytes(Bpe.byteWordFreqs(oov, "text"), merges)
    assert(sameRows(kernel, BpeOracle.tokenizeBytesToIds(oov, "id", "text", ownSeg, ids)))
    val counts = Bpe.tokenCountsBytes(oov, "id", "text", merges)
      .as[(Long, Long)].collect().toMap
    assert(counts == BpeOracle.tokenCountsBytes(oov, "id", "text", ownSeg)
      .as[(Long, Long)].collect().toMap)
    // law 2: the ids detokenize to the original text
    val back = Bpe.detokenizeIds(kernel, "id", merges).as[(Long, String)].collect().toMap
    assert(back == oov.as[(Long, String)].collect().toMap)
    // law 3: the COUNT kernel equals the token stream's per-doc counts
    // (the pairing writeTokenBin's docCounts relies on)
    val fromToks = kernel.groupBy("id").agg(count(lit(1)).as("n"))
      .as[(Long, Long)].collect().toMap
    assert(counts == fromToks)
  }

  test("specials fused kernel == join path row-exact in-vocab; laws hold on the x31d OOV shape") {
    val docs = byteCorpus.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("id", "text")
      .unionByName(graft.store.Tables.documents(spark, "/root/testdata/sf0.001")
        .limit(100).select((col("doc_id") + 1000L).as("id"),
          coalesce(col("text"), lit("")).as("text")))
    val vocab = Bpe.byteWordFreqs(docs, "text").cache()
    val merges = Bpe.learnByteMergesFromVocabBatched(vocab, 16).merges
    val seg = Bpe.segmentTableBytes(vocab, merges)
    val ids = Bpe.byteVocab(merges)
    val specials = Seq("<|bos|>" -> 500000, "<|sep|>" -> 500001,
      "<|eot|>" -> 500002, "<|se|>" -> 500003) // <|se|> prefixes <|sep|>: longest-match pin
    // in-vocab wrap: every text piece is a FULL doc text (all words in
    // vocab), plus adversarial shapes — adjacent specials (empty piece
    // between), special at start/end, the shorter special standalone
    val wrapped = docs.select(col("id"),
      concat(lit("<|bos|>"), col("text"), lit("<|sep|><|eot|>"),
        col("text"), lit("<|se|>")).as("text"))
    val ref = BpeOracle.tokenizeBytesToIdsWithSpecials(
      wrapped, "id", "text", seg, ids, specials)
    val fused = Bpe.tokenizeBytesToIdsWithSpecials(
      wrapped, "id", "text", merges, ids, specials)
    assert(ref.count() > 0 && sameRows(ref, fused))
    // OOV shape (the x31d gate): a substr cut makes the tail word of
    // the prefix piece OOV. The kernel equals the oracle over the cut
    // pieces' own words, detokenizes byte-exactly, and keeps every
    // special atomic
    val cut = docs.select(col("id"),
      concat(lit("<|bos|>"), col("text"), lit("<|sep|>"),
        substring(col("text"), 1, 10), lit("<|eot|>")).as("text"))
    val pieceWords = Bpe.byteWordFreqs(docs.select(col("text"))
      .union(docs.select(substring(col("text"), 1, 10).as("text"))), "text")
    val ownSeg = Bpe.segmentTableBytes(pieceWords, merges)
    val fusedC = Bpe.tokenizeBytesToIdsWithSpecials(cut, "id", "text", merges, ids, specials)
    assert(sameRows(fusedC,
      BpeOracle.tokenizeBytesToIdsWithSpecials(cut, "id", "text", ownSeg, ids, specials)))
    val backFused = Bpe.detokenizeIdsWithSpecials(fusedC, "id", ids, specials)
      .as[(Long, String)].collect().toMap
    assert(backFused == cut.as[(Long, String)].collect().toMap)
    val nSpec = fusedC.filter(col("token_id") >= 500000).groupBy("id")
      .agg(count(lit(1)).as("n")).as[(Long, Long)].collect().toMap
    assert(nSpec.size == backFused.size && nSpec.values.forall(_ == 3L))
  }
}
