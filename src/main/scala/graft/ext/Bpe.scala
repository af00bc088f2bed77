package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Byte-pair-encoding tokenizer induction (Sennrich et al. 2016,
  * arXiv:1508.07909) — learning the tokenizer FROM the corpus is a
  * training-data-pipeline stage like any other, and it distributes
  * cleanly:
  *
  *  - Round 0 is the only corpus-scale pass: one token explode + hash
  *    aggregate builds the (word, freq) vocabulary table.
  *  - Every merge round then runs over the VOCABULARY (≤ ~1M rows for
  *    real corpora, frequency-weighted), not the corpus: count adjacent
  *    symbol pairs (explode + sum(freq)), collect the top pairs (a few
  *    driver-side rows — model metadata), accept the merges a
  *    one-merge-per-round run would pick, rewrite the symbol arrays
  *    with greedy left-to-right folds. Lineage is truncated per round.
  *  - Applying the char-level tokenizer is a broadcast join against
  *    the segmented vocabulary. The byte-level id, count and specials
  *    tokenizers are per-row kernels ([[graft.functions.BpeExpressions]])
  *    that carry only the model (merges, vocab ids) and apply the merges
  *    to every word.
  *
  * Determinism: pair counts are exact integer sums; the argmax tie rule
  * is total (count desc, then left asc, right asc), so the learned
  * merge list is bit-identical under any partitioning.
  */
object Bpe {

  final case class Merge(rank: Int, left: String, right: String)

  /** End-of-word sentinel — makes the word boundary a learnable symbol,
    * as in the original algorithm. */
  val Eow = "</w>"

  /** Corpus → frequency-weighted vocabulary: (word, freq). The one
    * corpus-scale aggregation. */
  def wordFreqs(df: DataFrame, textCol: String): DataFrame =
    df.select(explode(split(trim(lower(col(textCol))), "\\s+")).as("word"))
      .filter(col("word") =!= "")
      .groupBy("word").agg(count(lit(1)).as("freq"))

  /** word → initial symbol array: characters + the end-of-word mark.
    * `word` must be a bound attribute (per-element lambda rule). */
  private def initialSymbols(word: Column): Column =
    concat(
      transform(sequence(lit(1), length(word)), i => word.substr(i, lit(1))),
      array(lit(Eow)))

  /** Greedy left-to-right single-merge rewrite of a symbol array: every
    * adjacent (left, right) becomes left+right, non-overlapping (the
    * just-merged symbol can never match `left` again because `right` is
    * non-empty, so no flag is needed). */
  private def applyMerge(symbols: Column, left: String, right: String): Column =
    aggregate(symbols, array().cast("array<string>"),
      (out, s) => when(
        size(out) > 0 && element_at(out, -1) === lit(left) && s === lit(right),
        concat(slice(out, lit(1), size(out) - 1), array(lit(left + right))))
        .otherwise(concat(out, array(s))))

  /** Adjacent-pair counts of the working vocabulary, sorted by the
    * total argmax order (count desc, left asc, right asc). */
  private def pairCounts(words: DataFrame): DataFrame =
    words
      .select(col("freq"), explode(zip_with(col("symbols"),
        slice(col("symbols"), lit(2), greatest(size(col("symbols")) - 1, lit(0))),
        (a, b) => struct(a.as("l"), b.as("r")))).as("p"))
      .filter(col("p.r").isNotNull)
      .groupBy(col("p.l").as("l"), col("p.r").as("r"))
      .agg(sum(col("freq")).as("c"))
      .orderBy(col("c").desc, col("l"), col("r"))

  final case class BatchedLearn(merges: Seq[Merge], rounds: Int)

  /** Learn up to `numMerges` merges from the vocabulary table, in rank
    * order, stopping early if no pair occurs twice. Rounds are BATCHED:
    * one pair-count job collects the top `sliceSize` pairs, and a
    * driver-side greedy filter accepts a prefix of merges PROVABLY equal
    * to what one-merge-per-round Sennrich BPE would pick, cutting
    * driver rounds for a 32k-merge vocabulary from 32k to hundreds.
    *
    * Soundness of accepting m₂ after m₁ without recounting, from two
    * invariants of a single merge (a,b)→ab:
    *
    *  1. a pair whose symbols avoid {a, b, ab} keeps its exact count
    *     (only runs …x a b y… rewrite, touching pairs that contain a
    *     or b);
    *  2. every pair CREATED by the merge, (x,ab) or (ab,y), has count
    *     bounded by a pre-merge pair containing a or b
    *     (each occurrence of x·ab was an occurrence of x·a).
    *
    * So scanning the sorted slice: accept a candidate iff it shares no
    * symbol (nor the concatenated string) with any accepted merge AND
    * its count strictly exceeds every interacting count seen — then no
    * created pair and no stale interacting pair can beat (or tie) it in
    * the sequential recount, and its own count is still exact. Stop at
    * the first candidate that fails (or at the slice cutoff — an
    * uncollected pair can tie anything at-or-below the cutoff). The
    * round's head pick is always accepted (it IS the argmax before any
    * merge), so every round makes progress and the learned list is
    * bit-identical to the sequential one.
    *
    * The accepted merges apply in rank order as one rewrite pass
    * (nested folds, checkpoint every 32 like [[segmentTable]]) — one
    * lineage truncation per ROUND instead of per merge. */
  def learnMergesFromVocabBatched(vocab: DataFrame, numMerges: Int,
      sliceSize: Int = 256): BatchedLearn =
    learnBatchedCore(vocab, numMerges, sliceSize, initialSymbols)

  private def learnBatchedCore(vocab: DataFrame, numMerges: Int,
      sliceSize: Int, init: Column => Column): BatchedLearn = {
    require(sliceSize >= 1, "sliceSize must be positive")
    var words = vocab
      .select(col("word"), col("freq"), init(col("word")).as("symbols"))
      .localCheckpoint(true)
    val merges = scala.collection.mutable.ArrayBuffer[Merge]()
    var rounds = 0
    var done = false
    while (merges.size < numMerges && !done) {
      val slice = pairCounts(words).limit(sliceSize).collect()
      rounds += 1
      if (slice.isEmpty || slice(0).getLong(2) < 2) done = true
      else {
        // counts below the slice are < the cutoff only if the slice is
        // full; a short slice is the complete table (cutoff 0)
        val cutoff = if (slice.length < sliceSize) 0L else slice.last.getLong(2)
        val used = scala.collection.mutable.Set.empty[String]
        val acceptedIdx = scala.collection.mutable.Set.empty[Int]
        val accepted = scala.collection.mutable.ArrayBuffer[(String, String)]()
        def interacts(l: String, r: String): Boolean =
          used(l) || used(r) || used.contains(l + r)
        // max stale count over pairs interacting with the accepted set,
        // ANYWHERE in the table (accepted pairs themselves are gone
        // after the rewrite and don't count). Created-pair counts are
        // bounded by these, so a candidate strictly above it cannot be
        // beaten or tied in the sequential recount.
        def maxInteract: Long = {
          var m = cutoff
          var i = 0
          while (i < slice.length) {
            if (!acceptedIdx(i) &&
                interacts(slice(i).getString(0), slice(i).getString(1)))
              m = math.max(m, slice(i).getLong(2))
            i += 1
          }
          m
        }
        var stop = false
        var j = 0
        while (j < slice.length && !stop && accepted.size + merges.size < numMerges) {
          val (l, r, c) = (slice(j).getString(0), slice(j).getString(1), slice(j).getLong(2))
          if (c < 2) stop = true
          else if (interacts(l, r)) () // skip: a recount would change it
          else if (accepted.isEmpty || c > maxInteract) {
            accepted += ((l, r)); acceptedIdx += j
            used += l; used += r; used += (l + r)
          } else stop = true // a recount could reorder from here on
          j += 1
        }
        accepted.foreach { case (l, r) => merges += Merge(merges.size, l, r) }
        words = accepted.zipWithIndex.foldLeft(words) { case (df, ((l, r), i)) =>
          val next = df.select(col("word"), col("freq"),
            applyMerge(col("symbols"), l, r).as("symbols"))
          if ((i + 1) % 32 == 0 && i + 1 < accepted.size) next.localCheckpoint(true)
          else next
        }.localCheckpoint(true)
      }
    }
    BatchedLearn(merges.toSeq, rounds)
  }

  /** Segment a vocabulary with a learned merge list: (word, subwords).
    * Merges apply in rank order — the tokenizer's behavior on ANY word,
    * materialized once over the vocab, vocab-sized.
    *
    * Expression-depth valve: each merge is one `aggregate` fold, and
    * Catalyst's CollapseProject inlines the per-merge Projects (the
    * symbol column is referenced once, so inlining is "cheap") into a
    * single nested expression — linear in merge count, analyzer-fatal
    * at a production 32k-merge vocabulary. `localCheckpoint` every
    * `checkpointEvery` merges truncates plan and expression alike
    * (same valve the learner loop uses per round), so depth is bounded
    * by K regardless of vocabulary size; the materializations are
    * vocab-sized, never corpus-sized. */
  def segmentTable(vocab: DataFrame, merges: Seq[Merge],
      checkpointEvery: Int = 32): DataFrame =
    segmentWith(vocab, merges, checkpointEvery, initialSymbols)

  private def segmentWith(vocab: DataFrame, merges: Seq[Merge],
      checkpointEvery: Int, init: Column => Column): DataFrame = {
    val start = vocab.select(col("word"), init(col("word")).as("symbols"))
    val segmented = merges.zipWithIndex.foldLeft(start) { case (df, (m, i)) =>
      val next = df.select(col("word"),
        applyMerge(col("symbols"), m.left, m.right).as("symbols"))
      if ((i + 1) % checkpointEvery == 0 && i + 1 < merges.size)
        next.localCheckpoint(true)
      else next
    }
    segmented.select(col("word"), col("symbols").as("subwords"))
  }

  /** Tokenize a corpus with the learned tokenizer: explode words, join
    * the (broadcastable, vocab-sized) segment table, emit subword rows
    * (idCol, pos, subpos, subword) — explicit positions, since row
    * order is not recoverable after a shuffle. Unknown words fall back
    * to their initial character symbols. */
  def tokenize(df: DataFrame, idCol: String, textCol: String,
      segments: DataFrame): DataFrame =
    df.select(col(idCol),
        posexplode(split(trim(lower(col(textCol))), "\\s+")).as(Seq("pos", "word")))
      .filter(col("word") =!= "")
      .join(broadcast(segments), Seq("word"), "left")
      .select(col(idCol), col("pos"),
        posexplode(coalesce(col("subwords"), initialSymbols(col("word"))))
          .as(Seq("subpos", "subword")))

  // -- byte-level variant (GPT-2-style) -------------------------------------

  /** Byte-level pre-tokenization (Radford et al. 2019, the GPT-2
    * tokenizer shape — what every modern byte-level BPE descends from):
    * text splits on the GPT-2 regex (contractions, letter runs, digit
    * runs, punctuation runs — each with its optional leading space —
    * and whitespace), then each pretoken's UTF-8 BYTES map one-to-one
    * to visible chars ([[ByteLevel.byteToChar]]). The base alphabet is
    * the 256 byte symbols, so there is NO OOV by construction: any
    * text — emoji, CJK, mojibake, binary junk — tokenizes, and
    * detokenization is exact byte-level inversion. Case is preserved
    * (no lowercase fold — the byte-level convention). The merge
    * machinery is SHARED with the char-level learner: same batched
    * accept-proof, same determinism contract; only the initial symbol
    * spelling differs (no end-of-word sentinel — word boundaries come
    * from the pre-tokenizer, with spaces folded into the following
    * pretoken as the mapped space char). */
  object ByteLevel {
    /** GPT-2's bytes_to_unicode: the printable latin-1 bytes map to
      * themselves; the rest shift above U+00FF in byte order — every
      * byte gets ONE visible char, so byte symbols ride the string
      * machinery (and parquet/JSON dumps stay readable). */
    val byteToChar: Array[Char] = {
      val printable = (('!' to '~') ++ ('¡' to '¬') ++
        ('®' to 'ÿ')).map(_.toInt).toSet
      val arr = new Array[Char](256)
      var n = 0
      var b = 0
      while (b < 256) {
        if (printable(b)) arr(b) = b.toChar
        else { arr(b) = (256 + n).toChar; n += 1 }
        b += 1
      }
      arr
    }
    val charToByte: Map[Char, Int] =
      byteToChar.zipWithIndex.map { case (c, b) => c -> b }.toMap

    /** The GPT-2 pre-tokenizer regex (public vocab.bpe convention).
      *
      * DOCUMENTED DIVERGENCE: compiled without UNICODE_CHARACTER_CLASS,
      * so Java's `\s` here matches ASCII whitespace only, while GPT-2's
      * Python `\s` is Unicode-wide — Unicode spaces (NBSP U+00A0,
      * IDEOGRAPHIC SPACE U+3000, …) fall into the punctuation branch
      * instead of folding as leading spaces, so learned
      * merges/segmentations can differ from a reference GPT-2 tokenizer
      * on non-ASCII whitespace. Round-trip exactness is UNAFFECTED
      * (every byte is still covered); flipping the flag would re-pin
      * the BpeSpec goldens, so the ASCII behavior is kept and named. */
    val Pretokenizer: java.util.regex.Pattern = java.util.regex.Pattern.compile(
      "'s|'t|'re|'ve|'m|'ll|'d| ?\\p{L}+| ?\\p{N}+| ?[^\\s\\p{L}\\p{N}]+|\\s+(?!\\S)|\\s+")

    /** Text → byte-level pretoken words (the kernel's Scala core,
      * shared with the spec's reference implementation). */
    def byteWords(text: String): Seq[String] = {
      if (text == null) return Nil
      val m = Pretokenizer.matcher(text)
      val out = scala.collection.mutable.ArrayBuffer[String]()
      while (m.find()) {
        val bytes = m.group().getBytes(java.nio.charset.StandardCharsets.UTF_8)
        val sb = new java.lang.StringBuilder(bytes.length)
        var i = 0
        while (i < bytes.length) { sb.append(byteToChar(bytes(i) & 0xff)); i += 1 }
        out += sb.toString
      }
      out.toSeq
    }

    /** Exact inverse of the byte mapping: a byte-word (or a
      * concatenation of subwords) back to its original UTF-8 bytes —
      * the round-trip BpeSpec pins. Throws on a char outside the
      * 256-symbol alphabet (impossible for this tokenizer's output). */
    def decode(word: String): Array[Byte] = {
      val out = new Array[Byte](word.length)
      var i = 0
      while (i < word.length) { out(i) = charToByte(word.charAt(i)).toByte; i += 1 }
      out
    }
  }

  /** array<string> of a text column's byte-level pretoken words — one
    * codegen kernel per row (regex pre-tokenize + byte map fused). */
  def byteWords(text: Column): Column =
    ColumnBridge.column(ByteWordsExpr(ColumnBridge.expr(text)))

  final case class ByteWordsExpr(child: Expression)
      extends UnaryExpression with ExpectsInputTypes {
    override def inputTypes = Seq(StringType)
    override def dataType: DataType = ArrayType(StringType, containsNull = false)
    override def prettyName: String = "graft_bpe_byte_words"

    def words(in: UTF8String): ArrayData =
      new GenericArrayData(ByteLevel.byteWords(in.toString)
        .map(w => UTF8String.fromString(w): Any).toArray)

    override def nullSafeEval(input: Any): Any =
      words(input.asInstanceOf[UTF8String])

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, t => {
        val ref = ctx.addReferenceObj("bytewords", this, classOf[ByteWordsExpr].getName)
        s"${ev.value} = $ref.words($t);"
      })

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** Corpus → byte-level (word, freq) vocabulary — the byte twin of
    * [[wordFreqs]]: case-preserving, space-folding, no empty filter
    * needed (the regex emits no empty matches). */
  def byteWordFreqs(df: DataFrame, textCol: String): DataFrame =
    df.select(explode(byteWords(col(textCol))).as("word"))
      .groupBy("word").agg(count(lit(1)).as("freq"))

  /** Byte-word → its initial symbols: one char per BYTE, no
    * end-of-word sentinel (boundaries live in the pre-tokenization). */
  private def initialByteSymbols(word: Column): Column =
    transform(sequence(lit(1), length(word)), i => word.substr(i, lit(1)))

  /** Learn byte-level merges — the SHARED batched loop
    * ([[learnMergesFromVocabBatched]]'s accept-proof and determinism
    * contract) over byte-symbol spellings. */
  def learnByteMergesFromVocabBatched(vocab: DataFrame, numMerges: Int,
      sliceSize: Int = 256): BatchedLearn =
    learnBatchedCore(vocab, numMerges, sliceSize, initialByteSymbols)

  /** Byte-level [[segmentTable]]: (word, subwords), no sentinel. */
  def segmentTableBytes(vocab: DataFrame, merges: Seq[Merge],
      checkpointEvery: Int = 32): DataFrame =
    segmentWith(vocab, merges, checkpointEvery, initialByteSymbols)

  /** Byte-level [[tokenize]]: (idCol, pos, subpos, subword). Unknown
    * words fall back to their byte symbols — with a 256-symbol base
    * alphabet that fallback ALWAYS spells the word exactly, so the
    * tokenizer is total and round-trip-exact on any input. */
  def tokenizeBytes(df: DataFrame, idCol: String, textCol: String,
      segments: DataFrame): DataFrame =
    df.select(col(idCol),
        posexplode(byteWords(col(textCol))).as(Seq("pos", "word")))
      .join(broadcast(segments), Seq("word"), "left")
      .select(col(idCol), col("pos"),
        posexplode(coalesce(col("subwords"), initialByteSymbols(col("word"))))
          .as(Seq("subpos", "subword")))

  /** The STABLE id assignment a training stack consumes (the GPT-2
    * vocab shape): ids 0..255 are the byte symbols IN BYTE ORDER
    * (id = the byte value — position-independent, corpus-independent),
    * id 256+rank is each merge's product symbol. Total and injective
    * over everything the tokenizers can emit (every subword is a byte
    * symbol or a merge product), so id lookup never misses. */
  def byteVocab(merges: Seq[Merge]): Map[String, Int] = {
    val base = (0 until 256).map(b => ByteLevel.byteToChar(b).toString -> b)
    val merged = merges.map(m => (m.left + m.right) -> (256 + m.rank))
    val vocab = (base ++ merged).toMap
    require(vocab.size == 256 + merged.map(_._1).distinct.size,
      "merge products collide with the base alphabet")
    vocab
  }

  /** Byte-level tokenization to INTEGER token ids: (idCol, pos, subpos,
    * token_id) — the tensor-ready shape, `pos` the byte-word index and
    * `subpos` the subword index inside it. One per-row kernel
    * ([[graft.functions.BpeExpressions.BpeTokenizeToIds]]) carries only
    * the model — (merges, vocab ids), constant-sized — and applies the
    * merges in rank order to EVERY word, exactly as [[segmentTableBytes]]
    * segments a vocabulary word: a word's ids do not depend on which
    * corpus the merges were learned from. `vocabIds` defaults (null) to
    * [[byteVocab]] of `merges`; an IMPORTED tokenizer passes its own
    * file's mapping ([[ModelStore.importGpt2]]: a real GPT-2
    * `encoder.json` assigns base-byte ids by char codepoint, not byte
    * value, so the file is the authority). A subword missing from
    * `vocabIds` emits −1, which [[detokenizeIds]] rejects loudly. */
  def tokenizeBytesToIds(df: DataFrame, idCol: String, textCol: String,
      merges: Seq[Merge], vocabIds: Map[String, Int] = null): DataFrame = {
    val k = graft.functions.BpeExpressions.bpeTokenizeToIds(
      col(textCol), merges.map(m => (m.left, m.right)), vocabOr(merges, vocabIds))
    explodeTokens(df, idCol, k)
  }

  /** Per-doc TOKEN COUNTS (idCol, ntok) without materializing the
    * tokens — the token-budget/packing input ([[Export.writeShards]],
    * [[Sampling]] budgets). A column kernel with no explode, join or
    * aggregation; its counts equal [[tokenizeBytesToIds]]' rows per doc
    * for every text, and docs with no byte-words drop (they have no
    * tokens). */
  def tokenCountsBytes(df: DataFrame, idCol: String, textCol: String,
      merges: Seq[Merge], vocabIds: Map[String, Int] = null): DataFrame = {
    val k = graft.functions.BpeExpressions.bpeTokenCount(
      col(textCol), merges.map(m => (m.left, m.right)), vocabOr(merges, vocabIds))
    df.select(col(idCol), k.as("ntok")).filter(col("ntok") > 0)
  }

  /** [[tokenizeBytesToIds]] with SPECIAL TOKENS carried as atomic ids
    * (the HuggingFace `added_tokens` contract, [[ModelStore
    * .importHuggingFaceFull]]): each literal occurrence of a special's
    * content becomes ONE token with the file's id — never byte-level
    * segmented — and the text between occurrences tokenizes as
    * [[tokenizeBytesToIds]] does. Longest special wins on overlap (the
    * tokenizers library's added-token matching). Output shape is
    * unchanged: `(idCol, pos, subpos, token_id)` with `pos` numbering
    * words-and-specials in document order. One per-row kernel
    * ([[graft.functions.BpeExpressions.BpeTokenizeWithSpecials]]). */
  def tokenizeBytesToIdsWithSpecials(df: DataFrame, idCol: String,
      textCol: String, merges: Seq[Merge], vocabIds: Map[String, Int],
      specials: Seq[(String, Int)]): DataFrame = {
    if (specials.isEmpty)
      return tokenizeBytesToIds(df, idCol, textCol, merges, vocabIds)
    specials.foreach { case (c, _) => require(c.nonEmpty, "empty special token") }
    require(specials.map(_._1).distinct.size == specials.size,
      "duplicate special token contents")
    val k = graft.functions.BpeExpressions.bpeTokenizeWithSpecials(
      col(textCol), merges.map(m => (m.left, m.right)), vocabIds, specials)
    explodeTokens(df, idCol, k)
  }

  private def vocabOr(merges: Seq[Merge], vocabIds: Map[String, Int]): Map[String, Int] =
    Option(vocabIds).getOrElse(byteVocab(merges))

  /** A kernel's per-doc token array → (idCol, pos, subpos, token_id) rows. */
  private def explodeTokens(df: DataFrame, idCol: String, tokens: Column): DataFrame =
    df.select(col(idCol), explode(tokens).as("t"))
      .select(col(idCol), col("t.pos").as("pos"),
        col("t.subpos").as("subpos"), col("t.token_id").as("token_id"))

  /** Inverse of [[tokenizeBytesToIdsWithSpecials]]: specials splice
    * back VERBATIM (their content is raw text, not byte-level symbols —
    * decoding it through the byte table would garble any non-ASCII
    * special), and each maximal run of ordinary tokens between specials
    * decodes as one UTF-8 unit (bytes may split across subwords, so
    * per-token decode would tear multi-byte sequences). Unknown ids
    * fail loudly, as in [[detokenizeIds]]. */
  def detokenizeIdsWithSpecials(tokens: DataFrame, idCol: String,
      vocabIds: Map[String, Int], specials: Seq[(String, Int)]): DataFrame = {
    if (specials.isEmpty) return detokenizeIds(tokens, idCol, vocabIds)
    val spark = tokens.sparkSession
    import spark.implicits._
    val specialIds = specials.map(_._2).toSet
    // specials take precedence over a vocab entry carrying the same id
    // (real HF files list <|endoftext|>-class tokens in BOTH places)
    val inv = (vocabIds.toSeq.filterNot(kv => specialIds.contains(kv._2))
        .map { case (sw, id) => (id, sw, false) } ++
      specials.map { case (c, id) => (id, c, true) })
      .toDF("token_id", "piece", "is_special")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(idCol)).orderBy(col("pos"), col("subpos"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    val runs = tokens.join(broadcast(inv), Seq("token_id"), "left")
      .withColumn("piece", when(col("piece").isNull,
          raise_error(concat(lit("detokenizeIds: unknown token id "),
            col("token_id").cast("string"))))
        .otherwise(col("piece")))
      // run id = specials seen so far: a special starts its own run; the
      // ordinary tokens after it share its run id (and sort after it)
      .withColumn("run",
        sum(when(col("is_special"), 1L).otherwise(0L)).over(w))
      .groupBy(col(idCol), col("run"), col("is_special"))
      .agg(min(struct(col("pos"), col("subpos"))).as("first"),
        concat_ws("", array_sort(collect_list(
            struct(col("pos"), col("subpos"), col("piece"))))
          .getField("piece")).as("joined"))
      .select(col(idCol), col("run"), col("first"),
        when(col("is_special"), col("joined"))
          .otherwise(decodeByteSymbols(col("joined"))).as("piece"))
    runs.groupBy(col(idCol))
      .agg(concat_ws("", array_sort(collect_list(
          struct(col("run"), col("first"), col("piece"))))
        .getField("piece")).as("text"))
  }

  /** Exact inverse of [[tokenizeBytesToIds]] per document: token ids
    * in (pos, subpos) order back to the original text — driver-free
    * (one aggregation + one codegen decode per row). `ids → symbol
    * strings` inverts [[byteVocab]]; the concatenated symbol chars map
    * back through the byte table and decode as UTF-8. */
  def detokenizeIds(tokens: DataFrame, idCol: String,
      merges: Seq[Merge]): DataFrame =
    detokenizeIds(tokens, idCol, byteVocab(merges))

  /** [[detokenizeIds]] against an explicit subword → id mapping (an
    * imported tokenizer's). An id ABSENT from the vocabulary —
    * including the −1 error sentinel [[tokenizeBytesToIds]] emits on a
    * vocab bug — fails LOUDLY here: without the check, the null
    * subword would vanish inside concat_ws and a corrupted id stream
    * would detokenize to shorter-but-plausible text. */
  def detokenizeIds(tokens: DataFrame, idCol: String,
      vocabIds: Map[String, Int]): DataFrame = {
    val spark = tokens.sparkSession
    import spark.implicits._
    val inv = vocabIds.toSeq.map(_.swap).toDF("token_id", "subword")
    tokens.join(broadcast(inv), Seq("token_id"), "left")
      .withColumn("subword", when(col("subword").isNull,
          raise_error(concat(lit("detokenizeIds: unknown token id "),
            col("token_id").cast("string"))))
        .otherwise(col("subword")))
      .groupBy(col(idCol))
      .agg(concat_ws("", array_sort(collect_list(
          struct(col("pos"), col("subpos"), col("subword"))))
        .getField("subword")).as("joined"))
      .select(col(idCol),
        decodeByteSymbols(col("joined")).as("text"))
  }

  /** Concatenated byte-symbol chars → original UTF-8 text (the
    * [[ByteLevel.decode]] kernel as a column). */
  def decodeByteSymbols(symbols: Column): Column =
    ColumnBridge.column(DecodeByteSymbolsExpr(ColumnBridge.expr(symbols)))

  final case class DecodeByteSymbolsExpr(child: Expression)
      extends UnaryExpression with ExpectsInputTypes {
    override def inputTypes = Seq(StringType)
    override def dataType: DataType = StringType
    override def prettyName: String = "graft_bpe_decode_bytes"

    def decode(in: UTF8String): UTF8String =
      UTF8String.fromBytes(ByteLevel.decode(in.toString))

    override def nullSafeEval(input: Any): Any =
      decode(input.asInstanceOf[UTF8String])

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, t => {
        val ref = ctx.addReferenceObj("bytedec", this, classOf[DecodeByteSymbolsExpr].getName)
        s"${ev.value} = $ref.decode($t);"
      })

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }
}
