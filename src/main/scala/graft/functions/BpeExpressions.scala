package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Byte-level BPE tokenization kernels — the per-row bodies of
  * [[graft.ext.Bpe.tokenizeBytesToIds]], [[graft.ext.Bpe.tokenCountsBytes]]
  * and [[graft.ext.Bpe.tokenizeBytesToIdsWithSpecials]].
  *
  * Each kernel carries ONLY the model — (merges, vocab ids), plus the
  * specials, constant-sized — and segments every pretoken word with the
  * exact [[graft.ext.Bpe.segmentTableBytes]] semantics: merges applied
  * in rank order, each as one greedy left-to-right non-overlapping pass
  * (`out.last == left && cur == right` — the applyMerge fold rule). The
  * merges apply to ANY word, whether or not it occurred in the corpus
  * the merges were learned from: that is the tokenizer's one OOV
  * contract, and BpeSpec states it as an equality with a segment-table
  * join over the tokenized corpus's own words. Unknown subwords map to
  * −1 (unreachable under [[graft.ext.Bpe.byteVocab]]'s total id
  * assignment; [[graft.ext.Bpe.detokenizeIds]] rejects it loudly). Word
  * → token ids is a pure function, memoized per executor thread with a
  * bounded cache (Zipf makes the hit rate high; the cache never affects
  * results). */
object BpeExpressions {

  /** The model payload: merges in rank order + subword → id. */
  final class BpeModelRef(val merges: Array[(String, String)],
      vocab: Map[String, Int]) extends Serializable {

    private val vocabMap: java.util.HashMap[String, Integer] = {
      val m = new java.util.HashMap[String, Integer](vocab.size * 2)
      vocab.foreach { case (k, v) => m.put(k, Integer.valueOf(v)) }
      m
    }

    // per-thread word → ids memo (pure function; bounded; results
    // independent of cache state)
    @transient private lazy val cache =
      ThreadLocal.withInitial[java.util.HashMap[String, Array[Int]]](() =>
        new java.util.HashMap[String, Array[Int]](1 << 12))

    /** Exact [[graft.ext.Bpe.segmentTableBytes]] semantics: initial
      * symbols = one char per CODE POINT, then each merge in rank
      * order as a single greedy left-to-right non-overlapping pass. */
    private def segmentToIds(word: String): Array[Int] = {
      var syms = word.codePoints().toArray
        .map(cp => new String(Character.toChars(cp)))
      var mi = 0
      while (mi < merges.length) {
        val (l, r) = merges(mi)
        // fold rule: out.last == l && cur == r → out.last = l + r
        var changed = false
        var i = 0
        while (i < syms.length - 1 && !changed) {
          changed = syms(i) == l && syms(i + 1) == r
          i += 1
        }
        if (changed) {
          val out = new Array[String](syms.length)
          var n = 0
          var j = 0
          while (j < syms.length) {
            if (n > 0 && out(n - 1) == l && syms(j) == r) {
              out(n - 1) = l + r
            } else {
              out(n) = syms(j); n += 1
            }
            j += 1
          }
          syms = java.util.Arrays.copyOf(out, n)
        }
        mi += 1
      }
      val ids = new Array[Int](syms.length)
      var k = 0
      while (k < ids.length) {
        val v = vocabMap.get(syms(k))
        ids(k) = if (v == null) -1 else v.intValue()
        k += 1
      }
      ids
    }

    def idsOf(word: String): Array[Int] = {
      val c = cache.get()
      var ids = c.get(word)
      if (ids == null) {
        ids = segmentToIds(word)
        if (c.size() >= (1 << 16)) c.clear() // bound the pure-fn memo
        c.put(word, ids)
      }
      ids
    }

    /** Append the (pos, subpos, token_id) entries of `text`'s byte
      * words to `out`, numbering words from `pos`; returns the next
      * free `pos`. */
    def appendWords(text: String, pos: Int,
        out: scala.collection.mutable.ArrayBuffer[Any]): Int = {
      var p = pos
      graft.ext.Bpe.ByteLevel.byteWords(text).foreach { w =>
        val ids = idsOf(w)
        var sp = 0
        while (sp < ids.length) {
          out += new GenericInternalRow(Array[Any](p, sp, ids(sp)))
          sp += 1
        }
        p += 1
      }
      p
    }

    /** Whole-row tokenize: the (pos, subpos, token_id) entry array. */
    def tokenizeRow(v: UTF8String): ArrayData = {
      val out = scala.collection.mutable.ArrayBuffer.empty[Any]
      appendWords(v.toString, 0, out)
      new GenericArrayData(out.toArray)
    }

    /** Whole-row token count. */
    def countRow(v: UTF8String): Long = {
      val words = graft.ext.Bpe.ByteLevel.byteWords(v.toString)
      var n = 0L
      words.foreach { w => n += idsOf(w).length }
      n
    }
  }

  /** text → array<struct<pos,subpos,token_id>> — one entry per token,
    * `pos` the byte-word index, `subpos` the in-word subword index
    * (the row shape [[graft.ext.Bpe.tokenizeBytesToIds]] explodes).
    * Empty/word-less text → empty array. */
  final case class BpeTokenizeToIds(child: Expression, model: BpeModelRef)
      extends UnaryExpression with ExpectsInputTypes {
    override def inputTypes = Seq(StringType)
    override def dataType: DataType = ArrayType(StructType(Seq(
      StructField("pos", IntegerType, nullable = false),
      StructField("subpos", IntegerType, nullable = false),
      StructField("token_id", IntegerType, nullable = false))),
      containsNull = false)
    override def prettyName: String = "graft_bpe_tokenize_ids"

    override def nullSafeEval(v: Any): Any =
      model.tokenizeRow(v.asInstanceOf[UTF8String])

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, v => {
        val m = ctx.addReferenceObj("bpeModel", model,
          classOf[BpeModelRef].getName)
        s"$m.tokenizeRow($v)"
      })

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** text → total token count (long), the per-doc value of
    * [[graft.ext.Bpe.tokenCountsBytes]]; 0 for word-less text (the
    * caller filters those, as they have no tokens). Non-deterministic
    * fence: a caller's `> 0` filter would otherwise be pushed below the
    * projection and evaluate the kernel twice (the §4.4 duplication). */
  final case class BpeTokenCount(child: Expression, model: BpeModelRef)
      extends UnaryExpression with ExpectsInputTypes {
    override def inputTypes = Seq(StringType)
    override def dataType: DataType = LongType
    override def prettyName: String = "graft_bpe_token_count"
    override lazy val deterministic: Boolean = false

    override def nullSafeEval(v: Any): Any =
      model.countRow(v.asInstanceOf[UTF8String])

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, v => {
        val m = ctx.addReferenceObj("bpeModel", model,
          classOf[BpeModelRef].getName)
        s"$m.countRow($v)"
      })

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** [[BpeModelRef]] plus the HF `added_tokens` atomic-id contract of
    * [[graft.ext.Bpe.tokenizeBytesToIdsWithSpecials]]: literal
    * specials, leftmost non-overlapping scan, longest special wins at
    * any position (a longest-first regex alternation). `pos` numbers
    * words-and-specials in document order (an empty text piece between
    * adjacent specials emits nothing and advances nothing). */
  final class BpeSpecialsRef(val model: BpeModelRef,
      specialsIn: Array[(String, Int)]) extends Serializable {
    private val specials: Array[(String, Int)] = specialsIn.sortBy(-_._1.length)

    def tokenizeRow(v: UTF8String): ArrayData = {
      val text = v.toString
      val out = scala.collection.mutable.ArrayBuffer.empty[Any]
      var pos = 0
      def emitWords(piece: String): Unit = pos = model.appendWords(piece, pos, out)
      var segStart = 0
      var i = 0
      while (i < text.length) {
        var k = 0
        var matched = -1
        while (k < specials.length && matched < 0) {
          if (text.startsWith(specials(k)._1, i)) matched = k
          k += 1
        }
        if (matched >= 0) {
          if (i > segStart) emitWords(text.substring(segStart, i))
          out += new GenericInternalRow(
            Array[Any](pos, 0, specials(matched)._2))
          pos += 1
          i += specials(matched)._1.length
          segStart = i
        } else i += 1
      }
      if (segStart < text.length) emitWords(text.substring(segStart))
      new GenericArrayData(out.toArray)
    }
  }

  /** text → array<struct<pos,subpos,token_id>> with specials atomic —
    * the row shape [[graft.ext.Bpe.tokenizeBytesToIdsWithSpecials]]
    * explodes, carried by the model-sized (merges, vocab, specials)
    * payload. */
  final case class BpeTokenizeWithSpecials(child: Expression,
      ref: BpeSpecialsRef)
      extends UnaryExpression with ExpectsInputTypes {
    override def inputTypes = Seq(StringType)
    override def dataType: DataType = ArrayType(StructType(Seq(
      StructField("pos", IntegerType, nullable = false),
      StructField("subpos", IntegerType, nullable = false),
      StructField("token_id", IntegerType, nullable = false))),
      containsNull = false)
    override def prettyName: String = "graft_bpe_tokenize_specials"

    override def nullSafeEval(v: Any): Any =
      ref.tokenizeRow(v.asInstanceOf[UTF8String])

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, v => {
        val m = ctx.addReferenceObj("bpeSpecials", ref,
          classOf[BpeSpecialsRef].getName)
        s"$m.tokenizeRow($v)"
      })

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  def bpeTokenizeToIds(text: Column, merges: Seq[(String, String)],
      vocabIds: Map[String, Int]): Column =
    ColumnBridge.column(BpeTokenizeToIds(ColumnBridge.expr(text),
      new BpeModelRef(merges.toArray, vocabIds)))

  def bpeTokenizeWithSpecials(text: Column, merges: Seq[(String, String)],
      vocabIds: Map[String, Int], specials: Seq[(String, Int)]): Column =
    ColumnBridge.column(BpeTokenizeWithSpecials(ColumnBridge.expr(text),
      new BpeSpecialsRef(new BpeModelRef(merges.toArray, vocabIds),
        specials.toArray)))

  def bpeTokenCount(text: Column, merges: Seq[(String, String)],
      vocabIds: Map[String, Int]): Column =
    ColumnBridge.column(BpeTokenCount(ColumnBridge.expr(text),
      new BpeModelRef(merges.toArray, vocabIds)))
}
