package graft.functions

import java.nio.charset.StandardCharsets

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types.{DataType, DoubleType, StringType, StructField, StructType}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** Scoring kernels for [[graft.ext.LangId]] — the language-ID analog
  * of [[VectorExpressions.LshSignatureFloat]]: each runs a whole
  * document's inference as ONE JIT-able loop per row, with no explode,
  * join or shuffle.
  *
  * The three kernels share one gram walk and one argmax:
  *  - [[forEachGram]]: the exact `LangId.normText` chain (Spark trim
  *    via `UTF8String.trim`, Spark lower via `UTF8String.toLowerCase`,
  *    java-regex `\s+` → ' ', as `regexp_replace` runs it), then every
  *    char n-gram in n-ascending / position-ascending order as code
  *    point substrings (`substr` counts code points), handed over as
  *    UTF-8 bytes;
  *  - [[argmax]]: `Double.compare` with ties to the lexicographically
  *    LARGER lang in `UTF8String` binary order — Spark's struct-max
  *    rule (NaN greatest, -0.0 < 0.0), independent of the langs' order.
  *
  * The portable kernels also share the md5 bucket key
  * ([[md5Key]]: md5 of the gram's UTF-8 bytes, first four lowercase
  * hex chars — exactly Spark's `md5`) and the oracle-pinned decimal
  * contracts ([[decTerm]], [[round6]]). LangIdSpec pins each kernel
  * against its DataFrame reference form.
  */
object LangIdExpressions {

  private val SpaceRe = java.util.regex.Pattern.compile("\\s+")

  /** Normalize `input`, hand every char n-gram's UTF-8 bytes to `f`
    * (n ∈ [minN, maxN] ascending, then position ascending), and return
    * the gram count. */
  private def forEachGram(input: UTF8String, minN: Int, maxN: Int)(
      f: Array[Byte] => Unit): Int = {
    val norm = SpaceRe.matcher(input.trim().toLowerCase().toString).replaceAll(" ")
    val cps = norm.codePoints().toArray
    var total = 0
    var n = minN
    while (n <= maxN) {
      var i = 0
      while (i <= cps.length - n) {
        f(new String(cps, i, n).getBytes(StandardCharsets.UTF_8))
        total += 1
        i += 1
      }
      n += 1
    }
    total
  }

  /** Index of the largest margin; equal margins take the
    * lexicographically larger lang. */
  private def argmax(margins: Array[Double], langs: Array[UTF8String]): Int = {
    var best = 0
    var j = 1
    while (j < margins.length) {
      val c = java.lang.Double.compare(margins(j), margins(best))
      if (c > 0 || (c == 0 && langs(j).compareTo(langs(best)) > 0)) best = j
      j += 1
    }
    best
  }

  // MessageDigest is stateful and not thread-safe; one per task thread
  private val Md5 = ThreadLocal.withInitial[java.security.MessageDigest](() =>
    java.security.MessageDigest.getInstance("MD5"))
  private val HexAscii: Array[Int] = "0123456789abcdef".map(_.toInt).toArray

  /** md5(gram)'s first two bytes — its first four hex chars — as one
    * 16-bit key. */
  private def md5Key(gram: Array[Byte]): Int = {
    val d = Md5.get().digest(gram) // digest() resets for the next gram
    ((d(0) & 0xFF) << 8) | (d(1) & 0xFF)
  }

  /** ASCII code of hex char `i` (0 = first) of a [[md5Key]]. */
  private def hexAscii(key: Int, i: Int): Int = HexAscii((key >> (12 - 4 * i)) & 0xF)

  private def halfUp(x: Double, scale: Int): java.math.BigDecimal =
    java.math.BigDecimal.valueOf(x).setScale(scale, java.math.RoundingMode.HALF_UP)

  /** `CAST(ROUND(x, 9) AS DECIMAL(28,10))`: Spark's Round on DOUBLE,
    * then its Cast via the shortest-repr BigDecimal. */
  private def decTerm(x: Double): java.math.BigDecimal = halfUp(halfUp(x, 9).doubleValue(), 10)

  /** `ROUND(m, 6)` on DOUBLE. */
  private def round6(m: Double): Double = halfUp(m, 6).doubleValue()

  /** struct(lang, margin) of the winning class. */
  private def langAndMargin(margins: Array[Double], langs: Array[UTF8String])
      : org.apache.spark.sql.catalyst.InternalRow = {
    val best = argmax(margins, langs)
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](langs(best), round6(margins(best))))
  }

  /** The model payload carried into codegen as one reference object:
    * `weights` is flat idx-major `double[dim * k]` (zeros for buckets
    * the model never saw), `langs` pre-encoded UTF8. Margins are plain
    * double sums of the seed-42 xxhash64 buckets' weight rows in gram
    * order, divided by the gram count, plus the intercept. Null when
    * the document has no grams — callers coalesce in their fallback. */
  final class LangIdModelRef(val dim: Int, val minN: Int, val maxN: Int,
      val k: Int, val weights: Array[Double], val intercepts: Array[Double],
      val langs: Array[UTF8String]) extends Serializable {

    def score(input: UTF8String): UTF8String = {
      val margins = new Array[Double](k)
      val total = forEachGram(input, minN, maxN) { bytes =>
        val h = XXH64.hashUnsafeBytes(bytes, Platform.BYTE_ARRAY_OFFSET, bytes.length, 42L)
        val off = (((h % dim) + dim) % dim).toInt * k
        var j = 0
        while (j < k) { margins(j) += weights(off + j); j += 1 }
      }
      if (total == 0) null
      else {
        var j = 0
        while (j < k) { margins(j) = margins(j) / total + intercepts(j); j += 1 }
        langs(argmax(margins, langs))
      }
    }
  }

  final case class LangIdScore(child: Expression, model: LangIdModelRef)
      extends UnaryExpression with ExpectsInputTypes {
    override def inputTypes = Seq(StringType)
    override def dataType: DataType = StringType
    override def nullable: Boolean = true // null on a gram-less document
    override def prettyName: String = "graft_langid_score"

    override def nullSafeEval(v: Any): Any =
      model.score(v.asInstanceOf[UTF8String])

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, v => {
        val m = ctx.addReferenceObj("langIdModel", model,
          classOf[LangIdModelRef].getName)
        s"""
           |${ev.value} = $m.score($v);
           |${ev.isNull} = ${ev.value} == null;
         """.stripMargin
      })

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** PORTABLE-bucket stored-model scoring kernel
    * ([[graft.ext.LangId.predictStored]]), REPLICATING THE
    * ORACLE-PINNED NUMERICS BIT-EXACTLY (gate x57b hash-compares
    * margins):
    *
    *   - bucket: `(ascii(md5hex[0])·53 + ascii(md5hex[1])·17 +
    *     ascii(md5hex[2])·7 + ascii(md5hex[3])) % dim`
    *     (`LangId.portableBucket`);
    *   - margin term: [[decTerm]] of `w · (c/n)`, summed as exact
    *     decimals, `.doubleValue` (Spark's Decimal→double), + intercept
    *     in plain IEEE;
    *   - result: [[argmax]], margin [[round6]].
    *
    * Buckets ABSENT from the stored weight table contribute no term
    * (an inner join's semantics); a document whose every bucket is
    * absent — or that has no grams — scores null, which callers
    * filter. */
  final class PortableLangIdModelRef(val dim: Int, val minN: Int,
      val maxN: Int, val k: Int, val present: Array[Boolean],
      val weights: Array[Double], val intercepts: Array[Double],
      val langs: Array[UTF8String]) extends Serializable {

    def score(input: UTF8String): org.apache.spark.sql.catalyst.InternalRow = {
      val counts = new Array[Int](dim)
      val total = forEachGram(input, minN, maxN) { bytes =>
        val key = md5Key(bytes)
        counts((hexAscii(key, 0) * 53 + hexAscii(key, 1) * 17 +
          hexAscii(key, 2) * 7 + hexAscii(key, 3)) % dim) += 1
      }
      if (!(0 until dim).exists(i => counts(i) > 0 && present(i))) return null
      val margins = Array.tabulate(k) { j =>
        var acc = java.math.BigDecimal.ZERO
        var idx = 0
        while (idx < dim) {
          if (counts(idx) > 0 && present(idx))
            acc = acc.add(decTerm(weights(idx * k + j) * (counts(idx).toDouble / total.toDouble)))
          idx += 1
        }
        acc.doubleValue() + intercepts(j)
      }
      langAndMargin(margins, langs)
    }
  }

  /** Closed-form coefficients for one rank-1 bucket weight:
    * `((h0·c0 + h1·c1 + h2·c2) % mod − off) / div` over the ASCII codes
    * of the bucket's first three md5 hex chars (the x56 portable
    * convention). */
  final case class HexCoef(c0: Int, c1: Int, c2: Int, mod: Int, off: Int,
      div: Double) extends Serializable {
    def of(h0: Int, h1: Int, h2: Int): Double =
      ((h0 * c0 + h1 * c1 + h2 * c2) % mod - off) / div
  }

  /** RANK-1 portable scoring kernel ([[graft.ext.LangId.predictPortable]]):
    * buckets are the md5 hex 4-prefix, each bucket carries closed-form
    * (base, delta) weights, and class margins are `a + k·d +
    * intercept(k)` over the two decimal-summed per-doc totals. Replays
    * the oracle-pinned numerics of gate x56 bit-exactly (the
    * [[decTerm]] contract over `(w · c) / n`, this gate's operand
    * order); [[argmax]], margin [[round6]]. Null when the document has
    * no grams. */
  final class Rank1PortableLangIdRef(val minN: Int, val maxN: Int,
      val base: HexCoef, val delta: HexCoef, val intercepts: Array[Double],
      val langs: Array[UTF8String]) extends Serializable {

    def score(input: UTF8String): org.apache.spark.sql.catalyst.InternalRow = {
      // collect 16-bit bucket keys, then run-length on the sorted array
      var keys = new Array[Int](64)
      var kn = 0
      val total = forEachGram(input, minN, maxN) { bytes =>
        if (kn == keys.length) keys = java.util.Arrays.copyOf(keys, kn * 2)
        keys(kn) = md5Key(bytes)
        kn += 1
      }
      if (total == 0) return null
      java.util.Arrays.sort(keys, 0, total)
      val nn = total.toDouble
      var accA = java.math.BigDecimal.ZERO
      var accB = java.math.BigDecimal.ZERO
      var i = 0
      while (i < total) {
        val key = keys(i)
        var j = i
        while (j < total && keys(j) == key) j += 1
        val c = (j - i).toDouble
        val (h0, h1, h2) = (hexAscii(key, 0), hexAscii(key, 1), hexAscii(key, 2))
        accA = accA.add(decTerm(base.of(h0, h1, h2) * c / nn))
        accB = accB.add(decTerm(delta.of(h0, h1, h2) * c / nn))
        i = j
      }
      val (a, d) = (accA.doubleValue(), accB.doubleValue())
      langAndMargin(Array.tabulate(langs.length)(k => a + k.toDouble * d + intercepts(k)), langs)
    }
  }

  final case class Rank1PortableLangIdScore(child: Expression,
      model: Rank1PortableLangIdRef)
      extends UnaryExpression with ExpectsInputTypes {
    override def inputTypes = Seq(StringType)
    override def dataType: DataType = StructType(Seq(
      StructField("lang", StringType, nullable = false),
      StructField("margin", DoubleType, nullable = false)))
    override def nullable: Boolean = true
    override def prettyName: String = "graft_rank1_portable_langid_score"
    // optimizer fence — see [[PortableLangIdScore.deterministic]]
    override lazy val deterministic: Boolean = false

    override def nullSafeEval(v: Any): Any =
      model.score(v.asInstanceOf[UTF8String])

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, v => {
        val m = ctx.addReferenceObj("rank1LangIdModel", model,
          classOf[Rank1PortableLangIdRef].getName)
        s"""
           |${ev.value} = $m.score($v);
           |${ev.isNull} = ${ev.value} == null;
         """.stripMargin
      })

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** Column form of [[Rank1PortableLangIdScore]]. */
  def rank1PortableLangIdScore(text: Column, minN: Int, maxN: Int,
      langs: Seq[String], base: HexCoef, delta: HexCoef,
      interceptOf: Int => Double): Column = {
    val ref = new Rank1PortableLangIdRef(minN, maxN, base, delta,
      langs.indices.map(interceptOf).toArray,
      langs.map(UTF8String.fromString).toArray)
    ColumnBridge.column(Rank1PortableLangIdScore(ColumnBridge.expr(text), ref))
  }

  final case class PortableLangIdScore(child: Expression,
      model: PortableLangIdModelRef)
      extends UnaryExpression with ExpectsInputTypes {
    override def inputTypes = Seq(StringType)
    override def dataType: DataType = StructType(Seq(
      StructField("lang", StringType, nullable = false),
      StructField("margin", DoubleType, nullable = false)))
    override def nullable: Boolean = true // null: gram-less / all-OOV doc
    override def prettyName: String = "graft_portable_langid_score"
    // The function is pure, but advertising that lets the optimizer
    // push the caller's isNotNull filter BELOW the pre-spread exchange,
    // duplicating this (expensive: per-gram md5 + per-class decimal
    // sums) kernel — once in the pushed filter on the unspread scan,
    // once in the projection. Declaring it non-deterministic is the
    // standard fence: may not be reordered, duplicated, or
    // constant-folded; one evaluation per row, after the spread.
    override lazy val deterministic: Boolean = false

    override def nullSafeEval(v: Any): Any =
      model.score(v.asInstanceOf[UTF8String])

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, v => {
        val m = ctx.addReferenceObj("portableLangIdModel", model,
          classOf[PortableLangIdModelRef].getName)
        s"""
           |${ev.value} = $m.score($v);
           |${ev.isNull} = ${ev.value} == null;
         """.stripMargin
      })

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** Column form of [[PortableLangIdScore]]: struct(lang, margin), null
    * when the document yields no in-model grams. */
  def portableLangIdScore(text: Column, dim: Int, minN: Int, maxN: Int,
      langs: Seq[String], intercepts: Seq[Double],
      weights: Map[Int, Seq[Double]]): Column = {
    val k = langs.size
    val present = new Array[Boolean](dim)
    val flat = new Array[Double](dim * k)
    weights.foreach { case (i, vs) =>
      present(i) = true
      var j = 0
      vs.foreach { w => flat(i * k + j) = w; j += 1 }
    }
    val ref = new PortableLangIdModelRef(dim, minN, maxN, k, present, flat,
      intercepts.toArray, langs.map(UTF8String.fromString).toArray)
    ColumnBridge.column(PortableLangIdScore(ColumnBridge.expr(text), ref))
  }

  /** Column form; null when the document yields no grams. */
  def langIdScore(text: Column, dim: Int, minN: Int, maxN: Int,
      langs: Seq[String], intercepts: Seq[Double],
      weights: Map[Int, Seq[Double]]): Column = {
    val k = langs.size
    val flat = new Array[Double](dim * k)
    weights.foreach { case (i, vs) =>
      var j = 0
      vs.foreach { w => flat(i * k + j) = w; j += 1 }
    }
    val ref = new LangIdModelRef(dim, minN, maxN, k, flat,
      intercepts.toArray, langs.map(UTF8String.fromString).toArray)
    ColumnBridge.column(LangIdScore(ColumnBridge.expr(text), ref))
  }
}
