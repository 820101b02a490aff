package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{DataType, LongType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expressions for the portable text-hash primitives.
  *
  * The pure higher-order-function formulation
  * (`aggregate(transform(split(s, '')...))`) is semantically identical
  * but runs interpreted per character — measured 100x slower on long
  * documents. These expressions keep the identical modular arithmetic
  * (so the DuckDB oracle still reproduces every value exactly) inside a
  * JIT-compiled loop, invoked from generated code via a static helper so
  * whole-stage codegen spans are preserved.
  */
object HashExprs {
  final val P = 1000000007L
  final val Base = 31L

  /** Polynomial rolling hash over Unicode codepoints — the exact fold
    * DuckDB computes as list_reduce(list_transform(string_split(s, ''),
    * c -> unicode(c)), (a,b) -> (a*31+b) % P).
    */
  def polyHash(s: UTF8String): Long = {
    val str = s.toString
    var acc = 0L
    var i = 0
    val n = str.length
    while (i < n) {
      val cp = str.codePointAt(i)
      acc = (acc * Base + cp) % P
      i += Character.charCount(cp)
    }
    acc
  }

  /** Dedup text normalization in ONE pass: lowercase, keep only
    * [a-z0-9 ], collapse space runs, trim — byte-identical to the
    * composed `trim(regexp_replace(regexp_replace(lower(s),
    * "[^a-z0-9 ]", ""), " +", " "))` it replaces, which ran TWO full
    * regex engines per document on the hottest dedup path.
    *
    * Case mapping goes through `UTF8String.toLowerCase` — the very
    * primitive Spark's `lower()` bottoms out in — so both formulations
    * share ONE mapping by construction (ADVICE r3: a JVM-default-locale
    * divergence, e.g. tr/az dotless-ı, could otherwise strip characters
    * on one path and keep them on the other).
    */
  def normalizeText(s: UTF8String): UTF8String = {
    val str = s.toLowerCase.toString
    val n = str.length
    val sb = new java.lang.StringBuilder(n)
    var lastSpace = true // leading spaces never emit (left trim)
    var i = 0
    while (i < n) {
      val ch = str.charAt(i)
      if ((ch >= 'a' && ch <= 'z') || (ch >= '0' && ch <= '9')) {
        sb.append(ch); lastSpace = false
      } else if (ch == ' ' && !lastSpace) {
        sb.append(' '); lastSpace = true
      }
      i += 1
    }
    var len = sb.length
    if (len > 0 && sb.charAt(len - 1) == ' ') len -= 1 // right trim
    UTF8String.fromString(sb.substring(0, len))
  }

  /** 32-bit SimHash from an array of word hashes: bit i set iff more
    * than half the words have bit i set.
    */
  def simhash32(arr: ArrayData): Long = {
    val n = arr.numElements()
    val counts = new Array[Int](32)
    var j = 0
    while (j < n) {
      val h = arr.getLong(j)
      var i = 0
      while (i < 32) {
        counts(i) += ((h >> i) & 1L).toInt
        i += 1
      }
      j += 1
    }
    var sim = 0L
    var i = 0
    while (i < 32) {
      if (2L * counts(i) > n) sim |= (1L << i)
      i += 1
    }
    sim
  }
}

object ShingleOps {
  import org.apache.spark.sql.catalyst.util.GenericArrayData

  /** polyHash of the n-gram starting at word index `i` (space-joined) —
    * identical to polyHash("w_i w_i+1 ... w_i+n-1") without building the
    * concatenated string.
    */
  private def shingleHash(words: Array[String], i: Int, n: Int): Long = {
    var acc = 0L
    var j = i
    while (j < i + n) {
      if (j > i) acc = (acc * HashExprs.Base + 32L) % HashExprs.P // ' '
      val w = words(j)
      var k = 0
      while (k < w.length) {
        val cp = w.codePointAt(k)
        acc = (acc * HashExprs.Base + cp) % HashExprs.P
        k += Character.charCount(cp)
      }
      j += 1
    }
    acc
  }

  private def strings(arr: ArrayData): Array[String] = {
    val words = new Array[String](arr.numElements())
    var i = 0
    while (i < words.length) { words(i) = arr.getUTF8String(i).toString; i += 1 }
    words
  }

  /** array<long> of rolling hashes of all word n-grams. */
  def shingleHashes(arr: ArrayData, n: Int): ArrayData = {
    val m = arr.numElements()
    if (m < n) return new GenericArrayData(Array.empty[Long])
    val words = strings(arr)
    val out = new Array[Long](m - n + 1)
    var i = 0
    while (i <= m - n) { out(i) = shingleHash(words, i, n); i += 1 }
    new GenericArrayData(out)
  }

  private val seedA = TextHash.minhashSeeds.map(_._1).toArray
  private val seedB = TextHash.minhashSeeds.map(_._2).toArray

  /** The MinHash signature of the word n-gram set: component j is the
    * min over shingle hashes h of (h * a_j + b_j) mod P, with the seeds
    * of [[TextHash.minhashSeeds]]. Null when there are fewer than n
    * words (no shingle, so no signature).
    */
  def minhashSig(arr: ArrayData, n: Int): InternalRow = {
    val m = arr.numElements()
    if (m < n) return null
    val words = strings(arr)
    val mins = Array.fill(seedA.length)(Long.MaxValue)
    var i = 0
    while (i <= m - n) {
      val h = shingleHash(words, i, n)
      var j = 0
      while (j < mins.length) {
        val v = (h * seedA(j) + seedB(j)) % HashExprs.P
        if (v < mins(j)) mins(j) = v
        j += 1
      }
      i += 1
    }
    new GenericInternalRow(mins.map(v => v: Any))
  }

  /** array<long> of per-word polyHashes. */
  def wordHashes(arr: ArrayData): ArrayData = {
    val m = arr.numElements()
    val out = new Array[Long](m)
    var i = 0
    while (i < m) {
      out(i) = HashExprs.polyHash(arr.getUTF8String(i))
      i += 1
    }
    new GenericArrayData(out)
  }
}

/** Hashed word n-gram shingles in one codegen'd pass. The higher-order
  * `transform(sequence(...), i -> polyHash(concat_ws(slice(...))))`
  * formulation is semantically identical but interpreted (lambda
  * functions never enter whole-stage codegen) — measured unstable
  * 5-50x slowdowns under thread parallelism on the explode hot path.
  */
case class ShingleHashes(child: Expression, n: Int) extends UnaryExpression {
  override def dataType: DataType =
    org.apache.spark.sql.types.ArrayType(LongType, containsNull = false)
  override protected def nullSafeEval(v: Any): Any =
    ShingleOps.shingleHashes(v.asInstanceOf[ArrayData], n)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.ShingleOps$$.MODULE$$.shingleHashes($c, $n)")
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** MinHash signature struct (s0..s15) of an array<string> of words in
  * one codegen'd loop: the shingle hashes are folded straight into the
  * 16 running minima, so a signature needs neither an exploded row per
  * shingle nor a per-document aggregate. Null below n words.
  */
case class MinhashSig(child: Expression, n: Int) extends UnaryExpression {
  override def dataType: DataType = MinhashSig.schema
  override def nullable: Boolean = true
  override protected def nullSafeEval(v: Any): Any =
    ShingleOps.minhashSig(v.asInstanceOf[ArrayData], n)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"""${ev.value} = graft.functions.ShingleOps$$.MODULE$$.minhashSig($c, $n);
         |${ev.isNull} = ${ev.value} == null;""".stripMargin)
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object MinhashSig {
  /** s0..s15, nullable like the `min` aggregates they replace. */
  val schema: StructType = StructType(TextHash.minhashSeeds.indices.map(j =>
    StructField(s"s$j", LongType, nullable = true)))
}

/** Per-word polyHash array (SimHash input) in one codegen'd pass. */
case class WordHashes(child: Expression) extends UnaryExpression {
  override def dataType: DataType =
    org.apache.spark.sql.types.ArrayType(LongType, containsNull = false)
  override protected def nullSafeEval(v: Any): Any =
    ShingleOps.wordHashes(v.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.ShingleOps$$.MODULE$$.wordHashes($c)")
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

case class PolyHash(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override protected def nullSafeEval(v: Any): Any =
    HashExprs.polyHash(v.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.HashExprs$$.MODULE$$.polyHash($c)")
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

case class NormalizeText(child: Expression) extends UnaryExpression {
  override def dataType: DataType = org.apache.spark.sql.types.StringType
  override protected def nullSafeEval(v: Any): Any =
    HashExprs.normalizeText(v.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.HashExprs$$.MODULE$$.normalizeText($c)")
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

case class SimHash32(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override protected def nullSafeEval(v: Any): Any =
    HashExprs.simhash32(v.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.HashExprs$$.MODULE$$.simhash32($c)")
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object HashFunctions {
  /** Column API for PolyHash (string -> bigint). */
  def polyHash(c: Column): Column = Bridge.column(PolyHash(Bridge.expression(c)))

  /** Column API for NormalizeText (string -> string). */
  def normalizeText(c: Column): Column =
    Bridge.column(NormalizeText(Bridge.expression(c)))

  /** Column API for SimHash32 (array<bigint> -> bigint). */
  def simhash32(c: Column): Column = Bridge.column(SimHash32(Bridge.expression(c)))

  /** Column API for ShingleHashes (array<string> -> array<bigint>). */
  def shingleHashes(c: Column, n: Int): Column =
    Bridge.column(ShingleHashes(Bridge.expression(c), n))

  /** Column API for MinhashSig (array<string> -> struct<s0..s15>). */
  def minhashSig(c: Column, n: Int): Column =
    Bridge.column(MinhashSig(Bridge.expression(c), n))

  /** Column API for WordHashes (array<string> -> array<bigint>). */
  def wordHashes(c: Column): Column =
    Bridge.column(WordHashes(Bridge.expression(c)))
}
