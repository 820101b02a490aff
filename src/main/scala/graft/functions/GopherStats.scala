package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{DataType, LongType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** The per-document counts the Gopher quality rules decide on, in one
  * loop over the words. The higher-order-function formulation
  * (`aggregate`/`filter`/`rlike` lambdas over `split(trim(text),
  * "\\s+")`) computes the same numbers but runs interpreted per word.
  */
object GopherOps {
  /** The stopword list of the Gopher stopword rule and of the quality
    * signals. */
  val Stopwords: Seq[String] = Seq("the", "a", "of", "and", "to", "in", "is")

  private val stop = Stopwords.map(UTF8String.fromString).toArray
  private val ws = UTF8String.fromString("\\s+")

  val schema: StructType = StructType(Seq("n_words", "sum_wl", "n_alpha",
    "n_stop", "n_sym").map(StructField(_, LongType, nullable = false)))

  /** (n_words, summed word length in characters, words holding an ASCII
    * letter, stopwords, symbols). Words are Spark's own
    * `UTF8String.trim().split("\\s+", -1)` — exactly what
    * `split(trim(text), "\\s+")` yields, leading empty word and all.
    * Symbols count `#` plus non-overlapping `...` over the whole text,
    * as `regexp_count` does; both are ASCII, so a byte scan finds them.
    */
  def stats(s: UTF8String): InternalRow = {
    val words = s.trim().split(ws, -1)
    var sumWl = 0L
    var alpha = 0L
    var nStop = 0L
    var i = 0
    while (i < words.length) {
      val w = words(i)
      sumWl += w.numChars()
      if (hasAsciiLetter(w)) alpha += 1
      if (isStopword(w)) nStop += 1
      i += 1
    }
    new GenericInternalRow(Array[Any](words.length.toLong, sumWl, alpha,
      nStop, symbols(s)))
  }

  // UTF-8 multi-byte sequences hold no ASCII byte, so a byte test is a
  // character test
  private def hasAsciiLetter(w: UTF8String): Boolean = {
    var i = 0
    val n = w.numBytes()
    while (i < n) {
      val b = w.getByte(i)
      if ((b >= 'A' && b <= 'Z') || (b >= 'a' && b <= 'z')) return true
      i += 1
    }
    false
  }

  private def isStopword(w: UTF8String): Boolean = {
    var i = 0
    while (i < stop.length) {
      if (stop(i) == w) return true
      i += 1
    }
    false
  }

  private def symbols(s: UTF8String): Long = {
    val n = s.numBytes()
    var count = 0L
    var i = 0
    while (i < n) {
      val b = s.getByte(i)
      if (b == '#') { count += 1; i += 1 }
      else if (b == '.' && i + 2 < n && s.getByte(i + 1) == '.' &&
          s.getByte(i + 2) == '.') { count += 1; i += 3 }
      else i += 1
    }
    count
  }

  /** Column API for GopherStats (string -> struct of five bigints). */
  def column(text: Column): Column =
    Bridge.column(GopherStats(Bridge.expression(text)))
}

/** Native twin of the Gopher rules' per-word lambdas: see
  * [[GopherOps.stats]].
  */
case class GopherStats(child: Expression) extends UnaryExpression {
  override def dataType: DataType = GopherOps.schema
  override protected def nullSafeEval(v: Any): Any =
    GopherOps.stats(v.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.GopherOps$$.MODULE$$.stats($c)")
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
