package graft.extract

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Single-pass gazetteer scanner: byte-level normalization + char-trie
  * matching (leftmost-longest at word boundaries, non-overlapping) +
  * first-occurrence dedup, fused into one allocation-free pass — replaces
  * the 60+-alternation regex, per-element map lookups and array_distinct of
  * the composed column path. Zero per-row allocation beyond the output
  * array: normalization writes into a thread-local buffer, the trie is a
  * flat int array, matched entity ids are pre-interned UTF8Strings.
  *
  * Matching contract is IDENTICAL to the regex twin (Twins.mentionIds) and
  * OracleExtractor.mentions (word scanner); three-way equivalence pinned by
  * ExtractorSpec.
  */
object MentionScanner {

  // symbol alphabet: 'a'..'z' -> 0..25, '0'..'9' -> 26..35, ' ' -> 36
  private final val SYM = 37
  @inline private def sym(c: Char): Int =
    if (c >= 'a' && c <= 'z') c - 'a'
    else if (c >= '0' && c <= '9') c - '0' + 26
    else 36

  // flat char-trie over normalized aliases; children(node*SYM + sym) = next
  private val (children: Array[Int], entityAt: Array[UTF8String], nodeCount: Int) = {
    val aliases = Gazetteer.aliasToId.toSeq.sortBy(_._1)
    val cap = aliases.map(_._1.length).sum + 1
    val ch = Array.fill(cap * SYM)(-1)
    val ent = new Array[UTF8String](cap)
    var n = 1
    aliases.foreach { case (a, id) =>
      var node = 0
      var i = 0
      while (i < a.length) {
        val s = sym(a.charAt(i))
        var nxt = ch(node * SYM + s)
        if (nxt == -1) { nxt = n; ch(node * SYM + s) = n; n += 1 }
        node = nxt
        i += 1
      }
      ent(node) = UTF8String.fromString(id)
    }
    (ch, ent, n)
  }

  private val tlBuf = new ThreadLocal[Array[Char]] {
    override def initialValue(): Array[Char] = new Array[Char](1024)
  }
  private val tlSeen = new ThreadLocal[java.util.HashSet[UTF8String]] {
    override def initialValue() = new java.util.HashSet[UTF8String](8)
  }

  /** Byte-level streaming normalization of UTF-8 `text` into `buf`
    * (lowercase, alnum kept, ü/Ü -> u, ã/Ã -> a, everything else folds to a
    * single space, no leading/trailing space). Returns the normalized
    * length. Matches TextNorm.normalize exactly for any input whose
    * non-ASCII content is limited to the gazetteer's diacritics; other
    * multi-byte characters fold to spaces in both (runs collapse).
    */
  private def normalize(bytes: Array[Byte], start: Int, len: Int, buf: Array[Char]): Int = {
    var i = start
    val end = start + len
    var o = 0
    var lastSpace = true
    while (i < end) {
      val b = bytes(i) & 0xff
      var c: Char = 0
      var consumed = 1
      if (b < 0x80) {
        val lower = if (b >= 'A' && b <= 'Z') (b + 32).toChar else b.toChar
        c = if ((lower >= 'a' && lower <= 'z') || (lower >= '0' && lower <= '9')) lower else ' '
      } else if (b == 0xc3 && i + 1 < end) {
        val b2 = bytes(i + 1) & 0xff
        consumed = 2
        c = b2 match {
          case 0xbc | 0x9c => 'u' // ü Ü
          case 0xa3 | 0x83 => 'a' // ã Ã
          case _           => ' '
        }
      } else {
        c = ' ' // other multi-byte lead/continuation bytes fold to space
      }
      if (c == ' ') {
        if (!lastSpace) { buf(o) = ' '; o += 1; lastSpace = true }
      } else { buf(o) = c; o += 1; lastSpace = false }
      i += consumed
    }
    if (o > 0 && buf(o - 1) == ' ') o - 1 else o
  }

  /** Ordered distinct canonical entity ids mentioned in `text`. */
  def scan(text: UTF8String): ArrayData = {
    val bytes = text.getBytes
    var buf = tlBuf.get()
    if (buf.length < bytes.length + 1) {
      buf = new Array[Char](bytes.length * 2 + 16)
      tlBuf.set(buf)
    }
    val len = normalize(bytes, 0, bytes.length, buf)
    var out: java.util.ArrayList[Any] = null
    val seen = tlSeen.get()
    seen.clear()
    var i = 0
    while (i < len) {
      // i is at a word start; walk the trie as far as bytes match, keeping
      // the deepest node that is terminal AND ends at a word boundary
      var node = 0
      var j = i
      var lastEnd = -1
      var lastEntity: UTF8String = null
      var cont = true
      while (cont && j < len) {
        val nxt = children(node * SYM + sym(buf(j)))
        if (nxt == -1) cont = false
        else {
          node = nxt
          val e = entityAt(node)
          if (e != null && (j + 1 >= len || buf(j + 1) == ' ')) {
            lastEntity = e; lastEnd = j
          }
          j += 1
        }
      }
      if (lastEntity != null) {
        if (seen.add(lastEntity)) {
          if (out == null) out = new java.util.ArrayList[Any](4)
          out.add(lastEntity)
        }
        i = lastEnd + 2 // skip the boundary space
      } else {
        // advance past the current word
        var e = i
        while (e < len && buf(e) != ' ') e += 1
        i = e + 1
      }
    }
    if (out == null) MentionScanner.emptyArray
    else new GenericArrayData(out.toArray.asInstanceOf[Array[Any]])
  }

  private val emptyArray = new GenericArrayData(new Array[Any](0))
}

/** Catalyst expression wrapping [[MentionScanner.scan]] — a real doGenCode
  * (single static call) keeps the projection inside whole-stage codegen,
  * unlike higher-order-function pipelines which fall back to interpretation.
  */
case class GazetteerMentions(child: Expression) extends UnaryExpression {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "gazetteer_mentions"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType.isInstanceOf[org.apache.spark.sql.types.StringType])
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"gazetteer_mentions requires a string argument, got ${child.dataType.catalogString}")

  override def nullSafeEval(input: Any): Any =
    MentionScanner.scan(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.extract.MentionScanner.scan($c)")

  override protected def withNewChildInternal(newChild: Expression): GazetteerMentions =
    copy(child = newChild)
}

object GazetteerMentions {
  def apply(c: Column): Column = Bridge.column(GazetteerMentions(Bridge.expression(c)))
}
