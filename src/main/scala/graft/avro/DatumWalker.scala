package graft.avro

import org.apache.avro.Schema

import scala.jdk.CollectionConverters._

/** Schema-driven walk over Avro binary: finds where the datum that starts
  * at `pos` ends, touching only lengths, counts, indexes and varints — no
  * object is built, no string decoded. Two callers rely on it:
  *
  *  - the OCF source slices raw datum bytes out of each decompressed block
  *    at the boundaries it finds, so the one real decode happens in
  *    `fromAvro` downstream ([[AvroOcf]]);
  *  - replication passes a body through untouched when its writer schema
  *    is the subject schema ([[ReplicateWire]]): the walk proves the body
  *    is one whole datum and notes what it read of the id field.
  *
  * The walk is bounds-checked and never reads at or past `limit`. Instead
  * of throwing it returns [[DatumWalker.Malformed]] for every byte sequence
  * a decoder would fail on or read differently from its length: EOF, a
  * union or enum index out of range, a negative length, an int varint
  * longer than 5 bytes or a long varint longer than 10, a block count
  * larger than the bytes left (unless the items take no bytes: an array
  * of nulls, of empty records or of size-0 fixeds), more such zero-width
  * items in one datum than `maxEmptyItems`, a negative block byte size or
  * one that disagrees with the items the block holds. Items of a
  * block are walked one by one, as a decoder reads them, not skipped by
  * the byte size. Varints read as the Avro decoder reads them: an int
  * from the low 32 bits of its varint.
  *
  * Not thread-safe (it keeps the last varint and the mark in fields):
  * confine an instance to one task or thread.
  *
  * @param markField index of a top-level field of a record schema that
  *                  [[markEnd]], [[markValue]] and [[markBranch]] report
  *                  on after each walk, or -1
  * @param maxEmptyItems how many zero-width array items one datum may hold
  */
final class DatumWalker(schema: Schema, markField: Int = -1,
                        maxEmptyItems: Long = Long.MaxValue) {
  import DatumWalker.Malformed

  /** The value of the last varint read. */
  private var value = 0L
  /** The branch of the last union walked. */
  private var branch = -1
  private var markedEnd = -1
  private var markedValue = 0L
  private var markedBranch = -1
  /** Zero-width items the current walk has passed. */
  private var emptySeen = 0L
  private var oversized = false

  private abstract class Node {
    def walk(b: Array[Byte], pos: Int, limit: Int): Int
  }

  /** null, boolean, float, double and fixed: a fixed number of bytes. */
  private final class Width(n: Int) extends Node {
    def walk(b: Array[Byte], pos: Int, limit: Int): Int =
      if (limit - pos >= n) pos + n else Malformed
  }

  /** int (5 bytes at most) and long (10). */
  private final class VarInt(maxBytes: Int) extends Node {
    def walk(b: Array[Byte], pos: Int, limit: Int): Int = varint(b, pos, limit, maxBytes)
  }

  /** An enum symbol index. */
  private final class EnumIndex(symbols: Int) extends Node {
    def walk(b: Array[Byte], pos: Int, limit: Int): Int = {
      val p = varint(b, pos, limit, 5)
      if (p < 0 || value < 0 || value >= symbols) Malformed else p
    }
  }

  /** string and bytes: a length, then that many bytes. */
  private object LengthPrefixed extends Node {
    def walk(b: Array[Byte], pos: Int, limit: Int): Int = {
      val p = varint(b, pos, limit, 10)
      if (p < 0 || value < 0 || value > limit - p) Malformed else p + value.toInt
    }
  }

  private final class Union(branches: Array[Node]) extends Node {
    def walk(b: Array[Byte], pos: Int, limit: Int): Int = {
      val p = varint(b, pos, limit, 5)
      if (p < 0 || value < 0 || value >= branches.length) Malformed
      else {
        branch = value.toInt
        branches(branch).walk(b, p, limit)
      }
    }
  }

  private final class Record extends Node {
    var fields: Array[Node] = _
    def walk(b: Array[Byte], pos0: Int, limit: Int): Int = {
      var pos = pos0
      var i = 0
      while (i < fields.length && pos >= 0) {
        pos = fields(i).walk(b, pos, limit)
        i += 1
      }
      pos
    }
  }

  /** array and map: blocks of items, each block a count (negative: its
    * byte size follows), ended by a zero count. A map item is a string
    * key, then the value. Items that take no bytes are not walked. */
  private final class Blocks(item: Node, isMap: Boolean, emptyItems: Boolean) extends Node {
    def walk(b: Array[Byte], pos0: Int, limit: Int): Int = {
      var pos = varint(b, pos0, limit, 10)
      while (pos >= 0 && value != 0L) {
        var n = value
        var size = -1L
        if (n < 0L) {
          if (n == Long.MinValue) return Malformed
          n = -n
          pos = varint(b, pos, limit, 10)
          if (pos < 0 || value < 0L) return Malformed
          size = value
        }
        if (emptyItems) {
          if (n > maxEmptyItems - emptySeen) { oversized = true; return Malformed }
          emptySeen += n
        } else if (n > limit - pos) { oversized = true; return Malformed }
        val start = pos
        var i = if (emptyItems) n else 0L
        while (i < n && pos >= 0) {
          if (isMap) pos = LengthPrefixed.walk(b, pos, limit)
          if (pos >= 0) pos = item.walk(b, pos, limit)
          i += 1
        }
        if (pos < 0 || (size >= 0L && pos - start != size)) return Malformed
        pos = varint(b, pos, limit, 10)
      }
      pos
    }
  }

  /** Reads the zig-zag varint at `pos` into [[value]]: the offset after
    * it, or Malformed when it runs to `limit` or past `maxBytes` bytes. */
  private def varint(b: Array[Byte], pos0: Int, limit: Int, maxBytes: Int): Int = {
    var pos = pos0
    val stop = math.min(limit, pos0 + maxBytes)
    var n = 0L
    var shift = 0
    var more = true
    while (more) {
      if (pos >= stop) return Malformed
      val x = b(pos)
      pos += 1
      n |= (x & 0x7fL) << shift
      shift += 7
      more = (x & 0x80) != 0
    }
    value =
      if (maxBytes == 5) { val m = n.toInt; ((m >>> 1) ^ -(m & 1)).toLong }
      else (n >>> 1) ^ -(n & 1L)
    pos
  }

  /** Whether every datum of `s` takes no bytes: null, a size-0 fixed, or
    * a record of such fields. A record met again through itself is not:
    * the way back passes a union, array or map, which take bytes. */
  private def empty(s: Schema, open: java.util.Set[Schema]): Boolean = s.getType match {
    case Schema.Type.NULL => true
    case Schema.Type.FIXED => s.getFixedSize == 0
    case Schema.Type.RECORD if open.add(s) =>
      try s.getFields.asScala.forall(f => empty(f.schema(), open)) finally open.remove(s)
    case _ => false
  }

  private def compile(s: Schema, records: java.util.IdentityHashMap[Schema, Record]): Node = {
    import Schema.Type._
    s.getType match {
      case NULL => new Width(0)
      case BOOLEAN => new Width(1)
      case FLOAT => new Width(4)
      case DOUBLE => new Width(8)
      case FIXED => new Width(s.getFixedSize)
      case INT => new VarInt(5)
      case LONG => new VarInt(10)
      case ENUM => new EnumIndex(s.getEnumSymbols.size)
      case STRING | BYTES => LengthPrefixed
      case UNION => new Union(s.getTypes.asScala.map(compile(_, records)).toArray)
      case ARRAY =>
        val items = empty(s.getElementType, java.util.Collections.newSetFromMap(
          new java.util.IdentityHashMap[Schema, java.lang.Boolean]()))
        emptyItems ||= items
        hasBlocks = true
        new Blocks(compile(s.getElementType, records), isMap = false, items)
      case MAP =>
        hasBlocks = true
        new Blocks(compile(s.getValueType, records), isMap = true, emptyItems = false)
      case RECORD =>
        // a recursive schema refers back to a record being compiled
        val known = records.get(s)
        if (known != null) known
        else {
          val r = new Record
          records.put(s, r)
          r.fields = s.getFields.asScala.map(f => compile(f.schema(), records)).toArray
          r
        }
    }
  }

  private var emptyItems = false
  private var hasBlocks = false
  private val root = compile(schema, new java.util.IdentityHashMap[Schema, Record]())

  require(markField < 0 || (root.isInstanceOf[Record] && markField < schema.getFields.size),
    s"no top-level field $markField to mark in $schema")

  /** The end offset of the datum that starts at `pos`, or
    * [[DatumWalker.Malformed]] when `bytes[pos, limit)` does not start
    * with a well-formed one. */
  def skip(bytes: Array[Byte], pos: Int, limit: Int): Int = {
    emptySeen = 0L
    oversized = false
    if (markField < 0) root.walk(bytes, pos, limit)
    else {
      val fields = root.asInstanceOf[Record].fields
      var p = pos
      var i = 0
      while (i < fields.length && p >= 0) {
        if (i == markField) branch = -1
        p = fields(i).walk(bytes, p, limit)
        if (i == markField) {
          markedEnd = p
          markedValue = value
          markedBranch = branch
        }
        i += 1
      }
      p
    }
  }

  /** Whether a decoder reading the datum at `pos` would preallocate for a
    * block count without the bytes to back it: more items than bytes left,
    * or zero-width items past `maxEmptyItems`. Only a schema with an array
    * or a map is walked; a walk stopped first by another fault says no. */
  def preallocates(bytes: Array[Byte], pos: Int, limit: Int): Boolean =
    hasBlocks && skip(bytes, pos, limit) == Malformed && oversized

  /** Whether the schema has an array whose items take no bytes, so that a
    * valid datum can hold more items than it has bytes. */
  def hasEmptyItems: Boolean = emptyItems

  /** Where the marked field ended in the last walk that reached it. */
  def markEnd: Int = markedEnd

  /** The value of the last varint the marked field held in that walk: an
    * int or a long itself, the length of a string or bytes. */
  def markValue: Long = markedValue

  /** The branch of the last union the marked field held in that walk, or
    * -1 when it held none: for a `["null", primitive]` field, the branch
    * it took. */
  def markBranch: Int = markedBranch
}

object DatumWalker {
  /** What [[DatumWalker.skip]] returns for a malformed datum. */
  final val Malformed = -1

  /** The zero-width array items (nulls, empty records, size-0 fixeds) a
    * wire value may hold in all before it is decoded: such items cost no
    * bytes, and the decoder allocates every one of them. */
  final val MaxEmptyItems = 1L << 20
}
