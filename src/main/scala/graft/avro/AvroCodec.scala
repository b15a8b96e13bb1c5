package graft.avro

import java.io.OutputStream
import java.math.BigInteger
import java.nio.ByteBuffer
import java.util.concurrent.atomic.{AtomicLong, LongAdder}

import org.apache.avro.{LogicalTypes, Schema}
import org.apache.avro.generic.{GenericData, GenericDatumReader, GenericDatumWriter, GenericRecord}
import org.apache.avro.io.{BinaryDecoder, DecoderFactory, EncoderFactory}
import org.apache.avro.util.Utf8
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, ArrayData, GenericArrayData, MapData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import scala.jdk.CollectionConverters._

/** Catalyst ↔ Avro value codec over avro-core (no spark-avro jar in this
  * sandbox — SURVEY.md §7 environment constraints; semantics follow the
  * reference's registry-resolved GenericRecord model,
  * `ReplicationApplication.java:63` / `application.yml:11-16`).
  *
  * Converts between Catalyst *internal* values (UTF8String, micros-since-epoch
  * longs, ArrayData/MapData, Decimal) and Avro generic values, and
  * binary-encodes/decodes Avro bodies.
  *
  * The codec is compiled: [[toCatalyst]] and [[fromCatalyst]] resolve union
  * branches, logical types and field converters once per (schema, type)
  * pair and return a converter tree; [[Decoding]] and [[Encoding]] hold one
  * datum reader/writer, decoder/encoder and buffer each, for a caller that
  * confines them to one thread (the expressions keep one per task). The
  * one-shot entry points (`decode`, `encode`, `avroToCatalyst`,
  * `catalystToAvro`) run the same compiled path through a small per-thread
  * memo keyed by the identity of their schema and type arguments.
  */
object AvroCodec {

  /** The non-null branch of a ["null", T] union, else the schema itself. */
  def nonNull(s: Schema): Schema =
    if (s.getType == Schema.Type.UNION)
      s.getTypes.asScala.find(_.getType != Schema.Type.NULL).getOrElse(s)
    else s

  /** The non-null branches of a union (a non-union counts as one branch). */
  def nonNullBranches(s: Schema): Seq[Schema] =
    if (s.getType == Schema.Type.UNION)
      s.getTypes.asScala.filter(_.getType != Schema.Type.NULL).toSeq
    else Seq(s)

  // ---------------------------------------------------------------- encode

  /** Catalyst internal value → Avro generic value under `schema`. */
  def catalystToAvro(value: Any, dt: DataType, schema: Schema): AnyRef =
    if (value == null) null else fromCatalystMemo(dt, schema)(value)

  /** The Catalyst → Avro converter for values of `dt` under `schema`. It
    * takes a non-null value; nulls stay null at every level. */
  def fromCatalyst(dt: DataType, schema: Schema): Any => AnyRef = {
    val branches = nonNullBranches(schema)
    if (branches.size > 1) {
      // general union: value is the tagged struct; _tag picks the branch
      return dt match {
        case st: StructType
            if st.fieldNames.headOption.contains(AvroSchemaConverter.UnionTagField) =>
          val members = branches.indices.map { i =>
            val memberDt = st.fields(i + 1).dataType
            (InternalRow.getAccessor(memberDt), fromCatalyst(memberDt, branches(i)))
          }.toArray
          value => {
            val row = value.asInstanceOf[InternalRow]
            val tag = row.getInt(0)
            require(tag >= 0 && tag < branches.size,
              s"union _tag $tag out of range for ${branches.size} branches")
            val (get, conv) = members(tag)
            val member = get(row, tag + 1)
            require(member != null,
              s"union _tag $tag names member${tag} but it is null")
            conv(member)
          }
        case other => _ => throw new UnsupportedOperationException(
          s"union ${schema} needs a {_tag, member*} struct, got $other")
      }
    }
    val s = nonNull(schema)
    (dt, s.getType) match {
      case (BooleanType, _) | (IntegerType, _) | (LongType, _) |
           (FloatType, _) | (DoubleType, _) =>
        // identical physical representation; timestamps handled below
        (dt, s.getLogicalType) match {
          case (LongType, _: LogicalTypes.TimestampMillis) =>
            // floorDiv: pre-epoch micros must round toward -∞, not zero
            v => java.lang.Long.valueOf(Math.floorDiv(v.asInstanceOf[Long], 1000L))
          case _ => _.asInstanceOf[AnyRef]
        }
      case (TimestampType, Schema.Type.LONG) | (TimestampNTZType, Schema.Type.LONG) =>
        s.getLogicalType match {
          case _: LogicalTypes.TimestampMillis | _: LogicalTypes.LocalTimestampMillis =>
            v => java.lang.Long.valueOf(Math.floorDiv(v.asInstanceOf[Long], 1000L))
          case _ => v => java.lang.Long.valueOf(v.asInstanceOf[Long]) // micros
        }
      case (DateType, Schema.Type.INT) => _.asInstanceOf[AnyRef]
      case (ByteType, Schema.Type.INT) =>
        v => java.lang.Integer.valueOf(v.asInstanceOf[Byte].toInt)
      case (ShortType, Schema.Type.INT) =>
        v => java.lang.Integer.valueOf(v.asInstanceOf[Short].toInt)
      case (StringType, Schema.Type.ENUM) =>
        v => new GenericData.EnumSymbol(s, v.toString)
      // Utf8 carries the UTF-8 bytes as they are: no decode to a Java string
      // and re-encode in the writer
      case (StringType, _) => v => new Utf8(v.asInstanceOf[UTF8String].getBytes)
      case (BinaryType, Schema.Type.FIXED) =>
        v => new GenericData.Fixed(s, v.asInstanceOf[Array[Byte]])
      case (BinaryType, _) => v => ByteBuffer.wrap(v.asInstanceOf[Array[Byte]])
      case (_: DecimalType, _) =>
        v => ByteBuffer.wrap(v.asInstanceOf[Decimal]
          .toJavaBigDecimal.unscaledValue().toByteArray)
      case (st: StructType, Schema.Type.RECORD) =>
        val n = st.length
        val gets = st.fields.map(f => InternalRow.getAccessor(f.dataType))
        val convs = Array.tabulate(n)(i =>
          fromCatalyst(st.fields(i).dataType, s.getFields.get(i).schema()))
        value => {
          val row = value.asInstanceOf[InternalRow]
          val rec = new GenericData.Record(s)
          var i = 0
          while (i < n) {
            val v = gets(i)(row, i)
            rec.put(i, if (v == null) null else convs(i)(v))
            i += 1
          }
          rec
        }
      case (ArrayType(et, _), Schema.Type.ARRAY) =>
        val get = InternalRow.getAccessor(et)
        val conv = fromCatalyst(et, s.getElementType)
        value => {
          val arr = value.asInstanceOf[ArrayData]
          val out = new java.util.ArrayList[AnyRef](arr.numElements())
          var i = 0
          while (i < arr.numElements()) {
            val v = get(arr, i)
            out.add(if (v == null) null else conv(v))
            i += 1
          }
          out
        }
      case (MapType(StringType, vt, _), Schema.Type.MAP) =>
        val get = InternalRow.getAccessor(vt)
        val conv = fromCatalyst(vt, s.getValueType)
        value => {
          val m = value.asInstanceOf[MapData]
          val out = new java.util.HashMap[String, AnyRef](m.numElements())
          val keys = m.keyArray()
          val vals = m.valueArray()
          var i = 0
          while (i < m.numElements()) {
            val v = get(vals, i)
            out.put(keys.getUTF8String(i).toString, if (v == null) null else conv(v))
            i += 1
          }
          out
        }
      case other =>
        _ => throw new UnsupportedOperationException(s"encode: unsupported $other")
    }
  }

  // ---------------------------------------------------------------- decode

  /** Avro generic value → Catalyst internal value under `dt`. */
  def avroToCatalyst(value: AnyRef, schema: Schema, dt: DataType): Any =
    if (value == null) null else toCatalystMemo(schema, dt)(value)

  /** The Avro → Catalyst converter for values of `schema` as `dt`. It takes
    * a non-null value and returns a value that shares nothing with it, so
    * the Avro side may be a reused record; every call builds fresh rows. */
  def toCatalyst(schema: Schema, dt: DataType): AnyRef => Any = {
    val branches = nonNullBranches(schema)
    if (branches.size > 1) {
      // general union → tagged struct: resolve which branch produced the
      // value (same dispatch GenericDatumWriter uses), set _tag + memberI
      val st = dt match {
        case st: StructType => st
        case _ => return _ => dt.asInstanceOf[StructType] // the ClassCastException
      }
      val types = schema.getTypes
      val tags = Array.tabulate(types.size)(i => branches.indexWhere(_ eq types.get(i)))
      val convs = Array.tabulate(types.size)(i =>
        if (tags(i) < 0) null else toCatalyst(types.get(i), st.fields(tags(i) + 1).dataType))
      return value => {
        val idx = GenericData.get().resolveUnion(schema, value)
        val tag = tags(idx)
        require(tag >= 0,
          s"resolved union branch ${types.get(idx)} is the null branch for non-null value")
        val out = new GenericInternalRow(st.length)
        out.update(0, tag)
        out.update(tag + 1, convs(idx)(value))
        out
      }
    }
    val s = nonNull(schema)
    (s.getType, dt) match {
      case (Schema.Type.BOOLEAN, _) | (Schema.Type.FLOAT, _) |
           (Schema.Type.DOUBLE, _) => identity
      case (Schema.Type.INT, _) => identity // also date: days-since-epoch both sides
      case (Schema.Type.LONG, TimestampType) | (Schema.Type.LONG, TimestampNTZType) =>
        s.getLogicalType match {
          case _: LogicalTypes.TimestampMillis | _: LogicalTypes.LocalTimestampMillis =>
            _.asInstanceOf[java.lang.Long] * 1000L
          case _ => identity // micros
        }
      case (Schema.Type.LONG, _) => identity
      case (Schema.Type.STRING, _) | (Schema.Type.ENUM, _) =>
        (value: AnyRef) => value match {
          // copy the bytes: a reused record's Utf8 is overwritten by the next read
          case u: Utf8 =>
            UTF8String.fromBytes(java.util.Arrays.copyOf(u.getBytes, u.getByteLength))
          case other => UTF8String.fromString(other.toString)
        }
      case (Schema.Type.BYTES | Schema.Type.FIXED, d: DecimalType) =>
        value => {
          val bytes = value match {
            case bb: ByteBuffer => bytesOf(bb)
            case f: GenericData.Fixed => f.bytes()
          }
          Decimal(new java.math.BigDecimal(new BigInteger(bytes), d.scale), d.precision, d.scale)
        }
      case (Schema.Type.BYTES, _) => v => bytesOf(v.asInstanceOf[ByteBuffer])
      case (Schema.Type.FIXED, _) => v => v.asInstanceOf[GenericData.Fixed].bytes().clone()
      case (Schema.Type.RECORD, st: StructType) =>
        val n = st.length
        val convs = Array.tabulate(n)(i =>
          toCatalyst(s.getFields.get(i).schema(), st.fields(i).dataType))
        value => {
          val rec = value.asInstanceOf[GenericRecord]
          val out = new GenericInternalRow(n)
          var i = 0
          while (i < n) {
            val v = rec.get(i)
            if (v != null) out.update(i, convs(i)(v))
            i += 1
          }
          out
        }
      case (Schema.Type.ARRAY, ArrayType(et, _)) =>
        val conv = toCatalyst(s.getElementType, et)
        value => {
          val in = value.asInstanceOf[java.util.List[AnyRef]]
          val out = new Array[Any](in.size())
          var i = 0
          while (i < in.size()) {
            val v = in.get(i)
            if (v != null) out(i) = conv(v)
            i += 1
          }
          new GenericArrayData(out)
        }
      case (Schema.Type.MAP, MapType(StringType, vt, _)) =>
        val conv = toCatalyst(s.getValueType, vt)
        value => {
          val in = value.asInstanceOf[java.util.Map[AnyRef, AnyRef]]
          val keys = new Array[Any](in.size())
          val vals = new Array[Any](in.size())
          var i = 0
          val it = in.entrySet().iterator()
          while (it.hasNext) {
            val e = it.next()
            keys(i) = UTF8String.fromString(e.getKey.toString)
            if (e.getValue != null) vals(i) = conv(e.getValue)
            i += 1
          }
          ArrayBasedMapData(keys, vals)
        }
      case other =>
        _ => throw new UnsupportedOperationException(s"decode: unsupported $other")
    }
  }

  private def bytesOf(bb: ByteBuffer): Array[Byte] = {
    val dup = bb.duplicate()
    val out = new Array[Byte](dup.remaining())
    dup.get(out)
    out
  }

  // ------------------------------------------------------------- byte-level

  /** Binary-encode one GenericRecord (Avro binary body, no container). */
  def encode(rec: GenericRecord, schema: Schema): Array[Byte] =
    encodingMemo(schema, schema).bytes(rec)

  /** Decode one Avro binary body with identical writer/reader schema. */
  def decode(bytes: Array[Byte], schema: Schema): GenericRecord =
    decode(bytes, schema, schema)

  /** Decode with schema resolution (Avro spec §Schema Resolution): the
    * registry supplies the writer schema the bytes were produced with; the
    * consumer reads under its own (possibly newer) reader schema — added
    * fields take their defaults, removed fields are skipped, and compatible
    * promotions apply. */
  def decode(bytes: Array[Byte], writer: Schema, reader: Schema): GenericRecord =
    decodingMemo(writer, reader).record(bytes, 0, bytes.length)

  /** Decodes Avro bodies written under `writer` as records of `reader`. It
    * keeps one datum reader (whose resolution and fast-reader state is built
    * on first use), one binary decoder and one record to read into. Not
    * thread-safe: confine it to one task or thread. */
  final class Decoding(writer: Schema, reader: Schema) {
    CodecBuilds.decodings.incrementAndGet()
    private val datumReader = new GenericDatumReader[GenericRecord](writer, reader)
    private var decoder: BinaryDecoder = _
    private var reused: GenericRecord = _

    private def at(bytes: Array[Byte], off: Int, len: Int): BinaryDecoder = {
      decoder = DecoderFactory.get().binaryDecoder(bytes, off, len, decoder)
      decoder
    }

    /** A new record, which the caller may keep. */
    def record(bytes: Array[Byte], off: Int, len: Int): GenericRecord =
      datumReader.read(null, at(bytes, off, len))

    /** The body read into this decoding's one record: valid until the next
      * call. A failed read drops the record, so no half-read state is read
      * into again. */
    def reusedRecord(bytes: Array[Byte], off: Int, len: Int): GenericRecord = {
      val prev = reused
      reused = null
      reused = datumReader.read(prev, at(bytes, off, len))
      reused
    }
  }

  /** Encodes records under `schema`, each prefixed with `header` (a wire
    * frame header, or nothing). It keeps one datum writer, one unbuffered
    * binary encoder and one output buffer; each call copies the buffer out
    * once. Not thread-safe: confine it to one task or thread. */
  final class Encoding(schema: Schema, header: Array[Byte]) {
    CodecBuilds.encodings.incrementAndGet()
    private val datumWriter = new GenericDatumWriter[GenericRecord](schema)
    private val out = new Buffer
    private val encoder = EncoderFactory.get().directBinaryEncoder(out, null)

    def bytes(rec: GenericRecord): Array[Byte] = {
      out.reset()
      out.write(header)
      datumWriter.write(rec, encoder)
      encoder.flush()
      out.toByteArray
    }
  }

  /** A growable byte buffer; unlike ByteArrayOutputStream, unsynchronized. */
  private final class Buffer extends OutputStream {
    private var buf = new Array[Byte](256)
    private var n = 0
    def reset(): Unit = n = 0
    private def reserve(k: Int): Unit =
      if (n + k > buf.length) buf = java.util.Arrays.copyOf(buf, math.max(buf.length * 2, n + k))
    override def write(b: Int): Unit = { reserve(1); buf(n) = b.toByte; n += 1 }
    override def write(b: Array[Byte], off: Int, len: Int): Unit = {
      reserve(len)
      System.arraycopy(b, off, buf, n, len)
      n += len
    }
    def toByteArray: Array[Byte] = java.util.Arrays.copyOf(buf, n)
  }

  /** How many [[Decoding]]s and [[Encoding]]s were built in this JVM. */
  private[avro] object CodecBuilds {
    val decodings = new AtomicLong
    val encodings = new AtomicLong
  }

  /** How many records [[ReplicateWire]] passed through untouched
    * (`reframed`) and decoded and encoded again (`transcoded`) in this JVM.
    * Public so that a traced run can report the share of each. */
  object Replicated {
    val reframed = new LongAdder
    val transcoded = new LongAdder
  }

  private val NoHeader = Array.emptyByteArray

  private val decodingMemo =
    new ThreadMemo[Schema, Schema, Decoding](new Decoding(_, _))
  private val encodingMemo =
    new ThreadMemo[Schema, Schema, Encoding]((s, _) => new Encoding(s, NoHeader))
  private val toCatalystMemo =
    new ThreadMemo[Schema, DataType, AnyRef => Any](toCatalyst)
  private val fromCatalystMemo =
    new ThreadMemo[DataType, Schema, Any => AnyRef](fromCatalyst)

  /** Per-thread memo of compiled codec state, keyed by the identity of two
    * arguments. It holds the last few keys only, so a caller that parses a
    * fresh schema for every call just rebuilds. */
  private final class ThreadMemo[A <: AnyRef, B <: AnyRef, V <: AnyRef](build: (A, B) => V) {
    private val Slots = 8
    private val maps = ThreadLocal.withInitial[java.util.LinkedHashMap[IdPair, V]](() =>
      new java.util.LinkedHashMap[IdPair, V](16, 0.75f, true) {
        override def removeEldestEntry(e: java.util.Map.Entry[IdPair, V]): Boolean =
          size() > Slots
      })

    def apply(a: A, b: B): V = {
      val m = maps.get()
      val key = new IdPair(a, b)
      var v = m.get(key)
      if (v == null) { v = build(a, b); m.put(key, v) }
      v
    }
  }

  private final class IdPair(val a: AnyRef, val b: AnyRef) {
    override def hashCode: Int =
      System.identityHashCode(a) * 31 + System.identityHashCode(b)
    override def equals(o: Any): Boolean = o match {
      case p: IdPair => (p.a eq a) && (p.b eq b)
      case _ => false
    }
  }
}
