package graft.avro

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.avro.{AvroRuntimeException, LogicalTypes, Schema}
import org.apache.avro.generic.GenericRecord
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types.{BinaryType, DataType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** `from_avro` / `to_avro` equivalents as Catalyst expressions (the engine's
  * R2/R7: `application.yml:11-16` — KafkaAvroDeserializer/Serializer — minus
  * the wire-format header, which the registry layer owns).
  *
  * Expression-level (not UDF) so the decoded struct's schema is visible to
  * Catalyst at plan time: projections over decoded fields prune correctly and
  * the expressions compose with any operator. Value conversion work happens on
  * executors row-by-row; CodegenFallback is acceptable because Avro decode is
  * malloc-bound, not dispatch-bound.
  *
  * Per-task state: each expression compiles its codec once — converter tree,
  * datum reader/writer, decoder/encoder, output buffer and the Avro-side
  * record it reads into — and keeps it in `@transient lazy val`s. That is
  * safe because Spark deserializes its own copy of the plan for every task,
  * so the state is confined to one task thread (the confinement spark-avro's
  * `AvroDataToCatalyst` relies on). Output values are never reused: every
  * record yields fresh rows, arrays and byte arrays that share nothing with
  * the reused Avro record, so operators may buffer them.
  */
/** @param jsonSchema       reader schema — defines the output struct type
  * @param writerJsonSchema writer schema the bytes were encoded with (from
  *                         the registry); defaults to the reader schema.
  *                         When they differ, Avro schema resolution applies
  *                         (added fields → defaults, removed → skipped). */
case class AvroToCatalyst(child: Expression, jsonSchema: String,
                          writerJsonSchema: Option[String] = None)
    extends UnaryExpression with CodegenFallback {

  @transient private lazy val reader: Schema = new Schema.Parser().parse(jsonSchema)
  @transient private lazy val writer: Schema =
    writerJsonSchema.map(new Schema.Parser().parse(_)).getOrElse(reader)

  override lazy val dataType: DataType = AvroSchemaConverter.toStructType(
    new Schema.Parser().parse(jsonSchema))

  override def nullable: Boolean = true

  override def prettyName: String = "graft_from_avro"

  @transient private lazy val decoding = new AvroCodec.Decoding(writer, reader)
  @transient private lazy val toRow = AvroCodec.toCatalyst(reader, dataType)

  override protected def nullSafeEval(input: Any): Any = {
    val bytes = input.asInstanceOf[Array[Byte]]
    toRow(decoding.reusedRecord(bytes, 0, bytes.length))
  }

  override protected def withNewChildInternal(newChild: Expression): AvroToCatalyst =
    copy(child = newChild)
}

/** @param frameId when set, the encoded body is wire-framed with this schema
  *                 id in the same expression — the R7 hot path stays a single
  *                 Catalyst node with no UDF serialization boundary.
  * @param writerJsonSchema when set, encode under this EXPLICIT Avro schema
  *                 (e.g. a registry subject's schema, possibly containing
  *                 general unions) instead of deriving one from the struct
  *                 type; the input struct must follow the converter's mapping
  *                 for it (unions as tagged structs). */
case class CatalystToAvro(child: Expression, recordName: String,
                          frameId: Option[Long] = None,
                          writerJsonSchema: Option[String] = None,
                          frameMagic: Byte = WireFormat.GraftMagic)
    extends UnaryExpression with CodegenFallback {

  @transient private lazy val schema: Schema = avroSchema

  private def avroSchema: Schema = writerJsonSchema match {
    case Some(json) => new Schema.Parser().parse(json)
    case None => child.dataType match {
      case st: StructType => AvroSchemaConverter.toAvroSchema(st, recordName)
      case dt => throw new IllegalArgumentException(s"to_avro needs a struct, got $dt")
    }
  }

  /** The derived writer schema (register it before producing — R7). */
  def schemaJson: String = avroSchema.toString

  override def dataType: DataType = BinaryType

  override def prettyName: String =
    if (frameId.isDefined) "graft_to_avro_wire" else "graft_to_avro"

  @transient private lazy val toAvro = AvroCodec.fromCatalyst(child.dataType, schema)
  @transient private lazy val encoding = new AvroCodec.Encoding(schema,
    frameId.fold(Array.emptyByteArray)(WireFormat.header(_, frameMagic)))

  override protected def nullSafeEval(input: Any): Any = encode(input)

  private[avro] def encode(input: Any): Array[Byte] =
    encoding.bytes(toAvro(input).asInstanceOf[GenericRecord])

  override protected def withNewChildInternal(newChild: Expression): CatalystToAvro =
    copy(child = newChild)
}

/** Registry-resolved decode of wire-framed values (the reference's actual
  * R2 mechanism: `KafkaAvroDeserializer` looks the writer schema up by the
  * id embedded in every record). The reader schema fixes the output struct
  * at plan time; each record's writer schema is fetched from the registry
  * on the executor (through [[WriterSchemas]], so once per JVM, not once
  * per task) and resolved against the reader — so a topic containing a mix
  * of schema versions decodes correctly record by record.
  *
  * @param registry serializable registry pointer, opened lazily per executor
  *                 (at 100 TB: a shared store / DFS path, or an HTTP client)
  *                 and only when a writer schema is not cached yet
  * @param cacheToken minted once per expression on the driver
  *                 ([[AvroFunctions.fromAvroWire]]); keys the JVM-wide
  *                 writer-schema cache together with the id
  */
case class WireAvroToCatalyst(child: Expression, readerJsonSchema: String,
                              registry: RegistryRef, cacheToken: String)
    extends UnaryExpression with CodegenFallback {

  @transient private lazy val reader: Schema =
    new Schema.Parser().parse(readerJsonSchema)
  @transient private lazy val openRegistry = registry.open()
  @transient private lazy val toRow = AvroCodec.toCatalyst(reader, dataType)
  /** One decoding per writer schema id seen by this task, and a walker of
    * that schema that refuses what would make the decoding preallocate
    * without bound: a block count past the bytes left, or more than
    * [[DatumWalker.MaxEmptyItems]] zero-width items. */
  @transient private lazy val decodings =
    scala.collection.mutable.LongMap.empty[(AvroCodec.Decoding, DatumWalker)]

  override lazy val dataType: DataType = AvroSchemaConverter.toStructType(
    new Schema.Parser().parse(readerJsonSchema))

  override def nullable: Boolean = true

  override def prettyName: String = "graft_from_avro_wire"

  // the token is a cache key, not part of what the expression computes
  override protected def stringArgs: Iterator[Any] = Iterator(child, readerJsonSchema, registry)

  override protected def nullSafeEval(input: Any): Any = nullSafeDecode(input)

  private[avro] def nullSafeDecode(input: Any): Any = {
    val bytes = input.asInstanceOf[Array[Byte]]
    val (id, offset) = WireFormat.locate(bytes)
    val (decoding, guard) = decodings.getOrElseUpdate(id, {
      val writer = writerSchema(id)
      (new AvroCodec.Decoding(writer, reader),
        new DatumWalker(writer, maxEmptyItems = DatumWalker.MaxEmptyItems))
    })
    if (guard.preallocates(bytes, offset, bytes.length))
      throw new AvroRuntimeException("Malformed data: a block count past the bytes left or " +
        s"past ${DatumWalker.MaxEmptyItems} zero-width items; not decoded")
    toRow(decoding.reusedRecord(bytes, offset, bytes.length - offset))
  }

  /** The writer schema of `id`; throws for an id the registry does not know. */
  private[avro] def writerSchema(id: Long): Schema =
    WriterSchemas.get(cacheToken, id)(openRegistry.byId(id)).getOrElse(
      throw new IllegalStateException(s"schema id $id not in registry $registry"))

  override protected def withNewChildInternal(newChild: Expression): WireAvroToCatalyst =
    copy(child = newChild)
}

/** Writer schemas resolved by [[WireAvroToCatalyst]], shared by every task
  * in this JVM, so a stream asks the registry once per writer id rather
  * than once per micro-batch. Keyed by the expression's token plus the id:
  * a registry recreated at the same location (Confluent ids restart at 1)
  * is read through a new expression and never sees a stale schema.
  * Positive-only — an id the registry does not know is asked again — and
  * bounded: the map is emptied when it reaches [[MaxEntries]]. */
private[avro] object WriterSchemas {
  val MaxEntries = 4096
  private val cache = new java.util.concurrent.ConcurrentHashMap[(String, Long), Schema]()

  def get(token: String, id: Long)(fetch: => Option[Schema]): Option[Schema] = {
    if (cache.size >= MaxEntries) cache.clear()
    Option(cache.computeIfAbsent((token, id), _ => fetch.orNull))
  }
}

/** Dead-letter routing: a decode that throws on a poison record (bad
  * magic, unknown schema id, corrupt body) yields the reason instead of
  * failing the task. */
private[avro] object DeadLetters {
  /** The reason given for a null value. */
  def nullValue: UTF8String = UTF8String.fromString("null value")

  /** `decode`'s result, or `poisoned`'s with the reason when it throws.
    * NonFatal + OOM: the block counts that make the Avro reader
    * preallocate are refused before the decode ([[WireAvroToCatalyst]]),
    * but an allocation that guard does not foresee is still caused by the
    * poison record, and the DLQ exists precisely to survive it. */
  def attempt[T](decode: => T)(poisoned: UTF8String => T): T =
    try decode
    catch {
      case e@(NonFatal(_) | _: OutOfMemoryError) =>
        poisoned(UTF8String.fromString(s"${e.getClass.getSimpleName}: ${e.getMessage}"))
    }
}

/** Fallible variant of [[WireAvroToCatalyst]] for dead-letter routing:
  * instead of failing the task on a poison record (bad magic, unknown
  * schema id, corrupt body), yields `struct(r, err)` — `r` is the decoded
  * record and `err` null on success; on failure `r` is null and `err`
  * carries the reason. The stream splits on `err` and routes failures to a
  * dead-letter topic without losing the batch. */
case class TryWireAvroToCatalyst(child: Expression, readerJsonSchema: String,
                                 registry: RegistryRef, cacheToken: String)
    extends UnaryExpression with CodegenFallback {

  @transient private lazy val inner =
    WireAvroToCatalyst(child, readerJsonSchema, registry, cacheToken)

  override lazy val dataType: StructType = StructType(Seq(
    StructField("r", inner.dataType, nullable = true),
    StructField("err", StringType, nullable = true)))

  override def nullable: Boolean = false

  override def prettyName: String = "graft_try_from_avro_wire"

  override protected def stringArgs: Iterator[Any] = Iterator(child, readerJsonSchema, registry)

  override def eval(input: InternalRow): Any = {
    val bytes = child.eval(input)
    val out = new Array[Any](2)
    if (bytes == null) out(1) = DeadLetters.nullValue
    else DeadLetters.attempt(out(0) = inner.nullSafeDecode(bytes))(out(1) = _)
    new GenericInternalRow(out)
  }

  override protected def withNewChildInternal(newChild: Expression): TryWireAvroToCatalyst =
    copy(child = newChild)
}

/** The replication's decode → key → re-encode (R2, R3, R7) as one
  * expression over wire-framed values. Each value yields
  * `struct(id, value, err)`: `id` is the record's `idField` as the subject
  * schema types it, `value` the record framed under the target's id
  * `targetId`, and `err` — dead-letter mode only; otherwise a poison record
  * fails the task — the reason the value could not be decoded.
  *
  * Each writer schema id takes one of two paths, chosen once per id:
  *  - re-frame: the writer schema is the subject schema (`==`), so decoding
  *    and encoding again would give back the body it started with. A
  *    [[DatumWalker]] walks the body, reading the id field on the way, and
  *    the output is the target header followed by the source body. No
  *    record is built.
  *  - transcode: `fromAvroWire` → `getField(idField)` →
  *    `toAvroWireWithSchema`, run by the very expressions those build. The
  *    body is decoded (writer → subject schema) to Catalyst and encoded
  *    under the subject schema. Other writer schemas take it, and so do
  *    subject schemas with a decimal logical type (the Catalyst decimal
  *    re-encodes minimal bytes) or an array whose items take no bytes (the
  *    decoder preallocates as many items as the count says), and id fields
  *    that are not a primitive or a `["null", primitive]` union.
  * The walker never rejects a body itself: one it reports (truncated,
  * out-of-range index, trailing bytes...) is transcoded, which accepts,
  * rejects or drops trailing bytes exactly as the decoder does. Before
  * decoding, the transcode walks the body under its writer schema and
  * rejects one whose block count would make the decoder preallocate
  * without bound ([[WireAvroToCatalyst]]). Records
  * taking each path are counted in [[AvroCodec.Replicated]].
  *
  * Writer schemas are resolved as [[WireAvroToCatalyst]] resolves them:
  * once per stream per id, through [[WriterSchemas]]. */
case class ReplicateWire(child: Expression, readerJsonSchema: String,
                         registry: RegistryRef, cacheToken: String, idField: String,
                         targetId: Long, targetMagic: Byte, deadLetter: Boolean)
    extends UnaryExpression with CodegenFallback {

  // the transcode path
  @transient private lazy val decoder =
    WireAvroToCatalyst(child, readerJsonSchema, registry, cacheToken)
  @transient private lazy val encoder =
    CatalystToAvro(decoder, "topLevelRecord", Some(targetId), Some(readerJsonSchema), targetMagic)

  @transient private lazy val recordType = decoder.dataType.asInstanceOf[StructType]
  @transient private lazy val reader: Schema = new Schema.Parser().parse(readerJsonSchema)
  @transient private lazy val idIndex = reader.getField(idField).pos()
  @transient private lazy val idType = recordType(idIndex).dataType

  // the re-frame path
  @transient private lazy val header = WireFormat.header(targetId, targetMagic)
  @transient private lazy val walker = new DatumWalker(reader, idIndex)
  @transient private lazy val idReader = ReplicateWire.IdReader(reader, idIndex)
  @transient private lazy val reframable =
    idReader.isDefined && !ReplicateWire.hasDecimal(reader) && !walker.hasEmptyItems
  /** Whether values of a writer id are re-framed, decided on its first value. */
  @transient private lazy val reframes = scala.collection.mutable.LongMap.empty[Boolean]

  override lazy val dataType: StructType = StructType(Seq(
    StructField("id", recordType(idField).dataType, nullable = true),
    StructField("value", BinaryType, nullable = true),
    StructField("err", StringType, nullable = true)))

  override def nullable: Boolean = false

  override def prettyName: String = "graft_replicate_wire"

  // the token is a cache key, not part of what the expression computes
  override protected def stringArgs: Iterator[Any] =
    Iterator(child, readerJsonSchema, registry, idField, targetId, targetMagic, deadLetter)

  override def eval(input: InternalRow): Any = {
    val bytes = child.eval(input).asInstanceOf[Array[Byte]]
    val out = new Array[Any](3)
    if (bytes == null) { if (deadLetter) out(2) = DeadLetters.nullValue }
    else {
      def replicate(): Any = if (reframe(bytes, out)) null else decoder.nullSafeDecode(bytes)
      val record =
        if (deadLetter) DeadLetters.attempt(replicate()) { err => out(2) = err; null }
        else replicate()
      if (record != null) {
        AvroCodec.Replicated.transcoded.increment()
        out(0) = record.asInstanceOf[InternalRow].get(idIndex, idType)
        out(1) = encoder.encode(record)
      }
    }
    new GenericInternalRow(out)
  }

  /** Re-frames `bytes` into `out` when its writer schema is the subject
    * schema and the walk accepts the body: whether it did. */
  private def reframe(bytes: Array[Byte], out: Array[Any]): Boolean = {
    val (id, offset) = WireFormat.locate(bytes)
    val reframed = reframes.getOrElseUpdate(id, reframable && decoder.writerSchema(id) == reader) &&
      walker.skip(bytes, offset, bytes.length) == bytes.length
    if (reframed) {
      out(0) = idReader.get.read(bytes, walker)
      val framed = java.util.Arrays.copyOf(header, header.length + bytes.length - offset)
      System.arraycopy(bytes, offset, framed, header.length, bytes.length - offset)
      out(1) = framed
      AvroCodec.Replicated.reframed.increment()
    }
    reframed
  }

  override protected def withNewChildInternal(newChild: Expression): ReplicateWire =
    copy(child = newChild)
}

object ReplicateWire {
  /** Reads the id field of a walked body from what the walker noted of it:
    * a primitive, or a `["null", primitive]` union of one, without a
    * logical type. The walk has bounds-checked the bytes, and it reads
    * varints as the Avro decoder does; a boolean is true only for byte 1,
    * as the decoder reads it. */
  private final class IdReader(nullBranch: Int, kind: Schema.Type) {
    /** The Catalyst value of the id field the last walk of `walker` read. */
    def read(b: Array[Byte], walker: DatumWalker): Any = {
      val end = walker.markEnd
      def tail(n: Int) = java.util.Arrays.copyOfRange(b, end - n, end)
      if (nullBranch >= 0 && walker.markBranch == nullBranch) null
      else kind match {
        case Schema.Type.BOOLEAN => b(end - 1) == 1
        case Schema.Type.INT => walker.markValue.toInt
        case Schema.Type.LONG => walker.markValue
        case Schema.Type.FLOAT => littleEndian(b).getFloat(end - 4)
        case Schema.Type.DOUBLE => littleEndian(b).getDouble(end - 8)
        case Schema.Type.STRING => UTF8String.fromBytes(tail(walker.markValue.toInt))
        case _ => tail(walker.markValue.toInt)
      }
    }

    private def littleEndian(b: Array[Byte]) =
      java.nio.ByteBuffer.wrap(b).order(java.nio.ByteOrder.LITTLE_ENDIAN)
  }

  private object IdReader {
    private val Primitives = {
      import Schema.Type._
      Set(BOOLEAN, INT, LONG, FLOAT, DOUBLE, STRING, BYTES)
    }
    private def primitive(s: Schema): Boolean =
      Primitives(s.getType) && s.getLogicalType == null

    /** The reader for field `index` of `record`, if its schema is one. */
    def apply(record: Schema, index: Int): Option[IdReader] = {
      val s = record.getFields.get(index).schema()
      val branches =
        if (s.getType == Schema.Type.UNION) s.getTypes.asScala.toSeq else Seq(s)
      branches.map(_.getType) match {
        case Seq(_) if primitive(s) => Some(new IdReader(-1, s.getType))
        case Seq(a, b) if (a == Schema.Type.NULL) != (b == Schema.Type.NULL) =>
          val nullBranch = if (a == Schema.Type.NULL) 0 else 1
          val p = branches(1 - nullBranch)
          if (primitive(p)) Some(new IdReader(nullBranch, p.getType)) else None
        case _ => None
      }
    }
  }

  /** Whether a decimal logical type occurs anywhere in `s`. */
  private def hasDecimal(s: Schema): Boolean = {
    val seen = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[Schema, java.lang.Boolean]())
    def visit(s: Schema): Boolean = seen.add(s) && {
      s.getLogicalType.isInstanceOf[LogicalTypes.Decimal] || (s.getType match {
        case Schema.Type.RECORD => s.getFields.asScala.exists(f => visit(f.schema()))
        case Schema.Type.UNION => s.getTypes.asScala.exists(visit)
        case Schema.Type.ARRAY => visit(s.getElementType)
        case Schema.Type.MAP => visit(s.getValueType)
        case _ => false
      })
    }
    visit(s)
  }
}

/** Column facade. */
object AvroFunctions {
  /** Decode an Avro-binary column into a struct under `jsonSchema`. */
  def fromAvro(col: Column, jsonSchema: String): Column =
    ColumnBridge.column(AvroToCatalyst(ColumnBridge.expression(col), jsonSchema))

  /** Decode with schema resolution: bytes written under `writerJsonSchema`
    * (registry-resolved), read under the consumer's `readerJsonSchema`. */
  def fromAvro(col: Column, readerJsonSchema: String, writerJsonSchema: String): Column =
    ColumnBridge.column(AvroToCatalyst(
      ColumnBridge.expression(col), readerJsonSchema, Some(writerJsonSchema)))

  /** Decode wire-framed values, resolving each record's writer schema by id
    * from the file-backed registry at `registryRoot`. */
  def fromAvroWire(col: Column, readerJsonSchema: String, registryRoot: String): Column =
    fromAvroWire(col, readerJsonSchema, FileRegistryRef(registryRoot))

  /** Decode wire-framed values, resolving writer schemas from any registry
    * impl (fingerprint-id or Confluent-style — framing auto-detected). */
  def fromAvroWire(col: Column, readerJsonSchema: String, registry: RegistryRef): Column =
    ColumnBridge.column(WireAvroToCatalyst(
      ColumnBridge.expression(col), readerJsonSchema, registry, newCacheToken()))

  /** Fallible decode for dead-letter routing: `struct(r, err)`. */
  def tryFromAvroWire(col: Column, readerJsonSchema: String, registry: RegistryRef): Column =
    ColumnBridge.column(TryWireAvroToCatalyst(
      ColumnBridge.expression(col), readerJsonSchema, registry, newCacheToken()))

  private def newCacheToken(): String = java.util.UUID.randomUUID().toString

  /** Replicate wire-framed values under the target registry's id
    * `targetId`: `struct(id, value, err)` — the record's `idField`, the
    * re-framed value and, when `deadLetter` is set, the reason a poison
    * value could not be decoded (see [[ReplicateWire]]). */
  def replicateWire(col: Column, readerJsonSchema: String, registry: RegistryRef,
                    idField: String, targetId: Long, targetMagic: Byte,
                    deadLetter: Boolean): Column =
    ColumnBridge.column(ReplicateWire(ColumnBridge.expression(col), readerJsonSchema,
      registry, newCacheToken(), idField, targetId, targetMagic, deadLetter))

  /** Encode a struct column and frame it with the given schema id — one
    * Catalyst node, no UDF boundary in the produce hot path. */
  def toAvroWire(col: Column, schemaId: Long, recordName: String = "topLevelRecord",
                 magic: Byte = WireFormat.GraftMagic): Column =
    ColumnBridge.column(CatalystToAvro(
      ColumnBridge.expression(col), recordName, Some(schemaId), None, magic))

  /** Encode a struct column to Avro binary (schema derived from the struct). */
  def toAvro(col: Column, recordName: String = "topLevelRecord"): Column =
    ColumnBridge.column(CatalystToAvro(ColumnBridge.expression(col), recordName))

  /** Encode under an explicit writer schema (which may contain general
    * unions — the struct column must use the tagged-struct mapping). */
  def toAvroWithSchema(col: Column, writerJsonSchema: String): Column =
    ColumnBridge.column(CatalystToAvro(ColumnBridge.expression(col),
      "topLevelRecord", None, Some(writerJsonSchema)))

  /** Encode under an explicit writer schema and wire-frame with `schemaId`. */
  def toAvroWireWithSchema(col: Column, schemaId: Long, writerJsonSchema: String,
                           magic: Byte = WireFormat.GraftMagic): Column =
    ColumnBridge.column(CatalystToAvro(ColumnBridge.expression(col),
      "topLevelRecord", Some(schemaId), Some(writerJsonSchema), magic))

  /** The writer schema `toAvro` will use for a struct of this Catalyst type. */
  def writerSchemaFor(st: StructType, recordName: String = "topLevelRecord"): String =
    AvroSchemaConverter.toAvroSchema(st, recordName).toString
}
