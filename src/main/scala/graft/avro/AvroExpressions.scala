package graft.avro

import org.apache.avro.Schema
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types.{BinaryType, DataType, StructField, StructType}

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

  override protected def nullSafeEval(input: Any): Any =
    encoding.bytes(toAvro(input).asInstanceOf[org.apache.avro.generic.GenericRecord])

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
  /** One decoding per writer schema id seen by this task. */
  @transient private lazy val decodings =
    scala.collection.mutable.LongMap.empty[AvroCodec.Decoding]

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
    val decoding = decodings.getOrElseUpdate(id, new AvroCodec.Decoding(
      WriterSchemas.get(cacheToken, id)(openRegistry.byId(id)).getOrElse(
        throw new IllegalStateException(s"schema id $id not in registry $registry")),
      reader))
    toRow(decoding.reusedRecord(bytes, offset, bytes.length - offset))
  }

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
    StructField("err", org.apache.spark.sql.types.StringType, nullable = true)))

  override def nullable: Boolean = false

  override def prettyName: String = "graft_try_from_avro_wire"

  override protected def stringArgs: Iterator[Any] = Iterator(child, readerJsonSchema, registry)

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val bytes = child.eval(input)
    val out = new Array[Any](2)
    if (bytes == null) {
      out(1) = org.apache.spark.unsafe.types.UTF8String.fromString("null value")
    } else {
      // NonFatal + OOM: a corrupt array block-count varint makes the Avro
      // reader preallocate a huge array — that OutOfMemoryError is caused
      // by the poison record, and the DLQ exists precisely to survive it
      try out(0) = inner.nullSafeDecode(bytes)
      catch {
        case e@(scala.util.control.NonFatal(_) | _: OutOfMemoryError) =>
          out(1) = org.apache.spark.unsafe.types.UTF8String.fromString(
            s"${e.getClass.getSimpleName}: ${e.getMessage}")
      }
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(out)
  }

  override protected def withNewChildInternal(newChild: Expression): TryWireAvroToCatalyst =
    copy(child = newChild)
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
