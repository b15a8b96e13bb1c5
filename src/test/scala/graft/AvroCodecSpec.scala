package graft

import java.nio.file.Files

import graft.avro.{AvroCodec, AvroFunctions, AvroSchemaConverter, FileRegistryRef, FileSchemaRegistry, InMemorySchemaRegistry, SchemaRegistry, WireFormat}
import org.apache.avro.{Schema, SchemaBuilder}
import org.apache.avro.generic.GenericData
import org.apache.avro.io.EncoderFactory
import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** M1 acceptance (SURVEY.md §7): schema conversion + binary round-trips,
  * including the reference fixture shape — a required string `id` and a
  * nullable-union string (`com.foo.Foo.avsc:6-17`). */
class AvroCodecSpec extends SparkSpec {

  /** The reference's test fixture schema, rebuilt the way the reference's
    * test does (`ReplicationApplicationTest.java:91-93`). */
  private val fooSchema: Schema = SchemaBuilder.builder("com.foo").record("Foo")
    .fields()
    .name("id").`type`("string").noDefault()
    .name("name").`type`().unionOf().nullType().and().stringType().endUnion().nullDefault()
    .endRecord()

  test("com.foo.Foo avsc shape maps to struct<id:string, name:string?>") {
    val st = AvroSchemaConverter.toStructType(fooSchema)
    assert(st === StructType(Seq(
      StructField("id", StringType, nullable = false),
      StructField("name", StringType, nullable = true))))
  }

  test("fixture record round-trips through binary, nulls preserved") {
    val gen = Gen.zip(Gen.uuid, Gen.option(Gen.alphaNumStr))
    (0 until 100).foreach { i =>
      val (id, name) = gen.pureApply(Gen.Parameters.default, Seed(i.toLong))
      val rec = new GenericData.Record(fooSchema)
      rec.put("id", id.toString)
      rec.put("name", name.orNull)
      val out = AvroCodec.decode(AvroCodec.encode(rec, fooSchema), fooSchema)
      assert(out.get("id").toString === id.toString)
      assert(Option(out.get("name")).map(_.toString) === name)
    }
  }

  test("StructType -> Avro -> StructType is stable for all engine types") {
    val st = StructType(Seq(
      StructField("b", BooleanType, nullable = false),
      StructField("i", IntegerType, nullable = true),
      StructField("l", LongType, nullable = false),
      StructField("f", FloatType, nullable = true),
      StructField("d", DoubleType, nullable = false),
      StructField("s", StringType, nullable = true),
      StructField("bin", BinaryType, nullable = true),
      StructField("ts", TimestampType, nullable = true),
      StructField("dt", DateType, nullable = true),
      StructField("dec", DecimalType(10, 2), nullable = true),
      StructField("arr", ArrayType(LongType, containsNull = false), nullable = true),
      StructField("m", MapType(StringType, DoubleType, valueContainsNull = false), nullable = true),
      StructField("nested", StructType(Seq(
        StructField("x", LongType, nullable = false))), nullable = true)))
    val avro = AvroSchemaConverter.toAvroSchema(st, "T")
    val back = AvroSchemaConverter.toStructType(avro)
    assert(back === st)
  }

  test("dataframe round-trip equals identity on orders (all rows)") {
    val o = Tables.orders(spark, sf)
    val schemaJson = AvroFunctions.writerSchemaFor(o.schema, "Order")
    val rt = o
      .select(AvroFunctions.toAvro(struct(o.columns.map(col): _*), "Order").as("v"))
      .select(AvroFunctions.fromAvro(col("v"), schemaJson).as("r"))
      .select(col("r.*"))
    assert(rt.schema.map(f => (f.name, f.dataType)) ===
      o.schema.map(f => (f.name, f.dataType)))
    assert(rt.exceptAll(o).isEmpty && o.exceptAll(rt).isEmpty)
  }

  test("enum, fixed, decimal, array, map and nested record round-trip") {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
    import org.apache.spark.unsafe.types.UTF8String
    import graft.avro.AvroCodec

    val schema: Schema = new Schema.Parser().parse(
      """{"type":"record","name":"Rich","namespace":"graft.test","fields":[
        |  {"name":"color","type":{"type":"enum","name":"Color","symbols":["RED","GREEN"]}},
        |  {"name":"fp","type":{"type":"fixed","name":"FP8","size":4}},
        |  {"name":"amount","type":{"type":"bytes","logicalType":"decimal","precision":10,"scale":2}},
        |  {"name":"tags","type":{"type":"array","items":"long"}},
        |  {"name":"attrs","type":{"type":"map","values":"string"}},
        |  {"name":"inner","type":{"type":"record","name":"Inner","fields":[
        |    {"name":"x","type":["null","string"],"default":null}]}}
        |]}""".stripMargin)
    val (dt, _) = AvroSchemaConverter.toSqlType(schema)
    val st = dt.asInstanceOf[org.apache.spark.sql.types.StructType]

    import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, GenericArrayData}
    val row: InternalRow = new GenericInternalRow(Array[Any](
      UTF8String.fromString("GREEN"),
      Array[Byte](1, 2, 3, 4),
      org.apache.spark.sql.types.Decimal(BigDecimal("12345.67"), 10, 2),
      new GenericArrayData(Array[Any](7L, 8L)),
      ArrayBasedMapData(
        Array[Any](UTF8String.fromString("a")), Array[Any](UTF8String.fromString("b"))),
      new GenericInternalRow(Array[Any](UTF8String.fromString("deep")))))

    val rec = AvroCodec.catalystToAvro(row, st, schema)
      .asInstanceOf[org.apache.avro.generic.GenericRecord]
    val decoded = AvroCodec.decode(AvroCodec.encode(rec, schema), schema)
    val back = AvroCodec.avroToCatalyst(decoded, schema, st).asInstanceOf[InternalRow]

    assert(back.getUTF8String(0).toString === "GREEN")
    assert(back.getBinary(1).toSeq === Seq[Byte](1, 2, 3, 4))
    assert(back.getDecimal(2, 10, 2).toBigDecimal === BigDecimal("12345.67"))
    assert(back.getArray(3).toLongArray().toSeq === Seq(7L, 8L))
    val m = back.getMap(4)
    assert(m.keyArray().getUTF8String(0).toString === "a")
    assert(m.valueArray().getUTF8String(0).toString === "b")
    assert(back.getStruct(5, 1).getUTF8String(0).toString === "deep")
  }

  test("schema evolution: old bytes decode under a newer reader schema") {
    import graft.avro.AvroCodec
    val v1: Schema = new Schema.Parser().parse(
      """{"type":"record","name":"Evo","fields":[
        |  {"name":"id","type":"string"}]}""".stripMargin)
    val v2: Schema = new Schema.Parser().parse(
      """{"type":"record","name":"Evo","fields":[
        |  {"name":"id","type":"string"},
        |  {"name":"score","type":["null","double"],"default":null},
        |  {"name":"source","type":"string","default":"unknown"}]}""".stripMargin)

    val rec = new GenericData.Record(v1)
    rec.put("id", "e-1")
    val bytes = AvroCodec.encode(rec, v1)

    val out = AvroCodec.decode(bytes, v1, v2) // writer=v1, reader=v2
    assert(out.get("id").toString === "e-1")
    assert(out.get("score") === null)
    assert(out.get("source").toString === "unknown")

    // and through the expression layer: dataframe of v1 bytes, v2 reader
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val df = Seq(bytes).toDF("value")
      .select(AvroFunctions.fromAvro(col("value"), v2.toString, v1.toString).as("r"))
      .select(col("r.id"), col("r.score"), col("r.source"))
    val row = df.collect().head
    assert(row.getString(0) === "e-1")
    assert(row.isNullAt(1))
    assert(row.getString(2) === "unknown")
  }

  test("general unions round-trip: randomized multi-branch unions") {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
    import org.apache.spark.unsafe.types.UTF8String
    import graft.avro.AvroCodec

    // each branch: Avro schema JSON + a Catalyst value generator
    case class Branch(avro: String, mk: Long => Any)
    val pool = Seq(
      Branch("\"long\"", n => n),
      Branch("\"int\"", n => n.toInt),
      Branch("\"string\"", n => UTF8String.fromString(s"s$n")),
      Branch("\"double\"", n => n.toDouble / 3.0),
      Branch("\"boolean\"", n => n % 2 == 0),
      Branch("\"bytes\"", n => Array[Byte]((n & 0x7f).toByte, ((n >> 8) & 0x7f).toByte)),
      Branch("""{"type":"record","name":"Inner","fields":[{"name":"x","type":"long"}]}""",
        n => new GenericInternalRow(Array[Any](n))))

    val rnd = new scala.util.Random(20260812L)
    (0 until 300).foreach { iter =>
      val k = 2 + rnd.nextInt(pool.size - 1)
      val branches = rnd.shuffle(pool).take(k)
      val withNull = rnd.nextBoolean()
      val unionJson = ((if (withNull) Seq("\"null\"") else Nil) ++ branches.map(_.avro))
        .mkString("[", ",", "]")
      val schema = new Schema.Parser().parse(
        s"""{"type":"record","name":"U","fields":[
           |  {"name":"id","type":"long"},
           |  {"name":"p","type":$unionJson}]}""".stripMargin)
      val (dt, _) = AvroSchemaConverter.toSqlType(schema)
      val st = dt.asInstanceOf[StructType]
      val pSt = st("p").dataType.asInstanceOf[StructType]
      assert(pSt.fieldNames.head === "_tag" && pSt.length === k + 1, s"iter $iter: $pSt")
      assert(st("p").nullable === withNull)

      val tag = rnd.nextInt(k)
      val value = branches(tag).mk(rnd.nextLong(1L << 20))
      val pRow = new GenericInternalRow(k + 1)
      pRow.update(0, tag)
      pRow.update(tag + 1, value)
      val isNull = withNull && rnd.nextInt(4) == 0
      val row = new GenericInternalRow(Array[Any](7L, if (isNull) null else pRow))

      val rec = AvroCodec.catalystToAvro(row, st, schema)
        .asInstanceOf[org.apache.avro.generic.GenericRecord]
      val back = AvroCodec.avroToCatalyst(
        AvroCodec.decode(AvroCodec.encode(rec, schema), schema), schema, st)
        .asInstanceOf[InternalRow]

      assert(back.getLong(0) === 7L)
      if (isNull) assert(back.isNullAt(1), s"iter $iter: expected null payload")
      else {
        val p = back.getStruct(1, k + 1)
        assert(p.getInt(0) === tag, s"iter $iter: tag mismatch ($unionJson)")
        val got = p.get(tag + 1, pSt.fields(tag + 1).dataType)
        (value, got) match {
          case (a: Array[Byte], b: Array[Byte]) => assert(a.toSeq === b.toSeq)
          case (a: GenericInternalRow, b: InternalRow) => assert(b.getLong(0) === a.getLong(0))
          case (a, b) => assert(b === a, s"iter $iter: $unionJson tag $tag")
        }
        (0 until k).filter(_ != tag).foreach(i =>
          assert(p.isNullAt(i + 1), s"iter $iter: member$i should be null"))
      }
    }
  }

  test("pre-epoch micros → timestamp-millis floors toward -∞, not zero") {
    import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
    val schema = new Schema.Parser().parse(
      """{"type":"record","name":"T","fields":[
        |  {"name":"ts","type":{"type":"long","logicalType":"timestamp-millis"}}]}""".stripMargin)
    val st = StructType(Seq(StructField("ts", TimestampType, nullable = false)))
    def encodeMicros(us: Long): Long = {
      val rec = graft.avro.AvroCodec.catalystToAvro(
        new GenericInternalRow(Array[Any](us)), st, schema)
        .asInstanceOf[org.apache.avro.generic.GenericRecord]
      rec.get(0).asInstanceOf[Long]
    }
    assert(encodeMicros(-1500L) === -2L)   // -1.5ms → -2ms (floor), not -1ms
    assert(encodeMicros(1500L) === 1L)
    assert(encodeMicros(-1000L) === -1L)
  }

  /** The one-shot path — `unframe`, `decode` under the registry's writer
    * schema, `avroToCatalyst` — as an external Row. */
  private def oneShot(wire: Array[Byte], registry: SchemaRegistry, reader: Schema): Row = {
    val dt = AvroSchemaConverter.toStructType(reader)
    val (id, body) = WireFormat.unframe(wire)
    val rec = AvroCodec.decode(body, registry.byId(id).get, reader)
    CatalystTypeConverters.createToScalaConverter(dt)(
      AvroCodec.avroToCatalyst(rec, reader, dt)).asInstanceOf[Row]
  }

  test("interleaved writer versions in 4 partitions decode as the one-shot path does") {
    import spark.implicits._
    val regRoot = Files.createTempDirectory("graft-evo").toString
    val wire = EvoFixture.interleaved(regRoot, 400)
    val df = spark.sparkContext.parallelize(wire.zipWithIndex, 4).toDF("value", "i")
    val idsPerPartition = df.rdd
      .mapPartitions(rows => Iterator(rows.map(r => WireFormat.locate(r.getAs[Array[Byte]](0))._1).toSet))
      .collect()
    assert(idsPerPartition.length === 4)
    assert(idsPerPartition.forall(_.size === 2), "every partition interleaves both writer ids")

    val decoded = df.select(col("i"), AvroFunctions.fromAvroWire(
        col("value"), EvoFixture.v2.toString, FileRegistryRef(regRoot)).as("r"))
      .collect().map(r => r.getInt(0) -> r.getStruct(1)).toMap
    val registry = new FileSchemaRegistry(regRoot)
    assert(decoded.size === 400)
    wire.zipWithIndex.foreach { case (w, i) =>
      assert(decoded(i) === oneShot(w, registry, EvoFixture.v2), s"record $i")
      assert(decoded(i).getString(1) === (if (i % 3 == 0) "legacy" else s"s$i"))
    }
  }

  test("poison records leave no decoder or record state behind in their partition") {
    import spark.implicits._
    val schema = new Schema.Parser().parse(
      """{"type":"record","name":"Tagged","fields":[
        |  {"name":"id","type":"long"},
        |  {"name":"tags","type":{"type":"array","items":"long"}},
        |  {"name":"name","type":"string"}]}""".stripMargin)
    val regRoot = Files.createTempDirectory("graft-poison").toString
    val id = new FileSchemaRegistry(regRoot).register("tagged-value", schema)
    def body(i: Long, tags: Int): Array[Byte] = {
      val rec = new GenericData.Record(schema)
      rec.put("id", i)
      rec.put("tags", java.util.Arrays.asList((0 until tags).map(t => Long.box(i * 10 + t)): _*))
      rec.put("name", s"n$i" * tags)
      AvroCodec.encode(rec, schema)
    }
    // a block count just under Avro's collection limit: read into a new
    // array it makes the reader preallocate ~16 GB
    val hugeBlock = {
      val out = new java.io.ByteArrayOutputStream()
      val enc = EncoderFactory.get().directBinaryEncoder(out, null)
      enc.writeLong(99L)
      enc.writeLong(Int.MaxValue - 16L)
      out.toByteArray
    }
    // longer arrays right before each poison record, shorter ones after,
    // so leftover elements of a reused array would show
    val good = Seq(0L -> 5, 1L -> 1, 2L -> 4, 3L -> 0, 4L -> 3)
      .map { case (i, tags) => WireFormat.frame(id, body(i, tags)) }
    val poison = Seq(
      Array[Byte](99, 1, 2, 3, 4, 5, 6, 7, 8, 9),            // bad magic
      WireFormat.frame(424242L, body(9, 2)),                 // unknown schema id
      WireFormat.frame(id, body(9, 6).dropRight(1)),         // truncated body
      WireFormat.frame(id, hugeBlock))                       // OOM block count
    val partition = good.head +: poison.zip(good.tail).flatMap { case (p, g) => Seq(p, g) }
    val out = spark.sparkContext.parallelize(partition.zipWithIndex, 1).toDF("value", "i")
      .select(col("i"), AvroFunctions.tryFromAvroWire(
        col("value"), schema.toString, FileRegistryRef(regRoot)).as("t"))
      .select(col("i"), col("t.r"), col("t.err"))
      .collect().sortBy(_.getInt(0))
    assert(out.length === 9)
    val registry = new FileSchemaRegistry(regRoot)
    out.zip(partition).foreach { case (row, wire) =>
      val i = row.getInt(0)
      if (i % 2 == 0) {
        assert(row.isNullAt(2), s"record $i: ${row.getString(2)}")
        assert(row.getStruct(1) === oneShot(wire, registry, schema), s"record $i")
      } else {
        assert(row.isNullAt(1) && !row.isNullAt(2), s"poison record $i")
      }
    }
    val errs = out.filter(_.getInt(0) % 2 == 1).map(_.getString(2))
    assert(errs(0).contains("magic") && errs(1).contains("424242"), errs.toSeq)
  }

  test("registry ids are content-addressed and idempotent across registries") {
    val a = new InMemorySchemaRegistry
    val b = new InMemorySchemaRegistry
    val id1 = a.register("foo-value", fooSchema)
    val id2 = a.register("foo-value", fooSchema)
    val id3 = b.register("foo-value", fooSchema)
    assert(id1 === id2 && id1 === id3)
    assert(id1 === SchemaRegistry.fingerprint(fooSchema))
    assert(a.latest("foo-value").map(_._1) === Some(id1))
  }
}
