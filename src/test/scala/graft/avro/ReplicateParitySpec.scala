package graft.avro

import java.io.ByteArrayOutputStream
import java.nio.file.Files

import scala.util.Random

import graft.{DatumWalkerSpec, SparkSpec}
import org.apache.avro.{LogicalTypes, Schema}
import org.apache.avro.generic.{GenericData, GenericDatumReader, GenericDatumWriter, GenericRecord}
import org.apache.avro.io.{DecoderFactory, Encoder, EncoderFactory}
import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{BoundReference, CaseWhen, Cast, Expression, GetStructField, IsNull, Literal}
import org.apache.spark.sql.functions.{col, when}
import org.apache.spark.sql.types.{BinaryType, StringType}

import scala.jdk.CollectionConverters._

/** Differential check of [[ReplicateWire]] against the three-step
  * projection it replaced — `fromAvroWire` → `getField(id).cast("string")`
  * → `toAvroWireWithSchema`, and its dead-letter twin over
  * `tryFromAvroWire` — on the full-type-algebra records of
  * [[DatumWalkerSpec]] in both array/map block encodings, whole and
  * mutated (truncated, a flipped byte, a union or enum index out of range,
  * trailing bytes, a block count of 2^31−17), with each primitive field as
  * the id, on a record whose ids are `["null", primitive]` unions, on a
  * record of date, timestamp and uuid logical types, and on a record with
  * an array of nulls, which always transcodes. Block counts that would
  * make the decoder preallocate without bound are refused before any
  * decode, on both paths alike.
  *
  * For every input both paths reject it, or both accept it with an equal
  * key and an equal decoded value; dead-letter reasons are identical; and
  * every body the fast path re-frames is byte-equal to its source body. */
class ReplicateParitySpec extends SparkSpec {
  import DatumWalkerSpec.mkRecord

  private val root = Files.createTempDirectory("graft-parity").toString
  private val source = FileRegistryRef(s"$root/regA")
  private val target = ConfluentRegistryRef(s"$root/regB")
  private val magic = target.magic

  /** A subject schema, registered in both registries. */
  private final class Subject(val schema: Schema) {
    val json: String = schema.toString
    val sourceId: Long = source.open().register(s"${schema.getName}-value", schema)
    val targetId: Long = target.open().register(s"${schema.getName}-value", schema)
  }
  private val zoo = new Subject(DatumWalkerSpec.schema)
  /** Ids that are `["null", primitive]` unions, in either branch order. */
  private val nullable = new Subject(new Schema.Parser().parse(
    """{"type":"record","name":"Opt","fields":[
      |  {"name":"id","type":["null","long"]},
      |  {"name":"name","type":["string","null"]},
      |  {"name":"score","type":["null","double"]},
      |  {"name":"tags","type":{"type":"array","items":"string"}}]}""".stripMargin))
  /** Logical types other than decimal re-frame. */
  private val times = new Subject(new Schema.Parser().parse(
    """{"type":"record","name":"Times","fields":[
      |  {"name":"id","type":"long"},
      |  {"name":"day","type":{"type":"int","logicalType":"date"}},
      |  {"name":"at_ms","type":{"type":"long","logicalType":"timestamp-millis"}},
      |  {"name":"at_us","type":{"type":"long","logicalType":"timestamp-micros"}},
      |  {"name":"local_ms","type":{"type":"long","logicalType":"local-timestamp-millis"}},
      |  {"name":"local_us","type":{"type":"long","logicalType":"local-timestamp-micros"}},
      |  {"name":"uid","type":{"type":"string","logicalType":"uuid"}}]}""".stripMargin))
  /** An array whose items take no bytes: 150 nulls fit in 3 bytes. */
  private val holes = new Subject(new Schema.Parser().parse(
    """{"type":"record","name":"Holes","fields":[
      |  {"name":"id","type":"long"},
      |  {"name":"nulls","type":{"type":"array","items":"null"}},
      |  {"name":"tag","type":"string"}]}""".stripMargin))

  // ------------------------------------------------------------- inputs

  private val blockingFactory = new EncoderFactory().configureBlockSize(16)
  private def encode(s: Schema, rec: GenericRecord, blocking: Boolean): Array[Byte] = {
    val bos = new ByteArrayOutputStream(256)
    val enc: Encoder =
      if (blocking) blockingFactory.blockingBinaryEncoder(bos, null)
      else EncoderFactory.get().binaryEncoder(bos, null)
    new GenericDatumWriter[GenericRecord](s).write(rec, enc)
    enc.flush()
    bos.toByteArray
  }

  /** Where `field` starts in the body of `rec`: the length of the record
    * cut just before it, encoded the same way. */
  private def offsetOf(rec: GenericRecord, field: String, blocking: Boolean): Int = {
    val schema = rec.getSchema
    val fields = schema.getFields.asScala.takeWhile(_.name != field)
    val prefix = Schema.createRecord(schema.getName, null, schema.getNamespace, false,
      fields.map(f => new Schema.Field(f, f.schema())).asJava)
    val cut = new GenericData.Record(prefix)
    fields.foreach(f => cut.put(f.name, rec.get(f.name)))
    encode(prefix, cut, blocking).length
  }

  private def zigzag(n: Long): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val enc = EncoderFactory.get().directBinaryEncoder(bos, null)
    enc.writeLong(n)
    bos.toByteArray
  }

  /** (label, framed value): `records` in both block encodings, each whole
    * and mutated — truncated, a byte flipped, trailing bytes, and for the
    * fields `patches` names, its index or block count put out of range —
    * plus two framing poisons. */
  private def inputs(subject: Subject, records: Seq[GenericRecord],
                     patches: Seq[(String, Array[Byte] => Array[Byte])]): Seq[(String, Array[Byte])] = {
    val rnd = new Random(17)
    val bodies = for {
      blocking <- Seq(false, true)
      (rec, i) <- records.zipWithIndex
    } yield {
      val body = encode(subject.schema, rec, blocking)
      val flipped = body.clone()
      val f = rnd.nextInt(body.length)
      flipped(f) = (flipped(f) ^ (1 + rnd.nextInt(255))).toByte
      val tag = s"${if (blocking) "blocking" else "standard"} $i"
      Seq(
        s"$tag whole" -> body,
        s"$tag truncated" -> body.take(rnd.nextInt(body.length)),
        s"$tag flipped at $f" -> flipped,
        s"$tag trailing bytes" -> (body ++ Array.fill(1 + rnd.nextInt(4))(rnd.nextInt().toByte))
      ) ++ patches.map { case (field, patch) =>
        val at = offsetOf(rec, field, blocking)
        s"$tag $field out of range" -> (body.take(at) ++ patch(body.drop(at)))
      }
    }
    bodies.flatten.map { case (label, body) => label -> WireFormat.frame(subject.sourceId, body) } ++
      Seq("bad magic" -> Array[Byte](99, 1, 2, 3, 4, 5, 6, 7, 8, 9),
        "unknown id" -> WireFormat.frame(424242L, Array[Byte](1, 2, 3)))
  }

  private lazy val zooRecords = {
    val rnd = new Random(17)
    (0 until 500).map(mkRecord(rnd, _))
  }

  /** 500 records of the full type algebra; a union and an enum index of
    * 3 is one past the last branch and symbol. */
  private lazy val zooInputs = {
    val index3 = (rest: Array[Byte]) => zigzag(3) ++ rest.drop(1)
    inputs(zoo, zooRecords, Seq("f_union" -> index3, "f_enum" -> index3))
  }

  /** An array block count of 2^31−17 in front of the array, on the first
    * 10 records only: the decoder preallocates the array, and each
    * OutOfMemoryError costs the JVM a full collection. */
  private lazy val hugeBlockInputs =
    inputs(zoo, zooRecords.take(10),
      Seq("f_arr" -> ((rest: Array[Byte]) => zigzag(Int.MaxValue - 16L) ++ rest)))
      .filter(_._1.endsWith("f_arr out of range"))

  private lazy val nullableInputs = {
    val rnd = new Random(23)
    val records = (0 until 300).map { i =>
      val r = new GenericData.Record(nullable.schema)
      r.put("id", if (i % 5 == 0) null else Long.box(rnd.nextLong()))
      r.put("name", if (i % 7 == 0) null else rnd.alphanumeric.take(rnd.nextInt(12)).mkString)
      r.put("score", if (i % 3 == 0) null else Double.box(rnd.nextGaussian()))
      r.put("tags", Seq.fill(rnd.nextInt(5))(s"t${rnd.nextInt(9)}").asJava)
      r
    }
    inputs(nullable, records, Seq("id" -> ((rest: Array[Byte]) => zigzag(2) ++ rest.drop(1))))
  }

  /** Milliseconds in the micros range, either side of the epoch. */
  private def timesRecord(rnd: Random, i: Int, millis: Long): GenericRecord = {
    val r = new GenericData.Record(times.schema)
    r.put("id", Long.box(i.toLong))
    r.put("day", Int.box(rnd.nextInt(200000) - 100000))
    r.put("at_ms", Long.box(millis))
    r.put("at_us", Long.box(rnd.nextLong()))
    r.put("local_ms", Long.box(millis / 3))
    r.put("local_us", Long.box(rnd.nextLong()))
    r.put("uid", new java.util.UUID(rnd.nextLong(), rnd.nextLong()).toString)
    r
  }
  private lazy val timesInputs = {
    val rnd = new Random(29)
    val records = (0 until 300).map { i =>
      timesRecord(rnd, i, ((rnd.nextDouble() * 2 - 1) * 9e15).toLong)
    }
    inputs(times, records, Nil)
  }

  private lazy val holesInputs = {
    val rnd = new Random(31)
    val records = (0 until 200).map { i =>
      val r = new GenericData.Record(holes.schema)
      r.put("id", Long.box(rnd.nextLong()))
      r.put("nulls", java.util.Collections.nCopies[AnyRef](rnd.nextInt(300), null))
      r.put("tag", s"t$i")
      r
    }
    // no flipped bytes: a flipped count can ask for billions of nulls,
    // which the decoder allocates on both paths and the target decode again
    inputs(holes, records, Nil).filterNot(_._1.contains(" flipped at "))
  }

  // -------------------------------------------------------------- paths

  private val value = BoundReference(0, BinaryType, nullable = true)
  private def token() = java.util.UUID.randomUUID().toString
  private def key(id: Expression) = Cast(id, StringType, Some("UTC"))
  private def encodeTarget(subject: Subject, r: Expression) =
    CatalystToAvro(r, "topLevelRecord", Some(subject.targetId), Some(subject.json), magic)

  /** (key, framed value, err) of one input; a plain path's rejection
    * throws. */
  private type Path = Array[Byte] => (String, Array[Byte], String)

  private def evalAll(row: InternalRow, key: Expression, value: Expression,
                      err: Expression): (String, Array[Byte], String) =
    (Option(key.eval(row)).map(_.toString).orNull,
      value.eval(row).asInstanceOf[Array[Byte]],
      Option(err.eval(row)).map(_.toString).orNull)

  private def stepwise(subject: Subject, idField: String, deadLetter: Boolean): Path = {
    val idx = subject.schema.getField(idField).pos()
    if (!deadLetter) {
      val r = WireAvroToCatalyst(value, subject.json, source, token())
      bytes => evalAll(InternalRow(bytes), key(GetStructField(r, idx)),
        encodeTarget(subject, r), Literal(null, StringType))
    } else {
      val t = TryWireAvroToCatalyst(value, subject.json, source, token())
      val tRef = BoundReference(0, t.dataType, nullable = false)
      val r = GetStructField(tRef, 0)
      val err = GetStructField(tRef, 1)
      val v = CaseWhen(Seq(IsNull(err) -> encodeTarget(subject, r)))
      bytes => evalAll(InternalRow(t.eval(InternalRow(bytes))), key(GetStructField(r, idx)), v, err)
    }
  }

  private def fused(subject: Subject, idField: String, deadLetter: Boolean): Path = {
    val t = ReplicateWire(value, subject.json, source, token(), idField,
      subject.targetId, magic, deadLetter)
    val tRef = BoundReference(0, t.dataType, nullable = false)
    bytes => evalAll(InternalRow(t.eval(InternalRow(bytes))),
      key(GetStructField(tRef, 0)), GetStructField(tRef, 1), GetStructField(tRef, 2))
  }

  /** A target value decoded to a comparable Row. */
  private def decoder(subject: Subject): Array[Byte] => Row = {
    val d = WireAvroToCatalyst(value, subject.json, target, token())
    val toRow = CatalystTypeConverters.createToScalaConverter(d.dataType)
    bytes => toRow(d.eval(InternalRow(bytes))).asInstanceOf[Row]
  }

  /** A path's output, or its rejection — an OutOfMemoryError included:
    * the huge block count makes the decoder preallocate its array. */
  private def attempt[T](f: => T): scala.util.Try[T] =
    try scala.util.Success(f)
    catch { case e@(scala.util.control.NonFatal(_) | _: OutOfMemoryError) => scala.util.Failure(e) }

  private def body(wire: Array[Byte]): Seq[Byte] = wire.drop(WireFormat.locate(wire)._2).toSeq

  /** Whether the value in `wire` holds a millis timestamp beyond the micros
    * range, which the three-step projection wraps when it scales millis to
    * micros in a Long. A re-framed body keeps the source's instant: the one
    * difference the fused expression makes on purpose. */
  private def wrapsMillis(subject: Subject, wire: Array[Byte]): Boolean = {
    val millis = subject.schema.getFields.asScala.filter(_.schema().getLogicalType match {
      case _: LogicalTypes.TimestampMillis | _: LogicalTypes.LocalTimestampMillis => true
      case _ => false
    })
    millis.nonEmpty && {
      val offset = WireFormat.locate(wire)._2
      val rec = new GenericDatumReader[GenericRecord](subject.schema)
        .read(null, DecoderFactory.get().binaryDecoder(wire, offset, wire.length - offset, null))
      millis.exists { f =>
        val m = rec.get(f.name).asInstanceOf[Long]
        m > Long.MaxValue / 1000 || m < Long.MinValue / 1000
      }
    }
  }

  // -------------------------------------------------------------- specs

  /** @param reframes whether the subject's whole values are re-framed */
  private def agree(subject: Subject, inputs: Seq[(String, Array[Byte])],
                    idField: String, deadLetter: Boolean, reframes: Boolean = true): Unit = {
    val (old, now) = (stepwise(subject, idField, deadLetter), fused(subject, idField, deadLetter))
    val decodeTarget = decoder(subject)
    inputs.foreach { case (label, wire) =>
      val expected = attempt(old(wire))
      val reframed0 = AvroCodec.Replicated.reframed.sum
      val actual = attempt(now(wire))
      val reframed = AvroCodec.Replicated.reframed.sum - reframed0 == 1
      assert(expected.isSuccess === actual.isSuccess, s"$label: $expected vs $actual")
      for ((ek, ev, eErr) <- expected; (ak, av, aErr) <- actual) {
        assert(aErr === eErr, label)
        assert(ak === ek, label)
        assert((av == null) === (ev == null), label)
        if (ev != null) {
          assert(WireFormat.locate(av)._1 === subject.targetId, label)
          if (!(reframed && wrapsMillis(subject, wire)))
            assert(decodeTarget(av) === decodeTarget(ev), label)
        }
      }
      if (reframed) assert(body(actual.get._2) === body(wire), label)
      val rejected = actual.isFailure || actual.get._3 != null
      // what each kind of input must come to
      if (label.endsWith(" whole")) assert(reframed === reframes, label)
      if (label.endsWith(" trailing bytes")) assert(!rejected && !reframed, label)
      if (label.endsWith(" out of range") || label.endsWith(" magic") ||
          label.endsWith(" id")) assert(rejected, label)
    }
  }

  for (deadLetter <- Seq(false, true)) {
    val mode = if (deadLetter) "dead-letter" else "plain"
    for (idField <- Seq("f_bool", "f_int", "f_long", "f_float", "f_double", "f_string", "f_bytes"))
      test(s"$mode path, primitive id $idField: the fused expression agrees with the three-step projection") {
        agree(zoo, zooInputs ++ (if (idField == "f_long") hugeBlockInputs else Nil),
          idField, deadLetter)
      }
    for (idField <- Seq("id", "name", "score"))
      test(s"$mode path, nullable id $idField: the fused expression agrees with the three-step projection") {
        agree(nullable, nullableInputs, idField, deadLetter)
      }
    test(s"$mode path, date, timestamp and uuid fields: the fused expression agrees with the three-step projection") {
      agree(times, timesInputs, "id", deadLetter)
    }
    test(s"$mode path, an array of nulls transcodes and agrees with the three-step projection") {
      agree(holes, holesInputs, "id", deadLetter, reframes = false)
    }
  }

  test("timestamp-millis beyond the micros range passes through unchanged") {
    // the three-step projection scales millis to micros in a Long, which
    // wraps past ±9.2e15 ms: its output is another instant. A re-framed
    // body keeps the source's, on purpose.
    val rnd = new Random(37)
    val extreme = Seq(Long.MaxValue, Long.MinValue, Long.MaxValue / 1000 + 1, Long.MinValue / 1000 - 1)
    val now = fused(times, "id", deadLetter = false)
    extreme.zipWithIndex.foreach { case (millis, i) =>
      val wire = WireFormat.frame(times.sourceId, encode(times.schema, timesRecord(rnd, i, millis), false))
      val (k, v, err) = now(wire)
      assert(k === i.toString && err === null)
      assert(WireFormat.locate(v)._1 === times.targetId)
      assert(body(v) === body(wire), millis)
    }
  }

  /** A `holes` value: id 7, `n` nulls in one block, tag "t". */
  private def holesWire(n: Long): Array[Byte] =
    WireFormat.frame(holes.sourceId, zigzag(7) ++
      (if (n > 0) zigzag(n) else Array.emptyByteArray) ++ zigzag(0) ++ zigzag(1) ++ Array('t'.toByte))

  private def reason(out: scala.util.Try[(String, Array[Byte], String)]): String =
    out.fold(e => s"${e.getClass.getSimpleName}: ${e.getMessage}", _._3)

  test("a 2^31−17 block count and 10^9 nulls are refused within 5 s, before any decode") {
    val poisons = Seq(
      ("a 2^31−17 block count", zoo, "f_long", hugeBlockInputs.head._2),
      ("10^9 nulls", holes, "id", holesWire(1000000000L)))
    for ((label, subject, idField, wire) <- poisons; deadLetter <- Seq(true, false)) {
      val t0 = System.nanoTime()
      val out = attempt(fused(subject, idField, deadLetter)(wire))
      val secs = (System.nanoTime() - t0) / 1e9
      assert(secs < 5, s"$label took $secs s")
      // a dead letter, or the stream error a failed decode raises; never
      // an exhausted heap
      assert(out.isSuccess === deadLetter, s"$label: $out")
      assert(reason(out).startsWith("AvroRuntimeException: Malformed data: a block count"),
        s"$label: ${reason(out)}")
      if (deadLetter) assert(out.get._2 === null)
      assert(reason(attempt(stepwise(subject, idField, deadLetter)(wire))) === reason(out), label)
    }
  }

  test("a value at the zero-width item cap transcodes; one item more is refused") {
    val run = fused(holes, "id", deadLetter = true)
    val (k, v, err) = run(holesWire(DatumWalker.MaxEmptyItems))
    assert(err === null && k === "7")
    assert(decoder(holes)(v).getSeq[Any](1).size === DatumWalker.MaxEmptyItems)
    val past = run(holesWire(DatumWalker.MaxEmptyItems + 1))
    assert(past._2 === null && past._3.startsWith("AvroRuntimeException: Malformed data"), past._3)
  }

  test("the dead-letter stream plan agrees with the three-step plan") {
    import spark.implicits._
    val all = zooInputs ++ hugeBlockInputs
    val df = spark.sparkContext.parallelize(all.map(_._2).zipWithIndex, 4).toDF("value", "i")
    val stepwisePlan = df
      .select(col("i"), AvroFunctions.tryFromAvroWire(col("value"), zoo.json, source).as("t"))
      .select(col("i"), col("t.r").as("r"), col("t.err").as("err"))
      .select(col("i"), col("err"), col("r").getField("f_long").cast("string").as("key"),
        when(col("err").isNull,
          AvroFunctions.toAvroWireWithSchema(col("r"), zoo.targetId, zoo.json, magic)).as("value"))
    val fusedPlan = df
      .select(col("i"), AvroFunctions.replicateWire(col("value"), zoo.json, source,
        "f_long", zoo.targetId, magic, deadLetter = true).as("t"))
      .select(col("i"), col("t.err").as("err"), col("t.id").cast("string").as("key"),
        col("t.value").as("value"))
    val decodeTarget = decoder(zoo)
    def run(plan: org.apache.spark.sql.DataFrame) =
      plan.collect().map(r => r.getInt(0) ->
        (Option(r.getString(1)), Option(r.getString(2)),
          Option(r.getAs[Array[Byte]](3)).map(decodeTarget))).toMap
    val (expected, actual) = (run(stepwisePlan), run(fusedPlan))
    assert(actual.size === all.size)
    all.indices.foreach(i => assert(actual(i) === expected(i), all(i)._1))
    assert(actual.values.count(_._1.isEmpty) >= 1000)
  }
}
