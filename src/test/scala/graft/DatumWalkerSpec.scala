package graft

import java.io.ByteArrayOutputStream

import graft.avro.{AvroOcf, DatumWalker}
import org.apache.avro.Schema
import org.apache.avro.file.DataFileWriter
import org.apache.avro.generic.{GenericData, GenericDatumReader, GenericDatumWriter, GenericRecord}
import org.apache.avro.io.{DecoderFactory, EncoderFactory}

import scala.jdk.CollectionConverters._
import scala.util.Random

/** The OCF fast path slices raw datum bytes out of each block with a
  * hand-rolled schema-driven skip walk (`graft.avro.DatumWalker`) — a
  * boundary error there shifts EVERY subsequent record in the block and
  * corrupts silently. The catalog (q225) only drives long/timestamp/
  * string/double shapes through it; this spec drives the walk across the
  * full Avro type algebra through the public read path:
  *
  *  - every scalar type (null/boolean/int/long/float/double/string/bytes),
  *    fixed, enum, arrays (incl. empty and nested-record elements), maps
  *    (incl. empty), unions (null-branch and record-branch), nested
  *    records, and negative varints (zig-zag high bit = continuation
  *    stress for the varint reader);
  *  - BOTH array/map encodings the spec allows: the standard positive
  *    item-count blocks (binaryEncoder) and the negative-count
  *    size-prefixed blocks (blockingBinaryEncoder) that let readers skip
  *    collections wholesale — appended pre-encoded so the container holds
  *    genuinely different physical layouts of the same logical records.
  *
  * Verification is end-to-end: records round-trip bit-exactly when each
  * raw slice is decoded independently, proving every slice boundary fell
  * exactly on a datum boundary.
  */
class DatumWalkerSpec extends SparkSpec {
  import DatumWalkerSpec._

  /** Runs the round-trip; returns (written, decoded) toString multisets. */
  private[graft] def diagPair(): (Seq[String], Seq[String]) = {
    val rnd = new Random(42)
    val records = (0 until 120).map(i => mkRecord(rnd, i))
    val dir = java.nio.file.Files.createTempDirectory("graft_walker").toString

    // file 1: standard binary encoding (positive array/map item counts),
    // small sync interval so multiple blocks + the split path engage
    val w1 = new DataFileWriter(new GenericDatumWriter[GenericRecord](schema))
    w1.setSyncInterval(512)
    w1.create(schema, new java.io.File(dir, "std.avro"))
    records.take(60).foreach(w1.append)
    w1.close()

    // file 2: blocking encoder (NEGATIVE size-prefixed array/map blocks) —
    // same logical records, different physical layout, appended pre-encoded
    val w2 = new DataFileWriter(new GenericDatumWriter[GenericRecord](schema))
    w2.create(schema, new java.io.File(dir, "blocking.avro"))
    val datumWriter = new GenericDatumWriter[GenericRecord](schema)
    // a tiny block size forces MANY negative-count blocks per collection
    val blockingFactory = new EncoderFactory().configureBlockSize(16)
    records.drop(60).foreach { rec =>
      val bos = new ByteArrayOutputStream(256)
      val enc = blockingFactory.blockingBinaryEncoder(bos, null)
      datumWriter.write(rec, enc)
      enc.flush()
      w2.appendEncoded(java.nio.ByteBuffer.wrap(bos.toByteArray))
    }
    w2.close()

    val slices = AvroOcf.readBinary(spark, dir, Some(schemaJson))
      .collect().map(_.getAs[Array[Byte]](0))
    assert(slices.length == records.length)

    // decode every slice INDEPENDENTLY — only exact boundaries survive this
    val reader = new GenericDatumReader[GenericRecord](schema)
    val decoded = slices.map { b =>
      val dec = DecoderFactory.get().binaryDecoder(b, null)
      val rec = reader.read(null, dec)
      assert(dec.isEnd, "slice carries trailing bytes past its datum")
      rec.toString
    }
    // normalize the reference through its own encode->decode so both sides
    // render identically (Utf8 vs String, HashMap iteration order) — the
    // comparison then only sees real value differences
    val datumW = new GenericDatumWriter[GenericRecord](schema)
    val writtenNorm = records.map { rec =>
      val bos = new ByteArrayOutputStream(256)
      val enc = EncoderFactory.get().binaryEncoder(bos, null)
      datumW.write(rec, enc)
      enc.flush()
      reader.read(null,
        DecoderFactory.get().binaryDecoder(bos.toByteArray, null)).toString
    }
    (writtenNorm, decoded.toSeq)
  }

  test("raw slices land on exact datum boundaries across the full type algebra") {
    val (written, decoded) = diagPair()
    assert(decoded.size == written.size)
    assert(decoded.sorted == written.sorted,
      "decoded multiset differs from the written records")
  }

  private def encoded(rec: GenericRecord): Array[Byte] = {
    val bos = new ByteArrayOutputStream(256)
    val enc = EncoderFactory.get().binaryEncoder(bos, null)
    new GenericDatumWriter[GenericRecord](schema).write(rec, enc)
    enc.flush()
    bos.toByteArray
  }

  /** `{"id": long}` with its varint stretched to 11 bytes — one more than
    * a long can take. */
  private val longSchema = new Schema.Parser().parse(
    """{"type":"record","name":"L","fields":[{"name":"id","type":"long"}]}""")
  private val elevenByteVarint = Array.fill[Byte](10)(0x80.toByte) :+ 1.toByte

  test("the walker reports a truncated datum instead of reading past its limit") {
    val rnd = new Random(7)
    val walker = new DatumWalker(schema)
    (0 until 60).foreach { i =>
      val whole = encoded(mkRecord(rnd, i))
      assert(walker.skip(whole, 0, whole.length) === whole.length)
      (0 until whole.length).foreach { cut =>
        // the datum's own tail lies past `limit`: walking on would find it
        assert(walker.skip(whole, 0, cut) === DatumWalker.Malformed, s"record $i cut at $cut")
        // and an array that ends where the datum is cut
        val truncated = java.util.Arrays.copyOf(whole, cut)
        assert(walker.skip(truncated, 0, cut) === DatumWalker.Malformed, s"record $i cut at $cut")
      }
    }
  }

  test("the walker reports an 11-byte varint") {
    val walker = new DatumWalker(longSchema)
    assert(walker.skip(elevenByteVarint, 0, elevenByteVarint.length) === DatumWalker.Malformed)
    val tenBytes = Array.fill[Byte](9)(0xff.toByte) :+ 1.toByte // Long.MinValue
    assert(walker.skip(tenBytes, 0, tenBytes.length) === tenBytes.length)
  }

  test("the OCF read path fails a malformed datum as a corrupt block") {
    val rnd = new Random(9)
    def readWith(s: Schema, datums: Seq[Array[Byte]]): Unit = {
      val dir = java.nio.file.Files.createTempDirectory("graft_walker_bad").toString
      val w = new DataFileWriter(new GenericDatumWriter[GenericRecord](s))
      w.create(s, new java.io.File(dir, "bad.avro"))
      datums.foreach(d => w.appendEncoded(java.nio.ByteBuffer.wrap(d)))
      w.close()
      val e = intercept[Exception] {
        AvroOcf.readBinary(spark, dir, Some(s.toString)).collect()
      }
      val messages = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .map(t => String.valueOf(t.getMessage)).toSeq
      assert(messages.exists(_.contains("corrupt block")), messages)
    }
    val good = encoded(mkRecord(rnd, 1))
    val cut = encoded(mkRecord(rnd, 2))
    readWith(schema, Seq(good, cut.dropRight(3)))
    readWith(longSchema, Seq(Array[Byte](2), elevenByteVarint))
  }

  test("arrays whose items take no bytes hold more items than bytes, on the OCF path too") {
    val empty = new Schema.Parser().parse(
      """{"type":"record","name":"E","fields":[
        |  {"name":"nulls","type":{"type":"array","items":"null"}},
        |  {"name":"empties","type":{"type":"array","items":
        |    {"type":"record","name":"Nothing","fields":[]}}},
        |  {"name":"zeros","type":{"type":"array","items":{"type":"fixed","name":"F0","size":0}}},
        |  {"name":"n","type":"long"}]}""".stripMargin)
    val nothing = empty.getField("empties").schema().getElementType
    val f0 = empty.getField("zeros").schema().getElementType
    val records = (0 until 40).map { i =>
      val r = new GenericData.Record(empty)
      r.put("nulls", java.util.Collections.nCopies[AnyRef](100 + i, null))
      r.put("empties", java.util.Collections.nCopies(100 + i, new GenericData.Record(nothing)))
      r.put("zeros", java.util.Collections.nCopies(100 + i, new GenericData.Fixed(f0, Array.emptyByteArray)))
      r.put("n", Long.box(i.toLong))
      r
    }
    val datumWriter = new GenericDatumWriter[GenericRecord](empty)
    val blockingFactory = new EncoderFactory().configureBlockSize(16)
    def encode(r: GenericRecord, blocking: Boolean): Array[Byte] = {
      val bos = new ByteArrayOutputStream(64)
      val enc = if (blocking) blockingFactory.blockingBinaryEncoder(bos, null)
        else EncoderFactory.get().binaryEncoder(bos, null)
      datumWriter.write(r, enc)
      enc.flush()
      bos.toByteArray
    }
    val walker = new DatumWalker(empty)
    assert(walker.hasEmptyItems && !new DatumWalker(schema).hasEmptyItems)
    val datums = records.map(encode(_, blocking = false)) ++ records.map(encode(_, blocking = true))
    datums.foreach(d => assert(walker.skip(d, 0, d.length) === d.length))
    // a count of 100 with one byte left after it is a valid array of nulls
    assert(datums.head.length < 100)

    val dir = java.nio.file.Files.createTempDirectory("graft_walker_empty").toString
    val w = new DataFileWriter(datumWriter)
    w.create(empty, new java.io.File(dir, "empty.avro"))
    datums.foreach(d => w.appendEncoded(java.nio.ByteBuffer.wrap(d)))
    w.close()
    val slices = AvroOcf.readBinary(spark, dir, Some(empty.toString))
      .collect().map(_.getAs[Array[Byte]](0))
    val reader = new GenericDatumReader[GenericRecord](empty)
    val decoded = slices.map(b => reader.read(null, DecoderFactory.get().binaryDecoder(b, null)))
    assert(decoded.map(_.toString).sorted.toSeq === (records ++ records).map(_.toString).sorted)
  }
}

/** The full-type-algebra record the walker specs drive. */
object DatumWalkerSpec {

  val schemaJson =
    """{"type":"record","name":"Zoo","fields":[
      |  {"name":"f_null","type":"null"},
      |  {"name":"f_bool","type":"boolean"},
      |  {"name":"f_int","type":"int"},
      |  {"name":"f_long","type":"long"},
      |  {"name":"f_float","type":"float"},
      |  {"name":"f_double","type":"double"},
      |  {"name":"f_string","type":"string"},
      |  {"name":"f_bytes","type":"bytes"},
      |  {"name":"f_fixed","type":{"type":"fixed","name":"F8","size":8}},
      |  {"name":"f_enum","type":{"type":"enum","name":"Color",
      |    "symbols":["RED","GREEN","BLUE"]}},
      |  {"name":"f_arr","type":{"type":"array","items":"long"}},
      |  {"name":"f_arr_rec","type":{"type":"array","items":
      |    {"type":"record","name":"Pt","fields":[
      |      {"name":"x","type":"double"},{"name":"y","type":"double"}]}}},
      |  {"name":"f_map","type":{"type":"map","values":"double"}},
      |  {"name":"f_union","type":["null","Pt","string"]},
      |  {"name":"f_nested","type":{"type":"record","name":"Inner","fields":[
      |    {"name":"tag","type":"string"},
      |    {"name":"vals","type":{"type":"array","items":"int"}}]}}
      |]}""".stripMargin
  val schema = new Schema.Parser().parse(schemaJson)

  def mkRecord(rnd: Random, i: Int): GenericRecord = {
    val r = new GenericData.Record(schema)
    r.put("f_null", null)
    r.put("f_bool", rnd.nextBoolean())
    r.put("f_int", rnd.nextInt() - Int.MaxValue / 2) // negatives: zig-zag stress
    r.put("f_long", rnd.nextLong())
    r.put("f_float", rnd.nextFloat())
    r.put("f_double", rnd.nextDouble())
    r.put("f_string", if (i % 7 == 0) "" else rnd.alphanumeric.take(rnd.nextInt(40)).mkString)
    r.put("f_bytes", java.nio.ByteBuffer.wrap(
      Array.fill[Byte](rnd.nextInt(16))(rnd.nextInt().toByte)))
    r.put("f_fixed", new GenericData.Fixed(schema.getField("f_fixed").schema(),
      Array.fill[Byte](8)(rnd.nextInt().toByte)))
    r.put("f_enum", new GenericData.EnumSymbol(
      schema.getField("f_enum").schema(), Seq("RED", "GREEN", "BLUE")(rnd.nextInt(3))))
    r.put("f_arr",
      (if (i % 5 == 0) Seq.empty[java.lang.Long]
       else Seq.fill(rnd.nextInt(6) + 1)(java.lang.Long.valueOf(rnd.nextLong()))).asJava)
    val ptSchema = schema.getField("f_arr_rec").schema().getElementType
    def mkPt(): GenericRecord = {
      val p = new GenericData.Record(ptSchema)
      p.put("x", rnd.nextDouble()); p.put("y", rnd.nextDouble()); p
    }
    r.put("f_arr_rec", Seq.fill(rnd.nextInt(4))(mkPt()).asJava)
    r.put("f_map",
      (if (i % 4 == 0) Map.empty[String, java.lang.Double]
       else Seq.fill(rnd.nextInt(4) + 1)(
         rnd.alphanumeric.take(5).mkString ->
           java.lang.Double.valueOf(rnd.nextDouble())).toMap).asJava)
    r.put("f_union", i % 3 match {
      case 0 => null
      case 1 => mkPt()
      case 2 => s"u-$i"
    })
    val inner = new GenericData.Record(schema.getField("f_nested").schema())
    inner.put("tag", s"tag-$i")
    inner.put("vals",
      Seq.fill(rnd.nextInt(5))(java.lang.Integer.valueOf(rnd.nextInt())).asJava)
    r.put("f_nested", inner)
    r
  }
}
