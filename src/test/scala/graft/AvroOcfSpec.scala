package graft

import graft.avro.{AvroFunctions, AvroOcf}
import org.apache.spark.sql.functions._

/** The Avro Object Container File contract at the FILE level — what q225's
  * oracle row-compare cannot isolate: multi-container completeness, the
  * embedded-writer-schema discovery step, and schema RESOLUTION through the
  * container (a v2 reader consuming v1 files with defaults filled — the
  * consumer-upgrade path every Avro pipeline walks, here proven against
  * files instead of AvroCodecSpec's raw byte arrays). */
class AvroOcfSpec extends SparkSpec {

  private def tempDir(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"graft_ocf_$tag").toString

  test("round-trip preserves every row across multiple container files") {
    import spark.implicits._
    val in = (1L to 10L).map(i => (i, s"name-$i", i * 1.5))
      .toDF("id", "name", "score").repartition(3)
    val schemaJson = AvroFunctions.writerSchemaFor(in.schema, "Rec")
    val out = tempDir("rt") + "/t"
    AvroOcf.write(
      in.select(AvroFunctions.toAvro(
        struct(col("id"), col("name"), col("score")), "Rec").as("b"))
        .as[Array[Byte]],
      schemaJson, out)
    val files = new java.io.File(out).listFiles().filter(_.getName.endsWith(".avro"))
    assert(files.length == 3, "expected one container per non-empty partition")
    val back = AvroOcf.readBinary(spark, out)
      .select(AvroFunctions.fromAvro(col("avro_value"), schemaJson).as("r"))
      .select(col("r.*"))
      .as[(Long, String, Double)].collect().toSet
    assert(back == in.as[(Long, String, Double)].collect().toSet)
  }

  test("v1 containers resolve into a v2 reader schema with defaults filled") {
    import spark.implicits._
    val in = Seq("e-1", "e-2").toDF("id")
    val v1 = AvroFunctions.writerSchemaFor(in.schema, "Evo")
    val out = tempDir("evo") + "/t"
    AvroOcf.write(
      in.select(AvroFunctions.toAvro(struct(col("id")), "Evo").as("b"))
        .as[Array[Byte]],
      v1, out)
    // discovery: the reader learns the writer schema FROM the container
    val embedded = AvroOcf.embeddedSchema(spark, out)
    assert(embedded.isDefined &&
      new org.apache.avro.Schema.Parser().parse(embedded.get) ==
        new org.apache.avro.Schema.Parser().parse(v1))
    val v2 =
      """{"type":"record","name":"Evo","fields":[
        |  {"name":"id","type":"string"},
        |  {"name":"score","type":["null","double"],"default":null},
        |  {"name":"source","type":"string","default":"unknown"}]}""".stripMargin
    val evolved = AvroOcf.readBinary(spark, out)
      .select(AvroFunctions.fromAvro(col("avro_value"), v2, embedded.get).as("r"))
      .select(col("r.*"))
      .as[(String, Option[Double], String)].collect().toSet
    assert(evolved == Set(("e-1", None, "unknown"), ("e-2", None, "unknown")))
  }

  test("empty directory reads as an empty table and reports no schema") {
    val out = tempDir("empty")
    assert(AvroOcf.embeddedSchema(spark, out).isEmpty)
    assert(AvroOcf.readBinary(spark, out).count() == 0L)
  }

  test("containers are deflate-compressed by default, codec pinned in the header") {
    import spark.implicits._
    val in = (1L to 50L).map(i => (i, "x" * 200)).toDF("id", "pad").repartition(1)
    val schemaJson = AvroFunctions.writerSchemaFor(in.schema, "Padded")
    def bin = in.select(AvroFunctions.toAvro(
      struct(col("id"), col("pad")), "Padded").as("b")).as[Array[Byte]]
    def headerCodec(dir: String): String = {
      val f = new java.io.File(dir).listFiles()
        .filter(_.getName.endsWith(".avro")).head
      val r = new org.apache.avro.file.DataFileReader(f,
        new org.apache.avro.generic.GenericDatumReader[
          org.apache.avro.generic.GenericRecord]())
      try r.getMetaString("avro.codec") finally r.close()
    }
    val deflated = tempDir("deflate") + "/t"
    AvroOcf.write(bin, schemaJson, deflated)
    assert(headerCodec(deflated) == "deflate")
    val raw = tempDir("rawcodec") + "/t"
    AvroOcf.write(bin, schemaJson, raw, codec = "null")
    assert(headerCodec(raw) == "null")
    // compression must actually bite on the repetitive payload…
    def bytes(dir: String): Long = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".avro")).map(_.length()).sum
    assert(bytes(deflated) < bytes(raw) / 2,
      s"deflate=${bytes(deflated)} raw=${bytes(raw)}")
    // …and both round-trip identically
    def readBack(dir: String) = AvroOcf.readBinary(spark, dir, Some(schemaJson))
      .select(AvroFunctions.fromAvro(col("avro_value"), schemaJson).as("r"))
      .select(col("r.*")).as[(Long, String)].collect().toSet
    assert(readBack(deflated) == readBack(raw) &&
      readBack(deflated) == in.as[(Long, String)].collect().toSet)
  }

  test("a mid-job failure leaves the output directory completely absent") {
    import spark.implicits._
    val in = (1L to 8L).map(i => (i, s"v$i")).toDF("id", "v").repartition(2)
    val schemaJson = AvroFunctions.writerSchemaFor(in.schema, "Atomic")
    val good = in.select(AvroFunctions.toAvro(
      struct(col("id"), col("v")), "Atomic").as("b")).as[Array[Byte]]
    val out = tempDir("atomic") + "/table"
    val poisoned = good.map { b =>
      if (org.apache.spark.TaskContext.getPartitionId() == 1)
        throw new RuntimeException("mid-partition failure injection")
      b
    }
    intercept[org.apache.spark.SparkException] {
      AvroOcf.write(poisoned, schemaJson, out)
    }
    // read-committed at the file level: the failed job is invisible — no
    // final dir, no leaked staging sibling
    val parent = new java.io.File(out).getParentFile
    assert(!new java.io.File(out).exists(), "failed write left the output dir")
    assert(parent.listFiles() == null || parent.listFiles().isEmpty,
      s"failed write leaked staging: ${parent.listFiles().mkString(",")}")
    // the same write, healthy, commits everything atomically
    AvroOcf.write(good, schemaJson, out)
    val back = AvroOcf.readBinary(spark, out, Some(schemaJson))
      .select(AvroFunctions.fromAvro(col("avro_value"), schemaJson).as("r"))
      .select(col("r.*")).as[(Long, String)].collect().toSet
    assert(back == in.as[(Long, String)].collect().toSet)
  }

  test("mixed writer versions in one directory resolve per file into the reader schema") {
    import spark.implicits._
    val v2 =
      """{"type":"record","name":"Evo","namespace":"graft","fields":[
        |  {"name":"id","type":["null","string"],"default":null},
        |  {"name":"score","type":["null","double"],"default":null},
        |  {"name":"source","type":["null","string"],"default":null}]}""".stripMargin
    // v1 writers: id only
    val inV1 = Seq("e-1", "e-2").toDF("id")
    val v1 = AvroFunctions.writerSchemaFor(inV1.schema, "Evo")
    val d1 = tempDir("mixv1") + "/t"
    AvroOcf.write(inV1.select(AvroFunctions.toAvro(
      struct(col("id")), "Evo").as("b")).as[Array[Byte]], v1, d1)
    // v2 writers: full shape
    val inV2 = Seq(("e-3", 1.5, "s3"), ("e-4", 2.5, "s4"))
      .toDF("id", "score", "source")
    val d2 = tempDir("mixv2") + "/t"
    AvroOcf.write(inV2.select(AvroFunctions.toAvroWithSchema(
      struct(col("id"), col("score"), col("source")), v2).as("b"))
      .as[Array[Byte]], v2, d2)
    // one directory holding both writer generations
    val mixed = new java.io.File(tempDir("mixed"))
    Seq(d1, d2).zipWithIndex.foreach { case (d, gen) =>
      new java.io.File(d).listFiles().filter(_.getName.endsWith(".avro"))
        .foreach { f =>
          java.nio.file.Files.copy(f.toPath,
            mixed.toPath.resolve(s"gen$gen-${f.getName}"))
        }
    }
    // with a requested reader schema every file resolves through its OWN
    // embedded writer schema (v1 rows get nulls filled) — values exact
    val rows = AvroOcf.readBinary(spark, mixed.toString, Some(v2))
      .select(AvroFunctions.fromAvro(col("avro_value"), v2).as("r"))
      .select(col("r.*"))
      .as[(Option[String], Option[Double], Option[String])].collect().toSet
    assert(rows == Set(
      (Some("e-1"), None, None), (Some("e-2"), None, None),
      (Some("e-3"), Some(1.5), Some("s3")), (Some("e-4"), Some(2.5), Some("s4"))))
    // with NO reader schema raw passthrough would silently mis-decode —
    // the source must refuse instead
    val e = intercept[org.apache.spark.SparkException] {
      AvroOcf.readBinary(spark, mixed.toString).count()
    }
    assert(String.valueOf(e.getMessage).contains("mixed OCF writer schemas") ||
      Option(e.getCause).exists(c =>
        String.valueOf(c.getMessage).contains("mixed OCF writer schemas")))
  }

  test("sink output is plain Avro any standard reader consumes (interop)") {
    import spark.implicits._
    // our writer appends PRE-ENCODED datum bytes (appendEncoded) — this
    // pins that the result is still a perfectly ordinary container file:
    // a stock DataFileReader (no graft code) must see every row
    val in = (1L to 25L).map(i => (i, s"name-$i", i * 0.5))
      .toDF("id", "name", "score").repartition(2)
    val schemaJson = AvroFunctions.writerSchemaFor(in.schema, "Interop")
    val out = tempDir("interop") + "/t"
    AvroOcf.write(
      in.select(AvroFunctions.toAvro(
        struct(col("id"), col("name"), col("score")), "Interop").as("b"))
        .as[Array[Byte]],
      schemaJson, out)
    val got = new java.io.File(out).listFiles()
      .filter(_.getName.endsWith(".avro")).sortBy(_.getName)
      .flatMap { f =>
        val r = new org.apache.avro.file.DataFileReader(f,
          new org.apache.avro.generic.GenericDatumReader[
            org.apache.avro.generic.GenericRecord]())
        try {
          val buf = collection.mutable.ArrayBuffer.empty[(Long, String, Double)]
          while (r.hasNext) {
            val rec = r.next()
            buf += ((rec.get("id").asInstanceOf[Long],
              String.valueOf(rec.get("name")),
              rec.get("score").asInstanceOf[Double]))
          }
          buf
        } finally r.close()
      }.toSet
    assert(got == in.as[(Long, String, Double)].collect().toSet,
      "a stock Avro reader did not see the sink's rows")
  }

  // --- corruption contract -------------------------------------------------
  // OCF has no footer: truncation at an exact sync boundary is physically
  // indistinguishable from a shorter file, so the honest contract is the one
  // pinned here — damage INSIDE the byte stream (mid-block truncation, a
  // non-container payload) must surface as a task failure, never as a
  // silently short or garbled result.

  test("a mid-block-truncated container fails the read loudly") {
    import spark.implicits._
    val in = (1L to 500L).map(i => (i, s"payload-$i-${"y" * 60}"))
      .toDF("id", "pad").repartition(1)
    val schemaJson = AvroFunctions.writerSchemaFor(in.schema, "Trunc")
    val out = tempDir("trunc") + "/t"
    AvroOcf.write(
      in.select(AvroFunctions.toAvro(
        struct(col("id"), col("pad")), "Trunc").as("b")).as[Array[Byte]],
      schemaJson, out)
    val f = new java.io.File(out).listFiles()
      .filter(_.getName.endsWith(".avro")).head
    // cut inside the (single deflate) block, well past the header
    val keep = (f.length() * 6) / 10
    val ch = new java.io.RandomAccessFile(f, "rw")
    try ch.setLength(keep) finally ch.close()
    intercept[org.apache.spark.SparkException] {
      AvroOcf.readBinary(spark, out, Some(schemaJson)).count()
    }
  }

  test("a non-container file wearing the .avro suffix fails the read loudly") {
    val out = tempDir("garbage")
    java.nio.file.Files.write(
      java.nio.file.Paths.get(out, "part-00000.avro"),
      Array.fill[Byte](4096)(0x5a))
    // discovery and read must both refuse — not return zero rows
    intercept[Exception] { AvroOcf.embeddedSchema(spark, out) }
    intercept[Exception] { AvroOcf.readBinary(spark, out).count() }
  }

  // --- incremental consumption ---------------------------------------------
  // The split reader's 100 TB memory contract: heap per task is ONE
  // decompressed block, not the whole split (maxSplitBytes × the codec's
  // expansion ratio). Proven by wrapping the container reader with a
  // block-counting subclass: take(1) on a multi-block split must touch
  // exactly the first block.

  private def countingReader(f: java.io.File, counter: java.util.concurrent.atomic.AtomicInteger) =
    new org.apache.avro.file.DataFileReader[org.apache.avro.generic.GenericRecord](
      new org.apache.avro.mapred.FsInput(
        new org.apache.hadoop.fs.Path(f.toString),
        spark.sessionState.newHadoopConf()),
      new org.apache.avro.generic.GenericDatumReader[
        org.apache.avro.generic.GenericRecord]()) {
      override def nextBlock(): java.nio.ByteBuffer = {
        counter.incrementAndGet()
        super.nextBlock()
      }
    }

  test("split reading is lazy: take(1) on a multi-block split walks one block only") {
    import spark.implicits._
    val n = 300L
    val in = (1L to n).map(i => (i, s"payload-$i-${"z" * 50}"))
      .toDF("id", "pad").repartition(1)
    val schemaJson = AvroFunctions.writerSchemaFor(in.schema, "Lazy")
    val out = tempDir("lazy") + "/t"
    // small sync interval => many blocks in one container
    AvroOcf.write(in.select(AvroFunctions.toAvro(
      struct(col("id"), col("pad")), "Lazy").as("b")).as[Array[Byte]],
      schemaJson, out, codec = "null", syncInterval = 256)
    val f = new java.io.File(out).listFiles()
      .filter(_.getName.endsWith(".avro")).head
    val target = new org.apache.avro.Schema.Parser().parse(schemaJson)

    // fast path (writer == target): one datum => one block fetched
    val c1 = new java.util.concurrent.atomic.AtomicInteger()
    val r1 = countingReader(f, c1)
    try {
      val it = AvroOcf.splitIterator(r1, f.toString, 0L, f.length(), target,
        strict = false)
      assert(it.next().nonEmpty)
      assert(c1.get() == 1,
        s"take(1) must fetch exactly the first block, fetched ${c1.get()}")
      // full consumption walks every remaining block and loses nothing
      var rest = 1L
      while (it.hasNext) { it.next(); rest += 1 }
      assert(rest == n, s"row loss on lazy full consumption: $rest/$n")
      assert(c1.get() > 3,
        s"test needs a genuinely multi-block container, got ${c1.get()} block(s)")
    } finally r1.close()

    // evolution path (writer != target, resolving re-encode) is equally lazy
    val v2 =
      """{"type":"record","name":"Lazy","namespace":"graft","fields":[
        |  {"name":"id","type":["null","long"],"default":null},
        |  {"name":"pad","type":["null","string"],"default":null},
        |  {"name":"extra","type":"string","default":"none"}]}""".stripMargin
    val c2 = new java.util.concurrent.atomic.AtomicInteger()
    val r2 = countingReader(f, c2)
    try {
      val it = AvroOcf.splitIterator(r2, f.toString, 0L, f.length(),
        new org.apache.avro.Schema.Parser().parse(v2), strict = false)
      assert(it.next().nonEmpty)
      assert(c2.get() == 1,
        s"resolving take(1) must fetch exactly the first block, fetched ${c2.get()}")
    } finally r2.close()
  }

  test("a write never replaces a committed output and reports whether it committed") {
    import spark.implicits._
    val in = Seq(1L, 2L).toDF("id")
    val schemaJson = AvroFunctions.writerSchemaFor(in.schema, "Keep")
    def bin(ids: Seq[Long]) = ids.toDF("id")
      .select(AvroFunctions.toAvro(struct(col("id")), "Keep").as("b")).as[Array[Byte]]
    val out = tempDir("keep") + "/t"
    assert(AvroOcf.write(bin(Seq(1L, 2L)), schemaJson, out))
    assert(!AvroOcf.write(bin(Seq(3L)), schemaJson, out),
      "a second write to a committed output must not commit")
    val back = AvroOcf.readBinary(spark, out, Some(schemaJson))
      .select(AvroFunctions.fromAvro(col("avro_value"), schemaJson).as("r"))
      .select(col("r.id")).as[Long].collect().toSet
    assert(back == Set(1L, 2L), s"the committed output changed: $back")
    assert(new java.io.File(out).getParentFile.list().toSeq == Seq("t"),
      "a skipped write must leave no staging behind")
  }
}
