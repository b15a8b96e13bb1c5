package graft

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import graft.avro.{AvroCodec, AvroFunctions, ConfluentRegistryRef, FileRegistryRef, FileSchemaRegistry, RegistryRef, WireFormat}
import graft.streaming.{CommittedTopicSource, FileTopicSink, FileTopicSource, Replication, ReplicationMetrics}
import graft.streaming.Replication.Topics
import org.apache.spark.sql.functions._

/** M2 acceptance: the replication pipeline end-to-end, asserting exactly what
  * the reference's E2E test asserts — output key == value.id and value ==
  * original record (`ReplicationApplicationTest.java:122-123`) — plus
  * schema replication into the target registry, per-record wire framing,
  * and redelivery idempotence (restart from checkpoint produces no
  * duplicates, §2.1 R10).
  */
class ReplicationSpec extends SparkSpec {

  private case class Env(topics: Topics, sourceReg: String, targetReg: String)

  private def freshEnv(): Env = {
    val root = Files.createTempDirectory("graft-repl").toString
    Env(Topics(s"$root/topicA", s"$root/topicB", s"$root/checkpoint"),
      s"$root/registryA", s"$root/registryB")
  }

  test("replicates events: key == value.id, value round-trips, schema registered") {
    val env = freshEnv()
    val events = Tables.events(spark, sf).limit(200).cache()
    val schemaJson = Replication.stageSource(
      events, env.topics.sourceDir, "events-value", env.sourceReg, "Event")

    val q = Replication.start(spark, env.topics, "events-value",
      env.sourceReg, env.targetReg, idField = "event_id", maxFilesPerTrigger = 8)
    q.awaitTermination(120000)

    // schema replicated: same content-addressed id in both registries
    val srcReg = new FileSchemaRegistry(env.sourceReg)
    val tgtReg = new FileSchemaRegistry(env.targetReg)
    assert(tgtReg.latest("events-value").map(_._1) === srcReg.latest("events-value").map(_._1))
    // the key serializer's schema is registered too (application.yml:15 —
    // KafkaAvroSerializer for keys): BOTH subjects must exist in the target
    for (reg <- Seq(srcReg, tgtReg)) {
      val key = reg.latest("events-key")
      assert(key.isDefined, "key subject must be registered")
      assert(key.get._2.getType === org.apache.avro.Schema.Type.STRING)
    }

    val out = Replication.readCommitted(spark, env.topics.targetDir)
      .select(col("key"),
        AvroFunctions.fromAvroWire(col("value"), schemaJson, env.targetReg).as("r"))
    // key == value.id (ReplicationApplicationTest.java:122)
    assert(out.filter(col("key") =!= col("r.event_id").cast("string")).count() === 0)
    // value == original record (ReplicationApplicationTest.java:123)
    val roundTripped = out.select(col("r.*"))
    assert(roundTripped.count() === 200)
    assert(roundTripped.exceptAll(events).isEmpty && events.exceptAll(roundTripped).isEmpty)
  }

  test("values on the wire are framed with the registered schema id") {
    val env = freshEnv()
    val events = Tables.events(spark, sf).limit(10)
    Replication.stageSource(events, env.topics.sourceDir, "events-value",
      env.sourceReg, "Event")
    val raw = spark.read.parquet(env.topics.sourceDir)
      .select("value").collect().map(_.getAs[Array[Byte]](0))
    val expectedId = new FileSchemaRegistry(env.sourceReg)
      .latest("events-value").get._1
    raw.foreach { bytes =>
      val (id, body) = WireFormat.unframe(bytes)
      assert(id === expectedId)
      assert(body.nonEmpty)
    }
  }

  test("restart from checkpoint redelivers nothing (effective exactly-once)") {
    val env = freshEnv()
    val first = Tables.events(spark, sf).limit(100).cache()
    Replication.stageSource(first, env.topics.sourceDir, "events-value",
      env.sourceReg, "Event")
    Replication.start(spark, env.topics, "events-value", env.sourceReg, env.targetReg,
      idField = "event_id", maxFilesPerTrigger = 4).awaitTermination(120000)
    val afterFirst = Replication.readCommitted(spark, env.topics.targetDir).count()
    assert(afterFirst === 100)

    // restart with no new input: nothing re-emitted
    Replication.start(spark, env.topics, "events-value", env.sourceReg, env.targetReg,
      idField = "event_id", maxFilesPerTrigger = 4).awaitTermination(120000)
    assert(Replication.readCommitted(spark, env.topics.targetDir).count() === afterFirst)

    // new data arrives; restart processes exactly the delta
    val second = Tables.events(spark, sf)
      .orderBy(col("event_id").desc).limit(50).cache()
    Replication.stageSource(second, env.topics.sourceDir, "events-value",
      env.sourceReg, "Event")
    Replication.start(spark, env.topics, "events-value", env.sourceReg, env.targetReg,
      idField = "event_id", maxFilesPerTrigger = 4).awaitTermination(120000)
    assert(Replication.readCommitted(spark, env.topics.targetDir).count() === 150)
  }

  test("listener metrics account for every replicated record (R4 callbacks)") {
    val env = freshEnv()
    val events = Tables.events(spark, sf).limit(100).cache()
    // 8 source files → at least 2 micro-batches at maxFilesPerTrigger=4
    Replication.stageSource(events.repartition(8), env.topics.sourceDir,
      "events-value", env.sourceReg, "Event")
    val metrics = ReplicationMetrics.attach(spark)
    try {
      val q = Replication.start(spark, env.topics, "events-value", env.sourceReg,
        env.targetReg, idField = "event_id", maxFilesPerTrigger = 4)
      q.awaitTermination(120000)
      val qid = q.id
      // listener events are delivered asynchronously after termination
      val deadline = System.nanoTime() + 30e9.toLong
      while (metrics.totalRows(qid) < 100 && System.nanoTime() < deadline) Thread.sleep(50)
      assert(metrics.totalRows(qid) === 100,
        s"every replicated record must be accounted for: ${metrics.snapshot}")
      assert(metrics.batchCount(qid) > 1, "maxFilesPerTrigger=4 should yield multiple batches")
      assert(metrics.snapshot(qid).forall(_.durationMs >= 0))
      // each batch keeps its phases, not only their sum
      val phases = Seq("latestOffset", "getBatch", "queryPlanning", "walCommit",
        "addBatch", "commitOffsets", "triggerExecution")
      metrics.snapshot(qid).foreach { b =>
        assert(phases.forall(b.phases.contains), s"batch ${b.batchId}: ${b.phases}")
        assert(b.phases("addBatch") <= b.phases("triggerExecution"), b.phases)
        assert(b.durationMs === b.phases.values.sum)
      }
    } finally ReplicationMetrics.remove(spark, metrics)
  }

  test("each micro-batch of a one-file source runs 1 job, 1 stage and 1 task") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
    val env = freshEnv()
    val events = Tables.events(spark, sf).limit(150).cache()
    // three one-file appends: one micro-batch each at maxFilesPerTrigger=1
    events.randomSplit(Array(1.0, 1.0, 1.0), seed = 7).foreach(part =>
      Replication.stageSource(part.coalesce(1), env.topics.sourceDir, "events-value",
        env.sourceReg, "Event"))
    // (job group, micro-batch id, stage ids) of every job; the stage of every task
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[(String, String, Seq[Int])]()
    val tasks = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        val p = Option(js.properties)
        jobs.add((p.map(_.getProperty("spark.jobGroup.id")).orNull,
          p.map(_.getProperty("streaming.sql.batchId")).orNull, js.stageIds))
        ()
      }
      override def onTaskEnd(te: SparkListenerTaskEnd): Unit = { tasks.add(te.stageId); () }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val q = Replication.start(spark, env.topics, "events-value", env.sourceReg,
        env.targetReg, idField = "event_id", maxFilesPerTrigger = 1)
      q.awaitTermination(120000)
      assert(Replication.readCommitted(spark, env.topics.targetDir).count() === 150)
      val group = q.runId.toString
      def ofQuery = jobs.asScala.toSeq.filter(_._1 == group)
      def tasksOf(stages: Seq[Int]) = tasks.asScala.count(stages.contains)
      // listener events are delivered asynchronously
      val deadline = System.nanoTime() + 30e9.toLong
      while (tasksOf(ofQuery.flatMap(_._3)) < 3 && System.nanoTime() < deadline) Thread.sleep(50)
      Thread.sleep(200)
      val perBatch = ofQuery.groupBy(_._2).map { case (batch, js) =>
        batch -> ((js.size, js.map(_._3.size).sum, tasksOf(js.flatMap(_._3))))
      }
      assert(perBatch.keySet === Set("0", "1", "2"), perBatch)
      assert(perBatch.values.forall(_ == ((1, 1, 1))), s"(jobs, stages, tasks) by batch: $perBatch")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("a second stream start compiles no code and runs its tasks under the first start's class loader") {
    import org.apache.spark.metrics.source.CodegenMetrics
    val root = Files.createTempDirectory("graft-warm").toString
    Replication.stageSource(Tables.events(spark, sf).limit(100).coalesce(1), s"$root/topicA",
      "events-value", s"$root/regA", "Event")
    def run(tag: String): Seq[Int] = {
      ReplicationSpec.taskLoaders.clear()
      Replication.start(spark, FileTopicSource(s"$root/topicA", 1), FileTopicSink(s"$root/$tag"),
        s"$root/ck-$tag", "events-value", ReplicationSpec.LoaderProbe(s"$root/regA"),
        FileRegistryRef(s"$root/reg-$tag"), idField = "event_id", availableNow = true)
        .awaitTermination(120000)
      assert(Replication.readCommitted(spark, s"$root/$tag").count() === 100)
      ReplicationSpec.taskLoaders.asScala.toSeq
    }
    val first = run("warm")
    val compiled = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val second = run("second")
    assert(CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiled === 0,
      "a warm stream start must find every generated class in the cache")
    assert(first.nonEmpty && second.nonEmpty, "each start must open its source registry in a task")
    assert((first ++ second).distinct.size === 1, s"task class loaders: $first then $second")
  }

  /** key → the body after the frame header, of a replicated target topic. */
  private def targetBodies(targetDir: String): Map[String, Seq[Byte]] =
    Replication.readCommitted(spark, targetDir).select("key", "value").collect()
      .map(r => r.getString(0) -> body(r.getAs[Array[Byte]](1))).toMap

  private def body(wire: Array[Byte]): Seq[Byte] =
    wire.drop(WireFormat.locate(wire)._2).toSeq

  test("writer == reader: replicated events bodies are byte-identical to the source's") {
    val env = freshEnv()
    val events = Tables.events(spark, sf).limit(200).cache()
    val schemaJson = Replication.stageSource(
      events, env.topics.sourceDir, "events-value", env.sourceReg, "Event")
    val source = spark.read.parquet(env.topics.sourceDir)
      .select(AvroFunctions.fromAvroWire(col("value"), schemaJson, env.sourceReg)
        .getField("event_id").cast("string"), col("value"))
      .collect().map(r => r.getString(0) -> body(r.getAs[Array[Byte]](1))).toMap
    assert(source.size === 200)
    Replication.start(spark, env.topics, "events-value", env.sourceReg, env.targetReg,
      idField = "event_id", maxFilesPerTrigger = 8).awaitTermination(120000)
    assert(targetBodies(env.topics.targetDir) === source)
  }

  test("writer == reader: the Avro type mix replicates byte-identically") {
    import org.apache.avro.Schema
    import org.apache.avro.generic.GenericData
    import spark.implicits._
    val root = Files.createTempDirectory("graft-mix").toString
    val schema = new Schema.Parser().parse(
      """{"type":"record","name":"Mix","namespace":"graft.test","fields":[
        |  {"name":"id","type":"long"},
        |  {"name":"color","type":{"type":"enum","name":"Color","symbols":["RED","GREEN"]}},
        |  {"name":"fp","type":{"type":"fixed","name":"FP4","size":4}},
        |  {"name":"amount","type":{"type":"bytes","logicalType":"decimal","precision":10,"scale":2}},
        |  {"name":"tags","type":{"type":"array","items":"long"}},
        |  {"name":"attrs","type":{"type":"map","values":"string"}},
        |  {"name":"inner","type":{"type":"record","name":"Inner","fields":[
        |    {"name":"x","type":["null","string"],"default":null}]}},
        |  {"name":"payload","type":["null","long","string",
        |    {"type":"record","name":"P","fields":[{"name":"y","type":"double"}]}]},
        |  {"name":"ts","type":{"type":"long","logicalType":"timestamp-millis"}}]}""".stripMargin)
    val id = new FileSchemaRegistry(s"$root/regA").register("mix-value", schema)
    def field(name: String) = schema.getField(name).schema()
    val source = (0L until 60L).map { i =>
      val rec = new GenericData.Record(schema)
      rec.put("id", i)
      rec.put("color", new GenericData.EnumSymbol(field("color"), if (i % 2 == 0) "RED" else "GREEN"))
      rec.put("fp", new GenericData.Fixed(field("fp"), Array[Byte](1, 2, i.toByte, (-i).toByte)))
      rec.put("amount", java.nio.ByteBuffer.wrap(
        java.math.BigInteger.valueOf(12345L - 997L * i).toByteArray))
      rec.put("tags", java.util.Arrays.asList((0L until i % 4).map(t => Long.box(t - i)): _*))
      // maps of at most one entry: a longer map's order on the wire is
      // the decoder's hash-map order, not the producer's
      val attrs = new java.util.HashMap[String, String]()
      if (i % 3 != 0) attrs.put(s"k$i", s"v\u00e9\u2713$i")
      rec.put("attrs", attrs)
      val inner = new GenericData.Record(field("inner"))
      inner.put("x", if (i % 5 == 0) null else s"deep$i")
      rec.put("inner", inner)
      rec.put("payload", (i % 4).toInt match {
        case 0 => null
        case 1 => Long.box(i * 1000003L)
        case 2 => s"p$i"
        case _ =>
          val p = new GenericData.Record(field("payload").getTypes.get(3))
          p.put("y", i / 7.0)
          p
      })
      rec.put("ts", Long.box(-1500L - 86400000L * i)) // pre-epoch millis
      i.toString -> WireFormat.frame(id, AvroCodec.encode(rec, schema))
    }
    spark.sparkContext.parallelize(source.map(_._2), 3).toDF("value")
      .write.parquet(s"$root/topicA")
    Replication.start(spark,
      FileTopicSource(s"$root/topicA", 8), FileTopicSink(s"$root/topicB"),
      s"$root/ck", "mix-value",
      FileRegistryRef(s"$root/regA"), FileRegistryRef(s"$root/regB"),
      idField = "id", availableNow = true).awaitTermination(120000)
    assert(targetBodies(s"$root/topicB") === source.map { case (k, w) => k -> body(w) }.toMap)
  }

  test("missing source topic is fatal (R9)") {
    val env = freshEnv()
    assertThrows[IllegalArgumentException] {
      Replication.start(spark, env.topics, "nope", env.sourceReg, env.targetReg)
    }
  }

  // The registry is a seam: the pipeline must run unchanged over
  // content-addressed fingerprint ids and Confluent-style per-registry
  // monotonic ids — in the latter case re-framing values with the TARGET
  // registry's own id (the reference's schema-replication id mapping).
  Seq[(String, String => RegistryRef, Byte)](
    ("fingerprint-file", FileRegistryRef(_), WireFormat.GraftMagic),
    ("confluent", ConfluentRegistryRef(_), WireFormat.ConfluentMagic)
  ).foreach { case (kind, mkReg, magic) =>
    test(s"replication over $kind registries re-frames with the target's id") {
      val root = Files.createTempDirectory(s"graft-reg-$kind").toString
      val events = Tables.events(spark, sf).limit(50).cache()
      val schemaJson = Replication.stageSource(
        events, s"$root/topicA", "events-value", mkReg(s"$root/regA"), "Event")

      Replication.start(spark,
        FileTopicSource(s"$root/topicA", 8), FileTopicSink(s"$root/topicB"),
        s"$root/ck", "events-value", mkReg(s"$root/regA"), mkReg(s"$root/regB"),
        idField = "event_id", availableNow = true).awaitTermination(120000)

      val tgtReg = mkReg(s"$root/regB").open()
      val tgtId = tgtReg.latest("events-value").map(_._1)
      assert(tgtId.isDefined, "schema must be replicated into the target registry")
      val wire = Replication.readCommitted(spark, s"$root/topicB")
        .select("value").collect().map(_.getAs[Array[Byte]](0))
      assert(wire.length === 50)
      wire.foreach { bytes =>
        assert(bytes(0) === magic, s"$kind framing magic")
        val (id, body) = WireFormat.unframe(bytes)
        assert(id === tgtId.get, "values must carry the TARGET registry's id")
        assert(body.nonEmpty)
      }
      val out = Replication.readCommitted(spark, s"$root/topicB")
        .select(AvroFunctions.fromAvroWire(
          col("value"), schemaJson, mkReg(s"$root/regB")).as("r"))
        .select(col("r.*"))
      assert(out.exceptAll(events).isEmpty && events.exceptAll(out).isEmpty)
    }
  }

  test("replication runs end-to-end over HTTP registries (Confluent REST)") {
    import graft.avro.{ConfluentFileRegistry, ConfluentHttpRegistryRef, ConfluentHttpServer}
    val root = Files.createTempDirectory("graft-http").toString
    val (srcServer, srcUrl) = ConfluentHttpServer.serve(
      new ConfluentFileRegistry(s"$root/regA"))
    val (tgtServer, tgtUrl) = ConfluentHttpServer.serve(
      new ConfluentFileRegistry(s"$root/regB"))
    try {
      val events = Tables.events(spark, sf).limit(40).cache()
      val schemaJson = Replication.stageSource(events, s"$root/topicA",
        "events-value", ConfluentHttpRegistryRef(srcUrl), "Event")
      Replication.start(spark,
        FileTopicSource(s"$root/topicA", 8), FileTopicSink(s"$root/topicB"),
        s"$root/ck", "events-value",
        ConfluentHttpRegistryRef(srcUrl), ConfluentHttpRegistryRef(tgtUrl),
        idField = "event_id", availableNow = true).awaitTermination(120000)
      val out = Replication.readCommitted(spark, s"$root/topicB")
        .select(AvroFunctions.fromAvroWire(
          col("value"), schemaJson, ConfluentHttpRegistryRef(tgtUrl)).as("r"))
        .select(col("r.*"))
      assert(out.count() === 40)
      assert(out.exceptAll(events).isEmpty && events.exceptAll(out).isEmpty)
      // the schema really was replicated over HTTP into the target registry
      assert(new ConfluentFileRegistry(s"$root/regB").latest("events-value").isDefined)
    } finally { srcServer.stop(0); tgtServer.stop(0) }
  }

  test("replication preserves a general-union subject schema end-to-end") {
    // The subject schema is NOT a fixed point of the StructType→Avro
    // derivation (general union): the replicator must re-encode under the
    // registry schema the target id names, not a derived one.
    import org.apache.avro.Schema
    val root = Files.createTempDirectory("graft-union-repl").toString
    val unionJson =
      """{"type":"record","name":"UEvent","namespace":"graft","fields":[
        |  {"name":"event_id","type":"long"},
        |  {"name":"payload","type":["long","string"]}]}""".stripMargin
    val parsed = new Schema.Parser().parse(unionJson)
    val srcId = new graft.avro.FileSchemaRegistry(s"$root/regA").register("u-value", parsed)

    val ev = Tables.events(spark, sf).limit(30).cache()
    val tag = pmod(col("event_id"), lit(2)).cast("int")
    val rec = struct(col("event_id"), struct(
      tag.as("_tag"),
      when(tag === 0, col("user_id")).as("member0"),
      when(tag === 1, col("event_type")).as("member1")).as("payload"))
    ev.select(AvroFunctions.toAvroWireWithSchema(rec, srcId, unionJson).as("value"))
      .write.parquet(s"$root/topicA")

    Replication.start(spark,
      FileTopicSource(s"$root/topicA", 8), FileTopicSink(s"$root/topicB"),
      s"$root/ck", "u-value",
      FileRegistryRef(s"$root/regA"), FileRegistryRef(s"$root/regB"),
      idField = "event_id", availableNow = true).awaitTermination(120000)

    val out = Replication.readCommitted(spark, s"$root/topicB")
      .select(AvroFunctions.fromAvroWire(
        col("value"), unionJson, FileRegistryRef(s"$root/regB")).as("r"))
      .select(col("r.event_id").as("event_id"),
        col("r.payload._tag").as("tag"),
        col("r.payload.member0").as("m_long"),
        col("r.payload.member1").as("m_str"))
    val expected = ev.select(col("event_id"), tag.as("tag"),
      when(tag === 0, col("user_id")).as("m_long"),
      when(tag === 1, col("event_type")).as("m_str"))
    assert(out.count() === 30)
    assert(out.exceptAll(expected).isEmpty && expected.exceptAll(out).isEmpty,
      "union branches must survive decode → re-encode → decode")
  }

  test("mixed-schema-version topic replicates with per-record writer resolution") {
    // The reference's core value prop: a topic whose records were produced
    // under DIFFERENT schema versions replicates correctly because each
    // record's writer schema is resolved from its framed id, then read
    // under the subject's latest schema (v1 records get v2's defaults).
    import org.apache.avro.Schema
    import org.apache.avro.generic.GenericData
    import spark.implicits._
    val root = Files.createTempDirectory("graft-mixed").toString
    import EvoFixture.{v1, v2}
    val reg = new graft.avro.FileSchemaRegistry(s"$root/regA")
    val id1 = reg.register("evo-value", v1)
    val id2 = reg.register("evo-value", v2) // latest

    def enc(schema: Schema, id: Long, fill: GenericData.Record => Unit): Array[Byte] = {
      val rec = new GenericData.Record(schema)
      fill(rec)
      graft.avro.WireFormat.frame(id, graft.avro.AvroCodec.encode(rec, schema))
    }
    val wire = (0L until 10L).map(i => enc(v1, id1, _.put("id", i))) ++
      (10L until 20L).map(i => enc(v2, id2, r => { r.put("id", i); r.put("source", s"s$i") }))
    wire.toDF("value").write.parquet(s"$root/topicA")

    Replication.start(spark,
      FileTopicSource(s"$root/topicA", 4), FileTopicSink(s"$root/topicB"),
      s"$root/ck", "evo-value",
      FileRegistryRef(s"$root/regA"), FileRegistryRef(s"$root/regB"),
      idField = "id", availableNow = true).awaitTermination(120000)

    val out = Replication.readCommitted(spark, s"$root/topicB")
      .select(col("key"), AvroFunctions.fromAvroWire(
        col("value"), v2.toString, FileRegistryRef(s"$root/regB")).as("r"))
      .select(col("key"), col("r.id"), col("r.source"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getString(2))).sortBy(_._2)
    assert(out.length === 20)
    // v1 records carry v2's default; v2 records keep their value; key==id
    out.foreach { case (k, id, src) =>
      assert(k === id.toString)
      if (id < 10) assert(src === "legacy") else assert(src === s"s$id")
    }
  }

  test("poison records route to the dead-letter topic without failing the stream") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft-dlq").toString
    val events = Tables.events(spark, sf).limit(20).cache()
    Replication.stageSource(events, s"$root/topicA", "events-value",
      s"$root/regA", "Event")
    // two poison records: bad magic, and a valid-magic frame with an
    // unknown schema id
    Seq(Array[Byte](99, 1, 2, 3, 4, 5, 6, 7, 8, 9),
        graft.avro.WireFormat.frame(424242L, Array[Byte](1, 2, 3)))
      .toDF("value").write.mode("append").parquet(s"$root/topicA")

    def run() = Replication.start(spark,
      FileTopicSource(s"$root/topicA", 8), FileTopicSink(s"$root/topicB"),
      s"$root/ck", "events-value",
      FileRegistryRef(s"$root/regA"), FileRegistryRef(s"$root/regB"),
      idField = "event_id", availableNow = true,
      deadLetter = Some(FileTopicSink(s"$root/dlq"))).awaitTermination(120000)
    run()

    val good = Replication.readCommitted(spark, s"$root/topicB")
    assert(good.count() === 20, "all valid records replicate")
    val dead = Replication.readCommitted(spark, s"$root/dlq")
    assert(dead.count() === 2, "both poison records land in the DLQ")
    val errs = dead.select("err").collect().map(_.getString(0))
    assert(errs.exists(_.contains("magic")), s"framing error captured: ${errs.toSeq}")
    assert(errs.exists(_.contains("424242")), s"unknown-id error captured: ${errs.toSeq}")

    // restart: exactly-once holds for both sinks
    run()
    assert(Replication.readCommitted(spark, s"$root/topicB").count() === 20)
    assert(Replication.readCommitted(spark, s"$root/dlq").count() === 2)
  }

  test("two-hop chain A→B→C over read-committed streaming is exact under restart") {
    val root = Files.createTempDirectory("graft-chain").toString
    val events = Tables.events(spark, sf).limit(120).cache()
    val schemaJson = Replication.stageSource(
      events, s"$root/topicA", "events-value", s"$root/regA", "Event")

    Replication.start(spark,
      FileTopicSource(s"$root/topicA", 4), FileTopicSink(s"$root/topicB"),
      s"$root/ckB", "events-value",
      FileRegistryRef(s"$root/regA"), FileRegistryRef(s"$root/regB"),
      idField = "event_id", availableNow = true).awaitTermination(120000)

    // hop 2 consumes B with read-committed visibility (atomic rename commits)
    def startBC() = Replication.start(spark,
      CommittedTopicSource(s"$root/topicB", maxFilesPerTrigger = 1),
      FileTopicSink(s"$root/topicC"), s"$root/ckC", "events-value",
      FileRegistryRef(s"$root/regB"), FileRegistryRef(s"$root/regC"),
      idField = "event_id", availableNow = true)

    // kill the B→C hop at an arbitrary mid-stream point, then restart:
    // checkpoint WAL + idempotent rename-commit must land exactly-once
    val q1 = startBC()
    q1.awaitTermination(1500)
    q1.stop()
    startBC().awaitTermination(120000)

    val out = Replication.readCommitted(spark, s"$root/topicC")
      .select(AvroFunctions.fromAvroWire(
        col("value"), schemaJson, s"$root/regC").as("r"))
      .select(col("r.*"))
    assert(out.count() === 120)
    assert(out.exceptAll(events).isEmpty && events.exceptAll(out).isEmpty,
      "C must see exactly A's records, once")

    // and the chain extends: more data lands in A, both hops restart
    val more = Tables.events(spark, sf).orderBy(col("event_id").desc).limit(30).cache()
    Replication.stageSource(more, s"$root/topicA", "events-value", s"$root/regA", "Event")
    Replication.start(spark,
      FileTopicSource(s"$root/topicA", 4), FileTopicSink(s"$root/topicB"),
      s"$root/ckB", "events-value",
      FileRegistryRef(s"$root/regA"), FileRegistryRef(s"$root/regB"),
      idField = "event_id", availableNow = true).awaitTermination(120000)
    startBC().awaitTermination(120000)
    assert(Replication.readCommitted(spark, s"$root/topicC").count() === 150)
  }
}

object ReplicationSpec {
  /** Identity of the context class loader of each task that opened a [[LoaderProbe]]. */
  val taskLoaders = new java.util.concurrent.ConcurrentLinkedQueue[Int]()

  /** A file registry that notes the class loader of the task opening it. */
  final case class LoaderProbe(root: String) extends graft.avro.RegistryRef {
    def magic: Byte = WireFormat.GraftMagic
    def open(): graft.avro.SchemaRegistry = {
      if (org.apache.spark.TaskContext.get() != null)
        taskLoaders.add(System.identityHashCode(Thread.currentThread().getContextClassLoader))
      new FileSchemaRegistry(root)
    }
  }
}
