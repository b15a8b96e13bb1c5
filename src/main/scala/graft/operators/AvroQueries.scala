package graft.operators

import graft.{GraftQuery, Tables}
import graft.avro.{AvroFunctions, FileSchemaRegistry}
import org.apache.avro.Schema
import org.apache.spark.sql.functions._

/** The reference's own dataflow, oracle-checked in batch form: Avro
  * encode/decode (R2/R7, `application.yml:11-16`) and the id→key projection
  * (R3, `ReplicationApplication.java:71`). The streaming execution of the
  * same pipeline — micro-batches, checkpoint commit, atomic sink — lives in
  * graft.streaming.Replication and is spec-tested; these two queries prove
  * the codec and the projection against DuckDB on the driver's tables.
  */
object AvroQueries {

  private val registryDirCache =
    scala.collection.concurrent.TrieMap.empty[String, String]

  val all: Seq[GraftQuery] = Seq(

    GraftQuery(
      "q49_avro_roundtrip",
      Some("SELECT * FROM orders ORDER BY o_orderkey"),
      "Encode every orders row to Avro binary and decode it back — a " +
        "row-local projection pair with zero shuffle; the oracle equality " +
        "proves the codec (incl. timestamp-micros) is lossless. At 100 TB " +
        "this is the per-record cost of the replication path: two " +
        "expression evaluations per row, pipelined inside the scan stage."
    ) { (s, dir) =>
      val o = Tables.orders(s, dir)
      val schemaJson = AvroFunctions.writerSchemaFor(o.schema, "Order")
      o.select(AvroFunctions.toAvro(struct(o.columns.map(col): _*), "Order").as("avro_value"))
        .select(AvroFunctions.fromAvro(col("avro_value"), schemaJson).as("r"))
        .select(col("r.*"))
        .orderBy("o_orderkey")
    },

    GraftQuery(
      "q50_replication_project",
      Some("""SELECT CAST(event_id AS VARCHAR) AS key,
             |       event_id, ts, user_id, event_type, value, props
             |FROM events
             |ORDER BY event_id""".stripMargin),
      "The whole reference pipeline as one batch plan, INCLUDING the wire " +
        "format: encode + frame (magic byte + schema id — R7), then decode " +
        "with per-record registry resolution of the writer schema by the " +
        "framed id (R2), then key := value.id (R3). The writer schema is " +
        "registered exactly once (content-addressed id), mirroring 'only " +
        "the necessary Avro schema is registered' (README.adoc:11-12). " +
        "Frame + encode is ONE Catalyst expression — no UDF serialization " +
        "boundary. Row-local; partition-parallel with no exchange."
    ) { (s, dir) =>
      val ev = Tables.events(s, dir)
      val schemaJson = AvroFunctions.writerSchemaFor(ev.schema, "Event")
      val parsed = new Schema.Parser().parse(schemaJson)
      // R7: auto-registration on first produce, against a file registry the
      // decode side resolves writer schemas from. The root must be readable
      // from every executor: local masters get a driver temp dir; cluster
      // deployments point graft.registry.root at a shared/DFS path.
      // One registry dir per schema per JVM — registration is idempotent,
      // and plan-only callers must not leak a temp dir per construction.
      val registryRoot = s.conf.getOption("graft.registry.root").getOrElse(
        registryDirCache.getOrElseUpdate(schemaJson, RelationalQueries.releaseAtExit(
          java.nio.file.Files.createTempDirectory("graft-q50-registry").toString)))
      val id = new FileSchemaRegistry(registryRoot).register("events-value", parsed)
      ev.select(AvroFunctions.toAvroWire(
          struct(ev.columns.map(col): _*), id, "Event").as("avro_value"))
        .select(AvroFunctions.fromAvroWire(
          col("avro_value"), schemaJson, registryRoot).as("r"))
        .select(col("r.event_id").cast("string").as("key"), col("r.*"))
        .orderBy("event_id")
    },

    GraftQuery(
      "q225_avro_ocf_roundtrip",
      Some("""SELECT event_id, ts, user_id, event_type, value, props
             |FROM events
             |ORDER BY event_id""".stripMargin),
      "Avro Object Container File source/sink — the reference's AT-REST " +
        "format completed at the file level (q49/q50 prove the record " +
        "codec; this proves the .avro container): events encode through " +
        "the SAME codegen toAvro expression, land as deflate-compressed " +
        "sync-marked OCFs (one per partition, writer schema EMBEDDED — the " +
        "container's registry-free contract) committed by graft.Commit's " +
        "staged publish, and read back SPLIT at sync markers: each task slices " +
        "raw datum bytes out of its blocks by a schema-driven skip walk — " +
        "zero decode, zero re-encode in the container layer — and the one " +
        "real decode is the codegen fromAvro expression, so container " +
        "framing and record codec can never drift apart. Compared against " +
        "the parquet truth including the timestamp column (timestamp-" +
        "micros logical type). Staged once per corpus fingerprint like " +
        "q78/q79/q224. At 100 TB a multi-GB container fans out across " +
        "tasks instead of capping parallelism at one-per-file, and mixed " +
        "writer versions resolve per file through each embedded schema."
    ) { (s, dir) =>
      import s.implicits._
      val cols = Seq("event_id", "ts", "user_id", "event_type", "value", "props")
      val ev = Tables.events(s, dir).select(cols.map(col): _*)
      val schemaJson = AvroFunctions.writerSchemaFor(ev.schema, "Event")
      // the slot may already exist, and a commit never replaces a path:
      // the container files land in a child of the slot
      val slot = RelationalQueries.staged(s, "avro-ocf",
        graft.Tables.fingerprint(s, s"$dir/events.parquet")) { out =>
        graft.avro.AvroOcf.write(
          ev.select(AvroFunctions.toAvro(
            struct(cols.map(col): _*), "Event").as("b")).as[Array[Byte]],
          schemaJson, s"$out/ocf")
      }
      val ocfDir = s"$slot/ocf"
      graft.avro.AvroOcf.readBinary(s, ocfDir, readerSchemaJson = Some(schemaJson))
        .select(AvroFunctions.fromAvro(col("avro_value"), schemaJson).as("r"))
        .select(col("r.*"))
        .orderBy("event_id")
    },

    GraftQuery(
      "q65_avro_union",
      Some("""SELECT event_id,
             |       event_id % 3 AS tag,
             |       CASE WHEN event_id % 3 = 0 THEN user_id END AS m_long,
             |       CASE WHEN event_id % 3 = 1 THEN event_type END AS m_str,
             |       CASE WHEN event_id % 3 = 2 THEN value END AS m_dbl
             |FROM events
             |ORDER BY event_id""".stripMargin),
      "General Avro unions (beyond [\"null\",T]): a payload typed " +
        "[long,string,double] maps to a tagged struct {_tag, member0..2}, " +
        "encodes under the EXPLICIT union schema (branch picked by _tag), " +
        "and decodes back with the branch resolved per record — the data " +
        "model the reference's GenericRecord listener is implicitly generic " +
        "over (ReplicationApplication.java:63). Row-local, no shuffle; the " +
        "branch projection is a plain column reference after decode."
    ) { (s, dir) =>
      val ev = Tables.events(s, dir)
      val unionJson =
        """{"type":"record","name":"UnionEvent","namespace":"graft","fields":[
          |  {"name":"event_id","type":"long"},
          |  {"name":"payload","type":["long","string","double"]}]}""".stripMargin
      val tag = pmod(col("event_id"), lit(3)).cast("int")
      val rec = struct(col("event_id"), struct(
        tag.as("_tag"),
        when(tag === 0, col("user_id")).as("member0"),
        when(tag === 1, col("event_type")).as("member1"),
        when(tag === 2, col("value")).as("member2")).as("payload"))
      ev.select(AvroFunctions.toAvroWithSchema(rec, unionJson).as("bytes"))
        .select(AvroFunctions.fromAvro(col("bytes"), unionJson).as("r"))
        .select(col("r.event_id").as("event_id"),
          col("r.payload._tag").cast("long").as("tag"),
          col("r.payload.member0").as("m_long"),
          col("r.payload.member1").as("m_str"),
          col("r.payload.member2").as("m_dbl"))
        .orderBy("event_id")
    }
  )
}
