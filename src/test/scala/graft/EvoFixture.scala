package graft

import graft.avro.{AvroCodec, FileSchemaRegistry, WireFormat}
import org.apache.avro.Schema
import org.apache.avro.generic.GenericData

/** The v1/v2 schema-evolution fixture — v2 adds `source` with a default —
  * and wire values that interleave both writer versions. */
object EvoFixture {
  val v1: Schema = new Schema.Parser().parse(
    """{"type":"record","name":"Evo","fields":[
      |  {"name":"id","type":"long"}]}""".stripMargin)
  val v2: Schema = new Schema.Parser().parse(
    """{"type":"record","name":"Evo","fields":[
      |  {"name":"id","type":"long"},
      |  {"name":"source","type":"string","default":"legacy"}]}""".stripMargin)

  /** Registers v1, then v2 (the latest), under `evo-value` in the file
    * registry at `registryRoot`, and frames records 0 until n: record i is
    * written under v1 when i % 3 == 0, else under v2 with source "s<i>". */
  def interleaved(registryRoot: String, n: Int): Seq[Array[Byte]] = {
    val reg = new FileSchemaRegistry(registryRoot)
    val id1 = reg.register("evo-value", v1)
    val id2 = reg.register("evo-value", v2)
    (0 until n).map { i =>
      val (schema, id) = if (i % 3 == 0) (v1, id1) else (v2, id2)
      val rec = new GenericData.Record(schema)
      rec.put("id", i.toLong)
      if (schema eq v2) rec.put("source", s"s$i")
      WireFormat.frame(id, AvroCodec.encode(rec, schema))
    }
  }
}
