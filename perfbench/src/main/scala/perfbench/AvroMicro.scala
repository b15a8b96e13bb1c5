package perfbench

import graft.avro.{AvroCodec, AvroSchemaConverter, RegistryRef, WireFormat}
import org.apache.avro.generic.GenericRecord
import org.apache.spark.sql.catalyst.InternalRow

/** Single-threaded microbench of the codec steps a replicated record goes
  * through, over the workload's own staged records: unframe, decode with the
  * registry's writer schema, Avro → Catalyst, Catalyst → Avro, encode, frame.
  * Reports median ns per record over several passes (the single-core
  * baseline of the codec layer) and the framed bytes per record. */
object AvroMicro {
  val Records = 20000
  val Passes = 5
  /** Folds every result in, so the JIT cannot drop the timed calls. */
  @volatile var blackhole = 0

  def run(ctx: Ctx, topicDir: String, registry: RegistryRef): Unit = {
    val values = ctx.spark.read.parquet(topicDir).select("value").limit(Records)
      .collect().map(_.getAs[Array[Byte]](0))
    val reg = registry.open()
    val (id0, _) = WireFormat.unframe(values.head)
    val writer = reg.byId(id0).get
    val dt = AvroSchemaConverter.toStructType(writer)

    def perRecord[A](inputs: Array[A])(f: A => Any): Double = {
      var sink = 0
      val times = (1 to Passes).map { _ =>
        val t0 = System.nanoTime()
        var i = 0
        while (i < inputs.length) { sink += f(inputs(i)).hashCode; i += 1 }
        (System.nanoTime() - t0).toDouble / inputs.length
      }
      blackhole += sink
      Stats.median(times)
    }

    val bodies = values.map(v => WireFormat.unframe(v)._2)
    val recs = bodies.map(b => AvroCodec.decode(b, writer, writer))
    val rows = recs.map(r => AvroCodec.avroToCatalyst(r, writer, dt))
    val back = rows.map(r => AvroCodec.catalystToAvro(r, dt, writer).asInstanceOf[GenericRecord])
    val encoded = back.map(r => AvroCodec.encode(r, writer))
    val layers = ctx.report.layers
    layers("avro.unframe_ns") = perRecord(values)(v => WireFormat.unframe(v))
    layers("avro.decode_ns") = perRecord(bodies)(b => AvroCodec.decode(b, writer, writer))
    layers("avro.to_catalyst_ns") = perRecord(recs)(r => AvroCodec.avroToCatalyst(r, writer, dt))
    layers("avro.from_catalyst_ns") =
      perRecord(rows)(r => AvroCodec.catalystToAvro(r.asInstanceOf[InternalRow], dt, writer))
    layers("avro.encode_ns") = perRecord(back)(r => AvroCodec.encode(r, writer))
    layers("avro.frame_ns") = perRecord(encoded)(b => WireFormat.frame(id0, b, registry.magic))
    layers("avro.bytes_per_record") = values.map(_.length.toDouble).sum / values.length
  }
}
