package graft.avro

import java.nio.ByteBuffer

/** Registry wire format for Avro-encoded values, modeled on the Confluent
  * framing the reference's serializers use (`application.yml:11-16`): a magic
  * byte, the schema id, then the Avro binary body. Two framings coexist,
  * dispatched by the magic byte, so the engine speaks both id schemes and the
  * fingerprint design is not load-bearing:
  *
  *  - `[0x00][int32 id][body]` — Confluent's exact layout: ids are small
  *    per-registry monotonic ints ([[ConfluentFileRegistry]]), which is what
  *    makes the reference's "schema replication" a real id-mapping problem
  *    (`README.adoc:11-12,27`)
  *  - `[0x47][int64 id][body]` — graft framing ('G'): ids are 64-bit Rabin
  *    fingerprints ([[SchemaRegistry.fingerprint]]), content-addressed and
  *    registry-independent
  */
object WireFormat {

  val GraftMagic: Byte = 0x47 // 'G'
  val ConfluentMagic: Byte = 0x00

  /** A new array of header + `bodyLength` bytes that starts with the
    * header: the magic byte, then the schema id big-endian. */
  private def withHeader(schemaId: Long, magic: Byte, bodyLength: Int): Array[Byte] = {
    val idLength = magic match {
      case GraftMagic => 8
      case ConfluentMagic =>
        require(schemaId >= 0 && schemaId <= Int.MaxValue,
          s"Confluent framing carries int32 ids, got $schemaId")
        4
      case other => throw new IllegalArgumentException(s"unknown wire magic $other")
    }
    val out = new Array[Byte](1 + idLength + bodyLength)
    out(0) = magic
    var i = idLength
    var id = schemaId
    while (i > 0) { out(i) = id.toByte; id >>= 8; i -= 1 }
    out
  }

  /** The frame header alone — magic byte, then the schema id — for a
    * writer that appends the body itself. */
  def header(schemaId: Long, magic: Byte = GraftMagic): Array[Byte] =
    withHeader(schemaId, magic, 0)

  def frame(schemaId: Long, body: Array[Byte], magic: Byte = GraftMagic): Array[Byte] = {
    val out = withHeader(schemaId, magic, body.length)
    System.arraycopy(body, 0, out, out.length - body.length, body.length)
    out
  }

  /** (schemaId, body offset) of a framed value, auto-detecting the framing
    * by magic byte; the body is `bytes` from that offset on, read in place.
    * Throws on unknown magic — a framing mismatch must fail loudly, not
    * decode garbage. */
  def locate(bytes: Array[Byte]): (Long, Int) = {
    val n = headerLength(bytes)
    (idOf(bytes, n), n)
  }

  /** (schemaId, body): [[locate]] with the body copied out. */
  def unframe(bytes: Array[Byte]): (Long, Array[Byte]) = {
    val n = headerLength(bytes)
    (idOf(bytes, n), java.util.Arrays.copyOfRange(bytes, n, bytes.length))
  }

  private def headerLength(bytes: Array[Byte]): Int = {
    require(bytes.length >= 5,
      s"not a framed Avro value (len=${bytes.length})")
    val magic = bytes(0)
    val n = magic match {
      case GraftMagic     => 9
      case ConfluentMagic => 5
      case other => throw new IllegalArgumentException(
        s"not a framed Avro value (magic=$other, len=${bytes.length})")
    }
    require(bytes.length >= n,
      s"truncated frame (magic=$magic, len=${bytes.length})")
    n
  }

  private def idOf(bytes: Array[Byte], headerLength: Int): Long = {
    val bb = ByteBuffer.wrap(bytes)
    if (headerLength == 9) bb.getLong(1) else bb.getInt(1).toLong
  }
}
