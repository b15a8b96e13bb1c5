package graft.avro

import java.nio.ByteBuffer
import java.nio.file.Paths

import graft.{Commit, LeanHadoopConf}

import org.apache.avro.Schema
import org.apache.avro.file.{CodecFactory, DataFileConstants, DataFileReader, DataFileWriter}
import org.apache.avro.generic.{GenericDatumReader, GenericDatumWriter, GenericRecord}
import org.apache.avro.io.EncoderFactory
import org.apache.avro.mapred.FsInput
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}

/** Avro Object Container File source/sink — the reference's at-rest format
  * (an Avro-centric pipeline hands you `.avro` container files: embedded
  * writer schema, deflate-compressed sync-marked blocks, splittable).
  *
  * Division of labor: this layer handles ONLY the container framing; every
  * record body is produced/consumed by the engine's Catalyst codec
  * expressions (`AvroFunctions.toAvro`/`fromAvro` — codegen'd, spec-covered
  * including unions and evolution). The sink appends PRE-ENCODED datum
  * bytes (`DataFileWriter.appendEncoded`), so no second serializer exists
  * to drift from the expression codec; the source slices each datum's RAW
  * bytes straight out of the decompressed block (a [[DatumWalker]] skip walk
  * finds the boundaries — nothing is materialized, nothing re-encoded) and
  * surfaces them as the binary `avro_value` column for `fromAvro`. That is
  * the container contract end-to-end: the writer schema travels in the
  * file header, the reader needs no registry, and exactly ONE decode
  * happens per record — inside the codegen'd expression.
  *
  * Scale shape: each file is split into byte ranges at sync markers
  * ([[DataFileReader.sync]]/`pastSync`, the format's whole point), so a
  * multi-GB container fans out across tasks instead of capping parallelism
  * at one-task-per-file; the sink publishes its output directory and
  * each part with [[graft.Commit]], the same read-committed discipline as
  * the streaming sink (`streaming/Topic.scala` FileTopicSink, mirroring
  * the reference's transactional visibility,
  * `ReplicationApplication.java:66,96-98`).
  */
object AvroOcf {

  /** Write one `.avro` container file per non-empty partition of `bin`
    * (Avro-binary records, all encoded with `schemaJson`), deflate-block
    * compressed by default (a 100 TB at-rest corpus is never stored raw).
    *
    * Commit discipline: `out` is committed as a whole by
    * [[graft.Commit.publish]], and each task commits its part with
    * [[graft.Commit.publishFile]], so a failed or second attempt never
    * half-writes a part and a mid-job failure leaves `out` absent. Like
    * every store, `write` never replaces an existing `out`: it returns
    * whether this call committed it.
    *
    * `syncInterval` (bytes, 0 = Avro's default ~64 KiB) bounds block size
    * and therefore split granularity for readers. */
  def write(bin: Dataset[Array[Byte]], schemaJson: String, out: String,
            codec: String = "deflate", syncInterval: Int = 0): Boolean = {
    val sconf = LeanHadoopConf(bin.sparkSession.sessionState.newHadoopConf())
    Commit.publish(Paths.get(out)) { staged =>
      val dir = staged.toString
      bin.foreachPartition { (it: Iterator[Array[Byte]]) =>
        if (it.hasNext) {
          val part = TaskContext.getPartitionId()
          Commit.publishFile(Paths.get(dir, f"part-$part%05d.avro")) { file =>
            val path = new Path(file.toUri)
            val schema = new Schema.Parser().parse(schemaJson)
            val w = new DataFileWriter[GenericRecord](
              new GenericDatumWriter[GenericRecord](schema))
              .setCodec(CodecFactory.fromString(codec))
            if (syncInterval > 0) w.setSyncInterval(syncInterval)
            try {
              w.create(schema, path.getFileSystem(sconf.value).create(path, false))
              it.foreach(b => w.appendEncoded(ByteBuffer.wrap(b)))
            } finally w.close()
          }
          ()
        }
      }
    }
  }

  /** The writer schema embedded in the container header of the first file
    * under `path` — the discovery step an OCF reader performs before
    * planning a resolving decode (`fromAvro(reader, writer)`): driver-side,
    * header-only, no record IO. None for an empty directory. NOTE: files
    * under one directory may carry DIFFERENT writer versions;
    * [[readBinary]] resolves per file and this helper is only the "what
    * does this corpus currently look like" probe. */
  def embeddedSchema(s: SparkSession, path: String): Option[String] = {
    val conf = s.sessionState.newHadoopConf()
    listAvro(conf, path).headOption.map { case (p, _) =>
      val reader = DataFileReader.openReader(
        new FsInput(new Path(p), conf), new GenericDatumReader[GenericRecord]())
      try reader.getSchema.toString finally reader.close()
    }
  }

  private def listAvro(conf: Configuration, path: String): Seq[(String, Long)] = {
    val root = new Path(path)
    val fs = root.getFileSystem(conf)
    if (!fs.exists(root)) Seq.empty
    else fs.listStatus(root).toSeq
      .filter(st => st.isFile && st.getPath.getName.endsWith(".avro"))
      .map(st => (st.getPath.toString, st.getLen)).sortBy(_._1)
  }

  /** Read every `.avro` file under `path` into a one-column binary
    * DataFrame (`avro_value`), splitting each file into byte ranges at
    * sync markers so multi-block containers fan out across tasks (the
    * standard OCF split contract: a task owns exactly the blocks whose
    * preceding sync marker starts inside its range).
    *
    * Schema handling is per FILE, through each container's OWN embedded
    * writer schema — the file-level analog of the per-record registry
    * resolution the topic path does:
    *  - writer == `readerSchemaJson` (or no reader schema requested and
    *    the directory is homogeneous): datum bytes are SLICED out of the
    *    decompressed block by a schema-driven skip walk — zero decode,
    *    zero re-encode; `fromAvro` downstream performs the only decode.
    *  - writer != `readerSchemaJson`: that file's records are resolved
    *    writer→reader (defaults filled, fields reordered/dropped) and
    *    re-encoded under the reader schema, so every output datum is
    *    uniformly `readerSchemaJson`-shaped regardless of which writer
    *    version produced it.
    *  - no `readerSchemaJson` and MIXED writer schemas: fails loudly —
    *    raw passthrough of heterogeneous bytes would silently mis-decode
    *    (the pre-round-8 hazard).
    *
    * `maxSplitBytes` 0 = `spark.sql.files.maxPartitionBytes`. Tolerates an
    * empty directory (empty corpus round-trip). */
  def readBinary(s: SparkSession, path: String,
                 readerSchemaJson: Option[String] = None,
                 maxSplitBytes: Long = 0L): DataFrame = {
    import s.implicits._
    val conf = s.sessionState.newHadoopConf()
    val files = listAvro(conf, path)
    val splitBytes =
      if (maxSplitBytes > 0) maxSplitBytes
      else s.conf.getOption("spark.sql.files.maxPartitionBytes")
        .map(org.apache.spark.network.util.JavaUtils.byteStringAsBytes)
        .getOrElse(128L * 1024 * 1024)
    val splits = files.flatMap { case (p, len) =>
      val n = math.max(1L, (len + splitBytes - 1) / splitBytes)
      (0L until n).map(i => (p, i * splitBytes, math.min((i + 1) * splitBytes, len)))
    }
    // the schema every output datum must conform to: the requested reader
    // schema, else the corpus's (asserted-homogeneous) embedded schema
    val targetJson = readerSchemaJson.orElse(
      embeddedSchema(s, path)).getOrElse("")
    val strict = readerSchemaJson.isEmpty
    val sconf = LeanHadoopConf(conf)
    val parallelism = math.max(1, math.min(splits.size, s.sparkContext.defaultParallelism))
    s.createDataset(splits).repartition(parallelism)
      .mapPartitions { parts =>
        val hc = sconf.value
        val target = if (targetJson.isEmpty) null
                     else new Schema.Parser().parse(targetJson)
        parts.flatMap { case (p, start, end) =>
          readSplit(hc, p, start, end, target, strict)
        }
      }
      .toDF("avro_value")
  }

  /** One split: blocks whose preceding sync marker starts in [start, end).
    * Raw-slice fast path when the file's writer schema equals `target`;
    * resolving decode + re-encode otherwise (per-file schema evolution).
    * The returned iterator is LAZY at block granularity — heap per task is
    * one decompressed block (~the sync interval), never the whole split
    * (`maxSplitBytes` × the codec's expansion ratio, the pre-round-9
    * shape). The reader closes on exhaustion; the task-completion listener
    * covers a consumer that stops early (limit / take).
    *
    * The split that owns the file's end first checks that the file ends
    * with its sync marker, as every complete container does. Avro's reader
    * takes an end of file inside a block for the end of the container, so
    * without the check a container cut mid-block reads as a shorter one. */
  private def readSplit(hc: Configuration, p: String, start: Long, end: Long,
                        target: Schema, strict: Boolean): Iterator[Array[Byte]] = {
    val in = new FsInput(new Path(p), hc)
    val reader = new DataFileReader[GenericRecord](in, new GenericDatumReader[GenericRecord]())
    Option(TaskContext.get())
      .foreach(_.addTaskCompletionListener[Unit](_ => reader.close()))
    if (end >= in.length() && !endsWithSync(hc, p, reader.previousSync(), in.length()))
      throw new java.io.IOException(s"truncated container $p: it does not end with its sync marker")
    splitIterator(reader, p, start, end, target, strict)
  }

  /** Whether the `len` bytes of `p`, whose header ends at `headerEnd`, end
    * with the sync marker that closes the header. */
  private def endsWithSync(hc: Configuration, p: String, headerEnd: Long, len: Long): Boolean = {
    val path = new Path(p)
    val in = path.getFileSystem(hc).open(path)
    try {
      val (head, tail) = (new Array[Byte](SyncSize), new Array[Byte](SyncSize))
      in.readFully(headerEnd - SyncSize, head)
      in.readFully(len - SyncSize, tail)
      java.util.Arrays.equals(head, tail)
    } finally in.close()
  }

  private val SyncSize = DataFileConstants.SYNC_SIZE

  /** Lazy datum iterator over `reader`'s blocks in [start, end) — the body
    * of [[readSplit]], split out so a spec can wrap `reader` with a
    * block-counting subclass and prove incremental consumption. Closes
    * `reader` when the last block is exhausted (close is idempotent, so
    * the task-completion close in [[readSplit]] may follow). */
  private[graft] def splitIterator(reader: DataFileReader[GenericRecord],
                                   p: String, start: Long, end: Long,
                                   target: Schema,
                                   strict: Boolean): Iterator[Array[Byte]] = {
    val writer = reader.getSchema
    if (writer != target && strict) {
      reader.close()
      throw new IllegalStateException(
        s"mixed OCF writer schemas under one directory: $p embeds a schema " +
          s"differing from the corpus head's (${target.getFullName}) — " +
          "pass readerSchemaJson to resolve per file")
    }
    reader.sync(start)
    if (writer == target) new SplitIterator(reader, end) {
      // fast path: slice raw datum bytes out of each decompressed block
      private val walker = new DatumWalker(writer)
      private var bytes: Array[Byte] = _
      private var blockStart = 0
      private var pos = 0
      private var limit = 0
      protected def loadBlock(buf: ByteBuffer): Unit = {
        bytes = buf.array()
        blockStart = buf.arrayOffset() + buf.position()
        pos = blockStart
        limit = buf.arrayOffset() + buf.limit()
      }
      protected def nextDatum(): Array[Byte] = {
        val stop = walker.skip(bytes, pos, limit)
        if (stop == DatumWalker.Malformed)
          throw new java.io.IOException(s"corrupt block in $p: the datum at offset " +
            s"${pos - blockStart} of a ${limit - blockStart}-byte block does not fit the writer schema")
        val datum = java.util.Arrays.copyOfRange(bytes, pos, stop)
        pos = stop
        datum
      }
    } else new SplitIterator(reader, end) {
      // evolution path: resolve writer -> target, re-encode under target
      private val resolving = new GenericDatumReader[GenericRecord](writer, target)
      private val datumWriter = new GenericDatumWriter[GenericRecord](target)
      private var rec: GenericRecord = _
      private var dec: org.apache.avro.io.BinaryDecoder = _
      protected def loadBlock(buf: ByteBuffer): Unit =
        dec = org.apache.avro.io.DecoderFactory.get().binaryDecoder(
          buf.array(), buf.arrayOffset() + buf.position(), buf.remaining(), null)
      protected def nextDatum(): Array[Byte] = {
        rec = resolving.read(rec, dec)
        val bos = new java.io.ByteArrayOutputStream(256)
        val enc = EncoderFactory.get().binaryEncoder(bos, null)
        datumWriter.write(rec, enc)
        enc.flush()
        bos.toByteArray
      }
    }
  }

  /** Block-at-a-time split traversal: `hasNext` pulls the NEXT block only
    * when the current one is spent, so `take(1)` on a multi-block split
    * never touches the remaining blocks and per-task heap is one
    * decompressed block. Subclasses supply the per-block cursor. */
  private abstract class SplitIterator(reader: DataFileReader[GenericRecord],
                                       end: Long) extends Iterator[Array[Byte]] {
    private var remaining = 0L
    private var done = false
    protected def loadBlock(buf: ByteBuffer): Unit
    protected def nextDatum(): Array[Byte]
    final def hasNext: Boolean = {
      while (remaining == 0L && !done) {
        if (reader.pastSync(end) || !reader.hasNext) {
          done = true
          reader.close()
        } else {
          val count = reader.getBlockCount
          loadBlock(reader.nextBlock())
          remaining = count
        }
      }
      remaining > 0L
    }
    final def next(): Array[Byte] = {
      if (!hasNext) throw new NoSuchElementException("split exhausted")
      remaining -= 1
      nextDatum()
    }
  }
}
