package graft.streaming

import java.net.URI
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, NoSuchFileException, Path, Paths}
import java.nio.file.attribute.BasicFileAttributes
import java.util

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import graft.{Commit, LeanHadoopConf}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.column.ColumnReader
import org.apache.parquet.column.impl.ColumnReadStoreImpl
import org.apache.parquet.column.page.PageReadStore
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.internal.column.columnindex.OffsetIndex
import org.apache.parquet.internal.filter2.columnindex.ColumnIndexStore.MissingOffsetIndexException
import org.apache.parquet.internal.filter2.columnindex.RowRanges
import org.apache.parquet.io.api.{Converter, GroupConverter, PrimitiveConverter}
import org.apache.parquet.schema.{MessageType, Type}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability}
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, ReadMaxFiles,
  SupportsTriggerAvailableNow}
import org.apache.spark.sql.graft.StreamBridge
import org.apache.spark.sql.types.{BinaryType, LongType, StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** The one replayable micro-batch source of file topics, under both
  * [[FileTopicSource]] and [[CommittedTopicSource]].
  *
  * A topic is a sequence of segments: a source topic's files, or a
  * committed topic's parts. Each segment gets an ordinal the first time a
  * poll admits it, in the order its layout sorts new segments; a segment
  * found later is appended, never inserted before rows already consumed.
  * Admission is by whole segments, at most `maxFilesPerTrigger` a batch.
  * An offset is (segment ordinal, row), recorded in Spark's offset log.
  *
  * Each admission is published to the stream's checkpoint path as the
  * file `<n>`, one JSON line per admitted segment:
  * `{"path":"file:/…/<name>","timestamp":<mtime>,"batchId":<n>}`. That log
  * is the ordinal → segment map: a restarted stream reads it back, and a
  * batch replayed after a crash re-plans the same segments. One admission
  * is one micro-batch, so `n` is the batch id.
  *
  * A batch is planned as contiguous row ranges, `min(cores, rows /
  * MinRowsPerTask)` of them (at least one), cut across its segments in
  * order, so task i of the batch reads range i and a sink that writes
  * partition i as part i keeps source order. A task decodes only the pages
  * that hold its range (parquet's offset index) and reads under a
  * [[graft.LeanHadoopConf]].
  */
object TopicStream {

  /** The fewest rows a task is planned for: a task's fixed cost over a
    * row's cost. Measured on 4 vCPUs over the replication (task durations,
    * one-file topics, median of 5): 16 ms for a 500-row task, 20 ms for
    * 2,000 rows, 27 ms for 8,000. That is about 15 ms a task (scheduling,
    * deserialization, opening the segment, writing and publishing the
    * sink's part) and 1.5 µs a row, so a task of 10,000 rows spends as long
    * on its rows as on being a task. A 100k-row batch splits over 4 cores;
    * a 500-record poll stays one task. */
  val MinRowsPerTask = 10000L

  /** A source topic: the flat directory of parquet files `dir`, new files
    * in modification-time, then name, order. */
  private[streaming] def files(spark: SparkSession, dir: String, maxFilesPerTrigger: Int): DataFrame =
    stream(spark, SourceFiles(Paths.get(dir).toAbsolutePath.toString), maxFilesPerTrigger)

  /** A committed topic: the parts of `dir/data/batch=<n>`, in batch, then
    * part name, order, with each part's batch number as column `batch`. */
  private[streaming] def committed(spark: SparkSession, dir: String, maxFilesPerTrigger: Int): DataFrame =
    stream(spark, CommittedParts(Paths.get(dir).toAbsolutePath.toString), maxFilesPerTrigger)

  private def stream(spark: SparkSession, layout: Layout, maxFiles: Int): DataFrame = {
    require(maxFiles > 0, s"maxFilesPerTrigger must be positive: $maxFiles")
    StreamBridge.stream(spark, TopicTable(layout, maxFiles, spark.sparkContext.defaultParallelism,
      LeanHadoopConf(spark.sessionState.newHadoopConf())))
  }

  /** A segment: a file of the topic and its modification time. `batch` is
    * the committed batch it belongs to (0 for a source file). */
  private[streaming] final case class Segment(path: String, mtime: Long, batch: Long)

  /** Where a topic's segments are and how new ones sort. */
  private[streaming] sealed trait Layout extends Serializable {
    def root: String
    def schema: StructType
    /** Whether the rows carry their segment's batch as the last column. */
    def batchColumn: Boolean
    def segment(path: Path, mtime: Long): Segment
    /** The segments not yet admitted, in append order; `last` is the
      * latest admitted one. */
    def fresh(admitted: String => Boolean, last: Option[Segment]): Seq[Segment]

    /** The visible, not yet admitted data files of `dir`, by name. */
    protected def listed(dir: Path, admitted: String => Boolean): Seq[Segment] =
      if (!Files.isDirectory(dir)) Nil
      else {
        val st = Files.list(dir)
        try st.iterator().asScala
          .filter { p => val n = p.getFileName.toString; !n.startsWith(".") && !n.startsWith("_") }
          .filterNot(p => admitted(p.toString))
          .flatMap { p =>
            try {
              val a = Files.readAttributes(p, classOf[BasicFileAttributes])
              if (a.isRegularFile) Some(segment(p, a.lastModifiedTime.toMillis)) else None
            } catch { case _: NoSuchFileException => None }
          }.toSeq.sortBy(_.path)
        finally st.close()
      }
  }

  private[streaming] final case class SourceFiles(root: String) extends Layout {
    def schema: StructType = StructType(Seq(StructField("value", BinaryType)))
    def batchColumn: Boolean = false
    def segment(path: Path, mtime: Long): Segment = Segment(path.toString, mtime, 0L)
    def fresh(admitted: String => Boolean, last: Option[Segment]): Seq[Segment] =
      listed(Paths.get(root), admitted).sortBy(_.mtime) // stable: name order within an mtime
  }

  private[streaming] final case class CommittedParts(root: String) extends Layout {
    def schema: StructType = StructType(Seq(StructField("key", StringType),
      StructField("value", BinaryType), StructField("batch", LongType)))
    def batchColumn: Boolean = true
    def segment(path: Path, mtime: Long): Segment =
      Segment(path.toString, mtime, path.getParent.getFileName.toString.stripPrefix("batch=").toLong)
    /** Batches commit whole and in order, so those below the latest
      * admitted one hold nothing new. */
    def fresh(admitted: String => Boolean, last: Option[Segment]): Seq[Segment] = {
      val data = Paths.get(root, "data")
      Commit.numbered(data, "batch=").filter(_ >= last.fold(0L)(_.batch))
        .flatMap(b => listed(data.resolve(s"batch=$b"), admitted))
    }
  }

  /** Everything before row `row` of segment `segment` has been read. */
  private[streaming] final case class TopicOffset(segment: Long, row: Long) extends Offset {
    override def json(): String = s"""{"segment":$segment,"row":$row}"""
  }

  /** Rows `[from, until)` of one segment. */
  private[graft] final case class RowRange(path: String, batch: Long, from: Long, until: Long)

  /** One task's contiguous rows, in source order. */
  private[streaming] final case class Slice(ranges: Array[RowRange]) extends InputPartition

  private final case class TopicTable(layout: Layout, maxFiles: Int, cores: Int, conf: LeanHadoopConf)
      extends Table with SupportsRead {
    def name(): String = s"topic ${layout.root}"
    override def schema(): StructType = layout.schema
    def capabilities(): util.Set[TableCapability] = util.EnumSet.of(TableCapability.MICRO_BATCH_READ)
    def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = () => new Scan {
      def readSchema(): StructType = layout.schema
      override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
        new Stream(layout, maxFiles, cores, conf, localPath(checkpointLocation))
    }
  }

  private def localPath(location: String): Path = {
    val uri = new URI(location)
    if (uri.getScheme == null) Paths.get(location) else Paths.get(uri)
  }

  private val Json = new ObjectMapper()

  private final class Stream(layout: Layout, maxFiles: Int, cores: Int, conf: LeanHadoopConf, log: Path)
      extends MicroBatchStream with SupportsTriggerAvailableNow {

    /** Segment by ordinal, for every segment this checkpoint admitted. */
    private val segments = mutable.ArrayBuffer.empty[Segment]
    private val admitted = mutable.HashSet.empty[String]
    /** The first ordinal of each admission, by admission (= batch) number. */
    private val starts = mutable.ArrayBuffer.empty[Int]
    /** Under `Trigger.AvailableNow`, the segments visible when it began. */
    private var bound: Option[Set[String]] = None

    Commit.numbered(log, "").foreach { n =>
      if (n != starts.size) throw new IllegalStateException(s"admission log $log lacks entry ${starts.size}")
      starts += segments.size
      Files.readAllLines(log.resolve(n.toString), UTF_8).asScala.filter(_.nonEmpty).foreach { line =>
        val e = Json.readTree(line)
        admit(layout.segment(Paths.get(URI.create(e.get("path").asText)), e.get("timestamp").asLong))
      }
    }

    private def admit(s: Segment): Unit = { segments += s; admitted += s.path }

    def initialOffset(): Offset = TopicOffset(0, 0)
    def deserializeOffset(json: String): Offset = {
      val o = Json.readTree(json)
      TopicOffset(o.get("segment").asLong, o.get("row").asLong)
    }
    override def getDefaultReadLimit: ReadLimit = ReadLimit.maxFiles(maxFiles)
    def latestOffset(): Offset =
      throw new UnsupportedOperationException("latestOffset(Offset, ReadLimit) is the entry point")

    override def prepareForTriggerAvailableNow(): Unit =
      bound = Some(layout.fresh(admitted, segments.lastOption).map(_.path).toSet)

    override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
      val from = start.asInstanceOf[TopicOffset].segment.toInt
      if (from < segments.size) {
        // admitted before a restart, not yet run as a batch: the same batch again
        val n = starts.lastIndexWhere(_ <= from)
        TopicOffset(if (n + 1 < starts.size) starts(n + 1) else segments.size, 0)
      } else {
        val max = limit match { case m: ReadMaxFiles => m.maxFiles; case _ => Int.MaxValue }
        val next = layout.fresh(admitted, segments.lastOption)
          .filter(s => bound.forall(_.contains(s.path))).take(max)
        if (next.isEmpty) start
        else {
          val n = starts.size
          val lines = next.map(s => Json.createObjectNode().put("path", Paths.get(s.path).toUri.toString)
            .put("timestamp", s.mtime).put("batchId", n).toString)
          if (!Commit.publish(log.resolve(n.toString), lines.mkString("", "\n", "\n").getBytes(UTF_8)))
            throw new IllegalStateException(s"admission $n under $log was committed by another stream")
          starts += segments.size
          next.foreach(admit)
          TopicOffset(segments.size, 0)
        }
      }
    }

    override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
      val (s, e) = (start.asInstanceOf[TopicOffset], end.asInstanceOf[TopicOffset])
      if (e.segment > segments.size || (e.row > 0 && e.segment == segments.size))
        throw new IllegalStateException(s"offset $e is past the admission log under $log")
      val spans = (s.segment to e.segment).flatMap { k =>
        val from = if (k == s.segment) s.row else 0L
        val until = if (k == e.segment) e.row else rows(k.toInt)
        if (until > from) Some(RowRange(segments(k.toInt).path, segments(k.toInt).batch, from, until))
        else None
      }
      slices(spans, cores).map(Slice(_): InputPartition)
    }

    /** Segment `k`'s row count, from its footer. */
    private def rows(k: Int): Long = {
      val r = open(segments(k).path, conf.value)
      try r.getRecordCount finally r.close()
    }

    def createReaderFactory(): PartitionReaderFactory = Readers(layout, conf)
    def commit(end: Offset): Unit = ()
    def stop(): Unit = ()
  }

  /** `spans` cut into `min(cores, rows / MinRowsPerTask)` contiguous slices
    * (at least one) of near-equal row counts. */
  private[graft] def slices(spans: Seq[RowRange], cores: Int): Array[Array[RowRange]] = {
    val total = spans.map(r => r.until - r.from).sum
    val n = math.max(1L, math.min(cores.toLong, total / MinRowsPerTask)).toInt
    val out = Array.fill(n)(mutable.ArrayBuffer.empty[RowRange])
    var (i, done) = (0, 0L)
    spans.foreach { r =>
      var from = r.from
      while (from < r.until) {
        val cut = total * (i + 1) / n
        val take = math.min(r.until - from, cut - done)
        if (take > 0) { out(i) += r.copy(from = from, until = from + take); from += take; done += take }
        if (done == cut && i < n - 1) i += 1
      }
    }
    out.map(_.toArray)
  }

  private def open(path: String, conf: Configuration): ParquetFileReader =
    ParquetFileReader.open(HadoopInputFile.fromPath(new HPath(Paths.get(path).toUri), conf),
      HadoopReadOptions.builder(conf).build())

  private final case class Readers(layout: Layout, conf: LeanHadoopConf) extends PartitionReaderFactory {
    def createReader(p: InputPartition): PartitionReader[InternalRow] =
      new SliceReader(p.asInstanceOf[Slice].ranges, layout, conf.value)
  }

  /** The rows of a slice's ranges, in order. */
  private final class SliceReader(ranges: Array[RowRange], layout: Layout, conf: Configuration)
      extends PartitionReader[InternalRow] {
    private val fields = layout.schema.fields.dropRight(if (layout.batchColumn) 1 else 0)
    private var file: ParquetFileReader = _
    private var group: PageReadStore = _
    private var row: InternalRow = _
    private val rows = ranges.iterator.flatMap(read)

    def next(): Boolean = rows.hasNext && { row = rows.next(); true }
    def get(): InternalRow = row
    def close(): Unit = {
      closeGroup()
      if (file != null) { file.close(); file = null }
    }

    private def closeGroup(): Unit = if (group != null) { group.close(); group = null }

    private def read(r: RowRange): Iterator[InternalRow] = {
      close()
      file = open(r.path, conf)
      val fileSchema = file.getFooter.getFileMetaData.getSchema
      val present = fields.filter(f => fileSchema.containsField(f.name))
      val requested = new MessageType(fileSchema.getName,
        present.map(f => fileSchema.getType(fileSchema.getFieldIndex(f.name))).toList.asJava: util.List[Type])
      file.setRequestedSchema(requested)
      val createdBy = file.getFooter.getFileMetaData.getCreatedBy
      val starts = file.getRowGroups.asScala.map(_.getRowCount).scanLeft(0L)(_ + _).toArray
      (0 until starts.length - 1).iterator.flatMap { g =>
        val (start, end) = (starts(g), starts(g + 1))
        val (from, until) = (math.max(r.from, start) - start, math.min(r.until, end) - start)
        if (until <= from) Iterator.empty
        else {
          closeGroup()
          val (pages, skip) = readPages(g, from, until, end - start)
          group = pages
          val store = new ColumnReadStoreImpl(pages, NoConversion, requested, createdBy)
          val columns = fields.map(f =>
            if (present.contains(f)) Some(store.getColumnReader(fileSchema.getColumnDescription(Array(f.name))))
            else None)
          columns.flatten.foreach(c => (0L until skip).foreach(_ => take(c)))
          Iterator.fill((until - from).toInt)(decode(columns, r.batch))
        }
      }
    }

    /** Row group `g`'s pages that hold rows `[from, until)` of its `count`,
      * and how many leading rows of them precede `from`: none when parquet
      * left the others out, `from` when the file has no offset index. */
    private def readPages(g: Int, from: Long, until: Long, count: Long): (PageReadStore, Long) =
      if (from == 0 && until == count) (file.readRowGroup(g), 0L)
      else try (file.readFilteredRowGroup(g, rowRange(from, until, count)), 0L)
      catch { case _: MissingOffsetIndexException => (file.readRowGroup(g), from) }

    private def decode(columns: Array[Option[ColumnReader]], batch: Long): InternalRow = {
      val values = new Array[Any](columns.length + (if (layout.batchColumn) 1 else 0))
      var j = 0
      while (j < columns.length) {
        values(j) = columns(j).flatMap(take).map(b =>
          if (fields(j).dataType == StringType) UTF8String.fromBytes(b) else b).orNull
        j += 1
      }
      if (layout.batchColumn) values(j) = batch
      new GenericInternalRow(values)
    }

    /** The current value of a flat column (None for a null), then advance. */
    private def take(c: ColumnReader): Option[Array[Byte]] = {
      val v =
        if (c.getCurrentDefinitionLevel == c.getDescriptor.getMaxDefinitionLevel) Some(c.getBinary.getBytes)
        else None
      c.consume()
      v
    }
  }

  /** Rows `[from, until)` of a row group of `count` rows. `RowRanges` has no
    * public constructor for one range, so it is read off an offset index of
    * two pages whose second page is the range. */
  private def rowRange(from: Long, until: Long, count: Long): RowRanges =
    RowRanges.create(count, util.stream.IntStream.of(1).iterator(), new OffsetIndex {
      def getPageCount: Int = 2
      def getOffset(page: Int): Long = 0L
      def getCompressedPageSize(page: Int): Int = 0
      def getFirstRowIndex(page: Int): Long = if (page == 0) 0L else from
      override def getLastRowIndex(page: Int, rows: Long): Long = if (page == 0) from - 1 else until - 1
    })

  /** The column readers are read value by value; nothing is converted. */
  private object NoConversion extends GroupConverter {
    private val primitive = new PrimitiveConverter {}
    def getConverter(fieldIndex: Int): Converter = primitive
    def start(): Unit = ()
    def end(): Unit = ()
  }
}
