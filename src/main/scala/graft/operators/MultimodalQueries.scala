package graft.operators

import graft.{GraftQuery, Tables}
import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Multimodal-column pipeline (SURVEY.md §2.2 LLM surface): media as opaque
  * `binary` payloads + typed metadata, with decode/feature-extract running as
  * a typed `mapPartitions` — the Scala analogue of a Pandas-UDF/`mapInPandas`
  * stage: batch-at-a-time, partition-parallel, no driver involvement.
  *
  * The decode is a REAL pure-JVM image header parser: payloads are
  * synthesized with genuine PNG (signature + IHDR chunk) and JPEG
  * (SOI + SOF0 segment) headers, and [[parseImageDims]] recovers format,
  * width and height from the BYTES — the metadata columns are only used to
  * build the envelope, never consulted by the decoder. A production
  * deployment swaps the parser for a full codec (JNI / `mapInPandas`); the
  * batch shape, schema and partitioning are what carry to 100 TB.
  */
object MultimodalQueries {

  /** Envelope: what a media row looks like at rest (payload + metadata). */
  final case class MediaRow(doc_id: Long, payload: Array[Byte],
                            format: String, width: Int, height: Int)

  /** Extracted features; format/width/height parsed from payload bytes. */
  final case class MediaFeatures(doc_id: Long, n_bytes: Long, format: String,
                                 width: Int, height: Int, feat0: Double)

  /** Width/height/format from real image header bytes: PNG signature + IHDR
    * (width/height big-endian at offsets 16/20), or JPEG marker scan to the
    * first SOF segment (height/width big-endian at +5/+7, skipping APPn and
    * other segments by their length fields). */
  def parseImageDims(b: Array[Byte]): Option[(String, Int, Int)] = {
    def u8(i: Int): Int = b(i) & 0xff
    def be16(i: Int): Int = (u8(i) << 8) | u8(i + 1)
    def be32(i: Int): Int = (u8(i) << 24) | (u8(i + 1) << 16) | (u8(i + 2) << 8) | u8(i + 3)
    val pngSig = Array(0x89, 0x50, 0x4e, 0x47, 0x0d, 0x0a, 0x1a, 0x0a)
    if (b.length >= 24 && pngSig.indices.forall(i => u8(i) == pngSig(i)) &&
        new String(b, 12, 4, "US-ASCII") == "IHDR") {
      Some(("png", be32(16), be32(20)))
    } else if (b.length >= 4 && u8(0) == 0xff && u8(1) == 0xd8) {
      var i = 2
      while (i + 1 < b.length && u8(i) == 0xff) {
        val marker = u8(i + 1)
        // SOF0..SOF15 carry dimensions; C4/C8/CC are DHT/JPG/DAC, not SOFs
        if (marker >= 0xc0 && marker <= 0xcf &&
            marker != 0xc4 && marker != 0xc8 && marker != 0xcc)
          return if (i + 8 < b.length) Some(("jpeg", be16(i + 7), be16(i + 5)))
            else None // SOF present but dims truncated
        if (marker == 0xff) i += 1 // fill byte: 0xFF padding before a marker
        else if (marker == 0x01 || (marker >= 0xd0 && marker <= 0xd9))
          i += 2 // standalone markers (TEM, RSTn, SOI, EOI) carry no length
        else if (i + 3 < b.length)
          i += 2 + be16(i + 2) // next marker: 2 marker bytes + segment length
        else return None // length field truncated
      }
      None
    } else None
  }

  /** The decode stage: parses dims/format out of the bytes, derives the rest
    * arithmetically (deterministic, so the oracle can recompute it). */
  def decodeImage(r: MediaRow): MediaFeatures = {
    val (fmt, w, h) = parseImageDims(r.payload).getOrElse(("unknown", -1, -1))
    val n = r.payload.length.toLong
    // feat0 left unrounded here; the query rounds with Spark's round() so
    // rounding semantics match the DuckDB oracle exactly.
    MediaFeatures(r.doc_id, n, fmt, w, h, (n % 256) / 255.0)
  }

  /** Header sizes of the synthesized payloads (oracle mirrors these). */
  val PngHeaderLen = 33  // 8 sig + 4 len + 4 "IHDR" + 4 w + 4 h + 5 IHDR body + 4 CRC
  val JpegHeaderLen = 21 // 2 SOI + 2 SOF0 + 2 len + 1 precision + 2 h + 2 w + 1 ncomp + 9 comps

  /** Big-endian byte packing as a column: int → fixed-width hex → bytes. */
  private def be(c: Column, hexDigits: Int): Column = unhex(lpad(hex(c), hexDigits, "0"))

  /** The synthesized media payload over a documents row — real PNG IHDR /
    * JPEG SOF0 header bytes followed by the document text as the "image
    * data". ONE definition shared by q51 (decode/feature-extract) and q252
    * (byte-shingle near-dup), so the envelope format and its dedup index
    * move together. */
  private[graft] def mediaPayload: Column = {
    val width = (col("n_chars") % 640).cast("int")
    val height = (col("n_chars") % 480).cast("int")
    // PNG: signature, IHDR length (13), "IHDR", w, h, bit depth 8, color
    // type 6, compression/filter/interlace 0, dummy CRC — then the "image
    // data" (document text standing in for pixels).
    val png = concat(
      unhex(lit("89504E470D0A1A0A0000000D49484452")),
      be(width, 8), be(height, 8),
      unhex(lit("080600000000000000")),
      encode(col("text"), "utf-8"))
    // JPEG: SOI, SOF0 with length 17, precision 8, h, w, 3 components.
    val jpeg = concat(
      unhex(lit("FFD8FFC0001108")),
      be(height, 4), be(width, 4),
      unhex(lit("03011100021101031101")),
      encode(col("text"), "utf-8"))
    when(col("doc_id") % 2 === 0, png).otherwise(jpeg)
  }

  /** The media envelope's bytes in the oracles' dialect: `hp` rebuilds
    * [[mediaPayload]] as a hex string, `bt(doc_id, bv)` is its byte list —
    * ONE prologue shared by the q252 (shingle) and q253 (chunk) oracles so
    * the envelope replay can never drift between them. */
  private def mediaBytesSqlCtes: String =
    // concat() instead of the || operator: this fragment is interpolated
    // into templates that apply their OWN stripMargin, which would eat the
    // first pipe of a line-leading `||`
    s"""hp AS (
       |  SELECT doc_id,
       |         concat(CASE WHEN doc_id % 2 = 0
       |              THEN concat('89504E470D0A1A0A0000000D49484452',
       |                   lpad(hex(n_chars % 640), 8, '0'),
       |                   lpad(hex(n_chars % 480), 8, '0'),
       |                   '080600000000000000')
       |              ELSE concat('FFD8FFC0001108',
       |                   lpad(hex(n_chars % 480), 4, '0'),
       |                   lpad(hex(n_chars % 640), 4, '0'),
       |                   '03011100021101031101')
       |         END, hex(encode(text))) AS h
       |  FROM documents
       |), ch AS (
       |  SELECT doc_id, string_split(h, '') c FROM hp
       |), bt AS (
       |  SELECT doc_id,
       |         list_transform(range(1, len(c)//2 + 1), i ->
       |           CAST((ascii(c[2*i-1]) - 48
       |             - CASE WHEN ascii(c[2*i-1]) >= 65 THEN 7 ELSE 0 END) * 16
       |           + ascii(c[2*i]) - 48
       |             - CASE WHEN ascii(c[2*i]) >= 65 THEN 7 ELSE 0 END
       |           AS BIGINT)) AS bv
       |  FROM ch
       |)""".stripMargin

  /** q253's expected chunk length in bytes (the CDC boundary divisor). */
  private[graft] val CdcDivisor = 64L

  /** q257's per-batch pixel budget (the packing cut). */
  private[graft] val PackPxBudget = 1048576L

  /** The q252 replay in CTE form — byte-shingle extraction from the hex
    * envelope, then the SHARED SimHash banding CTEs, ending at `sp(doc_a,
    * doc_b, hamming)`. ONE copy serves q252, the q260 cross-modal
    * consensus and the q263 scoreboard. */
  private def mediaSimhashPairCtes: String =
    s"""WITH $mediaBytesSqlCtes, sh AS (
       |  SELECT doc_id,
       |         unnest(list_distinct(list_transform(range(1, len(bv) - 6),
       |           j -> list_reduce(bv[j:j+7],
       |                  (a, x) -> (a * 256 + x)
       |                    % ${DedupQueries.ShingleP})))) AS s
       |  FROM bt WHERE len(bv) >= 8
       |), params(i, a, b) AS (VALUES ${DedupQueries.affineParamsSql}),
       |${DedupQueries.simhashBandPairCtes}""".stripMargin

  private def mediaSimhashOracleSql: String =
    s"""$mediaSimhashPairCtes
       |SELECT doc_a, doc_b, hamming FROM sp
       |ORDER BY doc_a, doc_b""".stripMargin

  /** q253's containment floor: a pair reports when the smaller doc shares
    * at least half its distinct chunks with the other. */
  private[graft] val CdcContainmentFloorPpm = 500000L

  /** The q275/q276 ground-truth universe bound: the sweep's most
    * permissive cap. Ground truth for the cap dial family is the index
    * the DEEPEST swept cap builds (the LSH table dial's full-width-row
    * pattern) — chunks more frequent than every swept cap are boilerplate
    * BY THE SWEEP'S OWN DEFINITION, excluded from the reference universe
    * with explicit `gt_excluded_cfps` accounting. The bound doubles as
    * the cost guard: every ground-truth bucket holds ≤ this many docs,
    * so the exact pass is linear in df-bounded chunk mass, never
    * quadratic in a saturated bucket. (Declared before `all`: the oracle
    * CTEs interpolate it at object init.) */
  private[graft] val CdcGtCap: Int = DedupQueries.CapSweep.max

  /** The CDC chunk universe in the oracles' dialect, appended after
    * [[mediaBytesSqlCtes]]: `chunki` (one row per chunk INSTANCE — what a
    * non-deduplicating store would persist), `chunks` (DISTINCT fps per
    * doc) and `fdf` (per-fp corpus document frequency). ONE copy serves
    * the q253 pairing, the q254 audit, the q275 scoreboard and the q276
    * dial so the boundary replay can never drift between them. */
  private def cdcChunkSqlCtes: String =
    s"""pos AS (
       |  SELECT doc_id, bv, unnest(range(1, len(bv) + 1)) AS i FROM bt
       |), cid AS (
       |  SELECT doc_id, i, bv[i] AS byte,
       |         coalesce(sum(CASE WHEN i >= 8 AND
       |             list_reduce(bv[i-7:i],
       |               (a, x) -> (a * 256 + x) % ${DedupQueries.ShingleP})
       |               % $CdcDivisor = 0 THEN 1 ELSE 0 END)
       |           OVER (PARTITION BY doc_id ORDER BY i
       |                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
       |           0) AS chunk_id
       |  FROM pos
       |), chunki AS (
       |  SELECT doc_id, chunk_id,
       |         list_reduce(list(byte ORDER BY i),
       |           (a, x) -> (a * 256 + x) % ${DedupQueries.ShingleP}) AS cfp
       |  FROM cid GROUP BY doc_id, chunk_id
       |), chunks AS (
       |  SELECT DISTINCT doc_id, cfp FROM chunki
       |), fdf AS (
       |  SELECT cfp, count(*) AS df FROM chunks GROUP BY cfp
       |)""".stripMargin

  /** q253's informative-universe pairing in CTE form, appended after
    * [[cdcChunkSqlCtes]] — df cutoff (intersections AND sizes), in-bucket
    * id pairing, containment cut — ending at `cpair(doc_a, doc_b, shared,
    * containment_ppm)`. ONE copy serves q253 and the q275 scoreboard's
    * grading side. */
  private def cdcPairSqlCtes: String =
    s"""surv AS (
       |  SELECT c.doc_id, c.cfp, fdf.df FROM chunks c JOIN fdf USING (cfp)
       |  WHERE df <= ${DedupQueries.MaxBucket}
       |), ssz AS (
       |  SELECT doc_id, count(*) n FROM surv GROUP BY doc_id
       |), p2 AS (
       |  SELECT a.doc_id doc_a, b.doc_id doc_b,
       |         CAST(count(*) AS BIGINT) shared
       |  FROM surv a JOIN surv b
       |    ON a.cfp = b.cfp AND a.doc_id < b.doc_id
       |  WHERE a.df >= 2
       |  GROUP BY 1, 2
       |), cpair AS (
       |  SELECT doc_a, doc_b, shared,
       |         CAST(1000000 * shared // least(sa.n, sb.n) AS BIGINT)
       |           AS containment_ppm
       |  FROM p2 JOIN ssz sa ON sa.doc_id = p2.doc_a
       |          JOIN ssz sb ON sb.doc_id = p2.doc_b
       |  WHERE 1000000 * shared // least(sa.n, sb.n)
       |          >= $CdcContainmentFloorPpm
       |)""".stripMargin

  /** The ground-truth chunk universe in the oracles' dialect, appended
    * after [[cdcChunkSqlCtes]]: `chf` (the df ≤ [[CdcGtCap]] universe, df
    * riding along) and `szr` (per-doc sizes over it) — q275/q276's exact
    * side: the index the deepest swept cap builds. */
  private def cdcGtSqlCtes: String =
    s"""chf AS (
       |  SELECT c.doc_id, c.cfp, fdf.df FROM chunks c JOIN fdf USING (cfp)
       |  WHERE df <= $CdcGtCap
       |), szr AS (
       |  SELECT doc_id, count(*) nr FROM chf GROUP BY doc_id
       |)""".stripMargin

  val all: Seq[GraftQuery] = Seq(

    GraftQuery(
      "q51_multimodal_features",
      Some(s"""SELECT doc_id,
             |       CAST(octet_length(encode(text)) +
             |            CASE WHEN doc_id % 2 = 0 THEN $PngHeaderLen ELSE $JpegHeaderLen END
             |         AS BIGINT) AS n_bytes,
             |       CASE WHEN doc_id % 2 = 0 THEN 'png' ELSE 'jpeg' END AS format,
             |       CAST(n_chars % 640 AS INT) AS width,
             |       CAST(n_chars % 480 AS INT) AS height,
             |       round(((octet_length(encode(text)) +
             |               CASE WHEN doc_id % 2 = 0 THEN $PngHeaderLen ELSE $JpegHeaderLen END)
             |              % 256) / 255.0, 4) AS feat0
             |FROM documents
             |ORDER BY doc_id""".stripMargin),
      "Binary media envelope + typed mapPartitions feature extraction, with " +
        "a REAL byte-level decoder: payloads carry genuine PNG IHDR / JPEG " +
        "SOF0 headers and the decode stage parses format/width/height from " +
        "the bytes (metadata columns are never consulted). Payloads are " +
        "opaque bytes to Catalyst, so scans that don't touch them never " +
        "read them (column pruning). Extraction is batch-at-a-time per " +
        "partition — the shape that hosts a full codec at 100 TB, where " +
        "payload bytes dominate I/O and the decode stage is sized by " +
        "`maxPartitionBytes`."
    ) { (s, dir) =>
      import s.implicits._
      val width = (col("n_chars") % 640).cast("int")
      val height = (col("n_chars") % 480).cast("int")
      val media = Tables.documents(s, dir).select(
        col("doc_id"),
        mediaPayload.as("payload"),
        when(col("doc_id") % 2 === 0, "png").otherwise("jpeg").as("format"),
        width.as("width"),
        height.as("height"))
        .as[MediaRow]
      media
        .mapPartitions(_.map(decodeImage))
        .toDF()
        .withColumn("feat0", round(col("feat0"), 4))
        .orderBy("doc_id")
    },

    GraftQuery(
      "q68_multimodal_framesample",
      Some("""WITH f AS (
             |  SELECT doc_id,
             |         unnest(range(0, doc_id % 5 + 2, 2)) AS frame_idx
             |  FROM documents
             |)
             |SELECT doc_id, frame_idx,
             |       16 * ((doc_id * 31 + frame_idx) % 256) AS digest
             |FROM f
             |ORDER BY doc_id, frame_idx""".stripMargin),
      "Frame sampling over a video-style container: the payload is a real " +
        "byte structure (4-byte big-endian frame count + fixed 16-byte " +
        "frames) and the mapPartitions stage parses the header, strides " +
        "every 2nd frame, and digests the sampled frames' actual bytes — " +
        "one input row fans out to a variable number of output rows, the " +
        "batch shape of video decode. Resize/transcode slot into the same " +
        "stage (payload→payload instead of payload→rows). At 100 TB the " +
        "frame stride is the knob that cuts decode I/O before anything " +
        "downstream sees the data; payloads stay column-pruned until this " +
        "stage touches them."
    ) { (s, dir) =>
      import s.implicits._
      val nf = (col("doc_id") % 5 + 2).cast("int")
      // frame j: 16 repeated bytes of (doc_id*31 + j) % 256
      val frames = aggregate(
        transform(sequence(lit(0), nf - 1), j =>
          unhex(repeat(lpad(hex(pmod(col("doc_id") * 31 + j, lit(256))), 2, "0"), 16))),
        lit(Array.empty[Byte]),
        (acc, f) => concat(acc, f))
      val videos = Tables.documents(s, dir)
        .select(col("doc_id"),
          concat(unhex(lpad(hex(nf), 8, "0")), frames).as("payload"))
        .as[VideoRow]
      videos.mapPartitions(_.flatMap(sampleFrames(_, stride = 2)))
        .toDF()
        .orderBy("doc_id", "frame_idx")
    },

    GraftQuery(
      "q116_audio_envelope",
      Some("""WITH a AS (
             |  SELECT doc_id,
             |         CAST(octet_length(encode(text)) AS BIGINT) AS data_size,
             |         CASE doc_id % 3 WHEN 0 THEN 16000 WHEN 1 THEN 22050
             |                         ELSE 44100 END AS sample_rate,
             |         1 + doc_id % 2 AS channels
             |  FROM documents
             |)
             |SELECT doc_id, CAST(sample_rate AS BIGINT) AS sample_rate,
             |       CAST(channels AS BIGINT) AS channels,
             |       CAST(data_size // (channels * 2) AS BIGINT) AS n_frames,
             |       CAST((data_size // (channels * 2)) * 1000000 // sample_rate
             |         AS BIGINT) AS duration_micros
             |FROM a
             |ORDER BY doc_id""".stripMargin),
      "Audio envelope — the third media modality next to q51's images and " +
        "q68's video: payloads are genuine RIFF/WAVE files (RIFF size, " +
        "fmt chunk with PCM format/channels/sample-rate/byte-rate/block-" +
        "align, an optional LIST chunk, then data) and the decode stage " +
        "is a real chunk WALKER — it skips unknown chunks by their " +
        "declared little-endian sizes (every fifth payload carries a " +
        "LIST chunk between fmt and data to keep the walker honest) and " +
        "recovers sample rate, channel count, frame count and duration " +
        "from the BYTES; metadata columns only build the envelope. " +
        "Duration is integer micros (frames·1e6 div rate) — exact cross-" +
        "engine, the q115 encoding rule. Same 100 TB shape as q51: " +
        "payloads stay column-pruned until this one typed mapPartitions " +
        "stage touches them, and a real resampler/feature extractor " +
        "(fbank, VAD) slots into the same batch-per-partition seam."
    ) { (s, dir) =>
      import s.implicits._
      val sr = when(col("doc_id") % 3 === 0, 16000)
        .when(col("doc_id") % 3 === 1, 22050).otherwise(44100).cast("int")
      val ch = (lit(1) + col("doc_id") % 2).cast("int")
      val dataSize = octet_length(encode(col("text"), "utf-8")).cast("int")
      val blockAlign = ch * 2
      val byteRate = sr * blockAlign
      // optional junk chunk ("LIST" + size 6 + 6 bytes) exercises the walker
      val junk = when(col("doc_id") % 5 === 0,
        concat(lit("LIST".getBytes("US-ASCII")), le(lit(6), 8),
          unhex(lit("494E464F0000")))).otherwise(lit(Array.empty[Byte]))
      val fmtChunk = concat(
        lit("fmt ".getBytes("US-ASCII")), le(lit(16), 8),
        le(lit(1), 4), le(ch, 4), le(sr, 8), le(byteRate, 8),
        le(blockAlign, 4), le(lit(16), 4))
      val dataChunk = concat(
        lit("data".getBytes("US-ASCII")), le(dataSize, 8),
        encode(col("text"), "utf-8"))
      val riffSize = lit(4) + (lit(8) + lit(16)) +
        when(col("doc_id") % 5 === 0, 14).otherwise(0) + lit(8) + dataSize
      val payload = concat(
        lit("RIFF".getBytes("US-ASCII")), le(riffSize, 8),
        lit("WAVE".getBytes("US-ASCII")), fmtChunk, junk, dataChunk)
      Tables.documents(s, dir)
        .select(col("doc_id"), payload.as("payload")).as[AudioRow]
        .mapPartitions(_.map(parseWav))
        .toDF()
        .orderBy("doc_id")
    },

    GraftQuery(
      "q252_media_simhash_neardup",
      Some(mediaSimhashOracleSql),
      "Byte-shingle SimHash near-dup over the MEDIA payload column — " +
        "extending the near-dup surface from text and embeddings to the " +
        "binary envelopes (q51/q68/q116 parse them; this deduplicates " +
        "them): the native one-pass graft_byte_shingles expression walks " +
        "the raw payload bytes ONCE in the scan stage, folding rolling " +
        "8-byte windows to bounded-arithmetic fingerprints (base-256 mod " +
        "the shared 2^40 shingle prime — every intermediate < 2^48, so " +
        "the DuckDB oracle replays the identical arithmetic from " +
        "hex(payload) without sharing the plan), the distinct-shingle " +
        "set collapses ROW-LOCALLY to one " +
        "64-bit SimHash via the same affine-threshold family as q40, and " +
        "candidates come from the SHARED 7-block pigeonhole banding + " +
        "bounded buckets + exact Hamming≤6 re-check (one banding pipeline " +
        "serves token and byte shingles — the indexing machinery is " +
        "shingle-source-agnostic). Byte windows are format-aware dedup " +
        "WITHOUT a decoder: same image bytes behind different metadata " +
        "collide on nearly all windows, small patches perturb only the " +
        "windows they touch — the classic content-defined near-dup trade. " +
        "Scale shape: signatures are 8 bytes/doc computed in the scan; " +
        "payloads NEVER shuffle (the band join moves (doc_id, band, key) " +
        "ints); buckets are capped before any pair expansion. At 100 TB " +
        "this is the media twin of q40 riding the same index, and the " +
        "window fold swaps for a content-defined-chunking rolling hash " +
        "(q155) when payloads are large enough to shingle at chunk " +
        "granularity. MultimodalSpec additionally pins recall on planted " +
        "byte-identical and near-identical payload pairs."
    ) { (s, dir) =>
      byteSimhashPairs(Tables.documents(s, dir)
        .select(col("doc_id"), mediaPayload.as("payload")))
    },

    GraftQuery(
      "q253_media_cdc_containment",
      Some(s"""WITH $mediaBytesSqlCtes, $cdcChunkSqlCtes, $cdcPairSqlCtes
              |SELECT doc_a, doc_b, shared, containment_ppm FROM cpair
              |ORDER BY doc_a, doc_b""".stripMargin),
      "Content-defined-chunking media dedup — the LARGE-payload sibling " +
        "q252's design notes promise: the native one-pass graft_cdc_chunks " +
        "expression cuts chunk boundaries where the SAME rolling 8-byte " +
        "fingerprint stream hits 0 mod 64 (expected ~64-byte chunks), " +
        "folds each chunk's bytes to one fingerprint, and a pair reports " +
        "when the smaller doc shares >= 50% of its INFORMATIVE chunks " +
        "(containment, the storage-dedup metric; chunks above the 64-doc " +
        "frequency cutoff leave intersections AND sizes — q41's stopword " +
        "discipline chunk-shaped, so corpus-wide boilerplate neither " +
        "pairs docs nor dilutes their denominators). Content-defined " +
        "beats fixed-size chunking on exactly one axis and it is the " +
        "axis that matters: an INSERTION misaligns every fixed-size " +
        "boundary after the edit, but CDC boundaries depend only on " +
        "local window bytes, so the two streams re-synchronize at the " +
        "first boundary past the edit and every later chunk matches " +
        "(LBFS, SOSP'01 — MultimodalSpec pins this insert-resilience on " +
        "planted payloads). Scale shape: chunk fingerprints are 8 bytes " +
        "each, ~payload/64 per doc, computed in the scan; payloads " +
        "never shuffle; the df cutoff bounds every inverted-index " +
        "bucket BEFORE pairing. At 100 TB this is how you dedup " +
        "video/audio blobs where whole-payload signatures are too coarse " +
        "and per-window shingles too fine — and the containment join " +
        "doubles as the storage-savings audit for chunk-store planning."
    ) { (s, dir) =>
      cdcContainmentPairs(Tables.documents(s, dir)
        .select(col("doc_id"), mediaPayload.as("payload")))
    },

    GraftQuery(
      "q254_media_chunk_store_audit",
      Some(s"""WITH $mediaBytesSqlCtes, $cdcChunkSqlCtes, fmt AS (
              |  SELECT CASE WHEN doc_id % 2 = 0 THEN 'png' ELSE 'jpeg' END AS format,
              |         cfp
              |  FROM chunki
              |), agg AS (
              |  SELECT format,
              |         CAST(count(*) AS BIGINT) AS total_chunks,
              |         CAST(count(DISTINCT cfp) AS BIGINT) AS distinct_chunks
              |  FROM fmt GROUP BY format
              |)
              |SELECT format, total_chunks, distinct_chunks,
              |       total_chunks - distinct_chunks AS dup_chunks,
              |       1000000 * (total_chunks - distinct_chunks)
              |         // nullif(total_chunks, 0) AS dup_ppm
              |FROM agg ORDER BY format""".stripMargin),
      "Chunk-store capacity audit over the media corpus — the planning " +
        "read behind q253's dedup write path: per format, how many chunk " +
        "INSTANCES the corpus decomposes into (the same native one-pass " +
        "graft_cdc_chunks stream, duplicates preserved — instances are " +
        "what a non-deduplicating store would persist) versus DISTINCT " +
        "chunk fingerprints (what a content-addressed chunk store " +
        "persists), with the saving as integer ppm. This is the number " +
        "that sizes a 100 TB media lake's chunk store before building " +
        "it, and its trend is the dedup-efficiency time series operators " +
        "watch after. Scale shape: one payload scan, 8-byte fps into a " +
        "partial-aggregated count + count(distinct) per format — 2 " +
        "groups, no row ever carries payload bytes past the scan stage."
    ) { (s, dir) =>
      cdcStoreAudit(Tables.documents(s, dir)
        .select(col("doc_id"), mediaPayload.as("payload")))
    },

    GraftQuery(
      "q257_aspect_bucket_packing",
      Some(s"""WITH d AS (
              |  SELECT doc_id, CAST(n_chars % 640 AS BIGINT) w,
              |         CAST(n_chars % 480 AS BIGINT) h
              |  FROM documents
              |  WHERE n_chars % 640 > 0 AND n_chars % 480 > 0
              |), b AS (
              |  SELECT doc_id, w * h AS px,
              |         least((w * 1000000 // h) // 333333, 5) AS bucket
              |  FROM d
              |), c AS (
              |  SELECT doc_id, bucket, px,
              |         sum(px) OVER (PARTITION BY bucket ORDER BY doc_id
              |                       ROWS BETWEEN UNBOUNDED PRECEDING
              |                       AND CURRENT ROW) AS cum
              |  FROM b
              |)
              |SELECT bucket, CAST((cum - px) // $PackPxBudget AS BIGINT) AS batch_id,
              |       count(*) AS n_imgs, CAST(sum(px) AS BIGINT) AS batch_px,
              |       min(doc_id) AS first_doc, max(doc_id) AS last_doc,
              |       CAST(CAST(sum(px) AS BIGINT) * 1000000 // $PackPxBudget
              |         AS BIGINT) AS fill_ppm
              |FROM c
              |GROUP BY bucket, batch_id
              |ORDER BY bucket, batch_id""".stripMargin),
      "Aspect-ratio bucketed batch packing — the image dataloader step " +
        "every resolution-aware vision/VLM trainer runs (SDXL/NaViT " +
        "style): images batch together only with SIMILAR aspect ratios " +
        "(so per-batch resize crops nothing), and each bucket packs " +
        "greedily into batches under a fixed pixel budget — q94's " +
        "concatenate-and-cut discipline with pixels as the token count. " +
        "Dimensions come from the PAYLOAD BYTES through q51's real " +
        "header decoder (metadata columns are never consulted; " +
        "undecodable/zero-area images drop with an explicit guard, as a " +
        "production loader drops them), the ratio buckets are exact " +
        "integer thirds capped at 5, and the batch cut is a running-sum " +
        "window in deterministic doc_id order — no RNG, reproducible " +
        "across engines, so the oracle replays the dims arithmetically " +
        "and the check is hash-exact. Scale shape: decode is the one " +
        "payload-touching stage (batch-at-a-time per partition, sized by " +
        "maxPartitionBytes); past it only (doc_id, w, h) ints flow; the " +
        "window and the batch aggregation share ONE hash partitioning on " +
        "bucket — packing 100 TB of images is a single shuffle of int " +
        "triples, and at that scale bucket becomes the write-time " +
        "partition column with each bucket packing executor-parallel, " +
        "exactly this plan."
    ) { (s, dir) =>
      import s.implicits._
      val media = Tables.documents(s, dir).select(
        col("doc_id"),
        mediaPayload.as("payload"),
        when(col("doc_id") % 2 === 0, "png").otherwise("jpeg").as("format"),
        (col("n_chars") % 640).cast("int").as("width"),
        (col("n_chars") % 480).cast("int").as("height"))
        .as[MediaRow]
      val w = Window.partitionBy("bucket").orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      media
        .mapPartitions(_.map(decodeImage))
        .toDF()
        .filter(col("width") > 0 && col("height") > 0)
        .select(col("doc_id"),
          (col("width").cast("long") * col("height")).as("px"),
          least(expr("CAST(width AS BIGINT) * 1000000 div height div 333333"),
            lit(5L)).as("bucket"))
        .withColumn("cum", sum("px").over(w))
        .withColumn("batch_id", expr(s"(cum - px) div $PackPxBudget"))
        .groupBy("bucket", "batch_id")
        .agg(count(lit(1)).as("n_imgs"), sum("px").as("batch_px"),
          min("doc_id").as("first_doc"), max("doc_id").as("last_doc"))
        .withColumn("fill_ppm", expr(s"batch_px * 1000000 div $PackPxBudget"))
        .orderBy("bucket", "batch_id")
    },

    GraftQuery(
      "q260_crossmodal_dedup_consensus",
      Some(s"""WITH tp AS (
              |  ${DedupQueries.replayShinglePrologueSql},
              |${DedupQueries.simhashBandTailSql}
              |), mp AS (
              |  $mediaSimhashOracleSql
              |)
              |SELECT coalesce(tp.doc_a, mp.doc_a) AS doc_a,
              |       coalesce(tp.doc_b, mp.doc_b) AS doc_b,
              |       CASE WHEN tp.doc_a IS NOT NULL AND mp.doc_a IS NOT NULL
              |              THEN 'both'
              |            WHEN tp.doc_a IS NOT NULL THEN 'text_only'
              |            ELSE 'media_only' END AS modality,
              |       tp.hamming AS text_hamming, mp.hamming AS media_hamming
              |FROM tp FULL OUTER JOIN mp
              |  ON tp.doc_a = mp.doc_a AND tp.doc_b = mp.doc_b
              |ORDER BY 1, 2""".stripMargin),
      "Cross-modal near-dup consensus — the multimodal curation decision " +
        "neither single-modality index can make alone: q40's token-shingle " +
        "pairs (what the TEXT says) full-outer-join q252's byte-shingle " +
        "pairs (what the MEDIA bytes are) on the pair key, and each " +
        "candidate pair is classified `both` / `text_only` / `media_only` " +
        "with its per-modality Hamming distances. The classes mean " +
        "different things operationally: `both` is a true duplicate " +
        "(delete with confidence), `text_only` is same prose under " +
        "different media (caption plagiarism, re-encoded assets — dedup " +
        "text, keep media), `media_only` is same asset under different " +
        "prose (stock-image reuse — keep text, dedup storage via q253's " +
        "chunk store). Both sides are the VERY pipelines q40/q252 ship " +
        "(one banding implementation instantiated over two shingle " +
        "sources), so the consensus inherits their recall guarantees and " +
        "the oracle nests their replays verbatim. Scale shape: each side " +
        "is banded + bucket-capped before any pair exists; the consensus " +
        "join carries only (doc_a, doc_b, hamming) int triples — pair-set " +
        "scale, not corpus scale — and at 100 TB it is the cheap final " +
        "equi-join after two already-sublinear candidate generators."
    ) { (s, dir) =>
      crossModalConsensus(
        DedupQueries.simhashNearDupPairs(
          DedupQueries.textSimhashSigs(s, dir)),
        byteSimhashPairs(Tables.documents(s, dir)
          .select(col("doc_id"), mediaPayload.as("payload"))))
    },

    GraftQuery(
      "q296_crossmodal_release_consensus",
      Some(s"""WITH tp AS (
              |  ${DedupQueries.replayShinglePrologueSql},
              |${DedupQueries.simhashBandTailSql}
              |), mp AS (
              |  $mediaSimhashOracleSql
              |)
              |SELECT coalesce(tp.doc_a, mp.doc_a) AS doc_a,
              |       coalesce(tp.doc_b, mp.doc_b) AS doc_b,
              |       CASE WHEN tp.doc_a IS NOT NULL AND mp.doc_a IS NOT NULL
              |              THEN 'both'
              |            WHEN tp.doc_a IS NOT NULL THEN 'text_only'
              |            ELSE 'media_only' END AS modality,
              |       tp.hamming AS text_hamming, mp.hamming AS media_hamming
              |FROM tp FULL OUTER JOIN mp
              |  ON tp.doc_a = mp.doc_a AND tp.doc_b = mp.doc_b
              |ORDER BY 1, 2""".stripMargin),
      "q260's cross-modal consensus served through ONE release (VERDICT " +
        "r15 item 2): the consensus is the engine's one genuinely " +
        "MULTI-pillar near-dup consumer — it composes the token-shingle " +
        "TEXT SimHash pillar with the byte-shingle MEDIA SimHash pillar " +
        "— and until this round each side resolved its pillar version " +
        "independently at read time, so a reader concurrent with a " +
        "pillar swap could classify pairs against text v=N and media " +
        "v=N+1 (a 'both' pair degrading to 'text_only' mid-read, the " +
        "exact mix releases exist to prevent). Both pillars now install " +
        "under the manifest store, ONE release pins the coherent " +
        "(text_simhash, media_simhash) version tuple atomically, and " +
        "the serve resolves both through that release " +
        "(crossModalConsensusAtRelease over pairsFromStoreAt). " +
        "Same oracle text as q260 — hash-green proves the two-pillar " +
        "release indirection perturbs no pair; the IndexLifecycleSpec " +
        "interposed-swap twin proves a concurrent single-pillar install " +
        "(staged AND committed) moves nothing until the next cut. " +
        "Memoized per corpus fingerprint; the serve is two stored-pair " +
        "reads + one pair-set-sized full-outer join — no text or " +
        "payload re-scan anywhere."
    ) { (s, dir) =>
      val root = RelationalQueries.staged(s, "xmrel",
        Tables.fingerprint(s, s"$dir/documents.parquet")) { out =>
        IndexLifecycle.installPostings(s, s"$out/text", 1L,
          IndexLifecycle.SimhashPostings, DedupQueries.textSimhashSigs(s, dir),
          Seq(DedupQueries.MaxBucket))
        IndexLifecycle.installPostings(s, s"$out/media", 1L,
          IndexLifecycle.SimhashPostings,
          byteSimhashSigs(Tables.documents(s, dir)
            .select(col("doc_id"), mediaPayload.as("payload"))),
          Seq(DedupQueries.MaxBucket))
        IndexLifecycle.cutRelease(s"$out/rel", 1L,
          Map("text_simhash" -> s"$out/text",
            "media_simhash" -> s"$out/media"))
        ()
      }
      IndexLifecycle.crossModalConsensusAtRelease(s, s"$root/rel")
    },

    GraftQuery(
      "q263_media_simhash_recall_eval",
      Some(s"""$mediaSimhashPairCtes,
              |${DedupQueries.simhashScoreboardSqlTail}""".stripMargin),
      "Recall scoreboard for the media byte-shingle SimHash index — q262's " +
        "twin over q252: the same 20% panel, the same full-signature " +
        "Hamming ≤ 6 ground truth, the same banded-pair grading — over " +
        "byte-shingle signatures instead of token-shingle ones. Media " +
        "buckets saturate DIFFERENTLY than text buckets (shared envelope " +
        "headers put format-mates in the same bands the way boilerplate " +
        "prose does for text), so the two scoreboards drift independently " +
        "and a fleet watches both: media recall sagging while text holds " +
        "means header-induced bucket saturation — raise the media cap or " +
        "shingle at CDC chunk granularity (q253), not the band count. " +
        "Same scale posture as q262: inverted-index exact side bounded " +
        "at GtBucketCap with explicit gt_dropped accounting, id-only " +
        "scoreboard join, nightly beside the chunk audit."
    ) { (s, dir) =>
      val media = Tables.documents(s, dir)
        .select(col("doc_id"), mediaPayload.as("payload"))
      // ONE payload signature walk: ground-truth side and graded pair set
      // read the staged byte-shingle signatures (q262's discipline)
      val sigs = graft.Staging.stage(byteSimhashSigs(media))
      DedupQueries.simhashScoreboard(sigs,
        DedupQueries.simhashNearDupPairsUnsorted(sigs))
    },

    GraftQuery(
      "q266_media_cap_dial",
      Some(s"""$mediaSimhashPairCtes,
              |${DedupQueries.capDialSqlTail}""".stripMargin),
      "Bucket-cap dial for the media byte-shingle SimHash index — q265's " +
        "twin over q252's signatures: the same cap sweep, the same " +
        "smallest-shared-bucket one-pass grading, over byte-shingle " +
        "bands. The two dials deliberately run apart: media buckets " +
        "saturate on shared envelope headers where text buckets saturate " +
        "on boilerplate prose (q263's drift rationale), so the right cap " +
        "differs by modality and a fleet sets each from its own dial " +
        "rather than sharing one constant. Same scale posture as q265: " +
        "panel-scoped exact side bounded at GtBucketCap with explicit " +
        "gt_dropped accounting, id-only per-pair frame, nightly beside " +
        "the scoreboards."
    ) { (s, dir) =>
      DedupQueries.bucketCapDial(byteSimhashSigs(Tables.documents(s, dir)
        .select(col("doc_id"), mediaPayload.as("payload"))))
    },

    GraftQuery(
      "q267_media_resize",
      Some(s"""WITH $mediaBytesSqlCtes, h2 AS (
              |  SELECT doc_id,
              |         CASE WHEN doc_id % 2 = 0
              |           THEN concat('89504E470D0A1A0A0000000D49484452',
              |                lpad(hex((n_chars % 640) // 2), 8, '0'),
              |                lpad(hex((n_chars % 480) // 2), 8, '0'),
              |                '080600000000000000')
              |           ELSE concat('FFD8FFC0001108',
              |                lpad(hex((n_chars % 480) // 2), 4, '0'),
              |                lpad(hex((n_chars % 640) // 2), 4, '0'),
              |                '03011100021101031101')
              |         END AS h
              |  FROM documents
              |), c2 AS (
              |  SELECT doc_id, string_split(h, '') c FROM h2
              |), b2 AS (
              |  SELECT doc_id,
              |         list_transform(range(1, len(c)//2 + 1), i ->
              |           CAST((ascii(c[2*i-1]) - 48
              |             - CASE WHEN ascii(c[2*i-1]) >= 65 THEN 7 ELSE 0 END) * 16
              |           + ascii(c[2*i]) - 48
              |             - CASE WHEN ascii(c[2*i]) >= 65 THEN 7 ELSE 0 END
              |           AS BIGINT)) AS hv
              |  FROM c2
              |), rb AS (
              |  SELECT bt.doc_id,
              |         CASE WHEN bt.doc_id % 2 = 0 THEN $PngHeaderLen
              |              ELSE $JpegHeaderLen END AS hl,
              |         len(bt.bv) AS n_in,
              |         list_concat(b2.hv,
              |           list_transform(
              |             range(0, (len(bt.bv)
              |               - CASE WHEN bt.doc_id % 2 = 0 THEN $PngHeaderLen
              |                      ELSE $JpegHeaderLen END + 3) // 4),
              |             i -> bt.bv[CASE WHEN bt.doc_id % 2 = 0
              |                        THEN $PngHeaderLen
              |                        ELSE $JpegHeaderLen END + 4*i + 1])) AS ob
              |  FROM bt JOIN b2 ON b2.doc_id = bt.doc_id
              |)
              |SELECT rb.doc_id,
              |       CASE WHEN rb.doc_id % 2 = 0 THEN 'png' ELSE 'jpeg' END
              |         AS format,
              |       CAST((d.n_chars % 640) // 2 AS BIGINT) AS width,
              |       CAST((d.n_chars % 480) // 2 AS BIGINT) AS height,
              |       CAST(rb.n_in AS BIGINT) AS n_bytes_in,
              |       CAST(len(rb.ob) AS BIGINT) AS n_bytes_out,
              |       CAST(list_reduce(list_prepend(0::BIGINT, rb.ob),
              |              (a, b) -> (a * 256 + b) % ${DedupQueries.ShingleP})
              |            AS BIGINT) AS payload_fp
              |FROM rb JOIN documents d ON d.doc_id = rb.doc_id
              |ORDER BY rb.doc_id""".stripMargin),
      "Resize/transcode stage — the payload→payload shape q68's note " +
        "promises, made concrete: the envelope header is parsed from the " +
        "BYTES, dimensions halve, the body strides by 4 (the area scaling " +
        "of a 2× linear resize — a deterministic stand-in for the pixel " +
        "resample a real codec performs in this exact stage), and a VALID " +
        "envelope of the same format re-emits with the new dims patched " +
        "in. The reported format/width/height come from RE-DECODING the " +
        "output through the same parser every payload stage uses, so the " +
        "oracle match proves the transcoded envelope round-trips — " +
        "resized media flows back into q51 decode, q252 near-dup and " +
        "q253 chunking unchanged. payload_fp folds the full output bytes " +
        "base-256 mod the 2^40 prime (q253's replayable arithmetic), so " +
        "the compare pins every output byte, not just the header. At " +
        "100 TB this is the one payload-touching rewrite stage: " +
        "batch-at-a-time per partition, sized by maxPartitionBytes, " +
        "output co-partitioned with input, ~16× smaller bodies downstream."
    ) { (s, dir) =>
      import s.implicits._
      val media = Tables.documents(s, dir)
        .select(col("doc_id"), mediaPayload.as("payload")).as[VideoRow]
      media.mapPartitions(_.flatMap(resizeAndAudit))
        .toDF()
        .orderBy("doc_id")
    },

    GraftQuery(
      "q275_cdc_recall_eval",
      Some(s"""WITH $mediaBytesSqlCtes, $cdcChunkSqlCtes, $cdcPairSqlCtes,
              |$cdcGtSqlCtes, gtx AS (
              |  SELECT c.doc_id AS pa,
              |         CAST(count(CASE WHEN df > $CdcGtCap
              |                         THEN 1 END) AS BIGINT)
              |           AS gt_excluded_cfps
              |  FROM chunks c JOIN fdf USING (cfp)
              |  WHERE c.doc_id % 5 = 0 GROUP BY 1
              |), inter AS (
              |  SELECT a.doc_id pa, b.doc_id pb, CAST(count(*) AS BIGINT) shared
              |  FROM chf a JOIN chf b ON a.cfp = b.cfp AND a.doc_id <> b.doc_id
              |  WHERE a.doc_id % 5 = 0
              |  GROUP BY 1, 2
              |), ex AS (
              |  SELECT pa, pb,
              |         CAST(1000000 * shared // least(ra.nr, rb.nr) AS BIGINT)
              |           AS containment_ppm
              |  FROM inter JOIN szr ra ON ra.doc_id = pa
              |             JOIN szr rb ON rb.doc_id = pb
              |  WHERE 1000000 * shared // least(ra.nr, rb.nr)
              |          >= $CdcContainmentFloorPpm
              |), aps AS (
              |  SELECT doc_a AS a, doc_b AS b FROM cpair
              |  UNION ALL
              |  SELECT doc_b, doc_a FROM cpair
              |), sbd AS (
              |  SELECT pa,
              |         CAST(count(*) AS BIGINT) AS exact_cnt,
              |         CAST(count(h.a) AS BIGINT) AS hits,
              |         CAST(count(h.a) * 1000000 // count(*) AS BIGINT)
              |           AS recall_ppm,
              |         CAST(coalesce(max(CASE WHEN h.a IS NULL
              |                                THEN containment_ppm END), 0)
              |              AS BIGINT) AS worst_miss_ppm
              |  FROM ex LEFT JOIN aps h ON h.a = ex.pa AND h.b = ex.pb
              |  GROUP BY pa
              |)
              |SELECT sbd.pa AS panel_doc, exact_cnt, hits, recall_ppm,
              |       worst_miss_ppm, gtx.gt_excluded_cfps
              |FROM sbd JOIN gtx ON gtx.pa = sbd.pa
              |ORDER BY panel_doc""".stripMargin),
      "Recall scoreboard for the CDC chunk containment index — the LAST " +
        "approximate index without one, completing the per-index " +
        "scoreboard matrix (MinHash q261, SimHash text q262, SimHash " +
        "media q263, embedding-LSH q264, IVF/PQ/IVF-PQ q246-q250): per " +
        "panel doc, exact containment ground truth over the chunk " +
        "universe the DEEPEST swept cap (128) builds — fps more frequent " +
        "than every swept cap are boilerplate by the sweep's own " +
        "definition, excluded from intersections AND sizes with the " +
        "exclusion explicit as gt_excluded_cfps — graded against the " +
        "very q253 pair set the engine ships. Every miss is a pair the " +
        "shipped 64 cut dropped; worst_miss_ppm names the strongest " +
        "one, which is exactly the evidence that moves the q276 dial. " +
        "Scale shape: inverted-chunk-index exact side whose buckets the " +
        "universe bound caps at 128 members (never panel x corpus, " +
        "never quadratic in a saturated bucket), id-only grading join, " +
        "payloads never leave the scan — the nightly read beside the " +
        "q254 store audit."
    ) { (s, dir) =>
      cdcScoreboard(Tables.documents(s, dir)
        .select(col("doc_id"), mediaPayload.as("payload")))
    },

    GraftQuery(
      "q276_cdc_cap_dial",
      Some {
        val capValues =
          DedupQueries.CapSweep.map(c => s"($c::BIGINT)").mkString(", ")
        val capShares = DedupQueries.CapSweep.map(c =>
          s"CAST(count(CASE WHEN a.df <= $c THEN 1 END) AS BIGINT) AS s$c")
          .mkString(",\n         ")
        val capSizes = DedupQueries.CapSweep.map(c =>
          s"CAST(count(CASE WHEN df <= $c THEN 1 END) AS BIGINT) AS n$c")
          .mkString(",\n         ")
        val sideSizes = DedupQueries.CapSweep.map(c =>
          s"sa.n$c AS na$c, sb.n$c AS nb$c").mkString(",\n         ")
        val capCase = "CASE cap " + DedupQueries.CapSweep.map(c =>
          s"WHEN $c THEN 1000000 * s$c // nullif(least(na$c, nb$c), 0) " +
            s">= $CdcContainmentFloorPpm").mkString(" ") + " END"
        s"""WITH $mediaBytesSqlCtes, $cdcChunkSqlCtes,
           |$cdcGtSqlCtes, gtxa AS (
           |  SELECT CAST(coalesce(sum(CASE WHEN df > $CdcGtCap
           |                                THEN 1 ELSE 0 END), 0) AS BIGINT)
           |           AS gt_excluded_cfps
           |  FROM chunks c JOIN fdf USING (cfp)
           |  WHERE c.doc_id % 5 = 0
           |), szc AS (
           |  SELECT doc_id,
           |         $capSizes
           |  FROM chf GROUP BY doc_id
           |), pp AS (
           |  SELECT a.doc_id pa, b.doc_id pb,
           |         CAST(count(*) AS BIGINT) shared,
           |         $capShares
           |  FROM chf a JOIN chf b ON a.cfp = b.cfp AND a.doc_id <> b.doc_id
           |  WHERE a.doc_id % 5 = 0
           |  GROUP BY 1, 2
           |), ex AS (
           |  SELECT pp.*,
           |         $sideSizes
           |  FROM pp
           |  JOIN szr ra ON ra.doc_id = pp.pa
           |  JOIN szr rb ON rb.doc_id = pp.pb
           |  JOIN szc sa ON sa.doc_id = pp.pa
           |  JOIN szc sb ON sb.doc_id = pp.pb
           |  WHERE 1000000 * pp.shared // least(ra.nr, rb.nr)
           |          >= $CdcContainmentFloorPpm
           |), caps(cap) AS (VALUES $capValues),
           |g AS (
           |  SELECT cap,
           |         CAST(count(ex.pa) AS BIGINT) AS exact_cnt,
           |         CAST(count(CASE WHEN $capCase
           |                         THEN 1 END) AS BIGINT) AS hits
           |  FROM caps LEFT JOIN ex ON TRUE
           |  GROUP BY cap
           |)
           |SELECT cap, exact_cnt, hits,
           |       CAST(coalesce(hits * 1000000 // nullif(exact_cnt, 0), 0)
           |            AS BIGINT) AS recall_ppm,
           |       coalesce(hits * 1000000 // nullif(exact_cnt, 0), 0)
           |         >= ${DedupQueries.CapRecallFloorPpm} AS meets_floor,
           |       cap = coalesce(
           |         min(CASE WHEN coalesce(hits * 1000000
           |                                  // nullif(exact_cnt, 0), 0)
           |                       >= ${DedupQueries.CapRecallFloorPpm}
           |                  THEN cap END) OVER (),
           |         max(cap) OVER ()) AS chosen,
           |       gtxa.gt_excluded_cfps
           |FROM g CROSS JOIN gtxa ORDER BY cap""".stripMargin
      },
      "Bucket-cap dial for the CDC chunk index — the dial matrix's last " +
        "cell (IVF probes q251, SimHash caps q265/q266, LSH tables " +
        "q268/q271, MinHash cap q273/q274): sweeps the chunk index's " +
        "informative-universe cutoff and emits the minimal one whose " +
        "panel recall meets the floor. One shared pass grades every " +
        "cap, but the survival rule generalizes the SimHash dials' " +
        "smallest-shared-bucket trick twice over: CDC reports a pair on " +
        "a containment THRESHOLD over the cap's own universe, not on " +
        "any-bucket collision, so each exact pair carries per-cap " +
        "conditional shared counts AND per-doc per-cap sizes, graded " +
        "against q253's predicate verbatim — the cap-64 row reproduces " +
        "q253's grading exactly and the cap-128 row IS the ground " +
        "truth (recall 1000000 by construction, the full-width-row " +
        "pattern of the q268 table dial; both MultimodalSpec pins). " +
        "Recall is deliberately NOT monotone in the cap: a deeper cap " +
        "admits boilerplate into denominators faster than it adds " +
        "shared chunks, and pricing that trade is the dial's job. " +
        "calibratedCdcCap/cdcContainmentCalibrated close the loop the " +
        "way every other dial does. Exact side and gt_excluded_cfps " +
        "accounting are q275's: 128-bounded inverted index, " +
        "panel-scoped, id-only — a nightly calibration pass at any " +
        "corpus size."
    ) { (s, dir) =>
      cdcCapDial(Tables.documents(s, dir)
        .select(col("doc_id"), mediaPayload.as("payload")))
    },

    GraftQuery(
      "q286_cdc_postings_serve",
      Some(s"""WITH $mediaBytesSqlCtes, $cdcChunkSqlCtes, $cdcPairSqlCtes
              |SELECT doc_a, doc_b, shared, containment_ppm FROM cpair
              |ORDER BY doc_a, doc_b""".stripMargin),
      "q253 served FROM the installed CDC chunk postings pillar — the " +
        "content-addressed store's own read path: " +
        "IndexLifecycle.installPostings(CdcPostings) walks each payload ONCE at " +
        "install and persists the per-doc distinct chunk fingerprints " +
        "(8 bytes each) partitioned by a 16-way fingerprint bucket " +
        "under ATOMIC_MOVE v=N; the serve path recomputes df and " +
        "per-doc surviving sizes with index-level windows over those " +
        "stored rows and prices containment by exactly q253's rule — " +
        "no payload byte anywhere in the serve plan (df is " +
        "deliberately NOT frozen at install: document frequency is a " +
        "corpus property, and an appended batch must move it). A new " +
        "media batch walks ITS payloads only and admits against the " +
        "stored lists (batchPairs/appendPostings — " +
        "IndexLifecycleSpec pins batch == full-rebuild-on-union). " +
        "Install memoized per corpus fingerprint so steady state " +
        "measures the serve path; same oracle text as q253 — stored " +
        "and derived chunk sets are one index, pinned by stored==live " +
        "twins."
    ) { (s, dir) =>
      val root = RelationalQueries.staged(s, "cdcpost",
        Tables.fingerprint(s, s"$dir/documents.parquet")) { out =>
        IndexLifecycle.installPostings(s, out, 1L, IndexLifecycle.CdcPostings,
          Tables.documents(s, dir)
            .select(col("doc_id"), mediaPayload.as("payload")),
          Seq(DedupQueries.MaxBucket))
        ()
      }
      IndexLifecycle.pairsFromStore(s, root, IndexLifecycle.CdcPostings)
    },

    GraftQuery(
      "q287_chunk_store_takedown",
      Some(s"""WITH $mediaBytesSqlCtes, $cdcChunkSqlCtes, m AS (
              |  SELECT cfp,
              |         CAST(min(doc_id) AS BIGINT) AS owner_before,
              |         CAST(count(*) AS BIGINT) AS refcount_before,
              |         CAST(min(CASE WHEN doc_id % 31 <> 0 THEN doc_id END)
              |           AS BIGINT) AS owner_after,
              |         CAST(count(CASE WHEN doc_id % 31 <> 0 THEN 1 END)
              |           AS BIGINT) AS refcount_after
              |  FROM chunks GROUP BY cfp
              |)
              |SELECT CAST(cfp AS BIGINT) AS cfp, owner_before,
              |       refcount_before, owner_after, refcount_after,
              |       refcount_after = 0 AS gc
              |FROM m ORDER BY cfp""".stripMargin),
      "Takedown propagation through the content-addressed chunk store — " +
        "the delete verb the admit path (chunkAdmitTws: novel chunks " +
        "persist bytes under the min-doc first writer, duplicates bump a " +
        "refcount toward that canonical copy) implies but r13 lacked: " +
        "deleting a doc set (here the deterministic doc_id % 31 panel) " +
        "must decrement every chunk it referenced, GC the chunks whose " +
        "LAST reference died (gc=true rows — the store deletes those " +
        "bytes), and hand ownership of surviving chunks whose OWNER died " +
        "to the next-earliest remaining filer (owner_after > " +
        "owner_before where owner_before % 31 = 0). One groupBy over the " +
        "16-byte (doc_id, cfp) manifest rows computes the whole ledger — " +
        "before/after counts ride the same pass as conditional " +
        "aggregates, payload bytes never move, and the chunk " +
        "decomposition itself is the shared one-pass native CDC walk " +
        "(q253/q254's), replayed verbatim by the oracle. At 100 TB this " +
        "is the nightly takedown batch: deleted ids broadcast onto the " +
        "manifest scan, ledger keyed by fingerprint across the store's " +
        "partitions, the gc list IS the store's delete workload."
    ) { (s, dir) =>
      val media = Tables.documents(s, dir)
        .select(col("doc_id"), mediaPayload.as("payload"))
      IndexLifecycle.chunkStoreTakedown(cdcDocChunks(media),
          media.filter(col("doc_id") % 31 === 0).select("doc_id"))
        .orderBy("cfp")
    },

    GraftQuery(
      "q292_cdc_batch_admit",
      Some(s"""WITH $mediaBytesSqlCtes, $cdcChunkSqlCtes, $cdcPairSqlCtes
              |SELECT doc_a, doc_b, shared, containment_ppm FROM cpair
              |WHERE doc_a % 7 = 0 OR doc_b % 7 = 0
              |ORDER BY doc_a, doc_b""".stripMargin),
      "q289's media sibling: the new media batch walks ITS payloads " +
        "only; df, surviving per-doc sizes and shared counts are priced " +
        "over the stored ∪ batch union with index-level windows (df is " +
        "never frozen at install — a batch must move it), and candidate " +
        "buckets restrict to fingerprints a batch doc owns — lossless " +
        "for touching pairs, since every shared chunk of such a pair IS " +
        "batch-owned. Oracle: the full-corpus q253 replay restricted to " +
        "pairs touching the batch — incremental containment admission " +
        "== rebuild-on-union, hash-checked per corpus per round. At " +
        "100 TB this is the chunk store's nightly PUT-batch dedup " +
        "decision, priced without re-walking a single stored payload."
    ) { (s, dir) =>
      val media = Tables.documents(s, dir)
        .select(col("doc_id"), mediaPayload.as("payload"))
      val root = RelationalQueries.staged(s, "cdcadmit",
        Tables.fingerprint(s, s"$dir/documents.parquet")) { out =>
        IndexLifecycle.installPostings(s, out, 1L, IndexLifecycle.CdcPostings,
          media.filter(col("doc_id") % 7 =!= 0), Seq(DedupQueries.MaxBucket))
        ()
      }
      IndexLifecycle.batchPairs(s, root, IndexLifecycle.CdcPostings,
        media.filter(col("doc_id") % 7 === 0))
    }
  )

  /** q254's audit over any `(doc_id, payload)` frame. */
  private[graft] def cdcStoreAudit(media: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    media
      .select(when(col("doc_id") % 2 === 0, "png").otherwise("jpeg").as("format"),
        explode(graft.functions.Sketches.cdcChunks(
          col("payload"), CdcDivisor, DedupQueries.ShingleP)).as("cfp"))
      .groupBy("format")
      .agg(count(lit(1)).as("total_chunks"),
        countDistinct(col("cfp")).as("distinct_chunks"))
      .select(col("format"), col("total_chunks"), col("distinct_chunks"),
        (col("total_chunks") - col("distinct_chunks")).as("dup_chunks"),
        expr("1000000 * (total_chunks - distinct_chunks) div nullif(total_chunks, 0)")
          .as("dup_ppm"))
      .orderBy("format")

  /** (doc_id, cfp, df): each doc's DISTINCT chunk fingerprints with the
    * fingerprint's corpus document frequency riding along — the chunk
    * universe shared by the q253 pairing, the q275 scoreboard and the
    * q276 dial. One payload walk in the scan; only 8-byte fps travel
    * past it. */
  private[graft] def cdcChunkFrame(media: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    cdcDocChunks(media)
      .withColumn("df", count(lit(1)).over(Window.partitionBy("cfp")))
  }

  /** The df-less half of [[cdcChunkFrame]] — each doc's DISTINCT chunk
    * fingerprints from ONE payload walk. The stored-postings pillar
    * persists exactly this frame (df is a property of the WHOLE corpus,
    * recomputed index-level at read; freezing it at install would serve
    * stale frequencies after an append). */
  private[graft] def cdcDocChunks(media: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    media
      .select(col("doc_id"), explode(array_distinct(
        graft.functions.Sketches.cdcChunks(
          col("payload"), CdcDivisor, DedupQueries.ShingleP))).as("cfp"))

  /** CDC containment pairs of any `(doc_id, payload)` frame — the full
    * q253 pipeline, exposed so specs can grade the insert-resilience
    * property on planted payloads through exactly the shipped plan.
    * `cap` is the chunk index's informative-universe bound (q41's
    * stopword discipline, chunk-shaped): fps whose document frequency
    * exceeds it leave BOTH the intersections and the per-doc sizes, so
    * containment stays self-consistent over the surviving universe —
    * boilerplate chunks (shared envelope headers, corpus-wide
    * boilerplate prose) neither pair docs nor dilute their denominators.
    * [[cdcCapDial]] chooses the cap; [[DedupQueries.MaxBucket]] is only
    * the default. */
  private[graft] def cdcContainmentPairs(media: org.apache.spark.sql.DataFrame,
                                         cap: Int = DedupQueries.MaxBucket)
      : org.apache.spark.sql.DataFrame =
    cdcContainmentPairsUnsorted(media, cap).orderBy("doc_a", "doc_b")

  /** [[cdcContainmentPairs]] without the presentation sort — for the q275
    * scoreboard, whose grading join is order-blind. ONE payload walk: the
    * per-doc size rides a doc_id window on the same frame (never a
    * re-scanning sizes join), and in-bucket pairing is the q252
    * collect_list expansion, never a self-join that would rebuild the
    * chunk stream per branch (plan-pinned by ScaleDesignSpec). */
  private[graft] def cdcContainmentPairsUnsorted(
      media: org.apache.spark.sql.DataFrame,
      cap: Int = DedupQueries.MaxBucket): org.apache.spark.sql.DataFrame =
    cdcContainmentPairsOfChunks(cdcChunkFrame(media), cap)

  /** The containment tail over an ARBITRARY `(doc_id, cfp, df)` chunk
    * frame — the seam the stored-postings pillar serves through: the
    * pillar persists (doc_id, cfp) at install, recomputes `df` with an
    * index-level window at read, and this tail prices containment over
    * the surviving universe exactly as the live payload-walk path does. */
  private[graft] def cdcContainmentPairsOfChunks(
      chunks: org.apache.spark.sql.DataFrame,
      cap: Int = DedupQueries.MaxBucket): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val surv = chunks.filter(col("df") <= cap)
      .withColumn("n", count(lit(1)).over(Window.partitionBy("doc_id")))
    surv.filter(col("df") >= 2)
      .groupBy("cfp")
      .agg(sort_array(collect_list(struct(col("doc_id"), col("n")))).as("ds"))
      .select(explode(flatten(transform(col("ds"), (a, i) =>
        transform(slice(col("ds"), i + 2, size(col("ds"))), b =>
          struct(a("doc_id").as("doc_a"), b("doc_id").as("doc_b"),
            a("n").as("na"), b("n").as("nb")))))).as("p"))
      .select(col("p.doc_a"), col("p.doc_b"), col("p.na"), col("p.nb"))
      .groupBy("doc_a", "doc_b")
      .agg(count(lit(1)).as("shared"),
        first(col("na")).as("na"), first(col("nb")).as("nb"))
      .withColumn("containment_ppm",
        expr("1000000 * shared div least(na, nb)"))
      .filter(col("containment_ppm") >= CdcContainmentFloorPpm)
      .select(col("doc_a"), col("doc_b"), col("shared"), col("containment_ppm"))
  }

  /** The containment tail over the stored PROBE-READY layout (r17): the
    * pillar persists per-fingerprint sorted member lists
    * `buckets(cfp, df, ds)` and the per-doc df census whose partial sums
    * are the surviving sizes `sizes(doc_id, n)` — this tail pairs the
    * stored lists directly (q252's collect-free expansion: the lists ARE
    * stored) and attaches sizes at the PAIR grain, where
    * [[cdcContainmentPairsOfChunks]] carried them per member through the
    * expansion. Same arithmetic, same rows: shared counts by list
    * pairing, containment over least(na, nb), q253's floor. */
  private[graft] def cdcContainmentPairsOfBuckets(
      buckets: org.apache.spark.sql.DataFrame,
      sizes: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    buckets
      .select(explode(flatten(transform(col("ds"), (a, i) =>
        transform(slice(col("ds"), i + 2, size(col("ds"))), b =>
          struct(a.as("doc_a"), b.as("doc_b")))))).as("p"))
      .select(col("p.doc_a"), col("p.doc_b"))
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("shared"))
      .join(sizes.select(col("doc_id").as("doc_a"), col("n").as("na")),
        "doc_a")
      .join(sizes.select(col("doc_id").as("doc_b"), col("n").as("nb")),
        "doc_b")
      .withColumn("containment_ppm",
        expr("1000000 * shared div least(na, nb)"))
      .filter(col("containment_ppm") >= CdcContainmentFloorPpm)
      .select(col("doc_a"), col("doc_b"), col("shared"),
        col("containment_ppm"))

  /** The q275 recall scoreboard for the CDC chunk containment index —
    * the last approximate index without one. Exact side: every
    * panel-touching pair whose containment over the `gtCap`-bounded
    * chunk universe (intersections AND sizes — the same informative-
    * universe rule the index itself applies at its cap) clears the q253
    * floor; fps above the bound are reported per panel doc as
    * `gt_excluded_cfps`, never silently dropped. Found through the
    * inverted chunk index, never a panel × corpus product. Graded
    * against the very q253 pair set the engine ships, so every miss is
    * a pair the shipped [[DedupQueries.MaxBucket]] cut dropped —
    * `worst_miss_ppm` says how strong the strongest dropped pair was. */
  /** The exact side shared by q275 and q276: DIRECTED panel-touching
    * pairs `(pa, pb, shared, nra, nrb)` with per-pair shared counts over
    * the df ≤ `gtCap` universe and reduced per-doc sizes — built with ONE
    * payload walk: sizes ride a doc_id window, the panel × bucket
    * expansion is bucket-local collect_list (q252's idiom), never a
    * self-join that would rebuild the chunk stream per branch. `extra`
    * appends per-member columns (the dial's per-cap sizes) that must
    * travel through the expansion. */
  private def cdcExactPairs(chunks: org.apache.spark.sql.DataFrame,
                            gtCap: Int)
      : org.apache.spark.sql.DataFrame =
    chunks.filter(col("df") <= gtCap)
      .groupBy("cfp")
      .agg(first(col("df")).as("df"),
        sort_array(collect_list(col("doc_id"))).as("ds"))
      .select(col("df"), explode(flatten(transform(
        filter(col("ds"), a => a % 5 === 0), a =>
          transform(filter(col("ds"), b => b =!= a), b =>
            struct(a.as("pa"), b.as("pb")))))).as("p"))
      .select(col("p.pa"), col("p.pb"), col("df"))

  /** Per-doc census over the df-annotated chunk frame: surviving sizes
    * at every needed cap plus the gtCap-excluded count, in ONE map-side-
    * combined aggregation. r17 (VERDICT #5): the old form carried each
    * member's per-cap sizes through the bucket expansion as window
    * columns on every chunk row — shuffling the full chunk stream by
    * doc_id and fattening every collect_list struct by |caps| columns.
    * Pre-aggregating to the doc grain and joining at the PAIR grain
    * moves doc-sized and pair-sized rows instead (§2.3 shuffle fewer
    * bytes); the census is staged because the scoreboard/dial read it
    * from 3 branches (gt-exclusion audit + both pair sides) and it is
    * doc-grain tiny — the r16 small-frames staging rule. */
  private def cdcDocCensus(chunks: org.apache.spark.sql.DataFrame,
                           gtCap: Int, caps: Seq[Int])
      : org.apache.spark.sql.DataFrame = {
    val sizeCols = caps.map(c =>
      count(when(col("df") <= c, 1)).as(s"n$c")) :+
      count(when(col("df") > gtCap, 1)).as("gt_excluded_cfps")
    graft.Staging.stage(
      chunks.groupBy("doc_id")
        .agg(count(when(col("df") <= gtCap, 1)).as("nr"), sizeCols: _*))
  }

  private[graft] def cdcScoreboard(media: org.apache.spark.sql.DataFrame,
                                   gtCap: Int = CdcGtCap)
      : org.apache.spark.sql.DataFrame = {
    val chunks = cdcChunkFrame(media)
    // one staged doc-grain census serves the gt-exclusion audit and both
    // size attachments (pair grain) — the nr window and its full-stream
    // doc_id exchange are gone from the exact side (r17, §2.3)
    val census = cdcDocCensus(chunks, gtCap, Nil)
    val gtx = census.filter(col("doc_id") % 5 === 0)
      .select(col("doc_id").as("pa"), col("gt_excluded_cfps"))
    val exact = cdcExactPairs(chunks, gtCap)
      .groupBy("pa", "pb")
      .agg(count(lit(1)).as("shared"))
      .join(census.select(col("doc_id").as("pa"), col("nr").as("nra")), "pa")
      .join(census.select(col("doc_id").as("pb"), col("nr").as("nrb")), "pb")
      .withColumn("containment_ppm",
        expr("1000000 * shared div least(nra, nrb)"))
      .filter(col("containment_ppm") >= CdcContainmentFloorPpm)
    // symmetrize by exploding both orientations from ONE pass over the
    // shipped pairs — a unionAll of two selects would rebuild the whole
    // q253 pipeline (and its payload scan) per branch
    val aps = cdcContainmentPairsUnsorted(media)
      .select(explode(array(
        struct(col("doc_a").as("pa"), col("doc_b").as("pb")),
        struct(col("doc_b").as("pa"), col("doc_a").as("pb")))).as("s"))
      .select(col("s.pa"), col("s.pb"))
      .withColumn("hit", lit(1))
    exact.join(aps, Seq("pa", "pb"), "left")
      .groupBy("pa")
      .agg(count(lit(1)).as("exact_cnt"), count(col("hit")).as("hits"),
        coalesce(max(when(col("hit").isNull, col("containment_ppm"))), lit(0L))
          .as("worst_miss_ppm"))
      .join(gtx, Seq("pa"))
      .select(col("pa").as("panel_doc"), col("exact_cnt"), col("hits"),
        expr("hits * 1000000 div exact_cnt").as("recall_ppm"),
        col("worst_miss_ppm"), col("gt_excluded_cfps"))
      .orderBy("panel_doc")
  }

  /** The q276 bucket-cap dial for the CDC chunk index — the dial matrix's
    * last cell. One shared pass grades every swept cap, but the survival
    * rule generalizes the SimHash dials' smallest-shared-bucket trick
    * twice over: a CDC pair survives cap c iff its cap-c shared count
    * over its cap-c sizes still clears the containment floor — a
    * THRESHOLD over the c-universe, not an any-bucket collision — so
    * each exact pair carries per-cap conditional shared counts AND each
    * doc per-cap conditional sizes, graded against q253's predicate
    * verbatim. The cap-[[DedupQueries.MaxBucket]] row therefore
    * reproduces q253's grading exactly, and the deepest row is the
    * ground truth itself (recall_ppm = 1000000 by construction — the
    * reference-point identity, both MultimodalSpec pins). Because
    * denominators grow with the cap, recall is NOT monotone: a deeper
    * cap can admit boilerplate into a doc's universe faster than it
    * adds shared chunks, and the dial prices exactly that trade. Exact
    * side and `gt_excluded_cfps` accounting are q275's. */
  private[graft] def cdcCapDial(media: org.apache.spark.sql.DataFrame,
                                floorPpm: Long = DedupQueries.CapRecallFloorPpm,
                                caps: Seq[Int] = DedupQueries.CapSweep)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val gtCap = caps.max
    val chunks = cdcChunkFrame(media)
    // per-cap per-doc sizes pre-aggregated to the doc grain and joined at
    // the PAIR grain (r17, §2.3): the old form rode |caps| window columns
    // on every chunk row through the bucket expansion
    val census = cdcDocCensus(chunks, gtCap, caps)
    val gtExcluded = census.filter(col("doc_id") % 5 === 0)
      .agg(coalesce(sum(col("gt_excluded_cfps")), lit(0L))
        .as("gt_excluded_cfps"))
    val pairAggs = count(lit(1)).as("shared") +:
      caps.map(c => sum(when(col("df") <= c, 1L)).as(s"s$c"))
    val exact = cdcExactPairs(chunks, gtCap)
      .groupBy("pa", "pb")
      .agg(pairAggs.head, pairAggs.tail: _*)
      .join(census.select(col("doc_id").as("pa") +:
        caps.map(c => col(s"n$c").as(s"na$c")): _*), "pa")
      .join(census.select(col("doc_id").as("pb") +:
        caps.map(c => col(s"n$c").as(s"nb$c")): _*), "pb")
      .filter(expr(s"1000000 * shared div least(na$gtCap, nb$gtCap)") >=
        CdcContainmentFloorPpm)
    val agged = exact.agg(count(lit(1)).as("exact_cnt"),
      caps.map(c => sum(when(
        expr(s"1000000 * s$c div nullif(least(na$c, nb$c), 0)") >=
          CdcContainmentFloorPpm, 1L)).as(s"h$c")): _*)
    val all = Window.partitionBy(lit(1))
    agged.select(col("exact_cnt"),
      explode(array(caps.map(c => struct(lit(c.toLong).as("cap"),
        coalesce(col(s"h$c"), lit(0L)).as("hits"))): _*)).as("cr"))
      .select(col("cr.cap").as("cap"), col("exact_cnt"), col("cr.hits").as("hits"))
      .withColumn("recall_ppm",
        expr("coalesce(hits * 1000000 div nullif(exact_cnt, 0), 0)"))
      .withColumn("meets_floor", col("recall_ppm") >= lit(floorPpm))
      .withColumn("chosen", col("cap") === coalesce(
        min(when(col("recall_ppm") >= lit(floorPpm), col("cap"))).over(all),
        max(col("cap")).over(all)))
      .crossJoin(broadcast(gtExcluded))
      .orderBy("cap")
  }

  /** The q276 dial reading as an OPERATING PARAMETER: the minimal swept
    * cap whose panel recall meets `floorPpm` — a scalar read off a
    * caps-sized frame, consumed by the next chunk-index build. */
  def calibratedCdcCap(s: SparkSession, dir: String,
                       floorPpm: Long = DedupQueries.CapRecallFloorPpm): Int =
    cdcCapDial(Tables.documents(s, dir)
        .select(col("doc_id"), mediaPayload.as("payload")), floorPpm)
      .filter(col("chosen")).select(col("cap")).head.getLong(0).toInt

  /** q253's containment pairs at the dial-chosen cap —
    * [[DedupQueries.MaxBucket]] is now only the DEFAULT this entry point
    * replaces, completing the calibrated loop for the chunk index. */
  def cdcContainmentCalibrated(s: SparkSession, dir: String,
                               floorPpm: Long = DedupQueries.CapRecallFloorPpm)
      : org.apache.spark.sql.DataFrame =
    cdcContainmentPairs(Tables.documents(s, dir)
        .select(col("doc_id"), mediaPayload.as("payload")),
      calibratedCdcCap(s, dir, floorPpm))

  /** (doc_id, sim): byte-shingle SimHash signatures of any
    * `(doc_id, payload: binary)` frame — rolling 8-byte windows folded to
    * the shared shingle-fp space by the native one-pass
    * `graft_byte_shingles` expression (distinct per doc), then collapsed
    * row-locally by the native SimHash expression. The payload is walked
    * ONCE as raw bytes inside the scan stage; only the DuckDB oracle goes
    * through the hex representation (the oracle shares the arithmetic,
    * not the plan). `length(payload) >= 8` is the octet-count equivalent
    * of the oracle's `len(bv) >= 8` gate and costs no shingle recompute —
    * filtering on a derived shingle column would re-inline the build
    * (the round-2 alias-inlining poison this expression exists to kill;
    * ScaleDesignSpec pins the build appears exactly once in q252's plan). */
  private[graft] def byteSimhashSigs(media: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    media
      .filter(length(col("payload")) >= 8)
      .select(col("doc_id"),
        graft.functions.Sketches.simhashArray(
          graft.functions.Sketches.byteShingles(
            col("payload"), DedupQueries.ShingleP)).as("sim"))

  /** Byte-shingle near-dup pairs of any `(doc_id, payload)` frame — the
    * full q252 pipeline, exposed so specs can grade recall on planted
    * payloads through exactly the shipped plan. */
  private[graft] def byteSimhashPairs(media: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    DedupQueries.simhashNearDupPairs(byteSimhashSigs(media))

  /** [[byteSimhashPairs]] without the presentation sort — for the q263
    * scoreboard, whose grading join is order-blind. */
  private[graft] def byteSimhashPairsUnsorted(media: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    DedupQueries.simhashNearDupPairsUnsorted(byteSimhashSigs(media))

  /** q260's consensus classification over any text-side and media-side
    * pair frames `(doc_a, doc_b, hamming)` — ONE definition serves the
    * live q260 composition and the release-resolved stored-pillar serve
    * ([[IndexLifecycle.crossModalConsensusAtRelease]]). */
  private[graft] def crossModalConsensus(tp: org.apache.spark.sql.DataFrame,
                                         mp: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    tp.select(col("doc_a"), col("doc_b"), col("hamming").as("text_hamming"))
      .join(mp.select(col("doc_a"), col("doc_b"),
        col("hamming").as("media_hamming")), Seq("doc_a", "doc_b"),
        "full_outer")
      .select(col("doc_a"), col("doc_b"),
        when(col("text_hamming").isNotNull && col("media_hamming").isNotNull,
          "both")
          .when(col("text_hamming").isNotNull, "text_only")
          .otherwise("media_only").as("modality"),
        col("text_hamming"), col("media_hamming"))
      .orderBy("doc_a", "doc_b")

  final case class AudioRow(doc_id: Long, payload: Array[Byte])
  final case class AudioFeatures(doc_id: Long, sample_rate: Long,
                                 channels: Long, n_frames: Long,
                                 duration_micros: Long)

  /** Little-endian byte packing as a column: fixed-width hex, then the byte
    * pairs reversed (the RIFF convention; [[be]] is the network-order dual). */
  private def le(c: Column, hexDigits: Int): Column = {
    val h = lpad(hex(c), hexDigits, "0")
    unhex(concat((hexDigits / 2 to 1 by -1).map(i => substring(h, i * 2 - 1, 2)): _*))
  }

  /** Chunk-walking WAV parser: validates RIFF/WAVE, reads fmt (PCM layout),
    * skips unknown chunks by their declared size (word-aligned), and derives
    * frame count + integer-micros duration from the data chunk's size. */
  def parseWav(r: AudioRow): AudioFeatures = {
    val b = r.payload
    def u8(i: Int): Int = b(i) & 0xff
    def le16(i: Int): Int = u8(i) | (u8(i + 1) << 8)
    def le32(i: Int): Long = (u8(i) | (u8(i + 1) << 8) | (u8(i + 2) << 16) |
      (u8(i + 3).toLong << 24)) & 0xffffffffL
    def tag(i: Int): String = new String(b, i, 4, "US-ASCII")
    require(b.length >= 12 && tag(0) == "RIFF" && tag(8) == "WAVE",
      s"not a RIFF/WAVE payload (${b.length} bytes)")
    var sampleRate = -1L; var channels = -1; var blockAlign = -1
    var dataSize = -1L
    var i = 12
    while (i + 8 <= b.length && dataSize < 0) {
      val id = tag(i); val sz = le32(i + 4)
      if (id == "fmt ") {
        require(le16(i + 8) == 1, "not PCM")
        channels = le16(i + 10)
        sampleRate = le32(i + 12)
        blockAlign = le16(i + 20)
      } else if (id == "data") {
        dataSize = sz
      }
      // chunks are word-aligned: odd sizes carry a pad byte
      i += 8 + sz.toInt + (sz.toInt & 1)
    }
    require(sampleRate > 0 && channels > 0 && dataSize >= 0,
      "missing fmt or data chunk")
    val frames = dataSize / blockAlign
    AudioFeatures(r.doc_id, sampleRate, channels, frames,
      frames * 1000000L / sampleRate)
  }

  final case class VideoRow(doc_id: Long, payload: Array[Byte])
  final case class FrameSample(doc_id: Long, frame_idx: Long, digest: Long)

  val FrameBytes = 16

  /** Parse the container header, sample every `stride`-th frame, digest the
    * sampled frames' bytes (sum of unsigned bytes — a stand-in for the
    * per-frame feature a real pipeline computes after decode). */
  def sampleFrames(r: VideoRow, stride: Int): Iterator[FrameSample] = {
    val b = r.payload
    def u8(i: Int): Int = b(i) & 0xff
    val nf = (u8(0) << 24) | (u8(1) << 16) | (u8(2) << 8) | u8(3)
    require(b.length == 4 + nf * FrameBytes,
      s"corrupt container: ${b.length} bytes for $nf frames")
    Iterator.range(0, nf, stride).map { j =>
      val off = 4 + j * FrameBytes
      var digest = 0L
      var i = off
      while (i < off + FrameBytes) { digest += u8(i); i += 1 }
      FrameSample(r.doc_id, j.toLong, digest)
    }
  }

  /** q267's linear downsample factor (dims halve, body strides by its
    * square — the area scaling of a 2× resize). */
  val ResizeFactor = 2

  /** The resize/transcode stage kernel — payload IN, payload OUT (the
    * q68 note's promised shape): parse the envelope header from the
    * BYTES, halve the declared dimensions, stride the body by
    * ResizeFactor² (a deterministic stand-in for the pixel resample a
    * real codec performs), and re-emit a VALID envelope of the same
    * format with the new dims patched into the header — the output
    * re-decodes through [[parseImageDims]] like any other payload, which
    * is what lets resized media flow back into every payload-consuming
    * stage (q51 decode, q252 near-dup, q253 chunking) unchanged. A
    * payload that doesn't parse returns None (the q257 drop-with-guard
    * discipline). */
  def resizeEnvelope(b: Array[Byte]): Option[Array[Byte]] =
    parseImageDims(b).flatMap { case (fmt, w, h) =>
      val hdrLen = if (fmt == "png") PngHeaderLen else JpegHeaderLen
      if (b.length < hdrLen) None
      else {
        val hdr = java.util.Arrays.copyOf(b, hdrLen)
        def be(off: Int, width: Int, v: Int): Unit = {
          var i = 0
          while (i < width) { hdr(off + i) = (v >>> (8 * (width - 1 - i))).toByte; i += 1 }
        }
        if (fmt == "png") { be(16, 4, w / ResizeFactor); be(20, 4, h / ResizeFactor) }
        else { be(7, 2, h / ResizeFactor); be(9, 2, w / ResizeFactor) }
        val bodyLen = b.length - hdrLen
        val stride = ResizeFactor * ResizeFactor
        val out = new Array[Byte](hdrLen + (bodyLen + stride - 1) / stride)
        System.arraycopy(hdr, 0, out, 0, hdrLen)
        var i = 0
        while (i * stride < bodyLen) { out(hdrLen + i) = b(hdrLen + i * stride); i += 1 }
        Some(out)
      }
    }

  final case class ResizedMedia(doc_id: Long, format: String, width: Long,
                                height: Long, n_bytes_in: Long,
                                n_bytes_out: Long, payload_fp: Long)

  /** Base-256-mod-P fold of a whole payload — the replayable content
    * fingerprint the oracle recomputes from hex (q253's chunk-fold
    * arithmetic over the full byte stream). */
  private[graft] def payloadFp(b: Array[Byte]): Long = {
    var acc = 0L
    var i = 0
    while (i < b.length) { acc = (acc * 256L + (b(i) & 0xffL)) % DedupQueries.ShingleP; i += 1 }
    acc
  }

  /** The full q267 stage: resize, then RE-DECODE the emitted envelope —
    * the reported format/dims come from the OUTPUT bytes, so equality
    * with the oracle's arithmetic expectation proves the patched header
    * round-trips through the same parser every other stage uses. */
  def resizeAndAudit(r: VideoRow): Iterator[ResizedMedia] =
    resizeEnvelope(r.payload).flatMap { out =>
      parseImageDims(out).map { case (fmt, w, h) =>
        ResizedMedia(r.doc_id, fmt, w.toLong, h.toLong,
          r.payload.length.toLong, out.length.toLong, payloadFp(out))
      }
    }.iterator
}
