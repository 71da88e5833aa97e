package graft.ops

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.encoders.RowEncoder
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal column plumbing (north star): image/audio/video as opaque
  * BINARY columns with typed metadata, processed per-partition in bounded
  * batches.
  *
  * graft ships no codecs, so nothing decodes pixels or samples.
  * What runs for real is what plain container bytes carry: header
  * dimensions, rates and EXIF orientation (sniffHeader, mediaMetadata),
  * and content-addressed dedup of the payload (dedupMedia). The
  * mapPartitions kernel shape of mediaMetadata is the one a JNI/FFI
  * decoder would plug into (the Scala analogue of a mapInPandas batch
  * kernel).
  */
object Multimodal {

  /** media table schema: opaque payload + typed metadata. */
  val mediaSchema: StructType = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("kind", StringType, nullable = false), // image | audio | video
    StructField("content", BinaryType, nullable = false),
    StructField("meta", StructType(Seq(
      StructField("source", StringType),
      StructField("mime", StringType),
      StructField("bytes", LongType))), nullable = false),
  ))

  /** Build a deterministic synthetic media table from the documents table
    * (payload = UTF-8 text bytes) — gives the pipeline real binary columns
    * without external fixtures.
    */
  def syntheticMedia(spark: SparkSession, dir: String): DataFrame =
    graft.io.Sources.documents(spark, dir).select(
      col("doc_id").as("media_id"),
      element_at(array(lit("image"), lit("audio"), lit("video")),
        (pmod(col("doc_id"), lit(3)) + 1).cast("int")).as("kind"),
      encode(col("text"), "UTF-8").as("content"),
      struct(col("source").as("source"), lit("application/octet-stream").as("mime"),
             col("n_chars").as("bytes")).as("meta"))

  /** Content-addressed exact dedup of binary media — REAL, not stubbed:
    * md5 over the payload bytes (Spark's md5 accepts binary directly, no
    * decode), keep the lowest media_id per digest. Delegates to the one
    * shared keep-rule in Text.exactDedup so the text and binary dedup
    * semantics can never drift apart.
    */
  def dedupMedia(media: DataFrame): DataFrame =
    Text.exactDedup(media, "content", "media_id")

  /** q_media_dedup: the content-addressed BINARY dedup as a declared,
    * oracle-gated key — dedupMedia over the synthetic media table (md5 of
    * the payload bytes, keep the lowest media_id per digest), then per-kind
    * stats of the kept rows. The hash runs on the binary column; the
    * oracle's twin hashes the same bytes via DuckDB md5(text) (the payload
    * IS the UTF-8 encoding of text, so the digests coincide). Binary never
    * appears in the declared OUTPUT (contract: no binary output columns).
    */
  def mediaDedupQuery(spark: SparkSession, dir: String): DataFrame =
    dedupMedia(syntheticMedia(spark, dir))
      .groupBy(col("kind"))
      .agg(count(lit(1)).as("n_kept"),
           sum(col("media_id")).as("sum_id"),
           sum(col("meta.bytes")).as("sum_bytes"))
      .orderBy(col("kind"))

  /** REAL media header parsing — NOT a stub. Container headers are plain
    * bytes; no codec library is needed to read dimensions/rates out of
    * them, so this part of the "decode" story runs for real even in this
    * codec-less environment (full pixel/sample decode stays env-blocked).
    * Formats: PNG (IHDR), JPEG (SOF0/1/2 marker scan),
    * GIF (87a/89a logical screen), BMP (BITMAPINFOHEADER), WAV (RIFF fmt
    * chunk scan), MP4/ISO-BMFF (ftyp gate + moov>trak>tkhd box walk,
    * 16.16 fixed-point dims — ISO 14496-12), MP3 (ID3v2 syncsafe skip +
    * frame-sync scan, version/layer-resolved sample rate, mono detect).
    * Returns (format, width, height, sample_rate, channels)
    * with nulls where the notion doesn't apply; unknown magic → ("unknown",
    * nulls) — never throws on truncated or hostile input (a 100 TB media
    * lake WILL contain garbage; the quarantine decision belongs to the
    * caller, CSV-quarantine style).
    */
  def sniffHeader(b: Array[Byte]): (String, Option[Int], Option[Int], Option[Int], Option[Int]) = {
    def u8(i: Int): Int = b(i) & 0xFF
    def be16(i: Int): Int = (u8(i) << 8) | u8(i + 1)
    def be32(i: Int): Long = ((be16(i).toLong << 16) | be16(i + 2)) & 0xFFFFFFFFL
    def le16(i: Int): Int = (u8(i + 1) << 8) | u8(i)
    def le32(i: Int): Long = ((le16(i + 2).toLong << 16) | le16(i)) & 0xFFFFFFFFL
    def ascii(i: Int, s: String): Boolean =
      b.length >= i + s.length && s.indices.forall(j => u8(i + j) == s.charAt(j))
    // a dimension field is trusted only in (0, Int.MaxValue] — a hostile
    // 32-bit value must never truncate into a negative "dimension"
    def dim(v: Long): Option[Int] =
      if (v > 0 && v <= Int.MaxValue) Some(v.toInt) else None
    try {
      if (b == null) ("unknown", None, None, None, None)
      else if (b.length >= 24 && u8(0) == 0x89 && ascii(1, "PNG") &&
          u8(4) == 0x0D && u8(5) == 0x0A && u8(6) == 0x1A && u8(7) == 0x0A &&
          ascii(12, "IHDR"))
        ("png", dim(be32(16)), dim(be32(20)), None, None)
      else if (b.length >= 4 && u8(0) == 0xFF && u8(1) == 0xD8) {
        // JPEG: walk marker segments to the first frame header (SOFn).
        // C4/C8/CC are DHT/JPG/DAC, not frames.
        var i = 2
        var out: (String, Option[Int], Option[Int], Option[Int], Option[Int]) =
          ("jpeg", None, None, None, None)
        var done = false
        while (!done && i + 3 < b.length && u8(i) == 0xFF) {
          val m = u8(i + 1)
          if (m == 0xFF) {
            i += 1 // fill byte: the NEXT byte may itself start the marker
          } else if (m == 0xD8 || (m >= 0xD0 && m <= 0xD7) || m == 0x01) {
            i += 2 // standalone marker
          } else {
            val len = be16(i + 2)
            if (len < 2) { done = true }
            else {
              if ((m >= 0xC0 && m <= 0xCF) && m != 0xC4 && m != 0xC8 && m != 0xCC) {
                if (i + 8 < b.length)
                  out = ("jpeg", Some(be16(i + 7)), Some(be16(i + 5)), None, None)
                done = true
              }
              i += 2 + len
            }
          }
        }
        out
      }
      else if (ascii(0, "GIF87a") || ascii(0, "GIF89a"))
        ("gif", dim(le16(6)), dim(le16(8)), None, None)
      else if (ascii(0, "BM") && b.length >= 26)
        // biHeight is SIGNED (negative = top-down rows): magnitude in
        // Long so 0x80000000 can't survive math.abs as a negative Int
        ("bmp", dim(le32(18)), dim(math.abs(le32(22).toInt.toLong)), None, None)
      else if (ascii(0, "RIFF") && ascii(8, "WAVE")) {
        // chunk scan: "fmt " holds channels (LE16 @+10) and rate (LE32 @+12)
        var i = 12
        var out: (String, Option[Int], Option[Int], Option[Int], Option[Int]) =
          ("wav", None, None, None, None)
        var done = false
        while (!done && i + 8 <= b.length) {
          val sz = le32(i + 4)
          if (ascii(i, "fmt ") && i + 16 <= b.length) {
            out = ("wav", None, None, dim(le32(i + 12)), Some(le16(i + 10)))
            done = true
          } else {
            // chunks are word-aligned; a corrupt size whose step rounds
            // to <= 0 would spin forever — stop scanning instead
            val step = 8L + sz + (sz & 1L)
            if (step <= 0 || i + step > Int.MaxValue) done = true
            else i += step.toInt
          }
        }
        out
      }
      else if (b.length >= 12 && ascii(4, "ftyp")) {
        // MP4 / ISO BMFF (ISO 14496-12): walk top-level boxes to moov,
        // then moov > trak > tkhd; width/height are 16.16 fixed point.
        // Box size 1 = 64-bit largesize; size 0 = "to end of file".
        def be64(i: Int): Long = (be32(i) << 32) | be32(i + 4)
        // returns (payload start, next box start) or None when corrupt
        def box(i: Int, limit: Int): Option[(String, Int, Int)] = {
          if (i + 8 > limit) None
          else {
            val sz = be32(i)
            val tpe = new String(b, i + 4, 4, java.nio.charset.StandardCharsets.US_ASCII)
            val (payload, end) =
              if (sz == 1L && i + 16 <= limit) {
                val lsz = be64(i + 8)
                if (lsz < 16 || lsz > limit - i) (i + 16, limit) else (i + 16, i + lsz.toInt)
              }
              else if (sz == 0L) (i + 8, limit)
              else if (sz < 8 || sz > limit - i) return None // corrupt: stop
              else (i + 8, i + sz.toInt)
            Some((tpe, payload, end))
          }
        }
        def findBox(tpe: String, from: Int, limit: Int): Option[(Int, Int)] = {
          var i = from
          while (i + 8 <= limit) {
            box(i, limit) match {
              case Some((t, p, e)) =>
                if (t == tpe) return Some((p, e))
                if (e <= i) return None // no forward progress: corrupt
                i = e
              case None => return None
            }
          }
          None
        }
        // first trak whose tkhd carries nonzero dims = the video track
        def trakDims(moovP: Int, moovE: Int): (Option[Int], Option[Int]) = {
          var i = moovP
          while (i + 8 <= moovE) {
            box(i, moovE) match {
              case Some((t, p, e)) =>
                if (t == "trak") findBox("tkhd", p, e).foreach { case (tp, te) =>
                  // tkhd payload: version(1)+flags(3), then v0: 20B of
                  // times/ids, v1: 32B; tail to width = 8+2+2+2+2+36 = 52
                  val verOff = if (u8(tp) == 1) 32 else 20
                  val wOff = tp + 4 + verOff + 52
                  if (wOff + 8 <= te) {
                    val w = dim(be32(wOff) >> 16)    // 16.16 fixed -> int part
                    val h = dim(be32(wOff + 4) >> 16)
                    if (w.isDefined && h.isDefined) return (w, h)
                  }
                }
                if (e <= i) return (None, None)
                i = e
              case None => return (None, None)
            }
          }
          (None, None)
        }
        findBox("moov", 0, b.length) match {
          case Some((p, e)) =>
            val (w, h) = trakDims(p, e)
            ("mp4", w, h, None, None)
          case None => ("mp4", None, None, None, None)
        }
      }
      else if (b.length >= 4 &&
               (ascii(0, "ID3") || (u8(0) == 0xFF && (u8(1) & 0xE0) == 0xE0))) {
        // MP3: optional ID3v2 tag (syncsafe 28-bit size), then the first
        // frame header FF Ex: version+layer select the sample-rate table,
        // channel mode 3 = mono
        var i = 0
        if (ascii(0, "ID3") && b.length >= 10) {
          val syncsafe = ((u8(6) & 0x7F) << 21) | ((u8(7) & 0x7F) << 14) |
                         ((u8(8) & 0x7F) << 7) | (u8(9) & 0x7F)
          i = 10 + syncsafe
        }
        // scan (bounded) for the frame sync — encoders may pad after ID3
        var found = -1
        var scan = i
        val scanEnd = math.min(b.length - 4, i + 4096)
        while (found < 0 && scan >= 0 && scan <= scanEnd) {
          if (u8(scan) == 0xFF && (u8(scan + 1) & 0xE0) == 0xE0) found = scan
          scan += 1
        }
        if (found < 0) ("mp3", None, None, None, None)
        else {
          val h1 = u8(found + 1); val h2 = u8(found + 2); val h3 = u8(found + 3)
          val versionBits = (h1 >> 3) & 0x3 // 0=MPEG2.5, 2=MPEG2, 3=MPEG1
          val layerBits = (h1 >> 1) & 0x3
          val rateIdx = (h2 >> 2) & 0x3
          val base = Array(11025, 12000, 8000) // MPEG2.5 row
          val rate =
            if (versionBits == 1 || layerBits == 0 || rateIdx == 3) None
            else dim((versionBits match {
              case 3 => base(rateIdx) * 4 // MPEG1
              case 2 => base(rateIdx) * 2 // MPEG2
              case _ => base(rateIdx)     // MPEG2.5
            }).toLong)
          val channels = Some(if (((h3 >> 6) & 0x3) == 3) 1 else 2)
          ("mp3", None, None, rate, if (rate.isDefined) channels else None)
        }
      }
      else ("unknown", None, None, None, None)
    } catch { case _: IndexOutOfBoundsException | _: NegativeArraySizeException =>
      ("unknown", None, None, None, None)
    }
  }

  /** EXIF ORIENTATION (tag 0x0112) from a JPEG's APP1 segment — the
    * rotate-before-training signal: a pipeline that ignores it trains on
    * sideways images. REAL byte parsing (no codec): walk JPEG markers to
    * APP1 "Exif\u0000\u0000", then the embedded TIFF structure — byte
    * order (II/MM), magic 42, IFD0 offset, 12-byte IFD entries, SHORT
    * value for tag 0x0112. Returns 1..8, or None when there is no EXIF,
    * no orientation entry, an out-of-range value, or any truncation —
    * never throws (the sniffHeader hostile-input contract).
    */
  def exifOrientation(b: Array[Byte]): Option[Int] = {
    def u8(i: Int): Int = b(i) & 0xFF
    def beU16(i: Int): Int = (u8(i) << 8) | u8(i + 1)
    try {
      if (b == null || b.length < 4 || u8(0) != 0xFF || u8(1) != 0xD8) return None
      // marker walk to the Exif-bearing APP1: a JPEG may carry SEVERAL
      // APP1 segments (XMP often precedes Exif), so a non-Exif APP1 is
      // skipped, never treated as "no EXIF"
      def isExifAt(p: Int): Boolean =
        p + 6 <= b.length &&
          u8(p) == 'E' && u8(p + 1) == 'x' && u8(p + 2) == 'i' &&
          u8(p + 3) == 'f' && u8(p + 4) == 0 && u8(p + 5) == 0
      var i = 2
      var app1 = -1
      var done = false
      while (!done && app1 < 0 && i + 3 < b.length && u8(i) == 0xFF) {
        val m = u8(i + 1)
        if (m == 0xFF) i += 1
        else if (m == 0xD8 || (m >= 0xD0 && m <= 0xD7) || m == 0x01) i += 2
        else {
          val len = beU16(i + 2)
          if (len < 2) done = true
          else {
            if (m == 0xE1 && isExifAt(i + 4)) app1 = i + 4 // payload start
            else if (m == 0xDA) done = true // entropy-coded data: stop
            i += 2 + len
          }
        }
      }
      if (app1 < 0 || app1 + 14 > b.length) return None
      val tiff = app1 + 6
      val little = u8(tiff) == 'I' && u8(tiff + 1) == 'I'
      val big = u8(tiff) == 'M' && u8(tiff + 1) == 'M'
      if (!little && !big) return None
      def u16(i: Int): Int = if (little) (u8(i + 1) << 8) | u8(i) else beU16(i)
      def u32(i: Int): Long =
        if (little) ((u16(i + 2).toLong << 16) | u16(i)) & 0xFFFFFFFFL
        else ((u16(i).toLong << 16) | u16(i + 2)) & 0xFFFFFFFFL
      if (u16(tiff + 2) != 42) return None
      val ifd0 = tiff + u32(tiff + 4).toInt
      if (ifd0 + 2 > b.length) return None
      val n = u16(ifd0)
      var e = 0
      while (e < n) {
        val entry = ifd0 + 2 + e * 12
        if (entry + 12 > b.length) return None
        if (u16(entry) == 0x0112 && u16(entry + 2) == 3) { // SHORT orientation
          val v = u16(entry + 8) // value packed in the first 2 value bytes
          return if (v >= 1 && v <= 8) Some(v) else None
        }
        e += 1
      }
      None
    } catch { case _: IndexOutOfBoundsException => None }
  }

  // ---------- synthetic REAL-header media (round 9) ----------

  /** Deterministic dimension/rate formulas for synthetic headered media —
    * shared (by construction) with the q_media_meta DuckDB oracle, which
    * recomputes them straight from doc_id. doc_id % 3 picks the format:
    * 0 → PNG, 1 → WAV, 2 → MP4.
    */
  def synthPngW(id: Long): Int = (16 + id % 320).toInt
  def synthPngH(id: Long): Int = (16 + (id * 7) % 200).toInt
  def synthWavRate(id: Long): Int = (8000 + (id % 8) * 4000).toInt
  def synthWavCh(id: Long): Int = (1 + id % 2).toInt
  def synthMp4W(id: Long): Int = (160 + id % 160).toInt
  def synthMp4H(id: Long): Int = (90 + id % 90).toInt

  /** Build REAL container bytes for one synthetic media row: a structurally
    * valid PNG signature+IHDR, a RIFF/WAVE fmt chunk, or an ISO-BMFF
    * ftyp+moov>trak>tkhd box tree — the exact structures sniffHeader
    * parses. This closes the synthesize→parse roundtrip so the metadata
    * path is testable against an arithmetic oracle (the dims/rates are
    * pure formulas of doc_id). CRC fields are zeroed (no sniffer reads
    * them; a full decoder is env-blocked anyway).
    */
  def syntheticMediaBytes(id: Long): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(160) // BE by default
    (id % 3) match {
      case 0 => // PNG: 8-byte signature, IHDR length+type+w+h+bits+...
        bb.put(Array(0x89, 'P', 'N', 'G', 0x0D, 0x0A, 0x1A, 0x0A).map(_.toByte))
        bb.putInt(13).put("IHDR".getBytes("US-ASCII"))
        bb.putInt(synthPngW(id)).putInt(synthPngH(id))
        bb.put(8.toByte).put(6.toByte).put(0.toByte).put(0.toByte).put(0.toByte)
        bb.putInt(0) // CRC (unchecked)
      case 1 => // WAV: RIFF size WAVE, fmt chunk (PCM, ch, rate), data stub
        val le = java.nio.ByteBuffer.allocate(44).order(java.nio.ByteOrder.LITTLE_ENDIAN)
        val rate = synthWavRate(id); val ch = synthWavCh(id)
        le.put("RIFF".getBytes("US-ASCII")).putInt(36)
          .put("WAVE".getBytes("US-ASCII")).put("fmt ".getBytes("US-ASCII"))
          .putInt(16).putShort(1).putShort(ch.toShort).putInt(rate)
          .putInt(rate * ch * 2).putShort((ch * 2).toShort).putShort(16)
          .put("data".getBytes("US-ASCII")).putInt(0)
        bb.put(le.array(), 0, le.position())
      case _ => // MP4: ftyp(16) + moov(8 + trak(8 + tkhd(92)))
        bb.putInt(16).put("ftyp".getBytes("US-ASCII"))
          .put("isom".getBytes("US-ASCII")).putInt(0)
        bb.putInt(108).put("moov".getBytes("US-ASCII"))
        bb.putInt(100).put("trak".getBytes("US-ASCII"))
        bb.putInt(92).put("tkhd".getBytes("US-ASCII"))
        bb.putInt(0)                       // version 0 + flags
        bb.putInt(0).putInt(0).putInt(1).putInt(0).putInt(0) // times/id/rsvd/dur (20 B)
        bb.put(new Array[Byte](52))        // reserved+layer+volume+matrix (52 B)
        bb.putInt(synthMp4W(id) << 16).putInt(synthMp4H(id) << 16) // 16.16 fixed
    }
    java.util.Arrays.copyOf(bb.array(), bb.position())
  }

  private val headeredSchema: StructType = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("content", BinaryType, nullable = false)))

  /** Synthetic media table whose payloads carry REAL parseable headers
    * (PNG/WAV/MP4 cycling on doc_id). Partition-batched generation — the
    * write-side twin of the decode kernel's mapPartitions contract.
    */
  def syntheticHeaderedMedia(spark: SparkSession, dir: String): DataFrame = {
    val enc = RowEncoder.encoderFor(headeredSchema)
    graft.io.Sources.documents(spark, dir).select(col("doc_id")).mapPartitions { it =>
      it.map { r =>
        val id = r.getLong(0)
        Row(id, syntheticMediaBytes(id))
      }
    }(enc)
  }

  /** q_media_meta: the REAL header-parsing path as a declared, oracle-gated
    * key — synthesize container bytes per doc_id (syntheticMediaBytes),
    * parse them back with sniffHeader (the same parser production media
    * triage runs), roll up per format. The DuckDB oracle recomputes every
    * dimension/rate ARITHMETICALLY from doc_id, so the gate proves the
    * byte-level synthesize→parse roundtrip is exact — a corrupted offset
    * in either the builder or the parser breaks the hash match.
    */
  def mediaMetaQuery(spark: SparkSession, dir: String): DataFrame =
    mediaMetadata(syntheticHeaderedMedia(spark, dir))
      .groupBy(col("format"))
      .agg(count(lit(1)).as("n"),
           min(col("width")).as("min_width"), max(col("width")).as("max_width"),
           min(col("height")).as("min_height"), max(col("height")).as("max_height"),
           min(col("sample_rate")).as("min_rate"), max(col("sample_rate")).as("max_rate"),
           sum(col("channels")).as("sum_channels"))
      .orderBy(col("format"))

  val headerSchema: StructType = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("format", StringType, nullable = false),
    StructField("width", IntegerType),
    StructField("height", IntegerType),
    StructField("sample_rate", IntegerType),
    StructField("channels", IntegerType)))

  /** Header metadata over a media frame — a partition-batched kernel
    * that is REAL (pure-JVM byte parsing). At 100 TB this is the first pass of media triage:
    * format census, dimension filters, corrupt-file quarantine — all
    * without a decoder in the loop.
    */
  def mediaMetadata(media: DataFrame): DataFrame = {
    val enc = RowEncoder.encoderFor(headerSchema)
    media.select("media_id", "content").mapPartitions { it =>
      it.map { r =>
        // positional access: rows deserialized from an upstream encoder
        // (e.g. syntheticHeaderedMedia's kernel) carry no field schema
        val (fmt, w, h, sr, ch) = sniffHeader(r.getAs[Array[Byte]](1))
        Row(r.getLong(0), fmt, w.map(Int.box).orNull, h.map(Int.box).orNull,
            sr.map(Int.box).orNull, ch.map(Int.box).orNull)
      }
    }(enc)
  }
}
