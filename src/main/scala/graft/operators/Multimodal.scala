package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Multimodal column plumbing: image/audio/video as opaque BINARY
  * columns with a typed metadata struct, plus decode / resize /
  * frame-sample operators.
  *
  * Decode status: IMAGES decode for real — [[imageGridDecoder]] runs
  * the JDK's own `javax.imageio` codecs (PNG/JPEG/GIF/BMP,
  * headless-safe) down to the luma grid [[dHash60]] hashes
  * (MultimodalCodecSpec checks it on real PNGs). AUDIO is the column
  * pipeline over samples: [[windowEnergies]] computes the per-window
  * energy grid q304 checks against the oracle. VIDEO decodes for real
  * for the one container a stock JDK can honestly own: MJPEG (or
  * raw-DIB) frames in an AVI/RIFF container — [[aviFrames]] walks the RIFF
  * chunk tree (pure public byte-format knowledge: fourcc + LE u32
  * size + even padding), and [[videoFrameDecoder]] feeds each frame
  * through the SAME JDK ImageIO path [[imageGridDecoder]] already
  * uses, so container walk + per-frame decode + grid compose from
  * proven parts (VideoCodecSpec pins the law
  * `videoFrameDecoder(aviBytes(frames)) == frames.map(grid)` plus
  * the quarantine matrix). Codecs the JDK lacks (H.264 etc.)
  * quarantine per the q304 law: an empty grid, never a throw.
  * `decodePixelsStub` remains as the generic non-JDK-codec seam
  * demo.
  */
object Multimodal {

  // ImageIO defaults to a DISK-backed stream cache: every
  // ImageIO.read/write on a raw Input/OutputStream wraps it in a
  // FileCache*Stream and pays temp-file I/O per image — 32 decode
  // tasks × frames/doc turned q308's 1.2 s solo cost into 8.5 s
  // inside the contended r12 bench sweep. Our payloads are small
  // in-memory byte arrays; the memory cache is strictly better.
  javax.imageio.ImageIO.setUseCache(false)

  /** Attach a deterministic binary payload + typed metadata to any
    * text-bearing table (used to materialize a multimodal fixture from
    * `documents`). kind cycles image/audio/video by id.
    */
  def attachMedia(df: DataFrame, idCol: String, textCol: String)
      : DataFrame = {
    val id = col(idCol)
    val kind = when(id % 3 === 0, "image")
      .when(id % 3 === 1, "audio").otherwise("video")
    df.select(
      id.as("media_id"),
      kind.as("kind"),
      encode(col(textCol), "utf-8").as("bytes"),
      struct(
        when(kind === "image", "png").when(kind === "audio", "wav")
          .otherwise("mp4").as("format"),
        (pmod(id * 37, lit(1216)) + 64).cast("int").as("width"),
        (pmod(id * 53, lit(656)) + 64).cast("int").as("height"),
        (pmod(id * 7, lit(240)) + 1).cast("int").as("duration_s"))
        .as("meta"))
  }

  /** 60-bit difference hash (dHash) of a row-major 6×11 grayscale
    * grid — the perceptual image fingerprint near-dup pipelines bucket
    * on: bit (r, c) = grid(r, c+1) > grid(r, c), 10 gradient bits per
    * row × 6 rows = 60 bits (the repo's simhash width, so
    * [[Dedup.hashNearDupPairs]]' 4×15 banding applies unchanged, and
    * bit 59 stays clear of the BIGINT sign — DuckDB's `<<` overflows
    * at bit 63, Spark's wraps; 60 bits sidesteps both). Pure column
    * arithmetic over the grid, so a deterministic pixel source is
    * oracle-checkable end-to-end; real decodes feed the same grid from
    * [[imageGridDecoder]] (spec-proven — codecs can't run in SQL).
    *
    * @param gray array<long> of 66 luma values, row-major 6 rows × 11
    *             columns (the downsample: one column overlap per
    *             gradient, the standard dHash shape)
    */
  def dHash60(gray: Column): Column =
    aggregate(
      transform(sequence(lit(0), lit(59)), i => {
        val r = floor(i / 10).cast("int")
        val c = (i % 10).cast("int")
        val idx0 = r * 11 + c
        when(element_at(gray, idx0 + 2) > element_at(gray, idx0 + 1),
          call_function("shiftleft", lit(1L), i)).otherwise(lit(0L))
      }),
      lit(0L), (acc, x) => acc.bitwiseOR(x))

  /** Real-codec feeder for [[dHash60]]: decode image bytes with the
    * JDK codec and block-average the luma plane down to a rows×cols
    * grid (rows=6, cols=11 for the 60-bit hash). Integer floors
    * everywhere — the grid is deterministic for given bytes, so the
    * downstream hash/banding pipeline behaves exactly as the
    * oracle-checked synthetic-grid path (q303). Returns empty on
    * undecodable bytes: at corpus scale a bad blob must quarantine,
    * never kill the job.
    */
  def imageGridDecoder(rows: Int, cols: Int)
      : Array[Byte] => Seq[Long] = {
    // fail at construction on the driver: a 0/negative grid would
    // divide by zero inside every task
    require(rows > 0 && cols > 0, "grid dims must be positive")
    bytes =>
    val img =
      try javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(bytes))
      // NonFatal only: undecodable bytes quarantine, but an OOM or
      // linkage error must kill the task, not masquerade as bad data
      catch { case scala.util.control.NonFatal(_) => null }
    if (img == null) Seq.empty
    else {
      val w = img.getWidth
      val h = img.getHeight
      (0 until rows).flatMap { r =>
        (0 until cols).map { c =>
          val x0 = c * w / cols
          val x1 = math.max(x0 + 1, (c + 1) * w / cols)
          val y0 = r * h / rows
          val y1 = math.max(y0 + 1, (r + 1) * h / rows)
          var s = 0L
          var n = 0L
          var y = y0
          while (y < y1) {
            var x = x0
            while (x < x1) {
              val rgb = img.getRGB(math.min(x, w - 1),
                math.min(y, h - 1))
              s += (299L * ((rgb >> 16) & 0xff)
                + 587L * ((rgb >> 8) & 0xff)
                + 114L * (rgb & 0xff)) / 1000L
              n += 1
              x += 1
            }
            y += 1
          }
          s / n
        }
      }
    }
  }

  /** Per-window audio energies as a PURE COLUMN function: window w
    * (0-based, hop-spaced, trailing partial included) gets
    * Σ sample² over [w·hop, min(w·hop+windowLen, n)) — exact longs,
    * so SQL-synthesized samples are oracle-checkable end-to-end.
    * Computed by the native
    * [[graft.plans.WindowEnergiesExpr]] kernel (one primitive loop
    * per row — the HOF form boxed every sample ~window/hop times and
    * dominated q304's bench cost); [[windowEnergiesFold]] keeps the
    * composable semantics it is property-pinned against. Zero samples
    * means an empty array, never a fabricated window.
    *
    * @param samples array<long> of decoded (or synthesized) sample
    *                values
    */
  def windowEnergies(samples: Column, windowLen: Int, hop: Int)
      : Column =
    graft.plans.WindowEnergiesExpr(samples, windowLen, hop)

  /** The composable fold form (interpreted HOFs) — kept as the
    * reference semantics [[graft.plans.WindowEnergiesExpr]] is
    * property-tested against (the [[Similarity.dotFold]] convention).
    * Same descending-`sequence` guard as [[sampleFrames]].
    */
  def windowEnergiesFold(samples: Column, windowLen: Int, hop: Int)
      : Column = {
    require(windowLen > 0 && hop > 0, "window and hop must be positive")
    val n = size(samples)
    val nWin = (floor((n - 1) / hop) + 1).cast("int")
    when(n >= 1,
      transform(sequence(lit(0), nWin - 1), w =>
        aggregate(
          slice(samples, w * hop + 1, lit(windowLen)),
          lit(0L), (acc, x) => acc + x * x)))
      .otherwise(array().cast("array<bigint>"))
  }

  // ---- video: MJPEG/DIB-in-AVI (RIFF) — the real decode path ------

  private def le32(v: Long): Array[Byte] = Array(
    (v & 0xff).toByte, ((v >> 8) & 0xff).toByte,
    ((v >> 16) & 0xff).toByte, ((v >> 24) & 0xff).toByte)

  private def rdLe32(b: Array[Byte], off: Int): Long =
    (b(off) & 0xffL) | ((b(off + 1) & 0xffL) << 8) |
      ((b(off + 2) & 0xffL) << 16) | ((b(off + 3) & 0xffL) << 24)

  private def fourcc(b: Array[Byte], off: Int): String =
    new String(b, off, 4, java.nio.charset.StandardCharsets.US_ASCII)

  /** Synthesize a single-video-stream AVI container from already-
    * encoded frame payloads (JPEGs for MJPEG, BMP/DIB for raw) — the
    * fixture-builder direction of [[aviFrames]]. Standard RIFF shape: RIFF('AVI ' LIST('hdrl' avih
    * LIST('strl' strh strf)) LIST('movi' 00dc…) idx1), chunks padded
    * to even length with the size field recording the TRUE length —
    * the detail the parser must honor, so the round-trip law
    * exercises it on odd-sized frames.
    */
  def aviBytes(frames: Seq[Array[Byte]], width: Int, height: Int,
      fps: Int = 5, handler: String = "MJPG"): Array[Byte] = {
    require(fps > 0, "fps must be positive")
    require(handler.length == 4, "fourcc handler must be 4 chars")
    val bos = new java.io.ByteArrayOutputStream()
    def w(bs: Array[Byte]): Unit = bos.write(bs)
    def ws(s: String): Unit =
      w(s.getBytes(java.nio.charset.StandardCharsets.US_ASCII))
    def chunk(id: String, body: Array[Byte]): Array[Byte] = {
      val out = new java.io.ByteArrayOutputStream()
      out.write(id.getBytes(java.nio.charset.StandardCharsets.US_ASCII))
      out.write(le32(body.length.toLong))
      out.write(body)
      if (body.length % 2 == 1) out.write(0) // even padding
      out.toByteArray
    }
    def list(tpe: String, body: Array[Byte]): Array[Byte] = {
      val out = new java.io.ByteArrayOutputStream()
      out.write("LIST".getBytes(java.nio.charset.StandardCharsets.US_ASCII))
      out.write(le32(body.length + 4L))
      out.write(tpe.getBytes(java.nio.charset.StandardCharsets.US_ASCII))
      out.write(body)
      out.toByteArray
    }
    val maxFrame = if (frames.isEmpty) 0 else frames.map(_.length).max
    val isDib = handler == "DIB "
    val ckId = if (isDib) "00db" else "00dc"
    val avih = {
      val o = new java.io.ByteArrayOutputStream()
      o.write(le32(1000000L / fps)) // dwMicroSecPerFrame
      o.write(le32(0)); o.write(le32(0))
      o.write(le32(0x10)) // AVIF_HASINDEX
      o.write(le32(frames.length.toLong))
      o.write(le32(0)); o.write(le32(1)) // streams
      o.write(le32(maxFrame.toLong))
      o.write(le32(width.toLong)); o.write(le32(height.toLong))
      o.write(new Array[Byte](16)) // reserved
      o.toByteArray
    }
    val strh = {
      val o = new java.io.ByteArrayOutputStream()
      o.write("vids".getBytes("US-ASCII"))
      o.write(handler.getBytes("US-ASCII"))
      o.write(le32(0)) // flags
      o.write(le32(0)) // prio + language
      o.write(le32(0)) // initial frames
      o.write(le32(1)) // scale
      o.write(le32(fps.toLong)) // rate
      o.write(le32(0)) // start
      o.write(le32(frames.length.toLong))
      o.write(le32(maxFrame.toLong))
      o.write(le32(0xffffffffL)) // quality
      o.write(le32(0)) // sample size
      o.write(Array[Byte](0, 0, 0, 0, (width & 0xff).toByte,
        ((width >> 8) & 0xff).toByte, (height & 0xff).toByte,
        ((height >> 8) & 0xff).toByte)) // rcFrame
      o.toByteArray
    }
    val strf = {
      val o = new java.io.ByteArrayOutputStream()
      o.write(le32(40)) // biSize
      o.write(le32(width.toLong)); o.write(le32(height.toLong))
      o.write(Array[Byte](1, 0, 24, 0)) // planes=1, bitcount=24
      if (isDib) o.write(le32(0)) // BI_RGB
      else o.write(handler.getBytes("US-ASCII")) // biCompression
      o.write(le32(width.toLong * height * 3))
      o.write(new Array[Byte](16)) // ppm + clr fields
      o.toByteArray
    }
    val hdrl = list("hdrl", chunk("avih", avih) ++
      list("strl", chunk("strh", strh) ++ chunk("strf", strf)))
    val moviBody = new java.io.ByteArrayOutputStream()
    val idx = new java.io.ByteArrayOutputStream()
    var off = 4L // idx1 offsets are relative to the 'movi' fourcc
    frames.foreach { f =>
      val ck = chunk(ckId, f)
      moviBody.write(ck)
      idx.write(ckId.getBytes("US-ASCII"))
      idx.write(le32(0x10)) // AVIIF_KEYFRAME
      idx.write(le32(off))
      idx.write(le32(f.length.toLong))
      off += ck.length
    }
    val movi = list("movi", moviBody.toByteArray)
    val body = hdrl ++ movi ++ chunk("idx1", idx.toByteArray)
    ws("RIFF"); w(le32(body.length + 4L)); ws("AVI "); w(body)
    bos.toByteArray
  }

  /** Walk an AVI/RIFF container and return its video frame payloads
    * in stream order — `00dc`/`00db` chunk bodies inside the `movi`
    * LIST (one `rec ` nesting level supported, the interleave shape
    * real muxers emit). Quarantine (None) on anything that is not a
    * well-formed AVI: wrong magic, a declared chunk size overrunning
    * the buffer (truncation), or no `movi` list — never throws, per
    * the q304 codec law. A valid AVI with zero frames is
    * Some(empty), NOT quarantine.
    */
  def aviFrames(bytes: Array[Byte]): Option[Seq[Array[Byte]]] = {
    if (bytes == null || bytes.length < 12) return None
    if (fourcc(bytes, 0) != "RIFF" || fourcc(bytes, 8) != "AVI ")
      return None
    val riffEnd = math.min(bytes.length.toLong, 8L + rdLe32(bytes, 4))
    if (riffEnd < 12) return None
    val frames = Seq.newBuilder[Array[Byte]]
    var sawMovi = false
    def isFrameId(id: String): Boolean =
      id.length == 4 && id(0).isDigit && id(1).isDigit &&
        id(2) == 'd' && (id(3) == 'b' || id(3) == 'c')
    // walk one chunk run in [off, end); returns false on truncation
    def walk(start: Long, end: Long, inMovi: Boolean): Boolean = {
      var off = start
      while (off + 8 <= end) {
        val id = fourcc(bytes, off.toInt)
        val size = rdLe32(bytes, off.toInt + 4)
        val dataStart = off + 8
        if (dataStart + size > end) return false // truncated chunk
        if (id == "LIST" && size >= 4) {
          val tpe = fourcc(bytes, dataStart.toInt)
          if (tpe == "movi") {
            sawMovi = true
            if (!walk(dataStart + 4, dataStart + size, inMovi = true))
              return false
          } else if (inMovi && tpe == "rec ") {
            if (!walk(dataStart + 4, dataStart + size, inMovi = true))
              return false
          }
          // other LISTs (hdrl, strl) hold no frames — skip whole
        } else if (inMovi && isFrameId(id)) {
          frames += java.util.Arrays.copyOfRange(bytes,
            dataStart.toInt, (dataStart + size).toInt)
        }
        off = dataStart + size + (size % 2) // even padding
      }
      true
    }
    if (!walk(12, riffEnd, inMovi = false) || !sawMovi) None
    else Some(frames.result())
  }

  /** REAL video decode: AVI walk ([[aviFrames]]) + per-frame JDK
    * ImageIO decode into the SAME rows×cols luma grid
    * [[imageGridDecoder]] feeds the image pipeline — one grid per
    * frame, in stream order. Quarantine law (q304's): an undecodable
    * CONTAINER yields zero frames; an undecodable FRAME (a codec the
    * JDK lacks, e.g. H.264 payloads) yields an EMPTY grid for that
    * frame while its neighbors still decode — never throws.
    */
  def videoFrameDecoder(rows: Int, cols: Int)
      : Array[Byte] => Seq[Seq[Long]] = {
    require(rows > 0 && cols > 0, "grid dims must be positive")
    val gridOf = imageGridDecoder(rows, cols)
    bytes =>
      aviFrames(bytes) match {
        case None => Seq.empty
        case Some(frames) => frames.map(gridOf)
      }
  }

  /** Synthesize an encoded image from a pixel function — the encode
    * direction of [[imageGridDecoder]], for codec-law fixtures and the
    * q308 in-query AVI synthesis. `format` is any ImageIO writer name
    * ("bmp" is lossless; "jpg" is the MJPEG frame payload).
    */
  def imageBytes(width: Int, height: Int, format: String)(
      rgb: (Int, Int) => Int): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(width, height,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < height) {
      var x = 0
      while (x < width) { img.setRGB(x, y, rgb(x, y)); x += 1 }
      y += 1
    }
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, format, bos)
    bos.toByteArray
  }

  /** STUB decode: real pipelines decode `bytes` with a codec here.
    * This stand-in derives deterministic per-item "features" from the
    * payload so downstream plumbing (schema, joins, aggregation) is
    * exercised honestly: byte length, first byte, and a content hash
    * bucket.
    */
  def decodePixelsStub(bytes: Column): Column =
    struct(
      length(bytes).as("n_bytes"),
      conv(hex(substring(bytes, 1, 1)), 16, 10).cast("int")
        .as("first_byte"),
      (conv(substring(md5(bytes), 1, 4), 16, 10) % 256).cast("int")
        .as("content_bucket"))

  /** Resize: pure metadata transform preserving aspect fit (the pixel
    * work happens inside the decode stub's seam).
    */
  def resizeMeta(meta: Column, maxSide: Int): Column = {
    val w = meta.getField("width")
    val h = meta.getField("height")
    val scale = lit(maxSide).cast("double") / greatest(w, h).cast("double")
    val clamped = least(scale, lit(1.0))
    struct(
      meta.getField("format").as("format"),
      floor(w * clamped).cast("int").as("width"),
      floor(h * clamped).cast("int").as("height"),
      meta.getField("duration_s").as("duration_s"))
  }

  /** Frame sampling plan for video rows: one struct per sampled frame
    * at `fps` — pure plan arithmetic, distributed via explode. Videos
    * shorter than one frame interval emit zero rows: the guard
    * matters because Spark's `sequence(0, -1)` is a DESCENDING
    * [0, -1], not empty — an unguarded explode would fabricate
    * negative frame indexes.
    */
  def sampleFrames(df: DataFrame, fps: Double): DataFrame = {
    val n = (col("meta.duration_s") * fps).cast("int")
    df.filter(col("kind") === "video")
      .select(col("media_id"),
        explode_outer(when(n >= 1, sequence(lit(0), n - 1)))
          .as("frame_idx"))
      .filter(col("frame_idx").isNotNull)
      .withColumn("t_offset_s", col("frame_idx") / fps)
  }

  /** Audio analysis windows: one row per hop-spaced window over each
    * audio item's duration, trailing partial window included (its
    * `t_end_s` clamps to the duration). Same plan-arithmetic explode
    * discipline as [[sampleFrames]], same descending-`sequence` guard.
    * `energy` is the decode seam's deterministic stand-in for a real
    * per-window RMS (md5-derived, so the oracle can replay it);
    * [[windowEnergies]] is the exact sample math.
    */
  def sampleWindows(df: DataFrame, windowS: Int, hopS: Int): DataFrame = {
    require(windowS > 0 && hopS > 0, "window and hop must be positive")
    val dur = col("meta.duration_s")
    val n = floor((dur - 1) / hopS).cast("int") + 1
    df.filter(col("kind") === "audio")
      .select(col("media_id"), dur.as("_dur"),
        explode_outer(when(n >= 1, sequence(lit(0), n - 1)))
          .as("win_idx"))
      .filter(col("win_idx").isNotNull)
      .withColumn("t_start_s", col("win_idx") * hopS)
      .withColumn("t_end_s",
        least(col("t_start_s") + windowS, col("_dur")))
      .withColumn("energy",
        conv(substring(
          md5(concat_ws(":", col("media_id"), col("win_idx"))), 1, 4),
          16, 10).cast("long") % 1000)
      .drop("_dur")
  }
}
