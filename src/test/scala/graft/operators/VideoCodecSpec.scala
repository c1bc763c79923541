package graft.operators

import org.scalatest.funsuite.AnyFunSuite

/** End-to-end REAL video decode: MJPEG (or raw-DIB) frames in a
  * genuine AVI/RIFF container ([[Multimodal.aviBytes]]), walked back
  * out by [[Multimodal.aviFrames]] and decoded frame-by-frame through
  * the SAME JDK ImageIO path the image pipeline uses. This closes the
  * r11 verdict's "video stays stubbed" item — AVI/RIFF chunk walking
  * is pure public byte-format knowledge and the frames are JPEGs the
  * already-proven [[Multimodal.imageGridDecoder]] decodes.
  *
  * The codec LAWS:
  *  - container round-trip: `aviFrames(aviBytes(payloads))` returns
  *    the payloads byte-for-byte — including ODD-sized ones (RIFF
  *    pads chunks to even length; the size field records the truth);
  *  - grid law: `videoFrameDecoder(aviBytes(jpegs)) ==
  *    jpegs.map(imageGridDecoder(rows, cols))` — both sides decode
  *    the same JPEG bytes, so lossy encoding cancels exactly;
  *  - oracle-ability law (q308's bridge): DIB/BMP frames are
  *    LOSSLESS, so uniform-block frames land the synthesized block
  *    values in the grid EXACTLY — which is what lets a DuckDB oracle
  *    replay a real container decode;
  *  - quarantine matrix (the q304 law): garbage / truncated / no-movi
  *    containers yield no frames, an undecodable FRAME yields an empty
  *    grid while its neighbors still decode — never throw.
  */
class VideoCodecSpec extends AnyFunSuite {
  private def jpegFrame(seed: Int, w: Int = 24, h: Int = 16)
      : Array[Byte] =
    Multimodal.imageBytes(w, h, "jpg") { (x, y) =>
      val v = (seed * 37 + x * 11 + y * 7) % 256
      (v << 16) | (v << 8) | v
    }

  // a one-channel 16-bit PCM WAV via the JDK codec: a RIFF container
  // that is not an AVI
  private def wavBytes(samples: Array[Short]): Array[Byte] = {
    val fmt = new javax.sound.sampled.AudioFormat(8000f, 16, 1, true, false)
    val raw = samples.flatMap(v => Array((v & 0xff).toByte,
      ((v >> 8) & 0xff).toByte))
    val bos = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(
      new javax.sound.sampled.AudioInputStream(
        new java.io.ByteArrayInputStream(raw), fmt, samples.length.toLong),
      javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
    bos.toByteArray
  }

  test("container round-trip: aviFrames returns every payload " +
    "byte-for-byte, odd sizes included (even-padding honored)") {
    val payloads = Seq(
      Array[Byte](1, 2, 3),            // odd
      Array[Byte](4, 5, 6, 7),         // even
      Array.tabulate(255)(_.toByte),   // odd, larger
      Array.empty[Byte])               // zero-length chunk
    val avi = Multimodal.aviBytes(payloads, 24, 16)
    val back = Multimodal.aviFrames(avi)
    assert(back.isDefined, "well-formed AVI must parse")
    assert(back.get.length == payloads.length)
    payloads.zip(back.get).zipWithIndex.foreach { case ((p, b), i) =>
      assert(java.util.Arrays.equals(p, b),
        s"frame $i payload did not round-trip")
    }
  }

  test("grid law: videoFrameDecoder(MJPEG avi) == per-frame " +
    "imageGridDecoder on the same JPEG bytes") {
    val jpegs = (0 until 5).map(jpegFrame(_))
    // at least one odd-sized JPEG so the grid law also crosses the
    // padding path (JPEG sizes vary; append an EOI-trailing pad-free
    // odd one by re-encoding at a different size if all came out even)
    val frames =
      if (jpegs.exists(_.length % 2 == 1)) jpegs
      else jpegs :+ jpegFrame(99, w = 23, h = 15)
    val avi = Multimodal.aviBytes(frames, 24, 16)
    val got = Multimodal.videoFrameDecoder(6, 11)(avi)
    val want = frames.map(Multimodal.imageGridDecoder(6, 11))
    assert(got == want,
      "container-decoded grids must equal direct JPEG-decoded grids")
    assert(got.forall(_.length == 66), "6x11 grid per frame")
  }

  test("oracle-ability law: DIB frames with uniform 2x2 blocks land " +
    "the EXACT synthesized block values in the grid (lossless)") {
    val rows = 6; val cols = 11
    def block(f: Int)(r: Int, c: Int): Long =
      (f * 47 + r * 11 + c * 7 + 3 * r * c) % 256
    val frames = (0 until 3).map { f =>
      Multimodal.imageBytes(2 * cols, 2 * rows, "bmp") { (x, y) =>
        val v = block(f)(y / 2, x / 2).toInt
        (v << 16) | (v << 8) | v
      }
    }
    val avi = Multimodal.aviBytes(frames, 2 * cols, 2 * rows,
      handler = "DIB ")
    val got = Multimodal.videoFrameDecoder(rows, cols)(avi)
    val want = (0 until 3).map { f =>
      (0 until rows).flatMap(r => (0 until cols).map(c =>
        block(f)(r, c))): Seq[Long]
    }
    assert(got == want,
      "BMP round-trip must reproduce block values exactly — this is " +
        "what makes a real container decode DuckDB-replayable (q308)")
  }

  test("quarantine matrix: garbage, truncation, no-movi, and a " +
    "non-image frame payload — never a throw") {
    val good = Multimodal.aviBytes(Seq(jpegFrame(1), jpegFrame(2)), 24, 16)
    // garbage bytes
    assert(Multimodal.aviFrames(Array[Byte](9, 9, 9, 9)).isEmpty)
    assert(Multimodal.aviFrames(Array.empty[Byte]).isEmpty)
    // right magic, truncated mid-chunk
    val truncated = java.util.Arrays.copyOfRange(good, 0, good.length - 7)
    assert(Multimodal.aviFrames(truncated).isEmpty,
      "a declared chunk size overrunning the buffer must quarantine")
    // RIFF but not AVI
    val wav = wavBytes(Array[Short](1, 2, 3))
    assert(Multimodal.aviFrames(wav).isEmpty,
      "a WAV (RIFF but not 'AVI ') must quarantine")
    // valid container, zero frames: Some(empty), NOT quarantine
    val empty = Multimodal.aviBytes(Seq.empty, 24, 16)
    assert(Multimodal.aviFrames(empty).contains(Seq.empty),
      "zero frames is a valid AVI, not a quarantine case")
    // an undecodable FRAME quarantines alone; neighbors still decode
    val mixed = Multimodal.aviBytes(
      Seq(jpegFrame(1), Array[Byte](0, 1, 2, 3), jpegFrame(2)), 24, 16)
    val grids = Multimodal.videoFrameDecoder(6, 11)(mixed)
    assert(grids.length == 3)
    assert(grids(0).nonEmpty && grids(2).nonEmpty,
      "decodable neighbors must survive")
    assert(grids(1).isEmpty,
      "the non-JPEG payload must yield an empty grid, not an error")
    // an undecodable container decodes to no frames at all
    assert(Multimodal.videoFrameDecoder(6, 11)(wav).isEmpty)
  }

  test("'rec '-nested frames parse (the interleave shape real " +
    "muxers emit)") {
    // hand-nest: take a flat AVI's movi payload and wrap the frame
    // run in a rec LIST by rebuilding through the public builder is
    // not possible, so splice bytes: build flat, then wrap each 00dc
    // run inside LIST(rec ). Simplest faithful construction: build a
    // container whose movi holds LIST('rec ' frames...) manually.
    val fr = Seq(jpegFrame(4), jpegFrame(5))
    val flat = Multimodal.aviBytes(fr, 24, 16)
    val flatFrames = Multimodal.aviFrames(flat).get
    // locate movi list and wrap its body in a rec list
    def le32(v: Int) = Array((v & 0xff).toByte, ((v >> 8) & 0xff).toByte,
      ((v >> 16) & 0xff).toByte, ((v >> 24) & 0xff).toByte)
    val s = new String(flat, java.nio.charset.StandardCharsets.ISO_8859_1)
    val moviAt = s.indexOf("movi")
    assert(moviAt > 0)
    val listSizeAt = moviAt - 4
    val oldSize = (flat(listSizeAt) & 0xff) | ((flat(listSizeAt + 1) & 0xff) << 8) |
      ((flat(listSizeAt + 2) & 0xff) << 16) | ((flat(listSizeAt + 3) & 0xff) << 24)
    // LIST layout: "LIST" @ moviAt-8, size @ moviAt-4, data (starting
    // with the "movi" fourcc) @ moviAt .. moviAt+oldSize
    val body = java.util.Arrays.copyOfRange(flat, moviAt + 4,
      moviAt + oldSize)
    val rec = "LIST".getBytes("US-ASCII") ++ le32(body.length + 4) ++
      "rec ".getBytes("US-ASCII") ++ body
    val newMovi = "LIST".getBytes("US-ASCII") ++ le32(rec.length + 4) ++
      "movi".getBytes("US-ASCII") ++ rec
    val head = java.util.Arrays.copyOfRange(flat, 0, moviAt - 8)
    val tail = java.util.Arrays.copyOfRange(flat,
      moviAt + oldSize, flat.length)
    val nested = head ++ newMovi ++ tail
    // fix the RIFF size field
    val riffBody = nested.length - 8
    System.arraycopy(le32(riffBody), 0, nested, 4, 4)
    val back = Multimodal.aviFrames(nested)
    assert(back.isDefined, "rec-nested AVI must parse")
    assert(back.get.length == 2)
    back.get.zip(flatFrames).foreach { case (a, b) =>
      assert(java.util.Arrays.equals(a, b))
    }
  }
}
