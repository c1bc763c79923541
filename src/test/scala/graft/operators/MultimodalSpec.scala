package graft.operators

import org.apache.spark.sql.functions._
import graft.SparkSpec

class MultimodalSpec extends SparkSpec {
  import spark.implicits._

  private lazy val media = Multimodal.attachMedia(
    Seq((0L, "abc"), (1L, "hello world"), (2L, "xyz")).toDF("id", "t"),
    "id", "t")

  test("attachMedia: binary payload + typed metadata") {
    val rows = media.select($"media_id", $"kind", length($"bytes"),
      $"meta.format", $"meta.width").collect()
    assert(rows.map(_.getString(1)).toSeq == Seq("image", "audio", "video"))
    assert(rows.map(_.getInt(2)).toSeq == Seq(3, 11, 3))
    assert(rows.map(_.getString(3)).toSeq == Seq("png", "wav", "mp4"))
    rows.foreach(r => assert(r.getInt(4) >= 64))
  }

  test("decode stub yields deterministic features from bytes") {
    val f = media.select(
      Multimodal.decodePixelsStub($"bytes").as("f"))
      .select($"f.n_bytes", $"f.first_byte", $"f.content_bucket")
      .collect()
    assert(f.map(_.getInt(0)).toSeq == Seq(3, 11, 3))
    assert(f(0).getInt(1) == 'a'.toInt)
    f.foreach(r => assert(r.getInt(2) >= 0 && r.getInt(2) < 256))
  }

  test("resizeMeta clamps the long side, never upscales") {
    val got = media.select(
      $"meta.width".as("w0"), $"meta.height".as("h0"),
      Multimodal.resizeMeta($"meta", 128).as("m"))
      .select($"w0", $"h0", $"m.width", $"m.height").collect()
    got.foreach { r =>
      val (w0, h0, w1, h1) = (r.getInt(0), r.getInt(1), r.getInt(2), r.getInt(3))
      assert(w1 <= 128 && h1 <= 128 || math.max(w0, h0) <= 128)
      assert(w1 <= w0 && h1 <= h0, "no upscaling")
    }
  }

  test("sampleFrames emits duration*fps frames for videos only") {
    val frames = Multimodal.sampleFrames(media, 2.0)
    val ids = frames.select($"media_id").distinct()
      .as[Long].collect().toSeq
    assert(ids == Seq(2L))
    val dur = media.filter($"media_id" === 2L)
      .select($"meta.duration_s").as[Int].head()
    assert(frames.count() == dur * 2L)
  }

  test("sampleFrames emits zero rows when duration*fps < 1") {
    // sequence(0, -1) is DESCENDING in Spark — the guard must stop a
    // sub-interval video from fabricating frames [0, -1]
    val frames = Multimodal.sampleFrames(media, 0.001)
    assert(frames.count() == 0)
    assert(Multimodal.sampleFrames(media, 2.0)
      .filter($"frame_idx" < 0).count() == 0)
  }

  test("sampleWindows: hop spacing, clamped trailing partial, audio only") {
    val w = Multimodal.sampleWindows(media, windowS = 5, hopS = 2)
      .select($"media_id", $"win_idx", $"t_start_s", $"t_end_s")
      .as[(Long, Int, Int, Int)].collect()
    // only the audio row (media_id % 3 == 1) emits windows
    assert(w.map(_._1).distinct.toSeq == Seq(1L))
    val dur = media.filter($"media_id" === 1L)
      .select($"meta.duration_s").as[Int].head()
    // starts at 0,2,4,… while < dur; ends clamp to dur
    val want = (0 until ((dur - 1) / 2 + 1)).map { i =>
      (1L, i, i * 2, math.min(i * 2 + 5, dur))
    }
    assert(w.sortBy(_._2).toSeq == want)
    // energies are deterministic and bounded
    val e = Multimodal.sampleWindows(media, 5, 2)
      .select($"energy").as[Long].collect()
    assert(e.forall(x => x >= 0 && x < 1000))
  }

  test("windowEnergies == JVM reference energies at window-boundary " +
    "lengths (trailing partial window included)") {
    val (win, hop) = (40, 16)
    // lengths probing the window arithmetic: exact multiple, one
    // short of a hop boundary, mid-window, single sample
    val clips = Seq(1L -> 640, 2L -> 639, 3L -> 100, 4L -> 1)
      .map { case (id, n) =>
        id -> Array.tabulate(n)(i => (id * 131 + i * 17) % 251 - 125)
      }
    def refEnergies(s: Array[Long]): Seq[Long] =
      (0 to (s.length - 1) / hop).map { w =>
        s.slice(w * hop, math.min(w * hop + win, s.length))
          .map(v => v * v).sum
      }
    val colSide = clips.map { case (id, s) => (id, s.toSeq) }
      .toDF("id", "samples")
      .select($"id",
        Multimodal.windowEnergies($"samples", win, hop).as("e"))
      .as[(Long, Seq[Long])].collect().toMap
    clips.foreach { case (id, s) =>
      assert(colSide(id) == refEnergies(s),
        s"clip $id: column windowEnergies != JVM reference")
    }
  }

  test("windowEnergies on an empty sample array is empty, never a " +
    "fabricated window (the descending-sequence guard)") {
    val out = Seq((1L, Seq.empty[Long])).toDF("id", "samples")
      .select(Multimodal.windowEnergies($"samples", 4, 2).as("e"))
      .as[Seq[Long]].head()
    assert(out.isEmpty)
  }
}
