package graft

import graft.ops.{FfmpegCodec, Multimodal}
import org.scalatest.funsuite.AnyFunSuite

/** The ffmpeg-CLI seam for non-JDK containers (MP4 etc.): real decode when
  * the binaries are on PATH, clean skip + deterministic stub fallback when
  * they are absent (this sandbox has no ffmpeg — the integration tests
  * self-cancel via assume()).
  */
class FfmpegSeamSpec extends AnyFunSuite with SharedSpark {

  /** GFT stub blob: 'GFT' magic + 0 + 16-bit w/h + payload. */
  private def gft(w: Int, h: Int, payload: Array[Byte]): Array[Byte] =
    Array[Byte]('G', 'F', 'T', 0,
      ((w >> 8) & 0xff).toByte, (w & 0xff).toByte,
      ((h >> 8) & 0xff).toByte, (h & 0xff).toByte) ++ payload

  test("without ffmpeg (or on non-container bytes) the stub fallback decides") {
    // runs in BOTH environments: probe() is None for the GFT header even
    // when ffmpeg exists (ffprobe rejects it), so extractFeatures must
    // report the stub's header-derived dims either way
    import spark.implicits._
    val rows = Seq(Multimodal.MediaRow(1L, "video", gft(320, 200,
      Array.tabulate(64)(_.toByte)), 320, 200)).toDS()
    val f = Multimodal.extractFeatures(rows).collect().head
    assert((f.width, f.height) == (320, 200))
    assert(FfmpegCodec.probe(gft(320, 200, Array.emptyByteArray)).isEmpty)
  }

  test("ffmpeg integration: probe + frame-sample a real MP4 (skips if absent)") {
    assume(FfmpegCodec.available, "ffmpeg/ffprobe not on PATH — seam self-skips")
    // synthesize a 1-second 64x48 4fps MP4 with ffmpeg itself
    val tmp = java.nio.file.Files.createTempFile("graft-ffmpeg-it", ".mp4")
    try {
      val p = new ProcessBuilder("ffmpeg", "-v", "error", "-y",
        "-f", "lavfi", "-i", "testsrc=duration=1:size=64x48:rate=4",
        tmp.toString).redirectErrorStream(true).start()
      p.getInputStream.readAllBytes()
      assume(p.waitFor() == 0, "ffmpeg cannot synthesize test input")
      val mp4 = java.nio.file.Files.readAllBytes(tmp)

      val probed = FfmpegCodec.probe(mp4)
      assert(probed.nonEmpty, "probe failed on a real MP4")
      val (w, h, feat) = probed.get
      assert((w, h) == (64, 48))
      assert(feat(0) == 4.0 || feat(1) > 0.0, "neither nb_frames nor duration")

      val frames = FfmpegCodec.sampleFrames(mp4, step = 2, maxFrames = 10)
      assert(frames.nonEmpty && frames.length <= 2)
      assert(frames.forall { case (_, png, fw, fh) =>
        png.length > 8 && fw == 64 && fh == 48 })

      // end-to-end through the Dataset ops
      import spark.implicits._
      val rows = Seq(Multimodal.MediaRow(7L, "video", mp4, 64, 48)).toDS()
      val f = Multimodal.extractFeatures(rows).collect().head
      assert((f.width, f.height) == (64, 48))
      val sampled = Multimodal.sampleFrames(rows, everyK = 2).collect()
      assert(sampled.nonEmpty && sampled.forall(_.parent_id == 7L))
    } finally java.nio.file.Files.deleteIfExists(tmp)
  }
}
