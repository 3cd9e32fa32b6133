package graft.functions

import graft.{SparkTestBase, Tables}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Multimodal codecs: each JDK codec round-trips real bytes, the decode
  * queries match their closed forms, and frame sampling respects its bounds. */
class MultimodalSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark

  test("PngCodec round-trips REAL PNG bytes with per-pixel fidelity") {
    val codec = new Multimodal.PngCodec
    // 3x2 uniform fill: encoded bytes must be a genuine PNG container
    val png = codec.encode(3, 2, 10, 200, 33)
    assert(png.length > 8)
    assert((png(0) & 0xff) === 0x89 && png(1) === 'P'.toByte &&
      png(2) === 'N'.toByte && png(3) === 'G'.toByte,
      "encoder must emit a real PNG signature")
    val (w, h, sr, sg, sb) = codec.decode(png)
    assert((w, h) === ((3, 2)))
    assert((sr, sg, sb) === ((10L * 6, 200L * 6, 33L * 6)),
      "lossless codec must round-trip exact channel sums")
    // non-uniform image: distinct pixels survive the round trip positionally
    import java.awt.image.BufferedImage
    val img = new BufferedImage(2, 1, BufferedImage.TYPE_INT_RGB)
    img.setRGB(0, 0, 0xff0000); img.setRGB(1, 0, 0x0000ff)
    val buf = new java.io.ByteArrayOutputStream
    javax.imageio.ImageIO.write(img, "png", buf)
    val (_, _, r2, g2, b2) = codec.decode(buf.toByteArray)
    assert((r2, g2, b2) === ((255L, 0L, 255L)))
  }

  test("WavCodec round-trips REAL RIFF/WAVE bytes with exact PCM fidelity") {
    val codec = new Multimodal.WavCodec
    val samples = Array(-1000, 0, 32767, -32768, 17)
    val wav = codec.encode(samples)
    assert(wav.length > 44, "WAV = 44-byte header + PCM payload")
    assert(new String(wav.slice(0, 4), "US-ASCII") === "RIFF" &&
      new String(wav.slice(8, 12), "US-ASCII") === "WAVE",
      "encoder must emit a real RIFF/WAVE container")
    val (sr, n, sum, mn, mx) = codec.decode(wav)
    assert(sr === 8000 && n === samples.length.toLong)
    assert(sum === samples.map(_.toLong).sum, "lossless PCM: exact sum survives")
    assert((mn, mx) === ((-32768, 32767)), "full signed 16-bit range round-trips")
  }

  test("JPEG decodes through the same codec path: dims exact, means near-exact") {
    // the JDK's second real codec: lossy, so channel means carry codec
    // tolerance, but intrinsic dims are exact and the decode path is the
    // same ImageIO machinery multimodal_decode_png proves losslessly
    val codec = new Multimodal.PngCodec
    import java.awt.image.BufferedImage
    val img = new BufferedImage(8, 6, BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 6; x <- 0 until 8) img.setRGB(x, y, 0x508090)
    val buf = new java.io.ByteArrayOutputStream
    javax.imageio.ImageIO.write(img, "jpg", buf)
    val jpeg = buf.toByteArray
    assert((jpeg(0) & 0xff) === 0xff && (jpeg(1) & 0xff) === 0xd8,
      "encoder must emit a real JPEG SOI marker")
    val (w, h, sr, sg, sb) = codec.decode(jpeg)
    assert((w, h) === ((8, 6)))
    val n = 48.0
    assert(math.abs(sr / n - 0x50) <= 3 && math.abs(sg / n - 0x80) <= 3 &&
      math.abs(sb / n - 0x90) <= 3,
      s"flat-field JPEG means must be within codec tolerance: ${(sr / n, sg / n, sb / n)}")
  }

  test("multimodal_decode_png: decoded pixel facts match closed form") {
    val df = Multimodal.multimodalDecodePng.run(spark, SparkTestBase.sf)
    // every output value below came out of a real ImageIO decode; compare
    // against the closed-form arithmetic the DuckDB oracle uses
    val bad = df.filter(
      col("img_w") =!= (col("doc_id") % 13 + 1).cast("int") ||
      col("img_h") =!= (col("doc_id") % 7 + 1).cast("int") ||
      col("mean_r") =!= (col("doc_id") * 37 % 256).cast("int") ||
      col("mean_g") =!= (col("doc_id") * 59 % 256).cast("int") ||
      col("mean_b") =!= (col("doc_id") * 83 % 256).cast("int") ||
      col("n_px") =!= (col("img_w") * col("img_h")).cast("long")).count()
    assert(bad === 0)
    assert(df.count() === Tables.df(spark, SparkTestBase.sf, "documents").count())
  }

  test("frame sampling stays within bounds and starts at frame 0") {
    val df = Multimodal.multimodalFrameSample.run(spark, SparkTestBase.sf)
    val bad = df.filter(col("frame_no") >= col("n_frames") || col("sample_idx") >= 8).count()
    assert(bad === 0)
    val firstSamples = df.filter(col("sample_idx") === 0)
    assert(firstSamples.filter(col("frame_no") =!= 0).count() === 0)
    // every document yields at least one frame
    assert(firstSamples.count() === Tables.df(spark, SparkTestBase.sf, "documents").count())
  }

  test("resize output fits max side and preserves aspect ordering") {
    val df = Multimodal.multimodalResize.run(spark, SparkTestBase.sf)
    assert(df.filter(col("out_w") > 64 || col("out_h") > 64).count() === 0)
    assert(df.filter((col("w") >= col("h")) =!= (col("out_w") >= col("out_h"))).count() === 0)
    // the channel means were measured on the RESIZED raster after a real
    // decode → Graphics2D scale; uniform fill makes them exactly the fill
    val bad = df.filter(
      col("mean_r") =!= (col("doc_id") * 37 % 256).cast("int") ||
      col("mean_g") =!= (col("doc_id") * 59 % 256).cast("int") ||
      col("mean_b") =!= (col("doc_id") * 83 % 256).cast("int")).count()
    assert(bad === 0)
  }

  test("GifCodec round-trips REAL animated GIF bytes: frame count + exact colors") {
    val codec = new Multimodal.GifCodec
    val colors = Array((10, 200, 33), (255, 0, 128), (0, 0, 0), (77, 78, 79))
    val gif = codec.encode(5, 4, colors)
    assert(new String(gif.slice(0, 4), "US-ASCII") === "GIF8",
      "encoder must emit a real GIF container signature")
    val (n, frames) = codec.decode(gif, Seq(0, 1, 2, 3))
    assert(n === 4, "getNumImages(true) must count the real encoded frames")
    assert(frames === colors.toSeq,
      "palette-indexed frames must round-trip RGB bit-exact")
    // sparse sampling: only the requested, in-range frames decode
    val (_, sampled) = codec.decode(gif, Seq(0, 2, 9))
    assert(sampled === Seq(colors(0), colors(2)))
  }
}
