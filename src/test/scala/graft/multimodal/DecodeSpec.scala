package graft.multimodal

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import graft.data.SyntheticImages

class DecodeSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  lazy val corpus = {
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._
    spark.createDataset(
      (0L until 30L).flatMap(fid => SyntheticImages.family(fid, 42L, fid * 8))
    ).toDF().cache()
  }

  test("imageMeta: decoded dims and pHash match the stored columns") {
    val meta = Decode.imageMeta(corpus).collect().map(m => m.image_id -> m).toMap
    val rows = corpus.select("image_id", "w", "h", "phash").collect()
    assert(rows.nonEmpty)
    for (r <- rows) {
      val m = meta(r.getString(0))
      assert(m.w_dec === r.getInt(1) && m.h_dec === r.getInt(2))
      assert(m.mean_luma >= 0.0 && m.mean_luma <= 255.0)
      // only FAMILY-BASE rows (id % 8 == 0) store a pHash computed from their
      // own pixels (dup rows get planted bit-flips of the base pHash); for
      // base PNG rows the lossless roundtrip makes the recomputed DCT pHash
      // exact
      val idNum = r.getString(0).drop(4).toLong
      if (idNum % 8 == 0 &&
          corpus.filter(s"image_id = '${r.getString(0)}' and fmt = 'png'").count() == 1)
        assert(m.phash_dec === r.getLong(3), s"png pHash mismatch for ${r.getString(0)}")
    }
  }

  test("imageDims: dims equal imageMeta's row-for-row (r6 pruned stage)") {
    val dims = Decode.imageDims(corpus).collect().map(d => d.image_id -> d).toMap
    val meta = Decode.imageMeta(corpus).collect()
    assert(meta.nonEmpty && dims.size === meta.length)
    for (m <- meta) {
      val d = dims(m.image_id)
      assert(d.w_dec === m.w_dec && d.h_dec === m.h_dec, m.image_id)
    }
    // non-square via the dims stage too (sqrt-regression guard)
    import spark.implicits._
    val img = new java.awt.image.BufferedImage(64, 32,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 32; x <- 0 until 64)
      img.setRGB(x, y, ((x * 3) << 16) | ((y * 5) << 8) | 0x40)
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    val df = Seq(("img_0000000001", bos.toByteArray)).toDF("image_id", "bytes")
    val d = Decode.imageDims(df).collect().head
    assert(d.w_dec === 64 && d.h_dec === 32, s"got ${d.w_dec}x${d.h_dec}")
  }

  test("imageMeta: NON-square image reports true width x height") {
    // the synthetic corpus is all square, so only this case catches a
    // dims-from-sqrt(pixel-count) regression (45x45 for a 64x32 input)
    import spark.implicits._
    val img = new java.awt.image.BufferedImage(64, 32,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 32; x <- 0 until 64)
      img.setRGB(x, y, ((x * 3) << 16) | ((y * 5) << 8) | 0x40)
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    val df = Seq(("img_0000000001", bos.toByteArray)).toDF("image_id", "bytes")
    val m = Decode.imageMeta(df).collect().head
    assert(m.w_dec === 64 && m.h_dec === 32, s"got ${m.w_dec}x${m.h_dec}")
    assert(m.mean_luma > 0.0 && m.mean_luma < 255.0)
  }

  test("imageResize: output decodes to the target dims") {
    val rs = Decode.imageResize(corpus.limit(8), 16, 16).collect()
    assert(rs.length === 8)
    for (r <- rs) {
      assert(r.w_rs === 16 && r.h_rs === 16)
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(r.png_bytes))
      assert(img.getWidth === 16 && img.getHeight === 16)
    }
  }

  test("fast decode paths are bit-identical to the ImageIO baseline (r6)") {
    val rows = (0L until 60L).flatMap(fid => SyntheticImages.family(fid, 42L, fid * 8))
    assert(rows.exists(_.fmt == "png") && rows.exists(_.fmt == "jpeg"))
    val dec = new Decode.ReusableDecoder
    for (r <- rows) {
      val base = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(r.bytes))
      val expected = base.getRGB(0, 0, base.getWidth, base.getHeight, null, 0, base.getWidth)
      // decodePixels (FastPng for png, raster fast path for jpeg)
      assert(java.util.Arrays.equals(dec.decodePixels(r.bytes), expected),
        s"decodePixels mismatch for ${r.image_id} (${r.fmt})")
      // decodeImage → imageToRgb
      val img = dec.decodeImage(r.bytes)
      assert(img.getWidth === base.getWidth && img.getHeight === base.getHeight)
      assert(java.util.Arrays.equals(dec.imageToRgb(img), expected),
        s"decodeImage mismatch for ${r.image_id} (${r.fmt})")
      // decodeMeta agrees too
      val (w, h, px) = dec.decodeMeta(r.bytes)
      assert(w === base.getWidth && h === base.getHeight)
      assert(java.util.Arrays.equals(px, expected))
    }
    // non-square PNG (the FastPng w != h path)
    val img = new java.awt.image.BufferedImage(64, 32,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 32; x <- 0 until 64)
      img.setRGB(x, y, ((x * 3) << 16) | ((y * 5) << 8) | 0x40)
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    val nb = bos.toByteArray
    val base = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(nb))
    assert(java.util.Arrays.equals(dec.decodePixels(nb),
      base.getRGB(0, 0, 64, 32, null, 0, 64)))
    // an unsupported PNG layout (palette) must fall back to ImageIO, not fail
    val pal = new java.awt.image.BufferedImage(8, 8,
      java.awt.image.BufferedImage.TYPE_BYTE_INDEXED)
    val bos2 = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(pal, "png", bos2)
    val pb = bos2.toByteArray
    val pbase = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(pb))
    assert(java.util.Arrays.equals(dec.decodePixels(pb),
      pbase.getRGB(0, 0, 8, 8, null, 0, 8)))
  }

  test("payloadFidelity: every row decodes allclose to regenerated ground truth") {
    val fid = Decode.payloadFidelity(corpus).collect()
    assert(fid.length === corpus.count())
    val bad = fid.filterNot(f => f.psnr_ok && f.caption_ok)
    assert(bad.isEmpty, s"fidelity failures: ${bad.take(5).mkString(", ")}")
    // both formats must actually be exercised
    assert(fid.exists(_.fmt == "png") && fid.exists(_.fmt == "jpeg"))
  }
}
