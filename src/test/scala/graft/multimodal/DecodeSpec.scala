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

  test("decode fallbacks: truncated, corrupt, interlaced and 16-bit images follow ImageIO") {
    import java.awt.image.BufferedImage
    import javax.imageio.{IIOImage, ImageIO, ImageWriteParam}
    def encode(img: BufferedImage, fmt: String, interlaced: Boolean = false): Array[Byte] = {
      val writer = ImageIO.getImageWritersByFormatName(fmt).next()
      val param = writer.getDefaultWriteParam
      if (interlaced) param.setProgressiveMode(ImageWriteParam.MODE_DEFAULT)
      val bos = new java.io.ByteArrayOutputStream()
      val ios = ImageIO.createImageOutputStream(bos)
      try { writer.setOutput(ios); writer.write(null, new IIOImage(img, null, null), param) }
      finally { ios.close(); writer.dispose() }
      bos.toByteArray
    }
    def garble(b: Array[Byte], from: Int, n: Int): Array[Byte] = {
      val c = b.clone()
      for (i <- from until from + n) c(i) = (c(i) ^ 0x5a).toByte
      c
    }
    val g = new scala.util.Random(3)
    val rgb = new BufferedImage(40, 24, BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 24; x <- 0 until 40) rgb.setRGB(x, y, ((x * 6) << 16) | ((y * 10) << 8) | g.nextInt(256))
    val png = encode(rgb, "png")
    val jpeg = encode(rgb, "jpeg")
    val adam7 = encode(rgb, "png", interlaced = true)
    assert(adam7(28) === 1, "the writer did not interlace")
    val gray16 = new BufferedImage(20, 12, BufferedImage.TYPE_USHORT_GRAY)
    for (y <- 0 until 12; x <- 0 until 20) gray16.getRaster.setSample(x, y, 0, (x * 3001 + y * 97) & 0xffff)
    val deep = encode(gray16, "png")
    assert(deep(24) === 16, "the writer did not keep 16 bits")
    val idat = new String(png, "ISO-8859-1").indexOf("IDAT")
    val cases = Seq(
      "truncated png" -> png.take(png.length * 3 / 5),
      "corrupt png" -> garble(png, idat + 10, 24),
      "truncated jpeg" -> jpeg.take(jpeg.length / 2),
      "corrupt jpeg" -> garble(jpeg, jpeg.length / 2, 64),
      "corrupt jpeg header" -> garble(jpeg, 3, 40), // after FF D8 FF, which ImageIO sniffs
      "adam7 png" -> adam7,
      "16-bit png" -> deep)
    val dec = new Decode.ReusableDecoder
    def agrees(name: String, bytes: Array[Byte]): Unit = {
      val want = scala.util.Try(ImageIO.read(new java.io.ByteArrayInputStream(bytes))).toOption.flatMap(Option(_))
      val got = scala.util.Try(dec.decodeMeta(bytes))
      want match {
        case Some(img) =>
          assert(got.isSuccess, s"$name: ImageIO decodes it, decodeMeta threw ${got.failed.toOption}")
          val (w, h, px) = got.get
          assert((w, h) === ((img.getWidth, img.getHeight)), name)
          assert(java.util.Arrays.equals(px, img.getRGB(0, 0, w, h, null, 0, w)), name)
        case None =>
          assert(got.isFailure, s"$name: ImageIO throws, decodeMeta returned ${got.map(m => s"${m._1}x${m._2}")}")
      }
    }
    for ((name, bytes) <- cases) {
      assert(new FastPng().decode(bytes) == null, s"$name: FastPng decoded it")
      agrees(name, bytes)
    }
    // the supported layouts outside FastPng's scope decode through ImageIO
    assert(dec.decodeMeta(adam7)._1 === 40 && dec.decodeMeta(deep)._1 === 20)
    // the reused readers still decode intact images after the failures
    agrees("intact png", png)
    agrees("intact jpeg", jpeg)
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
