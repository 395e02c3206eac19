package graft.multimodal

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.data.SyntheticImages

/** Multimodal column plumbing: media payloads are opaque `binary` columns
  * with typed metadata; decode / feature-extract stages are typed Dataset
  * transforms over batched partitions (the Scala analog of `mapInPandas` —
  * one JVM decode loop per partition, no per-row driver round trips).
  *
  * Image decode is REAL (javax.imageio handles png/jpeg in this JVM).
  */
object Decode {

  /** `ImageInputStream` directly over a byte array: skips both the
    * `ImageIO.createImageInputStream` SPI-registry scan and the
    * `MemoryCacheImageInputStream` block-cache machinery per image (~2 µs +
    * garbage per call at 32×32 sizes — r6 optimization). */
  private final class ByteArrayImageInputStream(b: Array[Byte])
      extends javax.imageio.stream.ImageInputStreamImpl {
    override def read(): Int = {
      if (streamPos >= b.length) return -1
      bitOffset = 0
      val v = b(streamPos.toInt) & 0xff
      streamPos += 1
      v
    }
    override def read(dst: Array[Byte], off: Int, len: Int): Int = {
      if (streamPos >= b.length) return -1
      bitOffset = 0
      val n = math.min(len, b.length - streamPos.toInt)
      System.arraycopy(b, streamPos.toInt, dst, off, n)
      streamPos += n
      n
    }
    override def length(): Long = b.length.toLong
    override def isCached: Boolean = true
    override def isCachedMemory: Boolean = true
  }

  /** Per-partition decoder that reuses one ImageReader per format.
    * `ImageIO.read` allocates a fresh reader + runs provider format
    * sniffing per call — at millions of small images per partition that
    * overhead rivals the actual decode. Format is dispatched on the magic
    * bytes (PNG `\x89PNG`, JPEG `\xFF\xD8`), falling back to `ImageIO.read`
    * for anything else. PNG additionally takes the [[FastPng]] chunk-parse +
    * reused-Inflater decoder (bit-identical pixels, DecodeSpec) with the
    * ImageIO reader as fallback for layouts outside its scope, and pixel
    * extraction reads the raster buffer directly instead of per-pixel
    * `getRGB` ColorModel dispatch (r6 optimization). NOT thread-safe: one
    * instance per partition task. */
  final class ReusableDecoder {
    private def readerFor(fmt: String) = {
      val it = javax.imageio.ImageIO.getImageReadersByFormatName(fmt)
      if (it.hasNext) it.next() else null
    }
    private val png = readerFor("png")
    private val jpeg = readerFor("jpeg")
    private val fastPng = new FastPng

    @inline private def isPng(bytes: Array[Byte]): Boolean =
      bytes.length > 1 && (bytes(0) & 0xff) == 0x89 && bytes(1) == 'P'
    @inline private def isJpeg(bytes: Array[Byte]): Boolean =
      bytes.length > 1 && (bytes(0) & 0xff) == 0xff && (bytes(1) & 0xff) == 0xd8

    private def readVia(r: javax.imageio.ImageReader,
        bytes: Array[Byte]): java.awt.image.BufferedImage = {
      val iis = new ByteArrayImageInputStream(bytes)
      try { r.setInput(iis, true, true); r.read(0) } finally iis.close()
    }

    def decodeImage(bytes: Array[Byte]): java.awt.image.BufferedImage = {
      if (isPng(bytes)) {
        val d = fastPng.decode(bytes)
        if (d != null) {
          val img = new java.awt.image.BufferedImage(
            d.w, d.h, java.awt.image.BufferedImage.TYPE_INT_RGB)
          System.arraycopy(d.pixels, 0,
            img.getRaster.getDataBuffer.asInstanceOf[java.awt.image.DataBufferInt].getData,
            0, d.pixels.length)
          img
        } else readVia(png, bytes)
      } else if (isJpeg(bytes)) readVia(jpeg, bytes)
      else javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
    }

    /** packed 0xFFrrggbb pixels of a decoded image — bit-identical to
      * `getRGB(0,0,w,h,null,0,w)`, taking the direct raster-buffer path for
      * the two layouts the readers produce here (3BYTE_BGR from JPEG,
      * INT_RGB from the FastPng wrap). */
    def imageToRgb(img: java.awt.image.BufferedImage): Array[Int] = {
      val w = img.getWidth
      val h = img.getHeight
      img.getType match {
        case java.awt.image.BufferedImage.TYPE_3BYTE_BGR =>
          val d = img.getRaster.getDataBuffer.asInstanceOf[java.awt.image.DataBufferByte].getData
          val out = new Array[Int](w * h)
          var i = 0
          var s = 0
          while (i < out.length) {
            out(i) = 0xff000000 | ((d(s + 2) & 0xff) << 16) | ((d(s + 1) & 0xff) << 8) |
              (d(s) & 0xff)
            s += 3
            i += 1
          }
          out
        case java.awt.image.BufferedImage.TYPE_INT_RGB =>
          val d = img.getRaster.getDataBuffer.asInstanceOf[java.awt.image.DataBufferInt].getData
          val out = new Array[Int](w * h)
          var i = 0
          while (i < out.length) { out(i) = 0xff000000 | d(i); i += 1 }
          out
        case _ =>
          img.getRGB(0, 0, w, h, null, 0, w)
      }
    }

    def decodePixels(bytes: Array[Byte]): Array[Int] = {
      if (isPng(bytes)) {
        val d = fastPng.decode(bytes)
        if (d != null) return d.pixels
      }
      imageToRgb(decodeImage(bytes))
    }

    /** decode → (w, h, packed pixels) without materializing a BufferedImage
      * on the PNG fast path (the meta stage needs only dimensions+pixels). */
    def decodeMeta(bytes: Array[Byte]): (Int, Int, Array[Int]) = {
      if (isPng(bytes)) {
        val d = fastPng.decode(bytes)
        if (d != null) return (d.w, d.h, d.pixels)
      }
      val img = decodeImage(bytes)
      (img.getWidth, img.getHeight, imageToRgb(img))
    }
  }

  case class ImageDims(image_id: String, w_dec: Int, h_dec: Int)

  /** Dims-only decode stage — the manual projection pushdown for consumers
    * that read just (image_id, w_dec, h_dec), like the declared
    * img_decode_meta query (guide §1.2 "don't compute things you throw
    * away": mapPartitions is opaque to Catalyst, so the unused mean-luma +
    * DCT-pHash featurization of [[imageMeta]] — ~18% of that stage's wall —
    * cannot be pruned automatically). The DECODE itself is identical and
    * complete (same ReusableDecoder fast paths, full pixel production;
    * dimensions are read from the decoder's output, never sniffed from
    * headers); only the post-decode featurization is skipped. DecodeSpec
    * asserts dims equality with [[imageMeta]] row-for-row. */
  def imageDims(images: DataFrame): Dataset[ImageDims] = {
    val spark = images.sparkSession
    import spark.implicits._
    images.select(col("image_id"), col("bytes")).as[(String, Array[Byte])]
      .mapPartitions { it =>
        val dec = new ReusableDecoder
        it.map { case (id, bytes) =>
          val (w, h, _) = dec.decodeMeta(bytes)
          ImageDims(id, w, h)
        }
      }
  }

  case class ImageMeta(image_id: String, w_dec: Int, h_dec: Int, mean_luma: Double, phash_dec: Long)

  /** decode image bytes partition-wise → dimensions, mean luma, recomputed
    * DCT pHash. Narrow stage; input pruned to (image_id, bytes). */
  def imageMeta(images: DataFrame): Dataset[ImageMeta] = {
    val spark = images.sparkSession
    import spark.implicits._
    images.select(col("image_id"), col("bytes")).as[(String, Array[Byte])]
      .mapPartitions { it =>
        val dec = new ReusableDecoder
        it.map { case (id, bytes) =>
          // report the decoder's ACTUAL dimensions — deriving a side as
          // sqrt(pixel count) silently assumes square images and reports
          // both axes wrong on anything else (e.g. 45x45 for a 64x32 input)
          val (w, h, px) = dec.decodeMeta(bytes)
          // one gray pass feeds BOTH the mean luma and (at native 32×32) the
          // DCT pHash — same per-element expression and summation order as
          // the former two separate loops, so the doubles are bit-identical
          val gray = new Array[Double](px.length)
          var luma = 0.0
          var i = 0
          while (i < px.length) {
            val p = px(i)
            val g = 0.299 * ((p >> 16) & 0xff) + 0.587 * ((p >> 8) & 0xff) + 0.114 * (p & 0xff)
            gray(i) = g
            luma += g
            i += 1
          }
          // pHash contract: DCT over a Size×Size (32×32) resample — the
          // corpus generates at that size (no-op there), anything else is
          // bilinear-downsampled first; dctPhash itself requires the exact
          // pixel count rather than silently truncating
          val phash =
            if (w == SyntheticImages.Size && h == SyntheticImages.Size)
              SyntheticImages.dctPhashGray(gray)
            else {
              val src = new java.awt.image.BufferedImage(w, h,
                java.awt.image.BufferedImage.TYPE_INT_RGB)
              src.setRGB(0, 0, w, h, px, 0, w)
              val sq = new java.awt.image.BufferedImage(SyntheticImages.Size,
                SyntheticImages.Size, java.awt.image.BufferedImage.TYPE_INT_RGB)
              val g = sq.createGraphics()
              g.setRenderingHint(java.awt.RenderingHints.KEY_INTERPOLATION,
                java.awt.RenderingHints.VALUE_INTERPOLATION_BILINEAR)
              g.drawImage(src, 0, 0, SyntheticImages.Size, SyntheticImages.Size, null)
              g.dispose()
              SyntheticImages.dctPhash(sq.getRGB(0, 0, SyntheticImages.Size,
                SyntheticImages.Size, null, 0, SyntheticImages.Size))
            }
          ImageMeta(id, w, h, luma / px.length, phash)
        }
      }
  }

  case class Fidelity(
      image_id: String, fmt: String, psnr_ok: Boolean, caption_ok: Boolean)

  /** Per-row payload fidelity vs ground truth (`BASELINE.json.input_hint`:
    * "decoded-pixel allclose, PSNR ≥ 40 dB for lossy formats, exact caption
    * equality"): regenerates each row's ORIGINAL pixels and caption by
    * replaying the deterministic generator for its family
    * ([[SyntheticImages.familyTruth]]), decodes the STORED bytes, and checks
    * PNG rows decode pixel-exact, JPEG rows decode at PSNR ≥ 40 dB, and the
    * stored caption equals the generated one. Partition-mapped narrow stage;
    * family truths are replayed once per family (rows of a family are
    * adjacent in generation order, so a last-family cache hits). */
  def payloadFidelity(images: DataFrame, seed: Long = 42L): Dataset[Fidelity] = {
    val spark = images.sparkSession
    import spark.implicits._
    images
      .select(col("image_id"), col("bytes"), col("fmt"), col("caption"), col("truth_cluster"))
      .as[(String, Array[Byte], String, String, Long)]
      .mapPartitions { it =>
        val dec = new ReusableDecoder
        var cachedFam = -1L
        var cached: Seq[SyntheticImages.Truth] = Nil
        it.map { case (id, bytes, fmt, caption, famId) =>
          if (famId != cachedFam) {
            cached = SyntheticImages.familyTruth(famId, seed, famId * 8)
            cachedFam = famId
          }
          val truth = cached.find(_.image_id == id).getOrElse(
            throw new IllegalStateException(s"no generated truth for $id in family $famId"))
          val decoded = dec.decodePixels(bytes)
          val p = SyntheticImages.psnr(truth.pixels, decoded)
          val psnrOk = if (fmt == "png") p.isPosInfinity else p >= 40.0
          Fidelity(id, fmt, psnrOk, caption == truth.caption)
        }
      }
  }

  case class ResizedImage(image_id: String, w_rs: Int, h_rs: Int, png_bytes: Array[Byte])

  /** REAL image resize (bilinear, java.awt) partition-wise: decode → scale to
    * `(w, h)` → re-encode lossless PNG. The standard normalization stage in
    * front of embedding/feature models; one decode loop per partition. */
  def imageResize(images: DataFrame, w: Int, h: Int): Dataset[ResizedImage] = {
    val spark = images.sparkSession
    import spark.implicits._
    images.select(col("image_id"), col("bytes")).as[(String, Array[Byte])]
      .mapPartitions { it =>
        val dec = new ReusableDecoder
        it.map { case (id, bytes) =>
          val in = dec.decodeImage(bytes)
          val out = new java.awt.image.BufferedImage(w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
          val g = out.createGraphics()
          g.setRenderingHint(java.awt.RenderingHints.KEY_INTERPOLATION,
            java.awt.RenderingHints.VALUE_INTERPOLATION_BILINEAR)
          g.drawImage(in, 0, 0, w, h, null)
          g.dispose()
          val bos = new java.io.ByteArrayOutputStream()
          javax.imageio.ImageIO.write(out, "png", bos)
          ResizedImage(id, w, h, bos.toByteArray)
        }
      }
  }
}
