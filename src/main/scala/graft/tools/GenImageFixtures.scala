package graft.tools

import java.awt.image.BufferedImage
import java.io.ByteArrayOutputStream

/** One-shot generator for the committed image-fixture table
  * `src/main/resources/graft/fixtures/images.parquet` (name, payload).
  *
  * Images are rendered with the JDK's own headless ImageIO encoders (PNG /
  * JPEG / GIF / BMP — pure JDK, no external codec), plus two hand-crafted
  * negative cases: a BITMAPCOREHEADER bmp (legacy 16-bit-dims DIB header
  * ImageIO cannot write) and payloads that must parse to null. Deterministic
  * content (seeded gradient) so re-running reproduces the same file modulo
  * encoder version.
  */
object GenImageFixtures {

  def render(w: Int, h: Int, seed: Int, imgType: Int): BufferedImage = {
    val img = new BufferedImage(w, h, imgType)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val r = (x * 7 + seed) % 256
        val g = (y * 11 + seed * 3) % 256
        val b = (x + y + seed * 5) % 256
        img.setRGB(x, y, (r << 16) | (g << 8) | b)
        x += 1
      }
      y += 1
    }
    img
  }

  def encode(img: BufferedImage, fmt: String): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    require(javax.imageio.ImageIO.write(img, fmt, bos), s"no $fmt encoder")
    bos.toByteArray
  }

  /** A minimal OS/2 BITMAPCOREHEADER bmp: 14-byte file header + 12-byte core
    * DIB header (16-bit dims) + 24bpp pixel rows, little-endian throughout.
    */
  def coreHeaderBmp(w: Int, h: Int): Array[Byte] = {
    val rowBytes = (w * 3 + 3) / 4 * 4
    val size = 14 + 12 + rowBytes * h
    val b = java.nio.ByteBuffer.allocate(size)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    b.put('B'.toByte).put('M'.toByte).putInt(size).putShort(0).putShort(0)
      .putInt(14 + 12)
    b.putInt(12).putShort(w.toShort).putShort(h.toShort).putShort(1).putShort(24)
    (0 until rowBytes * h).foreach(i => b.put((i * 31 % 256).toByte))
    b.array()
  }

  def fixtures(): Seq[(String, Array[Byte])] = Seq(
    "png_640x480" -> encode(render(640, 480, 1, BufferedImage.TYPE_INT_RGB), "png"),
    "png_31x17" -> encode(render(31, 17, 2, BufferedImage.TYPE_INT_RGB), "png"),
    "jpeg_640x480" -> encode(render(640, 480, 3, BufferedImage.TYPE_INT_RGB), "jpg"),
    "jpeg_123x77" -> encode(render(123, 77, 4, BufferedImage.TYPE_INT_RGB), "jpg"),
    "gif_320x200" -> encode(render(320, 200, 5, BufferedImage.TYPE_INT_RGB), "gif"),
    "bmp_97x53" -> encode(render(97, 53, 6, BufferedImage.TYPE_INT_RGB), "bmp"),
    "bmp_core_25x13" -> coreHeaderBmp(25, 13),
    // negative cases: must parse to null dims in BOTH engines
    "not_an_image" -> Array.tabulate[Byte](64)(i => ((i * 37 + 11) % 251).toByte),
    "truncated_jpeg" -> Array[Byte](0xff.toByte, 0xd8.toByte, 0xff.toByte,
      0xe0.toByte, 0x00, 0x40, 0x4a, 0x46), // APP0 claims 64 bytes, file ends
    "empty" -> Array.emptyByteArray)

  def main(args: Array[String]): Unit = {
    System.setProperty("java.awt.headless", "true")
    FixtureFile.write(args, "images.parquet")(
      _.createDataFrame(fixtures()).toDF("name", "payload"))
  }
}
