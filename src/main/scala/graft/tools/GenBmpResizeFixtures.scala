package graft.tools

import java.nio.{ByteBuffer, ByteOrder}

/** One-shot generator for the committed resampler-fixture table
  * `src/main/resources/graft/fixtures/images_bmp24.parquet` (name, payload):
  * hand-assembled UNCOMPRESSED 24bpp BMPs (BITMAPINFOHEADER and one
  * BITMAPV5 header) with deterministic pixel content, covering every
  * geometry branch of the nearest-neighbor resample (down-both,
  * width-bound, height-bound, fits-with-row-padding, top-down negative
  * height) plus negatives that must produce null output in BOTH engines
  * (32bpp, RLE-compressed, truncated pixel array, OS/2 core header,
  * non-BMP noise). Padding bytes are a poison marker (0xAB) so any
  * decoder that reads them shows up as a hash mismatch.
  */
object GenBmpResizeFixtures {

  /** Deterministic BGR for image coordinate (x, y). */
  def px(x: Int, y: Int, seed: Int): (Byte, Byte, Byte) = (
    ((x * 7 + y * 13 + seed) % 256).toByte,        // B
    ((x * 3 + y * 5 + seed * 7) % 256).toByte,     // G
    ((x * 11 + y * 17 + seed * 3) % 256).toByte)   // R

  def bmp24(w: Int, h: Int, seed: Int, topDown: Boolean = false,
      bitCount: Int = 24, compression: Int = 0, truncate: Int = 0,
      dibSize: Int = 40): Array[Byte] = {
    val stride = (w * 3 + 3) / 4 * 4
    val off = 14 + dibSize
    val full = off + stride * h
    val bb = ByteBuffer.allocate(full).order(ByteOrder.LITTLE_ENDIAN)
    bb.put('B'.toByte).put('M'.toByte).putInt(full).putShort(0).putShort(0)
      .putInt(off)
    bb.putInt(dibSize).putInt(w).putInt(if (topDown) -h else h)
      .putShort(1).putShort(bitCount.toShort).putInt(compression)
      .putInt(stride * h).putInt(2835).putInt(2835).putInt(0).putInt(0)
    while (bb.position() < off) bb.put(0.toByte) // V5 header tail, zeroed
    for (fileRow <- 0 until h) {
      val y = if (topDown) fileRow else h - 1 - fileRow
      for (x <- 0 until w) {
        val (b, g, r) = px(x, y, seed)
        bb.put(b).put(g).put(r)
      }
      for (_ <- w * 3 until stride) bb.put(0xAB.toByte) // poison padding
    }
    if (truncate > 0) java.util.Arrays.copyOf(bb.array(), full - truncate)
    else bb.array()
  }

  def fixtures(): Seq[(String, Array[Byte])] = Seq(
    "bmp_40x30_downboth" -> bmp24(40, 30, seed = 1),
    "bmp_33x10_widthbound" -> bmp24(33, 10, seed = 2),
    "bmp_10x33_heightbound" -> bmp24(10, 33, seed = 3),
    "bmp_11x9_fits_padded" -> bmp24(11, 9, seed = 4),
    "bmp_20x16_topdown" -> bmp24(20, 16, seed = 5, topDown = true),
    "bmp_v5_17x11" -> bmp24(17, 11, seed = 6, dibSize = 124),
    // negatives: null output in BOTH engines
    "bmp_32bpp" -> bmp24(8, 8, seed = 7, bitCount = 32),
    "bmp_rle" -> bmp24(8, 8, seed = 8, compression = 1),
    "bmp_truncated_pixels" -> bmp24(12, 10, seed = 9, truncate = 5),
    "bmp_core12" -> GenImageFixtures.coreHeaderBmp(25, 13),
    "not_bmp" -> Array.tabulate[Byte](64)(i => ((i * 41 + 7) % 251).toByte))

  def main(args: Array[String]): Unit =
    FixtureFile.write(args, "images_bmp24.parquet")(
      _.createDataFrame(fixtures()).toDF("name", "payload"))
}
