package graft.tools

import java.nio.{ByteBuffer, ByteOrder}

/** One-shot generator for the committed TIFF-fixture table
  * `src/main/resources/graft/fixtures/images_tiff.parquet` (name, payload).
  *
  * TIFFs are hand-assembled (the JDK has no TIFF encoder in java.desktop):
  * both byte orders, SHORT and LONG dimension types, an IFD displaced past
  * padding, and negative cases (truncated entry table, missing ImageLength,
  * non-TIFF bytes). Every byte is deterministic.
  */
object GenTiffFixtures {

  /** Minimal single-IFD TIFF. Entries are written tag-ascending per spec:
    * 254 NewSubfileType (LONG 0), 256/257 dims (`shortType` picks SHORT vs
    * LONG), 258 BitsPerSample (SHORT 8), 259 Compression (SHORT 1),
    * 262 PhotometricInterpretation (SHORT 1). A SHORT value occupies the
    * value field's FIRST two bytes in file order — which is exactly what a
    * ByteBuffer with the file's own endianness writes.
    */
  def tiff(le: Boolean, w: Int, h: Int, shortType: Boolean,
      ifdOffset: Int = 8, dropHeight: Boolean = false): Array[Byte] = {
    val tags = Seq(254, 256, 257, 258, 259, 262)
      .filterNot(t => dropHeight && t == 257)
    val size = ifdOffset + 2 + tags.size * 12 + 4 + 16
    val b = ByteBuffer.allocate(size)
      .order(if (le) ByteOrder.LITTLE_ENDIAN else ByteOrder.BIG_ENDIAN)
    if (le) b.put('I'.toByte).put('I'.toByte).put(0x2a.toByte).put(0.toByte)
    else b.put('M'.toByte).put('M'.toByte).put(0.toByte).put(0x2a.toByte)
    b.putInt(ifdOffset)
    while (b.position() < ifdOffset) b.put(0x5a.toByte) // padding to the IFD
    b.putShort(tags.size.toShort)
    def entry(tag: Int, typ: Int, value: Long): Unit = {
      b.putShort(tag.toShort).putShort(typ.toShort).putInt(1)
      if (typ == 3) b.putShort(value.toShort).putShort(0.toShort)
      else b.putInt(value.toInt)
    }
    val dimType = if (shortType) 3 else 4
    tags.foreach {
      case 254 => entry(254, 4, 0L)
      case 256 => entry(256, dimType, w.toLong)
      case 257 => entry(257, dimType, h.toLong)
      case 258 => entry(258, 3, 8L)
      case 259 => entry(259, 3, 1L)
      case 262 => entry(262, 3, 1L)
    }
    b.putInt(0) // next-IFD pointer: none
    (0 until 16).foreach(i => b.put((i * 29 % 256).toByte)) // strip filler
    b.array()
  }

  def fixtures(): Seq[(String, Array[Byte])] = Seq(
    "tiff_le_long_800x600" -> tiff(le = true, 800, 600, shortType = false),
    "tiff_le_short_41x29" -> tiff(le = true, 41, 29, shortType = true),
    "tiff_be_short_320x240" -> tiff(le = false, 320, 240, shortType = true),
    "tiff_be_long_70000x2" -> tiff(le = false, 70000, 2, shortType = false),
    "tiff_displaced_ifd_64x48" ->
      tiff(le = true, 64, 48, shortType = true, ifdOffset = 40),
    // negative cases: must parse to null dims in BOTH engines
    "tiff_truncated_ifd" -> {
      val full = tiff(le = true, 10, 10, shortType = true)
      full.take(12) // IFD entry table cut off mid-entry
    },
    "tiff_no_height" -> tiff(le = true, 33, 44, shortType = true,
      dropHeight = true),
    "not_a_tiff" -> Array.tabulate[Byte](48)(i => ((i * 41 + 7) % 250).toByte))

  def main(args: Array[String]): Unit =
    FixtureFile.write(args, "images_tiff.parquet")(
      _.createDataFrame(fixtures()).toDF("name", "payload"))
}
