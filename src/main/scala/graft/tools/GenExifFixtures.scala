package graft.tools

import java.io.ByteArrayOutputStream
import java.nio.{ByteBuffer, ByteOrder}

/** One-shot generator for the committed EXIF-fixture table
  * `src/main/resources/graft/fixtures/images_exif.parquet` (name, payload).
  *
  * JPEGs are hand-assembled (the JDK's JPEG writer emits JFIF APP0, never
  * EXIF APP1): SOI, optional APP0/APP1 segments, a minimal SOF0, EOI.
  * The APP1 payload is "Exif\0\0" + a TIFF blob built like
  * GenTiffFixtures — both byte orders, displaced IFDs, duplicate and
  * wrong-typed orientation entries, plus negatives (non-Exif APP1 only,
  * truncated segment, missing tag, not a JPEG). Every byte deterministic.
  */
object GenExifFixtures {

  /** TIFF blob whose IFD0 carries `entries` (tag, type, value) in order. */
  def tiffBlob(le: Boolean, entries: Seq[(Int, Int, Long)],
      ifdOffset: Int = 8): Array[Byte] = {
    val size = ifdOffset + 2 + entries.size * 12 + 4
    val b = ByteBuffer.allocate(size)
      .order(if (le) ByteOrder.LITTLE_ENDIAN else ByteOrder.BIG_ENDIAN)
    if (le) b.put('I'.toByte).put('I'.toByte).put(0x2a.toByte).put(0.toByte)
    else b.put('M'.toByte).put('M'.toByte).put(0.toByte).put(0x2a.toByte)
    b.putInt(ifdOffset)
    while (b.position() < ifdOffset) b.put(0x5a.toByte) // padding to the IFD
    b.putShort(entries.size.toShort)
    entries.foreach { case (tag, typ, value) =>
      b.putShort(tag.toShort).putShort(typ.toShort).putInt(1)
      if (typ == 3) b.putShort(value.toShort).putShort(0.toShort)
      else b.putInt(value.toInt)
    }
    b.putInt(0) // next-IFD pointer: none
    b.array()
  }

  /** APP1 segment: FF E1, BE16 length (includes itself), body. */
  def app1(body: Array[Byte]): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    out.write(0xff); out.write(0xe1)
    val len = 2 + body.length
    out.write(len >> 8); out.write(len & 0xff)
    out.write(body)
    out.toByteArray
  }

  def exifApp1(le: Boolean, entries: Seq[(Int, Int, Long)],
      ifdOffset: Int = 8): Array[Byte] =
    app1("Exif".getBytes("ASCII") ++ Array[Byte](0, 0) ++
      tiffBlob(le, entries, ifdOffset))

  /** Minimal JFIF APP0 (the segment the JDK writer leads with). */
  def jfifApp0: Array[Byte] = {
    val body = "JFIF".getBytes("ASCII") ++
      Array[Byte](0, 1, 2, 0, 0, 1, 0, 1, 0, 0)
    val out = new ByteArrayOutputStream()
    out.write(0xff); out.write(0xe0)
    val len = 2 + body.length
    out.write(len >> 8); out.write(len & 0xff)
    out.write(body)
    out.toByteArray
  }

  /** Minimal SOF0 for an 8x6 grayscale frame, then EOI. */
  private def sofAndEoi: Array[Byte] =
    Array[Byte](0xff.toByte, 0xc0.toByte, 0, 11, 8, 0, 6, 0, 8, 1, 1, 0x11, 0) ++
      Array[Byte](0xff.toByte, 0xd9.toByte)

  def jpeg(segments: Array[Byte]*): Array[Byte] =
    Array[Byte](0xff.toByte, 0xd8.toByte) ++
      segments.flatten.toArray ++ sofAndEoi

  private val Ori = 274

  def fixtures(): Seq[(String, Array[Byte])] = Seq(
    // positives — the orientation SHORT in IFD0, both byte orders
    "exif_le_ori6" -> jpeg(exifApp1(le = true, Seq((Ori, 3, 6L)))),
    "exif_be_ori8" -> jpeg(exifApp1(le = false, Seq((Ori, 3, 8L)))),
    "exif_le_ori1_moretags" -> jpeg(exifApp1(le = true,
      Seq((271, 2, 0L), (Ori, 3, 1L), (282, 5, 0L)))),
    // APP0 before the EXIF APP1 (the common camera layout)
    "exif_after_app0_ori3" -> jpeg(jfifApp0,
      exifApp1(le = true, Seq((Ori, 3, 3L)))),
    // a non-Exif APP1 (XMP-style) must be skipped, not latched
    "exif_after_xmp_ori2" -> jpeg(
      app1("http://ns.example.com/xmp".getBytes("ASCII")),
      exifApp1(le = false, Seq((Ori, 3, 2L)))),
    // IFD displaced past padding inside the TIFF blob
    "exif_displaced_ifd_ori7" -> jpeg(
      exifApp1(le = true, Seq((Ori, 3, 7L)), ifdOffset = 32)),
    // duplicate orientation entries fold with max in both engines
    "exif_dup_ori_3_then_5" -> jpeg(
      exifApp1(le = true, Seq((Ori, 3, 3L), (Ori, 3, 5L)))),
    // negatives — all must be null in BOTH engines
    "exif_wrong_type_long" -> jpeg(
      exifApp1(le = true, Seq((Ori, 4, 6L)))), // LONG, not SHORT
    "exif_no_ori_tag" -> jpeg(exifApp1(le = true, Seq((271, 2, 0L)))),
    "exif_truncated_app1" -> {
      val full = jpeg(exifApp1(le = true, Seq((Ori, 3, 6L))))
      full.take(14) // segment length now runs past the buffer
    },
    "exif_truncated_ifd" -> jpeg(app1(
      "Exif".getBytes("ASCII") ++ Array[Byte](0, 0) ++
        tiffBlob(le = true, Seq((Ori, 3, 6L))).take(11))),
    "plain_jpeg_no_exif" -> jpeg(jfifApp0),
    "not_a_jpeg" -> Array.tabulate[Byte](32)(i => ((i * 37 + 11) % 251).toByte))

  def main(args: Array[String]): Unit =
    FixtureFile.write(args, "images_exif.parquet")(
      _.createDataFrame(fixtures()).toDF("name", "payload"))
}
