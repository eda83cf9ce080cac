package graft.tools

import java.nio.ByteBuffer

/** One-shot generator for the committed video-fixture table
  * `src/main/resources/graft/fixtures/video.parquet` (name, payload):
  * hand-built ISO-BMFF (MP4) boxes — big-endian throughout, offsets per the
  * public ISO/IEC 14496-12 layout — covering version-0 and version-1 mvhd,
  * free/largesize boxes before moov, junk children inside moov, and
  * negatives (no moov, mvhd-less moov, truncation, noise).
  */
object GenVideoFixtures {

  private def box(typ: String, body: Array[Byte]): Array[Byte] =
    ByteBuffer.allocate(8 + body.length)
      .putInt(8 + body.length).put(typ.getBytes("US-ASCII")).put(body).array()

  /** size==1 box: 64-bit largesize follows the type. */
  private def largeBox(typ: String, body: Array[Byte]): Array[Byte] =
    ByteBuffer.allocate(16 + body.length)
      .putInt(1).put(typ.getBytes("US-ASCII")).putLong(16L + body.length)
      .put(body).array()

  private val ftyp = box("ftyp",
    ByteBuffer.allocate(16).put("isom".getBytes("US-ASCII")).putInt(0)
      .put("isomiso2".getBytes("US-ASCII")).array())

  private def mvhdV0(timescale: Int, duration: Int): Array[Byte] = {
    val b = ByteBuffer.allocate(100)
    b.putInt(0)                 // version 0 + flags
    b.putInt(0).putInt(0)       // creation / modification
    b.putInt(timescale).putInt(duration)
    b.putInt(0x00010000).putShort(0x0100.toShort) // rate, volume
    box("mvhd", b.array())
  }

  private def mvhdV1(timescale: Int, duration: Long): Array[Byte] = {
    val b = ByteBuffer.allocate(112)
    b.putInt(0x01000000)        // version 1 + flags
    b.putLong(0L).putLong(0L)   // creation / modification (64-bit)
    b.putInt(timescale).putLong(duration)
    b.putInt(0x00010000).putShort(0x0100.toShort)
    box("mvhd", b.array())
  }

  private def noise(n: Int): Array[Byte] =
    Array.tabulate[Byte](n)(i => ((i * 29 + 3) % 253).toByte)

  def fixtures(): Seq[(String, Array[Byte])] = Seq(
    // canonical: ftyp, moov(mvhd v0), mdat — 90 s at timescale 600
    "mp4_v0_90s" -> (ftyp ++ box("moov", mvhdV0(600, 54000)) ++
      box("mdat", noise(64))),
    // version-1 mvhd (64-bit duration), junk child before mvhd inside moov
    "mp4_v1_junk_child" -> (ftyp ++
      box("moov", box("iods", noise(9)) ++ mvhdV1(90000, 2700000L)) ++
      box("mdat", noise(32))),
    // free box and a size==1 largesize mdat BEFORE moov — walk must skip both
    "mp4_free_and_large" -> (ftyp ++ box("free", noise(5)) ++
      largeBox("mdat", noise(40)) ++ box("moov", mvhdV0(1000, 12345))),
    // size==0 (to-EOF) mdat after moov — nothing after it is scanned
    "mp4_trailing_size0" -> {
      val m = ftyp ++ box("moov", mvhdV0(24, 480))
      val mdat0 = ByteBuffer.allocate(8 + 16).putInt(0)
        .put("mdat".getBytes("US-ASCII")).put(noise(16)).array()
      m ++ mdat0
    },
    // negatives: must parse to null in BOTH engines
    "mp4_no_moov" -> (ftyp ++ box("mdat", noise(48))),
    "mp4_moov_without_mvhd" -> (ftyp ++ box("moov", box("iods", noise(7)))),
    "mp4_truncated_mvhd" -> (ftyp ++ box("moov",
      box("mvhd", Array[Byte](0, 0, 0, 0)))), // v0 but only 4 body bytes
    "not_a_video" -> noise(50),
    "empty" -> Array.emptyByteArray)

  def main(args: Array[String]): Unit =
    FixtureFile.write(args, "video.parquet")(
      _.createDataFrame(fixtures()).toDF("name", "payload"))
}
