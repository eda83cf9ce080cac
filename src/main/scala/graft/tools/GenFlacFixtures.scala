package graft.tools

/** One-shot generator for the committed FLAC-fixture table
  * `src/main/resources/graft/fixtures/flac.parquet` (name, payload):
  * hand-built fLaC STREAMINFO headers (deterministic — no audio library).
  * STREAMINFO packs sample rate (20 bits), channels-1 (3), bits-1 (5) and
  * total samples (36) across bytes 18..25, so the fixtures deliberately
  * exercise every bit boundary: a sub-nibble sample rate, 8 channels, a
  * 36-bit total-samples value, plus the negative cases (wrong magic, first
  * block not STREAMINFO, truncated, empty).
  */
object GenFlacFixtures {

  /** Minimal valid FLAC header: magic + one STREAMINFO metadata block. */
  def flac(sr: Int, ch: Int, bps: Int, total: Long,
      minBlock: Int = 4096, maxBlock: Int = 4096): Array[Byte] = {
    require(sr < (1 << 20) && ch >= 1 && ch <= 8 && bps >= 4 && bps <= 32 &&
      total < (1L << 36))
    val b = new Array[Byte](42)
    "fLaC".getBytes("US-ASCII").copyToArray(b, 0)
    b(4) = 0x80.toByte // last-metadata-block, type 0 = STREAMINFO
    b(5) = 0; b(6) = 0; b(7) = 34 // 24-bit BE block length
    b(8) = (minBlock >> 8).toByte; b(9) = minBlock.toByte
    b(10) = (maxBlock >> 8).toByte; b(11) = maxBlock.toByte
    // min/max frame size (24-bit each) left 0 = unknown
    b(18) = ((sr >> 12) & 0xff).toByte
    b(19) = ((sr >> 4) & 0xff).toByte
    b(20) = (((sr & 0xf) << 4) | (((ch - 1) & 7) << 1) |
      (((bps - 1) >> 4) & 1)).toByte
    b(21) = ((((bps - 1) & 0xf) << 4) | ((total >> 32) & 0xf).toInt).toByte
    b(22) = ((total >> 24) & 0xff).toByte
    b(23) = ((total >> 16) & 0xff).toByte
    b(24) = ((total >> 8) & 0xff).toByte
    b(25) = (total & 0xff).toByte
    // bytes 26..41: MD5 of the stream — zero (unset) in the fixtures
    b
  }

  def fixtures(): Seq[(String, Array[Byte])] = Seq(
    "flac_cd_stereo" -> flac(44100, 2, 16, 123456L),
    "flac_hires_mono" -> flac(96000, 1, 24, 1000000L),
    // 8 channels, 32 bits, >32-bit total samples: every packed field at
    // its boundary
    "flac_8ch_32bit_big" -> flac(192000, 8, 32, (1L << 35) + 5L),
    // sr with a non-zero low nibble (crosses the byte-20 split)
    "flac_odd_rate" -> flac(22051, 2, 12, 777L),
    // negative cases: must parse to null in BOTH engines
    "flac_first_block_not_streaminfo" -> {
      val b = flac(44100, 2, 16, 1L)
      b(4) = 0x84.toByte // type 4 = VORBIS_COMMENT first → invalid layout
      b
    },
    "flac_short_block" -> {
      val b = flac(44100, 2, 16, 1L)
      b(7) = 20 // declared STREAMINFO length < 34
      b
    },
    "not_flac" -> Array.tabulate[Byte](48)(i => ((i * 37 + 11) % 247).toByte),
    "truncated_flac" -> ("fLaC".getBytes("US-ASCII") ++
      Array[Byte](0x00, 0x00, 0x00, 0x22, 0x10)),
    "empty" -> Array.emptyByteArray)

  def main(args: Array[String]): Unit =
    FixtureFile.write(args, "flac.parquet")(
      _.createDataFrame(fixtures()).toDF("name", "payload"))
}
