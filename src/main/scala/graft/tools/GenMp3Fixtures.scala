package graft.tools

/** One-shot generator for the committed MP3-fixture table
  * `src/main/resources/graft/fixtures/audio_mp3.parquet` (name, payload).
  *
  * Frames are hand-assembled (no codec in the JDK): every version/layer
  * family, an ID3v2-prefixed file exercising the SYNCSAFE size, mono vs
  * stereo, and negative cases (free bitrate, reserved sample rate, bad
  * sync, ID3 size past EOF, noise). Deterministic bytes.
  */
object GenMp3Fixtures {

  /** 4-byte frame header + filler. verBits 3=MPEG1, 2=MPEG2, 0=MPEG2.5;
    * layerBits 3=I, 2=II, 1=III.
    */
  def frame(verBits: Int, layerBits: Int, brIdx: Int, srIdx: Int,
      mono: Boolean, filler: Int = 24): Array[Byte] = {
    val b1 = 0xe0 | (verBits << 3) | (layerBits << 1) | 1
    val b2 = (brIdx << 4) | (srIdx << 2)
    val b3 = if (mono) 0xc0 else 0x00
    (Array(0xff, b1, b2, b3).map(_.toByte) ++
      Array.tabulate[Byte](filler)(i => ((i * 53 + 17) % 251).toByte))
  }

  /** ID3v2 header + `pad` tag bytes, syncsafe-encoded size. */
  def id3(pad: Int): Array[Byte] = {
    require(pad < (1 << 14), "keep test sizes in two syncsafe bytes")
    Array[Byte]('I', 'D', '3', 3, 0, 0,
      0, 0, ((pad >> 7) & 0x7f).toByte, (pad & 0x7f).toByte) ++
      Array.tabulate[Byte](pad)(i => (i * 7 % 127).toByte)
  }

  def fixtures(): Seq[(String, Array[Byte])] = Seq(
    "mp3_v1l3_128k_44100_stereo" -> frame(3, 1, 9, 0, mono = false),
    "mp3_id3_v1l3_192k_48000" -> (id3(35) ++ frame(3, 1, 11, 1, mono = false)),
    "mp3_v1l1_448k_32000" -> frame(3, 3, 14, 2, mono = false),
    "mp3_v1l2_112k_44100" -> frame(3, 2, 7, 0, mono = false),
    "mp3_v2l3_64k_22050_mono" -> frame(2, 1, 8, 0, mono = true),
    "mp3_v25l3_16k_8000" -> frame(0, 1, 2, 2, mono = false),
    // negative cases: must parse to null in BOTH engines
    "mp3_free_bitrate" -> frame(3, 1, 0, 0, mono = false),
    "mp3_reserved_samplerate" -> frame(3, 1, 9, 3, mono = false),
    "mp3_bad_sync" -> Array[Byte](0xff.toByte, 0x1b, 0x90.toByte, 0x00, 1, 2, 3),
    "mp3_id3_past_eof" -> id3(500).take(30), // declared tag exceeds the file
    "not_audio" -> Array.tabulate[Byte](40)(i => ((i * 43 + 5) % 249).toByte))

  def main(args: Array[String]): Unit =
    FixtureFile.write(args, "audio_mp3.parquet")(
      _.createDataFrame(fixtures()).toDF("name", "payload"))
}
