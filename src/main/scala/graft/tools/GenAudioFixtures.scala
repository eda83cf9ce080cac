package graft.tools

import java.nio.{ByteBuffer, ByteOrder}

/** One-shot generator for the committed audio-fixture table
  * `src/main/resources/graft/fixtures/audio.parquet` (name, payload):
  * hand-built RIFF/WAVE bytes (deterministic — no audio library), covering
  * the canonical layout, extra chunks before `fmt `, odd-size chunks with
  * their pad byte, a fmt-less RIFF, and non-WAV payloads.
  */
object GenAudioFixtures {

  private def chunk(id: String, body: Array[Byte]): Array[Byte] = {
    val pad = body.length % 2
    val b = ByteBuffer.allocate(8 + body.length + pad).order(ByteOrder.LITTLE_ENDIAN)
    b.put(id.getBytes("US-ASCII")).putInt(body.length).put(body)
    b.array()
  }

  private def fmtBody(channels: Int, rate: Int, bits: Int): Array[Byte] = {
    val blockAlign = channels * bits / 8
    ByteBuffer.allocate(16).order(ByteOrder.LITTLE_ENDIAN)
      .putShort(1.toShort).putShort(channels.toShort).putInt(rate)
      .putInt(rate * blockAlign).putShort(blockAlign.toShort).putShort(bits.toShort)
      .array()
  }

  /** PCM WAV with deterministic sawtooth samples; `pre` chunks go between
    * the WAVE tag and `fmt `.
    */
  def wav(channels: Int, rate: Int, bits: Int, nFrames: Int,
      pre: Seq[Array[Byte]] = Nil): Array[Byte] = {
    val blockAlign = channels * bits / 8
    val data = Array.tabulate[Byte](nFrames * blockAlign)(i => ((i * 13) % 251).toByte)
    val chunks = pre ++ Seq(chunk("fmt ", fmtBody(channels, rate, bits)),
      chunk("data", data))
    val payload = chunks.flatten.toArray
    val b = ByteBuffer.allocate(12 + payload.length).order(ByteOrder.LITTLE_ENDIAN)
    b.put("RIFF".getBytes("US-ASCII")).putInt(4 + payload.length)
      .put("WAVE".getBytes("US-ASCII")).put(payload)
    b.array()
  }

  def fixtures(): Seq[(String, Array[Byte])] = Seq(
    "wav_stereo_44k_16" -> wav(2, 44100, 16, 1000),
    "wav_mono_16k_16" -> wav(1, 16000, 16, 320),
    "wav_mono_8k_8" -> wav(1, 8000, 8, 123),
    // LIST chunk before fmt — the walk must skip it
    "wav_list_before_fmt" -> wav(2, 48000, 24, 10,
      pre = Seq(chunk("LIST", "INFOsome metadata here".getBytes("US-ASCII")))),
    // odd-size pre chunk exercises the word-alignment pad byte
    "wav_odd_chunk" -> wav(1, 22050, 16, 7,
      pre = Seq(chunk("junk", Array.tabulate[Byte](11)(_.toByte)))),
    // negative cases: must parse to null in BOTH engines
    "riff_no_fmt" -> {
      val b = ByteBuffer.allocate(12 + 12).order(ByteOrder.LITTLE_ENDIAN)
      b.put("RIFF".getBytes("US-ASCII")).putInt(16).put("WAVE".getBytes("US-ASCII"))
      b.put(chunk("junk", Array[Byte](1, 2, 3, 4))).array()
    },
    "not_audio" -> Array.tabulate[Byte](48)(i => ((i * 41 + 7) % 249).toByte),
    "truncated_riff" -> ("RIFF".getBytes("US-ASCII") ++
      Array[Byte](0x10, 0, 0, 0) ++ "WA".getBytes("US-ASCII")),
    "empty" -> Array.emptyByteArray)

  def main(args: Array[String]): Unit =
    FixtureFile.write(args, "audio.parquet")(
      _.createDataFrame(fixtures()).toDF("name", "payload"))
}
