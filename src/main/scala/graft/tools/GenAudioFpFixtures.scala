package graft.tools

import java.nio.{ByteBuffer, ByteOrder}

/** One-shot generator for the committed audio-fingerprint fixture table
  * `src/main/resources/graft/fixtures/audio_fp.parquet` (name, payload):
  * half-second PCM16 "recordings" of a square-wave tone whose amplitude
  * envelope steps through 65 hash-derived levels (one per fingerprint
  * window), plus PLANTED re-encodes of the same recording exercising each
  * invariance class of the energy-delta fingerprint:
  *
  *  - `*_22k`    — the same waveform SAMPLED at half the rate: the
  *                 virtual resample to the common 6 kHz picks (near-)
  *                 identical waveform positions — tiny Hamming;
  *  - `*_stereo` — the same signal duplicated to two channels: every
  *                 window energy doubles, order survives — Hamming 0;
  *  - `*_gain`   — every sample scaled by 0.6: energies scale, order
  *                 survives — Hamming 0;
  *  - `*_drop`   — ONE envelope window silenced (a dropout), chosen at a
  *                 local maximum of the envelope so BOTH adjacent gradient
  *                 bits provably flip: Hamming exactly 2.
  *
  * Distinct tones (different envelope seeds) land near the random 32-bit
  * expectation. Negatives (8-bit PCM, non-WAV noise) must fingerprint to
  * null in BOTH engines. Distances are printed at generation so fixture
  * edits stay honest.
  */
object GenAudioFpFixtures {

  private val Dur = 0.5 // seconds; integer frame counts at every rate used

  /** Envelope level for fingerprint window k — avalanche-mixed so adjacent
    * windows are decorrelated (strong gradients, stable comparisons).
    */
  private def level(k: Int, seed: Int): Int =
    500 + math.floorMod(GenDHashFixtures.mix(k, 977, seed), 28000)

  /** Sample of the seeded recording at absolute time tau (seconds). */
  private def signal(tau: Double, seed: Int): Short = {
    val k = math.min((tau * 65 / Dur).toInt, 64)
    val sign = if ((tau * 440) % 1.0 < 0.5) 1 else -1
    (sign * level(k, seed)).toShort
  }

  /** Mono/stereo PCM16 WAV of the seeded recording at `rate`, with an
    * optional per-sample transform (gain, clicks) applied before
    * quantization-order-sensitive packing.
    */
  def toneWav(rate: Int, seed: Int, channels: Int = 1,
      xform: (Double, Short) => Short = (_, s) => s): Array[Byte] = {
    val nFrames = (Dur * rate).toInt
    val data = ByteBuffer.allocate(nFrames * channels * 2)
      .order(ByteOrder.LITTLE_ENDIAN)
    for (i <- 0 until nFrames; _ <- 0 until channels) {
      val tau = i.toDouble / rate
      data.putShort(xform(tau, signal(tau, seed)))
    }
    val blockAlign = channels * 2
    val body = data.array()
    val bb = ByteBuffer.allocate(44 + body.length).order(ByteOrder.LITTLE_ENDIAN)
    bb.put("RIFF".getBytes("US-ASCII")).putInt(36 + body.length)
      .put("WAVE".getBytes("US-ASCII"))
      .put("fmt ".getBytes("US-ASCII")).putInt(16)
      .putShort(1).putShort(channels.toShort).putInt(rate)
      .putInt(rate * blockAlign).putShort(blockAlign.toShort).putShort(16)
      .put("data".getBytes("US-ASCII")).putInt(body.length).put(body)
    bb.array()
  }

  def fixtures(): Seq[(String, Array[Byte])] = {
    // window 20 is a LOCAL MAX of the seed-5 envelope (18302 < 20095 >
    // 18307): silencing it flips exactly the two adjacent gradient bits
    val dropLo = 20 * Dur / 65
    val dropHi = 21 * Dur / 65
    Seq(
      "fp_tone_a_44k" -> toneWav(44100, seed = 5),
      "fp_tone_a_22k" -> toneWav(22050, seed = 5),
      "fp_tone_a_stereo" -> toneWav(44100, seed = 5, channels = 2),
      "fp_tone_a_gain" -> toneWav(44100, seed = 5,
        xform = (_, s) => (s * 0.6).toShort),
      "fp_tone_a_drop" -> toneWav(44100, seed = 5,
        xform = (tau, s) => if (tau >= dropLo && tau < dropHi) 0 else s),
      "fp_tone_b_44k" -> toneWav(44100, seed = 6),
      "fp_tone_c_32k" -> toneWav(32000, seed = 7),
      // negatives: null fingerprint in BOTH engines
      "fp_wav_8bit" -> {
        val b = toneWav(8000, seed = 8)
        b(34) = 8 // fmt bits-per-sample field: PCM8 fails the gate
        b
      },
      "fp_not_wav" -> Array.tabulate[Byte](96)(i => ((i * 29 + 3) % 253).toByte))
  }

  def main(args: Array[String]): Unit = {
    val fp = fixtures().map { case (n, bytes) =>
      n -> Option(graft.plans.AudioFpKernel.computeRow(bytes, 6000))
        .map(r => (r.getLong(0), r.getLong(1)))
    }
    for ((na, Some((h1, l1))) <- fp; (nb, Some((h2, l2))) <- fp if na < nb) {
      val d = java.lang.Long.bitCount(h1 ^ h2) + java.lang.Long.bitCount(l1 ^ l2)
      println(f"$na%-18s $nb%-18s hamming=$d")
    }
    FixtureFile.write(args, "audio_fp.parquet")(
      _.createDataFrame(fixtures()).toDF("name", "payload"))
  }
}
