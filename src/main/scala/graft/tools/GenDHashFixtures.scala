package graft.tools

import java.nio.{ByteBuffer, ByteOrder}

/** One-shot generator for the committed perceptual-dedup fixture table
  * `src/main/resources/graft/fixtures/images_dhash.parquet` (name, payload):
  * three unrelated "scenes" of avalanche-mixed pixel noise (so cross-scene
  * dHash distances sit near the random-expectation 32 bits) plus PLANTED
  * near-duplicates exercising each invariance class of the dHash:
  *
  *  - `*_reenc`    — identical pixels stored top-down instead of bottom-up
  *                   (a lossless re-encode): provably Hamming 0;
  *  - `*_up2x`     — 2x nearest-neighbor upscale: the dHash grid's floor
  *                   sampling picks the identical source pixels
  *                   (floor(floor(2x/9)/2) = floor(x/9)), provably Hamming 0;
  *  - `*_bright`   — +5 per channel with 255-clamp: gradient signs survive
  *                   except where clamping distorts near-equal neighbors —
  *                   small nonzero Hamming (measured at generation, must
  *                   stay within the d25 radius);
  *  - `*_logo`     — an opaque block overlay covering exactly ONE dHash
  *                   grid sample point: at most the 2 adjacent gradient
  *                   bits flip, Hamming <= 2 by construction.
  *
  * Negatives (32bpp patch, non-BMP noise) must hash to null in BOTH
  * engines and never appear in the pair relation.
  */
object GenDHashFixtures {

  /** Avalanche mix — decorrelates neighboring pixels so distinct scenes
    * land near Hamming 32 of 64 from each other.
    */
  def mix(x: Int, y: Int, seed: Int): Int = {
    var h = x * 0x9e3779b1 + y * 0x85ebca77 + seed * 0xc2b2ae3d
    h ^= h >>> 15; h *= 0x27d4eb2f
    h ^= h >>> 13; h *= 0x165667b1
    h ^= h >>> 16
    h
  }

  type Px = (Int, Int) => (Int, Int, Int) // (x, y) => (B, G, R)

  def scene(seed: Int): Px = (x, y) => {
    val h = mix(x, y, seed)
    (h & 0xff, (h >>> 8) & 0xff, (h >>> 16) & 0xff)
  }

  def brighten(base: Px, delta: Int): Px = (x, y) => {
    val (b, g, r) = base(x, y)
    (math.min(b + delta, 255), math.min(g + delta, 255), math.min(r + delta, 255))
  }

  /** Opaque white block over [x0,x1]x[y0,y1] (inclusive). */
  def logo(base: Px, x0: Int, x1: Int, y0: Int, y1: Int): Px = (x, y) =>
    if (x >= x0 && x <= x1 && y >= y0 && y <= y1) (255, 255, 255) else base(x, y)

  /** Uncompressed 24bpp BMP with BITMAPINFOHEADER; poison padding like
    * GenBmpResizeFixtures so stride bugs surface as hash mismatches.
    */
  def bmp(w: Int, h: Int, px: Px, topDown: Boolean = false): Array[Byte] = {
    val stride = (w * 3 + 3) / 4 * 4
    val off = 14 + 40
    val full = off + stride * h
    val bb = ByteBuffer.allocate(full).order(ByteOrder.LITTLE_ENDIAN)
    bb.put('B'.toByte).put('M'.toByte).putInt(full).putShort(0).putShort(0)
      .putInt(off)
    bb.putInt(40).putInt(w).putInt(if (topDown) -h else h)
      .putShort(1).putShort(24).putInt(0)
      .putInt(stride * h).putInt(2835).putInt(2835).putInt(0).putInt(0)
    for (fileRow <- 0 until h) {
      val y = if (topDown) fileRow else h - 1 - fileRow
      for (x <- 0 until w) {
        val (b, g, r) = px(x, y)
        bb.put(b.toByte).put(g.toByte).put(r.toByte)
      }
      for (_ <- w * 3 until stride) bb.put(0xab.toByte)
    }
    bb.array()
  }

  def fixtures(): Seq[(String, Array[Byte])] = {
    val a = scene(11)
    val b = scene(22)
    val c = scene(33)
    // 32bpp negative: scene_c's header with the bit-count field patched
    val bmp32 = bmp(48, 20, c)
    bmp32(28) = 32
    Seq(
      "scene_a" -> bmp(40, 30, a),
      "scene_a_reenc" -> bmp(40, 30, a, topDown = true),
      "scene_a_up2x" -> bmp(80, 60, (x, y) => a(x / 2, y / 2)),
      "scene_a_bright" -> bmp(40, 30, brighten(a, 5)),
      "scene_b" -> bmp(36, 28, b),
      // covers exactly grid sample (gx=4 -> sx=16, gy=3 -> sy=10) of 36x28
      "scene_b_logo" -> bmp(36, 28, logo(b, 14, 19, 9, 13)),
      "scene_c" -> bmp(48, 20, c),
      // negatives: null dHash in BOTH engines
      "dh_bmp32" -> bmp32,
      "dh_not_bmp" -> Array.tabulate[Byte](64)(i => ((i * 37 + 11) % 251).toByte))
  }

  def main(args: Array[String]): Unit = {
    // print the planted/cross distances so fixture edits stay honest
    val dh = fixtures().map { case (n, bytes) =>
      n -> Option(graft.plans.DHashKernel.computeRow(bytes))
        .map(r => (r.getLong(0), r.getLong(1)))
    }
    for ((na, Some((h1, l1))) <- dh; (nb, Some((h2, l2))) <- dh if na < nb) {
      val d = java.lang.Long.bitCount(h1 ^ h2) + java.lang.Long.bitCount(l1 ^ l2)
      println(f"$na%-16s $nb%-16s hamming=$d")
    }
    FixtureFile.write(args, "images_dhash.parquet")(
      _.createDataFrame(fixtures()).toDF("name", "payload"))
  }
}
