package graft.tools

/** One-shot generator for the committed cross-modal training-pair fixture
  * `src/main/resources/graft/fixtures/pairs_xmodal.parquet`
  * (pair_id, img_name, payload, caption): (image, caption) pairs with
  * PLANTED duplication on each side independently, so the cross-modal
  * dedup rule (one pair per image-cluster × caption-cluster CELL) is
  * distinguishable from either side's dedup alone:
  *
  *   pair 1 (scene_a,       capA)          — cell (A, capA):  kept (min)
  *   pair 2 (scene_a_reenc, capA + tail)   — cell (A, capA):  dropped —
  *          BOTH sides are near-dups of pair 1, the true cross-modal dup
  *   pair 3 (scene_a_up2x,  capB)          — cell (A, capB):  kept — same
  *          image as 1, genuinely different caption
  *   pair 4 (scene_b,       capA)          — cell (B, capA):  kept — same
  *          caption as 1, genuinely different image
  *   pair 5 (scene_b_logo,  capA + tail2)  — cell (B, capA):  dropped
  *          (dup of 4, never of 1 — different image cluster)
  *   pair 6 (scene_c,       capC)          — cell (C, capC):  kept
  *   pair 7 (dh_not_bmp,    capC)          — quarantined: undecodable
  *          image poisons the PAIR regardless of its healthy caption
  *   pair 8 (scene_c,       capC + tail)   — cell (C, capC):  dropped
  *   pair 9 (scene_a,       capD)          — cell (A, capD):  kept
  *
  * Caption near-dups are one-word suffix extensions: a w-word caption has
  * w−2 word trigrams, the extension adds exactly one, so the trigram
  * Jaccard is (w−2)/(w−1) ≥ 0.92 — above the 0.8 LSH threshold — while
  * the distinct caption families share no trigram at all. Image near-dups
  * reuse the dHash fixture scenes (re-encode/upscale at Hamming 0, logo
  * overlay at 2 — all under the radius-3 band join). Engine-computed
  * cluster assignments are printed at generation so fixture edits stay
  * honest.
  */
object GenXModalFixtures {

  private val capA = "a red fox leaps over the mossy stone wall at dawn in soft autumn light"
  private val capB = "the ancient harbor market sells silver fish and woven baskets every morning"
  private val capC = "mountain snow melts into the quiet river that feeds the green valley below"
  private val capD = "children fly bright paper kites across the windy beach under summer clouds"

  def fixtures(): Seq[(Long, String, Array[Byte], String)] = {
    val img = GenDHashFixtures.fixtures().toMap
    Seq(
      (1L, "scene_a", img("scene_a"), capA),
      (2L, "scene_a_reenc", img("scene_a_reenc"), capA + " today"),
      (3L, "scene_a_up2x", img("scene_a_up2x"), capB),
      (4L, "scene_b", img("scene_b"), capA),
      (5L, "scene_b_logo", img("scene_b_logo"), capA + " again"),
      (6L, "scene_c", img("scene_c"), capC),
      (7L, "dh_not_bmp", img("dh_not_bmp"), capC),
      (8L, "scene_c", img("scene_c"), capC + " slowly"),
      (9L, "scene_a", img("scene_a"), capD))
  }

  def main(args: Array[String]): Unit =
    FixtureFile.write(args, "pairs_xmodal.parquet") { spark =>
      val df = spark.createDataFrame(fixtures())
        .toDF("pair_id", "img_name", "payload", "caption")
      // print the engine's own verdict so the planted design stays honest
      graft.operators.PrepPipeline.crossModalDedup(df,
          "pair_id", "img_name", "payload", "caption",
          bands = 4, radius = 3, n = 3, numHashes = 12, rowsPerBand = 3,
          threshold = 0.8)
        .orderBy("pair_id").collect().foreach(println)
      df
    }
}
