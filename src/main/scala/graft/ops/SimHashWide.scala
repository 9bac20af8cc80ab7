package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Corpus-adaptive multi-word SimHash blocking — the engineered form of the
  * BASELINE.md production note on `d4_simhash`: fixed-width pigeonhole
  * blocking is Θ(n²/2^width), so block width must grow with log₂(corpus).
  * Here the width DOES grow: `widthFor` picks ceil(log₂ n) + margin bits
  * (expected random collisions per block ≈ n/2^(margin+1) — sublinear by
  * construction), and the signature widens to as many 60-bit words as the
  * blocks need (one md5 per word per shingle, salted; 60 = the usable bits
  * of the cross-engine hash64, so every word replays in DuckDB exactly like
  * d4's single-word form).
  *
  * Pigeonhole guarantee is unchanged: hamming ≤ r pairs differ in ≤ r of
  * the r+1 blocks, so at least one block key matches exactly and the pair
  * is a candidate — for ANY width. Width only controls the false-candidate
  * volume; the d4 query keeps its frozen 48-bit/4×12 shape for the oracle,
  * and this is the path a 10⁹–10¹⁰-document corpus would configure
  * (e.g. n = 10⁹ → width 36→32 capped, 4 blocks, 3 words = 180-bit
  * signature; collisions/block ≈ n²/2³³ ≈ 0.12 n).
  */
object SimHashWide {

  /** Usable bits per signature word: hash64 is the first 15 md5 hex digits. */
  val WordBits = 60

  final case class Plan(blocks: Int, width: Int, words: Int) {
    require(blocks * width <= words * WordBits, s"blocks*width must fit $words words")
    def bits: Int = words * WordBits
  }

  /** Expected RANDOM (false-candidate) block-join pairs per document for a
    * corpus of `n` unrelated signatures under `plan`: each of the
    * plan.blocks block keys is ~uniform over 2^width buckets, so expected
    * same-bucket pairs ≈ C(n,2)/2^width per block ≈ n/2^(width+1) per doc
    * per block. This is the quantity the width rule bounds — and the
    * quantity that defines the 32-bit CAP's regime: past n = 2^(32−margin)
    * = 2²⁶ docs the width stops growing, so false candidates/doc resume
    * growing LINEARLY in n from a floor of 2^−(margin+1). At n = 10⁹ that
    * is ~0.12/doc/block (~0.47/doc over 4 blocks) — bounded and far below
    * the df-cap fanout, which is why the cap is acceptable. Escape hatch
    * when it isn't (n ≫ 10¹⁰, or a tighter budget): widen the signature —
    * more 60-bit words lets `width` exceed 32 by splitting the key into a
    * two-long struct, or raise `hamming`'s r+1 block count so each block
    * narrows — both leave the pigeonhole recall guarantee intact. */
  def projectedRandomPairsPerDoc(n: Long, plan: Plan): Double =
    plan.blocks * (n.toDouble / 2.0) / math.pow(2.0, plan.width)

  /** Bits per block for corpus size `n`: ceil(log₂ n) + `margin`, floored at
    * 12 (the d4 calibration point) and capped at 32 (key stays a compact
    * long; beyond 2³² buckets, collision pressure is ≈ 0 for any real n —
    * see [[projectedRandomPairsPerDoc]] for the cap's exact regime and the
    * escape hatch past it). */
  def widthFor(n: Long, margin: Int = 6): Int = {
    val ceilLog2 = 64 - java.lang.Long.numberOfLeadingZeros(math.max(1L, n - 1))
    math.min(32, math.max(12, ceilLog2 + margin))
  }

  /** Blocking plan for corpus size `n` at Hamming radius `r`: r+1 blocks
    * (pigeonhole), adaptive width, enough words to hold every block. */
  def planFor(n: Long, hamming: Int, margin: Int = 6): Plan = {
    val blocks = hamming + 1
    val width = widthFor(n, margin)
    Plan(blocks, width, (blocks * width + WordBits - 1) / WordBits)
  }

  /** Multi-word signatures from exploded `(doc_id, shingle)` rows
    * (multiplicity kept — repetition weights the votes, as in d4). One
    * salted md5 per word, then words×60 codegen'd sum-aggregates in a
    * single hash-agg pass. Returns `(doc_id, sh: array<long>)`. */
  def signatures(shingles: DataFrame, words: Int): DataFrame = {
    val hashed = shingles.select(
      col("doc_id") +:
        (0 until words).map(w => graft.functions.TextFunctions.hash64(
          concat(lit(s"shw$w:"), col("shingle"))).as(s"h$w")): _*)
    val votes = for (w <- 0 until words; b <- 0 until WordBits)
      yield sum((shiftright(col(s"h$w"), b) % 2) * 2 - 1).as(s"v${w}_$b")
    hashed.groupBy("doc_id").agg(votes.head, votes.tail: _*)
      .select(col("doc_id"), array((0 until words).map(w =>
        (0 until WordBits).map(b =>
          when(col(s"v${w}_$b") > 0, lit(1L << b)).otherwise(lit(0L)))
          .reduce(_ + _)): _*).as("sh"))
  }

  /** Key of block `b`: bits [b·width, (b+1)·width) of the concatenated
    * 60-bit-word bit string, as a masked long (word-boundary crossing
    * handled by a two-word combine). */
  def blockKey(sh: Column, b: Int, width: Int): Column = {
    val start = b * width
    val wi = start / WordBits
    val off = start % WordBits
    val lo = shiftrightunsigned(element_at(sh, wi + 1), off)
    val rem = WordBits - off
    val full = if (rem >= width) lo
      else lo.bitwiseOR(shiftleft(element_at(sh, wi + 2), rem))
    full.bitwiseAND(lit((1L << width) - 1))
  }

  /** Signature Hamming distance: Σ bit_count(xor) over words. */
  private def hammingCol(a: Column, b: Column, words: Int): Column =
    (0 until words).map(w =>
      bit_count(element_at(a, w + 1).bitwiseXOR(element_at(b, w + 1))))
      .reduce(_ + _)

  /** Candidate pairs within Hamming ≤ `plan.blocks - 1` of each other:
    * per-block equi-join on the adaptive-width key (never all-pairs),
    * exact Hamming recheck on the full signature. Returns
    * `(id_a, id_b, hamming)` with id_a < id_b, deduplicated. */
  def nearDupPairs(sigs: DataFrame, plan: Plan): DataFrame = {
    val blocked = sigs.select(col("doc_id"), col("sh"),
      explode(array((0 until plan.blocks).map(b =>
        concat_ws(":", lit(b.toString),
          blockKey(col("sh"), b, plan.width).cast("string"))): _*)).as("blk"))
    blocked.as("a").join(blocked.as("b"),
        col("a.blk") === col("b.blk") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"),
        col("a.sh").as("ha"), col("b.sh").as("hb"))
      .dropDuplicates("id_a", "id_b")
      .withColumn("hamming", hammingCol(col("ha"), col("hb"), plan.words))
      .filter(col("hamming") <= plan.blocks - 1)
      .select("id_a", "id_b", "hamming")
  }
}
