package graftbench

import java.util.SplittableRandom

/** Seeded randomness that does not depend on partitioning or order. */
object Rng {
  /** A well-mixed 64-bit state for row `id` of the input made from `seed`. */
  def mix(seed: Long, id: Long): Long = {
    var z = seed * 0x9E3779B97F4A7C15L + id * 0xC2B2AE3D27D4EB4FL + 0x165667B19E3779F9L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** `n` distinct lowercase words of 3 to 9 letters. */
  def vocabulary(n: Int, seed: Long): IndexedSeq[String] = {
    val r = new SplittableRandom(seed)
    val seen = scala.collection.mutable.LinkedHashSet[String]()
    while (seen.size < n) {
      val len = 3 + r.nextInt(7)
      seen += (0 until len).map(_ => ('a' + r.nextInt(26)).toChar).mkString
    }
    seen.toIndexedSeq
  }
}
