package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.util.SplittableRandom

/** Seeded input generation. Every stream is derived from (seed, tag,
  * index), so a workload can draw its i-th batch without drawing the
  * ones before it, and two workloads never share a stream. */
object Gen {
  def rng(seed: Long, tag: String, idx: Long = 0L): SplittableRandom =
    new SplittableRandom(fmix(fmix(seed ^ 0x9e3779b97f4a7c15L) ^
      fmix(tag.hashCode.toLong) ^ fmix(idx * 0xc2b2ae3d27d4eb4fL + 1)))

  /** MurmurHash3's 64-bit finalizer. */
  def fmix(z0: Long): Long = {
    var z = z0
    z = (z ^ (z >>> 33)) * 0xff51afd7ed558ccdL
    z = (z ^ (z >>> 33)) * 0xc4ceb9fe1a85ec53L
    z ^ (z >>> 33)
  }

  /** Zipf(s) over ranks 0 until n, sampled by inverse CDF. */
  final class Zipf(n: Int, s: Double) {
    private val cdf = {
      val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1, s))
      val total = w.sum
      var acc = 0.0
      w.map { x => acc += x / total; acc }
    }
    def sample(r: SplittableRandom): Int = {
      val u = r.nextDouble()
      val i = java.util.Arrays.binarySearch(cdf, u)
      math.min(if (i >= 0) i else -i - 1, n - 1)
    }
  }

  private val Consonants = "bcdfghklmnprstvz"
  private val Vowels = "aeiou"

  /** `n` distinct pronounceable words of one to four syllables: shared
    * syllables give BPE real merges to learn. The syllable count follows
    * the rank, so every seed's frequent words have the same lengths. */
  def vocabulary(seed: Long, n: Int): Array[String] = {
    val r = rng(seed, "vocab")
    val seen = scala.collection.mutable.LinkedHashSet.empty[String]
    while (seen.size < n) {
      val sb = new StringBuilder
      (0 to seen.size % 4).foreach { _ =>
        sb += Consonants(r.nextInt(Consonants.length))
        sb += Vowels(r.nextInt(Vowels.length))
        if (r.nextInt(3) == 0) sb += Consonants(r.nextInt(Consonants.length))
      }
      seen += sb.toString
    }
    seen.toArray
  }

  /** `n` Zipf-drawn words with sentence and paragraph breaks. */
  def prose(r: SplittableRandom, vocab: Array[String], zipf: Zipf, n: Int): String = {
    val sb = new StringBuilder
    var i = 0
    while (i < n) {
      if (i > 0) {
        val u = r.nextInt(40)
        sb.append(if (u == 0) ".\n\n" else if (u < 4) ". " else " ")
      }
      sb.append(vocab(zipf.sample(r)))
      i += 1
    }
    sb.toString
  }

  def unit(v: Array[Double]): Array[Float] = {
    val n = math.sqrt(v.map(x => x * x).sum)
    v.map(x => (x / n).toFloat)
  }

  def gaussian(r: SplittableRandom, dim: Int): Array[Double] =
    Array.fill(dim)(r.nextGaussian())

  /** A Gaussian mixture on the unit sphere: `clusters` random centres
    * with Zipf-skewed membership, per-dimension noise `sigma`. */
  final class Mixture(seed: Long, tag: String, dim: Int, clusters: Int, sigma: Double) {
    private val centres = {
      val r = rng(seed, tag + ".centres")
      Array.fill(clusters)(unit(gaussian(r, dim)))
    }
    private val zipf = new Zipf(clusters, 1.0)
    def draw(r: SplittableRandom): Array[Float] = {
      val c = centres(zipf.sample(r))
      unit(Array.tabulate(dim)(i => c(i) + sigma * r.nextGaussian()))
    }
  }

  /** SHA-256 over a canonical serialization of generated inputs. */
  final class Digest {
    private val md = java.security.MessageDigest.getInstance("SHA-256")
    private val buf = java.nio.ByteBuffer.allocate(8)
    def long(x: Long): Digest = { buf.clear(); buf.putLong(x); md.update(buf.array()); this }
    def double(x: Double): Digest = long(java.lang.Double.doubleToLongBits(x))
    def str(s: String): Digest = { val b = s.getBytes(UTF_8); long(b.length); md.update(b); this }
    def floats(v: Array[Float]): Digest = {
      long(v.length); v.foreach(x => long(java.lang.Float.floatToIntBits(x).toLong)); this
    }
    def hex: String = md.digest().map(b => f"${b & 0xff}%02x").mkString
  }

  def utf8(s: String): Long = s.getBytes(UTF_8).length.toLong
}
