package perfbench

import java.util.SplittableRandom

/** The seeded generator: everything a run varies with `--seed` comes from
  * here — the request order inside each round, the ingest batch slices
  * and the correction keys. The engine only ever sees what this produces. */
object Gen {
  /** One independent random stream per (seed, purpose). */
  def rng(seed: Long, stream: Long): SplittableRandom =
    new SplittableRandom(mix(seed) ^ mix(stream + 0x632BE59BD9B4E019L))

  private def mix(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  def shuffle[A](xs: Seq[A], r: SplittableRandom): Seq[A] = {
    val a = xs.toArray[Any]
    var i = a.length - 1
    while (i > 0) {
      val j = r.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
      i -= 1
    }
    a.toSeq.asInstanceOf[Seq[A]]
  }

  /** Round `round` of a workload: every request type exactly once, in a
    * seeded order. */
  def roundOrder[A](seed: Long, round: Int, types: Seq[A]): Seq[A] =
    shuffle(types, rng(seed, 1000L + round))

  /** A seeded permutation of 0 until n (the ingest batch slicing). */
  def permutation(seed: Long, stream: Long, n: Int): Array[Int] =
    shuffle(0 until n, rng(seed, stream)).toArray

  def sha256Hex(s: String): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
}
