package graft.perfbench

import java.nio.file.{Files, Path}

/** Seeded input generation shared by the workloads. */
final class Gen(seed: Long) {
  val rnd = new scala.util.Random(seed)

  /** Zipf sampler over ranks 0 until n: rank r has weight 1/(r+1)^s. */
  final class Zipf(n: Int, s: Double) {
    private val cdf = {
      val w = (1 to n).map(r => 1.0 / math.pow(r, s))
      val tot = w.sum
      w.scanLeft(0.0)(_ + _).tail.map(_ / tot).toArray
    }
    def next(): Int = {
      val u = rnd.nextDouble()
      val i = java.util.Arrays.binarySearch(cdf, u)
      math.min(n - 1, if (i >= 0) i else -i - 1)
    }
  }

  def zipf(n: Int, s: Double) = new Zipf(n, s)

  def word(vocab: IndexedSeq[String]): String = vocab(rnd.nextInt(vocab.size))
}

object Gen {
  /** Write `text` to `path`, creating parents; returns the bytes written. */
  def land(path: Path, text: String): Long = {
    Files.createDirectories(path.getParent)
    val b = text.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    Files.write(path, b)
    b.length.toLong
  }

  /** A JSON string literal of generated text (quotes and backslashes only
    * occur if a generator puts them there).
    */
  def q(s: String): String =
    "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
}
