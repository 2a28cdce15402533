package graft.expressions

import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

/** Pins the allocation-free [[TextSignatures.minhashBands]] bit-for-bit to
  * the kernel it replaced: a `HashSet[String]` of substring shingles, each
  * first-seen one hashed with `MurmurHash3.stringHash` and reduced with
  * `% MersennePrime`. The LSH goldens and every candidate pair depend on
  * these band hashes, so any drift is a correctness change.
  */
class MinhashBandsSpec extends AnyFunSuite {
  import TextSignatures.{Bands, MersennePrime, NumHashes, RowsPerBand}

  /** The replaced kernel, verbatim apart from returning the bands array. */
  private object Reference {
    private val coeffA = new Array[Long](NumHashes)
    private val coeffB = new Array[Long](NumHashes)
    locally {
      val rnd = new scala.util.Random(42)
      var i = 0
      while (i < NumHashes) {
        coeffA(i) = rnd.nextInt(Int.MaxValue - 1).toLong + 1
        coeffB(i) = rnd.nextInt(Int.MaxValue).toLong
        i += 1
      }
    }

    def minhashBands(s: String, k: Int): Seq[Long] = {
      val n = math.max(s.length - k + 1, 1)
      val seen = new java.util.HashSet[String](math.min(n * 2, 1 << 16))
      val sig = new Array[Long](NumHashes)
      java.util.Arrays.fill(sig, Long.MaxValue)
      var i = 0
      while (i < n) {
        val sh = s.substring(i, math.min(i + k, s.length))
        if (seen.add(sh)) {
          val h = scala.util.hashing.MurmurHash3.stringHash(sh) & 0x7fffffffL
          var j = 0
          while (j < NumHashes) {
            val v = (coeffA(j) * h + coeffB(j)) % MersennePrime
            if (v < sig(j)) sig(j) = v
            j += 1
          }
        }
        i += 1
      }
      (0 until Bands).map { bnd =>
        var h = 1125899906842597L
        var r = 0
        while (r < RowsPerBand) { h = h * 31 + sig(bnd * RowsPerBand + r); r += 1 }
        h
      }
    }
  }

  private def kernel(s: String, k: Int): Seq[Long] =
    TextSignatures.minhashBands(UTF8String.fromString(s), k).toLongArray().toSeq

  private def check(s: String): Unit =
    for (k <- 1 to 7) assert(kernel(s, k) == Reference.minhashBands(s, k), s"k=$k input: <$s>")

  test("fixed cases: empty, shorter than k, repeats, non-ASCII and surrogate pairs") {
    Seq("", "a", "ab", "abcdef", "aaaaaaaaaaaaaaaa", "abababababab",
      "The quick brown fox jumps over the lazy dog.",
      "héllo wörld — ünïcödé", "日本語のテキスト、日本語のテキスト",
      "emoji 😀😀 pairs 🎉", "😀",
      "tab\tnew\nline\u0000nul").foreach(check)
  }

  test("random texts over a small alphabet, full BMP chars and surrogate pairs") {
    val rnd = new scala.util.Random(20211)
    val small = "ab c"
    def text(len: Int, mode: Int): String = {
      val sb = new StringBuilder
      while (sb.length < len) mode match {
        case 0 => sb += small(rnd.nextInt(small.length)) // many repeated shingles
        case 1 => sb += (32 + rnd.nextInt(95)).toChar
        case 2 => sb += rnd.nextInt(0xd800).toChar
        case _ => sb.appendAll(Character.toChars(0x10000 + rnd.nextInt(0xfffff)))
      }
      sb.toString
    }
    for (_ <- 0 until 2000) check(text(rnd.nextInt(120), rnd.nextInt(4)))
  }
}
