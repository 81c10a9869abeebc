package storebench

import graft.core.Embeddings.EmbeddingProvider

/** Deterministic inputs. Doc `id`'s text depends only on (seed, id), is
  * ~300 chars of space-separated lower-case words, and starts with the
  * unique `doc <id>` token pair, so BM25 can find it by that token and
  * fetchDoc's answer can be checked against the generator.
  */
final case class Gen(seed: Long) {
  import Gen._

  def text(id: Long): String = {
    val rnd = new java.util.SplittableRandom(mix64(seed * 0x9E3779B97F4A7C15L + id))
    val sb = new java.lang.StringBuilder(TextChars + 16)
    sb.append("doc ").append(id)
    while (sb.length < TextChars) {
      // a skewed draw gives the corpus a Zipf-like head of common words
      val u = rnd.nextDouble()
      sb.append(' ').append(Vocab((u * u * u * Vocab.length).toInt))
    }
    sb.toString
  }

  /** The query stream: a seeded RNG distinct from the text RNG. */
  def queryRng(salt: Long): java.util.SplittableRandom =
    new java.util.SplittableRandom(mix64(seed ^ mix64(salt + 0x5DEECE66DL)))
}

object Gen {
  val TextChars = 300
  val Dim = 384

  /** 4,096 pronounceable alphabetic words, the same for every seed; no
    * word is a number, so `doc <id>` stays unique to its doc. */
  val Vocab: Array[String] = {
    val cons = "bcdfghjklmnprstvz"
    val vows = "aeiou"
    val rnd = new java.util.SplittableRandom(42L)
    val seen = scala.collection.mutable.LinkedHashSet[String]()
    while (seen.size < 4096) {
      val syl = 1 + rnd.nextInt(3)
      val sb = new StringBuilder
      (0 until syl).foreach { _ =>
        sb += cons(rnd.nextInt(cons.length)); sb += vows(rnd.nextInt(vows.length))
      }
      if (sb.toString != "doc") seen += sb.toString
    }
    seen.toArray
  }

  /** splitmix64 finalizer. */
  def mix64(x0: Long): Long = {
    var x = x0
    x = (x ^ (x >>> 30)) * 0xBF58476D1CE4E5B9L
    x = (x ^ (x >>> 27)) * 0x94D049BB133111EBL
    x ^ (x >>> 31)
  }

  /** 64-bit FNV-1a over the UTF-16 code units, finalized with splitmix64.
    * A 32-bit `String.hashCode` collides ~10 times among 300k texts,
    * which would hand two docs the same vector and tie the self-query. */
  def hash64(s: String): Long = {
    var h = 0xCBF29CE484222325L
    var i = 0
    while (i < s.length) {
      h = (h ^ s.charAt(i)) * 0x100000001B3L
      i += 1
    }
    mix64(h)
  }
}

/** Deterministic unit vectors seeded by a 64-bit hash of the text. The
  * same text always gets the same vector, so querying with a stored
  * doc's text must return that doc at score 1. */
final case class HashProvider(dim: Int = Gen.Dim) extends EmbeddingProvider {
  def name: String = "storebench-hash"
  def embed(texts: Seq[String]): Seq[Array[Float]] = texts.map { t =>
    val rnd = new java.util.SplittableRandom(Gen.hash64(t))
    val v = new Array[Float](dim)
    var s = 0.0
    var i = 0
    while (i < dim) {
      val x = rnd.nextGaussian(); v(i) = x.toFloat; s += x * x; i += 1
    }
    val inv = 1.0 / math.sqrt(s)
    i = 0
    while (i < dim) { v(i) = (v(i) * inv).toFloat; i += 1 }
    v
  }
}
