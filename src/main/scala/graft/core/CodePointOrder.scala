package graft.core

/** Spark's string order, for driver-side kernels that must agree with a
  * Spark `min` or sort. Spark compares strings as UTF-8 bytes, which is
  * code-point order; Java's `String.compareTo` (and Scala's `<`) compares
  * UTF-16 code units, which disagrees once a code point above U+FFFF (a
  * surrogate pair, e.g. an emoji) meets one in U+E000..U+FFFF (e.g. the
  * full-width forms): UTF-16 puts the surrogate pair first, code-point order
  * puts it last. */
object CodePointOrder extends Ordering[String] {
  def compare(a: String, b: String): Int = {
    val n = math.min(a.length, b.length)
    var i = 0
    while (i < n) {
      val x = a.charAt(i); val y = b.charAt(i)
      if (x != y) return rank(x) - rank(y)
      i += 1
    }
    a.length - b.length
  }

  // surrogates (U+D800..DFFF, only ever halves of a code point above
  // U+FFFF) move above U+E000..FFFF; code units below U+D800 keep their place
  private def rank(c: Char): Int =
    if (c < 0xD800) c else if (c >= 0xE000) c - 0x800 else c + 0x2000
}
