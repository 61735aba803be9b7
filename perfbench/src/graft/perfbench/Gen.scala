package graft.perfbench

/** Seeded, stateless input generation. Every generated value is a pure
  * function of (seed, key, salt), so the benchmark can replay any op of
  * the log without having stored it, and Spark tasks can regenerate
  * rows from a key range without shipping data. */
object Gen {

  /** SplitMix64 finalizer: a bijective 64-bit mix. */
  def mix(x0: Long): Long = {
    var x = x0
    x = (x ^ (x >>> 30)) * 0xbf58476d1ce4e5b9L
    x = (x ^ (x >>> 27)) * 0x94d049bb133111ebL
    x ^ (x >>> 31)
  }

  def h(seed: Long, a: Long, b: Long = 0L): Long =
    mix(seed * 0x9e3779b97f4a7c15L ^ mix(a ^ mix(b + 0x632be59bd9b4e019L)))

  /** Uniform double in [0, 1). */
  def u(seed: Long, a: Long, b: Long = 0L): Double =
    (h(seed, a, b) >>> 11).toDouble / (1L << 53).toDouble

  /** Uniform long in [0, n). */
  def below(seed: Long, a: Long, b: Long, n: Long): Long =
    math.floor(u(seed, a, b) * n).toLong

  /** Payload of a record row: the key in the first 8 bytes (big endian),
    * then bytes derived from (seed, key). */
  def payload(seed: Long, k: Long, size: Int): Array[Byte] = {
    val out = new Array[Byte](size)
    val head = java.nio.ByteBuffer.allocate(8).putLong(k).array()
    System.arraycopy(head, 0, out, 0, math.min(8, size))
    var i = 8
    var word = 0L
    while (i < size) {
      if ((i & 7) == 0) word = h(seed, k, i.toLong + 7L)
      out(i) = (word >>> ((i & 7) * 8)).toByte
      i += 1
    }
    out
  }

  /** Order-sensitive fingerprint of generated op inputs. */
  def fingerprint(xs: Iterable[Long]): Long = xs.foldLeft(17L)((acc, x) => mix(acc ^ x))

  def payloadKey(p: Array[Byte]): Long = java.nio.ByteBuffer.wrap(p, 0, 8).getLong
}
