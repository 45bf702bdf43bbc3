package perfbench

/** Seeded file contents for `point_rw`: byte `o` of version `v` of file `f`
  * is a fixed function of (seed, f, v, o), so any read can be checked byte
  * for byte against the version the reader was promised. */
object Content {
  private val Golden = 0x9E3779B97F4A7C15L

  def mix64(z0: Long): Long = {
    var z = z0
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** Key of one version of one file. */
  def key(seed: Long, file: Int, version: Int): Long =
    mix64(mix64(seed) ^ (file.toLong * 0x632BE59BD9B4E019L) ^ (version.toLong * Golden))

  /** The whole file of `len` bytes. */
  def bytes(key: Long, len: Int): Array[Byte] = {
    val out = new Array[Byte](len)
    var o = 0
    while (o < len) {
      val w = mix64(key + (o.toLong >>> 3) * Golden)
      var i = 0
      while (i < 8 && o + i < len) { out(o + i) = (w >>> (i * 8)).toByte; i += 1 }
      o += 8
    }
    out
  }

  /** Index of the first byte of `buf[off, off+len)` that differs from the
    * file at `fileOffset`, or -1 when every byte matches. */
  def firstMismatch(key: Long, fileOffset: Long, buf: Array[Byte], off: Int,
      len: Int): Int = {
    var i = 0
    var word = 0L
    var wordIdx = -1L
    while (i < len) {
      val o = fileOffset + i
      val wi = o >>> 3
      if (wi != wordIdx) { word = mix64(key + wi * Golden); wordIdx = wi }
      if (buf(off + i) != (word >>> ((o & 7) * 8)).toByte) return i
      i += 1
    }
    -1
  }
}
