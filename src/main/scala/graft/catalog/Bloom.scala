package graft.catalog

import java.io.{BufferedInputStream, DataInputStream}
import java.nio.file.{Files, Path}

/** Per-group BLOOM FILTER sidecars (`<group>.bloom`) over the long-typed
  * columns, built STREAMING during the write and consulted at plan time
  * to refute point predicates (`k = v`, `k IN (...)`) that min/max
  * stats cannot: on a table whose keys are uniformly distributed across
  * groups, every group's (min,max) spans every probe value, so a MERGE
  * or DELETE by key would open EVERY group at 100 TB — the bloom prunes
  * it to the groups that might actually hold the keys, for a sidecar
  * read that is orders of magnitude smaller than the data.
  *
  * Blooms are keyed by STABLE FIELD ID (not name), so they survive
  * RENAME COLUMN and can never serve a re-added namesake's lookups
  * (a fresh id misses). They describe the PHYSICAL file, so a
  * merge-on-read delete vector leaves them a superset — refutation
  * stays sound. A refutation is the ONLY thing they prove: membership
  * is "maybe" by construction.
  *
  * Sizing: hashes buffer until seal, then bits = 12 per row (FPR ~0.6%
  * at 4 probes), clamped to [2^10, 2^23]. Past 2^20 buffered hashes the
  * builder promotes to the max-size filter and streams the rest — a
  * task writing tens of millions of rows never holds more than 8 MB of
  * hash buffer per column.
  */
object GroupBloom {
  val PROBES = 4
  private val CAP_HASHES = 1 << 20
  private val BITS_MIN = 1 << 10
  private val BITS_MAX = 1 << 23
  private val MAGIC = 0x47424c4d // "GBLM"

  /** splitmix64 finalizer: full-avalanche mix of the raw long value. */
  def mix(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  private def setBits(words: Array[Long], v: Long): Unit = {
    val h = mix(v)
    val h1 = h.toInt
    val h2 = (h >>> 32).toInt | 1 // odd step → full period over pow2 sizes
    val mask = words.length * 64 - 1
    var i = 0
    while (i < PROBES) {
      val bit = (h1 + i * h2) & mask
      words(bit >>> 6) |= 1L << (bit & 63)
      i += 1
    }
  }

  def mightContain(words: Array[Long], v: Long): Boolean = {
    val h = mix(v)
    val h1 = h.toInt
    val h2 = (h >>> 32).toInt | 1
    val mask = words.length * 64 - 1
    var i = 0
    while (i < PROBES) {
      val bit = (h1 + i * h2) & mask
      if ((words(bit >>> 6) & (1L << (bit & 63))) == 0L) return false
      i += 1
    }
    true
  }

  private def bitsFor(n: Long): Int = {
    var bits = BITS_MIN
    while (bits < BITS_MAX && bits.toLong < 12L * n) bits <<= 1
    bits
  }

  /** Streaming builder: buffers value hashes, promotes to a fixed
    * max-size filter if the buffer would exceed its cap.
    */
  final class Builder {
    private var buf = new Array[Long](1024)
    private var n = 0
    private var words: Array[Long] = _

    def add(v: Long): Unit =
      if (words != null) setBits(words, v)
      else {
        if (n == buf.length) {
          if (n >= CAP_HASHES) {
            words = new Array[Long](BITS_MAX / 64)
            var i = 0
            while (i < n) { setBits(words, buf(i)); i += 1 }
            buf = null
            setBits(words, v)
            return
          }
          buf = java.util.Arrays.copyOf(buf, buf.length * 2)
        }
        buf(n) = v
        n += 1
      }

    def result(): Array[Long] = {
      if (words == null) {
        words = new Array[Long](bitsFor(n.toLong) / 64)
        var i = 0
        while (i < n) { setBits(words, buf(i)); i += 1 }
        buf = null
      }
      words
    }
  }

  /** Write a sidecar: per-field-id filters, atomic move. */
  def write(path: Path, perField: Seq[(Int, Array[Long])]): Unit =
    GroupFiles.publishFile(path) { out =>
      out.writeInt(MAGIC)
      out.writeInt(perField.length)
      perField.foreach { case (id, words) =>
        out.writeInt(id)
        out.writeInt(words.length)
        words.foreach(out.writeLong)
      }
    }

  /** Read a sidecar; a malformed file reads as "no blooms" (pruning is
    * an optimization — never a correctness dependency).
    */
  def read(path: Path): Map[Int, Array[Long]] =
    try {
      val in = new DataInputStream(new BufferedInputStream(Files.newInputStream(path)))
      try {
        if (in.readInt() != MAGIC) return Map.empty
        val n = in.readInt()
        require(n >= 0 && n < 1024)
        (0 until n).map { _ =>
          val id = in.readInt()
          val len = in.readInt()
          require(len > 0 && len <= BITS_MAX / 64)
          val words = new Array[Long](len)
          var i = 0
          while (i < len) { words(i) = in.readLong(); i += 1 }
          id -> words
        }.toMap
      } finally in.close()
    } catch { case _: Exception => Map.empty }
}
