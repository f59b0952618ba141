package graft.search

/** Open-addressing docId → (score, termMask) accumulator for the shard-group
  * kernel. Parallel primitive arrays (no boxing, no per-entry objects): the
  * exhaustive kernel touches one entry per posting of a hot term's list, so
  * a Scala HashMap's Long/Double boxing dominated its runtime.
  *
  * Keys are non-negative docIds; EMPTY = -1. Linear probing, ×2 growth at
  * 0.7 load. Each entry carries `words` mask longs recording which query
  * terms contributed (AND mode: ⌈terms/64⌉ words, no term cap; OR mode: 0).
  */
private[graft] final class DriverScoreMap(initialCapacity: Int, words: Int) {
  private var cap = Integer.highestOneBit(math.max(initialCapacity, 16) * 2 - 1)
  private var keys = Array.fill[Long](cap)(-1L)
  private var scores = new Array[Double](cap)
  private var masks = new Array[Long](cap * words)
  private var n = 0

  @inline private def idx(key: Long, c: Int): Int =
    // Stafford mix13 finalizer — docIds are often sequential, spread them
    (java.lang.Long.hashCode(
      (key ^ (key >>> 31)) * 0x7fb5d329728ea185L) & (c - 1))

  /** Adds `delta` to `key`'s score and ORs `mask` (`words` longs; ignored
    * when `words` is 0) into its term mask. */
  def add(key: Long, delta: Double, mask: Array[Long]): Unit = {
    var i = idx(key, cap)
    while (true) {
      val k = keys(i)
      if (k == key) {
        scores(i) += delta; orMask(i, mask); return
      } else if (k == -1L) {
        keys(i) = key; scores(i) = delta; orMask(i, mask)
        n += 1
        if (n * 10 > cap * 7) grow()
        return
      } else i = (i + 1) & (cap - 1)
    }
  }

  @inline private def orMask(slot: Int, mask: Array[Long]): Unit = {
    var w = 0
    while (w < words) { masks(slot * words + w) |= mask(w); w += 1 }
  }

  private def grow(): Unit = {
    val oldKeys = keys; val oldScores = scores; val oldMasks = masks
    cap <<= 1
    keys = Array.fill[Long](cap)(-1L)
    scores = new Array[Double](cap)
    masks = new Array[Long](cap * words)
    var i = 0
    while (i < oldKeys.length) {
      val k = oldKeys(i)
      if (k != -1L) {
        var j = idx(k, cap)
        while (keys(j) != -1L) j = (j + 1) & (cap - 1)
        keys(j) = k; scores(j) = oldScores(i)
        System.arraycopy(oldMasks, i * words, masks, j * words, words)
      }
      i += 1
    }
  }

  def size: Int = n

  /** Visits every live entry as (docId, score, number of mask bits set). */
  def foreach(f: (Long, Double, Int) => Unit): Unit = {
    var i = 0
    while (i < cap) {
      if (keys(i) != -1L) {
        var bits = 0
        var w = 0
        while (w < words) { bits += java.lang.Long.bitCount(masks(i * words + w)); w += 1 }
        f(keys(i), scores(i), bits)
      }
      i += 1
    }
  }
}
