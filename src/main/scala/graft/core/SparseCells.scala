package graft.core

/**
 * The sparse cell list that [[Histogram]], [[graft.sketches.Hll]] and
 * [[graft.sketches.CountMin]] each keep until they have touched more than
 * [[SparseCells.cap]] cells: the sparse representation of HyperLogLog++
 * (Heule, Nunkesser & Hall, EDBT 2013), applied to all three. It holds
 * (cell index, value) entries in two primitive arrays sorted by index.
 *
 * [[slot]] finds or inserts an entry and reports a full list at the cap;
 * the owner then moves to its dense array for good. The owner reads and
 * writes the values and keeps its own combine rule (max, wrapping sum or
 * checked sum). Either form encodes to the same bytes and answers every
 * read the same. [[toGapCoded]] and [[SparseCells.readGapCoded]] are the
 * (index gap, value) form in which HLL and count-min partial buffers cross
 * the shuffle.
 */
private[graft] final class SparseCells private (limit: Int, capacity: Int)
    extends Serializable {
  private var keys: Array[Int] =
    if (capacity == 0) Array.emptyIntArray else new Array[Int](capacity)
  private var vals: Array[Long] =
    if (capacity == 0) Array.emptyLongArray else new Array[Long](capacity)
  private var n: Int = 0

  /** Entries in the list. */
  def size: Int = n

  /** Index of the `k`-th entry in ascending order. */
  def key(k: Int): Int = keys(k)

  /** Value of the `k`-th entry. */
  def value(k: Int): Long = vals(k)

  /** Sets the value of the `k`-th entry. */
  def setValue(k: Int, v: Long): Unit = vals(k) = v

  /** Value at cell `key`; 0 when the list has no entry for it. */
  def get(key: Int): Long = {
    val k = find(key)
    if (k >= 0) vals(k) else 0L
  }

  /** Position of `key`'s entry, inserted with value 0 when absent; -1 when
   * `key` is absent and the list is full at its cap. */
  def slot(key: Int): Int = {
    val k = find(key)
    if (k >= 0) return k
    if (n == limit) return -1
    val at = -k - 1
    if (n == keys.length) {
      val len = math.min(limit, math.max(8, n * 2))
      keys = java.util.Arrays.copyOf(keys, len)
      vals = java.util.Arrays.copyOf(vals, len)
    }
    System.arraycopy(keys, at, keys, at + 1, n - at)
    System.arraycopy(vals, at, vals, at + 1, n - at)
    keys(at) = key
    vals(at) = 0L
    n += 1
    at
  }

  /** Smallest index >= `key` with an entry; there must be one. */
  def ceiling(key: Int): Int = {
    val k = find(key)
    keys(if (k >= 0) k else -k - 1)
  }

  /** Largest index <= `key` with an entry; there must be one. */
  def floor(key: Int): Int = {
    val k = find(key)
    keys(if (k >= 0) k else -k - 2)
  }

  /** Heap bytes of the list: its 32-byte object and the two arrays it
   * owns, 4 + 8 bytes an entry of capacity plus a header each. */
  def footprintBytes: Long =
    32L + SparseCells.arrayBytes(keys.length, 4) + SparseCells.arrayBytes(vals.length, 8)

  private def find(key: Int): Int = java.util.Arrays.binarySearch(keys, 0, n, key)

  /** The entries with a nonzero value, after `headerBytes` bytes that
   * `header` writes: a varint count, then for each entry a varint index gap
   * (from -1) and the value, one byte when `byteValues`, else a varint. */
  def toGapCoded(headerBytes: Int, byteValues: Boolean)(
      header: Bytes.Writer => Unit): Array[Byte] = {
    var count = 0
    var bytes = 0
    var prev = -1
    var k = 0
    while (k < n) {
      if (vals(k) != 0L) {
        count += 1
        bytes += Bytes.varSize((keys(k) - prev).toLong) +
          (if (byteValues) 1 else Bytes.varSize(vals(k)))
        prev = keys(k)
      }
      k += 1
    }
    val w = new Bytes.Writer(headerBytes + Bytes.varSize(count.toLong) + bytes)
    header(w)
    w.putVarLong(count.toLong)
    prev = -1
    k = 0
    while (k < n) {
      if (vals(k) != 0L) {
        w.putVarLong((keys(k) - prev).toLong)
        if (byteValues) w.putByte(vals(k).toInt) else w.putVarLong(vals(k))
        prev = keys(k)
      }
      k += 1
    }
    w.result
  }
}

private[graft] object SparseCells {

  /** Entries a sketch of `cells` cells keeps sparse: at most 128, and at
   * most one in eight of its cells. */
  def cap(cells: Int): Int = math.min(128, cells / 8)

  /** Heap bytes of an array of `length` elements `width` bytes wide: a
   * 16-byte header and the elements; 0 when empty, as the shared empty
   * arrays cost nothing per sketch. */
  def arrayBytes(length: Int, width: Int): Long =
    if (length == 0) 0L else 16L + length.toLong * width

  /** An empty list for a sketch of `cells` cells, with room for `expected`
   * entries (up to the cap) before it grows. */
  def apply(cells: Int, expected: Int = 0): SparseCells = {
    val c = cap(cells)
    new SparseCells(c, math.min(c, expected))
  }

  /** The `count` nonzero values among `value(0 until cells)`, listed for a
   * compact encoder; the list may exceed the cap. */
  def nonzero(cells: Int, count: Int)(value: Int => Long): SparseCells = {
    val s = new SparseCells(count, count)
    var i = 0
    while (i < cells) {
      val v = value(i)
      if (v != 0L) {
        s.keys(s.n) = i
        s.vals(s.n) = v
        s.n += 1
      }
      i += 1
    }
    s
  }

  /** Reads the entry count [[SparseCells.toGapCoded]] wrote for a sketch
   * of `cells` cells. */
  def readCount(r: Bytes.Reader, cells: Int): Int = {
    val count = r.readVarLong()
    r.check(count >= 0 && count <= cells, "sparse count")
    count.toInt
  }

  /** Reads `count` (index gap, value) entries and hands each to `put` in
   * ascending index order; the indices must ascend below `cells`. */
  def readGapCoded(r: Bytes.Reader, count: Int, cells: Int, byteValues: Boolean)(
      put: (Int, Long) => Unit): Unit = {
    var idx = -1L
    var k = 0
    while (k < count) {
      val gap = r.readVarLong()
      r.check(gap >= 1 && gap < cells - idx, "sparse index")
      idx += gap
      put(idx.toInt, if (byteValues) r.readByte().toLong else r.readVarLong())
      k += 1
    }
  }
}
