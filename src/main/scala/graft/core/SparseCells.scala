package graft.core

/**
 * Sizing of the sparse cell lists that [[Histogram]],
 * [[graft.sketches.Hll]] and [[graft.sketches.CountMin]] keep until a
 * sketch has touched more than `cap` cells: the sparse representation of
 * HyperLogLog++ (Heule, Nunkesser & Hall, EDBT 2013), applied to all three.
 * The list holds (cell index, value) pairs in two primitive arrays, sorted
 * by index; past the cap the sketch moves to its dense array for good.
 * Either form encodes to the same bytes and answers every read the same.
 */
private[graft] object SparseCells {

  /** Entries a sketch of `cells` cells keeps sparse: at most 128, and at
   * most one in eight of its cells. */
  def cap(cells: Int): Int = math.min(128, cells / 8)

  /** Capacity of a full list of `len` entries after it grows. */
  def grown(len: Int, cap: Int): Int = math.min(cap, math.max(8, len * 2))

  val NoKeys: Array[Int] = new Array[Int](0)
  val NoCounts: Array[Long] = new Array[Long](0)
}
