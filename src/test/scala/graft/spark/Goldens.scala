package graft.spark

import java.nio.charset.StandardCharsets.UTF_8

/**
 * SHA-256 goldens of aggregate output bytes, stored one per line as
 * `<name> <hex sha-256>` in `src/test/resources/sketch_goldens.txt`.
 *
 * A digest covers every (group key, sketch bytes) pair of one aggregate,
 * sorted by key, so it pins each group's exact output bytes. The recorded
 * values came from the kryo `Aggregator` implementation the native
 * aggregates replaced; a mismatch means a result byte changed.
 */
object Goldens {

  private lazy val table: Map[String, String] = {
    val in = getClass.getResourceAsStream("/sketch_goldens.txt")
    require(in != null, "sketch_goldens.txt missing from test resources")
    try {
      scala.io.Source.fromInputStream(in, "UTF-8").getLines()
        .map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
        .map { l => val Array(k, v) = l.split("\\s+"); k -> v }
        .toMap
    } finally in.close()
  }

  /** Hex SHA-256 over the key-sorted (key, bytes) pairs; a null blob is
   * hashed as length -1. */
  def digest(groups: Iterable[(String, Array[Byte])]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    val len = java.nio.ByteBuffer.allocate(4)
    groups.toSeq.sortBy(_._1).foreach { case (k, b) =>
      val kb = k.getBytes(UTF_8)
      md.update(len.clear().putInt(kb.length).array()); md.update(kb)
      md.update(len.clear().putInt(if (b == null) -1 else b.length).array())
      if (b != null) md.update(b)
    }
    md.digest().map(x => f"${x & 0xff}%02x").mkString
  }

  /** The stored digest for `name`, or None. */
  def expected(name: String): Option[String] = table.get(name)

  /** Fails with the computed line when `groups` does not match the golden. */
  def check(name: String, groups: Iterable[(String, Array[Byte])]): Unit = {
    val got = digest(groups)
    assert(expected(name).contains(got), s"golden mismatch: $name $got")
  }

  /** Single-blob form (a global aggregate). */
  def check(name: String, bytes: Array[Byte]): Unit = check(name, Seq("" -> bytes))
}
