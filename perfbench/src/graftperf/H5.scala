package graftperf

import java.nio.{ByteOrder, MappedByteBuffer}
import java.nio.channels.FileChannel
import java.nio.file.{Path, StandardOpenOption}

/** Reads the dataset shapes of an HDF5 file as the program's writer lays
  * it out: superblock v0, v1 object headers, symbol-table groups. Enough
  * to check an exported file against the expected sink without an HDF5
  * library.
  */
object H5 {
  /** Every dataset's path and dimensions. */
  def datasets(path: Path): Map[String, Seq[Long]] = {
    val ch = FileChannel.open(path, StandardOpenOption.READ)
    try {
      val bb = ch.map(FileChannel.MapMode.READ_ONLY, 0, ch.size())
      bb.order(ByteOrder.LITTLE_ENDIAN)
      require(bb.get(1) == 'H' && bb.get(2) == 'D' && bb.get(3) == 'F', "not an HDF5 file")
      require(bb.get(8) == 0, s"superblock version ${bb.get(8)}")
      val out = Map.newBuilder[String, Seq[Long]]
      walk(bb, bb.getLong(64), "", out)
      out.result()
    } finally ch.close()
  }

  private def walk(bb: MappedByteBuffer, addr: Long, path: String,
      out: scala.collection.mutable.Builder[(String, Seq[Long]), Map[String, Seq[Long]]]): Unit = {
    val a = addr.toInt
    require(bb.get(a) == 1, s"object header version at $addr")
    val nmsg = bb.getShort(a + 2) & 0xffff
    val end  = a + 16 + bb.getInt(a + 8)
    var pos  = a + 16
    var read = 0
    var dims: Option[Seq[Long]] = None
    while (read < nmsg && pos < end) {
      val tpe  = bb.getShort(pos) & 0xffff
      val size = bb.getShort(pos + 2) & 0xffff
      val body = pos + 8
      tpe match {
        case 0x0011 =>
          entries(bb, bb.getLong(body), bb.getLong(body + 8)).foreach { case (n, oa) =>
            walk(bb, oa, s"$path/$n", out)
          }
        case 0x0001 =>
          val rank = bb.get(body + 1).toInt
          dims = Some((0 until rank).map(i => bb.getLong(body + 8 + 8 * i)))
        case _ => ()
      }
      pos += 8 + size
      read += 1
    }
    dims.foreach(d => out += path -> d)
  }

  private def entries(bb: MappedByteBuffer, btree: Long, heap: Long): Seq[(String, Long)] = {
    val t = btree.toInt
    require(bb.get(t) == 'T' && bb.get(t + 1) == 'R', "TREE signature")
    val n = bb.getShort(t + 6) & 0xffff
    if (n == 0) Nil
    else if ((bb.get(t + 5) & 0xff) > 0)
      (0 until n).flatMap(e => entries(bb, bb.getLong(t + 24 + 16 * e + 8), heap))
    else {
      val heapSeg = bb.getLong(heap.toInt + 24)
      (0 until n).flatMap { e =>
        val snod = bb.getLong(t + 24 + 16 * e + 8).toInt
        require(bb.get(snod) == 'S' && bb.get(snod + 1) == 'N', "SNOD signature")
        (0 until (bb.getShort(snod + 6) & 0xffff)).map { i =>
          val ste = snod + 8 + 40 * i
          var p = (heapSeg + bb.getLong(ste)).toInt
          val sb = new StringBuilder
          while (bb.get(p) != 0) { sb.append(bb.get(p).toChar); p += 1 }
          sb.toString -> bb.getLong(ste + 8)
        }
      }
    }
  }
}
