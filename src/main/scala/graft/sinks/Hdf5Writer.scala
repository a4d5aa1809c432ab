package graft.sinks

import java.io.ByteArrayOutputStream
import java.nio.{ByteBuffer, ByteOrder}
import java.nio.channels.FileChannel
import java.nio.charset.StandardCharsets
import java.nio.file.{Paths, StandardOpenOption}

/** Minimal from-scratch HDF5 (v0 superblock, v1 objects) writer — enough to
  * emit the NeXus tree natively: nested groups, contiguous 1-D/2-D datasets
  * of i16/i32/i64/f64 and fixed-length strings, and string/double
  * attributes. No chunking, no compression, single pass, little-endian.
  *
  * Written against the public HDF5 File Format Specification (format
  * version the reference's files also use: SWMR aside, kafka-to-nexus
  * output is groups + chunked datasets; we emit contiguous layout, which
  * every HDF5 reader including h5py consumes identically).
  *
  * Layout strategy: addresses allocated append-only and STREAMED through a
  * buffered `FileChannel` — the file is never held in memory, so output
  * size is bounded by disk, not heap (the one back-reference, the
  * superblock at offset 0, is patched with a positional write at the end).
  * Each group = object header + local heap + a v1 B-tree over fixed-size
  * symbol-table nodes of ≤ 2·leaf_k children each (the block sizes
  * libhdf5 derives from the superblock's declared k values). Groups wider
  * than one node's 2·internal_k·2·leaf_k = 256 children get a balanced
  * multi-level tree (sibling-linked nodes per level), so fan-out is
  * unbounded — a reference-scale instrument group with hundreds of PV
  * streams exports fine.
  */
final class Hdf5Writer {

  private var buf: FileBuffer = _

  // ---- public model ---------------------------------------------------

  sealed trait Node
  final case class Group(
      name: String,
      children: Seq[Node] = Nil,
      attrs: Seq[(String, AttrValue)] = Nil
  ) extends Node
  final case class Dataset(
      name: String,
      data: DataValue,
      attrs: Seq[(String, AttrValue)] = Nil
  ) extends Node

  sealed trait AttrValue
  final case class StrAttr(s: String)    extends AttrValue
  final case class F64Attr(v: Double)    extends AttrValue
  final case class I64Attr(v: Long)      extends AttrValue

  sealed trait DataValue
  final case class I16Data(xs: Array[Short], dims: Seq[Long] = Nil)  extends DataValue
  final case class I32Data(xs: Array[Int], dims: Seq[Long] = Nil)    extends DataValue
  final case class I64Data(xs: Array[Long], dims: Seq[Long] = Nil)   extends DataValue
  final case class F32Data(xs: Array[Float], dims: Seq[Long] = Nil)  extends DataValue
  final case class F64Data(xs: Array[Double], dims: Seq[Long] = Nil) extends DataValue
  final case class StrData(xs: Array[String])                        extends DataValue

  /** Incrementally-appended dataset: same-typed chunks are encoded into the
    * file buffer as they are pulled, so the producer (e.g. the export's
    * spilled column builders) never holds the whole dataset — peak driver memory
    * is one chunk plus the file bytes, not a second full copy.
    * `chunks` is a THUNK returning a fresh iterator, so one value can back
    * several dataset nodes (link copies re-pull the source).
    * Prepend a zero-length typed chunk to pin the dtype of empty datasets.
    * `strWidth` fixes the string element width (chunks can't see the global
    * max); `rowWidth` > 0 emits a 2-D dataspace `(n/rowWidth, rowWidth)`.
    */
  final case class StreamedData(
      chunks: () => Iterator[DataValue],
      strWidth: Int = 0,
      rowWidth: Int = 0
  ) extends DataValue

  /** Write a root tree to an .h5 file. Synchronized: one writer instance
    * holds one in-flight channel (the reference's single-writer-thread
    * discipline, `src/Stream/MessageWriter.cpp:31-36`).
    */
  def write(path: String, rootChildren: Seq[Node],
      rootAttrs: Seq[(String, AttrValue)] = Nil): Unit = synchronized {
    val ch = FileChannel.open(Paths.get(path),
      StandardOpenOption.CREATE, StandardOpenOption.WRITE,
      StandardOpenOption.TRUNCATE_EXISTING)
    try {
      buf = new FileBuffer(ch)
      buf.pad(96) // superblock placeholder, patched at the end
      val rootHeader = writeGroup(Group("", rootChildren, rootAttrs))
      patchSuperblock(rootHeader)
      buf.flush()
    } finally {
      buf = null
      ch.close()
    }
  }

  // ---- superblock -----------------------------------------------------

  private val Undef = -1L // 0xFFFFFFFFFFFFFFFF

  private def patchSuperblock(rootHeaderAddr: Long): Unit = {
    val b = ByteBuffer.allocate(96).order(ByteOrder.LITTLE_ENDIAN)
    b.put(Array[Byte](0x89.toByte, 'H', 'D', 'F', '\r', '\n', 0x1a, '\n'))
    b.put(0.toByte)  // superblock v0
    b.put(0.toByte)  // free space v0
    b.put(0.toByte)  // root group STE v0
    b.put(0.toByte)  // reserved
    b.put(0.toByte)  // shared header msg v0
    b.put(8.toByte)  // size of offsets
    b.put(8.toByte)  // size of lengths
    b.put(0.toByte)  // reserved
    b.putShort(4)    // group leaf node k
    b.putShort(16)   // group internal node k
    b.putInt(0)      // file consistency flags
    b.putLong(0L)        // base address
    b.putLong(Undef)     // free space info
    b.putLong(buf.size)  // end of file address
    b.putLong(Undef)     // driver info block
    // root group symbol table entry (cache type 0: follow the header)
    b.putLong(0L)             // link name offset
    b.putLong(rootHeaderAddr) // object header address
    b.putInt(0)               // cache type
    b.putInt(0)               // reserved
    b.putLong(0L); b.putLong(0L) // scratch
    buf.patch(0, b.array())
  }

  // ---- groups ---------------------------------------------------------

  /** Superblock-declared B-tree ranks; the node block sizes libhdf5
    * derives from them are fixed, not data-dependent.
    */
  private val LeafK      = 4
  private val InternalK  = 16
  private val SnodBytes  = 8 + 2 * LeafK * 40
  private val BtreeBytes = 24 + (2 * InternalK + 1) * 8 + 2 * InternalK * 8

  /** strcmp over UTF-8 bytes (unsigned) — libhdf5's link-name comparator. */
  private def utf8Compare(a: String, b: String): Int =
    java.util.Arrays.compareUnsigned(
      a.getBytes(StandardCharsets.UTF_8), b.getBytes(StandardCharsets.UTF_8))

  /** Returns the group's object header address. */
  private def writeGroup(g: Group): Long = {
    // children first (addresses needed for the symbol table)
    // libhdf5 orders links by strcmp over UTF-8 bytes; Scala String
    // ordering compares UTF-16 code units, which disagrees for
    // supplementary characters — sort by unsigned byte sequence
    val entries = g.children.map {
      case c: Group   => (c.name, writeGroup(c))
      case d: Dataset => (d.name, writeDataset(d))
    }.sortWith((a, b) => utf8Compare(a._1, b._1) < 0)

    // local heap with the child names
    val heapData = new ByteArrayOutputStream
    heapData.write(new Array[Byte](8)) // heap starts with 8 reserved bytes
    val nameOffsets = entries.map { case (name, _) =>
      val off = heapData.size.toLong
      heapData.write(name.getBytes(StandardCharsets.UTF_8)); heapData.write(0)
      while (heapData.size % 8 != 0) heapData.write(0)
      off
    }
    val heapSeg  = heapData.toByteArray
    val heapSegAddr = buf.size + 32 // heap header is 32 bytes
    val heapAddr = {
      val b = ByteBuffer.allocate(32 + heapSeg.length).order(ByteOrder.LITTLE_ENDIAN)
      b.put("HEAP".getBytes); b.put(0.toByte); b.put(0.toByte); b.put(0.toByte); b.put(0.toByte)
      b.putLong(heapSeg.length.toLong) // data segment size
      b.putLong(1L)                    // free list head: 1 = none
      b.putLong(heapSegAddr)           // data segment address
      b.put(heapSeg)
      buf.append(b.array())
    }

    // Symbol table nodes: libhdf5 reads FIXED-size blocks of
    // 8 + 2·leaf_k·40 bytes and rejects nodes holding more than 2·leaf_k
    // entries (the superblock declares leaf k), so entries are split into
    // full-capacity SNODs and every block is padded to capacity.
    val snodGroups = entries.zip(nameOffsets).grouped(2 * LeafK).toSeq
    val snods = snodGroups.map { chunk =>
      val b = ByteBuffer.allocate(SnodBytes).order(ByteOrder.LITTLE_ENDIAN)
      b.put("SNOD".getBytes); b.put(1.toByte); b.put(0.toByte)
      b.putShort(chunk.size.toShort)
      chunk.foreach { case ((_, objAddr), nameOff) =>
        b.putLong(nameOff); b.putLong(objAddr)
        b.putInt(0); b.putInt(0)       // cache type 0
        b.putLong(0L); b.putLong(0L)   // scratch
      }
      val addr    = buf.append(b.array()) // trailing slots stay zeroed
      val lastOff = chunk.last._2        // heap offset of largest name
      (addr, lastOff)
    }

    // B-tree v1 nodes (node type 0): FIXED 24 + (2k+1)·8 + 2k·8 byte
    // blocks (544 for internal k=16 — libhdf5 reads the whole node, so a
    // truncated block near EOF would run past the end-of-file address).
    // Keys bound each child's names: key0 of the leftmost node = heap
    // offset 0 (the empty string, smallest); key0 of a later node = its
    // left sibling's last key; key_{i+1} = offset of the largest name
    // under child i. Groups wider than one node's 2k·2·leaf_k = 256
    // children build a MULTI-LEVEL tree: each level packs ≤ 2·internal_k
    // children per node (balanced so every node keeps ≥ k entries, the
    // v1 B-tree fill invariant), nodes of one level are written
    // consecutively so sibling addresses are known up front, and the
    // level above indexes them with the same key scheme. A single-node
    // group emits byte-identical output to the old fixed shape
    // (Hdf5GoldenSpec pins it).
    def buildLevel(children: Seq[(Long, Long)], level: Int): Long = {
      // an empty group still gets one (empty) node — entries used = 0
      val nChunks = math.max(1,
        (children.size + 2 * InternalK - 1) / (2 * InternalK))
      // balanced split: sizes differ by ≤1, so every node holds ≥ k
      // entries whenever there is more than one node
      val small   = children.size / nChunks
      val nBig    = children.size % nChunks
      val bounds  = (0 until nChunks)
        .map(i => if (i < nBig) small + 1 else small)
        .scanLeft(0)(_ + _)
      val chunks = (0 until nChunks).map(i =>
        children.slice(bounds(i), bounds(i + 1)))
      val base  = buf.size
      val addrs = chunks.indices.map(i => base + i.toLong * BtreeBytes)
      var prevLast = 0L
      val written = chunks.zipWithIndex.map { case (chunk, ci) =>
        val b = ByteBuffer.allocate(BtreeBytes).order(ByteOrder.LITTLE_ENDIAN)
        b.put("TREE".getBytes)
        b.put(0.toByte)        // node type: group
        b.put(level.toByte)    // 0 = leaf over SNODs, >0 = over B-tree nodes
        b.putShort(chunk.size.toShort)
        b.putLong(if (ci == 0) Undef else addrs(ci - 1))              // left
        b.putLong(if (ci == nChunks - 1) Undef else addrs(ci + 1))    // right
        b.putLong(prevLast)    // key0: upper bound inherited from the left
        chunk.foreach { case (addr, lastOff) =>
          b.putLong(addr); b.putLong(lastOff) // child_i, key_{i+1}
        }
        if (chunk.nonEmpty) prevLast = chunk.last._2 // empty group: key0=0
        val a = buf.append(b.array()) // unused key/child slots stay zeroed
        require(a == addrs(ci), "B-tree level must be contiguous")
        (a, prevLast)
      }
      if (written.size == 1) written.head._1
      else buildLevel(written, level + 1)
    }
    val btreeAddr = buildLevel(snods, 0)

    // object header: symbol table message + attributes
    val stMsg = {
      val b = ByteBuffer.allocate(16).order(ByteOrder.LITTLE_ENDIAN)
      b.putLong(btreeAddr); b.putLong(heapAddr)
      (0x0011, b.array())
    }
    writeObjectHeader(stMsg +: g.attrs.map(attrMessage))
  }

  // ---- datasets -------------------------------------------------------

  /** (dtype message, element size, encoded bytes, element count, dims). */
  private def encodeValue(
      v: DataValue, strWidth: Int
  ): (Array[Byte], Int, Array[Byte], Long, Seq[Long]) = v match {
    case I16Data(xs, dm) =>
      val b = ByteBuffer.allocate(2 * xs.length).order(ByteOrder.LITTLE_ENDIAN)
      xs.foreach(b.putShort); (fixedPoint(2), 2, b.array(), xs.length.toLong, dm)
    case I32Data(xs, dm) =>
      val b = ByteBuffer.allocate(4 * xs.length).order(ByteOrder.LITTLE_ENDIAN)
      xs.foreach(b.putInt); (fixedPoint(4), 4, b.array(), xs.length.toLong, dm)
    case I64Data(xs, dm) =>
      val b = ByteBuffer.allocate(8 * xs.length).order(ByteOrder.LITTLE_ENDIAN)
      xs.foreach(b.putLong); (fixedPoint(8), 8, b.array(), xs.length.toLong, dm)
    case F32Data(xs, dm) =>
      val b = ByteBuffer.allocate(4 * xs.length).order(ByteOrder.LITTLE_ENDIAN)
      xs.foreach(b.putFloat); (ieeeF32, 4, b.array(), xs.length.toLong, dm)
    case F64Data(xs, dm) =>
      val b = ByteBuffer.allocate(8 * xs.length).order(ByteOrder.LITTLE_ENDIAN)
      xs.foreach(b.putDouble); (ieeeF64, 8, b.array(), xs.length.toLong, dm)
    case StrData(xs) =>
      val w =
        if (strWidth > 0) strWidth
        else math.max(1, if (xs.isEmpty) 1 else xs.map(_.getBytes("UTF-8").length).max)
      val out = new ByteArrayOutputStream
      xs.foreach { s =>
        val sb = s.getBytes(StandardCharsets.UTF_8)
        out.write(sb, 0, math.min(sb.length, w))
        (sb.length until w).foreach(_ => out.write(0))
      }
      (fixedString(w), w, out.toByteArray, xs.length.toLong, Nil)
    case _: StreamedData =>
      throw new IllegalArgumentException("streamed chunks must be primitive")
  }

  private def writeDataset(d: Dataset): Long = {
    val (dtypeMsg, elemSize, dataAddr, n, dims) = d.data match {
      case StreamedData(chunks, sw, rowWidth) =>
        val addr = buf.size
        var count = 0L
        var dt: Option[(Array[Byte], Int)] = None
        chunks().foreach { c =>
          val (m, es, bytes, k, _) = encodeValue(c, sw)
          if (dt.isEmpty) dt = Some((m, es))
          buf.append(bytes)
          count += k
        }
        val (m, es) = dt.getOrElse((ieeeF64, 8))
        val dm = if (rowWidth > 0 && count % rowWidth == 0 && count > 0)
          Seq(count / rowWidth, rowWidth.toLong) else Nil
        (m, es, addr, count, dm)
      case v =>
        val (m, es, bytes, k, dm) = encodeValue(v, 0)
        (m, es, buf.append(bytes), k, dm)
    }
    val shape = if (dims.nonEmpty) dims else Seq(n)
    val layout = {
      val b = ByteBuffer.allocate(24).order(ByteOrder.LITTLE_ENDIAN)
      b.put(3.toByte) // layout v3
      b.put(1.toByte) // contiguous
      b.putLong(dataAddr)
      b.putLong(n * elemSize)
      (0x0008, b.array())
    }
    writeObjectHeader(Seq(
      (0x0001, dataspace(shape)),
      (0x0003, dtypeMsg),
      layout
    ) ++ d.attrs.map(attrMessage))
  }

  // ---- messages -------------------------------------------------------

  private def dataspace(dims: Seq[Long]): Array[Byte] = {
    val b = ByteBuffer.allocate(8 + 8 * dims.size).order(ByteOrder.LITTLE_ENDIAN)
    b.put(1.toByte)              // dataspace v1
    b.put(dims.size.toByte)      // rank
    b.put(0.toByte)              // flags: no maxdims
    b.put(0.toByte); b.putInt(0) // reserved
    dims.foreach(b.putLong)
    b.array()
  }

  private def fixedPoint(size: Int): Array[Byte] = {
    val b = ByteBuffer.allocate(8 + 4).order(ByteOrder.LITTLE_ENDIAN)
    b.put(0x10.toByte)       // version 1, class 0 (fixed point)
    b.put(0x08.toByte)       // little-endian, signed
    b.put(0.toByte); b.put(0.toByte)
    b.putInt(size)
    b.putShort(0)            // bit offset
    b.putShort((8 * size).toShort) // precision
    b.array()
  }

  private val ieeeF64: Array[Byte] = {
    val b = ByteBuffer.allocate(8 + 12).order(ByteOrder.LITTLE_ENDIAN)
    b.put(0x11.toByte)       // version 1, class 1 (float)
    b.put(0x20.toByte)       // little-endian, IEEE: sign at 63
    b.put(63.toByte)         // sign location
    b.put(0.toByte)
    b.putInt(8)
    b.putShort(0); b.putShort(64) // bit offset, precision
    b.put(52.toByte); b.put(11.toByte) // exponent loc/size
    b.put(0.toByte); b.put(52.toByte)  // mantissa loc/size
    b.putInt(1023)                     // exponent bias
    b.array()
  }

  private val ieeeF32: Array[Byte] = {
    val b = ByteBuffer.allocate(8 + 12).order(ByteOrder.LITTLE_ENDIAN)
    b.put(0x11.toByte)       // version 1, class 1 (float)
    b.put(0x20.toByte)       // little-endian, IEEE: sign at 31
    b.put(31.toByte)         // sign location
    b.put(0.toByte)
    b.putInt(4)
    b.putShort(0); b.putShort(32) // bit offset, precision
    b.put(23.toByte); b.put(8.toByte) // exponent loc/size
    b.put(0.toByte); b.put(23.toByte) // mantissa loc/size
    b.putInt(127)                     // exponent bias
    b.array()
  }

  private def fixedString(size: Int): Array[Byte] = {
    val b = ByteBuffer.allocate(8).order(ByteOrder.LITTLE_ENDIAN)
    b.put(0x13.toByte) // version 1, class 3 (string)
    b.put(0.toByte)    // null-terminated, ASCII
    b.put(0.toByte); b.put(0.toByte)
    b.putInt(size)
    b.array()
  }

  private def align8(n: Int): Int = (n + 7) & ~7

  private def attrMessage(kv: (String, AttrValue)): (Int, Array[Byte]) = {
    val (name, value) = kv
    val nameBytes = name.getBytes(StandardCharsets.UTF_8) :+ 0.toByte
    val (dt, data) = value match {
      case StrAttr(s) =>
        val sb = s.getBytes(StandardCharsets.UTF_8)
        // an empty string still carries one NUL data byte so the declared
        // 1-byte datatype has real backing data (not alignment padding)
        (fixedString(math.max(1, sb.length)),
          if (sb.isEmpty) Array[Byte](0) else sb)
      case F64Attr(v) =>
        val b = ByteBuffer.allocate(8).order(ByteOrder.LITTLE_ENDIAN).putDouble(v)
        (ieeeF64, b.array())
      case I64Attr(v) =>
        val b = ByteBuffer.allocate(8).order(ByteOrder.LITTLE_ENDIAN).putLong(v)
        (fixedPoint(8), b.array())
    }
    val ds = dataspace(Nil) // scalar
    val b = ByteBuffer.allocate(8 + align8(nameBytes.length) + align8(dt.length) +
      align8(ds.length) + data.length).order(ByteOrder.LITTLE_ENDIAN)
    b.put(1.toByte); b.put(0.toByte)        // attribute v1
    b.putShort(nameBytes.length.toShort)
    b.putShort(dt.length.toShort)
    b.putShort(ds.length.toShort)
    b.put(nameBytes); b.position(b.position() + (align8(nameBytes.length) - nameBytes.length))
    b.put(dt); b.position(b.position() + (align8(dt.length) - dt.length))
    b.put(ds); b.position(b.position() + (align8(ds.length) - ds.length))
    b.put(data)
    (0x000C, b.array())
  }

  private def writeObjectHeader(messages: Seq[(Int, Array[Byte])]): Long = {
    val body = new ByteArrayOutputStream
    messages.foreach { case (tpe, m) =>
      val padded = align8(m.length)
      require(padded <= 0xFFFF,
        s"object-header message type 0x${tpe.toHexString} is $padded bytes; " +
          "the v1 size field is u16 — value would silently wrap")
      val h = ByteBuffer.allocate(8 + padded).order(ByteOrder.LITTLE_ENDIAN)
      h.putShort(tpe.toShort)
      h.putShort(padded.toShort)
      h.put(0.toByte) // flags
      h.put(0.toByte); h.put(0.toByte); h.put(0.toByte)
      h.put(m)
      body.write(h.array())
    }
    val bodyBytes = body.toByteArray
    val b = ByteBuffer.allocate(16 + bodyBytes.length).order(ByteOrder.LITTLE_ENDIAN)
    b.put(1.toByte); b.put(0.toByte)          // header v1
    b.putShort(messages.size.toShort)
    b.putInt(1)                               // reference count
    b.putInt(bodyBytes.length)                // header data size
    b.putInt(0)                               // 4-byte padding to 8-align body
    b.put(bodyBytes)
    buf.append(b.array())
  }

  // ---- buffer ---------------------------------------------------------

  /** Append-only writer over a `FileChannel` with a fixed 1 MiB staging
    * buffer: `append` returns the file address, `patch` (superblock only)
    * flushes and writes positionally. Peak heap is the staging buffer plus
    * the largest single message — file size is unbounded by memory (the
    * pre-FileChannel design built the whole file in one `Array[Byte]`,
    * capping output below 2 GiB).
    */
  private final class FileBuffer(ch: FileChannel) {
    private val bb      = ByteBuffer.allocate(1 << 20)
    private var written = 0L
    def size: Long = written
    def pad(n: Int): Unit = append(new Array[Byte](n))
    def append(bytes: Array[Byte]): Long = {
      val addr = written
      var off  = 0
      while (off < bytes.length) {
        if (!bb.hasRemaining) flush()
        val k = math.min(bb.remaining, bytes.length - off)
        bb.put(bytes, off, k)
        off += k
      }
      written += bytes.length
      addr
    }
    def patch(at: Long, bytes: Array[Byte]): Unit = {
      flush()
      val b = ByteBuffer.wrap(bytes)
      var pos = at
      while (b.hasRemaining) pos += ch.write(b, pos)
    }
    def flush(): Unit = {
      bb.flip()
      while (bb.hasRemaining) ch.write(bb)
      bb.clear()
    }
  }
}
