package graft.sinks

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types._
import org.json4s._
import org.json4s.jackson.JsonMethods

/** Final HDF5 emission: convert a populated parquet-mirror output tree
  * (manifest + tables) into one native `.h5` file via [[Hdf5Writer]] — the
  * "custom HDF5 sink" end of the pipeline. Runs driver-side single-writer,
  * exactly the discipline of the reference's writer thread
  * (`src/Stream/MessageWriter.cpp:31-36`). Each table is read once on the
  * driver by [[LocalParquet]], with no Spark job: a single pass demuxes
  * every row into per-column builders (string byte-widths and
  * array-uniformity checks ride the same pass).
  *
  * Peak heap is BOUNDED: the writer streams the file through a
  * FileChannel, and each column builder holds at most [[spillChunkValues]]
  * values — columns that outgrow a chunk spill their encoded bytes to a
  * temp file and are re-read chunk-wise during emission (twice for link
  * copies, which re-pull their source). Driver memory is therefore
  * O(columns × chunk), independent of table or file size.
  */
object Hdf5Export {

  private val writer = new Hdf5Writer
  import writer._

  /** Values a column builder may hold in memory before spilling encoded
    * bytes to a temp file (1M values ≈ 8 MiB for i64/f64). Test hook:
    * specs shrink it to prove the bound; [[maxResidentValues]] records the
    * observed per-builder high-water mark of the last export.
    */
  @volatile private[sinks] var spillChunkValues: Int = 1 << 20
  @volatile private[sinks] var maxResidentValues: Long = 0L

  /** `spark` is unused: the export runs on the driver alone. */
  def export(spark: SparkSession, outDir: String, h5Path: String): Unit = {
    val spill = new Spill
    try exportWith(outDir, h5Path, spill)
    finally spill.cleanup()
  }

  private def exportWith(outDir: String, h5Path: String, spill: Spill): Unit = {
    val closing =
      if (Files.exists(Paths.get(s"$outDir/closing.json")))
        JsonMethods.parse(Files.readString(Paths.get(s"$outDir/closing.json")))
      else JObject()
    val manifest =
      if (Files.exists(Paths.get(s"$outDir/manifest.json")))
        JsonMethods.parse(Files.readString(Paths.get(s"$outDir/manifest.json")))
      else JObject()
    val units      = twoLevel(closing \ "units")
    val groupAttrs = twoLevel(closing \ "group_attributes")
    val mdat = (closing \ "mdat") match {
      case JObject(fs) => fs.collect { case (k, JString(v)) => k -> v }
      case _           => Nil
    }

    val dataRoot = Paths.get(s"$outDir/data")
    val tree     = new MutableTree
    if (Files.exists(dataRoot)) {
      // every directory holding parquet part files is one table; its
      // non-row columns become sibling datasets in the parent group.
      // Hidden names (Spark's rule, see LocalParquet.hidden) are skipped
      // at every level: a `_temporary/…/part-*.parquet` left by a killed
      // append is committer scratch, not a table
      val walk = Files.walk(dataRoot)
      try walk.filter(p => Files.isDirectory(p)).forEach { dir =>
        val rel   = dataRoot.relativize(dir).toString.replace('\\', '/')
        val names = rel.split('/').toSeq
        val hasParquet = !names.exists(LocalParquet.hidden) &&
          Option(dir.toFile.listFiles()).exists(_.exists(f =>
            f.isFile && !LocalParquet.hidden(f.getName) && f.getName.endsWith(".parquet")))
        if (hasParquet) {
          val par   = names.dropRight(1) // strip table name
          val table = names.last
          val groupKey = par.mkString("/")
          // read on the driver in `row` order, one row per row id: the
          // at-least-once replay dedup the close-time finals apply too, so
          // the .h5 arrays and num_values/events agree
          tableColumns(LocalParquet.read(dir.toString), spill).foreach { case (f, dv) =>
            val unitAttr = units.get(groupKey).flatMap(_.get(f.name))
              .map(u => Seq("units" -> (StrAttr(u): AttrValue))).getOrElse(Nil)
            val name = if (table == "data" || table == "meta") f.name
                       else s"${table}_${f.name}"
            tree.addDataset(par, Dataset(name, dv, unitAttr))
          }
          groupAttrs.get(groupKey).foreach(as =>
            tree.addAttrs(par, as.map { case (k, v) => k -> (StrAttr(v): AttrValue) }.toSeq))
        }
      }
      finally walk.close()
    }
    mdat.foreach { case (k, v) =>
      tree.addDataset(Seq("entry"), Dataset(k, StrData(Array(v))))
    }

    // create-phase structure from the manifest: static dataset values
    // (shape from JSON nesting, `HDFOperations::writeDataset`,
    // `src/HDFOperations.cpp:325-352`), group attributes, and links.
    (manifest \ "statics") match {
      case JArray(ss) => ss.foreach { st =>
        (st \ "path") match {
          case JString(p) =>
            val parts = p.split('/').toSeq
            val dtype = (st \ "dtype") match { case JString(d) => Some(d); case _ => None }
            staticValue(st \ "values", dtype).foreach { dv =>
              val attrs = (st \ "attributes") match {
                case JArray(as) => as.flatMap(a => ((a \ "name"), (a \ "values")) match {
                  case (JString(n), v) => attrValue(v).map(n -> _)
                  case _               => None
                })
                case _ => Nil
              }
              tree.addDataset(parts.dropRight(1), Dataset(parts.last, dv, attrs))
            }
          case _ => ()
        }
      }
      case _ => ()
    }
    (manifest \ "groups") match {
      case JArray(gs) => gs.foreach { g =>
        ((g \ "path"), (g \ "attributes")) match {
          case (JString(p), JArray(as)) if p.nonEmpty =>
            tree.addAttrs(p.split('/').toSeq, as.flatMap(a =>
              ((a \ "name"), (a \ "values")) match {
                case (JString(n), v) => attrValue(v).map(n -> _)
                case _               => None
              }))
          case _ => ()
        }
      }
      case _ => ()
    }
    // da00 plan-time constants: written once at structure creation
    // (`da00_Writer.cpp` constants handling) — rendered as datasets under
    // the stream group from their declared spec
    (manifest \ "constants") match {
      case JArray(cs) => cs.foreach { c =>
        ((c \ "stream"), (c \ "spec" \ "name")) match {
          case (JString(streamPath), JString(name)) =>
            val spec  = c \ "spec"
            val dtype = (spec \ "data_type") match {
              case JString(d) => Some(d); case _ => None
            }
            staticValue(spec \ "data", dtype).foreach { dv =>
              tree.addDataset(streamPath.split('/').toSeq, Dataset(name, dv))
            }
          case _ => ()
        }
      }
      case _ => ()
    }
    // links: HDF5 hard links alias one object from two groups; this
    // single-pass writer materializes the alias as a VALUE COPY instead
    // (readers see identical data — the reference's own domain test
    // asserts value equality, `test_static_information.py:18-29`).
    (manifest \ "links") match {
      case JArray(ls) => ls.foreach { l =>
        ((l \ "path"), (l \ "resolved")) match {
          case (JString(p), JString(target)) =>
            tree.resolveLinkCopy(p.split('/').toSeq, target.split('/').toSeq)
          case _ => ()
        }
      }
      case _ => ()
    }
    writer.write(h5Path, tree.build())
  }

  /** Static JSON values → a typed dataset (declared dtype wins; shape from
    * nesting; inferred from JSON types otherwise).
    */
  private def staticValue(jv: JValue, dtype: Option[String]): Option[DataValue] = {
    def dims(v: JValue): Seq[Long] = v match {
      case JArray(xs) => xs.length.toLong +: xs.headOption.map(dims).getOrElse(Nil)
      case _          => Nil
    }
    // shared flatteners (graft.plans.NexusPlan): the integral form exists
    // because int64 values above 2^53 (ns-epoch timestamps) would lose
    // low-order bits round-tripping through Double
    def nums(v: JValue): Seq[Double] = graft.plans.NexusPlan.jsonDoubles(v)
    def longs(v: JValue): Seq[Long]  = graft.plans.NexusPlan.jsonLongs(v)
    def strs(v: JValue): Seq[String] = v match {
      case JArray(xs) => xs.flatMap(strs)
      case JString(s) => Seq(s)
      case _          => Nil
    }
    val dm      = dims(jv)
    val shape   = if (dm.size > 1) dm else Nil
    lazy val numeric = nums(jv)
    dtype.map(_.toLowerCase) match {
      case Some("string")                    => Some(StrData(strs(jv).toArray))
      case Some("int8" | "int16" | "uint8")  => Some(I16Data(longs(jv).map(_.toShort).toArray, shape))
      case Some("int32" | "uint16" | "int")  => Some(I32Data(longs(jv).map(_.toInt).toArray, shape))
      case Some("int64" | "uint32" | "uint64" | "long") =>
        Some(I64Data(longs(jv).toArray, shape))
      case Some("float" | "float32")         => Some(F32Data(numeric.map(_.toFloat).toArray, shape))
      case Some("double" | "float64")        => Some(F64Data(numeric.toArray, shape))
      case Some(_)                           => Some(F64Data(numeric.toArray, shape))
      case None => jv match {
        case JString(_) | JArray(JString(_) :: _) => Some(StrData(strs(jv).toArray))
        case JNothing | JNull                     => None
        case v if nums(v).nonEmpty || v == JArray(Nil) =>
          val allInts = v match {
            case _ if strs(v).nonEmpty => false
            case _ => flattenIsIntegral(v)
          }
          if (allInts) Some(I64Data(longs(v).toArray, shape))
          else Some(F64Data(numeric.toArray, shape))
        case _ => None
      }
    }
  }

  private def flattenIsIntegral(v: JValue): Boolean = v match {
    case JArray(xs)           => xs.forall(flattenIsIntegral)
    case JInt(_) | JLong(_)   => true
    case _                    => false
  }

  private def attrValue(jv: JValue): Option[AttrValue] = jv match {
    case JString(s)  => Some(StrAttr(s))
    case JInt(i)     => Some(I64Attr(i.toLong))
    case JLong(l)    => Some(I64Attr(l))
    case JDouble(d)  => Some(F64Attr(d))
    case JDecimal(d) => Some(F64Attr(d.toDouble))
    case _           => None // array attributes not emitted (none in corpus)
  }

  private def twoLevel(jv: JValue): Map[String, Map[String, String]] = jv match {
    case JObject(fs) =>
      fs.map { case (k, v) =>
        k -> (v match {
          case JObject(inner) => inner.collect { case (ik, JString(iv)) => ik -> iv }.toMap
          case _              => Map.empty[String, String]
        })
      }.toMap
    case _ => Map.empty
  }

  /** Per-export registry of spill temp files, deleted when the export
    * (including the final [[Hdf5Writer.write]], which re-reads them)
    * completes.
    */
  private final class Spill {
    private val paths = scala.collection.mutable.ArrayBuffer.empty[java.nio.file.Path]
    def newFile(): java.nio.file.Path = synchronized {
      val p = Files.createTempFile("graft-h5spill", ".bin")
      paths += p
      p
    }
    def cleanup(): Unit = synchronized {
      paths.foreach(Files.deleteIfExists(_))
      paths.clear()
    }
  }

  /** Opens a new spill file of the export for sequential writing. */
  private def spillOut(spill: Spill): (java.nio.file.Path, java.io.DataOutputStream) = {
    val p = spill.newFile()
    (p, new java.io.DataOutputStream(
      new java.io.BufferedOutputStream(Files.newOutputStream(p), 1 << 16)))
  }

  /** Chunked read-back of `n` spilled values: each `next` decodes at most
    * [[spillChunkValues]] of them from the stream with `read(in, k)`.
    */
  private def readChunks(p: java.nio.file.Path, n: Long)(
      read: (java.io.DataInputStream, Int) => DataValue): Iterator[DataValue] =
    new Iterator[DataValue] {
      private val in = new java.io.DataInputStream(
        new java.io.BufferedInputStream(Files.newInputStream(p), 1 << 16))
      private var done = 0L
      def hasNext: Boolean = { val h = done < n; if (!h) in.close(); h }
      def next(): DataValue = {
        val k = math.min(spillChunkValues.toLong, n - done).toInt
        done += k
        read(in, k)
      }
    }

  /** Every exportable column of one table from ONE driver-side pass
    * ([[LocalParquet.Table.foreach]]): each row is demuxed into
    * per-column builders; string columns
    * track their max UTF-8 byte-width and array columns their width
    * uniformity in the same pass (ragged or empty array columns are
    * skipped, as before). A zero-length typed seed chunk pins the dtype
    * of empty columns. Builders hold at most [[spillChunkValues]] values:
    * larger columns spill encoded chunks to a temp file and their
    * [[Hdf5Writer.StreamedData]] re-reads it chunk-wise at emission.
    */
  private def tableColumns(table: LocalParquet.Table, spill: Spill)
      : Seq[(StructField, DataValue)] = {
    import scala.collection.mutable
    import org.apache.spark.sql.Row

    def streamed(seed: DataValue, data: DataValue, strWidth: Int = 0,
        rowWidth: Int = 0): DataValue =
      StreamedData(() => Iterator(seed, data), strWidth, rowWidth)

    def noteResident(n: Long): Unit =
      if (n > maxResidentValues) maxResidentValues = n

    sealed trait Acc {
      def add(r: Row, i: Int): Unit
      def result(): Option[DataValue]
    }

    /** Fixed-width numeric column builder for one element type: each
      * typed put writes straight into a little-endian chunk buffer, so at
      * most one chunk is resident per column and no value is boxed. A
      * full chunk spills its bytes as they are; `result()` decodes a chunk
      * into its typed array with one bulk get, re-reading spilled chunks
      * at emission. Chunk boundaries need not align to 2-D row widths —
      * the writer concatenates chunk bytes and derives the dataspace from
      * the TOTAL value count.
      */
    final class NumAcc(elem: DataType) extends Acc {
      private val width = elem.defaultSize
      // start small, grow geometrically to the spill ceiling: tiny
      // tables (the common many-stream export) must not pay an 8 MiB
      // allocation floor per column
      private var buf = chunk(math.min(1024, spillChunkValues))
      private var n   = 0
      private var path: java.nio.file.Path      = null
      private var out: java.io.DataOutputStream = null
      private var total = 0L
      private def chunk(values: Int): java.nio.ByteBuffer =
        java.nio.ByteBuffer.allocate(values * width).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      private def room(): Unit = if (!buf.hasRemaining) {
        val grown = chunk(math.min(spillChunkValues, n * 2))
        buf.flip()
        buf = grown.put(buf)
      }
      private def filled(): Unit = {
        n += 1
        noteResident(n.toLong)
        if (n == spillChunkValues) spillChunk()
      }
      private def spillChunk(): Unit = {
        if (out == null) { val (p, o) = spillOut(spill); path = p; out = o }
        out.write(buf.array(), 0, buf.position())
        total += n
        buf.clear()
        n = 0
      }
      def putLong(v: Long): Unit     = { room(); buf.putLong(v); filled() }
      def putInt(v: Int): Unit       = { room(); buf.putInt(v); filled() }
      def putShort(v: Short): Unit   = { room(); buf.putShort(v); filled() }
      def putDouble(v: Double): Unit = { room(); buf.putDouble(v); filled() }
      def putFloat(v: Float): Unit   = { room(); buf.putFloat(v); filled() }
      /** one element of an array cell (already boxed by `Row.getSeq`) */
      def putBoxed(x: Any): Unit = elem match {
        case LongType    => putLong(x.asInstanceOf[Long])
        case IntegerType => putInt(x.asInstanceOf[Int])
        case ShortType   => putShort(x.asInstanceOf[Short])
        case DoubleType  => putDouble(x.asInstanceOf[Double])
        case FloatType   => putFloat(x.asInstanceOf[Float])
      }
      /** fill value of a missing cell: NaN for floating, 0 for integral */
      def putFill(): Unit = elem match {
        case LongType    => putLong(0L)
        case IntegerType => putInt(0)
        case ShortType   => putShort(0)
        case DoubleType  => putDouble(Double.NaN)
        case FloatType   => putFloat(Float.NaN)
      }
      /** a scalar cell; NULL is written as 0 */
      def add(r: Row, i: Int): Unit = {
        val nul = r.isNullAt(i)
        elem match {
          case LongType    => putLong(if (nul) 0L else r.getLong(i))
          case IntegerType => putInt(if (nul) 0 else r.getInt(i))
          case ShortType   => putShort(if (nul) 0.toShort else r.getShort(i))
          case DoubleType  => putDouble(if (nul) 0.0 else r.getDouble(i))
          case FloatType   => putFloat(if (nul) 0.0f else r.getFloat(i))
        }
      }
      /** `k` values of a little-endian buffer → one typed array */
      private def decode(bb: java.nio.ByteBuffer, k: Int): DataValue = elem match {
        case LongType    => val xs = new Array[Long](k); bb.asLongBuffer().get(xs); I64Data(xs)
        case IntegerType => val xs = new Array[Int](k); bb.asIntBuffer().get(xs); I32Data(xs)
        case ShortType   => val xs = new Array[Short](k); bb.asShortBuffer().get(xs); I16Data(xs)
        case DoubleType  => val xs = new Array[Double](k); bb.asDoubleBuffer().get(xs); F64Data(xs)
        case FloatType   => val xs = new Array[Float](k); bb.asFloatBuffer().get(xs); F32Data(xs)
      }
      def result(): Option[DataValue] = {
        val seed = decode(chunk(0), 0)
        if (path == null) { buf.flip(); Some(streamed(seed, decode(buf, n))) }
        else {
          if (n > 0) spillChunk()
          out.close()
          Some(StreamedData(() => Iterator(seed) ++ readChunks(path, total) { (in, m) =>
            val c = chunk(m)
            in.readFully(c.array())
            decode(c, m)
          }))
        }
      }
    }
    /** Booleans are stored as int16 0/1. */
    final class BoolAcc extends Acc {
      private val b = new NumAcc(ShortType)
      def add(r: Row, i: Int): Unit =
        b.putShort(if (!r.isNullAt(i) && r.getBoolean(i)) 1.toShort else 0.toShort)
      def result(): Option[DataValue] = b.result()
    }
    /** Strings spill as 4-byte length + UTF-8 bytes (variable width). */
    final class StrAcc extends Acc {
      private val b    = mutable.ArrayBuffer.empty[String]
      private var maxW = 1
      private var out: java.io.DataOutputStream = null
      private var path: java.nio.file.Path      = null
      private var total = 0L
      def add(r: Row, i: Int): Unit = {
        val s = if (r.isNullAt(i)) "" else r.getString(i)
        maxW = math.max(maxW, s.getBytes(java.nio.charset.StandardCharsets.UTF_8).length)
        b += s
        noteResident(b.length.toLong)
        if (b.length == spillChunkValues) flushChunk()
      }
      private def flushChunk(): Unit = {
        if (out == null) { val (p, o) = spillOut(spill); path = p; out = o }
        b.foreach { s =>
          val bytes = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
          out.writeInt(bytes.length)
          out.write(bytes)
        }
        total += b.length
        b.clear()
      }
      def result(): Option[DataValue] =
        if (path == null)
          Some(streamed(StrData(Array.empty[String]), StrData(b.toArray),
            strWidth = maxW))
        else {
          if (b.nonEmpty) flushChunk()
          out.close()
          Some(StreamedData(() => Iterator(StrData(Array.empty[String])) ++
            readChunks(path, total) { (in, k) =>
              val xs = new Array[String](k)
              var i  = 0
              while (i < k) {
                val bytes = new Array[Byte](in.readInt())
                in.readFully(bytes)
                xs(i) = new String(bytes, java.nio.charset.StandardCharsets.UTF_8)
                i += 1
              }
              StrData(xs)
            }, strWidth = maxW))
        }
    }
    /** Flat 2-D accumulator; bails out on ragged widths. A NULL cell
      * (da00's null-filled missing variable — `variable_append_missing`,
      * the reference still writes the dataset with fill values) emits one
      * row of fills (NaN for floating, 0 for integral) instead of
      * raggedizing the whole dataset away.
      */
    final class ArrAcc(elem: DataType) extends Acc {
      private var inner: NumAcc = null // created at the first non-null cell
      private var w       = -1
      private var ragged  = false
      private var pendingNullRows = 0L // nulls seen before the width is known
      private def putFillRow(): Unit = { var j = 0; while (j < w) { inner.putFill(); j += 1 } }
      def add(r: Row, i: Int): Unit = if (!ragged) {
        if (r.isNullAt(i)) {
          if (w < 0) pendingNullRows += 1
          else putFillRow()
        } else {
          val s = r.getSeq[Any](i)
          if (w < 0) {
            w = s.length
            inner = new NumAcc(elem)
            while (pendingNullRows > 0) { putFillRow(); pendingNullRows -= 1 }
          }
          if (s.length != w) ragged = true
          else s.foreach(inner.putBoxed)
        }
      }
      def result(): Option[DataValue] =
        if (ragged || w <= 0) None
        else inner.result().map {
          case sd: StreamedData => sd.copy(rowWidth = w)
          case other            => other
        }
    }

    val fields = table.schema.fields.filterNot(_.name == "row").toSeq
    val used: Seq[(StructField, Acc)] = fields.flatMap { f =>
      val acc: Option[Acc] = f.dataType match {
        case LongType | IntegerType | ShortType | DoubleType | FloatType =>
          Some(new NumAcc(f.dataType))
        case BooleanType => Some(new BoolAcc)
        case StringType  => Some(new StrAcc)
        case ArrayType(et @ (DoubleType | FloatType | LongType | IntegerType |
                             ShortType), _) =>
          Some(new ArrAcc(et))
        case _ => None
      }
      acc.map(f -> _)
    }
    if (used.nonEmpty) {
      table.foreach(used.map(_._1.name)) { r =>
        var i = 0
        while (i < used.length) { used(i)._2.add(r, i); i += 1 }
      }
    }
    used.flatMap { case (f, a) => a.result().map(f -> _) }
  }

  /** path-keyed tree assembled incrementally, emitted as writer nodes. */
  private final class MutableTree {
    private val datasets = scala.collection.mutable.ArrayBuffer
      .empty[(Seq[String], Dataset)]
    private val attrs = scala.collection.mutable.Map
      .empty[Seq[String], Seq[(String, AttrValue)]]

    def addDataset(path: Seq[String], d: Dataset): Unit = datasets += ((path, d))
    def addAttrs(path: Seq[String], as: Seq[(String, AttrValue)]): Unit =
      attrs(path) = attrs.getOrElse(path, Nil) ++ as

    /** Materialize a link as a copy of its target dataset (streamed values
      * re-pull the source, so both nodes emit the full data).
      */
    def resolveLinkCopy(linkPath: Seq[String], targetPath: Seq[String]): Unit = {
      val tPar  = targetPath.dropRight(1)
      val tName = targetPath.last
      datasets.find { case (p, d) => p == tPar && d.name == tName }.foreach {
        case (_, d) =>
          datasets += ((linkPath.dropRight(1), Dataset(linkPath.last, d.data, d.attrs)))
      }
    }

    def build(): Seq[Node] = buildLevel(Nil)

    private def buildLevel(prefix: Seq[String]): Seq[Node] = {
      val here = datasets.filter(_._1 == prefix).map(_._2).toSeq
      val childNames = (datasets.map(_._1) ++ attrs.keys)
        .filter(p => p.startsWith(prefix) && p.length > prefix.length)
        .map(_(prefix.length))
        .distinct.sorted
      val subgroups = childNames.map { n =>
        // create-phase and close-phase attrs may both name e.g. NX_class —
        // last writer wins, one message per name
        val as = attrs.getOrElse(prefix :+ n, Nil).reverse.distinctBy(_._1).reverse
        Group(n, buildLevel(prefix :+ n), as)
      }
      here ++ subgroups
    }
  }
}
