package graft.sinks

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util.UUID

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.parquet.ParquetReadOptions
import org.apache.parquet.column.ColumnReader
import org.apache.parquet.column.impl.ColumnReadStoreImpl
import org.apache.parquet.conf.PlainParquetConfiguration
import org.apache.parquet.example.data.Group
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.{Footer, ParquetFileReader}
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.metadata.{CompressionCodecName, ParquetMetadata}
import org.apache.parquet.io.{LocalInputFile, LocalOutputFile}
import org.apache.parquet.io.api.{Binary, Converter, GroupConverter, PrimitiveConverter}
import org.apache.parquet.schema.{GroupType, LogicalTypeAnnotation, MessageType, Type, Types}
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.SpecializedGetters
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types._

/** Driver-side parquet reader and writer for the parquet mirror — the
  * analog of the reference's writer thread, which appends a handful of
  * rows in-process (`src/Stream/MessageWriter.cpp:107-141`) and closes a
  * file that is already on disk (`src/HDFFile.cpp:249-261`). A Spark job
  * costs ~160 ms FIXED regardless of payload (round-12b measurement,
  * `bench_results/stream_ab_r12b.json`); for rows that already sit in
  * driver memory, and for the close-time read-backs of a table, launching
  * one is pure overhead. Both directions use parquet-mr's public API
  * through one shared [[PlainParquetConfiguration]] — no Hadoop
  * `Configuration`, no Spark job.
  *
  * Write scope is deliberately narrow: columns of primitive types
  * (long/int/short/byte/double/float/boolean/string) and one-level arrays
  * of them — what the reader reads. [[supports]] gates; callers fall back
  * to the Spark write path otherwise. Schema conventions match Spark's
  * parquet writer (INT64/INT32/DOUBLE/FLOAT/BOOLEAN/BINARY-UTF8, its
  * three-level LIST, `required` for non-nullable fields and elements), so
  * files from both paths coexist in one table directory with identical
  * merged schemas.
  *
  * Crash safety: a file is written under a dot-prefixed temp name
  * (hidden from every reader, see [[hidden]]) and atomically renamed into
  * place — the same no-partial-file guarantee the committer gives the
  * Spark path.
  */
object LocalParquet {

  private val conf = new PlainParquetConfiguration()
  private lazy val readOptions = ParquetReadOptions.builder(conf).build()

  /** Spark's hidden-path rule (`InMemoryFileIndex`): names starting with
    * `_` or `.` — committer scratch (`_temporary`), markers, checksums and
    * in-progress temp files — are not table data.
    */
  def hidden(name: String): Boolean = name.startsWith("_") || name.startsWith(".")

  def supports(schema: StructType): Boolean =
    schema.fields.forall(_.dataType match {
      case ArrayType(et, _) => primitive(et)
      case dt               => primitive(dt)
    })

  private def primitive(dt: DataType): Boolean = dt match {
    case LongType | IntegerType | ShortType | ByteType | DoubleType | FloatType |
        BooleanType | StringType => true
    case _ => false
  }

  private def parquetType(name: String, dt: DataType, nullable: Boolean): Type = {
    val rep =
      if (nullable) Type.Repetition.OPTIONAL else Type.Repetition.REQUIRED
    dt match {
      case LongType    => Types.primitive(PrimitiveTypeName.INT64, rep).named(name)
      case IntegerType => Types.primitive(PrimitiveTypeName.INT32, rep).named(name)
      // Spark writes ShortType/ByteType as INT32 annotated int(16)/int(8) —
      // match it so files from both paths merge schemas cleanly
      case ShortType   => Types.primitive(PrimitiveTypeName.INT32, rep)
        .as(LogicalTypeAnnotation.intType(16, true)).named(name)
      case ByteType    => Types.primitive(PrimitiveTypeName.INT32, rep)
        .as(LogicalTypeAnnotation.intType(8, true)).named(name)
      case DoubleType  => Types.primitive(PrimitiveTypeName.DOUBLE, rep).named(name)
      case FloatType   => Types.primitive(PrimitiveTypeName.FLOAT, rep).named(name)
      case BooleanType => Types.primitive(PrimitiveTypeName.BOOLEAN, rep).named(name)
      case StringType  => Types.primitive(PrimitiveTypeName.BINARY, rep)
        .as(LogicalTypeAnnotation.stringType()).named(name)
      // Spark's standard three-level list (`SparkToParquetSchemaConverter`
      // without the legacy format): a LIST group holding a repeated
      // `list` group of one `element`
      case ArrayType(et, containsNull) => Types.buildGroup(rep)
        .as(LogicalTypeAnnotation.listType())
        .addField(Types.repeatedGroup()
          .addField(parquetType("element", et, containsNull)).named("list"))
        .named(name)
      case other => throw new IllegalArgumentException(s"unsupported: $other")
    }
  }

  /** Write `rows` (caller-ordered) as ONE parquet file under `dir`.
    * Returns the row count written.
    */
  def write(dir: String, schema: StructType, rows: Seq[InternalRow]): Long =
    put(dir, schema, rows, replace = false)

  /** Replace every file of `dir` by one file of `rows` — the driver form of
    * a `SaveMode.Overwrite` write. The old files go just before the new
    * one is renamed into place, so a reader never sees both.
    */
  def overwrite(dir: String, schema: StructType, rows: Seq[InternalRow]): Long =
    put(dir, schema, rows, replace = true)

  private def put(dir: String, schema: StructType, rows: Seq[InternalRow],
      replace: Boolean): Long = {
    require(supports(schema), s"unsupported schema for local write: $schema")
    val d = Paths.get(dir)
    Files.createDirectories(d)
    val message = new MessageType("spark_schema",
      schema.fields.map(f => parquetType(f.name, f.dataType, f.nullable)): _*)
    val name = s"part-local-${UUID.randomUUID()}.snappy.parquet"
    val tmp  = d.resolve(s".$name.inprogress")
    val writer = ExampleParquetWriter.builder(new LocalOutputFile(tmp))
      .withConf(conf)
      .withType(message)
      .withCompressionCodec(CompressionCodecName.SNAPPY)
      .build()
    val factory = new SimpleGroupFactory(message)
    try rows.foreach { r =>
      val g = factory.newGroup()
      schema.fields.zipWithIndex.foreach { case (f, i) =>
        if (!r.isNullAt(i)) putValue(g, f.name, f.dataType, r, i)
      }
      writer.write(g)
    } finally writer.close()
    if (replace) {
      val old = Files.list(d)
      try old.iterator().asScala.filter(p => Files.isRegularFile(p) && p != tmp)
        .toList.foreach(Files.delete)
      finally old.close()
    }
    Files.move(tmp, d.resolve(name), StandardCopyOption.ATOMIC_MOVE)
    rows.size.toLong
  }

  /** Appends the non-null value `v(i)` of type `dt` to `g` as field `name`. */
  private def putValue(g: Group, name: String, dt: DataType, v: SpecializedGetters, i: Int): Unit =
    dt match {
      case LongType    => g.append(name, v.getLong(i))
      case IntegerType => g.append(name, v.getInt(i))
      case ShortType   => g.append(name, v.getShort(i).toInt)
      case ByteType    => g.append(name, v.getByte(i).toInt)
      case DoubleType  => g.append(name, v.getDouble(i))
      case FloatType   => g.append(name, v.getFloat(i))
      case BooleanType => g.append(name, v.getBoolean(i))
      case StringType  => g.append(name, Binary.fromString(v.getUTF8String(i).toString))
      case ArrayType(et, _) =>
        // an empty list is the LIST group without a `list` entry; a null
        // element is a `list` entry without its `element`
        val arr  = v.getArray(i)
        val list = g.addGroup(name)
        var j = 0
        while (j < arr.numElements()) {
          val e = list.addGroup("list")
          if (!arr.isNullAt(j)) putValue(e, "element", et, arr, j)
          j += 1
        }
      case other => throw new IllegalArgumentException(s"unsupported: $other")
    }

  // ---- read ----------------------------------------------------------------

  /** One part file: its path and its footer, read once. */
  private final class Part(val path: Path, val meta: ParquetMetadata) {
    def rows: Long = meta.getBlocks.asScala.map(_.getRowCount).sum
    def schema: MessageType = meta.getFileMetaData.getSchema
    /** the smallest `row` id the file holds, from the column statistics */
    def firstRow: Option[Long] = {
      val mins = meta.getBlocks.asScala.filter(_.getRowCount > 0).map { b =>
        b.getColumns.asScala.find(_.getPath.toDotString == "row")
          .map(_.getStatistics)
          .filter(s => s != null && s.hasNonNullValue)
          .map(_.genericGetMin().asInstanceOf[java.lang.Long].longValue())
      }
      if (mins.nonEmpty && mins.forall(_.isDefined)) Some(mins.flatten.min) else None
    }
  }

  /** A table directory of the mirror, read on the driver: the visible
    * `.parquet` part files (see [[hidden]]) under the column types
    * Spark's own reader gives them. Files are opened by [[foreach]].
    */
  final class Table private[LocalParquet] (val schema: StructType, parts: Seq[Part]) {

    /** Every stored row of `columns` (default: all), once. A table with a
      * `row` column comes out in ascending `row` order with one row per
      * id — `spark.read.parquet(dir).dropDuplicates("row").orderBy("row")`,
      * the at-least-once replay dedup. Each part file is sorted by `row`
      * (both writers sort), so this is a k-way merge over the files with
      * one row per file in hand; a file is opened only when the merge
      * reaches its first row id, and a row whose id equals the last one
      * emitted is a replayed duplicate and dropped. A table without a
      * `row` column (the close-time meta tables) comes out file by file.
      */
    def foreach(columns: Seq[String] = schema.fieldNames.toSeq)(f: Row => Unit): Unit = {
      val keyed  = schema.fieldNames.contains("row")
      val fields = (if (keyed && !columns.contains("row")) columns :+ "row" else columns)
        .map(schema(_))
      val out    = columns.map(c => fields.indexWhere(_.name == c)).toArray
      val readers = parts.filter(_.rows > 0).map(new PartReader(_, fields))
      def emit(c: PartReader): Unit = f(new org.apache.spark.sql.catalyst.expressions
        .GenericRow(out.map(c.values(_))))
      try {
        if (!keyed) readers.foreach(c => while (c.advance()) emit(c))
        else {
          val key = fields.indexWhere(_.name == "row")
          val heap = mutable.PriorityQueue.empty[(Long, PartReader)](
            Ordering.by[(Long, PartReader), Long](_._1).reverse)
          readers.foreach { c =>
            c.part.firstRow match {
              case Some(first) => heap.enqueue((first, c))
              case None => if (c.advance()) heap.enqueue((c.key(key), c))
            }
          }
          var last = 0L
          var any  = false
          while (heap.nonEmpty) {
            val (_, c) = heap.dequeue()
            if (!c.started) {
              // reached by its statistics: open it and queue its first row
              if (c.advance()) heap.enqueue((c.key(key), c))
            } else {
              val k = c.key(key)
              if (!any || k != last) { emit(c); last = k; any = true }
              if (c.advance()) {
                val next = c.key(key)
                if (next < k) throw new IllegalStateException(
                  s"${c.part.path} is not sorted by row ($next after $k)")
                heap.enqueue((next, c))
              }
            }
          }
        }
      } finally readers.foreach(_.close())
    }
  }

  /** Reads the footers of `dir`'s part files and the table schema. Throws
    * when the directory holds no part file, as Spark's schema inference
    * does.
    */
  def read(dir: String): Table = {
    val files = Option(Paths.get(dir).toFile.listFiles()).toSeq.flatten
      .filter(f => f.isFile && !hidden(f.getName) && f.getName.endsWith(".parquet"))
      .sortBy(_.getName)
    require(files.nonEmpty, s"no parquet part files in $dir")
    val parts = files.map { f =>
      val r = ParquetFileReader.open(new LocalInputFile(f.toPath), readOptions)
      try new Part(f.toPath, r.getFooter) finally r.close()
    }
    // Spark's own footer-to-schema rule (its stored schema when present,
    // else the parquet-to-Spark conversion) on the first file, as Spark
    // infers a table schema without schema merging; every field of a
    // file-source schema is nullable
    val first = ParquetFileFormat.readSchemaFromFooter(
      new Footer(new org.apache.hadoop.fs.Path(parts.head.path.toUri), parts.head.meta),
      new ParquetToSparkSchemaConverter(SQLConf.get))
    new Table(StructType(first.fields.map(f =>
      f.copy(dataType = nullable(f.dataType), nullable = true))), parts)
  }

  private def nullable(dt: DataType): DataType = dt match {
    case ArrayType(et, _) => ArrayType(nullable(et), containsNull = true)
    case other            => other
  }

  /** Reads the rows of one part file, one row group at a time. */
  private final class PartReader(val part: Part, fields: Seq[StructField]) {
    val values = new Array[Any](fields.length)
    private var reader: ParquetFileReader = null
    private var cells: Array[Cell]        = null
    private var left    = 0L
    private var done    = false
    var started         = false

    def key(i: Int): Long = values(i) match {
      case l: java.lang.Long => l.longValue()
      case other => throw new IllegalStateException(s"${part.path}: row id $other")
    }

    /** Decodes the next row into [[values]]; false at the end of the file. */
    def advance(): Boolean = {
      if (done) return false
      if (reader == null) {
        started = true
        reader = ParquetFileReader.open(new LocalInputFile(part.path), part.meta,
          readOptions, new LocalInputFile(part.path).newStream())
        reader.setRequestedSchema(
          fields.flatMap(f => leaf(f).map(_._1)).map(part.schema.getColumnDescription).asJava)
      }
      while (left == 0) {
        val pages = reader.readNextRowGroup()
        if (pages == null) { close(); return false }
        val store = new ColumnReadStoreImpl(pages, new NoOpGroup(part.schema), part.schema,
          part.meta.getFileMetaData.getCreatedBy)
        cells = fields.map(f => cell(f, store)).toArray
        left = pages.getRowCount
      }
      var i = 0
      while (i < cells.length) { values(i) = cells(i).next(); i += 1 }
      left -= 1
      true
    }

    def close(): Unit = {
      done = true
      if (reader != null) { reader.close(); reader = null }
    }

    /** the leaf column path of `f` in this file and the nodes down to it */
    private def leaf(f: StructField): Option[(Array[String], Seq[Type])] =
      if (!part.schema.containsField(f.name)) None
      else {
        var t: Type = part.schema.getType(part.schema.getFieldIndex(f.name))
        val nodes = mutable.ArrayBuffer(t)
        while (!t.isPrimitive) {
          val g: GroupType = t.asGroupType
          if (g.getFieldCount != 1) throw new UnsupportedOperationException(
            s"${part.path}: nested column ${f.name}")
          t = g.getType(0)
          nodes += t
        }
        Some((nodes.map(_.getName).toArray, nodes.toSeq))
      }

    private def cell(f: StructField, store: ColumnReadStoreImpl): Cell = leaf(f) match {
      case None => NullCell // a column this file lacks reads as null, as in Spark
      case Some((path, nodes)) =>
        val desc = part.schema.getColumnDescription(path)
        val cr   = store.getColumnReader(desc)
        val prim = nodes.last.asPrimitiveType.getPrimitiveTypeName
        // definition level reached at each node along the path
        val defs = nodes.scanLeft(0)((d, n) =>
          if (n.isRepetition(Type.Repetition.REQUIRED)) d else d + 1).tail
        (f.dataType, desc.getMaxRepetitionLevel) match {
          case (ArrayType(et, _), 1) =>
            val rep = nodes.indexWhere(_.isRepetition(Type.Repetition.REPEATED))
            new ListCell(cr, defs.head, defs(rep), desc.getMaxDefinitionLevel,
              value(et, prim, f.name))
          case (dt, 0) if nodes.size == 1 =>
            new FlatCell(cr, desc.getMaxDefinitionLevel, value(dt, prim, f.name))
          case (dt, _) => throw new UnsupportedOperationException(
            s"${part.path}: column ${f.name} of $dt")
        }
    }
  }

  /** Decoder of one stored value under the Spark type the table gives it. */
  private def value(dt: DataType, prim: PrimitiveTypeName, name: String)
      : ColumnReader => Any = (dt, prim) match {
    case (BooleanType, PrimitiveTypeName.BOOLEAN) => _.getBoolean
    case (ByteType, PrimitiveTypeName.INT32)      => _.getInteger.toByte
    case (ShortType, PrimitiveTypeName.INT32)     => _.getInteger.toShort
    case (IntegerType, PrimitiveTypeName.INT32)   => _.getInteger
    case (LongType, PrimitiveTypeName.INT64)      => _.getLong
    case (FloatType, PrimitiveTypeName.FLOAT)     => _.getFloat
    case (DoubleType, PrimitiveTypeName.DOUBLE)   => _.getDouble
    case (_: StringType, PrimitiveTypeName.BINARY) => _.getBinary.toStringUsingUTF8
    case _ => throw new UnsupportedOperationException(
      s"column $name: $dt stored as $prim")
  }

  /** One record's value of one column, read from its column reader. */
  private sealed trait Cell { def next(): Any }

  private object NullCell extends Cell { def next(): Any = null }

  private final class FlatCell(cr: ColumnReader, maxDef: Int, get: ColumnReader => Any)
      extends Cell {
    def next(): Any = {
      val v = if (cr.getCurrentDefinitionLevel < maxDef) null else get(cr)
      cr.consume()
      v
    }
  }

  /** A one-level list: below `nullDef` the list is null, below `elemDef`
    * it is empty, below `maxDef` the element is null; repetition level 0
    * starts the next record.
    */
  private final class ListCell(cr: ColumnReader, nullDef: Int, elemDef: Int, maxDef: Int,
      get: ColumnReader => Any) extends Cell {
    // exact here: no row group is filtered, so every value is read
    @annotation.nowarn("cat=deprecation")
    private val total = cr.getTotalValueCount
    private var read  = 0L
    private def take(): Unit = { cr.consume(); read += 1 }
    def next(): Any = {
      val d0 = cr.getCurrentDefinitionLevel
      if (d0 < nullDef) { take(); null }
      else if (d0 < elemDef) { take(); Seq.empty }
      else {
        val b = mutable.ArrayBuffer.empty[Any]
        var more = true
        while (more) {
          b += (if (cr.getCurrentDefinitionLevel < maxDef) null else get(cr))
          take()
          more = read < total && cr.getCurrentRepetitionLevel > 0
        }
        b.toSeq
      }
    }
  }

  /** The record converter a column store wants; values are read straight
    * from the column readers, so it never receives one.
    */
  private final class NoOpGroup(t: GroupType) extends GroupConverter {
    private val children: Array[Converter] = Array.tabulate(t.getFieldCount) { i =>
      val c = t.getType(i)
      if (c.isPrimitive) new PrimitiveConverter {} else new NoOpGroup(c.asGroupType)
    }
    def getConverter(i: Int): Converter = children(i)
    def start(): Unit = ()
    def end(): Unit   = ()
  }
}
