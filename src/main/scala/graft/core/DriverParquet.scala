package graft.core

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.{ExampleParquetWriter, GroupWriteSupport}
import org.apache.parquet.io.api.Binary
import org.apache.parquet.schema.{LogicalTypeAnnotation, MessageType, Type, Types}
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

/** The driver-side parquet writer/READER for every index and record
  * MANIFEST file (flat schema + one-level min/max stat structs). All
  * manifest IO runs here, on the driver, with no Spark job: manifest
  * rows are already on the driver when a commit assembles its patch,
  * and planning, DML metadata passes, maintenance and GC read them back
  * through [[ManifestIO.readIndexManifestRowsDriver]] (plans via its
  * process-wide cache). Data files still go through distributed Spark
  * reads/writes — this path is metadata-only. */
object DriverParquet {

  /** Read a manifest file back as Rows of `schema` — the exact inverse
    * of [[write]] (primitives + one-level structs; a column missing
    * from the file, e.g. written before a stats field was added, reads
    * as null). */
  def read(conf: Configuration, absPath: String, schema: StructType): Seq[Row] = {
    val c = new Configuration(conf)
    // the requested projection must be a SUBTREE of the FILE's schema
    // (parquet-mr checkContains is strict about repetition and
    // physical type) — so request the file's OWN types for each wanted
    // top-level name and coerce values to the wanted Spark types while
    // building rows (a stat struct written before a type widening
    // holds int32 where the current schema says int64). Absent columns
    // surface as nulls.
    val path = new Path(absPath)
    val footer = org.apache.parquet.hadoop.ParquetFileReader.readFooter(
      c, path, org.apache.parquet.format.converter.ParquetMetadataConverter.NO_FILTER)
    val fileSchema = footer.getFileMetaData.getSchema
    val presentFields: Array[Type] = schema.fields
      .filter(f => fileSchema.containsField(f.name))
      .map(f => fileSchema.getType(fileSchema.getFieldIndex(f.name)))
    val present = new MessageType(fileSchema.getName, presentFields: _*)
    c.set(org.apache.parquet.hadoop.api.ReadSupport.PARQUET_READ_SCHEMA,
      present.toString)
    val reader = org.apache.parquet.hadoop.ParquetReader
      .builder(new org.apache.parquet.hadoop.example.GroupReadSupport(), path)
      .withConf(c).build()
    val out = Seq.newBuilder[Row]
    try {
      var g = reader.read()
      while (g != null) {
        out += groupToRow(g, schema)
        g = reader.read()
      }
    } finally reader.close()
    out.result()
  }

  private def groupToRow(
      g: org.apache.parquet.example.data.Group,
      schema: StructType): Row = {
    val fileFields = g.getType.asGroupType()
    Row.fromSeq(schema.fields.toSeq.map { f =>
      if (!fileFields.containsField(f.name) || g.getFieldRepetitionCount(f.name) == 0) null
      else f.dataType match {
        case s: StructType => groupToRow(g.getGroup(f.name, 0), s)
        case dt => readPrimitive(g, f.name, dt)
      }
    })
  }

  /** Read by the FILE's physical type, coerce to the wanted Spark type
    * (lossless numeric widening only — the shapes schema evolution can
    * leave behind in old manifests). */
  private def readPrimitive(g: org.apache.parquet.example.data.Group,
      name: String, dt: DataType): Any = {
    val pt = g.getType.asGroupType().getType(name).asPrimitiveType().getPrimitiveTypeName
    val raw: Any = pt match {
      case PrimitiveTypeName.BINARY => g.getString(name, 0)
      case PrimitiveTypeName.INT64 => g.getLong(name, 0)
      case PrimitiveTypeName.INT32 => g.getInteger(name, 0)
      case PrimitiveTypeName.DOUBLE => g.getDouble(name, 0)
      case PrimitiveTypeName.FLOAT => g.getFloat(name, 0)
      case PrimitiveTypeName.BOOLEAN => g.getBoolean(name, 0)
      case other => throw new IllegalArgumentException(s"manifest type unsupported: $other")
    }
    (raw, dt) match {
      case (x: Int, LongType) => x.toLong
      case (x: Int, DoubleType) => x.toDouble
      case (x: Long, DoubleType) => x.toDouble
      case (x: Float, DoubleType) => x.toDouble
      case (x, _) => x
    }
  }

  def write(conf: Configuration, absPath: String, schema: StructType, rows: Seq[Row]): Unit = {
    val message = toMessageType(schema)
    val c = new Configuration(conf)
    GroupWriteSupport.setSchema(message, c)
    val writer = ExampleParquetWriter.builder(new Path(absPath))
      .withConf(c).withType(message).build()
    val factory = new SimpleGroupFactory(message)
    try {
      rows.foreach { row =>
        val g = factory.newGroup()
        schema.fields.zipWithIndex.foreach { case (f, i) =>
          if (!row.isNullAt(i)) f.dataType match {
            case s: StructType =>
              val sub = g.addGroup(f.name)
              val inner = row.getStruct(i)
              s.fields.zipWithIndex.foreach { case (sf, j) =>
                if (!inner.isNullAt(j)) appendPrimitive(sub, sf.name, sf.dataType, inner.get(j))
              }
            case dt => appendPrimitive(g, f.name, dt, row.get(i))
          }
        }
        writer.write(g)
      }
    } finally writer.close()
  }

  private def appendPrimitive(g: org.apache.parquet.example.data.Group,
      name: String, dt: DataType, v: Any): Unit = dt match {
    case StringType => g.append(name, Binary.fromString(v.asInstanceOf[String]))
    case LongType => g.append(name, v.asInstanceOf[Long])
    case IntegerType => g.append(name, v.asInstanceOf[Int])
    case DoubleType => g.append(name, v.asInstanceOf[Double])
    case FloatType => g.append(name, v.asInstanceOf[Float])
    case BooleanType => g.append(name, v.asInstanceOf[Boolean])
    case other => throw new IllegalArgumentException(s"manifest type unsupported: $other")
  }

  private def toMessageType(schema: StructType): MessageType = {
    val b = Types.buildMessage()
    schema.fields.foreach(f => b.addField(toField(f)))
    b.named("graft_manifest")
  }

  private def toField(f: StructField): Type = f.dataType match {
    case s: StructType =>
      val gb = Types.optionalGroup()
      s.fields.foreach(sf => gb.addField(toField(sf)))
      gb.named(f.name)
    case dt =>
      val rep = if (f.nullable) Type.Repetition.OPTIONAL else Type.Repetition.REQUIRED
      dt match {
        case StringType => Types.primitive(PrimitiveTypeName.BINARY, rep)
          .as(LogicalTypeAnnotation.stringType()).named(f.name)
        case LongType => Types.primitive(PrimitiveTypeName.INT64, rep).named(f.name)
        case IntegerType => Types.primitive(PrimitiveTypeName.INT32, rep).named(f.name)
        case DoubleType => Types.primitive(PrimitiveTypeName.DOUBLE, rep).named(f.name)
        case FloatType => Types.primitive(PrimitiveTypeName.FLOAT, rep).named(f.name)
        case BooleanType => Types.primitive(PrimitiveTypeName.BOOLEAN, rep).named(f.name)
        case other => throw new IllegalArgumentException(s"manifest type unsupported: $other")
      }
  }
}
