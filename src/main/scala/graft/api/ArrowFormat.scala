package graft.api

import scala.jdk.CollectionConverters._

import org.apache.arrow.memory.RootAllocator
import org.apache.arrow.vector._
import org.apache.arrow.vector.ipc.{ArrowStreamReader, ArrowStreamWriter}
import org.apache.arrow.vector.types.FloatingPointPrecision
import org.apache.arrow.vector.types.pojo.{ArrowType, Field, FieldType, Schema}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._

/** `output_type=apache-arrow` — the reference streams a result set as ONE
  * Arrow IPC stream whose schema carries the hit count as custom metadata
  * `GROONGA:n_hits` (lib/output.c:2125-2136, writer plumbing
  * lib/arrow.cpp:2076-2090); mime type
  * application/x-apache-arrow-streaming (lib/arrow.cpp:1372). Spark ships
  * arrow-vector on its classpath, so this is the SAME public library the
  * reference links — no new dependency.
  *
  * [[arrow]] writes the rows column-at-a-time into a VectorSchemaRoot and
  * emits a single record batch (pages are bounded by the command's
  * offset/limit like every CommandFormat body). [[arrowRead]] is the
  * exact inverse, used by the spec round-trips and the `arrow_cmd` gate
  * (which emits DECODED rows so DuckDB checks every value that crossed
  * the IPC bytes). */
object ArrowFormat {

  private def arrowType(dt: DataType): ArrowType = dt match {
    case LongType => new ArrowType.Int(64, true)
    case IntegerType => new ArrowType.Int(32, true)
    case ShortType => new ArrowType.Int(16, true)
    case DoubleType => new ArrowType.FloatingPoint(FloatingPointPrecision.DOUBLE)
    case FloatType => new ArrowType.FloatingPoint(FloatingPointPrecision.SINGLE)
    case BooleanType => ArrowType.Bool.INSTANCE
    case BinaryType => ArrowType.Binary.INSTANCE
    case _ => ArrowType.Utf8.INSTANCE // strings + anything else via text
  }

  def arrow(df: DataFrame, nHits: Long,
      maxRows: Int = CommandFormat.ResultSet.MaxRows): Array[Byte] =
    arrow(CommandFormat.ResultSet.of(df, maxRows), nHits)

  def arrow(rs: CommandFormat.ResultSet, nHits: Long): Array[Byte] = {
    val rows = rs.rows.toIndexedSeq
    val sparkFields = rs.schema.fields
    val fields = sparkFields.map { f =>
      new Field(f.name, FieldType.nullable(arrowType(f.dataType)), null)
    }
    val schema = new Schema(fields.toSeq.asJava,
      Map("GROONGA:n_hits" -> nHits.toString).asJava)
    val alloc = new RootAllocator(Long.MaxValue)
    try {
      val root = VectorSchemaRoot.create(schema, alloc)
      try {
        root.allocateNew()
        var c = 0
        while (c < sparkFields.length) {
          val vec = root.getVector(c)
          val dt = sparkFields(c).dataType
          var i = 0
          while (i < rows.length) {
            val v = rows(i).get(c)
            if (v == null) vec.asInstanceOf[FieldVector] match {
              case fv: BaseFixedWidthVector => fv.setNull(i)
              case fv: BaseVariableWidthVector => fv.setNull(i)
              case fv => fv.setNull(i)
            }
            else (vec, dt) match {
              case (x: BigIntVector, _) => x.setSafe(i, v.asInstanceOf[Long])
              case (x: IntVector, _) => x.setSafe(i, v.asInstanceOf[Int])
              case (x: SmallIntVector, _) => x.setSafe(i, v.asInstanceOf[Short])
              case (x: Float8Vector, _) => x.setSafe(i, v.asInstanceOf[Double])
              case (x: Float4Vector, _) => x.setSafe(i, v.asInstanceOf[Float])
              case (x: BitVector, _) => x.setSafe(i, if (v.asInstanceOf[Boolean]) 1 else 0)
              case (x: VarBinaryVector, _) => x.setSafe(i, v.asInstanceOf[Array[Byte]])
              case (x: VarCharVector, StringType) =>
                x.setSafe(i, v.asInstanceOf[String].getBytes("UTF-8"))
              case (x: VarCharVector, _) => // non-scalar columns render as text
                x.setSafe(i, String.valueOf(v).getBytes("UTF-8"))
              case other => throw new IllegalArgumentException(
                s"arrow: unsupported vector/type pair $other")
            }
            i += 1
          }
          vec.setValueCount(rows.length)
          c += 1
        }
        root.setRowCount(rows.length)
        val out = new java.io.ByteArrayOutputStream(4096)
        val w = new ArrowStreamWriter(root, null, out)
        try { w.start(); w.writeBatch(); w.end() } finally w.close()
        out.toByteArray
      } finally root.close()
    } finally alloc.close()
  }

  /** exact inverse: (n_hits from GROONGA:n_hits, column names, rows) */
  def arrowRead(bytes: Array[Byte]): (Long, Seq[String], Vector[Vector[Any]]) = {
    val alloc = new RootAllocator(Long.MaxValue)
    try {
      val reader = new ArrowStreamReader(
        new java.io.ByteArrayInputStream(bytes), alloc)
      try {
        val root = reader.getVectorSchemaRoot
        val schema = root.getSchema
        val nHits = Option(schema.getCustomMetadata.get("GROONGA:n_hits"))
          .map(_.toLong).getOrElse(-1L)
        val names = schema.getFields.asScala.map(_.getName).toSeq
        val rows = Vector.newBuilder[Vector[Any]]
        while (reader.loadNextBatch()) {
          var i = 0
          while (i < root.getRowCount) {
            rows += names.indices.map { c =>
              val vec = root.getVector(c)
              if (vec.isNull(i)) null
              else vec match {
                case x: BigIntVector => x.get(i)
                case x: IntVector => x.get(i)
                case x: SmallIntVector => x.get(i)
                case x: Float8Vector => x.get(i)
                case x: Float4Vector => x.get(i)
                case x: BitVector => x.get(i) == 1
                case x: VarBinaryVector => x.get(i)
                case x: VarCharVector => new String(x.get(i), "UTF-8")
                case other => throw new IllegalArgumentException(
                  s"arrow: unsupported vector ${other.getClass.getName}")
              }
            }.toVector
            i += 1
          }
        }
        (nHits, names, rows.result())
      } finally reader.close()
    } finally alloc.close()
  }
}
