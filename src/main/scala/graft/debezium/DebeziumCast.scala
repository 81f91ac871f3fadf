package graft.debezium

import graft.avro.AvroSchemas

import org.apache.avro.Schema
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.TimestampType

import scala.jdk.CollectionConverters._

/** Debezium semantic-type casting (reference: utils.py:61-103).
  *
  * Debezium emits `io.debezium.time.ZonedTimestamp` columns as ISO-8601
  * strings; they are cast to Spark TimestampType. This is deliberately
  * the ONLY special-cased Debezium semantic type, matching the
  * reference (`ZonedTime` is left as string — utils.py:75).
  */
object DebeziumCast {

  val ZonedTimestamp = "io.debezium.time.ZonedTimestamp"
  private val ConnectNameProp = "connect.name"

  /** One Column per top-level field of the Avro value schema, with
    * ZonedTimestamp strings cast to TimestampType.
    */
  def castColumns(valueSchemaJson: String): Seq[Column] =
    AvroSchemas.parse(valueSchemaJson).getFields.asScala.toSeq.map { f =>
      if (isZonedTimestamp(f.schema())) col(f.name).cast(TimestampType).as(f.name)
      else col(f.name)
    }

  /** True when the field type (unwrapping a `["null", T]` union) is a
    * string annotated with `connect.name = io.debezium.time.ZonedTimestamp`.
    */
  private def isZonedTimestamp(s: Schema): Boolean = {
    val t = unwrapNullable(s)
    t.getType == Schema.Type.STRING && t.getProp(ConnectNameProp) == ZonedTimestamp
  }

  private def unwrapNullable(s: Schema): Schema =
    if (s.getType == Schema.Type.UNION) {
      val branches = s.getTypes.asScala.filterNot(_.getType == Schema.Type.NULL)
      if (branches.size == 1) branches.head else s
    } else s
}
