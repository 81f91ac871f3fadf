package org.apache.spark.sql

import org.apache.avro.Schema
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.internal.LegacyBehaviorPolicy
import org.apache.spark.sql.types.DataType

/** Bridge between graft's custom Catalyst `Expression`s and the public
  * `Column` API. Spark 4 made the Column <-> Expression converters
  * `private[sql]` (`classic.ExpressionUtils`); this shim re-exports the
  * two conversions — the standard technique for libraries that ship
  * native expressions without forking Spark.
  *
  * It also re-exports Spark's `private[sql]` Avro value converters, the
  * ones behind `from_avro`/`to_avro`, as plain functions for
  * [[graft.avro.AvroDecode]] and [[graft.avro.AvroEncode]].
  */
object GraftColumnShim {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** Avro generic datum -> Catalyst value of `dataType`. The union and
    * recursion settings are the ones `SchemaConverters.toSqlType(schema)`
    * uses, so the values match the type it derives.
    */
  def avroDeserializer(schema: Schema, dataType: DataType): Any => Option[Any] =
    new avro.AvroDeserializer(schema, dataType, "CORRECTED", false, "", -1).deserialize

  /** Catalyst value of `dataType` -> Avro generic datum; struct fields
    * match the record's fields by position.
    */
  def avroSerializer(dataType: DataType, schema: Schema, nullable: Boolean): Any => Any =
    new avro.AvroSerializer(dataType, schema, nullable, true, LegacyBehaviorPolicy.CORRECTED).serialize
}
