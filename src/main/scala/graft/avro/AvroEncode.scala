package graft.avro

import org.apache.avro.Schema
import org.apache.avro.generic.GenericDatumWriter
import org.apache.avro.io.{BinaryEncoder, EncoderFactory}
import org.apache.spark.sql.{Column, GraftColumnShim}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types._

import java.io.ByteArrayOutputStream

/** Native Catalyst expression encoding a Catalyst struct -> Avro binary
  * (`to_avro` parity). The built-in TO_AVRO, like FROM_AVRO, needs the
  * absent spark-avro module for its expression (`CatalystDataToAvro`);
  * the value converter is Spark's own `AvroSerializer`, which ships
  * inside spark-sql. Inverse of [[AvroDecode]]; used for in-plan
  * production of CDC feeds (fixtures, backfills, Kafka-bound writes on
  * clusters with the connector).
  *
  * The input struct's fields are matched to the Avro record's fields BY
  * POSITION (the struct should be built from the same schema, e.g. via
  * [[AvroSchemas.toStructType]]).
  *
  * Participates in whole-stage codegen like [[AvroDecode]]: the encode
  * is one JVM call on a referenced expression object, so fixture/
  * backfill projections around it stay fused.
  */
case class AvroEncode(child: Expression, schemaJson: String)
    extends UnaryExpression {

  @transient private lazy val avroSchema: Schema = AvroSchemas.parse(schemaJson)
  @transient private lazy val serialize =
    GraftColumnShim.avroSerializer(child.dataType, avroSchema, child.nullable)
  @transient private lazy val writer = new GenericDatumWriter[Any](avroSchema)
  @transient private lazy val out = new ByteArrayOutputStream()
  @transient private var encoder: BinaryEncoder = _

  override def dataType: DataType = BinaryType
  override def nullable: Boolean = child.nullable

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case _: StructType => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"avro_encode requires a struct input, got ${other.catalogString}")
    }

  override def nullSafeEval(input: Any): Any =
    encodeRow(input.asInstanceOf[InternalRow])

  /** public: called from generated code via an expression reference */
  private[graft] def encodeRow(row: InternalRow): Array[Byte] = {
    out.reset()
    encoder = EncoderFactory.get().binaryEncoder(out, encoder)
    writer.write(serialize(row), encoder)
    encoder.flush()
    out.toByteArray
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("avroEncodeExpr", this, classOf[AvroEncode].getName)
    defineCodeGen(ctx, ev, c => s"$self.encodeRow($c)")
  }

  override def prettyName: String = "avro_encode"

  override protected def withNewChildInternal(newChild: Expression): AvroEncode =
    copy(child = newChild)
}

object AvroEncode {

  /** `to_avro` equivalent over graft's native encoder. */
  def toAvroColumn(data: Column, schemaJson: String): Column =
    GraftColumnShim.column(AvroEncode(GraftColumnShim.expression(data), schemaJson))
}
