package graft.avro

import org.apache.avro.Schema
import org.apache.avro.generic.GenericDatumReader
import org.apache.avro.io.{BinaryDecoder, DecoderFactory}
import org.apache.spark.sql.{Column, GraftColumnShim}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode}
import org.apache.spark.sql.types._

import scala.util.control.NonFatal

/** Native Catalyst expression decoding Avro binary -> Catalyst struct.
  *
  * The reference relies on PySpark's `from_avro` with FAILFAST
  * (reference: stream.py:26-37,86). Spark 4's built-in FROM_AVRO SQL
  * function needs the external spark-avro module for its expression
  * (`AvroDataToCatalyst`), which is not on this classpath. The value
  * converters ship inside spark-sql, so this expression does what
  * `AvroDataToCatalyst` does: `GenericDatumReader` into a reused record,
  * then Spark's own `AvroDeserializer` to the type
  * `SchemaConverters.toSqlType` derives ([[AvroSchemas.toDataType]]).
  * Type and values come from one mapping.
  *
  * Per-partition state (reader, decoder, record) is reused across rows,
  * and the expression participates in whole-stage codegen (the decode is
  * one JVM call on a referenced expression object — a CodegenFallback
  * here would eject the per-record hot loop of the entire CDC path
  * from generated code; same rationale as
  * [[graft.functions.MinHashSignature]]).
  *
  * FAILFAST parity: a malformed payload throws (like the reference's
  * `{"mode": "FAILFAST"}`); with `failFast = false` it yields null
  * (PERMISSIVE).
  */
case class AvroDecode(child: Expression, schemaJson: String, failFast: Boolean)
    extends UnaryExpression {

  @transient private lazy val avroSchema: Schema = AvroSchemas.parse(schemaJson)
  @transient private lazy val reader = new GenericDatumReader[Any](avroSchema)
  @transient private lazy val deserialize = GraftColumnShim.avroDeserializer(avroSchema, dataType)
  @transient private var decoder: BinaryDecoder = _
  @transient private var record: Any = _

  override lazy val dataType: DataType = AvroSchemas.toDataType(avroSchema)
  override def nullable: Boolean = true

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == BinaryType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"avro_decode requires a binary input, got ${child.dataType.catalogString}")

  override def nullSafeEval(input: Any): Any =
    decodeBytes(input.asInstanceOf[Array[Byte]])

  /** public: called from generated code via an expression reference.
    * Returns null for a malformed payload in PERMISSIVE mode.
    */
  private[graft] def decodeBytes(bytes: Array[Byte]): Any =
    try {
      decoder = DecoderFactory.get().binaryDecoder(bytes, 0, bytes.length, decoder)
      record = reader.read(record, decoder)
      deserialize(record).get
    } catch {
      case NonFatal(e) =>
        if (failFast)
          throw new IllegalArgumentException(
            s"Malformed Avro record for schema ${avroSchema.getFullName} (FAILFAST): ${e.getMessage}", e)
        else null
    }

  /** Real whole-stage codegen: the decode stays a single call on the
    * referenced expression object while the surrounding projection
    * (wire-envelope slicing, struct expansion, casts) remains fused in
    * the generated stage. PERMISSIVE nulls flow through `isNull`.
    */
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("avroDecodeExpr", this, classOf[AvroDecode].getName)
    nullSafeCodeGen(ctx, ev, c => {
      val decoded = ctx.freshName("decoded")
      s"""
         |Object $decoded = $self.decodeBytes($c);
         |if ($decoded == null) {
         |  ${ev.isNull} = true;
         |} else {
         |  ${ev.value} = (${CodeGenerator.boxedType(dataType)}) $decoded;
         |}
       """.stripMargin
    })
  }

  override def prettyName: String = "avro_decode"

  override protected def withNewChildInternal(newChild: Expression): AvroDecode =
    copy(child = newChild)
}

object AvroDecode {

  /** `from_avro` equivalent over graft's native decoder. */
  def fromAvro(data: Column, schemaJson: String, failFast: Boolean = true): Column =
    GraftColumnShim.column(AvroDecode(GraftColumnShim.expression(data), schemaJson, failFast))
}
