package graft.avro

import org.apache.avro.generic.{GenericData, GenericDatumWriter, GenericRecord}
import org.apache.avro.io.EncoderFactory

import java.io.ByteArrayOutputStream
import scala.jdk.CollectionConverters._

/** Producer-side Avro binary encoding + Confluent framing — the inverse
  * of [[AvroDecode]] / [[graft.functions.ConfluentWire]]. Used to
  * synthesize CDC feeds (fixtures, demos, backfills) byte-identical to
  * what a Debezium + Schema Registry deployment puts on Kafka.
  */
object AvroBinary {

  /** Avro-binary-encode one record (no framing). Absent map keys stay
    * at the schema's default/null.
    */
  def encode(schemaJson: String, values: Map[String, Any]): Array[Byte] = {
    val schema = AvroSchemas.parse(schemaJson)
    val rec: GenericRecord = new GenericData.Record(schema)
    schema.getFields.asScala.foreach { f =>
      values.get(f.name).foreach(v => rec.put(f.name, v))
    }
    val out = new ByteArrayOutputStream()
    val encoder = EncoderFactory.get().binaryEncoder(out, null)
    new GenericDatumWriter[GenericRecord](schema).write(rec, encoder)
    encoder.flush()
    out.toByteArray
  }

  /** Confluent wire envelope: 0x00 magic + 4-byte big-endian schema id
    * + Avro payload (public Confluent wire format).
    */
  def confluentFrame(schemaId: Int, payload: Array[Byte]): Array[Byte] =
    Array[Byte](
      0x00,
      ((schemaId >> 24) & 0xff).toByte,
      ((schemaId >> 16) & 0xff).toByte,
      ((schemaId >> 8) & 0xff).toByte,
      (schemaId & 0xff).toByte) ++ payload

  /** Framed Confluent message for a schema id + record values. */
  def confluentMessage(schemaId: Int, schemaJson: String, values: Map[String, Any]): Array[Byte] =
    confluentFrame(schemaId, encode(schemaJson, values))
}
