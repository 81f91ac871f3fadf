package graft

import graft.avro.{AvroBinary, AvroDecode, AvroEncode, AvroSchemas}

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

class AvroEncodeSpec extends SparkSpec {
  import spark.implicits._

  private val richSchema =
    """{"type":"record","name":"rich","fields":[
      |{"name":"id","type":"long"},
      |{"name":"name","type":["null","string"],"default":null},
      |{"name":"scores","type":{"type":"array","items":"double"}},
      |{"name":"tags","type":{"type":"map","values":"string"}},
      |{"name":"day","type":{"type":"int","logicalType":"date"}},
      |{"name":"seen_ms","type":["null",{"type":"long","logicalType":"timestamp-millis"}],"default":null},
      |{"name":"seen_us","type":{"type":"long","logicalType":"timestamp-micros"}},
      |{"name":"digest","type":{"type":"fixed","name":"digest4","size":4}},
      |{"name":"color","type":{"type":"enum","name":"color","symbols":["RED","GREEN"]}},
      |{"name":"amount","type":{"type":"bytes","logicalType":"decimal","precision":12,"scale":2}},
      |{"name":"price","type":{"type":"fixed","name":"price8","size":8,"logicalType":"decimal","precision":12,"scale":2}},
      |{"name":"choice","type":["null","int","string"],"default":null}
      |]}""".stripMargin

  /** cdc_steady's `accounts` value schema (perfbench/scala/graft/perfbench/Cdc.scala). */
  private val accountsSchema =
    """{"type":"record","name":"accounts","fields":[
      |{"name":"id","type":"long"},
      |{"name":"name","type":["null","string"],"default":null},
      |{"name":"amount","type":{"type":"bytes","logicalType":"decimal","precision":12,"scale":2}},
      |{"name":"qty","type":"int"},
      |{"name":"updated_at","type":["null",{"type":"string","connect.name":"io.debezium.time.ZonedTimestamp"}],"default":null},
      |{"name":"__deleted","type":["null","string"],"default":null},
      |{"name":"__timestamp","type":"long"},
      |{"name":"__log_sequence_number","type":"long"}
      |]}""".stripMargin

  private def rows(schemaJson: String, values: Row*): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(values), AvroSchemas.toStructType(schemaJson))

  private def encode(df: DataFrame, schemaJson: String): DataFrame =
    df.select(AvroEncode.toAvroColumn(struct(df.columns.map(col).toIndexedSeq: _*), schemaJson).as("bin"))

  test("AvroEncode -> AvroDecode round-trips the full type lattice") {
    val ts = (s: String) => java.sql.Timestamp.from(java.time.Instant.parse(s))
    val in = rows(richSchema,
      Row(1L, "alice", Seq(1.5, 2.5), Map("a" -> "x"), java.sql.Date.valueOf("2024-09-02"),
        ts("2024-09-02T10:11:12.345Z"), ts("2024-09-02T10:11:12.345678Z"), Array[Byte](1, 2, 3, 4),
        "GREEN", new java.math.BigDecimal("1234.56"), new java.math.BigDecimal("-0.01"), Row(7, null)),
      Row(2L, null, Seq.empty[Double], Map.empty[String, String], java.sql.Date.valueOf("1999-12-31"),
        null, ts("1969-12-31T23:59:59.999999Z"), Array[Byte](0, 0, 0, 0),
        "RED", new java.math.BigDecimal("0.00"), new java.math.BigDecimal("9999999999.99"), Row(null, "b")),
      Row(3L, "carol", Seq(0.0), Map("k" -> "v", "w" -> ""), java.sql.Date.valueOf("1970-01-01"),
        ts("1970-01-01T00:00:00Z"), ts("2038-01-19T03:14:08Z"), Array[Byte](-1, 127, -128, 0),
        "RED", new java.math.BigDecimal("-9999999999.99"), new java.math.BigDecimal("0.10"), null))
    val encoded = encode(in, richSchema)
    assert(encoded.schema("bin").dataType == BinaryType)
    val back = encoded
      .select(AvroDecode.fromAvro(col("bin"), richSchema).as("v"))
      .select(col("v.*"))
    // a general union decodes to its declared struct, one member per branch
    assert(back.schema("choice").dataType ==
      StructType(Seq(StructField("member0", IntegerType), StructField("member1", StringType))))
    assert(back.schema.map(f => f.name -> f.dataType) == in.schema.map(f => f.name -> f.dataType))
    assert(back.orderBy(col("id")).collect().toSeq == in.orderBy(col("id")).collect().toSeq)
  }

  test("AvroEncode bytes decode with the plain Java Avro reader (wire compat)") {
    val bytes = Seq(Tuple1(5L)).toDF("id")
      .select(AvroEncode.toAvroColumn(struct(col("id")),
        """{"type":"record","name":"k","fields":[{"name":"id","type":"long"}]}""").as("b"))
      .collect().head.getAs[Array[Byte]](0)
    val schema = AvroSchemas.parse(
      """{"type":"record","name":"k","fields":[{"name":"id","type":"long"}]}""")
    val reader = new org.apache.avro.generic.GenericDatumReader[org.apache.avro.generic.GenericRecord](schema)
    val rec = reader.read(null, org.apache.avro.io.DecoderFactory.get().binaryDecoder(bytes, null))
    assert(rec.get("id") == 5L)

    // cdc_steady's value rows: byte-for-byte what GenericDatumWriter writes
    val amountSchema = AvroSchemas.parse(accountsSchema).getField("amount").schema()
    val amount = (s: String) => new org.apache.avro.Conversions.DecimalConversion()
      .toBytes(new java.math.BigDecimal(s), amountSchema, amountSchema.getLogicalType)
    val values = Seq(
      Map[String, Any]("id" -> 42L, "name" -> "user-17", "amount" -> "1234.56", "qty" -> 3,
        "updated_at" -> "2023-11-14T22:13:20.000123Z", "__deleted" -> "false",
        "__timestamp" -> 1700000000000L, "__log_sequence_number" -> 1000000L),
      Map[String, Any]("id" -> 7L, "name" -> null, "amount" -> "-0.05", "qty" -> 0,
        "updated_at" -> null, "__deleted" -> "true",
        "__timestamp" -> 1700000000001L, "__log_sequence_number" -> 1000001L))
    val fields = AvroSchemas.fieldNames(accountsSchema)
    val encoded = encode(rows(accountsSchema, values.map(v => Row.fromSeq(fields.map {
      case "amount" => new java.math.BigDecimal(v("amount").toString)
      case f => v(f)
    })): _*), accountsSchema).collect().map(_.getAs[Array[Byte]](0)).toSeq
    val written = values.map(v => AvroBinary.encode(accountsSchema, v.map {
      case ("amount", a) => "amount" -> amount(a.toString)
      case kv => kv
    }))
    assert(encoded.map(_.toSeq) == written.map(_.toSeq))
  }

  test("SQL avro_encode round trip") {
    GraftFunctions.registerAll(spark)
    val ks = AvroTestData.usersKeySchema
    Seq(Tuple1(11)).toDF("id").createOrReplaceTempView("enc_in")
    val r = spark.sql(
      s"SELECT avro_decode(avro_encode(struct(id), '$ks'), '$ks').id AS id FROM enc_in")
      .collect().head
    assert(r.getInt(0) == 11)
  }
}
