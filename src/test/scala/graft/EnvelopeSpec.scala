package graft

import java.security.MessageDigest

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.{Expression, JsonToStructs, ScalaUDF}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.config._
import graft.operators.Envelope
import graft.sources.{ConfluentAvro, MessageSource}

class EnvelopeSpec extends SparkSpec {
  import spark.implicits._

  private def sha256(b: Array[Byte]): String =
    MessageDigest.getInstance("SHA-256").digest(b).map("%02x".format(_)).mkString

  private def sha(s: String): String = sha256(s.getBytes("UTF-8"))

  private val schema = StructType(Seq(StructField("k", LongType)))

  private def raw(values: (String, Long)*) = MessageSource.fromRows(spark,
    values.toSeq.map { case (v, off) =>
      (s"key$off".getBytes("UTF-8"),
        if (v == null) null else v.getBytes("UTF-8"),
        "t", (off % 4).toInt, off, 1700000000000L + off)
    })

  test("S4 JSON envelope: all columns, hash over raw bytes") {
    val env = Envelope.json(raw(("""{"k": 7}""", 3L)), SourceConfig(topic = "t"), schema)
    val r = env.head()
    assert(r.getAs[String]("kafka_key") == "key3")
    assert(r.getAs[Long]("kafka_timestamp") == 1700000000003L)
    assert(r.getAs[Long]("kafka_offset") == 3L)
    assert(r.getAs[Int]("kafka_partition") == 3)
    assert(r.getAs[String]("kafka_topic") == "t")
    assert(r.getAs[String]("kafka_hash") == sha("""{"k": 7}"""))
    assert(r.getAs[String]("kafka_message") == """{"k":7}""")
    assert(!r.getAs[Boolean]("kafka_error"))
    assert(r.getAs[Row]("payload").getAs[Long]("k") == 7L)
  }

  test("S4 null value -> null hash/message/payload, no error") {
    val env = Envelope.json(raw((null, 1L)), SourceConfig(topic = "t"), schema)
    val r = env.head()
    assert(r.getAs[String]("kafka_hash") == null)
    assert(r.getAs[String]("kafka_message") == null)
    assert(!r.getAs[Boolean]("kafka_error"))
  }

  test("ST5 malformed JSON -> kafka_error counted, payload/message null, row survives") {
    val env = Envelope.json(raw(("{oops", 1L), ("""{"k": 2}""", 2L)), SourceConfig(topic = "t"), schema)
    val rows = env.orderBy("kafka_offset").collect()
    assert(rows.length == 2)
    assert(rows(0).getAs[Boolean]("kafka_error"))
    assert(rows(0).getAs[String]("kafka_message") == null)
    assert(rows(0).getAs[Row]("payload") == null)
    assert(rows(0).getAs[String]("kafka_hash") == sha("{oops")) // hash still over raw bytes
    assert(!rows(1).getAs[Boolean]("kafka_error"))
  }

  test("F3 message filter nullifies kafka_message but keeps the row and payload") {
    val env = Envelope.json(raw(("""{"k": 1}""", 1L), ("""{"k": 9}""", 2L)),
      SourceConfig(topic = "t", messageFilters = Seq(MessageFilter("k", "1"))), schema)
    val rows = env.orderBy("kafka_offset").collect()
    assert(rows(0).getAs[String]("kafka_message") == """{"k":1}""")
    assert(rows(1).getAs[String]("kafka_message") == null)
    assert(rows(1).getAs[Row]("payload").getAs[Long]("k") == 9L)
  }

  test("S6 string envelope JSON-quotes the text") {
    val env = Envelope.string(raw(("hello \"you\"", 1L)), SourceConfig(topic = "t", schemaMode = SchemaMode.Str))
    val r = env.head()
    assert(r.getAs[String]("kafka_message") == "\"hello \\\"you\\\"\"")
    assert(r.getAs[String]("payload") == "hello \"you\"")
  }

  test("S6 quoting is PyJsonQuote for ALL string-mode users: lowercase control hex, not Jackson uppercase") {
    // Round 11 swapped the S6 path's quoting from Jackson (to_json-style) to
    // the native PyJsonQuote — for every caller, not just canonicalMessage
    // opt-ins. This golden makes the byte contract explicit: C0 controls
    // escape as Python's lowercase \u00xx (json.dumps), where Jackson
    // would emit uppercase ; non-ASCII and DEL stay raw.
    val env = Envelope.string(
      raw(("ctlandend ræv ", 1L)),
      SourceConfig(topic = "t", schemaMode = SchemaMode.Str))
    val msg = env.head().getAs[String]("kafka_message")
    assert(msg == "\"ctl\\u0007and\\u001fend ræv \"")
    assert(!msg.contains("\\u001F"), "uppercase hex would be Jackson, not Python")
  }

  test("S5 corrupt Avro bytes are FATAL (strict schema mode), unlike JSON's count-and-continue") {
    val schemaJson =
      """{"type":"record","name":"ev","fields":[{"name":"id","type":"long"},{"name":"name","type":"string"}]}"""
    val payloadSchema = StructType(Seq(StructField("id", LongType), StructField("name", StringType)))
    // 5-byte header + garbage datum: a long varint promising a huge string
    val bad = Array[Byte](0, 0, 0, 0, 42) ++ Array.fill(4)(0xff.toByte)
    val raw = MessageSource.fromRows(spark, Seq((null, bad, "t", 0, 1L, 1700000000000L)))
    val env = Envelope.avro(raw, SourceConfig(topic = "t", schemaMode = SchemaMode.Avro),
      schemaJson, payloadSchema)
    intercept[org.apache.spark.SparkException](env.collect())
  }

  test("S5 Confluent-Avro round trip: wire header, schema id, payload, datum hash") {
    val schemaJson =
      """{"type":"record","name":"ev","fields":[
        |{"name":"id","type":"long"},{"name":"name","type":"string"}]}""".stripMargin
    val payloadSchema = StructType(Seq(StructField("id", LongType), StructField("name", StringType)))
    val input = Seq((7L, "alpha"), (8L, "beta")).toDF("id", "name")
    val rawAvro = input.select(
      lit("k".getBytes("UTF-8")).as("key"),
      ConfluentAvro.encode(struct(col("id"), col("name")), schemaJson, 42).as("value"),
      lit("t").as("topic"), lit(0).as("partition"),
      col("id").as("offset"), lit(1700000000000L).as("timestamp"))
    val env = Envelope.avro(rawAvro, SourceConfig(topic = "t", schemaMode = SchemaMode.Avro),
      schemaJson, payloadSchema)
    val rows = env.orderBy("kafka_offset").collect()
    assert(rows(0).getAs[Int]("kafka_schema_id") == 42)
    assert(rows(0).getAs[Row]("payload").getAs[Long]("id") == 7L)
    assert(rows(0).getAs[Row]("payload").getAs[String]("name") == "alpha")
    assert(rows(0).getAs[String]("kafka_message") == """{"id":7,"name":"alpha"}""")
    assert(rows(1).getAs[Row]("payload").getAs[String]("name") == "beta")
  }

  test("S5 multi-schema dispatch: per-message writer schema, evolution nulls, unknown id -> error channel") {
    val v1 =
      """{"type":"record","name":"ev","fields":[
        |{"name":"id","type":"long"},{"name":"name","type":"string"}]}""".stripMargin
    val v2 =
      """{"type":"record","name":"ev","fields":[
        |{"name":"id","type":"long"},{"name":"name","type":"string"},
        |{"name":"extra","type":"long"}]}""".stripMargin
    val payloadSchema = StructType(Seq(
      StructField("id", LongType), StructField("name", StringType), StructField("extra", LongType)))
    val input = Seq((1L, "old", 0L), (2L, "new", 99L), (3L, "stray", 0L)).toDF("id", "name", "extra")
    val value = when(col("id") === 1, ConfluentAvro.encode(struct(col("id"), col("name")), v1, 1))
      .when(col("id") === 2, ConfluentAvro.encode(struct(col("id"), col("name"), col("extra")), v2, 2))
      .otherwise(ConfluentAvro.encode(struct(col("id"), col("name")), v1, 777)) // id 777 not registered
    val raw = input.select(
      lit("k".getBytes("UTF-8")).as("key"), value.as("value"),
      lit("t").as("topic"), lit(0).as("partition"),
      col("id").as("offset"), lit(1700000000000L).as("timestamp"))
    val env = Envelope.avroMulti(raw, SourceConfig(topic = "t", schemaMode = SchemaMode.Avro),
      Map(1 -> v1, 2 -> v2), payloadSchema)
    val rows = env.orderBy("kafka_offset").collect()
    // v1 message: decodes with its own schema; `extra` (added in v2) is NULL
    assert(rows(0).getAs[Int]("kafka_schema_id") == 1)
    assert(rows(0).getAs[Row]("payload").getAs[String]("name") == "old")
    assert(rows(0).getAs[Row]("payload").isNullAt(2))
    assert(rows(0).getAs[String]("kafka_message") == """{"id":1,"name":"old"}""")
    assert(!rows(0).getAs[Boolean]("kafka_error"))
    // v2 message: full shape
    assert(rows(1).getAs[Int]("kafka_schema_id") == 2)
    assert(rows(1).getAs[Row]("payload").getAs[Long]("extra") == 99L)
    assert(rows(1).getAs[String]("kafka_message") == """{"id":2,"name":"new","extra":99}""")
    // unregistered id: count-and-continue, not fatal
    assert(rows(2).getAs[Int]("kafka_schema_id") == 777)
    assert(rows(2).getAs[Boolean]("kafka_error"))
    assert(rows(2).isNullAt(rows(2).fieldIndex("payload")))
    assert(rows(2).isNullAt(rows(2).fieldIndex("kafka_message")))
  }

  test("S5 multi-schema dispatch: corrupt datum under a REGISTERED id -> error channel, not fatal") {
    // functions.udf consults the THREAD-active SQLConf at Column-build time;
    // make this session (with allowUntypedScalaUDF) active before building
    // encode/decode columns outside any DataFrame context.
    org.apache.spark.sql.SparkSession.setActiveSession(spark)
    val v1 =
      """{"type":"record","name":"ev","fields":[
        |{"name":"id","type":"long"},{"name":"name","type":"string"}]}""".stripMargin
    val payloadSchema = StructType(Seq(StructField("id", LongType), StructField("name", StringType)))
    // valid wire header for registered id 1, then garbage: a varint promising
    // a huge string (same corpse as the strict-mode test — but multi-schema
    // dispatch promises count-and-continue, unlike single-schema strict mode)
    val bad = Array[Byte](0, 0, 0, 0, 1) ++ Array.fill(4)(0xff.toByte)
    val ok = ConfluentAvro.encode(struct(lit(7L).as("id"), lit("fin").as("name")), v1, 1)
    val raw = spark.range(2).select(
      lit("k".getBytes("UTF-8")).as("key"),
      when(col("id") === 0, lit(bad)).otherwise(ok).as("value"),
      lit("t").as("topic"), lit(0).as("partition"),
      col("id").as("offset"), lit(1700000000000L).as("timestamp"))
    val env = Envelope.avroMulti(raw, SourceConfig(topic = "t", schemaMode = SchemaMode.Avro),
      Map(1 -> v1), payloadSchema)
    val rows = env.orderBy("kafka_offset").collect()
    assert(rows(0).getAs[Boolean]("kafka_error"))      // corrupt: flagged, job survives
    assert(rows(0).isNullAt(rows(0).fieldIndex("payload")))
    assert(!rows(1).getAs[Boolean]("kafka_error"))     // healthy sibling decodes
    assert(rows(1).getAs[Row]("payload").getAs[String]("name") == "fin")
    assert(rows(0).isNullAt(rows(0).fieldIndex("kafka_message")))
  }

  // Benchmark-shaped payload: nested structs, an array of structs and an
  // array of arrays of structs, F1 drops and F2 flags at the top level and
  // across arrays, two F3 filters — every consumer of the decoded value in
  // play, so a decoder pasted into each consumer would show up many times.
  private val nestedSchema = StructType.fromDDL(
    "id BIGINT, enum STRING, drop STRING, person STRUCT<id: BIGINT, name: STRING>, " +
      "nested STRUCT<key: STRING, k2: STRING>, items ARRAY<STRUCT<index: STRING, tag: STRING>>, " +
      "deep ARRAY<STRUCT<inner: ARRAY<STRUCT<key: STRING, other: STRING>>>>")
  private val opsCfg = SourceConfig(topic = "t", keypathSeparator = "/",
    messageFieldsFilter = Seq("drop", "deep/inner/key"),
    flagFieldConfig = Seq("nested", "items/index"),
    messageFilters = Seq(MessageFilter("enum", "A"), MessageFilter("enum", "B")))

  private val avroV1 =
    """{"type":"record","name":"ev","fields":[
      |{"name":"id","type":"long"},{"name":"name","type":"string"}]}""".stripMargin
  private val avroSchema = StructType(Seq(StructField("id", LongType), StructField("name", StringType)))

  /** Confluent wire bytes of `(id, name)` under `schemaId`, materialized so
    * the test frames hold no encoder UDF of their own.
    */
  private def avroBytes(id: Long, name: String, schemaId: Int): Array[Byte] =
    Seq((id, name)).toDF("id", "name")
      .select(ConfluentAvro.encode(struct(col("id"), col("name")), avroV1, schemaId))
      .head().getAs[Array[Byte]](0)

  /** `df` behind a scan-like leaf. Over a bare LocalRelation the optimizer
    * evaluates a decode projection itself (ConvertToLocalRelation), so
    * neither the plan nor the executors would see the decoder.
    */
  private def scanned(df: DataFrame): DataFrame = df.localCheckpoint()

  private def countInOptimizedPlan(df: DataFrame)(pf: PartialFunction[Expression, Expression]): Int =
    df.queryExecution.optimizedPlan.flatMap(_.expressions.flatMap(_.collect(pf))).size

  test("decode once: the optimized plan of every decoding envelope holds exactly one decoder") {
    val rawJson = scanned(raw(("""{"id": 1, "enum": "A"}""", 1L)))
    val fromJsons = countInOptimizedPlan(Envelope.json(rawJson, opsCfg, nestedSchema)) {
      case e: JsonToStructs => e
    }
    val rawAvro = scanned(MessageSource.fromRows(spark,
      Seq((null, avroBytes(1L, "A", 1), "t", 0, 1L, 1700000000000L))))
    val avroCfg = opsCfg.copy(schemaMode = SchemaMode.Avro, messageFieldsFilter = Seq("name"),
      flagFieldConfig = Nil, messageFilters = Seq(MessageFilter("id", "1"), MessageFilter("id", "2")))
    val udfs = (df: DataFrame) => countInOptimizedPlan(df) { case u: ScalaUDF => u }
    val single = udfs(Envelope.avro(rawAvro, avroCfg, avroV1, avroSchema))
    val multi = udfs(Envelope.avroMulti(rawAvro, avroCfg, Map(1 -> avroV1), avroSchema))
    assert((fromJsons, single, multi) == ((1, 1, 1)),
      s"decoders per row: json from_json=$fromJsons, avro decode=$single, avroMulti decode=$multi")
    // The helper column stays internal: the output schema is the envelope's.
    assert(Envelope.json(rawJson, opsCfg, nestedSchema).columns.toSeq == Seq(
      "kafka_key", "kafka_timestamp", "kafka_offset", "kafka_partition", "kafka_topic",
      "kafka_hash", "kafka_message", "kafka_error", "payload"))
  }

  test("JSON envelope over one mixed frame: valid, malformed, NULL and F3-rejected rows with F1/F2 over arrays") {
    val malformed = """{"id": 3, "enum": "A", """
    val env = Envelope.json(scanned(raw(
      ("""{"id": 1, "enum": "A", "drop": "x", "person": {"id": 10, "name": "p"},
         |"nested": {"key": "k", "k2": "v"},
         |"items": [{"index": "i", "tag": "t0"}, {"index": null, "tag": "t1"}],
         |"deep": [{"inner": [{"key": "kk", "other": "o1"}, {"other": "o2"}]}]}""".stripMargin, 1L),
      ("""{"id": 2, "enum": "B", "nested": null, "items": [], "deep": []}""", 2L),
      (malformed, 3L),
      (null, 4L),
      ("""{"id": 5, "enum": "C", "drop": "y", "items": [{"index": "x", "tag": "t"}]}""", 5L))),
      opsCfg, nestedSchema)
    val rows = env.orderBy("kafka_offset").collect()
    val messages = rows.map(_.getAs[String]("kafka_message")).toSeq
    assert(messages == Seq(
      """{"id":1,"enum":"A","person":{"id":10,"name":"p"},"nested":1,""" +
        """"items":[{"index":1,"tag":"t0"},{"index":0,"tag":"t1"}],"deep":[{"inner":[{"other":"o1"},{"other":"o2"}]}]}""",
      """{"id":2,"enum":"B","nested":0,"items":[],"deep":[]}""",
      null, null, null))
    assert(rows.map(_.getAs[Boolean]("kafka_error")).toSeq == Seq(false, false, true, false, false))
    assert(rows.map(_.isNullAt(rows(0).fieldIndex("payload"))).toSeq == Seq(false, false, true, true, false))
    assert(rows(2).getAs[String]("kafka_hash") == sha(malformed))
    assert(rows(3).getAs[String]("kafka_hash") == null)
    // The F3-rejected row keeps its payload with F1/F2 applied.
    val rejected = rows(4).getAs[Row]("payload")
    assert(rejected.getAs[Long]("id") == 5L)
    assert(!rejected.schema.fieldNames.contains("drop"))
    assert(rejected.getAs[Int]("nested") == 0)
    assert(rejected.getSeq[Row](rejected.fieldIndex("items")).map(_.getAs[Int]("index")) == Seq(1))
    val first = rows(0).getAs[Row]("payload")
    assert(first.getSeq[Row](first.fieldIndex("items")).map(_.getAs[Int]("index")) == Seq(1, 0))
  }

  test("Avro multi-schema envelope over one mixed frame: registered id, unregistered id, NULL value") {
    val good = avroBytes(1L, "a", 1)
    val stray = avroBytes(2L, "b", 777)
    val env = Envelope.avroMulti(scanned(MessageSource.fromRows(spark, Seq(
        (null, good, "t", 0, 1L, 1700000000001L),
        (null, stray, "t", 0, 2L, 1700000000002L),
        (null, null, "t", 0, 3L, 1700000000003L)))),
      SourceConfig(topic = "t", schemaMode = SchemaMode.Avro), Map(1 -> avroV1), avroSchema)
    val rows = env.orderBy("kafka_offset").collect()
    assert(rows.map(_.getAs[String]("kafka_message")).toSeq == Seq("""{"id":1,"name":"a"}""", null, null))
    assert(rows.map(_.getAs[Boolean]("kafka_error")).toSeq == Seq(false, true, false))
    assert(rows.map(_.isNullAt(rows(0).fieldIndex("payload"))).toSeq == Seq(false, true, true))
    assert(rows.map(r => Option(r.getAs[Integer]("kafka_schema_id")).map(_.toInt)).toSeq ==
      Seq(Some(1), Some(777), None))
    assert(rows(0).getAs[String]("kafka_hash") == sha256(good.drop(5)))
    assert(rows(2).getAs[String]("kafka_hash") == null)
  }
}
