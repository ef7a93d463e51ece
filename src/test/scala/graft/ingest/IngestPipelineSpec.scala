package graft.ingest

import java.nio.file.Files

import graft.SparkTestSession
import org.apache.spark.sql.Row
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

class IngestPipelineSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  // streaming tests wait in processAllAvailable for the next trigger; the
  // default 60 s ProcessingTime interval would idle each of them
  private val ShortTriggerMs = 100L

  private def newPipeline(
      pks: Map[String, Seq[String]] = Map.empty,
      partitions: Map[String, Seq[String]] = Map.empty): IngestPipeline = {
    graft.catalog.GraftLake.invalidateCaches()
    new IngestPipeline(spark, IngestConfig(
      warehouse = Files.createTempDirectory("graft-ingest").toString,
      pks = pks, partitions = partitions, triggerMs = ShortTriggerMs))
  }

  private def batchOf(records: (String, String)*) =
    records.zipWithIndex.map { case ((topic, v), i) =>
      (topic, 0, i.toLong, v.getBytes("UTF-8"))
    }.toDF("topic", "partition", "offset", "value")

  test("end-to-end slice: schemaless JSON -> auto-created table -> upsert") {
    // SURVEY §7.2 minimum slice, EndToEndIntegrationTest semantics
    val p = newPipeline(pks = Map("orders_t" -> Seq("id")))
    p.processBatch(batchOf("orders_t" -> """{"id":1,"customer":"alice"}"""), 0)
    val t1 = p.lake.read("orders_t").select("id", "customer").collect()
    assert(t1.map(_.toSeq).toSet === Set(Seq(1, "alice")))
    p.processBatch(batchOf("orders_t" -> """{"id":1,"customer":"bob"}"""), 1)
    val t2 = p.lake.read("orders_t").select("id", "customer").collect()
    assert(t2.map(_.toSeq).toSet === Set(Seq(1, "bob")), "second batch updates in place")
    assert(p.lake.read("orders_t").columns.contains("_inserted_at"))
  }

  test("schema evolution through the pipeline: new field + promotion") {
    val p = newPipeline()
    p.processBatch(batchOf("ev" -> """{"id":1,"amount":10}"""), 0)
    p.processBatch(batchOf("ev" -> """{"id":2,"amount":10.5,"note":"hi"}"""), 1)
    val meta = p.lake.readMeta("ev")
    assert(meta.schema("amount").dataType === DoubleType)
    assert(meta.schema("note").dataType === StringType)
    assert(p.lake.read("ev").count() === 2)
  }

  test("timestamp sniffing with ID-suffix guard flows to landed types") {
    val p = newPipeline()
    p.processBatch(batchOf(
      "t" -> """{"created_at":"2024-03-01T12:00:00Z","distinct_id":"2024-03-01T12:00:00Z"}"""), 0)
    val meta = p.lake.readMeta("t")
    assert(meta.schema("created_at").dataType === TimestampType)
    assert(meta.schema("distinct_id").dataType === StringType)
  }

  test("DLQ triage: conflicting record quarantined, rest land") {
    val p = newPipeline()
    // seed topic schema: a is numeric
    p.processBatch(batchOf("c" -> """{"a":1,"b":"x"}"""), 0)
    // next batch mixes numeric a with timestamp a -> per-record triage
    p.processBatch(batchOf(
      "c" -> """{"a":2,"b":"y"}""",
      "c" -> """{"a":"2024-03-01T12:00:00Z","b":"z"}"""), 1)
    assert(p.lake.read("c").count() === 2, "good records landed")
    val dlq = p.lake.read("_dlq")
    assert(dlq.count() === 1)
    val r = dlq.select("target_table", "error", "value").head()
    assert(r.getString(0) === "c")
    assert(r.getString(1).contains("Cannot unify"))
    assert(r.getString(2).contains("2024-03-01T12:00:00Z"))
    // enriched error context (reference ArrowSchemaMerge.java:76-87 /
    // SinkRecordToArrowConverterTest.java:518-537): offending field name,
    // both types, and the record's own sample value
    assert(r.getString(1).contains("field 'a'"), s"error was: ${r.getString(1)}")
    assert(r.getString(1).contains("record type timestamp") &&
      r.getString(1).contains("topic type int"))
    assert(r.getString(1).contains("""sample: "2024-03-01T12:00:00Z""""))
  }

  test("schema conflict with no DLQ fails the batch with partition@offset samples") {
    graft.catalog.GraftLake.invalidateCaches()
    val p = new IngestPipeline(spark, IngestConfig(
      warehouse = Files.createTempDirectory("graft-ingest").toString,
      dlqTable = None))
    p.processBatch(batchOf("nc" -> """{"a":1}"""), 0)
    val e = intercept[Exception] {
      p.processBatch(batchOf(
        "nc" -> """{"a":2}""",
        "nc" -> """{"a":"2024-03-01T12:00:00Z"}"""), 1)
    }
    assert(e.getMessage.contains("sample records (partition@offset)"),
      s"message was: ${e.getMessage}")
    assert(e.getMessage.contains("0@0"))
  }

  test("fields null in some records and absent in others land as nulls") {
    val p = newPipeline()
    p.processBatch(batchOf(
      "nn" -> """{"id":1,"x":7}""",
      "nn" -> """{"id":2,"x":null}""",
      "nn" -> """{"id":3}"""), 0)
    val got = p.lake.read("nn").select("id", "x").collect()
      .map(r => r.getInt(0) -> (if (r.isNullAt(1)) null else r.getInt(1))).toMap
    assert(got === Map(1 -> 7, 2 -> null, 3 -> null))
  }

  test("conflicting array element types across records triage to DLQ") {
    val p = newPipeline()
    p.processBatch(batchOf("arr" -> """{"id":1,"tags":["a","b"]}"""), 0)
    p.processBatch(batchOf(
      "arr" -> """{"id":2,"tags":["c"]}""",
      "arr" -> """{"id":3,"tags":[7,8]}"""), 1)
    assert(p.lake.read("arr").count() === 2, "string-tag records land")
    assert(p.lake.read("_dlq").count() === 1, "int-tag record quarantined")
    // landed type stays an array-of-string JSON column
    val meta = p.lake.readMeta("arr")
    assert(meta.schema("tags").dataType === org.apache.spark.sql.types.StringType)
    assert(graft.catalog.LandedTypes.isJsonColumn(meta.schema("tags")))
  }

  test("empty-seed triage: pairwise-conflicting survivors re-seed or DLQ, never vanish") {
    val p = newPipeline()
    // one batch on a NEW topic: the lowest-offset record is uninferrable
    // (empty object → empty seed schema) and the rest conflict pairwise.
    // Before the fix the good records were neither landed nor DLQ'd.
    p.processBatch(batchOf(
      "es" -> """{}""",
      "es" -> """{"a":2,"b":"y"}""",
      "es" -> """{"a":"2024-03-01T12:00:00Z","b":"z"}"""), 0)
    val landed = if (p.lake.tableExists("es")) p.lake.read("es").count() else 0L
    val dlq = if (p.lake.tableExists("_dlq")) p.lake.read("_dlq").count() else 0L
    assert(landed + dlq >= 3,
      s"all 3 records must be accounted for (landed=$landed dlq=$dlq)")
    // re-seeding from the lowest-offset inferrable record means the
    // int-typed record lands and the timestamp-typed one quarantines
    assert(landed >= 2, s"re-seeded records should land (landed=$landed)")
    assert(dlq >= 1, "record conflicting with the re-seed quarantines")
  }

  test("unparseable JSON goes to DLQ, valid rows land") {
    val p = newPipeline()
    p.processBatch(batchOf(
      "u" -> """{"id":1}""",
      "u" -> """{{{not json"""), 0)
    assert(p.lake.read("u").count() === 1)
    assert(p.lake.read("_dlq").count() === 1)
  }

  test("conflicting Arrow record schemas triage to DLQ with enriched errors") {
    val p = newPipeline()
    val good = ArrowIpc.encode(
      StructType(Seq(StructField("id", LongType), StructField("x", LongType))),
      Seq(Row(1L, 5L)))
    val conflicting = ArrowIpc.encode(
      StructType(Seq(StructField("id", LongType), StructField("x", StringType))),
      Seq(Row(2L, "oops")))
    val df = Seq(("at", 0, 0L, good), ("at", 0, 1L, conflicting))
      .toDF("topic", "partition", "offset", "value")
    p.processBatch(df, 0)
    assert(p.lake.read("at").select("id").collect().map(_.getLong(0)).toSet
      === Set(1L), "seed-compatible record lands")
    val r = p.lake.read("_dlq").select("error", "value", "offset").head()
    assert(r.getString(0).contains("field 'x'") &&
      r.getString(0).contains("sample: oops"), s"error was: ${r.getString(0)}")
    assert(java.util.Base64.getMimeDecoder.decode(r.getString(1))
      .sameElements(conflicting), "DLQ value carries the base64 raw payload")
    assert(r.getLong(2) === 1L)
  }

  /** (id: int64, x: `t`) Arrow IPC payload of one row. */
  private def ipcIdX(id: Long, t: DataType, x: Any): Array[Byte] =
    ArrowIpc.encode(StructType(Seq(StructField("id", LongType), StructField("x", t))),
      Seq(Row(id, x)))

  /** The IPC continuation marker followed by a body no decoder accepts. */
  private val undecodableIpc = Array[Byte](-1, -1, -1, -1) ++ "garbage!".getBytes("UTF-8")

  private def arrowBatch(topic: String, payloads: Array[Byte]*) =
    payloads.zipWithIndex.map { case (b, i) => (topic, 0, i.toLong, b) }
      .toDF("topic", "partition", "offset", "value")

  test("Arrow schema conflict with no DLQ fails the batch with partition@offset samples") {
    graft.catalog.GraftLake.invalidateCaches()
    val p = new IngestPipeline(spark, IngestConfig(
      warehouse = Files.createTempDirectory("graft-ingest").toString,
      dlqTable = None))
    val e = intercept[Exception] {
      p.processBatch(arrowBatch("anc",
        ipcIdX(1L, LongType, 5L), ipcIdX(2L, StringType, "oops")), 0)
    }
    assert(e.getMessage.contains("Arrow schema conflict in topic 'anc' and no DLQ configured"),
      s"message was: ${e.getMessage}")
    assert(e.getMessage.contains("sample records (partition@offset): 0@0, 0@1"))
  }

  test("undecodable Arrow payload parks with its error; decodable rows land") {
    val p = newPipeline()
    p.processBatch(arrowBatch("aun",
      ipcIdX(1L, LongType, 5L), undecodableIpc, ipcIdX(3L, LongType, 7L)), 0)
    assert(p.lake.read("aun").select("id").collect().map(_.getLong(0)).toSet
      === Set(1L, 3L))
    val r = p.lake.read("_dlq").select("error", "value", "offset").collect()
    assert(r.length === 1)
    assert(r(0).getString(0).startsWith("undecodable Arrow IPC"), r(0).getString(0))
    assert(java.util.Base64.getMimeDecoder.decode(r(0).getString(1))
      .sameElements(undecodableIpc))
    assert(r(0).getLong(2) === 1L)
  }

  test("Arrow empty-seed triage: pairwise-conflicting survivors re-seed or park, never vanish") {
    val p = newPipeline()
    // the lowest-offset record is undecodable (empty seed); the others
    // each fit the empty seed but conflict with one another
    p.processBatch(arrowBatch("aes",
      undecodableIpc, ipcIdX(1L, StringType, "s"), ipcIdX(2L, LongType, 7L)), 0)
    val landed = if (p.lake.tableExists("aes")) p.lake.read("aes").count() else 0L
    val errors = p.lake.read("_dlq").select("error").collect().map(_.getString(0))
    assert(landed + errors.length === 3,
      s"all 3 records must be accounted for (landed=$landed dlq=${errors.length})")
    assert(errors.exists(_.startsWith("undecodable Arrow IPC")))
    // re-seeded from the lowest-offset decodable record (x: string), the
    // long-typed survivor conforms to it and lands too
    assert(landed === 2, s"re-seeded records should land (landed=$landed)")
  }

  test("mixed-format topic: Arrow IPC and JSON records both land") {
    val p = newPipeline()
    val ipcBytes = makeIpc(Seq((10L, "ivan"), (11L, "irma")))
    val df = Seq(
      ("m", 0, 0L, ipcBytes),
      ("m", 0, 1L, """{"id":12,"name":"json-joe"}""".getBytes("UTF-8")))
      .toDF("topic", "partition", "offset", "value")
    p.processBatch(df, 0)
    val got = p.lake.read("m").select("id", "name").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(got === Set((10L, "ivan"), (11L, "irma"), (12L, "json-joe")))
  }

  test("decoder handles externally-produced IPC bytes (independent fixture)") {
    // built with raw Arrow APIs, NOT the engine encoder — guards against
    // symmetric encode/decode bugs that a round-trip cannot catch
    import org.apache.arrow.memory.RootAllocator
    import org.apache.arrow.vector.{BigIntVector, VarCharVector, VectorSchemaRoot}
    val allocator = new RootAllocator(Long.MaxValue)
    val bytes = try {
      val schema = new org.apache.arrow.vector.types.pojo.Schema(java.util.List.of(
        field("id", new org.apache.arrow.vector.types.pojo.ArrowType.Int(64, true)),
        field("name", org.apache.arrow.vector.types.pojo.ArrowType.Utf8.INSTANCE)))
      val root = VectorSchemaRoot.create(schema, allocator)
      try {
        root.getVector("id").asInstanceOf[BigIntVector].allocateNew(1)
        root.getVector("id").asInstanceOf[BigIntVector].setSafe(0, 42L)
        root.getVector("name").asInstanceOf[VarCharVector].allocateNew()
        root.getVector("name").asInstanceOf[VarCharVector]
          .setSafe(0, "ext".getBytes("UTF-8"))
        root.setRowCount(1)
        val out = new java.io.ByteArrayOutputStream()
        val w = new org.apache.arrow.vector.ipc.ArrowStreamWriter(root, null,
          java.nio.channels.Channels.newChannel(out))
        w.start(); w.writeBatch(); w.end(); w.close()
        out.toByteArray
      } finally root.close()
    } finally allocator.close()
    val (schema, rows) = ArrowIpc.decode(bytes)
    assert(schema.fieldNames.toSeq === Seq("id", "name"))
    assert(rows.map(r => (r.getLong(0), r.getString(1))) === Seq((42L, "ext")))
  }

  test("encode/decode round-trip keeps microsecond timestamp precision") {
    val ts = java.sql.Timestamp.valueOf("2024-01-01 00:00:00.123456")
    val bytes = ArrowIpc.encode(
      StructType(Seq(StructField("t", org.apache.spark.sql.types.TimestampType))),
      Seq(org.apache.spark.sql.Row(ts)))
    val (_, rows) = ArrowIpc.decode(bytes)
    assert(rows.head.getAs[java.sql.Timestamp](0) === ts)
  }

  test("arrow IPC schema conversion covers nested and temporal types") {
    val arrowSchema = new org.apache.arrow.vector.types.pojo.Schema(
      java.util.List.of(
        field("ts", new org.apache.arrow.vector.types.pojo.ArrowType.Timestamp(
          org.apache.arrow.vector.types.TimeUnit.MILLISECOND, null)),
        field("d", new org.apache.arrow.vector.types.pojo.ArrowType.Date(
          org.apache.arrow.vector.types.DateUnit.DAY)),
        field("s", org.apache.arrow.vector.types.pojo.ArrowType.Utf8.INSTANCE)))
    val st = StructType(scala.jdk.CollectionConverters.ListHasAsScala(
      arrowSchema.getFields).asScala.map(ArrowIpc.toSparkField).toSeq)
    assert(st("ts").dataType === TimestampType)
    assert(st("d").dataType === DateType)
    assert(st("s").dataType === StringType)
  }

  test("streaming: MemoryStream micro-batches reach the lake with upsert") {
    val p = newPipeline(pks = Map("s" -> Seq("id")))
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[(String, Int, Long, Array[Byte])]
    val source = mem.toDF().toDF("topic", "partition", "offset", "value")
    val q = p.start(source, Files.createTempDirectory("graft-ckpt").toString)
    try {
      mem.addData(("s", 0, 0L, """{"id":1,"v":"a"}""".getBytes("UTF-8")))
      q.processAllAvailable()
      mem.addData(
        ("s", 0, 1L, """{"id":1,"v":"b"}""".getBytes("UTF-8")),
        ("s", 0, 2L, """{"id":2,"v":"c"}""".getBytes("UTF-8")))
      q.processAllAvailable()
      val got = p.lake.read("s").select("id", "v").collect()
        .map(r => (r.getInt(0), r.getString(1))).toSet
      assert(got === Set((1, "b"), (2, "c")))
    } finally q.stop()
  }

  test("avro topic: schemaful decode with nullable fields and timestamps") {
    val avroSchema =
      """{"type":"record","name":"User","fields":[
        |{"name":"name","type":"string"},{"name":"age","type":"int"},
        |{"name":"nick","type":["null","string"],"default":null},
        |{"name":"joined","type":{"type":"long","logicalType":"timestamp-millis"}}]}"""
        .stripMargin
    graft.catalog.GraftLake.invalidateCaches()
    val p = new IngestPipeline(spark, IngestConfig(
      warehouse = Files.createTempDirectory("graft-avro").toString,
      avroSchemas = Map("users" -> avroSchema)))
    def avroBytes(name: String, age: Int, nick: Option[String], joinedMs: Long): Array[Byte] = {
      val schema = new org.apache.avro.Schema.Parser().parse(avroSchema)
      val rec = new org.apache.avro.generic.GenericData.Record(schema)
      rec.put("name", name); rec.put("age", age)
      rec.put("nick", nick.orNull); rec.put("joined", joinedMs)
      val out = new java.io.ByteArrayOutputStream()
      val enc = org.apache.avro.io.EncoderFactory.get().binaryEncoder(out, null)
      new org.apache.avro.generic.GenericDatumWriter[
        org.apache.avro.generic.GenericRecord](schema).write(rec, enc)
      enc.flush()
      out.toByteArray
    }
    val df = Seq(
      ("users", 0, 0L, avroBytes("Alice", 30, None, 1700000000000L)),
      ("users", 0, 1L, avroBytes("Bob", 40, Some("bobby"), 1700000100000L)))
      .toDF("topic", "partition", "offset", "value")
    p.processBatch(df, 0)
    val got = p.lake.read("users")
      .select("name", "age", "nick", "joined").collect()
      .map(r => (r.getString(0), r.getInt(1), r.getString(2), r.getTimestamp(3).getTime))
      .toSet
    assert(got === Set(
      ("Alice", 30, null, 1700000000000L),
      ("Bob", 40, "bobby", 1700000100000L)))
  }

  test("avro record whose first field encodes to 0x00 decodes raw (no false framing strip)") {
    val avroSchema =
      """{"type":"record","name":"Z","fields":[
        |{"name":"n","type":"long"},{"name":"tag","type":"string"}]}""".stripMargin
    graft.catalog.GraftLake.invalidateCaches()
    val p = new IngestPipeline(spark, IngestConfig(
      warehouse = Files.createTempDirectory("graft-avro0").toString,
      avroSchemas = Map("z" -> avroSchema)))
    val schema = new org.apache.avro.Schema.Parser().parse(avroSchema)
    val rec = new org.apache.avro.generic.GenericData.Record(schema)
    rec.put("n", 0L) // zigzag(0) = 0x00 first byte
    rec.put("tag", "longer-than-five-bytes")
    val out = new java.io.ByteArrayOutputStream()
    val enc = org.apache.avro.io.EncoderFactory.get().binaryEncoder(out, null)
    new org.apache.avro.generic.GenericDatumWriter[
      org.apache.avro.generic.GenericRecord](schema).write(rec, enc)
    enc.flush()
    p.processBatch(Seq(("z", 0, 0L, out.toByteArray))
      .toDF("topic", "partition", "offset", "value"), 0)
    val got = p.lake.read("z").select("n", "tag").head()
    assert(got.getLong(0) === 0L && got.getString(1) === "longer-than-five-bytes")
  }

  test("batch conflicting with the CACHED topic schema triages, not crashes") {
    val p = newPipeline()
    p.processBatch(batchOf("cc" -> """{"a":1}"""), 0) // cache: a int
    // batch is internally consistent (single record) but conflicts with cache
    p.processBatch(batchOf("cc" -> """{"a":"2024-03-01T12:00:00Z"}"""), 1)
    assert(p.lake.read("cc").count() === 1)
    assert(p.lake.read("_dlq").count() === 1, "conflicting record must DLQ")
  }

  test("at-least-once: streaming restart from checkpoint resumes cleanly") {
    // replayable file source (MemoryStream state dies with the query)
    val srcDir = Files.createTempDirectory("graft-src")
    val ckpt = Files.createTempDirectory("graft-ckpt2").toString
    val p = newPipeline(pks = Map("r" -> Seq("id")))
    def writeFile(n: String, lines: String*): Unit =
      java.nio.file.Files.write(srcDir.resolve(n),
        lines.mkString("\n").getBytes("UTF-8"))
    def source() = spark.readStream
      .schema("topic STRING, partition INT, offset LONG, v STRING")
      .json(srcDir.toString)
      .select(col("topic"), col("partition"), col("offset"),
        col("v").cast("binary").as("value"))
    writeFile("b1.json",
      """{"topic":"r","partition":0,"offset":0,"v":"{\"id\":1,\"x\":\"a\"}"}""")
    val q1 = p.start(source(), ckpt)
    try { q1.processAllAvailable() } finally q1.stop()
    assert(p.lake.read("r").count() === 1)
    // new data lands only after restart — the checkpoint must resume, not
    // reprocess-and-crash or skip
    writeFile("b2.json",
      """{"topic":"r","partition":0,"offset":1,"v":"{\"id\":1,\"x\":\"b\"}"}""",
      """{"topic":"r","partition":0,"offset":2,"v":"{\"id\":2,\"x\":\"c\"}"}""")
    val q2 = p.start(source(), ckpt)
    try { q2.processAllAvailable() } finally q2.stop()
    val got = p.lake.read("r").select("id", "x").collect()
      .map(r => (r.getInt(0), r.getString(1))).toSet
    assert(got === Set((1, "b"), (2, "c")),
      "restart must process only the new file and upsert correctly")
  }

  test("topic2table mapping and validation") {
    val cfg = IngestConfig(warehouse = "/tmp/x", topic2table = Map("a.b" -> "a_b"))
    assert(cfg.tableFor("a.b") === "a_b")
    assert(cfg.tableFor("plain") === "plain")
    // identity fallback sanitizes instead of throwing (reference passes raw
    // topic names through unvalidated; dotted Debezium-style topics are
    // ubiquitous and must not poison the stream); changed names get a
    // topic-digest suffix so near-collisions stay distinct
    assert(cfg.tableFor("db.schema.table").matches("db_schema_table_[0-9a-f]{4}"))
    assert(cfg.tableFor("9starts-with-digit").matches("_9starts-with-digit_[0-9a-f]{4}"))
    assert(cfg.tableFor("weird topic!ñ").matches("weird_topic___[0-9a-f]{4}"))
    assert(cfg.tableFor("db.users") !== cfg.tableFor("db_users"),
      "distinct topics must land in distinct tables")
    assert(cfg.tableFor("db_users") === "db_users", "already-valid names pass through")
    // explicit mappings stay strictly validated
    intercept[IllegalArgumentException] {
      IngestConfig(warehouse = "/t", topic2table = Map("x" -> "bad.name"))
        .tableFor("x")
    }
    intercept[IllegalArgumentException] {
      IngestConfig.validate(IngestConfig(warehouse = "/t",
        topic2table = Map("x" -> "t", "y" -> "t")))
    }
  }

  test("dotted unmapped topic lands end-to-end in the sanitized table") {
    val p = newPipeline()
    p.processBatch(batchOf("db.public.users" -> """{"id":1}"""), 0)
    assert(p.lake.read(
      IngestConfig.sanitizeTableName("db.public.users")).count() === 1)
  }

  test("conformRow handles boolean -> promoted-numeric fields (mixed bool/int topic)") {
    // SchemaUnify legitimately promotes bool+int/long/float; a MatchError
    // here would fail the whole micro-batch
    val from = StructType(Seq(StructField("f", BooleanType)))
    def to(dt: org.apache.spark.sql.types.DataType) =
      StructType(Seq(StructField("f", dt)))
    assert(ArrowIpc.conformRow(Row(true), from, to(LongType)).get(0) === 1L)
    assert(ArrowIpc.conformRow(Row(false), from, to(IntegerType)).get(0) === 0)
    assert(ArrowIpc.conformRow(Row(true), from, to(DoubleType)).get(0) === 1.0)
    assert(ArrowIpc.conformRow(Row(true), from, to(FloatType)).get(0) === 1.0f)
    assert(ArrowIpc.conformRow(Row(null), from, to(LongType)).get(0) === null)
  }

  test("mixed bool/long Arrow records in one topic conform, not crash") {
    val p = newPipeline()
    val boolIpc = ArrowIpc.encode(
      StructType(Seq(StructField("id", LongType), StructField("flag", BooleanType))),
      Seq(Row(1L, true), Row(2L, false)))
    val longIpc = ArrowIpc.encode(
      StructType(Seq(StructField("id", LongType), StructField("flag", LongType))),
      Seq(Row(3L, 7L)))
    val df = Seq(("mixbl", 0, 0L, boolIpc), ("mixbl", 0, 1L, longIpc))
      .toDF("topic", "partition", "offset", "value")
    p.processBatch(df, 0)
    val got = p.lake.read("mixbl").select("id", "flag").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got === Set((1L, 1L), (2L, 0L), (3L, 7L)))
  }

  test("metrics sensors record operations") {
    graft.metrics.GraftMetrics.reset()
    val p = newPipeline(pks = Map("mt" -> Seq("id")))
    p.processBatch(batchOf("mt" -> """{"id":1}"""), 0)
    p.processBatch(batchOf("mt" -> """{"id":1}"""), 1)
    val snap = graft.metrics.GraftMetrics.snapshot()
    assert(snap("createTable.count") >= 1.0)
    assert(snap("simpleInsert.count") >= 1.0)
    assert(snap("upsertWithMergeInto.count") >= 1.0)
    assert(snap("records.processed.total") >= 2.0)
  }

  // -- helpers --

  private def field(
      name: String,
      t: org.apache.arrow.vector.types.pojo.ArrowType) =
    new org.apache.arrow.vector.types.pojo.Field(name,
      org.apache.arrow.vector.types.pojo.FieldType.nullable(t), null)

  /** Arrow IPC stream bytes for (id: int64, name: utf8) rows — the
    * FIXTURES §4 shape, via the engine's own S5 encoder (round-trips
    * through the S4 decoder in the pipeline). */
  private def makeIpc(rows: Seq[(Long, String)]): Array[Byte] =
    ArrowIpc.encode(
      StructType(Seq(StructField("id", LongType), StructField("name", StringType))),
      rows.map { case (id, nm) => org.apache.spark.sql.Row(id, nm) })

  test("DLQ replay: misrouted topic lands after a routing fix") {
    graft.catalog.GraftLake.invalidateCaches()
    val wh = Files.createTempDirectory("graft-replay").toString
    // misconfiguration: rp2 routed into rp1's table, where its records
    // conflict with the seeded schema
    val p1 = new IngestPipeline(spark, IngestConfig(warehouse = wh,
      topic2table = Map("rp2" -> "rp1")))
    p1.processBatch(batchOf("rp1" -> """{"a":1,"b":"x"}"""), 0)
    p1.processBatch(batchOf("rp2" -> """{"a":"2024-03-01T12:00:00Z","b":"z"}"""), 1)
    assert(p1.lake.read("rp1").count() === 1)
    assert(p1.lake.read("_dlq").count() === 1)
    // the fix: rp2 routes to its own table; replay the parked rows
    val p2 = new IngestPipeline(spark, IngestConfig(warehouse = wh,
      topic2table = Map("rp2" -> "rp2_t")))
    val (replayed, still) = p2.replayDlq("rp2", fromTable = Some("rp1"))
    assert((replayed, still) === ((1L, 0L)))
    assert(p2.lake.read("rp2_t").count() === 1, "replayed record lands")
    assert(p2.lake.read("_dlq").count() === 0, "replayed original leaves the DLQ")
    assert(p2.lake.read("rp1").count() === 1, "other table untouched")
  }

  test("DLQ replay: misrouted Arrow records land after a routing fix") {
    graft.catalog.GraftLake.invalidateCaches()
    val wh = Files.createTempDirectory("graft-replay").toString
    // misconfiguration: rpa2 routed into rpa1's table; its second record
    // conflicts with the first and parks base64-encoded
    val p1 = new IngestPipeline(spark, IngestConfig(warehouse = wh,
      topic2table = Map("rpa2" -> "rpa1")))
    p1.processBatch(arrowBatch("rpa1", ipcIdX(1L, StringType, "a")), 0)
    p1.processBatch(arrowBatch("rpa2",
      ipcIdX(2L, StringType, "b"), ipcIdX(3L, LongType, 9L)), 1)
    assert(p1.lake.read("rpa1").count() === 2)
    assert(p1.lake.read("_dlq").count() === 1)
    // the fix: rpa2 routes to its own table; replay the parked record
    val p2 = new IngestPipeline(spark, IngestConfig(warehouse = wh,
      topic2table = Map("rpa2" -> "rpa2_t")))
    val (replayed, still) = p2.replayDlq("rpa2", fromTable = Some("rpa1"))
    assert((replayed, still) === ((1L, 0L)))
    val landed = p2.lake.read("rpa2_t").select("id", "x").collect()
    assert(landed.map(r => (r.getLong(0), r.getLong(1))).toSeq === Seq((3L, 9L)),
      "the replayed Arrow record lands decoded")
    assert(p2.lake.read("_dlq").count() === 0, "replayed original leaves the DLQ")
    assert(p2.lake.read("rpa1").count() === 2, "other table untouched")
  }

  test("DLQ replay: still-failing rows stay parked; other tables' rows survive") {
    val p = newPipeline()
    p.processBatch(batchOf("rt" -> """{"a":1}"""), 0)
    p.processBatch(batchOf("rt" -> """{"a":"2024-03-01T12:00:00Z"}"""), 1)
    p.processBatch(batchOf("other" -> """{{{not json"""), 2)
    assert(p.lake.read("_dlq").count() === 2)
    val (replayed, still) = p.replayDlq("rt")
    assert((replayed, still) === ((1L, 1L)),
      "the conflicting record must re-triage, not vanish")
    val dlq = p.lake.read("_dlq").select("target_table").collect().map(_.getString(0))
    assert(dlq.sorted.toSeq === Seq("other", "rt"),
      "fresh failure for rt + the untouched other-table row")
    assert(p.lake.read("rt").count() === 1, "no duplicate landings")
  }

  test("table-conflict triage splits a mixed batch: compatible rows land, rest park") {
    graft.catalog.GraftLake.invalidateCaches()
    val p = new IngestPipeline(spark, IngestConfig(
      warehouse = Files.createTempDirectory("graft-tev").toString,
      topic2table = Map("te2" -> "te")))
    p.processBatch(batchOf("te" -> """{"a":1}"""), 0) // table: a int
    // second topic, fresh cache, routed into the same table: the batch
    // unifies INTERNALLY (a: timestamp, b: long) but conflicts with the
    // TABLE -> per-record evolution triage, not a crash
    p.processBatch(batchOf(
      "te2" -> """{"b":5}""",
      "te2" -> """{"a":"2024-03-01T12:00:00Z","b":6}"""), 1)
    val t = p.lake.read("te")
    assert(t.count() === 2, "the a-less record must land")
    assert(t.columns.contains("b"), "compatible new column evolves")
    val dlq = p.lake.read("_dlq")
    assert(dlq.count() === 1)
    val err = dlq.select("error").head().getString(0)
    assert(err.contains("Incompatible with table 'te'"), s"error was: $err")
  }

  // ---- ingestion-time dedup gate (curation-on-ingest) ----

  private def dedupPipeline(dropDups: Boolean = false): IngestPipeline = {
    graft.catalog.GraftLake.invalidateCaches()
    new IngestPipeline(spark, IngestConfig(
      warehouse = Files.createTempDirectory("graft-dedup").toString,
      dedup = Map("d" -> DedupConfig("doc_id", "text", threshold = 0.8,
        dropDups = dropDups)), triggerMs = ShortTriggerMs))
  }

  private def doc(id: Int, text: String) = s"""{"doc_id":$id,"text":"$text"}"""
  private val tA = "alpha beta gamma delta epsilon zeta eta theta"
  private val tB = "one two three four five six seven eight"
  private val tC = "nine ten eleven twelve thirteen fourteen fifteen sixteen"

  test("ingest dedup: flags land and the LSH index persists across batches") {
    val p = dedupPipeline()
    p.processBatch(batchOf("d" -> doc(1, tA), "d" -> doc(2, tB)), 0)
    // first batch bootstraps the index; nothing to collide with yet
    val b1 = p.lake.read("d").select("doc_id", "is_dup").collect()
      .map(r => (r.getInt(0), r.getLong(1))).toMap
    assert(b1 === Map(1 -> 0L, 2 -> 0L))
    assert(p.lake.tableExists("d_lshidx_docs") &&
      p.lake.tableExists("d_lshidx_bands"), "first batch creates the index")
    // second batch: doc 3 is an exact copy of INDEXED doc 1 (identical
    // text => identical signature => every band collides => caught,
    // guaranteed); doc 4 is fresh
    p.processBatch(batchOf("d" -> doc(3, tA), "d" -> doc(4, tC)), 1)
    val b2 = p.lake.read("d").select("doc_id", "is_dup").collect()
      .map(r => (r.getInt(0), r.getLong(1))).toMap
    assert(b2 === Map(1 -> 0L, 2 -> 0L, 3 -> 1L, 4 -> 0L))
    // only non-dups were admitted: the index never poisons itself
    val admitted = p.lake.read("d_lshidx_docs").select("doc_id").collect()
      .map(_.getInt(0)).toSet
    assert(admitted === Set(1, 2, 4))
  }

  test("ingest dedup: a failed flush rolls back index admission — index and table never diverge") {
    // dlqTable = None: with a DLQ the constraint gate TRIAGES violations
    // instead of failing the flush — this test needs the flush to DIE
    graft.catalog.GraftLake.invalidateCaches()
    val p = new IngestPipeline(spark, IngestConfig(
      warehouse = Files.createTempDirectory("graft-dedup-txn").toString,
      dlqTable = None,
      dedup = Map("d" -> DedupConfig("doc_id", "text", threshold = 0.8))))
    p.processBatch(batchOf("d" -> doc(1, tA), "d" -> doc(2, tB)), 0)
    assert(p.lake.read("d_lshidx_docs").count() === 2)
    val idxV = p.lake.versions("d_lshidx_docs").last
    // crash injection: a CHECK constraint (no DLQ configured) makes the
    // LANDING write of batch 2 abort inside its job, AFTER the dedup
    // probe staged its admission. The (table, index) transaction must
    // roll the admission back — a surviving admission would flag batch
    // 2's docs as duplicates OF THEMSELVES on redelivery
    p.lake.addConstraint("d", "small_ids", "doc_id < 100")
    val e = intercept[Exception] {
      p.processBatch(batchOf("d" -> doc(500, tC)), 1)
    }
    assert(e.getMessage != null)
    assert(p.lake.read("d").select("doc_id").collect().map(_.getInt(0)).toSet
      === Set(1, 2), "the violating batch must not land")
    assert(p.lake.read("d_lshidx_docs").count() === 2,
      "index admission of the failed flush must roll back")
    assert(p.lake.read("d_lshidx_bands")
      .filter(col("doc_id") === 500).count() === 0)
    // REDELIVERY heals: drop the constraint, re-send the batch — the doc
    // lands UN-flagged (a leaked admission would self-flag it as a dup)
    p.lake.dropConstraint("d", "small_ids")
    p.processBatch(batchOf("d" -> doc(500, tC)), 2)
    val redelivered = p.lake.read("d").filter(col("doc_id") === 500)
      .select("is_dup").head().getLong(0)
    assert(redelivered === 0L,
      s"rolled-back admission must not self-flag redelivery (is_dup=$redelivered)")
    assert(p.lake.versions("d_lshidx_docs").last > idxV,
      "rollback is compensation, not erasure: the history moved forward")
  }

  test("ingest dedup: an admission leaked by a crash between commits — redelivery lands") {
    graft.catalog.GraftLake.invalidateCaches()
    val p = new IngestPipeline(spark, IngestConfig(
      warehouse = Files.createTempDirectory("graft-dedup-leak").toString,
      dedup = Map("d" -> DedupConfig("doc_id", "text", threshold = 0.8,
        dropDups = true))))
    p.processBatch(batchOf("d" -> doc(1, tA)), 0)
    // simulate the crash window the in-process transaction cannot cover:
    // doc 9 was ADMITTED into the index, the driver died before the
    // landing commit, and the watermark never advanced
    val (_, admit) = graft.operators.DedupOps.incrementalNearDupsStaged(
      p.lake, "d_lshidx", Seq((9, tC)).toDF("doc_id", "text"),
      "doc_id", "text", threshold = 0.8)
    admit()
    assert(p.lake.read("d_lshidx_docs").filter(col("doc_id") === 9).count() === 1)
    assert(p.lake.read("d").filter(col("doc_id") === 9).count() === 0)
    // the source redelivers: the doc's own id band-matches in the index,
    // so it is exempt from dup flagging (dropping it would be PERMANENT
    // loss — it never landed) and from double admission
    p.processBatch(batchOf("d" -> doc(9, tC)), 1)
    assert(p.lake.read("d").filter(col("doc_id") === 9).count() === 1,
      "a leaked admission must not swallow the redelivered batch")
    assert(p.lake.read("d_lshidx_docs").filter(col("doc_id") === 9).count() === 1,
      "an already-indexed id is not re-admitted")
    // near-dup detection is untouched: a NEW doc (different id) with the
    // same text still flags against the leaked admission and is dropped
    p.processBatch(batchOf("d" -> doc(10, tC)), 2)
    assert(p.lake.read("d").filter(col("doc_id") === 10).count() === 0,
      "a genuine near-dup of the indexed text must still be caught")
  }

  test("ingest dedup: dropDups lands only non-duplicates, no flag column") {
    val p = dedupPipeline(dropDups = true)
    p.processBatch(batchOf("d" -> doc(1, tA)), 0)
    p.processBatch(batchOf("d" -> doc(2, tA), "d" -> doc(3, tB)), 1)
    val landed = p.lake.read("d")
    assert(!landed.columns.contains("is_dup"))
    assert(landed.select("doc_id").collect().map(_.getInt(0)).toSet ===
      Set(1, 3), "the copy never lands")
  }

  test("ingest dedup: a batch without the keyed columns lands unflagged and is counted") {
    val p = dedupPipeline()
    val before = graft.metrics.GraftMetrics.dedupSkippedBatches.sum()
    p.processBatch(batchOf("d" -> """{"other":1}"""), 0)
    assert(p.lake.read("d").count() === 1, "schema drift must not poison the stream")
    assert(!p.lake.read("d").columns.contains("is_dup"))
    assert(graft.metrics.GraftMetrics.dedupSkippedBatches.sum() === before + 1)
  }

  // ---- auto-compaction policy ----

  test("auto-compaction: small files from micro-batches are rewritten at the threshold") {
    graft.catalog.GraftLake.invalidateCaches()
    val p = new IngestPipeline(spark, IngestConfig(
      warehouse = Files.createTempDirectory("graft-ac").toString,
      autoCompact = Map("d" -> CompactionConfig(minFiles = 4,
        targetRecordsPerFile = 100000))))
    // each single-record batch appends at least one file; below the
    // threshold nothing compacts
    (1 to 3).foreach(i =>
      p.processBatch(batchOf("d" -> s"""{"id":$i,"v":"x$i"}"""), i - 1L))
    val before = p.lake.liveFileCount("d")
    assert(before >= 3 && before < 4)
    val versionsBefore = p.lake.versions("d").size
    // crossing the threshold triggers a compaction commit after the flush
    p.processBatch(batchOf("d" -> """{"id":4,"v":"d"}""",
      "d" -> """{"id":5,"v":"e"}"""), 3)
    assert(p.lake.liveFileCount("d") < 4,
      s"auto-compaction must shrink the file set, have ${p.lake.liveFileCount("d")}")
    assert(p.lake.versions("d").size > versionsBefore + 1,
      "the compaction lands as its own snapshot after the flush commit")
    // contents intact
    assert(p.lake.read("d").select("id").collect().map(_.getInt(0)).toSet ===
      Set(1, 2, 3, 4, 5))
    // the sensor metered the rewrite
    assert(graft.metrics.GraftMetrics.op(
      graft.metrics.GraftMetrics.AutoCompact).count.sum() >= 1)
  }

  test("DLQ replay lands under txnAppId: the parking batch's watermark must not no-op it") {
    graft.catalog.GraftLake.invalidateCaches()
    val p = new IngestPipeline(spark, IngestConfig(
      warehouse = Files.createTempDirectory("graft-rtxn").toString,
      txnAppId = Some("q2")))
    p.processBatch(batchOf("rt" -> """{"id":1,"price":10.0}"""), 0)
    p.lake.addConstraint("rt", "pos", "price >= 0")
    // batch 1: the clean row COMMITS (watermark q2:rt -> 1) while the
    // constraint violator parks in the DLQ
    p.processBatch(batchOf(
      "rt" -> """{"id":2,"price":5.0}""",
      "rt" -> """{"id":3,"price":-1.0}"""), 1)
    assert(p.lake.read("rt").count() === 2)
    assert(p.lake.read("_dlq").count() === 1)
    // lift the constraint so the replay can land — then replay: an
    // appendIdempotent at the stale in-flight batch id would silently
    // no-op (the watermark already covers it) and report success
    p.lake.dropConstraint("rt", "pos")
    val (replayed, still) = p.replayDlq("rt")
    assert((replayed, still) === ((1L, 0L)))
    assert(p.lake.read("rt").count() === 3,
      "the replayed row must LAND, not vanish into the txn watermark")
    assert(p.lake.read("_dlq").count() === 0)
  }

  // The crash point: the replay landed its records and appended its
  // still-failing one to the DLQ, then died before the DLQ rewrite
  // committed. The re-run must recognize that append as its own.
  test("DLQ replay re-run after a crash between its DLQ append and its DLQ rewrite lands nothing twice") {
    import graft.catalog.{RecordingAfs, RecordingFs}
    graft.catalog.GraftLake.invalidateCaches()
    spark.sparkContext.hadoopConfiguration.set("fs.graftfault.impl",
      classOf[RecordingFs].getName)
    spark.sparkContext.hadoopConfiguration.set(
      "fs.AbstractFileSystem.graftfault.impl", classOf[RecordingAfs].getName)
    val wh = "graftfault://" + Files.createTempDirectory("graft-rcrash")
    def config(route: String) = IngestConfig(warehouse = wh,
      topic2table = Map("rj2" -> route), txnAppId = Some("app"))
    // misrouted: rj2 lands in rj1's table, where its records conflict
    val p1 = new IngestPipeline(spark, config("rj1"))
    p1.processBatch(batchOf((1 to 3).map(i => "rj1" -> s"""{"id":$i,"a":$i}"""): _*), 0)
    p1.processBatch(batchOf((1 to 3).map(i =>
      "rj2" -> s"""{"id":$i,"a":"2024-03-0${i}T12:00:00Z"}""") :+ ("rj2" -> "{{{not json"): _*), 1)
    assert(p1.lake.read("_dlq").count() === 4)
    // the replay's second rename into _dlq/data/ is its DLQ rewrite's file
    val dlqRenames = new java.util.concurrent.atomic.AtomicInteger()
    RecordingFs.afterRename = dst =>
      if (dst.contains("/_dlq/data/") && dlqRenames.incrementAndGet() == 2)
        throw new java.io.IOException("crash before the DLQ rewrite commits")
    try intercept[Exception](
      new IngestPipeline(spark, config("rj2_t")).replayDlq("rj2", fromTable = Some("rj1")))
    finally RecordingFs.afterRename = _ => ()
    assert(dlqRenames.get() === 2)
    graft.catalog.GraftLake.invalidateCaches()
    val p3 = new IngestPipeline(spark, config("rj2_t"))
    assert(p3.replayDlq("rj2", fromTable = Some("rj1")) === ((4L, 1L)))
    val landed = p3.lake.read("rj2_t")
    assert(landed.count() === 3)
    assert(landed.select("id").distinct().count() === 3)
    val dlq = p3.lake.read("_dlq").select("value", "target_table").collect()
    assert(dlq.map(r => (r.getString(0), r.getString(1))).toSeq === Seq(("{{{not json", "rj2_t")))
  }

  test("txnAppId: a redelivered micro-batch lands exactly once") {
    graft.catalog.GraftLake.invalidateCaches()
    val p = new IngestPipeline(spark, IngestConfig(
      warehouse = Files.createTempDirectory("graft-txn").toString,
      txnAppId = Some("q1")))
    p.processBatch(batchOf("d" -> """{"id":1,"v":"a"}"""), 0)
    // batch 1 carries a poison record: it parks in the DLQ
    val batch1 = batchOf("d" -> """{"id":2,"v":"b"}""", "d" -> "{{{not json")
    p.processBatch(batch1, 1)
    assert(p.lake.read("d").count() === 2)
    assert(p.lake.read("_dlq").count() === 1)
    // the restart-replay case: same batchId delivered again
    p.processBatch(batch1, 1)
    assert(p.lake.read("d").count() === 2,
      "a redelivered batchId must not duplicate rows")
    assert(p.lake.read("_dlq").count() === 1,
      "a redelivered batchId must not duplicate dead letters")
    assert(graft.metrics.GraftMetrics.op("txnSkippedBatches").count.sum() >= 1)
    // progress continues after the replay
    p.processBatch(batchOf("d" -> """{"id":3,"v":"c"}"""), 2)
    assert(p.lake.read("d").count() === 3)
    // a RESTARTED pipeline over the same warehouse keeps the watermark
    graft.catalog.GraftLake.invalidateCaches()
    val p2 = new IngestPipeline(spark, IngestConfig(
      warehouse = p.lake.warehouseDir, txnAppId = Some("q1")))
    p2.processBatch(batchOf("d" -> """{"id":3,"v":"c"}"""), 2)
    assert(p2.lake.read("d").count() === 3)
  }

  test("a failing topic fails the batch only after the other topics finished") {
    graft.catalog.GraftLake.invalidateCaches()
    val p = new IngestPipeline(spark, IngestConfig(
      warehouse = Files.createTempDirectory("graft-contain").toString,
      dlqTable = None))
    val healthy = (1 to 4).map(i => s"ok$i")
    p.processBatch(batchOf(("bad" -> """{"a":1}""") +:
      healthy.map(t => t -> """{"a":1}"""): _*), 0)
    // "bad" conflicts with no DLQ configured (throws after one job); the
    // healthy topics each land a larger batch
    val batch = batchOf(
      ("bad" -> """{"a":2}""") +: ("bad" -> """{"a":"2024-03-01T12:00:00Z"}""") +:
        healthy.flatMap(t => (1 to 200).map(i => t -> s"""{"a":$i,"s":"r$i"}""")): _*)
    val e = intercept[Exception](p.processBatch(batch, 1))
    assert(e.getMessage.contains("no DLQ configured"), e.getMessage)
    val tables = "bad" +: healthy
    val atReturn = tables.map(t => t -> p.lake.versions(t)).toMap
    healthy.foreach(t => assert(p.lake.read(t).count() === 201,
      s"$t must have landed before the batch failed"))
    Thread.sleep(1500)
    tables.foreach(t => assert(p.lake.versions(t) === atReturn(t),
      s"$t gained a version after processBatch returned"))
    assert(p.lake.read("bad").count() === 1)
  }

  test("bloom maintenance: the sidecar stays current with every flush") {
    graft.catalog.GraftLake.invalidateCaches()
    val p = new IngestPipeline(spark, IngestConfig(
      warehouse = Files.createTempDirectory("graft-br").toString,
      bloomRefresh = Set("d")))
    // no index yet: the hook is a no-op
    p.processBatch(batchOf("d" -> """{"id":1,"v":"a"}"""), 0)
    assert(p.lake.bloomIndexedColumns("d").isEmpty)
    p.lake.buildBloomIndex("d", "id", expectedItemsPerFile = 1000)
    // every further flush blooms its own new files
    (2 to 4).foreach(i =>
      p.processBatch(batchOf("d" -> s"""{"id":$i,"v":"x$i"}"""), i - 1L))
    assert(p.lake.refreshBloomIndexes("d") === Map("id" -> 0L),
      "the pipeline must leave no live file unbloomed")
    assert(p.lake.read("d").count() === 4)
    // the maintained index prunes: a present key plans only its file
    import org.apache.spark.sql.functions.col
    assert(p.lake.readWhere("d", col("id") === 3L).inputFiles.length === 1)
    assert(graft.metrics.GraftMetrics.op("bloomRefresh").count.sum() >= 3)
  }

  test("snapshot retention: streaming commits stay bounded and contents survive") {
    graft.catalog.GraftLake.invalidateCaches()
    val p = new IngestPipeline(spark, IngestConfig(
      warehouse = Files.createTempDirectory("graft-ret").toString,
      retention = Map("d" -> RetentionConfig(keepLast = 2, slack = 3))))
    // 6 single-record flushes = 6 commits; the 5th crosses keepLast+slack
    (1 to 6).foreach(i =>
      p.processBatch(batchOf("d" -> s"""{"id":$i}"""), i - 1L))
    val vs = p.lake.versions("d")
    assert(vs.size < 6, s"retention must expire old snapshots, have ${vs.size}")
    assert(vs.size <= 2 + 3, "version count stays bounded by keepLast + slack")
    // current contents untouched; the oldest KEPT snapshot still resolves
    assert(p.lake.read("d").select("id").collect().map(_.getInt(0)).toSet ===
      (1 to 6).toSet)
    assert(p.lake.readVersion("d", vs.head).count() >= 1)
  }

  test("ingest constraint gate: violating records triage to the DLQ, clean rows land") {
    graft.catalog.GraftLake.invalidateCaches()
    val p = new IngestPipeline(spark, IngestConfig(
      warehouse = Files.createTempDirectory("graft-chk").toString))
    // first batch creates the table; the constraint arrives before batch 2
    p.processBatch(batchOf("m" -> """{"id":1,"price":10.0}"""), 0)
    p.lake.addConstraint("m", "pos_price", "price >= 0")
    // one bad record must NOT poison-pill the batch: the clean row lands,
    // the violator goes to the DLQ with the constraint named
    p.processBatch(batchOf(
      "m" -> """{"id":2,"price":5.0}""",
      "m" -> """{"id":3,"price":-1.0}"""), 1)
    assert(p.lake.read("m").select("id").collect().map(_.getInt(0)).toSet ===
      Set(1, 2))
    val dlq = p.lake.read("_dlq")
      .select("target_table", "error", "value").collect()
    assert(dlq.length === 1)
    assert(dlq.head.getString(0) === "m")
    assert(dlq.head.getString(1).contains("pos_price"))
    assert(dlq.head.getString(2).contains("\"id\":3"))
    // a later clean batch flows normally
    p.processBatch(batchOf("m" -> """{"id":4,"price":4.0}"""), 2)
    assert(p.lake.read("m").count() === 3L)
  }

  // ---- ingestion-time quality gate ----

  private def qualityPipeline(qc: QualityConfig,
      dedup: Boolean = false): IngestPipeline = {
    graft.catalog.GraftLake.invalidateCaches()
    new IngestPipeline(spark, IngestConfig(
      warehouse = Files.createTempDirectory("graft-qual").toString,
      quality = Map("d" -> qc),
      dedup = if (dedup) Map("d" -> DedupConfig("doc_id", "text",
        threshold = 0.8)) else Map.empty))
  }

  private val goodText = "the and of to is in that it wind river stone light " +
    "morning harbor garden window"

  test("ingest quality: flags land per the length/score/lang rules") {
    val p = qualityPipeline(QualityConfig("text", minChars = 20,
      minScore = 0.3, langAllow = Seq("en")))
    p.processBatch(batchOf(
      "d" -> doc(1, goodText),
      "d" -> doc(2, "@@@"),
      "d" -> doc(3, "el la de que y en los del pero casa")), 0)
    val got = p.lake.read("d").select("doc_id", "quality_ok").collect()
      .map(r => (r.getInt(0), r.getLong(1))).toMap
    // 2 fails length+score+lang; 3 is long enough but Spanish-profiled
    assert(got === Map(1 -> 1L, 2 -> 0L, 3 -> 0L))
  }

  test("ingest quality: dropFailures lands only passing rows, no flag column") {
    val pDrop = qualityPipeline(QualityConfig("text", minChars = 20,
      minScore = 0.3, dropFailures = true))
    pDrop.processBatch(batchOf(
      "d" -> doc(1, goodText), "d" -> doc(2, "@@@")), 0)
    val landed = pDrop.lake.read("d")
    assert(!landed.columns.contains("quality_ok"))
    assert(landed.select("doc_id").collect().map(_.getInt(0)).toSet === Set(1))
  }

  test("ingest quality: schema-drift batch lands unflagged and is counted") {
    val p = qualityPipeline(QualityConfig("other_text"))
    val before = graft.metrics.GraftMetrics.qualitySkippedBatches.sum()
    p.processBatch(batchOf("d" -> doc(9, tA)), 0)
    assert(p.lake.read("d").count() === 1)
    assert(!p.lake.read("d").columns.contains("quality_ok"))
    assert(graft.metrics.GraftMetrics.qualitySkippedBatches.sum() === before + 1)
  }

  test("ingest quality composes with dedup: junk is dropped before sketching") {
    val p = qualityPipeline(QualityConfig("text", minChars = 20,
      minScore = 0.3, dropFailures = true), dedup = true)
    p.processBatch(batchOf("d" -> doc(1, goodText), "d" -> doc(2, "@@@")), 0)
    // the junk row must not have been admitted into the LSH index either
    val admitted = p.lake.read("d_lshidx_docs").select("doc_id").collect()
      .map(_.getInt(0)).toSet
    assert(admitted === Set(1), "quality gate runs before dedup admission")
    p.processBatch(batchOf("d" -> doc(3, goodText)), 1)
    val got = p.lake.read("d").select("doc_id", "is_dup").collect()
      .map(r => (r.getInt(0), r.getLong(1))).toMap
    assert(got === Map(1 -> 0L, 3 -> 1L), "dup of a quality-passing doc flags")
  }

  test("streaming: micro-batches land with is_dup flags against the persisted index") {
    val p = dedupPipeline()
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[(String, Int, Long, Array[Byte])]
    val source = mem.toDF().toDF("topic", "partition", "offset", "value")
    val q = p.start(source, Files.createTempDirectory("graft-ckpt").toString)
    try {
      mem.addData(("d", 0, 0L, doc(1, tA).getBytes("UTF-8")),
        ("d", 0, 1L, doc(2, tB).getBytes("UTF-8")))
      q.processAllAvailable()
      mem.addData(("d", 0, 2L, doc(3, tA).getBytes("UTF-8")),
        ("d", 0, 3L, doc(4, tC).getBytes("UTF-8")))
      q.processAllAvailable()
      val got = p.lake.read("d").select("doc_id", "is_dup").collect()
        .map(r => (r.getInt(0), r.getLong(1))).toMap
      assert(got === Map(1 -> 0L, 2 -> 0L, 3 -> 1L, 4 -> 0L))
    } finally q.stop()
  }
}
