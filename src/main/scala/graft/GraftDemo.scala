package graft

import java.nio.file.Files

import graft.ingest.{IngestConfig, IngestPipeline}
import org.apache.spark.sql.functions._

/** Runnable end-to-end assembly (the reference's EndToEndIntegrationTest
  * shape without Kafka infra): a replayable file-stream of Kafka-shaped
  * records → IngestPipeline (inference, auto-create, upsert, DLQ) →
  * GraftCatalog SQL over the landed tables → metrics dump.
  *
  * {{{ sbt "runMain graft.GraftDemo" }}}
  */
object GraftDemo {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.localBuilder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val warehouse = Files.createTempDirectory("graft-demo-wh").toString
    val srcDir = Files.createTempDirectory("graft-demo-src")
    val ckpt = Files.createTempDirectory("graft-demo-ckpt").toString

    val pipeline = new IngestPipeline(spark, IngestConfig(
      warehouse = warehouse,
      pks = Map("orders" -> Seq("id")),
      triggerMs = 500L))

    def emit(name: String, lines: String*): Unit =
      java.nio.file.Files.write(srcDir.resolve(name),
        lines.mkString("\n").getBytes("UTF-8"))

    // micro-batch 1: schemaless JSON auto-creates the table (reference
    // semantics: a NEW table appends without PK dedup); micro-batch 2
    // MERGEs by PK, evolves the schema (adds `total`), and quarantines an
    // unparseable record to the DLQ
    emit("b1.json",
      """{"topic":"orders","partition":0,"offset":0,"v":"{\"id\":1,\"customer\":\"alice\"}"}""")
    val source = spark.readStream
      .schema("topic STRING, partition INT, offset LONG, v STRING")
      .json(srcDir.toString)
      .select(col("topic"), col("partition"), col("offset"),
        col("v").cast("binary").as("value"))
    val q = pipeline.start(source, ckpt)
    q.processAllAvailable()
    emit("b2.json",
      """{"topic":"orders","partition":0,"offset":1,"v":"{\"id\":1,\"customer\":\"bob\",\"total\":9.5}"}""",
      """{"topic":"orders","partition":0,"offset":2,"v":"{\"id\":2,\"customer\":\"carol\",\"total\":12.0}"}""",
      """{"topic":"orders","partition":0,"offset":3,"v":"not json at all"}""")
    q.processAllAvailable()
    q.stop()

    spark.conf.set("spark.sql.catalog.demo", classOf[catalog.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.demo.warehouse", warehouse)
    println("== landed state (SQL over the v2 catalog) ==")
    spark.sql("SELECT id, customer, total FROM demo.orders ORDER BY id").show()
    println("== dead-letter queue ==")
    spark.sql("SELECT target_table, error, CAST(value AS STRING) AS value FROM demo.`_dlq`").show(false)

    println("== SQL DML surface (MERGE / UPDATE / DELETE / INSERT) ==")
    import spark.implicits._
    Seq((2L, "carol", 20.0), (3L, "dave", 7.5)).toDF("id", "customer", "total")
      .createOrReplaceTempView("updates")
    spark.sql(
      """MERGE INTO demo.orders t USING updates s ON t.id = s.id
        |WHEN MATCHED THEN UPDATE SET customer = s.customer, total = s.total
        |WHEN NOT MATCHED THEN INSERT (id, customer, total)
        |  VALUES (s.id, s.customer, s.total)""".stripMargin)
    Seq((5L, "fred", 11.0)).toDF("id", "customer", "total")
      .createOrReplaceTempView("star_updates")
    spark.sql(
      """MERGE INTO demo.orders t USING star_updates s ON t.id = s.id
        |WHEN MATCHED THEN UPDATE SET *
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    spark.sql("INSERT INTO demo.orders (id, customer, total) VALUES (4, 'erin', 3.0)")
    spark.sql("UPDATE demo.orders SET total = total * 2 WHERE total < 5")
    spark.sql("DELETE FROM demo.orders WHERE customer = 'bob'")
    spark.sql("SELECT id, customer, total FROM demo.orders ORDER BY id").show()
    println("== native functions via extensions ==")
    spark.sql(
      """SELECT customer, graft_rolling_hash(customer) AS fp,
        |       graft_simhash(split(customer, '')) AS simhash
        |FROM demo.orders ORDER BY id""".stripMargin).show(false)
    println("== engine metrics ==")
    metrics.GraftMetrics.snapshot().toSeq.sorted
      .foreach { case (k, v) => println(f"  $k%-40s $v%.2f") }
    spark.stop()
  }
}
