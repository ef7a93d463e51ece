package graft.ingest

import java.nio.file.Files

import graft.SparkTestSession
import org.scalatest.funsuite.AnyFunSuite

/** Kafka-source wiring (reference EndToEndIntegrationTest.java:128-151
  * produces through a real broker). This environment bundles neither the
  * spark-sql-kafka connector nor a broker (offline sandbox), so:
  *  - the wiring test proves `kafkaSource` really resolves the `kafka`
  *    format (the failure here is the connector's absence, not a typo'd
  *    format or option);
  *  - the end-to-end test is env-gated: point `GRAFT_KAFKA_BOOTSTRAP` at a
  *    broker on a classpath that includes spark-sql-kafka and it runs the
  *    full source → ingest → landed-table flow.
  */
class KafkaSourceSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private def connectorPresent: Boolean =
    scala.util.Try(Class.forName(
      "org.apache.spark.sql.kafka010.KafkaSourceProvider")).isSuccess

  private def newPipeline(maxOffsets: Option[Long] = None): IngestPipeline =
    new IngestPipeline(spark, IngestConfig(
      warehouse = Files.createTempDirectory("graft-kafka").toString,
      maxOffsetsPerTrigger = maxOffsets, triggerMs = 100L))

  test("kafkaSource resolves the kafka format (fails here only on the missing connector)") {
    assume(!connectorPresent, "connector present — covered by the e2e test")
    val p = newPipeline()
    val e = intercept[Exception] {
      p.kafkaSource("localhost:9092", Seq("events")).schema
    }
    // DATA_SOURCE_NOT_FOUND names the requested source: the builder asked
    // for the real connector, not a stringly-typed near-miss
    assert(e.getMessage.toLowerCase.contains("kafka"),
      s"expected a kafka-connector resolution error, got: ${e.getMessage}")
  }

  test("end-to-end: kafka broker -> ingest -> landed table (env-gated)") {
    assume(connectorPresent && sys.env.contains("GRAFT_KAFKA_BOOTSTRAP"),
      "needs spark-sql-kafka on the classpath and GRAFT_KAFKA_BOOTSTRAP")
    val bootstrap = sys.env("GRAFT_KAFKA_BOOTSTRAP")
    val topic = sys.env.getOrElse("GRAFT_KAFKA_TOPIC", "graft_e2e")
    val p = newPipeline(maxOffsets = Some(10000L))
    val q = p.start(
      p.kafkaSource(bootstrap, Seq(topic)),
      Files.createTempDirectory("graft-kafka-ckpt").toString)
    try {
      q.processAllAvailable()
      assert(p.lake.tableExists(IngestConfig.sanitizeTableName(topic)),
        "records produced to the topic must land in the mapped table")
    } finally q.stop()
  }
}
