package graft.catalog

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import graft.{PauseGate, SparkTestSession}
import graft.ingest.{DedupConfig, IngestConfig, IngestPipeline}
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.hadoop.rewrite.{ParquetRewriter, RewriteOptions}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.CapturedTasks
import org.scalatest.funsuite.AnyFunSuite

/** Every Parquet file the lake writes — data files, deletion-vector,
  * change-feed and bloom sidecars, the `_dlq` table and the LSH index
  * tables — is zstd in every column chunk, whatever the session's codec;
  * the application's own Parquet output keeps the session's codec. A
  * table whose older data files are snappy still reads, upserts and
  * compacts to the same rows. */
class LakeCodecSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val CodecKey = "spark.sql.parquet.compression.codec"
  private val TimestampKey = "spark.sql.parquet.outputTimestampType"

  private def conf = spark.sparkContext.hadoopConfiguration

  /** The codecs named by the column chunks of the footer at `file`. */
  private def codecs(file: Path): Set[String] = {
    val r = ParquetFileReader.open(HadoopInputFile.fromPath(file, conf))
    try r.getFooter.getBlocks.asScala.flatMap(_.getColumns.asScala.map(_.getCodec.name)).toSet
    finally r.close()
  }

  /** The physical types of the `column` column at `file`, if any. */
  private def timestampTypes(file: Path, column: String = "_inserted_at"): Set[String] = {
    val r = ParquetFileReader.open(HadoopInputFile.fromPath(file, conf))
    try r.getFooter.getFileMetaData.getSchema.getColumns.asScala
      .filter(_.getPath.toSeq == Seq(column))
      .map(_.getPrimitiveType.getPrimitiveTypeName.name).toSet
    finally r.close()
  }

  /** Every `.parquet` file under `dir`, with its footer's codecs. */
  private def parquetFiles(dir: String): Seq[(String, Set[String])] = {
    val root = new Path(dir)
    val it = root.getFileSystem(conf).listFiles(root, true)
    Iterator.continually(it).takeWhile(_.hasNext).map(_.next().getPath)
      .filter(_.getName.endsWith(".parquet")).map(p => p.toString -> codecs(p)).toSeq
  }

  /** Rewrites the Parquet file at `file` in place with `codec`: the same
    * schema, footer metadata and rows in the same order. */
  private def reencode(file: Path, codec: CompressionCodecName): Unit = {
    val fs = file.getFileSystem(conf)
    val tmp = new Path(file.getParent, s".reencode-${file.getName}")
    val w = new ParquetRewriter(new RewriteOptions.Builder(conf, file, tmp).transform(codec).build())
    try w.processBlocks() finally w.close()
    assert(fs.delete(file, false) && fs.rename(tmp, file), s"re-encode $file")
  }

  private def rows(ids: Range, v: String): DataFrame =
    ids.map(i => (i.toLong, s"$v$i " * 4)).toDF("id", "v").repartition(2)

  private def model(ids: Range, v: String): Map[Long, String] =
    ids.map(i => i.toLong -> s"$v$i " * 4).toMap

  private def contents(df: DataFrame): Map[Long, String] =
    df.select("id", "v").as[(Long, String)].collect().toMap

  test("every file a lake operation writes is zstd; the application's writes keep their codec") {
    GraftLake.invalidateCaches()
    val wh = Files.createTempDirectory("graft-codec").toString
    val sessionCodec = spark.conf.getOption(CodecKey)
    val lake = new GraftLake(spark, wh)
    lake.write("t", rows(0 until 200, "a"), partitions = Seq("bucket(4, id)"), pks = Seq("id"))
    lake.setTableProperty("t", TableMeta.CdfEnabledKey, "true")
    lake.append("t", rows(200 until 400, "b"))
    var want = model(0 until 200, "a") ++ model(200 until 400, "b")
    // a merge-on-read upsert: a DV over the matched rows, the batch's rows
    // and its change files
    lake.upsert("t", rows(150 until 250, "u"))
    want ++= model(150 until 250, "u")
    // a DELETE under dv.maxEntries lands a DV sidecar
    lake.deleteWhere("t", col("id") % 7 === 0)
    want = want.filter(_._1 % 7 != 0)
    assert(lake.liveDvs("t").nonEmpty)
    // past the bound an upsert folds the table's DVs into rewritten data
    // files, and a DELETE rewrites the files it hits
    spark.conf.set("spark.graft.dv.maxEntries", "0")
    try {
      lake.upsert("t", rows(100 until 150, "f"))
      assert(lake.liveDvs("t").isEmpty)
      lake.deleteWhere("t", col("id") % 5 === 0)
    } finally spark.conf.unset("spark.graft.dv.maxEntries")
    want = (want ++ model(100 until 150, "f")).filter(_._1 % 5 != 0)
    lake.compact("t")
    lake.rebucket("t", 8)
    lake.buildBloomIndex("t", "id")
    lake.append("t", rows(400 until 450, "c"))
    want ++= model(400 until 450, "c")
    assert(lake.refreshBloomIndexes("t")("id") > 0L)
    assert(contents(lake.read("t")) === want)

    // an ingest flush that parks a dead letter and admits an LSH index,
    // run by a stream
    val p = new IngestPipeline(spark, IngestConfig(wh, triggerMs = 100L,
      dedup = Map("d" -> DedupConfig("doc_id", "text"))))
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[(String, Int, Long, Array[Byte])]
    val docs = Seq("""{"doc_id":1,"text":"alpha beta gamma delta epsilon zeta eta theta"}""",
      """{"doc_id":2,"text":"one two three four five six seven eight"}""", "{{{not json")
    mem.addData(docs.zipWithIndex.map { case (d, i) => ("d", 0, i.toLong, d.getBytes("UTF-8")) })
    val q = p.start(mem.toDF().toDF("topic", "partition", "offset", "value"), s"$wh-ckpt")
    try q.processAllAvailable() finally q.stop()
    assert(p.lake.read("_dlq").count() === 1)
    assert(p.lake.read("d_lshidx_docs").count() === 2)

    val files = parquetFiles(wh)
    for (dir <- Seq("t/data", "t/_dv", "t/_changes", "t/_bloom", "d/data", "_dlq/data",
        "d_lshidx_docs/data", "d_lshidx_bands/data"))
      assert(files.exists(_._1.contains(s"$wh/$dir/")), s"no Parquet file under $dir")
    val other = files.filter(_._2 != Set("ZSTD"))
    assert(other.isEmpty, other.mkString("\n"))
    // the write session lands every stamp as INT64 TIMESTAMP_MICROS
    val stamps = files.map(f => timestampTypes(new Path(f._1))).filter(_.nonEmpty)
    assert(stamps.nonEmpty && stamps.forall(_ == Set("INT64")), stamps)

    assert(spark.conf.getOption(CodecKey) === sessionCodec)
    assert(spark.conf.get(CodecKey) === "snappy")
    assert(spark.conf.get(TimestampKey) === "INT96")
    // the application's own write runs while a lake write is paused
    // mid-job, and keeps the caller's codec and timestamp type
    val gate = new PauseGate
    val paused = CapturedTasks.submit(spark)(
      lake.append("paused", rows(0 until 10, "p").filter(gate.open)))
    val app = s"${Files.createTempDirectory("graft-codec-app")}/out"
    try {
      assert(gate.awaitEntered(), "the lake write never reached the gate")
      rows(0 until 10, "x").withColumn("ts", current_timestamp()).write.parquet(app)
    } finally gate.release()
    CapturedTasks.await(paused)
    val appFiles = parquetFiles(app)
    assert(appFiles.nonEmpty && appFiles.forall(_._2 == Set("SNAPPY")), appFiles.mkString("\n"))
    val appStamps = appFiles.map(f => timestampTypes(new Path(f._1), "ts"))
    assert(appStamps.forall(_ == Set("INT96")), appStamps)
    val pausedFiles = parquetFiles(s"$wh/paused/data")
    assert(pausedFiles.nonEmpty && pausedFiles.forall(_._2 == Set("ZSTD")), pausedFiles.mkString("\n"))
    assert(lake.read("paused").count() === 10)
  }

  test("a table with snappy data files from before zstd reads, upserts and compacts to the same rows") {
    GraftLake.invalidateCaches()
    val cat = "gcodec"
    val wh = Files.createTempDirectory("graft-codec-mixed").toString
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    val older = new GraftLake(spark, wh)
    older.write("t", rows(0 until 200, "a"), partitions = Seq("bucket(4, id)"), pks = Seq("id"))
    older.setTableProperty("t", TableMeta.CdfEnabledKey, "true")
    val v0 = older.versions("t").last
    older.append("t", rows(200 until 300, "b"))
    val vAppend = older.versions("t").last
    // the older state: each committed data file snappy, before any DV names it
    val snappy = older.dataFiles("t")
    snappy.foreach(f => reencode(new Path(f), CompressionCodecName.SNAPPY))
    assert(snappy.nonEmpty && snappy.forall(f => codecs(new Path(f)) == Set("SNAPPY")))

    // the rest of the commits come from a process that opens the table anew
    GraftLake.invalidateCaches()
    val lake = new GraftLake(spark, wh)
    val first = model(0 until 200, "a")
    var want = first ++ model(200 until 300, "b")
    assert(contents(lake.read("t")) === want)
    assert(contents(spark.sql(s"SELECT id, v FROM $cat.t")) === want)
    assert(contents(spark.sql(s"SELECT id, v FROM $cat.t VERSION AS OF $v0")) === first)

    lake.upsert("t", rows(150 until 350, "u"))
    val vUpsert = lake.versions("t").last
    assert(lake.liveDvs("t").nonEmpty)
    val pre = want
    want ++= model(150 until 350, "u")
    assert(contents(lake.read("t")) === want)
    assert(contents(spark.sql(s"SELECT id, v FROM $cat.t")) === want)
    assert(contents(spark.sql(s"SELECT id, v FROM $cat.t VERSION AS OF $vAppend")) === pre)
    val feed = lake.tableChanges("t", v0, vUpsert)
      .select(col("id"), col("v"), col(GraftLake.ChangeTypeCol), col(GraftLake.CommitVersionCol))
      .as[(Long, String, String, Long)].collect().toSet
    val updated = (150 until 300).map(_.toLong)
    assert(feed ===
      model(200 until 300, "b").map { case (id, v) => (id, v, "insert", vAppend) }.toSet ++
      updated.map(id => (id, pre(id), "update_preimage", vUpsert)) ++
      updated.map(id => (id, want(id), "update_postimage", vUpsert)) ++
      model(300 until 350, "u").map { case (id, v) => (id, v, "insert", vUpsert) })

    lake.compact("t")
    assert(lake.liveDvs("t").isEmpty)
    val live = lake.dataFiles("t")
    assert(live.nonEmpty && live.forall(f => codecs(new Path(f)) == Set("ZSTD")), live)
    assert(contents(lake.read("t")) === want)
    assert(contents(spark.sql(s"SELECT id, v FROM $cat.t")) === want)
  }
}
