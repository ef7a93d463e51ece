package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

class GraftSessionSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("lake tables queryable through plain SQL with engine functions") {
    catalog.GraftLake.invalidateCaches()
    val wh = Files.createTempDirectory("graft-session").toString
    val lake = new catalog.GraftLake(spark, wh)
    lake.write("users", Seq((1, "alice"), (2, "bob")).toDF("id", "name"),
      pks = Seq("id"))
    lake.write("scores", Seq((1, 9.5), (2, 7.0)).toDF("id", "score"))
    val gs = GraftSession(spark, wh)
    assert(gs.lake.listTables() === Seq("scores", "users"))
    val joined = gs.sql(
      """SELECT u.name, s.score FROM users u JOIN scores s ON u.id = s.id
        |ORDER BY u.id""".stripMargin).collect()
    assert(joined.map(r => (r.getString(0), r.getDouble(1))).toSeq ===
      Seq(("alice", 9.5), ("bob", 7.0)))
    // native engine functions available in SQL
    val fp = gs.sql("SELECT graft_rolling_hash(name) FROM users WHERE id = 1")
      .head().getLong(0)
    assert(fp != 0L)
    val cos = gs.sql(
      "SELECT graft_cosine_similarity(array(1.0D, 0.0D), array(1.0D, 0.0D))")
      .head().getDouble(0)
    assert(math.abs(cos - 1.0) < 1e-12)
    // refresh picks up new tables
    lake.write("extra", Seq((1, "x")).toDF("id", "v"))
    gs.refresh()
    assert(gs.sql("SELECT count(*) FROM extra").head().getLong(0) === 1L)
  }

  test("refresh reports a table with a corrupted manifest and registers the others") {
    catalog.GraftLake.invalidateCaches()
    val wh = Files.createTempDirectory("graft-session").toString
    val lake = new catalog.GraftLake(spark, wh)
    lake.write("fine", Seq((1, "a")).toDF("id", "v"))
    lake.write("broken", Seq((2, "b")).toDF("id", "v"))
    val v = lake.versions("broken").last
    val mf = new java.io.File(s"$wh/broken/_versions/v$v.json")
    Files.write(mf.toPath, "{not json".getBytes("UTF-8"))
    new java.io.File(mf.getParent, s".v$v.json.crc").delete()
    catalog.GraftLake.invalidateCaches()
    val gs = new GraftSession(spark, new catalog.GraftLake(spark, wh))
    assert(gs.refresh() === Seq("broken"))
    assert(gs.sql("SELECT count(*) FROM fine").head().getLong(0) === 1L)
  }

  test("a file-scheme warehouse warns when its Hadoop conf keeps the forking local FS") {
    val stock = new org.apache.hadoop.conf.Configuration()
    assert(GraftSession.forkingLocalFs("/tmp/wh", stock).exists(_.contains("forks")))
    assert(GraftSession.forkingLocalFs("file:///tmp/wh", stock).isDefined)
    assert(GraftSession.forkingLocalFs("s3a://bucket/wh", stock).isEmpty)
    val tuned = spark.sparkContext.hadoopConfiguration
    assert(GraftSession.forkingLocalFs("/tmp/wh", tuned).isEmpty)
  }
}
