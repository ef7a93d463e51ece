package graft.catalog

import java.nio.file.Files

import graft.SparkTestSession
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.JobTimeline
import org.scalatest.funsuite.AnyFunSuite

/** Compaction picks its route from the manifest alone. A rewrite whose
  * rows (bounded by the footer row counts) fit `targetRecordsPerFile` and
  * whose files fit `spark.sql.adaptive.advisoryPartitionSizeInBytes` runs
  * in one task with no exchange and writes one file per partition. Any
  * other rewrite keeps the distributed route: a rebalance under adaptive
  * execution, a repartition to ceil(rows / target) tasks without it.
  * Every side of each bound, under adaptive execution on and off, must
  * land the table's rows and fold its deletion vector. */
class CompactRouteSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  /** A bucket(4, id) table of ids 0 … 599 landed in three writes, with
    * the ids divisible by 10 deleted through a deletion vector; `extra`
    * adds a column of that name. Returns its rows. */
  private def table(lake: GraftLake, t: String, extra: Option[String]): Seq[String] = {
    def rows(from: Int, to: Int) = {
      val df = (from until to).map(i => (i.toLong, s"v$i")).toDF("id", "v").repartition(2)
      extra.fold(df)(c => df.withColumn(c, col("id") * 2))
    }
    lake.write(t, rows(0, 200), partitions = Seq("bucket(4, id)"), pks = Seq("id"))
    lake.append(t, rows(200, 400))
    lake.append(t, rows(400, 600))
    assert(lake.deleteWhere(t, col("id") % 10 === 0) === 60L)
    assert(lake.liveDvs(t).nonEmpty)
    contents(lake, t)
  }

  private def contents(lake: GraftLake, t: String): Seq[String] =
    lake.read(t).drop("_inserted_at").collect().map(_.toString).sorted.toSeq

  /** Compacts `t` toward `target`-row files through a lake on a session
    * derived from `lake`'s with `confs` set; returns the shuffle bytes
    * its jobs wrote and its job count. */
  private def compact(lake: GraftLake, t: String, target: Long,
      confs: Seq[(String, String)]): (Long, Int) = {
    val derived = new GraftLake(GraftLake.derivedSession(lake.spark, confs), lake.warehouseDir)
    val (_, jobs) =
      JobTimeline.record(spark.sparkContext)(derived.compact(t, targetRecordsPerFile = target))
    (jobs.map(_.shuffleWriteBytes).sum, jobs.size)
  }

  /** Live data files of `t` per bucket directory. */
  private def filesPerBucket(lake: GraftLake, t: String): Map[String, Int] =
    lake.dataFiles(t).groupBy(f => new Path(f).getParent.getName).map(kv => kv._1 -> kv._2.size)

  private def aqe(on: Boolean) = Seq("spark.sql.adaptive.enabled" -> on.toString)

  for (on <- Seq(true, false)) {
    val mode = if (on) "AQE on" else "AQE off"

    test(s"a rewrite within both bounds runs one job with no shuffle, one file per bucket ($mode)") {
      GraftLake.invalidateCaches()
      val lake = new GraftLake(spark, Files.createTempDirectory("graft-croute").toString)
      val rows = table(lake, "t", None)
      val (shuffled, jobs) = compact(lake, "t", GraftLake.maxRecordsPerFile, aqe(on))
      assert(shuffled === 0L)
      assert(jobs === 1)
      assert(filesPerBucket(lake, "t").values.toSeq === Seq(1, 1, 1, 1))
      assert(lake.liveDvs("t").isEmpty)
      assert(contents(lake, "t") === rows)
    }

    test(s"a target below the rows keeps the distributed route, ceil(rows / target) files per bucket ($mode)") {
      GraftLake.invalidateCaches()
      val lake = new GraftLake(spark, Files.createTempDirectory("graft-croute").toString)
      val rows = table(lake, "t", None)
      val target = 40L
      val (shuffled, jobs) = compact(lake, "t", target, aqe(on))
      assert(shuffled > 0L)
      // AQE runs the rebalance's shuffle as a job of its own; the footer
      // row bound sizes the AQE-off repartition, with no count job
      assert(jobs === (if (on) 2 else 1))
      val perBucket = lake.read("t").select(input_file_name().as("f")).groupBy("f").count()
        .collect().groupBy(r => new Path(r.getString(0)).getParent.getName)
        .map { case (b, fs) => b -> (fs.map(_.getLong(1)).sum, fs.length) }
      assert(perBucket.size === 4)
      perBucket.foreach { case (b, (n, files)) =>
        assert(files <= (n + target - 1) / target, s"$b: $files files for $n rows")
      }
      assert(lake.liveDvs("t").isEmpty)
      assert(contents(lake, "t") === rows)
    }

    test(s"a user column shadowing the row count keeps the counted distributed route ($mode)") {
      GraftLake.invalidateCaches()
      val lake = new GraftLake(spark, Files.createTempDirectory("graft-croute").toString)
      val rows = table(lake, "t", Some(GraftLake.RowCountKey))
      val (shuffled, jobs) = compact(lake, "t", GraftLake.maxRecordsPerFile, aqe(on))
      assert(shuffled > 0L)
      // AQE off counts the rows it has no footer bound for
      assert(jobs === 2)
      assert(filesPerBucket(lake, "t").values.forall(_ == 1))
      assert(lake.liveDvs("t").isEmpty)
      assert(contents(lake, "t") === rows)
    }

    test(s"input above the advisory partition size keeps the distributed route ($mode)") {
      GraftLake.invalidateCaches()
      val lake = new GraftLake(spark, Files.createTempDirectory("graft-croute").toString)
      val rows = table(lake, "t", None)
      val (shuffled, _) = compact(lake, "t", GraftLake.maxRecordsPerFile,
        aqe(on) :+ ("spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "1"))
      assert(shuffled > 0L)
      assert(lake.liveDvs("t").isEmpty)
      assert(contents(lake, "t") === rows)
    }
  }
}
