package graft
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** Dev utility: latency floor of the Hadoop local-FS calls the engine's
  * metadata paths make (createTable / commitVersion are pure FS work, yet
  * the bench attributes ~50 ms / ~14 ms to each — ~11 s across a full
  * run). Isolates which primitive pays: mkdirs, create+write+close,
  * rename, exists, listStatus, getFileStatus. */
object FsFloor {
  def main(args: Array[String]): Unit = {
    val spark = graft.hadoop.FastLocalFileSystem.tune(SparkSession.builder())
      .master("local[2]")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val base = java.nio.file.Files.createTempDirectory("graft-fsfloor").toString
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = new Path(base).getFileSystem(conf)

    def time(label: String, n: Int)(f: Int => Unit): Unit = {
      val t0 = System.nanoTime()
      (0 until n).foreach(f)
      val ms = (System.nanoTime() - t0) / 1e6
      println(f"[fsfloor] $label%-34s ${ms / n}%8.2f ms/op (n=$n)")
    }
    time("fs.mkdirs", 50) { i => fs.mkdirs(new Path(s"$base/d$i/data")) }
    time("fs.create+write+close", 50) { i =>
      val out = fs.create(new Path(s"$base/d$i/meta.json"), true)
      out.write(("{\"x\":" + i + "}").getBytes("UTF-8")); out.close()
    }
    time("fs.rename", 50) { i =>
      fs.rename(new Path(s"$base/d$i/meta.json"), new Path(s"$base/d$i/m2.json"))
    }
    time("fs.exists", 50) { i => fs.exists(new Path(s"$base/d$i/m2.json")) }
    time("fs.listStatus", 50) { i => fs.listStatus(new Path(s"$base/d$i")) }
    time("fs.getFileStatus", 50) { i => fs.getFileStatus(new Path(s"$base/d$i/m2.json")) }
    time("fs.open+read+close", 50) { i =>
      val in = fs.open(new Path(s"$base/d$i/m2.json"))
      val b = new Array[Byte](64); in.read(b); in.close()
    }
    // same ops through the RAW local FS (no checksum siblings, and
    // create/mkdirs take the no-permission path — no chmod fork)
    val raw = org.apache.hadoop.fs.FileSystem.getLocal(conf).getRaw
    time("raw.mkdirs", 50) { i => raw.mkdirs(new Path(s"$base/r$i/data")) }
    time("raw.create+write+close", 50) { i =>
      val out = raw.create(new Path(s"$base/r$i/meta.json"), true)
      out.write(("{\"x\":" + i + "}").getBytes("UTF-8")); out.close()
    }
    time("raw.rename", 50) { i =>
      raw.rename(new Path(s"$base/r$i/meta.json"), new Path(s"$base/r$i/m2.json"))
    }
    // pure JVM baseline: is the cost Hadoop's (fork/permission layer) or
    // the filesystem's own directory-op latency?
    time("nio.createDirectories", 50) { i =>
      java.nio.file.Files.createDirectories(
        java.nio.file.Paths.get(s"$base/n$i/data"))
    }
    time("nio.write small file", 50) { i =>
      java.nio.file.Files.write(
        java.nio.file.Paths.get(s"$base/n$i/meta.json"),
        ("{\"x\":" + i + "}").getBytes("UTF-8"))
    }
    // the engine's actual createTable, end to end
    val lake = new graft.catalog.GraftLake(spark, s"$base/wh")
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(StructField("id", LongType),
      StructField("v", StringType)))
    locally {
      val samples = new java.util.concurrent.ConcurrentHashMap[String, Integer]()
      @volatile var sampling = true
      val main = Thread.currentThread()
      val sampler = new Thread(() => {
        while (sampling) {
          val st = main.getStackTrace.map(_.toString)
          st.find(f => !f.contains("FsFloor") && !f.contains("getStackTrace"))
            .foreach { _ =>
              val key = st.filter(f => (f.contains("hadoop") || f.contains("graft"))
                  && !f.contains("util.Shell"))
                .take(7).mkString(" <- ").take(520)
              samples.merge(if (key.isEmpty) st.take(3).mkString(" <- ") else key,
                1, (a, b) => a + b)
            }
          Thread.sleep(2)
        }
      })
      sampler.setDaemon(true); sampler.start()
      time("GraftLake.createTable", 60) { i =>
        lake.createTable(s"t$i", schema, Nil, Nil)
      }
      sampling = false
      import scala.jdk.CollectionConverters._
      samples.asScala.toSeq.sortBy(-_._2.toInt).take(8).foreach { case (f, c) =>
        println(s"[fsfloor]   $c x $f")
      }
    }
    // a minimal commit: empty append-shaped commitVersion equivalent is
    // not public; use write of a tiny df for the full write+commit path
    import spark.implicits._
    val df = Seq((1L, "a")).toDF("id", "v")
    time("lake.write tiny df", 10) { i => lake.write(s"w$i", df) }
    spark.stop()
  }
}
