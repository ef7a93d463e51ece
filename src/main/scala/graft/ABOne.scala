package graft
import org.apache.spark.sql.SparkSession

/** Dev utility: A/B a SESSION CONF against one registered query INSIDE one
  * JVM, interleaved (A,B,A,B,…) so shared-host speed drift cancels out of
  * the comparison — cross-JVM single samples on this sandbox swing ±30%
  * from neighbors alone, far wider than most optimization deltas.
  * `runMain graft.ABOne q160_bucketed_merge <sf-dir> 4 \
  *    spark.sql.adaptive.enabled true false` */
object ABOne {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = args(1)
    val iters = args(2).toInt
    val confKey = args(3)
    val valA = args(4)
    val valB = args(5)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.hadoop.FastLocalFileSystem.tune(SparkSession.builder())
      .withExtensions(new graft.plans.GraftExtensions)
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // warm-up under each variant: JVM/codegen/class-load out of the samples
    Seq(valA, valB).foreach { v =>
      spark.conf.set(confKey, v)
      SparkEntry.queries(name)(spark, sfDir).count()
    }
    val times = scala.collection.mutable.Map[String, List[Double]]()
      .withDefaultValue(Nil)
    (0 until iters).foreach { i =>
      Seq(valA, valB).foreach { v =>
        spark.conf.set(confKey, v)
        val t0 = System.nanoTime()
        val n = SparkEntry.queries(name)(spark, sfDir).count()
        val s = (System.nanoTime() - t0) / 1e9
        println(f"[ab] iter=$i $confKey=$v%-12s rows=$n time=$s%.3f s")
        times(v) = s :: times(v)
      }
    }
    Seq(valA, valB).foreach { v =>
      val ts = times(v).sorted
      println(f"[ab] SUMMARY $confKey=$v%-12s min=${ts.head}%.3f " +
        f"median=${ts(ts.size / 2)}%.3f n=${ts.size}")
    }
    spark.stop()
  }
}
