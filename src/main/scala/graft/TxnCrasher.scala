package graft

/** Crash-injection helper for the cross-process transaction spec: starts
  * a DURABLE multi-table transaction against an existing warehouse,
  * commits to member `ta`, then HALTS the JVM before touching `tb` —
  * leaving exactly the state a died-mid-transaction coordinator leaves
  * (journal + lock files + one member's partial commit). The parent spec
  * then proves the next durable writer detects the dead pid, compensates
  * `ta`, breaks the locks and proceeds atomically.
  * `runMain graft.TxnCrasher <warehouse>` — exits 42 via halt. */
object TxnCrasher {
  def main(args: Array[String]): Unit = {
    val wh = args(0)
    val spark = GraftSession.localBuilder(4).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val lake = new graft.catalog.GraftLake(spark, wh)
    lake.transactDurable(Seq("ta", "tb")) {
      import spark.implicits._
      lake.append("ta", (100 until 105).map(i => (i, s"crash$i")).toDF("id", "v"))
      println(s"[txn-crasher] partial commit landed; halting pid " +
        s"${ProcessHandle.current().pid()}")
      Runtime.getRuntime.halt(42) // no shutdown hooks, no compensation
    }
  }
}
