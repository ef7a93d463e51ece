package graft

/** Suspension-injection helper for the cross-process HEARTBEAT spec: a
  * coordinator that is ALIVE but stops renewing its lease — it starts a
  * durable transaction with heartbeats disabled, lands a partial commit
  * on `ta`, signals readiness, then parks until told to resume. A
  * heartbeat-based recoverer must take the transaction over DURING the
  * park (the pid is alive the whole time — pid liveness alone would wait
  * out the 10-minute lock timeout); on resume this coordinator's
  * post-takeover commit must be FENCED and compensated.
  * `runMain graft.TxnSuspender <warehouse>` — exits 43 when fenced as
  * expected, 44 when the fence never fired, 45 on any other error. */
object TxnSuspender {
  def main(args: Array[String]): Unit = {
    val wh = args(0)
    val spark = GraftSession.localBuilder(4)
      .config("spark.graft.txn.heartbeatMs", "3600000") // never beats
      // journal as a FOREIGN host: same-host live coordinators are
      // protected by pid liveness (a GC-paused local driver must not be
      // compensated mid-flight), so the suspended-coordinator takeover
      // this helper exists to prove is the cross-host heartbeat path
      .config("spark.graft.txn.host", "txn-suspender-remote-sim")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val lake = new graft.catalog.GraftLake(spark, wh)
    import spark.implicits._
    val ready = new java.io.File(wh, "_suspender_ready")
    val resume = new java.io.File(wh, "_suspender_resume")
    try {
      lake.transactDurable(Seq("ta")) {
        lake.append("ta", Seq((100, "pre-suspend")).toDF("id", "v"))
        ready.createNewFile()
        // SUSPENDED: alive, holding its locks, renewing nothing
        while (!resume.exists()) Thread.sleep(200)
        // resumed after the takeover: this commit must not survive
        lake.append("ta", Seq((101, "post-takeover")).toDF("id", "v"))
      }
      System.exit(44) // the fence never fired — contract violated
    } catch {
      case e: IllegalStateException if e.getMessage.contains("fenced") =>
        println(s"[txn-suspender] fenced as expected")
        System.exit(43)
      case e: Throwable =>
        e.printStackTrace()
        System.exit(45)
    }
  }
}
