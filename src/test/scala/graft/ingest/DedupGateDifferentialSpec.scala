package graft.ingest

import java.nio.file.Files

import graft.SparkTestSession
import graft.catalog.GraftLake
import graft.operators.DedupOps
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The ingest near-dup gate has two probes: a trigger-sized batch is
  * verified on the driver over collected rows; a batch above the driver
  * bound or `spark.graft.ingest.dedupBroadcastMaxRows`, or one whose ids
  * the driver cannot key, takes the distributed probe. The same docs
  * through both must flag, land and index the same rows. */
class DedupGateDifferentialSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def words(prefix: String, n: Int): Seq[String] = (1 to n).map(i => s"$prefix$i")

  /** `base` with the tokens at `at` replaced. */
  private def edit(base: Seq[String], at: Int*): String =
    base.zipWithIndex.map { case (w, i) => if (at.contains(i)) s"x$w" else w }.mkString(" ")

  private def doc(id: Option[String], text: String): Array[Byte] = {
    def q(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    s"""{"doc_id":${id.fold("null")(q)},"text":${q(text)}}""".getBytes("UTF-8")
  }

  private def batchOf(docs: (Option[String], String)*): DataFrame =
    docs.zipWithIndex.map { case ((id, t), i) => ("dd", 0, i.toLong, doc(id, t)) }
      .toDF("topic", "partition", "offset", "value")

  // word 3-shingles: a doc of n distinct words has n - 2; replacing its
  // last word keeps n - 3 of them, so Jaccard = (n - 3) / (n - 1)
  private val at = words("at", 11)      // 8 / 10 = 0.8: exactly the threshold
  private val above = words("ab", 12)   // 9 / 11: just above
  private val below = words("be", 10)   // 7 / 9: just below
  // a chain: each link changes one middle word (3 shingles), so
  // A ≈ B and B ≈ C (25 / 31) while A and C (22 / 34) are not near
  private val chain = words("ch", 30)
  private val plain = (1 to 4).map(i => words(s"p${i}w", 12).mkString(" "))
  // U+FFFD sorts BELOW U+1F600 in UTF-8 byte order (SQL `<`) but above
  // its UTF-16 surrogates (String.compareTo)
  private val hi = "\uFFFDid"
  private val emoji = "\uD83D\uDE00id"

  private val batches: Seq[Seq[(Option[String], String)]] = Seq(
    Seq(Some("a1") -> at.mkString(" "), Some("b1") -> above.mkString(" "),
      Some("c1") -> below.mkString(" "), Some("p1") -> plain(0),
      Some("p2") -> plain(1), Some("s1") -> "too short",
      None -> plain(2), Some("é1") -> words("nx", 9).mkString(" ")),
    Seq(Some("a2") -> edit(at, 10), Some("b2") -> edit(above, 11),
      Some("c2") -> edit(below, 9), Some("p3") -> plain(0),
      Some("k1") -> chain.mkString(" "), Some("k2") -> edit(chain, 10),
      Some("k3") -> edit(chain, 10, 20),
      Some(hi) -> words("nu", 14).mkString(" "),
      Some(emoji) -> words("nu", 14).mkString(" "),
      Some("dup") -> plain(3), Some("dup") -> plain(3),
      Some("s2") -> "too short", Some("s3") -> "", None -> plain(2),
      Some("é2") -> words("nx", 9).mkString(" ")),
    Seq(Some("q1") -> plain(3), Some("q0") -> edit(chain, 10)))

  private def run(maxRows: Option[String]): (IngestPipeline, Seq[Seq[String]]) = {
    val key = "spark.graft.ingest.dedupBroadcastMaxRows"
    val before = spark.conf.getOption(key)
    maxRows.foreach(spark.conf.set(key, _))
    try {
      graft.catalog.GraftLake.invalidateCaches()
      val p = new IngestPipeline(spark, IngestConfig(
        Files.createTempDirectory("graft-dedup-diff").toString,
        dedup = Map("dd" -> DedupConfig("doc_id", "text"))))
      batches.zipWithIndex.foreach { case (b, i) => p.processBatch(batchOf(b: _*), i) }
      // the second batch again: a redelivery after a lost landing commit
      p.processBatch(batchOf(batches(1): _*), batches.size)
      def rows(t: String): Seq[String] = {
        val df = p.lake.read(t)
        df.select(df.columns.filterNot(_.startsWith("_")).sorted.map(c => col(s"`$c`")): _*)
          .collect().map(_.toString).toSeq.sorted
      }
      val schemas = Seq("dd", "dd_lshidx_docs", "dd_lshidx_bands").map(t =>
        Seq(p.lake.read(t).schema.filterNot(_.name.startsWith("_")).sortBy(_.name).mkString(",")))
      (p, schemas ++ Seq("dd", "dd_lshidx_docs", "dd_lshidx_bands").map(rows))
    } finally before match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("the driver-side and the distributed probe flag, land and index the same rows") {
    val (driver, onDriver) = run(None)
    val (_, distributed) = run(Some("0"))
    Seq("landed schema", "docs schema", "bands schema", "landed rows",
      "indexed docs", "indexed bands").zip(onDriver.zip(distributed)).foreach {
      case (what, (a, b)) => assert(a === b, what)
    }
    // the stream exercises what it plants
    val flags = driver.lake.read("dd").select("doc_id", "is_dup").distinct()
      .collect().map(r => Option(r.getString(0)) -> r.getLong(1)).toMap
    Seq("a2", "b2", "p3", "k2", "k3", emoji, "é2", "q1", "q0").foreach(id =>
      assert(flags(Some(id)) === 1L, id))
    Seq("a1", "c2", "k1", hi, "dup", "s1", "s2", "s3", "p1").foreach(id =>
      assert(flags(Some(id)) === 0L, id))
    assert(flags(None) === 0L)
    val landed = driver.lake.read("dd")
    assert(landed.count() === batches.map(_.size).sum + batches(1).size)
    // the redelivered batch is exempt: its admitted ids stay indexed once
    assert(driver.lake.read("dd_lshidx_docs").filter(col("doc_id") === "k1").count() === 1)
    assert(driver.lake.read("dd_lshidx_docs").filter(col("doc_id").isNull).count() === 0)
  }

  test("the gate verifies on the driver only a counted batch within both bounds") {
    val cap = DedupOps.DriverVerifyMaxRows
    val bc = 5000000L
    assert(IngestPipeline.dedupRoute(10, bc) === (true, true))
    assert(IngestPipeline.dedupRoute(cap, bc) === (true, true))
    assert(IngestPipeline.dedupRoute(cap + 1, bc) === (false, true))
    assert(IngestPipeline.dedupRoute(-1, bc) === (false, true), "unknown size")
    assert(IngestPipeline.dedupRoute(bc, bc) === (false, true))
    assert(IngestPipeline.dedupRoute(bc + 1, bc) === (false, false))
    assert(IngestPipeline.dedupRoute(10, 0) === (false, false))
    assert(IngestPipeline.dedupRoute(10, 9) === (false, false))
    assert(IngestPipeline.dedupRoute(10, 10) === (true, true))
  }

  /** One staged probe of `batch` against the index `prefix` of `lake`,
    * admitted: the (id, is_dup) rows it flags, sorted. */
  private def probe(lake: GraftLake, batch: DataFrame, driverVerify: Boolean,
      hintBroadcast: Boolean = true): Seq[(String, Long)] = {
    val (flag, admit) = DedupOps.incrementalNearDupsStaged(lake, "t", batch,
      "doc_id", "text", threshold = 0.8, parallelAdmit = true,
      hintBroadcast = hintBroadcast, driverVerify = driverVerify)
    val flags = flag(batch.select("doc_id"), "is_dup").collect()
      .map(r => String.valueOf(r.get(0)) -> r.getLong(1)).toSeq.sorted
    admit()
    flags
  }

  private def newLake(): GraftLake = {
    GraftLake.invalidateCaches()
    new GraftLake(spark, Files.createTempDirectory("graft-dedup-diff").toString)
  }

  // the index's id type can differ from a later batch's (an index built
  // from int ids, a batch whose ids JSON inference reads as bigint): the
  // driver cannot key such a batch against the index with SQL semantics,
  // so it takes the distributed probe with broadcast hints
  test("a batch whose id type differs from the index's takes the distributed probe") {
    val texts = Seq(at.mkString(" "), plain(0), edit(at, 10), plain(1), plain(0))
    Seq("int" -> "bigint", "bigint" -> "int").foreach { case (indexed, batched) =>
      def docs(ids: Seq[Int], t: String) = ids.map(i => (i, texts(i - 1)))
        .toDF("doc_id", "text").withColumn("doc_id", col("doc_id").cast(t))
      val flags = Seq(true, false).map { hinted =>
        val lake = newLake()
        probe(lake, docs(Seq(1, 2), indexed), driverVerify = hinted, hintBroadcast = hinted)
        assert(lake.read("t_docs").schema("doc_id").dataType.simpleString === indexed)
        probe(lake, docs(Seq(3, 4, 5), batched), driverVerify = hinted, hintBroadcast = hinted)
      }
      assert(flags(0) === flags(1))
      assert(flags(0) === Seq("3" -> 1L, "4" -> 0L, "5" -> 1L), indexed -> batched)
    }
  }

  test("a 100k-row batch on the driver flags what the distributed probe does, with plans that hold no key list") {
    val n = 100000L
    // 8 distinct words per doc; the even ids of the second batch copy a
    // doc of the first, and in each batch an id ending in 3 copies its
    // batch-mate ending in 1
    def docs(from: Long) = spark.range(from, from + n).select(col("id").as("doc_id"),
      when(col("id") >= n && col("id") % 2 === 0, col("id") - n)
        .when(col("id") % 10 === 3, col("id") - 2).otherwise(col("id")).as("src"))
      .select(col("doc_id"), concat_ws(" ", (0 until 8).map(w =>
        concat(lit(s"w${w}x"), col("src").cast("string"))): _*).as("text"))
    val expressions = scala.collection.mutable.ArrayBuffer.empty[Int]
    val Seq(onDriver, distributed) = Seq(true, false).map { driver =>
      val lake = newLake()
      probe(lake, docs(0), driverVerify = driver, hintBroadcast = driver)
      val batch = docs(n)
      val (flag, admit) = DedupOps.incrementalNearDupsStaged(lake, "t", batch,
        "doc_id", "text", threshold = 0.8, parallelAdmit = true,
        hintBroadcast = driver, driverVerify = driver)
      val flagged = flag(batch, "is_dup")
      if (driver) expressions += flagged.queryExecution.optimizedPlan
        .collect { case p => p.expressions.map(_.collect { case e => e }.size).sum }.sum
      val dups = flagged.filter(col("is_dup") === 1L).select("doc_id")
        .collect().map(_.getLong(0)).toSet
      admit()
      (dups, lake.read("t_docs").count(), lake.read("t_bands").count())
    }
    assert(onDriver._1.size === n / 2 + n / 10)
    assert(onDriver === distributed)
    // the flag probes one broadcast set; a literal per dup id would put
    // 60k expressions into the landing plan
    assert(expressions.head < 200, expressions)
  }
}
