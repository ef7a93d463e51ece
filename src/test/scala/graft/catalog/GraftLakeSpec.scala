package graft.catalog

import java.nio.file.Files

import graft.SparkTestSession
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

class GraftLakeSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def newLake(): GraftLake = {
    GraftLake.invalidateCaches()
    new GraftLake(spark, Files.createTempDirectory("graft-lake").toString)
  }

  private def rows(df: DataFrame, cols: String*): Set[Seq[Any]] =
    df.select(cols.map(col): _*).collect().map(_.toSeq).toSet

  test("golden upsert sequence: alice -> bob -> (carol,dave)") {
    val lake = newLake()
    def batch(xs: (Int, String)*): DataFrame =
      xs.toSeq.toDF("id", "name")
    lake.write("users", batch(1 -> "alice"), pks = Seq("id"))
    assert(rows(lake.read("users"), "id", "name") === Set(Seq(1, "alice")))
    lake.write("users", batch(1 -> "bob"), pks = Seq("id"))
    assert(rows(lake.read("users"), "id", "name") === Set(Seq(1, "bob")))
    lake.write("users", batch(1 -> "carol", 2 -> "dave"), pks = Seq("id"))
    assert(rows(lake.read("users"), "id", "name") ===
      Set(Seq(1, "carol"), Seq(2, "dave")))
  }

  // Spark's cache manager matches a new read that plans the same
  // directory scan to a cached one, so a commit that changes the live
  // files must refresh the cached plans over the table's data.
  test("a cached read sees an upsert's fold, and the next read after unpersist succeeds") {
    val lake = newLake()
    lake.write("cached", (1 to 40).map(i => (i.toLong, s"v$i")).toDF("id", "v"),
      pks = Seq("id"))
    val held = lake.read("cached").cache()
    assert(held.count() === 40)
    // the fold leaves no deletion vector, so the next read plans the same
    // plain directory scan as the cached one
    spark.conf.set("spark.graft.dv.maxEntries", "0")
    try lake.upsert("cached",
      ((30 to 40) ++ (41 to 45)).map(i => (i.toLong, s"u$i")).toDF("id", "v"))
    finally spark.conf.unset("spark.graft.dv.maxEntries")
    def check(): Unit = {
      val now = lake.read("cached")
      assert(now.count() === 45)
      assert(now.filter($"v".startsWith("u")).count() === 16)
    }
    check()
    held.unpersist(blocking = true)
    check()
  }

  test("_inserted_at set on insert, preserved on merge-update") {
    val lake = newLake()
    lake.write("t", Seq((1, "a")).toDF("id", "v"), pks = Seq("id"))
    val ins1 = lake.read("t").select("_inserted_at").head().getTimestamp(0)
    assert(ins1 != null)
    Thread.sleep(50)
    lake.write("t", Seq((1, "b"), (2, "c")).toDF("id", "v"), pks = Seq("id"))
    val after = lake.read("t")
      .select("id", "_inserted_at").collect()
      .map(r => r.getInt(0) -> r.getTimestamp(1)).toMap
    assert(after(1) === ins1, "_inserted_at must not change on update")
    assert(after(2).after(ins1), "new row gets fresh _inserted_at")
  }

  test("duplicate PKs in one batch: last wins by ordering column") {
    val lake = newLake()
    lake.createTable("t",
      StructType(Seq(StructField("id", IntegerType), StructField("v", StringType),
        StructField("off", LongType))), pks = Seq("id"))
    // make the table pre-existing so write() takes the upsert path
    lake.write("t", Seq((0, "seed", 0L)).toDF("id", "v", "off"), pks = Seq("id"))
    lake.write("t",
      Seq((1, "first", 10L), (1, "second", 20L), (1, "stale", 15L)).toDF("id", "v", "off"),
      pks = Seq("id"), ordering = Seq(col("off")))
    assert(rows(lake.read("t"), "id", "v") === Set(Seq(0, "seed"), Seq(1, "second")))
  }

  test("no PKs configured -> append semantics (duplicates kept)") {
    val lake = newLake()
    lake.write("logs", Seq((1, "x")).toDF("id", "v"))
    lake.write("logs", Seq((1, "x")).toDF("id", "v"))
    assert(lake.read("logs").count() === 2)
  }

  test("schema evolution: new column added, nulls backfilled") {
    val lake = newLake()
    lake.write("e", Seq((1, "a")).toDF("id", "v"))
    lake.write("e", Seq((2, "b", 9.5)).toDF("id", "v", "score"))
    val got = lake.read("e").select("id", "score").collect()
      .map(r => r.getInt(0) -> (if (r.isNullAt(1)) null else r.getDouble(1))).toMap
    assert(got(1) === null)
    assert(got(2) === 9.5)
  }

  test("schema evolution: int widens to long; files stay readable") {
    val lake = newLake()
    lake.write("w", Seq((1, 100)).toDF("id", "n"))
    assert(lake.readMeta("w").schema("n").dataType === IntegerType)
    lake.write("w", Seq((2L, 5000000000L)).toDF("id", "n")
      .select(col("id").cast("int").as("id"), col("n")))
    assert(lake.readMeta("w").schema("n").dataType === LongType)
    val got = lake.read("w").select("id", "n").collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(got === Map(1 -> 100L, 2 -> 5000000000L))
  }

  test("schema evolution: double column tolerates float batch unchanged") {
    val lake = newLake()
    lake.write("f", Seq((1, 1.5)).toDF("id", "x"))
    lake.write("f", Seq((2, 2.5f)).toDF("id", "x"))
    assert(lake.readMeta("f").schema("x").dataType === DoubleType)
    assert(lake.read("f").count() === 2)
  }

  test("schema evolution: incompatible type change rejected") {
    val lake = newLake()
    lake.write("bad", Seq((1, "str")).toDF("id", "v"))
    val e = intercept[LandedTypes.SchemaEvolutionException] {
      lake.write("bad", Seq((2, true)).toDF("id", "v"))
    }
    assert(e.getMessage.contains("Incompatible type for column 'v'"))
  }

  test("nested struct/array land as JSON strings and never retype") {
    val lake = newLake()
    val df = Seq((1, ("alice", 30), Seq("a", "b"))).toDF("id", "user", "tags")
    lake.write("j", df)
    val meta = lake.readMeta("j")
    assert(meta.schema("user").dataType === StringType)
    assert(LandedTypes.isJsonColumn(meta.schema("user")))
    val got = lake.read("j").select("user", "tags").head()
    assert(got.getString(0).contains("alice"))
    assert(got.getString(1) === """["a","b"]""")
    // JSON column accepts more nested data (Keep), but not an int
    lake.write("j", Seq((2, ("bob", 40), Seq("c"))).toDF("id", "user", "tags"))
    assert(lake.read("j").count() === 2)
  }

  test("expression partitioning: year/month layout on disk + pruned read") {
    val lake = newLake()
    val df = Seq(
      (1, java.sql.Timestamp.valueOf("2023-01-15 00:00:00"), "a"),
      (2, java.sql.Timestamp.valueOf("2024-06-15 00:00:00"), "b"))
      .toDF("id", "ts", "v")
    lake.write("p", df, partitions = Seq("year(ts)", "month(ts)"), pks = Seq("id"))
    val dir = new java.io.File(s"${lake.read("p").inputFiles.head}")
    assert(dir.toString.contains("__p_year_ts="))
    assert(dir.toString.contains("__p_month_ts="))
    // upsert updates one partition, leaves the other file untouched
    val beforeFiles = lake.read("p").inputFiles.toSet
    lake.write("p",
      Seq((2, java.sql.Timestamp.valueOf("2024-06-15 00:00:00"), "b2")).toDF("id", "ts", "v"),
      partitions = Seq("year(ts)", "month(ts)"), pks = Seq("id"))
    val afterFiles = lake.read("p").inputFiles.toSet
    val untouched2023 = beforeFiles.filter(_.contains("__p_year_ts=2023"))
    assert(untouched2023.subsetOf(afterFiles),
      "2023 partition files must survive an upsert touching only 2024")
    assert(rows(lake.read("p"), "id", "v") === Set(Seq(1, "a"), Seq(2, "b2")))
  }

  test("bucket(n, col) layout: parse, write/read round-trip, guards, DDL split") {
    // parse + spec splitting (the SQL 'partitions' property is one string)
    val b = PartitionExpr.parse("bucket(16, id)")
      .asInstanceOf[PartitionExpr.Bucket]
    assert(b.n === 16 && b.columns === Seq("id") &&
      b.outputName === "__p_bucket_16_id")
    assert(PartitionExpr.parse("BUCKET( 4 , a, b )") ===
      PartitionExpr.Bucket(4, Seq("a", "b")))
    assert(PartitionExpr.splitSpecs("bucket(16, id), year(ts), seg") ===
      Seq("bucket(16, id)", "year(ts)", "seg"))
    intercept[IllegalArgumentException](PartitionExpr.parse("bucket(0, id)"))
    intercept[IllegalArgumentException](PartitionExpr.parse("hour(ts)"))

    val lake = newLake()
    val df = (0 until 200).map(i => (i.toLong, s"v$i")).toDF("id", "v")
    lake.write("bk", df, partitions = Seq("bucket(4, id)"), pks = Seq("id"))
    // layout: every row landed in the directory its key hashes to
    val dirs = lake.read("bk").inputFiles
      .flatMap(_.split('/').find(_.startsWith("__p_bucket_4_id="))).toSet
    assert(dirs.size === 4, s"4 buckets expected, got $dirs")
    assert(rows(lake.read("bk"), "id", "v") ===
      df.collect().map(_.toSeq).toSet)
    // upsert keeps merge semantics on the bucketed layout
    lake.write("bk", Seq((7L, "UPD"), (777L, "NEW")).toDF("id", "v"),
      pks = Seq("id"))
    assert(lake.read("bk").count() === 201)
    assert(rows(lake.read("bk").filter(col("id").isin(7L, 777L)), "id", "v")
      === Set(Seq(7L, "UPD"), Seq(777L, "NEW")))
    // bucket source columns are guarded like any partition source
    intercept[IllegalArgumentException](lake.dropColumn("bk", "id"))
    intercept[IllegalArgumentException](lake.renameColumn("bk", "id", "id2"))

    // partition column NAMES Hive-escape too (Spark's writer escapes both
    // halves of `name=value`): a PK with an escapable char must still hit
    // the manifest-planned fast path's rendered rel-dirs — an unescaped
    // name would match nothing and land the update as a DUPLICATE insert
    val lake2 = newLake()
    val df2 = (0 until 40).map(i => (i.toLong, s"v$i")).toDF("a:b", "v")
    lake2.write("bkx", df2, partitions = Seq("bucket(4, a:b)"),
      pks = Seq("a:b"))
    // on disk the dir is `__p_bucket_4_a%3Ab=...`; dataFiles returns URI
    // strings, where the literal '%' re-escapes to %25
    assert(lake2.dataFiles("bkx").exists(_.contains("__p_bucket_4_a%253Ab=")),
      s"writer escapes the dir name: ${lake2.dataFiles("bkx").take(2)}")
    lake2.write("bkx", Seq((7L, "UPD")).toDF("a:b", "v"), pks = Seq("a:b"))
    assert(lake2.read("bkx").count() === 40,
      "the escaped-name bucket must be rewritten, never duplicated")
    assert(rows(lake2.read("bkx").filter(col("`a:b`") === 7L), "v") ===
      Set(Seq("UPD")))
  }

  test("partition source columns never change type (a widened source splits the layout)") {
    // bucket source: hash(42: INT) != hash(42L: LONG) — widening the key
    // column would make new writes (and the PK-functional merge probe)
    // target different buckets than the rows already stored
    val lake = newLake()
    lake.write("bw", Seq((1, "a")).toDF("id", "v"),
      partitions = Seq("bucket(4, id)"), pks = Seq("id"))
    assert(lake.readMeta("bw").schema("id").dataType === IntegerType)
    val e = intercept[LandedTypes.SchemaEvolutionException] {
      lake.write("bw", Seq((5000000000L, "b")).toDF("id", "v"), pks = Seq("id"))
    }
    assert(e.getMessage.contains("partition source"))
    assert(rows(lake.read("bw"), "id", "v") === Set(Seq(1, "a")),
      "rejected evolution must leave the table untouched")
    // raw partition source: int→double would render `seg=2.5`-style dirs
    // beside the existing `seg=2` ones — same split, different rendering
    val lake2 = newLake()
    lake2.write("rw", Seq((1, 10, "a")).toDF("id", "seg", "v"),
      partitions = Seq("seg"), pks = Seq("id"))
    intercept[LandedTypes.SchemaEvolutionException] {
      lake2.write("rw", Seq((2, 2.5, "b")).toDF("id", "seg", "v"),
        pks = Seq("id"))
    }
    // NON-source columns keep widening freely on a partitioned table
    val lake3 = newLake()
    lake3.write("bw2", Seq((1, 10, "a")).toDF("id", "n", "v"),
      partitions = Seq("bucket(4, id)"), pks = Seq("id"))
    lake3.write("bw2", Seq((2, 5000000000L, "b")).toDF("id", "n", "v"),
      pks = Seq("id"))
    assert(lake3.readMeta("bw2").schema("n").dataType === LongType)
    assert(lake3.read("bw2").count() === 2)
  }

  test("bucketKeyPruner: equality candidates re-hash exactly like the write path") {
    import org.apache.spark.sql.graft.PlanBridge
    val lake = newLake()
    val df = (0 until 64).map(i => (i.toLong, s"name$i", s"v$i"))
      .toDF("id", "name", "v")
    lake.write("bp", df, partitions = Seq("bucket(8, id)"), pks = Seq("id"))
    val meta = lake.readMeta("bp")
    def ft(c: String): Option[org.apache.spark.sql.types.DataType] =
      meta.schema.fields.find(_.name.equalsIgnoreCase(c)).map(_.dataType)
    // ground truth: the write path's own expression, evaluated by Spark
    val expected = df
      .select(col("id"), pmod(hash(col("id")), lit(8)).as("b"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    (0L until 64L).foreach { k =>
      val pred = PlanBridge.simplePredicate(col("id") === k, meta.schema)
      val ids = GraftLake.bucketIdsFor(
        PartitionExpr.Bucket(8, Seq("id")), pred, ft)
      assert(ids === Some(Set(expected(k))), s"key $k")
    }
    // string keys hash in the UTF8String domain
    val expS = df
      .select(col("name"), pmod(hash(col("name")), lit(8)).as("b"))
      .collect().map(r => r.getString(0) -> r.getInt(1)).toMap
    Seq("name0", "name17", "name63").foreach { k =>
      val pred = PlanBridge.simplePredicate(col("name") === k, meta.schema)
      val ids = GraftLake.bucketIdsFor(
        PartitionExpr.Bucket(8, Seq("name")), pred, ft)
      assert(ids === Some(Set(expS(k))), s"key $k")
    }
    // the hash is TYPE-sensitive: the same numeric value under INT vs
    // LONG buckets differently for some keys — this is why partition
    // sources must never widen
    val intBuckets = spark.range(0, 64)
      .select(pmod(hash(col("id").cast("int")), lit(8)).as("b"))
      .collect().map(_.getInt(0)).toSeq
    val longBuckets = spark.range(0, 64)
      .select(pmod(hash(col("id")), lit(8)).as("b"))
      .collect().map(_.getInt(0)).toSeq
    assert(intBuckets !== longBuckets)
    // IN-list → union of buckets; range predicates → unconstrained (None);
    // contradictions → provably-empty (Some(empty))
    val inPred = PlanBridge.simplePredicate(
      col("id").isin(1L, 2L, 3L), meta.schema)
    assert(GraftLake.bucketIdsFor(PartitionExpr.Bucket(8, Seq("id")), inPred, ft)
      === Some(Set(1L, 2L, 3L).map(expected)))
    val rangePred = PlanBridge.simplePredicate(col("id") > 5L, meta.schema)
    assert(GraftLake.bucketIdsFor(
      PartitionExpr.Bucket(8, Seq("id")), rangePred, ft) === None)
    val contraPred = PlanBridge.simplePredicate(
      col("id") === 1L && col("id") === 2L, meta.schema)
    assert(GraftLake.bucketIdsFor(
      PartitionExpr.Bucket(8, Seq("id")), contraPred, ft) === Some(Set.empty[Int]))
    // a non-integral equality can match no stored int key — but the hash
    // of "some admissible value" is unknowable, so it stays conservative
    val fracPred = PlanBridge.simplePredicate(col("id") === 1.5, meta.schema)
    assert(GraftLake.bucketIdsFor(
      PartitionExpr.Bucket(8, Seq("id")), fracPred, ft) === None)
  }

  test("point lookups on a bucketed table plan only the probed buckets' files") {
    val lake = newLake()
    val df = (0 until 400).map(i => (i.toLong, s"v$i")).toDF("id", "v")
    lake.write("bpl", df, partitions = Seq("bucket(8, id)"), pks = Seq("id"))
    val all = lake.read("bpl").inputFiles.length
    assert(all >= 8, s"expected ≥8 bucket files, got $all")
    // equality OR equality: ≤2 buckets planned, results exact
    val probed = lake.readWhere("bpl", col("id") === 37L || col("id") === 123L)
    assert(rows(probed, "id", "v") === Set(Seq(37L, "v37"), Seq(123L, "v123")))
    assert(probed.inputFiles.length * 4 <= all,
      s"planned ${probed.inputFiles.length} of $all files")
    // IN-list: ≤3 buckets
    val probe2 = lake.readWhere("bpl", col("id").isin(5L, 9L, 100L))
    assert(probe2.count() === 3)
    assert(probe2.inputFiles.length * 2 <= all)
    // range predicates never bucket-prune (conservative — results exact)
    assert(lake.readWhere("bpl", col("id") > 10L).count() === 389)
    // provable contradiction → empty result, no crash
    assert(lake.readWhere("bpl", col("id") === 1L && col("id") === 2L)
      .count() === 0)
    // a DELETE of one key stays correct under the bucket-pruned DML scan
    lake.deleteWhere("bpl", col("id") === 37L)
    assert(lake.read("bpl").count() === 399)
    assert(lake.readWhere("bpl", col("id") === 37L).count() === 0)
    assert(rows(lake.readWhere("bpl", col("id") === 123L), "id", "v") ===
      Set(Seq(123L, "v123")))
  }

  test("upsert touching many partitions (isin-set scope path) stays correct") {
    val lake = newLake()
    // 100 raw partitions > maxExactPartitionPredicates (64) → the scope
    // predicate takes the per-column isin form; an untouched partition's
    // files must still survive (pruning intact), results exact
    val base = (0 until 100).map(i => (i.toLong, s"p${i % 100}", s"v$i"))
    lake.write("manyp", base.toDF("id", "part", "v"),
      partitions = Seq("part"), pks = Seq("id"))
    assert(GraftLake.maxExactPartitionPredicates < 100)
    val beforeUntouched = lake.read("manyp").inputFiles
      .filter(_.contains("__p_part=p0/")).toSet
    // batch updates ids 1..99 (99 partitions affected), leaves p0 alone
    val batch = (1 until 100).map(i => (i.toLong, s"p$i", s"V$i"))
    lake.write("manyp", batch.toDF("id", "part", "v"), pks = Seq("id"))
    val got = lake.read("manyp").collect()
      .map(r => (r.getLong(0), r.getString(2))).toSet
    assert(got === ((1 until 100).map(i => i.toLong -> s"V$i").toSet + (0L -> "v0")))
    val afterFiles = lake.read("manyp").inputFiles.toSet
    assert(beforeUntouched.subsetOf(afterFiles),
      "partition p0 was not affected and must keep its files")
  }

  test("upsert that empties a partition leaves no stale copy") {
    val lake = newLake()
    val t0 = java.sql.Timestamp.valueOf("2023-01-15 00:00:00")
    val t1 = java.sql.Timestamp.valueOf("2024-06-15 00:00:00")
    // the ONLY row of the 2023 partition moves to 2024
    lake.write("mv2", Seq((1, t0, "old")).toDF("id", "ts", "v"),
      partitions = Seq("year(ts)"), pks = Seq("id"))
    lake.write("mv2", Seq((1, t1, "moved")).toDF("id", "ts", "v"),
      partitions = Seq("year(ts)"), pks = Seq("id"))
    assert(rows(lake.read("mv2"), "id", "v") === Set(Seq(1, "moved")),
      "emptied source partition must be deleted, not left stale")
  }

  test("PK config arriving after auto-creation is adopted (upsert, not crash)") {
    val lake = newLake()
    lake.write("adopt", Seq((1, "a")).toDF("id", "v")) // created PK-less
    lake.write("adopt", Seq((1, "b")).toDF("id", "v"), pks = Seq("id"))
    assert(rows(lake.read("adopt"), "id", "v") === Set(Seq(1, "b")))
  }

  test("upsert moves a row across partitions without leaving a stale copy") {
    val lake = newLake()
    val t0 = java.sql.Timestamp.valueOf("2023-01-15 00:00:00")
    val t1 = java.sql.Timestamp.valueOf("2024-06-15 00:00:00")
    lake.write("mv", Seq((0, t0, "seed")).toDF("id", "ts", "v"),
      partitions = Seq("year(ts)"), pks = Seq("id"))
    lake.write("mv", Seq((1, t0, "old")).toDF("id", "ts", "v"),
      partitions = Seq("year(ts)"), pks = Seq("id"))
    // id=1 moves from year 2023 to 2024
    lake.write("mv", Seq((1, t1, "moved")).toDF("id", "ts", "v"),
      partitions = Seq("year(ts)"), pks = Seq("id"))
    assert(rows(lake.read("mv"), "id", "v") === Set(Seq(0, "seed"), Seq(1, "moved")))
  }

  test("conform: string values parse into a timestamp schema; junk nulls") {
    // the C5 vector-population fallback lives at conversion time, under the
    // (inferred/unified) logical schema — not at the table boundary
    val target = StructType(Seq(
      StructField("id", IntegerType), StructField("at", TimestampType)))
    val out = LandedTypes.conform(
      Seq((1, "2024-03-01T12:00:00Z"), (2, "not-a-time")).toDF("id", "at"), target)
      .collect().map(r => r.getInt(0) -> r.get(1)).toMap
    assert(out(1) != null)
    assert(out(2) == null)
  }

  test("evolution: string batch into timestamp table column is rejected") {
    // at the table boundary a Utf8 batch column cannot evolve a TIMESTAMP
    // column (merge-layer error → DLQ candidate), matching the reference
    val lake = newLake()
    lake.createTable("ts",
      StructType(Seq(StructField("id", IntegerType), StructField("at", TimestampType))))
    intercept[LandedTypes.SchemaEvolutionException] {
      lake.append("ts", Seq((1, "2024-03-01T12:00:00Z")).toDF("id", "at"))
    }
  }

  test("compaction merges small files without changing contents") {
    val lake = newLake()
    // many tiny appends -> many files
    for (i <- 1 to 5)
      lake.append("c", Seq((i, s"v$i")).toDF("id", "v"))
    val before = lake.dataFiles("c")
    assert(before.size >= 5)
    val contentBefore = rows(lake.read("c"), "id", "v")
    lake.compact("c")
    val after = lake.dataFiles("c")
    assert(after.size < before.size, s"expected fewer files, got ${after.size}")
    assert(rows(lake.read("c"), "id", "v") === contentBefore)
  }

  test("compaction on a partitioned table preserves layout and rows") {
    val lake = newLake()
    val t23 = java.sql.Timestamp.valueOf("2023-01-15 00:00:00")
    val t24 = java.sql.Timestamp.valueOf("2024-06-15 00:00:00")
    for (i <- 1 to 3)
      lake.append("cp", Seq((i, t23, s"a$i"), (100 + i, t24, s"b$i")).toDF("id", "ts", "v")
        .select(col("id"), col("ts"), col("v")))
    // table created by first append has no partitions configured via append;
    // use write() to establish partitioning on a fresh table instead
    val lake2 = newLake()
    for (i <- 1 to 3)
      lake2.write("cp", Seq((i, t23, s"a$i"), (100 + i, t24, s"b$i")).toDF("id", "ts", "v"),
        partitions = Seq("year(ts)"))
    val before = lake2.dataFiles("cp")
    val contentBefore = rows(lake2.read("cp"), "id", "v")
    lake2.compact("cp")
    assert(lake2.dataFiles("cp").size < before.size)
    assert(rows(lake2.read("cp"), "id", "v") === contentBefore)
    assert(lake2.dataFiles("cp").forall(_.contains("__p_year_ts=")))
  }

  test("compact predicate cutting through a partition never drops rows") {
    val lake = newLake()
    for (i <- 1 to 3)
      lake.write("scp", Seq((i, "x", i * 10), (100 + i, "y", i * 20))
        .toDF("id", "seg", "n"), partitions = Seq("seg"))
    val contentBefore = rows(lake.read("scp"), "id", "seg", "n")
    // id <= 1 matches ONE row inside seg=x: the whole x partition must be
    // rewritten (and y untouched), not just the matching row kept
    lake.compact("scp", predicate = Some(col("id") <= 1))
    assert(rows(lake.read("scp"), "id", "seg", "n") === contentBefore,
      "a sub-partition predicate must scope the rewrite, not filter the data")
    // unpartitioned: same contract — the whole file set is the swap unit
    val lake2 = newLake()
    for (i <- 1 to 3) lake2.append("u", Seq((i, s"v$i")).toDF("id", "v"))
    val ub = rows(lake2.read("u"), "id", "v")
    lake2.compact("u", predicate = Some(col("id") === 2))
    assert(rows(lake2.read("u"), "id", "v") === ub)
    // empty match: clean no-op, no extra snapshot
    val vsBefore = lake2.versions("u")
    lake2.compact("u", predicate = Some(col("id") === 999))
    assert(lake2.versions("u") === vsBefore, "empty-scope compact must be a no-op")
  }

  test("compact clusterBy: non-numeric rejected pre-write; null bounds fall back") {
    val lake = newLake()
    lake.write("zg", Seq((1, "a", 1.5), (2, "b", 2.5)).toDF("id", "v", "x"))
    val contentBefore = rows(lake.read("zg"), "id", "v", "x")
    val err = intercept[IllegalArgumentException] {
      lake.compact("zg", clusterBy = Seq("v"))
    }
    assert(err.getMessage.contains("numeric"), err.getMessage)
    assert(rows(lake.read("zg"), "id", "v", "x") === contentBefore,
      "rejected compaction must not have touched the table")
    val missing = intercept[IllegalArgumentException] {
      lake.compact("zg", clusterBy = Seq("nope"))
    }
    assert(missing.getMessage.contains("does not exist"), missing.getMessage)
    // all-null cluster column: falls back to plain rebalance, no NPE
    val lake2 = newLake()
    lake2.write("zn", Seq((1, None: Option[Double]), (2, None))
      .toDF("id", "x"))
    lake2.compact("zn", clusterBy = Seq("x"))
    assert(rows(lake2.read("zn"), "id").map(_.head) === Set(1, 2))
  }

  test("salted join equals plain join (inner and left)") {
    val large = (1 to 500).map(i => (i % 5, s"row$i")).toDF("k", "payload")
    val small = Seq((0, "zero"), (1, "one"), (2, "two"), (7, "seven")).toDF("k", "name")
    for (jt <- Seq("inner", "left")) {
      val plain = large.join(small, Seq("k"), jt)
        .select("k", "payload", "name").collect().map(_.toSeq).toSet
      val salted = graft.operators.JoinOps.saltedJoin(large, small, Seq("k"), 8, jt)
        .select("k", "payload", "name").collect().map(_.toSeq).toSet
      assert(salted === plain, s"$jt salted join must match plain join")
    }
  }

  test("dropColumn: zero rewrite; time travel keeps the wide schema; guards hold") {
    GraftLake.invalidateCaches()
    val wh = Files.createTempDirectory("graft-drop").toString
    val lake = new GraftLake(spark, wh)
    spark.conf.set("spark.sql.catalog.dropc", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.dropc.warehouse", wh)
    try {
      lake.write("t", Seq((1, "a", 9.5), (2, "b", 8.0)).toDF("id", "v", "dead"),
        partitions = Seq("v"), pks = Seq("id"))
      val files = lake.dataFiles("t").sorted
      val v0 = lake.versions("t").head
      lake.dropColumn("t", "dead")
      assert(lake.dataFiles("t").sorted === files, "drop must rewrite nothing")
      val cur = lake.read("t")
      assert(!cur.columns.contains("dead"))
      assert(rows(cur, "id", "v") === Set(Seq(1, "a"), Seq(2, "b")))
      // SQL reads narrow too; pre-drop snapshots keep the column
      assert(!spark.sql("SELECT * FROM dropc.t").columns.contains("dead"))
      assert(spark.sql(s"SELECT dead FROM dropc.t VERSION AS OF $v0")
        .collect().map(_.getDouble(0)).toSet === Set(9.5, 8.0))
      assert(lake.history("t").collect().last.getString(2) === "drop-column")
      // writes after the drop land without the column
      lake.append("t", Seq((3, "c")).toDF("id", "v"))
      assert(rows(lake.read("t"), "id") === Set(Seq(1), Seq(2), Seq(3)))
      // SQL ALTER TABLE DROP COLUMN routes through the engine
      lake.ensureTable("t", org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("extra",
          org.apache.spark.sql.types.IntegerType))))
      spark.sql("ALTER TABLE dropc.t DROP COLUMN extra")
      assert(!lake.read("t").columns.contains("extra"))
      // guards: pk / partition source / engine column / last data column
      intercept[IllegalArgumentException] { lake.dropColumn("t", "id") }
      intercept[IllegalArgumentException] { lake.dropColumn("t", "v") }
      intercept[IllegalArgumentException] { lake.dropColumn("t", "_inserted_at") }
      intercept[IllegalArgumentException] { lake.dropColumn("t", "nope") }
      val lake2 = new GraftLake(spark, Files.createTempDirectory("graft-drop2").toString)
      lake2.write("solo", Seq((1, 2)).toDF("a", "b"))
      lake2.dropColumn("solo", "b")
      intercept[IllegalArgumentException] { lake2.dropColumn("solo", "a") }
    } finally {
      spark.conf.unset("spark.sql.catalog.dropc")
      spark.conf.unset("spark.sql.catalog.dropc.warehouse")
    }
  }

  test("binned range join equals the naive inequality join at every bin size") {
    // deterministic but irregular intervals: widths 1..40, some empty,
    // some overlapping, some bin-aligned, some not
    val points = (0 until 400).map(i => (i.toLong * 7 % 1000, s"p$i"))
      .toDF("p", "tag")
    val intervals = (0 until 30).map { i =>
      val lo = (i * 53 % 900).toLong
      (i.toLong, lo, lo + 1 + (i * 11 % 40))
    }.toDF("iv", "lo", "hi")
    val naive = points.crossJoin(intervals)
      .filter(col("p") >= col("lo") && col("p") < col("hi"))
      .select("p", "tag", "iv").collect().map(_.toSeq).toSet
    for (bin <- Seq(1L, 3L, 16L, 1000L)) {
      val binned = graft.operators.JoinOps
        .binnedRangeJoin(points, intervals, "p", "lo", "hi", bin)
        .select("p", "tag", "iv").collect().map(_.toSeq).toSet
      assert(binned === naive, s"binSize=$bin must not change the result")
    }
  }

  test("bloom semi-join equals plain semi-join; the bloom never drops a match") {
    val large = (1 to 2000).map(i => (i.toLong, s"row$i")).toDF("k", "payload")
    val keys = (1 to 2000).filter(_ % 7 == 0).map(i => (i.toLong, "x"))
      .toDF("kk", "tag")
    val plain = large.join(keys.select(col("kk").as("k")).distinct(),
      Seq("k"), "left_semi").collect().map(_.toSeq).toSet
    val bloomed = graft.operators.JoinOps.bloomSemiJoin(large, keys, "k", "kk",
      expectedItems = 300).collect().map(_.toSeq).toSet
    assert(bloomed === plain,
      "bloom pruning must be invisible in the result (exact join removes FPs)")
    // no false negatives by construction: every true key passes the sketch
    val sketch = graft.operators.JoinOps.buildBloom(keys, "kk", 300)
    val pruned = large.filter(org.apache.spark.sql.functions.call_function(
      "graft_bloom_contains", lit(sketch), col("k")))
    assert(pruned.join(keys.select(col("kk").as("k")), Seq("k"), "left_semi")
      .count() === plain.size.toLong)
    assert(pruned.count() >= plain.size.toLong)
  }

  test("concurrent appends to one table and writes across tables are safe") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val lake = newLake()
    lake.createTable("conc",
      StructType(Seq(StructField("id", IntegerType), StructField("v", StringType))))
    // 8 threads × 50 rows appending to the SAME table (ensureTable races
    // through the per-table lock; parquet appends are additive)
    val appends = (0 until 8).map { t =>
      Future {
        lake.append("conc", (t * 100 until t * 100 + 50).map(i => (i, s"t$t")).toDF("id", "v"))
      }
    }
    // plus parallel writers creating DIFFERENT tables concurrently
    val creates = (0 until 4).map { t =>
      Future { lake.write(s"side_$t", Seq((t, "x")).toDF("id", "v"), pks = Seq("id")) }
    }
    Await.result(Future.sequence(appends ++ creates), 120.seconds)
    assert(lake.read("conc").count() === 400)
    assert(lake.read("conc").select("id").distinct().count() === 400)
    (0 until 4).foreach(t => assert(lake.read(s"side_$t").count() === 1))
  }

  test("read of missing table fails; tableExists answers correctly") {
    val lake = newLake()
    assert(!lake.tableExists("nope"))
    intercept[Exception] { lake.read("nope") }
    lake.write("yes", Seq((1, "a")).toDF("id", "v"))
    assert(lake.tableExists("yes"))
  }

  test("a genuinely corrupt manifest on file: fails FAST, not after a 5s retry stall") {
    val lake = newLake()
    lake.append("t", Seq((1, "a")).toDF("id", "v"))
    val v = lake.versions("t").last
    val mf = new java.io.File(s"${lake.warehouseDir}/t/_versions/v$v.json")
    java.nio.file.Files.write(mf.toPath, "{not json".getBytes("UTF-8"))
    new java.io.File(mf.getParent, s".v$v.json.crc").delete()
    GraftLake.invalidateCaches()
    val t0 = System.nanoTime()
    val e = intercept[IllegalStateException] { lake.read("t").count() }
    val elapsedMs = (System.nanoTime() - t0) / 1000000L
    assert(e.getMessage.contains("unreadable"))
    // the hard-link publish makes torn observations impossible locally —
    // diagnosing corruption must not stall readers the full retry window
    assert(elapsedMs < 3000,
      s"corrupt-manifest diagnosis took ${elapsedMs}ms — the file:-scheme " +
        "fast path must not sit out the object-store retry window")
  }
}
