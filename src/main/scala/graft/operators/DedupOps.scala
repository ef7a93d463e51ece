package graft.operators

import graft.{QueryDef, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Near-duplicate detection for large text corpora: MinHash+LSH, SimHash,
  * n-gram Jaccard, embedding-cosine near-dup. (Exact dedup is
  * [[TextOps.q22DedupExact]].)
  *
  * Scale design: all variants follow shingle→sketch→band→bucket-join —
  * candidate generation is a shuffle on (band, bucket-hash) whose cost is
  * O(docs × bands), never O(docs²); exact verification runs only on
  * in-bucket candidate pairs. Every hash is seeded/deterministic so results
  * are stable across runs and cluster layouts.
  */
object DedupOps {

  // ---- shingling ----

  /** Distinct word k-shingles of a text column (empty array when the doc
    * has fewer than k tokens). One-pass codegen'd expression — see
    * [[graft.functions.ShingleExpression]]. Callers must have the session's
    * functions registered; [[shingled]] handles that. */
  def wordShingles(text: Column, k: Int): Column = {
    SparkSession.getActiveSession.foreach(graft.functions.ShingleExpression.register)
    coalesce(
      graft.functions.ShingleExpression.wordShingles(TextOps.tokens(text), k),
      array().cast("array<string>"))
  }

  /** (id, shingles) with registration handled. */
  private def shingled(docs: DataFrame, idCol: String, textCol: String,
      k: Int): DataFrame = {
    graft.functions.ShingleExpression.register(docs.sparkSession)
    docs.select(col(idCol), wordShingles(col(textCol), k).as("__shingles"))
  }

  /** Exact Jaccard between two distinct-element array columns. */
  def jaccard(a: Column, b: Column): Column = {
    val inter = size(array_intersect(a, b)).cast("double")
    val uni = size(a) + size(b) - size(array_intersect(a, b))
    when(uni === 0, lit(0.0)).otherwise(inter / uni.cast("double"))
  }

  // ---- MinHash + LSH ----

  /** (doc_id, minhash signature): one codegen'd pass per document via
    * [[graft.functions.SketchExpressions.MinHashSignature]] — a pure
    * map-side scan, no explode, no shuffle. */
  def minHashSignatures(docs: DataFrame, idCol: String, textCol: String,
      shingleK: Int = 3, numHashes: Int = 64): DataFrame = {
    graft.functions.SketchExpressions.register(docs.sparkSession)
    graft.functions.ShingleExpression.register(docs.sparkSession)
    docs.select(col(idCol),
      graft.functions.SketchExpressions.minHash(
        wordShingles(col(textCol), shingleK)).as("signature"))
      .filter(col("signature").isNotNull)
  }

  /** (id, band, band_hash) LSH band keys of a signature frame — the
    * probe/build unit shared by [[lshCandidatePairs]] and the persisted
    * index ([[buildMinhashIndex]]). */
  def bandKeys(sigs: DataFrame, idCol: String,
      bands: Int = 16, rowsPerBand: Int = 4): DataFrame =
    sigs.select(col(idCol), posexplode(
      array(bandHashes(col("signature"), bands, rowsPerBand): _*))
      .as(Seq("band", "band_hash")))

  /** The `band_hash` of each band of a signature column: band `b` hashes
    * its `rowsPerBand` signature slots together with `b`. */
  private def bandHashes(sig: Column, bands: Int, rowsPerBand: Int): Seq[Column] =
    (0 until bands).map { b =>
      hash((0 until rowsPerBand).map(r =>
        sig.getItem(b * rowsPerBand + r)) :+ lit(b): _*)
    }

  /** LSH candidate pairs: signatures banded (bands × rowsPerBand), bucket
    * join per band, pairs deduped.
    *
    * `maxBucketSize` is the 100 TB hub-bucket guard (standard
    * LSH-at-scale practice): a bucket whose membership exceeds it —
    * boilerplate shingles, adversarial spam, a million identical docs —
    * would otherwise emit |bucket|² candidate pairs and turn one hot
    * bucket into a quadratic island. A count-only PRE-PROBE (map-side
    * partial aggregate; one small job when the guard is on) finds the
    * hot buckets first: the common no-hub corpus keeps EXACTLY the
    * uncapped plan — no window, no sort, no extra pass over the data
    * rows. When hot buckets exist, their ids broadcast and only THEIR
    * members switch from all-pairs to a deterministic CHAIN (each
    * member pairs with its successor in hash(id) order): O(|bucket|)
    * pairs, and TRUE duplicate hubs keep full recall through the
    * verify + transitive closure downstream (consecutive identical
    * docs verify at jaccard 1.0 and union-find stitches the chain into
    * one cluster), while junk hubs — whose pairs fail the verify
    * anyway — stop costing quadratic work. A pathological hot-bucket
    * COUNT (beyond broadcast scale) falls back to a pure windowed
    * plan. `maxBucketSize <= 0` disables the guard. */
  def lshCandidatePairs(sigs: DataFrame, idCol: String,
      bands: Int = 16, rowsPerBand: Int = 4,
      maxBucketSize: Int = 256): DataFrame = {
    val banded = bandKeys(sigs, idCol, bands, rowsPerBand)
    def allPairs(b: DataFrame): DataFrame = {
      val l = b.select(col(idCol).as("a"), col("band"), col("band_hash"))
      val r = b.select(col(idCol).as("b"), col("band"), col("band_hash"))
      l.join(r, Seq("band", "band_hash"))
        .filter(col("a") < col("b"))
        .select(col("a"), col("b"))
    }
    if (maxBucketSize <= 0) allPairs(banded).distinct()
    else {
      // one materialization feeds the probe AND both join sides: the
      // banded frame is (id, band, band_hash) — ~20 B × bands per doc,
      // a sliver of the corpus — while recomputing it per consumer
      // would re-run the shingle+minhash pass (the dominant cost) three
      // times instead of once
      val bandedM = banded.localCheckpoint(true)
      val hotCap = 200000
      val hot = bandedM.groupBy(col("band"), col("band_hash"))
        .agg(count(lit(1)).as("__bsz"))
        .filter(col("__bsz") > maxBucketSize)
        .select(col("band"), col("band_hash"))
        .limit(hotCap + 1).collect()
      if (hot.isEmpty) allPairs(bandedM).distinct()
      else if (hot.length > hotCap) windowedCapPlan(bandedM, idCol, maxBucketSize)
      else {
        val hotDf = hotBucketDf(sigs.sparkSession, hot)
        val keys = Seq("band", "band_hash")
        val small = bandedM.join(hotDf, keys, "left_anti")
        // sort only the hot-bucket members
        val chained = chainPairs(bandedM.join(hotDf, keys, "left_semi"), idCol)
        allPairs(small).union(chained).distinct()
      }
    }
  }

  /** Broadcastable frame of hot (band, band_hash) keys collected by a
    * guard probe — shared by both hub guards so the two cannot drift. */
  private def hotBucketDf(spark: SparkSession,
      rows: Array[org.apache.spark.sql.Row]): DataFrame =
    broadcast(spark.createDataFrame(
      spark.sparkContext.parallelize(rows.toSeq, 1),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("band",
          org.apache.spark.sql.types.IntegerType, nullable = false),
        org.apache.spark.sql.types.StructField("band_hash",
          org.apache.spark.sql.types.IntegerType, nullable = false)))))

  /** Deterministic successor CHAIN within each (band, band_hash) bucket:
    * each member pairs with the next in hash(id) order (id tie-break) —
    * O(bucket) pairs with every member reachable. Shared by the hot
    * branch and the windowed fallback. */
  private def chainPairs(df: DataFrame, idCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ord = Window.partitionBy(col("band"), col("band_hash"))
      .orderBy(hash(col(idCol)), col(idCol))
    df.withColumn("__nx", lead(col(idCol), 1).over(ord))
      .filter(col("__nx").isNotNull)
      .select(least(col(idCol), col("__nx")).as("a"),
        greatest(col(idCol), col("__nx")).as("b"))
      .filter(col("a") =!= col("b"))
  }

  /** Pure (action-free) fallback shape of the hub guard for corpora
    * whose HOT-BUCKET COUNT itself is beyond broadcast scale: one
    * window pass sizes and chains in place. Costs a full sort of the
    * banded frame — only reached in the pathological regime where the
    * uncapped plan would be quadratic anyway. */
  private def windowedCapPlan(banded: DataFrame, idCol: String,
      maxBucketSize: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val part = Window.partitionBy(col("band"), col("band_hash"))
    val ord = part.orderBy(hash(col(idCol)), col(idCol))
    val sized = banded
      .withColumn("__bsz", count(lit(1)).over(part))
      .withColumn("__nx", lead(col(idCol), 1).over(ord))
    val small = sized.filter(col("__bsz") <= maxBucketSize)
    val l = small.select(col(idCol).as("a"), col("band"), col("band_hash"))
    val r = small.select(col(idCol).as("b"), col("band"), col("band_hash"))
    val allPairs = l.join(r, Seq("band", "band_hash"))
      .filter(col("a") < col("b"))
      .select(col("a"), col("b"))
    val chained = sized
      .filter(col("__bsz") > maxBucketSize && col("__nx").isNotNull)
      .select(least(col(idCol), col("__nx")).as("a"),
        greatest(col(idCol), col("__nx")).as("b"))
      .filter(col("a") =!= col("b"))
    allPairs.union(chained).distinct()
  }

  /** Full MinHash-LSH near-dup pipeline: candidates verified with exact
    * shingle Jaccard ≥ threshold. */
  def minHashNearDups(docs: DataFrame, idCol: String, textCol: String,
      threshold: Double, shingleK: Int = 3,
      maxBucketSize: Int = 256): DataFrame = {
    val sigs = minHashSignatures(docs, idCol, textCol, shingleK)
    // The candidate pair set feeds the plan TWICE (the broadcast id-prune
    // below and the verify join), and the prune's broadcast subquery is a
    // separate evaluation — without a barrier the whole sketch+band join
    // pipeline runs twice. The pair set is the SMALL output of LSH (that
    // is the point of banding), so materialize it once eagerly; at any
    // scale this is candidate-sized, never corpus-sized.
    val cands = lshCandidatePairs(sigs, idCol,
      maxBucketSize = maxBucketSize).localCheckpoint(true)
    // verify-side shingles only for docs that appear in a candidate pair —
    // the expensive text pass runs on the (small) candidate set, not the
    // whole corpus
    val candIds = cands.select(col("a").as(idCol))
      .union(cands.select(col("b").as(idCol))).distinct()
    val candDocs = docs.join(broadcast(candIds), idCol)
    val sh = shingled(candDocs, idCol, textCol, shingleK)
    cands
      .join(sh.select(col(idCol).as("a"), col("__shingles").as("__sa")), "a")
      .join(sh.select(col(idCol).as("b"), col("__shingles").as("__sb")), "b")
      .select(col("a"), col("b"),
        jaccard(col("__sa"), col("__sb")).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** Candidate (b = incoming id, a = reference id) pairs of the
    * cross-corpus join: both corpora band independently and meet in ONE
    * bucket join keyed on (band, band_hash) — NEITHER side broadcasts
    * and nothing is quadratic (PlanQualitySpec pins the shape). When the guard is
    * on, each side's banded frame materializes once (probe + join share
    * it); `maxBucketSide = 0` keeps the fully lazy shape plan tests can
    * inspect end to end. */
  def crossCorpusCandidates(reference: DataFrame, incoming: DataFrame,
      idCol: String, textCol: String, shingleK: Int = 3,
      maxBucketSide: Int = 256): DataFrame = {
    // hub-bucket guard, per SIDE (the cross-corpus twin of
    // [[lshCandidatePairs]]'s cap): each side's banded frame is
    // materialized ONCE (the shingle+minhash pass is the dominant cost;
    // probe + join must not recompute it), a count-only pre-probe finds
    // oversized (band, band_hash) buckets — the common no-hub corpus
    // keeps exactly the uncapped join plan — and only hot buckets pay a
    // scoped sort that caps the side's membership at `maxBucketSide`,
    // bounding any bucket's fan-out at cap² instead of |A|·|B|.
    // Survivors are hash-ranked WITH the band in the key, so a hub that
    // collides in all 16 bands rotates DIFFERENT survivors per band — a
    // member's miss probability decays geometrically in the band count.
    // A pathological hot-bucket COUNT (beyond broadcast scale) caps the
    // whole side with the pure windowed shape instead of silently
    // un-capping the overflow. 0 disables (fully lazy, no jobs).
    def cap(raw: DataFrame, side: String): DataFrame =
      if (maxBucketSide <= 0) raw
      else {
        val df = raw.localCheckpoint(true)
        val hotCap = 200000
        val hot = df.groupBy(col("band"), col("band_hash"))
          .agg(count(lit(1)).as("__bsz"))
          .filter(col("__bsz") > maxBucketSide)
          .select(col("band"), col("band_hash"))
          .limit(hotCap + 1).collect()
        import org.apache.spark.sql.expressions.Window
        def rotate(in: DataFrame): DataFrame = {
          val ord = Window.partitionBy(col("band"), col("band_hash"))
            .orderBy(hash(col(side), col("band")), col(side))
          in.withColumn("__bn", row_number().over(ord))
            .filter(col("__bn") <= maxBucketSide).drop("__bn")
        }
        if (hot.isEmpty) df
        else if (hot.length > hotCap) rotate(df)
        else {
          val hotDf = hotBucketDf(df.sparkSession, hot)
          val keys = Seq("band", "band_hash")
          df.join(hotDf, keys, "left_anti")
            .unionByName(rotate(df.join(hotDf, keys, "left_semi")))
        }
      }
    val bandsA = cap(bandKeys(
      minHashSignatures(reference, idCol, textCol, shingleK), idCol)
      .select(col(idCol).as("a"), col("band"), col("band_hash")), "a")
    val bandsB = cap(bandKeys(
      minHashSignatures(incoming, idCol, textCol, shingleK), idCol)
      .select(col(idCol).as("b"), col("band"), col("band_hash")), "b")
    bandsB.join(bandsA, Seq("band", "band_hash"))
      .select(col("b"), col("a")).distinct()
  }

  /** Cross-corpus near-dup join: every verified near-dup in `reference`
    * for every doc of `incoming` — the "dedupe a new crawl against the
    * existing corpus" shape where BOTH sides are large. Candidates come
    * from the banded bucket join ([[crossCorpusCandidates]]); the exact
    * shingle-Jaccard verify then reads text for CANDIDATE docs only.
    * Unlike [[incrementalNearDups]] (probe of a persisted index — the
    * streaming-admission path), this is the one-shot batch corpus×corpus
    * join: no index build, both sketch passes inline. Returns
    * (b = incoming id, a = reference id, jaccard), jaccard ≥ threshold.
    * An exact copy is caught deterministically: identical text ⇒
    * identical signature ⇒ every band collides ⇒ candidate, and the
    * verify scores 1.0. */
  def crossCorpusNearDups(reference: DataFrame, incoming: DataFrame,
      idCol: String, textCol: String, threshold: Double,
      shingleK: Int = 3): DataFrame = {
    // same barrier justification as minHashNearDups: the candidate set
    // feeds two verify joins + two broadcast id-prunes — candidate-sized,
    // never corpus-sized
    val cands = crossCorpusCandidates(reference, incoming, idCol, textCol,
      shingleK).localCheckpoint(true)
    val shA = shingled(
      reference.join(broadcast(cands.select(col("a").as(idCol)).distinct()),
        idCol), idCol, textCol, shingleK)
      .select(col(idCol).as("a"), col("__shingles").as("__sa"))
    val shB = shingled(
      incoming.join(broadcast(cands.select(col("b").as(idCol)).distinct()),
        idCol), idCol, textCol, shingleK)
      .select(col(idCol).as("b"), col("__shingles").as("__sb"))
    cands.join(shA, "a").join(shB, "b")
      .select(col("b"), col("a"),
        jaccard(col("__sa"), col("__sb")).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  // ---- persisted LSH index + incremental admission ----

  /** Persist an incrementally maintainable LSH dedup index: the corpus
    * itself lands as `{prefix}_docs` (id, text) and its band keys as
    * `{prefix}_bands` (id, band, band_hash) — native column types, both
    * versioned with the lake's snapshots. The offline half of incremental
    * dedup: the corpus is sketched ONCE; every future batch probes the
    * band table and reads partner text by id, never re-scanning the
    * corpus. */
  def buildMinhashIndex(lake: graft.catalog.GraftLake, prefix: String,
      corpus: DataFrame, idCol: String, textCol: String,
      shingleK: Int = 3, bands: Int = 16, rowsPerBand: Int = 4): Unit = {
    val keys = bandKeys(
      minHashSignatures(corpus, idCol, textCol, shingleK, bands * rowsPerBand),
      idCol, bands, rowsPerBand)
    Seq(s"${prefix}_docs", s"${prefix}_bands").foreach { t =>
      if (lake.tableExists(t)) lake.dropTable(t)
    }
    lake.write(s"${prefix}_docs",
      corpus.select(col(idCol), col(textCol)), pks = Seq(idCol))
    lake.write(s"${prefix}_bands", keys, pks = Seq(idCol, "band"))
  }

  /** Admit a new batch against a [[buildMinhashIndex]]-persisted corpus:
    * flag every batch doc that near-duplicates (exact shingle Jaccard ≥
    * `threshold`) an indexed doc or a LOWER-id batch-mate, and (when
    * `admit`) append the surviving docs AND their band keys so the index
    * stays current for the next batch. Returns (id, is_dup).
    *
    * This is the 100 TB ingestion-dedup shape: cost scales with the
    * BATCH, never the corpus — the batch's band keys probe the band table
    * by hash join, indexed text is read only for the matched candidate
    * ids (a broadcast semi-join of a batch-bounded id set prunes the
    * scan), and admission is a normal lake append. The corpus is never
    * re-sketched or shuffled. Same approximate-candidates/exact-verify
    * contract as [[minHashNearDups]]: identical docs share every band by
    * construction, so exact copies are ALWAYS caught. */
  def incrementalNearDups(lake: graft.catalog.GraftLake, prefix: String,
      batch: DataFrame, idCol: String, textCol: String,
      threshold: Double, shingleK: Int = 3, bands: Int = 16,
      rowsPerBand: Int = 4, admit: Boolean = true): DataFrame =
    if (admit) {
      val (flag, doAdmit) = incrementalNearDupsStaged(lake, prefix,
        batch, idCol, textCol, threshold, shingleK, bands, rowsPerBand,
        parallelAdmit = true)
      doAdmit()
      flag(batch.select(col(idCol)), "is_dup")
    } else {
      // pure probe: ONE lazy plan the caller evaluates — no caches, no
      // materialization job inside the call. The multiply-referenced
      // sketch frames are map-side scans of the (small) batch; recomputing
      // them inside one job is cheaper than cache bookkeeping + an eager
      // checkpoint job per micro-batch.
      val bKeys = bandKeys(
        minHashSignatures(batch, idCol, textCol, shingleK, bands * rowsPerBand),
        idCol, bands, rowsPerBand)
      val bShOuter = shingled(batch, idCol, textCol, shingleK)
        .select(col(idCol).as("__bid"), col("__shingles").as("__sb"))
      val (flag, _) = incrementalNearDupsBody(lake, prefix, batch, idCol,
        textCol, threshold, shingleK, admit = false, parallelAdmit = false,
        bKeys, bShOuter)
      flag(batch.select(col(idCol)), "is_dup")
    }

  /** [[incrementalNearDups]] with admission STAGED for a coordinating
    * caller: probes the index eagerly and returns (flagger, admission
    * thunk). `flag(frame, name)` adds the 0/1 dup flag `name` to any frame
    * that carries the id column; its value is fixed when this returns, so
    * it stays right after the admission. The ingest pipeline runs the thunk
    * INSIDE a multi-table [[graft.catalog.GraftLake.transact]] alongside
    * the landing write, so a failure between index admission and the
    * landing commit rolls BOTH back — the persisted index can never run
    * ahead of the table it curates (single-process contract, see
    * transact). With `parallelAdmit` the thunk appends the two index
    * tables concurrently, on tasks that carry the caller's job group.
    *
    * Probe mechanics. With `driverVerify` (the caller counted the batch
    * within [[DriverVerifyMaxRows]], the steady-state streaming shape) the
    * batch is verified on the driver in at most three collects: the batch
    * sketch (id, text, shingles, band hashes — the same expressions as the
    * persisted index, so the keys are identical), the index band rows
    * whose `band_hash` is one of the batch's, and — only when corpus
    * candidates exist — the candidates' shingles. In-batch candidates,
    * redelivery self-marks, the exact Jaccard and keep-min-id (SQL `<` of
    * the id type) then run over the collected rows. The band and partner
    * filters and the flag probe a broadcast key set
    * ([[graft.functions.InKeySet]]), so each plan holds one handle however
    * many keys the batch brings; admission appends local frames of the
    * collected survivors. Otherwise — a batch of unknown size or above the
    * driver bound, or an id type the driver cannot key with SQL semantics
    * — the distributed probe runs: the sketch and the mark set are
    * localCheckpoint'ed, and every join is broadcast-hinted under
    * `hintBroadcast` and left to AQE without it (a replay or backfill). */
  def incrementalNearDupsStaged(lake: graft.catalog.GraftLake,
      prefix: String, batch: DataFrame, idCol: String, textCol: String,
      threshold: Double, shingleK: Int = 3, bands: Int = 16,
      rowsPerBand: Int = 4,
      parallelAdmit: Boolean = false,
      hintBroadcast: Boolean = true,
      admitSlices: Int = 1,
      driverVerify: Boolean = false): ((DataFrame, String) => DataFrame, () => Unit) = {
    graft.functions.SketchExpressions.register(batch.sparkSession)
    graft.functions.ShingleExpression.register(batch.sparkSession)
    import org.apache.spark.sql.graft.PlanBridge
    val idType = batch.schema(idCol).dataType
    def indexIdsMatch = Seq(s"${prefix}_bands", s"${prefix}_docs").forall { t =>
      !lake.tableExists(t) || lake.read(t).schema.find(_.name == idCol)
        .exists(f => PlanBridge.sameType(f.dataType, idType))
    }
    val keys =
      if (driverVerify && indexIdsMatch) PlanBridge.driverKeys(idType) else None
    keys match {
      case Some(k) => driverNearDups(lake, prefix, batch, idCol, textCol,
        threshold, shingleK, bands, rowsPerBand, parallelAdmit, k)
      case None =>
        // text rides along so the ADMISSION doc append also plans against
        // the shallow checkpoint (the caller's batch lineage — typically a
        // dropDuplicates shuffle off the trigger cache — never re-runs)
        val sketch = batch
          .select(col(idCol), col(textCol),
            wordShingles(col(textCol), shingleK).as("__shingles"))
          .withColumn("signature",
            graft.functions.SketchExpressions.minHash(col("__shingles")))
          .localCheckpoint(true)
        val bKeys = bandKeys(
          sketch.filter(col("signature").isNotNull)
            .select(col(idCol), col("signature")), idCol, bands, rowsPerBand)
        val bShOuter = sketch
          .select(col(idCol).as("__bid"), col("__shingles").as("__sb"))
        incrementalNearDupsBody(lake, prefix, batch, idCol, textCol,
          threshold, shingleK, admit = true, parallelAdmit = parallelAdmit,
          bKeys, bShOuter,
          docsSource = sketch.select(col(idCol), col(textCol)),
          hintBroadcast = hintBroadcast, admitSlices = admitSlices)
    }
  }

  /** The largest batch, in rows, the ingest gate verifies on the driver
    * (`driverVerify` of [[incrementalNearDupsStaged]]): where the driver
    * verify stops being the faster route. `graft.perf.Perf dedupscale` on
    * docs of the ingest benchmark's length mix (about 550 characters on
    * average), 4 cores, 3 GB heap, driver against broadcast-hinted
    * distributed probe, whole flush: 5.4 against 7.4 s at 10k rows, 11.0
    * against 11.7 s at 30k, 27.2 against 17.3 s at 100k (peak heap 2.6
    * and 3.0 GB there). */
  val DriverVerifyMaxRows: Long = 30000L

  /** The trigger-sized probe of [[incrementalNearDupsStaged]], verified on
    * the driver over collected rows. */
  private def driverNearDups(lake: graft.catalog.GraftLake, prefix: String,
      batch: DataFrame, idCol: String, textCol: String, threshold: Double,
      shingleK: Int, bands: Int, rowsPerBand: Int, parallelAdmit: Boolean,
      keys: org.apache.spark.sql.graft.DriverKeys)
      : ((DataFrame, String) => DataFrame, () => Unit) = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{IntegerType, StructField, StructType}
    val spark = batch.sparkSession
    val sig = col("__sig")
    val sketch = batch
      .select(col(idCol), col(textCol),
        wordShingles(col(textCol), shingleK).as("__sh"))
      .withColumn("__sig", graft.functions.SketchExpressions.minHash(col("__sh")))
      .select(col(idCol), col(textCol), col("__sh"),
        when(sig.isNotNull, array(bandHashes(sig, bands, rowsPerBand): _*))
          .as("__bands"))
    // a row's shingle count (SQL `size`) and distinct shingle set
    final case class Sh(size: Int, set: Set[String])
    def shOf(r: Row, i: Int) = { val a = r.getSeq[String](i); Sh(a.size, a.toSet) }
    // DedupOps.jaccard: distinct intersection over size(a) + size(b) - inter
    def dup(a: Sh, b: Sh): Boolean = {
      val inter = if (a.set.size <= b.set.size) a.set.count(b.set) else b.set.count(a.set)
      val uni = a.size + b.size - inter
      (if (uni == 0) 0.0 else inter.toDouble / uni.toDouble) >= threshold
    }
    val (rows, dups, self) = graft.metrics.GraftMetrics.time(
        graft.metrics.GraftMetrics.DedupProbe) {
      val rows = sketch.collect()
      // SQL `=`/`<` with a null id is never true: null-id rows take part in
      // no candidate pair and are never admitted
      val ids = rows.map(r => if (r.isNullAt(0)) null else keys.key(r.get(0)))
      val rowsOf = rows.indices.filter(ids(_) != null).groupBy(ids(_))
      // shingle sets only for the rows a candidate pair verifies
      val shMemo = scala.collection.mutable.HashMap.empty[Int, Sh]
      def batchSh(id: Any) = rowsOf(id).map(i => shMemo.getOrElseUpdate(i, shOf(rows(i), 2)))
      // (band, band_hash) -> the batch rows carrying it
      def bk(band: Int, h: Int) = (band.toLong << 32) | (h & 0xffffffffL)
      val byBand = rows.indices.filter(i => ids(i) != null && !rows(i).isNullAt(3))
        .flatMap(i => rows(i).getSeq[Int](3).zipWithIndex.map { case (h, b) => bk(b, h) -> i })
        .groupMap(_._1)(_._2)
      // keep-min-id: a batch doc is a candidate dup of each lower id it
      // shares a band with
      val vsBatch = byBand.valuesIterator.flatMap(is => for {
        i <- is.iterator; j <- is.iterator if keys.lt(ids(j), ids(i))
      } yield (ids(i), ids(j))).toSet
      val hashes = byBand.keysIterator.map(_.toInt).toSet
      val hits =
        if (hashes.isEmpty || !lake.tableExists(s"${prefix}_bands")) Array.empty[Row]
        else lake.read(s"${prefix}_bands")
          .filter(graft.functions.KeySet.member(spark, col("band_hash"),
            IntegerType, hashes))
          .select(col(idCol), col("band"), col("band_hash")).collect()
      val vsCorpusAll = hits.iterator.filterNot(_.isNullAt(0)).flatMap { r =>
        val p = keys.key(r.get(0))
        byBand.getOrElse(bk(r.getInt(1), r.getInt(2)), Nil).map(i => (ids(i), p))
      }.toSet
      // a batch doc whose OWN id already band-matches in the index is an
      // at-least-once REDELIVERY: exempt from dup flagging and admission
      // (see incrementalNearDupsBody)
      val self = vsCorpusAll.collect { case (b, p) if b == p => b }
      val vsCorpus = vsCorpusAll.filter { case (b, p) => b != p }
      val partners = vsCorpus.map(_._2)
      val indexSh =
        if (partners.isEmpty || !lake.tableExists(s"${prefix}_docs"))
          Map.empty[Any, Seq[Sh]]
        else lake.read(s"${prefix}_docs")
          .filter(keys.member(spark, col(idCol), partners))
          .select(col(idCol), wordShingles(col(textCol), shingleK))
          .collect().toSeq.groupMap(r => keys.key(r.get(0)))(shOf(_, 1))
      def verified(pairs: Set[(Any, Any)], partnerSh: Any => Seq[Sh]) =
        pairs.collect { case (b, p) if batchSh(b).exists(a =>
          partnerSh(p).exists(dup(a, _))) => b }
      (rows, verified(vsCorpus, indexSh.getOrElse(_, Nil)) ++
        verified(vsBatch, batchSh), self)
    }
    val isDup =
      if (dups.isEmpty) lit(0L)
      else when(keys.member(spark, col(idCol), dups), 1L).otherwise(0L)
    val flag = (f: DataFrame, name: String) =>
      // the id column first, as the distributed probe's join puts it
      f.select((col(idCol) +: f.columns.toSeq.filter(_ != idCol).map(c =>
        col(s"`${c.replace("`", "``")}`"))) :+ isDup.as(name): _*)
    val doAdmit = () => graft.metrics.GraftMetrics.time(
        graft.metrics.GraftMetrics.DedupAdmit) {
      val admitted = rows.filter { r =>
        !r.isNullAt(0) && { val k = keys.key(r.get(0)); !dups(k) && !self(k) }
      }
      val docsSchema = StructType(Seq(sketch.schema(idCol), sketch.schema(textCol)))
      val bandsSchema = StructType(Seq(sketch.schema(idCol),
        StructField("band", IntegerType, nullable = false),
        StructField("band_hash", IntegerType, nullable = false)))
      def local(rs: Seq[Row], schema: StructType) =
        spark.createDataFrame(java.util.Arrays.asList(rs: _*), schema).coalesce(1)
      val docsFrame = local(admitted.toSeq.map(r => Row(r.get(0), r.get(1))), docsSchema)
      val bandsFrame = local(admitted.toSeq.filterNot(_.isNullAt(3)).flatMap(r =>
        r.getSeq[Int](3).zipWithIndex.map { case (h, b) => Row(r.get(0), b, h) }),
        bandsSchema)
      admitBoth(lake, prefix, spark, parallelAdmit, docsFrame, bandsFrame)
    }
    (flag, doAdmit)
  }

  /** Append the admitted docs and band keys to the two index tables. The
    * tables are independent (separate write locks, separate manifests), so
    * with `parallel` their appends run concurrently and a streaming
    * trigger pays ONE append's latency. BOTH tasks finish before any
    * rethrow — an orphaned in-flight append could otherwise commit AFTER
    * the caller's transaction rollback, leaving aborted band keys live in
    * the index (a redelivered doc would then self-flag as a dup). Their
    * jobs carry the caller's job group and local properties. Sequential
    * otherwise: a caller inside a transact holds the member locks on ITS
    * thread. */
  private def admitBoth(lake: graft.catalog.GraftLake, prefix: String,
      spark: SparkSession, parallel: Boolean,
      docsFrame: => DataFrame, bandsFrame: => DataFrame): Unit =
    if (parallel)
      org.apache.spark.sql.graft.CapturedTasks.runAll(spark, 2)(Seq(
        () => lake.append(s"${prefix}_docs", docsFrame),
        () => lake.append(s"${prefix}_bands", bandsFrame)))
    else {
      lake.append(s"${prefix}_docs", docsFrame)
      lake.append(s"${prefix}_bands", bandsFrame)
    }

  /** `a = b` over columns `a` (a batch id) and `b` (an indexed id) of
    * `df`, as SQL compares them, except that a string id that does not
    * cast to the other side's type is unequal instead of failing the query
    * under ANSI mode: a batch id the index's id type cannot represent
    * matches no indexed id. Nulls compare as with `=`. */
  private def sameId(df: DataFrame, a: String, b: String): Column = {
    import org.apache.spark.sql.types.StringType
    def castEq(str: String, other: String): Column = {
      val cast = col(str).try_cast(df.schema(other).dataType)
      when(col(str).isNotNull && cast.isNull, lit(false)).otherwise(cast === col(other))
    }
    (df.schema(a).dataType, df.schema(b).dataType) match {
      case (_: StringType, t) if !t.isInstanceOf[StringType] => castEq(a, b)
      case (t, _: StringType) if !t.isInstanceOf[StringType] => castEq(b, a)
      case _ => col(a) === col(b)
    }
  }

  private def incrementalNearDupsBody(lake: graft.catalog.GraftLake,
      prefix: String, batch: DataFrame, idCol: String, textCol: String,
      threshold: Double, shingleK: Int, admit: Boolean,
      parallelAdmit: Boolean,
      bKeys: DataFrame, bSh: DataFrame,
      docsSource: DataFrame = null,
      hintBroadcast: Boolean = true,
      admitSlices: Int = 1): ((DataFrame, String) => DataFrame, () => Unit) = {
    // trigger-sized batches broadcast their frames (the steady-state
    // streaming shape); a genuinely large batch (replay/backfill) drops
    // the hints and lets AQE pick the join — a forced broadcast above the
    // limit fails the stream where a shuffle join degrades gracefully
    def bc(df: DataFrame): DataFrame = if (hintBroadcast) broadcast(df) else df
    // admission's doc rows: the shallow checkpointed sketch when staged,
    // else the caller's batch
    val docsFrom = Option(docsSource).getOrElse(batch)
    // self-bootstrapping: a missing index reads as empty, and the (admit)
    // appends below create the tables — so the FIRST micro-batch of an
    // ingestion loop needs no separate buildMinhashIndex call
    val index =
      if (lake.tableExists(s"${prefix}_bands")) lake.read(s"${prefix}_bands")
      else bKeys.limit(0)
    // corpus candidates: the index side stays partitioned on its own
    // (band, band_hash); the batch side broadcasts into it
    val vsCorpusAll = index
      .join(bc(bKeys.withColumnRenamed(idCol, "__bid")),
        Seq("band", "band_hash"))
      .select(col("__bid"), col(idCol).as("__partner"))
    // a batch doc whose OWN id already band-matches in the index is an
    // at-least-once REDELIVERY (e.g. a crash between the index-admission
    // commit and the landing commit, then the source re-sends the batch):
    // it is exempt from dup flagging — the landing layer absorbs the
    // replay (txn watermark / PK last-wins), whereas flagging would, under
    // dropDups, silently drop rows that never landed (permanent loss) —
    // and exempt from RE-admission (its bands are already indexed). A
    // same-id doc whose TEXT changed band-matches nothing of itself and
    // is admitted again: the index verify-joins tolerate duplicate ids
    val self = sameId(vsCorpusAll, "__bid", "__partner")
    val vsCorpus = vsCorpusAll.filter(!self).distinct()
    val selfMarks = vsCorpusAll.filter(self)
      .select(col("__bid")).distinct()
      .select(col("__bid"), lit(0L).as("__dup"), lit(1L).as("__self"))
    // batch-internal candidates, keep-min-id (lower id wins admission).
    // One broadcast side: both legs are the trigger-bounded batch (the
    // same bound that lets bKeys broadcast above), so the self-join needs
    // no shuffle at all
    val l = bKeys.select(col(idCol).as("__bid"), col("band"), col("band_hash"))
    val r = bKeys.select(col(idCol).as("__partner"), col("band"), col("band_hash"))
    val vsBatch = l.join(bc(r), Seq("band", "band_hash"))
      .filter(col("__partner") < col("__bid"))
      .select(col("__bid"), col("__partner")).distinct()
    // exact-Jaccard verify on candidate texts only: batch shingles are
    // batch-bounded; indexed shingles are computed for just the candidate
    // partner ids (broadcast semi-join keeps the scan pruned — dup keys
    // in the probe list are harmless to a semi-join, so no distinct pass)
    val partnerIds = vsCorpus.select(col("__partner"))
    val indexedDocs =
      if (lake.tableExists(s"${prefix}_docs")) lake.read(s"${prefix}_docs")
      else batch.select(col(idCol), col(textCol)).limit(0)
    val cSh = shingled(
      indexedDocs.join(bc(partnerIds),
        indexedDocs(idCol) === col("__partner"), "left_semi"),
      idCol, textCol, shingleK)
      .select(col(idCol).as("__partner"), col("__shingles").as("__sc"))
    // per-leg dedup is subsumed by the union's distinct below — the two
    // legs are candidate-bounded, so one shuffle dedups both (two inner
    // distincts would add two more tiny-stage round-trips per trigger).
    // The verify joins BROADCAST the trigger-bounded batch shingle frame
    // and the candidate-bounded indexed shingle frame: the candidate pair
    // list is the only shuffled data in the probe
    val dupVsCorpus = vsCorpus
      .join(bc(bSh), Seq("__bid"))
      .join(bc(cSh), Seq("__partner"))
      .filter(jaccard(col("__sb"), col("__sc")) >= threshold)
      .select(col("__bid"))
    val dupVsBatch = vsBatch
      .join(bc(bSh), Seq("__bid"))
      .join(bc(bSh.select(col("__bid").as("__partner"),
        col("__sb").as("__sp"))), Seq("__partner"))
      .filter(jaccard(col("__sb"), col("__sp")) >= threshold)
      .select(col("__bid"))
    val dupsRaw = dupVsCorpus.unionByName(dupVsBatch).distinct()
      .select(col("__bid"), lit(1L).as("__dup"), lit(0L).as("__self"))
    // Admission mutates the very index tables the probe lineage reads, so
    // the mark set (narrow, batch-bounded — ids + two bits: dup flag and
    // already-indexed flag) is materialized FIRST: re-evaluating the
    // returned frame after the appends must not find the batch in its own
    // index and flag everything. Probe-only calls are pure — the lazy
    // plan is the caller's to evaluate (and needs no __self leg: self
    // matches are already excluded from dup candidates above).
    val marks = if (admit) graft.metrics.GraftMetrics.time(
      graft.metrics.GraftMetrics.DedupProbe) {
        dupsRaw.unionByName(selfMarks).groupBy("__bid")
          .agg(max(col("__dup")).as("__dup"), max(col("__self")).as("__self"))
          .localCheckpoint(true)
      } else dupsRaw
    // one mark row per id, so a left join keeps the frame's rows
    val flag = (f: DataFrame, name: String) => f
      .join(bc(marks.select(col("__bid").as(idCol), col("__dup").as(name))),
        Seq(idCol), "left")
      .withColumn(name, coalesce(col(name), lit(0L)))
    val doAdmit: () => Unit = if (!admit) () => () else () =>
      graft.metrics.GraftMetrics.time(graft.metrics.GraftMetrics.DedupAdmit) {
        // survivors broadcast into both append frames (batch-bounded ids —
        // the same bound that lets the probe broadcast; a large batch
        // drops the hint with the rest, see bc), and each append coalesces
        // to `admitSlices` write tasks — ONE for a trigger-sized batch
        // (a task per upstream shuffle partition would fragment the index
        // into tiny files every trigger), proportional-to-data for a
        // replay/backfill batch (the caller sizes it from the profiled
        // row count; maxRecordsPerFile still rolls oversized tasks).
        // Already-indexed ids (__self — redelivered docs) are NOT
        // re-admitted: their bands are in the index
        val admittedIds = bc(docsFrom.select(col(idCol))
          .join(marks.withColumnRenamed("__bid", idCol), Seq(idCol), "left")
          .filter(coalesce(col("__dup"), lit(0L)) === 0L &&
            coalesce(col("__self"), lit(0L)) === 0L)
          .select(col(idCol)))
        admitBoth(lake, prefix, docsFrom.sparkSession, parallelAdmit,
          docsFrom.select(col(idCol), col(textCol))
            .join(admittedIds, Seq(idCol), "left_semi")
            .coalesce(math.max(1, admitSlices)),
          bKeys.join(admittedIds, Seq(idCol), "left_semi")
            .coalesce(math.max(1, admitSlices)))
      }
    (flag, doAdmit)
  }

  // ---- SimHash ----

  /** 64-bit SimHash fingerprint per document: token hashes vote ±1 per bit,
    * sign becomes the bit — one codegen'd pass via
    * [[graft.functions.SketchExpressions.SimHash64]] (map-side scan, no
    * explode/shuffle). */
  def simHash(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    graft.functions.SketchExpressions.register(docs.sparkSession)
    docs.select(col(idCol),
      graft.functions.SketchExpressions.simHash64(
        TextOps.tokens(col(textCol))).as("simhash"))
      .filter(col("simhash").isNotNull)
  }

  /** SimHash near-dup pairs with Hamming distance ≤ maxHamming, found by
    * banding the fingerprint into 4×16-bit chunks (a pair within distance
    * ≤ 3 shares at least one chunk; wider distances need more bands). */
  def simHashNearDups(fps: DataFrame, idCol: String, maxHamming: Int): DataFrame = {
    val banded = fps.select(col(idCol), col("simhash"), posexplode(
      array((0 until 4).map(j =>
        shiftrightunsigned(col("simhash"), j * 16).bitwiseAND(lit(0xffffL))): _*))
      .as(Seq("__chunk", "__cv")))
    val l = banded.select(col(idCol).as("a"), col("simhash").as("__fa"),
      col("__chunk"), col("__cv"))
    val r = banded.select(col(idCol).as("b"), col("simhash").as("__fb"),
      col("__chunk"), col("__cv"))
    l.join(r, Seq("__chunk", "__cv"))
      .filter(col("a") < col("b"))
      .select(col("a"), col("b"),
        bit_count(col("__fa").bitwiseXOR(col("__fb"))).cast("long").as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  // ---- clustering ----

  /** Connected components over an undirected edge list (cols `a`,`b`) by
    * min-label propagation: every node converges to the smallest id
    * reachable from it. O(graph diameter) joined iterations — near-dup
    * graphs are unions of small cliques, so convergence is fast; each
    * iteration is one shuffle on node id. Returns (node, cluster_id).
    *
    * Small-graph fast path: a near-dup edge set is usually TINY relative
    * to the corpus (that is the point of banding), and the iterative path
    * pays a dozen fixed-cost Spark jobs regardless of size. When the edge
    * count is at most `driverFastPathMaxEdges` (checked with a bounded
    * `limit(n+1).count`, never an unbounded action), components are
    * union-found on the driver and returned as a literal frame — the
    * GraphFrames-style hybrid. Graphs over the gate (or gate <= 0) run
    * the distributed loop unchanged; semantics are identical (spec'd
    * equal on random graphs). */
  def connectedComponents(edges: DataFrame, maxIter: Int = 20,
      checkEvery: Int = 3, driverFastPathMaxEdges: Int = 100000): DataFrame = {
    require(edges.schema("a").dataType.isInstanceOf[org.apache.spark.sql.types.NumericType],
      "connectedComponents requires numeric node ids (the label-sum " +
        "convergence witness needs an ordered additive domain); hash string " +
        "ids to longs first, e.g. xxhash64(id)")
    // fast path only for integral ids — a long round-trip would silently
    // truncate fractional/overflowing numerics the iterative path handles
    val integralIds = {
      import org.apache.spark.sql.types._
      Seq(ByteType, ShortType, IntegerType, LongType)
        .contains(edges.schema("a").dataType) &&
        Seq(ByteType, ShortType, IntegerType, LongType)
          .contains(edges.schema("b").dataType)
    }
    if (driverFastPathMaxEdges > 0 && integralIds) {
      val spark = edges.sparkSession
      val idType = edges.schema("a").dataType
      val sample = edges.select(col("a").cast("long"), col("b").cast("long"))
        .limit(driverFastPathMaxEdges + 1).collect()
      if (sample.length <= driverFastPathMaxEdges) {
        // union-find with min-root representatives
        val parent = new java.util.HashMap[Long, Long]()
        def find(x: Long): Long = {
          var r = x
          while (parent.getOrDefault(r, r) != r) r = parent.get(r)
          var c = x // path compression
          while (parent.getOrDefault(c, c) != c) {
            val nxt = parent.get(c); parent.put(c, r); c = nxt
          }
          r
        }
        sample.foreach { row =>
          val (ra, rb) = (find(row.getLong(0)), find(row.getLong(1)))
          if (ra != rb) {
            if (ra < rb) parent.put(rb, ra) else parent.put(ra, rb)
          }
        }
        val nodes = sample.flatMap(r => Seq(r.getLong(0), r.getLong(1))).distinct
        import spark.implicits._
        return nodes.toSeq.map(n => (n, find(n))).toDF("node", "cluster_id")
          .select(col("node").cast(idType).as("node"),
            col("cluster_id").cast(idType).as("cluster_id"))
      }
      // fell through: over the gate — run the distributed loop below
    }
    // Both directions PLUS self-loops: with (x,x) edges present, one
    // neighbor-min join propagates labels AND retains each node's own —
    // the iteration references the previous layer exactly once, keeping
    // plan growth linear (a union-with-previous formulation references it
    // twice and nests exponentially over iterations).
    val both = edges.select(col("a"), col("b"))
      .union(edges.select(col("b").as("a"), col("a").as("b")))
      .union(edges.select(col("a"), col("a").as("b")))
      .union(edges.select(col("b").as("a"), col("b")))
      .distinct().cache()
    var labels = both.select(col("a").as("node")).distinct()
      .withColumn("label", col("node")).cache()
    // Labels only ever decrease, so the label sum is a monotone convergence
    // witness — one cheap aggregate instead of a diff join. Summed as
    // decimal(38,0): full-range 64-bit ids (e.g. xxhash64 of string keys)
    // overflow a LongType sum, which under ANSI mode is a runtime error.
    // The witness runs every `checkEvery` iterations — sum(i)==sum(i-k)
    // with a monotone sum still implies no label moved in between — which
    // cuts the per-iteration job count for long diameters.
    def labelSum(df: DataFrame): java.math.BigDecimal =
      df.agg(coalesce(sum(col("label").cast("decimal(38,0)")),
        lit(java.math.BigDecimal.ZERO))).head().getDecimal(0)
    var prevSum = labelSum(labels)
    var converged = false
    var i = 0
    // Only the checked frame is cached+materialized (one aggregate job per
    // checkEvery iterations); between checks layers stay lazy — each
    // references the previous exactly once, so the pending plan grows
    // linearly in checkEvery.
    var lastChecked = labels
    while (!converged && i < maxIter) {
      var next = both
        .join(labels, both("a") === labels("node"))
        .select(col("b").as("node"), col("label"))
        .groupBy("node").agg(min("label").as("label"))
      i += 1
      if (i % checkEvery == 0 || i == maxIter) {
        next = next.cache()
        val s = labelSum(next) // one aggregate job per checkEvery iterations
        converged = s.compareTo(prevSum) == 0
        prevSum = s
        lastChecked.unpersist()
        lastChecked = next
      }
      labels = next
    }
    both.unpersist()
    labels.select(col("node"), col("label").as("cluster_id"))
  }

  /** Dedup a corpus given near-dup pairs: keep the representative
    * (min doc id) of each cluster, drop the rest. */
  def dropNearDups(docs: DataFrame, idCol: String, pairs: DataFrame): DataFrame = {
    val clusters = connectedComponents(pairs)
    val losers = clusters.filter(col("node") =!= col("cluster_id"))
      .select(col("node").as(idCol))
    docs.join(losers, Seq(idCol), "left_anti")
  }

  // ---- driver-facing queries ----

  /** MinHash-LSH near-dups, emitted as a hash-gated verification
    * CONTRACT (the q32/q80 pattern — the banded bucketing itself is not
    * SQL-expressible, but its GUARANTEES are): exact copies are planted
    * into the corpus (doc_id % 31 == 5, shifted id, identical text);
    * identical text ⇒ identical shingle set ⇒ identical signature ⇒ every
    * band collides ⇒ the pair is ALWAYS a candidate, and exact-Jaccard
    * verify passes at 1.0 — so `n_planted_caught` must equal `n_planted`
    * (the oracle recomputes the planted count from the raw table).
    * `all_verified` witnesses the verify stage: every emitted pair —
    * planted or organic — carries true shingle Jaccard ≥ the threshold.
    * S-curve behavior on NON-identical pairs stays pinned by
    * DedupAdversarialSpec (⊆-of-brute + near-threshold cases). */
  val q27MinHashNearDup = QueryDef(
    "q27_minhash_neardup",
    """WITH s AS (SELECT doc_id FROM documents WHERE doc_id % 31 = 5)
      |SELECT (SELECT count(*) FROM s) AS n_planted,
      |  (SELECT count(*) FROM s) AS n_planted_caught,
      |  CAST(1 AS BIGINT) AS all_verified""".stripMargin) { (s, dir) =>
    val docs = Tables.documents(s, dir)
    val planted = docs.filter(col("doc_id") % 31 === 5)
      .select((col("doc_id") + 10000000L).as("doc_id"), col("text"))
    val corpus = docs.select(col("doc_id"), col("text")).unionByName(planted)
    val pairs = minHashNearDups(corpus, "doc_id", "text", threshold = 0.5)
    val plantedPairs = planted.select((col("doc_id") - 10000000L).as("a"),
      col("doc_id").as("b"))
    val caught = plantedPairs.join(pairs, Seq("a", "b"), "left_semi")
      .agg(count(lit(1)).as("n_planted_caught"))
    val nPlanted = plantedPairs.agg(count(lit(1)).as("n_planted"))
    val verified = pairs.agg(
      when(coalesce(min(col("jaccard") >= 0.5), lit(true)), 1L)
        .otherwise(0L).as("all_verified"))
    nPlanted.crossJoin(caught).crossJoin(verified)
  }

  /** q101: incremental dedup against a persisted LSH index, hash-gated by
    * a deterministic admission contract. The batch mixes exact COPIES of
    * indexed corpus docs (identical text ⇒ identical signature ⇒ every
    * band collides ⇒ caught, guaranteed — every sampled doc has ≥ 10
    * tokens so signatures exist) with UNIQUE docs whose every token embeds
    * their own id (shingle sets disjoint from everything ⇒ no verified
    * pair can reach the threshold). The oracle recomputes the expected
    * per-class outcome from the raw table: all copies flagged, no uniques
    * flagged. */
  /** Per-JVM memo of the built index (same justification as the ANN
    * quantizer memo: the build is the once-per-corpus-refresh offline
    * half; the test corpus is immutable within a run). The query probes
    * with `admit = false` so repeated calls are PURE — admission-side
    * index maintenance is exercised by LlmOpsSpec instead, where batch
    * sequencing is explicit. */
  private val indexMemo =
    new java.util.concurrent.ConcurrentHashMap[String, graft.catalog.GraftLake]()

  val q101IncrementalDedup = QueryDef(
    "q101_incremental_dedup",
    """WITH s AS (SELECT doc_id FROM documents WHERE doc_id % 31 = 5)
      |SELECT 'copy' AS class, count(*) AS n_docs, count(*) AS n_dups FROM s
      |UNION ALL
      |SELECT 'unique' AS class, count(*) AS n_docs,
      |  CAST(0 AS BIGINT) AS n_dups FROM s
      |ORDER BY class""".stripMargin) { (s, dir) =>
    val corpus = Tables.documents(s, dir)
    val lake = indexMemo.computeIfAbsent(dir, _ => {
      val l = new graft.catalog.GraftLake(s,
        java.nio.file.Files.createTempDirectory("graft-lsh-index").toString)
      buildMinhashIndex(l, "docs", corpus, "doc_id", "text")
      l
    })
    val sample = corpus.filter(col("doc_id") % 31 === 5)
    val copies = sample.select((col("doc_id") + 10000000L).as("doc_id"),
      col("text"))
    val uniques = sample.select((col("doc_id") + 20000000L).as("doc_id"),
      concat_ws(" ", (0 until 8).map(i =>
        concat(lit(s"u${i}x"), col("doc_id") + 20000000L)): _*).as("text"))
    val batch = copies.unionByName(uniques)
    incrementalNearDups(lake, "docs", batch, "doc_id", "text",
      threshold = 0.8, admit = false)
      .groupBy(when(col("doc_id") < 20000000L, "copy").otherwise("unique")
        .as("class"))
      .agg(count(lit(1)).as("n_docs"), sum(col("is_dup")).as("n_dups"))
      .orderBy(col("class"))
  }

  /** Brute-force word-bigram Jaccard on a bounded slice — the exact
    * verifier the LSH path approximates, DuckDB-checkable. */
  val q28NgramJaccard = QueryDef(
    "q28_ngram_jaccard",
    """WITH t AS (SELECT doc_id, regexp_extract_all(text, '\S+') AS w
      |           FROM documents WHERE doc_id < 40),
      |g AS (SELECT doc_id,
      |        list_distinct([w[i] || ' ' || w[i+1] for i in range(1, len(w))]) AS gs
      |      FROM t),
      |u AS (SELECT doc_id, unnest(gs) AS gr FROM g),
      |inter AS (SELECT ua.doc_id AS a, ub.doc_id AS b, count(*) AS c
      |          FROM u ua JOIN u ub ON ua.gr = ub.gr AND ua.doc_id < ub.doc_id
      |          GROUP BY 1, 2),
      |sizes AS (SELECT doc_id, len(gs) AS n FROM g)
      |SELECT a, b, round(c * 1.0 / (sa.n + sb.n - c), 4) AS jaccard
      |FROM inter
      |JOIN sizes sa ON sa.doc_id = a JOIN sizes sb ON sb.doc_id = b
      |WHERE c * 1.0 / (sa.n + sb.n - c) > 0.1
      |ORDER BY a, b""".stripMargin) { (s, dir) =>
    graft.functions.ShingleExpression.register(s)
    val sliced = Tables.documents(s, dir).filter(col("doc_id") < 40)
      .select(col("doc_id"), wordShingles(col("text"), 2).as("gs"))
    val a = sliced.select(col("doc_id").as("a"), col("gs").as("__sa"))
    val b = sliced.select(col("doc_id").as("b"), col("gs").as("__sb"))
    a.crossJoin(b).filter(col("a") < col("b"))
      .select(col("a"), col("b"), jaccard(col("__sa"), col("__sb")).as("j"))
      .filter(col("j") > 0.1)
      .select(col("a"), col("b"), round(col("j"), 4).as("jaccard"))
      .orderBy(col("a"), col("b"))
  }

  /** Directed n-gram containment C(A→B) = |g(A) ∩ g(B)| / |g(A)| — the
    * asymmetric companion to Jaccard. Jaccard misses sub-document
    * duplication (a short doc fully embedded in a long one scores low
    * because the union is large); containment of the SHORTER side stays
    * ≈1, which is how quote/boilerplate/excerpt reuse is caught in
    * training-data curation. */
  def containment(a: Column, b: Column): Column = {
    val inter = size(array_intersect(a, b)).cast("double")
    when(size(a) === 0, lit(0.0)).otherwise(inter / size(a).cast("double"))
  }

  /** q112: pairwise 3-gram containment on a bounded slice, both
    * directions, kept when either direction exceeds 0.04 — the exact
    * verifier a banded candidate generator (q27's) would run per pair.
    * The brute pair enumeration is the bounded oracle twin (doc_id < 60),
    * same harness pattern as q28. */
  val q112Containment = QueryDef(
    "q112_containment",
    """WITH t AS (SELECT doc_id, regexp_extract_all(text, '\S+') AS w
      |           FROM documents WHERE doc_id < 60),
      |g AS (SELECT doc_id,
      |        list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
      |                       for i in range(1, len(w) - 1)]) AS gs
      |      FROM t),
      |u AS (SELECT doc_id, unnest(gs) AS gr FROM g),
      |inter AS (SELECT ua.doc_id AS a, ub.doc_id AS b, count(*) AS c
      |          FROM u ua JOIN u ub ON ua.gr = ub.gr AND ua.doc_id < ub.doc_id
      |          GROUP BY 1, 2),
      |sizes AS (SELECT doc_id, len(gs) AS n FROM g)
      |SELECT a, b, round(c * 1.0 / sa.n, 4) AS cont_ab,
      |  round(c * 1.0 / sb.n, 4) AS cont_ba
      |FROM inter
      |JOIN sizes sa ON sa.doc_id = a JOIN sizes sb ON sb.doc_id = b
      |WHERE c * 1.0 / sa.n > 0.04 OR c * 1.0 / sb.n > 0.04
      |ORDER BY a, b""".stripMargin) { (s, dir) =>
    graft.functions.ShingleExpression.register(s)
    val sliced = Tables.documents(s, dir).filter(col("doc_id") < 60)
      .select(col("doc_id"), wordShingles(col("text"), 3).as("gs"))
    val a = sliced.select(col("doc_id").as("a"), col("gs").as("__sa"))
    val b = sliced.select(col("doc_id").as("b"), col("gs").as("__sb"))
    a.crossJoin(b).filter(col("a") < col("b"))
      .select(col("a"), col("b"),
        containment(col("__sa"), col("__sb")).as("__cab"),
        containment(col("__sb"), col("__sa")).as("__cba"))
      .filter(col("__cab") > 0.04 || col("__cba") > 0.04)
      .select(col("a"), col("b"), round(col("__cab"), 4).as("cont_ab"),
        round(col("__cba"), 4).as("cont_ba"))
      .orderBy(col("a"), col("b"))
  }

  /** q29: SimHash near-dup EXACTNESS contract. For maxHamming = 3 the
    * 4×16-bit banding is COMPLETE by pigeonhole — a pair differing in at
    * most 3 bits cannot differ in all 4 chunks, so the banded pair set
    * must EQUAL the brute-force pair set exactly. The contract emits that
    * equality as hash-gated data: fingerprint count (= corpus size; every
    * doc tokenizes), zero brute pairs missed by banding, zero banded
    * pairs outside the brute set, and every emitted distance within the
    * bound. Raw pairs come from [[simHashNearDups]] directly; recall
    * behavior stays pinned by its spec. The brute side is O(n²) on a
    * 64-bit XOR+popcount — a verification harness, never the production
    * path (that IS the banded join) — and is BOUNDED to a deterministic
    * `doc_id < 2000` slice (the q27/q28 pattern) so the contract's cost
    * stays constant under any driver SF bump: at current SFs the slice
    * covers up to the full corpus; at larger ones the banded path still
    * runs corpus-wide while the equality witness checks the slice. */
  val q29SimHash = QueryDef(
    "q29_simhash_neardup",
    """SELECT count(*) AS n_docs, CAST(0 AS BIGINT) AS n_missed,
      |  CAST(0 AS BIGINT) AS n_extra, CAST(1 AS BIGINT) AS all_within_hamming
      |FROM documents""".stripMargin) { (s, dir) =>
    val fps = simHash(Tables.documents(s, dir), "doc_id", "text")
    val banded = simHashNearDups(fps, "doc_id", maxHamming = 3)
    val slice = fps.filter(col("doc_id") < 2000)
    val slicePairs = banded.select(col("a"), col("b"))
      .filter(col("a") < 2000 && col("b") < 2000)
    val l = slice.select(col("doc_id").as("a"), col("simhash").as("__fa"))
    val r = slice.select(col("doc_id").as("b"), col("simhash").as("__fb"))
    val brute = l.crossJoin(r).filter(col("a") < col("b"))
      .filter(bit_count(col("__fa").bitwiseXOR(col("__fb"))) <= 3)
      .select(col("a"), col("b"))
    val nDocs = fps.agg(count(lit(1)).as("n_docs"))
    val missed = brute.join(slicePairs, Seq("a", "b"), "left_anti")
      .agg(count(lit(1)).as("n_missed"))
    val extra = slicePairs.join(brute, Seq("a", "b"), "left_anti")
      .agg(count(lit(1)).as("n_extra"))
    val within = banded.agg(
      when(coalesce(min(col("hamming") <= 3), lit(true)), 1L)
        .otherwise(0L).as("all_within_hamming"))
    nDocs.crossJoin(missed).crossJoin(extra).crossJoin(within)
  }

  /** Near-dup clustering: exact-dup pairs (content hash) ∪ bounded-slice
    * Jaccard pairs → connected components → (doc_id, cluster_id) for every
    * clustered doc. The oracle computes the same transitive closure with a
    * recursive CTE. */
  val q46DedupClusters = QueryDef(
    "q46_dedup_clusters",
    """WITH RECURSIVE
      |dupe AS (SELECT md5(text) AS h, doc_id FROM documents),
      |epairs AS (SELECT d1.doc_id AS a, d2.doc_id AS b FROM dupe d1
      |           JOIN dupe d2 ON d1.h = d2.h AND d1.doc_id < d2.doc_id),
      |t AS (SELECT doc_id, regexp_extract_all(text, '\S+') AS w
      |      FROM documents WHERE doc_id < 40),
      |g AS (SELECT doc_id,
      |        list_distinct([w[i] || ' ' || w[i+1] for i in range(1, len(w))]) AS gs
      |      FROM t),
      |u AS (SELECT doc_id, unnest(gs) AS gr FROM g),
      |inter AS (SELECT ua.doc_id AS a, ub.doc_id AS b, count(*) AS c
      |          FROM u ua JOIN u ub ON ua.gr = ub.gr AND ua.doc_id < ub.doc_id
      |          GROUP BY 1, 2),
      |sizes AS (SELECT doc_id, len(gs) AS n FROM g),
      |jp AS (SELECT a, b FROM inter
      |       JOIN sizes sa ON sa.doc_id = a JOIN sizes sb ON sb.doc_id = b
      |       WHERE c * 1.0 / (sa.n + sb.n - c) > 0.1),
      |e0 AS (SELECT a, b FROM epairs UNION SELECT a, b FROM jp),
      |edges AS (SELECT a, b FROM e0 UNION SELECT b AS a, a AS b FROM e0),
      |nodes AS (SELECT DISTINCT a AS n FROM edges),
      |reach(node, r) AS (
      |  SELECT n, n FROM nodes
      |  UNION
      |  SELECT e.b, reach.r FROM reach JOIN edges e ON e.a = reach.node)
      |SELECT node AS doc_id, min(r) AS cluster_id
      |FROM reach GROUP BY node ORDER BY doc_id""".stripMargin) { (s, dir) =>
    graft.functions.ShingleExpression.register(s)
    val docs = Tables.documents(s, dir)
    val dupe = docs.select(md5(col("text")).as("h"), col("doc_id"))
    val epairs = dupe.as("d1").join(dupe.as("d2"),
        col("d1.h") === col("d2.h") && col("d1.doc_id") < col("d2.doc_id"))
      .select(col("d1.doc_id").as("a"), col("d2.doc_id").as("b"))
    val sliced = docs.filter(col("doc_id") < 40)
      .select(col("doc_id"), wordShingles(col("text"), 2).as("gs"))
    val jp = sliced.select(col("doc_id").as("a"), col("gs").as("__sa"))
      .crossJoin(sliced.select(col("doc_id").as("b"), col("gs").as("__sb")))
      .filter(col("a") < col("b"))
      .filter(jaccard(col("__sa"), col("__sb")) > 0.1)
      .select(col("a"), col("b"))
    connectedComponents(epairs.union(jp).distinct())
      .select(col("node").as("doc_id"), col("cluster_id"))
      .orderBy(col("doc_id"))
  }

  /** q120: canonical-document selection — the keep-best step a dedup
    * pipeline runs AFTER clustering. q46 stops at (doc, cluster); real
    * curation must then decide which cluster member survives. Here every
    * cluster keeps its highest-quality member (longest text by `n_chars`,
    * ties broken to the smallest `doc_id`) and the rest are marked dropped.
    * Edges are exact-dup pairs (full corpus, content hash) ∪ bounded-slice
    * bigram-Jaccard pairs (same construction as q46, threshold 0.07 over
    * `doc_id < 80` for a richer cluster structure on the current corpus).
    *
    * Scale shape: clustering is [[connectedComponents]] (min-label
    * propagation, one shuffle per iteration, diameter-bounded); the
    * selection itself is a single `row_number`-free window pass per
    * cluster — `first_value` over (quality DESC, id) — i.e. one shuffle
    * keyed on cluster_id. At 100 TB the quality join is a co-partitioned
    * join on doc_id and the window partitions are near-dup clusters
    * (small by construction), so no skew hazard.
    *
    * Reference analog: dedup keep-best is the curation layer the reference
    * leaves to downstream SQL (ducklake-kafka-connect lands data; its docs
    * point dedup/curation at engine queries) — here it is a first-class
    * operator. */
  val q120CanonicalSelect = QueryDef(
    "q120_canonical_select",
    """WITH RECURSIVE
      |dupe AS (SELECT md5(text) AS h, doc_id FROM documents),
      |epairs AS (SELECT d1.doc_id AS a, d2.doc_id AS b FROM dupe d1
      |           JOIN dupe d2 ON d1.h = d2.h AND d1.doc_id < d2.doc_id),
      |t AS (SELECT doc_id, regexp_extract_all(text, '\S+') AS w
      |      FROM documents WHERE doc_id < 80),
      |g AS (SELECT doc_id,
      |        list_distinct([w[i] || ' ' || w[i+1] for i in range(1, len(w))]) AS gs
      |      FROM t),
      |u AS (SELECT doc_id, unnest(gs) AS gr FROM g),
      |inter AS (SELECT ua.doc_id AS a, ub.doc_id AS b, count(*) AS c
      |          FROM u ua JOIN u ub ON ua.gr = ub.gr AND ua.doc_id < ub.doc_id
      |          GROUP BY 1, 2),
      |sizes AS (SELECT doc_id, len(gs) AS n FROM g),
      |jp AS (SELECT a, b FROM inter
      |       JOIN sizes sa ON sa.doc_id = a JOIN sizes sb ON sb.doc_id = b
      |       WHERE c * 1.0 / (sa.n + sb.n - c) > 0.07),
      |e0 AS (SELECT a, b FROM epairs UNION SELECT a, b FROM jp),
      |edges AS (SELECT a, b FROM e0 UNION SELECT b AS a, a AS b FROM e0),
      |nodes AS (SELECT DISTINCT a AS n FROM edges),
      |reach(node, r) AS (
      |  SELECT n, n FROM nodes
      |  UNION
      |  SELECT e.b, reach.r FROM reach JOIN edges e ON e.a = reach.node),
      |cl AS (SELECT node AS doc_id, min(r) AS cluster_id FROM reach GROUP BY node),
      |q AS (SELECT cl.doc_id, cl.cluster_id, d.n_chars
      |      FROM cl JOIN documents d USING (doc_id)),
      |sel AS (SELECT doc_id, cluster_id,
      |    first_value(doc_id) OVER (PARTITION BY cluster_id
      |      ORDER BY n_chars DESC, doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
      |      AS canonical_id
      |  FROM q)
      |SELECT doc_id, cluster_id, canonical_id,
      |  CAST(doc_id = canonical_id AS BIGINT) AS is_canonical
      |FROM sel ORDER BY doc_id""".stripMargin) { (s, dir) =>
    import org.apache.spark.sql.expressions.Window
    graft.functions.ShingleExpression.register(s)
    val docs = Tables.documents(s, dir)
    val dupe = docs.select(md5(col("text")).as("h"), col("doc_id"))
    val epairs = dupe.as("d1").join(dupe.as("d2"),
        col("d1.h") === col("d2.h") && col("d1.doc_id") < col("d2.doc_id"))
      .select(col("d1.doc_id").as("a"), col("d2.doc_id").as("b"))
    val sliced = docs.filter(col("doc_id") < 80)
      .select(col("doc_id"), wordShingles(col("text"), 2).as("gs"))
    val jp = sliced.select(col("doc_id").as("a"), col("gs").as("__sa"))
      .crossJoin(sliced.select(col("doc_id").as("b"), col("gs").as("__sb")))
      .filter(col("a") < col("b"))
      .filter(jaccard(col("__sa"), col("__sb")) > 0.07)
      .select(col("a"), col("b"))
    val cl = connectedComponents(epairs.union(jp).distinct())
      .select(col("node").as("doc_id"), col("cluster_id"))
    val q = cl.join(docs.select(col("doc_id"), col("n_chars")), Seq("doc_id"))
    val w = Window.partitionBy(col("cluster_id"))
      .orderBy(col("n_chars").desc, col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    q.withColumn("canonical_id", first(col("doc_id")).over(w))
      .select(col("doc_id"), col("cluster_id"), col("canonical_id"),
        (col("doc_id") === col("canonical_id")).cast("long").as("is_canonical"))
      .orderBy(col("doc_id"))
  }

  /** q137: cross-corpus dedup — q131's shape for TEXT: dedupe an incoming
    * crawl against the reference corpus where BOTH sides are large, via
    * [[crossCorpusNearDups]] (banded bucket join, neither side broadcast —
    * PlanQualitySpec pins it). Hash-gated by the q101 admission contract
    * re-stated for the batch join: the incoming batch mixes exact COPIES
    * of reference docs (identical signature ⇒ every band collides ⇒
    * caught, guaranteed) with UNIQUE docs whose every token embeds their
    * own id (disjoint shingles ⇒ any accidental band collision dies at
    * the exact-Jaccard verify). The oracle states the per-class outcome
    * from the raw table. */
  val q137CrossCorpusDedup = QueryDef(
    "q137_cross_corpus_dedup",
    """WITH s AS (SELECT doc_id FROM documents WHERE doc_id % 31 = 5)
      |SELECT 'copy' AS class, count(*) AS n_docs, count(*) AS n_flagged FROM s
      |UNION ALL
      |SELECT 'unique' AS class, count(*) AS n_docs,
      |  CAST(0 AS BIGINT) AS n_flagged FROM s
      |ORDER BY class""".stripMargin) { (s, dir) =>
    val corpus = Tables.documents(s, dir).select(col("doc_id"), col("text"))
    val sample = corpus.filter(col("doc_id") % 31 === 5)
    val copies = sample.select((col("doc_id") + 10000000L).as("doc_id"),
      col("text"))
    val uniques = sample.select((col("doc_id") + 20000000L).as("doc_id"),
      concat_ws(" ", (0 until 8).map(i =>
        concat(lit(s"u${i}x"), col("doc_id") + 20000000L)): _*).as("text"))
    val incoming = copies.unionByName(uniques)
    val pairs = crossCorpusNearDups(corpus, incoming, "doc_id", "text",
      threshold = 0.8)
    val flagged = pairs.select(col("b").as("doc_id")).distinct()
      .withColumn("__f", lit(1L))
    incoming.join(flagged, Seq("doc_id"), "left")
      .groupBy(when(col("doc_id") < 20000000L, "copy").otherwise("unique")
        .as("class"))
      .agg(count(lit(1)).as("n_docs"),
        sum(coalesce(col("__f"), lit(0L))).as("n_flagged"))
      .orderBy(col("class"))
  }

  val all: Seq[QueryDef] = Seq(
    q27MinHashNearDup, q28NgramJaccard, q29SimHash, q46DedupClusters,
    q101IncrementalDedup, q112Containment, q120CanonicalSelect,
    q137CrossCorpusDedup)
}
