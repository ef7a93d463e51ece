package ingestbench

/** Tests of the benchmark itself (no Spark): the generator is a pure
  * function of its seed, and the correctness check catches one dropped
  * record on every workload. Run with `python3 ingestbench/run.py --selftest`. */
object SelfTest {
  private var failures = 0
  private def expect(ok: Boolean, what: String): Unit = {
    println((if (ok) "ok   " else "FAIL ") + what)
    if (!ok) failures += 1
  }

  private def gens(seed: Long): Seq[(String, Gen)] = Seq(
    "json_append" -> new JsonAppendGen(seed),
    "upsert_curation" -> new UpsertCurationGen(seed, 500, 50))

  private def stream(g: Gen, flushes: Int, size: Int): String =
    Gen.digestRecs((0 until flushes).iterator.flatMap(_ => g.next(size)))

  def run(): Int = {
    // same seed: byte-identical frames and an identical model
    gens(11).zip(gens(11)).zip(gens(12)).foreach { case (((name, a), (_, b)), (_, c)) =>
      val (fa, fb, fc) = (stream(a, 6, 700), stream(b, 6, 700), stream(c, 6, 700))
      expect(fa == fb, s"$name: same seed gives byte-identical frames")
      expect(a.modelDigest == b.modelDigest, s"$name: same seed gives an identical model")
      expect(fa != fc, s"$name: another seed gives other frames")
      expect(a.modelDigest != c.modelDigest, s"$name: another seed gives another model")
    }
    // records do not depend on how they are batched
    val one = new UpsertCurationGen(5, 500, 50); val many = new UpsertCurationGen(5, 500, 50)
    expect(Gen.digestRecs(one.next(900).iterator) ==
      Gen.digestRecs(Iterator.fill(9)(many.next(100)).flatten), "upsert_curation: batching does not change records")

    // json_append: the model checks clean against itself, and one dropped record fails
    val j = new JsonAppendGen(3); (0 until 8).foreach(_ => j.next(1000))
    val rows = j.landed.toMap
    val cols = j.columns.map { case (t, c) => t -> c.toSet }.toMap
    expect(j.dlq > 0, s"json_append: bad records were planted (${j.dlq})")
    expect(cols.values.exists(_.exists(_.startsWith("ext_"))), "json_append: optional fields were added")
    expect(Check.jsonAppend(j, rows, cols, j.dlq).isEmpty, "json_append: exact landing passes")
    val t = rows.keys.toSeq.sorted.head
    expect(Check.jsonAppend(j, rows.updated(t, rows(t) - 1), cols, j.dlq).nonEmpty,
      "json_append: one dropped record fails")
    expect(Check.jsonAppend(j, rows, cols, j.dlq - 1).nonEmpty, "json_append: one dropped DLQ record fails")

    // upsert_curation, accounts: last-wins
    val a = new AvroUpsertGen(3, 1000); (0 until 5).foreach(_ => a.next(1000))
    val latest = a.latest
    expect(a.updates > 0 && latest.size < a.records, "upsert_curation (accounts): updates hit existing keys")
    expect(Check.lastWins(latest, latest.values.toSeq).isEmpty, "upsert_curation (accounts): exact last-wins passes")
    expect(Check.lastWins(latest, latest.values.toSeq.drop(1)).nonEmpty, "upsert_curation (accounts): one dropped record fails")
    val (k, _) = latest.find(_._2.version > 1).get
    expect(Check.lastWins(latest, latest.updated(k, a.history(k).head).values.toSeq).nonEmpty,
      "upsert_curation (accounts): an older version of a key fails")

    // upsert_curation, reads: a written version no older than the committed one
    val hist = a.history(k)
    expect(Check.versionRead(k, hist, hist.size, Seq(hist.last)).isEmpty &&
      Check.versionRead(k, hist, 1, Seq(hist.head)).isEmpty, "upsert_curation (reads): a committed version passes")
    expect(Check.versionRead(k, hist, hist.size, Seq(hist.head)).nonEmpty,
      "upsert_curation (reads): a version older than the committed one fails")
    expect(Check.versionRead(k, hist, 1, Seq(hist.head.copy(balance = hist.head.balance + 1))).nonEmpty,
      "upsert_curation (reads): a value never written fails")
    expect(Check.versionRead(k, hist, 1, Nil).nonEmpty && Check.versionRead(k, hist, 1, Seq(hist.head, hist.head)).nonEmpty,
      "upsert_curation (reads): no row or two rows fail")

    // upsert_curation, docs: flags against the planted truth
    val d = new DocsGen(3); d.next(3000)
    val got = d.truth.toSeq.map { case (id, (dup, ok)) => (id, dup, ok) }
    expect(d.plantedAbove > 0 && d.plantedBelow > 0 && d.junk > 0,
      s"upsert_curation (docs): planted ${d.plantedAbove} above, ${d.plantedBelow} below threshold, ${d.junk} junk")
    expect(got.exists(_._2 == 1L) && got.exists(_._3 == 0L), "upsert_curation (docs): truth has dups and junk")
    expect(Check.curation(d.truth, got).isEmpty, "upsert_curation (docs): exact flags pass")
    expect(Check.curation(d.truth, got.tail).nonEmpty, "upsert_curation (docs): one dropped record fails")
    val wrongDup = got.map { case (id, dup, ok) => if (id == got.find(_._2 == 0L).get._1) (id, 1L, ok) else (id, dup, ok) }
    expect(Check.curation(d.truth, wrongDup).nonEmpty, "upsert_curation (docs): one doc wrongly flagged fails")
    val missed = got.map { case (id, dup, ok) => if (id == got.find(_._2 == 1L).get._1) (id, 0L, ok) else (id, dup, ok) }
    expect(Check.curation(d.truth, missed).isEmpty && Check.dedupScores(d.truth, missed)._1 < 1.0,
      "upsert_curation (docs): one missed duplicate lowers recall")
    val (did, want) = d.truth.head
    expect(Check.docFlags(did, want, Seq((did, want._1, want._2))).isEmpty &&
      Check.docFlags(did, want, Nil).nonEmpty &&
      Check.docFlags(did, want, Seq.fill(2)((did, want._1, want._2))).nonEmpty &&
      Check.docFlags(did, want, Seq((did, want._1, 1L - want._2))).nonEmpty,
      "upsert_curation (docs reads): one row with the planted flags passes; none, two or a wrong flag fail")
    val badQuality = got.map { case (id, dup, ok) => if (id == got.head._1) (id, dup, 1L - ok) else (id, dup, ok) }
    expect(Check.curation(d.truth, badQuality).nonEmpty, "upsert_curation (docs): one wrong quality flag fails")

    println(if (failures == 0) "selftest: all passed" else s"selftest: $failures failed")
    if (failures == 0) 0 else 1
  }
}
