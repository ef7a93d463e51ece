package ingestbench

/** Correctness rules, as pure functions over what was read back from the
  * lake; each returns the mismatches found (empty = correct). */
object Check {
  private def cap(xs: Seq[String]): Seq[String] =
    if (xs.size <= 5) xs else xs.take(5) :+ s"... ${xs.size - 5} more"

  /** json_append: landed rows and column set per table, and DLQ rows. */
  def jsonAppend(g: JsonAppendGen, rows: Map[String, Long], cols: Map[String, Set[String]],
      dlqRows: Long): Seq[String] = {
    val tables = (g.landed.keySet ++ rows.keySet).toSeq.sorted
    cap(tables.flatMap { t =>
      val want = g.landed.getOrElse(t, 0L)
      val got = rows.getOrElse(t, 0L)
      val wantCols = g.columns.get(t).map(_.toSet).getOrElse(Set.empty[String])
      val gotCols = cols.getOrElse(t, Set.empty)
      (if (want != got) Seq(s"$t: $got rows landed, $want expected") else Nil) ++
        (if (wantCols != gotCols) Seq(s"$t: columns differ: missing " +
          (wantCols -- gotCols).mkString(",") + "; unexpected " + (gotCols -- wantCols).mkString(","))
        else Nil)
    } ++ (if (dlqRows != g.dlq) Seq(s"_dlq: $dlqRows rows, ${g.dlq} expected") else Nil))
  }

  /** upsert_curation, accounts: last-wins per key, every field. */
  def lastWins(want: Map[Long, Acct], got: Seq[Acct]): Seq[String] = {
    val byId = got.groupBy(_.id)
    val dupKeys = byId.collect { case (k, xs) if xs.size > 1 => s"key $k landed ${xs.size} times" }
    val wrong = want.toSeq.sortBy(_._1).flatMap { case (k, a) =>
      byId.get(k).map(_.head) match {
        case None => Some(s"key $k missing (want version ${a.version})")
        case Some(b) if b != a => Some(s"key $k: got $b, want $a")
        case _ => None
      }
    }
    val extra = byId.keySet.diff(want.keySet).toSeq.sorted.map(k => s"key $k was never written")
    cap(dupKeys.toSeq ++ wrong ++ extra)
  }

  /** upsert_curation, a point read of key `k` begun when version `least`
    * was committed: one row, equal to a version written for the key
    * (`written`, index = version - 1), no older than `least`. */
  def versionRead(k: Long, written: Seq[Acct], least: Long, got: Seq[Acct]): Option[String] = got match {
    case Seq(a) if a.version >= least && written.lift(a.version.toInt - 1).contains(a) => None
    case _ => Some(s"key $k: got $got, want a written version >= $least")
  }

  /** upsert_curation, docs: `quality_ok` of every doc equals the planted
    * truth, and no doc is flagged `is_dup` that is not a planted duplicate.
    * A planted duplicate left unflagged is the LSH gate missing a band
    * collision — its documented probabilistic recall, scored by
    * [[dedupScores]], not an error. */
  def curation(truth: collection.Map[Long, (Long, Long)], got: Seq[(Long, Long, Long)]): Seq[String] = {
    val byId = got.groupBy(_._1)
    cap(truth.toSeq.flatMap { case (id, want) => docFlags(id, want, byId.getOrElse(id, Nil)) } ++
      byId.keySet.diff(truth.keySet).toSeq.sorted.map(id => s"doc $id was never sent"))
  }

  /** The rows `got` read for doc `id`: exactly one, whose (is_dup,
    * quality_ok) meets [[curation]]'s rule against the planted `want`. */
  def docFlags(id: Long, want: (Long, Long), got: Seq[(Long, Long, Long)]): Option[String] = got match {
    case Seq() => Some(s"doc $id missing")
    case Seq((_, d, q)) if q == want._2 && d <= want._1 => None
    case xs => Some(s"doc $id: got ${xs.map(x => (x._2, x._3)).mkString(",")}, want $want")
  }

  /** (recall, precision) of the dup flags against the planted truth. */
  def dedupScores(truth: collection.Map[Long, (Long, Long)], got: Seq[(Long, Long, Long)]): (Double, Double) = {
    val flagged = got.filter(_._2 == 1L).map(_._1).toSet
    val planted = truth.collect { case (id, (1L, _)) => id }.toSet
    val hit = (flagged intersect planted).size.toDouble
    (if (planted.isEmpty) 1.0 else hit / planted.size,
      if (flagged.isEmpty) 1.0 else hit / flagged.size)
  }
}
