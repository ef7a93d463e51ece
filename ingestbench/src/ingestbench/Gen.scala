package ingestbench

import java.nio.charset.StandardCharsets.UTF_8
import java.util.{Locale, SplittableRandom}

import scala.collection.mutable

/** One Kafka record in the shape the pipeline consumes, tagged with the
  * model's key and version of what it writes (version 0: it must not land). */
final case class Rec(topic: String, partition: Int, offset: Long, value: Array[Byte],
    key: Long, version: Long)

/** A seeded Kafka-shaped record stream plus the model of what the lake must
  * hold once every record has landed. The same seed gives byte-identical
  * records and an identical model; records depend only on the seed and on
  * how many came before, never on wall time or on how they are batched. */
abstract class Gen(seed: Long, salt: Long) {
  // mixed: seeds that differ by the generator's gamma would otherwise
  // give the same stream shifted by one draw
  protected val rnd = new SplittableRandom(Gen.mix64(seed * 31 + salt))
  private val offsets = mutable.HashMap.empty[(String, Int), Long]
  private var bytes = 0L
  private var count = 0L
  /** Payload bytes and records handed out so far. */
  def payloadBytes: Long = bytes
  def records: Long = count
  val Partitions = 4

  def next(n: Int): Array[Rec]
  /** Order-independent digest of the model, for the determinism test. */
  def modelDigest: String

  protected def rec(topic: String, partition: Int, value: Array[Byte], key: Long, version: Long): Rec = {
    val o = offsets.getOrElse((topic, partition), 0L)
    offsets((topic, partition)) = o + 1
    bytes += value.length
    count += 1
    Rec(topic, partition, o, value, key, version)
  }

  protected def pick[T](xs: IndexedSeq[T]): T = xs(rnd.nextInt(xs.size))
  protected def fmt(d: Double): String = String.format(Locale.ROOT, "%.3f", Double.box(d))
  protected def word(len: Int): String = {
    val sb = new StringBuilder
    (0 until len).foreach(_ => sb += ('a' + rnd.nextInt(26)).toChar)
    sb.toString
  }
}

object Gen {
  def mix64(z0: Long): Long = {
    var z = (z0 ^ (z0 >>> 33)) * 0xff51afd7ed558ccdL
    z = (z ^ (z >>> 33)) * 0xc4ceb9fe1a85ec53L
    z ^ (z >>> 33)
  }
  def sha256(parts: Iterator[String]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    parts.foreach(p => { md.update(p.getBytes(UTF_8)); md.update(0: Byte) })
    md.digest().map(b => f"${b & 0xff}%02x").mkString
  }
  def digestRecs(rs: Iterator[Rec]): String =
    sha256(rs.map(r => s"${r.topic}/${r.partition}/${r.offset}/" +
      java.util.Base64.getEncoder.encodeToString(r.value)))
}

/** json_append: four schemaless-JSON topics and one Arrow-IPC topic, no PK.
  * About 20 fields per JSON record with a nested struct and an array; every
  * `EvolveEvery` records of a topic one more optional `ext_<n>` field starts
  * to appear (ADD COLUMN evolution); 0.5 % of JSON records are malformed or
  * carry a type conflict and belong in the DLQ. */
final class JsonAppendGen(seed: Long) extends Gen(seed, 1) {
  val jsonTopics = Vector("clicks", "orders", "sessions", "devices")
  val arrowTopic = "metrics_arrow"
  val EvolveEvery = 1200
  /** One record in `BadEvery` of each topic is bad, alternately malformed
    * and type-conflicting: a fixed placement, so every run of a seed, and
    * every seed, triages alike. */
  val BadEvery = 200

  /** Model: landed rows and column set per table, DLQ rows. */
  val landed = mutable.HashMap.empty[String, Long].withDefaultValue(0L)
  val columns = mutable.HashMap.empty[String, mutable.TreeSet[String]]
  var dlq = 0L
  private val seqs = mutable.HashMap.empty[String, Long].withDefaultValue(0L)
  private val arrow = new ArrowRowEncoder

  private val regions = Vector("eu-west", "eu-north", "us-east", "us-west", "ap-south", "ap-east", "sa-east", "af-south")
  private val cities = Vector("lisbon", "oslo", "boston", "austin", "pune", "osaka", "lima", "lagos")
  private val agents = Vector("firefox", "chrome", "safari", "edge", "curl", "okhttp")
  private val currencies = Vector("EUR", "USD", "JPY")
  private val BaseMs = 1709294400000L // 2024-03-01T12:00:00Z

  def next(n: Int): Array[Rec] = Array.fill(n) {
    val u = rnd.nextInt(10)
    if (u < 8) jsonRecord(jsonTopics(u % 4)) else arrowRecord()
  }

  private def jsonRecord(topic: String): Rec = {
    val seq = seqs(topic); seqs(topic) = seq + 1
    val fields = mutable.ArrayBuffer.empty[(String, String)]
    def f(k: String, v: String): Unit = fields += k -> v
    def s(v: String) = "\"" + v + "\""
    f("seq", seq.toString)
    f("kind", s(topic))
    f("user_id", rnd.nextInt(100000).toString)
    f("event_ts", s(java.time.Instant.ofEpochSecond((BaseMs / 1000) + seq * 7 + rnd.nextInt(7)).toString))
    f("region", s(pick(regions)))
    f("amount", fmt(rnd.nextDouble() * 500 + 0.5))
    f("qty", (1 + rnd.nextInt(20)).toString)
    f("flag", rnd.nextBoolean().toString)
    f("geo", s"""{"lat":${fmt(rnd.nextDouble() * 180 - 90 + 0.0005)},"lon":${fmt(rnd.nextDouble() * 360 - 180 + 0.0005)},"city":${s(pick(cities))}}""")
    f("tags", (0 until 1 + rnd.nextInt(3)).map(_ => s("t" + rnd.nextInt(40))).mkString("[", ",", "]"))
    f("ua", s(pick(agents)))
    f("ref", s("https://ref.example/" + word(6)))
    f("score", fmt(rnd.nextDouble() + 0.0005))
    f("level", rnd.nextInt(10).toString)
    f("session_id", s("s-" + java.lang.Long.toHexString(rnd.nextLong())))
    f("item_id", (5000000000L + rnd.nextInt(1000000)).toString)
    f("price", fmt(rnd.nextDouble() * 90 + 0.5))
    f("currency", s(pick(currencies)))
    f("note", s((0 until 2 + rnd.nextInt(5)).map(_ => word(3 + rnd.nextInt(6))).mkString(" ")))
    (1 to (seq / EvolveEvery).toInt).foreach { j =>
      if (rnd.nextInt(4) == 0)
        f(s"ext_$j", if (j % 2 == 1) rnd.nextInt(1000).toString else s(word(5)))
    }
    // the first records of a topic stay clean: they seed its schema
    val bad = seq % BadEvery == BadEvery / 2 + 37
    val json =
      if (!bad) fields.map { case (k, v) => s(k) + ":" + v }.mkString("{", ",", "}")
      else if ((seq / BadEvery) % 2 == 0) {
        val full = fields.map { case (k, v) => s(k) + ":" + v }.mkString("{", ",", "}")
        full.take(full.length / 2) // truncated: unparseable
      } else fields.map {
        case ("qty", _) => s("qty") + ":" + s("many") // int field as a string
        case (k, v) => s(k) + ":" + v
      }.mkString("{", ",", "}")
    if (bad) dlq += 1
    else {
      landed(topic) += 1
      columns.getOrElseUpdate(topic, mutable.TreeSet.empty) ++= fields.map(_._1)
    }
    rec(topic, (seq % Partitions).toInt, json.getBytes(UTF_8), seq, if (bad) 0L else 1L)
  }

  private def arrowRecord(): Rec = {
    val seq = seqs(arrowTopic); seqs(arrowTopic) = seq + 1
    val bytes = arrow.encode(seq, "host-" + rnd.nextInt(64), rnd.nextDouble() * 100,
      rnd.nextInt(1 << 20).toLong * 4096, rnd.nextDouble(), rnd.nextBoolean(),
      pick(regions), 1 + rnd.nextInt(64))
    landed(arrowTopic) += 1
    columns.getOrElseUpdate(arrowTopic, mutable.TreeSet.empty) ++= ArrowRowEncoder.Columns
    rec(arrowTopic, (seq % Partitions).toInt, bytes, seq, 1L)
  }

  def modelDigest: String = Gen.sha256(
    (landed.toSeq.sortBy(_._1).map { case (t, n) => s"$t=$n:" + columns(t).mkString(",") } :+
      s"dlq=$dlq").iterator)
}

/** Flat one-row Arrow IPC stream payloads, encoded with arrow-vector
  * directly (the program's own encoder is not used to make inputs). */
final class ArrowRowEncoder {
  import org.apache.arrow.memory.RootAllocator
  import org.apache.arrow.vector._
  import org.apache.arrow.vector.ipc.ArrowStreamWriter

  private val alloc = new RootAllocator(Long.MaxValue)
  private val seqV = new BigIntVector("seq", alloc)
  private val hostV = new VarCharVector("host", alloc)
  private val cpuV = new Float8Vector("cpu", alloc)
  private val memV = new BigIntVector("mem", alloc)
  private val diskV = new Float8Vector("disk", alloc)
  private val okV = new BitVector("ok", alloc)
  private val regionV = new VarCharVector("region", alloc)
  private val coresV = new IntVector("cores", alloc)
  private val root = VectorSchemaRoot.of(seqV, hostV, cpuV, memV, diskV, okV, regionV, coresV)

  def encode(seq: Long, host: String, cpu: Double, mem: Long, disk: Double,
      ok: Boolean, region: String, cores: Int): Array[Byte] = {
    root.getFieldVectors.forEach(v => { v.reset(); v.setInitialCapacity(1); v.allocateNew() })
    seqV.setSafe(0, seq); hostV.setSafe(0, host.getBytes(UTF_8)); cpuV.setSafe(0, cpu)
    memV.setSafe(0, mem); diskV.setSafe(0, disk); okV.setSafe(0, if (ok) 1 else 0)
    regionV.setSafe(0, region.getBytes(UTF_8)); coresV.setSafe(0, cores)
    root.setRowCount(1)
    val out = new java.io.ByteArrayOutputStream()
    val w = new ArrowStreamWriter(root, null, out)
    w.start(); w.writeBatch(); w.end(); w.close()
    out.toByteArray
  }
}

object ArrowRowEncoder {
  val Columns = Seq("seq", "host", "cpu", "mem", "disk", "ok", "region", "cores")
}

/** One account row as the model keeps it (and as the lake must return it). */
final case class Acct(id: Long, version: Long, name: String, email: String,
    balance: Double, status: String, tier: Int, updatedAtMs: Long, tags: Seq[String])

/** The upsert half of upsert_curation: one Avro topic with a reader schema and
  * PK `id`. After a `baseKeys` base load, 30 % of records update an
  * existing key drawn Zipf-like by recency (recent keys favoured) and the
  * rest insert new keys. Each write bumps the key's `version`, so last-wins
  * is checkable. */
final class AvroUpsertGen(seed: Long, val baseKeys: Int) extends Gen(seed, 2) {
  val topic = "accounts"
  val UpdateShare = 0.3
  val ZipfA = 1.2
  val schemaJson: String =
    """{"type":"record","name":"Account","fields":[
      |{"name":"id","type":"long"},{"name":"version","type":"long"},
      |{"name":"name","type":"string"},{"name":"email","type":"string"},
      |{"name":"balance","type":"double"},
      |{"name":"status","type":{"type":"enum","name":"Status","symbols":["ACTIVE","SUSPENDED","CLOSED"]}},
      |{"name":"tier","type":"int"},
      |{"name":"updated_at","type":{"type":"long","logicalType":"timestamp-millis"}},
      |{"name":"tags","type":{"type":"array","items":"string"}}]}""".stripMargin
  private val schema = new org.apache.avro.Schema.Parser().parse(schemaJson)
  private val statusSchema = schema.getField("status").schema()
  private val writer = new org.apache.avro.generic.GenericDatumWriter[
    org.apache.avro.generic.GenericRecord](schema)
  private val statuses = Vector("ACTIVE", "SUSPENDED", "CLOSED")

  /** Model: every version written per key (index = version - 1). */
  val history = mutable.HashMap.empty[Long, Vector[Acct]]
  var nextId = 0L
  var updates = 0L

  def next(n: Int): Array[Rec] = Array.fill(n) {
    val id =
      if (nextId < baseKeys) { nextId += 1; nextId - 1 }
      else if (rnd.nextDouble() < UpdateShare) {
        updates += 1
        val r = math.min(nextId, math.floor(math.pow(1.0 - rnd.nextDouble(), -1.0 / ZipfA)).toLong)
        nextId - r
      } else { nextId += 1; nextId - 1 }
    val prev = history.getOrElse(id, Vector.empty)
    val a = Acct(id, prev.size + 1L, "user-" + word(6), word(5) + "@example.org",
      math.round(rnd.nextDouble() * 1e6) / 100.0, pick(statuses), rnd.nextInt(5),
      1709294400000L + id * 1000 + prev.size, (0 until rnd.nextInt(4)).map(_ => "g" + rnd.nextInt(30)))
    history.put(id, prev :+ a)
    rec(topic, (id % Partitions).toInt, encode(a), id, a.version)
  }

  private def encode(a: Acct): Array[Byte] = {
    import scala.jdk.CollectionConverters._
    val r = new org.apache.avro.generic.GenericData.Record(schema)
    r.put("id", a.id); r.put("version", a.version); r.put("name", a.name)
    r.put("email", a.email); r.put("balance", a.balance)
    r.put("status", new org.apache.avro.generic.GenericData.EnumSymbol(statusSchema, a.status))
    r.put("tier", a.tier); r.put("updated_at", a.updatedAtMs); r.put("tags", a.tags.asJava)
    val out = new java.io.ByteArrayOutputStream()
    val enc = org.apache.avro.io.EncoderFactory.get().binaryEncoder(out, null)
    writer.write(r, enc); enc.flush()
    out.toByteArray
  }

  /** Latest version per key: what last-wins landing must leave. */
  def latest: Map[Long, Acct] = history.iterator.map { case (k, v) => k -> v.last }.toMap

  def modelDigest: String = Gen.sha256(latest.toSeq.sortBy(_._1).iterator.map(_._2.toString))
}

/** The curation half of upsert_curation: a JSON documents topic through the dedup and quality
  * gates. Originals draw distinct words from a fixed vocabulary with a
  * long-tailed length; near-duplicates replace words of an original until
  * their exact 3-word-shingle Jaccard lands in a planted band, one band
  * just above the 0.8 threshold and one just below it; junk docs are too
  * short for the quality gate. The truth a doc is judged by is the gate's
  * contract: a duplicate of an earlier admitted (non-duplicate) doc. A doc
  * whose verdict would depend on how docs share a flush (similar only to
  * earlier duplicates) is never emitted. */
final class DocsGen(seed: Long) extends Gen(seed, 3) {
  val topic = "docs"
  val Threshold = 0.8
  val ShingleK = 3
  val MinChars = 64

  private val vocab: IndexedSeq[String] = {
    val r = new SplittableRandom(42L)
    val seen = mutable.LinkedHashSet.empty[String]
    while (seen.size < 20000) {
      val len = 3 + r.nextInt(7)
      seen += (0 until len).map(_ => ('a' + r.nextInt(26)).toChar).mkString
    }
    seen.toIndexedSeq
  }

  private final case class Doc(id: Long, tokens: IndexedSeq[String], shingles: Set[String], dup: Boolean)
  private val families = mutable.ArrayBuffer.empty[mutable.ArrayBuffer[Doc]]
  private val variantBases = mutable.ArrayBuffer.empty[Int] // families whose original is long enough

  /** Model: doc id -> (is_dup, quality_ok). */
  val truth = mutable.LinkedHashMap.empty[Long, (Long, Long)]
  var nextId = 0L
  var plantedAbove = 0L
  var plantedBelow = 0L
  var junk = 0L

  def shingles(t: IndexedSeq[String]): Set[String] =
    if (t.size < ShingleK) Set.empty else t.sliding(ShingleK).map(_.mkString(" ")).toSet

  def jaccard(a: Set[String], b: Set[String]): Double =
    if (a.isEmpty && b.isEmpty) 0.0 else (a intersect b).size.toDouble / (a union b).size

  private def distinctWords(n: Int, avoid: Set[String] = Set.empty): IndexedSeq[String] = {
    val out = mutable.LinkedHashSet.empty[String]
    while (out.size < n) { val w = pick(vocab); if (!avoid(w)) out += w }
    out.toIndexedSeq
  }

  def next(n: Int): Array[Rec] = Array.fill(n)(nextDoc())

  private def nextDoc(): Rec = {
    val u = rnd.nextDouble()
    val id = nextId; nextId += 1
    val variant =
      if (u < 0.55 || variantBases.isEmpty) None
      else if (u < 0.80) makeVariant(0.85, 0.95, exactShare = 0.1).map(_ -> true)
      else if (u < 0.95) makeVariant(0.68, 0.78, exactShare = 0.0).map(_ -> false)
      else Some(((-1, distinctWords(2 + rnd.nextInt(4))), false))
    val (fam, tokens) = variant.map(_._1).getOrElse {
      // long tail: most docs are a few dozen words, a few run to 1500
      val len = math.min(1500, (30 / math.pow(1.0 - rnd.nextDouble(), 1 / 1.5)).toInt)
      (-1, distinctWords(len))
    }
    val sh = shingles(tokens)
    val isDup = fam >= 0 && {
      val partners = families(fam).filter(p => jaccard(sh, p.shingles) >= Threshold)
      partners.exists(!_.dup)
    }
    val doc = Doc(id, tokens, sh, isDup)
    if (fam >= 0) {
      families(fam) += doc
      if (variant.exists(_._2)) plantedAbove += 1 else plantedBelow += 1
    } else if (tokens.size >= 6) {
      families += mutable.ArrayBuffer(doc)
      if (tokens.size >= 40) variantBases += families.size - 1
    } else junk += 1
    val text = tokens.mkString(" ")
    truth(id) = (if (isDup) 1L else 0L, if (text.length >= MinChars) 1L else 0L)
    val json = s"""{"doc_id":$id,"source":"src-${rnd.nextInt(12)}","lang":"en","text":"$text"}"""
    rec(topic, (id % Partitions).toInt, json.getBytes(UTF_8), id, 1L)
  }

  /** Replace words of a random original until the variant's Jaccard to it
    * falls in [lo, hi]; None when no replacement count gets there or the
    * variant's verdict would depend on batching. */
  private def makeVariant(lo: Double, hi: Double, exactShare: Double): Option[(Int, IndexedSeq[String])] = {
    val fam = variantBases(rnd.nextInt(variantBases.size))
    val orig = families(fam).head
    val candidates =
      if (rnd.nextDouble() < exactShare) Iterator(orig.tokens)
      else {
        val s = orig.shingles.size.toDouble
        val target = lo + rnd.nextDouble() * (hi - lo)
        val m0 = math.max(1, math.round(s * (1 - target) / (ShingleK * (1 + target))).toInt)
        Iterator(m0, m0 + 1, m0 - 1, m0 + 2, m0 - 2).filter(_ >= 1).map { m =>
          val positions = rnd.ints(0, orig.tokens.size).distinct().limit(m.toLong).toArray.toSet
          val fresh = distinctWords(m, orig.tokens.toSet).iterator
          orig.tokens.indices.map(i => if (positions(i)) fresh.next() else orig.tokens(i))
        }
      }
    candidates.find { t =>
      val sh = shingles(t)
      val j = jaccard(sh, orig.shingles)
      val partners = families(fam).filter(p => jaccard(sh, p.shingles) >= Threshold)
      j >= lo - 1e-9 && j <= math.max(hi, if (exactShare > 0) 1.0 else hi) &&
        (partners.isEmpty || partners.exists(!_.dup))
    }.map(fam -> _)
  }

  def modelDigest: String = Gen.sha256(truth.iterator.map { case (k, v) => s"$k:$v" })
}

/** upsert_curation: the Avro upsert topic and the curated documents topic
  * in one stream; each record is a document with probability `DocShare`.
  * The set-up's base load is `baseKeys` accounts plus `baseDocs` documents. */
final class UpsertCurationGen(seed: Long, baseKeys: Int, val baseDocs: Int) extends Gen(seed, 4) {
  val DocShare = 1.0 / 6
  val accounts = new AvroUpsertGen(seed, baseKeys)
  val docs = new DocsGen(seed)
  override def payloadBytes: Long = accounts.payloadBytes + docs.payloadBytes
  override def records: Long = accounts.records + docs.records

  def next(n: Int): Array[Rec] =
    Array.fill(n)(if (rnd.nextDouble() < DocShare) docs.next(1)(0) else accounts.next(1)(0))

  def base(): Array[Rec] = accounts.next(accounts.baseKeys) ++ docs.next(baseDocs)

  def modelDigest: String = Gen.sha256(Iterator(accounts.modelDigest, docs.modelDigest))
}
