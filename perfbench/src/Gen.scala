package perfbench

import scala.collection.mutable

/** One change event as the producer sends it: an HBase-style Put (cells)
  * or Delete (no cells), its total-order `seq`, and `dueMs`, the wall-clock
  * time (epoch ms) at which the generator's schedule says it is sent. */
final case class Cell(family: String, qualifier: String, value: String)
final case class Event(op: String, rowKey: String, seq: Long, cells: Array[Cell],
                       dueMs: Double) {

  /** The Kafka-value wire shape `graft.model.ChangeLog.fromJsonValues`
    * decodes (ts in the pinned microsecond wire format). */
  def json: String = {
    val sb = new StringBuilder(if (cells == null) 96 else 96 + cells.length * 56)
    sb.append("{\"op\":\"").append(op).append("\",\"rowKey\":\"").append(rowKey)
      .append("\",\"seq\":").append(seq).append(",\"ts\":\"").append(Gen.wireTs(seq))
      .append("\",\"cells\":")
    if (cells == null) sb.append("null")
    else {
      sb.append('[')
      var i = 0
      while (i < cells.length) {
        val c = cells(i)
        if (i > 0) sb.append(',')
        sb.append("{\"family\":\"").append(c.family).append("\",\"qualifier\":\"")
          .append(c.qualifier).append("\",\"value\":\"").append(c.value).append("\"}")
        i += 1
      }
      sb.append(']')
    }
    sb.append('}').toString
  }
}

/** What the generator varies: key count and skew (`zipf` = 0 is uniform),
  * the Delete share, the share of Puts that carry only some fields, and
  * the per-field vocabulary size (field cardinality). */
final case class GenSpec(keys: Int, zipf: Double, pDelete: Double, pPartial: Double,
                         vocab: Int)

/** Seeded change-log generator. It is the load source only: the program
  * under test sees the events it emits and nothing else. Same seed, same
  * spec, same call sequence => the same events. */
final class Gen(spec: GenSpec, seed: Long) {
  private val rng = new java.util.Random(seed)
  private var nextSeq = 0L

  // Zipf by inverse CDF over key ranks; ranks map to keys through a fixed
  // odd multiplier so the hot keys are not neighbours in key order
  private val cdf: Array[Double] =
    if (spec.zipf <= 0) null
    else {
      val w = Array.tabulate(spec.keys)(i => 1.0 / math.pow(i + 1.0, spec.zipf))
      var acc = 0.0
      val c = new Array[Double](w.length)
      var i = 0
      while (i < w.length) { acc += w(i); c(i) = acc; i += 1 }
      c.map(_ / acc)
    }

  def keyOf(id: Int): String = f"r$id%07d"

  private def drawKey(): String =
    if (cdf == null) keyOf(rng.nextInt(spec.keys))
    else {
      val u = rng.nextDouble()
      var i = java.util.Arrays.binarySearch(cdf, u)
      if (i < 0) i = -i - 1
      keyOf(((math.min(i, spec.keys - 1).toLong * 40503L) % spec.keys).toInt)
    }

  private def word(prefix: String, card: Int): String = prefix + rng.nextInt(card)

  /** One value per field; qualifiers are what the doc is keyed by (the
    * column family is dropped by the flatten, so `meta:status` and
    * `data:status` write the same doc field). */
  private def fieldCell(q: Int): Cell = q match {
    case 0 => Cell("data", "title", Seq.fill(1 + rng.nextInt(3))(word("t", spec.vocab)).mkString(" "))
    case 1 => Cell("data", "status", word("s", 8))
    case 2 => Cell("data", "color", word("c", 16))
    case 3 => Cell("data", "n", rng.nextInt(1000).toString)
    case 4 => Cell("meta", "owner", word("u", spec.vocab * 4))
    case _ => Cell("meta", "note", Seq.fill(1 + rng.nextInt(2))(word("t", spec.vocab)).mkString(" "))
  }
  private val NumFields = 6

  private def put(rowKey: String, full: Boolean): Array[Cell] = {
    val cells =
      if (full) Array.tabulate(NumFields)(fieldCell)
      else Array.fill(1 + rng.nextInt(3))(fieldCell(rng.nextInt(NumFields)))
    // occasionally a second write of a field inside the same Put, under the
    // other family: the later cell must win (position order within a Put)
    if (rng.nextInt(50) == 0) {
      val c = fieldCell(1)
      cells :+ c.copy(family = if (c.family == "data") "meta" else "data")
    } else cells
  }

  /** The next event, due at `dueMs`. */
  def next(dueMs: Double): Event = {
    val k = drawKey()
    val seq = nextSeq
    nextSeq += 1
    if (rng.nextDouble() < spec.pDelete) Event("DELETE", k, seq, null, dueMs)
    else Event("PUT", k, seq, put(k, rng.nextDouble() >= spec.pPartial), dueMs)
  }

  /** The preloaded table: one full Put per key `0 until keys`, seq = key
    * id. Its values are hashes of (key, field, seed), so Spark can build it
    * in place ([[Gen.preloadFrame]]) and the replay can rebuild it here. */
  def preload(): Iterator[Event] = {
    nextSeq = spec.keys
    Iterator.range(0, spec.keys).map { i =>
      Event("PUT", keyOf(i), i, Gen.preloadFields(spec, seed).map { case (f, q, c) =>
        Cell(f, q, c.valueOf(i))
      }, 0.0)
    }
  }
}

object Gen {
  import org.apache.spark.sql.catalyst.expressions.XXH64

  /** One preload field: `prefix` + pmod(xxhash64(key, slot, seed), card),
    * `words` times, space separated; the same formula on both sides. */
  final case class PreField(prefix: String, card: Int, slots: Seq[Int], seed: Long) {
    def valueOf(i: Long): String = slots.map { s =>
      var h = 42L
      h = XXH64.hashLong(i, h); h = XXH64.hashInt(s, h); h = XXH64.hashLong(seed, h)
      prefix + java.lang.Math.floorMod(h, card.toLong)
    }.mkString(" ")
    def column(id: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
      import org.apache.spark.sql.functions._
      concat_ws(" ", slots.map(s => concat(lit(prefix),
        pmod(xxhash64(id, lit(s), lit(seed)), lit(card.toLong)).cast("string"))): _*)
    }
  }

  def preloadFields(spec: GenSpec, seed: Long): Array[(String, String, PreField)] = Array(
    ("data", "title", PreField("t", spec.vocab, Seq(0, 6), seed)),
    ("data", "status", PreField("s", 8, Seq(1), seed)),
    ("data", "color", PreField("c", 16, Seq(2), seed)),
    ("data", "n", PreField("", 1000, Seq(3), seed)),
    ("meta", "owner", PreField("u", spec.vocab * 4, Seq(4), seed)),
    ("meta", "note", PreField("t", spec.vocab, Seq(5), seed)))

  /** The preload as a change-log DataFrame built by Spark itself. */
  def preloadFrame(spark: org.apache.spark.sql.SparkSession, spec: GenSpec, seed: Long)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    val id = col("id")
    spark.range(spec.keys).select(
      lit("PUT").as("op"),
      format_string("r%07d", id).as("rowKey"),
      id.as("seq"),
      timestamp_micros(lit(epochMicros) + id * 1037L).as("ts"),
      array(preloadFields(spec, seed).toIndexedSeq.map { case (f, q, p) =>
        struct(lit(f).as("family"), lit(q).as("qualifier"), p.column(id).as("value"))
      }: _*).as("cells"))
  }
  private val epochMicros = 1704067200000000L   // 2024-01-01T00:00:00Z
  private val fmt = java.time.format.DateTimeFormatter
    .ofPattern("yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX").withZone(java.time.ZoneOffset.UTC)

  /** Event time of `seq`: one event per 1037 µs, so the microsecond digits
    * vary (the wire format carries them). */
  def tsMicros(seq: Long): Long = epochMicros + seq * 1037L
  def wireTs(seq: Long): String = {
    val us = tsMicros(seq)
    fmt.format(java.time.Instant.ofEpochSecond(us / 1000000L, (us % 1000000L) * 1000L))
  }
}

/** Benchmark-side replay of the reference semantics, independent of the
  * program: last write wins per field, a Put updates only the fields it
  * carries, a Delete drops the doc, and a later Put revives it. */
final class Replay {
  val docs = mutable.HashMap.empty[String, mutable.HashMap[String, String]]

  def apply(e: Event): Unit =
    if (e.op == "DELETE") docs.remove(e.rowKey)
    else {
      val d = docs.getOrElseUpdate(e.rowKey, mutable.HashMap.empty)
      e.cells.foreach(c => d(c.qualifier) = c.value)
    }

  def signature: Sig = Sig.of(docs.iterator.map { case (k, d) => (k, d.iterator) })
}

/** Order-independent table signature: row count, distinct rowKey count,
  * cell count, and the XOR and wrapping sum of Spark's
  * `xxhash64(rowKey, qualifier, value)` per cell, so the program's table and
  * the replay can be compared without sorting. A replayed doc is one row
  * with at least one field, so a table that keeps an empty doc or splits a
  * doc over two rows differs in `rows` or `keys`. */
final case class Sig(rows: Long, keys: Long, cells: Long, xor: Long, sum: Long)

object Sig {
  import org.apache.spark.sql.catalyst.expressions.XXH64
  import org.apache.spark.unsafe.types.UTF8String

  def cellHash(k: String, q: String, v: String): Long = {
    var h = 42L
    h = XXH64.hashUTF8String(UTF8String.fromString(k), h)
    h = XXH64.hashUTF8String(UTF8String.fromString(q), h)
    XXH64.hashUTF8String(UTF8String.fromString(v), h)
  }

  def of(docs: Iterator[(String, Iterator[(String, String)])]): Sig = {
    var n, cells, xor, sum = 0L
    docs.foreach { case (k, fields) =>
      n += 1
      fields.foreach { case (q, v) =>
        val h = cellHash(k, q, v)
        cells += 1; xor ^= h; sum += h
      }
    }
    Sig(n, n, cells, xor, sum)
  }

  /** The same signature computed by Spark over a `(rowKey, doc)` table:
    * rows and keys over the table as it is, cells and hashes over its
    * exploded fields. */
  def ofTable(docs: org.apache.spark.sql.DataFrame): Sig = {
    import org.apache.spark.sql.functions._
    val t = docs.agg(count(lit(1)), count_distinct(col("rowKey"))).head()
    val h = docs.select(col("rowKey"), explode(col("doc")).as(Seq("q", "v")))
      .select(xxhash64(col("rowKey"), col("q"), col("v")).as("h"))
    val r = h.agg(count(lit(1)), coalesce(bit_xor(col("h")), lit(0L)),
      sum(col("h").cast("decimal(38,0)"))).head()
    // low 64 bits of the exact sum = the wrapping sum
    val s = Option(r.getDecimal(2)).map(_.toBigInteger.longValue).getOrElse(0L)
    Sig(t.getLong(0), t.getLong(1), r.getLong(0), r.getLong(1), s)
  }
}
