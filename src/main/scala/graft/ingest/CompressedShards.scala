package graft.ingest

import java.io.ByteArrayInputStream
import java.util.zip.{GZIPInputStream, GZIPOutputStream}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.core.Tables
import graft.queries.Entry

/** Compressed JSONL-shard ingest (SURVEY.md Q205) — the other container
  * format web-scale text corpora actually ship in (C4, The Pile, RedPajama,
  * CommonCrawl derivatives: `.jsonl.gz` / `.jsonl.zst` — one JSON object
  * per line, shards of a few thousand docs, gzip or zstd). The engine-side
  * machinery is (1) CODEC SNIFFING by magic bytes (gzip 1f 8b, zstd
  * 28 b5 2f fd — a real corpus mixes both), (2) stream decompression
  * (JDK `GZIPInputStream`; `ZstdInputStream` from the zstd-jni Spark
  * itself ships — both public, no new dependency), (3) line framing, and
  * (4) schema-checked JSON parsing with Spark's codegen'd `from_json`
  * (never a hand parser — Catalyst owns the hot path).
  *
  * Proof shape: the fixtures hold no compressed shards, so they are
  * FABRICATED from the documents table (16 docs per shard; strict JSON
  * escaping of the real `text` — control chars as \\uXXXX, so embedded
  * newlines cannot break line framing: the property JSONL exists to
  * provide); even shards compress gzip, odd shards zstd. The entry
  * round-trips: build → sniff → decompress → frame → from_json → columns,
  * and the DuckDB oracle recomputes every output column from the source
  * table alone, INCLUDING md5(text) — hash equality proves the doc text
  * survives escape → compress → decompress → parse BYTE-EXACT.
  * CompressedShardsSpec pins the byte layer (magic sniffing, both codecs,
  * escaping of every control char, truncated/corrupt streams loud).
  *
  * Scale posture: fabrication is fixture-only — production shard blobs
  * arrive one-per-row (binaryFile source / bytes column) and ingest is
  * map-only decompress+parse per shard, no shuffle at all; shards are
  * independent by construction, so the 100 TB read is embarrassingly
  * parallel and the from_json projection stays inside whole-stage
  * codegen. The one groupBy here is the fabrication side's shard
  * assembly, not ingest cost.
  *
  * Reference scope note: north-star surface (training-data pipeline
  * ingest), not L1 — the reference reads HBase cells only.
  */
object CompressedShards {

  private def T(s: SparkSession, dir: String, n: String): DataFrame = Tables(s, dir, n)

  val docsPerShard = 16

  object Jsonl {
    /** Strict JSON string escape: quote, backslash, and ALL control
      * chars < 0x20 (\n \r \t get their short forms). Exactly the
      * escaping rule RFC 8259 requires, so any engine's JSON parser
      * inverts it — Spark's from_json is the one we use. */
    def escape(s: String): String = {
      val b = new StringBuilder(s.length + 8)
      s.foreach {
        case '"'  => b.append("\\\"")
        case '\\' => b.append("\\\\")
        case '\n' => b.append("\\n")
        case '\r' => b.append("\\r")
        case '\t' => b.append("\\t")
        case c if c < ' ' => b.append(f"\\u${c.toInt}%04x")
        case c => b.append(c)
      }
      b.toString
    }

    def line(id: Long, lang: String, text: String): String =
      s"""{"id":$id,"lang":"${escape(lang)}","text":"${escape(text)}"}"""
  }

  object Codec {
    def gzip(data: Array[Byte]): Array[Byte] = {
      val out = new java.io.ByteArrayOutputStream()
      val g = new GZIPOutputStream(out)
      g.write(data); g.close()
      out.toByteArray
    }

    def zstd(data: Array[Byte]): Array[Byte] =
      com.github.luben.zstd.Zstd.compress(data, 3)

    /** Sniff the codec from magic bytes, then stream-decompress. A shard
      * that is neither gzip nor zstd fails loudly — silent passthrough
      * would feed compressed garbage to the JSON layer. */
    def sniffDecompress(bytes: Array[Byte]): (String, Array[Byte]) = {
      require(bytes.length >= 4, "shard too short to sniff")
      val in =
        if ((bytes(0) & 0xff) == 0x1f && (bytes(1) & 0xff) == 0x8b)
          "gzip" -> new GZIPInputStream(new ByteArrayInputStream(bytes))
        else if ((bytes(0) & 0xff) == 0x28 && (bytes(1) & 0xff) == 0xb5 &&
                 (bytes(2) & 0xff) == 0x2f && (bytes(3) & 0xff) == 0xfd)
          "zstd" -> new com.github.luben.zstd.ZstdInputStream(new ByteArrayInputStream(bytes))
        else throw new IllegalArgumentException(
          f"unknown shard codec (magic ${bytes(0)}%02x ${bytes(1)}%02x)")
      val out = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](8192)
      var n = in._2.read(buf)
      while (n >= 0) { out.write(buf, 0, n); n = in._2.read(buf) }
      in._2.close()
      (in._1, out.toByteArray)
    }
  }

  private val lineSchema = StructType(Seq(
    StructField("id", LongType), StructField("lang", StringType),
    StructField("text", StringType)))

  val entries: Seq[Entry] = Seq(
    // Compressed-shard round-trip (see [[Jsonl]]/[[Codec]]): build
    // .jsonl.gz / .jsonl.zst shards from the documents table, sniff +
    // decompress + line-frame per shard (map-only), then hand the lines
    // to Spark's codegen'd from_json with a checked schema (corrupt
    // lines would surface as nulls and fail the hash). md5(text) pins
    // the payload byte-exact through the whole layer.
    Entry("q205_jsonl_gz_shards",
      """SELECT doc_id, doc_id // 16 AS shard_id,
        |  CASE WHEN (doc_id // 16) % 2 = 0 THEN 'gzip' ELSE 'zstd' END AS codec,
        |  lang, CAST(length(text) AS BIGINT) AS n_chars, md5(text) AS txt_md5
        |FROM documents ORDER BY doc_id""".stripMargin) { (s, d) =>
      import s.implicits._
      val shards = T(s, d, "documents")
        .select(col("doc_id"), col("lang"), col("text"))
        .as[(Long, String, String)]
        .groupByKey { case (id, _, _) => id / docsPerShard }
        .mapGroups { (shardId, docs) =>
          val jsonl = docs.toSeq.sortBy(_._1)
            .map { case (id, lang, text) => Jsonl.line(id, lang, text) }
            .mkString("", "\n", "\n")
            .getBytes("UTF-8")
          val blob = if (shardId % 2 == 0) Codec.gzip(jsonl) else Codec.zstd(jsonl)
          (shardId, blob)
        }
      val lines = shards.flatMap { case (shardId, blob) =>
        val (codec, data) = Codec.sniffDecompress(blob)
        new String(data, "UTF-8").split('\n').toSeq.filter(_.nonEmpty)
          .map(line => (shardId, codec, line))
      }.toDF("shard_id", "codec", "line")
      lines
        .select(col("shard_id"), col("codec"),
          from_json(col("line"), lineSchema).as("j"))
        .select(col("j.id").as("doc_id"), col("shard_id"), col("codec"),
          col("j.lang").as("lang"),
          length(col("j.text")).cast("bigint").as("n_chars"),
          md5(encode(col("j.text"), "UTF-8")).as("txt_md5"))
        .orderBy(col("doc_id"))
    }
  )
}
