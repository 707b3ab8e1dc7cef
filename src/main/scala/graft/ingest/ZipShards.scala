package graft.ingest

import java.util.zip.CRC32

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.queries.Entry

/** ZIP-shard ingest (SURVEY.md Q215) — the other archive container
  * training corpora ship in (image datasets, Kaggle-style bundles:
  * store-method ZIP of per-sample member files). Structurally the
  * OPPOSITE of Q203's tar: a tar streams front-to-back, a ZIP is read
  * BACK-TO-FRONT — locate the end-of-central-directory record by
  * scanning backward past a possible trailing comment, read the central
  * directory (the authoritative index), then visit each member's local
  * header and validate the two records against each other and the
  * payload against its stored CRC-32. That double-entry layout is what
  * the parser must honor; a reader that walks local headers alone
  * silently accepts archives whose directory disagrees.
  *
  * Proof shape: shards fabricated from the documents table (8 docs per
  * shard, the Q203 grouping; `<id>.txt` = UTF-8 text byte-exact,
  * `<id>.cls` = id%7), with a trailing archive COMMENT on even shards
  * (the EOCD back-scan must skip it) and an extra field in odd shards'
  * local headers (the extra-length skip exercised); round-tripped
  * build → EOCD scan → central walk → local validation → CRC check →
  * sample regroup, and the DuckDB oracle recomputes every column
  * including md5(text) — hash equality proves payloads survive the
  * archive layer byte-exact. ZipShardsSpec pins the format BOTH ways
  * against the JDK: `ZipInputStream` reads our encoder's bytes
  * member-for-member, and our parser reads `ZipOutputStream`'s bytes —
  * a cancelling encoder/decoder bug pair cannot hide.
  *
  * Scale posture: identical to Q203 — the one groupBy is fixture-side
  * fabrication; production shard blobs arrive one-per-row and ingest is
  * map-only parse, no shuffle (samples never span shards).
  */
object ZipShards {

  private def T(s: SparkSession, dir: String, n: String): DataFrame = Tables(s, dir, n)

  val docsPerShard = 8

  object Zip {
    private val LocalSig = 0x04034b50
    private val CentralSig = 0x02014b50
    private val EocdSig = 0x06054b50

    private def putLE(a: Array[Byte], off: Int, v: Int, n: Int): Unit =
      (0 until n).foreach(k => a(off + k) = ((v >>> (8 * k)) & 0xff).toByte)
    private def getLE(a: Array[Byte], off: Int, n: Int): Int = {
      require(off >= 0 && off + n <= a.length, "truncated ZIP field")
      (0 until n).foldRight(0)((k, acc) => (acc << 8) | (a(off + k) & 0xff))
    }

    def crc32(data: Array[Byte]): Int = {
      val c = new CRC32(); c.update(data); c.getValue.toInt
    }

    /** Store-method ZIP: local headers + payloads, central directory,
      * EOCD. `comment` lands in the EOCD (back-scan exercised); `extra`
      * bytes land in every local header (extra-length skip exercised). */
    def write(members: Seq[(String, Array[Byte])],
              comment: Array[Byte] = Array.empty,
              extra: Array[Byte] = Array.empty): Array[Byte] = {
      val out = new java.io.ByteArrayOutputStream()
      val central = new java.io.ByteArrayOutputStream()
      members.foreach { case (name, data) =>
        val nameB = name.getBytes("US-ASCII")
        val off = out.size()
        val lh = new Array[Byte](30)
        putLE(lh, 0, LocalSig, 4)
        putLE(lh, 4, 20, 2)                       // version needed
        putLE(lh, 6, 0, 2)                        // flags
        putLE(lh, 8, 0, 2)                        // method: store
        putLE(lh, 10, 0, 2); putLE(lh, 12, 0x21, 2) // dos time/date (fixed)
        putLE(lh, 14, crc32(data), 4)
        putLE(lh, 18, data.length, 4)             // compressed size
        putLE(lh, 22, data.length, 4)             // uncompressed size
        putLE(lh, 26, nameB.length, 2)
        putLE(lh, 28, extra.length, 2)
        out.write(lh); out.write(nameB); out.write(extra); out.write(data)
        val ch = new Array[Byte](46)
        putLE(ch, 0, CentralSig, 4)
        putLE(ch, 4, 20, 2); putLE(ch, 6, 20, 2)  // made by / needed
        putLE(ch, 8, 0, 2); putLE(ch, 10, 0, 2)   // flags, method
        putLE(ch, 12, 0, 2); putLE(ch, 14, 0x21, 2)
        putLE(ch, 16, crc32(data), 4)
        putLE(ch, 20, data.length, 4); putLE(ch, 24, data.length, 4)
        putLE(ch, 28, nameB.length, 2)
        putLE(ch, 30, 0, 2); putLE(ch, 32, 0, 2)  // extra, comment lens
        putLE(ch, 34, 0, 2); putLE(ch, 36, 0, 2)  // disk, internal attrs
        putLE(ch, 38, 0, 4)                       // external attrs
        putLE(ch, 42, off, 4)                     // local header offset
        central.write(ch); central.write(nameB)
      }
      val cdOff = out.size()
      val cd = central.toByteArray
      out.write(cd)
      val eocd = new Array[Byte](22)
      putLE(eocd, 0, EocdSig, 4)
      putLE(eocd, 4, 0, 2); putLE(eocd, 6, 0, 2)  // disk numbers
      putLE(eocd, 8, members.size, 2); putLE(eocd, 10, members.size, 2)
      putLE(eocd, 12, cd.length, 4)
      putLE(eocd, 16, cdOff, 4)
      putLE(eocd, 20, comment.length, 2)
      out.write(eocd); out.write(comment)
      out.toByteArray
    }

    /** Read back-to-front: EOCD (scanning past a trailing comment),
      * central directory, then each member's local header — every
      * cross-record field and each payload's CRC-32 verified. */
    def read(bytes: Array[Byte]): Seq[(String, Array[Byte])] = {
      require(bytes.length >= 22, "too short for an EOCD")
      // EOCD back-scan: the record's comment-length field must agree
      // with the actual tail, or the signature match is coincidental.
      val eocd = (bytes.length - 22 to math.max(0, bytes.length - 22 - 0xffff) by -1)
        .find { o =>
          getLE(bytes, o, 4) == EocdSig &&
            o + 22 + getLE(bytes, o + 20, 2) == bytes.length
        }
        .getOrElse(throw new IllegalArgumentException("no end-of-central-directory"))
      val n = getLE(bytes, eocd + 10, 2)
      require(getLE(bytes, eocd + 8, 2) == n, "multi-disk archives unsupported")
      val cdSize = getLE(bytes, eocd + 12, 4)
      var off = getLE(bytes, eocd + 16, 4)
      require(off + cdSize <= eocd, "central directory overruns EOCD")
      val out = Seq.newBuilder[(String, Array[Byte])]
      (0 until n).foreach { _ =>
        require(getLE(bytes, off, 4) == CentralSig, "bad central-directory signature")
        require(getLE(bytes, off + 10, 2) == 0, "not store method (central)")
        val crc = getLE(bytes, off + 16, 4)
        val size = getLE(bytes, off + 20, 4)
        require(getLE(bytes, off + 24, 4) == size, "stored sizes disagree (central)")
        val nameLen = getLE(bytes, off + 28, 2)
        val extraLen = getLE(bytes, off + 30, 2)
        val cmtLen = getLE(bytes, off + 32, 2)
        val lho = getLE(bytes, off + 42, 4)
        val name = new String(bytes, off + 46, nameLen, "US-ASCII")
        // local header must agree with the directory record
        require(getLE(bytes, lho, 4) == LocalSig, s"bad local signature for $name")
        require(getLE(bytes, lho + 8, 2) == 0, "not store method (local)")
        require(getLE(bytes, lho + 14, 4) == crc, s"local/central CRC disagree for $name")
        require(getLE(bytes, lho + 18, 4) == size, s"local/central size disagree for $name")
        val lNameLen = getLE(bytes, lho + 26, 2)
        val lExtraLen = getLE(bytes, lho + 28, 2)
        require(new String(bytes, lho + 30, lNameLen, "US-ASCII") == name,
          "local/central name disagree")
        val dataOff = lho + 30 + lNameLen + lExtraLen
        require(dataOff + size <= bytes.length, s"truncated member $name")
        val data = bytes.slice(dataOff, dataOff + size)
        require(crc32(data) == crc, s"CRC mismatch for $name")
        out += name -> data
        off += 46 + nameLen + extraLen + cmtLen
      }
      out.result()
    }
  }

  val entries: Seq[Entry] = Seq(
    // ZIP-shard round-trip (see [[Zip]]): build store-method shards from
    // the documents table (comment / extra-field decoys by shard
    // parity), parse back through the EOCD back-scan + central walk +
    // CRC validation, regroup into samples via the shared WebDataset
    // rule, and hash-check every field including md5(text).
    Entry("q215_zip_shards",
      """SELECT doc_id, doc_id // 8 AS shard_id, 2 AS n_fields,
        |  CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS txt_len,
        |  CAST(doc_id % 7 AS INT) AS cls, md5(text) AS txt_md5
        |FROM documents ORDER BY doc_id""".stripMargin) { (s, d) =>
      import s.implicits._
      val shards = T(s, d, "documents")
        .select(col("doc_id"), col("text"))
        .as[(Long, String)]
        .groupByKey { case (id, _) => id / docsPerShard }
        .mapGroups { (shardId, docs) =>
          val members = docs.toSeq.sortBy(_._1).flatMap { case (id, text) =>
            Seq(s"$id.txt" -> text.getBytes("UTF-8"),
                s"$id.cls" -> (id % 7).toString.getBytes("US-ASCII"))
          }
          val comment = if (shardId % 2 == 0) s"graft shard $shardId".getBytes("US-ASCII")
                        else Array.empty[Byte]
          val extra = if (shardId % 2 == 1) Array[Byte](0x47, 0x52, 4, 0, 1, 2, 3, 4)
                      else Array.empty[Byte]
          (shardId, Zip.write(members, comment, extra))
        }
      shards.flatMap { case (shardId, bytes) =>
        Shards.Tar.samples(Zip.read(bytes)).toSeq.map { case (key, fields) =>
          val txt = fields("txt")
          Shards.ShardSample(key.toLong, shardId, fields.size, txt.length.toLong,
            new String(fields("cls"), "US-ASCII").toInt, txt)
        }
      }.toDF()
        .select(col("doc_id"), col("shard_id"), col("n_fields"),
                col("txt_len"), col("cls"), md5(col("txt_bytes")).as("txt_md5"))
        .orderBy(col("doc_id"))
    }
  )
}
