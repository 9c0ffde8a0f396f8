package graft.functions

import java.security.MessageDigest

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.{col, concat, conv, lit, md5, substring}
import org.apache.spark.sql.types.{LongType, StringType}

/** The engine's one hashing primitive: the md5 hex-prefix bucket
  * `CAST(conv(substring(md5(x), off, len), 16, 10) AS BIGINT)` — hex
  * digits [off, off+len) (1-based) of x's md5, read as one non-negative
  * integer (len <= 15, so it fits a BIGINT). It decides every split,
  * sample, sketch and dedup key, and the DuckDB oracle replays it
  * (`graft.Exact.sqlHexToLong`), so it is md5 rather than a faster
  * engine-private hash.
  *
  * It has exactly two forms, pinned equal by `DigestSpec`:
  *  - the Catalyst form ([[bucket]], [[salted]], [[docBucket]]) the
  *    operators put in their plans — the same expression tree the SQL
  *    spelling analyzes to;
  *  - the JVM form ([[instance]], [[nibbles]], [[hex]], [[md5Hex]]) the
  *    native kernels ([[HashKernels]], [[TextKernelFns]], `split_bucket`)
  *    compute straight off the digest bytes — no 32-char hex string, no
  *    substring copy, no radix parse per value.
  */
object Digest {

  /** `concat('<salt>', CAST(key AS STRING))` — a key in one purpose's hash
    * space. Distinct salts give independent buckets for the same key.
    */
  def salted(salt: String, key: Column): Column = concat(lit(salt), key.cast(StringType))

  /** `CAST(conv(substring(hex, off, len), 16, 10) AS BIGINT)` over an
    * already-computed md5 hex column.
    */
  def hexPrefix(hex: Column, off: Int, len: Int): Column =
    conv(substring(hex, off, len), 16, 10).cast(LongType)

  /** `CAST(conv(substring(md5(x), off, len), 16, 10) AS BIGINT)`. */
  def bucket(x: Column, off: Int, len: Int): Column = hexPrefix(md5(x), off, len)

  /** `md5(concat('doc-', CAST(doc_id AS STRING)))` — the corpus document
    * digest (`md5('doc-' || doc_id)` in the oracle).
    */
  def docMd5: Column = md5(salted("doc-", col("doc_id")))

  /** The document split bucket: the first 7 hex digits of [[docMd5]]
    * mod n — seed- and partitioning-free, so a document lands in the same
    * train/val/test split (n = 100) or ppm sample (n = 1000000) on every run.
    */
  def docBucket(n: Int): Column = hexPrefix(docMd5, 1, 7) % n

  private val local: ThreadLocal[MessageDigest] =
    ThreadLocal.withInitial(() => MessageDigest.getInstance("MD5"))

  /** The calling thread's MD5 instance, reset — feed it with `update` or
    * finish it with `digest(bytes)`.
    */
  private[graft] def instance: MessageDigest = {
    val md = local.get()
    md.reset()
    md
  }

  /** Hex digits [off, off+len) (0-based) of a digest as one big-endian
    * integer — exactly `conv(substring(hex(dg), off+1, len), 16, 10)`.
    * len <= 15.
    */
  private[graft] def nibbles(dg: Array[Byte], off: Int, len: Int): Long = {
    var v = 0L
    var j = off
    val end = off + len
    while (j < end) {
      val b = dg(j >> 1) & 0xFF
      v = (v << 4) | (if ((j & 1) == 0) b >>> 4 else b & 0xF)
      j += 1
    }
    v
  }

  private val hexDigits = "0123456789abcdef".toCharArray

  /** `md5(bytes)` as Spark's `md5` returns it: 32 lower-case hex chars. */
  private[graft] def md5Hex(bytes: Array[Byte]): String = hex(instance.digest(bytes))

  /** Lower-case hex of a digest, two chars per byte. */
  private[graft] def hex(dg: Array[Byte]): String = {
    val out = new Array[Char](dg.length * 2)
    var i = 0
    while (i < dg.length) {
      out(2 * i) = hexDigits((dg(i) >>> 4) & 0xF)
      out(2 * i + 1) = hexDigits(dg(i) & 0xF)
      i += 1
    }
    new String(out)
  }
}
