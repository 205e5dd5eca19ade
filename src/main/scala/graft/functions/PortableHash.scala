package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Engine-portable deterministic string hashing.
  *
  * The dedup/LSH family (MinHash, SimHash, LSH bucketing) needs a hash that
  * the DuckDB oracle can reproduce exactly. Spark's `hash`/`xxhash64` and
  * DuckDB's `hash` are different algorithms, so we standardize on **MD5**
  * (identical lowercase-hex output in both engines) and derive integers
  * from hex prefixes:
  *
  *   - Spark side:  `conv(substring(md5(x), pos, 8), 16, 10)::long`
  *   - DuckDB side: positional `instr('0123456789abcdef', …)` arithmetic
  *     (generated by [[duckSql]]; DuckDB has no `conv`).
  *
  * A 32-bit-range value (0 .. 2^32-1) per 8-hex-char window; `seed` selects
  * a disjoint window / salted input so one MD5 yields several independent
  * hash functions. MD5 here is a fingerprint, not security.
  *
  * Scale note: both forms are pure codegen'd expressions — no UDF, no
  * shuffle; cost is one MD5 per row per distinct salt.
  */
object PortableHash {

  /** 32-bit-range hash of a string column: first 8 hex chars of
    * `md5(salt || x)` as a long. */
  def hash32(x: Column, salt: String = ""): Column =
    hash32w(x, salt, 0)

  /** Window `w` (0..3) of the same MD5: hex chars 8w+1..8w+8 as a long in
    * [0, 2^32). One MD5 digest yields four independent 32-bit values —
    * the wide-simhash base takes two windows for 64 base bits without a
    * second digest per token. */
  def hash32w(x: Column, salt: String, w: Int): Column = {
    require(w >= 0 && w < 4, "md5 has 32 hex chars = 4 8-char windows")
    conv(substring(md5(concat(lit(salt), x)), 8 * w + 1, 8), 16, 10)
      .cast("long")
  }

  /** Same value computed in DuckDB SQL, for oracle generation.
    * `x` is a SQL expression producing VARCHAR. */
  def duckSql(x: String, salt: String = ""): String =
    duckSqlW(x, salt, 0)

  /** DuckDB mirror of [[hash32w]]. */
  def duckSqlW(x: String, salt: String, win: Int): String = {
    require(win >= 0 && win < 4, "md5 has 32 hex chars = 4 8-char windows")
    val input = if (salt.isEmpty) x else s"('$salt' || $x)"
    val terms = (1 to 8).map { i =>
      val w = math.pow(16, 8 - i).toLong
      s"(instr('0123456789abcdef', substr(md5($input),${8 * win + i},1))-1)*$w"
    }
    s"CAST(${terms.mkString(" + ")} AS BIGINT)"
  }

  /** Lexicographic-min MD5 — an order-free alternative used for MinHash
    * signatures where only relative order matters: `min(md5(salt||shingle))`
    * is portable with zero arithmetic. */
  def md5Hex(x: Column, salt: String = ""): Column =
    md5(concat(lit(salt), x))
}
