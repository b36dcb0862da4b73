package graft.pipeline

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Engine-agnostic deterministic hashing.
  *
  * Everything that feeds a correctness oracle must be replayable bit-for-bit
  * in DuckDB, which cannot evaluate Spark's xxhash64. This module provides a
  * 30-bit polynomial string hash (base 131, mod 1e9+7) plus an affine
  * per-seed mixer family h ↦ (a_s·h + b_s) mod P. All arithmetic stays below
  * 2^61, so 64-bit integer math is exact and non-overflowing in Spark, in
  * DuckDB (whose BIGINT errors on overflow rather than wrapping), and in
  * plain JVM Longs.
  *
  * Each primitive exists in three congruent forms — a Catalyst `Column`, a
  * DuckDB SQL fragment generated from the same constants, and a JVM scalar —
  * so MinHash/SimHash/LSH pipelines hash identically on both sides of the
  * correctness gate.
  */
object Hashing {
  /** modulus: 30-bit prime */
  val P = 1000000007L

  /** character base of the polynomial hash */
  val B = 131L

  /** base used when folding several mod-P values into one (LSH banding) */
  val FoldBase = 1000003L

  /** affine mixer coefficients for seed `s` (multiplier kept nonzero) */
  def aCoef(s: Int): Long = {
    val a = (s.toLong * 2654435761L + 1L) % P
    if (a == 0L) 1L else a
  }
  def bCoef(s: Int): Long = (s.toLong * 40503L + 7L) % P

  // -------------------------------------------------- Catalyst Column forms
  /** Polynomial hash of a string column — the native codegen'd
    * [[graft.functions.PolyHash]] expression (one static-call fold over the
    * string, vs the interpreted per-char HOF lambda it replaced: that
    * `aggregate(split(c, ""), …)` form was the hot spot of every hashing
    * pipeline). Empty string hashes to 0 in both forms and both engines. */
  def polyHash(c: Column): Column =
    org.apache.spark.sql.GraftColumns.column(
      graft.functions.PolyHash(org.apache.spark.sql.GraftColumns.expression(c)))

  /** Per-seed affine remix of a mod-P hash. */
  def mix(h: Column, s: Int): Column = pmod(h * aCoef(s) + bCoef(s), lit(P))

  /** Pack two mod-P values into one 61-bit long (hi occupies bits 31..60). */
  def combine(hi: Column, lo: Column): Column = hi * lit(1L << 31) + lo

  /** Fold an ordered sequence of mod-P values into one (band hashing). */
  def foldHashes(hs: Seq[Column]): Column =
    hs.reduceLeft((acc, h) => pmod(acc * FoldBase + h, lit(P)))

  // ------------------------------------------ DuckDB SQL fragment twins
  def polyHashSql(e: String): String =
    s"list_reduce(list_prepend(CAST(0 AS BIGINT), " +
      s"list_transform(string_split($e, ''), c -> CAST(coalesce(ascii(c), 0) AS BIGINT))), " +
      s"(acc, c) -> (acc * $B + c) % $P)"

  def mixSql(h: String, s: Int): String = s"((($h) * ${aCoef(s)} + ${bCoef(s)}) % $P)"

  def combineSql(hi: String, lo: String): String = s"(($hi) * ${1L << 31} + ($lo))"

  def foldHashesSql(hs: Seq[String]): String =
    hs.reduceLeft((acc, h) => s"((($acc) * $FoldBase + $h) % $P)")

  // ------------------------------------------------------ JVM scalar twins
  /** Byte-level twin of [[polyHash]]: equal to the Column form whenever the
    * bytes are ASCII (each byte == its codepoint). */
  def polyHashBytes(bytes: Array[Byte]): Long = {
    var h = 0L
    var i = 0
    while (i < bytes.length) { h = (h * B + (bytes(i) & 0xffL)) % P; i += 1 }
    h
  }

  def mixLong(h: Long, s: Int): Long = mixLong(h, aCoef(s), bCoef(s))

  /** [[mixLong]] with seed coefficients `a`, `b` already looked up. */
  def mixLong(h: Long, a: Long, b: Long): Long = (h * a + b) % P

  // ================================ wide (~60-bit) family, CRT of two legs
  // The 30-bit space caps resolvable per-group cardinality near P ≈ 10⁹ —
  // real WAU / vocabulary counts at 100 TB exceed that. The wide family
  // pairs the SAME base-131 polynomial fold under a second prime: by CRT
  // the pair (h mod P, h mod P2) IS the unreduced polynomial value mod
  // P·P2 ≈ 10¹⁸, packed as leg1·P2 + leg2 — uniform on [0, PW), exact in
  // 64-bit integers everywhere (every intermediate < 2⁶³, so no ANSI
  // overflow in Spark, no BIGINT error in DuckDB — the wide family is
  // just as oracle-replayable as the narrow one). Collision loss at n
  // distinct values is ~n/2PW relative: negligible through n ≈ 10¹⁴.
  // Use `wide = true` on the sketch constructors for production-scale
  // cardinalities; the narrow family remains the default and the one the
  // long-standing oracle fixtures replay.

  /** second modulus: 30-bit prime, co-prime to [[P]] */
  val P2 = 999999937L

  /** wide space size P·P2 = 999999943999999559 (< 2⁶³) */
  val PW: Long = P * P2

  def aCoef2(s: Int): Long = {
    val a = (s.toLong * 2654435761L + 11L) % P2
    if (a == 0L) 1L else a
  }
  def bCoef2(s: Int): Long = (s.toLong * 69497L + 3L) % P2

  /** Second-leg polynomial hash (same fold, modulus [[P2]]). */
  def polyHash2(c: Column): Column =
    org.apache.spark.sql.GraftColumns.column(
      graft.functions.PolyHash(
        org.apache.spark.sql.GraftColumns.expression(c), P2))

  /** Wide hash = leg1·P2 + leg2 ∈ [0, PW). */
  def wideHash(c: Column): Column = polyHash(c) * lit(P2) + polyHash2(c)

  /** Per-seed affine remix of a wide hash: each CRT leg remixes under its
    * own modulus, so every intermediate stays < 2⁶¹ and the result is
    * again uniform on [0, PW). EXPECTS a [[wideHash]]-style input whose
    * high leg is already distributed — it does NOT diffuse a narrow
    * integer across the space (a value < P2 has high leg 0, and the remix
    * would confine it to one P2-sized band). */
  def mixWide(h: Column, s: Int): Column =
    mix(call_function("div", h, lit(P2)), s) * lit(P2) +
      pmod((h % lit(P2)) * aCoef2(s) + bCoef2(s), lit(P2))

  // SQL twins
  def polyHash2Sql(e: String): String =
    s"list_reduce(list_prepend(CAST(0 AS BIGINT), " +
      s"list_transform(string_split($e, ''), c -> CAST(coalesce(ascii(c), 0) AS BIGINT))), " +
      s"(acc, c) -> (acc * $B + c) % $P2)"

  // JVM scalar twins
  def polyHashBytes2(bytes: Array[Byte]): Long = {
    var h = 0L
    var i = 0
    while (i < bytes.length) { h = (h * B + (bytes(i) & 0xffL)) % P2; i += 1 }
    h
  }

  def wideHashBytes(bytes: Array[Byte]): Long =
    polyHashBytes(bytes) * P2 + polyHashBytes2(bytes)

  def mixWideLong(h: Long, s: Int): Long =
    (h / P2 * aCoef(s) + bCoef(s)) % P * P2 + ((h % P2) * aCoef2(s) + bCoef2(s)) % P2
}
