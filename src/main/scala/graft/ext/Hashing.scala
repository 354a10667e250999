package graft.ext

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Cross-engine-reproducible hashing for the dedup/similarity
  * operators [EXT].
  *
  * Everything is built on md5 (identical bytes→hex in Spark and
  * DuckDB): the top 60 bits of the digest become a positive Long
  * "base hash", and the k minhash functions are universal hashes
  * `(a_i * (h mod P) + b_i) mod P` over the Mersenne prime P=2^31-1 —
  * all arithmetic stays below 2^62, so it is overflow-free in any
  * engine with 64-bit integers. Parameters are generated from fixed
  * multipliers (Knuth's 2654435761), never from RNG state, so every
  * run and every engine agrees bit-for-bit.
  */
object Hashing {

  /** Mersenne prime 2^31-1 — the modulus of the universal hash family. */
  val P: Long = 2147483647L

  /** 60-bit positive base hash of a string expression — native codegen
    * Expression (one digest call + shifts; see functions.Base60Hash).
    */
  def base60(c: Column): Column = graft.functions.Base60Hash.base60_hash(c)

  /** The composed-builtin form [[base60]] replaced (hex string →
    * substring → base-16 parse). Kept ONLY as the bit-parity reference
    * for Base60HashSpec; 2.8× the cost of a raw hash pass at sf0.1.
    */
  private[graft] def base60Composed(c: Column): Column =
    conv(substr(md5(c), lit(1), lit(15)), 16, 10).cast("long")

  /** DuckDB text of [[base60]]. */
  def base60Sql(e: String): String =
    s"CAST('0x' || substr(md5($e), 1, 15) AS BIGINT)"

  /** Minhash family parameters: k functions in b bands of r rows
    * (k = b*r). 16 hashes / 4 bands / 4 rows: P(candidate) =
    * 1-(1-j^4)^4 ≈ 0.5 at j≈0.55 — tuned to the 0.5 near-dup
    * threshold used by the jaccard operator.
    */
  val K = 16
  val NumBands = 4
  val RowsPerBand: Int = K / NumBands

  val As: Seq[Long] = (0 until K).map(i => (2654435761L * (i + 1)) % P)
  val Bs: Seq[Long] = (0 until K).map(i => (40503L * (i + 1) + 12345L) % P)

  /** The i-th minhash input value for a base hash column. */
  def minhashTerm(i: Int, h: Column): Column =
    (lit(As(i)) * (h % lit(P)) + lit(Bs(i))) % lit(P)

  /** DuckDB text of [[minhashTerm]]. */
  def minhashTermSql(i: Int, hExpr: String): String =
    s"(${As(i)} * ($hExpr % $P) + ${Bs(i)}) % $P"

  /** SimHash geometry: 60 bits (the base-hash width), banded into 4
    * chunks of 15 bits. Pigeonhole: two fingerprints within Hamming
    * distance 3 share at least one intact band, so a band-bucket join
    * finds ALL such pairs — the banded plan is exact, not approximate,
    * at distance ≤ NumBands-1.
    */
  val SimBits = 60
  val SimBands = 4
  val SimBandBits: Int = SimBits / SimBands

  def simBandKey(fp: Column, band: Int): Column =
    shiftright(fp, band * SimBandBits) % lit(1L << SimBandBits)
}
