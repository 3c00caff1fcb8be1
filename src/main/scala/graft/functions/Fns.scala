package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Column-level functions — all built from `org.apache.spark.sql.functions`
  * so every one stays inside whole-stage codegen (no UDFs).
  *
  * Includes the oracle-parity arithmetic discipline (SURVEY.md §8):
  * money math goes through exact decimals and is only converted to
  * double at the very end, so Spark and the DuckDB oracle produce
  * bit-identical values regardless of partitioning / summation order.
  */
object Fns {

  // ---------------------------------------------------------------- decimals

  /** Exact-decimal view of a money column. */
  def dec(c: Column, precision: Int = 18, scale: Int = 2): Column =
    c.cast(DecimalType(precision, scale))

  /** Order-independent sum of a money column: exact sum, then a single
    * deterministic cast to double.
    *
    * r8 implementation: the exact sum runs on a LONG fixed-point column
    * (value·10^scale per row — one exact decimal cast + multiply), not a
    * decimal sum buffer: sum(decimal(28,2)) leaves Spark's compact-long
    * representation and pays a JavaBigDecimal allocation per row in the
    * hash-agg update loop (4–7× slower, measured at 64× sf0.1). The
    * reconstruction divides the long sum back exactly in decimal space
    * and applies the same single decimal→double cast, so the output is
    * bit-for-bit the old decimal form and every oracle is unchanged.
    * Domain precondition (documented, generous): |value| ≤ ~10^9, so the
    * scaled per-row term ≤ 10^13 and the long sum holds exactly for
    * ≤ ~9·10^5 billion rows per group.
    */
  def decSum(c: Column, precision: Int = 18, scale: Int = 2): Column = {
    require(scale <= 6, s"decSum reconstruction is exact only to scale 6, got $scale")
    val pow = math.pow(10, scale).toLong
    fixedToDouble(sum((dec(c, precision, scale) * pow).cast("long")), pow)
  }

  /** Order-independent average: exact decimal sum → double, divided by
    * the long count (IEEE division is deterministic).
    */
  def decAvg(c: Column, precision: Int = 18, scale: Int = 2): Column =
    decSum(c, precision, scale) / count(lit(1))

  /** Order-independent sum of an exact-decimal *product* column.
    * Products carry wide scales (e.g. 10); casting a big int128-backed
    * decimal straight to double is double-rounded in some engines
    * (value→double, then ÷10^scale). Rounding the sum to scale 6 first
    * keeps the mantissa < 2^53 so decimal→double is single-rounded —
    * bit-identical across engines. Scale 6 is exact (tie-free) because
    * money inputs have true scale 2, so products carry true scale ≤ 6. Oracle form:
    * `CAST(CAST(SUM(expr) AS DECIMAL(38,6)) AS DOUBLE)`.
    */
  def decSumProd(prod: Column): Column =
    sum(prod).cast(DecimalType(38, 6)).cast("double")

  // ------------------------------------------ fixed-point money kernels (r8)
  //
  // Decimal aggregation above precision 18 leaves Spark's compact-long
  // representation: every partial sum allocates a JavaBigDecimal, and the
  // hash-agg update loop runs 4-7x slower than a long column (measured at
  // 64x sf0.1: the q1 shape 5.9 s decimal vs 3.5 s fixed-point). These
  // kernels compute the SAME exact rationals on codegen'd long arithmetic:
  // money -> integer cents / basis points per row (one decimal cast per
  // column, exact), products as scale-6/scale-10 integers, and sums as
  // TWO long accumulators (hi = p div 1e9, lo = p mod 1e9): per-row
  // products reach 1e11-2e15, so a single long sum would overflow at
  // ~1e7 rows, while the split pair holds exactly for up to ~9e9 rows
  // per group (lo <= rows*1e9, hi <= rows*2e6 — both inside int64; the
  // bound is documented here and generous: 9e9 lineitems PER GROUP is
  // ~1.5 PB of a single returnflag/linestatus cell). Reconstruction
  // rebuilds the exact decimal and applies the IDENTICAL final
  // rounding/cast chain as the decimal faces, so the emitted doubles
  // are bit-for-bit the oracle's.

  /** Exact integer cents of a money column (scale-2 fixed point). */
  def cents(c: Column): Column = (dec(c) * 100).cast("long")

  /** Exact integer basis points of a rate column (scale-4 fixed point). */
  def bp(c: Column): Column = (dec(c, 8, 4) * 10000).cast("long")

  /** Split-accumulator modulus: per-row products up to ~2e15 sum safely
    * as (div 1e9, mod 1e9) long pairs for <= ~9e9 rows per group.
    */
  val SplitM = 1000000000L
  def splitHi(p: Column): Column = call_function("div", p, lit(SplitM))
  def splitLo(p: Column): Column = p % SplitM

  /** Reassemble a split sum into the exact decimal integer value. */
  private def reassemble(hi: Column, lo: Column): Column =
    hi.cast(DecimalType(38, 0)) * SplitM + lo.cast(DecimalType(38, 0))

  /** Split scale-6 integer sum -> the exact dollars double, identical to
    * `decSumProd` on the equivalent decimal products (value exact at
    * scale 6; the division below is exact, the final cast is the same
    * single decimal->double rounding).
    */
  def split6ToDouble(hi: Column, lo: Column): Column =
    (reassemble(hi, lo) / lit(1000000L)).cast(DecimalType(38, 6)).cast("double")

  /** Split scale-10 integer sum -> dollars double with the HALF_UP
    * rounding to scale 6 that `decSumProd`'s DECIMAL(38,6) cast applies
    * to a scale-10 decimal sum: (V + 5000) div 10^4 for the positive
    * money sums these kernels carry.
    */
  def split10ToDouble(hi: Column, lo: Column): Column =
    (floor((reassemble(hi, lo) + lit(5000L)) / lit(10000L)).cast(DecimalType(38, 0))
      / lit(1000000L)).cast(DecimalType(38, 6)).cast("double")

  /** Unsplit scale-`s` integer sum -> exact double (for per-row values
    * small enough to sum raw: cents <= 1e7/row is safe to ~9e11 rows).
    */
  def fixedToDouble(s: Column, pow: Long): Column =
    (s.cast(DecimalType(38, 0)) / lit(pow)).cast(DecimalType(38, 6)).cast("double")

  // ----------------------------------------------------- reference-derived

  /** Surrogate key: md5 over '-'-joined, null-coalesced string casts.
    * Re-expression of dbt_utils.generate_surrogate_key as used by
    * stg_green_tripdata.sql:13 (md5 of vendorid + pickup_datetime).
    */
  def surrogateKey(cols: Column*): Column =
    md5(concat_ws("-", cols.map(c => coalesce(c.cast("string"), lit(""))): _*))

  /** Code → description CASE mapping; the shape of
    * macros/get_payment_type_description.sql (int code → label, null
    * for unknown codes).
    */
  def caseMap(code: Column, mapping: Seq[(Int, String)]): Column =
    mapping.foldLeft(lit(null).cast("string")) { case (acc, (k, v)) =>
      when(code === lit(k), lit(v)).otherwise(acc)
    }

  /** Order-priority code ('1-URGENT' → 1 → 'Urgent') — the engine's
    * stand-in for payment_type 1..6 → 'Credit card'.. (see SURVEY §4).
    */
  val priorityDescriptions: Seq[(Int, String)] = Seq(
    1 -> "Urgent", 2 -> "High", 3 -> "Medium", 4 -> "Not specified", 5 -> "Low")

  def priorityCode(priority: Column): Column =
    substring(priority, 1, 1).cast("int")

  def priorityDescription(priority: Column): Column =
    caseMap(priorityCode(priority), priorityDescriptions)

  // ------------------------------------------------------------------ text

  /** Occurrences of a literal substring, via the length/replace identity.
    * Chosen over regexp so the DuckDB oracle can state the exact same
    * arithmetic (portable across engines).
    */
  def substrCount(text: Column, sub: String): Column =
    ((length(text) - length(replace(text, lit(sub), lit("")))) / sub.length).cast("int")

  /** Whitespace word tokens (internal use; counting queries use
    * [[substrCount]] arithmetic for oracle parity).
    */
  def tokens(text: Column): Column =
    split(trim(text), "\\s+")

  // -------------------------------------------------------------- vectors

  /** Double-precision dot product of two float arrays via zip_with +
    * a sequential left-fold (deterministic accumulation order).
    * float×float promoted to double is exact (24+24 mantissa bits < 53).
    */
  def dotProduct(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)

  /** Cosine similarity over float-array embeddings. */
  def cosineSim(a: Column, b: Column): Column =
    dotProduct(a, b) / (sqrt(dotProduct(a, a)) * sqrt(dotProduct(b, b)))

  /** Distinct word n-gram shingles of a token array — built with HOFs
    * (transform over an index sequence), fully codegen, no explode.
    */
  def shingles(toks: Column, n: Int): Column =
    when(size(toks) >= n,
      array_distinct(transform(
        sequence(lit(1), size(toks) - (n - 1)),
        i => concat_ws(" ", slice(toks, i, lit(n))))))
      .otherwise(array(concat_ws(" ", toks)))
}
