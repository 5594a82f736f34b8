package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Cross-engine determinism helpers.
  *
  * The driver grades every query by an exact hash-match against DuckDB running
  * the paired `oracleSql` on the same parquet (BASELINE.md). That forbids any
  * value whose bits depend on engine-internal evaluation order. Rules used by
  * every judged query in this package:
  *
  *  - The driver canonicalizes BOTH sides through pandas (Spark parquet via
  *    `pandas.read_parquet`, oracle via duckdb `.df()`), so the pandas DTYPE
  *    is part of the contract. Judged output schemas must therefore contain
  *    NO DECIMAL (→ python Decimal objects vs float64), NO ARRAY/MAP
  *    (→ unsortable ndarray cells crash the gate), and integer sums on the
  *    DuckDB side must be CAST to BIGINT (HUGEINT → float64 otherwise).
  *  - Money/quantity sums: aggregate in DECIMAL (exact, order-independent),
  *    rescale to DECIMAL(38,6) — exact, since money inputs carry ≤6 dp —
  *    then cast the FINAL column to DOUBLE. With the unscaled value below
  *    2^53 at the judged scale, decimal→double is the correctly-rounded
  *    nearest double in both engines, so the result is bit-exact.
  *  - Averages/ratios: `cast(exact_decimal_or_int AS DOUBLE) / count` — same
  *    argument, plus IEEE-754 division is deterministic.
  *  - No transcendental functions (ln/exp/pow) in judged outputs — Java Math
  *    and libm may differ in the last ulp.
  *  - Every judged query ends in a total-order `orderBy`; the DuckDB oracle
  *    mirrors Spark's null ordering explicitly (ASC → NULLS FIRST,
  *    DESC → NULLS LAST).
  */
package object ops {
  /** Deletes `f` and everything under it. */
  private[graft] def deleteTree(f: java.io.File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete(): Unit
  }

  /** A fresh temp directory, deleted with its contents when the JVM exits
    * (`File.deleteOnExit` removes only a directory that is empty by then). */
  private[graft] def scratchDir(prefix: String): java.nio.file.Path = {
    val p = java.nio.file.Files.createTempDirectory(prefix)
    sys.addShutdownHook(deleteTree(p.toFile))
    p
  }

  /** Standard exact-measure operand: plenty of range for sf0.1 money values. */
  val M: DecimalType = DecimalType(18, 6)
  /** Narrow operand for triple products (3×12 digits + carries fits DuckDB's
    * 38-digit cap: 12+13+13=38). */
  val M4: DecimalType = DecimalType(12, 4)
  /** Exact intermediate sum type: rescaling product sums (scale 8) to scale 6
    * is exact for ≤6-dp money values and keeps the unscaled value below 2^53
    * at judged scale, so the final cast to DOUBLE is correctly rounded. */
  val S: DecimalType = DecimalType(38, 6)

  def dec(c: Column): Column  = c.cast(M)
  def dec4(c: Column): Column = c.cast(M4)

  /** Judged sum: exact decimal accumulation, DOUBLE final output (the driver
    * canonicalizes via pandas — a DECIMAL final column hash-fails). */
  def sumS(c: Column): Column = sum(dec(c)).cast(S).cast(DoubleType)

  /** Bit-exact cross-engine average: exact decimal sum → double → / count. */
  def avgD(c: Column): Column =
    sum(dec(c)).cast(DoubleType) / count(lit(1))

  /** Ratio of two exact (int/decimal) columns as bit-exact double. */
  def ratioD(num: Column, den: Column): Column =
    num.cast(DoubleType) / den.cast(DoubleType)

  /** Timezone-independent day truncation of a TIMESTAMP_NTZ column: pure
    * wall-clock DATE round trip. `date_trunc` would route the NTZ value
    * through a session-timezone TIMESTAMP and shift day boundaries on a
    * non-UTC host (the DuckDB oracle's date_trunc is tz-less). */
  def dayNtz(c: Column): Column = c.cast(DateType).cast(TimestampNTZType)
}
