package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.{lit, round}

/** Ulp-portable fixed-grid rounding, shared by every operator whose gate
  * hash-matches another engine: `round(x·10ᴺ)/10ᴺ` is three IEEE ops
  * plus a nearest-integer round, each bit-identical across engines. A
  * plain `round(x, N)` is NOT portable at the ulp level — Spark rounds
  * the double's shortest decimal rendering exactly while DuckDB rounds
  * the scaled double, and the two disagree within one ulp of a half-way
  * point (observed: 3 of 100 PageRank ranks off by 1e-12 at sf0.01;
  * a decimal sum of 1081841997.3365 is the double 1081841997.33649993,
  * which Spark's `round(x, 3)` takes to .337 and DuckDB to .336).
  * Oracles must spell the same scaled form, e.g.
  * `round(x * 1e12, 0) / 1e12` (DuckDB 1.0's `round(x, 3)` already
  * computes `round(x * 1e3) / 1e3`).
  */
private[graft] object PortableRound {
  /** 12-decimal grid — iterative chains (PageRank, Markov). */
  def r12(c: Column): Column = round(c * lit(1e12)) / lit(1e12)
  /** 3-decimal grid — money sums. */
  def r3(c: Column): Column = round(c * lit(1e3)) / lit(1e3)
  /** 6-decimal grid — rates, shares, credits. */
  def r6(c: Column): Column = round(c * lit(1e6)) / lit(1e6)
}
