package graft.queries

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Helpers that keep Spark output bit-identical to the DuckDB oracle.
  *
  * Rules (see .claude/skills/verify/SKILL.md "Gotchas"):
  *  - `fr(c, s)` = floor(c*10^s + 0.5)/10^s — deterministic half-up rounding
  *    built from IEEE ops that evaluate identically in Spark and DuckDB.
  *    Use for PER-ROW rounding (a single divergent row corrupts a whole sum).
  *    SQL side: `floor(x * 1eS + 0.5) / 1eS`.
  *  - `round(agg, 2)` is fine for FINAL aggregates of 2-decimal money data
  *    (sums land ~1e-9 from a multiple of 0.01, far from the .005 boundary).
  *  - dates/timestamps → strings (`date_format` / `strftime`);
  *  - year()/month()/datediff() → cast LONG (DuckDB returns BIGINT);
  *  - aliases all lowercase on both sides.
  */
object Parity {
  def fr(c: Column, scale: Int): Column = {
    val p = math.pow(10, scale)
    floor(c * lit(p) + lit(0.5)) / lit(p)
  }

  /** Modulus of [[strHash]] — the Mersenne prime 2^31-1. */
  val HashM: Long = graft.functions.PortableText.M

  /** Portable token hash: positional-LCG-weighted codepoint sum mod 2^31-1.
    * Pure map-side compute — replaces the round-1 `dense_rank` dictionary
    * (which was a single-partition global sort, the one plan that cannot
    * survive 100 TB). Both engines evaluate it exactly in 64-bit integers:
    *   h(s) = ( Σ_{i=1..len} code(s_i) · ((1103515245·i + 12345) mod M) ) mod M
    * Spark folds with mod at each step; DuckDB sums then mods — identical
    * because modular addition is associative. ASCII fixture ⇒ `ascii` (Spark)
    * and `ord` (DuckDB) agree. Collisions (~n²/2³¹) hit BOTH engines
    * identically, so parity is unaffected.
    *
    * The format (code units, positional weight, word segmentation) has one
    * home, [[graft.functions.PortableText]], which every native kernel whose
    * hash values surface reads text through. Evaluated by the native O(len)
    * codegen kernel [[graft.functions.PortableHashExpr]] — the Column
    * `aggregate`/`substr` formulation it replaces re-scanned the string per
    * character (O(len²)), and this hash sits under every shingle of
    * q33/q34/q40. */
  def strHash(c: Column): Column = graft.functions.PortableHash.hash(c)

  /** DuckDB rendering of [[strHash]] for oracle SQL; `e` must be a simple
    * column reference. */
  def strHashSql(e: String): String =
    s"CAST(list_sum(list_transform(range(1, length($e)+1), " +
      s"i -> ord($e[i]) * ((1103515245*i + 12345) % 2147483647))) " +
      "% 2147483647 AS BIGINT)"
}
