package graft.golden

import org.apache.spark.sql.DataFrame

/** Byte-faithful formatter for the reference's golden output files
  * (SURVEY.md §5.3): Python `str(float)` float repr, Hadoop-style
  * `key \t value` lines, and the reference's per-directory orderings
  * (lexicographic string keys per emulator.py:358; tuple sort for
  * duel_pairs; descending emission for top_10).
  */
object GoldenFormat {

  /** Python repr(float): shortest decimal string that round-trips, fixed
    * notation inside Python's [1e-4, 1e16) window (all golden values fit).
    * Double.toString's digits are that shortest form inside the window.
    * Before JDK 19 its spec allowed extra digits in rare cases
    * (JDK-4511638), but sweeps of over 9M window doubles on JDK 17
    * (log-uniform, random bit patterns, short decimals and their
    * neighbours, every power of two ± 64 ulps) found none where a
    * shorter rounding of the digits still round-trips. PyreprSpec pins
    * the result byte for byte against the former String.format search
    * ([[graft.PyreprReference]]). */
  def pyrepr(d: Double): String = {
    require(!d.isNaN && !d.isInfinite, s"non-finite $d")
    val ad = math.abs(d)
    require(d == 0.0 || (ad >= 1e-4 && ad < 1e16), s"value $d outside fixed-notation window")
    if (d == math.floor(d)) s"${d.toLong}.0"
    else new java.math.BigDecimal(java.lang.Double.toString(d)).stripTrailingZeros().toPlainString
  }

  /** (player LONG, value DOUBLE) table → emulator text: keys sorted as
    * strings (lexicographic), `player \t pyrepr(value)` lines. */
  def keyedDoubles(df: DataFrame): String =
    df.collect()
      .map(r => (r.getLong(0).toString, pyrepr(r.getDouble(1))))
      .sortBy(_._1)
      .map { case (k, v) => s"$k\t$v" }
      .mkString("", "\n", "\n")

  /** duel_pairs layout: rows (challenged, challenger), file ordered by
    * (challenger AS STRING, challenged numeric) — the reference's
    * (string-key, int) tuple sort (exercise_4.py:54-58) — printed as
    * `challenged \t challenger`. */
  def duelPairs(df: DataFrame): String =
    df.collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .sortBy { case (challenged, challenger) => (challenger.toString, challenged) }
      .map { case (challenged, challenger) => s"$challenged\t$challenger" }
      .mkString("", "\n", "\n")

  /** top_10 layout: rows already in emission (descending) order. */
  def topTen(df: DataFrame): String =
    df.collect()
      .map(r => s"${r.getLong(0)}\t${pyrepr(r.getDouble(1))}")
      .mkString("", "\n", "\n")

  /** difference layout: a single `pyrepr(mse) \t` line. */
  def difference(mse: Double): String = s"${pyrepr(mse)}\t\n"
}
