package graft.golden

import org.apache.spark.sql.{DataFrame, Row}

/** Byte-faithful formatter for the reference's golden output files
  * (SURVEY.md §5.3): Python `str(float)` float repr, Hadoop-style
  * `key \t value` lines, and the reference's per-directory orderings
  * (lexicographic string keys per emulator.py:358; tuple sort for
  * duel_pairs; descending emission for top_10).
  */
object GoldenFormat {

  /** Python repr(float): shortest decimal string that round-trips, fixed
    * notation inside Python's [1e-4, 1e16) window (all golden values fit).
    * Double.toString is not guaranteed shortest before JDK 19, hence the
    * explicit search: round its digits half-up to 1, 2, … significant
    * digits and keep the first candidate whose value rounds back to `d`
    * (`BigDecimal.doubleValue` rounds correctly, as parseDouble does). That
    * is what `%.{p-1}e` does to the same digits, so the result equals
    * the former String.format search (PyreprSpec pins it byte for
    * byte) at a fraction of the cost; the full-precision candidate is
    * Double.toString itself, which always round-trips. */
  def pyrepr(d: Double): String = {
    require(!d.isNaN && !d.isInfinite, s"non-finite $d")
    val ad = math.abs(d)
    require(d == 0.0 || (ad >= 1e-4 && ad < 1e16), s"value $d outside fixed-notation window")
    if (d == math.floor(d) && ad < 1e16) {
      s"${d.toLong}.0"
    } else {
      val digits = new java.math.BigDecimal(java.lang.Double.toString(d))
      val bd = (1 to digits.precision).iterator
        .map(i => digits.round(new java.math.MathContext(i, java.math.RoundingMode.HALF_UP)))
        .find(_.doubleValue == d).get
      val plain = bd.stripTrailingZeros().toPlainString
      if (plain.contains('.')) plain else plain + ".0"
    }
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
