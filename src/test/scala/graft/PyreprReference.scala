package graft

/** The String.format search that [[graft.golden.GoldenFormat.pyrepr]]
  * replaced, kept as its byte-for-byte reference for PyreprSpec: the
  * shortest `%.{p-1}e` rendering of `d` that parses back to `d`, printed
  * in plain notation. */
object PyreprReference {

  def pyrepr(d: Double): String = {
    require(!d.isNaN && !d.isInfinite, s"non-finite $d")
    val ad = math.abs(d)
    require(d == 0.0 || (ad >= 1e-4 && ad < 1e16), s"value $d outside fixed-notation window")
    if (d == math.floor(d) && ad < 1e16) {
      s"${d.toLong}.0"
    } else {
      val p = (1 to 17).find { i =>
        java.lang.Double.parseDouble(String.format(java.util.Locale.ROOT, s"%.${i - 1}e", Double.box(d))) == d
      }.get
      val bd = new java.math.BigDecimal(String.format(java.util.Locale.ROOT, s"%.${p - 1}e", Double.box(d)))
      val plain = bd.stripTrailingZeros().toPlainString
      if (plain.contains('.')) plain else plain + ".0"
    }
  }
}
