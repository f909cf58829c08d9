package graft.ops

/** The md5 behind every md5-keyed op (minhash, simhash, fingerprint, the
  * passage window kernel): md5 is bit-identical in Spark and DuckDB, so
  * each op stays oracle-checkable. One digest per thread; a UDF fetches it
  * ONCE per row and reuses it for every shingle or window of that row.
  */
private[ops] object Md5 {
  private val perThread =
    ThreadLocal.withInitial[java.security.MessageDigest](
      () => java.security.MessageDigest.getInstance("MD5"))

  /** This thread's md5 digest, reset. */
  def digest(): java.security.MessageDigest = {
    val d = perThread.get()
    d.reset()
    d
  }

  private val hexDigits = "0123456789abcdef".toCharArray

  /** Lowercase hex of a 16-byte digest — the text form md5() has in both
    * engines.
    */
  def hex(dg: Array[Byte]): String = {
    val out = new Array[Char](32)
    var b = 0
    while (b < 16) {
      out(b * 2) = hexDigits((dg(b) >> 4) & 0xf)
      out(b * 2 + 1) = hexDigits(dg(b) & 0xf)
      b += 1
    }
    new String(out)
  }
}
