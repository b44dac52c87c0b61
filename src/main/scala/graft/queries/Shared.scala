package graft
package queries

/** Oracle fragments and constants used by more than one query family. */
object Shared {
  /** q81's split declaration — one constant consumed by both the
    * Spark query and its oracle so the cut literals cannot drift. */
  private[queries] val splitFractions =
    Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)

  /** DuckDB twin of [[graft.functions.SimHash64]]'s token hash:
    * FNV-1a-64 over unicode codepoints + murmur3 fmix64, with unsigned
    * 64-bit arithmetic emulated in HUGEINT mod 2^64. The multiply
    * splits its left operand at 2^32 so the 128-bit intermediate never
    * overflows HUGEINT; each xor touches only low bits (both xor
    * operands are < the split width at every site — codepoints < 2^21,
    * the fmix shift term < 2^31), so it runs in BIGINT exactly. Shared
    * by every oracle that replays the token hash (q21 SimHash, q93
    * classifier). `tokHash` expects a token column named `tok` and
    * yields the UNSIGNED hash as HUGEINT in [0, 2^64). */
  private[queries] object Fnv64Sql {
    val m64 = "18446744073709551616::HUGEINT" // 2^64
    def mulmod(a: String, b: String): String =
      s"((($a) % 4294967296) * $b + ((($a) // 4294967296) * $b % 4294967296) * 4294967296) % $m64"
    def xorLow(h: String, s2: String, width: String): String =
      s"((($h) // $width) * $width + xor(CAST(($h) % $width AS BIGINT), CAST(($s2) AS BIGINT)))"
    def shr33(h: String): String = s"(($h) // 8589934592)"
    def fmix(h: String): String = {
      val a = xorLow(h, shr33(h), "2147483648")
      val b = mulmod(a, "18397679294719823053::HUGEINT") // 0xff51afd7ed558ccd
      val c = xorLow(b, shr33(b), "2147483648")
      val d = mulmod(c, "14181476777654086739::HUGEINT") // 0xc4ceb9fe1a85ec53
      xorLow(d, shr33(d), "2147483648")
    }
    // fold: h' = (h xor codepoint) * FNV_PRIME, basis-seeded via prepend
    private val fold = mulmod(xorLow("h", "cp", "2097152"), "1099511628211")
    val tokHash: String = fmix(
      "list_reduce(list_prepend(14695981039346656037::HUGEINT, " +
        "list_transform(regexp_extract_all(tok, '.'), c -> CAST(unicode(c) AS HUGEINT))), " +
        s"(h, cp) -> $fold)")
  }
}
