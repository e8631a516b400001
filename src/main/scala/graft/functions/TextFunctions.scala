package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.graft.{LangId, PortableSimHash, RollingHash, Shim, SimHash}

/** User-facing Column API for the custom text expressions. */
object TextFunctions {
  /** Heuristic stopword-profile language ID → "en"/"de"/"es"/"fr"/"zh"/"und". */
  def lang_id(c: Column): Column = Shim.column(LangId(Shim.expression(c)))

  /** 58-bit polynomial rolling-hash content fingerprint. */
  def rolling_hash(c: Column): Column =
    Shim.column(RollingHash(Shim.expression(c)))

  /** 64-bit SimHash near-dup fingerprint. */
  def simhash64(c: Column): Column = Shim.column(SimHash(Shim.expression(c)))

  /** 60-bit engine-portable SimHash (md5 token hashes) — the
    * oracle-verifiable fingerprint; see PortableSimHash scaladoc. */
  def portable_simhash(c: Column): Column =
    Shim.column(PortableSimHash(Shim.expression(c)))
}
