package graft.core

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Engine-portable deterministic 60-bit hash: the first 15 hex chars
  * of md5, read as an integer. Both Spark (`conv(substr(md5(x),1,15),
  * 16, 10)`) and DuckDB (`('0x' || substr(md5(x),1,15))::BIGINT`)
  * compute it exactly, so operators built on it — deterministic
  * sampling, simhash bit votes, KMV sketch minima — are hash-compare
  * verifiable against the SQL oracle, not just rows-only. 60 bits
  * keeps the value positive in a signed 64-bit long in both engines.
  *
  * This is the data-contract hash: reproducible across engines,
  * partitionings, and releases. xxhash64 stays the SHUFFLE hash
  * (faster, codegen'd) where the value never leaves the engine.
  */
object PortableHash {
  val Bits = 60

  /** Hash of the value's canonical string form (cast to string
    * first so int/bigint keys agree with the oracle's ::VARCHAR).
    * Resolves to the native graft.functions.Md5Hash60 expression, so
    * the session must have graft's functions: every `Sessions.builder`
    * session has them, and `SparkEntry.queries` adds them to a session
    * an outside harness hands in ([[md5Hash60Composed]] is the
    * builtin-only reference form it is tested equal to). */
  def md5Hash60(c: Column): Column =
    call_function("md5_hash60", c.cast("string"))

  /** Reference spelling from builtins only — what the DuckDB oracle
    * mirrors and what Md5Hash60Spec pins the native form against. */
  def md5Hash60Composed(c: Column): Column =
    conv(substring(md5(c.cast("string")), 1, 15), 16, 10).cast("long")

  /** DuckDB spelling of [[md5Hash60]] over SQL expression `e`. */
  def duckSql(e: String): String =
    s"('0x' || substr(md5($e), 1, 15))::BIGINT"
}
