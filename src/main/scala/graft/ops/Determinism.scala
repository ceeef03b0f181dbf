package graft.ops

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Deterministic pseudo-randomness that is (a) stable across engines — the
  * same computation is expressible in ANSI SQL so a DuckDB oracle reproduces
  * it bit-for-bit — and (b) shuffle-safe: a pure column function of the row
  * key, unlike `rand(seed)` whose per-row value depends on partition layout.
  *
  * The reference pipeline shuffles and samples with *unseeded* Python RNG
  * (reference: train/common/dataset.py:213-222); every graft counterpart pins
  * determinism through this hash instead (SURVEY §7.4 item 4).
  *
  * h(k) = int(md5(string(k))[0:15], 16)   — 60 bits of entropy.
  *
  * The first 15 hex digits of the md5 fit a signed 64-bit integer
  * (16^15 = 2^60), so the parse is exact in both engines: Spark
  * `conv(substring(md5(...),1,15),16,10)` and DuckDB
  * `CAST('0x' || substring(md5(...),1,15) AS BIGINT)`. Unlike a modular
  * congruential hash, every distinct key gets an independent hash — no
  * residue-class correlation at any scale (at 10^12 keys the expected
  * collision count under 2^60 is ~0.4; ties are broken by the key itself
  * wherever the hash orders rows).
  */
object Determinism {

  /** Size of the hash space: 16^15 = 2^60. */
  val Space: Long = 1L << 60

  /** Column form: key column must be integral (cast to long internally).
    * Built directly on the native codegen'd kernel
    * ([[graft.functions.DetHashExpr]]) — bit-identical to the composed
    * `conv(substring(md5(...), 1, 15), 16, 10)` documented above (parity
    * asserted in DeterminismSpec), without the hex-string materialization
    * or a per-row MessageDigest. Constructed as an Expression, not via the
    * function registry, so library callers need no extension registration.
    */
  def detHash(key: Column): Column = {
    import org.apache.spark.sql.graftshim.ColumnShim
    ColumnShim.column(graft.functions.DetHashExpr(
      ColumnShim.expression(key.cast("long"))))
  }

  /** The equivalent DuckDB-SQL fragment, for oracle queries. */
  def detHashSql(keyExpr: String): String =
    s"CAST('0x' || substring(md5(CAST(CAST($keyExpr AS BIGINT) AS VARCHAR)), 1, 15) AS BIGINT)"

  /** STRING-keyed form of [[detHash]] — the same md5 → first-15-hex-digits
    * fold over the key's string bytes, so for an integral key k,
    * `detHashStr(cast(k as string)) == detHash(k)` (the long form hashes
    * the decimal rendering). Built from codegen'd built-ins
    * (`conv(substring(md5(x), 1, 15), 16, 10)`) — one md5 per row, no
    * registration needed.
    *
    * COLLISION MATH (60-bit space): expected collisions over n distinct
    * keys ≈ n²/2⁶¹ — ~4·10⁻⁴ at n = 3·10⁷ but **~0.43 at n = 10⁹** (one
    * URL-keyed crawl snapshot), i.e. a ~35% chance of at least one
    * collision. That is why this is NOT the dedup-chain surrogate anymore
    * ([[detHash128]] is, since round 16); this 60-bit fold remains for
    * (a) arithmetic-seeded paths that need a LONG (k-means seeding,
    * sampling folds — where a collision only perturbs a seed choice,
    * never correctness) and (b) detRand-style uniform draws.
    */
  def detHashStr(key: Column): Column =
    conv(substring(md5(key.cast("string")), 1, 15), 16, 10).cast("long")

  /** 128-bit string surrogate — the FULL md5 hex rendering (32 lowercase
    * hex chars) of the key's string form. This is the dedup chain's
    * internal surrogate id for non-integral doc ids
    * ([[graft.pipelines.Pipelines.dedupCorpusStages]]): expected
    * collisions over n distinct keys ≈ n²/2¹²⁹ — ~1.5·10⁻²¹ at n = 10⁹
    * and still ~1.5·10⁻¹⁵ at n = 10¹² — so the chain's eager collision
    * check never aborts a real corpus (the 60-bit fold aborted ~35% of
    * 10⁹-key runs; see [[detHashStr]]).
    *
    * Fixed-length lowercase hex means LEXICOGRAPHIC order ≡ numeric
    * order of the underlying 128-bit value, identically in Spark (UTF-8
    * binary comparison) and DuckDB (codepoint collation) — every
    * comparison-only consumer (min-representative, CC label election,
    * `a < b` pair orientation) is cross-engine deterministic.
    */
  def detHash128(key: Column): Column = md5(key.cast("string"))

  /** DuckDB-SQL fragment for [[detHash128]] (expects a VARCHAR expr). */
  def detHash128Sql(keyExpr: String): String =
    s"md5(CAST($keyExpr AS VARCHAR))"

  /** 60-bit LONG fold of a [[detHash128]] surrogate — the first 15 hex
    * digits re-parsed, so `detHash128Fold(detHash128(k)) ==
    * detHashStr(k)`. For the chain's arithmetic-seeded sub-paths
    * (k-means init) that need a numeric id derived from the string
    * surrogate; collisions here only perturb seeding, never identity.
    */
  def detHash128Fold(sid: Column): Column =
    conv(substring(sid, 1, 15), 16, 10).cast("long")

  /** Deterministic stand-in for `rand(seed)` in [0, 1). */
  def detRand(key: Column): Column = detHash(key) / lit(Space.toDouble)

  /** DuckDB-SQL fragment for [[detRand]]. */
  def detRandSql(keyExpr: String): String =
    s"(${detHashSql(keyExpr)} / $Space.0)"

  /** Driver-side evaluation of the same hash — used to pre-materialize
    * constant tables (e.g. ANN hyperplanes) without per-row hashing.
    * Exactly matches [[detHash]] for non-negative keys.
    */
  def detHashLocal(key: Long): Long = {
    val d = java.security.MessageDigest.getInstance("MD5")
    val hex = d.digest(key.toString.getBytes("UTF-8"))
      .map(b => f"$b%02x").mkString
    java.lang.Long.parseLong(hex.substring(0, 15), 16)
  }

  /** Driver-side [[detRand]]. */
  def detRandLocal(key: Long): Double = detHashLocal(key) / Space.toDouble
}
