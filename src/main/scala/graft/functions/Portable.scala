package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Engine-portable building blocks: every helper here has a documented
  * bit-identical DuckDB spelling, so operators built from them can be
  * verified against a SQL oracle (driver correctness gate).
  *
  * Design rule for oracle-checked operators:
  *   - hashing goes through md5 (identical hex in any engine);
  *   - money/metric sums go through DECIMAL (exact, order-independent),
  *     never through raw double accumulation (order-dependent);
  *   - single-row double arithmetic (ratios of exact values) is fine —
  *     IEEE ops on identical operands are bit-identical everywhere.
  */
object Portable {

  /** 32-bit hash of a string via md5 prefix. Unsigned, fits a long.
    * DuckDB: `('0x' || substr(md5(s), 1, 8))::BIGINT`
    * Evaluated as ONE generated node straight off the digest bytes
    * ([[Md5PrefixLong]], round 14) — bit-identical to the composite
    * `conv(substring(md5(c), 1, 8), 16, 10).cast("long")` spelling
    * (property-pinned) without its four string round-trips per call.
    */
  def hash32(c: Column): Column = HashExpressions.md5Prefix(c, 8)

  /** Seeded variant for hash families (minhash, LSH planes).
    * DuckDB: `('0x' || substr(md5(seed || '|' || s), 1, 8))::BIGINT`
    */
  def hash32(c: Column, seed: String): Column =
    hash32(concat(lit(seed), lit("|"), c))

  /** 60-bit hash (15 md5 hex chars) for join/index keys where 32-bit
    * collisions are likely at scale: birthday collisions start around
    * 2³⁰ distinct keys instead of 2¹⁶. Unsigned, fits a long with no
    * sign-bit ambiguity between engines.
    * DuckDB: `('0x' || substr(md5(s), 1, 15))::BIGINT`
    */
  def hash60(c: Column): Column = HashExpressions.md5Prefix(c, 15)

  /** Whitespace-normalized lowercase text.
    * DuckDB: `trim(regexp_replace(lower(s), '\s+', ' ', 'g'))`
    */
  def normText(c: Column): Column =
    trim(regexp_replace(lower(c), "\\s+", " "))

  /** Scala-side twin of [[hash32]] for constants computed once on the
    * driver and inlined as literals into both the Spark plan and the
    * oracle SQL (hash-family coefficients, LSH planes): same md5-prefix
    * value as the Column expression, bit for bit. */
  def h32Scala(s: String): Long = md5PrefixScala(s, 8)

  /** Scala-side twin of [[hash60]] for driver/executor code that
    * scores against collected models (streaming serve paths): same
    * md5-prefix value as the Column expression, bit for bit. */
  def h60Scala(s: String): Long = md5PrefixScala(s, 15)

  private def md5PrefixScala(s: String, nibbles: Int): Long = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8"))
    java.lang.Long.parseLong(
      d.take(8).map(b => f"${b & 0xff}%02x").mkString.take(nibbles), 16)
  }

  /** Scala-side twin of [[words]] (lowercase, whitespace-normalize,
    * split on single spaces — `split("", " ")` is `[""]`, matching the
    * Column semantics). Lowercasing goes through Spark's own
    * `UTF8String.toLowerCase` — the exact code the `lower()` Column
    * runs — so the twin matches bit-for-bit on non-ASCII text and on
    * JVMs with a non-default locale (Locale.ROOT would diverge from
    * Spark on e.g. a Turkish-locale JVM's dotted I). */
  def wordsScala(text: String): Array[String] =
    org.apache.spark.unsafe.types.UTF8String.fromString(text)
      .toLowerCase.toString
      .replaceAll("\\s+", " ").trim.split(" ", -1)

  /** Word tokens of normalized text.
    * DuckDB: `string_split(trim(regexp_replace(lower(s),'\s+',' ','g')), ' ')`
    */
  def words(c: Column): Column = split(normText(c), " ")

  /** Consecutive n-gram "shingles" of a token array, joined with one
    * space. Empty result when fewer than n tokens. One fused codegen
    * node ([[WordShingles]], round 14) — the previous zip_with fold
    * over n shifted slices had no codegen (ArrayZipWith interprets a
    * closure per element per fold step) and materialized n-1
    * intermediate arrays per row; measured 0.47 s of every 0.59 s
    * gram pass on the bench corpus. Output is bit-identical
    * (property-pinned), and `tokens` now evaluates once per ROW.
    * (History: the even older `transform(sequence(...), i =>
    * concat(element_at(tokens, i+j)))` spelling re-ran the regex
    * tokenize per element reference — 50× this shape.)
    * DuckDB: `list_transform(generate_series(1, len(w)-(n-1)),
    *            i -> array_to_string(w[i:i+(n-1)], ' '))`
    */
  def shingles(tokens: Column, n: Int): Column =
    HashExpressions.wordShingles(tokens, n)

  /** Per-row MinHash signature of a shingle array: element i is the
    * min over the row's non-null shingles s of
    * `(a_i·hash32(s) + b_i) mod p`; null when the row has no shingle.
    * One generated node ([[MinHashMins]]) — no explode, no aggregate,
    * so a consumer never shuffles on doc_id to build a signature.
    * DuckDB: `list_transform(generate_series(0, k - 1), i -> list_min(
    *            list_transform(sh, s -> (a[i + 1] * h32(s) + b[i + 1]) % p)))`
    * over `sh` with at least one element (`list_min([])` is NULL).
    */
  def minhash(shingles: Column, a: Array[Long], b: Array[Long], p: Long): Column =
    HashExpressions.minhashMins(shingles, a, b, p)

  /** Exact decimal view of a double metric column: per-row cast is
    * deterministic (nearest-decimal of an identical double), and the
    * subsequent SUM is exact integer arithmetic — hence independent of
    * partition/merge order, unlike SUM(double).
    * DuckDB: `CAST(x AS DECIMAL(18,p))`
    */
  def dec(c: Column, scale: Int = 2): Column =
    c.cast(s"decimal(18,$scale)")

  /** Polynomial rolling hash of an array of longs, mod 1e9+7.
    * DuckDB: `list_reduce(list_prepend(0, xs), (a,b) -> (a*31 + b) % 1000000007)`
    */
  def polyHash(hashes: Column): Column =
    aggregate(hashes, lit(0L),
      (acc, x) => pmod(acc * 31 + x, lit(1000000007L)))
}
