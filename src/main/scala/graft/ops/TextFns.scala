package graft.ops

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Shared text-pipeline column functions (all codegen'd builtins — no
  * UDFs in the hot path). Every function here has an exactly-equivalent
  * DuckDB SQL form used by the oracle queries; determinism across
  * engines is part of the contract:
  *
  *  - regexes stick to constructs with identical Java/RE2 semantics
  *    (character classes, \S, \b alternations);
  *  - the shared 60-bit hash is the first 15 hex chars of md5, so it is
  *    reproducible in any engine with an md5() (DuckDB:
  *    `('0x' || substr(md5(s),1,15))::BIGINT`);
  *  - ratio arithmetic divides exact ints as doubles then rounds once.
  */
object TextFns {

  /** Normalized text: lowercase, non-alphanumerics to spaces, collapsed. */
  def normText(c: Column): Column =
    trim(regexp_replace(regexp_replace(lower(c), "[^a-z0-9 ]", " "), " +", " "))

  /** Deterministic 60-bit hash shared with the DuckDB oracle:
    * first 15 hex chars of md5 parsed base-16. Fits in a Long with room
    * to spare; collision odds at 2^60 are irrelevant for candidate
    * generation.
    *
    * Computed by the digest-direct native expression
    * [[graft.functions.H60Codec]] (bit-identical to the previous
    * `conv(substring(md5(c),1,15),16,10)` column chain, without the
    * hex-string + substring + string-base-conv churn — 5.8 s → ~2 s
    * per 100M rows, and every hash-split operator inherits it). Built
    * directly as an Expression so callers need no function-registry
    * session state. */
  def h60(c: Column): Column =
    org.apache.spark.sql.graftbridge.ColumnBridge.column(
      graft.functions.H60Long(
        org.apache.spark.sql.graftbridge.ColumnBridge.expression(c)))

  /** Same hash computed driver-side (for generating constants that are
    * inlined into both the Spark plan and the oracle SQL). */
  def h60Scala(s: String): Long = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8"))
    val hex = d.map("%02x".format(_)).mkString.substring(0, 15)
    java.lang.Long.parseLong(hex, 16)
  }

  /** Adds a `shingles` column: distinct word 3-gram shingles of the
    * normalized text; empty when fewer than 3 tokens (semantics
    * identical to the SQL oracle form — see
    * graft.functions.ShingleCodec).
    *
    * Uses the native Catalyst expression `shingles3` (codegen-friendly
    * row-at-a-time computation). The obvious builtin composition —
    * `transform(sequence(...), i -> ...)` over a tokens column — is a
    * trap: Catalyst inlines the tokenizing subtree into the lambda and
    * codegen's subexpression elimination cannot reach inside
    * higher-order-function lambdas, so tokenization re-ran once per
    * PRODUCED SHINGLE (measured 30-60x slowdown at sf0.1). */
  def withShingles(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    df.withColumn("shingles", expr("shingles3(text)"))

  /** 32-bit token hash for SimHash (8 hex chars of md5 — small enough
    * that bit arithmetic stays in safely-positive Long range in every
    * engine). */
  def h32(c: Column): Column = conv(substring(md5(c), 1, 8), 16, 10).cast("long")

  // ---- PII scrubbing (shared Java/RE2-safe literal patterns) ----
  //
  // One derivation, two renderings: these exact strings compile under
  // both Java regex (Spark codegen'd regexp_replace/extract_all) and
  // RE2 (the DuckDB oracle) — character classes, bounded repetition,
  // alternation-free, ASCII \b only; no lookaround or backreferences
  // (RE2 has neither). Redaction order is fixed (email, phone, ip) so
  // both engines rewrite the same spans identically.

  /** RFC-loose email: local part, @, dotted domain, 2+ letter TLD. */
  val EMAIL_RE = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"

  /** International-prefix phone in the common +C-AAA-NNN-NNNN shape. */
  val PHONE_RE = "\\+[0-9]{1,2}-[0-9]{3}-[0-9]{3}-[0-9]{4}"

  /** Dotted-quad IPv4, word-bounded so version strings inside longer
    * dotted runs don't half-match. */
  val IP_RE = "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b"

  /** Redact PII in place: emails, then phones, then IPv4 literals, each
    * replaced by its tag token. Pure codegen'd regexp_replace chain —
    * a row-local scan, the 100 TB cost model of every scrubber here. */
  def redactPii(c: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(c, EMAIL_RE, "<EMAIL>"),
        PHONE_RE, "<PHONE>"),
      IP_RE, "<IP>")

  /** Match count of `re` in `c` (codegen'd; counts on the unredacted
    * text, so per-kind counts are independent of redaction order). */
  def countMatches(c: Column, re: String): Column =
    size(regexp_extract_all(c, lit(re), lit(0))).cast("long")

  // ---- encoding repair (mojibake) ----
  //
  // The classic double-decode corruption in web corpora: UTF-8 bytes
  // re-decoded as Latin-1/cp1252, so e-acute (U+00E9, bytes C3 A9)
  // renders as the two cp1252 chars U+00C3 U+00A9, and the right
  // single quote (U+2019, bytes E2 80 99) as U+00E2 U+20AC U+2122.
  // The repair table below covers the five highest-frequency cases in
  // the public curation literature; patterns are literal character
  // sequences (no regex metacharacters), so they render identically
  // as Java and RE2 regexes, and are written as unicode escapes so a
  // source-file re-encoding can never corrupt them. Replacement ORDER
  // is fixed and shared with the oracle builder; the three-char
  // cp1252 sequences share no char with the two-char ones
  // (lead U+00E2 vs U+00C3), so the chain is order-stable anyway.

  /** (mojibake, repaired) pairs -- ONE definition feeds the Spark
    * chain, the oracle SQL and the fixture augmentation. */
  val MOJIBAKE: Seq[(String, String)] = Seq(
    "\u00C3\u00A9" -> "\u00E9", // e-acute
    "\u00C3\u00BC" -> "\u00FC", // u-umlaut
    "\u00C3\u00B1" -> "\u00F1", // n-tilde
    "\u00E2\u20AC\u2122" -> "\u2019", // right single quote
    "\u00E2\u20AC\u201D" -> "\u2014") // em dash

  /** Total mojibake occurrences (counts on the unrepaired text) —
    * ONE alternation pass; patterns are disjoint, so this equals the
    * per-pattern sum. */
  def countMojibake(c: Column): Column =
    countMatches(c, MOJIBAKE.map(_._1).mkString("|"))

  /** Repair mojibake in place -- a chain of LITERAL `replace` steps
    * in the shared fixed order (the patterns are plain strings, so
    * regex machinery is pure overhead: the literal chain measured
    * ~4x faster at sf1); row-local scan like [[redactPii]]. */
  def fixMojibake(c: Column): Column =
    MOJIBAKE.foldLeft(c) { case (acc, (m, f)) => replace(acc, lit(m), lit(f)) }

  /** Oracle renderings of the same chains over a SQL expression. */
  def fixMojibakeSql(e: String): String =
    MOJIBAKE.foldLeft(e) { case (acc, (m, f)) =>
      s"replace($acc, '$m', '$f')"
    }
  def countMojibakeSql(e: String): String =
    s"len(regexp_extract_all($e, '${MOJIBAKE.map(_._1).mkString("|")}'))"

  // ---- Unicode-script composition ----

  /** Script classes with their per-engine property renderings:
    * (name, java regex char class, RE2 char class). Same SEMANTICS,
    * two syntaxes (Java needs the Is- prefix for scripts; RE2 does
    * not) -- the gate hash locks that both engines agree on the char
    * sets. Order matters: ties in [[dominantScript]] resolve to the
    * EARLIEST entry, so latin is the all-zero default. */
  val SCRIPTS: Seq[(String, String, String)] = Seq(
    ("latin", "[\\p{IsLatin}]", "[\\p{Latin}]"),
    ("cyrillic", "[\\p{IsCyrillic}]", "[\\p{Cyrillic}]"),
    ("han", "[\\p{IsHan}]", "[\\p{Han}]"),
    ("arabic", "[\\p{IsArabic}]", "[\\p{Arabic}]"))

  /** Per-script char count as LENGTH arithmetic (chars removed by
    * deleting the class) -- no per-char match list materializes. */
  def scriptCount(c: Column, javaRe: String): Column =
    (length(c) - length(regexp_replace(c, javaRe, ""))).cast("long")

  def scriptCountSql(e: String, re2: String): String =
    s"CAST(length($e) - length(regexp_replace($e, '$re2', '', 'g')) AS BIGINT)"

  /** Dominant script by char count, ties to the earliest [[SCRIPTS]]
    * entry -- greatest over the counts, then a first-match when-chain
    * (CASE shape; DuckDB's greatest cannot compare structs, so both
    * engines share this form). */
  def dominantScript(c: Column): Column = {
    val counts = SCRIPTS.map { case (n, j, _) => n -> scriptCount(c, j) }
    val maxc = greatest(counts.map(_._2): _*)
    counts.tail.foldLeft(
      when(counts.head._2 === maxc, lit(counts.head._1))) {
      case (acc, (n, cc)) => acc.when(cc === maxc, lit(n))
    }
  }

  def dominantScriptSql(e: String): String = {
    val counts = SCRIPTS.map { case (n, _, r) => n -> scriptCountSql(e, r) }
    val maxc = s"greatest(${counts.map(_._2).mkString(", ")})"
    "CASE " + counts.map { case (n, cSql) =>
      s"WHEN $cSql = $maxc THEN '$n'" }.mkString(" ") + " END"
  }
}
