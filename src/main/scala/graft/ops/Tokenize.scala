package graft.ops

/** The token delimiter used by every text/dedup operator, pinned as an
  * EXPLICIT character class that denotes the same set in both engines
  * (ADVICE r04): Spark's `split()` runs Java regex, where `\s` =
  * `[ \t\n\x0B\f\r]`, but the DuckDB oracles run RE2, where `\s` =
  * `[ \t\n\f\r]` — NO vertical tab. A document containing U+000B would
  * tokenize differently in the two engines and silently desync the
  * t2/t3/t4/t5/t6/t7/t8/t13/t15 mirrors (latent today only because the
  * synthesized corpus contains no \x0B). Spelling out the identical
  * six-character class on both sides removes the engine-default
  * dependency entirely; the Spark-side class is character-identical to
  * Java `\s`, so operator results and goldens are unchanged.
  *
  * Escaping journey (why the constants look like this):
  *  - Spark: Scala source → SQL literal (backslash-processed by Spark's
  *    parser) → Java regex. `SparkWsChars` renders into SQL as
  *    ` \\t\\n\\x0B\\f\\r`, which the SQL parser turns into the Java
  *    regex fragment ` \t\n\x0B\f\r`.
  *  - DuckDB: Scala source → SQL literal (DuckDB does NOT process
  *    backslashes in single-quoted strings) → RE2. `DuckWsChars` renders
  *    as ` \t\n\x0b\f\r` verbatim into the RE2 pattern.
  */
object Tokenize {
  /** Character-class body for Spark SQL regex literals (space, tab,
    * newline, vertical tab, form feed, carriage return).
    */
  val SparkWsChars = " \\\\t\\\\n\\\\x0B\\\\f\\\\r"

  /** Full Spark SQL string literal: split-on-whitespace-runs regex. */
  val SparkWs = s"'[$SparkWsChars]+'"

  /** Character-class body for DuckDB RE2 literals — the same six
    * characters as [[SparkWsChars]].
    */
  val DuckWsChars = " \\t\\n\\x0b\\f\\r"

  /** Full DuckDB string literal: split-on-whitespace-runs regex. */
  val DuckWs = s"'[$DuckWsChars]+'"

  /** The corpus token array of a row's `text` (Spark SQL): the
    * whitespace-run split with empty tokens dropped. Every operator that
    * tokenizes `text` spells it with this one fragment, so their plans
    * share the same expression.
    */
  val Toks = s"filter(split(text, $SparkWs), x -> x != '')"
}
