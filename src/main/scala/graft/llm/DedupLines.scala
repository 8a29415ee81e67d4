package graft.llm

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The line/substring slice of [[Dedup]] — CCNet-style corpus-wide
  * line dedup and exact-substring span removal. Mixed into the
  * [[Dedup]] object (r17 file-size split; call sites are unchanged:
  * `Dedup.lineDedup` / `Dedup.substringDedup`) — not a public
  * extension point. */
trait DedupLines { self: Dedup.type =>
  // ------------------------------------------------------- line dedup

  /** CCNet-style corpus-wide LINE deduplication: a non-blank line that
    * appears (byte-exact) in more than one place keeps only its FIRST
    * occurrence — smallest `(doc_id, line_idx)` across the whole
    * corpus — and every later occurrence is removed from its document,
    * order-preserving. Blank lines are structural: never keyed, never
    * removed. The finer-grained sibling of
    * [[TextAnalysis.removeBoilerplate]]: boilerplate removal drops a
    * frequent line EVERYWHERE (df ≥ threshold kills banners outright);
    * line dedup keeps exactly one copy of ANY repeat (df ≥ 2), the
    * near-exact-duplication cure when documents share quoted passages
    * rather than templated chrome. Output mirrors removeBoilerplate:
    * `(idCol, textCol with repeats removed, n_lines, n_removed)`, one
    * row per input doc; a doc whose every line was a later repeat
    * comes back with empty text, not dropped.
    *
    * Scale shape: explode to (doc, line_idx, line) ONCE
    * ([[Tokens.keepPieces]]); first occurrence is a rank-1 filter over
    * a window keyed by the line,
    * which Spark rewrites to a map-side WindowGroupLimit — each map
    * task forwards at most ONE occurrence per distinct line, so a
    * pathologically hot line (the 10^9-copy banner) reaches its
    * reducer as ≤ one row per task, never as the full occurrence
    * stream. Two corpus shuffles total: the line-keyed window and the
    * groupBy(doc) reassembly (blank lines bypass the window and union
    * in before reassembly). No join anywhere — the keeper decision and
    * the removal are the same operator. */
  def lineDedup(
      df: DataFrame,
      textCol: String = "text",
      idCol: String = "doc_id"): DataFrame =
    Tokens.keepPieces(df, split(col(textCol), "\n"), "\n", "n_lines",
        textCol, idCol) { lines =>
      val w = Window.partitionBy(col("piece")).orderBy(col(idCol), col("idx"))
      val blank = trim(col("piece")) === ""
      lines.filter(!blank)
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col(idCol), col("idx"), col("piece"))
        .unionByName(lines.filter(blank))
    }

  // ------------------------------------------------- substring dedup

  /** Exact-substring deduplication (the ExactSubstr pass of Lee et
    * al., "Deduplicating Training Data Makes Language Models Better",
    * 2022): any whitespace-token span of length ≥ `k` that occurs
    * byte-identically elsewhere in the corpus is removed from every
    * occurrence EXCEPT the globally first one (smallest
    * `(doc_id, pos)`). Finer than doc/line dedup: it excises lifted
    * passages from otherwise-distinct documents. The distributed
    * formulation replaces their single-node suffix array with k-token
    * sliding windows: a duplicated span of length L ≥ k is tiled by
    * its L−k+1 windows, each of which also occurs in the span's first
    * occurrence, so marking the tokens covered by every non-first
    * duplicated window removes exactly the whole span from later
    * copies. Self-overlap semantics are inherited from the paper's
    * approach: in `a⁹` with k = 8 the second window is a repeat of the
    * first, so its tokens are cut even though they overlap the kept
    * window — deterministic, and mirrored by the oracle.
    *
    * Output mirrors [[lineDedup]]: `(idCol, textCol with covered
    * tokens removed and the rest space-joined, n_tokens, n_removed)`,
    * one row per input doc.
    *
    * Scale shape: windows explode once (corpus × k keys); the first
    * occurrence per gram is `min(struct(doc_id, pos))` — a PARTIAL
    * aggregate, so the 10^9-copy boilerplate gram reaches its reducer
    * as one candidate per map task, not as the occurrence stream (the
    * window-function formulation would concentrate it); losers come
    * from re-joining windows to firsts on the gram key (AQE splits any
    * residual hot gram at join time), and removal is a left-anti join
    * on (doc, token position) — existence-only, so overlapping covered
    * ranges need no dedup pass. With `hashKeys` (the at-scale default)
    * the shuffled key is `xxhash64(gram)` — 8 bytes instead of k
    * re-shipped tokens, at a 2^-64 per-pair collision risk; the
    * registered query pins `hashKeys = false` so the DuckDB oracle
    * reproduces the gram keys byte-exactly, and DedupSpec asserts both
    * paths agree on the fixture. */
  def substringDedup(
      df: DataFrame,
      k: Int = 8,
      textCol: String = "text",
      idCol: String = "doc_id",
      hashKeys: Boolean = true): DataFrame = {
    require(k >= 2, s"window must span at least 2 tokens: $k")
    val wins = df.select(col(idCol), Tokens.whitespace(col(textCol)).as("ws"))
      .filter(size(col("ws")) >= k)
      .select(col(idCol), explode(expr(
        s"transform(sequence(0, size(ws) - $k), " +
          s"i -> struct(i AS pos, array_join(slice(ws, i + 1, $k), ' ') AS gram))"))
        .as("w"))
      .select(col(idCol), col("w.pos").as("pos"),
        (if (hashKeys) xxhash64(col("w.gram")) else col("w.gram")).as("g"))
    val firsts = wins.groupBy(col("g"))
      .agg(min(struct(col(idCol), col("pos"))).as("f"))
    val covered = wins.join(firsts, "g")
      .filter(col(idCol) =!= col(s"f.$idCol") || col("pos") =!= col("f.pos"))
      .select(col(idCol),
        explode(sequence(col("pos"), col("pos") + lit(k - 1))).as("idx"))
    Tokens.keepPieces(df, Tokens.whitespace(col(textCol)), " ", "n_tokens",
      textCol, idCol)(_.join(covered, Seq(idCol, "idx"), "left_anti"))
  }
}
