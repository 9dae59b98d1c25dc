"""Text-analysis operators for training-data pipelines (EXT; SURVEY.md §7
Phase 4): tokenization, quality scoring, language-ID heuristic, document
fingerprinting.

All column expressions are JVM built-ins (regexp/split/aggregate) so the
hot path stays inside whole-stage codegen — at 100 TB these run at scan
speed with zero Python boundary crossings."""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from ..functions.hashing import norm_text

# Tiny English stopword list shared verbatim with the oracle SQL.
STOPWORDS = ("the", "a", "of", "to", "and", "in", "is", "it", "for", "on")

# BPE-ish pre-tokenizer: runs of alphanumerics OR single non-space symbols
# (the classic GPT-2-style pre-split, ASCII approximation).
BPE_TOKEN_RE = "[a-z0-9]+|[^a-z0-9 ]"


def tokens(col: Column) -> Column:
    """Whitespace tokenization over normalized text."""
    return F.split(norm_text(col), " ")


def token_count(col: Column) -> Column:
    return F.size(tokens(col))


def stopword_ratio(col: Column) -> Column:
    toks = tokens(col)
    stop_arr = F.array(*[F.lit(s) for s in STOPWORDS])
    n_stop = F.size(F.filter(toks, lambda t: F.array_contains(stop_arr, t)))
    return n_stop / F.size(toks)


def avg_token_len(col: Column) -> Column:
    toks = tokens(col)
    total = F.aggregate(toks, F.lit(0), lambda acc, t: acc + F.length(t))
    return total / F.size(toks)


def quality_score(col: Column) -> Column:
    """Composite quality heuristic in [0,1]: length band + stopword
    presence + mean token length band.  Deterministic, oracle-portable."""
    n = F.length(norm_text(col))
    len_ok = (n >= 100) & (n <= 2000)
    stop_ok = stopword_ratio(col) >= 0.03
    tok_ok = (avg_token_len(col) >= 3.0) & (avg_token_len(col) <= 10.0)
    return (
        len_ok.cast("double") * 0.4 + stop_ok.cast("double") * 0.3 + tok_ok.cast("double") * 0.3
    )


def lang_id(col: Column) -> Column:
    """N-gram-free heuristic language ID: English if function-word density
    clears a threshold, else unknown.  (The container has no langdetect —
    the heuristic is the deliverable, not the model.)"""
    return F.when(stopword_ratio(col) >= 0.05, F.lit("en")).otherwise(F.lit("und"))


def fingerprint(col: Column) -> Column:
    """Document fingerprint: md5 of normalized text (exact-dup key).
    Engine-portable; the rolling/simhash variants live in dedup.py."""
    return F.md5(norm_text(col))


def winnow_fingerprints(docs, k: int = 8, w: int = 4, id_col: str = "doc_id", text_col: str = "text"):
    """Winnowing document fingerprints (the MOSS scheme): hash every
    k-char-gram of the normalized text, slide a w-gram window, keep the
    window minimum — the classic rolling-hash fingerprint set that is
    robust to local edits.  Returns (doc_id, fp) distinct.

    All JVM-side: substring over exploded positions + a min window frame.
    At 100 TB the explode is linear in corpus characters and the window
    is per-document (no cross-doc shuffle beyond the doc_id partition)."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from ..functions.hashing import md5long

    base = docs.select(
        F.col(id_col).alias("doc_id"), norm_text(F.col(text_col)).alias("norm")
    ).where(F.length("norm") >= k + w - 1)
    grams = base.select(
        "doc_id",
        F.explode(F.sequence(F.lit(1), F.length("norm") - (k - 1))).alias("pos"),
        "norm",
    ).select(
        "doc_id", "pos", md5long(F.expr(f"substring(norm, pos, {k})")).alias("h"),
        (F.length("norm") - (k - 1)).alias("n_grams"),
    )
    frame = (
        Window.partitionBy("doc_id").orderBy("pos").rowsBetween(0, w - 1)
    )
    return (
        grams.withColumn("fp", F.min("h").over(frame))
        .where(F.col("pos") <= F.col("n_grams") - (w - 1))  # full windows only
        .select("doc_id", "fp")
        .distinct()
    )


def gopher_flags(col: Column) -> Column:
    """Gopher rules over raw text — see gopher_flags_from_tokens; prefer
    projecting ``tokens(col)`` as a materialized column first so the
    tokenizer runs once (Catalyst won't collapse the projection when the
    alias is referenced by several rules)."""
    return gopher_flags_from_tokens(tokens(col))


def gopher_flags_from_tokens(toks: Column) -> Column:
    """Gopher-style document quality rules (Rae et al. 2021, §A1.1 —
    public heuristics), as a struct of boolean rule flags:

      * word_count_ok   — 25 ≤ #words ≤ 90
      * word_len_ok     — 4.0 ≤ mean word length ≤ 5.0
      * stopword_ok     — ≥ 2 stopword hits (function-word evidence)
      * repetition_ok   — most frequent word ≤ 9% of all words

    All rule math is built-in higher-order functions over one tokenize —
    no shuffle, no UDF: at 100 TB this runs at scan speed and the flags
    feed a single filter/aggregate.  The repetition rule is O(n·distinct)
    per document in the token array — bounded by document length, never a
    cross-document explode."""
    n = F.size(toks)
    total_len = F.aggregate(toks, F.lit(0), lambda acc, t: acc + F.length(t))
    stop_arr = F.array(*[F.lit(s) for s in STOPWORDS])
    n_stop = F.size(F.filter(toks, lambda t: F.array_contains(stop_arr, t)))
    max_freq = F.array_max(
        F.transform(
            F.array_distinct(toks),
            lambda w: F.size(F.filter(toks, lambda t: t == w)),
        )
    )
    return F.struct(
        ((n >= 25) & (n <= 90)).alias("word_count_ok"),
        ((total_len >= n * 4) & (total_len <= n * 5)).alias("word_len_ok"),
        (n_stop >= 2).alias("stopword_ok"),
        ((max_freq * 100) <= (n * 9)).alias("repetition_ok"),
    )
