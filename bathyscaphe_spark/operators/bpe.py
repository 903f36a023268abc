"""Distributed BPE tokenizer training + encoding (Sennrich et al. 2016,
"Neural Machine Translation of Rare Words with Subword Units" — public).

The tokenizer-training step of an LLM data pipeline.  ``q_bpe_pair_counts``
(queries.py) computes only the FIRST iteration's pair statistics; this
module runs the full merge loop and then applies the learned merge table
back to the corpus.

Scale design — the classic corpus→vocab reduction:

* Word frequencies aggregate ONCE over the corpus (one shuffle,
  map-side combinable).  At 100 TB the distinct-word table is millions
  of rows, not billions — every merge iteration thereafter runs over
  that tiny vocab table only; the corpus is never re-scanned during
  training.
* Each iteration = one explode+groupBy over the vocab (pair counts) +
  a 1-row driver collect (the argmax pair — bounded, like the
  blacklist head) + one codegen ``replace`` projection (the merge).
* ENCODING is a single chained-``replace`` whole-stage-codegen
  projection over the corpus: a narrow map, no shuffle, no UDF —
  applying N merges costs N string scans per document.

The merge step is a plain string ``replace`` over separator-joined
symbols.  SQL ``replace`` scans left-to-right and substitutes
non-overlapping occurrences — exactly greedy BPE merge order.  Token
boundaries stay exact under back-to-back merge sites via DOUBLE
separator framing: a word's symbols serialize as ``||a||b||`` (two
separators at every boundary), the pattern ``|a||b|`` claims ONE
separator from each side, and the replacement ``|ab|`` donates one
back — so the string is again fully double-framed after every merge,
and adjacent merge sites each still see their leading separator.
Because a merged token is strictly longer than its left part, greedy
scan-ahead on the original equals the fold semantics the mirror test
pins.  ``|`` cannot appear in vocab words (they are filtered to
``^[a-z]+$``, matching q_bpe_pair_counts).

Both engines (Spark ``F.replace`` / DuckDB ``replace``) share these
semantics, so the oracle value-replicates the ENTIRE training loop as
unrolled CTEs — the ivf_train discipline.

Reference parity note: the reference (creekorful/bathyscaphe) has no
tokenizer; this is part of the beyond-reference LLM-pipeline surface
(brief: training-data operations are first-class).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

SEP = "|"
_MERGE_SCHEMA = "merge_rank int, lft string, rgt string, merged string, cnt long"


def word_freqs(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Corpus → (w, freq): the one corpus-wide shuffle of BPE training.

    Words are lowercased whitespace tokens restricted to ASCII letters
    with length ≥ 2 — the same normalization as ``q_bpe_pair_counts``
    (Spark UTF-16 vs DuckDB UTF-8 substring semantics coincide on
    ASCII; byte-level BPE would pre-map to byte symbols anyway).
    """
    return (
        docs.select(
            F.explode(
                F.filter(
                    F.split(F.lower(F.col(text_col)), r"\s+"),
                    lambda w: w != "",
                )
            ).alias("w")
        )
        .where(F.col("w").rlike("^[a-z]+$") & (F.length("w") >= 2))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("freq"))
    )


def frame_word(col) -> "F.Column":
    """``abc`` → ``||a||b||c||`` — the double-separator symbol framing."""
    return F.concat(F.lit(SEP * 2), F.regexp_replace(col, "(.)", "$1" + SEP * 2))


def _tokens(sym_col) -> "F.Column":
    return F.filter(F.split(sym_col, r"\|+"), lambda t: t != "")


def _merge_expr(sym_col, lft: str, rgt: str) -> "F.Column":
    return F.replace(
        sym_col,
        F.lit(SEP + lft + SEP * 2 + rgt + SEP),
        F.lit(SEP + lft + rgt + SEP),
    )


def bpe_train(words: DataFrame, n_merges: int = 8) -> DataFrame:
    """Learn ``n_merges`` BPE merges from a (w, freq) vocab table.

    Deterministic: best pair by (count DESC, left ASC, right ASC) —
    pure integer counts, bit-identical at any parallelism.  Returns
    (merge_rank, lft, rgt, merged, cnt); stops early if the vocab runs out
    of adjacent pairs (every word fully merged).
    """
    spark = words.sparkSession
    n_merges = int(n_merges)
    vocab = words.select(
        frame_word(F.col("w")).alias("sym"), "freq"
    ).persist()
    prev: DataFrame | None = None
    merges: list[tuple[int, str, str, str, int]] = []
    try:
        for rank in range(1, n_merges + 1):
            t = _tokens(F.col("sym"))
            # zip_with over the two shifted slices: empty-safe for
            # fully-merged single-token words (sequence(1, size-1)
            # would DESCEND to [1, 0] there and trip ANSI element_at)
            n1 = F.greatest(F.size(t) - 1, F.lit(0))
            # ONE job per iteration: this collect also materializes the
            # current vocab's cache (the former separate count() per
            # iteration doubled the job count — guide §1.2), after which
            # the previous iteration's cache can be dropped
            best = (
                vocab.select(
                    "freq",
                    F.explode(
                        F.zip_with(
                            F.slice(t, 1, n1),
                            F.slice(t, 2, n1),
                            lambda a, b: F.struct(
                                a.alias("lft"), b.alias("rgt")
                            ),
                        )
                    ).alias("p"),
                )
                .groupBy("p.lft", "p.rgt")
                .agg(F.sum("freq").alias("cnt"))
                .orderBy(F.desc("cnt"), F.asc("lft"), F.asc("rgt"))
                .limit(1)
                .collect()
            )
            if prev is not None:
                prev.unpersist()
                prev = None
            if not best:
                break
            lft, rgt, cnt = best[0]["lft"], best[0]["rgt"], int(best[0]["cnt"])
            merges.append((rank, lft, rgt, lft + rgt, cnt))
            if rank < n_merges:
                # the post-final-merge vocab is never read — don't build it
                nxt = vocab.select(
                    _merge_expr(F.col("sym"), lft, rgt).alias("sym"), "freq"
                ).persist()
                prev, vocab = vocab, nxt
    finally:
        vocab.unpersist()
        if prev is not None:
            prev.unpersist()
    return spark.createDataFrame(merges, _MERGE_SCHEMA)


def bpe_encode(
    docs: DataFrame,
    merges: list[tuple[str, str]],
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Apply a learned merge table to the corpus — chained replaces
    over the distinct-word table, no UDF.

    Each document's eligible words (same filter as training) frame
    into the double-separator form; a word boundary is ≥ 4 separators,
    which the 1-2-1-framed merge pattern can never straddle — merges
    stay within words by construction.  Output: (id_col, n_words,
    n_tokens) — n_tokens is the post-merge subword count, the number a
    sequence-packing / token-budget stage consumes.

    Because merges never cross word boundaries, encoding FACTORIZES
    over the vocabulary: the chained replaces run once per DISTINCT
    word (a table orders of magnitude smaller than the corpus — the
    same reduction training itself rides on), and each document's
    n_tokens is the sum of its word instances' per-word token counts.
    The former per-document form re-encoded every repeated word of
    every document — at 100 TB that is the difference between N string
    scans over the corpus and N scans over the vocab (guide §2.3:
    shuffle/compute keys, not payloads).  Output-identical; the
    unchanged oracle replays the per-document form.

    Precondition: ``id_col`` must be unique per row of ``docs``.  Token
    counts are summed per id and joined back, so rows that share an id
    each get the SUM of n_tokens over all of them (n_words stays per
    row).  The in-repo caller (``q_bpe_encode``, ``doc_id``) is unique.
    """
    words = F.filter(
        F.split(F.lower(F.col(text_col)), r"\s+"),
        lambda w: w.rlike("^[a-z]+$") & (F.length(w) >= 2),
    )
    inst = docs.select(F.col(id_col), F.explode(words).alias("w"))
    enc = frame_word(F.col("w"))
    for lft, rgt in merges:
        enc = _merge_expr(enc, lft, rgt)
    wtok = inst.select("w").distinct().select(
        "w", F.size(_tokens(enc)).alias("_n_tok")
    )
    per_doc = (
        inst.join(wtok, "w")
        .groupBy(id_col)
        .agg(F.sum("_n_tok").alias("_toks"))
    )
    return (
        docs.select(F.col(id_col), F.size(words).alias("n_words"))
        .join(per_doc, id_col, "left")
        .select(
            F.col(id_col),
            "n_words",
            F.coalesce(F.col("_toks"), F.lit(0)).cast("int").alias("n_tokens"),
        )
    )
