"""Distributed BPE tokenizer training — the vocabulary-learning job a
training-data pipeline runs over the full corpus before packing.

Shape at 100 TB (the part that matters):

1. ONE corpus-wide pass: whitespace words → (word, n) counts, a
   map-side-combinable groupBy. Everything after operates on the
   DISTINCT-WORD table — vocabulary-sized (millions), never
   corpus-sized (trillions). This is the standard distributed BPE
   decomposition (Sennrich et al., ACL'16 trains on exactly this
   count table single-node).
2. Per merge round: adjacent symbol pairs exploded from the symbol
   arrays (JVM ``transform(sequence)``), weighted pair counts as one
   algebraic aggregation (map-side combined), the argmax as a 1-row
   ``max_by`` action — the components.py driver-loop discipline: one
   cheap action per round.
3. The winning pair is applied as a pure-Column ``aggregate`` fold
   over each word's symbol array (greedy leftmost-first, proven
   equivalent to the scan form below) — a narrow map stage on the
   word table, no shuffle. The rounds run on the plans/fixpoint.py
   driver, which cuts the word table's lineage every round.

Greedy-scan equivalence of the fold: the scan form (Sennrich's
``i += 2`` after a merge) never reconsiders a just-merged token as the
LEFT element of another merge in the same round. The fold checks
``out[-1] == left``; a just-merged token equals ``left + right``,
which can equal ``left`` only if ``right`` is empty — impossible. So
fold and scan produce identical symbol sequences.

Determinism: ties on pair count break to the lexicographically
smallest (left, right) — pinned against the pure-Python twin
(tests/test_bpe.py) on multi-tie corpora.

Words carry an explicit end-of-word sentinel symbol ``"</w>"`` (the
classic formulation), so learned merges distinguish word-final from
word-internal contexts.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ophois_spark.plans.fixpoint import empty, fixpoint

EOW = "</w>"
BPE_MERGES = 12


def word_counts(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(word, n) over the corpus — the single corpus-wide pass."""
    from ophois_spark.operators.textops import tokens_col
    from ophois_spark.plans.layout import fan_out

    return (
        fan_out(docs.select(F.col(text_col)))
        .select(F.explode(tokens_col(F.col(text_col))).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )


def _initial_symbols(words: DataFrame) -> DataFrame:
    """word → (sym: array<string>, n): characters plus the EOW sentinel."""
    return words.select(
        F.concat(
            F.split(F.col("word"), ""),  # each character
            F.array(F.lit(EOW)),
        ).alias("sym"),
        "n",
    )


def _merge_fold(sym, left: str, right: str):
    """Greedy leftmost-first merge of adjacent (left, right) → left+right
    as a Column fold (see module docstring for scan equivalence)."""
    merged = left + right

    def step(acc, x):
        can = (
            (F.size(acc) > 0)
            & (F.element_at(acc, -1) == F.lit(left))
            & (x == F.lit(right))
        )
        replaced = F.concat(
            F.slice(acc, 1, F.size(acc) - 1), F.array(F.lit(merged))
        )
        return F.when(can, replaced).otherwise(F.concat(acc, F.array(x)))

    return F.aggregate(sym, F.array().cast("array<string>"), step)


def _pair_counts(words: DataFrame) -> DataFrame:
    """(l, r, c): adjacent-pair counts of ``words``, weighted by ``n``."""
    idx = F.sequence(F.lit(1), F.size("sym") - 1)
    return (
        words.filter(F.size("sym") >= 2)
        .select(
            F.explode(
                F.transform(
                    idx,
                    lambda i: F.struct(
                        F.element_at("sym", i).alias("l"),
                        F.element_at("sym", i + 1).alias("r"),
                    ),
                )
            ).alias("p"),
            "n",
        )
        .groupBy("p.l", "p.r")
        .agg(F.sum("n").alias("c"))
    )


def bpe_train(
    docs: DataFrame, n_merges: int = BPE_MERGES, text_col: str = "text"
) -> list[tuple[int, str, str]]:
    """Learn ``n_merges`` BPE merges → [(rank, left, right), ...] by
    full pair re-count per round — the DEFAULT trainer.

    Driver-side result by design: the merge table IS the trained
    artifact (size = n_merges, independent of corpus scale) and each
    round needs the winner on the driver to build the next round's
    fold anyway.

    Per round: one explode of the word table's adjacent pairs into an
    algebraic map-side-combined aggregation (the shuffle is DISTINCT-
    PAIR-sized, not instance-sized), a 1-row argmax action, and a
    narrow fold rewrite of the word table. This beat an incremental
    delta design (re-count only the words containing the winning pair)
    at every measured scale — 50k/400k/2M distinct words — because
    whole-stage codegen makes the re-count nearly free while the delta
    pays per-round bookkeeping passes; measurements in
    BENCH/BASELINE.md.

    The argmax ``collect`` is the round's single action; the loop ends
    early when no pair is left (the fixpoint driver's emptiness rule
    on the collected rows).
    """
    words = _initial_symbols(word_counts(docs, text_col)).localCheckpoint(
        eager=False
    )
    merges: list[tuple[int, str, str]] = []

    def _round(state, cut):
        words, _ = state
        pairs = _pair_counts(words)
        best = pairs.orderBy(F.desc("c"), F.asc("l"), F.asc("r")).limit(1).collect()
        if best:
            left, right = best[0]["l"], best[0]["r"]
            merges.append((len(merges), left, right))
            words = words.select(_merge_fold(F.col("sym"), left, right).alias("sym"), "n")
        return words, best

    fixpoint("bpe_train", (words, None), _round, stop=empty(of=1), rounds=n_merges)
    return merges


def bpe_apply(
    docs: DataFrame, merges: list[tuple[int, str, str]], text_col: str = "text"
) -> DataFrame:
    """Tokenize with a learned merge table → (doc_id, n_bpe_tokens):
    the per-doc BPE token count (the packing/pricing quantity).

    The merge chain (one Column fold per merge, rank order) runs ONCE
    PER DISTINCT WORD, not per occurrence — at corpus scale the fold
    cost is vocabulary-sized and occurrences just equi-join the
    per-word length back on the word key (word-keyed hash join; hot
    words like stopwords are one row on the build side, so no skew
    materializes on the fold)."""
    sym = F.concat(
        F.split(F.col("_w"), ""),
        F.array(F.lit(EOW)),
    )
    for _, left, right in sorted(merges):
        sym = _merge_fold(sym, left, right)
    from ophois_spark.operators.textops import tokens_col
    from ophois_spark.plans.layout import fan_out

    occ = (
        fan_out(docs.select("doc_id", F.col(text_col)))
        .select("doc_id", F.explode(tokens_col(F.col(text_col))).alias("_w"))
        .filter(F.col("_w") != "")
    )
    wl = occ.select("_w").distinct().select("_w", F.size(sym).alias("_k"))
    return (
        occ.join(wl, "_w")
        .groupBy("doc_id")
        .agg(F.sum("_k").cast("long").alias("n_bpe_tokens"))
    )
