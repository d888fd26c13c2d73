"""Distributed BPE tokenizer training and application.

Byte-pair encoding (Sennrich et al. 2016) trained the scalable way: the
corpus is scanned ONCE to build the word-frequency table (vocabulary-sized,
not corpus-sized — the standard trick that makes BPE training tractable on
billions of documents), and every merge iteration then runs on that small
table only.  Each iteration is one map-combined pair-count aggregate plus a
1-row argmax collect; driver state is bounded by ``num_merges`` rows.

Symbol-sequence representation: a word's state is the string
``(c1)(c2)...(cn)(</w>)`` — every symbol wrapped in its own parentheses.
Merging pair (a, b) is then a LITERAL left-to-right string replace of
``(a)(b)`` with ``(ab)``, which is exactly BPE's greedy non-overlapping
merge semantics, and — crucially — is expressible identically in Spark
(``F.replace``) and ANSI SQL (``replace``), so the whole training loop can
be unrolled into a DuckDB oracle and verified hash-exact.  Adjacent matches
never share characters (each symbol owns its own parens), so the
left-to-right replace merges every occurrence in one pass.

Words containing parentheses would corrupt the representation; they are
excluded from the vocabulary (and, by the inner vocabulary join, from
application) — documented contract, counted nowhere silently.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from compss_python_spark.caching import iterate
from compss_python_spark.llm.text import tokens

END_OF_WORD = "</w>"
_CHECKPOINT_EVERY = 4


def word_frequencies(
    df: DataFrame, text_col: str = "text", lowercase: bool = True
) -> DataFrame:
    """(word, freq) over the corpus — the ONLY corpus-sized job in BPE
    training.  One explode + one map-combined count; output is
    vocabulary-sized."""
    t = F.col(text_col)
    if lowercase:
        t = F.lower(t)
    w = F.explode(tokens(t)).alias("word")
    return (
        df.select(w)
        .filter((F.col("word") != "") & ~F.col("word").contains("(") & ~F.col("word").contains(")"))
        .groupBy("word")
        .agg(F.count("*").cast("long").alias("freq"))
    )


def initial_state(word_col) -> Column:
    """Char-split BPE start state: ``(c1)(c2)...(cn)(</w>)``."""
    c = F.col(word_col) if isinstance(word_col, str) else word_col
    chars = F.regexp_extract_all(c, F.lit("."), 0)
    return F.concat(
        F.lit("("),
        F.array_join(chars, ")("),
        F.lit(")(" + END_OF_WORD + ")"),
    )


def _symbols() -> Column:
    """Symbol array from the ``state`` column (strip outer parens, split on
    the ')(' boundary)."""
    inner = F.expr("substring(state, 2, length(state) - 2)")
    return F.split(inner, r"\)\(")


def bpe_train(
    df: DataFrame,
    text_col: str = "text",
    num_merges: int = 6,
    lowercase: bool = True,
) -> DataFrame:
    """Train ``num_merges`` BPE merges; returns a DataFrame
    (merge_rank int, lhs, rhs, pair_count long) in training order.

    Each round: adjacent-pair explode over the word-state table (weighted by
    word frequency), one map-combined sum, a deterministic argmax
    (count desc, lhs asc, rhs asc) collected as ONE row, then a literal
    state replace.  The word table is checkpointed every
    ``_CHECKPOINT_EVERY`` rounds so lineage stays O(1) per round.
    """
    merges: list[tuple[int, str, str, int]] = []

    def merge(state: DataFrame) -> DataFrame | None:
        syms = _symbols()
        pairs = (
            state.select(
                syms.alias("_s"),
                "freq",
            )
            .select(
                # guard: a fully-merged word has ONE symbol; sequence(1, 0)
                # would generate DESCENDING [1, 0] and overflow element_at
                F.explode(
                    F.when(
                        F.size("_s") >= 2,
                        F.transform(
                            F.sequence(F.lit(1), F.size("_s") - 1),
                            lambda i: F.struct(
                                F.element_at("_s", i).alias("lhs"),
                                F.element_at("_s", i + 1).alias("rhs"),
                            ),
                        ),
                    ).otherwise(F.array()),
                ).alias("p"),
                "freq",
            )
            .groupBy(F.col("p.lhs").alias("lhs"), F.col("p.rhs").alias("rhs"))
            .agg(F.sum("freq").cast("long").alias("pair_count"))
        )
        best = (
            pairs.orderBy(F.desc("pair_count"), F.asc("lhs"), F.asc("rhs"))
            .limit(1)
            .collect()
        )
        if not best:
            return None
        b = best[0]
        merges.append((len(merges), b["lhs"], b["rhs"], b["pair_count"]))
        return state.withColumn(
            "state",
            F.replace(
                F.col("state"),
                F.lit(f"({b['lhs']})({b['rhs']})"),
                F.lit(f"({b['lhs']}{b['rhs']})"),
            ),
        )

    wf = word_frequencies(df, text_col, lowercase)
    # The merge list lives on the driver; no word state outlives training.
    iterate(
        wf.select("word", initial_state("word").alias("state"), "freq"),
        merge,
        num_merges,
        every=_CHECKPOINT_EVERY,
        keep=False,
    )
    return df.sparkSession.createDataFrame(
        merges, "merge_rank int, lhs string, rhs string, pair_count long"
    )


def bpe_segment_words(
    df: DataFrame,
    merges: list[tuple[str, str]],
    text_col: str = "text",
    lowercase: bool = True,
) -> DataFrame:
    """Apply a trained merge list to the corpus VOCABULARY (not per token —
    the word table is small, and downstream consumers join it back).
    Returns (word, subtokens array<string>, n_sub int)."""
    wf = word_frequencies(df, text_col, lowercase)
    state = initial_state("word")
    for lhs, rhs in merges:
        state = F.replace(state, F.lit(f"({lhs})({rhs})"), F.lit(f"({lhs}{rhs})"))
    out = wf.select("word", state.alias("state"))
    syms = F.split(F.expr("substring(state, 2, length(state) - 2)"), r"\)\(")
    return out.select(
        "word", syms.alias("subtokens"), F.size(syms).alias("n_sub")
    )


def bpe_doc_subtoken_counts(
    df: DataFrame,
    merges: list[tuple[str, str]],
    id_col: str = "doc_id",
    text_col: str = "text",
    lowercase: bool = True,
) -> DataFrame:
    """Per-document subword token counts under a trained BPE: explode doc
    tokens, inner-join the (small, broadcastable) segmented vocabulary, sum.
    The expensive side (the token stream) never recomputes segmentation —
    it joins the vocabulary-sized map, which AQE broadcasts.  Returns
    (id_col, n_subtokens long)."""
    vocab = bpe_segment_words(df, merges, text_col, lowercase).select(
        "word", "n_sub"
    )
    t = F.col(text_col)
    if lowercase:
        t = F.lower(t)
    toks = df.select(F.col(id_col), F.explode(tokens(t)).alias("word"))
    return (
        toks.join(F.broadcast(vocab), "word")
        .groupBy(id_col)
        .agg(F.sum("n_sub").cast("long").alias("n_subtokens"))
    )
