"""Eval-set decontamination for training-data pipelines.

The standard LLM data-prep step (GPT-3 appendix C / Llama data cleaning
by shape, public knowledge): a training document is *contaminated* when
it shares at least one word n-gram with any document of a held-out
evaluation set; contaminated documents are dropped (or flagged) before
training so benchmark numbers measure generalization, not memorization.

Scale shape (100 TB corpus, small eval set — the realistic asymmetry):

* n-gram generation is a pure Catalyst expression (split → transform
  over a sequence → array_join), map-only, whole-stage-codegen'd — the
  corpus is never shuffled to build n-grams.
* ``method="broadcast"`` (default): the DISTINCT eval n-grams (bounded
  by the eval set, millions not billions) broadcast-hash-semi-join
  against the exploded corpus n-grams — zero shuffle of the corpus;
  the only exchange carries (doc_id, partial hit count) pairs for the
  contaminated subset, which partial aggregation keeps tiny.
* ``method="set"``: the eval n-grams are hashed to int64, collected
  once (guarded by ``max_eval_ngrams`` — same bounded-collect contract
  as encoded_join's dimension side), and shipped as a numpy array
  inside an Arrow-batched ``mapInPandas`` membership probe
  (``np.isin`` per batch). No join, no exchange at all on the flag
  pass — the lane for clusters where even a broadcast join exchange
  is unwanted, at the cost of one Python hop.
* ``method="join"``: plain shuffle hash join on the n-gram for the
  degenerate case of an eval side too large to broadcast.

All three lanes return identical results (test-pinned); the broadcast
lane is what the registered query uses because it is also exactly
SQL-expressible for the DuckDB oracle.

Tokenization is deliberately the dumbest portable thing — lowercase +
split on a single literal space — because the oracle must reproduce it
bit-identically in ANSI-ish SQL (``string_split(lower(text), ' ')``).
Real pipelines swap in their tokenizer at ``word_ngrams``; every other
line is tokenizer-agnostic.

Reference anchor: the dual coarse-skip + exact-recheck structure
mirrors parquet-extra's dual predicate (Predicate.scala:47-183 compiles
one coarse storage filter and one exact re-check); here the "set" lane
is the coarse membership probe and the broadcast join is the exact
surface.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from ..engine.worker import kernel

DEFAULT_MAX_EVAL_NGRAMS = 50_000_000


def word_ngrams(text: Column, n: int) -> Column:
    """Array of word ``n``-grams of ``lower(text)`` split on ' '.

    Empty array when the document has fewer than ``n`` words — short
    documents are never contaminated by definition.  Matches the DuckDB
    expression ``[array_to_string(ws[i:i+n-1], ' ') for i in
    range(1, greatest(len(ws)-(n-1), 0) + 1)]`` bit-for-bit.
    """
    if n < 1:
        raise ValueError(f"n must be >= 1, got {n}")
    ws = F.split(F.lower(text), " ")
    starts = F.sequence(F.lit(1), F.size(ws) - (n - 1))
    grams = F.transform(starts, lambda i: F.array_join(F.slice(ws, i, n), " "))
    empty = F.array().cast("array<string>")
    return F.when(F.size(ws) >= n, grams).otherwise(empty)


def _exploded_ngrams(df: DataFrame, id_col: str, text_col: str, n: int) -> DataFrame:
    """(id, ng) pairs, n-grams deduplicated per document (map-only)."""
    return df.select(
        F.col(id_col),
        F.explode(F.array_distinct(word_ngrams(F.col(text_col), n))).alias("_ng"),
    )


def contamination_report(
    train: DataFrame,
    eval_df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 5,
    method: str = "broadcast",
    max_eval_ngrams: int = DEFAULT_MAX_EVAL_NGRAMS,
) -> DataFrame:
    """Per-training-document contamination flags.

    Returns ``(id_col, n_hits bigint, contaminated boolean)`` — one row
    per *train* row, ``n_hits`` = number of distinct n-grams of the
    document that appear anywhere in the eval set.
    """
    if method not in ("broadcast", "join", "set"):
        raise ValueError(f"unknown method {method!r}")

    # The eval side needs no id column — its doc identity is irrelevant,
    # only the distinct n-gram set matters — so eval sets loaded as a
    # bare text column work.
    ev_ng = eval_df.select(
        F.explode(F.array_distinct(word_ngrams(F.col(text_col), n))).alias("_ng")
    ).distinct()
    tr_ng = _exploded_ngrams(train, id_col, text_col, n)

    if method == "set":
        hits = _set_probe_hits(tr_ng, ev_ng, id_col, max_eval_ngrams)
    else:
        right = F.broadcast(ev_ng) if method == "broadcast" else ev_ng
        hits = (
            tr_ng.join(right, "_ng", "inner")
            .groupBy(id_col)
            .agg(F.count(F.lit(1)).alias("n_hits"))
        )

    ids = train.select(id_col)
    return ids.join(hits, id_col, "left").select(
        F.col(id_col),
        F.coalesce(F.col("n_hits"), F.lit(0)).cast("long").alias("n_hits"),
        F.col("n_hits").isNotNull().alias("contaminated"),
    )


def decontaminate(
    train: DataFrame,
    eval_df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 5,
    method: str = "broadcast",
    max_eval_ngrams: int = DEFAULT_MAX_EVAL_NGRAMS,
) -> DataFrame:
    """Train rows with every contaminated document removed.

    The anti-join key is the id, so the (wide) document payload flows
    straight through — only ids and n-grams ever enter a join.
    """
    flagged = contamination_report(
        train,
        eval_df,
        id_col=id_col,
        text_col=text_col,
        n=n,
        method=method,
        max_eval_ngrams=max_eval_ngrams,
    ).filter(F.col("contaminated"))
    return train.join(flagged.select(id_col), id_col, "left_anti")


def _set_probe_hits(
    tr_ng: DataFrame, ev_ng: DataFrame, id_col: str, max_eval_ngrams: int
) -> DataFrame:
    """Map-only membership probe: xxhash64 both sides, collect the eval
    hashes once (bounded), probe per Arrow batch with np.isin.

    xxhash64 collisions across *different* n-grams could over-count by
    one in pathological cases (2^-64 per pair); the set lane is the
    coarse 100-TB filter — callers needing exactness use the broadcast
    lane, or re-check the (tiny) flagged subset with it.
    """
    import numpy as np
    import pandas as pd

    ev_hashed = ev_ng.select(F.xxhash64("_ng").alias("_h")).limit(max_eval_ngrams + 1)
    rows = ev_hashed.collect()
    if len(rows) > max_eval_ngrams:
        raise ValueError(
            f"eval n-gram count exceeds max_eval_ngrams={max_eval_ngrams}; "
            "raise the bound or use method='broadcast'/'join'"
        )
    ev_arr = np.array([r["_h"] for r in rows], dtype=np.int64)
    ev_arr.sort()

    probe = tr_ng.select(F.col(id_col).alias("_id"), F.xxhash64("_ng").alias("_h"))
    # The probe's output id type must follow the caller's id column
    # (string uuids are as common as bigints) — hardcoding long here
    # would make Arrow reject every non-bigint id at runtime.
    id_type = probe.schema["_id"].dataType.simpleString()
    out_schema = f"_id {id_type}, _n long"

    def _probe(batches):
        for pdf in batches:
            h = pdf["_h"].to_numpy(dtype=np.int64)
            m = pdf.loc[np.isin(h, ev_arr), ["_id"]]
            if len(m):
                g = m.groupby("_id").size().reset_index(name="_n")
                yield pd.DataFrame({"_id": g["_id"], "_n": g["_n"]})

    per_part = probe.mapInPandas(kernel(_probe), out_schema)
    return per_part.groupBy("_id").agg(F.sum("_n").alias("n_hits")).select(
        F.col("_id").alias(id_col), "n_hits"
    )
