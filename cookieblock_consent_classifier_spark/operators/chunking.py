"""Document chunking + sequence packing for LLM training corpora.

Two standard pre-training data ops the reference never needed (its
unit is a cookie, not a token stream) but any 100 TB text pipeline
does:

``chunk_documents``
    Split every document into fixed-token-budget chunks (whitespace
    tokens via ``functions.text.tokens``). Fully native: one
    ``sequence`` + ``posexplode`` over computed chunk counts — row-
    local, scan-speed, no shuffle, no Python. A 100 TB corpus chunks
    at parquet-scan throughput with perfect partition parallelism.

``pack_chunks``
    Assign chunks to fixed-token-budget training sequences ("bins")
    greedily by start offset: a chunk lands in
    ``floor(exclusive_running_tokens / budget)`` of its stream — the
    concatenate-and-cut packing GPT-style pre-training uses, with
    chunk-atomic placement (a bin may overflow by < one chunk; no
    chunk is split). ONE window cumsum per stream partition. The
    stream key (source, language, shard...) bounds the sequential
    region: packing is embarrassingly parallel across streams, which
    is the only packing shape that survives 100 TB — a single global
    greedy order would serialize the whole corpus through one
    partition.

Both are DuckDB-expressible (list_slice + generate_series; window
sum) — value-gated end-to-end by the ``doc_chunks`` oracle query.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window, functions as F

from cookieblock_consent_classifier_spark.functions import text as TX


def chunk_documents(
    docs: DataFrame,
    id_cols: Sequence[str] = ("doc_id",),
    chunk_tokens: int = 64,
) -> DataFrame:
    """Long-form chunk rows of the ``text`` column: ``(*id_cols,
    chunk_id, n_tok, chunk_text)``. Whitespace-empty documents produce zero rows;
    every other document produces ``ceil(n_tokens / chunk_tokens)``
    chunks, the last one partial."""
    if chunk_tokens <= 0:
        raise ValueError("chunk_tokens must be positive")
    toks = TX.tokens("text")
    n_chunks = F.ceil(F.size(toks) / F.lit(float(chunk_tokens))).cast("int")
    staged = docs.select(
        *id_cols, toks.alias("__toks"), n_chunks.alias("__nc")
    ).filter(F.col("__nc") > 0)
    exploded = staged.select(
        *id_cols,
        "__toks",
        F.explode(F.sequence(F.lit(0), F.col("__nc") - 1)).alias("chunk_id"),
    )
    ctoks = F.slice(
        F.col("__toks"), F.col("chunk_id") * chunk_tokens + 1, chunk_tokens
    )
    return exploded.select(
        *id_cols,
        "chunk_id",
        F.size(ctoks).cast("long").alias("n_tok"),
        F.array_join(ctoks, " ").alias("chunk_text"),
    )


def pack_chunks(
    chunks: DataFrame,
    stream_col: str,
    order_cols: Sequence[str],
    budget: int = 256,
) -> DataFrame:
    """Attach ``bin_id``: the training-sequence index of each chunk
    within its stream (greedy-by-start-offset concatenation packing of
    the ``n_tok`` counts ``chunk_documents`` writes).
    ``order_cols`` must be a deterministic total order within the
    stream or bin assignment is not reproducible."""
    if budget <= 0:
        raise ValueError("budget must be positive")
    w = (
        Window.partitionBy(stream_col)
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cum_before = F.coalesce(F.sum("n_tok").over(w), F.lit(0).cast("long"))
    return chunks.withColumn(
        "bin_id", F.floor(cum_before / F.lit(budget)).cast("long")
    )
