"""Document chunking — fixed-token sliding windows for RAG / embedding
pipelines.

Splits every document into chunks of ``chunk_tokens`` whitespace tokens
with ``overlap_tokens`` of overlap (stride = chunk − overlap). Chunk
boundaries are pure token arithmetic — deterministic, engine-independent,
and (unlike sentence-split heuristics) exactly mirrorable in SQL, so the
operator carries a DuckDB differential like every other curation pass.

Scale design: chunking is a scan-side array expression (split → sequence
of starts → slice per start) followed by ``posexplode`` — no shuffle, no
UDF, no state. Output size is input size × ~(1/stride) amplification; the
explode pipelines straight into whatever embeds or writes the chunks, so
at 100 TB the cost is the scan plus the downstream operator. An empty
document yields zero chunks; a document shorter than one chunk yields
exactly one.

Chunk-count discipline: ``n_chunks = 1 + ceil(max(n − chunk, 0) /
stride)`` — every token is covered, the final chunk is the only one that
may be short, and consecutive chunks share exactly ``overlap_tokens``
tokens (the standard retrieval-window construction).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from realtime_olap_spark import sqlexpr as X


def chunk_spans(text: str, chunk_tokens: int,
                overlap_tokens: int = 0) -> Column:
    """Array of ``struct<chunk_text, chunk_ntok>`` sliding windows over the
    whitespace tokens of the column named ``text``."""
    if not 0 <= overlap_tokens < chunk_tokens:
        raise ValueError(
            f"need 0 <= overlap ({overlap_tokens}) < chunk ({chunk_tokens})")
    stride = chunk_tokens - overlap_tokens
    ws = X.words_sql(X.col_sql(text))
    n = f"size({ws})"
    n_chunks = (f"(1 + CAST(ceil(greatest({n} - {chunk_tokens}, 0) "
                f"/ {stride}) AS INT))")
    starts = (f"CASE WHEN {n} > 0 THEN sequence(0, {n_chunks} - 1) "
              f"ELSE CAST(array() AS ARRAY<INT>) END")
    return F.expr(
        f"transform({starts}, i -> struct("
        f"concat_ws(' ', slice({ws}, i * {stride} + 1, {chunk_tokens})) "
        f"AS chunk_text, "
        f"CAST(least({chunk_tokens}, {n} - i * {stride}) AS BIGINT) "
        f"AS chunk_ntok))")


def chunk_documents(df: DataFrame, id_col: str, text_col: str,
                    chunk_tokens: int, overlap_tokens: int = 0) -> DataFrame:
    """One row per chunk: ``(id, chunk_idx, chunk_text, chunk_ntok)``.
    ``chunk_idx`` is 0-based within the document; ``(id, chunk_idx)`` is
    the deterministic chunk key downstream embedding tables join on."""
    spans = chunk_spans(text_col, chunk_tokens, overlap_tokens)
    return (df.select(F.col(id_col),
                      F.posexplode(spans).alias("chunk_idx", "c"))
            .select(id_col, "chunk_idx",
                    F.col("c.chunk_text").alias("chunk_text"),
                    F.col("c.chunk_ntok").alias("chunk_ntok")))
