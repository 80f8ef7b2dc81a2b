"""Vectorize pipeline — the reference's embed-and-store service
(services/api/src/services/vectorize.ts:14-49: truncate, single chunk,
embed, upsert into the default store) rebuilt with the corpus-scale
path: overlapping chunking instead of the 1-chunk cut and int8-quantized
storage.

Stage composition (all engine operators, sequenced here only):

1. truncate to ``max_chars`` (the reference's 6000-char embed cut,
   vectorize.ts:14) — upstream of chunking so budget applies per doc;
2. ``chunk_documents`` (vectorize.ts's chunk_index=0 becomes real
   windows; ids keep the `{doc_id}-{index}` convention);
3. embed each chunk — ``deterministic_embedding`` by default (E1, the
   pluggable-model seam: swap in a real encoder behind the same
   signature);
4. ``quantize_embeddings`` for the stored form (4× smaller scan for
   every downstream consumer; floats rebuilt on demand).

Lazy end to end. One DataFrame out: chunk rows with quantized vectors —
write it with sources/layout.write_partitioned. Search indexes are
built from float vectors, not from this output (operators/quantize.
ivf_pq_build).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.normalize import truncate
from ..operators.chunking import chunk_documents
from ..operators.quantize import quantize_embeddings
from ..operators.vector import deterministic_embedding


def vectorize_corpus(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_chars: int = 6000,
    chunk_chars: int = 1000,
    overlap: int = 100,
    dim: int = 8,
    embed_fn=None,
) -> DataFrame:
    """(passthrough cols, chunk_id, chunk_index, q_lo, q_hi, q_codes):
    quantized chunk embeddings ready to persist. ``embed_fn`` is the
    model seam — ``Column -> Column(array<double>)``, defaulting to the
    deterministic E1 embedding."""
    embed = embed_fn or (lambda c: deterministic_embedding(c, dim=dim))
    cut = docs.withColumn(text_col, truncate(F.col(text_col), max_chars))
    chunks = chunk_documents(
        cut, text_col=text_col, id_col=id_col,
        chunk_chars=chunk_chars, overlap=overlap,
    )
    embedded = chunks.withColumn("embedding", embed(F.col("chunk_text"))).drop(
        "chunk_text"
    )
    return quantize_embeddings(embedded, "embedding")
