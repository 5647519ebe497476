"""Sequence packing: greedy first-fit-in-order packing of token chunks
into fixed-budget training sequences.

The step between chunking and the trainer (the T5/GPT data-prep idiom):
short chunks are concatenated into packs of <= `budget` tokens so batch
slots carry ~full sequences instead of padding.  Exact global bin packing
is inherently sequential; the distributed form packs PER PARTITION —
each partition runs an independent greedy first-fit over its chunks in
key order, which at corpus scale wastes at most one partial pack per
partition (negligible against millions of packs, and bounded by sizing
`partitions` to the data) and needs one hash shuffle.

Plan: hash-repartition on url (all of a document's chunks land in one
partition — hash partitioning is a pure function of the key, so the
layout is FULLY deterministic for a fixed partition count, unlike
repartitionByRange whose boundary sampling is seeded per-run) ->
sortWithinPartitions(url, chunk_idx) -> ONE mapInPandas pass that
streams the partition's Arrow batches through a running (pack, tokens)
accumulator — state lives across batches inside one partition's
iterator, so memory is one batch plus two scalars.  Pack ids are
content-derived (first member's key), never partition indices — stable
under speculative re-execution.

Packing is partition-COUNT-dependent by design (documented): different
`partitions` values give different — equally valid — packings; the same
input with the same count packs identically on every run.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame

PACK_SCHEMA = ("pack_id string, url string, chunk_idx int, "
               "n_tokens int, pack_seq int")


def check_pack_budget(budget: int) -> None:
    """The one rule for a packing budget, shared by `pack_chunks` and the
    curate option check: at least one token."""
    if budget < 1:
        raise ValueError(f"pack budget (--pack) must be >= 1, got {budget}")


def pack_chunks(
    chunks: DataFrame, budget: int = 1024, partitions: int = 200,
) -> DataFrame:
    """(url, chunk_idx, n_tokens, ...) -> one row per chunk with its pack
    assignment: (pack_id, url, chunk_idx, n_tokens, pack_seq).

    Greedy first-fit in (url, chunk_idx) order per partition: a chunk
    joins the current pack while the running total stays <= budget, else
    it opens a new pack.  A single chunk larger than the budget gets a
    pack of its own (the caller's chunker controls max chunk size, so
    this is the never-drop-data fallback, not a normal path).
    `pack_seq` is the chunk's position within its pack."""
    check_pack_budget(budget)

    def pack(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cur_id: str | None = None
        cur_tokens = 0
        cur_seq = 0
        for pdf in batches:
            out_pack, out_seq = [], []
            for url, idx, n in zip(
                pdf["url"], pdf["chunk_idx"], pdf["n_tokens"]
            ):
                n = int(n)
                if cur_id is None or cur_tokens + n > budget:
                    cur_id = f"{url}#{int(idx)}"
                    cur_tokens = 0
                    cur_seq = 0
                out_pack.append(cur_id)
                out_seq.append(cur_seq)
                cur_tokens += n
                cur_seq += 1
            yield pd.DataFrame({
                "pack_id": out_pack,
                "url": pdf["url"].to_numpy(),
                "chunk_idx": pdf["chunk_idx"].to_numpy(),
                "n_tokens": pdf["n_tokens"].astype("int32").to_numpy(),
                "pack_seq": pd.array(out_seq, dtype="int32"),
            })

    ordered = (
        chunks.select("url", "chunk_idx", "n_tokens")
        .repartition(partitions, "url")
        .sortWithinPartitions("url", "chunk_idx")
    )
    return ordered.mapInPandas(pack, schema=PACK_SCHEMA)
