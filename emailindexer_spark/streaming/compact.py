"""Posting-list compaction — the Lucene segment-merge analogue.

Streaming appends (streaming/ingest.py) add one fresh posting row
(split) per term per batch; after many batches a term's posting list is
spread over many small rows and query-side decode pays per-row
overhead.  ``compact_index`` merges every term's rows back into
minimal, freshly skew-split runs — exactly what Lucene's background
TieredMergePolicy does for segments (reference: Lucene merges implied
by S6, SURVEY.md §4 "Segment merge policy") — WITHOUT re-tokenizing or
touching the text:

* each posting row becomes chunk rows (plans/builder.CHUNK_SCHEMA):
  doc ids come off the vectorized frame decoder and are delta-coded
  again per chunk; tfs, norms and positions are already in chunk
  layout once a row's blocks are concatenated (each doc's positions
  are encoded independently, so they are only byte-split at doc
  boundaries, never decoded),
* heavy terms are re-split from EXACT per-term df (summed over rows —
  no sampling needed here) at the build's own doc-range boundaries,
  and the chunks go through the build's postings writer
  (plans/builder.write_postings), so compacted output is byte-identical
  to a fresh build over the same rows,
* the new postings directory is swapped in with a rename pair +
  leftover repair (``_repair_partial``): a crash mid-swap is healed by
  every entry point that touches the postings dir — the next
  ``compact_index``, ``SearchEngine`` open, or ``incremental_append``
  all invoke the repair first — and ``term_dict`` needs NO rewrite:
  per (term, part) df is invariant under merging splits.

Doc ranges of distinct splits never overlap (base split ranges come
from doc-range cuts; each ingest batch's ids start at the previous
corpus size), so the merged run's doc_ids stay strictly increasing —
asserted by the encoder.
"""

from __future__ import annotations

import os
import shutil
import time
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from emailindexer_spark.functions.codec import _decode_frame_postings
from emailindexer_spark.plans.builder import (
    CHUNK_SCHEMA,
    _pack_chunk_rows,
    write_postings,
)
from emailindexer_spark.sources.checkpoint import Manifest


def _postings_to_chunk_rows(positions: bool, heavy_bc, n_rows: int):
    """mapInPandas: posting rows → CHUNK_SCHEMA rows, heavy terms
    (broadcast {term: n_splits}) cut at split_id = doc_id //
    ceil(n_rows / n_splits).  Position payloads are byte-split at doc
    boundaries (varbyte continuation-bit scan), never decoded."""

    def gen(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        heavy = heavy_bc.value if heavy_bc is not None else {}
        for pdf in it:
            if not len(pdf):
                continue
            docs, tfs, norms = _decode_frame_postings(pdf)
            terms = pdf["term"].to_numpy()
            keys = np.repeat(np.arange(len(pdf)), pdf["df_row"].to_numpy())
            pos_buf = pos_offs = None
            if positions:
                pos_buf = b"".join(b for row in pdf["b_pos"] for b in row)
                pb = np.frombuffer(pos_buf, dtype=np.uint8)
                vends = np.flatnonzero((pb & 0x80) == 0) + 1
                pos_offs = np.concatenate(([0], vends[np.cumsum(tfs) - 1]))
            yield _pack_chunk_rows(
                keys, terms, heavy, n_rows, docs, tfs, norms, pos_buf, pos_offs
            )

    return gen


def _repair_partial(man: Manifest) -> None:
    """Heal a crash mid-swap: live-missing+bak-present → restore; a
    stale tmp from an interrupted compact is discarded."""
    live = man.stage_path("postings")
    bak, tmp = live + ".bak", live + ".tmp"
    if not os.path.isdir(live) and os.path.isdir(bak):
        os.rename(bak, live)
    shutil.rmtree(tmp, ignore_errors=True)
    shutil.rmtree(bak, ignore_errors=True)


def compact_index(
    spark: SparkSession,
    index_dir: str,
    heavy_df_threshold: int | None = None,
    split_target: int | None = None,
) -> Manifest:
    """Merge every term's posting rows into minimal skew-split runs."""
    man = Manifest.load_or_create(index_dir)
    if "n_rows" not in man.stats:
        raise ValueError(f"{index_dir} has no completed build")
    _repair_partial(man)
    from emailindexer_spark.streaming.ingest import repair_ingest_visibility

    repair_ingest_visibility(man)  # publish a committed-but-hidden append
    t0 = time.time()
    num_parts = int(man.params.get("num_parts", 32))
    block_size = int(man.params.get("block_size", 128))
    positions = bool(man.params.get("positions", False))
    heavy_df_threshold = heavy_df_threshold or int(
        man.params.get("heavy_df_threshold", 100_000)
    )
    split_target = split_target or int(man.params.get("split_target", 50_000))
    n_rows = int(man.stats["n_rows"])

    live = man.stage_path("postings")
    p = spark.read.parquet(live)
    # EXACT per-term df from the rows being merged — no sampling
    heavy_map = {
        r["term"]: int(-(-int(r["df"]) // split_target))
        for r in p.groupBy("term")
        .agg(F.sum("df_row").alias("df"))
        .where(F.col("df") > heavy_df_threshold)
        .collect()
    }
    heavy_bc = spark.sparkContext.broadcast(heavy_map) if heavy_map else None
    cols = ["term", "df_row", "b_first", "b_docs", "b_tfs", "b_norms"] + (
        ["b_pos"] if positions else []
    )
    chunks = p.select(*cols).mapInPandas(
        _postings_to_chunk_rows(positions, heavy_bc, n_rows), CHUNK_SCHEMA
    )
    tmp = live + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    write_postings(chunks, tmp, num_parts, block_size)
    # atomic-ish swap with crash repair; term_dict content is invariant
    # (df per (term, part) is preserved by merging), so only postings move
    bak = live + ".bak"
    os.rename(live, bak)
    os.rename(tmp, live)
    shutil.rmtree(bak)
    n_compactions = int(man.stats.get("compactions", 0)) + 1
    man.set_stats(compactions=n_compactions)
    man.commit_stage(
        f"compact_{n_compactions:04d}", seconds=round(time.time() - t0, 2)
    )
    return man
