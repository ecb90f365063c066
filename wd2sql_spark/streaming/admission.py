"""Streaming near-dup ADMISSION loop: the full write path.

``stream_incremental_neardup`` (queries/streaming_q.py) PROBES a static
corpus index and reports matches; a production crawl-ingest also has to
ACT on them — drop the duplicates, admit the survivors, and grow the
index so LATER drops dedupe against EARLIER ones. This module is that
loop as a ``foreachBatch`` sink over the persisted LSH band store
(sinks/lsh_store.py):

per micro-batch of documents,
1. band the batch ONCE with the row-local band index
   (``minhash_band_index_rowlocal``: a narrow map, no per-doc
   aggregation) and run ONE broadcast probe of it against
   store ∪ batch, each match tagged with the side it came from;
2. collect the matches (est Jaccard ≥ threshold) in ONE Spark action —
   every batch doc matches itself on the batch side, so they carry the
   batch's doc ids too — then decide on the driver: docs
   matching an already-admitted (store) doc drop; among the remaining
   docs, a union-find over the within-batch edges that join two
   survivors forms the near-dup components, and each keeps its lowest
   doc_id — the oracle's keep-min rule over survivor-restricted edges;
3. append the admitted docs' band rows (the same persisted rows the
   probe used) to the store through the canonical layout
   (``append_to_lsh_store`` semantics: store+append ≡ full rebuild over
   the admitted set — the property tests/test_lsh_store.py pins).

Ordering/determinism contract: the admitted set is a pure function of
the SEQUENCE of batches (micro-batch order is the stream's order; within
a batch, components keep min doc_id), so a batch replay or a sequential
batch re-run produces the same set —
tests/test_streaming_admission.py replays the same drops as plain batch
calls and asserts equality, plus store ≡ rebuild-over-admitted.

Replay idempotence (foreachBatch is at-least-once): a re-run batch is
re-probed against a store that now CONTAINS its own survivors — they
match themselves (estimate 1.0) and drop, so nothing is re-admitted;
the only artifact of a crash between append and checkpoint-commit is
duplicate band ROWS for the same doc, which band-key probes are immune
to (matches are DISTINCT pairs) and the next compaction removes.

Scale shape: the probe is the incremental-index join (batch broadcast,
store never reshuffled) and the append writes only the admitted docs'
bands; nothing corpus-sized moves. The driver holds one row per batch
doc plus the match rows with est ≥ threshold — up to 4 per near-dup
pair (each direction, from the batch side and, on a replay, from the
store side). That is linear in the batch unless the batch is made of
copies of one text, where it turns quadratic; the replaced
connected-components design was quadratic there too (its pair relation)
but kept it on the executors. Real drops are far from that case: the
80k-doc scale drops rejected 249–7,410 documents each
(SCALE_ADMISSION_r07.json).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def admit_batch(
    docs: DataFrame,
    store_path: str,
    k: int = 16,
    band_size: int = 4,
    n: int = 3,
    min_est_jaccard: float = 0.5,
) -> list[int]:
    """Run the admission loop for ONE batch of (doc_id, text) rows
    against the store at ``store_path`` (created on first call). Returns
    the admitted doc_ids (sorted) — batch-sized, the operational log a
    real sink would emit."""
    import os

    import pandas as pd

    from wd2sql_spark.operators.dedup import (
        incremental_index_probe,
        minhash_band_index_rowlocal,
    )
    from wd2sql_spark.sinks.compact import recover_dataset
    from wd2sql_spark.sinks.lsh_store import _layout, read_lsh_store

    spark = docs.sparkSession
    # Heal an interrupted compaction swap BEFORE deciding "first drop":
    # a crash between compact's two renames leaves only bands.old, and
    # skipping the store here would admit near-dups of everything already
    # in the store AND orphan the .old generation (ADVICE r5 #1).
    recover_dataset(f"{store_path}/bands")
    delta_idx = minhash_band_index_rowlocal(
        docs.select("doc_id", "text"), k=k, band_size=band_size, n=n
    ).persist()
    try:
        corpus = delta_idx.withColumn("in_store", F.lit(False))
        if os.path.isdir(f"{store_path}/bands"):
            corpus = read_lsh_store(spark, store_path).withColumn(
                "in_store", F.lit(True)
            ).unionByName(corpus)
        # Every banded batch doc matches itself on the batch side (est 1.0),
        # so the matches also carry the batch's doc ids: ONE action.
        rows = (
            incremental_index_probe(
                corpus,
                delta_idx,
                k=k,
                min_est_jaccard=min_est_jaccard,
                corpus_cols=("in_store",),
            )
            .select("delta_id", "corpus_id", "in_store")
            .collect()
        )
        batch = {r[0] for r in rows}
        store_hits = {r[0] for r in rows if r[2]}
        # union-find over the edges joining two survivors; each component's
        # root is its minimum doc_id
        parent = {d: d for d in batch - store_hits}

        def find(x: int) -> int:
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b, in_store in rows:
            if not in_store and a in parent and b in parent:
                ra, rb = find(a), find(b)
                parent[max(ra, rb)] = min(ra, rb)
        admitted = sorted(int(d) for d in parent if find(d) == d)
        if admitted:
            keep = spark.createDataFrame(pd.DataFrame({"doc_id": admitted}))
            _layout(
                delta_idx.join(F.broadcast(keep), "doc_id", "left_semi")
            ).write.mode("append").partitionBy("band").parquet(f"{store_path}/bands")
        return admitted
    finally:
        delta_idx.unpersist()


def admission_sink(
    store_path: str,
    k: int = 16,
    band_size: int = 4,
    n: int = 3,
    min_est_jaccard: float = 0.5,
    compact_every: int | None = None,
    log=None,
):
    """``foreachBatch`` wrapper around :func:`admit_batch`::

        stream.writeStream.foreachBatch(admission_sink(store)).start()

    ``compact_every=N`` schedules the store maintenance every N batches
    (after the batch's append): ``compact_admission_store`` rewrites the
    band dataset through the canonical layout AND drops the bit-identical
    duplicate rows a crash-replayed append leaves behind, so the store
    periodically returns to the rebuild baseline instead of accreting
    replay artifacts forever. Compaction is itself crash-safe
    (sinks/compact.py's two-generation swap + the recover_dataset call at
    the top of every admit_batch).

    ``log`` (optional callable) receives (batch_id, admitted_ids) — the
    progress surface a real ingest would ship to its metrics bus."""

    def fn(batch_df: DataFrame, batch_id: int) -> None:
        admitted = admit_batch(
            batch_df,
            store_path,
            k=k,
            band_size=band_size,
            n=n,
            min_est_jaccard=min_est_jaccard,
        )
        if compact_every is not None and (batch_id + 1) % compact_every == 0:
            import os

            from wd2sql_spark.sinks.lsh_store import compact_admission_store

            if os.path.isdir(f"{store_path}/bands"):
                compact_admission_store(batch_df.sparkSession, store_path)
        if log is not None:
            log(batch_id, admitted)

    return fn
