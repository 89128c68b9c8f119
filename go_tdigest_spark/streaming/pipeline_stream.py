"""Structured Streaming surface for the training-data pipeline family
(dedup + sampling) — the streaming counterpart of operators/dedup.py and
operators/sample.py.

Three shapes, chosen per operator by what state the semantics need:

  - **Stateless map** (sampling): membership is a pure function of the
    key's content hash, so the batch operator runs unchanged on a
    streaming DataFrame and the stream's cumulative output is
    bit-identical to the batch operator over the same rows.  No state,
    no watermark, exactly-once for free.
  - **Engine-managed keyed state** (exact dedup): Spark's streaming
    ``dropDuplicates`` keeps one state row per key.  Unbounded over an
    infinite stream — production deployments bound it with an event-time
    watermark (``dropDuplicatesWithinWatermark``), trading "dedup across
    all history" for "dedup within the lateness window", the standard
    contract for append-only ingest dedup.
  - **Append state, join on read** (near-dup / MinHash-LSH): signatures
    are computed once per document per trigger and appended to a parquet
    state table (the same exactly-once per-batch-overwrite machinery as
    every sketch stream, stream_agg.py); candidate pairs come from
    the identical banded bucket join as the batch path, run at read
    time over all committed signatures.  Signature computation — the
    expensive text-shingling stage — is incremental; the cheap
    ids+bands join is recomputed on read, which is the right trade
    because candidates across OLD x NEW documents are exactly what an
    incremental near-dup job must produce and a per-trigger join would
    need the full history bucketed in executor state anyway.  Readers
    that track a batch high-water mark can skip even the old x old
    re-join: ``read_stream_lsh_pairs_since`` returns only the pairs
    introduced since a given batch (new-self ∪ new-vs-index).

The mergeable-sketch streams (t-digest and the other sketches) live in
stream_agg.py; this module is the document-pipeline side.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame, SparkSession

from ..operators.dedup import lsh_pairs_from_sigs, minhash_signatures
from ..operators.sample import sample_fraction
from .stream_agg import read_committed_partials, sketch_stream_writer


def streaming_exact_dedup(
    stream_df: DataFrame,
    keys: Sequence[str],
    ts_col: str | None = None,
    watermark_delay: str | None = None,
) -> DataFrame:
    """Exact streaming dedup on ``keys``: emit the first row seen per
    key, drop the rest.  Returns a streaming DataFrame to
    ``writeStream`` in append mode.

    Without a watermark this keeps one state row per distinct key
    forever — correct, but state grows with key cardinality; use it for
    bounded key domains or replay-style jobs.  With ``ts_col`` +
    ``watermark_delay`` (e.g. ``"10 minutes"``) it switches to
    ``dropDuplicatesWithinWatermark``: duplicates arriving within the
    lateness window are dropped and state older than the watermark is
    evicted, so state is O(keys-per-window) — the production shape for
    infinite ingest streams.
    """
    keys = list(keys)
    if (ts_col is None) != (watermark_delay is None):
        raise ValueError(
            "ts_col and watermark_delay must be given together"
        )
    if ts_col is not None:
        return stream_df.withWatermark(
            ts_col, watermark_delay
        ).dropDuplicatesWithinWatermark(keys)
    return stream_df.dropDuplicates(keys)


def streaming_sample_fraction(
    stream_df: DataFrame,
    key_col: str,
    fraction: float,
    seed: int = 1,
) -> DataFrame:
    """Deterministic ~``fraction`` sample of a stream.

    Delegates to the batch operator (operators/sample.py) unchanged:
    the seeded content hash makes membership a pure per-row function,
    so the operator is stateless and the cumulative stream output
    equals ``sample_fraction`` over the union of all triggers — the
    property that lets a backfill (batch) and the live stream produce
    one consistent sample.  Duplicate keys are kept or dropped together
    across the entire stream, no coordination required.
    """
    return sample_fraction(stream_df, key_col, fraction, seed)


def streaming_sample_split(
    stream_df: DataFrame,
    key_col: str,
    weights: dict[str, float],
    seed: int = 1,
    split_col: str = "split",
) -> DataFrame:
    """Deterministic named split (train/val/test...) of a stream.

    Delegates to the batch operator unchanged — split membership is a
    pure per-row function of the seeded key hash, so the operator is
    stateless and every row lands in the same split whether it arrives
    via backfill or live triggers.  New data never moves old rows
    between splits, which is precisely the held-out-set stability
    guarantee a streaming ingest needs.
    """
    from ..operators.sample import sample_split

    return sample_split(stream_df, key_col, weights, seed, split_col)


def minhash_signature_stream_writer(
    stream_df: DataFrame,
    text_col: str,
    id_col: str,
    state_path: str,
    checkpoint_path: str,
    n: int = 2,
    n_hashes: int = 16,
    seed: int = 7,
):
    """Returns a DataStreamWriter maintaining an append-only MinHash
    signature state table; start with ``.start()`` /
    ``.trigger(availableNow=True)``.

    Each micro-batch signs ONLY its own documents (minhash_signatures —
    the vectorized mapInArrow kernel), so each document's text is
    shingled exactly once over the stream's lifetime.  State is
    O(docs x n_hashes x 8) bytes in object storage, not executor memory.
    Delegates to the generic append-partials writer
    (``stream_agg.sketch_stream_writer``) — ONE copy of the exactly-once
    per-batch-overwrite machinery serves every state table.
    """
    return sketch_stream_writer(
        stream_df,
        lambda b: minhash_signatures(b, text_col, id_col, n, n_hashes, seed),
        state_path,
        checkpoint_path,
    )


def read_stream_lsh_pairs(
    spark: SparkSession,
    state_path: str,
    n_hashes: int = 16,
    bands: int = 4,
    threshold: float = 0.5,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Candidate near-duplicate pairs over every document signed so far
    (committed batches only — _SUCCESS-gated, like every state reader).

    Runs the IDENTICAL banded-bucket-join plan as the batch
    ``minhash_lsh_pairs`` (lsh_pairs_from_sigs), so old x new candidate
    pairs appear as soon as the new document's signature commits.  A doc
    id re-ingested in a later trigger resolves LATEST-WINS (max_by on
    the state table's batch_id lineage column — deterministic, unlike a
    dropDuplicates pick), which handles edited re-ingests; within one
    trigger doc ids must be unique (the usual id contract).
    """
    from pyspark.sql import functions as F

    sigs, _ = read_committed_partials(
        spark, state_path, ["doc", "sig", "batch_id"], count_units=False
    )
    latest = sigs.groupBy("doc").agg(
        F.max_by("sig", "batch_id").alias("sig")
    )
    # persist_sigs=False: each call builds a fresh snapshot DataFrame, so
    # a persist here would leak one cached table per trigger; the max_by
    # groupBy already ends in an Exchange, which Spark's reuse machinery
    # shares across the self-join sides.
    return lsh_pairs_from_sigs(
        latest, n_hashes, bands, threshold, max_bucket_size,
        persist_sigs=False,
    )


def read_stream_lsh_pairs_since(
    spark: SparkSession,
    state_path: str,
    since_batch_id: int,
    n_hashes: int = 16,
    bands: int = 4,
    threshold: float = 0.5,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Only the candidate pairs INTRODUCED since ``since_batch_id`` —
    the incremental consumption shape: a reader that processed the state
    through batch B asks for pairs it has not seen, instead of
    re-receiving (and the engine re-computing) the full old x old
    self-join every trigger.

    Semantics: with ``new`` = docs whose latest-wins signature landed in
    a batch > ``since_batch_id`` and ``old`` = the rest,

        pairs(all) = pairs(old self) ∪ pairs(new self) ∪ pairs(new x old)

    and this reader returns the last two terms: exactly
    ``read_stream_lsh_pairs(state)`` minus the pairs already derivable
    from the old-only state (a re-ingested doc counts as NEW — its
    signature may have changed, so its pairs must be re-emitted).  The
    cross term runs :func:`~..operators.dedup.lsh_pairs_vs_index` — the
    old corpus is banded but never self-joined, so per-trigger work is
    O(new bands + matching old buckets), not O(state²).  Orientation:
    new-self pairs are (doc_a < doc_b); cross pairs are (doc_a = new,
    doc_b = old).

    ``since_batch_id``: the ``batch_id`` high-water mark of the reader's
    previous snapshot (-1 for "everything").  ``max_bucket_size`` caps
    the OLD side's buckets (the state-sized relation), matching the
    batch operator's contract.
    """
    from pyspark.sql import functions as F

    from ..operators.dedup import lsh_pairs_vs_index

    sigs, _ = read_committed_partials(
        spark, state_path, ["doc", "sig", "batch_id"], count_units=False
    )
    latest = sigs.groupBy("doc").agg(
        F.max_by("sig", "batch_id").alias("sig"),
        F.max("batch_id").alias("_last_batch"),
    )
    new = latest.where(F.col("_last_batch") > since_batch_id).select(
        "doc", "sig"
    )
    old = latest.where(F.col("_last_batch") <= since_batch_id).select(
        "doc", "sig"
    )
    # persist=False on both arms: fresh snapshot DataFrames per trigger
    # (a persist here leaks one cached table per call — same reasoning
    # as read_stream_lsh_pairs); the max_by groupBy ends in an Exchange
    # that Spark's reuse machinery shares across the join sides.
    self_new = lsh_pairs_from_sigs(
        new, n_hashes, bands, threshold, max_bucket_size,
        persist_sigs=False,
    ).select("doc_a", "doc_b", "est_jaccard")
    cross = lsh_pairs_vs_index(
        new, old, n_hashes, bands, threshold, max_bucket_size,
        persist=False,
    ).select(
        F.col("doc_new").alias("doc_a"),
        F.col("doc_idx").alias("doc_b"),
        "est_jaccard",
    )
    return self_new.unionByName(cross)
