from .pipeline_stream import (
    minhash_signature_stream_writer,
    read_stream_lsh_pairs,
    read_stream_lsh_pairs_since,
    streaming_exact_dedup,
    streaming_sample_fraction,
    streaming_sample_split,
)
from .joins import (
    streaming_interval_join,
)
from .stream_agg import (
    compact_stream_state,
    read_stream_digests,
    read_stream_sketches,
    read_windowed_digests,
    sketch_stream_writer,
    tdigest_stateful_stream,
    tdigest_stream_writer,
    tdigest_windowed_stream_writer,
)

__all__ = [
    "compact_stream_state",
    "minhash_signature_stream_writer",
    "read_stream_digests",
    "read_stream_lsh_pairs",
    "read_stream_lsh_pairs_since",
    "read_stream_sketches",
    "read_windowed_digests",
    "sketch_stream_writer",
    "streaming_exact_dedup",
    "streaming_interval_join",
    "streaming_sample_fraction",
    "streaming_sample_split",
    "tdigest_stateful_stream",
    "tdigest_stream_writer",
    "tdigest_windowed_stream_writer",
]
