from .compact_jvm import (
    drop_state_jvm,
    run_compaction_pipeline_dual_sink_jvm,
    run_compaction_stream_jvm,
    run_retraction_stream_jvm,
    run_scd2_stream_jvm,
)
from .dedup_stream import run_dedup_stream_minhash

__all__ = [
    "drop_state_jvm",
    "run_compaction_pipeline_dual_sink_jvm",
    "run_compaction_stream_jvm",
    "run_dedup_stream_minhash",
    "run_retraction_stream_jvm",
    "run_scd2_stream_jvm",
]
