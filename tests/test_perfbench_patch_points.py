"""The benchmark's per-layer tracer (``perfbench/tracing.py``) replaces
pipeline entry points by name.  A rename of any of them breaks
``perfbench/run.py --trace 1``; this test catches it without a Spark
session: every patch point must install, and uninstall must restore the
originals."""

import os
import sys

sys.path.append(
    os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "perfbench")
)

import tracing  # noqa: E402

from valor_spark.plans import pipeline as P  # noqa: E402
from valor_spark.plans.checkpoint import RunManifest  # noqa: E402

PATCHED = [
    (P, "shard_fingerprint_frame"),
    (P, "_per_shard_metrics"),
    (P, "validate"),
    (P, "with_audio_invariant"),
    (RunManifest, "read_violations"),
    (RunManifest, "write_violations"),
    (RunManifest, "append"),
]


def test_patcher_installs_and_restores_originals():
    originals = [getattr(owner, name) for owner, name in PATCHED]
    patcher = tracing.Patcher()
    patcher.install()
    try:
        for (owner, name), orig in zip(PATCHED, originals):
            assert getattr(owner, name) is not orig, name
    finally:
        patcher.uninstall()
    for (owner, name), orig in zip(PATCHED, originals):
        assert getattr(owner, name) is orig, name


def test_stages_call_patch_points_through_module_globals():
    """A wrapper installed on the module only takes effect where the stage
    code looks the name up as a module global at call time."""
    assert {"validate", "_per_shard_metrics"} <= set(P._sharded_stage.__code__.co_names)
    assert "shard_fingerprint_frame" in P.run_pipeline.__code__.co_names
