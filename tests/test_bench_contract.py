"""The host calibrations in ``bench.py`` and the model-memo release that
every timing harness runs before a timed query. No Spark needed."""

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

import bench  # noqa: E402


def test_release_model_memos_clears_fit_state():
    """The driver-side fitted-model memos must be clearable so a timed
    query pays its model fit. No Spark needed — the memos are plain
    driver dicts."""
    from datafusion_streams_spark.operators import (
        clustering,
        dedup,
        release_model_memos,
    )

    clustering._KMEANS_MODEL_MEMO[("t", 1)] = ([0], [[0.0]])
    clustering._PQ_MODEL_MEMO[("t", 1)] = ({0: [0]}, {0: [[0.0]]})
    mine, other = object(), object()
    dedup._MINHASH_LABELS_MEMO["t1"] = (mine, "df1")
    dedup._MINHASH_LABELS_MEMO["t2"] = (other, "df2")
    try:
        # session-scoped: only the matching session's label handles drop;
        # the model dicts (plain floats, no session state) always clear
        release_model_memos(mine)
        assert clustering._KMEANS_MODEL_MEMO == {}
        assert clustering._PQ_MODEL_MEMO == {}
        assert "t1" not in dedup._MINHASH_LABELS_MEMO
        assert "t2" in dedup._MINHASH_LABELS_MEMO
        # None = clear everything (the harnesses pass the live session;
        # None is the defensive default)
        release_model_memos(None)
        assert dedup._MINHASH_LABELS_MEMO == {}
    finally:
        clustering._KMEANS_MODEL_MEMO.clear()
        clustering._PQ_MODEL_MEMO.clear()
        dedup._MINHASH_LABELS_MEMO.clear()


def test_calibrations_run_and_are_plausible():
    """The six denominators must execute, return strictly positive
    bounded numbers, and not leak the 256 MiB buffer. No cross-pair
    ordering assertions: calib/pcalib and mcalib/pmcalib are sampled at
    different instants, so a co-tenant burst during the single-core reps
    can inflate calib past pcalib. The denominators exist to measure
    that noise, not to be stable under it; only positivity and generous
    upper bounds are contract."""
    pcalib = bench.parallel_cpu_calibration()
    calib = bench.cpu_calibration()
    assert 0 < calib < 60
    assert 0 < pcalib < 600
    fcalib, mcalib = bench.mem_calibrations()
    pfcalib, pmcalib = bench.parallel_mem_calibrations()
    assert 0 < mcalib < 60
    assert 0 < pmcalib < 600
    assert 0 < fcalib < 600
    assert 0 < pfcalib < 600
    # the buffer global must not leak a 256 MiB array into the process
    assert bench._MEMBW_BUF is None
