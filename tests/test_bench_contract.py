"""The host calibrations in ``bench.py`` and the engine names the frozen
benchmark under ``perfbench/`` relies on. No Spark needed."""

import ast
import importlib
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

import bench  # noqa: E402


PERFBENCH = Path(__file__).resolve().parents[1] / "perfbench"
ENGINE_MODULES = ("bench", "datafusion_streams_spark")


def _perfbench_engine_imports() -> list[tuple[str, str, str]]:
    """(file, module, name) for every name a perfbench module imports
    from ``bench`` or ``datafusion_streams_spark``, at any depth of the
    file (the benchmark imports the engine inside its functions)."""
    found = []
    for path in sorted(PERFBENCH.glob("*.py")):
        for node in ast.walk(ast.parse(path.read_text(), filename=str(path))):
            if isinstance(node, ast.ImportFrom) and node.module:
                if node.module.split(".")[0] in ENGINE_MODULES:
                    found += [(path.name, node.module, a.name) for a in node.names]
            elif isinstance(node, ast.Import):
                found += [
                    (path.name, a.name, "")
                    for a in node.names
                    if a.name.split(".")[0] in ENGINE_MODULES
                ]
    return found


def test_perfbench_engine_imports_resolve():
    """The benchmark's files are frozen, so a rename or deletion in the
    engine that breaks one of its imports must fail here rather than in
    the benchmark run."""
    imports = _perfbench_engine_imports()
    modules = {m for _f, m, _n in imports}
    # the scan must see the engine imports run.py is known to make
    assert {"bench", "datafusion_streams_spark", "datafusion_streams_spark.operators"} <= modules
    missing = []
    for path, module, name in imports:
        mod = importlib.import_module(module)
        if name and not hasattr(mod, name):
            try:
                importlib.import_module(f"{module}.{name}")
            except ImportError:
                missing.append(f"{path}: from {module} import {name}")
    assert missing == []


def test_perfbench_mix_queries_are_registered():
    """Every query the benchmark's registry_mix runs is registered."""
    from datafusion_streams_spark import REGISTRY

    tree = ast.parse((PERFBENCH / "run.py").read_text())
    mix = {}
    for node in tree.body:
        if isinstance(node, ast.Assign) and len(node.targets) == 1:
            target = node.targets[0]
            if isinstance(target, ast.Name) and target.id in ("BATCH_QUERIES", "DRAIN_QUERIES"):
                mix[target.id] = ast.literal_eval(node.value)
    assert set(mix) == {"BATCH_QUERIES", "DRAIN_QUERIES"}
    names = mix["BATCH_QUERIES"] + mix["DRAIN_QUERIES"]
    assert [n for n in names if n not in REGISTRY] == []


def test_release_model_memos_is_a_noop():
    """The benchmark calls ``release_model_memos(spark)`` before every
    timed query; with no driver memo left it must still accept the
    session and return."""
    from datafusion_streams_spark.operators import release_model_memos

    assert release_model_memos(object()) is None
    assert release_model_memos() is None


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
