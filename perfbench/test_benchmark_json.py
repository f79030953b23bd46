"""Self-test: the metrics the benchmark prints are the ones BENCHMARK.json
declares, with the same units. Needs no Spark session.

    python3 -m pytest perfbench/test_benchmark_json.py -q
"""

from __future__ import annotations

import json
import os
import sys
from types import SimpleNamespace

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from metrics import END_TO_END, PER_LAYER, REPORTED  # noqa: E402
from run import WARM_PASSES, Runner, Sample  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
    BENCH = json.load(fh)


def declared(section: str) -> dict[str, tuple[str, str]]:
    return {m["name"]: (m["unit"], m["better"]) for m in BENCH[section]}


def test_declared_metrics_match_the_code():
    assert declared("end_to_end") == END_TO_END
    assert declared("per_layer") == {k: v[:2] for k, v in PER_LAYER.items()}
    assert {w["name"] for w in BENCH["workloads"]} == set(WORKLOADS)
    assert BENCH["command"] == ["python3", "perfbench/run.py"] and BENCH["paths"] == ["perfbench"]


def test_every_layer_metric_maps_to_a_printed_metric_on_a_real_workload():
    for name, (_, _, moves, workloads) in PER_LAYER.items():
        assert moves in END_TO_END or moves in REPORTED, name
        assert set(workloads) <= set(WORKLOADS), name


def fake_runner(workload: str, trace: int) -> Runner:
    """A runner holding a warm pass and two measured passes of synthetic
    samples; the second measured pass is traced when ``trace`` is set."""
    warm, m1, m2 = 0, WARM_PASSES, WARM_PASSES + 1
    wl = WORKLOADS[workload].__new__(WORKLOADS[workload])
    kinds = ["topk", "query", "query"] if workload == "corpus_dedup" else ["apply", "read", "lookup", "compact"]
    names = ["ivf_topk", "dedup_ngram_jaccard", "dedup_exact"] if workload == "corpus_dedup" else kinds
    stats = dict.fromkeys(["jobs", "stages", "eager_jobs", "tasks", "executor_run_ms", "executor_cpu_ns", "gc_ms",
                           "shuffle_write_bytes", "shuffle_read_bytes", "shuffle_write_records", "spill_bytes",
                           "peak_exec_mem_bytes", "input_bytes"], 1.0)
    r = Runner.__new__(Runner)
    r.args = SimpleNamespace(workload=workload, trace=trace)
    r.wl, r.cores, r.failures, r.attempted = wl, 4, 0, 10
    r.setup_s, r.session_build_s, r.peak_rss, r.nominal_rows = 2.0, 1.0, 2**30, 100
    r.samples = [
        Sample(n, k, p, traced=bool(trace and p == m2), build_s=0.1, exec_s=0.2, rows=3, stats=stats)
        for p in (warm, m1, m2) for n, k in zip(names, kinds)
    ]
    r.pass_walls = {p: (bool(trace and p == m2), 0.9) for p in (warm, m1, m2)}
    r.setup_stolen = 0.0
    if workload == "keyed_cdc":
        wl.per_pass = {p: dict(bytes=2, files=1, batch_bytes=1, pending=2, table_bytes=3) for p in (warm, m1, m2)}
        wl.end_bytes, wl.live_bytes = 3, 1
    return r


def test_printed_metric_names_and_units_match_benchmark_json():
    for workload in WORKLOADS:
        e2e = fake_runner(workload, trace=0).end_to_end()
        assert {k: v["unit"] for k, v in e2e.items()} == {k: u for k, (u, _) in declared("end_to_end").items()}
        layers = fake_runner(workload, trace=1).trace_metrics()
        assert {k: v["unit"] for k, v in layers.items()} == {k: u for k, (u, _) in declared("per_layer").items()}
        assert all(isinstance(v["value"], float) for v in {**e2e, **layers}.values())


def test_one_seed_gives_one_input_digest(tmp_path):
    from datagen import digest

    for name, workload in WORKLOADS.items():
        digests = []
        for seed, sub in ((7, "a"), (7, "b"), (8, "c")):
            d = tmp_path / f"{name}-{sub}"
            d.mkdir()
            digests.append(digest(workload(None, seed, str(d)).inputs().files))
        assert digests[0] == digests[1] != digests[2], name
