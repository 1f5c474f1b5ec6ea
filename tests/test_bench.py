"""bench.py: the printed-line budget, the ``contended`` derivation, and
the per-span Spark counters that land in the side file."""

from __future__ import annotations

import importlib.util
import json
import os
import sys

import pytest

_BENCH = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                      "bench.py")


def _load_bench():
    spec = importlib.util.spec_from_file_location("bench", _BENCH)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _main(bench, monkeypatch, capsys, side, argv=()):
    monkeypatch.setenv("SPARK_GRAFT_BENCH_SIDE", str(side))
    monkeypatch.setattr(sys, "argv", ["bench.py", *argv])
    bench.main()
    out = capsys.readouterr().out.strip().splitlines()
    assert len(out) == 1, "bench must print exactly ONE JSON line"
    return out[0], json.loads(side.read_text())


_HEADLINE = ["g1_groupby_agg", "j1_inner_equi", "j3_broadcast",
             "l13_contamination_overlap", "l14_bm25", "l15_dedup_clusters",
             "l1_exact_dedup", "l2_minhash_neardup", "l3_cosine_topk",
             "l4_text_stats", "o1_global_sort", "p2_filter",
             "q18_large_volume_customer", "q3_shipping_priority",
             "q5_local_supplier_volume", "q6_forecast_revenue",
             "s1_parquet_scan", "t2_tumbling_window", "w4_topk_per_group"]
_OPS = ["jh8_employer_resolution", "s17_compaction_invariance",
        "s19_manifest_pruned_scan", "jh11_day0_resolve", "jh11_batch_apply",
        "jh12_bootstrap", "jh12_apply"]


def test_line_fits_driver_tail_capture_with_jh12_keys(monkeypatch, capsys, tmp_path):
    """The driver parses only the last ~2,000 B of stdout (BENCH_r13
    recorded parsed:null when the line overflowed). With full-sized
    payloads — every headline and ops key, long scalars — the printed
    line stays under 1,800 B, and the per-query dicts other than the
    walls reach only the side file."""
    bench = _load_bench()
    row = {"wall_s": 1.2345, **{k: 123.456 for k in bench.COUNTERS}}
    line = {
        "metric": "headline_query_wall_clock_total", "value": 123.4567,
        "unit": "sec", "queries": {n: 12.3456 for n in _HEADLINE},
        "repeat": 3, "sf": 0.1, "load_avg_before": 16.73,
        "load_avg_5m": 15.12, "load_avg_15m": 16.73, "run_s": 1234.5,
        "steal_s": 123.45, "cpu_pressure_s": 1234.56,
        "contended": True, "stream_floor_sec": 0.9123,
        "ops_queries": {n: 45.6789 for n in _OPS}, "ops_total": 319.7523,
    }
    detail = {"cpu_sec": {n: 0.0456 for n in _HEADLINE},
              "ops_cpu_sec": {n: 0.1234 for n in _OPS},
              "counters": {n: [{**row, "build": row, "write": row}] * 2
                           for n in _HEADLINE + _OPS}}
    monkeypatch.setattr(bench, "_measure", lambda args: (dict(line), detail))
    printed, side = _main(bench, monkeypatch, capsys, tmp_path / "side.json")
    assert len(printed) < 1800, f"printed line {len(printed)}B >= 1800B budget"
    assert json.loads(printed) == line
    assert side == {**line, **detail}


def test_contended_from_load_steal_and_pressure():
    bench = _load_bench()
    steal, pressure = bench._STEAL_FLOOR, bench._PRESSURE_FLOOR

    def flag(load=0.5, steal_s=0.0, pressure_s=0.0, cores=4, cpus=4):
        return bench._contended(load, steal_s, pressure_s, 100.0, cores, cpus)

    # idle: load up to the cores, steal and pressure under their floors
    assert not flag()
    assert not flag(load=4.0, steal_s=0.9 * steal * 400,
                    pressure_s=0.9 * pressure * 100)
    # other tenants' load above the cores Spark runs on
    assert flag(load=4.1)
    assert not flag(load=4.1, cores=8, cpus=8)
    # steal above the floor of the guest's CPU time; steal sums over
    # every guest CPU, so the same seconds on a wider guest are less
    assert flag(steal_s=1.1 * steal * 400)
    assert not flag(steal_s=1.1 * steal * 400, cpus=8)
    # tasks in the guest waiting for a CPU beyond the floor
    assert flag(pressure_s=1.1 * pressure * 100)
    # a kernel without PSI leaves the other two readings
    assert not flag(pressure_s=None)
    assert flag(load=4.1, pressure_s=None)


@pytest.mark.usefixtures("spark")
def test_counters_repeat_exactly_and_land_in_side_file(
    monkeypatch, capsys, tmp_path, sf_dir
):
    """One real pass at sf0.001 over three headline queries: every query
    carries a build/write split and the host's steal time per repeat,
    and the structural counters of the warm repeats (2 and 3) are
    identical."""
    bench = _load_bench()
    keep = ["g1_groupby_agg", "j1_inner_equi", "o1_global_sort"]
    skip = ",".join(n for n in _HEADLINE if n not in keep)
    _, side = _main(bench, monkeypatch, capsys, tmp_path / "side.json",
                    ["--sf-dir", sf_dir, "--skip", skip, "--no-ops-section"])
    assert sorted(side["queries"]) == keep
    assert sorted(side["counters"]) == keep and sorted(side["cpu_sec"]) == keep
    for name in keep:
        r2, r3 = side["counters"][name]
        for span in (r2, r3):
            assert set(bench.COUNTERS) <= set(span)
            assert set(bench.COUNTERS) <= set(span["build"])
            assert set(bench.COUNTERS) <= set(span["write"])
            assert span["write"]["jobs"] >= 1 and span["tasks"] >= 1
            assert span["failed_tasks"] == 0
            assert span["steal_s"] >= 0
        for k in ("jobs", "stages", "tasks"):
            assert r2[k] == r3[k], (name, k, r2, r3)
            assert r2["build"][k] == r3["build"][k], (name, "build", k)
            assert r2["write"][k] == r3["write"][k], (name, "write", k)
