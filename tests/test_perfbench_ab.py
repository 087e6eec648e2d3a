"""scripts/perfbench_ab.py's per-metric verdicts on synthetic run records
(pure Python: no Spark, no perfbench run)."""

from __future__ import annotations

import importlib.util
import os

_PATH = os.path.join(os.path.dirname(__file__), "..", "scripts", "perfbench_ab.py")


def _load():
    spec = importlib.util.spec_from_file_location("perfbench_ab", _PATH)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_summarise_verdicts(capsys):
    ab = _load()
    # metric -> (better, bound, parent values, change values), one per pair
    cases = {
        "steady": ("lower", 0.25, [10.0, 10.2, 9.9, 10.1, 10.0, 9.8],
                   [10.1, 10.0, 10.3, 9.9, 10.2, 10.0]),
        "slower": ("lower", 0.05, [10.0, 10.1, 9.9, 10.0, 10.1, 9.9],
                   [12.0, 12.1, 11.9, 12.0, 12.1, 11.9]),
        "noisy": ("higher", 0.05, [8.0, 12.0, 9.0, 11.0, 10.0, 13.0],
                  [9.0, 11.5, 8.5, 12.5, 10.5, 7.5]),
        # as noisy, but every change run beats every parent run
        "noisy_gain": ("higher", 0.05, [8.0, 12.0, 9.0, 11.0, 10.0, 13.0],
                       [20.0, 24.0, 21.0, 25.0, 22.0, 23.0]),
    }
    bench = {"end_to_end": [
        {"name": n, "better": b, "bound": bd} for n, (b, bd, _, _) in cases.items()
    ]}
    records = []
    for pair in range(6):
        for side, col in (("parent", 2), ("change", 3)):
            records.append({
                "workload": "query", "seed": pair + 1, "pair": pair,
                "side": side, "correct": True, "returncode": 0,
                "metrics": {n: {"value": c[col][pair]} for n, c in cases.items()},
            })
    verdicts = ab.summarise(records, bench)
    assert verdicts == {
        ("query", "steady"): "ok",
        ("query", "slower"): "REGRESSION",
        ("query", "noisy"): "unresolved",
        ("query", "noisy_gain"): "ok",
    }
    out = capsys.readouterr().out
    assert "6 pairs, 0 failed runs" in out
    assert "unresolved" in out and "REGRESSION" in out
