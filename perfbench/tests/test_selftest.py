"""The benchmark's own tests.

    python3 -m pytest perfbench/tests -q

``test_generators_are_seeded`` needs no Spark. ``test_selftest`` runs
``run.py --selftest``: every workload at tiny scale, untraced and
traced, in one Spark session (about 80 s), checking outputs, the
printed metric names and units against BENCHMARK.json, and the span
files.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench.inputs import (  # noqa: E402
    MixShape,
    TickShape,
    WideShape,
    content_hash,
    write_mix_tables,
    write_ticks,
    write_wide_tables,
)

GENERATORS = [
    (write_ticks, TickShape(instruments=4, days=10, ticks_per_day=3)),
    (write_wide_tables, WideShape(days=40, markets=12, targets=8)),
    (write_mix_tables, MixShape(customers=20, orders=50, lines_per_order=2, events=100,
                                users=5, documents=30, vectors=20)),
]


def test_generators_are_seeded(tmp_path):
    for gen, shape in GENERATORS:
        name = gen.__name__
        digests = []
        for seed, copy in ((7, "a"), (7, "b"), (8, "c")):
            d = tmp_path / f"{name}-{copy}"
            gen(str(d), seed, shape)
            digests.append(content_hash(str(d)))
        assert digests[0] == digests[1], f"{name}: same seed, different bytes"
        assert digests[0] != digests[2], f"{name}: seed ignored"


def test_wide_labels_keep_about_57_percent_of_days(tmp_path):
    import pandas as pd

    write_wide_tables(str(tmp_path), 3, WideShape(days=2000, markets=12, targets=50))
    labels = pd.read_parquet(tmp_path / "train_labels.parquet")
    kept = len(labels.dropna()) / len(labels)
    assert 0.52 < kept < 0.62
    pairs = pd.read_parquet(tmp_path / "target_pairs.parquet")
    assert pairs["pair"].is_unique and set(pairs["lag"]) == {1, 2, 3, 4}


def test_selftest():
    p = subprocess.run(
        [sys.executable, os.path.join(ROOT, "perfbench", "run.py"), "--selftest"],
        cwd=ROOT,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert p.returncode == 0, p.stdout[-3000:] + p.stderr[-3000:]
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        n_workloads = len(json.load(f)["workloads"])
    assert p.stdout.count(": ok ") == 2 * n_workloads, p.stdout
