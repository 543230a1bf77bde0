"""Self-tests of the benchmark (not of the program it measures).

    python3 -m pytest perfbench -q

The generator is deterministic per seed, every output check rejects
an output with one corrupted cell, and the printed metric names are
exactly the ones ``BENCHMARK.json`` declares. The last test runs the
benchmark itself for one short run per workload and mode (a few
minutes: each run starts Spark).
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import duckdb
import numpy as np
import pandas as pd
import pytest

import checks
import gen

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from strava_etl_public_spark import queries as Q  # noqa: E402


def _events(seed: int, ids=(0, 1)):
    ids = np.array(ids)
    return gen.activity_events(seed, ids, gen.activity_starts(seed, ids))


def test_same_seed_same_inputs_other_seed_other_inputs(tmp_path):
    a, b, c = _events(5), _events(5), _events(6)
    assert a.equals(b) and not a.equals(c)
    for seed in (5, 5, 6):
        gen.write_parquet(_events(seed), str(tmp_path / f"{seed}-{len(os.listdir(tmp_path))}.parquet"))
    blobs = sorted((p.name, p.read_bytes()) for p in tmp_path.iterdir())
    assert blobs[0][1] == blobs[1][1] and blobs[0][1] != blobs[2][1]
    d1, s1 = gen.documents(5, 300)
    d2, s2 = gen.documents(5, 300)
    d3, _ = gen.documents(6, 300)
    assert d1.equals(d2) and s1 == s2 and not d1.equals(d3)


def test_generated_activities_fill_every_reference_window():
    st = gen.events_stats(_events(3, ids=range(6)))
    ev = _events(3, ids=range(6)).to_pandas()
    ticks = (1 + ev.event_id % 3).groupby(ev.user_id).sum()
    assert ticks.min() > 1200 and st["activities"] == 6
    assert 0 < st["gap_share_of_dense_ticks"] < 0.5


def _oracle(sql: str, **tables) -> pd.DataFrame:
    con = duckdb.connect()
    try:
        for name, t in tables.items():
            con.register(name, t)
        return con.execute(sql).fetch_df()
    finally:
        con.close()


def _corrupt(df: pd.DataFrame, col: str) -> pd.DataFrame:
    out = df.copy()
    v = out.at[0, col]
    out.at[0, col] = (not v) if isinstance(v, (bool, np.bool_)) else v + 1
    return out


@pytest.fixture(scope="module")
def e2e_oracle():
    return _oracle(Q.ORACLES["x_pipeline_activity_e2e"], events=_events(9))


def test_activity_check_rejects_one_corrupted_cell(e2e_oracle):
    assert checks.diff_cells(e2e_oracle.copy(), e2e_oracle, ["activity_id"]) == 0
    for col in ("n_samples", "max_watts_1200", "first_hr"):
        assert checks.diff_cells(_corrupt(e2e_oracle, col), e2e_oracle, ["activity_id"]) == 1
    assert checks.diff_cells(e2e_oracle.iloc[1:], e2e_oracle, ["activity_id"]) > 0


def test_ingest_invariants_reject_one_corrupted_cell():
    table = pd.DataFrame(
        {"activity_id": [0, 1, 2], "n_samples": [10, 20, 30], "streams_len": [10, 20, 30]}
    )
    assert checks.ingest_invariants(table, [0, 1, 2], 99, 99) == []
    for col in ("activity_id", "n_samples", "streams_len"):
        assert checks.ingest_invariants(_corrupt(table, col), [0, 1, 2], 99, 99)
    assert checks.ingest_invariants(table, [0, 1, 2], 99, 98)


@pytest.fixture(scope="module")
def corpus():
    docs, _ = gen.documents(4, 200)
    return docs


def test_curation_checks_reject_one_corrupted_cell(corpus):
    for name, key in (("x_pipeline_corpus_filter", ["doc_id"]), ("x_dedup_minhash_lsh", ["doc_a", "doc_b"])):
        sql = Q.ORACLES.get(name) or Q.EXTRA_ORACLES[name]
        want = _oracle(sql, documents=corpus)
        assert len(want) > 0, name
        assert checks.diff_cells(want.copy(), want, key) == 0
        col = [c for c in want.columns if c not in key][0]
        assert checks.diff_cells(_corrupt(want, col), want, key) == 1, name
    keep = _oracle(Q.EXTRA_ORACLES["x_pipeline_corpus_filter"], documents=corpus)
    docs = corpus.to_pandas()
    kept = docs[docs.doc_id.isin(keep.doc_id[keep.keep.astype(bool)])]
    n, chars = len(kept), int(kept.n_chars.sum())
    assert checks.curated_read_errors(n, chars, keep, docs) == []
    assert checks.curated_read_errors(n, chars + 1, keep, docs)
    assert checks.curated_read_errors(n, chars, _corrupt(keep, "keep"), docs)


def _bench():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_exits_nonzero_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    p = subprocess.run(
        [*_bench()["command"], "--workload", "activity_ingest", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180,
    )
    assert p.returncode != 0
    assert '"metrics"' not in p.stdout


@pytest.mark.parametrize("trace", [0, 1])
def test_printed_metrics_are_declared(trace):
    bench = _bench()
    declared = {m["name"]: m["unit"] for m in bench["end_to_end" if trace == 0 else "per_layer"]}
    for w in bench["workloads"]:
        p = subprocess.run(
            [*bench["command"], "--workload", w["name"], "--seed", "1", "--seconds", "1",
             "--trace", str(trace)],
            cwd=ROOT, capture_output=True, text=True, timeout=300,
        )
        assert p.returncode == 0, p.stderr[-2000:]
        out = json.loads(p.stdout.strip().splitlines()[-1])
        assert set(out) == {"correct", "attempted", "failed", "metrics"}
        assert out["correct"] and out["failed"] == 0 and out["attempted"] >= 1
        assert {n: m["unit"] for n, m in out["metrics"].items()} == declared
