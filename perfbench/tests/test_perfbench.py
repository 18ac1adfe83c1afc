"""The benchmark's own tests: python3 -m pytest perfbench/tests -q

The last test runs the benchmark twice (about two minutes); the others need
no Spark session.
"""

from __future__ import annotations

import filecmp
import json
import os
import re
import subprocess
import sys

import duckdb
import pandas as pd
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import checks  # noqa: E402
import inputs  # noqa: E402
import run  # noqa: E402
import workloads  # noqa: E402

NAME = re.compile(r"[A-Za-z0-9_.-]+")


@pytest.mark.parametrize("workload", sorted(inputs.GENERATORS))
def test_same_seed_gives_identical_inputs(workload, tmp_path):
    a, b, c = (tmp_path / d for d in "abc")
    for d, seed in ((a, 7), (b, 7), (c, 8)):
        d.mkdir()
        inputs.GENERATORS[workload](str(d), seed)
    files = sorted(os.listdir(a))
    assert files and files == sorted(os.listdir(b))
    match, mismatch, errors = filecmp.cmpfiles(a, b, files, shallow=False)
    assert match == files and not mismatch and not errors
    assert inputs.GENERATORS[workload](str(a), 7) == inputs.GENERATORS[workload](str(b), 7)
    assert inputs.GENERATORS[workload](str(a), 7)["digests"] != inputs.GENERATORS[workload](str(c), 8)["digests"]


def test_metric_names_are_valid_and_match_benchmark_json():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    e2e = [m["name"] for m in spec["end_to_end"]]
    layers = [m["name"] for m in spec["per_layer"]]
    assert e2e == list(run.E2E_UNITS)
    assert layers == workloads.per_layer_names()
    assert len(set(e2e + layers)) == len(e2e + layers)
    for name in e2e + layers:
        assert NAME.fullmatch(name) and len(name) <= 64, name
    assert {m["unit"] for m in spec["end_to_end"]} <= set(run.E2E_UNITS.values())
    assert all(m["unit"] == run.layer_unit(m["name"]) for m in spec["per_layer"])


def _star_outputs(in_dir: str, out_dir: str) -> list[dict]:
    """The correct summary rows and sink, computed with DuckDB."""
    con = duckdb.connect()
    base = checks._STAR_REVENUE.format(d=in_dir)
    rows = con.execute(
        base + "SELECT segment, category, count(*) n, sum(qty) units, sum(revenue) revenue "
        "FROM j GROUP BY ALL ORDER BY segment, category"
    ).df().to_dict("records")
    sink = os.path.join(out_dir, "sales_by_region")
    con.execute(f"COPY (SELECT * FROM ({base} SELECT * FROM j)) TO '{sink}' (FORMAT parquet, PARTITION_BY (region))")
    con.close()
    return rows


def test_star_check_flags_corrupted_output(tmp_path):
    in_dir, out_dir = str(tmp_path / "in"), str(tmp_path / "out")
    os.makedirs(in_dir)
    os.makedirs(out_dir)
    inputs.star(in_dir, 3)
    rows = _star_outputs(in_dir, out_dir)
    ref = checks.star_reference(in_dir)
    assert checks.star({"ranked": rows}, out_dir, ref) == []
    bad = [dict(r) for r in rows]
    bad[0]["n"] += 1
    assert checks.star({"ranked": bad}, out_dir, ref)
    assert checks.star({"ranked": rows[::-1]}, out_dir, ref)
    part = sorted(os.listdir(os.path.join(out_dir, "sales_by_region")))[0]
    for name in os.listdir(os.path.join(out_dir, "sales_by_region", part)):
        os.remove(os.path.join(out_dir, "sales_by_region", part, name))
    assert checks.star({"ranked": rows}, out_dir, ref)


def _events_sink(in_dir: str, rate: int, end: int) -> pd.DataFrame:
    """A correct update-mode sink: one row per label per second of events."""
    table = pd.read_parquet(os.path.join(in_dir, "event_table.parquet"))
    table = table[table["props"].map(lambda p: json.loads(p)["w"]) >= 3]
    table = table.assign(label="g" + table["grp"].astype(str))
    out = []
    for sec in range(1, end + 1):
        v = pd.DataFrame({"value": range(sec * rate)})
        v["key"] = (v["value"] % inputs.EVENT_KEYS).astype(float)
        agg = v.merge(table, on="key").groupby("label")["value"].agg(
            n="count", total="sum", first_v="min", last_v="max"
        )
        out.append(agg.reset_index())
    return pd.concat(out, ignore_index=True)


def test_events_check_flags_corrupted_output(tmp_path):
    inputs.events(str(tmp_path), 5)
    sink = _events_sink(str(tmp_path), 100, 3)
    assert checks.events(sink, str(tmp_path), 100, inputs.EVENT_KEYS, [3]) == []
    assert checks.events(sink, str(tmp_path), 100, inputs.EVENT_KEYS, [2, 3]) == []
    assert checks.events(sink, str(tmp_path), 100, inputs.EVENT_KEYS, [4])
    bad = sink.copy()
    bad.loc[bad["n"].idxmax(), "total"] += 1
    assert checks.events(bad, str(tmp_path), 100, inputs.EVENT_KEYS, [3])


def test_corpus_check_flags_corrupted_output(tmp_path):
    inputs.corpus(str(tmp_path), 2)
    docs = pd.read_parquet(tmp_path / "documents.parquet")
    clean = docs[docs["doc_id"] % inputs.EVAL_MODULUS != 0].head(5)
    good = {"policy": [{"doc_id": int(d), "clean": "a short clean line"} for d in clean["doc_id"]]}
    assert checks.corpus(good, str(tmp_path), None) == []
    assert checks.corpus(good, str(tmp_path), checks.rows_digest(good)) == []
    assert checks.corpus(good, str(tmp_path), "0" * 16)
    unknown = {"policy": good["policy"] + [{"doc_id": 10**6, "clean": "x"}]}
    assert checks.corpus(unknown, str(tmp_path), None)
    eval_text = docs.loc[docs["doc_id"] == inputs.EVAL_MODULUS, "text"].iloc[0].replace(" row ", " ")
    leaked = {"policy": good["policy"] + [{"doc_id": int(clean["doc_id"].iloc[0]), "clean": eval_text}]}
    assert checks.corpus(leaked, str(tmp_path), None)


def _bench(*args: str) -> list[str]:
    proc = subprocess.run(
        [sys.executable, os.path.join(BENCH, "run.py"), *args],
        cwd=ROOT, capture_output=True, text=True, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    return proc.stdout.strip().splitlines()


def test_traced_and_untraced_print_the_same_end_to_end_names():
    common = ["--workload", "star_etl", "--seed", "4", "--seconds", "1"]
    plain, traced = _bench(*common, "--trace", "0"), _bench(*common, "--trace", "1")
    e2e = lambda lines: [ln.split()[1] for ln in lines if ln.startswith("e2e ")]  # noqa: E731
    assert e2e(plain) == e2e(traced) == list(run.E2E_UNITS)
    plain_json, traced_json = json.loads(plain[-1]), json.loads(traced[-1])
    assert plain_json["correct"] and traced_json["correct"]
    assert list(plain_json["metrics"]) == list(run.E2E_UNITS)
    assert list(traced_json["metrics"]) == workloads.per_layer_names()
