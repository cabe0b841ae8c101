"""Tests of the benchmark itself (not of the engine).

    python3 -m pytest perfbench/tests -q

The smoke tests launch one Spark JVM per run on an sf0.001 warehouse and
take a few minutes in total.
"""

from __future__ import annotations

import hashlib
import json
import subprocess
import sys
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent
BENCH = HERE.parent
ROOT = BENCH.parent
sys.path.insert(0, str(BENCH))

import checks  # noqa: E402
import inputs  # noqa: E402

SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())


@pytest.fixture(scope="module")
def warehouse(tmp_path_factory):
    return inputs.ensure_warehouse(tmp_path_factory.mktemp("work"), 0.001)


def digest(obj) -> str:
    """Digest of generated inputs: a file's bytes or query texts."""
    h = hashlib.sha256()
    h.update(obj.read_bytes() if isinstance(obj, Path)
             else json.dumps(obj).encode())
    return h.hexdigest()


def _texts(ops):
    return [op.sparql for op in ops]


def test_warehouse_is_reproducible(warehouse, tmp_path):
    again = inputs.ensure_warehouse(tmp_path, 0.001)
    for f in sorted(warehouse.glob("*.parquet")):
        assert digest(f) == digest(again / f.name), f.name


def test_query_inputs_follow_the_seed():
    a = [_texts(c) for c in inputs.endpoint_cycles(7, "timed", 3, 0.1)]
    b = [_texts(c) for c in inputs.endpoint_cycles(7, "timed", 3, 0.1)]
    c = [_texts(c) for c in inputs.endpoint_cycles(8, "timed", 3, 0.1)]
    w = [_texts(c) for c in inputs.endpoint_cycles(7, "warmup", 3, 0.1)]
    assert digest(a) == digest(b)
    assert digest(a) != digest(c)
    assert digest(a) != digest(w)
    e1 = _texts(inputs.export_ops(7, "timed", 5))
    assert e1 == _texts(inputs.export_ops(7, "timed", 5))
    assert e1 != _texts(inputs.export_ops(8, "timed", 5))


def test_dedup_inputs_follow_the_seed(warehouse, tmp_path):
    def files(seed, sub):
        d = inputs.dedup_inputs(warehouse, tmp_path / sub, seed, "timed",
                                3, 20)
        return [digest(p) for p in [d.corpus_path, *d.batch_paths]], d

    a, da = files(5, "a")
    b, _ = files(5, "b")
    c, _ = files(6, "c")
    assert a == b
    assert a[0] != c[0] and a[1:] != c[1:]
    for planted in da.planted:
        assert planted
        for new_id, src in planted:
            assert inputs.jaccard(da.texts[new_id], da.texts[src]) \
                >= inputs.PLANT_MIN_JACCARD


def _duck(warehouse):
    import duckdb
    con = duckdb.connect()
    for t in inputs.table_sizes(0.001):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"'{warehouse / (t + '.parquet')}'")
    return con


def _answer(op, con) -> bytes:
    """A correct SPARQL-JSON response built from the oracle's rows."""
    rows = []
    for rec in con.execute(op.oracle).fetchall():
        row = {}
        for var, v in zip(op.types, rec):
            if v is None:
                continue
            kind = op.types[var]
            if kind == "iri":
                row[var] = {"type": "uri", "value": v}
            elif kind == "dt":
                row[var] = {"type": "literal", "value": v.isoformat()}
            else:
                row[var] = {"type": "literal", "value": str(v)}
        rows.append(row)
    return json.dumps({"head": {"vars": list(op.types)},
                       "results": {"bindings": rows}}).encode()


def test_output_check_catches_planted_wrong_responses(warehouse):
    con = _duck(warehouse)
    ctype = checks.JSON_CTYPE + "; charset=utf-8"
    ops = [op for op in inputs.endpoint_cycles(3, "timed", 1, 0.001)[0]
           if op.template in ("q1_pricing_summary", "explore_q11")]
    for op in ops:
        good = _answer(op, con)
        assert checks.check_sparql(op, 200, ctype, good, con) is None
        doc = json.loads(good)
        first = doc["results"]["bindings"][0]
        var = next(iter(first))

        wrong_value = json.loads(good)
        wrong_value["results"]["bindings"][0][var]["value"] += "9"
        null_value = json.loads(good)
        null_value["results"]["bindings"][0][var]["value"] = None
        missing_row = json.loads(good)
        missing_row["results"]["bindings"].pop()
        for bad in (wrong_value, null_value, missing_row):
            assert checks.check_sparql(op, 200, ctype,
                                       json.dumps(bad).encode(), con)
        assert checks.check_sparql(op, 500, "text/plain", b"boom", con)
        assert checks.check_sparql(op, 200, "text/csv", good, con)


def test_pair_check_catches_wrong_pairs():
    texts = {1: "a b c d e f", 2: "a b c d e g", 3: "x y z"}
    j = inputs.jaccard(texts[1], texts[2])
    assert checks.check_pairs([(1, 2, j)], texts, 0.5) is None
    assert checks.check_pairs([(1, 3, 0.9)], texts, 0.5)
    assert checks.check_pairs([(1, 2, j + 0.1)], texts, 0.5)
    assert checks.check_pairs([(1, 2, j), (1, 2, j)], texts, 0.5)


def test_planted_check_catches_missing_pairs():
    words = [f"w{i}" for i in range(40)]
    texts, planted = {}, []
    for b in range(2):
        want = set()
        for j in range(8):
            src, new = 100 * b + j, 1000 + 100 * b + j
            texts[src] = " ".join(words[j:j + 30])
            texts[new] = texts[src] + " tail"
            want.add((new, src))
        planted.append(want)
    assert checks.check_planted(planted, planted, texts, 2, 4) == [None] * 2
    # a pair at Jaccard 29/30 shares no band with chance about 2e-5, so
    # one miss in the run is allowed and eight are not
    one = [planted[0] - {min(planted[0])}, planted[1]]
    assert checks.check_planted(one, planted, texts, 2, 4) == [None] * 2
    none = checks.check_planted([set(), planted[1]], planted, texts, 2, 4)
    assert none[0] and none[1] is None


def test_miss_allowance_is_a_poisson_tail():
    assert checks.miss_allowance(0.0) == 0
    assert checks.miss_allowance(1.0) == 9
    assert checks.miss_allowance(20.0) > 20


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
@pytest.mark.parametrize("trace", [0, 1])
def test_smoke_prints_every_metric(workload, trace):
    p = subprocess.run(
        [sys.executable, str(BENCH / "run.py"), "--workload", workload,
         "--seed", "1", "--seconds", "1", "--trace", str(trace),
         "--sf", "0.001"],
        cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert p.returncode == 0, p.stderr[-3000:]
    result = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["attempted"] >= 1
    assert result["correct"] and result["failed"] == 0, p.stdout[-3000:]
    want = SPEC["per_layer"] if trace else SPEC["end_to_end"]
    assert {m["name"]: m["unit"] for m in want} == \
        {k: v["unit"] for k, v in result["metrics"].items()}
    for m in want:
        assert m["name"] in p.stdout


def test_refuses_to_run_without_the_engine(tmp_path):
    (tmp_path / "perfbench").mkdir()
    for f in BENCH.glob("*.py"):
        (tmp_path / "perfbench" / f.name).write_text(f.read_text())
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "dedup",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120)
    assert p.returncode != 0
    assert '"metrics"' not in p.stdout
