"""Tests of the benchmark itself.  Run from the repository root:

    python3 -m pytest perfbench/tests -q -p no:cacheprovider

The smoke and negative tests start Spark sessions on tiny inputs (about
four minutes in all).
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import subprocess
import sys

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import gen  # noqa: E402
import oracle  # noqa: E402
import run  # noqa: E402
import workloads  # noqa: E402

SCALE = 0.02


def spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def small(w) -> None:
    """One measured pass of each kind; a traced run traces one."""
    w.min_passes = 1
    w.min_passes_traced = 2
    w.warm_rounds = 1


def flip_one_byte(stored: str) -> None:
    """Flip a byte in the middle of the longest stored encoded row."""
    for path in sorted(glob.glob(os.path.join(stored, "*.parquet"))):
        table = pq.read_table(path)
        if table.num_rows:
            break
    enc = table.column("encoded").to_pylist()
    i = max(range(len(enc)), key=lambda j: len(enc[j]))
    row = bytearray(enc[i])
    row[len(row) // 2] ^= 0xFF
    enc[i] = bytes(row)
    col = table.schema.get_field_index("encoded")
    pq.write_table(table.set_column(col, "encoded",
                                    pa.array(enc, pa.binary())), path)


# per-layer metrics that must read as non-zero: a Spark upgrade that
# renames a SQL metric or changes the status-store format fails here
LIVE_LAYERS = ("encode.python_total_ms", "encode.arrow_bytes_sent",
               "decode.arrow_bytes_received", "encode.tasks",
               "scan.files_bytes", "sink.bytes_written",
               "codec.decode_ns_per_tok", "codec.ef_decode_ns_per_posting",
               "packing.construct_s", "packing.shuffle_bytes_written",
               "packing.shuffle_records", "packing.tasks", "packing.packs",
               "decode_packs.exec_s", "staging.materialize_s",
               "index.build_s.set", "index.build_s.pos", "index.probes",
               "index.probe_exec_ms", "index.jobs_per_probe",
               "index.python_init_ms_per_probe",
               "index.rows_examined_per_result")


@pytest.mark.parametrize("workload", sorted(workloads.WORKLOADS))
def test_smoke_prints_every_metric(workload, monkeypatch):
    monkeypatch.chdir(ROOT)
    bench = spec()
    assert workload in {w["name"] for w in bench["workloads"]}
    for trace, key in ((False, "end_to_end"), (True, "per_layer")):
        res = run.run(workload, 1, 0, trace, SCALE, configure=small)
        want = {m["name"]: m["unit"] for m in bench[key]}
        assert {k: v["unit"] for k, v in res["metrics"].items()} == want
        assert res["correct"] and res["failed"] == 0 and res["attempted"] > 0
        if trace:
            for name in LIVE_LAYERS:
                assert res["metrics"][name]["value"] > 0, name
        else:
            assert res["metrics"]["success_rate"]["value"] == 1.0


def test_corrupted_stored_row_counts_as_failure(monkeypatch):
    monkeypatch.chdir(ROOT)

    def corrupt(w):
        small(w)
        w.after_write = flip_one_byte

    res = run.run("codec_longdocs", 1, 0, False, SCALE, configure=corrupt)
    assert not res["correct"] and res["failed"] > 0
    assert res["metrics"]["success_rate"]["value"] < 1.0


def test_cli_last_line_is_the_result():
    p = subprocess.run(
        [sys.executable, os.path.join(BENCH, "run.py"), "--workload",
         "codec_longdocs", "--seed", "2", "--seconds", "0", "--trace", "0",
         "--scale", str(SCALE)], cwd=ROOT, capture_output=True, text=True,
        timeout=300)
    assert p.returncode == 0, p.stderr[-2000:]
    res = json.loads(p.stdout.strip().splitlines()[-1])
    assert sorted(res) == ["attempted", "correct", "failed", "metrics"]


def test_fails_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(BENCH, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "codec_longdocs",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120)
    assert p.returncode != 0
    assert "metrics" not in p.stdout


def test_inputs_follow_the_seed():
    a, b = gen.token_corpus(3, 200, 64), gen.token_corpus(3, 200, 64)
    assert all((x == y).all() for x, y in zip(a, b))
    assert not (gen.token_corpus(4, 200, 64)[0][:50] == a[0][:50]).all()


def test_probe_mix_follows_the_seed():
    pool = gen.term_pool(gen.documents(5, 300))
    mix = gen.probe_mix(5, pool, 12)
    assert mix == gen.probe_mix(5, pool, 12)
    assert mix != gen.probe_mix(6, pool, 12)
    for block in (mix[:4], mix[4:8], mix[8:]):
        assert sorted(k for k, _ in block) == sorted(gen.PROBE_KINDS)
    assert all(len(set(t)) == gen.PROBE_ARITY[k] and set(t) <= set(pool)
               for k, t in mix)


def test_oracle_tokenizer_rule(tmp_path):
    """Split on a single space, drop empty strings; an empty string still
    takes a position, so "a  b" holds no phrase "a b"."""
    path = str(tmp_path / "documents.parquet")
    pq.write_table(pa.table({
        "doc_id": pa.array([0, 1, 2, 3], pa.int64()),
        "text": ["a b c a", "b a", "a  b", "c"]}), path)
    o = oracle.ProbeOracle(path)
    try:
        assert o.answer("intersect_terms", ("a", "b")) == \
            (3, oracle.fold([0, 1, 2]))
        assert o.answer("intersect_terms_multi", ("a", "b", "c")) == \
            (1, oracle.fold([0]))
        assert o.answer("phrase_match_terms", ("a", "b")) == \
            (1, oracle.fold([0]))
        assert o.answer("topk_and_terms", ("a", "b")) == \
            [(0, 2, 1, 3), (1, 1, 1, 2), (2, 1, 1, 2)]
    finally:
        o.close()
    assert oracle.fold([]) == 0
    assert oracle.fold([1, 2]) == 33
