"""Self-test of the benchmark at tiny size.

    python3 -m pytest kgbench -q

Every workload runs end to end (``--trace 0``) and traced (``--trace 1``)
on a few pages; each run must print every metric BENCHMARK.json names, with
its unit, and leave no process behind. The correctness gates must fail on a
corrupted expected set, and a gate failure must make the command exit
non-zero without metrics. The runs start Spark, so the whole file takes a
few minutes."""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
TINY = {"synth_extract": 200, "news_consistent": 10, "kg_build": 200}


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        return json.load(f)


def _run(workload: str, trace: int, *, code: str | None = None):
    args = ["--workload", workload, "--seed", "7", "--seconds", "1",
            "--trace", str(trace), "--pages", str(TINY[workload])]
    if code is None:
        cmd = [sys.executable, "kgbench/run.py", *args]
    else:
        cmd = [sys.executable, "-c", code, *args]
    # its own session, so every process the run starts can be found after
    p = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE,
                         stderr=subprocess.PIPE, text=True,
                         start_new_session=True)
    out, err = p.communicate(timeout=300)
    assert _session_members(p.pid) == [], "the run left processes behind"
    return subprocess.CompletedProcess(cmd, p.returncode, out, err)


def _session_members(sid: int) -> list:
    """Pids of the processes, zombies included, in session ``sid``."""
    out = []
    for name in os.listdir("/proc"):
        try:
            with open(f"/proc/{name}/stat", encoding="ascii") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except (OSError, NotADirectoryError):
            continue
        if int(fields[3]) == sid:       # fields: state ppid pgrp session
            out.append(int(name))
    return out


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", sorted(TINY))
def test_every_metric_is_printed_with_its_unit(workload, trace):
    p = _run(workload, trace)
    assert p.returncode == 0, p.stderr[-3000:]
    result = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["attempted"] >= 1
    declared = _spec()["per_layer" if trace else "end_to_end"]
    assert set(result["metrics"]) == {m["name"] for m in declared}
    for m in declared:
        got = result["metrics"][m["name"]]
        assert got["unit"] == m["unit"], m["name"]
        assert isinstance(got["value"], (int, float)), m["name"]


def test_gate_failure_exits_nonzero_without_metrics():
    code = ("import sys; sys.path.insert(0, '.');"
            "import kgbench.workloads as w;"
            "w.check = lambda *a: ['expected set corrupted'];"
            "from kgbench.run import main; sys.exit(main(sys.argv[1:]))")
    p = _run("synth_extract", 0, code=code)
    assert p.returncode == 1
    assert "metrics" not in p.stdout
    assert "expected set corrupted" in p.stderr


def _write_rows(rows: list, path: str) -> str:
    cols = ["url", "subj", "pred", "obj", "stage", "pair_type"]
    table = pa.table({c: [r[i] for r in rows] for i, c in enumerate(cols)})
    pq.write_table(table, path)
    return path


def test_synth_gate_rejects_a_corrupted_expected_set(tmp_path):
    from eventrelationextractor_spark.datagen import synth_page

    from kgbench import oracle
    from kgbench.control import extract_doc
    lo, hi = 3_000_000, 3_000_020
    rows = []
    for d in range(lo, hi):
        page = synth_page(d)
        rows += extract_doc(page["url"], page["text"], "both", False)
    out = _write_rows(rows, str(tmp_path / "t.parquet"))
    assert oracle.check_synth_triples((lo, hi), out) == []
    assert oracle.check_synth_triples((lo + 1, hi + 1), out) != []

    labels = str(tmp_path / "labels.parquet")
    con = oracle._con((lo, hi))
    con.execute(f"COPY ({oracle._oracles()['kg_canonical_components']}) "
                f"TO '{labels}' (FORMAT parquet)")
    assert oracle.check_kg((lo, hi), labels, out, len(rows)) == []
    assert oracle.check_kg((lo, hi), labels, out, len(rows) + 1) != []
    assert oracle.check_kg((lo + 1, hi + 1), labels, out, len(rows)) != []


def test_news_gate_rejects_a_corrupted_expected_set(tmp_path):
    from eventrelationextractor_spark.fixtures import fixture_text

    from kgbench import oracle
    from kgbench.control import extract_doc
    pages = {"https://n/1": "wsj_1014", "https://n/2": "bbc_20130322_721"}
    rows = []
    for url, fixture in pages.items():
        rows += extract_doc(url, fixture_text(fixture), "both", True)
    out = _write_rows(rows, str(tmp_path / "t.parquet"))
    golden = oracle.news_expected_rows()
    assert oracle.check_news(pages, golden, out) == []
    assert oracle.check_news(pages, golden[1:], out) != []
    assert oracle.rows_equal(rows, out) == []
    assert oracle.rows_equal(rows[1:], out) != []
