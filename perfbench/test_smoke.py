"""The benchmark's own tests: every workload end to end on tiny inputs.

    python3 -m pytest perfbench/test_smoke.py -q

Each run starts Spark once; the whole file takes a few minutes.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.path.insert(0, ROOT)

import inputs  # noqa: E402
import reference  # noqa: E402
from run import metric_units  # noqa: E402

END_TO_END, PER_LAYER = metric_units()


def run(tmp_path, *args, cwd=ROOT, script=os.path.join(HERE, "run.py")):
    return subprocess.run([sys.executable, script, *args, "--work", str(tmp_path)],
                          cwd=cwd, capture_output=True, text=True, timeout=600)


@pytest.mark.parametrize("workload", ["lake_extract", "warc_extract", "curate"])
@pytest.mark.parametrize("trace", ["0", "1"])
def test_smoke_run(tmp_path, workload, trace):
    p = run(tmp_path, "--workload", workload, "--seed", "3", "--seconds", "1",
            "--trace", trace, "--smoke")
    assert p.returncode == 0, p.stderr[-3000:]
    out = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] is True, p.stdout
    # curate rounds are two funnel passes plus the dup_clusters chain
    # call, which fails while dup_clusters stops unconverged; the tiny
    # extract inputs hold no planted corrupt payload
    assert out["failed"] * 3 == (out["attempted"] if workload == "curate" else 0)
    names = PER_LAYER if trace == "1" else END_TO_END
    assert set(out["metrics"]) == set(names)
    for k, v in out["metrics"].items():
        assert v["unit"] == names[k]
        if trace == "0":
            assert v["value"] > 0, k
    if trace == "1":
        assert os.path.exists(tmp_path / f"trace-{workload}-3.json")


def test_fails_without_the_program(tmp_path):
    """Outside a full checkout (only BENCHMARK.json and perfbench/) the
    benchmark exits non-zero without printing a result."""
    bare = tmp_path / "bare"
    shutil.copytree(HERE, bare / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    p = run(tmp_path / "work", "--workload", "curate", "--seed", "1", "--seconds", "1",
            "--trace", "0", cwd=bare, script=str(bare / "perfbench" / "run.py"))
    assert p.returncode != 0
    assert '"correct"' not in p.stdout


def test_funnel_reference_equals_the_duckdb_twin(tmp_path):
    duckdb = pytest.importorskip("duckdb")
    import __spark_entry__

    d = inputs.curate_dir(str(tmp_path), 5, 300)
    con = duckdb.connect()
    con.execute("CREATE VIEW documents AS SELECT * FROM "
                f"read_parquet('{d}/documents.parquet')")
    twin = con.execute(__spark_entry__.oracle_sql()["doc_curation_funnel"]).fetchall()
    import pyarrow.parquet as pq

    rows = pq.read_table(os.path.join(d, "documents.parquet")).to_pylist()
    assert reference.funnel(rows) == [tuple(r) for r in twin]


def test_inputs_are_a_function_of_the_seed():
    assert inputs.curate_docs(4, 200) == inputs.curate_docs(4, 200)
    assert inputs.curate_docs(4, 200) != inputs.curate_docs(5, 200)


def test_planted_corrupt_payloads_do_not_depend_on_the_seed(tmp_path):
    quota = {("corrupt_zip", False, False): 1, ("corrupt_pdf", False, False): 1,
             ("corrupt_bytes", False, False): 1, ("html", False, False): 2}
    a, b = inputs.stratified(1, quota, str(tmp_path)), inputs.stratified(2, quota, str(tmp_path))
    corrupt = [r for r in a if reference.is_planted_corrupt(r)]
    assert sorted(inputs.corrupt_kind(r["html"]) for r in corrupt) == \
        ["corrupt_bytes", "corrupt_pdf", "corrupt_zip"]
    assert corrupt == [r for r in b if reference.is_planted_corrupt(r)]
    assert [r for r in a if r not in corrupt] != [r for r in b if r not in corrupt]
