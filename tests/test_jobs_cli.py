"""Deployment-surface smoke: the jobs/ CLI entries run through REAL
``spark-submit --py-files admarus_spark.zip`` child processes from a
neutral cwd with PYTHONPATH stripped — every import must come from the
packaged zip, not the repo checkout — which is exactly how the engine
deploys on a cluster (north star / jobs/*.py docstrings; the reference
daemon is likewise a packaged long-running binary, daemon/src/main.rs).

Covers: jobs/package.py (zip build), jobs/build_index.py (build + resume
no-op re-run), jobs/search.py (single + batched, scores compared
float64-exact against the NumPy oracle), jobs/ingest.py (the crawl-loop
tick: generational append + compaction), and the session factory's
master handoff (get_spark must NOT clobber the launcher-owned
spark.master — a builder .master() here would pin cluster deployments to
a one-box local master).
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from admarus_spark.corpus import make_docs_corpus
from admarus_spark.oracle import OracleIndex

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SPARK_SUBMIT = shutil.which("spark-submit") or "/opt/spark/bin/spark-submit"
QUERIES = ["parser AND lexer", "license", "2(parser, lexer, bloom)"]

pytestmark = pytest.mark.skipif(
    not os.path.exists(SPARK_SUBMIT), reason="spark-submit not installed"
)


def _submit(zip_path: str, script: str, *args: str, cwd: str) -> list[dict]:
    """Run a jobs/ entry under spark-submit; return its JSON stdout lines.

    PYTHONPATH and the SPARK_GRAFT_MASTER override are stripped so the
    child can only import admarus_spark from the --py-files zip and must
    take its master from --master (the launcher-owned path the session
    factory has to respect)."""
    env = {
        k: v
        for k, v in os.environ.items()
        if k not in ("PYTHONPATH", "SPARK_GRAFT_MASTER", "SPARK_GRAFT_CPUS")
    }
    script_path = script if os.path.isabs(script) else os.path.join(REPO, "jobs", script)
    out = subprocess.run(
        [
            SPARK_SUBMIT,
            "--master", "local[4]",
            "--driver-memory", "3g",
            "--conf", "spark.sql.shuffle.partitions=8",
            "--py-files", zip_path,
            script_path,
            *args,
        ],
        capture_output=True,
        text=True,
        cwd=cwd,
        env=env,
        timeout=600,
    )
    assert out.returncode == 0, (out.stderr or "")[-4000:]
    rows = []
    for line in out.stdout.splitlines():
        line = line.strip()
        if line.startswith("{"):
            rows.append(json.loads(line))
    assert rows, f"no JSON output from {script}:\n{out.stdout[-2000:]}"
    return rows


def _write_parquet(pdf: pd.DataFrame, path: str) -> str:
    os.makedirs(path, exist_ok=True)
    pq.write_table(pa.Table.from_pandas(pdf), os.path.join(path, "part-0.parquet"))
    return path


@pytest.fixture(scope="module")
def cli(tmp_path_factory):
    tmp = tmp_path_factory.mktemp("jobs_cli")
    zip_path = str(tmp / "admarus_spark.zip")
    env = dict(os.environ)
    env["ADMARUS_PKG_OUT"] = zip_path
    subprocess.run(
        [sys.executable, os.path.join(REPO, "jobs", "package.py")],
        check=True,
        env=env,
        capture_output=True,
    )
    base = make_docs_corpus(150, seed=11)
    delta = make_docs_corpus(60, seed=12)
    delta["path"] = "extra/" + delta["path"]
    docs_pq = _write_parquet(base, str(tmp / "docs"))
    delta_pq = _write_parquet(delta, str(tmp / "delta"))
    return str(tmp), zip_path, base, delta, docs_pq, delta_pq


def _oracle_pathscores(pdf: pd.DataFrame, query: str):
    oracle = OracleIndex(pdf)
    opaths = {i: p for i, p in enumerate(oracle.docs["path"])}
    return sorted((opaths[i], s) for i, s in oracle.search(query, 10**6))


def test_jobs_cli_end_to_end(cli):
    tmp, zip_path, base, delta, docs_pq, delta_pq = cli
    idx = os.path.join(tmp, "index")

    # master handoff: get_spark must inherit the LAUNCHER's --master
    # (local[4] here, yarn/k8s on a cluster), not synthesize its own local
    # default — a probe script reports what the session actually got
    probe = os.path.join(tmp, "probe_master.py")
    with open(probe, "w") as f:
        f.write(
            "import json\n"
            "from admarus_spark.session import get_spark\n"
            "s = get_spark(app_name='probe')\n"
            "print(json.dumps({'master': s.sparkContext.master,\n"
            "  'shuffle': s.conf.get('spark.sql.shuffle.partitions')}))\n"
        )
    got = _submit(zip_path, probe, cwd=tmp)[-1]
    assert got["master"] == "local[4]", got
    assert got["shuffle"] == "8", got  # the --conf wins over auto-sizing

    # build
    metrics = _submit(
        zip_path, "build_index.py",
        "--docs", docs_pq, "--index", idx,
        "--buckets", "4", "--token", "cli-1",
        cwd=tmp,
    )[-1]
    assert set(metrics) == {"stage1_tokenize", "stage2_postings", "stage3_summaries"}
    assert int(metrics["stage1_tokenize"]["n_docs"]) == len(base)

    # resume: same token re-run skips every stage (checkpoint lineage) and
    # reports the SAME persisted per-stage metrics
    metrics2 = _submit(
        zip_path, "build_index.py",
        "--docs", docs_pq, "--index", idx,
        "--buckets", "4", "--token", "cli-1",
        cwd=tmp,
    )[-1]
    assert metrics2 == metrics

    # search: scores float64-exact vs the NumPy oracle (json round-trips
    # IEEE doubles losslessly)
    rows = _submit(
        zip_path, "search.py",
        "--index", idx, "--query", QUERIES[0], "--k", "1000000",
        cwd=tmp,
    )
    got = sorted((r["path"], r["score"]) for r in rows)
    assert got == _oracle_pathscores(base, QUERIES[0])

    # ingest tick: generational append + compaction, then batched search
    # against the union-corpus oracle
    out = _submit(
        zip_path, "ingest.py",
        "--delta", delta_pq, "--index", idx, "--token", "cli-d1", "--compact",
        cwd=tmp,
    )[-1]
    assert int(out["rows_new"]) == len(delta)
    assert int(out["n_docs"]) == len(base) + len(delta)
    assert "compaction" in out

    union = pd.concat([base, delta], ignore_index=True)
    batch = {f"q{i}": q for i, q in enumerate(QUERIES)}
    rows = _submit(
        zip_path, "search.py",
        "--index", idx, "--queries-json", json.dumps(batch), "--k", "1000000",
        cwd=tmp,
    )
    for i, q in enumerate(QUERIES):
        got = sorted(
            (r["path"], r["score"]) for r in rows if r["query_id"] == f"q{i}"
        )
        assert got == _oracle_pathscores(union, q), q
