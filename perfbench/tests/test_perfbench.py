"""Self-tests of the benchmark: python3 -m pytest perfbench/tests -q

The smoke tests start Spark through ``run.main`` (one fresh JVM per run),
so the whole file takes a few minutes.
"""

from __future__ import annotations

import json
import os
import sys

import numpy as np
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import gen, run, workloads  # noqa: E402
from perfbench.trace import Span, self_intervals, self_s_by_name  # noqa: E402


def test_self_time_on_synthetic_tree():
    spans = [
        Span(0, "root", 0.0, 10.0, None),
        Span(1, "a", 1.0, 4.0, 0),
        Span(2, "b", 3.0, 6.0, 0),  # overlaps a: the root loses 1..6 once
        Span(3, "a.child", 1.5, 2.0, 1),
        Span(4, "late", 9.0, 12.0, 0),  # runs past its parent: clipped at 10
    ]
    got = {i: sum(e - s for s, e in iv) for i, iv in self_intervals(spans).items()}
    assert got[0] == pytest.approx(10.0 - 5.0 - 1.0)
    assert got[1] == pytest.approx(3.0 - 0.5)
    assert got[2] == pytest.approx(3.0)
    assert got[3] == pytest.approx(0.5)
    # two concurrent instances of one name (sinks written from threads)
    spans += [Span(5, "sink", 11.0, 14.0, None), Span(6, "sink", 12.0, 16.0, None)]
    by_name = self_s_by_name(spans)
    assert by_name["sink"] == pytest.approx(5.0)
    assert by_name["a"] == pytest.approx(2.5)


def test_benchmark_json_names_every_metric_with_its_unit():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == run.PER_LAYER
    assert [w["name"] for w in bench["workloads"]] == list(workloads.WORKLOADS)
    setup = next(m for m in bench["end_to_end"] if m["name"] == "setup_s")
    assert setup["bound"] == max(m["bound"] for m in bench["end_to_end"])


def test_generators_are_seeded_and_keep_their_distributions():
    a, b, c = gen.pretok_table(3, 4000), gen.pretok_table(3, 4000), gen.pretok_table(4, 4000)
    assert a.equals(b) and not a.equals(c)
    n_tok = np.asarray(a.column("n_tok"))
    assert n_tok.min() >= 5 and n_tok.max() <= 200
    assert all(len(t) == n for t, n in zip(a.column("tokens").to_pylist(), n_tok))
    hot = (n_tok == gen.HOT_LEN).mean()
    assert 0.15 < hot < 0.22
    sources = a.column("source").to_pylist()
    assert sources.count("src0") > sources.count("src3") > sources.count("src10")

    lines, blocks, flags = gen.hdfs_corpus(3, 4000)
    assert lines == gen.hdfs_corpus(3, 4000)[0] != gen.hdfs_corpus(4, 4000)[0]
    assert len(blocks) == 4000 // gen.LINES_PER_SEQ
    anomalous = {b for b, f in zip(blocks, flags) if f == 1}
    assert 0 < len(anomalous) < 0.25 * len(blocks)
    exc = [ln for ln in lines if "Exception in receiveBlock" in ln]
    assert {ln.split("for block ")[1].split()[0] for ln in exc} == anomalous


@pytest.fixture
def tiny(monkeypatch):
    """Tiny inputs."""
    monkeypatch.setattr(workloads.PretokBatch, "n_docs", 2000)
    monkeypatch.setattr(workloads.PretokBatch, "n_files", 3)
    monkeypatch.setattr(workloads.LogleadHdfs, "n_lines", 4000)


def _result(capsys) -> dict:
    return json.loads(capsys.readouterr().out.strip().splitlines()[-1])


def test_xxh64_matches_spark(tiny):
    from pyspark.sql import functions as F

    spark, _ = run._start_session(2, None)
    try:
        values = [0, 1, -7, 2**40 + 3, -(2**62)]
        got = [r[0] for r in spark.createDataFrame([(v,) for v in values], "v long").select(F.xxhash64("v")).collect()]
    finally:
        run._stop_jvm(spark)
    assert got == gen.xxh64_long(values, 42).view(np.int64).tolist()


@pytest.mark.parametrize("workload", list(workloads.WORKLOADS))
def test_traced_smoke_run(tiny, capsys, workload):
    assert run.main(["--workload", workload, "--seed", "5", "--seconds", "1", "--trace", "1"]) == 0
    res = _result(capsys)
    assert res["correct"] and res["failed"] == 0 and res["attempted"] == 3
    assert set(res["metrics"]) == set(run.PER_LAYER)
    assert all(m["unit"] == run.PER_LAYER[k] for k, m in res["metrics"].items())
    spans = os.path.join(ROOT, ".perfbench", f"spans-{workload}-5.jsonl")
    with open(spans) as f:
        rows = [json.loads(line) for line in f]
    assert {"name", "start", "end", "parent", "workload", "seed"} <= set(rows[0])
    assert {r["workload"] for r in rows} == {workload}


def test_damaged_output_counts_as_failed(tiny, capsys, monkeypatch):
    real_check = workloads.PretokBatch.check

    def damaged(self, out, manifests):
        import pyarrow.parquet as pq

        parts = workloads.part_files(os.path.join(out, "source_agg"))
        part = next(p for p in sorted(parts) if pq.ParquetFile(p).metadata.num_rows)
        pq.write_table(pq.read_table(part).slice(1), part)  # drop one source's row
        return real_check(self, out, manifests)

    monkeypatch.setattr(workloads.PretokBatch, "check", damaged)
    assert run.main(["--workload", "pretok_batch", "--seed", "5", "--seconds", "1", "--trace", "0"]) == 1
    res = _result(capsys)
    assert not res["correct"] and res["failed"] == res["attempted"] >= 3
    assert res["metrics"]["ok_share"] == {"value": 0.0, "unit": "ratio"}
    assert set(res["metrics"]) == set(run.END_TO_END)
