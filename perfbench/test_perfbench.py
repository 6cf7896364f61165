"""Self-tests of the benchmark.

    python3 -m pytest perfbench -q -p no:cacheprovider

The check tests are pure and fast. The input and end-to-end tests start
Spark (a few minutes in all); they write only under ``.perfbench/``.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import subprocess
import sys

import pandas as pd
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import inputs  # noqa: E402
import run  # noqa: E402
import spans  # noqa: E402
from workloads import (  # noqa: E402
    WORKLOADS,
    check_curate,
    check_graph,
    check_pr,
    triple_pr,
)

def test_benchmark_json_matches_the_command():
    with open(os.path.join(run.ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert [w["name"] for w in bench["workloads"]] == list(WORKLOADS)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == run.PER_LAYER


# ------------------------------------------------------------ output checks

GOLDEN = {("u1", "A", "near", "B"), ("u1", "B", "x", "C"), ("u2", "D", "y", "E")}


def test_triple_check_green_on_exact_match():
    assert check_pr(*triple_pr(GOLDEN, set(GOLDEN))) == []


def test_triple_check_red_on_dropped_triple():
    system = set(GOLDEN)
    system.pop()
    assert check_pr(*triple_pr(GOLDEN, system))


def test_triple_check_red_on_extra_triple():
    assert check_pr(*triple_pr(GOLDEN, GOLDEN | {("u3", "F", "z", "G")}))


def _graph():
    nodes = pd.DataFrame({"entity_id": [1, 2, 3], "canonical": ["a", "b", "c"],
                          "entity_type": ["NER"] * 3, "n_mentions": [1, 2, 3]})
    edges = pd.DataFrame({"src": [1, 2], "dst": [2, 3], "pred": ["p", "q"],
                          "weight": [1.0, 2.0]})
    return nodes, edges


def test_graph_check_green():
    assert check_graph(*_graph()) == []


def test_graph_check_red_on_duplicated_node_key():
    nodes, edges = _graph()
    nodes = pd.concat([nodes, nodes.iloc[[0]].assign(canonical="z")])
    assert check_graph(nodes, edges)


def test_graph_check_red_on_empty_table():
    nodes, edges = _graph()
    assert check_graph(nodes.iloc[:0], edges)


def test_graph_check_red_on_duplicated_edge_key():
    nodes, edges = _graph()
    assert check_graph(nodes, pd.concat([edges, edges.iloc[[1]]]))


def test_curate_check_green():
    assert check_curate(["a", "b"], 2, ["planted-exact/00000"]) == []


def test_curate_check_red_on_surviving_planted_copy():
    assert check_curate(["a", "planted-exact/00000"], 2, ["planted-exact/00000"])


def test_curate_check_red_on_duplicate_id_and_count():
    assert check_curate(["a", "a"], 2, [])
    assert check_curate(["a", "b"], 3, [])


def test_planting_shares():
    ids = [f"https://h/page/{i}" for i in range(100)]
    texts = [" ".join(f"w{i}_{j}" for j in range(20)) for i in range(100)]
    out_ids, out_texts, exact = inputs.plant_corpus(ids, texts, seed=3)
    assert len(exact) == 10
    assert sum(i.startswith(inputs.WRAP_PREFIX) for i in out_ids) == 10
    by_id = dict(zip(out_ids, out_texts))
    originals = {by_id[i] for i in ids}
    assert all(by_id[e] in originals for e in exact)
    # planted ids sort after every original, so exact dedup (keep the
    # smallest id per text) must drop the copy, not the original
    assert min(exact) > max(ids)


# ------------------------------------------------------------ spans


def test_parse_sql_metric():
    per_task = "total (min, med, max (stageId: taskId))\n14.5 s (3.6 s, 3.6 s, 3.7 s (stage 0.0: task 2))"
    assert spans.parse_sql_metric(per_task) == 14.5
    assert spans.parse_sql_metric("79.5 KiB") == 79.5 * 1024
    assert spans.parse_sql_metric("69 ms") == pytest.approx(0.069)
    assert spans.parse_sql_metric("10,000") == 10000


def test_driver_gap_counts_time_without_a_running_stage():
    assert spans._union_len([(0, 2), (1, 3), (5, 6)]) == 4


class _FakeContext:
    def __init__(self):
        self.groups = []

    def setJobGroup(self, group, description):
        self.groups.append(group)


def test_phases_are_siblings_and_restore_the_job_group():
    sc = _FakeContext()
    tr = spans.Tracer(sc, "r")
    with tr.span("op") as op:
        tr.phase("a")
        tr.phase("b")
        tr.end_phases()
    names = [(s.name, s.parent) for s in tr.subtree(op)]
    assert names == [("op", None), ("a", op.span_id), ("b", op.span_id)]
    assert all(s.end is not None for s in tr.spans)
    assert sc.groups[-1] == spans.UNTRACED_GROUP


def test_referenced_executions_reads_root_ids_from_job_tags():
    jobs = [
        {"jobId": 0, "jobTags": ["spark-session-x", "spark-session-x-execution-root-id-3"]},
        {"jobId": 1, "jobTags": ["spark-session-x"]},
        {"jobId": 2},
    ]
    assert spans.referenced_executions(jobs) == {3}


class _FakeRest(spans.SparkRest):
    """Serves canned /jobs, /stages and paged /sql payloads."""

    def __init__(self, jobs, executions):
        self.jobs, self.executions, self.sql_calls = jobs, executions, 0

    def drain(self, timeout_s=30.0):
        pass

    def get(self, path):
        if path.startswith("/sql"):
            self.sql_calls += 1
            q = dict(kv.split("=") for kv in path.split("?", 1)[1].split("&"))
            off, n = int(q["offset"]), int(q["length"])
            return self.executions[off : off + n]
        return {"/jobs": self.jobs, "/stages": []}[path]


def _execution(i):
    return {"id": i, "successJobIds": [i], "nodes": [{
        "nodeName": "MapInPandas",
        "metrics": [{"name": "data sent to Python workers", "value": "1.0 MiB"}],
    }]}


def test_sql_executions_reads_every_page():
    rest = _FakeRest([], [_execution(i) for i in range(7)])
    assert [e["id"] for e in rest.sql_executions(page=3)] == list(range(7))
    assert rest.sql_calls == 3


def test_by_group_counts_python_metrics_of_every_execution():
    jobs = [{"jobId": i, "jobGroup": "g", "stageIds": [],
             "jobTags": [f"s-execution-root-id-{i}"]} for i in range(30)]
    groups = _FakeRest(jobs, [_execution(i) for i in range(30)]).by_group()
    assert groups["g"]["py_to_python_mb"] == pytest.approx(30 * 1024**2 / 1e6)


def test_by_group_fails_when_an_execution_is_missing(monkeypatch):
    monkeypatch.setattr(spans.time, "sleep", lambda s: None)
    jobs = [{"jobId": i, "jobGroup": "g", "stageIds": [],
             "jobTags": [f"s-execution-root-id-{i}"]} for i in range(3)]
    with pytest.raises(RuntimeError, match="executions"):
        _FakeRest(jobs, [_execution(0), _execution(1)]).by_group()


def test_rest_reads_more_than_one_page_of_executions():
    """/sql pages at 20 executions by default; a traced operation issues
    far more. Every Python-node execution of a job group must be counted."""
    import pandas  # noqa: F401  (the workers need it)

    run.prepare_env()
    spark = run.start_session("perfbench-rest-test", ui=True)
    try:
        def same(batches):
            yield from batches

        sc = spark.sparkContext
        sc.setJobGroup("g", "g")
        n = 25
        for _ in range(n):
            spark.range(1000, numPartitions=2).mapInPandas(same, "id long").count()
        rest = spans.SparkRest(sc)
        groups = rest.by_group()
        per_exec = [
            sum(spans.parse_sql_metric(m["value"])
                for node in ex["nodes"] if node["nodeName"] == "MapInPandas"
                for m in node["metrics"] if m["name"] == "data sent to Python workers")
            for ex in rest.sql_executions()
            if any(node["nodeName"] == "MapInPandas" for node in ex["nodes"])
        ]
    finally:
        run.shutdown(spark)
    assert len(per_exec) == n
    assert all(v > 0 for v in per_exec)
    assert groups["g"]["py_to_python_mb"] == pytest.approx(sum(per_exec) / 1e6)


# ------------------------------------------------------------ inputs


def _digest(path: str) -> str:
    h = hashlib.sha256()
    for d, dirs, names in sorted(os.walk(path)):
        dirs.sort()
        for n in sorted(names):
            h.update(n.encode())
            with open(os.path.join(d, n), "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def test_inputs_reproducible_per_seed():
    root = os.path.join(run.STATE, "test-inputs")
    shutil.rmtree(root, ignore_errors=True)
    digests = []
    for tag, seed in (("a", 11), ("b", 11), ("c", 12)):
        inp = inputs.locate(os.path.join(root, tag), seed)
        inputs.build_inputs(inp, seed)
        digests.append(_digest(inp.dir))
    shutil.rmtree(root, ignore_errors=True)
    assert digests[0] == digests[1]
    assert digests[0] != digests[2]


def test_pages_equal_generate_pages_df():
    run.prepare_env()
    spark = run.start_session("perfbench-test", ui=False)
    try:
        from nativeextractor_spark.datagen import generate_pages_df

        want = generate_pages_df(spark, n_pages=300, seed=5).toPandas()
    finally:
        run.shutdown(spark)
    got = inputs.generate_pages(300, seed=5)
    want = want.sort_values("url", kind="stable").reset_index(drop=True)
    got["warc_ts"] = got["warc_ts"].dt.tz_localize(None)  # session TZ is UTC
    pd.testing.assert_frame_equal(got, want, check_dtype=False)


# ------------------------------------------------------- whole command


def _run(workload: str, trace: int, cwd: str):
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", "1", "--seconds", "1", "--trace", str(trace)],
        cwd=cwd, capture_output=True, text=True, timeout=900,
    )


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", ["kg_build", "curate_dups"])
def test_every_metric_emitted(workload, trace):
    proc = _run(workload, trace, run.ROOT)
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0
    assert result["attempted"] >= 1
    want = run.PER_LAYER if trace else run.END_TO_END
    assert {k: v["unit"] for k, v in result["metrics"].items()} == want
    for k, v in result["metrics"].items():
        assert isinstance(v["value"], (int, float)), k
    # end-to-end metrics are never 0; a per-layer metric is 0 exactly when
    # the workload does not run its layer
    runs = run.LAYERS_RUN[workload] if trace else run.END_TO_END
    zero = sorted(k for k in runs if not result["metrics"][k]["value"] > 0)
    assert zero == []
    nonzero = sorted(k for k, v in result["metrics"].items()
                     if k not in runs and v["value"] != 0)
    assert nonzero == []


def test_fails_without_the_program():
    bare = os.path.join(run.STATE, "test-bare")
    shutil.rmtree(bare, ignore_errors=True)
    shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(run.ROOT, "BENCHMARK.json"), bare)
    proc = _run("kg_build", 0, bare)
    shutil.rmtree(bare)
    assert proc.returncode != 0
    assert '"metrics"' not in proc.stdout
