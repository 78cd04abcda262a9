"""The benchmark's own tests: input determinism, the latency and audit
arithmetic its numbers rest on, and the metric-name contract.

    python3 -m pytest perfbench/tests -q
"""

import json
import os
import re
import time
import types
from datetime import datetime, timezone

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

import datagen
import workloads
from checks import audit_store, frames_match, latencies

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _land(tmp_path, name, seed):
    lines, _ = datagen.make_payloads(3000, 2500, 0.01, 0.001, seed)
    landing = tmp_path / name
    landing.mkdir()
    for k in range(0, len(lines), 500):
        workloads._write_file(str(landing), k // 500, lines[k:k + 500])
    return {p.name: p.read_bytes() for p in sorted(landing.iterdir())}


def test_same_seed_gives_byte_identical_payload_files(tmp_path):
    a = _land(tmp_path, "a", 7)
    assert a == _land(tmp_path, "b", 7)
    assert a != _land(tmp_path, "c", 8)


def test_same_seed_gives_byte_identical_tables(tmp_path):
    for d in ("a", "b"):
        datagen.write_tables(str(tmp_path / d), 0.001, 7)
    names = sorted(os.listdir(tmp_path / "a"))
    assert len(names) == 10
    for n in names:
        assert (tmp_path / "a" / n).read_bytes() == (tmp_path / "b" / n).read_bytes()


def test_payload_truth_counts_match_lines():
    lines, truth = datagen.make_payloads(20000, 2500, 0.01, 0.001, 3)
    parsed = []
    for ln in lines:
        try:
            parsed.append(json.loads(ln)["transaction_id"])
        except ValueError:
            pass
    assert len(lines) - len(parsed) == truth["corrupt"]
    assert len(parsed) - len(set(parsed)) == truth["dups"]
    assert sorted(set(parsed)) == sorted(truth["valid_ids"])
    assert truth["dups"] > 0 and truth["corrupt"] > 0


def test_failed_share_catches_a_lost_row_and_a_duplicate():
    valid = ["a", "b", "c", "d"]
    assert audit_store(["a", "b", "c", "d"], valid)["failed"] == 0
    lost = audit_store(["a", "b", "c"], valid)
    assert (lost["lost"], lost["failed"]) == (1, 1)
    dup = audit_store(["a", "b", "c", "d", "d"], valid)
    assert (dup["duplicated"], dup["failed"]) == (1, 1)
    both = audit_store(["a", "a", "b", "c", "zz"], valid)
    assert (both["lost"], both["duplicated"], both["extra"]) == (1, 1, 1)
    assert both["failed"] / both["attempted"] == 0.75


def test_oracle_rules_flag_dtype_drift():
    import pandas as pd

    a = pd.DataFrame({"x": [1, 2], "y": ["p", "q"]})
    assert frames_match(a, a.iloc[::-1].reset_index(drop=True)) is None
    assert frames_match(a, a.astype({"x": float})) == "values differ"


def test_metric_names_match_the_contract_pattern():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    names = [m["name"] for k in ("end_to_end", "per_layer") for m in bench[k]]
    names += [w["name"] for w in bench["workloads"]]
    assert names and len(names) == len(set(names))
    for n in names:
        assert re.fullmatch(r"[A-Za-z0-9_.-]+", n), n


def test_batch_pass_count_follows_seconds_not_speed():
    """Slow and fast queries get the same number of whole passes."""
    from tracing import Tracer

    class Query:
        def __init__(self, seconds):
            self.seconds = seconds
            self.write = self

        def __call__(self, spark, data):
            return self

        def format(self, _):
            return self

        def mode(self, _):
            return self

        def save(self):
            time.sleep(self.seconds)

    for delay in (0.0, 0.02):
        ctx = types.SimpleNamespace(
            seconds=15, spec={"batch_suite": {"pass_s": 8}}, report={},
            attempted=0, failed=0, tracer=Tracer(None, False),
            spark=types.SimpleNamespace(catalog=types.SimpleNamespace(clearCache=lambda: None)))
        ctx.attempt = lambda n, f, c=ctx: setattr(c, "attempted", c.attempted + n)
        queries = {"a": Query(delay), "b": Query(delay)}
        lat, ref = workloads._batch_loop(ctx, queries, ["a", "b"], "data")
        assert ctx.report["passes"] == 2 and ctx.attempted == 4
        assert all(len(v) == 2 for v in ctx.report["query_s"].values())
        assert len(lat) == 2 and ref == []


@pytest.fixture(scope="module")
def spark():
    from real_time_fraud_detection_system_spark.session import get_spark

    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "1g")
    return get_spark("perfbench-tests", cpus=2)


def test_latency_is_exact_on_a_synthetic_store(tmp_path, spark):
    """Known event times and file mtimes in, exact latencies out."""
    t0 = 1_800_000_000.0  # wall clock of the run's virtual-clock origin
    events = {"t1": 0.0, "t2": 0.25, "t3": 1.5}  # virtual send offsets
    files = {"f0": (["t1", "t2"], t0 + 2.125), "f1": (["t3"], t0 + 4.0)}
    part = tmp_path / "store" / "event_date=2026-01-01"
    part.mkdir(parents=True)
    for name, (ids, mtime) in files.items():
        stamps = [datetime.fromtimestamp(datagen.VIRTUAL_EPOCH + events[t], timezone.utc)
                  for t in ids]
        path = part / f"{name}.parquet"
        pq.write_table(pa.table({"transaction_id": ids,
                                 "event_time": pa.array(stamps, pa.timestamp("us", "UTC"))}),
                       path)
        os.utime(path, (mtime, mtime))
    ctx = types.SimpleNamespace(spark=spark)
    rows = workloads._store_rows(ctx, str(tmp_path / "store"))
    got = latencies(rows, lambda et: t0 + (et - datagen.VIRTUAL_EPOCH))
    want = {"t1": 2.125, "t2": 1.875, "t3": 2.5}
    assert got.keys() == want.keys()
    for t in want:
        assert got[t] == pytest.approx(want[t], abs=1e-6)


def test_tracer_counts_only_the_jobs_of_each_span(spark):
    """A group name that recurs across spans counts each span's own jobs,
    and an inner span hands the job group back to the enclosing one."""
    from tracing import Tracer

    tr = Tracer(spark, enabled=True)
    for _ in range(3):
        tr.run("q:exec", lambda: spark.range(10).count())
    jobs = [s["jobs"] for s in tr.spans]
    assert jobs[0] > 0 and jobs == jobs[:1] * 3

    def outer():
        tr.run("inner", lambda: spark.range(10).count())
        spark.range(10).count()
        spark.range(10).count()

    tr.run("outer", outer)
    assert tr.total(lambda g: g == "inner", "jobs") == jobs[0]
    assert tr.total(lambda g: g == "outer", "jobs") == 2 * jobs[0]
    assert spark.sparkContext.getLocalProperty("spark.jobGroup.id") is None
