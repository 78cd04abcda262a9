"""The two workloads. Each takes the run context (see run.py), does its
set-up through ``ctx.setup`` (timed, repeatable phases), measures for
``ctx.seconds`` and fills ``ctx.e2e`` (end-to-end metrics), ``ctx.layer``
(per-layer metrics, traced runs only) and ``ctx.report`` (the workload
metrics by name and check details printed beside the result line).

``trace.overhead_share`` compares a traced run's latency with untraced
latency of the same code: on ``batch_suite`` from the same run, on
``stream_live`` from earlier untraced runs in this checkout."""

from __future__ import annotations

import os
import shutil
import threading
import time

import datagen
from checks import audit_store, frames_match, latencies, median, quantile
from tracing import dir_bytes, fold_progress, store_stats, trigger_epoch

PKG = "real_time_fraud_detection_system_spark"


def _module_of() -> dict[str, str]:
    """query name -> operator module name (the modules with QUERIES)."""
    import importlib
    import pkgutil

    ops = importlib.import_module(f"{PKG}.operators")
    out = {}
    for m in pkgutil.iter_modules(ops.__path__):
        mod = importlib.import_module(f"{PKG}.operators.{m.name}")
        for q in getattr(mod, "QUERIES", {}):
            out[q] = m.name
    return out


def _memo_entries(root: str) -> set[str]:
    if not os.path.isdir(root):
        return set()
    return {d for d in os.listdir(root) if not d.endswith(".tmp") and not d.startswith(".")}


def _corpus_and_memos(ctx, data_dir: str, out: str) -> tuple[float, float, dict]:
    """prepare_corpus, then prime_memos, into an empty memo store: the
    corpus prep and every memo artifact, built cold. Checks the funnel,
    fills the memo and corpus layers, returns (corpus_s, memo_s, funnel)."""
    from real_time_fraud_detection_system_spark.corpus_pipeline import prepare_corpus
    from real_time_fraud_detection_system_spark.operators._memo import (
        memo_root,
        prime_memos,
    )

    shutil.rmtree(memo_root(), ignore_errors=True)
    t0 = time.perf_counter()
    funnel = ctx.tracer.run("corpus", lambda: prepare_corpus(ctx.spark, data_dir, out))
    t1 = time.perf_counter()
    tags = ctx.tracer.run("memo", lambda: prime_memos(ctx.spark, data_dir))
    t2 = time.perf_counter()
    ctx.spark.catalog.clearCache()
    ctx.attempt(1, 0 if _funnel_ok(ctx, funnel, out) else 1)
    for tag, s in tags.items():
        ctx.layer[f"memo.build_s.{tag}"] = s
    ctx.layer["memo.bytes"] = dir_bytes(memo_root())
    ctx.layer["corpus_pipeline.jobs"] = ctx.tracer.total(lambda g: g == "corpus", "jobs")
    return t1 - t0, t2 - t1, {k: v for k, v in funnel.items() if k != "out_dir"}


def _funnel_ok(ctx, funnel: dict, out: str) -> bool:
    """The stages only shrink and the written corpus holds exactly the
    funnel's survivors."""
    stages = [funnel["raw_docs"], funnel["after_quality"],
              funnel["after_exact_dedup"], funnel["after_neardup_dedup"]]
    written = ctx.spark.read.parquet(out).count()
    return (stages == sorted(stages, reverse=True)
            and sum(funnel["splits"].values()) == stages[-1] == written)


# --- batch_suite --------------------------------------------------------

def batch_suite(ctx) -> None:
    from real_time_fraud_detection_system_spark.operators import all_queries
    from real_time_fraud_detection_system_spark.operators._memo import memo_root

    spec = ctx.spec["batch_suite"]
    data = os.path.join(ctx.work, "tables")
    ctx.setup("tables", lambda: datagen.write_tables(data, spec["sf"], ctx.seed), reps=3)
    if ctx.tracer.enabled:
        # the cold corpus and full memo build feed the corpus and memo
        # layers; it takes half an untraced run, so only the traced run
        # makes it
        corpus_s, memo_s, funnel = ctx.setup("corpus_memo", lambda: _corpus_and_memos(
            ctx, data, os.path.join(ctx.work, "corpus")))
        ctx.report.update({"corpus_s": corpus_s, "memo_cold_s": memo_s, "funnel": funnel})

    queries, module = all_queries(), _module_of()
    names = spec["measured"]
    # check step: every measured query against its DuckDB oracle over the
    # same tables. It is also each query's first, cold execution, which
    # builds the memos it reads, so it counts as set-up and stays out of
    # the measured loop.
    mismatches = ctx.setup("check", lambda: _oracle_check(ctx, queries, names, data))
    ctx.attempt(len(names), len(mismatches))
    ctx.report["oracle_mismatches"] = mismatches

    memo_before = _memo_entries(memo_root())
    lat, reference = _batch_loop(ctx, queries, names, data)
    ctx.layer["memo.entries_built"] = len(_memo_entries(memo_root()) - memo_before)
    ctx.e2e.update({"latency_p50_s": median(lat), "latency_p90_s": quantile(lat, 0.9)})

    if ctx.tracer.enabled:
        ctx.layer["trace.overhead_share"] = median(lat) / median(reference) - 1
        tr = ctx.tracer
        ctx.layer["operators.build_s"] = tr.total(lambda g: g.endswith(":build"), "seconds")
        ctx.layer["operators.build_jobs"] = tr.total(lambda g: g.endswith(":build"), "jobs")
        ctx.layer["catalyst.plan_s"] = tr.total(lambda g: g.endswith(":plan"), "seconds")
        for mod in set(module[n] for n in names):
            for phase in ("build", "exec"):
                ctx.layer[f"operators.{mod}.{phase}_s"] = tr.total(
                    lambda g, m=mod, p=phase: g.endswith(f":{p}")
                    and module[g.rsplit(":", 1)[0]] == m, "seconds")
        _exec_counts(ctx, lambda g: bool(g) and g.endswith(":exec"))


def _oracle_check(ctx, queries, names, data) -> dict[str, str]:
    """{query: why} for every measured query that raises or does not
    match its oracle."""
    import duckdb

    from real_time_fraud_detection_system_spark.operators import all_oracles

    oracles = all_oracles()
    con = duckdb.connect()
    for t in ("region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet'")
    mismatches = {}
    for name in names:
        try:
            got = queries[name](ctx.spark, data).toPandas()
            why = frames_match(got, con.execute(oracles[name]).fetchdf())
        except Exception as exc:  # noqa: BLE001 -- a raising query is a failure
            why = f"raised {type(exc).__name__}: {exc}"[:300]
        ctx.spark.catalog.clearCache()
        if why:
            mismatches[name] = why
    con.close()
    return mismatches


def _batch_loop(ctx, queries, names, data) -> tuple[list[float], list[float]]:
    """The measured closed loop: one client runs one query at a time into
    the noop sink, in whole passes over the measured list. The pass count
    is fixed by ``--seconds`` and the spec's nominal pass time, not by
    how fast the passes go, so every run takes the same number of
    samples. A query's latency is its median over the passes, so every
    query weighs the same.

    In a traced run each query runs twice in a row, once with the
    tracer's hooks off and once with them on, so both see the same host
    speed. Which goes first alternates between queries, so the second
    run's extra warmth falls on both sides. Returns the per-query
    latencies with hooks on, and with hooks off (empty in an untraced
    run)."""
    traced = ctx.tracer.enabled
    modes = (False, True) if traced else (False,)
    runs: dict[bool, dict[str, list[float]]] = {m: {n: [] for n in names} for m in modes}
    passes = max(1, int(ctx.seconds / ctx.spec["batch_suite"]["pass_s"] + 0.5))
    failed = 0
    t_start = time.perf_counter()
    for _ in range(passes):
        for i, name in enumerate(names):
            for mode in modes[::-1] if i % 2 else modes:
                ctx.tracer.enabled = mode
                t = time.perf_counter()
                try:
                    _run_query(ctx, name, queries[name], data)
                except Exception:  # noqa: BLE001 -- a raising query is a failure
                    failed += 1
                runs[mode][name].append(time.perf_counter() - t)
                ctx.spark.catalog.clearCache()
    wall = time.perf_counter() - t_start
    ctx.tracer.enabled = traced
    ctx.attempt(passes * len(names) * len(modes), failed)
    lat = [median(v) for v in runs[traced].values()]
    ctx.report.update({"suite_s": wall / passes / len(modes), "query_p50_s": median(lat),
                       "query_p90_s": quantile(lat, 0.9), "passes": passes,
                       "query_s": runs[traced]})
    return lat, [median(v) for v in runs[False].values()] if traced else []


def _run_query(ctx, name: str, fn, data: str) -> None:
    """Build the frame, force the physical plan (traced runs only) and run
    it into the noop sink, each step in its own job group."""
    df = ctx.tracer.run(f"{name}:build", lambda: fn(ctx.spark, data))
    if ctx.tracer.enabled:
        ctx.tracer.run(f"{name}:plan", lambda: df._jdf.queryExecution().executedPlan())
    ctx.tracer.run(f"{name}:exec",
                   lambda: df.write.format("noop").mode("overwrite").save())


def _exec_counts(ctx, pred) -> None:
    """exec.* over the measured jobs: counts from the status tracker now,
    bytes/GC/CPU from the event log once the session has stopped."""
    ctx.exec_jobs = lambda group, _submitted: bool(group) and pred(group)
    tr = ctx.tracer
    ctx.layer["exec.run_s"] = tr.total(pred, "seconds")
    for k in ("jobs", "stages", "tasks"):
        ctx.layer[f"exec.{k}"] = tr.total(pred, k)


# --- stream_live --------------------------------------------------------

def _warmup(ctx, engine) -> None:
    """Drain a small backlog through the same pipeline into a scratch
    store, one file per epoch, so JIT, Python workers and the per-epoch
    model path are warm before the measured stream starts."""
    spec = ctx.spec["stream"]
    n, per_file = spec["warmup_epochs"], spec["warmup_epoch_events"]
    lines, _ = datagen.make_payloads(n * per_file, spec["rate"], spec["dup_share"],
                                     spec["corrupt_share"], ctx.seed + 1)
    base = os.path.join(ctx.work, "warmup")
    landing = os.path.join(base, "landing")
    os.makedirs(landing)
    for k in range(n):
        _write_file(landing, k, lines[k * per_file:(k + 1) * per_file])
    q = _pipeline(ctx, engine, landing, os.path.join(base, "store"),
                  os.path.join(base, "ckpt"), None, max_files=1)
    q.awaitTermination()


def _pipeline(ctx, engine, landing, store, ckpt, trigger_seconds, max_files=None):
    from pyspark.sql import functions as F

    from real_time_fraud_detection_system_spark.streaming.pipeline import (
        file_drop_source,
        parse_transactions,
    )

    raw = file_drop_source(
        ctx.spark, landing, max_files or ctx.spec["stream"]["max_files_per_trigger"])
    tx = parse_transactions(raw).filter(~F.col("_corrupt")).drop("_corrupt")
    kwargs = {"trigger_seconds": trigger_seconds} if trigger_seconds else {}
    return engine.run_stream(tx, store, ckpt, **kwargs)


def _write_file(landing: str, k: int, lines) -> None:
    tmp = os.path.join(landing, f".part-{k:06d}.tmp")
    with open(tmp, "w") as f:
        f.write("\n".join(lines) + "\n")
    os.rename(tmp, os.path.join(landing, f"part-{k:06d}.json"))


def _store_rows(ctx, store: str):
    """(transaction_id, event_time epoch s, file mtime epoch s) rows."""
    from pyspark.sql import functions as F

    df = ctx.spark.read.parquet(store).select(
        "transaction_id",
        (F.unix_micros("event_time") / 1e6).alias("et"),
        (F.unix_micros(F.col("_metadata.file_modification_time")) / 1e6).alias("mt"),
    )
    return [(r[0], r[1], r[2]) for r in df.collect()]


def stream_live(ctx) -> None:
    """Open loop at a fixed offered rate; latency from each event's
    scheduled send time to its prediction's store file. Set-up trains
    and registers the model, generates the payloads and drains a warm-up
    backlog."""
    from real_time_fraud_detection_system_spark.engine import Engine

    spec = ctx.spec["stream"]
    n_files = int(round((spec["warmup_s"] + ctx.seconds) / spec["file_interval_s"]))
    n_events = n_files * int(round(spec["rate"] * spec["file_interval_s"]))
    tables = os.path.join(ctx.work, "tables")
    ctx.setup("tables", lambda: datagen.write_tables(tables, 0.001, ctx.seed), reps=3)
    reg = os.path.join(ctx.work, "registry")

    def train():
        shutil.rmtree(reg, ignore_errors=True)
        eng = Engine(ctx.spark, sf_dir=tables, registry_dir=reg)
        eng.train_and_register(n=spec["train_rows"], seed=ctx.seed)
        return eng

    engine = ctx.setup("train", train)
    lines, truth = ctx.setup("payloads", lambda: datagen.make_payloads(
        n_events, spec["rate"], spec["dup_share"], spec["corrupt_share"], ctx.seed), reps=3)
    ctx.setup("warmup", lambda: _warmup(ctx, engine))

    p = _live_pass(ctx, engine, lines, truth)
    ctx.e2e.update({"latency_p50_s": p["p50"], "latency_p90_s": p["p90"]})
    ctx.report.update({"latency_p50_s": p["p50"], "latency_p99_s": p["p99"],
                       "keepup_ratio": p["committed"] / max(p["offered"], 1),
                       "committed_per_s": p["committed"] / ctx.seconds,
                       "trigger_ms": p["trigger_ms"], "audit": p["audit"]})
    if ctx.tracer.enabled:
        # the tracer adds no hook to the measured stream; the session's
        # event log is the only difference from an untraced run
        if ctx.untraced:
            ref = median([r["metrics"]["latency_p50_s"] for r in ctx.untraced])
            ctx.layer["trace.overhead_share"] = p["p50"] / ref - 1
        ctx.report["overhead_reference_runs"] = len(ctx.untraced)
        w0, w1 = p["window"]
        ctx.layer.update(fold_progress(p["progress"], w0, w1))
        sink = store_stats(p["store"])
        sink["sink.rows_per_file"] = p["rows"] / max(sink["sink.files"], 1)
        ctx.layer.update(sink)
        ctx.layer.update({"generator.events": len(lines), "generator.dups": truth["dups"],
                          "generator.corrupt": truth["corrupt"],
                          "generator.late_max_s": p["late_max_s"]})
        # stream jobs run on the query's own threads: select them by time
        ctx.exec_jobs = lambda _group, submitted: w0 <= submitted < w1


def _live_pass(ctx, engine, lines, truth) -> dict:
    """Offer ``lines`` at the spec's rate to a fresh query, landing dir
    and store; audit the store and measure latency over the window that
    follows the first ``warmup_s`` seconds."""
    spec = ctx.spec["stream"]
    dt, warm = spec["file_interval_s"], spec["warmup_s"]
    per_file = int(round(spec["rate"] * dt))
    n_files = len(lines) // per_file
    landing, store, ckpt = (os.path.join(ctx.work, d) for d in ("landing", "store", "ckpt"))
    os.makedirs(landing)
    q = _pipeline(ctx, engine, landing, store, ckpt, spec["trigger_s"])
    t0 = time.time() + spec["lead_s"]
    late = []

    def send():
        # one thread; file k carries the events due in [k*dt, (k+1)*dt)
        # and is written when its last event is due
        for k in range(n_files):
            due = t0 + (k + 1) * dt
            pause = due - time.time()
            if pause > 0:
                time.sleep(pause)
            _write_file(landing, k, lines[k * per_file:(k + 1) * per_file])
            late.append(time.time() - due)

    sender = threading.Thread(target=send)
    sender.start()
    sender.join()
    q.processAllAvailable()
    progress = q.recentProgress
    q.stop()

    rows = _store_rows(ctx, store)
    audit = audit_store([r[0] for r in rows], truth["valid_ids"])
    ctx.attempt(audit["attempted"], audit["failed"])
    lat = latencies(rows, lambda et: t0 + (et - datagen.VIRTUAL_EPOCH))
    w0, w1 = t0 + warm, t0 + warm + ctx.seconds
    due_of = {tid: t0 + (et - datagen.VIRTUAL_EPOCH) for tid, et, _ in rows}
    window = [v for t, v in lat.items() if w0 <= due_of[t] < w1]
    return {
        "p50": median(window), "p90": quantile(window, 0.9),
        "p99": quantile(window, 0.99),
        "committed": sum(1 for _, _, mt in rows if w0 <= mt < w1),
        "offered": sum(1 for v in due_of.values() if w0 <= v < w1),
        "trigger_ms": [(round(trigger_epoch(p) - t0, 1),
                        p["durationMs"].get("triggerExecution"), p["numInputRows"])
                       for p in progress],
        "audit": audit, "progress": progress, "window": (w0, w1), "store": store,
        "rows": len(rows), "late_max_s": max(late),
    }


WORKLOADS = {
    "batch_suite": batch_suite,
    "stream_live": stream_live,
}
