"""Per-layer metrics of a traced run, from the spans and the jobs
attributed to them. Layers are the package's modules; each figure is a
median (times) or a mean (counts, bytes) per call over the timed ops,
unless its description in README.md says otherwise.

``REPORTED`` lists the ones the result line carries: counts, bytes and
ratios that box drift cannot fake, and the engine totals. Layer wall
times are in the ``#`` report line and ``report.json`` only, because a
layer a workload does not run has no time to report.
"""

from __future__ import annotations

from tracing import Span, Tracer, median, subtree_jobs, totals

REPORTED = (
    "session.start_s",
    "reader.py4j_calls", "reader.jobs",
    "transform.py4j_calls", "transform.sample_jobs",
    "snapshot.jobs", "snapshot.bytes_written", "snapshot.write_amp",
    "snapshot.shuffle_write_bytes",
    "singer.bytes_out", "singer.jobs",
    "export.bytes_out",
    "text.py4j_calls",
    "dedup.minhash_build_jobs", "dedup.shuffle_write_bytes",
    "dedup.lsh_candidates", "dedup.verified_pairs", "dedup.verify_yield",
    "dedup.planted_recall",
    "fpstore.bytes_written", "fpstore.files",
    "bm25.append_jobs", "bm25.bytes_written", "bm25.files",
    "bm25.probe_jobs", "bm25.probe_bytes_read",
    "spark.jobs", "spark.tasks", "spark.executor_run_ms", "spark.executor_cpu_ms",
    "spark.gc_ms", "spark.shuffle_read_bytes", "spark.shuffle_write_bytes",
    "spark.spill_bytes", "spark.input_bytes", "spark.output_bytes",
    "spark.task_failures", "spark.peak_heap_mb", "spark.unattributed_frac",
    "spark.py4j_calls",
    "trace.overhead_frac",
)

_OPS = ("op.sync", "op.build", "op.round", "bm25.probe")


def _mean(values) -> float:
    values = list(values)
    return sum(values) / len(values) if values else 0.0


def layer_metrics(
    tracer: Tracer, wl, jobs: list[dict], loose: list[dict], peak_heap: int,
    window: tuple[float, float], cycles: int, probes: dict,
) -> dict[str, tuple[float, str]]:
    lo, hi = window
    by_id = {s.sid: s for s in tracer.spans}

    def in_check(s: Span) -> bool:
        while s is not None:
            if s.name == "check":
                return True
            s = by_id.get(s.parent)
        return False

    timed = [s for s in tracer.spans if lo <= s.start <= hi and not in_check(s)]

    def spans(*names):
        return [s for s in timed if s.name in names]

    def secs(name):
        return median(s.dur for s in spans(name)), "s"

    def job_stat(names, key, unit="count"):
        names = (names,) if isinstance(names, str) else names
        return _mean(totals(subtree_jobs(tracer, s))[key] for s in spans(*names)), unit

    def py4j(name):
        return _mean(s.py4j for s in spans(name) if s.counted), "count"

    def per_build(names, key, unit):
        total = sum(totals(subtree_jobs(tracer, s))[key] for s in spans(*names))
        return total / max(1, len(spans("op.build"))), unit

    m: dict[str, tuple[float, str]] = {}
    m["session.start_s"] = tracer.named("session.start")[0].dur, "s"

    # sources.reader + catalog
    m["reader.get_s"] = secs("reader.get")
    m["reader.py4j_calls"] = py4j("reader.get")
    m["reader.jobs"] = job_stat("reader.get", "jobs")
    # functions.json_utils / datetime_utils
    m["transform.build_s"] = secs("transform.build")
    m["transform.py4j_calls"] = py4j("transform.build")
    m["transform.sample_jobs"] = job_stat("transform.build", "jobs")
    # operators.snapshot
    snaps = spans("snapshot.records")
    m["snapshot.records_s"] = secs("snapshot.records")
    m["snapshot.jobs"] = job_stat("snapshot.records", "jobs")
    m["snapshot.bytes_written"] = job_stat("snapshot.records", "output", "B")
    m["snapshot.shuffle_write_bytes"] = job_stat("snapshot.records", "shuffle_write", "B")
    batch_in = getattr(wl, "batch_input_bytes", 0)
    written = sum(totals(subtree_jobs(tracer, s))["output"] for s in snaps)
    syncs = len(spans("op.sync"))
    m["snapshot.write_amp"] = (written / (batch_in * syncs) if batch_in and syncs else 0.0), "ratio"
    m["snapshot.reread_s"] = median(
        s.end - max(j["end"] for j in writes)
        for s in snaps
        if (writes := [j for j in subtree_jobs(tracer, s) if j["output"] > 0])
    ), "s"
    # sinks.singer / sinks.export
    sizes = getattr(wl, "out_sizes", {})
    m["singer.export_s"] = secs("singer.export")
    m["singer.bytes_out"] = _mean(sizes.get("singer", [])), "B"
    m["singer.jobs"] = job_stat("singer.export", "jobs")
    m["export.parquet_s"] = secs("export.parquet")
    m["export.bytes_out"] = _mean(sizes.get("export", [])), "B"
    # functions.text
    m["text.filter_build_s"] = secs("text.filter_build")
    m["text.py4j_calls"] = py4j("text.filter_build")
    text_exec = tracer.named("text.exec")
    m["text.exec_cpu_ms"] = (
        totals(subtree_jobs(tracer, text_exec[0]))["cpu_ms"] if text_exec else 0.0
    ), "ms"
    # operators.dedup, batch
    m["dedup.exact_s"] = secs("dedup.exact")
    m["dedup.minhash_build_s"] = secs("dedup.minhash_build")
    m["dedup.minhash_build_jobs"] = job_stat("dedup.minhash_build", "jobs")
    m["dedup.exec_s"] = secs("dedup.exec")
    dedup_names = ("text.filter_build", "dedup.exact", "dedup.minhash_build", "dedup.exec")
    m["dedup.shuffle_write_bytes"] = per_build(dedup_names, "shuffle_write", "B")
    m["dedup.executor_cpu_ms"] = per_build(dedup_names, "cpu_ms", "ms")
    for k in ("dedup.lsh_candidates", "dedup.verified_pairs"):
        m[k] = float(probes.get(k, 0)), "count"
    for k in ("dedup.verify_yield", "dedup.planted_recall"):
        m[k] = float(probes.get(k, 0.0)), "ratio"
    # operators.dedup, stores
    stores = getattr(wl, "store_sizes", {})
    m["fpstore.write_s"] = secs("fpstore.write")
    m["fpstore.append_s"] = secs("fpstore.append")
    m["fpstore.bytes_written"] = job_stat(("fpstore.write", "fpstore.append"), "output", "B")
    m["fpstore.files"] = float(stores.get("fpstore", (0, 0))[1]), "count"
    m["dedup.incremental_s"] = secs("dedup.incremental")
    # operators.search
    m["bm25.write_s"] = secs("bm25.write")
    m["bm25.append_s"] = secs("bm25.append")
    m["bm25.append_jobs"] = job_stat("bm25.append", "jobs")
    m["bm25.bytes_written"] = job_stat(("bm25.write", "bm25.append"), "output", "B")
    m["bm25.files"] = float(stores.get("bm25", (0, 0))[1]), "count"
    m["bm25.probe_build_s"] = secs("bm25.probe_build")
    m["bm25.probe_exec_s"] = secs("bm25.probe_exec")
    m["bm25.probe_jobs"] = job_stat("bm25.probe", "jobs")
    m["bm25.probe_bytes_read"] = job_stat("bm25.probe", "input", "B")

    # the Spark engine over the timed ops, per cycle
    eng = totals([j for s in timed for j in s.jobs])
    per = max(1, cycles)
    for key, name, unit in (
        ("jobs", "jobs", "count"), ("tasks", "tasks", "count"),
        ("run_ms", "executor_run_ms", "ms"), ("cpu_ms", "executor_cpu_ms", "ms"),
        ("gc_ms", "gc_ms", "ms"), ("shuffle_read", "shuffle_read_bytes", "B"),
        ("shuffle_write", "shuffle_write_bytes", "B"), ("spill", "spill_bytes", "B"),
        ("input", "input_bytes", "B"), ("output", "output_bytes", "B"),
        ("failures", "task_failures", "count"),
    ):
        m[f"spark.{name}"] = eng[key] / per, unit
    m["spark.peak_heap_mb"] = peak_heap / 2**20, "MB"
    all_ms = sum(j["run_ms"] for j in jobs)
    m["spark.unattributed_frac"] = (
        sum(j["run_ms"] for j in loose) / all_ms if all_ms else 0.0
    ), "ratio"
    m["spark.py4j_calls"] = _mean(
        s.py4j for s in timed if s.name in _OPS and s.counted
    ), "count"
    m["trace.overhead_frac"] = overhead(timed), "ratio"
    return m


def overhead(timed: list[Span]) -> float:
    """Median op time with the py4j counter on over that with it off,
    minus one, for the op kind with the most samples."""
    best = 0.0, 0
    for name in _OPS:
        on = [s.dur for s in timed if s.name == name and s.counted]
        off = [s.dur for s in timed if s.name == name and not s.counted]
        if on and off and len(on) + len(off) > best[1]:
            best = median(on) / median(off) - 1.0, len(on) + len(off)
    return best[0]
