"""The benchmark workloads. Each drives only ``gluestick_ts_spark``'s
public functions, the way a user's job would, from one thread.

A workload has ``generate`` (seeded inputs on disk), ``prepare``
(untimed starting state) and ``cycle`` (one timed unit of work and its
checks, repeated until the run's time is up). The warm-up is one cycle
of a tiny instance of the same workload. Every public call sits in a
tracer span named ``<layer>.<what>``; the checks sit in ``check`` spans.
"""

from __future__ import annotations

import os
import shutil
import time

import pyarrow.parquet as pq

import gen

SIZES = {
    "full": {
        "etl_sync": dict(batch_rows=10000, customer_rows=2500, history_mult=10,
                         syncs=3, update_share=0.5),
        "corpus_ingest": dict(base_docs=1500, exact_share=0.1, near_share=0.1,
                              junk_share=0.05, rounds=6, batch_docs=400,
                              dup_share=0.2, probes=12, words=(60, 140),
                              vocab_size=5000),
    },
    "tiny": {
        "etl_sync": dict(batch_rows=200, customer_rows=50, history_mult=10,
                         syncs=1, update_share=0.5),
        "corpus_ingest": dict(base_docs=120, exact_share=0.1, near_share=0.1,
                              junk_share=0.05, rounds=1, batch_docs=40,
                              dup_share=0.2, probes=4, words=(60, 140),
                              vocab_size=800),
    },
}


def dir_bytes(path: str) -> tuple[int, int]:
    """(bytes, data files) under ``path``, ignoring hidden/marker files."""
    total = files = 0
    for d, _, names in os.walk(path):
        for n in names:
            if not n.startswith((".", "_")):
                total += os.path.getsize(os.path.join(d, n))
                files += 1
    return total, files


class Workload:
    name = ""
    # workload-specific end-to-end figures, reported beside the JSON line
    extra_units: dict[str, str] = {}

    def __init__(self, ctx, seed: int, size: str, tag: str = "") -> None:
        self.ctx = ctx
        self.seed = seed
        self.params = SIZES[size][self.name]
        self.root = os.path.join(ctx.out, tag + "input")
        self.work = os.path.join(ctx.out, tag + "work")
        self.op_times: list[float] = []
        self.busy = 0.0  # timed seconds the records were processed in
        self.records = 0
        self.truth: dict = {}

    @property
    def gs(self):
        return self.ctx.gs

    @property
    def spark(self):
        return self.ctx.spark

    def span(self, name: str):
        return self.ctx.tracer.span(name)

    def check(self, name: str, ok: bool, detail: str = "") -> None:
        self.ctx.check(name, ok, detail)

    def prepare(self) -> None:
        """Untimed state the timed cycles start from."""

    def extra(self, med) -> dict:
        return {}

    def finish(self) -> None:
        """Checks that need the final state; runs after the timed loop."""

    def fresh(self, *parts: str) -> str:
        path = os.path.join(self.work, *parts)
        shutil.rmtree(path, ignore_errors=True)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        return path


# ------------------------------------------------------------------ etl_sync


class EtlSync(Workload):
    """K syncs of a two-stream tap output into a persisted snapshot ten
    times one batch, each exported as Singer and Parquet."""

    name = "etl_sync"
    extra_units = {"sync_p50_s": "s"}
    streams = ("orders", "customers")

    def generate(self) -> None:
        self.truth = gen.gen_etl(self.root, self.seed, **self.params)
        self.batch_input_bytes = sum(self.truth["input_bytes"][1:]) / self.truth["syncs"]
        self.out_sizes: dict[str, list[int]] = {"singer": [], "export": []}

    def sync(self, k: int, snap_dir: str, out_dir: str) -> None:
        """One sync: read, type, transform, merge, export both streams."""
        gs = self.gs
        src = self.truth["dirs"][k]
        for stream in self.streams:
            with self.span("reader.get"):
                reader = gs.Reader(self.spark, src, self.root)
                df = reader.get(stream, catalog_types=True)
            with self.span("transform.build"):
                df = gs.parse_df_cols(df, gs.get_catalog_schema(stream, self.root))
                if stream == "orders":
                    df = df.withColumn("updated_at", gs.localize_datetime(df, "updated_at"))
            with self.span("snapshot.records"):
                merged = gs.snapshot_records(df, stream, snap_dir, pk="id")
            with self.span("singer.export"):
                gs.to_export(merged, stream, os.path.join(out_dir, stream),
                             keys=["id"], export_format="singer")
            with self.span("export.parquet"):
                gs.to_export(merged, stream, out_dir, keys=["id"],
                             export_format="parquet")

    def prepare(self) -> None:
        """The pristine snapshot, from ``history`` through the same
        pipeline (the package's first-sight path), then one full-size
        merge on a throwaway copy: the first one runs slower."""
        self.pristine = self.fresh("pristine")
        with self.span("setup.pristine"):
            self.sync(0, self.pristine, self.fresh("out_history"))
        snap = self.fresh("warm_snap")
        shutil.copytree(self.pristine, snap)
        with self.span("setup.warm_sync"):
            self.sync(1, snap, self.fresh("out_warm"))

    def cycle(self) -> None:
        snap = self.fresh("snap")
        shutil.copytree(self.pristine, snap)
        outs = []
        for k in range(1, self.truth["syncs"] + 1):
            out = self.fresh(f"out_{k:02d}")
            with self.span("op.sync"):
                t0 = time.perf_counter()
                self.sync(k, snap, out)
                self.op_times.append(time.perf_counter() - t0)
            self.busy += self.op_times[-1]
            self.records += self.params["batch_rows"] + self.params["customer_rows"]
            outs.append(out)
        with self.span("check"):
            self.verify(snap, outs)

    def verify(self, snap: str, outs: list[str]) -> None:
        F = self.ctx.F
        K = self.truth["syncs"]
        for stream in self.streams:
            exp = self.truth["streams"][stream]
            df = self.gs.read_snapshots(self.spark, stream, snap)
            if stream == "orders":
                canon = F.format_string(
                    gen.ORDERS_CANON, "id",
                    F.date_format("updated_at", "yyyy-MM-dd HH:mm:ss"),
                    "amount", "payload.sku", "payload.qty", "status", "score",
                )
            else:
                canon = F.format_string(
                    gen.CUSTOMERS_CANON, "id", "name", "balance", "tier", "active"
                )
            h = F.conv(F.substring(F.md5(canon), 1, 15), 16, 10).cast("decimal(38,0)")
            row = df.agg(F.count("*").alias("n"), F.sum(h).alias("h")).first()
            self.check(f"{stream}.snapshot.count", row["n"] == exp["count"][K],
                       f"{row['n']} != {exp['count'][K]}")
            self.check(f"{stream}.snapshot.hash", str(row["h"]) == exp["hash"][K])
            for k, out in enumerate(outs, start=1):
                n = exp["count"][k]
                singer = os.path.join(out, stream, "data.singer")
                self.check_singer(singer, n, stream)
                self.out_sizes["singer"].append(os.path.getsize(singer))
                self.out_sizes["export"].append(
                    dir_bytes(os.path.join(out, f"{stream}.parquet"))[0]
                )
                pq_rows = sum(
                    pq.ParquetFile(os.path.join(d, f)).metadata.num_rows
                    for d, _, fs in os.walk(os.path.join(out, f"{stream}.parquet"))
                    for f in fs if f.endswith(".parquet")
                )
                self.check(f"{stream}.parquet.rows", pq_rows == n, f"{pq_rows} != {n}")

    def check_singer(self, path: str, n: int, stream: str) -> None:
        with open(path, "rb") as f:
            first = f.readline()
            lines = 1 + sum(chunk.count(b"\n") for chunk in iter(lambda: f.read(1 << 20), b""))
            f.seek(max(0, os.path.getsize(path) - 4096))
            last = f.read().rstrip(b"\n").rsplit(b"\n", 1)[-1]
        self.check(f"{stream}.singer.lines", lines == n + 2, f"{lines} != {n + 2}")
        self.check(f"{stream}.singer.schema", first.startswith(b'{"type":"SCHEMA"'))
        self.check(f"{stream}.singer.state", last.startswith(b'{"type":"STATE"'))

    def extra(self, med) -> dict:
        return {"sync_p50_s": med(self.op_times)}


# ------------------------------------------------------------- corpus_ingest


class CorpusIngest(Workload):
    """Curate a raw corpus and bulk-build its stores, then ingest rounds
    of new docs, each followed by a burst of single-query probes.

    The build (timed, the first cycle's and again whenever the
    generated rounds run out) is the batch curation job: quality filter
    -> ``dedup_exact`` -> ``dedup_minhash`` -> Parquet write, then
    ``write_fingerprint_store`` and ``write_bm25_index`` over the
    survivors. One cycle is one ingest round and its probes."""

    name = "corpus_ingest"
    extra_units = {
        "curate_s": "s", "index_build_s": "s", "append_p50_s": "s",
        "probe_p50_s": "s", "probe_p75_s": "s",
    }

    def generate(self) -> None:
        self.truth = gen.gen_corpus(self.root, self.seed, **self.params)
        self.raw = os.path.join(self.root, "base.parquet")
        self.curate_times: list[float] = []
        self.build_times: list[float] = []
        self.round_times: list[float] = []
        self.next_round = 0
        self.builds = 0
        self.survivors: int | None = None

    # -- the public calls --------------------------------------------------

    def filtered(self):
        from gluestick_ts_spark.functions.text import (
            gopher_quality_flags, quality_score_expr,
        )

        docs = self.spark.read.parquet(self.raw)
        with self.span("text.filter_build"):
            return docs.where(
                gopher_quality_flags("text").getField("passes")
                & (quality_score_expr("text") >= 0.5)
            )

    def curate(self, out: str):
        gs = self.gs
        kept = self.filtered()
        with self.span("dedup.exact"):
            kept = gs.dedup_exact(kept)
        with self.span("dedup.minhash_build"):
            kept = gs.dedup_minhash(kept)
        with self.span("dedup.exec"):
            gs.to_export(kept, "curated", out, export_format="parquet")
        return os.path.join(out, "curated.parquet")

    def build(self, tag: str) -> str:
        from gluestick_ts_spark.functions.text import fingerprint_expr

        gs = self.gs
        self.store, self.index = self.fresh(tag, "fpstore"), self.fresh(tag, "bm25")
        t0 = time.perf_counter()
        path = self.curate(self.fresh(tag, "curated"))
        self.curate_times.append(time.perf_counter() - t0)
        base = self.spark.read.parquet(path)
        with self.span("fpstore.write"):
            gs.write_fingerprint_store(
                base.select(fingerprint_expr("text").alias("fp")).distinct(),
                self.store, num_buckets=16,
            )
        with self.span("bm25.write"):
            gs.write_bm25_index(base, self.index, num_buckets=16)
        self.accepted = [base]
        return path

    def ingest(self, r: int):
        from gluestick_ts_spark.functions.text import fingerprint_expr

        gs = self.gs
        batch = self.spark.read.parquet(os.path.join(self.root, f"batch_{r:02d}.parquet"))
        with self.span("dedup.incremental"):
            surv, _ = gs.dedup_exact_incremental_bucketed(batch, self.store)
            surv = surv.localCheckpoint(eager=True)
        with self.span("fpstore.append"):
            gs.append_fingerprint_store(
                surv.select(fingerprint_expr("text").alias("fp")), self.store,
                width_fold=False,
            )
        with self.span("bm25.append"):
            gs.append_bm25_index(surv, self.index)
        self.accepted.append(surv)
        return surv

    def probe(self, i: int, q: str):
        with self.span("bm25.probe_build"):
            qdf = self.spark.createDataFrame([(i, q)], "query_id long, query_text string")
            top = self.gs.bm25_index_topk(qdf, self.index, k=10)
        with self.span("bm25.probe_exec"):
            return top.collect()

    # -- the timed cycle ---------------------------------------------------

    def cycle(self) -> None:
        rounds = self.truth["rounds"]
        if self.builds == 0 or self.next_round == len(rounds):
            with self.span("op.build"):
                t0 = time.perf_counter()
                curated = self.build(f"run{self.builds}")
                self.build_times.append(time.perf_counter() - t0)
            self.busy += self.build_times[-1]
            self.records += self.truth["n_docs"]
            self.builds += 1
            self.next_round = 0
            with self.span("check"):
                self.verify_curated(curated)
        r = self.next_round
        with self.span("op.round"):
            t0 = time.perf_counter()
            surv = self.ingest(r)
            self.round_times.append(time.perf_counter() - t0)
        self.busy += self.round_times[-1]
        self.records += self.params["batch_docs"]
        self.results = []
        for i, q in enumerate(rounds[r]["queries"]):
            with self.span("bm25.probe"):
                t0 = time.perf_counter()
                self.results.append((i, q, self.probe(i, q)))
                self.op_times.append(time.perf_counter() - t0)
            self.busy += self.op_times[-1]
        self.next_round += 1
        with self.span("check"):
            self.verify_round(r, surv)

    # -- checks ------------------------------------------------------------

    def verify_curated(self, path: str) -> None:
        ids = set(pq.read_table(path, columns=["doc_id"]).column("doc_id").to_pylist())
        t = self.truth
        self.check("exact_copies_dropped", not ids & set(t["exact_ids"]))
        self.check("junk_dropped", not ids & set(t["junk_ids"]))
        self.check("base_docs_kept", set(range(t["base_docs"])) <= ids)
        if self.survivors is None:
            self.survivors = len(ids)
        self.check("survivors_repeat", len(ids) == self.survivors,
                   f"{len(ids)} != {self.survivors}")
        self.near_recall = len(set(t["near_ids"]) - ids) / max(1, len(t["near_ids"]))

    def verify_round(self, r, surv) -> None:
        F = self.ctx.F
        want = self.truth["rounds"][r]["accepted"]
        got = sorted(x[0] for x in surv.select("doc_id").collect())
        self.check("incremental.accepted", got == want, f"round {r}")
        fps = self.spark.read.parquet(os.path.join(self.store, "banded"))
        row = fps.agg(F.count("*").alias("n"), F.countDistinct("fp").alias("d")).first()
        exp = self.truth["rounds"][r]["store_fps"]
        self.check("fpstore.rows", row["n"] == exp and row["d"] == exp,
                   f"{row['n']}/{row['d']} != {exp}")

    def finish(self) -> None:
        """The index's contract, on the last round's probes: equal to
        ``bm25_topk`` over the same corpus."""
        with self.span("check"):
            corpus = self.accepted[0]
            for df in self.accepted[1:]:
                corpus = corpus.unionByName(df)
            sample = self.results[:: max(1, len(self.results) // 2)][:2]
            qdf = self.spark.createDataFrame([(i, q) for i, q, _ in sample],
                                             "query_id long, query_text string")
            ref: dict = {}
            for x in self.gs.bm25_topk(corpus, qdf, k=10).collect():
                ref.setdefault(x["query_id"], []).append((x["doc_id"], x["score"], x["rank"]))
            for i, _, rows in sample:
                got = sorted((x["doc_id"], x["score"], x["rank"]) for x in rows)
                self.check("bm25.index_equals_topk", got == sorted(ref.get(i, [])),
                           f"query {i}")
        dirs = {"fpstore": self.store, "bm25": self.index}
        self.store_sizes = {k: dir_bytes(v) for k, v in dirs.items()}

    def layer_probes(self) -> dict:
        """Trace-only counts the timed build cannot expose from outside:
        the filter alone, and LSH candidates against verified pairs."""
        gs = self.gs
        with self.span("text.exec"):
            self.filtered().count()
        with self.span("dedup.yield"):
            docs = gs.dedup_exact(self.filtered()).localCheckpoint(eager=True)
            cand = gs.minhash_lsh_pairs(gs.minhash_signatures(docs), 16, sig_len=64)
            cand = cand.localCheckpoint(eager=True)
            n_cand = cand.count()
            n_ver = gs.ngram_jaccard_pairs(docs, cand, "doc_id", "text", 3, 0.8).count()
        return {
            "dedup.lsh_candidates": n_cand,
            "dedup.verified_pairs": n_ver,
            "dedup.verify_yield": n_ver / n_cand if n_cand else 0.0,
            "dedup.planted_recall": self.near_recall,
        }

    def extra(self, med) -> dict:
        return {
            "curate_s": med(self.curate_times),
            "index_build_s": med(b - c for b, c in zip(self.build_times, self.curate_times)),
            "append_p50_s": med(self.round_times),
            "probe_p50_s": med(self.op_times),
            "probe_p75_s": quantile(self.op_times, 0.75),
        }


def quantile(values: list[float], q: float) -> float:
    import statistics

    if len(values) < 2:
        return values[0] if values else 0.0
    return statistics.quantiles(values, n=100)[int(q * 100) - 1]


WORKLOADS = {w.name: w for w in (EtlSync, CorpusIngest)}
