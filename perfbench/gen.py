"""Seeded input generators for the benchmark workloads.

Each generator writes its inputs under ``root`` and returns a truth
dict (also written to ``root/truth.json``) that the workload checks the
program's outputs against. The same seed always gives the same files.
Only the standard library, plus pyarrow for Parquet files.
"""

from __future__ import annotations

import csv
import datetime as dt
import hashlib
import json
import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

# The package's English stoplist; prose needs some for the quality rules.
STOPWORDS = (
    "the", "a", "an", "and", "or", "of", "to", "in", "is", "it",
    "for", "on", "with", "as", "at", "by", "this", "that",
)
STATUSES = ("new", "paid", "shipped", "returned", "closed")
_EPOCH = dt.date(2024, 1, 1)
_DAYS = [(_EPOCH + dt.timedelta(days=d)).isoformat() for d in range(64)]

# Canonical row text, formatted identically in Python (truth) and in
# Spark ``format_string`` (check), hashed with md5 and summed.
ORDERS_CANON = "%d|%s|%.2f|%s|%d|%s|%d"
CUSTOMERS_CANON = "%d|%s|%.2f|%d|%s"


def canon_hash(text: str) -> int:
    return int(hashlib.md5(text.encode()).hexdigest()[:15], 16)


def _write_json(path: str, obj) -> None:
    with open(path, "w", encoding="utf-8") as f:
        json.dump(obj, f, sort_keys=True)


# ---------------------------------------------------------------- etl_sync


def _catalog() -> dict:
    def s(name, props):
        return {
            "stream": name,
            "tap_stream_id": name,
            "schema": {"type": "object", "properties": props},
            "metadata": [
                {"breadcrumb": [], "metadata": {"table-key-properties": ["id"]}}
            ],
        }

    return {
        "streams": [
            s(
                "orders",
                {
                    "id": {"type": ["integer", "null"]},
                    # declared a plain string: localize_datetime types it
                    "updated_at": {"type": ["string", "null"]},
                    "payload": {
                        "type": ["object", "null"],
                        "properties": {
                            "sku": {"type": ["string", "null"]},
                            "qty": {"type": ["integer", "null"]},
                        },
                    },
                    "amount": {"type": ["number", "null"]},
                    "status": {"type": ["string", "null"]},
                    "score": {"type": ["integer", "null"]},
                },
            ),
            s(
                "customers",
                {
                    "id": {"type": ["integer", "null"]},
                    "name": {"type": ["string", "null"]},
                    "balance": {"type": ["number", "null"]},
                    # stored int32 in Parquet; the catalog widens it
                    "tier": {"type": ["integer", "null"]},
                    "active": {"type": ["boolean", "null"]},
                },
            ),
        ]
    }


def _order(rng: random.Random, key: int, day: int) -> tuple:
    r = rng.random
    return (
        key, day, int(r() * 86400), int(r() * 10**6), 1 + int(r() * 19),
        int(r() * 10**8), STATUSES[int(r() * len(STATUSES))], int(r() * 2000) - 1000,
    )


def _customer(rng: random.Random, key: int) -> tuple:
    r = rng.random
    return (key, f"cust-{int(r() * 10**9):09d}", int(r() * 10**7), 1 + int(r() * 5), r() < 0.7)


def _clock(day: int, secs: int, sep: str) -> str:
    d = _DAYS[day]
    return f"{d}{sep}{secs // 3600:02d}:{secs // 60 % 60:02d}:{secs % 60:02d}"


def _order_canon(r: tuple) -> str:
    key, day, secs, sku, qty, cents, status, score = r
    return ORDERS_CANON % (
        key, _clock(day, secs, " "), cents / 100, f"SKU{sku:06d}", qty, status, score,
    )


def _customer_canon(r: tuple) -> str:
    key, name, cents, tier, active = r
    return CUSTOMERS_CANON % (key, name, cents / 100, tier, "true" if active else "false")


def _write_orders_csv(path: str, rows: list[tuple]) -> None:
    with open(path, "w", encoding="utf-8", newline="") as f:
        w = csv.writer(f)
        w.writerow(["id", "updated_at", "payload", "amount", "status", "score"])
        w.writerows(
            [
                key,
                _clock(day, secs, "T") + "Z",
                f'{{"sku":"SKU{sku:06d}","qty":{qty}}}',
                f"{cents // 100}.{cents % 100:02d}",
                status,
                score,
            ]
            for key, day, secs, sku, qty, cents, status, score in rows
        )


def _write_customers_parquet(path: str, rows: list[tuple]) -> None:
    cols = list(zip(*rows))
    table = pa.table({
        "id": pa.array(cols[0], pa.int64()),
        "name": pa.array(cols[1], pa.string()),
        "balance": pa.array([c / 100 for c in cols[2]], pa.float64()),
        "tier": pa.array(cols[3], pa.int32()),
        "active": pa.array(cols[4], pa.bool_()),
    })
    pq.write_table(table, path)


def _batch_keys(rng, state: dict, n: int, update_share: float, next_key: int):
    """``n`` distinct keys: ``update_share`` of them already present."""
    n_upd = int(n * update_share)
    upd = rng.sample(sorted(state), n_upd)
    new = list(range(next_key, next_key + n - n_upd))
    return upd + new, next_key + n - n_upd


def gen_etl(
    root: str,
    seed: int,
    batch_rows: int,
    customer_rows: int,
    history_mult: int,
    syncs: int,
    update_share: float,
) -> dict:
    """Tap output for ``orders`` (CSV) and ``customers`` (Parquet).

    ``history/`` holds ``history_mult`` batches' worth of rows (the
    pristine snapshot's source); ``sync_NN/`` hold one batch each, with
    ``update_share`` of its keys already present. Truth is the expected
    last-write-wins state (row count, summed canonical-row hash) after
    each sync, per stream.
    """
    rng = random.Random(seed)
    os.makedirs(root, exist_ok=True)
    _write_json(os.path.join(root, "catalog.json"), _catalog())
    streams = {
        "orders": (batch_rows, _order_canon),
        "customers": (customer_rows, _customer_canon),
    }
    truth: dict = {"syncs": syncs, "streams": {}, "dirs": [], "input_bytes": []}
    state = {name: {} for name in streams}
    next_key = {name: 0 for name in streams}
    for k in range(syncs + 1):
        sub = "history" if k == 0 else f"sync_{k:02d}"
        out = os.path.join(root, sub, "sync-output")
        os.makedirs(out, exist_ok=True)
        for name, (n, canon) in streams.items():
            if k == 0:
                n_rows = n * history_mult
                keys = list(range(n_rows))
                next_key[name] = n_rows
            else:
                keys, next_key[name] = _batch_keys(
                    rng, state[name], n, update_share, next_key[name]
                )
            if name == "orders":
                rows = [_order(rng, key, k) for key in keys]
                _write_orders_csv(os.path.join(out, "orders.csv"), rows)
            else:
                rows = [_customer(rng, key) for key in keys]
                _write_customers_parquet(os.path.join(out, "customers.parquet"), rows)
            for r in rows:
                state[name][r[0]] = canon_hash(canon(r))
            st = truth["streams"].setdefault(name, {"count": [], "hash": []})
            st["count"].append(len(state[name]))
            st["hash"].append(str(sum(state[name].values())))
        truth["dirs"].append(out)
        truth["input_bytes"].append(
            sum(os.path.getsize(os.path.join(out, f)) for f in os.listdir(out))
        )
    _write_json(os.path.join(root, "truth.json"), truth)
    return truth


# ------------------------------------------------------------ text corpora


def _vocab(rng: random.Random, n: int) -> list[str]:
    letters = "abcdefghijklmnopqrstuvwxyz"
    words: set[str] = set(STOPWORDS)
    out: list[str] = []
    while len(out) < n:
        w = "".join(rng.choice(letters) for _ in range(rng.randrange(4, 10)))
        if w not in words:
            words.add(w)
            out.append(w)
    return out


class _Prose:
    """Word-soup documents: Zipf-weighted content words mixed with
    stopwords, in sentences, so they pass the quality filters."""

    def __init__(self, rng: random.Random, vocab_size: int) -> None:
        self.rng = rng
        self.vocab = _vocab(rng, vocab_size)
        self.weights = [1.0 / (i + 1) for i in range(vocab_size)]

    def words(self, n: int) -> list[str]:
        content = self.rng.choices(self.vocab, self.weights, k=n)
        return [
            self.rng.choice(STOPWORDS) if self.rng.random() < 0.3 else w
            for w in content
        ]

    def doc(self, n_words: int) -> str:
        return _sentences(self.words(n_words))

    def one_edit(self, text: str) -> str:
        """The same document with one mid-document word replaced."""
        toks = text.split(" ")
        i = len(toks) // 2
        stem = toks[i].rstrip(".")
        repl = self.rng.choice([w for w in self.vocab[:50] if w != stem])
        toks[i] = repl + toks[i][len(stem):]
        return " ".join(toks)


def _sentences(words: list[str]) -> str:
    out = []
    for i, w in enumerate(words):
        out.append(w + "." if i % 12 == 11 or i == len(words) - 1 else w)
    return " ".join(out)


def _write_docs(path: str, docs: list[tuple[int, str]]) -> None:
    pq.write_table(
        pa.table({
            "doc_id": pa.array([d[0] for d in docs], pa.int64()),
            "text": pa.array([d[1] for d in docs], pa.string()),
        }),
        path,
    )


def gen_corpus(
    root: str,
    seed: int,
    base_docs: int,
    exact_share: float,
    near_share: float,
    junk_share: float,
    rounds: int,
    batch_docs: int,
    dup_share: float,
    probes: int,
    words: tuple[int, int],
    vocab_size: int,
) -> dict:
    """A raw base corpus to curate, plus ``rounds`` ingest batches.

    ``base.parquet`` (shuffled on disk) holds ``base_docs`` unique docs
    (ids first, so each is its duplicate group's lowest id), planted
    exact copies and one-edit near copies of them, and short junk docs
    the quality filter drops. Each batch holds new docs and, at
    ``dup_share``, exact copies of docs already in the curated corpus
    and of its own new docs. Truth: the planted id groups, each round's
    accepted ids, the store's fingerprint count after each round, and
    ``probes`` 3-word queries per round drawn from the corpus."""
    rng = random.Random(seed)
    prose = _Prose(rng, vocab_size)
    os.makedirs(root, exist_ok=True)
    corpus = [(i, prose.doc(rng.randrange(*words))) for i in range(base_docs)]
    docs = list(corpus)
    nid = base_docs
    planted: dict[str, list[int]] = {"exact_ids": [], "near_ids": [], "junk_ids": []}
    for i in rng.sample(range(base_docs), int(base_docs * exact_share)):
        docs.append((nid, corpus[i][1]))
        planted["exact_ids"].append(nid)
        nid += 1
    for i in rng.sample(range(base_docs), int(base_docs * near_share)):
        docs.append((nid, prose.one_edit(corpus[i][1])))
        planted["near_ids"].append(nid)
        nid += 1
    for _ in range(int(base_docs * junk_share)):
        docs.append((nid, prose.doc(rng.randrange(8, 30))))
        planted["junk_ids"].append(nid)
        nid += 1
    rng.shuffle(docs)
    _write_docs(os.path.join(root, "base.parquet"), docs)
    seen = {t for _, t in corpus}
    truth: dict = {"n_docs": len(docs), "base_docs": base_docs, "rounds": [], **planted}
    for r in range(rounds):
        batch, accepted = [], []
        n_dup = int(batch_docs * dup_share)
        for _ in range(batch_docs - n_dup):
            batch.append((nid, prose.doc(rng.randrange(*words))))
            accepted.append(nid)
            nid += 1
        for j in range(n_dup):
            # alternate: copy of an older corpus doc / of this batch's own
            src = rng.choice(corpus) if j % 2 == 0 else rng.choice(batch[: len(accepted)])
            batch.append((nid, src[1]))
            nid += 1
        if seen.intersection(t for _, t in batch[: len(accepted)]):
            raise RuntimeError("a generated document repeats an older one")
        corpus.extend(batch[: len(accepted)])
        seen.update(t for _, t in batch[: len(accepted)])
        rng.shuffle(batch)
        _write_docs(os.path.join(root, f"batch_{r:02d}.parquet"), batch)
        queries = []
        for _ in range(probes):
            toks = [w.rstrip(".") for w in rng.choice(corpus)[1].split(" ")]
            content = [w for w in toks if w not in STOPWORDS] or toks
            queries.append(" ".join(rng.sample(content, min(len(content), 3))))
        truth["rounds"].append({
            "accepted": sorted(accepted),
            "queries": queries,
            "store_fps": len(corpus),
        })
    _write_json(os.path.join(root, "truth.json"), truth)
    return truth
